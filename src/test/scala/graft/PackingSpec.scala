package graft

import org.apache.spark.sql.functions._

import graft.operators.Packing

/** Sequence packing (q71): sharded greedy context assignment. */
class PackingSpec extends SparkSpec {

  test("context assignment is a consistent running cut: offsets, straddles, coverage") {
    val ctx = 64
    val rows = Packing.packContexts(spark, sf0001, ctxLen = ctx, nShards = 4)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tok = r.getAs[Long]("n_tokens")
      val cum = r.getAs[Long]("cum_tokens")
      val start = r.getAs[Long]("context_id")
      val end = r.getAs[Long]("end_context")
      assert(tok >= 1, "whitespace split never yields zero tokens")
      assert(start == (cum - tok) / ctx && end == (cum - 1) / ctx)
      assert(end >= start)
      // a doc can only straddle as many boundaries as its token count spans
      assert(end - start <= tok / ctx + 1)
    }
    // within each (lang, shard): cum is strictly increasing by n_tokens
    // in doc_id order — the packing order is deterministic
    rows.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard")))
      .foreach { case (_, rs) =>
        val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
        var run = 0L
        sorted.foreach { r =>
          run += r.getAs[Long]("n_tokens")
          assert(r.getAs[Long]("cum_tokens") == run)
        }
      }
  }

  test("packing summary accounting: contexts hold all tokens, fill <= 1") {
    val ctx = 64
    val s = Packing.packingSummary(spark, sf0001, ctxLen = ctx, nShards = 4)
      .collect()
    assert(s.nonEmpty)
    s.foreach { r =>
      val toks = r.getAs[Long]("sum_tokens")
      val nCtx = r.getAs[Long]("n_contexts")
      // allocated contexts must cover the tokens, with less than one
      // context of per-shard tail slack each
      assert(nCtx * ctx >= toks)
      assert((nCtx - 4) * ctx < toks, "more than one tail context per shard")
      val fillBp = r.getAs[Long]("fill_bp")
      assert(fillBp > 0L && fillBp <= 10000L)
      // exact integer basis points of the same ratio
      assert(fillBp == toks * 10000L / (nCtx * ctx))
      assert(r.getAs[Long]("n_straddling") <= r.getAs[Long]("n_docs"))
    }
    // totals match the corpus: every doc packed exactly once
    val total = s.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf0001).count())
  }

  test("packing shuffles once on (lang, shard), no single global partition") {
    val plan = Packing.packContexts(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the window must be partitioned (not the WindowExec global-sort
    // warning shape): partitioning clause present on both columns
    assert(plan.contains("Window"))
    assert(!plan.contains("SinglePartition"),
      "packing must never collapse to one partition")
  }

  test("chunking: windows tile every doc — sizes, bounds, lossless reconstruction") {
    val (c, o) = (32, 8)
    val rows = Packing.chunkDocs(spark, sf0001, chunkLen = c, overlap = o)
      .collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.split(" ", -1).toSeq).toMap
    assert(byDoc.keySet == docs.keySet, "every doc chunks at least once")
    byDoc.foreach { case (id, ch) =>
      val sorted = ch.sortBy(_.getAs[Long]("chunk_id"))
      val n = sorted.head.getAs[Long]("n_tokens")
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq ==
        (0L until sorted.length.toLong).toSeq,
        s"doc $id: chunk ids not contiguous")
      sorted.zipWithIndex.foreach { case (r, i) =>
        val tks = r.getAs[Long]("chunk_tokens")
        val txt = r.getAs[String]("chunk_text")
        assert(r.getAs[Long]("chunk_start") == i.toLong * (c - o))
        // every chunk except the last is exactly chunkLen tokens; the
        // last is the remainder and still longer than the overlap (so
        // reconstruction below is well-defined)
        if (i < sorted.length - 1) assert(tks == c, s"doc $id chunk $i")
        else {
          assert(r.getAs[Long]("chunk_start") + tks == n,
            s"doc $id: last chunk must reach the final token")
          assert(tks > o, s"doc $id: last chunk must exceed the overlap")
        }
        assert(txt.split(" ", -1).length.toLong == tks,
          s"doc $id chunk $i: text token count != chunk_tokens")
      }
      // lossless: chunk 0 ++ (later chunks minus their overlap prefix)
      // re-spells the doc's token stream exactly
      val rebuilt = sorted.head.getAs[String]("chunk_text").split(" ", -1).toSeq ++
        sorted.tail.flatMap(_.getAs[String]("chunk_text")
          .split(" ", -1).drop(o).toSeq)
      assert(rebuilt == docs(id), s"doc $id: reconstruction diverged")
      // multi-chunk iff the doc exceeds one window
      assert((sorted.length > 1) == (n > c))
    }
  }

  test("chunking is shuffle-free: narrow projection + bounded explode only") {
    val plan = Packing.chunkDocs(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "chunking must stay embarrassingly parallel — no shuffle")
    assert(plan.contains("Generate"), "expected the explode fan-out")
  }

  test("chunk summary accounting ties back to chunk rows") {
    val (c, o) = (32, 8)
    val s = Packing.chunkSummary(spark, sf0001, chunkLen = c, overlap = o)
      .collect()
    val rows = Packing.chunkDocs(spark, sf0001, chunkLen = c, overlap = o)
      .collect()
    assert(s.nonEmpty)
    s.foreach { r =>
      val lang = r.getAs[String]("lang")
      val mine = rows.filter(_.getAs[String]("lang") == lang)
      assert(r.getAs[Long]("n_chunks") == mine.length.toLong)
      assert(r.getAs[Long]("n_docs") ==
        mine.map(_.getAs[Long]("doc_id")).distinct.length.toLong)
      assert(r.getAs[Long]("sum_chunk_tokens") ==
        mine.map(_.getAs[Long]("chunk_tokens")).sum)
      // overlap overhead = duplicated tokens = (chunks - docs) * overlap
      // until the accounting changes; derive it independently instead of
      // trusting the operator's subtraction
      val docTokens = mine.filter(_.getAs[Long]("chunk_id") == 0L)
        .map(_.getAs[Long]("n_tokens")).sum
      assert(r.getAs[Long]("overlap_tokens") ==
        mine.map(_.getAs[Long]("chunk_tokens")).sum - docTokens)
      assert(r.getAs[Long]("overlap_tokens") ==
        (r.getAs[Long]("n_chunks") - r.getAs[Long]("n_docs")) * o)
    }
  }

  test("context frontier matches a driver-side recomputation and is monotone") {
    import org.apache.spark.sql.functions._
    val lens = Tables.documents(spark, sf0001)
      .select(size(graft.functions.TextHash.tokens(col("text"))).cast("long"))
      .collect().map(_.getLong(0))
    val rows = graft.operators.Packing.contextFrontier(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("ctx_len")).toSeq ==
      graft.operators.Packing.FrontierBuckets.map(_.toLong))
    rows.foreach { r =>
      val b = r.getAs[Long]("ctx_len")
      val nSeqs = lens.map(l => (l + b - 1) / b).sum
      assert(r.getAs[Long]("n_docs") == lens.length.toLong)
      assert(r.getAs[Long]("sum_tokens") == lens.sum)
      assert(r.getAs[Long]("n_seqs") == nSeqs)
      assert(r.getAs[Long]("n_chunked") == lens.count(_ > b).toLong)
      assert(r.getAs[Long]("fill_bp") == lens.sum * 10000L / (nSeqs * b))
      assert(r.getAs[Long]("fill_bp") <= 10000L)
    }
    // more sequences at smaller contexts: the frontier is monotone in B
    val seqs = rows.map(_.getAs[Long]("n_seqs"))
    assert(seqs.sameElements(seqs.sorted.reverse))
  }

  test("bucketed batching (q98) matches a driver-side batcher exactly") {
    val buckets = Packing.BatchBuckets
    val per = 16
    val nShards = 8
    val maxCap = buckets.last.toLong
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(graft.functions.TextHash.tokens(col("text"))).cast("long").as("len"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // reference batcher: bucket = smallest cap that fits, shard = doc_id
    // mod nShards, batches of `per` docs in doc_id order, pad to batch max
    case class Agg(docs: Long, batches: Long, sum: Long, padded: Long)
    val expect = docs
      .map { case (id, len) =>
        val cap = buckets.find(len <= _).map(_.toLong).getOrElse(maxCap)
        (cap, id % nShards, id, math.min(len, maxCap))
      }
      .groupBy { case (cap, shard, _, _) => (cap, shard) }
      .toSeq.flatMap { case ((cap, _), rs) =>
        rs.sortBy(_._3).map(_._4).grouped(per).map { batch =>
          (cap, Agg(batch.length.toLong, 1L, batch.sum,
            batch.length.toLong * batch.max))
        }
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).reduce((a, b) =>
        Agg(a.docs + b.docs, a.batches + b.batches, a.sum + b.sum,
          a.padded + b.padded))).toMap
    val rows = Packing.batchingSummary(spark, sf0001,
      docsPerBatch = per, nShards = nShards).collect()
    assert(rows.map(_.getAs[Long]("bucket_cap")).toSet == expect.keySet)
    rows.foreach { r =>
      val e = expect(r.getAs[Long]("bucket_cap"))
      assert(r.getAs[Long]("n_docs") == e.docs)
      assert(r.getAs[Long]("n_batches") == e.batches)
      assert(r.getAs[Long]("sum_tokens") == e.sum)
      assert(r.getAs[Long]("padded_tokens") == e.padded)
      assert(r.getAs[Long]("waste_bp") ==
        (e.padded - e.sum) * 10000L / e.padded)
      // padding can never exceed the bucket-cap worst case
      assert(r.getAs[Long]("padded_tokens") >= e.sum)
      assert(r.getAs[Long]("waste_bp") >= 0L && r.getAs[Long]("waste_bp") < 10000L)
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
  }

  test("packing election (q198): fold pairing, odd middle, split pairs, corpus ordering") {
    import spark.implicits._
    def mk(lens: Seq[Int]): String = {
      val dir = tempDir("graft_pack_elect").toString
      lens.zipWithIndex
        .map { case (l, i) =>
          ((i + 1).toLong, Seq.fill(l)("w").mkString(" "), "en", "s", l.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    def byRegime(dir: String, buckets: Seq[Int]) =
      Packing.packingElection(spark, dir, buckets = buckets,
        docsPerBatch = 2, nShards = 1).collect()
        .map(r => r.getAs[String]("regime") ->
          (r.getAs[Long]("n_seqs"), r.getAs[Long]("n_bins"),
            r.getAs[Long]("real_tokens"), r.getAs[Long]("cost_tokens"),
            r.getAs[Long]("waste_bp"))).toMap
    // lengths 5,4,3,2 at cap 8: fold pairs (5,2) and (4,3) both fit
    val even = byRegime(mk(Seq(5, 4, 3, 2)), Seq(4, 8))
    assert(even("a_naive_padded") == ((4L, 4L, 14L, 32L, 5625L)))
    assert(even("c_fold_packed") == ((4L, 2L, 14L, 16L, 1250L)))
    // bucketed: cap-4 bucket batches (4,3)->pad 8 and (2)->pad 2;
    // cap-8 bucket (5)->pad 5: bins 3, cost 15
    assert(even("b_bucket_padded") == ((4L, 3L, 14L, 15L, 666L)))
    // odd corpus: (5,3) pair fits, the middle 4 packs alone
    val odd = byRegime(mk(Seq(5, 4, 3)), Seq(4, 8))
    assert(odd("c_fold_packed") == ((3L, 2L, 12L, 16L, 2500L)))
    // two cap-length docs cannot share a bin: the split doubles bins
    val split = byRegime(mk(Seq(8, 8)), Seq(4, 8))
    assert(split("c_fold_packed") == ((2L, 2L, 16L, 16L, 0L)))
    // the real corpus elects packing: monotone waste across regimes
    val sf = Packing.packingElection(spark, sf0001).collect()
      .map(r => r.getAs[String]("regime") -> r.getAs[Long]("waste_bp")).toMap
    assert(sf("c_fold_packed") <= sf("b_bucket_padded") &&
      sf("b_bucket_padded") <= sf("a_naive_padded"),
      s"regime election inverted: $sf")
  }
}
