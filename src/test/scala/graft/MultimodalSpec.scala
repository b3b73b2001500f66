package graft

import org.apache.spark.sql.functions.{col, length, lit}

import graft.operators.{MediaRecord, Multimodal, StubDecoder}

/** Multimodal plumbing (SURVEY.md §2.12 X5): schema, typed batch map,
  * deterministic stub features. */
class MultimodalSpec extends SparkSpec {

  test("media table: binary payload with typed metadata, total over docs") {
    val m = Multimodal.mediaTable(spark, sf0001)
    assert(m.count() == Tables.documents(spark, sf0001).count())
    assert(m.schema("content").dataType.typeName == "binary")
    val types = m.select("media_type").distinct().collect().map(_.getString(0))
    assert(types.toSet == Set("image", "audio", "video"))
  }

  test("resize: aspect-preserving fit inside the box, never upscales") {
    val resized = Multimodal.resize(
      Multimodal.mediaDataset(spark, sf0001), maxW = 64, maxH = 64).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      assert(r.width <= 64 && r.height <= 64 && r.width >= 1 && r.height >= 1, r)
      assert(r.width <= r.orig_width && r.height <= r.orig_height, "no upscale")
      // exact contract: one shared scale factor, integer floor, 1-px floor
      val scale = math.min(1.0,
        math.min(64.0 / r.orig_width, 64.0 / r.orig_height))
      assert(r.width == math.max(1, (r.orig_width * scale).toInt), r)
      assert(r.height == math.max(1, (r.orig_height * scale).toInt), r)
      // a payload that already fits is untouched dimension-wise
      if (r.orig_width <= 64 && r.orig_height <= 64)
        assert(r.width == r.orig_width && r.height == r.orig_height)
    }
  }

  test("frame sampling: fixed-size chunks, every-Nth stride, trailing fragment kept") {
    import spark.implicits._
    val one = Seq(MediaRecord(1L, "video", Array.range(0, 25).map(_.toByte), 10, 10))
      .toDS()
    val frames = Multimodal.frameSample(one, frameBytes = 10, everyN = 2)
      .collect().sortBy(_.frame_idx)
    // chunks: [0..9], [10..19], [20..24]; stride 2 keeps idx 0 and 2
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(frames(0).frame.toSeq == (0 until 10).map(_.toByte))
    assert(frames(1).frame.toSeq == (20 until 25).map(_.toByte) && frames(1).n_bytes == 5)
    // corpus-wide: every doc yields ceil(ceil(bytes/10)/2) frames
    val all = Multimodal.frameSample(
      Multimodal.mediaDataset(spark, sf0001), frameBytes = 10, everyN = 2)
    val perDoc = all.groupByKey(_.doc_id).count().collect().toMap
    Multimodal.mediaDataset(spark, sf0001).collect().foreach { m =>
      val nChunks = (m.content.length + 9) / 10
      val expect = (nChunks + 1) / 2
      assert(perDoc(m.doc_id) == expect.toLong, s"doc ${m.doc_id}")
    }
  }

  test("feature extraction: 1:1, deterministic, L1-normalized histograms") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaDataset(spark, sf0001))
      .collect()
    assert(feats.length == Tables.documents(spark, sf0001).count().toInt)
    feats.foreach { f =>
      assert(f.histogram.length == 8)
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9)
      assert(f.n_bytes > 0)
    }
    val again = Multimodal.extractFeatures(Multimodal.mediaDataset(spark, sf0001))
      .collect().map(f => f.doc_id -> f.histogram.toSeq).toMap
    feats.foreach(f => assert(again(f.doc_id) == f.histogram.toSeq))
  }

  test("stub decoder is identity on payload bytes (documented stub contract)") {
    val payload = "hello media".getBytes("UTF-8")
    val rec = MediaRecord(1L, "image", payload, 16, 16)
    assert(StubDecoder.instance.decode(payload).sameElements(payload))
    assert(StubDecoder.instance.features(rec).n_bytes == payload.length)
  }

  test("metadata-only query prunes the binary column from the scan") {
    val plan = Multimodal.mediaTable(spark, sf0001)
      .select("media_type", "width").queryExecution.executedPlan.toString
    assert(!plan.contains("content"), "payload column must not be scanned")
  }

  test("media dedup (q165): CAS digest groups match a driver byte-level recompute") {
    val rows = Multimodal.mediaDedup(spark, sf0001).collect()
    assert(rows.length == 3, "one row per media type")
    val payloads = Multimodal.mediaTable(spark, sf0001)
      .select("media_type", "content").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq)
    rows.foreach { r =>
      val t = r.getAs[String]("media_type")
      val ps = payloads.filter(_._1 == t).map(_._2)
      val groups = ps.groupBy(identity).values.map(_.size.toLong).toSeq
      val sizes = ps.groupBy(identity).toSeq.map { case (p, c) =>
        (c.size.toLong, p.length.toLong) }
      assert(r.getAs[Long]("n_items") == ps.length.toLong)
      assert(r.getAs[Long]("n_distinct") == groups.length.toLong)
      assert(r.getAs[Long]("n_dup_items") == groups.map(_ - 1).sum)
      val dupBytes = sizes.map { case (c, s) => (c - 1) * s }.sum
      val totalBytes = sizes.map { case (c, s) => c * s }.sum
      assert(r.getAs[Long]("dup_bytes") == dupBytes, s"$t dup_bytes")
      assert(r.getAs[Long]("total_bytes") == totalBytes)
      assert(r.getAs[Long]("savings_bp") == dupBytes * 10000 / totalBytes)
    }
    // the duplicate path, pinned on a planted fixture: doc_ids 0/3/6 are
    // the same 'image' payload uploaded three times — a CAS stores one
    import spark.implicits._
    val dir = tempDir("graft_mediadup").toString
    Seq((0L, "same bytes again"), (3L, "same bytes again"),
      (6L, "same bytes again"), (9L, "different image bytes"),
      (1L, "an audio payload"), (2L, "a video payload"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("fix").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fix = Multimodal.mediaDedup(spark, dir).collect()
      .map(r => r.getAs[String]("media_type") -> r).toMap
    val img = fix("image")
    assert(img.getAs[Long]("n_items") == 4L)
    assert(img.getAs[Long]("n_distinct") == 2L)
    assert(img.getAs[Long]("n_dup_items") == 2L)
    assert(img.getAs[Long]("dup_bytes") == 2L * "same bytes again".length)
    assert(fix("audio").getAs[Long]("n_dup_items") == 0L)
  }

  test("byte percentiles (q146): exact rank election per media type") {
    val rows = Multimodal.mediaBytePercentiles(spark, sf0001).collect()
    assert(rows.length == 9, "3 types x 3 percentiles")
    val sizes = Multimodal.mediaTable(spark, sf0001)
      .select("media_type", "content").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).length.toLong)
    val byType = sizes.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val vs = byType(r.getAs[String]("media_type"))
      val p = r.getAs[Long]("pct")
      val need = ((p * vs.length + 99) / 100).toInt
      assert(r.getAs[Long]("n_items") == vs.length.toLong)
      assert(r.getAs[Long]("cutoff_bytes") == vs(need - 1),
        s"${r.getAs[String]("media_type")} p$p")
    }
  }

  test("ahash near-dup (q201): pair accounting matches a driver recompute; banding is complete at hd<=1") {
    import org.apache.spark.sql.functions._
    // driver-side recompute of the full pipeline at sf0.001: hashes,
    // candidate mass, near mass — then assert the operator agrees and
    // that banded candidates contain EVERY hd<=1 pair (pigeonhole)
    val rows = Multimodal.mediaTable(spark, sf0001)
      .select(col("media_type"), sha2(col("content"), 256).as("dg"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    def ah(dg: String): Long = {
      // the 16 bytes of md5(digest string) ARE the cell values
      val cells = java.security.MessageDigest.getInstance("MD5")
        .digest(dg.getBytes("UTF-8")).map(b => (b & 0xff).toLong).toSeq
      val mean = cells.sum >> 4
      cells.zipWithIndex.collect { case (c, i) if c > mean => 1L << i }.sum
    }
    val byType = rows.groupBy(_._1).view
      .mapValues(_.map { case (_, dg) => ah(dg) }).toMap
    val expect = byType.map { case (t, hs) =>
      val groups = hs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val exact = groups.values.map(n => n * (n - 1) / 2).sum
      val keys = groups.keys.toSeq.sorted
      val crossPairs = for {
        i <- keys.indices; j <- (i + 1) until keys.size
        ha = keys(i); hb = keys(j)
        if (ha & 255L) == (hb & 255L) || (ha >> 8) == (hb >> 8)
      } yield (ha, hb)
      val cand = exact + crossPairs.map { case (a, b) => groups(a) * groups(b) }.sum
      val near = exact + crossPairs.collect {
        case (a, b) if java.lang.Long.bitCount(a ^ b) <= 1 =>
          groups(a) * groups(b)
      }.sum
      // completeness: every hd<=1 pair IS band-matched (shared low or
      // high byte) — the pigeonhole guarantee the equi-join relies on
      for {
        i <- keys.indices; j <- (i + 1) until keys.size
        if java.lang.Long.bitCount(keys(i) ^ keys(j)) <= 1
      } assert((keys(i) & 255L) == (keys(j) & 255L) ||
        (keys(i) >> 8) == (keys(j) >> 8))
      t -> (hs.length.toLong, groups.size.toLong, cand, near, exact)
    }
    val got = Multimodal.mediaAhashNearDup(spark, sf0001).collect()
      .map(r => r.getAs[String]("media_type") ->
        (r.getAs[Long]("n_items"), r.getAs[Long]("n_hashes"),
          r.getAs[Long]("cand_pairs"), r.getAs[Long]("near_pairs"),
          r.getAs[Long]("exact_pairs"))).toMap
    assert(got == expect, s"got $got\nexpect $expect")
    assert(expect.values.map(_._3).sum > 0, "fixture must have candidates")
  }
}
