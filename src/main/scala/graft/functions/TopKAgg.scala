package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** The shared bounded-heap buffer ops all three top-k Aggregators
  * (TopKHits, TopKTerms, MinKDocs) delegate to — ONE implementation of
  * the k-capped sorted-insert and the k+k merge, parameterized by each
  * aggregator's `beats` total order. A fix to the heap applies to every
  * aggregator at once instead of drifting across three copies. */
private[functions] object BoundedHeap {

  /** Insert one element into a sorted (best-first) buffer, capped at k.
    * O(k) per row with k ~ 10-50 — cheaper than heap bookkeeping. */
  def insert[T](buf: Seq[T], h: T, k: Int, beats: (T, T) => Boolean): Seq[T] = {
    if (buf.length == k && !beats(h, buf.last)) return buf
    val (front, back) = buf.span(beats(_, h))
    (front :+ h) ++ back take k
  }

  /** k+k merge of two already-sorted buffers. */
  def merge[T](a: Seq[T], b: Seq[T], k: Int,
               beats: (T, T) => Boolean): Seq[T] = {
    val out = Vector.newBuilder[T]
    var i = 0
    var j = 0
    var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && beats(a(i), b(j)))
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }
}

/** One scored candidate for top-k ranking: ordered by cosine DESC with
  * vec_id ASC tie-break — the exact total order the window-rank
  * formulation (`row_number() OVER (ORDER BY cosine DESC, vec_id)`) uses,
  * so the two plans are row-identical.
  */
case class ScoredHit(cosine: Double, vec_id: Long)

/** Bounded-heap top-k typed aggregate (SURVEY.md §2.12 X3 scale path).
  *
  * Replaces `row_number() OVER (PARTITION BY query_id ORDER BY …)` for the
  * similarity top-k queries. The window form shuffles EVERY scored
  * candidate into one partition per query_id and sorts a corpus-sized list
  * in a single task — a straggler/OOM at 100 TB. This Aggregator is an
  * ImperativeAggregate with partial aggregation: each map task folds its
  * candidates into a k-element sorted buffer (`reduce`), the shuffle moves
  * only ~numPartitions × k rows per query, and `merge` is a k+k merge.
  * No task ever holds more than k rows per group; no full sort exists in
  * the plan.
  *
  * `finish` emits the buffer in rank order, so `posexplode` downstream
  * yields rank = pos + 1 identical to the window formulation (strict total
  * order: cosine is pre-rounded and vec_id is unique).
  */
/** One term-frequency candidate: ordered by count DESC, term ASC — the
  * total order `row_number() OVER (ORDER BY cnt DESC, term)` uses. Terms
  * are lowercase ASCII, so Scala's UTF-16 compare and DuckDB's binary
  * collation agree. */
case class TermHit(cnt: Long, term: String)

/** Bounded-heap top-k for (count, term) groups — same two-phase scale
  * shape as [[TopKHits]] (see that scaladoc): per-partition k-element
  * buffers, shuffle ~partitions×k rows, k+k merges. Used where the group
  * count (e.g. per-language vocabulary) is unbounded in the corpus size,
  * which makes the window-rank formulation a single-task sort. */
class TopKTerms(k: Int) extends Aggregator[TermHit, Seq[TermHit], Seq[TermHit]] {
  require(k > 0, s"TopKTerms: k must be positive, got $k")

  private def beats(a: TermHit, b: TermHit): Boolean =
    a.cnt > b.cnt || (a.cnt == b.cnt && a.term < b.term)

  override def zero: Seq[TermHit] = Vector.empty

  override def reduce(buf: Seq[TermHit], h: TermHit): Seq[TermHit] =
    BoundedHeap.insert(buf, h, k, beats)

  override def merge(a: Seq[TermHit], b: Seq[TermHit]): Seq[TermHit] =
    BoundedHeap.merge(a, b, k, beats)

  override def finish(r: Seq[TermHit]): Seq[TermHit] = r

  override def bufferEncoder: Encoder[Seq[TermHit]] =
    ExpressionEncoder[Seq[TermHit]]()
  override def outputEncoder: Encoder[Seq[TermHit]] =
    ExpressionEncoder[Seq[TermHit]]()
}

class TopKHits(k: Int) extends Aggregator[ScoredHit, Seq[ScoredHit], Seq[ScoredHit]] {
  require(k > 0, s"TopKHits: k must be positive, got $k")

  private def beats(a: ScoredHit, b: ScoredHit): Boolean =
    a.cosine > b.cosine || (a.cosine == b.cosine && a.vec_id < b.vec_id)

  override def zero: Seq[ScoredHit] = Vector.empty

  override def reduce(buf: Seq[ScoredHit], h: ScoredHit): Seq[ScoredHit] =
    BoundedHeap.insert(buf, h, k, beats)

  override def merge(a: Seq[ScoredHit], b: Seq[ScoredHit]): Seq[ScoredHit] =
    BoundedHeap.merge(a, b, k, beats)

  override def finish(r: Seq[ScoredHit]): Seq[ScoredHit] = r

  override def bufferEncoder: Encoder[Seq[ScoredHit]] =
    ExpressionEncoder[Seq[ScoredHit]]()
  override def outputEncoder: Encoder[Seq[ScoredHit]] =
    ExpressionEncoder[Seq[ScoredHit]]()
}

/** One sample candidate: ordered by (h ASC, doc_id ASC) — the total order
  * `row_number() OVER (ORDER BY h, doc_id)` uses, all-integer so the
  * cross-engine order is exact (no double precision loss on 60-bit
  * hashes, which is why ScoredHit's double score cannot be reused). */
case class DocKey(h: Long, doc_id: Long)

/** Bounded-heap SMALLEST-k for (hash, doc_id) pairs — the deterministic
  * per-stratum exact-k sampler's scale path (q75). Same two-phase shape
  * as [[TopKHits]]: the window-rank form would sort each stratum in one
  * task (a whole language of a 100 TB corpus); this shuffles only
  * ~partitions × k rows per stratum. */
class MinKDocs(k: Int) extends Aggregator[DocKey, Seq[DocKey], Seq[DocKey]] {
  require(k > 0, s"MinKDocs: k must be positive, got $k")

  private def beats(a: DocKey, b: DocKey): Boolean =
    a.h < b.h || (a.h == b.h && a.doc_id < b.doc_id)

  override def zero: Seq[DocKey] = Vector.empty

  override def reduce(buf: Seq[DocKey], d: DocKey): Seq[DocKey] =
    BoundedHeap.insert(buf, d, k, beats)

  override def merge(a: Seq[DocKey], b: Seq[DocKey]): Seq[DocKey] =
    BoundedHeap.merge(a, b, k, beats)

  override def finish(r: Seq[DocKey]): Seq[DocKey] = r

  override def bufferEncoder: Encoder[Seq[DocKey]] =
    ExpressionEncoder[Seq[DocKey]]()
  override def outputEncoder: Encoder[Seq[DocKey]] =
    ExpressionEncoder[Seq[DocKey]]()
}
