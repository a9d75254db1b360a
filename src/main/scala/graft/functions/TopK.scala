package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** A scored candidate entering the top-k heap. */
case class ScoredId(score: Double, id: Long)

private[functions] case class TopBuf(items: Seq[ScoredId])

/** Bounded top-k aggregate: keeps the k best (score desc, id asc)
  * rows per group with map-side partial aggregation.
  *
  * This is the 100 TB shape for FAISS-style search
  * (core/utils.py:221): a window `row_number` over (query, cosine)
  * shuffles EVERY candidate row to the query's partition before
  * ranking; this aggregator reduces each map partition to ≤ k rows
  * first, so the shuffle carries k·queries rows regardless of corpus
  * size. Deterministic: total order (score desc, id asc), ties
  * impossible (ids unique).
  */
class TopKAgg(k: Int) extends Aggregator[ScoredId, TopBuf, Seq[ScoredId]] {

  private def trim(items: Seq[ScoredId]): Seq[ScoredId] = TopK.best(k, items)

  override def zero: TopBuf = TopBuf(Vector.empty)

  override def reduce(b: TopBuf, a: ScoredId): TopBuf =
    // admit only candidates that beat the current k-th element
    if (b.items.length < k || TopK.better(a, b.items.last)) TopBuf(trim(b.items :+ a))
    else b

  override def merge(b1: TopBuf, b2: TopBuf): TopBuf =
    TopBuf(trim(b1.items ++ b2.items))

  override def finish(b: TopBuf): Seq[ScoredId] = trim(b.items)

  override def bufferEncoder: Encoder[TopBuf] = ExpressionEncoder[TopBuf]()

  override def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder[Seq[ScoredId]]()
}

/** A candidate with a secondary tie-break score (e.g. rating). */
case class Scored2Id(score: Double, score2: Double, id: Long)

private[functions] case class Top2Buf(items: Seq[Scored2Id])

/** TopKAgg with a secondary sort key: keeps the k best rows per group
  * by (score desc, score2 desc, id asc) with map-side partial
  * aggregation — same 100 TB shape as [[TopKAgg]] (the shuffle
  * carries ≤ k rows per group and map partition), for rankings whose
  * tie-break is a second score (keyword search ranks by score then
  * rating, core/supabase_utils.py:304).
  */
class TopK2Agg(k: Int) extends Aggregator[Scored2Id, Top2Buf, Seq[Scored2Id]] {

  private def better(a: Scored2Id, b: Scored2Id): Boolean =
    a.score > b.score ||
      (a.score == b.score &&
        (a.score2 > b.score2 || (a.score2 == b.score2 && a.id < b.id)))

  private def trim(items: Seq[Scored2Id]): Seq[Scored2Id] =
    items.sortWith(better).take(k)

  override def zero: Top2Buf = Top2Buf(Vector.empty)

  override def reduce(b: Top2Buf, a: Scored2Id): Top2Buf =
    if (b.items.length < k || better(a, b.items.last)) Top2Buf(trim(b.items :+ a))
    else b

  override def merge(b1: Top2Buf, b2: Top2Buf): Top2Buf =
    Top2Buf(trim(b1.items ++ b2.items))

  override def finish(b: Top2Buf): Seq[Scored2Id] = trim(b.items)

  override def bufferEncoder: Encoder[Top2Buf] = ExpressionEncoder[Top2Buf]()

  override def outputEncoder: Encoder[Seq[Scored2Id]] = ExpressionEncoder[Seq[Scored2Id]]()
}

object TopK {
  /** THE top-k order of [[ScoredId]]s: score desc, then id asc. Shared
    * by [[TopKAgg]] and the partition-local [[perGroup]], so a
    * shuffled and a driver-merged top-k rank the same rows alike.
    */
  def better(a: ScoredId, b: ScoredId): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  /** The k best of `items`, best first. */
  def best(k: Int, items: Seq[ScoredId]): Seq[ScoredId] =
    items.sortWith(better).take(k)

  /** The k best candidates of each group in one pass over `rows`, best
    * first, groups in first-seen order: a bounded heap per group, so a
    * partition holds at most k candidates per group however many rows
    * it scans. The partial a driver merges with [[best]].
    */
  def perGroup[G](k: Int, rows: Iterator[(G, ScoredId)]): Iterator[(G, Seq[ScoredId])] = {
    // max-heap under "worse is larger": the head is the group's k-th best
    val worstFirst = Ordering.fromLessThan(better)
    val heaps = scala.collection.mutable.LinkedHashMap[G, scala.collection.mutable.PriorityQueue[ScoredId]]()
    rows.foreach { case (g, s) =>
      val h = heaps.getOrElseUpdate(g, scala.collection.mutable.PriorityQueue.empty(worstFirst))
      if (h.size < k) h.enqueue(s)
      else if (better(s, h.head)) { h.dequeue(); h.enqueue(s) }
    }
    heaps.iterator.map { case (g, h) => g -> best(k, h.toSeq) }
  }

  /** `top_k(score, id)` aggregate Column, k best per group. */
  def topK(k: Int)(score: Column, id: Column): Column =
    udaf(new TopKAgg(k)).apply(score, id)

  /** `top_k(score, score2, id)` with a secondary tie-break score. */
  def topK2(k: Int)(score: Column, score2: Column, id: Column): Column =
    udaf(new TopK2Agg(k)).apply(score, score2, id)
}
