package graft.query

import graft.core.Kernel
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded-heap top-k as a typed `Aggregator` — the reference's
  * `MinPointerHeap` (A5, `query_processing.h:520-562,914-932`) expressed in
  * Spark's partial/final aggregation shape: each partition folds its rows
  * into the kernel's k-bounded heap ([[Kernel.TopK]], `reduce`), heaps
  * merge pairwise (`merge`), and `finish` emits (score desc, docId asc) —
  * the engine-wide deterministic tie rule (SURVEY.md §8.4).
  *
  * Spark's `TakeOrderedAndProject` (used by the main query path) is the
  * built-in equivalent; this Aggregator is the composable form — usable per
  * group (`groupBy(queryId).agg(topK.toColumn)`) where a global
  * ORDER BY/LIMIT cannot express per-key top-k without a window sort.
  */
class TopKAggregator(k: Int)
    extends Aggregator[(Int, Double), Kernel.TopK, Array[(Int, Double)]] {

  override def zero: Kernel.TopK = new Kernel.TopK(k)

  override def reduce(b: Kernel.TopK, a: (Int, Double)): Kernel.TopK = { b.offer(a._1, a._2); b }

  override def merge(b1: Kernel.TopK, b2: Kernel.TopK): Kernel.TopK = b1.merge(b2)

  override def finish(b: Kernel.TopK): Array[(Int, Double)] = {
    val (docs, scores) = b.sorted
    docs.zip(scores)
  }

  override def bufferEncoder: Encoder[Kernel.TopK] = Encoders.kryo[Kernel.TopK]
  override def outputEncoder: Encoder[Array[(Int, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}
