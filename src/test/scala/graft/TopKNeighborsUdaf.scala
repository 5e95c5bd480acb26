package graft

import graft.functions.BoundedTopK
import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.functions.udaf

/** One scored candidate neighbor. `cosine` is Option so a null score
  * (null input vector upstream) keeps the window semantics it replaces:
  * `desc_nulls_last` — nulls rank after every number including NaN. */
case class ScoredNeighbor(cosine: Option[Double], neighbor: Long)

/** The `udaf(Aggregator)` form of [[graft.functions.TopKNeighbors.topk]]
  * — the structurally independent semantics twin of the native
  * [[graft.functions.TopKNeighborsAgg]] that PipelineSpec pins it
  * against, over the total order documented on `TopKNeighbors`. */
class TopKNeighborsUdaf(k: Int) extends BoundedTopK[ScoredNeighbor](k) {

  /** < 0 iff `a` outranks `b` under (score desc nulls-last,
    * neighbor asc). Signed zero is normalized (+0.0) INSIDE the
    * comparison only — Spark's sort keys collapse −0.0/0.0 but the
    * window still EMITS the original value, so the buffer must keep
    * the raw score and only compare the normalized one. */
  override protected def cmp(a: ScoredNeighbor, b: ScoredNeighbor)
      : Int =
    (a.cosine, b.cosine) match {
      case (Some(x), Some(y)) =>
        val c = java.lang.Double.compare(y + 0.0, x + 0.0)
        if (c != 0) c else java.lang.Long.compare(a.neighbor, b.neighbor)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case (None, None) =>
        java.lang.Long.compare(a.neighbor, b.neighbor)
    }

  override def bufferEncoder: Encoder[Seq[ScoredNeighbor]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
      Seq[ScoredNeighbor]]()
  override def outputEncoder: Encoder[Seq[ScoredNeighbor]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
      Seq[ScoredNeighbor]]()
}

object TopKNeighborsUdaf {
  def topk(k: Int)(cosine: Column, neighbor: Column): Column =
    udaf(new TopKNeighborsUdaf(k)).apply(cosine, neighbor)
}
