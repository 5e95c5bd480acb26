package graft.functions

import org.apache.spark.sql.Column

/** Bounded top-k by (score desc, neighbor asc) — the shuffle-shrinking
  * replacement for `row_number().over(partitionBy(id).orderBy(desc))`
  * on the ANN candidate sets.
  *
  * Why: a rank window must shuffle EVERY candidate row to the query's
  * reducer and sort there — at the IVF/LSH defaults that is
  * ~nProbe·n/nCentroids (hundreds to thousands) rows per query id.
  * The aggregate runs with map-side partial aggregation: each map task
  * keeps at most k rows per query id in a sorted bound buffer, so the
  * exchange carries ≤ k rows per (id, map task) instead of the whole
  * candidate set — the same ~k/bucketSize reduction the sketch
  * aggregations in [[graft.engine.Drift]] get, applied to ranking.
  *
  * Total order replicated EXACTLY from the window it replaces
  * (`orderBy(col(score).desc, col(neighbor).asc)`):
  *   - scores descend via `java.lang.Double.compare` with −0.0
  *     normalized to 0.0 inside the comparison (values emit raw) —
  *     Spark's sort also treats NaN as the greatest double and
  *     collapses signed zero in keys while emitting original values;
  *   - null scores rank last (`desc` defaults to nulls-last);
  *   - ties break by neighbor id ascending.
  * So for any candidate multiset the k survivors and their order are
  * identical to the window's, and the DuckDB `row_number()` oracle
  * replays unchanged.
  */
object TopKNeighbors {
  /** `topk(k)(cosine, neighbor)` → `array<struct<cosine, neighbor>>`
    * column holding the k best candidates in rank order. Neighbor ids
    * must be integral (buffered as Long).
    *
    * Runs as the native [[TopKNeighborsAgg]] (primitive buffer, no
    * per-row encoder allocation — the ANN candidate streams are
    * 10⁷-10⁸ rows at the replica scales). Its structurally independent
    * semantics twin, the `udaf(Aggregator)` form, lives with the tests
    * (native ≡ udaf ≡ window pinned in PipelineSpec/PropertySpec). */
  def topk(k: Int)(cosine: Column, neighbor: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(TopKNeighborsAgg(expression(cosine.cast("double")),
      expression(neighbor.cast("bigint")), k).toAggregateExpression())
  }
}
