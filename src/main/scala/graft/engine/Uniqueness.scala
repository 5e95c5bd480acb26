package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Uniqueness / duplicate-key detection (the `doc_id` uniqueness check of
  * BASELINE.json `north_rule`; no analog in the reference — SURVEY.md
  * §2.9 "distinct / uniqueness").
  *
  * Skew-explicit two-phase aggregation: phase 1 partially counts on
  * (key, salt) so a hot key (e.g. a crawler emitting one doc_id a billion
  * times) spreads over `saltBuckets` reducers; phase 2 merges the partial
  * counts per key. For uniform keys Catalyst's map-side partial agg makes
  * phase 1 nearly free; for skewed keys it bounds the largest reduce
  * partition by n_hot/saltBuckets. AQE skew handling covers joins but NOT
  * groupBy skew, hence the explicit salt (SURVEY.md §4.2).
  *
  * Violation rows are rendered from that aggregate and repeated per
  * copy ([[violations]]); the fact is never joined back.
  */
object Uniqueness {

  /** keys occurring more than once, with their multiplicity.
    *
    * `saltBuckets <= 1` (default): single hash-agg — Spark's map-side
    * partial aggregation already collapses a hot key to one partial row
    * per map task, so plain count-dedup is skew-safe AND one shuffle.
    * `saltBuckets > 1`: explicit two-phase salt, for aggregations whose
    * partial state is large (e.g. collecting duplicate row ids) where a
    * hot key would blow a single reducer. */
  def duplicates(df: DataFrame, keyCol: String,
                 saltBuckets: Int = 0): DataFrame = {
    val counts =
      if (saltBuckets <= 1)
        df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_dups"))
      else df
        .groupBy(col(keyCol), pmod(xxhash64(spark_partition_id(),
          monotonically_increasing_id()), lit(saltBuckets)).as("_salt"))
        .agg(count(lit(1)).as("_partial"))
        .groupBy(col(keyCol))
        .agg(sum(col("_partial")).as("n_dups"))
    counts.where(col("n_dups") > 1)
  }

  /** most rows one generator array holds, or one generated explode
    * buffers, when a duplicated key's row is repeated */
  private val Chunk = 4096L

  /** duplicate rows as violations: every row whose key is duplicated,
    * reported in the reference's violation shape.
    *
    * Aggregate-then-repeat: every column of a uniqueness row is a
    * function of the key alone, so the rows come from [[duplicates]]
    * without touching the fact again. Its map-side partials collapse
    * even a billion-row hot key to one partial per map task, so the
    * aggregate is the only pass over the fact. Each duplicated key's
    * row is rendered once, then repeated `n_dups` times by explodes in
    * runs of at most `Chunk²`, then `Chunk`, then one row per copy, so
    * no array holds more than `Chunk` elements below `Chunk³` copies of
    * a key. A null key groups like a value, so a duplicated NULL key
    * still yields its rows.
    *
    * The local sort of the runs is where the generated stage yields:
    * Spark's generated explode buffers every row it makes from one
    * input row, so explodes fused straight onto the aggregate would
    * buffer all of a hot key's copies at once. After the sort the last
    * explode buffers one run.
    *
    * Joining the duplicate-key set back onto the fact instead costs a
    * second scan of the key column, a broadcast job and, when the
    * planner sizes the duplicate set as the whole key column, a shuffle
    * of it before AQE switches to the broadcast. The trade: a hot key's
    * copies come out of the one task that owns its aggregate row, not
    * out of the fact's scan tasks. */
  def violations(df: DataFrame, keyCol: String, thing: String = "data",
                 saltBuckets: Int = 0): DataFrame = {
    val key = col(keyCol)
    val rendered = duplicates(df, keyCol, saltBuckets)
      .select(
        key.cast("string").as("doc_id"),
        lit("." + keyCol).as("path"),
        lit(s"unique `$keyCol`").as("expected"),
        key.cast("string").as("got"),
        lit(s"unique($keyCol)").as("contract_repr"),
        concat(lit(s"check on `$thing` failed: Expected unique `$keyCol`, " +
          s"but got duplicate "),
          // a duplicated NULL key must still render a message (concat
          // null-propagates); util.inspect renders null as 'null'
          coalesce(key.cast("string"), lit("null"))).as("message"),
        col("n_dups").as("_left"))
    // `_left` copies split into runs: `_at` is a run's offset
    Seq(Chunk * Chunk, Chunk)
      .foldLeft(rendered) { (d, run) => d
        .withColumn("_at", explode(sequence(lit(0L), col("_left") - 1,
          lit(run))))
        .withColumn("_left", least(col("_left") - col("_at"), lit(run)))
      }
      .sortWithinPartitions("_at")
      .withColumn("_at", explode(sequence(lit(1L), col("_left"))))
      .drop("_left", "_at")
  }
}
