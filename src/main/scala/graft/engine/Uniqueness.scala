package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
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

  /** duplicate rows as violations: every row whose key is duplicated,
    * reported in the reference's violation shape.
    *
    * Count-join shape, skew-proof by construction: [[duplicates]]
    * reduces the fact to the duplicated-key set first — map-side
    * partial aggregation collapses even a billion-row hot key to one
    * partial per map task, so the only full pass over the fact is the
    * join back, and that side never shuffles when AQE broadcasts the
    * (almost always tiny) duplicate-key set. The round-2 window-count
    * alternative shuffled the ENTIRE fact by key and serialized a hot
    * key into a single window partition — the north_rule's named skew
    * case. Null keys survive via the null-safe join condition (`<=>`
    * hashes null like a value; a plain equi-join would drop them).
    * AQE picks the join from the duplicate set's runtime size: a
    * broadcast when it is small, else a shuffle join (skew-split if
    * the duplicate set itself is huge). */
  def violations(df: DataFrame, keyCol: String, thing: String = "data",
                 saltBuckets: Int = 0): DataFrame = {
    val dups = duplicates(df, keyCol, saltBuckets)
      .select(col(keyCol).as("_dup_key"))
    df.join(dups, col(keyCol) <=> col("_dup_key"), "inner")
      .select(
        col(keyCol).cast("string").as("doc_id"),
        lit("." + keyCol).as("path"),
        lit(s"unique `$keyCol`").as("expected"),
        col(keyCol).cast("string").as("got"),
        lit(s"unique($keyCol)").as("contract_repr"),
        concat(lit(s"check on `$thing` failed: Expected unique `$keyCol`, " +
          s"but got duplicate "),
          // a duplicated NULL key must still render a message (concat
          // null-propagates); util.inspect renders null as 'null'
          coalesce(col(keyCol).cast("string"), lit("null"))).as("message"))
  }
}
