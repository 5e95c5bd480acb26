package graft.engine

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-column statistics profile (the column-stats pass of BASELINE.json
  * `north_rule`: null-rate, distinct count, min/max; no reference analog
  * — SURVEY.md §2.9 "aggregation").
  *
  * Single scan: every metric for every profiled column is one aggregate
  * expression in ONE `agg` call, so Catalyst fuses them into a single
  * partial+final hash aggregation over one pass of the data; the long
  * (row-per-column) shape is produced by exploding an array of structs
  * AFTER aggregation (driver-sized data, zero extra scans).
  *
  * `exact = false` (the 100 TB default) uses HyperLogLog++
  * (`approx_count_distinct`, rsd 0.05) — constant memory, one pass.
  * `exact = true` is the small-scale audit mode (SURVEY.md §5.2 #4): each
  * exact distinct adds an Expand branch, multiplying scanned rows — fine
  * for audits, wrong at scale.
  */
object Stats {

  // the fused one-scan metric set, shared by the global and per-segment
  // profiles so they cannot diverge (the per-segment rows are asserted
  // equal to filtered global profiles in EngineSpec's profileBy law)
  private def profileAggs(cols: Seq[String],
                          exact: Boolean): Seq[org.apache.spark.sql.Column] =
    Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"${c}__ndv"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }

  private def profileEntries(cols: Seq[String])
      : Seq[org.apache.spark.sql.Column] =
    cols.map { c =>
      struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"${c}__nn")).as("n_null"),
        col(s"${c}__ndv").as("ndv"),
        col(s"${c}__min").as("min_s"),
        col(s"${c}__max").as("max_s"))
    }

  def profile(df: DataFrame, cols: Seq[String],
              exact: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile requires at least one column")
    val aggs = profileAggs(cols, exact)
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(profileEntries(cols): _*)).as("s"))
      .select("s.*")
  }

  /** [[profile]] segmented by a grouping column — per-segment column
    * stats (per language, per source, per partition key…) in ONE
    * grouped aggregation: same fused metric set, one scan, map-side
    * partials per group; the row-per-(group, column) long shape is
    * exploded AFTER aggregation (output is |groups| × |cols| —
    * driver-small for profile-grade group counts). */
  def profileBy(df: DataFrame, groupCol: String, cols: Seq[String],
                exact: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profileBy requires at least one column")
    val aggs = profileAggs(cols, exact)
    df.groupBy(col(groupCol).as("group"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("group"),
        explode(array(profileEntries(cols): _*)).as("s"))
      .select(col("group"), col("s.*"))
  }

  /** Snapshot-over-snapshot PROFILE drift — the anomaly gate a
    * validation engine runs between pipeline runs (the null-rate /
    * cardinality sibling of [[Drift]]'s distribution checks): per
    * column, the absolute change in null rate and the relative change
    * in distinct count, each against a threshold. ONE scan per side
    * (the [[profile]] single-aggregation shape); the verdicts are pure
    * functions of the two profiles, so exact mode replays bit-for-bit
    * in SQL.
    *
    * null-rate delta is ABSOLUTE (rates live in [0,1] — a 0→0.3 jump
    * matters the same at any baseline); ndv delta is RELATIVE
    * (|cur−base| / max(base,1) — cardinality is scale-dependent). An
    * EMPTY side yields NaN rates and fails the column (`pass` false):
    * zero rows can't evidence "no drift", same stance as
    * [[Drift.checkExact]]. */
  def profileDrift(base: DataFrame, cur: DataFrame, cols: Seq[String],
                   maxNullRateDelta: Double = 0.05,
                   maxNdvRatioDelta: Double = 0.5,
                   exact: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profileDrift requires at least one column")
    def side(df: DataFrame, sfx: String) =
      profile(df, cols, exact).select(col("column"),
        // explicit NaN on an empty side (ANSI mode would throw on /0);
        // NaN compares false against any threshold -> pass false
        when(col("n_rows") === 0, lit(Double.NaN))
          .otherwise(col("n_null").cast("double") / col("n_rows"))
          .as(s"null_rate_$sfx"),
        col("ndv").as(s"ndv_$sfx"))
    side(base, "base").join(side(cur, "cur"), "column")
      .withColumn("null_rate_delta",
        abs(col("null_rate_cur") - col("null_rate_base")))
      .withColumn("ndv_ratio_delta",
        abs(col("ndv_cur") - col("ndv_base")).cast("double") /
          greatest(col("ndv_base"), lit(1L)))
      .withColumn("pass",
        col("null_rate_delta") <= maxNullRateDelta &&
          col("ndv_ratio_delta") <= maxNdvRatioDelta)
  }

  /** log2 length histogram for a string column — the length-histogram
    * check (`north_star`): bucket = floor(log2(length)), one groupBy. */
  def lengthHistogram(df: DataFrame, c: String): DataFrame =
    df.select(when(col(c).isNull, lit(-1))
        .when(length(col(c)) === 0, lit(-1))
        .otherwise(floor(log2(length(col(c))))).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))

  // ---------------------------------------------------------------------
  // Heavy hitters (frequent items) — the "top values" column profile a
  // validation engine reports next to ndv/min/max. A plain
  // groupBy(col).count().orderBy(count) is exact but shuffles one row per
  // DISTINCT value — at 100 TB a high-cardinality column (doc_id-like,
  // 10¹² distincts) makes that a full re-key of the table for a profile
  // that only wants the top handful. The Misra-Gries family bounds the
  // state instead: Spark's built-in `approx_top_k_accumulate` keeps a
  // mergeable datasketches `ItemsSketch` (the jar behind the KLL drift
  // sketch) with at most `maxMapSize` counters per partial, merges it
  // through Spark's partial/final aggregation, and guarantees every item
  // with true count > n/maxMapSize survives with estimate error ≤
  // getMaximumError (0 ⇒ no purge ever happened ⇒ counts are EXACT —
  // the small-scale audit regime the DuckDB oracle checks).

  /** the frequent-items aggregate: `approx_top_k_accumulate`'s
    * serialized `ItemsSketch[String]` (nulls skipped; the Scala
    * `functions` object does not expose it). `maxItemsTracked =
    * maxMapSize·3/4` gives the map of `new ItemsSketch(maxMapSize)`.
    * `maxMapSize` must be a power of two from 8 to 2^20 (Spark rounds
    * other values silently and caps `maxItemsTracked` at 1,000,000);
    * anything else is an IllegalArgumentException naming it. */
  private[graft] def topAgg(c: Column, maxMapSize: Int): Column = {
    require(maxMapSize >= 8 && maxMapSize <= (1 << 20) &&
      Integer.bitCount(maxMapSize) == 1,
      s"maxMapSize must be a power of two from 8 to 2^20, got $maxMapSize")
    call_function("approx_top_k_accumulate", c.cast("string"),
      lit(maxMapSize * 3 / 4)).getField("sketch")
  }

  private def heapItems(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe)

  /** merged sketch over one column in one scan ([[topAgg]]; nulls
    * skipped). Accuracy: estimates overshoot by at most ~3.5/maxMapSize
    * of the stream length (0 when the distinct count never exceeded
    * 0.75·maxMapSize — then the sketch is exact). */
  def frequencySketch(df: DataFrame, colName: String,
                      maxMapSize: Int = 1024): ItemsSketch[String] =
    heapItems(df.agg(topAgg(col(colName), maxMapSize))
      .head().getAs[Array[Byte]](0))

  /** finish a sketch to its top-k (value, estimate, lb, ub, exact)
    * entries under the canonical (n desc, value) tie-break — the ONE
    * definition shared by the batch [[topValues]] frame and the
    * streaming per-window path, so their orderings and exactness rules
    * cannot diverge. */
  private def finishTop(sk: ItemsSketch[String], k: Int)
      : Seq[(String, Long, Long, Long, Boolean)] = {
    val exact = sk.getMaximumError == 0
    sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES).toSeq
      .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
      .sortBy { case (v, est, _, _) => (-est, v) }
      .take(k)
      .map { case (v, est, lb, ub) => (v, est, lb, ub, exact) }
  }

  /** [[finishTop]] from a serialized sketch (the shape streaming
    * aggregation state hands back). */
  def topEntries(bytes: Array[Byte], k: Int)
      : Seq[(String, Long, Long, Long, Boolean)] =
    finishTop(heapItems(bytes), k)

  /** top-k values of a column by (estimated) frequency, deterministic
    * tie-break on the value itself. Columns: value, n (estimate),
    * n_lb/n_ub (guaranteed bounds; lb = ub = n when the sketch stayed
    * exact), exact (whether estimates are true counts). Driver-sized
    * result (≤ maxMapSize rows before the take). */
  def topValues(df: DataFrame, colName: String, k: Int,
                maxMapSize: Int = 1024): DataFrame = {
    val rows = finishTop(frequencySketch(df, colName, maxMapSize), k)
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("value", "n", "n_lb", "n_ub", "exact")
  }
}
