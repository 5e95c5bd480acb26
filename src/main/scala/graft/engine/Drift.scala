package graft.engine

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.tdigest.TDigestDouble
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders,
  SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distribution-drift checks (BASELINE.json `north_rule`): mergeable
  * quantile sketches per numeric column, compared across datasets (or
  * partitions) with KS and PSI statistics against thresholds. No
  * reference analog (SURVEY.md §2.9) — this is the engine's scale-native
  * extension of `pred` refinements to *distributional* contracts.
  *
  * Drift needs a *persistable, mergeable* sketch (saved with a run
  * manifest as the baseline, merged across partitions and reruns), which
  * `percentile_approx` does not expose. Two backends ship, both
  * datasketches-java sketches built by one scan with map-side partials —
  * constant memory per partition, no shuffle of raw values:
  *
  *  - KLL ([[sketch]]/[[checkAll]]): Spark's built-in
  *    `kll_sketch_agg_double`, whose bytes are a serialized
  *    `KllDoublesSketch`; provable worst-case rank-error bound (~1.65%
  *    at k=200) — the default.
  *  - t-digest ([[sketchTd]]/[[checkTd]]): the north_star's named
  *    sketch (Dunning's merging digest); no worst-case bound but much
  *    tighter accuracy near the tails, where drift alarms usually fire.
  *    Spark ships no t-digest aggregate: [[TdAgg]] is a typed one.
  */
object Drift {

  val K: Int = 200 // KLL accuracy parameter (~1.65% rank error at k=200)
  val TdK: Short = 200 // t-digest compression (centroids ∝ k)

  /** the KLL aggregate over a numeric column: serialized sketch bytes,
    * nulls skipped, an empty sketch (n = 0) over no non-null rows. */
  private[graft] def kllAgg(c: Column): Column =
    kll_sketch_agg_double(c.cast("double"), K)

  private[graft] def heapKll(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  /** one-scan sketch of a numeric column (nulls skipped). */
  def sketch(df: DataFrame, colName: String): KllDoublesSketch =
    sketchAll(df, Seq(colName))(colName)

  /** sketch MANY numeric columns in ONE scan — at 100 TB, N sketches
    * must not cost N table scans. One KLL aggregate per column rides the
    * same partial/final aggregation; per-column nulls are skipped inside
    * the aggregate (a WHERE would drop the whole row for every column). */
  def sketchAll(df: DataFrame, cols: Seq[String])
      : Map[String, KllDoublesSketch] = {
    require(cols.nonEmpty, "sketchAll needs at least one column")
    val row = df.select(cols.map(c => kllAgg(col(c))): _*).head()
    cols.indices.map(i => cols(i) -> heapKll(row.getAs[Array[Byte]](i))).toMap
  }

  /** drift verdicts for MANY columns between two datasets — exactly
    * two table scans total ([[sketchAll]] on each side), one verdict
    * row per column in `cols` order. A column that is empty on either
    * side (all NULL — e.g. not yet backfilled) gets an explicit
    * indeterminate fail row (NaN, NaN, pass=false) instead of
    * discarding every other column's verdict. */
  def checkAll(baseline: DataFrame, current: DataFrame, cols: Seq[String],
               ksThreshold: Double = 0.1, psiThreshold: Double = 0.2)
              (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val a = sketchAll(baseline, cols)
    val b = sketchAll(current, cols)
    cols.map { c =>
      if (a(c).isEmpty || b(c).isEmpty)
        (c, Double.NaN, Double.NaN, a(c).getN, b(c).getN, false)
      else {
        val r = compare(a(c), b(c))
        (c, r.ks, r.psi, r.nA, r.nB,
          r.ks <= ksThreshold && r.psi <= psiThreshold)
      }
    }.toDF("column", "ks", "psi", "n_baseline", "n_current", "pass")
  }

  /** grouped sketches: one per key (e.g. per partition / per day). */
  def sketchBy(df: DataFrame, colName: String, keyCol: String): DataFrame =
    df.where(col(colName).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(kllAgg(col(colName)).as("sketch"))

  /** persist a sketch as a one-row parquet alongside a run's outputs —
    * the durable BASELINE a later batch ([[check]]) or stream
    * ([[graft.streaming.StreamingValidate.windowedDrift]]) compares
    * against. Parquet (not a bare file) so the same Hadoop-FS paths,
    * permissions, and object-store semantics as every other engine
    * artifact apply. */
  def saveSketch(spark: SparkSession, sketch: KllDoublesSketch,
                 path: String, colName: String): Unit = {
    import spark.implicits._
    Seq((colName, sketch.getN, sketch.toByteArray))
      .toDF("column", "n", "sketch")
      .write.mode("overwrite").parquet(path)
  }

  /** load a sketch persisted by [[saveSketch]]; merging across runs is
    * `loadSketch(a).merge(loadSketch(b))` (KLL merge is exact in n). */
  def loadSketch(spark: SparkSession, path: String): KllDoublesSketch =
    heapKll(spark.read.parquet(path).select("sketch").head()
      .getAs[Array[Byte]](0))

  // ---- t-digest backend (north_star's named sketch) -----------------

  /** serialization shim for [[TdAgg]]: the digest rides the aggregation
    * buffer as a live heap object, serialized only at the partial/final
    * exchange (`udaf` wraps as a TypedImperativeAggregate). */
  final class TdHolder(@transient var sketch: TDigestDouble)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      val b = sketch.toByteArray
      out.writeInt(b.length); out.write(b)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val b = new Array[Byte](in.readInt()); in.readFully(b)
      sketch = heapTd(b)
    }
  }

  /** Aggregator: Dataset[Double] → serialized t-digest bytes. */
  class TdAgg extends Aggregator[Double, TdHolder, Array[Byte]] {
    def zero: TdHolder = new TdHolder(new TDigestDouble(TdK))
    def reduce(buf: TdHolder, v: Double): TdHolder = {
      buf.sketch.update(v); buf
    }
    def merge(a: TdHolder, b: TdHolder): TdHolder = {
      a.sketch.merge(b.sketch); a
    }
    def finish(buf: TdHolder): Array[Byte] = buf.sketch.toByteArray
    def bufferEncoder: Encoder[TdHolder] =
      Encoders.javaSerialization[TdHolder]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** the t-digest aggregate over a non-null double column. */
  private[graft] def tdAgg(c: Column): Column = udaf(new TdAgg()).apply(c)

  private[graft] def heapTd(bytes: Array[Byte]): TDigestDouble =
    TDigestDouble.heapify(Memory.wrap(bytes))

  /** one-scan t-digest of a numeric column (nulls skipped). */
  def sketchTd(df: DataFrame, colName: String): TDigestDouble =
    heapTd(df.where(col(colName).isNotNull)
      .agg(tdAgg(col(colName).cast("double"))).head().getAs[Array[Byte]](0))

  case class DriftResult(ks: Double, psi: Double, nA: Long, nB: Long)

  /** KS statistic (sup |cdfA - cdfB|) and Population Stability Index
    * from two CDF vectors sampled on a shared grid — the ONE definition
    * every path (KLL, t-digest, exact audit) computes. */
  private[engine] def ksPsi(ca: Array[Double], cb: Array[Double])
      : (Double, Double) = {
    val ks = ca.zip(cb).map { case (x, y) => math.abs(x - y) }.max
    // PSI over the grid buckets (probability mass per bucket, floored to
    // avoid log(0) blowups)
    val eps = 1e-6
    def masses(c: Array[Double]): Array[Double] =
      (1 until c.length).map(i => math.max(c(i) - c(i - 1), eps)).toArray
    val ma = masses(ca); val mb = masses(cb)
    val psi = ma.zip(mb).map { case (p, q) => (p - q) * math.log(p / q) }.sum
    (ks, psi)
  }

  private def gridOf(lo: Double, hi: Double, gridSize: Int): Array[Double] =
    (0 until gridSize).map(i => lo + (hi - lo) * i / (gridSize - 1)).toArray

  /** Kolmogorov-Smirnov statistic and Population Stability Index between
    * two sketches, computed driver-side on the merged quantile grid —
    * O(gridSize), no data access. */
  def compare(a: KllDoublesSketch, b: KllDoublesSketch,
              gridSize: Int = 101): DriftResult = {
    require(!a.isEmpty && !b.isEmpty, "cannot compare empty sketches")
    val grid = gridOf(math.min(a.getMinItem, b.getMinItem),
      math.max(a.getMaxItem, b.getMaxItem), gridSize)
    // INCLUSIVE rank = P(X <= x)
    val (ks, psi) = ksPsi(grid.map(a.getRank(_)), grid.map(b.getRank(_)))
    DriftResult(ks, psi, a.getN, b.getN)
  }

  /** [[compare]] over t-digests. */
  def compareTd(a: TDigestDouble, b: TDigestDouble,
                gridSize: Int = 101): DriftResult = {
    require(!a.isEmpty && !b.isEmpty, "cannot compare empty sketches")
    val grid = gridOf(math.min(a.getMinValue, b.getMinValue),
      math.max(a.getMaxValue, b.getMaxValue), gridSize)
    val (ks, psi) = ksPsi(grid.map(a.getRank(_)), grid.map(b.getRank(_)))
    DriftResult(ks, psi, a.getTotalWeight, b.getTotalWeight)
  }

  /** drift verdict between a column in two datasets (baseline vs
    * current), as a one-row DataFrame for sink uniformity: [[checkAll]]
    * over the one column. A side with no non-null value yields the
    * indeterminate (NaN, NaN, pass = false) row, as in [[checkAll]] and
    * [[checkExact]]. */
  def check(baseline: DataFrame, current: DataFrame, colName: String,
            ksThreshold: Double = 0.1, psiThreshold: Double = 0.2)
           (implicit spark: SparkSession): DataFrame =
    checkAll(baseline, current, Seq(colName), ksThreshold, psiThreshold)

  /** [[check]] on the t-digest backend — same verdict schema, same
    * thresholds, tail-accurate CDFs. */
  def checkTd(baseline: DataFrame, current: DataFrame, colName: String,
              ksThreshold: Double = 0.1, psiThreshold: Double = 0.2)
             (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val r = compareTd(sketchTd(baseline, colName),
      sketchTd(current, colName))
    Seq((colName, r.ks, r.psi, r.nA, r.nB,
      r.ks <= ksThreshold && r.psi <= psiThreshold))
      .toDF("column", "ks", "psi", "n_baseline", "n_current", "pass")
  }

  /** EXACT-audit drift: the same KS/PSI definitions as [[compare]], but
    * from exact empirical CDFs evaluated on the same min/max grid —
    * every number is a pure function of counts, so an external SQL
    * oracle can recompute it bit-for-bit. Cost: one bounds pass plus one
    * conditional-sum aggregation per side (each a single scan with
    * map-side partials — still one-pass-per-side at scale, but the grid
    * comparisons cost gridSize ops/row where the sketch path pays O(1)
    * amortized; use [[check]] at 100 TB, this for audits/oracles). */
  def checkExact(baseline: DataFrame, current: DataFrame, colName: String,
                 gridSize: Int = 101, ksThreshold: Double = 0.1,
                 psiThreshold: Double = 0.2)
                (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    def vals(df: DataFrame) =
      df.select(col(colName).cast("double").as("v"))
        .where(col("v").isNotNull)
    val a = vals(baseline); val b = vals(current)
    val bounds = a.union(b).agg(min(col("v")), max(col("v")),
      count(lit(1))).head()
    // no non-null values on either side: bounds are null and the CDFs
    // would divide by zero — report an explicit indeterminate failure
    // instead of NPEing (a side with zero rows can't evidence "no drift")
    if (bounds.isNullAt(0) || bounds.getLong(2) == 0L)
      return Seq((colName, Double.NaN, Double.NaN, 0L, 0L, false))
        .toDF("column", "ks", "psi", "n_baseline", "n_current", "pass")
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val grid = gridOf(lo, hi, gridSize)
    // conditional-sum CDF — the pre-round-6 form, retained as the
    // fallback for degenerate (NaN / non-monotone) grids where the
    // bucket⇔suffix-sum equivalence below does not hold
    def cdfWide(df: DataFrame): (Array[Double], Long) = {
      val aggs = grid.zipWithIndex.map { case (g, i) =>
        sum(when(col("v") <= g, 1L).otherwise(0L)).as(s"c$i")
      } :+ count(lit(1)).as("n")
      val r = df.agg(aggs.head, aggs.tail.toSeq: _*).head()
      val n = r.getLong(gridSize)
      if (n == 0L) (Array.fill(gridSize)(Double.NaN), 0L)
      else ((0 until gridSize).map(i => r.getLong(i).toDouble / n)
        .toArray, n)
    }
    val (ca, nA, cb, nB) =
      if (!graft.functions.GridBucket.monotone(grid)) {
        val (x, n1) = cdfWide(a); val (y, n2) = cdfWide(b)
        (x, n1, y, n2)
      } else {
        // one tagged histogram job for BOTH sides: per row a ~7-compare
        // binary search for its first covering grid point, then the
        // exact CDF counts (#{v <= g_i} = Σ_{j<=i} hist_j — identical
        // longs to the conditional sums, guide §1.2 "per-task work")
        // from a driver suffix sum over ≤ 2·(gridSize+1) collected
        // cells. Replaces two ~100-conditional aggregations (and their
        // ~200-column codegen) plus one of the two jobs.
        val tagged = a.select(lit(0).as("side"), col("v"))
          .union(b.select(lit(1).as("side"), col("v")))
        val hist = tagged
          .groupBy(col("side"),
            graft.functions.GridBucket.bucket(col("v"), grid).as("bkt"))
          .agg(count(lit(1)).as("c")).collect()
        def cdfOf(side: Int): (Array[Double], Long) = {
          val cells = hist.filter(_.getInt(0) == side)
          val h = new Array[Long](gridSize + 1)
          cells.foreach(r =>
            h(math.min(r.getInt(1), gridSize)) += r.getLong(2))
          val n = cells.map(_.getLong(2)).sum
          if (n == 0L) (Array.fill(gridSize)(Double.NaN), 0L)
          else {
            var run = 0L
            ((0 until gridSize).map { i =>
              run += h(i); run.toDouble / n
            }.toArray, n)
          }
        }
        val (x, n1) = cdfOf(0); val (y, n2) = cdfOf(1)
        (x, n1, y, n2)
      }
    if (nA == 0L || nB == 0L)
      return Seq((colName, Double.NaN, Double.NaN, nA, nB, false))
        .toDF("column", "ks", "psi", "n_baseline", "n_current", "pass")
    val (ks, psi) = ksPsi(ca, cb)
    Seq((colName, ks, psi, nA, nB,
      ks <= ksThreshold && psi <= psiThreshold))
      .toDF("column", "ks", "psi", "n_baseline", "n_current", "pass")
  }
}
