package graft

import graft.engine.{Drift, Stats}
import graft.streaming.StreamingValidate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Sketch bytes written before the engine switched to Spark's built-in
  * `kll_sketch_agg_double` and `approx_top_k_accumulate` stay readable,
  * so a baseline persisted by an earlier run keeps working. The fixtures
  * under `src/test/resources/sketches/` were written by the typed
  * Aggregators those built-ins replaced:
  *  - `kll_aggregator.bin`: `Drift.sketch` of [[kllData]] (n = 20000);
  *  - `freq_aggregator.bin`: the frequent-items sketch (maxMapSize 16) of
  *    400 distinct light values plus heavyA×600 and heavyB×500 over five
  *    partitions — the purge regime of EngineSpec's topValues test. */
class SketchCompatSpec extends SparkTestBase {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/sketches/$name")
    try in.readAllBytes() finally in.close()
  }

  private def kllData = spark.range(0, 20000)
    .select(pmod(xxhash64(col("id")), lit(1000L)).cast("double").as("v"))

  test("a KLL sketch written by the Aggregator loads with its n and " +
       "shows no drift against a built-in sketch of the same data") {
    import spark.implicits._
    val bytes = fixture("kll_aggregator.bin")
    // the one-row layout saveSketch writes
    val tmp = java.nio.file.Files.createTempDirectory("graft_compat")
      .toString
    Seq(("v", 20000L, bytes)).toDF("column", "n", "sketch")
      .write.parquet(s"$tmp/baseline")
    val old = Drift.loadSketch(spark, s"$tmp/baseline")
    assert(old.getN == 20000L && old.getK == Drift.K)
    val fresh = Drift.sketch(kllData, "v")
    assert(fresh.getN == 20000L)
    val r = Drift.compare(old, fresh)
    assert(r.ks <= 0.1 && r.psi <= 0.2, s"old vs built-in sketch: $r")
    // the two merge: a baseline accumulated across the switch
    fresh.merge(old)
    assert(fresh.getN == 40000L)
  }

  test("a KLL sketch written by the Aggregator serves as a windowedDrift " +
       "baseline") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val out = StreamingValidate.windowedDrift(mem.toDF().toDF("ts", "v"),
      "v", "ts", "10 minutes", "5 minutes", fixture("kll_aggregator.bin"))
    val q = out.writeStream.format("memory").queryName("wd_compat")
      .outputMode("append").start()
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // window A: the baseline's 0..999 regime; window B: shifted by 5000
    mem.addData((0 until 1000).map(i => (ts(10, 1), i.toDouble)): _*)
    mem.addData((0 until 1000).map(i => (ts(10, 11), 5000.0 + i)): _*)
    mem.addData((ts(11, 0), 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wd_compat").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[Long]("n"), r.getAs[Boolean]("pass"))).sortBy(_._1)
    assert(rows.toSeq == Seq((ts(10, 0), 1000L, true),
      (ts(10, 10), 1000L, false)), rows.toSeq)
  }

  test("a frequent-items sketch written by the Aggregator finishes to " +
       "its recorded top entries") {
    assert(Stats.topEntries(fixture("freq_aggregator.bin"), 5) == Seq(
      ("heavyA", 630L, 600L, 630L, false),
      ("heavyB", 530L, 500L, 530L, false),
      ("light376", 31L, 1L, 31L, false),
      ("light382", 31L, 1L, 31L, false),
      ("light383", 31L, 1L, 31L, false)))
  }
}
