package perfbench

import graft.tools.StealGate
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by run.py):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *     --sweep-tables TABLES
  *
  * Runs one workload in one process on `local[n]`, n = available cores,
  * with closed loops: the single calling thread waits for each action
  * before it starts the next. Prints one JSON line with every metric the
  * workload measured; run.py narrows it to the set the run was asked
  * for. A traced run also writes its spans under DIR/traces, and every
  * run records its host context under DIR/runs. */
object Main {
  val workloads: Seq[Workload] = Seq(Flagship, RunnerResume)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      sys.error(s"missing argument $k"))
    val wl = workloads.find(_.name == arg("--workload")).getOrElse(
      sys.error(s"unknown workload ${arg("--workload")}; one of " +
        workloads.map(_.name).mkString(", ")))
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toInt
    val traced = arg("--trace") == "1"
    val work = new java.io.File(arg("--work"))
    val sweepTables = arg("--sweep-tables")

    val slots = Runtime.getRuntime.availableProcessors
    val (busy0, steal0) = StealGate.cpuTicks()
    val probe = Host.probeHashPerS(slots)
    val (spark, sessionStart) = Took(session(slots, work))
    val ctx = Ctx(spark, slots, seed, seconds, new Tracer(traced),
      new Meter(spark), work, sweepTables, sessionStart)
    val out = new Outcome
    Log.note(f"session started in ${sessionStart.wallS}%.1f s")
    try wl.run(ctx, out)
    finally spark.stop()
    Log.note("done")
    out.put("failed_frac", out.failed.toDouble / out.attempted, "ratio")
    // steal over wanted CPU, steal / (busy + steal), as StealGate.timeSteal
    val (busy1, steal1) = StealGate.cpuTicks()
    val (db, ds) = (busy1 - busy0, steal1 - steal0)
    out.put("host.steal_frac",
      if (db + ds <= 0) 0.0 else ds.toDouble / (db + ds), "ratio")
    out.put("host.probe_hash_per_s", probe, "1/s")

    val tag = s"${wl.name}-s$seed-t${if (traced) 1 else 0}"
    if (traced) ctx.tracer.write(new java.io.File(work, s"traces/$tag.json"))
    val metrics = out.metrics.values.map { m =>
      s"${Json.str(m.name)}:{" +
        s""""value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}"""
    }
    val oracle = out.oracle.map(o => s""""oracle":${Json.str(o)},""")
      .getOrElse("")
    val line = s"""{"correct":${out.failed == 0},""" + oracle +
      s""""attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{${metrics.mkString(",")}}}"""
    val rec = new java.io.File(work, s"runs/$tag.json")
    rec.getParentFile.mkdirs()
    java.nio.file.Files.writeString(rec.toPath, line + "\n")
    println(line)
  }

  /** the pinned session: every core as a task slot, as many shuffle
    * partitions as slots, AQE on, UTC, no UI, scratch inside `work`. */
  def session(slots: Int, work: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir",
        new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
