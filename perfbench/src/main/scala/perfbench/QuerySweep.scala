package perfbench

import graft.SparkEntry
import graft.contracts.CompileCache
import graft.pipeline.GramCache

import Timing._

/** The pipeline layer: engine queries from `SparkEntry.queries`, in
  * name order, over the sf0.01 test tables (`ctx.sweepTables`, the
  * oracle-green data the repository's oracle check runs on), each
  * materialised inside `GramCache.withGramCache`. It runs in the traced
  * run of `flagship_validate` and reports per-layer metrics only.
  *
  * The set is six of the 57, one or two per sweep family, chosen so the
  * sweep fits the run budget (all 42 queries that read only the tables
  * take about 23 s a pass on four cores, and a cold pass 31 s). The
  * fifteen that stage inputs through `SparkEntry.genDir`, a fixed
  * directory outside the benchmark's checkout, cannot run here at all.
  *
  * The first pass runs every query once and writes its output with the
  * oracle SQL of `SparkEntry.oracleSql`; run.py replays the oracle over
  * the same tables with `tools/check_oracle.py`. Every later result must
  * digest the same as the written one. */
object QuerySweep {

  /** each query with the sweep family its time is summed into */
  val families: Seq[(String, String)] = Seq(
    "ann_cosine_topk" -> "similarity", "dedup_minhash_lsh" -> "dedup",
    "drift_events_value" -> "checks", "text_tfidf" -> "other",
    "uniq_lineitem" -> "checks", "v_documents" -> "validate")
  val names: Seq[String] = families.map(_._1)

  final case class Q(name: String, d: Digest.D, constructS: Double,
                     wallS: Double, cacheMisses: Int, jobsAtConstruct: Long,
                     phases: Map[String, Double])

  private def query(ctx: Ctx, q: String, dir: String): Q = {
    val tr = ctx.tracer
    GramCache.withGramCache {
      val cache0 = CompileCache.size
      val jobs0 = if (tr.on) ctx.meter.read().jobs else 0L
      val t0 = System.nanoTime()
      val (df, constructS) = time(tr.span("contracts.construct")(
        SparkEntry.queries(q)(ctx.spark, dir)))
      val jobs = if (tr.on) ctx.meter.read().jobs - jobs0 else 0L
      val cacheMisses = CompileCache.size - cache0
      val f = Digest.frame(df)
      val d = tr.span("spark.action")(Digest.read(f))
      Q(q, d, constructS, (System.nanoTime() - t0) / 1e9, cacheMisses, jobs,
        if (tr.on) Phases.ms(f) else Map.empty)
    }
  }

  /** one pass over every query; each result must digest as `expected`. */
  private def pass(ctx: Ctx, out: Outcome, dir: String,
                   expected: Map[String, Digest.D]): Seq[Q] =
    names.flatMap { q =>
      ctx.tracer.newOp()
      out.op(q)(ctx.tracer.span(s"pipeline.$q")(query(ctx, q, dir)))(
        r => expected.get(q).contains(r.d))
    }

  /** run every query once and write its output (one file, in the
    * query's order) plus the oracle SQL for run.py's oracle replay;
    * returns the digest of each written output. */
  private def capture(ctx: Ctx, out: Outcome, dir: String, outDir: String)
      : Map[String, Digest.D] = {
    val s = ctx.spark
    val written = names.flatMap { q =>
      out.op(s"$q (captured for the oracle)")(GramCache.withGramCache {
        SparkEntry.queries(q)(s, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$q")
        q -> Digest(s.read.parquet(s"$outDir/$q"))
      })(_ => true)
    }
    val sql = names.map(q =>
      s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      sql.mkString("{", ",\n", "}\n"))
    written.toMap
  }

  /** capture every query (the cold pass), then time two traced passes.
    * Returns the directory of the captured outputs, which run.py's
    * oracle replay reads. */
  def run(ctx: Ctx, out: Outcome): String = {
    val dir = ctx.sweepTables
    val outDir = ctx.dir("sweep-out")
    val expected = ctx.tracer.span("setup.warmup")(
      capture(ctx, out, dir, outDir))
    val ps = (1 to 2).map(_ => pass(ctx, out, dir, expected))
    Log.note("query sweep done")
    out.check("every query ran in every pass")(
      ps.forall(_.map(_.name) == names))

    out.put("sweep_s", med(ps.map(_.map(_.wallS).sum)), "s")
    val family = families.toMap
    for (f <- Seq("validate", "checks", "dedup", "similarity", "other"))
      out.put(s"sweep.${f}_s",
        med(ps.map(_.filter(q => family(q.name) == f).map(_.wallS).sum)),
        "s")
    val all = ps.flatten
    for (q <- names)
      out.put(s"sweep.q.${q}_s",
        med(all.filter(_.name == q).map(_.wallS)), "s")
    out.put("contracts.sweep_construct_ms",
      med(ps.map(_.map(_.constructS).sum)) * 1e3, "ms")
    out.put("contracts.sweep_cache_misses",
      all.map(_.cacheMisses).sum.toDouble, "count")
    out.put("contracts.sweep_jobs_at_construct",
      ps.map(_.map(_.jobsAtConstruct).sum).sum.toDouble / ps.length, "count")
    for (p <- Seq("analysis", "optimization", "planning"))
      out.put(s"catalyst.sweep_${p}_ms",
        med(ps.map(_.map(_.phases.getOrElse(p, 0.0)).sum)), "ms")
    outDir
  }
}
