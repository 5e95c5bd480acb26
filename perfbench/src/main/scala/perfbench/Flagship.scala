package perfbench

import graft.contracts.CompileCache
import graft.engine.{Referential, SpanDocs, Uniqueness, Validate}
import graft.gen.SpanGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Timing._

/** `flagship_validate`: warm `SpanDocs.validateAll` over a generated
  * span-document table (all four default defect kinds at 1/10000) and a
  * 100k-row media catalog, every output column materialised.
  *
  * End to end: `wall_s` is the median wall of one validation of the
  * whole table; `fixed_s` the median wall of the same call on a
  * 2,000-document table, which is almost all per-call and per-job fixed
  * cost. Their CPU times are `cpu_s` and `fixed_cpu_s`. */
object Flagship extends Workload {
  val name = "flagship_validate"

  val nDocs = 400000L
  val probeDocs = 2000L
  val nMedia = 100000L
  val defects = SpanGen.Defects(nullKind = true, badKind = true,
    danglingRef = true, dupDocId = true, rate = 10000)

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** write the inputs; returns the seconds each third of the document
    * table took (it is generated in three slices by row id, so that one
    * run times its generation three times). */
  private def generate(ctx: Ctx, dir: String): Seq[Took] = {
    val s = ctx.spark
    val slices = (0 until 3).map { k =>
      Took(write(SpanGen.docs(s, nDocs, ctx.slots, ctx.seed, nMedia, defects,
          withRowId = true)
        .where(pmod(col("row_id"), lit(3L)) === k).drop("row_id"),
        s"$dir/docs/slice$k"))._2
    }
    write(SpanGen.docs(s, probeDocs, 1, ctx.seed, nMedia, defects),
      s"$dir/probe")
    write(SpanGen.media(s, nMedia, ctx.seed), s"$dir/media")
    // the weak-scaling probe runs one slot over a quarter of the table;
    // the generator is a pure function of (seed, row id), so this is the
    // first quarter of `docs`
    if (ctx.trace)
      write(SpanGen.docs(s, nDocs / 4, ctx.slots, ctx.seed, nMedia, defects),
        s"$dir/quarter")
    slices
  }

  /** one validation, digested; in a traced run also the construction
    * cost and the Catalyst phases. */
  final case class Sample(d: Digest.D, took: Took, constructMs: Double,
                          cacheMisses: Int, jobsAtConstruct: Long,
                          phases: Map[String, Double])

  private def validate(ctx: Ctx, docs: DataFrame, media: DataFrame)
      : Sample = {
    val tr = ctx.tracer
    val cache0 = CompileCache.size
    val jobs0 = if (tr.on) ctx.meter.read().jobs else 0L
    var constructS = 0.0
    var jobs = 0L
    val ((d, f), took) = Took {
      val (df, c) = time(tr.span("engine.SpanDocs.validateAll") {
        SpanDocs.validateAll(docs, media)
      })
      constructS = c
      if (tr.on) jobs = ctx.meter.read().jobs - jobs0
      val f = Digest.frame(df)
      (tr.span("spark.action")(Digest.read(f)), f)
    }
    Sample(d, took, constructS * 1e3, CompileCache.size - cache0, jobs,
      if (tr.on) Phases.ms(f) else Map.empty)
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val s = ctx.spark
    val dir = ctx.dir(s"data/flagship-s${ctx.seed}-n$nDocs")
    def load(p: String) =
      if (p == "docs") s.read.parquet((0 until 3).map(k => s"$dir/docs/slice$k"): _*)
      else s.read.parquet(s"$dir/$p")

    // set-up: generate the inputs (the three document slices count as
    // three times their median), then two untimed validations for JIT,
    // codegen and the compile memo: one collects the full table's
    // violation rows, which the reference check below examines, and one
    // digests the small table. Every timed result must digest as these.
    val slices = Seq.newBuilder[Took]
    var rows = Array.empty[org.apache.spark.sql.Row]
    var expectedProbe = Digest.D(0, 0)
    val (_, setup) = Took {
      slices ++= ctx.tracer.span("setup.generate")(generate(ctx, dir))
      ctx.tracer.span("setup.warmup") {
        rows = SpanDocs.validateAll(load("docs"), load("media")).collect()
        expectedProbe = Digest(SpanDocs.validateAll(load("probe"), load("media")))
      }
    }
    val sl = slices.result()
    out.put("setup_s", ctx.sessionStart.wallS + setup.wallS -
      sl.map(_.wallS).sum + 3 * med(sl.map(_.wallS)), "s")
    out.put("setup_cpu_s", ctx.sessionStart.cpuS + setup.cpuS -
      sl.map(_.cpuS).sum + 3 * med(sl.map(_.cpuS)), "s")
    Log.note("set-up done")

    val docs = load("docs")
    val probe = load("probe")
    val media = load("media")
    val violations = s.createDataFrame(java.util.Arrays.asList(rows: _*),
      SpanDocs.validateAll(docs, media).schema)
    val expected = Digest(violations)

    val samples = Seq.newBuilder[Sample]
    val fixed = Seq.newBuilder[Sample]
    ctx.meter.resetPeak()
    val c0 = ctx.meter.read()
    val w0 = System.nanoTime()
    // a traced run also times an untraced validation each round, so the
    // tracing overhead is stated against equally warm samples
    val untraced = Seq.newBuilder[Double]
    val n = loop(ctx.seconds, 3) { _ =>
      if (ctx.trace)
        untraced += ctx.tracer.suspend(validate(ctx, docs, media)).took.wallS
      ctx.tracer.newOp()
      out.op("validateAll")(validate(ctx, docs, media))(
        _.d == expected).foreach(samples += _)
      ctx.tracer.newOp()
      out.op("validateAll small")(validate(ctx, probe, media))(
        _.d == expectedProbe).foreach(fixed += _)
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    Log.note(f"$n timed samples in $windowS%.1f s")
    Log.note("walls: " + samples.result().map(x => f"${x.took.wallS}%.2f")
      .mkString(" ") + "; small-table walls: " +
      fixed.result().map(x => f"${x.took.wallS}%.2f").mkString(" "))
    val c1 = ctx.meter.read()
    val ss = samples.result()
    val fs = fixed.result()
    val wall = med(ss.map(_.took.wallS))
    out.put("cpu_s", med(ss.map(_.took.cpuS)), "s")
    out.put("fixed_cpu_s", med(fs.map(_.took.cpuS)), "s")
    out.put("wall_s", wall, "s")
    out.put("fixed_s", med(fs.map(_.took.wallS)), "s")
    out.put("peak_exec_mem_mb", c1.peakExec / 1048576.0, "MB")
    out.put("validate_docs_per_s", med(ss.map(nDocs / _.took.wallS)), "docs/s")
    out.put("samples", ss.length.toDouble, "count")

    // correctness: the engine's violations against the independent
    // row-level reference, check by check, and the contract rows'
    // payloads (path, expected, got, message) against the engine's
    // generic compile, which the fast path claims to match bit for bit
    val want = Reference.failures(docs, media)
    out.check("validateAll matches the reference") {
      val got = Reference.engineFailures(violations)
      Log.note(s"violating rows: ${got.contract.size} contract, " +
        s"${got.unique.size} duplicate doc_id, ${got.dangling.size} dangling ref")
      if (got != want) System.err.println(
        s"perfbench: engine $got\nperfbench: reference $want")
      got == want && got.contract.nonEmpty
    }
    // the contract is checked row by row, so the generic compile only
    // needs the rows the reference found failing
    out.check("contract rows match the generic compile on every column") {
      val cols = Reference.columns.map(col)
      val failing = docs.where(col("doc_id").isin(want.contract.distinct: _*))
      Digest(Reference.contractRows(violations).select(cols: _*)) ==
        Digest(Validate.violations(failing, SpanDocs.contract, "doc_id",
          "docs").select(cols: _*))
    }

    if (ctx.trace) {
      out.put((c1 - c0).metrics(windowS, ctx.slots))
      out.put("trace.overhead_frac", wall / med(untraced.result()) - 1, "ratio")
      out.put("contracts.construct_ms", med(ss.map(_.constructMs)), "ms")
      out.put("contracts.cache_misses", ss.map(_.cacheMisses).sum.toDouble,
        "count")
      out.put("contracts.jobs_at_construct",
        ss.map(_.jobsAtConstruct).sum.toDouble / ss.length, "count")
      for (p <- Seq("analysis", "optimization", "planning"))
        out.put(s"catalyst.${p}_ms",
          med(ss.map(_.phases.getOrElse(p, 0.0))), "ms")

      // each check alone on the same input
      val evalS = out.alone(ctx.tracer, "functions.violationsFast")(
        Digest(SpanDocs.violationsFast(docs)))
      val uniqS = out.alone(ctx.tracer, "engine.Uniqueness.violations")(
        Digest(Uniqueness.violations(docs.select("doc_id"), "doc_id", "docs")))
      val refS = out.alone(ctx.tracer, "engine.Referential.violations")(
        Digest(Referential.violations(
          docs.select(col("doc_id"),
            explode(col("spans.media_ref")).as("media_ref"))
            .where(col("media_ref").isNotNull),
          "media_ref", media, "media_id", "doc_id", "docs", Some(true))))
      out.put("functions.contract_eval_s", evalS, "s")
      out.put("functions.contract_eval_docs_per_s", nDocs / evalS, "docs/s")
      out.put("engine.uniqueness_s", uniqS, "s")
      out.put("engine.referential_s", refS, "s")
      out.put("engine.validate_all_s", wall, "s")
      out.put("engine.shared_frac", (evalS + uniqS + refS) / wall, "ratio")
      out.put("scaling_eff_1to4", scaling(ctx, out, load("quarter"), docs,
        media), "ratio")
      out.oracle = Some(QuerySweep.run(ctx, out))
    }
  }

  /** weak scaling inside one session: docs/s with every slot on the
    * whole table over `slots` × docs/s with one slot on a quarter of it,
    * the input coalesced and the shuffle partitions pinned to the slot
    * count (one pair). */
  private def scaling(ctx: Ctx, out: Outcome, quarter: DataFrame,
                      docs: DataFrame, media: DataFrame): Double = {
    val conf = ctx.spark.conf
    def dps(df: DataFrame, slots: Int, n: Long): Double = {
      conf.set("spark.sql.shuffle.partitions", slots.toString)
      ctx.tracer.newOp()
      val w = time(out.op(s"validateAll on $slots slot(s)")(
        ctx.tracer.span(s"scaling.validateAll.$slots")(
          Digest(SpanDocs.validateAll(df.coalesce(slots), media))))(
        _ => true))._2
      n / w
    }
    val one = dps(quarter, 1, nDocs / 4)
    val all = dps(docs, ctx.slots, nDocs)
    conf.set("spark.sql.shuffle.partitions", ctx.slots.toString)
    all / (ctx.slots * one)
  }
}
