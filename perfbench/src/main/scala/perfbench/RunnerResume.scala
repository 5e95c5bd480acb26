package perfbench

import graft.engine.{Manifest, Runner, SpanDocs}
import graft.gen.SpanGen
import org.apache.spark.sql.functions._

import Timing._

/** `runner_resume`: the checkpointed validation job. Each sample runs
  * `Runner.run` with `maxParts = P/2` (the simulated kill), then a
  * resume that finishes the job, then three resumes that find nothing
  * left to do, into a fresh output directory over the same input.
  *
  * End to end: `wall_s` is the median wall of kill-at-half plus resume;
  * `fixed_s` the median wall of the no-op resumes. Their CPU times are
  * `cpu_s` and `fixed_cpu_s`. */
object RunnerResume extends Workload {
  val name = "runner_resume"

  val nParts = 4
  val nDocs = 16000L
  val nMedia = 10000L

  /** the `Runner.init` layout (P `part=k` directories, about P² files,
    * defects at 1/1000), generated from the run's seed. */
  private def generate(ctx: Ctx, in: String): Unit = {
    val s = ctx.spark
    SpanGen.docs(s, nDocs, nParts, ctx.seed, nMedia,
        SpanGen.Defects(nullKind = true, badKind = true, danglingRef = true,
          dupDocId = true, rate = 1000))
      .withColumn("part",
        pmod(xxhash64(col("doc_id")), lit(nParts.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("part").parquet(s"$in/docs")
    SpanGen.media(s, nMedia, ctx.seed).write.mode("overwrite")
      .parquet(s"$in/media")
  }

  private def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val paths = java.nio.file.Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally paths.close()
    }
  }

  private def bytesUnder(path: String): Long = {
    val paths = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try paths.filter(f => java.nio.file.Files.isRegularFile(f))
      .mapToLong(f => java.nio.file.Files.size(f)).sum()
    finally paths.close()
  }

  private def countFiles(path: String): Int = {
    val paths = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try paths.filter { f =>
      val n = f.getFileName.toString
      java.nio.file.Files.isRegularFile(f) && !n.startsWith(".") &&
        !n.startsWith("_")
    }.count().toInt
    finally paths.close()
  }

  final case class Sample(run: Took, noops: Seq[Took], resumeJobs: Long)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val s = ctx.spark
    val tr = ctx.tracer
    val base = ctx.dir(s"data/runner-s${ctx.seed}-p$nParts-n$nDocs")
    val in = s"$base/in"
    val half = nParts / 2

    /** one kill-at-half + resume + no-op resume into a fresh `outDir`. */
    def sample(outDir: String): Option[Sample] = {
      rmrf(outDir)
      tr.newOp()
      val killed = Took(out.op("Runner.run killed at half")(
        tr.span("runner.Runner.run")(
          Runner.run(s, in, outDir, maxParts = half)))(_ == (half, 0)))
      val jobs0 = if (tr.on) ctx.meter.read().jobs else 0L
      val resumed = Took(out.op("Runner.run resume")(
        tr.span("runner.Runner.run")(Runner.run(s, in, outDir)))(
        _ == (nParts - half, half)))
      val jobs = if (tr.on) ctx.meter.read().jobs - jobs0 else 0L
      // the no-op resume is short, so each sample times it three times
      val noops = (1 to 3).map { _ =>
        tr.newOp()
        Took(out.op("Runner.run no-op resume")(
          tr.span("runner.Runner.run")(Runner.run(s, in, outDir)))(
          _ == (0, nParts)))
      }
      for (_ <- killed._1; _ <- resumed._1 if noops.forall(_._1.isDefined))
        yield Sample(Took(killed._2.wallS + resumed._2.wallS,
          killed._2.cpuS + resumed._2.cpuS), noops.map(_._2), jobs)
    }

    // set-up: write the input three times (median), then one untimed
    // run of a single partition for JIT, codegen and the compile memo
    val gens = (1 to 3).map(_ =>
      Took(tr.span("setup.generate")(generate(ctx, in)))._2)
    val (_, warm) = Took(tr.span("setup.warmup") {
      rmrf(s"$base/warmup")
      out.op("Runner.run of one partition")(
        Runner.run(s, in, s"$base/warmup", maxParts = 1))(_ == (1, 0))
      rmrf(s"$base/warmup")
    })
    out.put("setup_s",
      ctx.sessionStart.wallS + med(gens.map(_.wallS)) + warm.wallS, "s")
    out.put("setup_cpu_s",
      ctx.sessionStart.cpuS + med(gens.map(_.cpuS)) + warm.cpuS, "s")

    Log.note("set-up done")
    val samples = Seq.newBuilder[Sample]
    var last = ""
    ctx.meter.resetPeak()
    val c0 = ctx.meter.read()
    val w0 = System.nanoTime()
    // a traced run alternates traced and untraced samples, so the
    // tracing overhead is stated against equally warm samples
    val untraced = Seq.newBuilder[Double]
    val n = loop(ctx.seconds, if (ctx.trace) 4 else 3) { i =>
      if (last.nonEmpty) rmrf(last)
      last = s"$base/out-$i"
      if (ctx.trace && i % 2 == 1)
        tr.suspend(sample(last)).foreach(untraced += _.run.wallS)
      else sample(last).foreach(samples += _)
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    Log.note(f"$n timed samples in $windowS%.1f s")
    Log.note("run + resume walls: " +
      samples.result().map(x => f"${x.run.wallS}%.2f").mkString(" ") +
      "; no-op walls: " + samples.result().flatMap(_.noops)
        .map(x => f"${x.wallS}%.2f").mkString(" "))
    val c1 = ctx.meter.read()
    val ss = samples.result()
    val wall = med(ss.map(_.run.wallS))
    out.put("cpu_s", med(ss.map(_.run.cpuS)), "s")
    val noops = ss.flatMap(_.noops)
    out.put("fixed_cpu_s", med(noops.map(_.cpuS)), "s")
    out.put("wall_s", wall, "s")
    out.put("fixed_s", med(noops.map(_.wallS)), "s")
    out.put("peak_exec_mem_mb", c1.peakExec / 1048576.0, "MB")
    out.put("run_s", wall, "s")
    out.put("resume_noop_s", med(noops.map(_.wallS)), "s")
    out.put("out_bytes_per_doc", bytesUnder(last).toDouble / nDocs,
      "bytes/doc")
    out.put("samples", ss.length.toDouble, "count")

    // correctness of the last sample's outputs
    val manifest = Manifest.load(s, last).where(col("status") === "done")
    out.check("one done manifest row per partition") {
      val perPart = manifest.groupBy("partition_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      perPart == (0 until nParts).map(_ -> 1L).toMap
    }
    out.check("manifest n_checked sums to the input rows") {
      manifest.agg(sum("n_checked")).collect()(0).getLong(0) == nDocs
    }
    val docs = s.read.parquet(s"$in/docs").drop("part")
    val media = s.read.parquet(s"$in/media")
    out.check("violations match validateAll on (doc_id, path, expected)") {
      val keys = Seq("doc_id", "path", "expected").map(col)
      val got = Digest(s.read.parquet(s"$last/violations").select(keys: _*))
      got.rows > 0 &&
        got == Digest(SpanDocs.validateAll(docs, media).select(keys: _*))
    }

    if (ctx.trace) {
      out.put((c1 - c0).metrics(windowS, ctx.slots))
      out.put("trace.overhead_frac", wall / med(untraced.result()) - 1, "ratio")
      out.put("runner.jobs_per_partition",
        ss.map(_.resumeJobs).sum.toDouble / (ss.length * (nParts - half)),
        "count")
      out.put("runner.snapshot_id_s",
        out.alone(tr, "runner.Runner.snapshotId")(Runner.snapshotId(s, in)), "s")
      out.put("runner.partition_fps_s",
        out.alone(tr, "runner.Runner.partitionInputFps")(
          Runner.partitionInputFps(s, in)), "s")
      // the snapshot id is listed once, outside the timed calls, so the
      // manifest read is timed without the input listing
      val snap = Runner.snapshotId(s, in)
      out.put("manifest.completed_s",
        out.alone(tr, "manifest.Manifest.completed")(
          Manifest.completed(s, last, snap)), "s")
      out.check("Manifest.completed lists every partition")(
        Manifest.completed(s, last, snap) == (0 until nParts).toSet)
      out.put("manifest.latest_input_fps_s",
        out.alone(tr, "manifest.Manifest.latestInputFps")(
          Manifest.latestInputFps(s, last)), "s")
      out.put("manifest.next_seq_s",
        out.alone(tr, "manifest.Manifest.nextSeq")(Manifest.nextSeq(s, last)), "s")
      out.put("runner.input_files", countFiles(s"$in/docs").toDouble,
        "count")
      out.put("manifest.files", countFiles(Manifest.path(last)).toDouble,
        "count")
      val recomputed = out.op("Runner.run no-op resume")(
        Runner.run(s, in, last))(_ == (0, nParts))
      out.put("runner.partitions_recomputed",
        recomputed.map(_._1.toDouble).getOrElse(nParts.toDouble), "count")
      // Runner.init itself, on its own directory (it generates with the
      // engine's fixed seed, so its output is not the measured input)
      out.put("runner.init_s", out.alone(tr, "runner.Runner.init")(
        Runner.init(s, s"$base/init", nDocs, nParts)), "s")
    }
  }
}
