package graft.engine

import graft.gen.SpanGen
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** spark-submit-able validation job with checkpoint resume.
  *
  * Usage (args):
  *   init   <inputDir> <nDocs> <nParts>        — write partitioned input
  *   run    <inputDir> <outDir> [maxParts]     — validate, resumable
  *
  * `run` discovers input partitions (directory-partitioned by `part`),
  * skips those already in the manifest for the current snapshot, and for
  * each pending partition: validates (contract + uniqueness-within-
  * partition + referential), writes its violations to a per-partition
  * output dir, appends the manifest row. Partition
  * pruning makes each per-partition pass scan only its own files
  * (`.where(col("part") === k)` on a directory-partitioned table).
  * `maxParts` caps how many partitions one invocation processes — the
  * hook the kill/resume test uses to simulate a mid-job crash.
  *
  * doc_id uniqueness is checked within each partition only. `init`
  * co-locates a doc_id's copies by hashing `doc_id` into `part`; a
  * layout partitioned any other way (by date, say) can hold one doc_id
  * in two partitions, and no run reports it.
  */
object Runner {

  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-runner")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = session(cpus)
    args.toList match {
      case "init" :: inputDir :: nDocs :: nParts :: Nil =>
        init(spark, inputDir, nDocs.toLong, nParts.toInt)
      case "run" :: inputDir :: outDir :: rest =>
        val maxParts = rest.headOption.map(_.toInt).getOrElse(Int.MaxValue)
        run(spark, inputDir, outDir, maxParts)
      case other =>
        System.err.println(s"unknown args: $other"); sys.exit(2)
    }
    spark.stop()
  }

  def init(spark: SparkSession, inputDir: String, nDocs: Long,
           nParts: Int, format: String = "parquet"): Unit = {
    val docs = SpanGen.docs(spark, nDocs, nParts,
        defects = SpanGen.Defects(nullKind = true, badKind = true,
          danglingRef = true, dupDocId = true, rate = 1000))
      .withColumn("part",
        pmod(xxhash64(col("doc_id")), lit(nParts.toLong)).cast("int"))
    docs.write.mode(SaveMode.Overwrite).partitionBy("part")
      .format(format).save(s"$inputDir/docs")
    SpanGen.media(spark, 10000).write.mode(SaveMode.Overwrite)
      .format(format).save(s"$inputDir/media")
  }

  /** snapshot id = fingerprint of the input file listing (names+sizes) —
    * the partitioned-table stand-in for an Iceberg snapshot id.
    * Resolved through the Hadoop FileSystem API so it works on any
    * supported store (local, HDFS, s3a), not just java.io paths.
    * Counts every DATA file (metadata/hidden files — `_SUCCESS`,
    * `.crc` — excluded), so it is format-agnostic. */
  def snapshotId(spark: SparkSession, inputDir: String): String =
    hashListing(dataFiles(spark, inputDir))

  private def hashListing(files: Seq[String]): String =
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        files.sorted.mkString("\n")).toLong)

  /** one recursive listing of `inputDir/docs`, every data file as
    * `path:size`; `run` derives the snapshot id, the per-partition input
    * fingerprints and the partition set from a single call. */
  private def dataFiles(spark: SparkSession, inputDir: String)
      : Seq[String] = {
    val p = new Path(s"$inputDir/docs")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        files += s"${f.getPath.toUri.getPath}:${f.getLen}"
    }
    files.toSeq
  }

  /** per-partition INPUT fingerprints: each `part=k` directory's file
    * listing (paths+sizes) hashed independently — the incremental-scan
    * key. A snapshot that only appended files to partition 3 changes
    * partition 3's fp and nobody else's, so resume recomputes exactly
    * the touched partitions (the global snapshot id, by contrast,
    * changes whenever ANY file changes). Empty map when the layout is
    * not `part=k`-partitioned — callers then fall back to global
    * snapshot-keyed resume. */
  def partitionInputFps(spark: SparkSession, inputDir: String)
      : Map[Int, String] =
    partitionFps(dataFiles(spark, inputDir))

  private val PartRe = ".*/part=(\\d+)/.*".r
  private def partitionFps(files: Seq[String]): Map[Int, String] = {
    val keyed = files.map {
      case f @ PartRe(k) => k.toInt -> f
      case _             => -1 -> "" // unpartitioned layout marker
    }
    if (keyed.exists(_._1 < 0)) Map.empty
    else keyed.groupBy(_._1)
      .map { case (k, fs) => k -> hashListing(fs.map(_._2)) }
  }

  private val ConcurrencyKey = "spark.graft.runner.concurrency"

  /** `spark.graft.runner.concurrency`, default 4; anything but an
    * integer >= 1 fails with a message that names the key. */
  private def concurrency(spark: SparkSession): Int =
    spark.conf.getOption(ConcurrencyKey).fold(4) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"$ConcurrencyKey must be an integer >= 1, got '$v'"))
    }

  /** the run's contract catalog, written with every run manifest so
    * outputs record exactly which contracts they enforced (the `publish`
    * / documentationTable analog, SURVEY.md §3.3). */
  def registry: graft.contracts.ContractRegistry =
    new graft.contracts.ContractRegistry("graft.engine")
      .register("spanDoc", SpanDocs.contract,
        "interleaved text+media span document", "core")
      .register("textSpan", SpanDocs.textSpan, "text span branch", "core")
      .register("mediaSpan", SpanDocs.mediaSpan, "media span branch",
        "core")

  /** thrown when the violation-rate circuit breaker trips: at 10¹² rows
    * a systematically-broken snapshot (bad upstream writer, schema
    * drift) must fail in minutes, not burn a day writing 10¹¹ violation
    * rows. Completed partitions keep their manifest rows, so a rerun
    * after the fix resumes instead of restarting. */
  final case class RunAborted(processed: Int, nChecked: Long,
                              nFailed: Long, maxRate: Double)
      extends RuntimeException(
        f"validation aborted: violation rate ${nFailed.toDouble /
          math.max(1L, nChecked)}%.4f over $nChecked%d docs after " +
        f"$processed%d partitions exceeds maxViolRate=$maxRate%.4f")

  /** `text` as the whole content of `path`, replaced atomically */
  private def writeUtf8(path: Path, text: String, conf: Configuration)
      : Unit =
    Manifest.replaceAtomically(path, conf) { tmp =>
      val out = tmp.getFileSystem(conf).create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }

  /** the schema-drift gate: compares `cur` against the schema recorded
    * at `path` by the last run that validated a partition, throws on
    * breaking drift unless `allowBreakingDrift`, then records `cur`
    * (O(schema), runs before any data is touched) */
  private def recordSchema(path: Path, cur: StructType,
      allowBreakingDrift: Boolean, conf: Configuration): Unit = {
    val fs = path.getFileSystem(conf)
    if (fs.exists(path)) {
      val in = fs.open(path)
      val prevJson =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val prev = DataType.fromJson(prevJson).asInstanceOf[StructType]
      val changes = SchemaEvolution.diff(prev, cur)
      val breaking = changes.filterNot(_.safe)
      if (breaking.nonEmpty && !allowBreakingDrift)
        throw SchemaEvolution.SchemaDriftError(breaking, changes)
    }
    writeUtf8(path, cur.json, conf)
  }

  /** Validates the pending partitions of `inputDir/docs` into `outDir`
    * and returns (processed, skipped) partition counts.
    *
    * `format` is any Spark DataSource able to represent the span schema
    * (parquet default; orc and json ship with Spark — json callers
    * should write with an embedded-schema-preserving generator or
    * accept inference). The violations/manifest SINK stays parquet:
    * outputs are the engine's own artifact, inputs are whatever the
    * lake holds.
    *
    * Resume is two-keyed: a partition is skipped when its manifest row
    * matches the current global snapshot id (the round-2 behavior), OR
    * when its recorded per-partition input fingerprint still matches
    * the current `part=k` file listing — so appending one partition's
    * files to a 10¹²-row table recomputes ONE partition, not all of
    * them (incremental-scan semantics; see [[partitionInputFps]]).
    *
    * Set-up cost is O(1) Spark jobs, whatever the partition count: the
    * input is listed once, and the snapshot id, the per-partition input
    * fingerprints and the partition set (the `part=k` directory names)
    * all derive from that listing; only a layout that is not `part=k`
    * pays a `distinct` scan of the `part` column. The manifest is read
    * once, with its declared schema, in one job with no shuffle that
    * returns at most one entry per partition per scan task
    * ([[Manifest.state]]). The docs and media tables are read only when
    * some partition is pending (each schema merge is a job), so a no-op
    * resume runs one job, the manifest read, and records no schema.
    * Because partitions are named by their directories, a `part=k`
    * directory whose data files hold zero rows is a partition: it is
    * validated with `n_checked = 0` and gets a manifest row
    * (`partitionBy` never writes such a directory).
    *
    * Per partition, one call of [[Manifest.commitPartition]] (the
    * partition kernel the streaming sink shares) validates the slice
    * with [[SpanDocs.validateAll]]'s plan, writes its violations and
    * appends its manifest row. Input row count and the content
    * fingerprint are OBSERVED on the contract-validation branch of the
    * violations write (`observe` metrics ride the write job for free).
    * The manifest row is written by the driver, not by a Spark job.
    * Measured on `init`'s layout (2000 docs, 4 partitions): the write
    * and the distinct-failing-docs read-back cost six jobs a partition
    * (AQE runs each shuffle and broadcast stage as its own job); a first
    * run into an empty `outDir` adds two set-up jobs, the docs and media
    * schema merges (8 for one partition, 14 for two), and a resume of
    * two partitions runs 15 jobs (three set-up jobs: the two schema
    * merges and the manifest read).
    *
    * Partitions are processed `spark.graft.runner.concurrency`-way
    * concurrently (default 4; an integer >= 1): each is an independent
    * Spark job, so the scheduler interleaves their stages and a long
    * tail partition no longer serializes the run. Crash-safety is per
    * partition (outputs before manifest row), so concurrency does not
    * weaken resume.
    *
    * `maxViolRate` arms the circuit breaker: once the cumulative
    * distinct-failing-doc rate across completed partitions exceeds it,
    * no further partitions start and [[RunAborted]] is thrown.
    *
    * Schema evolution (Iceberg read semantics over the emulated lake):
    * inputs are read with `mergeSchema`, so a snapshot that ADDED a
    * column reads old files as null and the non-strict contract ignores
    * the extra — additive evolution validates without reconfiguration.
    * The docs schema of every run that validates a partition is recorded
    * at `outDir/_schema.json` (replaced atomically, as is
    * `_registry.json`); when the current snapshot's schema has BREAKING
    * drift vs the last validated one (removed/retyped fields — see
    * [[SchemaEvolution.Change.safe]]) the run throws
    * [[SchemaEvolution.SchemaDriftError]] before any partition starts,
    * naming the exact paths. `allowBreakingDrift` overrides the gate
    * (the recorded schema then advances to the new shape). */
  def run(spark: SparkSession, inputDir: String, outDir: String,
          maxParts: Int = Int.MaxValue,
          format: String = "parquet",
          maxViolRate: Option[Double] = None,
          allowBreakingDrift: Boolean = false): (Int, Int) = {
    val conc = concurrency(spark)
    val files = dataFiles(spark, inputDir)
    val snap = hashListing(files)
    val conf = spark.sparkContext.hadoopConfiguration
    // contract catalog rides with the outputs (idempotent overwrite),
    // written through the Hadoop FS so outDir may be any store
    writeUtf8(new Path(outDir, "_registry.json"), registry.toManifestJson,
      conf)
    // mergeSchema: evolved snapshots whose newer files carry added
    // columns read as the union schema (old files -> null), the
    // add-column evolution Iceberg guarantees; parquet/orc honor the
    // option, other sources ignore it harmlessly. Read only when some
    // partition is pending or the layout is not `part=k` (its schema
    // merge is a job)
    lazy val docs = spark.read.option("mergeSchema", "true")
      .format(format).load(s"$inputDir/docs")
    val partFps = partitionFps(files)
    val parts =
      if (partFps.nonEmpty) partFps.keys.toArray.sorted
      else docs.select("part").distinct().collect().map(_.getInt(0)).sorted
    val manifest = Manifest.state(spark, outDir, Some(snap))
    val doneFp = parts.filter(k => manifest.latestInputFps.get(k)
      .exists(fp => partFps.get(k).contains(fp))).toSet
    val done = manifest.completed ++ doneFp
    val pending = parts.filterNot(done).take(maxParts)
    if (pending.nonEmpty)
      recordSchema(new Path(outDir, "_schema.json"), docs.drop("part").schema,
        allowBreakingDrift, conf)
    // read only when there is work (its schema merge is a job). Not
    // cached: each partition's broadcast reads only `media_id`, and a
    // cache costs a materialization job per concurrent partition
    lazy val media = spark.read.option("mergeSchema", "true")
      .format(format).load(s"$inputDir/media")
    val seq = new java.util.concurrent.atomic.AtomicLong(manifest.nextSeq)
    val checkedTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    val failedTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(conc, pending.length max 1))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = pending.toSeq.map { k =>
      scala.concurrent.Future {
        if (!tripped.get) {
          val slice = docs.where(col("part") === k) // partition-pruned scan
          val (n, f) = Manifest.commitPartition(slice,
            xxhash64(col("doc_id"), to_json(col("spans"))),
            SpanDocs.validateAll(_, slice, media),
            outDir, snap, k, seq.getAndIncrement(), partFps.get(k))
          ran.incrementAndGet()
          val c = checkedTotal.addAndGet(n)
          val failed = failedTotal.addAndGet(f)
          maxViolRate.foreach { r =>
            if (c > 0 && failed.toDouble / c > r) tripped.set(true)
          }
        }
      }
    }
    import scala.concurrent.duration._
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), 24.hours)
    finally pool.shutdown() // non-daemon threads would pin the JVM on failure
    if (tripped.get)
      throw RunAborted(ran.get(), checkedTotal.get(), failedTotal.get(),
        maxViolRate.get)
    (pending.length, done.size)
  }
}
