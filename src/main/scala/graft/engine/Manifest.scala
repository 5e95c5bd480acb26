package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Partition-granular run manifest — the checkpoint-resume log of
  * BASELINE.json `north_rule` ("resumable from checkpoint with
  * per-partition lineage + metrics"). FIXTURES.md §4.
  *
  * An append-only Parquet log (the "manifest Delta" of `north_star`,
  * emulated over plain Parquet since no Iceberg/Delta jars ship —
  * SURVEY.md §7.4): one row per completed (snapshot, partition), carrying
  * metrics and an input fingerprint. Resume = read log, skip partitions
  * whose (snapshot, partition, fingerprint) already completed.
  *
  * Crash-safety contract: a partition's outputs are (over)written BEFORE
  * its manifest row is appended, and output writes are per-partition
  * directories — so a kill at any point leaves either (a) no manifest row
  * → partition redone idempotently, or (b) manifest row present → outputs
  * complete. Completed partitions are never recomputed (SURVEY.md §5.2
  * resume test). [[commitPartition]] is the one place that keeps this
  * order (write → `n_failed` read-back → append): `Runner.run` and the
  * streaming sink both log a partition through it.
  */
object Manifest {

  /** the on-disk row schema; every read declares it, so no read infers
    * it from Parquet footers. Files written before `input_fp` existed
    * read that column as null (those rows resume on snapshot match
    * only). */
  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "snapshot_id STRING, partition_id INT, status STRING, " +
    "n_checked BIGINT, n_failed BIGINT, fingerprint BIGINT, " +
    "seq BIGINT, input_fp STRING")

  val schemaCols: Seq[String] = schema.fieldNames.toSeq

  def path(outDir: String): String = s"$outDir/_manifest"

  /** the log's rows, empty when the directory is missing or holds no
    * data file yet (only `_temporary`, say). Reads the files one listing
    * found, not the directory: Spark treats a root named `_manifest` as
    * hidden and logs a WARN on every directory read (a glob read logs
    * one too, with a stack trace). Past Spark's serial-listing threshold
    * (32 roots by default) a file list would cost a listing job, so a
    * log of more files is read as the directory, WARN and all. */
  def load(spark: SparkSession, outDir: String): DataFrame = {
    // listed through the Hadoop FS — outDir may be HDFS/s3a, not just
    // a local path
    val hp = new org.apache.hadoop.fs.Path(path(outDir))
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      try fs.listStatus(hp).toSeq.collect {
        case f if f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".") => f.getPath.toString
      }
      catch { case _: java.io.FileNotFoundException => Nil }
    val serialRoots = spark.conf.get(
      SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key).toInt
    if (files.isEmpty) spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else if (files.size > serialRoots)
      spark.read.schema(schema).parquet(hp.toString)
    else spark.read.schema(schema).parquet(files: _*)
  }

  /** what resume needs from the log, read in one pass.
    *  - `completed`: partitions with a `done` row for the snapshot asked
    *    about (empty when none was);
    *  - `latestInputFps`: per partition, the `input_fp` of its latest
    *    (by `seq`) `done` row that has one;
    *  - `nextSeq`: one past the largest recorded `seq`, 0 for an empty
    *    log. */
  final case class State(completed: Set[Int],
                         latestInputFps: Map[Int, String],
                         nextSeq: Long)

  /** one grouped action over the log: the driver receives at most one
    * row per partition, however many rows resumes have appended. */
  def state(spark: SparkSession, outDir: String,
            snapshotId: Option[String]): State = {
    val done = col("status") === "done"
    val hasFp = done && col("input_fp").isNotNull
    val rows = load(spark, outDir).groupBy("partition_id").agg(
        bool_or(snapshotId.fold(lit(false))(s =>
          done && col("snapshot_id") === s)).as("done_snap"),
        max_by(when(hasFp, col("input_fp")), when(hasFp, col("seq")))
          .as("input_fp"),
        max(col("seq")).as("max_seq"))
      .collect()
    State(
      rows.filter(r => !r.isNullAt(1) && r.getBoolean(1))
        .map(_.getInt(0)).toSet,
      rows.filterNot(_.isNullAt(2))
        .map(r => r.getInt(0) -> r.getString(2)).toMap,
      rows.filterNot(_.isNullAt(3)).map(_.getLong(3))
        .maxOption.fold(0L)(_ + 1L))
  }

  /** partitions already completed for this snapshot. */
  def completed(spark: SparkSession, outDir: String,
                snapshotId: String): Set[Int] =
    state(spark, outDir, Some(snapshotId)).completed

  /** latest recorded per-partition INPUT fingerprint (any snapshot,
    * latest `seq` wins) — the incremental-resume key: a partition whose
    * current input listing still hashes to its recorded fp has already
    * been validated, even if OTHER partitions' files (and therefore the
    * global snapshot id) changed since. This is the emulated analog of
    * an Iceberg incremental scan: snapshot evolution only recomputes
    * the partitions it actually touched. */
  def latestInputFps(spark: SparkSession, outDir: String)
      : Map[Int, String] =
    state(spark, outDir, None).latestInputFps

  /** next free `seq` value — strictly greater than every recorded row's,
    * so a re-validated partition's new row always wins the
    * latest-row-by-seq tiebreak in [[latestInputFps]]. */
  def nextSeq(spark: SparkSession, outDir: String): Long =
    state(spark, outDir, None).nextSeq

  /** The partition kernel: validates `input` into
    * `outDir/violations/part=<partitionId>` and logs it, in the
    * crash-safety order of the class doc. One `Observation` on `input`
    * counts `n_checked` and xors `rowHash` into the content fingerprint;
    * `violations` must scan its argument once, every row (its other
    * branches read `input` unobserved, so nothing is counted twice), and
    * the metrics ride the violations write. `n_failed` (distinct failing
    * `doc_id`s; `DISTINCT` cannot be observed) is read back with the
    * schema just written, then the manifest row is appended. Returns
    * (`n_checked`, `n_failed`). */
  private[graft] def commitPartition(input: DataFrame, rowHash: Column,
      violations: DataFrame => DataFrame, outDir: String,
      snapshotId: String, partitionId: Int, seq: Long,
      inputFp: Option[String]): (Long, Long) = {
    val spark = input.sparkSession
    val obs = Observation(s"part_$partitionId")
    val viols = violations(input.observe(obs,
      count(lit(1)).as("n_checked"),
      // order-independent (commutative, no overflow under ANSI)
      bit_xor(rowHash).as("fp")))
    val path = s"$outDir/violations/part=$partitionId"
    viols.write.mode(SaveMode.Overwrite).parquet(path)
    val nFailed = spark.read.schema(viols.schema).parquet(path)
      .select("doc_id").distinct().count()
    val metrics = obs.get // from the write job itself
    val nChecked = metrics("n_checked").asInstanceOf[Long]
    append(spark, outDir, snapshotId, partitionId, nChecked, nFailed,
      metrics("fp").asInstanceOf[Long], seq, inputFp)
    (nChecked, nFailed)
  }

  /** append one completed-partition row (atomic enough: parquet append
    * creates a new file; readers take the union). Appends are
    * serialized under a JVM-wide lock: concurrent partition workers
    * (Runner) append to the SAME directory, and Hadoop's
    * FileOutputCommitter stages every job of a path under one shared
    * `_temporary/0/` — overlapping commits would delete each other's
    * staging. The lock costs nothing (a manifest row is one tiny file);
    * the heavy per-partition work stays concurrent. */
  private val appendLock = new Object
  def append(spark: SparkSession, outDir: String, snapshotId: String,
             partitionId: Int, nChecked: Long, nFailed: Long,
             fingerprint: Long, seq: Long,
             inputFp: Option[String] = None): Unit =
      appendLock.synchronized {
    import spark.implicits._
    Seq((snapshotId, partitionId, "done", nChecked, nFailed, fingerprint,
      seq, inputFp.orNull))
      .toDF(schemaCols: _*)
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(path(outDir))
  }
}
