package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}

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
  * Each row is one Parquet file that the driver writes itself, with no
  * Spark job, the way a table log commits an entry: the file is written
  * under a hidden temp name and renamed to a unique `part-<uuid>.parquet`
  * ([[replaceAtomically]]). A killed append leaves at most a hidden file,
  * which no read lists; appends from concurrent partition workers write
  * distinct files and need no lock.
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
  private val schema = StructType.fromDDL(
    "snapshot_id STRING, partition_id INT, status STRING, " +
    "n_checked BIGINT, n_failed BIGINT, fingerprint BIGINT, " +
    "seq BIGINT, input_fp STRING")

  /** the Parquet schema of a manifest file, as Spark's writer converted
    * the rows the append wrote with a Spark job: `binary (STRING)`,
    * `int32` and `int64`, the strings optional and the numbers
    * required (they were primitive fields of a tuple) */
  private val fileSchema = new org.apache.spark.sql.execution.datasources
    .parquet.SparkToParquetSchemaConverter(new SQLConf).convert(
      StructType(schema.map(f => f.copy(nullable = f.dataType == StringType))))

  val schemaCols: Seq[String] = schema.fieldNames.toSeq

  def path(outDir: String): String = s"$outDir/_manifest"

  /** the log's data files read with the declared schema; None when the
    * directory is missing or holds no data file yet (only `_temporary`
    * or a hidden temp file, say). Reads the files one listing found, not
    * the directory: Spark treats a root named `_manifest` as hidden and
    * logs a WARN on every directory read (a glob read logs one too, with
    * a stack trace). Past Spark's serial-listing threshold (32 roots by
    * default) a file list would cost a listing job, so a log of more
    * files is read as the directory, WARN and all. */
  private def read(spark: SparkSession, outDir: String)
      : Option[DataFrame] = {
    // listed through the Hadoop FS — outDir may be HDFS/s3a, not just
    // a local path
    val hp = new Path(path(outDir))
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      try fs.listStatus(hp).toSeq.collect {
        case f if f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".") => f.getPath.toString
      }
      catch { case _: java.io.FileNotFoundException => Nil }
    val serialRoots = spark.conf.get(
      SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key).toInt
    if (files.isEmpty) None
    else if (files.size > serialRoots)
      Some(spark.read.schema(schema).parquet(hp.toString))
    else Some(spark.read.schema(schema).parquet(files: _*))
  }

  /** the log's rows, empty when it has no data file */
  def load(spark: SparkSession, outDir: String): DataFrame =
    read(spark, outDir).getOrElse(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema))

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

  /** [[State]] of some of the log's rows, before `nextSeq` is derived:
    * `latest` keeps the `(seq, input_fp)` of each partition's latest
    * `done` row that has both. Rows fold in, partials merge, in any
    * order. */
  private final case class Partial(completed: Set[Int],
      latest: Map[Int, (Long, String)], maxSeq: Option[Long]) {

    private def later(m: Map[Int, (Long, String)], k: Int,
                      seqFp: (Long, String)) =
      if (m.get(k).forall(_._1 < seqFp._1)) m.updated(k, seqFp) else m

    /** a row of (partition_id, status, snapshot_id, seq, input_fp); a
      * null `seq` or `input_fp` is skipped, as `max`/`max_by` skip it */
    def add(r: Row, snapshotId: Option[String]): Partial = {
      val k = if (r.isNullAt(0)) None else Some(r.getInt(0))
      val done = r.getString(1) == "done"
      val seq = if (r.isNullAt(3)) None else Some(r.getLong(3))
      Partial(
        k.filter(_ => done && snapshotId.contains(r.getString(2)))
          .fold(completed)(completed + _),
        (k, seq, Option(r.getString(4))) match {
          case (Some(p), Some(s), Some(fp)) if done =>
            later(latest, p, (s, fp))
          case _ => latest
        },
        (maxSeq ++ seq).maxOption)
    }

    def merge(o: Partial): Partial = Partial(completed ++ o.completed,
      o.latest.foldLeft(latest) { case (m, (k, sf)) => later(m, k, sf) },
      (maxSeq ++ o.maxSeq).maxOption)
  }

  /** one Spark job with no shuffle: each scan task folds its rows into a
    * [[Partial]], and the driver merges the partials, so it receives at
    * most one entry per partition per task however many rows resumes
    * have appended. A log with no data file is decided without a job. */
  def state(spark: SparkSession, outDir: String,
            snapshotId: Option[String]): State = {
    val empty = Partial(Set.empty, Map.empty, None)
    val all = read(spark, outDir).fold(empty) { log =>
      log.select("partition_id", "status", "snapshot_id", "seq", "input_fp")
        .rdd.mapPartitions(rows =>
          Iterator.single(rows.foldLeft(empty)(_.add(_, snapshotId))))
        .collect().foldLeft(empty)(_ merge _)
    }
    State(all.completed, all.latest.map { case (k, (_, fp)) => k -> fp },
      all.maxSeq.fold(0L)(_ + 1L))
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

  /** writes `target` whole or not at all: `write` fills the hidden
    * sibling `.<name>.tmp`, which is then renamed over `target`
    * (`Options.Rename.OVERWRITE`). A failed write removes the temp file,
    * and a killed one leaves only it, so `target` keeps its previous
    * content either way. */
  private[graft] def replaceAtomically(target: Path, conf: Configuration)(
      write: Path => Unit): Unit = {
    val fs = target.getFileSystem(conf)
    val dst = fs.makeQualified(target)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    try {
      write(tmp)
      FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  /** append one completed-partition row as a new one-row Parquet file,
    * written on the driver (no Spark job) with Spark's column names and
    * physical types; readers take the union of the files. */
  def append(spark: SparkSession, outDir: String, snapshotId: String,
             partitionId: Int, nChecked: Long, nFailed: Long,
             fingerprint: Long, seq: Long,
             inputFp: Option[String] = None): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val row = new SimpleGroup(fileSchema)
    Option(snapshotId).foreach(row.add("snapshot_id", _))
    row.add("partition_id", partitionId)
    row.add("status", "done")
    row.add("n_checked", nChecked)
    row.add("n_failed", nFailed)
    row.add("fingerprint", fingerprint)
    row.add("seq", seq)
    inputFp.foreach(row.add("input_fp", _))
    val file = new Path(path(outDir),
      s"part-${java.util.UUID.randomUUID}.parquet")
    replaceAtomically(file, conf) { tmp =>
      val w = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(tmp, conf)).withConf(conf)
        .withType(fileSchema).build()
      try w.write(row) finally w.close()
    }
  }
}
