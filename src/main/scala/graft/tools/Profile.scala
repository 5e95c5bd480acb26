package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.contracts.CompileCache
import graft.pipeline.GramCache
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Where did a query's time go? Runs named [[SparkEntry.queries]] over
  * one or more data dirs in one session and prints one JSON record per
  * (dir, query): per rep its wall and steal fraction, construct time
  * and `CompileCache` misses, the Catalyst phases of the action, output
  * rows, the join/sort/exchange operators of the executed plan and
  * every stage it ran. Measured as Bench measures: `SparkEntry.stageAll`
  * once per dir, then each rep builds the query and runs `count()`
  * inside a `GramCache.withGramCache` bracket. Usage, fields and units:
  * tools/README.md, "Profile".
  */
object Profile {

  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
                         cpuS: Double, runS: Double, gcS: Double,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long, recordsRead: Long,
                         recordsWritten: Long)

  final case class Rep(wallS: Double, stealFrac: Double, constructMs: Double,
                       cacheMisses: Int, phasesMs: Map[String, Long],
                       rows: Long, ops: Map[String, Int], stages: Seq[Stage])

  final case class Record(dir: String, query: String, bestS: Double,
                          reps: Seq[Rep])

  /** profile `spec` on each of `dirs` in turn, `reps` reps each, and
    * hand every record to `emit` as soon as it is complete. `all` skips
    * the O(n²) audit twins on `_xN` replica dirs, as Bench does. */
  def run(spark: SparkSession, spec: Seq[String], dirs: Seq[String],
          reps: Int, plans: Option[String])(emit: Record => Unit): Unit = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try dirs.foreach { dir =>
      SparkEntry.stageAll(spark, dir)
      val replica = new java.io.File(dir).getName.matches(".*_x[0-9]+")
      val qs = if (spec != Seq("all")) spec
        else SparkEntry.queries.keys.toSeq.sorted.filterNot(q => replica &&
          q.matches("ann_cosine_topk|dedup_embedding_cosine"))
      qs.foreach { q =>
        val rs = (1 to reps).map { _ =>
          val group = s"graft-profile/$q/${java.util.UUID.randomUUID}"
          sc.setJobGroup(group, s"profile $q", interruptOnCancel = false)
          var (constructNs, misses, rows) = (0L, 0, 0L)
          val (wall, steal) = try GramCache.withGramCache {
            StealGate.timeSteal {
              val c0 = CompileCache.size
              val t0 = System.nanoTime()
              val df = SparkEntry.queries(q)(spark, dir)
              constructNs = System.nanoTime() - t0
              misses = CompileCache.size - c0
              rows = df.count()
            }
          } finally sc.clearJobGroup()
          GraftColumnBridge.drainListenerBus(sc)
          val (stages, action) = rec.take(group)
          Rep(wall, steal, constructNs / 1e6, misses,
            action.fold(Map.empty[String, Long])(_.tracker.phases.map {
              case (p, s) => p -> (s.endTimeMs - s.startTimeMs) }), rows,
            action.fold(Map.empty[String, Int])(operators), stages)
        }
        plans.filter(_ => dir == dirs.head).foreach { d =>
          val p = java.nio.file.Paths.get(d, s"$q.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, SparkEntry.queries(q)(spark, dir)
            .queryExecution.explainString(FormattedMode))
        }
        emit(Record(dir, q, StealGate.minPreferClean(
          rs.map(r => (r.wallS, r.stealFrac))), rs))
      }
    } finally {
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
    }
  }

  /** join, sort and exchange operators of the executed plan (AQE
    * stages and subqueries included), by `SparkPlan.nodeName` */
  private def operators(qe: QueryExecution): Map[String, Int] =
    Plans.collectWithSubqueries(qe.executedPlan) { case p => p.nodeName }
      .filter(_.matches(".*(Join|Exchange)|Sort|CartesianProduct"))
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The one SparkListener and QueryExecutionListener of a `run`. A
    * stage belongs to the rep whose job group its job ran in. The action
    * is the last `count` delivered before the rep's drain, since Spark's
    * callback names no job group (an action another thread ran on the
    * session meanwhile would be mistaken for it). */
  private final class Recorder
      extends SparkListener with QueryExecutionListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]
    private val stages = new ConcurrentLinkedQueue[(String, Stage)]
    private val counts = new ConcurrentLinkedQueue[QueryExecution]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val (i, m) = (e.stageInfo, e.stageInfo.taskMetrics)
      val g = stageGroup.get(i.stageId)
      if (g != null) stages.add(g -> Stage(i.stageId,
        i.name.takeWhile(_ != '\n'), i.numTasks,
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
        m.executorCpuTime / 1e9, m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten))
    }

    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      if (fn == "count") counts.add(qe)

    override def onFailure(fn: String, qe: QueryExecution,
                           e: Exception): Unit = ()

    /** the stages `group` ran, by id, and the last `count` since the
      * previous call (the caller drained the bus); drops all it holds */
    def take(group: String): (Seq[Stage], Option[QueryExecution]) = {
      val ss = stages.asScala.collect { case (`group`, s) => s }.toSeq
      val action = counts.asScala.lastOption
      stageGroup.clear(); stages.clear(); counts.clear()
      (ss.sortBy(_.id), action)
    }
  }

  /** a record as JSON: fields in declaration order, named in snake case */
  private def json(v: Any): String = v match {
    case s: String => s.flatMap {
      case c @ ('"' | '\\') => s"\\$c"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
    case d: Double => f"$d%.4f"
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${json(k)}:${json(x)}" }.sorted
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => p.productElementNames.zip(p.productIterator).map {
      case (k, x) =>
        json(k.replaceAll("([A-Z])", "_$1").toLowerCase) + ":" + json(x)
    }.mkString("{", ",", "}")
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    def usage(why: String): Nothing = {
      System.err.println(s"$why\nusage: graft.tools.Profile [--reps N] " +
        "[--plans DIR] QUERIES|all [DIR ...]")
      sys.exit(2)
    }
    val flags = Set("--reps", "--plans")
    def flag(f: String) = args.indexOf(f) match {
      case -1 => None
      case i => Some(args.lift(i + 1).getOrElse(usage(s"$f needs a value")))
    }
    val reps = flag("--reps").fold(3)(n => n.toIntOption.filter(_ > 0)
      .getOrElse(usage(s"--reps needs a positive integer, got '$n'")))
    val rest = args.indices.collect { case i if !flags(args(i)) &&
      !(i > 0 && flags(args(i - 1))) => args(i) }
    val spec = rest.headOption.getOrElse(usage("no QUERIES given"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown =
      if (spec == Seq("all")) Nil else spec.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) usage(s"unknown query: ${unknown.mkString(", ")}")
    val dirs = if (rest.size > 1) rest.tail
      else sys.env.get("SPARK_GRAFT_SF_DIR").toSeq
    if (dirs.isEmpty) usage("no DIR given and SPARK_GRAFT_SF_DIR is unset")
    val spark = graft.engine.Runner.session(sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
    try run(spark, spec, dirs, reps, flag("--plans"))(r => println(json(r)))
    finally spark.stop()
  }
}
