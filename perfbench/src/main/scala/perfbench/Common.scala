package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class Metric(name: String, value: Double, unit: String)

/** everything a workload needs: the session, the run's arguments, the
  * tracer and the listener counters. `work` is the benchmark's own
  * scratch directory inside the checkout; `sweepTables` the directory
  * of the query sweep's input tables. */
final case class Ctx(spark: SparkSession, slots: Int, seed: Long,
                     seconds: Int, tracer: Tracer, meter: Meter,
                     work: java.io.File, sweepTables: String,
                     sessionStart: Took) {
  def trace: Boolean = tracer.enabled
  def dir(name: String): String = new java.io.File(work, name).getPath
}

/** what one run produced: operations attempted and failed, and every
  * metric measured (end-to-end and per-layer alike; run.py selects the
  * set the run was asked for). */
final class Outcome {
  var attempted = 0
  var failed = 0
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  /** the query sweep's captured outputs, for run.py's oracle replay */
  var oracle: Option[String] = None

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = Metric(name, value, unit)
  def put(ms: Seq[Metric]): Unit = ms.foreach(m => metrics(m.name) = m)

  /** one operation: counts as attempted, and as failed when it throws
    * or `ok` rejects its result. */
  def op[A](what: String)(body: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    try {
      val a = body
      if (!ok(a)) {
        failed += 1
        System.err.println(s"perfbench: output check failed: $what")
      }
      Some(a)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: operation failed: $what: $e")
        None
    }
  }

  /** wall seconds of one call made alone, median of three. */
  def alone(tracer: Tracer, label: String)(f: => Any): Double =
    Timing.med((1 to 3).map { _ =>
      tracer.newOp()
      Timing.time(op(label)(tracer.span(label)(f))(_ => true))._2
    })

  /** a correctness check on outputs already produced. */
  def check(what: String)(ok: => Boolean): Unit = {
    op(what)(ok)(identity)
    ()
  }
}

/** progress lines on stderr, stamped with seconds since start. */
object Log {
  private val t0 = System.nanoTime()
  def note(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - t0) / 1e9}%.1f s] $msg")
}

trait Workload {
  def name: String
  def run(ctx: Ctx, out: Outcome): Unit
}

/** wall and CPU seconds of one piece of work. CPU is the whole JVM's:
  * every thread, the calling thread, Spark's task threads, GC and JIT. */
final case class Took(wallS: Double, cpuS: Double)

object Took {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNow(): Double = os.getProcessCpuTime / 1e9

  def apply[A](body: => A): (A, Took) = {
    val c0 = cpuNow()
    val t0 = System.nanoTime()
    val a = body
    (a, Took((System.nanoTime() - t0) / 1e9, cpuNow() - c0))
  }
}

object Timing {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def med(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** run `body` until `seconds` have passed and at least `min` times. */
  def loop(seconds: Double, min: Int)(body: Int => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < min || System.nanoTime() < deadline) {
      body(i)
      i += 1
    }
    i
  }
}

/** Order-independent digest of a result: its row count and the sum of
  * one 64-bit hash per row over EVERY output column. Unlike `count()`,
  * which lets the optimizer prune columns the count does not need, the
  * hash forces every column (violation messages included) to be
  * computed. Floating-point columns are hashed rounded to `decimals`
  * places, so that summation order cannot change the digest. */
object Digest {
  final case class D(rows: Long, hash: BigDecimal)

  private def hashable(c: Column, dt: DataType, decimals: Int): Column =
    dt match {
      case FloatType | DoubleType => round(c.cast("double"), decimals)
      case ArrayType(FloatType | DoubleType, _) =>
        transform(c, x => round(x.cast("double"), decimals))
      case _: MapType => to_json(c)
      case _ => c
    }

  /** the digest as a DataFrame (one row), so callers can read its
    * query-execution phases after collecting it. */
  def frame(df: DataFrame, decimals: Int = 6): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f =>
      hashable(col(s"`${f.name}`"), f.dataType, decimals))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)).as("rows"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("hash"))
  }

  def read(f: DataFrame): D = {
    val r = f.collect()(0)
    D(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def apply(df: DataFrame, decimals: Int = 6): D = read(frame(df, decimals))
}

/** host context, recorded on every run and never used to normalise a
  * metric: a fixed XXH64 hashing loop (CPU steal comes from
  * `graft.tools.StealGate`). */
object Host {
  private val sink = new java.util.concurrent.atomic.AtomicLong

  /** 64-bit hashes of a 553-byte buffer per second over `threads`
    * threads, best of three (the shape of graft.Bench's host probe). */
  def probeHashPerS(threads: Int): Double = {
    val docBytes = 553
    val perThread = 200000
    def once(): Double = {
      val ts = (0 until threads).map { t =>
        new Thread(() => {
          val buf = Array.tabulate(docBytes)(i => ((t * 131 + i) & 0xff).toByte)
          var acc = 0L
          var i = 0
          while (i < perThread) {
            acc ^= org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(buf,
                org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                docBytes, i)
            i += 1
          }
          sink.addAndGet(acc)
          ()
        })
      }
      val t0 = System.nanoTime()
      ts.foreach(_.start())
      ts.foreach(_.join())
      threads.toLong * perThread / ((System.nanoTime() - t0) / 1e9)
    }
    (1 to 3).map(_ => once()).max
  }
}

/** Catalyst phase times of an executed query, from its
  * QueryExecution tracker. */
object Phases {
  def ms(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, p) =>
      k -> (p.endTimeMs - p.startTimeMs).toDouble
    }
}
