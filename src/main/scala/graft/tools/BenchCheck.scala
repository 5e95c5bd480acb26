package graft.tools

import graft.engine.{SpanDocs, Validate}
import graft.functions.ContractCheck
import graft.gen.SpanGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** micro-bench: flagship span validation through (a) the generic HOF
  * compiler, (b) the codegen verdict compiler (ContractCheck).
  * Interleaved min-of-3. */
object BenchCheck {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val n = sys.env.getOrElse("N_DOCS", "2000000").toLong
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = SpanGen.docs(spark, n, cpus * 4,
      defects = SpanGen.Defects(nullKind = true, badKind = true,
        rate = 10000)).cache()
    docs.count()
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); val c = f
      (System.nanoTime() - t0) / 1e9
    }
    def generic() = docs.where(
      Validate.firstViolation(docs, SpanDocs.contract).isNotNull).count()
    def cc() = docs.where(ContractCheck.rowFirstViolation(docs,
      SpanDocs.contract, "docs").isNotNull).count()
    // warm both
    generic(); cc()
    val results = (1 to 3).map(_ => (time(generic()), time(cc())))
    val g = results.map(_._1).min
    val c = results.map(_._2).min
    // wide-contract section: 350 leaves over 35 fields — past round 2's
    // 300-leaf guard, so this contract used to fall back to the generic
    // compile; now it stays on the method-split codegen verdict.
    // Few partitions + modest rows: the GENERIC side's wall-clock is
    // dominated by per-task deserialization of its serialized expression
    // tree (the self-render embeds per required field → tree size is
    // O(fields²); analysis un-shares the copies) plus interpreted
    // evaluation — both part of the pathology being measured, and both
    // costs the verdict loop's generated code avoids at eval time.
    import graft.contracts.{C, Contract}
    val nf = 35
    val wideC = C.obj((0 until nf).map { i =>
      s"f$i" -> (C.and(Seq.fill(9)(C.integer: Contract) :+
        (C.between(0, (Long.MaxValue / 2).toDouble): Contract): _*): Contract)
    }: _*)
    val nWide = 200000L
    val wide = spark.range(0, nWide, 1, 4)
      .select((0 until nf).map(i =>
        (col("id") * (i + 1)).as(s"f$i")): _*).cache()
    wide.count()
    // construct ONCE, execute repeatedly: a Dataset caches its analyzed
    // plan, so repeated count() isolates EVAL cost. (Construction itself
    // is a one-time driver cost either way — both paths analyze the same
    // giant payload tree; rowFirstViolation pays it twice.)
    val genericWideDf = wide.where(
      Validate.firstViolation(wide, wideC).isNotNull)
    val ccWideDf = wide.where(ContractCheck.rowFirstViolation(wide,
      wideC, "wide").isNotNull)
    genericWideDf.count(); ccWideDf.count() // warm (codegen + cache)
    val wres = (1 to 3).map(_ =>
      (time(genericWideDf.count()), time(ccWideDf.count())))
    val gw = wres.map(_._1).min
    val cw = wres.map(_._2).min
    println(f"{\"generic_sec\":$g%.2f," +
      f"\"contractcheck_sec\":$c%.2f,\"n\":$n," +
      f"\"wide350_generic_sec\":$gw%.2f," +
      f"\"wide350_contractcheck_sec\":$cw%.2f,\"n_wide\":$nWide}")
    spark.stop()
  }
}
