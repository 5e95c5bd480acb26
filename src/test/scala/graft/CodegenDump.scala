package graft

import graft.contracts.{C, ObjectC}
import graft.functions.ContractCheck
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Writes the whole-stage generated Java of a `ContractCheck` filter to
  * a file, so the verdict code of two checkouts can be diffed:
  *
  * {{{
  * sbt --batch "Test/runMain graft.CodegenDump flagship|shapes OUT.java"
  * }}}
  *
  * `flagship` checks `SpanDocs.contract` over ten generated span docs
  * (objects, arrays, and/or, string and fold leaves). `shapes` checks
  * the shape-matrix contract of ContractCheckSpec (array and struct
  * tuples, a hash, a strict object with an optional field, an optional
  * falsy, a regex leaf and an array of or) over its fixture rows. The
  * input is cached, so the filter is whole-stage generated; `#N`
  * expression ids are stripped because they differ per session. Fresh
  * variable names (`name_N`) still differ between versions of the
  * generator; map them to one token before a diff (see the verify
  * notes, "Generated verdict unchanged").
  */
object CodegenDump {

  /** ContractCheckSpec's shape-matrix contract */
  val shapes: ObjectC = C.obj(
    "t" -> C.tuple(C.value(1), C.integer),
    "ts" -> C.tuple(C.string, C.number),
    "h" -> C.hash(C.number),
    "o" -> C.obj("y" -> C.optional(C.oneOf("a", "b"))).strict,
    "f" -> C.optional(C.falsy),
    "s" -> C.matches("^x+$"),
    "xs" -> C.array(C.or(C.string, C.value("z"))))

  private def shapeRows(spark: SparkSession): DataFrame = Seq(
    """array(1, 5) as t, named_struct('a','s','b',2.0) as ts,
      |map('k', 1.0) as h, named_struct('y','a') as o,
      |0 as f, 'xxx' as s, array('p','q') as xs""".stripMargin,
    """array(2, 5) as t, named_struct('a',cast(null as string),'b',2.0)
      |as ts, map('k', cast(null as double)) as h,
      |named_struct('y',cast(null as string)) as o,
      |cast(null as int) as f, 'yyy' as s, array('p') as xs""".stripMargin)
    .map(p => spark.sql(s"SELECT $p")).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: CodegenDump flagship|shapes OUT.java")
    val spark = SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (df, contract) = args(0) match {
      case "flagship" =>
        (graft.gen.SpanGen.docs(spark, 10, 1), graft.engine.SpanDocs.contract)
      case "shapes" => (shapeRows(spark), shapes)
      case other => throw new IllegalArgumentException(
        s"unknown dump '$other' (flagship | shapes)")
    }
    val docs = df.cache()
    val q = docs.where(
      ContractCheck.rowFirstViolation(docs, contract).isNotNull)
    val src = org.apache.spark.sql.execution.debug.codegenStringSeq(
      q.queryExecution.executedPlan).map(_._2).mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(args(1)),
      src.replaceAll("#\\d+", "").getBytes("UTF-8"))
    spark.stop()
  }
}
