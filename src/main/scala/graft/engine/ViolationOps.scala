package graft.engine

import graft.contracts._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Violation-set utilities (SURVEY.md §2.9: window functions, top-k
  * sampling, set ops). */
object ViolationOps {

  /** collect-ALL violations per row (engine extension of the
    * first-violation parity surface): one output row per violation, in
    * depth-first order, `seq` numbering them within a document. */
  def allViolations(df: DataFrame, contract: ObjectC, idCol: String,
                    thing: String = "data"): DataFrame = {
    implicit val env: MsgEnv = MsgEnv(thing, contract)
    val rowType = org.apache.spark.sql.types.StructType(df.schema.fields)
    val rowCol = struct(df.columns.toSeq.map(col): _*)
    // the collect-all expression is a pure function of
    // (contract, schema, thing) — memoized AND constant-folded once
    // (see graft.functions.VerdictCompiler.foldedColumn)
    val vs = CompileCache.memo(
      ("allViols", new CompileCache.IdRef(contract), rowType, thing))(
      graft.functions.VerdictCompiler.foldedColumn(
        Compiler.allViols(contract, rowType, rowCol, Frame.root),
        rowType)(df.sparkSession))
    df.withColumn("_vs", vs)
      .where(size(col("_vs")) > 0)
      .select(col(idCol).cast("string").as("doc_id"),
        posexplode(col("_vs")).as(Seq("seq", "_v")))
      .select(col("doc_id"), col("seq"),
        col("_v.path").as("path"), col("_v.expected").as("expected"),
        col("_v.got").as("got"),
        lit(contract.render).as("contract_repr"),
        Compiler.assembleMessage(col("_v")).as("message"))
  }

  /** deterministic per-check violation sampling: at most `k` rows per
    * distinct (path-prefix, expected) check, chosen by doc_id order —
    * the triage view of a billion-violation run.
    *
    * Scale shape: implemented as a k-bounded ObjectHashAggregate
    * ([[FirstKViolations]]), NOT a rank window. Check types are FEW —
    * a window partitioned by (check, expected) funnels every violation
    * of the dominant check through one reducer's sort, the classic
    * skew trap when one rule accounts for most of a billion-violation
    * run. The aggregate keeps ≤ k rows per (check, map task) before
    * the exchange, so the shuffle carries k·tasks rows per check no
    * matter how lopsided the violation mix is. Selection order —
    * (doc_id asc, path asc) in Spark's UTF8 binary collation — is
    * replicated exactly (parity with the window form pinned in
    * SurfaceSpec). Expects the canonical violation schema
    * ([[Violation]]'s six columns). */
  def samplePerCheck(viols: DataFrame, k: Int): DataFrame = {
    // The aggregate funnels rows through Violation's six-column
    // encoder, so any EXTRA input column (e.g. allViolations' `seq`)
    // would be silently dropped — the window form this replaced
    // preserved them. Reject wider/narrower frames up front; callers
    // with extra columns must select the canonical six (and re-join on
    // (doc_id, path) if they need the rest back).
    val canonical = Seq("doc_id", "path", "expected", "got",
      "contract_repr", "message")
    require(viols.columns.sorted.sameElements(canonical.sorted),
      s"samplePerCheck expects exactly the canonical violation " +
        s"columns ${canonical.mkString("(", ", ", ")")}; got " +
        s"${viols.columns.mkString("(", ", ", ")")} — select the six " +
        "canonical columns first (extra columns would be dropped)")
    val check = regexp_replace(col("path"), "\\[[0-9]+\\]", "[]")
    val firstK = org.apache.spark.sql.functions.udaf(
      new FirstKViolations(k))
    viols.groupBy(check.as("_check"), col("expected").as("_exp"))
      .agg(firstK(col("doc_id"), col("path"), col("expected"),
        col("got"), col("contract_repr"), col("message")).as("_rows"))
      .select(explode(col("_rows")).as("_v"))
      .select(col("_v.doc_id").as("doc_id"), col("_v.path").as("path"),
        col("_v.expected").as("expected"), col("_v.got").as("got"),
        col("_v.contract_repr").as("contract_repr"),
        col("_v.message").as("message"))
  }

  /** golden-test diffing: multiset difference in both directions
    * (`exceptAll`) — empty ⇔ exact violation-set match. */
  def diff(actual: DataFrame, expected: DataFrame)
      : (DataFrame, DataFrame) = {
    val cols = expected.columns.map(col).toIndexedSeq
    val a = actual.select(cols: _*)
    (expected.exceptAll(a), a.exceptAll(expected))
  }
}

/** Bounded first-k violations by (doc_id asc, path asc) — the
  * shuffle-shrinking aggregate behind [[ViolationOps.samplePerCheck]].
  * Same partial-aggregation argument as
  * [[graft.functions.TopKNeighbors]] (see its scaladoc), specialized
  * to the canonical [[Violation]] row and a MIN-k string order.
  *
  * String order replicates Spark's: UTF8 BINARY bytes, unsigned —
  * `java.lang.String.compareTo` ranks supplementary characters
  * (surrogate range) below some BMP characters where UTF-8 byte order
  * ranks them above ALL of them, so a naive compareTo would diverge
  * from the window on non-BMP doc ids. Nulls first (asc default),
  * matching the window's null ordering. Ties insert AFTER equals
  * (stable), which the row_number window leaves nondeterministic — on
  * the canonical frame (doc_id, path) is unique per violation so the
  * case never fires, but the aggregate at least picks a stable answer
  * where the window picks an arbitrary one.
  */
class FirstKViolations(k: Int)
    extends graft.functions.BoundedTopK[Violation](k) {

  override protected def cmp(a: Violation, b: Violation): Int = {
    val c = graft.functions.Utf8Order.cmpStrings(a.doc_id, b.doc_id)
    if (c != 0) c
    else graft.functions.Utf8Order.cmpStrings(a.path, b.path)
  }

  override def bufferEncoder
      : org.apache.spark.sql.Encoder[Seq[Violation]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
      Seq[Violation]]()
  override def outputEncoder
      : org.apache.spark.sql.Encoder[Seq[Violation]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
      Seq[Violation]]()
}
