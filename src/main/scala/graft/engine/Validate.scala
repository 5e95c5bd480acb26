package graft.engine

import graft.contracts._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Canonical violation row — errors become *data*, not exceptions
  * (SURVEY.md §2.6; ContractError fields, contract-errors.js:124-231). */
case class Violation(doc_id: String, path: String, expected: String,
                     got: String, contract_repr: String, message: String)

/** the ContractError analog for the fail-fast `checkOrThrow` mode. */
class ContractViolationException(message: String, val docId: String,
                                 val path: String)
    extends RuntimeException(message)

/** Batch validation: the data-plane analog of `contract.check(data, name)`
  * (contract.impl.js:265-269, 167-175).
  *
  * One declarative pass: the compiled first-violation expression is a
  * single projected column, so Catalyst prunes the scan to exactly the
  * columns the contract touches, pushes any pre-filters to parquet, and
  * whole-stage-codegens the check. `violations` and `summary` both derive
  * from the same plan; at 10¹² rows the per-partition summary is a
  * map-side partial agg (no extra scan of the violation details).
  *
  * Messages are rendered in the reference's ContractError format
  * (multi-line; see [[graft.contracts.Compiler.assembleMessage]]),
  * byte-identical to messages captured from executing the reference.
  * The "The full value being checked was:" section follows
  * `withFullValue` (off by default at scale — it renders the complete
  * document per violation).
  */
object Validate {

  /** Row-level validation of a DataFrame against an object contract whose
    * fields bind to top-level columns. `thing` is the check name appearing
    * in messages (the `name` arg of `check`, contract.impl.js:265).
    * This is the GENERIC compile — the semantic reference that
    * [[fastFirstViolation]] is property-tested against; it also builds
    * the payloads of the rows [[fastFirstViolation]] fails. */
  def firstViolation(df: DataFrame, contract: ObjectC,
                     thing: String = "data",
                     withFullValue: Boolean = false): Column = {
    implicit val env: MsgEnv = msgEnv(df, contract, thing, withFullValue)
    Compiler.rowViols(contract, df.schema)
  }

  /** first violation through the codegen'd verdict compiler
    * (graft.functions.ContractCheck) — the default evaluation path for
    * every contract: pass/fail decided by generated code (shapes as
    * primitive loops, `aggregate` preds as generated folds, anchored
    * ASCII regexes on bytes, no HOF interpretation), failing rows
    * delegate to the generic expression for bit-identical payloads. */
  def fastFirstViolation(df: DataFrame, contract: ObjectC,
                         thing: String = "data"): Column =
    graft.functions.ContractCheck.rowFirstViolation(df, contract, thing)

  private def msgEnv(df: DataFrame, contract: ObjectC, thing: String,
                     withFullValue: Boolean): MsgEnv =
    MsgEnv(thing, contract.render,
      if (withFullValue) Some(Compiler.rowRender(df.schema)) else None)

  /** the rows of `df` whose first violation `v` is not null, `v` as `_v` */
  private def failing(df: DataFrame, v: Column): DataFrame =
    df.withColumn("_v", v).where(col("_v").isNotNull)

  /** the six canonical violation columns over [[failing]] rows */
  private def violationCols(idCol: String, contract: Contract)
                           (implicit env: MsgEnv): Seq[Column] = Seq(
    col(idCol).cast("string").as("doc_id"),
    col("_v.path").as("path"),
    col("_v.expected").as("expected"),
    col("_v.got").as("got"),
    lit(contract.render).as("contract_repr"),
    Compiler.assembleMessage(col("_v")).as("message"))

  /** fail-fast gate: the first row of `firstViolations` (doc_id, path
    * and message columns) over `df` thrown as a
    * [[ContractViolationException]]; `df` itself on success.
    *
    * The query runs over an RDD ANALYSIS BARRIER, not over `df`'s plan
    * directly: when the checked frame's columns are themselves large
    * compiled expressions (a member returning a violations frame),
    * composing the shape check on top lets the optimizer inline those
    * expression trees into every probe reference, and the action-time
    * plan stringification (SQL listener events) then walks a
    * combinatorially blown-up tree — minutes of driver CPU on toString
    * alone. Behind the barrier `df`'s plan is a leaf; the probe's own
    * plan stays probe-sized. The ORIGINAL df is returned for chaining,
    * so downstream composition/pushdown is unaffected; the barrier
    * exists only inside this one gate job. */
  private def throwFirst(df: DataFrame)
                        (firstViolations: DataFrame => DataFrame)
      : DataFrame = {
    val probe = df.sparkSession.createDataFrame(df.rdd, df.schema)
    val first = firstViolations(probe).limit(1).collect()
    if (first.nonEmpty)
      throw new ContractViolationException(
        first(0).getAs[String]("message"),
        first(0).getAs[String]("doc_id"), first(0).getAs[String]("path"))
    df
  }

  /** violations dataset: one row per input row with >= 1 violation,
    * carrying the first violation in canonical traversal order
    * ("throws first error" ⇒ first in depth-first declaration order). */
  def violations(df: DataFrame, contract: ObjectC, idCol: String,
                 thing: String = "data"): DataFrame =
    violations(df, contract, idCol, thing, withFullValue = false)

  /** `withFullValue = true` adds the reference's "The full value being
    * checked was: …" section to messages (contract-errors.js:182-198) —
    * full byte-parity mode — plus a `full_value` column (depth-capped
    * rendering of the whole row, suppressed (null) when it would just
    * repeat `got`). Off by default at scale: it renders the complete
    * document per violation. */
  def violations(df: DataFrame, contract: ObjectC, idCol: String,
                 thing: String, withFullValue: Boolean): DataFrame = {
    implicit val env: MsgEnv = msgEnv(df, contract, thing, withFullValue)
    // default mode runs the codegen'd verdict (payloads delegated to the
    // generic compile — identical by construction); full-value parity
    // mode compiles generically so rootRender threads into or-messages
    val v =
      if (withFullValue) firstViolation(df, contract, thing, withFullValue)
      else fastFirstViolation(df, contract, thing)
    val base = failing(df, v)
    val core = violationCols(idCol, contract)
    if (!withFullValue) base.select(core: _*)
    else {
      val full = Compiler.rowRender(df.schema)
      base.select(core :+
        when(full === col("_v.got"), lit(null))
          .otherwise(full).as("full_value"): _*)
    }
  }

  /** per-partition pass/fail summary (BASELINE.json `north_rule`):
    * partitions are *data* partitions (a caller-supplied partition
    * column, e.g. an ingest date or bucket id), not task partitions —
    * stable across reruns and cluster sizes. */
  def summaryByColumn(df: DataFrame, contract: ObjectC,
                      partCol: String): DataFrame = {
    val v = fastFirstViolation(df, contract)
    df.withColumn("_fail", v.isNotNull)
      .groupBy(col(partCol).as("partition_key"))
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("_fail"), 1L).otherwise(0L)).as("n_failed"))
      .withColumn("pass", col("n_failed") === 0L)
  }

  /** literal `check(data)` parity: throw on the FIRST violation with the
    * reference-format message (ContractError semantics,
    * contract.impl.js:167-175 / contract-errors.js) — the driver-side
    * fail-fast mode for small/gate datasets; batch jobs use
    * [[violations]] (errors as data). Returns the input unchanged on
    * success, like the reference's `check`. Full-value reporting is ON:
    * fail-fast mode is for small data, so the reference's complete
    * message applies. */
  def checkOrThrow(df: DataFrame, contract: ObjectC, idCol: String,
                   thing: String = "data"): DataFrame = {
    // full-value mode renders every column anyway, so the analysis
    // barrier costs no pruning
    throwFirst(df)(violations(_, contract, idCol, thing,
      withFullValue = true))
  }

  /** wrapped-member enforcement (see [[Publish]]): blame follows the
    * reference's wrapping mode (contract-errors.js:163-169; messages
    * captured by executing the reference) — input failures blame the
    * CALLER ("broke the contract on `m()`:"), result failures blame the
    * MEMBER ("`m()` broke its contract:"), and result-side frames carry
    * the '.result' / "for the return value of the call." stack item
    * (contract-errors.js:23, function-contracts.js:146-152). `fnRepr`
    * is the function-contract rendering shown in the `in contract:`
    * clause. The reference's "(contract was wrapped at: file:line)"
    * line is a JS-stack artifact and is not reproduced. Returns `df`
    * unchanged on success. */
  def checkMemberOrThrow(df: DataFrame, contract: ObjectC, idCol: String,
                         member: String, fnRepr: String,
                         isResult: Boolean,
                         argFrame: Option[(Int, Boolean)] = None,
                         argName: Option[String] = None,
                         thisFrame: Boolean = false)
      : DataFrame = {
    val blame =
      if (isResult) s"`$member()` broke its contract:"
      else s"broke the contract on `$member()`:"
    // wrapping mode has no "The full value being checked was:" section
    // (contract-errors.js:182-198 gates on !context.wrapping)
    implicit val env: MsgEnv =
      MsgEnv(member, fnRepr, None, Some(blame))
    // multi-input members stack the reference's argument frame
    // (stackContextItems.argument, contract-errors.js:12-18; extras:
    // :209-216 render "… extra argument of the call.")
    val frame = argFrame match {
      case Some((i, isExtra)) =>
        if (isExtra) Frame.root.push(lit(s".extraArguments[$i]"),
          lit(s"for the ${Compiler.ithS(i)} extra argument of the call."))
        else argName match {
          // named-arg variant (stackContextItems.argument with a
          // thingName, contract-errors.js:12-18): `.name` short frame
          case Some(n) => Frame.root.push(lit(s".$n"),
            lit(s"for the `$n` argument of the call."))
          case None => Frame.root.push(lit(s".arg($i)"),
            lit(s"for the ${Compiler.ithS(i)} argument of the call."))
        }
      case None if isResult => Frame.root.push(lit(".result"),
        lit("for the return value of the call."))
      // receiver frame (stackContextItems.this, contract-errors.js:21)
      case None if thisFrame => Frame.root.push(lit(".this"),
        lit("for the `this` argument of the call."))
      case None => Frame.root
    }
    throwFirst(df) { probe =>
      val id: Column =
        if (probe.columns.contains(idCol)) col(idCol).cast("string")
        else lit(null).cast("string") // member may project the id away
      failing(probe, Compiler.rowViols(contract, probe.schema, frame))
        .select(id.as("doc_id"), col("_v.path").as("path"),
          Compiler.assembleMessage(col("_v")).as("message"))
    }
  }
}
