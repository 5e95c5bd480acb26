package graft.functions

import graft.contracts._
import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayAggregate, AttributeReference, BoundReference, Expression, GetStructField, Literal, RLike, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** A verdict program: the PASS/FAIL half of a contract compiled against
  * a concrete schema, as a serializable tree that
  * [[graft.functions.ContractCheck]] compiles to a tight Java loop
  * (doGenCode per node). It is never interpreted: where Spark does not
  * generate code, ContractCheck evaluates the generic compile instead.
  *
  * Why this exists: the generic [[graft.contracts.Compiler]] expresses
  * shape recursion with higher-order functions (`transform`,
  * `map_entries`), which Spark evaluates interpreted (CodegenFallback,
  * per-element boxing) — measured ~20x slower than a hand-written loop
  * on the flagship span shape. The verdict program generates that loop
  * for EVERY contract: shapes become primitive `for` loops over
  * ArrayData/InternalRow, scalar leaves inline the SAME fail conditions
  * the generic compiler uses ([[Compiler.leafFail]] — single source of
  * truth), `aggregate` folds bind as generated loops ([[ArrayFold]])
  * and anchored ASCII regexes as byte loops ([[AsciiRegex]]), and only
  * leaves whose condition genuinely cannot be code-generated
  * (e.g. a pred built from `transform`) fall back to an embedded
  * interpreted eval. Violation payloads are NOT built here: on
  * failure the caller delegates the row to the unchanged generic
  * expression, so payloads stay bit-identical (asserted by the
  * fast-vs-generic property test).
  */
sealed trait VNode extends Serializable {
  import VNode._

  /** the nodes directly under this one, in evaluation order */
  def children: Seq[VNode] = this match {
    case Opt(i) => Seq(i)
    case AndN(is) => is
    case OrN(is) => is
    case Arr(e, _) => Seq(e)
    case TupArr(is, _, _) => is
    case TupStruct(is) => is.map(_._1)
    case Field(_, _, _, i) => Seq(i)
    case Obj(fs) => fs
    case MapVals(v, _) => Seq(v)
    case PassAlways | FailAlways | _: Cond => Nil
  }

  /** the fail conditions under this node, in traversal order */
  def leaves: Iterator[Cond] = this match {
    case c: Cond => Iterator(c)
    case _ => children.iterator.flatMap(_.leaves)
  }
}
object VNode {
  /** value always passes (any) */
  case object PassAlways extends VNode
  /** value always fails (nothing; schema-contradicted gates;
    * schema-missing required fields; strict extras) */
  case object FailAlways extends VNode
  /** a leaf: a fail condition bound to slot 0 */
  sealed trait Cond extends VNode { def fail: Expression }
  /** scalar leaf: codegen-able fail condition bound to slot 0 */
  final case class Leaf(fail: Expression) extends Cond
  /** fail condition containing CodegenFallback subtrees (HOF preds
    * other than code-generatable `aggregate` folds, which bind as
    * [[ArrayFold]]): evaluated interpreted against a one-slot row */
  final case class Fallback(fail: Expression) extends Cond
  /** optional: null passes, else inner */
  final case class Opt(inner: VNode) extends VNode
  final case class AndN(items: Seq[VNode]) extends VNode
  final case class OrN(items: Seq[VNode]) extends VNode
  /** homogeneous array: null fails; every element must pass */
  final case class Arr(elem: VNode, et: DataType) extends VNode
  /** tuple over ArrayType: size gate, positional checks, strict cap */
  final case class TupArr(items: Seq[VNode], et: DataType,
                          strict: Boolean) extends VNode
  /** tuple over StructType: positional checks by ordinal. Unlike object
    * fields there is NO required gate — a null position flows into the
    * positional contract (any/falsy/optional accept it), matching the
    * generic compile. */
  final case class TupStruct(items: Seq[(VNode, DataType)]) extends VNode
  /** one declared object field bound to a struct ordinal */
  final case class Field(ordinal: Int, dt: DataType, optional: Boolean,
                         inner: VNode) extends VNode
  /** object over StructType: null fails; fields in declaration order */
  final case class Obj(fields: Seq[Field]) extends VNode
  /** hash: null fails; every map VALUE must pass */
  final case class MapVals(value: VNode, vt: DataType) extends VNode
  /** fail condition over the ROOT row value (slot 0 = the whole row):
    * the escape hatch for cross-field predicates — a leaf that
    * references sibling columns (`n_chars = length(text)`) cannot bind
    * to its own value alone, so its entire top-level field check is
    * evaluated against the root row instead. */
  final case class RowFallback(fail: Expression) extends Cond
}

object VerdictCompiler {
  import VNode._

  /** signals a leaf predicate that references columns outside its own
    * value (cross-field) — the row-level object catches it and wraps
    * the whole top-level field as a [[VNode.RowFallback]]. */
  private class CrossFieldPred(val cause: Throwable)
      extends RuntimeException(cause)

  /** compile a ROW-level contract over the row schema to a verdict
    * program: [[build]] at the row level, where each top-level field
    * that contains a cross-field predicate compiles as a RowFallback
    * over the full row (single-field generic first-violation, bound to
    * the row struct). */
  def buildRow(o: ObjectC, rowType: StructType)
              (implicit spark: SparkSession): VNode =
    build(o, rowType, row = true)

  /** compile (contract, schema) to a verdict program. Driver-side:
    * leaf conditions are analyzed through a probe projection and bound
    * to BoundReference(0) so they serialize to executors. `row` marks
    * the row-level object, the only one that catches a cross-field
    * predicate; below it one escalates to the enclosing top-level
    * field. */
  private def build(c: Contract, dt: DataType, row: Boolean = false)
                   (implicit spark: SparkSession): VNode = c match {
    case AnyC => PassAlways
    case Renamed(inner, _) => build(inner, dt)
    case fr: ForwardRefC => build(fr.resolved, dt)
    case OptionalC(inner) => Opt(build(inner, dt))
    case AndC(branches, _) => AndN(branches.map(build(_, dt)))
    case OrC(branches) => OrN(branches.map(build(_, dt)))
    case ArrayC(item) => dt match {
      case ArrayType(et, _) => Arr(build(item, et), et)
      case _ => FailAlways
    }
    case TupleC(items, strict) => dt match {
      case ArrayType(et, _) => TupArr(items.map(build(_, et)), et, strict)
      case StructType(sfs) =>
        if (sfs.length < items.size) FailAlways
        else if (strict && sfs.length > items.size) FailAlways
        else TupStruct(items.zipWithIndex.map { case (ic, i) =>
          (build(ic, sfs(i).dataType), sfs(i).dataType)
        })
      case _ => FailAlways
    }
    case HashC(valueC) => dt match {
      case MapType(_, vt, _) => MapVals(build(valueC, vt), vt)
      case _ => FailAlways
    }
    case o: ObjectC => dt match {
      case st: StructType =>
        val extra =
          o.isStrict && st.fieldNames.exists(!o.fields.keySet(_))
        val missingRequired = o.fields.exists { case (fname, fc) =>
          !st.fieldNames.contains(fname) &&
            Compiler.peelOptional(fc).isEmpty
        }
        if (extra || missingRequired) FailAlways
        else Obj(o.fields.toSeq.flatMap { case (fname, fc) =>
          val ord = st.fieldNames.indexOf(fname)
          if (ord < 0) None // optional + schema-missing: passes
          else {
            val fdt = st.fields(ord).dataType
            val peeled = Compiler.peelOptional(fc)
            // a NULL on a required field fails at the Field node, so
            // the field's own contract needs no required gate
            try Some(Field(ord, fdt, peeled.isDefined,
              build(peeled.getOrElse(fc), fdt)))
            catch {
              case _: CrossFieldPred if row =>
                // whole field check (required gate + inner contract)
                // over the row — cross-field references resolve against
                // siblings. Ordinal -1: row-scoped — the Obj node hands
                // the ROOT row to the inner RowFallback
                implicit val env: MsgEnv = MsgEnv("data", o)
                Some(Field(-1, fdt, optional = false, RowFallback(bindRow(
                  Compiler.rowViols(C.obj(fname -> fc), st).isNotNull,
                  st))))
            }
          }
        })
      case _ =>
        // object over MapType (dynamic rows) or a mismatched type:
        // verdict via the generic first-violation (interpreted) — rare
        // and never on the hot row-struct path
        fallbackFor(c, dt)
    }
    case leaf =>
      Compiler.leafFail(leaf, dt, col("x")) match {
        case None => fallbackFor(leaf, dt)
        case Some(cond) =>
          val bound =
            try bindProbe(cond, dt)
            catch {
              // cross-field predicate: the condition references
              // sibling columns — escalate to the row-level object
              case e: org.apache.spark.sql.AnalysisException =>
                throw new CrossFieldPred(e)
            }
          bound match {
            case Literal(true, BooleanType) => FailAlways
            case Literal(false, BooleanType) => PassAlways
            case e if e.exists(_.isInstanceOf[CodegenFallback]) =>
              Fallback(e)
            case e => Leaf(e)
          }
      }
  }

  /** generic first-violation as an interpreted fail condition — the
    * universal safety net for combinations without a fast encoding. */
  private def fallbackFor(c: Contract, dt: DataType)
                         (implicit spark: SparkSession): VNode = {
    implicit val env: MsgEnv = MsgEnv("data", c)
    Fallback(bindProbe(
      Compiler.firstViol(c, dt, col("x"), Frame.root).isNotNull, dt))
  }

  /** an empty frame of `schema` to analyze probe projections over */
  private def probe(schema: StructType)(implicit spark: SparkSession) =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** the one expression a probe projection computes, its column
    * references replaced by `bind` and its RuntimeReplaceable nodes by
    * their replacements (interpreted eval can't see them; the optimizer
    * rewrites them, but an analyzed probe bypasses it). */
  private def bindProjection(plan: LogicalPlan)
                            (bind: AttributeReference => Expression)
      : Expression = {
    val resolved = plan.asInstanceOf[Project].projectList.head match {
      case a: Alias => a.child
      case other => other
    }
    resolved.transform { case ar: AttributeReference => bind(ar) }
      .transformUp { case rr: RuntimeReplaceable => rr.replacement }
  }

  /** analyze `cond`, a condition over a column `x` of type `dt`, and
    * bind `x` to slot 0 (the holder row the verdict evaluates leaves
    * against). */
  private def bindProbe(cond: Column, dt: DataType)
                       (implicit spark: SparkSession): Expression =
    bindProjection(probe(StructType(Seq(StructField("x", dt))))
      .select(cond.as("c")).queryExecution.analyzed)(
      _ => BoundReference(0, dt, nullable = true)).transformUp {
      // `aggregate` folds (CodegenFallback in Spark) as generated loops;
      // anchored ASCII regexes as byte loops
      case agg: ArrayAggregate => ArrayFold.lower(agg).getOrElse(agg)
      case r: RLike => AsciiRegex.lower(r).getOrElse(r)
    }

  /** optimize `c`, a column over `rowType`, and rebind its column
    * references with `bind`. The OPTIMIZED projection, not the analyzed
    * one: constant folding collapses the literal frame/message
    * scaffolding (paths, frame text, rendered contract strings) that
    * dominates the analyzed tree — measured 64 MB analyzed vs 158 KB
    * optimized on a 350-leaf contract, i.e. the difference between a
    * 69 MB task binary deserialized per task and a negligible one. The
    * probe is a LogicalRDD (emptyRDD), which PropagateEmptyRelation
    * cannot prove empty, so the projection survives optimization
    * intact. This is the same optimizer pass the generic DataFrame path
    * ships through, so delegated payloads stay bit-identical
    * (property-asserted). */
  private[graft] def fold(c: Column, rowType: StructType)
                         (bind: AttributeReference => Expression)
                         (implicit spark: SparkSession): Expression =
    bindProjection(probe(rowType).select(c.as("c"))
      .queryExecution.optimizedPlan)(bind)

  /** [[fold]] `c`, binding every column reference to its field of the
    * row struct in slot 0. */
  private[functions] def bindRow(c: Column, rowType: StructType)
                                (implicit spark: SparkSession): Expression =
    fold(c, rowType) { ar =>
      GetStructField(BoundReference(0, rowType, nullable = true),
        rowType.fieldIndex(ar.name), Some(ar.name))
    }

  /** [[fold]] `c` into a reusable Column whose references are
    * re-unresolved by name, so a memoized fold serves every DataFrame
    * of schema `rowType`: per-query Catalyst passes then walk the
    * KB-sized folded tree, not the MB-sized scaffolding. */
  private[graft] def foldedColumn(c: Column, rowType: StructType)
                                 (implicit spark: SparkSession): Column =
    GraftColumnBridge.column(
      fold(c, rowType)(ar => UnresolvedAttribute.quoted(ar.name)))
}
