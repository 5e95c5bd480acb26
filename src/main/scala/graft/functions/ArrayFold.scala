package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, CreateNamedStruct, Expression, GetStructField, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.types._

/** `aggregate(argument, zero, merge, finish)` as a generated loop.
  *
  * Spark's [[ArrayAggregate]] is CodegenFallback: its lambda bodies
  * read their variables from NamedLambdaVariable slots, so a contract
  * pred built from a fold (the flagship's strictly-increasing offsets)
  * runs interpreted for every row. Here `merge` and `finish`
  * are the lambda bodies with their variables replaced by
  * `objects.LambdaVariable`s, which generate as fields of the generated
  * class (`LambdaVariable.prepareLambdaVariable`, the MapObjects
  * mechanism): the fold becomes a `for` loop over ArrayData with the
  * bodies inlined. `finish` reads the accumulator through `acc` too.
  *
  * Interpreted `eval` rebuilds the equivalent ArrayAggregate and runs
  * it, so both modes keep ArrayAggregate's semantics: a null array
  * yields null, the accumulator starts at `zero`, every element (nulls
  * included) goes through `merge`, and `finish` maps the final
  * accumulator. Built by [[ArrayFold.lower]].
  */
case class ArrayFold(argument: Expression, zero: Expression,
                     merge: Expression, finish: Expression,
                     acc: LambdaVariable, elem: LambdaVariable)
    extends Expression with QuaternaryLike[Expression] {

  override def first: Expression = argument
  override def second: Expression = zero
  override def third: Expression = merge
  override def fourth: Expression = finish
  override def dataType: DataType = finish.dataType
  override def nullable: Boolean = argument.nullable || finish.nullable

  @transient private lazy val interpreted: ArrayAggregate = {
    def named(v: LambdaVariable) =
      NamedLambdaVariable(v.name, v.dataType, v.nullable)
    val (accM, elemM, accF) = (named(acc), named(elem), named(acc))
    ArrayAggregate(argument, zero,
      LambdaFunction(ArrayFold.rebind(merge, acc -> accM, elem -> elemM),
        Seq(accM, elemM)),
      LambdaFunction(ArrayFold.rebind(finish, acc -> accF), Seq(accF)))
  }

  override def eval(input: InternalRow): Any = interpreted.eval(input)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // fresh variables per generated copy (one stage can generate the
    // same node twice: a filter pushed below the projection computing
    // it), named by ctx.freshName rather than by the global id counter:
    // the source must be identical on every execution, or each one
    // misses Spark's compiled-class cache and re-warms the JIT
    def fresh(name: String, dt: DataType, nullable: Boolean) =
      LambdaVariable(ctx.freshName(name), dt, nullable, id = 0L)
    val elemV = fresh(elem.name, elem.dataType, elem.nullable)
    val (vars, zeros, merges, fin) = accFields(fresh).getOrElse {
      val accV = fresh(acc.name, acc.dataType, acc.nullable)
      (Seq(accV), Seq(zero), Seq(ArrayFold.rebind(merge, acc -> accV)),
        ArrayFold.rebind(finish, acc -> accV))
    }
    val varCodes = vars.map(LambdaVariable.prepareLambdaVariable(ctx, _))
    val elemCode = LambdaVariable.prepareLambdaVariable(ctx, elemV)
    val arrCode = argument.genCode(ctx)
    val zeroCodes = zeros.map(_.genCode(ctx))
    val mergeCodes =
      merges.map(ArrayFold.rebind(_, elem -> elemV).genCode(ctx))
    val finishCode = fin.genCode(ctx)
    // ArrayAggregate stores InternalRow.copyValue(merge result), which
    // copies a struct field by field. Every result is staged in a local
    // before any variable is written: a result may be the variable of
    // another accumulator field itself (`named_struct('a', acc.b, ...)`)
    def store(from: Seq[ExprCode], copy: Boolean): String = {
      val staged = vars.zip(from).map { case (v, e) =>
        val jt = CodeGenerator.javaType(v.dataType)
        val (isNull, value) = (ctx.freshName("isNull"), ctx.freshName("value"))
        val copied =
          if (!copy || CodeGenerator.isPrimitiveType(v.dataType)) s"${e.value}"
          else s"($jt) org.apache.spark.sql.catalyst.InternalRow" +
            s".copyValue(${e.value})"
        (s"""boolean $isNull = ${e.isNull};
            |$jt $value = $isNull ?
            |  ${CodeGenerator.defaultValue(v.dataType)} : $copied;""".stripMargin,
          isNull, value)
      }
      (staged.map(_._1) ++ varCodes.zip(staged).map { case (c, (_, n, v)) =>
        s"${c.isNull} = $n;\n${c.value} = $v;"
      }).mkString("\n")
    }
    val arr = ctx.freshName("foldArr"); val i = ctx.freshName("i")
    val et = elem.dataType
    val setElem =
      if (elem.nullable)
        s"""${elemCode.isNull} = $arr.isNullAt($i);
           |${elemCode.value} = ${elemCode.isNull} ?
           |  ${CodeGenerator.defaultValue(et)} :
           |  ${CodeGenerator.getValue(arr, et, i)};""".stripMargin
      else s"${elemCode.value} = ${CodeGenerator.getValue(arr, et, i)};"
    ev.copy(code = code"""
      |${arrCode.code}
      |boolean ${ev.isNull} = ${arrCode.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) {
      |  ArrayData $arr = ${arrCode.value};
      |  ${zeroCodes.map(_.code).mkString("\n")}
      |  ${store(zeroCodes, copy = false)}
      |  for (int $i = 0; $i < $arr.numElements(); $i++) {
      |    $setElem
      |    ${mergeCodes.map(_.code).mkString("\n")}
      |    ${store(mergeCodes, copy = true)}
      |  }
      |  ${finishCode.code}
      |  ${ev.isNull} = ${finishCode.isNull};
      |  ${ev.value} = ${finishCode.value};
      |}
      """.stripMargin)
  }

  /** the accumulator as one variable per field — (variables, zero
    * fields, merge fields, finish) — when `zero` and `merge` are
    * named_structs and merge/finish only read its fields: the loop then
    * builds no row per element. The accumulator is never null then
    * (named_struct is not nullable), so a field read is the field. */
  private def accFields(
      fresh: (String, DataType, Boolean) => LambdaVariable)
      : Option[(Seq[LambdaVariable], Seq[Expression], Seq[Expression],
                Expression)] = (zero, merge) match {
    case (z: CreateNamedStruct, m: CreateNamedStruct) =>
      val vars = acc.dataType.asInstanceOf[StructType].fields.toSeq
        .map(f => fresh(acc.name, f.dataType, true))
      def readFields(e: Expression) = e.transformDown {
        case GetStructField(v: LambdaVariable, i, _) if v.id == acc.id =>
          vars(i)
      }
      val (m2, f2) = (readFields(m), readFields(finish))
      val accLeft = Seq(m2, f2).exists(_.exists {
        case v: LambdaVariable => v.id == acc.id
        case _ => false
      })
      if (accLeft) None
      else Some((vars, z.valExprs, m2.asInstanceOf[CreateNamedStruct].valExprs,
        f2))
    case _ => None
  }

  override protected def withNewChildrenInternal(
      a: Expression, z: Expression, m: Expression, f: Expression): ArrayFold =
    copy(argument = a, zero = z, merge = m, finish = f)
}

object ArrayFold {

  /** `agg` as an [[ArrayFold]] when its merge and finish bodies are
    * code-generatable once the lambda variables are bound; None keeps
    * the interpreted ArrayAggregate (e.g. a body holding a `transform`).
    * The accumulator is typed nullable all the way down: `zero` fixes
    * its type, but merge results need not honor zero's nested
    * nullability, and generated code skips null checks the type rules
    * out. */
  def lower(agg: ArrayAggregate): Option[ArrayFold] = {
    val acc = LambdaVariable("foldAcc", asNullable(agg.zero.dataType),
      nullable = true)
    val elem = LambdaVariable("foldElem", agg.elementVar.dataType,
      agg.elementVar.nullable)
    val vars = Map(agg.accForMergeVar.exprId -> acc,
      agg.elementVar.exprId -> elem, agg.accForFinishVar.exprId -> acc)
    def body(f: Expression) = f.asInstanceOf[LambdaFunction].function
      .transform {
        case v: NamedLambdaVariable if vars.contains(v.exprId) =>
          vars(v.exprId)
      }
    val (merge, finish) = (body(agg.merge), body(agg.finish))
    if (Seq(merge, finish).exists(_.exists(_.isInstanceOf[CodegenFallback])))
      None
    else Some(ArrayFold(agg.argument, agg.zero, merge, finish, acc, elem))
  }

  /** `e` with each listed lambda variable replaced. */
  private def rebind(e: Expression,
                     to: (LambdaVariable, Expression)*): Expression = {
    val m = to.map { case (v, x) => v.id -> x }.toMap
    e.transform { case v: LambdaVariable if m.contains(v.id) => m(v.id) }
  }

  private def asNullable(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(asNullable(et), containsNull = true)
    case MapType(k, v, _) => MapType(asNullable(k), asNullable(v), true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case other => other
  }
}
