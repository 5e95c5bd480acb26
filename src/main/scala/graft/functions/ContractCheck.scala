package graft.functions

import graft.contracts.{Compiler, MsgEnv, ObjectC}
import org.apache.spark.SparkConf
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, InterpretedProjection, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Codegen'd first-violation check for an ARBITRARY contract: the one
  * contract-evaluation path, for every contract/schema pair (the
  * flagship span contract included).
  *
  * It evaluates a row with one of two evaluators, and a failing row
  * always with the second:
  *  - the generated VERDICT decides pass/fail in the hot loop: `plan`
  *    (a [[graft.functions.VNode]] verdict program from
  *    [[VerdictCompiler]]) compiles to straight-line Java — primitive
  *    loops over ArrayData/InternalRow for shapes, inlined generated
  *    code for scalar leaf conditions (bound through
  *    `ctx.currentVars`), and an embedded interpreted eval only for
  *    leaves whose condition contains CodegenFallback subtrees.
  *  - the GENERIC compile, `generic` — the unchanged generic
  *    first-violation expression, carried bound to slot 0 and evaluated
  *    interpreted over just one row — builds the payload of a FAILING
  *    row (rare at production defect rates), so paths/expected/got/ctx
  *    are bit-identical to the generic plan (asserted by the
  *    fast-vs-generic property suite). It is also the whole interpreted
  *    `eval` (when Spark does not generate code, e.g. when the optimizer
  *    folds literal rows), which therefore agrees with the generated
  *    path by construction.
  *
  * What ships: `child`, `plan` and a [[ContractCheck.Generic]] — the
  * generic tree (~14k nodes, ~1 MB Java-serialized) travels as its
  * deflated serialization (~70 KB), and an executor decodes it on the
  * first failing row of a task, so a task with no failing row never
  * does. On the driver the holder keeps the live tree (constant
  * folding and driver-side eval never decode). The plan string is
  * `contractcheck(<child>)`: neither tree is printed.
  *
  * `child` is never null at the call sites (a `struct(*)` of the row,
  * or a required-guarded column); a null child short-circuits to null
  * (= pass) via the UnaryExpression default.
  */
case class ContractCheck(child: Expression, plan: VNode,
                         generic: ContractCheck.Generic)
    extends UnaryExpression {

  override def dataType: DataType = Compiler.violType
  override def nullable: Boolean = true

  override protected def stringArgs: Iterator[Any] = Iterator(child)

  @transient private lazy val genericProj =
    new InterpretedProjection(Seq(generic.expr))
  @transient private lazy val rowHolder = new GenericInternalRow(1)
  @transient private lazy val slotHolder = new GenericInternalRow(1)

  /** the distinct leaf conditions in traversal order — the stable index
    * space of fallback dispatch. */
  @transient private lazy val leaves: IndexedSeq[VNode.Cond] =
    plan.leaves.distinct.toIndexedSeq

  /** interpreted FAIL evaluation of leaf condition `i` over `value` —
    * the runtime hook the generated code calls for Fallback leaves.
    * Must be public for codegen access. */
  def leafFails(i: Int, value: Any): Boolean = {
    slotHolder.update(0, value)
    leaves(i).fail.eval(slotHolder) == true
  }

  /** generic interpreted evaluation of one row — byte-identical
    * violation payloads, never in the hot loop. */
  def slowPath(value: Any): Any = {
    rowHolder.update(0, value)
    val out = genericProj(rowHolder)
    if (out.isNullAt(0)) null
    else out.getStruct(0, Compiler.violType.length).copy()
  }

  override def nullSafeEval(input: Any): Any = slowPath(input)

  // -------------------------------------------------------------------
  // code generation
  // -------------------------------------------------------------------

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("contractCheck", this,
      classOf[ContractCheck].getName)
    nullSafeCodeGen(ctx, ev, input => {
      val pass = ctx.freshName("pass")
      val body = emitNode(ctx, self, plan, input, "false",
        child.dataType, pass, input)
      val r = ctx.freshName("r")
      s"""
         |boolean $pass;
         |$body
         |if ($pass) {
         |  ${ev.isNull} = true;
         |} else {
         |  Object $r = $self.slowPath($input);
         |  ${ev.isNull} = ($r == null);
         |  if (!${ev.isNull}) { ${ev.value} = (InternalRow) $r; }
         |}
       """.stripMargin
    })
  }

  /** leaves (the code-size proxy) per generated method before hoisting
    * a subtree into its own function: whole-stage codegen cannot split
    * ONE expression's code (no INPUT_ROW), so past this many leaves we
    * do it ourselves via ctx.addNewFunction — each composite node above
    * the threshold becomes `private boolean check_N(<jt> v, boolean
    * vNull, InternalRow root)`, recursively, so method size stays
    * bounded for arbitrarily large contracts (the round-2 build fell
    * back to the interpreted generic compile past 300 leaves instead). */
  private val SplitLeafThreshold = 40

  /** recursion entry: inline small nodes, hoist big composite ones. */
  private def emitNode(ctx: CodegenContext, self: String, v: VNode,
                       valueVar: String, isNullCode: String, dt: DataType,
                       res: String, rootVar: String): String =
    if (v.children.nonEmpty && v.leaves.size > SplitLeafThreshold) {
      val vParam = ctx.freshName("v")
      val nParam = ctx.freshName("vNull")
      val rootParam = ctx.freshName("root")
      val fnRes = ctx.freshName("res")
      val name = ctx.freshName("checkNode")
      val body = emit(ctx, self, v, vParam, nParam, dt, fnRes, rootParam)
      val jt = CodeGenerator.javaType(dt)
      val fnName = ctx.addNewFunction(name,
        s"""
           |private boolean $name($jt $vParam, boolean $nParam,
           |    InternalRow $rootParam) {
           |  boolean $fnRes;
           |  $body
           |  return $fnRes;
           |}
         """.stripMargin)
      s"$res = $fnName($valueVar, ($isNullCode), $rootVar);"
    } else emit(ctx, self, v, valueVar, isNullCode, dt, res, rootVar)

  /** Java assigning `res = <value passes v>` through a fresh local. */
  private def check(ctx: CodegenContext, self: String, v: VNode,
                    valueVar: String, isNullCode: String, dt: DataType,
                    res: String, rootVar: String): String = {
    val r = ctx.freshName("r")
    s"""boolean $r;
       |${emitNode(ctx, self, v, valueVar, isNullCode, dt, r, rootVar)}
       |$res = $r;""".stripMargin
  }

  /** Java checking slot `idx` of `container` (an ArrayData element or
    * an InternalRow field) of type `dt` against `v` into `res`.
    * `nullSettles`: None — a null slot flows into `v` (array elements,
    * tuple positions, map values); Some(pass) — a null slot settles the
    * check to `pass` without entering `v` (object fields: required
    * fail, optional pass). */
  private def slot(ctx: CodegenContext, self: String, v: VNode,
                   container: String, idx: String, dt: DataType,
                   res: String, rootVar: String,
                   nullSettles: Option[Boolean]): String = {
    val isNull = ctx.freshName("slotNull")
    val value = ctx.freshName("slotVal")
    val jt = CodeGenerator.javaType(dt)
    val load = s"boolean $isNull = $container.isNullAt($idx);"
    val get = CodeGenerator.getValue(container, dt, idx)
    nullSettles match {
      case None =>
        s"""$load
           |$jt $value = $isNull ? ${CodeGenerator.defaultValue(dt)}
           |  : $get;
           |${check(ctx, self, v, value, isNull, dt, res, rootVar)}"""
          .stripMargin
      case Some(pass) =>
        val nullCase =
          if (pass) "/* optional: null passes */" else s"$res = false;"
        s"""$load
           |if ($isNull) { $nullCase } else {
           |  $jt $value =
           |    $get;
           |  ${check(ctx, self, v, value, "false", dt, res, rootVar)}
           |}""".stripMargin
    }
  }

  /** `res = start`, then each step in turn while `res` still equals
    * `start`: the short circuit of and/or, tuple positions and object
    * fields. */
  private def chain(res: String, start: Boolean,
                    steps: Seq[String]): String = {
    val live = if (start) res else s"!$res"
    (s"$res = $start;" +: steps.map { step =>
      s"""
         |if ($live) {
         |  $step
         |}
       """.stripMargin
    }).mkString("\n")
  }

  /** a container check: a null container fails, else `body` */
  private def nonNull(isNullCode: String, res: String,
                      body: String): String =
    s"""
       |if ($isNullCode) { $res = false; } else {
       |  $body
       |}
     """.stripMargin

  /** emit Java assigning `res = <value passes v>`. `valueVar` holds the
    * (possibly primitive) value, `isNullCode` a boolean expression that
    * is true when the value is null. */
  private def emit(ctx: CodegenContext, self: String, v: VNode,
                   valueVar: String, isNullCode: String, dt: DataType,
                   res: String, rootVar: String): String = v match {
    case VNode.PassAlways => s"$res = true;"
    case VNode.FailAlways => s"$res = false;"

    case l: VNode.Leaf =>
      // bind the leaf condition's BoundReference(0) to the local value
      // via currentVars — the same mechanism whole-stage codegen uses
      val isNullVar = ctx.freshName("vNull")
      val saved = ctx.currentVars
      val savedRow = ctx.INPUT_ROW
      ctx.currentVars = Seq(ExprCode(
        JavaCode.isNullVariable(isNullVar),
        JavaCode.variable(valueVar, dt)))
      ctx.INPUT_ROW = null
      val ec = try l.fail.genCode(ctx)
      finally { ctx.currentVars = saved; ctx.INPUT_ROW = savedRow }
      s"""
         |boolean $isNullVar = $isNullCode;
         |${ec.code}
         |$res = !(!${ec.isNull} && ${ec.value});
       """.stripMargin

    case c: VNode.Cond =>
      // Fallback over the value (boxed; object types pass as-is), or
      // RowFallback over the root row
      val arg = c match {
        case _: VNode.RowFallback => s"(Object) $rootVar"
        case _ if CodeGenerator.isPrimitiveType(dt) =>
          s"(($isNullCode) ? null : " +
            s"(Object) ${CodeGenerator.boxedType(dt)}.valueOf($valueVar))"
        case _ => s"(($isNullCode) ? null : (Object) $valueVar)"
      }
      s"$res = !$self.leafFails(${leaves.indexOf(c)}, $arg);"

    case VNode.Opt(inner) =>
      val innerRes = ctx.freshName("optRes")
      s"""
         |boolean $innerRes = true;
         |if (!($isNullCode)) {
         |  ${emitNode(ctx, self, inner, valueVar, "false", dt, innerRes,
                   rootVar)}
         |}
         |$res = $innerRes;
       """.stripMargin

    case VNode.AndN(_) | VNode.OrN(_) =>
      chain(res, start = v.isInstanceOf[VNode.AndN], v.children.map(
        check(ctx, self, _, valueVar, isNullCode, dt, res, rootVar)))

    case VNode.Arr(elem, et) =>
      val arr = ctx.freshName("arr"); val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      nonNull(isNullCode, res,
        s"""ArrayData $arr = $valueVar;
           |final int $n = $arr.numElements();
           |$res = true;
           |for (int $i = 0; $i < $n && $res; $i++) {
           |  ${slot(ctx, self, elem, arr, i, et, res, rootVar, None)}
           |}""".stripMargin)

    case VNode.TupArr(items, et, strict) =>
      val arr = ctx.freshName("arr"); val n = ctx.freshName("n")
      val strictGate =
        if (strict) s"else if ($n > ${items.size}) { $res = false; }"
        else ""
      val positions = items.zipWithIndex.map { case (item, i) =>
        slot(ctx, self, item, arr, i.toString, et, res, rootVar, None)
      }
      nonNull(isNullCode, res,
        s"""ArrayData $arr = $valueVar;
           |final int $n = $arr.numElements();
           |if ($n < ${items.size}) { $res = false; }
           |$strictGate
           |else {
           |  ${chain(res, start = true, positions)}
           |}""".stripMargin)

    case VNode.TupStruct(items) =>
      val row = ctx.freshName("row")
      val positions = items.zipWithIndex.map { case ((item, fdt), i) =>
        slot(ctx, self, item, row, i.toString, fdt, res, rootVar, None)
      }
      nonNull(isNullCode, res, s"InternalRow $row = $valueVar;\n" +
        chain(res, start = true, positions))

    case VNode.Obj(fields) =>
      val row = ctx.freshName("row")
      val checks = fields.map { f =>
        if (f.ordinal < 0) // row-scoped (cross-field) field check
          check(ctx, self, f.inner, valueVar, "false", f.dt, res, rootVar)
        else slot(ctx, self, f.inner, row, f.ordinal.toString, f.dt, res,
          rootVar, Some(f.optional))
      }
      nonNull(isNullCode, res, s"InternalRow $row = $valueVar;\n" +
        chain(res, start = true, checks))

    case _: VNode.Field => sys.error("Field is only reachable through Obj")

    case VNode.MapVals(valueNode, vt) =>
      emit(ctx, self, VNode.Arr(valueNode, vt), s"$valueVar.valueArray()",
        isNullCode, ArrayType(vt), res, rootVar)
  }

  override protected def withNewChildInternal(c: Expression): ContractCheck =
    copy(child = c)
}

object ContractCheck {

  /** The bound generic first-violation expression as it ships: only
    * its Java serialization, deflated, is written (`driverExpr` is
    * transient). `expr` is the driver's tree where it was built and is
    * decoded from the bytes, once per deserialized copy, wherever it
    * was shipped to — through Spark's `JavaSerializer`, which resolves
    * classes with the context class loader like task deserialization
    * does. Equality and hash follow the bytes, so plans that carry the
    * same compile compare equal. */
  final class Generic private[functions] (@transient driverExpr: Expression)
      extends Serializable {
    private val bytes: Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      val s = serializer.serializeStream(
        new java.util.zip.DeflaterOutputStream(out))
      try s.writeObject(driverExpr) finally s.close()
      out.toByteArray
    }

    @transient lazy val expr: Expression =
      if (driverExpr != null) driverExpr
      else {
        val s = serializer.deserializeStream(
          new java.util.zip.InflaterInputStream(
            new java.io.ByteArrayInputStream(bytes)))
        try s.readObject[Expression]() finally s.close()
      }

    @transient private lazy val hash = java.util.Arrays.hashCode(bytes)
    override def hashCode: Int = hash
    override def equals(o: Any): Boolean = o match {
      case g: Generic => (g eq this) || java.util.Arrays.equals(bytes, g.bytes)
      case _ => false
    }
  }

  private def serializer =
    new JavaSerializer(new SparkConf(false)).newInstance()

  /** Row-level first violation through the codegen'd verdict: the whole
    * row (as a struct) is checked by the compiled verdict program;
    * failing rows delegate to the generic compile for bit-identical
    * payloads. Output ≡ [[graft.engine.Validate.firstViolation]]
    * (property-tested). */
  def rowFirstViolation(df: org.apache.spark.sql.DataFrame,
                        contract: ObjectC, thing: String = "data")
      : Column = {
    implicit val spark: org.apache.spark.sql.SparkSession =
      df.sparkSession
    import org.apache.spark.sql.functions.{col, struct}
    val rowType = StructType(df.schema.fields)
    implicit val env: MsgEnv = MsgEnv(thing, contract)
    // the verdict program AND the bound generic expression are pure
    // functions of (contract, schema, thing, session time zone, ANSI
    // mode: the last two decide how the probe folds casts and
    // arithmetic) — deterministic immutable trees whose construction
    // pays per-leaf probe analyses plus a full optimizer constant-fold
    // of the message scaffolding (bindRow), i.e. serial driver CPU
    // per query construction. Memoized since round 6
    // ([[graft.contracts.CompileCache]] — the compile amortizes like
    // Janino's codegen cache; results are still computed fresh per
    // action), together with the generic tree's shipped bytes.
    val (plan, generic) = graft.contracts.CompileCache.memo(
      ("rowFirstViolation", new graft.contracts.CompileCache.IdRef(
        contract), rowType, thing,
        spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key),
        spark.conf.get(SQLConf.ANSI_ENABLED.key))) {
      // no size cap: doGenCode hoists composite nodes past
      // SplitLeafThreshold leaves into their own generated methods, so
      // arbitrarily large contracts stay on the codegen verdict (round 2
      // fell back to the interpreted generic compile past 300 leaves).
      // The generic compile is over the REAL row schema (so cross-field
      // predicates resolve against siblings, exactly like
      // Validate.firstViolation), bound to the row struct in slot 0.
      (VerdictCompiler.buildRow(contract, rowType), new Generic(
        VerdictCompiler.bindRow(Compiler.rowViols(contract, rowType),
          rowType)))
    }
    val rowStruct = struct(df.columns.toSeq.map(col): _*)
    GraftColumnBridge.column(ContractCheck(
      GraftColumnBridge.expression(rowStruct), plan, generic))
  }
}
