package graft.contracts

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Path-frame context for one compilation site. Mirrors the reference's
  * `context.stack` of stackContextItems (contract-errors.js:11-66), but
  * statically unrolled: at every recursion the compiler knows the full
  * short-form path so far (`path`), the long English form of the
  * INNERMOST frame (`frameLong` — "for the 2nd element of the array",
  * contract-errors.js:41-47), and the short path EXCLUDING the innermost
  * frame (`ppath` — the "at position" clause renders the stack minus the
  * long-printed innermost frame, contract-errors.js:200-231). */
case class Frame(path: Column, frameLong: Column, ppath: Column) {
  def push(short: Column, long: Column): Frame =
    Frame(concat(path, short), long, path)
}
object Frame {
  val root: Frame = Frame(lit(""), lit(""), lit(""))
  /** frame for a named field hanging off `parent` */
  def field(parent: Frame, fname: String): Frame =
    parent.push(lit("." + fname),
      lit(s"for the field `$fname` of the object"))
}

/** Message environment threaded through compilation: the check-name
  * (`thingName`, contract-errors.js:154-170), the ROOT contract's
  * rendering (the `in contract:` clause always shows the root
  * contract, contract-errors.js:224-228), and — when full-value
  * reporting is enabled — the depth-capped rendering of the root value
  * ("The full value being checked was:", contract-errors.js:182-198).
  * Or-failure aggregation (contract.impl.js:455-471) embeds fully
  * assembled inner messages, which is why compilation needs all three. */
case class MsgEnv(thing: String, rootRepr: String,
                  rootRender: Option[Column],
                  blameLine: Option[String] = None)
object MsgEnv {
  def apply(thing: String, root: Contract): MsgEnv =
    MsgEnv(thing, root.render, None)
}

/** Compiles a [[Contract]] against a concrete Spark schema into a single
  * Catalyst `Column` yielding the row's FIRST violation — a struct of
  * (path, expected, got, kind, frame_long, ppath, ctx) — or NULL when
  * the row conforms.
  *
  * This replaces the reference's per-value recursive interpretation
  * (`checkWContext`, contract.impl.js:30-63) with a *static* compilation:
  * the depth-first, declaration-order traversal is encoded as nested
  * `coalesce`/`when`/`transform` expressions, so Catalyst constant-folds,
  * prunes columns, pushes filters, and whole-stage-codegens the check.
  * "Throws first error" (context.fail, contract.impl.js:108-111) becomes
  * "first non-null violation in canonical traversal order".
  *
  * Schema-awareness: JS is dynamically typed, Spark is not. A type gate
  * that the physical schema already guarantees (e.g. `string` on a
  * StringType column) reduces to a null check (SQL NULL ⇔ JS
  * null/undefined, utils.js:20-22); a gate the schema contradicts (e.g.
  * `string` on LongType) compiles to an unconditional per-row violation,
  * matching the reference's runtime "Expected string, but got 5".
  *
  * Message parity: the violation struct carries everything
  * [[Compiler.assembleMessage]] needs to render the reference's
  * ContractError text BYTE-IDENTICALLY (verified against messages
  * captured from executing the reference itself — see
  * MessageParitySpec): the `kind` field selects the construction path
  * (`e` = .expected(...).fullContractAndValue(), `t` = .expected() with
  * NO full-contract clause — the tuple-size error, contract.impl.js:552,
  * `r`/`x`/`o` = constructor-message errors: required field :656,
  * strict-extras :702, or-aggregation :455-471).
  *
  * Scale notes: violation *rendering* (`got` strings, paths, or-failure
  * aggregation) sits inside `when(fail, …)` branches, so conforming rows
  * — the overwhelming majority at 10¹²-doc scale — never pay
  * string-building cost (the reference's silent-frame / lazy-message
  * optimization, SURVEY.md §4.1). Rendered values are depth- and
  * length-capped (utils.js:53-65 analog).
  */
object Compiler {

  /** violation payload produced per node; `contract_repr` and `message`
    * are attached at the sink (see [[graft.engine.Validate]]). */
  val violType: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("expected", StringType),
    StructField("got", StringType),
    StructField("kind", StringType),
    StructField("frame_long", StringType),
    StructField("ppath", StringType),
    StructField("ctx", StringType)))

  /** inspection depth/length for rendered values. Mutable module state
    * mirrors the reference exactly: setErrorMessageInspectionDepth is a
    * global knob there too (utils.js:53-57; default depth 5). Length cap
    * is the engine's scale guard (bounded violation-row bytes). */
  @volatile var MaxRenderDepth = 5
  @volatile var MaxRenderLen = 512
  def setErrorMessageInspectionDepth(d: Int): Unit = {
    require(d >= 0, "depth must be >= 0"); MaxRenderDepth = d
  }

  private val nullViol: Column = lit(null).cast(violType)

  def viol(f: Frame, expected: Column, got: Column, kind: String = "e",
           ctx: Column = lit("")): Column =
    struct(f.path.as("path"), expected.as("expected"), got.as("got"),
      lit(kind).as("kind"), f.frameLong.as("frame_long"),
      f.ppath.as("ppath"), ctx.as("ctx")).cast(violType)

  def viol(f: Frame, expected: String, got: Column): Column =
    viol(f, lit(expected), got)

  /** ordinal English, 0-based input — utils.js:39-51 verbatim,
    * including the reference's own quirk that 10 renders "11st" (no
    * 11/12/13 special case). */
  def ithS(i: Int): String = {
    val n = i + 1
    val suffix = n % 10 match {
      case 1 => "st"; case 2 => "nd"; case 3 => "rd"; case _ => "th"
    }
    s"$n$suffix"
  }

  /** runtime ordinal for array indices */
  def ith(i: Column): Column = {
    val n = i + 1
    val m = pmod(n, lit(10))
    concat(n.cast(StringType),
      when(m === 1, "st").when(m === 2, "nd")
        .when(m === 3, "rd").otherwise("th"))
  }

  // ---------------------------------------------------------------------
  // message assembly — ContractError text, byte-identical to the
  // reference (contract-errors.js:124-231). Verified against messages
  // captured from EXECUTING the reference (MessageParitySpec goldens).
  // ---------------------------------------------------------------------

  /** Assemble the reference-format multi-line message from a violation
    * struct. Layout (contract-errors.js):
    *  - blame line: "check on `thing` failed:" (:154-170)
    *  - kinds e/t: "Expected E, but got G" on its own line (:172-180);
    *    kinds r/x/o: the constructor message joined by a space (:129-135)
    *  - long-form innermost frame ("for the 2nd element of the array")
    *    then "at position <rest>\nin contract:\n<root render>" when
    *    frames remain (:200-228); kind t skips this — the reference's
    *    tuple-size error never calls fullContract (contract.impl.js:552)
    *  - "The full value being checked was:\n<root value>" whenever the
    *    frame stack is non-empty (:182-198; `!self.expected` is always
    *    false — `expected` resolves to the prototype method — so only
    *    the stack condition matters). Omitted when the engine runs with
    *    full-value rendering off (the at-scale default; parity mode
    *    enables it). */
  def assembleMessage(v: Column)(implicit env: MsgEnv): Column = {
    // wrapping mode (published members) overrides the blame line with
    // caller-/callee-blame per the reference (contract-errors.js:163-169)
    val blame = env.blameLine.getOrElse(s"check on `${env.thing}` failed:")
    val kind = v.getField("kind")
    // kind "ts" = the STRICT tuple-size error: an .expected(...) error
    // WITH fullContractAndValue (contract.impl.js:580-586), unlike the
    // non-strict size error ("t", :550-556) which has neither clause —
    // and exempt from rename (both wordings are hardcoded "tuple ...").
    val expectedLine = kind === "e" || kind === "t" || kind === "ts"
    val head = when(expectedLine,
        concat(lit(blame + "\nExpected "), v.getField("expected"),
          lit(", but got "), v.getField("got"), lit("\n")))
      .otherwise(concat(lit(blame + " "), v.getField("ctx"), lit("\n")))
    val fl = v.getField("frame_long")
    val pp = v.getField("ppath")
    val frames = when(kind === "t", lit("")).otherwise(concat(
      when(fl =!= "", concat(fl, lit("\n"))).otherwise(lit("")),
      when(pp =!= "", concat(lit("at position "), pp,
        lit("\nin contract:\n" + env.rootRepr + "\n"))).otherwise(lit(""))))
    val full = env.rootRender match {
      case Some(rr) =>
        when(kind =!= "t" && fl =!= "",
          concat(lit("The full value being checked was:\n"), rr, lit("\n")))
          .otherwise(lit(""))
      case None => lit("")
    }
    concat(head, frames, full)
  }

  /** Fail condition for LEAF (scalar) nodes: TRUE when the value
    * violates, never-true/null-safe composed so `!cond` is the pass
    * verdict. None for shapes/combinators (they recurse). Single source
    * of truth shared by [[firstViol]] (wraps `when(cond, viol)`) and the
    * codegen verdict compiler (graft.functions.VerdictCompiler negates
    * it in generated code). */
  def leafFail(c: Contract, dt: DataType, col: Column): Option[Column] =
    c match {
      case AnyC => Some(lit(false))
      case NothingC => Some(lit(true))
      case StringC => Some(gateFail(dt == StringType, col))
      case NumberC => Some(gateFail(isNumeric(dt), col))
      case BoolC => Some(gateFail(dt == BooleanType, col))
      case DateC => Some(gateFail(dt == DateType || dt == TimestampType ||
        dt == TimestampNTZType, col))
      case IntegerC => Some(dt match {
        case t if isIntegral(t) => col.isNull
        case DoubleType | FloatType =>
          col.isNull || isnan(col) || floor(col) =!= col
        case _: DecimalType => col.isNull || floor(col) =!= col
        case _ => lit(true)
      })
      case ValueC(v) =>
        Some(if (comparable(dt, v)) !(col <=> lit(v)) else lit(true))
      case OneOfC(vs) =>
        // the reference passes when the value STRICTLY equals any listed
        // candidate (_.contains, contract.impl.js:308-321): candidates of
        // another type simply can't match — they must not fail the check
        // wholesale for the comparable ones (fuzz fz848: oneOf(a, a, 10)
        // vs 'a' passes); a null candidate matches a null value
        val cmp = vs.filter(v => v != null && comparable(dt, v))
        val hasNull = vs.contains(null)
        val matches =
          (if (cmp.nonEmpty)
            col.isNotNull && coalesce(col.isin(cmp: _*), lit(false))
          else lit(false)) ||
            (if (hasNull) col.isNull else lit(false))
        Some(!matches)
      case FalsyC => Some(!isFalsy(dt, col))
      case TruthyC => Some(isFalsy(dt, col))
      case MatchesC(re) => Some(dt match {
        case StringType => col.isNull || !coalesce(col.rlike(re), lit(false))
        case _ => lit(true)
      })
      case PredC(_, fn, _) => Some(!coalesce(fn(col), lit(false)))
      case PredUdfC(_, fn, _) =>
        val u = udf((v: Any) => fn(v))
        Some(!coalesce(u(col), lit(false)))
      case _ => None // shapes / combinators recurse
    }

  private def gateFail(typeOk: Boolean, col: Column): Column =
    if (typeOk) col.isNull else lit(true)

  /** first-violation expression for contract `c` over column `col` of
    * static type `dt` at frame `f`. */
  def firstViol(c: Contract, dt: DataType, col: Column, f: Frame)
               (implicit env: MsgEnv): Column =
    c match {
      case AnyC => nullViol

      case NothingC => viol(f, "nothing", render(dt, col))

      case Renamed(inner, name) =>
        // rename affects the display name in messages
        // (contract.impl.js:188-198): rewrite the `expected` field on
        // violations raised BY this node (same path, kind e). A renamed
        // SILENT and keeps its branch names — the branches are separate
        // contract objects sharing the path (no `.and(i)` frame), so
        // the rewrite must not touch them (fuzz fz1839:
        // rename(silentAnd(value(42), any)) reports "Expected value(42)")
        inner match {
          case AndC(_, true) => firstViol(inner, dt, col, f)
          case _ =>
            val v = firstViol(inner, dt, col, f)
            when(v.isNotNull, renameExpected(v, f, name))
        }

      case fr: CyclicC => firstViol(fr.resolved, dt, col, f)

      case OptionalC(inner) =>
        // null short-circuits the whole check (contract.impl.js:31-32)
        when(col.isNotNull, firstViol(inner, dt, col, f))

      // scalar leaves: the fail condition comes from leafFail (shared
      // with the codegen verdict compiler); expected = contractName,
      // got = rendered value ("null" when null). Semantics per node —
      // integer: Math.floor(v) === v, NaN rejected (contract.impl.js:
      // 334-337); matches: string gate first, null fails without
      // coercion (contract.spec.js:178-180); Date name is capital-D
      // (contract.impl.js:346).
      case StringC | NumberC | BoolC | DateC | IntegerC | _: ValueC |
           _: OneOfC | FalsyC | TruthyC | _: MatchesC | _: PredC |
           _: PredUdfC =>
        when(leafFail(c, dt, col).get, viol(f, c.name, render(dt, col)))

      case AndC(branches, silent) =>
        // in order, fail on first (contract.impl.js:384-410); non-silent
        // branches push `.and(i)` frames — even a single branch
        // (checkMany, contract.impl.js:377-382)
        val vs = branches.zipWithIndex.map { case (b, i) =>
          val bf = if (silent) f else f.push(lit(s".and($i)"),
            lit(s"for the ${ithS(i)} branch of the `and` contract"))
          firstViol(b, dt, col, bf)
        }
        coalesceAll(vs)

      case o @ OrC(branches) =>
        // first-success short-circuit in declaration order; or-branches
        // check silently (no frame); on total failure the message
        // aggregates EVERY failure of every branch — the reference's
        // collecting context.fail (contract.impl.js:440-471)
        val vs = branches.map(b => firstViol(b, dt, col, f))
        val allFail = vs.map(_.isNotNull).reduce(_ && _)
        // ctx (heavy: per-branch collect-all + full message assembly)
        // sits under when(allFail, …) — conforming rows never evaluate it
        when(allFail,
          viol(f, lit("none of the contracts passed"), render(dt, col),
            "o", orCtx(o, dt, col, f)))

      case a @ ArrayC(item) => dt match {
        case ArrayType(et, _) =>
          // every element checked, `[i]` frame (arrayItem,
          // contract-errors.js:41-47); first failing element wins
          val elems = transform(col, (x, i) =>
            firstViol(item, et, x, f.push(
              concat(lit("["), i.cast(StringType), lit("]")),
              concat(lit("for the "), ith(i),
                lit(" element of the array")))))
          when(col.isNull, viol(f, a.name, lit("null")))
            .otherwise(get(array_compact(elems), lit(0)))
        case _ => viol(f, a.name, render(dt, col))
      }

      case t @ TupleC(items, strict) => dt match {
        case ArrayType(et, _) =>
          val n = items.size
          val posViols = items.zipWithIndex.map { case (ic, i) =>
            firstViol(ic, et, element_at(col, i + 1), tupleFrame(f, i))
          }
          // size error: .expected() only, NO fullContractAndValue
          // (contract.impl.js:550-556) → kind 't'
          val sizeViol = when(size(col) < n,
            viol(f, lit(s"tuple of size $n"), render(dt, col), "t"))
          // strict checks EXACT size FIRST — its nestedChecker wraps the
          // base one (contract.impl.js:578-590) — and the error carries
          // fullContractAndValue (kind 'ts'), unlike the base size error
          val strictViol =
            if (strict) when(size(col) =!= n,
              viol(f, lit(s"tuple of exactly size $n"), render(dt, col),
                "ts"))
            else nullViol
          when(col.isNull, viol(f, t.name, lit("null")))
            .otherwise(coalesceAll(strictViol +: sizeViol +: posViols))
        case StructType(sfs) =>
          // heterogeneous tuples land on structs; the "length" is the
          // static field count, so size errors are compile-time constants
          val n = items.size
          val body =
            if (strict && sfs.length != n)
              viol(f, lit(s"tuple of exactly size $n"), render(dt, col),
                "ts")
            else if (sfs.length < n)
              viol(f, lit(s"tuple of size $n"), render(dt, col), "t")
            else coalesceAll(items.zipWithIndex.map { case (ic, i) =>
              firstViol(ic, sfs(i).dataType, col.getField(sfs(i).name),
                tupleFrame(f, i))
            })
          // null fails the firstChecker gate BEFORE any size check
          when(col.isNull, viol(f, t.name, lit("null"))).otherwise(body)
        case _ => viol(f, t.name, render(dt, col))
      }

      case h @ HashC(valueC) => dt match {
        case MapType(_, vt, _) =>
          // every value checked, `.k` frame (hashItem,
          // contract.impl.js:609-640)
          val entryViols = transform(map_entries(col), e =>
            firstViol(valueC, vt, e.getField("value"), hashFrame(f, e)))
          when(col.isNull, viol(f, h.name, lit("null")))
            .otherwise(get(array_compact(entryViols), lit(0)))
        case _ => viol(f, h.name, render(dt, col))
      }

      case o: ObjectC => dt match {
        case st: StructType =>
          when(col.isNull, viol(f, o.name, lit("null")))
            .otherwise(
              objectViols(o, st, fn => col.getField(fn), f, render(dt, col)))
        case MapType(StringType, vt, _) =>
          // dynamic rows: declared fields looked up by key; strict
          // extras are a RUNTIME key diff here, checked FIRST like the
          // struct path (contract.impl.js:694-708 wraps the base checker)
          val checks = o.fields.toSeq.map { case (fname, fc) =>
            fieldCheck(fname, fc, vt, element_at(col, fname),
              Frame.field(f, fname), f, render(dt, col))
          }
          val strictViol =
            if (o.isStrict) mapStrictExtrasViol(o, col, f, render(dt, col))
            else nullViol
          when(col.isNull, viol(f, o.name, lit("null")))
            .otherwise(coalesceAll(strictViol +: checks))
        case _ => viol(f, o.name, render(dt, col))
      }
    }

  private def tupleFrame(f: Frame, i: Int): Frame =
    f.push(lit(s"[$i]"),
      lit(s"for the ${ithS(i)} element of the tuple"))

  private def hashFrame(f: Frame, entry: Column): Frame =
    f.push(concat(lit("."), entry.getField("key").cast(StringType)),
      concat(lit("for the key `"), entry.getField("key").cast(StringType),
        lit("` of the hash")))

  /** rename rewrites `expected` on violations raised by this node
    * itself (same path, expected-template kinds). */
  private def renameExpected(v: Column, f: Frame, name: String): Column =
    struct(v.getField("path").as("path"),
      // only the firstChecker GATE failure (kind e) carries the renamed
      // contractName; tuple-size errors (kinds t/ts) hardcode "tuple of
      // [exactly ]size N" regardless of rename (contract.impl.js:552,:584)
      when(v.getField("path") === f.path && v.getField("kind") === "e",
        lit(name)).otherwise(v.getField("expected")).as("expected"),
      v.getField("got").as("got"), v.getField("kind").as("kind"),
      v.getField("frame_long").as("frame_long"),
      v.getField("ppath").as("ppath"),
      v.getField("ctx").as("ctx")).cast(violType)

  /** or-failure message body (contract.impl.js:455-471):
    * "none of the contracts passed:" + branch renders, then
    * "The failures were:" with one numbered entry per COLLECTED failure
    * — the reference's overridden context.fail collects every failure
    * in a branch's subtree (collect-all), so entries can outnumber
    * branches. Each entry embeds the branch's toString and the inner
    * error's fully assembled message. */
  private def orCtx(o: OrC, dt: DataType, col: Column, f: Frame)
                   (implicit env: MsgEnv): Column = {
    val taggedType = StructType(Seq(
      StructField("r", StringType), StructField("v", violType)))
    val tagged = o.branches.map { b =>
      transform(allViols(b, dt, col, f), v =>
        struct(lit(b.render).as("r"), v.as("v")).cast(taggedType))
    }
    val combined = tagged.reduce(concat(_, _))
    val entries = transform(combined, (x, i) =>
      concat(lit("["), (i + 1).cast(StringType), lit("] --\n"),
        x.getField("r"), lit(": "), assembleMessage(x.getField("v"))))
    // Interpreted: this tree (per-branch collect-all + message assembly,
    // replicated per or-node) is what used to push generated methods past
    // Janino's 64KB limit on or-heavy contracts, silently deoptimizing
    // the whole stage. As one interpreted call it costs nothing on
    // conforming rows (it sits under when(allFail, …)) and keeps the
    // surrounding traversal codegen'd.
    graft.functions.Interpreted(concat(
      lit("none of the contracts passed:\n" +
        o.branches.map(b => s" - ${b.render}").mkString("\n") +
        "\n\nThe failures were:\n"),
      array_join(entries, "\n\n"), lit("\n")))
  }

  /** declared-field checks of an object contract over a struct, in
    * declaration order (JS insertion order ⇒ ListMap) — the core of
    * contract.impl.js:642-730. Factored so the row-level validator can
    * bind fields to real top-level columns (no struct() wrapper).
    * `selfRender` renders the object value itself (required-field and
    * strict-extras messages embed it, contract.impl.js:656, :702). */
  def objectViols(o: ObjectC, st: StructType, fieldCol: String => Column,
                  f: Frame, selfRender: Column)
                 (implicit env: MsgEnv): Column = {
    val byName = st.fields.map(x => x.name -> x).toMap
    val checks = o.fields.toSeq.map { case (fname, fc) =>
      byName.get(fname) match {
        case None =>
          if (isOptionalC(fc)) nullViol
          // missing non-optional field: ``Field `x` required``
          // (contract.impl.js:653-660) — here the *schema* lacks it, so
          // every row violates
          else requiredViol(fname, Frame.field(f, fname), f, selfRender,
            lit("missing"))
        case Some(sf) =>
          fieldCheck(fname, fc, sf.dataType, fieldCol(fname),
            Frame.field(f, fname), f, selfRender)
      }
    }
    val strictViol =
      if (o.isStrict) {
        // rejects undeclared fields, error lists them
        // (contract.impl.js:691-719); static schema ⇒ compile-time diff.
        // strict's nestedChecker WRAPS the base one, so the extras check
        // runs BEFORE required/field checks (contract.impl.js:694-708)
        val extra = st.fieldNames.filterNot(o.fields.keySet)
        if (extra.nonEmpty) strictExtrasViol(extra.toSeq, f, selfRender)
        else nullViol
      } else nullViol
    coalesceAll(strictViol +: checks)
  }

  /** [[objectViols]] of a whole row: `o`'s fields bound to the
    * top-level columns of `rowType`, the row rendered as a struct —
    * the generic row-level compile. */
  private[graft] def rowViols(o: ObjectC, rowType: StructType,
                              f: Frame = Frame.root)
                             (implicit env: MsgEnv): Column =
    objectViols(o, rowType, col, f, rowRender(rowType))

  /** [[render]] of a whole row of `rowType`, as a struct */
  private[graft] def rowRender(rowType: StructType): Column =
    render(rowType, struct(rowType.fieldNames.toSeq.map(col): _*))

  /** ``Field `x` required, got <render of the object>`` — raised at the
    * OBJECT's level (the reference fails before pushing the field frame,
    * contract.impl.js:653-660), so message frames come from the object's
    * frame while the data-plane `path` still points at the field. */
  private def requiredViol(fname: String, childF: Frame, objF: Frame,
                           selfRender: Column, got: Column): Column =
    viol(Frame(childF.path, objF.frameLong, objF.ppath),
      lit(s"Field `$fname`"), got, "r",
      concat(lit(s"Field `$fname` required, got "), selfRender))

  /** strict-mode undeclared fields (contract.impl.js:691-719): message
    * is a constructor-msg error whose text ends with its own newline. */
  private def strictExtrasViol(extra: Seq[String], f: Frame,
                               selfRender: Column): Column = {
    val label = if (extra.size == 1) "field " else "fields "
    val names = extra.map(k => s"`$k`").mkString(", ")
    viol(f, lit("object with no extra fields"),
      lit(extra.mkString("{", ", ", "}")), "x",
      concat(lit(s"Found the extra $label$names in "), selfRender,
        lit("\n")))
  }

  /** runtime twin of [[strictExtrasViol]] for DYNAMIC (map-typed)
    * objects: the undeclared-key diff happens per row, in the map's own
    * key order (`_.difference(_.keys(data), …)` preserves data order,
    * contract.impl.js:694). */
  private def mapStrictExtrasViol(o: ObjectC, col: Column, f: Frame,
                                  selfRender: Column): Column = {
    val declared = o.fields.keys.toSeq
    val extras = filter(map_keys(col),
      k => !coalesce(k.isin(declared.map(lit): _*), lit(false)))
    val names = array_join(
      transform(extras, k => concat(lit("`"), k, lit("`"))), ", ")
    val label = when(size(extras) === 1, "field ").otherwise("fields ")
    when(size(extras) > 0,
      viol(f, lit("object with no extra fields"),
        concat(lit("{"), array_join(extras, ", "), lit("}")), "x",
        concat(lit("Found the extra "), label, names, lit(" in "),
          selfRender, lit("\n"))))
  }

  /** one declared field: required-unless-optional; a NULL value on a
    * required field reports ``Field `x` required``, not the inner
    * contract's type error (contract.impl.js:653-663). */
  private def fieldCheck(fname: String, fc: Contract, dt: DataType,
                         child: Column, childF: Frame, objF: Frame,
                         selfRender: Column)
                        (implicit env: MsgEnv): Column =
    peelOptional(fc) match {
      case Some(inner) =>
        when(child.isNotNull, firstViol(inner, dt, child, childF))
      case None =>
        when(child.isNull,
          requiredViol(fname, childF, objF, selfRender, lit("null")))
          .otherwise(firstViol(fc, dt, child, childF))
    }

  /** strips one level of optionality, preserving a rename wrapper so a
    * renamed optional keeps its display name on failure
    * (`optional(...).rename(...)` composes like gentleUpdate clones).
    * The one test of what counts as an optional field, for this compile
    * and the verdict's ([[graft.functions.VerdictCompiler]]). */
  private[graft] def peelOptional(c: Contract): Option[Contract] = c match {
    case OptionalC(inner) => Some(inner)
    case Renamed(inner, n) => peelOptional(inner).map(Renamed(_, n))
    case _ => None
  }

  private def isOptionalC(c: Contract): Boolean = peelOptional(c).isDefined

  private def coalesceAll(vs: Seq[Column]): Column = {
    val live = vs // keep order; coalesce = first non-null = first failure
    live.size match {
      case 0 => nullViol
      case 1 => live.head
      case _ => coalesce(live: _*)
    }
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType => true
    case _: DecimalType => true
    case _ => false
  }
  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def comparable(dt: DataType, v: Any): Boolean = (dt, v) match {
    case (_, null) => true
    case (StringType, _: String) => true
    case (t, _: Int) if isNumeric(t) => true
    case (t, _: Long) if isNumeric(t) => true
    case (t, _: Double) if isNumeric(t) => true
    case (t, _: Float) if isNumeric(t) => true
    case (BooleanType, _: Boolean) => true
    // temporal literals: the reference's `value` accepts any literal
    // (contract.impl.js:323-326) — Date/Timestamp columns compare
    // null-safely against java.sql / java.time literals
    case (DateType, _: java.sql.Date) => true
    case (DateType, _: java.time.LocalDate) => true
    case (TimestampType, _: java.sql.Timestamp) => true
    case (TimestampType, _: java.time.Instant) => true
    case (TimestampNTZType, _: java.time.LocalDateTime) => true
    case _ => false
  }

  /** JS-falsy per static type: false, 0, '', NaN, null
    * (contract.impl.js:298-301). Containers are always truthy in JS. */
  private def isFalsy(dt: DataType, col: Column): Column = dt match {
    case StringType => col.isNull || col === ""
    case BooleanType => col.isNull || !col
    case DoubleType | FloatType => col.isNull || isnan(col) || col === 0.0
    case t if isNumeric(t) => col.isNull || col === 0
    case _ => col.isNull
  }

  // ---------------------------------------------------------------------
  // collect-ALL mode: every violation in depth-first order (array of
  // viol structs). The reference's check() throws on the FIRST error
  // (context.fail, contract.impl.js:108-111) — firstViol is the parity
  // surface. allViols serves two masters: the engine's batch-reporting
  // extension (a 10¹²-row job wants the full defect inventory in one
  // pass), and or-failure aggregation, where the reference's collecting
  // context.fail gathers EVERY failure in each branch's subtree
  // (contract.impl.js:440-452).
  // ---------------------------------------------------------------------

  private val emptyViols: Column = array().cast(ArrayType(violType))

  private def asArray(v: Column): Column =
    when(v.isNotNull, array(v)).otherwise(emptyViols)

  def allViols(c: Contract, dt: DataType, col: Column, f: Frame)
              (implicit env: MsgEnv): Column = c match {
    case AnyC => emptyViols
    case OptionalC(inner) =>
      when(col.isNotNull, allViols(inner, dt, col, f))
        .otherwise(emptyViols)
    case Renamed(inner, name) =>
      // silent-and branches keep their own names (see firstViol twin)
      inner match {
        case AndC(_, true) => allViols(inner, dt, col, f)
        case _ => transform(allViols(inner, dt, col, f), v =>
          renameExpected(v, f, name))
      }
    case fr: CyclicC => allViols(fr.resolved, dt, col, f)
    case AndC(branches, silent) =>
      val vs = branches.zipWithIndex.map { case (b, i) =>
        val bf = if (silent) f else f.push(lit(s".and($i)"),
          lit(s"for the ${ithS(i)} branch of the `and` contract"))
        allViols(b, dt, col, bf)
      }
      vs.reduce(concat(_, _))
    case a @ ArrayC(item) => dt match {
      case ArrayType(et, _) =>
        when(col.isNull, array(viol(f, a.name, lit("null"))))
          .otherwise(flatten(transform(col, (x, i) =>
            allViols(item, et, x, f.push(
              concat(lit("["), i.cast(StringType), lit("]")),
              concat(lit("for the "), ith(i),
                lit(" element of the array")))))))
      case _ => asArray(firstViol(a, dt, col, f))
    }
    case o: ObjectC => dt match {
      case st: StructType =>
        val byName = st.fields.map(x => x.name -> x).toMap
        val selfRender = render(dt, col)
        val checks = o.fields.toSeq.map { case (fname, fc) =>
          val childF = Frame.field(f, fname)
          byName.get(fname) match {
            case None =>
              if (peelOptional(fc).isDefined) emptyViols
              else array(requiredViol(fname, childF, f, selfRender,
                lit("missing")))
            case Some(sf) =>
              val child = col.getField(fname)
              peelOptional(fc) match {
                case Some(inner) =>
                  when(child.isNotNull,
                    allViols(inner, sf.dataType, child, childF))
                    .otherwise(emptyViols)
                case None =>
                  when(child.isNull,
                    array(requiredViol(fname, childF, f, selfRender,
                      lit("null"))))
                    .otherwise(allViols(fc, sf.dataType, child, childF))
              }
          }
        }
        val strictViols =
          if (o.isStrict) {
            val extra = st.fieldNames.filterNot(o.fields.keySet)
            if (extra.nonEmpty)
              array(strictExtrasViol(extra.toSeq, f, selfRender))
            else emptyViols
          } else emptyViols
        // strict extras FIRST (the wrapping nestedChecker,
        // contract.impl.js:694-708), then fields in declaration order
        val fieldsAll = (strictViols +: checks).reduce(concat(_, _))
        when(col.isNull, array(viol(f, o.name, lit("null"))))
          .otherwise(fieldsAll)
      case MapType(StringType, vt, _) =>
        // dynamic (map-typed) rows recurse declared fields like the
        // struct path — the reference's collecting fail gathers every
        // field failure (contract.impl.js:440-452); round-2 fell back to
        // first-violation-only here, truncating or-message aggregation
        // over dynamic rows
        val selfRender = render(dt, col)
        val checks = o.fields.toSeq.map { case (fname, fc) =>
          val childF = Frame.field(f, fname)
          val child = element_at(col, fname)
          peelOptional(fc) match {
            case Some(inner) =>
              when(child.isNotNull, allViols(inner, vt, child, childF))
                .otherwise(emptyViols)
            case None =>
              when(child.isNull,
                array(requiredViol(fname, childF, f, selfRender,
                  lit("null"))))
                .otherwise(allViols(fc, vt, child, childF))
          }
        }
        val strictViols =
          if (o.isStrict)
            asArray(mapStrictExtrasViol(o, col, f, selfRender))
          else emptyViols
        when(col.isNull, array(viol(f, o.name, lit("null"))))
          .otherwise((strictViols +: checks).reduce(concat(_, _)))
      case _ =>
        // inside an or-branch the reference's collecting fail gathers
        // BOTH the firstChecker failure and, since nestedChecker still
        // runs, a required-failure per non-optional field (observed by
        // executing the reference: or(object({x}), …) on 5 lists
        // "Expected object" AND "Field `x` required, got 5")
        val selfRender = render(dt, col)
        val reqs = o.fields.toSeq.collect {
          case (fname, fc) if peelOptional(fc).isEmpty =>
            requiredViol(fname, Frame.field(f, fname), f, selfRender,
              render(dt, col))
        }
        concat(array((viol(f, o.name, render(dt, col)) +: reqs): _*))
    }
    case h @ HashC(valueC) => dt match {
      case MapType(_, vt, _) =>
        when(col.isNull, array(viol(f, h.name, lit("null"))))
          .otherwise(flatten(transform(map_entries(col), e =>
            allViols(valueC, vt, e.getField("value"), hashFrame(f, e)))))
      case _ => asArray(firstViol(h, dt, col, f))
    }
    case t @ TupleC(items, strict) => dt match {
      case ArrayType(et, _) =>
        val n = items.size
        // the reference's collecting fail gathers, in checker order:
        // the strict exactly-size error (wrapping nestedChecker,
        // contract.impl.js:578-590), the base size error when shorter
        // (:550-556), then EVERY position's failures — positions beyond
        // the data's length are checked against `undefined`
        // (`_.zip(contracts, data.slice(0, k))`, :559-563), whose gate
        // failures render "but got undefined". (Nested SHAPE contracts
        // on an undefined position TypeError in the reference — not a
        // ContractError — so only leaf-level behavior is defined.)
        val strictViols =
          if (strict) asArray(when(size(col) =!= n,
            viol(f, lit(s"tuple of exactly size $n"), render(dt, col),
              "ts")))
          else emptyViols
        val sizeViols = asArray(when(size(col) < n,
          viol(f, lit(s"tuple of size $n"), render(dt, col), "t")))
        val posViols = items.zipWithIndex.map { case (ic, i) =>
          val frame = tupleFrame(f, i)
          val undef = transform(
            allViols(ic, et, lit(null).cast(et), frame), undefine(_))
          when(lit(i) < size(col),
            allViols(ic, et, get(col, lit(i)), frame))
            .otherwise(undef)
        }
        when(col.isNull, array(viol(f, t.name, lit("null"))))
          .otherwise((strictViols +: sizeViols +: posViols)
            .reduce(concat(_, _)))
      case StructType(sfs) =>
        val n = items.size
        val strictViols =
          if (strict && sfs.length != n)
            array(viol(f, lit(s"tuple of exactly size $n"),
              render(dt, col), "ts"))
          else emptyViols
        val sizeViols =
          if (sfs.length < n)
            array(viol(f, lit(s"tuple of size $n"), render(dt, col), "t"))
          else emptyViols
        val posViols = items.zipWithIndex.map { case (ic, i) =>
          val frame = tupleFrame(f, i)
          if (i < sfs.length)
            allViols(ic, sfs(i).dataType, col.getField(sfs(i).name), frame)
          else
            transform(allViols(ic, sfs.headOption.map(_.dataType)
              .getOrElse(StringType), lit(null).cast(StringType), frame),
              undefine(_))
        }
        when(col.isNull, array(viol(f, t.name, lit("null"))))
          .otherwise((strictViols +: sizeViols +: posViols)
            .reduce(concat(_, _)))
      case _ => asArray(firstViol(t, dt, col, f))
    }
    // leaves, or, preds: single-violation nodes
    case other => asArray(firstViol(other, dt, col, f))
  }

  /** rewrites a violation raised against a missing (out-of-bounds) tuple
    * position: the reference checks `undefined` there, which renders
    * "undefined" where a SQL NULL renders "null". */
  private def undefine(v: Column): Column =
    struct(v.getField("path").as("path"),
      v.getField("expected").as("expected"),
      when(v.getField("got") === "null", "undefined")
        .otherwise(v.getField("got")).as("got"),
      v.getField("kind").as("kind"),
      v.getField("frame_long").as("frame_long"),
      v.getField("ppath").as("ppath"),
      // ctx may embed a fully-assembled or-aggregation whose branch
      // failures rendered the missing element as null — rewrite those
      // "but got null" lines too (fz522/fz1682); "The full value…"
      // renders the TUPLE, never bare null, so the pattern is precise
      regexp_replace(
        regexp_replace(v.getField("ctx"), ", got null", ", got undefined"),
        "but got null\n", "but got undefined\n").as("ctx"))
      .cast(violType)

  // ---------------------------------------------------------------------
  // deterministic value rendering (`got` / full-value strings) —
  // util.inspect parity for single-line values, depth-capped
  // (utils.js:53-65), length-capped for scale (inspect's multi-line
  // wrapping of large values is NOT replicated — the cap truncates
  // instead). Only evaluated on failing rows (inside when(fail, …)).
  // ---------------------------------------------------------------------

  /** Interpreted-wrapped (graft.functions.Interpreted): renders sit
    * under when(fail, …) guards — failure-only work — yet inlined they
    * dominated generated-code SIZE (quoting/number-format/depth recursion
    * replicated per violation site) and pushed whole-stage methods past
    * Janino's 64KB limit: whole-stage codegen cannot method-split one
    * expression (locals, no INPUT_ROW). As interpreted calls the hot
    * traversal stays compiled (row-based expression codegen, which CAN
    * split) and conforming rows never execute a render. */
  def render(dt: DataType, col: Column): Column =
    graft.functions.Interpreted(clip(renderDepth(dt, col, MaxRenderDepth)))

  private def clip(c: Column): Column =
    when(length(c) > MaxRenderLen,
      concat(substring(c, 1, MaxRenderLen), lit("…"))).otherwise(c)

  private def renderDepth(dt: DataType, col: Column, depth: Int): Column = {
    val body: Column = dt match {
      case StringType => quoted(col)
      case BooleanType => when(col, "true").otherwise("false")
      case DoubleType | FloatType => jsNum(col)
      case t if isIntegral(t) => col.cast(StringType)
      case _: DecimalType => col.cast(StringType)
      case DateType => date_format(col, "yyyy-MM-dd")
      case TimestampType | TimestampNTZType =>
        date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      case BinaryType =>
        concat(lit("<binary "), substring(hex(col), 1, 16), lit(">"))
      case ArrayType(et, _) =>
        // inspect recurses `depth` levels below the top (util.inspect
        // depth semantics: depth 0 still renders one level of braces).
        // EMPTY containers render as []/{} even past the cap — there is
        // nothing to recurse into, and util.inspect special-cases them
        // (node: inspect({kk:[{}]}, false, 1) = "{ kk: [ {} ] }").
        if (depth < 0) when(size(col) === 0, "[]").otherwise("[Array]")
        else when(size(col) === 0, "[]").otherwise(
          concat(lit("[ "),
            array_join(transform(col, x => renderDepth(et, x, depth - 1)),
              ", ", "null"),
            lit(" ]")))
      case StructType(sfs) =>
        if (sfs.isEmpty) lit("{}")
        else if (depth < 0) lit("[Object]")
        else concat(lit("{ "),
          concat_ws(", ", sfs.toSeq.map(sf => concat(lit(sf.name + ": "),
            renderDepth(sf.dataType, col.getField(sf.name), depth - 1))): _*),
          lit(" }"))
      case MapType(_, vt, _) =>
        if (depth < 0) when(size(col) === 0, "{}").otherwise("[Object]")
        else when(size(col) === 0, "{}").otherwise(
          concat(lit("{ "),
            array_join(transform(map_entries(col), e =>
              concat(e.getField("key").cast(StringType), lit(": "),
                renderDepth(vt, e.getField("value"), depth - 1))),
              ", ", "null"),
            lit(" }")))
      case _ => col.cast(StringType)
    }
    when(col.isNull, lit("null")).otherwise(body)
  }

  /** util.inspect string quoting: single quotes, switching to double
    * when the value contains a single quote (and no double quote);
    * single-with-escape when it contains both. */
  private def quoted(col: Column): Column =
    when(col.contains("'") && !col.contains("\""),
      concat(lit("\""), col, lit("\"")))
      .when(col.contains("'"),
        concat(lit("'"), regexp_replace(col, "'", "\\\\'"), lit("'")))
      .otherwise(concat(lit("'"), col, lit("'")))

  /** JS number rendering: integral doubles drop the ".0" (5.0 → "5"),
    * NaN/Infinity verbatim — matches Render.num on the driver side. */
  private def jsNum(col: Column): Column =
    when(isnan(col), "NaN")
      .when(col === Double.PositiveInfinity, "Infinity")
      .when(col === Double.NegativeInfinity, "-Infinity")
      .when(floor(col) === col && abs(col) < 1e15,
        col.cast(LongType).cast(StringType))
      .otherwise(col.cast(StringType))
}
