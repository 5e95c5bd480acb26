package graft

import graft.contracts._
import graft.engine._
import graft.streaming.StreamingValidate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Tests for the remaining reference-surface pieces: inference,
  * registry/publish, collect-all mode, inspection depth, forwardRef,
  * violation sampling/diff, streaming adapter. */
class SurfaceSpec extends SparkTestBase {

  // --- fromExample / quacksLike (contract.impl.js:737-768, :367-370) ---
  test("fromExample infers type contracts; ? marks optional fields") {
    val c = Infer.fromExample(Map("name" -> "x", "n" -> 5,
      "?extra" -> true), withQuestionMark = true)
    val o = c.asInstanceOf[ObjectC]
    assert(o.fields("name") == StringC)
    assert(o.fields("n") == NumberC)
    assert(o.fields("extra") == OptionalC(BoolC))
    intercept[ContractLibraryError](Infer.fromExample(Seq.empty[Int]))
  }

  test("quacksLike: structural conformance from example, extras pass") {
    val c = Infer.quacksLike(Map("x" -> 1)).asInstanceOf[ObjectC]
    assertPass(fix("5 as x, 'extra' as z"), C.obj("o" -> c).fields("o")
      match { case oc: ObjectC => C.obj("x" -> oc.fields("x"))
              case _ => fail() })
  }

  test("fromSchema: nullable fields optional, nested shapes recurse") {
    val df = fix("5L as a, named_struct('k', 'v') as s, array(1,2) as xs")
    val c = Infer.fromSchema(df.schema)
    assertPass(df, c)
    // a parquet-sourced schema (all fields nullable) infers all-optional
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val dc = Infer.fromSchema(docs.schema)
    assert(dc.fields.values.forall(_.isInstanceOf[OptionalC]))
    assert(firstViol(docs.limit(50), dc).isEmpty ||
      docs.limit(0).count() == 0)
  }

  // --- registry / publish (contract.impl.js:770-846) ---
  test("registry: duplicate and builtin names rejected; publish checks " +
       "implementations") {
    val r = new ContractRegistry("graft.test")
    r.register("spanDoc", SpanDocs.contract, "span document", "core")
    intercept[ContractLibraryError](r.register("spanDoc", C.any))
    intercept[ContractLibraryError](r.register("string", C.string))
    val sealedApi = r.publish(Map("spanDoc" -> "impl"))
    assert(sealedApi("spanDoc")._1 == "impl")
    intercept[ContractLibraryError](r.publish(Map("other" -> "x")))
    assert(r.toManifestJson.contains("\"spanDoc\""))
    assert(r.toMarkdown.contains("`spanDoc`"))
    // documentCategory applies to subsequent registrations
    // (contract.impl.js:797-805)
    val r2 = new ContractRegistry("graft.cat")
    r2.documentCategory("core", "core checks")
      .register("a", C.string)
      .register("b", C.number, category = "other")
      .register("d", C.bool)
    assert(r2.categoryDocs("core") == "core checks")
    val md = r2.toMarkdown
    assert(md.contains("| `a` | core |") && md.contains("| `b` | other |")
      && md.contains("| `d` | core |"))
  }

  test("publish wrapAll: members enforce their contract at call time") {
    val r = new ContractRegistry("graft.test2")
    r.register("gate", C.obj("x" -> C.oneOf("a", "b")), "input gate")
    val api = graft.engine.Publish.wrapAll(r, "id")(Map(
      "gate" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("y", lit(1)))))
    val good = fix("'a' as x").withColumn("id", lit(1))
    assert(api("gate")(good).columns.contains("y"))
    val bad = fix("'z' as x").withColumn("id", lit(2))
    val e = intercept[graft.engine.ContractViolationException](
      api("gate")(bad).collect())
    // wrapping mode blames the CALLER on input violations
    // (contract-errors.js:167-168, captured from the executed reference)
    assert(e.getMessage.startsWith("broke the contract on `gate()`:"))
    // non-object contracts cannot bind rows → rejected at publish time
    val r2 = new ContractRegistry("graft.test3")
    r2.register("leaf", C.string)
    intercept[ContractLibraryError](
      graft.engine.Publish.wrapAll(r2, "id")(Map(
        "leaf" -> ((df: org.apache.spark.sql.DataFrame) => df))))
  }

  test("publish: a MIXED registry publishes single members via wrapAll " +
       "and multi members via wrapAllMulti, each enforcing completeness " +
       "over its own kind") {
    val r = new ContractRegistry("graft.testMixed")
    r.register("solo", C.obj("x" -> C.number))
    r.registerMulti("duo", Seq(C.obj("a" -> C.number),
      C.obj("b" -> C.number)))
    val id = (df: org.apache.spark.sql.DataFrame) => df
    // wrapAll over the single member only — must NOT demand `duo`
    val singles = graft.engine.Publish.wrapAll(r, "id")(Map("solo" -> id))
    assert(singles.keySet == Set("solo"))
    // wrapAllMulti over the multi member only — must NOT demand `solo`
    val multis = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "duo" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) => dfs.head)))
    assert(multis.keySet == Set("duo"))
    // both still enforce their own completeness
    intercept[ContractLibraryError](
      graft.engine.Publish.wrapAll(r, "id")(Map.empty))
    // and routing a multi member through wrapAll stays rejected
    val e = intercept[ContractLibraryError](
      graft.engine.Publish.wrapAll(r, "id")(Map("solo" -> id,
        "duo" -> id)))
    assert(e.getMessage.contains("wrapAllMulti"))
    // the wrapped members work end to end
    val good = fix("1.0D as x").withColumn("id", lit(1))
    assert(singles("solo")(good).count() == 1)
    val a = fix("1.0D as a").withColumn("id", lit(1))
    val b = fix("2.0D as b").withColumn("id", lit(1))
    assert(multis("duo")(Seq(a, b)).count() == 1)
  }

  test("publish .returns: result violations blame the MEMBER with the " +
       "'.result' frame (reference callee-blame shape)") {
    val r = new ContractRegistry("graft.test4")
    r.register("member1", C.obj("k" -> C.string))
      .returns(C.obj("k" -> C.string, "n" -> C.number))
    val api = graft.engine.Publish.wrapAll(r, "id")(Map(
      "member1" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("n", lit("oops"))))) // violates returns(n: number)
    val in = fix("'ok' as k").withColumn("id", lit(1))
    val e = intercept[graft.engine.ContractViolationException](
      api("member1")(in))
    // shape captured by EXECUTING the reference (probe: c.fun(...)
    // .returns(...).wrap(...)): callee blame + Expected line + field
    // frame + '.result' position + the function-contract rendering.
    // (the reference's "(contract was wrapped at: file:line)" line is a
    // JS-stack artifact, not reproduced)
    assert(e.getMessage ==
      "`member1()` broke its contract:\n" +
        "Expected number, but got 'oops'\n" +
        "for the field `n` of the object\n" +
        "at position .result\n" +
        "in contract:\n" +
        "c.fun({ df: c.object({k: c.string}) } -> " +
        "c.object({k: c.string, n: c.number}))\n",
      s"got:\n${e.getMessage}")
    assert(e.path == ".result.n")
    // a conforming member passes through unchanged
    val ok = graft.engine.Publish.wrapAll(r, "id")(Map(
      "member1" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("n", lit(2.0)))))
    assert(ok("member1")(in).columns.contains("n"))
  }

  test("referential: default lets AQE choose (no forced broadcast hint)") {
    val fact = fix("1 as fk").withColumn("id", lit(1))
    val dim = spark.range(0, 10).selectExpr("id as pk")
    val auto = graft.engine.Referential.dangling(fact, "fk", dim, "pk")
    val hints = auto.queryExecution.logical.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, "default must not force a broadcast hint")
    val forced = graft.engine.Referential.dangling(fact, "fk", dim, "pk",
      Some(true))
    val fhints = forced.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(fhints.nonEmpty, "Some(true) must force the broadcast hint")
  }

  test("referential: keys-path shape ≡ anti join, incl. duplicate FKs " +
      "and NULL skip") {
    import spark.implicits._
    val fact = Seq((1L, "a"), (2L, "b"), (3L, null), (4L, "c"), (5L, "a"),
      (6L, "b")).toDF("id", "fk")
    val dim = Seq("a", "c").toDF("pk")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    val base = ids(graft.engine.Referential.dangling(fact, "fk", dim, "pk"))
    val viaKeys = ids(
      graft.engine.Referential.danglingViaKeys(fact, "fk", dim, "pk"))
    assert(base == Set(2L, 6L))
    assert(viaKeys == base)
    // a forced broadcast ships the dimension's keys without distinct:
    // repeated dimension keys change no anti-join row
    val dupDim = Seq("a", "c", "a", "c", "c").toDF("pk")
    assert(ids(graft.engine.Referential.dangling(fact, "fk", dupDim, "pk",
      Some(true))) == base)
  }

  // --- forwardRef (contract.impl.js:484-511) ---
  test("forwardRef: self-referential contract bounded by schema depth") {
    val ref = C.forwardRef()
    val node: Contract = C.obj("v" -> C.number,
      "next" -> C.optional(ref))
    ref.setRef(node)
    val df = fix("named_struct('v', 1, 'next', named_struct('v', 2)) as t")
    // schema: t.next has only v (no next) — recursion unrolls to depth 2
    assertPass(df, C.obj("t" -> node))
    val bad = fix("named_struct('v', 1, 'next', named_struct('v', 's')) as t")
    assertViol(bad, C.obj("t" -> node), ".t.next.v", "number", "'s'")
    intercept[ContractLibraryError](C.forwardRef().resolved)
  }

  test("registry toHtml: the generateHTML analog renders module title, " +
       "category sections with docs, and name/contract/doc rows — " +
       "function members in their full fn-contract form, HTML escaped") {
    val r = new ContractRegistry("graft.docs")
    r.register("doc<row>", C.obj("x" -> C.number), "a <doc> line")
    r.documentCategory("shapes", "the shape stuff")
    r.register("span", C.obj("kind" -> C.oneOf("text", "image")),
      "span shape")
    r.registerMethod("validate", C.obj("sz" -> C.number),
        Seq("docs" -> C.obj("y" -> C.string)), "the member",
        category = "shapes")
      .returns(C.obj("ok" -> C.bool))
    val html = r.toHtml
    assert(html.contains("<title>graft.docs</title>"))
    assert(html.contains("<h1>graft.docs</h1>"))
    // category header + its own doc line
    assert(html.contains("<h2 class=\"category\">shapes</h2>"))
    assert(html.contains("the shape stuff"))
    // uncategorized entries lead without a header (reference
    // hasHeader:false block); escaping applied to names and docs
    assert(html.indexOf("doc&lt;row&gt;") <
      html.indexOf("<h2 class=\"category\">"))
    assert(html.contains("a &lt;doc&gt; line"))
    // the method renders its full function-contract form
    def esc4Test(s: String) =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    assert(html.contains(esc4Test(
      "c.method(this: c.object({sz: c.number}), " +
        "{ docs: c.object({y: c.string}) } -> c.object({ok: c.bool}))")))
  }

  // --- cyclic / closeCycle (contract.impl.js:484-503) ---
  test("cyclic: closeCycle enforces the wrapping-consistency guard " +
       "(reference bytes); quirk-faithful needsWrapping; non-wrapping " +
       "handles close and validate like forwardRef") {
    // !!_.isUndefined(arg): no arg → wrapping; ANY arg → non-wrapping
    assert(C.cyclic().needsWrapping)
    assert(!C.cyclic(true).needsWrapping)
    assert(!C.cyclic(false).needsWrapping)
    assert(!C.forwardRef().needsWrapping)
    val e = intercept[ContractLibraryError](
      C.cyclic().closeCycle(C.string))
    assert(e.getMessage == golden("cyclic_close_mismatch"),
      s"got:\n${e.getMessage}\nwant:\n${golden("cyclic_close_mismatch")}")
    // a non-wrapping cyclic closes with a data contract and validates
    val ref = C.cyclic(false)
    val node: Contract = C.obj("v" -> C.number,
      "next" -> C.optional(ref))
    ref.closeCycle(node)
    val df = fix("named_struct('v', 1, 'next', named_struct('v', 2)) as t")
    assertPass(df, C.obj("t" -> node))
    val bad = fix("named_struct('v', 1, 'next', named_struct('v', 's')) as t")
    assertViol(bad, C.obj("t" -> node), ".t.next.v", "number", "'s'")
    intercept[ContractLibraryError](C.cyclic(false).resolved)
    // render bytes probed by executing the reference: an unclosed
    // handle keeps the parens (`c.cyclic()`; forwardRef's rename drops
    // them), a CLOSED handle renders as its body with the inner
    // self-occurrence cut back to the short form
    assert(C.cyclic().render == "c.cyclic()")
    assert(C.forwardRef().render == "c.forwardRef")
    assert(ref.render ==
      "c.object({v: c.number, next: c.optional(c.cyclic())})",
      s"cyclic closed render: ${ref.render}")
    val fr2 = C.forwardRef()
    val frBody: Contract = C.obj("v" -> C.integer,
      "next" -> C.optional(fr2))
    fr2.setRef(frBody)
    assert(fr2.render ==
      "c.object({v: c.integer, next: c.optional(c.forwardRef)})",
      s"forwardRef closed render: ${fr2.render}")
  }

  // --- method / thisArg (function-contracts.js:437-451, :166-171) ---
  test("registerMethod: receiver checked under the `.this` frame " +
       "(reference bytes), c.method rendering, construction guard") {
    val r = new ContractRegistry("graft.method1")
    r.registerMethod("member", C.obj("sz" -> C.number),
      Seq("s" -> C.obj("y" -> C.string)))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head)))
    val badThis = fix("'oops' as sz").withColumn("id", lit(1))
    val goodThis = fix("2.0 as sz").withColumn("id", lit(1))
    val arg = fix("'ok' as y").withColumn("id", lit(1))
    val e = intercept[ContractViolationException](
      api("member")(Seq(badThis, arg)))
    assert(e.getMessage == golden("method_this_field"),
      s"got:\n${e.getMessage}\nwant:\n${golden("method_this_field")}")
    assert(e.path == ".this.sz")
    // good receiver flows through; impl sees receiver ++ args
    assert(api("member")(Seq(goodThis, arg)).columns.contains("sz"))
    // rendering parity (with .returns, like the captured golden)
    val r2 = new ContractRegistry("graft.method2")
    r2.registerMethod("m", C.obj("sz" -> C.number),
        Seq("s" -> C.obj("y" -> C.string)))
      .returns(C.obj("z" -> C.number))
    assert(graft.engine.Publish.fnRepr(r2, "m") == golden("method_render"))
    // construction guard: the reference's exact wording (incl. its
    // "by got" typo) for a non-contract receiver
    val g = intercept[ContractLibraryError](
      r2.registerMethod("m2", 5, Seq("s" -> C.obj("y" -> C.string))))
    assert(g.getMessage == golden("method_guard_noncontract"),
      s"got:\n${g.getMessage}")
  }

  test("count check runs BEFORE the receiver check: a call that is " +
       "both mis-counted and mis-received reports the count error " +
       "(reference order, function-contracts.js:94-101 vs :115-120)") {
    val r = new ContractRegistry("graft.methodOrder")
    r.registerMethod("member", C.obj("sz" -> C.number),
      Seq("docs" -> C.obj("x" -> C.number)))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head)))
    val badThis = fix("'bad' as sz").withColumn("id", lit(1))
    // receiver violates AND zero of one required argument supplied:
    // executed-reference bytes (captured live) blame the count
    val e = intercept[ContractViolationException](
      api("member")(Seq(badThis)))
    assert(e.getMessage == "broke the contract on `member()`: " +
      "Wrong number of arguments, expected 1 but got 0\n")
  }

  test("thisArg on a positional member: `.this` frame + c.fn(this: …) " +
       "rendering (reference bytes); strict receiver extras render the " +
       "this-frame long line") {
    val r = new ContractRegistry("graft.method3")
    r.registerMulti("member", Seq(C.obj("x" -> C.number)))
      .thisArg(C.obj("sz" -> C.number))
    assert(graft.engine.Publish.fnRepr(r, "member") ==
      golden("fn_thisarg_render"))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head)))
    val badThis = fix("'oops' as sz").withColumn("id", lit(1))
    val arg = fix("1.0 as x").withColumn("id", lit(1))
    val e = intercept[ContractViolationException](
      api("member")(Seq(badThis, arg)))
    assert(e.getMessage == golden("fn_thisarg_field"),
      s"got:\n${e.getMessage}\nwant:\n${golden("fn_thisarg_field")}")
    // strict receiver with an extra field: the violation sits AT the
    // this frame, so its long line renders (reference bytes)
    val rs = new ContractRegistry("graft.method4")
    rs.registerMethod("member", C.obj("k" -> C.bool).strict,
      Seq("s" -> C.obj("y" -> C.string)))
    val apis = graft.engine.Publish.wrapAllMulti(rs, "no_id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head)))
    val strictBad = fix("true as k, 1 as z")
    val es = intercept[ContractViolationException](
      apis("member")(Seq(strictBad, fix("'ok' as y"))))
    assert(es.getMessage == golden("method_this_strict_extra"),
      s"got:\n${es.getMessage}\nwant:\n${golden("method_this_strict_extra")}")
  }

  // --- collect-all mode ---
  test("allViolations: every defect reported depth-first with seq") {
    val c = C.obj("o" -> C.obj("a" -> C.number, "b" -> C.string,
      "xs" -> C.array(C.value(1))))
    val df = fix(
      "named_struct('a', 's', 'b', 5, 'xs', array(1, 2, 3)) as o")
      .withColumn("id", lit(7))
    val out = ViolationOps.allViolations(df, C.obj("o" ->
      c.fields("o")), "id").orderBy("seq").collect()
    assert(out.map(_.getAs[String]("path")).toSeq ==
      Seq(".o.a", ".o.b", ".o.xs[1]", ".o.xs[2]"))
    assert(out.map(_.getAs[Int]("seq")).toSeq == Seq(0, 1, 2, 3))
  }

  // --- inspection depth (utils.js:53-65) ---
  test("setErrorMessageInspectionDepth caps rendered nesting") {
    val deep = fix("named_struct('a', named_struct('b', " +
      "named_struct('c', 5))) as o")
    val c = C.obj("o" -> NothingC)
    val full = firstViol(deep, c).get.getAs[String]("got")
    assert(full == "{ a: { b: { c: 5 } } }")
    Compiler.setErrorMessageInspectionDepth(1)
    try {
      val capped = firstViol(deep, c).get.getAs[String]("got")
      // util.inspect depth semantics: depth 1 recurses one level BELOW
      // the top (node: inspect({a:{b:{c:5}}}, false, 1) = this string)
      assert(capped == "{ a: { b: [Object] } }")
    } finally Compiler.setErrorMessageInspectionDepth(5)
  }

  // --- full-value payload (contract-errors.js:182-198) ---
  test("withFullValue renders the whole row, suppressed when redundant") {
    val c = C.obj("a" -> C.number, "b" -> C.string)
    val df = fix("5 as a, 7 as b").withColumn("id", lit(1))
    val out = Validate.violations(df, C.obj("a" -> C.number,
      "b" -> C.string), "id", "data", withFullValue = true).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("full_value") == "{ a: 5, b: 7, id: 1 }")
    // redundant: violation at the row level itself → suppressed
    val df2 = fix("5 as a").withColumn("id", lit(1))
    val out2 = Validate.violations(df2,
      C.obj("a" -> NothingC.rename("{ a: 5, id: 1 }")), "id", "data",
      withFullValue = true).collect()
    assert(out2.length == 1) // got='5' ≠ full '{...}' → not suppressed here
    assert(out2(0).getAs[String]("full_value") != null)
  }

  // --- fail-fast check() parity ---
  test("checkOrThrow raises ContractError-style on first violation, " +
       "returns input on pass") {
    val c = C.obj("x" -> C.oneOf("a", "b"))
    val good = fix("'a' as x").withColumn("id", lit(1))
    assert(Validate.checkOrThrow(good, c, "id") eq good)
    val bad = fix("'z' as x").withColumn("id", lit(2))
    val e = intercept[ContractViolationException](
      Validate.checkOrThrow(bad, c, "id", "gate"))
    assert(e.path == ".x" && e.docId == "2")
    // reference-format multi-line message (see MessageParitySpec)
    assert(e.getMessage.startsWith(
      "check on `gate` failed:\nExpected oneOf(a, b), but got 'z'\n" +
      "for the field `x` of the object\n"))
  }

  // --- sampling + diff ---
  test("samplePerCheck caps rows per check; diff detects drift") {
    val docs = gen.SpanGen.docs(spark, 3000, 4,
      defects = gen.SpanGen.Defects(badKind = true, rate = 50))
    val v = Validate.violations(docs, SpanDocs.contract, "doc_id", "docs")
    val sampled = ViolationOps.samplePerCheck(v, 5)
    assert(sampled.count() <= 5)
    assert(v.count() > 5)
    // the string order must be Spark's UTF8 BINARY one, not Java
    // compareTo: U+FFE0 (high BMP, UTF-8 EF BF A0) sorts BELOW an
    // astral char (UTF-8 F0 ...) in byte order, but its UTF-16 unit
    // 0xFFE0 sorts ABOVE the astral lead surrogate 0xD835 — ids
    // straddling the k cut at that boundary discriminate the two
    val exotic = spark.createDataFrame(Seq(
      ("a", ".x", "e", "g", "c", "m"),
      ("￠", ".x", "e", "g", "c", "m"),
      ("𝟘", ".x", "e", "g", "c", "m"),
      ("b", ".x", "e", "g", "c", "m")))
      .toDF("doc_id", "path", "expected", "got", "contract_repr",
        "message")
    val got3 = ViolationOps.samplePerCheck(exotic, 3)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(got3 == Set("a", "b", "￠"),
      s"UTF8-binary order violated: $got3")
    // parity with the rank-window form the bounded aggregate replaced:
    // same rows for every k (the window is the independent audit twin)
    for (kk <- Seq(1, 3, 5)) {
      val check = regexp_replace(col("path"), "\\[[0-9]+\\]", "[]")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(check, col("expected"))
        .orderBy(col("doc_id"), col("path"))
      val viaWindow = v.withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= kk).drop("_rn")
        .orderBy("doc_id", "path").collect().toSeq
      val viaAgg = ViolationOps.samplePerCheck(v, kk)
        .orderBy("doc_id", "path").collect().toSeq
      assert(viaAgg == viaWindow, s"samplePerCheck k=$kk diverged")
    }
    // a wider frame (allViolations' seq) errors instead of silently
    // dropping columns through the six-column aggregate encoder
    val wide = ViolationOps.allViolations(docs, SpanDocs.contract,
      "doc_id", "docs")
    val eWide = intercept[IllegalArgumentException] {
      ViolationOps.samplePerCheck(wide, 3)
    }
    assert(eWide.getMessage.contains("canonical violation columns"))
    val (missing, unexpected) = ViolationOps.diff(v, v)
    assert(missing.count() == 0 && unexpected.count() == 0)
    // dropping rows from the actual set shows up as `missing`
    val (m2, u2) = ViolationOps.diff(v.limit(3), v)
    assert(m2.count() > 0 && u2.count() == 0)
  }

  // --- streaming ---
  test("streaming: stateless violations over a memory stream") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[(Long, String, Long)]
    val df = mem.toDF().toDF("doc_id", "lang", "n_chars")
    val contract = C.obj("doc_id" -> C.integer,
      "lang" -> C.oneOf("en", "fr"), "n_chars" -> C.between(0, 100))
    val out = StreamingValidate.violations(df, contract, "doc_id")
    val q = out.writeStream.format("memory").queryName("sv")
      .outputMode("append").start()
    mem.addData((1L, "en", 10L), (2L, "zz", 20L), (3L, "fr", 999L))
    q.processAllAvailable()
    mem.addData((4L, "xx", 1L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sv").orderBy("doc_id").collect()
    assert(rows.map(_.getAs[String]("doc_id")).toSeq == Seq("2", "3", "4"))
    assert(rows(0).getAs[String]("path") == ".lang")
    assert(rows(1).getAs[String]("path") == ".n_chars")
  }

  test("streaming: stream-static referential check reports dangling " +
       "FKs per micro-batch, equal to the batch left-anti") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val dim = Seq("media-1", "media-2").toDF("media_id")
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "media_ref")
    val out = StreamingValidate.danglingRefs(df, "media_ref", dim,
      "media_id", "doc_id")
    val q = out.writeStream.format("memory").queryName("sr")
      .outputMode("append").start()
    mem.addData((1L, "media-1"), (2L, "media-9"), (3L, null))
    q.processAllAvailable()
    mem.addData((4L, "media-2"), (5L, "media-0"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sr").orderBy("doc_id").collect()
    // null FK is the object contract's concern, not referential's
    assert(rows.map(_.getAs[String]("doc_id")).toSeq == Seq("2", "5"))
    assert(rows.map(_.getAs[String]("got")).toSeq ==
      Seq("media-9", "media-0"))
    assert(rows(0).getAs[String]("message") ==
      "check on `stream` failed: Expected `media_ref` present in " +
      "catalog, but got dangling media-9")
    // batch equivalence on the same data
    val batch = Seq((1L, "media-1"), (2L, "media-9"), (3L, null),
      (4L, "media-2"), (5L, "media-0")).toDF("doc_id", "media_ref")
    val b = Referential.violations(batch, "media_ref", dim, "media_id",
      "doc_id", "stream").orderBy("doc_id").collect()
    assert(b.map(_.getAs[String]("doc_id")).toSeq == Seq("2", "5"))
    assert(rows.map(_.getAs[String]("got")).toSeq ==
      b.map(_.getAs[String]("got")).toSeq)
  }

  test("streaming: decontamination flags arriving docs sharing eval " +
       "n-grams, equal to the batch overlap id set") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val ev = Seq((100L, "a b c d e f g h"))
      .toDF("eval_id", "eval_text")
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val out = StreamingValidate.contaminated(df, ev, "text",
      "eval_id", "eval_text", n = 8)
    val q = out.writeStream.format("memory").queryName("sdecon")
      .outputMode("append").start()
    mem.addData((1L, "a b c d e f g h"),        // exact copy
      (2L, "k l m n o p q r s t"))              // disjoint
    q.processAllAvailable()
    mem.addData((3L, "z a b c d e f g h"),      // suffix overlap
      (4L, "a b c d e f g"),                    // only 7 tokens shared
      (5L, null))                               // null text must not NPE
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sdecon").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L))
    // batch equivalence: same id set as Decontaminate.overlap
    val batch = Seq((1L, "a b c d e f g h"), (2L, "k l m n o p q r s t"),
      (3L, "z a b c d e f g h"), (4L, "a b c d e f g"), (5L, null))
      .toDF("doc_id", "text")
    val b = pipeline.Decontaminate.overlap(batch, ev, "doc_id", "text",
      "eval_id", "eval_text", n = 8)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(b == got)
  }

  test("streaming: watermarked windowed summary aggregates pass/fail") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "lang")
    val contract = C.obj("doc_id" -> C.integer,
      "lang" -> C.oneOf("en", "fr"))
    val out = StreamingValidate.windowedSummary(df, contract, "ts",
      "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("ws")
      .outputMode("update").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    mem.addData((ts(1), 1L, "en"), (ts(2), 2L, "zz"), (ts(12), 3L, "fr"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ws").collect()
    assert(rows.map(_.getAs[Long]("n_checked")).sum == 3)
    assert(rows.map(_.getAs[Long]("n_failed")).sum == 1)
  }

  test("streaming: windowed heavy hitters equal the batch topValues " +
      "per closed window; nulls skipped") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "src")
    val out = StreamingValidate.windowedTopValues(df, "src", "ts",
      "10 minutes", "5 minutes", k = 2)
    val q = out.writeStream.format("memory").queryName("wtv")
      .outputMode("update").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    // window 1 (10:00-10:10): a×3, b×2, c×1, one null; window 2: b×2;
    // window 3 (10:20-10:30): ONLY nulls — must emit no row at all
    val w1 = Seq("a", "a", "b", "c", "a", "b", null)
    mem.addData(w1.map(v => (ts(1), v)) ++
      Seq((ts(12), "b"), (ts(13), "b"), (ts(22), null), (ts(23), null)): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wtv").collect()
      .map(r => (r.getStruct(0).getTimestamp(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(x =>
          (x.getString(0), x.getLong(1), x.getBoolean(2))).toSeq))
      .toMap
    assert(rows(ts(0)) == Seq(("a", 3L, true), ("b", 2L, true)))
    assert(rows(ts(10)) == Seq(("b", 2L, true)))
    assert(rows.size == 2, "an all-null window must not emit a row")
    // batch equivalence on window 1's values
    val batch = graft.engine.Stats.topValues(
      w1.toDF("src"), "src", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(4))).toSeq
    assert(rows(ts(0)) == batch)
  }

  test("streaming: windowed drift compares per-window KLL sketches " +
       "against a batch baseline (KS/PSI)") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    // baseline: uniform 1..100, sketched by the BATCH drift path
    val baseline = graft.engine.Drift.sketch(
      (1 to 100).map(_.toDouble).toDF("v"), "v").toByteArray
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val df = mem.toDF().toDF("ts", "v")
    val out = StreamingValidate.windowedDrift(df, "v", "ts",
      "10 minutes", "5 minutes", baseline)
    val q = out.writeStream.format("memory").queryName("wd")
      .outputMode("append").start()
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // window A: same distribution as baseline → no drift
    mem.addData((1 to 100).map(i => (ts(10, 1), i.toDouble)): _*)
    // window B: shifted by +1000 → drifts
    mem.addData((1 to 100).map(i => (ts(10, 11), 1000.0 + i)): _*)
    // late heartbeat advances the watermark so both windows close
    mem.addData((ts(11, 0), 50.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wd").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[Long]("n"), r.getAs[Boolean]("pass"))).sortBy(_._1)
    assert(rows.length == 2, s"expected 2 closed windows, got ${rows.toSeq}")
    assert(rows(0)._2 == 100 && rows(0)._3, s"window A should pass: ${rows(0)}")
    assert(rows(1)._2 == 100 && !rows(1)._3, s"window B should drift: ${rows(1)}")

    // same scenario on the t-digest backend: same verdicts
    val baseTd = graft.engine.Drift.sketchTd(
      (1 to 100).map(_.toDouble).toDF("v"), "v").toByteArray
    val mem2 = MemoryStream[(java.sql.Timestamp, Double)]
    val out2 = StreamingValidate.windowedDrift(
      mem2.toDF().toDF("ts", "v"), "v", "ts",
      "10 minutes", "5 minutes", baseTd, backend = "tdigest")
    val q2 = out2.writeStream.format("memory").queryName("wdtd")
      .outputMode("append").start()
    mem2.addData((1 to 100).map(i => (ts(10, 1), i.toDouble)): _*)
    mem2.addData((1 to 100).map(i => (ts(10, 11), 1000.0 + i)): _*)
    mem2.addData((ts(11, 0), 50.0))
    q2.processAllAvailable()
    q2.stop()
    val rows2 = spark.table("wdtd").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[Boolean]("pass"))).sortBy(_._1)
    assert(rows2.length == 2 && rows2(0)._2 && !rows2(1)._2,
      s"t-digest backend verdicts wrong: ${rows2.toSeq}")
    intercept[IllegalArgumentException](StreamingValidate.windowedDrift(
      mem2.toDF().toDF("ts", "v"), "v", "ts", "10 minutes", "5 minutes",
      baseTd, backend = "bogus"))
  }

  test("streaming: MinHash-LSH near-dup detects a near-copy across " +
       "micro-batches, ignores unrelated docs") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[(String, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val out = graft.streaming.StatefulDedup.nearDuplicates(df,
      threshold = 0.7)
    val q = out.writeStream.format("memory").queryName("nd")
      .outputMode("append").start()
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearCopy = (1 to 39).map(i => s"tok$i").mkString(" ") + " CHANGED"
    val unrelated = (100 to 140).map(i => s"other$i").mkString(" ")
    // sub-shingle-length docs must neither crash (all-null minhash)
    // nor flood a degenerate bucket
    mem.addData(("A", base), ("C", unrelated), ("S1", "x"), ("S2", "x"))
    q.processAllAvailable()
    mem.addData(("B", nearCopy)) // second micro-batch: state must carry
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("nd")
      .select("doc_id", "matches_id", "est_jaccard").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set(("B", "A")),
      s"want exactly B~A, got ${pairs.toSeq}")
    assert(pairs.forall(_._3 >= 0.7))
  }

  test("streaming: near-dup horizon expires bucket state — a copy " +
       "arriving past the horizon is not reported") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val out = graft.streaming.StatefulDedup.nearDuplicatesWithHorizon(
      df, "ts", "30 minutes", threshold = 0.7)
    val q = out.writeStream.format("memory").queryName("ndh")
      .outputMode("append").start()
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val beat = (200 to 240).map(i => s"beat$i").mkString(" ")
    mem.addData((ts(10, 0), "A", base))
    q.processAllAvailable()
    // heartbeat advances the watermark far past A's horizon
    mem.addData((ts(11, 30), "H", beat))
    q.processAllAvailable()
    // D is an exact copy of A but arrives after A's state expired
    mem.addData((ts(11, 31), "D", base))
    q.processAllAvailable()
    // E copies D within the horizon: still detected
    mem.addData((ts(11, 32), "E", base))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ndh").select("doc_id", "matches_id")
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.toSet == Set(("E", "D")),
      s"want exactly E~D (A expired), got ${pairs.toSeq}")
  }

  test("streaming: stateful dedup via flatMapGroupsWithState emits " +
       "duplicates across micro-batches") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[String]
    val df = mem.toDF().toDF("doc_id")
    val out = graft.streaming.StatefulDedup.duplicates(df)
    val q = out.writeStream.format("memory").queryName("sd")
      .outputMode("append").start()
    mem.addData("a", "b", "a")        // a duplicated within batch 1
    q.processAllAvailable()
    mem.addData("b", "c")             // b duplicated across batches
    q.processAllAvailable()
    mem.addData("a")                  // a again → third occurrence
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sd").orderBy("doc_id", "n_seen").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("a", 2L), ("a", 3L), ("b", 2L)))
  }

  test("streaming: horizon-bounded stateful dedup expires idle keys, " +
       "still reports in-horizon duplicates") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val df = mem.toDF().toDF("doc_id", "ts")
    val out = graft.streaming.StatefulDedup
      .duplicatesWithHorizon(df, "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("sdh")
      .outputMode("append").start()
    mem.addData(("a", ts(10)), ("a", ts(11)), ("b", ts(10)))
    q.processAllAvailable() // a duplicated within the horizon → (a,2)
    // advance the watermark to 50min: a (timeout 21min) and b (20min)
    // fall out of state; z stays live (timeout 70min)
    mem.addData(("z", ts(60)))
    q.processAllAvailable()
    mem.addData(("a", ts(61)), ("b", ts(61)), ("z", ts(61)))
    q.processAllAvailable() // expired a/b restart at 1 → no dup;
    q.stop()                // z within horizon → (z,2)
    val rows = spark.table("sdh").orderBy("doc_id", "n_seen").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("a", 2L), ("z", 2L)),
      s"horizon dedup rows: $rows")
  }

  test("GraftExtensions: graft_dot callable from SQL") {
    // the shared-JVM test session predates builder-time extensions, so
    // install the SAME triples GraftExtensions injects into a fresh
    // session's function registry and drive them through spark.sql
    val s2 = spark.newSession()
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      s2.sessionState.functionRegistry
        .registerFunction(id, info, builder)
    }
    val out = s2.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(out == 11.0)
    // arity misuse surfaces at analysis
    intercept[Exception](
      s2.sql("SELECT graft_dot(array(1.0D)) AS d").head())
  }

  test("multimodal: resize keeps aspect ratio; frame sampling explodes " +
       "videos deterministically") {
    val media = gen.SpanGen.media(spark, 200)
    val feats = pipeline.Multimodal.extractFeatures(
      pipeline.Multimodal.withPayload(media))
    val resized = pipeline.Multimodal.resize(feats, maxSide = 128).collect()
    assert(resized.length == 200)
    assert(resized.forall(r => r.width <= 128 && r.height <= 128 &&
      r.width >= 1 && r.height >= 1))
    val frames = pipeline.Multimodal.sampleFrames(
      pipeline.Multimodal.withPayload(media)).collect()
    assert(frames.nonEmpty)
    assert(frames.groupBy(_.media_id).forall { case (_, fs) =>
      fs.sortBy(_.frame_idx).zipWithIndex.forall { case (f, i) =>
        f.frame_idx == i && f.pts_ms == i * 1000L } })
    // deterministic
    val frames2 = pipeline.Multimodal.sampleFrames(
      pipeline.Multimodal.withPayload(media)).collect()
    assert(frames.sortBy(f => (f.media_id, f.frame_idx))
      .zip(frames2.sortBy(f => (f.media_id, f.frame_idx)))
      .forall { case (x, y) => x.media_id == y.media_id &&
        x.pts_ms == y.pts_ms && x.feature.sameElements(y.feature) })
  }

  test("streaming: foreachBatch sink reuses the batch manifest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-str").toString
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "lang")
    val contract = C.obj("doc_id" -> C.integer,
      "lang" -> C.oneOf("en", "fr"))
    val q = StreamingValidate.foreachBatchSink(df, contract, "doc_id",
      tmp, "snap1")
      .option("checkpointLocation", s"$tmp/_ckpt").start()
    mem.addData((1L, "en"), (2L, "zz"))
    q.processAllAvailable()
    mem.addData((3L, "yy"))
    q.processAllAvailable()
    q.stop()
    val man = Manifest.load(spark, tmp)
    assert(man.count() == 2) // two batches logged
    val viols = spark.read.parquet(s"$tmp/violations")
    assert(viols.select("doc_id").as[String].collect().toSet ==
      Set("2", "3"))
  }

  test("streaming: foreachBatch sink reads the manifest once, on its " +
       "first batch") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tmp = java.nio.file.Files.createTempDirectory("graft-sk1").toString
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    // an existing manifest (another snapshot's run), so the first batch's
    // read runs Spark jobs
    Manifest.append(spark, tmp, "other", 0, 1L, 0L, 0L, 0L)
    val mem = MemoryStream[(Long, String)]
    val contract = C.obj("doc_id" -> C.integer,
      "lang" -> C.oneOf("en", "fr"))
    val q = StreamingValidate.foreachBatchSink(
        mem.toDF().toDF("doc_id", "lang"), contract, "doc_id", tmp, "snap1")
      .option("checkpointLocation", s"$tmp/_ckpt").start()
    // jobs per micro-batch of this query, keyed by the batch id the
    // stream puts in every job description it runs
    val jobs = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.contains(s"runId = ${q.runId}"))
          .foreach(d => jobs.merge(d.split("batch = ").last.trim.toLong,
            1, (a: Integer, b: Integer) => a + b))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      for (b <- 0 until 3) {
        mem.addData((10L * b, "en"), (10L * b + 1, "zz"))
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    val n = (0L until 3L).map(b => jobs.getOrDefault(b, 0).intValue)
    info(s"jobs per batch: $n")
    // batches 1 and 2 run batch 0's jobs minus the manifest read
    assert(n(1) == n(2) && n(2) < n(0), s"jobs per batch: $n")
    assert(Manifest.completed(spark, tmp, "snap1") == Set(0, 1, 2))
  }

  test("streaming: foreachBatch sink observes n_checked; a steady-state " +
       "micro-batch runs at most four jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tmp = java.nio.file.Files.createTempDirectory("graft-sko").toString
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val contract = C.obj("doc_id" -> C.integer,
      "lang" -> C.oneOf("en", "fr"))
    val q = StreamingValidate.foreachBatchSink(
        mem.toDF().toDF("doc_id", "lang"), contract, "doc_id", tmp, "snap1")
      .option("checkpointLocation", s"$tmp/_ckpt").start()
    // jobs per micro-batch, keyed by the batch id in the job description
    val jobs = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.contains(s"runId = ${q.runId}"))
          .foreach(d => jobs.merge(d.split("batch = ").last.trim.toLong,
            1, (a: Integer, b: Integer) => a + b))
    }
    // three micro-batches; the last one passes in full
    val batches = Seq(
      Seq((1L, "en"), (2L, "zz")),
      Seq((3L, "en"), (4L, "fr"), (5L, "yy")),
      Seq((6L, "en"), (7L, "fr")))
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally {
      q.stop()
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    val n = batches.indices.map(b => jobs.getOrDefault(b.toLong, 0).intValue)
    info(s"jobs per batch: $n")
    // 4: the violations write and the `n_failed` read-back; the driver
    // writes the manifest row (5 while a Spark job appended it)
    assert(n.drop(1).forall(_ <= 4), s"jobs per batch: $n")
    val logged = Manifest.load(spark, tmp).collect()
      .map(r => r.getAs[Int]("partition_id") ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_failed"))).toMap
    assert(logged == Map(0 -> (2L, 1L), 1 -> (3L, 1L), 2 -> (2L, 0L)))
  }

  test("streaming: kill mid-batch-write, resume — torn output is " +
       "rewritten identically, completed batches never recomputed") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-skr").toString
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val sq = sqlCtx
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "lang")
    val contract = C.obj("doc_id" -> C.integer,
      "lang" -> C.oneOf("en", "fr"))
    def start() = StreamingValidate.foreachBatchSink(df, contract,
        "doc_id", tmp, "snap1")
      .option("checkpointLocation", s"$tmp/_ckpt").start()
    // batch 0 completes cleanly (output + manifest row), then the
    // query dies
    val q1 = start()
    mem.addData((1L, "en"), (2L, "zz"))
    q1.processAllAvailable()
    q1.stop()
    // simulate the kill window the Manifest contract names: batch 1's
    // output dir TORN (partial/wrong bytes on disk) with NO manifest
    // row — exactly what a mid-write kill leaves behind
    Seq(("999", "torn", "torn", "torn", "torn"))
      .toDF("doc_id", "path", "expected", "got", "message")
      .write.mode("overwrite").parquet(s"$tmp/violations/part=1")
    // sentinel inside batch 0's completed output: if resume recomputed
    // batch 0, the overwrite would delete it
    val sentinel = java.nio.file.Paths.get(s"$tmp/violations/part=0",
      "_sentinel_not_recomputed")
    java.nio.file.Files.createFile(sentinel)
    // batch 1's data arrives; a NEW query resumes from the checkpoint
    mem.addData((3L, "yy"), (4L, "fr"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    // torn output rewritten: batch 1's rows equal the batch-mode
    // validation of the same data, the planted garbage row is gone
    val b1 = spark.read.parquet(s"$tmp/violations/part=1")
    val expect = Validate.violations(
      Seq((3L, "yy"), (4L, "fr")).toDF("doc_id", "lang"),
      contract, "doc_id", "stream")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "path", "expected", "got", "message")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(norm(b1) == norm(expect))
    assert(!b1.collect().exists(_.getString(0) == "999"))
    // batch 0 untouched (manifest row made resume skip it)
    assert(java.nio.file.Files.exists(sentinel))
    val man = Manifest.load(spark, tmp)
    assert(man.where(col("status") === "done")
      .select("partition_id").distinct().count() == 2)
  }

  // --- multi-input members: the arity-window analog of c.fn(argC, …)
  // (function-contracts.js:28-67). Goldens captured by EXECUTING the
  // reference; its "(contract was wrapped at: file:line)" line is a
  // JS-stack artifact, stripped before comparison. ---

  private lazy val arityGoldens: Map[String, String] = {
    val in = getClass.getResourceAsStream("/reference_messages.json")
    val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    val it = m.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next(); b += e.getKey -> e.getValue.asText
    }
    b.result()
  }

  private def golden(key: String): String =
    arityGoldens(key)
      .replaceAll("\\(contract was wrapped at: [^)]*\\)\n", "")

  test("registerMulti formals: required input after optional rejected " +
       "with the reference's exact (quirky) wording") {
    val r = new ContractRegistry("graft.arity0")
    val e = intercept[ContractLibraryError](
      r.registerMulti("m", Seq(C.optional(C.obj("a" -> C.number)),
        C.obj("b" -> C.string))))
    assert(golden("arity_formals_error").startsWith(e.getMessage))
  }

  test("wrapAllMulti: exact-arity members reject wrong input counts " +
       "(reference count-message bytes)") {
    val r = new ContractRegistry("graft.arity1")
    r.registerMulti("member", Seq(C.obj("x" -> C.number),
      C.obj("y" -> C.string)))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head)))
    val d1 = fix("1.0 as x").withColumn("id", lit(1))
    val d2 = fix("'ok' as y").withColumn("id", lit(1))
    val eFew = intercept[ContractViolationException](
      api("member")(Seq(d1)))
    assert(eFew.getMessage == golden("arity_exact_too_few"))
    val eMany = intercept[ContractViolationException](
      api("member")(Seq(d1, d2, d2)))
    assert(eMany.getMessage == golden("arity_exact_too_many"))
    // conforming call passes each input through the checks unchanged
    assert(api("member")(Seq(d1, d2)).columns.contains("x"))
  }

  test("wrapAllMulti: optional-input window enforces [required, " +
       "required+optional] bounds (reference bytes)") {
    val r = new ContractRegistry("graft.arity2")
    r.registerMulti("member", Seq(C.obj("x" -> C.number),
      C.optional(C.obj("y" -> C.string)),
      C.optional(C.obj("z" -> C.bool))))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head)))
    val d1 = fix("1.0 as x").withColumn("id", lit(1))
    val d2 = fix("'ok' as y").withColumn("id", lit(1))
    val d3 = fix("true as z").withColumn("id", lit(1))
    val eFew = intercept[ContractViolationException](
      api("member")(Seq.empty))
    assert(eFew.getMessage == golden("arity_window_too_few"))
    val eMany = intercept[ContractViolationException](
      api("member")(Seq(d1, d2, d3, d3)))
    assert(eMany.getMessage == golden("arity_window_too_many"))
    // omitting trailing optionals is fine
    assert(api("member")(Seq(d1)).columns.contains("x"))
    assert(api("member")(Seq(d1, d2)).columns.contains("x"))
  }

  test("wrapAllMulti: a failing field of the i-th input renders the " +
       ".arg(i) frame + fn contract (reference bytes)") {
    val r = new ContractRegistry("graft.arity3")
    r.registerMulti("member", Seq(C.obj("x" -> C.number),
      C.obj("y" -> C.string)))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head)))
    val d1 = fix("1.0 as x").withColumn("id", lit(1))
    val bad2 = fix("42 as y").withColumn("id", lit(2))
    val e = intercept[ContractViolationException](
      api("member")(Seq(d1, bad2)))
    assert(e.getMessage == golden("arity_obj_arg2_field"),
      s"got:\n${e.getMessage}\nwant:\n${golden("arity_obj_arg2_field")}")
    assert(e.path == ".arg(1).y")
  }

  test("wrapAllMulti: extras check against extraInputs under the " +
       "extra-argument frame (reference bytes)") {
    val r = new ContractRegistry("graft.arity4")
    r.registerMulti("member", Seq(C.obj("x" -> C.number)))
      .extraInputs(C.obj("y" -> C.string))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head)))
    val d1 = fix("1.0 as x").withColumn("id", lit(1))
    val ok = fix("'ok' as y").withColumn("id", lit(1))
    val bad = fix("33 as y").withColumn("id", lit(2))
    val e = intercept[ContractViolationException](
      api("member")(Seq(d1, ok, bad)))
    assert(e.getMessage == golden("arity_extra_obj_field"),
      s"got:\n${e.getMessage}\nwant:\n${golden("arity_extra_obj_field")}")
    assert(e.path == ".extraArguments[1].y")
    // extras lift the upper bound entirely
    assert(api("member")(Seq(d1, ok, ok, ok)).columns.contains("x"))
  }

  test("registerNamed: named inputs render `.name` frames and the " +
       "braced c.fun form (reference bytes)") {
    val r = new ContractRegistry("graft.arity6")
    r.registerNamed("member", Seq(
      "docs" -> C.obj("x" -> C.number),
      "media" -> C.obj("y" -> C.string)))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head)))
    val d1 = fix("1.0 as x").withColumn("id", lit(1))
    val bad2 = fix("42 as y").withColumn("id", lit(2))
    val e = intercept[ContractViolationException](
      api("member")(Seq(d1, bad2)))
    assert(e.getMessage == golden("fun_named_arg_field"),
      s"got:\n${e.getMessage}\nwant:\n${golden("fun_named_arg_field")}")
    assert(e.path == ".media.y")
    val eFew = intercept[ContractViolationException](
      api("member")(Seq(d1)))
    assert(eFew.getMessage == golden("fun_named_too_few"))
  }

  test("registerNamed + .returns: callee-blame result failure renders " +
       "the full c.fun({ … } -> …) contract (reference bytes)") {
    val r = new ContractRegistry("graft.arity7")
    r.registerNamed("member", Seq("docs" -> C.obj("x" -> C.number)))
      .returns(C.obj("x" -> C.number, "n" -> C.number))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head.withColumn("n", lit("oops")))))
    val d1 = fix("1.0 as x").withColumn("id", lit(1))
    val e = intercept[ContractViolationException](
      api("member")(Seq(d1)))
    assert(e.getMessage == golden("fun_named_returns_field"),
      s"got:\n${e.getMessage}\nwant:\n${golden("fun_named_returns_field")}")
    assert(e.path == ".result.n")
  }

  test("SpanDocs.module: the flagship is a published named two-input " +
       "member with input gates, .returns, and manifest rendering") {
    import graft.gen.SpanGen
    val docs = SpanGen.docs(spark, 200, 2,
      defects = SpanGen.Defects(badKind = true, rate = 50))
    val media = SpanGen.media(spark, 50)
    // the façade runs the real pipeline: planted defects surface
    val viols = SpanDocs.api("validate_all")(Seq(docs, media))
    assert(viols.count() > 0)
    assert(viols.columns.contains("message"))
    // arity window is exact: 2 inputs
    val eArity = intercept[ContractViolationException](
      SpanDocs.api("validate_all")(Seq(docs)))
    assert(eArity.getMessage.contains(
      "Wrong number of arguments, expected 2 but got 1"))
    // a malformed media catalog is caller-blamed under the `.media` frame
    val badMedia = fix("'not-a-media-id' as media_id")
    val eMedia = intercept[ContractViolationException](
      SpanDocs.api("validate_all")(Seq(docs, badMedia)))
    assert(eMedia.getMessage.startsWith(
      "broke the contract on `validate_all()`:"))
    assert(eMedia.path.startsWith(".media."))
    // the manifest records the full named fun rendering
    val man = SpanDocs.module.toManifestJson
    assert(man.contains("validate_all") && man.contains("inputs"))
  }

  test("wrapAllMulti: declared .returns checks the result with callee " +
       "blame; publish completeness enforced") {
    val r = new ContractRegistry("graft.arity5")
    r.registerMulti("member", Seq(C.obj("x" -> C.number)))
      .returns(C.obj("x" -> C.number, "n" -> C.number))
    val api = graft.engine.Publish.wrapAllMulti(r, "id")(Map(
      "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head.withColumn("n", lit("oops")))))
    val d1 = fix("1.0 as x").withColumn("id", lit(1))
    val e = intercept[ContractViolationException](
      api("member")(Seq(d1)))
    assert(e.getMessage.startsWith("`member()` broke its contract:"))
    assert(e.path == ".result.n")
    // missing implementation and unknown member are publish-time errors
    intercept[ContractLibraryError](
      graft.engine.Publish.wrapAllMulti(r, "id")(Map.empty))
    // a multi-input member cannot slip through single-input wrapAll
    // (its Entry.contract is only the first input of the window)
    intercept[ContractLibraryError](
      graft.engine.Publish.wrapAll(r, "id")(Map(
        "member" -> ((df: org.apache.spark.sql.DataFrame) => df))))
    intercept[ContractLibraryError](
      graft.engine.Publish.wrapAllMulti(r, "id")(Map(
        "member" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
          dfs.head),
        "ghost" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
          dfs.head))))
  }
}
