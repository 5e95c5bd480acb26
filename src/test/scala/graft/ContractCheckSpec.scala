package graft

import graft.contracts._
import graft.engine.{SpanDocs, Validate}
import graft.functions.{ContractCheck, RaisingGeneric, VNode, VerdictCompiler}
import graft.gen.SpanGen
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fast-vs-generic equivalence for the codegen'd verdict compiler
  * (graft.functions.{VerdictCompiler, ContractCheck}): for EVERY
  * contract/schema pair the compiled verdict must agree with the
  * generic compiler's pass/fail, and failing rows must produce
  * BIT-IDENTICAL violation payloads (the fast path delegates to the
  * unchanged generic expression). */
class ContractCheckSpec extends SparkTestBase {

  /** row-by-row equality of the fast and generic first-violation.
    * Codegen is forced (CODEGEN_ONLY) so a fast path that silently
    * fell back to interpretation would fail the test (interpreted eval
    * IS the generic compile). The fast column's generic tree raises
    * where it passes ([[graft.functions.RaisingGeneric]]): a row the
    * generated verdict fails but the generic compile passes would
    * otherwise come out null, like a pass. `df` is cached first: over
    * literal rows (`fix`) the optimizer would fold the check to a
    * constant with interpreted eval, and the generated code would never
    * run. */
  private def assertEquivalent(data: DataFrame, c: ObjectC,
                               expectSomeViol: Boolean = true): Unit = {
    val df = data.cache()
    val generic = df.select(Validate.firstViolation(df, c).as("v"))
      .collect()
    val key = "spark.sql.codegen.factoryMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    val fast =
      try df.select(RaisingGeneric(ContractCheck.rowFirstViolation(df, c))
          .as("v")).collect()
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(generic.length == fast.length)
    generic.zip(fast).foreach { case (g, f) =>
      assert(g == f, s"fast-path divergence:\n  generic=$g\n  fast=$f")
    }
    if (expectSomeViol)
      assert(generic.exists(!_.isNullAt(0)),
        "fixture should produce at least one violation")
    df.unpersist()
  }

  /** every node of a verdict program (leaf conditions not entered) */
  private def vnodes(v: Any): Iterator[Any] = v match {
    case _: Expression => Iterator.empty
    case s: Iterable[_] => s.iterator.flatMap(vnodes)
    case p: Product => Iterator(p) ++ p.productIterator.flatMap(vnodes)
    case _ => Iterator.empty
  }

  private def fallbacks(c: ObjectC, df: DataFrame): List[Any] =
    vnodes(VerdictCompiler.buildRow(c, StructType(df.schema.fields))(spark))
      .collect { case f: VNode.Fallback => f }.toList

  test("codegen verdict ≡ generic on the span table (all defects)") {
    val docs = SpanGen.docs(spark, 4000, 8,
      defects = SpanGen.Defects(nullKind = true, badKind = true,
        textOnMedia = true, negOffset = true, badRef = true, rate = 50))
    // offset-fold cases no planted defect reaches (negOffset fails
    // `offset >= 0` before the fold runs)
    val st = "struct<kind:string,text:string,media_ref:string,offset:int>"
    def text(off: String) = "named_struct('kind','text','text','a'," +
      s"'media_ref',cast(null as string),'offset',$off)"
    def image(off: String) = "named_struct('kind','image'," +
      s"'text',cast(null as string),'media_ref','media-1','offset',$off)"
    val handBuilt = Seq(
      "equal" -> s"array(${text("5")}, ${image("5")})",
      "decreasing" -> s"array(${text("5")}, ${image("3")})",
      "null-offset" -> s"array(${text("5")}, ${image("cast(null as int)")})",
      "empty" -> s"cast(array() as array<$st>)",
      "null-span" -> s"array(${text("5")}, cast(null as $st))")
      .map { case (id, spans) => fix(s"'doc-$id' as doc_id, $spans as spans") }
    val all = handBuilt.foldLeft(docs)(_ unionByName _)
    assertEquivalent(all, SpanDocs.contract)
  }

  test("flagship span contract compiles with no interpreted leaf " +
       "(the offset fold is generated code)") {
    val docs = SpanGen.docs(spark, 10, 1)
    val fb = fallbacks(SpanDocs.contract, docs)
    assert(fb.isEmpty, s"interpreted leaves: $fb")
  }

  test("verdict codegen is the same source on every plan (the fold's " +
       "variables are not named by a global counter)") {
    // a source that differs per execution misses Spark's compiled-class
    // cache: every query recompiles and re-warms the JIT
    // cached: the generator's own `transform` would keep the filter out
    // of whole-stage codegen
    val docs = SpanGen.docs(spark, 10, 1).cache()
    def source() = org.apache.spark.sql.execution.debug.codegenStringSeq(
      docs.where(ContractCheck.rowFirstViolation(docs, SpanDocs.contract)
        .isNotNull).queryExecution.executedPlan).map(_._2)
    val first = source()
    assert(first.exists(_.contains("lambda_variable")))
    assert(first == source())
    docs.unpersist()
  }

  /** the analyzed `ContractCheck` of a `rowFirstViolation` over `df` */
  private def contractCheckOf(df: DataFrame): ContractCheck =
    df.select(ContractCheck.rowFirstViolation(df, SpanDocs.contract))
      .queryExecution.analyzed.expressions
      .flatMap(_.collect { case cc: ContractCheck => cc }).head

  private def javaSerializer =
    new JavaSerializer(spark.sparkContext.getConf).newInstance()

  test("the flagship plan string prints neither the verdict program nor " +
       "the generic tree") {
    val docs = SpanGen.docs(spark, 200, 2).cache()
    val media = SpanGen.media(spark, 100).cache()
    val plan = SpanDocs.validateAll(docs, media).queryExecution
      .explainString(FormattedMode)
    info(s"explain(formatted): ${plan.length} chars")
    assert(plan.contains("contractcheck(struct("))
    assert(plan.length < 64 * 1024)
    docs.unpersist(); media.unpersist()
  }

  test("the flagship ContractCheck serializes under 200 KiB") {
    val bytes = javaSerializer.serialize(
      contractCheckOf(SpanGen.docs(spark, 10, 1))).limit()
    info(s"Java-serialized ContractCheck: $bytes bytes")
    assert(bytes < 200 * 1024)
  }

  test("a shipped ContractCheck decodes the generic tree and yields the " +
       "driver's payloads on failing rows, interpreted") {
    val docs = SpanGen.docs(spark, 400, 2, defects = SpanGen.Defects(
      nullKind = true, badKind = true, negOffset = true, rate = 20)).cache()
    val driver = BindReferences.bindReference(contractCheckOf(docs),
      docs.queryExecution.analyzed.output)
    val ser = javaSerializer
    val shipped = ser.deserialize[ContractCheck](ser.serialize(driver))
    assert(shipped == driver && shipped.semanticHash() == driver.semanticHash())
    def payload(cc: ContractCheck, row: InternalRow): Any =
      CatalystTypeConverters.convertToScala(cc.eval(row), Compiler.violType)
    val failing = docs.queryExecution.executedPlan.executeCollect()
      .filter(driver.eval(_) != null)
    assert(failing.nonEmpty)
    failing.foreach(r => assert(payload(shipped, r) == payload(driver, r)))
    docs.unpersist()
  }

  test("two rowFirstViolation columns of one compile are equal and hash " +
       "alike") {
    val docs = SpanGen.docs(spark, 10, 1)
    val (a, b) = (contractCheckOf(docs), contractCheckOf(docs))
    assert(a == b && a.semanticHash() == b.semanticHash())
  }

  test("anchored ASCII regexes decided on bytes ≡ java.util.regex find") {
    import graft.functions.AsciiRegex
    import org.apache.spark.unsafe.types.UTF8String
    // subjects: random strings over ASCII, Java's line terminators,
    // non-ASCII characters and malformed UTF-8
    val pieces: Seq[Array[Byte]] = Seq("a", "b", "c", "x", "-", "0", "9",
        "media-", "doc-", ".", "$", "A", ":", "\r", "\n", "\u0085", "\u2028",
        "\u2029", "é").map(_.getBytes("UTF-8")) ++
      Seq(Array(0xc2.toByte), Array(0x85.toByte),
        Array(0xe2.toByte, 0x80.toByte))
    val rnd = new scala.util.Random(7)
    val subjects = Seq("", "media-12", "media-12\n", "media-12\r\n",
        "media-1\u2028", "media-1\n\n", "doc-1").map(_.getBytes("UTF-8")) ++
      Seq.fill(3000)(Array.fill(rnd.nextInt(6) + 1)(
        pieces(rnd.nextInt(pieces.size))).flatten)
    Seq("^media-[0-9]+$", "^doc-", "^x+$", "^a", "^$", "^ab+$", "^a+b",
        "^[A-Z_a-z]+:[0-9]+$").foreach { p =>
      val re = AsciiRegex.parse(p).getOrElse(fail(s"$p should parse"))
      val jre = java.util.regex.Pattern.compile(p)
      subjects.foreach { b =>
        val s = UTF8String.fromBytes(b)
        assert(re.matches(s) == jre.matcher(s.toString).find(0),
          s"$p on bytes ${b.mkString(",")}")
      }
    }
    // out of the subset, or a `+` run overlapping the next atom (greedy
    // matching would not be exact)
    Seq("media", "^[^0-9]", "^\\d", "^\\.", "^a{2}", "^a*", "^a?", "^a++",
        "^a+?", "^(a)", "^.", "^é", "^a$b", "^[]", "^[a-]", "^a+a$",
        "^[a-c]+b$").foreach(p => assert(AsciiRegex.parse(p).isEmpty, p))
  }

  test("aggregate preds: code-generatable folds bind as code, a fold " +
       "over `transform` stays an interpreted Fallback; both ≡ generic") {
    val df = Seq("array(1L, 2L)", "array(3L, 4L)", "array()",
        "cast(null as array<bigint>)", "array(1L, cast(null as bigint))")
      .map(xs => fix(s"cast($xs as array<bigint>) as xs"))
      .reduce(_ unionByName _)
    val sum = C.obj("xs" -> C.pred("sum below 5")(xs =>
      aggregate(xs, lit(0L), (acc, x) => acc + x) < 5))
    assert(fallbacks(sum, df).isEmpty)
    assertEquivalent(df, sum)
    val doubled = C.obj("xs" -> C.pred("doubled sum below 10")(xs =>
      aggregate(xs, lit(0L), (acc, x) =>
        acc + element_at(transform(array(x), y => y * 2), 1)) < 10))
    assert(fallbacks(doubled, df).nonEmpty)
    assertEquivalent(df, doubled)
    // struct accumulators whose fields read each other's previous value:
    // every field must see the accumulator before this element (reading
    // a field already updated would pass [9, 1] and [1, 2])
    val window = C.obj("xs" -> C.pred("last two sum below 6")(xs =>
      aggregate(xs, struct(lit(0L).as("cur"), lit(0L).as("prev")),
        (acc, x) => struct(x.as("cur"), acc.getField("cur").as("prev")),
        acc => acc.getField("cur") + acc.getField("prev") < 6)))
    val swap = C.obj("xs" -> C.pred("odd length")(xs =>
      aggregate(xs, struct(lit(0L).as("a"), lit(10L).as("b")),
        (acc, _) => struct(acc.getField("b").as("a"),
          acc.getField("a").as("b")),
        acc => acc.getField("a") > 5)))
    val pairs = df.unionByName(fix("cast(array(9L, 1L) as array<bigint>) as xs"))
    Seq(window, swap).foreach { c =>
      assert(fallbacks(c, pairs).isEmpty)
      assertEquivalent(pairs, c)
    }
  }

  test("a Fallback leaf holding a generated fold next to a `transform` " +
       "runs the fold's interpreted eval; ≡ generic") {
    val df = Seq("array(1L, 2L)", "array(3L, 4L)", "array()",
        "cast(null as array<bigint>)", "array(1L, cast(null as bigint))")
      .map(xs => fix(s"cast($xs as array<bigint>) as xs"))
      .reduce(_ unionByName _)
    val c = C.obj("xs" -> C.pred("sum plus length below 7")(xs =>
      aggregate(xs, lit(0L), (acc, x) => acc + x) +
        size(transform(xs, y => y * 2)) < 7))
    val fb = fallbacks(c, df)
    assert(fb.nonEmpty)
    assert(fb.exists { case VNode.Fallback(e) =>
      e.exists(_.isInstanceOf[graft.functions.ArrayFold]) })
    assertEquivalent(df, c)
  }

  test("an uncached literal row, where the optimizer folds the " +
       "ContractCheck, yields the generic payload") {
    val c = C.obj("xs" -> C.array(C.integer), "s" -> C.oneOf("a", "b"))
    Seq("array(1, 2) as xs, 'a' as s", "array(1, 2) as xs, 'c' as s",
        "array(1, cast(null as int)) as xs, 'a' as s",
        "cast(null as array<int>) as xs, 'b' as s").foreach { row =>
      val df = fix(row)
      val q = df.select(ContractCheck.rowFirstViolation(df, c).as("v"))
      assert(!q.queryExecution.optimizedPlan.expressions
        .exists(_.exists(_.isInstanceOf[ContractCheck])), row)
      assert(q.collect().toSeq ==
        df.select(Validate.firstViolation(df, c).as("v")).collect().toSeq,
        row)
    }
  }

  test("codegen verdict ≡ generic on the documents policy contract") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    assertEquivalent(docs, SparkEntry.documentsContract)
  }

  test("codegen verdict ≡ generic across shape matrix fixtures") {
    // tuples over arrays and structs, hash, strict, optional, falsy,
    // value/oneOf, nothing, schema-mismatched gates
    val c = C.obj(
      "t" -> C.tuple(C.value(1), C.integer),
      "ts" -> C.tuple(C.string, C.number),
      "h" -> C.hash(C.number),
      "o" -> C.obj("y" -> C.optional(C.oneOf("a", "b"))).strict,
      "f" -> C.optional(C.falsy),
      "s" -> C.matches("^x+$"),
      "xs" -> C.array(C.or(C.string, C.value("z"))))
    val fixtures = Seq(
      // all-pass
      """array(1, 5) as t, named_struct('a','s','b',2.0) as ts,
        |map('k', 1.0) as h, named_struct('y','a') as o,
        |0 as f, 'xxx' as s, array('p','q') as xs""".stripMargin,
      // tuple pos fail + optional null
      """array(2, 5) as t, named_struct('a','s','b',2.0) as ts,
        |map('k', 1.0) as h, named_struct('y',cast(null as string)) as o,
        |cast(null as int) as f, 'xxx' as s, array('p') as xs""".stripMargin,
      // tuple short, hash value fail
      """array(1) as t, named_struct('a','s','b',2.0) as ts,
        |map('k', cast(null as double)) as h, named_struct('y','b') as o,
        |0 as f, 'xxx' as s, array('p') as xs""".stripMargin,
      // oneOf fail, matches fail, truthy f fail
      """array(1, 7) as t, named_struct('a','s','b',2.0) as ts,
        |map('k', 1.0) as h, named_struct('y','c') as o,
        |5 as f, 'yyy' as s, array('p') as xs""".stripMargin,
      // null array, null struct
      """cast(null as array<int>) as t,
        |named_struct('a','s','b',2.0) as ts,
        |map('k', 1.0) as h, cast(null as struct<y:string>) as o,
        |0 as f, 'xxx' as s, cast(null as array<string>) as xs"""
        .stripMargin,
      // NULL positions inside a struct-tuple: no required gate — the
      // positional contract decides (string rejects null; the whole
      // struct-tuple field ts fails exactly as the generic compile says)
      """array(1, 5) as t,
        |named_struct('a',cast(null as string),'b',2.0) as ts,
        |map('k', 1.0) as h, named_struct('y','a') as o,
        |0 as f, 'xxx' as s, array('p') as xs""".stripMargin)
    fixtures.foreach { f =>
      assertEquivalent(fix(f), c, expectSomeViol = false)
    }
  }

  test("codegen verdict ≡ generic: null-accepting contracts at struct-" +
       "tuple positions (no required gate)") {
    // any/falsy/optional ACCEPT a null position — the verdict compiler
    // must not impose object-field required semantics on tuples
    val df = fix(
      "named_struct('a', cast(null as int), 'b', 'x') as ts")
    assertEquivalent(df, C.obj("ts" -> C.tuple(C.any, C.string)),
      expectSomeViol = false)
    assertEquivalent(df, C.obj("ts" -> C.tuple(C.falsy, C.string)),
      expectSomeViol = false)
    assertEquivalent(df,
      C.obj("ts" -> C.tuple(C.optional(C.integer), C.string)),
      expectSomeViol = false)
    assertEquivalent(df, C.obj("ts" -> C.tuple(C.integer, C.string)))
    // the same null flow at array elements, array-tuple positions and
    // map values; a contract that rejects null fails each container
    val xs = fix("array(cast(null as int), 1) as xs")
      .unionByName(fix("array(cast(null as int), 0) as xs"))
    assertEquivalent(xs, C.obj("xs" -> C.array(C.optional(C.integer))),
      expectSomeViol = false)
    assertEquivalent(xs, C.obj("xs" -> C.array(C.falsy)))
    assertEquivalent(xs, C.obj("xs" -> C.array(C.integer)))
    assertEquivalent(xs, C.obj("xs" -> C.tuple(C.any, C.integer)),
      expectSomeViol = false)
    assertEquivalent(xs, C.obj("xs" -> C.tuple(C.integer, C.integer)))
    val m = fix("map('k', cast(null as int)) as m")
    assertEquivalent(m, C.obj("m" -> C.hash(C.any)), expectSomeViol = false)
    assertEquivalent(m, C.obj("m" -> C.hash(C.optional(C.integer))),
      expectSomeViol = false)
    assertEquivalent(m, C.obj("m" -> C.hash(C.integer)))
  }

  test("codegen verdict ≡ generic on FailAlways paths (schema gaps)") {
    // required field missing from schema; strict extras; shape on a
    // mismatched physical type
    val df = fix("5 as a, 'x' as b")
    assertEquivalent(df, C.obj("a" -> C.number, "zz" -> C.string))
    assertEquivalent(df, C.obj("a" -> C.number).strict)
    assertEquivalent(df, C.obj("a" -> C.array(C.any)))
    assertEquivalent(df, C.obj("b" -> C.hash(C.any), "a" -> C.tuple(C.any)))
  }

  test("codegen verdict ≡ generic: hash value leaf with NO structural " +
       "twin elsewhere (MapVals leaf indexing regression)") {
    // a map whose value contract appears nowhere else in the plan: the
    // leaf must be indexed through the MapVals walk itself — it used to
    // be reachable only when a structurally-equal leaf happened to be
    // registered under another field
    val c = C.obj("h" -> C.hash(C.value(42L)), "x" -> C.string)
    assertEquivalent(fix("map('k', 41L) as h, 'a' as x"), c)
    assertEquivalent(fix("map('k', 42L) as h, 'a' as x"), c,
      expectSomeViol = false)
  }

  test("codegen verdict ≡ generic on a 500-leaf contract (method-split " +
       "codegen — round 2 fell back to the generic compile here)") {
    // 50 fields × and(10 leaves) = 500 leaves: each Obj/AndN past the
    // split threshold is hoisted into its own generated method, so
    // CODEGEN_ONLY (forced inside assertEquivalent) would fail if any
    // method overflowed 64KB or the emit were wrong
    val nf = 50
    val contract = C.obj((0 until nf).map { i =>
      s"f$i" -> (C.and(Seq.fill(9)(C.integer: Contract) :+
        (C.between(0, 1000000): Contract): _*): Contract)
    }: _*)
    val cols = (0 until nf).map(i =>
      s"${if (i == 7) -5 else i * 3} as f$i").mkString(", ")
    val df = fix(cols) // f7 = -5 violates between(0, 1000000)
    assertEquivalent(df, contract)
  }

  test("property: codegen verdict ≡ generic over random contracts") {
    import org.scalacheck.Gen
    val leavesLong: Seq[Contract] = Seq(C.integer, C.number,
      C.value(3L), C.oneOf(1L, 2L, 3L), C.truthy, C.falsy, C.any,
      C.pred("pos")(x => x > 0))
    val leavesStr: Seq[Contract] = Seq(C.string, C.matches("^a"),
      C.value("aa"), C.oneOf("aa", "bb"), C.nonEmptyString, C.any)
    def gLong: Gen[Contract] = Gen.oneOf(leavesLong)
      .flatMap(l => Gen.oneOf(l, C.optional(l), C.and(C.integer, l),
        C.or(l, C.value(-999L))))
    def gStr: Gen[Contract] = Gen.oneOf(leavesStr)
      .flatMap(l => Gen.oneOf(l, C.optional(l), C.or(C.value("zz"), l)))
    val contracts = Gen.listOfN(40, for {
      a <- gLong; b <- gStr; xs <- gLong; y <- gStr
      useStrict <- Gen.oneOf(true, false)
      o0 = C.obj("y" -> y)
    } yield C.obj("a" -> a, "b" -> b, "xs" -> C.array(xs),
      "o" -> (if (useStrict) o0.strict else o0),
      "m" -> C.hash(b))).sample.get
    val rows = Seq(
      "1 as a, 'aa' as b, array(1,2,3) as xs, named_struct('y','aa') as o, map('k','aa') as m",
      "3 as a, 'bb' as b, array(3) as xs, named_struct('y','bb') as o, map('k','bb') as m",
      "0 as a, '' as b, array(-5) as xs, named_struct('y','') as o, map('k','') as m",
      "cast(null as bigint) as a, cast(null as string) as b, array(cast(null as bigint)) as xs, named_struct('y',cast(null as string)) as o, map('k',cast(null as string)) as m",
      "-7 as a, 'zz' as b, cast(null as array<bigint>) as xs, cast(null as struct<y:string>) as o, cast(null as map<string,string>) as m")
    val df = rows.map(fix).reduce(_ unionByName _)
    contracts.foreach(c => assertEquivalent(df, c,
      expectSomeViol = false))
  }

  test("property: codegen verdict ≡ generic over random DEEP-NESTED " +
       "contracts (array-of-struct, map-of-struct, struct-of-struct)") {
    import org.scalacheck.Gen
    // fixed 3-level schema; contracts vary randomly at every level —
    // the class of hole this hunts is exactly the round-3 MapVals
    // leaf-indexing bug (leaves reachable only through nested
    // composite nodes)
    val rows = Seq(
      "1 as a, named_struct('x', 5L, 'ys', array('aa','bb')) as s, " +
        "array(named_struct('k','aa','n',1L)) as arr, " +
        "map('p', named_struct('q', 2L)) as m",
      "0 as a, named_struct('x', cast(null as bigint), 'ys', " +
        "array(cast(null as string))) as s, " +
        "array(named_struct('k','zz','n',-1L), " +
        "named_struct('k',cast(null as string),'n',3L)) as arr, " +
        "map('p', named_struct('q', cast(null as bigint))) as m",
      "cast(null as bigint) as a, " +
        "cast(null as struct<x:bigint, ys:array<string>>) as s, " +
        "cast(null as array<struct<k:string,n:bigint>>) as arr, " +
        "cast(null as map<string,struct<q:bigint>>) as m",
      "7 as a, named_struct('x', 0L, 'ys', array()) as s, " +
        "array() as arr, map() as m")
    val df = rows.map(fix).reduce(_ unionByName _)
    val leafL: Gen[Contract] = Gen.oneOf[Contract](C.integer, C.number,
      C.value(5L), C.truthy, C.any, C.pred("pos")(x => x > 0))
    val leafS: Gen[Contract] = Gen.oneOf[Contract](C.string,
      C.matches("^a"), C.value("aa"), C.oneOf("aa", "bb"), C.any)
    def deco(g: Gen[Contract]): Gen[Contract] = g.flatMap(l =>
      Gen.oneOf(l, C.optional(l), C.or(l, C.value(-42L)),
        C.and(l, C.any)))
    val gS: Gen[Contract] = for {
      x <- deco(leafL); y <- deco(leafS)
      useStrict <- Gen.oneOf(true, false)
      o = C.obj("x" -> x, "ys" -> C.array(y))
    } yield if (useStrict) o.strict else o
    val gArrItem: Gen[Contract] = for {
      k <- deco(leafS); n <- deco(leafL)
      useOr <- Gen.oneOf(true, false)
      o = C.obj("k" -> k, "n" -> n)
    } yield if (useOr) C.or(o, C.value("sentinel")) else o
    val gM: Gen[Contract] = for { q <- deco(leafL) }
      yield C.hash(C.obj("q" -> q))
    val contracts = Gen.listOfN(30, for {
      a <- deco(leafL); s <- gS; item <- gArrItem; m <- gM
      sWrap <- Gen.oneOf[Contract => Contract](
        (c: Contract) => c, (c: Contract) => C.optional(c))
    } yield C.obj("a" -> a, "s" -> sWrap(s),
      "arr" -> C.array(item), "m" -> m)).sample.get
    contracts.foreach(c =>
      assertEquivalent(df, c.asInstanceOf[ObjectC],
        expectSomeViol = false))
  }
}
