package graft

import graft.contracts._
import graft.engine._
import graft.gen.SpanGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.functions._

/** End-to-end span-table goldens (FIXTURES.md §1): deterministic
  * generator, planted defects → exact violation paths, span-sequence
  * equality invariant, generator partition-invariance. */
class SpanDocsSpec extends SparkTestBase {

  test("generator is deterministic and partition-invariant") {
    val a = SpanGen.docs(spark, 200, 4).orderBy("doc_id")
      .withColumn("j", to_json(col("spans"))).drop("spans").collect()
    val b = SpanGen.docs(spark, 200, 16).orderBy("doc_id")
      .withColumn("j", to_json(col("spans"))).drop("spans").collect()
    assert(a.sameElements(b))
  }

  test("clean generated docs pass the span contract") {
    val docs = SpanGen.docs(spark, 500, 4)
    val v = Validate.violations(docs, SpanDocs.contract, "doc_id", "docs")
    assert(v.count() == 0)
  }

  test("null_kind defect → required-field violation at .spans[0].kind") {
    val docs = SpanGen.docs(spark, 2000, 4,
      defects = SpanGen.Defects(nullKind = true, rate = 100))
    val v = Validate.violations(docs, SpanDocs.contract, "doc_id", "docs")
    val rows = v.collect()
    assert(rows.nonEmpty)
    // null kind breaks both or-branches → violation surfaces at the
    // span element (or aggregates branch failures, impl :455-471)
    assert(rows.forall(_.getAs[String]("path") == ".spans[0]"))
  }

  test("bad_kind defect → or-failure at .spans[1]") {
    val docs = SpanGen.docs(spark, 2000, 4,
      defects = SpanGen.Defects(badKind = true, rate = 100))
    val v = Validate.violations(docs, SpanDocs.contract, "doc_id", "docs")
      .collect()
    assert(v.nonEmpty)
    assert(v.forall(_.getAs[String]("path") == ".spans[1]"))
  }

  test("neg_offset defect → or-failure at .spans[0] (offset pred)") {
    val docs = SpanGen.docs(spark, 2000, 4,
      defects = SpanGen.Defects(negOffset = true, rate = 100))
    val v = Validate.violations(docs, SpanDocs.contract, "doc_id", "docs")
      .collect()
    assert(v.nonEmpty)
    assert(v.forall(_.getAs[String]("path") == ".spans[0]"))
  }

  test("dangling_ref defect → referential violations, others clean") {
    val docs = SpanGen.docs(spark, 2000, 4,
      defects = SpanGen.Defects(danglingRef = true, rate = 100))
    val media = SpanGen.media(spark, 10000)
    val all = SpanDocs.validateAll(docs, media)
    val refViols = all.where(col("contract_repr").startsWith("ref(")).collect()
    assert(refViols.nonEmpty)
    assert(refViols.forall(_.getAs[String]("got").startsWith("media-")))
    // contract pass itself stays clean: dangling refs still match the
    // media-ref shape
    assert(all.where(col("contract_repr").startsWith("object(")).count() == 0)
  }

  test("dup_doc_id defect → uniqueness violations with multiplicity") {
    val docs = SpanGen.docs(spark, 1000, 4,
      defects = SpanGen.Defects(dupDocId = true, hotKeyEvery = 100))
    val dups = Uniqueness.duplicates(docs, "doc_id")
    val rows = dups.collect()
    assert(rows.length == 1 && rows(0).getAs[String]("doc_id") == "doc-hot")
    assert(rows(0).getAs[Long]("n_dups") == 10)
    // salted two-phase agrees with single-phase
    val salted = Uniqueness.duplicates(docs, "doc_id", saltBuckets = 8)
      .collect()
    assert(salted.length == 1 && salted(0).getAs[Long]("n_dups") == 10)
  }

  test("uniqueness: duplicated NULL keys appear in violation output") {
    // equi-joins drop NULL keys; the violation join must be null-safe
    val df = fix("stack(4, cast(null as string), 'a', " +
      "cast(null as string), 'b', 'k1', 'c', 'k1', 'd') as (k, v)")
    val dups = Uniqueness.duplicates(df, "k").collect()
    assert(dups.length == 2) // NULL x2 and k1 x2
    val viols = Uniqueness.violations(df, "k").collect()
    assert(viols.length == 4, s"want all 4 duplicated rows, got $viols")
    assert(viols.count(_.isNullAt(0)) == 2)
    // the message must render for NULL keys too (concat null-propagates
    // without the coalesce; util.inspect renders null as 'null')
    assert(viols.forall(!_.isNullAt(5)))
    assert(viols.filter(_.isNullAt(0)).forall(
      _.getString(5).endsWith("got duplicate null")))
  }

  test("uniqueness violations ≡ the join of the duplicate set back onto " +
       "the fact, as a multiset, salted and not") {
    // a key duplicated across more than one repeat run, a duplicated
    // NULL key and a unique key, over four map tasks
    val df = spark.range(0, 10003, 1, 4).select(
      when(col("id") < 10000, lit("doc-hot"))
        .when(col("id") < 10002, lit(null).cast("string"))
        .otherwise(lit("doc-once")).as("doc_id"))
    val k = col("doc_id")
    for (salt <- Seq(0, 8)) {
      val dups = Uniqueness.duplicates(df, "doc_id", salt)
        .select(k.as("_dup_key"))
      val joined = df.join(dups, k <=> col("_dup_key"), "inner").select(
        k.cast("string").as("doc_id"), lit(".doc_id").as("path"),
        lit("unique `doc_id`").as("expected"), k.cast("string").as("got"),
        lit("unique(doc_id)").as("contract_repr"),
        concat(lit("check on `docs` failed: Expected unique `doc_id`, " +
          "but got duplicate "), coalesce(k.cast("string"), lit("null")))
          .as("message"))
      val viols = Uniqueness.violations(df, "doc_id", "docs", salt)
      assert(viols.columns.toSeq == joined.columns.toSeq)
      assert(viols.count() == 10002, s"salt=$salt")
      assert(viols.exceptAll(joined).isEmpty &&
        joined.exceptAll(viols).isEmpty, s"salt=$salt")
      // a local sort sits below the last explode: the stage's yield
      // point, without which a key's copies are all buffered at once
      val plan = viols.queryExecution.executedPlan.toString
      assert(plan.indexOf("Generate") < plan.indexOf("Sort"), plan)
    }
  }

  test("uniqueness violations: planted hot key is skew-proof — " +
       "aggregate-then-repeat shape (one doc_id shuffle, no join)") {
    // the north_rule's named skew case: one crawler-grade doc_id
    // repeated across half the corpus. A window count would shuffle all
    // n rows and serialize the hot key into ONE partition; a join of
    // the duplicate set back onto the fact would scan it twice. The
    // rows come from the doc_id aggregate alone (its map-side partials
    // collapse the hot key per map task), repeated per copy.
    val n = 200000L
    val df = spark.range(0, n, 1, 8).select(
      when(col("id") % 2 === 0, lit("doc-hot"))
        .otherwise(concat(lit("u-"), col("id"))).as("doc_id"))
    val viols = Uniqueness.violations(df, "doc_id")
    assert(viols.collect().length == n / 2)
    val adaptive = viols.queryExecution.executedPlan
      .asInstanceOf[AdaptiveSparkPlanExec]
    assert(adaptive.isFinalPlan)
    val plan = adaptive.executedPlan
    val aqe = new AdaptiveSparkPlanHelper {}
    val shown = plan.treeString
    assert(aqe.collect(plan) { case w: WindowExecBase => w }.isEmpty,
      s"hot key back in a window:\n$shown")
    assert(aqe.collect(plan) { case j: BaseJoinExec => j }.isEmpty,
      s"duplicate set joined back onto the fact:\n$shown")
    val shuffles = aqe.collect(plan) { case e: ShuffleExchangeLike => e }
    val keys = shuffles.map(_.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name
      case other => other.toString
    })
    assert(keys == Seq("doc_id"),
      s"expected the doc_id aggregate's shuffle alone:\n$shown")
  }

  test("span-sequence equality invariant: validation mutates nothing") {
    val docs = SpanGen.docs(spark, 300, 4,
      defects = SpanGen.Defects(badKind = true, rate = 50)).cache()
    val before = SpanDocs.spanChecksum(docs).orderBy("doc_id").collect()
    // run the full validation pass, then re-checksum the same frame
    SpanDocs.validateAll(docs, SpanGen.media(spark, 1000)).count()
    val after = SpanDocs.spanChecksum(docs).orderBy("doc_id").collect()
    assert(before.sameElements(after))
    docs.unpersist()
  }

  test("monotone-offset pred fires (silentAnd: no frame)") {
    // hand-built non-monotone spans
    val df = fix(
      """'doc-000000000001' as doc_id,
        |array(named_struct('kind','text','text','a',
        |  'media_ref',cast(null as string),'offset',5),
        |named_struct('kind','image','text',cast(null as string),
        |  'media_ref','media-1','offset',3)) as spans""".stripMargin)
    val v = firstViol(df, SpanDocs.contract)
    assert(v.isDefined)
    assert(v.get.getAs[String]("path") == ".spans")
    assert(v.get.getAs[String]("expected") == "strictly increasing offsets")
  }

  /** violations straight from the generic compile
    * (`Validate.firstViolation`), in the six columns of
    * `Validate.violations` — an independent reference for the codegen'd
    * verdict that `violationsFast` runs. */
  private def genericViolations(docs: DataFrame): DataFrame = {
    implicit val env: MsgEnv = MsgEnv("docs", SpanDocs.contract)
    docs.withColumn("_v",
        Validate.firstViolation(docs, SpanDocs.contract, "docs"))
      .where(col("_v").isNotNull)
      .select(col("doc_id").cast("string").as("doc_id"),
        col("_v.path").as("path"), col("_v.expected").as("expected"),
        col("_v.got").as("got"),
        lit(SpanDocs.contract.render).as("contract_repr"),
        Compiler.assembleMessage(col("_v")).as("message"))
  }

  test("flagship violations ≡ generic compile on defect-planted data") {
    val docs = SpanGen.docs(spark, 4000, 8,
      defects = SpanGen.Defects(nullKind = true, badKind = true,
        textOnMedia = true, negOffset = true, badRef = true, rate = 50))
    val generic = genericViolations(docs).orderBy("doc_id").collect()
    val fast = SpanDocs.violationsFast(docs)
      .orderBy("doc_id").collect()
    assert(generic.length == fast.length && generic.length > 0)
    generic.zip(fast).foreach { case (g, f) =>
      assert(g == f, s"fast-path divergence:\n  generic=$g\n  fast=$f") }
    // non-monotone offsets too (hand-built). Cached: over a literal row
    // the optimizer folds the verdict to a constant with interpreted
    // `eval`, and the generated verdict would never run
    val nm = fix(
      """'doc-000000000001' as doc_id,
        |array(named_struct('kind','text','text','a',
        |  'media_ref',cast(null as string),'offset',5),
        |named_struct('kind','image','text',cast(null as string),
        |  'media_ref','media-1','offset',3)) as spans""".stripMargin)
      .cache()
    try {
      val gv = nm.select(Validate.firstViolation(nm, SpanDocs.contract)
        .as("v")).collect()(0)
      val fv = nm.select(
        Validate.fastFirstViolation(nm, SpanDocs.contract, "docs").as("v"))
        .collect()(0)
      assert(!gv.isNullAt(0), "fixture should violate")
      assert(gv == fv)
    } finally nm.unpersist()
  }

  test("bad_ref defect (xmedia-1x) → shape violation in BOTH paths") {
    // regex-invalid refs contain a valid-looking substring: an unanchored
    // find() would wrongly accept them — guard both compile paths
    val docs = SpanGen.docs(spark, 3000, 4,
      defects = SpanGen.Defects(badRef = true, rate = 50))
    val generic = genericViolations(docs).orderBy("doc_id").collect()
    val fast = SpanDocs.violationsFast(docs).orderBy("doc_id").collect()
    assert(generic.nonEmpty, "planted bad refs must violate generically")
    assert(generic.length == fast.length)
    generic.zip(fast).foreach { case (g, f) => assert(g == f) }
    assert(generic.forall(_.getAs[String]("path") == ".spans[1]"))
  }

  test("per-partition summary counts checked and failed") {
    val docs = SpanGen.docs(spark, 1000, 4,
      defects = SpanGen.Defects(badKind = true, rate = 100))
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(8)))
    val sum = Validate.summaryByColumn(docs, SpanDocs.contract, "bucket")
    val rows = sum.collect()
    assert(rows.map(_.getAs[Long]("n_checked")).sum == 1000)
    val failed = rows.map(_.getAs[Long]("n_failed")).sum
    val direct = Validate.violations(docs, SpanDocs.contract, "doc_id",
      "docs").count()
    assert(failed == direct && failed > 0)
  }
}
