package graft

import graft.engine._
import graft.gen.SpanGen
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Drift-sketch fidelity (SURVEY.md §5.2 #4) and kill/resume semantics
  * (§5.2 #5). */
class EngineSpec extends SparkTestBase {

  test("KLL sketch quantiles track exact percentiles at small scale") {
    import spark.implicits._
    val df = spark.range(0, 10000).select((col("id") % 1000)
      .cast("double").as("v"))
    val sk = Drift.sketch(df, "v")
    val exact = df.stat.approxQuantile("v", Array(0.25, 0.5, 0.75), 0.0)
    val approx = Array(0.25, 0.5, 0.75).map(sk.getQuantile(_))
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e - a) <= 1000 * 0.02, s"exact $e vs sketch $a")
    }
    assert(sk.getN == 10000)
  }

  test("topValues: exact regime matches groupBy counts; bounds collapse; " +
      "partitioning-invariant") {
    import spark.implicits._
    // zipfish skew: value v_i appears ~ 600/i times, 24 distincts << 1024
    val data = (1 to 24).flatMap(i => Seq.fill(600 / i)(f"v$i%02d"))
    val df = data.toDF("s")
    val expected = data.groupBy(identity).map { case (v, xs) =>
      (v, xs.size.toLong) }.toSeq
      .sortBy { case (v, n) => (-n, v) }.take(5)
    val got = Stats.topValues(df, "s", k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(got.map(t => (t._1, t._2)).toSeq == expected)
    // exact regime: no purge ever happened, so lb = ub = estimate
    got.foreach { case (_, n, lb, ub, exact) =>
      assert(exact && lb == n && ub == n)
    }
    // merge path: many partials merge to the same exact answer
    val got7 = Stats.topValues(df.repartition(7), "s", k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got7.toSeq == expected)
  }

  test("topValues: purge regime keeps every true heavy hitter within " +
      "its error bound (no false negatives)") {
    import spark.implicits._
    // 400 distinct light values + 2 heavy ones, map capped at 16
    // counters: the heavies dwarf the error bound (~n/counters ≈ 125),
    // so they MUST survive the purges and rank on top
    val data = (1 to 400).map(i => s"light$i") ++
      Seq.fill(600)("heavyA") ++ Seq.fill(500)("heavyB")
    val df = data.toDF("s").repartition(5)
    val sk = Stats.frequencySketch(df, "s", maxMapSize = 16)
    assert(sk.getMaximumError > 0) // genuinely in the approximate regime
    val top = Stats.topValues(df, "s", k = 2, maxMapSize = 16).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    // Misra-Gries guarantee: an item with true count > maxError cannot
    // be evicted, and true count lies within [lb, ub]
    val byV = top.map(t => t._1 -> t).toMap
    assert(byV.contains("heavyA") && byV.contains("heavyB"))
    assert(byV("heavyA")._3 <= 600 && 600 <= byV("heavyA")._4)
    assert(byV("heavyB")._3 <= 500 && 500 <= byV("heavyB")._4)
    top.foreach { case (_, _, _, _, exact) => assert(!exact) }
  }

  test("frequencySketch: the built-in top-k sketch has the map of " +
       "ItemsSketch(maxMapSize)") {
    import spark.implicits._
    val df = Seq("a", "b", "a").toDF("s")
    for (m <- Seq(8, 16, 1024, 1 << 20))
      assert(Stats.frequencySketch(df, "s", m).getMaximumMapCapacity ==
        new org.apache.datasketches.frequencies.ItemsSketch[String](m)
          .getMaximumMapCapacity, s"maxMapSize $m")
  }

  test("topValues: nulls are skipped; the counts of the rest are exact") {
    import spark.implicits._
    val data = Seq.fill(5)("x") ++ Seq.fill(3)("y") ++ Seq("z") ++
      Seq.fill(4)(null)
    val df = data.toDF("s").repartition(3)
    val expected = data.filter(_ != null).groupBy(identity)
      .map { case (v, xs) => (v, xs.size.toLong) }.toSeq
      .sortBy { case (v, n) => (-n, v) }
    val got = Stats.topValues(df, "s", k = 10).collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq == expected)
    got.foreach { r =>
      assert(r.getBoolean(4) && r.getLong(2) == r.getLong(1) &&
        r.getLong(3) == r.getLong(1), s"not exact: $r")
    }
    assert(Stats.frequencySketch(df, "s").getStreamLength == 9)
  }

  test("maxMapSize outside the powers of two from 8 to 2^20 is rejected " +
       "with a message naming it") {
    import spark.implicits._
    val df = Seq("a").toDF("s")
    for (bad <- Seq(100, 4, 1 << 21)) {
      val msg = intercept[IllegalArgumentException](
        Stats.topValues(df, "s", k = 1, maxMapSize = bad)).getMessage
      assert(msg.contains("maxMapSize") && msg.contains(bad.toString), msg)
    }
  }

  test("identical distributions: no drift; shifted distributions: drift") {
    val base = SpanGen.docs(spark, 3000, 4)
      .select(size(col("spans")).cast("double").as("n_spans"))
    val same = SpanGen.docs(spark, 3000, 8, seed = 43)
      .select(size(col("spans")).cast("double").as("n_spans"))
    val r1 = Drift.compare(Drift.sketch(base, "n_spans"),
      Drift.sketch(same, "n_spans"))
    assert(r1.ks < 0.05 && r1.psi < 0.05, s"unexpected drift $r1")

    // drifted text-length regime: compare mean span text length
    val lenA = SpanGen.docs(spark, 3000, 4)
      .select(explode(col("spans.text")).as("t")).where(col("t").isNotNull)
      .select(length(col("t")).cast("double").as("len"))
    val lenB = SpanGen.docs(spark, 3000, 4, drifted = true)
      .select(explode(col("spans.text")).as("t")).where(col("t").isNotNull)
      .select(length(col("t")).cast("double").as("len"))
    val r2 = Drift.compare(Drift.sketch(lenA, "len"),
      Drift.sketch(lenB, "len"))
    assert(r2.ks > 0.1 && r2.psi > 0.2, s"drift not detected $r2")
  }

  test("checkExact bucket-histogram CDF ≡ conditional-sum CDF " +
       "(boundary values, NaN, single-value side)") {
    import spark.implicits._
    // round 6 replaced the two ~100-conditional-sum aggregations with
    // one GridBucket histogram + driver suffix sum; this pin recomputes
    // the pre-round-6 conditional sums inline and asserts the verdict
    // row matches bit-for-bit on adversarial inputs: values exactly ON
    // grid points, NaN (counts in n, in no bucket), and ties
    val a = Seq(0.0, 1.0, 2.0, 2.0, 5.0, 4.75).toDF("value")
    val b = Seq(0.5, 1.0, 5.0, 5.0).toDF("value")
    val got = Drift.checkExact(a, b, "value", gridSize = 11)(spark)
      .head()
    // reference: conditional sums over the same min/max grid
    val va = Seq(0.0, 1.0, 2.0, 2.0, 5.0, 4.75)
    val vb = Seq(0.5, 1.0, 5.0, 5.0)
    val (lo, hi) = (0.0, 5.0)
    val grid = (0 until 11).map(i => lo + (hi - lo) * i / 10).toArray
    def cdf(vs: Seq[Double]): Array[Double] =
      grid.map(g => vs.count(_ <= g).toDouble / vs.size)
    val ca = cdf(va); val cb = cdf(vb)
    val ks = ca.zip(cb).map { case (x, y) => math.abs(x - y) }.max
    assert(got.getAs[Double]("ks") == ks,
      s"ks diverged: got ${got.getAs[Double]("ks")}, want $ks")
    assert(got.getAs[Long]("n_baseline") == 6L &&
      got.getAs[Long]("n_current") == 4L)
    // a NaN value makes Spark's max — hence the whole grid — NaN; the
    // conditional sums then count nothing on either side (v <= NaN is
    // false) and ks is 0. The bucket path must take the monotone-grid
    // fallback and reproduce exactly that (pre-round-6) verdict.
    val an = Seq(0.0, 1.0, Double.NaN).toDF("value")
    val rn = Drift.checkExact(an, b, "value", gridSize = 11)(spark).head()
    assert(rn.getAs[Double]("ks") == 0.0,
      s"NaN-grid fallback diverged: ${rn.getAs[Double]("ks")}")
    // single-distinct-value sides (degenerate lo == hi grid) still agree
    val c = Seq(3.0, 3.0).toDF("value")
    val d = Seq(3.0).toDF("value")
    val r2 = Drift.checkExact(c, d, "value", gridSize = 5)(spark).head()
    assert(r2.getAs[Double]("ks") == 0.0 && r2.getAs[Boolean]("pass"))
  }

  test("t-digest backend: quantile fidelity, drift verdicts agree with " +
       "KLL, distributed merge equals one-scan digest") {
    import spark.implicits._
    // quantile fidelity vs exact
    val df = spark.range(0, 10000).select((col("id") % 1000)
      .cast("double").as("v"))
    val td = Drift.sketchTd(df, "v")
    val exact = df.stat.approxQuantile("v", Array(0.25, 0.5, 0.75), 0.0)
    Array(0.25, 0.5, 0.75).zip(exact).foreach { case (q, e) =>
      assert(math.abs(td.getQuantile(q) - e) <= 1000 * 0.02,
        s"q$q: exact $e vs t-digest ${td.getQuantile(q)}")
    }
    assert(td.getTotalWeight == 10000)
    // verdicts agree with the KLL backend on both regimes
    implicit val s = spark
    val base = SpanGen.docs(spark, 3000, 4)
      .select(lit("d").as("doc_id"),
        size(col("spans")).cast("double").as("n_spans"))
    val same = SpanGen.docs(spark, 3000, 8, seed = 43)
      .select(lit("d").as("doc_id"),
        size(col("spans")).cast("double").as("n_spans"))
    assert(Drift.checkTd(base, same, "n_spans").head().getAs[Boolean]("pass"))
    val lenA = SpanGen.docs(spark, 3000, 4)
      .select(explode(col("spans.text")).as("t")).where(col("t").isNotNull)
      .select(length(col("t")).cast("double").as("len"))
    val lenB = SpanGen.docs(spark, 3000, 4, drifted = true)
      .select(explode(col("spans.text")).as("t")).where(col("t").isNotNull)
      .select(length(col("t")).cast("double").as("len"))
    assert(!Drift.checkTd(lenA, lenB, "len").head().getAs[Boolean]("pass"))
    // mergeability: per-group digests merged on the driver track the
    // one-scan digest (the partial/final aggregation contract)
    val g = df.select(col("v"), pmod(col("v").cast("long"), lit(4)).as("g"))
    val agg = org.apache.spark.sql.functions.udaf(new Drift.TdAgg())
    val parts = g.groupBy("g").agg(agg(col("v")).as("sk")).collect()
    val merged = new org.apache.datasketches.tdigest.TDigestDouble(Drift.TdK)
    parts.foreach { r =>
      merged.merge(org.apache.datasketches.tdigest.TDigestDouble.heapify(
        org.apache.datasketches.memory.Memory.wrap(
          r.getAs[Array[Byte]]("sk"))))
    }
    assert(merged.getTotalWeight == 10000)
    assert(math.abs(merged.getQuantile(0.5) - td.getQuantile(0.5)) <= 20.0)
  }

  test("grouped sketches merge to the global sketch") {
    val df = SpanGen.docs(spark, 2000, 4)
      .select(col("doc_id"), size(col("spans")).cast("double").as("v"),
        pmod(xxhash64(col("doc_id")), lit(4)).as("g"))
    val grouped = Drift.sketchBy(df, "v", "g").collect()
    assert(grouped.length == 4)
    val merged = org.apache.datasketches.kll.KllDoublesSketch
      .newHeapInstance(Drift.K)
    grouped.foreach { r =>
      merged.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(
          r.getAs[Array[Byte]]("sketch"))))
    }
    assert(merged.getN == 2000)
    val direct = Drift.sketch(df, "v")
    assert(math.abs(merged.getQuantile(0.5) - direct.getQuantile(0.5)) < 1.0)
  }

  test("sketchAll: many columns in ONE scan, per-column nulls skipped " +
       "inside the aggregate; checkAll verdicts match per-column check") {
    import spark.implicits._
    implicit val s = spark
    val df = spark.range(0, 5000).select(
      (col("id") % 100).cast("double").as("a"),
      when(col("id") % 5 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 7).cast("double")).as("b"))
    val sks = Drift.sketchAll(df, Seq("a", "b"))
    assert(sks("a").getN == 5000)
    assert(sks("b").getN == 4000) // 1000 nulls skipped for b only
    // agrees with the single-column path (tolerance: KLL compaction is
    // randomized, so independent passes differ within the error bound)
    assert(math.abs(sks("a").getQuantile(0.5) -
      Drift.sketch(df, "a").getQuantile(0.5)) <= 100 * 0.05)
    // checkAll: one verdict row per column, same semantics as check()
    val cur = spark.range(0, 5000).select(
      (col("id") % 100).cast("double").as("a"), // same regime
      (col("id") % 7 + 50).cast("double").as("b")) // shifted regime
    val rows = Drift.checkAll(df, cur, Seq("a", "b")).collect()
    assert(rows.map(_.getAs[String]("column")).toSeq == Seq("a", "b"))
    assert(rows(0).getAs[Boolean]("pass") && !rows(1).getAs[Boolean]("pass"))
    assert(rows(1).getAs[Long]("n_baseline") == 4000)
    // a column empty on one side (all NULL, e.g. not yet backfilled)
    // yields an indeterminate fail row — the other columns' verdicts
    // survive instead of the whole call throwing
    val curNull = cur.withColumn("b", lit(null).cast("double"))
    val r2 = Drift.checkAll(df, curNull, Seq("a", "b")).collect()
    assert(r2(0).getAs[Boolean]("pass"))
    assert(!r2(1).getAs[Boolean]("pass") && r2(1).getAs[Double]("ks").isNaN)
    assert(r2(1).getAs[Long]("n_current") == 0L)
  }

  test("check: a side with no non-null value yields the indeterminate " +
       "fail row") {
    import spark.implicits._
    implicit val s = spark
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val none = Seq(Option.empty[Double], None).toDF("v")
    for ((base, cur) <- Seq((a, none), (none, a), (a, a.limit(0)))) {
      val r = Drift.check(base, cur, "v").head()
      assert(!r.getAs[Boolean]("pass") && r.getAs[Double]("ks").isNaN &&
        r.getAs[Double]("psi").isNaN, s"$r")
    }
    assert(Drift.check(a, a, "v").head().getAs[Boolean]("pass"))
  }

  test("sketch persistence: save/load round-trips bytes; merged runs " +
       "accumulate n exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sk")
      .toString
    val a = SpanGen.docs(spark, 1500, 4)
      .select(size(col("spans")).cast("double").as("v"))
    val sk = Drift.sketch(a, "v")
    Drift.saveSketch(spark, sk, s"$tmp/baseline", "v")
    val back = Drift.loadSketch(spark, s"$tmp/baseline")
    assert(back.getN == sk.getN)
    assert(java.util.Arrays.equals(back.toByteArray, sk.toByteArray))
    // no drift against itself; cross-run merge accumulates n exactly
    val r = Drift.compare(back, sk)
    assert(r.ks == 0.0)
    back.merge(Drift.loadSketch(spark, s"$tmp/baseline"))
    assert(back.getN == 2 * sk.getN)
  }

  test("format-agnostic source: an ORC input yields exactly the " +
       "violations of the parquet run over the same generated table") {
    val tmp = Files.createTempDirectory("graft-fmt").toString
    Runner.init(spark, s"$tmp/in_pq", 3000, 4)
    Runner.init(spark, s"$tmp/in_orc", 3000, 4, format = "orc")
    val (p1, _) = Runner.run(spark, s"$tmp/in_pq", s"$tmp/out_pq")
    val (p2, _) = Runner.run(spark, s"$tmp/in_orc", s"$tmp/out_orc",
      format = "orc")
    assert(p1 == 4 && p2 == 4)
    val a = spark.read.parquet(s"$tmp/out_pq/violations")
    val b = spark.read.parquet(s"$tmp/out_orc/violations")
    assert(a.count() == b.count() && a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "ORC-sourced violations differ from parquet-sourced")
  }

  test("kill/resume: completed partitions are not recomputed; outputs " +
       "are byte-identical to an uninterrupted run") {
    val tmp = Files.createTempDirectory("graft-resume").toString
    Runner.init(spark, s"$tmp/in", 5000, 8)

    // uninterrupted reference run
    val (p0, s0) = Runner.run(spark, s"$tmp/in", s"$tmp/out_full")
    assert(p0 == 8 && s0 == 0)

    // interrupted run: 3 partitions, then "crash", then resume
    val (p1, s1) = Runner.run(spark, s"$tmp/in", s"$tmp/out_resume", 3)
    assert(p1 == 3 && s1 == 0)
    val (p2, s2) = Runner.run(spark, s"$tmp/in", s"$tmp/out_resume")
    assert(p2 == 5 && s2 == 3, s"resume recomputed: processed=$p2 skipped=$s2")

    // identical final violation sets
    val a = spark.read.parquet(s"$tmp/out_full/violations")
      .orderBy("doc_id", "path", "contract_repr", "got")
      .drop("part").collect()
    val b = spark.read.parquet(s"$tmp/out_resume/violations")
      .orderBy("doc_id", "path", "contract_repr", "got")
      .drop("part").collect()
    assert(a.length == b.length && a.sameElements(b))
    assert(a.nonEmpty) // planted defects guarantee violations

    // third invocation: everything skipped
    val (p3, s3) = Runner.run(spark, s"$tmp/in", s"$tmp/out_resume")
    assert(p3 == 0 && s3 == 8)
  }

  test("incremental resume: a snapshot that touches one partition's " +
       "files recomputes only that partition, and the resumed outputs " +
       "equal a from-scratch run over the evolved input") {
    import org.apache.spark.sql.SaveMode
    val tmp = Files.createTempDirectory("graft-incr").toString
    Runner.init(spark, s"$tmp/in", 4000, 4)
    val (p0, s0) = Runner.run(spark, s"$tmp/in", s"$tmp/out")
    assert(p0 == 4 && s0 == 0)

    // snapshot evolution: append files into part=2 only (duplicated
    // docs → fresh uniqueness violations there)
    val extra = spark.read.parquet(s"$tmp/in/docs")
      .where(col("part") === 2).drop("part").limit(50)
    extra.write.mode(SaveMode.Append).parquet(s"$tmp/in/docs/part=2")

    // the global snapshot id changed, but only part=2's input fp did
    val (p1, s1) = Runner.run(spark, s"$tmp/in", s"$tmp/out")
    assert(p1 == 1 && s1 == 3,
      s"expected exactly the touched partition: processed=$p1 skipped=$s1")

    // resumed outputs ≡ an uninterrupted run over the evolved input
    val (p2, _) = Runner.run(spark, s"$tmp/in", s"$tmp/out_fresh")
    assert(p2 == 4)
    val cols = Seq("doc_id", "path", "contract_repr", "got")
    val a = spark.read.parquet(s"$tmp/out/violations")
      .orderBy(cols.map(col): _*).drop("part").collect()
    val b = spark.read.parquet(s"$tmp/out_fresh/violations")
      .orderBy(cols.map(col): _*).drop("part").collect()
    assert(a.length == b.length && a.sameElements(b))

    // and the evolved snapshot is now fully recorded: nothing pending
    val (p3, s3) = Runner.run(spark, s"$tmp/in", s"$tmp/out")
    assert(p3 == 0 && s3 == 4)
  }

  test("violation-rate circuit breaker: a systematically-broken input " +
       "aborts before validating every partition; a rerun resumes") {
    import org.apache.spark.sql.SaveMode
    val tmp = Files.createTempDirectory("graft-breaker").toString
    // every other doc carries a planted defect — far above any sane rate
    SpanGen.docs(spark, 2000, 8,
        defects = SpanGen.Defects(nullKind = true, rate = 2))
      .withColumn("part",
        pmod(xxhash64(col("doc_id")), lit(8L)).cast("int"))
      .write.mode(SaveMode.Overwrite).partitionBy("part")
      .parquet(s"$tmp/in/docs")
    SpanGen.media(spark, 1000).write.mode(SaveMode.Overwrite)
      .parquet(s"$tmp/in/media")

    val ex = intercept[Runner.RunAborted] {
      Runner.run(spark, s"$tmp/in", s"$tmp/out", maxViolRate = Some(0.01))
    }
    assert(ex.processed >= 1 && ex.processed < 8,
      s"breaker should stop mid-run, processed=${ex.processed}")
    assert(ex.nFailed.toDouble / ex.nChecked > 0.01)

    // completed partitions kept their manifest rows: the (uncapped)
    // rerun resumes instead of restarting
    val (p, s) = Runner.run(spark, s"$tmp/in", s"$tmp/out")
    assert(p == 8 - ex.processed && s == ex.processed,
      s"resume after abort: processed=$p skipped=$s")
  }

  /** Spark jobs that `body` starts, counted through a job group */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "counted")
    val r = try body finally sc.clearJobGroup()
    org.apache.spark.sql.GraftColumnBridge.drainListenerBus(sc)
    (r, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private val legacyCols = Manifest.schemaCols.filterNot(_ == "input_fp")

  /** appends manifest rows to `outDir` in one file; `withFp` false
    * writes the legacy 7-column layout (no `input_fp`) */
  private def writeManifest(outDir: String, withFp: Boolean,
      rows: Seq[(String, Int, String, Long, String)]): Unit = {
    import spark.implicits._
    val df = rows.map { case (snap, k, status, seq, fp) =>
        (snap, k, status, 10L, 1L, 0L, seq, fp) }
      .toDF(Manifest.schemaCols: _*).coalesce(1)
    (if (withFp) df else df.select(legacyCols.map(col): _*))
      .write.mode("append").parquet(Manifest.path(outDir))
  }

  test("no-op resume: one input listing and one manifest read, a " +
       "bounded number of Spark jobs") {
    val tmp = Files.createTempDirectory("graft-noop").toString
    Runner.init(spark, s"$tmp/in", 2000, 4)
    assert(Runner.run(spark, s"$tmp/in", s"$tmp/out") == (4, 0))
    val (r, jobs) = jobsOf(Runner.run(spark, s"$tmp/in", s"$tmp/out"))
    assert(r == (0, 4))
    // 1: the manifest read (a set-up with three manifest reads and a
    // distinct scan ran 13; the docs schema merge and a two-stage
    // manifest aggregate ran 3)
    info(s"no-op resume ran $jobs jobs")
    assert(jobs <= 1, s"no-op resume ran $jobs jobs")
  }

  test("per partition: at most six Spark jobs; manifest counts equal " +
       "a direct count and validateAll of the slice") {
    val tmp = Files.createTempDirectory("graft-kernel").toString
    Runner.init(spark, s"$tmp/in", 2000, 4)
    // set-up is the same in both runs, so the difference is one
    // partition's validate, write, read-back and append
    val (_, one) = jobsOf(Runner.run(spark, s"$tmp/in", s"$tmp/one", 1))
    val (r, two) = jobsOf(Runner.run(spark, s"$tmp/in", s"$tmp/two", 2))
    assert(r == (2, 0))
    info(s"runs of 1 and 2 partitions: $one and $two jobs")
    // 6: the write's uniqueness shuffle and catalog broadcast stages,
    // the write and the two-job read-back; the driver writes the
    // manifest row (7 while a Spark job appended it, 9 while uniqueness
    // joined back onto the slice)
    assert(two - one <= 6, s"per-partition jobs: ${two - one}")
    val docs = spark.read.parquet(s"$tmp/in/docs")
    val media = spark.read.parquet(s"$tmp/in/media")
    val rows = Manifest.load(spark, s"$tmp/two").collect()
    assert(rows.length == 2)
    rows.foreach { row =>
      val k = row.getAs[Int]("partition_id")
      val slice = docs.where(col("part") === k)
      assert(row.getAs[Long]("n_checked") == slice.count(), s"part=$k")
      assert(row.getAs[Long]("n_failed") == SpanDocs.validateAll(slice,
        media).select("doc_id").distinct().count(), s"part=$k")
    }
  }

  test("validateAll of a cached 2,000-doc table runs at most four " +
       "Spark jobs") {
    val docs = SpanGen.docs(spark, 2000, 4,
        defects = SpanGen.Defects(nullKind = true, badKind = true,
          danglingRef = true, dupDocId = true, rate = 100)).cache()
    val media = SpanGen.media(spark, 100000).cache()
    try {
      docs.count(); media.count()
      val (n, jobs) = jobsOf(SpanDocs.validateAll(docs, media).count())
      assert(n > 0)
      // 4: the uniqueness exchange, the catalog broadcast, the count's
      // exchange and the result (a join back onto docs and a distinct
      // catalog shuffle ran 6)
      info(s"validateAll ran $jobs jobs")
      assert(jobs <= 4, s"validateAll ran $jobs jobs")
    } finally { docs.unpersist(); media.unpersist() }
  }

  test("uniqueness is checked within a partition: a doc_id written into " +
       "two part=k directories yields no uniqueness row") {
    import org.apache.spark.sql.SaveMode
    val tmp = Files.createTempDirectory("graft-xpart").toString
    val docs = SpanGen.docs(spark, 200, 2)
      .withColumn("part", pmod(xxhash64(col("doc_id")), lit(2L)).cast("int"))
    val twinId = docs.orderBy("doc_id").first().getAs[String]("doc_id")
    // the twin lands in the other partition than init's hash puts it in
    val twin = docs.where(col("doc_id") === twinId)
      .withColumn("part", lit(1) - col("part"))
    docs.unionByName(twin).write.mode(SaveMode.Overwrite)
      .partitionBy("part").parquet(s"$tmp/in/docs")
    SpanGen.media(spark, 1000).write.mode(SaveMode.Overwrite)
      .parquet(s"$tmp/in/media")
    assert(Runner.run(spark, s"$tmp/in", s"$tmp/out") == (2, 0))
    val unique = col("contract_repr") === "unique(doc_id)"
    assert(spark.read.parquet(s"$tmp/out/violations").where(unique)
      .count() == 0)
    // the same table validated whole reports the twin's two rows
    val whole = SpanDocs.validateAll(spark.read.parquet(s"$tmp/in/docs"),
      spark.read.parquet(s"$tmp/in/media")).where(unique)
    assert(whole.select("doc_id").collect().map(_.getString(0)).toSeq ==
      Seq(twinId, twinId))
  }

  test("a run leaves no media table cached in the session") {
    import org.apache.spark.storage.StorageLevel
    val tmp = Files.createTempDirectory("graft-media").toString
    Runner.init(spark, s"$tmp/in", 1000, 2)
    assert(Runner.run(spark, s"$tmp/in", s"$tmp/out") == (2, 0))
    assert(spark.read.option("mergeSchema", "true").format("parquet")
      .load(s"$tmp/in/media").storageLevel == StorageLevel.NONE)
  }

  /** the error `run` throws with `spark.graft.runner.concurrency` set */
  private def concurrencyError(value: String): String = {
    val tmp = Files.createTempDirectory("graft-conc").toString
    val key = "spark.graft.runner.concurrency"
    spark.conf.set(key, value)
    try intercept[IllegalArgumentException] {
      Runner.run(spark, s"$tmp/in", s"$tmp/out")
    }.getMessage
    finally spark.conf.unset(key)
  }

  test("spark.graft.runner.concurrency: a non-integer fails with a " +
       "message naming the key") {
    val msg = concurrencyError("four")
    assert(msg.contains("spark.graft.runner.concurrency") &&
      msg.contains("four"), msg)
  }

  test("spark.graft.runner.concurrency: a value below 1 fails with a " +
       "message naming the key") {
    for (bad <- Seq("0", "-2")) {
      val msg = concurrencyError(bad)
      assert(msg.contains("spark.graft.runner.concurrency") &&
        msg.contains(s"'$bad'"), msg)
    }
  }

  test("env knobs: a value that is not an integer fails with a message " +
       "naming the knob and the value") {
    for (bad <- Seq("5e5", "")) {
      val msg = intercept[IllegalArgumentException](
        Knobs.long("GRAFT_CC_LOCAL_MAX_EDGES", bad)).getMessage
      assert(msg.contains("GRAFT_CC_LOCAL_MAX_EDGES") &&
        msg.contains(s"'$bad'"), msg)
    }
    assert(Knobs.long("GRAFT_CC_LOCAL_MAX_EDGES", " 42 ") == 42L)
  }

  test("legacy manifest without input_fp: a run resumes on snapshot " +
       "match only") {
    val tmp = Files.createTempDirectory("graft-legacy").toString
    Runner.init(spark, s"$tmp/in", 2000, 4)
    val snap = Runner.snapshotId(spark, s"$tmp/in")
    // partition 0 done for this snapshot; partition 1 for an older one
    writeManifest(s"$tmp/out", withFp = false,
      Seq((snap, 0, "done", 0L, null), ("0ld", 1, "done", 1L, null)))
    assert(spark.read.parquet(Manifest.path(s"$tmp/out")).columns.toSeq ==
      legacyCols)
    assert(Manifest.latestInputFps(spark, s"$tmp/out").isEmpty)
    val (p, s) = Runner.run(spark, s"$tmp/in", s"$tmp/out")
    assert(p == 3 && s == 1, s"processed=$p skipped=$s")
    val fps = Runner.partitionInputFps(spark, s"$tmp/in")
    assert(Manifest.latestInputFps(spark, s"$tmp/out") == fps - 0)
    assert(Manifest.nextSeq(spark, s"$tmp/out") == 5L)
  }

  test("mixed manifest of legacy and input_fp files: latestInputFps " +
       "returns the fingerprints of the new rows") {
    val tmp = Files.createTempDirectory("graft-mixed").toString
    val out = s"$tmp/out"
    // several legacy files, so the legacy footer is the likely first one
    for (k <- 0 until 4)
      writeManifest(out, withFp = false,
        Seq(("s0", k, "done", k.toLong, null)))
    writeManifest(out, withFp = true,
      Seq(("s1", 1, "done", 4L, "fp1"), ("s1", 2, "done", 5L, "fp2")))
    assert(Manifest.latestInputFps(spark, out) == Map(1 -> "fp1", 2 -> "fp2"))
    assert(Manifest.completed(spark, out, "s0") == Set(0, 1, 2, 3))
    assert(Manifest.nextSeq(spark, out) == 6L)
  }

  test("manifest views equal their one-query-each definitions over " +
       "several snapshots, a re-validated partition and null input_fp") {
    val tmp = Files.createTempDirectory("graft-mstate").toString
    val out = s"$tmp/out"
    assert(Manifest.state(spark, out, Some("a")) ==
      Manifest.State(Set.empty, Map.empty, 0L))
    writeManifest(out, withFp = false,
      Seq(("a", 0, "done", 0L, null), ("a", 1, "done", 1L, null)))
    writeManifest(out, withFp = true, Seq(
      ("a", 2, "done", 2L, "f2a"),
      ("b", 2, "done", 7L, "f2b"), // re-validated: the later seq wins
      ("b", 0, "done", 3L, null),
      ("b", 1, "failed", 9L, "f1x"), // not done: never a resume key
      ("c", 3, "done", 4L, "f3"),
      ("c", 3, "done", 6L, null))) // a null fp does not hide f3
    writeManifest(out, withFp = true, Seq(("b", 4, "done", 5L, "f4")))
    // re-listed on each use, so the definitions see every file written
    def m = Manifest.load(spark, out)
    def completedDef(snap: String): Set[Int] =
      m.where(col("snapshot_id") === snap && col("status") === "done")
        .select("partition_id").distinct()
        .collect().map(_.getInt(0)).toSet
    val fpsDef = m.where(col("status") === "done" &&
        col("input_fp").isNotNull)
      .groupBy("partition_id")
      .agg(max_by(col("input_fp"), col("seq")).as("input_fp"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val seqDef = m.agg(max(col("seq"))).collect()(0).getLong(0) + 1L
    for (snap <- Seq("a", "b", "c", "z"))
      assert(Manifest.completed(spark, out, snap) == completedDef(snap),
        s"completed($snap)")
    assert(fpsDef == Map(2 -> "f2b", 3 -> "f3", 4 -> "f4"))
    assert(Manifest.latestInputFps(spark, out) == fpsDef)
    assert(Manifest.nextSeq(spark, out) == seqDef && seqDef == 10L)
    assert(Manifest.state(spark, out, Some("b")) ==
      Manifest.State(completedDef("b"), fpsDef, seqDef))

    // the fold read by one scan task and by several: each file of the
    // log is its own task once a file's open cost fills a split, so the
    // partials merge on the driver. A fourth file holds a later fp for
    // partition 3 and an older one for partition 2 than the others do
    writeManifest(out, withFp = true,
      Seq(("d", 3, "done", 10L, "f3d"), ("d", 2, "done", 1L, "f2old")))
    def tasksAndStates(conf: (String, String)*)
        : (Int, Seq[Manifest.State]) = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try (Manifest.load(spark, out).rdd.getNumPartitions,
        Seq("a", "b", "c", "d", "z").map(s => Manifest.state(spark, out,
          Some(s))))
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val (oneTask, single) = tasksAndStates(
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.files.minPartitionNum" -> "1")
    val (tasks, several) = tasksAndStates(
      "spark.sql.files.maxPartitionBytes" -> "64k",
      "spark.sql.files.openCostInBytes" -> "64k")
    assert(oneTask == 1 && tasks == 4, s"$oneTask and $tasks tasks")
    assert(several == single)
    assert(single.map(_.completed) ==
      Seq("a", "b", "c", "d", "z").map(completedDef))
    assert(single.head.latestInputFps ==
      Map(2 -> "f2b", 3 -> "f3d", 4 -> "f4") && single.head.nextSeq == 11L)
  }

  test("a manifest directory that holds only _temporary loads empty") {
    val out = Files.createTempDirectory("graft-mtemp").toString
    val staged = java.nio.file.Paths.get(Manifest.path(out), "_temporary",
      "0", "part-00000.parquet")
    Files.createDirectories(staged.getParent)
    Files.write(staged, Array[Byte](1, 2, 3)) // not parquet: never read
    val m = Manifest.load(spark, out)
    assert(m.columns.toSeq == Manifest.schemaCols)
    assert(m.count() == 0)
    assert(Manifest.state(spark, out, Some("a")) ==
      Manifest.State(Set.empty, Map.empty, 0L))
  }

  test("a hidden temp file in the manifest directory is ignored by load " +
       "and state") {
    val out = Files.createTempDirectory("graft-mhidden").toString
    def plant(): Unit = Files.write(java.nio.file.Paths.get(
        Manifest.path(out), s".part-${java.util.UUID.randomUUID}.parquet.tmp"),
      Array[Byte](1, 2, 3)) // what a killed append leaves: not parquet
    Files.createDirectories(java.nio.file.Paths.get(Manifest.path(out)))
    plant()
    assert(Manifest.load(spark, out).count() == 0)
    assert(Manifest.state(spark, out, Some("s")) ==
      Manifest.State(Set.empty, Map.empty, 0L))
    Manifest.append(spark, out, "s", 0, 5L, 1L, 0L, 0L, Some("f0"))
    plant()
    assert(Manifest.load(spark, out).count() == 1)
    assert(Manifest.state(spark, out, Some("s")) ==
      Manifest.State(Set(0), Map(0 -> "f0"), 1L))
  }

  test("a driver-appended manifest file reads with the column names and " +
       "types of a Spark-written one, alone and in a mixed log") {
    val out = Files.createTempDirectory("graft-mformat").toString
    writeManifest(out, withFp = true, Seq(("s", 0, "done", 0L, "f0")))
    def files(): Set[String] = Files.list(java.nio.file.Paths.get(
        Manifest.path(out))).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("/.")).toSet
    val sparkFile = files().head
    Manifest.append(spark, out, "s", 1, 10L, 1L, 0L, 1L, Some("f1"))
    Manifest.append(spark, out, "s", 2, 10L, 0L, 0L, 2L)
    val driverFiles = files() - sparkFile
    assert(driverFiles.size == 2 &&
      driverFiles.forall(_.matches(".*/part-[0-9a-f-]{36}\\.parquet")))
    // the Parquet schema in each footer: names, physical types,
    // annotations and repetition
    def footer(f: String) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f),
          spark.sparkContext.hadoopConfiguration))
      try r.getFileMetaData.getSchema finally r.close()
    }
    for (f <- driverFiles) {
      assert(footer(f) == footer(sparkFile), f)
      assert(spark.read.parquet(f).schema ==
        spark.read.parquet(sparkFile).schema, f)
    }
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    val want = typed(spark.read.parquet(sparkFile))
    assert(want.map(_._1) == Manifest.schemaCols)
    assert(typed(Manifest.load(spark, out)) == want)
    val rows = Manifest.load(spark, out).collect()
      .map(r => r.getAs[Int]("partition_id") -> r).toMap
    assert(rows(1).toSeq == Seq("s", 1, "done", 10L, 1L, 0L, 1L, "f1"))
    assert(rows(2).toSeq == Seq("s", 2, "done", 10L, 0L, 0L, 2L, null))
    assert(Manifest.state(spark, out, Some("s")) ==
      Manifest.State(Set(0, 1, 2), Map(0 -> "f0", 1 -> "f1"), 3L))
  }

  test("Manifest.append from 16 threads at once: 16 rows, nextSeq past " +
       "them, no temp file left") {
    val out = Files.createTempDirectory("graft-mconc").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    val go = new java.util.concurrent.CountDownLatch(1)
    try {
      val appends = (0 until 16).map { k =>
        pool.submit(new Runnable {
          def run(): Unit = {
            go.await()
            Manifest.append(spark, out, "s", k, 1L, 0L, 0L, k.toLong,
              Some(s"f$k"))
          }
        })
      }
      go.countDown()
      appends.foreach(_.get())
    } finally pool.shutdown()
    assert(Manifest.load(spark, out).count() == 16)
    assert(Manifest.state(spark, out, Some("s")) == Manifest.State(
      (0 until 16).toSet, (0 until 16).map(k => k -> s"f$k").toMap, 16L))
    val names = Files.list(java.nio.file.Paths.get(Manifest.path(out)))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    assert(!names.exists(_.endsWith(".tmp")), names.mkString(", "))
  }

  test("_schema.json is replaced atomically: a write that throws keeps " +
       "the previous file and leaves no visible file") {
    val tmp = Files.createTempDirectory("graft-atomic").toString
    Runner.init(spark, s"$tmp/in", 500, 2)
    assert(Runner.run(spark, s"$tmp/in", s"$tmp/out") == (2, 0))
    val dir = java.nio.file.Paths.get(s"$tmp/out")
    val schemaFile = dir.resolve("_schema.json")
    val before = Files.readAllBytes(schemaFile)
    def listing(): Set[String] = Files.list(dir).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    val visible = listing().filterNot(_.startsWith("."))
    val conf = spark.sparkContext.hadoopConfiguration
    val err = intercept[IllegalStateException] {
      Manifest.replaceAtomically(
          new org.apache.hadoop.fs.Path(schemaFile.toString), conf) { t =>
        val o = t.getFileSystem(conf).create(t, true)
        try o.write("{\"type\":\"str".getBytes("UTF-8")) finally o.close()
        throw new IllegalStateException("killed mid-write")
      }
    }
    assert(err.getMessage == "killed mid-write")
    assert(java.util.Arrays.equals(Files.readAllBytes(schemaFile), before))
    assert(listing().filterNot(_.startsWith(".")) == visible)
    assert(!listing().exists(_.contains(".tmp")), listing())
    // what the next run's drift gate parses is the schema recorded
    assert(org.apache.spark.sql.types.DataType.fromJson(
      new String(before, "UTF-8")) ==
      spark.read.parquet(s"$tmp/in/docs").drop("part").schema)
  }

  test("a manifest of more files than Spark lists serially reads in as " +
       "many jobs as a small one") {
    val out = Files.createTempDirectory("graft-mmany").toString
    for (k <- 0 until 4)
      writeManifest(out, withFp = true, Seq(("s", k, "done", k.toLong, "f")))
    val (few, fewJobs) = jobsOf(Manifest.state(spark, out, Some("s")))
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "2")
    val (many, manyJobs) =
      try jobsOf(Manifest.state(spark, out, Some("s")))
      finally spark.conf.unset(key)
    assert(few.completed == Set(0, 1, 2, 3) && many == few)
    assert(manyJobs == fewJobs, s"$manyJobs jobs past the threshold, " +
      s"$fewJobs below it")
  }

  test("a part=k directory whose data files hold zero rows is a " +
       "partition: validated with n_checked = 0") {
    val tmp = Files.createTempDirectory("graft-empty").toString
    Runner.init(spark, s"$tmp/in", 1000, 2)
    spark.read.parquet(s"$tmp/in/docs").drop("part").limit(0)
      .write.parquet(s"$tmp/empty")
    val src = Files.list(java.nio.file.Paths.get(s"$tmp/empty"))
    try src.filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach { f =>
        val dst = java.nio.file.Paths.get(s"$tmp/in/docs/part=2")
        Files.createDirectories(dst)
        Files.copy(f, dst.resolve(f.getFileName))
      }
    finally src.close()
    assert(Runner.partitionInputFps(spark, s"$tmp/in").keySet ==
      Set(0, 1, 2))
    assert(Runner.run(spark, s"$tmp/in", s"$tmp/out") == (3, 0))
    val rows = Manifest.load(spark, s"$tmp/out")
      .where(col("partition_id") === 2).collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("n_checked") == 0L &&
      rows(0).getAs[Long]("n_failed") == 0L)
    assert(Runner.run(spark, s"$tmp/in", s"$tmp/out") == (0, 3))
  }

  test("profileBy law: each group's row equals profile() of that " +
      "group's filtered frame, incl. a null group key") {
    import spark.implicits._
    val df = Seq(("en", "a", 1L), ("en", null, 2L), ("de", "b", 3L),
      ("de", "b", 4L), (null, "c", 5L), ("en", "a", 6L))
      .toDF("g", "s", "n")
    val by = Stats.profileBy(df, "g", Seq("s", "n"), exact = true)
      .collect().map(r => (Option(r.getString(0)), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5),
          r.getString(6))).toMap
    for (g <- Seq(Some("en"), Some("de"), None)) {
      val part = df.where(if (g.isDefined) col("g") === g.get
                          else col("g").isNull)
      val direct = Stats.profile(part, Seq("s", "n"), exact = true)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
            r.getString(5))).toMap
      for (c <- Seq("s", "n"))
        assert(by((g, c)) == direct(c), s"group=$g col=$c")
    }
    assert(by.size == 6) // 3 groups x 2 cols, no phantom rows
  }

  test("profile drift: planted null-rate jump and ndv blowup fail their " +
      "columns, stable columns pass, empty side fails") {
    import spark.implicits._
    val base = (1 to 200).map(i => (s"v${i % 10}", s"w${i % 4}"))
      .toDF("a", "b")
    // a: 30% nulls planted (delta 0.3 > 0.05); b: ndv 4 -> 40 (ratio 9)
    val cur = (1 to 200).map(i =>
      (if (i % 10 < 3) null else s"v${i % 10}", s"w${i % 40}"))
      .toDF("a", "b")
    val got = Stats.profileDrift(base, cur, Seq("a", "b"), exact = true)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("null_rate_delta"),
          r.getAs[Double]("ndv_ratio_delta"), r.getAs[Boolean]("pass")))
      .toMap
    assert(got("a")._1 == 0.3 && !got("a")._3)
    assert(got("b")._2 == 9.0 && !got("b")._3)
    // identical snapshots pass everywhere
    assert(Stats.profileDrift(base, base, Seq("a", "b"), exact = true)
      .collect().forall(_.getAs[Boolean]("pass")))
    // an empty current side fails (NaN rate), never passes silently
    assert(Stats.profileDrift(base, base.limit(0), Seq("a"), exact = true)
      .collect().forall(!_.getAs[Boolean]("pass")))
  }

  test("schema diff property: 200 random evolutions (drop/retype/add, " +
      "flat and nested) are reported exactly, with the widening law") {
    import org.apache.spark.sql.types._
    val types: IndexedSeq[DataType] = IndexedSeq(IntegerType, LongType,
      FloatType, DoubleType, StringType, BooleanType)
    def tn(dt: DataType): String = dt.sql.toLowerCase
    val widen = Set(("tinyint", "smallint"), ("tinyint", "int"),
      ("tinyint", "bigint"), ("smallint", "int"), ("smallint", "bigint"),
      ("int", "bigint"), ("float", "double"))
    val rnd = new scala.util.Random(7)
    // one mutation round over a field list; returns (evolved fields,
    // expected (path, kind, prev, cur) changes under `prefix`)
    def mutate(base: Seq[StructField], prefix: String)
        : (Seq[StructField], List[(String, String, Option[String], Option[String])]) = {
      var exp = List.empty[(String, String, Option[String], Option[String])]
      val cur = scala.collection.mutable.ArrayBuffer[StructField]()
      def path(n: String) = if (prefix.isEmpty) n else s"$prefix.$n"
      base.foreach { f =>
        rnd.nextInt(3) match {
          case 0 => cur += f
          case 1 =>
            exp ::= ((path(f.name), "removed", Some(tn(f.dataType)), None))
          case 2 =>
            val nt = types((types.indexOf(f.dataType) + 1 +
              rnd.nextInt(types.length - 1)) % types.length)
            cur += StructField(f.name, nt)
            exp ::= ((path(f.name), "retyped",
              Some(tn(f.dataType)), Some(tn(nt))))
        }
      }
      (0 until rnd.nextInt(3)).foreach { j =>
        val t = types(rnd.nextInt(types.length))
        cur += StructField(s"g$j", t)
        exp ::= ((path(s"g$j"), "added", None, Some(tn(t))))
      }
      (cur.toSeq, exp)
    }
    (1 to 200).foreach { _ =>
      val flat = (0 until 1 + rnd.nextInt(5)).map(i =>
        StructField(s"f$i", types(rnd.nextInt(types.length))))
      val inner = (0 until 1 + rnd.nextInt(3)).map(i =>
        StructField(s"n$i", types(rnd.nextInt(types.length))))
      val (flatCur, flatExp) = mutate(flat, "")
      val (innerCur, innerExp) = mutate(inner, "s")
      val prev = StructType(flat :+ StructField("s", StructType(inner)))
      val cur = StructType(flatCur :+
        StructField("s", StructType(innerCur)))
      val got = SchemaEvolution.diff(prev, cur)
      assert(got.map(c => (c.path, c.kind.label, c.prevType, c.curType))
        .toSet == (flatExp ++ innerExp).toSet)
      // safety law: added always safe, removed never, retyped iff a
      // lossless numeric widening
      got.foreach { c =>
        val want = c.kind.label match {
          case "added"   => true
          case "removed" => false
          case _         => widen((c.prevType.get, c.curType.get))
        }
        assert(c.safe == want, s"$c safety")
      }
      // reflexivity: a schema never drifts from itself
      assert(SchemaEvolution.diff(prev, prev).isEmpty)
    }
  }

  test("schema evolution, additive: an added column reads null for old " +
       "files, is ignored by the non-strict contract, and only the " +
       "touched partition recomputes") {
    import org.apache.spark.sql.SaveMode
    val tmp = Files.createTempDirectory("graft-evolve").toString
    Runner.init(spark, s"$tmp/in", 2000, 4)
    val (p0, _) = Runner.run(spark, s"$tmp/in", s"$tmp/out")
    assert(p0 == 4)

    // additive evolution: newer files in part=1 carry a `lang` column
    val extra = spark.read.parquet(s"$tmp/in/docs")
      .where(col("part") === 1).drop("part").limit(30)
      .withColumn("lang", lit("en"))
    extra.write.mode(SaveMode.Append).parquet(s"$tmp/in/docs/part=1")

    // run succeeds (no drift error), recomputing only the touched part
    val (p1, s1) = Runner.run(spark, s"$tmp/in", s"$tmp/out")
    assert(p1 == 1 && s1 == 3, s"processed=$p1 skipped=$s1")

    // merged read semantics: union schema, old files read null
    val docs = spark.read.option("mergeSchema", "true")
      .parquet(s"$tmp/in/docs")
    assert(docs.columns.contains("lang"))
    assert(docs.where(col("lang").isNull).count() > 0)

    // the recorded schema advanced to the evolved shape
    val rec = org.apache.spark.sql.types.DataType.fromJson(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$tmp/out/_schema.json")), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(rec.fieldNames.contains("lang"))

    // and the extra column produced no violations of its own: outputs
    // equal a fresh run over the same evolved input
    val cols = Seq("doc_id", "path", "contract_repr", "got")
    val (pf, _) = Runner.run(spark, s"$tmp/in", s"$tmp/out_fresh")
    assert(pf == 4)
    val a = spark.read.parquet(s"$tmp/out/violations")
      .orderBy(cols.map(col): _*).drop("part").collect()
    val b = spark.read.parquet(s"$tmp/out_fresh/violations")
      .orderBy(cols.map(col): _*).drop("part").collect()
    assert(a.length == b.length && a.sameElements(b))
  }

  test("schema evolution, breaking: a retyped nested field fails fast " +
       "with the exact path before any partition runs") {
    import org.apache.spark.sql.SaveMode
    val tmp = Files.createTempDirectory("graft-drift").toString
    Runner.init(spark, s"$tmp/in", 1000, 4)
    Runner.run(spark, s"$tmp/in", s"$tmp/out")

    // snapshot rewrite retypes spans.offset int -> string
    val docs0 = spark.read.parquet(s"$tmp/in/docs")
    docs0.withColumn("spans", transform(col("spans"), s => struct(
        s.getField("kind").as("kind"), s.getField("text").as("text"),
        s.getField("media_ref").as("media_ref"),
        s.getField("offset").cast("string").as("offset"))))
      .write.mode(SaveMode.Overwrite).partitionBy("part")
      .parquet(s"$tmp/in2/docs")
    spark.read.parquet(s"$tmp/in/media")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/in2/media")

    val ex = intercept[SchemaEvolution.SchemaDriftError] {
      Runner.run(spark, s"$tmp/in2", s"$tmp/out")
    }
    assert(ex.breaking.exists(c =>
      c.path == "spans[].offset" &&
        c.kind == SchemaEvolution.Retyped &&
        c.prevType.contains("int") && c.curType.contains("string")),
      s"got: ${ex.breaking}")
    // fail-fast: no new partitions were validated against the retyped
    // snapshot (the manifest still holds only the original 4 rows)
    assert(Manifest.load(spark, s"$tmp/out").count() == 4)
    // the override proceeds (schema-aware integer gate now flags every
    // span offset) and advances the recorded schema
    val (p, _) = Runner.run(spark, s"$tmp/in2", s"$tmp/out",
      allowBreakingDrift = true)
    assert(p == 4)
    val rec = org.apache.spark.sql.types.DataType.fromJson(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$tmp/out/_schema.json")), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val off = rec("spans").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("offset")
    assert(off.dataType.sql.toLowerCase == "string")
  }

  test("schema-evolution diff: widenings are safe, order changes are " +
       "not drift, map key/value retypes are caught") {
    import org.apache.spark.sql.types._
    def st(ddl: String) = StructType.fromDDL(ddl)
    // numeric widening: safe retype
    val w = SchemaEvolution.diff(st("a INT"), st("a BIGINT"))
    assert(w.size == 1 && w.head.safe &&
      w.head.kind == SchemaEvolution.Retyped)
    // narrowing: breaking
    assert(!SchemaEvolution.diff(st("a BIGINT"), st("a INT")).head.safe)
    // field order is not drift
    assert(SchemaEvolution.diff(
      st("a INT, b STRING"), st("b STRING, a INT")).isEmpty)
    // map value retype, nested under a struct
    val m = SchemaEvolution.diff(
      StructType(Seq(StructField("m",
        MapType(StringType, IntegerType)))),
      StructType(Seq(StructField("m",
        MapType(StringType, StringType)))))
    assert(m.size == 1 && m.head.path == "m{}" && !m.head.safe)
    // removed nested field
    val r = SchemaEvolution.diff(
      st("s STRUCT<x: INT, y: INT>"), st("s STRUCT<x: INT>"))
    assert(r.size == 1 && r.head.path == "s.y" &&
      r.head.kind == SchemaEvolution.Removed && !r.head.safe)
  }

  test("v_shapes_all driver query: collect-all over tuple/strict-tuple/" +
       "hash/map-object/truthy — id=0 carries every defect in " +
       "depth-first seq order") {
    val out = SparkEntry.queries("v_shapes_all")(spark,
      "/root/testdata/sf0.001").collect()
    val zero = out.filter(_.getString(0) == "0").toSeq
      .map(r => (r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4)))
    assert(zero == Seq(
      (0, ".pair", "tuple of size 2", "[ 1 ]"),
      // the size error does not short-circuit the positional sweep:
      // position 1 is checked against undefined (contract.impl.js:559-563)
      (1, ".pair[1]", "between(0, 9)", "undefined"),
      (2, ".trip", "tuple of exactly size 1", "[ 'a', 'extra' ]"),
      (3, ".attrs.bad", "between(0, 100)", "500"),
      (4, ".meta.lang", "oneOf(en, es)", "'xx'"),
      (5, ".tag", "truthy", "''")), s"id=0 violations were $zero")
    // short-pair rows: the size error plus the undefined position-1 check
    assert(out.filter(_.getString(0) == "97").toSeq
      .map(r => (r.getInt(1), r.getString(2))) ==
      Seq((0, ".pair"), (1, ".pair[1]")))
    // missing required key on a map-typed object renders got=null
    assert(out.filter(_.getString(0) == "71").toSeq
      .map(r => (r.getInt(1), r.getString(2), r.getString(4))) ==
      Seq((0, ".meta.lang", "null")))
    // salted two-phase uniqueness agrees with the single-phase count
    val plain = SparkEntry.queries("uniq_lineitem")(spark,
      "/root/testdata/sf0.001").collect()
    val salted = SparkEntry.queries("uniq_salted_lineitem")(spark,
      "/root/testdata/sf0.001").collect()
    assert(plain.length == salted.length && plain.sameElements(salted))
  }
}
