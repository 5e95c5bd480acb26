package graft

import graft.pipeline._
import org.apache.spark.sql.functions._

/** Connected-components (large-star/small-star) and deterministic
  * sampling: correctness vs driver-side union-find on adversarial
  * graph shapes, rate accuracy, and cross-run stability. */
class SamplingCcSpec extends SparkTestBase {

  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical representative = min member, matching the operator
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ms) =>
      val m = ms.min; ms.map(_ -> m)
    }
  }

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("id_a", "id_b")
    Dedup.connectedComponents(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components: long chain, star, clique, isolated pair") {
    // a 60-node chain forces multiple star rounds (label propagation
    // would need 60); plus a star, a clique, and a 2-node component
    val chain = (1L until 60L).map(i => (i, i + 1))
    val star = (101L to 110L).map(i => (100L, i))
    val clique = (for {
      a <- 200L to 205L; b <- 200L to 205L if a < b
    } yield (a, b)).toSeq
    val pair = Seq((300L, 301L))
    val edges = chain ++ star ++ clique ++ pair
    assert(ccMap(edges) == unionFind(edges))
  }

  test("connected components: random graphs match union-find") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 80 + trial * 40
      val edges = Seq.fill(n) {
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
      }.filter(e => e._1 != e._2)
      assert(ccMap(edges) == unionFind(edges),
        s"trial $trial diverged from union-find")
    }
  }

  test("connected components: empty and self-loop-only input") {
    assert(ccMap(Seq.empty) == Map.empty)
    val selfOnly = Seq((5L, 5L))
    assert(ccMap(selfOnly) == Map.empty,
      "self-loops carry no connectivity")
  }

  test("connected components: merge order independent of id order") {
    // ids chosen so the min lives at the END of a chain — star rounds
    // must propagate it the whole way
    val edges = Seq((50L, 40L), (40L, 30L), (30L, 20L), (20L, 1L))
    val m = ccMap(edges)
    assert(m.values.toSet == Set(1L))
    assert(m.keySet == Set(1L, 20L, 30L, 40L, 50L))
  }

  test("connected components: distributed star rounds ≡ driver " +
       "union-find fast path (forced both ways, every shape)") {
    // round 6 added a size-gated driver fast path; the DISTRIBUTED
    // rounds must stay correct for the >localCcMaxEdges regime, so
    // force them (localMaxEdges = -1) and pin row-identity against the
    // default (fast) path on every structural shape above
    val rnd = new scala.util.Random(7)
    val shapes = Seq(
      (1L until 60L).map(i => (i, i + 1)),                  // chain
      (101L to 110L).map(i => (100L, i)),                   // star
      (for { a <- 200L to 205L; b <- 200L to 205L if a < b }
        yield (a, b)).toSeq,                                // clique
      Seq.fill(150)((rnd.nextInt(60).toLong,
        rnd.nextInt(60).toLong)).filter(e => e._1 != e._2)) // random
    shapes.zipWithIndex.foreach { case (edges, i) =>
      val df = edges.toDF("id_a", "id_b")
      val fast = Dedup.connectedComponents(df)
        .orderBy("id").collect().toSeq
      val dist = Dedup.connectedComponents(df, localMaxEdges = -1L)
        .orderBy("id").collect().toSeq
      assert(fast == dist, s"shape $i: fast path diverged from rounds")
    }
    // string ids take the fast path through UTF8-binary ordering
    val sEdges = Seq(("b", "a"), ("c", "b"), ("x", "y"))
      .toDF("id_a", "id_b")
    val sFast = Dedup.connectedComponents(sEdges)
      .orderBy("id").collect().toSeq
    val sDist = Dedup.connectedComponents(sEdges, localMaxEdges = -1L)
      .orderBy("id").collect().toSeq
    assert(sFast == sDist, "string ids diverged")
  }

  test("connected components: a 1,024-node chain converges within " +
       "maxIter = 2·⌈log₂ 1024⌉ = 20 distributed star rounds") {
    // large-star/small-star needs O(log chain length) rounds; label
    // propagation would need ~1,023. A round count that grew with the
    // chain would stop at maxIter with the chain split into several
    // components, so the forced distributed rows would differ from the
    // union-find fast path's (maxIter = 1 shows that they do)
    val df = (1L until 1024L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def rows(cc: org.apache.spark.sql.DataFrame) =
      cc.orderBy("id").collect().toSeq
    val fast = rows(Dedup.connectedComponents(df))
    assert(fast.size == 1024 && fast.forall(_.getLong(1) == 1L))
    assert(rows(Dedup.connectedComponents(df, maxIter = 20,
      localMaxEdges = -1L)) == fast, "chain needed more than 20 rounds")
    assert(rows(Dedup.connectedComponents(df, maxIter = 1,
      localMaxEdges = -1L)) != fast, "one round cannot span the chain")
  }

  test("canonicalPerComponent: best score wins, least-id tie-break") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
    val scores = Seq((1L, 5), (2L, 9), (3L, 9), (10L, 4), (11L, 4))
      .toDF("doc_id", "score")
    val r = Dedup.canonicalPerComponent(comps, scores, "doc_id", "score")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .toSet
    // comp 1 = {1,2,3}: best score 9 held by {2,3} -> keep 2
    // comp 10 = {10,11}: tie at 4 -> keep 10
    assert(r == Set((1L, 3L, 2L), (10L, 2L, 10L)))
  }

  test("repetition: hand-computed duplicate fractions") {
    val df = Seq(
      (1L, "a b a b"),      // words: 4 total / 2 distinct; bigrams:
                            // [a b, b a, a b] -> 3 total / 2 distinct
      (2L, "x y z"),        // no repetition
      (3L, "w w w w w")     // maximal repetition
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(df, "doc_id", "text")
      .orderBy("id").collect()
    assert(r(0).getAs[Int]("n_words") == 4)
    assert(r(0).getAs[Int]("n_distinct_words") == 2)
    assert(r(0).getAs[Double]("dup_word_frac") == 0.5)
    assert(r(0).getAs[Int]("n_bigrams") == 3)
    assert(r(0).getAs[Int]("n_distinct_bigrams") == 2)
    assert(r(0).getAs[Double]("dup_bigram_frac") == 0.3333)
    assert(r(1).getAs[Double]("dup_word_frac") == 0.0)
    assert(r(1).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(r(2).getAs[Double]("dup_word_frac") == 0.8)
    assert(r(2).getAs[Double]("dup_bigram_frac") == 0.75)
  }

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  test("stratified sampling: per-group rates within tolerance, " +
       "membership deterministic") {
    val rates = Map("en" -> 0.5, "de" -> 0.2)
    val s1 = Sampling.stratified(docs, "lang", rates, 0.1, "doc_id")
    val s2 = Sampling.stratified(docs, "lang", rates, 0.1, "doc_id")
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = s2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "same input+salt must sample identical rows")
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, total) <- byLang if total >= 20) {
      val rate = rates.getOrElse(lang, 0.1)
      val got = kept.getOrElse(lang, 0L).toDouble / total
      // binomial at these sizes: allow a wide but meaningful band
      assert(math.abs(got - rate) < 0.25,
        s"$lang sampled at $got, wanted ~$rate")
    }
  }

  test("stratified sampling: salt changes membership, rate 0/1 exact") {
    val all = Sampling.stratified(docs, "lang", Map.empty, 1.0, "doc_id")
    // rateHex(1.0) saturates above every possible 8-hex draw
    assert(all.count() == docs.count())
    val none = Sampling.stratified(docs, "lang", Map.empty, 0.0, "doc_id")
    assert(none.count() == 0)
    val a = Sampling.stratified(docs, "lang", Map.empty, 0.5, "doc_id",
      salt = "s1").select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.stratified(docs, "lang", Map.empty, 0.5, "doc_id",
      salt = "s2").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a != b, "different salts should draw different subsets")
  }

  test("rateHex: saturates above hex space at 1.0, monotone, bounded") {
    assert(Sampling.rateHex(1.0) == "g")
    assert(Sampling.rateHex(1.5) == "g")
    assert(Sampling.rateHex(0.0) == "00000000")
    assert(Sampling.rateHex(-0.5) == "00000000")
    assert(Sampling.rateHex(0.5) == "80000000")
    // "g" > every possible draw, so even a row drawing "ffffffff"
    // survives rate 1.0 (strict < against "ffffffff" would drop it)
    assert("ffffffff" < Sampling.rateHex(1.0))
    val hexes = Seq(0.1, 0.25, 0.5, 0.75, 0.99).map(Sampling.rateHex)
    assert(hexes == hexes.sorted)
  }

  test("groupTopK: exactly k per group (or group size), stable") {
    val k = 7
    val t1 = Sampling.groupTopK(docs, "lang", "doc_id", k)
    val sizes = t1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, total) <- byLang)
      assert(sizes(lang) == math.min(k.toLong, total))
    val t2 = Sampling.groupTopK(docs, "lang", "doc_id", k)
    assert(t1.select("lang", "doc_id").collect().toSet ==
      t2.select("lang", "doc_id").collect().toSet)
    // ranks are 1..k within each group
    val ranks = t1.groupBy("lang")
      .agg(min("sample_rank").as("mn"), max("sample_rank").as("mx"))
      .collect()
    assert(ranks.forall(r => r.getAs[Int]("mn") == 1))
  }

  test("groupTopKIds (bounded aggregate) ≡ groupTopK (rank window) " +
       "for every k") {
    for (k <- Seq(1, 4, 9)) {
      val viaWindow = Sampling.groupTopK(docs, "lang", "doc_id", k)
        .select(col("lang"), col("sample_rank"),
          col("doc_id").cast("long").as("doc_id"))
        .orderBy("lang", "sample_rank").collect().toSeq
      val viaAgg = Sampling.groupTopKIds(docs, "lang", "doc_id", k)
        .orderBy("lang", "sample_rank").collect().toSeq
      assert(viaAgg == viaWindow, s"k=$k diverged")
    }
  }

  test("groupTopKIds rejects non-integral id columns fast") {
    val stringIds = docs.withColumn("doc_id", col("doc_id").cast("string"))
    val e = intercept[IllegalArgumentException] {
      Sampling.groupTopKIds(stringIds, "lang", "doc_id", 3)
    }
    assert(e.getMessage.contains("integral id column"))
    assert(e.getMessage.contains("groupTopK"))
  }
}
