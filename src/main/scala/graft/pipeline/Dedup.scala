package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for large-scale training-data pipelines: exact,
  * exact n-gram Jaccard (inverted-index join), MinHash+LSH (the 100 TB
  * path), and SimHash with banded Hamming search.
  *
  * Scale notes per operator:
  *  - exact: one hash-agg (map-side partial) — skew-safe, one shuffle.
  *  - ngram Jaccard: exact all-pairs via shingle inverted index — the
  *    shuffle is bounded by Σ df(gram)²; correct but quadratic in hot
  *    grams, so it is the AUDIT path. At scale run minhashLsh (candidates
  *    from banded signatures, exact verify on candidates only).
  *  - minhash: signatures/bands are compiled expressions (xxhash64
  *    draws, codegen'd, no UDF); band join keys are 64-bit hashes so
  *    bucket skew is hash-bounded.
  *  - simhash: 64-bit signature from token hashes; near-dup pairs via
  *    4×16-bit band join (guarantees recall for Hamming distance ≤ 3) +
  *    bit_count verify.
  */
object Dedup {

  /** exact duplicate groups over a set of key columns: groups with
    * multiplicity > 1, with the minimal id as representative. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("first_id"))
      .where(col("n_dups") > 1)

  /** projects (idCol as id, grams) via the compiled
    * [[graft.functions.NgramShingles]] expression (25 s → 0.6 s per
    * 5k docs at n=8 vs the interpreted HOF; byte-identical output). */
  def withNgrams(df: DataFrame, idCol: String, textCol: String,
                 n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.NgramShingles.ngrams(col(textCol), n).as("grams"))

  /** [[withNgrams]] with each gram hashed to its `xxhash64` long
    * ([[graft.functions.XxhashArray]]) — the narrow projection the
    * Jaccard/minhash paths persist and join on since round 6: a word
    * 3-gram is ~20-40 bytes vs 8 for its hash, so every downstream
    * exchange (inverted index, band candidates, verify joins) and
    * every `array_intersect` shrinks accordingly. A cross-gram hash
    * collision (2⁻⁶⁴) could only MERGE two grams — same accepted-risk
    * class as the hash-once minhash draw below — and the exact-Jaccard
    * outputs are oracle-checked against string-gram replays. */
  def withHashedNgrams(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.XxhashArray.hashed(
        graft.functions.NgramShingles.ngrams(col(textCol), n))
        .as("grams"))

  /** exact n-gram Jaccard similarity join: all pairs with J >= threshold.
    *
    * PPJoin-style prefix filtering (Xiao et al., WWW'08 — public
    * algorithm): under a global gram order (ascending document
    * frequency, gram as tie-break), two sets with J >= t MUST share a
    * gram within their first |X| - ceil(t*|X|) + 1 grams. Only those
    * prefix grams — the RAREST ones — enter the inverted-index
    * self-join, so the candidate blowup is Σ df(prefix-gram)² instead of
    * Σ df(gram)² (hot grams like stop-trigrams never join). Candidates
    * are then verified EXACTLY with array_intersect on the full gram
    * sets — the output is identical to the naive all-pairs join. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // the grams projection feeds THREE subtrees (inverted index + both
    // verify joins); without a persist each subtree re-tokenizes and
    // re-shingles the corpus (~3x the dominant cost). MEMORY_AND_DISK:
    // spills rather than recomputes at 100 TB partition sizes.
    // Cache lifecycle: the blocks back the RETURNED (lazy) plan, so this
    // function cannot unpersist them itself — tracked in [[GramCache]];
    // run passes inside GramCache.withGramCache { … } (or call
    // GramCache.release() between passes) for mechanical cleanup.
    // HASHED grams (round 6): the persisted projection, the inverted
    // index, the prefix self-join and both verify intersects all work
    // on 8-byte gram hashes instead of ~20-40-byte strings — the
    // PPJoin prefix theorem holds under ANY consistent global gram
    // order, so ordering by (df, gramHash) keeps candidate completeness
    // and the exact verify keeps the output identical to the string
    // form (oracle replays string grams; green at every SF).
    val docs = GramCache.persistTracked(
      withHashedNgrams(df, idCol, textCol, n))
    val sh = docs.select(col("id"), explode(col("grams")).as("g"))
    val gramDf = sh.groupBy("g").agg(count(lit(1)).as("df"))
    // per doc: grams sorted by (df, g), keep the prefix
    val prefix = sh.join(gramDf, "g")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("g"))))
        .as("ordered"))
      .select(col("id"), transform(
        slice(col("ordered"), lit(1),
          greatest(size(col("ordered")) -
            ceil(size(col("ordered")) * threshold).cast("int") + 1,
            lit(1))),
        e => e.getField("g")).as("pg"))
      .select(col("id"), explode(col("pg")).as("g"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    // exact verification on full gram sets
    val g = docs.select(col("id"), col("grams"))
    cand
      .join(g.select(col("id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(g.select(col("id").as("id_b"), col("grams").as("gb")), "id_b")
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("sz_a", size(col("ga")))
      .withColumn("sz_b", size(col("gb")))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "sz_a", "sz_b", "jaccard")
  }

  /** MinHash+LSH near-dup pairs: banded signature buckets generate
    * candidates; exact Jaccard (array_intersect on the true shingle
    * sets) verifies — so precision is exact and only recall depends on
    * the (bands × rows) sensitivity curve.
    *
    * SIGNATURE FORMAT v2 (round 5; advisor note): the draw changed
    * from `xxhash64(gram, seed)` to `xxhash64(xxhash64(gram), seed)`
    * in round 5 — signatures, band hashes, and any PERSISTED state
    * derived from them (streaming stateful-dedup checkpoints, exported
    * signature tables) are NOT comparable with pre-round-5 builds: an
    * upgrade across that commit silently stops matching old near-dup
    * state rather than failing. Version-tag persisted signature
    * schemas (or drop checkpoints written by the v1 formula) when
    * upgrading across it. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // no size(grams)>0 pre-filter: explode already drops empty-gram docs,
    // and a pushed-down filter would re-expand the whole gram expression
    // (incl. the split) below the projection — measured 2x cost.
    // persisted: the projection feeds the signature agg AND both verify
    // joins (see ngramJaccardPairs note — tracked in [[GramCache]],
    // bracket passes with GramCache.withGramCache for cleanup).
    // HASHED grams (round 6): the persisted projection already holds
    // each gram's xxhash64 — exactly the `gh` value the signature pass
    // previously recomputed per gram row — so the explode emits 8-byte
    // longs, the verify joins intersect long arrays, and signatures
    // are bit-identical to the string-gram form.
    val docs = GramCache.persistTracked(
      withHashedNgrams(df, idCol, textCol, n))
    // minhashes via explode + aggregation, NOT array HOFs: HOF lambdas
    // are interpreted (CodegenFallback, per-element boxing) while
    // min(xxhash64(...)) aggregates are whole-stage-codegen'd. Spark's
    // map-side partial aggregation collapses each doc's grams to one
    // 64-column row BEFORE the shuffle, so the exchange carries one row
    // per doc regardless of document length. The gram STRING is hashed
    // once (`gh`, now precomputed in the persisted projection) and the
    // 64 seeded draws re-hash the 8-byte long — hashing the
    // ~20-40-byte gram text per seed paid numHashes× the string's
    // length in the signature pass, the query's dominant compute. Two
    // distinct grams colliding in gh (2⁻⁶⁴) can only MERGE draws —
    // never splits a true candidate pair, and the exact Jaccard verify
    // keeps precision exact regardless.
    // signatures ROW-LOCALLY via [[graft.functions.MinhashSig]]
    // (round 6): every gram of a document lives in its one persisted
    // row, so the 64 minima need no explode, no 64-column hash-agg,
    // and no exchange — and the shared hashLong(gh, 42) inner hash is
    // computed once per gram instead of once per (gram, seed), halving
    // the query's dominant hash work. Bit-identity with the aggregate
    // form is pinned in PipelineSpec. The sig frame is persisted
    // (GramCache) because the band self-join consumes it as BOTH sides
    // — the aggregate form's exchange was reused by ReuseExchange, and
    // without one the signature pass would run twice. The empty-gram
    // filter replicates the explode form's implicit drop; it sits
    // above the persisted projection, so nothing is recomputed.
    val sigs = GramCache.persistTracked(
      docs.where(size(col("grams")) > 0)
        .select(col("id"),
          graft.functions.MinhashSig.sig(col("grams"), numHashes)
            .as("sig")))
    val bandCols = (0 until bands).map { b =>
      val h = (0 until r).map(j => element_at(col("sig"), b * r + j + 1))
        .foldLeft(lit(0L))((acc, m) => xxhash64(acc, m))
      struct(lit(b).as("band"), h.as("bh"))
    }
    val banded = sigs.select(col("id"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val g = docs.select(col("id"), col("grams"))
    cand
      .join(g.select(col("id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(g.select(col("id").as("id_b"), col("grams").as("gb")), "id_b")
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("ga")) + size(col("gb")) - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("common"),
        size(col("ga")).as("sz_a"), size(col("gb")).as("sz_b"),
        col("jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens: per bit, the sign of the
    * sum of ±1 contributions from each token hash. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df.select(col(idCol).as("id"),
      explode(split(col(textCol), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1) * 2 - 1).as(s"b$i"))
    val assembled = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    tokens.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), assembled.as("simhash"))
  }

  /** 128-bit SimHash as two seeded 64-bit halves — the EXTREME-scale
    * signature: with 4×32-bit bands the bucket keyspace is 2³², so the
    * expected random-collision candidate count stays ~n·(n/2³²) per
    * band — linear in n up to ~10⁹ docs where the 64-bit/16-bit-band
    * scheme degrades to ~n²/2¹⁶ (its buckets saturate at 65k). */
  def simhash128(df: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val tokens = df.select(col(idCol).as("id"),
      explode(split(col(textCol), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("id"), xxhash64(col("tok")).as("h0"),
        xxhash64(col("tok"), lit(1)).as("h1"))
    def half(h: String, tag: String) = {
      val bitSums = (0 until 64).map(i =>
        sum(shiftright(col(h), i).bitwiseAND(1) * 2 - 1).as(s"$tag$i"))
      bitSums
    }
    val aggs = half("h0", "a") ++ half("h1", "b")
    def assemble(tag: String) = (0 until 64).map(i =>
      when(col(s"$tag$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    tokens.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), assemble("a").as("sh_lo"),
        assemble("b").as("sh_hi"))
  }

  /** SimHash near-dup pairs over the 128-bit signature: 4×32-bit band
    * join (complete for Hamming ≤ 3 by the same pigeonhole as
    * [[simhashPairs]]) + exact popcount verify over both halves. The
    * scheme to use beyond ~10⁸ docs. */
  def simhashPairs128(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      stagingDir: Option[String] = None): DataFrame = {
    val sh0 = simhash128(df, idCol, textCol)
    // natural parallelism: coalesce(1) would collapse the upstream
    // signature aggregation into one task (see lshBuckets note)
    val sh = stagingDir.map { dir =>
      sh0.write.mode("overwrite").parquet(s"$dir/simhash128_sigs")
      df.sparkSession.read.parquet(s"$dir/simhash128_sigs")
    }.getOrElse(sh0)
    simhashPairs128FromSigs(sh, maxHamming)
  }

  /** [[simhashPairs128]] from pre-staged signatures (id, sh_lo, sh_hi). */
  def simhashPairs128FromSigs(sh: DataFrame,
                              maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band completeness requires <= 3")
    val mask32 = lit(0xFFFFFFFFL)
    val chunks = Seq(
      col("sh_lo").bitwiseAND(mask32),
      shiftright(col("sh_lo"), 32).bitwiseAND(mask32),
      col("sh_hi").bitwiseAND(mask32),
      shiftright(col("sh_hi"), 32).bitwiseAND(mask32))
    val banded = sh.select(col("id"), col("sh_lo"), col("sh_hi"),
      explode(array(chunks.zipWithIndex.map { case (c, b) =>
        struct(lit(b).as("band"), c.as("chunk")) }: _*)).as("bb"))
      .select(col("id"), col("sh_lo"), col("sh_hi"),
        col("bb.band").as("band"), col("bb.chunk").as("chunk"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.chunk") === col("y.chunk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sh_lo").as("alo"), col("x.sh_hi").as("ahi"),
        col("y.sh_lo").as("blo"), col("y.sh_hi").as("bhi"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("alo").bitwiseXOR(col("blo"))) +
          bit_count(col("ahi").bitwiseXOR(col("bhi"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over a near-dup pair list — the step that
    * turns pairwise similarity output (minhash/simhash/embedding pairs)
    * into canonical document groups ("keep one doc per component"), via
    * the alternating large-star / small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", ACM SoCC'14 — a
    * public algorithm designed exactly for this shape).
    *
    * Scale properties (why NOT label propagation): plain min-label
    * propagation needs O(diameter) rounds — a crawler mirror chain
    * a→b→c→… takes as many shuffles as the chain is long. Alternating
    * star contraction converges in O(log n) rounds on any graph, each
    * round two hash-shuffles (groupBy u + join back), with map-side
    * partial min-aggregation; no step ever materializes a component in
    * one task, so a 10⁹-member component (the empty-document cluster
    * every web corpus has) never serializes through one reducer.
    *
    * Each round is `localCheckpoint`ed: the loop otherwise stacks
    * O(log n) joins of lineage, and Catalyst re-analysis goes quadratic
    * (on a cluster, point `spark.sparkContext.setCheckpointDir` at
    * durable storage and swap in `checkpoint()` for executor-loss
    * recovery; local mode has no executors to lose).
    *
    * Convergence test: (count, XOR of xxhash64(u,v)) of the edge set —
    * an order-independent fingerprint (edges are distinct, so XOR
    * cancellation needs a hash collision); a collision (2⁻⁶⁴) could
    * only stop the loop one round early, never corrupt edges. XOR, not
    * sum: ANSI mode makes a wrapping Σ of 10⁹ hashes throw.
    *
    * Input: two id columns (any orderable type). Output: (id, component)
    * for every id appearing in a pair, component = least id reachable —
    * the canonical representative. */
  /** Above this edge count the alternating-star rounds run; at or
    * below it the (already materialized, counted) edge set is solved
    * driver-side by union-find — same output, none of the per-round
    * job/shuffle overhead. Rationale: every round is ~4 shuffles plus
    * a checkpoint job and a convergence probe, which on a small edge
    * list is pure fixed cost (measured ~1.1 s of the 1.2 s
    * dedup_components query at sf0.1); the size gate is the same
    * adaptive-threshold idea as a broadcast join, and anything larger
    * takes the unchanged O(log n)-round scale path. Sizing: a
    * collected (long, long) edge Row plus the boxed index/min maps
    * costs ~150-250 bytes of driver heap per edge, so 500k edges is
    * ~100 MB — safe on a default driver; hosts with big drivers can
    * raise it via GRAFT_CC_LOCAL_MAX_EDGES. Forced-path parity is
    * pinned in SamplingCcSpec. */
  private[graft] lazy val localCcMaxEdges: Long =
    graft.Knobs.envLong("GRAFT_CC_LOCAL_MAX_EDGES", 500000L)

  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIter: Int = 30,
                          verbose: Boolean = false,
                          localMaxEdges: Long = localCcMaxEdges)
      : DataFrame = {
    val base = pairs
      .select(col(idA).as("u"), col(idB).as("v"))
      .where(col("u") =!= col("v"))
    // large-star: every neighbor LARGER than u links to the min of
    // u's neighborhood (incl. u) — long chains halve in height.
    // No distinct here: duplicates only inflate small-star's groupBy
    // input (min unaffected) and its distinct canonicalizes the round
    // — dropping the shuffle measured ~15% off round time.
    def largeStar(d: DataFrame): DataFrame = {
      val sym = d.union(d.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
    }
    // small-star: orient edges high→low; every SMALLER-or-equal
    // neighbor (and u itself) links to the neighborhood min
    def smallStar(d: DataFrame): DataFrame = {
      val or = d.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = or.groupBy("u").agg(min("v").as("mv"))
      or.join(m, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("mv").as("b")),
          struct(col("u").as("a"), col("mv").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }
    def sig(d: DataFrame): (Long, Long) = {
      val r = d.select(xxhash64(col("u"), col("v")).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var e = base.distinct().localCheckpoint(true)
    var prev = sig(e)
    // driver fast path: the convergence fingerprint already counted the
    // edges, so a small set (id types with a Spark-order-replicable
    // driver ordering) short-circuits to union-find — identical output
    val localOrd = localCcOrdering(e.schema("u").dataType)
    if (prev._1 <= localMaxEdges &&
        e.schema("u").dataType == e.schema("v").dataType &&
        localOrd.isDefined)
      return localComponents(e, localOrd.get)
    var i = 0
    var done = prev._1 == 0L
    while (!done && i < maxIter) {
      val t0 = System.nanoTime()
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val s = sig(next)
      if (verbose) println(f"[cc] round ${i + 1}: ${s._1} edges, " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      done = s == prev
      prev = s; e = next; i += 1
    }
    // fixpoint edges are star edges (child → component-min root)
    val roots = e.select(col("v").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
    e.select(col("u").as("id"), col("v").as("component"))
      .union(roots).distinct()
  }

  /** driver ordering replicating Spark's `min` for the id types the
    * fast path supports (integral natural order; strings in UTF8
    * BINARY order — [[graft.functions.Utf8Order]], NOT
    * String.compareTo, which diverges on supplementary characters).
    * None ⇒ unsupported type ⇒ distributed path. */
  private def localCcOrdering(dt: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some(Ordering.by((a: Any) => a.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((a: Any) => a.asInstanceOf[Int]))
      case ShortType => Some(Ordering.by((a: Any) => a.asInstanceOf[Short]))
      case ByteType => Some(Ordering.by((a: Any) => a.asInstanceOf[Byte]))
      case StringType => Some(new Ordering[Any] {
        override def compare(a: Any, b: Any): Int =
          graft.functions.Utf8Order.cmpStrings(
            a.asInstanceOf[String], b.asInstanceOf[String])
      })
      case _ => None
    }
  }

  /** exact connected components of a SMALL materialized edge set by
    * driver union-find (path-halving + union by index): output rows
    * (id, component = least reachable id under `ord`) — precisely the
    * distributed fixpoint's result set. Bounded by [[localCcMaxEdges]]
    * rows collected. */
  private def localComponents(edges: DataFrame, ord: Ordering[Any])
      : DataFrame = {
    val dt = edges.schema("u").dataType
    val rows = edges.collect()
    val index = new java.util.HashMap[Any, Integer]()
    val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
    def idx(a: Any): Int = {
      val got = index.get(a)
      if (got != null) got.intValue()
      else {
        val i = vals.length
        index.put(a, Integer.valueOf(i)); vals += a; i
      }
    }
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    rows.foreach { r =>
      val a = idx(r.get(0)); val b = idx(r.get(1))
      while (parent.length < vals.length) parent += parent.length
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
    }
    // least member per root, then one row per id
    val minOf = new java.util.HashMap[Integer, Any]()
    vals.indices.foreach { i =>
      val r = Integer.valueOf(find(i))
      val cur = minOf.get(r)
      if (cur == null || ord.lt(vals(i), cur)) minOf.put(r, vals(i))
    }
    val out = vals.indices.map { i =>
      org.apache.spark.sql.Row(vals(i), minOf.get(Integer.valueOf(find(i))))
    }
    val spark = edges.sparkSession
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", dt),
        org.apache.spark.sql.types.StructField("component", dt))))
  }

  /** One-doc-per-component keep list — the selection step after
    * [[connectedComponents]]: for every multi-doc component, keep the
    * member with the best score (ties → least id). Output
    * (component, n_members, keep_id).
    *
    * Shape chosen for the giant-component case: two aggregations on
    * `component` (max score + member count, then min id among the
    * best), BOTH with map-side partial combine — a rank window would
    * serialize a 10⁹-member boilerplate cluster through one task;
    * partial aggregation collapses it per input partition before any
    * exchange. */
  def canonicalPerComponent(components: DataFrame, scores: DataFrame,
                            idCol: String, scoreCol: String): DataFrame = {
    val j = components.join(
      scores.select(col(idCol).as("id"), col(scoreCol).as("_score")),
      "id")
    val mx = j.groupBy("component").agg(max("_score").as("_best"),
      count(lit(1)).as("n_members"))
    j.join(mx, "component").where(col("_score") === col("_best"))
      .groupBy("component", "n_members")
      .agg(min("id").as("keep_id"))
      .select("component", "n_members", "keep_id")
  }

  /** SimHash near-dup pairs: 4×16-bit band join (complete for Hamming
    * distance ≤ 3 by pigeonhole: 3 flipped bits touch at most 3 of the
    * 4 bands, so one band always collides) + exact bit_count
    * verification — output PROVABLY equals the all-pairs Hamming join.
    * `stagingDir` persists the signatures so an external oracle can
    * replay that all-pairs join against the banded output. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   stagingDir: Option[String] = None): DataFrame = {
    val sh0 = simhash64(df, idCol, textCol)
    // staged runs read the persisted signatures back so the pair join
    // and the oracle consume the SAME bytes (and the signature agg runs
    // once, not once per downstream branch)
    // natural parallelism: coalesce(1) would collapse the upstream
    // signature aggregation into one task (see lshBuckets note)
    val sh = stagingDir.map { dir =>
      sh0.write.mode("overwrite").parquet(s"$dir/simhash_sigs")
      df.sparkSession.read.parquet(s"$dir/simhash_sigs")
    }.getOrElse(sh0)
    simhashPairsFromSigs(sh, maxHamming)
  }

  /** [[simhashPairs]] from pre-staged signatures (id, simhash). */
  def simhashPairsFromSigs(sh: DataFrame,
                           maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16 banding is complete only for <= 3")
    val banded = sh.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)
          .as("chunk"))): _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"),
        col("bb.chunk").as("chunk"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.chunk") === col("y.chunk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Substring-level duplication coverage (the Lee et al., ACL'22
    * "Deduplicating Training Data" family): for each document, the
    * fraction of its token positions covered by a word k-gram that
    * occurs ≥ 2 times in the corpus (any document, including repeats
    * within this one). High coverage flags boilerplate — a document
    * can be globally unique yet 90% built from duplicated spans, which
    * document-level dedup (minhash/simhash) cannot see.
    *
    * Shape, built for 10¹² docs: positional k-grams via the compiled
    * [[graft.functions.NgramShingles]] walk (index = start position),
    * ONE aggregation on gram (map-side partial count — the frequency
    * table), one shuffle join back to occurrences, then a per-document
    * interval union computed with a single `lead` window — NOT by
    * exploding each k-gram into its k covered positions (a k× row
    * blowup): duplicated starts sorted ascending cover
    * `min(k, next_start - start)` new tokens each, k for the last, so
    * the union length is one windowed sum over |duplicated starts|
    * rows. `hashGrams` joins on xxhash64(gram) instead of the gram
    * string — at k=8 a gram is ~50 bytes vs 8, so the shuffle shrinks
    * ~6×; collisions can only ADD coverage (two distinct grams
    * colliding count as duplicated) at ~n²/2⁶⁴ expected extra pairs —
    * off by default, on at scale (DedupSpec pins hashed ≡ exact here).
    */
  def duplicateSpanCoverage(df: DataFrame, idCol: String,
                            textCol: String, k: Int = 8,
                            hashGrams: Boolean = false): DataFrame = {
    // persisted: the positional-shingle explode is the dominant cost
    // and feeds two non-identical exchanges (frequency agg + join
    // probe) that ReuseExchange cannot dedupe — same precedent and
    // GramCache-tracked lifecycle as the ngramJaccardPairs projection
    val occ = GramCache.persistTracked(
      df.select(col(idCol).as("id"),
          posexplode(graft.functions.NgramShingles.ngramsPositional(
            col(textCol), k)))
        .select(col("id"), col("pos"),
          (if (hashGrams) xxhash64(col("col")) else col("col")).as("g")))
    // corpus-frequency table; duplicated = total occurrences >= 2
    val dupG = occ.groupBy("g").agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= 2).select("g")
    val dupPos = occ.join(dupG, "g").select("id", "pos")
    // union of [pos, pos+k) intervals per doc: sorted starts each
    // contribute min(k, nextStart - start); the last contributes k
    val w = Window.partitionBy("id").orderBy("pos")
    val covered = dupPos
      .withColumn("contrib", least(lit(k.toLong),
        coalesce(lead(col("pos"), 1).over(w) - col("pos"),
          lit(k.toLong))))
      .groupBy("id").agg(count(lit(1)).as("n_dup_starts"),
        sum("contrib").as("covered_tokens"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), " ")).cast("bigint").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)) /
          greatest(col("n_tokens"), lit(1L)), 4).as("dup_coverage"))
  }
}
