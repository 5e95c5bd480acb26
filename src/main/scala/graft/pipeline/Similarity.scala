package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`): brute-force cosine top-k as the exact baseline /
  * audit path, and random-hyperplane LSH bucketing as the scale path
  * (candidates from bucket collisions, exact cosine on candidates,
  * recall measured against the baseline in tests).
  *
  * All arithmetic stays in codegen'd HOF expressions (`zip_with` dot
  * products, `aggregate` folds) — no UDFs, so Catalyst prunes to the
  * id+vector columns at the scan. The brute path is O(n²) pairs and
  * exists for correctness; the LSH path joins only within buckets,
  * turning the cross join into |bucket|²-bounded work.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in element order (deterministic, matches sequential
    * summation on the oracle side). Codegen'd custom Expression — the
    * HOF form (`aggregate(zip_with(...))`) is interpreted per element
    * and ~10x slower in the ANN inner loop. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** exact cosine top-k per vector (brute force; audit/baseline path).
    * Deterministic total order: score desc, then neighbor id asc.
    *
    * The PAIR GENERATION stays the exact O(n²) join (that is the
    * audit's point); the RANKING runs as the bounded
    * [[graft.functions.TopKNeighbors]] aggregate — the n² candidate
    * rows were the query's largest exchange (the rank window shuffled
    * and sorted every pair; the aggregate's exchange carries ≤ k rows
    * per (id, map task)). Order parity with the window form —
    * (cosine desc nulls-last, neighbor asc), NaN-greatest, signed zero
    * collapsed — is the aggregate's audited contract; PipelineSpec
    * pins row-identity with the window form, and the DuckDB oracle
    * replays `row_number()` independently either way. */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
                 k: Int = 3): DataFrame =
    rankTopK(cosineAllPairs(df, idCol, vecCol), k)

  /** all (id, neighbor, cosine) pairs, id ≠ neighbor — the exact
    * candidate generator of [[cosineTopK]] and of its window-ranked
    * test twin. */
  private[graft] def cosineAllPairs(df: DataFrame, idCol: String,
                                    vecCol: String): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    v.as("a").join(v.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("neighbor"),
        (dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
          .as("cosine"))
  }

  /** embedding-cosine near-duplicate pairs: all (a < b) pairs with
    * cosine >= threshold — the exact audit path for embedding dedup
    * (LSH-bucket the vectors via [[lshTopK]]'s machinery at scale). */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Seeded Lloyd k-means over a bounded sample — the coarse quantizer
    * trainer for [[ivfTopK]]. Driver-side over at most `sampleN` vectors
    * (deterministic: lowest-id sample, seeded init), so training cost is
    * bounded regardless of corpus size; the resulting centroids ship to
    * executors as one codegen reference object (see
    * [[graft.functions.IvfTopBuckets]]). Uses spherical k-means
    * (normalize + maximize dot) to match the cosine metric of the
    * rerank stage.
    *
    * `k` is clamped to the training-sample size (≤ `sampleN`): you
    * cannot train more centroids than sample vectors, so tiny corpora
    * get n centroids. [[ivfTopK]] auto-scales `sampleN` with the
    * centroid count (see [[effectiveSampleN]]) so the clamp only fires
    * on corpora genuinely smaller than the request; when it does fire
    * on a big corpus it logs a warning instead of silently degrading
    * bucket balance. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 8, sampleN: Int = 10000,
                      seed: Long = 42): Array[Array[Double]] = {
    val sample = df.orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    if (sample.isEmpty) return Array.empty
    val kk = math.min(k, sample.length)
    if (kk < k && sample.length == sampleN)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"k-means sample ($sampleN) smaller than requested k=$k: " +
          s"training $kk centroids — raise sampleN for full resolution")
    val xs = sample.map(normalizeV)
    lloydLocal(xs, kmeansPlusPlusInit(xs, kk, seed), iters)
  }

  private[graft] def normalizeV(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  private[graft] def dotV(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }; s
  }

  /** seeded k-means++ init over an in-memory normalized sample:
    * running min-distance per sample so init is O(sampleN · k · dim),
    * not O(sampleN · k² · dim). Inherently sequential across the k
    * draws (each depends on all previous centroids), so it needs the
    * sample on the driver — [[kmeansCentroidsDistributed]] uses
    * [[hashRankInit]] instead, which doesn't. */
  private[graft] def kmeansPlusPlusInit(xs: Array[Array[Double]],
      kk: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val cents = new Array[Array[Double]](kk)
    cents(0) = xs(rnd.nextInt(xs.length))
    val minD2 = xs.map(x => math.max(1.0 - dotV(cents(0), x), 1e-12))
    var nc = 1
    while (nc < kk) {
      val total = minD2.sum
      var r = rnd.nextDouble() * total; var i = 0
      while (i < xs.length - 1 && r > minD2(i)) { r -= minD2(i); i += 1 }
      cents(nc) = xs(i)
      val cNew = cents(nc)
      // per-element min update: elements are independent, so chunks
      // write disjoint ranges — parallel AND bit-identical
      parChunks(xs.length) { (s, e) =>
        var j = s
        while (j < e) {
          val d = math.max(1.0 - dotV(cNew, xs(j)), 1e-12)
          if (d < minD2(j)) minD2(j) = d
          j += 1
        }
      }
      nc += 1
    }
    cents
  }

  /** Lloyd refinement over an in-memory normalized sample — the
    * driver-side engine. The O(sampleN·kk·dim) ASSIGNMENT runs in
    * parallel chunks (independent per sample, disjoint writes); the FP
    * ACCUMULATION is per-[[trainChunk]] subtotals in sample order
    * combined per centroid in chunk order — the exact operation tree
    * [[lloydDistributed]] executes on a cluster, so the two engines
    * are BIT-IDENTICAL from the same init (pinned in PipelineSpec) and
    * neither depends on thread count, partition count, or cluster
    * size. */
  private[graft] def lloydLocal(xs: Array[Array[Double]],
      init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    if (xs.isEmpty || init.isEmpty) return init
    val dim = xs.head.length
    val kk = init.length
    var cur = init
    val assign = new Array[Int](xs.length)
    (0 until iters).foreach { _ =>
      val cs = cur
      parChunks(xs.length) { (s, e) =>
        var xi = s
        while (xi < e) {
          val x = xs(xi)
          var best = 0; var bestS = Double.NegativeInfinity; var ci = 0
          while (ci < kk) {
            val sc = dotV(cs(ci), x)
            if (sc > bestS) { bestS = sc; best = ci }
            ci += 1
          }
          assign(xi) = best
          xi += 1
        }
      }
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      var cst = 0
      while (cst < xs.length) {
        val cen = math.min(xs.length, cst + trainChunk)
        // chunk subtotal in sample order, folded into the global
        // per-centroid total in chunk order — matches the distributed
        // engine's per-chunk partials + chunkId-ordered combine
        val sub = new java.util.HashMap[Integer, Array[Double]]()
        var xi = cst
        while (xi < cen) {
          val x = xs(xi); val best = assign(xi)
          counts(best) += 1
          var acc = sub.get(best)
          if (acc == null) { acc = new Array[Double](dim); sub.put(best, acc) }
          var d = 0
          while (d < dim) { acc(d) += x(d); d += 1 }
          xi += 1
        }
        val it = sub.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val tgt = sums(e.getKey); val src = e.getValue
          var d = 0
          while (d < dim) { tgt(d) += src(d); d += 1 }
        }
        cst = cen
      }
      cur = cur.zipWithIndex.map { case (old, ci) =>
        if (counts(ci) == 0) old
        else normalizeV(sums(ci).map(_ / counts(ci)))
      }
    }
    cur
  }

  /** fixed-size chunking over [0, n) executed on the driver's
    * ForkJoin common pool. Chunk boundaries depend only on `n`, and
    * callers either write disjoint ranges or combine per-sample
    * results sequentially afterwards — so results never depend on the
    * driver's core count (parallelism changes WHO runs a chunk, never
    * an accumulation order). `trainChunk` is ALSO the accumulation
    * granularity both Lloyd engines share — changing it changes
    * trained low bits, so it is a single constant, not a knob. */
  private val trainChunk = 2048
  private def parChunks(n: Int)(f: (Int, Int) => Unit): Unit = {
    java.util.stream.IntStream
      .range(0, (n + trainChunk - 1) / trainChunk).parallel()
      .forEach(c => f(c * trainChunk, math.min(n, (c + 1) * trainChunk)))
  }

  /** routes a sample index to the partition owning its accumulation
    * chunk — whole chunks per partition, so per-chunk subtotals are
    * never split across tasks (splitting would change the FP
    * operation tree). Placement (which partition owns a chunk) is
    * irrelevant to results; only chunk INTEGRITY matters. */
  private class ChunkPartitioner(p: Int, chunk: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = p
    override def getPartition(key: Any): Int =
      ((key.asInstanceOf[Long] / chunk) % p).toInt
  }

  /** splitmix64 — the seeded uniform draw behind [[hashRankInit]]'s
    * rank order. Pure function of (seed, sidx): deterministic across
    * cluster sizes and runs. */
  private def mix64(seed: Long, x: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L * (x + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic distributed training sample: the `sampleN`
    * lowest-id rows as an RDD of (sidx, L2-normalized vector), where
    * sidx is the rank in id order and partitions hold whole
    * accumulation chunks sorted by sidx. The only driver-side
    * materialization is the id THRESHOLD probe (ids only — 8 bytes ×
    * sampleN at worst, executor-side bounded sort); the vectors
    * themselves never leave the executors. Ids must be unique (ties
    * at the threshold would over-admit). */
  private[graft] def sampleFrame(df: DataFrame, idCol: String,
      vecCol: String, sampleN: Int)
      : org.apache.spark.rdd.RDD[(Long, Array[Double])] = {
    val projected = df
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
    val thrRow = projected.select("id").orderBy("id").limit(sampleN)
      .agg(max(col("id")).as("thr")).collect()(0)
    if (thrRow.isNullAt(0))
      return df.sparkSession.sparkContext
        .emptyRDD[(Long, Array[Double])]
    val within = projected.where(col("id") <= lit(thrRow.get(0)))
    // global rank via sort + zipWithIndex: range partitions ascend and
    // sortWithinPartitions orders within, so index ≡ rank in id order
    // regardless of where the range boundaries fall (ids are unique)
    val sorted = within.repartitionByRange(col("id"))
      .sortWithinPartitions("id")
    val p = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    sorted.rdd.zipWithIndex().map { case (row, sidx) =>
      (sidx, normalizeV(row.getSeq[Double](1).toArray))
    }.repartitionAndSortWithinPartitions(
      new ChunkPartitioner(p, trainChunk))
  }

  /** seeded hash-ranked uniform init: the kk sample vectors with the
    * smallest (splitmix64(seed, sidx), sidx) — a deterministic
    * without-replacement uniform draw computed with bounded
    * executor-side heaps (`takeOrdered`), collecting only the kk init
    * vectors. This is the standard IVF trainer init at large nc
    * (uniform subsample + Lloyd); k-means++ needs the whole sample on
    * the driver and k sequential passes, which is exactly what the
    * distributed trainer exists to avoid. */
  private[graft] def hashRankInit(
      sample: org.apache.spark.rdd.RDD[(Long, Array[Double])],
      kk: Int, seed: Long): Array[Array[Double]] =
    sample.map { case (sidx, v) => ((mix64(seed, sidx), sidx), v) }
      .takeOrdered(kk)(Ordering.by(_._1))
      .map(_._2)

  /** Lloyd refinement on EXECUTORS — the scale engine behind
    * [[kmeansCentroidsDistributed]]. Per iteration: broadcast the
    * current centroids; one mapPartitions pass assigns each sample to
    * its best centroid and emits per-[[trainChunk]] sparse subtotals
    * (accumulated in sidx order within the chunk — partitions are
    * chunk-aligned and pre-sorted by [[sampleFrame]], so this
    * streams); one shuffle groups partials by centroid and folds them
    * in chunkId order; the driver collects only the kk×dim result.
    * The operation tree — chunk subtotals in sample order, combined
    * per centroid in chunk order — is exactly [[lloydLocal]]'s, so
    * the engines are bit-identical from the same init and the output
    * never depends on cluster size, partition placement, or task
    * order. */
  private[graft] def lloydDistributed(
      sample: org.apache.spark.rdd.RDD[(Long, Array[Double])],
      init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    if (init.isEmpty) return init
    val sc = sample.sparkContext
    val kk = init.length
    val dim = init.head.length
    var cur = init
    (0 until iters).foreach { _ =>
      val bc = sc.broadcast(cur)
      // TRUE streaming: one chunk's partials in memory at a time — a
      // partition owns many chunks at scale (sampleN/trainChunk/p can
      // be hundreds), and buffering every chunk's sparse partials
      // before returning would hold partition-sized state per task
      val partials = sample.mapPartitions { it =>
        val cs = bc.value
        val buf = it.buffered
        new Iterator[(Int, (Long, Long, Array[Double]))] {
          private var pending
              : Iterator[(Int, (Long, Long, Array[Double]))] =
            Iterator.empty
          override def hasNext: Boolean = {
            while (!pending.hasNext && buf.hasNext) {
              // consume exactly ONE chunk (rows arrive sorted by sidx,
              // chunks whole per partition) and emit its partials
              val chunkId = buf.head._1 / trainChunk
              val sub = new java.util.HashMap[Integer, Array[Double]]()
              val cnt = new java.util.HashMap[Integer, Long]()
              while (buf.hasNext && buf.head._1 / trainChunk == chunkId) {
                val x = buf.next()._2
                var best = 0
                var bestS = Double.NegativeInfinity
                var ci = 0
                while (ci < kk) {
                  val sc2 = dotV(cs(ci), x)
                  if (sc2 > bestS) { bestS = sc2; best = ci }
                  ci += 1
                }
                var acc = sub.get(best)
                if (acc == null) {
                  acc = new Array[Double](dim); sub.put(best, acc)
                  cnt.put(best, 0L)
                }
                cnt.put(best, cnt.get(best) + 1)
                var d = 0
                while (d < dim) { acc(d) += x(d); d += 1 }
              }
              val out =
                Seq.newBuilder[(Int, (Long, Long, Array[Double]))]
              val e = sub.entrySet().iterator()
              while (e.hasNext) {
                val en = e.next()
                out += ((en.getKey.intValue(),
                  (chunkId, cnt.get(en.getKey), en.getValue)))
              }
              pending = out.result().iterator
            }
            pending.hasNext
          }
          override def next(): (Int, (Long, Long, Array[Double])) = {
            if (!hasNext) throw new NoSuchElementException
            pending.next()
          }
        }
      }
      val totals = partials.groupByKey(math.max(1, sc.defaultParallelism))
        .mapValues { chunks =>
          val ordered = chunks.toArray.sortBy(_._1)
          val sum = new Array[Double](dim)
          var count = 0L
          ordered.foreach { case (_, c, sub) =>
            count += c
            var d = 0
            while (d < dim) { sum(d) += sub(d); d += 1 }
          }
          (count, sum)
        }
        .collect().toMap
      bc.destroy()
      cur = cur.zipWithIndex.map { case (old, ci) =>
        totals.get(ci) match {
          case Some((count, sum)) if count > 0 =>
            normalizeV(sum.map(_ / count))
          case _ => old
        }
      }
    }
    cur
  }

  /** [[kmeansCentroids]]'s executor-side twin — same spherical Lloyd
    * semantics, same bounded lowest-id sample, but the sample is never
    * materialized on the driver: training state held driver-side is
    * only the kk×dim centroid matrix (collected per iteration and
    * broadcast back). Init is [[hashRankInit]] (seeded uniform) rather
    * than k-means++ — the inherently-sequential-over-k init is the
    * one piece that cannot ship to executors cheaply; at the large
    * centroid counts this path exists for (nc ≥ 10³, where √n default
    * meets 10⁶⁺-row corpora), uniform init + Lloyd is the standard
    * IVF trainer recipe and recall parity is pinned in PipelineSpec.
    * From the SAME init, the refinement itself is bit-identical to
    * the driver engine (also pinned). */
  def kmeansCentroidsDistributed(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int = 8, sampleN: Int = 10000,
      seed: Long = 42): Array[Array[Double]] = {
    val sample = sampleFrame(df, idCol, vecCol, sampleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = sample.count()
      // loud guard (round-6 advisor finding): sampleFrame's
      // deterministic-rank plumbing requires UNIQUE ids — duplicate
      // ids tie at the threshold and over-admit past sampleN, which
      // silently breaks the trainer's determinism guarantee. The
      // admitted count exceeding sampleN is the cheap detectable
      // symptom; fail fast instead of training on it.
      require(n <= sampleN,
        s"distributed k-means sample admitted $n rows > sampleN=" +
          s"$sampleN: duplicate ids at the threshold — the id column " +
          "must be unique for deterministic training")
      if (n == 0) return Array.empty
      val kk = math.min(k.toLong, n).toInt
      if (kk < k && n == sampleN)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"k-means sample ($sampleN) smaller than requested k=$k: " +
            s"training $kk centroids — raise sampleN for full resolution")
      lloydDistributed(sample, hashRankInit(sample, kk, seed), iters)
    } finally { sample.unpersist(); () }
  }

  /** IVF-style ANN: a coarse quantizer (seeded k-means over a bounded
    * sample — [[kmeansCentroids]]) assigns every vector to its best
    * centroid bucket; queries probe their `nProbe` best buckets and
    * exact-cosine-rerank only those candidates. Complements the
    * hyperplane-LSH path: IVF buckets adapt to the data distribution,
    * LSH needs no training pass. Pass `nCentroids <= 0` for the √n
    * heuristic (bucket join cost ~ n²/nCentroids·nProbe).
    * `stagingDir`, when set, persists the trained centroids as parquet
    * (cid, vec) so an external oracle can replay assignment + probe +
    * rerank from the same quantizer. */
  /** training-sample size that actually supports `nc` centroids:
    * ≥ 20 sample vectors per requested centroid, never below the
    * caller's floor. Without this, the √n centroid default silently
    * saturated at `sampleN` centroids past sampleN² (~10⁸) vectors —
    * degrading bucket balance exactly where IVF matters most. The
    * driver collect grows with the request (20·nc vectors), which is
    * the honest cost of training that many centroids; callers who
    * cannot afford it should lower nCentroids, not starve the trainer. */
  def effectiveSampleN(sampleN: Int, nc: Int): Int =
    math.max(sampleN, 20 * nc)

  /** above this centroid count [[ivfTopK]] trains on executors
    * ([[kmeansCentroidsDistributed]]): at the √n default, nc crosses
    * this near n ≈ 1.7·10⁷ rows, where the 20·nc-vector sample stops
    * being a sane driver collect. Below it, the driver engine's
    * k-means++ init is cheap and strictly better-conditioned. */
  val distributedTrainThreshold = 4096

  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int = 3,
              nCentroids: Int = 0, nProbe: Int = 3,
              stagingDir: Option[String] = None,
              sampleN: Int = 10000): DataFrame = {
    val nc =
      if (nCentroids > 0) nCentroids
      else math.max(4, math.ceil(math.sqrt(df.count().toDouble)).toInt)
    val effN = effectiveSampleN(sampleN, nc)
    val cents =
      if (nc > distributedTrainThreshold)
        kmeansCentroidsDistributed(df, idCol, vecCol, nc, sampleN = effN)
      else kmeansCentroids(df, idCol, vecCol, nc, sampleN = effN)
    stagingDir.foreach { dir => stageCentroids(df, cents, dir) }
    ivfTopKWithCentroids(df, idCol, vecCol, cents, k, nProbe)
  }

  /** persist trained centroids as (cid, vec) parquet so an external
    * oracle — or a later [[ivfTopKWithCentroids]] call — replays
    * assignment + probe + rerank from the same quantizer. */
  def stageCentroids(df: DataFrame, cents: Array[Array[Double]],
                     dir: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    cents.zipWithIndex.map { case (c, ci) => (ci, c.toSeq) }.toSeq
      .toDF("cid", "vec").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/ivf_centroids")
  }

  /** read back centroids staged by [[stageCentroids]]. */
  def readCentroids(df: DataFrame, dir: String): Array[Array[Double]] =
    df.sparkSession.read.parquet(s"$dir/ivf_centroids")
      .orderBy("cid").collect()
      .map(_.getSeq[Double](1).toArray)

  /** [[ivfTopK]] from an already-trained quantizer. */
  def ivfTopKWithCentroids(df: DataFrame, idCol: String, vecCol: String,
                           cents: Array[Array[Double]], k: Int,
                           nProbe: Int): DataFrame = {
    val n = vecSideCount(df)
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    // top-nProbe (score, centroid) per row, (s desc, c desc) — computed
    // by one codegen Expression carrying the centroid matrix as a
    // reference object, so neither the expression tree nor the generated
    // method grows with nCentroids (the literal-per-weight alternative
    // hits the 64KB Janino limit near 10³ centroids)
    def scores(vec: Column): Column =
      graft.functions.IvfTopBuckets.topBuckets(vec, cents, nProbe)
    val indexed = v.withColumn("bucket",
      element_at(scores(col("vec")), 1).getField("c"))
    val probes = v.select(col("id"), col("vec"), col("nrm"),
      explode(transform(scores(col("vec")),
        e => e.getField("c"))).as("bucket"))
    // (id, neighbor) pairs are unique BY CONSTRUCTION — no dedup
    // needed: every neighbor is indexed under exactly one bucket (its
    // top-1 centroid) and a query's nProbe probed buckets are distinct
    // centroid ids (IvfScorer emits each cid at most once), so a given
    // neighbor can meet a given query through at most one join key.
    // A dropDuplicates here would shuffle the whole candidate set —
    // the query's largest intermediate — for nothing.
    // broadcast gate (see [[hintVecSide]]): the indexed side is the
    // SMALLER one by construction (n rows vs n·nProbe probes) — left
    // to estimates the planner has broadcast the probes side instead
    val cand = probes.as("q").join(
        hintVecSide(indexed.select(col("id").as("neighbor"),
          col("vec").as("vb"), col("nrm").as("nb"), col("bucket")), n)
          .as("x"), Seq("bucket"))
      .where(col("id") =!= col("neighbor"))
      .select(col("id"), col("neighbor"),
        (dot(col("vec"), col("vb")) / (col("nrm") * col("nb")))
          .as("cosine"))
    rankTopK(cand, k)
  }

  /** (id, rank, neighbor, cosine) top-k per id over a candidate frame —
    * bounded [[graft.functions.TopKNeighbors]] aggregation instead of a
    * rank window, so the exchange carries ≤ k rows per (id, map task)
    * rather than every candidate (the window must shuffle + sort the
    * full candidate set per query). Total order — (cosine desc
    * nulls-last, neighbor asc) — is replicated exactly, so output is
    * row-identical to the `row_number` form and the DuckDB oracle's
    * `row_number()` replay still matches. The brute-force audit path
    * ([[cosineTopK]]) intentionally KEEPS its window so the two
    * rankings stay structurally independent checks of each other. */
  private def rankTopK(cand: DataFrame, k: Int): DataFrame =
    cand.groupBy("id")
      .agg(graft.functions.TopKNeighbors.topk(k)(
        col("cosine"), col("neighbor")).as("top"))
      .select(col("id"), posexplode(col("top")))
      .select(col("id"), (col("pos") + 1).as("rank"),
        col("col.neighbor").as("neighbor"), col("col.cosine").as("cosine"))

  /** deterministic random hyperplanes: nTables × nPlanes × dim weights
    * in {-1,+1} from a seeded driver-side PRNG; shipped to executors as
    * ONE codegen reference object (see [[graft.functions.LshBucketIds]]
    * — the per-plane literal-array form grew the plan with
    * log₂(n)·nTables·dim literals under [[autoPlanes]]). */
  private[graft] def planes(nTables: Int, nPlanes: Int, dim: Int,
                               seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nTables)(Array.fill(nPlanes)(
      Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)))
  }

  /** sign-bit bucket id of a vector under ONE table's hyperplanes,
    * composed from per-plane [[dot]] literals — kept as the
    * structurally independent audit twin of [[graft.functions
    * .LshBucketIds]] (a PipelineSpec case pins their equality). */
  private[graft] def bucketComposed(vec: Column,
      table: IndexedSeq[Array[Double]]): Column =
    table.zipWithIndex.map { case (w, i) =>
      val wLit = array(w.toSeq.map(lit): _*)
      when(dot(vec, wLit) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** LSH-bucketed ANN top-k: same output shape as [[cosineTopK]];
    * recall < 1 (measured in tests), cost bounded by bucket sizes.
    * `nPlanes` trades bucket granularity vs recall; `nTables` unions
    * independent bucketings to recover recall.
    *
    * Tuning: recall per table for angle θ is (1-θ/π)^nPlanes, so size
    * nPlanes ≈ log2(n / targetBucketSize) and recover recall with
    * nTables unions. Defaults favor moderate-similarity neighbors
    * (cos ≈ 0.5); for true near-duplicates (cos > 0.9) even
    * nPlanes = 16 keeps recall ≈ 1 with a handful of tables. */
  /** auto-sizing: nPlanes ≈ log2(n / targetBucket), so expected bucket
    * size — and with it the candidate-join cost n·bucketSize — stays
    * constant as n grows (the 100 TB knob; fixed nPlanes would let
    * buckets grow linearly with n). Public so callers staging bucket
    * assignments themselves ([[lshBuckets]]) can reproduce the default. */
  def autoPlanes(df: DataFrame, targetBucket: Double): Int = {
    val n = df.count().toDouble
    math.max(4, math.ceil(math.log(n / targetBucket) / math.log(2.0))
      .toInt)
  }

  /** (id, table, bucket) assignments under `nTables` independent
    * hyperplane sets — the stageable intermediate of [[lshTopK]] /
    * [[cosinePairsLsh]]: callers separating setup from measurement (or
    * feeding an external oracle) persist this once and hand the
    * read-back frame to the `FromBuckets` variants. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 dim: Int = 64, nPlanes: Int = 0, nTables: Int = 12,
                 seed: Long = 42, targetBucket: Double = 16.0)
      : DataFrame = {
    val np = if (nPlanes > 0) nPlanes else autoPlanes(df, targetBucket)
    val ps = planes(nTables, np, dim, seed)
    // all tables' bucket ids in one reference-object expression
    // (position in the output array IS the table id), posexploded to
    // the (id, t, b) shape the bucket joins key on
    df.select(col(idCol).as("id"),
        posexplode(graft.functions.LshBucketIds.buckets(col(vecCol), ps)))
      .select(col("id"), col("pos").as("t"), col("col").as("b"))
  }

  private def bucketAssignments(df: DataFrame, idCol: String,
                                vecCol: String, dim: Int, nPlanes: Int,
                                nTables: Int, seed: Long,
                                stagingDir: Option[String],
                                stageName: String): DataFrame = {
    val bucketed0 =
      lshBuckets(df, idCol, vecCol, dim, nPlanes, nTables, seed)
    // staged at natural parallelism: a coalesce(1) here wouldn't just
    // serialize the write, it collapses the UPSTREAM hyperplane scoring
    // into one task (coalesce propagates up — no shuffle boundary);
    // the bytes are deterministic per row regardless of file count
    stagingDir.map { dir =>
      bucketed0.write.mode("overwrite").parquet(s"$dir/$stageName")
      df.sparkSession.read.parquet(s"$dir/$stageName")
    }.getOrElse(bucketed0)
  }

  /** `nPlanes <= 0` → auto-sized (see [[autoPlanes]], target ≈ 4·k). */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int = 3,
              dim: Int = 64, nPlanes: Int = 0, nTables: Int = 12,
              seed: Long = 42, stagingDir: Option[String] = None)
      : DataFrame = {
    val np = if (nPlanes > 0) nPlanes else autoPlanes(df, 4.0 * k)
    val bucketed = bucketAssignments(df, idCol, vecCol, dim, np,
      nTables, seed, stagingDir, "lsh_buckets")
    lshTopKFromBuckets(df, idCol, vecCol, bucketed, k)
  }

  /** Broadcast gate for the vector-attach joins of the bucketed
    * candidate paths (round 6, guide §3.1): the vector side has
    * exactly n rows while the candidate stream multiplies by bucket
    * occupancy — a shuffled join ships every candidate row's attached
    * vector through the SECOND join's exchange (measured 609 MB at the
    * 30× replica for ann_lsh, with two sort-merge sorts of the wide
    * stream), where a broadcast of the n-row side ships it once per
    * executor. Catalyst's 10 MB estimate threshold stops broadcasting
    * near ~40k vectors, far below what a 48 GB local driver (or any
    * production executor) holds comfortably. Gated on the actual row
    * count (a parquet-metadata-cheap job for file-scan inputs — NOTE
    * this makes query CONSTRUCTION run one Spark job; callers
    * composing over expensive derived frames, or plan-only tooling,
    * can set GRAFT_BROADCAST_VEC_MAX_ROWS=0 to disable the gate,
    * which also skips the count entirely); above the cap the joins
    * stay shuffled — the correct 10⁹-vector shape. Sizing: vectors
    * may be array<double>, so 500k rows at dim=64 is ≈ 270 MB of
    * broadcast data (roughly 2× that as the built hash relation) —
    * within an ordinary executor; raise the cap only with the memory
    * to match. */
  private lazy val broadcastVecMaxRows: Long =
    graft.Knobs.envLong("GRAFT_BROADCAST_VEC_MAX_ROWS", 500000L)

  /** row count for the gate, or MaxValue (= never broadcast, and no
    * count job) when the gate is disabled. */
  private def vecSideCount(df: DataFrame): Long =
    if (broadcastVecMaxRows <= 0) Long.MaxValue else df.count()

  private def hintVecSide(v: DataFrame, nRows: Long): DataFrame =
    if (nRows <= broadcastVecMaxRows) broadcast(v) else v

  /** [[lshTopK]] from pre-staged bucket assignments (id, t, b). */
  def lshTopKFromBuckets(df: DataFrame, idCol: String, vecCol: String,
                         bucketed: DataFrame, k: Int): DataFrame = {
    val n = vecSideCount(df)
    val v = hintVecSide(df.select(col(idCol).as("id"),
      col(vecCol).as("vec"), norm(col(vecCol)).as("nrm")), n)
    // candidate pairs are deduped NARROW (ids only) before vectors are
    // re-attached — carrying vectors through the nTables-way bucket join
    // and deduping wide rows shuffles dim×nTables more bytes
    val cand = bucketed.as("x").join(bucketed.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id"), col("y.id").as("neighbor"))
      .distinct()
    val scored = cand
      .join(v.select(col("id"), col("vec").as("va"), col("nrm").as("na")),
        "id")
      .join(v.select(col("id").as("neighbor"), col("vec").as("vb"),
        col("nrm").as("nb")), "neighbor")
      .select(col("id"), col("neighbor"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
    rankTopK(scored, k)
  }

  /** LSH-bucketed embedding near-duplicate PAIRS — the scale path for
    * [[cosinePairs]] (which is an exact O(n²) audit join): candidates
    * from bucket collisions, exact cosine verify, so precision is exact
    * and only recall depends on (nPlanes, nTables). For true near-dups
    * (cos ≥ ~0.9) hyperplane collision probability per table is
    * (1 - θ/π)^nPlanes ≈ 0.9^nPlanes, recovered across `nTables`
    * unions — recall ≈ 1 at the defaults. */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, dim: Int = 64, nPlanes: Int = 0,
                     nTables: Int = 12, seed: Long = 42,
                     stagingDir: Option[String] = None): DataFrame = {
    val np = if (nPlanes > 0) nPlanes else autoPlanes(df, 16.0)
    val bucketed = bucketAssignments(df, idCol, vecCol, dim, np,
      nTables, seed, stagingDir, "lsh_pair_buckets")
    cosinePairsLshFromBuckets(df, idCol, vecCol, bucketed, threshold)
  }

  /** [[cosinePairsLsh]] from pre-staged bucket assignments. */
  def cosinePairsLshFromBuckets(df: DataFrame, idCol: String,
                                vecCol: String, bucketed: DataFrame,
                                threshold: Double): DataFrame = {
    val n = vecSideCount(df)
    val v = hintVecSide(df.select(col(idCol).as("id"),
      col(vecCol).as("vec"), norm(col(vecCol)).as("nrm")), n)
    val cand = bucketed.as("x").join(bucketed.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(v.select(col("id").as("id_a"), col("vec").as("va"),
        col("nrm").as("na")), "id_a")
      .join(v.select(col("id").as("id_b"), col("vec").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }
}
