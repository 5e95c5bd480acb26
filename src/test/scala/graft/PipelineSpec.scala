package graft

import graft.pipeline._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline-operator tests: LSH recall vs exact baselines, simhash
  * self-similarity, multimodal plumbing determinism. */
class PipelineSpec extends SparkTestBase {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("minhash LSH finds every exact Jaccard>=0.8 pair (recall=1 here)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0),
        r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3,
      numHashes = 64, bands = 16, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0),
        r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain near-dup pairs")
    // precision is exact by construction (verify step); recall at
    // J>=0.8 with b=16,r=4 is ~1 - (1-0.8^4)^16 ≈ 0.9998
    assert(exact.subsetOf(lsh) || (exact -- lsh).size <= exact.size / 10,
      s"LSH missed too many: ${(exact -- lsh).size} of ${exact.size}")
    assert(lsh.subsetOf(exact), "LSH emitted a pair below threshold")
  }

  test("simhash: near-dup docs collide within small Hamming distance") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect()
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0),
        r.getLong(1))).toSet
    val simSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    // high-Jaccard pairs should mostly be simhash-close
    val hit = exact.count(simSet.contains)
    assert(hit >= exact.size / 2,
      s"simhash captured $hit of ${exact.size} J>=0.9 pairs")
  }

  test("simhash128: captures high-Jaccard pairs; 64-bit pairs subset " +
       "of looser capture") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0),
        r.getLong(1))).toSet
    val p128 = Dedup.simhashPairs128(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same capture property as the 64-bit scheme, on a wider signature
    val hit = exact.count(p128.contains)
    assert(hit >= exact.size / 2,
      s"simhash128 captured $hit of ${exact.size} J>=0.9 pairs")
    // hamming column consistent with the two-half signature
    val withH = Dedup.simhashPairs128(docs, "doc_id", "text", 3)
      .collect()
    assert(withH.forall(_.getAs[Int]("hamming") <= 3))
  }

  test("LSH ANN: recall@3 vs brute-force baseline >= 0.6") {
    val truth = Similarity.cosineTopK(emb, "vec_id", "embedding", 3)
      .select("id", "neighbor").collect()
      .map(r => (r.getAs[Any]("id"), r.getAs[Any]("neighbor"))).toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", 3,
      dim = 64, nPlanes = 5, nTables = 12)
      .select("id", "neighbor").collect()
      .map(r => (r.getAs[Any]("id"), r.getAs[Any]("neighbor"))).toSet
    val recall = truth.count(approx.contains).toDouble / truth.size
    // neighbors in this dataset are only moderately similar (cos ≈ 0.5)
    // — the hard regime for hyperplane LSH; near-dup recall is ≈ 1
    assert(recall >= 0.55, s"ANN recall@3 = $recall")
  }

  test("IVF ANN: recall@3 vs brute-force baseline") {
    val truth = Similarity.cosineTopK(emb, "vec_id", "embedding", 3)
      .select("id", "neighbor").collect()
      .map(r => (r.getAs[Any]("id"), r.getAs[Any]("neighbor"))).toSet
    val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", 3,
      nCentroids = 12, nProbe = 5)
      .select("id", "neighbor").collect()
      .map(r => (r.getAs[Any]("id"), r.getAs[Any]("neighbor"))).toSet
    val recall = truth.count(approx.contains).toDouble / truth.size
    // weakly-clustered embeddings (top neighbors only cos ~0.5) are the
    // hard regime for any ANN; probing 5/12 of the space roughly doubles
    // random-candidate recall via the quantizer's clustering advantage
    assert(recall >= 0.5, s"IVF recall@3 = $recall")
  }

  test("IVF at scale: k-means quantizer recall@3 >= 0.9 on clustered " +
       "vectors; bucket sizes stay balanced") {
    // 50k vectors in 200 latent clusters (the regime IVF exists for) —
    // deterministic generation via xxhash-based pseudo-noise
    import org.apache.spark.sql.functions._
    val n = 50000L; val dim = 16; val nClusters = 200
    val base = spark.range(0, n, 1, 8)
      .withColumn("c", pmod(xxhash64(col("id"), lit(1)), lit(nClusters)))
    val vec = array((0 until dim).map(d =>
      (pmod(xxhash64(col("c"), lit(d + 10)), lit(1000)) / lit(500.0) - 1.0
        + (pmod(xxhash64(col("id"), lit(d + 50)), lit(1000)) / lit(5000.0)
          - 0.1)).cast("float")): _*)
    val df = base.select(col("id").as("vec_id"), vec.as("embedding"))
      .cache()
    df.count()
    val approx = Similarity.ivfTopK(df, "vec_id", "embedding", k = 3,
      nCentroids = 0, nProbe = 5) // √n heuristic → ~224 centroids
      .select("id", "neighbor")
    // ground truth for a 100-query sample: brute-force against the full
    // corpus (sampled so the O(n²) baseline stays test-sized)
    val queries = df.where(pmod(col("vec_id"), lit(500L)) === 0) // 100
    val truth = queries.as("a").join(df.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("id"), col("b.vec_id").as("neighbor"),
        (Similarity.dot(col("a.embedding"), col("b.embedding")) /
          (Similarity.norm(col("a.embedding")) *
            Similarity.norm(col("b.embedding")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("cosine").desc, col("neighbor").asc)
    val truthSet = truth.withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(w))
      .where(col("rank") <= 3).select("id", "neighbor")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qIds = truthSet.map(_._1)
    val approxSet = approx.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truthSet.count(approxSet.contains).toDouble /
      truthSet.size
    assert(recall >= 0.9, s"IVF recall@3 on clustered data = $recall")
    assert(qIds.nonEmpty)
    // the executor-side trainer must reach the same recall bar from
    // its hash-ranked uniform init (same corpus, same truth set) —
    // the quality pin for the nc>threshold auto-switch in ivfTopK
    val centsD = Similarity.kmeansCentroidsDistributed(df, "vec_id",
      "embedding", k = 224, sampleN = 10000)
    val approxD = Similarity.ivfTopKWithCentroids(df, "vec_id",
        "embedding", centsD, k = 3, nProbe = 5)
      .select("id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallD = truthSet.count(approxD.contains).toDouble /
      truthSet.size
    assert(recallD >= 0.9,
      s"distributed-trained IVF recall@3 = $recallD (driver $recall)")
    // bucket balance: trained quantizer must not degenerate — max
    // bucket bounded by a small multiple of the mean assignment
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding", 224)
    val scoreStructs = array(cents.zipWithIndex.map { case (cw, ci) =>
      struct(Similarity.dot(col("embedding"),
        array(cw.map(lit): _*)).as("s"), lit(ci).as("c")) }: _*)
    val bucketCol = element_at(reverse(array_sort(scoreStructs)), 1)
      .getField("c")
    val sizes = df.select(bucketCol.as("b")).groupBy("b").count()
      .collect().map(_.getLong(1))
    val mean = n.toDouble / 224
    assert(sizes.max <= 20 * mean,
      s"degenerate quantizer: max bucket ${sizes.max} vs mean $mean")
    df.unpersist()
  }

  test("IvfTopBuckets expression ≡ literal-array scoring (incl. tie " +
       "order); tiny corpus clamps the quantizer instead of throwing") {
    import org.apache.spark.sql.Row
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 12)
    // the composable form the expression replaced — valid only at small
    // nCentroids (literal nodes grow as nCentroids × dim)
    val litForm = slice(reverse(array_sort(
      array(cents.zipWithIndex.map { case (w, ci) =>
        struct(Similarity.dot(col("embedding"),
          array(w.map(lit): _*)).as("s"), lit(ci).as("c")) }: _*))), 1, 5)
    val exprForm = graft.functions.IvfTopBuckets.topBuckets(
      col("embedding"), cents, 5)
    emb.select(litForm.as("a"), exprForm.as("b")).collect().foreach { r =>
      assert(r.getSeq[Row](0) == r.getSeq[Row](1),
        s"expression diverged from literal scoring: $r")
    }
    // n < default minimum centroids: √n heuristic used to hit the
    // kmeans require(); now clamps k to the corpus size
    val tiny = emb.orderBy("vec_id").limit(3).cache()
    val out = Similarity.ivfTopK(tiny, "vec_id", "embedding", k = 2,
      nCentroids = 0, nProbe = 2).collect()
    assert(out.forall(_.getAs[Int]("rank") <= 2))
    tiny.unpersist()
  }

  test("IVF survives nCentroids >= 1000 (reference-object centroids — " +
       "the literal form overflowed 64KB codegen here)") {
    val n = 5000L; val dim = 8
    val vec = array((0 until dim).map(d =>
      (pmod(xxhash64(col("id"), lit(d)), lit(1000)) / lit(500.0) - 1.0)
        .cast("float")): _*)
    val df = spark.range(0, n, 1, 8)
      .select(col("id").as("vec_id"), vec.as("embedding")).cache()
    df.count()
    val out = Similarity.ivfTopK(df, "vec_id", "embedding", k = 3,
      nCentroids = 1200, nProbe = 3, sampleN = 2000)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("rank") <= 3))
    df.unpersist()
  }

  test("IVF training sample auto-scales with the centroid request " +
       "(≥20 vectors per centroid) instead of silently clamping at " +
       "the sampleN default") {
    // pure policy: the floor holds, the request scales past it
    assert(Similarity.effectiveSampleN(10000, 100) == 10000)
    assert(Similarity.effectiveSampleN(10000, 500) == 10000)
    assert(Similarity.effectiveSampleN(10000, 50000) == 1000000)
    // end-to-end: a centroid request ABOVE the caller's sampleN still
    // trains the full complement (pre-fix: 100-vector sample → 100
    // centroids for a 600-centroid request)
    val dim = 4
    val vec = array((0 until dim).map(d =>
      (pmod(xxhash64(col("id"), lit(d)), lit(1000)) / lit(500.0) - 1.0)
        .cast("float")): _*)
    val df = spark.range(0, 3000, 1, 4)
      .select(col("id").as("vec_id"), vec.as("embedding"))
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding",
      k = 600, sampleN = Similarity.effectiveSampleN(100, 600))
    assert(cents.length == 600)
    assert(cents.map(_.toSeq).distinct.length == 600,
      "duplicate centroids — the trainer starved")
  }

  test("minhash-LSH oracle precondition: recall == 1 on the driver " +
       "dataset (sf0.01)") {
    // the driver's dedup_minhash_lsh oracle asserts LSH == exact join;
    // that equality requires recall exactly 1 on THAT data. This pins
    // the precondition so a future data/seed/hash change fails here
    // (with a clear message) instead of mysteriously in the driver.
    val d01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(d01, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(d01, "doc_id", "text", 3,
      numHashes = 64, bands = 16, threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact,
      "minhash recall != 1 on sf0.01 — demote the dedup_minhash_lsh " +
        s"oracle to rows-only (missed: ${(exact -- lsh).size})")
  }

  test("LSH pair dedup: exact precision; recall vs the cartesian join") {
    val exact = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b").collect()
      .map(r => (r.getAs[Any](0), r.getAs[Any](1))).toSet
    val lsh = Similarity.cosinePairsLsh(emb, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b").collect()
      .map(r => (r.getAs[Any](0), r.getAs[Any](1))).toSet
    assert(exact.nonEmpty)
    // precision exact by construction (threshold verify on candidates)
    assert(lsh.subsetOf(exact), "LSH emitted a pair below threshold")
    // cos >= 0.45 is the HARD regime for hyperplane LSH (collision
    // probability ~0.52/plane); still expect a solid majority
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.5, s"LSH pair recall = $recall")
  }

  test("exact dedup groups events records") {
    val events = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
    val d = Dedup.exact(events, Seq("event_type", "props"), "event_id")
    assert(d.count() > 0)
    assert(d.where(col("n_dups") <= 1).count() == 0)
  }

  test("multimodal: decode is deterministic, schema typed, batched; " +
       "PNG/JPEG/WAV/MP4 fields are REAL (decoder ≡ header bytes)") {
    val media = gen.SpanGen.media(spark, 500)
    val a = Multimodal.extractFeatures(Multimodal.withPayload(media), 64)
      .orderBy("media_id").collect()
    val b = Multimodal.extractFeatures(Multimodal.withPayload(media), 7)
      .orderBy("media_id").collect()
    assert(a.length == 500)
    // batch size must not affect results (pure per-record decode)
    assert(a.zip(b).forall { case (x, y) =>
      x.media_id == y.media_id && x.width == y.width &&
        x.embedding.sameElements(y.embedding) })
    assert(a.forall(f => f.embedding.length == 8 && f.byte_len > 0))
    // all four mimes present and none on the stub formula's dimension
    // signature by accident: structural header parses follow
    assert(Set("image/png", "image/jpeg", "audio/wav", "video/mp4")
      .subsetOf(a.map(_.mime).toSet))
    val feats = a.map(f => f.media_id -> f).toMap
    val rows = Multimodal.withPayload(media).collect()
    def be(p: Array[Byte], off: Int, n: Int): Long =
      (0 until n).foldLeft(0L)((acc, i) => (acc << 8) | (p(off + i) & 0xffL))
    def le(p: Array[Byte], off: Int, n: Int): Long =
      (n - 1 to 0 by -1).foldLeft(0L)((acc, i) =>
        (acc << 8) | (p(off + i) & 0xffL))
    rows.foreach { r =>
      val p = r.getAs[Array[Byte]]("payload")
      val f = feats(r.getAs[String]("media_id"))
      r.getAs[String]("mime") match {
        case "image/png" =>
          // decoded dims ≡ IHDR fields (the DuckDB oracle's check)
          assert((p(0) & 0xff) == 0x89 && p(1) == 'P'.toByte, "not a PNG")
          assert(f.width == be(p, 16, 4) && f.height == be(p, 20, 4),
            s"${f.media_id}: ImageIO (${f.width}x${f.height}) != IHDR " +
              s"(${be(p, 16, 4)}x${be(p, 20, 4)})")
          assert(f.width >= 1 && f.width <= 48 && f.height >= 1 &&
            f.height <= 48)
        case "image/jpeg" =>
          // pin the writer's fixed marker prefix (SOI..2xDQT = 158
          // bytes) the oracle's fixed-offset SOF0 read relies on, then
          // decoded dims ≡ SOF0 fields
          assert((p(0) & 0xff) == 0xFF && (p(1) & 0xff) == 0xD8,
            "not a JPEG")
          assert((p(158) & 0xff) == 0xFF && (p(159) & 0xff) == 0xC0,
            s"${f.media_id}: SOF0 not at byte 158")
          assert(f.height == be(p, 163, 2) && f.width == be(p, 165, 2),
            s"${f.media_id}: ImageIO (${f.width}x${f.height}) != SOF0")
        case "audio/wav" =>
          // canonical RIFF: channels @22 LE, rate @24 LE, data size @40
          // LE; width = frames = dataSize/(2*channels), height = rate
          assert(new String(p, 0, 4, "US-ASCII") == "RIFF" &&
            new String(p, 36, 4, "US-ASCII") == "data", "not canonical WAV")
          val ch = le(p, 22, 2).toInt
          val rate = le(p, 24, 4).toInt
          val frames = (le(p, 40, 4) / (2 * ch)).toInt
          assert(f.width == frames && f.height == rate,
            s"${f.media_id}: AudioSystem (${f.width}, ${f.height}) != " +
              s"RIFF ($frames, $rate)")
          assert(ch >= 1 && ch <= 2 && f.embedding(1) > 0f) // peak > 0
        case "video/mp4" =>
          // canonical writer: mvhd duration BE @56 (timescale 1000),
          // tkhd 16.16 dims with integer halves BE @232/@236 — the
          // box WALKER must agree with the fixed offsets
          assert(new String(p, 4, 4, "US-ASCII") == "ftyp", "not MP4")
          val m = Multimodal.parseMp4(p).get
          assert(m.timescale == 1000 && m.durationMs == be(p, 56, 4),
            s"${f.media_id}: walker duration != mvhd bytes")
          assert(f.width == be(p, 232, 2) && f.height == be(p, 236, 2),
            s"${f.media_id}: walker dims != tkhd bytes")
          assert(f.embedding(0) == m.durationMs / 1000.0f)
        case _ => fail("unexpected mime")
      }
    }
  }

  test("multimodal: the decode scan prunes to (media_id, mime, payload) " +
       "across the object boundary — catalog width never reaches IO") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mm").toString
    // catalog wider than the decode needs: bytes + two extra columns
    Multimodal.withPayload(gen.SpanGen.media(spark, 50))
      .withColumn("source_url", concat(lit("s3://b/"), col("media_id")))
      .withColumn("crawl_ts", current_timestamp())
      .write.mode("overwrite").parquet(tmp)
    val plan = Multimodal.extractFeatures(spark.read.parquet(tmp))
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("media_id") && readSchema.contains("payload"))
    assert(!readSchema.contains("source_url") &&
      !readSchema.contains("crawl_ts") && !readSchema.contains("bytes"),
      s"scan reads pruned columns: $readSchema")
  }

  test("multimodal: withPayload passes catalog columns through and " +
       "tolerates unknown mimes; resizeImages drops undecodable rows " +
       "instead of failing the job") {
    import spark.implicits._
    val catalog = Seq(
      ("m-1", "image/png", "s3://bucket/m-1"),
      ("m-2", "application/x-custom", "s3://bucket/m-2"))
      .toDF("media_id", "mime", "source_url") // no 'bytes' column
    val out = Multimodal.withPayload(catalog).collect()
    assert(out.length == 2 &&
      out.forall(_.getAs[String]("source_url").startsWith("s3://")))
    assert(out.forall(_.getAs[Array[Byte]]("payload").nonEmpty))
    // a corrupt image payload is dropped by the resample stage, and a
    // valid sibling still comes through
    val mixed = Seq(
      ("ok", "image/png", Multimodal.pngPayload("ok")),
      ("bad", "image/png", Array[Byte](1, 2, 3)))
      .toDF("media_id", "mime", "payload")
    val resized = Multimodal.resizeImages(mixed, maxSide = 16).collect()
    assert(resized.map(_.media_id).toSeq == Seq("ok"))
  }

  test("multimodal: real image resample round-trips (dims re-decoded " +
       "from the re-encoded PNG equal the letterbox geometry)") {
    val media = Multimodal.withPayload(gen.SpanGen.media(spark, 300))
    val out = Multimodal.resizeImages(media, maxSide = 24)
      .orderBy("media_id").collect()
    val imgs = media.where(col("mime").isin("image/png", "image/jpeg"))
      .count()
    assert(out.length == imgs && out.nonEmpty)
    val orig = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    out.foreach { r =>
      val o = orig(r.media_id)
      val s = math.min(1.0, 24.0 / math.max(o.width, o.height))
      assert(r.width == math.max(1, (o.width * s).toInt) &&
        r.height == math.max(1, (o.height * s).toInt),
        s"${r.media_id}: resized ${r.width}x${r.height} != letterbox of " +
          s"${o.width}x${o.height}")
      // payload is a genuine PNG of exactly those dims
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      assert(img.getWidth == r.width && img.getHeight == r.height)
    }
  }

  test("langid marks language-less vocab docs deterministically") {
    val out = TextAnalysis.langId(docs, "doc_id", "text")
    assert(out.count() == docs.count())
    // vocab contains 'a' and 'the' → English stopwords dominate
    assert(out.where(col("lang_guess") === "en").count() > 0)
  }

  test("char-trigram langid scores planted languages correctly and " +
       "falls back to 'und'") {
    import spark.implicits._
    val planted = Seq(
      ("d1", "the thing and the other thing for his information"),
      ("d2", "der dichter und die einsicht durchsuchen einige"),
      ("d3", "les oiseaux des bois chantaient une chanson"),
      ("d4", "zzz qqq xxx")) // no profile trigram at all
      .toDF("doc_id", "text")
    val out = TextAnalysis.langIdTrigram(planted, "doc_id", "text")
      .collect().map(r => r.getAs[String]("id") ->
        r.getAs[String]("lang_guess")).toMap
    assert(out("d1") == "en" && out("d2") == "de" && out("d3") == "fr" &&
      out("d4") == "und", s"got $out")
    // deterministic over the generated corpus, counts non-negative
    val gen = TextAnalysis.langIdTrigram(docs, "doc_id", "text")
    assert(gen.count() == docs.count())
    assert(gen.where(col("tg_en") < 0).count() == 0)
  }

  test("multimodal: FrameDecoder is an injectable seam — a test " +
       "decoder's features flow end-to-end while the demuxed frame " +
       "count and pts stay mvhd-real") {
    val media = Multimodal.withPayload(graft.gen.SpanGen.media(spark, 30))
    val dflt = Multimodal.sampleFrames(media, everyMs = 1000).collect()
    val injected = Multimodal.sampleFrames(media, everyMs = 1000,
      PipelineSpecDecoders.PtsLenDecoder).collect()
    def key(f: Multimodal.Frame) = (f.media_id, f.frame_idx, f.pts_ms)
    // identical demux under either decoder: count/pts come from mvhd,
    // never from the pixel stage
    assert(dflt.map(key).toSet == injected.map(key).toSet)
    assert(injected.nonEmpty)
    injected.foreach { f =>
      assert(f.feature.length == 2 &&
        f.feature(0) == f.pts_ms.toFloat, s"injected decoder ignored: $f")
    }
    // the default (stub) decoder produces its own distinct shape —
    // proof the injection actually switched implementations
    assert(dflt.forall(_.feature.length == 4))
  }

  test("TopKNeighbors aggregation is row-identical to the rank window " +
       "it replaced (ties, NaN, signed zero, null scores, short groups)") {
    // adversarial candidate frame: every ordering edge the window's
    // (cosine desc nulls-last, neighbor asc) total order defines —
    //   id 1: plain descending scores, > k candidates
    //   id 2: all-tied scores (neighbor asc must decide), > k
    //   id 3: NaN + Infinity + null (NaN ranks above Inf, null last)
    //   id 4: -0.0 vs 0.0 tie (sort keys collapse signed zero)
    //   id 5: fewer than k candidates
    val cand = spark.sql(
      """SELECT id, CAST(neighbor AS BIGINT) AS neighbor,
        |       CAST(cosine AS DOUBLE) AS cosine FROM VALUES
        | (1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7), (1, 13, 0.6),
        | (2, 24, 0.5), (2, 21, 0.5), (2, 23, 0.5), (2, 22, 0.5),
        | (3, 31, double('NaN')), (3, 32, double('Infinity')),
        | (3, 33, CAST(NULL AS DOUBLE)), (3, 34, 1.0),
        | (4, 42, double('-0.0')), (4, 41, double('0.0')), (4, 43, -1.0),
        | (5, 51, 0.1)
        | AS t(id, neighbor, cosine)""".stripMargin)
    for (k <- Seq(1, 2, 3, 5)) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
        .orderBy(col("cosine").desc, col("neighbor").asc)
      val viaWindow = cand.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("id", "rank", "neighbor", "cosine")
        .orderBy("id", "rank").collect().toSeq
      val viaAgg = cand.groupBy("id")
        .agg(graft.functions.TopKNeighbors.topk(k)(
          col("cosine"), col("neighbor")).as("top"))
        .select(col("id"), posexplode(col("top")))
        .select(col("id"), (col("pos") + 1).as("rank"),
          col("col.neighbor").as("neighbor"), col("col.cosine").as("cosine"))
        .orderBy("id", "rank").collect().toSeq
      // compare renders: NaN == NaN under string compare (Seq equality
      // on raw doubles has NaN != NaN) while -0.0 still differs from 0.0
      assert(viaAgg.map(_.toString) == viaWindow.map(_.toString),
        s"k=$k diverged:\nagg   =$viaAgg\nwindow=$viaWindow")
      // round 6: topk routes to the native TypedImperativeAggregate —
      // pin it against the retained udaf(Aggregator) twin on the same
      // adversarial frame
      val viaUdaf = cand.groupBy("id")
        .agg(TopKNeighborsUdaf.topk(k)(
          col("cosine"), col("neighbor")).as("top"))
        .select(col("id"), posexplode(col("top")))
        .select(col("id"), (col("pos") + 1).as("rank"),
          col("col.neighbor").as("neighbor"), col("col.cosine").as("cosine"))
        .orderBy("id", "rank").collect().toSeq
      assert(viaAgg.map(_.toString) == viaUdaf.map(_.toString),
        s"k=$k native agg diverged from udaf twin")
    }
  }

  /** MinHash signature as pure SQL HOFs — the semantics twin of
    * [[graft.functions.MinhashSig]]: the gram string is hashed once and
    * each of `numHashes` seeded draws re-hashes the 8-byte value. */
  private def minhashSignature(grams: Column, numHashes: Int): Column = {
    val hashed = transform(grams, g => xxhash64(g))
    transform(sequence(lit(0), lit(numHashes - 1)),
      s => array_min(transform(hashed, h => xxhash64(h, s))))
  }

  /** the window form of [[Similarity.cosineTopK]]'s ranking — the
    * structurally independent twin of the bounded aggregate. */
  private def cosineTopKWindow(df: DataFrame, idCol: String,
                               vecCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy("id")
      .orderBy(col("cosine").desc, col("neighbor").asc)
    Similarity.cosineAllPairs(df, idCol, vecCol)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("id", "rank", "neighbor", "cosine")
  }

  test("MinhashSig expression ≡ explode+min aggregate ≡ streaming HOF " +
       "signature (same docs, every seed)") {
    // round 6 moved the batch signature pass to the row-local compiled
    // expression; all three definitional forms must agree per document
    val nh = 16
    val hashed = Dedup.withHashedNgrams(docs, "doc_id", "text", 3)
    val viaExpr = hashed.where(size(col("grams")) > 0)
      .select(col("id"),
        graft.functions.MinhashSig.sig(col("grams"), nh).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val minAggs = (0 until nh).map(s =>
      min(xxhash64(col("gh"), lit(s))).as(s"m$s"))
    val viaAgg = hashed
      .select(col("id"), explode(col("grams")).as("gh"))
      .groupBy("id").agg(minAggs.head, minAggs.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> (1 to nh).map(r.getLong(_)).toSeq).toMap
    assert(viaExpr == viaAgg, "expression diverged from aggregate form")
    // the streaming path's HOF form hashes string grams itself
    val viaHof = Dedup.withNgrams(docs, "doc_id", "text", 3)
      .where(size(col("grams")) > 0)
      .select(col("id"),
        minhashSignature(col("grams"), nh).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr == viaHof, "expression diverged from HOF signature")
  }

  test("cosineTopK bounded-aggregate ranking ≡ retained window twin " +
       "(row-identical on the real embedding table)") {
    // round 6 moved the brute-force audit path's RANKING from the rank
    // window to TopKNeighbors (the n² candidate set was the query's
    // largest exchange); the window form stays as cosineTopKWindow and
    // this pin asserts row-identity on real data, on top of the
    // adversarial-ordering aggregate≡window pins above
    for (k <- Seq(1, 3)) {
      val viaAgg = Similarity.cosineTopK(emb, "vec_id", "embedding", k)
        .orderBy("id", "rank").collect().toSeq
      val viaWin = cosineTopKWindow(emb, "vec_id", "embedding", k)
        .orderBy("id", "rank").collect().toSeq
      assert(viaAgg.map(_.toString) == viaWin.map(_.toString),
        s"k=$k: bounded-aggregate cosineTopK diverged from window twin")
    }
  }

  test("LshBucketIds reference-object expression ≡ composed per-plane " +
       "literal form (all tables, every vector)") {
    val ps = Similarity.planes(4, 8, 64, seed = 7)
    val composed = array((0 until 4).map(t =>
      Similarity.bucketComposed(col("embedding"),
        ps(t).toIndexedSeq)): _*)
    val exprForm =
      graft.functions.LshBucketIds.buckets(col("embedding"), ps)
    emb.select(composed.as("a"), exprForm.as("b")).collect().foreach {
      r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"bucket ids diverged: $r")
    }
  }

  test("k-means trainer is run-to-run deterministic under parallel " +
       "chunking (thread scheduling must never change the centroids)") {
    def train() = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 32, iters = 4, sampleN = 500)
    val (c1, c2) = (train(), train())
    assert(c1.length == c2.length && c1.nonEmpty)
    c1.zip(c2).zipWithIndex.foreach { case ((a, b), i) =>
      assert(java.util.Arrays.equals(a, b), s"centroid $i diverged")
    }
  }

  test("distributed Lloyd engine ≡ driver Lloyd engine bit-for-bit " +
       "from the same init (cluster/partition layout can never change " +
       "the trained centroids)") {
    val sample = Similarity.sampleFrame(emb, "vec_id", "embedding", 500)
      .persist()
    try {
      val xs = sample.collect().sortBy(_._1).map(_._2)
      assert(xs.length == 500)
      val init = Similarity.kmeansPlusPlusInit(xs, 24, seed = 42)
      val viaDriver = Similarity.lloydLocal(xs, init, iters = 4)
      val viaCluster = Similarity.lloydDistributed(sample, init, iters = 4)
      assert(viaDriver.length == 24 && viaCluster.length == 24)
      viaDriver.zip(viaCluster).zipWithIndex.foreach { case ((a, b), i) =>
        assert(java.util.Arrays.equals(a, b),
          s"centroid $i diverged between engines")
      }
    } finally { sample.unpersist(); () }
  }

  test("distributed trainer at nc=20k: trains the full complement " +
       "deterministically with only kk×dim driver-side state") {
    // The scale regime the executor-side trainer exists for: a 20k
    // centroid request whose 40k-vector sample should never be
    // collected (lloydDistributed's only driver materializations are
    // the per-iteration kk×dim totals and the init vectors — there is
    // no sample collect on this path by construction; this test
    // witnesses the path WORKS at a kk where the driver engine's
    // O(sampleN·kk) k-means++ init alone would dominate the suite).
    val n = 200000L; val dim = 4
    val vec = array((0 until dim).map(d =>
      (pmod(xxhash64(col("id"), lit(d)), lit(1000)) / lit(500.0) - 1.0)
        .cast("float")): _*)
    val df = spark.range(0, n, 1, 8)
      .select(col("id").as("vec_id"), vec.as("embedding"))
    def train() = Similarity.kmeansCentroidsDistributed(df, "vec_id",
      "embedding", k = 20000, iters = 1, sampleN = 40000)
    val c1 = train()
    assert(c1.length == 20000)
    val unit = c1.count(c =>
      math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    assert(unit >= 19000, s"only $unit/20000 centroids unit-normalized")
    val distinct = c1.map(_.toSeq).toSet.size
    assert(distinct > 15000, s"degenerate init: $distinct distinct")
    val c2 = train()
    c1.zip(c2).zipWithIndex.foreach { case ((a, b), i) =>
      assert(java.util.Arrays.equals(a, b), s"centroid $i diverged")
    }
  }

  test("IvfScorer block-pruned scan ≡ exhaustive scan bit-for-bit " +
       "(nc=1200 clustered + uniform; null/NaN/∞ inputs fall back)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val dim = 8
    // 30 loose clusters of 40 centroids each, unit-normalized — the
    // regime where block pruning actually prunes; parity must hold
    // regardless
    val cents = Array.tabulate(1200) { i =>
      val c = i / 40
      val raw = Array.tabulate(dim)(d =>
        math.sin(c * 131.0 + d * 17.0) +
          0.05 * math.sin(i * 31.0 + d * 7.0))
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val sc = new graft.functions.IvfScorer(cents, 5, floatInput = false)
    def run(vals: Array[Any]): (Seq[(Long, Int)], Seq[(Long, Int)]) = {
      val vec = new GenericArrayData(vals)
      // bit-compare scores (NaN ≠ NaN under ==; ±0.0 stays distinct)
      def decode(a: org.apache.spark.sql.catalyst.util.ArrayData) =
        (0 until a.numElements()).map { i =>
          val r = a.getStruct(i, 2)
          (java.lang.Double.doubleToLongBits(r.getDouble(0)), r.getInt(1))
        }
      (decode(sc.topBuckets(vec)),
        decode(sc.topBucketsFlat(new GenericArrayData(vals))))
    }
    val rnd = new scala.util.Random(20260820)
    for (t <- 0 until 400) {
      // half near-cluster (heavy pruning), half uniform (weak pruning)
      val vals: Array[Any] =
        if (t % 2 == 0) cents(rnd.nextInt(1200))
          .map(x => (x + 0.1 * rnd.nextGaussian()): Any)
        else Array.fill(dim)(rnd.nextGaussian(): Any)
      val (blocked, flat) = run(vals)
      assert(blocked == flat, s"case $t diverged")
    }
    // adversarial: nulls inside the vector, NaN and ∞ elements (the
    // non-finite-norm fallback), short and long vectors
    val edges: Seq[Array[Any]] = Seq(
      Array[Any](1.0, null, 0.5, null, -1.0, 2.0, 0.0, 1.5),
      Array[Any](Double.NaN, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0),
      Array[Any](Double.PositiveInfinity, 1.0, 1.0, 1.0, 1.0, 1.0,
        1.0, 1.0),
      Array[Any](1.0, 2.0),
      Array.fill(16)(0.25: Any))
    edges.foreach { vals =>
      val (blocked, flat) = run(vals)
      assert(blocked == flat, s"edge ${vals.toSeq} diverged")
    }
    // nProbe = 0: empty result on both paths (the pruned loop must
    // never index topS(k-1) with k = 0)
    val sc0 = new graft.functions.IvfScorer(cents, 0, floatInput = false)
    val zv = new GenericArrayData(Array.fill(dim)(0.5: Any))
    assert(sc0.topBuckets(zv).numElements() == 0)
    assert(sc0.topBucketsFlat(zv).numElements() == 0)
    // ragged centroid lengths: blocks disabled (a lower-dim bound
    // would not upper-bound a full-dim member score) — the flat scan
    // handles them via its per-centroid min(), both paths agree
    val ragged = cents.zipWithIndex.map { case (c, i) =>
      if (i % 7 == 0) c.take(4) else c
    }
    val scR = new graft.functions.IvfScorer(ragged, 5,
      floatInput = false)
    for (t <- 0 until 20) {
      val vals: Array[Any] = Array.fill(dim)(rnd.nextGaussian(): Any)
      def dec(a: org.apache.spark.sql.catalyst.util.ArrayData) =
        (0 until a.numElements()).map { i =>
          val r = a.getStruct(i, 2)
          (java.lang.Double.doubleToLongBits(r.getDouble(0)),
            r.getInt(1))
        }
      assert(dec(scR.topBuckets(new GenericArrayData(vals))) ==
        dec(scR.topBucketsFlat(new GenericArrayData(vals))),
        s"ragged case $t diverged")
    }
  }

  test("ivfTopK auto-selects the executor-side trainer above the " +
       "centroid threshold (results identical to calling it explicitly)") {
    val nc = Similarity.distributedTrainThreshold + 1
    val viaAuto = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 2,
        nCentroids = nc, nProbe = 2)
      .collect().map(_.toString).sorted.toSeq
    val cents = Similarity.kmeansCentroidsDistributed(emb, "vec_id",
      "embedding", k = nc,
      sampleN = Similarity.effectiveSampleN(10000, nc))
    val viaExplicit = Similarity.ivfTopKWithCentroids(emb, "vec_id",
        "embedding", cents, k = 2, nProbe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(viaAuto.nonEmpty && viaAuto == viaExplicit,
      "auto path diverged from the explicit distributed trainer — " +
        "the threshold switch routed to the driver engine")
  }

  test("raw-RGB video fixture: RawRgbFrameDecoder's pixel features " +
       "equal brute-force mdat byte sums; frame grid is mvhd-exact; " +
       "the stub is really displaced") {
    val ids = Seq("rvA", "rvB", "rvC17")
    for (id <- ids) {
      val payload = Multimodal.rawRgbVideoPayload(id)
      val m = Multimodal.parseMp4(payload).get
      val frameLen = m.width * m.height * 3
      val nFrames = m.mdatLen / frameLen
      assert(m.durationMs == nFrames * 250L)
      assert(m.mdatOff == 248, s"canonical mdat offset moved: ${m.mdatOff}")
      for (f <- 0 until nFrames) {
        val pts = f * 250L
        val got = Multimodal.RawRgbFrameDecoder.frameFeatures(payload, pts)
        // brute force straight off the container bytes, no BufferedImage
        val base = m.mdatOff + f * frameLen
        val chan = Array.fill(3)(0L); val mx = Array.fill(3)(0)
        for (p <- 0 until m.width * m.height; c <- 0 until 3) {
          val v = payload(base + p * 3 + c) & 0xff
          chan(c) += v; if (v > mx(c)) mx(c) = v
        }
        assert(got.toSeq == Seq(chan(0).toFloat, chan(1).toFloat,
          chan(2).toFloat, mx(0).toFloat, mx(1).toFloat, mx(2).toFloat,
          m.width.toFloat, m.height.toFloat),
          s"$id frame $f: ${got.toSeq}")
        // injection check: the stub's hash features cannot coincide
        // with all six integer channels
        val stub = Multimodal.StubFrameDecoder.frameFeatures(payload, pts)
        assert(stub.toSeq != got.toSeq.take(stub.length))
      }
    }
    // end-to-end through sampleFrames: one row per 250 ms frame, count
    // from the REAL mvhd duration, features from the injected decoder
    import spark.implicits._
    val media = ids.map(id => Multimodal.MediaRow(id, "video/mp4",
      Multimodal.rawRgbVideoPayload(id))).toDF()
    val rows = Multimodal.sampleFrames(media, everyMs = 250,
      decoder = Multimodal.RawRgbFrameDecoder).collect()
    val wantRows = ids.map { id =>
      val m = Multimodal.parseMp4(Multimodal.rawRgbVideoPayload(id)).get
      m.mdatLen / (m.width * m.height * 3)
    }.sum
    assert(rows.length == wantRows)
    assert(rows.forall(_.feature.forall(_ >= 0f)))
  }

  test("IVF candidate pairs are unique without dedup (one indexed " +
       "bucket per neighbor x distinct probe buckets per query)") {
    // rebuild the candidate join exactly as ivfTopKWithCentroids does
    // (pre-ranking) and assert no (id, neighbor) pair appears twice —
    // the invariant that justified dropping its dropDuplicates
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 16, sampleN = 2000)
    val v = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    def scores(c: org.apache.spark.sql.Column) =
      graft.functions.IvfTopBuckets.topBuckets(c, cents, 5)
    val indexed = v.withColumn("bucket",
      element_at(scores(col("vec")), 1).getField("c"))
    val probes = v.select(col("id"),
      explode(transform(scores(col("vec")), e => e.getField("c")))
        .as("bucket"))
    val dupPairs = probes.as("q")
      .join(indexed.select(col("id").as("neighbor"), col("bucket")).as("x"),
        Seq("bucket"))
      .where(col("id") =!= col("neighbor"))
      .groupBy("id", "neighbor").count()
      .where(col("count") > 1).count()
    assert(dupPairs == 0L,
      s"$dupPairs duplicated (id, neighbor) candidate pairs")
  }
}

/** top-level so the decoder closure carries no outer test-class
  * reference (FrameDecoder implementations must be Serializable). */
object PipelineSpecDecoders {
  object PtsLenDecoder extends graft.pipeline.Multimodal.FrameDecoder {
    def frameFeatures(payload: Array[Byte], ptsMs: Long): Array[Float] =
      Array(ptsMs.toFloat, payload.length.toFloat)
  }
}
