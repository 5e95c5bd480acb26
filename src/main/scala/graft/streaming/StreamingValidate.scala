package graft.streaming

import graft.contracts.ObjectC
import graft.engine.{Drift, Manifest, Referential, Stats, Validate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Structured-Streaming adoption of the validation pass (SURVEY.md
  * §2.9 "streaming": absent from the reference; the engine keeps
  * validation a pure DataFrame → DataFrame function so it drops into a
  * stream unchanged).
  *
  * Two modes:
  *  - [[violations]]: stateless per-row checking on a streaming frame —
  *    works in append mode with no watermark (the compiled contract is
  *    a projection+filter).
  *  - [[foreachBatchSink]]: per-micro-batch validation wired into the
  *    SAME manifest/resume log the batch runner uses, through the same
  *    partition kernel ([[graft.engine.Manifest.commitPartition]], batch
  *    id = partition id) — violations land partitioned by batch, each
  *    batch's `n_checked` is observed on its violations write (the batch
  *    is not recomputed to count it), and its row appends to the
  *    manifest, giving exactly-once-per-batch semantics on restart via
  *    Spark's checkpointing + the manifest's idempotent (snapshot,
  *    partition) key.
  */
object StreamingValidate {

  /** stateless streaming violations — append-mode safe. */
  def violations(stream: DataFrame, contract: ObjectC, idCol: String,
                 thing: String = "stream"): DataFrame =
    Validate.violations(stream, contract, idCol, thing)

  /** foreachBatch sink: validate each micro-batch, write violations to
    * `outDir/violations/part=<batchId>`, append a manifest row, all
    * through [[graft.engine.Manifest.commitPartition]]. `n_checked` is
    * observed on the violations write, so the batch is not recomputed
    * to count it (four jobs for a small steady-state batch; the
    * manifest row is a driver write); the fingerprint column is 0. The
    * completed set is read once, on the sink's first batch, then kept
    * current with the batches the sink logs. */
  def foreachBatchSink(stream: DataFrame, contract: ObjectC,
                       idCol: String, outDir: String, snapshotId: String)
      : DataStreamWriter[Row] = {
    var done: Option[Set[Int]] = None
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      if (done.isEmpty)
        done = Some(Manifest.completed(spark, outDir, snapshotId))
      if (!done.get.contains(batchId.toInt)) {
        Manifest.commitPartition(batch, lit(0L),
          Validate.violations(_, contract, idCol, "stream"), outDir,
          snapshotId, batchId.toInt, batchId, None)
        done = done.map(_ + batchId.toInt)
      }
      ()
    }
  }

  /** streaming referential check: dangling-FK rows of an unbounded
    * stream against a bounded static dimension (the `media_ref` ∈
    * media-catalog check of the north rule, in stream form) — the batch
    * [[graft.engine.Referential.violations]] as is. Its stream-static
    * LEFT ANTI join is STATELESS (each micro-batch joins the static
    * side, nothing accumulates in streaming state), so this is
    * append-mode safe with no watermark. `broadcastDim` (default, for
    * known-small catalogs) broadcasts the dimension's key projection,
    * so the stream side never shuffles; `false` forbids the broadcast. */
  def danglingRefs(stream: DataFrame, fkCol: String, dim: DataFrame,
                   pkCol: String, idCol: String,
                   thing: String = "stream",
                   broadcastDim: Boolean = true): DataFrame =
    Referential.violations(stream, fkCol, dim, pkCol, idCol, thing,
      Some(broadcastDim))

  /** streaming decontamination: flag arriving docs that share any word
    * n-gram with a STATIC eval corpus. Eval corpora are tiny, so the
    * deduped eval gram set is collected once at stream construction
    * and BROADCAST; each arriving doc computes its shingles with the
    * compiled [[graft.functions.NgramShingles]] expression and probes
    * the broadcast set in a typed filter. Stateless (no streaming
    * state, no watermark needed), stream side never shuffles,
    * append-mode safe — the streaming sibling of
    * [[graft.pipeline.Decontaminate.overlap]]. The per-row
    * deserialization at the typed filter is bounded by micro-batch
    * volume; a stream never amortizes a gram-keyed join the way the
    * batch path does, so set-probe is the right shape here. */
  def contaminated(stream: DataFrame, evalDf: DataFrame,
                   textCol: String, evalIdCol: String,
                   evalTextCol: String, n: Int = 8): DataFrame = {
    val evalGrams = graft.pipeline.Dedup
      .withNgrams(evalDf, evalIdCol, evalTextCol, n)
      .select(explode(col("grams")).as("g")).distinct()
      .collect().map(_.getString(0)).toSet
    val bc = stream.sparkSession.sparkContext.broadcast(evalGrams)
    val withG = stream.withColumn("_grams",
      graft.functions.NgramShingles.ngrams(col(textCol), n))
    val gIdx = withG.schema.fieldIndex("_grams")
    withG.filter { (r: org.apache.spark.sql.Row) =>
        // null text ⇒ null grams (NgramShingles is null-propagating);
        // treat as not-contaminated like the batch path, where explode
        // drops the null — an NPE here would kill the whole query
        val g = r.getSeq[String](gIdx)
        g != null && g.exists(bc.value.contains)
      }
      .drop("_grams")
  }

  /** streaming distribution-drift: tumbling-window sketches of a
    * numeric column, each compared against a BASELINE sketch (serialized
    * bytes — e.g. from a batch [[graft.engine.Drift.sketch]] persisted
    * with a run manifest) using the same KS/PSI definitions as the batch
    * path. The per-row work is the codegen'd cast/filter plus an O(1)
    * sketch update riding Spark's streaming aggregation state; the
    * comparison runs once per CLOSED WINDOW (append mode), so the scalar
    * UDF here executes once per window row, never in the per-row hot
    * path. Emits (window_start, window_end, n, ks, psi, pass). A `kll`
    * checkpoint whose state holds the Java-serialized buffers of the
    * typed Aggregator that [[graft.engine.Drift.kllAgg]] replaced cannot
    * be restored: the restart fails with KLL_INVALID_INPUT_SKETCH_BUFFER. */
  def windowedDrift(stream: DataFrame, valueCol: String, tsCol: String,
                    window: String, watermark: String,
                    baseline: Array[Byte], ksThreshold: Double = 0.1,
                    psiThreshold: Double = 0.2,
                    backend: String = "kll"): DataFrame = {
    require(baseline != null && baseline.nonEmpty,
      "windowedDrift requires a non-empty serialized baseline sketch")
    // the baseline bytes must come from the SAME backend (Drift.sketch
    // for "kll", Drift.sketchTd for "tdigest")
    val v = col("_v")
    val (sketchAgg, compare) = backend match {
      case "kll" => (Drift.kllAgg(v), (b: Array[Byte]) =>
        Drift.compare(Drift.heapKll(baseline), Drift.heapKll(b)))
      case "tdigest" => (Drift.tdAgg(v), (b: Array[Byte]) =>
        Drift.compareTd(Drift.heapTd(baseline), Drift.heapTd(b)))
      case other => throw new IllegalArgumentException(
        s"unknown drift backend '$other' (kll | tdigest)")
    }
    val cmp = udf((bytes: Array[Byte]) => {
      val r = compare(bytes); (r.ks, r.psi)
    })
    // watermark AFTER the cast projection (watermark column identity
    // must survive into the aggregation)
    stream.select(col(tsCol), col(valueCol).cast("double").as("_v"))
      .where(v.isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(sketchAgg.as("_sketch"), count(lit(1)).as("n"))
      .withColumn("_d", cmp(col("_sketch")))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"),
        col("_d._1").as("ks"), col("_d._2").as("psi"),
        (col("_d._1") <= ksThreshold && col("_d._2") <= psiThreshold)
          .as("pass"))
  }

  /** one (value, n, exact) entry of a per-window top-k list. */
  final case class TopValue(value: String, n: Long, exact: Boolean)

  /** Per-window heavy hitters: [[graft.engine.Stats.topValues]] as a
    * streaming monitoring signal — one mergeable Misra-Gries sketch per
    * event-time window (bounded state per window regardless of value
    * cardinality, merged through the state store like any partial
    * aggregate), finished to the top-k (value, estimate, exact) list by
    * the SAME [[graft.engine.Stats.topEntries]] the batch path uses, so
    * tie-break and exactness rules cannot diverge. Null values are
    * filtered BEFORE the shuffle (a null is a null-rate fact, not a
    * value — and an all-null window must emit nothing, like the batch
    * path, not a phantom empty row). A checkpoint whose state holds the
    * Java-serialized buffers of the typed Aggregator that
    * [[graft.engine.Stats.topAgg]] replaced cannot be restored: the
    * restart fails ("Possible Corruption" from the sketch). */
  def windowedTopValues(stream: DataFrame, valueCol: String,
                        tsCol: String, window: String, watermark: String,
                        k: Int = 3, maxMapSize: Int = 1024): DataFrame = {
    val sk = Stats.topAgg(col("_v"), maxMapSize)
    val top = udf((bytes: Array[Byte]) =>
      Stats.topEntries(bytes, k)
        .map { case (v, est, _, _, exact) => TopValue(v, est, exact) })
    stream.select(col(tsCol), col(valueCol).cast("string").as("_v"))
      .where(col("_v").isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(sk.as("_sk"))
      .select(col("window"), top(col("_sk")).as("top"))
  }

  /** Per-window PII exposure monitor: the batch [[graft.pipeline.Pii]]
    * patterns counted per event-time window — an ingest gate ("this
    * hour's crawl suddenly carries emails") rather than a per-doc
    * scrub. Stateless per-row regex counts (codegen'd, linear-time
    * RE2-portable patterns) feeding one watermarked tumbling-window
    * aggregation; state is O(windows), never O(docs). */
  def windowedPiiStats(stream: DataFrame, textCol: String,
                       tsCol: String, window: String,
                       watermark: String): DataFrame = {
    val (counts, _) = graft.pipeline.Pii.countColumns(col(textCol))
    val counted = stream
      .select(col(tsCol) +: counts: _*)
      .select(col(tsCol), graft.pipeline.Pii.totalCol.as("n_pii"))
      .withColumn("is_dirty", col("n_pii") > 0)
    counted
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_pii").cast("long")).as("n_pii"),
        sum(when(col("is_dirty"), 1L).otherwise(0L)).as("n_dirty"))
      .withColumn("dirty_frac",
        round(col("n_dirty").cast("double") /
          greatest(col("n_docs"), lit(1L)), 4))
  }

  /** Per-key event sessionization: gap-based `session_window` (a
    * session closes after `gap` of silence), emitting count and exact
    * span per (key, session). Ingest-side use: a crawler host whose
    * fetch session suddenly spans hours, or a doc_id re-emitted across
    * sessions, is a data-quality signal tumbling windows blur. State
    * is one open session per active key, closed and evicted by the
    * watermark — bounded by ACTIVE keys, never by history. */
  def sessionized(stream: DataFrame, keyCol: String, tsCol: String,
                  gap: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"))
      .select(col(keyCol), col("session_window"), col("n_events"),
        col("first_ts"), col("last_ts"))

  /** streaming per-window pass/fail summary for event-timestamped
    * documents: watermarked tumbling-window aggregation. */
  def windowedSummary(stream: DataFrame, contract: ObjectC,
                      tsCol: String, window: String,
                      watermark: String): DataFrame = {
    val fail = Validate.fastFirstViolation(stream, contract).isNotNull
    stream.withColumn("_fail", fail)
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("_fail"), 1L).otherwise(0L)).as("n_failed"))
      .withColumn("pass", col("n_failed") === 0L)
  }
}
