package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming dedup: first-seen doc_id wins across micro-batches,
  * later occurrences are emitted as uniqueness violations — the streaming
  * counterpart of [[graft.engine.Uniqueness]], built on
  * `flatMapGroupsWithState` (KeyValueGroupedDataset custom state). State
  * per key is one count record.
  *
  * State-size bounding at 10¹²-doc scale: production deployments add an
  * EventTimeTimeout + watermark so doc_ids seen once fall out of state
  * after the dedup horizon. (ProcessingTimeTimeout is deliberately NOT
  * used: it makes the micro-batch engine schedule continuous no-data
  * batches to fire timeouts, which starves `processAllAvailable` —
  * unusable in synchronous tests and wasteful in production.)
  */
object StatefulDedup {

  case class KeyState(count: Long)
  case class DupEvent(doc_id: String, n_seen: Long)

  /** input: any streaming DataFrame with a `doc_id` column; output:
    * one DupEvent per duplicate arrival (append mode). Unbounded state
    * — for exploratory / bounded-keyspace streams; the scale path is
    * [[duplicatesWithHorizon]]. */
  def duplicates(stream: DataFrame): Dataset[DupEvent] = {
    implicit val encS = Encoders.product[KeyState]
    implicit val encO = Encoders.product[DupEvent]
    stream.select(col("doc_id").cast("string").as("doc_id"))
      .as[String](Encoders.STRING)
      .groupByKey(identity)(Encoders.STRING)
      .flatMapGroupsWithState[KeyState, DupEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[String], state: GroupState[KeyState]) =>
          val prev = state.getOption.map(_.count).getOrElse(0L)
          val total = prev + rows.size.toLong
          state.update(KeyState(total))
          // every occurrence with ordinal >= 2 is a duplicate event;
          // this batch contributed ordinals prev+1 .. total
          val from = math.max(prev + 1, 2L)
          if (total >= from)
            (from to total).map(ord => DupEvent(key, ord)).iterator
          else Iterator.empty
      }
  }

  // ------------------------------------------------------------------
  // streaming NEAR-duplicate detection (MinHash + LSH over a stream)
  // ------------------------------------------------------------------

  case class NearDupEvent(doc_id: String, matches_id: String,
                          est_jaccard: Double, band: Int)
  case class BandRow(band: Int, bh: Long, id: String, sig: Seq[Long])
  case class BucketDoc(id: String, sig: Seq[Long])
  case class BucketState(docs: Seq[BucketDoc])

  /** Streaming MinHash+LSH near-dup: each arriving document's banded
    * signature is checked against the documents previously seen in the
    * same LSH bucket; agreements ≥ `threshold` (estimated Jaccard =
    * matching minhash fraction — the standard unbiased MinHash
    * estimator) emit a [[NearDupEvent]]. The streaming counterpart of
    * [[graft.pipeline.Dedup.minhashLshPairs]], trading its exact
    * shingle-set verification for the signature estimate — a stream
    * cannot retain every document's gram set.
    *
    * Scale notes: signatures are computed per arriving doc (HOF over
    * the doc's shingles — micro-batch volumes, not the batch-job
    * explode+agg shape); state per bucket is capped at `maxPerBucket`
    * docs FIFO (a degenerate bucket — e.g. a boilerplate shingle —
    * would otherwise grow O(n) state and O(n²) pairs); a pair sharing
    * several bands may be emitted once per band — downstream,
    * `dropDuplicates("doc_id","matches_id")` within a watermark
    * collapses them. Unbounded key-space streams should use
    * [[nearDuplicatesWithHorizon]] (EventTimeTimeout state expiry). */
  def nearDuplicates(stream: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", n: Int = 3,
                     numHashes: Int = 64, bands: Int = 16,
                     threshold: Double = 0.8, maxPerBucket: Int = 64)
      : Dataset[NearDupEvent] = {
    val banded = bandedSignatures(stream, idCol, textCol, None,
      n, numHashes, bands)
    implicit val encS = Encoders.product[BucketState]
    implicit val encO = Encoders.product[NearDupEvent]
    banded
      .as[BandRow](Encoders.product[BandRow])
      .groupByKey(r => (r.band, r.bh))(
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .flatMapGroupsWithState[BucketState, NearDupEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[BandRow],
         state: GroupState[BucketState]) =>
          processBucket(key._1, rows.map(r => BucketDoc(r.id, r.sig)),
            state, numHashes, threshold, maxPerBucket)
      }
  }

  /** shared bucket logic: compare each arriving doc against bucket
    * state (and earlier docs of the same batch), emit events, append
    * FIFO-capped. */
  private def processBucket(band: Int, arrivals: Iterator[BucketDoc],
                            state: GroupState[BucketState],
                            numHashes: Int, threshold: Double,
                            maxPerBucket: Int)
      : Iterator[NearDupEvent] = {
    var docs = state.getOption.map(_.docs.toVector).getOrElse(Vector.empty)
    val out = Vector.newBuilder[NearDupEvent]
    arrivals.foreach { d =>
      docs.foreach { prior =>
        if (prior.id != d.id) {
          var m = 0; var i = 0
          val sz = math.min(prior.sig.size, d.sig.size)
          while (i < sz) {
            if (prior.sig(i) == d.sig(i)) m += 1
            i += 1
          }
          val est = m.toDouble / numHashes
          if (est >= threshold)
            out += NearDupEvent(d.id, prior.id, est, band)
        }
      }
      // re-arrivals of the same id REPLACE their entry (an exact dup is
      // [[duplicates]]' job; stacking copies would evict other docs)
      docs = (docs.filterNot(_.id == d.id) :+ d).takeRight(maxPerBucket)
    }
    state.update(BucketState(docs))
    out.result().iterator
  }

  case class BandRowTs(band: Int, bh: Long, id: String, sig: Seq[Long],
                       ts: java.sql.Timestamp)

  /** [[nearDuplicates]] with BOUNDED state: watermark on `tsCol` +
    * EventTimeTimeout — a bucket idle past `horizon` drops its state,
    * so state is O(buckets active within the horizon) × maxPerBucket.
    * Near-dups separated by more than the horizon are (by design) not
    * reported — the same trade [[duplicatesWithHorizon]] makes. */
  def nearDuplicatesWithHorizon(stream: DataFrame, tsCol: String,
                                horizon: String,
                                idCol: String = "doc_id",
                                textCol: String = "text", n: Int = 3,
                                numHashes: Int = 64, bands: Int = 16,
                                threshold: Double = 0.8,
                                maxPerBucket: Int = 64)
      : Dataset[NearDupEvent] = {
    val banded = bandedSignatures(stream, idCol, textCol, Some(tsCol),
      n, numHashes, bands)
      // watermark AFTER the projections (see duplicatesWithHorizon)
      .withWatermark("ts", horizon)
    implicit val encS = Encoders.product[BucketState]
    implicit val encO = Encoders.product[NearDupEvent]
    banded
      .as[BandRowTs](Encoders.product[BandRowTs])
      .groupByKey(r => (r.band, r.bh))(
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .flatMapGroupsWithState[BucketState, NearDupEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[BandRowTs],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toSeq
            val out = processBucket(key._1,
              batch.iterator.map(r => BucketDoc(r.id, r.sig)),
              state, numHashes, threshold, maxPerBucket)
            if (batch.nonEmpty)
              state.setTimeoutTimestamp(
                batch.map(_.ts.getTime).max, horizon)
            out
          }
      }
  }

  /** banded (band, bucketHash, id, signature) rows for a stream —
    * tokenize → shingle → minhash (graft.pipeline.Dedup column logic,
    * token array bound behind its own alias so the interpreted HOFs
    * split once) → per-band hash fold. Optionally carries `tsCol`
    * through for the horizon variant. */
  private def bandedSignatures(stream: DataFrame, idCol: String,
                               textCol: String, tsCol: Option[String],
                               n: Int, numHashes: Int, bands: Int)
      : DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val tsCols0 = tsCol.toSeq.map(c => col(c).cast("timestamp").as("ts"))
    val tsCols = tsCol.toSeq.map(_ => col("ts"))
    // COMPILED shingle + signature pipeline (round 6): NgramShingles →
    // per-gram xxhash64 (XxhashArray) → row-local MinhashSig — the
    // exact value chain of the batch path (the interpreted HOF forms
    // are ~40× the compiled shingler at n=8 and re-hash per seed).
    // Signature values are IDENTICAL (PipelineSpec pins expression ≡
    // aggregate ≡ its HOF twin from the same grams; NgramSpec pins the
    // shingler ≡ its HOF twin), so streaming stays comparable with
    // batch and with v2-format persisted state.
    val grams = stream.select(Seq(col(idCol).cast("string").as("id"),
      graft.functions.XxhashArray.hashed(
        graft.functions.NgramShingles.ngrams(col(textCol), n))
        .as("grams")) ++ tsCols0: _*)
      // docs shorter than n tokens have NO shingles: their minhash
      // would be degenerate and every such doc would collide into one
      // bucket — they are exact-dup territory ([[duplicates]]), not
      // near-dup, so drop them here (the batch path gets this for
      // free from its empty-gram filter)
      .where(size(col("grams")) > 0)
    val sigs = grams.select(Seq(col("id"),
      graft.functions.MinhashSig.sig(col("grams"), numHashes)
        .as("sig")) ++ tsCols: _*)
    val bandCols = (0 until bands).map { b =>
      val h = (0 until r).map(j => element_at(col("sig"), b * r + j + 1))
        .foldLeft(lit(0L))((acc, m) => xxhash64(acc, m))
      struct(lit(b).as("band"), h.as("bh"))
    }
    sigs.select(Seq(col("id"), col("sig"),
        explode(array(bandCols: _*)).as("bb")) ++ tsCols: _*)
      .select(Seq(col("bb.band").as("band"), col("bb.bh").as("bh"),
        col("id"), col("sig")) ++ tsCols: _*)
  }

  /** State-BOUNDED dedup for 10¹²-key streams: watermark on `tsCol`
    * plus EventTimeTimeout — a key seen once falls out of state
    * `horizon` after its last event time passes the watermark, so
    * state size is O(keys within the horizon), not O(all keys ever).
    * Duplicates separated by more than the horizon are (by design) not
    * reported — the standard streaming-dedup trade
    * (`dropDuplicatesWithinWatermark` makes the same one). */
  def duplicatesWithHorizon(stream: DataFrame, tsCol: String,
                            horizon: String): Dataset[DupEvent] = {
    implicit val encS = Encoders.product[KeyState]
    implicit val encO = Encoders.product[DupEvent]
    stream
      .select(col("doc_id").cast("string").as("doc_id"),
        col(tsCol).cast("timestamp").as("ts"))
      // watermark AFTER the cast projection: projecting a watermarked
      // column through a cast would drop the event-time tag
      .withWatermark("ts", horizon)
      .as[(String, java.sql.Timestamp)](
        Encoders.tuple(Encoders.STRING,
          org.apache.spark.sql.Encoders.TIMESTAMP))
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[KeyState, DupEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            state.remove() // key idle past the horizon: drop its state
            Iterator.empty
          } else {
            val batch = rows.toSeq
            val prev = state.getOption.map(_.count).getOrElse(0L)
            val total = prev + batch.size.toLong
            state.update(KeyState(total))
            val maxTs = batch.map(_._2.getTime).max
            // expire once the watermark passes last-seen + horizon
            state.setTimeoutTimestamp(maxTs, horizon)
            val from = math.max(prev + 1, 2L)
            if (total >= from)
              (from to total).map(ord => DupEvent(key, ord)).iterator
            else Iterator.empty
          }
      }
  }
}
