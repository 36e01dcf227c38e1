package graft.streaming

import graft.core.CacheScope
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming forms of the batch operators (SURVEY.md §2.10).
  * The reference is batch-only ("Analytics Approach: Batch Processing",
  * Requirements/requirements.md:6); these are the engine's additive
  * capability: the same weekly/hourly aggregations and cycle
  * segmentation over an unbounded `events` stream.
  *
  * A stateless per-document operator has no streaming twin: [[perBatch]]
  * runs the batch operator itself on every micro-batch. The defs here
  * are the behaviours that need state across micro-batches (windows,
  * seen-sets, TTL miners, carried counters) or a stream-only plan.
  *
  * Design: `readStream` on the events schema -> watermarked windowed
  * aggregations (tumbling/sliding/session), and exact cycle labeling
  * as keyed state via `flatMapGroupsWithState` (a cycle ends on a
  * tstate *change*, not a time gap, so `session_window` alone cannot
  * express it — this is the documented custom-state case).
  */
object StreamingOps {

  /** The events schema as seen after Sources.events normalization. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a directory of parquet events (the batch
    * fixture doubles as a stream when copied into a watched dir).
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** Tumbling-window per-stage aggregate (streaming twin of the hourly
    * rollup S7/q19): exact sums in decimal, late data bounded by the
    * watermark.
    */
  def hourlyStageAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window mean (5 min window, 1 min slide) per stage. */
  def slidingMean(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("event_type"))
      .agg(avg(col("value")).as("mean_value"), count(lit(1)).as("n"))

  /** Session windows per device: a session closes after `gap` of
    * inactivity — the time-gap complement of cycle segmentation.
    */
  def deviceSessions(events: DataFrame, gap: String = "30 minutes", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup — the ingestion twin of
    * [[graft.dedup.Dedup.exactDedup]] for a continuously-arriving
    * corpus: keep the FIRST document per content fingerprint
    * (casefold/whitespace-normalized 64-bit hash). State is one 8-byte
    * key per distinct document. With an event-time column,
    * `dropDuplicatesWithinWatermark` bounds that state to the
    * watermark horizon (the production shape — an unbounded seen-set
    * cannot live in executor state forever at corpus scale; the
    * global-history variant belongs in a compacted key store); without
    * one it falls back to the unbounded exact form for finite runs.
    */
  def exactDedupStream(
      docs: DataFrame,
      textCol: String,
      tsCol: Option[String] = None,
      watermark: String = "1 hour"): DataFrame = {
    require(!docs.columns.contains("__fp"), "input must not contain reserved column __fp")
    // NULL texts pass through un-deduped on their own branch: their
    // fingerprint would be xxhash64's seed constant (and dropDuplicates
    // treats even NULL keys as equal), so keeping them in the keyed
    // branch would collapse every missing-text row into one survivor —
    // the batch exactDedup keeps them all, and parity must hold.
    val withFp = docs.withColumn("__fp",
      when(col(textCol).isNotNull, graft.text.TextAnalysis.contentFingerprint(col(textCol))))
    val unhashable = withFp.filter(col("__fp").isNull)
    val hashable = withFp.filter(col("__fp").isNotNull)
    val deduped = tsCol match {
      case Some(ts) => hashable.withWatermark(ts, watermark).dropDuplicatesWithinWatermark("__fp")
      case None => hashable.dropDuplicates("__fp")
    }
    deduped.unionByName(unhashable).drop("__fp")
  }

  // ------------------------------------------ the per-micro-batch lift

  /** Run the BATCH operator `op` on every micro-batch of `stream` — the
    * streaming form of any stateless per-document operator, in
    * Structured Streaming's own model (the streaming query is the
    * batch query, executed once per micro-batch). Stream and batch run
    * one definition, so the batch semantics hold unchanged: null
    * handling, duplicate rows, degenerate inputs.
    *
    * `op` must be per-document: a row's output may depend on the row
    * and on static snapshots `op` closes over (a reference corpus, a
    * fitted model, a gram or frequency table), never on other arriving
    * rows, because micro-batch boundaries are arbitrary. Persist the
    * snapshots: `op` re-plans them every micro-batch.
    *
    * Each micro-batch runs in [[graft.core.CacheScope.run]], so the
    * operator's internal caches are released when its batch ends, and
    * OVERWRITES `outPath/batch=<batchId>`: a replayed batch rewrites
    * the same directory, so a deterministic `op` yields exactly-once
    * output (the [[packBinsForeachBatch]] argument). Read `outPath` as
    * one table; partition discovery adds a `batch` column, so `op`'s
    * output must not carry one. `outPath` and the checkpoint are a
    * unit: a fresh checkpoint restarts batch ids at 0.
    */
  def perBatch(stream: DataFrame, outPath: String, checkpointDir: String)(
      op: DataFrame => DataFrame): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        perBatchBody(batch, batchId, outPath)(op)
      }
      .start()
  }

  /** One [[perBatch]] micro-batch, factored out so its replay
    * idempotence is directly testable. The micro-batch frame belongs
    * to the query's clone of the caller's session, the snapshots `op`
    * closes over to the caller's session itself; both share one
    * `SparkContext`, so the batch's scope owns the tables an operator
    * persists from either side.
    */
  private[graft] def perBatchBody(batch: DataFrame, batchId: Long, outPath: String)(
      op: DataFrame => DataFrame): Unit =
    CacheScope.run(batch.sparkSession) {
      op(batch).write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    }

  // --------------------------------------------- streaming near-dedup

  final case class BandedDoc(band: Int, h: Long, id: Long, sig: Seq[Long])
  final case class CandPair(id_a: Long, id_b: Long, est_jaccard: Double)
  final case class BucketState(docs: List[(Long, Seq[Long])])

  /** The streaming twins key state by a LONG id: fail fast (with the
    * batch-parity caveat) rather than let an ANSI cast blow up mid-
    * stream — the batch [[graft.dedup.Dedup.minhashCandidatePairs]] is
    * id-type-generic, the keyed-state twins are not.
    */
  private def requireIntegralId(docs: DataFrame, idCol: String): Unit =
    docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"this streaming twin keys/orders state by a long id; '$idCol' is $other — " +
          "map ids to an integral surrogate first (the BATCH path is id-type-generic)")
    }

  /** Streaming MinHash-LSH near-dup candidates — the ingestion twin of
    * [[graft.dedup.Dedup.minhashCandidatePairs]]: each arriving doc is
    * signed ([[graft.dedup.ShingleHashes]] -> [[graft.dedup.MinHashSig]],
    * the same two expressions as the batch path), exploded to its
    * `bands` (band, bandHash) keys, and matched via keyed state against
    * every EARLIER doc in the same bucket — so a near-dup of a doc from
    * any previous micro-batch surfaces the moment it arrives, with the
    * same estimated Jaccard the batch path computes (fraction of equal
    * signature components).
    *
    * Parity contract (pinned by StreamingOpsSpec): over any prefix of
    * the stream, `distinct (id_a, id_b, est_jaccard)` equals the batch
    * candidate set on the union of those batches. A pair colliding in
    * multiple bands is emitted once PER COLLIDING BAND (each bucket's
    * state is independent — the batch path folds these with a global
    * `distinct`); follow with `dropDuplicates("id_a","id_b")` when
    * exactly-once pairs are required downstream.
    *
    * State shape at scale: one (id, 32-long signature) list per OCCUPIED
    * band bucket — proportional to the corpus, like any seen-set dedup.
    * The production bound is the same as [[exactDedupStream]]'s: key
    * state by a rolling corpus horizon (event-time TTL via timeouts) or
    * back the seen-set with a compacted store; the unbounded form here
    * is the finite-run / parity shape.
    */
  def minhashCandidatesStream(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      seed: Long = 42L): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    require(numHashes % bands == 0, s"numHashes=$numHashes must divide into bands=$bands")
    requireIntegralId(docs, idCol)
    // null text null-propagates to a null signature; such docs must be
    // dropped HERE — banded they would all share one constant band
    // hash and the pairing loop would dereference the null sig (an NPE
    // poison pill the batch path does not have)
    val sig = docs
      .select(col(idCol).cast("long").as("id"),
        graft.dedup.ShingleHashes.shingleHashes(col(textCol), n).as("__gh"))
      .select(col("id"), graft.dedup.MinHashSig.minhashSig(col("__gh"), numHashes, seed).as("sig"))
      .filter(col("sig").isNotNull && col("id").isNotNull) // null id = typed-decode poison pill
    val banded = sig.select(
      col("id"), col("sig"),
      explode(graft.dedup.Dedup.bandStructs(col("sig"), numHashes, bands)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.h").as("h"), col("id"), col("sig"))
      .as[BandedDoc]
    banded
      .groupByKey(d => (d.band, d.h))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, Long), rows: Iterator[BandedDoc], state: GroupState[BucketState]) => {
          var seen = state.getOption.map(_.docs).getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[CandPair]
          // deterministic within-batch order so parity holds however
          // the micro-batch partitions its rows
          rows.toSeq.sortBy(_.id).foreach { d =>
            seen.foreach { case (oid, osig) =>
              if (oid != d.id) {
                val eq = osig.iterator.zip(d.sig.iterator).count { case (x, y) => x == y }
                out += CandPair(math.min(oid, d.id), math.max(oid, d.id), eq.toDouble / numHashes)
              }
            }
            seen = (d.id, d.sig) :: seen
          }
          state.update(BucketState(seen))
          out.iterator
        })
  }

  final case class BandedSig(band: Int, h: Long, id: Long, sig: Long)
  final case class SigBucket(docs: List[(Long, Long)])
  final case class HamPair(id_a: Long, id_b: Long, hamming: Int)

  /** Streaming banded-Hamming near-dup pairs — the ingestion twin of
    * [[graft.dedup.Dedup.hammingPairs]], generic over ANY 64-bit
    * fingerprint stream (SimHash, perceptual image hashes): each
    * arriving (id, sig) row is exploded to its `bands` bit-slice
    * buckets and matched via keyed state against every earlier
    * signature in the bucket, emitting the exact `bitCount(xor)`
    * distance for pairs within `maxHamming` — so a near-duplicate of
    * an image from any previous micro-batch surfaces the moment it
    * arrives.
    *
    * Parity contract (StreamingOpsSpec): over any stream prefix,
    * `distinct (id_a, id_b, hamming)` equals the batch pair set on the
    * union of those batches (a pair within Hamming < bands of each
    * other can collide in several buckets and is emitted once per
    * colliding band, exactly the duplicate shape the batch path folds
    * with its pre-verify `distinct`). State per bucket is the seen
    * (id, sig) list — 16 bytes per doc per band; the production bound
    * is [[hammingPairsStreamTtl]].
    */
  def hammingPairsStream(
      hashed: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      bands: Int = 4): Dataset[HamPair] = {
    import hashed.sparkSession.implicits._
    requireIntegralId(hashed, idCol)
    // null id OR null sig rows are dropped: the batch twin's
    // id_a < id_b comparison silently discards null ids, while here a
    // null would be a typed-Dataset poison pill killing the stream.
    // Slicing is Dedup.hammingBandKeys — the batch joins' definition,
    // so stream and batch can never band differently.
    val banded = hashed
      .select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"))
      .filter(col("sig").isNotNull && col("id").isNotNull)
      .select(col("id"), col("sig"),
        graft.dedup.Dedup.hammingBandKeys(col("sig"), bands).as("bk"))
      .select(col("bk.band").as("band"), col("bk.h").as("h"), col("id"), col("sig"))
      .as[BandedSig]
    banded
      .groupByKey(d => (d.band, d.h))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, Long), rows: Iterator[BandedSig], state: GroupState[SigBucket]) => {
          var seen = state.getOption.map(_.docs).getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[HamPair]
          rows.toSeq.sortBy(_.id).foreach { d =>
            seen.foreach { case (oid, osig) =>
              if (oid != d.id) {
                val ham = java.lang.Long.bitCount(osig ^ d.sig)
                if (ham <= maxHamming)
                  out += HamPair(math.min(oid, d.id), math.max(oid, d.id), ham)
              }
            }
            seen = (d.id, d.sig) :: seen
          }
          state.update(SigBucket(seen))
          out.iterator
        })
  }

  final case class BandedSigT(band: Int, h: Long, id: Long, sig: Long, ts: java.sql.Timestamp)
  final case class SigBucketT(docs: List[(Long, Long, Long)])

  /** [[hammingPairsStream]] with the PRODUCTION state bound — the
    * fingerprint-stream analogue of [[minhashCandidatesStreamTtl]]:
    * each seen signature expires `ttlMs` after its event time
    * (watermark-relative eviction + idle-bucket event-time timeout +
    * the pairwise event-time check, the same three-way enforcement and
    * for the same reasons — see the MinHash twin's inline comments).
    * State is bounded by one TTL horizon of fingerprints (24 bytes per
    * doc per band); a near-dup arriving more than `ttlMs` after its
    * partner is intentionally NOT reported.
    */
  def hammingPairsStreamTtl(
      hashed: DataFrame,
      idCol: String,
      sigCol: String,
      tsCol: String,
      maxHamming: Int,
      ttlMs: Long = 3600000L,
      lateness: String = "10 seconds",
      bands: Int = 4): Dataset[HamPair] = {
    import hashed.sparkSession.implicits._
    require(bands >= 1 && 64 % bands == 0, s"bands=$bands must divide 64")
    require(ttlMs > 0, s"ttlMs=$ttlMs must be positive")
    requireIntegralId(hashed, idCol)
    val banded = hashed
      .withWatermark(tsCol, lateness)
      .select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"), col(tsCol).as("ts"))
      // a null ts would NPE at d.ts.getTime in the state function —
      // the same replay-forever poison pill as a null id
      .filter(col("sig").isNotNull && col("id").isNotNull && col("ts").isNotNull)
      .select(col("id"), col("sig"), col("ts"),
        graft.dedup.Dedup.hammingBandKeys(col("sig"), bands).as("bk"))
      .select(col("bk.band").as("band"), col("bk.h").as("h"), col("id"), col("sig"), col("ts"))
      .as[BandedSigT]
    banded
      .groupByKey(d => (d.band, d.h))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), rows: Iterator[BandedSigT], state: GroupState[SigBucketT]) => {
          val wm = state.getCurrentWatermarkMs()
          def live(docs: List[(Long, Long, Long)]) = docs.filter(_._3 + ttlMs > wm)
          if (state.hasTimedOut) {
            val kept = live(state.getOption.map(_.docs).getOrElse(Nil))
            if (kept.isEmpty) state.remove()
            else {
              state.update(SigBucketT(kept))
              state.setTimeoutTimestamp(kept.map(_._3).min + ttlMs)
            }
            Iterator.empty
          } else {
            var seen = live(state.getOption.map(_.docs).getOrElse(Nil))
            val out = scala.collection.mutable.ListBuffer.empty[HamPair]
            rows.toSeq.sortBy(_.id).foreach { d =>
              seen.foreach { case (oid, osig, ots) =>
                if (oid != d.id && math.abs(d.ts.getTime - ots) <= ttlMs) {
                  val ham = java.lang.Long.bitCount(osig ^ d.sig)
                  if (ham <= maxHamming)
                    out += HamPair(math.min(oid, d.id), math.max(oid, d.id), ham)
                }
              }
              seen = (d.id, d.sig, d.ts.getTime) :: seen
            }
            state.update(SigBucketT(seen))
            state.setTimeoutTimestamp(seen.map(_._3).min + ttlMs)
            out.iterator
          }
        })
  }

  final case class MediaTsRow(media_id: Long, bytes: Array[Byte], ts: java.sql.Timestamp)
  final case class PHashTsRow(media_id: Long, ahash: Long, ts: java.sql.Timestamp)

  /** Streaming image near-dup mining, end to end: map-side
    * decode + aHash over an unbounded `(media_id, bytes, ts)` stream
    * feeding [[hammingPairsStreamTtl]] — a near-duplicate of any
    * image seen within the TTL horizon surfaces the micro-batch it
    * arrives. The payload bytes never enter state and never shuffle:
    * they are consumed map-side by the decoder and only the 8-byte
    * fingerprint reaches the keyed state store, so state is bounded
    * by one TTL horizon of fingerprints exactly as in the text twin.
    * Undecodable payloads yield no row (the batch contract,
    * [[graft.multimodal.PerceptualHash.perceptualHashes]]).
    *
    * Parity contract (StreamingOpsSpec): distinct pairs over any
    * stream prefix equal the batch
    * [[graft.multimodal.PerceptualHash.phashDupPairs]] set on the
    * union of those batches, within one TTL horizon.
    */
  def phashDupPairsStreamTtl(
      media: DataFrame,
      maxHamming: Int = 3,
      ttlMs: Long = 3600000L,
      lateness: String = "10 seconds",
      bands: Int = 4): Dataset[HamPair] = {
    import media.sparkSession.implicits._
    // fail fast on a non-integral id BEFORE the cast below hides the
    // real type from hammingPairsStreamTtl's own guard — an ANSI cast
    // of a string id would otherwise throw mid-stream and replay
    // forever (review r18)
    requireIntegralId(media, "media_id")
    val hashed = media
      .select(col("media_id").cast("long").as("media_id"), col("bytes"), col("ts"))
      .filter(col("media_id").isNotNull) // typed-decode poison pill
      .as[MediaTsRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.bytes == null || r.bytes.isEmpty) Iterator.empty
          else graft.multimodal.Multimodal.decodeFirstFrame(r.bytes).iterator.map { f =>
            PHashTsRow(r.media_id, graft.multimodal.PerceptualHash.aHash64(f), r.ts)
          }
        }
      }.toDF()
    hammingPairsStreamTtl(hashed, "media_id", "ahash", "ts", maxHamming, ttlMs, lateness, bands)
  }

  final case class BandedDocT(band: Int, h: Long, id: Long, sig: Seq[Long], ts: java.sql.Timestamp)
  final case class BucketStateT(docs: List[(Long, Seq[Long], Long)])

  /** [[minhashCandidatesStream]] with the PRODUCTION state bound: each
    * seen document expires `ttlMs` after its event time, enforced two
    * ways — entries past the watermark-relative TTL are evicted before
    * any new arrival pairs against them (a bucket that keeps receiving
    * data never pairs against expired history), and idle buckets get
    * an event-time timeout that clears their state entirely. Total
    * state is therefore bounded by the corpus volume of one TTL
    * horizon instead of the whole stream — the same horizon-bound
    * contract as `dropDuplicatesWithinWatermark` on the exact-dedup
    * twin, applied to a keyed near-dup seen-set.
    *
    * Semantics vs the unbounded twin: identical WITHIN the horizon; a
    * near-dup arriving more than `ttlMs` (event time) after its
    * partner is intentionally NOT reported (pinned by the spec).
    */
  def minhashCandidatesStreamTtl(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      tsCol: String,
      ttlMs: Long = 3600000L,
      lateness: String = "10 seconds",
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      seed: Long = 42L): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    require(numHashes % bands == 0, s"numHashes=$numHashes must divide into bands=$bands")
    require(ttlMs > 0, s"ttlMs=$ttlMs must be positive")
    requireIntegralId(docs, idCol)
    val sig = docs
      .withWatermark(tsCol, lateness)
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        graft.dedup.ShingleHashes.shingleHashes(col(textCol), n).as("__gh"))
      .select(col("id"), col("ts"),
        graft.dedup.MinHashSig.minhashSig(col("__gh"), numHashes, seed).as("sig"))
      // null sig/id: typed-decode poison pills (see the unbounded
      // twin); null ts would NPE at .getTime in the state function
      .filter(col("sig").isNotNull && col("id").isNotNull && col("ts").isNotNull)
    val banded = sig.select(
      col("id"), col("sig"), col("ts"),
      explode(graft.dedup.Dedup.bandStructs(col("sig"), numHashes, bands)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.h").as("h"), col("id"), col("sig"), col("ts"))
      .as[BandedDocT]
    banded
      .groupByKey(d => (d.band, d.h))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), rows: Iterator[BandedDocT], state: GroupState[BucketStateT]) => {
          val wm = state.getCurrentWatermarkMs()
          def live(docs: List[(Long, Seq[Long], Long)]) = docs.filter(_._3 + ttlMs > wm)
          if (state.hasTimedOut) {
            val kept = live(state.getOption.map(_.docs).getOrElse(Nil))
            if (kept.isEmpty) state.remove()
            else {
              state.update(BucketStateT(kept))
              state.setTimeoutTimestamp(kept.map(_._3).min + ttlMs)
            }
            Iterator.empty
          } else {
            var seen = live(state.getOption.map(_.docs).getOrElse(Nil))
            val out = scala.collection.mutable.ListBuffer.empty[CandPair]
            rows.toSeq.sortBy(_.id).foreach { d =>
              seen.foreach { case (oid, osig, ots) =>
                // the pairwise event-time check IS the documented
                // horizon ("a near-dup arriving more than ttlMs after
                // its partner is NOT reported") — watermark-relative
                // eviction alone under-enforces it whenever the
                // watermark lags the data (same micro-batch, or a
                // fast burst before the watermark advances)
                if (oid != d.id && math.abs(d.ts.getTime - ots) <= ttlMs) {
                  val eq = osig.iterator.zip(d.sig.iterator).count { case (x, y) => x == y }
                  out += CandPair(math.min(oid, d.id), math.max(oid, d.id), eq.toDouble / numHashes)
                }
              }
              seen = (d.id, d.sig, d.ts.getTime) :: seen
            }
            state.update(BucketStateT(seen))
            // earliest remaining expiry; all kept entries satisfy
            // ts + ttl > watermark, so this is a legal future timestamp
            state.setTimeoutTimestamp(seen.map(_._3).min + ttlMs)
            out.iterator
          }
        })
  }

  /** Static shingle-hash index backing streaming exact verification —
    * the stream-side mirror of the persisted `gs` table inside
    * [[graft.dedup.Dedup.verifyCandidates]]: one row per
    * document with its distinct byte-level shingle hashes. Compute it
    * over the indexed corpus, persist it, and refresh per ingestion
    * epoch (a static table is planned ONCE per micro-batch join — a
    * growing corpus needs a periodic snapshot swap, the standard
    * stream-static pattern).
    */
  def shingleIndex(corpus: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    corpus.select(col(idCol).cast("long").as("id"),
      graft.dedup.ShingleHashes.shingleHashes(col(textCol), n).as("gs"))

  /** Exact-verification stage for the streaming candidate feed — the
    * streaming counterpart of the batch LSH->exact path
    * ([[graft.dedup.Dedup.verifyCandidates]]): each candidate pair is
    * stream-static joined against the precomputed [[shingleIndex]] on
    * BOTH endpoints and its TRUE Jaccard computed with the identical
    * arithmetic (|intersect| / (|a| + |b| - |shared|) over the same
    * distinct shingle-hash sets), keeping only pairs at or above
    * `threshold`.
    *
    * Parity contract (pinned by StreamingOpsSpec): over any stream
    * prefix whose docs are all covered by the index, `distinct
    * (id_a, id_b, jaccard)` equals batch `verifyCandidates` on the
    * union of those batches — estimated-Jaccard candidates in, exact
    * verified pairs out, with bit-identical jaccard values. Like the
    * candidate stream, a pair colliding in multiple bands is verified
    * once per colliding band (`dropDuplicates("id_a","id_b")`
    * downstream when exactly-once pairs are required); a candidate
    * whose endpoint is missing from the index is unverifiable and
    * dropped (coverage is the index refresh contract).
    *
    * Scale shape: the static sides carry the shingle ARRAYS, so both
    * joins are shuffle-hash hinted exactly like the batch verify —
    * array payloads must not pass through a sort-merge sort (the
    * measured ~60 GB spill hazard documented there).
    */
  def verifiedNearDupStream(
      candidates: Dataset[CandPair],
      index: DataFrame,
      threshold: Double = 0.5): DataFrame =
    candidates.toDF()
      .join(index.select(col("id").as("id_a"), col("gs").as("gs_a")).hint("shuffle_hash"), "id_a")
      .join(index.select(col("id").as("id_b"), col("gs").as("gs_b")).hint("shuffle_hash"), "id_b")
      .withColumn("shared", size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .withColumn(
        "jaccard",
        col("shared").cast("double") / (size(col("gs_a")) + size(col("gs_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** End-to-end streaming near-dedup: MinHash-LSH candidates via keyed
    * state ([[minhashCandidatesStream]]) -> exact verification against
    * the static corpus index ([[verifiedNearDupStream]]).
    *
    * STATE BOUND — an EXPLICIT choice, no default: `tsCol = Some(ts)`
    * composes the TTL miner ([[minhashCandidatesStreamTtl]] — each
    * seen signature expires `ttlMs` after its event time, so state is
    * bounded by one TTL horizon and a near-dup arriving more than
    * `ttlMs` after its partner is intentionally not reported);
    * `tsCol = None` composes the UNBOUNDED miner (the finite-run /
    * parity shape — its seen-set grows with the whole stream), and
    * writing the `None` is the caller owning that. (r16 hardwired the
    * unbounded miner; a firehose user got unbounded state with only a
    * scaladoc warning.)
    */
  def minhashVerifiedStream(
      docs: DataFrame,
      index: DataFrame,
      textCol: String,
      idCol: String,
      tsCol: Option[String],
      ttlMs: Long = 3600000L,
      lateness: String = "10 seconds",
      n: Int = 3,
      threshold: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    val candidates = tsCol match {
      case Some(ts) =>
        minhashCandidatesStreamTtl(docs, textCol, idCol, ts, ttlMs, lateness,
          n, numHashes, bands, seed)
      case None =>
        minhashCandidatesStream(docs, textCol, idCol, n, numHashes, bands, seed)
    }
    verifiedNearDupStream(candidates, index, threshold)
  }

  // ------------------------------------------- streaming curation pack

  final case class PackDocIn(id: Long, stratum: String, n_tokens: Long)
  final case class PackDocOut(id: Long, stratum: String, n_tokens: Long, start_offset: Long, bin: Long)
  final case class PackState(offset: Long)

  /** Streaming twin of [[graft.text.SequencePacking.assignBins]]:
    * per-stratum start-offset packing with the running token offset as
    * keyed state — one long per stratum, the minimal possible.
    * `n_tokens` is computed BEFORE the stateful hop with the very same
    * `TextAnalysis.tokenCount` expression as the batch form, so the
    * token arithmetic is identical by construction and the state
    * function only accumulates. Exact parity with the batch form
    * (pinned by StreamingOpsSpec) REQUIRES in-order arrival per
    * stratum: each micro-batch group is sorted by id, cross-batch
    * order is the source's contract — same caveat as
    * [[cycleLabelStream]]. `orderCol` must be integral, the same
    * contract as the batch skew-safe form.
    *
    * The OTHER curation-pack stages need no twin at all: stratified
    * sampling ([[graft.ops.Sampling.stratified]]) and PII scrub
    * ([[graft.text.PiiScrub.scrubbed]]) are stateless per-row
    * projections/filters, so the batch functions run unchanged on a
    * streaming DataFrame — StreamingOpsSpec pins both parities there
    * too, with no wrapper to drift.
    *
    * THROUGHPUT CEILING, stated plainly: parallelism is the stratum
    * count (one state key per stratum) and each stratum's micro-batch
    * slice is buffered and sorted in ONE task — the same
    * serialization the batch facade's window form has, WITHOUT a
    * distributed escape (a stream cannot chunk a running offset).
    * A handful-of-strata firehose belongs in
    * [[packBinsForeachBatch]] — the shipped `foreachBatch` loop over
    * [[graft.text.SequencePacking.assignBinsDistributed]] with
    * carried offsets — not in this stateful twin.
    */
  def packBinsStream(
      docs: DataFrame,
      textCol: String,
      strataCol: String,
      orderCol: String,
      capacity: Int): Dataset[PackDocOut] = {
    import docs.sparkSession.implicits._
    require(capacity > 0, s"capacity=$capacity must be positive")
    requireIntegralId(docs, orderCol)
    // a null text (or null order/stratum key) would NPE decoding into
    // the primitive-field case class — a poison pill that kills the
    // query and every restart; drop such rows instead (the batch form
    // carries them with null bins — documented divergence, nothing
    // sane to pack)
    val prepped = docs.select(
      col(orderCol).cast("long").as("id"),
      col(strataCol).cast("string").as("stratum"),
      graft.text.TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .filter(col("id").isNotNull && col("stratum").isNotNull && col("n_tokens").isNotNull)
      .as[PackDocIn]
    prepped.groupByKey(_.stratum)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (stratum: String, rows: Iterator[PackDocIn], state: GroupState[PackState]) => {
          var off = state.getOption.map(_.offset).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.id).map { d =>
            // start offsets are non-negative, so long division == floor
            val o = PackDocOut(d.id, stratum, d.n_tokens, off, off / capacity)
            off += d.n_tokens
            o
          }
          state.update(PackState(off))
          out.iterator
        })
  }

  // -- the foreachBatch firehose escapes for the sequential-counter twins --
  //
  // packBinsStream and lengthBatchingStream carry ONE running counter
  // per stratum/bucket in keyed state: minimal state, but parallelism
  // = the key count and each key's whole micro-batch slice buffers and
  // sorts in one task. Their scaladocs used to POINT at "a foreachBatch
  // loop over the distributed batch operator with carried offsets" as
  // the firehose shape; these ship it. Per micro-batch the
  // fully-distributed batch operator runs (chunked running sums —
  // parallelism bounded by data, not keys) and the cross-batch counters
  // live in a tiny per-batch parquet snapshot: batch n reads the
  // latest `offsets-<m>` (m < n, missing = zeros), computes, then
  // OVERWRITES `outPath/batch=<n>/` and `offsets-<n>` — every step
  // deterministic given (batch, offsets-<m>) and every write an
  // overwrite at a batch-keyed location, so a crash anywhere replays
  // identically (the SeenIndex exactly-once argument, without needing
  // a ledger because the batchId itself keys the state chain).
  // OutPath, stateDir, and the checkpoint are a UNIT: a fresh
  // checkpoint restarts batchIds at 0 — give it fresh dirs too.

  /** The batch ids of every `offsets-<n>` snapshot in `stateDir` —
    * the one parser [[carriedOffsets]] and [[pruneOffsets]] share.
    */
  private def snapshotIds(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Array[Long] =
    if (fs.exists(dir))
      fs.listStatus(dir).map(_.getPath.getName).collect {
        case n if n.startsWith("offsets-") && n.substring(8).nonEmpty &&
          n.substring(8).forall(_.isDigit) => n.substring(8).toLong
      }
    else Array.empty[Long]

  /** Latest carried-counter snapshot strictly BEFORE `batchId` —
    * `(key string, offset long)`; empty on the first batch.
    */
  private def carriedOffsets(
      spark: SparkSession, stateDir: String, batchId: Long): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior = snapshotIds(fs, dir).filter(_ < batchId)
    if (prior.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("key", StringType), StructField("offset", LongType))))
    else
      spark.read.schema("key STRING, offset BIGINT")
        .parquet(s"$stateDir/offsets-${prior.max}")
  }

  /** Prune counter snapshots no replay can need: batch n's replay
    * reads the latest snapshot strictly below n, so after `offsets-<n>`
    * lands everything below n-1 is dead weight — without pruning a
    * firehose accumulates one snapshot dir per micro-batch forever and
    * [[carriedOffsets]]' per-batch listing grows with stream age.
    * Keeping n-1 (not just n) is one snapshot of paranoia beyond what
    * the micro-batch runner's replay-only-the-last-batch contract
    * requires.
    */
  private def pruneOffsets(
      spark: SparkSession, stateDir: String, batchId: Long): Unit = {
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    snapshotIds(fs, dir).filter(_ < batchId - 1).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"offsets-$n"), true); ()
    }
  }

  /** [[packBinsStream]]'s firehose escape (see the section comment):
    * per-stratum start-offset packing at FULL parallelism via
    * [[graft.text.SequencePacking.assignBinsDistributed]], offsets
    * carried across micro-batches in `stateDir`. Output rows land
    * under `outPath/batch=<n>/` with the input columns plus
    * `n_tokens`, `start_offset`, `bin` (read `outPath` as one table;
    * partition discovery adds `batch`). Rows with a null stratum,
    * order, or token count are dropped, exactly as the stateful twin
    * drops them. Parity (StreamingOpsSpec): fed in `orderCol` order
    * per stratum, the union of all batch dirs equals the batch
    * operator on the union of the batches.
    */
  def packBinsForeachBatch(
      docs: DataFrame,
      textCol: String,
      strataCol: String,
      orderCol: String,
      capacity: Int,
      outPath: String,
      stateDir: String,
      checkpointDir: String,
      numChunks: Int = 64): StreamingQuery = {
    require(capacity > 0, s"capacity=$capacity must be positive")
    requireIntegralId(docs, orderCol)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        packBinsBatch(batch, batchId, textCol, strataCol, orderCol, capacity,
          outPath, stateDir, numChunks)
      }
      .start()
  }

  /** One [[packBinsForeachBatch]] micro-batch — factored out so the
    * replay-idempotence contract is directly testable (the same
    * factoring as SeenIndex's exactly-once bodies).
    */
  private[graft] def packBinsBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      strataCol: String,
      orderCol: String,
      capacity: Int,
      outPath: String,
      stateDir: String,
      numChunks: Int = 64): Unit = CacheScope.run(batch.sparkSession) {
    val spark = batch.sparkSession
    val carried = carriedOffsets(spark, stateDir, batchId)
      .toDF("__cb_key", "__cb_base")
    val packed = graft.text.SequencePacking.assignBinsDistributed(
      batch.filter(col(strataCol).isNotNull && col(orderCol).isNotNull &&
        col(textCol).isNotNull),
      textCol, strataCol, orderCol, capacity, numChunks)
    // two consumers (output write + totals aggregate): one
    // materialization, released when the batch's scope ends
    val shifted = CacheScope.checkpoint(spark) {
      // shift each stratum by its carried base; the snapshot is
      // control-plane-sized (one row per stratum), so broadcast
      packed
        .join(broadcast(carried), col(strataCol).cast("string") === col("__cb_key"), "left")
        .withColumn("__cb_base", coalesce(col("__cb_base"), lit(0L)))
        .withColumn("start_offset", col("start_offset") + col("__cb_base"))
        // integral div, not floor-of-double: the carried start_offset
        // accumulates over the stream's LIFETIME, so unlike the batch
        // operator's single-corpus window it can cross 2^53 where double
        // division loses exactness (the repo-wide div convention)
        .withColumn("bin", expr(s"start_offset div ${capacity.toLong}"))
        .drop("__cb_key")
    }
    shifted.drop("__cb_base").write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    // post-batch totals: end offset of each stratum's last doc;
    // strata absent from this batch keep their carried value
    val totals = shifted
      .groupBy(col(strataCol).cast("string").as("key"))
      .agg(max(col("start_offset") + col("n_tokens")).as("offset"))
      .unionByName(carried.select(col("__cb_key").as("key"), col("__cb_base").as("offset")))
      .groupBy(col("key")).agg(max(col("offset")).as("offset"))
    totals.write.mode("overwrite").parquet(s"$stateDir/offsets-$batchId")
    pruneOffsets(spark, stateDir, batchId)
  }

  /** [[lengthBatchingStream]]'s firehose escape (see the section
    * comment): per-bucket arrival-order batch ordinals at full
    * parallelism — the within-batch ordinal is a unit-count run of
    * the SAME chunked machinery
    * ([[graft.text.SequencePacking.assignBinsDistributedFromCounts]]
    * with a literal 1 per row: its start_offset IS the 0-based
    * per-bucket rank), shifted by the carried per-bucket count.
    * Output rows `(id, n_tokens, bucket, batch_id)` land under
    * `outPath/batch=<n>/`; same arrival-order semantics and
    * null-drop rule as the stateful twin, same per-(bucket, batch)
    * size-multiset parity with the batch operator.
    */
  def lengthBatchingForeachBatch(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      bucketWidth: Int,
      batchSize: Int,
      outPath: String,
      stateDir: String,
      checkpointDir: String,
      numChunks: Int = 64): StreamingQuery = {
    require(bucketWidth > 0, s"bucketWidth=$bucketWidth must be positive")
    require(batchSize > 0, s"batchSize=$batchSize must be positive")
    requireIntegralId(docs, idCol)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        lengthBatchingBatch(batch, batchId, idCol, tokensCol, bucketWidth, batchSize,
          outPath, stateDir, numChunks)
      }
      .start()
  }

  /** One [[lengthBatchingForeachBatch]] micro-batch — factored out
    * like [[packBinsBatch]] so replay idempotence is testable.
    */
  private[graft] def lengthBatchingBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      tokensCol: String,
      bucketWidth: Int,
      batchSize: Int,
      outPath: String,
      stateDir: String,
      numChunks: Int = 64): Unit = CacheScope.run(batch.sparkSession) {
    val spark = batch.sparkSession
    val carried = carriedOffsets(spark, stateDir, batchId)
      .toDF("__cb_key", "__cb_base")
    val prepped = batch
      .select(col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("n_tokens"))
      .filter(col("id").isNotNull && col("n_tokens").isNotNull)
      // integral div, the batch operator's arithmetic
      // (LengthBatching.assignBatchesFromCounts), not floor-of-
      // double — exactness past 2^53 and the repo-wide convention
      .withColumn("bucket", expr(s"n_tokens div ${bucketWidth.toLong}"))
      .withColumn("__one", lit(1L))
    val ranked = graft.text.SequencePacking.assignBinsDistributedFromCounts(
      prepped, "__one", "bucket", "id", batchSize, numChunks)
    val shifted = CacheScope.checkpoint(spark) {
      ranked
        .join(broadcast(carried), col("bucket").cast("string") === col("__cb_key"), "left")
        .withColumn("__cb_base", coalesce(col("__cb_base"), lit(0L)))
        .withColumn("batch_id",
          expr(s"(start_offset + __cb_base) div ${batchSize.toLong}"))
    }
    shifted.select(col("id"), col("n_tokens"), col("bucket"), col("batch_id"))
      .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    val totals = shifted
      .groupBy(col("bucket").cast("string").as("key"))
      .agg(max(col("start_offset") + col("__cb_base") + 1L).as("offset"))
      .unionByName(carried.select(col("__cb_key").as("key"), col("__cb_base").as("offset")))
      .groupBy(col("key")).agg(max(col("offset")).as("offset"))
    totals.write.mode("overwrite").parquet(s"$stateDir/offsets-$batchId")
    pruneOffsets(spark, stateDir, batchId)
  }

  // ------------------------------------------- streaming release gate

  /** The benchmark's distinct n-gram set collected to the driver —
    * the streaming counterpart of [[graft.text.Decontamination]]'s
    * broadcast: the SAME contract (an evaluation set is control-plane
    * sized next to the corpus) that lets the batch path broadcast it
    * lets the streaming path carry it as a literal array. Snapshot it
    * per benchmark release, like [[shingleIndex]].
    */
  def benchGramSet(bench: DataFrame, textCol: String, n: Int = 3): Seq[String] =
    bench
      .select(explode(
        graft.text.Decontamination.distinctNgrams(col(textCol), n)).as("g"))
      .distinct().collect().map(_.getString(0)).toSeq

  /** Streaming twin of the q77 GATE CHAIN — the corpus-release
    * composition minus the permutation: exact dedup → Gopher quality
    * gate → decontamination REMOVAL, one composed stream. Each stage
    * is the already-pinned twin of its batch counterpart:
    *
    *  - dedup is [[exactDedupStream]] (cross-batch fingerprint state;
    *    first arrival wins — equal to the batch smallest-id canonical
    *    when ids arrive in order, the documented parity caveat);
    *  - the gate is the BATCH [[graft.text.QualityFilters.gophered]]
    *    itself — every signal is row-local column algebra and the
    *    pushdown fence is a stateless leaf, so the exact batch
    *    operator runs unchanged on the stream (no twin needed);
    *  - decontamination removal inverts the
    *    [[graft.text.Decontamination.report]] flag: a document whose
    *    distinct-`n`-gram overlap fraction with the benchmark
    *    snapshot reaches `flagThreshold` is
    *    DROPPED (the batch [[graft.text.Decontamination
    *    .decontaminated]] left-anti); gram-free documents (< n
    *    tokens) cannot be flagged and pass, exactly as in batch.
    *
    * Output = the caller's columns, append-mode-legal (dedup is the
    * only stateful stage). The gram set embeds as a plan literal, so
    * it is size-guarded (`maxBenchGrams`). Parity (StreamingOpsSpec):
    * over any prefix fed in id order, the kept id set equals the batch
    * dedup→gophered→decontaminated composition on the union of those
    * batches — q77's released set when fed the corpus slice with the
    * bench slice's grams.
    *
    * STATE BOUND — an EXPLICIT choice, no default: `tsCol = Some(ts)`
    * bounds the dedup stage's seen-set to the watermark horizon
    * (`dropDuplicatesWithinWatermark` — the production shape; a dup
    * arriving beyond the horizon is re-admitted); `tsCol = None` is
    * the UNBOUNDED seen-set (one fingerprint per distinct doc,
    * forever) — the finite-run / parity shape, and writing the `None`
    * is the caller owning that. (r16 shipped `None` as a silent
    * default; a firehose user following the signature inherited
    * unbounded state — the exact failure this parameter now refuses
    * to default.) For cross-RUN dedup state, gate through the durable
    * [[graft.dedup.SeenIndex]] loops instead.
    */
  def releaseGateStream(
      docs: DataFrame,
      benchGrams: Seq[String],
      textCol: String,
      idCol: String,
      tsCol: Option[String],
      watermark: String = "1 hour",
      n: Int = 3,
      flagThreshold: Double = 0.05,
      maxBenchGrams: Int = 1000000): DataFrame = {
    require(benchGrams.size <= maxBenchGrams,
      s"releaseGateStream embeds benchGrams as a plan literal: ${benchGrams.size} grams " +
        s"exceeds maxBenchGrams=$maxBenchGrams — snapshot the grams into a static table " +
        "and run Decontamination.reportWith per micro-batch (perBatch) instead, or raise " +
        "the bound knowingly")
    // flagThreshold = 0 would make the zero-overlap short-circuit
    // below DIVERGE from the batch gate (contam_frac >= 0 flags every
    // gram-bearing doc there, while the stream would keep every
    // zero-overlap doc); the batch parity contract only makes sense
    // for a positive threshold, so reject the degenerate value.
    require(flagThreshold > 0.0,
      s"flagThreshold $flagThreshold must be > 0 (0 would flag the entire gram-bearing corpus)")
    Seq("__rg_gs", "__rg_overlap").foreach(c =>
      require(!docs.columns.contains(c), s"input must not contain reserved column $c"))
    val deduped = exactDedupStream(docs, textCol, tsCol, watermark)
    // gophered appends signal columns; project back to the caller's
    // frame so the composed stream's schema is its input's
    val gated = graft.text.QualityFilters.gophered(deduped, textCol)
      .select(docs.columns.toIndexedSeq.map(col): _*)
    gated
      .withColumn("__rg_gs", graft.text.Decontamination.distinctNgrams(col(textCol), n))
      .withColumn("__rg_overlap",
        size(array_intersect(col("__rg_gs"), lit(benchGrams.toArray))).cast("long"))
      // NaN guard is structural: the fraction is only compared when
      // __rg_overlap > 0, which forces size(__rg_gs) > 0
      .filter(col("__rg_overlap") === 0L ||
        col("__rg_overlap").cast("double") / size(col("__rg_gs")).cast("double") < flagThreshold)
      .drop("__rg_gs", "__rg_overlap")
  }

  // ------------------------------- streaming substring-dedup twins

  final case class SpanHit(id: Long, hit: Option[Int])
  final case class SpanStatsOut(doc_id: Long, n_spans: Int, dup_spans: Int, dup_ratio: Double)

  /** Streaming twin of [[graft.text.RepeatedSpans.docDupStats]]:
    * score ARRIVING documents against a SNAPSHOT span-frequency table
    * ([[graft.text.RepeatedSpans.spanFrequency]] over the corpus
    * release — corpus-sized, so it stays a stream-static join on the
    * span, never a literal; persist it, the static side re-plans per
    * micro-batch). Span positions explode from one input row
    * (doc-atomicity: a document's group completes within its own
    * micro-batch), LEFT-join the flagged
    * span set with a hit marker, and one zero-retained-state group
    * pass per document counts positions and hits. Documents shorter
    * than one span emit nothing (they have no positions — the batch
    * form reports them as `n_spans = 0` via its doc-grain left join;
    * parity below is over the `n >= k` population).
    *
    * Parity (StreamingOpsSpec): streaming the SAME corpus the
    * snapshot was built from equals batch `docDupStats` row-for-row
    * on documents with at least one span, doubles bit-identical
    * (same two-integer divide).
    */
  def repeatedSpansStream(
      docs: DataFrame,
      spanFreq: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      minDocs: Int = 2): Dataset[SpanStatsOut] = {
    import docs.sparkSession.implicits._
    require(minDocs >= 2, s"minDocs=$minDocs: a span is 'repeated' across >= 2 documents")
    requireIntegralId(docs, idCol)
    val flagged = spanFreq.filter(col("n_docs") >= minDocs)
      .select(col("span")).withColumn("__rs_hit", lit(1))
    // null-id rows dropped: typed-decode poison pill
    graft.text.RepeatedSpans.spanPositions(docs.filter(col(idCol).isNotNull), textCol, idCol, k)
      .select(col(idCol).cast("long").as("id"), col("span"))
      .join(flagged, Seq("span"), "left")
      .select(col("id"), col("__rs_hit").as("hit"))
      .as[SpanHit]
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[SpanHit], state: GroupState[Long]) => {
          var nPos = 0
          var nHit = 0
          rows.foreach { r => nPos += 1; if (r.hit.isDefined) nHit += 1 }
          // state is never set: a doc's positions explode from one
          // input row, so its group completes within its micro-batch
          Iterator(SpanStatsOut(id, nPos, nHit, nHit.toDouble / nPos))
        })
  }

  final case class CapIn(id: Long, domain: String)
  final case class CapOut(id: Long, domain: String)

  /** Streaming twin of [[graft.ops.Sampling.domainCap]] with ARRIVAL-
    * ORDER semantics: keep the first `cap` documents per domain across
    * micro-batches (state = one running count per domain — O(domains),
    * the minimal possible). The batch operator can rank the whole
    * population by MINSTD score; a stream cannot re-rank
    * retroactively (admitting a later row would require un-emitting an
    * earlier one), so the streaming cap is first-come-first-kept —
    * the same batch-vs-stream semantic split as [[exactDedupStream]]'s
    * first-arrival winner. What IS preserved exactly: per-domain kept
    * counts (min(cap, n_d) — StreamingOpsSpec pins them equal to the
    * batch operator's), the cap bound itself, and determinism given
    * one arrival order. Within a micro-batch, ties are admitted in
    * ascending id for batch-layout independence.
    */
  def domainCapStream(
      docs: DataFrame, idCol: String, domainCol: String, cap: Int): Dataset[CapOut] = {
    import docs.sparkSession.implicits._
    require(cap > 0, s"cap=$cap must be positive")
    requireIntegralId(docs, idCol)
    // columns by NAME, not position (a positional toDF mis-keys any
    // (domain, id)-ordered frame and arity-errors on wider ones);
    // null ids dropped: typed-decode poison pill
    docs.select(col(idCol).cast("long").as("id"), col(domainCol).cast("string").as("domain"))
      .filter(col("id").isNotNull)
      .as[CapIn]
      .groupByKey(_.domain)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (domain: String, rows: Iterator[CapIn], state: GroupState[Long]) => {
          var seen = state.getOption.getOrElse(0L)
          // short-circuit an already-capped domain BEFORE buffering:
          // a Zipfian mega-domain keeps arriving forever after its cap
          // is hit, and sorting its whole micro-batch slice to emit
          // nothing would spend unbounded single-task memory on zero
          // output for the stream's lifetime
          if (seen >= cap) { rows.foreach(_ => ()); Iterator.empty }
          else {
            val admitted = rows.toSeq.sortBy(_.id).iterator
              .takeWhile(_ => seen < cap)
              .map { r => seen += 1; CapOut(r.id, domain) }
              .toVector
            state.update(seen)
            admitted.iterator
          }
        })
  }

  final case class BatchIn(id: Long, n_tokens: Long)
  final case class BatchOut(id: Long, n_tokens: Long, bucket: Long, batch_id: Long)

  /** Streaming twin of [[graft.text.LengthBatching.assignBatches]]
    * with ARRIVAL-ORDER semantics: the bucket is the same pure
    * integer function (`n_tokens div bucketWidth`), but batch
    * ordinals fill in arrival order — a stream cannot re-rank by the
    * id-ordered layout the batch operator uses (admitting a later row
    * into an earlier batch would re-open a shipped batch). State is
    * one running count per bucket — O(buckets), bounded by
    * max_tokens / bucketWidth. The same batch-vs-stream semantic
    * split as [[domainCapStream]]; what IS preserved exactly:
    * bucket assignment, every non-final batch exactly full, per-
    * (bucket, batch) size multiset equal to the batch operator's
    * (StreamingOpsSpec pins it). Ties within a micro-batch are
    * admitted in ascending id for batch-layout independence.
    *
    * THROUGHPUT CEILING: O(buckets) state keys also means at most
    * `buckets` concurrent tasks, each buffering and sorting its whole
    * per-bucket micro-batch slice — and Zipfian document lengths make
    * the middle buckets hot. A firehose belongs in
    * [[lengthBatchingForeachBatch]] — the shipped `foreachBatch` loop
    * with carried per-bucket counts — as with [[packBinsStream]] /
    * [[packBinsForeachBatch]].
    */
  def lengthBatchingStream(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      bucketWidth: Int,
      batchSize: Int): Dataset[BatchOut] = {
    import docs.sparkSession.implicits._
    require(bucketWidth > 0, s"bucketWidth=$bucketWidth must be positive")
    require(batchSize > 0, s"batchSize=$batchSize must be positive")
    // columns selected BY NAME — a positional toDF rename would
    // silently swap two long columns if the caller's order differed.
    // Null ids/counts would NPE the primitive-field decode (poison
    // pill); dropped instead.
    docs
      .select(col(idCol).cast("long").as("id"), col(tokensCol).cast("long").as("n_tokens"))
      .filter(col("id").isNotNull && col("n_tokens").isNotNull)
      .as[BatchIn]
      .groupByKey(_.n_tokens / bucketWidth)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (bucket: Long, rows: Iterator[BatchIn], state: GroupState[Long]) => {
          var seen = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.id).map { r =>
            val b = BatchOut(r.id, r.n_tokens, bucket, seen / batchSize)
            seen += 1
            b
          }
          state.update(seen)
          out.iterator
        })
  }

  // ------------------------------------------------- stateful cycles

  final case class EventIn(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
  final case class CycleOut(user_id: Long, event_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double, cycle: Long)
  final case class CycleState(lastType: String, cycle: Long)

  /** W1's streaming twin: per-device run-length cycle ids via keyed
    * state. Exact parity with the batch `Segmentation.labelCycles`
    * REQUIRES in-order arrival per key (we sort each micro-batch's
    * group by (ts, event_id); cross-batch reordering is bounded by the
    * upstream source, as in any event-time-ordered log). State is one
    * (lastType, cycle) pair per device — minimal PER KEY, but the key
    * set grows with all-time device cardinality (NoTimeout — cycle
    * numbering must survive idle gaps, so the state cannot expire
    * without renumbering a returning device). Fleets with heavy
    * device churn should partition long-idle devices out upstream or
    * run the batch operator over bounded windows.
    */
  def cycleLabelStream(events: Dataset[EventIn]): Dataset[CycleOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[EventIn], state: GroupState[CycleState]) => {
          // null-safe ts key: the batch twin's window ORDER BY sorts
          // null ts FIRST (SQL nulls-first ascending); Long.MinValue
          // reproduces that, where bare .getTime would NPE-poison the
          // stream on the first null-ts event (review r18)
          val sorted = rows.toSeq.sortBy(e =>
            (if (e.ts == null) Long.MinValue else e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(CycleState(null, 0L))
          val out = sorted.map { e =>
            // mirror of the batch change detector `prev IS DISTINCT
            // FROM cur` (null-safe): a null state is a state value —
            // a null run is one cycle, entering/leaving it changes.
            // The initial lastType=null doubles as lag()'s null on the
            // first row, including the shared leading-null-run=cycle-0
            // degeneracy (see Segmentation.labelCycles).
            val changed = !java.util.Objects.equals(st.lastType, e.event_type)
            st = CycleState(e.event_type, if (changed) st.cycle + 1 else st.cycle)
            CycleOut(userId, e.event_id, e.ts, e.event_type, e.value, st.cycle)
          }
          state.update(st)
          out.iterator
        })
  }
}
