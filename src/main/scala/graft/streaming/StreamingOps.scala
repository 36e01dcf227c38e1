package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch operators (SURVEY.md §2.10).
  * The reference is batch-only ("Analytics Approach: Batch Processing",
  * Requirements/requirements.md:6); these are the engine's additive
  * capability: the same weekly/hourly aggregations and cycle
  * segmentation over an unbounded `events` stream.
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

  /** The shared admit-iff-zero-hits group pass behind the three
    * stateless dropSeen stream gates (review r18: previously three
    * hand-synced copies). State is NEVER set: all of a group's rows
    * explode from one input row, so the group completes within its
    * micro-batch — zero retained state by construction.
    */
  private def admitIfUnseen[K, H, O: org.apache.spark.sql.Encoder](
      grouped: org.apache.spark.sql.KeyValueGroupedDataset[K, H])(
      isHit: H => Boolean)(out: K => O): Dataset[O] = {
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (key: K, rows: Iterator[H], state: GroupState[Long]) => {
        var hits = 0
        rows.foreach { r => if (isHit(r)) hits += 1 }
        if (hits == 0) Iterator.single(out(key)) else Iterator.empty
      })
  }

  final case class SeenHit(id: Long, sig: Long, hit: Option[Int])
  final case class KeptSig(id: Long, sig: Long)

  /** Streaming twin of [[graft.dedup.Dedup.dropSeenHamming]] — the
    * live ingest gate: each arriving (id, sig) row is admitted iff
    * its signature is NOT within `maxHamming` of any signature in the
    * STATIC reference index. The reference is banded once
    * ([[graft.dedup.Dedup.bandedSigs]] — the same slicing as every
    * batch join, so gate and batch can never disagree) and the stream
    * side takes ONE stream-static LEFT join per arriving band slice:
    * a candidate reference signature rides back on the row, the exact
    * `bitCount(xor)` verifies it, and a per-id group pass admits the
    * ids with zero verified hits. ZERO retained state (the group
    * completes in its own micro-batch — all of an id's band rows
    * explode from one input row) and the static side broadcasts /
    * re-plans per micro-batch, so the gate's RETAINED cost is the
    * batch's own size, independent of stream history. HONEST static
    * caveat: the bands-way explode over the reference is derived
    * INSIDE this function, so persisting `refSigs` does not stop the
    * |ref| x bands banding from re-running each trigger — a
    * reference-sized per-batch tax at second-scale triggers over a
    * huge index. At that regime, gate in a `foreachBatch` loop with
    * [[graft.dedup.Dedup.dropSeenHamming]] over a persisted banded
    * table instead (the [[graft.dedup.SeenIndex]] ingest loops are
    * exactly that shape).
    *
    * Parity (StreamingOpsSpec): kept ids over any stream prefix equal
    * the batch gate on the union of those batches. Pigeonhole
    * exactness carries over unchanged (`maxHamming < bands`). Rows
    * with null id or sig are dropped (typed-Dataset poison pills;
    * the batch twin KEEPS null sigs — gate them upstream, as its
    * scaladoc already directs). The group key is `(id, sig)`, so an
    * id carrying SEVERAL signatures in one micro-batch gates each row
    * independently, exactly like the batch twin; only EXACT duplicate
    * `(id, sig)` rows within a micro-batch collapse to one output row
    * (the one residual divergence — a batch frame would keep both).
    */
  def dropSeenHammingStream(
      hashed: DataFrame,
      refSigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3,
      bands: Int = 4): Dataset[KeptSig] = {
    import hashed.sparkSession.implicits._
    requireIntegralId(hashed, idCol)
    val bandedRef = graft.dedup.Dedup.bandedSigs(refSigs, bands)
      .toDF("ref_sig", "band", "h")
    val grouped = hashed
      .select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"))
      .filter(col("sig").isNotNull && col("id").isNotNull)
      .select(col("id"), col("sig"),
        graft.dedup.Dedup.hammingBandKeys(col("sig"), bands).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.h").as("h"))
      .join(bandedRef, Seq("band", "h"), "left")
      .select(col("id"), col("sig"),
        when(col("ref_sig").isNotNull &&
          bit_count(col("sig").bitwiseXOR(col("ref_sig"))) <= maxHamming, lit(1)).as("hit"))
      .as[SeenHit]
      .groupByKey(r => (r.id, r.sig))
    admitIfUnseen(grouped)(_.hit.isDefined)(k => KeptSig(k._1, k._2))
  }

  final case class SeenVecHit(id: Long, vec: Seq[Float], hit: Option[Int])
  final case class KeptVec(id: Long, vec: Seq[Float])

  /** [[graft.similarity.Similarity.dropSeenEmbedding]]'s Structured
    * Streaming twin — the SEMANTIC ingest gate over an unbounded
    * `(id, vec)` stream against a STATIC reference corpus: admit only
    * the arrivals with no reference vector at cosine >= `threshold`.
    * Same construction as [[dropSeenHammingStream]] lifted to
    * embedding space: the reference unit-normalizes once into a
    * banded RHP-signature table — NOTE the banding is derived INSIDE
    * this function, downstream of `ref`, so persisting the input does
    * not stop the normalize+signature pass re-executing every
    * micro-batch; at reference sizes where that matters, run the
    * batch gate in foreachBatch against a precomputed signature store
    * instead (the [[graft.dedup.SeenIndex]] loops are exactly that
    * shape). Each arrival pays one signature + one stream-static
    * LEFT join per band slice, the candidate reference unit vector
    * rides back on the row and the exact dot verifies it (the same
    * [[graft.similarity.VecDot]] arithmetic as the batch gate, so
    * stream and batch can never disagree on a candidate), and a
    * per-id group pass admits ids with zero verified hits. ZERO
    * retained state — all of an id's band rows explode from one input
    * row, so its group completes in its own micro-batch and the
    * per-batch cost is the batch's own size, independent of history.
    *
    * Radius-0 banding only (the gate regime: high thresholds where
    * exact band collision carries the recall); LSH recall caveats
    * carry over from the batch twin — a banding miss passes the gate.
    * Output rows carry the ORIGINAL (un-normalized) vector.
    *
    * Parity (StreamingOpsSpec): kept ids over any stream prefix equal
    * the batch gate on the union of those batches — minus degenerate
    * rows: null/NaN/zero-norm vectors are DROPPED here (typed-Dataset
    * poison pills, the [[dropSeenHammingStream]] rule) where the
    * batch twin keeps them; gate them upstream. The group key is
    * `(id, vec)` — an id carrying several vectors in one micro-batch
    * gates each row independently, like the batch twin; only exact
    * duplicate `(id, vec)` rows collapse to one output row. COST
    * NOTE: that key ships the dim-float vector through the group
    * exchange once per band row (bands x ~4*dim bytes per arrival) —
    * fine at gate-batch sizes; at firehose volume use the durable
    * foreachBatch loops, whose band join exchanges only LSH keys.
    */
  def dropSeenEmbeddingStream(
      vecs: DataFrame,
      ref: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Array[Array[Float]],
      bands: Int = 8): Dataset[KeptVec] = {
    import vecs.sparkSession.implicits._
    import graft.similarity.Similarity
    require(planes.length % bands == 0,
      s"planes=${planes.length} must divide evenly into bands=$bands")
    val bitsPerBand = planes.length / bands
    require(bitsPerBand >= 8,
      s"bitsPerBand=$bitsPerBand: bands narrower than 8 bits degenerate toward all-pairs")
    requireIntegralId(vecs, idCol)
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1L
    // same degenerate guard as the batch miners' unitVectors
    // (Similarity.scala): null / NaN / zero AND INFINITE norms are
    // excluded — x/Inf is NaN element-wise, and a NaN dot PASSES
    // ">= threshold" under Spark's NaN ordering, so an unguarded Inf
    // row would be silently gated (arrival side) or spuriously gate
    // everything in its buckets (reference side)
    def withUnit(df: DataFrame, vc: String) = df
      .withColumn("__norm", Similarity.norm(col(vc)))
      .withColumn("__uvec",
        when(col("__norm") > 0 && !isnan(col("__norm")) &&
            col("__norm") < lit(Double.PositiveInfinity),
          transform(col(vc), x => x / col("__norm"))))
      .filter(col("__uvec").isNotNull)
      .drop("__norm")
    def bandKeys(sig: org.apache.spark.sql.Column) = explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * bitsPerBand).bitwiseAND(lit(mask)).as("h"))
    }: _*))
    val bandedRef = withUnit(ref.select(col(vecCol)), vecCol)
      .withColumn("__rsig", Similarity.rhpSignature(col("__uvec"), planes))
      .select(col("__uvec").as("ref_uvec"), bandKeys(col("__rsig")).as("bk"))
      .select(col("ref_uvec"), col("bk.band").as("band"), col("bk.h").as("h"))
    val grouped = withUnit(
      vecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .filter(col("id").isNotNull),
      "vec")
      .withColumn("__sig", Similarity.rhpSignature(col("__uvec"), planes))
      .select(col("id"), col("vec"), col("__uvec"), bandKeys(col("__sig")).as("bk"))
      .select(col("id"), col("vec"), col("__uvec"), col("bk.band").as("band"), col("bk.h").as("h"))
      .join(bandedRef, Seq("band", "h"), "left")
      .select(col("id"), col("vec"),
        when(col("ref_uvec").isNotNull &&
          Similarity.dot(col("__uvec"), col("ref_uvec")) >= threshold, lit(1)).as("hit"))
      .as[SeenVecHit]
      .groupByKey(r => (r.id, r.vec))
    admitIfUnseen(grouped)(_.hit.isDefined)(k => KeptVec(k._1, k._2))
  }

  final case class SeenJacHit(id: Long, hit: Option[Int])
  final case class KeptId(id: Long)

  /** [[graft.dedup.Dedup.dropSeenJaccard]]'s Structured Streaming
    * twin — the n-gram-overlap ingest gate over an unbounded
    * `(id, text)` stream against a STATIC reference corpus: admit
    * only arrivals with no reference document at exact Jaccard >=
    * `threshold`. `refIndex` is the [[shingleIndex]] of the reference.
    * HONEST static caveat: the reference's MinHash signatures and
    * banding are derived INSIDE this function, so persisting
    * `refIndex` caches only the shingle arrays — the 32-hash
    * signature pass over the whole reference re-runs every trigger, a
    * reference-sized per-batch tax at second-scale triggers. At that
    * regime gate in a `foreachBatch` loop against a persisted
    * signature table ([[graft.dedup.SeenIndex.gateStream]] is the
    * durable form of exactly that shape). Each arrival pays one
    * shingle+signature pass, one
    * stream-static LEFT join per banded MinHash key against the
    * reference's banded signatures, one stream-static join pulling
    * each candidate's reference shingle set, and the EXACT Jaccard
    * (identical arithmetic to the batch gate) decides the hit; a
    * per-id group pass admits ids with zero verified hits. ZERO
    * retained state — all of an id's rows derive from one input row,
    * so its group completes in its own micro-batch.
    *
    * FULL batch parity, including the empty case: a shingle-less
    * arrival's all-sentinel signature finds no banded match (the
    * reference side excludes empty docs, the batch rule), so it is
    * KEPT — same "unhashable rows cannot be proven seen" rule as the
    * batch twin, with no divergence to document. Output is the kept
    * ids only (carrying text through the band explode would multiply
    * the payload by `bands`); semi-join the caller's frame to
    * recover full rows. Because the output grain is the ID, ids must
    * be UNIQUE within a micro-batch: two same-id rows with different
    * text would collapse into one verdict (dropped if EITHER text
    * hits). MinHash recall caveats carry over from the batch gate.
    */
  def dropSeenJaccardStream(
      docs: DataFrame,
      refIndex: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 16,
      seed: Long = 42L): Dataset[KeptId] = {
    import docs.sparkSession.implicits._
    import graft.dedup.{MinHashSig, ShingleHashes}
    require(numHashes % bands == 0, s"numHashes=$numHashes must divide into bands=$bands")
    requireIntegralId(docs, idCol)
    val rowsPerBand = numHashes / bands
    def bandKeys(sig: org.apache.spark.sql.Column) = explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("h"))
    }: _*))
    // static banded reference signatures; empty docs excluded exactly
    // as in the batch candidate stage
    val bandedRef = refIndex.filter(size(col("gs")) > 0)
      .select(col("id").as("ref_id"), MinHashSig.minhashSig(col("gs"), numHashes, seed).as("__sig"))
      .select(col("ref_id"), bandKeys(col("__sig")).as("bk"))
      .select(col("ref_id"), col("bk.band").as("band"), col("bk.h").as("h"))
    val refGs = refIndex.select(col("id").as("ref_id"), col("gs").as("gs_b"))
    val grouped = docs
      .select(col(idCol).cast("long").as("id"),
        ShingleHashes.shingleHashes(col(textCol), n).as("gs"))
      .filter(col("id").isNotNull)
      .withColumn("__sig", MinHashSig.minhashSig(col("gs"), numHashes, seed))
      .select(col("id"), col("gs"), bandKeys(col("__sig")).as("bk"))
      .select(col("id"), col("gs"), col("bk.band").as("band"), col("bk.h").as("h"))
      .join(bandedRef, Seq("band", "h"), "left")
      // candidate shingle sets arrive by id join, not by riding the
      // banded table (which would duplicate every ref array x bands)
      .join(refGs.hint("shuffle_hash"), Seq("ref_id"), "left")
      .select(col("id"),
        when(col("gs_b").isNotNull && {
          val shared = size(array_intersect(col("gs"), col("gs_b"))).cast("long")
          shared.cast("double") / (size(col("gs")) + size(col("gs_b")) - shared) >= threshold
        }, lit(1)).as("hit"))
      .as[SeenJacHit]
      .groupByKey(_.id)
    admitIfUnseen(grouped)(_.hit.isDefined)(KeptId(_))
  }

  final case class ContHit(id: Long, na: Long, ref_id: Option[Long])

  /** [[graft.dedup.Containment.dropSeenContained]]'s Structured
    * Streaming twin — the COVERAGE ingest gate over an unbounded
    * `(id, text)` stream: admit only arrivals whose shingle set is
    * NOT >= `threshold` covered by any single static reference
    * document. EXACT like the batch gate (containment has no LSH
    * recall), so parity is full set equality, shingle-less arrivals
    * included (no shingles ⇒ coverage undefined ⇒ kept, the
    * family-wide rule).
    *
    * Construction differs from the batch path deliberately: the
    * batch prefix filter needs a per-corpus rank — a second stateful
    * hop a stream cannot afford — so the stream joins EVERY arrival
    * shingle against the static exploded reference shingle table
    * (`refIndex` = [[shingleIndex]] of the reference; persist it) and
    * one `flatMapGroupsWithState` pass per id counts shared shingles
    * per candidate reference doc and tests `shared / na >= t`
    * in-memory. Cost per micro-batch is the arrival shingles times
    * their reference document frequency — the un-prefix-filtered
    * candidate volume, bounded by the micro-batch, not the stream
    * history; hot-shingle-heavy corpora should gate in larger batch
    * windows with the prefix-filtered batch twin instead. ZERO
    * retained state: all of an id's rows derive from one input row.
    * HONEST static caveat: the exploded (ref_id, shingle) table is
    * built INSIDE this function — persisting `refIndex` does not stop
    * the corpus-token-sized explode + hash build from re-running per
    * trigger; a huge reference at short triggers belongs in a
    * `foreachBatch` loop over a persisted exploded table.
    * Id-grain output, so ids must be UNIQUE within a micro-batch
    * (the [[dropSeenJaccardStream]] rule).
    */
  def dropSeenContainedStream(
      docs: DataFrame,
      refIndex: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8): Dataset[KeptId] = {
    import docs.sparkSession.implicits._
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold $threshold must be in (0, 1]")
    requireIntegralId(docs, idCol)
    val refSh = refIndex.select(col("id").as("ref_id"), explode(col("gs")).as("g"))
    docs
      .select(col(idCol).cast("long").as("id"),
        graft.dedup.ShingleHashes.shingleHashes(col(textCol), n).as("gs"))
      .filter(col("id").isNotNull)
      // coalesce: NULL text null-propagates to a null gs, and under
      // ANSI size(NULL) is NULL — decoded into ContHit's primitive
      // `na: Long` that would NPE-kill the stream on replay forever
      // (review r18). 0 = "cannot be proven contained" = kept, the
      // batch twin's behavior for the same row.
      .withColumn("na", coalesce(size(col("gs")).cast("long"), lit(0L)))
      // explode_outer keeps shingle-less (and null-text) arrivals as
      // one null-g row (joins nothing, na = 0 ⇒ kept)
      .select(col("id"), col("na"), explode_outer(col("gs")).as("g"))
      .join(refSh.hint("shuffle_hash"), Seq("g"), "left")
      .select(col("id"), col("na"), col("ref_id"))
      .as[ContHit]
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[ContHit], state: GroupState[Long]) => {
          // state is never set: all of an id's rows derive from one
          // input row, so its group completes in its micro-batch.
          // Shared-count map is bounded by this arrival's shingle
          // count (distinct shingles ⇒ one row per (g, ref match)).
          var na = 0L
          val shared = scala.collection.mutable.HashMap.empty[Long, Long]
          rows.foreach { r =>
            na = r.na
            r.ref_id.foreach(rid => shared.update(rid, shared.getOrElse(rid, 0L) + 1L))
          }
          val seen = na > 0 && shared.valuesIterator.exists(c => c.toDouble / na >= threshold)
          if (seen) Iterator.empty else Iterator.single(KeptId(id))
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
      numChunks: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
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
      numChunks: Int = 64): Unit = {
    val spark = batch.sparkSession
    val carried = carriedOffsets(spark, stateDir, batchId)
      .toDF("__cb_key", "__cb_base")
    val packed = graft.text.SequencePacking.assignBinsDistributed(
      batch.filter(col(strataCol).isNotNull && col(orderCol).isNotNull &&
        col(textCol).isNotNull),
      textCol, strataCol, orderCol, capacity, numChunks)
    // shift each stratum by its carried base; the snapshot is
    // control-plane-sized (one row per stratum), so broadcast
    val shifted = packed
      .join(broadcast(carried), col(strataCol).cast("string") === col("__cb_key"), "left")
      .withColumn("__cb_base", coalesce(col("__cb_base"), lit(0L)))
      .withColumn("start_offset", col("start_offset") + col("__cb_base"))
      // integral div, not floor-of-double: the carried start_offset
      // accumulates over the stream's LIFETIME, so unlike the batch
      // operator's single-corpus window it can cross 2^53 where double
      // division loses exactness (the repo-wide div convention)
      .withColumn("bin", expr(s"start_offset div ${capacity.toLong}"))
      .drop("__cb_key")
      // two consumers (output write + totals aggregate): one
      // materialization, released before the batch returns
      .localCheckpoint(true)
    try {
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
    } finally shifted.unpersist(blocking = false)
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
      numChunks: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
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
      numChunks: Int = 64): Unit = {
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
    val shifted = ranked
      .join(broadcast(carried), col("bucket").cast("string") === col("__cb_key"), "left")
      .withColumn("__cb_base", coalesce(col("__cb_base"), lit(0L)))
      .withColumn("batch_id",
        expr(s"(start_offset + __cb_base) div ${batchSize.toLong}"))
      .localCheckpoint(true)
    try {
      shifted.select(col("id"), col("n_tokens"), col("bucket"), col("batch_id"))
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      val totals = shifted
        .groupBy(col("bucket").cast("string").as("key"))
        .agg(max(col("start_offset") + col("__cb_base") + 1L).as("offset"))
        .unionByName(carried.select(col("__cb_key").as("key"), col("__cb_base").as("offset")))
        .groupBy(col("key")).agg(max(col("offset")).as("offset"))
      totals.write.mode("overwrite").parquet(s"$stateDir/offsets-$batchId")
      pruneOffsets(spark, stateDir, batchId)
    } finally shifted.unpersist(blocking = false)
  }

  // ----------------------------------- streaming text-analysis twins

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

  /** Streaming twin of [[graft.text.Decontamination.report]]: a
    * document's contamination stats depend only on its own text and
    * the (static) benchmark gram set, so the twin is a STATELESS
    * per-row projection — tokenize once, build the n-gram array once,
    * and take `array_intersect` against the literal benchmark set. No
    * explode, no state, no shuffle; emits exactly the batch report's
    * rows (clean documents filtered out) with identical arithmetic
    * (both sides divide the same two integers). StreamingOpsSpec pins
    * stream-vs-batch parity.
    */
  def decontaminationStream(
      docs: DataFrame,
      benchGrams: Seq[String],
      textCol: String,
      idCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.05,
      maxBenchGrams: Int = 1000000): DataFrame = {
    // The gram set is embedded as a plan LITERAL and intersected per
    // row — O(|bench|) work per document and plan/task-serialization
    // bytes proportional to the set. That is the right shape only for
    // a control-plane-sized benchmark set (the batch twin broadcasts
    // instead); fail fast on corpus-sized inputs rather than
    // serializing a multi-GB plan into every task.
    require(benchGrams.size <= maxBenchGrams,
      s"decontaminationStream embeds benchGrams as a plan literal: ${benchGrams.size} grams " +
        s"exceeds maxBenchGrams=$maxBenchGrams — for large benchmark sets use the stream-static " +
        "join form (decontaminationStreamJoin over benchGramTable) or raise the bound knowingly")
    docs
      .withColumn("__st_gs",
        graft.text.Decontamination.distinctNgrams(col(textCol), n))
      .select(col(idCol),
        size(col("__st_gs")).as("n_ngrams"),
        size(array_intersect(col("__st_gs"), lit(benchGrams.toArray)))
          .cast("long").as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .withColumn("contam_frac",
        col("n_overlap").cast("double") / col("n_ngrams").cast("double"))
      .withColumn("flagged", (col("contam_frac") >= flagThreshold).cast("int"))
  }

  /** Streaming twin of
    * [[graft.text.Decontamination.reportBySuite]]: per-suite
    * contamination attribution for ARRIVING documents against a
    * SNAPSHOT (gram → suites) map. A document's per-suite counts
    * depend only on its own grams and the frozen map, so the twin is
    * a STATELESS per-row flatMap — one broadcast of the snapshot, no
    * aggregation state, append-mode-legal. Same control-plane size
    * discipline as [[decontaminationStream]] (the batch twin's
    * gram→suite table is broadcast there too); output rows/columns
    * match the batch operator exactly (StreamingOpsSpec pins parity).
    */
  def decontaminationSuitesStream(
      docs: DataFrame,
      gramSuites: Map[String, Seq[String]],
      textCol: String,
      idCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.05,
      maxGrams: Int = 1000000): DataFrame = {
    require(gramSuites.size <= maxGrams,
      s"decontaminationSuitesStream broadcasts the gram->suites snapshot: ${gramSuites.size} " +
        s"grams exceeds maxGrams=$maxGrams — keep the snapshot control-plane sized")
    val bc = docs.sparkSession.sparkContext.broadcast(gramSuites)
    val hits = udf { (grams: Seq[String]) =>
      val m = bc.value
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      grams.foreach { g =>
        m.getOrElse(g, Nil).foreach { s => counts.update(s, counts.getOrElse(s, 0L) + 1L) }
      }
      counts.toSeq
    }
    // ngrams (not distinctNgrams): null text coalesces to an empty
    // array, so a null-text record emits nothing — matching the batch
    // twin — instead of poisoning the stream with an NPE in the UDF
    docs
      .withColumn("__st_gs", graft.text.Decontamination.ngrams(col(textCol), n))
      .select(col(idCol),
        size(col("__st_gs")).cast("int").as("n_ngrams"),
        explode(hits(col("__st_gs"))).as("__st_h"))
      .select(col(idCol), col("__st_h._1").as("suite"), col("n_ngrams"),
        col("__st_h._2").as("n_hits"))
      .withColumn("overlap_frac",
        col("n_hits").cast("double") / col("n_ngrams").cast("double"))
      .withColumn("flagged", (col("overlap_frac") >= flagThreshold).cast("int"))
  }

  /** [[decontaminationSuitesStream]]'s snapshot builder: collect a
    * bench frame's (gram → sorted distinct suites) map — compute once
    * per benchmark release, like [[benchGramSet]].
    */
  def gramSuiteSnapshot(
      bench: DataFrame,
      textCol: String,
      suiteCol: String,
      n: Int = 3): Map[String, Seq[String]] =
    bench
      .select(explode(graft.text.Decontamination.distinctNgrams(col(textCol), n)).as("g"),
        col(suiteCol).as("s"))
      .groupBy(col("g")).agg(sort_array(collect_set(col("s"))).as("ss"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList.asInstanceOf[Seq[String]])
      .toMap

  /** The benchmark gram table as a DataFrame (column `g`, distinct) —
    * [[benchGramSet]]'s distributed counterpart for benchmark sets too
    * large to collect and embed as a plan literal. Compute once per
    * benchmark release and persist (or write bucketed by `g`); the
    * static side of a stream-static join is re-planned every
    * micro-batch, so handing an unpersisted expression here re-runs
    * the n-gram pass per batch.
    */
  def benchGramTable(bench: DataFrame, textCol: String, n: Int = 3): DataFrame =
    bench
      .select(explode(
        graft.text.Decontamination.distinctNgrams(col(textCol), n)).as("g"))
      .distinct()

  final case class DcHit(id: Long, hit: Option[Int])
  final case class DcOut(doc_id: Long, n_ngrams: Int, n_overlap: Long,
      contam_frac: Double, flagged: Int)

  /** Streaming twin of [[graft.text.Decontamination.report]] for
    * CORPUS-SIZED benchmark gram sets — the scale path
    * [[decontaminationStream]]'s literal-size guard points at. Same
    * join-with-marker algebra as the batch form: explode the
    * document's distinct n-grams (the construction IS the generator,
    * planned once), stream-static LEFT join against the gram table
    * tagged `__dc_hit=1`, then one group pass per document derives
    * n_ngrams (row count) and n_overlap (hit count) — no `size()`
    * anywhere, so the gram array is evaluated exactly once and
    * documents never cross an exchange as text. Clean documents emit
    * nothing, exactly like the batch report. Zero retained state and
    * the same doc-atomicity contract as [[noveltyStream]]: a
    * document's grams explode from one input row, so its group
    * completes within its own micro-batch.
    *
    * `benchGrams` must be DISTINCT on `g` (use [[benchGramTable]];
    * duplicates would multiply joined rows and corrupt both counts)
    * and should be persisted — the static side re-plans per batch.
    * Parity with the batch report is pinned by StreamingOpsSpec,
    * doubles bit-identical (same two-integer divide on both sides).
    */
  def decontaminationStreamJoin(
      docs: DataFrame,
      benchGrams: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.05): Dataset[DcOut] = {
    import docs.sparkSession.implicits._
    requireIntegralId(docs, idCol)
    docs
      .filter(col(idCol).isNotNull) // typed-decode poison pill
      .select(col(idCol).cast("long").as("id"),
        explode(
          graft.text.Decontamination.distinctNgrams(col(textCol), n)).as("g"))
      .join(benchGrams.select(col("g")).withColumn("__dc_hit", lit(1)), Seq("g"), "left")
      .select(col("id"), col("__dc_hit").as("hit"))
      .as[DcHit]
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[DcHit], state: GroupState[Long]) => {
          var nN = 0
          var nOv = 0L
          rows.foreach { r => nN += 1; if (r.hit.isDefined) nOv += 1 }
          // state is never set: each doc's group is complete in its
          // own micro-batch (grams explode from one input row)
          if (nOv == 0L) Iterator.empty
          else {
            val frac = nOv.toDouble / nN.toDouble
            Iterator(DcOut(id, nN, nOv, frac, if (frac >= flagThreshold) 1 else 0))
          }
        })
  }

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
    *  - decontamination removal inverts [[decontaminationStream]]'s
    *    flag: a document whose distinct-`n`-gram overlap fraction
    *    with the benchmark snapshot reaches `flagThreshold` is
    *    DROPPED (the batch [[graft.text.Decontamination
    *    .decontaminated]] left-anti); gram-free documents (< n
    *    tokens) cannot be flagged and pass, exactly as in batch.
    *
    * Output = the caller's columns, append-mode-legal (dedup is the
    * only stateful stage). Same control-plane-size guard as
    * [[decontaminationStream]]: the gram set embeds as a plan
    * literal. Parity (StreamingOpsSpec): over any prefix fed in id
    * order, the kept id set equals the batch
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
        "and compose decontaminationStreamJoin instead, or raise the bound knowingly")
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

  /** Streaming twin of [[graft.text.LineOps]] boilerplate scrubbing
    * (`dedupLines(keepFirst = false)` against a corpus snapshot):
    * strip every line whose md5 is in the flagged-line snapshot from
    * each ARRIVING document. Pure stateless projection — the flagged
    * keys embed as a plan literal (same control-plane-size regime and
    * guard as [[decontaminationStream]]; a corpus release's repeated-
    * line table after the `n_docs >= minDocs` cut is boilerplate-
    * sized, not corpus-sized). Keeper exemption is deliberately absent:
    * a NEW incoming document is never the first occurrence of a line
    * already flagged in the snapshot, so scrub-everywhere is the only
    * coherent streaming policy (parity is against the batch
    * `keepFirst = false` form).
    *
    * Per-line cost is O(|flagged|) via `array_contains` on the sorted
    * literal — acceptable at control-plane sizes; beyond that,
    * snapshot the keys into a static table and run the join form in
    * `foreachBatch`.
    */
  def lineScrubStream(
      docs: DataFrame,
      flaggedKeys: Seq[String],
      textCol: String,
      idCol: String,
      maxKeys: Int = 1000000,
      minChars: Int = 1): DataFrame = {
    require(flaggedKeys.size <= maxKeys,
      s"lineScrubStream embeds flagged line keys as a plan literal: ${flaggedKeys.size} keys " +
        s"exceeds maxKeys=$maxKeys — snapshot the keys into a static table and join in " +
        "foreachBatch instead, or raise the bound knowingly")
    // bind-once discipline (see Decontamination's scaladoc): the split
    // and the O(lines x keys) md5 filter are staged as ATTRIBUTES so
    // each evaluates once per row — inlined, the filter would run
    // twice (size + array_join) and the split four times
    val keys = lit(flaggedKeys.toArray)
    docs
      .select(col(idCol), split(col(textCol), "\n").as("__ls_arr"))
      .select(col(idCol), col("__ls_arr"),
        filter(col("__ls_arr"),
          // lines shorter than minChars are EXEMPT from scrubbing,
          // matching the batch form (LineOps.dedupAgainstFlagged
          // filters length >= minChars before flag lookup) — a
          // flagged short key must not strip blank separator lines
          // the batch twin keeps
          l => length(l) < minChars ||
            !array_contains(keys, md5(l.cast("binary")))).as("__ls_kept"))
      .select(
        col(idCol),
        size(col("__ls_arr")).cast("int").as("n_lines"),
        (size(col("__ls_arr")) - size(col("__ls_kept"))).cast("int").as("n_removed"),
        array_join(col("__ls_kept"), "\n").as("clean"))
  }

  final case class NovGram(id: Long, df: Long)
  final case class NovOut(doc_id: Long, n_ngrams: Int, n_rare: Long,
      max_df: Long, rare_frac: Double, mean_df: Double)

  /** Streaming twin of [[graft.text.CorpusStats.noveltyReport]]:
    * score ARRIVING documents against a SNAPSHOT document-frequency
    * table ([[graft.text.CorpusStats.docFrequency]] over the corpus
    * release — corpus-sized, so it stays a stream-static shuffle join
    * on the gram, never a literal). The per-doc aggregation runs in
    * `flatMapGroupsWithState` holding ZERO retained state: a
    * document's grams explode from one input row, so every row of a
    * doc-id group arrives in the SAME micro-batch and the group
    * aggregates and emits immediately (the doc-atomicity contract —
    * it holds by construction here, and a re-keyed upstream that
    * splits a document across batches would break it, which is why it
    * is stated). Grams absent from the snapshot are dropped by the
    * inner join, exactly like documents unseen by the snapshotted
    * corpus release in the batch two-pass form.
    *
    * Parity (pinned by StreamingOpsSpec): on a stream of documents
    * scored against `docFrequency` of the SAME corpus, the result
    * equals batch `noveltyReport` row-for-row, doubles bit-identical.
    */
  def noveltyStream(
      docs: DataFrame,
      dfTable: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 2,
      rareMaxDf: Int = 2): Dataset[NovOut] = {
    import docs.sparkSession.implicits._
    require(rareMaxDf >= 1, s"rareMaxDf=$rareMaxDf must be >= 1")
    requireIntegralId(docs, idCol)
    docs
      .filter(col(idCol).isNotNull) // typed-decode poison pill
      .select(col(idCol).cast("long").as("id"),
        explode(
          graft.text.Decontamination.distinctNgrams(col(textCol), n)).as("g"))
      .join(dfTable, Seq("g"))
      .select(col("id"), col("df").cast("long").as("df"))
      .as[NovGram]
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[NovGram], state: GroupState[Long]) => {
          val dfs = rows.map(_.df).toArray
          val nN = dfs.length
          val nRare = dfs.count(_ <= rareMaxDf).toLong
          // state is never set: each doc's group is complete in its
          // own micro-batch, so nothing is retained across batches
          Iterator(NovOut(id, nN, nRare, dfs.max,
            nRare.toDouble / nN, dfs.sum.toDouble / nN))
        })
  }

  // ------------------------------- streaming substring-dedup twins

  final case class SpanHit(id: Long, hit: Option[Int])
  final case class SpanStatsOut(doc_id: Long, n_spans: Int, dup_spans: Int, dup_ratio: Double)
  final case class PruneRow(id: Long, pos: Int, tok: String, hit: Option[Int])
  final case class PruneOut(doc_id: Long, n_tokens: Int, n_removed: Int, pruned_text: String)

  /** Streaming twin of [[graft.text.RepeatedSpans.docDupStats]]:
    * score ARRIVING documents against a SNAPSHOT span-frequency table
    * ([[graft.text.RepeatedSpans.spanFrequency]] over the corpus
    * release — corpus-sized, so it stays a stream-static join on the
    * span, never a literal; persist it, the static side re-plans per
    * micro-batch). Span positions explode from one input row
    * (doc-atomicity, as in [[noveltyStream]]), LEFT-join the flagged
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

  /** Streaming twin of [[graft.text.RepeatedSpans.pruneSpans]]:
    * remove duplicated-span content from ARRIVING documents against
    * the same snapshot span-frequency table. The keeper exemption is
    * evaluated against the SNAPSHOT's `keeper` column, so a streamed
    * document keeps a flagged span only if the snapshot already named
    * it the keeper — a genuinely new document is scrubbed of all
    * flagged content, which is exactly the production semantics for
    * incremental corpus growth (the snapshot owns history).
    *
    * Mechanics: the document fans out as BOTH token rows
    * (`pos = -tokenIndex`, carrying the token) and span rows
    * (`pos = +spanStart`, LEFT-joined against the flagged spans), a
    * self-union of the same input row — still doc-atomic. One
    * zero-retained-state group pass reassembles the token sequence,
    * sorts the flagged starts, and applies the SAME monotone-ends gap
    * walk as the batch form (sorted equal-length intervals — the
    * running coverage end is the previous start's end). Output rows
    * match batch `pruneSpans` exactly, including untouched documents
    * — for documents WITH tokenizable text: a null-text doc explodes
    * to no rows and is absent here, where the batch left join emits
    * it with null counts (documented divergence; there is nothing to
    * prune and the stream cannot emit nullable primitives).
    */
  def pruneSpansStream(
      docs: DataFrame,
      spanFreq: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      minDocs: Int = 2,
      keepFirst: Boolean = true): Dataset[PruneOut] = {
    import docs.sparkSession.implicits._
    require(k > 0, s"k=$k must be positive")
    require(minDocs >= 2, s"minDocs=$minDocs: a span is 'repeated' across >= 2 documents")
    requireIntegralId(docs, idCol)
    // __flagged marks JOIN MATCH separately from the keeper value:
    // batch pruneSpans inner-joins, so flagged-ness never depends on
    // the keeper being non-null — under keepFirst=false a null-keeper
    // flagged span is scrubbed EVERYWHERE (the snapshot-only shape
    // LineOps documents), and under keepFirst=true the null-keeper
    // =!= comparison null-propagates to "kept", exactly like the
    // batch filter
    val flagged = spanFreq.filter(col("n_docs") >= minDocs)
      .select(col("span"), col("keeper").cast("long").as("__keeper"), lit(1).as("__flagged"))
    val safeDocs = docs.filter(col(idCol).isNotNull) // typed-decode poison pill
    val tokRows = safeDocs
      .select(col(idCol).cast("long").as("id"),
        posexplode(graft.text.TextAnalysis.tokens(col(textCol))).as(Seq("__t0", "tok")))
      .select(col("id"), (-col("__t0") - 1).as("pos"), col("tok"),
        lit(null).cast("int").as("hit"))
    val spanRows = graft.text.RepeatedSpans.spanPositions(safeDocs, textCol, idCol, k)
      .select(col(idCol).cast("long").as("id"), col("pos"), col("span"))
      .join(flagged, Seq("span"), "left")
      .select(col("id"), col("pos"), lit(null).cast("string").as("tok"),
        when(col("__flagged").isNotNull &&
          (if (keepFirst) col("__keeper") =!= col("id") else lit(true)), 1)
          .cast("int").as("hit"))
    tokRows.unionByName(spanRows)
      .as[PruneRow]
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[PruneRow], state: GroupState[Long]) => {
          val toksBuf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
          val startsBuf = scala.collection.mutable.ArrayBuffer.empty[Int]
          rows.foreach { r =>
            if (r.pos < 0) toksBuf += ((-r.pos, r.tok))
            else if (r.hit.isDefined) startsBuf += r.pos
          }
          val toks = toksBuf.sortInPlace()(Ordering.by(_._1)).map(_._2)
          val n = toks.length
          val kept = scala.collection.mutable.ArrayBuffer.empty[String]
          var end = 0 // highest covered 1-based token index so far
          startsBuf.sortInPlace().foreach { s =>
            if (s > end + 1) kept ++= toks.slice(end, s - 1)
            end = math.max(end, s + k - 1)
          }
          if (end < n) kept ++= toks.slice(end, n)
          Iterator(PruneOut(id, n, n - kept.length, kept.mkString(" ")))
        })
  }

  // -------------------------- streaming model-scoring twins (LM/DSIR)

  final case class LmGram(id: Long, a_micro: Option[Long], d_micro: Option[Long])
  final case class LmOut(doc_id: Long, n_bigrams: Long, lp_micro_sum: Long, log_ppl: Double)

  /** Streaming twin of [[graft.text.NgramLm.logProb]]: score ARRIVING
    * documents against a SNAPSHOT fitted bigram model (the production
    * CCNet regime — fit once per target-corpus release, score the
    * stream). The bigram stream explodes from one input row
    * (doc-atomicity as in [[noveltyStream]]), stream-static LEFT joins
    * the two model tables on their own grains (persist them — the
    * static side re-plans per micro-batch), and one zero-retained-
    * state group pass per document takes the exact integer sums.
    *
    * `d0Micro` — the unseen-context denominator `round(ln(V)*1e6)` —
    * is a property of the fitted model, not of any document; read it
    * from the snapshot's one-row vocab frame
    * (`lm.vocab.select("d0_micro")`) once at stream construction, the
    * same control-plane materialization as [[benchGramSet]] (one row,
    * not corpus-sized). Documents with fewer than two tokens have no
    * bigrams and emit nothing, exactly like the batch report. Parity
    * with [[graft.text.NgramLm.logProb]] is pinned by
    * StreamingOpsSpec, doubles bit-identical (same integer divide).
    */
  def perplexityStream(
      docs: DataFrame,
      pairLogNum: DataFrame,
      ctxLogDen: DataFrame,
      d0Micro: Long,
      textCol: String,
      idCol: String): Dataset[LmOut] = {
    import docs.sparkSession.implicits._
    requireIntegralId(docs, idCol)
    docs
      .filter(col(idCol).isNotNull) // typed-decode poison pill
      .select(col(idCol).cast("long").as("id"),
        explode(ColumnBridge.column(graft.text.GramOccurrences(
          ColumnBridge.expression(col(textCol)), 2, 2))).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(pairLogNum, Seq("g"), "left")
      .join(ctxLogDen, Seq("w1"), "left")
      .select(col("id"), col("a_micro"), col("d_micro"))
      .as[LmGram]
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[LmGram], state: GroupState[Long]) => {
          var n = 0L
          var lp = 0L
          rows.foreach { r =>
            n += 1
            lp += r.a_micro.getOrElse(0L) - r.d_micro.getOrElse(d0Micro)
          }
          // state is never set: each doc's group completes in its own
          // micro-batch (grams explode from one input row)
          Iterator(LmOut(id, n, lp, -lp.toDouble / (n * 1000000L).toDouble))
        })
  }

  final case class IwGram(id: Long, lr_nano: Option[Long])
  final case class IwOut(doc_id: Long, n_grams: Long, weight_nano: Long)

  /** Streaming twin of [[graft.text.ImportanceResampling.weights]]:
    * score arriving documents against a SNAPSHOT bucket log-ratio
    * table (fit once per corpus release — the table is <= 16^hexChars
    * rows, so persist it and let every micro-batch's stream-static
    * join broadcast it). Same shape as [[perplexityStream]]: gram
    * occurrences explode from one input row, LEFT join on the bucket
    * key, zero-retained-state per-document integer sums.
    * `defaultNano` prices buckets missing from the snapshot
    * ([[graft.text.ImportanceResampling.unseenBucketNano]]) — a
    * stream, unlike self-scoring, can always surface new buckets.
    * Parity with the batch `weights` is pinned by StreamingOpsSpec.
    */
  def importanceWeightsStream(
      docs: DataFrame,
      lrTable: DataFrame,
      textCol: String,
      idCol: String,
      hexChars: Int = 2,
      defaultNano: Long = 0L): Dataset[IwOut] = {
    import docs.sparkSession.implicits._
    requireIntegralId(docs, idCol)
    docs
      .filter(col(idCol).isNotNull) // typed-decode poison pill
      .select(col(idCol).cast("long").as("id"),
        explode(graft.text.ImportanceResampling.gramOccurrences(col(textCol))).as("__g"))
      .select(col("id"),
        graft.text.ImportanceResampling.bucketOf(col("__g"), hexChars).as("b"))
      .join(lrTable, Seq("b"), "left")
      .select(col("id"), col("lr_nano"))
      .as[IwGram]
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[IwGram], state: GroupState[Long]) => {
          var n = 0L
          var w = 0L
          rows.foreach { r => n += 1; w += r.lr_nano.getOrElse(defaultNano) }
          Iterator(IwOut(id, n, w))
        })
  }

  final case class QgGram(id: Long, llr_nano: Option[Long])
  final case class QgOut(doc_id: Long, n_grams: Long, score_nano: Long,
      prob_nano: Long, keep: Boolean)

  /** Streaming twin of [[graft.text.QualityClassifier.score]]: gate
    * arriving documents against a SNAPSHOT model (fit once per
    * release — [[graft.text.QualityClassifier.fit]] already returns a
    * local bucket table plus plain constants, so the stream-static
    * join broadcasts a job-free relation and the prior/unseen/Pareto
    * arithmetic runs in the state function on exact integers). Same
    * shape as [[importanceWeightsStream]]: grams explode from one
    * input row, LEFT join on the bucket key, zero-retained-state
    * per-document sums; the sigmoid/Pareto doubles replicate the
    * batch expressions' HALF_UP rounding bit-for-bit
    * (StreamingOpsSpec pins parity, keep decisions included).
    */
  def qualityGateStream(
      docs: DataFrame,
      model: graft.text.QualityClassifier.NbModel,
      textCol: String,
      idCol: String,
      alpha: Double = 9.0,
      seed: Long = 41L): Dataset[QgOut] = {
    import docs.sparkSession.implicits._
    require(alpha > 0.0, s"alpha=$alpha must be positive")
    requireIntegralId(docs, idCol)
    val priorNano = model.priorNano
    val unseenNano = model.unseenNano
    // Batch round(...) is Catalyst Round over doubles = HALF_UP on
    // BigDecimal.valueOf — math.round (floor(x+0.5)) would diverge on
    // negative halves, so mirror the exact semantics.
    def halfUp(x: Double): Long =
      java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    docs
      .filter(col(idCol).isNotNull) // typed-decode poison pill
      .select(col(idCol).cast("long").as("id"),
        explode(graft.text.ImportanceResampling.gramOccurrences(col(textCol))).as("__g"))
      .select(col("id"),
        graft.text.ImportanceResampling.bucketOf(col("__g"), model.hexChars).as("b"))
      .join(model.bucketLlr, Seq("b"), "left")
      .select(col("id"), col("llr_nano"))
      .as[QgGram]
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[QgGram], state: GroupState[Long]) => {
          var n = 0L
          var score = priorNano
          rows.foreach { r => n += 1; score += r.llr_nano.getOrElse(unseenNano) }
          val prob = halfUp(1e9 / (1.0 + math.exp(-score.toDouble / 1e9)))
          val m = 2147483647L; val a = 48271L
          val h0 = java.lang.Math.floorMod(id * a + seed % m, m)
          val h1 = java.lang.Math.floorMod(h0 * a, m)
          val u = (java.lang.Math.floorMod(h1 * a, m) + 0.5) / 2147483647.0
          val pareto = halfUp(
            math.min((math.pow(1.0 - u, -1.0 / alpha) - 1.0) * 1e9, 2e9))
          Iterator(QgOut(id, n, score, prob, pareto > 1000000000L - prob))
        })
  }

  /** Streaming twin of [[graft.text.Bm25.score]]: score ARRIVING
    * documents against a SNAPSHOT idf table + corpus stats (fit once
    * per corpus release — [[graft.text.Bm25.corpusStats]] /
    * [[graft.text.Bm25.fitIdf]] collected at stream construction).
    * A document's BM25 score depends only on its own text and the
    * snapshot, so the twin is a STATELESS per-row projection —
    * [[graft.text.Bm25.scoreRowLocal]], whose contributions are the
    * same integer-nanounit chain as the batch aggregate (parity
    * pinned by Bm25Spec and StreamingOpsSpec). The term set is
    * control-plane-sized by the same argument as the idf broadcast in
    * the batch plan; documents matching no query term are filtered,
    * mirroring the batch output's row set.
    */
  def bm25Stream(
      docs: DataFrame,
      idfMicroByTerm: Map[String, Long],
      stats: graft.text.Bm25.CorpusStats,
      textCol: String,
      idCol: String,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (nTerms, scoreNano) =
      graft.text.Bm25.scoreRowLocal(col(textCol), idfMicroByTerm, stats, k1, b)
    docs
      .select(col(idCol), nTerms.as("n_terms"), scoreNano.as("score_nano"))
      .filter(col("n_terms") > 0)
  }

  /** Streaming twin of [[graft.text.BpeTokenizer.encode]]: tokenize
    * ARRIVING documents under a SNAPSHOT model (fit once per tokenizer
    * release, shipped as one broadcast). A document's token-id
    * sequence depends only on its own text and the frozen merges, so
    * the twin is a STATELESS per-row projection —
    * [[graft.text.BpeTokenizer.encodeRowLocal]], token-identical to
    * the batch encoder (parity pinned by StreamingOpsSpec). The batch
    * path's once-per-distinct-word memoization is deliberately absent:
    * a micro-batch has no corpus-wide distinct-word table to amortize
    * against (see encodeRowLocal's scaladoc for the trade).
    */
  def bpeEncodeStream(
      docs: DataFrame,
      model: graft.text.BpeTokenizer.BpeModel,
      textCol: String,
      idCol: String): DataFrame =
    docs.select(
      col(idCol),
      graft.text.BpeTokenizer.encodeRowLocal(col(textCol), model).as("token_ids"))
      .withColumn("n_bpe_tokens", size(col("token_ids")).cast("long"))

  /** Streaming twin of [[graft.text.Chunking.chunksByBpe]] — chunk
    * assignment is purely per-document, so the stream form is a
    * STATELESS projection: each arriving doc's whole chunk list
    * computes row-locally ([[graft.text.Chunking.chunksRowLocal]],
    * same segmenter / prefix-sum convention / vocab-drift failure as
    * the batch form — ChunkingStreamSpec pins exact row-set parity)
    * and explodes to `(idCol, chunk_idx, n_words, n_tokens,
    * chunk_text)`. Wordless documents yield no rows, like the batch
    * form.
    */
  def bpeChunkStream(
      docs: DataFrame,
      model: graft.text.BpeTokenizer.BpeModel,
      textCol: String,
      idCol: String,
      budget: Int): DataFrame =
    docs.select(
      col(idCol),
      explode(graft.text.Chunking.chunksRowLocal(col(textCol), model, budget)).as("__c"))
      .select(col(idCol), col("__c.chunk_idx"), col("__c.n_words"),
        col("__c.n_tokens"), col("__c.chunk_text"))

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
