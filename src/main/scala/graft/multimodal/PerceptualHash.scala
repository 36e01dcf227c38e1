package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual image hashing for multimodal dedup — the image-side
  * counterpart of text SimHash ([[graft.dedup.SimHash64]]): re-encoded,
  * resized, or lightly retouched copies of one image land within a
  * small Hamming distance of each other, so near-duplicate mining is
  * a banded Hamming self-join over 64-bit fingerprints
  * ([[graft.dedup.Dedup.hammingPairs]]) — never a pixel-level
  * all-pairs pass.
  *
  * Two classic public-literature hashes over the decoded first frame
  * (PNG/JPEG/BMP/GIF stills, animated GIF and MJPEG/DIB AVI via
  * [[Multimodal.decodeFrames]]):
  *
  *  - aHash: pool to an 8×8 luminance grid; bit i = cell i brighter
  *    than the grid mean. Robust to re-encoding and scaling.
  *  - dHash: pool to a 9×8 grid; bit (r,c) = cell (r,c+1) brighter
  *    than cell (r,c) — horizontal gradient signs, more tolerant of
  *    global brightness shifts than aHash.
  *
  * Decode + hash runs `mapPartitions`-batched like
  * [[Multimodal.extractFeatures]] (codec init amortized per
  * partition, payload bytes never shuffle — only 8-byte hashes do).
  * Undecodable payloads yield no row: a payload no reader can decode
  * has no pixels to be a near-duplicate OF; callers wanting byte-level
  * exact dedup on those route them through the exact-hash pass.
  */
object PerceptualHash {

  final case class PHashRow(media_id: Long, ahash: Long, dhash: Long, n_bytes: Long)

  /** `(media_id, ahash, dhash, n_bytes)` for every decodable payload.
    * `n_bytes` (the ENCODED payload size) rides along so consumers
    * that need a cheap per-image quality proxy next to the hashes —
    * q92's keep-best resolution scores by it — get both from ONE
    * decode pass instead of re-scanning the payload bytes.
    */
  def perceptualHashes(media: Dataset[Multimodal.MediaRow]): Dataset[PHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.bytes == null || r.bytes.isEmpty) Iterator.empty
        else {
          // first frame only — decodeFirstFrame never materializes the
          // rest of a multi-frame payload (a 1000-frame clip would
          // otherwise decode 1000 images to hash one)
          Multimodal.decodeFirstFrame(r.bytes).iterator.map { f =>
            PHashRow(r.media_id, aHash64(f), dHash64(f), r.bytes.length.toLong)
          }
        }
      }
    }
  }

  /** Near-duplicate pairs by perceptual hash: `(id_a, id_b, hamming)`
    * with `id_a < id_b`, Hamming distance over `which` ("ahash" |
    * "dhash") at most `maxHamming`. With the default 4-way banding the
    * result is EXACT for `maxHamming <= 3` (pigeonhole — see
    * [[graft.dedup.Dedup.hammingPairs]]).
    */
  def phashDupPairs(
      media: Dataset[Multimodal.MediaRow],
      maxHamming: Int = 3,
      which: String = "ahash"): DataFrame = {
    require(which == "ahash" || which == "dhash", s"which=$which must be ahash|dhash")
    val hashed = perceptualHashes(media).toDF()
      .select(col("media_id").as("id"), col(which).as("sig"))
    graft.dedup.Dedup.hammingPairs(hashed, "id", "sig", maxHamming)
  }

  /** [[phashDupPairs]] ACROSS two image corpora — incremental image
    * dedup: `(id_a from batch, id_b from reference, hamming)` for
    * every cross pair within `maxHamming` (equal hashes match at 0;
    * the id spaces are independent). The shape a crawl ingest gate
    * runs daily: new batch vs the already-ingested index, candidate
    * cost bound in signature space ([[graft.dedup.Dedup
    * .hammingPairsAgainst]]), decode map-side on both legs.
    */
  def phashDupPairsAgainst(
      batch: Dataset[Multimodal.MediaRow],
      reference: Dataset[Multimodal.MediaRow],
      maxHamming: Int = 3,
      which: String = "ahash"): DataFrame = {
    require(which == "ahash" || which == "dhash", s"which=$which must be ahash|dhash")
    def hashed(m: Dataset[Multimodal.MediaRow]) = perceptualHashes(m).toDF()
      .select(col("media_id").as("id"), col(which).as("sig"))
    graft.dedup.Dedup.hammingPairsAgainst(
      hashed(batch), hashed(reference), "id", "sig", maxHamming)
  }

  /** Keep only the batch images whose perceptual hash is NOT within
    * `maxHamming` of any reference image — the ingest-gate form of
    * [[phashDupPairsAgainst]] (output linear in the batch). Returns
    * `(media_id, <which>)` for the surviving DECODABLE batch rows;
    * undecodable payloads hash to nothing and are excluded here
    * (unlike [[graft.dedup.Dedup.dropSeenHamming]]'s null-keep rule —
    * an image that cannot be decoded has no business passing an
    * image-dedup gate silently; route it to a quarantine path).
    */
  def dropSeenImages(
      batch: Dataset[Multimodal.MediaRow],
      reference: Dataset[Multimodal.MediaRow],
      maxHamming: Int = 3,
      which: String = "ahash"): DataFrame = {
    require(which == "ahash" || which == "dhash", s"which=$which must be ahash|dhash")
    def hashed(m: Dataset[Multimodal.MediaRow]) = perceptualHashes(m).toDF()
      .select(col("media_id"), col(which))
    graft.dedup.Dedup.dropSeenHamming(
      hashed(batch), hashed(reference), which, maxHamming)
  }

  /** Image near-duplicate CLUSTERS: `(media_id, cluster)` for every
    * decodable payload, `cluster` = the smallest media_id in the
    * Hamming-connected component — the linear-output production form
    * of [[phashDupPairs]] (see [[graft.dedup.Dedup.hammingClusters]]:
    * pair output is quadratic in duplicate-class size — a crawl's
    * 10 k-copy logo is 50 M pairs — while the partition is linear and
    * is all dedup needs; feed the labels to
    * [[graft.dedup.Dedup.clusterRepresentatives]] for keep-best).
    */
  def phashDupClusters(
      media: Dataset[Multimodal.MediaRow],
      maxHamming: Int = 3,
      which: String = "ahash"): DataFrame = {
    require(which == "ahash" || which == "dhash", s"which=$which must be ahash|dhash")
    val hashed = perceptualHashes(media).toDF()
      .select(col("media_id").as("id"), col(which).as("sig"))
    graft.dedup.Dedup.hammingClusters(hashed, "id", "sig", maxHamming)
      .withColumnRenamed("id", "media_id")
  }

  /** `(media_id, frame_idx, ahash)` for every `everyN`-th container
    * frame of every payload — the frame-grain hash table video dedup
    * builds on (stills contribute their single frame at idx 0). Only
    * the sampled frames are decoded ([[Multimodal.decodeFramesAt]]);
    * `everyN = 10` pays for a tenth of the tape, not all of it.
    */
  def frameHashes(media: Dataset[Multimodal.MediaRow], everyN: Int = 1): DataFrame = {
    import media.sparkSession.implicits._
    require(everyN >= 1, s"everyN=$everyN must be >= 1")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.bytes == null || r.bytes.isEmpty) Iterator.empty
        else Multimodal.decodeFramesAt(r.bytes, n => 0 until n by everyN).iterator.map {
          case (i, f) => (r.media_id, i, aHash64(f))
        }
      }
    }.toDF("media_id", "frame_idx", "ahash")
  }

  /** Video near-duplicate pairs by frame-hash agreement: two videos
    * pair when either side's fraction of sampled frames with a
    * Hamming-near partner in the other video reaches `minMatchFrac`
    * (`match_frac = max` of the two coverages) — the containment
    * measure at video granularity: a clip embedded verbatim in a
    * longer cut scores 1.0 on its own side. The frame
    * join is the same banded Hamming self-join as every other
    * fingerprint path (frames keyed by a composite id; only 8-byte
    * hashes shuffle), so the cost tracks colliding frames, never
    * all video pairs.
    *
    * Output: `(id_a, id_b, matched_a, matched_b, n_a, n_b,
    * match_frac)` with `id_a < id_b`. The persisted frame-hash table
    * lives as long as the enclosing [[graft.core.CacheScope]].
    */
  def videoDupPairs(
      media: Dataset[Multimodal.MediaRow],
      maxHamming: Int = 2,
      minMatchFrac: Double = 0.5,
      everyN: Int = 1): DataFrame = {
    require(minMatchFrac > 0.0 && minMatchFrac <= 1.0,
      s"minMatchFrac $minMatchFrac must be in (0, 1]")
    // One decode+hash pass feeds three plan branches (counts twice,
    // the Hamming join once).
    val fh = graft.core.CacheScope.persist(frameHashes(media, everyN))
    val counts = fh.groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
    // Composite-key range is ENFORCED per row, not just documented: a
    // negative media_id would decompose wrong (truncating div vs
    // pmod), an id past maxSafeId would overflow the multiply, and a
    // video with >= FrameStride sampled frames would spill into the
    // next id — each silently corrupting pair attribution.
    val maxSafeId = (Long.MaxValue - (FrameStride - 1)) / FrameStride
    val keyed = fh.select(
      when(
        col("media_id") >= 0 && col("media_id") <= maxSafeId && col("frame_idx") < FrameStride,
        col("media_id") * lit(FrameStride) + col("frame_idx"))
        .otherwise(raise_error(concat(
          lit("videoDupPairs: media_id/frame_idx outside the composite-key range: "),
          col("media_id").cast("string"), lit("/"), col("frame_idx").cast("string"))))
        .as("id"),
      col("ahash").as("sig"))
    // `div`, not `/`: Column./ is DOUBLE division, which silently
    // loses exactness for composites past 2^53 — integral div keeps
    // the full id range exact. hammingPairs guarantees id_a < id_b,
    // which with validated non-negative components implies va <= vb —
    // so after the va =!= vb filter the video pair is already
    // canonically ordered and fa/fb sides need no swap.
    val framePairs = graft.dedup.Dedup.hammingPairs(keyed, "id", "sig", maxHamming)
      .select(
        expr(s"id_a div $FrameStride").as("va"),
        pmod(col("id_a"), lit(FrameStride)).as("fa"),
        expr(s"id_b div $FrameStride").as("vb"),
        pmod(col("id_b"), lit(FrameStride)).as("fb"))
      .filter(col("va") =!= col("vb"))
      .select(col("va").as("id_a"), col("vb").as("id_b"), col("fa"), col("fb"))
    framePairs
      .groupBy("id_a", "id_b")
      .agg(
        countDistinct(col("fa")).as("matched_a"),
        countDistinct(col("fb")).as("matched_b"))
      .join(counts.toDF("id_a", "n_a"), "id_a")
      .join(counts.toDF("id_b", "n_b"), "id_b")
      .withColumn("match_frac",
        greatest(
          col("matched_a").cast("double") / col("n_a").cast("double"),
          col("matched_b").cast("double") / col("n_b").cast("double")))
      .filter(col("match_frac") >= minMatchFrac)
      .select("id_a", "id_b", "matched_a", "matched_b", "n_a", "n_b", "match_frac")
  }

  /** Video near-duplicate CLUSTERS without any pair materialization —
    * the linear-output dedup shape at VIDEO granularity: `(media_id,
    * cluster)` for every decodable video, where two videos share a
    * cluster iff their ORDERED sequences of frame-hash COMPONENTS are
    * identical. A component is a connected component of the sampled
    * frame hashes under `Hamming <= maxHamming` (computed in
    * signature space via [[graft.dedup.Dedup.hammingClusters]] over
    * the distinct frame hashes), so per-frame re-encode noise is
    * absorbed by the component closure while the video-level match
    * stays EXACT equality on the abstracted sequence — a 10 k-copy
    * video class is ONE group-by key, never 50 M pairs.
    *
    * Relation to [[videoDupPairs]]: byte-identical (and per-frame
    * Hamming-near, order-preserving) copies cluster together here and
    * pair at `match_frac` 1.0 there. The pair API remains the tool
    * for CONTAINMENT questions (a clip inside a longer cut, frame
    * reordering, partial overlap below 1.0) — those are intrinsically
    * pairwise and cannot be expressed as a linear partition. The two
    * can also disagree at the margin: component closure links frames
    * transitively beyond `maxHamming` (merging what strict per-frame
    * distance would not), while the ordered-equality requirement
    * splits same-frames-different-order videos that containment
    * accepts. PerceptualHashSpec pins the exact semantics (order and
    * length sensitivity, noise absorption); RowsOnlyContractSpec's
    * q93 contract pins parity with a driver-side recomputation and
    * the fixture-level agreement with the pair path.
    *
    * Scale shape, end to end: decode map-side; the component CC runs
    * over DISTINCT frame hashes (bounded jobs, see
    * [[graft.dedup.Dedup.hammingClusters]]); the hash→component map
    * joins back at frame grain (8-byte keys); the per-video sequence
    * is one `collect_list` bounded by frames-per-video (`everyN`
    * dials it); the final group-by shuffles one comp-array per video.
    * Every exchange is linear in frames or videos. The frame-hash
    * table persists (one decode pass feeds both the signature-space
    * CC and the per-video sequence aggregate) for the enclosing
    * [[graft.core.CacheScope]].
    */
  def videoDupClusters(
      media: Dataset[Multimodal.MediaRow],
      maxHamming: Int = 2,
      everyN: Int = 1): DataFrame = {
    val fh = graft.core.CacheScope.persist(frameHashes(media, everyN))
    // (frame hash -> component) over the DISTINCT hashes — the raw
    // signature-space CC (comp = min hash in the Hamming-connected
    // component). Singleton hashes are absent from the label table
    // and coalesce to themselves; below the collect threshold the
    // table is a local relation, so the join broadcasts.
    val comps = graft.dedup.Dedup.sigComponents(
      fh.select(col("ahash")), "ahash", maxHamming)
      .select(col("sig").as("ahash"), col("comp").as("__comp"))
    val seqs = fh.join(comps, Seq("ahash"), "left")
      .groupBy("media_id")
      .agg(transform(
        sort_array(collect_list(struct(col("frame_idx"),
          coalesce(col("__comp"), col("ahash")).as("__c")))),
        f => f.getField("__c")).as("__fseq"))
    val reps = seqs.groupBy("__fseq").agg(min(col("media_id")).as("cluster"))
    seqs.join(reps, "__fseq").select("media_id", "cluster")
  }

  /** Composite frame-key stride: supports videos up to one million
    * sampled frames and media ids up to ~9.2e12 without collision.
    */
  private val FrameStride = 1000000L

  /** 8×8 average hash of one decoded frame. */
  private[graft] def aHash64(img: java.awt.image.BufferedImage): Long = {
    val cells = Multimodal.gridPool(img, 64)
    var mean = 0.0
    var i = 0
    while (i < 64) { mean += cells(i); i += 1 }
    mean /= 64.0
    var out = 0L
    i = 0
    while (i < 64) {
      if (cells(i) > mean) out |= (1L << i)
      i += 1
    }
    out
  }

  /** 9×8 horizontal-gradient hash of one decoded frame. gridPool lays
    * cells out row-major at width ceil(sqrt(72)) = 9, so cell (r,c)
    * is index r*9+c and the 8 gradients per row compare adjacent
    * indices.
    */
  private[graft] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val cells = Multimodal.gridPool(img, 72)
    var out = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cells(r * 9 + c + 1) > cells(r * 9 + c)) out |= (1L << (r * 8 + c))
        c += 1
      }
      r += 1
    }
    out
  }
}
