package graft.similarity

import graft.core.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** What [[Similarity.nearDupPairsAuto]] does when the predicted
  * background candidate volume exceeds the caller's budget. The
  * prediction is plan-time arithmetic ([[Similarity.LshGeometry
  * .expectedBackgroundCandidates]]); the policy decides whether a
  * 100 TB misuse is a warning, a fast failure, or a recall trade.
  */
sealed trait BudgetPolicy
object BudgetPolicy {
  /** Log the prediction and run anyway (legacy default — the caller
    * accepts a near-quadratic band join knowingly).
    */
  case object WarnOnly extends BudgetPolicy
  /** Throw [[CandidateBudgetExceededException]] at PLAN time — the
    * right setting for production jobs, where an over-budget mine
    * should be a seconds-cheap failure, not a cluster-melting join
    * discovered hours in.
    */
  case object FailFast extends BudgetPolicy
  /** Re-derive the geometry as "most recall the budget can buy"
    * ([[Similarity.lshGeometryUnderBudget]]) and run with that,
    * logging the recall sacrificed; throws only when NO banding fits
    * the budget at this corpus size.
    */
  case object AutoDegrade extends BudgetPolicy
}

/** Thrown when a near-dup mine's predicted candidate volume exceeds
  * its budget under [[BudgetPolicy.FailFast]] (or no geometry fits
  * under [[BudgetPolicy.AutoDegrade]]). Cheap: raised before any job
  * runs.
  */
final class CandidateBudgetExceededException(msg: String)
  extends IllegalStateException(msg)

/** Similarity search over an embedding column (`array<float>`) —
  * north-star extension (not reference parity; the reference is a
  * scalar-timeseries engine).
  *
  * Vector math: the hot signature paths use the [[RhpSig]] Catalyst
  * expression (tight JVM multiply-accumulate); the column-function
  * forms (`zip_with` + `aggregate`) are INTERPRETED (higher-order
  * functions are CodegenFallback), so they are staged so each pass
  * reads attributes computed once per row — fine for per-candidate
  * verification, wrong for per-row × per-plane work. Scale design:
  *   - brute-force top-k is a single scan + `TakeOrderedAndProject`
  *     (no shuffle of the losers) — the exact baseline at any scale;
  *   - the LSH path buckets by random-hyperplane signature so the
  *     pairwise work drops from O(n^2) to O(sum bucket^2), and the
  *     bucket join shuffles on the (band, key) pair like any hash join.
  */
object Similarity {

  /** dot(a, b) accumulated in double, left-to-right — the [[VecDot]]
    * expression (one tight loop per pair; the equivalent
    * `aggregate(zip_with(...))` column form evaluates interpreted and
    * boxes per element, which dominates per-candidate verification
    * cost in all-pairs mining). Operands widen to double before the
    * multiply, matching how an exact SQL oracle (DuckDB DOUBLE[])
    * computes the same product.
    */
  def dot(a: Column, b: Column): Column = VecDot.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private[similarity] def vecLit(v: Array[Float]): Column = array(v.toIndexedSeq.map(x => lit(x)): _*)

  /** Exact brute-force cosine top-k against a literal query vector.
    * Plans as scan -> project -> TakeOrderedAndProject: each partition
    * keeps only its local top-k, so this survives any row count.
    */
  def cosineTopK(df: DataFrame, vecCol: String, queryVec: Array[Float], k: Int, idCol: String): DataFrame = {
    require(queryVec.nonEmpty, "queryVec must be non-empty")
    val q = vecLit(queryVec)
    // guarded: a zero-norm, NaN-element or Inf-element vector has
    // cosine NaN (x/Inf is NaN too), and Spark orders NaN ABOVE every
    // number — unguarded it would occupy a top-k slot ahead of every
    // real neighbor. The when() nulls it and the filter drops it.
    // A row vector whose LENGTH mismatches queryVec dots to NULL
    // (VecDot's contract) and is dropped by the same filter.
    val denom = norm(col(vecCol)) * norm(q)
    df.withColumn("cosine",
        when(denom > 0 && !isnan(denom) && denom < lit(Double.PositiveInfinity),
          dot(col(vecCol), q) / denom))
      .filter(col("cosine").isNotNull)
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic random hyperplanes (seeded LCG — no JDK RNG so the
    * signature is stable across JVMs/versions). Box-Muller goes
    * through StrictMath: `Math.log`/`Math.cos` are only
    * 1-ulp-accurate and the JIT may intrinsify them differently per
    * platform, and these floats seed DURABLE state — the coarse
    * planes key [[graft.dedup.SeenIndex]]'s signature-cache directory
    * name (a drifted float silently orphans the cache) and the
    * refine planes (seeds 1042/2042) are regenerated per JVM and NOT
    * part of that key, so a cross-platform last-ulp difference would
    * flip cached refine bits against live ones and prune true
    * duplicates before verify (review r18). StrictMath is the
    * bit-reproducibility contract the cache's "cached ≡ live"
    * argument needs.
    */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long = 42L): Array[Array[Float]] = {
    var s = seed
    def next(): Double = { s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 11).toDouble / (1L << 53).toDouble }
    Array.fill(numPlanes, dim) {
      // Box-Muller standard normal (sqrt is correctly rounded per
      // IEEE 754, so Math.sqrt == StrictMath.sqrt already)
      val u1 = math.max(next(), 1e-12); val u2 = next()
      (math.sqrt(-2 * StrictMath.log(u1)) * StrictMath.cos(2 * math.Pi * u2)).toFloat
    }
  }

  /** Pack sign-of-dot bits against `planes` into a Long signature
    * column (random-hyperplane LSH: P[bit_a == bit_b] = 1 - angle/pi).
    * Backed by the [[RhpSig]] Catalyst expression — one tight
    * multiply-accumulate loop per row instead of `numPlanes`
    * interpreted higher-order passes; dot accumulates in double,
    * matching the driver-side [[signatureOf]] bit-for-bit.
    */
  def rhpSignature(vec: Column, planes: Array[Array[Float]]): Column = {
    require(planes.length <= 64, "signature packs into one long")
    RhpSig.rhpSig(vec, planes)
  }

  /** Split a packed signature into `bands` band-hash columns of
    * `bitsPerBand` bits each; near vectors collide on >= 1 band whp.
    */
  def bandColumns(sig: Column, bands: Int, bitsPerBand: Int): Seq[Column] = {
    // Scala shifts are mod 64: (1L << 64) - 1 is 0, which would zero
    // every band value — full-width bands take the all-ones mask
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    (0 until bands).map { b =>
      shiftright(sig, b * bitsPerBand).bitwiseAND(lit(mask)).as(s"band_$b")
    }
  }

  /** Driver-side signature of a query vector (same arithmetic as
    * [[rhpSignature]] up to float/double rounding of the dot).
    */
  def signatureOf(queryVec: Array[Float], planes: Array[Array[Float]]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(queryVec).map { case (a, b) => a.toDouble * b.toDouble }.foldLeft(0.0)(_ + _)
      if (d > 0) 1L << i else 0L
    }.sum

  /** Single-query ANN top-k, multiprobe style: candidates = rows whose
    * signature is within `maxHamming` bits of the query's (an unbiased
    * angle estimate — sharper with more planes), exact cosine only on
    * candidates. HONEST COST NOTE (review r18): computing `__sig`
    * itself is `numPlanes x dim` multiply-accumulates per row — with
    * the 64-plane default that is ~32x the ~2 x dim work of the exact
    * cosine it gates, so for a ONE-SHOT query over raw vectors
    * [[cosineTopK]] is strictly cheaper at perfect recall. This form
    * pays off only when the signature column is computed once and
    * amortized — a persisted/presigned frame scanned by many queries
    * (the shape [[graft.dedup.SeenIndex]]'s signature cache serves)
    * — or when `dim` is large enough that shipping candidate vectors
    * dominates. Recall degrades gracefully as true similarity
    * approaches noise (LSH can only promise recall for genuinely
    * close vectors); `maxHamming ~ 0.45 * planes` is a good default
    * band.
    */
  def annTopK(
      df: DataFrame,
      vecCol: String,
      queryVec: Array[Float],
      k: Int,
      idCol: String,
      planes: Array[Array[Float]],
      maxHamming: Int = -1): DataFrame = {
    val limitBits = if (maxHamming >= 0) maxHamming else math.max(1, (planes.length * 0.45).toInt)
    require(queryVec.length == planes.head.length,
      s"queryVec dim ${queryVec.length} != planes dim ${planes.head.length} — " +
        "signatureOf would silently zip-truncate and every cosine would be NULL")
    val qSig = signatureOf(queryVec, planes)
    // same NaN/Inf guard as [[cosineTopK]]: degenerate candidates
    // must not outrank real ones
    val denom = norm(col(vecCol)) * norm(vecLit(queryVec))
    df.withColumn("__sig", rhpSignature(col(vecCol), planes))
      .filter(bit_count(col("__sig").bitwiseXOR(lit(qSig))) <= limitBits)
      .withColumn("cosine",
        when(denom > 0 && !isnan(denom) && denom < lit(Double.PositiveInfinity),
          dot(col(vecCol), vecLit(queryVec)) / denom))
      .filter(col("cosine").isNotNull)
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
      .drop("__sig")
  }

  /** XOR masks of `bits` width with popcount <= radius — the probe
    * neighborhood for multiprobe LSH (identity mask first).
    */
  private[similarity] def probeMasks(bits: Int, radius: Int): Seq[Long] =
    (0 to radius).flatMap(k =>
      (0 until bits).combinations(k).map(_.foldLeft(0L)((m, p) => m | (1L << p))).toSeq)

  /** A derived LSH parameterization: how to band `numPlanes` sign bits
    * and how far to multiprobe so a pair AT `threshold` cosine is
    * recalled with probability >= the target. `expectedRecall` is that
    * at-threshold collision probability (pairs above threshold do
    * strictly better); `emitFactor` is the number of (band, key) join
    * rows emitted per input vector across both sides of the self-join —
    * the shuffle cost the geometry buys its recall with.
    */
  final case class LshGeometry(
      bands: Int, bitsPerBand: Int, probeHamming: Int,
      expectedRecall: Double, emitFactor: Long) {

    /** Predicted BACKGROUND candidate volume for a corpus of `n`
      * vectors — the expected band-join rows contributed by random
      * (near-orthogonal) pairs, whose per-bit agreement is 1/2 so two
      * band keys land within Hamming radius r with probability
      * |ball(k, r)| / 2^k:
      *
      *   bands x C(n, 2) x |ball(k, ceil r/2)| x |ball(k, floor r/2)| / 2^k
      *
      * — the BALL PRODUCT, not |ball(k, r)|: the physical join probes
      * half the radius on each side ([[nearDupPairs]]'s split), so a
      * random pair at band distance d joins once per (m1, m2) mask
      * split with m1 xor m2 = diff, and summing over all mask pairs
      * gives the product (at r=0 both forms agree; at r=2, k=8 the
      * product is 81/256 vs the single ball's 37/256 — an event count
      * would under-predict the join rows ~2.2x and admit over-budget
      * jobs).
      *
      * This is the quantity that made the measured x30 mid-threshold
      * surprise (ScaleBench: ~1e9 band-join rows at 60 k vectors,
      * threshold 0.4) PREDICTABLE: true near-dups add to it, but at
      * any realistic dup rate the background quadratic dominates the
      * join cost. [[nearDupPairsAuto]] warns when this exceeds its
      * candidate budget; callers sizing a run at scale should check it
      * first — it is the difference between a flat production
      * threshold and an intrinsic O(n^2) mid-threshold mine.
      */
    def expectedBackgroundCandidates(n: Long): Double =
      bands.toDouble * n.toDouble * (n - 1.0) / 2.0 *
        Similarity.maskCount(bitsPerBand, probeHamming - probeHamming / 2) *
        Similarity.maskCount(bitsPerBand, probeHamming / 2) /
        math.pow(2.0, bitsPerBand.toDouble)
  }

  private[similarity] def choose(n: Int, d: Int): Double =
    (0 until d).map(i => (n - i).toDouble / (i + 1)).product

  /** |Hamming ball| of radius r in k bits: sum_{d<=r} C(k, d). */
  private[similarity] def maskCount(k: Int, r: Int): Double =
    (0 to r).map(choose(k, _)).sum

  /** Derive (bands, bitsPerBand, probeHamming) from (threshold,
    * targetRecall) instead of hand-tuning per call site.
    *
    * Per-bit agreement for a pair at cosine t is p = 1 - acos(t)/pi
    * (random-hyperplane LSH). A k-bit band probed to Hamming radius r
    * collides with probability q = sum_{d<=r} C(k,d) p^(k-d) (1-p)^d,
    * and b independent bands give recall 1 - (1-q)^b. The search space
    * is every divisor split of `numPlanes` with bands >= 8 bits wide
    * (narrower bands degenerate toward the all-pairs join — same rule
    * [[nearDupPairs]] enforces) and probe radius 0..3; among shapes
    * meeting the target the CHEAPEST emit factor wins, so callers at
    * production thresholds (~0.95) automatically get radius-0 wide
    * bands while mid-threshold mining pays for exactly the probing it
    * needs. If NO shape reaches the target (very low thresholds), the
    * best-recall shape is returned and a warning logged — the caller
    * asked for more recall than `numPlanes` sign bits can resolve.
    */
  /** MEASURED SCALE CAVEAT (ScaleBench, 30x sf0.1): a k-bit band has
    * only 2^k buckets, so at mid thresholds the candidate count tracks
    * the BACKGROUND pair distribution, which is quadratic in corpus
    * size — 60 k near-orthogonal vectors at threshold 0.4 yield ~10^9
    * band-join rows and an 833 k-pair true result. That cost is
    * intrinsic to the selectivity asked for (the output itself is
    * near-quadratic: a 0.4 cut sits ~3 sigma into the random-cosine
    * distribution), not to the plan — runtime stays sub-linear per
    * emitted pair, and production thresholds (~0.95) keep both
    * candidates and output sparse (measured flat to 30x). Mine at mid
    * thresholds only on corpora small enough that the O(n^2) tail is
    * acceptable, and pass `broadcastVerify` when n x dim floats fit a
    * broadcast.
    */
  def lshGeometry(threshold: Double, targetRecall: Double = 0.95, numPlanes: Int = 64): LshGeometry = {
    require(targetRecall > 0.0 && targetRecall < 1.0, s"targetRecall=$targetRecall must be in (0, 1)")
    val candidates = geometryCandidates(threshold, numPlanes)
    val viable = candidates.filter(_.expectedRecall >= targetRecall)
    if (viable.nonEmpty) viable.minBy(g => (g.emitFactor, -g.expectedRecall))
    else {
      val best = candidates.maxBy(g => (g.expectedRecall, -g.emitFactor))
      log.warn(s"lshGeometry: no ($numPlanes-plane) banding reaches recall $targetRecall at " +
        s"threshold $threshold; best achievable is ${best.expectedRecall} with $best")
      best
    }
  }

  /** Every legal banding of `numPlanes` sign bits for this threshold:
    * the search space [[lshGeometry]] picks from (divisor splits with
    * bands >= 8 bits wide, probe radius 0..3). Exposed so budget-aware
    * callers ([[lshGeometryUnderBudget]]) can re-rank the same space
    * under a candidate-volume constraint.
    */
  private[similarity] def geometryCandidates(threshold: Double, numPlanes: Int): Seq[LshGeometry] = {
    require(numPlanes >= 8 && numPlanes <= 64, s"numPlanes=$numPlanes must be in [8, 64] (one long)")
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    for {
      bands <- (1 to numPlanes).filter(numPlanes % _ == 0)
      k = numPlanes / bands
      if k >= 8
      r <- 0 to math.min(3, k)
    } yield {
      val q = (0 to r).map(d => choose(k, d) * math.pow(p, (k - d).toDouble) * math.pow(1.0 - p, d.toDouble)).sum
      val recall = 1.0 - math.pow(1.0 - q, bands.toDouble)
      // both sides of the self-join probe half the radius each (see
      // nearDupPairs): keys per vector = bands x (|ball(ceil r/2)| + |ball(floor r/2)|)
      val emit = (bands * (maskCount(k, r - r / 2) + maskCount(k, r / 2))).toLong
      LshGeometry(bands, k, r, recall, emit)
    }
  }

  /** Best-recall geometry whose PREDICTED background candidate volume
    * at corpus size `n` stays within `candidateBudget` — the
    * [[BudgetPolicy.AutoDegrade]] re-ranking: instead of "cheapest
    * shape meeting the recall target" it is "most recall the budget
    * can buy" (ties break to the cheaper emit factor). Throws
    * [[CandidateBudgetExceededException]] if NO banding fits — every
    * shape's background volume is at least
    * C(n,2) / 2^numPlanes x numPlanes/8-ish, so only an enormous
    * corpus with a tiny budget lands here, and that caller needs a
    * different algorithm (partitioned mining / a higher threshold),
    * not a quieter warning.
    */
  def lshGeometryUnderBudget(
      threshold: Double,
      numPlanes: Int,
      corpusSize: Long,
      candidateBudget: Long,
      minRecall: Double = 0.0): LshGeometry = {
    require(corpusSize > 0, s"corpusSize=$corpusSize must be positive")
    require(minRecall >= 0.0 && minRecall <= 1.0, s"minRecall=$minRecall must be in [0, 1]")
    val fits = geometryCandidates(threshold, numPlanes)
      .filter(_.expectedBackgroundCandidates(corpusSize) <= candidateBudget.toDouble)
    if (fits.isEmpty) throw new CandidateBudgetExceededException(
      s"no $numPlanes-plane LSH banding keeps predicted background candidates within " +
        s"$candidateBudget rows at corpus size $corpusSize (threshold $threshold) — " +
        "raise the threshold, raise the budget, or partition the corpus before mining")
    val best = fits.maxBy(g => (g.expectedRecall, -g.emitFactor))
    // RECALL FLOOR: "most recall the budget can buy" with no floor is
    // a silent data-quality failure — at a large enough corpus the
    // best affordable geometry delivers 18% recall and the caller
    // receives a plausible-looking pair set missing 4 of every 5
    // duplicates. Below the floor this is a refusal, not a downgrade.
    if (best.expectedRecall < minRecall) throw new CandidateBudgetExceededException(
      f"best under-budget $numPlanes-plane geometry ($best) delivers at-threshold recall " +
        f"${best.expectedRecall}%.4f < required floor $minRecall%.2f at corpus size " +
        f"$corpusSize (threshold $threshold, budget $candidateBudget) — raise the " +
        "threshold, raise the budget, lower the floor knowingly, or partition the " +
        "corpus before mining")
    best
  }

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** [[nearDupPairs]] with the LSH geometry DERIVED from (threshold,
    * targetRecall) via [[lshGeometry]] — the call shape that is safe
    * to copy at scale: a user mining at 0.95 automatically gets
    * radius-0 wide bands; dropping the threshold to 0.4 automatically
    * buys the probing that keeps recall, and the emit-factor cost is
    * visible in the derived geometry rather than hidden in a copied
    * magic constant.
    *
    * BUDGET ENFORCEMENT: when `corpusSize` is supplied, the predicted
    * background candidate volume is checked against `candidateBudget`
    * BEFORE any job runs, and `budgetPolicy` decides what an
    * over-budget mine does — [[BudgetPolicy.WarnOnly]] (default,
    * legacy), [[BudgetPolicy.FailFast]] (throw
    * [[CandidateBudgetExceededException]] — set this in production
    * jobs), or [[BudgetPolicy.AutoDegrade]] (re-derive the geometry as
    * the most recall the budget can buy via
    * [[lshGeometryUnderBudget]], FLOORED at `minDegradedRecall` —
    * below the floor AutoDegrade refuses like FailFast, with the
    * achievable recall named in the exception, because a silently
    * 18%-recall dedup is a data-quality incident, not a degradation).
    * Reference analogue: the reference
    * pipeline caps raw sample volume per stage rather than letting a
    * mis-sized stage run (Requirements/ExamplePipelineCode.md:232).
    */
  def nearDupPairsAuto(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      targetRecall: Double = 0.95,
      numPlanes: Int = 64,
      seed: Long = 42L,
      dim: Int = 0,
      broadcastVerify: Boolean = false,
      corpusSize: Long = 0L,
      candidateBudget: Long = 100000000L,
      budgetPolicy: BudgetPolicy = BudgetPolicy.WarnOnly,
      minDegradedRecall: Double = 0.5): DataFrame = {
    val derived = lshGeometry(threshold, targetRecall, numPlanes)
    // Callers that know the corpus size get the x30 surprise ENFORCED
    // at plan time instead of a 97-second discovery at run time
    // (counting here would fire a job — size is caller-supplied, like
    // dim). Policy: warn (legacy), fail fast, or degrade to the
    // best-recall geometry the budget affords.
    // The recall floor binds whenever AutoDegrade's budget machinery
    // is engaged — including the UNDER-budget path: lshGeometry's
    // no-viable-shape fallback returns the best-achievable geometry
    // with only a warning, and a mine that fits the budget but
    // delivers 30% recall is the same data-quality incident the
    // over-budget floor refuses.
    if (corpusSize > 0 && budgetPolicy == BudgetPolicy.AutoDegrade &&
        derived.expectedRecall < minDegradedRecall)
      throw new CandidateBudgetExceededException(
        f"nearDupPairsAuto: the best $numPlanes-plane geometry for threshold $threshold " +
          f"($derived) delivers at-threshold recall ${derived.expectedRecall}%.4f < the " +
          f"required floor $minDegradedRecall%.2f before any budget question arises — " +
          "raise the threshold, add planes, or lower the floor knowingly")
    val g = if (corpusSize <= 0) derived else {
      val predicted = derived.expectedBackgroundCandidates(corpusSize)
      if (predicted <= candidateBudget.toDouble) derived
      else {
        val diagnosis =
          f"nearDupPairsAuto: predicted background candidate volume $predicted%.3g rows " +
            f"(n=$corpusSize, $derived) exceeds the budget of $candidateBudget rows — " +
            "this threshold/recall buys a near-quadratic band join at this corpus size; " +
            "raise the threshold, lower targetRecall, or accept the cost knowingly " +
            "(broadcastVerify keeps the verify stage map-side when vectors fit a broadcast)"
        budgetPolicy match {
          case BudgetPolicy.FailFast => throw new CandidateBudgetExceededException(diagnosis)
          case BudgetPolicy.WarnOnly => log.warn(diagnosis); derived
          case BudgetPolicy.AutoDegrade =>
            // minDegradedRecall floors the degradation: if even the
            // best affordable geometry misses more than half the true
            // pairs, fail like FailFast would (the exception names the
            // achievable recall) instead of silently shipping a
            // mostly-empty pair set.
            val fit = lshGeometryUnderBudget(
              threshold, numPlanes, corpusSize, candidateBudget, minDegradedRecall)
            log.warn(diagnosis + f" — AutoDegrade: running $fit instead " +
              f"(at-threshold recall ${fit.expectedRecall}%.3f vs requested " +
              f"${derived.expectedRecall}%.3f, predicted candidates " +
              f"${fit.expectedBackgroundCandidates(corpusSize)}%.3g)")
            fit
        }
      }
    }
    // Callers that know the embedding dimension pass it and the whole
    // call stays a lazy transform; dim = 0 falls back to a one-row
    // probe (the only Spark action on this path — null vectors are
    // skipped, and an empty/all-null frame short-circuits to an empty
    // result since there is nothing to pair).
    val d = if (dim > 0) dim else {
      // d > 0, not isNotNull: with ANSI off, size(NULL) is -1 (legacy
      // sizeOfNull), which would pass a null check and build zero
      // planes — degenerating the whole mine to one bucket
      val firstRow = df.select(size(col(vecCol)).as("d")).filter(col("d") > 0).take(1)
      if (firstRow.isEmpty)
        return df.select(col(idCol).as("id_a"), col(idCol).as("id_b"), lit(0.0).as("cosine")).limit(0)
      firstRow.head.getInt(0)
    }
    nearDupPairs(df, vecCol, idCol, threshold, hyperplanes(d, numPlanes, seed),
      g.bands, g.probeHamming, broadcastVerify)
  }

  /** [[nearDupPairs]] ACROSS two corpora — the SEMANTIC ingest
    * primitive: `batch` vectors paired against a `ref` corpus at
    * cosine >= threshold, output `(id_a from batch, id_b from ref,
    * cosine)`. Id spaces are independent (no `id_a < id_b` — a batch
    * row may legitimately share an id with a reference row). One
    * body with [[nearDupPairs]] ([[minePairs]] — same staged
    * normalization, split-radius probing, 126-bit refine prune, and
    * never-shuffle-wide-payloads verify), so the two paths literally
    * cannot drift in recall behavior; candidate volume is
    * `nBatch x nRef / 2^bits` per band — for the ingest-gate shape
    * (small batch, huge reference) that is batch-bound, the regime
    * where the self-mine's quadratic budget machinery is unnecessary.
    */
  def nearDupPairsAgainst(
      batch: DataFrame,
      ref: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      planes: Array[Array[Float]],
      bands: Int = 8,
      probeHamming: Int = 0,
      broadcastVerify: Boolean = false): DataFrame =
    minePairs(batch, Some(ref), vecCol, idCol, threshold, planes, bands,
      probeHamming, broadcastVerify)

  /** Keep only the batch rows whose vector is NOT within
    * cosine >= threshold of ANY reference vector — the semantic
    * ingest gate, the embedding-space member of the dropSeen family
    * ([[graft.dedup.Dedup.dropSeenHamming]] is the fingerprint one).
    * LSH recall caveat carries over: a true near-duplicate missed by
    * the banding PASSES the gate — derive (planes, bands,
    * probeHamming) from [[lshGeometry]] at the recall the gate's
    * policy requires. Degenerate batch vectors (null/NaN/zero-norm/
    * Inf-norm) are KEPT, mirroring dropSeenHamming's null rule: an
    * unhashable row cannot be proven seen. Rows with a NULL id are
    * also always kept — the verify stage joins by id, so a null-id
    * row can never be proven seen either; gate null ids upstream if
    * they can occur.
    *
    * `semiPruneVerify = true` additionally broadcasts the candidate
    * id set to prune the reference payload before the verify shuffle
    * (see the in-body comment at [[minePairs]]) — a plan-shape win
    * when candidates are KNOWN batch-bound, which the durable ingest
    * loops opt into; it defaults OFF here because the broadcast
    * materializes the whole candidate subplan under
    * spark.sql.broadcastTimeout, and a collision-heavy batch against
    * a big reference can fail where the default pure-shuffle plan
    * succeeds (ADVICE r17).
    */
  def dropSeenEmbedding(
      batch: DataFrame,
      ref: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      planes: Array[Array[Float]],
      bands: Int = 8,
      probeHamming: Int = 0,
      broadcastVerify: Boolean = false,
      semiPruneVerify: Boolean = false): DataFrame =
    dropSeenTail(batch, idCol, minePairs(
      batch, Some(ref), vecCol, idCol, threshold, planes, bands, probeHamming, broadcastVerify,
      semiPruneVerify = semiPruneVerify))

  /** The shared gate tail: anti-join the batch against the distinct
    * matched batch-side ids of a cross-corpus pair mine (review r18:
    * previously duplicated verbatim in the raw and presigned gates).
    */
  private def dropSeenTail(batch: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val seen = pairs.select(col("id_a").as("__seen_id")).distinct()
    batch.join(seen, col(idCol) === col("__seen_id"), "left_anti")
  }

  /** [[dropSeenEmbedding]] against a PRESIGNED reference:
    * `refSigged` must carry `(idCol, vecCol as a UNIT vector, __sig,
    * __rsig, __rsig2)` — the projection [[withSignatures]] writes and
    * [[graft.dedup.SeenIndex]]'s signature cache re-reads. The gate
    * skips the reference-side 190-plane signature pass entirely (the
    * one term that grows with index size); everything downstream of
    * candidate generation is the shared [[minePairs]] body, so
    * presigned and live gating cannot drift in probe, prune, or
    * verify behavior.
    */
  private[graft] def dropSeenEmbeddingPresigned(
      batch: DataFrame,
      refSigged: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      planes: Array[Array[Float]],
      bands: Int = 8,
      probeHamming: Int = 0,
      broadcastVerify: Boolean = false,
      // default ON (unlike the public gates): every caller is a
      // SeenIndex durable-ingest loop, where candidates are known
      // batch-bound and the semi-prune is what keeps the index's
      // wide payload off the per-micro-batch shuffle
      semiPruneVerify: Boolean = true): DataFrame =
    dropSeenTail(batch, idCol, minePairs(
      batch, None, vecCol, idCol, threshold, planes, bands, probeHamming, broadcastVerify,
      refSigged = Some(refSigged), semiPruneVerify = semiPruneVerify))

  /** All-pairs near-duplicate mining above a cosine threshold: LSH
    * band-bucket self-join (the scale path — candidate generation is a
    * shuffle on (band, hash), never a cross join), then exact cosine
    * verification on candidates.
    *
    * Bands must be >= 8 bits wide (enforced): a k-bit band has 2^k
    * buckets, and below ~8 bits the per-band bucket join degenerates
    * toward O(n^2 / 2^k) regardless of the data. Wide bands cost
    * recall at mid thresholds; `probeHamming` buys it back by also
    * joining rows against buckets within that Hamming radius of their
    * band value — the radius is split half per join side (see the
    * in-body comment), which covers the same Hamming ball at roughly
    * half the emitted keys. Per-band collision probability for a pair
    * with per-bit agreement p rises from p^k to
    * sum_{d<=r} C(k,d) p^(k-d) (1-p)^d, at an emit-factor cost of
    * |ball(ceil r/2)| + |ball(floor r/2)| keys per band across the two
    * sides. probeHamming=0 is the production near-dup setting
    * (threshold ~0.9+, where p^k alone holds recall); radius 1-2
    * serves mid-threshold mining. Prefer [[nearDupPairsAuto]], which
    * derives all three knobs from (threshold, targetRecall).
    */
  def nearDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      planes: Array[Array[Float]],
      bands: Int = 8,
      probeHamming: Int = 0,
      broadcastVerify: Boolean = false): DataFrame =
    minePairs(df, None, vecCol, idCol, threshold, planes, bands,
      probeHamming, broadcastVerify)

  /** The staged normalization every miner and gate shares: `(id,
    * unit-vector)` rows. Normalize ONCE per vector (staged projections
    * so the norm is an attribute): per-pair verification is then a
    * bare dot product — the norm would otherwise be recomputed for
    * both sides of every candidate pair. DEGENERATE vectors (null,
    * null/NaN elements, zero norm, and INFINITE norm — x/Inf is NaN
    * element-wise, the same poison as x/0) are dropped here:
    * unguarded, the RHP signature of a NaN vector collapses to a
    * constant (one mega-bucket), and NaN cosines PASS `>= threshold`
    * (Spark orders NaN above all numbers) — spurious pairs out of
    * garbage rows. The when() nulls the normalized vector and the
    * filter removes the row.
    */
  private def unitVectors(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    unitized(df.select(col(idCol), col(vecCol)), vecCol)
      .filter(col(vecCol).isNotNull)

  /** Normalize `vecCol` IN PLACE (degenerate vectors null out — see
    * [[unitVectors]]), preserving every other column — the one
    * normalization expression the miners and the durable signature
    * cache ([[graft.dedup.SeenIndex]]) share, so a cached signature
    * and a live one are computed from bit-identical unit vectors.
    */
  private[graft] def unitized(df: DataFrame, vecCol: String): DataFrame = {
    require(!df.columns.contains("__norm"), "input must not contain reserved column __norm")
    df.withColumn("__norm", norm(col(vecCol)))
      .withColumn(vecCol,
        when(col("__norm") > 0 && !isnan(col("__norm")) &&
            col("__norm") < lit(Double.PositiveInfinity),
          transform(col(vecCol), x => x / col("__norm"))))
      .drop("__norm")
  }

  /** The two fixed 63-plane refine geometries every miner uses —
    * factored so the signature cache computes bit-identical refine
    * signatures at append time (the seeds are part of the mining
    * contract, not per-call knobs).
    */
  private[graft] def refinePlanesA(dim: Int): Array[Array[Float]] =
    hyperplanes(dim, 63, seed = 1042L)
  private[graft] def refinePlanesB(dim: Int): Array[Array[Float]] =
    hyperplanes(dim, 63, seed = 2042L)

  /** The caller's columns plus `__sig`/`__rsig`/`__rsig2` computed
    * from the ONCE-normalized vector with the miner's exact geometry
    * (coarse `planes` + the two fixed refine sets) — the single
    * definition [[graft.dedup.SeenIndex]]'s signature cache shares
    * with the live mining path, so cached and recomputed signatures
    * can never drift. `vecCol` stays RAW in the output (the cache
    * stores raw vectors and re-normalizes at read — normalizing an
    * already-normalized float vector is NOT an identity in float
    * arithmetic, so the discipline is: always exactly one
    * normalization from raw). Degenerate vectors yield null
    * signatures; the row is kept.
    */
  private[graft] def withSignatures(
      df: DataFrame, vecCol: String, planes: Array[Array[Float]]): DataFrame = {
    require(!df.columns.contains("__unitv"), "input must not contain reserved column __unitv")
    signatureTriple(
      unitized(df.withColumn("__unitv", col(vecCol)), "__unitv"), "__unitv", planes)
      .drop("__unitv")
  }

  /** Append the `__sig`/`__rsig`/`__rsig2` columns to a frame whose
    * `vecCol` is ALREADY a unit vector — the ONE definition of the
    * signature triple (review r18: [[withSignatures]] and the miner's
    * internal projection each hand-built the three columns; any
    * drift between them would silently desynchronize the durable
    * cache from the live path, the exact hazard the scaladoc above
    * claims is structurally impossible).
    */
  private def signatureTriple(
      df: DataFrame, vecCol: String, planes: Array[Array[Float]]): DataFrame = {
    val dim = planes.head.length
    df.withColumn("__sig", rhpSignature(col(vecCol), planes))
      .withColumn("__rsig", rhpSignature(col(vecCol), refinePlanesA(dim)))
      .withColumn("__rsig2", rhpSignature(col(vecCol), refinePlanesB(dim)))
  }

  /** Refine-prune cut: the max 126-bit flip count a candidate pair may
    * show and still be worth an exact verify. A TRUE at-threshold
    * pair's flip count is Binomial(n, f) with f = acos(threshold)/pi,
    * so cutting at mean + 2 sigma keeps ~97.7% of at-threshold pairs
    * at EVERY threshold. (The previous multiplicative 1.15x slack was
    * 0.15 * mean — UNDER one sigma at high thresholds, where the mean
    * is small: exact binomial survival was ~0.80 at threshold >= 0.9,
    * silently spending a fifth of the recall the banding machinery
    * budgets for.) Random pairs flip ~n/2 = 63 bits, far above any
    * cut this produces for threshold > 0, so the prune still drops
    * the vast majority of band collisions.
    */
  private[similarity] def refineCut(refineBits: Int, threshold: Double): Int = {
    val f = math.acos(math.min(threshold, 1.0)) / math.Pi
    val mean = refineBits * f
    val sigma = math.sqrt(refineBits * f * (1.0 - f))
    math.ceil(mean + 2.0 * sigma).toInt
  }

  /** The banded-RHP mining core — ONE body behind [[nearDupPairs]]
    * (ref = None: self-join over `df`) and [[nearDupPairsAgainst]]
    * (ref = Some: batch x reference, independent id spaces, no
    * `id_a < id_b`), so the self-mine and the ingest gates
    * (q100/q104-q106, the SeenIndex embedding loops) can never drift
    * in guard, probe, prune, or verify behavior.
    *
    * Stages, each with its scale rationale:
    *  - [[unitVectors]] normalization + degenerate-row guard.
    *  - Candidate generation over (id, band, hash) ONLY — the wide
    *    vector payload must not ride through the band join + distinct
    *    (at n vectors per bucket that shuffle is O(pairs x dim); with
    *    bare ids it is O(pairs x 16 bytes)). Rows with a NULL id can
    *    never pair or gate: the verify stage joins by id, so null-id
    *    candidates vanish there — gate null-id rows upstream if ids
    *    can be missing.
    *  - Probe radius SPLIT across the two join sides: a pair whose
    *    band keys differ in d <= r bits surfaces when side A flips
    *    d1 <= ceil(r/2) of the differing bits and side B the other
    *    d2 <= floor(r/2) (any d <= r1+r2 admits such a split). The
    *    Hamming ball grows combinatorially, so half the radius per
    *    side is ~2x fewer shuffled rows with identical coverage; the
    *    probed side is a SECOND tiny Generate over a literal mask
    *    array, not one bands x masks struct-array projection (which
    *    at radius 2 is a ~600-expression CreateArray that falls out
    *    of codegen). Radius 0 reduces to the plain symmetric join.
    *  - Refined 126-bit signature (two 63-plane longs) prune BEFORE
    *    touching vectors: the candidate bands must stay coarse
    *    (recall), but the prune can be precise — at 126 bits the
    *    background's flip count concentrates (sigma ~5.6 bits around
    *    63). Two bit_counts over long pairs are ~free next to a
    *    dim-float dot; the cut is [[refineCut]]'s mean + 2 sigma.
    *  - Verification join strategy — the candidate stream must NEVER
    *    be sorted or shuffled carrying a dim-float payload:
    *    default = SHUFFLE-HASH for the two vector lookups (sort-merge
    *    would SORT the wide stream — measured at 30x sf0.1: ~60 GB of
    *    sort spill, disk exhaustion — while a shuffled hash join
    *    builds its table from the small (id, vec) side and only
    *    exchanges the stream); `broadcastVerify = true` = broadcast
    *    both lookups, ZERO exchanges of the candidate stream, correct
    *    whenever n x dim x 4 bytes fits a broadcast (~15 MB at
    *    60 k x 64) — exactly the regime where mid-threshold mining's
    *    near-quadratic candidate volume shows up.
    *
    * Its internal persists live as long as the enclosing
    * [[graft.core.CacheScope]].
    */
  private def minePairs(
      df: DataFrame,
      ref: Option[DataFrame],
      vecCol: String,
      idCol: String,
      threshold: Double,
      planes: Array[Array[Float]],
      bands: Int,
      probeHamming: Int,
      broadcastVerify: Boolean,
      refSigged: Option[DataFrame] = None,
      semiPruneVerify: Boolean = false): DataFrame = {
    require(ref.isEmpty || refSigged.isEmpty,
      "pass the reference either raw (ref) or presigned (refSigged), not both")
    require(planes.length % bands == 0,
      s"planes=${planes.length} must divide evenly into bands=$bands")
    val bitsPerBand = planes.length / bands
    require(bitsPerBand >= 8,
      s"bitsPerBand=$bitsPerBand: bands narrower than 8 bits (<256 buckets) degenerate " +
        s"toward the all-pairs join at scale; size planes = bands x k with k >= 8")
    require(probeHamming >= 0 && probeHamming <= bitsPerBand, s"probeHamming=$probeHamming")
    // cosine domain, NaN included: acos outside [-1, 1] is NaN, and
    // refineCut's ceil(NaN).toInt = 0 would set maxDisagree = 0 —
    // silently pruning every non-identical candidate (review r18)
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold=$threshold must be a cosine in [-1, 1]")
    // the probe neighborhood is enumerated DRIVER-side into a literal
    // mask array; the ball grows combinatorially (radius 6 at 64 bits
    // is ~83M masks — a multi-GB literal before any job plans).
    // geometryCandidates never derives past radius 3; fail loud
    // instead of hanging the driver (review r18).
    locally {
      val r = math.max(probeHamming - probeHamming / 2, probeHamming / 2)
      val ball = (0 to r).map(k =>
        (0 until k).foldLeft(1.0)((a, i) => a * (bitsPerBand - i) / (i + 1))).sum
      require(ball <= 50000.0,
        s"probeHamming=$probeHamming at $bitsPerBand-bit bands enumerates ~${ball.toLong} " +
          "probe masks per side driver-side; use more bands or a smaller radius " +
          "(lshGeometry never derives past radius 3)")
    }
    val bandMask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    // ONE persisted (id, unit-vec, 3 signatures) projection per side:
    // four plan branches consume each side (both probedKeys legs of
    // the self-join + the two verify lookups), and with asymmetric
    // probe masks ReuseExchange cannot collapse them — unpersisted,
    // the full-corpus scan + normalization would run up to 4x and the
    // 190-plane signature pass twice. Lazy persist keeps DataFrame
    // construction job-free (PlanContractSpec pins that for q30).
    // spreadIfNarrow on the SELF-MINE only: a single-split vector
    // source otherwise serializes the 190-plane signature pass AND the
    // quadratic band self-join below it (both inherit the cache's
    // partitioning — measured r19: q30's whole candidate generation
    // ran as ONE 2.5 s task; with the spread 1.7 s total, -52%).
    // Identity when the source already carries >= cores partitions, so
    // at real scale no extra exchange is paid (guide §2.5). The GATE
    // paths (cross-corpus) deliberately skip it: their candidate
    // volume is batch-bound and cheap, and a forced wide cache only
    // adds per-task overhead to every downstream stage (measured r19:
    // q100/q104/q108 +0.7-1.2 s with the spread on).
    val crossCorpus = ref.nonEmpty || refSigged.nonEmpty
    def sigged(vecs: DataFrame): DataFrame = CacheScope.persist(signatureTriple(
      if (crossCorpus) vecs else graft.core.Parallelism.spreadIfNarrow(vecs), vecCol, planes))
    val aS = sigged(unitVectors(df, vecCol, idCol))
    // presigned reference: the caller supplies (idCol, UNIT vecCol,
    // __sig, __rsig, __rsig2) — signatures read from a durable cache
    // instead of recomputed (the 190-plane pass is the term that
    // grows with index size); persisted here for the same
    // multi-consumer reason as sigged
    val bS = refSigged.map(CacheScope.persist)
      .orElse(ref.map(r => sigged(unitVectors(r, vecCol, idCol))))
      .getOrElse(aS)
    def probedKeys(sigs: DataFrame, radius: Int): DataFrame = {
      val exact = sigs.select(
        col(idCol), col("__rsig"), col("__rsig2"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("__sig"), b * bitsPerBand).bitwiseAND(lit(bandMask)).as("h"))
        }: _*)).as("bk"))
        .select(col(idCol), col("__rsig"), col("__rsig2"), col("bk.band"), col("bk.h"))
      if (radius == 0) exact
      else exact
        .withColumn("__m", explode(lit(probeMasks(bitsPerBand, radius).toArray)))
        .select(col(idCol), col("__rsig"), col("__rsig2"),
          col("band"), col("h").bitwiseXOR(col("__m")).as("h"))
    }
    val a = probedKeys(aS, probeHamming - probeHamming / 2)
      .toDF("id_a", "rsig_a", "rsig2_a", "band", "h")
    val b = probedKeys(bS, probeHamming / 2)
      .toDF("id_b", "rsig_b", "rsig2_b", "band", "h")
    val maxDisagree = refineCut(126, threshold) // 2 x 63 refine planes (refinePlanesA/B)
    val joined = a.join(b, Seq("band", "h"))
    val candidatesRaw = (if (!crossCorpus) joined.filter(col("id_a") < col("id_b")) else joined)
      .filter(
        (bit_count(col("rsig_a").bitwiseXOR(col("rsig_b"))) +
          bit_count(col("rsig2_a").bitwiseXOR(col("rsig2_b")))) <= maxDisagree)
      .select("id_a", "id_b")
      .distinct()
    // semi-prune feeds the candidate stream to TWO consumers (the
    // prune's broadcast and the verify join) — lazy persist so the
    // band join still runs once and construction stays job-free
    val candidates =
      if (semiPruneVerify && !broadcastVerify) CacheScope.persist(candidatesRaw)
      else candidatesRaw
    // the verify lookups read the SAME persisted projection (pruned to
    // (id, vec)) — no second scan of the vector source
    val vecA = aS.select(col(idCol), col(vecCol)).toDF("id_a", "vec_a")
    val vecB = bS.select(col(idCol), col(vecCol)).toDF("id_b", "vec_b")
    val (ja, jb) =
      if (broadcastVerify) (broadcast(vecA), broadcast(vecB))
      else if (semiPruneVerify)
        // THE GATE-REGIME verify shape: the plain shuffle-hash join
        // exchanges the reference side's ENTIRE wide (id, vec)
        // payload every invocation — at a billion-vector index that
        // is the dominant per-micro-batch shuffle, and only
        // candidate-matched rows (bounded by the batch's collision
        // count, batch-sized in the ingest-gate regime) survive the
        // join anyway. Semi-joining the wide payload against a
        // BROADCAST of the candidate id set prunes it DURING the
        // scan, before any exchange; only the pruned remnant rides
        // the shuffle-hash verify. Opt in only where candidates are
        // known batch-bound (the dropSeen family defaults it on) —
        // a mining workload's quadratic candidate set must never be
        // broadcast. OPERATIONAL NOTE: the broadcast's materialization
        // executes the whole candidate subplan (the band join over the
        // reference signatures) under spark.sql.broadcastTimeout
        // (default 300 s) — size that conf to the index scan on very
        // large indexes, or fall back to semiPruneVerify = false.
        (vecA.hint("shuffle_hash"),
          vecB.join(broadcast(candidates.select("id_b").distinct()), Seq("id_b"), "left_semi")
            .hint("shuffle_hash"))
      else (vecA.hint("shuffle_hash"), vecB.hint("shuffle_hash"))
    candidates
      .join(ja, "id_a")
      .join(jb, "id_b")
      .withColumn("cosine", dot(col("vec_a"), col("vec_b"))) // unit vectors
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
