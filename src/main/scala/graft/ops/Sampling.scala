package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast => bcast, _}

/** Deterministic sampling for training-data curation (engine addition
  * beyond the reference surface — the rebalancing step of a corpus
  * pipeline: downsample over-represented strata, keep rare ones).
  *
  * Spark's own `df.sample` is seed-stable only per partitioning — the
  * SAME rows land in the sample only while the physical partition
  * layout is identical, which no 100 TB pipeline can promise across
  * reruns, compaction, or cluster resize. These samplers instead hash
  * the ROW IDENTITY: a row is kept iff its score clears the rate
  * threshold, where the score is THREE Lehmer/MINSTD rounds
  *
  *   `h0 = mod(mod(id, m) * 48271 + seed, 2147483647); h = h0 * 48271 mod m; ...`
  *
  * (multiplier from the public MINSTD spec; one round is a bijection
  * but leaves a small contiguous id range unwrapped and therefore
  * unmixed — the extra rounds wrap the modulus hundreds of times, so
  * even ids 0..n score uniformly). The id is mod-reduced BEFORE the
  * first multiply, so every intermediate stays below
  * (m-1) * 48271 < 2^47: no overflow under Spark's ANSI arithmetic
  * for the FULL Long id range, xxhash64 surrogates included. Membership depends only on (id, seed, rate), so the
  * sample is
  *
  *   - reproducible bit-for-bit on any cluster shape or engine (the
  *     arithmetic is plain BIGINT mod — the DuckDB oracle runs the
  *     same formula);
  *   - NESTED across rates: rate 0.1 ⊂ rate 0.2 ⊂ ... (the keep
  *     predicate is a threshold on one score), which is what makes
  *     ablation series comparable;
  *   - a pure map-side filter: zero shuffle, zero state at any scale.
  *
  * Not cryptographic — fine for sampling, not for adversarial inputs.
  */
object Sampling {

  private val Mod = 2147483647L // 2^31 - 1 (prime)
  private val Mult = 48271L     // MINSTD multiplier

  /** The MINSTD score is pure integer arithmetic over a LONG id, so
    * every DataFrame-level consumer fails fast on a non-integral id
    * column: under ANSI a string id would otherwise surface as a bare
    * CAST error mid-job (or, with ANSI off, score NULL and silently
    * empty the sample / null every split). Hash non-integral ids to a
    * BIGINT surrogate first (e.g. `xxhash64`).
    */
  private[graft] def requireIntegralId(df: DataFrame, idCol: String, caller: String): Unit =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"$caller: id column '$idCol' is $other — the MINSTD sample score is integer " +
          "arithmetic over a long id; hash non-integral ids to a BIGINT surrogate first " +
          "(e.g. xxhash64)")
    }

  /** Uniform [0, m) sampling score of an integral id column —
    * overflow-safe for the FULL Long range: the id is pmod-reduced
    * into [0, m) before the first multiply, which is value-identical
    * to multiplying the raw id (mod arithmetic) wherever the raw form
    * didn't overflow, and well-defined where it did. The raw
    * `id * 48271` form died under ANSI (ARITHMETIC_OVERFLOW) exactly
    * for the xxhash64 surrogate ids [[requireIntegralId]]'s own error
    * message tells callers to construct (review r19). Every
    * intermediate now stays below (m-1) * 48271 < 2^47.
    */
  def sampleScore(id: Column, seed: Long): Column = {
    val h0 = pmod(pmod(id.cast("long"), lit(Mod)) * lit(Mult) + lit(seed % Mod), lit(Mod))
    val h1 = pmod(h0 * lit(Mult), lit(Mod))
    pmod(h1 * lit(Mult), lit(Mod))
  }

  /** Keep each row with probability `rate`, deterministically in
    * (idCol, seed).
    */
  def uniform(df: DataFrame, idCol: String, rate: Double, seed: Long = 0L): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate=$rate must be in [0,1]")
    requireIntegralId(df, idCol, "uniform")
    df.filter(sampleScore(col(idCol), seed) < lit((rate * Mod).toLong))
  }

  /** Stratified sampling: per-stratum keep rates (e.g. downsample the
    * dominant language), strata absent from `rates` keep
    * `defaultRate`. One map-side filter — the rate lookup is a
    * CASE/WHEN chain over the (small, driver-known) strata map, never
    * a join.
    */
  def stratified(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
      seed: Long = 0L): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "all rates must be in [0,1]")
    requireIntegralId(df, idCol, "stratified")
    val threshold = rates.foldLeft(lit((defaultRate * Mod).toLong)) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === lit(stratum), lit((rate * Mod).toLong)).otherwise(acc)
    }
    df.filter(sampleScore(col(idCol), seed) < threshold)
  }

  /** Temperature-style source mixing — the training-MIXTURE
    * construction step: per-stratum acceptance rates are DERIVED from
    * the corpus itself so that kept counts flatten toward the
    * square root of the raw counts (temperature T = 2 in the
    * published multilingual-sampling sense: kept_s ∝ sqrt(n_s),
    * i.e. q_s ∝ p_s^(1/2)):
    *
    *   `rate_s = min(1, k / sqrt(n_s))`
    *
    * so a stratum with n_s ≤ k² survives whole while larger ones are
    * downsampled by their own excess. `k` is the budget knob: kept_s
    * ≈ k·sqrt(n_s) for downsampled strata.
    *
    * The rate arithmetic is engine-portable BY CONSTRUCTION: sqrt,
    * divide, multiply and floor are each correctly-rounded IEEE-754
    * operations (sqrt is exact per the standard, unlike pow — which is
    * why the exponent is fixed at 1/2 instead of a free temperature),
    * so the per-stratum integer threshold `floor(rate·m)` is
    * bit-identical on any engine and membership is again a pure
    * function of (id, seed, corpus counts) — the DuckDB oracle
    * reproduces the exact row set.
    *
    * Scale shape: pass 1 is a partial-aggregated count per stratum
    * (one row per stratum crosses its exchange — the ONLY shuffle in
    * the operator, and it carries stratum keys and counts, never
    * corpus rows); the control-plane-sized rate table broadcast-joins
    * back; the keep decision is the same zero-shuffle map-side filter
    * as [[stratified]]. The corpus is scanned twice and its rows are
    * never shuffled.
    *
    * Rows whose stratum key is NULL are DROPPED: the rate join is an
    * inner equi-join and SQL null-equality never matches — a NULL
    * stratum has no defined population count, so no acceptance rate.
    * Callers that want them kept should coalesce the stratum column
    * to a sentinel first.
    */
  def temperatureMix(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      k: Double,
      seed: Long = 0L): DataFrame =
    temperatureMixWith(df, mixThresholds(df, strataCol, k), idCol, strataCol, seed)

  /** Pass 1 of [[temperatureMix]] alone: the per-stratum integer
    * acceptance thresholds `(strataCol, __mix_thr)` derived from this
    * corpus's counts. Control-plane sized (one row per stratum) — a
    * production pipeline snapshots it per corpus release, and the
    * STREAMING twin applies a snapshot to new arrivals via
    * [[temperatureMixWith]] (rates from the corpus the mixture was
    * designed on, not from whatever prefix of the stream has been
    * seen — per-micro-batch counts would make acceptance of a row
    * depend on arrival batching).
    */
  def mixThresholds(df: DataFrame, strataCol: String, k: Double): DataFrame = {
    require(k > 0.0, s"k=$k must be positive")
    df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__mix_n"))
      .withColumn("__mix_thr",
        floor(least(lit(1.0), lit(k) / sqrt(col("__mix_n").cast("double"))) * lit(Mod.toDouble)))
      .select(col(strataCol), col("__mix_thr"))
  }

  /** Pass 2 of [[temperatureMix]] alone: apply a (snapshot) threshold
    * table — broadcast join + the same deterministic MINSTD keep
    * filter. Stateless per-row given the snapshot, so it runs
    * UNCHANGED on a streaming DataFrame (stream-static broadcast
    * join; StreamingOpsSpec pins stream-vs-batch parity).
    */
  def temperatureMixWith(
      df: DataFrame,
      thresholds: DataFrame,
      idCol: String,
      strataCol: String,
      seed: Long = 0L): DataFrame = {
    requireIntegralId(df, idCol, "temperatureMixWith")
    df.join(bcast(thresholds), Seq(strataCol))
      .filter(sampleScore(col(idCol), seed) < col("__mix_thr"))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Pass 1 of [[epochMix]] alone: the per-source epoch factors
    * `(sourceCol, __ep_n, __ep_thr)` — how many WHOLE epochs of each
    * source the token budget buys (`__ep_n = floor(w_s·B / T_s)`) and
    * the MINSTD threshold for the fractional epoch
    * (`__ep_thr = floor(frac(w_s·B / T_s) · m)`). Control-plane sized
    * (one row per source); snapshot it per release, same discipline
    * as [[mixThresholds]]. Sources with zero weight or zero tokens
    * are dropped (no factor, no output rows).
    *
    * Every arithmetic step (sum, divide, multiply, floor) is a
    * correctly-rounded IEEE-754 operation on exact integer inputs, so
    * the factors — and therefore the exact emitted manifest — are
    * engine-portable (the q71 oracle recomputes them in DuckDB).
    */
  def epochFactors(
      df: DataFrame,
      sourceCol: String,
      tokenCol: String,
      weights: Map[String, Double],
      tokenBudget: Long): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget=$tokenBudget must be positive")
    require(weights.values.forall(_ >= 0.0) && weights.values.sum > 0.0,
      "weights must be non-negative with a positive sum")
    val wSum = weights.values.sum
    val wCase = weights.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
      when(col(sourceCol) === lit(s), lit(w / wSum)).otherwise(acc)
    }
    df.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol)).as("__ep_t"))
      .withColumn("__w", wCase)
      .filter(col("__w") > 0.0 && col("__ep_t") > 0)
      .withColumn("__f", col("__w") * lit(tokenBudget.toDouble) / col("__ep_t").cast("double"))
      .select(
        col(sourceCol),
        floor(col("__f")).cast("int").as("__ep_n"),
        floor((col("__f") - floor(col("__f"))) * lit(Mod.toDouble)).cast("long").as("__ep_thr"))
  }

  /** Epoch-based source upsampling to a token budget — the published
    * "epochs per source" mixing construction (the LLaMA-style table:
    * low-weight web data trains under one epoch, high-value sources
    * repeat for several): source s with raw token count T_s and
    * normalized weight w_s should contribute ~`w_s · tokenBudget`
    * tokens, i.e. `f_s = w_s·B / T_s` epochs — every document repeats
    * `floor(f_s)` times plus once more with probability `frac(f_s)`,
    * decided deterministically per document by the MINSTD score (the
    * realized token count is then within one source pass of target in
    * expectation, with no coordination between documents).
    *
    * Returns the repeat MANIFEST `(idCol, sourceCol, copy_idx)` —
    * `copy_idx` in `1..reps` distinguishes the copies so downstream
    * packing/shuffling ([[graft.ops.Curriculum]]) can treat each
    * repeat as its own row.
    *
    * Scale shape: pass 1 collapses to the source grain (one
    * partial-aggregated exchange carrying source keys + token sums);
    * the factor table broadcast-joins back and the repeat explode is
    * map-side — corpus rows never shuffle, and the output volume is
    * exactly the manifest being asked for.
    */
  def epochMix(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      tokenCol: String,
      weights: Map[String, Double],
      tokenBudget: Long,
      seed: Long = 0L): DataFrame =
    epochMixWith(df, epochFactors(df, sourceCol, tokenCol, weights, tokenBudget),
      idCol, sourceCol, seed)

  /** Pass 2 of [[epochMix]] alone: apply a (snapshot) factor table.
    * Stateless per-row given the snapshot — runs unchanged on a
    * streaming DataFrame (stream-static broadcast join), emitting
    * each arriving document's repeats immediately.
    */
  def epochMixWith(
      df: DataFrame,
      factors: DataFrame,
      idCol: String,
      sourceCol: String,
      seed: Long = 0L): DataFrame = {
    requireIntegralId(df, idCol, "epochMixWith")
    df.join(bcast(factors), Seq(sourceCol))
      .withColumn("__reps",
        col("__ep_n") + (sampleScore(col(idCol), seed) < col("__ep_thr")).cast("int"))
      // sequence(1, 0) counts DOWN in Spark — guard the zero-repeat case
      .select(
        col(idCol),
        col(sourceCol),
        explode(
          when(col("__reps") >= 1, sequence(lit(1), col("__reps")))
            .otherwise(array().cast("array<int>"))).as("copy_idx"))
  }

  /** Per-domain document cap — the Gopher-style rebalancing step that
    * bounds any single domain's share of the corpus: keep at most
    * `cap` rows per `domainCol` value, chosen deterministically by
    * ascending [[sampleScore]] (a uniform-at-random-but-reproducible
    * cap; ties impossible below, the id breaks them). Selection is a
    * pure function of (id, seed, cap), so reruns, repartitions, and
    * engines agree on the exact row set — the q62 oracle reproduces
    * it from the same integer arithmetic.
    *
    * Scale shape — the cap must NOT cost a full-corpus shuffle, and a
    * hot domain must not melt one reducer:
    *   1. pass 1 counts rows per domain (one partial-aggregated
    *      exchange carrying domain keys + counts, never corpus rows)
    *      and keeps only the OVER-CAP domains; that list is
    *      `localCheckpoint`ed eagerly (snapshot discipline — both
    *      consumers below would otherwise re-plan the count pass) and
    *      is control-plane-sized in real corpora (the long tail of
    *      domains sits under any sane cap).
    *   2. rows of under-cap domains pass through a broadcast ANTI
    *      join — map-side, never shuffled, and in a web corpus that
    *      is almost all rows.
    *   3. only over-cap domains' rows enter the ranking window, and
    *      Spark plans a partial `WindowGroupLimit` BEFORE that
    *      exchange, so each map task forwards at most `cap` rows per
    *      hot domain — the shuffle is bounded by tasks x cap per
    *      domain, not by the domain's raw size.
    * The corpus is scanned twice (both scans prune to the output
    * columns; the anti/semi split trades a second cheap scan for not
    * shuffling the dominant under-cap mass — at 100 TB a column-pruned
    * scan is far cheaper than a corpus-wide exchange).
    */
  def domainCap(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      cap: Int,
      seed: Long = 0L): DataFrame = {
    require(cap > 0, s"cap=$cap must be positive")
    requireIntegralId(df, idCol, "domainCap")
    // reserved working names (the IntervalJoin/CorpusShuffle
    // convention): withColumn would silently REPLACE a caller's
    // column, and the final select would return rank values in place
    // of their data for over-cap domains only (review r19)
    Seq("__rk", "__n").foreach(c => require(!df.columns.contains(c),
      s"domainCap: input already has a '$c' column — rename it first"))
    val over = graft.core.CacheScope.checkpoint(df.sparkSession)(df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap)
      .select(col(domainCol)))
    val underCapRows = df.join(bcast(over), Seq(domainCol), "left_anti")
    val rankedRows = df.join(bcast(over), Seq(domainCol), "left_semi")
      .withColumn("__rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(domainCol))
          .orderBy(sampleScore(col(idCol), seed).asc, col(idCol).asc)))
      .filter(col("__rk") <= cap)
      .select(df.columns.toIndexedSeq.map(col): _*)
    underCapRows.select(df.columns.toIndexedSeq.map(col): _*).unionByName(rankedRows)
  }

  /** Keep the top `p` FRACTION of each stratum by score — the
    * classifier-thresholding step of a curation pipeline stated as a
    * RANK, not a score cutoff ("keep the best 30% per language"
    * self-calibrates across strata whose score distributions differ;
    * a single global threshold over- or under-keeps whole languages).
    *
    * Rank semantics, deliberately not an interpolated percentile: the
    * kept set is the `ceil(p * n_s)` highest-scoring rows (ties to
    * the smallest id). The keep-count is computed in DOUBLE — a `p`
    * with no exact binary form (e.g. 0.1) can round the count up one
    * past the mathematical ceil — but it is the SAME double expression
    * on both engines, so the kept set is engine-exact; an interpolated
    * quantile THRESHOLD by contrast is one float whose
    * last-ulp placement (Spark computes `(1-g)a + gb`, other engines
    * `a + (b-a)g`) can flip boundary rows, so the q64 oracle would be
    * chasing rounding instead of semantics.
    *
    * Scale shape: pass 1 collapses to one (stratum, k) row per
    * stratum (map-side-combined count, snapshot-checkpointed — the
    * [[graft.dedup.Dedup.dupClusters]] discipline; both consumers
    * plan against the flat row set) and its max k is collected as ONE
    * literal; pass 2 ranks per stratum, where the `rank <= maxK`
    * LITERAL conjunct lets Spark plan a partial `WindowGroupLimit`
    * below the exchange (each map task forwards at most maxK rows per
    * stratum) and the broadcast-joined per-stratum `rank <= k_s` bound
    * applies exactly after the window. Rows with a NULL stratum are
    * dropped (no population, no rank) — [[temperatureMix]] semantics.
    */
  def topFractionByScore(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      scoreCol: String,
      p: Double): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"p=$p must be in (0, 1]")
    Seq("__rk", "__k").foreach(c => require(!df.columns.contains(c),
      s"topFractionByScore: input already has a '$c' column — rename it first"))
    val ks = graft.core.CacheScope.checkpoint(df.sparkSession)(df.groupBy(col(strataCol))
      .agg(ceil(lit(p) * count(lit(1)).cast("double")).cast("long").as("__k")))
    // empty input: max over zero strata is NULL -> 0 (rank <= 0 keeps
    // nothing, which is the right answer for an empty corpus)
    val maxK = ks.agg(max(col("__k"))).collect()
      .headOption.filterNot(_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
    df.join(bcast(ks), Seq(strataCol))
      .withColumn("__rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(strataCol))
          .orderBy(col(scoreCol).desc, col(idCol).asc)))
      .filter(col("__rk") <= lit(maxK) && col("__rk") <= col("__k"))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }
}
