package graft

import graft.core.CacheScope
import graft.dedup.SeenIndex
import graft.dedup.SeenIndex.{Cached, Live}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Scale-up measurement for the dedup / similarity block and the
  * text-curation pack — the engine's evidence that its 100 TB claims
  * are measured, not extrapolated from sf0.1.
  *
  * The driver's fixtures stop at sf0.1 (5 k docs / 2 k embeddings), so
  * this main DERIVES larger fixtures from them deterministically
  * rather than synthesizing a foreign distribution: scale xN unions N
  * copies of the sf0.1 tables where copy k
  *
  *   - offsets ids by k * 10^7 (id spaces stay disjoint);
  *   - suffixes every document token with `_k` — within-copy shingle
  *     structure (and therefore the per-copy duplicate population) is
  *     PRESERVED EXACTLY while cross-copy shingle overlap is zero, so
  *     the true-duplicate workload grows linearly in N by
  *     construction and any super-linear runtime is the algorithm's
  *     own doing;
  *   - flips embedding element signs by a seeded per-(copy, index)
  *     pattern — norms and within-copy dot products are bit-preserved
  *     (both sides flip together), cross-copy cosines are scrambled
  *     toward the near-orthogonal background.
  *
  * Fixtures land under `target/scale/x<N>/` (gitignored, rebuilt on
  * demand); `BENCH_scale.json` is (re)written with one
  * object per scale plus a fitted per-query scaling exponent
  * alpha = log(t_hi / t_lo) / log(hi / lo) — alpha ~ 1 is linear,
  * ~ 2 is the all-pairs cliff this block exists to avoid.
  *
  * Run: `runMain graft.ScaleBench` (optionally: baseDir outJson
  * scalesCsv, default `/root/testdata/sf0.1 BENCH_scale.json 1,3,10`).
  */
object ScaleBench {

  private val CopyStride = 10000000L

  /** The 8x reference history behind the embedding_gate_vs_history8
    * pair: the scale's reference vectors (vec_id % 3 != 0) plus seven
    * sign-scrambled copies at disjoint id offsets (1e9 per copy, far
    * above any fixture id). Per-(copy, index) sign flips preserve
    * norms and within-copy structure while pushing cross-copy cosines
    * to the near-orthogonal background — same construction as
    * [[ensureFixture]], different seed salt — so growing the history
    * 8x grows the reference-side SIGNATURE work 8x without inflating
    * the candidate volume.
    */
  private def history8Into(spark: SparkSession, emb: DataFrame, p: String): Unit = {
    val ref = emb.filter(col("vec_id") % 3 =!= 0)
    val copies = (0 until 8).map { k =>
      if (k == 0) ref
      else ref.select(
        (col("vec_id") + lit(k.toLong * 1000000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(pmod(xxhash64(lit(k + 1000), i), lit(2)) === 0, x).otherwise(-x)).as("embedding"),
        col("label"))
    }
    SeenIndex.append(copies.reduce(_.unionByName(_)), histKeys, p)
  }

  // ---- vs-history fixtures: DETERMINISTIC paths, built OUTSIDE the
  // measuring JVM ----
  //
  // r18's committed artifact showed the signed 8x-history pair
  // INVERTED at x30 (4.48 vs 3.03 s) even though the cache build ran
  // outside the timed thunk: the 320k-row index+cache build in the
  // SAME JVM moments before the measurement left lasting state (heap
  // geometry, code cache, page cache) that taxed the signed gate —
  // adjudicated cross-JVM (signed 3.86 vs 4.89 s) but only in a
  // comment. The general fix: every vs-history fixture lives at a
  // deterministic path under the scale dir, built by a CHILD JVM
  // (the `--fixtures` mode, forked by [[main]] before any timed run)
  // so NO timed thunk — first run included — shares a JVM with its
  // own fixture build. Entries fall back to an in-JVM build with a
  // loud warning when the fixture phase did not run (e.g. a selective
  // SPARK_GRAFT_SCALE_ONLY re-sweep against a fresh target dir).

  /** The gate geometry every vs-history entry shares (seed-stable, so
    * the child JVM's sig caches carry the same geometry key).
    */
  private def vsHistoryPlanes: Array[Array[Float]] =
    graft.similarity.Similarity.hyperplanes(64, 64)

  /** The embedding index family of the bench entries: the corpus's
    * `(vec_id, embedding)` gated at cosine 0.9.
    */
  private def histVecs(
      signatures: SeenIndex.Signatures,
      planes: Array[Array[Float]] = vsHistoryPlanes): SeenIndex.Embedding =
    SeenIndex.Embedding("embedding", "vec_id", threshold = 0.9, planes, signatures = signatures)

  /** The corpus's `(vec_id, embedding)` keys, for the index's appends,
    * reads and compactions.
    */
  private val histKeys = SeenIndex.Vectors("embedding", "vec_id")

  private val VsHistoryFixtures =
    Seq("hist_sigs", "hist_vecs", "hist_vecs8", "hist_phash", "pq_index")

  private def fixtureMarker(dir: String, name: String) =
    new java.io.File(s"$dir/_FIXTURE_$name")

  private def ensureVsHistoryFixture(
      spark: SparkSession, dir: String, name: String, quiet: Boolean = false)(
      build: String => Unit): String = {
    val p = s"$dir/$name"
    val done = fixtureMarker(dir, name)
    if (!done.exists()) {
      if (!quiet)
        System.err.println(s"ScaleBench: vs-history fixture '$name' not prebuilt — building " +
          "it in the MEASURING JVM; this entry's timings may be contaminated " +
          "(r18's x30 signed artifact). Full runs build fixtures in a child JVM.")
      // A marker-less target that EXISTS is a partial build from a
      // killed prior attempt. The SeenIndex builders APPEND, so
      // building on top would silently double the history and every
      // timing against it — delete the leftover index and its dotted
      // siblings (`.sigs-*`, `.epochs`, `.ivf_model`, ...) first.
      // Sibling match is `name + "."`-prefixed, so hist_vecs never
      // sweeps hist_vecs8.
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName == name || f.getName.startsWith(name + "."))
        .foreach(org.apache.hadoop.fs.FileUtil.fullyDelete)
      build(p)
      done.createNewFile()
    }
    p
  }

  private def buildHistSigs(spark: SparkSession, dir: String)(p: String): Unit = {
    val docs = graft.sources.Sources.documents(spark, dir)
    SeenIndex.append(
      docs.filter(col("doc_id") % 3 =!= 0), SeenIndex.Simhash("text"), p)
  }

  private def buildHistVecs(spark: SparkSession, dir: String)(p: String): Unit = {
    val emb = graft.sources.Sources.embeddings(spark, dir)
    SeenIndex.append(emb.filter(col("vec_id") % 3 =!= 0), histKeys, p)
    SeenIndex.ensureSigCache(spark, p, vsHistoryPlanes)
  }

  private def buildHistVecs8(spark: SparkSession, dir: String)(p: String): Unit = {
    history8Into(spark, graft.sources.Sources.embeddings(spark, dir), p)
    SeenIndex.ensureSigCache(spark, p, vsHistoryPlanes)
  }

  private def buildHistPhash(spark: SparkSession, dir: String)(p: String): Unit = {
    val docs = graft.sources.Sources.documents(spark, dir)
    graft.multimodal.PerceptualHash.perceptualHashes(
      graft.multimodal.Multimodal.syntheticImages(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"))
      .toDF().select(col("media_id"), col("ahash"))
      .write.mode("overwrite").parquet(p)
  }

  /** The pq_append_vs_index fixture: frozen models trained on the x1
    * base slice (identical at every scale — the copies only add
    * sign-scrambled rows) + the scale's reference slice encoded and
    * written cell-partitioned. The models persist next to the index
    * so the measuring JVM only LOADS them.
    */
  private def buildPqIndex(spark: SparkSession, dir: String)(p: String): Unit = {
    val emb = graft.sources.Sources.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") < CopyStride)
    val ivf = graft.similarity.Ivf.train(base, "embedding", k = 8, iters = 5)
    val pq = graft.similarity.Pq.trainResidual(base, "embedding", ivf, m = 8, ksub = 16)
    graft.similarity.Ivf.writeModel(spark, ivf, s"$p.ivf_model")
    graft.similarity.Pq.writeModel(spark, pq, s"$p.pq_model")
    graft.similarity.Pq.writeIndex(
      graft.similarity.Pq.encodeIvf(
        emb.filter(col("vec_id") % 3 =!= 0), "embedding", "vec_id", ivf, pq), p)
  }

  /** Build every vs-history fixture for one scale dir — the body of
    * the `--fixtures` child JVM.
    */
  def buildVsHistoryFixtures(spark: SparkSession, dir: String): Unit = {
    ensureVsHistoryFixture(spark, dir, "hist_sigs", quiet = true)(buildHistSigs(spark, dir))
    ensureVsHistoryFixture(spark, dir, "hist_vecs", quiet = true)(buildHistVecs(spark, dir))
    ensureVsHistoryFixture(spark, dir, "hist_vecs8", quiet = true)(buildHistVecs8(spark, dir))
    ensureVsHistoryFixture(spark, dir, "hist_phash", quiet = true)(buildHistPhash(spark, dir))
    ensureVsHistoryFixture(spark, dir, "pq_index", quiet = true)(buildPqIndex(spark, dir))
  }

  def ensureFixture(spark: SparkSession, baseDir: String, outDir: String, n: Int): Unit = {
    val done = new java.io.File(s"$outDir/_DONE")
    if (done.exists()) return
    val docs = graft.sources.Sources.documents(spark, baseDir)
    val emb = graft.sources.Sources.embeddings(spark, baseDir)
    val docCopies = (0 until n).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + lit(k * CopyStride)).as("doc_id"),
        array_join(transform(split(col("text"), " "), w => concat(w, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docCopies.reduce(_.unionByName(_))
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val embCopies = (0 until n).map { k =>
      if (k == 0) emb
      else emb.select(
        (col("vec_id") + lit(k * CopyStride)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(pmod(xxhash64(lit(k), i), lit(2)) === 0, x).otherwise(-x)).as("embedding"),
        col("label"))
    }
    embCopies.reduce(_.unionByName(_))
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    done.createNewFile()
    ()
  }

  /** The measured block: every operator family whose 100 TB story is
    * "bucketed, never all-pairs" — plus the single-query brute scan as
    * the known-linear control. `extra` records per-query JSON fields
    * beyond sec/rows (the cc entries report rounds-to-convergence and
    * per-round seconds through it).
    */
  private def block(
      spark: SparkSession,
      dir: String,
      x: Int,
      nEmb: Long,
      extra: (String, String) => Unit,
      wanted: String => Boolean): Seq[(String, () => Long)] = {
    def docs = graft.sources.Sources.documents(spark, dir)
    def emb = graft.sources.Sources.embeddings(spark, dir)
    // Candidate-budget estimator evidence: the mid-threshold entry's
    // near-quadratic cost is PREDICTED at plan time from (geometry, n)
    // — the prediction and whether it clears nearDupPairsAuto's
    // default 1e8 budget land in the JSON next to the measurement
    // (SimilaritySpec pins the formula against a measured band join).
    // Extras blocks are gated on `wanted`: they run REAL Spark jobs
    // (geometry predictions are cheap, maxStratumRows is a full
    // aggregation), and a selective SPARK_GRAFT_SCALE_ONLY re-sweep
    // must not pay for entries it then filters out.
    if (wanted("embedding_neardup_mid04") || wanted("embedding_neardup_mid04_degraded")) {
      val g = graft.similarity.Similarity.lshGeometry(threshold = 0.4)
      val predicted = g.expectedBackgroundCandidates(nEmb)
      val exceeded = predicted > 100000000.0
      extra("embedding_neardup_mid04",
        s""","predicted_background_candidates":${
          String.format(java.util.Locale.ROOT, "%.4g", Double.box(predicted))
        },"candidate_budget":100000000,""" +
          s""""budget_exceeded":$exceeded,"budget_policy":"FailFast"""")
      // The degraded entry runs whatever geometry the budget affords
      // at this corpus size — record what that was and the recall it
      // kept relative to the requested shape.
      // minRecall = 0 here records what the unfloored geometry WOULD
      // be; the thunk below runs with the default 0.5 floor, so when
      // at_threshold_recall < 0.5 (x30) the entry's err field records
      // the refusal instead of a silent 18%-recall "success".
      val fit = graft.similarity.Similarity.lshGeometryUnderBudget(
        threshold = 0.4, numPlanes = 64, corpusSize = math.max(1L, nEmb), candidateBudget = 100000000L)
      extra("embedding_neardup_mid04_degraded",
        s""","budget_policy":"AutoDegrade","degraded":$exceeded,""" +
          s""""geometry":"$fit","at_threshold_recall":${
            String.format(java.util.Locale.ROOT, "%.4f", Double.box(fit.expectedRecall))},""" +
          s""""min_degraded_recall":0.5,"floor_refused":${fit.expectedRecall < 0.5},""" +
          s""""predicted_background_candidates":${
            String.format(java.util.Locale.ROOT, "%.4g",
              Double.box(fit.expectedBackgroundCandidates(nEmb)))}""")
    }
    // Record which form the packing facade routes to at this scale
    // (single corpus stratum, so max stratum rows = the doc count).
    if (wanted("sequence_packing_auto")) {
      val maxStratum = graft.text.SequencePacking.maxStratumRows(
        docs.withColumn("stratum", lit("corpus")), "stratum")
      extra("sequence_packing_auto",
        s""","max_stratum_rows":$maxStratum,"window_threshold":20000,""" +
          s""""routed":"${if (maxStratum <= 20000L) "window" else "distributed"}"""")
    }
    def ccExtra(name: String, run: graft.dedup.Dedup.CcRun): Unit = extra(name,
      s""","rounds":${run.rounds},"converged":${run.converged},""" +
        s""""round_secs":[${run.roundSecs
          .map(s => String.format(java.util.Locale.ROOT, "%.3f", Double.box(s)))
          .mkString(",")}]""")
    Seq(
      "exact_dedup" -> (() => graft.dedup.Dedup.exactDedup(docs, "text", "doc_id").count()),
      "minhash_candidates" -> (() =>
        graft.dedup.Dedup.minhashCandidatePairs(docs, "text", "doc_id").count()),
      "lsh_verified_jaccard" -> (() => CacheScope.run(spark)(
        graft.dedup.Dedup.verifyCandidates(docs, "text", "doc_id", n = 3, threshold = 0.5).count())),
      "curation_pipeline" -> (() =>
        graft.text.CurationPipeline.run(spark, dir).table("curated").count()),
      // broadcastVerify: the vector table is n x 64 floats (15 MB at
      // x30) — broadcast verification keeps the near-quadratic
      // mid-threshold candidate stream entirely map-side (see the
      // nearDupPairs scaladoc; without it, 30x mining shuffles ~27 GB
      // of vector-carrying candidates).
      // FailFast: at x10/x30 the predicted volume blows the 1e8
      // budget and the thunk throws at PLAN time — the JSON records
      // the enforcement (err = CandidateBudgetExceededException, ~0 s)
      // instead of the 135 s near-quadratic join it replaced.
      "embedding_neardup_mid04" -> (() =>
        graft.similarity.Similarity
          .nearDupPairsAuto(emb, "embedding", "vec_id", threshold = 0.4, dim = 64,
            broadcastVerify = true, corpusSize = nEmb,
            budgetPolicy = graft.similarity.BudgetPolicy.FailFast).count()),
      // AutoDegrade twin: same ask, but over budget it re-derives the
      // most-recall-under-budget geometry and runs THAT — the measured
      // time is what a budget-respecting mid-threshold mine costs.
      // The default minDegradedRecall = 0.5 floor applies: at x30 the
      // best affordable geometry keeps only 18% recall, so the thunk
      // REFUSES (err = CandidateBudgetExceededException) rather than
      // shipping a pair set missing 4 of every 5 duplicates.
      "embedding_neardup_mid04_degraded" -> (() =>
        graft.similarity.Similarity
          .nearDupPairsAuto(emb, "embedding", "vec_id", threshold = 0.4, dim = 64,
            broadcastVerify = true, corpusSize = nEmb,
            budgetPolicy = graft.similarity.BudgetPolicy.AutoDegrade).count()),
      "embedding_neardup_prod095" -> (() =>
        graft.similarity.Similarity
          .nearDupPairsAuto(emb, "embedding", "vec_id", threshold = 0.95, dim = 64,
            broadcastVerify = true).count()),
      "ivf_knn_join" -> (() => {
        val model = graft.similarity.Ivf.train(emb, "embedding", k = 8, iters = 5)
        val idx = graft.similarity.Ivf.index(emb, "embedding", "vec_id", model)
        // FIXED 20-query batch (ids 0-19 live only in copy 0) so the
        // measurement isolates index-side growth; a growing query set
        // would conflate both sides into an artificial N^2.
        val queries = emb.filter(col("vec_id") < 20L)
          .select(col("vec_id").as("q_id"), col("embedding"))
        graft.similarity.Ivf
          .knnJoin(idx, "embedding", "vec_id", queries, "embedding", "q_id", k = 5, model, nprobe = 3)
          .count()
      }),
      "brute_topk_control" -> (() =>
        graft.similarity.Similarity.cosineTopK(emb, "embedding",
          Array.fill(64)(0.125f), 10, "vec_id").count()),
      // SemDeDup: k-means cells sized to ~250-row occupancy (k grows
      // with the corpus), so within-cell pair work is n x avgCell —
      // linear at fixed occupancy; training stays a fixed-size driver
      // sample at any scale. rows = the kept corpus.
      "semantic_dedup" -> (() => {
        val k = math.max(8L, nEmb / 250L).toInt
        val model = graft.similarity.Ivf.train(emb, "embedding", k = k, iters = 5)
        val kept = graft.similarity.SemDedup
          .withDecisions(emb, "embedding", "vec_id", model, eps = 0.4)
          .filter(col("removed") === 0)
          .count()
        extra("semantic_dedup", s""","k_cells":$k,"eps":0.4""")
        kept
      }),
      // The path that actually runs at 100 TB: dupClusters FORCED onto
      // the distributed label-propagation branch (collectThreshold=0
      // semantics) over this scale's real verified pair list. rows =
      // distinct clusters (a correctness signal, not just volume).
      "dup_clusters_forced_distributed" -> (() => {
        val p = CacheScope.checkpoint(spark)(graft.dedup.Dedup
          .verifyCandidates(docs, "text", "doc_id", n = 3, threshold = 0.5)
          .select(col("id_a"), col("id_b")))
        val run = graft.dedup.Dedup.dupClustersDistributedRun(p, maxIter = 25)
        val nClusters = run.labels.dropDuplicates("cluster").count()
        ccExtra("dup_clusters_forced_distributed", run)
        nClusters
      }),
      // Worst-case-diameter synthetic: x*300k nodes in ORDERED chains
      // of 100k (component min at one end — plain one-hop propagation
      // would need 100k rounds; pointer halving needs ~log2). rows
      // must equal the constructed 3x chains or the labeling is wrong.
      "cc_chain_distributed" -> (() => {
        val chainLen = 100000L
        val nNodes = x * 300000L
        val p = CacheScope.checkpoint(spark)(spark.range(nNodes)
          .filter(pmod(col("id") + 1, lit(chainLen)) =!= 0 && col("id") + 1 < nNodes)
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b")))
        val run = graft.dedup.Dedup.dupClustersDistributedRun(p, maxIter = 25)
        val nClusters = run.labels.dropDuplicates("cluster").count()
        ccExtra("cc_chain_distributed", run)
        nClusters
      }),
      // Curation pack. Packing runs the AUTO facade on the worst-case
      // skew (ONE stratum = the whole corpus) with a 20 k-row window
      // threshold, so the JSON witnesses the routing itself: x1 stays
      // on the window form (small stratum, one task is fine), x10/x30
      // route to the distributed chunked-prefix-sum form — replacing
      // the raw window form's super-linear single-task tail. The
      // distributed entry pins the 100 TB form at every scale; both
      // return bins-used (max bin + 1) so the JSON also witnesses the
      // forms agree at every scale, not just in the spec.
      "sequence_packing_auto" -> (() =>
        graft.text.SequencePacking
          .packBins(docs.withColumn("stratum", lit("corpus")),
            "text", "stratum", "doc_id", capacity = 2048, windowThreshold = 20000L)
          .agg(max(col("bin")) + 1).head().getLong(0)),
      "sequence_packing_distributed" -> (() =>
        graft.text.SequencePacking
          .assignBinsDistributed(docs.withColumn("stratum", lit("corpus")),
            "text", "stratum", "doc_id", capacity = 2048, numChunks = 64)
          .agg(max(col("bin")) + 1).head().getLong(0)),
      // Stratified sampling: pure map-side filter; rows = kept docs
      // (grows linearly with the fixture by construction).
      "stratified_sample" -> (() =>
        graft.ops.Sampling.stratified(docs, "doc_id", "lang",
          rates = Map("en" -> 0.1, "de" -> 0.5), defaultRate = 0.8, seed = 42L).count()),
      // PII scrub: codegen'd per-row regex projection; the aggregate
      // forces both the scrubbed text and every count column.
      "pii_scrub" -> (() =>
        graft.text.PiiScrub.scrubbed(docs, "text")
          .agg(sum(length(col("scrubbed"))) +
            sum(col("n_email") + col("n_phone") + col("n_ssn") + col("n_ipv4")))
          .head().getLong(0)),
      // Text pack. The token-suffix fixture keeps every entry's
      // workload honest at xN: per-copy n-gram structure is exact and
      // cross-copy gram overlap is zero, so gram-keyed work (the
      // decontamination marker join, the novelty df table + score
      // join) grows linearly in true size by construction.
      //
      // Decontamination: same q43 slice (doc_id % 97 is the benchmark)
      // — the broadcast side grows linearly with the fixture, which is
      // exactly the property to watch: alpha > 1 here would mean the
      // broadcast gram set has stopped being control-plane sized.
      "decontamination" -> (() => {
        val d = docs
        graft.text.Decontamination.report(
          d.filter(pmod(col("doc_id"), lit(97L)) =!= 0L),
          d.filter(pmod(col("doc_id"), lit(97L)) === 0L),
          "text", "doc_id").count()
      }),
      // Bloom regime of the same report: gram set rides along as
      // ~10 bits/gram and the probe runs inside the map-side partial
      // agg, so only fpp x grams + true hits reach the exact
      // semi-join. Same answer as `decontamination` by contract
      // (q50 shares q43's oracle); the alpha certifies the probe
      // stays corpus-linear as both sides grow.
      "decontamination_bloom" -> (() => {
        val d = docs
        graft.text.Decontamination.reportWithBloom(
          d.filter(pmod(col("doc_id"), lit(97L)) =!= 0L),
          d.filter(pmod(col("doc_id"), lit(97L)) === 0L)
            .select(explode(graft.text.Decontamination.distinctNgrams(col("text"), 3)).as("g"))
            .distinct(),
          "text", "doc_id").count()
      }),
      // Fuzzy (near-dup) decontamination: cross-corpus banded
      // MinHash + exact verification. Bands join only ACROSS the
      // corpus/bench split, so candidate volume scales with the true
      // near-dup population (the fixture's planted dup pairs, linear
      // in N) plus band collisions — never |corpus| x |bench|.
      "fuzzy_decontamination" -> (() => {
        val d = docs
        graft.text.Decontamination.fuzzyReport(
          d.filter(pmod(col("doc_id"), lit(5L)) =!= 0L),
          d.filter(pmod(col("doc_id"), lit(5L)) === 0L),
          "text", "doc_id").count()
      }),
      // BPE pair statistics: the corpus collapses to the vocab grain
      // in ONE exchange (word freqs with map-side combine); pair
      // counting is vocab-grain after that, so cost is corpus-linear
      // in the scan and sub-linear past it (the word-soup fixture's
      // vocab saturates while the corpus grows).
      "bpe_pair_stats" -> (() =>
        graft.text.BpeStats.pairCounts(docs, "text").count()),
      // Corpus novelty: TWO corpus-sized exchanges keyed on a
      // power-law gram — the single shape in the engine most exposed
      // to skew at scale; df-table partial aggregation and AQE skew
      // split are what an alpha near 1 certifies.
      "corpus_novelty" -> (() =>
        graft.text.CorpusStats
          .noveltyReport(docs, "text", "doc_id", n = 2, rareMaxDf = 2).count()),
      // Corpus novelty under an ADVERSARIAL hot gram: half the docs
      // ARE one stamped boilerplate run (the crawled-cookie-banner
      // pathology), so a single gram carries half the corpus's
      // (doc, gram) rows into ONE partition of the score join. The
      // PRODUCTION shape — noveltyReportWith over a materialized
      // docFrequency snapshot — is the skew-split-eligible one
      // (OptimizeSkewedJoin needs Sort directly over a shuffle stage
      // on both sides; the inline form's df-side aggregate blocks it,
      // see the CorpusStats scaladoc) and this entry PROVES the split
      // fires: thresholds are scaled to fixture size (the 256 MB
      // default needs a real cluster's partition volume), many
      // partitions stand in for a cluster-scale shuffle, broadcast is
      // disabled so the join keeps its at-scale sort-merge shape, and
      // the extras record whether the final adaptive plan actually
      // split the hot partition (skew=true). CorpusStatsSpec pins the
      // same marker plus result-invariance under the split.
      "corpus_novelty_hotgram" -> (() => {
        val conf = spark.conf
        val keys = Seq(
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.shuffle.partitions")
        val saved = keys.map(k => k -> conf.getOption(k))
        try {
          conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          // 256 partitions is the local stand-in for a cluster-scale
          // shuffle: the median partition shrinks with the partition
          // count while the hot gram's rows cannot subdivide — which
          // is exactly what makes one key SKEWED (and why the 256 MB
          // default threshold only ever fires on a real cluster).
          conf.set("spark.sql.shuffle.partitions", "256")
          conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8192")
          conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
          conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096")
          val boiler = Seq.fill(12)("spam").mkString(" ")
          val id = col("doc_id").cast("string")
          val hot = docs.select(col("doc_id"),
            when(pmod(col("doc_id"), lit(2L)) === 0L, lit(boiler))
              .otherwise(concat_ws(" ",
                concat(lit("u"), id, lit("a")),
                concat(lit("u"), id, lit("b")),
                concat(lit("u"), id, lit("c")))).as("text"))
          // collect() (not head()) so this Dataset's own adaptive
          // execution finalizes and the plan marker is readable
          val (n, plan) = CacheScope.run(spark) {
            val snapshot = CacheScope.checkpoint(spark)(graft.text.CorpusStats
              .docFrequency(hot, "text", n = 2))
            val agg = graft.text.CorpusStats
              .noveltyReportWith(hot, snapshot, "text", "doc_id", n = 2, rareMaxDf = 2)
              .groupBy().count()
            (agg.collect()(0).getLong(0), agg.queryExecution.executedPlan.toString)
          }
          extra("corpus_novelty_hotgram",
            s""","skew_join_fired":${plan.contains("skew=true")},""" +
              s""""skew_threshold_bytes":8192,"hot_doc_fraction":0.5""")
          n
        } finally saved.foreach { case (k, v) =>
          v.fold(conf.unset(k))(conf.set(k, _))
        }
      }),
      // Chunking: scan -> one Generate, zero shuffles; rows = total
      // chunks (~n_tokens/stride per doc), linear by construction —
      // the text pack's known-linear control alongside brute_topk.
      "chunking" -> (() =>
        graft.text.Chunking
          .chunks(docs, "text", "doc_id", window = 64, stride = 48).count()),
      // Repeated spans: one position row per token, aggregated to the
      // distinct (span, doc) grain before any join. The token-suffix
      // fixture preserves per-copy span duplication exactly with zero
      // cross-copy overlap, so the duplicated-span population grows
      // linearly in N and alpha near 1 certifies the distinct-grain
      // aggregation absorbs it (a pairwise occurrence join would go
      // quadratic in the shared-boilerplate population instead).
      "repeated_spans" -> (() =>
        graft.text.RepeatedSpans
          .docDupStats(docs, "text", "doc_id", k = 8).count()),
      // Span removal (stage 2): same grains plus the keeper join and
      // the per-doc removal-starts aggregate; the agg forces the
      // pruned text so the zip_with/slice gap algebra is actually
      // evaluated, not pruned away by a bare count.
      "prune_spans" -> (() =>
        graft.text.RepeatedSpans
          .pruneSpans(docs, "text", "doc_id", k = 8)
          .agg(sum(length(col("pruned_text"))) + sum(col("n_removed")))
          .head().getLong(0)),
      // Quality gate: forced through gophered() so the keep-gate
      // filter makes every signal column live — a bare count() would
      // let Catalyst prune all seven signals and time the scan.
      "quality_filters" -> (() =>
        graft.text.QualityFilters.gophered(docs, "text").count()),
      // Temperature mixing: one stratum-count exchange (rows = #langs)
      // + broadcast rate table + map-side keep filter.
      "temperature_mix" -> (() =>
        graft.ops.Sampling
          .temperatureMix(docs, "doc_id", "lang", k = 12.0, seed = 7L).count()),
      // DSIR importance weights: fit collapses to the 256-bucket grain
      // (map-side combine), score is one gram pass + broadcast bucket
      // join + doc-grain agg — fit AND score measured together.
      "importance_weights" -> (() =>
        graft.text.ImportanceResampling.weightsReport(
          docs, col("lang") === "en", "text", "doc_id").count()),
      // Bigram-LM perplexity: fit collapses the train subset to
      // bigram/context/vocab grains; score joins the model tables and
      // collapses to the doc grain. Vocab grows with corpus text, so
      // this is the one text op whose model side scales too.
      "perplexity_lm" -> (() =>
        graft.text.NgramLm.perplexityReport(
          docs, col("lang") === "en", "text", "doc_id").count()),
      // Seed-trained NB quality gate: eager snapshot fit (two seed
      // passes to bounded grains) + one-pass score against the local
      // bucket table — the gate's cost should track the gram count
      // linearly at any corpus size.
      "quality_gate" -> (() => {
        val model = graft.text.QualityClassifier.fit(
          docs, when(pmod(col("doc_id"), lit(5L)) === 1L, col("lang") === "en"), "text")
        graft.text.QualityClassifier.score(docs, model, "text", "doc_id").count()
      }),
      // Gate-then-pack composition (q58's shape): one corpus scan —
      // the gate's n_grams determines the token count exactly, so
      // packing the keep set needs no second text pass. Measured in
      // the DISTRIBUTED packing form: the scale path for a dominant
      // stratum (the window form would serialize it into one task).
      "gate_pack" -> (() => {
        val model = graft.text.QualityClassifier.fit(
          docs, when(pmod(col("doc_id"), lit(5L)) === 1L, col("lang") === "en"), "text")
        val survivors = graft.text.QualityClassifier
          .score(docs, model, "text", "doc_id", carry = Seq("lang"))
          .filter(col("keep"))
          .withColumn("n_tokens", expr("(n_grams + 1) div 2"))
        graft.text.SequencePacking.packedBinsFromCounts(
          survivors, "n_tokens", "lang", "doc_id", capacity = 1024,
          distributed = true).count()
      }),
      // BM25 retrieval scoring: corpus-stats snapshot + term-grain idf
      // pass + one (doc, term) tf aggregate + doc-grain sum. All three
      // exchanges carry ids/terms/integers, never text; cost should
      // track the token scan linearly.
      "bm25" -> (() =>
        graft.text.Bm25.score(
          docs, "text", "doc_id", Seq("spark", "vector", "merge", "dup")).count()),
      // Per-domain cap: the fixture's 20 sources all run hot at every
      // scale, so this measures the WORST case — every row enters the
      // ranked side, where the partial WindowGroupLimit bounds each
      // map task's shuffle emission at cap rows per domain. Output is
      // cap x #domains = CONSTANT as N grows; wall time should track
      // the scan, and the shuffle stays bounded regardless of N.
      "source_cap" -> (() =>
        graft.ops.Sampling.domainCap(
          docs.select(col("doc_id"), col("source")),
          "doc_id", "source", cap = 100, seed = 7L).count()),
      // Text normalization: pure codegen'd projection (control strip +
      // space collapse + NFC); the aggregate forces the cleaned text.
      // The ASCII fast path (isNormalized -> return input) makes this
      // the cheapest per-byte op in the pack — linear by construction.
      "normalize" -> (() =>
        graft.text.Normalize.cleaned(docs, "text", out = "clean")
          .agg(sum(length(col("clean"))) + sum(col("changed")))
          .head().getLong(0)),
      // Cross-doc repeated-line removal: welded 8-token lines plus one
      // boilerplate line on ~1/3 of documents — which stays IDENTICAL
      // across fixture copies, so its line_key carries ~N/3 rows at
      // every scale: the hot-key worst case the (line_key, doc) ->
      // line_key two-level aggregate must absorb map-side. Ordinary
      // lines stay copy-unique (suffix tokens). Only md5 keys + ints
      // shuffle; the n_removed sum forces the full row-local
      // reassembly of every document.
      "line_dedup" -> (() => {
        val lined = docs
          .select(col("doc_id"), split(col("text"), " ").as("__tk"))
          .select(col("doc_id"), concat(
            array_join(
              transform(
                sequence(lit(0), ((size(col("__tk")) + lit(7)) / lit(8)).cast("int") - 1),
                g => array_join(slice(col("__tk"), g * lit(8) + 1, lit(8)), " ")), "\n"),
            when(col("doc_id") % 3 === 0,
              lit("\nall rights reserved click to accept cookies")).otherwise(lit("")))
            .as("__t"))
        graft.text.LineOps.dedupLines(lined, "__t", "doc_id")
          .agg(sum(col("n_removed"))).head().getLong(0)
      }),
      // Seeded corpus shuffle: the md5-prefix shard decomposition
      // replaces the one-task global sort — per-shard windows over 256
      // md5-uniform shards + a control-plane base table. The max+1
      // aggregate forces every rank; rows must equal the doc count (a
      // permutation-totality signal at every scale).
      "corpus_shuffle" -> (() =>
        graft.ops.CorpusShuffle
          .shuffled(docs.select("doc_id"), "doc_id", seed = "scale", shardChars = 2)
          .agg(max(col("global_pos")) + 1).head().getLong(0)),
      // Length-bucketed batching in the DISTRIBUTED (chunked
      // prefix-sum) form — the dominant-bucket scale path; one
      // bucket-keyed exchange, parallelism buckets x chunks.
      "length_batching" -> (() =>
        graft.text.LengthBatching.batchSummary(
          docs, "text", "doc_id", bucketWidth = 32, batchSize = 16,
          distributed = true).count()),
      // BPE fit + encode: fit is one vocab-grain pass + driver
      // training on the capped top-10k slice (fixed-size at any
      // corpus scale); encode segments each DISTINCT word once (the
      // suffix fixture grows the vocab linearly — the honest worst
      // case for the vocab-grain UDF) and reassembles docs with one
      // broadcast join + one exchange. The token sum forces every id.
      "bpe_encode" -> (() => {
        val model = graft.text.BpeTokenizer.fit(docs, "text", numMerges = 100, maxVocab = 10000)
        graft.text.BpeTokenizer.encode(docs, "text", "doc_id", model)
          .agg(sum(col("n_bpe_tokens"))).head().getLong(0)
      }),
      // The q77 composition end-to-end: dedup canonical -> quality
      // gate -> decontamination -> shuffled training order, ONE plan.
      // Exchange reuse must keep the repeated control-plane subtrees
      // from re-running the stages (CorpusReleaseSpec pins the
      // marker); an alpha tracking the worst single stage — not their
      // sum squared — is what certifies the composition adds plan
      // depth, not asymptotic cost. rows = released docs.
      "corpus_release" -> (() =>
        graft.queries.PipelineQueries.q77CorpusRelease(spark, dir).count()),
      // Per-suite decontamination: same gram-keyed shape as
      // `decontamination` plus the suite-array explode AFTER the doc
      // aggregate — rows are (contaminated doc, suite) pairs, so the
      // delta over the plain report measures the attribution overhead
      // only. bench suites = each bench doc's source (20 of them).
      "decontamination_suites" -> (() => {
        val d = docs
        graft.text.Decontamination.reportBySuite(
          d.filter(pmod(col("doc_id"), lit(97L)) =!= 0L),
          d.filter(pmod(col("doc_id"), lit(97L)) === 0L),
          "text", "doc_id", suiteCol = "source").count()
      }),
      // Bin-tape materialization: the packing exchange plus an ordered
      // in-partition concat whose buffers hold ~capacity tokens of
      // text per group — the one aggregate in the pack that carries
      // text, bounded by construction; only fingerprints leave it.
      "bin_tape" -> (() =>
        graft.text.SequencePacking.materializedBins(
          docs, "text", "source", "doc_id", capacity = 2048).count()),
      // FIT ALONE, isolated from encode: the corpus pays one
      // vocab-grain word-frequency pass; merge training runs on the
      // driver over the capped top-10k slice — FIXED-SIZE work at any
      // corpus scale, so the time should stay ~flat (alpha ~ the
      // word-frequency scan's) while bpe_encode above carries the
      // corpus-grain reassembly cost. Proves the driver loop is
      // bounded by maxVocab, not by the 100 TB.
      "bpe_fit" -> (() => {
        val model = graft.text.BpeTokenizer.fit(docs, "text", numMerges = 100, maxVocab = 10000)
        model.merges.length.toLong
      }),
      // Packing by TRAINED-TOKENIZER count (q80's scale twin, fit
      // hoisted out so the entry isolates the facade): the two
      // vocab-grain countsFromModel exchanges + the id join-back +
      // the stratum packing exchange, in the DISTRIBUTED chunked
      // prefix-sum form (dominant-stratum path). rows = manifest
      // bins, growing ~linearly in the token volume. The model is
      // trained LAZILY OUTSIDE the thunk body's count (memoized on
      // first use) so only the first timed run could include it —
      // and bpe_fit above measures that cost on its own.
      "bpe_count_pack" -> {
        lazy val packModel = graft.text.BpeTokenizer.fit(docs, "text", numMerges = 100, maxVocab = 10000)
        () =>
          graft.text.SequencePacking.packedBinsByBpe(
            docs, "text", "source", "doc_id", capacity = 2048, packModel,
            distributed = true).count()
      },
      // Prefix-filtered containment mining (q82's scale twin): the
      // candidate join is prefix(rarest shingles) x full table, so the
      // cost tracks rare-gram bucket sizes — within-copy duplicate
      // structure is preserved by the fixture, cross-copy overlap is
      // zero, so pairs (and work) should grow ~linearly.
      "containment_prefix" -> (() =>
        graft.dedup.Containment.containmentPairsPrefix(
          docs, "text", "doc_id", n = 3, threshold = 0.8).count()),
      // Containment resolution on top of the same mining: one loser
      // projection + a left-anti join — the delta over
      // containment_prefix IS the resolution cost. rows = kept corpus.
      "drop_contained" -> (() =>
        graft.dedup.Containment.dropContained(
          docs, "text", "doc_id", n = 3, threshold = 0.8).count()),
      // Perceptual-hash image dedup: PNG encode+decode+hash is
      // embarrassingly parallel map-side work (linear by construction);
      // the banded Hamming self-join shuffles only (id, 8-byte sig).
      "phash_dedup" -> (() =>
        graft.multimodal.PerceptualHash.phashDupPairs(
          graft.multimodal.Multimodal.syntheticImages(docs, "doc_id", "text"),
          maxHamming = 3).count()),
      // Cluster form of phash_dedup: output LINEAR in ids (the pair
      // form's rows explode quadratically with duplicate-class size —
      // its alpha tracks its own output, not the algorithm). CC runs
      // in signature space; no id-level pair is ever materialized.
      "phash_dedup_clusters" -> (() =>
        graft.multimodal.PerceptualHash.phashDupClusters(
          graft.multimodal.Multimodal.syntheticImages(docs, "doc_id", "text"),
          maxHamming = 3).count()),
      // Incremental (batch vs reference) image dedup: both legs
      // decode map-side; the cross banded join runs in signature
      // space, so the cost is two hash scans + collision-bound
      // candidates + the (intrinsic) cross-pair output. Alpha should
      // track the decode scans like phash_dedup. (Adjudicated r17:
      // the α ~0.9 here IS that decode floor — both sides re-decode
      // in full every run; phash_incremental_vs_history below
      // isolates the join term and measures it flat.)
      "phash_dedup_incremental" -> (() =>
        graft.multimodal.PerceptualHash.phashDupPairsAgainst(
          graft.multimodal.Multimodal.syntheticImages(
            docs.filter(col("doc_id") % 3 === 0), "doc_id", "text"),
          graft.multimodal.Multimodal.syntheticImages(
            docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"),
          maxHamming = 3).count()),
      // phash_dedup_incremental's cost vs HISTORY DEPTH, batch held
      // FIXED — the same separation simhash_gate_vs_history makes for
      // the text gate. The parent entry decodes BOTH sides in full
      // every run, so its α can only show the decode floor; here the
      // reference history's hashes are computed OUTSIDE the timed
      // thunk (lazy, billed to run 1; metric=min takes run 2) and
      // grow with x, while the batch stays the x1 originals. The
      // thunk pays one constant batch decode + the banded cross join
      // against the growing distinct-signature vocabulary — α ~ 0
      // pins the incremental candidate stage as collision-bound in
      // signature space, not history-quadratic.
      "phash_incremental_vs_history" -> {
        lazy val histHashes =
          ensureVsHistoryFixture(spark, dir, "hist_phash")(buildHistPhash(spark, dir))
        () => {
          val batch = graft.multimodal.PerceptualHash.perceptualHashes(
            graft.multimodal.Multimodal.syntheticImages(
              docs.filter(col("doc_id") % 3 === 0 && col("doc_id") < CopyStride),
              "doc_id", "text"))
            .toDF().select(col("media_id"), col("ahash"))
          graft.dedup.Dedup.hammingPairsAgainst(
            batch, spark.read.parquet(histHashes), "media_id", "ahash",
            maxHamming = 3).count()
        }
      },
      // Durable two-epoch image ingest: decode + hash map-side in each
      // epoch, 8-byte signatures to the index. Output is linear in the
      // batch (a gate, not a pair miner), so unlike
      // phash_dedup_incremental's intrinsic pair growth, alpha should
      // sit at the decode floor.
      "phash_ingest_epochs" -> (() => {
        def hashes(part: org.apache.spark.sql.DataFrame) =
          graft.multimodal.PerceptualHash.perceptualHashes(
            graft.multimodal.Multimodal.syntheticImages(part, "doc_id", "text"))
            .toDF().select(col("media_id"), col("ahash"))
        val path = graft.core.TempDirs.create("scale_phash_index_")
        val family = SeenIndex.Hamming("ahash")
        CacheScope.run(spark) {
          SeenIndex.gateAndUpdate(hashes(docs.filter(col("doc_id") % 3 =!= 0)), family, path)
          SeenIndex.gateAndUpdate(hashes(docs.filter(col("doc_id") % 3 === 0)), family, path).count()
        }
      }),
      // Text ingest gate (batch vs reference SimHash anti-join):
      // output linear in the batch and reference text never shuffles
      // — cost is the two fingerprint scans + the banded signature
      // join, so alpha should track the scans.
      "novel_docs_gate" -> (() =>
        graft.dedup.Dedup.dropSeenSimhash(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0),
          "text", maxHamming = 3).count()),
      // Durable two-epoch ingest: epoch 1 writes the reference
      // corpus's signatures to a fresh parquet index, epoch 2 gates
      // the batch against it and appends. Adds one 8-byte-per-doc
      // index write + read to novel_docs_gate's cost — alpha should
      // track that gate's.
      "ingest_epochs" -> (() => {
        val path = graft.core.TempDirs.create("scale_seen_index_")
        val family = SeenIndex.Simhash("text")
        CacheScope.run(spark) {
          SeenIndex.gateAndUpdate(docs.filter(col("doc_id") % 3 =!= 0), family, path)
          SeenIndex.gateAndUpdate(docs.filter(col("doc_id") % 3 === 0), family, path).count()
        }
      }),
      // Retention-window ingest (q106's scale twin): three windowed
      // epochs of the SAME slice — bootstrap, expiry re-admission,
      // clock-reset gate-to-zero. Cost is 3x ingest_epochs' per-epoch
      // shape plus the epoch-tag filter on the index read (a pushed
      // parquet predicate), so alpha should track ingest_epochs'.
      "window_gate_epochs" -> (() => {
        val path = graft.core.TempDirs.create("scale_window_index_")
        val slice = docs.filter(col("doc_id") % 3 === 1)
        def epoch(e: Long, minEpoch: Long): Long = CacheScope.run(spark)(
          SeenIndex.gateAndUpdate(slice, SeenIndex.Simhash("text"),
            path, Some(SeenIndex.Window(e, minEpoch))).count())
        epoch(1L, 0L) + epoch(10L, 5L) + epoch(11L, 6L)
      }),
      // Index compaction: three fully-overlapping tagged epochs (3n
      // rows, n distinct sigs) rewritten to one row per sig via the
      // crash-safe backup-then-swap. Cost is one groupBy over 3n
      // 16-byte rows plus the parquet rewrite — alpha should track a
      // plain scan+shuffle of the corpus's signatures, nothing
      // history-super-linear.
      "compact_index" -> (() => {
        val path = graft.core.TempDirs.create("scale_compact_index_")
        val sigs = docs.select(xxhash64(col("text")).as("sig"))
        val keys = SeenIndex.Hamming("sig")
        (1L to 3L).foreach(e => SeenIndex.append(sigs, keys, path, Some(e)))
        SeenIndex.compact(spark, keys, path)
        SeenIndex.read(spark, keys, path).count()
      }),
      // Exactly-once ledgered ingest: two batches through the
      // per-batch protocol (ledger probe + epoch alloc + own-epoch-
      // excluded gate + epoch-keyed output overwrite + tagged append +
      // commit marker). Adds the marker round-trips and the output
      // parquet write to ingest_epochs' cost — both flat per batch —
      // so alpha should track ingest_epochs'.
      "exactly_once_epochs" -> (() => {
        val path = graft.core.TempDirs.create("scale_eo_index_")
        val outp = graft.core.TempDirs.create("scale_eo_out_")
        val family = SeenIndex.Simhash("text")
        SeenIndex.exactlyOnceEpoch(
          docs.filter(col("doc_id") % 3 =!= 0), family, "b0", path, outp)
        SeenIndex.exactlyOnceEpoch(
          docs.filter(col("doc_id") % 3 === 0), family, "b1", path, outp)
        spark.read.parquet(outp).where(col("epoch") === 2L).count()
      }),
      // Windowed exactly-once ingest (the composed re-crawl shape):
      // three ledgered batches of the SAME slice with an advancing
      // admission clock — bootstrap, in-window gate-to-zero, aged-out
      // full re-admission. Adds one pushed parquet predicate on the
      // admitted column to exactly_once_epochs' per-batch cost, so
      // alpha should track it.
      "window_exactly_once_epochs" -> (() => {
        val path = graft.core.TempDirs.create("scale_weo_index_")
        val outp = graft.core.TempDirs.create("scale_weo_out_")
        val slice = docs.filter(col("doc_id") % 3 === 1)
        Seq(("b0", 100L, 0L), ("b1", 150L, 70L), ("b2", 300L, 220L)).foreach { case (key, at, min) =>
          SeenIndex.exactlyOnceEpoch(
            slice, SeenIndex.Simhash("text"), key, path, outp, window = Some((at, min)))
        }
        spark.read.parquet(outp).count()
      }),
      // Gate cost vs HISTORY DEPTH, batch held FIXED. The corpus-x
      // ingest entries scale batch and history together, so their
      // alphas cannot separate "cheap per batch row" from "flat as
      // history grows"; this one holds the batch at the x1 originals
      // (doc_id < CopyStride, ~1.7k docs) while the indexed history
      // grows with x. The index build runs OUTSIDE the timed thunk
      // (lazy, billed to run 1; metric=min takes run 2) — the thunk
      // pays only the gate: a scan of the 8-byte signature index (the
      // ONLY term that grows with history), distinct, band join,
      // anti-join. rows stays CONSTANT across scales (copy texts are
      // word-suffixed, so they never collide with the originals);
      // alpha ~ 0 is the "gate cost flat in history size" claim made
      // measurable instead of inferred.
      "simhash_gate_vs_history" -> {
        lazy val hist =
          ensureVsHistoryFixture(spark, dir, "hist_sigs")(buildHistSigs(spark, dir))
        () => {
          val batch = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") < CopyStride)
          SeenIndex.dropSeen(batch, SeenIndex.Simhash("text"), hist).count()
        }
      },
      // The embedding twin: fixed ~0.7k-vector batch against a vector
      // index that grows with x ((8 + 4*dim) B/row — the scan term is
      // 33x the signature index's but still the only history-linear
      // term; the band join ships LSH keys, the verify joins by
      // candidate id).
      "embedding_gate_vs_history" -> {
        lazy val gatePlanes = vsHistoryPlanes
        lazy val hist =
          ensureVsHistoryFixture(spark, dir, "hist_vecs")(buildHistVecs(spark, dir))
        () => {
          val batch = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < CopyStride)
          // RELEASED form, like the signed twin and like every
          // durable ingest loop: the r17 artifact compared this
          // entry's plain (leaky) form — whose persisted reference
          // projection stayed in the LRU store across the entry's
          // runs, so run 2 (metric=min) read a warm cache — against
          // a signed twin that released per call and re-scanned
          // cold. That asymmetry, plus ensureSigCache's two count()
          // jobs per gate (now one FS listing against the sync
          // marker), was the whole "signed 1.6x slower" artifact.
          // the Live family gates with the semi-prune the ingest
          // loops use (candidates batch-bound); verify plan symmetric
          // with the signed twin below
          CacheScope.run(spark)(SeenIndex.dropSeen(batch, histVecs(Live, gatePlanes), hist).count())
        }
      },
      // The SIGNED twin of embedding_gate_vs_history: same fixed
      // batch, same growing history, same released-per-call shape,
      // but the reference signatures read from the durable
      // geometry-keyed cache (built OUTSIDE the timed thunk) instead
      // of being recomputed. MEASURED (r19, quiet, released both
      // sides, ALL fixtures built in the child JVM): signed wins BOTH
      // pairs at EVERY scale in the committed artifact — this pair
      // ~25-30% (x30: 1.04 vs 1.45 s), the 8x pair below ~23%
      // (x30: 2.27 vs 2.98 s) — no cross-JVM footnote needed anymore.
      // History of the artifact: r17's "signed 1.6x slower" was the
      // unsigned twin's leaked LRU persists plus two count()
      // validation jobs (both fixed); r18's 8x-pair x30 inversion
      // (4.48 vs 3.03 s) was the 320k-row index+cache build running
      // in the measuring JVM moments before the gate (fixed by the
      // `--fixtures` child-JVM phase above). The validation itself is
      // one FS listing (measured ~6 ms). Net claim: at 64-dim the
      // signed gate is faster at every measured size, and its
      // structural win (replacing a planes x dim x rows recompute
      // with a 24 B/row column scan) grows with the geometry.
      "embedding_gate_vs_history_signed" -> {
        lazy val gatePlanesS = vsHistoryPlanes
        // SHARED with the unsigned twin: same index, same prebuilt
        // cache sibling (the unsigned form never reads it) — built in
        // the fixture child JVM
        lazy val histS =
          ensureVsHistoryFixture(spark, dir, "hist_vecs")(buildHistVecs(spark, dir))
        () => {
          val batch = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < CopyStride)
          CacheScope.run(spark)(SeenIndex.dropSeen(batch, histVecs(Cached, gatePlanesS), histS).count())
        }
      },
      // The crossover pair: same fixed batch, history 8x the vs_history
      // entry's (copies sign-scrambled toward the near-orthogonal
      // background, like ensureFixture's cross-copy treatment, so the
      // CANDIDATE volume stays flat and the only term that grows 8x is
      // the reference-side signature work — recompute for the unsigned
      // form, a 24-byte column scan for the signed). This is the
      // regime the cache exists for: at x30 the history is ~320 k
      // rows = ~3.9 GFLOP of per-gate recompute, and the signed form
      // should now be the strictly cheaper one (its fixed validation
      // cost is one FS listing).
      "embedding_gate_vs_history8" -> {
        lazy val gatePlanes8 = vsHistoryPlanes
        lazy val hist8 =
          ensureVsHistoryFixture(spark, dir, "hist_vecs8")(buildHistVecs8(spark, dir))
        () => {
          val batch = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < CopyStride)
          CacheScope.run(spark)(SeenIndex.dropSeen(batch, histVecs(Live, gatePlanes8), hist8).count())
        }
      },
      "embedding_gate_vs_history8_signed" -> {
        lazy val gatePlanes8S = vsHistoryPlanes
        // shared with the unsigned 8x twin; index + cache prebuilt in
        // the fixture child JVM (the r18 x30 inversion was exactly
        // this build running in the measuring JVM)
        lazy val hist8S =
          ensureVsHistoryFixture(spark, dir, "hist_vecs8")(buildHistVecs8(spark, dir))
        () => {
          val batch = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < CopyStride)
          CacheScope.run(spark)(SeenIndex.dropSeen(batch, histVecs(Cached, gatePlanes8S), hist8S).count())
        }
      },
      // Jaccard ingest gate (batch vs reference MinHash banding +
      // exact set-overlap verify): the shingle explode dominates the
      // per-row cost and the band join is collision-bound, so alpha
      // should track the two shingle scans like minhash_dedup.
      "jaccard_gate" -> (() =>
        graft.dedup.Dedup.dropSeenJaccard(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0),
          "text", "doc_id", threshold = 0.8).count()),
      // Coverage ingest gate (batch vs reference asymmetric
      // containment): the prefix filter lives on the BATCH side and
      // orders by reference document frequency, so candidates are
      // batch-prefix x ref-bucket collisions — alpha should track the
      // two shingle scans, with the ref dfreq aggregate the largest
      // corpus-sized term.
      "containment_gate" -> (() =>
        graft.dedup.Containment.dropSeenContained(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0),
          "text", "doc_id", threshold = 0.8).count()),
      // Semantic ingest gate (batch embeddings vs reference by
      // cosine >= 0.9 via the cross-corpus LSH join): candidate
      // volume is nBatch x nRef / 2^bits per band — batch-bound in
      // the gate regime, so alpha should track the two signature
      // scans, not the product.
      "embedding_gate" -> {
        lazy val gatePlanes = graft.similarity.Similarity.hyperplanes(64, 64)
        () => {
          // released per call (the per-micro-batch production shape;
          // the plain form's LRU-keep made earlier rounds' run-2
          // numbers warm-cache reads — see embedding_gate_vs_history)
          CacheScope.run(spark)(graft.similarity.Similarity.dropSeenEmbedding(
            emb.filter(col("vec_id") % 3 === 0),
            emb.filter(col("vec_id") % 3 =!= 0),
            "embedding", "vec_id", threshold = 0.9, gatePlanes,
            // gate regime: explicit opt-in now that the public
            // default is the robust pure-shuffle plan
            semiPruneVerify = true).count())
        }
      },
      // Durable two-epoch embedding ingest: epoch 1 writes the
      // reference vectors to a fresh parquet index, epoch 2 gates the
      // batch against it and appends. Adds one (8 + 4*dim)-byte-per-
      // vector index write + read to embedding_gate's cost — alpha
      // should track that gate's.
      "embedding_ingest_epochs" -> {
        lazy val gatePlanes = graft.similarity.Similarity.hyperplanes(64, 64)
        () => {
          val path = graft.core.TempDirs.create("scale_vec_index_")
          val family = histVecs(Live, gatePlanes)
          CacheScope.run(spark) {
            SeenIndex.gateAndUpdate(emb.filter(col("vec_id") % 3 =!= 0), family, path)
            SeenIndex.gateAndUpdate(emb.filter(col("vec_id") % 3 === 0), family, path).count()
          }
        }
      },
      // Vector-index compaction: three fully-overlapping tagged
      // epochs (3n rows at 8 + 4*dim bytes each) rewritten to one row
      // per (id, vec) — compact_index's heavy twin; the groupBy key is
      // the vector itself, so alpha tracks a shuffle of the raw
      // vectors, still linear.
      "compact_vectors" -> (() => {
        val path = graft.core.TempDirs.create("scale_compact_vecidx_")
        (1L to 3L).foreach(e => SeenIndex.append(emb, histKeys, path, Some(e)))
        SeenIndex.compact(spark, histKeys, path)
        SeenIndex.read(spark, histKeys, path).count()
      }),
      // Full-corpus distributed Lloyd's: 5 rounds x one scan + a
      // k x dim control-plane collect per round — alpha ~ the scan's,
      // nothing driver-side grows with the corpus.
      "kmeans_fit_distributed" -> (() => {
        val model = graft.similarity.Ivf.trainDistributed(emb, "embedding", k = 8, iters = 5)
        model.k.toLong
      }),
      // PQ encode + ADC top-k + exact rerank (q96's scale twin): the
      // codebook fit is a driver-side sampled Lloyd's (lazy, billed
      // once like bpe_count_pack); encode is one map-side pass; the
      // ADC scan is m byte-lookups per row resolving as
      // TakeOrderedAndProject; rerank touches exactly k x expand raw
      // rows. Alpha should track the SCAN — everything else is
      // output-bounded.
      "pq_topk_rerank" -> {
        lazy val pqm = graft.similarity.Pq.train(emb, "embedding", dim = 64, m = 8, ksub = 16)
        lazy val pqQuery: Array[Double] = emb.select("embedding").head()
          .getSeq[Float](0).toArray.map(_.toDouble)
        () => {
          val enc = graft.similarity.Pq.encode(emb, "embedding", "vec_id", pqm)
          graft.similarity.Pq.topKRerank(
            enc, pqm, emb, "embedding", "vec_id", pqQuery, k = 10, expand = 10).count()
        }
      },
      // IVF-PQ (IVFADC) shortlist + exact rerank (q97's scale twin):
      // vs pq_topk_rerank the ADC scan reads only nprobe/k of the
      // code table (the probed-cell isin prunes the rest), so the
      // at-scale curve should sit BELOW flat PQ's and stay
      // scan-bound. IVF geometry and residual codebooks are lazy
      // one-time fits like pqm.
      "ivfpq_topk_rerank" -> {
        lazy val ivfm = graft.similarity.Ivf.train(emb, "embedding", k = 8, iters = 5)
        lazy val pqr = graft.similarity.Pq.trainResidual(emb, "embedding", ivfm, m = 8, ksub = 16)
        lazy val pqQuery2: Array[Double] = emb.select("embedding").head()
          .getSeq[Float](0).toArray.map(_.toDouble)
        () => {
          val enc = graft.similarity.Pq.encodeIvf(emb, "embedding", "vec_id", ivfm, pqr)
          graft.similarity.Pq.topKIvfRerank(
            enc, pqr, ivfm, emb, "embedding", "vec_id", pqQuery2,
            k = 10, nprobe = 4, expand = 10).count()
        }
      },
      // Incremental IVF-PQ index maintenance (q109's scale twin): a
      // FIXED ~2.3k-vector batch encoded with frozen models (loaded,
      // never retrained) and appended to an index that grows with x,
      // plus the daily job's drift pass over the batch. The append
      // never reads the index — new files land under the existing
      // cell=<n> dirs — so alpha ~ 0 is the "append cost scales with
      // the batch, not the index" claim made measurable. The scaled
      // index + frozen models are prebuilt in the fixture child JVM;
      // each entry COPIES the index once (outside the thunk) so runs
      // never mutate the shared fixture.
      "pq_append_vs_index" -> {
        lazy val fixture =
          ensureVsHistoryFixture(spark, dir, "pq_index")(buildPqIndex(spark, dir))
        lazy val ivfm2 = graft.similarity.Ivf.readModel(spark, s"$fixture.ivf_model")
        lazy val pqm2 = graft.similarity.Pq.readModel(spark, s"$fixture.pq_model")
        lazy val workIdx = {
          // FileUtil.copy (vs a hand-rolled walk): listFiles() returns
          // null on I/O errors mid-traversal, and a retry into a
          // partially-copied target needs overwrite semantics
          val w = graft.core.TempDirs.create("scale_pq_append_") + "/idx"
          val conf = spark.sparkContext.hadoopConfiguration
          val src = new org.apache.hadoop.fs.Path(new java.io.File(fixture).getAbsolutePath)
          val dst = new org.apache.hadoop.fs.Path(new java.io.File(w).getAbsolutePath)
          val fs = dst.getFileSystem(conf)
          require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf),
            s"fixture copy $fixture -> $w failed")
          w
        }
        () => {
          val batch = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < CopyStride)
          graft.similarity.Pq.appendToIndex(batch, "embedding", "vec_id", ivfm2, pqm2, workIdx)
          val drift = graft.similarity.Pq.driftCheck(
            batch, "embedding", ivfm2, pqm2, baseline = 1e-3)
          if (drift.current.isNaN) -1L else batch.count()
        }
      },
      // Cluster-balanced sampling: map-side cell assignment + ONE
      // cell-partitioned window whose row_number<=cap plans as a
      // partial WindowGroupLimit — shuffle volume is bounded by
      // mapPartitions x k x cap, so the timed cost should track the
      // assignment SCAN (linear), never the window. rows = kept
      // sample, saturating at k x cap once every cell fills.
      "cluster_balanced_sample" -> {
        lazy val sampleModel = graft.similarity.Ivf.trainDistributed(emb, "embedding", k = 8, iters = 5)
        () =>
          graft.similarity.ClusterSampling.clusterBalancedSample(
            emb, "embedding", "vec_id", sampleModel, perCellCap = 200, seed = 7).count()
      },
      // Audio-fingerprint dedup: WAV synth+decode+hash is map-side
      // linear work like phash_dedup; the Hamming join shuffles only
      // (id, sig).
      "audio_dedup" -> (() =>
        graft.multimodal.AudioFingerprint.audioDupPairs(
          graft.multimodal.Multimodal.syntheticWavs(docs, "doc_id", "text"),
          maxHamming = 3).count()),
      // Cluster form of audio_dedup — same linear-output rationale as
      // phash_dedup_clusters.
      "audio_dedup_clusters" -> (() =>
        graft.multimodal.AudioFingerprint.audioDupClusters(
          graft.multimodal.Multimodal.syntheticWavs(docs, "doc_id", "text"),
          maxHamming = 3).count()),
      // Spectral (FFT) audio dedup: same decode + distinct-signature
      // Hamming join as audio_dedup, plus ~64 1024-point FFTs per
      // payload map-side — the delta over audio_dedup IS the
      // spectral kernel's cost, and it must stay linear (decode-bound
      // alpha) because the FFT count is capped per payload.
      "audio_dedup_spectral" -> (() =>
        graft.multimodal.AudioFingerprint.audioDupPairs(
          graft.multimodal.Multimodal.syntheticWavs(docs, "doc_id", "text"),
          maxHamming = 3, which = "shash").count()),
      // Frame-level video dedup: 4 DIB frames per doc, frame-grain
      // Hamming join + agreement aggregate — decode-linear plus a
      // join that tracks colliding frames.
      "video_dedup" -> (() =>
        graft.multimodal.PerceptualHash.videoDupPairs(
          graft.multimodal.Multimodal.syntheticVideos(docs, "doc_id", "text"),
          maxHamming = 2, minMatchFrac = 0.75).count()),
      // Cluster form at VIDEO granularity: ordered frame-component
      // sequence equality — no video pair and no frame pair beyond
      // the signature-space CC is ever materialized; output and every
      // exchange linear in frames/videos.
      "video_dedup_clusters" -> (() =>
        graft.multimodal.PerceptualHash.videoDupClusters(
          graft.multimodal.Multimodal.syntheticVideos(docs, "doc_id", "text"),
          maxHamming = 2).count()),
      // Chunking by trained-tokenizer budget: the two vocab-grain
      // exchanges + the per-doc window/aggregate exchange. Like
      // bpe_count_pack, the fit is lazily memoized so only the FIRST
      // timed run could include it (min-of-runs excludes it at the
      // default SPARK_GRAFT_BENCH_RUNS=2; a runs=1 sweep bills it).
      "bpe_chunking" -> {
        lazy val chunkModel = graft.text.BpeTokenizer.fit(docs, "text", numMerges = 100, maxVocab = 10000)
        () =>
          graft.text.Chunking.chunksByBpe(docs, "text", "doc_id", chunkModel, budget = 256).count()
      })
  }

  /** `--fixtures <baseDir> <dir> <x>`: the child-JVM fixture phase —
    * builds the scale copies and every vs-history fixture for ONE
    * scale dir, then exits. Forked by the normal run so the measuring
    * JVM never executes a fixture build (see the vs-history fixture
    * block comment for the r18 artifact this prevents).
    */
  private def fixturesMain(args: Array[String]): Unit = {
    val baseDir = args(1); val dir = args(2); val x = args(3).toInt
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      ensureFixture(spark, baseDir, dir, x)
      buildVsHistoryFixtures(spark, dir)
    } finally spark.stop()
  }

  /** Fork the `--fixtures` child for one scale dir unless every
    * marker is already present. Inherits this JVM's module flags and
    * heap settings; falls back (loudly) to nothing — the entries'
    * in-JVM fallback builders then fire with their own warning.
    */
  private def prepareFixturesIsolated(baseDir: String, dir: String, x: Int): Unit = {
    val allDone = new java.io.File(s"$dir/_DONE").exists() &&
      VsHistoryFixtures.forall(n => fixtureMarker(dir, n).exists())
    if (allDone) return
    try {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      import scala.jdk.CollectionConverters._
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", cp, "graft.ScaleBench", "--fixtures", baseDir, dir, x.toString)
      println(s"  x$x: building fixtures in a child JVM (keeps the measuring JVM clean)")
      val code = new ProcessBuilder(cmd: _*).inheritIO().start().waitFor()
      if (code != 0)
        System.err.println(s"fixture child for x$x exited $code — entries will fall back " +
          "to in-JVM builds (timings may be contaminated)")
    } catch {
      case NonFatal(e) =>
        System.err.println(s"could not fork fixture child for x$x ($e) — entries will " +
          "fall back to in-JVM builds (timings may be contaminated)")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--fixtures")) { fixturesMain(args); return }
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("BENCH_scale.json")
    val scales = args.lift(2).getOrElse("1,3,10").split(",").map(_.trim.toInt).toSeq
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // Selective re-sweep: SPARK_GRAFT_SCALE_ONLY=name1,name2 runs just
    // those entries and MERGES their rows into an existing outPath
    // (per-scale queries and their alpha entries are replaced; every
    // other entry's prior measurement is preserved). A full 4-scale
    // sweep is ~40 min, almost all of it re-measuring entries that did
    // not change; this keeps the artifact append-refreshable.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try { spark.range(1000000L).selectExpr("sum(id) s").collect() } catch { case NonFatal(_) => () }

    val extras = scala.collection.concurrent.TrieMap.empty[(Int, String), String]
    val perScale = scales.map { x =>
      val dir = s"target/scale/x$x"
      prepareFixturesIsolated(baseDir, dir, x)
      ensureFixture(spark, baseDir, dir, x) // no-op when the child built it; inline fallback otherwise
      // Per-scale warmup: touch both inputs and JIT the hot custom
      // expressions on a tiny slice so the FIRST timed query of a
      // scale is not billed for compilation (observed: 2.4 s vs 0.7 s
      // on the first embedding query without this).
      val nDocs = graft.sources.Sources.documents(spark, dir).count()
      val nEmb = graft.sources.Sources.embeddings(spark, dir).count()
      try graft.similarity.Similarity.nearDupPairsAuto(
        graft.sources.Sources.embeddings(spark, dir).limit(256),
        "embedding", "vec_id", threshold = 0.5, dim = 64).count()
      catch { case NonFatal(_) => () }
      val entries = block(spark, dir, x, nEmb, (n, j) => extras((x, n)) = j,
        n => only.forall(_.contains(n)))
        .filter { case (name, _) => only.forall(_.contains(name)) }
      val times = entries.map { case (name, thunk) =>
        var rowsOut = -1L
        var err: Option[String] = None
        val ts = (0 until math.max(1, runs)).map { _ =>
          val t0 = System.nanoTime()
          try rowsOut = thunk() catch {
            case NonFatal(e) =>
              err = Some(e.toString.takeWhile(_ != '\n').take(200))
              System.err.println(s"$name x$x: $e")
          }
          (System.nanoTime() - t0) / 1e9
        }
        // Same hygiene as Bench, same invariant — one definition
        // (graft.core.CacheHygiene carries the OOM/exit-52 history).
        graft.core.CacheHygiene.resetAll(spark)
        // A failed run must not masquerade as a measurement: the
        // timing is nulled in the JSON and the query is excluded from
        // the alpha fit (a thrown query's wall time measures nothing).
        val sec: Option[Double] = if (err.isEmpty) Some(ts.min) else None
        println(f"  x$x%-3d $name%-26s ${sec.fold("ERROR")(t => f"$t%8.2f s")}  rows=$rowsOut")
        (name, sec, rowsOut, err)
      }
      (x, nDocs, nEmb, times)
    }
    val names = perScale.head._4.map(_._1)
    val lo = perScale.head
    val hi = perScale.last
    // a single-scale run has no ratio to fit (0/0 would print bare
    // NaN and break the JSON) — emit an empty alpha object instead
    val alphas =
      if (perScale.size < 2) Seq.empty
      else names.flatMap { n =>
        for {
          tLo <- lo._4.find(_._1 == n).flatMap(_._2)
          tHi <- hi._4.find(_._1 == n).flatMap(_._2)
        } yield n -> math.log(tHi / tLo) / math.log(hi._1.toDouble / lo._1)
      }
    // Locale-pinned like Bench.fmt3: the default-locale `f`
    // interpolator would emit "0,1234" under comma-decimal locales —
    // invalid JSON in the committed artifact.
    def jnum(d: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    // full JSON string escaping (same contract as Verify's oracle
    // dump): an exception message with a tab or CR — Spark analysis
    // errors embed plan fragments — would otherwise corrupt the whole
    // artifact and lose the sweep's measurements
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => c.toString
    } + "\""
    val scaleJson = perScale.map { case (x, nDocs, nEmb, times) =>
      val qs = times.map { case (n, t, r, err) =>
        val sec = t.fold("null")(jnum)
        val e = err.fold("")(m => s""","error":${jstr(m)}""")
        val ex = extras.getOrElse((x, n), "")
        s""""$n":{"sec":$sec,"rows":$r$e$ex}"""
      }.mkString(",")
      s"""{"scale_x":$x,"docs":$nDocs,"embeddings":$nEmb,"queries":{$qs}}"""
    }.mkString("[", ",", "]")
    val alphaJson = alphas.map { case (n, a) => s""""$n":${jnum(a)}""" }.mkString("{", ",", "}")
    val line =
      s"""{"base":"$baseDir","unit":"sec","runs":$runs,"metric":"min","scales":$scaleJson,""" +
        s""""alpha_log_time_ratio":$alphaJson,""" +
        s""""alpha_note":"alpha=log(t_x${hi._1}/t_x${lo._1})/log(${hi._1}/${lo._1}); 1=linear, 2=quadratic"}"""
    println(line)
    try {
      val path = java.nio.file.Paths.get(outPath)
      val out =
        if (only.isDefined && java.nio.file.Files.exists(path))
          mergeSweeps(
            new String(java.nio.file.Files.readAllBytes(path),
              java.nio.charset.StandardCharsets.UTF_8), line)
        else line
      java.nio.file.Files.write(path,
        out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(_) => () }
    spark.stop()
  }

  /** Merge a selective sweep (`fresh`) into a prior full sweep
    * (`prior`): per matching `scale_x`, the fresh entries replace (or
    * add to) that scale's `queries` object; fresh `alpha` entries
    * replace (or add to) the alpha object; every other prior
    * measurement is untouched. Scales present only in the fresh sweep
    * are appended. Falls back to the fresh line whole if the prior
    * artifact does not parse.
    */
  private[graft] def mergeSweeps(prior: String, fresh: String): String = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val m = new ObjectMapper()
    try {
      val oldRoot = m.readTree(prior).asInstanceOf[ObjectNode]
      val newRoot = m.readTree(fresh).asInstanceOf[ObjectNode]
      val oldScales = oldRoot.get("scales").asInstanceOf[ArrayNode]
      val newScales = newRoot.get("scales").asInstanceOf[ArrayNode]
      (0 until newScales.size()).foreach { i =>
        val ns = newScales.get(i).asInstanceOf[ObjectNode]
        val x = ns.get("scale_x").asLong()
        val hit = (0 until oldScales.size())
          .map(oldScales.get(_).asInstanceOf[ObjectNode])
          .find(_.get("scale_x").asLong() == x)
        hit match {
          case Some(os) =>
            val oq = os.get("queries").asInstanceOf[ObjectNode]
            val nq = ns.get("queries").asInstanceOf[ObjectNode]
            nq.fieldNames().forEachRemaining(f => oq.set(f, nq.get(f)))
          case None => oldScales.add(ns)
        }
      }
      (oldRoot.get("alpha_log_time_ratio"), newRoot.get("alpha_log_time_ratio")) match {
        case (oa: ObjectNode, na: ObjectNode) =>
          na.fieldNames().forEachRemaining(f => oa.set(f, na.get(f)))
        case _ => ()
      }
      m.writeValueAsString(oldRoot)
    } catch { case NonFatal(_) => fresh }
  }
}
