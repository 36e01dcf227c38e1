package graft.queries

import graft.similarity.Similarity
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search pack over the `embeddings` fixture. Exact paths
  * (brute KNN q28, label stats q31) are oracle-checked hash-exact —
  * q28 including its cosine doubles (see [[q28KnnBrute]]). The
  * APPROXIMATE paths (ANN q29, IVF q37, LSH mining q30) are rows-only
  * by nature: their results legitimately differ from the exact
  * top-k/pair set (recall < 1 is the contract), so agreement bounds
  * are pinned by unit tests instead of an equality oracle.
  */
object SimilarityQueries {

  private val planes32 = Similarity.hyperplanes(dim = 64, numPlanes = 32, seed = 42L)

  // Driver-side memos: the query vector and the trained IVF model are
  // properties of the DATASET, not of a query invocation — re-fetching
  // or re-training per call would fire redundant driver actions (the
  // round-2 audit's q37 finding). Both go through the same
  // content-fingerprint invalidation as [[kmeansModel]]: regenerating
  // embeddings.parquet at the same path within one JVM must not leave
  // the exact queries (q28/q38) searching stale data the oracle no
  // longer sees.
  private val queryVecCache = scala.collection.concurrent.TrieMap.empty[String, Array[Float]]
  private val ivfModelCache = scala.collection.concurrent.TrieMap.empty[String, graft.similarity.Ivf.Model]

  private def queryVec(spark: SparkSession, dir: String, vecId: Long): Array[Float] =
    memoByFingerprint(queryVecCache, dir, s"qv:$vecId")(
      Sources.embeddings(spark, dir)
        .filter(col("vec_id") === vecId)
        .select("embedding")
        .head()
        .getSeq[Float](0)
        .toArray)

  private def ivfModel(spark: SparkSession, dir: String): graft.similarity.Ivf.Model =
    memoByFingerprint(ivfModelCache, dir, "ivf")(
      graft.similarity.Ivf.train(Sources.embeddings(spark, dir), "embedding", k = 8, iters = 5))

  // q109's frozen BASE-corpus models + training-time quantization
  // error: properties of the dataset split, retrained per call would
  // fire three redundant driver actions per invocation (the same
  // dataset-property rule as [[ivfModel]]); the measured lifecycle —
  // persist, reload, append, drift, search — still runs per call.
  private val q109BaseCache = scala.collection.concurrent.TrieMap
    .empty[String, (graft.similarity.Ivf.Model, graft.similarity.Pq.Model, Double)]

  private def q109BaseModels(
      spark: SparkSession, dir: String): (graft.similarity.Ivf.Model, graft.similarity.Pq.Model, Double) =
    memoByFingerprint(q109BaseCache, dir, "q109base") {
      val base = Sources.embeddings(spark, dir)
        .filter(col("vec_id") =!= 0L && col("vec_id") % 4 =!= 3)
      val ivf0 = graft.similarity.Ivf.train(base, "embedding", k = 8, iters = 5)
      val pq0 = graft.similarity.Pq.trainResidual(base, "embedding", ivf0, m = 8, ksub = 16)
      val baseline = graft.similarity.Pq.quantizationError(base, "embedding", ivf0, pq0)
      (ivf0, pq0, baseline)
    }

  /** Exact brute-force cosine top-10 neighbors of vec 0 — fully
    * oracle-checked INCLUDING the cosine doubles: [[VecDot]]
    * accumulates left-to-right in double over float inputs widened to
    * double, which is bit-identical to DuckDB's
    * `list_cosine_similarity` over `DOUBLE[]` casts of the same
    * column.
    */
  def q28KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVec(spark, dir, 0L)
    Similarity.cosineTopK(
      Sources.embeddings(spark, dir).filter(col("vec_id") =!= 0L),
      "embedding", q, k = 10, idCol = "vec_id")
      .select("vec_id", "label", "cosine")
  }

  val q28Sql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
      |s AS (SELECT vec_id, label,
      |        list_cosine_similarity(embedding::DOUBLE[], (SELECT qe FROM q)) AS cosine
      |      FROM embeddings WHERE vec_id <> 0)
      |SELECT vec_id, label, cosine FROM s
      |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin

  /** ANN top-10 via 32-plane random-hyperplane signatures with
    * Hamming-threshold multiprobe; recall vs q28 is pinned by a unit
    * test.
    */
  def q29KnnAnn(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVec(spark, dir, 0L)
    Similarity.annTopK(
      Sources.embeddings(spark, dir).filter(col("vec_id") =!= 0L),
      "embedding", q, k = 10, idCol = "vec_id", planes32)
      .select("vec_id", "label", "cosine")
  }

  /** Embedding near-dup pairs via LSH bucket self-join + exact
    * verification. Threshold 0.4: the fixture's embeddings are
    * near-orthogonal (max pairwise cosine ~0.51), so 0.4 is where the
    * "most similar pairs" population lives; real dedup runs would use
    * ~0.95 on genuinely duplicated corpora. The banding and probe
    * radius are DERIVED from (threshold, targetRecall) by
    * [[Similarity.lshGeometry]] — at 0.4/0.95 that resolves to
    * 8 bands x 8 bits with Hamming-2 probing (split across the join
    * sides), and at production thresholds the same call derives
    * radius-0 wide bands, so copying this call site at scale is safe.
    */
  def q30EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairsAuto(
      Sources.embeddings(spark, dir), "embedding", "vec_id",
      threshold = 0.4, targetRecall = 0.95, numPlanes = 64,
      // known fixture dimension: with dim passed, building this
      // DataFrame is a pure lazy transform (no probe job)
      dim = 64,
      // fixture vector table is KBs-to-MBs: broadcast verification
      // keeps the mid-threshold candidate stream map-side end to end
      broadcastVerify = true)
      .orderBy("id_a", "id_b")

  /** IVF ANN: deterministic spherical k-means cells, probe the 3
    * nearest of 8 — the data-adaptive complement of the RHP-LSH path.
    */
  def q37KnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val df = Sources.embeddings(spark, dir)
    val model = ivfModel(spark, dir)
    val idx = graft.similarity.Ivf.index(df.filter(col("vec_id") =!= 0L), "embedding", "vec_id", model)
    val q = queryVec(spark, dir, 0L)
    graft.similarity.Ivf.topK(idx, "embedding", "vec_id", q, k = 10, model, nprobe = 3)
      .select("vec_id", "cosine")
  }

  /** Batch KNN JOIN over the IVF index: top-5 neighbors for every
    * query vector (vec_id < 20) in ONE distributed join — the shape a
    * driver-side literal query cannot scale to. Probing all 8 cells
    * makes the result exact, so the whole thing is oracle-checked
    * hash-exact INCLUDING cosines (normalize-then-dot is the same
    * double arithmetic in both engines); the pruned nprobe < k
    * behavior (cluster-local candidates, recall) is pinned by IvfSpec.
    */
  def q38KnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val df = Sources.embeddings(spark, dir)
    val model = ivfModel(spark, dir)
    val idx = graft.similarity.Ivf.index(df, "embedding", "vec_id", model)
    val queries = df.filter(col("vec_id") < 20L).select(col("vec_id").as("q_id"), col("embedding"))
    graft.similarity.Ivf.knnJoin(
      idx, "embedding", "vec_id", queries, "embedding", "q_id",
      k = 5, model, nprobe = model.k)
      .orderBy("q_id", "rank")
  }

  val q38Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS u FROM e),
      |q AS (SELECT vec_id AS q_id, u AS qu FROM n WHERE vec_id < 20),
      |j AS (SELECT q_id, n.vec_id, list_inner_product(qu, n.u) AS cosine FROM q, n),
      |r AS (SELECT q_id, vec_id, cosine,
      |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rk
      |      FROM j)
      |SELECT q_id, vec_id, cosine, CAST(rk AS INT) AS rank FROM r
      |WHERE rk <= 5
      |ORDER BY q_id, rank""".stripMargin
  /** q53: SemDeDup semantic-dedup decisions
    * ([[graft.similarity.SemDedup.decisions]]) in a fully
    * oracle-able configuration: cells = the `label` column (a given
    * partition stands in for the k-means assignment, which no SQL
    * oracle can re-derive) and the cell representative = the
    * MIN-vec_id member's unit vector (a deterministic anchor; a mean
    * centroid's summation order is not reproducible bit-exact across
    * engines). Every double in the output — anchor similarity and
    * the pair scores behind the decisions — is a single
    * widen-then-accumulate dot product, the same arithmetic DuckDB
    * runs over `DOUBLE[]`, so decisions AND `rep_sim` hash-exact.
    * The k-means production path ([[graft.similarity.SemDedup
    * .withDecisions]]) is contract-pinned in SemDedupSpec instead.
    */
  def q53SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val unit = Sources.embeddings(spark, dir)
      .withColumn("__n", Similarity.norm(col("embedding")))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x / col("__n")).as("u"))
    val anchors = unit.groupBy("label")
      .agg(min_by(col("u"), col("vec_id")).as("__au"))
    val rep = unit.join(broadcast(anchors), Seq("label"))
      .withColumn("rep_sim", Similarity.dot(col("u"), col("__au")))
      .drop("__au")
    graft.similarity.SemDedup
      .decisions(rep, "u", "vec_id", "label", "rep_sim", eps = 0.3)
      .select(col("vec_id"), col("label"), col("rep_sim"),
        col("n_dup_partners"), col("removed"))
      .orderBy("vec_id")
  }

  val q53Sql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, label,
      |        list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS u FROM e),
      |anch AS (SELECT label, min(vec_id) AS aid FROM n GROUP BY label),
      |rep AS (SELECT n.vec_id, n.label, n.u,
      |          list_inner_product(n.u, a.u) AS rep_sim
      |        FROM n JOIN anch ON n.label = anch.label
      |               JOIN n a ON a.vec_id = anch.aid),
      |p AS (SELECT x.vec_id,
      |        count(*) AS nd,
      |        max(CASE WHEN y.rep_sim < x.rep_sim
      |                   OR (y.rep_sim = x.rep_sim AND y.vec_id < x.vec_id)
      |                 THEN 1 ELSE 0 END) AS rm
      |      FROM rep x JOIN rep y
      |        ON x.label = y.label AND x.vec_id <> y.vec_id
      |      WHERE list_inner_product(x.u, y.u) >= 0.3
      |      GROUP BY x.vec_id)
      |SELECT r.vec_id, r.label, r.rep_sim,
      |  CAST(coalesce(p.nd, 0) AS INT) AS n_dup_partners,
      |  CAST(coalesce(p.rm, 0) AS INT) AS removed
      |FROM rep r LEFT JOIN p ON r.vec_id = p.vec_id
      |ORDER BY r.vec_id""".stripMargin

  def q31LabelStats(spark: SparkSession, dir: String): DataFrame =
    Sources.embeddings(spark, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("first_vec"), max(col("vec_id")).as("last_vec"))
      .orderBy("label")

  val q31Sql: String =
    """SELECT label, count(*) AS n_vectors, min(vec_id) AS first_vec, max(vec_id) AS last_vec
      |FROM embeddings
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** q83: perceptual-hash image near-dup pairs over REAL encoded PNGs
    * (deterministic pixels from each document's text —
    * [[graft.multimodal.Multimodal.syntheticImages]]), aHash at
    * Hamming <= 3 via the banded self-join. Rows-only: DuckDB cannot
    * decode PNG; the contract (pair set identical to a brute-force
    * Hamming pass over independently recomputed hashes, and duplicate
    * texts always paired at Hamming 0) is pinned in
    * RowsOnlyContractSpec / PerceptualHashSpec.
    */
  def q83PhashDups(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.syntheticImages(
      Sources.documents(spark, dir), "doc_id", "text")
    graft.multimodal.PerceptualHash.phashDupPairs(media, maxHamming = 3, which = "ahash")
      .orderBy("id_a", "id_b")
  }

  /** q90: perceptual-hash image near-dup CLUSTERS — the same corpus
    * and Hamming relation as q83, but emitting the linear `(media_id,
    * cluster)` partition instead of the quadratic pair list (the
    * 100 TB dedup shape; connected components run in signature space —
    * [[graft.multimodal.PerceptualHash.phashDupClusters]]). Rows-only:
    * DuckDB cannot decode PNG; the contract (labels equal driver-side
    * union-find over the brute-force pair set, singletons label
    * themselves, every decodable payload labeled exactly once) is
    * pinned in RowsOnlyContractSpec / DedupSpec.
    */
  def q90PhashClusters(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.syntheticImages(
      Sources.documents(spark, dir), "doc_id", "text")
    graft.multimodal.PerceptualHash.phashDupClusters(media, maxHamming = 3, which = "ahash")
      .orderBy("media_id")
  }

  /** q91: audio-fingerprint near-dup CLUSTERS — q87's corpus and
    * Hamming relation in the linear `(media_id, cluster)` partition
    * form (see q90 / [[graft.multimodal.AudioFingerprint
    * .audioDupClusters]]). Rows-only: DuckDB cannot decode WAV; the
    * contract mirrors q90's (labels equal driver-side union-find over
    * the brute-force pair set, singletons self-labeled, every
    * decodable payload labeled exactly once) in RowsOnlyContractSpec.
    */
  def q91AudioClusters(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.syntheticWavs(
      Sources.documents(spark, dir), "doc_id", "text")
    graft.multimodal.AudioFingerprint.audioDupClusters(media, maxHamming = 3, which = "ehash")
      .orderBy("media_id")
  }

  /** q92: end-to-end image dedup RESOLUTION — the trainer-facing
    * artifact the cluster API exists for: label every decodable image
    * by Hamming component ([[graft.multimodal.PerceptualHash
    * .phashDupClusters]]), score each member by its encoded payload
    * size (bigger encode = more pixel detail survived — a
    * deterministic stand-in for a quality model; any score column
    * slots in), keep the best-scoring member per cluster
    * ([[graft.dedup.Dedup.clusterRepresentatives]], ties to the
    * smallest id). Output: one surviving image per duplicate class
    * `(cluster_id, n_members, keeper_id, keeper_score)`. Rows-only:
    * DuckDB cannot decode PNG; the contract (clusters partition the
    * decodable corpus, exactly one representative per cluster,
    * representative = argmax score with min-id ties, scores equal the
    * recomputed payload sizes) is pinned in RowsOnlyContractSpec.
    *
    * Scale shape: clusters are linear in ids (no pair list), the
    * score join is id-grain, and the keep-best argmax is ONE
    * map-side-combined struct-min aggregate — the whole resolution
    * stays linear at 100 TB. The corpus is decoded ONCE: the hash
    * pass carries `n_bytes` alongside the hashes (PHashRow), the
    * hashed table is persisted, and both the cluster miner and the
    * score branch read it — the previous shape paid a second full
    * media scan just for `length(bytes)`.
    */
  def q92ImageDedupResolution(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.syntheticImages(
      Sources.documents(spark, dir), "doc_id", "text")
    // eager checkpoint, not persist: same single decode pass for both
    // consumers, but the blocks are reclaimed by the enclosing scope or,
    // outside one, by the ContextCleaner once the frame is unreachable
    // — a plain persist here leaked one cache entry per invocation for
    // the JVM lifetime
    val hashed = graft.core.CacheScope.checkpoint(spark)(
      graft.multimodal.PerceptualHash.perceptualHashes(media).toDF())
    val clusters = graft.dedup.Dedup.hammingClusters(
      hashed.select(col("media_id").as("id"), col("ahash").as("sig")),
      "id", "sig", maxHamming = 3)
      .withColumnRenamed("id", "media_id")
    val scores = hashed.select(col("media_id"), col("n_bytes").cast("double").as("score"))
    val members = clusters.join(scores, "media_id")
    graft.dedup.Dedup.clusterRepresentatives(members, "cluster", "media_id", "score")
      .orderBy("cluster_id")
  }

  /** q87: audio-fingerprint near-dup pairs over REAL encoded WAVs
    * (deterministic PCM from each document's text —
    * [[graft.multimodal.Multimodal.syntheticWavs]]), energy-envelope
    * eHash at Hamming <= 3. Rows-only: DuckDB cannot decode WAV; the
    * brute-force recomputation contract is pinned in
    * RowsOnlyContractSpec / AudioFingerprintSpec.
    */
  def q87AudioDups(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.syntheticWavs(
      Sources.documents(spark, dir), "doc_id", "text")
    graft.multimodal.AudioFingerprint.audioDupPairs(media, maxHamming = 3, which = "ehash")
      .orderBy("id_a", "id_b")
  }

  /** q88: video near-dup pairs by frame-hash agreement over REAL
    * multi-frame DIB AVIs ([[graft.multimodal.Multimodal
    * .syntheticVideos]], pixel-exact round trip) — the containment
    * measure at video granularity. Rows-only; brute-force
    * recomputation contract in RowsOnlyContractSpec.
    */
  def q88VideoDups(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.syntheticVideos(
      Sources.documents(spark, dir), "doc_id", "text")
    graft.multimodal.PerceptualHash.videoDupPairs(media, maxHamming = 2, minMatchFrac = 0.75)
      .orderBy("id_a", "id_b")
  }

  /** q93: video near-dup CLUSTERS — q88's corpus in the linear
    * `(media_id, cluster)` partition form ([[graft.multimodal
    * .PerceptualHash.videoDupClusters]]): videos cluster when their
    * ordered frame-hash COMPONENT sequences are identical, so no
    * video pair (and no frame pair beyond the signature-space CC) is
    * ever materialized. Rows-only: DuckDB cannot decode AVI; the
    * contract (labels equal a driver-side recomputation of the
    * documented semantics; byte-identical videos share a cluster;
    * fixture-level agreement with the q88 pair path at full match) is
    * pinned in RowsOnlyContractSpec / VideoClusterSpec.
    */
  def q93VideoClusters(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.syntheticVideos(
      Sources.documents(spark, dir), "doc_id", "text")
    graft.multimodal.PerceptualHash.videoDupClusters(media, maxHamming = 2)
      .orderBy("media_id")
  }

  private val kmeansModelCache = scala.collection.concurrent.TrieMap.empty[String, graft.similarity.Ivf.Model]

  /** Cache key = dir + a cheap content fingerprint (max mtime + total
    * byte length under `embeddings.parquet`), so regenerating the
    * fixture at the same path within one JVM invalidates the entry
    * instead of silently reusing a model trained on the old data.
    * `None` for unreadable paths — those BYPASS the cache entirely
    * (compute without inserting; a nonce key would add an entry per
    * call and the map would grow without bound in a long-lived JVM).
    */
  private def embeddingsFingerprint(dir: String): Option[String] = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory) {
        val children = Option(f.listFiles()).getOrElse(Array.empty)
        children.foldLeft((f.lastModified(), 0L)) { case ((m, s), c) =>
          val (cm, cs) = walk(c); (math.max(m, cm), s + cs)
        }
      } else (f.lastModified(), f.length())
    val root = new java.io.File(s"$dir/embeddings.parquet")
    if (!root.exists()) None
    else { val (m, s) = walk(root); Some(s"$m:$s") }
  }

  /** One live entry per (dir, kind): a fingerprint change (fixture
    * regenerated in place) evicts the superseded entry instead of
    * stranding it — each cache is bounded by the number of DISTINCT
    * dirs a JVM touches, not by how often each is rewritten. The one
    * memo discipline behind [[kmeansModel]], [[ivfModel]] and
    * [[queryVec]].
    */
  private def memoByFingerprint[T](
      cache: scala.collection.concurrent.TrieMap[String, T],
      dir: String,
      kind: String)(compute: => T): T =
    embeddingsFingerprint(dir) match {
      case None => compute // unreadable path: bypass, never insert
      case Some(fp) =>
        val prefix = s"$dir|$kind|"
        val key = prefix + fp
        cache.keys
          .filter(k => k.startsWith(prefix) && k != key)
          .foreach(cache.remove)
        cache.getOrElseUpdate(key, compute)
    }

  private def kmeansModel(spark: SparkSession, dir: String): graft.similarity.Ivf.Model =
    memoByFingerprint(kmeansModelCache, dir, "kmeans")(
      graft.similarity.Ivf.trainDistributed(
        Sources.embeddings(spark, dir), "embedding", k = 8, iters = 5))

  /** q84: full-corpus distributed k-means ([[graft.similarity.Ivf
    * .trainDistributed]]) cell balance — per-cell membership count and
    * mean cosine to the centroid. Rows-only: k-means geometry is not
    * SQL-expressible; the contract (counts sum to the corpus, every
    * cell's mean cosine above a floor, assignments equal the
    * driver-side fit on this sample-sized corpus) is pinned in
    * RowsOnlyContractSpec / IvfSpec.
    */
  def q84KmeansCells(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val model = kmeansModel(spark, dir)
    val cents = spark.createDataset(
      model.centroids.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "__centroid")
    graft.similarity.Ivf.index(Sources.embeddings(spark, dir), "embedding", "vec_id", model)
      .join(broadcast(cents), Seq("cell"))
      .withColumn("__sim", Similarity.dot(col("embedding"), col("__centroid")))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_vectors"),
        avg(col("__sim")).as("mean_cosine"))
      .orderBy("cell")
  }

  /** q94: cluster-balanced sample census — cap every k-means cell of
    * the embedding corpus at 10 members chosen in deterministic hash
    * order ([[graft.similarity.ClusterSampling]]) and report per cell
    * how many rows existed and how many survived. Rows-only: k-means
    * geometry is not SQL-expressible; the contract (n_kept =
    * min(n_total, cap) per cell, totals sum to the finite-vector
    * corpus, the kept set is identical across reruns and NESTED under
    * a larger cap) is pinned in RowsOnlyContractSpec.
    */
  def q94ClusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val model = kmeansModel(spark, dir)
    graft.similarity.ClusterSampling.cellCensus(
      Sources.embeddings(spark, dir), "embedding", "vec_id", model,
      perCellCap = 10, seed = 42)
      .orderBy("cell")
  }

  /** q96: product-quantized ANN top-k ([[graft.similarity.Pq]]) —
    * the compressed-vector scale path in its production composition:
    * train m=8/ksub=16 codebooks on the corpus, encode every
    * embedding to 8 BYTES, shortlist 100 candidates for the same
    * top-10 cosine query as q28 by asymmetric distance over the code
    * table (m lookups per row, TakeOrderedAndProject), then rerank
    * the shortlist by TRUE cosine against the raw vectors (a bounded
    * `isin` pushed to the scan — never a full-corpus join).
    * Rows-only: codebook geometry is not SQL-expressible and the
    * shortlist is approximate by design; the contract (recall@10
    * floor vs the exact brute-force anchor, scores = recomputed
    * exact cosines) is pinned in RowsOnlyContractSpec; PqSpec pins
    * ADC exactness on a codebook-sized vocabulary.
    */
  def q96KnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Sources.embeddings(spark, dir).filter(col("vec_id") =!= 0L)
    val q = queryVec(spark, dir, 0L).map(_.toDouble)
    val model = graft.similarity.Pq.train(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val enc = graft.similarity.Pq.encode(emb, "embedding", "vec_id", model)
    graft.similarity.Pq.topKRerank(
      enc, model, emb, "embedding", "vec_id", q, k = 10, expand = 10)
      .withColumnRenamed("id", "vec_id")
  }

  /** q97: IVF-PQ (IVFADC) top-k ([[graft.similarity.Pq.topKIvfRerank]])
    * — the full big-corpus ANN composition: the q84 k-means geometry
    * prunes the SCAN (probe 4 of 8 inverted lists), residual PQ codes
    * shrink the VECTORS (8 bytes each), the ADC shortlist of 100 is
    * reranked by TRUE cosine via a bounded `isin`. Same top-10 cosine
    * query as q28/q96, so the three are directly comparable: exact
    * brute force, flat PQ, IVF-PQ. Rows-only: codebook and cell
    * geometry are not SQL-expressible and the probe is approximate by
    * design; the contract (recall@10 floor vs the exact anchor,
    * scores = recomputed exact cosines) is pinned in
    * RowsOnlyContractSpec; PqSpec pins ADC-with-residual exactness
    * and cell-assignment parity with [[graft.similarity.Ivf.cellOf]].
    */
  def q97KnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Sources.embeddings(spark, dir).filter(col("vec_id") =!= 0L)
    val q = queryVec(spark, dir, 0L).map(_.toDouble)
    val ivf = kmeansModel(spark, dir)
    val pq = graft.similarity.Pq.trainResidual(emb, "embedding", ivf, m = 8, ksub = 16)
    val enc = graft.similarity.Pq.encodeIvf(emb, "embedding", "vec_id", ivf, pq)
    graft.similarity.Pq.topKIvfRerank(
      enc, pq, ivf, emb, "embedding", "vec_id", q, k = 10, nprobe = 4, expand = 10)
      .withColumnRenamed("id", "vec_id")
  }

  /** q109: the INCREMENTAL ANN index lifecycle — the daily-ingest
    * maintenance shape [[graft.similarity.Pq.appendToIndex]] exists
    * for: train IVF+PQ on the BASE corpus only (vec_id % 4 != 3),
    * persist the models ([[graft.similarity.Pq.writeModel]] /
    * [[graft.similarity.Ivf.writeModel]] — the artifacts a daily job
    * loads instead of retraining) and the cell-partitioned index,
    * then APPEND the new batch (vec_id % 4 == 3) with the RELOADED
    * frozen models — no retrain, no re-encode of the corpus; cost
    * scales with the batch (ScaleBench `pq_append_vs_index`). A
    * [[graft.similarity.Pq.driftCheck]] against the training-time
    * quantization error rides the output (`drift_ratio`) — the
    * statistic that tells the job when a retrain window is due.
    * The search is q97's IVFADC rerank over the GROWN index. Rows
    * -only: codebooks/cells are not SQL-expressible; the contract
    * (appended rows indistinguishable from one-shot encoding, recall
    * floor vs the exact anchor on the grown corpus, recall within
    * slack of a retrained-from-scratch index, drift ratio ~1 on the
    * same-distribution batch) is pinned in RowsOnlyContractSpec and
    * PqSpec/IvfSpec. Bench-budget justification (BASELINE.md policy):
    * a durable-lifecycle query — the measured window contains real
    * filesystem protocol work (model persist + reload, index write +
    * append, a drift pass) by design, like q103–q108; the frozen
    * base models are fingerprint-memoized dataset properties.
    */
  def q109PqIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = Sources.embeddings(spark, dir).filter(col("vec_id") =!= 0L)
    val base = emb.filter(col("vec_id") % 4 =!= 3)
    val batch = emb.filter(col("vec_id") % 4 === 3)
    val q = queryVec(spark, dir, 0L).map(_.toDouble)
    val (ivf0, pq0, baseline) = q109BaseModels(spark, dir)
    val ivfDir = graft.core.TempDirs.create("q109_ivf_model_")
    val pqDir = graft.core.TempDirs.create("q109_pq_model_")
    val idxDir = graft.core.TempDirs.create("q109_pq_index_") + "/idx"
    graft.similarity.Ivf.writeModel(spark, ivf0, ivfDir)
    graft.similarity.Pq.writeModel(spark, pq0, pqDir)
    graft.similarity.Pq.writeIndex(
      graft.similarity.Pq.encodeIvf(base, "embedding", "vec_id", ivf0, pq0), idxDir)
    // the daily job's view: RELOADED frozen models, append-only index
    val ivf = graft.similarity.Ivf.readModel(spark, ivfDir)
    val pq = graft.similarity.Pq.readModel(spark, pqDir)
    graft.similarity.Pq.appendToIndex(batch, "embedding", "vec_id", ivf, pq, idxDir)
    val drift = graft.similarity.Pq.driftCheck(
      batch, "embedding", ivf, pq, baseline = math.max(baseline, 1e-12))
    graft.similarity.Pq.topKIvfRerank(
      graft.similarity.Pq.readIndex(spark, idxDir), pq, ivf,
      emb, "embedding", "vec_id", q, k = 10, nprobe = 4, expand = 10)
      .withColumnRenamed("id", "vec_id")
      .withColumn("drift_ratio", round(lit(drift.ratio), 6))
  }

  /** q98: INCREMENTAL image dedup — the ingest-gate shape: the corpus
    * splits into a reference index (doc_id % 3 != 0, "already
    * ingested") and a new batch (doc_id % 3 == 0), and the batch's
    * images pair against the reference by perceptual hash at
    * Hamming <= 3 ([[graft.multimodal.PerceptualHash
    * .phashDupPairsAgainst]] → [[graft.dedup.Dedup
    * .hammingPairsAgainst]]). Cross-corpus only — batch-internal
    * duplicates are q83's job. Rows-only: DuckDB cannot decode PNG;
    * the brute-force cross-recomputation contract (exact equality,
    * pigeonhole at maxHamming < bands) is pinned in
    * RowsOnlyContractSpec / DedupSpec.
    */
  def q98PhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val batch = graft.multimodal.Multimodal.syntheticImages(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    val ref = graft.multimodal.Multimodal.syntheticImages(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    graft.multimodal.PerceptualHash.phashDupPairsAgainst(batch, ref, maxHamming = 3, which = "ahash")
      .orderBy("id_a", "id_b")
  }

  /** q105: the durable MEDIA ingest lifecycle — q103's two-epoch shape
    * for perceptual hashes, wiring [[graft.dedup.SeenIndex.gateAndUpdate]]
    * over the `Hamming` family: epoch 1 decodes and hashes the reference
    * images (doc_id % 3 != 0) map-side and seeds a fresh on-disk
    * signature index with their aHashes, epoch 2 gates the batch
    * (doc_id % 3 == 0) against everything epoch 1 admitted and appends
    * its own survivors. Only 8-byte hashes ever reach the index or a
    * shuffle — payload bytes stay in the decode scan. Epoch 2's
    * admission is by construction EXACTLY the stateless
    * [[graft.multimodal.PerceptualHash.dropSeenImages]] kept set (same
    * gate, same pigeonhole bound; undecodable rows KEPT by both, the
    * family rule) — pinned in RowsOnlyContractSpec. Rows-only: DuckDB
    * cannot decode PNG. Each invocation uses its own temp index dir.
    */
  def q105ImageIngestEpochs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    def hashes(part: DataFrame) =
      graft.multimodal.PerceptualHash.perceptualHashes(
        graft.multimodal.Multimodal.syntheticImages(part, "doc_id", "text"))
        .toDF().select(col("media_id"), col("ahash"))
    val path = graft.core.TempDirs.create("q105_phash_index_")
    val family = graft.dedup.SeenIndex.Hamming("ahash")
    graft.core.CacheScope.run[Unit](spark)(
      graft.dedup.SeenIndex.gateAndUpdate(hashes(docs.filter(col("doc_id") % 3 =!= 0)), family, path))
    // checkpointed: never recomputes, safe to return from the query
    graft.dedup.SeenIndex.gateAndUpdate(hashes(docs.filter(col("doc_id") % 3 === 0)), family, path)
      .select("media_id")
      .orderBy("media_id")
  }

  /** q95: spectral audio near-dup pairs — [[graft.multimodal
    * .AudioFingerprint]] sHash (Welch power spectrum, 65 geometric
    * bands, band-delta signs) at Hamming <= 3 over the same encoded
    * WAVs as q87. The spectral hash survives time-domain edits the
    * energy envelope does not (phase is discarded by frame
    * averaging). Rows-only: DuckDB cannot decode WAV or run an FFT;
    * the brute-force recomputation contract is pinned in
    * RowsOnlyContractSpec / AudioFingerprintSpec.
    */
  def q95AudioDupsSpectral(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.syntheticWavs(
      Sources.documents(spark, dir), "doc_id", "text")
    graft.multimodal.AudioFingerprint.audioDupPairs(media, maxHamming = 3, which = "shash")
      .orderBy("id_a", "id_b")
  }

  /** q100: the SEMANTIC ingest gate — a new batch of embeddings
    * (vec_id % 3 == 0) admitted against the already-ingested
    * reference corpus (vec_id % 3 != 0) at cosine >= 0.4
    * ([[graft.similarity.Similarity.dropSeenEmbedding]] → the
    * cross-corpus LSH band join of [[Similarity.nearDupPairsAgainst]]
    * with exact-cosine verification; the embedding-space member of
    * the dropSeen family, next to q99's SimHash and q98's pHash).
    * Geometry derived by [[Similarity.lshGeometry]] at targetRecall
    * 0.95 — the gate is APPROXIMATE by design (an LSH miss passes),
    * so rows-only; the contract (gated set ⊆ the brute cross filter
    * with perfect precision, recall floor, planted exact duplicate
    * gated out) is pinned in RowsOnlyContractSpec.
    */
  def q100EmbeddingGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Sources.embeddings(spark, dir)
    val g = Similarity.lshGeometry(threshold = 0.4, targetRecall = 0.95, numPlanes = 64)
    Similarity.dropSeenEmbedding(
      emb.filter(col("vec_id") % 3 === 0),
      emb.filter(col("vec_id") % 3 =!= 0),
      "embedding", "vec_id", threshold = 0.4,
      planes = Similarity.hyperplanes(dim = 64, numPlanes = 64),
      bands = g.bands, probeHamming = g.probeHamming,
      // fixture vector table is KBs: exact-cosine verify stays map-side
      broadcastVerify = true)
      .select("vec_id")
      .orderBy("vec_id")
  }

  /** q104: the DURABLE semantic ingest lifecycle — q100's gate made
    * stateful across RUNS via [[graft.dedup.SeenIndex]]'s vector
    * index: epoch 1 ingests the reference embeddings
    * (vec_id % 3 != 0) into a fresh on-disk `(id, vec)` index, epoch
    * 2 gates the batch (vec_id % 3 == 0) against everything epoch 1
    * admitted and appends its own survivors. Epoch 1 gates against an
    * EMPTY index, so it admits the whole reference corpus — which
    * makes epoch 2's admission by construction EXACTLY q100's kept
    * set (same geometry, same verify), pinned in
    * RowsOnlyContractSpec; the epoch semantics (re-ingest gates to
    * zero) are pinned in SeenIndexSpec. Each invocation uses its own
    * temp index dir, so the query is deterministic and re-runnable.
    */
  def q104EmbeddingEpochs(spark: SparkSession, dir: String): DataFrame = {
    val emb = Sources.embeddings(spark, dir)
    val g = Similarity.lshGeometry(threshold = 0.4, targetRecall = 0.95, numPlanes = 64)
    val planes = Similarity.hyperplanes(dim = 64, numPlanes = 64)
    val path = graft.core.TempDirs.create("q104_vec_index_")
    val family = graft.dedup.SeenIndex.Embedding("embedding", "vec_id",
      threshold = 0.4, planes = planes, bands = g.bands, probeHamming = g.probeHamming,
      broadcastVerify = true, signatures = graft.dedup.SeenIndex.Live)
    graft.core.CacheScope.run[Unit](spark)(
      graft.dedup.SeenIndex.gateAndUpdate(emb.filter(col("vec_id") % 3 =!= 0), family, path))
    // checkpointed: never recomputes, safe to return from the query
    graft.dedup.SeenIndex.gateAndUpdate(emb.filter(col("vec_id") % 3 === 0), family, path)
      .select("vec_id")
      .orderBy("vec_id")
  }

  /** q108: q104's durable semantic ingest lifecycle over the SIGNED
    * vector index ([[graft.dedup.SeenIndex.Cached]] signatures
    * — reference signatures read from the geometry-keyed cache
    * instead of recomputed per epoch, the gate's history-scaling
    * term). Admissions are IDENTICAL to q104's by construction (the
    * cache stores the same `withSignatures` projection the live path
    * computes — one normalization from raw, same fixed refine
    * geometries), which RowsOnlyContractSpec pins row for row; the
    * cache's self-heal and crash behavior are pinned in SeenIndexSpec.
    */
  def q108SignedEmbeddingEpochs(spark: SparkSession, dir: String): DataFrame = {
    val emb = Sources.embeddings(spark, dir)
    val g = Similarity.lshGeometry(threshold = 0.4, targetRecall = 0.95, numPlanes = 64)
    val planes = Similarity.hyperplanes(dim = 64, numPlanes = 64)
    val path = graft.core.TempDirs.create("q108_signed_vec_index_")
    val family = graft.dedup.SeenIndex.Embedding("embedding", "vec_id",
      threshold = 0.4, planes = planes, bands = g.bands, probeHamming = g.probeHamming,
      broadcastVerify = true, signatures = graft.dedup.SeenIndex.Cached)
    graft.core.CacheScope.run[Unit](spark)(
      graft.dedup.SeenIndex.gateAndUpdate(emb.filter(col("vec_id") % 3 =!= 0), family, path))
    // checkpointed: never recomputes, safe to return from the query
    graft.dedup.SeenIndex.gateAndUpdate(emb.filter(col("vec_id") % 3 === 0), family, path)
      .select("vec_id")
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q100_embedding_gate" -> (q100EmbeddingGate _),
    "q104_embedding_epochs" -> (q104EmbeddingEpochs _),
    "q108_signed_embedding_epochs" -> (q108SignedEmbeddingEpochs _),
    "q105_image_ingest_epochs" -> (q105ImageIngestEpochs _),
    "q83_phash_dups" -> (q83PhashDups _),
    "q94_cluster_balanced_sample" -> (q94ClusterBalancedSample _),
    "q95_audio_dups_spectral" -> (q95AudioDupsSpectral _),
    "q96_knn_pq" -> (q96KnnPq _),
    "q97_knn_ivfpq" -> (q97KnnIvfPq _),
    "q98_phash_incremental" -> (q98PhashIncremental _),
    "q109_pq_index_append" -> (q109PqIndexAppend _),
    "q84_kmeans_cells" -> (q84KmeansCells _),
    "q90_phash_clusters" -> (q90PhashClusters _),
    "q91_audio_clusters" -> (q91AudioClusters _),
    "q92_image_dedup_resolution" -> (q92ImageDedupResolution _),
    "q93_video_clusters" -> (q93VideoClusters _),
    "q87_audio_dups" -> (q87AudioDups _),
    "q88_video_dups" -> (q88VideoDups _),
    "q28_knn_brute" -> (q28KnnBrute _),
    "q29_knn_ann" -> (q29KnnAnn _),
    "q30_embedding_near_dup" -> (q30EmbeddingNearDup _),
    "q31_label_stats" -> (q31LabelStats _),
    "q37_knn_ivf" -> (q37KnnIvf _),
    "q38_knn_join" -> (q38KnnJoin _),
    "q53_semantic_dedup" -> (q53SemanticDedup _))

  val oracle: Map[String, String] = Map(
    "q28_knn_brute" -> q28Sql,
    "q31_label_stats" -> q31Sql,
    "q38_knn_join" -> q38Sql,
    "q53_semantic_dedup" -> q53Sql)
}
