package graft.dedup

import graft.core.CacheScope
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline — north-star
  * extension over the `documents` fixture. Five families:
  * exact (hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine (delegated to [[graft.similarity.Similarity]]).
  *
  * Scale design notes:
  *   - exact dedup is one hash aggregate on the fingerprint — the
  *     canonical first pass at 100 TB (shuffle keyed on a 64-bit hash,
  *     never on the text bytes);
  *   - MinHash/LSH candidate generation is `explode(bands) + self-join
  *     on (band, hash)` — work proportional to colliding pairs, not
  *     n^2; signatures are fixed-width (H longs) regardless of doc
  *     size, so the shuffle payload is tiny;
  *   - n-gram Jaccard's exact pair join is the verification step; at
  *     scale it runs only on LSH candidates (`verifyCandidates`).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on normalized content: keep the smallest id per
    * fingerprint. Returns the surviving rows. NULL-text rows are ALL
    * kept: `xxhash64(null)` is the seed constant, so fingerprinting
    * them would silently collapse every document with missing text
    * into one survivor — the unhashable-rows-kept rule (see
    * [[dropSeenHamming]]) applies to the self-dedup too. NULL-id rows
    * are ALSO all kept: they cannot win or lose an id-keyed
    * survivorship (min skips nulls, the keeper semi-join never
    * matches a null key), so routing them through the keyed machinery
    * would silently DELETE them — the same null rule the dropSeen
    * family documents. Assign ids upstream if null-id rows should
    * compete for survivorship.
    *
    * Shape: min-aggregate + id semi-join, NOT a fingerprint-partitioned
    * window. The window form funnels every duplicate class into ONE
    * task's sort (a crawl's million-copy boilerplate class = one
    * straggler) and would sort the null-text rows in a single
    * partition too; its null-or-rank filter is a disjunction
    * `InferWindowGroupLimit` cannot rewrite to a partial group-limit.
    * The aggregate map-side combines each class to one 16-byte
    * (fp, min id) pair per task before its only exchange; the keeper
    * semi-join is keyed on the UNIQUE id, so it is skew-free no matter
    * how large a duplicate class is.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hashable = df.filter(col(textCol).isNotNull && col(idCol).isNotNull)
    val keepers = hashable
      .select(TextAnalysis.contentFingerprint(col(textCol)).as("__fp"), col(idCol).as("__keep_id"))
      .groupBy(col("__fp"))
      .agg(min(col("__keep_id")).as("__keep_id"))
      .select(col("__keep_id"))
    df.filter(col(textCol).isNull || col(idCol).isNull)
      .unionByName(hashable.join(keepers, col(idCol) === col("__keep_id"), "left_semi"))
  }

  /** Exact-dup groups: fingerprint -> (n copies, canonical id).
    * NULL-text rows form no group (they are not copies of each other
    * — see [[exactDedup]]).
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .withColumn("fp", TextAnalysis.contentFingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("canonical_id"))

  // -------------------------------------------------------------- minhash


  /** Word n-gram shingles (distinct) from a TOKEN ARRAY column. Texts
    * shorter than `n` tokens yield an empty array (not a truncated
    * partial gram — `concat_ws` would silently drop out-of-range
    * nulls).
    *
    * PERFORMANCE CONTRACT: pass an *attribute* (a column materialized
    * by a previous projection), not an inline `split(...)` expression —
    * interpreted higher-order functions do not CSE, so an inline
    * expression would re-split the text for every element_at (3 x
    * shingleCount times per row). See the staged call sites.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array().cast("array<string>")))
  }

  /** One-shot form over raw text — fine for small frames/tests; hot
    * paths stage tokens first (see performance contract above).
    */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), n)

  /** The MinHash band-slicing expression every banded join in this
    * family derives its bucket keys from — ONE definition so the
    * self-join candidate path ([[candidatePairsFromSig]]) and the
    * cross-corpus path ([[bandKeys]]) can never slice a signature
    * differently (the Hamming family shares [[bandedSigs]] for the
    * same reason). One `(band, h)` struct per band, `h` =
    * `xxhash64` of the band's `rowsPerBand`-component slice.
    */
  private[graft] def bandStructs(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, s"numHashes=$numHashes must divide into bands=$bands")
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("h"))
    }: _*)
  }

  /** Banded self-join over a precomputed (id, sig) signature table:
    * distinct (id_a < id_b) pairs colliding on >= 1 (band, bandHash)
    * key — the same output set as an id-grain band join, computed in
    * SIGNATURE-CLASS space.
    *
    * Scale shape (the same discipline as the Hamming family's
    * distinct-signature banding): ids collapse to signature classes
    * (surrogate key = min id per identical signature), the band
    * self-join runs over ONE row per class — so a 10k-copy boilerplate
    * class is one node, not 10k x 10k x bands join rows — and id
    * pairs expand afterwards: cross-class collisions join each class
    * pair's members (every combination collides by construction, in
    * canonical least/greatest order, so no post-expansion distinct is
    * needed), and same-class members pair directly (identical
    * signatures collide in every band). The pair OUTPUT remains
    * quadratic in class size — intrinsic to a pair API; the clusters
    * API is the linear-output form — but the join and the distinct no
    * longer are. Only ids and 8-byte band keys ride any exchange; the
    * signatures re-join at id grain where needed
    * ([[minhashCandidatePairs]]).
    */
  private def candidatePairsFromSig(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    // class table (sig -> surrogate key = min id) via a map-side
    // combined AGGREGATE, never a sig-partitioned window (a window
    // would put each mega-class in one task — the hazard this shape
    // exists to remove); both it and the member map are multi-consumer
    // so they persist lazily (see graft.core.CacheScope)
    val classKeys = CacheScope.persist(sig.groupBy(col("sig")).agg(min(col("id")).as("__sk")))
    val members = CacheScope.persist(sig.join(classKeys, Seq("sig")).select(col("id"), col("__sk")))
    // one banded row set per CLASS
    val classes = classKeys
      .select(col("__sk"), explode(bandStructs(col("sig"), numHashes, bands)).as("bk"))
      .select(col("__sk"), col("bk.band"), col("bk.h"))
    val a = classes.toDF("sk_a", "band", "h")
    val b = classes.toDF("sk_b", "band", "h")
    // sk_a <= sk_b keeps the SELF pair (every class collides with
    // itself in every band), so one expansion join covers both the
    // cross-class pairs and the within-class pairs
    val classPairs = a.join(b, Seq("band", "h"))
      .filter(col("sk_a") <= col("sk_b"))
      .select("sk_a", "sk_b")
      .distinct()
    classPairs
      .join(members.toDF("__ma", "sk_a").hint("shuffle_hash"), "sk_a")
      .join(members.toDF("__mb", "sk_b").hint("shuffle_hash"), "sk_b")
      // distinct classes: every member combination collides (ordered
      // least/greatest); same class: keep each unordered pair once
      .filter(col("sk_a") =!= col("sk_b") || col("__ma") < col("__mb"))
      .select(
        least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"))
  }

  /** LSH candidate pairs: band the signature (`bands` x `rowsPerBand`),
    * hash each band, self-join on (band, bandHash). Returns distinct
    * (id_a < id_b) candidate pairs with their estimated Jaccard =
    * fraction of agreeing minhash components. Three internal caches
    * (the signature table and the banding pass's class/member maps)
    * live as long as the enclosing [[graft.core.CacheScope]].
    */
  def minhashCandidatePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    // Two tight expressions end to end: text -> distinct shingle
    // hashes (one byte-level pass, [[ShingleHashes]]) -> signature
    // (one pass over the hash array, [[MinHashSig]]). No strings are
    // built and no interpreted higher-order function runs on this path.
    // feeds the banding pass and the two id-grain signature lookups
    // below — lazy persist, one shingling/minhash pass total
    val sig = CacheScope.persist(df
      .select(col(idCol).as("id"), ShingleHashes.shingleHashes(col(textCol), n).as("__gh"))
      .select(col("id"), MinHashSig.minhashSig(col("__gh"), numHashes, seed).as("sig")))
    // signatures rejoin AT ID GRAIN after the distinct — shuffle-hash
    // so the candidate stream is never sorted carrying the arrays
    candidatePairsFromSig(sig, numHashes, bands)
      .join(sig.toDF("id_a", "sig_a").hint("shuffle_hash"), "id_a")
      .join(sig.toDF("id_b", "sig_b").hint("shuffle_hash"), "id_b")
      .withColumn(
        "est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Transitive duplicate clusters from a verified pair list:
    * iterative min-label propagation (the dataframe form of connected
    * components). Returns (id, cluster) where `cluster` is the
    * smallest id reachable through the pair graph — dedup keeps one
    * doc per cluster instead of per pair, which matters when near-dups
    * chain (a~b, b~c but a!~c: drop-larger-of-each-pair keeps only a,
    * cluster resolution lets policy pick a canonical doc per GROUP).
    *
    * Scale shape: each round is one join + one aggregate on (id,
    * label) pairs — label propagation converges in O(cluster diameter)
    * rounds, and near-dup clusters are shallow (diameter rarely >
    * ~5-10 even at corpus scale, because similarity is near-
    * transitive). The loop stops on a zero-changes round: each row of
    * the new generation carries a `__chg` bit and one map-side-
    * combined `max(__chg)` aggregate (one boolean per partition
    * crosses the wire) reports convergence.
    *
    * LINEAGE DISCIPLINE (load-bearing for any iterative DataFrame
    * algorithm): every generation is EAGERLY `localCheckpoint`ed. The
    * loop references the previous labels twice per round, so without
    * truncation the logical plan DOUBLES per round — caches would
    * short-circuit execution, but analysis, optimization and
    * cache-lookup still walk the exponentially growing tree, and every
    * downstream consumer of the result inherits it (measured: ~3s of
    * driver time by round 3 over a 256-pair input, growing per round).
    * Checkpointed generations are plain LogicalRDDs, so each round and
    * every consumer plans against a flat base. On a cluster where
    * executor loss matters, swap localCheckpoint for a reliable
    * `checkpoint` (HDFS dir) — same structure, durable blocks.
    *
    * If a cluster's diameter exceeds `maxIter` the loop stops WITHOUT
    * converging and the returned labels may split that cluster; this
    * is logged as a warning. Pass a larger `maxIter` (rounds are
    * cheap once the pair list is small) if the warning fires.
    *
    * ADAPTIVE EXECUTION: the verified pair list is control-plane-sized
    * by construction (thousands-to-millions of edges where the corpus
    * has billions of docs — it only contains near-duplicates that
    * survived exact verification). Below `collectThreshold` edges the
    * labels are computed by DRIVER-SIDE union-find over the collected
    * pairs: ONE extra job (the collect off the already-checkpointed
    * list) instead of 2 jobs x O(diameter) propagation rounds, with
    * labels identical to the distributed fixpoint (both are "smallest
    * id reachable"; pinned by DedupSpec against the forced-distributed
    * path). Above the threshold the distributed min-label-propagation
    * loop runs — that is the genuinely-huge-graph fallback, and each
    * superseded checkpointed generation is released as soon as the
    * next one materializes so at most two generations of blocks are
    * live at any time. Every checkpoint goes through
    * [[graft.core.CacheScope]]: the distributed path's result reads
    * its final generation, which lives as long as the enclosing scope;
    * the local path's result is a driver-built local relation.
    *
    * SIZE THE THRESHOLD TO THE DRIVER: the default (10 M edges)
    * collects a few GB of boxed rows at the limit — right for the
    * multi-GB driver a 100 TB job runs with, too big for a default
    * 1 GB driver heap; pass a smaller `collectThreshold` (or 0 to
    * force the distributed path) on small drivers.
    */
  def dupClusters(
      pairs: DataFrame,
      maxIter: Int = 20,
      collectThreshold: Long = 10000000L): DataFrame = {
    // One pass of the (possibly expensive — LSH mining) upstream plan;
    // both execution paths below consume the flat checkpointed list
    // (the union-find path would otherwise need a count + a collect =
    // two upstream runs to size itself safely).
    val p = CacheScope.checkpoint(pairs.sparkSession)(pairs.select(col("id_a"), col("id_b")))
    val nEdges = p.count() // cheap: counts the checkpointed blocks
    val out =
      if (nEdges <= collectThreshold) dupClustersLocal(p)
      else dupClustersDistributed(p, maxIter)
    out
  }

  /** Driver-side exact union-find over a (materialized, small) pair
    * list: union by smaller-id root + path halving, then one pass
    * assigning every member its root — the root IS the component
    * minimum because unions always attach the larger root under the
    * smaller. One Spark job (the collect); the result is a local
    * relation, so downstream broadcast joins against it are free.
    * Generic over the id column's type (ids collect as boxed
    * `Comparable`s — long/int/string/decimal/date all order exactly as
    * SQL `least`/`min` does on a single column type; strings compare
    * as BINARY UTF-8, Spark's order, not Java's UTF-16 `compareTo`).
    */
  private def dupClustersLocal(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    val idType = p.schema.fields(0).dataType
    val rows = p.collect()
    CacheScope.release(p)
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var px = parent.getOrDefault(x, x)
      while (px != x) { // path halving
        val ppx = parent.getOrDefault(px, px)
        parent.put(x, ppx)
        x = px
        px = parent.getOrDefault(x, x)
      }
      x
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      // Strings must order the way Spark's min() does — BINARY UTF-8
      // bytes. Java's compareTo compares UTF-16 code units, which
      // disagrees for supplementary-plane characters (a surrogate
      // 0xD800.. sorts below 0xE000..0xFFFF in UTF-16 but its UTF-8
      // encoding 0xF0.. sorts ABOVE theirs), and the local path must
      // pick the identical cluster minimum as the distributed one.
      case (x: String, y: String) =>
        java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      case (c: Comparable[_], _) => c.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      case _ => String.valueOf(a) < String.valueOf(b)
    }
    val ids = new java.util.LinkedHashSet[Any]()
    rows.foreach { r =>
      val a = r.get(0)
      val b = r.get(1)
      // A null endpoint voids the EDGE, not the partner NODE: the
      // non-null side stays in the output as a singleton, matching
      // the distributed path's node set across collectThreshold.
      if (a != null) ids.add(a)
      if (b != null) ids.add(b)
      if (a != null && b != null) {
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster", idType, nullable = false)))
    val outRows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.size())
    ids.forEach(id => outRows.add(org.apache.spark.sql.Row(id, find(id))))
    spark.createDataFrame(outRows, schema)
  }

  /** Distributed min-label propagation (the above-threshold path). */
  private def dupClustersDistributed(p: DataFrame, maxIter: Int): DataFrame =
    dupClustersDistributedRun(p, maxIter).labels

  /** One distributed connected-components run with its convergence
    * evidence — rounds, per-round wall seconds, converged flag
    * (ScaleBench records these; see BENCH_scale.json).
    */
  private[graft] case class CcRun(
      labels: DataFrame, rounds: Int, converged: Boolean, roundSecs: Seq[Double])

  /** Distributed min-label propagation with POINTER HALVING: each
    * round takes the min over (a) the node's own label, (b) its
    * neighbors' labels (one-hop spread), and (c) the previous
    * generation's label OF its tentative label (`label(label(x))` —
    * path compression against the already-materialized table). The
    * reachable-min distance then satisfies d_r >= 2*d_{r-1} + 1, so an
    * ordered chain — the worst case for plain propagation, which
    * crawls ONE hop per round and needs diameter rounds — converges in
    * ~log2(diameter) rounds (a 100 k chain: 18 rounds measured, vs
    * 100 k without halving). Labels still only ever take values of
    * node ids inside the same component, so the fixpoint is the exact
    * component minimum — identical to the driver-side union-find
    * (DedupSpec pins parity).
    *
    * Cost per round: the edges-side join + groupBy min, plus one
    * label-table self-join (n rows) for the halving step — the
    * textbook price for O(log D) rounds instead of O(D).
    */
  private[graft] def dupClustersDistributedRun(p: DataFrame, maxIter: Int): CcRun = {
    // Null-endpoint edges are dropped, but their non-null partner
    // still seeds a singleton label row — the same null semantics as
    // the driver-side union-find (nodes from any non-null endpoint,
    // edges only when both ends are non-null).
    val spark = p.sparkSession
    val edges = CacheScope.checkpoint(spark)(p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    var labels = CacheScope.checkpoint(spark)(p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id")))
      .where(col("id").isNotNull).distinct()
      .withColumn("label", col("id")))
    CacheScope.release(p) // edges + labels carry everything the loop needs
    var iter = 0
    var converged = false
    val roundSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (iter < maxIter && !converged) {
      val t0 = System.nanoTime()
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("nmin"))
      val stepped = labels.select(col("id"), col("label").as("old"))
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("l1"))
      // pointer halving: l1 is a node id, so the previous generation
      // has a label for it — jump straight to it (left join purely
      // defensively; coalesce keeps l1 if the row were ever absent)
      val jumped = stepped
        .join(labels.select(col("id").as("pid"), col("label").as("plabel")),
          col("l1") === col("pid"), "left")
        .select(col("id"), col("old"),
          least(col("l1"), coalesce(col("plabel"), col("l1"))).as("label"))
      val updated = CacheScope.checkpoint(spark)(jumped
        .select(col("id"), col("label"), (col("label") < col("old")).as("__chg")))
      // (null max => empty label table => converged)
      val anyChanged = java.lang.Boolean.TRUE == updated.agg(max(col("__chg"))).head().get(0)
      CacheScope.release(labels) // the superseded generation
      labels = updated
      converged = !anyChanged
      iter += 1
      roundSecs += (System.nanoTime() - t0) / 1e9
    }
    if (!converged) log.warn(
      s"dupClusters: stopped at maxIter=$maxIter before convergence — a cluster's diameter " +
        s"exceeds 2^$maxIter propagation rounds and its labels are split; re-run with a larger maxIter")
    // edges' blocks are dead once the loop exits; the FINAL labels
    // generation backs the returned DataFrame and belongs to the
    // caller's scope.
    CacheScope.release(edges)
    CcRun(labels.select(col("id"), col("label").as("cluster")), iter, converged, roundSecs.toSeq)
  }

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-cluster canonical-document selection by QUALITY — the policy
    * layer [[dupClusters]]' scaladoc promises ("cluster resolution
    * lets policy pick a canonical doc per GROUP"): given cluster
    * members `(clusterCol, idCol, scoreCol)`, return one row per
    * cluster `(cluster_id, n_members, keeper_id, keeper_score)` where
    * the keeper is the member with the HIGHEST score, ties broken to
    * the smallest id. Production near-dup dedup keeps the
    * best-quality member of each duplicate group, not the smallest id
    * — the variants differ (truncation, boilerplate injection, OCR
    * noise) and min-id throws the cleanest copy away whenever it
    * isn't the oldest.
    *
    * One exchange: the argmax is `min(struct(-score, id, score))` — a
    * partial-aggregatable struct min (map-side combine), never a
    * rank window over the member list. NULL and NaN scores always
    * LOSE (both coalesce to -inf before negation — a NaN would
    * otherwise negate to NaN, which Spark's total double order ranks
    * ABOVE +inf, making a garbage score lose even to null — so a
    * real-scored member beats an unscored or NaN-scored one; an
    * all-null cluster keeps its smallest id with a null
    * keeper_score), and the score is negated as DOUBLE so
    * integral score columns cannot hit ANSI unary-minus overflow. The member frame is
    * control-plane-sized in practice (only docs that appear in a
    * verified near-dup pair), but the shape stays one
    * map-side-combined aggregate at ANY size.
    */
  def clusterRepresentatives(
      members: DataFrame,
      clusterCol: String,
      idCol: String,
      scoreCol: String): DataFrame =
    // min(struct(-score, id, score)): highest score wins, ties to the
    // SMALLEST id — negating the score rather than the id keeps every
    // id type [[dupClusters]] supports (string ids from UUID/URL keys
    // would fail unary minus). The negation runs on a DOUBLE copy
    // (integral Long.MinValue would overflow ANSI unary minus) with
    // NULL and NaN coalesced to -inf so unscored/garbage-scored
    // members always lose; the third field carries the ORIGINAL
    // score out untouched.
    members
      .groupBy(col(clusterCol).as("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        min(struct(
          (-when(isnan(col(scoreCol).cast("double")), lit(Double.NegativeInfinity))
            .otherwise(coalesce(col(scoreCol).cast("double"), lit(Double.NegativeInfinity)))).as("negs"),
          col(idCol).as("id"),
          col(scoreCol).as("s"))).as("__best"))
      .select(
        col("cluster_id"),
        col("n_members"),
        col("__best.id").as("keeper_id"),
        col("__best.s").as("keeper_score"))

  // -------------------------------------------------------------- simhash

  /** SimHash near-dup candidate pairs: fingerprint via the custom
    * [[SimHash64]] expression, bucket by 16-bit bands (Hamming-near
    * fingerprints share >= 1 band), verify by exact Hamming distance.
    */
  def simhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 8): DataFrame =
    hammingPairs(
      df.select(
        col(idCol).as("id"),
        SimHash64.simhash64(TextAnalysis.tokens(col(textCol))).as("sig")),
      "id", "sig", maxHamming)

  /** [[dropSeenHamming]] at the TEXT level — the incremental ingest
    * gate for documents: keep only the rows of `df` whose SimHash is
    * NOT within `maxHamming` of any reference document's. The default
    * `maxHamming = 3` stays under the 4-band pigeonhole so the gate is
    * EXACT in fingerprint space (unlike [[simhashPairs]]' default 8,
    * which trades recall for reach — a gate that silently loses
    * recall as the reference grows would be a correctness bug, not a
    * tuning choice). A NULL text yields a NULL signature and the row
    * is KEPT ([[dropSeenHamming]]'s unhashable rule — it cannot be
    * proven seen); an empty text hashes as one empty token, so empty
    * texts DO gate each other. The reference pays one fingerprint
    * scan and its text never shuffles; the BATCH side is evaluated
    * twice per action (once building the seen set, once in the
    * anti-join) — on a static batch whose upstream is expensive,
    * materialize the `(id, text)` projection first.
    */
  def dropSeenSimhash(
      df: DataFrame,
      ref: DataFrame,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    def sig(c: Column) = SimHash64.simhash64(TextAnalysis.tokens(c))
    dropSeenHamming(
      df.withColumn("__sig", sig(col(textCol))),
      ref.select(sig(col(textCol)).as("__sig")),
      "__sig", maxHamming)
      .drop("__sig")
  }

  /** Generic banded Hamming self-join over any 64-bit fingerprint
    * column (SimHash, perceptual image hashes): bucket each signature
    * by `bands` equal bit-slices, candidates share at least one slice
    * verbatim, verify by exact `bit_count(xor)`. Output
    * `(id_a, id_b, hamming)` with `id_a < id_b`,
    * `hamming <= maxHamming`.
    *
    * Pigeonhole: `maxHamming < bands` makes the result EXACT — fewer
    * differing bits than bands forces one band to match bit-for-bit.
    * Above that it is a recall/candidate-volume dial (the default
    * SimHash setting, 8 flips across 4 bands, accepts that trade and
    * documents it at the call site). Bands stay wide (64/bands bits)
    * so bucket values keep high cardinality — narrow bands would turn
    * the bucket join quadratic.
    *
    * SCALE SHAPE: the banded join runs over DISTINCT signatures, not
    * rows — a corpus with huge duplicate classes (many ids sharing one
    * fingerprint, the normal case for a crawl) pays the quadratic
    * candidate cost only in signature space, where each class is ONE
    * node. Id-level pairs are then materialized by two linear
    * membership joins (`sig → ids`), so the only remaining quadratic
    * term is the OUTPUT itself — intrinsic to asking for pairs. When
    * pairs themselves are not needed, [[hammingClusters]] skips that
    * expansion entirely and stays linear in ids.
    *
    * OUTPUT GRAIN with multi-sig ids: every production wrapper feeds
    * one sig per id (a hash function emits one fingerprint per
    * payload) and then each unordered pair appears EXACTLY ONCE. If
    * an id carries SEVERAL distinct sigs, the pair list is at
    * (id_a, id_b, connecting-relation) grain — the same id pair can
    * appear once per qualifying sig edge, at that edge's distance
    * (e.g. once at Hamming 0 through a shared sig and once at
    * Hamming h through a near one). `min(hamming)` over the rows is
    * the true minimum cross-sig distance; [[dupClusters]] consumes
    * duplicate edges unchanged (union-find is idempotent), so
    * clustering downstream never needs the dedupe and the common
    * case never pays a pair-grain aggregate for it. Callers that
    * need strict (id_a, id_b) grain from a multi-sig input aggregate
    * the result themselves: `groupBy(id_a, id_b).agg(min(hamming))`.
    */
  def hammingPairs(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      bands: Int = 4): DataFrame = {
    // ONE persisted (id, sig) member table: five plan branches consume
    // it (banding, the two cross-expansion joins, both intra sides),
    // and the upstream is typically an EXPENSIVE decode/hash pass
    // (measured r19: q95's WAV-synthesis + Welch FFT executed twice at
    // ~70 s of task time each — the persist halves the query). 16-ish
    // bytes per id.
    val members = CacheScope.persist(memberTable(df, idCol, sigCol))
    val sigEdges = sigHammingEdges(members, maxHamming, bands)
    // Cross-signature pairs: expand each near-sig edge to its member
    // cross product. Edges have sig_a < sig_b, so each unordered id
    // pair appears once per edge; least/greatest restores id order.
    // The self-pair filter only matters if one id carries BOTH sigs.
    val cross = sigEdges
      .join(members.toDF("id_x", "sig_a"), "sig_a")
      .join(members.toDF("id_y", "sig_b"), "sig_b")
      .filter(col("id_x") =!= col("id_y"))
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        col("hamming"))
    // Identical-signature pairs (Hamming 0): a shuffle join on sig —
    // linear in members — expanding each duplicate class to its pairs.
    val intra = members.toDF("id_a", "sig")
      .join(members.toDF("id_b", "sig"), "sig")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(lit(0L)).as("hamming")) // typed like the cross branch
    cross.unionByName(intra).select("id_a", "id_b", "hamming")
  }

  /** Distinct `(id, sig)` members with null ids/sigs dropped — a null
    * on either side never pairs (matching the pre-distinct form, where
    * null band keys fell out of the join and null ids failed
    * `id_a < id_b`).
    */
  private def memberTable(df: DataFrame, idCol: String, sigCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .where(col("id").isNotNull && col("sig").isNotNull)
      .distinct()

  /** Near-signature edges `(sig_a, sig_b, hamming)` with
    * `sig_a < sig_b`, `hamming <= maxHamming`, over the DISTINCT
    * signatures of `members` — the signature-space half of
    * [[hammingPairs]] / [[hammingClusters]].
    */
  private def sigHammingEdges(members: DataFrame, maxHamming: Int, bands: Int): DataFrame = {
    val banded = bandedSigs(members.select("sig"), bands)
    banded.toDF("sig_a", "band", "h")
      .join(banded.toDF("sig_b", "band", "h"), Seq("band", "h"))
      .filter(col("sig_a") < col("sig_b"))
      .select("sig_a", "sig_b")
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** One `(sig, band, h)` row per equal bit-slice of each DISTINCT
    * non-null signature — the bucketing half every banded Hamming
    * join shares, so the self-join and the cross-corpus join can
    * never slice differently.
    */
  private[graft] def bandedSigs(sigs: DataFrame, bands: Int): DataFrame =
    sigs.toDF("sig").where(col("sig").isNotNull).distinct().select(
      col("sig"), hammingBandKeys(col("sig"), bands).as("bk"))
      .select(col("sig"), col("bk.band"), col("bk.h"))

  /** The exploded `(band, h)` slice keys of one 64-bit signature
    * column — the ONE slicing definition behind [[bandedSigs]] AND
    * every streaming Hamming gate (review r18: the streams carried
    * three hand-copies of this explode; a drift in any copy would
    * silently break the stream-vs-batch parity their scaladocs pin).
    */
  private[graft] def hammingBandKeys(sig: Column, bands: Int): Column = {
    require(bands >= 1 && 64 % bands == 0, s"bands=$bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"), shiftright(sig, b * width).bitwiseAND(lit(mask)).as("h"))
    }: _*))
  }

  /** Near-signature edges BETWEEN two signature sets:
    * `(sig_a from left, sig_b from right, hamming <= maxHamming)`,
    * equal signatures included (hamming 0). Both sides band over
    * their DISTINCT signatures, so the candidate join cost is
    * collision-bound in signature space regardless of how many rows
    * share a fingerprint on either side.
    */
  private def sigHammingEdgesAgainst(
      leftSigs: DataFrame,
      rightSigs: DataFrame,
      maxHamming: Int,
      bands: Int): DataFrame =
    bandedSigs(leftSigs, bands).toDF("sig_a", "band", "h")
      .join(bandedSigs(rightSigs, bands).toDF("sig_b", "band", "h"), Seq("band", "h"))
      .select("sig_a", "sig_b")
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)

  /** [[hammingPairs]] ACROSS two corpora — the INCREMENTAL dedup
    * primitive: `left` is the new batch, `right` the reference index
    * already ingested, output `(id_a from left, id_b from right,
    * hamming)` for every cross pair within `maxHamming`. The id
    * spaces are independent (id_a = id_b is a legitimate cross match,
    * not a self pair) and equal signatures match at hamming 0. Same
    * pigeonhole exactness (`maxHamming < bands`) and same
    * distinct-signature scale shape as the self-join: a daily crawl
    * re-checking against a year of history pays banding on TWO
    * signature vocabularies plus the (intrinsic) output, never
    * batch x history row pairs. Multi-sig grain as in
    * [[hammingPairs]]: one row per connecting sig edge.
    */
  def hammingPairsAgainst(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      bands: Int = 4): DataFrame = {
    // Both member tables feed two branches each (banding + the id
    // expansion join) over typically expensive decode/hash upstreams —
    // same persist rationale as hammingPairs.
    val mL = CacheScope.persist(memberTable(left, idCol, sigCol))
    val mR = CacheScope.persist(memberTable(right, idCol, sigCol))
    sigHammingEdgesAgainst(mL.select("sig"), mR.select("sig"), maxHamming, bands)
      .join(mL.toDF("id_a", "sig_a"), "sig_a")
      .join(mR.toDF("id_b", "sig_b"), "sig_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Keep only the rows of `df` whose signature is NOT within
    * `maxHamming` of ANY reference signature — the linear-output form
    * of [[hammingPairsAgainst]] for the ingest gate that doesn't need
    * to know WHICH reference row matched. One banded signature-space
    * join builds the "seen" signature set; the batch then anti-joins
    * it (output linear in the batch, no id-grain pair ever exists).
    * Rows with a NULL signature are KEPT: an unhashable payload
    * cannot be proven seen, and silently dropping it would lose data
    * — gate them explicitly upstream if that is the policy.
    */
  def dropSeenHamming(
      df: DataFrame,
      ref: DataFrame,
      sigCol: String,
      maxHamming: Int,
      bands: Int = 4): DataFrame = {
    val seen = sigHammingEdgesAgainst(
      df.select(col(sigCol)), ref.select(col(sigCol)), maxHamming, bands)
      .select(col("sig_a").as("__seen_sig"))
      .distinct()
    df.join(seen, col(sigCol) === col("__seen_sig"), "left_anti")
  }

  /** `(sig, comp)` component labels over the DISTINCT values of
    * `sigCol` under the banded `Hamming <= maxHamming` edge relation
    * — the raw signature-space half of [[hammingClusters]] for
    * callers whose keys ARE the signatures (e.g. frame-hash
    * vocabularies) and who would otherwise pay the id-grain
    * member/collapse exchanges for nothing. Only signatures that
    * participate in at least one edge appear; singletons are their
    * own component — callers `coalesce(comp, sig)` after a left
    * join. The result is EAGER (the CC runs as bounded jobs) and,
    * below `collectThreshold` edges, a LOCAL relation — downstream
    * joins against it broadcast for free.
    */
  private[graft] def sigComponents(
      df: DataFrame,
      sigCol: String,
      maxHamming: Int,
      bands: Int = 4,
      maxIter: Int = 20,
      collectThreshold: Long = 10000000L): DataFrame = {
    val sigs = df.select(col(sigCol).as("sig")).where(col("sig").isNotNull)
    val edges = sigHammingEdges(sigs, maxHamming, bands)
    dupClusters(
      edges.select(col("sig_a").as("id_a"), col("sig_b").as("id_b")),
      maxIter, collectThreshold)
      .select(col("id").as("sig"), col("cluster").as("comp"))
  }

  /** Hamming near-duplicate CLUSTERS without materializing pairs:
    * ONE `(id, cluster)` row for EVERY input id that carries at least
    * one NON-NULL sig (singletons label themselves). Ids whose every
    * sig is NULL are ABSENT — deliberately, matching the pair path
    * and the media wrappers' "every decodable payload" contract: an
    * unhashable id can be proven neither duplicate nor unique in hash
    * space, so a keep-one-per-cluster policy must union such ids back
    * explicitly rather than have this function guess a label for
    * them. `cluster` is the smallest id in the id's
    * connected component under the "Hamming(sig_a, sig_b) <=
    * maxHamming" edge relation — exactly the labels
    * `dupClusters(hammingPairs(df, ...))` would assign (pinned by
    * DedupSpec, INCLUDING ids that carry several sigs: such an id
    * bridges its sigs' components here just as it does in the pair
    * path), plus the singleton rows pair-based clustering cannot
    * see.
    *
    * This is the 100 TB dedup shape: [[hammingPairs]]' output is
    * quadratic in duplicate-class size (a 10 k-copy boilerplate class
    * is 50 M pairs), but dedup only needs the PARTITION, which is
    * linear. Connected components run in SIGNATURE space (each
    * duplicate class is one node), labels map back to ids by one
    * membership join, and the id-space cluster label (min member id)
    * comes from one more map-side-combined aggregate — no id-level
    * pair is ever materialized. Feed the result straight to
    * [[clusterRepresentatives]] for keep-best resolution.
    *
    * The `(id, sig)` members persist: they feed FOUR plan branches
    * (signature distinct, anchor aggregate, bridge join, membership
    * join) and typically sit behind an expensive upstream (media
    * decode, tokenization) that would otherwise re-execute once per
    * branch. 16-ish bytes per id; the eager signature-space CC
    * materializes it as its first job.
    */
  def hammingClusters(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      bands: Int = 4,
      maxIter: Int = 20,
      collectThreshold: Long = 10000000L): DataFrame = {
    val members = CacheScope.persist(memberTable(df, idCol, sigCol))
    val sigEdges = sigHammingEdges(members, maxHamming, bands)
    // An id carrying SEVERAL sigs bridges their components exactly as
    // it does in the pair-based path (hammingPairs pairs it with both
    // sides, so union-find merges them through it). Reproduce that
    // bridge IN SIGNATURE SPACE: per multi-sig id, star edges from
    // its minimum sig to each other sig — linear in members (one
    // map-side-combined min per id + one join), empty for the normal
    // one-sig-per-id corpus, and transitive closure falls out of the
    // CC itself (id1 spanning c1/c2 and id2 spanning c2/c3 chain into
    // one component).
    val anchors = members.groupBy("id").agg(min(col("sig")).as("anchor"))
    val idEdges = members.join(anchors, "id")
      .filter(col("sig") =!= col("anchor"))
      .select(col("anchor").as("sig_a"), col("sig").as("sig_b"))
    val sigLabels = dupClusters(
      sigEdges.select(col("sig_a").as("id_a"), col("sig_b").as("id_b"))
        .unionByName(idEdges.select(col("sig_a").as("id_a"), col("sig_b").as("id_b"))),
      maxIter, collectThreshold)
    // Singleton signatures never reach dupClusters (it only sees edge
    // endpoints); they label themselves via the coalesce.
    val labeled = members
      .join(sigLabels.toDF("sig", "sig_cluster"), Seq("sig"), "left")
      .select(col("id"), coalesce(col("sig_cluster"), col("sig")).as("__sc"))
    // One row per id even when it carried several sigs: the star
    // edges above put all of an id's sigs in ONE component, so the
    // per-id min collapses duplicate (id, __sc) rows without ever
    // choosing between labels — they are already equal.
    val perId = labeled.groupBy("id").agg(min(col("__sc")).as("__sc"))
    val reps = perId.groupBy("__sc").agg(min(col("id")).as("cluster"))
    perId.join(reps, "__sc").select("id", "cluster")
  }

  // ---------------------------------------------------- embedding cosine

  /** Embedding-cosine near-duplicates — delegates to the similarity
    * module's derived-geometry pair miner (random-hyperplane bands +
    * Hamming prune + exact cosine verification), so the dedup facade
    * and the similarity module share one code path. Pass `dim` when
    * the embedding dimension is known (it usually is) to keep
    * DataFrame construction a pure lazy transform; `dim = 0` falls
    * back to [[graft.similarity.Similarity.nearDupPairsAuto]]'s
    * one-row probe. Pass `corpusSize` (and a `budgetPolicy`) to get
    * the candidate-budget check enforced at plan time — see the
    * delegate's scaladoc.
    */
  def embeddingNearDupPairs(
      df: org.apache.spark.sql.DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      targetRecall: Double = 0.95,
      numPlanes: Int = 64,
      seed: Long = 42L,
      dim: Int = 0,
      corpusSize: Long = 0L,
      candidateBudget: Long = 100000000L,
      budgetPolicy: graft.similarity.BudgetPolicy =
        graft.similarity.BudgetPolicy.WarnOnly): org.apache.spark.sql.DataFrame =
    graft.similarity.Similarity.nearDupPairsAuto(
      df, vecCol, idCol, threshold, targetRecall, numPlanes, seed, dim,
      corpusSize = corpusSize, candidateBudget = candidateBudget,
      budgetPolicy = budgetPolicy)

  // ------------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard pairs above `threshold`: explode distinct
    * shingles, self-join on shingle, count shared, Jaccard =
    * shared / (|A| + |B| - shared). At 100 TB run this only on LSH
    * candidates; the full self-join form is the small-scale oracle —
    * and as the oracle it stays unpersisted, so the shingle explode
    * re-runs per plan branch (sizes + both join sides); the
    * production path ([[verifyCandidates]]) persists its shingle
    * table instead.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // Join on the 64-bit shingle hash, not the string: the shuffle
    // moves 8-byte keys instead of n-word strings (collision odds at
    // ~2^-64 per pair are far below any practical corpus size). The
    // hashes come straight off the byte-level ShingleHashes pass.
    val sh = df
      .select(col(idCol).as("id"), explode(ShingleHashes.shingleHashes(col(textCol), n)).as("g"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val a = sh.toDF("id_a", "g")
    val b = sh.toDF("id_b", "g")
    val shared = a.join(b, "g").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.toDF("id_a", "na"), "id_a")
      .join(sizes.toDF("id_b", "nb"), "id_b")
      .withColumn("jaccard", col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The 100 TB n-gram Jaccard path: exact verification restricted to
    * LSH candidate pairs. Candidate generation is the banded MinHash
    * self-join (work ~ colliding pairs); verification joins each
    * candidate to its two distinct-shingle-hash sets and computes the
    * EXACT Jaccard — identical arithmetic to [[ngramJaccardPairs]]
    * (|intersect| / (|a| + |b| - |intersect|) over the same distinct
    * sets), so on any corpus where the bands reach the target recall
    * the two results are equal row for row (pinned by DedupSpec).
    *
    * Default banding (32 hashes = 16 bands x 2 rows) holds candidate
    * recall >= 99% down to Jaccard 0.5 (1 - (1 - 0.5^2)^16), the usual
    * near-dup threshold; [[ngramJaccardPairs]]'s full self-join recall
    * is 100% by construction but costs O(sum over shingle-buckets^2)
    * and exists as the small-scale oracle.
    *
    * The shingle-hash table is computed ONCE and persisted
    * (MEMORY_AND_DISK): three branches consume it — the signature
    * pass and both sides of the verification join — and without the
    * persist each branch would re-run the full-corpus byte-level
    * shingling. It and the banding pass's class/member maps live as
    * long as the enclosing [[graft.core.CacheScope]].
    */
  def verifyCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    // tiny-bytes / heavy-CPU shingling: see spreadIfNarrow (identity at scale)
    val gs = CacheScope.persist(graft.core.Parallelism.spreadIfNarrow(df)
      .select(col(idCol).as("id"), ShingleHashes.shingleHashes(col(textCol), n).as("gs")))
    // Shingle-less docs (< n tokens) never reach a positive Jaccard
    // threshold, so they leave the candidate stage entirely. This is
    // not just a skip: their MinHash signature is the all-sentinel
    // vector, so EVERY such doc would collide with every other in
    // every band (a quadratic candidate class of provable
    // non-matches) and the exact verify would then divide 0 by 0.
    val sig = gs.filter(size(col("gs")) > 0)
      .select(col("id"), MinHashSig.minhashSig(col("gs"), numHashes, seed).as("sig"))
    verifyJaccard(candidatePairsFromSig(sig, numHashes, bands).select("id_a", "id_b"), gs, gs, threshold)
  }

  /** Exact-Jaccard verification of a candidate `(id_a, id_b)` stream
    * against two (persisted) `(id, gs)` shingle-hash tables — ONE
    * definition so the self-join and cross-corpus paths can never
    * diverge arithmetically (decontamination relies on the cross form
    * matching the dedup form row for row; DedupSpec pins the parity).
    * shuffle_hash on both lookups: the candidate stream must stay
    * streaming — sort-merge would sort candidate rows that carry a
    * whole shingle-hash ARRAY after the first join (same
    * payload-through-sort hazard as the vector verify join in
    * graft.similarity.Similarity, where it was measured at ~60 GB of
    * spill at 30x scale).
    */
  private def verifyJaccard(
      cand: DataFrame, gsA: DataFrame, gsB: DataFrame, threshold: Double): DataFrame =
    cand
      .join(gsA.toDF("id_a", "gs_a").hint("shuffle_hash"), "id_a")
      .join(gsB.toDF("id_b", "gs_b").hint("shuffle_hash"), "id_b")
      .withColumn("shared", size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .withColumn(
        "jaccard",
        col("shared").cast("double") / (size(col("gs_a")) + size(col("gs_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Per-id LSH band keys `(id, band, h)` — the bucket join key a
    * banded MinHash collision lives in. Shared by the self-join
    * candidate path and the CROSS-corpus path below.
    */
  private def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sig.select(
      col("id"),
      explode(bandStructs(col("sig"), numHashes, bands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.h").as("h"))

  /** [[verifyCandidates]] ACROSS two corpora: verified n-gram-Jaccard
    * pairs `(id_a from left, id_b from right, jaccard)` — the fuzzy
    * analogue of benchmark decontamination (left = training corpus,
    * right = evaluation set), where exact n-gram overlap misses
    * paraphrased or lightly-edited contamination but MinHash banding
    * still buckets it. Never all-pairs: candidates come from the
    * band-key equi-join between the two signature tables (work ~
    * cross-corpus collisions only), then each candidate verifies
    * EXACTLY against both shingle-hash sets — same arithmetic, same
    * banding-recall argument as the self-join path.
    *
    * Both shingle tables persist for the enclosing
    * [[graft.core.CacheScope]] (each feeds its signature pass and its
    * verification branch). Candidate volume note: when `right` is a
    * benchmark (control-plane-sized), the band join is corpus x
    * bench — collisions are bounded by bench bucket occupancy, so the
    * verify stage is output-bound the way decontamination overlap is.
    */
  def crossVerifyCandidates(
      left: DataFrame,
      right: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    def shingles(df: DataFrame) = CacheScope.persist(
      df.select(col(idCol).as("id"), ShingleHashes.shingleHashes(col(textCol), n).as("gs")))
    val gsL = shingles(left)
    val gsR = shingles(right)
    // same shingle-less exclusion as the self-join path: an empty
    // shingle set cannot match at threshold > 0, and its all-sentinel
    // signature would otherwise collide with every other empty doc's
    // in every band and 0/0 at verification
    def sigOf(gs: DataFrame) = gs.filter(size(col("gs")) > 0)
      .select(col("id"), MinHashSig.minhashSig(col("gs"), numHashes, seed).as("sig"))
    val cand = bandKeys(sigOf(gsL), numHashes, bands).toDF("id_a", "band", "h")
      .join(bandKeys(sigOf(gsR), numHashes, bands).toDF("id_b", "band", "h"), Seq("band", "h"))
      .select("id_a", "id_b")
      .distinct()
    verifyJaccard(cand, gsL, gsR, threshold)
  }

  /** The n-gram-JACCARD ingest gate — keep only the rows of `df`
    * whose text is NOT within exact Jaccard >= `threshold` of any
    * reference document ([[crossVerifyCandidates]] finds
    * the seen ids; one anti join removes them). Completes the
    * dropSeen family: [[dropSeenSimhash]] gates on weighted-token
    * fingerprints (cheap, Hamming-exact), this one on SET OVERLAP of
    * word n-grams (robust to reordering beyond SimHash's reach,
    * pays the shingle explode), [[dropSeenHamming]] on any 64-bit
    * media hash, [[graft.similarity.Similarity.dropSeenEmbedding]]
    * on meaning.
    *
    * EXACTNESS: every gating decision is verified by the exact
    * Jaccard over distinct shingle-hash sets, so a gated row is
    * ALWAYS truly seen (perfect precision); recall is the MinHash
    * banding's — at the default 16 bands x 2 rows a 0.8-Jaccard pair
    * escapes with probability (1 - 0.8^2)^16 ~ 8e-8, vanishing as
    * similarity rises toward the exact-duplicate case a gate exists
    * for. Rows whose text yields NO shingles (< n tokens, empty,
    * null) are KEPT — same null rule as every dropSeen member: an
    * unhashable row cannot be proven seen (their all-sentinel
    * signatures do collide in candidate space, but 0-over-0 Jaccard
    * is NaN, which never passes the threshold).
    */
  def dropSeenJaccard(
      df: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    val seen = crossVerifyCandidates(df, ref, textCol, idCol, n, threshold, numHashes, bands, seed)
      .select(col("id_a").as("__seen_id")).distinct()
    df.join(seen, col(idCol) === col("__seen_id"), "left_anti")
  }
}
