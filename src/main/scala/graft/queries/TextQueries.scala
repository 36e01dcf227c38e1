package graft.queries

import graft.dedup.Dedup
import graft.sources.Sources
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + dedup pack over the `documents` fixture. Oracle
  * where SQL-reproducible (token stats, exact dedup groups, quality
  * score, n-gram Jaccard pairs, the minhash PAIR SET, and the full
  * 4-stage curation pipeline); hash-VALUED outputs (simhash distances,
  * fingerprints, minhash estimates) stay rows-only — their semantics
  * are pinned by unit tests instead.
  */
object TextQueries {

  /** Token counting (whitespace + n_chars cross-check). */
  def q20TokenStats(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("len_chars"),
        col("n_chars"))
      .orderBy("doc_id")

  val q20Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(length(text) AS INT) AS len_chars,
      |  n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Exact-dedup groups keyed by md5 of the text (md5 is identical in
    * both engines; the engine's own path uses xxhash64 — same
    * semantics, pinned by unit test).
    */
  def q21ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))
      .orderBy("fp")

  val q21Sql: String =
    """SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS canonical_id
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY fp""".stripMargin

  /** Quality scoring: identical double formula on both engines
    * (length band x (1 - stopword ratio) x token-length band).
    */
  def q22QualityScore(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("__toks")).as("n_tokens"),
        TextAnalysis.stopwordCountOfTokens(col("__toks")).as("n_stop"),
        TextAnalysis.qualityScoreOfTokens(col("__toks"), col("text")).as("quality"))
      .orderBy("doc_id")

  val q22Sql: String = {
    val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stops))) AS DOUBLE) AS n_stop
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(n_tokens AS INT) AS n_tokens,
       |  CAST(n_stop AS INT) AS n_stop,
       |  least(n_tokens / 50.0, 1.0) * (1.0 - n_stop / n_tokens) *
       |    (CASE WHEN (CAST(length(text) AS DOUBLE) - (n_tokens - 1)) / n_tokens BETWEEN 3.0 AND 10.0
       |          THEN 1.0 ELSE 0.5 END) AS quality
       |FROM t
       |ORDER BY doc_id""".stripMargin
  }

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.5 — the fixture
    * separates real near-dups at ~0.99 from background at <0.3, so the
    * threshold is boundary-safe) via the scale path: LSH candidates ->
    * exact verification ([[Dedup.verifyCandidates]]). Candidate recall
    * at the 16x2 banding is >= 99% at Jaccard 0.5 and ~1 at the
    * fixture's ~0.99 near-dups, so the result is identical to the full
    * self-join ([[Dedup.ngramJaccardPairs]], pinned by DedupSpec) and
    * stays hash-exact against the DuckDB trigram oracle.
    */
  def q23NgramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.verifyCandidates(Sources.documents(spark, dir), "text", "doc_id", n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")

  val q23Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |         generate_subscripts(string_split(text,' '),1) AS i
      |  FROM documents
      |), ng AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM toks a JOIN toks b ON a.doc_id=b.doc_id AND b.i=a.i+1
      |              JOIN toks c ON a.doc_id=c.doc_id AND c.i=a.i+2
      |), sizes AS (SELECT doc_id, count(*) n FROM ng GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM ng a JOIN ng b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b, c*1.0/(sa.n + sb.n - c) AS jaccard
      |FROM shared
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE c*1.0/(sa.n + sb.n - c) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Per-language corpus stats (declared lang column). */
  def q24LangStats(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy("lang", "source")

  val q24Sql: String =
    """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------- rows-only

  /** Heuristic language ID + fingerprints (hash-based -> rows-only). */
  def q25LangIdFingerprint(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      // both fingerprints share ONE materialized normalization and
      // langId reads a materialized token array — the text-based
      // forms would re-run the normalization regex per winnow shingle
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .withColumn("__norm", TextAnalysis.normalized(col("text")))
      .select(
        col("doc_id"),
        col("lang").as("declared_lang"),
        TextAnalysis.langIdOfTokens(col("__toks")).as("detected_lang"),
        xxhash64(col("__norm")).as("fp64"),
        TextAnalysis.winnowFingerprintOfNorm(col("__norm")).as("winnow_fp"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
      .orderBy("doc_id")

  /** Deterministic slice of q25, fully oracled: the language-ID vote
    * and both token counts are pure column arithmetic DuckDB
    * reproduces exactly (stopword-hit argmax with lexicographic
    * tie-break; whitespace and word-piece-regex counts) — only the
    * hash-valued fingerprints are engine-specific, and they stay in
    * q25 (rows-only, contract-pinned by RowsOnlyContractSpec).
    */
  def q25aLangIdTokens(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(
        col("doc_id"),
        col("lang").as("declared_lang"),
        TextAnalysis.langIdOfTokens(col("__toks")).as("detected_lang"),
        size(col("__toks")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
      .orderBy("doc_id")

  val q25aSql: String = {
    def stops(lang: String) =
      TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
    // the CASE order (de, en, es, fr, zh) IS the tie-break: Spark's
    // array_min over (neg hits, lang) structs resolves ties to the
    // lexicographically smallest language code
    s"""WITH h AS (
       |  SELECT doc_id, lang, text,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    len(list_filter(string_split(text, ' '), x -> x IN (${stops("de")}))) AS h_de,
       |    len(list_filter(string_split(text, ' '), x -> x IN (${stops("en")}))) AS h_en,
       |    len(list_filter(string_split(text, ' '), x -> x IN (${stops("es")}))) AS h_es,
       |    len(list_filter(string_split(text, ' '), x -> x IN (${stops("fr")}))) AS h_fr,
       |    len(list_filter(string_split(text, ' '), x -> x IN (${stops("zh")}))) AS h_zh
       |  FROM documents
       |)
       |SELECT doc_id, lang AS declared_lang,
       |  CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
       |       WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
       |       WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
       |       WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
       |       WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
       |       ELSE 'zh' END AS detected_lang,
       |  CAST(n_tokens AS INT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w \\t\\n\\x0B\\f\\r]')) AS INT) AS n_bpeish
       |FROM h
       |ORDER BY doc_id""".stripMargin
  }

  /** MinHash LSH near-dup pairs (est. Jaccard >= 0.5), projected to
    * the (id_a, id_b) pair set so it oracle-checks against the EXACT
    * trigram-Jaccard pair set: on this fixture (near-dups at >= 0.8 vs
    * background <= 0.14) the minhash estimate classifies every pair
    * the same way the exact computation does, which is precisely the
    * claim a minhash dedup stage makes. Banding is 16 bands x 2 rows:
    * candidate-miss odds for a Jaccard-0.8 pair are (1-0.8^2)^16 ~
    * 8e-8, vs 1.5% at the 8x4 default — the sf0.1 corpus actually has
    * such a pair, so the wide banding is what keeps the pair set
    * exactly equal at 10x scale too. The estimate itself is pinned by
    * DedupSpec (not hashable: it depends on the signature hashes).
    */
  def q26MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(Sources.documents(spark, dir), "text", "doc_id", bands = 16)
      .filter(col("est_jaccard") >= 0.5)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")

  val q26Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |         generate_subscripts(string_split(text,' '),1) AS i
      |  FROM documents
      |), ng AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM toks a JOIN toks b ON a.doc_id=b.doc_id AND b.i=a.i+1
      |              JOIN toks c ON a.doc_id=c.doc_id AND c.i=a.i+2
      |), sizes AS (SELECT doc_id, count(*) n FROM ng GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM ng a JOIN ng b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b
      |FROM shared
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE c*1.0/(sa.n + sb.n - c) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-dup pairs (Hamming <= 8) via the custom expression. */
  def q27SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Sources.documents(spark, dir), "text", "doc_id")
      .orderBy("id_a", "id_b")

  /** q99: the text INGEST GATE — a new batch of documents
    * (doc_id % 3 == 0) admitted against the already-ingested
    * reference corpus (doc_id % 3 != 0) by SimHash at Hamming <= 3
    * ([[graft.dedup.Dedup.dropSeenSimhash]] → the banded
    * cross-corpus signature join of [[graft.dedup.Dedup
    * .dropSeenHamming]]). Output: the surviving batch doc_ids —
    * LINEAR in the batch; no pair list, and reference text never
    * shuffles. Rows-only: SimHash is a custom weighted fingerprint
    * DuckDB cannot reproduce; the contract (kept set equals the
    * brute-force cross-Hamming recomputation, planted exact
    * duplicate is gated out) is pinned in RowsOnlyContractSpec /
    * DedupSpec.
    */
  def q99NovelDocsGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    Dedup.dropSeenSimhash(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 =!= 0),
      "text", maxHamming = 3)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** q101: q99's SET-OVERLAP sibling — the same batch-vs-reference
    * split gated on exact trigram Jaccard >= 0.8
    * ([[graft.dedup.Dedup.dropSeenJaccard]]: cross-corpus MinHash
    * banding finds candidates, exact Jaccard over distinct
    * shingle-hash sets verifies every gating decision). ORACLE-EXACT,
    * not rows-only, on q26/q36's fixture argument: the verify stage
    * is the same arithmetic DuckDB runs over the same distinct
    * trigram sets, and at 16 bands x 2 rows a 0.8-Jaccard candidate
    * escapes banding with probability ~8e-8 — so the kept set equals
    * the exact SQL recomputation row for row.
    */
  def q101JaccardGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    Dedup.dropSeenJaccard(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 =!= 0),
      "text", "doc_id", n = 3, threshold = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  val q101Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |         generate_subscripts(string_split(text,' '),1) AS i
      |  FROM documents
      |), ng AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM toks a JOIN toks b ON a.doc_id=b.doc_id AND b.i=a.i+1
      |              JOIN toks c ON a.doc_id=c.doc_id AND c.i=a.i+2
      |), sizes AS (SELECT doc_id, count(*) n FROM ng GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM ng a JOIN ng b ON a.g = b.g
      |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 != 0
      |  GROUP BY 1, 2
      |), seen AS (
      |  SELECT DISTINCT id_a
      |  FROM shared
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE c*1.0/(sa.n + sb.n - c) >= 0.8
      |)
      |SELECT doc_id FROM documents
      |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT id_a FROM seen)
      |ORDER BY doc_id""".stripMargin

  /** q103: the DURABLE ingest lifecycle — q99's gate made stateful
    * across RUNS via [[graft.dedup.SeenIndex]]: epoch 1 ingests the
    * reference corpus (doc_id % 3 != 0) into a fresh on-disk
    * signature index, epoch 2 gates the batch (doc_id % 3 == 0)
    * against everything epoch 1 admitted and appends its own
    * survivors. Output: epoch 2's admitted doc_ids — by construction
    * EXACTLY q99's kept set (same SimHash gate, same pigeonhole
    * bound), which RowsOnlyContractSpec pins, plus the epoch
    * semantics (a third epoch re-ingesting epoch 2's survivors gates
    * to zero — SeenIndexSpec). Each invocation uses its own temp
    * index dir, so the query is deterministic and re-runnable.
    */
  def q103IngestEpochs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val path = graft.core.TempDirs.create("q103_seen_index_")
    // epoch 1 seeds the index (the append runs inside the call);
    // its admitted frame is not this query's output
    val family = graft.dedup.SeenIndex.Simhash("text")
    graft.core.CacheScope.run[Unit](spark)(
      graft.dedup.SeenIndex.gateAndUpdate(docs.filter(col("doc_id") % 3 =!= 0), family, path))
    // checkpointed: never recomputes, safe to return from the query
    graft.dedup.SeenIndex.gateAndUpdate(docs.filter(col("doc_id") % 3 === 0), family, path)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** q106: the RETENTION-WINDOW ingest lifecycle — the re-crawl
    * pipeline shape ("re-admit content not seen in the last N days")
    * that [[graft.dedup.SeenIndex.Window]] exists
    * for, run as three epochs of the SAME corpus slice against one
    * windowed index: epoch 1 bootstraps (empty history admits every
    * doc), epoch 10 gates against a window starting at 5 — every
    * epoch-1 admission has AGED OUT, so the full slice is re-admitted
    * and re-tagged at 10 — and epoch 11 (window from 6) finds the
    * epoch-10 re-admissions live again and gates to ZERO (re-admission
    * reset the clock). Output: every (doc_id, epoch) admission —
    * which, precisely BECAUSE the window semantics hold, is the slice
    * crossed with epochs {1, 10} and nothing from 11. That makes the
    * whole lifecycle DuckDB-expressible (the oracle computes the
    * cross product from first principles): an expiry bug would admit
    * nothing at epoch 10, a clock-reset bug would admit rows at 11,
    * and either breaks the hash match. The gate itself compares only
    * against HISTORY, so within-slice near-duplicates don't perturb
    * the bootstrap (same rule as q103).
    */
  def q106WindowGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir).filter(col("doc_id") % 3 === 1)
    val path = graft.core.TempDirs.create("q106_window_index_")
    // sequential epochs: each gate's append lands inside the call
    // (eager localCheckpoint), so the next epoch sees it; results are
    // checkpointed — never recompute — and safe to return from the query
    def epoch(e: Long, minEpoch: Long): DataFrame =
      graft.dedup.SeenIndex.gateAndUpdate(docs, graft.dedup.SeenIndex.Simhash("text"), path,
        Some(graft.dedup.SeenIndex.Window(e, minEpoch)))
        .select(col("doc_id"), lit(e).as("epoch"))
    val admitted = Seq(epoch(1L, 0L), epoch(10L, 5L), epoch(11L, 6L))
    admitted.reduce(_ unionAll _).orderBy("epoch", "doc_id")
  }

  val q106Sql: String =
    """SELECT doc_id, epoch
      |FROM documents
      |CROSS JOIN (SELECT CAST(1 AS BIGINT) AS epoch UNION ALL SELECT 10) epochs
      |WHERE doc_id % 3 = 1
      |ORDER BY epoch, doc_id""".stripMargin

  /** q107: the WINDOWED EXACTLY-ONCE ingest lifecycle — q106's
    * retention semantics COMPOSED with q103's durable-index shape
    * under the exactly-once ledger
    * ([[graft.dedup.SeenIndex.exactlyOnceEpoch]] with a window): three
    * ledgered batches of the SAME corpus slice with an advancing
    * admission clock. Batch 1 (@t=100) bootstraps; batch 2 (@t=150,
    * window from 70) finds every admission live and gates to ZERO;
    * batch 3 (@t=300, window from 220) finds every admission aged out
    * and re-admits the full slice. Output: every (doc_id, epoch)
    * admission read back from the epoch-partitioned exactly-once
    * output directory — the slice crossed with epochs {1, 3} and
    * nothing at 2, DuckDB-expressible from first principles exactly
    * like q106. An expiry bug admits nothing at 3, a clock-reset or
    * ledger bug admits rows at 2 (or duplicates a partition), and any
    * of those breaks the hash match. Crash-replay idempotence of the
    * same protocol is pinned separately by SeenIndexSpec's kill
    * schedules.
    */
  def q107WindowExactlyOnce(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2 && col("text").isNotNull)
      .select("doc_id", "text")
    val path = graft.core.TempDirs.create("q107_weo_index_")
    val outp = graft.core.TempDirs.create("q107_weo_out_")
    Seq(("b1", 100L, 0L), ("b2", 150L, 70L), ("b3", 300L, 220L)).foreach {
      case (key, at, min) =>
        graft.dedup.SeenIndex.exactlyOnceEpoch(
          docs, graft.dedup.SeenIndex.Simhash("text"), key, path, outp, window = Some((at, min)))
    }
    spark.read.parquet(outp)
      .select(col("doc_id"), col("epoch").cast("long").as("epoch"))
      .orderBy("epoch", "doc_id")
  }

  val q107Sql: String =
    """SELECT doc_id, epoch
      |FROM documents
      |CROSS JOIN (SELECT CAST(1 AS BIGINT) AS epoch UNION ALL SELECT 3) epochs
      |WHERE doc_id % 3 = 2 AND text IS NOT NULL
      |ORDER BY epoch, doc_id""".stripMargin

  /** The full curation pipeline (annotate -> exact dedup -> near
    * dedup -> quality gate), oracle-checked hash-exact end to end:
    * the DuckDB mirror re-derives every stage from first principles —
    * exact dedup by the normalized TEXT (the engine's xxhash64
    * fingerprint partitions identically), near-dedup by exact trigram
    * Jaccard (the engine's LSH+verify path reaches the same pair set
    * on this fixture) resolved to transitive duplicate clusters via a
    * RECURSIVE CTE (mirror of the engine's min-label-propagation
    * [[graft.dedup.Dedup.dupClusters]] — survivor = cluster minimum),
    * the q22 quality formula, and the stopword-vote language ID
    * (list_sort over (neg-hits, lang) structs == the engine's
    * array_min argmax).
    */
  def q36CurationPipeline(spark: SparkSession, dir: String): DataFrame =
    graft.text.CurationPipeline.curatedDf(spark, dir)

  val q36Sql: String = {
    def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")
    val langCandidates = TextAnalysis.stopwords.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"{'neg': -len(list_filter(toks, x -> x IN (${inList(ws)}))), 'lang': '$lang'}"
    }.mkString(", ")
    val enStops = inList(TextAnalysis.stopwords("en"))
    s"""WITH RECURSIVE annotated AS (
       |  SELECT doc_id, text,
       |    string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |    trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm
       |  FROM documents
       |), lang_pick AS (
       |  SELECT doc_id, list_sort([$langCandidates])[1] AS best FROM annotated
       |), langed AS (
       |  SELECT a.doc_id, a.text, a.toks, a.n_tokens, a.norm,
       |    CASE WHEN best.neg < 0 THEN best.lang ELSE 'und' END AS detected_lang
       |  FROM annotated a JOIN lang_pick USING (doc_id)
       |), exact_deduped AS (
       |  SELECT * FROM langed
       |  WHERE doc_id = (SELECT min(doc_id) FROM langed l2 WHERE l2.norm = langed.norm)
       |), toksx AS (
       |  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM exact_deduped
       |), ng AS (
       |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
       |  FROM toksx a JOIN toksx b ON a.doc_id=b.doc_id AND b.i=a.i+1
       |               JOIN toksx c ON a.doc_id=c.doc_id AND c.i=a.i+2
       |), sizes AS (SELECT doc_id, count(*) n FROM ng GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM ng a JOIN ng b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
       |), pairs AS (
       |  SELECT id_a, id_b FROM shared
       |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE c*1.0/(sa.n + sb.n - c) >= 0.5
       |), dedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b AS src, id_a AS dst FROM pairs
       |), reach AS (
       |  SELECT src, dst FROM dedges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN dedges e ON r.dst = e.src
       |), losers AS (
       |  SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) < src
       |), near_deduped AS (
       |  SELECT * FROM exact_deduped WHERE doc_id NOT IN (SELECT doc_id FROM losers)
       |), q AS (
       |  SELECT doc_id, detected_lang, n_tokens,
       |    CAST(len(list_filter(toks, x -> x IN ($enStops))) AS DOUBLE) AS n_stop,
       |    CAST(n_tokens AS DOUBLE) AS nt, text
       |  FROM near_deduped
       |)
       |SELECT doc_id, detected_lang, n_tokens,
       |  least(nt / 50.0, 1.0) * (1.0 - n_stop / nt) *
       |    (CASE WHEN (CAST(length(text) AS DOUBLE) - (nt - 1)) / nt BETWEEN 3.0 AND 10.0
       |          THEN 1.0 ELSE 0.5 END) AS quality
       |FROM q
       |WHERE least(nt / 50.0, 1.0) * (1.0 - n_stop / nt) *
       |    (CASE WHEN (CAST(length(text) AS DOUBLE) - (nt - 1)) / nt BETWEEN 3.0 AND 10.0
       |          THEN 1.0 ELSE 0.5 END) >= 0.3
       |ORDER BY doc_id""".stripMargin
  }

  /** Fixed-window chunking (64-token windows, stride 48 => 16-token
    * overlap): the training/RAG prep step. Fully deterministic column
    * arithmetic — the DuckDB mirror reproduces chunk starts
    * (generate_series), slices, and rejoined chunk text exactly.
    * Sorted only for the oracle compare; the production form
    * ([[graft.text.Chunking.chunks]]) is scan -> Generate, no shuffle.
    */
  def q47Chunking(spark: SparkSession, dir: String): DataFrame =
    graft.text.Chunking.chunks(
      Sources.documents(spark, dir), "text", "doc_id", window = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  val q47Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, toks, n,
      |    unnest(generate_series(0, CAST(greatest(ceil((n - 64) / 48.0), 0) AS BIGINT) * 48, 48)) AS start_tok
      |  FROM t
      |)
      |SELECT doc_id,
      |  CAST(start_tok // 48 AS INT) AS chunk_idx,
      |  CAST(start_tok AS INT) AS start_tok,
      |  CAST(least(64, n - start_tok) AS INT) AS n_chunk_tokens,
      |  array_to_string(toks[start_tok + 1 : start_tok + 64], ' ') AS chunk_text
      |FROM s
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Cross-document repeated-span stats (8-token spans): the
    * substring-dedup seed signal — how much of each document is
    * content that also occurs in other documents. The near-dup docs
    * in the fixture light up at dup_ratio ~1; unrelated docs sit at 0.
    */
  def q48RepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    graft.text.RepeatedSpans.docDupStats(
      Sources.documents(spark, dir), "text", "doc_id", k = 8)
      .orderBy("doc_id")

  val q48Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents
      |), pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, n - 7)) AS i
      |  FROM t WHERE n >= 8
      |), spans AS (
      |  SELECT doc_id, array_to_string(toks[i : i + 7], ' ') AS span FROM pos
      |), sd AS (
      |  SELECT span, doc_id, count(*) AS occ FROM spans GROUP BY 1, 2
      |), ss AS (
      |  SELECT span, count(*) AS n_docs FROM sd GROUP BY 1
      |), dup AS (
      |  SELECT sd.doc_id, sum(occ) AS ds
      |  FROM sd JOIN ss USING (span) WHERE ss.n_docs >= 2 GROUP BY sd.doc_id
      |)
      |SELECT t.doc_id,
      |  CAST(greatest(n - 7, 0) AS INT) AS n_spans,
      |  CAST(coalesce(ds, 0) AS INT) AS dup_spans,
      |  CASE WHEN n >= 8 THEN CAST(coalesce(ds, 0) AS DOUBLE) / (n - 7) ELSE 0.0 END AS dup_ratio
      |FROM t LEFT JOIN dup ON t.doc_id = dup.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Span removal (substring dedup stage 2, 8-token spans): duplicated
    * spans keep their content only in the min-doc_id keeper document.
    * The oracle reproduces the removal at token grain (EXISTS over
    * covered positions) — provably the same set the Spark side's
    * interval-gap algebra keeps, so the rejoined text is hash-exact.
    */
  def q49PruneSpans(spark: SparkSession, dir: String): DataFrame =
    graft.text.RepeatedSpans.pruneSpans(
      Sources.documents(spark, dir), "text", "doc_id", k = 8)
      .orderBy("doc_id")

  val q49Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents
      |), pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, n - 7)) AS i
      |  FROM t WHERE n >= 8
      |), spans AS (
      |  SELECT doc_id, i, array_to_string(toks[i : i + 7], ' ') AS span FROM pos
      |), sd AS (
      |  SELECT span, doc_id FROM spans GROUP BY 1, 2
      |), flag AS (
      |  SELECT span, min(doc_id) AS keeper FROM sd GROUP BY 1 HAVING count(*) >= 2
      |), rem AS (
      |  SELECT s.doc_id, s.i FROM spans s JOIN flag f USING (span)
      |  WHERE s.doc_id <> f.keeper
      |), cov AS (
      |  SELECT DISTINCT doc_id, i + d.d AS j
      |  FROM rem CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS d) d
      |), tok AS (
      |  SELECT doc_id, unnest(generate_series(1, n)) AS j FROM t
      |), kept AS (
      |  SELECT tok.doc_id, tok.j
      |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.j = cov.j
      |  WHERE cov.j IS NULL
      |), agg AS (
      |  SELECT kept.doc_id, count(*) AS n_kept,
      |         string_agg(t2.toks[kept.j], ' ' ORDER BY kept.j) AS txt
      |  FROM kept JOIN t t2 ON kept.doc_id = t2.doc_id
      |  GROUP BY kept.doc_id
      |)
      |SELECT t.doc_id,
      |  CAST(n AS INT) AS n_tokens,
      |  CAST(n - coalesce(n_kept, 0) AS INT) AS n_removed,
      |  coalesce(txt, '') AS pruned_text
      |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** q51: BPE tokenizer-training pair statistics
    * ([[graft.text.BpeStats.pairCounts]]) — corpus-frequency-weighted
    * adjacent character pairs with the end-of-word marker, the
    * statistic the first BPE merge maximizes. Integer-exact; total
    * order (count desc, pair asc).
    */
  def q51BpePairStats(spark: SparkSession, dir: String): DataFrame =
    graft.text.BpeStats.pairCounts(Sources.documents(spark, dir), "text")
      .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))

  val q51Sql: String =
    """WITH words AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
      |), wf AS (
      |  SELECT w, count(*) AS freq FROM words WHERE length(w) > 0 GROUP BY w
      |), pos AS (
      |  SELECT w, freq, unnest(range(1, length(w) + 1)) AS i FROM wf
      |), lr AS (
      |  SELECT substr(w, i, 1) AS lhs,
      |         CASE WHEN i = length(w) THEN '</w>' ELSE substr(w, i + 1, 1) END AS rhs,
      |         freq
      |  FROM pos
      |)
      |SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS pair_count
      |FROM lr GROUP BY lhs, rhs
      |ORDER BY pair_count DESC, lhs, rhs""".stripMargin

  /** q60: quality-aware near-dup dedup — the composition of the three
    * policy layers: verified n-gram Jaccard pairs (q23's scale path),
    * transitive cluster resolution ([[Dedup.dupClusters]]), and
    * per-cluster canonical selection by QUALITY
    * ([[Dedup.clusterRepresentatives]] — keep the best-scoring member,
    * not the smallest id). The oracle rebuilds the clusters with a
    * recursive-CTE transitive closure over the same pair set and picks
    * the same keeper by (quality DESC, doc_id), so the whole chain —
    * mining, clustering, policy — is hash-exact end to end.
    *
    * Plan shape: pair mining is the banded-LSH path (never all-pairs);
    * cluster resolution consumes the control-plane-sized verified pair
    * list eagerly (flat LogicalRDD snapshot); the final plan is one
    * broadcast semi-join of the cluster labels against the corpus +
    * ONE map-side-combined argmax aggregate. Corpus text is read once
    * for quality and never shuffled.
    */
  def q60NearDupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val pairs = Dedup.verifyCandidates(docs, "text", "doc_id", n = 3, threshold = 0.5)
    val clusters = Dedup.dupClusters(pairs)
    val members = docs
      .join(broadcast(clusters), docs("doc_id") === clusters("id"))
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(col("cluster"), col("doc_id"),
        TextAnalysis.qualityScoreOfTokens(col("__toks"), col("text")).as("quality"))
    Dedup.clusterRepresentatives(members, "cluster", "doc_id", "quality")
      .withColumnRenamed("keeper_score", "keeper_quality")
      .orderBy("cluster_id")
  }

  val q60Sql: String = {
    val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
       |         generate_subscripts(string_split(text,' '),1) AS i
       |  FROM documents
       |), ng AS (
       |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
       |  FROM toks a JOIN toks b ON a.doc_id=b.doc_id AND b.i=a.i+1
       |              JOIN toks c ON a.doc_id=c.doc_id AND c.i=a.i+2
       |), sizes AS (SELECT doc_id, count(*) n FROM ng GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM ng a JOIN ng b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT id_a, id_b FROM shared
       |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE c*1.0/(sa.n + sb.n - c) >= 0.5
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), labels AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a
       |), qual AS (
       |  SELECT doc_id,
       |    least(n_tokens / 50.0, 1.0) * (1.0 - n_stop / n_tokens) *
       |      (CASE WHEN (CAST(length(text) AS DOUBLE) - (n_tokens - 1)) / n_tokens BETWEEN 3.0 AND 10.0
       |            THEN 1.0 ELSE 0.5 END) AS quality
       |  FROM (
       |    SELECT doc_id, text,
       |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
       |      CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stops))) AS DOUBLE) AS n_stop
       |    FROM documents
       |  ) t0
       |), scored AS (
       |  SELECT l.cluster, l.doc_id, q.quality
       |  FROM labels l JOIN qual q USING (doc_id)
       |), r AS (
       |  SELECT cluster, doc_id, quality,
       |         row_number() OVER (PARTITION BY cluster ORDER BY quality DESC, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY cluster) AS nm
       |  FROM scored
       |)
       |SELECT cluster AS cluster_id, nm AS n_members, doc_id AS keeper_id,
       |       quality AS keeper_quality
       |FROM r WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin
  }

  /** q61: BM25 relevance of every document against a four-term query
    * (two common terms, one mid, one rare — a realistic idf spread on
    * the fixture vocabulary). Integer-nanounit scores
    * ([[graft.text.Bm25]]'s rounding discipline), so the oracle —
    * which recomputes tf/df/idf and the exact same IEEE double chain
    * from the same integers — compares hash-exact.
    */
  def q61Bm25(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bm25.score(
      Sources.documents(spark, dir), "text", "doc_id", Bm25QueryTerms)
      .orderBy("doc_id")

  private val Bm25QueryTerms = Seq("spark", "vector", "merge", "dup")

  val q61Sql: String = {
    val terms = Bm25QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, len(string_split(text,' ')) AS dl,
       |         unnest(string_split(text,' ')) AS w
       |  FROM documents
       |), stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |         CAST(sum(len(string_split(text,' '))) AS DOUBLE) AS sum_dl
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, dl, w, count(*) AS tf FROM t
       |  WHERE w IN ($terms)
       |  GROUP BY 1, 2, 3
       |), idf AS (
       |  SELECT w, CAST(round(ln((n - df + 0.5)/(df + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idf_micro
       |  FROM (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1), stats
       |), contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(round((CAST(idf_micro AS DOUBLE)/1000000.0) *
       |      ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
       |       (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (sum_dl / n)))) *
       |      1000000000.0) AS BIGINT) AS c_nano
       |  FROM tf JOIN idf USING (w), stats
       |)
       |SELECT doc_id, CAST(count(*) AS INT) AS n_terms,
       |       CAST(sum(c_nano) AS BIGINT) AS score_nano
       |FROM contrib GROUP BY 1
       |ORDER BY doc_id""".stripMargin
  }

  /** q63: text normalization ([[graft.text.Normalize]]) — the
    * cleaning pass before dedup/shingling/BPE: control chars to
    * spaces, space runs collapsed, Unicode NFC. The fixture text is
    * clean ASCII, so (as with q41's PII) deterministic noise is WELDED
    * on: a per-doc letter + combining acute (doc_id % 26 — recomposes
    * under NFC for a/e/i/o/u/..., stays decomposed where no
    * precomposition exists, exercising both NFC paths), a tab, and a
    * double space. The cleaned text is pinned byte-for-byte by md5 —
    * JDK `java.text.Normalizer` and DuckDB `nfc_normalize` implement
    * the same Unicode canonical composition, and the regexes are in
    * the Java∩RE2 portable intersection ([[graft.text.PiiScrub]]
    * discipline).
    */
  def q63Normalize(spark: SparkSession, dir: String): DataFrame = {
    val welded = Sources.documents(spark, dir).withColumn("__t",
      concat(col("text"), lit(" x"), expr("chr(97 + pmod(doc_id, 26))"),
        lit("́\ty  z")))
    graft.text.Normalize.cleaned(welded, "__t", out = "clean")
      .select(
        col("doc_id"),
        length(col("clean")).cast("int").as("clean_len"),
        md5(col("clean").cast("binary")).as("clean_fp"))
      .orderBy("doc_id")
  }

  val q63Sql: String =
    s"""WITH welded AS (
       |  SELECT doc_id,
       |    text || ' x' || chr(97 + CAST(doc_id % 26 AS INT)) || '́' || chr(9) || 'y  z' AS t
       |  FROM documents
       |), cleaned AS (
       |  SELECT doc_id,
       |    nfc_normalize(trim(regexp_replace(
       |      regexp_replace(t, '[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g'))) AS clean
       |  FROM welded
       |)
       |SELECT doc_id, CAST(length(clean) AS INT) AS clean_len, md5(clean) AS clean_fp
       |FROM cleaned
       |ORDER BY doc_id""".stripMargin

  /** q65: per-language top-k most document-frequent bigrams
    * ([[graft.text.CorpusStats.topGrams]]) — the boilerplate-discovery
    * report. Integer-exact counts; ties to the smallest gram, so the
    * ranking is a total order on both engines.
    */
  def q65TopGrams(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusStats.topGrams(
      Sources.documents(spark, dir), "text", "lang", n = 2, k = 5)
      .orderBy("stratum", "rank")

  val q65Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS w,
      |         generate_subscripts(string_split(text,' '),1) AS i
      |  FROM documents
      |), ng AS (
      |  SELECT DISTINCT a.lang AS stratum, a.doc_id, a.w || ' ' || b.w AS g
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |), cnt AS (
      |  SELECT stratum, g, count(*) AS n_docs FROM ng GROUP BY 1, 2
      |), r AS (
      |  SELECT stratum, g, n_docs,
      |    CAST(row_number() OVER (PARTITION BY stratum ORDER BY n_docs DESC, g) AS INT) AS rank
      |  FROM cnt
      |)
      |SELECT stratum, g, n_docs, rank FROM r
      |WHERE rank <= 5
      |ORDER BY stratum, rank""".stripMargin

  /** Shared line-welding for q66/q67: the synthetic corpus is one
    * single-line string per document, so line structure is WELDED on
    * deterministically (q41/q63 discipline) — tokens regrouped into
    * 8-token lines, plus per-doc boilerplate/noise lines keyed off
    * `doc_id` arithmetic that DuckDB reproduces exactly.
    */
  private def linedText(extra: Column): Column = {
    val toks = split(col("text"), " ")
    val nGroups = ((size(toks) + lit(7)) / lit(8)).cast("int")
    concat(
      array_join(
        transform(sequence(lit(0), nGroups - 1),
          g => array_join(slice(toks, g * lit(8) + 1, lit(8)), " ")), "\n"),
      extra)
  }

  private val LinedSqlBase: String =
    """array_to_string(
      |      list_transform(range((len(string_split(text, ' ')) + 7) // 8),
      |        g -> array_to_string((string_split(text, ' '))[g*8+1 : g*8+8], ' ')),
      |      chr(10))""".stripMargin

  /** q110: URL canonicalization + URL-level dedup
    * ([[graft.text.UrlOps]]) — the crawl-frontier pass that collapses
    * spelling variants of the same page BEFORE content dedup. The
    * fixture derives one messy-but-valid URL per document with
    * deterministic variation across every canonicalization rule:
    * scheme/host CASE (doc_id%2 / %4), a `www.` prefix (%3==0), the
    * https default port `:443` (%5==0), a trailing path slash
    * (%3==1), `utm_`/`utm_campaign` tracking params in shuffled order
    * (%2), and a fragment (%7==0). The engine runs the GENERIC
    * canonicalizer (`try_parse_url` + regexp/array algebra) and
    * groups; the DuckDB oracle mirrors the canonical form from FIRST
    * PRINCIPLES of the construction — so any parser rule the engine
    * gets wrong (port kept, param unsorted, fragment leaking) breaks
    * the hash match. Output: one row per canonical URL with its
    * min-id keeper and spelling count.
    */
  def q110UrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("HTTPS")),
      lit("://"),
      when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
      when(col("doc_id") % 4 < 2, upper(col("source"))).otherwise(col("source")),
      lit(".Example.COM"),
      when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), (col("doc_id") % 20).cast("string"),
      when(col("doc_id") % 3 === 1, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit("?utm_source=feed&id="), (col("doc_id") % 10).cast("string")))
        .otherwise(concat(lit("?id="), (col("doc_id") % 10).cast("string"), lit("&utm_campaign=x"))),
      when(col("doc_id") % 7 === 0, lit("#sec")).otherwise(lit("")))
    graft.text.UrlOps.withCanonicalUrl(
      docs.select(col("doc_id"), url.as("url")), "url")
      .groupBy("canonical_url")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_spellings"))
      .orderBy("canonical_url")
  }

  val q110Sql: String =
    """SELECT 'https://' || lower(source) || '.example.com/docs/' ||
      |         CAST(doc_id % 20 AS VARCHAR) || '?id=' || CAST(doc_id % 10 AS VARCHAR)
      |         AS canonical_url,
      |       MIN(doc_id) AS keeper_id,
      |       COUNT(*) AS n_spellings
      |FROM documents
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q66: cross-document repeated-line removal
    * ([[graft.text.LineOps.dedupLines]] — MassiveText/RefinedWeb
    * boilerplate stripping). Boilerplate lines welded onto ~1/3 and
    * ~1/4 of documents are scrubbed everywhere except their
    * `min(doc_id)` keeper; the corpus's exact-duplicate documents lose
    * every line to their keeper twin (line dedup subsumes exact
    * dedup). Cleaned text md5-pinned byte-for-byte.
    */
  def q66LineDedup(spark: SparkSession, dir: String): DataFrame = {
    val extra = concat(
      when(col("doc_id") % 3 === 0,
        lit("\nall rights reserved click to accept cookies")).otherwise(lit("")),
      when(col("doc_id") % 4 === 1,
        lit("\nsubscribe to our newsletter today")).otherwise(lit("")))
    val welded = Sources.documents(spark, dir).withColumn("__t", linedText(extra))
    graft.text.LineOps.dedupLines(welded, "__t", "doc_id")
      .select(col("doc_id"), col("n_lines"), col("n_removed"),
        md5(col("clean").cast("binary")).as("clean_fp"))
      .orderBy("doc_id")
  }

  val q66Sql: String =
    s"""WITH lined AS (
       |  SELECT doc_id,
       |    $LinedSqlBase
       |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'all rights reserved click to accept cookies' ELSE '' END
       |    || CASE WHEN doc_id % 4 = 1 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END AS t
       |  FROM documents
       |), lines AS (
       |  SELECT doc_id,
       |    generate_subscripts(string_split(t, chr(10)), 1) AS pos,
       |    unnest(string_split(t, chr(10))) AS ln
       |  FROM lined
       |), stats AS (
       |  SELECT md5(ln) AS k, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper
       |  FROM lines WHERE len(ln) >= 1 GROUP BY 1
       |), marked AS (
       |  SELECT l.doc_id, l.pos, l.ln,
       |    CASE WHEN s.n_docs >= 2 AND l.doc_id <> s.keeper THEN 1 ELSE 0 END AS rm
       |  FROM lines l LEFT JOIN stats s ON md5(l.ln) = s.k
       |)
       |SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
       |  CAST(sum(rm) AS INT) AS n_removed,
       |  md5(coalesce(string_agg(CASE WHEN rm = 0 THEN ln END, chr(10) ORDER BY pos), '')) AS clean_fp
       |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q67: C4-style line filtering ([[graft.text.LineOps.lineFilter]]).
    * Welded line structure exercises every gate: terminal punctuation
    * appears on lines where `(doc_id + line_idx) % 3 = 0`, a banned
    * javascript line (with terminal '.') lands on `doc_id % 5 = 2`,
    * and the final short line of most docs trips the min-words gate.
    * Cleaned text md5-pinned.
    */
  def q67LineFilter(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nGroups = ((size(toks) + lit(7)) / lit(8)).cast("int")
    val lined = concat(
      array_join(
        transform(sequence(lit(0), nGroups - 1),
          g => concat(
            array_join(slice(toks, g * lit(8) + 1, lit(8)), " "),
            when((col("doc_id") + g) % 3 === 0, lit(".")).otherwise(lit("")))), "\n"),
      when(col("doc_id") % 5 === 2,
        lit("\nplease enable javascript to view this page.")).otherwise(lit("")))
    val welded = Sources.documents(spark, dir).withColumn("__t", lined)
    graft.text.LineOps.lineFilter(welded, "__t", "doc_id")
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("clean").cast("binary")).as("clean_fp"))
      .orderBy("doc_id")
  }

  val q67Sql: String =
    """WITH lined AS (
      |  SELECT doc_id,
      |    array_to_string(
      |      list_transform(range((len(string_split(text, ' ')) + 7) // 8),
      |        g -> array_to_string((string_split(text, ' '))[g*8+1 : g*8+8], ' ')
      |             || CASE WHEN (doc_id + g) % 3 = 0 THEN '.' ELSE '' END),
      |      chr(10))
      |    || CASE WHEN doc_id % 5 = 2 THEN chr(10) || 'please enable javascript to view this page.' ELSE '' END AS t
      |  FROM documents
      |), lines AS (
      |  SELECT doc_id,
      |    generate_subscripts(string_split(t, chr(10)), 1) AS pos,
      |    unnest(string_split(t, chr(10))) AS ln
      |  FROM lined
      |), marked AS (
      |  SELECT doc_id, pos, ln,
      |    CASE WHEN len(list_filter(string_split(ln, ' '), w -> w <> '')) >= 3
      |          AND (ln LIKE '%.' OR ln LIKE '%!' OR ln LIKE '%?' OR ln LIKE '%"')
      |          AND NOT contains(lower(ln), 'javascript')
      |          AND NOT contains(lower(ln), 'cookie')
      |          AND NOT contains(lower(ln), 'lorem ipsum')
      |      THEN 1 ELSE 0 END AS keep
      |  FROM lines
      |)
      |SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
      |  CAST(sum(keep) AS INT) AS n_kept,
      |  md5(coalesce(string_agg(CASE WHEN keep = 1 THEN ln END, chr(10) ORDER BY pos), '')) AS clean_fp
      |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q76: full BPE tokenization of the corpus — train 200 merges on
    * the top-10k vocabulary ([[graft.text.BpeTokenizer.fit]]), then
    * encode every document to its token-id sequence. Rows-only (the
    * greedy merge loop is not SQL-expressible); the id stream is
    * pinned by RowsOnlyContractSpec: an independent re-encode matches
    * the fingerprints exactly and decode() round-trips every document
    * to its single-spaced text.
    */
  def q76BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    val model = graft.text.BpeTokenizer.fit(docs, "text", numMerges = 200, maxVocab = 10000)
    graft.text.BpeTokenizer.encode(docs, "text", "doc_id", model)
      .select(
        col("doc_id"),
        col("n_bpe_tokens"),
        md5(concat_ws(",", transform(col("token_ids"), _.cast("string"))).cast("binary")).as("ids_fp"))
      .orderBy("doc_id")
  }

  /** q82: containment near-dup pairs — the measure Jaccard dedup
    * misses (short doc embedded in a long one). Runs the 100 TB
    * prefix-filtered path ([[graft.dedup.Containment
    * .containmentPairsPrefix]]), which is EXACT (pigeonhole, not LSH
    * recall), so the DuckDB all-pairs oracle must match hash-for-hash.
    * Threshold 0.8 is boundary-safe on this fixture: near-dup texts
    * sit at ~0.99, background below ~0.3.
    */
  def q82ContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Containment.containmentPairsPrefix(
      Sources.documents(spark, dir), "text", "doc_id", n = 3, threshold = 0.8)
      .orderBy("id_a", "id_b")

  val q82Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |         generate_subscripts(string_split(text,' '),1) AS i
      |  FROM documents
      |), ng AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM toks a JOIN toks b ON a.doc_id=b.doc_id AND b.i=a.i+1
      |              JOIN toks c ON a.doc_id=c.doc_id AND c.i=a.i+2
      |), sizes AS (SELECT doc_id, count(*) n FROM ng GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM ng a JOIN ng b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b, c*1.0/least(sa.n, sb.n) AS containment
      |FROM shared
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE c*1.0/least(sa.n, sb.n) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** q86: containment resolution — the corpus minus every document
    * >= 0.8 contained in a strictly larger one (ties: mutual
    * containment drops the larger id). One projection over q82's pair
    * set + a left-anti join; the DuckDB oracle replays the same
    * resolution over the all-pairs CTE.
    */
  def q86DropContained(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Containment.dropContained(
      Sources.documents(spark, dir), "text", "doc_id", n = 3, threshold = 0.8)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** q102: the COVERAGE ingest gate — the batch (doc_id % 3 == 0)
    * minus every document whose shingle set is >= 0.8 covered by a
    * single reference document (doc_id % 3 != 0):
    * [[graft.dedup.Containment.dropSeenContained]], the ASYMMETRIC
    * `shared / n_batch` measure (a re-scrape of indexed content is
    * gated; a huge new doc quoting a reference snippet is not).
    * Oracle-exact like all containment queries — the batch-side
    * prefix filter is pigeonhole-lossless, so the kept set equals
    * the all-pairs SQL recomputation.
    */
  def q102ContainmentGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(spark, dir)
    graft.dedup.Containment.dropSeenContained(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 =!= 0),
      "text", "doc_id", n = 3, threshold = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  val q102Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |         generate_subscripts(string_split(text,' '),1) AS i
      |  FROM documents
      |), ng AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM toks a JOIN toks b ON a.doc_id=b.doc_id AND b.i=a.i+1
      |              JOIN toks c ON a.doc_id=c.doc_id AND c.i=a.i+2
      |), sizes AS (SELECT doc_id, count(*) n FROM ng GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM ng a JOIN ng b ON a.g = b.g
      |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 != 0
      |  GROUP BY 1, 2
      |), seen AS (
      |  SELECT DISTINCT id_a
      |  FROM shared
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  WHERE c*1.0/sa.n >= 0.8
      |)
      |SELECT doc_id FROM documents
      |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT id_a FROM seen)
      |ORDER BY doc_id""".stripMargin

  val q86Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS w,
      |         generate_subscripts(string_split(text,' '),1) AS i
      |  FROM documents
      |), ng AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM toks a JOIN toks b ON a.doc_id=b.doc_id AND b.i=a.i+1
      |              JOIN toks c ON a.doc_id=c.doc_id AND c.i=a.i+2
      |), sizes AS (SELECT doc_id, count(*) n FROM ng GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM ng a JOIN ng b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), losers AS (
      |  SELECT DISTINCT CASE WHEN sa.n < sb.n THEN id_a
      |                       WHEN sb.n < sa.n THEN id_b
      |                       ELSE greatest(id_a, id_b) END AS lid
      |  FROM shared
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE c*1.0/least(sa.n, sb.n) >= 0.8
      |)
      |SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT lid FROM losers)
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q86_drop_contained" -> (q86DropContained _),
    "q82_containment_pairs" -> (q82ContainmentPairs _),
    "q76_bpe_encode" -> (q76BpeEncode _),
    "q51_bpe_pair_stats" -> (q51BpePairStats _),
    "q36_curation_pipeline" -> (q36CurationPipeline _),
    "q47_chunking" -> (q47Chunking _),
    "q48_repeated_spans" -> (q48RepeatedSpans _),
    "q49_prune_spans" -> (q49PruneSpans _),
    "q20_token_stats" -> (q20TokenStats _),
    "q21_exact_dedup" -> (q21ExactDedup _),
    "q22_quality_score" -> (q22QualityScore _),
    "q23_ngram_jaccard_pairs" -> (q23NgramJaccardPairs _),
    "q24_lang_stats" -> (q24LangStats _),
    "q25_langid_fingerprint" -> (q25LangIdFingerprint _),
    "q25a_langid_tokens" -> (q25aLangIdTokens _),
    "q26_minhash_pairs" -> (q26MinhashPairs _),
    "q27_simhash_pairs" -> (q27SimhashPairs _),
    "q99_novel_docs_gate" -> (q99NovelDocsGate _),
    "q101_jaccard_gate" -> (q101JaccardGate _),
    "q102_containment_gate" -> (q102ContainmentGate _),
    "q103_ingest_epochs" -> (q103IngestEpochs _),
    "q106_window_gate" -> (q106WindowGate _),
    "q107_window_exactly_once" -> (q107WindowExactlyOnce _),
    "q60_neardup_keep_best" -> (q60NearDupKeepBest _),
    "q61_bm25" -> (q61Bm25 _),
    "q63_normalize" -> (q63Normalize _),
    "q65_top_grams" -> (q65TopGrams _),
    "q66_line_dedup" -> (q66LineDedup _),
    "q67_line_filter" -> (q67LineFilter _),
    "q110_url_dedup" -> (q110UrlDedup _))

  val oracle: Map[String, String] = Map(
    "q86_drop_contained" -> q86Sql,
    "q82_containment_pairs" -> q82Sql,
    "q51_bpe_pair_stats" -> q51Sql,
    "q20_token_stats" -> q20Sql,
    "q21_exact_dedup" -> q21Sql,
    "q22_quality_score" -> q22Sql,
    "q23_ngram_jaccard_pairs" -> q23Sql,
    "q24_lang_stats" -> q24Sql,
    "q25a_langid_tokens" -> q25aSql,
    "q26_minhash_pairs" -> q26Sql,
    "q101_jaccard_gate" -> q101Sql,
    "q102_containment_gate" -> q102Sql,
    "q106_window_gate" -> q106Sql,
    "q107_window_exactly_once" -> q107Sql,
    "q36_curation_pipeline" -> q36Sql,
    "q47_chunking" -> q47Sql,
    "q48_repeated_spans" -> q48Sql,
    "q49_prune_spans" -> q49Sql,
    "q60_neardup_keep_best" -> q60Sql,
    "q61_bm25" -> q61Sql,
    "q63_normalize" -> q63Sql,
    "q65_top_grams" -> q65Sql,
    "q66_line_dedup" -> q66Sql,
    "q67_line_filter" -> q67Sql,
    "q110_url_dedup" -> q110Sql)
}
