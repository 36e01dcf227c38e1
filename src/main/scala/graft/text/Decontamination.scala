package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast => bcast, _}

/** Benchmark decontamination: flag training documents whose n-grams
  * overlap an evaluation set (the published GPT-3/PaLM-style n-gram
  * contamination check — Brown et al. 2020 §C, public paper).
  *
  * Scale shape: the benchmark is control-plane sized next to a 100 TB
  * corpus, so its distinct n-gram set is BROADCAST and the corpus side
  * never shuffles its text — each document explodes its distinct
  * n-grams (a narrow generate), a broadcast left join marks the ones
  * the benchmark contains, and ONE groupBy(doc) exchange counts both
  * totals from the marked rows; map-side partial aggregation collapses
  * each document to a single count row before the exchange (a
  * document's grams are partition-local), so clean documents cost a
  * scan plus one tiny aggregate row and their text never moves.
  *
  * Evaluation discipline: HOF lambdas get no common-subexpression
  * elimination, so any non-attribute tree referenced inside one is
  * re-evaluated per ELEMENT. Every entry point here therefore
  * tokenizes into a materialized column first ([[tokenized]]) and
  * builds n-grams off the bound attribute ([[ngramsOfTokens]]) with a
  * single `slice` per element — never `split` inside the lambda — and
  * the n-gram array itself is evaluated exactly once per pass
  * (projection isolation; Catalyst does not collapse projects that
  * would duplicate a non-cheap expression, SPARK-36718).
  */
object Decontamination {

  /** `df` plus a whitespace-token array of `textCol`, materialized
    * once per row under `tokCol` so downstream n-gram construction
    * references a bound attribute instead of re-running `split`.
    */
  def tokenized(df: DataFrame, textCol: String, tokCol: String): DataFrame =
    df.withColumn(tokCol, split(col(textCol), " "))

  /** Distinct space-joined n-grams of an ALREADY-TOKENIZED document;
    * empty array when it has fewer than `n` tokens. `toks` must be a
    * bound attribute (see [[tokenized]]) — passing a computed tree
    * here re-evaluates it per n-gram.
    */
  def ngramsOfTokens(toks: Column, n: Int): Column = {
    require(n >= 1, s"n=$n must be positive")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))))
      .otherwise(typedlit(Seq.empty[String]))
  }

  /** The n-gram array as the single-pass [[DistinctNgrams]]
    * expression — one scan over the text bytes, each gram a span view
    * (no per-gram slice/join allocation). Null text yields a null
    * array (fine under `explode`, which emits no rows either way).
    */
  def distinctNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      DistinctNgrams(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), n))

  /** Distinct space-joined n-grams of a whitespace-tokenized text;
    * empty array when the document has fewer than `n` tokens (or is
    * null — the historical contract of the column-algebra form this
    * delegates for).
    */
  def ngrams(text: Column, n: Int): Column =
    coalesce(distinctNgrams(text, n), typedlit(Seq.empty[String]))

  /** One row per (document, distinct n-gram). The n-gram construction
    * is the GENERATOR expression itself — handing `explode` a bound
    * array attribute instead invites `InferFiltersFromGenerate` +
    * predicate pushdown to inline the whole construction twice into a
    * scan-level filter; with [[distinctNgrams]] as the generator the
    * single-pass expression is planned exactly once (documents with
    * fewer than `n` tokens vanish — they have no n-grams).
    */
  private[text] def explodedGrams(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(distinctNgrams(col(textCol), n)).as("g"))

  /** One row per CONTAMINATED corpus document: its distinct n-gram
    * count, how many of those n-grams appear anywhere in `bench`, the
    * contamination fraction, and a 0/1 flag at `flagThreshold`.
    * Documents with zero overlap are absent (they are the ~entire
    * corpus; a report listing them would itself be corpus-sized).
    */
  def report(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.05): DataFrame =
    reportWith(corpus,
      bench.select(explode(distinctNgrams(col(textCol), n)).as("g")).distinct(),
      textCol, idCol, n, flagThreshold)

  /** [[report]] against a PRECOMPUTED distinct gram table (column
    * `g`) — the production form when the benchmark release is
    * materialized once and reused across corpus snapshots, and the
    * regime switch for benchmark sets too large to broadcast:
    * `broadcastBench = true` (default) keeps the broadcast
    * join-with-marker shape; `false` drops the hint so the planner
    * shuffles BOTH sides on the gram key instead — corpus grams cross
    * an exchange (never text), which is the right trade only when the
    * gram table itself is beyond broadcast size. A stream scores
    * arriving documents in either regime by running this operator per
    * micro-batch ([[graft.streaming.StreamingOps.perBatch]]).
    *
    * `benchGrams` must be DISTINCT on `g` — duplicates multiply the
    * left-joined rows and corrupt BOTH counts.
    */
  def reportWith(
      corpus: DataFrame,
      benchGrams: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.05,
      broadcastBench: Boolean = true): DataFrame = {
    // Join-with-marker: a LEFT join tags each corpus n-gram that the
    // benchmark contains, and ONE groupBy(doc) derives both totals —
    // `count(1)` is n_ngrams (the left join preserves exactly one row
    // per distinct gram; the bench side is distinct) and
    // `count(__hit)` is n_overlap. No `size()` over the gram array
    // anywhere, so the array is evaluated exactly once, by the
    // generate. Clean documents reach the final exchange only as one
    // map-side partially-aggregated count row each (a document's
    // grams are partition-local — they explode from one input row),
    // never as text.
    val tagged = benchGrams.select(col("g")).withColumn("__dc_hit", lit(1))
    explodedGrams(corpus, textCol, idCol, n)
      .join(if (broadcastBench) bcast(tagged) else tagged, Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_ngrams"),
        count(col("__dc_hit")).as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .withColumn("contam_frac",
        col("n_overlap").cast("double") / col("n_ngrams").cast("double"))
      .withColumn("flagged", (col("contam_frac") >= flagThreshold).cast("int"))
  }

  /** Per-SUITE contamination attribution: one row per (contaminated
    * document, benchmark suite) — which benchmark a document leaks
    * from, not just whether it leaks. `bench` carries a `suiteCol`
    * (e.g. the eval set name); a gram shared by several suites
    * attributes a hit to each.
    *
    * Scale shape — ONE corpus pass, one corpus-grain exchange: the
    * bench side collapses to a (gram → sorted suite array) table
    * (control-plane sized, broadcast), the left join stays 1:1 with
    * the corpus gram stream (so the per-doc total survives in the
    * same aggregate), and the (doc, suite) re-aggregate happens AFTER
    * the groupBy(doc) — its input is already hash-partitioned by the
    * doc id, which satisfies the (doc, suite) clustering, so the
    * second groupBy plans NO new exchange and its rows are only the
    * contaminated documents' hit-suite pairs.
    */
  def reportBySuite(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      suiteCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.05): DataFrame = {
    // collect_set deduplicates suites per gram on its own — a
    // .distinct() here would only add a second bench-side exchange
    val gramSuites = bench
      .select(explode(distinctNgrams(col(textCol), n)).as("g"), col(suiteCol).as("__dc_suite"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(col("__dc_suite"))).as("__dc_suites"))
    // collect_list SKIPS null inputs, so clean documents (no gram in
    // any suite) buffer nothing — coalescing nulls to empty arrays
    // would make every clean doc's buffer O(its gram count)
    val perDoc = explodedGrams(corpus, textCol, idCol, n)
      .join(bcast(gramSuites), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_ngrams"),
        flatten(collect_list(col("__dc_suites"))).as("__dc_hits"))
      .filter(size(col("__dc_hits")) > 0)
    perDoc
      .select(col(idCol), col("n_ngrams"), explode(col("__dc_hits")).as("suite"))
      .groupBy(col(idCol), col("suite"))
      .agg(max(col("n_ngrams")).as("n_ngrams"), count(lit(1)).as("n_hits"))
      .withColumn("overlap_frac",
        col("n_hits").cast("double") / col("n_ngrams").cast("double"))
      .withColumn("flagged", (col("overlap_frac") >= flagThreshold).cast("int"))
      .select(col(idCol), col("suite"), col("n_ngrams"), col("n_hits"),
        col("overlap_frac"), col("flagged"))
  }

  /** Distributed Bloom-filter build over a distinct gram table
    * (column `g`): per-partition filters populated with
    * `putString` (UTF-8 bytes — the same bytes
    * [[BloomMightContain]] probes), OR-merged up a tree. Identical
    * mechanics to Spark's own `DataFrameStatFunctions.bloomFilter`,
    * done here explicitly so the insert/probe byte contract is
    * pinned in one file. `expectedItems <= 0` counts the table
    * first (one cheap pass over a control-plane-sized side).
    */
  def gramBloom(
      benchGrams: DataFrame,
      fpp: Double = 0.01,
      expectedItems: Long = -1L): org.apache.spark.util.sketch.BloomFilter = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp=$fpp must be in (0, 1)")
    val n = if (expectedItems > 0) expectedItems else benchGrams.count()
    val zero = org.apache.spark.util.sketch.BloomFilter.create(math.max(n, 1L), fpp)
    import org.apache.spark.sql.Encoders
    benchGrams.select(col("g").cast("string")).as(Encoders.STRING).rdd
      .treeAggregate(zero)(
        (f, s) => { if (s != null) f.putString(s); f },
        (a, b) => { a.mergeInPlace(b); a })
  }

  /** [[reportWith]]'s THIRD regime — for the middle of the benchmark
    * size range, where the exact distinct-gram set is beyond
    * broadcast (so `broadcastBench = true` is off the table) but
    * shuffling every corpus gram (`broadcastBench = false`) would
    * move ~the whole corpus through an exchange to find the ~0.01%
    * that overlaps. A Bloom filter over the bench grams is ~10 bits
    * per gram at fpp 1% — broadcastable long after the gram strings
    * are not — and Bloom false NEGATIVES are impossible, so every
    * truly-contaminated gram survives the prefilter and the tiny
    * survivor set is verified EXACTLY against the real gram table.
    * Results are bit-identical to [[reportWith]] (DecontaminationSpec
    * pins parity; q50 pins it against the DuckDB oracle).
    *
    * Plan shape (the 100 TB contract): ONE corpus scan, ONE
    * corpus-wide exchange — the same doc-grain count rows as the
    * broadcast regime, plus a per-doc survivor list that is empty
    * for ~all documents (probe runs inside the map-side partial
    * aggregate; a false positive costs one short string in one
    * list). Survivors then explode and shuffle-semi-join the gram
    * table — corpus participation in that join is `fpp x n_grams +
    * true hits` rows, not the corpus. Documents with no survivors
    * exit at the explode, which is correct, not a shortcut: no
    * false negatives means no survivors IMPLIES no overlap, and
    * [[reportWith]] drops zero-overlap documents too.
    *
    * `benchGrams` must be DISTINCT on `g` (dupes are harmless to the
    * semi-join but corrupt the filter's sizing estimate).
    */
  def reportWithBloom(
      corpus: DataFrame,
      benchGrams: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.05,
      fpp: Double = 0.01,
      expectedGrams: Long = -1L): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(
      gramBloom(benchGrams, fpp, expectedGrams))
    val probe = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      BloomMightContain(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("g")), bc))
    explodedGrams(corpus, textCol, idCol, n)
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_ngrams"),
        collect_list(when(probe, col("g"))).as("__maybe"))
      .select(col(idCol), col("n_ngrams"), explode(col("__maybe")).as("g"))
      .join(benchGrams.select(col("g")), Seq("g"), "leftsemi")
      .groupBy(col(idCol))
      .agg(max(col("n_ngrams")).as("n_ngrams"), count(lit(1)).as("n_overlap"))
      .withColumn("contam_frac",
        col("n_overlap").cast("double") / col("n_ngrams").cast("double"))
      .withColumn("flagged", (col("contam_frac") >= flagThreshold).cast("int"))
  }

  /** FUZZY benchmark decontamination: corpus documents NEAR-duplicate
    * to an evaluation document — paraphrased or lightly-edited
    * contamination that the exact n-gram [[report]] under-counts
    * (each edit kills its surrounding grams) but whole-document
    * Jaccard still exposes. One row per `(doc, bench doc)` pair at or
    * above `threshold` with the EXACT n-gram Jaccard (LSH candidates,
    * exact verification — [[graft.dedup.Dedup
    * .crossVerifyCandidates]], never all-pairs). Complements
    * [[report]]: run both, union the flagged ids, remove once.
    */
  def fuzzyReport(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    graft.dedup.Dedup.crossVerifyCandidates(corpus, bench, textCol, idCol, n, threshold)
      .select(col("id_a").as(idCol), col("id_b").as("bench_id"), col("jaccard"))

  /** The removal applied: corpus minus documents at or above the flag
    * threshold — anti-join on the flagged id list.
    *
    * `broadcastFlagged = true` (default) hints the flagged ids into a
    * broadcast anti-join, so the corpus never shuffles — the right
    * shape while the flagged set is executor-memory-sized (the normal
    * case: contamination is a small corpus fraction). Against a
    * benchmark release so large that flagged ids themselves are
    * beyond broadcast, pass `false`: the planner shuffle-anti-joins
    * on the id instead, which DOES move corpus rows (text included)
    * through one exchange — intrinsic to removing a non-broadcastable
    * id set; there is no third shape without pre-bucketing the corpus
    * by id.
    */
  def decontaminated(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      flagThreshold: Double = 0.05,
      broadcastFlagged: Boolean = true): DataFrame = {
    val flagged = report(corpus, bench, textCol, idCol, n, flagThreshold)
      .filter(col("flagged") === 1)
      .select(col(idCol))
    corpus.join(if (broadcastFlagged) bcast(flagged) else flagged, Seq(idCol), "left_anti")
  }
}
