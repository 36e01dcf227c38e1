package graft.dedup

import graft.core.CacheScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Containment-similarity near-duplicate detection — the measure
  * Jaccard dedup structurally misses: a short document embedded
  * verbatim inside a much longer one has
  * `containment = |A ∩ B| / min(|A|, |B|) ≈ 1` while
  * `jaccard = |A ∩ B| / |A ∪ B| ≈ |A| / |B| ≈ 0`, so MinHash/LSH
  * Jaccard pipelines ([[Dedup.ngramJaccardPairs]]) never surface it.
  * Boilerplate-wrapped mirrors, quote-inflated posts, and
  * doc-in-anthology duplication are all containment-shaped; corpus
  * curation needs both measures.
  *
  * Reference analogue: the reference's dedup stage is whole-document
  * (`/root/reference/Requirements/ExamplePipelineCode.md` drops exact
  * duplicates only); containment extends it the same way the Jaccard
  * pack does, as a superset operator over the shared shingle machinery
  * ([[ShingleHashes]]).
  *
  * Two forms, provably equal (ContainmentSpec pins it):
  *
  *  - [[containmentPairs]] — full shingle self-join; O(sum over
  *    shingle buckets squared). The small-scale oracle form.
  *  - [[containmentPairsPrefix]] — the 100 TB path: PPJoin-style
  *    prefix filtering (Chaudhuri et al., "A Primitive Operator for
  *    Similarity Joins", ICDE 2006 — public literature). EXACT, not
  *    approximate: LSH banding loses containment pairs by design
  *    (the signatures estimate Jaccard), but the prefix filter's
  *    pigeonhole bound loses nothing, so the scale path needs no
  *    recall contract.
  *
  * Prefix-filter correctness: order every shingle by (corpus document
  * frequency ASC, hash ASC) — a global total order that puts the
  * RAREST shingles first. For a document A with `na` distinct shingles
  * and threshold `t`, any qualifying partner shares at least
  * `alpha = ceil(t * na)` of them (containment uses min(|A|,|B|), so
  * the bound holds whenever A is the smaller side, and each unordered
  * pair is generated from its smaller member). If a partner missed all
  * of A's first `na - alpha + 1` shingles in that order, it could
  * share at most `alpha - 1` — contradiction. So joining only the
  * prefix against the full shingle table finds every qualifying pair,
  * and because prefixes hold the rarest shingles, bucket sizes stay
  * small: the join cost tracks the frequency of RARE grams, not hot
  * ones.
  *
  * PRECONDITION (review r18): `idCol` values must be UNIQUE per
  * input frame. Shingle distinctness is per ROW; duplicate ids merge
  * their rows' shingle multisets, inflating `n_sh` and producing
  * containment values above 1.0 — garbage ratios both forms agree on
  * (so the parity spec cannot catch it) with no error raised.
  * Deduplicate by id upstream ([[Dedup.exactDedup]]) if ids can
  * repeat.
  */
object Containment {

  /** Exact all-pairs containment over distinct word-n-gram shingle
    * hashes: `(id_a, id_b, containment)` with `id_a < id_b` and
    * `containment = shared / least(na, nb) >= threshold`.
    * Small-scale oracle form — the self-join on `g` is quadratic in
    * hot-shingle bucket sizes; use [[containmentPairsPrefix]] beyond
    * toy scale.
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    containmentPairsAllPairsDetailed(df, textCol, idCol, n, threshold)
      .select("id_a", "id_b", "containment")
  }

  private def requireThreshold(threshold: Double): Unit =
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold $threshold must be in (0, 1]")

  private def containmentPairsAllPairsDetailed(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val sh = shingleTable(df, textCol, idCol, n)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val a = sh.toDF("id_a", "g")
    val b = sh.toDF("id_b", "g")
    val shared = a.join(b, "g").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    withContainment(shared, sizes, threshold)
  }

  /** The scale path: prefix-filtered candidate generation + exact
    * verification. Equal to [[containmentPairs]] row for row on any
    * input (see object scaladoc for the pigeonhole argument); the
    * shuffle joins touch only (8-byte hash, id) pairs, never text.
    *
    * Plan shape at 100 TB: one shingle scan, one doc-frequency
    * aggregate on `g`, one per-document rank window (partitioned by
    * `id` — no global window), a prefix⋈full equi-join on `g` whose
    * build side is the rarest-shingle slice, then PAIR-grain
    * verification: candidates join the two per-document shingle-SET
    * rows (one `array_intersect` per pair — the set rows carry the
    * same (id, g) bytes an expansion join would, in |cand| rows
    * instead of Σ|A|). Documents whose every shingle is hot
    * still pay that bucket's cost — that is the measure's intrinsic
    * price, not a plan defect (their qualifying partners genuinely
    * live in those buckets). The checkpointed shingle table lives as
    * long as the enclosing [[graft.core.CacheScope]].
    */
  def containmentPairsPrefix(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    containmentPairsPrefixDetailed(df, textCol, idCol, n, threshold)
      .select("id_a", "id_b", "containment")

  /** The rarest-first prefix slice both prefix paths share (review
    * r18: previously two hand-synced copies of the window block and
    * the pigeonhole length formula). Order: document frequency ASC,
    * hash ASC; prefix length `nsh - ceil(nsh*t - 1e-9) + 1` — the
    * 1e-9 slack guards the float product rounding a hair ABOVE the
    * exact value (which would push ceil one too high and the prefix
    * one too short, risking a pair sitting exactly at the threshold);
    * erring toward a longer prefix only adds candidates, never loses
    * any. `absentAsZero` is the cross-corpus variant's rule: a batch
    * shingle the reference has never seen (no dfreq row) ranks FIRST
    * (dfreq 0) — it fills the prefix while generating zero candidates.
    */
  private def prefixSlice(
      sh: DataFrame, dfreq: DataFrame, threshold: Double, absentAsZero: Boolean): DataFrame = {
    val joined =
      if (absentAsZero) sh.join(dfreq, Seq("g"), "left").na.fill(0L, Seq("__dfreq"))
      else sh.join(dfreq, "g")
    // Both window functions share the partition-by-id exchange (the
    // unordered count rides the rank's partitioning), so the per-doc
    // set size costs no extra aggregate+join.
    joined
      .withColumn("__rk",
        row_number().over(Window.partitionBy("id").orderBy(col("__dfreq").asc, col("g").asc)))
      .withColumn("__nsh", count(lit(1)).over(Window.partitionBy("id")))
      .withColumn("__plen",
        col("__nsh") - ceil(col("__nsh") * lit(threshold) - lit(1e-9)) + lit(1L))
      .filter(col("__rk") <= col("__plen"))
      .select("id", "g")
  }

  private def containmentPairsPrefixDetailed(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    requireThreshold(threshold)
    // EAGER localCheckpoint, not a lazy persist: the shingle table
    // feeds ~4 independent plan branches (dfreq, the prefix join, the
    // candidate full side, the per-doc set aggregate), and AQE
    // materializes those leaf stages concurrently — under a lazy
    // persist they raced the unfilled cache and the scan+Generate
    // re-ran (or block-waited) once per branch (measured r20: seven
    // sequential ~0.22 s single-task scan jobs on q82's profile).
    // Checkpointing runs the shingling exactly once, up front; every
    // branch then reads the materialized blocks. (Receipt r19 #5: an
    // eager count() fill regressed q86 — the checkpoint replaces the
    // cache entirely instead of pre-filling it.)
    val sh = CacheScope.checkpoint(df.sparkSession)(shingleTable(df, textCol, idCol, n))

    // Global shingle order + pigeonhole prefix length: see
    // prefixSlice (the ONE definition both prefix paths share)
    val dfreq = sh.groupBy("g").agg(count(lit(1)).as("__dfreq"))
    val prefix = prefixSlice(sh, dfreq, threshold, absentAsZero = false)

    // Candidates: a prefix shingle of EITHER member matches the other
    // member's full set. Generating from both sides' prefixes is
    // slightly redundant (the smaller side's prefix suffices) but
    // keeps the plan one symmetric join; distinct() collapses the
    // duplicates before verification pays anything.
    //
    // Tried and MEASURED SLOWER (round 15, keep the receipt): carrying
    // __nsh onto the full side to enforce the smaller-side restriction
    // at join time (filter prefix.n <= full.n before distinct) needs
    // the full side to grow from the window branch too, and that
    // duplicated window work cost 1.5-2.3x at x10-x30 in BENCH_scale
    // (containment_prefix 18.7 -> 43.9 s at x10) while cutting few
    // candidates here — near-dup corpora pair docs of SIMILAR size, so
    // the spurious direction the filter removes is rare. Revisit only
    // with a size-skewed fixture that shows the spurious half
    // dominating verification.
    val cand = prefix.toDF("id_a", "g")
      .join(sh.toDF("id_b", "g"), "g")
      .filter(col("id_a") =!= col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()

    // Exact verification on candidates only, at PAIR grain: join each
    // candidate to the two documents' shingle SETS and count the
    // intersection with one array_intersect per pair. Identical counts
    // to the former re-join-each-shingle form (collect_set over the
    // per-row-distinct shingle table IS the document's shingle set;
    // |A∩B| is what the groupBy count computed), but the plan touches
    // |cand| rows instead of Σ_cand |A| expanded rows — measured r20
    // at sf0.1: 180,718 candidates would have fanned out to 11.5 M
    // join-probe rows for 256 final pairs, and that expansion stage
    // was q82/q86's single hottest stage (~3.4 s of task time at 32c;
    // guide §2.3 shuffle/process fewer bytes, §3.3 explode-then-join).
    // The set payloads are the same (id, g) bytes the expansion
    // carried, just array-packed — n_sh is size(gs), so the separate
    // sizes aggregate disappears with the expansion joins.
    val sets = sh.groupBy("id").agg(collect_set(col("g")).as("gs"))
    cand
      .join(sets.toDF("id_a", "gs_a"), "id_a")
      .join(sets.toDF("id_b", "gs_b"), "id_b")
      .select(
        col("id_a"), col("id_b"),
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("long").as("shared"),
        size(col("gs_a")).cast("long").as("na"),
        size(col("gs_b")).cast("long").as("nb"))
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment", "na", "nb")
  }

  /** `(id, g)` — shingle-hash table, distinct PER ROW
    * ([[ShingleHashes]] dedups within a document; the object-level
    * unique-id precondition is what makes it distinct per id).
    * Documents with fewer than `n` tokens contribute no rows (empty
    * shingle set ⇒ they can never reach any containment threshold
    * > 0, same contract as the Jaccard path).
    */
  private def shingleTable(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      explode(ShingleHashes.shingleHashes(col(textCol), n)).as("g"))

  private def withContainment(shared: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    shared
      .join(sizes.toDF("id_a", "na"), "id_a")
      .join(sizes.toDF("id_b", "nb"), "id_b")
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment", "na", "nb")

  /** Containment RESOLUTION: the caller's frame minus every document
    * that is >= `threshold` contained in a strictly LARGER document
    * (more distinct shingles; equal sizes — mutual containment, i.e.
    * near-identical docs — drop the larger id, matching the exact-dup
    * keep-smallest convention). The size order makes the drop relation
    * acyclic, so each containment chain's largest member always
    * survives with no union-find pass: resolution is one projection
    * over the (already output-bounded) pair set plus a left-anti join
    * back — nothing here grows faster than the pair mining itself.
    */
  def dropContained(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val losers = containmentPairsPrefixDetailed(df, textCol, idCol, n, threshold)
      .select(
        when(col("na") < col("nb"), col("id_a"))
          .when(col("nb") < col("na"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as("__loser"))
      .distinct()
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** Containment ACROSS two corpora — the COVERAGE pair miner behind
    * [[dropSeenContained]]: `(id_a from batch, id_b from ref,
    * containment)` where `containment = |A ∩ B| / |A|`, the
    * ASYMMETRIC form — how much of the NEW document's shingle set a
    * reference document already covers. This is deliberately not the
    * symmetric `/ least(na, nb)` of [[containmentPairs]]: an ingest
    * gate asks "is this arrival mostly old content?" (a quote-heavy
    * re-scrape of an indexed page), and a tiny reference snippet
    * inside a huge new document must NOT gate it.
    *
    * Id spaces are independent (no `id_a < id_b`); output pairs are
    * EXACT — the prefix filter loses nothing (pigeonhole: coverage >=
    * t needs `alpha = ceil(t*na)` shared shingles, so a qualifying
    * reference doc must intersect the first `na - alpha + 1` of A's
    * shingles under ANY fixed global order). The prefix lives on the
    * BATCH side only and is ordered by REFERENCE document frequency
    * ascending, so in the gate regime (small batch, huge reference)
    * the candidate join probes `batch-prefix x ref` — and a batch
    * shingle the reference has never seen (dfreq 0, ranked first)
    * fills prefixes while generating ZERO candidates.
    */
  def containmentPairsAgainst(
      batch: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    // eager checkpoints, not lazy persists — each table feeds 3 plan
    // branches whose AQE stages raced the unfilled cache (same
    // mechanism and measurement as containmentPairsPrefixDetailed)
    val shA = CacheScope.checkpoint(batch.sparkSession)(shingleTable(batch, textCol, idCol, n))
    val shB = CacheScope.checkpoint(batch.sparkSession)(shingleTable(ref, textCol, idCol, n))
    // rarest-in-reference first; absent shingles rank as dfreq 0 —
    // see prefixSlice (the ONE definition both prefix paths share)
    val dfreqRef = shB.groupBy("g").agg(count(lit(1)).as("__dfreq"))
    val cand = prefixSlice(shA, dfreqRef, threshold, absentAsZero = true)
      .toDF("id_a", "g")
      .join(shB.toDF("id_b", "g"), "g")
      .select("id_a", "id_b")
      .distinct()
    // pair-grain set-intersection verification — same restructuring
    // and measurement as containmentPairsPrefixDetailed (one
    // array_intersect per candidate instead of a |A|-way expansion
    // join; na is size(gs_a), so the separate count aggregate folds in)
    val setsA = shA.groupBy("id").agg(collect_set(col("g")).as("gs"))
    val setsB = shB.groupBy("id").agg(collect_set(col("g")).as("gs"))
    cand
      .join(setsA.toDF("id_a", "gs_a"), "id_a")
      .join(setsB.toDF("id_b", "gs_b"), "id_b")
      .select(
        col("id_a"), col("id_b"),
        (size(array_intersect(col("gs_a"), col("gs_b"))).cast("double") /
          size(col("gs_a")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** The COVERAGE ingest gate — keep only the batch rows whose
    * shingle set is NOT >= `threshold` covered by any single
    * reference document ([[containmentPairsAgainst]] finds the seen
    * ids, one anti join removes them). EXACT, like every containment
    * API here (the prefix filter is lossless); batch rows with no
    * shingles (< n tokens, empty, null) are KEPT — the family-wide
    * rule: an unhashable row cannot be proven seen. Note the
    * per-single-document semantics: a new doc stitched together from
    * MANY reference docs (each covering a small fraction) passes —
    * that composition is what [[graft.text.Decontamination]]'s
    * aggregate n-gram overlap measures instead.
    */
  def dropSeenContained(
      batch: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val seen = containmentPairsAgainst(batch, ref, textCol, idCol, n, threshold)
      .select(col("id_a").as("__seen_id")).distinct()
    batch.join(seen, batch(idCol) === col("__seen_id"), "left_anti")
  }
}
