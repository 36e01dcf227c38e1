package graft.text

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Cross-document repeated-span statistics — the seed-detection stage
  * of substring-level dedup (find K-token spans that occur in more
  * than one document, score each document by how much of it is
  * duplicated content; public lineage: the "train-set substring
  * duplication" analyses around GPT-2/GPT-3 era corpora and the
  * suffix-array dedup line of work, re-expressed as relational
  * algebra). Whole-document dedup ([[graft.dedup.Dedup]]) misses
  * boilerplate shared between otherwise-distinct pages; this operator
  * measures exactly that.
  *
  * Scale shape: the position stream is one row per token (bounded by
  * corpus token count, linear); it aggregates to the DISTINCT
  * `(span, doc)` grain immediately — with map-side partial
  * aggregation — before anything joins, and the span-level document
  * count joins back on the SAME key the aggregate just shuffled on,
  * so AQE plans the whole middle co-partitioned. Nothing here is
  * quadratic: a span shared by D documents costs D rows, not D^2
  * pairs (contrast pairwise near-dup mining).
  *
  * Span keys are the raw span TEXT so the result is engine-neutral
  * (the DuckDB oracle groups on the same strings). A 100 TB run
  * would key the two shuffles on `xxhash64(span)` instead (8-byte
  * keys vs ~50-byte strings; a 64-bit collision merges two spans'
  * stats, harmless for a filter signal) — same plan shape, so the
  * oracle-checked form here is the scale form.
  */
object RepeatedSpans {

  /** `(idCol, pos, span)` — every 1-based K-token span start position
    * with its span text; documents shorter than one span contribute no
    * rows. One Generate per document, no shuffle (see [[docDupStats]]
    * on the empty-array guard — `sequence(1, 0)` counts DOWN).
    */
  def spanPositions(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).as("__n"))
      .select(
        col(idCol),
        posexplode(
          when(col("__n") >= k,
            transform(
              sequence(lit(1), col("__n") - lit(k - 1)),
              i => array_join(slice(col("__toks"), i, lit(k)), " ")))
            .otherwise(array().cast("array<string>"))).as(Seq("__p0", "span")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("span"))
  }

  /** Span-level corpus snapshot: `(span, n_docs, keeper)` — how many
    * DISTINCT documents each span occurs in, and the `min(doc_id)`
    * keeper. Compute once per corpus release and persist: it is the
    * static side of [[pruneSpansWith]] and of the streaming
    * `repeatedSpansStream`; [[docDupStats]] and [[pruneSpans]] derive
    * the same table inline.
    */
  def spanFrequency(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    spanPositions(df, textCol, idCol, k)
      .groupBy(col("span"), col(idCol)).agg(count(lit(1)).as("__occ"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper"))

  /** Substring-level dedup, stage 2 (after [[docDupStats]] detects):
    * REMOVE every token covered by a cross-document duplicated K-token
    * span, keeping the span's content only in its keeper document
    * (`min(doc_id)` among the documents containing it) — the
    * document-granularity relaxation of "keep exactly one occurrence
    * corpus-wide" (the classic substring-dedup policy needs a global
    * occurrence order; keeping the whole keeper document intact keeps
    * the semantics deterministic and relational). With
    * `keepFirst = false` the keeper exemption is dropped — pure
    * boilerplate scrubbing, covered content removed everywhere.
    *
    * Returns `(doc_id, n_tokens, n_removed, pruned_text)`.
    *
    * Scale shape: same linear grains as [[docDupStats]] — position
    * stream -> distinct `(span, doc)` -> span-level keeper table ->
    * join back on span, then ONE per-doc aggregate collecting the
    * sorted removal starts. Token removal itself is array algebra with
    * NO token-grain shuffle: K-token covered intervals from sorted
    * starts have monotone ends, so the kept text is the flatten of
    * `zip_with(gapLos, gapHis, slice)` — linear per row, no struct
    * state, no per-token membership scan (an `exists(starts, ...)`
    * per token would go quadratic on heavily-duplicated documents).
    */
  def pruneSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      minDocs: Int = 2,
      keepFirst: Boolean = true): DataFrame =
    pruneSpansWith(df, spanFrequency(df, textCol, idCol, k), textCol, idCol, k, minDocs, keepFirst)

  /** [[pruneSpans]] against a SUPPLIED span-frequency snapshot
    * `(span, n_docs, keeper)` ([[spanFrequency]] of a corpus release):
    * a document keeps a flagged span only if the snapshot names it the
    * keeper, so a document new to the snapshot loses all flagged
    * content — the semantics for incremental corpus growth. A null
    * keeper never matches, so under `keepFirst = true` its span is
    * kept everywhere; `keepFirst = false` scrubs it everywhere.
    */
  def pruneSpansWith(
      df: DataFrame,
      spanFreq: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      minDocs: Int = 2,
      keepFirst: Boolean = true): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    require(minDocs >= 2, s"minDocs=$minDocs: a span is 'repeated' across >= 2 documents")
    val toksDf = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).as("__n"))
    val flagged = spanFreq
      .filter(col("n_docs") >= minDocs)
      .select(col("span"), col("keeper").as("__keeper"))
    val hits = spanPositions(df, textCol, idCol, k).join(flagged, "span")
    val removedAt = (if (keepFirst) hits.filter(col(idCol) =!= col("__keeper")) else hits)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    val starts = coalesce(col("__starts"), array().cast("array<int>"))
    // Gap algebra: sorted starts of equal-length-K intervals have
    // monotone ends, so the running coverage end is always the
    // PREVIOUS start's end — candidate gap j sits between interval
    // j-1's end and interval j's start (plus a head gap before the
    // first start and a tail gap after the last). Empty/overlapping
    // gaps clamp to length 0 inside slice.
    val gapLos = transform(
      concat(array(lit(0)), transform(starts, s => s + lit(k - 1))), e => e + 1)
    val gapHis = concat(transform(starts, s => s - 1), array(col("__n")))
    val kept = flatten(zip_with(gapLos, gapHis,
      (lo, hi) => slice(col("__toks"), lo, greatest(hi - lo + 1, lit(0)))))
    toksDf
      .join(removedAt, Seq(idCol), "left")
      .select(
        col(idCol),
        col("__n").as("n_tokens"),
        (col("__n") - size(kept)).as("n_removed"),
        array_join(kept, " ").as("pruned_text"))
  }

  /** Per-document duplicated-span stats: `(doc_id, n_spans,
    * dup_spans, dup_ratio)` where `n_spans = max(n_tokens - k + 1,
    * 0)` is the document's span positions, `dup_spans` counts
    * positions whose K-token span occurs in >= `minDocs` DISTINCT
    * documents, and `dup_ratio = dup_spans / n_spans` (0 for
    * documents shorter than one span). Unsorted (production form).
    */
  def docDupStats(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      minDocs: Int = 2): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    require(minDocs >= 2, s"minDocs=$minDocs: a span is 'repeated' across >= 2 documents")
    val toksDf = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).as("__n"))
    // Bind the span array once per row, then explode: one Generate,
    // no shuffle until the aggregate below. Documents shorter than one
    // span contribute no positions (the `when` guard — Spark's
    // `sequence(1, 0)` would count DOWN, not produce empty).
    val spans = toksDf
      .select(
        col(idCol),
        explode(
          when(col("__n") >= k,
            transform(
              sequence(lit(1), col("__n") - lit(k - 1)),
              i => array_join(slice(col("__toks"), i, lit(k)), " ")))
            .otherwise(array().cast("array<string>"))).as("span"))
    // (span, doc) grain with occurrence counts — the ONLY pass over
    // the full position stream; everything after runs on the distinct
    // grain, co-partitioned on span.
    val spanDoc = spans.groupBy(col("span"), col(idCol)).agg(count(lit(1)).as("occ"))
    val spanDocs = spanDoc.groupBy(col("span")).agg(count(lit(1)).as("n_docs"))
    val perDocDup = spanDoc
      .join(spanDocs.filter(col("n_docs") >= minDocs), "span")
      .groupBy(col(idCol))
      .agg(sum(col("occ")).as("__dup"))
    toksDf
      .join(perDocDup, Seq(idCol), "left")
      .select(
        col(idCol),
        greatest(col("__n") - lit(k - 1), lit(0)).as("n_spans"),
        coalesce(col("__dup"), lit(0L)).cast("int").as("dup_spans"),
        when(col("__n") >= k,
          coalesce(col("__dup"), lit(0L)).cast("double") / (col("__n") - lit(k - 1)))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }
}
