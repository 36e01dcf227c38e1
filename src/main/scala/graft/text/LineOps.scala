package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line-grain curation — the two classic web-corpus passes that run
  * BETWEEN raw extraction and document-level dedup (public lineage:
  * C4's line-level heuristics in Raffel et al. 2020 §2.2 and the
  * repeated-line removal of MassiveText / RefinedWeb, which strip
  * navigation chrome, cookie banners and footers that whole-document
  * dedup cannot see and span-level dedup ([[RepeatedSpans]]) only
  * sees after tokenization blurs the line boundary).
  *
  * Scale shape, shared by both operators:
  *   - [[lineFilter]] is ROW-LOCAL: one `split` bound per row, the
  *     keep predicate evaluated per element of that one array, kept
  *     lines re-joined — zero shuffles, whole-stage codegen.
  *   - [[dedupLines]] shuffles only `(md5(line), doc_id, pos)` — a
  *     32-hex-char engine-portable key (the DuckDB oracle recomputes
  *     the same md5) plus two ints; the LINE TEXT itself never crosses
  *     an exchange. A line occurring in D documents costs D rows,
  *     never D^2 pairs (same linearity argument as
  *     [[RepeatedSpans.docDupStats]]). Reassembly is row-local array
  *     algebra against the original text column; the one doc-grain
  *     join that carries text is the final reassembly join, which any
  *     "rewrite every document" operator must pay.
  */
object LineOps {

  /** `(idCol, pos, line)`: every line with its 1-based position — one
    * Generate, no shuffle. Lines are `\n`-separated; empty lines are
    * positions too (they count toward `pos`).
    */
  def linePositions(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__p0", "line")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("line"))

  /** C4-style per-line quality gate (Raffel et al. 2020 §2.2): keep a
    * line iff it has >= `minWords` whitespace words, ends in terminal
    * punctuation (`.` `!` `?` `"` — when `requireTerminal`), and
    * contains none of `banned` (case-insensitive substring; the C4
    * paper drops lines mentioning javascript, cookie/policy chrome,
    * lorem ipsum). Returns `(idCol, n_lines, n_kept, clean)` with kept
    * lines re-joined by `\n`.
    *
    * Row-local — one split site, no shuffle; the whole gate inlines
    * into whole-stage codegen.
    */
  def lineFilter(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minWords: Int = 3,
      requireTerminal: Boolean = true,
      banned: Seq[String] = Seq("javascript", "cookie", "lorem ipsum")): DataFrame = {
    require(minWords >= 1, s"minWords=$minWords must be >= 1")
    val arr = split(col(textCol), "\n")
    def keep(l: Column): Column = {
      // count NON-EMPTY tokens: a bare size(split(l, " ")) counts the
      // empty strings repeated/leading spaces produce, so 'Buy  now.'
      // passed minWords=3 with two real words — and this gate runs on
      // RAW crawl text, before Normalize squeezes spaces (review r19)
      val words = size(filter(split(l, " "), w => w =!= "")) >= minWords
      val term =
        if (requireTerminal)
          l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")
        else lit(true)
      val clean = banned
        .map(b => !lower(l).contains(lit(b.toLowerCase)))
        .reduceOption(_ && _)
        .getOrElse(lit(true))
      words && term && clean
    }
    val kept = filter(arr, l => keep(l))
    df.select(
      col(idCol),
      size(arr).cast("int").as("n_lines"),
      size(kept).cast("int").as("n_kept"),
      array_join(kept, "\n").as("clean"))
  }

  /** Line-level corpus snapshot `(line_key, n_docs, keeper)`: how many
    * DISTINCT documents each line (of length >= `minChars`) occurs in,
    * and the `min(doc_id)` keeper. `line_key = md5(line)` — the key
    * that shuffles instead of the line text (engine-portable: DuckDB
    * computes the identical hex). Compute once per corpus release and
    * persist; [[dedupLinesAgainst]] joins against it, [[dedupLines]]
    * derives it inline.
    */
  def lineFrequency(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minChars: Int = 1): DataFrame =
    linePositions(df, textCol, idCol)
      .filter(length(col("line")) >= minChars)
      .select(col(idCol), md5(col("line").cast("binary")).as("line_key"))
      .groupBy(col("line_key"), col(idCol))
      .agg(count(lit(1)).as("__occ"))
      .groupBy(col("line_key"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper"))

  /** Cross-document repeated-line removal (MassiveText / RefinedWeb):
    * drop every line that occurs in >= `minDocs` DISTINCT documents,
    * keeping it only in its keeper document (`min(doc_id)`) when
    * `keepFirst`; `keepFirst = false` scrubs it everywhere (pure
    * boilerplate mode — same policy split as
    * [[RepeatedSpans.pruneSpans]]). Lines shorter than `minChars`
    * are exempt (never counted, never removed — blank separator lines
    * occur "everywhere" and must not be stripped by a dedup pass).
    *
    * Returns `(idCol, n_lines, n_removed, clean)`.
    *
    * Scale shape: the line stream aggregates `(line_key, doc)` ->
    * `line_key` with map-side combine (key = md5, never the text), the
    * flagged keys join back on the key they were just shuffled on
    * (co-partitioned under AQE), removal positions collapse to ONE
    * int-array row per affected document, and reassembly is row-local:
    * `filter(lines, (l, i) -> !array_contains(rm, i+1))` — O(L x R)
    * per row worst case, bounded by per-document line count, no
    * token-grain shuffle. Only the final doc-grain reassembly join
    * carries text, as any rewrite-every-document operator must.
    */
  def dedupLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Int = 2,
      keepFirst: Boolean = true,
      minChars: Int = 1): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs: a line is 'repeated' across >= 2 documents")
    val flagged = lineFrequency(df, textCol, idCol, minChars)
      .filter(col("n_docs") >= minDocs)
      .select(col("line_key").as("__k"), col("keeper").as("__keeper"))
    dedupAgainstFlagged(df, textCol, idCol, flagged, keepFirst, minChars)
  }

  /** [[dedupLines]] against a PRECOMPUTED flagged-line table
    * `(line_key [md5 hex], keeper [may be null])` — the snapshot form
    * ([[lineFrequency]] filtered to `n_docs >= minDocs`): production
    * pipelines score each corpus release against the previous
    * release's line table, and a stream scrubs arriving documents by
    * running it per micro-batch ([[graft.streaming.StreamingOps.perBatch]]
    * with `keepFirst = false`: a new document is never the first
    * occurrence of a line the snapshot already flagged). A null
    * `keeper` (or `keepFirst = false`) removes the line everywhere.
    */
  def dedupLinesAgainst(
      df: DataFrame,
      textCol: String,
      idCol: String,
      flaggedLines: DataFrame,
      keepFirst: Boolean = true,
      minChars: Int = 1): DataFrame = {
    val flagged = flaggedLines.select(
      col("line_key").as("__k"),
      (if (keepFirst && flaggedLines.columns.contains("keeper")) col("keeper")
       else lit(null).cast("long")).as("__keeper"))
    dedupAgainstFlagged(df, textCol, idCol, flagged, keepFirst, minChars)
  }

  private def dedupAgainstFlagged(
      df: DataFrame,
      textCol: String,
      idCol: String,
      flagged: DataFrame,
      keepFirst: Boolean,
      minChars: Int): DataFrame = {
    val lines = linePositions(df, textCol, idCol)
      .filter(length(col("line")) >= minChars)
      .select(col(idCol), col("pos"), md5(col("line").cast("binary")).as("__k"))
    val hits = lines.join(flagged, "__k")
    val removed = (if (keepFirst) hits.filter(col("__keeper").isNull || col(idCol) =!= col("__keeper"))
                   else hits)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__rm"))
    val arr = split(col(textCol), "\n")
    val rm = coalesce(col("__rm"), array().cast("array<int>"))
    val kept = filter(arr, (l, i) => !array_contains(rm, i + lit(1)))
    df.join(removed, Seq(idCol), "left")
      .select(
        col(idCol),
        size(arr).cast("int").as("n_lines"),
        size(rm).cast("int").as("n_removed"),
        array_join(kept, "\n").as("clean"))
  }
}
