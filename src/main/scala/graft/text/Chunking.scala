package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document chunking — fixed token windows with a stride — the prep
  * step every training/RAG pipeline runs between curation and
  * tokenization (context-length packing wants whole documents, chunked
  * retrieval and span-level filtering want windows; reference scope:
  * the reference stops at whole-document curation, so this is
  * north-star extension like the rest of the text pack).
  *
  * Chunk geometry: starts are `0, stride, 2*stride, ...` up to the
  * LAST start that still begins new content, `stride *
  * ceil((n_tokens - window) / stride)` (a document shorter than one
  * window yields exactly one chunk). The final chunk may be short;
  * every token lands in >= 1 chunk and consecutive chunks overlap by
  * `window - stride` tokens.
  *
  * Scale shape: one scan, one `posexplode` Generate per document, no
  * shuffle — the operator is embarrassingly parallel and the output is
  * `~n_tokens / stride` rows per document regardless of corpus size.
  * The token array and its size are bound ONCE per row before the
  * Generate (Catalyst re-evaluates structural references; see
  * [[TextAnalysis]]'s evaluation discipline).
  */
object Chunking {

  /** `(doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_text)` —
    * one row per chunk. Unsorted (production form); oracle queries
    * add their own total ORDER BY.
    */
  def chunks(
      df: DataFrame,
      textCol: String,
      idCol: String,
      window: Int,
      stride: Int): DataFrame = {
    require(window > 0, s"window=$window must be positive")
    require(stride > 0 && stride <= window,
      s"stride=$stride must be in [1, window=$window] (stride > window would drop tokens)")
    val toksDf = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).as("__n"))
    val lastStart: Column =
      floor((greatest(col("__n") - window, lit(0)) + lit(stride - 1)) / lit(stride))
        .cast("int") * stride
    toksDf
      .select(
        col(idCol),
        col("__toks"),
        col("__n"),
        posexplode(sequence(lit(0), lastStart, lit(stride))).as(Seq("chunk_idx", "start_tok")))
      .select(
        col(idCol),
        col("chunk_idx"),
        col("start_tok"),
        least(lit(window), col("__n") - col("start_tok")).as("n_chunk_tokens"),
        array_join(slice(col("__toks"), col("start_tok") + 1, lit(window)), " ").as("chunk_text"))
  }

  /** Chunking by TRAINED-TOKENIZER budget — the unit a context window
    * actually holds: split each document into consecutive word runs
    * whose BPE token totals fill a `budget`, assigning every word to
    * chunk `floor(tokens_before_word / budget)` (the same
    * crossing-allowed prefix-sum convention as the packing manifest:
    * a word whose tokens straddle a boundary starts the next chunk's
    * count but stays whole — words are never split). Whitespace-window
    * chunking ([[chunks]]) misprices context budgets on any
    * non-English or code corpus by exactly the tokens-per-word
    * fertility; this form prices them in the accelerator's own unit.
    *
    * Scale shape: the segmenting merge loop runs once per DISTINCT
    * word ([[BpeTokenizer.vocabTokenCounts]], broadcast back), the
    * per-document prefix sum is a window partitioned by `idCol` (no
    * global window), and chunk reassembly is one aggregate whose
    * ordered concat sorts WITHIN each chunk's collected struct array.
    * Wordless documents yield no chunks (nothing to budget). `idCol`
    * must be globally unique (same contract as
    * [[BpeTokenizer.countsFromModel]]) — duplicate ids would merge
    * two documents' words into one prefix-sum partition and
    * interleave their chunks.
    *
    * Output: `(idCol, chunk_idx, n_words, n_tokens, chunk_text)`.
    */
  def chunksByBpe(
      df: DataFrame,
      textCol: String,
      idCol: String,
      model: BpeTokenizer.BpeModel,
      budget: Int): DataFrame = {
    require(budget > 0, s"budget=$budget must be positive")
    Seq("chunk_idx", "n_words", "n_tokens", "chunk_text",
      "__bp_pos", "__bp_w", "__bp_n", "__cum").foreach(c =>
      require(idCol != c && textCol != c,
        s"idCol/textCol must not collide with reserved column $c"))
    val words = BpeTokenizer.positionedWords(df, textCol, idCol)
    val counted = words
      .join(broadcast(BpeTokenizer.vocabTokenCounts(words, model)), Seq("__bp_w"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("__bp_pos"))
    counted
      .withColumn("__cum", sum(col("__bp_n")).over(byDoc))
      // integral `div`, not `/`: double division would round the
      // boundary word's chunk for prefix sums past 2^53
      .withColumn("chunk_idx", expr(s"(__cum - __bp_n) div $budget"))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("__bp_n")).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__bp_pos"), col("__bp_w")))),
          s => s.getField("__bp_w")),
          " ").as("chunk_text"))
  }
}
