package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast => bcast, _}

/** BPE tokenizer ENCODING — the step that turns a curated corpus into
  * the token-id sequences a training run actually consumes, completing
  * the tokenizer story [[BpeStats]] starts (corpus pair statistics →
  * trained merges → per-document ids). Public algorithm: Sennrich et
  * al. 2016.
  *
  * Scale shape (same discipline as [[BpeStats]]): the imperative merge
  * loop runs ONCE PER DISTINCT WORD on a vocab-grain table — its cost
  * is bounded by vocabulary size (Heaps' law), not corpus size — and
  * corpus-grain work is a broadcast join of positionally-exploded
  * words against that `(word → ids)` table plus one `groupBy(doc)`
  * reassembly exchange. The model itself (base chars + merge ranks +
  * vocab ids) is control-plane-sized and ships as one broadcast.
  *
  * Token ids are assigned deterministically: base symbols (every
  * distinct character in the corpus, plus [[BpeStats.EndOfWord]])
  * sorted lexicographically get ids `0..B-1`, then each merge's fused
  * symbol takes the next id in TRAINING ORDER (a fused string already
  * seen — e.g. `(a,bc)` and `(ab,c)` both yielding `abc` — keeps its
  * first id). Because base symbols cover every corpus character,
  * encoding never needs an UNK token: any word outside the capped
  * training vocabulary still segments into in-vocab symbols.
  */
object BpeTokenizer {

  /** Trained tokenizer: ordered merges, symbol→id vocabulary, and the
    * id→symbol inverse for decoding.
    */
  final case class BpeModel(
      merges: Seq[(String, String)],
      vocab: Map[String, Int],
      inverse: Array[String]) {
    def size: Int = inverse.length
    @transient lazy val ranks: Map[(String, String), Int] = merges.zipWithIndex.toMap
  }

  /** Train a tokenizer on the corpus: one vocab-grain word-frequency
    * pass, one bounded-distinct character pass (the base alphabet —
    * Unicode-bounded at any corpus scale), then driver-side merge
    * training over the deterministically capped top-`maxVocab` slice
    * ([[BpeStats.trainMerges]]).
    */
  def fit(df: DataFrame, textCol: String, numMerges: Int, maxVocab: Int = 10000): BpeModel = {
    val capped = BpeStats.cappedVocab(df, textCol, maxVocab)
    val merges = BpeStats.trainMerges(capped, numMerges).map(_._1)
    // base alphabet from the WHOLE corpus (not just the capped slice):
    // guarantees every word — including tail words the cap dropped —
    // segments into in-vocab symbols. Distinct-chars is vocab-grain
    // after the same word aggregation wordFrequencies performs.
    val baseChars = BpeStats.wordFrequencies(df, textCol)
      .select(explode(split(col("w"), "")).as("c"))
      .filter(length(col("c")) > 0)
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted(Ordering.String)
    val base = (baseChars :+ BpeStats.EndOfWord).distinct
    val vocab = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    base.foreach(s => vocab.getOrElseUpdate(s, vocab.size))
    merges.foreach { case (l, r) => vocab.getOrElseUpdate(l + r, vocab.size); () }
    val inverse = new Array[String](vocab.size)
    vocab.foreach { case (s, i) => inverse(i) = s }
    BpeModel(merges, vocab.toMap, inverse)
  }

  /** Per-document token-id sequences: `(idCol, token_ids, n_bpe_tokens)`.
    * Documents with no words (empty / all-separator text) keep an
    * empty array. Word order is preserved via a positional explode and
    * an `array_sort(collect_list(struct(pos, ids)))` reassembly — one
    * corpus-grain exchange on the document id; the segmentation UDF
    * only ever sees the distinct-word table.
    *
    * SCAN NOTE: the vocab-grain branch and the positional branch are
    * separate subtrees over `df`, so the text column is read twice
    * (the id-only left join prunes to the id column). The trade is
    * deliberate: the alternative — segmenting per OCCURRENCE in one
    * pass — re-runs the merge loop corpus/vocab times more often,
    * which dwarfs a second columnar scan at any realistic ratio.
    * Callers whose `df` is an expensive computed plan (not a source
    * scan) should persist it first.
    */
  def encode(df: DataFrame, textCol: String, idCol: String, model: BpeModel): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val segIds = udf { (w: String) =>
      val m = bc.value
      segmentChecked(w, m).map(m.vocab).toArray
    }
    val words = positionedWords(df, textCol, idCol)
    val vocabSeg = words.select(col("__bp_w")).distinct()
      .withColumn("__bp_ids", segIds(col("__bp_w")))
    val encoded = words
      .join(bcast(vocabSeg), Seq("__bp_w"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__bp_pos"), col("__bp_ids")))),
        s => s.getField("__bp_ids"))).as("token_ids"))
    joinBackNullSafe(df.select(col(idCol)), encoded, idCol)
      .withColumn("token_ids",
        coalesce(col("token_ids"), lit(Array.emptyIntArray)))
      .withColumn("n_bpe_tokens", size(col("token_ids")).cast("long"))
  }

  /** `df` plus `n_bpe_tokens` — [[encode]]'s token COUNT without
    * materializing the id arrays, for pipelines that pack or batch by
    * what an accelerator actually pays (BPE tokens) rather than
    * whitespace words (whitespace counts misestimate bin occupancy on
    * any non-English or code corpus; the gap is exactly the
    * tokens-per-word fertility). The count is defined as the length
    * of [[encode]]'s `token_ids` for the same model — including the
    * drift check: a word whose segmentation leaves the vocabulary
    * (corpus drifted since fit) throws the same error encode would,
    * rather than silently counting tokens an encode could not emit.
    *
    * Scale shape, same as [[encode]]: the merge loop runs once per
    * DISTINCT word (vocab grain), the corpus pays one broadcast join
    * + one per-doc sum, and the counts rejoin the caller's frame with
    * a null-safe `idCol` join (wordless documents count 0; a null id
    * is one key like any other — see [[joinBackNullSafe]]). `idCol`
    * must be globally unique — it keys the join back.
    */
  def countsFromModel(
      df: DataFrame,
      textCol: String,
      idCol: String,
      model: BpeModel): DataFrame = {
    require(!df.columns.contains("n_bpe_tokens"),
      "input must not contain reserved column n_bpe_tokens")
    val words = positionedWords(df, textCol, idCol)
    val counts = words
      .join(bcast(vocabTokenCounts(words, model)), Seq("__bp_w"))
      .groupBy(col(idCol))
      .agg(sum(col("__bp_n")).as("n_bpe_tokens"))
    joinBackNullSafe(df, counts, idCol)
      .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
  }

  /** `(idCol, __bp_pos, __bp_w)` — THE word grain every count/encode/
    * chunk facade shares: split on single spaces, drop empty tokens,
    * keep the 0-based text position. One definition so the count and
    * chunk grains can never silently diverge on separator semantics.
    *
    * NULL ids are one key like any other: the facades join their
    * aggregates back NULL-SAFELY ([[joinBackNullSafe]]), so a single
    * null-id document gets its real count/ids — a plain equi-join
    * would silently stamp it 0 tokens / an empty array. Several
    * null-id documents merge, exactly as several rows sharing any
    * other id would — the uniqueness contract, not a null special
    * case.
    */
  private[text] def positionedWords(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("__bp_pos", "__bp_w")))
      .filter(length(col("__bp_w")) > 0)

  /** Left-join a per-id aggregate (column `idCol` + payload) back onto
    * `df` with NULL-SAFE key equality — the one join-back every facade
    * uses, so none can silently drop a null-id document's aggregate
    * (a null key never plain-equi-joins; `<=>` matches it).
    */
  private[text] def joinBackNullSafe(df: DataFrame, agg: DataFrame, idCol: String): DataFrame = {
    require(!df.columns.contains("__bp_id"),
      "input must not contain reserved column __bp_id")
    df.join(agg.withColumnRenamed(idCol, "__bp_id"),
      col(idCol) <=> col("__bp_id"), "left").drop("__bp_id")
  }

  /** `(__bp_w, __bp_n)` — the BPE token count of every DISTINCT word
    * in `words`' `__bp_w` column: the vocab-grain table every
    * count-by-model consumer ([[countsFromModel]],
    * [[graft.text.Chunking.chunksByBpe]]) broadcasts back onto its
    * corpus-grain rows, so the segmenting merge loop runs once per
    * distinct word regardless of corpus size. Fails the same way
    * [[encode]] would on a word whose segmentation leaves the
    * vocabulary (corpus drifted since fit).
    */
  private[text] def vocabTokenCounts(words: DataFrame, model: BpeModel): DataFrame = {
    val bc = words.sparkSession.sparkContext.broadcast(model)
    val segLen = udf { (w: String) => segmentChecked(w, bc.value).length.toLong }
    words.select(col("__bp_w")).distinct()
      .withColumn("__bp_n", segLen(col("__bp_w")))
  }

  /** [[BpeStats.segmentWord]] plus the two encode-path contracts every
    * count/encode/chunk facade shares: the in-band end-of-word-marker
    * rejection ([[requireNoMarker]]) and the vocab drift check (a
    * segmentation symbol outside the model's vocabulary means the
    * corpus drifted since fit — fail rather than count/emit tokens an
    * encode could not produce). ONE definition so the call sites
    * can never silently diverge on the failure contract.
    */
  private[text] def segmentChecked(w: String, m: BpeModel): Seq[String] = {
    requireNoMarker(w)
    val segs = BpeStats.segmentWord(w, m.ranks)
    segs.foreach { s =>
      if (!m.vocab.contains(s)) throw new IllegalStateException(
        s"symbol '$s' not in vocab — corpus drifted since fit (new character?)")
    }
    segs
  }

  /** Persist a trained model as plain parquet — two tiny tables a
    * release ships next to its shards: `vocab/` (id, symbol) and
    * `merges/` (rank, lhs, rhs). Everything [[BpeModel]] holds is
    * reconstructible from them, so [[load]] round-trips exactly
    * (spec-pinned) and any other engine can read the tokenizer.
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: BpeModel, path: String): Unit = {
    import spark.implicits._
    model.inverse.zipWithIndex.map { case (s, i) => (i, s) }.toSeq
      .toDF("id", "symbol")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/vocab")
    model.merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
  }

  /** Inverse of [[save]]: rebuild the model from its parquet tables.
    * Fails fast on a corrupt vocabulary (non-dense ids or duplicate
    * symbols) rather than mis-tokenizing silently.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): BpeModel = {
    val vocabRows = spark.read.parquet(s"$path/vocab")
      .select(col("id").cast("int"), col("symbol"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    require(vocabRows.nonEmpty, s"$path/vocab is empty")
    val inverse = new Array[String](vocabRows.length)
    vocabRows.foreach { case (i, s) =>
      require(i >= 0 && i < inverse.length, s"vocab id $i out of range (non-dense ids?)")
      require(inverse(i) == null, s"duplicate vocab id $i")
      inverse(i) = s
    }
    val vocab = inverse.zipWithIndex.toMap
    require(vocab.size == inverse.length, "duplicate vocab symbol")
    val merges = spark.read.parquet(s"$path/merges")
      .select(col("rank").cast("int"), col("lhs"), col("rhs"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    BpeModel(merges, vocab, inverse)
  }

  /** A word containing the literal end-of-word marker would decode
    * ambiguously (its in-band `</w>` is indistinguishable from a word
    * boundary, silently corrupting the round trip), so both encode
    * paths fail fast instead. Pre-clean such corpora (e.g. map the
    * marker to an escape) before tokenizing.
    */
  private[text] def requireNoMarker(w: String): Unit =
    if (w.contains(BpeStats.EndOfWord)) throw new IllegalArgumentException(
      s"word '$w' contains the reserved end-of-word marker '${BpeStats.EndOfWord}' — " +
        "decode would be ambiguous; escape or strip it before encoding")

  /** Inverse of [[encode]]: token ids back to text. Exact round-trip
    * up to separator normalization — `decode(encode(x)) ==
    * single-spaced x` — because BPE merging is lossless (symbols
    * concatenate back to the characters) and [[BpeStats.EndOfWord]]
    * marks every word boundary. PRECONDITION: no word contains the
    * literal marker string (encode rejects such words up front — see
    * [[requireNoMarker]]).
    */
  def decode(encoded: DataFrame, tokenIdsCol: String, model: BpeModel): DataFrame = {
    val bc = encoded.sparkSession.sparkContext.broadcast(model.inverse)
    val detok = udf { (ids: Seq[Int]) =>
      val inv = bc.value
      val sb = new StringBuilder
      ids.foreach { i => sb.append(inv(i)); () }
      // word-final markers become separators; trailing one is trimmed
      sb.toString.replace(BpeStats.EndOfWord, " ").stripSuffix(" ")
    }
    encoded.withColumn("decoded_text", detok(col(tokenIdsCol)))
  }
}
