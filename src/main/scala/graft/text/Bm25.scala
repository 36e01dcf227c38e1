package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast => bcast, _}

/** BM25 relevance scoring of a corpus against a query term set — the
  * retrieval primitive a training-data pipeline uses for targeted
  * corpus mining ("find documents about X for the curriculum") and
  * retrieval-based contamination checks (score the corpus against
  * eval-set keywords; engine addition beyond the reference surface).
  * Okapi BM25 in the Lucene form:
  *
  *   score(d) = sum_t idf(t) * tf(t,d) * (k1 + 1)
  *              / (tf(t,d) + k1 * (1 - b + b * dl(d) / avgdl))
  *   idf(t)   = ln((N - df(t) + 0.5) / (df(t) + 0.5) + 1)
  *
  * Determinism discipline (same as [[NgramLm]] / [[ImportanceResampling]]):
  * `idf` is rounded ONCE to integer microunits at the term grain,
  * each (term, doc) contribution is rounded ONCE to integer nanounits,
  * and the per-document score is an exact integer sum — no
  * order-dependent float summation, so the q61 oracle compares
  * hash-exact. All doubles derive from integers (tf, dl, df, N,
  * sum dl) through the same IEEE operations in the same order on both
  * engines; `ln` appears only under the micro-rounding.
  *
  * Scale shape: the query term set is CONTROL-PLANE-sized (a literal
  * `isin` prune applied before any shuffle — post-explode rows for
  * non-query terms never leave the map side). [[corpusStats]] is the
  * fit-time snapshot: N and sum(dl) collapse to ONE row collected
  * eagerly and entering every later expression as literals (the
  * [[NgramLm]] vocabulary-size discipline — a scalar subquery would
  * re-plan the corpus scan per reference). The scoring pass is then:
  * (doc, term) tf aggregate with map-side combine (the only
  * corpus-grain exchange; keys are ids and terms, text never
  * shuffles), a term-grain df/idf pass collapsing the corpus straight
  * to |terms| rows ([[fitIdf]] — broadcast back; never a re-shuffle
  * of the (doc, term) stream on the term key, which a common term
  * would skew onto one reducer), and a doc-grain sum. A
  * beyond-control-plane term set (scoring against a whole eval
  * corpus's vocabulary) should swap the literal prune for a broadcast
  * semi-join on a term table — the [[Decontamination.reportWith]]
  * regime switch; the aggregation algebra is unchanged.
  */
object Bm25 {

  /** Corpus-level constants of the BM25 formula, collected once
    * ([[corpusStats]]) and folded into score plans as literals.
    */
  final case class CorpusStats(nDocs: Long, sumDl: Long) {
    /** avgdl as both engines compute it: exact-integer casts, one
      * IEEE division.
      */
    def avgdl: Double = sumDl.toDouble / nDocs.toDouble
  }

  /** ONE aggregate over the doc-length grain (no shuffle wider than a
    * scalar agg): N and sum of whitespace-token document lengths. The
    * eager snapshot keeps later score plans literal-folded, exactly as
    * [[NgramLm.fit]] snapshots the vocabulary size.
    */
  def corpusStats(docs: DataFrame, textCol: String): CorpusStats = {
    // count(dl), not count(1): null-text docs have a NULL token count
    // and must be absent from BOTH n and sum_dl — counting them in n
    // only would silently deflate avgdl, and counting nothing leaves
    // an NPE unboxing the NULL sum
    val row = docs
      .select(TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))
      .agg(count(col("dl")).as("n"), sum(col("dl")).as("sum_dl"))
      .collect().head
    require(row.getLong(0) > 0,
      "Bm25.corpusStats: no documents with text (empty corpus or all-null column?) — cannot derive avgdl")
    CorpusStats(row.getLong(0), row.getLong(1))
  }

  /** The term-grain idf table `(w, df, idf_micro)` for `terms` —
    * derived from the corpus, |terms| rows, always broadcastable.
    * Exposed separately so callers can snapshot it for [[scoreWith]]
    * the way [[QualityClassifier]] snapshots its bucket table.
    */
  def fitIdf(
      docs: DataFrame,
      textCol: String,
      terms: Seq[String],
      stats: CorpusStats): DataFrame = {
    require(terms.nonEmpty, "BM25 needs a non-empty query term set")
    val byDoc = docs
      .select(explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("w"))
      .filter(col("w").isin(terms: _*))
    byDoc.groupBy("w").agg(count(lit(1)).as("df"))
      .withColumn("idf_micro", idfMicro(col("df"), stats))
  }

  /** round(ln((N - df + 0.5) / (df + 0.5) + 1) * 1e6) as a long —
    * the ONE place the transcendental enters, at the term grain.
    */
  private def idfMicro(df: Column, stats: CorpusStats): Column =
    round(log(
      (lit(stats.nDocs.toDouble) - df.cast("double") + lit(0.5)) /
        (df.cast("double") + lit(0.5)) + lit(1.0)) * lit(1000000.0)).cast("long")

  /** The per-(term, doc) contribution in integer nanounits: the same
    * doubles from the same integers in the same order, rounded once.
    */
  private def contribNano(
      tf: Column, dl: Column, idfMicroCol: Column,
      stats: CorpusStats, k1: Double, b: Double): Column = {
    val tfD = tf.cast("double")
    val den = tfD + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl.cast("double") / lit(stats.avgdl))
    round((idfMicroCol.cast("double") / lit(1000000.0)) *
      (tfD * (lit(k1) + lit(1.0)) / den) * lit(1000000000.0)).cast("long")
  }

  /** Per-document BM25 scores against `terms`: `(idCol, n_terms,
    * score_nano)` for every document matching at least one query term
    * (`score_nano` = score in exact integer nanounits; divide by 1e9
    * for the float). One corpus scan; see the object doc for the plan
    * shape.
    */
  def score(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      statsIn: Option[CorpusStats] = None): DataFrame = {
    require(terms.nonEmpty, "BM25 needs a non-empty query term set")
    val stats = statsIn.getOrElse(corpusStats(docs, textCol))
    scoreWith(docs, fitIdf(docs, textCol, terms, stats), stats, textCol, idCol, terms, k1, b)
  }

  /** [[score]] against a SUPPLIED idf table ([[fitIdf]]) and corpus
    * stats — the snapshot form: fit both on a corpus release, then
    * score any batch of documents against them. A document's score
    * depends only on its own text and the snapshot, so scoring
    * disjoint slices of a corpus against the whole corpus's snapshot
    * unions to exactly [[score]] of the corpus (Bm25Spec pins it).
    */
  def scoreWith(
      docs: DataFrame,
      idf: DataFrame,
      stats: CorpusStats,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 needs a non-empty query term set")
    // One pass: dl rides next to the exploded tokens so tf rows carry
    // it through the aggregate (same grain — (id, dl) is functional).
    val toks = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col(idCol), size(col("__t")).cast("long").as("dl"), explode(col("__t")).as("w"))
      .filter(col("w").isin(terms: _*))
    val tf = toks.groupBy(col(idCol), col("dl"), col("w")).agg(count(lit(1)).as("tf"))
    // df via its own term-grain corpus pass ([[fitIdf]]) rather than
    // re-aggregating the tf table: deriving df FROM tf would need a
    // second shuffle of the (doc, term) stream keyed on the term — a
    // skew magnet (every matched row of a common term lands in one
    // reducer) — or a duplicated tf subtree the optimizer cannot
    // exchange-reuse (the df side prunes the count, making the
    // exchanges differ — measured). The extra pass ([[fitIdf]], in
    // [[score]]) is a column-pruned map-side scan collapsing straight
    // to |terms| rows.
    tf.join(bcast(idf.select("w", "idf_micro")), "w")
      .withColumn("__c_nano",
        contribNano(col("tf"), col("dl"), col("idf_micro"), stats, k1, b))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_terms"), sum(col("__c_nano")).as("score_nano"))
  }
}
