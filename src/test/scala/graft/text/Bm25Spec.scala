package graft.text

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

class Bm25Spec extends SparkSpec {

  private def docs = {
    import sqlImplicits._
    Seq(
      (0L, "spark shuffle join spark"),
      (1L, "join filter scan"),
      (2L, "spark spark spark spark spark spark"),
      (3L, "sort merge window"),
      (4L, "scan scan scan scan scan scan scan scan scan scan")
    ).toDF("doc_id", "text")
  }

  private val terms = Seq("spark", "join", "scan")

  /** From-first-principles mirror of the Lucene BM25 chain, including
    * the two rounding sites — any drift in the column expressions
    * shows up as an integer mismatch here.
    */
  private def expected(
      corpus: Seq[(Long, String)], qs: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): Map[Long, (Int, Long)] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val n = corpus.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val df = qs.map(q => q -> toks.values.count(_.contains(q)).toDouble).toMap
    val idfMicro = qs.map { q =>
      q -> math.round(math.log((n - df(q) + 0.5) / (df(q) + 0.5) + 1.0) * 1000000.0)
    }.toMap
    corpus.flatMap { case (id, _) =>
      val dl = toks(id).size.toDouble
      val contribs = qs.flatMap { q =>
        val tf = toks(id).count(_ == q).toDouble
        if (tf == 0) None
        else Some(math.round(
          (idfMicro(q).toDouble / 1000000.0) *
            (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))) * 1000000000.0))
      }
      if (contribs.isEmpty) None else Some(id -> (contribs.size, contribs.sum))
    }.toMap
  }

  test("score matches the from-first-principles integer chain") {
    val corpus = Seq(
      0L -> "spark shuffle join spark",
      1L -> "join filter scan",
      2L -> "spark spark spark spark spark spark",
      3L -> "sort merge window",
      4L -> "scan scan scan scan scan scan scan scan scan scan")
    val want = expected(corpus, terms)
    val got = Bm25.score(docs, "text", "doc_id", terms).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got == want)
    // doc 3 matches no query term and must be absent
    assert(!got.contains(3L))
  }

  test("scoreWith on disjoint slices unions to the batch score, bit for bit") {
    // the property a per-micro-batch lift depends on: a document's
    // score depends only on its own text and the (idf, stats) snapshot
    val stats = Bm25.corpusStats(docs, "text")
    val idf = Bm25.fitIdf(docs, "text", terms, stats)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toSeq
    val halves = Seq(col("doc_id") < 2L, col("doc_id") >= 2L).map { p =>
      rows(Bm25.scoreWith(docs.filter(p), idf, stats, "text", "doc_id", terms))
    }
    val batch = rows(Bm25.score(docs, "text", "doc_id", terms))
    assert(halves.forall(_.nonEmpty), halves)
    assert((halves(0) ++ halves(1)).sortBy(_._1) == batch.sortBy(_._1))
  }

  test("fitIdf counts distinct documents, not occurrences") {
    val stats = Bm25.corpusStats(docs, "text")
    val idf = Bm25.fitIdf(docs, "text", Seq("spark"), stats).collect()
    // 'spark' occurs 8 times across 2 docs; df must be 2
    assert(idf.head.getLong(1) == 2L)
  }

  test("snapshot stats make the score plan literal-folded (no scalar subqueries) and text never shuffles") {
    val scored = Bm25.score(docs, "text", "doc_id", terms)
    val plan = scored.queryExecution.executedPlan
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children ++ p.subqueries
      }
      p +: inner.flatMap(nodes)
    }
    val all = nodes(plan)
    // exactly: tf agg (doc, dl, w) + the fitIdf term-grain agg + the
    // doc-grain score agg
    assert(all.count(_.isInstanceOf[ShuffleExchangeLike]) <= 3,
      s"expected tf + idf + doc-grain exchanges only:\n$plan")
    // the corpus text column must not appear in any exchange's output
    val leaky = all.collect {
      case e: ShuffleExchangeLike if e.output.exists(_.name == "text") => e
    }
    assert(leaky.isEmpty, s"text shuffled:\n$leaky")
  }

  test("empty term set is rejected") {
    intercept[IllegalArgumentException] {
      Bm25.score(docs, "text", "doc_id", Seq.empty)
    }
  }
}
