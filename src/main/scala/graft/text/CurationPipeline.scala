package graft.text

import graft.core.{CacheScope, Pipeline, PipelineContext, Processor}
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation pipeline: the engine's Processor framework
  * driving the text/dedup operator families end-to-end, the way a
  * pretraining-corpus build would at 100 TB:
  *
  *   annotate (langid/quality/fingerprints) -> exact dedup (hash
  *   groupBy on the 64-bit fingerprint) -> near-dedup (MinHash-LSH
  *   candidates, keep the smallest doc per duplicate cluster) ->
  *   quality gate -> curated corpus + survival stats.
  *
  * Every stage except near-dedup is a lazy DataFrame transform; the
  * near-dedup step MATERIALIZES the verified pair list at
  * processor-execution time (one pass of the annotate -> exact-dedup
  * -> shingle -> LSH -> verify upstream) because cluster resolution
  * is a fixpoint over it — [[Dedup.dupClusters]] then resolves the
  * materialized list with driver-side union-find (one collect; the
  * list is control-plane-sized by construction) or distributed label
  * propagation above ~10 M edges. Survival is CLUSTER-canonical: one
  * doc — the smallest id — survives per connected component, so
  * chained near-dups (a~b, b~c) collapse to a single survivor
  * instead of whatever a per-pair drop happens to leave.
  */
object CurationPipeline {

  val annotate: Processor = Processor("Annotate", required = Seq("documents")) { ctx =>
    // tiny-bytes / heavy-CPU stage: a single parquet split serializes
    // the per-row tokenize+langid+quality+fp work on 1-2 cores
    // (measured r20: q36's checkpoint job ran 2 tasks x ~0.7 s);
    // spreadIfNarrow is the identity at real scale (guide §2.5)
    val docs = graft.core.Parallelism.spreadIfNarrow(ctx.table("documents"))
    // one materialized tokenization feeds all three token signals —
    // the text-based forms would re-split at every structural
    // reference (langId votes once per language, qualityScore ~6x)
    val toks = col("__ann_toks")
    ctx.withTable("annotated", docs
      .withColumn("__ann_toks", TextAnalysis.tokens(col("text")))
      .withColumn("detected_lang", TextAnalysis.langIdOfTokens(toks))
      .withColumn("n_tokens", size(toks))
      .withColumn("quality", TextAnalysis.qualityScoreOfTokens(toks, col("text")))
      .withColumn("fp", TextAnalysis.contentFingerprint(col("text")))
      .drop("__ann_toks"))
  }

  val exactDedup: Processor = Processor("ExactDedup", required = Seq("annotated")) { ctx =>
    // EAGER localCheckpoint: exact_deduped is the one pipeline table
    // consumed by MORE than one action (the near-dedup pair
    // materialization AND the final curated plan; the stats step's
    // counts when it runs), so the checkpoint runs the heavy annotate
    // projection (tokens+langid+quality+fp) exactly once, up front
    // (guide §5 — cache only reused, expensive-to-recompute
    // intermediates).
    val annotated = ctx.table("annotated")
    ctx.withTable("exact_deduped",
      CacheScope.checkpoint(annotated.sparkSession)(Dedup.exactDedup(annotated, "text", "doc_id")))
  }

  /** Keep one doc per transitive duplicate cluster: LSH candidates
    * verified by EXACT n-gram Jaccard ([[Dedup.verifyCandidates]], so
    * the survival decision uses a true threshold, not the minhash
    * estimate), resolved to connected components
    * ([[Dedup.dupClusters]]), smallest doc_id per cluster survives.
    * The cluster pass runs on the verified PAIR LIST — thousands of
    * rows where the corpus has billions — so its iterative joins are
    * control-plane-cheap next to the shingling scan.
    */
  val nearDedup: Processor = Processor("NearDedup", required = Seq("exact_deduped")) { ctx =>
    val docs = ctx.table("exact_deduped")
    val spark = docs.sparkSession
    // the losers are collected inside the scope that owns the caches
    // behind them — verifyCandidates' shingle hashes and, on
    // dupClusters' distributed path, its final label generation — so
    // near_deduped reads none of those once the scope releases them.
    // The broadcast below holds them on the driver anyway; as a local
    // relation they cost no job (dupClusters' local path already built
    // one) and no broadcast job per action that reads near_deduped.
    val (schema, losers) = CacheScope.run(spark) {
      val l = Dedup.dupClusters(Dedup.verifyCandidates(docs, "text", "doc_id", n = 3, threshold = 0.5))
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      (l.schema, l.collect())
    }
    ctx.withTable("near_deduped", docs.join(
      broadcast(spark.createDataFrame(java.util.Arrays.asList(losers: _*), schema)), Seq("doc_id"), "left_anti"))
  }

  val qualityGate: Processor = Processor("QualityGate", required = Seq("near_deduped")) { ctx =>
    val minQ = ctx.config.getOrElse("min_quality", "0.3").toDouble
    ctx.withTable("curated", ctx.table("near_deduped").filter(col("quality") >= minQ))
  }

  val stats: Processor = Processor("CurationStats", required = Seq("curated")) { ctx =>
    val n0 = ctx.table("documents").count()
    val n1 = ctx.table("exact_deduped").count()
    val n2 = ctx.table("near_deduped").count()
    val n3 = ctx.table("curated").count()
    ctx.withResult("curation_stats", Map(
      "input" -> n0, "after_exact_dedup" -> n1,
      "after_near_dedup" -> n2, "curated" -> n3))
  }

  val steps: Seq[Processor] = Seq(annotate, exactDedup, nearDedup, qualityGate, stats)

  /** No table persists: the stats step's counts read exact_deduped's
    * checkpoint, and near_deduped and curated are broadcast anti-joins
    * of it against the checkpointed losers, so no count reruns the
    * MinHash candidate stage.
    */
  def pipeline: Pipeline = new Pipeline(steps)

  private def context(spark: SparkSession, sfDir: String, minQuality: Double): PipelineContext =
    PipelineContext(
      "corpus-curation",
      config = Map("min_quality" -> minQuality.toString),
      tables = Map("documents" -> graft.sources.Sources.documents(spark, sfDir)))

  def run(spark: SparkSession, sfDir: String, minQuality: Double = 0.3): PipelineContext =
    pipeline.run(context(spark, sfDir, minQuality))

  /** Queries-map entry: the curated corpus with its annotations.
    * `fp` (the xxhash64 dedup key) stays internal — the projection is
    * chosen so EVERY column is DuckDB-reproducible and the whole
    * 4-stage pipeline oracle-checks hash-exact (see
    * [[graft.queries.TextQueries.q36Sql]]).
    *
    * Runs WITHOUT the stats step: its four per-table counts feed the
    * `curation_stats` result, which this projection never returns —
    * four actions of pure overhead on the query path (guide §2.3,
    * don't compute what you throw away). [[run]] keeps the full
    * five-step pipeline for callers that want the survival stats;
    * the curated table is identical either way (stats is
    * read-only over it).
    */
  def curatedDf(spark: SparkSession, sfDir: String): DataFrame =
    pipeline.runPartial(context(spark, sfDir, 0.3), annotate.name, qualityGate.name)
      .table("curated")
      .select("doc_id", "detected_lang", "n_tokens", "quality")
      .orderBy("doc_id")
}
