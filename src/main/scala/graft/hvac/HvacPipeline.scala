package graft.hvac

import graft.core.{CacheScope, Pipeline, PipelineContext, Processor}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E3 — the flagship analytics workload, re-expressed as composable
  * processors over lazy DataFrames (reference:
  * `PowerAnalysisPipeline`, Requirements/ExamplePipelineCode.md:50-131;
  * step trace in SURVEY.md §3/E3).
  *
  * Fixture mapping (TESTDATA/FIXTURES): `events.user_id` ~ device key
  * (locationId/controlId), `event_type` ~ tstate/stage, `value` ~
  * energy (watts), `ts` ~ timeStamp. All windows partition by the
  * device key so every step shards at 100 TB.
  *
  * The driver collects what pipeline *control flow* reads (conditional
  * curation/baselines, ExamplePipelineCode.md:444-453,470-474): the
  * per-stage issue counts, the thresholds, and — for the variance
  * verdicts — each stage's capped sample (at most
  * `MaxRawSamplesPerStage` values per stage), which the driver fits;
  * every data-plane table stays a lazy plan.
  */
object HvacPipeline {

  val MaxRawSamplesPerStage = 5000 // ExamplePipelineCode.md:232
  val MinSamplesRaw = 50 // ExamplePipelineCode.md:234
  val MinSamplesCurated = 20 // ExamplePipelineCode.md:303
  val MinCyclesForIssues = 10 // ExamplePipelineCode.md:347,353

  /** J1 — minute-level feed merge: the reference joins the thermostat
    * feed (timeStamp, tstate) with the energy feed (timeStamp, energy)
    * for one device window (reference:
    * Requirements/ExamplePipelineCode.md:25-26,108-112; output schema
    * :140-147). Both feeds are minute-aligned, so an equi-join on
    * (device, ts) suffices; drifting feeds would go through
    * [[graft.ops.AsOfJoin]] instead.
    */
  def mergeFeeds(control: DataFrame, energy: DataFrame, keys: Seq[String], tsCol: String): DataFrame =
    control.join(energy, keys :+ tsCol, "inner")

  /** Step 1 — ingest + cycle labeling (J1/W1; the merge of feeds is a
    * no-op for the single events fixture; cycles per device key).
    */
  val getData: Processor = Processor("GetData", required = Seq("events")) { ctx =>
    val labeled = Segmentation.labelCycles(
      ctx.table("events"),
      partitionCols = Seq("user_id"),
      orderCols = Seq(col("ts"), col("event_id")),
      stateCol = "event_type")
    ctx.withTable("labeled", labeled.select("user_id", "ts", "event_id", "event_type", "value", "cycle"))
  }

  /** Step 2 — drop invalid cycles (A1/A2/A4 + P5 + J2). */
  val filterValidCycles: Processor = Processor("FilterValidCycles", required = Seq("labeled")) { ctx =>
    val labeled = ctx.table("labeled")
    // eager checkpoint: two later steps fire separate driver actions
    // over this frame (variance samples, issues) and a third (curation)
    // reads it inside the curated tail's action — without it each one
    // re-executes the scan, the labelling windows and the valid-cycle
    // windows; blocks are released with the enclosing scope or, outside
    // one, reclaimed when the context becomes unreachable
    ctx.withTable("cleaned", CacheScope.checkpoint(labeled.sparkSession)(GroupStats.filterValidCycles(
      labeled, groupCols = Seq("user_id", "cycle"), valueCol = "value")))
  }

  /** Fits each stage's sample on the driver, the stages concurrently —
    * the reference's per-stage thread pool
    * (ExamplePipelineCode.md:265-269). A Spark task per stage would
    * not spread: AQE coalesces the sub-MB per-stage shuffle into one
    * partition, so the fits would run one after another on one core.
    * A stage with an empty sample gets no verdict.
    */
  private def classifyPerStage(
      samples: Seq[(String, Array[Double])],
      params: Variance.Params): Seq[VarianceVerdict] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fits = samples.collect { case (stage, values) if values.nonEmpty =>
      Future(Variance.classify(stage, values, params))
    }
    Await.result(Future.sequence(fits), Duration.Inf).sortBy(_.stage)
  }

  /** Step 3 — raw per-stage variance classification (A8+A9), capped to
    * the most recent 5000 samples per stage (W2).
    */
  val varianceRaw: Processor = Processor("IdentifyPowerVarianceRaw", required = Seq("cleaned")) { ctx =>
    val capped = Segmentation.recencyTopK(
      ctx.table("cleaned"), Seq("event_type"), "ts", MaxRawSamplesPerStage, Seq(col("event_id").desc))
    // one action collects every stage's non-null samples. Nulls are
    // dropped BEFORE the aggregation: filterValidCycles deliberately
    // keeps a valid cycle's null-value rows (they cannot disqualify
    // it), the pandas reference drops NaN from every variance
    // statistic, and a stage whose values are all null must yield no
    // verdict rather than one over an empty sample
    val samples = capped
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(collect_list(col("value")))
      .collect()
      .toSeq
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray)
    val verdicts = classifyPerStage(samples, Variance.Params(minSamples = MinSamplesRaw))
    ctx.withResult("variance_raw", verdicts)
  }

  /** Step 4 — per-stage issues: low distinct-cycle count (A6) +
    * short-cycling on High-variance stages with enough cycles.
    */
  val identifyIssues: Processor = Processor("IdentifyIssues", required = Seq("cleaned"),
    requiredRes = Seq("variance_raw")) { ctx =>
    val verdicts = ctx.result[Seq[VarianceVerdict]]("variance_raw")
    val high = verdicts.filter(_.variance == "High").map(_.stage).toSet
    // Cycle identity is (user_id, cycle) — labelCycles restarts
    // numbering per device key, and Step 2 already filters at that
    // grain. A bare `cycle` here merged device A's cycle 3 with
    // device B's cycle 3: distinct counts read as one device's worth
    // and merged pseudo-cycles spanned devices, inflating durations
    // (review r19; the single-device fixture tests never caught it).
    // One pass serves both decisions for every stage: n_cycles counts
    // the distinct (user_id, cycle) keys — countDistinct of the pair,
    // as `cleaned` holds no null key (the valid-cycle filter drops
    // them) — and short-cycling is kept for High stages only.
    val perStage = ShortCycling
      .detect(
        ctx.table("cleaned").withColumn("__cycle_key", struct(col("user_id"), col("cycle"))),
        Seq("event_type"), "__cycle_key", "ts")
      .select("event_type", "n_cycles", "short_cycling")
      .collect()
    val issues = perStage.toSeq.map { r =>
      val stage = r.getString(0)
      StageIssues(
        stage,
        lowCycleCount = r.getLong(1) < MinCyclesForIssues,
        shortCycling = high(stage) && r.getBoolean(2))
    }.sortBy(_.stage)
    ctx.withResult("issues", issues)
  }

  /** Step 5 — curation: for Low-variance stages, collapse each cycle to
    * its median (A2) + chronologically-first timestamp (A5); High
    * stages contribute nothing (the reference refuses to curate them,
    * ExamplePipelineCode.md:444-453).
    */
  val curate: Processor = Processor("CurateStageData", required = Seq("cleaned"),
    requiredRes = Seq("variance_raw")) { ctx =>
    val verdicts = ctx.result[Seq[VarianceVerdict]]("variance_raw")
    val low = verdicts.filter(_.variance == "Low").map(_.stage)
    val cleaned = ctx.table("cleaned")
    val curated = cleaned
      .filter(col("event_type").isInCollection(low))
      .groupBy("user_id", "event_type", "cycle")
      .agg(
        GroupStats.exactMedian(col("value")).as("median_energy_cycle"),
        min(col("ts")).as("first_ts"))
    // no checkpoint: one action reads this aggregate — the curated
    // tail's collect in IdentifyPowerVarianceCurated
    ctx.withTable("curated", curated)
  }

  /** Step 6 — re-classify on per-cycle medians; a stage that looks
    * multimodal on its curated medians is upgraded to High
    * (ExamplePipelineCode.md:275-332).
    *
    * The curated tail in one action: a `groupBy(event_type)` collect
    * over `curated` gathers each stage's recency-capped medians, which
    * the driver fits, and the rounded median of all the stage's cycle
    * medians, which Step 7 reads as `curated_medians` (stage ->
    * median, for every curated stage with a non-null one).
    */
  val varianceCurated: Processor = Processor("IdentifyPowerVarianceCurated", required = Seq("curated"),
    requiredRes = Seq("variance_raw")) { ctx =>
    // same recency cap as the RAW classification: the collect holds a
    // stage's samples in driver memory, so an uncapped curated path
    // would hold every cycle median of a stage — fine on the fixture,
    // an OOM at billions of cycles. The cap is a deliberate engine
    // guard beyond the reference (whose pandas frame is already
    // all-in-memory); 5000 most recent cycles is the same statistical
    // budget the raw pass runs on. No group limit applies, as the same
    // pass takes the median over every cycle of the stage.
    val recency = Window.partitionBy("event_type")
      .orderBy(col("first_ts").desc, col("user_id").desc, col("cycle").desc)
    val median = col("median_energy_cycle")
    val perStage = ctx
      .table("curated")
      .withColumn("__rn", row_number().over(recency))
      .groupBy("event_type")
      .agg(
        // collect_list drops the nulls: a stage whose capped medians
        // are all null gets no verdict
        collect_list(when(col("__rn") <= MaxRawSamplesPerStage, median)),
        // bround = Python round() (HALF_EVEN) — the reference's
        // round(median, 0); Spark's HALF_UP round flips every exact
        // .5, which medians of even-count integer watt data hit
        // constantly
        bround(GroupStats.exactMedian(median), 0))
      .collect()
      .toSeq
    val curatedVerdicts = classifyPerStage(
      perStage.map(r => r.getString(0) -> r.getSeq[Double](1).toArray),
      Variance.Params(minSamples = MinSamplesCurated))
    val medians = perStage.collect { case r if !r.isNullAt(2) => r.getString(0) -> r.getDouble(2) }.toMap
    val raw = ctx.result[Seq[VarianceVerdict]]("variance_raw")
    val byStage = curatedVerdicts.map(v => v.stage -> v).toMap
    val merged = raw.map { v =>
      if (v.variance == "High") v
      else byStage.get(v.stage).map(c => if (c.variance == "High") c else v).getOrElse(v)
    }
    ctx
      .withResult("variance_final", merged)
      .withResult("variance_curated", curatedVerdicts)
      .withResult("curated_medians", medians)
  }

  /** Step 7 — baseline thresholds: round(median of per-cycle medians)
    * per stage; None for High-variance or empty stages
    * (ExamplePipelineCode.md:456-484). The medians come from Step 6's
    * pass; this step only picks out the final-Low stages.
    */
  val thresholds: Processor = Processor("CalculateBaselines",
    requiredRes = Seq("variance_final", "curated_medians")) { ctx =>
    val fin = ctx.result[Seq[VarianceVerdict]]("variance_final")
    val medians = ctx.result[Map[String, Double]]("curated_medians")
    val out = fin.map(v => StageThreshold(v.stage, if (v.variance == "Low") medians.get(v.stage) else None))
    ctx.withResult("thresholds", out)
  }

  val steps: Seq[Processor] =
    Seq(getData, filterValidCycles, varianceRaw, identifyIssues, curate, varianceCurated, thresholds)

  def pipeline: Pipeline = new Pipeline(steps)

  /** Run end-to-end over an sf fixture dir; returns the final context. */
  def run(spark: SparkSession, sfDir: String): PipelineContext = {
    val ctx = PipelineContext(
      pipelineName = "power-analysis",
      tables = Map("events" -> graft.sources.Sources.events(spark, sfDir)))
    pipeline.run(ctx)
  }

  /** Thresholds as a DataFrame — the flagship's visible output. */
  def thresholdsDf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    run(spark, sfDir).result[Seq[StageThreshold]]("thresholds")
      .toDF("stage", "threshold").orderBy("stage")
  }
}
