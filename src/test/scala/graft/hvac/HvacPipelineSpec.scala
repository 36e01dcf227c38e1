package graft.hvac

import graft.SparkSpec
import graft.core.{PipelineContext, PipelineStepException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

class HvacPipelineSpec extends SparkSpec {

  test("flagship pipeline end-to-end on sf0.001: thresholds & invariants") {
    val ctx = HvacPipeline.run(spark, "/root/testdata/sf0.001")
    val verdicts = ctx.result[Seq[VarianceVerdict]]("variance_final")
    val thresholds = ctx.result[Seq[StageThreshold]]("thresholds")
    val issues = ctx.result[Seq[StageIssues]]("issues")
    assert(verdicts.nonEmpty)
    assert(thresholds.nonEmpty)
    assert(issues.nonEmpty)
    // invariant (ExamplePipelineCode.md:470-480): threshold defined <=> variance Low
    val lows = verdicts.filter(_.variance == "Low").map(_.stage).toSet
    thresholds.foreach { t =>
      assert(t.threshold.isDefined == lows.contains(t.stage), s"$t vs lows=$lows")
    }
    // every step ran
    assert(ctx.executionLog.map(_.processor).toSet.size == HvacPipeline.steps.size)
    assert(ctx.errors.isEmpty)
  }

  test("entry returns >0 rows (driver smoke)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("mergeFeeds joins minute-aligned control and energy feeds (J1)") {
    import sqlImplicits._
    val control = Seq((1L, 100L, 2), (1L, 160L, 2), (1L, 220L, 0)).toDF("dev", "ts", "tstate")
    val energy = Seq((1L, 100L, 500.0), (1L, 160L, 520.0), (1L, 280L, 0.0)).toDF("dev", "ts", "energy")
    val merged = HvacPipeline.mergeFeeds(control, energy, Seq("dev"), "ts")
    assert(merged.columns.toSet == Set("dev", "ts", "tstate", "energy"))
    assert(merged.count() == 2) // only aligned minutes survive
  }

  // two devices, each with 8 valid heat cycles whose per-device cycle
  // ids COINCIDE (labelCycles restarts numbering per device)
  private def multiDeviceEvents(): DataFrame = {
    import sqlImplicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    var eid = 0L
    val rows = for {
      dev <- Seq(1L, 2L)
      run <- 0 until 16 // alternate heat/idle -> 8 heat cycles/device
      i <- 0 until 4
    } yield {
      eid += 1
      val stage = if (run % 2 == 0) "heat" else "idle"
      val value = if (stage == "heat") 500.0 + i else 1.0
      (eid, ts(f"2024-01-0${dev} ${run}%02d:0$i:00"), dev, stage, value)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("issues count cycles at the (device, cycle) grain, not bare cycle ids") {
    // 16 real heat cycles. The bare-cycle grain counted the distinct
    // ids (8 < MinCyclesForIssues = 10) and wrongly flagged
    // lowCycleCount on any multi-device frame.
    val ctx = HvacPipeline.pipeline.run(
      PipelineContext("multidev", tables = Map("events" -> multiDeviceEvents())))
    assert(ctx.errors.isEmpty, ctx.errors.toString)
    val issues = ctx.result[Seq[StageIssues]]("issues")
    val heat = issues.find(_.stage == "heat").get
    assert(!heat.lowCycleCount,
      s"16 (device, cycle) heat cycles must clear MinCyclesForIssues: $issues")
  }

  test("issues: short-cycling needs a High stage with enough cycles; low cycle counts for every stage") {
    import sqlImplicits._
    // one device, three interleaved stages (each run of one stage is
    // one cycle):
    //   busy  — High (values alternate 100/300: rCV 0.5), 12 cycles of
    //           6 rows, 10 of them 50 s long and 2 of them 10 min long;
    //   burst — High the same way, only 5 cycles (of 12 rows, so its
    //           60 samples clear MinSamplesRaw);
    //   quiet — Low (500..502 W), 12 cycles of 6 rows, all 50 s long.
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    var clockMs = t0
    var eid = 0L
    def cycle(stage: String, stepSeconds: Int, value: Int => Double, n: Int = 6) = (0 until n).map { i =>
      eid += 1
      clockMs += stepSeconds * 1000L
      (eid, new java.sql.Timestamp(clockMs), 1L, stage, value(i))
    }
    val alternating = (i: Int) => if (i % 2 == 0) 100.0 else 300.0
    val rows = (0 until 12).flatMap { c =>
      cycle("busy", if (c < 10) 10 else 120, alternating) ++
        cycle("quiet", 10, i => 500.0 + i % 3) ++
        (if (c < 5) cycle("burst", 10, alternating, n = 12) else Nil)
    }
    val events = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val ctx = HvacPipeline.pipeline.run(
      graft.core.PipelineContext("issues", tables = Map("events" -> events)))
    assert(ctx.errors.isEmpty, ctx.errors.toString)
    val raw = ctx.result[Seq[VarianceVerdict]]("variance_raw").map(v => v.stage -> v.variance).toMap
    assert(raw == Map("burst" -> "High", "busy" -> "High", "quiet" -> "Low"), raw.toString)
    val issues = ctx.result[Seq[StageIssues]]("issues")
    assert(issues == Seq(
      StageIssues("burst", lowCycleCount = true, shortCycling = false),
      StageIssues("busy", lowCycleCount = false, shortCycling = true),
      StageIssues("quiet", lowCycleCount = false, shortCycling = false)), issues.toString)
  }

  test("one pipeline run fires at most 4 SQL actions") {
    // Every SQL action (collect, eager checkpoint, count, ...) reports
    // to a QueryExecutionListener on the listener bus, asynchronously;
    // a tagged sentinel action after each phase, awaited by its own
    // event, makes every earlier event arrive in its own phase.
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var phase = "warmup"
    def outputOf(qe: QueryExecution) = qe.analyzed.output.map(_.name).mkString(",")
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(phase -> outputOf(qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.add(phase -> outputOf(qe))
    }
    var syncN = 0
    def sync(next: String): Unit = {
      syncN += 1
      val tag = s"graft_sync_$syncN"
      spark.range(1).toDF(tag).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!actions.asScala.exists(_._2 == tag) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(actions.asScala.exists(_._2 == tag), s"sentinel $tag never arrived")
      phase = next
    }
    spark.listenerManager.register(listener)
    try {
      val events = multiDeviceEvents()
      sync("run")
      val ctx = HvacPipeline.pipeline.run(PipelineContext("budget", tables = Map("events" -> events)))
      sync("done")
      assert(ctx.errors.isEmpty, ctx.errors.toString)
      val runActions = actions.asScala.count { case (p, out) => p == "run" && !out.startsWith("graft_sync_") }
      assert(runActions <= 4, s"$runActions SQL actions in one run")
    } finally spark.listenerManager.unregister(listener)
  }

  test("CalculateBaselines without the curated medians fails with the named missing-result error") {
    val verdict = VarianceVerdict("heat", "Low", "unimodal", 1, Seq(500.0), Seq(1.0), Seq(4.0), Some(0.004), 100L)
    val ctx = PipelineContext("partial").withResult("variance_final", Seq(verdict))
    val e = intercept[PipelineStepException](
      HvacPipeline.pipeline.runPartial(ctx, "CalculateBaselines", "CalculateBaselines"))
    assert(e.step == "CalculateBaselines")
    assert(e.getCause.isInstanceOf[IllegalStateException], e.getCause.toString)
    assert(e.getCause.getMessage.contains("required result 'curated_medians' missing"), e.getCause.getMessage)
  }
}
