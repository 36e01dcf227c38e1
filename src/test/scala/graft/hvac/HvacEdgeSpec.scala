package graft.hvac

import graft.SparkSpec
import graft.core.{Pipeline, PipelineContext, Processor}

/** Edge paths of the flagship: empty/degenerate inputs must flow
  * through every step (the reference's empty-frame guards, P8 —
  * Spark's lazy empty frames make most of them structural).
  */
class HvacEdgeSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("pipeline survives data where no cycle is valid (all runs too short)") {
    import sqlImplicits._
    // every cycle has < 4 rows -> cleaned is empty downstream
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a", 10.0),
      (2L, ts("2024-01-01 00:01:00"), 1L, "b", 11.0),
      (3L, ts("2024-01-01 00:02:00"), 1L, "a", 12.0),
      (4L, ts("2024-01-01 00:03:00"), 1L, "b", 13.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val ctx = HvacPipeline.pipeline.run(
      PipelineContext("edge", tables = Map("events" -> events)))
    assert(ctx.errors.isEmpty)
    assert(ctx.result[Seq[VarianceVerdict]]("variance_final").isEmpty)
    assert(ctx.result[Seq[StageThreshold]]("thresholds").isEmpty)
    assert(ctx.table("cleaned").count() == 0)
    assert(ctx.table("curated").count() == 0)
  }

  test("a null watt reading inside a VALID cycle flows through, dropped from variance stats") {
    import sqlImplicits._
    // one 8-row cycle (valid: count >= 4, positive median/mode) whose
    // middle readings are null — filterValidCycles keeps the rows, and
    // the typed variance decode must not NPE on them (pandas drops NaN)
    val events = (1L to 8L).map { i =>
      val v: Option[Double] = if (i == 4L || i == 5L) None else Some(100.0 + i)
      (i, ts(f"2024-01-01 00:0${i - 1}%d:00"), 1L, "a", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val ctx = HvacPipeline.pipeline.run(
      PipelineContext("edge-null", tables = Map("events" -> events)))
    assert(ctx.errors.isEmpty, ctx.errors.toString)
    assert(ctx.table("cleaned").count() == 8) // null rows of a valid cycle kept by the valid-cycle filter
    val verdicts = ctx.result[Seq[VarianceVerdict]]("variance_final")
    assert(verdicts.map(_.stage) == Seq("a"))
    assert(verdicts.head.nSamples == 6L, "nulls excluded from the classified sample")
  }

  test("checkpointed pipeline records a context per executed step") {
    import sqlImplicits._
    val p1 = Processor("A")(c => c.withTable("t", Seq(1, 2, 3).toDF("x")))
    val p2 = Processor("B")(c => c.withTable("t2", c.table("t").filter($"x" > 1)))
    val pipe = new Pipeline(Seq(p1, p2), enableCheckpoints = true)
    val out = pipe.run(PipelineContext("cp"))
    assert(pipe.checkpoints.keySet == Set("A", "B"))
    assert(pipe.checkpoints("A").hasTable("t") && !pipe.checkpoints("A").hasTable("t2"))
    assert(out.table("t2").count() == 2)
  }
}
