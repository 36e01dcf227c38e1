package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `check_for_short_cycling` — SEMANTIC DECISION POINT (SURVEY.md
  * §7.4#6). The reference imports this from an absent module; only its
  * gating and intent are documented ("detects rapid changes in power
  * consumption over a given cycle", call site
  * Requirements/ExamplePipelineCode.md:357-360; hint
  * Requirements/ExampleAiCode.md:120).
  *
  * Our documented definition: a stage short-cycles when a significant
  * share of its cycles are shorter than a minimum healthy runtime.
  * Concretely: cycleDuration = max(ts) - min(ts) per cycle;
  * short := duration < `minCycle`; verdict := (short cycles / cycles)
  * > `maxShortRatio`, evaluated only on stages with >= `minCycles`
  * cycles (mirroring the reference's low-cycle-count gate,
  * ExamplePipelineCode.md:347-353). Excluded from the DuckDB oracle as
  * prescribed; pinned by unit tests instead.
  */
object ShortCycling {

  final case class Params(
      minCycleSeconds: Long = 300, // < 5 min of runtime is "short"
      maxShortRatio: Double = 0.30,
      minCycles: Long = 10)

  /** Input: rows with (groupCols..., cycleCol, tsCol). Output: one row
    * per group: groupCols..., n_cycles, n_short, short_ratio,
    * short_cycling (boolean).
    */
  def detect(
      df: DataFrame,
      groupCols: Seq[String],
      cycleCol: String,
      tsCol: String,
      p: Params = Params()): DataFrame = {
    // Duration as a timestamp DIFFERENCE (DayTimeInterval), as in
    // AsOfJoin: microsecond-exact and type-correct for TIMESTAMP and
    // TIMESTAMP_NTZ alike. unix_timestamp truncates each endpoint to
    // whole seconds, so a 299.6 s cycle could read 300 and flip the
    // short verdict at the boundary (review r19); unix_micros rejects
    // TIMESTAMP_NTZ, the type of the events fixture's `ts`.
    val perCycle = df
      .groupBy((groupCols :+ cycleCol).map(col): _*)
      .agg((max(col(tsCol)) - min(col(tsCol))).as("duration"))
    val minCycle = make_dt_interval(lit(0), lit(0), lit(0), lit(p.minCycleSeconds))
    perCycle
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_cycles"),
        sum(when(col("duration") < minCycle, 1).otherwise(0)).as("n_short"))
      .withColumn("short_ratio", col("n_short") / col("n_cycles"))
      .withColumn(
        "short_cycling",
        col("n_cycles") >= p.minCycles && col("short_ratio") > p.maxShortRatio)
  }
}
