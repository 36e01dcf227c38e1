package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped aggregates A1-A7 (SURVEY.md §2.4) with the reference's
  * pinned semantics: exact interpolated medians, pandas mode tie-break,
  * order-deterministic "first".
  */
object GroupStats {

  /** Exact interpolated median — matches `pandas.Series.median`
    * including even-count interpolation (reference:
    * Requirements/ExamplePipelineCode.md:183-186). `percentile_approx`
    * does NOT match and must not be used on the oracle path; the
    * 100 TB variant is `approx_percentile` behind [[approxMedian]].
    */
  def exactMedian(c: Column): Column = percentile(c, lit(0.5))

  /** Sketch median for the scale path (t-digest-style, bounded error). */
  def approxMedian(c: Column, accuracy: Int = 10000): Column =
    percentile_approx(c, lit(0.5), lit(accuracy))

  /** A4 — grouped mode with pandas `idxmax` tie-break: among tied
    * counts pick the SMALLEST value (reference vectorized mode:
    * Requirements/ExamplePipelineCode.md:188-202; pandas groupby sorts
    * keys so idxmax lands on the smallest). Two-level aggregate +
    * ranked window; do NOT swap in Spark's `mode(v, true)`: its value
    * counts keep -0.0 and 0.0 apart, which grouping folds into one
    * value (a cycle {-0.0, 0.0, 5.0, 5.0} reads mode 5.0, not 0.0).
    *
    * Returns one row per group: groupCols :+ outCol.
    */
  def modeWithTieBreak(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      outCol: String): DataFrame = {
    val counted = df
      .filter(col(valueCol).isNotNull)
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("__cnt").desc, col(valueCol).asc)
    counted
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(groupCols.map(col) :+ col(valueCol).as(outCol): _*)
  }

  /** A1+A2+A4+A5 in ONE shuffle: per-cycle count, exact median, mode
    * (tie-broken), and chronologically-first timestamp/state.
    *
    * Shape: two-level aggregation on progressively coarser keys —
    * `groupBy(keys :+ value)` first (massive map-side partial
    * reduction: one row per distinct value per cycle), then
    * `groupBy(keys)` where
    *   - median = weighted exact `percentile(value, 0.5, cnt)`
    *     (identical to the exact median over the expanded multiset,
    *     so pandas/DuckDB parity holds);
    *   - mode   = `max_by(value, (cnt, -value))` — the pandas idxmax
    *     tie-break (smallest value among tied counts) without a join
    *     (reference: Requirements/ExamplePipelineCode.md:188-202);
    *   - first  = min over (ts, state) structs — order-deterministic,
    *     never bare `first()` (ExamplePipelineCode.md:438-441).
    * Both aggregations hash-partition on a prefix of the same keys, so
    * the plan has exactly one exchange — this is the 100 TB shape
    * (the earlier base-join-modes form shuffled twice and joined).
    */
  def cycleStats(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      tsCol: String,
      stateCol: String): DataFrame = {
    // NOTE: stateCol must stay an AGGREGATE here (min over (ts,state)
    // structs), not a level-1 grouping key — this helper makes no
    // functional-dependence assumption, and grouping by state would
    // split the per-value counts that feed the mode. The events query
    // core applies that optimization where state IS constant per cycle.
    val perValue = df
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(
        count(lit(1)).as("__cnt"),
        min(struct(col(tsCol), col(stateCol))).as("__first"))
    // NULL values follow pandas: Series.count()/median()/mode() all
    // drop NaN, so the null-value group contributes to NOTHING except
    // the ordered first (whose row still exists). Without the guards a
    // 10-null/4-real cycle reports count=14 and mode=null — the latter
    // flipping validCyclePredicate against a cycle pandas accepts.
    .withColumn("__real_cnt", when(col(valueCol).isNotNull, col("__cnt")).otherwise(lit(0L)))
    perValue
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("__real_cnt")).as("count"),
        percentile(col(valueCol), lit(0.5), col("__cnt")).as("median_" + valueCol),
        max_by(col(valueCol),
          when(col(valueCol).isNotNull, struct(col("__cnt"), -col(valueCol))))
          .as("mode_" + valueCol),
        min(col("__first")).getField(tsCol).as("first_" + tsCol),
        min(col("__first")).getField(stateCol).as("first_" + stateCol))
  }

  /** P5 + P6 — the reference's valid-cycle predicate: at least
    * `minCount` rows, positive median, computable positive mode
    * (reference: Requirements/ExamplePipelineCode.md:210-215).
    */
  def validCyclePredicate(valueCol: String, minCount: Long = 4): Column =
    col("count") >= minCount &&
      col(s"median_$valueCol") > 0 &&
      col(s"mode_$valueCol").isNotNull && col(s"mode_$valueCol") > 0

  /** J2 — keep only rows whose group key passes `validCyclePredicate`
    * (reference: Requirements/ExamplePipelineCode.md:210-218), with
    * the statistics of [[cycleStats]] computed as WINDOW aggregates
    * over `partitionBy(groupCols)` instead of an aggregate joined back
    * by a left-semi join. The join form evaluated `df`'s plan on both
    * sides — for a labelled frame, the labelling exchange, sort and
    * windows twice; here `df` runs once, and a frame hash-partitioned
    * on a prefix of `groupCols` (labelCycles' device key) needs no
    * further exchange. The same shape as EventsQueries.q13ValidCycleRows.
    *
    * Same verdict per group as cycleStats + validCyclePredicate:
    *   - count = non-null values (NaN counts, as it does there);
    *   - median = unweighted `percentile(v, 0.5)`: it builds the same
    *     value -> count map the weighted form is given;
    *   - mode = cycleStats' `max_by(v, (cnt, -v))` choice — most
    *     frequent, then NaN (it ranks above every number), then the
    *     smallest value — taken as the most frequent NEGATED value
    *     with ties to the largest. `0.0 - v` also folds -0.0 into 0.0,
    *     which grouping does and `mode`'s value counts do not. The
    *     value is read as a DOUBLE.
    * Rows with a null group key are dropped, as the equi-join dropped
    * them. Columns come out keys first, as the semi-join's USING
    * columns gave them.
    */
  def filterValidCycles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      minCount: Long = 4): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
    val v = col(valueCol)
    df.filter(groupCols.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__neg", lit(0.0) - v)
      .withColumn("__n", count(v).over(w))
      .withColumn("__median", exactMedian(v).over(w))
      .withColumn("__mode", -expr("mode() WITHIN GROUP (ORDER BY __neg DESC)").over(w))
      .filter(col("__n") >= minCount && col("__median") > 0 && col("__mode") > 0)
      .select((groupCols ++ df.columns.filterNot(groupCols.contains)).map(col): _*)
  }
}
