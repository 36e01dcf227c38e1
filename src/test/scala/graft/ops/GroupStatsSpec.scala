package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class GroupStatsSpec extends SparkSpec {

  // `modeTieBreak` fixture: two values tie on frequency; pandas idxmax
  // semantics pick the SMALLEST (SURVEY.md §7.4#2).
  test("mode tie-break picks smallest value among tied counts") {
    import sqlImplicits._
    val df = Seq((1, 5.0), (1, 5.0), (1, 3.0), (1, 3.0), (1, 9.0)).toDF("cycle", "energy")
    val m = GroupStats.modeWithTieBreak(df, Seq("cycle"), "energy", "mode_energy")
      .select("mode_energy").as[Double].head()
    assert(m == 3.0)
  }

  // `medianEvenCount` fixture: exact interpolation, not approx.
  test("exact median interpolates on even counts like pandas") {
    import sqlImplicits._
    val df = Seq((1, 1.0), (1, 2.0), (1, 7.0), (1, 100.0)).toDF("cycle", "energy")
    val m = df.groupBy("cycle").agg(GroupStats.exactMedian(col("energy")).as("m"))
      .select("m").as[Double].head()
    assert(m == 4.5)
  }

  // `filterCyclesBasic` fixture (Opus.md:673-695 mirror): 3 cycles with
  // counts 3/2/5, one all-zero-energy; only the >=4-row positive cycle
  // survives.
  test("filterValidCycles keeps only >=4-row positive-median/mode cycles") {
    import sqlImplicits._
    val rows =
      (1 to 3).map(i => (i.toLong, 1, 1, 10.0)) ++ // cycle 1: only 3 rows
        (4 to 5).map(i => (i.toLong, 1, 2, 20.0)) ++ // cycle 2: 2 rows
        (6 to 10).map(i => (i.toLong, 1, 3, 0.0)) // cycle 3: 5 rows but zero energy
    val surviving = (11 to 14).map(i => (i.toLong, 1, 4, 30.0)) // cycle 4: 4 rows positive
    val df = (rows ++ surviving).toDF("ts", "tstate", "cycle", "energy")
    val out = GroupStats.filterValidCycles(df, Seq("cycle"), "energy")
    assert(out.select("cycle").distinct().as[Int].collect().toSeq == Seq(4))
    assert(out.count() == 4)
  }

  test("cycleStats: null values drop from count/median/mode like pandas (first-row survives)") {
    import sqlImplicits._
    // pandas Series.count()/median()/mode() all skip NaN: a
    // 3-null/4-real cycle counts 4 and its mode is a real value —
    // without the guards count=7 and the null group wins max_by,
    // flipping validCyclePredicate against a cycle pandas accepts
    val df = Seq(
      (1, Option.empty[Double], 1L, "run"), (1, None, 2L, "run"), (1, None, 3L, "run"),
      (1, Some(5.0), 4L, "run"), (1, Some(5.0), 5L, "run"),
      (1, Some(7.0), 6L, "run"), (1, Some(7.0), 7L, "run"))
      .toDF("cycle", "energy", "ts", "state")
    val row = GroupStats.cycleStats(df, Seq("cycle"), "energy", "ts", "state").head()
    assert(row.getAs[Long]("count") == 4L)
    assert(row.getAs[Double]("mode_energy") == 5.0) // tie -> smallest real value
    assert(row.getAs[Double]("median_energy") == 6.0)
    assert(row.getAs[Long]("first_ts") == 1L) // the null-value row still holds "first"
    // an all-null cycle reports count 0 and null mode (and so fails the
    // valid-cycle gate), never a phantom count
    val allNull = Seq((1, Option.empty[Double], 1L, "run"), (1, None, 2L, "run"),
      (1, None, 3L, "run"), (1, None, 4L, "run"))
      .toDF("cycle", "energy", "ts", "state")
    val r2 = GroupStats.cycleStats(allNull, Seq("cycle"), "energy", "ts", "state").head()
    assert(r2.getAs[Long]("count") == 0L && r2.isNullAt(r2.fieldIndex("mode_energy")))
  }

  test("cycleStats: ordered-first semantics via min/min_by") {
    import sqlImplicits._
    val df = Seq((3L, 9, 1, 5.0), (1L, 7, 1, 6.0), (2L, 8, 1, 6.0)).toDF("ts", "tstate", "cycle", "energy")
    val r = GroupStats.cycleStats(df, Seq("cycle"), "energy", "ts", "tstate").collect()(0)
    assert(r.getAs[Long]("first_ts") == 1L)
    assert(r.getAs[Int]("first_tstate") == 7)
    assert(r.getAs[Long]("count") == 3L)
    assert(r.getAs[Double]("median_energy") == 6.0)
    assert(r.getAs[Double]("mode_energy") == 6.0)
  }

  // The valid-cycle filter's reference form: the per-cycle statistics
  // of cycleStats, the predicate, and a left-semi join back to the rows.
  private def semiJoinReference(df: DataFrame, keys: Seq[String]): DataFrame = {
    val valid = GroupStats.cycleStats(df, keys, "value", "ts", "event_type")
      .filter(GroupStats.validCyclePredicate("value"))
      .select(keys.map(col): _*)
    df.join(valid, keys, "left_semi")
  }

  // Rows as comparable strings, doubles by their raw bits, so -0.0 vs
  // 0.0 or two NaN payloads can never compare equal by accident.
  private def rawRows(df: DataFrame): Seq[String] = df.collect().toSeq.map { r: Row =>
    r.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case other => String.valueOf(other)
    }.mkString("|")
  }.sorted

  private def assertSameAsReference(df: DataFrame, keys: Seq[String]): DataFrame = {
    val out = GroupStats.filterValidCycles(df, keys, "value")
    val ref = semiJoinReference(df, keys)
    assert(out.schema == ref.schema, s"${out.schema.treeString} vs ${ref.schema.treeString}")
    val (got, want) = (rawRows(out), rawRows(ref))
    assert(got.diff(want).isEmpty && want.diff(got).isEmpty,
      s"extra rows: ${got.diff(want).take(5)}; missing rows: ${want.diff(got).take(5)}")
    out
  }

  // A seeded fleet labelled the way HvacPipeline labels it: three
  // devices plus a null device, whose cycle numbers repeat; device 2
  // opens with a null state; values come from a small pool (ties,
  // nulls, NaN, signed zeros, non-positive values) and some runs are
  // all null.
  private def seededFleet(seed: Int): DataFrame = {
    import sqlImplicits._
    val rnd = new scala.util.Random(seed)
    val pool = Array[Option[Double]](Some(0.0), Some(-0.0), Some(-2.0), Some(1.0), Some(2.0),
      Some(2.0), Some(3.0), Some(5.0), Some(Double.NaN), None)
    val stages = Array("heat", "cool", "idle")
    var eid = 0L
    val rows = for {
      dev <- Seq(Some(1L), Some(2L), Some(3L), None)
      run <- 0 until 40
      stage = if (dev.contains(2L) && run == 0) null else stages(rnd.nextInt(stages.length))
      allNull = rnd.nextInt(8) == 0
      _ <- 0 until 1 + rnd.nextInt(8)
    } yield {
      eid += 1
      val value = if (allNull) None else pool(rnd.nextInt(pool.length))
      (dev, eid * 60, eid, stage, value)
    }
    val events = rows.toDF("user_id", "ts", "event_id", "event_type", "value")
    Segmentation.labelCycles(events, Seq("user_id"), Seq(col("ts"), col("event_id")), "event_type")
  }

  test("filterValidCycles equals the cycleStats + semi-join reference on seeded fleets") {
    (1 to 3).foreach { seed =>
      val df = seededFleet(seed)
      val out = assertSameAsReference(df, Seq("user_id", "cycle"))
      assert(out.columns.toSeq == Seq("user_id", "cycle", "ts", "event_id", "event_type", "value"))
      // the fleets exercise both outcomes and the null device
      val kept = out.select("user_id", "cycle").distinct().count()
      val all = df.select("user_id", "cycle").distinct().count()
      assert(kept > 0 && kept < all, s"seed $seed: $kept of $all cycles kept")
      assert(df.filter(col("user_id").isNull).count() > 0 && out.filter(col("user_id").isNull).count() == 0)
    }
  }

  test("filterValidCycles folds -0.0 into 0.0 for the mode and lets a NaN tie win like the reference") {
    import sqlImplicits._
    val cycles = Seq(
      1 -> Seq(-0.0, 0.0, 5.0, 5.0), // zero ties 5.0 twice -> mode 0.0: dropped
      2 -> Seq(0.0, -0.0, -0.0, 2.0, 2.0, 2.0), // zero ties 2.0 three times -> mode 0.0: dropped
      3 -> Seq(Double.NaN, Double.NaN, -1.0, -1.0), // NaN ranks first among tied counts: kept
      4 -> Seq(-1.0, -1.0, -1.0, 3.0, 3.0), // mode -1.0: dropped
      5 -> Seq(4.0, 4.0, 7.0, 7.0)) // control: kept
    var eid = 0L
    val df = cycles.flatMap { case (c, vs) =>
      vs.map { v => eid += 1; (7L, c, eid, eid, "heat", v) }
    }.toDF("user_id", "cycle", "ts", "event_id", "event_type", "value")
    val out = assertSameAsReference(df, Seq("user_id", "cycle"))
    assert(out.select("cycle").distinct().as[Int].collect().sorted.toSeq == Seq(3, 5))
  }
}
