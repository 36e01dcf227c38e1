package graft.ops

import graft.SparkSpec

/** U2's documented semantics pinned directly (the hvac pipeline
  * exercises it only through a single-device fixture): per-cycle
  * duration = max(ts) - min(ts) microsecond-exact, short iff
  * duration < minCycleSeconds, verdict iff the short ratio clears
  * maxShortRatio on >= minCycles cycles.
  */
class ShortCyclingSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("verdict fires on many short cycles, not on few or long ones") {
    import sqlImplicits._
    // stage A: 10 cycles of 60 s (all short) -> fires; stage B: 10
    // cycles of 600 s -> clean; stage C: only 3 short cycles -> below
    // minCycles, never fires
    val rows =
      (1 to 10).flatMap(c => Seq(
        ("A", c, ts(f"2024-01-01 01:$c%02d:00")), ("A", c, ts(f"2024-01-01 01:$c%02d:59")))) ++
      (1 to 10).flatMap(c => Seq(
        ("B", c, ts(f"2024-01-01 02:$c%02d:00")), ("B", c, ts(f"2024-01-01 03:$c%02d:00")))) ++
      (1 to 3).flatMap(c => Seq(
        ("C", c, ts(f"2024-01-01 04:$c%02d:00")), ("C", c, ts(f"2024-01-01 04:$c%02d:30"))))
    val df = rows.toDF("stage", "cycle", "ts")
    val out = ShortCycling.detect(df, Seq("stage"), "cycle", "ts")
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("short_cycling")).toMap
    assert(out == Map("A" -> true, "B" -> false, "C" -> false), out.toString)
  }

  test("duration is microsecond-exact at the short boundary (no per-endpoint second truncation)") {
    import sqlImplicits._
    // every cycle runs 299.6 s — short under the 300 s minimum. The
    // old unix_timestamp form truncated each endpoint to whole
    // seconds, so a x:00:00.700 -> x:05:00.300 cycle read as exactly
    // 300 and flipped to NOT short (review r19).
    val rows = (1 to 10).flatMap { c =>
      Seq(("A", c, ts(f"2024-01-01 0${c % 8}:$c%02d:00.7")),
        ("A", c, ts(f"2024-01-01 0${c % 8}:${c + 5}%02d:00.3")))
    }
    val out = ShortCycling.detect(rows.toDF("stage", "cycle", "ts"), Seq("stage"), "cycle", "ts")
      .collect()
    assert(out.length == 1 && out(0).getAs[Boolean]("short_cycling"),
      out.mkString(","))
    assert(out(0).getAs[Long]("n_short") == 10L)
  }

  test("cycle key can be a composite (struct) column — the multi-device grain") {
    import sqlImplicits._
    // two devices, each with cycles 1..5 of 60 s: at the (device,
    // cycle) grain that is 10 short cycles; a bare-cycle grain would
    // merge the devices into 5 pseudo-cycles spanning hours
    val rows = for {
      dev <- Seq(1L, 2L); c <- 1 to 5
      off = if (dev == 1L) 1 else 6
      t <- Seq(f"2024-01-01 0$off:$c%02d:00", f"2024-01-01 0$off:$c%02d:59")
    } yield (dev, "heat", c, ts(t))
    val df = rows.toDF("user_id", "stage", "cycle", "ts")
      .withColumn("__cycle_key",
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("cycle")))
    val out = ShortCycling.detect(df, Seq("stage"), "__cycle_key", "ts").collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_cycles") == 10L, out(0).toString)
    assert(out(0).getAs[Boolean]("short_cycling"))
  }

  test("TIMESTAMP_NTZ timestamps are measured like TIMESTAMP ones") {
    import sqlImplicits._
    // zone-less parquet timestamps (the events fixture's `ts`) arrive
    // as TIMESTAMP_NTZ; the 299.6 s boundary cycles must read short
    // there too
    val rows = (1 to 10).flatMap { c =>
      Seq(("A", c, ts(f"2024-01-01 0${c % 8}:$c%02d:00.7")),
        ("A", c, ts(f"2024-01-01 0${c % 8}:${c + 5}%02d:00.3")))
    }
    val df = rows.toDF("stage", "cycle", "ts").withColumn("ts", $"ts".cast("timestamp_ntz"))
    val out = ShortCycling.detect(df, Seq("stage"), "cycle", "ts").collect()
    assert(out.length == 1 && out(0).getAs[Boolean]("short_cycling"), out.mkString(","))
    assert(out(0).getAs[Long]("n_short") == 10L)
  }
}
