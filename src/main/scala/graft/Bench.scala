package graft

import scala.util.control.NonFatal

/** Benchmark main — runs every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Statistical honesty: each query runs `SPARK_GRAFT_BENCH_RUNS`
  * (default 3) times and reports the per-query MEDIAN; the total is
  * the sum of medians. Single runs at this scale showed ~2x
  * run-to-run variance (JIT/GC/page cache) — round 1 vs round 2
  * "regressed" 31% with zero engine changes on the measured path.
  * The JSON additionally carries a machine-contention diagnosis: a
  * fixed trivial `sentinel` query timed first and last (disagreement
  * = the machine got busy mid-run), and `run_spread_mean`/
  * `run_spread_max` (per-query max/min across repeats — fat spreads
  * on unchanged queries = external load, not regression).
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) -1.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Written relative to the working directory unless overridden —
    // the driver invokes from the repo root (see build.sbt outputStrategy).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so session init is not billed to the first
    // query: one shuffle + one parquet footer read.
    try {
      spark.range(1000000L).selectExpr("sum(id) s").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").schema
    } catch { case NonFatal(_) => () }
    // A throwing query must not masquerade as a fast successful one:
    // its median is reported as -1, it is excluded from the total, and
    // its name lands in the "failed" list.
    //
    // Sub-second queries showed +-40% round-to-round swings on
    // untouched code (q15: 0.93<->0.64 s across four rounds) — at that
    // duration a single JIT tier-up or GC pause IS the measurement. So
    // each query gets one UNTIMED warm-up execution (compiles its
    // codegen and JITs its hot loops outside the measured window), and
    // queries whose warm-up ran under a second are measured
    // median-of-5 instead of median-of-`runs`.
    // Cross-query isolation: queries that cache/checkpoint (q15's
    // baseline table, streaming pins) leave state in the shared JVM
    // that later queries silently reuse — BENCH_r09 vs r10 showed
    // multi-second per-query swings on IDENTICAL code purely from
    // which predecessor had warmed what. The reset and its safety
    // invariant live in ONE place ([[graft.core.CacheHygiene]]) shared
    // with ScaleBench and ExplainAudit.
    def resetState(): Unit = graft.core.CacheHygiene.resetAll(spark)
    // CONTENTION SENTINEL: the same fixed trivial query (parquet scan
    // + tiny shuffle — the substrate every real query shares) measured
    // median-of-3 BEFORE and AFTER the sweep. The reading rule:
    // "last" MUCH SLOWER than "first" means the machine got busy
    // mid-run, so a slow total carries its own diagnosis instead of
    // reading as a regression (BENCH_r16 recorded 160 s where the
    // same code measured 77-92 s quiet — adjudicated only by off-line
    // re-runs; this field makes that adjudication part of the
    // artifact). "first" somewhat slower than "last" is the expected
    // quiet-box shape: even after the warm-up burst below, a freshly
    // started JVM keeps tiering up through the sweep's early queries,
    // so the direction of the disagreement — not its mere existence —
    // is the signal.
    def sentinelOnce(): Double = {
      resetState()
      val t0 = System.nanoTime()
      try {
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy("l_returnflag").count().collect()
      } catch { case NonFatal(_) => () }
      (System.nanoTime() - t0) / 1e9
    }
    // a BURST of untimed warm-ups, not one: the first sentinel runs on
    // a cold JVM, and a single execution leaves its codegen/JIT far
    // from steady state (measured: first 0.48 s vs last 0.20 s on a
    // quiet box with one warm-up — a 2.4x artifact that would read as
    // reverse contention under a naive equal-within-noise rule)
    (0 until 5).foreach(_ => sentinelOnce())
    val sentinelFirst = median((0 until 3).map(_ => sentinelOnce()))
    // Local-iteration escape hatch: SPARK_GRAFT_BENCH_ONLY=q83_...,q88_...
    // limits the run to the named queries. The driver never sets it,
    // so round benches always cover the full registry.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }
    // NAME-SORTED execution order, not Map iteration order: adding one
    // query to the registry reshuffles an immutable HashMap's order,
    // which silently changes every query's warm-state inheritance (JIT
    // tiers, page cache) — measured as multi-second swings on
    // UNTOUCHED decode-heavy queries when q108 landed. A fixed order
    // keeps per-query numbers comparable across rounds.
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      var failed = false
      def once(): Double = {
        resetState()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case NonFatal(_) => failed = true }
        (System.nanoTime() - t0) / 1e9
      }
      val warmup = once()
      val n = if (failed) 1 else if (warmup < 1.0) math.max(runs, 5) else math.max(runs, 1)
      val times = (0 until n).map(_ => once())
      // per-query max/min across the repeats: the second contention
      // signal — a busy machine shows up as a fat spread on queries
      // whose code did not change
      val spread = if (failed || times.min <= 0) -1.0 else times.max / times.min
      name -> (if (failed) -1.0 else median(times), spread)
    }
    val sentinelLast = median((0 until 3).map(_ => sentinelOnce()))
    val spreads = results.collect { case (_, (v, s)) if v >= 0 && s > 0 => s }
    val spreadMean = if (spreads.isEmpty) -1.0 else spreads.sum / spreads.size
    val spreadMax = if (spreads.isEmpty) -1.0 else spreads.max
    val failedNames = results.collect { case (k, (v, _)) if v < 0 => k }.toSeq.sorted
    val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sentinelJson =
      s"""{"first":$sentinelFirst,"last":$sentinelLast}"""
    // Per-query spreads (max/min across repeats) ride the FILE copy
    // only: run_spread_max alone says "something spiked" without
    // naming it, so every fat-spread adjudication used to need a
    // re-run. Top-8 by spread, 2 decimals — enough to point at the
    // one GC-paused sub-second query without bloating the line.
    val spreadsJson = results
      .collect { case (k, (v, s)) if v >= 0 && s > 0 => (k, s) }
      .sortBy(-_._2).take(8)
      .map { case (k, s) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(s))
      }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"failed":$failedJson,"sentinel":$sentinelJson,"run_spread_mean":$spreadMean,"run_spread_max":$spreadMax,"top_spreads":$spreadsJson}"""
    // The driver captures only the LAST ~2000 chars of output and
    // parses the JSON line out of that tail. With 90 queries the
    // full-name line is ~3000 chars, so the head (including "metric"
    // and "value") falls off the capture and the driver records
    // parsed:null (this happened in rounds 12-13). Print a COMPACT
    // line on stdout — query names shortened to their unique "qNN"
    // prefix, times rounded to ms — and keep the full-precision
    // full-name line in the bench.json file copy.
    val shortKey = "^(q[0-9]+[a-z]?)".r
    def short(k: String) = shortKey.findFirstIn(k).getOrElse(k)
    // Locale-pinned formatting: the default-locale `f` interpolator
    // emits "0,123" under comma-decimal locales (de_DE etc.) —
    // invalid JSON, the exact failure this compact line exists to
    // avoid. ROOT guarantees a dot regardless of the host JVM.
    def fmt3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Fall back to full names on prefix collision (would otherwise
    // emit duplicate JSON keys).
    val collide = results.map(_._1).groupBy(short).collect { case (p, ks) if ks.size > 1 => p }.toSet
    val qsCompact = results.map { case (k, (v, _)) =>
      val sk = if (collide(short(k))) k else short(k)
      "\"" + sk + "\":" + (if (v < 0) "-1" else fmt3(v))
    }.mkString("{", ",", "}")
    val sentinelCompact =
      s"""{"first":${fmt3(sentinelFirst)},"last":${fmt3(sentinelLast)}}"""
    val compact =
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","queries":$qsCompact,"sf":"$sfDir","runs":$runs,"failed":$failedJson,"sentinel":$sentinelCompact,"run_spread_mean":${fmt3(spreadMean)},"run_spread_max":${fmt3(spreadMax)}}"""
    // Bare line on stdout (build.sbt's StdoutOutput strategy keeps it
    // unprefixed) + a file copy, so the driver can parse either way.
    println(compact)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(_) => () }
    spark.stop()
  }
}
