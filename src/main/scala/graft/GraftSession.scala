package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the engine: all the configuration the
  * library depends on, in one place. Every main builds its session here
  * and layers only its own extras on top, so a benchmark measures the
  * session library users get.
  *
  *  - shuffle partitions sized to the core count (never the 200
  *    default on a single node);
  *  - AQE on (runtime coalescing + skew-join splitting);
  *  - UTC session timezone (week/date semantics are tz-sensitive);
  *  - nanos-as-long parquet reads (the events fixture is TIMESTAMP
  *    NANOS, which Spark otherwise rejects);
  *  - 128m file split target so scan tasks stay balanced;
  *  - [[GraftExtensions]] injected (custom expressions in SQL).
  */
object GraftSession {

  def builder(master: String = "local[*]", cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE partition coalescing for CACHED plan fragments too (off by
      // default): the engine's hot paths persist small intermediates,
      // and without this every exchange downstream of a cache is
      // pinned at spark.sql.shuffle.partitions tasks regardless of
      // size — per-shuffle-file overhead dominates small stages, and
      // AQE keeps large data at large partition counts (guide §2).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Sort-based shuffle writer even at low reducer counts (default
      // bypass threshold 200): the bypass writer opens one file PER
      // REDUCE PARTITION per map task (32x32 = 1024 file
      // creates/merges/deletes per exchange at the bench shape), and
      // r20 thread dumps showed the media-payload map stages dominated
      // by FileOutputStream.open0 / mmap / temp-file churn, not
      // compute (q88 2.9-4.1 -> 1.8-2.0 s, q93 2.6-3.7 -> 1.3-1.7 s
      // with the sort writer's single spill file per map task).
      // Scale-neutral: production reducer counts exceed the default
      // threshold, so bypass never fires there anyway (guide §2.2 —
      // fewer, larger shuffle blocks).
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // AQE coalescing floor 1 MiB -> 64 KiB: bytes are a bad proxy
      // for CPU on hashed/signature intermediates, and the default
      // floor collapses every sub-MiB shuffle to ONE task — the
      // engine's verification/window stages then serialize on one
      // core (measured r20 same-window A/B at 64k: q82 2.2->1.2 s,
      // q86 2.2->1.4 s, q77 2.4->1.7 s, q30 1.9->1.2 s; q58 pays
      // ~+0.5 s of small-task overhead — net strongly positive).
      // Only shuffles totalling < ~2 MiB/core change shape; at real
      // scale partitions are orders of magnitude above either floor.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val s = builder(master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
