package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark harness: one workload, one seed, one process.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *
  * Builds the inputs from the seed, sets up a `GraftSession` several
  * times (median = `setup_s`), runs the workload's operations for at
  * least `--seconds` and at least the workload's minimum count, checks
  * every output against the planted truth, and prints one JSON line:
  * the end-to-end metrics (trace 0), or the per-layer metrics of
  * traced operations interleaved with untraced ones (trace 1).
  * Diagnostics and spans go to `<out>/runs/<workload>-seed<seed>-trace<t>.json`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, out: Path)

  final case class OpRecord(
      phase: String, index: Int, traced: Boolean, spent: Spent, problems: Seq[String]) {
    def latencyS: Double = spent.wallS
  }

  val SetupRepeats = 3
  val MaxOps = 500

  /** An operation's cost is reported twice: its wall time, which sees
    * waiting, lock contention and lost parallelism, and the engine's
    * CPU seconds ([[Spent]]), which see added work even where spare
    * cores hide it from the wall clock. Set-up is the engine's CPU
    * seconds; its wall time is in the traced run (`wall.setup_s`), the
    * process CPU and JIT compile time of every operation in the run
    * artifact.
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_wall_s" -> "s", "op_cpu_s" -> "s", "retained_heap_mb" -> "MB")

  private val stepFields = Seq("wall_s" -> "s", "task_s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB", "gap_s" -> "s")
  private def steps(prefix: String, names: Seq[String]) =
    for (n <- names; (f, u) <- stepFields) yield s"$prefix$n.$f" -> u

  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.gc_s" -> "s",
    "spark.busy_frac" -> "ratio", "spark.gap_frac" -> "ratio", "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.sched_delay_s" -> "s", "wall.setup_s" -> "s", "wall.op_p50_s" -> "s",
    "cpu.cores_busy" -> "cores", "trace.overhead_frac" -> "ratio", "trace.step_coverage" -> "ratio",
    "failed_frac" -> "ratio", "sql.actions" -> "count", "sql.plan_ms" -> "ms", "sql.jobs_per_action" -> "count",
    "cache.persisted_rdds" -> "count", "cache.storage_mb" -> "MB") ++
    (for (k <- Seq("simhash64", "minhash_sig", "shingle_hashes");
          (f, u) <- Seq("ns_per_row_1t" -> "ns/row", "ns_per_row_nt" -> "ns/row", "scaling" -> "x"))
      yield s"kernel.$k.$f" -> u) ++
    steps("hvac.step.", graft.hvac.HvacPipeline.steps.map(_.name)) ++
    steps("curation.step.", graft.text.CurationPipeline.steps.map(_.name)) ++
    Seq("dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count", "dedup.verify_yield" -> "ratio",
      "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s", "streaming.query_planning_s" -> "s",
      "streaming.wal_commit_s" -> "s", "streaming.commit_offsets_s" -> "s",
      "seenindex.jobs_per_batch" -> "count", "seenindex.gap_s_per_batch" -> "s",
      "seenindex.read_mb_per_batch" -> "MB", "seenindex.write_mb_per_batch" -> "MB",
      "seenindex.index_files" -> "count", "seenindex.index_mb" -> "MB", "seenindex.ledger_files" -> "count",
      "seenindex.batch_growth" -> "x")

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: IllegalArgumentException => System.err.println(s"perfbench: ${e.getMessage}"); 2
        case NonFatal(e) => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, trace, Paths.get(get("out")))
  }

  def session(nproc: Int, work: Path): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val threads = ManagementFactory.getThreadMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans

  /** One reading of the JVM's clocks. */
  final case class Clock(wallNs: Long, processCpuNs: Long, jitMs: Long, gcMs: Long, threadCpuNs: Map[Long, Long])

  def clock(): Clock = {
    import scala.jdk.CollectionConverters._
    val ids = threads.getAllThreadIds
    Clock(System.nanoTime(), os.getProcessCpuTime, jit.getTotalCompilationTime,
      gcs.asScala.map(_.getCollectionTime).sum,
      ids.zip(ids.map(threads.getThreadCpuTime)).filter(_._2 >= 0).toMap)
  }

  /** What a stretch of work cost: wall seconds; CPU seconds of the whole
    * process; JIT compile seconds; GC seconds; and the engine's CPU
    * seconds, which are every Java thread's CPU plus GC time. The JIT compiler threads
    * are not Java threads, so the engine's CPU leaves out compilation,
    * which still trails off over a run's first operations and dominated
    * the run-to-run spread of the process CPU.
    */
  final case class Spent(wallS: Double, cpuS: Double, jitS: Double, engineS: Double, gcS: Double) {
    def +(o: Spent): Spent = Spent(wallS + o.wallS, cpuS + o.cpuS, jitS + o.jitS, engineS + o.engineS, gcS + o.gcS)
  }

  def since(c: Clock): Spent = {
    val n = clock()
    val threadNs = n.threadCpuNs.iterator.map { case (id, t) => t - c.threadCpuNs.getOrElse(id, 0L) }.sum
    Spent((n.wallNs - c.wallNs) / 1e9, (n.processCpuNs - c.processCpuNs) / 1e9, (n.jitMs - c.jitMs) / 1e3,
      threadNs / 1e9 + (n.gcMs - c.gcMs) / 1e3, (n.gcMs - c.gcMs) / 1e3)
  }

  /** A fixed query, median of three: the box's speed at this moment. */
  def sentinel(spark: SparkSession, nproc: Int): Double =
    Workloads.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, nproc).selectExpr("sum((id * 7919) % 1000003) AS s").collect()
      secondsSince(t0)
    })

  /** Heap in use after full collections, once it has settled (the
    * last of the readings returned): Spark's ContextCleaner drops the
    * blocks of collected RDDs asynchronously after a GC, and a chain of
    * them can take several collections, with equal readings in between.
    * So the heap must read the same four times in a row.
    */
  def retainedHeapMb(): Seq[Double] = {
    def usedMb(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    val readings = ArrayBuffer(usedMb())
    def settled = readings.size >= 4 && readings.takeRight(4).sliding(2).forall(p => math.abs(p(1) - p(0)) <= 0.5)
    while (!settled && readings.size < 15) readings += usedMb()
    readings.toSeq
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def loadAverage(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Operations until `seconds` have passed and `w.warmOps + minOps`
    * ran. With a tracer, every second measured operation runs traced
    * (listeners registered, spans set), starting with the first, so
    * traced and untraced operations interleave and the overhead
    * estimate is not the JIT warming up.
    */
  def runPhase(spark: SparkSession, w: Workload, tag: String, seconds: Double, minOps: Int,
      tracer: Option[Tracer]): Seq[OpRecord] = {
    w.startPhase(spark, tag)
    val ops = ArrayBuffer.empty[OpRecord]
    val t0 = System.nanoTime()
    while ((secondsSince(t0) < seconds || ops.size < w.warmOps + minOps) && ops.size < MaxOps) {
      val traced = tracer.isDefined && ops.size >= w.warmOps && (ops.size - w.warmOps) % 2 == 0
      w.beforeOp()
      val spans: Spans = if (traced) tracer.get.start() else Spans.off
      val c = clock()
      val result = try Right(spans("op")(w.op(spark, spans))) catch { case NonFatal(e) => Left(e) }
      val spent = since(c)
      if (traced) tracer.get.stop()
      ops += (result match {
        case Right(check) =>
          val problems = try check() catch { case NonFatal(e) => Seq(s"check failed: $e") }
          OpRecord(tag, ops.size, traced, spent, problems)
        case Left(e) => OpRecord(tag, ops.size, traced, spent, Seq(s"operation failed: $e"))
      })
    }
    val late = try w.endPhase(spark) catch { case NonFatal(e) => ops.indices.map(_ -> Seq(s"phase check failed: $e")).toMap }
    ops.map(o => o.copy(problems = o.problems ++ late.getOrElse(o.index, Nil))).toSeq
  }

  def run(o: Opts): Int = {
    val w = Workloads(o.workload, o.seed)
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = o.out.toAbsolutePath.resolve(s"work-${o.workload}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    try measure(o, w, nproc, work)
    finally deleteTree(work)
  }

  private def measure(o: Opts, w: Workload, nproc: Int, work: Path): Int = {
    val runId = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    // set-up = session build + warm-up, several times; the inputs are
    // written by the first session, outside the timed part
    val setups = ArrayBuffer.empty[Spent]
    var spark: SparkSession = null
    var prepareS = 0.0
    (0 until SetupRepeats).foreach { i =>
      if (spark != null) spark.stop()
      val c0 = clock()
      spark = session(nproc, work)
      val built = since(c0)
      if (i == 0) {
        val t0 = System.nanoTime()
        w.prepare(spark, work.resolve("input"))
        prepareS = secondsSince(t0)
      }
      val c1 = clock()
      w.warmup(spark)
      setups += built + since(c1)
    }

    val conf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") || k.startsWith("spark.shuffle.") || k == "spark.master" }
    val diag = scala.collection.mutable.LinkedHashMap[String, Any](
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "input_digest" -> w.digest,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"), "nproc" -> nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "session" -> s"graft.GraftSession.builder(local[$nproc], $nproc) + spark.local.dir + spark.sql.warehouse.dir",
      "graft_extensions" -> spark.catalog.functionExists("simhash64"),
      "sql_conf" -> conf.toSeq.sortBy(_._1).toMap,
      "prepare_wall_s" -> prepareS, "setup" -> setups.map(spentJson),
      "load_before" -> loadAverage(), "sentinel_before_s" -> sentinel(spark, nproc))

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val all =
      if (!o.trace) {
        val ran = runPhase(spark, w, "untraced", o.seconds, w.minOps, None)
        val measured = ran.drop(w.warmOps)
        metrics += "setup_s" -> Workloads.median(setups.map(_.engineS).toSeq)
        metrics += "op_wall_s" -> Workloads.median(measured.map(_.spent.wallS))
        metrics += "op_cpu_s" -> Workloads.median(measured.map(_.spent.engineS))
        val heap = retainedHeapMb()
        diag("heap_readings_mb") = heap
        metrics += "retained_heap_mb" -> heap.last
        ran
      } else traced(spark, w, o, runId, nproc, setups.map(_.wallS).toSeq, metrics, diag)
    val failed = all.count(_.problems.nonEmpty)
    if (o.trace) metrics("failed_frac") = failed.toDouble / all.size
    diag ++= Seq(
      "sentinel_after_s" -> sentinel(spark, nproc), "load_after" -> loadAverage(),
      "jvm_uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "ops" -> all.map(r => spentJson(r.spent) ++ Map("phase" -> r.phase, "index" -> r.index, "traced" -> r.traced,
        "problems" -> r.problems.take(5))),
      "metrics" -> metrics)
    spark.stop()

    val runs = o.out.resolve("runs")
    Files.createDirectories(runs)
    json.writeValue(runs.resolve(s"$runId.json").toFile, diag)

    val units = (if (o.trace) perLayer else endToEnd).toMap
    val line = Map(
      "correct" -> (failed == 0), "attempted" -> all.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> Map("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> units(k))
      })
    println(json.writeValueAsString(line))
    0
  }

  /** The traced run: interleaved traced and untraced operations, then
    * the per-layer metrics, the kernel probe and the spans.
    */
  private def traced(spark: SparkSession, w: Workload, o: Opts, runId: String, nproc: Int, setups: Seq[Double],
      metrics: scala.collection.mutable.Map[String, Double],
      diag: scala.collection.mutable.Map[String, Any]): Seq[OpRecord] = {
    val tracer = new Tracer(spark, runId)
    // an even count of measured operations ends on an untraced one; of
    // four, the second traced one has an untraced neighbour on each side
    val measured = math.max(4, w.minOps + w.minOps % 2)
    val mixed = try runPhase(spark, w, "mixed", o.seconds, measured, Some(tracer)) finally tracer.close()
    val plain = mixed.drop(w.warmOps).filterNot(_.traced)
    def lat(ops: Seq[OpRecord]) = ops.map(_.latencyS)
    val overhead = mixed.indices.filter(i => mixed(i).traced && i - 1 >= w.warmOps && i + 1 < mixed.size).map { i =>
      mixed(i).latencyS / ((mixed(i - 1).latencyS + mixed(i + 1).latencyS) / 2)
    }
    val ops = tracer.spans.filter(s => s.name == "op" && s.parent < 0)
    val st = ops.map(tracer.stats)
    val wall = st.map(_.wallS).sum
    val n = math.max(1, ops.size).toDouble
    val actions = tracer.actions.filter(a => ops.exists(s => a.atMs >= s.startMs && a.atMs <= s.endMs))
    perLayer.foreach { case (k, _) => metrics(k) = 0.0 }
    metrics ++= Seq(
      "spark.jobs" -> st.map(_.jobs).sum / n,
      "spark.tasks" -> st.map(_.tasks).sum / n,
      "spark.task_s" -> st.map(_.taskS).sum / n,
      "spark.gc_s" -> st.map(_.gcS).sum / n,
      "spark.busy_frac" -> st.map(_.taskS).sum / math.max(1e-9, wall * nproc),
      "spark.gap_frac" -> st.map(_.gapS).sum / math.max(1e-9, wall),
      "spark.shuffle_mb" -> st.map(_.shuffleMb).sum / n,
      "spark.spill_mb" -> st.map(_.spillMb).sum / n,
      "spark.sched_delay_s" -> st.map(_.schedDelayS).sum / n,
      "wall.setup_s" -> Workloads.median(setups),
      "wall.op_p50_s" -> Workloads.median(lat(plain)),
      "cpu.cores_busy" -> plain.map(_.spent.cpuS).sum / lat(plain).sum,
      "trace.overhead_frac" -> (Workloads.median(overhead) - 1),
      "sql.actions" -> actions.size / n,
      "sql.plan_ms" -> Workloads.median(actions.map(_.planMs)),
      "sql.jobs_per_action" -> st.map(_.jobs).sum.toDouble / math.max(1, actions.size))
    metrics ++= w.layerMetrics(spark, tracer, ops)
    KernelProbe.run(w.kernelTexts, nproc).foreach { r =>
      metrics(s"kernel.${r.kernel}.ns_per_row_1t") = r.nsPerRow1t
      metrics(s"kernel.${r.kernel}.ns_per_row_nt") = r.nsPerRowNt
      metrics(s"kernel.${r.kernel}.scaling") = r.scaling
    }
    metrics("cache.persisted_rdds") = spark.sparkContext.getPersistentRDDs.size.toDouble
    metrics("cache.storage_mb") = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    diag("spans") = tracer.spans.map { s =>
      val x = tracer.stats(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> x.wallS, "self_s" -> x.selfS,
        "gap_s" -> x.gapS, "jobs" -> x.jobs, "task_s" -> x.taskS, "shuffle_mb" -> x.shuffleMb)
    }
    mixed
  }

  private def spentJson(x: Spent): Map[String, Any] =
    Map("wall_s" -> x.wallS, "cpu_s" -> x.cpuS, "jit_s" -> x.jitS, "engine_cpu_s" -> x.engineS, "gc_s" -> x.gcS)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList.reverse.foreach(x => Files.deleteIfExists(x))
      } finally s.close()
    }
}
