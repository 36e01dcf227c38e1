package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.{Pipeline, PipelineContext, Processor}
import graft.sources.Sources

/** One benchmark workload. The harness calls, in order: `prepare`
  * (untimed input generation), `warmup` (part of set-up, once per
  * session built), then per measured phase `startPhase`, and for each
  * operation `beforeOp` (untimed), `op` (timed; returns an untimed
  * output check), and finally `endPhase`
  * (checks that need the whole phase, by op index).
  */
abstract class Workload(val name: String, val seed: Long) {
  /** Operations at the start of each phase that run and are checked but
    * not measured: JIT compilation still trails off over the first
    * full-size operation after the small warm-ups of the set-up.
    */
  def warmOps: Int = 1
  /** Measured operations per phase at the least, however long it runs. */
  def minOps: Int = 2
  def digest: String
  def kernelTexts: Seq[String]
  def prepare(spark: SparkSession, dir: Path): Unit
  def warmup(spark: SparkSession): Unit
  def startPhase(spark: SparkSession, tag: String): Unit = ()
  def beforeOp(): Unit = ()
  def op(spark: SparkSession, spans: Spans): () => Seq[String]
  def endPhase(spark: SparkSession): Map[Int, Seq[String]] = Map.empty
  /** Workload-specific per-layer metrics of a traced phase. */
  def layerMetrics(spark: SparkSession, tracer: Tracer, ops: Seq[Tracer.Span]): Map[String, Double]
}

object Workloads {

  val names: Seq[String] = Seq("hvac_power", "corpus_curation", "ingest_epochs")

  def apply(name: String, seed: Long): Workload = name match {
    case "hvac_power" => new HvacPower(seed)
    case "corpus_curation" => new CorpusCuration(seed)
    case "ingest_epochs" => new IngestEpochs(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The pipeline with each step run inside a span named
    * `<prefix><step>`; with tracing off it is the pipeline itself.
    */
  def traced(p: Pipeline, spans: Spans, prefix: String): Pipeline =
    if (spans eq Spans.off) p
    else new Pipeline(p.processors.map(step => spanned(step, spans, prefix)), p.conditions, p.stopOnError, p.enableCheckpoints)

  private def spanned(p: Processor, spans: Spans, prefix: String): Processor = new Processor {
    override def name: String = p.name
    override def requiredTables: Seq[String] = p.requiredTables
    override def requiredColumns: Map[String, Seq[String]] = p.requiredColumns
    override def requiredResults: Seq[String] = p.requiredResults
    override def process(ctx: PipelineContext): PipelineContext = spans(prefix + p.name)(p.process(ctx))
    override def validateOutput(ctx: PipelineContext): Unit = p.validateOutput(ctx)
  }

  /** Per-step medians over the traced operations: wall, task time,
    * jobs, shuffle and the part of the step with no job running.
    */
  def stepMetrics(tracer: Tracer, ops: Seq[Tracer.Span], prefix: String, steps: Seq[String]): Map[String, Double] =
    steps.flatMap { step =>
      val st = ops.flatMap(o => tracer.childrenOf(o).filter(_.name == prefix + step)).map(tracer.stats)
      Seq(
        s"$prefix$step.wall_s" -> median(st.map(_.wallS)),
        s"$prefix$step.task_s" -> median(st.map(_.taskS)),
        s"$prefix$step.jobs" -> median(st.map(_.jobs.toDouble)),
        s"$prefix$step.shuffle_mb" -> median(st.map(_.shuffleMb)),
        s"$prefix$step.gap_s" -> median(st.map(_.gapS)))
    }.toMap

  /** Share of the operations' wall time inside their child spans. */
  def childCoverage(tracer: Tracer, ops: Seq[Tracer.Span]): Double = {
    val wall = ops.map(_.wallS).sum
    if (wall <= 0) 0.0 else ops.map(o => tracer.childrenOf(o).map(_.wallS).sum).sum / wall
  }
}

/** The 7-step HVAC power-analysis pipeline over a generated fleet. */
final class HvacPower(seed: Long) extends Workload("hvac_power", seed) {
  import Workloads._
  import HvacPower._

  val fleet: Gen.Fleet = Gen.fleet(seed, Devices, Days)
  private val warmFleet = Gen.fleet(seed + 1, Devices, 3)
  private var dir: Path = _
  private var warmDir: Path = _

  def digest: String = fleet.digest
  def kernelTexts: Seq[String] = Gen.corpus(seed, 3000).docs.map(_.text).toSeq

  private val t0Seconds = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond

  /** The rows go out as CSV, which Spark reads in parallel splits and
    * writes as the parquet file the pipeline reads.
    */
  private def write(spark: SparkSession, f: Gen.Fleet, to: Path): Unit = {
    val csv = to.resolveSibling(s"${to.getFileName}.csv")
    val out = Files.newBufferedWriter(csv)
    try f.rows.foreach(r => out.write(s"${r.eventId},${t0Seconds + r.tsMinute * 60},${r.device},${r.stage},${r.watts}\n"))
    finally out.close()
    spark.read.schema("event_id LONG, ts_s LONG, user_id LONG, event_type STRING, value DOUBLE").csv(csv.toString)
      .selectExpr("event_id", "timestamp_seconds(ts_s) AS ts", "user_id", "event_type", "value")
      .write.parquet(to.resolve("events.parquet").toString)
  }

  def prepare(spark: SparkSession, d: Path): Unit = {
    dir = Files.createDirectories(d).resolve("fleet"); warmDir = d.resolve("fleet-warm")
    write(spark, fleet, dir); write(spark, warmFleet, warmDir)
  }

  private def run(spark: SparkSession, spans: Spans, from: Path): PipelineContext =
    traced(graft.hvac.HvacPipeline.pipeline, spans, "hvac.step.")
      .run(PipelineContext("power-analysis", tables = Map("events" -> Sources.events(spark, from.toString))))

  def warmup(spark: SparkSession): Unit = run(spark, Spans.off, warmDir)

  def op(spark: SparkSession, spans: Spans): () => Seq[String] = {
    val ctx = run(spark, spans, dir)
    () => {
      val verdicts = ctx.result[Seq[graft.hvac.VarianceVerdict]]("variance_final").map(v => v.stage -> v.variance).toMap
      val thresholds = ctx.result[Seq[graft.hvac.StageThreshold]]("thresholds").map(t => t.stage -> t.threshold).toMap
      val curated = ctx.table("curated").groupBy("user_id", "event_type").count().collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      Checks.hvac(fleet, verdicts, thresholds, curated)
    }
  }

  def layerMetrics(spark: SparkSession, tracer: Tracer, ops: Seq[Tracer.Span]): Map[String, Double] =
    stepMetrics(tracer, ops, "hvac.step.", graft.hvac.HvacPipeline.steps.map(_.name)) +
      ("trace.step_coverage" -> childCoverage(tracer, ops))
}

object HvacPower {
  /** Several devices, so the per-device windows run as parallel tasks
    * and cycle numbers repeat across devices.
    */
  val Devices = 4
  val Days = 30
}

/** Annotate -> exact dedup -> near dedup -> quality gate -> stats
  * over a generated corpus with planted duplicate clusters.
  */
final class CorpusCuration(seed: Long) extends Workload("corpus_curation", seed) {
  import Workloads._

  // the JIT settles more slowly here: the first two full-size runs
  // were 10-30% slower than the next three, and by how much varied
  // from run to run
  override def warmOps: Int = 2

  val corpus: Gen.Corpus = Gen.corpus(seed, 3000)
  private val warmCorpus = Gen.corpus(seed + 1, 200)
  private var dir: Path = _
  private var warmDir: Path = _
  private var lastCtx: Option[PipelineContext] = None

  def digest: String = corpus.digest
  def kernelTexts: Seq[String] = corpus.docs.iterator.map(_.text).toSeq

  private def write(spark: SparkSession, c: Gen.Corpus, to: Path): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val rows = c.docs.toSeq.map(d => Row(d.id, d.text, d.lang, s"src${d.id % 7}", d.text.length.toLong))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.parquet(to.resolve("documents.parquet").toString)
  }

  def prepare(spark: SparkSession, d: Path): Unit = {
    dir = d.resolve("corpus"); warmDir = d.resolve("corpus-warm")
    write(spark, corpus, dir); write(spark, warmCorpus, warmDir)
  }

  private def run(spark: SparkSession, spans: Spans, from: Path): PipelineContext =
    traced(graft.text.CurationPipeline.pipeline, spans, "curation.step.")
      .run(PipelineContext("corpus-curation", config = Map("min_quality" -> "0.3"),
        tables = Map("documents" -> Sources.documents(spark, from.toString))))

  /** The pipeline persists every table it builds; a caller done with a
    * result releases them, so the next run computes instead of reading
    * this run's cache.
    */
  private def release(ctx: PipelineContext): Unit = ctx.tables.values.foreach(_.unpersist())

  def warmup(spark: SparkSession): Unit = release(run(spark, Spans.off, warmDir))

  override def beforeOp(): Unit = {
    lastCtx.foreach(release)
    lastCtx = None
  }

  def op(spark: SparkSession, spans: Spans): () => Seq[String] = {
    val ctx = run(spark, spans, dir)
    lastCtx = Some(ctx)
    () => {
      val survivors = ctx.table("near_deduped").select("doc_id").collect().map(_.getLong(0)).toSet
      Checks.curation(corpus, survivors)
    }
  }

  override def endPhase(spark: SparkSession): Map[Int, Seq[String]] = {
    beforeOp()
    Map.empty
  }

  def layerMetrics(spark: SparkSession, tracer: Tracer, ops: Seq[Tracer.Span]): Map[String, Double] = {
    // the dedup operators alone, on the exact-dedup output of one
    // more pipeline run: LSH candidates and the pairs verification keeps
    val ctx = run(spark, Spans.off, dir)
    val docsDf = ctx.table("exact_deduped")
    val candidates = graft.dedup.Dedup.minhashCandidatePairs(docsDf, "text", "doc_id", n = 3, numHashes = 32, bands = 16).count()
    val verified = graft.dedup.Dedup.verifyCandidates(docsDf, "text", "doc_id", n = 3, threshold = 0.5).count()
    release(ctx)
    stepMetrics(tracer, ops, "curation.step.", graft.text.CurationPipeline.steps.map(_.name)) ++ Map(
      "trace.step_coverage" -> childCoverage(tracer, ops),
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.verify_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }
}

/** Exactly-once simhash ingest over a file stream: one generated
  * batch per micro-batch, closed loop (the next file is delivered
  * when the previous batch has been processed).
  */
final class IngestEpochs(seed: Long) extends Workload("ingest_epochs", seed) {
  import Workloads._

  private val BatchDocs = 500

  // batch 1 is the first real gate (batch 0, the phase's warm-up
  // operation, meets an empty index); five keep the median off it
  override def minOps: Int = 5

  private var root: Path = _
  private var phaseDir: Path = _
  private var gen: Gen.IngestStream = _
  private var query: StreamingQuery = _
  private val batches = ArrayBuffer.empty[Gen.Batch]
  private var staged: Option[(Gen.Batch, Path)] = None

  private lazy val firstBatches: Seq[Gen.Batch] = {
    val g = new Gen.IngestStream(seed, BatchDocs)
    (0 until 8).map(_ => g.next())
  }

  def digest: String = {
    val d = new Gen.Digest
    firstBatches.foreach(b => d.add(b.digest))
    d.hex
  }
  def kernelTexts: Seq[String] = firstBatches.flatMap(_.docs.map(_.text))

  def prepare(spark: SparkSession, d: Path): Unit = root = Files.createDirectories(d)

  private def writeJson(b: Gen.Batch, to: Path): Unit = {
    val sb = new StringBuilder
    b.docs.foreach(doc => sb.append(s"""{"doc_id":${doc.id},"text":"${doc.text}"}""").append('\n'))
    Files.write(to, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def paths(p: Path) = (p.resolve("in"), p.resolve("staging"), p.resolve("index"), p.resolve("out"), p.resolve("ckpt"))

  private def startStream(spark: SparkSession, p: Path): StreamingQuery = {
    val (in, staging, index, out, ckpt) = paths(p)
    Files.createDirectories(in); Files.createDirectories(staging)
    val stream = spark.readStream.schema("doc_id LONG, text STRING").option("maxFilesPerTrigger", "1").json(in.toString)
    graft.dedup.SeenIndex.gateStreamSimhashExactlyOnce(stream, "text", index.toString, out.toString, ckpt.toString)
  }

  private def deliver(q: StreamingQuery, staged: Path, in: Path): Unit = {
    Files.move(staged, in.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
  }

  def warmup(spark: SparkSession): Unit = {
    val p = Files.createTempDirectory(root, "warm")
    val q = startStream(spark, p)
    val g = new Gen.IngestStream(seed + 1, 50)
    try (0 until 2).foreach { i =>
      val f = paths(p)._2.resolve(f"batch-$i%05d.json")
      writeJson(g.next(), f)
      deliver(q, f, paths(p)._1)
    } finally q.stop()
  }

  override def startPhase(spark: SparkSession, tag: String): Unit = {
    phaseDir = root.resolve(s"ingest-$tag")
    gen = new Gen.IngestStream(seed, BatchDocs)
    batches.clear()
    query = startStream(spark, phaseDir)
  }

  override def beforeOp(): Unit = {
    val b = gen.next()
    val f = paths(phaseDir)._2.resolve(f"batch-${b.index}%05d.json")
    writeJson(b, f)
    staged = Some(b -> f)
  }

  def op(spark: SparkSession, spans: Spans): () => Seq[String] = {
    val (b, f) = staged.get
    staged = None
    batches += b
    deliver(query, f, paths(phaseDir)._1)
    () => Nil
  }

  override def endPhase(spark: SparkSession): Map[Int, Seq[String]] = {
    query.stop()
    val out = paths(phaseDir)._4
    val admitted =
      if (Files.exists(out)) spark.read.parquet(out.toString).select("doc_id").collect().map(_.getLong(0)).toSeq
      else Nil
    val byBatch = Checks.ingest(batches.toSeq, admitted)
    val stray = byBatch.getOrElse(-1, Nil)
    batches.indices.map(i => i -> (byBatch.getOrElse(i, Nil) ++ stray)).toMap
  }

  private def tree(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.filter(Files.isRegularFile(_)).toList }
      finally s.close()
    }

  def layerMetrics(spark: SparkSession, tracer: Tracer, ops: Seq[Tracer.Span]): Map[String, Double] = {
    val st = ops.map(tracer.stats)
    val prog = tracer.progress.filter(_.numInputRows > 0)
    def dur(k: String): Double = median(prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))) / 1e3
    val lat = ops.map(_.wallS)
    val q = math.max(1, lat.size / 4)
    val (_, _, index, _, _) = paths(phaseDir)
    val indexFiles = tree(index).filter(_.getFileName.toString.endsWith(".parquet"))
    val ledger = tree(index.resolveSibling(index.getFileName.toString + ".epochs"))
    Map(
      "trace.step_coverage" -> (prog.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)).sum / 1e3 /
        math.max(1e-9, lat.sum)),
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "seenindex.jobs_per_batch" -> median(st.map(_.jobs.toDouble)),
      "seenindex.gap_s_per_batch" -> median(st.map(_.gapS)),
      "seenindex.read_mb_per_batch" -> median(st.map(_.readMb)),
      "seenindex.write_mb_per_batch" -> median(st.map(_.writeMb)),
      "seenindex.index_files" -> indexFiles.size.toDouble,
      "seenindex.index_mb" -> indexFiles.map(Files.size(_)).sum / 1e6,
      "seenindex.ledger_files" -> ledger.size.toDouble,
      "seenindex.batch_growth" -> median(lat.takeRight(q)) / math.max(1e-9, median(lat.take(q))))
  }
}
