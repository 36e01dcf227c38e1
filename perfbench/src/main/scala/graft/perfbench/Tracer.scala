package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Names a stretch of work. The untraced runs use [[Spans.off]]. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object Spans {
  val off: Spans = new Spans {
    def apply[T](name: String)(body: => T): T = body
  }
}

/** An outside-in tracer: it sets a job group around each span and
  * listens from outside the engine (a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener`), so the
  * engine itself is not changed. Spans live in memory until the run
  * writes them out.
  */
final class Tracer(spark: SparkSession, val runId: String) extends Spans {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spanBuf = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val jobMap = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val actionBuf = ArrayBuffer.empty[Action]
  private val progressBuf = ArrayBuffer.empty[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobMap.put(e.jobId, new Job(e.jobId, prop(GroupKey).getOrElse(""), e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobMap.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobMap.get(j)))
      val m = e.taskMetrics
      if (job.isDefined && m != null) job.get.synchronized {
        val j = job.get
        val info = e.taskInfo
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.readBytes += m.inputMetrics.bytesRead
        j.writeBytes += m.outputMetrics.bytesWritten
        j.schedDelayMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorDeserializeTime -
          m.executorRunTime - m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  @volatile private var active = false

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (active) {
      val phases = qe.tracker.phases.values
      val at = if (phases.isEmpty) nowMs else phases.map(_.startTimeMs).min.toDouble
      actionBuf.synchronized(actionBuf += Action(at, phases.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progressBuf.synchronized(progressBuf += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // Registered for the tracer's whole life and gated by `active`: a
  // streaming query runs its batches in a clone of the session, which
  // copies the listeners registered when the query starts.
  spark.listenerManager.register(queryListener)

  def start(): this.type = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    active = true
    this
  }

  /** Deliver every queued event, then stop listening. */
  def stop(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    active = false
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def close(): Unit = spark.listenerManager.unregister(queryListener)

  def apply[T](name: String)(body: => T): T = {
    val parents = stack.get
    val s = spanBuf.synchronized {
      val x = Span(spanBuf.size, name, parents.headOption.getOrElse(-1), runId, nowMs)
      spanBuf += x
      x
    }
    val prevGroup = sc.getLocalProperty(GroupKey)
    val prevDesc = sc.getLocalProperty(DescKey)
    sc.setJobGroup(groupOf(s.id), name, interruptOnCancel = false)
    stack.set(s.id :: parents)
    try body
    finally {
      s.endMs = nowMs
      stack.set(parents)
      sc.setLocalProperty(GroupKey, prevGroup)
      sc.setLocalProperty(DescKey, prevDesc)
    }
  }

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)
  def jobs: Seq[Job] = jobMap.values().asScala.toSeq.sortBy(_.id)
  def actions: Seq[Action] = actionBuf.synchronized(actionBuf.toList)
  def progress: Seq[StreamingQueryProgress] = progressBuf.synchronized(progressBuf.toList)

  private def children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private def ownGroups: Set[String] = spans.map(s => groupOf(s.id)).toSet

  def subtree(s: Span): Seq[Span] = {
    val kids = children
    def walk(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).flatMap(walk)
    walk(s)
  }

  /** Jobs run under the span or its descendants, plus jobs started
    * inside its interval by threads that carry no span of ours (a
    * streaming query's own thread).
    */
  def jobsOf(s: Span): Seq[Job] = {
    val groups = subtree(s).map(x => groupOf(x.id)).toSet
    val own = ownGroups
    jobs.filter(j => groups(j.group) || (!own(j.group) && j.startMs >= s.startMs && j.startMs < s.endMs))
  }

  def stats(s: Span): SpanStats = {
    val js = jobsOf(s)
    val kids = childrenOf(s)
    val direct = js.filter(_.group == groupOf(s.id))
    val covered = covers(s, js.map(j => (j.startMs, j.endMs)))
    val selfCovered = covers(s, kids.map(k => (k.startMs, k.endMs)) ++ direct.map(j => (j.startMs, j.endMs)))
    SpanStats(
      wallS = s.wallS,
      selfS = s.wallS - selfCovered,
      gapS = s.wallS - covered,
      jobs = js.size,
      tasks = js.map(_.tasks).sum,
      taskS = js.map(_.taskMs).sum / 1e3,
      gcS = js.map(_.gcMs).sum / 1e3,
      shuffleMb = js.map(_.shuffleWriteBytes).sum / 1e6,
      spillMb = js.map(_.spillBytes).sum / 1e6,
      readMb = js.map(_.readBytes).sum / 1e6,
      writeMb = js.map(_.writeBytes).sum / 1e6,
      schedDelayS = js.map(_.schedDelayMs).sum / 1e3)
  }

  def childrenOf(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"

  def groupOf(spanId: Int): String = s"perfbench-$spanId"

  final case class Span(id: Int, name: String, parent: Int, runId: String, startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    def wallS: Double = (endMs - startMs) / 1e3
  }

  final class Job(val id: Int, val group: String, val startMs: Double) {
    @volatile var endMs: Double = startMs
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var readBytes = 0L
    var writeBytes = 0L
    var schedDelayMs = 0L
  }

  /** One SQL action seen by the QueryExecutionListener: when its
    * planning began and its planning-phase total.
    */
  final case class Action(atMs: Double, planMs: Double)

  final case class SpanStats(
      wallS: Double, selfS: Double, gapS: Double, jobs: Int, tasks: Long, taskS: Double, gcS: Double,
      shuffleMb: Double, spillMb: Double, readMb: Double, writeMb: Double, schedDelayS: Double)

  /** Seconds of the span's interval covered by the union of `ivs`. */
  def covers(s: Span, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total / 1e3
  }
}
