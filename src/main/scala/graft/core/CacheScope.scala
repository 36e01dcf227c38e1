package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one lifetime of graft's INTERNAL caches: the signature, member
  * and shingle tables an operator persists or checkpoints so that the
  * several branches of its plan read them once.
  *
  * `CacheScope.run(spark) { ... }` releases, when its body returns or
  * throws, every internal cache of `spark` that an operator registered
  * on this thread during the body — so the body holds the terminal
  * actions. A nested scope releases only its own entries. `run`
  * rejects a Dataset result: a lazy frame that escaped its scope would
  * read released blocks later, and a released checkpoint cannot be
  * recomputed.
  *
  * A cache belongs to the scope of its `SparkContext`, not of its
  * session: Structured Streaming hands `foreachBatch` a frame in a
  * clone of the caller's session, and an operator there persists
  * tables derived from both, so one scope opened for either session
  * owns them all.
  *
  * This object is the only code that creates or releases an internal
  * cache; `CacheScopeGuardSpec` keeps it so.
  *
  * Outside any scope nothing tells the library when a result's last
  * action has run, so:
  *   - lazy persists go to a FIFO pool of at most [[MaxEntries]] per
  *     context, and registering one more releases the oldest. An
  *     evicted persist is recomputed from lineage if its frame runs
  *     again; MEMORY_AND_DISK blocks never age out of the disk store
  *     on their own, so without the bound a long-lived session would
  *     pin one more set per call.
  *   - checkpoints are never evicted by count: their lineage is cut,
  *     so an evicted checkpoint fails its frame's next action. Spark's
  *     ContextCleaner drops their blocks once the frame is unreachable.
  *
  * [[CacheHygiene.resetAll]] drains everything between queries.
  */
object CacheScope {

  /** Lazy persists the pool keeps per context outside any scope. Each
    * is a control-plane-sized projection (ids + signatures; payloads
    * never persist), and 8 covers every cache one plan consumes.
    */
  val MaxEntries = 8

  private final case class Entry(df: DataFrame, checkpointed: Boolean) {
    def release(): Unit =
      try {
        // a checkpointed frame's plan is a LogicalRDD over the
        // materialized RDD; `Dataset.unpersist` only knows persisted
        // plans and would leave the checkpoint's blocks pinned
        if (checkpointed) df.queryExecution.analyzed match {
          case l: LogicalRDD => l.rdd.unpersist(blocking = false)
          case _ =>
        }
        else df.unpersist(blocking = false)
      } catch { case scala.util.control.NonFatal(_) => () }
  }

  private final class Scope(val sc: SparkContext) {
    val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]
  }

  private val scopes = ThreadLocal.withInitial[List[Scope]](() => Nil)
  private val pool = new java.util.ArrayDeque[Entry]()

  /** Run `body`, which must hold its terminal actions, then release the
    * internal caches it registered for `spark`.
    */
  def run[A](spark: SparkSession)(body: => A): A = {
    val out = scoped(spark.sparkContext)(body)
    require(!out.isInstanceOf[Dataset[_]],
      "CacheScope.run returned a Dataset: its caches are already released, so run its " +
        "terminal action inside the scope and return the result instead")
    out
  }

  /** [[run]] without the Dataset check, for [[checkpoint]]'s body. */
  private def scoped[A](sc: SparkContext)(body: => A): A = {
    val scope = new Scope(sc)
    scopes.set(scope :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      scope.entries.foreach(_.release())
    }
  }

  private def innermost(sc: SparkContext): Option[Scope] = scopes.get.find(_.sc eq sc)

  private def owns(sc: SparkContext)(e: Entry): Boolean = e.df.sparkSession.sparkContext eq sc

  /** `df` persisted lazily (MEMORY_AND_DISK), owned by the innermost
    * scope of its context or else by the pool.
    */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val e = Entry(p, checkpointed = false)
    val sc = p.sparkSession.sparkContext
    innermost(sc) match {
      case Some(s) => s.entries += e
      case None =>
        val evicted = pool.synchronized {
          pool.addLast(e)
          val mine = pool.toArray(Array.empty[Entry]).filter(owns(sc))
          mine.take(mine.length - MaxEntries).map { old => pool.remove(old); old }
        }
        evicted.foreach(_.release())
    }
    p
  }

  /** `body`'s frame, eagerly `localCheckpoint`ed and owned by the
    * innermost scope of `spark`'s context (outside any scope, by
    * nobody: see the object doc). `body` runs in a scope of its own,
    * released once the checkpoint holds the rows — the checkpoint cut
    * the lineage, so nothing cached while building it can be read
    * through it again.
    */
  private[graft] def checkpoint(spark: SparkSession)(body: => DataFrame): DataFrame = {
    val c = scoped(spark.sparkContext)(body.localCheckpoint(true))
    innermost(spark.sparkContext).foreach(_.entries += Entry(c, checkpointed = true))
    c
  }

  /** Release a [[checkpoint]] now, before its scope ends: an iterative
    * operator's superseded generation, which no later action reads.
    */
  private[graft] def release(checkpointed: DataFrame): Unit = {
    scopes.get.foreach(_.entries.filterInPlace(_.df ne checkpointed))
    Entry(checkpointed, checkpointed = true).release()
  }

  /** Release the pool's entries for `spark`'s context. */
  private[core] def drain(spark: SparkSession): Unit = {
    val mine = pool.synchronized {
      val out = pool.toArray(Array.empty[Entry]).filter(owns(spark.sparkContext))
      out.foreach(pool.remove)
      out
    }
    mine.foreach(_.release())
  }
}
