package graft.core

import org.apache.spark.sql.SparkSession

/** Cross-query cache/RDD isolation for the driver-contract mains
  * (Bench, ScaleBench, ExplainAudit): each query must pay its own cost
  * and plan against its own sources, so everything any predecessor
  * cached or persisted is dropped between queries.
  *
  * ONE definition of the reset and its safety invariant, so the mains
  * cannot silently diverge on it:
  *
  * INVARIANT — unpersisting also hits locally-checkpointed RDDs whose
  * truncated lineage cannot be recomputed. That is safe only because
  * every query rebuilds ALL of its state per invocation (none memoizes
  * a DataFrame across calls; driver-side model/vector memos hold plain
  * JVM values, not plans). A future SHARED checkpointed fixture would
  * be destroyed by the first reset and fail later runs — keep queries
  * self-contained, or exempt their RDDs here in one place.
  *
  * `blocking = true` on the unpersist is deliberate: the cc and
  * dup-cluster paths checkpoint per invocation, and checkpointed
  * blocks are pinned until explicitly dropped — a non-blocking drop
  * lets a long sweep (4 scales x ~30 entries) accumulate blocks faster
  * than the async cleaner reclaims them until the driver OOMs
  * (observed as Spark exit 52 mid-sweep).
  */
object CacheHygiene {
  def resetAll(spark: SparkSession): Unit = {
    // keep the pool's bookkeeping in step with the wholesale drop below
    // (unpersisting twice is a no-op, so the order is immaterial)
    CacheScope.drain(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
