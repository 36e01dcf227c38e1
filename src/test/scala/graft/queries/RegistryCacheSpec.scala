package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.core.{CacheHygiene, CacheScope}
import org.apache.spark.sql.graftbridge.CacheEntries

/** The registry-wide cache contract: a caller that runs any registered
  * query's action inside [[CacheScope.run]] gets the session back as it
  * was — no persisted RDD and no cache-manager entry outlives the scope.
  * A long-lived session that never calls [[CacheHygiene.resetAll]]
  * depends on it.
  */
class RegistryCacheSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every registered query, collected inside CacheScope.run, leaves the session's caches as it found them") {
    CacheHygiene.resetAll(spark)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def entries = CacheEntries.count(spark)
    val t0 = System.nanoTime()
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, query) =>
      val (rdds, n) = (persisted, entries)
      CacheScope.run(spark)(query(spark, dir).collect().length)
      if (persisted == rdds && entries == n) None
      else Some(s"$name: ${(persisted -- rdds).size} persisted RDDs, ${entries - n} cache entries")
    }
    info(f"${SparkEntry.queries.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
