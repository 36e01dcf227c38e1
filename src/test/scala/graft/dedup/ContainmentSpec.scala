package graft.dedup

import graft.SparkSpec
import graft.core.CacheScope
import graft.sources.Sources
import org.apache.spark.sql.functions._

class ContainmentSpec extends SparkSpec {

  // A short doc embedded VERBATIM inside a much longer one — the pair
  // Jaccard structurally misses (|A|/|B| is tiny) and containment must
  // catch (shared/|A| = 1).
  private def docs = {
    import sqlImplicits._
    val short = (1 to 10).map(i => s"w$i").mkString(" ")
    val long = (100 to 200).map(i => s"v$i").mkString(" ") + " " + short +
      " " + (300 to 400).map(i => s"u$i").mkString(" ")
    val unrelated = (500 to 560).map(i => s"z$i").mkString(" ")
    Seq(
      (1L, short),
      (2L, long),
      (3L, unrelated)).toDF("doc_id", "text")
  }

  test("containment catches the short-in-long pair that Jaccard misses") {
    val cont = Containment.containmentPairs(docs, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.contains((1L, 2L)), s"short-in-long pair missing from $cont")
    assert(cont((1L, 2L)) == 1.0, s"verbatim embedding must have containment 1.0, got ${cont((1L, 2L))}")
    assert(!cont.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // the same pair's Jaccard is far below any dedup threshold
    val jac = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.0)
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .select("jaccard").head().getDouble(0)
    assert(jac < 0.1, s"fixture drifted: jaccard $jac should be tiny")
  }

  test("prefix-filtered path equals the all-pairs form on the micro fixture at several thresholds") {
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val exact = Containment.containmentPairs(docs, "text", "doc_id", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefix = Containment.containmentPairsPrefix(docs, "text", "doc_id", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix == exact, s"threshold $t: prefix path diverged\nexact=$exact\nprefix=$prefix")
    }
  }

  test("releasable variant matches the plain path and releases its persisted shingle table") {
    // CacheManager dedups persists by logical plan, so earlier tests'
    // shingle caches would mask this call's entry — start clean.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = CacheScope.run(spark) {
      val rows = Containment.containmentPairsPrefix(docs, "text", "doc_id", n = 3, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
        "expected the shingle table to be persisted during the run")
      rows
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the scope must drop every cache entry this call added")
    val plain = Containment.containmentPairsPrefix(docs, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == plain)
    spark.catalog.clearCache()
  }

  test("releasable gate and resolution forms: identical decisions, every cache entry released") {
    import sqlImplicits._
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // resolution: dropContained in a scope
    val gotDrop = CacheScope.run(spark)(
      Containment.dropContained(docs, "text", "doc_id", threshold = 0.8).collect().map(_.getLong(0)).toSet)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the scope must drop dropContained's shingle cache")
    assert(gotDrop == Containment.dropContained(docs, "text", "doc_id", threshold = 0.8)
      .collect().map(_.getLong(0)).toSet)
    // gate: dropSeenContained in a scope (two persisted tables)
    val batch = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, (500 to 560).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val ref = Seq((10L, (1 to 40).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    spark.catalog.clearCache()
    val before2 = spark.sparkContext.getPersistentRDDs.keySet
    val gotGate = CacheScope.run(spark)(Containment.dropSeenContained(
      batch, ref, "text", "doc_id", threshold = 0.8).collect().map(_.getLong(0)).toSet)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before2).isEmpty,
      "the scope must drop BOTH of dropSeenContained's shingle caches")
    assert(gotGate == Set(2L), s"got=$gotGate")
    spark.catalog.clearCache()
  }

  test("prefix-filtered path equals the all-pairs form on the documents fixture") {
    val docsSf = Sources.documents(spark, "/root/testdata/sf0.001")
    val exact = Containment.containmentPairs(docsSf, "text", "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = Containment.containmentPairsPrefix(docsSf, "text", "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture drifted: no containment pairs at 0.8")
    assert(prefix == exact)
  }

  test("dropContained removes the contained doc, keeps the container and bystanders") {
    import sqlImplicits._
    val kept = Containment.dropContained(docs, "text", "doc_id", threshold = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L), s"expected container 2 and bystander 3, got $kept")
  }

  test("dropContained: mutual containment drops the larger id; chains keep only the largest doc") {
    import sqlImplicits._
    val base = (1 to 10).map(i => s"w$i").mkString(" ")
    val mid = (100 to 150).map(i => s"v$i").mkString(" ") + " " + base
    val big = (200 to 320).map(i => s"u$i").mkString(" ") + " " + mid
    val twin = Seq(
      (1L, base), (2L, base)).toDF("doc_id", "text")
    val keptTwin = Containment.dropContained(twin, "text", "doc_id", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSeq
    assert(keptTwin == Seq(1L), s"identical docs must keep the smaller id, got $keptTwin")
    // chain: base ⊂ mid ⊂ big; base–big may not pair directly, but
    // base loses its pair against mid and mid loses against big, so
    // only big survives
    val chain = Seq((1L, base), (2L, mid), (3L, big)).toDF("doc_id", "text")
    val keptChain = Containment.dropContained(chain, "text", "doc_id", threshold = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptChain == Seq(3L), s"chain must keep only the largest doc, got $keptChain")
  }

  test("containmentPairsAgainst equals the brute asymmetric cross filter; dropSeenContained keeps the unseen") {
    import sqlImplicits._
    val short = (1 to 10).map(i => s"w$i").mkString(" ")
    val long = (100 to 200).map(i => s"v$i").mkString(" ") + " " + short +
      " " + (300 to 400).map(i => s"u$i").mkString(" ")
    val halfOld = (1 to 8).map(i => s"w$i").mkString(" ") + " " +
      (700 to 708).map(i => s"y$i").mkString(" ") // ~6/15 covered: below 0.8
    val novel = (500 to 560).map(i => s"z$i").mkString(" ")
    // batch: a verbatim re-scrape of ref content (gated, coverage 1),
    // a doc half-built from old content (kept at 0.8), a novel doc
    // (kept), a shingle-less doc (kept), and an id colliding with a
    // ref id (gated — cross corpora, a real match)
    val batch = Seq((1L, short), (2L, halfOld), (3L, novel), (4L, "a b"), (10L, short))
      .toDF("doc_id", "text")
    val ref = Seq((10L, long), (11L, (900 to 950).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Containment.containmentPairsAgainst(batch, ref, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute asymmetric cross filter over driver-side shingle sets
    def sh(t: String) = t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
    val bRaw = Seq((1L, short), (2L, halfOld), (3L, novel), (4L, "a b"), (10L, short))
    val rRaw = Seq((10L, long), (11L, (900 to 950).map(i => s"q$i").mkString(" ")))
    val brute = (for {
      (ia, ta) <- bRaw; (ib, tb) <- rRaw
      a = sh(ta); b = sh(tb)
      if a.nonEmpty
      c = a.intersect(b).size.toDouble / a.size
      if c >= 0.8
    } yield (ia, ib) -> c).toMap
    assert(got == brute, s"got=$got brute=$brute")
    assert(got((1L, 10L)) == 1.0 && got((10L, 10L)) == 1.0, s"got=$got")
    // the asymmetry: ref's short content inside batch's long doc does
    // NOT gate the long doc — seed the reverse shape and check
    val gotRev = Containment.containmentPairsAgainst(
      Seq((20L, long)).toDF("doc_id", "text"),
      Seq((21L, short)).toDF("doc_id", "text"),
      "text", "doc_id", n = 3, threshold = 0.8).collect()
    assert(gotRev.isEmpty, s"snippet-in-new-doc must not qualify: ${gotRev.toSeq}")
    val kept = Containment.dropSeenContained(batch, ref, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L), s"kept=$kept")
    // in a scope: same rows, then unpersists
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val relRows = CacheScope.run(spark)(Containment.containmentPairsAgainst(batch, ref, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(relRows == got.keySet)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("documents below the shingle width never pair; threshold bounds are validated") {
    import sqlImplicits._
    val tiny = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c d e")).toDF("doc_id", "text")
    assert(Containment.containmentPairsPrefix(tiny, "text", "doc_id", n = 3, threshold = 0.5).count() == 0)
    intercept[IllegalArgumentException] {
      Containment.containmentPairsPrefix(docs, "text", "doc_id", threshold = 0.0)
    }
  }
}
