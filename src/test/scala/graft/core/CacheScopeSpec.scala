package graft.core

import graft.SparkSpec
import graft.dedup.{Containment, Dedup}
import graft.hvac.{HvacPipeline, StageThreshold}
import graft.multimodal.{Avi, Multimodal, PerceptualHash}
import graft.ops.Sampling
import graft.similarity.{Ivf, SemDedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, substring}

/** The internal-cache lifetime: a scope releases exactly what its body
  * registered, and outside any scope lazy persists stay bounded while
  * checkpoints stay readable.
  */
class CacheScopeSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def clean(): Unit = CacheHygiene.resetAll(spark)

  // ---- tiny inputs; `k` makes each call's data (and plan) distinct ----

  private def words(prefix: String, from: Int, to: Int) = (from to to).map(i => s"$prefix$i").mkString(" ")

  private def docs(k: Int): DataFrame = {
    import sqlImplicits._
    val short = words(s"w${k}_", 1, 10)
    Seq(
      (k * 10L + 1, short),
      (k * 10L + 2, words(s"v${k}_", 1, 20) + " " + short),
      (k * 10L + 3, short + " extra"),
      (k * 10L + 4, words(s"z${k}_", 1, 15))).toDF("doc_id", "text")
  }

  private def refDocs(k: Int): DataFrame = {
    import sqlImplicits._
    Seq((k * 10L + 9, words(s"w${k}_", 1, 10) + " tail")).toDF("doc_id", "text")
  }

  private def sigs(k: Int): DataFrame = {
    import sqlImplicits._
    Seq((k * 10L + 1, k * 1000L), (k * 10L + 2, k * 1000L ^ 3L), (k * 10L + 3, ~(k * 1000L)))
      .toDF("id", "sig")
  }

  private val dim = 8
  private val planes = Similarity.hyperplanes(dim, 64)

  private def vecs(k: Int): DataFrame = {
    import sqlImplicits._
    val v = Array.tabulate(dim)(i => (i + 1 + k).toFloat)
    Seq((k * 10L + 1, v), (k * 10L + 2, v.map(_ * 1.001f)),
      (k * 10L + 3, Array.tabulate(dim)(i => if (i % 2 == 0) 1f else -1f)))
      .toDF("vec_id", "embedding")
  }

  private def refVecs(k: Int): DataFrame = {
    import sqlImplicits._
    Seq((k * 10L + 9, Array.tabulate(dim)(i => (i + 1 + k).toFloat))).toDF("vec_id", "embedding")
  }

  private val model = Ivf.Model(Array(
    Array.tabulate(dim)(i => if (i == 0) 1f else 0f),
    Array.tabulate(dim)(i => if (i == 1) 1f else 0f)))

  private def media(k: Int) = {
    import sqlImplicits._
    def frame(seed: Int) = {
      val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = (seed * 37 + x * 11 + y * 23) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val clip = Avi.buildDib(Seq(frame(k), frame(k + 1)))
    Seq(
      Multimodal.MediaRow(k * 10L + 1, "video", clip, Map.empty[String, String]),
      Multimodal.MediaRow(k * 10L + 2, "video", clip, Map.empty[String, String])).toDS()
  }

  /** Every operator that used to have a `*Releasable` twin. */
  private val twinned: Seq[(String, Int => DataFrame)] = Seq(
    "minhashCandidatePairs" -> (k => Dedup.minhashCandidatePairs(docs(k), "text", "doc_id")),
    "verifyCandidates" -> (k => Dedup.verifyCandidates(docs(k), "text", "doc_id", threshold = 0.5)),
    "crossVerifyCandidates" -> (k => Dedup.crossVerifyCandidates(docs(k), refDocs(k), "text", "doc_id")),
    "dropSeenJaccard" -> (k => Dedup.dropSeenJaccard(docs(k), refDocs(k), "text", "doc_id")),
    "hammingPairs" -> (k => Dedup.hammingPairs(sigs(k), "id", "sig", 3)),
    "hammingPairsAgainst" -> (k => Dedup.hammingPairsAgainst(sigs(k), sigs(k + 100), "id", "sig", 3)),
    "hammingClusters" -> (k => Dedup.hammingClusters(sigs(k), "id", "sig", 3)),
    "containmentPairsPrefix" -> (k => Containment.containmentPairsPrefix(docs(k), "text", "doc_id")),
    "dropContained" -> (k => Containment.dropContained(docs(k), "text", "doc_id")),
    "containmentPairsAgainst" -> (k =>
      Containment.containmentPairsAgainst(refDocs(k), docs(k), "text", "doc_id")),
    "dropSeenContained" -> (k => Containment.dropSeenContained(refDocs(k), docs(k), "text", "doc_id")),
    "nearDupPairs" -> (k => Similarity.nearDupPairs(vecs(k), "embedding", "vec_id", 0.99, planes)),
    "nearDupPairsAgainst" -> (k =>
      Similarity.nearDupPairsAgainst(vecs(k), refVecs(k), "embedding", "vec_id", 0.99, planes)),
    "dropSeenEmbedding" -> (k =>
      Similarity.dropSeenEmbedding(vecs(k), refVecs(k), "embedding", "vec_id", 0.99, planes)),
    "videoDupPairs" -> (k => PerceptualHash.videoDupPairs(media(k), minMatchFrac = 0.9)),
    "videoDupClusters" -> (k => PerceptualHash.videoDupClusters(media(k))),
    "SemDedup.withDecisions" -> (k => SemDedup.withDecisions(vecs(k), "embedding", "vec_id", model, 0.9)))

  /** The operators whose internal caches are lazy persists, so that
    * outside a scope they go to the bounded pool; the containment
    * family checkpoints instead.
    */
  private val pooled = twinned.filterNot { case (name, _) =>
    Set("containmentPairsPrefix", "dropContained", "containmentPairsAgainst", "dropSeenContained")(name)
  }

  test("a scope leaves the persisted RDDs exactly as it found them, for every operator that had a release twin") {
    clean()
    twinned.foreach { case (name, op) =>
      val before = persisted
      CacheScope.run(spark) {
        op(1).collect()
        assert(persisted != before, s"$name: expected internal caches while the scope is open")
      }
      assert(persisted == before, s"$name: the scope left ${persisted -- before} persisted")
    }
  }

  /** Operators that checkpoint or persist without a release twin. */
  private val owned: Seq[(String, Int => Any)] = Seq(
    "Sampling.domainCap" -> (k => Sampling.domainCap(
      docs(k).withColumn("domain", substring(col("text"), 1, 2)), "doc_id", "domain", cap = 1).collect()),
    "Sampling.topFractionByScore" -> (k => Sampling.topFractionByScore(
      docs(k).withColumn("score", length(col("text"))), "doc_id", "text", "score", p = 0.5).collect()),
    "Dedup.dupClusters (distributed)" -> (k => Dedup.dupClusters(
      sigs(k).select(col("id").as("id_a"), (col("id") + 1).as("id_b")), collectThreshold = 0).collect()),
    "HvacPipeline.pipeline" -> (_ => HvacPipeline.run(spark, "/root/testdata/sf0.001")
      .result[Seq[StageThreshold]]("thresholds")))

  test("a scope owns the caches of operators that never had a release twin, and releases them all") {
    clean()
    def leak(name: String, before: Set[Int]) =
      if (persisted == before) None else Some(s"$name left ${persisted -- before}")
    val leaks = owned.flatMap { case (name, op) =>
      val before = persisted
      CacheScope.run(spark) {
        op(6)
        assert(persisted != before, s"$name: expected internal caches while the scope is open")
      }
      leak(name, before)
    }
    val before = persisted
    CacheScope.run(spark)(Ivf.trainDistributed(vecs(6), "embedding", k = 2, iters = 2))
    val all = leaks ++ leak("Ivf.trainDistributed", before)
    assert(all.isEmpty, all.mkString("; "))
  }

  test("nested scopes release only their own entries") {
    clean()
    val before = persisted
    CacheScope.run(spark) {
      val outer = Dedup.hammingPairs(sigs(3), "id", "sig", 3)
      outer.count()
      val withOuter = persisted
      CacheScope.run(spark)(Dedup.verifyCandidates(docs(3), "text", "doc_id", threshold = 0.5).count())
      assert(persisted == withOuter, "the inner scope must release its caches and only those")
      assert(outer.count() >= 0)
    }
    assert(persisted == before)
  }

  test("run rejects a Dataset result: a lazy frame must not outlive its caches") {
    val e = intercept[IllegalArgumentException] {
      CacheScope.run(spark)(Containment.containmentPairsPrefix(docs(4), "text", "doc_id"))
    }
    assert(e.getMessage.contains("Dataset"))
  }

  test("an unscoped checkpoint survives any number of later unscoped calls") {
    clean()
    val pairs = Containment.containmentPairsPrefix(docs(5), "text", "doc_id")
    // more pooled registrations than the pool holds: a checkpoint in a
    // count-bounded pool would be evicted, and it cannot be recomputed
    (1 to CacheScope.MaxEntries).foreach(i => Dedup.hammingPairs(sigs(50 + i), "id", "sig", 3))
    assert(pairs.count() == Containment.containmentPairs(docs(5), "text", "doc_id").count())
    clean()
  }

  test("a long-lived session keeps at most MaxEntries lazy persists across repeated unscoped calls") {
    clean()
    // the entries a lazy persist leaves, whether or not an action filled it
    def entries = org.apache.spark.sql.graftbridge.CacheEntries.count(spark)
    pooled.foreach { case (name, op) =>
      val before = entries
      (1 to 12).foreach(i => op(200 + i))
      val added = entries - before
      assert(added <= CacheScope.MaxEntries,
        s"$name: $added cache entries after 12 calls (bound ${CacheScope.MaxEntries})")
    }
    // and the blocks behind them, once every call ran its action
    clean()
    val before = persisted
    (1 to 12).foreach(i => Dedup.hammingPairs(sigs(300 + i), "id", "sig", 3).count())
    val left = persisted -- before
    assert(left.size <= CacheScope.MaxEntries,
      s"hammingPairs: ${left.size} persisted RDDs after 12 calls (bound ${CacheScope.MaxEntries})")
    clean()
  }
}
