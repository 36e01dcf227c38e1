package graft.similarity

import graft.SparkSpec
import graft.core.CacheScope
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("cosine matches hand computation") {
    import sqlImplicits._
    val df = Seq((Array(1.0f, 0.0f), Array(0.6f, 0.8f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b")).as("c")).as[Double].head()
    assert(math.abs(c - 0.6) < 1e-6)
  }

  test("brute-force topk returns true nearest neighbors on fixture") {
    val top = SimilarityTestData.brute(spark).collect()
    assert(top.length == 10)
    val cosines = top.map(_.getAs[Double]("cosine"))
    assert(cosines.sameElements(cosines.sorted.reverse)) // descending
    assert(cosines.head <= 1.0 + 1e-9)
  }

  test("ANN topk recall >= 0.6 vs brute force on fixture, exact scores") {
    val brute = SimilarityTestData.brute(spark).collect().map(_.getAs[Long]("vec_id")).toSet
    val ann = SimilarityTestData.ann(spark).collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("near-dup pairs: a planted duplicate vector is found at threshold") {
    import sqlImplicits._
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val v2 = v.map(x => x * 1.001f) // same direction
    val w = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v), (2L, v2), (3L, w)).toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(8, 64)
    val pairs = Similarity.nearDupPairs(df, "embedding", "vec_id", 0.99, planes, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("withSignatures equals the live mining signature expressions on random vectors (the cache drift guard)") {
    import sqlImplicits._
    // The signed index's whole correctness argument is that the cache
    // writer and the live miner compute signatures from the SAME
    // once-normalized vector; this pins the two compositions equal at
    // the unit level, degenerate rows included (random vectors plus
    // zero-norm, Inf-element, and null rows).
    val rnd = new scala.util.Random(99)
    val dim = 16
    val rows: Seq[(Long, Seq[Float])] = (1L to 40L).map { i =>
      val v: Seq[Float] = (i % 10) match {
        case 7 => Seq.fill(dim)(0f)
        case 8 => Seq.tabulate(dim)(j => if (j == 0) Float.PositiveInfinity else 1f)
        case 9 => null
        case _ => Seq.fill(dim)((rnd.nextFloat() - 0.5f) * 4f)
      }
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(dim, 64, seed = 7L)
    def rowSet(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the live composition: one normalization from raw, then the
    // coarse + two fixed refine signatures
    val live = Similarity.unitized(df.select(col("vec_id"), col("embedding")), "embedding")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        Similarity.rhpSignature(col("embedding"), planes).as("s"),
        Similarity.rhpSignature(col("embedding"), Similarity.refinePlanesA(dim)).as("r1"),
        Similarity.rhpSignature(col("embedding"), Similarity.refinePlanesB(dim)).as("r2"))
    // the cache composition: raw vector preserved, sigs from a temp
    // normalized copy; degenerates carry null sigs and drop here
    val cached = Similarity.withSignatures(
      df.select(col("vec_id"), col("embedding")), "embedding", planes)
      .filter(col("__sig").isNotNull)
      .select(col("vec_id"), col("__sig"), col("__rsig"), col("__rsig2"))
    assert(rowSet(cached) == rowSet(live),
      "cached and live signature compositions drifted")
    // every non-degenerate row signed; every degenerate row kept with
    // null sigs (count parity's precondition)
    assert(rowSet(cached).size == 28) // 40 - 12 degenerate (i%10 in {7,8,9})
    assert(Similarity.withSignatures(
      df.select(col("vec_id"), col("embedding")), "embedding", planes).count() == 40)
  }

  test("semi-pruned gate verify equals the plain shuffle-hash and broadcast verifies on the fixture") {
    val emb = graft.sources.Sources.embeddings(spark, "/root/testdata/sf0.001")
    val planes = Similarity.hyperplanes(64, 64)
    def kept(broadcastV: Boolean, semiPrune: Boolean): Set[Long] =
      Similarity.dropSeenEmbedding(
        emb.filter(col("vec_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 =!= 0),
        "embedding", "vec_id", threshold = 0.4, planes,
        broadcastVerify = broadcastV, semiPruneVerify = semiPrune)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val pruned = kept(broadcastV = false, semiPrune = true)
    assert(pruned == kept(broadcastV = false, semiPrune = false),
      "the broadcast semi-prune must not change a single admission vs the plain shuffle verify")
    assert(pruned == kept(broadcastV = true, semiPrune = false))
    assert(pruned.nonEmpty, "fixture drifted: the gate admits nothing")
    // the gate must also DROP something, or the three-way equality is
    // vacuous (zero candidates would pass the whole batch through
    // every variant without the prune path ever pruning)
    val nBatch = emb.filter(col("vec_id") % 3 === 0).count()
    assert(pruned.size < nBatch,
      s"fixture drifted: the gate dropped nothing ($nBatch rows in, ${pruned.size} kept)")
  }

  test("releasable miner variants match the plain paths and drop every cache entry they added") {
    import sqlImplicits._
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val v2 = v.map(x => x * 1.001f)
    val w = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v), (2L, v2), (3L, w)).toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(8, 64)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = CacheScope.run(spark) {
      val rows = Similarity.nearDupPairs(df, "embedding", "vec_id", 0.99, planes, bands = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
        "expected the signature projection to be persisted during the run")
      rows
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the scope must drop the miner's internal persists")
    assert(got == Seq((1L, 2L)))
    // the cross-corpus gate in a scope: both sides' projections belong
    // to it
    val ref = Seq((10L, v)).toDF("vec_id", "embedding")
    val kept = CacheScope.run(spark)(Similarity.dropSeenEmbedding(
      df, ref, "embedding", "vec_id", 0.99, planes, bands = 8).collect().map(_.getLong(0)).toSet)
    assert(kept == Set(3L))
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the scope must drop BOTH sides' signature projections")
    spark.catalog.clearCache()
  }

  test("Inf-element vectors are degenerate: never paired, never gated, never in a top-k slot") {
    import sqlImplicits._
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val inf = Array.tabulate(8)(i => if (i == 0) Float.PositiveInfinity else 1.0f)
    val inf2 = Array.tabulate(8)(i => if (i == 1) Float.PositiveInfinity else 2.0f)
    val df = Seq((1L, v), (2L, inf), (3L, inf2)).toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(8, 64)
    // unguarded, x/Inf normalizes to NaN elements, both Inf rows land
    // in one LSH mega-bucket and their NaN cosine PASSES >= threshold
    // (Spark orders NaN above all numbers) — they must pair with
    // nothing instead
    val pairs = Similarity.nearDupPairs(df, "embedding", "vec_id", 0.5, planes, bands = 8)
    assert(pairs.isEmpty, pairs.collect().mkString(","))
    // a NaN cosine must not outrank every real neighbor either
    val top = Similarity.cosineTopK(df, "embedding", v, k = 2, "vec_id")
      .collect().map(_.getLong(0))
    assert(top.toSeq == Seq(1L), top.mkString(","))
    // and the gate must KEEP the unprovable rows, not drop them as "seen"
    val kept = Similarity.dropSeenEmbedding(
      df, Seq((10L, v)).toDF("vec_id", "embedding"), "embedding", "vec_id",
      threshold = 0.9, planes).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), kept.toString)
  }

  test("nearDupPairsAgainst pairs across corpora exactly like the brute cross filter on a clustered fixture") {
    import sqlImplicits._
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val v2 = v.map(x => x * 1.001f) // same direction as v
    val w = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val u = Array.tabulate(8)(i => if (i < 4) 2.0f else -1.0f)
    // batch: re-ingest of v (should pair), a novel direction, a
    // zero-norm degenerate, and an id COLLIDING with a ref id
    val batch = Seq((1L, v2), (2L, u), (3L, Array.fill(8)(0f)), (10L, v.map(_ * 0.5f)))
      .toDF("vec_id", "embedding")
    val ref = Seq((10L, v), (11L, w)).toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(8, 64)
    val got = Similarity.nearDupPairsAgainst(batch, ref, "embedding", "vec_id", 0.99, planes, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute cross filter (unit-normalized cosine >= 0.99)
    def unit(a: Array[Float]) = {
      val n = math.sqrt(a.map(x => x * x.toDouble).sum); a.map(_ / n)
    }
    val bRaw = Seq(1L -> v2, 2L -> u, 10L -> v.map(_ * 0.5f))
    val rRaw = Seq(10L -> v, 11L -> w)
    val brute = (for {
      (ia, va) <- bRaw; (ib, vb) <- rRaw
      c = unit(va).zip(unit(vb)).map { case (x, y) => x * y }.sum
      if c >= 0.99
    } yield (ia, ib)).toSet
    assert(got == brute, s"got=$got brute=$brute")
    // the id collision (batch 10 vs ref 10, same direction) is a real
    // cross match — no id_a < id_b suppression across corpora
    assert(got.contains((10L, 10L)) && got.contains((1L, 10L)), s"got=$got")
    val kept = Similarity.dropSeenEmbedding(batch, ref, "embedding", "vec_id", 0.99, planes, bands = 8)
      .collect().map(_.getLong(0)).toSet
    // 1 and 10 gated as seen; the novel 2 and the zero-norm 3 pass
    // (degenerate rows cannot be proven seen)
    assert(kept == Set(2L, 3L), s"kept=$kept")
  }

  test("nearDupPairs rejects degenerate band widths") {
    import sqlImplicits._
    val df = Seq((1L, Array(1.0f, 0f))).toDF("vec_id", "embedding")
    val narrow = Similarity.hyperplanes(2, 16)
    intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(df, "embedding", "vec_id", 0.9, narrow, bands = 8)
    }
  }

  test("multiprobe masks enumerate the Hamming ball") {
    val m0 = Similarity.probeMasks(8, 0)
    assert(m0 == Seq(0L))
    val m2 = Similarity.probeMasks(8, 2)
    assert(m2.length == 1 + 8 + 28)
    assert(m2.forall(m => java.lang.Long.bitCount(m) <= 2))
    assert(m2.distinct.length == m2.length)
  }

  test("multiprobe recovers a mid-threshold pair that exact banding misses") {
    import sqlImplicits._
    // Two vectors at a moderate angle plus noise rows: with 8-bit
    // bands the pair only collides once probing is on (statistically);
    // assert the weaker invariant that probing returns a superset.
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(16)(j => (((i * 31 + j * 17) % 11) - 5).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(16, 64)
    def pairsAt(r: Int) =
      Similarity.nearDupPairs(df, "embedding", "vec_id", 0.3, planes, bands = 8, probeHamming = r)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val exact0 = pairsAt(0)
    val probed2 = pairsAt(2)
    assert(exact0.subsetOf(probed2), s"probe=2 ${probed2} must contain probe=0 ${exact0}")
  }

  test("lshGeometry derives probing from (threshold, targetRecall)") {
    // mid-threshold mining needs radius-2 probing over 8x8 banding
    val mid = Similarity.lshGeometry(threshold = 0.4, targetRecall = 0.95, numPlanes = 64)
    assert(mid.bands == 8 && mid.bitsPerBand == 8 && mid.probeHamming == 2, mid.toString)
    assert(mid.expectedRecall >= 0.95 && mid.expectedRecall <= 1.0)
    // production thresholds derive radius-0 geometry (no probe explosion)
    val hi = Similarity.lshGeometry(threshold = 0.95, targetRecall = 0.9, numPlanes = 64)
    assert(hi.probeHamming == 0, hi.toString)
    assert(hi.emitFactor < mid.emitFactor,
      s"higher threshold must emit fewer keys: $hi vs $mid")
    // bands never narrower than 8 bits — the same degeneracy rule
    // nearDupPairs enforces at require()
    for (t <- Seq(0.2, 0.5, 0.8, 0.99); g = Similarity.lshGeometry(t, 0.9, 64))
      assert(g.bitsPerBand >= 8, g.toString)
  }

  test("expectedBackgroundCandidates predicts measured background collision volume within 2x") {
    import sqlImplicits._
    // 2000 random gaussian vectors: cosines concentrate at 0, so every
    // band collision is BACKGROUND — the population the estimator
    // models (the same quantity that, at the x30 fixture's 60k vectors
    // and threshold 0.4, predicts the measured ~1e9-row band join).
    val n = 2000
    val dim = 16
    val rnd = new scala.util.Random(7)
    val vecs = Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val g = Similarity.lshGeometry(0.4, 0.95, 64)
    assert(g.probeHamming > 0) // mid-threshold mining probes, so the ball term matters
    // signatures via the SAME expression the production join uses
    val sigs = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("id", "vec")
      .select(col("id"), Similarity.rhpSignature(col("vec"), Similarity.hyperplanes(dim, 64)).as("sig"))
      .collect().sortBy(_.getLong(0)).map(_.getLong(1))
    val k = g.bitsPerBand
    val mask = if (k == 64) -1L else (1L << k) - 1
    // measure JOIN ROWS, the quantity the estimator models: the
    // physical join splits the probe radius across the two sides, so
    // a pair at band distance d joins once per (m1, m2) mask split
    // with m1 xor m2 = diff — multiplicity, not a 0/1 collision event
    val r1 = g.probeHamming - g.probeHamming / 2
    val r2 = g.probeHamming / 2
    val masks1 = (0 to r1).flatMap(w =>
      (0 until k).combinations(w).map(_.foldLeft(0L)((m, p) => m | (1L << p))))
    var measured = 0L
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n) {
        var band = 0
        while (band < g.bands) {
          val ka = (sigs(a) >>> (band * k)) & mask
          val kb = (sigs(b) >>> (band * k)) & mask
          val diff = ka ^ kb
          masks1.foreach { m1 =>
            if (java.lang.Long.bitCount(diff ^ m1) <= r2) measured += 1
          }
          band += 1
        }
        b += 1
      }
      a += 1
    }
    val predicted = g.expectedBackgroundCandidates(n.toLong)
    assert(measured > 0L)
    assert(predicted < measured * 2.0 && measured < predicted * 2.0,
      s"predicted=$predicted measured=$measured")
    // radius-0 sanity: the ball term degenerates to bands x C(n,2) / 2^k
    val g0 = Similarity.LshGeometry(8, 8, 0, 1.0, 16)
    assert(math.abs(g0.expectedBackgroundCandidates(1000) - 8.0 * 1000 * 999 / 2 / 256) < 1e-6)
  }

  test("nearDupPairsAuto equals the hand-tuned geometry's verified pair set on the fixture") {
    val df = graft.sources.Sources.embeddings(spark, "/root/testdata/sf0.001")
    val planes = Similarity.hyperplanes(64, 64, seed = 42L)
    val hand = Similarity.nearDupPairs(df, "embedding", "vec_id", 0.4, planes, bands = 8, probeHamming = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Similarity.nearDupPairsAuto(df, "embedding", "vec_id", threshold = 0.4, targetRecall = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == hand, s"auto=$auto hand=$hand")
    assert(auto.nonEmpty)
  }

  test("q30 DataFrame construction fires no jobs beyond the bare source read (dim passed)") {
    // The parquet read itself fires a schema-inference job, so "zero
    // jobs" is the wrong bar; the regression guarded against is the
    // construction-time take(1) dim probe, which would add a scan job
    // ON TOP of the read's. Stage markers + a sentinel action (events
    // arrive in submission order) attribute each job to its phase.
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var stage = "warmup"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(stage -> js.properties.getProperty("spark.job.description", ""))
    }
    var syncN = 0
    // Tagged sentinel: wait for THIS sentinel's own event (not just any
    // event of the current stage) so late-arriving stage jobs cannot
    // bleed into the next bucket.
    def sync(next: String): Unit = {
      syncN += 1
      val tag = s"graft-sync-$syncN"
      spark.sparkContext.setJobDescription(tag)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.toArray.exists(_.asInstanceOf[(String, String)]._2 == tag) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      stage = next
    }
    def countStage(s: String): Int = jobs.toArray.count { j =>
      val (st, desc) = j.asInstanceOf[(String, String)]
      st == s && !desc.startsWith("graft-sync")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.sources.Sources.embeddings(spark, "/root/testdata/sf0.001") // warm listing caches
      sync("read")
      graft.sources.Sources.embeddings(spark, "/root/testdata/sf0.001")
      sync("q30build")
      val df = graft.queries.SimilarityQueries
        .queries("q30_embedding_near_dup")(spark, "/root/testdata/sf0.001")
      sync("done")
      val readJobs = countStage("read")
      val buildJobs = countStage("q30build")
      assert(buildJobs <= readJobs,
        s"q30 construction fired $buildJobs jobs vs $readJobs for the bare read — a probe is back")
      assert(df.columns.toSeq == Seq("id_a", "id_b", "cosine"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Dedup.embeddingNearDupPairs facade equals nearDupPairsAuto") {
    val df = graft.sources.Sources.embeddings(spark, "/root/testdata/sf0.001")
    val viaFacade = graft.dedup.Dedup
      .embeddingNearDupPairs(df, "embedding", "vec_id", threshold = 0.4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Similarity
      .nearDupPairsAuto(df, "embedding", "vec_id", threshold = 0.4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaFacade == direct && viaFacade.nonEmpty, s"facade=$viaFacade direct=$direct")
  }

  test("miner input validation fails loud: non-cosine thresholds and driver-melting probe radii") {
    import sqlImplicits._
    val planes = Similarity.hyperplanes(8, 64)
    val df = Seq((1L, Seq.fill(8)(1f))).toDF("vec_id", "embedding")
    // acos(-2) is NaN and ceil(NaN).toInt = 0 — the old behavior set
    // maxDisagree = 0 and silently pruned every non-identical pair
    val e1 = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(df, "embedding", "vec_id", threshold = -2.0, planes)
    }
    assert(e1.getMessage.contains("cosine"), e1.getMessage)
    // the probe neighborhood is a driver-side literal: radius 20 over
    // a 64-bit band is ~10^12 masks — must refuse, not hang
    val e2 = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(df, "embedding", "vec_id", threshold = 0.9, planes,
        bands = 1, probeHamming = 20)
    }
    assert(e2.getMessage.contains("probe masks"), e2.getMessage)
    // the derived-geometry radii (<= 3) all stay admissible
    Similarity.nearDupPairs(df, "embedding", "vec_id", threshold = 0.9, planes,
      bands = 8, probeHamming = 3).count()
  }

  test("hyperplanes are bit-reproducible (StrictMath Box-Muller) and deterministic per (dim, planes, seed)") {
    // the coarse planes key the durable signature-cache directory and
    // the refine planes are regenerated per JVM without being part of
    // that key — both rely on bit-stable generation (review r18)
    val a = Similarity.hyperplanes(64, 64)
    val b = Similarity.hyperplanes(64, 64)
    assert(a.length == 64 && a.head.length == 64)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    val c = Similarity.hyperplanes(64, 64, seed = 7L)
    assert(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    // spot-pin one value so an accidental formula change (not just a
    // platform drift) is caught loudly
    assert(!a(0)(0).isNaN && math.abs(a(0)(0)) < 6f)
  }

  test("nearDupPairs holds recall >= 0.8 with exact precision vs brute force on the fixture") {
    val df = graft.sources.Sources.embeddings(spark, "/root/testdata/sf0.001")
    val threshold = 0.4
    // brute-force truth: all-pairs exact cosine (fixture is small)
    val a = df.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = df.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planes = Similarity.hyperplanes(64, 64, seed = 42L)
    val mined = Similarity.nearDupPairs(df, "embedding", "vec_id", threshold, planes, bands = 8, probeHamming = 2)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must contain pairs above the threshold")
    // precision is 1.0 by construction (exact cosine verification)
    assert(mined.subsetOf(truth), s"false positives: ${mined diff truth}")
    val recall = (mined intersect truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"recall=$recall (${mined.size}/${truth.size})")
  }

  test("VecDot equals the interpreted HOF dot bit-for-bit on random double vectors") {
    import sqlImplicits._
    import org.apache.spark.sql.functions.{aggregate, zip_with, lit}
    // seeded LCG vectors — no external generator needed
    var s = 987654321L
    def next(): Double = { s = s * 6364136223846793005L + 1442695040888963407L; ((s >>> 11).toDouble / (1L << 53).toDouble) * 20 - 10 }
    val rows = (0 until 50).map(i => (i.toLong, Array.fill(17)(next()), Array.fill(17)(next())))
    val df = rows.toDF("id", "a", "b")
    val got = df.select(
      Similarity.dot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x).as("hof"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("VecDot yields NULL for mismatched lengths or null elements, like the HOF form") {
    import org.apache.spark.sql.functions.expr
    val row = spark.range(1).select(
      Similarity.dot(expr("array(1.0D, 2.0D)"), expr("array(3.0D, 4.0D)")).as("ok"),
      Similarity.dot(expr("array(1.0D, 2.0D, 9.0D)"), expr("array(3.0D, 4.0D)")).as("mismatch"),
      Similarity.dot(expr("array(1.0D, CAST(NULL AS DOUBLE))"), expr("array(3.0D, 4.0D)")).as("hole"))
      .head()
    assert(row.getDouble(0) == 11.0)
    assert(row.isNullAt(1), "length mismatch must not silently truncate")
    assert(row.isNullAt(2), "null element must poison the dot")
  }

  test("candidate budget separates mid-threshold mining from production dedup ex ante") {
    // The x30 ScaleBench surprise IS predicted at plan time: at the
    // measured 60k-vector corpus the mid-threshold geometry's
    // background volume exceeds nearDupPairsAuto's default 1e8
    // candidate budget (so the plan-time warning fires before the
    // near-quadratic join runs), while the production threshold stays
    // far under budget at the same corpus size. The formula itself is
    // pinned against a measured band join in the
    // expectedBackgroundCandidates test above.
    val mid = Similarity.lshGeometry(threshold = 0.4)
    assert(mid.expectedBackgroundCandidates(60000L) > 100000000.0,
      s"mid-threshold geometry $mid must blow the default budget at 60k vectors")
    val prod = Similarity.lshGeometry(threshold = 0.95)
    assert(prod.expectedBackgroundCandidates(60000L) < 100000000.0,
      s"production geometry $prod must stay under budget at 60k vectors")
  }

  test("FailFast budget policy throws at plan time on the x30-equivalent prediction") {
    import sqlImplicits._
    // 60k vectors at threshold 0.4 is the measured ScaleBench x30
    // blow-up (~1e9 predicted candidates vs the default 1e8 budget).
    // Under FailFast the call must throw BEFORE any job runs — the
    // 3-row input is never touched (a job would need an action).
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val e = intercept[CandidateBudgetExceededException] {
      Similarity.nearDupPairsAuto(df, "embedding", "vec_id", threshold = 0.4,
        dim = 2, corpusSize = 60000L, budgetPolicy = BudgetPolicy.FailFast)
    }
    assert(e.getMessage.contains("exceeds the budget"))
  }

  test("AutoDegrade re-derives the most recall the budget can buy and still runs") {
    import sqlImplicits._
    val over = Similarity.lshGeometry(threshold = 0.4)
    assert(over.expectedBackgroundCandidates(60000L) > 100000000.0)
    val fit = Similarity.lshGeometryUnderBudget(
      threshold = 0.4, numPlanes = 64, corpusSize = 60000L, candidateBudget = 100000000L)
    assert(fit.expectedBackgroundCandidates(60000L) <= 100000000.0,
      s"degraded geometry $fit must fit the budget")
    // maximal: every candidate shape with strictly more recall blows the budget
    Similarity.geometryCandidates(0.4, 64)
      .filter(_.expectedRecall > fit.expectedRecall)
      .foreach(g => assert(g.expectedBackgroundCandidates(60000L) > 100000000.0,
        s"$g out-recalls the degraded pick yet fits the budget"))
    // and the degraded mine executes end-to-end (identical twin pair
    // found) — floor lowered KNOWINGLY because at this corpus size the
    // best affordable geometry is below the default 0.5 floor (the
    // default-floor refusal is pinned by the next test)
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_))).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairsAuto(df, "embedding", "vec_id", threshold = 0.4,
        dim = 8, corpusSize = 60000L, budgetPolicy = BudgetPolicy.AutoDegrade,
        minDegradedRecall = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)), s"identical pair must survive degraded geometry: ${pairs.toSeq}")
  }

  test("AutoDegrade REFUSES below the default recall floor (x30-equivalent corpus)") {
    import sqlImplicits._
    // At n = 60000 (the ScaleBench x30 volume) the best geometry the
    // 1e8 budget affords keeps only ~18% at-threshold recall — below
    // the default minDegradedRecall = 0.5, so the mine must throw AT
    // PLAN TIME (no job touches the 2-row frame) and the exception
    // must NAME the achievable recall so the caller can decide.
    val unfloored = Similarity.lshGeometryUnderBudget(
      threshold = 0.4, numPlanes = 64, corpusSize = 60000L, candidateBudget = 100000000L)
    assert(unfloored.expectedRecall < 0.5,
      s"precondition: unfloored recall ${unfloored.expectedRecall} must sit below the floor")
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val e = intercept[CandidateBudgetExceededException] {
      Similarity.nearDupPairsAuto(df, "embedding", "vec_id", threshold = 0.4,
        dim = 2, corpusSize = 60000L, budgetPolicy = BudgetPolicy.AutoDegrade)
    }
    assert(e.getMessage.contains(f"${unfloored.expectedRecall}%.4f"),
      s"refusal must name the achievable recall: ${e.getMessage}")
    assert(e.getMessage.contains("floor 0.5"), e.getMessage)
    // an explicit floor BELOW the achievable recall lets the same call run
    val ok = Similarity.lshGeometryUnderBudget(
      threshold = 0.4, numPlanes = 64, corpusSize = 60000L,
      candidateBudget = 100000000L, minRecall = 0.15)
    assert(ok == unfloored, "a satisfiable floor must not change the chosen geometry")
  }

  test("AutoDegrade throws when no banding fits the budget at all") {
    intercept[CandidateBudgetExceededException] {
      Similarity.lshGeometryUnderBudget(
        threshold = 0.4, numPlanes = 64, corpusSize = 1000000000000L, candidateBudget = 1L)
    }
  }

  test("rhp signature: same vector same sig; opposite vector flips all bits") {
    import sqlImplicits._
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_))).toDF("id", "vec")
    val planes = Similarity.hyperplanes(8, 16)
    val sigs = df.select(Similarity.rhpSignature(col("vec"), planes).as("s")).as[Long].collect()
    assert(sigs(0) == sigs(1))
    assert((sigs(0) ^ sigs(2)) == 0xffffL) // all 16 bits differ
  }

  test("degenerate vectors (zero-norm, null) never reach top-k or near-dup output") {
    import sqlImplicits._
    val good = Array.tabulate(8)(i => (i + 1).toFloat)
    val df = Seq(
      (1L, good), (2L, good.map(_ * 2f)),
      (3L, Array.fill(8)(0f)),     // zero norm -> NaN cosine unguarded
      (4L, null: Array[Float])
    ).toDF("id", "vec")
    // NaN would sort FIRST under desc and occupy the #1 slot
    val top = Similarity.cosineTopK(df, "vec", good, k = 3, "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 2L), s"only real vectors may rank: $top")
    // near-dup mining: ids 1/2 are parallel (cosine 1.0); the zero and
    // null vectors must produce NO pairs (unguarded they collapse to
    // one constant-signature bucket and pass >= threshold as NaN)
    val pairs = Similarity.nearDupPairsAuto(df, "vec", "id", threshold = 0.9, dim = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("bandColumns handles full-width 64-bit bands (shift-mod-64 mask)") {
    import sqlImplicits._
    val sig = -2401053088876216593L // arbitrary full-width pattern
    val out = Seq(Tuple1(sig)).toDF("sig")
      .select(Similarity.bandColumns(col("sig"), bands = 1, bitsPerBand = 64): _*)
      .head().getLong(0)
    assert(out == sig, f"band_0 must be the full signature, got $out%x")
  }

  test("RhpSig null-poisons on a null ELEMENT instead of reading it as zero") {
    import sqlImplicits._
    val df = Seq(
      (1L, Seq[java.lang.Float](1f, 2f, 3f, 4f)),
      (2L, Seq[java.lang.Float](1f, null, 3f, 4f))).toDF("id", "vec")
    val planes = Similarity.hyperplanes(4, 16)
    val rows = df.select(col("id"), Similarity.rhpSignature(col("vec"), planes).as("s"))
      .orderBy("id").collect()
    assert(!rows(0).isNullAt(1))
    assert(rows(1).isNullAt(1), "a null element must poison the signature")
  }
}

/** Shared fixture queries evaluated on sf0.001 embeddings. */
object SimilarityTestData {
  import graft.queries.SimilarityQueries
  def brute(spark: org.apache.spark.sql.SparkSession) =
    SimilarityQueries.queries("q28_knn_brute")(spark, "/root/testdata/sf0.001")
  def ann(spark: org.apache.spark.sql.SparkSession) =
    SimilarityQueries.queries("q29_knn_ann")(spark, "/root/testdata/sf0.001")
}
