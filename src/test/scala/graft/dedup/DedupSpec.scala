package graft.dedup

import graft.SparkSpec
import graft.core.CacheScope
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs = {
    import sqlImplicits._
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 48).map(i => s"w$i").mkString(" ") + " x y" // ~0.9 shingle overlap
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    Seq(
      (1L, base),
      (2L, base), // exact dup of 1
      (3L, nearDup), // near dup of 1
      (4L, other)).toDF("doc_id", "text")
  }

  test("exactDedup keeps smallest id per normalized content") {
    import sqlImplicits._
    val kept = Dedup.exactDedup(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
    val groups = Dedup.exactDupGroups(docs, "text", "doc_id")
      .filter(col("n_copies") > 1).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("canonical_id") == 1L)
  }

  test("exactDedup keeps ALL null-text rows; exactDupGroups forms no group from them") {
    import sqlImplicits._
    val df = Seq(
      (1L, Some("same text")), (2L, Some("same text")),
      (3L, None), (4L, None), (5L, None)).toDF("doc_id", "text")
    // xxhash64(null) is a CONSTANT — fingerprinting nulls would
    // collapse docs 3/4/5 into one survivor (data loss)
    val kept = Dedup.exactDedup(df, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
    val groups = Dedup.exactDupGroups(df, "text", "doc_id").collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("n_copies") == 2L)
  }

  test("exactDedup keeps ALL null-id rows: they cannot compete in an id-keyed survivorship") {
    import sqlImplicits._
    // min(__keep_id) skips nulls and the keeper semi-join never matches
    // a null key — unguarded, rows 10/11 would silently VANISH (the
    // delete-not-dedup failure ADVICE r16 named)
    val df = Seq(
      (Some(1L), "same text"), (Some(2L), "same text"),
      (None, "same text"), (None, "only null-id copy")).toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "text", "doc_id")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((1L, "same text"), (-1L, "same text"), (-1L, "only null-id copy")),
      kept.toString)
  }

  test("dupClusters: local and distributed paths pick the same minimum for supplementary-plane string ids") {
    import sqlImplicits._
    // U+FFFD < U+10000 in UTF-8 binary (Spark's min) but the REVERSE
    // under Java's UTF-16 compareTo (the surrogate 0xD800 sorts below
    // 0xFFFD) — the canonical cluster id must not flip across
    // collectThreshold
    val lo = "\uFFFD"          // U+FFFD, UTF-8: EF BF BD
    val hi = "\uD800\uDC00"   // U+10000, UTF-8: F0 90 80 80
    val pairs = Seq((lo, hi)).toDF("id_a", "id_b")
    def labels(threshold: Long) =
      Dedup.dupClusters(pairs, collectThreshold = threshold)
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val local = labels(1000000L)
    val dist = labels(0L)
    assert(local == dist, s"local=$local dist=$dist")
    assert(local(hi) == lo) // the UTF-8-smaller id is canonical on both paths
  }

  test("shingles: distinct word n-grams; short text yields empty") {
    import sqlImplicits._
    val df = Seq("a b c d", "a b").toDF("text")
    val out = df.select(Dedup.shingles(col("text"), 3).as("s")).collect()
    assert(out(0).getSeq[String](0).toSet == Set("a b c", "b c d"))
    assert(out(1).getSeq[String](0).isEmpty)
  }

  test("minhash LSH surfaces exact+near dups with high est_jaccard, skips unrelated") {
    val pairs = Dedup.minhashCandidatePairs(docs, "text", "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("est_jaccard"))
      .toMap
    assert(pairs((1L, 2L)) == 1.0) // exact dup: identical signatures
    assert(pairs((1L, 3L)) > 0.5) // near dup
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L }) // unrelated never collides
  }

  test("releasable mining variants match the plain paths and drop every cache entry they added") {
    // CacheManager dedups persists by logical plan, so earlier tests'
    // caches would mask this call's entries — start clean (same
    // discipline as ContainmentSpec's releasable test).
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // minhash candidates: sig + the banding pass's class/member maps
    val got = CacheScope.run(spark) {
      val rows = Dedup.minhashCandidatePairs(docs, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
        "expected the signature/class tables to be persisted during the run")
      rows
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the scope must drop every cache entry minhashCandidatePairs added")
    assert(got == Dedup.minhashCandidatePairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // verified pairs: the shingle cache AND the banding internals both
    // belong to the one scope
    val gotPairs = CacheScope.run(spark) {
      val rows = Dedup.verifyCandidates(docs, "text", "doc_id", n = 3, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty)
      rows
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the scope must drop the shingle cache and the banding class/member maps")
    assert(gotPairs == Dedup.verifyCandidates(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    spark.catalog.clearCache()
  }

  test("minhash est_jaccard approximates exact ngram jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.0)
      .filter(col("id_a") === 1 && col("id_b") === 3)
      .select("jaccard").head().getDouble(0)
    val est = Dedup.minhashCandidatePairs(docs, "text", "doc_id")
      .filter(col("id_a") === 1 && col("id_b") === 3)
      .select("est_jaccard").head().getDouble(0)
    assert(math.abs(exact - est) < 0.25, s"exact=$exact est=$est")
  }

  test("simhash: identical -> distance 0 via pairs; unrelated far apart") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 12)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("hamming"))
      .toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((3L, 4L)))
  }

  test("simhash64 expression is deterministic and order-insensitive for same multiset") {
    import sqlImplicits._
    val df = Seq("b a c a", "a a b c").toDF("text")
    val sigs = df.select(SimHash64.simhash64(split(col("text"), " ")).as("s")).as[Long].collect()
    assert(sigs(0) == sigs(1)) // same token multiset, order-free
  }

  test("ngram jaccard pairs: thresholds filter correctly") {
    val all = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("shingle_hashes expression matches the string shingle pipeline's set structure") {
    import sqlImplicits._
    // Edge cases share split(" ") semantics: empty string -> one empty
    // token; double/trailing spaces -> empty tokens kept.
    val df = Seq("a b c d", "a b", "", "a  b c ", "a b c d a b c").toDF("text")
    val rows = df.select(
      Dedup.shingles(col("text"), 3).as("strs"),
      ShingleHashes.shingleHashes(col("text"), 3).as("hs")).collect()
    rows.foreach { r =>
      val strs = r.getSeq[String](0).toSet
      val hs = r.getSeq[Long](1)
      assert(hs.toSet.size == hs.length, "hashes are distinct")
      assert(hs.length == strs.size, s"cardinality ${hs.length} != ${strs.size} for $strs")
      assert(hs == hs.sorted, "deterministic sorted output")
    }
    // Equal token sequences hash equal across rows (set semantics hold
    // for cross-document intersections, not just within one doc).
    val h2 = df.select(ShingleHashes.shingleHashes(col("text"), 3).as("hs")).collect()
    assert(h2(0).getSeq[Long](0).intersect(h2(4).getSeq[Long](0)).length == 2) // "a b c", "b c d"
  }

  test("shingle_hashes cardinality matches distinct string shingles on random texts") {
    import sqlImplicits._
    // seeded random texts over a small vocabulary with erratic spacing
    var s = 123456789L
    def nextInt(n: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L; ((s >>> 33) % n).toInt }
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "", "ff")
    val texts = (0 until 80).map { _ =>
      (0 until (nextInt(12))).map(_ => vocab(nextInt(vocab.size))).mkString(" ")
    }
    val df = texts.toDF("text")
    for (n <- Seq(2, 3, 4)) {
      val rows = df.select(
        Dedup.shingles(col("text"), n).as("strs"),
        ShingleHashes.shingleHashes(col("text"), n).as("hs")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1).length == r.getSeq[String](0).toSet.size,
          s"n=$n text shingles ${r.getSeq[String](0)}")
      }
    }
  }

  test("dupClusters resolves transitive chains to the smallest reachable id") {
    import sqlImplicits._
    // chain 1-2-3-4 (no direct 1-4 edge), separate pair 7-8, singleton edge 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(clusters(_) == 1L), clusters.toString)
    assert(clusters(7L) == 7L && clusters(8L) == 7L)
    assert(clusters(10L) == 10L && clusters(11L) == 10L)
    // end-to-end: clusters over the fixture's verified pairs — every
    // member of a cluster is pairwise-reachable, and keeping min-per-
    // cluster equals the expected survivor set
    val fixturePairs = Dedup.verifyCandidates(docs, "text", "doc_id", threshold = 0.5)
    val fc = Dedup.dupClusters(fixturePairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // docs 1,2,3 are one dup cluster
  }

  test("hammingPairs equals brute force; hammingClusters equals union-find over those pairs plus singletons") {
    import sqlImplicits._
    // duplicate class {1,2,3}, a near sig 4 (2 bit flips off the class),
    // a second class {6,7}, a singleton 5 far from everything, and a
    // sig chain 8-9-10 where only ADJACENT members are within range
    // (tests transitivity: clusters must merge what pairs only chain)
    val s0 = 0x0123456789abcdefL
    val sigs = Seq(
      (1L, s0), (2L, s0), (3L, s0),
      (4L, s0 ^ 3L), // hamming 2 from s0
      (5L, ~s0),
      (6L, 0x7777000011110000L), (7L, 0x7777000011110000L),
      (8L, 0x1000L), (9L, 0x1000L ^ 7L), (10L, 0x1000L ^ 7L ^ 0x70L)
    ).toDF("id", "sig")
    val pairs = Dedup.hammingPairs(sigs, "id", "sig", maxHamming = 3)
    val got = pairs.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("hamming")).toMap
    val raw = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- raw; (ib, sb) <- raw
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib) -> java.lang.Long.bitCount(sa ^ sb)).toMap
    assert(got == brute, s"got=$got brute=$brute")
    assert(got((1L, 2L)) == 0 && got((1L, 4L)) == 2 && !got.contains((8L, 10L)))
    val clusters = Dedup.hammingClusters(sigs, "id", "sig", maxHamming = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromPairs = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromPairs.forall { case (id, c) => clusters(id) == c },
      s"clusters=$clusters fromPairs=$fromPairs")
    assert(clusters == fromPairs ++ Map(5L -> 5L), // singleton only in the cluster view
      s"clusters=$clusters")
    assert(clusters(10L) == 8L, "chain must resolve transitively to its minimum")
    // forced-distributed sig-space CC path yields the same labels
    val distClusters = Dedup.hammingClusters(
      sigs, "id", "sig", maxHamming = 3, collectThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distClusters == clusters)
  }

  test("hammingPairsAgainst equals brute cross force; dropSeenHamming keeps exactly the unseen (nulls kept)") {
    import sqlImplicits._
    val s0 = 0x0123456789abcdefL
    // batch: an exact ref duplicate (1), a near one (2, hamming 2),
    // an over-threshold one (3, hamming 5), a novel sig (4), a null
    // sig (5), and an id COLLIDING with a ref id (6 vs ref 6) at
    // hamming 1 — cross corpora that is a real match, not a self pair
    val batch = Seq(
      (1L, Some(s0)), (2L, Some(s0 ^ 3L)), (3L, Some(s0 ^ 0x1fL)),
      (4L, Some(~s0)), (5L, None), (6L, Some(0x4444L ^ 1L))
    ).toDF("id", "sig")
    val ref = Seq(
      (10L, Some(s0)), (11L, Some(s0)), (6L, Some(0x4444L)), (12L, Some(0x9999999999999999L))
    ).toDF("id", "sig")
    val got = Dedup.hammingPairsAgainst(batch, ref, "id", "sig", maxHamming = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("hamming")).toMap
    val bRaw = Seq((1L, s0), (2L, s0 ^ 3L), (3L, s0 ^ 0x1fL), (4L, ~s0), (6L, 0x4444L ^ 1L))
    val rRaw = Seq((10L, s0), (11L, s0), (6L, 0x4444L), (12L, 0x9999999999999999L))
    val brute = (for {
      (ia, sa) <- bRaw; (ib, sb) <- rRaw
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib) -> java.lang.Long.bitCount(sa ^ sb)).toMap
    assert(got == brute, s"got=$got brute=$brute")
    // the exact dup pairs BOTH ref copies at hamming 0; the shared id
    // 6 matches across corpora; 3 and 4 pair with nothing
    assert(got((1L, 10L)) == 0 && got((1L, 11L)) == 0 && got((6L, 6L)) == 1)
    assert(!got.keys.exists { case (a, _) => a == 3L || a == 4L })
    val kept = Dedup.dropSeenHamming(batch, ref, "sig", maxHamming = 3)
      .collect().map(_.getLong(0)).toSet
    // seen: 1 (exact), 2 (near), 6 (near) — kept: 3, 4, and the
    // null-sig row 5 (unhashable is never silently dropped)
    assert(kept == Set(3L, 4L, 5L), s"kept=$kept")
  }

  test("hammingClusters: an id carrying several sigs bridges their components exactly like the pair path") {
    import sqlImplicits._
    // id 1 holds TWO sigs 64 bits apart, each near another id's sig;
    // id 5 holds a sig near 1's second sig AND a third far sig near
    // id 6's — so the pair path chains {1,2,3,5,6} through the shared
    // ids and the cluster path must produce the SAME partition (the
    // round-14 bug: sig-components were labeled independently, so id 1
    // appeared twice with different labels and the chain never merged).
    val sA = 0L
    val sB = ~0L
    val sD = 0x00000000FFFF0000L
    val members = Seq(
      (1L, sA), (1L, sB), // multi-sig id
      (2L, sA ^ 1L), // near sA
      (3L, sB ^ 2L), // near sB
      (4L, 0x0F0F0F0F00000000L), // far from everything: singleton
      (5L, sB ^ 4L), (5L, sD), // second multi-sig id, chains B->D
      (6L, sD ^ 8L) // near sD
    ).toDF("id", "sig")
    val pairs = Dedup.hammingPairs(members, "id", "sig", maxHamming = 3)
    val clusters = Dedup.hammingClusters(members, "id", "sig", maxHamming = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromPairs = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == fromPairs ++ Map(4L -> 4L), s"clusters=$clusters fromPairs=$fromPairs")
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 1L, 6L -> 1L))
    // exactly ONE row per id even though ids 1 and 5 carry two sigs
    val idRows = Dedup.hammingClusters(members, "id", "sig", maxHamming = 3)
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idRows.values.forall(_ == 1L), s"duplicate id rows: $idRows")
    // forced-distributed sig-space CC agrees
    val dist = Dedup.hammingClusters(members, "id", "sig", maxHamming = 3, collectThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == clusters)
    // hammingPairs' documented multi-sig grain: per-pair MIN distance
    // equals brute force over all cross-sig combinations (rows may
    // repeat a pair once per connecting sig edge — that is the
    // documented contract, and dupClusters above consumed it exactly)
    val raw = members.collect().map(r => (r.getLong(0), r.getLong(1)))
    val bruteMin = (for {
      (ia, sa) <- raw; (ib, sb) <- raw
      if ia != ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (math.min(ia, ib), math.max(ia, ib)) -> java.lang.Long.bitCount(sa ^ sb))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
    val gotMin = pairs.groupBy("id_a", "id_b").agg(min(col("hamming")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number]("h").intValue).toMap
    assert(gotMin == bruteMin, s"got=$gotMin brute=$bruteMin")
  }

  test("dupClusters: driver union-find and forced-distributed propagation yield identical labels") {
    import sqlImplicits._
    // deterministic pseudo-random edge soup: chains, stars, singleton
    // pairs, duplicate + reversed edges, plus a long path (diameter 9)
    var s = 987654321L
    def nextInt(n: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L; ((s >>> 33) % n).toInt }
    val random = (0 until 120).map(_ => (nextInt(40).toLong, nextInt(40).toLong)).filter(p => p._1 != p._2)
    val path = (100L until 109L).map(i => (i, i + 1))
    val pairs = (random ++ path ++ random.map(_.swap)).toDF("id_a", "id_b")
    val local = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.dupClusters(pairs, maxIter = 20, collectThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist, s"local=$local dist=$dist")
    assert(local(109L) == 100L) // long chain resolved to its minimum
    // string ids exercise the generic Comparable ordering path
    val spairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    val slocal = Dedup.dupClusters(spairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(slocal == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("distributed propagation converges in ~log2(diameter) rounds on an ordered chain") {
    import sqlImplicits._
    // an ORDERED 2000-node chain is the worst case for one-hop min
    // propagation (the minimum sits at one end: 2000 rounds without
    // pointer halving). With halving, reach doubles per round:
    // d_r = 2*d_{r-1} + 1 -> ceil(log2(2001)) = 11 rounds + 1 to
    // detect the fixpoint.
    val pairs = (0L until 1999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val run = Dedup.dupClustersDistributedRun(
      pairs.select(col("id_a"), col("id_b")).localCheckpoint(true), maxIter = 20)
    assert(run.converged, s"did not converge in 20 rounds (rounds=${run.rounds})")
    assert(run.rounds <= 13, s"pointer halving should need ~12 rounds, took ${run.rounds}")
    assert(run.roundSecs.length == run.rounds)
    val labels = run.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 2000 && labels.values.forall(_ == 0L))
  }

  test("dupClusters: a null endpoint voids the edge, not the partner node, on BOTH paths") {
    import sqlImplicits._
    // (5, null) must keep 5 as a singleton; (null, null) contributes
    // nothing; the 1-2 edge is unaffected. Identical output across the
    // collectThreshold boundary.
    val pairs = Seq(
      (Some(1L), Some(2L)),
      (Some(5L), None),
      (None, Some(6L)),
      (Option.empty[Long], Option.empty[Long])).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 6L)
    val local = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.dupClusters(pairs, maxIter = 20, collectThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expected, s"local=$local")
    assert(dist == expected, s"dist=$dist")
  }

  test("pipeline near-dedup is cluster-canonical: an open chain keeps only the cluster minimum") {
    import sqlImplicits._
    // doc 3 is a near-dup of BOTH 1 and 2 (shared prefix + a slice of
    // each unique suffix), while 1 and 2 are NOT near-dups of each
    // other: verified pairs form the open chain (1,3),(2,3). A per-pair
    // drop-larger policy would keep {1,2}; cluster-canonical survival
    // (dupClusters: one doc per connected component) keeps only 1.
    val shared = (1 to 20).map(i => s"s$i")
    val ua = (1 to 20).map(i => s"a$i")
    val ub = (1 to 20).map(i => s"b$i")
    val d1 = (shared ++ ua).mkString(" ")
    val d2 = (shared ++ ub).mkString(" ")
    val d3 = (shared ++ ua.take(9) ++ ub.take(9)).mkString(" ")
    val chainDocs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val pairs = Dedup.verifyCandidates(chainDocs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (2L, 3L)), s"fixture precondition drifted: $pairs")
    val ctx = graft.core.PipelineContext(
      "chain-test", config = Map("min_quality" -> "0.0"),
      tables = Map("documents" -> chainDocs))
    val out = graft.text.CurationPipeline.pipeline.run(ctx)
    val survivors = out.table("curated").select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L), s"expected cluster-canonical survivor {1}, got $survivors")
  }

  test("verifyCandidates (LSH + exact verify) equals the full self-join result") {
    val full = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaCandidates = Dedup.verifyCandidates(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaCandidates == full, s"verify=$viaCandidates full=$full")
  }

  test("dropSeenJaccard keeps exactly the unseen; shingle-less rows always pass; planted dup gated") {
    import sqlImplicits._
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 45).map(i => s"w$i").mkString(" ") // high-overlap prefix
    val mild = (1 to 25).map(i => s"w$i").mkString(" ") + " " +
      (200 to 224).map(i => s"z$i").mkString(" ") // ~0.3 overlap: below 0.8
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val batch = Seq(
      (1L, base), // exact dup of ref 10 -> gated
      (2L, nearDup), // jaccard vs base = 43/48 ~ 0.896 -> gated
      (3L, mild), // ~0.3 -> kept
      (4L, other), // novel -> kept
      (5L, "one two"), // < 3 tokens: no shingles -> kept
      (6L, "") // empty: no shingles -> kept
    ).toDF("doc_id", "text")
    val ref = Seq((10L, base), (11L, "a b")).toDF("doc_id", "text")
    val kept = Dedup.dropSeenJaccard(batch, ref, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L, 6L), s"kept=$kept")
    // brute parity: the gated set equals the exact cross-Jaccard filter
    val shingleSets = (id: Long, t: String) => t.split(" ").filter(_.nonEmpty)
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val bRaw = Seq((1L, base), (2L, nearDup), (3L, mild), (4L, other), (5L, "one two"), (6L, ""))
    val rRaw = Seq((10L, base), (11L, "a b"))
    val bruteSeen = bRaw.collect {
      case (id, t) if rRaw.exists { case (_, rt) =>
        val (a, b) = (shingleSets(id, t), shingleSets(0L, rt))
        val inter = a.intersect(b).size
        a.nonEmpty && b.nonEmpty &&
          inter.toDouble / (a.size + b.size - inter) >= 0.8
      } => id
    }.toSet
    assert(bRaw.map(_._1).toSet.diff(kept) == bruteSeen, s"gated=${bRaw.map(_._1).toSet.diff(kept)} brute=$bruteSeen")
    // a scope drops the caches without changing the result
    val kept2 = CacheScope.run(spark)(
      Dedup.dropSeenJaccard(batch, ref, "text", "doc_id").collect().map(_.getLong(0)).toSet)
    assert(kept2 == kept)
  }

  test("clusterRepresentatives keeps the best-scoring member, ties to the smallest id") {
    import sqlImplicits._
    val members = Seq(
      // cluster 1: clear best (id 12)
      (1L, 10L, 0.4), (1L, 12L, 0.9), (1L, 11L, 0.7),
      // cluster 2: tie on score -> smallest id (20) wins
      (2L, 21L, 0.5), (2L, 20L, 0.5),
      // cluster 3: singleton
      (3L, 30L, 0.1)
    ).toDF("cluster", "id", "score")
    val reps = Dedup.clusterRepresentatives(members, "cluster", "id", "score")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(reps == Map(
      1L -> ((3L, 12L, 0.9)),
      2L -> ((2L, 20L, 0.5)),
      3L -> ((1L, 30L, 0.1))), reps)
  }

  test("clusterRepresentatives: NULL scores always lose; all-null clusters keep smallest id") {
    import sqlImplicits._
    val members = Seq(
      (1L, 10L, Some(0.9)), (1L, 11L, None),         // scored member beats unscored
      (2L, 21L, None), (2L, 20L, None)               // all-null -> smallest id, null score
    ).toDF("cluster", "id", "score")
    val reps = Dedup.clusterRepresentatives(members, "cluster", "id", "score")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(reps == Map(1L -> ((10L, Some(0.9))), 2L -> ((20L, None))), reps)
  }

  test("clusterRepresentatives: NaN scores lose like NULL (never outrank via total double order)") {
    import sqlImplicits._
    // Unfixed, -NaN = NaN sorts ABOVE +inf in Spark's total double
    // order, so a NaN-scored member would lose even to a null-scored
    // one yet the struct-min would still surface garbage orderings.
    // Contract: NaN ranks with NULL (both lose to any real score;
    // among only NaN/NULL members the smallest id wins).
    val members = Seq(
      (1L, 11L, Double.NaN), (1L, 10L, 0.2),          // real score beats NaN
      (2L, 21L, Double.NaN), (2L, 20L, Double.NaN)    // all-NaN -> smallest id
    ).toDF("cluster", "id", "score")
    val reps = Dedup.clusterRepresentatives(members, "cluster", "id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(reps == Map(1L -> 10L, 2L -> 20L), reps)
    // mixed NaN + NULL: ties at -inf, smallest id wins regardless of which was NaN
    val mixed = Seq(
      (3L, Some(Double.NaN), 31L), (3L, Option.empty[Double], 30L)
    ).map { case (c, s, i) => (c, i, s) }.toDF("cluster", "id", "score")
    val rep3 = Dedup.clusterRepresentatives(mixed, "cluster", "id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rep3 == Map(3L -> 30L), rep3)
  }

  test("clusterRepresentatives supports string ids (every id type dupClusters emits)") {
    import sqlImplicits._
    val members = Seq(
      ("c1", "url-b", 0.4), ("c1", "url-a", 0.9),
      // tie -> lexicographically smallest id
      ("c2", "uuid-9", 0.5), ("c2", "uuid-1", 0.5)
    ).toDF("cluster", "id", "score")
    val reps = Dedup.clusterRepresentatives(members, "cluster", "id", "score")
      .collect().map(r => r.getString(0) -> (r.getString(2), r.getDouble(3))).toMap
    assert(reps == Map("c1" -> (("url-a", 0.9)), "c2" -> (("uuid-1", 0.5))), reps)
  }

  test("clusterRepresentatives equals the rank-window reference and plans ONE aggregate, no window") {
    import sqlImplicits._
    import org.apache.spark.sql.expressions.Window
    val members = (1L to 300L)
      .map(i => (i % 17, i, ((i * 37) % 101).toDouble / 101.0))
      .toDF("cluster", "id", "score")
    val viaWindow = members
      .withColumn("__rk", row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(col("score").desc, col("id").asc)))
      .filter(col("__rk") === 1)
      .select(col("cluster"), col("id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaAgg = Dedup.clusterRepresentatives(members, "cluster", "id", "score")
      .select(col("cluster_id"), col("keeper_id"), col("keeper_score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaAgg == viaWindow)
    val plan = Dedup.clusterRepresentatives(members, "cluster", "id", "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"argmax must be an aggregate, not a rank window:\n$plan")
  }
}
