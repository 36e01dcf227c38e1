package graft.multimodal

import graft.SparkSpec
import graft.core.CacheScope
import org.apache.spark.sql.functions._

class PerceptualHashSpec extends SparkSpec {

  private def png(fill: (Int, Int) => Int, w: Int = 32, h: Int = 32): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = fill(x, y) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def media(rows: (Long, Array[Byte])*) = {
    import sqlImplicits._
    rows.map { case (id, b) => Multimodal.MediaRow(id, "image", b, Map.empty[String, String]) }
      .toDS()
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("identical pixels hash identically; re-encode of the same pixels too") {
    val fill = (x: Int, y: Int) => (x * 7 + y * 13) % 256
    val ds = media((1L, png(fill)), (2L, png(fill)))
    val rows = PerceptualHash.perceptualHashes(ds).collect().sortBy(_.media_id)
    assert(rows.length == 2)
    assert(rows(0).ahash == rows(1).ahash && rows(0).dhash == rows(1).dhash)
  }

  test("a light retouch stays Hamming-near; a different image is Hamming-far") {
    val fill = (x: Int, y: Int) => (x * 7 + y * 13) % 256
    val retouch = (x: Int, y: Int) => if (x < 2 && y < 2) 255 else fill(x, y)
    val other = (x: Int, y: Int) => ((x / 8) * 97 + (y / 8) * 31) % 256
    val rows = PerceptualHash
      .perceptualHashes(media((1L, png(fill)), (2L, png(retouch)), (3L, png(other))))
      .collect().sortBy(_.media_id)
    assert(hamming(rows(0).ahash, rows(1).ahash) <= 3,
      s"retouch drifted ${hamming(rows(0).ahash, rows(1).ahash)} aHash bits")
    assert(hamming(rows(0).ahash, rows(2).ahash) > 10,
      s"unrelated images only ${hamming(rows(0).ahash, rows(2).ahash)} aHash bits apart")
    assert(hamming(rows(0).dhash, rows(2).dhash) > 10)
  }

  test("dHash ignores a global brightness shift that moves every aHash-free gradient") {
    val fill = (x: Int, y: Int) => 40 + (x * 5) % 160
    val brighter = (x: Int, y: Int) => math.min(255, fill(x, y) + 40)
    val rows = PerceptualHash
      .perceptualHashes(media((1L, png(fill)), (2L, png(brighter))))
      .collect().sortBy(_.media_id)
    assert(rows(0).dhash == rows(1).dhash, "uniform brightness shift must not change gradient signs")
  }

  test("incremental wrappers: cross pairs match ids across corpora; the gate admits only the novel image") {
    val fill = (x: Int, y: Int) => (x * 7 + y * 13) % 256
    val retouch = (x: Int, y: Int) => if (x < 2 && y < 2) 255 else fill(x, y)
    val other = (x: Int, y: Int) => ((x / 8) * 97 + (y / 8) * 31) % 256
    // batch: an exact copy of a reference image, a light retouch of
    // it, and a genuinely new image; reference: the original
    val batch = media((100L, png(fill)), (101L, png(retouch)), (102L, png(other)))
    val ref = media((1L, png(fill)))
    val pairs = PerceptualHash.phashDupPairsAgainst(batch, ref, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
    assert(pairs.exists(p => p._1 == 100L && p._2 == 1L && p._3 == 0), s"pairs=${pairs.toSeq}")
    assert(pairs.exists(p => p._1 == 101L && p._2 == 1L && p._3 <= 3), s"pairs=${pairs.toSeq}")
    assert(!pairs.exists(_._1 == 102L), s"novel image cross-paired: ${pairs.toSeq}")
    val kept = PerceptualHash.dropSeenImages(batch, ref, maxHamming = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(102L), s"kept=$kept")
  }

  test("undecodable and empty payloads yield no hash row") {
    val ds = media((1L, Array[Byte](1, 2, 3)), (2L, Array.emptyByteArray)).union {
      import sqlImplicits._
      Seq(Multimodal.MediaRow(3L, "image", null, Map.empty[String, String])).toDS()
    }
    assert(PerceptualHash.perceptualHashes(ds).count() == 0)
  }

  test("phashDupPairs equals brute-force Hamming over the recomputed hashes") {
    val fills: Seq[(Long, (Int, Int) => Int)] = (0 until 12).map { i =>
      (i.toLong, (x: Int, y: Int) => ((x * (3 + i % 4) + y * (5 + i / 4)) * 17) % 256)
    } ++ Seq(
      (100L, (x: Int, y: Int) => (x * 3 + y * 5) % 256),
      (101L, (x: Int, y: Int) => (x * 3 + y * 5) % 256)) // planted exact dup
    val ds = media(fills.map { case (id, f) => (id, png(f)) }: _*)
    val hashed = PerceptualHash.perceptualHashes(ds).collect()
    val brute = (for {
      a <- hashed; b <- hashed
      if a.media_id < b.media_id && hamming(a.ahash, b.ahash) <= 3
    } yield (a.media_id, b.media_id, hamming(a.ahash, b.ahash))).toSet
    val joined = PerceptualHash.phashDupPairs(ds, maxHamming = 3, which = "ahash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").intValue)).toSet
    assert(brute.contains((100L, 101L, 0)), "fixture drifted: planted dup not Hamming-0")
    assert(joined == brute, s"banded join diverged\nbrute=$brute\njoined=$joined")
  }

  test("frameHashes: every DIB frame hashed in order; everyN samples; undecodable yields none") {
    import sqlImplicits._
    def gray(v: Int) = {
      val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val g = (v + x * 9) % 256
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    val avi = Avi.buildDib(Seq(gray(10), gray(80), gray(160)))
    val ds = Seq(
      Multimodal.MediaRow(1L, "video", avi, Map.empty[String, String]),
      Multimodal.MediaRow(2L, "video", Array[Byte](1, 2, 3), Map.empty[String, String])).toDS()
    val all = PerceptualHash.frameHashes(ds).collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(all.toSeq == Seq((1L, 0), (1L, 1), (1L, 2)))
    val sampled = PerceptualHash.frameHashes(ds, everyN = 2).collect().map(_.getInt(1)).sorted
    assert(sampled.toSeq == Seq(0, 2))
  }

  test("videoDupPairs: exact dup scores 1.0, embedded clip scores 1.0 on its side, unrelated never pairs") {
    import sqlImplicits._
    def frame(seed: Int) = {
      val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = (seed * 37 + x * 11 + y * 23) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val a = Seq(frame(1), frame(2), frame(3), frame(4))
    val clip = Seq(frame(2), frame(3)) // contiguous slice of a
    val other = Seq(frame(90), frame(91), frame(92))
    val ds = Seq(
      Multimodal.MediaRow(1L, "video", Avi.buildDib(a), Map.empty[String, String]),
      Multimodal.MediaRow(2L, "video", Avi.buildDib(a), Map.empty[String, String]), // exact dup
      Multimodal.MediaRow(3L, "video", Avi.buildDib(clip), Map.empty[String, String]),
      Multimodal.MediaRow(4L, "video", Avi.buildDib(other), Map.empty[String, String])).toDS()
    val got = PerceptualHash.videoDupPairs(ds, maxHamming = 2, minMatchFrac = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("match_frac")).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1.0, s"exact dup: $got")
    assert(got.contains((1L, 3L)) && got((1L, 3L)) == 1.0, s"embedded clip must score 1.0: $got")
    assert(got.contains((2L, 3L)))
    assert(!got.keySet.exists { case (x, y) => x == 4L || y == 4L }, s"unrelated paired: $got")
  }

  test("videoDupClusters: exact dups cluster; order, length and unrelated content split; one row per video") {
    import sqlImplicits._
    def frame(seed: Int) = {
      val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = (seed * 37 + x * 11 + y * 23) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val f = (1 to 3).map(frame)
    val ds = Seq(
      Multimodal.MediaRow(1L, "video", Avi.buildDib(f), Map.empty[String, String]),
      Multimodal.MediaRow(2L, "video", Avi.buildDib(f), Map.empty[String, String]), // exact dup
      Multimodal.MediaRow(3L, "video", Avi.buildDib(Seq(f(1), f(0), f(2))), Map.empty[String, String]), // reordered
      Multimodal.MediaRow(4L, "video", Avi.buildDib(f.take(2)), Map.empty[String, String]), // truncated
      Multimodal.MediaRow(5L, "video", Avi.buildDib(Seq(frame(90), frame(91), frame(92))), Map.empty[String, String]),
      Multimodal.MediaRow(6L, "video", Array[Byte](1, 2, 3), Map.empty[String, String])) // undecodable
      .toDS()
    val got = PerceptualHash.videoDupClusters(ds, maxHamming = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L),
      s"got=$got") // ordered-sequence equality: only the byte dup merges; undecodable absent
  }

  test("videoDupClusters absorbs per-frame Hamming noise through the component closure") {
    import sqlImplicits._
    // engineered EXACT 1-bit aHash flip: an 8x8 frame pools one pixel
    // per grid cell; every other cell alternates 0/200 (pinned far
    // from the mean ~101), and cell (0,0) sits just below (90) or
    // just above (110) it — only bit 0 differs between the variants
    def img8(p00: Int) = {
      val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val v = if (x == 0 && y == 0) p00 else if (((y * 8 + x) & 1) == 1) 200 else 0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val d = hamming(PerceptualHash.aHash64(img8(90)), PerceptualHash.aHash64(img8(110)))
    assert(d == 1, s"fixture drifted: engineered flip moved $d aHash bits, need exactly 1")
    val ds = Seq(
      Multimodal.MediaRow(1L, "video", Avi.buildDib(Seq(img8(90), img8(90))), Map.empty[String, String]),
      Multimodal.MediaRow(2L, "video", Avi.buildDib(Seq(img8(110), img8(90))), Map.empty[String, String]))
      .toDS()
    val got = PerceptualHash.videoDupClusters(ds, maxHamming = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L), s"noisy first frame must fold into the component: $got")
    val strict = PerceptualHash.videoDupClusters(ds, maxHamming = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(strict == Map(1L -> 1L, 2L -> 2L), s"at maxHamming 0 the noisy frame must split: $strict")
  }

  test("videoDupPairsReleasable matches the plain path and releases its frame-hash cache") {
    import sqlImplicits._
    def frame(seed: Int) = {
      val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = (seed * 37 + x * 11 + y * 23) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val a = Seq(frame(1), frame(2), frame(3))
    val ds = Seq(
      Multimodal.MediaRow(1L, "video", Avi.buildDib(a), Map.empty[String, String]),
      Multimodal.MediaRow(2L, "video", Avi.buildDib(a), Map.empty[String, String])).toDS()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val plain = PerceptualHash.videoDupPairs(ds, maxHamming = 2, minMatchFrac = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val beforeRel = spark.sparkContext.getPersistentRDDs.keySet
    val got = CacheScope.run(spark) {
      val rows = PerceptualHash.videoDupPairs(ds, maxHamming = 2, minMatchFrac = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(beforeRel).nonEmpty,
        "expected the frame-hash table to be persisted during the run")
      rows
    }
    assert(got == plain && got == Set((1L, 2L)))
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(beforeRel).isEmpty,
      "the scope must drop the cache entries this call added")
    // the unscoped call's caches sit in the bounded pool; drop them here
    // so this suite leaves no residue for later suites
    spark.sparkContext.getPersistentRDDs.keySet.diff(before)
      .foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }

  test("videoDupPairs rejects a media id outside the composite-key range per row") {
    val fill = (x: Int, y: Int) => (x * 7 + y * 13) % 256
    val ds = media((-1L, png(fill)), (2L, png(fill)))
    val e = intercept[Exception] {
      PerceptualHash.videoDupPairs(ds, maxHamming = 3, minMatchFrac = 0.5).collect()
    }
    assert(e.getMessage.contains("composite-key range") ||
      Option(e.getCause).exists(_.getMessage.contains("composite-key range")), e.toString)
  }

  test("hammingPairs is exact below the band count and validates band geometry") {
    import sqlImplicits._
    // signatures two bit-flips apart must pair at bands=4 (pigeonhole)
    val sigs = Seq((1L, 0x0123456789abcdefL), (2L, 0x0123456789abcdefL ^ 0x3L),
      (3L, 0xfedcba9876543210L)).toDF("id", "sig")
    val got = graft.dedup.Dedup.hammingPairs(sigs, "id", "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").intValue)).toSet
    assert(got == Set((1L, 2L, 2)))
    intercept[IllegalArgumentException] {
      graft.dedup.Dedup.hammingPairs(sigs, "id", "sig", maxHamming = 3, bands = 5)
    }
  }
}
