package graft.dedup

import graft.SparkSpec
import graft.core.CacheScope
import graft.dedup.SeenIndex.{Auto, AutoAbove, Cached, Embedding, Hamming, Simhash, Vectors, Window}
import org.apache.spark.sql.functions._

class SeenIndexSpec extends SparkSpec {

  // the two index layouts, for reads, appends and compactions
  private val sigIndex = Hamming("sig")
  private val vecIndex = Vectors("vec", "id")

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("seen_index_").toString

  test("two-epoch text ingest: epoch 1 seeds, epoch 2 gates against it, re-ingest gates to zero") {
    import sqlImplicits._
    val path = tmpDir()
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val novel = (500 to 560).map(i => s"z$i").mkString(" ")
    // bootstrap: a missing index reads empty, so epoch 1 keeps all
    assert(SeenIndex.read(spark, sigIndex, path).count() == 0)
    val e1 = SeenIndex.gateAndUpdate(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), Simhash("text"), path)
    assert(e1.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // epoch 2: an exact re-ingest of epoch-1 content is gated, the
    // novel doc passes and is remembered in turn
    val batch2 = Seq((10L, base), (11L, novel)).toDF("doc_id", "text")
    val e2 = SeenIndex.gateAndUpdate(batch2, Simhash("text"), path)
    val kept2 = e2.collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(11L), s"kept2=$kept2")
    // cross-session anchor: epoch-2 admission equals the stateless
    // gate against the union of all previously ADMITTED docs
    val statelessKept = Dedup.dropSeenSimhash(
      batch2, Seq((1L, base), (2L, other)).toDF("doc_id", "text"), "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == statelessKept)
    // epoch 3: re-ingesting epoch 2's survivor gates to ZERO — the
    // append in epoch 2 is what makes the index remember it
    val e3 = SeenIndex.gateAndUpdate(
      Seq((20L, novel)).toDF("doc_id", "text"), Simhash("text"), path)
    assert(e3.isEmpty)
    // the index holds exactly the admitted signatures (3 distinct)
    assert(SeenIndex.read(spark, sigIndex, path).distinct().count() == 3)
  }

  test("generic Hamming epochs: near signatures gate, the admitted frame keeps its columns") {
    import sqlImplicits._
    val path = tmpDir()
    val s0 = 0x0123456789abcdefL
    val e1 = SeenIndex.gateAndUpdate(
      Seq((1L, s0, "a")).toDF("media_id", "ahash", "tag"), Hamming("ahash"), path)
    assert(e1.columns.toSeq == Seq("media_id", "ahash", "tag"))
    assert(e1.count() == 1)
    // near (hamming 2) and far arrivals: only the far one is admitted
    val e2 = SeenIndex.gateAndUpdate(
      Seq((2L, s0 ^ 3L, "b"), (3L, ~s0, "c")).toDF("media_id", "ahash", "tag"), Hamming("ahash"), path)
    val kept = e2.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(kept == Set((3L, "c")), s"kept=$kept")
    // within-batch duplicates both pass (history-only contract), one sig lands
    val e3 = SeenIndex.gateAndUpdate(
      Seq((4L, 0x7777L, "d"), (5L, 0x7777L, "e")).toDF("media_id", "ahash", "tag"), Hamming("ahash"), path)
    assert(e3.count() == 2)
    assert(SeenIndex.read(spark, sigIndex, path).filter(col("sig") === 0x7777L).count() == 1)
  }

  test("embedding epochs: near vectors gate, novel and degenerate vectors pass, re-ingest gates to zero") {
    import sqlImplicits._
    val path = tmpDir()
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    def gate(rows: Seq[(Long, Seq[Float])]) =
      SeenIndex.gateAndUpdate(
        rows.toDF("vec_id", "embedding"),
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
          bands = 8, broadcastVerify = true),
        path)
    val e1 = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val e2 = Seq(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)
    val novel = Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f)
    // bootstrap: empty index admits everything
    val r1 = gate(Seq((1L, e1), (2L, e2)))
    assert(r1.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // epoch 2: an exact copy of an admitted vector is gated (identical
    // unit vectors share every band, cosine 1.0 — no LSH luck needed);
    // the orthogonal novel vector passes; the zero-norm degenerate is
    // KEPT (unhashable rows can't be proven seen, the family rule)
    val r2 = gate(Seq((10L, e1), (11L, novel), (12L, Seq.fill(dim)(0f))))
    val kept2 = r2.collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(11L, 12L), s"kept2=$kept2")
    // epoch 3: re-ingesting epoch 2's finite survivor gates to ZERO;
    // the degenerate is admitted again (never enters the gate's
    // normalized space even though its row sits in the index)
    val r3 = gate(Seq((20L, novel), (21L, Seq.fill(dim)(0f))))
    assert(r3.collect().map(_.getLong(0)).toSet == Set(21L))
    // the index holds every admitted non-null vector row
    assert(SeenIndex.read(spark, vecIndex, path).count() == 5)
  }

  test("streaming ingest loop: each micro-batch gates against the GROWING index; a restarted query resumes from it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmpDir(); val out = tmpDir()
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val novel = (500 to 560).map(i => s"z$i").mkString(" ")
    val later = (900 to 960).map(i => s"y$i").mkString(" ")
    def admitted(): Set[Long] =
      spark.read.schema("doc_id LONG, text STRING").parquet(out)
        .collect().map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, String)]
    val q = SeenIndex.gateStream(
      input.toDF().toDF("doc_id", "text"), Simhash("text"), idx, out, tmpDir())
    // batch 1 bootstraps: both docs admitted and remembered
    input.addData((1L, base), (2L, novel)); q.processAllAvailable()
    assert(admitted() == Set(1L, 2L))
    // batch 2 gates against batch 1's admissions — cross-BATCH state
    // the stateless stream-static twin cannot express
    input.addData((10L, base), (11L, later)); q.processAllAvailable()
    assert(admitted() == Set(1L, 2L, 11L))
    q.stop()
    // a brand-new query (fresh checkpoint, fresh stream) resumes from
    // the index directory: re-ingesting history gates to zero
    val input2 = MemoryStream[(Long, String)]
    val q2 = SeenIndex.gateStream(
      input2.toDF().toDF("doc_id", "text"), Simhash("text"), idx, out, tmpDir())
    input2.addData((20L, novel), (21L, later)); q2.processAllAvailable()
    q2.stop()
    assert(admitted() == Set(1L, 2L, 11L))
    // and the streamed lifecycle left the same index a batch epoch would
    assert(SeenIndex.read(spark, sigIndex, idx).distinct().count() == 3)
  }

  test("append drops null signatures; empty-dir bootstrap reads as empty") {
    import sqlImplicits._
    val path = tmpDir()
    SeenIndex.append(Seq(Some(1L), None, Some(1L)).toDF("sig"), sigIndex, path)
    assert(SeenIndex.read(spark, sigIndex, path).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("retention window: history expires, re-admission resets the clock, untagged rows never expire, compact preserves it all") {
    import sqlImplicits._
    val path = tmpDir()
    val docA = (1 to 50).map(i => s"w$i").mkString(" ")
    val docB = (100 to 160).map(i => s"v$i").mkString(" ")
    def gate(id: Long, text: String, epoch: Long, minEpoch: Long): Set[Long] = CacheScope.run(spark) {
      val r = SeenIndex.gateAndUpdate(
        Seq((id, text)).toDF("doc_id", "text"), Simhash("text"), path, Some(Window(epoch, minEpoch)))
      r.collect().map(_.getLong(0)).toSet
    }
    // epoch 1 bootstraps; epoch 2's window still covers epoch 1 -> gated
    assert(gate(1L, docA, epoch = 1, minEpoch = 0) == Set(1L))
    assert(gate(2L, docA, epoch = 2, minEpoch = 1).isEmpty)
    // epoch 10 with a window starting at 5: the epoch-1 admission has
    // EXPIRED, so the same content is re-admitted and re-tagged at 10
    assert(gate(3L, docA, epoch = 10, minEpoch = 5) == Set(3L))
    // epoch 11, window from 6: the epoch-10 re-admission is live again
    assert(gate(4L, docA, epoch = 11, minEpoch = 6).isEmpty)
    // an UNTAGGED admission (the pre-retention API) never expires
    CacheScope.run[Unit](spark)(SeenIndex.gateAndUpdate(
      Seq((20L, docB)).toDF("doc_id", "text"), Simhash("text"), path))
    assert(gate(21L, docB, epoch = 1000, minEpoch = 999).isEmpty)
    // compact: one row per sig, docA's sig keeps its LATEST epoch (10)
    // and docB's stays untagged — the SAME decisions replay after
    SeenIndex.compact(spark, sigIndex, path)
    assert(gate(5L, docA, epoch = 12, minEpoch = 6).isEmpty)  // epoch-10 tag survived
    assert(gate(6L, docA, epoch = 20, minEpoch = 11) == Set(6L)) // and still expires
    assert(gate(22L, docB, epoch = 2000, minEpoch = 1999).isEmpty) // untagged survived
    // plain read() sees every signature regardless of tags
    assert(SeenIndex.read(spark, sigIndex, path).distinct().count() == 2)
  }

  test("retention window for precomputed hashes: the media form expires and resets like the text form") {
    import sqlImplicits._
    val path = tmpDir()
    val s0 = 0x0f0f0f0f0f0f0f0fL
    def gate(id: Long, sig: Long, epoch: Long, minEpoch: Long): Set[Long] = CacheScope.run(spark) {
      val r = SeenIndex.gateAndUpdate(
        Seq((id, sig)).toDF("media_id", "ahash"), Hamming("ahash"), path, Some(Window(epoch, minEpoch)))
      r.collect().map(_.getLong(0)).toSet
    }
    assert(gate(1L, s0, epoch = 1, minEpoch = 0) == Set(1L))
    // a NEAR signature (hamming 2) inside the window is gated
    assert(gate(2L, s0 ^ 3L, epoch = 2, minEpoch = 1).isEmpty)
    // outside the window the epoch-1 admission has expired
    assert(gate(3L, s0, epoch = 10, minEpoch = 5) == Set(3L))
    assert(gate(4L, s0, epoch = 11, minEpoch = 6).isEmpty)
  }

  test("retention window for embeddings: vector history expires, untagged vectors never do") {
    import sqlImplicits._
    val path = tmpDir()
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    val e1 = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val e2 = Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)
    def gate(id: Long, v: Seq[Float], epoch: Long, minEpoch: Long): Set[Long] = CacheScope.run(spark) {
      val r = SeenIndex.gateAndUpdate(
        Seq((id, v)).toDF("vec_id", "embedding"),
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes, broadcastVerify = true),
        path, Some(Window(epoch, minEpoch)))
      r.collect().map(_.getLong(0)).toSet
    }
    assert(gate(1L, e1, epoch = 1, minEpoch = 0) == Set(1L))
    assert(gate(2L, e1, epoch = 2, minEpoch = 1).isEmpty)   // in window -> gated
    assert(gate(3L, e1, epoch = 10, minEpoch = 5) == Set(3L)) // expired -> re-admitted
    assert(gate(4L, e1, epoch = 11, minEpoch = 6).isEmpty)  // clock reset at 10
    // an UNTAGGED vector (pre-retention API) never expires
    CacheScope.run[Unit](spark)(SeenIndex.gateAndUpdate(
      Seq((20L, e2)).toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes, broadcastVerify = true),
      path))
    assert(gate(21L, e2, epoch = 1000, minEpoch = 999).isEmpty)
    // the un-windowed read sees every ADMITTED vector regardless of
    // tags: ids 1 and 3 (tagged epochs 1 and 10) plus 20 (untagged);
    // gated arrivals (2, 4, 21) never reached the index
    assert(SeenIndex.read(spark, vecIndex, path).select("id").distinct().count() == 3)
  }

  test("compact collapses cross-epoch duplicate rows without changing any gate decision") {
    import sqlImplicits._
    val path = tmpDir()
    // three epochs appending overlapping signature sets
    SeenIndex.append(Seq(1L, 2L, 3L).toDF("sig"), sigIndex, path)
    SeenIndex.append(Seq(2L, 3L, 4L).toDF("sig"), sigIndex, path)
    SeenIndex.append(Seq(3L, 4L, 5L).toDF("sig"), sigIndex, path)
    assert(SeenIndex.read(spark, sigIndex, path).count() == 9)
    val gateBefore = Dedup.dropSeenHamming(
      Seq((1L, 5L), (2L, 1024L)).toDF("id", "sig"), SeenIndex.read(spark, sigIndex, path), "sig",
      maxHamming = 0).collect().map(_.getLong(0)).toSet
    SeenIndex.compact(spark, sigIndex, path)
    // physically one row per distinct signature now
    assert(SeenIndex.read(spark, sigIndex, path).count() == 5)
    assert(SeenIndex.read(spark, sigIndex, path).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    val gateAfter = Dedup.dropSeenHamming(
      Seq((1L, 5L), (2L, 1024L)).toDF("id", "sig"), SeenIndex.read(spark, sigIndex, path), "sig",
      maxHamming = 0).collect().map(_.getLong(0)).toSet
    assert(gateBefore == gateAfter && gateAfter == Set(2L))
    // compacting a missing index is a no-op, not an error
    SeenIndex.compact(spark, sigIndex, tmpDir() + "/never-written")
  }

  test("compactVectors collapses duplicate (id, vec) rows, keeps the latest epoch, untagged dominates, decisions unchanged") {
    import sqlImplicits._
    val path = tmpDir()
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    val e1 = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val e2 = Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)
    // the same (id, vec) lands at epochs 3 and 7, plus an untagged copy
    // of a second vector and a tagged duplicate of it
    SeenIndex.append(Seq((1L, e1)).toDF("id", "vec"), vecIndex, path, Some(3L))
    SeenIndex.append(Seq((1L, e1)).toDF("id", "vec"), vecIndex, path, Some(7L))
    SeenIndex.append(Seq((2L, e2)).toDF("id", "vec"), vecIndex, path)
    SeenIndex.append(Seq((2L, e2)).toDF("id", "vec"), vecIndex, path, Some(5L))
    assert(SeenIndex.read(spark, vecIndex, path).count() == 4)
    def gate(id: Long, v: Seq[Float], epoch: Long, minEpoch: Long): Set[Long] = CacheScope.run(spark) {
      val r = SeenIndex.gateAndUpdate(
        Seq((id, v)).toDF("vec_id", "embedding"),
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes, broadcastVerify = true),
        path, Some(Window(epoch, minEpoch)))
      r.collect().map(_.getLong(0)).toSet
    }
    SeenIndex.compact(spark, vecIndex, path)
    // physically one row per distinct (id, vec) now
    assert(SeenIndex.read(spark, vecIndex, path).count() == 2)
    // e1 kept its LATEST epoch (7): live in a window from 6, expired from 8
    assert(gate(10L, e1, epoch = 9, minEpoch = 6).isEmpty)
    assert(gate(11L, e1, epoch = 20, minEpoch = 15) == Set(11L))
    // e2's untagged sighting dominates its epoch-5 tag: never expires
    assert(gate(12L, e2, epoch = 1000, minEpoch = 999).isEmpty)
    // compacting a missing vector index is a no-op, not an error
    SeenIndex.compact(spark, vecIndex, tmpDir() + "/never-written")
  }

  test("mid-compaction crash states: reads fail loud with a recovery hint, recover() restores, true bootstrap still reads empty") {
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    val path = tmpDir() + "/idx"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    SeenIndex.append(Seq(1L, 2L, 3L).toDF("sig"), sigIndex, path)
    // crash state A: after rename(p, bak), before rename(tmp, p) —
    // the main dir is missing, the backup holds the full copy
    assert(fs.rename(new Path(path), new Path(path + ".compact-old")))
    val exA = intercept[IllegalStateException] { SeenIndex.read(spark, sigIndex, path) }
    assert(exA.getMessage.contains("recover"), exA.getMessage)
    intercept[IllegalStateException] { SeenIndex.read(spark, sigIndex, path, minEpoch = Some(0L)) }
    intercept[IllegalStateException] { SeenIndex.compact(spark, sigIndex, path) }
    SeenIndex.recover(spark, path)
    assert(SeenIndex.read(spark, sigIndex, path).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(!fs.exists(new Path(path + ".compact-old")))
    // crash state B: backup already consumed, only the (complete)
    // compacted temp remains — recover() installs it
    assert(fs.rename(new Path(path), new Path(path + ".compact-tmp")))
    intercept[IllegalStateException] { SeenIndex.read(spark, sigIndex, path) }
    SeenIndex.recover(spark, path)
    assert(SeenIndex.read(spark, sigIndex, path).count() == 3)
    // crash state C: swap finished, stale backup remains — reads are
    // fine (main exists) and recover() just sweeps the leftovers
    fs.mkdirs(new Path(path + ".compact-old"))
    assert(SeenIndex.read(spark, sigIndex, path).count() == 3)
    SeenIndex.recover(spark, path)
    assert(!fs.exists(new Path(path + ".compact-old")))
    // vector index: same detection
    val vpath = tmpDir() + "/vidx"
    SeenIndex.append(Seq((1L, Seq(1f, 0f))).toDF("id", "vec"), vecIndex, vpath)
    val vfs = new Path(vpath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(vfs.rename(new Path(vpath), new Path(vpath + ".compact-old")))
    intercept[IllegalStateException] { SeenIndex.read(spark, vecIndex, vpath) }
    intercept[IllegalStateException] { SeenIndex.read(spark, vecIndex, vpath, minEpoch = Some(0L)) }
    SeenIndex.recover(spark, vpath)
    assert(SeenIndex.read(spark, vecIndex, vpath).count() == 1)
    // a never-written path with no leftovers is still a clean bootstrap
    assert(SeenIndex.read(spark, sigIndex, tmpDir() + "/never").count() == 0)
    // recover on a healthy or missing index is a no-op
    SeenIndex.recover(spark, tmpDir() + "/never")
  }

  test("gates refuse a radius the 4-band pigeonhole cannot honor") {
    import sqlImplicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val sigs = Seq((1L, 7L)).toDF("media_id", "ahash")
    intercept[IllegalArgumentException] {
      SeenIndex.gateAndUpdate(df, Simhash("text", maxHamming = 4), tmpDir())
    }
    intercept[IllegalArgumentException] {
      SeenIndex.gateAndUpdate(df, Simhash("text", maxHamming = 5), tmpDir(), Some(Window(1L, 0L)))
    }
    intercept[IllegalArgumentException] {
      SeenIndex.gateAndUpdate(sigs, Hamming("ahash", maxHamming = 4), tmpDir())
    }
    intercept[IllegalArgumentException] {
      SeenIndex.gateAndUpdate(sigs, Hamming("ahash", maxHamming = 4), tmpDir(), Some(Window(1L, 0L)))
    }
    intercept[IllegalArgumentException] {
      SeenIndex.gateAndUpdate(df, Simhash("text", maxHamming = -1), tmpDir())
    }
  }

  test("exactly-once ingest: a kill at EVERY crash point replays to identical output — no duplicates, no dropped batch") {
    import sqlImplicits._
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val novel = (500 to 560).map(i => s"z$i").mkString(" ")
    def outRows(): Seq[(Long, Long)] =
      spark.read.parquet(out).select("doc_id", "epoch")
        .collect().map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue)).toSeq
    def run(batch: org.apache.spark.sql.DataFrame, key: String,
            killAt: String = ""): Unit = {
      val cp: String => Unit =
        s => if (s == killAt) throw new RuntimeException(s"killed at $s")
      SeenIndex.exactlyOnceEpoch(batch, Simhash("text", 3), key, idx, out, crashpoint = cp)
    }
    val b0 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    // batch k0 (allocated epoch 1): kill after the epoch allocation, replay
    intercept[RuntimeException] { run(b0, "k0", killAt = "allocated") }
    // kill after the output write but BEFORE the index append (the
    // at-least-once loop would duplicate the batch here), replay
    intercept[RuntimeException] { run(b0, "k0", killAt = "output") }
    run(b0, "k0")
    assert(outRows().sorted == Seq((1L, 1L), (2L, 1L)))
    // batch k1 (epoch 2): 10 duplicates k0's content (gated), 11 is
    // novel. Kill AFTER the index append but before the commit marker
    // — the case where a naive replay would gate the batch against
    // its own appended signatures and overwrite the output with EMPTY.
    val b1 = Seq((10L, base), (11L, novel)).toDF("doc_id", "text")
    intercept[RuntimeException] { run(b1, "k1", killAt = "appended") }
    run(b1, "k1")
    assert(outRows().sorted == Seq((1L, 1L), (2L, 1L), (11L, 2L)))
    // a replay AFTER the commit marker is a pure no-op
    run(b1, "k1")
    run(b0, "k0")
    assert(outRows().sorted == Seq((1L, 1L), (2L, 1L), (11L, 2L)))
    // decisions equal the stateless gate against all previously admitted docs
    val statelessKept = Dedup.dropSeenSimhash(
      b1, Seq((1L, base), (2L, other)).toDF("doc_id", "text"), "text")
      .collect().map(_.getLong(0)).toSet
    assert(statelessKept == Set(11L))
    // batch k2 gates against both prior epochs' admissions
    val b2 = Seq((20L, novel), (21L, other)).toDF("doc_id", "text")
    run(b2, "k2")
    assert(outRows().sorted == Seq((1L, 1L), (2L, 1L), (11L, 2L)))
  }

  test("exactly-once Hamming ingest: append-then-crash replay keeps the batch; output rows land once") {
    import sqlImplicits._
    val idx = tmpDir() + "/hidx"; val out = tmpDir() + "/hout"
    val s0 = 0x0123456789abcdefL
    val far = s0 ^ 0x00000000ffffffffL // hamming 32 from s0 AND from ~s0
    def outRows(): Seq[(Long, Long)] =
      spark.read.parquet(out).select("media_id", "epoch")
        .collect().map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue)).toSeq
    def run(batch: org.apache.spark.sql.DataFrame, key: String, killAt: String = ""): Unit =
      SeenIndex.exactlyOnceEpoch(batch, Hamming("ahash", 3), key, idx, out,
        crashpoint = s => if (s == killAt) throw new RuntimeException(s"killed at $s"))
    val b0 = Seq((1L, s0), (2L, ~s0)).toDF("media_id", "ahash")
    intercept[RuntimeException] { run(b0, "k0", killAt = "output") }
    run(b0, "k0")
    assert(outRows().sorted == Seq((1L, 1L), (2L, 1L)))
    // batch k1: 10 is near s0 (gated), 11 is far (kept); the crash
    // lands AFTER the index append — the naive replay would gate 11
    // against its own signature and overwrite the output with empty
    val b1 = Seq((10L, s0 ^ 3L), (11L, far)).toDF("media_id", "ahash")
    intercept[RuntimeException] { run(b1, "k1", killAt = "appended") }
    run(b1, "k1")
    run(b1, "k1") // committed: pure no-op
    assert(outRows().sorted == Seq((1L, 1L), (2L, 1L), (11L, 2L)))
  }

  test("exactly-once embedding ingest: append-then-crash replay keeps the batch; output rows land once") {
    import sqlImplicits._
    val idx = tmpDir() + "/eidx"; val out = tmpDir() + "/eout"
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    val e1 = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val novel = Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f)
    def outRows(): Seq[(Long, Long)] =
      spark.read.parquet(out).select("vec_id", "epoch")
        .collect().map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue)).toSeq
    def run(batch: org.apache.spark.sql.DataFrame, key: String, killAt: String = ""): Unit =
      SeenIndex.exactlyOnceEpoch(batch,
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes, broadcastVerify = true),
        key, idx, out,
        crashpoint = s => if (s == killAt) throw new RuntimeException(s"killed at $s"))
    val b0 = Seq((1L, e1)).toDF("vec_id", "embedding")
    intercept[RuntimeException] { run(b0, "k0", killAt = "output") }
    run(b0, "k0")
    assert(outRows() == Seq((1L, 1L)))
    val b1 = Seq((10L, e1), (11L, novel)).toDF("vec_id", "embedding")
    intercept[RuntimeException] { run(b1, "k1", killAt = "appended") }
    run(b1, "k1")
    run(b1, "k1") // committed: pure no-op
    assert(outRows().sorted == Seq((1L, 1L), (11L, 2L)))
  }

  test("compactLedger prunes committed marker pairs behind a watermark; allocations never reuse a pruned epoch") {
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def doc(i: Int) = (i.toLong, (i * 100 to i * 100 + 60).map(j => s"t$j").mkString(" "))
    def run(i: Int, killAt: String = ""): Unit =
      SeenIndex.exactlyOnceEpoch(
        Seq(doc(i)).toDF("doc_id", "text"), Simhash("text", 3), s"k$i", idx, out,
        crashpoint = s => if (s == killAt) throw new RuntimeException("kill"))
    (0 to 4).foreach(i => run(i)) // epochs 1..5, all committed
    intercept[RuntimeException] { run(5, killAt = "gated") } // epoch 6 allocated, never committed
    def names() = fs.listStatus(new Path(idx + ".epochs")).map(_.getPath.getName).toSet
    assert(names().count(_.startsWith("alloc-")) == 6)
    SeenIndex.compactLedger(spark, idx, keepLast = 2)
    // epochs 1-3 pruned behind watermark-3; 4, 5 kept; the uncommitted
    // alloc-6 kept regardless (its checkpoint may resume)
    val after = names()
    assert(after.contains("watermark-3"), after.toString)
    assert(after.count(_.startsWith("alloc-")) == 3, after.toString) // epochs 4, 5, 6
    assert(after.count(_.startsWith("committed-")) == 2, after.toString)
    // a replay of a KEPT committed batch is still a pure no-op
    val before = spark.read.parquet(out).count()
    run(4)
    assert(spark.read.parquet(out).count() == before)
    // the next batch allocates ABOVE everything ever issued (7), and
    // still gates against the full index history (pruning touches
    // markers, never signatures)
    run(6)
    val rows = spark.read.parquet(out).select("doc_id", "epoch")
      .collect().map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue)).toMap
    assert(rows(6L) == 7L, rows.toString)
    run(7) // doc 7 is novel -> admitted at epoch 8
    assert(spark.read.parquet(out).count() == before + 2)
    // re-compacting with nothing old enough to prune is a no-op
    SeenIndex.compactLedger(spark, idx, keepLast = 100)
    assert(names().contains("watermark-3"))
    // compacting a never-written ledger is a no-op, not an error
    SeenIndex.compactLedger(spark, tmpDir() + "/never")
  }

  test("exactly-once protocol fuzz: seeded random kill schedules never duplicate or drop a row") {
    import sqlImplicits._
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val rnd = new scala.util.Random(42)
    val stages = Vector("allocated", "gated", "output", "appended")
    def text(i: Int) = (i * 1000 to i * 1000 + 60).map(j => s"w$j").mkString(" ")
    var nextDoc = 0L
    var nextText = 0
    val seenTexts = scala.collection.mutable.ArrayBuffer[Int]() // admitted text ids
    val expected = scala.collection.mutable.Map[Long, Int]()    // doc_id -> text id
    // 10 batches of 2 rows; each row is novel (60%) or an exact copy
    // of a previously ADMITTED text (40%, gated). Before the final
    // successful attempt each batch suffers 0-2 kills at random stages.
    (0 until 10).foreach { _ =>
      val pool = seenTexts.toVector // admitted texts BEFORE this batch (the gate is history-only)
      val rows = (0 until 2).map { _ =>
        val t =
          if (pool.nonEmpty && rnd.nextDouble() < 0.4) pool(rnd.nextInt(pool.length))
          else { nextText += 1; nextText }
        val id = nextDoc; nextDoc += 1
        (id, t)
      }
      rows.foreach { case (id, t) => if (!pool.contains(t)) expected(id) = t }
      rows.foreach { case (_, t) => if (!seenTexts.contains(t)) seenTexts += t }
      val batch = rows.map { case (id, t) => (id, text(t)) }.toDF("doc_id", "text")
      val key = s"k$nextDoc"
      (0 until rnd.nextInt(3)).foreach { _ =>
        val killAt = stages(rnd.nextInt(stages.length))
        intercept[RuntimeException] {
          SeenIndex.exactlyOnceEpoch(batch, Simhash("text", 3), key, idx, out,
            crashpoint = s => if (s == killAt) throw new RuntimeException(s"killed at $s"))
        }
      }
      SeenIndex.exactlyOnceEpoch(batch, Simhash("text", 3), key, idx, out)
    }
    val got = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got.length == got.distinct.length, s"duplicated rows: $got")
    assert(got.toSet == expected.keySet, s"got=${got.sorted.toList} want=${expected.keys.toList.sorted}")
  }

  test("exactly-once streaming loop: end-to-end with partition-column output and restart-resume") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val novel = (500 to 560).map(i => s"z$i").mkString(" ")
    def admitted(): Set[Long] =
      spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, String)]
    val q = SeenIndex.gateStreamSimhashExactlyOnce(
      input.toDF().toDF("doc_id", "text"), "text", idx, out, tmpDir())
    input.addData((1L, base), (2L, novel)); q.processAllAvailable()
    assert(admitted() == Set(1L, 2L))
    input.addData((10L, base)); q.processAllAvailable()
    assert(admitted() == Set(1L, 2L))
    q.stop()
    // a new query (fresh checkpoint => fresh batch keys) resumes from
    // the same index: history still gates, distinct epochs allocated
    val input2 = MemoryStream[(Long, String)]
    val q2 = SeenIndex.gateStreamSimhashExactlyOnce(
      input2.toDF().toDF("doc_id", "text"), "text", idx, out, tmpDir())
    input2.addData((20L, novel)); q2.processAllAvailable()
    q2.stop()
    assert(admitted() == Set(1L, 2L))
  }

  test("streaming Hamming ingest loop: micro-batches gate against the growing sig index, restart resumes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmpDir(); val out = tmpDir()
    val s0 = 0x0123456789abcdefL
    def admitted(): Set[Long] =
      spark.read.schema("media_id LONG, ahash LONG").parquet(out)
        .collect().map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, Long)]
    val q = SeenIndex.gateStream(
      input.toDF().toDF("media_id", "ahash"), Hamming("ahash"), idx, out, tmpDir())
    input.addData((1L, s0)); q.processAllAvailable()
    assert(admitted() == Set(1L))
    // near (hamming 2) gated by batch 1's admission; far admitted
    input.addData((2L, s0 ^ 3L), (3L, ~s0)); q.processAllAvailable()
    assert(admitted() == Set(1L, 3L))
    q.stop()
    val input2 = MemoryStream[(Long, Long)]
    val q2 = SeenIndex.gateStream(
      input2.toDF().toDF("media_id", "ahash"), Hamming("ahash"), idx, out, tmpDir())
    input2.addData((10L, s0), (11L, ~s0 ^ 1L)); q2.processAllAvailable()
    q2.stop()
    assert(admitted() == Set(1L, 3L))
    assert(SeenIndex.read(spark, sigIndex, idx).distinct().count() == 2)
  }

  test("streaming embedding ingest loop: micro-batches gate against the growing vector index, restart resumes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmpDir(); val out = tmpDir()
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    val e1 = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val novel = Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f)
    def admitted(): Set[Long] =
      spark.read.schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(out)
        .collect().map(_.getLong(0)).toSet
    def loop(in: MemoryStream[(Long, Seq[Float])]) =
      SeenIndex.gateStream(
        in.toDF().toDF("vec_id", "embedding"),
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes, broadcastVerify = true),
        idx, out, tmpDir())
    val input = MemoryStream[(Long, Seq[Float])]
    val q = loop(input)
    input.addData((1L, e1)); q.processAllAvailable()
    assert(admitted() == Set(1L))
    // an exact copy gates against batch 1's admission; the orthogonal passes
    input.addData((2L, e1), (3L, novel)); q.processAllAvailable()
    assert(admitted() == Set(1L, 3L))
    q.stop()
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = loop(input2)
    input2.addData((10L, e1), (11L, novel)); q2.processAllAvailable()
    q2.stop()
    assert(admitted() == Set(1L, 3L))
    assert(SeenIndex.read(spark, vecIndex, idx).select("id").distinct().count() == 2)
  }

  test("stats: rows vs distinct, epoch range, file/ledger counts; a broken index reports instead of throwing") {
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    val idx = tmpDir() + "/idx"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // never-written: all zeros, no throw
    val empty = SeenIndex.stats(spark, idx)
    assert(empty == SeenIndex.IndexStats(0, 0, 0, None, None, 0, 0, 0, 0, None, false))
    val sigs = Seq(1L, 2L, 3L).toDF("sig")
    SeenIndex.append(sigs, sigIndex, idx, Some(1L))
    SeenIndex.append(sigs, sigIndex, idx, Some(2L))   // full overlap: 3 reclaimable rows
    SeenIndex.append(Seq(9L).toDF("sig"), sigIndex, idx)
    val s = SeenIndex.stats(spark, idx)
    assert(s.rows == 7 && s.distinct == 4 && s.untagged == 1, s.toString)
    assert(s.minEpoch.contains(1L) && s.maxEpoch.contains(2L))
    assert(s.dataFiles >= 3 && s.dataBytes > 0)
    assert(s.ledgerAllocs == 0 && s.ledgerCommitted == 0 && s.ledgerWatermark.isEmpty)
    // after compact the reclaimable gap closes: one row per sig
    SeenIndex.compact(spark, sigIndex, idx)
    val c = SeenIndex.stats(spark, idx)
    assert(c.rows == 4 && c.distinct == 4 && c.untagged == 1, c.toString)
    // mid-compaction crash state: stats REPORTS it (the gates throw)
    fs.rename(new Path(idx), new Path(idx + ".compact-old"))
    val broken = SeenIndex.stats(spark, idx)
    assert(broken.midCompaction && broken.rows == 0)
    SeenIndex.recover(spark, idx)
    assert(!SeenIndex.stats(spark, idx).midCompaction)
    assert(SeenIndex.stats(spark, idx).rows == 4)
    // the vector form: distinct = distinct (id, vec) pairs
    val vidx = tmpDir() + "/vidx"
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "vec")
    SeenIndex.append(vecs, vecIndex, vidx, Some(1L))
    SeenIndex.append(vecs, vecIndex, vidx, Some(2L))
    val v = SeenIndex.stats(spark, vidx)
    assert(v.rows == 4 && v.distinct == 2 && v.untagged == 0, v.toString)
    assert(v.minEpoch.contains(1L) && v.maxEpoch.contains(2L))
  }

  test("compactLedger sweeps the orphaned committed marker a crashed prune leaves behind") {
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def doc(i: Int) = (i.toLong, (i * 100 to i * 100 + 60).map(j => s"o$j").mkString(" "))
    (0 to 3).foreach { i =>
      SeenIndex.exactlyOnceEpoch(Seq(doc(i)).toDF("doc_id", "text"), Simhash("text", 3),
        s"k$i", idx, out)
    }
    // simulate a prune crash between its two deletes: alloc gone,
    // committed still present (deletion order is alloc first)
    val ep = new Path(idx + ".epochs")
    assert(fs.delete(new Path(ep, "alloc-k0-1"), false))
    SeenIndex.compactLedger(spark, idx, keepLast = 100) // nothing prunable...
    val names = fs.listStatus(ep).map(_.getPath.getName).toSet
    assert(!names.contains("committed-k0"), names.toString) // ...but the orphan is swept
    assert(names.count(_.startsWith("alloc-")) == 3)
    assert(names.count(_.startsWith("committed-")) == 3)
  }

  test("exactly-once loop with ledgerKeepLast keeps the marker directory bounded across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def text(i: Int) = (i * 100 to i * 100 + 60).map(j => s"b$j").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = SeenIndex.gateStreamSimhashExactlyOnce(
      input.toDF().toDF("doc_id", "text"), "text", idx, out, tmpDir(),
      maxHamming = 3, ledgerKeepLast = 1)
    (0 until 5).foreach { i =>
      input.addData((i.toLong, text(i)), (100L + i, text(0))) // one novel, one dup of batch 0
      q.processAllAvailable()
    }
    q.stop()
    // exactly-once decisions unaffected by the in-loop pruning: the 5
    // novel texts admitted once each, every copy of text(0) after
    // batch 0 gated (doc 100 rode batch 0 itself, so it was novel then)
    val got = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L, 2L, 3L, 4L, 100L), got.toString)
    // ledger stays O(keepLast): last committed pair + watermark, not 2 files/batch
    val names = fs.listStatus(new Path(idx + ".epochs")).map(_.getPath.getName)
    assert(names.count(_.startsWith("alloc-")) <= 1, names.mkString(","))
    assert(names.count(_.startsWith("committed-")) <= 1, names.mkString(","))
    assert(names.count(_.startsWith("watermark-")) == 1, names.mkString(","))
    val s = SeenIndex.stats(spark, idx)
    assert(s.ledgerAllocs <= 1 && s.ledgerWatermark.exists(_ >= 4L), s.toString)
  }

  test("compact preserves the exactly-once ledger: committed batches stay no-ops, the next epoch allocates above") {
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def doc(i: Int) = (i.toLong, (i * 100 to i * 100 + 60).map(j => s"c$j").mkString(" "))
    def run(i: Int) = SeenIndex.exactlyOnceEpoch(
      Seq(doc(i)).toDF("doc_id", "text"), Simhash("text", 3), s"k$i", idx, out)
    (0 to 2).foreach(run) // epochs 1..3 committed
    SeenIndex.compact(spark, sigIndex, idx)
    // the ledger is a SIBLING of the index dir, so the compaction's
    // whole-directory swap cannot have touched it
    val names = fs.listStatus(new Path(idx + ".epochs")).map(_.getPath.getName).toSet
    assert(names.count(_.startsWith("committed-")) == 3, names.toString)
    // a replay of a committed batch is still a pure no-op
    val before = spark.read.parquet(out).count()
    run(1)
    assert(spark.read.parquet(out).count() == before)
    // the next batch allocates ABOVE the pre-compaction epochs — no
    // epoch reuse, so no output overwrite
    run(3)
    val epochs = spark.read.parquet(out).select("epoch")
      .collect().map(_.getAs[Number](0).longValue).toSet
    assert(epochs == Set(1L, 2L, 3L, 4L), epochs.toString)
  }

  test("exactly-once batch fails loud in a mid-compaction crash state instead of gating against an empty index") {
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val text = (1 to 60).map(i => s"m$i").mkString(" ")
    SeenIndex.exactlyOnceEpoch(
      Seq((1L, text)).toDF("doc_id", "text"), Simhash("text", 3), "k1", idx, out)
    // crash state: the swap's first rename happened, the second didn't
    assert(fs.rename(new Path(idx), new Path(idx + ".compact-old")))
    val e = intercept[IllegalStateException] {
      SeenIndex.exactlyOnceEpoch(
        Seq((2L, text)).toDF("doc_id", "text"), Simhash("text", 3), "k2", idx, out)
    }
    assert(e.getMessage.contains("recover"))
    // nothing recreated the index path (the ledger is a sibling), so
    // recover() still sees the crash state and restores the backup
    assert(!fs.exists(new Path(idx)))
    SeenIndex.recover(spark, idx)
    // after recovery the duplicate is gated against the restored history
    SeenIndex.exactlyOnceEpoch(
      Seq((2L, text)).toDF("doc_id", "text"), Simhash("text", 3), "k2", idx, out)
    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("dropLedger completes a full reset: without it stale committed markers silently drop replayed batches") {
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val text = (1 to 60).map(i => s"r$i").mkString(" ")
    SeenIndex.exactlyOnceEpoch(
      Seq((1L, text)).toDF("doc_id", "text"), Simhash("text", 3), "k1", idx, out)
    // a PARTIAL reset (index + output, ledger forgotten): the stale
    // committed marker makes the re-run a no-op — the batch is DROPPED
    fs.delete(new Path(idx), true); fs.delete(new Path(out), true)
    SeenIndex.exactlyOnceEpoch(
      Seq((1L, text)).toDF("doc_id", "text"), Simhash("text", 3), "k1", idx, out)
    assert(!fs.exists(new Path(out)), "stale committed marker must no-op (the documented hazard)")
    // the FULL reset adds dropLedger: the same batch now lands at epoch 1
    SeenIndex.dropLedger(spark, idx)
    fs.delete(new Path(idx), true)
    SeenIndex.exactlyOnceEpoch(
      Seq((1L, text)).toDF("doc_id", "text"), Simhash("text", 3), "k1", idx, out)
    assert(spark.read.parquet(out).select("doc_id", "epoch")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet == Set((1L, 1L)))
    // idempotent on a never-written ledger
    SeenIndex.dropLedger(spark, tmpDir() + "/never")
  }

  test("a trailing slash in the index path still places every sibling artifact NEXT TO the index") {
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    val idx = tmpDir() + "/idx"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = tmpDir() + "/out"
    val text = (1 to 60).map(i => s"s$i").mkString(" ")
    // ledger: created via the slashed path, must land as a sibling
    SeenIndex.exactlyOnceEpoch(
      Seq((1L, text)).toDF("doc_id", "text"), Simhash("text", 3), "k1", idx + "/", out)
    assert(fs.exists(new Path(idx + ".epochs")), "ledger must be a sibling, not a child")
    assert(!fs.exists(new Path(idx, ".epochs")))
    // compaction through the slashed path: the swap must not try to
    // rename the index into its own child
    SeenIndex.compact(spark, sigIndex, idx + "/")
    assert(SeenIndex.read(spark, sigIndex, idx).count() == 1)
    assert(!fs.exists(new Path(idx, ".compact-tmp")))
  }

  test("model-based property: random append/compact schedules preserve windowed visibility for every cutoff") {
    import sqlImplicits._
    // In-memory model of the index's VISIBILITY semantics: a sig is
    // visible at cutoff m iff it has any untagged row (never expires)
    // or any row tagged >= m. compact() must preserve visibility at
    // EVERY cutoff (untagged dominates, else latest epoch survives) —
    // the one invariant all gate/window behavior reduces to.
    val idx = tmpDir() + "/idx"
    val rnd = new scala.util.Random(7)
    var hasUntagged = Map.empty[Long, Boolean].withDefaultValue(false)
    var maxEpoch = Map.empty[Long, Long]
    def visibleModel(m: Long): Set[Long] =
      (hasUntagged.keySet ++ maxEpoch.keySet).filter(s =>
        hasUntagged(s) || maxEpoch.get(s).exists(_ >= m)).toSet
    def visibleIndex(m: Long): Set[Long] =
      SeenIndex.read(spark, sigIndex, idx, minEpoch = Some(m)).collect().map(_.getLong(0)).toSet
    (0 until 24).foreach { step =>
      val sigs = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(12).toLong).distinct
      rnd.nextInt(3) match {
        case 0 => // tagged append at a random epoch
          val e = 1L + rnd.nextInt(8)
          SeenIndex.append(sigs.toDF("sig"), sigIndex, idx, Some(e))
          sigs.foreach(s => maxEpoch += s -> math.max(e, maxEpoch.getOrElse(s, Long.MinValue)))
        case 1 => // untagged append: those sigs never expire
          SeenIndex.append(sigs.toDF("sig"), sigIndex, idx)
          sigs.foreach(s => hasUntagged += s -> true)
        case 2 =>
          SeenIndex.compact(spark, sigIndex, idx)
      }
      // check a random cutoff every step, all cutoffs after compaction
      val cutoffs = if (step % 6 == 5) 0L to 9L else Seq(rnd.nextInt(10).toLong)
      cutoffs.foreach { m =>
        assert(visibleIndex(m) == visibleModel(m),
          s"step=$step cutoff=$m: index=${visibleIndex(m)} model=${visibleModel(m)}")
      }
    }
    // terminal compact: full visibility parity at every cutoff, and
    // the physical index is minimal (one row per sig)
    SeenIndex.compact(spark, sigIndex, idx)
    (0L to 9L).foreach(m => assert(visibleIndex(m) == visibleModel(m)))
    assert(SeenIndex.read(spark, sigIndex, idx).count() == visibleModel(0L).size)
  }

  test("windowed exactly-once: kills at every crash point; re-admission happens exactly when every prior admission aged out; zero duplicate rows") {
    import sqlImplicits._
    val idx = tmpDir() + "/widx"; val out = tmpDir() + "/wout"
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val novel = (500 to 560).map(i => s"z$i").mkString(" ")
    def outRows(): Seq[(Long, Long)] =
      spark.read.parquet(out).select("doc_id", "epoch")
        .collect().map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue)).toSeq
    def run(batch: org.apache.spark.sql.DataFrame, key: String, at: Long, min: Long,
            killAt: String = ""): Unit =
      SeenIndex.exactlyOnceEpoch(batch, Simhash("text", 3), key, idx, out,
        window = Some((at, min)),
        crashpoint = s => if (s == killAt) throw new RuntimeException(s"killed at $s"))
    // batch w0 @ t=100 (epoch 1): bootstrap, with kills before + after the gate
    val b0 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    intercept[RuntimeException] { run(b0, "w0", 100L, 20L, killAt = "allocated") }
    intercept[RuntimeException] { run(b0, "w0", 100L, 20L, killAt = "output") }
    run(b0, "w0", 100L, 20L)
    assert(outRows().sorted == Seq((1L, 1L), (2L, 1L)))
    // batch w1 @ t=150, window from 70: base (admitted @100) is LIVE ->
    // gated; novel passes. The kill lands AFTER the index append — the
    // point where a naive replay gates the batch against itself.
    val b1 = Seq((10L, base), (11L, novel)).toDF("doc_id", "text")
    intercept[RuntimeException] { run(b1, "w1", 150L, 70L, killAt = "appended") }
    run(b1, "w1", 150L, 70L)
    assert(outRows().sorted == Seq((1L, 1L), (2L, 1L), (11L, 2L)))
    // batch w2 @ t=250, window from 170: EVERY prior admission (base and
    // other @100, novel @150) has aged out -> the full batch re-admits,
    // with a mid-gate kill first
    val b2 = Seq((20L, base), (21L, novel)).toDF("doc_id", "text")
    intercept[RuntimeException] { run(b2, "w2", 250L, 170L, killAt = "gated") }
    run(b2, "w2", 250L, 170L)
    assert(outRows().sorted == Seq((1L, 1L), (2L, 1L), (11L, 2L), (20L, 3L), (21L, 3L)))
    // batch w3 @ t=300, window from 220: base's RE-admission (@250)
    // reset its clock -> gated; other's only admission (@100) aged out
    // -> re-admitted. Expiry is measured from the LAST admission.
    val b3 = Seq((30L, base), (31L, other)).toDF("doc_id", "text")
    intercept[RuntimeException] { run(b3, "w3", 300L, 220L, killAt = "appended") }
    run(b3, "w3", 300L, 220L)
    val want = Seq((1L, 1L), (2L, 1L), (11L, 2L), (20L, 3L), (21L, 3L), (31L, 4L))
    assert(outRows().sorted == want)
    // replays of every committed batch across the whole schedule are
    // pure no-ops: zero duplicates, zero drops
    run(b0, "w0", 999L, 0L); run(b1, "w1", 999L, 0L)
    run(b2, "w2", 999L, 0L); run(b3, "w3", 999L, 0L)
    val finalRows = outRows()
    assert(finalRows.sorted == want)
    assert(finalRows.length == finalRows.distinct.length, s"duplicated rows: $finalRows")
  }

  test("windowed exactly-once streaming loop: fake clock drives expiry re-admission end to end; restart resumes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    var now = 1000L
    def admitted(): Set[Long] =
      spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, String)]
    val q = SeenIndex.gateStreamExactlyOnce(
      input.toDF().toDF("doc_id", "text"), Simhash("text"), idx, out, tmpDir(), windowAge = Some(100L), clock = () => now)
    input.addData((1L, base)); q.processAllAvailable()   // t=1000: bootstrap
    now = 1050L
    input.addData((2L, base)); q.processAllAvailable()   // in window -> gated
    assert(admitted() == Set(1L))
    now = 1200L
    input.addData((3L, base)); q.processAllAvailable()   // 1000 < 1100 -> re-admitted
    assert(admitted() == Set(1L, 3L))
    now = 1250L
    input.addData((4L, base)); q.processAllAvailable()   // clock reset @1200 -> gated
    assert(admitted() == Set(1L, 3L))
    q.stop()
    // a fresh query (new checkpoint => new batch keys) resumes from the
    // same windowed index: the @1200 admission still gates at t=1260
    val input2 = MemoryStream[(Long, String)]
    now = 1260L
    val q2 = SeenIndex.gateStreamExactlyOnce(
      input2.toDF().toDF("doc_id", "text"), Simhash("text"), idx, out, tmpDir(), windowAge = Some(100L), clock = () => now)
    input2.addData((5L, base)); q2.processAllAvailable()
    q2.stop()
    assert(admitted() == Set(1L, 3L))
  }

  test("windowed exactly-once Hamming and embedding forms: aged-out signatures re-admit, kills replay clean") {
    import sqlImplicits._
    // media form
    val hidx = tmpDir() + "/hidx"; val hout = tmpDir() + "/hout"
    val s0 = 0x0123456789abcdefL
    def runH(batch: org.apache.spark.sql.DataFrame, key: String, at: Long, min: Long,
             killAt: String = ""): Unit =
      SeenIndex.exactlyOnceEpoch(batch, Hamming("ahash", 3), key, hidx, hout,
        window = Some((at, min)),
        crashpoint = s => if (s == killAt) throw new RuntimeException("kill"))
    runH(Seq((1L, s0)).toDF("media_id", "ahash"), "h0", 100L, 0L)
    // near signature in-window -> gated (even across a replay)
    val b1 = Seq((2L, s0 ^ 3L)).toDF("media_id", "ahash")
    intercept[RuntimeException] { runH(b1, "h1", 150L, 70L, killAt = "appended") }
    runH(b1, "h1", 150L, 70L)
    // aged out -> re-admitted
    val b2 = Seq((3L, s0)).toDF("media_id", "ahash")
    intercept[RuntimeException] { runH(b2, "h2", 300L, 220L, killAt = "appended") }
    runH(b2, "h2", 300L, 220L)
    assert(spark.read.parquet(hout).select("media_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // embedding form
    val eidx = tmpDir() + "/eidx"; val eout = tmpDir() + "/eout"
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    val e1 = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    def runE(batch: org.apache.spark.sql.DataFrame, key: String, at: Long, min: Long,
             killAt: String = ""): Unit =
      SeenIndex.exactlyOnceEpoch(batch,
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes, broadcastVerify = true),
        key, eidx, eout,
        window = Some((at, min)),
        crashpoint = s => if (s == killAt) throw new RuntimeException("kill"))
    runE(Seq((1L, e1)).toDF("vec_id", "embedding"), "e0", 100L, 0L)
    val eb1 = Seq((2L, e1)).toDF("vec_id", "embedding")
    intercept[RuntimeException] { runE(eb1, "e1", 150L, 70L, killAt = "appended") }
    runE(eb1, "e1", 150L, 70L) // in window -> gated
    runE(Seq((3L, e1)).toDF("vec_id", "embedding"), "e2", 300L, 220L) // aged out -> re-admitted
    assert(spark.read.parquet(eout).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("compactWindowed keeps the (sig, epoch) exclusion grain, collapses replay duplicates, drops rows behind the horizon") {
    import sqlImplicits._
    val idx = tmpDir() + "/cwidx"
    def rows(): Set[(Long, Option[Long], Option[Long])] =
      spark.read.schema("sig LONG, epoch LONG, admitted LONG").parquet(idx)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    // sig 7 admitted at epoch 1 (t=100, a replay duplicated the row)
    // and RE-admitted at epoch 5 (t=300); sig 8 at epoch 2 (t=100);
    // sig 9 from the pre-composition API (untagged, unstamped)
    SeenIndex.append(Seq(7L).toDF("sig"), sigIndex, idx, Some(1L), Some(100L))
    SeenIndex.append(Seq(7L).toDF("sig"), sigIndex, idx, Some(1L), Some(100L))
    SeenIndex.append(Seq(7L).toDF("sig"), sigIndex, idx, Some(5L), Some(300L))
    SeenIndex.append(Seq(8L).toDF("sig"), sigIndex, idx, Some(2L), Some(100L))
    SeenIndex.append(Seq(9L).toDF("sig"), sigIndex, idx)
    SeenIndex.compact(spark, sigIndex, idx, windowed = true)
    // the (sig, epoch) grain survives — sig 7 keeps BOTH epochs (the
    // rows a replay's own-epoch exclusion distinguishes); the
    // same-epoch duplicate collapsed; untagged stays untagged
    assert(rows() == Set(
      (7L, Some(1L), Some(100L)), (7L, Some(5L), Some(300L)),
      (8L, Some(2L), Some(100L)), (9L, None, None)))
    // windowed visibility at every cutoff matches the uncompacted rules
    def visible(m: Long): Set[Long] =
      SeenIndex.read(spark, sigIndex, idx, minAdmitted = Some(m)).collect().map(_.getLong(0)).toSet
    assert(visible(0L) == Set(7L, 8L, 9L))
    assert(visible(200L) == Set(7L, 9L))
    assert(visible(400L) == Set(9L))
    // the expiry horizon deletes exactly the rows no future gate could
    // see; unstamped rows are never dropped
    SeenIndex.compact(spark, sigIndex, idx, windowed = true, dropAdmittedBefore = Some(200L))
    assert(rows() == Set((7L, Some(5L), Some(300L)), (9L, None, None)))
    assert(visible(200L) == Set(7L, 9L))
    // vector form: same grain + horizon rules
    val vidx = tmpDir() + "/cwvidx"
    val v = Seq((1L, Seq(1f, 0f))).toDF("id", "vec")
    SeenIndex.append(v, vecIndex, vidx, Some(1L), Some(100L))
    SeenIndex.append(v, vecIndex, vidx, Some(1L), Some(100L))
    SeenIndex.append(v, vecIndex, vidx, Some(4L), Some(300L))
    SeenIndex.compact(spark, vecIndex, vidx, windowed = true)
    assert(spark.read.schema("id LONG, vec ARRAY<FLOAT>, epoch LONG, admitted LONG")
      .parquet(vidx).count() == 2)
    SeenIndex.compact(spark, vecIndex, vidx, windowed = true, dropAdmittedBefore = Some(200L))
    assert(spark.read.schema("id LONG, vec ARRAY<FLOAT>, epoch LONG, admitted LONG")
      .parquet(vidx).select("epoch").collect().map(_.getLong(0)).toSeq == Seq(4L))
    // compacting a never-written index stays a no-op
    SeenIndex.compact(spark, sigIndex, tmpDir() + "/never", windowed = true)
  }

  test("windowed exactly-once fuzz: random kill schedules with an advancing clock never duplicate or drop an admission") {
    import sqlImplicits._
    val idx = tmpDir() + "/fidx"; val out = tmpDir() + "/fout"
    val rnd = new scala.util.Random(1717)
    val stages = Vector("allocated", "gated", "output", "appended")
    val windowAge = 100L
    def text(i: Int) = (i * 1000 to i * 1000 + 60).map(j => s"q$j").mkString(" ")
    var now = 1000L
    var nextDoc = 0L
    // model: text id -> admission stamp of its LAST admission
    val lastAdmitted = scala.collection.mutable.Map[Int, Long]()
    val expected = scala.collection.mutable.Set[Long]()
    (0 until 12).foreach { step =>
      now += 20L + rnd.nextInt(80) // monotone clock, sometimes jumping past the window
      val min = now - windowAge
      // each batch: one row, 50% a repeat of an earlier text
      val t = if (step > 0 && rnd.nextBoolean()) rnd.nextInt(step) else step
      val id = nextDoc; nextDoc += 1
      val willAdmit = !lastAdmitted.get(t).exists(_ >= min)
      if (willAdmit) { lastAdmitted(t) = now; expected += id }
      val batch = Seq((id, text(t))).toDF("doc_id", "text")
      val key = s"f$step"
      (0 until rnd.nextInt(3)).foreach { _ =>
        val killAt = stages(rnd.nextInt(stages.length))
        intercept[RuntimeException] {
          SeenIndex.exactlyOnceEpoch(batch, Simhash("text", 3), key, idx, out,
            window = Some((now, min)),
            crashpoint = s => if (s == killAt) throw new RuntimeException("kill"))
        }
      }
      SeenIndex.exactlyOnceEpoch(batch, Simhash("text", 3), key, idx, out,
        window = Some((now, min)))
    }
    val got = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got.length == got.distinct.length, s"duplicated rows: $got")
    assert(got.toSet == expected.toSet,
      s"got=${got.sorted.toList} want=${expected.toList.sorted}")
  }

  test("signed embedding gate: cached signatures yield identical admissions; the cache self-heals after unsigned appends and compaction") {
    import sqlImplicits._
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    def unit(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
    val zero = Seq.fill(dim)(0f)
    val pathU = tmpDir() + "/u"; val pathS = tmpDir() + "/s"
    def gateU(rows: Seq[(Long, Seq[Float])]): Set[Long] = CacheScope.run(spark) {
      val r = SeenIndex.gateAndUpdate(
        rows.toDF("vec_id", "embedding"),
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes, broadcastVerify = true),
        pathU)
      r.collect().map(_.getLong(0)).toSet
    }
    def gateS(rows: Seq[(Long, Seq[Float])]): Set[Long] = CacheScope.run(spark) {
      val r = SeenIndex.gateAndUpdate(
        rows.toDF("vec_id", "embedding"),
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
          broadcastVerify = true, signatures = Cached),
        pathS)
      r.collect().map(_.getLong(0)).toSet
    }
    // three epochs, degenerates included: every admission decision
    // must match the unsigned gate exactly
    val lifecycle = Seq(
      Seq((1L, unit(0)), (2L, unit(1)), (3L, zero)),
      Seq((10L, unit(0)), (11L, unit(3)), (12L, zero)),
      Seq((20L, unit(3)), (21L, zero)))
    lifecycle.foreach { b =>
      val (u, s) = (gateU(b), gateS(b))
      assert(u == s, s"signed/unsigned drift on batch ${b.map(_._1)}: unsigned=$u signed=$s")
    }
    // SELF-HEAL 1: an UNSIGNED append leaves the cache short; the next
    // signed gate must detect the count mismatch, rebuild, and gate
    // against the directly-appended vector
    SeenIndex.append(Seq((30L, unit(5))).toDF("id", "vec"), vecIndex, pathS)
    assert(gateS(Seq((31L, unit(5)))).isEmpty,
      "a vector appended outside the signed path must still gate after the rebuild")
    // SELF-HEAL 2: compaction rewrites the index (fewer rows); signed
    // decisions must survive the rebuild it triggers
    SeenIndex.compact(spark, vecIndex, pathS)
    assert(gateS(Seq((40L, unit(0)), (41L, unit(6)))) == Set(41L))
    // the maintenance view reports the cache sibling
    assert(SeenIndex.stats(spark, pathS).sigCaches == 1L)
    assert(SeenIndex.stats(spark, pathU).sigCaches == 0L)
    // the cache mirrors the compacted index rows exactly (count parity)
    val idxRows = spark.read.schema("id LONG, vec ARRAY<FLOAT>, epoch LONG, admitted LONG")
      .parquet(pathS).count()
    SeenIndex.ensureSigCache(spark, pathS, planes)
    val fs = new org.apache.hadoop.fs.Path(pathS)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sigDirs = fs.listStatus(new org.apache.hadoop.fs.Path(tmpPathParent(pathS)))
      .map(_.getPath.getName).filter(_.startsWith(new org.apache.hadoop.fs.Path(pathS).getName + ".sigs-"))
    assert(sigDirs.length == 1, sigDirs.mkString(","))
    val cacheRows = spark.read
      .schema("id LONG, vec ARRAY<FLOAT>, epoch LONG, admitted LONG, sig LONG, rsig LONG, rsig2 LONG")
      .parquet(tmpPathParent(pathS) + "/" + sigDirs.head).count()
    assert(cacheRows == idxRows, s"cache=$cacheRows index=$idxRows")
  }

  test("a direct append with a Cached family writes keys only: the next cached gate rebuilds and admits no historical duplicate") {
    import sqlImplicits._
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    def unit(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
    def emb(signatures: SeenIndex.Signatures) =
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = signatures)
    def gate(path: String, signatures: SeenIndex.Signatures, rows: Seq[(Long, Seq[Float])]): Set[Long] = CacheScope.run(spark) {
      val r = SeenIndex.gateAndUpdate(rows.toDF("vec_id", "embedding"), emb(signatures), path)
      r.collect().map(_.getLong(0)).toSet
    }
    def appendCached(path: String, rows: Seq[(Long, Seq[Float])]): Unit =
      SeenIndex.append(rows.toDF("vec_id", "embedding"), emb(Cached), path)
    // an index with parquet and NO cache (built by Live gates)
    val live = tmpDir() + "/live"
    assert(gate(live, SeenIndex.Live, Seq((1L, unit(0)), (2L, unit(1)))) == Set(1L, 2L))
    appendCached(live, Seq((3L, unit(2))))
    assert(gate(live, Cached, Seq((11L, unit(0)), (12L, unit(1)), (13L, unit(2)), (14L, unit(3)))) == Set(14L))
    // a STALE cache: a Live gate admits past it, then a Cached append
    val stale = tmpDir() + "/stale"
    assert(gate(stale, Cached, Seq((1L, unit(0)))) == Set(1L))
    assert(gate(stale, SeenIndex.Live, Seq((2L, unit(1)))) == Set(2L))
    appendCached(stale, Seq((3L, unit(2))))
    assert(gate(stale, Cached, Seq((11L, unit(0)), (12L, unit(1)), (13L, unit(2)), (14L, unit(3)))) == Set(14L))
  }

  test("signed exactly-once embedding ingest (plain + windowed): kills replay clean, a torn lockstep append heals, aged-out re-admits") {
    import sqlImplicits._
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    def unit(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
    val idx = tmpDir() + "/seidx"; val out = tmpDir() + "/seout"
    def run(batch: org.apache.spark.sql.DataFrame, key: String, killAt: String = ""): Unit =
      SeenIndex.exactlyOnceEpoch(batch,
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
          broadcastVerify = true, signatures = Cached),
        key, idx, out,
        crashpoint = s => if (s == killAt) throw new RuntimeException("kill"))
    run(Seq((1L, unit(0))).toDF("vec_id", "embedding"), "k0")
    val b1 = Seq((10L, unit(0)), (11L, unit(3))).toDF("vec_id", "embedding")
    intercept[RuntimeException] { run(b1, "k1", killAt = "appended") }
    run(b1, "k1")
    run(b1, "k1") // committed: no-op
    assert(spark.read.parquet(out).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 11L))
    // torn lockstep: an index-only append (no cache row) before the
    // next batch — ensureSigCache's fingerprint check must rebuild, and the
    // stray vector then gates the batch
    SeenIndex.append(Seq((50L, unit(5))).toDF("id", "vec"), vecIndex, idx, Some(99L))
    run(Seq((20L, unit(5))).toDF("vec_id", "embedding"), "k2")
    assert(spark.read.parquet(out).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 11L))
    // the WINDOWED signed composition: in-window gate, aged-out re-admit
    val widx = tmpDir() + "/wseidx"; val wout = tmpDir() + "/wseout"
    def runW(batch: org.apache.spark.sql.DataFrame, key: String, at: Long, min: Long,
             killAt: String = ""): Unit =
      SeenIndex.exactlyOnceEpoch(batch,
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
          broadcastVerify = true, signatures = Cached),
        key, widx, wout,
        window = Some((at, min)),
        crashpoint = s => if (s == killAt) throw new RuntimeException("kill"))
    runW(Seq((1L, unit(0))).toDF("vec_id", "embedding"), "w0", 100L, 0L)
    val wb1 = Seq((2L, unit(0))).toDF("vec_id", "embedding")
    intercept[RuntimeException] { runW(wb1, "w1", 150L, 70L, killAt = "output") }
    runW(wb1, "w1", 150L, 70L) // in window -> gated
    runW(Seq((3L, unit(0))).toDF("vec_id", "embedding"), "w2", 300L, 220L) // aged out -> re-admitted
    assert(spark.read.parquet(wout).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  private def tmpPathParent(path: String): String =
    new org.apache.hadoop.fs.Path(path).getParent.toString

  test("signed streaming loops: micro-batches gate against the growing signed index; windowed form expires on the fake clock") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    def unit(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
    // at-least-once signed loop with restart-resume
    val idx = tmpDir() + "/ssidx"; val out = tmpDir() + "/ssout"
    def admitted(): Set[Long] =
      spark.read.schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(out)
        .collect().map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, Seq[Float])]
    val q = SeenIndex.gateStream(
      input.toDF().toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = Cached),
      idx, out, tmpDir())
    input.addData((1L, unit(0))); q.processAllAvailable()
    input.addData((2L, unit(0)), (3L, unit(3))); q.processAllAvailable() // 2 gated, 3 novel
    q.stop()
    assert(admitted() == Set(1L, 3L))
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = SeenIndex.gateStream(
      input2.toDF().toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = Cached),
      idx, out, tmpDir())
    input2.addData((10L, unit(0)), (11L, unit(3))); q2.processAllAvailable()
    q2.stop()
    assert(admitted() == Set(1L, 3L), "a restarted signed query must resume from the index")
    // windowed exactly-once signed loop: fake clock drives expiry
    val widx = tmpDir() + "/wssidx"; val wout = tmpDir() + "/wssout"
    var now = 1000L
    def wAdmitted(): Set[Long] =
      spark.read.parquet(wout).select("vec_id").collect().map(_.getLong(0)).toSet
    val input3 = MemoryStream[(Long, Seq[Float])]
    val q3 = SeenIndex.gateStreamExactlyOnce(
      input3.toDF().toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = Cached),
      widx, wout, tmpDir(), windowAge = Some(100L),
      clock = () => now)
    input3.addData((1L, unit(0))); q3.processAllAvailable()       // t=1000 bootstrap
    now = 1050L
    input3.addData((2L, unit(0))); q3.processAllAvailable()       // in window -> gated
    assert(wAdmitted() == Set(1L))
    now = 1200L
    input3.addData((3L, unit(0))); q3.processAllAvailable()       // aged out -> re-admitted
    now = 1250L
    input3.addData((4L, unit(0))); q3.processAllAvailable()       // clock reset @1200 -> gated
    q3.stop()
    assert(wAdmitted() == Set(1L, 3L))
  }

  test("model-based property: random stamped-append/compactWindowed schedules preserve admitted-axis visibility at every cutoff") {
    import sqlImplicits._
    // The admitted-axis mirror of the epoch-axis model test: a sig is
    // visible at cutoff m iff it has any UNSTAMPED row (never expires)
    // or any row stamped >= m. compactWindowed (with and without an
    // expiry horizon no later than the probing cutoffs) must preserve
    // that visibility — the invariant the windowed-exactly-once gates
    // reduce to.
    val idx = tmpDir() + "/widx"
    val rnd = new scala.util.Random(23)
    var hasUnstamped = Map.empty[Long, Boolean].withDefaultValue(false)
    var maxStamp = Map.empty[Long, Long]
    var nextEpoch = 0L
    def visibleModel(m: Long): Set[Long] =
      (hasUnstamped.keySet ++ maxStamp.keySet).filter(s =>
        hasUnstamped(s) || maxStamp.get(s).exists(_ >= m)).toSet
    def visibleIndex(m: Long): Set[Long] =
      SeenIndex.read(spark, sigIndex, idx, minAdmitted = Some(m)).collect().map(_.getLong(0)).toSet
    (0 until 24).foreach { step =>
      val sigs = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(12).toLong).distinct
      rnd.nextInt(4) match {
        case 0 | 1 => // stamped append at a fresh epoch, random stamp 1..8
          nextEpoch += 1
          val t = 1L + rnd.nextInt(8)
          SeenIndex.append(sigs.toDF("sig"), sigIndex, idx, Some(nextEpoch), Some(t))
          sigs.foreach(s => maxStamp += s -> math.max(t, maxStamp.getOrElse(s, Long.MinValue)))
        case 2 => // unstamped append: those sigs never expire
          SeenIndex.append(sigs.toDF("sig"), sigIndex, idx)
          sigs.foreach(s => hasUnstamped += s -> true)
        case 3 =>
          // any horizon: visibility depends only on the MAX stamp per
          // sig, and the max survives every horizon <= itself — when
          // the horizon exceeds it, ALL the sig's stamped rows drop
          // and the model entry goes with them (the sub-horizon
          // visibility change the scaladoc warns gates about is
          // exactly what both sides mirror here)
          val horizon = if (rnd.nextBoolean()) Some(rnd.nextInt(10).toLong) else None
          SeenIndex.compact(spark, sigIndex, idx, windowed = true, dropAdmittedBefore = horizon)
          horizon.foreach { h =>
            maxStamp = maxStamp.filter { case (_, t) => t >= h }
          }
      }
      val cutoffs = if (step % 6 == 5) 1L to 9L else Seq(1L + rnd.nextInt(9).toLong)
      cutoffs.foreach { m =>
        assert(visibleIndex(m) == visibleModel(m),
          s"step=$step cutoff=$m: index=${visibleIndex(m)} model=${visibleModel(m)}")
      }
    }
    // terminal compact with a mid-range horizon: parity holds at
    // every cutoff after the drop on both sides
    SeenIndex.compact(spark, sigIndex, idx, windowed = true, dropAdmittedBefore = Some(5L))
    maxStamp = maxStamp.filter { case (_, t) => t >= 5L }
    (1L to 9L).foreach(m => assert(visibleIndex(m) == visibleModel(m)))
  }

  test("sig-cache staleness survives the equal-count trap: compact collapsing a duplicate + one unsigned append still rebuilds") {
    import sqlImplicits._
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    def unit(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
    val path = tmpDir() + "/eqidx"
    // seed a DUPLICATE (1, v0) row pair directly, then let the signed
    // gate build a cache mirroring the 3-row index (v0, v0, v1)
    SeenIndex.append(Seq((1L, unit(0))).toDF("id", "vec"), vecIndex, path)
    SeenIndex.append(Seq((1L, unit(0))).toDF("id", "vec"), vecIndex, path)
    val g1 = SeenIndex.gateAndUpdate(
      Seq((2L, unit(1))).toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = Cached),
      path)
    assert(g1.collect().map(_.getLong(0)).toSet == Set(2L))
    // compaction collapses the duplicate (3 -> 2 rows), then ONE
    // unsigned append restores the row count to 3: a cache validated
    // by row-count parity alone would see 3 == 3 and trust content
    // that has never seen v5 (the r17 ADVICE hole) — the file-set
    // fingerprint names the exact index state, so the gate rebuilds
    SeenIndex.compact(spark, vecIndex, path)
    SeenIndex.append(Seq((9L, unit(5))).toDF("id", "vec"), vecIndex, path)
    val g2 = SeenIndex.gateAndUpdate(
      Seq((10L, unit(5))).toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = Cached),
      path)
    assert(g2.isEmpty,
      "a vector appended after an equal-count compact+append sequence must still gate")
  }

  test("compaction carries the signature cache in lockstep: the next signed gate finds it SYNCED (no silent rebuild)") {
    import sqlImplicits._
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    def unit(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
    val path = tmpDir() + "/carryidx"
    def gateS(rows: Seq[(Long, Seq[Float])]): Set[Long] = CacheScope.run(spark) {
      val r = SeenIndex.gateAndUpdate(
        rows.toDF("vec_id", "embedding"),
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
          broadcastVerify = true, signatures = Cached),
        path)
      r.collect().map(_.getLong(0)).toSet
    }
    assert(gateS(Seq((1L, unit(0)), (2L, unit(1)))) == Set(1L, 2L))
    assert(gateS(Seq((3L, unit(2)))) == Set(3L))
    SeenIndex.compact(spark, vecIndex, path)
    // synced == ensureSigCache will return without a rebuild: the
    // carry paid the compaction cost once, inside compactVectors
    val infos = SeenIndex.listSigCaches(spark, path)
    assert(infos.length == 1 && infos.head.synced,
      s"cache not carried through compaction: $infos")
    assert(gateS(Seq((4L, unit(0)), (5L, unit(5)))) == Set(5L))
    // the WINDOWED twin: two admitted epochs, compactVectorsWindowed
    // with an expiry horizon, cache still synced and gating correctly
    val widx = tmpDir() + "/carrywidx"; val wout = tmpDir() + "/carrywout"
    def runW(rows: Seq[(Long, Seq[Float])], key: String, at: Long, min: Long): Unit =
      SeenIndex.exactlyOnceEpoch(
        rows.toDF("vec_id", "embedding"),
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
          broadcastVerify = true, signatures = Cached),
        key, widx, wout, window = Some((at, min)))
    runW(Seq((1L, unit(0))), "w0", 100L, 0L)
    runW(Seq((2L, unit(1))), "w1", 200L, 150L)
    SeenIndex.compact(spark, vecIndex, widx, windowed = true, dropAdmittedBefore = Some(150L))
    val winfos = SeenIndex.listSigCaches(spark, widx)
    assert(winfos.length == 1 && winfos.head.synced,
      s"windowed cache not carried: $winfos")
    // v0's only admission (at=100) was dropped by the horizon: it
    // re-admits; v1 (at=200) still gates
    runW(Seq((3L, unit(0)), (4L, unit(1))), "w2", 250L, 150L)
    assert(spark.read.parquet(wout).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("sig-cache tooling: listSigCaches reports geometry + sync state; dropSigCache(s) reclaim; rebuild-tmp never counts") {
    import sqlImplicits._
    val dim = 8
    val planesA = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    val planesB = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64, seed = 7L)
    def unit(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
    val path = tmpDir() + "/toolidx"
    val g = SeenIndex.gateAndUpdate(
      Seq((1L, unit(0))).toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planesA,
        broadcastVerify = true, signatures = Cached),
      path)
    g.count()
    // a read-only signed gate on a SECOND geometry builds its cache
    val r = SeenIndex.dropSeen(
      Seq((2L, unit(1))).toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planesB,
        broadcastVerify = true, signatures = Cached),
      path)
    r.count()
    val infos = SeenIndex.listSigCaches(spark, path)
    assert(infos.length == 2 && infos.forall(_.synced) && infos.forall(_.dataBytes > 0)
      && infos.map(_.geometryKey).distinct.length == 2, infos.toString)
    // an unsigned append desyncs BOTH geometries' caches
    SeenIndex.append(Seq((9L, unit(5))).toDF("id", "vec"), vecIndex, path)
    assert(SeenIndex.listSigCaches(spark, path).forall(!_.synced))
    // a crashed rebuild's leftover must not count as a live cache
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keyA = infos.head.geometryKey
    fs.mkdirs(new org.apache.hadoop.fs.Path(path + ".sigs-" + keyA + ".rebuild-tmp"))
    assert(SeenIndex.stats(spark, path).sigCaches == 2L,
      "rebuild-tmp leftover inflated the cache count")
    assert(SeenIndex.listSigCaches(spark, path).length == 2)
    // reclaim one geometry (its rebuild-tmp leftover goes with it)
    SeenIndex.dropSigCache(spark, path, keyA)
    assert(SeenIndex.listSigCaches(spark, path).map(_.geometryKey) ==
      infos.map(_.geometryKey).filterNot(_ == keyA))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".sigs-" + keyA + ".rebuild-tmp")))
    intercept[IllegalArgumentException] { SeenIndex.dropSigCache(spark, path, "not-a-key") }
    SeenIndex.dropSigCaches(spark, path)
    assert(SeenIndex.listSigCaches(spark, path).isEmpty)
    assert(SeenIndex.stats(spark, path).sigCaches == 0L)
  }

  test("windowed exactly-once replay under a REGRESSED clock: the persisted attempt stamp keeps admissions identical") {
    import sqlImplicits._
    val idx = tmpDir() + "/stampidx"; val out = tmpDir() + "/stampout"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docA = (1 to 60).map(i => s"a$i").mkString(" ")
    // a DIRECT caller passing raw clock values — the pin lives inside
    // the shared windowed body (pinnedWindow), so no caller-side
    // stamping ritual is needed for replay safety
    def run(id: Long, key: String, clockNow: Long, killAt: String = ""): Unit =
      SeenIndex.exactlyOnceEpoch(
        Seq((id, docA)).toDF("doc_id", "text"), Simhash("text", 3), key, idx, out,
        window = Some((clockNow, clockNow - 50L)),
        crashpoint = s => if (s == killAt) throw new RuntimeException("kill"))
    run(1L, "b0", 10L) // bootstrap admission at t=10
    // t=100: the t=10 admission aged out -> re-admit; crash AFTER the
    // index append (the kept set is already in the index, stamped 100)
    intercept[RuntimeException] { run(2L, "b1", 100L, killAt = "appended") }
    // the replay's clock REGRESSED to 55: evaluated fresh, the window
    // would reopen over the t=10 row and gate the doc — stranding the
    // crashed append as a phantom admission. The stamp overrides.
    run(2L, "b1", 55L)
    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "regressed-clock replay dropped the re-admission")
    // no phantom left behind: at t=120 the committed re-admission
    // (admitted=100, in window) gates — output unchanged
    run(3L, "b2", 120L)
    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // stamps prune with their marker pair
    SeenIndex.compactLedger(spark, idx, keepLast = 1)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(idx + ".epochs"))
      .map(_.getPath.getName)
    assert(names.count(_.startsWith("stamp-")) == 1, names.mkString(","))
    assert(names.count(_.startsWith("alloc-")) == 1, names.mkString(","))
  }

  test("auto embedding gate: unsigned below the byte floor, signed above, identical admissions; the stream form switches mid-run") {
    import sqlImplicits._
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    def unit(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
    // tiny index, default floor: stays unsigned — no cache artifacts
    val pathU = tmpDir() + "/autou"
    val a1 = SeenIndex.gateAndUpdate(
      Seq((1L, unit(0)), (2L, unit(1))).toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = Auto),
      pathU)
    assert(a1.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(SeenIndex.listSigCaches(spark, pathU).isEmpty,
      "auto must not build a cache under the byte floor")
    // floor 0: signed from the first gate, cache built and maintained
    val pathS = tmpDir() + "/autos"
    def gateAuto(rows: Seq[(Long, Seq[Float])]): Set[Long] = CacheScope.run(spark) {
      val r = SeenIndex.gateAndUpdate(
        rows.toDF("vec_id", "embedding"),
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
          broadcastVerify = true, signatures = AutoAbove(0L)),
        pathS)
      r.collect().map(_.getLong(0)).toSet
    }
    assert(gateAuto(Seq((1L, unit(0)), (2L, unit(1)))) == Set(1L, 2L))
    assert(gateAuto(Seq((3L, unit(0)), (4L, unit(4)))) == Set(4L)) // same decisions as unsigned
    val sInfos = SeenIndex.listSigCaches(spark, pathS)
    assert(sInfos.length == 1 && sInfos.head.synced, sInfos.toString)
    // ONCE a cache exists the auto gate uses it even under the
    // default floor (ignoring it would strand it stale)
    val a2 = SeenIndex.gateAndUpdate(
      Seq((5L, unit(4))).toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = Auto),
      pathS)
    assert(a2.isEmpty)
    assert(SeenIndex.listSigCaches(spark, pathS).forall(_.synced))
    // stream form: batch 1 runs unsigned (empty index, 0 bytes < 1),
    // batch 2 crosses the floor and switches to signed
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = tmpDir() + "/autostream"; val sout = tmpDir() + "/autostreamout"
    val input = MemoryStream[(Long, Seq[Float])]
    val q = SeenIndex.gateStream(
      input.toDF().toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = AutoAbove(1L)),
      idx, sout, tmpDir())
    input.addData((1L, unit(0))); q.processAllAvailable()
    assert(SeenIndex.listSigCaches(spark, idx).isEmpty, "batch 1 must run unsigned")
    input.addData((2L, unit(0)), (3L, unit(3))); q.processAllAvailable()
    q.stop()
    assert(spark.read.schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(sout)
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val streamInfos = SeenIndex.listSigCaches(spark, idx)
    assert(streamInfos.length == 1 && streamInfos.head.synced,
      s"batch 2 must have switched to the signed path: $streamInfos")
  }

  test("windowed exactly-once AUTO loop: unsigned->signed mid-stream, window expiry preserved, crash replay straddling the switch") {
    import sqlImplicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = 8
    val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
    def unit(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
    val idx = tmpDir() + "/autoweo"; val out = tmpDir() + "/autoweoout"
    var now = 1000L
    val input = MemoryStream[(Long, Seq[Float])]
    val q = SeenIndex.gateStreamExactlyOnce(
      input.toDF().toDF("vec_id", "embedding"),
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = AutoAbove(1L)),
      idx, out, tmpDir(), windowAge = Some(500L), clock = () => now)
    // batch 1: empty index (0 bytes < floor) -> unsigned, no cache
    input.addData((1L, unit(0)), (2L, unit(1))); q.processAllAvailable()
    assert(SeenIndex.listSigCaches(spark, idx).isEmpty, "batch 1 must run unsigned")
    // batch 2: index past the floor -> signed; cache built; duplicate
    // of 1 dropped, novel 3 admitted — same admissions as unsigned
    input.addData((3L, unit(0)), (4L, unit(4))); q.processAllAvailable()
    val infos = SeenIndex.listSigCaches(spark, idx)
    assert(infos.length == 1 && infos.head.synced, s"batch 2 must have switched to signed: $infos")
    // batch 3 INSIDE the window: still duplicates
    input.addData((5L, unit(0))); q.processAllAvailable()
    // batch 4 BEYOND the window: signature 0 expired -> re-admitted
    now = 2000L
    input.addData((6L, unit(0))); q.processAllAvailable()
    q.stop()
    val got = spark.read.schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(out)
    assert(got.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 6L),
      "exactly-once windowed admissions across the signed switch")
    // each admitted row appears EXACTLY once (epoch-partitioned overwrite)
    assert(got.count() == 4)
    assert(SeenIndex.listSigCaches(spark, idx).forall(_.synced),
      "signed appends must keep the cache in lockstep")

    // crash replay STRADDLING the switch: the unsigned body crashes
    // after its index append; the replay (as the auto loop would after
    // a restart with the index now past the floor) runs the SIGNED
    // body with the same key — output must equal a clean single run
    val idx2 = tmpDir() + "/autoweo2"; val out2 = tmpDir() + "/autoweo2out"
    val b1 = Seq((1L, unit(0)), (2L, unit(1))).toDF("vec_id", "embedding")
    SeenIndex.exactlyOnceEpoch(
      b1,
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes, broadcastVerify = true),
      "k1", idx2, out2,
      window = Some((1000L, 500L)))
    val b2 = Seq((3L, unit(0)), (4L, unit(4))).toDF("vec_id", "embedding")
    intercept[RuntimeException] {
      SeenIndex.exactlyOnceEpoch(
        b2,
        Embedding("embedding", "vec_id", threshold = 0.9, planes = planes, broadcastVerify = true),
        "k2", idx2, out2,
        window = Some((1100L, 600L)),
        crashpoint = p => if (p == "appended") throw new RuntimeException("kill"))
    }
    // replay of k2 on the signed path (auto switched after restart)
    SeenIndex.exactlyOnceEpoch(
      b2,
      Embedding("embedding", "vec_id", threshold = 0.9, planes = planes,
        broadcastVerify = true, signatures = Cached),
      "k2", idx2, out2,
      window = Some((1100L, 600L)))
    val got2 = spark.read.schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(out2)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got2 == Seq(1L, 2L, 4L),
      s"straddling replay must keep the crashed attempt's admitted set exactly once, got $got2")
  }

  test("batchKey normalizes the checkpoint path: trailing-slash spellings derive the SAME batch identity") {
    // Structured Streaming resolves "/ckpt" and "/ckpt/" to one
    // checkpoint; an unnormalized hash would miss the committed
    // marker on a differently-spelled restart and re-emit the batch
    // under a fresh epoch (review r18)
    assert(SeenIndex.batchKey("/ckpt", 5L) == SeenIndex.batchKey("/ckpt/", 5L))
    assert(SeenIndex.batchKey("/ckpt", 5L) != SeenIndex.batchKey("/ckpt", 6L))
    assert(SeenIndex.batchKey("/ckpt/a", 5L) != SeenIndex.batchKey("/ckpt/b", 5L))
  }

  test("appends fail loud on a mid-compaction index instead of resurrecting it over the backup") {
    import sqlImplicits._
    import org.apache.hadoop.fs.Path
    val path = tmpDir() + "/midc"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    SeenIndex.append(Seq(1L, 2L).toDF("sig"), sigIndex, path)
    // simulate a compaction crash between the two swap renames: the
    // main path is gone, .compact-old holds the only full copy
    assert(fs.rename(new Path(path), new Path(path + ".compact-old")))
    // a direct append would CREATE the main path with just this
    // batch — every reader's fail-loud check would then pass, gates
    // would admit all history as novel, and recover() would DELETE
    // the backup (review r18). It must throw instead.
    intercept[IllegalStateException] {
      SeenIndex.append(Seq(3L).toDF("sig"), sigIndex, path)
    }
    intercept[IllegalStateException] {
      SeenIndex.append(
        Seq((1L, Seq(1f, 0f))).toDF("id", "vec"), vecIndex, path)
    }
    intercept[IllegalStateException] {
      SeenIndex.append(Seq(3L).toDF("sig"), sigIndex, path, Some(1L), Some(100L))
    }
    // recover() restores the backup; the append then works
    SeenIndex.recover(spark, path)
    SeenIndex.append(Seq(3L).toDF("sig"), sigIndex, path)
    assert(SeenIndex.read(spark, sigIndex, path).distinct().count() == 3)
  }

  test("compaction forms refuse the wrong index family instead of collapsing it to one null row") {
    import sqlImplicits._
    val sigIdx = tmpDir() + "/sigidx"
    val vecIdx = tmpDir() + "/vecidx"
    SeenIndex.append(Seq(1L, 2L).toDF("sig"), sigIndex, sigIdx)
    SeenIndex.append(Seq(2L).toDF("sig"), sigIndex, sigIdx) // cross-append duplicate
    SeenIndex.append(
      Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "vec"), vecIndex, vecIdx)
    // the schema-on-read projection null-fills missing columns, so the
    // wrong form's group-by would silently collapse the whole index to
    // ONE null row and the swap would delete the backup (review r19)
    intercept[IllegalStateException] { SeenIndex.compact(spark, sigIndex, vecIdx) }
    intercept[IllegalStateException] { SeenIndex.compact(spark, sigIndex, vecIdx, windowed = true) }
    intercept[IllegalStateException] { SeenIndex.compact(spark, vecIndex, sigIdx) }
    intercept[IllegalStateException] { SeenIndex.compact(spark, vecIndex, sigIdx, windowed = true) }
    // the indexes are untouched and the RIGHT forms still work
    assert(SeenIndex.read(spark, sigIndex, sigIdx).count() == 3)
    SeenIndex.compact(spark, sigIndex, sigIdx)
    assert(SeenIndex.read(spark, sigIndex, sigIdx).count() == 2)
    SeenIndex.compact(spark, vecIndex, vecIdx)
    assert(SeenIndex.read(spark, vecIndex, vecIdx).count() == 2)
  }

  test("exactly-once batches with an 'epoch' column are refused (partition-column collision on read-back)") {
    import sqlImplicits._
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    val bad = Seq((1L, "alpha beta", 7L)).toDF("doc_id", "text", "epoch")
    val e = intercept[IllegalArgumentException] {
      SeenIndex.exactlyOnceEpoch(bad, Simhash("text", 3), "k1", idx, out)
    }
    assert(e.getMessage.contains("epoch"), e.getMessage)
  }

  test("simhash gates refuse a caller's __sig column instead of silently overwriting and dropping it") {
    import sqlImplicits._
    val bad = Seq((1L, "alpha beta", 99L)).toDF("doc_id", "text", "__sig")
    val e = intercept[IllegalArgumentException] {
      SeenIndex.gateAndUpdate(bad, Simhash("text"), tmpDir() + "/idx")
    }
    assert(e.getMessage.contains("__sig"), e.getMessage)
  }

  test("one malformed foreign file in the ledger wedges neither allocation nor ledger compaction") {
    import org.apache.hadoop.fs.Path
    import sqlImplicits._
    val idx = tmpDir() + "/idx"; val out = tmpDir() + "/out"
    SeenIndex.exactlyOnceEpoch(
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"), Simhash("text", 3), "k1", idx, out)
    val ledger = new Path(idx + ".epochs")
    val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an editor backup / partial upload next to the real markers:
    // every later batch's allocEpoch max-scan and compactLedger's
    // parses must skip it, not die with NumberFormatException
    fs.create(new Path(ledger, "alloc-k1-1~"), true).close()
    fs.create(new Path(ledger, "watermark-old.bak"), true).close()
    fs.create(new Path(ledger, "stamp-nodash"), true).close()
    SeenIndex.exactlyOnceEpoch(
      Seq((2L, "delta epsilon zeta")).toDF("doc_id", "text"), Simhash("text", 3), "k2", idx, out)
    SeenIndex.compactLedger(spark, idx, keepLast = 1)
    val stats = SeenIndex.stats(spark, idx)
    assert(stats.ledgerCommitted >= 1)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("resolveBatchKey adopts a pre-normalization ledger's legacy key; fresh batches use the normalized key") {
    import org.apache.hadoop.fs.Path
    val idx = tmpDir() + "/idx"
    val ledger = new Path(idx + ".epochs")
    val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(ledger)
    val md = java.security.MessageDigest.getInstance("MD5")
    def legacyKeyOf(ckpt: String, b: Long): String =
      md.digest(s"$ckpt#$b".getBytes("UTF-8")).map(x => f"${x & 0xff}%02x").mkString
    // NOTE: resolveBatchKey memoizes "normalized from batchId N on"
    // per (index, checkpoint) — production resolves batchIds in
    // order, so each scenario below uses its own checkpoint spelling
    // (trailing slash: Hadoop Path normalization changes the string,
    // so the pre-r18 raw-string key differs from the current one).

    // pre-upgrade COMMITTED marker under the legacy key: the restart's
    // replay must adopt it (or it would re-allocate and re-emit the
    // batch — the one-time exactly-once break of ADVICE r18)
    val ckptA = tmpDir() + "/ckptA/"
    assert(legacyKeyOf(ckptA, 7L) != SeenIndex.batchKey(ckptA, 7L),
      "spelling must normalize differently for this test")
    fs.create(new Path(ledger, s"committed-${legacyKeyOf(ckptA, 7L)}"), true).close()
    assert(SeenIndex.resolveBatchKey(spark, idx, ckptA, 7L) == legacyKeyOf(ckptA, 7L))

    // a crashed pre-upgrade attempt (alloc marker only, no committed)
    // is also adopted, so the replay re-finds ITS OWN epoch
    val ckptB = tmpDir() + "/ckptB/"
    fs.create(new Path(ledger, s"alloc-${legacyKeyOf(ckptB, 9L)}-5"), true).close()
    assert(SeenIndex.resolveBatchKey(spark, idx, ckptB, 9L) == legacyKeyOf(ckptB, 9L))

    // markers under the NEW key win over legacy ones
    val ckptC = tmpDir() + "/ckptC/"
    fs.create(new Path(ledger, s"committed-${legacyKeyOf(ckptC, 7L)}"), true).close()
    fs.create(new Path(ledger, s"alloc-${SeenIndex.batchKey(ckptC, 7L)}-3"), true).close()
    assert(SeenIndex.resolveBatchKey(spark, idx, ckptC, 7L) == SeenIndex.batchKey(ckptC, 7L))

    // dash-safety: a stray marker that merely dash-prefixes the
    // legacy key must not cause adoption
    val ckptD = tmpDir() + "/ckptD/"
    fs.create(new Path(ledger, s"alloc-${legacyKeyOf(ckptD, 10L)}-extra-5"), true).close()
    assert(SeenIndex.resolveBatchKey(spark, idx, ckptD, 10L) == SeenIndex.batchKey(ckptD, 10L))

    // fresh checkpoint, no markers anywhere -> normalized key; and the
    // memo then skips the probe for every LATER batchId (monotone in
    // production), so a legacy marker planted afterwards for a later
    // batch — impossible ordering in a real stream — is ignored
    val ckptE = tmpDir() + "/ckptE/"
    assert(SeenIndex.resolveBatchKey(spark, idx, ckptE, 3L) == SeenIndex.batchKey(ckptE, 3L))
    fs.create(new Path(ledger, s"committed-${legacyKeyOf(ckptE, 4L)}"), true).close()
    assert(SeenIndex.resolveBatchKey(spark, idx, ckptE, 4L) == SeenIndex.batchKey(ckptE, 4L))

    // canonical spelling: legacy == normalized, no ledger probe needed
    val canon = tmpDir() + "/c"
    assert(SeenIndex.resolveBatchKey(spark, idx, canon, 7L) == SeenIndex.batchKey(canon, 7L))
  }

  test("epoch allocation is dash-safe: a key that is a dash-prefix of another never claims its marker") {
    import org.apache.hadoop.fs.Path
    val idx = tmpDir() + "/idx"
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SeenIndex.allocEpoch(fs, idx, "a-7") == 1L) // marker alloc-a-7-1
    // key "a" must NOT parse alloc-a-7-1 as its own allocation
    assert(SeenIndex.allocEpoch(fs, idx, "a") == 2L)
    // replays still find their own markers
    assert(SeenIndex.allocEpoch(fs, idx, "a-7") == 1L)
    assert(SeenIndex.allocEpoch(fs, idx, "a") == 2L)
  }
}
