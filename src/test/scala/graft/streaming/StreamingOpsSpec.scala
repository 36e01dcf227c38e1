package graft.streaming

import graft.SparkSpec
import graft.ops.Sampling
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming operators driven synchronously: batch fixture parquet
  * copied into a watched dir (or a MemoryStream), memory or parquet
  * sink, `processAllAvailable()`.
  */
class StreamingOpsSpec extends SparkSpec {

  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // lossless micro-timestamp rewrite of the nano fixture
    Sources.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def runToBatch(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Feed `batches` through [[StreamingOps.perBatch]] over `op`, one
    * micro-batch each, and read the lifted output back as one table.
    */
  private def runPerBatch[A](input: MemoryStream[A], stream: DataFrame, batches: Seq[Seq[A]])(
      op: DataFrame => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-perbatch").toString
    val q = StreamingOps.perBatch(stream, s"$dir/out", s"$dir/cp")(op)
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    spark.read.parquet(s"$dir/out")
  }

  private def runComplete(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("hourly tumbling aggregate matches the batch q19 result") {
    val stream = StreamingOps.readEventsStream(spark, streamDir)
    val got = runComplete(StreamingOps.hourlyStageAgg(stream), "hourly")
      .orderBy("hour", "event_type")
    val want = graft.queries.EventsQueries.queries("q19_hourly_agg")(spark, "/root/testdata/sf0.001")
    val g = got.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val w = want.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(g.toSeq == w.toSeq)
  }

  test("sliding windows produce overlapping buckets") {
    val stream = StreamingOps.readEventsStream(spark, streamDir)
    val got = runComplete(StreamingOps.slidingMean(stream), "sliding")
    assert(got.count() > 0)
    // one event falls into up to 5 overlapping 5-min/1-min windows
    val perEventWindows = got.agg(sum("n")).head().getLong(0)
    val nEvents = spark.read.parquet(streamDir).count()
    assert(perEventWindows > nEvents, s"$perEventWindows windows vs $nEvents events")
  }

  test("session windows close after the gap and cover all events") {
    val stream = StreamingOps.readEventsStream(spark, streamDir)
    val got = runComplete(StreamingOps.deviceSessions(stream, gap = "30 minutes"), "sessions")
    assert(got.count() > 0)
    assert(got.agg(sum("n_events")).head().getLong(0) == spark.read.parquet(streamDir).count())
    // session bounds are consistent
    assert(got.filter(col("session_end") < col("session_start")).count() == 0)
  }

  test("watermark drops late data beyond the bound (append mode)") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamingOps.hourlyStageAgg(
      input.toDF().toDF("ts", "event_type", "value"), watermark = "1 hour")
    val q = agg.writeStream.outputMode("append").format("memory").queryName("wm").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: events up to 12:30 -> watermark becomes 11:30
    input.addData((ts("2024-01-01 10:10:00"), "a", 1.0), (ts("2024-01-01 12:30:00"), "a", 2.0))
    q.processAllAvailable()
    // batch 2: a VERY late row for the already-closed 10:00 window
    input.addData((ts("2024-01-01 10:20:00"), "a", 100.0))
    q.processAllAvailable()
    // batch 3: advance far so every window closes and emits
    input.addData((ts("2024-01-01 20:00:00"), "a", 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("wm").collect()
      .map(r => r.getTimestamp(0).toString -> r.getDouble(3)).toMap
    // the 10:00 window emitted WITHOUT the late 100.0 row
    assert(out("2024-01-01 10:00:00.0") == 1.0, out.toString)
    assert(out("2024-01-01 12:00:00.0") == 2.0)
  }

  test("streaming exact dedup keeps one doc per normalized content, across batches") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val deduped = StreamingOps.exactDedupStream(
      input.toDF().toDF("doc_id", "text"), "text")
    val q = deduped.writeStream.outputMode("append").format("memory").queryName("dedup").start()
    input.addData((1L, "alpha beta"), (2L, "ALPHA   beta")) // same normalized content
    q.processAllAvailable()
    input.addData((3L, "alpha beta"), (4L, "gamma delta")) // dup arrives in a LATER batch
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup").collect().map(_.getLong(0)).sorted
    assert(out.length == 2, out.mkString(","))
    assert(out.contains(4L))
    assert(!out.contains(3L)) // cross-batch duplicate dropped by state
    // batch parity on the same data
    val batchKept = graft.dedup.Dedup.exactDedup(
      Seq((1L, "alpha beta"), (2L, "ALPHA   beta"), (3L, "alpha beta"), (4L, "gamma delta"))
        .toDF("doc_id", "text"), "text", "doc_id").count()
    assert(batchKept == 2)
  }

  test("null ids and null timestamps are dropped, never typed-decode poison pills that kill the query") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a null id reaching .as[BandedDoc] would NPE the micro-batch and
    // checkpoint replay would re-hit it forever — the row must be
    // dropped instead (the batch twin's id_a < id_b discards it too)
    val in1 = MemoryStream[(Option[Long], String)]
    val q1 = StreamingOps.minhashCandidatesStream(
      in1.toDF().toDF("doc_id", "text"), "text", "doc_id")
      .writeStream.outputMode("append").format("memory").queryName("np1").start()
    val t = (1 to 50).map(i => s"w$i").mkString(" ")
    in1.addData((Some(1L), t), (None, t), (Some(2L), t))
    q1.processAllAvailable(); q1.stop()
    assert(spark.table("np1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
    // a null event time would NPE at ts.getTime in the TTL state
    // function — same poison-pill class, same drop rule
    val in2 = MemoryStream[(Option[Long], Long, Option[java.sql.Timestamp])]
    val q2 = StreamingOps.hammingPairsStreamTtl(
      in2.toDF().toDF("media_id", "ahash", "ts"), "media_id", "ahash", "ts",
      maxHamming = 3)
      .writeStream.outputMode("append").format("memory").queryName("np2").start()
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    in2.addData(
      (Some(1L), 7L, Some(ts0)),
      (Some(2L), 7L, None),          // null ts: dropped, not an NPE
      (None, 7L, Some(ts0)),         // null id: dropped
      (Some(3L), 7L, Some(ts0)))
    q2.processAllAvailable(); q2.stop()
    assert(spark.table("np2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 3L)))
  }

  test("streaming exact dedup passes every null-text row through, matching the batch rule") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Option[String])]
    val deduped = StreamingOps.exactDedupStream(
      input.toDF().toDF("doc_id", "text"), "text")
    val q = deduped.writeStream.outputMode("append").format("memory").queryName("nulldedup").start()
    input.addData((1L, Some("alpha")), (2L, None), (3L, None))
    q.processAllAvailable()
    input.addData((4L, None), (5L, Some("alpha")))
    q.processAllAvailable()
    q.stop()
    // nulls 2/3/4 ALL kept (unhashable rows can't be proven duplicates);
    // the real duplicate 5 still gated by cross-batch state
    val out = spark.table("nulldedup").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L, 3L, 4L), out.mkString(","))
  }

  test("stateful cycle labeling matches batch labelCycles exactly") {
    import sqlImplicits._
    val stream = StreamingOps.readEventsStream(spark, streamDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamingOps.EventIn]
    val got = runToBatch(StreamingOps.cycleLabelStream(stream).toDF(), "cycles")
      .select("user_id", "event_id", "cycle")
    val batch = graft.ops.Segmentation.labelCycles(
      spark.read.parquet(streamDir),
      Seq("user_id"), Seq(col("ts"), col("event_id")), "event_type")
      .select("user_id", "event_id", "cycle")
    val g = got.orderBy("user_id", "event_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = batch.orderBy("user_id", "event_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(g.toSeq == b.toSeq)
  }

  test("cycle labeling survives a null event timestamp and matches the batch twin's nulls-first order") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(ms: Long) = new java.sql.Timestamp(ms)
    // one null-ts event per device: the batch window's ORDER BY puts
    // it FIRST (SQL nulls-first ascending); the stream's in-group sort
    // must agree instead of NPE-ing at .getTime (review r18)
    val events = Seq(
      StreamingOps.EventIn(1L, null, 7L, "on", 1.0),
      StreamingOps.EventIn(2L, t(1000), 7L, "on", 1.0),
      StreamingOps.EventIn(3L, t(2000), 7L, "off", 0.0),
      StreamingOps.EventIn(4L, t(3000), 7L, "on", 1.0))
    val input = MemoryStream[StreamingOps.EventIn]
    val q = StreamingOps.cycleLabelStream(input.toDS()).toDF()
      .writeStream.outputMode("append").format("memory").queryName("nullts").start()
    input.addData(events); q.processAllAvailable(); q.stop()
    val got = spark.table("nullts").select("event_id", "cycle")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.ops.Segmentation.labelCycles(
      events.toDS().toDF(), Seq("user_id"), Seq(col("ts"), col("event_id")), "event_type")
      .select("event_id", "cycle")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == batch, s"stream=$got batch=$batch")
  }

  test("phashDupPairsStreamTtl fails fast on a non-integral media id instead of an ANSI cast mid-stream") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Array[Byte], java.sql.Timestamp)]
    val media = input.toDF().toDF("media_id", "bytes", "ts")
    val e = intercept[IllegalArgumentException] {
      StreamingOps.phashDupPairsStreamTtl(media)
    }
    assert(e.getMessage.contains("media_id"), e.getMessage)
  }

  test("streaming minhash candidates match the batch pair set across micro-batches") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 48).map(i => s"w$i").mkString(" ") + " x y"
    val nearDup2 = (3 to 50).map(i => s"w$i").mkString(" ") + " p q"
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val batch1 = Seq((1L, base), (4L, other))
    val batch2 = Seq((2L, base), (3L, nearDup)) // dups of batch-1 docs arrive LATER
    val batch3 = Seq((5L, nearDup2)) // chains onto 1/2/3 a batch later still
    val input = MemoryStream[(Long, String)]
    val stream = StreamingOps.minhashCandidatesStream(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id")
    val q = stream.toDF().writeStream.outputMode("append").format("memory").queryName("mhc").start()
    Seq(batch1, batch2, batch3).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("mhc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet // distinct folds multi-band emits
    val want = graft.dedup.Dedup.minhashCandidatePairs(
      (batch1 ++ batch2 ++ batch3).toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"stream=$got batch=$want")
    assert(want.exists { case (a, b, _) => a == 1L && b == 2L }) // cross-batch exact dup surfaced
    assert(!want.exists { case (a, b, _) => a == 4L || b == 4L }) // unrelated never collides
  }

  test("streaming banded-Hamming pairs match batch hammingPairs across micro-batches") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sigA = 0x0123456789abcdefL
    val sigB = sigA ^ 0x5L // 2 bits off A
    val sigC = sigA ^ (0x3L << 40) // 2 bits off A in another band
    val far = 0xfedcba9876543210L
    val batch1 = Seq((1L, sigA), (9L, far))
    val batch2 = Seq((2L, sigB)) // near-dup arrives a batch later
    val batch3 = Seq((3L, sigC)) // and another, pairing with both 1 and 2
    val input = MemoryStream[(Long, Long)]
    val stream = StreamingOps.hammingPairsStream(
      input.toDF().toDF("media_id", "sig"), "media_id", "sig", maxHamming = 4)
    val q = stream.toDF().writeStream.outputMode("append").format("memory").queryName("hps").start()
    Seq(batch1, batch2, batch3).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("hps").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet // distinct folds multi-band emits
    val want = graft.dedup.Dedup.hammingPairs(
      (batch1 ++ batch2 ++ batch3).toDF("media_id", "sig"), "media_id", "sig", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").intValue)).toSet
    assert(got == want, s"stream=$got batch=$want")
    assert(want.contains((1L, 2L, 2)) && want.contains((1L, 3L, 2))) // cross-batch pairs surfaced
    assert(!want.exists { case (a, b, _) => a == 9L || b == 9L }) // far signature never pairs
  }

  test("streaming dropSeen gate equals the batch gate on the union of batches; static ref never grows state") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val r0 = 0x0123456789abcdefL
    val r1 = 0x7777000011110000L
    val refSigs = Seq(r0, r1).toDF("sig").persist()
    // arriving batch rows: exact hit, near hit (hamming 2), near the
    // second ref sig, over-threshold (hamming 5), novel
    val batch1 = Seq((1L, r0), (2L, r0 ^ 3L), (5L, ~r0))
    val batch2 = Seq((3L, r1 ^ 0x11L), (4L, r0 ^ 0x1fL))
    val input = MemoryStream[(Long, Long)]
    val dir = java.nio.file.Files.createTempDirectory("graft-dsg").toString
    val q = StreamingOps.perBatch(input.toDF().toDF("doc_id", "sig"), s"$dir/out", s"$dir/cp")(
      graft.dedup.Dedup.dropSeenHamming(_, refSigs, "sig", maxHamming = 3))
    Seq(batch1, batch2).foreach { b => input.addData(b); q.processAllAvailable() }
    // the reference is re-read per micro-batch: no state operator at all
    assert(q.recentProgress.nonEmpty && q.recentProgress.forall(_.stateOperators.isEmpty))
    q.stop()
    val got = spark.read.parquet(s"$dir/out").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.dedup.Dedup.dropSeenHamming(
      (batch1 ++ batch2).toDF("doc_id", "sig"), refSigs, "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"stream=$got batch=$want")
    // 1 (exact), 2 (near), 3 (near r1) gated; 4 (hamming 5) and the
    // novel 5 admitted
    assert(got == Set((4L, r0 ^ 0x1fL), (5L, ~r0)), s"got=$got")
    refSigs.unpersist()
  }

  test("streaming dropSeen gates each (id, sig) row independently: a multi-sig id in one micro-batch matches the batch twin") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val r0 = 0x0123456789abcdefL
    val refSigs = Seq(r0).toDF("sig").persist()
    // id 1 arrives TWICE in one micro-batch with different sigs: one
    // hits the reference (gated), one is novel (kept). The batch twin
    // gates each ROW independently — the stream must too, not collapse
    // the id to a single verdict.
    val batch = Seq((1L, r0), (1L, ~r0), (2L, r0 ^ 1L))
    val input = MemoryStream[(Long, Long)]
    val got = runPerBatch(input, input.toDF().toDF("doc_id", "sig"), Seq(batch))(
      graft.dedup.Dedup.dropSeenHamming(_, refSigs, "sig", maxHamming = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.dedup.Dedup.dropSeenHamming(
      batch.toDF("doc_id", "sig"), refSigs, "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got == Set((1L, ~r0)), s"stream=$got batch=$want")
    // embedding form: the batch gate decides at the ID grain (a seen
    // vector gates every row of its id), and the lifted stream runs
    // that same gate
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val u = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val ref = Seq((10L, v)).toDF("vec_id", "embedding").persist()
    val planes = graft.similarity.Similarity.hyperplanes(8, 64)
    val batch2 = Seq((1L, v.map(_ * 2f)), (1L, u))
    def gate2(df: DataFrame) = graft.similarity.Similarity.dropSeenEmbedding(
      df, ref, "embedding", "vec_id", threshold = 0.99, planes)
    val input2 = MemoryStream[(Long, Array[Float])]
    val got2 = runPerBatch(input2, input2.toDF().toDF("vec_id", "embedding"), Seq(batch2))(gate2)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    val want2 = gate2(batch2.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    assert(got2 == want2 && got2.isEmpty, s"stream=$got2 batch=$want2")
    refSigs.unpersist(); ref.unpersist()
  }

  test("streaming embedding gate equals batch dropSeenEmbedding on the union of batches (degenerates dropped)") {
    import sqlImplicits._
    import graft.similarity.Similarity
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val w = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val u = Array.tabulate(8)(i => if (i < 4) 2.0f else -1.0f)
    val ref = Seq((10L, v), (11L, w)).toDF("vec_id", "embedding").persist()
    val planes = Similarity.hyperplanes(8, 64)
    // arrivals: re-ingest of v (gated), novel direction (kept),
    // zero-norm degenerate (kept: it cannot be proven seen), rescaled
    // w (gated: cosine 1), anti-parallel v (kept)
    val batch1 = Seq((1L, v.map(_ * 1.001f)), (2L, u))
    val batch2 = Seq((3L, Array.fill(8)(0f)), (4L, w.map(_ * 0.5f)), (5L, v.map(x => -x)))
    val input = MemoryStream[(Long, Array[Float])]
    val out = runPerBatch(input, input.toDF().toDF("vec_id", "embedding"), Seq(batch1, batch2))(
      Similarity.dropSeenEmbedding(_, ref, "embedding", "vec_id", threshold = 0.99, planes))
    val got = out.collect().map(_.getLong(0)).toSet
    val want = Similarity.dropSeenEmbedding(
      (batch1 ++ batch2).toDF("vec_id", "embedding"), ref,
      "embedding", "vec_id", threshold = 0.99, planes)
      .collect().map(_.getLong(0)).toSet
    // full parity: the lifted stream runs the batch gate, which keeps
    // the zero-norm row 3 (cannot be proven seen)
    assert(want == Set(2L, 3L, 5L) && got == want, s"stream=$got batch=$want")
    // output carries the ORIGINAL un-normalized vector
    val vec2 = out.collect()
      .find(_.getLong(0) == 2L).get.getSeq[Float](1)
    assert(vec2 == u.toSeq, s"vec2=$vec2")
    ref.unpersist()
  }

  test("streaming jaccard gate equals batch dropSeenJaccard on the union of batches, empties included") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 45).map(i => s"w$i").mkString(" ") // 43/48 ~ 0.896 vs base
    val mild = (1 to 25).map(i => s"w$i").mkString(" ") + " " +
      (200 to 224).map(i => s"z$i").mkString(" ") // ~0.3: below 0.8
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val ref = Seq((10L, base), (11L, "a b")).toDF("doc_id", "text").persist()
    val batch1 = Seq((1L, base), (2L, nearDup))
    val batch2 = Seq((3L, mild), (4L, other), (5L, "one two"), (6L, ""))
    val input = MemoryStream[(Long, String)]
    val got = runPerBatch(input, input.toDF().toDF("doc_id", "text"), Seq(batch1, batch2))(
      graft.dedup.Dedup.dropSeenJaccard(_, ref, "text", "doc_id", threshold = 0.8))
      .collect().map(_.getLong(0)).toSet
    val want = graft.dedup.Dedup.dropSeenJaccard(
      (batch1 ++ batch2).toDF("doc_id", "text"), ref, "text", "doc_id", threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    ref.unpersist()
    // FULL parity — shingle-less arrivals (5, 6) kept by stream and batch
    assert(got == want, s"stream=$got batch=$want")
    assert(got == Set(3L, 4L, 5L, 6L), s"got=$got")
  }

  test("streaming containment gate equals batch dropSeenContained exactly on the union of batches") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val short = (1 to 10).map(i => s"w$i").mkString(" ")
    val long = (100 to 200).map(i => s"v$i").mkString(" ") + " " + short +
      " " + (300 to 400).map(i => s"u$i").mkString(" ")
    val halfOld = (1 to 8).map(i => s"w$i").mkString(" ") + " " +
      (700 to 708).map(i => s"y$i").mkString(" ")
    val novel = (500 to 560).map(i => s"z$i").mkString(" ")
    val ref = Seq((10L, long), (11L, (900 to 950).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text").persist()
    val batch1 = Seq((1L, short), (2L, halfOld)) // 1 gated (coverage 1), 2 kept (~0.4)
    // null text: unprovable => kept, the family rule
    val batch2 = Seq((3L, novel), (4L, "a b"), (5L, null.asInstanceOf[String]))
    val input = MemoryStream[(Long, String)]
    val got = runPerBatch(input, input.toDF().toDF("doc_id", "text"), Seq(batch1, batch2))(
      graft.dedup.Containment.dropSeenContained(_, ref, "text", "doc_id", threshold = 0.8))
      .collect().map(_.getLong(0)).toSet
    val want = graft.dedup.Containment.dropSeenContained(
      (batch1 ++ batch2).toDF("doc_id", "text"), ref, "text", "doc_id", threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    ref.unpersist()
    // EXACT parity — the containment gate verifies the exact coverage
    assert(got == want, s"stream=$got batch=$want")
    assert(got == Set(2L, 3L, 4L, 5L), s"got=$got")
  }

  test("streaming verified near-dedup equals batch verifyCandidates on the union of batches") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 48).map(i => s"w$i").mkString(" ") + " x y"
    val nearDup2 = (3 to 50).map(i => s"w$i").mkString(" ") + " p q"
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val all = Seq((1L, base), (4L, other), (2L, base), (3L, nearDup), (5L, nearDup2))
    // the static index covers the whole corpus, like the persisted gs
    // table inside the batch verify
    val index = StreamingOps.shingleIndex(all.toDF("doc_id", "text"), "text", "doc_id").persist()
    val input = MemoryStream[(Long, String)]
    // bands=16 mirrors verifyCandidates' default banding exactly
    val stream = StreamingOps.minhashVerifiedStream(
      input.toDF().toDF("doc_id", "text"), index, "text", "doc_id",
      tsCol = None, // the explicit unbounded/parity choice
      threshold = 0.5, bands = 16)
    val q = stream.writeStream.outputMode("append").format("memory").queryName("mvs").start()
    Seq(Seq((1L, base), (4L, other)), Seq((2L, base), (3L, nearDup)), Seq((5L, nearDup2)))
      .foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("mvs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet // distinct folds multi-band verifies
    val want = graft.dedup.Dedup.verifyCandidates(
      all.toDF("doc_id", "text"), "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    index.unpersist()
    // exact parity INCLUDING the bit-exact true-Jaccard values
    assert(got == want, s"stream=$got batch=$want")
    assert(want.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 }) // exact dup verified at 1.0
    assert(!want.exists { case (a, b, _) => a == 4L || b == 4L }) // unrelated never verified
  }

  test("streaming sequence packing matches batch assignBins across micro-batches") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // skewed strata, in-order ids per stratum (the documented arrival
    // contract), docs of varying token counts spread over 3 batches
    def doc(id: Long, s: String) =
      (id, s, Seq.fill(3 + (id * 31 % 40).toInt)("w").mkString(" "))
    val batches = Seq(
      (0L to 9L).map(doc(_, "crawl")) ++ Seq(doc(100L, "books")),
      (10L to 19L).map(doc(_, "crawl")),
      (20L to 24L).map(doc(_, "crawl")) ++ Seq(doc(101L, "books")))
    val input = MemoryStream[(Long, String, String)]
    val stream = StreamingOps.packBinsStream(
      input.toDF().toDF("doc_id", "source", "text"), "text", "source", "doc_id", capacity = 64)
    val q = stream.toDF().writeStream.outputMode("append").format("memory").queryName("pack").start()
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("pack").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = graft.text.SequencePacking.assignBins(
      batches.flatten.toDF("doc_id", "source", "text"), "text", "source", "doc_id", 64)
      .select("doc_id", "n_tokens", "start_offset", "bin").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 27)
    assert(got == want)
    // the offset genuinely carried across micro-batches: batch-3 crawl
    // docs start where batch 2 left off, not at zero
    assert(got(20L)._2 == want(20L)._2 && want(20L)._2 > 0)
  }

  test("stateless curation stages run unchanged on a stream: sampling and scrub parity") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (0L until 400L).map { i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr",
        s"doc $i mail-$i@example.com ip 10.0.0.$i")
    }
    val rates = Map("en" -> 0.2, "de" -> 0.6)
    val input = MemoryStream[(Long, String, String)]
    // the BATCH functions applied directly to the streaming frame:
    // a pure filter + per-row projection needs no state and no twin
    val curated = graft.text.PiiScrub.scrubbed(
      graft.ops.Sampling.stratified(
        input.toDF().toDF("doc_id", "lang", "text"),
        "doc_id", "lang", rates, defaultRate = 0.9, seed = 7L),
      "text")
    val q = curated.writeStream.outputMode("append").format("memory").queryName("curate").start()
    rows.grouped(150).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("curate")
      .select("doc_id", "n_email", "n_ipv4", "scrubbed").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val want = graft.text.PiiScrub.scrubbed(
      graft.ops.Sampling.stratified(
        rows.toDF("doc_id", "lang", "text"), "doc_id", "lang", rates,
        defaultRate = 0.9, seed = 7L),
      "text")
      .select("doc_id", "n_email", "n_ipv4", "scrubbed").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < rows.size) // the sampler actually filtered
    assert(got.forall { case (_, ne, _, s) => ne == 1 && s.contains("<EMAIL>") && s.contains("<IP>") })
  }

  test("epoch upsampling with a snapshot factor table runs unchanged on a stream: manifest parity") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (0L until 300L).map(i => (i, s"src${i % 3}", (i % 15 + 1).toInt))
    val corpus = rows.toDF("doc_id", "source", "n_tokens")
    // snapshot discipline: factors from the corpus RELEASE the mixture
    // was designed on, applied to arrivals stream-static
    val factors = graft.ops.Sampling.epochFactors(
      corpus, "source", "n_tokens", Map("src0" -> 2.0, "src1" -> 1.0), 4000L).persist()
    val input = MemoryStream[(Long, String, Int)]
    val stream = graft.ops.Sampling.epochMixWith(
      input.toDF().toDF("doc_id", "source", "n_tokens"), factors, "doc_id", "source", seed = 9L)
    val q = stream.writeStream.outputMode("append").format("memory").queryName("epm").start()
    rows.grouped(100).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val got = key(spark.table("epm"))
    val want = key(graft.ops.Sampling.epochMixWith(corpus, factors, "doc_id", "source", seed = 9L))
    factors.unpersist()
    assert(got == want)
    assert(got.exists(_._3 >= 2), "the whole-epoch repeat really fires")
  }

  test("releaseGateStream TTL mode: dedup state stays bounded under a 3x longer stream; expiry re-admits") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // STATE BOUND: distinct texts with advancing event time; the
    // watermarked dedup stage must hold ~horizon keys, not all-time
    val bench = StreamingOps.benchGramSet(
      Seq((0L, "zq1 zq2 zq3 zq4 zq5")).toDF("doc_id", "text"), "text")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = StreamingOps.releaseGateStream(
      input.toDF().toDF("doc_id", "text", "ts"), bench, "text", "doc_id",
      tsCol = Some("ts"), watermark = "5 seconds")
    val q = stream.writeStream.outputMode("append").format("memory").queryName("rgsttl").start()
    def text(i: Int) = (i * 100 to i * 100 + 40).map(j => s"t$j").mkString(" ")
    def feed(ids: Range): Unit = {
      ids.grouped(10).foreach { g =>
        input.addData(g.map(i =>
          (i.toLong, text(i), ts(f"2024-01-01 10:${i / 60}%02d:${i % 60}%02d"))))
        q.processAllAvailable()
      }
    }
    def stateRows(): Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    feed(0 until 30)
    val after1x = stateRows()
    feed(30 until 90) // 3x the stream
    val after3x = stateRows()
    q.stop()
    assert(after3x <= after1x + 15,
      s"state grew with the stream (1x=$after1x, 3x=$after3x) — the watermark bound is not holding")
    assert(after3x < 30, s"state=$after3x should be ~watermark-horizon-sized, 90 docs were fed")
    // EXPIRY RE-ADMISSION at the dedup stage the gate composes: a dup
    // within the horizon is suppressed, one beyond it re-admits
    val input2 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val dd = StreamingOps.exactDedupStream(
      input2.toDF().toDF("doc_id", "text", "ts"), "text", Some("ts"), "5 seconds")
    val q2 = dd.writeStream.outputMode("append").format("memory").queryName("ddttl").start()
    val a = text(1); val b = text(2)
    input2.addData((1L, a, ts("2024-01-01 10:00:00"))); q2.processAllAvailable()
    input2.addData((2L, a, ts("2024-01-01 10:00:02"))); q2.processAllAvailable() // in horizon: dup
    input2.addData((99L, b, ts("2024-01-01 11:00:00"))); q2.processAllAvailable() // watermark marker
    input2.addData((3L, a, ts("2024-01-01 11:00:01"))); q2.processAllAvailable() // expired: re-admit
    q2.stop()
    val got = spark.table("ddttl").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 99L, 3L), s"got=$got")
  }

  test("minhashVerifiedStream TTL mode: in-horizon pairs verified exactly, expired history never pairs") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val textX = (1 to 50).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val index = StreamingOps.shingleIndex(
      Seq((1L, textX), (2L, textX), (3L, textX), (99L, other)).toDF("doc_id", "text"),
      "text", "doc_id").persist()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = StreamingOps.minhashVerifiedStream(
      input.toDF().toDF("doc_id", "text", "ts"), index, "text", "doc_id",
      tsCol = Some("ts"), ttlMs = 3600000L, threshold = 0.5, bands = 16)
    val q = stream.writeStream.outputMode("append").format("memory").queryName("mvsttl").start()
    input.addData((1L, textX, ts("2024-01-01 10:00:00"))); q.processAllAvailable()
    input.addData((99L, other, ts("2024-01-01 13:00:00"))); q.processAllAvailable()
    // same text as doc 1 but its state expired -> NO pair
    input.addData((2L, textX, ts("2024-01-01 13:05:00"))); q.processAllAvailable()
    // within doc 2's horizon -> pair (2, 3), verified at exact jaccard 1.0
    input.addData((3L, textX, ts("2024-01-01 13:10:00"))); q.processAllAvailable()
    q.stop()
    index.unpersist()
    val got = spark.table("mvsttl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((2L, 3L, 1.0)), s"got=$got")
  }

  test("packBinsForeachBatch: carried offsets equal the batch operator on the union; replays idempotent; wrapper end-to-end") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def tmp() = java.nio.file.Files.createTempDirectory("pbfb").toString
    val docs = (1 to 12).map(i =>
      (i.toLong, if (i % 2 == 0) "even" else "odd", (1 to (i % 4) + 1).map(j => s"x${i}_$j").mkString(" ")))
    val union = docs.toDF("doc_id", "stratum", "text")
    val want = graft.text.SequencePacking.assignBins(
      union, "text", "stratum", "doc_id", capacity = 5)
      .select("doc_id", "start_offset", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // manual per-batch protocol, fed in id order (the parity contract)
    val out = tmp() + "/out"; val st = tmp() + "/state"
    def runBatch(ids: Seq[Int], id: Long): Unit = {
      val cached = spark.sparkContext.getPersistentRDDs.keySet
      StreamingOps.packBinsBatch(
        docs.filter(d => ids.contains(d._1.toInt)).toDF("doc_id", "stratum", "text"),
        id, "text", "stratum", "doc_id", capacity = 5, out, st)
      // the batch's checkpoint is released with its scope
      assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
    }
    runBatch(1 to 4, 0L)
    runBatch(5 to 8, 1L)
    runBatch(5 to 8, 1L) // replay: deterministic input offsets + overwrite => idempotent
    runBatch(9 to 12, 2L)
    def read(path: String): Set[(Long, Long, Long)] =
      spark.read.parquet(path).select("doc_id", "start_offset", "bin")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(read(out) == want, s"got=${read(out)}\nwant=$want")
    // snapshots a replay can no longer need are pruned: after batch 2
    // only offsets-1 (replay paranoia) and offsets-2 remain
    val snaps = new java.io.File(st).list().filter(_.startsWith("offsets-")).sorted
    assert(snaps.toSeq == Seq("offsets-1", "offsets-2"), snaps.mkString(","))
    // the streaming wrapper drives the same bodies
    val out2 = tmp() + "/out"; val st2 = tmp() + "/state"
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingOps.packBinsForeachBatch(
      input.toDF().toDF("doc_id", "stratum", "text"), "text", "stratum", "doc_id",
      capacity = 5, out2, st2, tmp() + "/cp")
    docs.grouped(4).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    assert(read(out2) == want)
  }

  test("lengthBatchingForeachBatch: carried per-bucket counts equal the batch operator on the union; replays idempotent") {
    import sqlImplicits._
    def tmp() = java.nio.file.Files.createTempDirectory("lbfb").toString
    // Zipf-ish token counts across two buckets (width 10)
    val docs = (1 to 12).map(i => (i.toLong, (i % 3) * 10L + 3L))
    val union = docs.toDF("doc_id", "n_tokens")
    val want = graft.text.LengthBatching.assignBatchesFromCounts(
      union, "n_tokens", "doc_id", bucketWidth = 10, batchSize = 2, distributed = true)
      .select("doc_id", "bucket", "batch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val out = tmp() + "/out"; val st = tmp() + "/state"
    def runBatch(ids: Seq[Int], id: Long): Unit = {
      val cached = spark.sparkContext.getPersistentRDDs.keySet
      StreamingOps.lengthBatchingBatch(
        docs.filter(d => ids.contains(d._1.toInt)).toDF("doc_id", "n_tokens"),
        id, "doc_id", "n_tokens", bucketWidth = 10, batchSize = 2, out, st)
      // the batch's checkpoint is released with its scope
      assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
    }
    runBatch(1 to 4, 0L)
    runBatch(5 to 8, 1L)
    runBatch(5 to 8, 1L) // replay is a pure overwrite of the same rows
    runBatch(9 to 12, 2L)
    // the twin fixes its output names like its stateful sibling: id,
    // n_tokens, bucket, batch_id
    val got = spark.read.parquet(out).select("id", "bucket", "batch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("perBatch: a replayed micro-batch leaves one identical batch directory") {
    import sqlImplicits._
    val out = java.nio.file.Files.createTempDirectory("graft-replay").toString + "/out"
    val batch = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "alpha beta")).toDF("doc_id", "text")
    def op(df: DataFrame) = df.withColumn("n_chars", length(col("text")))
    def written(): Set[(Long, String, Int)] = spark.read.parquet(out)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    StreamingOps.perBatchBody(batch, 7L, out)(op)
    val first = written()
    StreamingOps.perBatchBody(batch, 7L, out)(op) // the replay overwrites, never appends
    assert(new java.io.File(out).list().filter(_.startsWith("batch=")).toSeq == Seq("batch=7"))
    assert(first.size == 3 && written() == first && spark.read.parquet(out).count() == 3)
  }

  test("perBatch releases the operator's internal caches after every micro-batch") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val ref = Seq((10L, base)).toDF("doc_id", "text")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val input = MemoryStream[(Long, String)]
    val batches = Seq(Seq((1L, base)), Seq((2L, "one two three four")), Seq((3L, base + " x")))
    // crossVerifyCandidates persists its shingle and signature tables
    // inside dropSeenJaccard; each micro-batch's scope must drop them
    val kept = runPerBatch(input, input.toDF().toDF("doc_id", "text"), batches)(
      graft.dedup.Dedup.dropSeenJaccard(_, ref, "text", "doc_id", threshold = 0.8))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
  }

  test("a foreachBatch body scoped on the batch's session releases the caches it derives from the caller's session") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    // the reference lives in the caller's session, each micro-batch in
    // the query's clone of it; dropSeenJaccard persists tables of both
    val ref = Seq((10L, base)).toDF("doc_id", "text")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val input = MemoryStream[(Long, String)]
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("graft-clone").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        assert(batch.sparkSession ne spark)
        kept ++= graft.core.CacheScope.run(batch.sparkSession)(
          graft.dedup.Dedup.dropSeenJaccard(batch, ref, "text", "doc_id", threshold = 0.8)
            .collect().map(_.getLong(0)).toSeq)
        ()
      }
      .start()
    Seq(Seq((1L, base)), Seq((2L, "one two three four"))).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    assert(kept.toSet == Set(2L))
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
  }

  test("TTL-bounded streaming minhash: partners within the horizon pair, expired history does not") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val textX = (1 to 50).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = StreamingOps.minhashCandidatesStreamTtl(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
      ttlMs = 3600000L, lateness = "10 seconds")
    val q = stream.toDF().writeStream.outputMode("append").format("memory").queryName("mhcttl").start()
    // doc 1 at 10:00; its state expires (event-time) at 11:00
    input.addData((1L, textX, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // unrelated marker at 13:00 advances the watermark far past 11:00
    input.addData((99L, other, ts("2024-01-01 13:00:00")))
    q.processAllAvailable()
    // doc 2: same text as doc 1 but 3h later -> partner EXPIRED, no pair
    input.addData((2L, textX, ts("2024-01-01 13:05:00")))
    q.processAllAvailable()
    // doc 3: same text, 5 min after doc 2 -> within horizon, pair (2,3)
    input.addData((3L, textX, ts("2024-01-01 13:10:00")))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("mhcttl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 3L)), s"expected only the in-horizon pair, got $pairs")
  }

  test("streaming BPE chunking matches the batch chunk table row for row") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (0L, "lower lowest low low newer newest new wide"),
      (1L, "newer newest new lower wider widest wide low"),
      (2L, "   "), // wordless: no chunks
      (3L, "wider widest wide newer low lowest"))
    val model = graft.text.BpeTokenizer.fit(
      corpus.toDF("doc_id", "text"), "text", numMerges = 8, maxVocab = 100000)
    val input = MemoryStream[(Long, String)]
    val out = runPerBatch(input, input.toDF().toDF("doc_id", "text"), corpus.grouped(2).toSeq)(
      graft.text.Chunking.chunksByBpe(_, "text", "doc_id", model, budget = 5))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    val got = rows(out)
    val want = rows(graft.text.Chunking.chunksByBpe(
      corpus.toDF("doc_id", "text"), "text", "doc_id", model, budget = 5))
    assert(got == want, s"stream=$got batch=$want")
    assert(!got.exists(_._1 == 2L)) // wordless doc yields nothing
    assert(got.exists(_._2 >= 1L), "fixture drifted: every doc fits one chunk")
  }

  test("TTL-bounded Hamming stream reports only in-horizon fingerprint pairs") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sigX = 0x0123456789abcdefL
    val far = 0xfedcba9876543210L
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val stream = StreamingOps.hammingPairsStreamTtl(
      input.toDF().toDF("media_id", "sig", "ts"), "media_id", "sig", "ts",
      maxHamming = 3, ttlMs = 3600000L, lateness = "10 seconds")
    val q = stream.toDF().writeStream.outputMode("append").format("memory").queryName("hpsttl").start()
    input.addData((1L, sigX, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // unrelated watermark marker far past doc 1's 11:00 expiry
    input.addData((99L, far, ts("2024-01-01 13:00:00")))
    q.processAllAvailable()
    // same fingerprint 3h later: partner EXPIRED, no pair
    input.addData((2L, sigX, ts("2024-01-01 13:05:00")))
    q.processAllAvailable()
    // two bits off, 5 min later: within horizon, pair (2,3) at Hamming 2
    input.addData((3L, sigX ^ 0x3L, ts("2024-01-01 13:10:00")))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("hpsttl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((2L, 3L, 2)), s"expected only the in-horizon pair, got $pairs")
  }

  test("streaming phash dedup (decode map-side) equals batch phashDupPairs within the horizon") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def png(fill: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val v = fill(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val base = png((x, y) => (x * 7 + y * 13) % 256)
    val retouch = png((x, y) => if (x < 2 && y < 2) 255 else (x * 7 + y * 13) % 256)
    val other = png((x, y) => ((x / 8) * 97 + (y / 8) * 31) % 256)
    val broken = Array[Byte](1, 2, 3)
    val batches = Seq(
      Seq((1L, base, ts("2024-01-01 10:00:00")), (4L, other, ts("2024-01-01 10:00:01"))),
      Seq((2L, base, ts("2024-01-01 10:05:00")), (9L, broken, ts("2024-01-01 10:05:01"))),
      Seq((3L, retouch, ts("2024-01-01 10:10:00"))))
    val input = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val stream = StreamingOps.phashDupPairsStreamTtl(
      input.toDF().toDF("media_id", "bytes", "ts"), maxHamming = 3, ttlMs = 3600000L)
    val q = stream.toDF().writeStream.outputMode("append").format("memory").queryName("phstream").start()
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("phstream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet // distinct folds multi-band emits
    val allMedia = batches.flatten.map { case (id, b, _) =>
      graft.multimodal.Multimodal.MediaRow(id, "image", b, Map.empty[String, String])
    }.toDS()
    val want = graft.multimodal.PerceptualHash.phashDupPairs(allMedia, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").intValue)).toSet
    assert(got == want, s"stream=$got batch=$want")
    assert(want.contains((1L, 2L, 0)), "exact copy must pair at Hamming 0 across micro-batches")
    assert(want.exists { case (a, b, _) => (a, b) == ((1L, 3L)) || (a, b) == ((2L, 3L)) },
      "retouch must pair with the base family")
    assert(!want.exists { case (a, b, _) => a == 9L || b == 9L }, "undecodable payload never pairs")
  }

  test("streaming line scrub equals batch dedupLines(keepFirst=false) against the same snapshot") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val boiler = "all rights reserved click to accept cookies"
    // weld line structure (8-token lines) + boilerplate onto the flat fixture
    val docs = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect().map { r =>
        val id = r.getLong(0)
        val lined = r.getString(1).split(" ").grouped(8).map(_.mkString(" ")).mkString("\n")
        (id, if (id % 3 == 0) s"$lined\n$boiler" else lined)
      }.toSeq
    val corpus = docs.toDF("doc_id", "text")
    // snapshot: the corpus release's repeated-line table
    val flagged = graft.text.LineOps.lineFrequency(corpus, "text", "doc_id")
      .filter($"n_docs" >= 2).persist()
    val input = MemoryStream[(Long, String)]
    val out = runPerBatch(input, input.toDF().toDF("doc_id", "text"), docs.grouped(150).toSeq)(
      graft.text.LineOps.dedupLinesAgainst(_, "text", "doc_id", flagged, keepFirst = false))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_lines", "n_removed", "clean").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val got = rows(out)
    val want = rows(graft.text.LineOps.dedupLines(
      corpus, "text", "doc_id", keepFirst = false))
    flagged.unpersist()
    assert(got == want, s"stream-batch diff: ${(got diff want).take(3) ++ (want diff got).take(3)}")
    assert(got.exists(_._3 > 0)) // the weld really scrubs something
  }

  test("streaming decontamination equals the batch report across micro-batches") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (benchDocs, corpusDocs) = docs.partition(_._1 % 97 == 0)
    // the control-plane snapshot: the collected gram set as a local
    // table, broadcast by the batch report
    val bench = StreamingOps.benchGramSet(benchDocs.toDF("doc_id", "text"), "text").toDF("g")
    val input = MemoryStream[(Long, String)]
    val out = runPerBatch(input, input.toDF().toDF("doc_id", "text"), corpusDocs.grouped(200).toSeq)(
      graft.text.Decontamination.reportWith(_, bench, "text", "doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_ngrams", "n_overlap", "contam_frac", "flagged").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toSet
    val got = rows(out)
    val want = rows(graft.text.Decontamination.report(
      corpusDocs.toDF("doc_id", "text"), benchDocs.toDF("doc_id", "text"), "text", "doc_id"))
    assert(got == want, s"stream-batch diff: ${(got diff want) ++ (want diff got)}")
    assert(got.nonEmpty) // the fixture slice really contaminates
  }

  test("stream-static decontamination join equals the batch report (the corpus-sized-bench path)") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (benchDocs, corpusDocs) = docs.partition(_._1 % 97 == 0)
    // the distributed gram table — never collected to the driver, and
    // joined without the broadcast hint (the beyond-broadcast regime)
    val gramTable = benchDocs.toDF("doc_id", "text")
      .select(explode(graft.text.Decontamination.distinctNgrams(col("text"), 3)).as("g"))
      .distinct().persist()
    val input = MemoryStream[(Long, String)]
    val out = runPerBatch(input, input.toDF().toDF("doc_id", "text"), corpusDocs.grouped(200).toSeq)(
      graft.text.Decontamination.reportWith(_, gramTable, "text", "doc_id", broadcastBench = false))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_ngrams", "n_overlap", "contam_frac", "flagged").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toSet
    val got = rows(out)
    val want = rows(graft.text.Decontamination.report(
      corpusDocs.toDF("doc_id", "text"), benchDocs.toDF("doc_id", "text"), "text", "doc_id"))
    gramTable.unpersist()
    assert(got == want, s"stream-batch diff: ${(got diff want) ++ (want diff got)}")
    assert(got.nonEmpty) // the fixture slice really contaminates
  }

  test("releaseGateStream (q77's gate chain) matches the batch release content set") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Sources.documents(spark, dir)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (benchDocs, corpusDocs) = docs.partition(_._1 % 97 == 0)
    val bench = StreamingOps.benchGramSet(benchDocs.toDF("doc_id", "text"), "text")
    val input = MemoryStream[(Long, String)]
    val stream = StreamingOps.releaseGateStream(
      input.toDF().toDF("doc_id", "text"), bench, "text", "doc_id",
      tsCol = None) // the explicit unbounded/parity choice
    val q = stream.writeStream.outputMode("append").format("memory").queryName("rgs").start()
    corpusDocs.grouped(100).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val kept = spark.table("rgs")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // Batch truth: q77's released set minus the permutation columns.
    // Dedup's representative WITHIN a micro-batch is arbitrary (the
    // batch path keeps the smallest id — the documented parity
    // caveat), but gate and decontamination decide on TEXT alone, so
    // the released CONTENT set and its cardinality are deterministic.
    val released = graft.queries.PipelineQueries.q77CorpusRelease(spark, dir)
      .select("doc_id")
      .join(graft.sources.Sources.documents(spark, dir), Seq("doc_id"))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.map(_._2).toSet == released.map(_._2).toSet,
      "stream gate chain must keep exactly the batch release's content set")
    assert(kept.length == released.length,
      "one representative per surviving content group")
    // every kept id is a corpus-side id that carries released content
    val validIds = corpusDocs.toMap
    kept.foreach { case (id, fp) =>
      assert(validIds.contains(id) && id % 97 != 0)
      assert(released.map(_._2).toSet.contains(fp))
    }
    assert(kept.nonEmpty)
  }

  test("streaming novelty scoring against a snapshot df-table equals the batch report") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val dfTable = graft.text.CorpusStats.docFrequency(corpus, "text", n = 2).persist()
    val input = MemoryStream[(Long, String)]
    val out = runPerBatch(input, input.toDF().toDF("doc_id", "text"), docs.grouped(200).toSeq)(
      graft.text.CorpusStats.noveltyReportWith(_, dfTable, "text", "doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_ngrams", "n_rare", "max_df", "rare_frac", "mean_df").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    val got = rows(out)
    val want = rows(graft.text.CorpusStats.noveltyReport(corpus, "text", "doc_id"))
    dfTable.unpersist()
    // row-for-row parity, doubles bit-identical (same integer divides)
    assert(got == want, s"stream-batch diff: ${(got diff want) ++ (want diff got)}")
    assert(got.size == docs.size) // every doc scored (all have >= 2 tokens)
  }

  test("streaming perplexity scoring against a snapshot bigram LM equals the batch report") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang")
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val lm = graft.text.NgramLm.fit(
      corpus.filter(org.apache.spark.sql.functions.col("lang") === "en"), "text")
    // the model snapshot's tables, persisted: the lifted scorer
    // re-plans them every micro-batch
    val pairs = lm.pairLogNum.persist()
    val ctx = lm.ctxLogDen.persist()
    def score(df: org.apache.spark.sql.DataFrame) = graft.text.NgramLm.logProb(df, lm, "text", "doc_id")
      .selectExpr("doc_id", "cast(n_bigrams as long) n_bigrams", "lp_micro_sum", "log_ppl")
    val input = MemoryStream[(Long, String, String)]
    val out = runPerBatch(input, input.toDF().toDF("doc_id", "text", "lang"),
      docs.grouped(200).toSeq)(score)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_bigrams", "lp_micro_sum", "log_ppl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = rows(out)
    val want = rows(score(corpus))
    pairs.unpersist(); ctx.unpersist()
    // row-for-row parity, doubles bit-identical (same integer divide)
    assert(got == want, s"stream-batch diff: ${(got diff want) ++ (want diff got)}")
    assert(got.size == docs.size) // every doc has >= 2 tokens at this SF
  }

  test("streaming importance weights against a snapshot bucket table equals the batch report") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang")
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val lrTable = graft.text.ImportanceResampling.fitLogRatios(
      corpus, org.apache.spark.sql.functions.col("lang") === "en", "text").persist()
    def weigh(df: org.apache.spark.sql.DataFrame) = graft.text.ImportanceResampling.weights(
      df, lrTable, "text", "doc_id")
      .selectExpr("doc_id", "cast(n_grams as long) n_grams", "weight_nano")
    val input = MemoryStream[(Long, String, String)]
    val out = runPerBatch(input, input.toDF().toDF("doc_id", "text", "lang"),
      docs.grouped(200).toSeq)(weigh)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_grams", "weight_nano").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(out)
    val want = rows(weigh(corpus))
    lrTable.unpersist()
    assert(got == want, s"stream-batch diff: ${(got diff want) ++ (want diff got)}")
    assert(got.size == docs.size) // self-scoring: every doc's buckets were fitted
  }

  test("streaming quality gate against a snapshot model equals the batch report, keep set included") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang")
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // the q57 labeling: the doc_id%5==1 fifth is labeled, positive iff English
    val model = graft.text.QualityClassifier.fit(
      corpus,
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(5L)) === 1L,
        org.apache.spark.sql.functions.col("lang") === "en"),
      "text")
    def score(df: org.apache.spark.sql.DataFrame) =
      graft.text.QualityClassifier.score(df, model, "text", "doc_id")
        .selectExpr("doc_id", "cast(n_grams as long) n_grams", "score_nano", "prob_nano", "keep")
    val input = MemoryStream[(Long, String, String)]
    val out = runPerBatch(input, input.toDF().toDF("doc_id", "text", "lang"),
      docs.grouped(200).toSeq)(score)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_grams", "score_nano", "prob_nano", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSet
    val got = rows(out)
    val want = rows(score(corpus))
    assert(got == want, s"stream-batch diff: ${(got diff want) ++ (want diff got)}")
    assert(got.size == docs.size)
    // the Pareto gate must actually split the stream at this SF
    assert(got.exists(_._5) && got.exists(!_._5))
  }

  test("interval join runs unchanged on a point stream: parity with batch") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Static interval side (maintenance windows); streaming points.
    // The bucketed form is a stream-static equi-join + stateless
    // residual, so the BATCH operator applies directly — no wrapper
    // to drift (same convention as chunking / PII scrub parities).
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val intervals = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 06:00:00"), "w1"),
      (1L, ts("2024-01-01 04:00:00"), ts("2024-01-01 08:00:00"), "w2"),
      (2L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"), "w3")
    ).toDF("user_id", "lo", "hi", "win")
    val points = Seq(
      (1L, ts("2024-01-01 05:00:00"), 10.0), // w1 AND w2 (overlap)
      (1L, ts("2024-01-01 06:00:00"), 11.0), // w2 only (hi exclusive)
      (1L, ts("2024-01-01 23:00:00"), 12.0), // none (wrong time)
      (2L, ts("2024-01-01 23:59:59"), 13.0), // w3
      (2L, ts("2024-01-02 00:00:00"), 14.0)  // none (hi exclusive)
    )
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.ops.IntervalJoin.pointInInterval(
      input.toDF().toDF("user_id", "ts", "value"), intervals,
      "ts", "lo", "hi", keys = Seq("user_id"),
      bucketSeconds = 7200L, broadcastIntervals = true)
    val q = joined.writeStream.outputMode("append").format("memory").queryName("ivj").start()
    points.grouped(2).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "ts", "value", "win").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2), r.getString(3))).toSet
    val got = rows(spark.table("ivj"))
    val want = rows(graft.ops.IntervalJoin.pointInInterval(
      points.toDF("user_id", "ts", "value"), intervals,
      "ts", "lo", "hi", keys = Seq("user_id"),
      bucketSeconds = 7200L, broadcastIntervals = true))
    assert(got == want, s"stream-batch diff: ${(got diff want) ++ (want diff got)}")
    assert(got.map(_._4) == Set("w1", "w2", "w3"))
    assert(got.size == 4) // the 05:00 point matches two overlapping windows
  }

  test("chunking runs unchanged on a stream: parity with batch") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    // the BATCH operator applied directly to the stream — stateless
    // scan -> Generate, so no wrapper exists to drift (same convention
    // as the quality gate / PII scrub parities)
    val chunked = graft.text.Chunking.chunks(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", window = 64, stride = 48)
    val q = chunked.writeStream.outputMode("append").format("memory").queryName("chk").start()
    docs.grouped(100).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    val got = rows(spark.table("chk"))
    val want = rows(graft.text.Chunking.chunks(
      docs.toDF("doc_id", "text"), "text", "doc_id", window = 64, stride = 48))
    assert(got == want)
    assert(got.size > docs.size) // some documents really chunked into > 1 window
  }

  private def spanFixtureDocs(): Seq[(Long, String)] = {
    val base = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // welded boilerplate pair guarantees cross-doc duplicated spans
    // regardless of the fixture's own duplicate population
    val boiler = (1 to 10).map(i => s"bp$i").mkString(" ")
    base ++ Seq((900001L, s"$boiler unique1 tail1"), (900002L, s"$boiler unique2 tail2"))
  }

  test("streaming repeated-span scoring against a span-frequency snapshot equals batch docDupStats") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spanFixtureDocs()
    val corpus = docs.toDF("doc_id", "text")
    val snap = graft.text.RepeatedSpans.spanFrequency(corpus, "text", "doc_id", k = 8).persist()
    val input = MemoryStream[(Long, String)]
    val stream = StreamingOps.repeatedSpansStream(
      input.toDF().toDF("doc_id", "text"), snap, "text", "doc_id", k = 8)
    val q = stream.toDF().writeStream.outputMode("append").format("memory").queryName("rss").start()
    docs.grouped(100).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_spans", "dup_spans", "dup_ratio").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    val got = rows(spark.table("rss"))
    // stream emits only docs with >= 1 span position (see scaladoc)
    val want = rows(graft.text.RepeatedSpans.docDupStats(corpus, "text", "doc_id", k = 8)
      .filter(col("n_spans") > 0))
    snap.unpersist()
    assert(got == want, s"stream-batch diff: ${(got diff want) ++ (want diff got)}")
    assert(got.exists(_._3 > 0)) // the welded pair really flags
  }

  test("streaming span pruning against the snapshot equals batch pruneSpans, keeper exemption included") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spanFixtureDocs()
    val corpus = docs.toDF("doc_id", "text")
    val snap = graft.text.RepeatedSpans.spanFrequency(corpus, "text", "doc_id", k = 8).persist()
    val input = MemoryStream[(Long, String)]
    val out = runPerBatch(input, input.toDF().toDF("doc_id", "text"), docs.grouped(100).toSeq)(
      graft.text.RepeatedSpans.pruneSpansWith(_, snap, "text", "doc_id", k = 8))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens", "n_removed", "pruned_text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val got = rows(out)
    val want = rows(graft.text.RepeatedSpans.pruneSpans(corpus, "text", "doc_id", k = 8))
    snap.unpersist()
    assert(got == want, s"stream-batch diff: ${(got diff want) ++ (want diff got)}")
    // keeper kept its boilerplate, the other welded doc lost exactly it
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(900001L)._3 == 0)
    assert(byId(900002L)._3 == 10 && byId(900002L)._4 == "unique2 tail2")
  }

  test("quality gate runs unchanged on a stream: gophered parity with batch") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    // the BATCH gate applied directly to the stream — stateless scan,
    // and its pushdown barrier must be streaming-legal
    val gated = graft.text.QualityFilters.gophered(
      input.toDF().toDF("doc_id", "text"), "text")
    val q = gated.writeStream.outputMode("append").format("memory").queryName("qgate").start()
    docs.grouped(20).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("qgate").select("doc_id").collect().map(_.getLong(0)).toSet
    val want = graft.text.QualityFilters.gophered(
      docs.toDF("doc_id", "text"), "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < docs.size) // the gate actually filtered
  }

  test("streaming temperature mixing with a snapshot rate table equals the batch row set") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang")
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // pass 1 snapshotted from the corpus the mixture was designed on;
    // pass 2 is the stateless batch function applied to the stream
    val thresholds = Sampling.mixThresholds(corpus, "lang", k = 4.0).persist()
    val input = MemoryStream[(Long, String)]
    val stream = Sampling.temperatureMixWith(
      input.toDF().toDF("doc_id", "lang"), thresholds, "doc_id", "lang", seed = 7L)
    val q = stream.writeStream.outputMode("append").format("memory").queryName("mix").start()
    docs.grouped(200).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("mix").select("doc_id").collect().map(_.getLong(0)).toSet
    val want = Sampling.temperatureMix(corpus, "doc_id", "lang", k = 4.0, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    thresholds.unpersist()
    assert(got == want)
    assert(got.nonEmpty && got.size < docs.size) // the mixer actually downsampled
  }

  test("streaming BM25 against a snapshot idf/stats equals the batch score, integers included") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val terms = Seq("spark", "vector", "dup")
    // fit snapshotted from the corpus the query set was designed on
    val stats = graft.text.Bm25.corpusStats(corpus, "text")
    val idf = graft.text.Bm25.fitIdf(corpus, "text", terms, stats).persist()
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val got = runPerBatch(input, input.toDF().toDF("doc_id", "text"), docs.grouped(20).toSeq)(
      graft.text.Bm25.scoreWith(_, idf, stats, "text", "doc_id", terms))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    idf.unpersist()
    val want = graft.text.Bm25.score(corpus, "text", "doc_id", terms).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming domain cap admits first arrivals, bounds every domain, matches batch counts") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source")
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val stream = StreamingOps.domainCapStream(
      input.toDF().toDF("doc_id", "source"), "doc_id", "source", cap = 2)
    val q = stream.writeStream.outputMode("append").format("memory").queryName("dcap").start()
    docs.grouped(7).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("dcap").collect().map(r => (r.getLong(0), r.getString(1)))
    // cap bound holds per domain ACROSS batches
    val perDom = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perDom.values.forall(_ <= 2), perDom)
    // kept COUNTS equal the batch operator's (min(cap, n_d) per domain)
    val batchCounts = graft.ops.Sampling.domainCap(corpus, "doc_id", "source", cap = 2)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDom.map { case (k, v) => k -> v.toLong } == batchCounts)
    // arrival order: the admitted ids are the first arrivals per domain
    val expected = docs.grouped(7).flatMap(_.sortBy(_._1)).toSeq
      .groupBy(_._2).flatMap { case (_, rs) => rs.take(2) }.toSet
    assert(got.toSet == expected.map { case (id, d) => (id, d) })
  }

  test("streaming length batching: same buckets, same batch-size multiset as the batch form") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
    val batch = graft.text.LengthBatching.assignBatches(
      corpus, "text", "doc_id", bucketWidth = 32, batchSize = 16).cache()
    try {
      val docs = batch.select("doc_id", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val input = MemoryStream[(Long, Long)]
      val stream = StreamingOps.lengthBatchingStream(
        input.toDF().toDF("id", "n_tokens"), "id", "n_tokens", bucketWidth = 32, batchSize = 16)
      val q = stream.writeStream.outputMode("append").format("memory").queryName("lbat").start()
      docs.grouped(23).foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()
      val got = spark.table("lbat").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      // bucket assignment is EXACTLY the batch function
      val batchBuckets = batch.select("doc_id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.forall { case (id, bk, _) => batchBuckets(id) == bk })
      // per-(bucket, batch) size multiset matches the batch operator's
      def sizes(xs: Iterable[(Long, Long)]) =
        xs.groupBy(identity).values.map(_.size).toSeq
          .groupBy(identity).view.mapValues(_.size).toMap
      val gotSizes = sizes(got.map { case (_, bk, b) => (bk, b) })
      val wantSizes = sizes(batch.select("bucket", "batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))))
      assert(gotSizes == wantSizes, s"$gotSizes != $wantSizes")
    } finally { batch.unpersist(); () }
  }

  test("streaming per-suite decontamination matches the batch attribution row-for-row") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
    val corpus = all.filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
    val bench = all.filter(pmod(col("doc_id"), lit(97L)) === 0L)
      .withColumnRenamed("source", "suite")
    val snapshot = bench.select("text", "suite").persist()
    def bySuite(df: DataFrame) =
      graft.text.Decontamination.reportBySuite(df, snapshot, "text", "doc_id", "suite")
    val docs = corpus.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("suite")) ->
        (r.getAs[Int]("n_ngrams"), r.getAs[Long]("n_hits"),
          r.getAs[Double]("overlap_frac"), r.getAs[Int]("flagged"))
    val got = runPerBatch(input, input.toDF().toDF("doc_id", "text"), docs.grouped(31).toSeq)(bySuite)
      .collect().map(key).toMap
    val want = graft.text.Decontamination
      .reportBySuite(corpus, bench, "text", "doc_id", "suite")
      .collect().map(key).toMap
    assert(got == want)
    assert(got.nonEmpty)
    // a null-text record emits nothing and does not fail its batch
    val input2 = MemoryStream[(Long, String)]
    val nullable = input2.toDF().toDF("doc_id", "text")
      .withColumn("text", when(col("doc_id") === -1L, lit(null: String)).otherwise(col("text")))
    val out2 = runPerBatch(input2, nullable, Seq(Seq((-1L, "ignored"), docs.head)))(bySuite)
    assert(out2.filter(col("doc_id") === -1L).count() == 0)
    snapshot.unpersist()
  }

  test("cycle stream matches batch labelCycles on NULL event types (SQL null semantics)") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // batch change detector is null-safe (prev IS DISTINCT FROM cur,
    // the oracle SQL's own form): a null state is a state value, so
    // the null RUN is one cycle and entering/leaving it changes
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      StreamingOps.EventIn(1L, t(1), 7L, "run", 1.0),
      StreamingOps.EventIn(2L, t(2), 7L, null, 1.0),
      StreamingOps.EventIn(3L, t(3), 7L, null, 1.0),
      StreamingOps.EventIn(4L, t(4), 7L, "run", 1.0))
    val batch = graft.ops.Segmentation.labelCycles(
      events.toDF(), Seq("user_id"), Seq(col("ts"), col("event_id")), "event_type")
      .select("event_id", "cycle").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val input = MemoryStream[StreamingOps.EventIn]
    val q = StreamingOps.cycleLabelStream(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("nullcyc").start()
    events.grouped(2).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("nullcyc").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("cycle")).toMap
    assert(got == batch, s"stream $got vs batch $batch")
    assert(batch == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L))
  }

  test("TTL near-dup stream enforces the pairwise event-time horizon within one micro-batch") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // identical texts -> same band buckets; A and B are 10h apart in
    // EVENT time but arrive in the SAME micro-batch (watermark still
    // behind both) — the documented ttl horizon must drop the pair;
    // C is within the horizon of B and must pair
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = StreamingOps.minhashCandidatesStreamTtl(
      input.toDF().toDF("doc_id", "ts", "text"), "text", "doc_id", "ts",
      ttlMs = 3600000L)
    val q = stream.writeStream.outputMode("append").format("memory").queryName("ttlpair").start()
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    input.addData(Seq(
      (1L, t("2025-01-01 00:00:00"), text),
      (2L, t("2025-01-01 10:00:00"), text),
      (3L, t("2025-01-01 10:30:00"), text)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ttlpair").select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 3L)), s"only the within-horizon pair may surface: $pairs")
  }

  test("per-suite/minhash streams survive null-text records (no poison pill)") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val nullable = input.toDF().toDF("doc_id", "text")
      .withColumn("text", when(col("doc_id") < 0L, lit(null: String)).otherwise(col("text")))
    val q = StreamingOps.minhashCandidatesStream(nullable, "text", "doc_id")
      .writeStream.outputMode("append").format("memory").queryName("nullmh").start()
    // two null-text docs would have shared the constant null-sig band
    // hash and NPE'd in the pairing loop before the filter
    input.addData(Seq((-1L, "x"), (-2L, "x"), (10L, "a b c d e"), (11L, "a b c d e")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("nullmh").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids == Set((10L, 11L)), ids.toString)
  }

  test("pruneSpansStream keepFirst=false scrubs null-keeper flagged spans everywhere (batch parity)") {
    import sqlImplicits._
    // snapshot-only shape: span keys with NULL keeper
    val docs = Seq((1L, "a b c d e"), (2L, "a b c z z")).toDF("doc_id", "text")
    val snapshot = Seq(("a b c", None: Option[Long], 2L)).toDF("span", "keeper", "n_docs")
    val got = graft.text.RepeatedSpans.pruneSpansWith(docs, snapshot, "text", "doc_id", k = 3,
      keepFirst = false)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(1L -> "d e", 2L -> "z z"), got.toString)
  }

  test("streaming BPE encode matches the batch encoder token-for-token") {
    import sqlImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = graft.sources.Sources.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val model = graft.text.BpeTokenizer.fit(corpus, "text", numMerges = 50, maxVocab = 2000)
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val got = runPerBatch(input, input.toDF().toDF("doc_id", "text"), docs.grouped(17).toSeq)(
      graft.text.BpeTokenizer.encode(_, "text", "doc_id", model))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](r.fieldIndex("token_ids")).toList).toMap
    val want = graft.text.BpeTokenizer.encode(corpus, "text", "doc_id", model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](r.fieldIndex("token_ids")).toList).toMap
    assert(got == want)
    assert(got.nonEmpty && got.values.exists(_.nonEmpty))
  }
}
