package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The fixed-seed lifecycles [[SeenIndexLayoutSpec]] pins the on-disk
  * layout of: every family x delivery x retention x signature-mode
  * combination of the [[SeenIndex]] surface, each direct append form,
  * and each compaction form. Every case writes under its own `root`
  * (`idx` = the index, `out` = the gate output, `ckpt` = the stream
  * checkpoint, which the spec does not render). This file holds only
  * the CALLS; the spec holds the expected layouts, so an API rename
  * touches this file and leaves the pinned layouts alone.
  */
object SeenIndexLayoutCases {

  private val rnd = new scala.util.Random(20)
  private def words(prefix: String) =
    (1 to 40).map(_ => s"$prefix${rnd.nextInt(10000)}").mkString(" ")

  // fixed-seed corpus: batch 2 re-sends one batch-1 doc and adds a novel one
  private val textA = words("a"); private val textB = words("b"); private val textC = words("c")
  private val sig0 = 0x0123456789abcdefL
  private val dim = 8
  private val planes = graft.similarity.Similarity.hyperplanes(dim, numPlanes = 64)
  private def unit(i: Int): Seq[Float] = Seq.tabulate(dim)(j => if (j == i) 1f else 0f)
  private val zero: Seq[Float] = Seq.fill(dim)(0f)

  private def texts1(s: SparkSession) = { import s.implicits._; Seq((1L, textA), (2L, textB)).toDF("doc_id", "text") }
  private def texts2(s: SparkSession) = { import s.implicits._; Seq((3L, textA), (4L, textC)).toDF("doc_id", "text") }
  private def hashes1(s: SparkSession) = { import s.implicits._; Seq((1L, sig0), (2L, ~sig0)).toDF("media_id", "ahash") }
  private def hashes2(s: SparkSession) = { import s.implicits._; Seq((3L, sig0 ^ 3L), (4L, sig0 ^ 0xffffffffL)).toDF("media_id", "ahash") }
  private def vecs1(s: SparkSession) = { import s.implicits._; Seq((1L, unit(0)), (2L, unit(1)), (3L, zero)).toDF("vec_id", "embedding") }
  private def vecs2(s: SparkSession) = { import s.implicits._; Seq((4L, unit(0)), (5L, unit(3))).toDF("vec_id", "embedding") }

  /** Two micro-batches through a stream loop, one trigger each; `tick`
    * runs before each batch (the windowed loops' fake clock).
    */
  private def twoBatches[T <: Product : org.apache.spark.sql.Encoder](
      s: SparkSession, b1: Seq[T], b2: Seq[T], cols: Seq[String], tick: Int => Unit = _ => ())(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[T]
    val q = start(in.toDF().toDF(cols: _*))
    try Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      tick(i); in.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
  }
  private val textRows = (Seq((1L, textA), (2L, textB)), Seq((3L, textA), (4L, textC)))
  private val hashRows = (Seq((1L, sig0), (2L, ~sig0)), Seq((3L, sig0 ^ 3L), (4L, sig0 ^ 0xffffffffL)))
  private val vecRows = (Seq((1L, unit(0)), (2L, unit(1)), (3L, zero)), Seq((4L, unit(0)), (5L, unit(3))))

  private def batch(r: => DataFrame): Unit = graft.core.CacheScope.run(SparkSession.active)(r.count())

  import SeenIndex.{Auto, AutoAbove, Cached, Embedding, Hamming, Live, Simhash, Vectors, Window}
  private def emb(signatures: SeenIndex.Signatures, vecCol: String = "embedding", idCol: String = "vec_id") =
    Embedding(vecCol, idCol, threshold = 0.9, planes = planes, broadcastVerify = true, signatures = signatures)
  private val text = Simhash("text")
  private val ahash = Hamming("ahash")

  /** case name -> (spark, root) => run the lifecycle. */
  val cases: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // ---- direct appends ----
    "append/sig" -> { (s, r) =>
      import s.implicits._
      SeenIndex.append(Seq(Some(1L), None, Some(1L), Some(2L)).toDF("sig"), Hamming("sig"), s"$r/idx")
      SeenIndex.append(Seq(2L, 3L).toDF("sig"), Hamming("sig"), s"$r/idx", Some(4L))
      SeenIndex.append(Seq(3L, 5L).toDF("sig"), Hamming("sig"), s"$r/idx", Some(6L), Some(700L))
    },
    "append/vec" -> { (s, r) =>
      import s.implicits._
      val v = Seq((1L, unit(0)), (2L, unit(1))).toDF("id", "vec")
      SeenIndex.append(v, Vectors("vec", "id"), s"$r/idx")
      SeenIndex.append(v, Vectors("vec", "id"), s"$r/idx", Some(4L))
      SeenIndex.append(v, Vectors("vec", "id"), s"$r/idx", Some(6L), Some(700L))
    },
    // ---- batch gates ----
    "batch/simhash/forever" -> { (s, r) =>
      batch(SeenIndex.gateAndUpdate(texts1(s), text, s"$r/idx"))
      batch(SeenIndex.gateAndUpdate(texts2(s), text, s"$r/idx"))
    },
    "batch/simhash/window" -> { (s, r) =>
      batch(SeenIndex.gateAndUpdate(texts1(s), text, s"$r/idx", Some(Window(1L, 0L))))
      batch(SeenIndex.gateAndUpdate(texts2(s), text, s"$r/idx", Some(Window(10L, 5L))))
    },
    "batch/hamming/forever" -> { (s, r) =>
      batch(SeenIndex.gateAndUpdate(hashes1(s), ahash, s"$r/idx"))
      batch(SeenIndex.gateAndUpdate(hashes2(s), ahash, s"$r/idx"))
    },
    "batch/hamming/window" -> { (s, r) =>
      batch(SeenIndex.gateAndUpdate(hashes1(s), ahash, s"$r/idx", Some(Window(1L, 0L))))
      batch(SeenIndex.gateAndUpdate(hashes2(s), ahash, s"$r/idx", Some(Window(2L, 1L))))
    },
    "batch/embedding/forever/live" -> { (s, r) =>
      Seq(vecs1(s), vecs2(s)).foreach(b => batch(SeenIndex.gateAndUpdate(b, emb(Live), s"$r/idx")))
    },
    "batch/embedding/window/live" -> { (s, r) =>
      Seq((vecs1(s), 1L, 0L), (vecs2(s), 10L, 5L)).foreach { case (b, e, m) =>
        batch(SeenIndex.gateAndUpdate(b, emb(Live), s"$r/idx", Some(Window(e, m))))
      }
    },
    "batch/embedding/forever/cached" -> { (s, r) =>
      Seq(vecs1(s), vecs2(s)).foreach(b => batch(SeenIndex.gateAndUpdate(b, emb(Cached), s"$r/idx")))
    },
    "batch/embedding/forever/auto-below-floor" -> { (s, r) =>
      Seq(vecs1(s), vecs2(s)).foreach(b => batch(SeenIndex.gateAndUpdate(b, emb(Auto), s"$r/idx")))
    },
    "batch/embedding/forever/auto-above-floor" -> { (s, r) =>
      Seq(vecs1(s), vecs2(s)).foreach(b =>
        batch(SeenIndex.gateAndUpdate(b, emb(AutoAbove(1L)), s"$r/idx")))
    },
    "dry-run/embedding/cached" -> { (s, r) =>
      batch(SeenIndex.gateAndUpdate(vecs1(s), emb(Live), s"$r/idx"))
      batch(SeenIndex.dropSeen(vecs2(s), emb(Cached), s"$r/idx"))
    },
    // ---- at-least-once streams ----
    "stream/simhash" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, textRows._1, textRows._2, Seq("doc_id", "text"))(
        SeenIndex.gateStream(_, text, s"$r/idx", s"$r/out", s"$r/ckpt"))
    },
    "stream/hamming" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, hashRows._1, hashRows._2, Seq("media_id", "ahash"))(
        SeenIndex.gateStream(_, ahash, s"$r/idx", s"$r/out", s"$r/ckpt"))
    },
    "stream/embedding/live" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, vecRows._1, vecRows._2, Seq("vec_id", "embedding"))(
        SeenIndex.gateStream(_, emb(Live), s"$r/idx", s"$r/out", s"$r/ckpt"))
    },
    "stream/embedding/cached" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, vecRows._1, vecRows._2, Seq("vec_id", "embedding"))(
        SeenIndex.gateStream(_, emb(Cached), s"$r/idx", s"$r/out", s"$r/ckpt"))
    },
    "stream/embedding/auto" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, vecRows._1, vecRows._2, Seq("vec_id", "embedding"))(
        SeenIndex.gateStream(_, emb(AutoAbove(1L)), s"$r/idx", s"$r/out", s"$r/ckpt"))
    },
    // ---- exactly-once streams ----
    "exactly-once/simhash/forever" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, textRows._1, textRows._2, Seq("doc_id", "text"))(
        SeenIndex.gateStreamSimhashExactlyOnce(_, "text", s"$r/idx", s"$r/out", s"$r/ckpt"))
    },
    "exactly-once/hamming/forever" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, hashRows._1, hashRows._2, Seq("media_id", "ahash"))(
        SeenIndex.gateStreamExactlyOnce(_, ahash, s"$r/idx", s"$r/out", s"$r/ckpt"))
    },
    "exactly-once/embedding/forever/live" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, vecRows._1, vecRows._2, Seq("vec_id", "embedding"))(
        SeenIndex.gateStreamExactlyOnce(_, emb(Live), s"$r/idx", s"$r/out", s"$r/ckpt"))
    },
    "exactly-once/embedding/forever/cached" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, vecRows._1, vecRows._2, Seq("vec_id", "embedding"))(
        SeenIndex.gateStreamExactlyOnce(_, emb(Cached), s"$r/idx", s"$r/out", s"$r/ckpt"))
    },
    "exactly-once/simhash/window" -> { (s, r) =>
      import s.implicits._
      var now = 100L
      twoBatches(s, textRows._1, textRows._2, Seq("doc_id", "text"), i => now = 100L + 150L * i)(
        SeenIndex.gateStreamExactlyOnce(_, text, s"$r/idx", s"$r/out", s"$r/ckpt",
          windowAge = Some(100L), clock = () => now))
    },
    "exactly-once/hamming/window" -> { (s, r) =>
      import s.implicits._
      var now = 100L
      twoBatches(s, hashRows._1, hashRows._2, Seq("media_id", "ahash"), i => now = 100L + 50L * i)(
        SeenIndex.gateStreamExactlyOnce(_, ahash, s"$r/idx", s"$r/out", s"$r/ckpt",
          windowAge = Some(100L), clock = () => now))
    },
    "exactly-once/embedding/window/live" -> { (s, r) =>
      import s.implicits._
      var now = 100L
      twoBatches(s, vecRows._1, vecRows._2, Seq("vec_id", "embedding"), i => now = 100L + 50L * i)(
        SeenIndex.gateStreamExactlyOnce(_, emb(Live), s"$r/idx", s"$r/out", s"$r/ckpt",
          windowAge = Some(100L), clock = () => now))
    },
    "exactly-once/embedding/window/cached" -> { (s, r) =>
      import s.implicits._
      var now = 100L
      twoBatches(s, vecRows._1, vecRows._2, Seq("vec_id", "embedding"), i => now = 100L + 50L * i)(
        SeenIndex.gateStreamExactlyOnce(_, emb(Cached), s"$r/idx", s"$r/out", s"$r/ckpt",
          windowAge = Some(100L), clock = () => now))
    },
    "exactly-once/embedding/window/auto" -> { (s, r) =>
      import s.implicits._
      var now = 100L
      twoBatches(s, vecRows._1, vecRows._2, Seq("vec_id", "embedding"), i => now = 100L + 50L * i)(
        SeenIndex.gateStreamExactlyOnce(_, emb(AutoAbove(1L)), s"$r/idx", s"$r/out", s"$r/ckpt",
          windowAge = Some(100L), clock = () => now))
    },
    // ---- compaction forms ----
    "compact/sig" -> { (s, r) =>
      batch(SeenIndex.gateAndUpdate(texts1(s), text, s"$r/idx", Some(Window(1L, 0L))))
      batch(SeenIndex.gateAndUpdate(texts1(s), text, s"$r/idx", Some(Window(10L, 5L))))
      batch(SeenIndex.gateAndUpdate(texts2(s), text, s"$r/idx"))
      SeenIndex.compact(s, text, s"$r/idx")
    },
    "compact/vec" -> { (s, r) =>
      import s.implicits._
      SeenIndex.append(Seq((9L, unit(6))).toDF("id", "vec"), Vectors("vec", "id"), s"$r/idx", Some(2L))
      Seq(vecs1(s), vecs2(s)).foreach(b => batch(SeenIndex.gateAndUpdate(b, emb(Cached), s"$r/idx")))
      SeenIndex.append(Seq((9L, unit(6))).toDF("id", "vec"), Vectors("vec", "id"), s"$r/idx", Some(3L))
      SeenIndex.ensureSigCache(s, s"$r/idx", planes)
      SeenIndex.compact(s, Vectors("embedding", "vec_id"), s"$r/idx")
    },
    "compact/sig-windowed" -> { (s, r) =>
      import s.implicits._
      var now = 100L
      twoBatches(s, textRows._1, textRows._2, Seq("doc_id", "text"), i => now = 100L + 150L * i)(
        SeenIndex.gateStreamExactlyOnce(_, text, s"$r/idx", s"$r/out", s"$r/ckpt",
          windowAge = Some(100L), clock = () => now))
      SeenIndex.append(Seq(7L, 7L).toDF("sig"), Hamming("sig"), s"$r/idx", Some(9L), Some(120L))
      SeenIndex.compact(s, text, s"$r/idx", windowed = true)
      SeenIndex.compact(s, text, s"$r/idx", windowed = true, dropAdmittedBefore = Some(150L))
    },
    "compact/vec-windowed" -> { (s, r) =>
      import s.implicits._
      var now = 100L
      twoBatches(s, vecRows._1, vecRows._2, Seq("vec_id", "embedding"), i => now = 100L + 150L * i)(
        SeenIndex.gateStreamExactlyOnce(_, emb(Cached), s"$r/idx", s"$r/out", s"$r/ckpt",
          windowAge = Some(100L), clock = () => now))
      SeenIndex.compact(s, Vectors("embedding", "vec_id"), s"$r/idx", windowed = true, dropAdmittedBefore = Some(150L))
    },
    "compact/ledger" -> { (s, r) =>
      import s.implicits._
      twoBatches(s, textRows._1, textRows._2, Seq("doc_id", "text"))(
        SeenIndex.gateStreamSimhashExactlyOnce(_, "text", s"$r/idx", s"$r/out", s"$r/ckpt"))
      SeenIndex.compactLedger(s, s"$r/idx", keepLast = 1)
    })
}
