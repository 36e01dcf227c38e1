package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators with planted truth. Pure Scala: no Spark,
  * so the digests and the planted truth can be checked without a
  * session. Each generator returns its rows, what was planted in
  * them, and a SHA-256 digest over a canonical text form of the rows
  * (the same seed gives the same digest on any JVM).
  */
object Gen {

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(fields: Any*): Unit = md.update((fields.mkString("\t") + "\n").getBytes(UTF_8))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Pseudo-words: seeded syllable strings, 4-10 letters, no repeats. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "dra", "pel", "qui", "zon",
      "bar", "tek", "wum", "fa", "gor", "hix", "jo", "yel")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val k = 2 + r.nextInt(3)
      seen += (0 until k).map(_ => syll(r.nextInt(syll.length))).mkString + ('a' + r.nextInt(26)).toChar
    }
    seen.toArray
  }

  // ------------------------------------------------------------ hvac

  /** One HVAC stage as planted: its power level(s) in watts and
    * whether its cycles alternate between two levels.
    */
  final case class Stage(name: String, levels: Seq[Double], bimodal: Boolean)

  final case class HvacRow(eventId: Long, tsMinute: Long, device: Long, stage: String, watts: Double)

  /** `cycles`: the planted valid cycles (active runs of at least
    * `MinCycleRows` minutes) per (device, stage).
    */
  final case class Fleet(rows: Array[HvacRow], stages: Seq[Stage], cycles: Map[(Long, String), Int], digest: String)

  val HvacStageNames: Seq[String] =
    Seq("cool_stage1", "cool_stage2", "heat_stage1", "heat_stage2", "fan_only", "aux_heat")
  val OffStage = "off"
  /** Uniform per-row jitter of a stage's power level, as a share. */
  val HvacNoise = 0.02
  /** The pipeline's valid-cycle filter keeps cycles of at least this
    * many rows; only the run cut off at the end of a device's period
    * can be shorter.
    */
  val MinCycleRows = 4

  /** `devices` x `days` of minute-level rows. Active cycles (6-40 min)
    * alternate with off cycles (5-30 min, 0 W, which the pipeline's
    * valid-cycle filter drops). Every device starts at minute 0 and
    * numbers its cycles from the start, so cycle numbers repeat across
    * devices. Each active stage has a planted level, the same on every
    * device, in 200-13000 W with +/- `HvacNoise` uniform jitter per row; two of
    * the six stages are bimodal: 30% of their cycles run at 1.6x the
    * level, so the pipeline must call them High and give them no
    * threshold. The fixed 70/30 split keeps every stage on the same
    * classification path (the mixture test, not the spread shortcut)
    * whatever the seed, so seeds change the rows but not the work.
    */
  def fleet(seed: Long, devices: Int, days: Int): Fleet = {
    val r = rng(seed, 1)
    val bimodal = r.ints(0, HvacStageNames.size).distinct().limit(2).toArray.toSet
    val stages = HvacStageNames.zipWithIndex.map { case (name, i) =>
      val base = 200.0 + r.nextDouble() * 7800.0
      if (bimodal(i)) Stage(name, Seq(base, base * 1.6), bimodal = true)
      else Stage(name, Seq(base), bimodal = false)
    }
    val minutes = days.toLong * 24 * 60
    val rows = new Array[HvacRow]((devices * minutes).toInt)
    val d = new Digest
    val cycles = scala.collection.mutable.Map.empty[(Long, String), Int].withDefaultValue(0)
    var i = 0
    for (dev <- 0 until devices) {
      var m = 0L
      var active = r.nextBoolean()
      while (m < minutes) {
        val len = if (active) 6 + r.nextInt(35) else 5 + r.nextInt(26)
        val (stage, level) =
          if (!active) (OffStage, 0.0)
          else {
            val s = stages(r.nextInt(stages.size))
            (s.name, if (s.bimodal && r.nextDouble() < 0.3) s.levels(1) else s.levels.head)
          }
        var k = 0
        while (k < len && m < minutes) {
          val w = if (level == 0.0) 0.0 else math.round(level * (1.0 + HvacNoise * (2 * r.nextDouble() - 1))).toDouble
          val row = HvacRow(i.toLong, m, dev.toLong, stage, w)
          rows(i) = row
          d.add(row.eventId, row.tsMinute, row.device, row.stage, row.watts)
          i += 1; m += 1; k += 1
        }
        if (active && k >= MinCycleRows) cycles((dev.toLong, stage)) += 1
        active = !active
      }
    }
    Fleet(rows, stages, cycles.toMap, d.hex)
  }

  // ------------------------------------------------------- documents

  final case class Doc(id: Long, text: String, lang: String)

  /** A planted duplicate cluster: every member but one must go. */
  final case class Cluster(kind: String, ids: Seq[Long])

  final case class Corpus(docs: Array[Doc], clusters: Seq[Cluster], digest: String)

  val Langs: Seq[(String, Double)] = Seq("en" -> 0.55, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.15)
  private val Stopwords: Map[String, Seq[String]] = graft.text.TextAnalysis.stopwords

  private def pickLang(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var acc = 0.0
    Langs.find { case (_, p) => acc += p; u < acc }.map(_._1).getOrElse(Langs.last._1)
  }

  private def docTokens(r: SplittableRandom, vocab: Array[String], lang: String): Array[String] = {
    val n = 60 + r.nextInt(81)
    val stop = Stopwords(lang)
    Array.fill(n)(if (r.nextDouble() < 0.2) stop(r.nextInt(stop.size)) else vocab(r.nextInt(vocab.length)))
  }

  /** Shares of a corpus in exact- and in near-duplicate clusters. */
  val ExactShare = 0.1
  val NearShare = 0.1

  /** `n` docs in four languages: `ExactShare` of them are members of
    * exact-duplicate clusters (copies that differ only in case and
    * spacing) and `NearShare` members of near-duplicate clusters
    * (copies with ~3% of tokens replaced), cluster sizes 2-5; every
    * other doc is unique. The shares are fixed so that seeds change
    * the docs but not the amount of dedup work. Ids are a seeded
    * permutation, so cluster members are scattered over the id range.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 2)
    val vocab = vocabulary(r, 30000)
    val groups = ArrayBuffer.empty[(String, Seq[Doc])]
    val quota = scala.collection.mutable.Map("exact" -> math.round(n * ExactShare).toInt,
      "near" -> math.round(n * NearShare).toInt)
    quota("unique") = n - quota("exact") - quota("near")
    var produced = 0
    while (produced < n) {
      val open = Seq("exact", "near", "unique").filter(quota(_) > 0)
      val kind = open(r.nextInt(open.size))
      // a cluster never leaves a single doc of its quota behind
      val k = if (kind == "unique") 1 else {
        val left = quota(kind)
        if (left <= 5) left else math.min(2 + r.nextInt(4), left - 2)
      }
      quota(kind) -= k
      val lang = pickLang(r)
      val base = docTokens(r, vocab, lang)
      val members = (0 until k).map { j =>
        val toks =
          if (j == 0 || kind == "unique") base
          else if (kind == "exact")
            base.zipWithIndex.map { case (t, i) => if (i % 7 == j % 7) t.toUpperCase else t }
          else {
            val c = base.clone()
            val edits = math.max(1, c.length * 3 / 100)
            (0 until edits).foreach(_ => c(r.nextInt(c.length)) = vocab(r.nextInt(vocab.length)))
            c
          }
        val sep = if (kind == "exact" && j > 0) "  " else " "
        Doc(-1L, toks.mkString(sep), lang)
      }
      groups += kind -> members
      produced += k
    }
    val ids = shuffledIds(r, produced)
    var next = 0
    val docs = ArrayBuffer.empty[Doc]
    val clusters = ArrayBuffer.empty[Cluster]
    groups.foreach { case (kind, members) =>
      val placed = members.map { m => val d = m.copy(id = ids(next)); next += 1; d }
      docs ++= placed
      clusters += Cluster(kind, placed.map(_.id))
    }
    val sorted = docs.sortBy(_.id).toArray
    val d = new Digest
    sorted.foreach(x => d.add(x.id, x.lang, x.text))
    Corpus(sorted, clusters.toSeq, d.hex)
  }

  private def shuffledIds(r: SplittableRandom, n: Int): Array[Long] = {
    val a = Array.tabulate(n)(_.toLong)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  // ---------------------------------------------------------- ingest

  /** One micro-batch of the ingest stream: fresh docs never seen
    * before and re-sent copies (same id, same text) of docs admitted
    * by earlier batches.
    */
  final case class Batch(index: Int, fresh: Seq[Doc], resent: Seq[Doc], digest: String) {
    def docs: Seq[Doc] = fresh ++ resent
  }

  /** Share of a batch that re-sends docs of earlier batches. */
  val ResentShare = 0.3

  /** Batches on demand, in order: `batchDocs` docs each; from batch 1
    * on, `ResentShare` of them re-send docs drawn from all fresh docs
    * of earlier batches. Fresh texts are 40-80 tokens from a large
    * vocabulary, so their simhashes are far apart.
    */
  final class IngestStream(seed: Long, batchDocs: Int) {
    private val r = rng(seed, 3)
    private val vocab = vocabulary(r, 60000)
    private val history = ArrayBuffer.empty[Doc]
    private var nextId = 0L
    private var produced = 0

    def next(): Batch = {
      val nResent = if (history.isEmpty) 0 else math.min(history.size, math.round(batchDocs * ResentShare).toInt)
      val fresh = (0 until batchDocs - nResent).map { _ =>
        val n = 40 + r.nextInt(41)
        val d = Doc(nextId, Array.fill(n)(vocab(r.nextInt(vocab.length))).mkString(" "), "und")
        nextId += 1
        d
      }
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < nResent) picked += r.nextInt(history.size)
      val resent = picked.toSeq.map(history)
      history ++= fresh
      val d = new Digest
      (fresh ++ resent).foreach(x => d.add(x.id, x.text))
      val b = Batch(produced, fresh, resent, d.hex)
      produced += 1
      b
    }
  }
}
