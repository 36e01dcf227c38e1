package graft.dedup

import graft.core.{CacheScope, IndexLayout}
import graft.similarity.Similarity
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** A DURABLE seen-signature index — the cross-RUN state behind the
  * dropSeen ingest gates. The in-memory gates
  * ([[Dedup.dropSeenHamming]] and friends) answer "is this batch row
  * near anything in that reference frame"; a production ingest
  * pipeline runs DAILY, and its reference is every signature ever
  * admitted — state that must outlive the session. This object gives
  * that state a layout and a lifecycle:
  *
  *   - LAYOUT: a parquet directory of key rows — `(sig: Long)` for the
  *     signature families, `(id, vec)` for embeddings — optionally
  *     tagged (see [[tagged]]). Appends may duplicate keys across
  *     epochs — readers never care, because every gate collapses to
  *     DISTINCT keys before joining, so compaction is an optimization,
  *     not a correctness step.
  *   - LIFECYCLE: read index → gate the batch → append the ADMITTED
  *     rows' keys → return the admitted rows. The append is the
  *     transition that makes a re-ingest of today's batch tomorrow gate
  *     to zero.
  *
  * ONE PROTOCOL OVER THREE FAMILIES. An [[IndexFamily]] — [[Simhash]],
  * [[Hamming]] or [[Embedding]] — owns what differs per kind of
  * signature: the on-disk keys, the filtered read, the tagged append,
  * the gate and the compaction grain. Reads, appends and compactions
  * need only the keys ([[IndexKeys]]; [[Vectors]] names a vector
  * index's columns without gate settings). Three drivers run any family:
  * [[gateAndUpdate]] (one batch epoch, optionally with a retention
  * [[Window]]), [[gateStream]] (the at-least-once streaming loop) and
  * [[gateStreamExactlyOnce]] (the ledgered loop, optionally windowed
  * on the admission clock) — the Structured Streaming design of one
  * offset/commit-log protocol over idempotent sinks.
  *
  * WITHIN-batch duplicates are deliberately out of scope: two copies
  * of a NOVEL document arriving in the same batch both pass (neither
  * is in history yet). Same-batch dedup is [[Dedup.exactDedup]] /
  * [[Dedup.hammingPairs]]' job; the gate's contract is strictly "not
  * seen in any PRIOR epoch".
  *
  * CONCURRENCY: one writer per index directory (the daily-ingest
  * shape). Parquet append is not transactional across writers;
  * concurrent ingests of the same index need an external lock or a
  * table format with commit semantics.
  */
object SeenIndex {

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val SigSchema = StructType(Seq(StructField("sig", LongType, nullable = false)))

  private val VecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = true), nullable = true)))

  /** `keys` plus the two optional tags. `epoch` is the batch retention
    * epoch (a day number, a crawl id) or, in the exactly-once layout,
    * the ledger's ALLOCATION COUNTER a replay excludes; `admitted` is
    * the ADMISSION STAMP the windowed exactly-once loop expires on. The
    * two answer different questions and never share a column. A file
    * written without a tag reads it as NULL = never expires — the
    * conservative direction: legacy history keeps gating forever.
    * Forever-retention appends write the keys alone.
    */
  private def tagged(keys: StructType) = StructType(keys.fields ++ Seq(
    StructField("epoch", LongType, nullable = true),
    StructField("admitted", LongType, nullable = true)))

  /** Which history a gate sees: rows NOT tagged `excludeEpoch` (the
    * exactly-once replay view — a retried batch must not gate against
    * its own crashed append), tagged `>= minEpoch` (the batch window)
    * and stamped `>= minAdmitted` (the exactly-once window). Untagged
    * rows pass every filter.
    */
  private[dedup] final case class View(
      excludeEpoch: Option[Long] = None,
      minEpoch: Option[Long] = None,
      minAdmitted: Option[Long] = None) {
    def isAll: Boolean = excludeEpoch.isEmpty && minEpoch.isEmpty && minAdmitted.isEmpty
    def apply(df: DataFrame): DataFrame = Seq(
      excludeEpoch.map(e => col("epoch").isNull || col("epoch") =!= e),
      minEpoch.map(m => col("epoch").isNull || col("epoch") >= m),
      minAdmitted.map(m => col("admitted").isNull || col("admitted") >= m))
      .flatten.foldLeft(df)(_ filter _)
  }

  // ---- the families ----

  /** Where the [[Embedding]] gate's reference signatures come from. */
  sealed abstract class Signatures extends Product with Serializable

  /** Recomputed from the index vectors by every gate. */
  case object Live extends Signatures

  /** Read from the geometry-keyed signature cache (see [[ensureSigCache]]). */
  case object Cached extends Signatures

  /** [[Cached]] once this geometry's cache exists or the index's parquet
    * crosses [[AutoSignBytes]], [[Live]] before — decided per gate.
    */
  case object Auto extends Signatures

  /** [[Auto]] with another byte floor — package-private, so specs can
    * cross the floor with a tiny index.
    */
  private[dedup] final case class AutoAbove(floorBytes: Long) extends Signatures

  /** The on-disk KEYS of an index — all a [[read]], an [[append]] or a
    * [[compact]] needs: `(sig)` for the signature families, `(id, vec)`
    * for [[Vectors]] and [[Embedding]]. Every [[IndexFamily]] is one;
    * [[Vectors]] names a vector index's columns without gate settings.
    */
  sealed abstract class IndexKeys extends Product with Serializable {

    private[SeenIndex] def keySchema: StructType = this match {
      case _: Embedding | _: Vectors => VecSchema
      case _ => SigSchema
    }

    /** The frame as the gate and the append consume it: the text family
      * hashes into its working `__sig` column — and refuses a caller's
      * column of that name rather than silently overwrite and drop it.
      */
    private[SeenIndex] def prepare(batch: DataFrame): DataFrame = this match {
      case Simhash(textCol, _) =>
        require(!batch.columns.contains("__sig"),
          "'__sig' is a reserved working column of the simhash gates and is " +
            "dropped from the output — rename the caller's column first")
        batch.withColumn("__sig",
          SimHash64.simhash64(graft.text.TextAnalysis.tokens(col(textCol))))
      case _ => batch
    }

    /** Append the keys of `kept` (a prepared frame) with the optional
      * tags — null keys dropped (an unhashable row has nothing to
      * remember; a null-id vector can never gate anything), distinct
      * WITHIN the append. Keys only: a signature cache the append makes
      * stale is rebuilt by the next [[Cached]] gate. Fails loud
      * mid-compaction: parquet append on a missing main path would
      * CREATE it — resurrecting the index as just this batch while
      * `.compact-old` holds the only full copy.
      */
    private[SeenIndex] def appendKeys(
        kept: DataFrame, path: String, epoch: Option[Long], admitted: Option[Long]): Unit = {
      require(admitted.isEmpty || epoch.isDefined, "an admission stamp needs an epoch tag")
      requireNotMidCompaction(fsFor(kept.sparkSession, new Path(path)), path)
      val tags = epoch.map(lit(_).cast("long").as("epoch")).toSeq ++
        admitted.map(lit(_).cast("long").as("admitted"))
      def vec(vecCol: String, idCol: String) =
        (Seq(col(idCol).cast("long").as("id"), col(vecCol).cast("array<float>").as("vec")),
          col("vec").isNotNull && col("id").isNotNull)
      def sig(sigCol: String) = (Seq(col(sigCol).cast("long").as("sig")), col("sig").isNotNull)
      val (keys, present) = this match {
        case Vectors(v, i) => vec(v, i)
        case e: Embedding => vec(e.vecCol, e.idCol)
        case Hamming(c, _) => sig(c)
        case _: Simhash => sig("__sig")
      }
      kept.select(keys ++ tags: _*).filter(present).distinct().write.mode("append").parquet(path)
    }
  }

  /** A vector index's key columns alone — for reading, appending to or
    * compacting an index without an [[Embedding]] gate's settings.
    */
  final case class Vectors(vecCol: String, idCol: String) extends IndexKeys

  /** One index family: every decision a gate makes per kind of
    * signature, on top of its [[IndexKeys]]. The drivers never ask
    * which family they run.
    */
  sealed abstract class IndexFamily extends IndexKeys {

    /** The batch column a signature gate compares. */
    private def gateCol: String = this match {
      case Hamming(c, _) => c
      case _ => "__sig"
    }

    /** The admitted rows as the caller sees them. */
    private[SeenIndex] def output(kept: DataFrame): DataFrame = this match {
      case _: Simhash => kept.drop("__sig")
      case _ => kept
    }

    /** Whether the batch driver pins the batch before gating
      * (precomputed signatures carry an expensive decode upstream).
      */
    private[SeenIndex] def pinsBatch: Boolean = isInstanceOf[Hamming]

    /** [[Auto]] decided for the index at `path`; every other family is itself. */
    private[SeenIndex] def resolved(spark: SparkSession, path: String): IndexFamily = this match {
      case e @ Embedding(_, _, _, _, _, _, _, s @ (Auto | AutoAbove(_))) =>
        val floor = s match { case AutoAbove(b) => b; case _ => AutoSignBytes }
        e.copy(signatures = if (useSigned(spark, path, e.planes, floor)) Cached else Live)
      case f => f
    }

    /** The gate's reference for `view`, named as [[gate]] wants it. The
      * cached form validates its signature cache first.
      */
    private[SeenIndex] def reference(spark: SparkSession, path: String, view: View): DataFrame =
      this match {
        case e: Embedding if e.signatures == Cached =>
          ensureSigCache(spark, path, e.planes)
          readSigs(spark, path, e, view)
        case e: Embedding =>
          readIndex(spark, path, VecSchema, view).select(col("id").as(e.idCol), col("vec").as(e.vecCol))
        case _ =>
          readIndex(spark, path, SigSchema, view).select(col("sig").as(gateCol))
      }

    /** The rows of `batch` not near anything in `ref`. */
    private[SeenIndex] def gate(batch: DataFrame, ref: DataFrame): DataFrame =
      this match {
        case e: Embedding if e.signatures == Cached =>
          Similarity.dropSeenEmbeddingPresigned(batch, ref, e.vecCol, e.idCol, e.threshold,
            e.planes, e.bands, e.probeHamming, e.broadcastVerify)
        case e: Embedding =>
          // candidates are batch-bound in the ingest-gate regime: the
          // semi-prune keeps the index's wide payload off the shuffle
          Similarity.dropSeenEmbedding(batch, ref, e.vecCol, e.idCol, e.threshold,
            e.planes, e.bands, e.probeHamming, e.broadcastVerify, semiPruneVerify = true)
        case Simhash(_, m) => Dedup.dropSeenHamming(batch, ref, gateCol, m)
        case Hamming(_, m) => Dedup.dropSeenHamming(batch, ref, gateCol, m)
      }

    /** The drivers' append of a gated batch: its keys, and for the cached
      * form the matching signature rows and a fresh sync marker — index
      * first (the source of truth), cache second, marker last, so a
      * crash in between leaves a marker naming the pre-append file set
      * and the next gate heals by rebuild. Runs only after [[reference]]
      * validated the cache against this very index, so the cache
      * mirrors the index up to this append.
      */
    private[SeenIndex] def admit(
        kept: DataFrame, path: String, epoch: Option[Long], admitted: Option[Long]): Unit = {
      appendKeys(kept, path, epoch, admitted)
      this match {
        case e: Embedding if e.signatures == Cached =>
          val dir = sigsDir(path, e.planes)
          sigCacheRows(kept, e, epoch, admitted).write.mode("append").parquet(dir.toString)
          val fs = fsFor(kept.sparkSession, dir)
          writeSyncMarker(fs, dir, indexFingerprint(fs, new Path(path)))
        case _ =>
      }
    }
  }

  /** The TEXT family: SimHash over the tokens of `textCol`, gated within
    * `maxHamming` bits — exact in fingerprint space for `maxHamming < 4`
    * (see [[requireExactRadius]]). Reserves the working column `__sig`.
    */
  final case class Simhash(textCol: String, maxHamming: Int = 3) extends IndexFamily {
    requireExactRadius(maxHamming)
  }

  /** Any precomputed 64-bit signature column (perceptual hashes, audio
    * fingerprints) gated within `maxHamming` bits; the admitted rows
    * keep every column, `sigCol` included.
    */
  final case class Hamming(sigCol: String, maxHamming: Int = 3) extends IndexFamily {
    requireExactRadius(maxHamming)
  }

  /** The EMBEDDING family — the durable form of
    * [[graft.similarity.Similarity.dropSeenEmbedding]]: cosine >=
    * `threshold` over `vecCol`, `(id, vec)` rows on disk. APPROXIMATE
    * exactly like its stateless twin (an LSH miss passes) — derive
    * (planes, bands, probeHamming) from
    * [[graft.similarity.Similarity.lshGeometry]] at the recall the gate
    * needs; replay-deterministic given fixed `planes`. At (8 + 4*dim)
    * bytes per row the index is NOT broadcast-sized and need not be:
    * the band join shuffles only band keys and signatures
    * (`broadcastVerify` stays an opt-in for small indexes).
    * `signatures` picks where the reference signatures come from;
    * admissions are identical under every choice.
    */
  final case class Embedding(
      vecCol: String,
      idCol: String,
      threshold: Double,
      planes: Array[Array[Float]],
      bands: Int = 8,
      probeHamming: Int = 0,
      broadcastVerify: Boolean = false,
      signatures: Signatures = Live) extends IndexFamily

  /** A batch RETENTION WINDOW: gate only against history tagged
    * `>= minEpoch` (untagged history never expires) and tag this
    * batch's admissions `epoch`. A document whose every prior sighting
    * aged out is re-admitted and re-tagged, resetting its clock; expiry
    * is measured from the last ADMISSION, because a gated copy writes
    * nothing.
    */
  final case class Window(epoch: Long, minEpoch: Long)

  // ---- shared file-system discipline ----

  /** The 4-band pigeonhole every Hamming gate relies on is EXACT only
    * for `maxHamming < 4` (a signature within 3 bits agrees on at least
    * one 16-bit slice); a larger radius would silently turn the gate
    * approximate and MISS true near-duplicates, so it is refused.
    */
  private def requireExactRadius(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming < 4,
      s"maxHamming=$maxHamming: the gate's 4-band pigeonhole is exact only for " +
        "maxHamming < 4; a larger radius would silently miss true near-duplicates. " +
        "Use Dedup.dropSeenHamming directly with more bands if you need a wider radius.")

  private def fsFor(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def toHex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  private def emptyFrame(spark: SparkSession, s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)

  /** Hadoop rename reports failure by RETURNING FALSE; ignoring it would
    * let a failed swap delete the only full copy of the index.
    */
  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst returned false; " +
        "compaction aborted with the original index intact")

  private def deleteOrThrow(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"delete $p returned false")

  /** `<path><suffix>` with the path NORMALIZED first: a trailing slash
    * must not turn a sibling artifact into a CHILD of the index.
    */
  private def sibling(path: String, suffix: String) =
    new Path(new Path(path).toString + suffix)

  private def hasParquet(fs: FileSystem, p: Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))

  /** Fail LOUD when the index directory is missing while a crashed
    * [[compact]]'s leftovers exist. Between the two swap renames the
    * main path does not exist, and a reader that bootstrapped EMPTY
    * there would silently admit everything; a true bootstrap has no
    * `.compact-old`/`.compact-tmp` sibling, so the states are
    * distinguishable on disk.
    */
  private def requireNotMidCompaction(fs: FileSystem, path: String): Unit =
    if (!fs.exists(new Path(path))) {
      val leftovers = IndexLayout.CompactSuffixes.map(sibling(path, _)).filter(fs.exists)
      if (leftovers.nonEmpty)
        throw new IllegalStateException(
          s"seen index at $path is missing but ${leftovers.mkString(", ")} exist(s): " +
            "a compaction crashed mid-swap. Reading now would bootstrap an EMPTY index " +
            "and admit everything. Run SeenIndex.recover(spark, path) to restore the " +
            "pre-compaction copy, then retry.")
    }

  /** True while the index holds no parquet — the bootstrap epoch. */
  private def indexEmpty(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    requireNotMidCompaction(fs, path)
    !hasParquet(fs, p)
  }

  /** The one filtered read behind every gate and [[read]]: the key
    * rows of `view`; EMPTY while the index holds no parquet.
    */
  private def readIndex(spark: SparkSession, path: String, keys: StructType, view: View): DataFrame =
    if (indexEmpty(spark, path)) emptyFrame(spark, keys)
    else if (view.isAll) spark.read.schema(keys).parquet(path)
    else view(spark.read.schema(tagged(keys)).parquet(path)).select(keys.fieldNames.toSeq.map(col): _*)

  /** Restore an index from a crashed [[compact]]. Idempotent over every
    * crash state the swap can leave: main missing + backup present ->
    * the backup (a complete pre-compaction copy) moves back; main
    * missing + only the temp present (the backup was consumed, so the
    * temp is complete) -> the compacted copy moves in; main present ->
    * only stale leftovers are deleted. A no-op on a healthy index.
    */
  def recover(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    val bak = sibling(path, IndexLayout.CompactOld)
    val tmp = sibling(path, IndexLayout.CompactTmp)
    if (!fs.exists(p)) {
      if (fs.exists(bak)) renameOrThrow(fs, bak, p)
      else if (fs.exists(tmp)) renameOrThrow(fs, tmp, p)
    }
    deleteOrThrow(fs, tmp)
    deleteOrThrow(fs, bak)
  }

  /** The index's key rows — `sig`, or `(id, vec)` for a vector index —
    * possibly with cross-epoch duplicates; `minEpoch` / `minAdmitted`
    * restrict them to the history a windowed gate sees (untagged rows
    * always pass). A missing or empty directory reads as an EMPTY index
    * (the bootstrap case) unless a crashed compaction's leftovers prove
    * it existed — then the read fails loud (see [[recover]]).
    */
  def read(
      spark: SparkSession,
      keys: IndexKeys,
      path: String,
      minEpoch: Option[Long] = None,
      minAdmitted: Option[Long] = None): DataFrame =
    readIndex(spark, path, keys.keySchema, View(minEpoch = minEpoch, minAdmitted = minAdmitted))

  /** Append `df`'s keys — the signature column (the text family hashes
    * `textCol`), or `(idCol, vecCol)` — to the index, optionally tagged
    * with an `epoch` and an `admitted` stamp (see [[tagged]]). Tagged
    * and untagged appends mix freely in one directory. Writes the index
    * only, whatever `signatures` an [[Embedding]] names: its signature
    * caches go stale and the next [[Cached]] gate rebuilds them.
    */
  def append(
      df: DataFrame,
      keys: IndexKeys,
      path: String,
      epoch: Option[Long] = None,
      admitted: Option[Long] = None): Unit =
    keys.appendKeys(keys.prepare(df), path, epoch, admitted)

  // ---- the three drivers ----

  /** The one gate step every driver runs: `input` (prepared) against
    * the family's `view` of the index, materialized by an EAGER
    * localCheckpoint owned by the caller's [[CacheScope]]; the gate's
    * own caches are released as soon as that checkpoint holds the rows.
    *
    *   - READ-WHAT-YOU-WRITE: the gate reads the very directory the
    *     caller appends to next. A lazy (or evicted) result would
    *     re-list the index on its next action, find its OWN appended
    *     rows and gate every admitted row against itself; the
    *     checkpoint pins the admitted set to the pre-append listing and
    *     truncates the lineage. (On a cluster where executor loss
    *     matters use a reliable checkpoint dir.)
    *   - BOOTSTRAP (`batchEpoch`, the batch driver only): an index with
    *     no parquet admits the whole batch (an anti-join against the
    *     matches of an empty set keeps every row, null signatures
    *     included), so the gate is skipped and only the checkpoint and
    *     the append run (measured r20: the two-epoch lifecycle queries
    *     spent ~half their sequential jobs gating epoch 1 against a
    *     provably empty index). The stream loops gate their first batch
    *     anyway: skipping it there only moves the gate's first-run cost
    *     (codegen, JIT) into the next micro-batch (ingest_epochs
    *     workload, 4 cores: op_cpu_s median +7% over 6 interleaved run
    *     pairs).
    *   - PINNED BATCH (`batchEpoch`, the batch driver only): a
    *     [[Hamming]] batch is checkpointed first. The gate consumes it
    *     twice in one action, and AQE materializes both query stages
    *     CONCURRENTLY, so under a lazy persist both raced one unfilled
    *     cache and paid the media decode upstream twice (measured r20:
    *     q105's epoch stages at 7.1 s + 5.3 s of task time). A batch the
    *     CALLER persisted is used as is and never unpersisted here. The
    *     text family is not pinned: recomputing one tokenize+SimHash
    *     pass is cheaper than caching the text (measured r19: q103 1.2
    *     -> 4.8 s with a persist). The stream loops do not pin their
    *     micro-batches.
    */
  private def gateBatch(
      input: DataFrame,
      family: IndexFamily,
      path: String,
      view: View,
      batchEpoch: Boolean = false): DataFrame = {
    val spark = input.sparkSession
    val ref = family.reference(spark, path, view)
    val bootstrap = batchEpoch && indexEmpty(spark, path)
    val pin = batchEpoch && family.pinsBatch && input.storageLevel == StorageLevel.NONE
    if (bootstrap && family.pinsBatch && !pin) input
    else CacheScope.checkpoint(spark) {
      if (bootstrap) input
      else family.gate(if (pin) CacheScope.checkpoint(spark)(input) else input, ref)
    }
  }

  /** One ingest epoch: gate `batch` against everything previously
    * admitted (within `window`, when given), append the admitted rows'
    * keys, return the admitted rows. The returned frame is a
    * checkpoint owned by the enclosing [[CacheScope]]: it never
    * recomputes, so it may outlive the call that appended it.
    */
  def gateAndUpdate(
      batch: DataFrame,
      family: IndexFamily,
      path: String,
      window: Option[Window] = None): DataFrame = {
    val f = family.resolved(batch.sparkSession, path)
    val kept = gateBatch(f.prepare(batch), f, path, View(minEpoch = window.map(_.minEpoch)),
      batchEpoch = true)
    f.admit(kept, path, window.map(_.epoch), None)
    f.output(kept)
  }

  /** The gate with NO index append — the dry-run / measurement form.
    * The result is lazy; its internal caches belong to the enclosing
    * [[CacheScope]]. NOT read-only for a [[Cached]] family: it
    * validates the signature cache first ([[ensureSigCache]]), which
    * may rebuild it — so it needs write access and the one-writer
    * rule. A truly read-only caller checks [[listSigCaches]] and gates
    * [[Live]].
    */
  def dropSeen(batch: DataFrame, family: IndexFamily, path: String): DataFrame = {
    val f = family.resolved(batch.sparkSession, path)
    f.output(f.gate(f.prepare(batch), f.reference(batch.sparkSession, path, View())))
  }

  /** The durable gate as a STREAMING ingest loop: every micro-batch is
    * gated against `indexPath` by the same step as [[gateAndUpdate]]'s
    * (with no bootstrap skip and no batch pin, see [[gateBatch]]), its
    * admitted rows are appended to `outPath`, then their keys to the
    * index. The reference GROWS with every admitted arrival (unlike a
    * static reference gated per micro-batch through
    * [[graft.streaming.StreamingOps.perBatch]]), and a restarted query
    * — or another cluster — resumes with everything any prior run
    * admitted.
    *
    * AT-LEAST-ONCE: the output write runs BEFORE the index append, so a
    * failure between the two re-admits the batch on retry — duplicate
    * rows in `outPath`, never lost rows (the reverse order would gate
    * the retry against its own signatures and DROP it). The index is a
    * set, so re-appending is convergent. When duplicates are
    * unacceptable use [[gateStreamExactlyOnce]].
    */
  def gateStream(
      stream: DataFrame,
      family: IndexFamily,
      indexPath: String,
      outPath: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        CacheScope.run(batch.sparkSession) {
          val f = family.resolved(batch.sparkSession, indexPath)
          val kept = gateBatch(f.prepare(batch), f, indexPath, View())
          f.output(kept).write.mode("append").parquet(outPath)
          f.admit(kept, indexPath, None, None)
        }
      }
      .start()

  /** One EXACTLY-ONCE ingest batch — the body [[gateStreamExactlyOnce]]
    * runs per micro-batch, exposed so the crash contract is directly
    * testable (specs kill it at each `crashpoint` and replay). Every
    * step is idempotent under replay-from-anywhere:
    *
    *   1. committed marker present -> the batch fully finished; the
    *      replay does NOTHING (what upgrades at-least-once).
    *   2. `window` = (admittedAt, minAdmitted) is PINNED to the first
    *      attempt's clock by a `stamp-<key>-<clock>` marker
    *      ([[attemptStamp]]), the window's age preserved: a replay whose
    *      clock regressed evaluates the IDENTICAL window, so its kept set
    *      can never diverge from what a crashed attempt already appended
    *      (stranded phantom admissions would gate every future batch).
    *   3. the epoch number is allocated once and re-found on replay
    *      ([[allocEpoch]]).
    *   4. the gate reads the index MINUS rows tagged with this epoch, so
    *      the kept set is a pure function of (batch, committed history,
    *      ledger), identical on every attempt.
    *   5. output lands at `outPath/epoch=<allocated>` with OVERWRITE —
    *      deterministic location + deterministic rows = idempotent; keyed
    *      by the ALLOCATED epoch, so a second query with a fresh
    *      checkpoint (batchIds restarting at 0) never overwrites a prior
    *      run's output.
    *   6. the index append tags rows with the epoch (and the pinned
    *      stamp); a replay may duplicate rows AT THE SAME EPOCH, which
    *      every reader collapses.
    *   7. the committed marker is written LAST.
    *
    * The loop must OWN its index: epoch tags here are allocation
    * counters, so mixing in [[Window]]-style calendar epochs on the same
    * directory could collide with a counter and corrupt a replay's
    * exclusion. Retention composes through `admitted` instead.
    */
  private[graft] def exactlyOnceEpoch(
      batch: DataFrame,
      family: IndexFamily,
      key: String,
      indexPath: String,
      outPath: String,
      window: Option[(Long, Long)] = None,
      crashpoint: String => Unit = _ => ()): Unit = {
    // the output is partitioned by the allocated epoch: a data column
    // of that name would collide with it on read-back
    require(!batch.columns.contains("epoch"),
      "exactly-once batches must not carry an 'epoch' column: the output is " +
        "partitioned by the allocated epoch and partition discovery would " +
        "collide with the data column on read-back — rename it before the gate")
    val spark = batch.sparkSession
    val f = family.resolved(spark, indexPath)
    val input = f.prepare(batch)
    val fs = fsFor(spark, new Path(indexPath))
    // fail BEFORE touching the ledger: a crashed compaction must stop
    // here, leaving its state untouched for recover()
    requireNotMidCompaction(fs, indexPath)
    if (fs.exists(committedMarker(indexPath, key))) return
    val stamp = window.map { case (admittedAt, minAdmitted) =>
      val at = attemptStamp(fs, indexPath, key, admittedAt)
      (at, at - (admittedAt - minAdmitted))
    }
    val epoch = allocEpoch(fs, indexPath, key)
    crashpoint("allocated")
    CacheScope.run(spark) {
      val kept = gateBatch(input, f, indexPath,
        View(excludeEpoch = Some(epoch), minAdmitted = stamp.map(_._2)))
      crashpoint("gated")
      f.output(kept).write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
      crashpoint("output")
      f.admit(kept, indexPath, Some(epoch), stamp.map(_._1))
      crashpoint("appended")
      fs.create(committedMarker(indexPath, key), true).close()
    }
  }

  /** The streaming loop with EXACTLY-ONCE output: admitted rows land
    * under `outPath/epoch=<n>/` (read `outPath` as one parquet table;
    * partition discovery adds an `epoch` column), and a crash at ANY
    * point replays to the identical output — the per-batch protocol is
    * [[exactlyOnceEpoch]]'s.
    *
    * `windowAge` adds RETENTION: each batch reads `clock()` once (then
    * pinned in the ledger for its replays), gates only against history
    * admitted within the last `windowAge` clock units (unstamped rows
    * never expire) and stamps its admissions with that clock — a
    * document whose every prior admission aged out is re-admitted. The
    * clock defaults to wall-clock millis; inject one to key the window
    * on crawl days or for deterministic tests. Compact this layout with
    * `windowed = true` (see [[compact]]).
    *
    * `ledgerKeepLast > 0` runs [[compactLedger]] after every committed
    * batch, keeping the marker directory O(keepLast). The index and its
    * `<indexPath>.epochs` ledger are a UNIT (see [[dropLedger]]).
    */
  def gateStreamExactlyOnce(
      stream: DataFrame,
      family: IndexFamily,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      windowAge: Option[Long] = None,
      clock: () => Long = () => System.currentTimeMillis(),
      ledgerKeepLast: Int = 0): StreamingQuery = {
    windowAge.foreach(a => require(a >= 0, s"windowAge=$a must be >= 0"))
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val window = windowAge.map { age => val now = clock(); (now, now - age) }
        exactlyOnceEpoch(batch, family,
          resolveBatchKey(batch.sparkSession, indexPath, checkpointDir, batchId),
          indexPath, outPath, window)
        if (ledgerKeepLast > 0) compactLedger(batch.sparkSession, indexPath, ledgerKeepLast)
      }
      .start()
  }

  /** [[gateStreamExactlyOnce]] over the [[Simhash]] family. */
  def gateStreamSimhashExactlyOnce(
      stream: DataFrame,
      textCol: String,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      maxHamming: Int = 3,
      ledgerKeepLast: Int = 0): StreamingQuery =
    gateStreamExactlyOnce(stream, Simhash(textCol, maxHamming), indexPath, outPath,
      checkpointDir, ledgerKeepLast = ledgerKeepLast)

  // ---- compaction ----

  /** Rewrite the index down to one row per distinct key — or, with
    * `windowed = true`, per distinct (key, epoch): the grain of the
    * windowed exactly-once layout, where one key legitimately holds
    * several admission epochs and a replay's own-epoch exclusion must
    * still see them apart. Pure OPTIMIZATION — every reader collapses
    * to distinct keys, so no gate decision changes. Tags survive: a
    * group keeps its LATEST epoch and stamp, and an untagged sighting
    * dominates (never-expires stays never-expires), so windowed
    * visibility is preserved at every cutoff. `dropAdmittedBefore`
    * (windowed only) also deletes rows stamped before the horizon —
    * pass a value no later than every future window start.
    *
    * Refuses an index with the other keys (`sig` vs `(id, vec)`): the
    * schema-on-read
    * projection null-fills missing columns, so the wrong grain would
    * collapse the whole index to ONE null row. Materializes the rewrite
    * to a temp sibling FIRST (it reads the very files being replaced),
    * then swaps by two CHECKED renames — the original moves to
    * `<path>.compact-old` before anything is deleted, so no crash point
    * leaves the machine without a full copy (see [[recover]]). A
    * vector index carries its in-sync signature caches through the
    * same collapse and re-marks them; stale ones are deleted loudly.
    * Same one-writer rule as the gates.
    */
  def compact(
      spark: SparkSession,
      keys: IndexKeys,
      path: String,
      windowed: Boolean = false,
      dropAdmittedBefore: Option[Long] = None): Unit = {
    require(windowed || dropAdmittedBefore.isEmpty,
      "dropAdmittedBefore applies to the windowed (key, epoch) grain only")
    requireIndexFamily(spark, path, keys)
    val grain = keys.keySchema.fieldNames.toSeq ++ (if (windowed) Seq("epoch") else Nil)
    def collapse(df: DataFrame, ride: Seq[String]): DataFrame = {
      val c = collapseLatest(df, grain, ride)
      dropAdmittedBefore.fold(c)(h => c.filter(col("admitted").isNull || col("admitted") >= h))
    }
    val p = new Path(path)
    val vectors = keys.keySchema == VecSchema
    val fpBefore = if (vectors) indexFingerprint(fsFor(spark, p), p) else ""
    compactInto(spark, path)(collapse(_, Nil))(tagged(keys.keySchema))
    // signatures are functions of the vector alone, so they ride the
    // group-by: the carried cache is row for row the compacted index
    if (vectors) carrySigCaches(spark, path, fpBefore)(collapse(_, Seq("sig", "rsig", "rsig2")))
  }

  /** The one collapse rule every compaction shares: group on `keys`,
    * keep the LATEST tag with untagged/unstamped dominating, and carry
    * the `ride` columns (constant within a group) through the group-by.
    */
  private def collapseLatest(
      df: DataFrame, keys: Seq[String], ride: Seq[String]): DataFrame = {
    val epochInKey = keys.contains("epoch")
    val aggs =
      (if (epochInKey) Seq.empty
       else Seq(
         max(col("epoch")).as("__max_epoch"),
         max(when(col("epoch").isNull, 1).otherwise(0)).as("__untagged"))) ++ Seq(
        max(col("admitted")).as("__max_admitted"),
        max(when(col("admitted").isNull, 1).otherwise(0)).as("__unstamped"))
    val epochOut =
      if (epochInKey) col("epoch")
      else when(col("__untagged") === 1, lit(null).cast("long"))
        .otherwise(col("__max_epoch")).as("epoch")
    val admittedOut = when(col("__unstamped") === 1, lit(null).cast("long"))
      .otherwise(col("__max_admitted")).as("admitted")
    df.groupBy((keys ++ ride).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keys.filterNot(_ == "epoch").map(col) ++
        Seq(epochOut, admittedOut) ++ ride.map(col): _*)
  }

  /** True for a VECTOR index, from one driver-side footer read (no
    * Spark job); None while the index holds no parquet.
    */
  private def storedVectors(spark: SparkSession, path: String): Option[Boolean] = {
    val p = new Path(path)
    if (!hasParquet(fsFor(spark, p), p)) None
    else Some(spark.read.parquet(path).schema.fieldNames.contains("vec"))
  }

  private def requireIndexFamily(spark: SparkSession, path: String, keys: IndexKeys): Unit = {
    val wantVec = keys.keySchema == VecSchema
    storedVectors(spark, path).filter(_ != wantVec).foreach { isVec =>
      throw new IllegalStateException(
        s"compact: $path is a ${if (isVec) "VECTOR" else "SIGNATURE"} index but the keys " +
          s"are $keys — their ${keys.keySchema.fieldNames.mkString("(", ", ", ")")} group-by " +
          "would collapse the index to a single null row and destroy it")
    }
  }

  private def compactInto(spark: SparkSession, path: String)(
      rewrite: DataFrame => DataFrame)(readSchema: StructType): Unit = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    requireNotMidCompaction(fs, path) // a crashed prior swap needs recover(), not another compact
    if (!fs.exists(p)) return
    val tmp = sibling(path, IndexLayout.CompactTmp)
    val bak = sibling(path, IndexLayout.CompactOld)
    rewrite(spark.read.schema(readSchema).parquet(path))
      .write.mode("overwrite").parquet(tmp.toString)
    deleteOrThrow(fs, bak) // stale backup from a prior compaction that crashed after its swap
    renameOrThrow(fs, p, bak)
    renameOrThrow(fs, tmp, p)
    deleteOrThrow(fs, bak)
  }

  /** Carry every signature-cache sibling through a compaction that just
    * swapped in a rewritten index. A cache synced with the PRE-compaction
    * fingerprint is rewritten by `collapse` under the same tmp-then-swap
    * discipline and re-marked, so the cost is paid here, once, visibly —
    * not as a silent rebuild inside the next gate. A cache that was
    * already stale cannot be carried (its rows are no mirror) and is
    * deleted loudly. A crash in here leaves a markerless or missing
    * cache, which [[ensureSigCache]] heals by rebuild.
    */
  private def carrySigCaches(spark: SparkSession, path: String, fpBefore: String)(
      collapse: DataFrame => DataFrame): Unit = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    val caches = sigCacheDirs(fs, path)
    if (caches.isEmpty) return
    val fpAfter = indexFingerprint(fs, p)
    caches.foreach { dir =>
      if (readSyncMarker(fs, dir).contains(fpBefore) && hasParquet(fs, dir)) {
        val tmp = sibling(dir.toString, ".rebuild-tmp")
        collapse(spark.read.schema(sigCacheSchema).parquet(dir.toString))
          .write.mode("overwrite").parquet(tmp.toString)
        deleteOrThrow(fs, dir)
        renameOrThrow(fs, tmp, dir)
        writeSyncMarker(fs, dir, fpAfter)
      } else {
        log.warn(s"carrySigCaches: $dir was already out of sync with $path at compaction " +
          "time — deleting it; the next signed gate on its geometry pays one full rebuild")
        deleteOrThrow(fs, dir)
      }
    }
  }

  // ---- the exactly-once ledger ----

  /** The `<path>.epochs` ledger directory NEXT TO the index — a
    * sibling, because [[compact]]'s swap renames the whole index
    * directory (a ledger inside would be deleted with the backup,
    * destroying every committed marker) and creating the ledger must
    * never resurrect a missing index path. It holds empty marker files:
    * `alloc-<key>-<epoch>` (the epoch allocated to a batch — what
    * survives a crash), `committed-<key>` (output AND index append both
    * finished), `stamp-<key>-<clock>` (a windowed batch's first-attempt
    * clock) and `watermark-<n>` (see [[compactLedger]]).
    *
    * THE INDEX AND ITS LEDGER ARE A UNIT: move, copy, back up or delete
    * them together. Deleting the index alone leaves committed markers
    * behind (a stream restarted on the SAME checkpoint silently DROPS
    * its first batches); copying it alone strands the copy with an
    * empty ledger (its first batch re-allocates epoch 1 and OVERWRITES
    * `outPath/epoch=1`).
    */
  private def epochsDir(indexPath: String) = sibling(indexPath, IndexLayout.Ledger)

  private def committedMarker(indexPath: String, key: String) =
    new Path(epochsDir(indexPath), s"committed-$key")

  /** Delete the `<indexPath>.epochs` ledger — part of a FULL pipeline
    * reset (index + ledger + output + checkpoint together; any strict
    * subset corrupts delivery, see [[epochsDir]]). A no-op on a
    * never-written ledger.
    */
  def dropLedger(spark: SparkSession, indexPath: String): Unit =
    deleteOrThrow(fsFor(spark, epochsDir(indexPath)), epochsDir(indexPath))

  /** The stable identity of one logical micro-batch: the checkpoint
    * location names the QUERY, the batchId the batch within it;
    * hex-hashed to stay filename-safe. The path is NORMALIZED first:
    * Structured Streaming resolves "/ckpt" and "/ckpt/" to the same
    * checkpoint, and an unnormalized hash would miss the committed
    * marker on a differently-spelled restart and re-emit the batch.
    */
  private[dedup] def batchKey(checkpointDir: String, batchId: Long): String =
    md5Key(new Path(checkpointDir).toString, batchId)

  private def md5Key(checkpointDir: String, batchId: Long): String =
    toHex(java.security.MessageDigest.getInstance("MD5")
      .digest(s"$checkpointDir#$batchId".getBytes("UTF-8")))

  /** [[batchKey]] with a one-shot LEGACY probe for upgrades: the
    * pre-normalization key hashed the RAW checkpoint string. If the
    * normalized key has NO markers but the legacy key does, the replay
    * adopts the legacy key and finishes the old batch's protocol under
    * it (committed markers honored, a crashed attempt re-finds its
    * epoch and stamp). Fresh batches always use the normalized key.
    * Once any batchId of an (index, checkpoint) resolved to the
    * normalized key, every later one is post-upgrade work (batchIds
    * are monotone), so the ledger listing is paid once per process.
    */
  private[dedup] def resolveBatchKey(
      spark: SparkSession,
      indexPath: String,
      checkpointDir: String,
      batchId: Long): String = {
    val key = batchKey(checkpointDir, batchId)
    val legacy = md5Key(checkpointDir, batchId)
    if (legacy == key) return key
    val memoKey = s"$indexPath|$checkpointDir"
    val floor = keyFmtNormalizedFrom.get(memoKey)
    if (floor != null && batchId >= floor.longValue()) return key
    val dir = epochsDir(indexPath)
    val fs = fsFor(spark, dir)
    def memoized: String = {
      keyFmtNormalizedFrom.merge(memoKey, java.lang.Long.valueOf(batchId),
        (a, b) => if (a.longValue() <= b.longValue()) a else b)
      key
    }
    if (!fs.exists(dir)) return memoized
    val names = fs.listStatus(dir).map(_.getPath.getName)
    def marked(k: String): Boolean = names.exists { n =>
      n == s"committed-$k" || n.startsWith(s"stamp-$k-") ||
        (n.startsWith(s"alloc-$k-") && n.substring(s"alloc-$k-".length).forall(_.isDigit))
    }
    if (!marked(key) && marked(legacy)) legacy else memoized
  }

  /** Smallest batchId per (index, checkpoint) known to have resolved
    * to the NORMALIZED key — see [[resolveBatchKey]].
    */
  private val keyFmtNormalizedFrom =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The digits after `prefix` in `name`, when `name` is exactly
    * `prefix` + digits — the one parse every marker read uses, so a
    * key that dash-prefixes another (`a` vs `a-7`) never claims its
    * marker and a malformed foreign file never wedges a parse.
    */
  private def digitsAfter(name: String, prefix: String): Option[Long] =
    if (!name.startsWith(prefix) || name.length == prefix.length) None
    else Some(name.substring(prefix.length)).filter(_.forall(_.isDigit)).map(_.toLong)

  /** Allocate (or on replay, LOOK UP) the epoch number of batch `key`.
    * Numbers live in the marker FILENAMES (`alloc-<key>-<n>`), so
    * neither allocation nor lookup reads file contents. A
    * `watermark-<n>` floors the allocation so pruned markers can never
    * cause epoch reuse. Monotone under the one-writer rule.
    */
  private[dedup] def allocEpoch(fs: FileSystem, indexPath: String, key: String): Long = {
    val dir = epochsDir(indexPath)
    fs.mkdirs(dir)
    val names = fs.listStatus(dir).map(_.getPath.getName)
    names.flatMap(digitsAfter(_, s"alloc-$key-")).headOption.getOrElse {
      val next = names.flatMap { n =>
        if (n.startsWith("alloc-")) digitsAfter(n, n.substring(0, n.lastIndexOf('-') + 1))
        else digitsAfter(n, "watermark-")
      }.foldLeft(0L)(math.max) + 1L
      fs.create(new Path(dir, s"alloc-$key-$next"), false).close()
      next
    }
  }

  /** Look up (or on the FIRST attempt, persist) the admission clock of
    * batch `key` as a `stamp-<key>-<clock>` marker, so a crash REPLAY
    * re-reads the first attempt's clock instead of sampling its own —
    * see step 2 of [[exactlyOnceEpoch]]. One more O(markers) listing
    * per windowed batch; on an object store run the loop with
    * `ledgerKeepLast > 0`.
    */
  private[dedup] def attemptStamp(
      fs: FileSystem, indexPath: String, key: String, now: Long): Long = {
    require(now >= 0, s"attemptStamp: clock value $now must be >= 0")
    val dir = epochsDir(indexPath)
    fs.mkdirs(dir)
    fs.listStatus(dir).map(_.getPath.getName).flatMap(digitsAfter(_, s"stamp-$key-"))
      .headOption.getOrElse {
        fs.create(new Path(dir, s"stamp-$key-$now"), false).close()
        now
      }
  }

  /** Prune the exactly-once ledger, which otherwise grows two or three
    * markers per micro-batch forever while [[allocEpoch]] LISTS it every
    * batch. Every COMMITTED batch older than the `keepLast` most recent
    * epochs loses its markers, and one `watermark-<n>` (n = the highest
    * pruned epoch) floors all future allocations.
    *
    * A pruned batch's replay would no longer find its committed marker
    * and would RE-RUN; Structured Streaming only replays batches its
    * checkpoint has not committed — the most recent one — so `keepLast`
    * is a paranoia window as long as it exceeds the batches in flight.
    * Uncommitted allocs are kept regardless (their checkpoint may
    * resume). Run it from the writer's maintenance window.
    */
  def compactLedger(spark: SparkSession, indexPath: String, keepLast: Int = 100): Unit = {
    require(keepLast >= 1, s"keepLast=$keepLast must be >= 1")
    val dir = epochsDir(indexPath)
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) return
    def marker(n: String) = new Path(dir, n)
    val names = fs.listStatus(dir).map(_.getPath.getName)
    val committed = names.collect {
      case n if n.startsWith("committed-") => n.substring("committed-".length)
    }.toSet
    val allocs = names.collect {
      case n if n.startsWith("alloc-") && n.lastIndexOf('-') > "alloc-".length =>
        (n.substring("alloc-".length, n.lastIndexOf('-')),
          digitsAfter(n, n.substring(0, n.lastIndexOf('-') + 1)))
    }.collect { case (key, Some(epoch)) => (key, epoch) }
    val stampByKey = names.collect {
      case n if n.startsWith("stamp-") && n.lastIndexOf('-') > "stamp-".length =>
        (n.substring("stamp-".length, n.lastIndexOf('-')), n)
    }.toMap
    // a committed marker or stamp with no alloc is the leftover of a
    // prune that crashed between its deletes (allocs go first, stamps
    // last) or of an attempt that crashed before allocating — which
    // appended nothing; sweep both so re-runs converge
    val allocKeys = allocs.map(_._1).toSet
    committed.diff(allocKeys).foreach(k => deleteOrThrow(fs, marker(s"committed-$k")))
    stampByKey.foreach { case (k, n) => if (!allocKeys.contains(k)) deleteOrThrow(fs, marker(n)) }
    val prunable = allocs.filter { case (k, _) => committed.contains(k) }
      .sortBy(_._2)
      .dropRight(keepLast)
    if (prunable.isEmpty) return
    val newWatermark = prunable.map(_._2).max
    // watermark FIRST: a present watermark with surviving markers is
    // safe (allocEpoch takes the max); pruned markers without it are not
    fs.create(marker(s"watermark-$newWatermark"), true).close()
    prunable.foreach { case (k, epoch) =>
      deleteOrThrow(fs, marker(s"alloc-$k-$epoch"))
      deleteOrThrow(fs, marker(s"committed-$k"))
      stampByKey.get(k).foreach(n => deleteOrThrow(fs, marker(n)))
    }
    names.filter(n => digitsAfter(n, "watermark-").exists(_ < newWatermark))
      .foreach(n => deleteOrThrow(fs, marker(n)))
  }

  // ---- maintenance view ----

  /** Operational snapshot of one index directory: `rows` vs `distinct`
    * says how much a [[compact]] would reclaim, `dataFiles` whether the
    * small-file count justifies one, the epoch range bounds a retention
    * window's effect, the ledger counts whether [[compactLedger]] is
    * due, and `sigCaches` counts the geometry-keyed signature caches
    * (see [[listSigCaches]]). `midCompaction` REPORTS (rather than
    * throws, unlike the gates) that a crashed compaction needs
    * [[recover]] — a diagnostic must work on a broken index.
    */
  case class IndexStats(
      rows: Long,
      distinct: Long,
      untagged: Long,
      minEpoch: Option[Long],
      maxEpoch: Option[Long],
      dataFiles: Long,
      dataBytes: Long,
      ledgerAllocs: Long,
      ledgerCommitted: Long,
      ledgerWatermark: Option[Long],
      midCompaction: Boolean,
      sigCaches: Long = 0L)

  /** [[IndexStats]] for the index at `path`, of either family
    * (`distinct` = distinct keys, detected from the parquet footer).
    * One aggregate pass plus directory listings; safe to call on a
    * missing, empty or mid-compaction directory.
    */
  def stats(spark: SparkSession, path: String): IndexStats = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    val mid = !fs.exists(p) &&
      IndexLayout.CompactSuffixes.exists(s => fs.exists(sibling(path, s)))
    val dataFiles =
      if (fs.exists(p)) fs.listStatus(p).filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    val (rows, dist, untagged, minE, maxE) = storedVectors(spark, path) match {
      case None => (0L, 0L, 0L, None, None)
      case Some(isVec) =>
        val keys = if (isVec) VecSchema else SigSchema
        val r = spark.read.schema(tagged(keys)).parquet(path).agg(
          count(lit(1)),
          count_distinct(struct(keys.fieldNames.map(col).toSeq: _*)),
          sum(when(col("epoch").isNull, 1L).otherwise(0L)),
          min("epoch"), max("epoch")).head()
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }
    val ledger = epochsDir(path)
    val markers =
      if (fs.exists(ledger)) fs.listStatus(ledger).map(_.getPath.getName) else Array.empty[String]
    val watermarks = markers.flatMap(digitsAfter(_, "watermark-"))
    IndexStats(
      rows = rows, distinct = dist, untagged = untagged,
      minEpoch = minE, maxEpoch = maxE,
      dataFiles = dataFiles.length.toLong, dataBytes = dataFiles.map(_.getLen).sum,
      ledgerAllocs = markers.count(_.startsWith("alloc-")).toLong,
      ledgerCommitted = markers.count(_.startsWith("committed-")).toLong,
      ledgerWatermark = if (watermarks.isEmpty) None else Some(watermarks.max),
      midCompaction = mid,
      sigCaches = sigCacheDirs(fs, path).length.toLong)
  }

  // ---- the SIGNATURE CACHE of the vector index ----
  //
  // A [[Live]] embedding gate recomputes the reference side's 190-plane
  // RHP signatures (64 coarse + 2x63 refine dots of dim floats per row)
  // over the ENTIRE growing index every epoch — at a billion vectors
  // that pass, not the scan, is the dominant history-linear term.
  // [[Cached]] keeps the signatures durably in a GEOMETRY-KEYED sibling
  // (`<path>.sigs-<key>`, key = hash of the coarse planes; the refine
  // geometries are fixed constants of the mining contract):
  //
  //   - rows mirror the index (`(id, vec, epoch, admitted)`) plus the
  //     three signature columns, computed by the SAME
  //     Similarity.withSignatures projection the live path uses, so
  //     cached and live signatures are bit-identical by construction;
  //     degenerate vectors ride along with null signatures;
  //   - a [[Cached]] gate's append runs in LOCKSTEP (index, cache,
  //     then marker), and the cache carries a SYNC MARKER `_synced-<fp>`
  //     naming the exact index file set it mirrors (fp = hash of the
  //     sorted part-file (name, length) pairs — one listing, no Spark
  //     job). Any divergence — a torn lockstep append, an out-of-band
  //     compaction, a [[Live]] gate's or a direct [[append]] — fails the
  //     comparison and triggers one rebuild. Part-file names carry
  //     write UUIDs, so no append or rewrite can reproduce a prior
  //     fingerprint (row-count parity could not tell a compaction that
  //     collapsed K duplicates followed by K fresh appends);
  //   - [[compact]] carries in-sync caches through the rewrite;
  //   - another `planes` lands on another cache dir; [[listSigCaches]],
  //     [[dropSigCache]] and [[dropSigCaches]] manage retired ones.

  private def geomKey(planes: Array[Array[Float]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(4)
    planes.foreach(_.foreach { f =>
      bb.clear(); bb.putFloat(f); md.update(bb.array(), 0, 4)
    })
    toHex(md.digest()).take(16)
  }

  private def sigsDir(path: String, planes: Array[Array[Float]]) =
    sibling(path, s".sigs-${geomKey(planes)}")

  /** Exact-match (not prefix), so a crashed rebuild's leftover
    * `.sigs-<key>.rebuild-tmp` never counts as a live cache.
    */
  private val SigCacheName = """\.sigs-[0-9a-f]{16}$""".r

  /** Every `.sigs-`-prefixed sibling directory of the index. */
  private def sigSiblings(fs: FileSystem, path: String): Seq[Path] = {
    val normalized = new Path(new Path(path).toString)
    val parent = normalized.getParent
    if (parent == null || !fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).toSeq.collect {
      case st if st.isDirectory &&
        st.getPath.getName.startsWith(normalized.getName + ".sigs-") => st.getPath
    }
  }

  private def sigCacheDirs(fs: FileSystem, path: String): Seq[Path] =
    sigSiblings(fs, path).filter(q => SigCacheName.findFirstIn(q.getName).isDefined)

  private val sigCacheSchema = StructType(tagged(VecSchema).fields ++ Seq(
    StructField("sig", LongType, nullable = true),
    StructField("rsig", LongType, nullable = true),
    StructField("rsig2", LongType, nullable = true)))

  /** MD5 over the sorted (name, length) pairs of the index's parquet
    * files: one FS listing, no Spark job.
    */
  private def indexFingerprint(fs: FileSystem, p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    if (fs.exists(p))
      fs.listStatus(p)
        .collect { case st if st.isFile && st.getPath.getName.endsWith(".parquet") =>
          s"${st.getPath.getName}:${st.getLen}" }
        .sorted
        .foreach(s => md.update(s.getBytes("UTF-8")))
    toHex(md.digest())
  }

  /** The `_synced-<fingerprint>` marker inside a cache dir (the leading
    * underscore hides it from parquet reads). At most one is live:
    * [[writeSyncMarker]] deletes stale markers BEFORE creating the new
    * one, so a crash between leaves none (= rebuild, safe).
    */
  private val SyncMarkerPrefix = "_synced-"

  private def readSyncMarker(fs: FileSystem, dir: Path): Option[String] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith(SyncMarkerPrefix)) match {
      case Array(one) => Some(one.substring(SyncMarkerPrefix.length))
      case _ => None // zero, or a state no crash point can produce — treat as unsynced
    }

  private def writeSyncMarker(fs: FileSystem, dir: Path, fp: String): Unit = {
    fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith(SyncMarkerPrefix))
      .foreach(deleteOrThrow(fs, _))
    fs.create(new Path(dir, SyncMarkerPrefix + fp), true).close()
  }

  /** The row set a vector append writes (distinct non-null (id, vec),
    * optional tags) with the three signature columns — the cache's
    * append unit.
    */
  private def sigCacheRows(
      df: DataFrame, e: Embedding, epoch: Option[Long], admitted: Option[Long]): DataFrame = {
    val rows = df
      .select(col(e.idCol).cast("long").as("id"), col(e.vecCol).cast("array<float>").as("vec"))
      .filter(col("vec").isNotNull && col("id").isNotNull)
      .distinct()
      .withColumn("epoch", epoch.map(lit(_)).getOrElse(lit(null)).cast("long"))
      .withColumn("admitted", admitted.map(lit(_)).getOrElse(lit(null)).cast("long"))
    Similarity.withSignatures(rows, "vec", e.planes)
      .select(col("id"), col("vec"), col("epoch"), col("admitted"),
        col("__sig").as("sig"), col("__rsig").as("rsig"), col("__rsig2").as("rsig2"))
  }

  /** Validate (and if needed rebuild) the signature cache for this
    * index + geometry: one FS listing compared with the sync marker, NO
    * Spark job, so a synced gate pays ~nothing here. A divergent marker
    * rebuilds the cache wholesale from the index — the cost of one
    * [[Live]] gate's signature pass — and logs why (a silent rebuild
    * inside a gate would read as the gate being slow).
    */
  def ensureSigCache(spark: SparkSession, path: String, planes: Array[Array[Float]]): Unit = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    requireNotMidCompaction(fs, path)
    val dir = sigsDir(path, planes)
    val fp = indexFingerprint(fs, p)
    val marker = readSyncMarker(fs, dir)
    if (marker.contains(fp)) return
    if (!hasParquet(fs, p)) { deleteOrThrow(fs, dir); return } // empty index: no cache at all
    log.info(s"ensureSigCache: rebuilding $dir from $path (" +
      (if (marker.isEmpty) "no sync marker — first build, a crashed rebuild, or a pre-marker cache"
       else "sync marker names a different index file set — an unsigned append, " +
         "an out-of-band compaction, or a torn lockstep append") + ")")
    val tmp = sibling(dir.toString, ".rebuild-tmp")
    Similarity.withSignatures(spark.read.schema(tagged(VecSchema)).parquet(path), "vec", planes)
      .select(col("id"), col("vec"), col("epoch"), col("admitted"),
        col("__sig").as("sig"), col("__rsig").as("rsig"), col("__rsig2").as("rsig2"))
      .write.mode("overwrite").parquet(tmp.toString)
    // tmp-then-swap: the fresh dir has no marker until the line below,
    // so a crash mid-rebuild never leaves a half-built cache that reads
    // as synced
    deleteOrThrow(fs, dir)
    renameOrThrow(fs, tmp, dir)
    writeSyncMarker(fs, dir, fp)
  }

  /** One signature cache as [[listSigCaches]] reports it: the 16-hex
    * geometry key, the directory, its parquet footprint, and whether
    * its marker names the index's CURRENT fingerprint (`synced = false`:
    * the next gate on this geometry rebuilds it, or the geometry is
    * retired and the cache reclaimable via [[dropSigCache]]).
    */
  case class SigCacheInfo(
      geometryKey: String,
      path: String,
      dataFiles: Long,
      dataBytes: Long,
      synced: Boolean)

  /** Every live signature cache of the vector index at `path`. Two FS
    * listings per cache, no Spark job; safe on a missing index.
    */
  def listSigCaches(spark: SparkSession, path: String): Seq[SigCacheInfo] = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    val fp = indexFingerprint(fs, p)
    sigCacheDirs(fs, path).map { dir =>
      val files = fs.listStatus(dir)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      SigCacheInfo(
        geometryKey = dir.getName.substring(dir.getName.lastIndexOf('-') + 1),
        path = dir.toString,
        dataFiles = files.length.toLong,
        dataBytes = files.map(_.getLen).sum,
        synced = readSyncMarker(fs, dir).contains(fp))
    }
  }

  /** Delete ONE geometry's signature cache (and a crashed rebuild's
    * `.rebuild-tmp` for the same key) — the reclaim path for a retired
    * geometry. Idempotent; deleting a live geometry's cache is safe but
    * wasteful (the next gate rebuilds it).
    */
  def dropSigCache(spark: SparkSession, path: String, geometryKey: String): Unit = {
    require(geometryKey.matches("[0-9a-f]{16}"),
      s"geometryKey='$geometryKey' is not a 16-hex cache key (see listSigCaches)")
    val fs = fsFor(spark, new Path(path))
    val dir = sibling(path, s".sigs-$geometryKey")
    deleteOrThrow(fs, dir)
    deleteOrThrow(fs, sibling(dir.toString, ".rebuild-tmp"))
  }

  /** [[dropSigCache]] for EVERY geometry of the index at `path`,
    * rebuild-tmp leftovers included. The index itself is untouched.
    */
  def dropSigCaches(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, new Path(path))
    sigSiblings(fs, path)
      .filter(q => SigCacheName.findFirstIn(q.getName).isDefined || q.getName.endsWith(".rebuild-tmp"))
      .foreach(deleteOrThrow(fs, _))
  }

  /** The cache as a PRESIGNED reference frame for
    * [[graft.similarity.Similarity.dropSeenEmbeddingPresigned]]:
    * `(idCol, unit vecCol, __sig, __rsig, __rsig2)` restricted to
    * `view`. Degenerate rows (null signatures) drop here — they never
    * gate.
    */
  private def readSigs(spark: SparkSession, path: String, e: Embedding, view: View): DataFrame = {
    val dir = sigsDir(path, e.planes)
    if (!hasParquet(fsFor(spark, dir), dir))
      return emptyFrame(spark, StructType(Seq(
        StructField(e.idCol, LongType), StructField(e.vecCol, ArrayType(FloatType, true)),
        StructField("__sig", LongType), StructField("__rsig", LongType),
        StructField("__rsig2", LongType))))
    val selected = view(spark.read.schema(sigCacheSchema).parquet(dir.toString))
      .filter(col("sig").isNotNull)
      .select(col("id").as(e.idCol), col("vec").as(e.vecCol),
        col("sig").as("__sig"), col("rsig").as("__rsig"), col("rsig2").as("__rsig2"))
    // the verify stage needs UNIT vectors: normalize the raw stored
    // vector with the shared expression (identical floats to Live)
    Similarity.unitized(selected, e.vecCol).filter(col(e.vecCol).isNotNull)
  }

  /** [[Auto]]'s byte floor: under ~16 MB of index parquet the whole
    * gate is sub-second either way and the cache's artifacts buy
    * nothing worth their operational surface. Above it the cached path
    * never loses and increasingly wins: validation is one FS listing,
    * the cache scan costs the index scan plus 24 B/row, and the saving —
    * 190 dim-float dots per index row — grows with planes x dim x rows
    * (BENCH_scale's embedding_gate_vs_history pair measures parity at
    * 64-dim / 40 k rows; the 8x-history pair shows the gap opening).
    */
  val AutoSignBytes: Long = 16L << 20

  /** Cached if this geometry's cache already exists (using it is free;
    * ignoring it would strand it stale) or the index's parquet crosses
    * `floorBytes` (the build costs about one Live signature pass plus
    * one write, amortized over every later gate).
    */
  private def useSigned(
      spark: SparkSession, path: String, planes: Array[Array[Float]], floorBytes: Long): Boolean = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    hasParquet(fs, sigsDir(path, planes)) || {
      val bytes =
        if (fs.exists(p))
          fs.listStatus(p)
            .collect { case st if st.isFile && st.getPath.getName.endsWith(".parquet") => st.getLen }
            .sum
        else 0L
      bytes >= floorBytes
    }
  }
}
