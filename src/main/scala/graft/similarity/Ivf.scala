package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: deterministic k-means over unit
  * vectors partitions the corpus into `k` cells; a query probes only
  * its `nprobe` nearest cells, so the exact-cosine work drops to
  * ~nprobe/k of the corpus. The complement of the RHP-LSH path: IVF
  * adapts to the data distribution (clustered corpora prune far
  * better), LSH is data-independent.
  *
  * Scale design: training samples a bounded number of vectors to the
  * driver in ONE action (hash-ordered TakeOrderedAndProject — k-means
  * on a sample is standard practice at any corpus size); assignment is
  * the [[NearestCell]] expression (one tight argmax-dot loop per row,
  * one scan); the assigned table is the persisted "index", ideally
  * written bucketed by `cell` so a probe reads only its buckets.
  */
object Ivf {

  final case class Model(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length
  }

  /** Deterministic spherical k-means on a driver-side sample:
    * ONE action — the sample is the `sampleSize` rows with the
    * smallest `xxhash64(vec, seed)`, which plans as
    * `TakeOrderedAndProject` (each partition keeps only its local
    * top-N by hash, the driver merges): a pseudo-random, seed-stable
    * uniform sample with no preliminary `count()` scan and no
    * fraction-sampling second pass. Init = evenly spaced points of the
    * sample ordered by their first coordinate (no RNG), `iters` Lloyd
    * rounds with cosine assignment, centroids re-normalized.
    */
  def train(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 10,
      sampleSize: Int = 10000,
      seed: Long = 42L): Model = {
    // Degenerate embeddings are excluded by the shared
    // [[finiteNormed]] guard — see its scaladoc for why each shape
    // matters. Failed-embedding rows are normal in a large corpus.
    val sample = finiteNormed(df.select(col(vecCol)), vecCol)
      .orderBy(xxhash64(col(vecCol), lit(seed)).asc)
      .limit(sampleSize)
      .select(col(vecCol))
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    val unit = sample.map(normalize)
    var centroids = unit.sortBy(_.head).zipWithIndex
      .collect { case (v, i) if i % math.max(unit.length / k, 1) == 0 => v }
      .take(k)
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](unit.head.length))
      val counts = new Array[Int](centroids.length)
      unit.foreach { v =>
        val c = nearest(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) else normalize(sums(c))
      }.toArray
      iter += 1
    }
    Model(centroids.map(_.map(_.toFloat)))
  }

  /** Full-corpus distributed Lloyd's — the scale path [[train]]'s
    * sampled fit approximates. Same deterministic init (the sampled
    * fit with zero refinement rounds), then `iters` rounds where each
    * round is ONE distributed aggregation: assign every corpus vector
    * to its nearest centroid ([[NearestCell]], a tight per-row argmax
    * loop), `posexplode` the vector, and sum per `(cell, pos)`
    * map-side-combined. The driver materializes exactly `k × dim`
    * partial-sum rows per round — a control-plane table whose size is
    * independent of corpus row count, so 100 TB of embeddings costs
    * `iters` scans (over a persisted, normalized, degenerate-free
    * projection) and nothing driver-side grows with the data.
    *
    * Use when cluster geometry must reflect the FULL corpus (domain
    * balancing over rare slices a 10 k sample under-represents);
    * [[train]] remains the default for ANN cell geometry, where
    * sampled Lloyd's is standard practice. Centroids match the
    * driver fit to float rounding when the corpus fits in the sample
    * (IvfSpec pins assignment equality); empty cells keep their
    * previous centroid, exactly like [[train]].
    */
  def trainDistributed(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 10,
      sampleSize: Int = 10000,
      seed: Long = 42L): Model = {
    val init = train(df, vecCol, k, iters = 0, sampleSize = sampleSize, seed = seed)
    if (iters == 0) return init
    // Same [[finiteNormed]] degenerate-vector guard as [[index]];
    // normalized once, persisted across the Lloyd rounds, released
    // with the scope before returning.
    graft.core.CacheScope.run(df.sparkSession) {
      val unit = graft.core.CacheScope.persist(finiteNormed(df.select(col(vecCol)), vecCol)
        .select(transform(col(vecCol), x => x / col("__n")).as("__v")))
      var centroids = init.centroids
      val dim = centroids.head.length
      var iter = 0
      while (iter < iters) {
        val partials = unit
          .select(col("__v"), NearestCell.nearestCell(col("__v"), centroids).as("__cell"))
          .select(col("__cell"), posexplode(col("__v")).as(Seq("__pos", "__x")))
          .groupBy("__cell", "__pos")
          .agg(sum(col("__x").cast("double")).as("__s"))
          .collect()
        val sums = Array.fill(centroids.length)(new Array[Double](dim))
        val seen = new Array[Boolean](centroids.length)
        partials.foreach { r =>
          val c = r.getInt(0)
          seen(c) = true
          sums(c)(r.getInt(1)) = r.getDouble(2)
        }
        centroids = centroids.indices.map { c =>
          if (!seen(c)) centroids(c)
          else normalize(sums(c)).map(_.toFloat)
        }.toArray
        iter += 1
      }
      Model(centroids)
    }
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  private def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cs.length) {
      var d = 0.0
      var i = 0
      while (i < v.length) { d += v(i) * cs(c)(i); i += 1 }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  /** Cell assignment column: argmax dot(vec, centroid) (cosine
    * assignment assuming unit-normalized input), ties to the smallest
    * cell — one tight [[NearestCell]] loop per row instead of k
    * interpreted higher-order dot products.
    */
  def cellOf(vec: Column, model: Model): Column =
    NearestCell.nearestCell(vec, model.centroids)

  /** THE degenerate-vector guard, shared by [[train]],
    * [[trainDistributed]], and [[index]] so which rows train and which
    * get indexed can never drift apart: keeps only rows whose `vecCol`
    * norm is finite and positive, exposing it as `__n` for callers
    * that normalize. Rejected shapes, and why each matters — a whole-
    * null vector would NPE at getSeq, a null element null-propagates
    * through dot() so `__n > 0` fails, a NaN element makes the norm
    * NaN (caught by `!isnan`) and would otherwise poison centroids or
    * out-rank every real neighbor, a zero-norm vector carries no
    * direction (x/0 → NaN dots), and an INFINITE norm (one Inf
    * element) passes `> 0 && !isnan` but normalizes its Inf component
    * to Inf/Inf = NaN — the same poison by another door (review r19:
    * Pq.usableVec closed this in r18; this guard had the original
    * hole).
    */
  private def finiteNormed(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__n", Similarity.norm(col(vecCol)))
      .filter(col("__n") > 0 && !isnan(col("__n")) &&
        col("__n") < lit(Double.PositiveInfinity))

  /** Build the index table: rows + `cell`. Vectors are normalized once
    * so probes are bare dot products. DEGENERATE rows are dropped by
    * the shared [[finiteNormed]] guard: they cannot participate in
    * cosine search, and unguarded x/0 would give them NaN dots that
    * Spark ranks ABOVE every real neighbor.
    */
  def index(df: DataFrame, vecCol: String, idCol: String, model: Model): DataFrame =
    // exact-dimension guard on top of finiteNormed: NearestCell and
    // the probe dots TRUNCATE a wrong-length row instead of failing,
    // so an off-dim row would sit in a cell scoring systematically
    // wrong dots — exclude it like every other degenerate (review r19)
    finiteNormed(df.select(col(idCol), col(vecCol))
        .filter(size(col(vecCol)) === model.centroids.head.length), vecCol)
      .select(col(idCol), transform(col(vecCol), x => x / col("__n")).as(vecCol))
      .withColumn("cell", cellOf(col(vecCol), model))

  /** Approximate KNN JOIN: top-k cosine neighbors from the indexed
    * corpus for EVERY row of a query table — the batch form of
    * [[topK]] (a driver-side literal query vector cannot carry a
    * million query rows). Each query row probes its `nprobe` nearest
    * cells ([[NearestCells]] — one tight loop), candidates co-locate
    * by `cell` (a plain equi-join: bucket-colocated when the index is
    * written via [[writeIndex]], shuffle-on-cell otherwise — never a
    * cross join), exact dots run on candidates only, and the per-query
    * top-k is a ranked window that Spark executes as WindowGroupLimit
    * (losers die map-side).
    *
    * Output: (qIdCol, idCol, cosine, rank), rank 1..k per query.
    */
  def knnJoin(
      indexed: DataFrame,
      vecCol: String,
      idCol: String,
      queries: DataFrame,
      qVecCol: String,
      qIdCol: String,
      k: Int,
      model: Model,
      nprobe: Int = 2): DataFrame = {
    require(qIdCol != idCol,
      s"query id column '$qIdCol' must differ from the index id column — both appear in the " +
        s"output (alias one side, e.g. queries.select(col(\"$idCol\").as(\"q_id\"), ...))")
    import org.apache.spark.sql.expressions.Window
    // same degenerate-vector guard as [[index]]: a zero-norm query
    // would rank the whole probed cell by NaN
    val qNorm = queries
      .select(col(qIdCol), col(qVecCol))
      .withColumn("__n", Similarity.norm(col(qVecCol)))
      .select(col(qIdCol),
        when(col("__n") > 0 && !isnan(col("__n")),
          transform(col(qVecCol), x => x / col("__n"))).as("__qv"))
      .filter(col("__qv").isNotNull)
    val probes = qNorm.select(
      col(qIdCol), col("__qv"),
      explode(NearestCells.nearestCells(col("__qv"), model.centroids, nprobe)).as("cell"))
    val w = Window.partitionBy(qIdCol).orderBy(col("cosine").desc, col(idCol).asc)
    probes
      .join(indexed.select(col(idCol), col(vecCol), col("cell")), "cell")
      .withColumn("cosine", Similarity.dot(col("__qv"), col(vecCol)))
      .select(col(qIdCol), col(idCol), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persist the index bucketed by `cell`: a probe-side equi-join on
    * `cell` then reads co-located buckets with NO shuffle of the
    * (wide) index — the at-scale layout the module doc promises.
    * `saveAsTable` is required (bucket metadata lives in the catalog).
    */
  def writeIndex(indexed: DataFrame, tableName: String, buckets: Int): Unit =
    indexed.write
      .mode("overwrite")
      .bucketBy(buckets, "cell")
      .sortBy("cell")
      .saveAsTable(tableName)

  def readIndex(spark: org.apache.spark.sql.SparkSession, tableName: String): DataFrame =
    spark.table(tableName)

  /** Append a NEW batch to a [[writeIndex]] bucketed table without
    * retraining: assign cells with the SAME frozen model (cell is a
    * pure function of the model, so appended rows are
    * indistinguishable from original ones to every probe) and insert
    * into the existing bucket layout. Cost scales with the batch,
    * never the table. Ids must stay unique across appends (caller's
    * contract). Watch [[Pq.driftCheck]]-style statistics (mean dot to
    * the assigned centroid, via [[assignmentTightness]]) to know when
    * the cell geometry needs a retrain.
    */
  def appendToIndex(
      df: DataFrame, vecCol: String, idCol: String, model: Model,
      tableName: String, buckets: Int): Unit =
    // append with the SAME bucket spec: Spark validates it against
    // the existing table and fails loud on a mismatch, so appended
    // files stay probe-colocated with the original ones
    index(df, vecCol, idCol, model)
      .write.mode("append")
      .bucketBy(buckets, "cell")
      .sortBy("cell")
      .saveAsTable(tableName)

  /** Mean cosine between each usable row's unit vector and its
    * ASSIGNED centroid — the IVF-side drift statistic: a frozen cell
    * geometry fits a drifted corpus more loosely, so this mean falls
    * from its training-time value. One distributed aggregation;
    * NaN on zero usable rows.
    */
  def assignmentTightness(df: DataFrame, vecCol: String, model: Model): Double = {
    // exact-dimension guard on top of finiteNormed: NearestCell/dot
    // tolerate a wrong-length row by truncating, which would skew the
    // statistic silently instead of excluding the row (review r19)
    val dim = model.centroids.head.length
    val assigned = finiteNormed(
      df.select(col(vecCol)).filter(size(col(vecCol)) === dim), vecCol)
      .select(transform(col(vecCol), x => x / col("__n")).as("u"))
      .withColumn("cell", cellOf(col("u"), model))
    val cents = model.centroids
    val withDot = assigned.withColumn("cent",
      element_at(
        array(cents.toIndexedSeq.map(c =>
          array(c.toIndexedSeq.map(x => lit(x)): _*)): _*),
        col("cell") + 1))
      .select(Similarity.dot(col("u"), col("cent")).as("d"))
    withDot.agg(avg("d")).collect()(0) match {
      case r if r.isNullAt(0) => Double.NaN
      case r => r.getDouble(0)
    }
  }

  /** Persist the trained IVF model as a small parquet table — one row
    * per cell; the artifact a daily-ingest pipeline loads to
    * [[appendToIndex]] without retraining.
    */
  def writeModel(spark: org.apache.spark.sql.SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[writeModel]] artifact; fails loud on an empty layout. */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    // explicit schema: an empty/missing layout must hit the loud
    // require below, not schema inference's AnalysisException
    val rows = spark.read.schema("cell INT, centroid ARRAY<FLOAT>")
      .parquet(path).select("cell", "centroid").collect()
    require(rows.nonEmpty, s"no IVF model rows at $path")
    Model(rows.sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray))
  }

  /** Top-k by cosine probing only the query's `nprobe` nearest cells. */
  def topK(
      indexed: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Array[Float],
      k: Int,
      model: Model,
      nprobe: Int = 2): DataFrame = {
    val qUnit = normalize(queryVec.map(_.toDouble))
    val cells = model.centroids.indices
      .sortBy(c => -qUnit.zip(model.centroids(c)).map { case (a, b) => a * b }.sum)
      .take(nprobe)
    val qLit = array(qUnit.toIndexedSeq.map(x => lit(x.toFloat)): _*)
    indexed
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .withColumn("cosine", Similarity.dot(col(vecCol), qLit))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }
}
