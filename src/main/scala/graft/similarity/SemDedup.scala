package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space, call same-cluster
  * pairs at cosine >= `eps` semantic duplicates, and keep the member
  * of each duplicate pair with the LOWEST similarity to the cluster
  * representative — the paper's "keep the least typical exemplar"
  * rule (low centroid-similarity examples carry the information the
  * cluster's bulk repeats).
  *
  * Scale shape: the pair search is an equi-join on the cell key —
  * never a corpus cross join. Within-cell cost is quadratic in cell
  * size, which is the paper's own accepted cost and the knob is `k`:
  * clusters are sized to a bounded occupancy (the paper runs 110 k
  * clusters over LAION-440M, ~4 k rows/cell), so total pair work is
  * `n x avgCell`, linear in the corpus at fixed cell size, and the
  * [[Ivf]] trainer this module reuses keeps its init sample
  * fixed-size at any corpus scale. Hot cells are ordinary AQE
  * skew-join territory (the join is a plain shuffle equi-join).
  *
  * The removal rule is PAIR-LOCAL, not connected-component: x is
  * removed iff SOME same-cell partner y at cos >= eps ranks strictly
  * below it by `(rep_sim, id)`. On a duplicate chain x~y~z (x!~z)
  * with rep_sims z < y < x, x and y are both removed and z — the
  * chain's least-typical member — survives; survivors of a clique
  * are exactly its minimum. This is deterministic at any parallelism
  * (no iteration order), needs no union-find rounds, and matches the
  * paper's greedy keep-one-per-group intent; [[graft.dedup.Dedup
  * .dupClusters]] is the engine's component-exact alternative when
  * cluster-grain bookkeeping is the requirement.
  */
object SemDedup {

  /** Per-row duplication decisions over pre-assigned cells.
    *
    * `cells` must carry a unit-normalized vector `vecCol` (so pair
    * scores are bare dot products), a cell key `cellCol`, and the
    * per-row representative similarity `repSimCol` the keep-rule
    * ranks by. Adds `n_dup_partners` (same-cell partners at
    * cos >= eps, int) and `removed` (0/1 int).
    *
    * One equi-join on the cell key + one id-grain aggregate + one
    * id-grain join back; the input's own columns ride through
    * untouched.
    */
  def decisions(
      cells: DataFrame,
      vecCol: String,
      idCol: String,
      cellCol: String,
      repSimCol: String,
      eps: Double): DataFrame = {
    val a = cells.select(
      col(cellCol).as("__cell"), col(idCol).as("__id"),
      col(vecCol).as("__u"), col(repSimCol).as("__rs"))
    val b = cells.select(
      col(cellCol).as("__cell"), col(idCol).as("__bid"),
      col(vecCol).as("__bu"), col(repSimCol).as("__brs"))
    val agg = a.join(b, Seq("__cell"))
      .filter(col("__id") =!= col("__bid"))
      .filter(Similarity.dot(col("__u"), col("__bu")) >= eps)
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).cast("int").as("n_dup_partners"),
        max(when(
          col("__brs") < col("__rs") ||
            (col("__brs") === col("__rs") && col("__bid") < col("__id")),
          1).otherwise(0)).cast("int").as("removed"))
      .select(col("__id").as(idCol), col("n_dup_partners"), col("removed"))
    cells.join(agg, Seq(idCol), "left")
      .na.fill(0, Seq("n_dup_partners", "removed"))
  }

  /** The production path end-to-end: spherical k-means cells
    * ([[Ivf.train]] — fixed-size driver sample, deterministic),
    * [[Ivf.index]] assignment, representative similarity = cosine to
    * the assigned centroid (a broadcast join against the k-row
    * centroid table), then [[decisions]]. Returns EVERY input row
    * with ALL its original columns (the decision grain joins back on
    * the id — the index's narrow (id, normalized-vec) projection
    * never replaces the caller's payload or float embeddings) plus
    * `cell`, `rep_sim`, `n_dup_partners`, `removed`. Degenerate
    * vectors (null / zero-norm — dropped by [[Ivf.index]]) come back
    * with null cell/rep_sim and `removed = 0`: nothing can be a
    * semantic duplicate of garbage, and silently deleting such rows
    * from the kept corpus would be a data-loss trap. Filter
    * `removed = 0` for the kept corpus. The persisted cell-assignment
    * projection lives as long as the enclosing [[graft.core.CacheScope]].
    */
  def withDecisions(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      model: Ivf.Model,
      eps: Double): DataFrame = {
    // The decision columns join back onto the caller's FULL frame; an
    // input already carrying one of these names would produce
    // ambiguous duplicates and a confusing na.fill failure.
    Seq("cell", "rep_sim", "n_dup_partners", "removed")
      .foreach(c => require(!df.columns.contains(c),
        s"input must not contain reserved column $c"))
    val spark = df.sparkSession
    import spark.implicits._
    val cents = spark.createDataset(
      model.centroids.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "__centroid")
    // three consumers (the pair join's two sides + the decision
    // join-back): without the persist each one re-runs the
    // full-corpus cell assignment (k x dim MACs per row — the
    // operator's dominant cost). Lazy persist keeps DataFrame
    // construction job-free.
    val withRep = graft.core.CacheScope.persist(Ivf.index(df, vecCol, idCol, model)
      .join(broadcast(cents), Seq("cell"))
      .withColumn("rep_sim", Similarity.dot(col(vecCol), col("__centroid")))
      .drop("__centroid"))
    val dec = decisions(withRep, vecCol, idCol, "cell", "rep_sim", eps)
      .select(col(idCol), col("cell"), col("rep_sim"),
        col("n_dup_partners"), col("removed"))
    df.join(dec, Seq(idCol), "left")
      .na.fill(0, Seq("n_dup_partners", "removed"))
  }

  /** [[withDecisions]] filtered to the kept corpus — the SemDeDup
    * result proper.
    */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      model: Ivf.Model,
      eps: Double): DataFrame =
    withDecisions(df, vecCol, idCol, model, eps)
      .filter(col("removed") === 0)
      .drop("n_dup_partners", "removed", "cell", "rep_sim")
}
