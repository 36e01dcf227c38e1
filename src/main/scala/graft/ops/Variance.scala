package graft.ops

import graft.hvac.VarianceVerdict

/** The reference's `classify_power_variance` re-expressed for Spark
  * (signature + behavior spec: Requirements/ExampleAiCode.md:285-372;
  * call sites and tunables Requirements/ExamplePipelineCode.md:254-262,
  * 321-328).
  *
  * Decision chain, per the spec:
  *   1. fewer than `minSamples` points -> "Low" (insufficient data to
  *      claim high variance; ExamplePipelineCode.md:234,303);
  *   2. rCV = MAD/median > `rcvThreshold` -> "High" (robust spread);
  *   3. otherwise fit GMMs k = 1..`maxComponents`, select by BIC, drop
  *      components with weight < `minSignificantWeight`; "High" iff
  *      >= 2 surviving components separated by >=
  *      `separationThreshold` x overall median;
  *   4. else "Low".
  *
  * Pure Scala on an `Array[Double]`: the pipeline collects each
  * stage's capped sample in one action and classifies the stages
  * concurrently on the driver (the joblib thread pool of the
  * reference, ExamplePipelineCode.md:265-269).
  *
  * Same input => same verdict (SURVEY.md §7.4#4) holds for the sample
  * as a multiset: a stage's samples arrive in shuffle order, and the
  * GMM's sums depend on the order, so `classify` sorts them once and
  * every statistic runs on the ascending order.
  */
object Variance {

  final case class Params(
      rcvThreshold: Double = 0.35,
      minSamples: Int = 50,
      maxComponents: Int = 3,
      minSignificantWeight: Double = 0.10,
      separationThreshold: Double = 0.20)

  def classify(stage: String, values: Array[Double], p: Params = Params()): VarianceVerdict = {
    val n = values.length
    if (n < p.minSamples)
      return VarianceVerdict(stage, "Low", s"insufficient_samples(n=$n<${p.minSamples})",
        0, Nil, Nil, Nil, None, n.toLong)

    val xs = values.sorted
    val med = medianOfSorted(xs)
    val rcv = if (med != 0) Some(medianOf(xs.map(v => math.abs(v - med))) / med) else None
    if (rcv.exists(_ > p.rcvThreshold))
      // Locale.ROOT: the reason string is DATA (compared in specs and
      // write-back outputs), so it must not vary with the JVM locale
      return VarianceVerdict(stage, "High",
        String.format(java.util.Locale.ROOT, "high_rcv(%.4f>%.2f)",
          Double.box(rcv.get), Double.box(p.rcvThreshold)),
        0, Nil, Nil, Nil, rcv, n.toLong)

    val fit = Gmm.bestByBic(xs, p.maxComponents)
    val significant = fit.components.filter(_.weight >= p.minSignificantWeight)
    val sep = p.separationThreshold * math.abs(med)
    // "at least two modes ... meaningfully separated" is an ANY-PAIR
    // condition (ExampleAiCode.md's separation filtering), and the
    // widest pair of sorted means is last - head — an adjacent-gap
    // check would wrongly call {0, 6, 12} unimodal at sep = 10
    val multimodal = significant.length >= 2 && {
      val ms = significant.map(_.mean).sorted
      ms.last - ms.head >= sep
    }
    val verdict = if (multimodal) "High" else "Low"
    val reason =
      if (multimodal) s"multimodal(${significant.length} components, separation>=$sep)"
      else s"unimodal(bic_k=${fit.k})"
    VarianceVerdict(stage, verdict, reason, significant.length,
      significant.map(_.mean).toSeq, significant.map(_.weight).toSeq,
      significant.map(_.variance).toSeq, rcv, n.toLong)
  }

  /** Exact interpolated median, matching pandas/numpy. */
  def medianOf(xs: Array[Double]): Double = medianOfSorted(xs.sorted)

  private def medianOfSorted(s: Array[Double]): Double = {
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
