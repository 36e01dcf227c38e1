package graft.ops

/** A9 — 1-D Gaussian-mixture multimodality test (pure Scala EM + BIC).
  *
  * Reference spec (Requirements/ExampleAiCode.md:308-372; tunables at
  * Requirements/ExamplePipelineCode.md:232-237): fit k = 1..maxK
  * mixtures, pick k by BIC, drop components with weight < minWeight,
  * verdict "High" iff >= 2 surviving components whose means differ by
  * >= separationThreshold x overall median.
  *
  * This is per-group *algorithmic* work on a bounded sample (the
  * pipeline caps input at the 5000 most recent points per stage,
  * ExamplePipelineCode.md:232): the pipeline collects each stage's
  * sample and fits the stages concurrently on the driver — plain Scala
  * math, no Catalyst extension needed (SURVEY.md §2.9).
  *
  * Determinism (SURVEY.md §7.4#4): no random init — means start at
  * evenly spaced quantiles of the sorted sample, variances at the
  * overall variance, weights uniform. Same input => same verdict.
  */
object Gmm {

  final case class Component(weight: Double, mean: Double, variance: Double)
  final case class Fit(k: Int, logLikelihood: Double, bic: Double, components: Array[Component])

  private val MinVariance = 1e-6
  private val MaxIters = 200
  private val Tol = 1e-7

  /** Deterministic EM fit of a k-component 1-D mixture.
    *
    * One flat `n*k` responsibility buffer serves every iteration, and
    * `log(weight)` and `log(2π·variance)` are taken once per component
    * per E-step. The convergence log-likelihood of the components an
    * M-step produced is the log-sum-exp the next E-step computes
    * anyway, point by point in the same order, so an iteration is one
    * M-step and one E-step. Every per-element
    * operation and every summation order is that of the textbook loop
    * (E-step, M-step, log-likelihood), so each `Fit` is bit-identical
    * to it (GmmSpec pins the bits).
    */
  def fit(xs: Array[Double], k: Int): Fit = {
    val n = xs.length
    require(n >= k && k >= 1, s"need >= $k points, got $n")
    val sorted = xs.sorted
    val mean0 = xs.sum / n
    val var0 = math.max(xs.map(x => (x - mean0) * (x - mean0)).sum / n, MinVariance)

    // Quantile-spaced initial means: q = (i+1)/(k+1).
    val weight = Array.fill(k)(1.0 / k)
    val mean = Array.tabulate(k) { i =>
      val q = (i + 1).toDouble / (k + 1)
      sorted(math.min((q * (n - 1)).round.toInt, n - 1))
    }
    val variance = Array.fill(k)(var0)
    val logW = new Array[Double](k)
    val log2piV = new Array[Double](k)
    val resp = new Array[Double](n * k) // point i, component j at i * k + j

    // E-step: responsibilities under the current components; returns
    // their log-likelihood (log-sum-exp over components, summed over
    // points in index order).
    def eStep(): Double = {
      var j = 0
      while (j < k) {
        logW(j) = math.log(weight(j))
        log2piV(j) = math.log(2 * math.Pi * variance(j))
        j += 1
      }
      var ll = 0.0
      var i = 0
      while (i < n) {
        val x = xs(i)
        val row = i * k
        var mx = Double.NegativeInfinity
        j = 0
        while (j < k) {
          val d = x - mean(j)
          val lp = logW(j) + -0.5 * (log2piV(j) + d * d / variance(j))
          resp(row + j) = lp
          if (lp > mx) mx = lp
          j += 1
        }
        var s = 0.0
        j = 0
        while (j < k) { val e = math.exp(resp(row + j) - mx); resp(row + j) = e; s += e; j += 1 }
        j = 0
        while (j < k) { resp(row + j) /= s; j += 1 }
        ll += mx + math.log(s)
        i += 1
      }
      ll
    }

    // M-step: component j from column j of the responsibilities; a
    // component with no mass keeps its mean and falls back to var0.
    def mStep(): Unit = {
      var j = 0
      while (j < k) {
        var nk = 0.0
        var sx = 0.0
        var i = 0
        while (i < n) { val r = resp(i * k + j); nk += r; sx += r * xs(i); i += 1 }
        val m = if (nk > 0) sx / nk else mean(j)
        var sv = 0.0
        i = 0
        while (i < n) { val d = xs(i) - m; sv += resp(i * k + j) * d * d; i += 1 }
        weight(j) = math.max(nk / n, 1e-12)
        mean(j) = m
        variance(j) = math.max(if (nk > 0) sv / nk else var0, MinVariance)
        j += 1
      }
    }

    eStep() // the initial components' log-likelihood is never compared
    var prevLL = Double.NegativeInfinity
    var iter = 0
    var converged = false
    while (iter < MaxIters && !converged) {
      mStep()
      val ll = eStep()
      if (math.abs(ll - prevLL) < Tol * (1 + math.abs(ll))) converged = true
      prevLL = ll
      iter += 1
    }
    val params = k * 2 + (k - 1) // means + variances + free weights
    val bic = -2 * prevLL + params * math.log(n.toDouble)
    Fit(k, prevLL, bic, Array.tabulate(k)(j => Component(weight(j), mean(j), variance(j))))
  }

  /** Best fit over k = 1..maxK by BIC (lowest wins; ties -> smaller k). */
  def bestByBic(xs: Array[Double], maxK: Int): Fit =
    (1 to math.min(maxK, xs.length)).map(k => fit(xs, k)).minBy(f => (f.bic, f.k))
}
