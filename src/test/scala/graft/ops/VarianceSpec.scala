package graft.ops

import graft.SparkSpec

/** `varianceSynthetic` fixture (FIXTURES.md §2): unimodal N(300,10^2)
  * vs bimodal {N(1700,50^2), N(7000,100^2)} match the documented
  * examples (ExampleAiCode.md:98-111). Deterministic LCG sampler keeps
  * the suite seed-stable.
  */
class VarianceSpec extends SparkSpec {

  // Deterministic Box-Muller over a simple LCG: reproducible without JDK RNG.
  private def gaussians(n: Int, mean: Double, std: Double, seed: Long): Array[Double] = {
    var s = seed
    def next(): Double = { s = (s * 6364136223846793005L + 1442695040888963407L); ((s >>> 11).toDouble / (1L << 53).toDouble) }
    Array.fill(n) {
      val u1 = math.max(next(), 1e-12); val u2 = next()
      mean + std * math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
  }

  test("unimodal tight data -> Low") {
    val v = Variance.classify("cool1", gaussians(200, 300, 10, 42L))
    assert(v.variance == "Low", v.reason)
  }

  test("bimodal well-separated data -> High (multimodal or rcv)") {
    val xs = gaussians(100, 1700, 50, 7L) ++ gaussians(100, 7000, 100, 9L)
    val v = Variance.classify("cool2", xs)
    assert(v.variance == "High", v.reason)
  }

  test("trimodal data whose ADJACENT gaps sit under sep but whose span exceeds it -> High") {
    // clusters at 85/100/115: median 100 -> sep = 20; adjacent gaps 15
    // each, widest pair 30. "At least two meaningfully separated
    // modes" is an ANY-PAIR condition — an adjacent-gap check would
    // wrongly return Low. rCV here is ~0.15, below the 0.35 gate, so
    // the verdict must come from the GMM separation rule.
    val xs = gaussians(40, 85, 0.5, 3L) ++ gaussians(40, 100, 0.5, 5L) ++
      gaussians(40, 115, 0.5, 11L)
    val v = Variance.classify("cool3", xs)
    assert(v.rcv.exists(_ < 0.35), v.rcv.toString)
    assert(v.variance == "High", v.reason)
    assert(v.reason.startsWith("multimodal"), v.reason)
  }

  test("high-dispersion data -> High via rCV gate (>0.35)") {
    // alternating values around widely spread medians
    val xs = Array.tabulate(120)(i => if (i % 2 == 0) 100.0 else 300.0)
    val v = Variance.classify("s", xs)
    assert(v.variance == "High", v.reason)
    assert(v.reason.startsWith("high_rcv"))
  }

  // `sparseStage` fixture: < minSamples defaults to Low
  // (MIN_SAMPLES_FOR_TEST, ExamplePipelineCode.md:234).
  test("fewer than minSamples -> Low with insufficient_samples reason") {
    val v = Variance.classify("s", gaussians(30, 1700, 800, 3L))
    assert(v.variance == "Low")
    assert(v.reason.startsWith("insufficient_samples"))
  }

  test("classification is deterministic") {
    val xs = gaussians(150, 1700, 50, 5L) ++ gaussians(150, 7000, 100, 6L)
    val a = Variance.classify("s", xs)
    val b = Variance.classify("s", xs)
    assert(a == b)
  }

  test("verdicts do not depend on the arrival order of the samples") {
    // a stage's samples reach classify in shuffle arrival order, and
    // the GMM's sums depend on the order: every number of the verdict
    // (means, weights, variances, rCV) must match across permutations
    val bimodal = gaussians(150, 1000, 20, 31L) ++ gaussians(150, 1300, 20, 37L)
    val unimodal = gaussians(300, 800, 15, 41L)
    def shuffled(xs: Array[Double], seed: Long): Array[Double] = {
      var s = seed
      val out = xs.clone()
      for (i <- out.indices.reverse) {
        s = s * 6364136223846793005L + 1442695040888963407L
        val j = ((s >>> 33) % (i + 1)).toInt
        val t = out(i); out(i) = out(j); out(j) = t
      }
      out
    }
    for (xs <- Seq(bimodal, unimodal)) {
      val base = Variance.classify("s", xs)
      assert(base.reason.startsWith("multimodal") || base.reason.startsWith("unimodal"), base.reason)
      for (seed <- 1L to 5L) assert(Variance.classify("s", shuffled(xs, seed)) == base, s"seed $seed")
    }
  }

  test("rCV is scale-invariant (property: rcv(kx) == rcv(x))") {
    val xs = gaussians(100, 500, 100, 11L).map(math.abs)
    def rcv(arr: Array[Double]): Double = {
      val m = Variance.medianOf(arr)
      Variance.medianOf(arr.map(x => math.abs(x - m))) / m
    }
    val r1 = rcv(xs); val r2 = rcv(xs.map(_ * 7.0))
    assert(math.abs(r1 - r2) < 1e-12)
  }

  test("GMM BIC prefers 1 component for unimodal, >=2 for bimodal") {
    val uni = Gmm.bestByBic(gaussians(300, 100, 5, 13L), 3)
    assert(uni.k == 1, s"k=${uni.k}")
    val bi = Gmm.bestByBic(gaussians(150, 100, 5, 17L) ++ gaussians(150, 200, 5, 19L), 3)
    assert(bi.k >= 2, s"k=${bi.k}")
  }
}
