package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Pins `Gmm.fit` bit for bit: for each seeded array and k = 1..3 the
  * raw IEEE-754 bits of the log-likelihood, the BIC and every
  * component's weight, mean and variance must equal the recorded
  * values. A rewrite of the EM loop (fusion, hoisting, flat buffers)
  * must keep every per-element operation and every summation order,
  * so any reordering shows here as a changed bit, not as a tolerance
  * that happens to hold.
  */
class GmmSpec extends AnyFunSuite {

  // Deterministic Box-Muller over a simple LCG (as in VarianceSpec):
  // reproducible without the JDK RNG.
  private def gaussians(n: Int, mean: Double, std: Double, seed: Long): Array[Double] = {
    var s = seed
    def next(): Double = { s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 11).toDouble / (1L << 53).toDouble }
    Array.fill(n) {
      val u1 = math.max(next(), 1e-12); val u2 = next()
      mean + std * math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
  }

  private val arrays: Seq[(String, Array[Double])] = Seq(
    "bimodal-70/30-n5000" -> (gaussians(3500, 1700, 50, 21L) ++ gaussians(1500, 2900, 80, 23L)),
    "unimodal-tight-n400" -> gaussians(400, 300, 2, 42L),
    "constant-n200" -> Array.fill(200)(230.0),
    "n-equals-k-n3" -> Array(120.0, 480.0, 1310.0),
    "tiny-scale-n300" -> gaussians(300, 1e-300, 1e-301, 5L))

  private def bits(x: Double): String = java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(x))

  private def render(f: Gmm.Fit): String =
    (Seq(s"k=${f.k}", s"ll=${bits(f.logLikelihood)}", s"bic=${bits(f.bic)}") ++
      f.components.map(c => s"(${bits(c.weight)},${bits(c.mean)},${bits(c.variance)})")).mkString(" ")

  // recorded from the original EM loop (allocating, logLik recomputed
  // after every M-step)
  private val golden: Map[String, String] = Map(
    "bimodal-70/30-n5000 k=1" -> "k=1 ll=c0e2e3cc8622977b bic=40f2e4dd12fb53d6 (3ff0000000000000,40a01af61f7d520d,4112c6d889b326a4)",
    "bimodal-70/30-n5000 k=2" -> "k=2 ll=c0ddb3ac8764d229 bic=40edb8ff47a07ff0 (3fe6666666666666,409a923b0392430b,40a36eda2b334329) (3fd3333333333333,40a6af44e4cc6de7,40b95096c2cb792b)",
    "bimodal-70/30-n5000 k=3" -> "k=3 ll=c0ddb36bac5f820f bic=40edbbf0132564e8 (3fd958694598e089,409a70c144e4ea81,40a152eb9dbf1ab8) (3fd374638733ec50,409abdd79c239379,40a48a0864c67a42) (3fd3333333333333,40a6af44e4cc6de7,40b95096c2cb792b)",
    "unimodal-tight-n400 k=1" -> "k=1 ll=c08a4af6bfe9d9ba bic=409a7ae544e0c181 (3ff0000000000000,4072c1df659d4db1,400f73581c7a1be9)",
    "unimodal-tight-n400 k=2" -> "k=2 ll=c08a490778b460bc bic=409ac0dbc51da42e (3fde18b58c5346dd,4072baf519929527,40110a37e458ba60) (3fe0f3a539d65c91,4072c802e91a892e,400a9cc157fc7110)",
    "unimodal-tight-n400 k=3" -> "k=3 ll=c08a3ae0e9df78cd bic=409afa9afdbb17ea (3fd4888c1b03fc81,4072ad3c06de91cc,400d8ed3cdf3d78b) (3fd6355827896f96,4072b8ff941587ad,3ff2844a6600cfb2) (3fd5421bbd7293e9,4072df13f9ef2623,3ffcc2b5e04a5cc2)",
    "constant-n200 k=1" -> "k=1 ll=4092b70dab66a92b bic=c0a2a1dc314b148f (3ff0000000000000,406cc00000000000,3eb0c6f7a0b5ed8d)",
    "constant-n200 k=2" -> "k=2 ll=4092b70dab66a92b bic=c0a28211fa21b5a4 (3fe0000000000000,406cc00000000000,3eb0c6f7a0b5ed8d) (3fe0000000000000,406cc00000000000,3eb0c6f7a0b5ed8d)",
    "constant-n200 k=3" -> "k=3 ll=4092b70dab66a92c bic=c0a26247c2f856bb (3fd5555555555561,406cbfffffffffd8,3eb0c6f7a0b5ed8d) (3fd5555555555561,406cbfffffffffd8,3eb0c6f7a0b5ed8d) (3fd5555555555561,406cbfffffffffd8,3eb0c6f7a0b5ed8d)",
    "n-equals-k-n3 k=1" -> "k=1 ll=c036e3ed2fcd69f1 bic=4047fd2bd7783a22 (3ff0000000000000,4083e55555555555,410e4f071c71c71c)",
    "n-equals-k-n3 k=2" -> "k=2 ll=c036e3ed2fcd69f1 bic=4049a309d2f8726b (3fe0000000000000,4083e55555555555,410e4f071c71c71c) (3fe0000000000000,4083e55555555555,410e4f071c71c71c)",
    "n-equals-k-n3 k=3" -> "k=3 ll=c02249fe11fced97 bic=403b13f34f536f1c (3fd555555555684f,4072c00000003827,40dfa400000359f6) (3fd555555555684f,4072c00000003827,40dfa400000359f6) (3fd5555555552f61,4094780000000000,3eb0c6f7a0b5ed8d)",
    "tiny-scale-n300 k=1" -> "k=1 ll=409c12948119fdcb bic=c0abfbc3d4bf9d35 (3ff0000000000000,1a57f9e7f65afcf,3eb0c6f7a0b5ed8d)",
    "tiny-scale-n300 k=2" -> "k=2 ll=409c12948119fdcb bic=c0abd98ad2380c54 (3fe0000000000000,1a57f9e7f65afcf,3eb0c6f7a0b5ed8d) (3fe0000000000000,1a57f9e7f65afcf,3eb0c6f7a0b5ed8d)",
    "tiny-scale-n300 k=3" -> "k=3 ll=409c12948119fdcb bic=c0abb751cfb07b74 (3fd5555555555541,1a57f9e7f65afe8,3eb0c6f7a0b5ed8d) (3fd5555555555541,1a57f9e7f65afe8,3eb0c6f7a0b5ed8d) (3fd5555555555541,1a57f9e7f65afe8,3eb0c6f7a0b5ed8d)")

  for ((name, xs) <- arrays; k <- 1 to 3) {
    test(s"fit($name, k=$k) is bit-identical to the recorded fit") {
      val actual = render(Gmm.fit(xs, k))
      assert(actual == golden(s"$name k=$k"))
    }
  }
}
