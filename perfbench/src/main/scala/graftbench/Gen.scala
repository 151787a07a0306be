package graftbench

import scala.util.Random

/** Zipf(s) over ranks 0 until n, sampled by binary search on the CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: Random): Int = {
    val u = rng.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Seeded input generators shared by the deposit workloads. */
object Gen {
  /** Virtual clock origin of every generated deposit (epoch seconds). */
  val T0 = 1700000000L

  def wallet(rank: Int): String = f"w$rank%06d"
  def unknownWallet(k: Int): String = f"u$k%06d"

  /** A deposit amount: log-normal around 800 with a heavy upper tail, so a
    * hot wallet crosses the detector's 10,000 threshold inside its 120 s
    * window while most wallets never do. Rounded to cents. */
  def amount(rng: Random): Double =
    math.round(math.exp(6.7 + 0.9 * rng.nextGaussian()) * 100) / 100.0 max 0.01

  def rng(seed: Long, stream: Int): Random = new Random(seed * 1000003L + stream)
}
