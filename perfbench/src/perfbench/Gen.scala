package perfbench

/** Seeded input generators shared by the workloads. Everything here is
  * a pure function of the seed, so the same `--seed` gives the same
  * inputs; sizes come from fixed quantiles (stratified), so a new seed
  * changes content but not the size distribution a run measures. */
final class Gen(seed: Long) {
  val rnd = new scala.util.Random(seed)

  def uniform(): Double = rnd.nextDouble()
  def int(n: Int): Int = rnd.nextInt(n)
  def chance(p: Double): Boolean = rnd.nextDouble() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  def gaussian(): Double = rnd.nextGaussian()
  def shuffle[T](xs: Seq[T]): Seq[T] = rnd.shuffle(xs)
}

object Gen {
  private val Onsets = Vector("b", "c", "d", "f", "g", "h", "j", "k", "l",
    "m", "n", "p", "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "dr",
    "gr", "pr", "sh", "st", "th", "tr")
  private val Nuclei = Vector("a", "e", "i", "o", "u", "ay", "ee", "oo",
    "ia", "ou")
  private val Codas = Vector("", "", "n", "r", "s", "l", "th", "nd", "ck",
    "m", "t")

  /** `n` distinct pronounceable words, in a seed-dependent order. */
  def words(g: Gen, n: Int, minSyl: Int, maxSyl: Int): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = minSyl + g.int(maxSyl - minSyl + 1)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb ++= g.pick(Onsets); sb ++= g.pick(Nuclei); sb ++= g.pick(Codas)
      }
      seen += sb.result()
    }
    seen.toIndexedSeq
  }

  def capital(s: String): String = s.head.toUpper.toString + s.tail

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def apply(g: Gen): Int = {
      val u = g.uniform()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Acklam's inverse of the standard normal CDF (|error| < 1.2e-9). */
  def probit(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549671010229420e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val lo = 0.02425
    if (p < lo) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - lo) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else -probit(1 - p)
  }

  /** `k` lognormal sizes at the stratified quantiles (i + 0.5) / k, with
    * the given median and largest value. */
  def lognormalSizes(k: Int, median: Double, max: Double): IndexedSeq[Int] = {
    val zMax = probit((k - 0.5) / k)
    val sigma = math.log(max / median) / zMax
    (0 until k).map(i =>
      math.round(median * math.exp(sigma * probit((i + 0.5) / k))).toInt)
  }

  /** A permutation of 0 until n in bit-reversed order: every prefix
    * samples the range evenly (van der Corput). */
  def stratifiedOrder(n: Int): IndexedSeq[Int] = {
    val bits = math.max(1, 32 - Integer.numberOfLeadingZeros(n - 1))
    (0 until (1 << bits)).map(m => Integer.reverse(m) >>> (32 - bits)).filter(_ < n)
  }

  /** One character typo: delete, swap or replace (never empties). */
  def typo(g: Gen, s: String): String =
    if (s.length < 3) s + "e"
    else {
      val i = 1 + g.int(s.length - 2)
      g.int(3) match {
        case 0 => s.substring(0, i) + s.substring(i + 1)
        case 1 => s.substring(0, i) + s.charAt(i + 1) + s.charAt(i) +
          s.substring(i + 2)
        case _ => s.substring(0, i) + ('a' + g.int(26)).toChar +
          s.substring(i + 1)
      }
    }
}
