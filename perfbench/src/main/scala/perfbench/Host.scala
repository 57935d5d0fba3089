package perfbench

/** Noise control recorded beside every run: CPU steal taken from
  * `/proc/stat` deltas, and a fixed single-threaded CPU probe whose time
  * rises when the host is contended. */
object Host {

  final case class Cpu(total: Long, steal: Long)

  def cpu(): Option[Cpu] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val first = try src.getLines().next() finally src.close()
      val f = first.trim.split("\\s+").drop(1).map(_.toLong)
      Some(Cpu(f.take(8).sum, if (f.length > 7) f(7) else 0L))
    } catch { case _: Exception => None }

  /** Steal as a percentage of all CPU time between two samples; 0 when
    * the kernel does not report it. */
  def stealPct(a: Option[Cpu], b: Option[Cpu]): Double = (a, b) match {
    case (Some(x), Some(y)) if y.total > x.total => 100.0 * (y.steal - x.steal) / (y.total - x.total)
    case _ => 0.0
  }

  @volatile private var sink = 0L

  /** Milliseconds for a fixed integer workload, median of three. */
  def probeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x2545F4914F6CDD1DL
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(Vector.fill(3)(once()))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
