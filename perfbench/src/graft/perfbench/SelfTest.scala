package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Checks of the benchmark's own arithmetic that need no server. */
object SelfTest {

  def pure(): Seq[(String, Boolean, String)] = tailRule() :+ drainRule()

  /** The tail rule: the reported percentile has >= 10 samples above it
    * (nearest rank), is the highest such up to p95, and falls back to
    * the median only when the sample is too small.
    */
  private def tailRule(): Seq[(String, Boolean, String)] = {
    val sizes = Seq(1, 10, 20, 21, 24, 30, 100, 999, 1000, 1010, 5000)
    val bad = sizes.filter { n =>
      val q = Stats.tailQuantile(n)
      val beyond = Stats.beyond(n, q)
      val higher = math.min(0.95, q + 1.0 / n)
      if (n < 21) q != 0.5
      else beyond < 10 || (q < 0.95 && Stats.beyond(n, higher) >= 10)
    }
    val xs = (1 to 1000).map(_.toDouble)
    val (q, v) = Stats.tail(xs)
    Seq(
      ("tail_has_ten_beyond", bad.isEmpty, s"sizes breaking the rule: ${bad.mkString(",")}"),
      ("tail_of_1000_is_p95", q == 0.95 && v == 950.0, s"q=$q value=$v"))
  }

  /** The drain capacity figure over a simulated drain working off a
    * 60,000-row backlog queued before its first trigger: triggers every
    * 1 s (one that overruns starts the next at once), 150 ms of fixed
    * cost each, with and without a cap on the rows one trigger reads.
    * From 10k rows/s to far past any real drain, a faster drain must
    * never lower the figure, and the figure must stay positive.
    */
  private def drainRule(): (String, Boolean, String) = {
    val backlog = 60000L
    def simulate(rowsPerS: Double, cap: Long): Seq[Ingest.Ev] = {
      val out = ArrayBuffer.empty[Ingest.Ev]
      var at = 1.0
      var done = 0L
      while (done < backlog) {
        val take = math.min(cap, backlog - done)
        val dur = 0.15 + take / rowsPerS
        out += Ingest.Ev(((at + dur) * 1e9).toLong, done, done + take, take,
          Map("triggerExecution" -> math.round(dur * 1000)))
        done += take
        at = math.max(at + dur, math.floor(at) + 1.0)
      }
      out.toSeq
    }
    val speeds = Seq(1e4, 2e4, 3.5e4, 7e4, 1.4e5, 1e6, 1e8)
    val rates = Seq(Long.MaxValue, 20000L).map(cap =>
      speeds.map(v => backlog / Ingest.drainSeconds(simulate(v, cap), 0L, backlog)))
    val ok = rates.forall(r => r.forall(_ > 0) && r.zip(r.tail).forall { case (a, b) => b >= a })
    ("faster_drain_never_lowers_capacity", ok,
      rates.map(_.map(x => f"$x%.0f").mkString(",")).mkString("uncapped ", "; capped ", ""))
  }
}
