package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics for the benchmark's latency samples. */
object Stats {

  /** Nearest-rank percentile of `xs` (`q` in [0, 1]); NaN when empty. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, rank(s.size, q) - 1)))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** 1-based nearest rank of `q` among `n` (tolerant of the rounding
    * in q = k / n).
    */
  def rank(n: Int, q: Double): Int = math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Samples strictly above the nearest-rank `q` position. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** The highest nearest-rank percentile, at most p95, with at least
    * `minBeyond` samples above it, so a tail figure is never read off a
    * handful of points; the median when the sample is too small for
    * even that. (p95, not p99: on a shared 4-core host the ten slowest
    * of a thousand acks move by half from run to run.)
    */
  def tailQuantile(n: Int, minBeyond: Int = 10): Double =
    if (n < 2 * minBeyond + 1) 0.5
    else math.min(0.95, (n - minBeyond).toDouble / n)

  /** (quantile used, value) for the tail of `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = tailQuantile(xs.size)
    (q, percentile(xs, q))
  }
}

/** Thread-safe sample list. */
final class Samples {
  private val buf = ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized { buf += x; () }
  def toSeq: Seq[Double] = synchronized(buf.toSeq)
}

/** In-memory span log, written out when a traced run ends. A span is
  * (name, start, end, parent, request id); spans of one request share
  * the id, and a span's self time is its duration minus what its
  * children cover. Recording is a no-op unless enabled, so an untraced
  * run pays one volatile read per call site.
  */
object Trace {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
      parent: Long, rid: Long)

  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, startNs: Long, endNs: Long,
      parent: Long = 0L, rid: Long = 0L, id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0L) id else nextId()
      spans.synchronized { spans += Span(sid, name, startNs, endNs, parent, rid) }
      sid
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  /** One JSON object per span, one per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"rid":${s.rid}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}

object Witness {
  /** Block until half a second passes with fewer than `maxCores` busy
    * in other processes or stolen by the hypervisor, for at most
    * `maxWaitMs`; returns the milliseconds waited past the first
    * window. A measured window that starts during a neighbour's burst
    * on a shared host reads as a regression of the program.
    */
  def awaitQuiet(maxWaitMs: Long, maxCores: Double = 0.5): Long = {
    val windowMs = 500L
    var waited = 0L
    var quiet = false
    while (!quiet && waited < maxWaitMs) {
      val w = new Witness
      Thread.sleep(windowMs)
      val (_, steal, ext) = w.close()
      quiet = steal + ext < maxCores
      if (!quiet) waited += windowMs
    }
    waited
  }
}

/** Host witness for one measured window, read through the repo's own
  * [[graft.BenchWitness]] probes, so a run taken on a busy machine says
  * so in its own record.
  */
final class Witness {
  private val j0 = graft.BenchWitness.cpuJiffies()
  private val t0 = System.nanoTime()

  /** (load1, steal cores, external busy cores) over the window. */
  def close(): (Double, Double, Double) = {
    val wall = (System.nanoTime() - t0) / 1e9
    val j1 = graft.BenchWitness.cpuJiffies()
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    (load1, graft.BenchWitness.stealCores(j0, j1, wall),
      graft.BenchWitness.extCores(j0, j1, wall))
  }
}
