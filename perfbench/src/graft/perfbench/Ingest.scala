package graft.perfbench

import graft.bind.SchemaBinder
import graft.net.{BristleServer, GrpcIngestClient, Metrics, ServerMain}
import graft.net.ControlProto.{BatchResult, Payload, WriteBatchRequest}
import graft.proto.{ProtoRows, Wire}
import graft.queries.TranscodeE2E
import graft.sources.QueueSource
import graft.streaming.{JdbcSink, LandingIngest}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

object Ingest {

  /** Server-side shape of one ingest run: streaming sessions or unary
    * channels, the table's capacity and its `on_full` policy.
    */
  final case class Conf(name: String, streaming: Boolean, capacity: Int,
      onFull: String)

  /** The ingest_stream workload: the reference's
    * DefaultClickhouseTableConfig capacity, parquet landing.
    */
  val Stream = Conf("ingest_stream", streaming = true, 500000, "block")

  val MsgType = "ExampleMessage"
  val Table = "events"
  val QueueName = s"landing.$Table"
  val BatchRows = 256
  val FlushMs = 1000
  /** The reference's per-writer envelope tops out here (BASELINE.md). */
  val RefRate = 100000.0
  /** The ladder of offered rates; its rungs give the sustained rate
    * and, once the drain saturates, its capacity.
    */
  val Ladder = Seq(50000.0, RefRate, 200000.0, 400000.0)
  /** The rate latency is measured at: one the drain keeps up with on
    * 4 cores (about 45k rows/s end to end), so a row's landing waits on
    * the flush cadence and the drain's work, not on a backlog that
    * grows for as long as the rung lasts.
    */
  val BaseRate = 25000.0
  /** Share of the run each rung lasts: the base rung first in size
    * (its samples make the latency figures), the ladder rungs only long
    * enough to fill the queue, since every row offered must land
    * before the run ends. The base rung runs [[BaseReps]] times and
    * each latency figure is the median over the repetitions, so a
    * neighbour's burst on a shared host moves one repetition, not the
    * run.
    */
  val BaseShare = 0.25
  val BaseReps = 3
  val RungShare = Seq(0.06, 0.06, 0.03, 0.015)
  /** Backlogs for the drain capacity, a per-layer figure of traced
    * runs: the top rung, queued whole before the next drain trigger,
    * [[BacklogReps]] times after the base rungs, when the drain's code
    * paths are warm. The capacity is their rows over their drain time,
    * pooled, so a neighbour's burst during one backlog moves the figure
    * by a share of its effect.
    */
  val BacklogReps = 6
  val SetupReps = 3
  /** A rung is sustained when its landed p99 fits two flush windows. */
  val SustainMs = 2.0 * FlushMs

  def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Generated row `i` of a run: the field values of a seeded
    * [[TranscodeE2E.Fixture]], with the run-unique row id carried in
    * the `value` field.
    */
  final case class Row(id: Long, f: TranscodeE2E.Fixture) {
    def body: Array[Byte] =
      ProtoRows.encodeValues(TranscodeE2E.message, f.protoValues.updated(3, id))
    /** The landed row as [[canonCol]] renders it. */
    def canon: String = Seq[Any](f.name, f.typeCode, f.tsMillis, id,
      f.tags.map(_._1).mkString(","), f.tags.map(_._2).mkString(","),
      f.labels.mkString(",")).mkString("|")
  }

  def idBase(seed: Long): Long = java.lang.Math.floorMod(seed, 1000000L) * 100000000L

  def row(seed: Long, i: Long): Row = Row(idBase(seed) + i,
    TranscodeE2E.Fixture(java.lang.Long.remainderUnsigned(mix(seed * 31 + i), 100000L).toInt))

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }

  /** The landed columns rendered as one string per row. */
  val canonCol: Column = concat_ws("|", col("name"),
    col("type").cast("tinyint").cast("string"),
    unix_millis(col("timestamp")).cast("string"), col("value").cast("string"),
    array_join(col("`tags.key`"), ","), array_join(col("`tags.value`"), ","),
    array_join(col("labels"), ","))

  /** One scheduled batch: due `dueNs` after the schedule start, at the
    * offered `rate`, carrying rows [firstRow, firstRow + rows).
    */
  final case class Batch(dueNs: Long, rate: Double, firstRow: Long, rows: Int)

  /** Evenly spaced 256-row batches at `rate` for `seconds`. */
  def steady(rate: Double, seconds: Double, startNs: Long,
      firstRow: Long): IndexedSeq[Batch] = {
    val n = math.max(1, (rate * seconds / BatchRows).round.toInt)
    val gap = BatchRows / rate * 1e9
    (0 until n).map(k =>
      Batch(startNs + (k * gap).toLong, rate, firstRow + k.toLong * BatchRows, BatchRows))
  }

  /** One drain progress event: when the listener saw it, the source's
    * start and end offsets, the rows read and the phase durations (ms).
    */
  final case class Ev(atNs: Long, start: Long, end: Long, rows: Long,
      durations: Map[String, Long]) {
    def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  }

  /** Drain time of one backlog, the rows at queue offsets
    * (fromSeq, toSeq], all queued before the drain took any of them:
    * seconds from the start of the first trigger that read some of them
    * to the progress event of the trigger that covered the last. No
    * trigger is left out for being short, so a faster drain can only
    * shorten it. NaN when the backlog never landed.
    */
  def drainSeconds(evs: Seq[Ev], fromSeq: Long, toSeq: Long): Double = {
    val work = evs.filter(_.rows > 0).sortBy(_.atNs)
    (work.find(_.end > fromSeq), work.find(_.end >= toSeq)) match {
      case (Some(first), Some(last)) =>
        val startNs = first.atNs - first.triggerMs * 1000000L
        math.max(1e-9, (last.atNs - startNs) / 1e9)
      case _ => Double.NaN
    }
  }

  /** Streaming progress events of the drain, in arrival order. */
  final class Progress extends StreamingQueryListener {
    private val evs = ArrayBuffer.empty[Ev]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val at = System.nanoTime()
      val p = e.progress
      p.sources.headOption.foreach { s =>
        def off(j: String): Long =
          if (j == null || j.trim.isEmpty || j.trim == "null") -1L else j.trim.toLong
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        synchronized { evs += Ev(at, off(s.startOffset), off(s.endOffset), p.numInputRows, d) }
      }
    }
    def all: Seq[Ev] = synchronized(evs.toSeq)
    def clear(): Unit = synchronized(evs.clear())
    def maxEnd: Long = synchronized(if (evs.isEmpty) -1L else evs.map(_.end).max)
  }

  /** Prometheus text → (series, value). */
  def scrape(port: Int): Map[String, Double] = {
    val in = java.net.URI.create(s"http://127.0.0.1:$port/metrics").toURL.openStream()
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l => val i = l.lastIndexOf(' '); l.substring(0, i) -> l.substring(i + 1).toDouble }
      .toMap
    finally in.close()
  }
}

/** One ingest run: set the server up [[Ingest.SetupReps]] times (the
  * last set-up serves the run), drive the open-loop schedule from two
  * gRPC streaming sessions, wait for the drain to land everything, then
  * check the landed rows against what was generated. The self-test's
  * overflow run drives unary channels instead.
  */
final class Ingest(conf: Ingest.Conf, seed: Long, seconds: Double,
    trace: Boolean, runDir: Path) {
  import Ingest._

  /** Client sessions (stream) or channels (unary). Two streaming
    * sessions keep up with every rate below the top rungs and leave the
    * cores to the server; a unary call waits out a whole RPC, so the
    * self-test's overflow burst needs four channels.
    */
  private val sessions = math.min(if (conf.streaming) 2 else 4, Main.cores)

  /** One assembled server with its drain and client connections. */
  private final class Live(val base: Path, val server: BristleServer,
      val drains: Map[String, StreamingQuery],
      val streamClients: Seq[GrpcIngestClient],
      val unary: Seq[(io.netty.channel.EventLoopGroup, io.netty.channel.Channel)]) {
    def queue: QueueSource.IngestQueue = server.queues(QueueName)
    def debugPort: Int = server.debug.get.boundPort
    def landed: Path = base.resolve("landing").resolve("data")
  }

  private val progress = new Progress
  private var spark: SparkSession = _
  private lazy val binding = SchemaBinder.bind(TranscodeE2E.message, TranscodeE2E.table)

  private def transcodedSchema =
    binding.transcode(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      ProtoRows.structType(TranscodeE2E.message))).schema

  private def configJson(base: Path): String = {
    val cols = TranscodeE2E.table.map { c =>
      val d = if (c.default.isEmpty) "" else
        s""", "default": "${c.default.replace("\"", "\\\"")}""""
      s"""{"name": "${c.name}", "type": "${c.typeString}"$d}"""
    }.mkString("[", ", ", "]")
    s"""{
       |  "ingest": {"bind_port": 0, "grpc_port": 0, "max_in_flight": 12},
       |  "debugging": {"bind_port": 0, "metrics": true},
       |  "proto_descriptor_paths": ["${base.resolve("example.desc")}"],
       |  "catalogs": [{"name": "landing", "tables": {"$Table": {
       |    "capacity": ${conf.capacity}, "on_full": "${conf.onFull}",
       |    "messages": ["$MsgType"], "columns": $cols,
       |    "landing_dir": "${base.resolve("landing")}",
       |    "flush_interval": $FlushMs}}}]
       |}""".stripMargin
  }

  private def setUp(rep: Int, warm: IndexedSeq[Array[Array[Byte]]]): Live = {
    val base = Files.createDirectories(runDir.resolve(s"ingest-$rep"))
    val in = getClass.getResourceAsStream("/descriptors/example.pb")
    try Files.write(base.resolve("example.desc"), in.readAllBytes()) finally in.close()
    Files.write(base.resolve("config.json"), configJson(base).getBytes("UTF-8"))
    val server = new BristleServer(base.resolve("config.json"), new Metrics).start()
    val drains = ServerMain.startDrains(spark, server)
    val port = server.grpc.get.boundPort
    val live = if (conf.streaming) {
      val cs = (0 until sessions).map(_ => new GrpcIngestClient("127.0.0.1", port))
      cs.foreach(_.registerType(MsgType))
      new Live(base, server, drains, cs, Nil)
    } else
      new Live(base, server, drains, Nil,
        (0 until sessions).map(_ => GrpcIngestClient.openChannel("127.0.0.1", port)))
    // the first landed batch closes set-up: the drain has compiled
    // and committed once end to end
    warm.zipWithIndex.foreach { case (b, i) => require(send(live, i % sessions, b, s"warm$i") == BatchResult.Ok,
      "warm-up batch rejected") }
    awaitLanded(live, 60000)
    live
  }

  private def tearDown(l: Live): Unit = {
    l.drains.values.foreach(q => try { q.stop(); q.awaitTermination(30000) } catch { case NonFatal(_) => })
    l.streamClients.foreach(c => try c.close() catch { case NonFatal(_) => })
    l.unary.foreach { case (g, ch) =>
      try ch.close().syncUninterruptibly() catch { case NonFatal(_) => }
      g.shutdownGracefully(0, 2, java.util.concurrent.TimeUnit.SECONDS).syncUninterruptibly()
    }
    l.server.stop()
    l.server.queues.keys.foreach(QueueSource.drop)
    progress.clear()
    Main.deleteTree(l.base)
  }

  private def shutDownDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";shutdown=true"))
    catch { case _: java.sql.SQLException => } // Derby reports a clean shutdown as an error

  private def send(l: Live, session: Int, bodies: Array[Array[Byte]], key: String): Int =
    if (conf.streaming)
      // block policy: FULL is retried until admitted, as the reference client does
      l.streamClients(session).writeBatch(MsgType, bodies.toSeq, retryTimes = -1)
    else
      GrpcIngestClient.unaryWriteBatchOn(l.unary(session)._2, "127.0.0.1",
        WriteBatchRequest(key, Seq(Payload(MsgType, bodies.toSeq))))._1

  private def awaitLanded(l: Live, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (progress.maxEnd < l.queue.endSeq && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    progress.maxEnd >= l.queue.endSeq
  }

  /** A phase start 100 ms past the next drain trigger. The drain fires
    * on wall-clock multiples of its flush interval, so every phase
    * meets the triggers at the same offset, run after run.
    */
  private def alignedStart(): Long = {
    val now = System.currentTimeMillis()
    var at = (now / FlushMs + 1) * FlushMs + 100
    if (at - now < 200) at += FlushMs
    System.nanoTime() + (at - now) * 1000000L
  }

  /** The earliest start, 150 ms from now or later, from which a
    * schedule lasting `lengthNs` is queued whole at least 100 ms before
    * the next drain trigger. Called once the queue has landed: the
    * trigger a drain that overran its interval fires right after it
    * ends has then found the queue empty, and the next fires on the
    * wall-clock interval.
    */
  private def backlogStart(lengthNs: Long): Long = {
    val now = System.currentTimeMillis()
    val earliest = now + 150
    val at =
      if (earliest % FlushMs + lengthNs / 1000000L <= FlushMs - 100) earliest
      else (earliest / FlushMs + 1) * FlushMs + 100
    System.nanoTime() + (at - now) * 1000000L
  }

  /** Per-batch outcome of one schedule. */
  private final class Outcome(n: Int) {
    val sendNs = new Array[Long](n)
    val ackNs = new Array[Long](n)
    val endSeq = new Array[Long](n)
    val result = Array.fill(n)(-1)
  }

  /** Drive `batches` open loop: batch k goes out on session k mod
    * sessions when due; its latency counts from the due time, so a
    * stalled session charges every batch queued behind it.
    */
  private def drive(l: Live, batches: IndexedSeq[Batch],
      bodies: IndexedSeq[Array[Array[Byte]]], t0: Long,
      depth: Samples): Outcome = {
    val out = new Outcome(batches.size)
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) {
        depth.add((l.queue.endSeq - l.queue.firstSeq).toDouble)
        Thread.sleep(20)
      }
    }, "perfbench-depth")
    sampler.setDaemon(true)
    sampler.start()
    val threads = (0 until sessions).map { s =>
      val t = new Thread(() => {
        var b = s
        while (b < batches.size) {
          val due = t0 + batches(b).dueNs
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          val st = System.nanoTime()
          val r = try send(l, s, bodies(b), s"b$b") catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] batch $b: ${e.getMessage}"); -2 }
          val at = System.nanoTime()
          out.endSeq(b) = l.queue.endSeq
          out.sendNs(b) = st
          out.ackNs(b) = at
          out.result(b) = r
          if (Trace.enabled) {
            val id = Trace.nextId()
            Trace.record("batch", due, at, 0L, b, id)
            Trace.record("gen.wait", due, st, id, b)
            Trace.record("net.rpc", st, at, id, b)
          }
          b += sessions
        }
      }, s"perfbench-session-$s")
      t.start()
      t
    }
    val limit = System.nanoTime() + ((seconds + 120) * 1e9).toLong
    threads.foreach(t => t.join(math.max(1L, (limit - System.nanoTime()) / 1000000L)))
    running = false
    sampler.join()
    require(threads.forall(!_.isAlive), "load generator did not finish in time")
    out
  }

  /** Landed time of each batch: the first drain progress event whose
    * end offset covers the queue end observed at its ack.
    */
  private def landedNs(out: Outcome, evs: Seq[Ev]): Array[Long] = {
    val sorted = evs.sortBy(_.atNs).toIndexedSeq
    out.endSeq.indices.map { b =>
      sorted.find(e => e.end >= out.endSeq(b) && e.atNs >= out.sendNs(b))
        .map(_.atNs).getOrElse(-1L)
    }.toArray
  }

  /** One open-loop phase of the run; the queue drains between phases. */
  private final case class Phase(name: String, batches: IndexedSeq[Batch],
      traced: Boolean, rate: Double)

  /** The run's phases, each starting from an empty queue: the ladder,
    * one rung per phase, then the base rung, measured once the drain's
    * code paths are compiled and warm. A traced run adds an untraced
    * twin of the base rung right before the traced ones, so the two
    * give the tracing overhead, and the backlogs at the end.
    */
  private def phases(): Seq[Phase] = {
    var rowAt = 0L
    def take(bs: IndexedSeq[Batch]) = { rowAt = bs.last.firstRow + BatchRows; bs }
    val twin =
      if (trace) Seq(Phase("probe", take(steady(BaseRate, seconds * BaseShare, 0L, rowAt)), traced = false, BaseRate))
      else Nil
    Ladder.zip(RungShare).map { case (rate, share) =>
      Phase(s"rung-${rate.toInt}", take(steady(rate, seconds * share, 0L, rowAt)), trace, rate)
    } ++ twin ++ (0 until BaseReps).map(i =>
      Phase(s"base-$i", take(steady(BaseRate, seconds * BaseShare, 0L, rowAt)), trace, BaseRate)
    ) ++ (if (!trace) Nil else (0 until BacklogReps).map(i =>
      Phase(s"backlog-$i", take(steady(Ladder.last, seconds * RungShare.last, 0L, rowAt)), trace, Ladder.last)))
  }

  def run(): RunResult = {
    val plan = phases()
    val warmFirst = plan.last.batches.last.firstRow + BatchRows
    val warmRows = (0 until sessions).map(k => Batch(0L, 0.0, warmFirst + k * BatchRows, BatchRows))
    val all = (plan.flatMap(_.batches) ++ warmRows).toIndexedSeq
    // inputs are generated before set-up starts, so set-up times only
    // the program
    val (bodies, crcs) = encode(all)
    val bodyOf = all.zip(bodies).toMap
    val crcOf = all.zip(crcs).toMap

    val sessionS = Main.timed { spark = Main.session(runDir) }
    spark.streams.addListener(progress)
    val setups = ArrayBuffer.empty[Double]
    var live: Live = null
    for (rep <- 0 until SetupReps) {
      val t = System.nanoTime()
      live = setUp(rep, warmRows.map(bodyOf))
      setups += (System.nanoTime() - t) / 1e9
      if (rep < SetupReps - 1) tearDown(live)
    }
    val setupS = Main.launchS + sessionS + Stats.median(setups.toSeq)
    val l = live
    val metrics0 = scrape(l.debugPort)
    progress.clear()

    val witness = new Witness
    val depth = new Samples
    var drained = true
    var waited = 0L
    val done = plan.map { ph =>
      System.gc() // keep collector pauses of set-up and earlier phases out
      // a quiet host before each measured phase, 15 s per run at most
      if (ph.name.startsWith("base"))
        waited += Witness.awaitQuiet(math.max(0L, 15000 - waited))
      Trace.enabled = ph.traced
      val from = l.queue.endSeq
      // latency is measured at a fixed offset from the drain's
      // triggers; a rung or backlog only has to be queued whole before one
      val t0 = if (ph.rate == BaseRate) alignedStart()
        else backlogStart(ph.batches.last.dueNs + (BatchRows / ph.rate * 1e9).toLong)
      val o = drive(l, ph.batches, ph.batches.map(bodyOf), t0, depth)
      Trace.enabled = false
      drained &&= awaitLanded(l, 60000)
      (ph, o, t0, from)
    }
    val (load1, steal, ext) = witness.close()
    val evs = progress.all
    val metrics1 = scrape(l.debugPort)

    def ok(o: Outcome, b: Int) = o.result(b) == BatchResult.Ok
    def ackMsOf(ph: Phase, o: Outcome, t0: Long) =
      ph.batches.indices.filter(ok(o, _))
        .map(b => (o.ackNs(b) - t0 - ph.batches(b).dueNs) / 1e6)
    /** Due-to-landed ms per landed batch, in due order. */
    def landedMsOf(ph: Phase, o: Outcome, t0: Long) = {
      val at = landedNs(o, evs)
      ph.batches.indices.filter(b => ok(o, b) && at(b) > 0)
        .map(b => (at(b) - t0 - ph.batches(b).dueNs) / 1e6)
    }
    // end-to-end latency: the batches of each base rung; a figure is
    // the median over the base rungs
    val measured = done.filter(_._1.name.startsWith("base"))
    val (acks, landeds) = measured.map { case (ph, o, t0, _) =>
      (ackMsOf(ph, o, t0), landedMsOf(ph, o, t0))
    }.unzip
    def over(xs: Seq[Seq[Double]])(f: Seq[Double] => Double) = Stats.median(xs.map(f))
    val refPh = measured.head._1
    val ackMs = acks.flatten
    val late = done.flatMap { case (ph, o, t0, _) =>
      ph.batches.indices.map(b => (o.sendNs(b) - t0 - ph.batches(b).dueNs) / 1e6) }

    // drain capacity (traced runs): the backlogs' rows over their
    // drain time; NaN without backlogs
    val backlogs = done.filter(_._1.name.startsWith("backlog")).map { case (_, o, _, from) =>
      (o.endSeq.max - from, drainSeconds(evs, from, o.endSeq.max)) }
    val drainRates = backlogs.map { case (rows, s) => rows / s }
    val capacity = backlogs.map(_._1).sum / backlogs.map(_._2).sum

    // the highest rung the drain keeps up with (its rate within the
    // drain capacity, so the queue does not grow) whose landed p99 fits
    // two flush windows
    val sustained = done.filter(_._1.name.startsWith("rung")).filter { case (ph, o, t0, _) =>
      val lm = landedMsOf(ph, o, t0)
      ph.rate <= capacity && lm.size == ph.batches.size && Stats.percentile(lm, 0.99) <= SustainMs
    }.map(_._1.rate).foldLeft(0.0)(math.max)

    // correctness: every acked row landed exactly once
    val allBatches = done.flatMap { case (ph, o, _, _) => ph.batches.indices.map(i => (ph.batches(i), o.result(i))) } ++
      warmRows.map(b => (b, BatchResult.Ok))
    val acked = allBatches.filter(_._2 == BatchResult.Ok).map(_._1)
    val attempted = allBatches.map(_._1.rows.toLong).sum
    val ackedRows = acked.map(_.rows.toLong).sum
    val (bad, correct) = check(l, acked, crcOf, drained)
    val failed = attempted - ackedRows + bad

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("landed_p50_ms", over(landeds)(Stats.median), "ms"),
      ("landed_tail_ms", over(landeds)(Stats.tail(_)._2), "ms"))
    System.err.println(f"[perfbench] ${conf.name} seed=$seed acks=${acks.map(_.size).mkString("+")} " +
      f"ack tail q=${Stats.tail(acks.head)._1} landed tail q=${Stats.tail(landeds.head)._1} " +
      f"load1=$load1%.2f steal=$steal%.2f ext=$ext%.2f sustained=$sustained%.0f " +
      f"drain rates=${drainRates.map(x => f"$x%.0f").mkString(",")} setups=${setups.map(x => f"$x%.2f").mkString(",")} waited=${waited}ms")
    val layers = if (!trace) Nil else {
      // overhead: traced against untraced ack p50 of the twin phases
      val Seq(untraced, traced) = done.filter(_._1.name == "probe").map {
        case (ph, o, t0, _) => Stats.median(ackMsOf(ph, o, t0)) } :+ Stats.median(ackMs)
      val sample = refPh.batches.take(400).map(bodyOf)
      Layers.complete(layerMetrics(l, done.head._3, sample, evs, depth, metrics0, metrics1,
        Stats.median(ackMs), late, sustained, (load1, steal, ext), traced / untraced - 1.0) ++
        Map("streaming.drain_rows_per_s" -> capacity,
          "latency.ack_p50_ms" -> over(acks)(Stats.median),
          "latency.ack_tail_ms" -> over(acks)(Stats.tail(_)._2)))
    }
    if (trace) Trace.write(runDir.getParent.resolve(s"trace-${conf.name}.jsonl"))
    tearDown(l)
    spark.streams.removeListener(progress)
    spark.stop()
    RunResult(correct && failed == 0, attempted, failed, if (trace) layers else e2e)
  }

  /** Wire bodies of every batch and, for [[check]], the sum over its
    * rows of the CRC of each row as it should land; made on all cores.
    */
  private def encode(bs: IndexedSeq[Batch]): (IndexedSeq[Array[Array[Byte]]], IndexedSeq[Long]) = {
    val out = new Array[Array[Array[Byte]]](bs.size)
    val crcs = new Array[Long](bs.size)
    val ts = (0 until Main.cores).map { t =>
      val th = new Thread(() => {
        var i = t
        while (i < bs.size) {
          val b = bs(i)
          val rows = Array.tabulate(b.rows)(k => row(seed, b.firstRow + k))
          out(i) = rows.map(_.body)
          crcs(i) = rows.iterator.map(r => crc(r.canon)).sum
          i += Main.cores
        }
      })
      th.start()
      th
    }
    ts.foreach(_.join())
    (out.toIndexedSeq, crcs.toIndexedSeq)
  }

  private def timeMedianNs(reps: Int)(f: => Unit): Double = {
    f // warm
    Stats.median((0 until reps).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t).toDouble })
  }

  /** The layer ladder over one sample of the run's batches, each step
    * adding one layer to the previous on the same inputs: split,
    * +decode, +admit, then in Spark decode, +transcode (noop sink),
    * +land. A layer's cost is the difference between its step and the
    * one before.
    */
  private def replay(l: Live, sample: IndexedSeq[Array[Array[Byte]]]): Map[String, Double] = {
    val msg = TranscodeE2E.message
    val frames = sample.map(b => Wire.joinFrames(b.toSeq))
    val rows = sample.map(_.length).sum.toDouble
    val scratch = new Array[Any](msg.fields.length)
    val q = new QueueSource.IngestQueue(1 << 30, graft.streaming.RowBuffer.Block)
    // the three in-process steps run interleaved, so drift of the JIT
    // or the heap hits each of them alike
    val steps: Seq[() => Unit] = Seq(
      () => frames.foreach(Wire.splitFrames),
      () => frames.foreach(f =>
        Wire.splitFrames(f).foreach(ProtoRows.decodeValuesInto(msg, _, scratch))),
      () => {
        frames.foreach { f =>
          val bs = Wire.splitFrames(f)
          bs.foreach(ProtoRows.decodeValuesInto(msg, _, scratch))
          q.writeBatch(bs)
        }
        q.truncate(q.endSeq)
      })
    steps.foreach(_())
    val reps = (0 until 9).map(_ => steps.map { f =>
      val t = System.nanoTime(); f(); (System.nanoTime() - t).toDouble })
    val Seq(split, decode, admit) = steps.indices.map(i => Stats.median(reps.map(_(i))))
    // the server's own admission path, called directly; its queue is
    // emptied between repetitions so every call is admitted
    val engine = timeMedianNs(5) {
      sample.foreach(b => l.server.ingest.engine.writePayload(Payload(MsgType, b.toSeq)))
      l.queue.truncate(l.queue.endSeq)
    }
    val compile = timeMedianNs(20)(SchemaBinder.bind(msg, TranscodeE2E.table))
    val ds = spark.createDataset(sample.flatten)(Encoders.BINARY)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val dfDecode = timeMedianNs(3)(noop(ProtoRows.decode(ds, msg)))
    val dfTrans = timeMedianNs(3)(noop(binding.transcode(ProtoRows.decode(ds, msg))))
    var batchId = 1000000L
    val landDir = l.base.resolve("replay-land").toString
    val land = timeMedianNs(3) {
      batchId += 1
      LandingIngest.sinkBatch(binding.transcode(ProtoRows.decode(ds, msg)), batchId, landDir, 2)
    }
    // the JDBC commit is slow; a quarter of the sample keeps it short.
    // The replay lands in an embedded Derby of its own.
    val jdbc = {
      val url = s"jdbc:derby:${l.base.resolve("replay-derby")};create=true"
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement(); st.execute(JdbcSink.ddlFor("replay_events", transcodedSchema)); st.close() }
      finally c.close()
      val part = sample.take(math.max(1, sample.size / 4))
      val small = spark.createDataset(part.flatten)(Encoders.BINARY)
      val smallRows = part.map(_.length).sum.toDouble
      val tr = timeMedianNs(3)(noop(binding.transcode(ProtoRows.decode(small, msg))))
      val t = timeMedianNs(3) {
        batchId += 1
        JdbcSink.sinkBatch(binding.transcode(ProtoRows.decode(small, msg)), batchId,
          url.replace(";create=true", ""), "replay_events")
      }
      shutDownDerby(url)
      (t - tr) / 1e9 / smallRows * 1e6
    }
    Map(
      "proto.split_ns_per_row" -> split / rows,
      "proto.decode_ns_per_row" -> (decode - split) / rows,
      "sources.admit_ns_per_row" -> (admit - decode) / rows,
      "net.engine_us_per_batch" -> engine / 1e3 / sample.size,
      "bind.compile_ms" -> compile / 1e6,
      "proto.decode_df_s_per_mrow" -> dfDecode / 1e9 / rows * 1e6,
      "bind.transcode_ns_per_row" -> (dfTrans - dfDecode) / rows,
      "streaming.sink_s_per_mrow" -> (land - dfTrans) / 1e9 / rows * 1e6,
      "streaming.jdbc_s_per_mrow" -> jdbc)
  }

  private def layerMetrics(l: Live, t0: Long,
      bodies: IndexedSeq[Array[Array[Byte]]],
      evs: Seq[Ev], depth: Samples, m0: Map[String, Double],
      m1: Map[String, Double], ackP50: Double, late: Seq[Double],
      sustained: Double, host: (Double, Double, Double),
      overhead: Double): Map[String, Double] = {
    def delta(p: String => Boolean): Double =
      m1.filter(kv => p(kv._1)).values.sum - m0.filter(kv => p(kv._1)).values.sum
    def batches(result: String) = delta(k =>
      k.startsWith("graft_ingest_batches_total{") && k.contains("result=\"" + result + "\""))
    val rp = replay(l, bodies)
    val work = evs.filter(_.rows > 0)
    def dur(k: String) = work.map(_.durations.getOrElse(k, 0L).toDouble)
    val window = (evs.map(_.atNs).foldLeft(t0)(math.max) - t0) / 1e9
    val d = depth.toSeq
    rp ++ Map(
      "net.batches_ok" -> batches("OK"),
      "net.batches_full" -> batches("FULL"),
      "net.batches_too_many_in_flight" -> batches("TOO_MANY_IN_FLIGHT_BATCHES"),
      "net.backoff_pushes" -> delta(_.startsWith("graft_ingest_backoff_sent_total")),
      "net.rpc_self_ms_p50" -> (ackP50 - rp("net.engine_us_per_batch") / 1e3),
      "gen.late_ms_p99" -> Stats.tail(late)._2,
      "sources.queue_depth_p50" -> Stats.median(d),
      "sources.queue_depth_max" -> (if (d.isEmpty) 0.0 else d.max),
      "streaming.batches" -> work.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(work.map(_.rows.toDouble)),
      "streaming.trigger_ms_p50" -> Stats.median(dur("triggerExecution")),
      "streaming.trigger_ms_p99" -> Stats.tail(dur("triggerExecution"))._2,
      "streaming.add_batch_ms_p50" -> Stats.median(dur("addBatch")),
      "streaming.plan_ms_p50" -> Stats.median(dur("queryPlanning")),
      "streaming.commit_ms_p50" -> Stats.median(dur("commitOffsets")),
      "streaming.busy_frac" -> dur("triggerExecution").sum / 1e3 / math.max(1e-9, window),
      "ingest.sustained_rows_per_s" -> sustained,
      "host.rss_peak_mb" -> Main.rssPeakMb(),
      "host.load1" -> host._1,
      "host.steal_cores" -> host._2,
      "host.ext_cores" -> host._3,
      "trace.overhead_frac" -> overhead)
  }

  /** The benchmark's own checks that need a live server; each is
    * (name, passed, detail).
    *
    *  - stall: a 500 ms server stall (the admission queue's lock held)
    *    in a reference-rate schedule must show in the due-timed ack
    *    tail, while the same acks timed from their send would hide it.
    *  - drops: a burst into a tiny drop_oldest buffer must account for
    *    every acked row: acked = landed + dropped + queued, with
    *    dropped read independently from the drain's offset gaps.
    */
  def selfTest(): Seq[(String, Boolean, String)] = {
    spark = Main.session(runDir)
    spark.streams.addListener(progress)
    val out = ArrayBuffer.empty[(String, Boolean, String)]
    val warm = IndexedSeq(Batch(0L, 0.0, 10000000L, BatchRows))
    val warmBodies = encode(warm)._1

    if (conf.streaming) {
      val l = setUp(0, warmBodies)
      val bs = steady(RefRate, 1.5, 0L, 0L)
      val t0 = alignedStart()
      val stallAt = t0 + 500000000L
      val staller = new Thread(() => {
        LockSupport.parkNanos(stallAt - System.nanoTime())
        l.queue.synchronized(Thread.sleep(500))
      })
      staller.start()
      val o = drive(l, bs, encode(bs)._1, t0, new Samples)
      staller.join()
      val fromDue = bs.indices.map(b => (o.ackNs(b) - t0 - bs(b).dueNs) / 1e6)
      val fromSend = bs.indices.map(b => (o.ackNs(b) - o.sendNs(b)) / 1e6)
      val (q, tailDue) = Stats.tail(fromDue)
      val tailSend = Stats.tail(fromSend)._2
      out += (("stall_shows_in_ack_tail", tailDue >= 400 && tailSend < tailDue,
        f"p${q * 100}%.1f due-timed $tailDue%.0f ms, send-timed $tailSend%.0f ms"))
      awaitLanded(l, 60000)
      tearDown(l)
    } else {
      val l = setUp(0, warmBodies)
      progress.clear()
      val bs = steady(200000.0, 0.5, 0L, 0L)
      val o = drive(l, bs, encode(bs)._1, alignedStart(), new Samples)
      val drained = awaitLanded(l, 60000)
      val evs = progress.all.filter(_.start >= 0)
      val acked = bs.indices.filter(o.result(_) == BatchResult.Ok).map(bs(_).rows.toLong).sum
      val landed = LandingIngest.readLanded(spark, l.landed.toString).count() - BatchRows
      val dropped = evs.map(e => e.end - e.start - e.rows).sum
      val queued = l.queue.endSeq - progress.maxEnd
      out += (("drop_accounting_identity", drained && dropped > 0 && acked == landed + dropped + queued,
        s"acked=$acked landed=$landed dropped=$dropped queued=$queued"))
      tearDown(l)
    }
    spark.streams.removeListener(progress)
    spark.stop()
    out.toSeq
  }

  /** (rows failing a check, all checks passed): every acked row landed
    * exactly once with the field values it was generated with.
    */
  private def check(l: Live, acked: Seq[Batch], crcOf: Batch => Long,
      drained: Boolean): (Long, Boolean) = {
    // one pass over the landed rows: each row's id and the CRC of the
    // row as canonCol renders it
    val landed = LandingIngest.readLanded(spark, l.landed.toString)
      .select(col("value"), crc32(canonCol.cast("binary")))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    val n = landed.length.toLong
    val ids = landed.map(_._1).sorted
    val distinct = ids.indices.count(i => i == 0 || ids(i) != ids(i - 1)).toLong
    val hash = landed.iterator.map(_._2).sum
    val expected = acked.map(_.rows.toLong).sum
    val missing = acked.iterator.flatMap(b => (b.firstRow until b.firstRow + b.rows).iterator)
      .count(i => java.util.Arrays.binarySearch(ids, idBase(seed) + i) < 0).toLong
    val extra = distinct - (expected - missing)
    val dups = n - distinct
    val hashOk = hash == acked.iterator.map(crcOf).sum
    if (!hashOk || missing > 0 || dups > 0 || extra > 0 || !drained)
      System.err.println(s"[perfbench] check: landed=$n distinct=$distinct " +
        s"expected=$expected missing=$missing dups=$dups extra=$extra hashOk=$hashOk drained=$drained")
    val bad = missing + dups + extra + (if (hashOk || missing + dups + extra > 0) 0 else 1)
    (bad, bad == 0 && drained)
  }
}
