package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** One measured run of one workload. `metrics` are (name, value,
  * unit); `correct` is false when any output check failed.
  */
final case class RunResult(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)])

/** `graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <run dir>`
  *
  * Runs one workload against the program's public entry points and
  * prints ONE JSON line on stdout: the result record. Everything else
  * goes to stderr. The run directory holds every file the run creates
  * (landing dirs, checkpoints, Derby, temp files); the launcher deletes
  * it afterwards.
  */
object Main {

  /** Seconds from JVM start to `main`: the launch part of `setup_s`. */
  lazy val launchS: Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def timed(f: => Unit): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      // the ContextCleaner reclaims shuffle/broadcast state only on GC;
      // the query workload triggers GCs between queries itself
      .config("spark.cleaner.periodicGC.interval", "10min")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process, MB (VmHWM). */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def json(r: RunResult): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = r.metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$ms}}"""
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })

  def main(args: Array[String]): Unit = {
    if (args.length != 5) {
      System.err.println("usage: graft.perfbench.Main <workload> <seed> " +
        "<seconds> <trace 0|1> <run dir>")
      sys.exit(2)
    }
    launchS
    val Array(workload, seedS, secondsS, traceS, dirS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val runDir = Paths.get(dirS).toAbsolutePath
    val result = try {
      workload match {
        case "ingest_stream" =>
          new Ingest(Ingest.Stream, seed, seconds, trace, runDir).run()
        case "query_surface" =>
          new QuerySurface(seed, trace, runDir).run()
        case "selftest" =>
          val checks = SelfTest.pure() ++
            new Ingest(Ingest.Stream.copy(name = "selftest-stall"),
              seed, seconds, trace = false, runDir.resolve("stall")).selfTest() ++
            new Ingest(Ingest.Conf("selftest-drops", streaming = false, 4096, "drop_oldest"),
              seed, seconds, trace = false, runDir.resolve("drops")).selfTest()
          checks.foreach { case (n, ok, d) =>
            System.err.println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $n: $d") }
          RunResult(checks.forall(_._2), checks.size.toLong, checks.count(!_._2).toLong, Nil)
        case other =>
          System.err.println(s"unknown workload '$other'")
          sys.exit(2)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    // Spark and netty leave non-daemon threads behind; everything the
    // run started has been stopped, so exit explicitly
    println(json(result))
    System.out.flush()
    sys.exit(0)
  }
}
