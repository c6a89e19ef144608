package graft.perfbench

/** The per-layer metrics every traced run prints, in print order: the
  * single list BENCHMARK.json's `per_layer` mirrors. A layer a workload
  * leaves idle reports 0.
  */
object Layers {
  final case class M(name: String, unit: String, better: String)

  private val ingest: Seq[M] = Seq(
    M("net.batches_ok", "count", "higher"),
    M("net.batches_full", "count", "lower"),
    M("net.batches_too_many_in_flight", "count", "lower"),
    M("net.backoff_pushes", "count", "lower"),
    M("net.engine_us_per_batch", "us", "lower"),
    M("net.rpc_self_ms_p50", "ms", "lower"),
    M("gen.late_ms_p99", "ms", "lower"),
    M("proto.split_ns_per_row", "ns", "lower"),
    M("proto.decode_ns_per_row", "ns", "lower"),
    M("proto.decode_df_s_per_mrow", "s/Mrow", "lower"),
    M("sources.queue_depth_p50", "rows", "lower"),
    M("sources.queue_depth_max", "rows", "lower"),
    M("sources.admit_ns_per_row", "ns", "lower"),
    M("bind.compile_ms", "ms", "lower"),
    M("bind.transcode_ns_per_row", "ns", "lower"),
    M("streaming.batches", "count", "lower"),
    M("streaming.rows_per_batch_p50", "rows", "higher"),
    M("streaming.trigger_ms_p50", "ms", "lower"),
    M("streaming.trigger_ms_p99", "ms", "lower"),
    M("streaming.add_batch_ms_p50", "ms", "lower"),
    M("streaming.plan_ms_p50", "ms", "lower"),
    M("streaming.commit_ms_p50", "ms", "lower"),
    M("streaming.busy_frac", "ratio", "lower"),
    M("streaming.sink_s_per_mrow", "s/Mrow", "lower"),
    M("streaming.jdbc_s_per_mrow", "s/Mrow", "lower"),
    M("ingest.sustained_rows_per_s", "rows/s", "higher"),
    // the drain's capacity over backlogs queued whole before a trigger;
    // it follows the shared host's speed too closely for a bound
    M("streaming.drain_rows_per_s", "rows/s", "higher"))

  // wall time of one untraced pass of the sample
  private val query: Seq[M] = M("queries.pass_s", "s", "lower") +: QuerySurface.Groups.flatMap(g => Seq(
    M(s"$g.wall_s", "s", "lower"),
    M(s"$g.plan_s", "s", "lower"),
    M(s"$g.jobs", "count", "lower"),
    M(s"$g.stages", "count", "lower"),
    M(s"$g.tasks", "count", "lower"),
    M(s"$g.task_cpu_s", "s", "lower"),
    M(s"$g.shuffle_mb", "MB", "lower"),
    M(s"$g.spill_mb", "MB", "lower"),
    M(s"$g.gc_s", "s", "lower"),
    M(s"$g.par_eff", "ratio", "higher")))

  private val run: Seq[M] = Seq(
    // acknowledgement latency, defined per workload like the end-to-end
    // metrics; too sensitive to a neighbour's CPU steal on a shared host
    // for a bound
    M("latency.ack_p50_ms", "ms", "lower"),
    M("latency.ack_tail_ms", "ms", "lower"),
    M("host.rss_peak_mb", "MB", "lower"),
    M("host.load1", "load", "lower"),
    M("host.steal_cores", "cores", "lower"),
    M("host.ext_cores", "cores", "lower"),
    M("trace.overhead_frac", "ratio", "lower"))

  val all: Seq[M] = ingest ++ query ++ run

  /** Every declared metric, 0 where `m` has none; an undeclared name
    * is a bug in the benchmark.
    */
  def complete(m: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = m.keySet -- all.map(_.name)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    all.map(x => (x.name, m.getOrElse(x.name, 0.0), x.unit))
  }
}
