package perfbench

/** Every metric the benchmark reports, with its unit and which direction
  * is better. `BENCHMARK.json` lists the same names; `MetricsSpec` keeps
  * the two in step.
  */
object Metrics {
  final case class M(name: String, unit: String, better: String)

  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("throughput_per_s", "1/s", "higher"),
    M("latency_mean_ms", "ms", "lower"),
    M("heap_peak_mb", "MB", "lower"))

  private val Tables = Seq("flows", "flows_1m", "flows_5m", "flows_1h", "exporters")

  val perLayer: Seq[M] = Seq(
    M("decode.envelopes", "count", "higher"),
    M("decode.flows", "count", "higher"),
    M("decode.yield", "ratio", "higher")) ++
    graft.decode.DecodePipeline.Drop.all.map(c => M(s"decode.drops.$c", "count", "lower")) ++
    Seq(
      M("decode.kernel_flows_per_s", "1/s", "higher"),
      M("decode.state.rows", "count", "lower"),
      M("decode.state.memory_bytes", "bytes", "lower"),
      M("decode.state.commit_ms", "ms", "lower"),
      M("decode.busy_ms", "ms", "lower")) ++
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
      "triggerExecution").map(t => M(s"streaming.trigger.${t}_ms", "ms", "lower")) ++
    Seq(
      M("streaming.ratelimit.kept_ratio", "ratio", "higher"),
      M("streaming.enrich.busy_ms", "ms", "lower")) ++
    Seq("no_interface", "sampling", "empty").map(c =>
      M(s"streaming.enrich.dropped.$c", "count", "lower")) ++
    Seq(
      M("store.write.busy_ms", "ms", "lower"),
      M("store.write.jobs_per_batch", "count", "lower"),
      M("store.write.stages_per_batch", "count", "lower"),
      M("store.write.tasks_per_batch", "count", "lower")) ++
    Tables.flatMap(t => Seq(
      M(s"store.write.files.$t", "count", "lower"),
      M(s"store.write.bytes.$t", "bytes", "lower"),
      M(s"store.write.rows.$t", "count", "lower"))) ++
    Seq(
      M("store.bytes_per_flow", "bytes", "lower"),
      M("store.rollup_1m.reduction", "ratio", "higher"),
      M("store.read.files_per_request", "count", "lower"),
      M("store.read.bytes_per_request", "bytes", "lower"),
      M("store.newest_ms", "ms", "lower"),
      M("filter.compile_us", "us", "lower"),
      M("filter.rejected", "count", "lower"),
      M("queryengine.resolve_us", "us", "lower")) ++
    Tables.take(4).map(t => M(s"queryengine.route.$t", "count", "higher")) ++
    Seq("line", "sankey", "widget").flatMap(k => Seq(
      M(s"queryengine.$k.build_ms", "ms", "lower"),
      M(s"queryengine.$k.collect_ms", "ms", "lower"))) ++
    Seq(
      M("queryengine.jobs_per_request", "count", "lower"),
      M("queryengine.stages_per_request", "count", "lower"),
      M("queryengine.driver_gap_ms", "ms", "lower"),
      M("api.hit_ms", "ms", "lower"),
      M("api.transport_ms", "ms", "lower"),
      M("api.cache.hit_ratio", "ratio", "higher"),
      M("api.cache.entries", "count", "lower"),
      M("release.ingest_ms", "ms", "lower"),
      M("release.compact_ms", "ms", "lower"),
      M("release.products_ms", "ms", "lower"),
      M("release.jobs", "count", "lower"),
      M("release.stages", "count", "lower"),
      M("release.tasks", "count", "lower"),
      M("release.shuffle_write_bytes", "bytes", "lower"),
      M("release.shuffle_read_bytes", "bytes", "lower"),
      M("release.files_written", "count", "lower"),
      M("release.driver_gap_ms", "ms", "lower"),
      M("spark.jobs", "count", "lower"),
      M("spark.stages", "count", "lower"),
      M("spark.tasks", "count", "lower"),
      M("spark.executor_run_ms", "ms", "lower"),
      M("spark.executor_cpu_ms", "ms", "lower"),
      M("spark.shuffle_write_bytes", "bytes", "lower"),
      M("spark.shuffle_read_bytes", "bytes", "lower"),
      M("spark.codegen_ms", "ms", "lower"),
      M("spark.driver_gap_ms", "ms", "lower"),
      M("jvm.gc_ms", "ms", "lower"),
      M("host.ext_cpu_ms", "ms", "lower"),
      M("trace.overhead.throughput_per_s", "1/s", "higher"),
      M("trace.overhead.latency_mean_ms", "ms", "lower"),
      M("trace.overhead.heap_peak_mb", "MB", "lower"))

  val e2eUnits: Map[String, String] = endToEnd.map(m => m.name -> m.unit).toMap
  val layerUnits: Map[String, String] = perLayer.map(m => m.name -> m.unit).toMap
  /** A layer the workload does not exercise did no work: zero. */
  val layerDefaults: Map[String, Double] = perLayer.map(_.name -> 0.0).toMap
}
