package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one measured window produced: operations attempted and failed,
  * the workload's throughput in its own unit of work, and the latency
  * samples of its timed operation.
  */
final case class Window(attempted: Long, failed: Long, throughput: Double,
    latenciesMs: Seq[Double], wallMs: Double)

/** A workload: set-up, any number of measured windows, a final check. */
trait Workload {
  def setup(): Unit
  def measure(tracer: Tracer): Window
  /** Correctness checks over everything measured so far: (checks run,
    * checks failed), each failure described on stderr.
    */
  def check(): (Long, Long)
  /** Per-layer metrics from the traced window. */
  def layers(tracer: Tracer, traced: Window): Map[String, Double]
  def close(): Unit
}

final class Ctx(val spark: SparkSession, val gen: Gen, val seconds: Int,
    val work: java.io.File) {
  def dir(name: String): String = new java.io.File(work, name).getAbsolutePath
}

/** Benchmark entry point: one workload, one seed, one JSON result line.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <scratch dir> --out <artifact dir>
  */
object Main {
  val Workloads = Seq("ingest", "console", "dedup_release")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = new java.io.File(opts("work"))
    val out = new java.io.File(opts("out"))
    out.mkdirs()

    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] $name at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = session(work)
    phase("session started")
    val ctx = new Ctx(spark, new Gen(seed), seconds, work)
    val w: Workload = workload match {
      case "ingest" => new IngestWorkload(ctx)
      case "console" => new ConsoleWorkload(ctx)
      case "dedup_release" => new ReleaseWorkload(ctx)
    }
    // listeners go on before set-up starts any stream (see Tracer.attach);
    // spans are only recorded in the traced window
    val tracer = new Tracer(trace)
    tracer.attach(spark)
    w.setup()
    phase("set-up done")
    val setupS = (System.nanoTime() - t0) / 1e9
    val heapSetup = liveHeapMb()
    val kernel = Calibration.kernelFlowsPerSec(ctx.gen)

    val host0 = Host.sample()
    val gc0 = gcMs()
    val plain = w.measure(new Tracer(false))
    phase("measured")
    val host1 = Host.sample()
    val heap = math.max(heapSetup, liveHeapMb())
    val e2e = endToEnd(setupS, plain, heap)

    val layerMetrics: Map[String, Double] = if (!trace) Map.empty else {
      val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      val tg0 = gcMs()
      val th0 = Host.sample()
      val traced = tracer.span("window")(w.measure(tracer))
      val th1 = Host.sample()
      tracer.flush(spark)
      val tracedE2e = endToEnd(setupS, traced, math.max(heapSetup, liveHeapMb()))
      val cgMs = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime -
        cg0) / 1e6
      val window = tracer.named("window")
      val allJobs = tracer.jobsIn(window)
      val allStages = tracer.stagesOf(allJobs)
      val common = Map(
        "spark.jobs" -> allJobs.size.toDouble,
        "spark.stages" -> allStages.size.toDouble,
        "spark.tasks" -> allStages.map(_.tasks).sum.toDouble,
        "spark.executor_run_ms" -> allStages.map(_.runMs).sum.toDouble,
        "spark.executor_cpu_ms" -> allStages.map(_.cpuMs).sum.toDouble,
        "spark.shuffle_write_bytes" -> allStages.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> allStages.map(_.shuffleRead).sum.toDouble,
        "spark.codegen_ms" -> cgMs,
        "spark.driver_gap_ms" -> tracer.driverGapMs(window),
        "jvm.gc_ms" -> (gcMs() - tg0).toDouble,
        "host.ext_cpu_ms" -> Host.extMs(th0, th1),
        "decode.kernel_flows_per_s" -> kernel,
        "trace.overhead.throughput_per_s" ->
          (tracedE2e("throughput_per_s") - e2e("throughput_per_s")),
        "trace.overhead.latency_mean_ms" ->
          (tracedE2e("latency_mean_ms") - e2e("latency_mean_ms")),
        "trace.overhead.heap_peak_mb" -> (tracedE2e("heap_peak_mb") - e2e("heap_peak_mb")))
      val all = Metrics.layerDefaults ++ common ++ w.layers(tracer, traced)
      val unknown = all.keySet -- Metrics.layerDefaults.keySet
      require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
      java.nio.file.Files.write(new java.io.File(out, s"spans-$workload-$seed.json").toPath,
        tracer.spansJson.getBytes("UTF-8"))
      all
    }

    val (checks, checksFailed) = w.check()
    phase(s"checked: $checksFailed of $checks checks failed")
    w.close()
    val correct = plain.failed == 0 && checksFailed == 0
    val metrics = if (trace) layerMetrics.map { case (k, v) => k -> (v, Metrics.layerUnits(k)) }
      else e2e.map { case (k, v) => k -> (v, Metrics.e2eUnits(k)) }
    val flags = Map(
      "host.ext_cpu_ms" -> Host.extMs(host0, host1),
      "decode.kernel_flows_per_s" -> kernel,
      "jvm.gc_ms" -> (gcMs() - gc0).toDouble,
      "window_ms" -> plain.wallMs,
      "latency_samples" -> plain.latenciesMs.size.toDouble,
      "checks" -> checks.toDouble,
      "checks_failed" -> checksFailed.toDouble)
    val line = Json.result(correct, plain.attempted, plain.failed, metrics)
    java.nio.file.Files.write(
      new java.io.File(out, s"$workload-$seed-trace${if (trace) 1 else 0}.json").toPath,
      Json.artifact(workload, seed, line, e2e, flags, plain.latenciesMs).getBytes("UTF-8"))
    spark.stop()
    phase("stopped")
    println(line)
    System.exit(0)
  }

  private def endToEnd(setupS: Double, w: Window, heapMb: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "throughput_per_s" -> w.throughput,
    "latency_mean_ms" -> w.latenciesMs.sum / w.latenciesMs.size,
    "heap_peak_mb" -> heapMb)

  /** The session `graft.Bench` measures: local[nproc], shuffle width =
    * nproc, raw local file system, UTC.
    */
  def session(work: java.io.File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val local = new java.io.File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use right after a full collection: the live set. The second
    * collection runs after Spark's context cleaner has dropped the blocks
    * whose references the first one cleared.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  /** Median; 0 when there are no samples (a layer that did no work). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val mid = s.size / 2
      if (s.size % 2 == 1) s(mid) else (s(mid - 1) + s(mid)) / 2
    }
}

/** Host CPU use by other processes, from `/proc/stat`: host busy time minus
  * this process's CPU time over a window. A flag for the artifact only.
  */
object Host {
  final case class Sample(hostBusyMs: Long, processMs: Long)
  def sample(): Sample = {
    val busy = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val p = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal: all but idle and iowait
        p.indices.collect { case i if i != 3 && i != 4 => p(i) }.sum * 10L
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }
    val proc = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1000000L
      case _ => -1L
    }
    Sample(busy, proc)
  }
  def extMs(a: Sample, b: Sample): Double =
    if (a.hostBusyMs < 0 || a.processMs < 0) -1.0
    else math.max(0L, (b.hostBusyMs - a.hostBusyMs) - (b.processMs - a.processMs)).toDouble
}

/** Machine-speed calibration: the single-thread decode kernel over one
  * generated batch, no Spark involved.
  */
object Calibration {
  def kernelFlowsPerSec(gen: Gen): Double = {
    val envs = gen.batch(1000, Gen.T0, Gen.BatchSpanSec).envelopes.toSeq
    Gen.kernelDecode(envs) // warm
    val rates = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = Gen.kernelDecode(envs).flows.size
      n / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.median(rates)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, (Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
      }.mkString(", ") + "}}"

  def artifact(workload: String, seed: Long, result: String, e2e: Map[String, Double],
      flags: Map[String, Double], latenciesMs: Seq[Double]): String =
    s"""{"workload": "$workload", "seed": $seed, "result": $result, "end_to_end": {""" +
      e2e.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ") +
      """}, "flags": {""" +
      flags.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ") +
      """}, "latencies_ms": """ + latenciesMs.map(num).mkString("[", ", ", "]") + "}\n"
}
