package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.decode.DecodePipeline
import graft.decode.DecodePipeline.RawEnvelope
import graft.functions.Lpm
import graft.store.FlowStore
import graft.streaming.{Enrichment, FlowIngest, RateLimit}

/** The outlet's ingest chain through the engine's public entry points:
  * `DecodePipeline.observed` → `RateLimit` → `Enrichment` → `FlowIngest.start`
  * → `FlowStore.writeBatch`, fed from a MemoryStream in place of the UDP
  * receiver (loopback drops under load would make flow counts vary).
  */
final class FlowPipeline(spark: SparkSession, gen: Gen) {
  import spark.implicits._

  private val metadata = Enrichment.MetadataDim(gen.metadataRows.toDF("exporter_addr",
    "if_index", "exporter_name", "if_name", "if_desc", "if_speed", "if_connectivity",
    "if_provider", "if_boundary"))
  private val networks = Lpm.Table.build(gen.networks)
  private val rules = Seq(
    Enrichment.Rule(col("ExporterName").startsWith("core"),
      outputs = Map("ExporterRole" -> lit("core"))),
    Enrichment.Rule(lit(true), outputs = Map("ExporterRole" -> lit("edge"))),
    Enrichment.Rule(col("InIfBoundary") === "external",
      outputs = Map("ExporterGroup" -> lit("border"))))

  def rateLimited(decoded: DataFrame): DataFrame =
    RateLimit(decoded, Gen.RateLimitPerTick, Gen.TickSec, col("ExporterAddress"),
      col("TimeReceived"), "SamplingRate",
      tiebreak = Seq(col("Bytes"), col("Packets"), col("SrcPort"), col("DstPort")))

  def enriched(limited: DataFrame): DataFrame = {
    val named = limited.select(
      timestamp_seconds(col("TimeReceived")).as("TimeReceived"), col("SamplingRate"),
      col("ExporterAddress"), col("InIf").cast("int").as("InIfIndex"),
      col("OutIf").cast("int").as("OutIfIndex"), col("SrcAddr"), col("DstAddr"),
      col("SrcNetMask"), col("DstNetMask"), col("SrcAS"), col("DstAS"), col("Bytes"),
      col("Packets"), col("EType"), col("Proto"), col("SrcPort"), col("DstPort"),
      col("ForwardingStatus"))
    val withMeta = Enrichment.withMetadata(named, metadata).drop("InIfIndex", "OutIfIndex")
    val withNets = Enrichment.withNetworks(withMeta, networks, Map("name" -> "NetName",
      "role" -> "NetRole", "site" -> "NetSite", "region" -> "NetRegion",
      "tenant" -> "NetTenant", "country" -> "Country"))
    Enrichment.validated(Enrichment.withClassifiers(withNets, rules))
  }

  /** Starts the stream into `store`. With tracing on, each layer's output
    * for a batch is materialized in turn (decode, then rate limit plus
    * enrichment) so each gets its own span; `FlowStore.writeBatch` then
    * writes the materialized frame.
    */
  def start(mem: MemoryStream[RawEnvelope], store: FlowStore, checkpoint: String,
      tracer: () => Tracer): StreamingQuery = {
    val decoded = DecodePipeline.observed(mem.toDS())
    var cached = List.empty[DataFrame]
    val enrich: DataFrame => DataFrame = batch => {
      cached.foreach(_.unpersist())
      cached = Nil
      val t = tracer()
      if (!t.enabled) enriched(rateLimited(batch))
      else {
        val d = t.span("decode") { val c = batch.persist(); c.count(); c }
        val e = t.span("streaming.enrich") {
          val c = enriched(rateLimited(d)).persist(); c.count(); c
        }
        cached = List(d, e)
        t.span("store.write.start")(())
        e
      }
    }
    FlowIngest.start(decoded, store, checkpoint, enrich, Trigger.ProcessingTime(0L))
  }
}

/** Progress of one stream, read from the query itself (works untraced). */
object Progress {
  def observed(q: StreamingQuery, name: String, field: String): Long =
    q.recentProgress.toSeq.flatMap(p => Option(p.observedMetrics.get(name)))
      .map(r => r.getAs[Long](field)).sum
}

/** Closed-loop ingest: one generator thread pushes 10k-flow batches into
  * the stream as fast as they commit. Unit of work: a stored flow.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext

  private val pipeline = new FlowPipeline(ctx.spark, ctx.gen)
  private val root = ctx.dir("ingest-store")
  private val store = new FlowStore(ctx.spark, root)
  private val mem = MemoryStream[RawEnvelope]
  private var query: StreamingQuery = _
  private var tracer = new Tracer(false)
  private var next = 0
  private val sent = scala.collection.mutable.ArrayBuffer.empty[Gen.Expected]

  /** Generates the next batch, then times its add-to-commit. */
  private def oneBatch(flows: Int = Gen.FlowsPerBatch): Double = {
    val b = ctx.gen.batch(next, Gen.T0 + next * Gen.BatchSpanSec, Gen.BatchSpanSec, flows)
    next += 1
    val t0 = System.nanoTime()
    tracer.span("ingest.batch") {
      mem.addData(b.envelopes.toSeq)
      query.processAllAvailable()
    }
    val ms = (System.nanoTime() - t0) / 1e6
    System.err.println(f"[perfbench] batch ${b.index} of ${b.expected.flows} flows: $ms%.0f ms")
    sent += b.expected
    ms
  }

  def setup(): Unit = {
    query = pipeline.start(mem, store, ctx.dir("ingest-checkpoint"), () => tracer)
    // warm-up: a small first batch pays class loading and code generation
    oneBatch(Gen.FlowsPerBatch / 5)
  }

  def measure(t: Tracer): Window = {
    tracer = t
    val first = next
    val t0 = System.nanoTime()
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (lat.size < 2 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) lat += oneBatch()
    val wall = (System.nanoTime() - t0) / 1e6
    val flows = sent.drop(first).map(_.stored).sum
    Window(lat.size.toLong, 0L, flows / lat.sum * 1000.0, lat.toSeq, wall)
  }

  def check(): (Long, Long) = {
    val fails = Checks.run(Seq(
      "stored flows rows equal the expected kept flows" -> { () =>
        val got = store.read("flows").count()
        val want = sent.map(_.stored).sum
        if (got == want) None else Some(s"flows has $got rows, expected $want")
      },
      "Bytes sum equal across flows and its rollups" -> { () =>
        val sums = Seq("flows", "flows_1m", "flows_5m", "flows_1h")
          .map(t => t -> store.read(t).agg(sum("Bytes")).collect()(0).getLong(0))
        if (sums.map(_._2).distinct.size == 1) None else Some(s"Bytes sums differ: $sums")
      },
      "observed decode drops equal the injected drops" -> { () =>
        val got = DecodePipeline.Drop.all.map(c =>
          c -> Progress.observed(query, "decode", s"dropped_$c")).toMap
        val want = DecodePipeline.Drop.all.map(c =>
          c -> sent.map(_.drops(c)).sum).toMap
        if (got == want) None else Some(s"decode drops $got, injected $want")
      },
      "observed decoded flows equal the kernel's decoded flows" -> { () =>
        val got = Progress.observed(query, "decode", "flows")
        val want = sent.map(_.flows).sum
        if (got == want) None else Some(s"decode observed $got flows, kernel decoded $want")
      }))
    (4L, fails)
  }

  def layers(t: Tracer, traced: Window): Map[String, Double] = {
    val batches = t.named("ingest.batch")
    val window = t.named("window").head
    val progress = t.synchronized(t.progress.toSeq).collect {
      case (at, p) if at >= window.start && at <= window.end && p.numInputRows > 0 => p
    }
    FlowLayers.streaming(t, window, progress) ++ FlowLayers.storeTables(store, root) ++ {
      val decodeSpans = t.named("decode")
      val enrichSpans = t.named("streaming.enrich")
      val writeSpans = t.named("store.write.start").flatMap(s =>
        batches.find(b => b.start <= s.start && s.start <= b.end).map(b =>
          s.copy(end = b.end)))
      val writeJobs = writeSpans.map(s => t.jobsIn(Seq(s)))
      val addBatch = progress.map(p => p.durationMs.get("addBatch").longValue.toDouble)
      Map(
        "decode.busy_ms" -> Stats.median(decodeSpans.map(_.ms)),
        "streaming.enrich.busy_ms" -> Stats.median(enrichSpans.map(_.ms)),
        "store.write.busy_ms" -> Stats.median(addBatch.zipAll(decodeSpans.map(_.ms), 0.0, 0.0)
          .zip(enrichSpans.map(_.ms)).map { case ((a, d), e) => a - d - e }),
        "store.write.jobs_per_batch" -> Stats.median(writeJobs.map(_.size.toDouble)),
        "store.write.stages_per_batch" -> Stats.median(writeJobs.map(js => t.stagesOf(js).size.toDouble)),
        "store.write.tasks_per_batch" -> Stats.median(writeJobs.map(js =>
          t.stagesOf(js).map(_.tasks).sum.toDouble)))
    }
  }

  def close(): Unit = if (query != null) query.stop()
}

/** Per-layer metrics of the ingest stream and of the store it writes. */
object FlowLayers {
  import org.apache.spark.sql.streaming.StreamingQueryProgress

  def streaming(t: Tracer, window: Span, progress: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def obs(name: String, field: String): Double = progress.flatMap(p =>
      Option(p.observedMetrics.get(name))).map(_.getAs[Long](field).toDouble).sum
    // enrichment observes its batch frame, not the stream: read it from the
    // traced materialization (one `count` per batch)
    def batchObs(name: String, field: String): Double = t.synchronized(t.observed.toSeq)
      .collect { case (at, "count", `name`, row) if at >= window.start && at <= window.end =>
        row.getAs[Long](field).toDouble
      }.sum
    def dur(k: String): Double = Stats.median(progress.flatMap(p =>
      Option(p.durationMs.get(k)).map(_.longValue.toDouble)))
    val state = progress.flatMap(_.stateOperators.headOption)
    val envelopes = progress.map(_.numInputRows.toDouble).sum
    val flows = obs("decode", "flows")
    val drops = DecodePipeline.Drop.all.map(c => c -> obs("decode", s"dropped_$c")).toMap
    val enrichRows = batchObs("metadata", "rows")
    Map(
      "decode.envelopes" -> envelopes,
      "decode.flows" -> flows,
      "decode.yield" -> (if (flows + drops.values.sum > 0) flows / (flows + drops.values.sum) else 0.0),
      "decode.state.rows" -> Stats.median(state.map(_.numRowsTotal.toDouble)),
      "decode.state.memory_bytes" -> Stats.median(state.map(_.memoryUsedBytes.toDouble)),
      "decode.state.commit_ms" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
      "streaming.ratelimit.kept_ratio" -> (if (flows > 0) enrichRows / flows else 0.0),
      "streaming.enrich.dropped.no_interface" -> batchObs("metadata", "dropped_no_interface"),
      "streaming.enrich.dropped.sampling" -> batchObs("enrichment", "dropped_sampling"),
      "streaming.enrich.dropped.empty" -> batchObs("enrichment", "dropped_empty")) ++
      drops.map { case (c, n) => s"decode.drops.$c" -> n } ++
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
        "triggerExecution").map(k => s"streaming.trigger.${k}_ms" -> dur(k))
  }

  /** Files, bytes and rows per stored table, read after the run. */
  def storeTables(store: FlowStore, root: String): Map[String, Double] = {
    val tables = Seq("flows", "flows_1m", "flows_5m", "flows_1h", "exporters")
    val stats = tables.map { t =>
      val files = listParquet(new java.io.File(root, t))
      t -> (files.size.toDouble, files.map(_.length).sum.toDouble,
        store.read(t).count().toDouble)
    }.toMap
    val all = stats.values.map(_._2).sum
    stats.flatMap { case (t, (f, b, r)) =>
      Seq(s"store.write.files.$t" -> f, s"store.write.bytes.$t" -> b, s"store.write.rows.$t" -> r)
    } ++ Map(
      "store.bytes_per_flow" -> (if (stats("flows")._3 > 0) all / stats("flows")._3 else 0.0),
      "store.rollup_1m.reduction" ->
        (if (stats("flows_1m")._3 > 0) stats("flows")._3 / stats("flows_1m")._3 else 0.0))
  }

  private def listParquet(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) listParquet(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }
}

object Checks {
  /** Runs named checks; each failure goes to stderr. Returns the count. */
  def run(checks: Seq[(String, () => Option[String])]): Long = checks.count { case (name, c) =>
    val r = try c() catch { case e: Exception => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    r.foreach(m => System.err.println(s"[perfbench] CHECK FAILED: $name: $m"))
    r.nonEmpty
  }.toLong
}
