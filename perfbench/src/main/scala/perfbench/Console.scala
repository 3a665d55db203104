package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._

import graft.api.ConsoleApi
import graft.decode.DecodePipeline
import graft.filter.FilterCompiler
import graft.queryengine.{LineInput, LineQuery, LineStats, SankeyInput, SankeyQuery,
  TableResolver, Widgets}
import graft.schema.FlowSchema
import graft.store.FlowStore

/** One closed-loop HTTP client over one keep-alive connection against the
  * console API, over a settled store that is not compacted. Unit of work:
  * a console request.
  */
final class ConsoleWorkload(ctx: Ctx) extends Workload {
  import ConsoleWorkload._

  private val spark = ctx.spark
  private val root = ctx.dir("console-store")
  private val store = new FlowStore(spark, root)
  private val schema = FlowSchema.schema
  private var api: ConsoleApi = _
  private var tables: Seq[graft.queryengine.FlowTable] = Nil
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()
  private val mix = ctx.gen.consoleMix(4000, StoreStart, StoreSpan, stream = 1L)
  private val done = ArrayBuffer.empty[Done]

  def setup(): Unit = {
    // the store: a generated batch through decode, rate limit and
    // enrichment into FlowStore.writeBatch, covering four days of flow
    // time, so every rollup has data to serve
    import spark.implicits._
    val pipeline = new FlowPipeline(spark, ctx.gen)
    (0 until StoreBatches).foreach { b =>
      val envs = spark.createDataset(
        ctx.gen.batch(b, StoreStart + b * BatchSpan, BatchSpan, StoreFlows).envelopes.toSeq)
      store.writeBatch(pipeline.enriched(pipeline.rateLimited(DecodePipeline.observed(envs))))
    }
    val t0 = System.nanoTime()
    tables = store.tables()
    api = new ConsoleApi(spark, schema, tables).start()
    // warm-up: one cycle of the mix with its own parameters, then an empty cache
    ctx.gen.consoleMix(Gen.CycleLength, StoreStart, StoreSpan, stream = 2L).groupBy(_.kind).values
      .map(_.head).filter(_.kind != "repeat").foreach(send(_, new Tracer(false)))
    api.cache.invalidateAll()
    System.err.println(f"[perfbench] store served and warmed in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private def send(r: Gen.Request, t: Tracer): Done = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}${r.path}"))
      .method(r.method, HttpRequest.BodyPublishers.ofString(r.body))
      .header("Content-Type", "application/json").build()
    val t0 = System.nanoTime()
    val resp = t.span(s"api.request.${r.kind}") {
      client.send(b, HttpResponse.BodyHandlers.ofString())
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val body = if (resp.statusCode == 200) Some(mapper.readTree(resp.body)) else None
    if (resp.statusCode != 200)
      System.err.println(s"[perfbench] ${r.path} answered ${resp.statusCode}: ${resp.body.take(300)}")
    Done(r, resp.statusCode, ms, if (r.check) body else None,
      body.exists(n => n.has("parsed") && !n.get("parsed").asBoolean))
  }

  /** Whole cycles of the mix until `--seconds` have passed: every run
    * then times the same request kinds, whatever the machine's speed.
    */
  def measure(t: Tracer): Window = {
    api.cache.invalidateAll()
    val t0 = System.nanoTime()
    val window = ArrayBuffer.empty[Done]
    var i = 0
    while (i % Gen.CycleLength != 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val d = send(mix(i), t)
      window += d
      if (t.enabled && d.req.fresh) direct(d.req, t, i)
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e6
    done ++= window
    val misses = window.filter(d => d.req.fresh).map(_.ms)
    Window(window.size.toLong, window.count(_.status != 200).toLong,
      window.size / (wall / 1000.0), misses.toSeq, wall)
  }

  /** The engine calls behind one fresh request, made directly (no HTTP),
    * each under its own span: filter compile, table resolution, frame
    * build and collect.
    */
  private def direct(r: Gen.Request, t: Tracer, req: Long): Unit = t.span("direct", req) {
    val in = mapper.readTree(r.body)
    def ts(f: String) = Timestamp.from(Instant.parse(in.get(f).asText))
    def strs(f: String) = Option(in.get(f)).toSeq.flatMap(n =>
      (0 until n.size).map(n.get(_).asText))
    def compiled(filter: String) =
      if (filter.isEmpty) None
      else t.span("filter.compile", req)(FilterCompiler.compile(schema, filter)).toOption
    def resolve(filter: String, dims: Seq[String], points: Int): Unit = {
      val cf = compiled(filter)
      val mainRequired = cf.exists(_.mainTableRequired) || dims.exists(schema.isMainOnly)
      val resolved = t.span("queryengine.resolve", req)(
        TableResolver.resolve(tables, ts("start"), ts("end"), points, mainRequired))
      t.span(s"queryengine.route.${resolved.table.name}", req)(())
    }
    r.kind match {
      case "line" | "line-check" =>
        val li = LineInput(ts("start"), ts("end"), in.get("points").asInt, strs("dimensions"),
          limit = in.get("limit").asInt, filter = in.get("filter").asText,
          bidirectional = in.has("bidirectional"), previousPeriod = in.has("previous-period"))
        resolve(li.filter, li.dimensions, li.points)
        val df = t.span("queryengine.line.build", req)(new LineQuery(schema, tables).build(spark, li))
        t.span("queryengine.line.collect", req)(LineStats.collect(df, li.limitType))
      case "sankey" =>
        val si = SankeyInput(ts("start"), ts("end"), strs("dimensions"), limit = in.get("limit").asInt)
        resolve("", si.dimensions, 100)
        val q = new SankeyQuery(schema, tables)
        val df = t.span("queryengine.sankey.build", req)(q.build(spark, si))
        t.span("queryengine.sankey.collect", req)(q.links(df, si.dimensions))
      case "widget-top" =>
        val w = new Widgets(schema, tables)
        val df = t.span("queryengine.widget.build", req)(
          w.topWidget(spark, w.dataNow(), r.path.split("/").last))
        t.span("queryengine.widget.collect", req)(df.collect())
      case "widget-graph" =>
        val w = new Widgets(schema, tables)
        val now = w.dataNow()
        val df = t.span("queryengine.widget.build", req)(
          w.graph(spark, new Timestamp(now.getTime - 86400000L), now, 200))
        t.span("queryengine.widget.collect", req)(df.collect())
      case _ =>
        t.span("store.newest", req)(store.newest())
    }
    graft.ScratchCache.releaseAll(spark)
  }

  def check(): (Long, Long) = {
    val checked = done.filter(_.json.nonEmpty)
    val fails = Checks.run(checked.toSeq.map { d =>
      s"line Σ xps·interval equals stored Σ Bytes·SamplingRate·8 (${d.req.body})" -> { () =>
        val in = mapper.readTree(d.req.body)
        val start = Instant.parse(in.get("start").asText).getEpochSecond
        val end = Instant.parse(in.get("end").asText).getEpochSecond
        val interval = (end - start) / in.get("points").asInt
        val rows = d.json.get.get("rows")
        val got = (0 until rows.size).map(rows.get).filter(_.get("axis").asInt == 1)
          .map(row => (0 until row.get("points").size).map(row.get("points").get(_).asDouble).sum)
          .sum * interval
        val want = store.read("flows")
          .where(col("TimeReceived") >= lit(new Timestamp(start * 1000)) &&
            col("TimeReceived") < lit(new Timestamp(end * 1000)))
          .agg(sum(col("Bytes") * col("SamplingRate") * 8)).collect()(0)
        val w = if (want.isNullAt(0)) 0.0 else want.getLong(0).toDouble
        if (math.abs(got - w) <= 1e-9 * math.max(1.0, w)) None
        else Some(f"line sums $got%.1f, store $w%.1f")
      }
    })
    (checked.size.toLong, fails)
  }

  def layers(t: Tracer, traced: Window): Map[String, Double] = {
    val reqs = t.named("api.request.")
    val misses = reqs.filter(s => FreshKinds.exists(k => s.name == s"api.request.$k"))
    val hits = reqs.filter(_.name == "api.request.repeat")
    val perMiss = misses.map(s => t.jobsIn(Seq(s)))
    val scans = misses.map(s => t.scansIn(Seq(s)))
    val engine = t.named("direct")
    def medianMs(name: String) = Stats.median(t.named(name).map(_.ms))
    // requests whose engine work is a frame build and collect: the rest of
    // the HTTP time is the API's own (an upper bound: the direct call runs
    // second, on warm file listings)
    val transport = misses.zip(engine).flatMap { case (m, e) =>
      val work = t.named("queryengine.").filter(s => s.start >= e.start && s.end <= e.end &&
        (s.name.endsWith(".build") || s.name.endsWith(".collect")))
      if (work.isEmpty) None else Some(m.ms - work.map(_.ms).sum)
    }
    val cached = hits.size + misses.size
    Map(
      "store.read.files_per_request" -> Stats.median(scans.map(_.map(_.files).sum.toDouble)),
      "store.read.bytes_per_request" -> Stats.median(scans.map(_.map(_.bytes).sum.toDouble)),
      "store.newest_ms" -> medianMs("store.newest"),
      "filter.compile_us" -> medianMs("filter.compile") * 1000.0,
      "filter.rejected" -> done.takeRight(traced.attempted.toInt).count(_.rejected).toDouble,
      "queryengine.resolve_us" -> medianMs("queryengine.resolve") * 1000.0,
      "queryengine.jobs_per_request" -> Stats.median(perMiss.map(_.size.toDouble)),
      "queryengine.stages_per_request" -> Stats.median(perMiss.map(js => t.stagesOf(js).size.toDouble)),
      "queryengine.driver_gap_ms" -> Stats.median(misses.map(s => t.driverGapMs(Seq(s)))),
      "api.hit_ms" -> Stats.median(hits.map(_.ms)),
      "api.transport_ms" -> Stats.median(transport),
      "api.cache.hit_ratio" -> (if (cached > 0) hits.size.toDouble / cached else 0.0),
      "api.cache.entries" -> api.cache.size.toDouble) ++
      Seq("flows", "flows_1m", "flows_5m", "flows_1h").map(tb =>
        s"queryengine.route.$tb" -> t.named(s"queryengine.route.$tb").size.toDouble) ++
      Seq("line", "sankey", "widget").flatMap(k => Seq(
        s"queryengine.$k.build_ms" -> medianMs(s"queryengine.$k.build"),
        s"queryengine.$k.collect_ms" -> medianMs(s"queryengine.$k.collect")))
  }

  def close(): Unit = if (api != null) api.stop()
}

object ConsoleWorkload {
  val StoreBatches = 1
  val StoreFlows = 10000
  val BatchSpan = 4L * 86400L
  val StoreStart: Long = Gen.T0
  val StoreSpan: Long = StoreBatches * BatchSpan
  /** Request kinds that run Spark and must miss the response cache. */
  val FreshKinds = Seq("line", "line-check", "sankey", "widget-top", "widget-graph",
    "widget-rate", "widget-exporters")

  final case class Done(req: Gen.Request, status: Int, ms: Double, json: Option[JsonNode],
      rejected: Boolean)
}
