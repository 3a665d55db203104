package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.Instant

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.filter.FilterCompiler
import graft.queryengine.{CodegenPosture, Completion, FlowTable, LineInput,
  LineQuery, LineStats, SankeyInput, SankeyQuery, Widgets}
import graft.schema.Schema

/** Thin JSON API mirroring the reference console's endpoints (SURVEY §3,
  * `console/line.go` / `sankey.go` / `filter.go`):
  *
  *   POST /api/v0/console/graph/line    — time series + per-series stats
  *   POST /api/v0/console/graph/sankey  — folded flows + node links
  *   POST /api/v0/console/filter/validate
  *   POST /api/v0/console/filter/complete
  *
  * Built on the JDK HttpServer + Spark's bundled Jackson (zero extra
  * dependencies); the engine itself stays a library — this is the optional
  * last layer of SURVEY §7.
  *
  * SMALL POSTURE for small stores: a cache miss over a main table whose
  * stored bytes are at most the session's `autoBroadcastJoinThreshold`
  * (the stores' small-regime bound; ≤ 0 means never small) runs in
  * [[CodegenPosture]]'s window. The window sets four keys: adaptive
  * query execution off, `spark.sql.shuffle.partitions` derived from
  * the measured bytes ([[graft.ConfWindow.smallRegime]], the formula
  * the durable stores use, here with a floor of 1, so a few-MB store
  * runs every exchange as one partition), whole-stage codegen off and
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`.
  *
  * Why each half. AQE materializes every exchange as its own job, and
  * each job costs driver time outside any task. In a traced console
  * benchmark run over a few-MB store, the median miss ran 5 Spark jobs
  * and 280 ms of driver time outside them; in this posture, 2 jobs and
  * 209 ms (the reference runs one ClickHouse query per request).
  * Spark compiles Java for every plan it has not seen, and console
  * plans are rarely seen twice: range bounds arrive as long/timestamp
  * literals inlined into the generated code, and the JVM-wide codegen
  * cache (100 entries) evicts the rest. At console-store scale that
  * compile time was most of a miss, while interpreting a few MB costs
  * less than compiling for it (ClickHouse likewise interprets and
  * compiles only expressions it has seen repeatedly). Rollups are
  * reductions of the main table, so its size bounds every table the
  * resolver can route to.
  *
  * The size comes from [[FlowTable.bytesUpTo]]: a cap-bounded
  * `listStatus` walk, no Spark job and no process start (on a JVM
  * without the native Hadoop library, the `listFiles` walk it replaced
  * forked `ls -ld` once per file and directory of the main table on
  * every miss: 90 forks in one 6.7 s console benchmark window).
  * A table without the probe keeps the session's own conf, as does
  * every store above the bound.
  *
  * The posture is a session-wide [[graft.ConfWindow]]. That is safe
  * because `HttpServer` dispatches requests on one thread, so requests
  * never overlap, and stream micro-batches run in a cloned session the
  * window does not touch. The remaining caveat: an ad-hoc query run on
  * the same session while a request is in flight also runs in the
  * posture — interpreted, non-adaptive, at the narrow width: correct,
  * only slower. Give such traffic its own `spark.newSession()`.
  */
final class ConsoleApi(spark: SparkSession, schema: Schema,
    tables: Seq[FlowTable], port: Int = 0,
    savedFilters: Option[graft.store.SavedFilters] = None,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Response cache with the reference's TTL tiers: graph queries 3 h
    * keyed by request body (`console/root.go:113-114`), widgets tiered
    * 5 s / 30 s / 5 min (`root.go:108-112`: flow-last + flow-rate 5 s,
    * exporters + top 30 s, widget/graph 5 min). Exposed for tests and
    * cache-busting.
    */
  val cache = new ResponseCache(clock)
  private val GraphTtlMs = 3L * 3600 * 1000
  private val WidgetSlowTtlMs = 5L * 60 * 1000 // widget/graph only
  private val WidgetMidTtlMs = 30L * 1000      // top / exporters
  private val WidgetFastTtlMs = 5L * 1000      // flow-rate / flow-last
  private val CompleteTtlMs = 60L * 1000       // filter/complete (root.go:118)

  /** route → cache TTL ms, for every endpoint that caches — the
    * conformance surface ConsoleApiSpec pins against
    * `console/root.go:108-118` so a TTL drift fails a test instead of
    * waiting for review.
    */
  def cacheTtls: Map[String, Long] = registeredTtls.toMap
  private val registeredTtls =
    scala.collection.mutable.LinkedHashMap.empty[String, Long]

  def boundPort: Int = server.getAddress.getPort

  private def ts(node: JsonNode, field: String): Timestamp =
    Timestamp.from(Instant.parse(node.get(field).asText()))

  /** A request as the endpoint callbacks see it: HTTP method, full request
    * path, URL-decoded query parameters, parsed JSON body (`{}` if empty).
    */
  private final case class Req(method: String, path: String,
      params: Map[String, String], body: JsonNode)

  /** One request envelope for every endpoint: JSON in/out, errors as
    * `{"error": …}` with status 400.
    */
  private def context(path: String)(f: Req => ObjectNode): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val out = try {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val params = Option(ex.getRequestURI.getRawQuery).toSeq
          .flatMap(_.split("&")).flatMap { kv =>
            kv.split("=", 2) match {
              case Array(k, v) => Some(
                java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
                  java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
              case _ => None
            }
          }.toMap
        val resp = f(Req(ex.getRequestMethod, ex.getRequestURI.getPath, params,
          mapper.readTree(if (body.isEmpty) "{}" else body)))
        (200, mapper.writeValueAsBytes(resp))
      } catch {
        case e: Exception =>
          val err = mapper.createObjectNode()
          err.put("error", Option(e.getMessage).getOrElse(e.getClass.getName))
          (400, mapper.writeValueAsBytes(err))
      }
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(out._1, out._2.length)
      ex.getResponseBody.write(out._2)
      ex.close()
    })

  private def handle(path: String)(f: JsonNode => ObjectNode): Unit =
    context(path)(r => f(r.body))

  /** [[handle]] behind the response cache: the key is the endpoint path
    * plus the serialized request body (the reference keys on the body,
    * `console/root.go:113`), so distinct queries cache independently.
    */
  private def handleCached(path: String, ttlMs: Long)(
      f: JsonNode => ObjectNode): Unit =
    contextCached(path, ttlMs)(r => s"$path ${r.body.toString}")(r => f(r.body))

  /** Cached context with a caller-chosen cache key — ONE ttl argument
    * feeds both the registry and the cache call, so the conformance test
    * cannot drift from actual caching behavior.
    */
  private def contextCached(path: String, ttlMs: Long)(key: Req => String)(
      f: Req => ObjectNode): Unit = {
    registeredTtls(path) = ttlMs
    context(path)(r => cache.getOrCompute(key(r), ttlMs)(
      CodegenPosture.interpretedIfSmall(spark, tables)(f(r))))
  }

  private def strings(node: JsonNode, field: String): Seq[String] =
    if (node.has(field)) {
      val it = node.get(field).elements()
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) buf += it.next().asText()
      buf.toSeq
    } else Nil

  handleCached("/api/v0/console/graph/line", GraphTtlMs) { req =>
    val in = LineInput(
      start = ts(req, "start"),
      end = ts(req, "end"),
      points = if (req.has("points")) req.get("points").asInt else 100,
      dimensions = strings(req, "dimensions"),
      limit = if (req.has("limit")) req.get("limit").asInt else 10,
      limitType = if (req.has("limitType")) req.get("limitType").asText else "avg",
      filter = if (req.has("filter")) req.get("filter").asText else "",
      unit = if (req.has("units")) req.get("units").asText else "l3bps",
      bidirectional = req.has("bidirectional") && req.get("bidirectional").asBoolean,
      previousPeriod = req.has("previous-period") && req.get("previous-period").asBoolean,
      // reference graph.go:25-26: 0 means "no truncation"
      truncateV4 = if (req.has("truncate-v4") && req.get("truncate-v4").asInt > 0)
        req.get("truncate-v4").asInt else 32,
      truncateV6 = if (req.has("truncate-v6") && req.get("truncate-v6").asInt > 0)
        req.get("truncate-v6").asInt else 128)
    val df = new LineQuery(schema, tables).build(spark, in)
    val series = LineStats.collect(df, in.limitType)
    val resp = mapper.createObjectNode()
    val rows = resp.putArray("rows")
    val computeTotal = !in.unit.endsWith("%")
    series.foreach { s =>
      val r = rows.addObject()
      r.put("axis", s.axis)
      val dims = r.putArray("dimensions")
      s.dimensions.foreach(dims.add)
      val pts = r.putArray("points")
      s.points.foreach(pts.add)
      r.put("average", s.average)
      r.put("min", s.min)
      r.put("max", s.max)
      r.put("last", s.last)
      r.put("95th", s.p95)
      if (computeTotal) r.put("total", s.total)
    }
    val rangeSec = (in.end.getTime - in.start.getTime) / 1000
    val axisNames = resp.putObject("axis-names")
    series.map(_.axis).distinct.foreach(a =>
      axisNames.put(a.toString, LineStats.axisName(a, rangeSec)))
    resp
  }

  handleCached("/api/v0/console/graph/sankey", GraphTtlMs) { req =>
    val in = SankeyInput(
      start = ts(req, "start"),
      end = ts(req, "end"),
      dimensions = strings(req, "dimensions"),
      limit = if (req.has("limit")) req.get("limit").asInt else 10,
      filter = if (req.has("filter")) req.get("filter").asText else "",
      unit = if (req.has("units")) req.get("units").asText else "l3bps",
      bidirectional = req.has("bidirectional") && req.get("bidirectional").asBoolean,
      truncateV4 = if (req.has("truncate-v4") && req.get("truncate-v4").asInt > 0)
        req.get("truncate-v4").asInt else 32,
      truncateV6 = if (req.has("truncate-v6") && req.get("truncate-v6").asInt > 0)
        req.get("truncate-v6").asInt else 128)
    val q = new SankeyQuery(schema, tables)
    val df = q.build(spark, in)
    val links = q.links(df, in.dimensions)
    val resp = mapper.createObjectNode()
    val arr: ArrayNode = resp.putArray("links")
    links.foreach { case ((from, to), w) =>
      val l = arr.addObject()
      l.put("source", from)
      l.put("target", to)
      l.put("weight", w)
    }
    resp
  }

  // POST /graph/table-interval — expose the planner's routing decision
  // (reference console/line.go:475-488): which table serves this range at
  // this point count, and the effective bucket width
  handle("/api/v0/console/graph/table-interval") { req =>
    val start = Timestamp.from(Instant.parse(req.get("start").asText()))
    val end = Timestamp.from(Instant.parse(req.get("end").asText()))
    val points = if (req.has("points")) req.get("points").asInt else 100
    val resolved = graft.queryengine.TableResolver.resolve(
      tables, start, end, points, mainTableRequired = false)
    val resp = mapper.createObjectNode()
    resp.put("table", resolved.table.name)
    resp.put("interval", resolved.intervalSec)
    resp
  }

  handle("/api/v0/console/filter/validate") { req =>
    val expr = if (req.has("filter")) req.get("filter").asText else ""
    val resp = mapper.createObjectNode()
    FilterCompiler.compile(schema, expr) match {
      case Right(cf) =>
        resp.put("message", "ok")
        resp.put("parsed", true)
        resp.put("mainTableRequired", cf.mainTableRequired)
      case Left(err) =>
        resp.put("message", err.getMessage)
        resp.put("parsed", false)
        resp.put("at", err.pos)
    }
    resp
  }

  handleCached("/api/v0/console/filter/complete", CompleteTtlMs) { req =>
    val expr = if (req.has("what")) req.get("what").asText else ""
    val resp = mapper.createObjectNode()
    val arr = resp.putArray("completions")
    Completion.complete(schema, expr).foreach { s =>
      val c = arr.addObject()
      c.put("kind", s.kind)
      c.put("value", s.value)
    }
    resp
  }

  // GET /api/v0/console/widget/top/{name} — the path suffix picks the
  // widget; "now" anchors on the newest flow like the reference's scalar
  // subquery
  contextCached("/api/v0/console/widget/top/", WidgetMidTtlMs)(req =>
    s"${req.path} ${req.body.toString}") { req =>
    val name = req.path.split("/").last
    val widgets = new Widgets(schema, tables)
    val rows = widgets.topWidget(spark, widgets.dataNow(), name).collect()
    val resp = mapper.createObjectNode()
    val arr = resp.putArray("top")
    rows.foreach { r =>
      val o = arr.addObject()
      o.put("name", r.getString(0))
      o.put("percent", r.getDouble(1))
    }
    resp
  }

  // GET /api/v0/console/widget/graph?points=N — single-series gap-filled
  // Gbps over the last 24 h before the newest flow (reference
  // widgets.go:250-292 anchors on the data, defaults to 200 points)
  contextCached("/api/v0/console/widget/graph", WidgetSlowTtlMs)({ req =>
    // params are part of the identity here (?points=N) — the path alone
    // would alias every points value to one cache entry
    val paramKey = req.params.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("&")
    s"${req.path}?$paramKey ${req.body.toString}"
  }) { req =>
    val points = req.params.get("points").map(_.toInt).getOrElse(200)
    val widgets = new Widgets(schema, tables)
    val now = widgets.dataNow()
    val start = new java.sql.Timestamp(now.getTime - 24 * 3600 * 1000L)
    val rows = widgets.graph(spark, start, now, points).collect().sortBy(_.getLong(0))
    val resp = mapper.createObjectNode()
    val arr = resp.putArray("data")
    rows.foreach { r =>
      val o = arr.addObject()
      o.put("t", r.getLong(0))
      o.put("gbps", r.getDouble(1))
    }
    resp
  }

  handleCached("/api/v0/console/widget/flow-rate", WidgetFastTtlMs) { _ =>
    val widgets = new Widgets(schema, tables)
    val rate = widgets.flowRate(spark, widgets.dataNow())
      .collect()(0).getDouble(0)
    val resp = mapper.createObjectNode()
    resp.put("rate", rate)
    resp.put("period", "second")
    resp
  }

  handleCached("/api/v0/console/widget/flow-last", WidgetFastTtlMs) { _ =>
    val widgets = new Widgets(schema, tables)
    val rows = widgets.flowLast(spark, widgets.dataNow()).collect()
    val resp = mapper.createObjectNode()
    rows.headOption.foreach { r =>
      r.schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) resp.put(f.name, r.get(i) match {
          case s: scala.collection.Seq[_] => s.mkString(" ")
          case x => String.valueOf(x)
        })
      }
    }
    resp
  }

  handleCached("/api/v0/console/widget/exporters", WidgetMidTtlMs) { _ =>
    val widgets = new Widgets(schema, tables)
    val resp = mapper.createObjectNode()
    val arr = resp.putArray("exporters")
    widgets.exporterList(spark).collect().foreach(r => arr.add(r.getString(0)))
    resp
  }

  // Saved-filter CRUD (reference `console/filter.go` + `console/database/`):
  // GET ?user=… lists, POST {user,description,content} saves (the filter
  // must parse, as the reference validates on save), DELETE
  // {user,description} tombstones.
  savedFilters.foreach { sf =>
    context("/api/v0/console/filter/saved") { req =>
      val resp = mapper.createObjectNode()
      req.method match {
        case "GET" =>
          val arr = resp.putArray("filters")
          sf.list(req.params.getOrElse("user", "")).collect().foreach { r =>
            val o = arr.addObject()
            o.put("description", r.getAs[String]("description"))
            o.put("content", r.getAs[String]("content"))
          }
        case "POST" =>
          val content = req.body.get("content").asText()
          FilterCompiler.compile(schema, content) match {
            case Right(_) =>
              sf.save(req.body.get("user").asText(),
                req.body.get("description").asText(), content)
              resp.put("message", "ok")
            case Left(err) =>
              throw new IllegalArgumentException(
                s"invalid filter: ${err.getMessage}")
          }
        case "DELETE" =>
          sf.delete(req.body.get("user").asText(),
            req.body.get("description").asText())
          resp.put("message", "ok")
        case m => throw new IllegalArgumentException(s"unsupported method $m")
      }
      resp
    }
  }

  def start(): ConsoleApi = { server.start(); this }
  def stop(): Unit = server.stop(0)
}
