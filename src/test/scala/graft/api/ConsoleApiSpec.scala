package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.schema.FlowSchema
import graft.store.EventFlows

class ConsoleApiSpec extends SparkSpec {

  private lazy val api = new ConsoleApi(spark, FlowSchema.schema,
    EventFlows.tables(spark, "/root/testdata/sf0.001"),
    savedFilters = Some(new graft.store.SavedFilters(spark,
      java.nio.file.Files.createTempDirectory("savedf").toString + "/sf")))
    .start()
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  private def send(method: String, path: String, body: String) =
    sendTo(api, method, path, body)

  private def sendTo(to: ConsoleApi, method: String, path: String,
      body: String) = {
    val req = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${to.boundPort}$path"))
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private def post(path: String, body: String) = send("POST", path, body)

  // console/root.go:108-118 — every cached route's TTL tier, pinned as a
  // table so a drift fails here instead of in review: flow-last/flow-rate
  // 5 s, exporters/top 30 s, widget/graph 5 min, filter/complete 1 min,
  // graph/line + graph/sankey the 3 h config default. table-interval and
  // filter/validate carry NO cache middleware in the reference and must
  // stay unregistered.
  test("dataNow anchors on parquet footer stats, not a data scan") {
    val tables = EventFlows.tables(spark, "/root/testdata/sf0.001")
    val w = new graft.queryengine.Widgets(FlowSchema.schema, tables)
    // the footer-derived newest equals the true max exactly (pins the
    // nanos→micros div-1000 truncation matching Tables.load's rebuild)
    val trueMax = tables.head.df()
      .agg(org.apache.spark.sql.functions.max("TimeReceived"))
      .collect()(0).getTimestamp(0)
    assert(EventFlows.newestFromFooters(spark, "/root/testdata/sf0.001")
      .contains(trueMax))
    // and dataNow() takes the hint without launching ANY Spark job —
    // footer reads are driver-side metadata, zero data pages
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val now = w.dataNow()
      assert(now.getTime == trueMax.getTime + 1000)
      Thread.sleep(500) // listener delivery is async
      assert(jobs.get() == 0,
        s"dataNow launched ${jobs.get()} Spark job(s) — the full-scan fallback ran")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("endpoint cache TTLs conform to the reference tiers") {
    val base = "/api/v0/console"
    val expected = Map(
      s"$base/widget/flow-last" -> 5000L,
      s"$base/widget/flow-rate" -> 5000L,
      s"$base/widget/exporters" -> 30000L,
      s"$base/widget/top/" -> 30000L,
      s"$base/widget/graph" -> 300000L,
      s"$base/filter/complete" -> 60000L,
      s"$base/graph/line" -> 10800000L,
      s"$base/graph/sankey" -> 10800000L)
    assert(api.cacheTtls == expected,
      s"TTL drift: ${api.cacheTtls.toSet diff expected.toSet}")
    assert(!api.cacheTtls.contains(s"$base/graph/table-interval"))
    assert(!api.cacheTtls.contains(s"$base/filter/validate"))
  }

  test("filter/complete caches by request body") {
    api.cache.invalidateAll()
    val body = """{"what":"SrcAddr "}"""
    val (c1, j1) = post("/api/v0/console/filter/complete", body)
    assert(c1 == 200 && api.cache.size == 1)
    val (c2, j2) = post("/api/v0/console/filter/complete", body)
    assert(c2 == 200 && j2 == j1)
    assert(api.cache.size == 1, "same body must reuse the entry")
    val (c3, _) = post("/api/v0/console/filter/complete",
      body.replace("SrcAddr", "DstAddr"))
    assert(c3 == 200 && api.cache.size == 2)
  }

  test("graph/line returns series with stats") {
    val (code, json) = post("/api/v0/console/graph/line",
      """{"start":"2024-01-01T00:00:00Z","end":"2024-01-08T00:00:00Z",
        |"points":7,"dimensions":["InIfName"],"limit":2,
        |"filter":"InIfBoundary = external","units":"pps"}""".stripMargin)
    assert(code == 200)
    val rows = json.get("rows")
    assert(rows.size() > 0)
    val first = rows.get(0)
    assert(first.get("points").size() == 7)
    assert(first.has("95th") && first.has("average"))
    // Other is forced last within its axis
    val dims = (0 until rows.size()).map(i =>
      rows.get(i).get("dimensions").get(0).asText())
    assert(dims.last == "Other" || !dims.contains("Other"))
  }

  test("graph/sankey returns weighted links") {
    val (code, json) = post("/api/v0/console/graph/sankey",
      """{"start":"2024-01-01T00:00:00Z","end":"2024-01-08T00:00:00Z",
        |"dimensions":["SrcCountry","DstCountry"],"limit":3,
        |"units":"pps"}""".stripMargin)
    assert(code == 200)
    val links = json.get("links")
    assert(links.size() > 0)
    assert(links.get(0).get("source").asText().startsWith("SrcCountry: "))
    assert(links.get(0).get("weight").asDouble() > 0)
  }

  test("graph/table-interval exposes the routing decision") {
    // week at 7 points → 1-day buckets → coarsest rollup (1h) serves it
    val (c1, wide) = post("/api/v0/console/graph/table-interval",
      """{"start":"2024-01-01T00:00:00Z","end":"2024-01-08T00:00:00Z",
        |"points":7}""".stripMargin)
    assert(c1 == 200)
    assert(wide.get("table").asText() == "flows_1h")
    assert(wide.get("interval").asLong() == 86400L)
    // a minute at 60 points → 1-second buckets → only the main table fits
    val (c2, narrow) = post("/api/v0/console/graph/table-interval",
      """{"start":"2024-01-01T00:00:00Z","end":"2024-01-01T00:01:00Z",
        |"points":60}""".stripMargin)
    assert(c2 == 200)
    assert(narrow.get("table").asText() == "flows")
    assert(narrow.get("interval").asLong() == 1L)
  }

  test("filter/validate reports both outcomes") {
    val (c1, ok) = post("/api/v0/console/filter/validate",
      """{"filter":"SrcPort >= 1024 AND Proto = 'TCP'"}""")
    assert(c1 == 200 && ok.get("parsed").asBoolean)
    assert(ok.get("mainTableRequired").asBoolean) // SrcPort is main-only
    val (c2, bad) = post("/api/v0/console/filter/validate",
      """{"filter":"NoSuchColumn = 1"}""")
    assert(c2 == 200 && !bad.get("parsed").asBoolean)
  }

  test("filter/complete suggests operators after a column") {
    val (code, json) = post("/api/v0/console/filter/complete",
      """{"what":"SrcAddr "}""")
    assert(code == 200)
    val vals = (0 until json.get("completions").size())
      .map(i => json.get("completions").get(i).get("value").asText()).toSet
    assert(vals.contains("<<"))
  }

  test("widget endpoints serve data-anchored results") {
    val (c1, top) = post("/api/v0/console/widget/top/protocol", "")
    assert(c1 == 200)
    assert(top.get("top").size() > 0)
    assert(top.get("top").get(0).get("percent").asDouble() > 0)
    val (c2, rate) = post("/api/v0/console/widget/flow-rate", "")
    assert(c2 == 200 && rate.get("rate").asDouble() > 0)
    val (c3, err) = post("/api/v0/console/widget/top/nonsense", "")
    assert(c3 == 400 && err.has("error"))
    val (c4, g) = post("/api/v0/console/widget/graph?points=24", "")
    assert(c4 == 200)
    assert(g.get("data").size() >= 24) // dense (gap-filled) calendar
    assert((0 until g.get("data").size()).exists(i =>
      g.get("data").get(i).get("gbps").asDouble() > 0))
  }

  test("flow-last and exporters widgets serve rendered data") {
    val (c1, last) = post("/api/v0/console/widget/flow-last", "")
    assert(c1 == 200)
    // binary addresses come back rendered, not raw bytes
    assert(last.get("SrcAddr").asText().startsWith("10."))
    assert(last.get("DstCommunities").asText().matches("\\d+:\\d+.*"))
    assert(last.has("Bytes") && last.has("Proto"))
    val (c2, exps) = post("/api/v0/console/widget/exporters", "")
    assert(c2 == 200)
    val names = (0 until exps.get("exporters").size())
      .map(i => exps.get("exporters").get(i).asText())
    assert(names.nonEmpty && names == names.sorted)
    assert(names.forall(_.startsWith("exp")))
  }

  test("saved filters round-trip through the API") {
    val (c0, empty) = send("GET", "/api/v0/console/filter/saved?user=alice", "")
    assert(c0 == 200 && empty.get("filters").size() == 0)
    // invalid filters are rejected on save like the reference
    val (cBad, bad) = post("/api/v0/console/filter/saved",
      """{"user":"alice","description":"broken","content":"NoSuchColumn = 1"}""")
    assert(cBad == 400 && bad.has("error"))
    val (c1, _) = post("/api/v0/console/filter/saved",
      """{"user":"alice","description":"ext","content":"InIfBoundary = external"}""")
    assert(c1 == 200)
    val (c2, one) = send("GET", "/api/v0/console/filter/saved?user=alice", "")
    assert(c2 == 200 && one.get("filters").size() == 1)
    assert(one.get("filters").get(0).get("content").asText()
      == "InIfBoundary = external")
    val (c3, _) = send("DELETE", "/api/v0/console/filter/saved",
      """{"user":"alice","description":"ext"}""")
    assert(c3 == 200)
    val (c4, gone) = send("GET", "/api/v0/console/filter/saved?user=alice", "")
    assert(c4 == 200 && gone.get("filters").size() == 0)
  }

  test("malformed requests get a 400 with an error body") {
    val (code, json) = post("/api/v0/console/graph/line", """{"start":"nope"}""")
    assert(code == 400)
    assert(json.has("error"))
  }

  test("widget/graph caches per query-string, not per path") {
    api.cache.invalidateAll()
    val (c1, j1) = send("GET", "/api/v0/console/widget/graph?points=10", "")
    val (c2, j2) = send("GET", "/api/v0/console/widget/graph?points=20", "")
    assert(c1 == 200 && c2 == 200)
    // a shared path-only key would serve the first payload for both
    assert(j1.get("data").size() != j2.get("data").size(),
      s"points param ignored: both returned ${j1.get("data").size()} points")
    assert(api.cache.size == 2)
  }

  test("graph responses cache by request body") {
    api.cache.invalidateAll()
    val body = """{"start":"2024-01-01T00:00:00Z","end":"2024-01-02T00:00:00Z",
      |"points":5,"dimensions":[],"limit":2,"units":"fps"}""".stripMargin
    val (c1, j1) = post("/api/v0/console/graph/line", body)
    assert(c1 == 200)
    assert(api.cache.size == 1) // stored under (path, body)
    val (c2, j2) = post("/api/v0/console/graph/line", body)
    assert(c2 == 200 && j1 == j2)
    assert(api.cache.size == 1) // same key — no second entry
    // a different body is a different key
    val (c3, _) = post("/api/v0/console/graph/line",
      body.replace("\"limit\":2", "\"limit\":3"))
    assert(c3 == 200 && api.cache.size == 2)
    // errors (400) never cache
    val before = api.cache.size
    val (c4, _) = post("/api/v0/console/graph/line", """{"start":"nope"}""")
    assert(c4 == 400 && api.cache.size == before)
  }

  test("every endpoint answers identically interpreted and compiled") {
    // a FlowStore carries the size probe that selects the posture; the
    // broadcast threshold forces either side (≤ 0 means never small)
    val root = java.nio.file.Files.createTempDirectory("posture").toString
    val store = new graft.store.FlowStore(spark, root)
    store.writeBatch(EventFlows.flows(spark, "/root/testdata/sf0.001"))
    val posed = new ConsoleApi(spark, FlowSchema.schema, store.tables()).start()
    val range = """"start":"2024-01-01T00:00:00Z","end":"2024-01-08T00:00:00Z""""
    val requests = Seq(
      "POST" -> "/api/v0/console/graph/line" -> s"""{$range,"points":7,
        |"dimensions":["InIfName"],"limit":2,"units":"pps"}""".stripMargin,
      "POST" -> "/api/v0/console/graph/line" -> s"""{$range,"points":14,
        |"dimensions":["SrcCountry"],"limit":3,"bidirectional":true,
        |"filter":"InIfBoundary = external"}""".stripMargin,
      "POST" -> "/api/v0/console/graph/line" -> """{"start":"2024-01-03T00:00:00Z",
        |"end":"2024-01-03T12:00:00Z","points":12,"dimensions":["SrcPort"],
        |"limit":3,"previous-period":true}""".stripMargin,
      "POST" -> "/api/v0/console/graph/sankey" -> s"""{$range,
        |"dimensions":["SrcCountry","DstCountry"],"limit":3}""".stripMargin,
      "POST" -> "/api/v0/console/graph/table-interval" -> s"""{$range,"points":7}""",
      "POST" -> "/api/v0/console/filter/validate" -> """{"filter":"SrcPort >= 1024"}""",
      "POST" -> "/api/v0/console/filter/complete" -> """{"what":"SrcAddr "}""",
      "GET" -> "/api/v0/console/widget/top/protocol" -> "",
      "GET" -> "/api/v0/console/widget/top/src-port" -> "",
      "GET" -> "/api/v0/console/widget/graph?points=24" -> "",
      "GET" -> "/api/v0/console/widget/flow-rate" -> "",
      "GET" -> "/api/v0/console/widget/flow-last" -> "",
      "GET" -> "/api/v0/console/widget/exporters" -> "")
    // which executions ran whole-stage generated code
    import scala.jdk.CollectionConverters._
    val compiled = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        compiled.add(Plans.collectWithSubqueries(qe.executedPlan) {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }.nonEmpty)
        ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val codegenKeys = Seq("spark.sql.codegen.factoryMode",
      "spark.sql.codegen.wholeStage")
    val codegenBefore = codegenKeys.map(spark.conf.getAll.get)
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val thrBefore = spark.conf.getAll.get(thrKey)
    def answers(threshold: String): (Seq[String], Seq[Boolean]) = {
      spark.conf.set(thrKey, threshold)
      posed.cache.invalidateAll()
      org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      compiled.clear()
      val out = requests.map { case ((method, path), body) =>
        val (code, json) = sendTo(posed, method, path, body)
        assert(code == 200, s"$path answered $code: $json")
        json.toString
      }
      org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      (out, compiled.asScala.toSeq)
    }
    spark.listenerManager.register(listener)
    try {
      val (interpreted, onPlans) = answers((1L << 30).toString)
      val (generated, offPlans) = answers("-1")
      assert(onPlans.nonEmpty && !onPlans.contains(true),
        "a small store must run its requests without generated code")
      assert(offPlans.contains(true),
        "a store past the threshold must keep the compiled path")
      requests.zip(interpreted.zip(generated)).foreach {
        case ((_, body), (a, b)) =>
          assert(a == b, s"posture changed the answer to $body")
      }
      // the posture window closed with its requests
      assert(codegenKeys.map(spark.conf.getAll.get) == codegenBefore)
    } finally {
      spark.listenerManager.unregister(listener)
      thrBefore match {
        case Some(v) => spark.conf.set(thrKey, v)
        case None => spark.conf.unset(thrKey)
      }
      posed.stop()
    }
  }

  override def afterAll(): Unit = {
    api.stop()
    super.afterAll()
  }
}
