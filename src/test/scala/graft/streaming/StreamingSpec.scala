package graft.streaming

import java.sql.Timestamp
import java.time.Instant
import graft.SparkSpec
import graft.functions.{Ip, Lpm}
import graft.store.FlowStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class LpmSpec extends SparkSpec {

  private val table = Lpm.Table.build(Seq(
    Lpm.PrefixEntry("0.0.0.0/0", Map("tenant" -> "default")),
    Lpm.PrefixEntry("10.0.0.0/8", Map("name" -> "corp", "role" -> "internal")),
    Lpm.PrefixEntry("10.1.0.0/16", Map("name" -> "corp-eu")),
    Lpm.PrefixEntry("10.1.2.0/24", Map("site" -> "paris")),
    Lpm.PrefixEntry("2001:db8::/32", Map("name" -> "v6net"))))

  test("most specific prefix wins with inherited attributes") {
    val got = table.lookup(Ip.parse("10.1.2.3")).get
    assert(got("site") == "paris")
    assert(got("name") == "corp-eu") // inherited from /16, not /8
    assert(got("role") == "internal") // inherited from /8
    assert(got("tenant") == "default") // inherited from /0
  }

  test("sibling prefixes do not leak") {
    val got = table.lookup(Ip.parse("10.2.0.1")).get
    assert(got("name") == "corp")
    assert(!got.contains("site"))
  }

  test("v6 and default match") {
    assert(table.lookup(Ip.parse("2001:db8::1")).get("name") == "v6net")
    assert(table.lookup(Ip.parse("192.0.2.1")).get == Map("tenant" -> "default"))
  }

  test("lookupAttr column works in a plan") {
    import spark.implicits._
    val df = Seq(Ip.parse("10.1.2.3"), Ip.parse("192.0.2.1")).toDF("SrcAddr")
    val out = df.select(Lpm.lookupAttr(table, "name")(col("SrcAddr")))
      .as[Option[String]].collect().toSet
    assert(out == Set(Some("corp-eu"), None))
  }

  test("refreshing table rebuilds only when a source changes") {
    // static config + a mutable "remote" source, merged in precedence order
    var remote = Seq(Lpm.PrefixEntry("10.0.0.0/8", Map("name" -> "remote-a")))
    val rt = new Lpm.RefreshingTable(Seq(
      () => Seq(Lpm.PrefixEntry("10.0.0.0/8", Map("role" -> "static"))),
      () => remote))
    val t0 = rt.table
    assert(t0.lookup(Ip.parse("10.1.1.1")).get ==
      Map("role" -> "static", "name" -> "remote-a"))
    // unchanged pull: same table instance, no rebuild
    assert(!rt.refresh())
    assert(rt.table eq t0)
    // remote list changes: rebuild picks it up, static attrs survive
    remote = Seq(Lpm.PrefixEntry("10.0.0.0/8", Map("name" -> "remote-b")))
    assert(rt.refresh())
    assert(rt.table.lookup(Ip.parse("10.1.1.1")).get ==
      Map("role" -> "static", "name" -> "remote-b"))
  }

  test("csv prefix source loads attributes") {
    val dir = java.nio.file.Files.createTempDirectory("csv")
    val f = dir.resolve("nets.csv")
    java.nio.file.Files.writeString(f,
      "prefix,name,tenant\n10.0.0.0/8,corp,\n192.0.2.0/24,doc,acme\n")
    val entries = Lpm.fromCsv(spark, f.toString)
    assert(entries.toSet == Set(
      Lpm.PrefixEntry("10.0.0.0/8", Map("name" -> "corp")),
      Lpm.PrefixEntry("192.0.2.0/24", Map("name" -> "doc", "tenant" -> "acme"))))
    val t = Lpm.Table.build(entries)
    assert(t.lookup(Ip.parse("192.0.2.7")).get("tenant") == "acme")
  }
}

class EnrichmentSpec extends SparkSpec {
  import spark.implicits._

  private def metadata = Enrichment.MetadataDim(Seq(
    (Ip.parse("10.0.0.1"), 1, "edge1", "eth0", "uplink", 1000L, "transit", "p1", "external"),
    (Ip.parse("10.0.0.1"), 2, "edge1", "eth1", "downlink", 1000L, "customer", "p2", "internal"))
    .toDF("exporter_addr", "if_index", "exporter_name", "if_name", "if_desc",
      "if_speed", "if_connectivity", "if_provider", "if_boundary"))

  private def flows = Seq(
    (Ip.parse("10.0.0.1"), 1, 2, Ip.parse("10.1.2.3"), Ip.parse("192.0.2.9"), 100L, 2L, 1000L),
    (Ip.parse("10.0.0.1"), 9, 9, Ip.parse("10.9.9.9"), Ip.parse("192.0.2.1"), 50L, 1L, 1000L))
    .toDF("ExporterAddress", "InIfIndex", "OutIfIndex", "SrcAddr", "DstAddr",
      "Bytes", "Packets", "SamplingRate")

  test("metadata join attaches interface attrs and drops full misses") {
    val out = Enrichment.withMetadata(flows, metadata)
    val rows = out.collect()
    assert(rows.length == 1) // second flow has no metadata on either side
    val r = rows(0)
    assert(r.getAs[String]("InIfName") == "eth0")
    assert(r.getAs[String]("OutIfName") == "eth1")
    assert(r.getAs[String]("ExporterName") == "edge1")
    assert(r.getAs[String]("OutIfBoundary") == "internal")
  }

  test("networks LPM fills Src/Dst attributes with precedence") {
    val table = Lpm.Table.build(Seq(
      Lpm.PrefixEntry("10.0.0.0/8", Map("name" -> "corp"))))
    val out = Enrichment.withNetworks(flows, table,
      Map("name" -> "NetName"))
    val byBytes = out.collect().map(r =>
      r.getAs[Long]("Bytes") -> r).toMap
    assert(byBytes(100L).getAs[String]("SrcNetName") == "corp")
    assert(byBytes(100L).getAs[String]("DstNetName") == null)
    assert(byBytes(50L).getAs[String]("SrcNetName") == "corp")
  }

  test("trie-layout custom dict resolves LPM with inheritance and default") {
    val dictSource = Seq(
      ("10.0.0.0/8", Some("corp"), Some("emea")),
      ("10.1.0.0/16", Some("lab"), None)) // no region: inherits emea
      .toDF("prefix", "team", "region")
    val dict = graft.schema.CustomDict("teams", "SrcAddr", "prefix",
      scala.collection.immutable.ListMap(
        "team" -> "SrcTeam", "region" -> "SrcRegion"), default = "none")
    val out = Enrichment.withCustomDictTrie(flows, dict, dictSource)
      .collect().map(r => r.getAs[Long]("Bytes") -> r).toMap
    // 10.1.2.3 → /16 (team overridden, region inherited from the /8)
    assert(out(100L).getAs[String]("SrcTeam") == "lab")
    assert(out(100L).getAs[String]("SrcRegion") == "emea")
    // 10.9.9.9 → /8 only
    assert(out(50L).getAs[String]("SrcTeam") == "corp")
    // DstAddr 192.0.2.x is outside every prefix → default fills
    val miss = Enrichment.withCustomDictTrie(flows,
      dict.copy(keyColumn = "DstAddr"), dictSource).collect()
    assert(miss.forall(_.getAs[String]("SrcTeam") == "none"))
  }

  test("classifier rules: reject and first-match-wins") {
    val rules = Seq(
      Enrichment.Rule(col("Bytes") < 60, reject = true),
      Enrichment.Rule(col("Packets") >= 2,
        outputs = Map("ExporterRole" -> lit("core"))),
      Enrichment.Rule(lit(true),
        outputs = Map("ExporterRole" -> lit("edge"))))
    val out = Enrichment.withClassifiers(flows, rules).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("ExporterRole") == "core")
  }

  test("validation drops zero sampling/packets and counts causes") {
    val bad = Seq(
      (Ip.parse("10.0.0.1"), 100L, 2L, 1000L),
      (Ip.parse("10.0.0.1"), 100L, 0L, 1000L),
      (Ip.parse("10.0.0.1"), 100L, 2L, 0L))
      .toDF("ExporterAddress", "Bytes", "Packets", "SamplingRate")
    assert(Enrichment.validated(bad).count() == 1)
  }
}

class FlowStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  private def mkFlows(day: String, n: Int) = {
    (0 until n).map { i =>
      (Timestamp.from(Instant.parse(s"${day}T00:00:00Z").plusSeconds(i * 40L)),
        s"exp${i % 2}", "eth0", "eth1", "uplink", "downlink", 1000L, 1000L,
        "transit", "peering", "p1", "p2", "external", "internal",
        100L + i, 2L, 1000L)
    }.toDF("TimeReceived", "ExporterName", "InIfName", "OutIfName",
      "InIfDescription", "OutIfDescription", "InIfSpeed", "OutIfSpeed",
      "InIfConnectivity", "OutIfConnectivity", "InIfProvider", "OutIfProvider",
      "InIfBoundary", "OutIfBoundary", "Bytes", "Packets", "SamplingRate")
      .withColumn("ExporterAddress",
        lit(graft.functions.Ip.parse("10.0.0.1")))
  }

  test("writeBatch fans out, rollups re-aggregate, retention drops") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    store.writeBatch(mkFlows("2024-03-01", 90))
    store.writeBatch(mkFlows("2024-03-02", 30))

    val tables = store.tables()
    assert(tables.map(_.name).toSet ==
      Set("flows", "flows_1m", "flows_5m", "flows_1h"))
    val main = tables.find(_.name == "flows").get.df()
    assert(main.count() == 120)

    // rollup re-aggregation equals main-table aggregation
    val roll = tables.find(_.name == "flows_1h").get.df()
    val fromRoll = roll.agg(sum("Bytes")).collect()(0).getLong(0)
    val fromMain = main.agg(sum("Bytes")).collect()(0).getLong(0)
    assert(fromRoll == fromMain)
    // 120 flows collapse to a handful of (hour, exporter) buckets
    assert(roll.count() <= 8)

    // exporters: replacing semantics — one row per (addr, ifname)
    val exp = store.exporters
    assert(exp.count() == 2) // eth0 + eth1 for the single exporter address

    // second batch appended to a second partition; retention drops day 1
    store.retention("flows", java.time.LocalDate.parse("2024-03-02"))
    val after = spark.read.parquet(s"$root/flows")
    assert(after.count() == 30)
  }

  test("default TTL schedule retains per-table windows") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    // 20 days of data: past the raw 15-day window, inside 1m's 7-day
    // window only for the newest week, everything inside 5m/1h windows
    (1 to 20).foreach(d =>
      store.writeBatch(mkFlows(f"2024-03-$d%02d", 2)))
    store.applyRetention(java.time.LocalDate.parse("2024-03-20"))
    def parts(t: String) = new java.io.File(s"$root/$t").listFiles()
      .map(_.getName).count(_.startsWith("p_date="))
    assert(parts("flows") == 15, "raw keeps 15 days")
    assert(parts("flows_1m") == 7, "1m rollup keeps 7 days")
    assert(parts("flows_5m") == 20, "5m keeps 90 days — nothing expires")
    assert(parts("flows_1h") == 20, "1h keeps a year — nothing expires")
    assert(parts("exporters") == 1, "exporters keep 1 day")
    // the surviving window is the NEWEST days
    val remaining = spark.read.parquet(s"$root/flows")
      .select(min(col("p_date").cast("string")),
        max(col("p_date").cast("string"))).collect()(0)
    assert(remaining.getString(0) == "2024-03-06" &&
      remaining.getString(1) == "2024-03-20")
  }

  test("range scans prune date partitions before IO") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    store.writeBatch(mkFlows("2024-03-01", 30))
    store.writeBatch(mkFlows("2024-03-02", 30))
    store.writeBatch(mkFlows("2024-03-03", 30))
    val main = store.tables().find(_.name == "flows").get
    val day2 = main.scan(ts("2024-03-02T00:00:00Z"), ts("2024-03-03T00:00:00Z"))
      .where(col("TimeReceived") >= lit(ts("2024-03-02T00:00:00Z")) &&
        col("TimeReceived") < lit(ts("2024-03-03T00:00:00Z")))
    assert(day2.count() == 30)
    // the p_date bound must reach the scan as a PARTITION filter (pruning
    // directories), not a data filter (reading every footer)
    val plan = day2.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_date"),
      s"p_date bound did not reach the partition filter:\n$plan")
    val scanned = day2.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned == Seq(1), s"expected exactly 1 pruned partition: $scanned")
    // half-open upper bound: an end ON the day boundary reads one day only
    val sameDay = main.scan(ts("2024-03-01T00:00:00Z"), ts("2024-03-02T00:00:00Z"))
    val parts = sameDay.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(parts == Seq(1), s"end-exclusive bound leaked a partition: $parts")
    // data boundaries come from one-directory reads and agree with the data
    assert(store.newest("flows").get == java.sql.Timestamp.from(
      ts("2024-03-03T00:00:00Z").toInstant.plusSeconds(29 * 40L)))
    assert(main.oldest == ts("2024-03-01T00:00:00Z"))
    assert(main.newestHint.get.apply() == store.newest("flows"))
  }

  test("compaction preserves rollup totals") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    store.writeBatch(mkFlows("2024-03-01", 50))
    store.writeBatch(mkFlows("2024-03-01", 50))
    val before = spark.read.parquet(s"$root/flows_1h")
    val beforeRows = before.count()
    val beforeSum = before.agg(sum("Bytes")).collect()(0).getLong(0)
    store.compactRollup("flows_1h")
    val after = spark.read.parquet(s"$root/flows_1h")
    assert(after.count() < beforeRows)
    assert(after.agg(sum("Bytes")).collect()(0).getLong(0) == beforeSum)
  }

  test("file compaction coalesces micro-batch files without changing rows") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    // 6 appends → ≥6 files in the day's partition directory
    (1 to 6).foreach(_ => store.writeBatch(mkFlows("2024-03-01", 20)))
    def dataFiles(dir: String): Int =
      new java.io.File(s"$root/flows/p_date=$dir").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles("2024-03-01") >= 6)
    // multiset fingerprint (binary columns hex-rendered so equality is by
    // content, not array identity)
    def rows(): Seq[String] = {
      val df = spark.read.parquet(s"$root/flows")
      df.select(df.schema.fields.map(f =>
        if (f.dataType == org.apache.spark.sql.types.BinaryType)
          hex(col(f.name)).as(f.name)
        else col(f.name).cast("string").as(f.name)): _*)
        .collect().map(_.mkString("|")).toSeq.sorted
    }
    val before = rows()
    store.compactFiles("flows")
    // tiny data, 256 MB target → exactly one file; rows content-identical
    assert(dataFiles("2024-03-01") == 1)
    assert(rows() == before)
    // partition pruning still works over the rewritten layout
    assert(spark.read.parquet(s"$root/flows")
      .where(col("p_date") === "2024-03-01").count() == 120)
  }

  test("a compactFiles crash (table moved aside) heals on read AND on append") {
    // swapIn's two-rename install can die with the whole table at
    // .compact.old and nothing live. A read while the path is missing
    // throws loudly — but the NEXT micro-batch's SaveMode.Append would
    // seed a fresh table beside the aside one, silently orphaning the
    // prior corpus forever. Both entry points must restore the aside
    // copy first.
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    store.writeBatch(mkFlows("2024-03-01", 30), batchId = Some(0L))
    def crashAside(): Unit = {
      val live = new java.io.File(s"$root/flows")
      assert(live.renameTo(new java.io.File(s"$root/flows.compact.old")))
    }
    crashAside()
    assert(store.read("flows").count() == 30, "read restored the aside")
    assert(!new java.io.File(s"$root/flows.compact.old").exists())
    crashAside()
    store.writeBatch(mkFlows("2024-03-02", 20), batchId = Some(1L))
    assert(!new java.io.File(s"$root/flows.compact.old").exists())
    assert(store.read("flows").count() == 50,
      "the append landed in the HEALED table, not a fresh one")
    // and the healed layout still compacts + prunes normally
    store.compactFiles("flows")
    assert(spark.read.parquet(s"$root/flows")
      .where(col("p_date") === "2024-03-01").count() == 30)
  }

  test("compacted files are time-clustered and internally time-sorted") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    // 5 appends covering the SAME intra-day span — on disk, every file
    // spans the whole day until compaction re-clusters by time
    (1 to 5).foreach(_ => store.writeBatch(mkFlows("2024-03-01", 200)))
    def rows(): Seq[String] = {
      val df = spark.read.parquet(s"$root/flows")
      df.select(df.schema.fields.map(f =>
        if (f.dataType == org.apache.spark.sql.types.BinaryType)
          hex(col(f.name)).as(f.name)
        else col(f.name).cast("string").as(f.name)): _*)
        .collect().map(_.mkString("|")).toSeq.sorted
    }
    val before = rows()
    // target small enough that the day's bytes need several files
    val dayBytes = new java.io.File(s"$root/flows/p_date=2024-03-01")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    store.compactFiles("flows", targetFileBytes = dayBytes / 4)
    val files = new java.io.File(s"$root/flows/p_date=2024-03-01")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length >= 2, s"expected a multi-file rewrite, got ${files.length}")
    assert(rows() == before) // content-identical
    // each file covers a contiguous TimeReceived slice: per-file ranges
    // are pairwise non-overlapping (boundary equality allowed) and rows
    // are in time order inside the file — this is what makes the pushed
    // TimeReceived range filter actually skip files and row groups
    val ranges = files.map { f =>
      val ts = spark.read.parquet(f)
        .select(col("TimeReceived").cast("long")).as[Long].collect()
      assert(ts.sameElements(ts.sorted), s"$f is not time-sorted")
      (ts.head, ts.last)
    }
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"file time ranges overlap: $aMax > $bMin")
      case _ => ()
    }
    // the payoff, measured: a 30-minute window over the day only decodes
    // the row groups whose stats cover it — the parquet scan emits far
    // fewer rows than the 1000 stored (pre-clustering every file spanned
    // the day and the scan emitted all of them)
    val win = spark.read.parquet(s"$root/flows")
      .where(col("TimeReceived") >= lit("2024-03-01 00:00:00").cast("timestamp") &&
        col("TimeReceived") < lit("2024-03-01 00:30:00").cast("timestamp"))
    assert(win.count() == 5 * 45) // i*40s < 1800 → 45 rows per append
    val scanRows = win.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    assert(scanRows < 1000,
      s"scan emitted every stored row ($scanRows) — row-group stats not pruning")
  }

  test("a replayed streaming batch id writes each table exactly once") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    val b = mkFlows("2024-03-01", 30)
    store.writeBatch(b, Some(0L))
    store.writeBatch(b, Some(0L)) // foreachBatch crash-replay of batch 0
    def bytes(t: String): Long = spark.read.parquet(s"$root/$t")
      .agg(sum("Bytes")).collect()(0).getLong(0)
    val once = bytes("flows")
    assert(bytes("flows_1m") == once && bytes("flows_1h") == once,
      "replayed batch double-counted a table")
    assert(spark.read.parquet(s"$root/flows").count() == 30)
    // a crash AFTER flows committed batch 1 but BEFORE the rollups:
    // hand-install the flows marker the way the interrupted run would
    // have left it, then replay — only the missing tables write
    val b1 = mkFlows("2024-03-02", 10)
    val marker = new org.apache.hadoop.fs.Path(s"$root/_commits/flows")
    val hfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(marker, true)
    out.write("1".getBytes); out.close()
    store.writeBatch(b1, Some(1L))
    assert(spark.read.parquet(s"$root/flows")
      .where(col("p_date") === "2024-03-02").count() == 0,
      "flows replayed a batch its marker says is durable")
    assert(spark.read.parquet(s"$root/flows_1m")
      .where(col("p_date") === "2024-03-02").count() > 0,
      "the rollup missed by the crash did not catch up on replay")
    assert(store.lastCommitted("flows_1m") == 1L)
    // un-guarded legacy writes still append every call
    store.writeBatch(b)
    assert(spark.read.parquet(s"$root/flows")
      .where(col("p_date") === "2024-03-01").count() == 60)
  }

  test("a maintenance pass expires, re-aggregates and coalesces together") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    store.writeBatch(mkFlows("2024-01-01", 30)) // past every retention
    (1 to 4).foreach(_ => store.writeBatch(mkFlows("2024-03-01", 30)))
    val bytesBefore = spark.read.parquet(s"$root/flows")
      .where(col("p_date") === "2024-03-01")
      .agg(sum("Bytes")).collect()(0).getLong(0)
    store.maintain(java.time.LocalDate.parse("2024-03-02"))
    // retention dropped the old day everywhere
    assert(!new java.io.File(s"$root/flows/p_date=2024-01-01").exists())
    // the kept day survives intact, in one file, rollups still consistent
    val flows = spark.read.parquet(s"$root/flows")
    assert(flows.agg(sum("Bytes")).collect()(0).getLong(0) == bytesBefore)
    assert(new java.io.File(s"$root/flows/p_date=2024-03-01").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // the 1h rollup keeps 365 days, so the old day legitimately survives
    // THERE while flows (15 d) dropped it — compare the shared day only
    val roll = spark.read.parquet(s"$root/flows_1h")
      .where(col("p_date") === "2024-03-01")
    assert(roll.agg(sum("Bytes")).collect()(0).getLong(0) == bytesBefore)
    assert(spark.read.parquet(s"$root/flows_1h")
      .where(col("p_date") === "2024-01-01").count() > 0)
  }

  test("dataNow follows appends to the newest partition, memoized between them") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    store.writeBatch(mkFlows("2024-03-01", 30))
    val w = new graft.queryengine.Widgets(graft.schema.FlowSchema.schema,
      store.tables())
    val first = ts("2024-03-01T00:00:00Z").toInstant.plusSeconds(29 * 40L)
    assert(w.dataNow().toInstant == first.plusSeconds(1))
    // an unchanged newest partition answers from the memo: no Spark job
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(w.dataNow().toInstant == first.plusSeconds(1))
      org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() == 0, s"memoized dataNow ran ${jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a later append into the SAME date partition moves it
    val later = mkFlows("2024-03-01", 30)
      .withColumn("TimeReceived",
        col("TimeReceived") + expr("INTERVAL 2 HOURS"))
    store.writeBatch(later)
    assert(w.dataNow().toInstant == first.plusSeconds(2 * 3600 + 1))
    // and the size probe sees the appended bytes
    val main = store.tables().find(_.name == "flows").get
    assert(main.bytesAtMost.get(Long.MaxValue))
    assert(!main.bytesAtMost.get(1L))
  }

  test("an empty batch writes nothing") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    store.writeBatch(mkFlows("2024-03-01", 1).limit(0), Some(0L))
    assert(Seq("flows", "flows_1m", "flows_5m", "flows_1h", "exporters")
      .forall(t => !new java.io.File(s"$root/$t").exists()))
    assert(store.lastCommitted("flows") == -1L)
  }

  test("streaming ingest fans batches through foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("stream").toString
    val mem = MemoryStream[(Timestamp, Long, Long, Long)]
    val stream = mem.toDF()
      .toDF("TimeReceived", "Bytes", "Packets", "SamplingRate")
      .withColumn("ExporterAddress", lit(graft.functions.Ip.parse("10.0.0.1")))
      .withColumn("ExporterName", lit("edge1"))
      .withColumn("InIfName", lit("eth0"))
      .withColumn("OutIfName", lit("eth1"))
      .withColumn("InIfDescription", lit("u")).withColumn("OutIfDescription", lit("d"))
      .withColumn("InIfSpeed", lit(1000L)).withColumn("OutIfSpeed", lit(1000L))
      .withColumn("InIfConnectivity", lit("t")).withColumn("OutIfConnectivity", lit("p"))
      .withColumn("InIfProvider", lit("p1")).withColumn("OutIfProvider", lit("p2"))
      .withColumn("InIfBoundary", lit("external"))
      .withColumn("OutIfBoundary", lit("internal"))
    val store = new FlowStore(spark, root)
    // data first: AvailableNow fixes its end offset when the query
    // starts, so rows added after start() can miss the only trigger
    mem.addData((ts("2024-03-01T00:00:10Z"), 100L, 2L, 1000L),
      (ts("2024-03-01T00:00:50Z"), 200L, 3L, 1000L))
    val q = FlowIngest.start(stream, store,
      checkpoint = s"$root/_checkpoint", trigger = Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$root/flows").count() == 2)
    assert(spark.read.parquet(s"$root/flows_1m").count() >= 1)
  }

  test("line query runs over the ingested store end to end") {
    // the full production path: batch ingest → partitioned store →
    // table routing → line pipeline, values conserved exactly
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    store.writeBatch(mkFlows("2024-03-01", 90))
    val line = new graft.queryengine.LineQuery(
      graft.schema.FlowSchema.schema, store.tables())
    val out = line.build(spark, graft.queryengine.LineInput(
      start = ts("2024-03-01T00:00:00Z"), end = ts("2024-03-02T00:00:00Z"),
      points = 24, dimensions = Seq("ExporterName"), limit = 2,
      unit = "l3bps"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    // Σ xps·interval over all series = Σ Bytes·SamplingRate·8 ingested
    val total = rows.map(r => math.round(r.getAs[Double]("xps") * 3600)).sum
    val expected = (0 until 90).map(i => (100L + i) * 1000L * 8L).sum
    assert(total == expected)
    // routed to the 1h rollup (interval 3600), whose buckets re-aggregated
    val nonZero = rows.filter(_.getAs[Double]("xps") > 0)
    assert(nonZero.forall(_.getAs[Long]("time_s") == 1709251200L)) // 00:00 hour
  }

  test("windowed rollup aggregates with watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String, Long, Long)]
    val stream = mem.toDF()
      .toDF("TimeReceived", "ExporterName", "Bytes", "Packets")
    val agg = FlowIngest.windowedRollup(stream, 60L, "1 minute")
    val q = agg.writeStream.format("memory").queryName("roll1m")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-03-01T00:00:10Z"), "e1", 100L, 1L),
      (ts("2024-03-01T00:00:40Z"), "e1", 50L, 1L),
      (ts("2024-03-01T00:05:00Z"), "e1", 7L, 1L)) // advances watermark
    q.processAllAvailable()
    val rows = spark.table("roll1m").collect()
    q.stop()
    assert(rows.exists(r => r.getAs[Long]("Bytes") == 150L))
  }
}

class TemplateCacheSpec extends SparkSpec {
  import TemplateCache._

  test("data records decode only after their template arrives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[RawRecord]
    // one continuous query, two micro-batches: per-exporter state persists
    // in the state store between batches
    val q = decode(mem.toDS()).writeStream
      .format("memory").queryName("tcache")
      .outputMode("append").start()

    // batch 1: exporter A learns template 5; one decodable data record,
    // one record for unknown template 9 (dropped + counted)
    mem.addData(
      RawRecord("expA", "template", 5, "SrcAddr,DstAddr,Bytes"),
      RawRecord("expA", "data", 5, "10.0.0.1,10.0.0.2,100"),
      RawRecord("expA", "data", 9, "x,y"))
    q.processAllAvailable()
    val b1 = spark.table("tcache").as[DecodedRecord].collect()
    assert(b1.length == 1)
    assert(b1.head.fields ==
      Map("SrcAddr" -> "10.0.0.1", "DstAddr" -> "10.0.0.2", "Bytes" -> "100"))

    // batch 2: template 9 arrives and decodes against the retained state;
    // exporter B has its own (empty) template set
    mem.addData(
      RawRecord("expA", "template", 9, "Proto,Port"),
      RawRecord("expA", "data", 9, "6,443"),
      RawRecord("expB", "data", 5, "1,2,3"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tcache").as[DecodedRecord].collect()
    assert(rows.length == 2) // expB's record never decodes
    val t9 = rows.find(_.templateId == 9).get
    assert(t9.fields == Map("Proto" -> "6", "Port" -> "443"))
    // the unknown-template drop from batch 1 shows in the counter
    assert(t9.misses == 1)
  }

  test("value/field count mismatch drops and counts, never truncates") {
    import spark.implicits._
    val ds = Seq(
      RawRecord("e", "template", 1, "A,B,C", seq = 1),
      RawRecord("e", "data", 1, "1,2", seq = 2),      // too few values
      RawRecord("e", "data", 1, "1,2,3,4", seq = 3),  // too many
      RawRecord("e", "data", 1, "1,2,3", seq = 4)).toDS()
    val rows = TemplateCache.decode(ds).collect()
    assert(rows.length == 1)
    assert(rows.head.fields == Map("A" -> "1", "B" -> "2", "C" -> "3"))
    assert(rows.head.misses == 2) // both malformed records counted
  }

  test("template refresh replaces field names") {
    import spark.implicits._
    // batch Dataset path: same operator, no stream needed
    // sequence numbers pin the order; partition order is irrelevant
    val ds = Seq(
      RawRecord("e", "data", 1, "3,4", seq = 4),
      RawRecord("e", "template", 1, "A,B", seq = 1),
      RawRecord("e", "data", 1, "1,2", seq = 2),
      RawRecord("e", "template", 1, "X,Y", seq = 3)).toDS().repartition(4)
    val out = decode(ds).collect().sortBy(_.fields.values.min)
    assert(out.length == 2)
    assert(out(0).fields == Map("A" -> "1", "B" -> "2"))
    assert(out(1).fields == Map("X" -> "3", "Y" -> "4"))
  }
}

class StreamingTopKSpec extends SparkSpec {

  test("the top-k sketch aggregates inside a windowed streaming query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val mem = MemoryStream[(java.sql.Timestamp, String, Long)]
    // heavy hitter "a" (weight 60), then "b" (30), noise "c".. within one
    // 1-minute window; append mode emits the window once the watermark
    // passes it
    val q = mem.toDF().toDF("ts", "k", "w")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(graft.expressions.TopKWeighted(col("k"), col("w"), 2, 20).as("top"))
      .selectExpr("window.start AS ws", "top")
      .writeStream.format("memory").queryName("stopk")
      .outputMode("append").start()
    mem.addData((ts(0), "a", 25L), (ts(1), "b", 30L), (ts(2), "a", 35L),
      (ts(3), "c", 5L))
    q.processAllAvailable()
    // advance the watermark far past the window to flush it
    mem.addData((ts(300), "z", 1L))
    q.processAllAvailable()
    mem.addData((ts(600), "z", 1L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("stopk")
      .selectExpr("ws", "inline(top)")
      .select("key", "weight").as[(String, Long)].collect().toSeq
    assert(rows.nonEmpty, "windowed sketch emitted nothing")
    // the sketch must surface the true heavy hitters in weight order
    assert(rows.take(2).map(_._1) == Seq("a", "b"), s"got $rows")
    assert(rows.head._2 == 60L)
  }
}

class StreamSessionSpec extends SparkSpec {
  import StreamSession._

  test("sessions close inline on gap and by event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000L
    def ev(u: Long, s: Long, id: Long) =
      SessionEvent(u, new java.sql.Timestamp(s * 1000L), id)
    val mem = MemoryStream[SessionEvent]
    val q = StreamSession.sessionize(
        mem.toDS().withWatermark("ts", "0 seconds"), gapSec = 3600)
      .writeStream.format("memory").queryName("ssess")
      .outputMode("append").start()
    // batch 1: one open session for user 1 (two events, 10 s apart)
    mem.addData(ev(1L, base, 1L), ev(1L, base + 10, 2L))
    q.processAllAvailable()
    assert(spark.table("ssess").isEmpty) // still open, nothing emitted
    // batch 2: a user-1 event past the gap closes session 1 inline
    mem.addData(ev(1L, base + 5000, 3L))
    q.processAllAvailable()
    val afterInline = spark.table("ssess").as[ClosedSession].collect().toSet
    assert(afterInline == Set(ClosedSession(1L, base, base + 10, 2L, 10L)))
    // batch 3+4: another user far in the future advances the watermark
    // past user 1's gap horizon → the open session closes by timeout
    // (watermark advances at batch END, so a second batch fires it)
    mem.addData(ev(2L, base + 20000, 4L))
    q.processAllAvailable()
    mem.addData(ev(2L, base + 20001, 5L))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("ssess").as[ClosedSession].collect().toSet
    assert(all.contains(ClosedSession(1L, base + 5000, base + 5000, 1L, 0L)),
      s"timeout close missing: $all")
  }
}

class StreamDedupSpec extends SparkSpec {

  test("duplicates within the watermark drop, within and across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    // one continuous query, two micro-batches: dedup state persists in
    // the state store between batches
    val q = StreamDedup.exactWithinWatermark(
        mem.toDF().toDF("ts", "doc_id", "text"), "text", "ts", "10 minutes")
      .writeStream
      .format("memory").queryName("sdedup")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-03-01T00:00:00Z"), 1L, "alpha"),
      (ts("2024-03-01T00:00:10Z"), 2L, "alpha"), // dup within batch
      (ts("2024-03-01T00:00:20Z"), 3L, "beta"))
    q.processAllAvailable()
    assert(spark.table("sdedup").select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L))
    mem.addData(
      (ts("2024-03-01T00:01:00Z"), 4L, "alpha"), // dup across batches
      (ts("2024-03-01T00:01:10Z"), 5L, "gamma"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("sdedup").select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L, 5L))
    // the hash helper column does not leak into the output
    assert(!spark.table("sdedup").columns.contains("__content_hash"))
  }
}

class StreamImageDedupSpec extends SparkSpec {

  test("perceptual dupes drop across batches; undecodable rows pass through") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamImageDedup.MediaEvent
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val key = 0x5a5a0f0f33cc55aaL & ~(1L << 63)
    val png = graft.operators.multimodal.Multimodal.encodePathPng(key)
    // a brightness-shifted twin: every byte differs, the dHash does not
    val shifted = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8) {
        var v = 150
        img.setRGB(0, y, (v << 16) | (v << 8) | v)
        for (x <- 0 until 8) {
          v += (if (((key >>> (y * 8 + x)) & 1L) == 1L) -8 else 8)
          img.setRGB(x + 1, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    assert(!java.util.Arrays.equals(png, shifted))
    val other = graft.operators.multimodal.Multimodal.encodePathPng(key ^ 7L)
    val mem = MemoryStream[MediaEvent]
    val q = graft.streaming.StreamImageDedup.dhashWithinWatermark(
        mem.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("simgdedup")
      .outputMode("append").start()
    mem.addData(
      MediaEvent(1L, ts("2024-03-01T00:00:00Z"), png, "s"),
      MediaEvent(2L, ts("2024-03-01T00:00:10Z"), shifted, "s"), // perceptual dup
      MediaEvent(3L, ts("2024-03-01T00:00:20Z"), Array.emptyByteArray, "s"),
      MediaEvent(4L, ts("2024-03-01T00:00:30Z"),
        Array.fill(16)(0x55.toByte), "s"))
    q.processAllAvailable()
    val b1 = spark.table("simgdedup").select("media_id").as[Long]
      .collect().toSet
    // the re-encoded copy dropped; both undecodable rows passed through
    assert(b1 == Set(1L, 3L, 4L), s"got $b1")
    mem.addData(
      MediaEvent(5L, ts("2024-03-01T00:01:00Z"), png, "s"), // dup across batches
      MediaEvent(6L, ts("2024-03-01T00:01:10Z"), other, "s"),
      // another undecodable row: the unique fallback key must not dedup
      // it against batch 1's
      MediaEvent(7L, ts("2024-03-01T00:01:20Z"), Array.emptyByteArray, "s"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("simgdedup").select("media_id").as[Long]
      .collect().toSet
    assert(all == Set(1L, 3L, 4L, 6L, 7L), s"got $all")
    val causes = spark.table("simgdedup").select("media_id", "cause")
      .as[(Long, String)].collect().toMap
    assert(causes(1L) == "ok" && causes(3L) == "empty" &&
      causes(4L) == "no_reader")
    assert(!spark.table("simgdedup").columns.contains("__k"))
  }

  test("video and audio clips dedup on their perceptual fingerprints in-stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamImageDedup.MediaEvent
    import graft.operators.multimodal.Multimodal
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val k = 0x3c5a96e1d2b4078L
    // two clips with DIFFERENT divergent middle frames: same majority
    // fingerprint, every payload byte stream distinct
    val clipA = Multimodal.encodePathAvi(Seq(k, k ^ 0xff00L, k))
    val clipB = Multimodal.encodePathAvi(Seq(k, k ^ 0x33L, k))
    val clipC = Multimodal.encodePathAvi(Seq(k ^ 0xf0f0f0L, k ^ 0xf0f0f0L))
    val memV = MemoryStream[MediaEvent]
    val qv = graft.streaming.StreamImageDedup.videoWithinWatermark(
        memV.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("svideodedup")
      .outputMode("append").start()
    memV.addData(
      MediaEvent(1L, ts("2024-03-01T00:00:00Z"), clipA, "s"),
      MediaEvent(2L, ts("2024-03-01T00:00:10Z"), clipB, "s"), // same majority
      MediaEvent(3L, ts("2024-03-01T00:00:20Z"), clipC, "s"),
      MediaEvent(4L, ts("2024-03-01T00:00:30Z"), Array.emptyByteArray, "s"))
    qv.processAllAvailable()
    qv.stop()
    val gotV = spark.table("svideodedup").select("media_id").as[Long]
      .collect().toSet
    assert(gotV == Set(1L, 3L, 4L), s"got $gotV")
    // audio: gain-shifted twin dedups, distinct envelope passes
    val wavA = Multimodal.encodeStepWav(k)
    val wavB = Multimodal.encodeStepWav(k, base = 4000, step = 32)
    val wavC = Multimodal.encodeStepWav(k ^ 0x5555L)
    val memA = MemoryStream[MediaEvent]
    val qa = graft.streaming.StreamImageDedup.audioWithinWatermark(
        memA.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("saudiodedup")
      .outputMode("append").start()
    memA.addData(
      MediaEvent(1L, ts("2024-03-01T00:00:00Z"), wavA, "s"),
      MediaEvent(2L, ts("2024-03-01T00:00:10Z"), wavB, "s"), // gain twin
      MediaEvent(3L, ts("2024-03-01T00:00:20Z"), wavC, "s"),
      MediaEvent(4L, ts("2024-03-01T00:00:30Z"),
        Multimodal.encodeConstWav(8000, 32, 500), "s")) // too_short passes
    qa.processAllAvailable()
    qa.stop()
    val gotA = spark.table("saudiodedup").select("media_id").as[Long]
      .collect().toSet
    assert(gotA == Set(1L, 3L, 4L), s"got $gotA")
  }
}

class StreamNearDupSpec extends SparkSpec {

  test("near-dup candidates surface across batches with a stable keeper") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val base = "spark shuffles data across the cluster when wide dependencies appear " +
      "and the scheduler plans stages from the lineage graph of the job"
    val other = "completely unrelated content about cooking pasta with garlic " +
      "and olive oil in a large pan over medium heat until golden"
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamNearDup.candidates(
        mem.toDF().toDF("ts", "doc_id", "text"), "doc_id", "ts", "text",
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("sneardup")
      .outputMode("append").start()
    // batch 1: the keeper arrives alone — nothing emitted
    mem.addData((ts("2024-03-01T00:00:00Z"), 1L, base))
    q.processAllAvailable()
    assert(spark.table("sneardup").isEmpty)
    // batch 2: an exact dup and an unrelated doc — only the dup pairs,
    // against state persisted from batch 1
    mem.addData(
      (ts("2024-03-01T00:00:30Z"), 2L, base),
      (ts("2024-03-01T00:00:40Z"), 3L, other))
    q.processAllAvailable()
    val pairs = spark.table("sneardup")
      .select("doc_id", "keeper_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 1L)), s"got $pairs")
    // batch 3: a near dup (one appended word) still collides on >=1 band
    mem.addData((ts("2024-03-01T00:01:00Z"), 4L, base + " sometimes"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("sneardup")
      .select("doc_id", "keeper_id").as[(Long, Long)].collect().toSet
    assert(all.contains((4L, 1L)), s"near dup missed: $all")
    assert(!all.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("bucket state expires once the watermark passes its horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val base = "spark shuffles data across the cluster when wide dependencies appear " +
      "and the scheduler plans stages from the lineage graph of the job"
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamNearDup.candidates(
        mem.toDF().toDF("ts", "doc_id", "text"), "doc_id", "ts", "text",
        watermark = "1 minute", horizonMs = 60000L)
      .writeStream.format("memory").queryName("sneardup_exp")
      .outputMode("append").start()
    // the keeper arrives; a far-future unrelated doc then pushes the
    // watermark well past the keeper's expiry horizon (two batches —
    // the watermark advances at batch END)
    mem.addData((ts("2024-03-01T00:00:00Z"), 1L, base))
    q.processAllAvailable()
    mem.addData((ts("2024-03-01T09:00:00Z"), 50L,
      "completely different text about gardening and soil and compost heaps"))
    q.processAllAvailable()
    mem.addData((ts("2024-03-01T09:00:01Z"), 51L,
      "another unrelated line with many plain words in it for padding"))
    q.processAllAvailable()
    // an exact dup of doc 1 arrives AFTER expiry: its bucket state is
    // gone, so no candidate pairs against the evicted keeper — the new
    // doc becomes the fresh keeper instead (bounded state, not a miss)
    mem.addData((ts("2024-03-01T09:00:02Z"), 60L, base))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("sneardup_exp")
      .select("doc_id", "keeper_id").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._2 == 1L || p._1 == 1L),
      s"expired keeper still pairing: $pairs")
  }
}
