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

  test("a maintenance pass on a store with no tables yet is a no-op") {
    // a fresh root, or one that saw only empty batches, has no rollup
    // table to re-aggregate: maintain skips it like the files compaction
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new FlowStore(spark, root)
    store.writeBatch(mkFlows("2024-03-01", 1).limit(0), Some(0L))
    store.maintain(java.time.LocalDate.parse("2024-03-02"))
    assert(Seq("flows", "flows_1m", "flows_5m", "flows_1h", "exporters")
      .forall(t => !new java.io.File(s"$root/$t").exists()))
    // and the store still takes its first batch and maintains it
    store.writeBatch(mkFlows("2024-03-01", 30), Some(1L))
    store.maintain(java.time.LocalDate.parse("2024-03-02"))
    assert(store.read("flows").count() == 30)
    assert(store.read("flows_1m").agg(sum("Bytes")).collect()(0).getLong(0) ==
      store.read("flows").agg(sum("Bytes")).collect()(0).getLong(0))
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
    assert(main.bytesUpTo.get(Long.MaxValue).exists(_ > 0L))
    assert(main.bytesUpTo.get(1L).isEmpty)
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
