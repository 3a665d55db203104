package graft.queryengine

import java.sql.Timestamp
import java.time.Instant
import graft.SparkSpec
import graft.schema.FlowSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LineQuerySpec extends SparkSpec {
  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  /** 4 hours of data: exporter A emits steadily on eth0, B bursts on eth1
    * in hour 2 only, hour 3 is empty.
    */
  private lazy val flows: DataFrame = {
    import spark.implicits._
    val rows = (0 until 120).map { m =>
      ("expA", "eth0", "external",
        Timestamp.from(Instant.parse("2024-03-01T00:00:00Z").plusSeconds(m * 60L)),
        100L, 1L, 1L)
    } ++ (0 until 60).map { m =>
      ("expB", "eth1", "external",
        Timestamp.from(Instant.parse("2024-03-01T01:00:00Z").plusSeconds(m * 60L)),
        10000L, 1L, 1L)
    }
    rows.toDF("ExporterName", "InIfName", "InIfBoundary", "TimeReceived",
      "Bytes", "Packets", "SamplingRate")
  }

  private lazy val tables = Seq(FlowTable("flows", 0L,
    ts("2024-03-01T00:00:00Z"), () => flows))

  private val engine = new LineQuery(FlowSchema.schema, tables)

  test("gap fill produces a dense axis with Other zero rows") {
    val out = engine.build(spark, LineInput(
      start = ts("2024-03-01T00:00:00Z"), end = ts("2024-03-01T04:00:00Z"),
      points = 240, dimensions = Seq("ExporterName"), limit = 1, unit = "fps"))
    val times = out.select("time_s").distinct().count()
    assert(times == 240) // every 1-minute bucket present
    // hour 3 has no data: bucket rows must be 'Other' with 0
    val h3 = out.where(col("time_s") >= lit(Instant.parse("2024-03-01T03:00:00Z")
      .getEpochSecond)).collect()
    assert(h3.nonEmpty)
    assert(h3.forall(r => r.getSeq[String](r.fieldIndex("dimensions")) == Seq("Other")
      && r.getAs[Double]("xps") == 0.0))
  }

  test("filters evaluate over the truncated source, like the reference CTE") {
    import spark.implicits._
    // two /24 networks, hosts .1/.2 — truncation to /24 zeroes the host
    val ipFlows = Seq(
      ("10.0.1.1", 100L), ("10.0.1.2", 100L), ("10.0.2.1", 100L))
      .map { case (ip, b) =>
        (graft.functions.Ip.parse(ip), ts("2024-03-01T00:30:00Z"), b, 1L, 1L)
      }.toDF("SrcAddr", "TimeReceived", "Bytes", "Packets", "SamplingRate")
    val t = Seq(FlowTable("flows", 0L, ts("2024-03-01T00:00:00Z"), () => ipFlows))
    val eng = new LineQuery(FlowSchema.schema, t)
    // filter names the truncated NETWORK address; both 10.0.1.x hosts
    // must match because the filter sees the post-REPLACE value
    // (reference: WHERE runs over the source CTE, graph.go/line.go)
    val out = eng.build(spark, LineInput(
      start = ts("2024-03-01T00:00:00Z"), end = ts("2024-03-01T01:00:00Z"),
      points = 6, dimensions = Seq("SrcAddr"), limit = 5, unit = "fps",
      filter = "SrcAddr = 10.0.1.0", truncateV4 = 24))
    val named = out.where(col("xps") > 0)
      .select(array_join(col("dimensions"), ","), col("xps"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(named.keySet == Set("10.0.1.0"), s"got $named")
    assert(named("10.0.1.0") * 600 == 2.0) // both /24 hosts counted
  }

  test("each axis filters over its own truncation, not the other axis's") {
    import spark.implicits._
    val ipFlows = Seq(("10.0.1.1", "10.0.2.5"), ("10.0.1.2", "10.0.2.5"), ("10.0.3.1", "10.0.2.6"))
      .map { case (src, dst) =>
        (graft.functions.Ip.parse(src), graft.functions.Ip.parse(dst),
          ts("2024-03-01T00:30:00Z"), 100L, 1L, 1L)
      }.toDF("SrcAddr", "DstAddr", "TimeReceived", "Bytes", "Packets", "SamplingRate")
    val t = Seq(FlowTable("flows", 0L, ts("2024-03-01T00:00:00Z"), () => ipFlows))
    // the direct axis truncates SrcAddr only, so its filter reads the
    // host DstAddr; the reverse axis truncates DstAddr and reads SrcAddr
    val out = new LineQuery(FlowSchema.schema, t).build(spark, LineInput(
      start = ts("2024-03-01T00:00:00Z"), end = ts("2024-03-01T01:00:00Z"),
      points = 6, dimensions = Seq("SrcAddr"), limit = 5, unit = "fps",
      filter = "DstAddr = 10.0.2.5", truncateV4 = 24, bidirectional = true))
    val named = out.where(col("xps") > 0)
      .select(col("axis"), array_join(col("dimensions"), ","), col("xps"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2) * 600).toMap
    assert(named == Map((1, "10.0.1.0") -> 2.0), s"got $named")
  }

  test("sankey truncates dimension addresses like the shared source CTE") {
    import spark.implicits._
    val ipFlows = Seq("10.0.1.1", "10.0.1.2", "10.0.2.1")
      .map(ip => (graft.functions.Ip.parse(ip),
        ts("2024-03-01T00:30:00Z"), 100L, 1L, 1L))
      .toDF("SrcAddr", "TimeReceived", "Bytes", "Packets", "SamplingRate")
    val t = Seq(FlowTable("flows", 0L, ts("2024-03-01T00:00:00Z"), () => ipFlows))
    val out = new SankeyQuery(FlowSchema.schema, t).build(spark, SankeyInput(
      start = ts("2024-03-01T00:00:00Z"), end = ts("2024-03-01T01:00:00Z"),
      dimensions = Seq("SrcAddr"), limit = 5, unit = "fps", truncateV4 = 24))
    val names = out.select("SrcAddr").as[String].collect().toSet
    assert(names == Set("10.0.1.0", "10.0.2.0"), s"got $names")
  }

  test("limitType avg ranks by total; max favors the burst") {
    def top(limitType: String): String = {
      val out = engine.build(spark, LineInput(
        start = ts("2024-03-01T00:00:00Z"), end = ts("2024-03-01T02:00:00Z"),
        points = 8, dimensions = Seq("ExporterName"), limit = 1,
        limitType = limitType, unit = "l3bps"))
      // non-Other row with highest xps belongs to the winner
      out.where(!array_contains(col("dimensions"), "Other"))
        .orderBy(desc("xps")).collect()(0).getSeq[String](2).head
    }
    // totals: A = 120*100, B = 60*10000 → B wins avg too; burst-only B wins max
    assert(top("max") == "expB")
    assert(top("avg") == "expB")
  }

  test("bidirectional adds reverse axis with flipped columns") {
    import spark.implicits._
    val both = flows.withColumn("OutIfName", lit("out0"))
      .withColumn("OutIfBoundary", lit("internal"))
    val t2 = Seq(FlowTable("flows", 0L, ts("2024-03-01T00:00:00Z"), () => both))
    val out = new LineQuery(FlowSchema.schema, t2).build(spark, LineInput(
      start = ts("2024-03-01T00:00:00Z"), end = ts("2024-03-01T02:00:00Z"),
      points = 8, dimensions = Seq("InIfName"), limit = 2,
      filter = "InIfBoundary = external", unit = "fps", bidirectional = true))
    val axes = out.select("axis").distinct().as[Int].collect().toSet
    assert(axes == Set(1, 2))
    // axis 2 groups by OutIfName and filters OutIfBoundary=external → no rows
    // except gap-fill 'Other' zeros
    val ax2 = out.where(col("axis") === 2 && col("xps") > 0).count()
    assert(ax2 == 0)
  }

  test("rollup routing picks coarsest fitting table") {
    val resolved = TableResolver.resolve(
      Seq(
        FlowTable("flows", 0L, ts("2024-03-01T00:00:00Z"), () => flows),
        FlowTable("1m", 60L, ts("2024-03-01T00:00:00Z"), () => flows),
        FlowTable("1h", 3600L, ts("2024-03-01T00:00:00Z"), () => flows),
        FlowTable("late", 3600L, ts("2024-03-01T02:00:00Z"), () => flows)),
      ts("2024-03-01T00:00:00Z"), ts("2024-03-02T00:00:00Z"),
      points = 24, mainTableRequired = false)
    assert(resolved.table.name == "1h")
    val main = TableResolver.resolve(
      Seq(FlowTable("flows", 0L, ts("2024-03-01T00:00:00Z"), () => flows),
        FlowTable("1h", 3600L, ts("2024-03-01T00:00:00Z"), () => flows)),
      ts("2024-03-01T00:00:00Z"), ts("2024-03-02T00:00:00Z"),
      points = 24, mainTableRequired = true)
    assert(main.table.name == "flows")
  }

  // ---- coverage matrix: every limitType × unit × table × axis shape,
  // checked against a hand-written frame in the reference's
  // top / folded / per / cal shape (`console/line.go`) ----

  private val T0 = Instant.parse("2024-03-01T00:00:00Z")

  /** Minute-aligned rows over [T0, T0+4h) plus a previous-day slice:
    * eth3 is heaviest in total but stops at 03:00; eth1 bursts in hour
    * 1; eth0 is steady from two exporters (so the l2% divisor counts 2);
    * eth2 alone reaches the last half hour, where "last" ranks.
    */
  private lazy val matrixFlows: DataFrame = {
    import spark.implicits._
    val e1 = graft.functions.Ip.parse("192.0.2.1")
    val e2 = graft.functions.Ip.parse("192.0.2.2")
    def at(min: Long) = Timestamp.from(T0.plusSeconds(min * 60))
    val rows =
      (0L until 210L by 5).flatMap(m => Seq(
        (at(m), e1, "eth0", "out0", 1000L, 100L, 1200L, 3L),
        (at(m + 1), e2, "eth0", "out1", 1000L, 1000L, 1500L, 2L))) ++
      (60L until 90L by 3).map(m => (at(m), e1, "eth1", "out1", 10000L, 1000L, 90000L, 40L)) ++
      (0L until 180L by 2).map(m => (at(m), e2, "eth3", "out0", 1000L, 1000L, 4000L, 5L)) ++
      (215L until 240L by 4).map(m => (at(m), e1, "eth2", "out2", 100L, 1000L, 700L, 1L)) ++
      (0L until 240L by 30).map(m => (at(m - 1440), e1, "eth0", "out0", 1000L, 100L, 500L, 1L))
    rows.map { case (t, exp, in, out, ins, outs, b, p) =>
      (t, exp, if (exp eq e1) "exp1" else "exp2", in, out, ins, outs, b, p, 10L)
    }.toDF("TimeReceived", "ExporterAddress", "ExporterName", "InIfName",
      "OutIfName", "InIfSpeed", "OutIfSpeed", "Bytes", "Packets", "SamplingRate")
  }

  private lazy val rawOnly = Seq(FlowTable("flows", 0L,
    Timestamp.from(T0.minusSeconds(7 * 86400)), () => matrixFlows))
  private lazy val withRollup = rawOnly :+ FlowTable("flows_1m", 60L,
    Timestamp.from(T0.minusSeconds(7 * 86400)), () => matrixFlows)

  private def matrixInput(limitType: String, unit: String, multi: Boolean) =
    LineInput(start = Timestamp.from(T0), end = Timestamp.from(T0.plusSeconds(4 * 3600)),
      points = 8, dimensions = Seq("InIfName"), limit = 2, limitType = limitType,
      unit = unit, bidirectional = multi, previousPeriod = multi)

  private val matrix = for {
    limitType <- Seq("avg", "max", "last")
    unit <- Seq("l3bps", "inl2%")
    rollup <- Seq(false, true)
    multi <- Seq(false, true)
  } yield (limitType, unit, rollup, multi)

  /** The unit's aggregate over raw rows (reference `clickhouse.go:186-199`),
    * written out per direction.
    */
  private def unitAgg(unit: String, reverse: Boolean) = unit match {
    case "l3bps" => sum(col("Bytes") * col("SamplingRate") * 8)
    case "inl2%" =>
      val (speed, ifName) = if (reverse) ("OutIfSpeed", "OutIfName") else ("InIfSpeed", "InIfName")
      nanvl(sum((col("Bytes") + lit(38) * col("Packets")) * col("SamplingRate") * 800 /
        (col(speed) * 1e6)) / count_distinct(col("ExporterAddress"), col(ifName)), lit(0.0))
  }

  /** The expected line rows: per axis a `top` set ranked by the
    * limitType (ties on the label), rows outside it `folded` into Other,
    * the `per`-bucket series, and a `cal` row for every empty bucket.
    */
  private def expectedLine(in: LineInput, intervalSec: Long): Seq[(Int, Long, Seq[String], Double)] = {
    val shift = 86400L // previous period of a 4 h range: one day
    val axes = Seq((1, false, 0L, Some("InIfName"))) ++
      (if (in.bidirectional) Seq((2, true, 0L, Some("OutIfName"))) else Nil) ++
      (if (in.previousPeriod) Seq((3, false, shift, None)) else Nil) ++
      (if (in.previousPeriod && in.bidirectional) Seq((4, true, shift, None)) else Nil)
    axes.flatMap { case (axis, reverse, sh, dim) =>
      val s = in.start.getTime / 1000 - sh
      val e = in.end.getTime / 1000 - sh
      val u = unitAgg(in.unit, reverse)
      val f = matrixFlows.where(unix_timestamp(col("TimeReceived")) >= s &&
        unix_timestamp(col("TimeReceived")) < e)
      val bucket = lit(s) + floor((unix_timestamp(col("TimeReceived")) - s) / intervalSec) * intervalSec
      val name = dim match {
        case None => array().cast("array<string>")
        case Some(d) =>
          val ranked = in.limitType match {
            case "avg" => f.groupBy(d).agg(u.as("r"))
            case "max" => f.groupBy(bucket.as("b"), col(d)).agg(u.as("wb"))
                .groupBy(d).agg(max("wb").as("r"))
            case "last" => f.where(unix_timestamp(col("TimeReceived")) >= e - intervalSec)
                .groupBy(d).agg(u.as("r"))
          }
          val top = ranked.orderBy(desc("r"), asc(d)).limit(in.limit)
            .collect().map(_.getString(0)).toSeq
          when(col(d).isin(top: _*), array(col(d))).otherwise(array(lit("Other")))
      }
      val per = f.groupBy((bucket + sh).cast("long").as("time_s"), name.as("dims"))
        .agg((u / intervalSec).as("xps"))
        .collect().map(r => (axis, r.getLong(0), r.getSeq[String](1), r.getDouble(2))).toSeq
      val filled = per.map(_._2).toSet
      val cal = (in.start.getTime / 1000 until in.end.getTime / 1000 by intervalSec)
        .filterNot(filled).map(t => (axis, t, if (dim.isEmpty) Seq.empty[String] else Seq("Other"), 0.0))
      per ++ cal
    }
  }

  private def linesOf(df: DataFrame): Seq[(Int, Long, Seq[String], Double)] =
    df.select("axis", "time_s", "dimensions", "xps").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[String](2), r.getDouble(3))).toSeq

  private def sameRows(got: Seq[(Int, Long, Seq[String], Double)],
      want: Seq[(Int, Long, Seq[String], Double)], cell: Any): scala.Unit = {
    def key(r: (Int, Long, Seq[String], Double)) = (r._1, r._2, r._3.mkString("\u0000"))
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    assert(g.map(key) == w.map(key), s"$cell: rows differ\n got ${g.mkString(" ")}\nwant ${w.mkString(" ")}")
    g.zip(w).foreach { case (a, b) =>
      assert(math.abs(a._4 - b._4) <= 1e-9 * math.max(1.0, math.abs(b._4)),
        s"$cell: ${key(a)} xps ${a._4} != ${b._4}")
    }
  }

  for ((limitType, unit, rollup, multi) <- matrix) {
    test(s"line matrix: $limitType × $unit × ${if (rollup) "rollup" else "raw"} × " +
        s"${if (multi) "bidirectional + previous period" else "single axis"}") {
      val tables = if (rollup) withRollup else rawOnly
      val in = matrixInput(limitType, unit, multi)
      val resolved = TableResolver.resolve(tables, in.start, in.end, in.points, false)
      assert(resolved.table.resolutionSec == (if (rollup) 60L else 0L))
      val out = new LineQuery(FlowSchema.schema, tables).build(spark, in)
      sameRows(linesOf(out), expectedLine(in, resolved.intervalSec), (limitType, unit, rollup, multi))
    }
  }

  test("last ranks the tail window only: a dimension absent there stays Other") {
    val out = new LineQuery(FlowSchema.schema, withRollup)
      .build(spark, matrixInput("last", "l3bps", multi = false))
    val named = out.select("dimensions").distinct().collect().map(_.getSeq[String](0)).toSet
    assert(named == Set(Seq("eth2"), Seq("Other")), s"got $named")
  }

  /** A sankey's expected rows: `top` tuples by weight (ties on the
    * labels), per-position membership, the folded sum over the observed
    * span (at least 1 s).
    */
  test("sankey inl2% folds per position over the observed span") {
    val in = SankeyInput(start = Timestamp.from(T0), end = Timestamp.from(T0.plusSeconds(4 * 3600)),
      dimensions = Seq("ExporterName", "InIfName"), limit = 2, unit = "inl2%")
    val f = matrixFlows.where(col("TimeReceived") >= lit(in.start) && col("TimeReceived") < lit(in.end))
    val u = unitAgg("inl2%", reverse = false)
    val top = f.groupBy("ExporterName", "InIfName").agg(u.as("r"))
      .orderBy(desc("r"), asc("ExporterName"), asc("InIfName")).limit(2).collect()
    val span = f.agg(unix_timestamp(max("TimeReceived")) - unix_timestamp(min("TimeReceived")))
      .collect()(0).getLong(0).max(1L)
    def folded(c: String, i: Int) = {
      val members = top.map(_.getString(i)).distinct.toSeq
      when(col(c).isin(members: _*), col(c)).otherwise(lit("Other")).as(c)
    }
    val want = f.groupBy(folded("ExporterName", 0), folded("InIfName", 1)).agg((u / span).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val out = new SankeyQuery(FlowSchema.schema, withRollup).build(spark, in)
    val got = out.collect().map(r => (r.getAs[String]("ExporterName"), r.getAs[String]("InIfName")) ->
      r.getAs[Double]("weight")).toMap
    assert(got.keySet == want.keySet, s"got $got want $want")
    want.foreach { case (k, w) => assert(math.abs(got(k) - w) <= 1e-9 * math.max(1.0, w), s"$k: ${got(k)} != $w") }
    assert(out.select("span_sec").distinct().collect().map(_.getLong(0)).toSeq == Seq(span))
  }

  test("build runs no Spark job in any matrix cell") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): scala.Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def flushed(): scala.Unit = org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val cells = matrix.map { case (limitType, unit, rollup, multi) =>
        (limitType, unit, rollup, multi) -> { () =>
          new LineQuery(FlowSchema.schema, if (rollup) withRollup else rawOnly)
            .build(spark, matrixInput(limitType, unit, multi)); ()
        }
      } ++ Seq("l3bps", "inl2%").flatMap(unit => Seq(false, true).map { bidir =>
        ("sankey", unit, bidir) -> { () =>
          new SankeyQuery(FlowSchema.schema, withRollup).build(spark, SankeyInput(
            start = Timestamp.from(T0), end = Timestamp.from(T0.plusSeconds(4 * 3600)),
            dimensions = Seq("ExporterName", "InIfName"), limit = 2, unit = unit,
            bidirectional = bidir)); ()
        }
      })
      val ran = cells.map { case (cell, build) =>
        flushed()
        val before = jobs.get()
        build()
        flushed()
        cell -> (jobs.get() - before)
      }
      assert(ran.forall(_._2 == 0), s"build ran Spark jobs: ${ran.filter(_._2 > 0).mkString(", ")}")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("weight ties keep the lower rendered label on every path") {
    import spark.implicits._
    // SrcPort 9 and 10 carry the same weight; as labels "10" < "9"
    val tied = Seq(9, 10, 9, 10).zipWithIndex.map { case (p, i) =>
      (Timestamp.from(T0.plusSeconds(60L * i)), p, 20 - p, 100L, 1L, 1L)
    }.toDF("TimeReceived", "SrcPort", "DstPort", "Bytes", "Packets", "SamplingRate")
    val schema = FlowSchema.schema.withConfig(graft.schema.SchemaConfig(
      notMainTableOnly = Set("SrcPort", "DstPort")))
    val oldest = Timestamp.from(T0.minusSeconds(86400))
    val tables = Seq(FlowTable("flows", 0L, oldest, () => tied),
      FlowTable("flows_1m", 60L, oldest, () => tied))
    def kept(bidirectional: Boolean): Set[String] =
      new LineQuery(schema, tables).build(spark, LineInput(
        start = Timestamp.from(T0), end = Timestamp.from(T0.plusSeconds(3600)), points = 6,
        dimensions = Seq("SrcPort"), limit = 1, bidirectional = bidirectional))
        .where(col("axis") === 1 && col("xps") > 0)
        .select(explode(col("dimensions"))).as[String].collect().toSet
    assert(kept(bidirectional = false) == Set("10", "Other"))
    assert(kept(bidirectional = true) == Set("10", "Other"))
    val sankey = new SankeyQuery(schema, tables).build(spark, SankeyInput(
      start = Timestamp.from(T0), end = Timestamp.from(T0.plusSeconds(3600)),
      dimensions = Seq("SrcPort"), limit = 1))
      .select("SrcPort").as[String].collect().toSet
    assert(sankey == Set("10", "Other"))
  }

  test("LineStats percentile interpolates and Other sorts last") {
    assert(math.abs(LineStats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0.95) - 3.85) < 1e-9)
    val s1 = LineStats.build(1, Seq("a"), Seq(1.0, 5.0, 3.0, 0.0))
    assert(s1.max == 5.0 && s1.min == 1.0 && s1.last == 3.0)
    assert(s1.average == 2.25)
  }
}
