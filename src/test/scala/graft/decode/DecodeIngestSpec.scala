package graft.decode

import java.sql.Timestamp
import graft.SparkSpec
import graft.functions.Ip
import graft.store.FlowStore
import graft.streaming.{Enrichment, FlowIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The full reference lifecycle (SURVEY §3.4) in one spec: pcap bytes →
  * RawFlow envelopes → stateful streaming decode → metadata enrichment →
  * partitioned store fan-out → line query over the written parquet —
  * the Spark shape of inlet → Kafka → outlet worker → ClickHouse → console
  * (`outlet/core/worker.go:61-137`).
  */
class DecodeIngestSpec extends SparkSpec {

  private def pcapRes(name: String): Array[Byte] =
    Pcap.readResource(s"/graft/pcap/$name.pcap")

  private def metadata = {
    import spark.implicits._
    Enrichment.MetadataDim(
      Seq(306, 335, 450, 451, 452, 461).map(i =>
        (Ip.parse("127.0.0.1"), i, "edge1", s"eth$i", s"if $i", 10000L,
          "transit", "p1", "external"))
        .toDF("exporter_addr", "if_index", "exporter_name", "if_name",
          "if_desc", "if_speed", "if_connectivity", "if_provider",
          "if_boundary"))
  }

  /** Decoded flows → the store's column contract (the worker's enrichment
    * step, I5): epoch seconds become timestamps, interface indexes resolve
    * to names via the broadcast metadata join.
    */
  private def enrich(decoded: DataFrame): DataFrame = {
    val named = decoded.select(
      timestamp_seconds(col("TimeReceived")).as("TimeReceived"),
      col("ExporterAddress"),
      col("InIf").cast("int").as("InIfIndex"),
      col("OutIf").cast("int").as("OutIfIndex"),
      col("Bytes"), col("Packets"), col("SamplingRate"))
    Enrichment.withMetadata(named, metadata)
      .withColumnRenamed("InIfDescription", "InIfDescription")
      .drop("InIfIndex", "OutIfIndex")
  }

  test("pcap → decode → enrich → store → line query, end to end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("decode-ingest").toString
    val src = Ip.parse("127.0.0.1")

    // the capture replayed as the inlet's envelopes, in receive order
    val envs = Seq("options-template", "options-data", "template", "data")
      .zipWithIndex.flatMap { case (n, i) =>
        Pcap.datagrams(pcapRes(n)).zipWithIndex.map { case (d, j) =>
          DecodePipeline.envelope(i.toLong * 10 + j, RawFlow.encode(RawFlow(
            timeReceived = d.tsSec, payload = d.payload, sourceAddress = src,
            decoder = RawFlow.DecoderNetflow)))
        }
      }

    val mem = MemoryStream[DecodePipeline.RawEnvelope]
    val store = new FlowStore(spark, root)
    val q = FlowIngest.start(
      DecodePipeline.decode(mem.toDS()).toDF(), store,
      checkpoint = s"$root/_checkpoint", enrich = enrich,
      trigger = Trigger.ProcessingTime(0L))
    // two micro-batches: templates first, data later — template state must
    // survive across batches in the state store
    mem.addData(envs.take(2))
    q.processAllAvailable()
    mem.addData(envs.drop(2))
    q.processAllAvailable()
    q.stop()

    val flows = spark.read.parquet(s"$root/flows")
    assert(flows.count() == 4)
    val byIf = flows.groupBy("InIfName").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byIf == Map("eth335" -> 2L, "eth461" -> 2L))
    assert(flows.select("ExporterName").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("edge1"))

    // line query over the written store: Σ xps·interval equals
    // Σ Bytes·SamplingRate·8 of the golden flows (30000 × 5848 × 8)
    // TS_INPUT: flows carry the capture (receive) timestamp of data.pcap
    val start = Timestamp.from(java.time.Instant.ofEpochSecond(1662723601L - 1662723601L % 3600))
    val end = Timestamp.from(start.toInstant.plusSeconds(3600))
    val line = new graft.queryengine.LineQuery(
      graft.schema.FlowSchema.schema, store.tables())
    val out = line.build(spark, graft.queryengine.LineInput(
      start = start, end = end, points = 6,
      dimensions = Seq("ExporterName"), limit = 5, unit = "l3bps"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    val total = rows.map(r => math.round(r.getAs[Double]("xps") * 600)).sum
    assert(total == 5848L * 30000L * 8L)
  }

  test("template state survives a query restart from the checkpoint") {
    // the reference persists templates to disk so a restart doesn't drop
    // flows until re-announcement (netflow/persist.go); the Spark shape
    // gets this from the checkpointed state store: stop the query after
    // the templates, start a NEW query on the same checkpoint, send only
    // data — the records must decode
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("decode-restart").toString
    val src = Ip.parse("127.0.0.1")
    val envs = Seq("options-template", "options-data", "template", "data")
      .zipWithIndex.flatMap { case (n, i) =>
        Pcap.datagrams(pcapRes(n)).zipWithIndex.map { case (d, j) =>
          DecodePipeline.envelope(i.toLong * 10 + j, RawFlow.encode(RawFlow(
            timeReceived = d.tsSec, payload = d.payload, sourceAddress = src,
            decoder = RawFlow.DecoderNetflow)))
        }
      }

    def startQuery(mem: MemoryStream[DecodePipeline.RawEnvelope]) =
      DecodePipeline.decode(mem.toDS()).writeStream
        .format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/_checkpoint")
        .trigger(Trigger.ProcessingTime(0L))
        .start()

    val mem1 = MemoryStream[DecodePipeline.RawEnvelope]
    val q1 = startQuery(mem1)
    mem1.addData(envs.take(3)) // both templates, no data records
    q1.processAllAvailable()
    q1.stop()

    val mem2 = MemoryStream[DecodePipeline.RawEnvelope]
    // MemoryStream offsets count addData blocks: re-add the committed
    // prefix as block 0 (already consumed per the checkpoint), then the
    // data envelope as block 1 — the restarted query processes ONLY the
    // data, and its templates can come only from the restored state store
    mem2.addData(envs.take(3))
    mem2.addData(envs.drop(3))
    val q2 = startQuery(mem2)
    q2.processAllAvailable()
    q2.stop()

    val decoded = spark.read.parquet(s"$root/out")
    assert(decoded.count() == 4)
    assert(decoded.agg(sum("Bytes")).collect()(0).getLong(0) == 5848L)
    assert(decoded.agg(max("SamplingRate")).collect()(0).getLong(0) == 30000L)
  }

  /** 4 good flows plus one drop of each cause: truncated protobuf, a
    * data datagram from an exporter that never sent templates, an
    * unknown decoder id, and an sFlow payload too short to carry a
    * header.
    */
  private def dropMix: Seq[DecodePipeline.RawEnvelope] = {
    val src = Ip.parse("127.0.0.1")
    val good = Seq("template", "data")
      .flatMap(n => Pcap.datagrams(pcapRes(n))).zipWithIndex.map { case (d, j) =>
        DecodePipeline.envelope(j.toLong, RawFlow.encode(RawFlow(
          timeReceived = d.tsSec, payload = d.payload, sourceAddress = src,
          decoder = RawFlow.DecoderNetflow)))
      }
    val badProto = DecodePipeline.RawEnvelope("ff", 100L,
      Array[Byte](0x08, 0x80.toByte))
    val noTemplate = Pcap.datagrams(pcapRes("data")).zipWithIndex.map {
      case (d, j) =>
        DecodePipeline.envelope(200L + j, RawFlow.encode(RawFlow(
          timeReceived = d.tsSec, payload = d.payload,
          sourceAddress = Ip.parse("10.9.9.9"),
          decoder = RawFlow.DecoderNetflow)))
    }
    val unknownDecoder = DecodePipeline.envelope(300L, RawFlow.encode(RawFlow(
      timeReceived = 1L, payload = Array[Byte](1, 2, 3),
      sourceAddress = Ip.parse("10.1.1.1"), decoder = 9)))
    val shortSflow = DecodePipeline.envelope(400L, RawFlow.encode(RawFlow(
      timeReceived = 1L, payload = Array[Byte](0, 0, 0, 5),
      sourceAddress = Ip.parse("10.2.2.2"), decoder = RawFlow.DecoderSflow)))
    good ++ Seq(badProto) ++ noTemplate ++ Seq(unknownDecoder, shortSflow)
  }

  /** The `decode` observer's totals over a query's progress reports. */
  private def decodeTotals(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Map[String, Long] = {
    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("decode")))
    ("flows" +: DecodePipeline.Drop.all.map(c => s"dropped_$c"))
      .map(n => n -> metrics.map(_.getAs[Long](n)).sum).toMap
  }

  test("decode drop metrics surface per cause through observe()") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[DecodePipeline.RawEnvelope]
    val q = DecodePipeline.observed(mem.toDS()).writeStream
      .format("memory").queryName("obs_decode")
      .trigger(Trigger.ProcessingTime(0L)).start()
    mem.addData(dropMix)
    q.processAllAvailable()
    val total = decodeTotals(q)
    q.stop()

    assert(total("flows") == 4L)
    assert(total("dropped_malformed_envelope") == 1L)
    assert(total("dropped_template_missing") == 1L)
    assert(total("dropped_unknown_decoder") == 1L)
    assert(total("dropped_malformed_datagram") == 1L)
    assert(total("dropped_non_encap") == 0L)
    assert(total("dropped_bad_source") == 0L)
    // drop rows never reach the sink — only decoded flows
    assert(spark.table("obs_decode").count() == 4L)
  }

  test("FlowIngest.start observes each decoded flow and drop exactly once") {
    // the store fan-out runs several write actions over one micro-batch;
    // the batch's plan (and the decode observer inside it) must still
    // execute once, so the counts equal the decoder's own
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("decode-observe").toString
    val mem = MemoryStream[DecodePipeline.RawEnvelope]
    val q = FlowIngest.start(DecodePipeline.observed(mem.toDS()),
      new FlowStore(spark, root), checkpoint = s"$root/_checkpoint",
      enrich = enrich, trigger = Trigger.ProcessingTime(0L))
    mem.addData(dropMix)
    q.processAllAvailable()
    val total = decodeTotals(q)
    q.stop()

    assert(total == Map("flows" -> 4L, "dropped_malformed_envelope" -> 1L,
      "dropped_template_missing" -> 1L, "dropped_unknown_decoder" -> 1L,
      "dropped_malformed_datagram" -> 1L, "dropped_non_encap" -> 0L,
      "dropped_bad_source" -> 0L))
    assert(spark.read.parquet(s"$root/flows").count() == 4L)
  }

  test("bounded reorder window restores seq order without a group sort") {
    import spark.implicits._
    val src = Ip.parse("127.0.0.1")
    def env(seq: Long, name: String) =
      Pcap.datagrams(pcapRes(name)).map { d =>
        DecodePipeline.envelope(seq, RawFlow.encode(RawFlow(
          timeReceived = d.tsSec, payload = d.payload, sourceAddress = src,
          decoder = RawFlow.DecoderNetflow)))
      }.head
    // arrival order data-before-template, seq order template-first: a
    // displacement of 1, well inside the window → all 4 flows decode
    val permuted = Seq(env(1L, "data"), env(0L, "template"))
    val ds = spark.createDataset(permuted).coalesce(1)
    assert(DecodePipeline.decode(ds, reorderWindow = 4).count() == 4L)
    // displacement beyond the window degrades exactly like the wire: the
    // data datagram decodes before its template and is dropped + counted
    val degraded = DecodePipeline.decodeCounted(ds, reorderWindow = 1)
      .collect()
    assert(!degraded.exists(_.dropCause == null), "no flows expected")
    assert(degraded.count(_.dropCause == DecodePipeline.Drop.TemplateMissing) == 1)
  }

  test("any displacement under the window bound decodes in full") {
    import spark.implicits._
    // 3 exporters × (options-template, options-data, template, data): the
    // stateful chain breaks if ANY data record outruns its templates. 20
    // seeded random permutations with displacement < window must all
    // decode every flow.
    val names = Seq("options-template", "options-data", "template", "data")
    val ordered = (0 until 3).flatMap { e =>
      val src = Ip.parse(s"10.0.0.${e + 1}")
      names.zipWithIndex.flatMap { case (n, i) =>
        Pcap.datagrams(pcapRes(n)).zipWithIndex.map { case (d, j) =>
          DecodePipeline.envelope(i.toLong * 10 + j, RawFlow.encode(RawFlow(
            timeReceived = d.tsSec, payload = d.payload, sourceAddress = src,
            decoder = RawFlow.DecoderNetflow)))
        }
      }
    }
    val window = 8
    val rnd = new scala.util.Random(41L)
    (1 to 20).foreach { trial =>
      // shuffling inside disjoint blocks of `window` bounds displacement
      // strictly under the window size
      val permuted = ordered.grouped(window)
        .flatMap(b => rnd.shuffle(b)).toSeq
      val n = DecodePipeline.decode(
        spark.createDataset(permuted).coalesce(1), reorderWindow = window)
        .count()
      assert(n == 3L * 4, s"trial $trial decoded $n of 12 flows")
    }
  }

  test("a large single-exporter batch decodes through the streaming window") {
    import spark.implicits._
    val src = Ip.parse("127.0.0.1")
    val d = Pcap.datagrams(pcapRes("nfv5")).head
    // 2000 datagrams (58k flows) for ONE exporter, decoded through a
    // 64-envelope window: peak task state is the window, not the batch
    val envs = (0L until 2000L).map(i =>
      DecodePipeline.envelope(i, RawFlow.encode(RawFlow(
        timeReceived = d.tsSec, payload = d.payload, sourceAddress = src,
        decoder = RawFlow.DecoderNetflow))))
    val n = DecodePipeline.decode(spark.createDataset(envs), reorderWindow = 64)
      .count()
    assert(n == 2000L * 29)
  }

  test("batch decode of the same envelopes matches the streamed result") {
    import spark.implicits._
    val src = Ip.parse("127.0.0.1")
    val envs = Seq("options-template", "options-data", "template", "data")
      .zipWithIndex.flatMap { case (n, i) =>
        Pcap.datagrams(pcapRes(n)).zipWithIndex.map { case (d, j) =>
          DecodePipeline.envelope(i.toLong * 10 + j, RawFlow.encode(RawFlow(
            timeReceived = d.tsSec, payload = d.payload, sourceAddress = src,
            decoder = RawFlow.DecoderNetflow)))
        }
      }
    val decoded = DecodePipeline.decode(spark.createDataset(envs))
    assert(decoded.count() == 4)
    assert(decoded.select(sum("Bytes")).as[Long].head() == 5848L)
    assert(decoded.select(max("SamplingRate")).as[Long].head() == 30000L)
  }
}
