package perfbench

import java.nio.ByteBuffer
import java.security.MessageDigest

import graft.decode.{DecodePipeline, Pcap, RawFlow, TemplateState}
import graft.decode.DecodePipeline.{Drop, RawEnvelope}
import graft.functions.Ip

/** Seeded input generator. Everything the benchmark feeds the engine comes
  * from here, and the same seed gives byte-identical inputs
  * (`GenSpec` pins it). Input properties and why they were chosen:
  *
  *  - 64 NetFlow v5 exporters, 8 mapped interfaces each: enough exporter
  *    groups to spread the stateful decode over every core.
  *  - 4 of them carry 10× the others' share, over the [[RateLimit]] budget
  *    of 600 flows per exporter per 60 s tick, so the limiter drops and
  *    re-weights on every ingest batch; the others stay far below it.
  *  - Addresses, ASes and ports are drawn with a cubic skew from small
  *    pools, so a few values dominate and the rollups really reduce.
  *  - 1 % of v5 flows have no mapped interface and 0.5 % carry no packets:
  *    the enrichment drop causes fire on every batch. They sit on the
  *    light exporters only, so the expected kept count is exact.
  *  - NetFlow v9, IPFIX and sFlow datagrams are replayed from the engine's
  *    pcap fixtures with the exporter and the time rewritten; templates are
  *    re-announced every batch, as exporters do.
  *  - Every batch injects a fixed number of bad datagrams per decode drop
  *    cause ([[InjectedDrops]]), including data sent before its template.
  *  - An ingest batch holds ~10k decoded flows over 60 s of flow time. The
  *    reference outlet flushes at 50k flows or 5 s, whichever comes first;
  *    the engine's per-batch cost is mostly fixed, and two measured 50k
  *    batches plus a warm-up do not fit one benchmark run.
  */
final class Gen(val seed: Long) {
  import Gen._

  private val heavy: Set[Int] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    Iterator.continually(r.nextInt(V5Exporters)).distinct.take(HeavyExporters).toSet
  }

  /** v5 exporters: (16-byte address, name). */
  val v5Exporters: IndexedSeq[(Array[Byte], String)] = (0 until V5Exporters).map { i =>
    (Ip.parse(s"10.200.${i / 250}.${i % 250 + 1}"), f"edge$i%02d.site${i % 8}")
  }

  private val replays: IndexedSeq[Replay] = IndexedSeq(
    Replay("10.201.0.1", "core-v9-a", RawFlow.DecoderNetflow,
      Seq("options-template", "options-data", "template"), "data", 15),
    Replay("10.201.0.2", "core-v9-b", RawFlow.DecoderNetflow,
      Seq("options-template", "options-data", "template"), "data", 15),
    Replay("10.201.0.3", "core-ipfix", RawFlow.DecoderNetflow,
      Seq("ipfixprobe-templates"), "ipfixprobe-data", 8),
    Replay("10.201.0.4", "core-sflow", RawFlow.DecoderSflow,
      Nil, "sflow-sflow-ipv4-data", 15))

  /** Interfaces each replayed capture's flows name, learned by decoding
    * the capture once with the single-thread kernel.
    */
  private val replayIfs: Map[String, Set[Long]] = replays.map { r =>
    val flows = kernelDecode(replayEnvelopes(r, Ip.parse(r.addr), 0L,
      announce = true, dataCount = 1)).flows
    r.addr -> flows.flatMap(f => Seq(f.InIf, f.OutIf)).filter(_ > 0).toSet
  }.toMap

  /** Interface metadata rows for [[graft.streaming.Enrichment.withMetadata]]:
    * (exporter_addr, if_index, exporter_name, if_name, if_desc, if_speed,
    * if_connectivity, if_provider, if_boundary).
    */
  val metadataRows: Seq[(Array[Byte], Int, String, String, String, Long,
      String, String, String)] = {
    def row(addr: Array[Byte], name: String, i: Int) =
      (addr, i, name, s"Gi0/$i", s"port $i of $name", if (i % 2 == 0) 100000L else 10000L,
        Connectivity(i % Connectivity.size), Providers(i % Providers.size),
        if (i <= 4) "external" else "internal")
    v5Exporters.flatMap { case (a, n) => (1 to InterfacesPerExporter).map(row(a, n, _)) } ++
      replays.flatMap(r => replayIfs(r.addr).toSeq.sorted.map(i => row(Ip.parse(r.addr), r.name, i.toInt)))
  }

  private val mapped: Set[(String, Long)] =
    metadataRows.map(m => (hex(m._1), m._2.toLong)).toSet

  /** Network attributes for [[graft.streaming.Enrichment.withNetworks]]:
    * one prefix per source or destination block.
    */
  val networks: Seq[graft.functions.Lpm.PrefixEntry] =
    (SrcBlocks ++ DstBlocks).zipWithIndex.map { case (b, i) =>
      graft.functions.Lpm.PrefixEntry(s"$b.0.0/16", Map(
        "name" -> s"net$i", "role" -> (if (i % 3 == 0) "customer" else "peer"),
        "site" -> s"site${i % 4}", "region" -> Regions(i % Regions.size),
        "tenant" -> s"tenant${i % 5}", "country" -> Countries(i % Countries.size)))
    }

  /** One ingest batch: the envelopes in receive order plus what the engine
    * must make of them.
    */
  def batch(index: Int, startSec: Long, spanSec: Long, flows: Int = FlowsPerBatch): Batch = {
    val r = new java.util.SplittableRandom(seed * 1000003L + index)
    var seq = index.toLong * 10000000L
    val out = Array.newBuilder[RawEnvelope]
    def add(e: RawEnvelope): Unit = out += e.copy(seq = { seq += 1; seq })
    def env(raw: RawFlow): RawEnvelope = DecodePipeline.envelope(0L, RawFlow.encode(raw))
    def timeAt(frac: Double): Long = startSec + math.min(spanSec - 1, (frac * spanSec).toLong)

    // data before template: a fresh exporter per batch whose first data
    // datagrams arrive before its templates (template_missing), then
    // announces and sends decodable data
    val late = Ip.parse(s"10.202.${index / 250 % 250}.${index % 250 + 1}")
    val lateReplay = replays.head
    val lateEnvs = replayEnvelopes(lateReplay, late, timeAt(0.5), announce = false,
      dataCount = InjectedDrops(Drop.TemplateMissing).toInt) ++
      replayEnvelopes(lateReplay, late, timeAt(0.5), announce = true, dataCount = 4)

    val replayEnvs = replays.map(rp => replayEnvelopes(rp, Ip.parse(rp.addr),
      timeAt(r.nextDouble()), announce = true, dataCount = rp.dataPerBatch))
    val replayFlows = replayEnvs.map(kernelDecode(_).flows.size).sum
    val v5Datagrams = (flows - replayFlows + V5PerDatagram - 1) / V5PerDatagram

    val bad = badEnvelopes(r, timeAt(0.25))
    val weights = (0 until V5Exporters).map(i => if (heavy(i)) HeavyWeight else 1)
    val cumulative = weights.scanLeft(0)(_ + _).tail
    val total = cumulative.last
    var injectedAt = Map.empty[Int, Seq[RawEnvelope]]
    injectedAt += (v5Datagrams / 3) -> bad
    injectedAt += (v5Datagrams / 2) -> lateEnvs
    replayEnvs.zipWithIndex.foreach { case (es, i) =>
      injectedAt += (v5Datagrams * (i + 1) / (replayEnvs.size + 2) + 1) -> es
    }
    var d = 0
    while (d < v5Datagrams) {
      injectedAt.get(d).foreach(_.foreach(add))
      val pick = r.nextInt(total)
      val e = cumulative.indexWhere(_ > pick)
      val t = timeAt(d.toDouble / v5Datagrams)
      add(env(RawFlow(timeReceived = t, payload = v5Datagram(r, e, t, V5PerDatagram),
        sourceAddress = v5Exporters(e)._1, decoder = RawFlow.DecoderNetflow)))
      d += 1
    }
    val envs = out.result()
    Batch(index, envs, expect(envs))
  }

  /** What a correct pipeline stores: the kernel's decode of the batch in
    * each exporter's receive order, then the rate limit, the metadata
    * drop and the validation drop applied row by row.
    */
  private def expect(envs: Array[RawEnvelope]): Expected = {
    val k = kernelDecode(envs)
    val groups = k.flows.groupBy(f => (hex(f.ExporterAddress), f.TimeReceived / TickSec))
    var kept = 0L
    var limited = 0L
    groups.foreach { case ((exp, _), fs) =>
      def keeps(f: graft.decode.DecodedFlow): Boolean =
        (mapped((exp, f.InIf)) || mapped((exp, f.OutIf))) && f.SamplingRate > 0 && f.Packets > 0
      if (fs.size <= RateLimitPerTick) kept += fs.count(keeps)
      else {
        // the generator puts droppable flows on light exporters only, so
        // which flows the limiter keeps cannot change the count
        require(fs.forall(keeps), s"over-budget exporter $exp carries droppable flows")
        kept += RateLimitPerTick
        limited += fs.size - RateLimitPerTick
      }
    }
    val drops = Drop.all.map(c => c -> k.drops.getOrElse(c, 0L)).toMap
    require(drops == InjectedDrops,
      s"kernel decode drops $drops differ from the injected $InjectedDrops")
    Expected(envelopes = envs.length.toLong, flows = k.flows.size.toLong,
      keptAfterLimit = k.flows.size.toLong - limited, stored = kept, drops = drops)
  }

  /** A replayed capture's datagrams (templates first when `announce`),
    * unnumbered: [[batch]] numbers every envelope in receive order.
    */
  private def replayEnvelopes(rp: Replay, source: Array[Byte], t: Long,
      announce: Boolean, dataCount: Int): Seq[RawEnvelope] = {
    def wrap(payload: Array[Byte]) = DecodePipeline.envelope(0L, RawFlow.encode(RawFlow(
      timeReceived = t, payload = payload, sourceAddress = source,
      useSourceAddress = rp.decoder == RawFlow.DecoderSflow, decoder = rp.decoder)))
    val ann = if (announce) rp.announce.flatMap(pcap).map(wrap) else Nil
    val data = pcap(rp.data).map(wrap)
    ann ++ Iterator.continually(data).flatten.take(dataCount).toSeq
  }

  /** The injected bad datagrams, one group per decode drop cause. */
  private def badEnvelopes(r: java.util.SplittableRandom, t: Long): Seq[RawEnvelope] = {
    def n(c: String) = InjectedDrops(c).toInt
    val src = v5Exporters(0)._1
    def nf(payload: Array[Byte], source: Array[Byte] = src, decap: Int = 0, decoder: Int =
        RawFlow.DecoderNetflow) = DecodePipeline.envelope(0L, RawFlow.encode(RawFlow(
      timeReceived = t, payload = payload, sourceAddress = source, decoder = decoder,
      decapsulationProtocol = decap)))
    val light = (0 until V5Exporters).find(i => !heavy(i)).get
    Seq.fill(n(Drop.MalformedEnvelope))(RawEnvelope("", 0L, Array[Byte](0x08, 0x80.toByte))) ++
      Seq.fill(n(Drop.BadSource))(nf(v5Datagram(r, light, t, 2), source = Array[Byte](10, 0, 1))) ++
      Seq.fill(n(Drop.MalformedDatagram))(nf(Array[Byte](0, 7, 0, 0))) ++
      Seq.fill(n(Drop.NonEncap))(nf(v5Datagram(r, light, t, 2), decap = RawFlow.DecapVxlan)) ++
      Seq.fill(n(Drop.UnknownDecoder))(nf(Array[Byte](1, 2, 3), decoder = 9))
  }

  /** A NetFlow v5 datagram of `count` records from exporter `e`. */
  private def v5Datagram(r: java.util.SplittableRandom, e: Int, t: Long, count: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(24 + 48 * count)
    b.putShort(5.toShort).putShort(count.toShort).putInt(3600000).putInt(t.toInt).putInt(0)
      .putInt(0).put(0.toByte).put(0.toByte).putShort(SamplingInterval.toShort)
    var i = 0
    while (i < count) {
      val droppable = !heavy(e)
      val u = r.nextDouble()
      val noIf = droppable && u < 0.01
      val empty = droppable && u >= 0.01 && u < 0.015
      val inIf = if (noIf) UnmappedIf else 1 + skewed(r, InterfacesPerExporter)
      val outIf = if (noIf) UnmappedIf else 1 + skewed(r, InterfacesPerExporter)
      val pkts = if (empty) 0 else 1 + skewed(r, 200)
      val size = 64 + skewed(r, 1400)
      b.putInt(address(SrcBlocks(skewed(r, SrcBlocks.size)), skewed(r, 4096)))
        .putInt(address(DstBlocks(skewed(r, DstBlocks.size)), skewed(r, 1024)))
        .putInt(address(DstBlocks(0), 1))
        .putShort(inIf.toShort).putShort(outIf.toShort)
        .putInt(pkts).putInt(pkts * size).putInt(0).putInt(0)
        .putShort((1024 + r.nextInt(60000)).toShort)
        .putShort(Ports(skewed(r, Ports.size)).toShort)
        .put(0.toByte).put(0x18.toByte).put((if (r.nextInt(5) == 0) 17 else 6).toByte).put(0.toByte)
        .putShort(Asns(skewed(r, Asns.size)).toShort).putShort(Asns(skewed(r, Asns.size)).toShort)
        .put(24.toByte).put(24.toByte).putShort(0.toShort)
      i += 1
    }
    b.array()
  }

  /** The console request mix over a store holding flow time
    * [`storeStart`, `storeStart + storeSpan`): a fixed cycle of 16 request
    * kinds. The kind, the range shape, the dimensions and the graph filter
    * of each slot rotate with the cycle number, not the seed, so every run
    * asks for work of the same cost; the seed picks the time ranges, the
    * filters sent to validation and the completion prefixes. One request in four repeats the body of an earlier
    * graph request; every other request carries its own sequence number, so
    * only those repeats can hit the response cache. `line-check` requests
    * have no dimension and a range that is a whole number of points, so
    * Σ xps·interval must equal the stored Σ Bytes·SamplingRate·8.
    */
  def consoleMix(n: Int, storeStart: Long, storeSpan: Long, stream: Long): IndexedSeq[Request] = {
    val r = new java.util.SplittableRandom(seed * 31L + stream)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    // (points, range seconds): routes to flows, flows_1m, flows_5m, flows_1h
    val shapes = Seq((100, 3000L), (100, 6000L), (100, 30000L), (24, 86400L))
    def range(shape: (Int, Long), lead: Long = 0L): (Long, Long) = {
      val hours = (storeSpan - shape._2 - lead) / 3600
      val start = storeStart + lead + 3600L * (1 + r.nextInt(hours.toInt - 1))
      (start, start + shape._2)
    }
    def iso(t: Long) = java.time.Instant.ofEpochSecond(t).toString
    def strs(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    def span(s: Long, e: Long) = s""""start":"${iso(s)}","end":"${iso(e)}""""
    def line(i: Int, shape: (Int, Long), dims: Seq[String], filter: String, extra: String,
        lead: Long = 0L) = {
      val (s, e) = range(shape, lead)
      s"""{${span(s, e)},"points":${shape._1},"dimensions":${strs(dims)},"limit":10,""" +
        s""""filter":"$filter","units":"l3bps"$extra,"seq":$i}"""
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Request]
    (0 until n).foreach { i =>
      val c = i / CycleLength
      def rot[T](xs: Seq[T]): T = xs(c % xs.size)
      def graph(kind: String, path: String, body: String, check: Boolean = false) =
        Request(kind, "POST", path, body, fresh = true, check = check)
      def widget(kind: String, path: String) =
        Request(kind, "GET", path, s"""{"seq":$i}""", fresh = true, check = false)
      out += (i % CycleLength match {
        case 0 => graph("line-check", LinePath, line(i, rot(shapes), Nil, "", ""), check = true)
        case 1 =>
          val (s, e) = range(shapes(2))
          graph("sankey", SankeyPath, s"""{${span(s, e)},"dimensions":${strs(rot(SankeyDims))},""" +
            s""""limit":10,"units":"l3bps","seq":$i}""")
        case 2 => widget("widget-top", s"/api/v0/console/widget/top/${rot(TopWidgets)}")
        case 4 => graph("line", LinePath,
          line(i, shapes(1), Seq(rot(BidirDims)), "", ""","bidirectional":true"""))
        case 5 => Request("filter-validate", "POST", "/api/v0/console/filter/validate",
          s"""{"filter":"${pick(Filters ++ BadFilters)}","seq":$i}""", fresh = false, check = false)
        case 6 => widget("widget-graph", s"/api/v0/console/widget/graph?points=${rot(Seq(100, 200))}")
        case 8 => graph("line", LinePath, line(i, shapes(3), Seq(rot(LineDims)), "",
          ""","previous-period":true""", lead = 86400L))
        case 9 => widget("widget-rate", rot(Seq("/api/v0/console/widget/flow-rate",
          "/api/v0/console/widget/flow-last")))
        case 10 => graph("line", LinePath,
          line(i, shapes(0), Seq(rot(Seq("DstPort", "SrcPort"))), rot(MainOnlyFilters), ""))
        case 12 => widget("widget-exporters", "/api/v0/console/widget/exporters")
        case 13 => Request("filter-complete", "POST", "/api/v0/console/filter/complete",
          s"""{"what":"${pick(Completions)}","seq":$i}""", fresh = false, check = false)
        case 14 => graph("line", LinePath,
          line(i, shapes(2), Seq(rot(LineDims.reverse)), rot(Filters), ""))
        case _ =>
          val earlier = out.filter(q => q.method == "POST" && q.fresh)
          earlier(r.nextInt(earlier.size)).copy(kind = "repeat", fresh = false, check = false)
      })
    }
    out.toIndexedSeq
  }

  /** Documents for the release workload: (doc_id, text, lang, source,
    * n_chars). A fifth are near copies of an earlier document with one to
    * three words changed, so the release finds real clusters.
    */
  def documents(n: Int): IndexedSeq[(Long, String, String, String, Long)] = {
    val r = new java.util.SplittableRandom(seed ^ 0xd0c5L)
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).map { i =>
      val words =
        if (i > 10 && r.nextInt(5) == 0) {
          val w = texts(r.nextInt(texts.size)).clone()
          (0 to r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = Vocabulary(r.nextInt(Vocabulary.size)))
          w
        } else Array.fill(15 + r.nextInt(45))(Vocabulary(skewed(r, Vocabulary.size)))
      texts += words
      val text = words.mkString(" ")
      (i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(5)}", text.length.toLong)
    }
  }
}

object Gen {
  val V5Exporters = 64
  val HeavyExporters = 4
  val HeavyWeight = 10
  val InterfacesPerExporter = 8
  val UnmappedIf = 99
  val V5PerDatagram = 30
  val SamplingInterval = 1000
  val FlowsPerBatch = 10000
  /** Flow time one ingest batch covers: one rate-limit tick. */
  val BatchSpanSec = 60L
  val TickSec = 60L
  val RateLimitPerTick = 400L
  /** Flow time of the first batch: 2024-03-01T00:00:00Z. */
  val T0 = 1709251200L

  /** One console request; `fresh` marks a graph or widget request that
    * must miss the response cache, `check` a line request whose sum is
    * checked against the store.
    */
  final case class Request(kind: String, method: String, path: String, body: String,
      fresh: Boolean, check: Boolean)

  /** Requests in one cycle of the console mix. */
  val CycleLength = 16
  val LinePath = "/api/v0/console/graph/line"
  val SankeyPath = "/api/v0/console/graph/sankey"
  private val LineDims = Seq("ExporterName", "SrcAS", "DstAS", "InIfName", "OutIfName",
    "InIfProvider", "SrcCountry", "DstCountry", "Proto", "SrcNetName", "DstNetRegion",
    "ExporterRole")
  private val BidirDims = Seq("SrcAS", "SrcCountry", "InIfProvider", "InIfName")
  private val SankeyDims = Seq(Seq("SrcAS", "DstAS"), Seq("ExporterName", "InIfProvider"),
    Seq("SrcCountry", "DstCountry"), Seq("InIfConnectivity", "Proto"))
  private val TopWidgets = Seq("src-as", "dst-as", "src-country", "dst-country", "exporter",
    "protocol", "etype", "src-port", "dst-port")
  private val Filters = Seq("InIfBoundary = external", "SrcAS = 64507", "DstCountry = 'FR'",
    "ExporterRole = 'edge'", "InIfBoundary = external AND Proto = 'TCP'")
  private val MainOnlyFilters = Seq("SrcPort >= 1024", "DstPort = 443")
  private val BadFilters = Seq("SrcAS ==", "Proto = ", "NoSuchColumn = 1")
  private val Completions = Seq("SrcCo", "Proto ", "InIfBoundary = ", "Exporter", "DstP")

  /** Bad datagrams injected per batch, by decode drop cause. */
  val InjectedDrops: Map[String, Long] = Map(
    Drop.MalformedEnvelope -> 5L, Drop.BadSource -> 3L, Drop.MalformedDatagram -> 4L,
    Drop.TemplateMissing -> 2L, Drop.NonEncap -> 3L, Drop.UnknownDecoder -> 2L)

  private val SrcBlocks = Seq("100.64", "100.65", "100.66", "100.67", "100.68", "100.69",
    "100.70", "100.71")
  private val DstBlocks = Seq("198.18", "198.19", "203.0", "192.88")
  private val Ports = Seq(443, 80, 53, 22, 25, 123, 8080, 3306, 5432, 993, 1194, 3478)
  private val Asns = (0 until 40).map(64500 + _ * 7)
  private val Connectivity = Seq("transit", "pni", "ix", "core")
  private val Providers = Seq("telia", "cogent", "lumen", "zayo")
  private val Regions = Seq("eu", "us", "apac")
  private val Countries = Seq("FR", "DE", "US", "JP", "BR", "NL")
  private val Langs = Seq("en", "fr", "de", "zh")
  private val Vocabulary = Seq("spark", "flow", "batch", "stream", "query", "table", "column",
    "row", "scan", "filter", "join", "group", "sort", "hash", "key", "value", "window", "merge",
    "data", "line", "order", "part", "fast", "slow", "small", "big", "agg", "vector", "index",
    "page", "file", "block", "cache", "store", "route", "port", "packet", "exporter", "sample",
    "rate")

  final case class Replay(addr: String, name: String, decoder: Int, announce: Seq[String],
      data: String, dataPerBatch: Int)

  /** What the engine must produce from one batch. */
  final case class Expected(envelopes: Long, flows: Long, keptAfterLimit: Long, stored: Long,
      drops: Map[String, Long])

  final case class Batch(index: Int, envelopes: Array[RawEnvelope], expected: Expected)

  final case class KernelResult(flows: Seq[graft.decode.DecodedFlow], drops: Map[String, Long])

  private val pcapCache = new java.util.concurrent.ConcurrentHashMap[String, Seq[Array[Byte]]]()
  private def pcap(name: String): Seq[Array[Byte]] = pcapCache.computeIfAbsent(name,
    n => Pcap.datagrams(Pcap.readResource(s"/graft/pcap/$n.pcap")).map(_.payload))

  /** Single-thread decode with the engine's kernel, each exporter's
    * envelopes in receive order, as the stateful stream decode sees them.
    */
  def kernelDecode(envs: Seq[RawEnvelope]): KernelResult = {
    val flows = Seq.newBuilder[graft.decode.DecodedFlow]
    val drops = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    envs.groupBy(_.exporter).foreach { case (_, es) =>
      var st = TemplateState.empty
      es.sortBy(_.seq).foreach { e =>
        val (s2, outs) = DecodePipeline.decodeOneCounted(st, e.data)
        st = s2
        outs.foreach(o => if (o.dropCause == null) flows += o.flow else drops(o.dropCause) += 1)
      }
    }
    KernelResult(flows.result(), drops.toMap)
  }

  /** An index into [0, n), drawn from the lower end more often. */
  private def skewed(r: java.util.SplittableRandom, n: Int): Int = {
    val u = r.nextDouble()
    math.min(n - 1, (u * u * u * n).toInt)
  }

  private def address(block: String, host: Int): Int = {
    val Array(a, b) = block.split('.').map(_.toInt)
    (a << 24) | (b << 16) | ((host >> 8) & 0xff) << 8 | (host & 0xff)
  }

  def hex(a: Array[Byte]): String = a.map(b => f"${b & 0xff}%02x").mkString

  /** Digest of a byte stream, for the determinism check. */
  def digest(chunks: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    chunks.foreach(md.update)
    hex(md.digest())
  }
}
