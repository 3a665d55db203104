package graft.decode

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Ip

/** Golden decoder tests ported from the reference suite
  * (`outlet/flow/decoder/netflow/root_test.go`, `sflow/root_test.go`):
  * the pcap fixtures under `/graft/pcap/` are the reference's own captures
  * and the expected flows below are its published expectations.
  */
class DecoderSpec extends AnyFunSuite {

  private def pcap(name: String): Array[Byte] =
    Pcap.l4(Pcap.readResource(s"/graft/pcap/$name.pcap"))

  private val localhost = Ip.parse("127.0.0.1")

  private def ip(s: String): Array[Byte] = Ip.parse(s)

  /** Run payloads through the netflow decoder in order, threading state;
    * `clearTs` mirrors the reference test's finalize that zeroes
    * TimeReceived for input-timestamp tests.
    */
  private def run(names: Seq[String], options: DecodeOptions,
      clearTs: Boolean = true, ts: Long = 0L): Seq[DecodedFlow] = {
    var state = TemplateState.empty
    val out = Seq.newBuilder[DecodedFlow]
    names.foreach { n =>
      val r = NetflowDecoder.decode(pcap(n), localhost, ts, options, state)
      assert(r.error.isEmpty, s"$n: ${r.error}")
      state = r.state
      out ++= r.flows
    }
    val flows = out.result()
    if (clearTs) flows.map(_.copy(TimeReceived = 0L)) else flows
  }

  private def baseline = DecodedFlow(
    TimeReceived = 0L, SamplingRate = 0L, ExporterAddress = localhost,
    InIf = 0, OutIf = 0, SrcAddr = null, DstAddr = null, NextHop = null,
    SrcNetMask = 0, DstNetMask = 0, SrcAS = 0, DstAS = 0, SrcVlan = 0,
    DstVlan = 0, Bytes = 0, Packets = 0, EType = 0, Proto = 0, SrcPort = 0,
    DstPort = 0, ForwardingStatus = 0, FlowDirection = 0, TCPFlags = 0,
    IPTos = 0, IPTTL = 0, IPFragmentID = 0, IPFragmentOffset = 0,
    IPv6FlowLabel = 0, ICMPv4Type = 0, ICMPv4Code = 0, ICMPv6Type = 0,
    ICMPv6Code = 0, SrcMAC = 0, DstMAC = 0, MPLSLabels = Nil, DstASPath = Nil,
    DstCommunities = Nil, SrcAddrNAT = null, DstAddrNAT = null,
    SrcPortNAT = 0, DstPortNAT = 0, IngressVRFID = 0, EgressVRFID = 0)

  private def assertFlows(got: Seq[DecodedFlow], want: Seq[DecodedFlow]): Unit = {
    assert(got.length == want.length,
      s"flow count ${got.length} != ${want.length}")
    // byte arrays break case-class equality; compare rendered copies
    def render(f: DecodedFlow): String = f.copy(
      ExporterAddress = null, SrcAddr = null, DstAddr = null, NextHop = null,
      SrcAddrNAT = null, DstAddrNAT = null).toString +
      Seq(f.ExporterAddress, f.SrcAddr, f.DstAddr, f.NextHop, f.SrcAddrNAT,
        f.DstAddrNAT).map(b => if (b == null) "-" else Ip.render(b)).mkString("|")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(render(g) == render(w), s"flow $i")
    }
  }

  // reference root_test.go:43-256 — options template + option data set the
  // sampling rate, then template + data yield 4 flows
  test("netflow v9: templates, options and data") {
    val got = run(Seq("options-template", "options-data", "template", "data"),
      DecodeOptions(DecodeOptions.TsInput))
    val t = baseline.copy(
      SamplingRate = 30000, SrcNetMask = 24, DstNetMask = 14,
      Bytes = 1500, Packets = 1, EType = 0x0800, Proto = 6, SrcPort = 443,
      ForwardingStatus = 64, FlowDirection = 1, TCPFlags = 16,
      IngressVRFID = 1610612738, EgressVRFID = 1610612738)
    assertFlows(got, Seq(
      t.copy(SrcAddr = ip("198.38.121.178"), DstAddr = ip("91.170.143.87"),
        NextHop = ip("194.149.174.63"), InIf = 335, OutIf = 450, DstPort = 19624),
      t.copy(SrcAddr = ip("198.38.121.219"), DstAddr = ip("88.122.57.97"),
        NextHop = ip("194.149.174.71"), InIf = 335, OutIf = 452, DstPort = 2444),
      t.copy(SrcAddr = ip("173.194.190.106"), DstAddr = ip("37.165.129.20"),
        NextHop = ip("252.223.0.0"), InIf = 461, OutIf = 306, DstPort = 53697,
        SrcNetMask = 20, DstNetMask = 18, Bytes = 1400, EgressVRFID = 1610612736),
      t.copy(SrcAddr = ip("74.125.100.234"), DstAddr = ip("88.120.219.117"),
        NextHop = ip("194.149.174.61"), InIf = 461, OutIf = 451, DstPort = 52300,
        SrcNetMask = 16, DstNetMask = 14, Bytes = 1448)))
  }

  // root_test.go:283-327 — in-record samplingInterval field
  test("netflow v9: sampling rate from data record") {
    val got = run(Seq("samplingrate-template", "samplingrate-data"),
      DecodeOptions(DecodeOptions.TsInput))
    assert(got.nonEmpty)
    assertFlows(got.take(1), Seq(baseline.copy(
      SamplingRate = 2048, SrcAddr = ip("232.131.215.65"),
      DstAddr = ip("142.183.180.65"), InIf = 13, SrcVlan = 701,
      NextHop = ip("0.0.0.0"), Packets = 1, Bytes = 160, Proto = 6,
      SrcPort = 13245, DstPort = 10907, EType = 0x0800, FlowDirection = 1)))
  }

  // root_test.go:329-421 — two samplers with distinct rates, selected per
  // record by samplerId
  test("netflow v9: multiple sampling rates") {
    val got = run(Seq("multiplesamplingrates-options-template",
      "multiplesamplingrates-options-data", "multiplesamplingrates-template",
      "multiplesamplingrates-data"), DecodeOptions(DecodeOptions.TsInput))
    assert(got.length == 12)
    val t = baseline.copy(
      EType = 0x86dd, FlowDirection = 1, ForwardingStatus = 64,
      IngressVRFID = 1610612736, EgressVRFID = 1610612736)
    assertFlows(got.take(2), Seq(
      t.copy(SamplingRate = 4000, SrcAddr = ip("ffff::68"), DstAddr = ip("ffff::1a"),
        NextHop = ip("ffff::2"), SrcNetMask = 48, DstNetMask = 56, InIf = 97,
        OutIf = 6, Packets = 18, Bytes = 1348, Proto = 6, SrcPort = 443,
        DstPort = 52616, IPTTL = 127, IPTos = 64, IPv6FlowLabel = 252813,
        TCPFlags = 16),
      t.copy(SamplingRate = 2000, SrcAddr = ip("ffff::5a"), DstAddr = ip("ffff::f"),
        NextHop = ip("ffff::3c"), SrcNetMask = 36, DstNetMask = 48, InIf = 103,
        OutIf = 6, Packets = 4, Bytes = 579, Proto = 17, SrcPort = 2121,
        DstPort = 2121, IPTTL = 57, IPTos = 40, IPv6FlowLabel = 570164)))
  }

  // root_test.go:554-570 — data before template yields no flows, keeps state
  test("netflow v9: data without template is dropped and counted") {
    val r = NetflowDecoder.decode(pcap("data"), localhost, 0L,
      DecodeOptions(DecodeOptions.TsInput), TemplateState.empty)
    assert(r.flows.isEmpty)
    assert(r.templatesMissing)
    assert(r.state.recordsDropped == 1)
  }

  // a template id the exporter re-announces with a different field layout
  // replaces the earlier one: later data decodes with the new layout
  test("netflow v9: a re-announced template replaces the earlier layout") {
    def u16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def u32(v: Long): Array[Byte] = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def datagram(sets: Array[Byte]*): Array[Byte] =
      u16(9) ++ u16(sets.length) ++ u32(0) ++ u32(1700000000L) ++ u32(1) ++
        u32(0) ++ sets.flatten
    // template set (id 0) announcing template 256 with (type, length) pairs
    def template(fields: (Int, Int)*): Array[Byte] =
      u16(0) ++ u16(8 + 4 * fields.length) ++ u16(256) ++ u16(fields.length) ++
        fields.flatMap { case (t, l) => u16(t) ++ u16(l) }
    def data(rec: Array[Byte]): Array[Byte] =
      u16(256) ++ u16(4 + rec.length) ++ rec
    val opts = DecodeOptions(DecodeOptions.TsInput)
    // v1: IN_BYTES(1)/4, PROTOCOL(4)/1, IPV4_SRC_ADDR(8)/4
    val v1 = NetflowDecoder.decode(datagram(template(1 -> 4, 4 -> 1, 8 -> 4)),
      localhost, 0L, opts, TemplateState.empty)
    val old = NetflowDecoder.decode(
      datagram(data(u32(100) ++ Array(6.toByte) ++ Array[Byte](10, 0, 0, 1))),
      localhost, 0L, opts, v1.state)
    assert(old.flows.map(f => (f.Bytes, f.Proto, Ip.render(f.SrcAddr))) ==
      Seq((100L, 6L, "10.0.0.1")))
    // v2 under the same id: IPV4_SRC_ADDR(8)/4, IN_BYTES(1)/4, L4_DST_PORT(11)/2
    val v2 = NetflowDecoder.decode(datagram(template(8 -> 4, 1 -> 4, 11 -> 2)),
      localhost, 0L, opts, old.state)
    val r = NetflowDecoder.decode(
      datagram(data(Array[Byte](10, 0, 0, 9) ++ u32(500) ++ u16(443))),
      localhost, 0L, opts, v2.state)
    assert(r.error.isEmpty && !r.templatesMissing)
    assert(r.flows.map(f => (f.Bytes, f.Proto, f.DstPort,
      Ip.render(f.SrcAddr))) == Seq((500L, 0L, 443, "10.0.0.9")))
  }

  // root.go:141-147 — ErrorTemplateNotFound aborts the WHOLE datagram:
  // a datagram mixing decodable data sets with an unknown-template set
  // yields zero flows, not just a skipped set; templates stay registered
  test("netflow v9: unknown template in a mixed datagram drops all its flows") {
    val withTemplate = NetflowDecoder.decode(pcap("template"), localhost, 0L,
      DecodeOptions(DecodeOptions.TsInput), TemplateState.empty)
    val data = pcap("data")
    val clean = NetflowDecoder.decode(data, localhost, 0L,
      DecodeOptions(DecodeOptions.TsInput), withTemplate.state)
    assert(clean.flows.nonEmpty && !clean.templatesMissing)
    // append a data flowset for an unseen template id 0x1234:
    // u16 setId, u16 setLen=8, 4 payload bytes
    val unknown = Array[Byte](0x12, 0x34, 0x00, 0x08, 1, 2, 3, 4)
    val r = NetflowDecoder.decode(data ++ unknown, localhost, 0L,
      DecodeOptions(DecodeOptions.TsInput), withTemplate.state)
    assert(r.flows.isEmpty, "known-template flows must be dropped too")
    assert(r.templatesMissing)
  }

  // decode.go:174 — RFC 5103 biflow initiatorOctets (231) / responderOctets
  // (232) count as Bytes; first non-zero wins (columnSet guard semantics)
  test("ipfix: initiator/responder octets map to Bytes") {
    def u16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def u32(v: Long): Array[Byte] = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    // template 256: initiatorOctets(4), responderOctets(4), packets(4),
    // proto(1), srcIPv4(4), dstIPv4(4)
    val tmpl = u16(2) ++ u16(4 + 4 + 6 * 4) ++ u16(256) ++ u16(6) ++
      u16(231) ++ u16(4) ++ u16(232) ++ u16(4) ++ u16(2) ++ u16(4) ++
      u16(4) ++ u16(1) ++ u16(8) ++ u16(4) ++ u16(12) ++ u16(4)
    val rec1 = u32(1000) ++ u32(2000) ++ u32(3) ++ Array(6.toByte) ++
      Array[Byte](10, 0, 0, 1) ++ Array[Byte](10, 0, 0, 2)
    val rec2 = u32(0) ++ u32(777) ++ u32(1) ++ Array(17.toByte) ++
      Array[Byte](10, 0, 0, 3) ++ Array[Byte](10, 0, 0, 4)
    val data = u16(256) ++ u16(4 + rec1.length + rec2.length) ++ rec1 ++ rec2
    val body = tmpl ++ data
    val payload = u16(10) ++ u16(16 + body.length) ++ u32(1700000000L) ++
      u32(1) ++ u32(0) ++ body
    val r = NetflowDecoder.decode(payload, localhost, 42L,
      DecodeOptions(DecodeOptions.TsInput), TemplateState.empty)
    assert(r.error.isEmpty, r.error)
    // initiator wins when both present; responder fills in when initiator=0
    assert(r.flows.map(_.Bytes) == Seq(1000L, 777L))
    assert(r.flows.map(_.Packets) == Seq(3L, 1L))
  }

  // root_test.go:633-687 — NetFlow v5, all three timestamp sources
  test("netflow v5 decode") {
    for (tsSource <- Seq(DecodeOptions.TsNetflowPacket, DecodeOptions.TsNetflowFirstSwitched)) {
      val got = run(Seq("nfv5"), DecodeOptions(tsSource), clearTs = false)
      val ts = if (tsSource == DecodeOptions.TsNetflowFirstSwitched) 1680611679L
        else 1680626679L
      assertFlows(got.take(1), Seq(baseline.copy(
        TimeReceived = ts, SamplingRate = 1,
        SrcAddr = ip("161.202.212.212"), DstAddr = ip("202.152.70.24"),
        NextHop = ip("61.6.255.150"), InIf = 117, OutIf = 86,
        SrcAS = 36351, DstAS = 10101, SrcNetMask = 19, DstNetMask = 24,
        Bytes = 133, Packets = 1, EType = 0x0800, Proto = 6,
        SrcPort = 30104, DstPort = 11963, TCPFlags = 0x18)))
    }
  }

  // root_test.go:688-758 — packet/first-switched timestamp selection
  test("netflow v9: timestamp sources") {
    val fromPacket = run(Seq("template", "data"),
      DecodeOptions(DecodeOptions.TsNetflowPacket), clearTs = false)
    assert(fromPacket.map(_.TimeReceived) ==
      Seq(1647285928L, 1647285928L, 1647285928L, 1647285928L))

    val fromFirstSwitched = run(Seq("template", "data"),
      DecodeOptions(DecodeOptions.TsNetflowFirstSwitched), clearTs = false)
    val packetTS = 1647285928L
    val sysUptime = 944951609L
    val expected = Seq(944948659L, 944948659L, 944948660L, 944948661L)
      .map(fs => packetTS - sysUptime + fs)
    assert(fromFirstSwitched.map(_.TimeReceived) == expected)
  }

  // root_test.go:839-976 — RFC 5103 biflows: forward + reverse records,
  // reverse-empty halves dropped, appends landing on direction twins
  test("ipfix: RFC 5103 biflow split") {
    val got = run(Seq("ipfixprobe-templates", "ipfixprobe-data"),
      DecodeOptions(DecodeOptions.TsInput))
    val t = baseline.copy(EType = 0x0800)
    val want = Seq(
      // first biflow, direct
      t.copy(InIf = 10, SrcAddr = ip("10.10.1.4"), DstAddr = ip("10.10.1.1"),
        SrcMAC = 0xe01c3c17c2L, DstMAC = 0x1f33d98160L, Packets = 1,
        Bytes = 62, SrcPort = 56166, DstPort = 53, Proto = 17),
      // first biflow, reverse
      t.copy(OutIf = 10, SrcAddr = ip("10.10.1.1"), DstAddr = ip("10.10.1.4"),
        DstMAC = 0xe01c3c17c2L, SrcMAC = 0x1f33d98160L, Packets = 1,
        Bytes = 128, DstPort = 56166, SrcPort = 53, Proto = 17),
      // second biflow, direct only (reverse packets == 0)
      t.copy(InIf = 10, SrcAddr = ip("10.10.1.20"), DstAddr = ip("10.10.1.255"),
        SrcMAC = 0x23fec6111L, DstMAC = 0xffffffffffffL, Packets = 1,
        Bytes = 229, SrcPort = 138, DstPort = 138, Proto = 17),
      // third biflow, direct
      t.copy(InIf = 10, SrcAddr = ip("10.10.1.4"), DstAddr = ip("74.53.140.153"),
        SrcMAC = 0xe01c3c17c2L, DstMAC = 0x1f33d98160L, Packets = 28,
        Bytes = 21673, SrcPort = 1470, DstPort = 25, Proto = 6, TCPFlags = 0x1b),
      // third biflow, reverse
      t.copy(OutIf = 10, SrcAddr = ip("74.53.140.153"), DstAddr = ip("10.10.1.4"),
        SrcMAC = 0x1f33d98160L, DstMAC = 0xe01c3c17c2L, Packets = 25,
        Bytes = 1546, SrcPort = 25, DstPort = 1470, Proto = 6, TCPFlags = 0x1b),
      // last biflow, direct only, ICMP
      t.copy(InIf = 10, SrcAddr = ip("192.168.1.1"), DstAddr = ip("10.10.1.4"),
        SrcMAC = 0x1f33d98160L, DstMAC = 0xe01c3c17c2L, Packets = 4,
        Bytes = 2304, Proto = 1))
    assertFlows(got, want)
  }

  // sflow/root_test.go:35-210 — 5 samples: raw-header IPv6, raw-header
  // IPv4 + extended router/gateway (AS path, communities)
  test("sflow v5 decode") {
    val r = SflowDecoder.decode(pcap("sflow-data-1140"), 0L, DecodeOptions())
    assert(r.error.isEmpty)
    val agent = ip("172.16.0.3")
    val v6flow = baseline.copy(
      ExporterAddress = agent, SamplingRate = 1024, InIf = 27, OutIf = 28,
      SrcVlan = 100, DstVlan = 100,
      SrcAddr = ip("2a0c:8880:2:0:185:21:130:38"),
      DstAddr = ip("2a0c:8880:2:0:185:21:130:39"),
      Bytes = 1500, Packets = 1, EType = 0x86dd, Proto = 6, SrcPort = 46026,
      DstPort = 22, SrcMAC = 40057391053392L, DstMAC = 40057381862408L,
      IPTTL = 64, IPTos = 0x8, IPv6FlowLabel = 0x68094, TCPFlags = 0x10)
    val want = Seq(
      v6flow,
      baseline.copy(
        ExporterAddress = agent, SamplingRate = 1024,
        SrcAddr = ip("104.26.8.24"), DstAddr = ip("45.90.161.46"),
        NextHop = ip("45.90.161.46"), InIf = 49001, OutIf = 25, DstVlan = 100,
        SrcAS = 13335, DstAS = 39421, SrcNetMask = 20, DstNetMask = 27,
        Bytes = 421, Packets = 1, EType = 0x0800, Proto = 6, SrcPort = 443,
        DstPort = 56876, SrcMAC = 216372595274807L, DstMAC = 191421060163210L,
        IPFragmentID = 0xa572, IPTTL = 59, TCPFlags = 0x18),
      v6flow,
      baseline.copy(
        ExporterAddress = agent, SamplingRate = 1024, InIf = 28, OutIf = 49001,
        SrcVlan = 100, SrcAS = 39421, DstAS = 26615,
        SrcAddr = ip("45.90.161.148"), DstAddr = ip("191.87.91.27"),
        NextHop = ip("31.14.69.110"), SrcNetMask = 27, DstNetMask = 17,
        Bytes = 40, Packets = 1, EType = 0x0800, Proto = 6, SrcPort = 55658,
        DstPort = 5555, SrcMAC = 138617863011056L, DstMAC = 216372595274807L,
        DstASPath = Seq(203698L, 6762L, 26615L),
        DstCommunities = Seq(2583495656L, 2583495657L, 4259880000L,
          4259880001L, 4259900001L),
        IPFragmentID = 0xd431, IPTTL = 255, TCPFlags = 0x2),
      v6flow)
    assertFlows(r.flows, want)
  }

  test("pcap reader honors the UDP length over Ethernet trailer padding") {
    // 60-byte minimum Ethernet frame: 4-byte UDP payload + 14 bytes of
    // trailer padding the capture includes — the padding must not leak
    val payload = Array[Byte](0xde.toByte, 0xad.toByte, 0xbe.toByte, 0xef.toByte)
    val udp = Array[Byte](0x04, 0x00, 0x08, 0x00, 0, 12, 0, 0) ++ payload
    val ipv4 = Array[Byte](0x45, 0, 0, (20 + udp.length).toByte, 0, 0, 0, 0,
      64, 17, 0, 0, 10, 0, 0, 1, 10, 0, 0, 2) ++ udp
    val eth = new Array[Byte](12) ++ Array[Byte](0x08, 0x00) ++ ipv4
    val frame = eth ++ new Array[Byte](60 - eth.length) // trailer padding
    val pcapBytes =
      Array[Byte](0xa1.toByte, 0xb2.toByte, 0xc3.toByte, 0xd4.toByte) ++
        new Array[Byte](20) ++ // rest of global header
        Array[Byte](0, 0, 0, 1, 0, 0, 0, 0) ++ // ts
        Array[Byte](0, 0, 0, frame.length.toByte) ++ // incl_len
        Array[Byte](0, 0, 0, frame.length.toByte) ++ // orig_len
        frame
    val ds = Pcap.datagrams(pcapBytes)
    assert(ds.length == 1)
    assert(ds.head.payload.toSeq == payload.toSeq)
  }

  test("malformed datagrams yield errors, not exceptions") {
    // sFlow v5, IPv6 agent type, truncated before the address completes
    val truncated = Array[Byte](0, 0, 0, 5, 0, 0, 0, 2) ++ new Array[Byte](20)
    val r = SflowDecoder.decode(truncated, 0L, DecodeOptions())
    assert(r.flows.isEmpty)
    // either the bounds guard or the malformed-catch fires; never a throw
    val garbage = Array.tabulate[Byte](64)(i => (i * 37).toByte)
    assert(SflowDecoder.decode(
      Array[Byte](0, 0, 0, 5) ++ garbage, 0L, DecodeOptions()).flows.isEmpty)
    val nf = NetflowDecoder.decode(Array[Byte](0, 9) ++ garbage.take(30),
      localhost, 0L, DecodeOptions(), TemplateState.empty)
    assert(nf.flows.isEmpty)
  }

  test("field-3 scan matches the full envelope decode") {
    val m = RawFlow(timeReceived = 7L, payload = Array[Byte](1, 2, 3),
      sourceAddress = localhost, decoder = RawFlow.DecoderNetflow)
    val bytes = RawFlow.encode(m)
    assert(RawFlow.sourceAddressOf(bytes).get.toSeq == localhost.toSeq)
    assert(RawFlow.sourceAddressOf(RawFlow.encode(RawFlow())).isEmpty)
    assert(RawFlow.sourceAddressOf(Array[Byte](0x0a, 0x7f)).isEmpty)
  }

  test("rawflow protobuf round-trip") {
    val m = RawFlow(
      timeReceived = 1680626679L,
      payload = Array[Byte](1, 2, 3, 4, 5),
      sourceAddress = localhost,
      useSourceAddress = true,
      decoder = RawFlow.DecoderNetflow,
      timestampSource = DecodeOptions.TsNetflowPacket,
      decapsulationProtocol = RawFlow.DecapVxlan,
      rateLimit = 1000L)
    val decoded = RawFlow.decode(RawFlow.encode(m))
    assert(decoded.isDefined)
    val d = decoded.get
    assert(d.timeReceived == m.timeReceived)
    assert(d.payload.toSeq == m.payload.toSeq)
    assert(d.sourceAddress.toSeq == m.sourceAddress.toSeq)
    assert(d.useSourceAddress && d.decoder == RawFlow.DecoderNetflow)
    assert(d.timestampSource == DecodeOptions.TsNetflowPacket)
    assert(d.decapsulationProtocol == RawFlow.DecapVxlan)
    assert(d.rateLimit == 1000L)
    // defaults round-trip to an empty buffer (proto3 zero-value omission)
    assert(RawFlow.encode(RawFlow()).isEmpty)
    assert(RawFlow.decode(Array.emptyByteArray).contains(RawFlow()))
    // malformed input is rejected, not thrown
    assert(RawFlow.decode(Array[Byte](0x0a, 0x7f)).isEmpty)
  }
}
