package graft.decode

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Spark integration of the datagram decoders — the engine's ingest chain
  * (reference `outlet/core/worker.go:61-68` → `outlet/flow/decoder.go:21-56`):
  * RawFlow protobuf envelope → NetFlow/sFlow decode → [[DecodedFlow]] rows.
  *
  * Shape: `flatMapGroupsWithState` keyed by the exporter source address.
  * NetFlow v9/IPFIX is stateful (templates + option sampling rates must be
  * seen before data records decode), and hashing by exporter puts each
  * exporter's [[TemplateState]] exactly where its datagrams land — on a
  * 1000-executor cluster templates never broadcast, and the state store
  * checkpoints them for free. sFlow is stateless and passes through the
  * same group function.
  *
  * Works identically on batch Datasets and streams (Spark runs the same
  * group function; state persists across micro-batches in streaming).
  */
object DecodePipeline {

  /** One received datagram envelope: `data` is RawFlow protobuf bytes;
    * `exporter` the routing key (hex source address); `seq` a receive
    * sequence for deterministic in-group ordering (Spark does not preserve
    * row order within a group).
    */
  final case class RawEnvelope(exporter: String, seq: Long, data: Array[Byte])

  /** Decode outcome row: exactly one of `flow` / `dropCause` is set.
    * Dropped envelopes and in-datagram drops surface as rows so
    * per-cause counts ride `observe()` — the Spark analogue of the
    * reference's per-cause Prometheus counters
    * (`outlet/flow/decoder/netflow/root.go:93-216`).
    */
  final case class DecodeOut(flow: DecodedFlow, dropCause: String)

  /** Drop causes reported through [[observed]]. */
  object Drop {
    val MalformedEnvelope = "malformed_envelope" // undecodable RawFlow protobuf
    val BadSource = "bad_source" // envelope source address not 4/16 bytes
    val MalformedDatagram = "malformed_datagram" // decoder returned an error
    val TemplateMissing = "template_missing" // datagram aborted, template not seen
    val NonEncap = "non_encap" // sampled packet carried no decodable inner frame
    val UnknownDecoder = "unknown_decoder"
    val all: Seq[String] = Seq(MalformedEnvelope, BadSource, MalformedDatagram,
      TemplateMissing, NonEncap, UnknownDecoder)
  }

  /** Wrap raw RawFlow protobuf bytes for decoding, extracting the group
    * key from the envelope's source address. Uses the field-3-only scan —
    * no payload copy — so the envelope protobuf is fully decoded exactly
    * once (inside the group function), not twice per datagram.
    */
  def envelope(seq: Long, rawFlowBytes: Array[Byte]): RawEnvelope = {
    val key = RawFlow.sourceAddressOf(rawFlowBytes)
      .map(_.map(b => f"${b & 0xff}%02x").mkString)
      .getOrElse("")
    RawEnvelope(key, seq, rawFlowBytes)
  }

  /** Decode one envelope against the exporter's template state, reporting
    * flows AND per-cause drop rows.
    *
    * The envelope's `rate_limit` field is enforced downstream by
    * [[graft.streaming.RateLimit]] over the decoded stream — a batch
    * engine sees whole ticks, so limiting after decode (one window over
    * the same exporter partitioning) replaces the reference's in-worker
    * token bucket (`outlet/core/worker.go:78-99`).
    */
  def decodeOneCounted(state: TemplateState,
      data: Array[Byte]): (TemplateState, Seq[DecodeOut]) =
    RawFlow.decode(data) match {
      case None => (state, Seq(DecodeOut(null, Drop.MalformedEnvelope)))
      case Some(raw) =>
        val source = Addr.to16(raw.sourceAddress)
        if (source == null) (state, Seq(DecodeOut(null, Drop.BadSource)))
        else {
          val options = DecodeOptions(raw.timestampSource, RawFlow.decapOf(raw.decapsulationProtocol))
          raw.decoder match {
            case RawFlow.DecoderNetflow =>
              val r = NetflowDecoder.decode(raw.payload, source, raw.timeReceived, options, state)
              (r.state, outcomeRows(r.flows, r.error, r.templatesMissing, r.nonEncapDrops))
            case RawFlow.DecoderSflow =>
              val r = SflowDecoder.decode(raw.payload, raw.timeReceived, options)
              val flows =
                if (raw.useSourceAddress) r.flows.map(_.copy(ExporterAddress = source))
                else r.flows
              (state, outcomeRows(flows, r.error, templatesMissing = false, 0L))
            case _ => (state, Seq(DecodeOut(null, Drop.UnknownDecoder)))
          }
        }
    }

  private def outcomeRows(flows: Seq[DecodedFlow], error: Option[String],
      templatesMissing: Boolean, nonEncapDrops: Long): Seq[DecodeOut] = {
    val flowRows = flows.map(DecodeOut(_, null))
    val drops = Seq.newBuilder[DecodeOut]
    if (error.nonEmpty) drops += DecodeOut(null, Drop.MalformedDatagram)
    else if (templatesMissing) drops += DecodeOut(null, Drop.TemplateMissing)
    var i = 0L
    while (i < nonEncapDrops) { drops += DecodeOut(null, Drop.NonEncap); i += 1 }
    flowRows ++ drops.result()
  }

  /** Consume a group's envelopes in `seq` order through a bounded reorder
    * window instead of materializing + sorting the whole group: a min-heap
    * of at most `window` envelopes, popping the smallest seq once full —
    * the classic datagram-reassembly buffer. Order is exact whenever the
    * input's displacement from seq order is under `window`; Spark's
    * shuffle reader delivers per-map-task runs (each already in receive
    * order), so real displacement is the inter-task interleave, orders of
    * magnitude below the default. An envelope displaced FURTHER than the
    * window decodes out of order — for NetFlow that degrades exactly like
    * the wire (a data record before its template is dropped and counted),
    * never corrupts. Peak memory per task: O(window), not O(group).
    */
  private def inSeqOrder(rows: Iterator[RawEnvelope],
      window: Int): Iterator[RawEnvelope] = new Iterator[RawEnvelope] {
    private val heap = new java.util.PriorityQueue[RawEnvelope](
      math.max(window, 1), (a: RawEnvelope, b: RawEnvelope) =>
        java.lang.Long.compare(a.seq, b.seq))
    override def hasNext: Boolean = !heap.isEmpty || rows.hasNext
    override def next(): RawEnvelope = {
      while (rows.hasNext && heap.size < window) heap.add(rows.next())
      heap.poll()
    }
  }

  /** Reorder-window default: 64k envelopes ≈ a few hundred MB worst-case
    * jumbo datagrams, far beyond any real shuffle interleave.
    */
  val DefaultReorderWindow = 65536

  /** Shared per-group decode loop, mapped to `T` rows by `emit`. Lazy
    * flatMap: flows stream out as envelopes decode; the state store write
    * is re-armed after every envelope so full consumption (Spark always
    * drains the iterator before committing) sees the final state.
    */
  private def decodeGroupWith[T](window: Int,
      emit: Seq[DecodeOut] => Iterator[T])(exporter: String,
      rows: Iterator[RawEnvelope],
      state: GroupState[TemplateState]): Iterator[T] = {
    var st = state.getOption.getOrElse(TemplateState.empty)
    inSeqOrder(rows, window).flatMap { env =>
      val (st2, outs) = decodeOneCounted(st, env.data)
      st = st2
      state.update(st)
      emit(outs)
    }
  }

  /** Batch or streaming decode of an envelope Dataset (flows only). Drop
    * filtering happens INSIDE the group function — a typed filter+map over
    * [[decodeCounted]] would cost an extra serialize/deserialize round
    * trip per row in the streaming plan (batch fuses them, streaming does
    * not).
    */
  def decode(envelopes: Dataset[RawEnvelope],
      reorderWindow: Int = DefaultReorderWindow): Dataset[DecodedFlow] = {
    require(reorderWindow >= 1, "reorderWindow must be at least 1")
    implicit val stateEnc = Encoders.product[TemplateState]
    implicit val outEnc = Encoders.product[DecodedFlow]
    envelopes
      .groupByKey(_.exporter)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        decodeGroupWith[DecodedFlow](reorderWindow,
          _.iterator.collect { case DecodeOut(f, null) => f }))
  }

  /** Decode keeping per-cause drop rows (see [[observed]]). */
  def decodeCounted(envelopes: Dataset[RawEnvelope],
      reorderWindow: Int = DefaultReorderWindow): Dataset[DecodeOut] = {
    // 0 would make the reorder iterator poll an empty heap (NPE mid-task)
    require(reorderWindow >= 1, "reorderWindow must be at least 1")
    implicit val stateEnc = Encoders.product[TemplateState]
    implicit val outEnc = Encoders.product[DecodeOut]
    envelopes
      .groupByKey(_.exporter)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        decodeGroupWith[DecodeOut](reorderWindow, _.iterator))
  }

  /** Flows DataFrame with an `observe("decode", ...)` attached counting
    * every drop cause plus decoded flows — readable per batch from a
    * `StreamingQueryProgress.observedMetrics` / `QueryExecutionListener`,
    * mirroring `Enrichment.validated`'s I7 observers and the reference's
    * per-cause decoder metrics.
    */
  def observed(envelopes: Dataset[RawEnvelope],
      reorderWindow: Int = DefaultReorderWindow): DataFrame = {
    val causeCounts = Drop.all.map(c =>
      count(when(col("dropCause") === c, 1)).as(s"dropped_$c"))
    decodeCounted(envelopes, reorderWindow).toDF()
      .observe("decode",
        count(when(col("dropCause").isNull, 1)).as("flows"),
        causeCounts: _*)
      .where(col("dropCause").isNull)
      .select("flow.*")
  }

  /** Replay a pcap capture as RawFlow envelopes (file-replay source S2):
    * each UDP datagram becomes one envelope with the capture timestamp,
    * mirroring what the reference inlet would have produced on the wire.
    */
  def pcapEnvelopes(spark: SparkSession, pcapBytes: Array[Byte],
      sourceAddress: Array[Byte], decoder: Int,
      timestampSource: Int = DecodeOptions.TsInput): Dataset[RawEnvelope] = {
    import spark.implicits._
    val envs = Pcap.datagrams(pcapBytes).zipWithIndex.map { case (d, i) =>
      envelope(i.toLong, RawFlow.encode(RawFlow(
        timeReceived = d.tsSec,
        payload = d.payload,
        sourceAddress = sourceAddress,
        decoder = decoder,
        timestampSource = timestampSource)))
    }
    spark.createDataset(envs)
  }
}
