package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parser type of a column — drives which comparison operators the filter
  * DSL accepts (reference: `console/filter/helpers.go:146-155`).
  */
sealed trait ParserType
object ParserType {
  case object Ip extends ParserType
  case object Prefix extends ParserType
  case object Mac extends ParserType
  case object Str extends ParserType
  case object UInt extends ParserType
  case object Proto extends ParserType // uint, also matches by dictionary name
  case object Asn extends ParserType
  case object AsPath extends ParserType
  case object Community extends ParserType // uint32 a:b + large a:b:c
  case object ArrayUInt extends ParserType
  case object Boundary extends ParserType // enum: external/internal/undefined
  case object Direction extends ParserType // enum: ingress/egress/undefined
  case object EType extends ParserType // IPv4/IPv6 names → 0x800/0x86dd
}

/** One column of the engine schema (reference: `common/schema/types.go:27-72`).
  *
  * @param name           column name
  * @param dataType       Spark storage type
  * @param parserType     filter-DSL comparison class
  * @param mainOnly       present only in the full-resolution table, dropped
  *                       from rollups (reference `ClickHouseMainOnly`)
  * @param notDimension   cannot be used as a GROUP BY dimension
  * @param truncatableIP  subject to the privacy IP-truncation REPLACE
  * @param alias          computed-on-read expression (reference ALIAS columns)
  * @param depends        columns an alias needs (for projection pruning)
  * @param group          feature group (L2/NAT/L3L4); None = core
  * @param disabled       not enabled by default
  */
final case class ColumnSpec(
    name: String,
    dataType: DataType,
    parserType: ParserType = ParserType.UInt,
    mainOnly: Boolean = false,
    notDimension: Boolean = false,
    truncatableIP: Boolean = false,
    alias: Option[Column] = None,
    depends: Seq[String] = Nil,
    group: Option[String] = None,
    disabled: Boolean = false)

/** The flow-record schema registry: the canonical wide row of the engine
  * (reference: `common/schema/definition.go:244-539`), with mechanical
  * Src↔Dst / InIf↔OutIf direction expansion and the reverse-direction
  * mapping used to flip a whole query (`definition.go:569-595`,
  * `console/query/column.go:78-85`).
  */
final case class Schema(columns: Seq[ColumnSpec],
    asnNames: Map[Long, String] = Map.empty) {
  val byName: Map[String, ColumnSpec] = columns.map(c => c.name -> c).toMap

  def enabled: Seq[ColumnSpec] = columns.filterNot(_.disabled)

  /** Spark schema of the stored (non-alias) enabled columns. */
  def structType: StructType =
    StructType(enabled.filter(_.alias.isEmpty).map(c => StructField(c.name, c.dataType)))

  /** Spark schema of a rollup table: stored, enabled, not main-only. */
  def rollupStructType: StructType =
    StructType(enabled.filter(c => c.alias.isEmpty && !c.mainOnly)
      .map(c => StructField(c.name, c.dataType)))

  /** Attach computed (ALIAS) columns on read; Catalyst prunes unused ones. */
  def withAliasColumns(df: DataFrame): DataFrame =
    enabled.filter(_.alias.isDefined).foldLeft(df) { (d, c) =>
      if (c.depends.forall(dep => d.columns.contains(dep))) d.withColumn(c.name, c.alias.get)
      else d
    }

  /** Reverse-direction column mapping: Src↔Dst, In↔Out
    * (reference `common/schema/message.go` ReverseColumnDirection). Columns
    * whose flipped name doesn't exist map to themselves.
    */
  def reverseName(name: String): String = {
    val flipped =
      if (name.startsWith("Src")) "Dst" + name.drop(3)
      else if (name.startsWith("Dst")) "Src" + name.drop(3)
      else if (name.startsWith("InIf")) "OutIf" + name.drop(4)
      else if (name.startsWith("OutIf")) "InIf" + name.drop(5)
      else name
    if (byName.contains(flipped)) flipped else name
  }

  def isMainOnly(name: String): Boolean = byName.get(name).exists(_.mainOnly)

  /** Dimension columns valid for GROUP BY. */
  def dimensions: Seq[String] =
    enabled.filterNot(_.notDimension).map(_.name)

  /** Display rendering of a dimension by its column kind (reference
    * `console/query/column.go:106-194`, P1–P10): IPs render dotted/RFC
    * 5952, MACs colon-hex, arrays space-joined, communities a:b, EType its
    * name; everything else casts to string.
    */
  def renderDim(name: String): Column = {
    import graft.functions.{Ip, Render}
    // never NULL: a null dimension renders as "", so the line sketch's
    // NUL-joined key (concat_ws skips nulls) keeps one slot per dimension
    // and splits back into the label tuple the top-N join matches
    coalesce(renderDim0(name), lit(""))
  }

  private def renderDim0(name: String): Column = {
    import graft.functions.{Ip, Render}
    byName.get(name).map(_.parserType) match {
      case Some(ParserType.Ip) => Ip.ipToString(col(name))
      case Some(ParserType.Mac) => Render.mac(col(name))
      case Some(ParserType.AsPath) | Some(ParserType.ArrayUInt) =>
        Render.arrayRender(col(name).cast("array<string>"))
      case Some(ParserType.Community) => Render.communities(col(name))
      case Some(ParserType.EType) => Render.etype(col(name))
      case Some(ParserType.Asn) =>
        // P1: "64496: NAME" via the asns dictionary, '???' on miss
        concat(col(name).cast("string"), lit(": "),
          graft.expressions.DictLabel(col(name).cast("long"), asnNames, "???"))
      case Some(ParserType.Proto) =>
        // P3: protocol name via the protocols dictionary
        graft.expressions.DictLabel(col(name).cast("long"),
          graft.functions.Dictionaries.protocolNames, "???")
      case _ => col(name).cast("string")
    }
  }

  /** The source REPLACE of the reference's shared `sourceSelect`
    * (graph.go:51-88): truncate exactly the requested DIMENSION columns
    * that are truncatable addresses — callers apply their filter over the
    * returned frame so predicates see the replaced values. One helper for
    * the line per-axis scan, the line multi-axis base, and sankey, so the
    * three paths cannot drift.
    */
  def truncateDims(df: org.apache.spark.sql.DataFrame, dims: Seq[String],
      v4Bits: Int, v6Bits: Int): org.apache.spark.sql.DataFrame =
    if (v4Bits >= 32 && v6Bits >= 128) df
    else dims
      .filter(n => enabled.exists(c => c.name == n && c.truncatableIP))
      .filter(df.columns.contains)
      .foldLeft(df) { (d, n) =>
        d.withColumn(n, graft.functions.Ip.ipTruncate(col(n), v4Bits, v6Bits))
      }

  /** Attach the asns dictionary used by AS-number dimension labels. */
  def withAsnNames(names: Map[Long, String]): Schema = copy(asnNames = names)

  /** Register a custom dictionary's generated columns (reference
    * `common/schema/root.go:107-184`: each attribute of a configured
    * dictionary becomes a generated column `dictGet('custom_dict_X',
    * 'attr', key)`). The columns become first-class string dimensions —
    * filterable and groupable; [[graft.streaming.Enrichment.withCustomDict]]
    * materializes them at ingest like the reference's raw-consumer MV.
    */
  def withCustomDict(dict: CustomDict): Schema =
    copy(columns = columns ++ dict.attributes.values.map(out =>
      ColumnSpec(out, StringType, ParserType.Str)))

  def withConfig(cfg: SchemaConfig): Schema = {
    val adjusted = columns.map { c =>
      val groupOn = c.group.exists(cfg.enabledGroups.contains)
      val on = !cfg.disabled.contains(c.name) &&
        (cfg.enabled.contains(c.name) || groupOn || !c.disabled)
      val mo = if (cfg.mainTableOnly.contains(c.name)) true
        else if (cfg.notMainTableOnly.contains(c.name)) false else c.mainOnly
      c.copy(disabled = !on, mainOnly = mo)
    }
    copy(columns = adjusted)
  }
}

/** A user-configured custom dictionary (reference
  * `common/schema/root.go:107-184`): lookups of `keyColumn` against a small
  * dimension source generate one flow column per attribute.
  *
  * @param name          dictionary name
  * @param keyColumn     flow column used as the lookup key
  * @param dictKeyColumn key column in the dictionary source
  * @param attributes    dict attribute column → generated flow column name
  * @param default       value when the key misses (dictGetOrDefault)
  */
final case class CustomDict(
    name: String,
    keyColumn: String,
    dictKeyColumn: String,
    attributes: Map[String, String],
    default: String = "???")

/** Enable/disable/move columns by configuration
  * (reference `common/schema/root.go:38-95`).
  */
final case class SchemaConfig(
    enabled: Set[String] = Set.empty,
    disabled: Set[String] = Set.empty,
    mainTableOnly: Set[String] = Set.empty,
    notMainTableOnly: Set[String] = Set.empty,
    enabledGroups: Set[String] = Set.empty)

object FlowSchema {
  import ParserType._

  private val B16 = BinaryType // 16-byte IPv6 (IPv4 as v4-mapped)

  /** Rewrites every direction-prefixed column reference inside an alias
    * expression when a spec is mirrored — without this the mirrored
    * DstNetPrefix would still read col("SrcAddr") and silently render
    * source-direction data (the depends list alone only gates WHEN the
    * alias attaches, not WHAT it reads).
    */
  private def mirrorAlias(alias: Column, from: String, to: String): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    // toCatalyst, not expression(): the lazy ColumnNodeExpression wrapper
    // hides the tree from transform, which would silently rewrite nothing
    GraftBridge.column(GraftBridge.toCatalyst(alias).transform {
      case a: UnresolvedAttribute
        if a.nameParts.length == 1 && a.nameParts.head.startsWith(from) =>
        UnresolvedAttribute(Seq(to + a.nameParts.head.drop(from.length)))
    })
  }

  /** Mechanical Src→Dst / InIf→OutIf expansion
    * (reference `definition.go:569-595`): every spec named `Src*` / `InIf*`
    * here is auto-duplicated for the other direction, alias expressions
    * included.
    */
  private def expand(specs: Seq[ColumnSpec]): Seq[ColumnSpec] =
    specs.flatMap { c =>
      if (c.name.startsWith("Src"))
        Seq(c, c.copy(name = "Dst" + c.name.drop(3),
          depends = c.depends.map(d => if (d.startsWith("Src")) "Dst" + d.drop(3) else d),
          alias = c.alias.map(mirrorAlias(_, "Src", "Dst"))))
      else if (c.name.startsWith("InIf"))
        Seq(c, c.copy(name = "OutIf" + c.name.drop(4),
          depends = c.depends.map(d => if (d.startsWith("InIf")) "OutIf" + d.drop(4) else d),
          alias = c.alias.map(mirrorAlias(_, "InIf", "OutIf"))))
      else Seq(c)
    }

  /** PacketSizeBucket boundaries (reference `definition.go:409-428`). */
  private val packetSizeBucketExpr: Column = {
    val bounds = Seq(64, 128, 256, 512, 768, 1024, 1280, 1501, 2048, 3072, 4096,
      8192, 10240, 16384, 32768, 65536)
    val ps = col("PacketSize")
    val first = when(ps < bounds.head, lit(s"0-${bounds.head - 1}"))
    val mid = bounds.sliding(2).foldLeft(first) { case (acc, Seq(lo, hi)) =>
      acc.when(ps < hi, lit(s"$lo-${hi - 1}"))
    }
    mid.otherwise(lit(s"${bounds.last}-"))
  }

  /** The canonical flow schema. Types per FIXTURES.md §1 / reference
    * `definition.go:258-537`: unsigned ints widened, IPv6 as 16-byte binary,
    * enums as strings.
    */
  val schema: Schema = Schema(expand(Seq(
    ColumnSpec("TimeReceived", TimestampType, notDimension = true),
    ColumnSpec("SamplingRate", LongType, notDimension = true),
    ColumnSpec("ExporterAddress", B16, Ip),
    ColumnSpec("ExporterName", StringType, Str),
    ColumnSpec("ExporterGroup", StringType, Str),
    ColumnSpec("ExporterRole", StringType, Str),
    ColumnSpec("ExporterSite", StringType, Str),
    ColumnSpec("ExporterRegion", StringType, Str),
    ColumnSpec("ExporterTenant", StringType, Str),
    // Src* block expands to Dst*
    ColumnSpec("SrcAddr", B16, Ip, mainOnly = true, truncatableIP = true),
    ColumnSpec("SrcNetMask", IntegerType, UInt, mainOnly = true),
    ColumnSpec("SrcNetPrefix", StringType, Prefix, mainOnly = true,
      alias = Some(concat(graft.functions.Ip.ipToString(col("SrcAddr")), lit("/"),
        col("SrcNetMask").cast("string"))),
      depends = Seq("SrcAddr", "SrcNetMask")),
    ColumnSpec("SrcAS", LongType, Asn),
    ColumnSpec("SrcNetName", StringType, Str),
    ColumnSpec("SrcNetRole", StringType, Str),
    ColumnSpec("SrcNetSite", StringType, Str),
    ColumnSpec("SrcNetRegion", StringType, Str),
    ColumnSpec("SrcNetTenant", StringType, Str),
    ColumnSpec("SrcCountry", StringType, Str),
    ColumnSpec("SrcGeoState", StringType, Str, disabled = true),
    ColumnSpec("SrcGeoCity", StringType, Str, disabled = true),
    ColumnSpec("SrcVlan", IntegerType, UInt, group = Some("L2"), disabled = true),
    ColumnSpec("SrcPort", IntegerType, UInt, mainOnly = true),
    ColumnSpec("SrcMAC", LongType, Mac, group = Some("L2"), disabled = true),
    // Dst-only: AS path and communities
    ColumnSpec("DstASPath", ArrayType(LongType), AsPath, mainOnly = true,
      notDimension = true),
    ColumnSpec("Dst1stAS", LongType, Asn),
    ColumnSpec("Dst2ndAS", LongType, Asn),
    ColumnSpec("Dst3rdAS", LongType, Asn),
    ColumnSpec("DstCommunities", ArrayType(LongType), Community, mainOnly = true,
      notDimension = true),
    ColumnSpec("DstLargeCommunities", ArrayType(DecimalType(38, 0)), Community,
      mainOnly = true, notDimension = true),
    // interfaces (InIf* block expands to OutIf*)
    ColumnSpec("InIfName", StringType, Str),
    ColumnSpec("InIfDescription", StringType, Str, notDimension = true),
    ColumnSpec("InIfSpeed", LongType, UInt),
    ColumnSpec("InIfConnectivity", StringType, Str),
    ColumnSpec("InIfProvider", StringType, Str),
    ColumnSpec("InIfBoundary", StringType, Boundary),
    // L3/L4
    ColumnSpec("EType", LongType, EType),
    ColumnSpec("Proto", LongType, Proto),
    ColumnSpec("Bytes", LongType, UInt, notDimension = true),
    ColumnSpec("Packets", LongType, UInt, notDimension = true),
    ColumnSpec("PacketSize", LongType, UInt,
      alias = Some((col("Bytes") / col("Packets")).cast("long")),
      depends = Seq("Bytes", "Packets")),
    ColumnSpec("PacketSizeBucket", StringType, Str,
      alias = Some(packetSizeBucketExpr), depends = Seq("PacketSize")),
    ColumnSpec("ForwardingStatus", LongType, UInt),
    ColumnSpec("FlowDirection", StringType, Direction),
    ColumnSpec("IPTTL", IntegerType, UInt, group = Some("L3L4"), disabled = true),
    ColumnSpec("IPTos", IntegerType, UInt, group = Some("L3L4"), disabled = true),
    ColumnSpec("IPFragmentID", LongType, UInt, group = Some("L3L4"), disabled = true),
    ColumnSpec("IPFragmentOffset", IntegerType, UInt, group = Some("L3L4"),
      disabled = true),
    ColumnSpec("IPv6FlowLabel", LongType, UInt, group = Some("L3L4"), disabled = true),
    ColumnSpec("TCPFlags", IntegerType, UInt, group = Some("L3L4"), disabled = true),
    ColumnSpec("ICMPv4Type", IntegerType, UInt, group = Some("L3L4"), disabled = true),
    ColumnSpec("ICMPv4Code", IntegerType, UInt, group = Some("L3L4"), disabled = true),
    ColumnSpec("ICMPv6Type", IntegerType, UInt, group = Some("L3L4"), disabled = true),
    ColumnSpec("ICMPv6Code", IntegerType, UInt, group = Some("L3L4"), disabled = true),
    ColumnSpec("NextHop", B16, Ip, disabled = true),
    ColumnSpec("MPLSLabels", ArrayType(LongType), ArrayUInt, mainOnly = true,
      notDimension = true, disabled = true),
    ColumnSpec("SrcAddrNAT", B16, Ip, group = Some("NAT"), disabled = true,
      mainOnly = true),
    ColumnSpec("SrcPortNAT", IntegerType, UInt, group = Some("NAT"), disabled = true,
      mainOnly = true),
    ColumnSpec("IngressVRFID", LongType, UInt, disabled = true),
    ColumnSpec("EgressVRFID", LongType, UInt, disabled = true)
  )))
}
