package graft.queryengine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Aggregation units (reference `console/clickhouse.go:186-199`; direction
  * swap `console/graph.go:31-40`). A unit is a per-row value and how
  * partial sums of it combine, so a graph can aggregate its rows once
  * per (axis, bucket, dimensions) and rank, fold and sum the partials.
  */
sealed abstract class Unit(val name: String) {
  /** the per-row value the unit sums (an integer weight for plain sums) */
  def value: Column
  /** for ratio units, the key whose distinct count divides the sum; a
    * partial must group on it, since distinct counts do not add up.
    * None for plain sums.
    */
  def distinctKey: Option[Column] = None
  /** the unit over partial rows carrying the sum `w` of [[value]] and,
    * for ratio units, the distinct key `k`
    */
  def merge(w: Column, k: Column): Column = sum(w)
  /** unit for the reverse-direction axis (In↔Out swap for l2% units) */
  def reversed: Unit = this
}

object Unit {
  case object Fps extends Unit("fps") {
    def value: Column = lit(1L)
  }
  case object Pps extends Unit("pps") {
    def value: Column = (col("Packets") * col("SamplingRate")).cast("long")
  }
  case object L3Bps extends Unit("l3bps") {
    def value: Column = (col("Bytes") * col("SamplingRate") * 8).cast("long")
  }
  /** Ethernet overhead model: +38 bytes per packet
    * (reference `clickhouse.go:189-194`).
    */
  case object L2Bps extends Unit("l2bps") {
    def value: Column =
      ((col("Bytes") + lit(38) * col("Packets")) * col("SamplingRate") * 8).cast("long")
  }
  /** percent of interface speed; multi-arg count-distinct, NaN→0
    * (reference `clickhouse.go:195-199`). A row with a null key part
    * counts for no interface, as in a multi-argument count distinct.
    */
  final case class L2Percent(in: Boolean) extends Unit(if (in) "inl2%" else "outl2%") {
    private def ifName = col(if (in) "InIfName" else "OutIfName")
    def value: Column =
      (col("Bytes") + lit(38) * col("Packets")) * col("SamplingRate") * 800 /
        (col(if (in) "InIfSpeed" else "OutIfSpeed") * 1e6)
    override def distinctKey: Option[Column] = Some(
      when(col("ExporterAddress").isNotNull && ifName.isNotNull,
        struct(col("ExporterAddress").as("exporter"), ifName.as("ifName"))))
    override def merge(w: Column, k: Column): Column =
      nanvl(sum(w) / count_distinct(k), lit(0.0))
    override def reversed: Unit = L2Percent(!in)
  }

  def fromName(s: String): Unit = s match {
    case "fps" => Fps
    case "pps" => Pps
    case "l3bps" => L3Bps
    case "l2bps" => L2Bps
    case "inl2%" => L2Percent(true)
    case "outl2%" => L2Percent(false)
    case other => throw new IllegalArgumentException(s"unknown unit $other")
  }
}
