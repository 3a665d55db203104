package graft.queryengine

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.filter.CompiledFilter
import graft.schema.Schema

/** One axis of a console graph: the rows of [start, end) read in one
  * direction, grouped by `dims` (already direction-swapped).
  */
private[queryengine] final case class Axis(id: Int, reverse: Boolean,
    start: Timestamp, end: Timestamp, dims: Seq[String])

/** The plan pieces the line and sankey graphs share: one scan for all
  * axes and the in-plan top-N (the reference's `rows` CTE,
  * `console/line.go`, `console/sankey.go`).
  */
private[queryengine] object GraphScan {

  /** One row per (axis, fact row) that passes the axis's range and
    * filter: `axis`, `ds` (the rendered dimension labels), `w` (the
    * unit's row value), `k` (its distinct key, ratio units only) and the
    * fields `extra` adds. Each axis truncates its own dimension columns
    * and filters over the truncated source (reference `graph.go:51-88`).
    * The axes share one fact scan, truncating the union of their
    * dimensions, unless an axis's filter reads a column only another
    * axis truncates; then each axis scans alone.
    */
  def rows(schema: Schema, table: FlowTable, axes: Seq[Axis],
      filter: Option[CompiledFilter], unit: Unit, truncateV4: Int,
      truncateV6: Int)(extra: Axis => Seq[Column]): DataFrame = {
    def inRange(start: Timestamp, end: Timestamp): Column =
      col("TimeReceived") >= lit(start) && col("TimeReceived") < lit(end)
    def predicate(ax: Axis): Option[Column] =
      filter.map(cf => if (ax.reverse) cf.reversePredicate else cf.predicate)
    def scan(group: Seq[Axis]): DataFrame = {
      val start = group.map(_.start).minBy(_.getTime)
      val end = group.map(_.end).maxBy(_.getTime)
      val base = schema.truncateDims(table.scan(start, end).where(inRange(start, end)),
        group.flatMap(_.dims).distinct, truncateV4, truncateV6)
      val tuples = group.map { ax =>
        val u = if (ax.reverse) unit.reversed else unit
        val keep = predicate(ax).fold(inRange(ax.start, ax.end))(inRange(ax.start, ax.end) && _)
        struct(Seq(lit(ax.id).as("axis"), coalesce(keep, lit(false)).as("keep"),
          array(ax.dims.map(schema.renderDim): _*).cast("array<string>").as("ds"),
          u.value.as("w")) ++ u.distinctKey.map(_.as("k")) ++ extra(ax): _*)
      }
      // a lone axis selects its tuple without the explode, so the fields
      // a consumer leaves unread prune down to the scan
      base.select((if (group.size == 1) tuples.head else explode(array(tuples: _*))).as("e"))
        .where(col("e.keep")).select("e.*").drop("keep")
    }
    val truncating = truncateV4 < 32 || truncateV6 < 128
    val unionDims = axes.flatMap(_.dims).toSet
    val shared = filter.forall { cf =>
      !truncating || axes.forall { ax =>
        val reads = if (ax.reverse) cf.referencedColumns.map(schema.reverseName)
          else cf.referencedColumns
        (reads intersect (unionDims -- ax.dims)).isEmpty
      }
    }
    if (shared) scan(axes) else axes.map(ax => scan(Seq(ax))).reduce(_ unionAll _)
  }

  /** The top `limit` dimension tuples of each axis by `tw`, ties on the
    * rendered labels ascending (the reference's `ORDER BY … DESC, dims`),
    * flagged `top` for the caller's join.
    */
  def top(weights: DataFrame, limit: Int): DataFrame =
    weights
      .withColumn("rn", row_number().over(
        Window.partitionBy("axis").orderBy(desc("tw"), asc("ds"))))
      .where(col("rn") <= limit)
      .select(col("axis"), col("ds"), lit(true).as("top"))
}
