package graft.queryengine

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.filter.{CompiledFilter, FilterCompiler, FilterParseError}
import graft.schema.Schema

/** Input of the flagship time-series query (reference
  * `POST /api/v0/console/graph/line`, `console/line.go:21-27`).
  */
final case class LineInput(
    start: Timestamp,
    end: Timestamp,
    points: Int,
    dimensions: Seq[String],
    limit: Int = 10,
    limitType: String = "avg", // avg | max | last
    filter: String = "",
    unit: String = "l3bps",
    bidirectional: Boolean = false,
    previousPeriod: Boolean = false,
    truncateV4: Int = 32,
    truncateV6: Int = 128) {
  require(points >= 5 && points <= 2000, "points must be in 5..2000")
  require(limit >= 1 && limit <= 50, "limit must be in 1..50")
}

/** The line graph as one plan (reference `console/line.go:107-216`,
  * SURVEY §3.1): one scan for all axes aggregates per (axis, bucket,
  * rendered dims); each axis ranks its top-N inside the plan
  * (`row_number`, or the topKWeighted sketch for a raw-table "avg");
  * the top set joins back to fold the rest into "Other"; the series
  * sums per bucket and fills the calendar's gaps. [[build]] runs no
  * Spark job: the caller's collect runs the whole plan.
  */
final class LineQuery(schema: Schema, tables: Seq[FlowTable]) {

  def build(spark: SparkSession, in: LineInput): DataFrame = {
    val compiled: Option[CompiledFilter] =
      if (in.filter.trim.isEmpty) None
      else FilterCompiler.compile(schema, in.filter) match {
        case Right(cf) => Some(cf)
        case Left(e: FilterParseError) => throw e
      }
    val mainRequired =
      compiled.exists(_.mainTableRequired) || in.dimensions.exists(schema.isMainOnly)
    val resolved = TableResolver.resolve(tables, in.start, in.end, in.points, mainRequired)
    val interval = resolved.intervalSec
    val unit = Unit.fromName(in.unit)
    val startSec = in.start.getTime / 1000

    // direct, reverse, then the previous-period overlays; those are
    // dimensionless, a single total line (reference line.go:80 strips
    // Dimensions in previousPeriod)
    val axes = {
      val shift = if (in.previousPeriod) previousPeriodShiftSec(in) * 1000 else 0L
      def axis(id: Int, reverse: Boolean, shiftMs: Long) = Axis(id, reverse,
        new Timestamp(in.start.getTime - shiftMs), new Timestamp(in.end.getTime - shiftMs),
        if (shiftMs > 0) Nil
        else if (reverse) in.dimensions.map(schema.reverseName) else in.dimensions)
      Seq(axis(1, reverse = false, 0L)) ++
        (if (in.bidirectional) Seq(axis(2, reverse = true, 0L)) else Nil) ++
        (if (in.previousPeriod) Seq(axis(3, reverse = false, shift)) else Nil) ++
        (if (in.previousPeriod && in.bidirectional) Seq(axis(4, reverse = true, shift)) else Nil)
    }
    val dimful = axes.filter(_.dims.nonEmpty).map(_.id)
    val last = in.limitType match {
      case "avg" | "max" => false
      case "last" => true
      case other => throw new IllegalArgumentException(s"unknown limitType $other")
    }

    // aligned bucket: start + floor((t-start)/interval)*interval, the
    // reference's offset-adjusted toStartOfInterval (clickhouse.go:262-268),
    // moved by the axis's shift onto the request's calendar; "last" ranks
    // the rows at or after end - interval (reference query.go:76)
    val rows = GraphScan.rows(schema, resolved.table, axes, compiled, unit,
        in.truncateV4, in.truncateV6) { ax =>
      val axisStart = ax.start.getTime / 1000
      // never null (a row without a time fails the range test), so no
      // consumer of the partial infers a null filter of its own and all
      // of them share the partial's exchange
      val bucket = coalesce((lit(axisStart) + floor((unix_timestamp(col("TimeReceived")) -
        axisStart) / interval) * interval).cast("long") + (startSec - axisStart), lit(0L))
      bucket.as("time_s") +: (if (last) Seq((col("TimeReceived") >=
        lit(new Timestamp(ax.end.getTime - interval * 1000))).as("tail")) else Nil)
    }
    val partial = rows
      .groupBy((Seq("axis", "time_s", "ds") ++ unit.distinctKey.map(_ => "k") ++
        (if (last) Seq("tail") else Nil)).map(col): _*)
      .agg(sum("w").as("w"))
    val merged = unit.merge(col("w"), col("k"))

    val otherArray = array(in.dimensions.map(_ => lit("Other")): _*).cast("array<string>")
    // every consumer reads the partial unfiltered, so they share its
    // exchange and the plan scans the fact table once
    val series =
      if (dimful.isEmpty) partial.withColumnRenamed("ds", "dimensions")
      else {
        val top =
          // approx-for-exact substitution (reference console/query.go:80-90):
          // a raw-table "avg" of a plain sum ranks through the topKWeighted
          // sketch, so the ranking shuffles fixed-size sketches instead of
          // every dimension tuple
          if (resolved.table.resolutionSec == 0L && in.limitType == "avg" &&
              unit.distinctKey.isEmpty)
            topNSketch(partial, in.limit)
          else GraphScan.top(in.limitType match {
            case "avg" => partial.groupBy("axis", "ds").agg(merged.as("tw"))
            case "max" => partial.groupBy("axis", "ds", "time_s").agg(merged.as("wb"))
              .groupBy("axis", "ds").agg(max("wb").as("tw"))
            // a tuple with no row in the tail has no weight and no rank
            case _ => partial.groupBy("axis", "ds")
              .agg(unit.merge(when(col("tail"), col("w")), when(col("tail"), col("k"))).as("tw"))
              .where(col("tw").isNotNull)
          }, in.limit)
        // a dimensionless (previous-period) axis keeps its []
        partial.join(top.hint("shuffle_hash"), Seq("axis", "ds"), "left")
          .withColumn("dimensions", when(col("top") || !col("axis").isin(dimful: _*),
            col("ds")).otherwise(otherArray))
      }
    val perBucket = series.groupBy("axis", "time_s", "dimensions")
      .agg((merged / interval).as("xps"))

    // WITH FILL + INTERPOLATE (reference line.go:159-163): every bucket
    // of the request's calendar gets a filler, 'Other' at 0 ([] on a
    // dimensionless axis), kept only where the bucket has no row
    val endSec = (in.end.getTime / 1000 - 1).max(startSec)
    val fillers = spark.range(0, 1, 1, 1)
      .select(explode(sequence(lit(startSec), lit(endSec), lit(interval))).as("time_s"))
      .select(explode(array(axes.map(ax => lit(ax.id)): _*)).as("axis"), col("time_s"))
      .select(col("axis"), col("time_s"), when(col("axis").isin(dimful: _*), otherArray)
        .otherwise(array().cast("array<string>")).as("dimensions"),
        lit(0.0).as("xps"), lit(true).as("fill"))
    perBucket.select(col("axis"), col("time_s"), col("dimensions"), col("xps"),
        lit(false).as("fill"))
      .unionAll(fillers)
      .withColumn("empty", min("fill").over(Window.partitionBy("axis", "time_s")))
      .where(!col("fill") || col("empty"))
      .drop("fill", "empty")
  }

  /** Sketch-ranked top tuples per axis: the labels pack into a
    * NUL-separated key, capacity = limit × 20 (the reference's load
    * factor, `console/query.go:95`); the sketch orders ties on the key,
    * which orders like the labels.
    */
  private def topNSketch(partial: DataFrame, limit: Int): DataFrame =
    partial.groupBy("axis")
      .agg(graft.expressions.TopKWeighted(concat_ws("\u0000", col("ds")), col("w"), limit, 20)
        .as("top"))
      .select(col("axis"), explode(col("top")).as("e"))
      .select(col("axis"), split(col("e.key"), "\u0000", -1).as("ds"), lit(true).as("top"))

  /** Shift distance for the previous-period axis (reference `nearestPeriod`
    * + `previousPeriod`, `console/line.go:55-95`): hour below 2 h, day
    * below 2 d, week below 2 w, 4 weeks below 8 w, else the calendar year
    * measured back from the range start (leap-safe: both ends move by the
    * same amount).
    */
  private def previousPeriodShiftSec(in: LineInput): Long = {
    val rangeSec = (in.end.getTime - in.start.getTime) / 1000
    if (rangeSec < 2 * 3600) 3600L
    else if (rangeSec < 2 * 86400) 86400L
    else if (rangeSec < 2 * 7 * 86400) 7 * 86400L
    else if (rangeSec < 2 * 4 * 7 * 86400) 4 * 7 * 86400L
    else {
      val start = in.start.toInstant.atZone(java.time.ZoneOffset.UTC)
      java.time.Duration.between(start.minusYears(1), start).getSeconds
    }
  }
}
