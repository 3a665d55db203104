package graft.queryengine

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.filter.FilterCompiler
import graft.schema.Schema

/** Sankey input (reference `console/sankey.go:127-179`): ≥1 dimension, no
  * time axis, weight = units ÷ observed time span.
  */
final case class SankeyInput(
    start: Timestamp,
    end: Timestamp,
    dimensions: Seq[String],
    limit: Int = 10,
    filter: String = "",
    unit: String = "l3bps",
    bidirectional: Boolean = false,
    truncateV4: Int = 32,
    truncateV6: Int = 128) {
  require(dimensions.nonEmpty, "sankey requires at least one dimension")
  require(limit >= 1 && limit <= 50, "limit must be in 1..50")
}

/** The sankey graph as one plan (reference `console/sankey.go:56-147`):
  * one scan for both axes aggregates per rendered dimension tuple; the
  * direct axis ranks its top tuples inside the plan; each position of a
  * row, on either axis, keeps its value when the top tuples hold it at
  * that position and folds to "Other" otherwise; weight = the folded
  * sum ÷ the direct axis's observed span (MAX(time)-MIN(time), at least
  * 1 s). [[build]] runs no Spark job; its rows come in no set order.
  */
final class SankeyQuery(schema: Schema, tables: Seq[FlowTable]) {

  def build(spark: SparkSession, in: SankeyInput): DataFrame = {
    val compiled = if (in.filter.trim.isEmpty) None
      else Some(FilterCompiler.compile(schema, in.filter)
        .fold(e => throw e, identity))
    val mainRequired = compiled.exists(_.mainTableRequired) ||
      in.dimensions.exists(schema.isMainOnly)
    // routing with points fixed at 20 (reference sankey.go:127-134)
    val resolved = TableResolver.resolve(tables, in.start, in.end, 20, mainRequired)
    val unit = Unit.fromName(in.unit)

    // the reverse axis reads the swapped columns under the swapped
    // filter, merged with an axis literal (reference sankey.go:139-147)
    val axes = Axis(1, reverse = false, in.start, in.end, in.dimensions) +:
      (if (in.bidirectional)
        Seq(Axis(2, reverse = true, in.start, in.end, in.dimensions.map(schema.reverseName)))
      else Nil)
    val partial = GraphScan.rows(schema, resolved.table, axes, compiled, unit,
        in.truncateV4, in.truncateV6)(_ => Seq(unix_timestamp(col("TimeReceived")).as("t")))
      .groupBy((Seq("axis", "ds") ++ unit.distinctKey.map(_ => "k")).map(col): _*)
      .agg(sum("w").as("w"), min("t").as("tmin"), max("t").as("tmax"))
    val merged = unit.merge(col("w"), col("k"))
    val direct = col("axis") === 1

    // each axis's top tuples (the reference's `rows` CTE; only the direct
    // axis's are read), then one probe row: each position's set of top values
    // (reference: IN (SELECT col FROM rows); the reverse axis probes the
    // same sets positionally, sankey.go:85-94) and the direct axis's
    // observed span (sankey.go:110-118), at least 1 s. The probe pairs
    // with every partition of the partial where it lies: no exchange, no
    // broadcast.
    val top = GraphScan.top(partial.groupBy("axis", "ds").agg(merged.as("tw")), in.limit)
    val noTime = lit(null).cast("long")
    val probe = top.select(col("axis"), col("ds"), noTime.as("tmin"), noTime.as("tmax"))
      .unionAll(partial.select(col("axis"), lit(null).cast("array<string>").as("ds"),
        col("tmin"), col("tmax")))
      .agg(greatest(lit(1L), coalesce(max(when(direct, col("tmax"))) -
          min(when(direct, col("tmin"))), lit(1L))).as("span_sec"),
        in.dimensions.indices.map(i =>
          collect_set(when(direct, col("ds")(i))).as(s"m$i")): _*)
    partial.crossJoin(probe.hint("shuffle_replicate_nl"))
      .groupBy(Seq(col("axis"), col("span_sec")) ++ in.dimensions.indices.map(i =>
        when(array_contains(col(s"m$i"), col("ds")(i)), col("ds")(i))
          .otherwise(lit("Other")).as(in.dimensions(i))): _*)
      .agg(merged.as("w"))
      .select(in.dimensions.map(col) ++ Seq((col("w") / col("span_sec")).as("weight"),
        col("span_sec")) ++ (if (in.bidirectional) Seq(col("axis")) else Nil): _*)
  }

  /** Driver-side node/link construction (reference `sankey.go:197-273`):
    * consecutive dimension pairs become edges; duplicate edges sum, in
    * the order of the rows by weight, then labels.
    */
  def links(df: DataFrame, dimensions: Seq[String]): Seq[((String, String), Double)] = {
    val rows = df.collect().sortBy(r =>
      (-r.getAs[Double]("weight"), dimensions.map(r.getAs[String]).mkString("\u0000")))
    val acc = scala.collection.mutable.LinkedHashMap[(String, String), Double]()
    rows.foreach { r =>
      val w = r.getAs[Double]("weight")
      dimensions.sliding(2).foreach {
        case Seq(a, b) =>
          val key = (s"$a: ${r.getAs[String](a)}", s"$b: ${r.getAs[String](b)}")
          acc(key) = acc.getOrElse(key, 0.0) + w
        case _ =>
      }
    }
    acc.toSeq.sortBy(-_._2)
  }
}
