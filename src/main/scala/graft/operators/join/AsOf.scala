package graft.operators.join

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (event-time nearest-neighbor-in-time) join: for each left row,
  * attach the single right row with the greatest timestamp at or before
  * the left row's timestamp, per key — "what was the most recent X when
  * Y happened".
  * The temporal-attribution primitive behind enrichment against
  * slowly-changing state (the most recent config/announcement/session
  * marker at flow time).
  *
  * Scale shape: NOT a range join. Both sides are unioned with a side tag
  * and scanned through ONE window partitioned by the key — a single
  * shuffle keyed on the join key, then a linear per-partition sweep where
  * `last(..., ignoreNulls)` carries the nearest right-side payload onto
  * each left row. Cost at 100 TB is one sort per key partition,
  * independent of how many right rows precede each left row — a
  * between-style range join would materialize every predecessor pair.
  *
  * Determinism: ties resolve structurally. At equal timestamps, right
  * rows sort before left rows (inclusive semantics) or after (strict),
  * and equal-timestamp right rows resolve to the greatest tiebreak value
  * — so an SQL window oracle reproduces every match exactly.
  */
object AsOf {

  /** Backward as-of join: greatest rightTs <= leftTs (or < when strict).
    *
    * @param left      left (probe) rows; ALL columns are preserved
    * @param right     right (reference) rows
    * @param keyCols   equi-join key columns (present on both sides)
    * @param leftTs    left ordering column (numeric or timestamp)
    * @param rightTs   right ordering column (same comparable type)
    * @param payload   right-side columns to attach to each left row
    *                  (emitted under their own names — must not collide
    *                  with left column names)
    * @param rightTie  deterministic tiebreak among right rows sharing a
    *                  (key, ts) — greatest wins (the "latest write")
    * @param strict    false → rightTs <= leftTs (state visible at event
    *                  time); true → rightTs < leftTs only
    * @param tolerance max allowed |leftTs - rightTs| in the ordering
    *                  column's units (epoch seconds for timestamps);
    *                  matches farther away are nulled out
    * @param matchedTs output column carrying the matched right row's
    *                  timestamp (null when no match)
    */
  def joinBackward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      rightTie: String, strict: Boolean = false,
      tolerance: Option[Long] = None,
      matchedTs: String = "asof_ts"): DataFrame = {
    require(keyCols.nonEmpty, "as-of join needs at least one key column")
    require(payload.nonEmpty, "as-of join needs at least one payload column")
    val collisions = (matchedTs +: payload).toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"as-of output columns collide with left columns: ${collisions.mkString(", ")}")

    // Equal-ts ordering encodes the inclusivity: right rows (side 0)
    // sorting before left rows (side 1) make same-instant state visible;
    // strict mode flips the sides so it is not.
    val (rightSide, leftSide) = if (strict) (1, 0) else (0, 1)
    val rrowType = right.select((rightTs +: payload).map(col): _*).schema

    val lTagged = left.select(
      keyCols.map(col) ++ Seq(
        col(leftTs).as("__ts"),
        lit(leftSide).as("__side"),
        lit(null).cast("long").as("__rtie"),
        struct(left.columns.map(col).toIndexedSeq: _*).as("__lrow"),
        lit(null).cast(rrowType).as("__rrow")): _*)

    val rTagged = right.select(
      keyCols.map(col) ++ Seq(
        col(rightTs).as("__ts"),
        lit(rightSide).as("__side"),
        col(rightTie).cast("long").as("__rtie"),
        lit(null).cast(left.schema).as("__lrow"),
        struct((rightTs +: payload).map(col).toIndexedSeq: _*)
          .as("__rrow")): _*)

    val ord = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc, col("__rtie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val carried = lTagged.unionByName(rTagged)
      .withColumn("__match", last(col("__rrow"), ignoreNulls = true).over(ord))
      .where(col("__lrow").isNotNull)

    val gap = col("__ts").cast("long") - col("__match").getField(rightTs).cast("long")
    val inRange = tolerance match {
      case Some(tol) => carried.withColumn("__match", when(gap <= tol, col("__match")))
      case None => carried
    }

    inRange.select(
      (col("__lrow.*") +:
        col("__match").getField(rightTs).as(matchedTs) +:
        payload.map(p => col("__match").getField(p).as(p))): _*)
  }
}
