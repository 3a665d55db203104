package graft.queryengine

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame

/** One queryable flow table at a given resolution (the main table has
  * resolution 0 and all columns; rollups are coarser and drop main-only
  * columns). Mirrors the reference's table inventory refreshed from
  * `system.tables` (`console/clickhouse.go:33-87`).
  *
  * @param resolutionSec 0 for the full-resolution table
  * @param oldest        earliest data available in this table
  */
final case class FlowTable(
    name: String,
    resolutionSec: Long,
    oldest: Timestamp,
    df: () => DataFrame,
    /** Range-aware reader for partitioned stores: given the query's
      * [start, end) the table can prune storage partitions (p_date
      * directories) BEFORE any IO — at 100 TB the mandatory time-range
      * filter must eliminate files, not just row groups. Optional:
      * unpartitioned views fall back to the plain reader.
      */
    dfRange: Option[(Timestamp, Timestamp) => DataFrame] = None,
    /** Newest-data probe for partitioned stores (one-directory read);
      * consumers fall back to a MAX() aggregation when absent.
      */
    newestHint: Option[() => Option[Timestamp]] = None,
    /** Size probe for stored tables: the table's stored bytes when
      * they are at most the given cap, else None, from a file listing
      * that stops once it passes the cap (no Spark job). Consumers
      * treat a table without it as large.
      */
    bytesUpTo: Option[Long => Option[Long]] = None) {

  /** Scan for a time range: partition-pruned when the store supports it.
    * Callers still apply their exact `TimeReceived` predicate — the
    * partition bound is a date-granular superset.
    */
  def scan(start: Timestamp, end: Timestamp): DataFrame =
    dfRange.map(_(start, end)).getOrElse(df())
}

final case class ResolvedQuery(
    table: FlowTable,
    /** query-time bucket width: max(target interval, table resolution) */
    intervalSec: Long)

/** The "optimizer" of the reference (`console/query.go:15-25`,
  * `console/clickhouse.go:217-335`): given the time range, requested point
  * count, and whether any referenced column is main-table-only, pick the
  * coarsest rollup that (a) has data old enough, (b) has resolution ≤ the
  * target interval — else fall back to the main table.
  */
object TableResolver {
  def resolve(
      tables: Seq[FlowTable],
      start: Timestamp,
      end: Timestamp,
      points: Int,
      mainTableRequired: Boolean): ResolvedQuery = {
    val main = tables.find(_.resolutionSec == 0L)
      .getOrElse(throw new IllegalArgumentException("no main table registered"))
    val targetInterval = math.max(1L,
      (end.getTime - start.getTime) / 1000 / math.max(1, points))
    if (mainTableRequired)
      return ResolvedQuery(main, targetInterval)
    val best = tables
      .filter(t => t.resolutionSec <= targetInterval &&
        !t.oldest.after(start))
      .sortBy(-_.resolutionSec)
      .headOption
      .getOrElse(main)
    ResolvedQuery(best, math.max(targetInterval, math.max(1L, best.resolutionSec)))
  }
}
