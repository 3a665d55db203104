package graft.store

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.queryengine.FlowTable

/** Physical table layout (SURVEY §1.4 mapped to parquet):
  *
  *  - `flows/` main table, partitioned by `p_date` (yyyy-MM-dd of
  *    TimeReceived) — partition pruning replaces ClickHouse's PARTITION BY
  *    time bucket, retention = partition drop;
  *  - `flows_1m/ _5m/ _1h/` rollups: per-batch partial aggregates appended
  *    (SummingMergeTree semantics: merge-on-read — every reader
  *    re-aggregates, so late/duplicate buckets are silently correct);
  *  - `exporters/`: append + ReplacingMergeTree-style dedupe on read
  *    (latest TimeReceived per (ExporterAddress, IfName)).
  *
  * One [[writeBatch]] fans a micro-batch into all tables — the Spark
  * analogue of the reference's Null-table + materialized views (I9).
  */
object FlowStore {
  /** Reference retention defaults in days (raw 15 d; rollups 7 d / 90 d /
    * 1 y; exporters 1 d).
    */
  val DefaultRetentionDays: Map[String, Int] = Map(
    "flows" -> 15, "flows_1m" -> 7, "flows_5m" -> 90, "flows_1h" -> 365,
    "exporters" -> 1)

  /** Skip-index analog of the reference's `DefaultIndexes`
    * (`common/schema/config.go:123-133`): the ClickHouse `bloom(0.001)`
    * columns become per-file parquet bloom filters at the same FPP, so a
    * point predicate on an address / AS / port / country (every filter-DSL
    * equality and IN compiles to one) skips whole files whose bloom
    * rejects the value — the same IO the reference saves with its skip
    * index granules. `minmax` (ExporterName) and `set(0)` (the interface
    * enum columns) need nothing: parquet writes min/max and dictionary
    * pages for every column unconditionally.
    *
    * The NDV hint sizes the filter for the target FPP per FILE (post
    * time-clustered compaction a file covers one time slice of one date,
    * so per-file cardinality — not corpus cardinality — is the right
    * scale): 2^16 ports, country codes and per-slice exporter ASes fit
    * well under 64k; distinct addresses per 256 MB file are bounded by
    * rows per file, capped here at 1M (a saturated bloom degrades to
    * "maybe", never to a wrong skip).
    */
  val BloomColumns: Map[String, Long] = Map(
    "SrcAddr" -> (1L << 20), "DstAddr" -> (1L << 20),
    "SrcAS" -> (1L << 16), "DstAS" -> (1L << 16),
    "SrcPort" -> (1L << 16), "DstPort" -> (1L << 16),
    "SrcCountry" -> 1024L, "DstCountry" -> 1024L)

  val BloomFpp: Double = 0.001
}

final class FlowStore(spark: SparkSession, root: String) {

  // Spark's session default writes timestamps as INT96 (Hive compat),
  // which parquet treats as statless: no row-group min/max, no page
  // column index, and no timestamp predicate pushdown — silently
  // disabling every pruning mechanism the time-clustered layout exists
  // to feed. The store owns its session's write encoding; a per-write
  // option cannot work here because ParquetFileFormat.prepareWrite
  // overwrites the key from the session conf.
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  private val resolutions = Seq("flows_1m" -> 60L, "flows_5m" -> 300L,
    "flows_1h" -> 3600L)

  /** Per-instance cache of inferred table schemas (the DurableStore
    * readInferred discipline): a bare spark.read.parquet pays a
    * schema-inference Spark job + footer read per call, and the query
    * surface re-reads flows/rollups constantly. Appends and the slice
    * compaction never change a table's schema; [[swapIn]] and
    * [[recoverSwap]] invalidate their table on the rename swap.
    */
  private val inferredSchemas =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  private def readInferred(name: String): DataFrame = {
    val cached = inferredSchemas.get(name)
    if (cached != null) spark.read.schema(cached).parquet(s"$root/$name")
    else {
      val df = spark.read.parquet(s"$root/$name")
      inferredSchemas.put(name, df.schema)
      df
    }
  }

  private val mainOnly: Set[String] =
    graft.schema.FlowSchema.schema.columns.filter(_.mainOnly).map(_.name).toSet

  /** UTC-stable partition date: pure epoch-day arithmetic, independent of
    * `spark.sql.session.timeZone` (a `date_format` here would shift the
    * partition boundary per session while `readRange`/retention compute
    * their bounds in UTC — rows would silently vanish from pruned scans).
    */
  private def withDate(df: DataFrame): DataFrame =
    df.withColumn("p_date",
      date_add(to_date(lit("1970-01-01")),
        floor(unix_timestamp(col("TimeReceived")) / 86400L).cast("int"))
        .cast("string"))

  /** Serializes batch appends against table rewrites from the same store
    * instance. A rewrite ([[swapIn]]) snapshots the live directory, then
    * installs the rewritten copy by rename — an append landing anywhere
    * in that window is silently discarded by the swap (its rows are not
    * in the snapshot), or recreates the live directory between the two
    * renames and fails the install. Ingest and maintenance both run from
    * the driver of the one pipeline that owns a store, so a JVM lock
    * covers the deployment reality; appends queue behind a running
    * rewrite and the streaming engine's buffered micro-batches catch up
    * after (idempotence markers keep the replays safe). Multi-process
    * writers need external scheduling — the same single-writer contract
    * as the commit markers and the checkpoint itself.
    */
  private val writeLock = new Object

  /** Store-write indexing options: [[FlowStore.BloomColumns]] for the
    * columns the frame actually carries (rollups keep the dims;
    * `exporters` has none of them). Options are per-write, so tables
    * without the columns pay nothing.
    */
  private def withBlooms(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      columns: Seq[String]): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    FlowStore.BloomColumns.foldLeft(w) { case (acc, (c, ndv)) =>
      if (!columns.contains(c)) acc
      else acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
        .option(s"parquet.bloom.filter.fpp#$c", FlowStore.BloomFpp.toString)
    }

  /** One shuffle partition per date partition — each `p_date=` directory
    * gets one file instead of (shuffle.partitions) slivers.
    */
  private def writePartitioned(df: DataFrame, name: String): Unit =
    writeLock.synchronized {
      recoverSwap(name) // an append must NEVER seed a fresh table
      val dated = withDate(df)
      withBlooms(dated.repartition(col("p_date")).write, dated.columns.toSeq)
        .mode(SaveMode.Append).partitionBy("p_date").parquet(s"$root/$name")
    }

  /** The root path's OWN filesystem — `FileSystem.get` would return the
    * default FS and "Wrong FS" on any non-default root scheme.
    */
  private def hadoopFs =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Heal a [[swapIn]] crash window: the two-rename install can die
    * with the table at `.compact.old` and NOTHING at the live path.
    * Restore the aside copy — the rewrite sitting at `.compact.tmp`
    * is disposable (the next compaction re-derives it; swapIn's write
    * overwrites it). Without this, the next micro-batch's
    * `SaveMode.Append` would seed a FRESH table beside the aside one
    * and the prior corpus would be silently orphaned — reads that
    * threw loudly while the path was missing would quietly return
    * only post-crash data forever after. A live table with leftover
    * `.old`/`.tmp` needs no action (swapIn deletes both up front).
    */
  private def recoverSwap(name: String): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = hadoopFs
    val live = p(s"$root/$name")
    val old = p(s"$root/$name.compact.old")
    if (!fs.exists(live) && fs.exists(old)) writeLock.synchronized {
      if (!fs.exists(live) && fs.exists(old)) {
        if (!fs.rename(old, live))
          throw new java.io.IOException(
            s"recoverSwap: cannot restore $name from .compact.old")
        spark.catalog.refreshByPath(s"$root/$name")
        inferredSchemas.remove(name)
        ()
      }
    }
  }

  /** Rollup delta of one batch: truncate time, drop main-only columns,
    * partial-aggregate the measures (map-side combine does most of the
    * work; the shuffle is only the rolled-up dimensionality).
    */
  private def rollupDelta(batch: DataFrame, sec: Long): DataFrame = {
    val dims = batch.columns
      .filterNot(mainOnly)
      .filterNot(Seq("TimeReceived", "Bytes", "Packets").contains)
    batch.groupBy(
      timestamp_seconds(floor(unix_timestamp(col("TimeReceived")) / sec) * sec)
        .as("TimeReceived") +: dims.map(col).toIndexedSeq: _*)
      .agg(sum("Bytes").as("Bytes"), sum("Packets").as("Packets"))
  }

  /** Exporters delta: ARRAY JOIN-style unpivot of the In/Out interface
    * pairs (reference `migrations_helpers.go:277-322`, J7).
    */
  private def exportersDelta(batch: DataFrame): DataFrame =
    batch.select(col("TimeReceived"), col("ExporterAddress"),
      col("ExporterName"),
      explode(array(
        struct(col("InIfName").as("IfName"),
          col("InIfDescription").as("IfDescription"),
          col("InIfSpeed").as("IfSpeed"),
          col("InIfConnectivity").as("IfConnectivity"),
          col("InIfProvider").as("IfProvider"),
          col("InIfBoundary").as("IfBoundary")),
        struct(col("OutIfName").as("IfName"),
          col("OutIfDescription").as("IfDescription"),
          col("OutIfSpeed").as("IfSpeed"),
          col("OutIfConnectivity").as("IfConnectivity"),
          col("OutIfProvider").as("IfProvider"),
          col("OutIfBoundary").as("IfBoundary")))).as("i"))
      .select(col("TimeReceived"), col("ExporterAddress"), col("ExporterName"),
        col("i.*"))

  /** Fan one batch into main + rollups + exporters (the MV fan-out).
    *
    * `batchId` makes the fan-out idempotent for streaming replays:
    * `foreachBatch` is at-least-once, so after a crash between the table
    * writes and the checkpoint's offset commit the SAME batch id is
    * delivered again — without a guard every replayed row appends twice
    * (and rollup Bytes double-count, which no amount of merge-on-read
    * re-aggregation can undo). Each table records the last batch id it
    * durably committed (`_commits/<table>`, temp+rename, single-writer
    * like the checkpoint itself); a replayed id skips exactly the tables
    * that already have it, so a crash that landed `flows` but not the
    * rollups resumes by writing only the missing tables. Batch ids are
    * monotone per checkpoint — wiping the checkpoint to restart a stream
    * from scratch must wipe `_commits` too (same rule as the UDP source's
    * restored offsets).
    */
  def writeBatch(batch: DataFrame, batchId: Option[Long] = None): Unit = {
    val cached = batch.cache()
    try {
      // an empty batch writes nothing (no files, no commit markers). The
      // probe runs on the CACHED frame: it fills the cache's first
      // partitions, which the writes below reuse, so the batch's plan —
      // and any observe() metric inside it — executes exactly once
      if (!cached.isEmpty) {
        guarded("flows", batchId)(writePartitioned(cached, "flows"))
        writeRollups(cached, batchId)
        guarded("exporters", batchId)(
          writePartitioned(exportersDelta(cached), "exporters"))
      }
    } finally cached.unpersist()
  }

  /** Materialize only the rollup tables from a batch. Main-only columns
    * are projected away *before* any materialization (they never reach a
    * rollup), and the 5m/1h deltas cascade from the cached 1m delta — the
    * fact rows are aggregated once, coarser resolutions re-aggregate the
    * already-small 1m output (resolutions divide evenly: 60 | 300 | 3600).
    */
  def writeRollups(batch: DataFrame, batchId: Option[Long] = None): Unit = {
    val r1m = rollupDelta(batch, 60L).cache()
    try {
      guarded("flows_1m", batchId)(writePartitioned(r1m, "flows_1m"))
      guarded("flows_5m", batchId)(
        writePartitioned(rollupDelta(r1m, 300L), "flows_5m"))
      guarded("flows_1h", batchId)(
        writePartitioned(rollupDelta(r1m, 3600L), "flows_1h"))
    } finally r1m.unpersist()
  }

  /** Exactly-once markers (shared discipline: [[CommitMarkers]]). */
  private val markers = new CommitMarkers(spark, root)

  /** Run `write` unless `batchId` is already committed for `table`; mark
    * it committed after. No-op guard when no id is given (batch callers).
    */
  private def guarded(table: String, batchId: Option[Long])
      (write: => Unit): Unit = markers.guarded(table, batchId)(write)

  /** Last streaming batch id durably written to `table`, −1 if none. */
  def lastCommitted(table: String): Long = markers.lastCommitted(table)

  /** Materialize a single rollup resolution from a batch. */
  def writeRollup(name: String, sec: Long, batch: DataFrame): Unit =
    writePartitioned(rollupDelta(batch, sec), name)

  /** Scan one stored table (schema without the partition column). */
  def read(name: String): DataFrame = readTable(name)

  private def readTable(name: String): DataFrame = {
    recoverSwap(name)
    readInferred(name).drop("p_date")
  }

  /** Range-pruned scan: bound `p_date` (a yyyy-MM-dd string — lexical
    * order IS chronological order) so the parquet source prunes whole
    * date directories before reading a footer. The bound is a
    * date-granular superset of [start, end); callers keep their exact
    * TimeReceived predicate.
    */
  private def readRange(name: String, start: Timestamp,
      end: Timestamp): DataFrame = {
    recoverSwap(name)
    def dateUtc(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
        .toLocalDate.toString
    val lo = dateUtc(start.getTime)
    // end is exclusive: the last ms that can match is end - 1
    val hi = dateUtc(math.max(start.getTime, end.getTime - 1))
    readInferred(name)
      .where(col("p_date") >= lo && col("p_date") <= hi)
      .drop("p_date")
  }

  /** Exporters with ReplacingMergeTree read semantics: latest row per
    * (ExporterAddress, IfName).
    */
  def exporters: DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("ExporterAddress", "IfName")
      .orderBy(desc("TimeReceived"))
    readTable("exporters")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** [[boundaryOf]]'s memo per (table, newest): the boundary `p_date`
    * directory with its data files as (name, length, mtime), and the
    * boundary read from them. Parquet files are immutable once visible,
    * so an append, a compaction swap or a retention drop changes the
    * listing (the `DurableStore.footerRows` discipline) and forces a
    * re-read.
    */
  private val boundaries =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean),
      ((String, Seq[(String, Long, Long)]), Option[Timestamp])]()

  /** min/max TimeReceived by scanning ONLY the lexically first/last
    * `p_date=` directory — the partition layout makes the data boundary a
    * one-directory read (the ClickHouse reference gets the same from
    * partition minmax metadata), instead of a full-table aggregation.
    * While that directory's listing is unchanged the memoized boundary
    * is returned without a Spark job.
    */
  private def boundaryOf(name: String, newest: Boolean): Option[Timestamp] = {
    recoverSwap(name)
    val fs = hadoopFs
    val dir = new org.apache.hadoop.fs.Path(s"$root/$name")
    if (!fs.isDirectory(dir)) return None
    val dates = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("p_date=")).sorted
    if (dates.isEmpty) return None
    val d = if (newest) dates.last else dates.head
    val listing = d -> fs.listStatus(new org.apache.hadoop.fs.Path(dir, d))
      .filter(StoreListing.isDataFile)
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sorted.toSeq
    val memo = boundaries.get((name, newest))
    if (memo != null && memo._1 == listing) return memo._2
    val r = readInferred(name)
      .where(col("p_date") === d.stripPrefix("p_date="))
      .agg(if (newest) max("TimeReceived") else min("TimeReceived"))
      .collect()(0)
    val boundary = if (r.isNullAt(0)) None else Some(r.getTimestamp(0))
    boundaries.put((name, newest), (listing, boundary))
    boundary
  }

  /** Newest flow timestamp (one-partition read); the widgets' data-now
    * anchor.
    */
  def newest(name: String = "flows"): Option[Timestamp] =
    boundaryOf(name, newest = true)

  /** Registered tables for the query engine, `oldest` read from data. */
  def tables(): Seq[FlowTable] = {
    // an EMPTY table advertises no coverage (far-future oldest), so the
    // resolver never routes a query to a rollup whose partitions were all
    // retention-dropped — epoch-0 here would mean "infinite history" and
    // the file-less directory read would throw
    def oldestOf(name: String): Timestamp =
      boundaryOf(name, newest = false)
        .getOrElse(Timestamp.valueOf("9999-01-01 00:00:00"))
    (("flows", 0L) +: resolutions).map { case (name, sec) =>
      FlowTable(name, sec, oldestOf(name), () => readTable(name),
        Some((s, e) => readRange(name, s, e)),
        Some(() => newest(name)),
        Some(cap => StoreListing.bytesAtMost(hadoopFs,
          new org.apache.hadoop.fs.Path(s"$root/$name"), cap)))
    }
  }

  /** Retention: drop partitions entirely older than `cutoff` (the parquet
    * analogue of `TTL ... ttl_only_drop_parts`).
    */
  def retention(table: String, cutoff: java.time.LocalDate): Unit = {
    val dir = new java.io.File(s"$root/$table")
    if (!dir.isDirectory) return
    dir.listFiles().filter(_.getName.startsWith("p_date=")).foreach { part =>
      val date = java.time.LocalDate.parse(part.getName.stripPrefix("p_date="))
      if (date.isBefore(cutoff)) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(part)
      }
    }
  }

  /** The reference's per-table TTL schedule applied in one call
    * (`orchestrator/clickhouse/config.go:66-75`; exporters 1 d,
    * `migrations_helpers.go:234-274`): raw 15 d, 1 m / 7 d, 5 m / 90 d,
    * 1 h / 1 y. Each table keeps partitions dated within its window
    * ending at `asOf`; older `p_date=` directories drop whole (readers
    * never see a partial delete). Returns the partition-date cutoff used
    * per table.
    */
  def applyRetention(asOf: java.time.LocalDate,
      retentionDays: Map[String, Int] = FlowStore.DefaultRetentionDays)
      : Map[String, java.time.LocalDate] =
    retentionDays.map { case (table, days) =>
      val cutoff = asOf.minusDays(days.toLong - 1) // keep `days` dates incl. asOf
      retention(table, cutoff)
      table -> cutoff
    }

  /** Rollup compaction (SummingMergeTree's background merge): re-aggregate
    * a rollup table's partitions in place to bound append growth. Readers
    * re-aggregate anyway; this only reduces stored rows.
    */
  def compactRollup(name: String): Unit = {
    val sec = resolutions.toMap.apply(name)
    swapIn(name) { tmp =>
      // time-sorted within each written file so multi-row-group files keep
      // tight TimeReceived min/max stats (see compactFiles for the full
      // clustering rationale; rollups are small enough that slice-bucketed
      // files are not worth a second shuffle here)
      val rolled = withDate(rollupDelta(readTable(name), sec))
        .sortWithinPartitions(col("p_date"), col("TimeReceived"))
      withBlooms(rolled.write, rolled.columns.toSeq)
        .mode(SaveMode.Overwrite).partitionBy("p_date").parquet(tmp)
    }
  }

  /** Small-file compaction for the append-only tables — the merge half of
    * MergeTree that [[compactRollup]]'s re-aggregation doesn't cover:
    * every micro-batch appends one file per date partition, so a 5 s
    * trigger mints ~17k files per partition per day and footer planning,
    * not IO, becomes the scan cost. Rewrites each `p_date` directory into
    * `ceil(onDiskBytes / targetFileBytes)` files, row-preserving (no
    * re-aggregation — correct for the main table, whose rows are facts).
    *
    * The rewrite is TIME-CLUSTERED (ClickHouse's ORDER BY on disk, which
    * the reference gets for free from MergeTree): each output file covers
    * one contiguous `TimeReceived` slice of its date — slice boundaries
    * are per-date quantiles, so file sizes stay even under diurnal skew —
    * and rows are sorted by time inside the file. Every engine query
    * filters on a `TimeReceived` range, and that predicate reaches the
    * parquet scan; against the previous hash-scattered layout each file's
    * min/max spanned the whole day and the pushed filter skipped nothing,
    * while here a one-hour panel over a year of data prunes to the files
    * (and row groups) that actually cover the hour. At 100 TB that is the
    * difference between touching ~1/24th of a day's bytes and all of them.
    *
    * Cost is one extra TimeReceived-only scan (column-pruned) for the
    * quantile grid, then the same single rewrite job/shuffle as before.
    * Placement stays retry-deterministic: the boundaries are collected
    * once and ride the plan as literals, so a row's file is a pure
    * function of its content — a re-executed task re-derives it.
    */
  def compactFiles(name: String,
      targetFileBytes: Long = 256L * 1024 * 1024): Unit = {
    import spark.implicits._
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = hadoopFs
    recoverSwap(name) // a half-swapped table must compact its REAL copy
    if (!fs.exists(p(s"$root/$name"))) return
    val ks = fs.listStatus(p(s"$root/$name"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_date="))
      .map { d =>
        val bytes = fs.listStatus(d.getPath).map(_.getLen).sum
        d.getPath.getName.stripPrefix("p_date=") ->
          math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      }.toSeq
    if (ks.isEmpty) return
    // per-date slice boundaries from one shared quantile grid: the grid
    // resolution adapts to the widest date (≥4 grid cells per slice keeps
    // slice sizes within sketch error of even), and date d's k_d−1 cuts
    // are the grid points nearest j/k_d. Grid collapse (duplicate cuts
    // under extreme repetition) only merges slices — never loses rows.
    val maxK = ks.map(_._2).max
    val bounds: Map[String, Array[Long]] =
      if (maxK <= 1) Map.empty
      else {
        val g = math.min(4096, math.max(64, 4 * maxK))
        val probs = (1 until g).map(_.toDouble / g).toArray
        readInferred(name)
          .withColumn("p_date", col("p_date").cast("string"))
          .select(col("p_date"), col("TimeReceived").cast("long").as("__tl"))
          .groupBy("p_date")
          .agg(percentile_approx(col("__tl"),
            lit(probs), lit(10000)).as("__grid"))
          .collect()
          .map { r =>
            val grid = r.getSeq[Long](1)
            val k = ks.toMap.apply(r.getString(0))
            r.getString(0) -> (1 until k)
              .map(j => grid(math.min(grid.length - 1, j * g / k - 1)))
              .distinct.sorted.toArray
          }.toMap
      }
    val bDf = ks.map { case (d, _) =>
      (d, bounds.getOrElse(d, Array.empty[Long]))
    }.toDF("p_date", "__bounds")
    val totalK = ks.map { case (d, _) =>
      bounds.get(d).map(_.length + 1).getOrElse(1)
    }.sum
    swapIn(name) { tmp =>
      val sliced = readInferred(name)
        // partition discovery may infer p_date as DATE; normalize back to
        // the stored string form so the join and the rewrite agree
        .withColumn("p_date", col("p_date").cast("string"))
        // LEFT join: a date partition appended between the directory
        // listing above and this locked rewrite has no bounds row — its
        // rows must compact into one default slice, never silently drop
        .join(broadcast(bDf), Seq("p_date"), "left")
        .withColumn("__salt", coalesce(size(filter(col("__bounds"),
          b => b <= col("TimeReceived").cast("long"))), lit(0)))
        // hash collisions of (p_date, __salt) can co-locate two slices in
        // one task; the (salt, time) sort keeps even such a file globally
        // time-ordered, so row-group stats stay tight regardless
        .repartition(totalK, col("p_date"), col("__salt"))
        // ExporterAddress tiebreak mirrors the reference table's on-disk
        // ORDER BY (TimeReceived, ExporterAddress): within one timestamp,
        // rows co-locate by exporter, tightening per-row-group exporter
        // stats at no extra cost
      val clustered = sliced
        .sortWithinPartitions(col("p_date"), col("__salt"),
          col("TimeReceived"), col("ExporterAddress"))
        .drop("__bounds", "__salt")
      withBlooms(clustered.write, clustered.columns.toSeq)
        .mode(SaveMode.Overwrite).partitionBy("p_date").parquet(tmp)
    }
  }

  /** One maintenance pass — the Spark analogue of ClickHouse's background
    * merge + TTL threads, run from a scheduler at whatever cadence suits
    * the deployment (the reference relies on ClickHouse doing this
    * continuously): expire partitions past retention, re-aggregate the
    * rollups, and coalesce the append-only tables' micro-batch files.
    */
  def maintain(asOf: java.time.LocalDate,
      retentionDays: Map[String, Int] = FlowStore.DefaultRetentionDays,
      targetFileBytes: Long = 256L * 1024 * 1024): Unit = {
    applyRetention(asOf, retentionDays)
    resolutions.foreach { case (name, _) => compactRollup(name) }
    Seq("flows", "exporters").foreach(compactFiles(_, targetFileBytes))
  }

  /** Write-temp-then-swap install of a rewritten table: cache()+count()
    * does NOT sever lineage, so an overwrite of the directory still being
    * lazily read would recompute lost cached blocks from already-deleted
    * files mid-write. The rewritten copy lands in a sibling temp dir
    * first; the swap is two renames (no reader window where the table is
    * half-written).
    *
    * Holds [[writeLock]] for the WHOLE rewrite, not just the renames: an
    * append landing after `write` snapshots the live directory would be
    * silently dropped by the install. Appends queue behind the rewrite
    * and drain after (see the lock's doc for why that is safe).
    */
  private def swapIn(name: String)(write: String => Unit): Unit =
    writeLock.synchronized {
    val tmp = s"$root/$name.compact.tmp"
    val old = s"$root/$name.compact.old"
    write(tmp)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = hadoopFs
    fs.delete(p(old), true)
    if (!fs.rename(p(s"$root/$name"), p(old)))
      throw new java.io.IOException(s"swapIn: cannot move $name aside")
    if (!fs.rename(p(tmp), p(s"$root/$name"))) {
      fs.rename(p(old), p(s"$root/$name")) // roll back
      throw new java.io.IOException(s"swapIn: cannot install $tmp")
    }
    fs.delete(p(old), true)
    // the DurableStore.installTable staleness contract: a cached plan
    // over the table created BEFORE the swap can hold a partially-built
    // buffer whose unbuilt partitions still reference the replaced
    // files (splits freeze at the entry's first physical planning) —
    // re-list the path for every matching cache entry
    spark.catalog.refreshByPath(s"$root/$name")
    inferredSchemas.remove(name)
    ()
  }
}
