package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The durable-table plumbing every parquet-backed incremental store
  * shares — the flow store ([[FlowStore]]) and the dedup stores
  * ([[graft.operators.dedup.ReleaseStore]],
  * [[graft.operators.dedup.MediaStore]],
  * [[graft.operators.dedup.EmbedStore]]) ride the SAME commit-marker /
  * accepted-id-sidecar / move-aside-install / compaction-healing /
  * shape-pin discipline instead of re-deriving it: per-table
  * [[CommitMarkers]] make at-least-once `foreachBatch` replays
  * exactly-once, sidecars pin a batch's accepted-id membership across
  * replays, [[installTable]] is the one two-rename table swap,
  * [[recoverTable]] heals the crash window between its renames, and
  * [[checkShape]] validates the `store.meta` shape pin.
  */
private[graft] trait DurableStore {
  protected def spark: SparkSession
  protected def path: String

  protected lazy val markers = new CommitMarkers(spark, path)
  /** Serializes appends against table rewrites from the same store
    * instance. A rewrite ([[installTable]]) snapshots the live
    * directory, then installs the rewritten copy by rename — an append
    * landing anywhere in that window would be silently discarded by the
    * swap (its rows are not in the snapshot). Ingest and maintenance
    * both run from the driver of the one pipeline that owns a store, so
    * a JVM lock covers the deployment reality: appends queue behind a
    * running rewrite, and the commit markers keep the streaming
    * engine's replays safe. Multi-process writers need external
    * scheduling — the same single-writer contract as the markers and
    * the checkpoint itself.
    */
  protected val writeLock = new Object

  protected def hPath(s: String) = new org.apache.hadoop.fs.Path(s)
  protected def fs = hPath(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Last streaming batch id durably written to `table` (−1 if none). */
  def lastCommitted(table: String): Long = markers.lastCommitted(table)

  /** Whether the files in `stats` hold at most `cap` ROWS — exact
    * parquet footer record counts, walked with an early exit at the
    * cap, so a huge store reads one or two footers before bailing.
    * Consulted only in the byte band where bytes cannot proxy rows
    * ([[probeAntiJoin]]'s dispatch): a fat-array table (shingle sets,
    * vectors) carries few rows per MB while a skinny key table carries
    * ~10⁵ — and the cost the inversion avoids (the plain anti-join's
    * forced shuffle+sort of the stored side) scales with ROWS, not
    * bytes. Takes the statuses the dispatch's byte walk already
    * collected, so one listing serves both gates. A walk cut short by
    * the cold-read cap answers false (the inversion, result-identical).
    */
  private def footerRowsAtMost(
      stats: Seq[org.apache.hadoop.fs.FileStatus],
      cap: Long): Boolean = {
    var rows = 0L
    walkFooters(stats.iterator) { f => rows += f.rows; rows <= cap }
      .contains(true)
  }

  /** One parquet file's footer facts, read by one open and cached
    * JVM-wide: parquet data files are immutable once visible (writes
    * land under temp names and rename in), so a (length, mtime)-keyed
    * entry is safe to cache for the JVM's life — steady-state walks pay
    * footers only for the files the LAST append added.
    */
  private def readFooter(
      st: org.apache.hadoop.fs.FileStatus): DurableStore.Footer = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(st, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val f = try DurableStore.Footer(st.getLen, st.getModificationTime,
      r.getRecordCount, DurableStore.batchMinMax(r.getFooter.getBlocks))
    finally r.close()
    DurableStore.footers.put(st.getPath.toString, f)
    f
  }

  /** Feed the footer of each parquet file in `files` to `visit` until it
    * returns false. Cold footers are opened SEQUENTIALLY on the driver —
    * free in the steady state (only the last append's files are
    * uncached) but a first pass over a huge table would pay file-count
    * × metadata latency serially — so past [[footerColdReadCap]]
    * uncached files the walk stops with None, and callers fall back to
    * their conservative verdict; the files read so far stay cached, so
    * repeated calls converge. Otherwise Some(whether the walk reached
    * the end).
    */
  private def walkFooters(files: Iterator[org.apache.hadoop.fs.FileStatus])
      (visit: DurableStore.Footer => Boolean): Option[Boolean] = {
    var coldReads = 0
    while (files.hasNext) {
      val st = files.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val cached = DurableStore.footers.get(st.getPath.toString)
        val f =
          if (cached != null && cached.len == st.getLen &&
              cached.mtime == st.getModificationTime) cached
          else {
            coldReads += 1
            if (coldReads > footerColdReadCap) return None
            readFooter(st)
          }
        if (!visit(f)) return Some(false)
      }
    }
    Some(true)
  }

  /** `table`'s exact row count from parquet footer record counts — the
    * ZERO-JOB corpus-size read behind capacity advisories (EmbedStore's
    * width watch): steady-state calls are all cache hits, and a cold
    * pass past the cap is None (callers treat "unknown" as "no
    * advisory", never as a number). Some(0) for a missing table.
    */
  protected def tableFooterRows(table: String): Option[Long] = {
    val dir = hPath(s"$path/$table")
    if (!fs.exists(dir)) return Some(0L)
    var rows = 0L
    walkFooters(StoreListing.files(fs, dir)) { f => rows += f.rows; true }
      .map(_ => rows)
  }

  /** [[DurableStore.footerWalkMaxFiles]], overridable for tests. */
  protected def footerWalkMaxFiles: Int = DurableStore.footerWalkMaxFiles

  /** [[DurableStore.footerColdReadCap]], overridable for tests. */
  protected def footerColdReadCap: Int = DurableStore.footerColdReadCap

  /** No-footer byte ceiling for [[probeAntiJoin]]'s plain path: a
    * table under this many bytes is small in ROWS at any plausible
    * width (worst-case skinny parquet ≈ 8–16 B/row ⇒ ≲4–8M rows, a
    * sub-second shuffle), so the plain anti-join is safe without
    * opening a single footer. Overridable for tests.
    */
  protected def plainStoreBytes: Long = 64L * 1024 * 1024

  /** The stored-row ceiling under which [[probeAntiJoin]] keeps the
    * plain anti-join even when the table's BYTES exceed the broadcast
    * threshold: shuffling ≤4M stored keys is sub-second at local[32]
    * and bounded on a cluster, while the inversion's fixed overhead
    * (an extra count action, a distinct, two joins) costs more than it
    * saves — measured at ×10 release-store cadence (45k rows, fat
    * 36 MB shingles: plain ~4 s/batch vs inverted ~7 s) against the
    * 10⁸-print regime (plain ~100 s vs inverted ~5 s). Overridable
    * for tests.
    */
  protected def invertStoreRows: Long = 4000000L

  /** Whether `table`'s data bytes are ≤ `cap` ([[StoreListing.bytesUpTo]]:
    * one cap-bounded listing; a missing table counts as small).
    */
  protected def tableBytesAtMost(table: String, cap: Long): Boolean =
    StoreListing.bytesUpTo(fs, hPath(s"$path/$table"), cap).isDefined

  /** [[probeAntiJoin]]'s size-regime dispatch: whether `table` is
    * SMALL enough that the plain `probe LEFT ANTI stored` beats the
    * broadcast inversion — bytes ≤ max(`autoBroadcastJoinThreshold`,
    * [[plainStoreBytes]]), or any byte size in the footer band whose
    * exact row count stays ≤ [[invertStoreRows]]. ONE recursive
    * listing per dispatch (the byte gates and the footer walk share
    * it — on an object store each extra walk is driver-side metadata
    * latency at streaming cadence), early-exited at
    * [[DurableStore.invertStoreBytes]] so an obviously-huge store
    * pays a bounded listing prefix and zero footer reads.
    */
  protected def storedIsSmall(table: String): Boolean =
    storedSmallBytes(table).isDefined

  /** [[storedIsSmall]] with the measured bytes attached: Some(bytes)
    * when `table` is in the small regime (bytes exact — both small
    * verdicts only fire when the bounded listing walked the whole
    * table), None when it is big. The bytes feed the regime's
    * shuffle-width derivation ([[withSmallRegimeScheduling]]) from the
    * SAME single listing the dispatch already pays.
    */
  protected def storedSmallBytes(table: String): Option[Long] = {
    val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (thr <= 0) return None
    val dir = hPath(s"$path/$table")
    if (!fs.exists(dir)) return Some(0L)
    val plainCap = math.max(thr, plainStoreBytes)
    var bytes = 0L
    // statuses kept for the footer-row gate are COUNT-bounded: past
    // the cap the buffer is dropped and the footer gate skipped — a
    // many-tiny-file store between compactions could otherwise hold
    // hundreds of thousands of FileStatus per guard dispatch
    // on the driver, several times per ingest. Skipping only biases
    // the dispatch toward the inversion (result-identical).
    var statsOverflow = false
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.FileStatus]
    val it = StoreListing.files(fs, dir)
    while (it.hasNext) {
      val st = it.next()
      if (StoreListing.isDataFile(st)) {
        bytes += st.getLen
        // past max(plainCap, 10 GiB) neither gate can pass: the byte
        // gate by definition, the footer gate because that many bytes
        // cannot hold ≤ invertStoreRows rows at any plausible width
        // (and keeping the band up to plainCap preserves the plain
        // path under a pathological autoBroadcastJoinThreshold set
        // ABOVE 10 GiB — the pre-round-15 dispatch band)
        if (bytes > math.max(plainCap, DurableStore.invertStoreBytes))
          return None
        if (!statsOverflow) {
          stats += st
          if (stats.size > footerWalkMaxFiles) {
            stats.clear()
            statsOverflow = true
          }
        }
      }
    }
    if (bytes <= plainCap ||
      (!statsOverflow && footerRowsAtMost(stats.toSeq, invertStoreRows)))
      Some(bytes)
    else None
  }

  /** Whether every row of `table` carries a real (≥ 0) streaming batch
    * id, decided from the parquet footers' min/max statistics of the
    * `batch` column — ZERO Spark jobs in the common all-id'd case
    * (the probe this replaces scheduled a `limit(1).count()` driver
    * job per fold call at streaming cadence for a property footers
    * already record). Some(false) as soon as a file provably contains
    * a −1 (its min or max IS −1 — int64 footer stats are exact values
    * present in the data), Some(true) when every file provably holds
    * none (min > −1, or max < −1: backfill-only files), None when any
    * file is undecidable (stats absent, or min < −1 < max — e.g. a
    * compacted file mixing −2 backfill with id'd rows) — callers fall
    * back to the one-row Spark probe, as they do past the walk's
    * cold-read cap ([[walkFooters]]).
    */
  protected def batchAllMarked(table: String): Option[Boolean] = {
    val dir = hPath(s"$path/$table")
    if (!fs.exists(dir)) return Some(true)
    var indeterminate = false
    walkFooters(StoreListing.files(fs, dir)) { f =>
      f.batch match {
        case Some((mn, mx)) if mn == -1L || mx == -1L => false
        case Some((mn, mx)) =>
          if (mn < -1L && mx > -1L) indeterminate = true
          true
        case None =>
          indeterminate = true
          true
      }
    } match {
      case Some(true) if indeterminate => None
      case verdict => verdict
    }
  }

  /** The `unmarked` probe every incremental fold gates on: does
    * `table` hold ANY batch = −1 rows (un-id'd ingests carry no water
    * mark, so their presence falls back to full recomputation)?
    * Footer-stat fast path first; the one-row Spark job only when the
    * footers cannot decide.
    */
  protected def hasUnmarkedRows(table: String, df: => DataFrame): Boolean =
    batchAllMarked(table) match {
      case Some(marked) => !marked
      case None =>
        df.where(col("batch") === -1L).limit(1).count() > 0
    }

  /** Run `f` (one ingest's or compaction's write actions) in the
    * small-data posture — [[graft.ConfWindow.smallRegime]]: AQE off
    * and a shuffle width derived from the measured bytes, at least
    * [[smallRegimeMinPartitions]]; why, and the width formula, are
    * there — when every table in `tables` is in the small regime
    * ([[storedIsSmall]] — the same gates that pick the plain
    * anti-join). For a composed store drive the per-exchange job floor
    * AQE adds IS the measured scheduling cost (q_store_collapse: 162
    * driver jobs with AQE vs 93 without, identical results). The
    * moment any consulted table leaves the small regime, AQE stays on
    * — the 10⁸-row regimes keep their adaptivity. A bulk-sized batch
    * into a still-small store foregoes AQE for that one ingest
    * (bounded: the tables cross the ceiling and the next ingest adapts
    * again); bulk loads are the from-scratch pipelines' territory by
    * the stores' own scaladoc. The posture is a reference-counted
    * session-conf window ([[graft.ConfWindow]]) — concurrent ingests
    * (two streams, one session) may overlap, and AQE-off is always
    * CORRECT (execution granularity, not semantics), so an overlap at
    * worst costs a concurrent big query its adaptivity for the window.
    *
    * DEPLOYMENT NOTE — session isolation: the toggle is scoped to THIS
    * store's SparkSession, never the whole SparkContext. A long-lived
    * serving deployment that multiplexes ad-hoc query traffic with
    * store ingests should construct its stores on
    * `spark.newSession()` (separate conf, shared context/catalog/
    * cached data): a sibling session's `spark.sql.adaptive.enabled` —
    * and with it skew-join mitigation for query traffic — is untouched
    * while an ingest window is open (spec-pinned in
    * DurableStoreSpec).
    */
  protected def withSmallRegimeScheduling[T](tables: Seq[String])
      (f: => T): T = {
    // early-exit walk (ADVICE r16): the first BIG table disqualifies
    // the regime — don't pay the remaining tables' bounded listings on
    // the common big-store path
    val sizes = new scala.collection.mutable.ArrayBuffer[Long](tables.size)
    val it = tables.iterator
    var big = false
    while (it.hasNext && !big) storedSmallBytes(it.next()) match {
      case Some(b) => sizes += b
      case None => big = true
    }
    // the window's width comes from the bytes the dispatch just walked
    if (big) f
    else graft.ConfWindow.smallRegime(spark, sizes.sum,
      smallRegimeMinPartitions)(f)
  }

  /** Floor of the small-regime shuffle width: keeps the BATCH side of
    * an ingest (whose bytes the stored-table dispatch cannot see)
    * reasonably parallel when the store itself is near-empty, while
    * still cutting the per-(task × partition) shuffle-file churn ~4×
    * at the default session width. Overridable for tests.
    */
  protected def smallRegimeMinPartitions: Int = 8

  /** Per-instance cache of INFERRED parquet schemas, for tables whose
    * logical schema is caller-defined (`docs` carries arbitrary
    * columns) or derived (label tables): a bare `spark.read.parquet`
    * pays a schema-inference Spark JOB plus a footer read on EVERY
    * call (measured: ~1 job + ~270 ms vs 0 jobs + ~60 ms with an
    * explicit schema), and a composed store drive reads its tables
    * dozens of times. Appends never change a stored table's schema
    * (the idempotent-append discipline re-derives the same frame
    * shape), so one inference per instance is sound; the rename-swap
    * installers ([[installTable]]/[[recoverTable]]) invalidate their
    * dir — the only paths that can rewrite a table wholesale.
    */
  @transient private lazy val inferredSchemas =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  /** Read `dir` with the cached inferred schema (inferring and caching
    * on first use). Missing-path behavior identical to the bare read.
    */
  protected def readInferred(dir: String): DataFrame = {
    val cached = inferredSchemas.get(dir)
    if (cached != null) spark.read.schema(cached).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      inferredSchemas.put(dir, df.schema)
      df
    }
  }

  protected def invalidateInferred(dir: String): Unit = {
    inferredSchemas.remove(dir)
    ()
  }

  /** Heal ANY [[installTable]]-family swap that died between its two
    * renames: the complete table sits at `<dir><suffix>.old` and
    * nothing at the live path. This MUST run before any table access,
    * not just inside the interrupted operation's re-entry: an ingest
    * against the missing dir would rebuild the table from one batch
    * (accepting re-crawled ids, scoring no cross-batch pairs, all
    * under committed markers), and the next install — seeing a live
    * dir again — would delete the real table at `.old`. Restoring is
    * always the safe move: every installer deletes its aside up front
    * and fully re-derives its temp, so a restored table never collides
    * with a resumed install, and every interrupted operation re-enters
    * idempotently (compaction re-runs; backfills and upgrades
    * re-detect their missing commit point; a restored pre-rehash
    * postings table still matches the pinned width, and the intent pin
    * re-enters the migration). `.compact.old` is the common case;
    * `.backfill.old` covers state/sidecar installs — including the
    * collapse upgrade's ACCUMULATED `scored` rewrite, which no re-entry
    * could re-derive — and `.old` the bare-suffix label installs.
    */
  protected def recoverTable(name: String): Unit = {
    val dir = s"$path/$name"
    if (fs.exists(hPath(dir))) return
    DurableStore.asideSuffixes
      .find(s => fs.exists(hPath(s"$dir$s")))
      .foreach { s =>
        writeLock.synchronized {
          if (!fs.exists(hPath(dir)) && fs.exists(hPath(s"$dir$s"))) {
            if (!fs.rename(hPath(s"$dir$s"), hPath(dir)))
              throw new java.io.IOException(
                s"cannot restore $name from $s")
            // same cache-staleness contract as installTable's swap: a
            // cached plan listed over the missing dir must re-list
            spark.catalog.refreshByPath(dir)
            invalidateInferred(dir)
          }
        }
      }
  }

  /** The one move-aside table swap every installer uses: write the
    * frame to `<dir><suffix>.tmp`, move any live dir to
    * `<dir><suffix>.old`, rename the tmp in (rolling the old back if
    * that rename fails), then drop the old copy. The write fully
    * materializes before either rename, so a source frame READ from
    * `dir` itself (compaction) is safe. A crash between the two renames
    * leaves the complete table at `.old` and nothing live —
    * [[recoverTable]] heals that window for EVERY suffix in
    * [[DurableStore.asideSuffixes]] (a new suffix must join that list),
    * and the interrupted operation re-enters idempotently on top of
    * the restored copy.
    */
  protected def installTable(dir: String, df: DataFrame,
      suffix: String): Unit =
    installTable(dir, suffix)(df.write.mode(SaveMode.Overwrite).parquet(_))

  /** [[installTable]] for a table whose writer is more than a plain
    * parquet write (FlowStore's date partitioning and bloom options):
    * `write` must fully write the table to the temp path it is given.
    * Holds [[writeLock]] for the WHOLE rewrite, not just the renames —
    * an append landing after `write` snapshots the live directory would
    * be dropped by the install.
    */
  protected def installTable(dir: String, suffix: String)
      (write: String => Unit): Unit = writeLock.synchronized {
    val tmp = s"$dir$suffix.tmp"
    val old = s"$dir$suffix.old"
    write(tmp)
    fs.delete(hPath(old), true)
    if (fs.exists(hPath(dir)) && !fs.rename(hPath(dir), hPath(old)))
      throw new java.io.IOException(s"installTable: cannot move $dir aside")
    if (!fs.rename(hPath(tmp), hPath(dir))) {
      fs.rename(hPath(old), hPath(dir)) // roll back
      throw new java.io.IOException(s"installTable: cannot install $dir")
    }
    fs.delete(hPath(old), true)
    // a cached plan over `dir` created BEFORE the swap can hold a
    // partially-built buffer whose unbuilt partitions still reference
    // the replaced files (splits freeze at the entry's first physical
    // planning — e.g. a bounded limit-collect builds only the
    // partitions it touched): refresh re-lists the path for every
    // matching cache entry so later plan substitutions rebuild from
    // the installed files. DataFrameWriter APPENDS refresh the path
    // automatically; a rename swap must do it by hand.
    spark.catalog.refreshByPath(dir)
    invalidateInferred(dir)
  }

  /** Rewrite `name` to `targetBytes`-sized files via the
    * write-temp-then-swap install (no reader window over a half-written
    * table). A missing table is skipped; so is a dir with ZERO data
    * files (an append of an all-empty frame writes only _SUCCESS) —
    * legal store state but unreadable without a schema, and nothing to
    * compact either way.
    */
  protected def compactTable(name: String, targetBytes: Long): Unit =
    writeLock.synchronized {
      val dir = s"$path/$name"
      recoverTable(name)
      val k = compactedFileCount(dir, targetBytes)
      if (k == 0) return
      // COALESCE, not repartition: compaction only needs to
      // concatenate small files into ≤k bigger ones, and coalesce does
      // it with a narrow dependency — no shuffle of the whole table (at
      // 100 TB the compaction shuffle would rewrite the table through
      // the network twice), and no AQE stage jobs on the driver
      installTable(dir, readInferred(dir).coalesce(k), ".compact")
    }

  /** The file count [[compactTable]] rewrites `dir` to: its parquet
    * bytes over `targetBytes`, rounded up; 0 when `dir` is missing or
    * holds no parquet bytes.
    */
  protected def compactedFileCount(dir: String, targetBytes: Long): Int = {
    if (!fs.exists(hPath(dir))) return 0
    val bytes = StoreListing.files(fs, hPath(dir))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    if (bytes == 0L) 0
    else math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  /** A batch's ACCEPTED ids: in-batch-deduped, minus ids already in the
    * store's `storedTable` — resolved once and persisted per batch id
    * (the sidecar), so every replay sees the identical set regardless
    * of what partial appends landed in between; un-id'd calls resolve
    * eagerly instead (no replay exists to protect). Returns one column
    * `__bid`. The ID CONTRACT this encodes: ids are globally unique
    * across the STORE, not the stream — a re-crawled id arriving in a
    * later batch is ignored (first write wins).
    */
  protected def resolveAccepted(batch: DataFrame, idColName: String,
      storedTable: String, batchId: Option[Long],
      ns: String = ""): DataFrame = {
    // `ns` separates the sidecar namespaces of INDEPENDENT ingest
    // planes on one store (e.g. MediaStore's whole-clip prints vs its
    // per-frame clip sequences): each plane's foreachBatch numbers its
    // own batches from 0, so un-namespaced sidecars would collide —
    // plane B's batch 0 reading plane A's pinned membership
    val nsDir = if (ns.isEmpty) "batches" else s"batches_$ns"
    def resolve(): DataFrame = {
      val ids = graft.ScratchCache.persist(
        batch.select(col(idColName).as("__bid")).distinct())
      if (fs.exists(hPath(s"$path/$storedTable"))) {
        recoverTable(storedTable)
        probeAntiJoin(ids,
          storedAcceptIds(idColName, storedTable, ids), Seq("__bid"),
          storedTable, probeKeys = Some(ids))
      } else ids
    }
    batchId match {
      case Some(id) =>
        // marker-guarded, not _SUCCESS-guarded: a replay AFTER the main
        // append landed would re-resolve to an EMPTY set (its ids are
        // stored now) — an unguarded rewrite would silently unscore the
        // batch. The marker commits only after the sidecar write, so
        // the resolved set is immutable once any later step ran.
        val side = s"$path/$nsDir/batch=$id"
        markers.guarded(s"$nsDir/$id", Some(id)) {
          resolve().write.mode(SaveMode.Overwrite).parquet(side)
        }
        // marker committed but sidecar pruned = the batch is fully
        // committed in every table (prune's precondition), so an empty
        // membership is correct for this replay — never throw.
        // Schema passed from the frame that WROTE the sidecar (one
        // __bid column, the batch id's type) — a bare read would pay
        // a schema-inference job per ingest
        if (fs.exists(hPath(side)))
          localizeIfSmall(side,
            batch.select(col(idColName).as("__bid")).schema)
        else batch.select(col(idColName).as("__bid")).limit(0)
      case None =>
        // eager materialization: the set must be pinned BEFORE the main
        // append mutates the anti-join's right side. The checkpoint's
        // blocks are tracked (ScratchCache does not cover
        // localCheckpoint) and freed at the end of ingest — without
        // that, repeated un-id'd ingests accumulate checkpointed RDD
        // blocks for the session's life
        val sc = spark.sparkContext
        val before = sc.getPersistentRDDs.keySet.toSet
        val out = resolve().localCheckpoint(true)
        checkpointIds = sc.getPersistentRDDs.keySet.toSet -- before
        out
    }
  }

  /** The stored-id frame [[resolveAccepted]]'s anti-join reads (one
    * column `__bid`), read at the batch ids' type through [[readTable]]
    * — an inferred read would pay a schema-inference job per store
    * instance on the ingest path.
    */
  protected def storedAcceptIds(idColName: String, table: String,
      batchIds: DataFrame): DataFrame =
    readTable(table, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idColName,
          batchIds.schema("__bid").dataType))))
      .select(col(idColName).as("__bid"))

  /** Read a store table with an explicit logical schema. A
    * never-ingested table reads as a literal empty frame (a monitoring
    * read before the first micro-batch is legal), and a table whose
    * only appends were all-empty frames still reads: the schema is
    * given, not inferred from data files.
    */
  protected def readTable(table: String,
      logical: org.apache.spark.sql.types.StructType): DataFrame =
    if (!fs.exists(hPath(s"$path/$table")))
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        logical)
    else spark.read.schema(logical).parquet(s"$path/$table")

  /** The accepted-id sidecar as a driver-LOCAL relation when its
    * parquet is small (one fs listing to decide, one collect job to
    * load): an ingest consumes the accepted set through
    * `broadcast(accepted)` in nearly every guard, and each guard is
    * its own WRITE action, so a parquet-backed sidecar re-materializes
    * its broadcast exchange as a separate scheduled job per action —
    * at micro-batch cadence the accepted set alone was ~a third of an
    * ingest's driver jobs. A LocalRelation broadcasts without
    * scheduling anything (the exchange collects driver-side), so the
    * one collect here replaces all of them. Big sidecars (over the
    * byte cap ≈ hundreds of thousands of ids) stay distributed — the
    * broadcast jobs they schedule are the price of not holding
    * millions of boxed rows on the driver.
    */
  private def localizeIfSmall(side: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val df = spark.read.schema(schema).parquet(side)
    def local(d: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)
    if (StoreListing.bytesUpTo(fs, hPath(side),
        DurableStore.localAcceptBytes).isEmpty) df
    else
      // type-mismatch safety net: the explicit schema comes from the
      // REPLAYING batch's id column — if a replay ever presents the id
      // with a different type than the session that wrote the sidecar
      // (long vs int), the schema'd read fails where a self-describing
      // read does not. Fall back to inference + cast so a drifted
      // replay degrades to one inference job, never a crash; any other
      // failure (IO, a vanished file) surfaces as itself.
      DurableStore.onSchemaMismatch(local(df))(
        local(spark.read.parquet(side).select(schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)))
  }

  /** RDD ids of the current un-id'd ingest's accepted-set checkpoint,
    * freed by [[freeAcceptedCheckpoint]] once the ingest's appends have
    * landed.
    */
  private var checkpointIds: Set[Int] = Set.empty

  protected def freeAcceptedCheckpoint(): Unit = {
    val sc = spark.sparkContext
    checkpointIds.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    checkpointIds = Set.empty
  }

  /** Replay-guard anti-join for a probe frame against a stored key
    * set, dispatched on the STORE's size (one cap-bounded file
    * listing, [[tableBytesAtMost]]):
    *
    * SMALL store (data bytes ≤ `autoBroadcastJoinThreshold`, or any
    * byte size whose exact footer row count stays ≤
    * [[invertStoreRows]]): the plain `probe LEFT ANTI stored` —
    * Catalyst broadcasts or cheaply shuffles the modest stored side
    * itself, and the guard costs ZERO extra driver actions. This is
    * the gate-scale / young-store regime AND the fat-array regime
    * (a 36 MB shingle table holds 45k rows — its shuffle is trivial);
    * running the inversion in either paid an extra count action, a
    * distinct and two joins per guard per batch for nothing (the
    * round-13 durable-store bench regression, ~+18 s at sf0.1, and
    * the ×10 release cadence at ~7 s/batch vs ~4 plain).
    *
    * BIG store: `probe LEFT ANTI stored` hashes its RIGHT side, so
    * Catalyst cannot broadcast the store and plans a sort-merge join
    * — a full shuffle + sort of EVERY stored key per micro-batch
    * (measured at 10⁸ stored prints: ~100 s per 500-id batch).
    * Inverting streams the store ONCE against a broadcast probe:
    * `present = stored SEMI broadcast(probe)` is bounded by the probe
    * size, and the final `probe ANTI broadcast(present)` touches only
    * tiny frames. Falls back to the
    * plain anti-join when the probe is too big to broadcast. Callers
    * that already know the probe's cardinality or hold its
    * materialized key set pass `probeRows`/`probeKeys` so the
    * big-store path schedules no redundant count job. `probeKeys` may
    * be a SUPERSET of the probe's actual key set (e.g. the accepted-id
    * sidecar when the probe is a projection of the accepted rows):
    * extra keys can only add `present` rows that match no probe row,
    * so the anti-join's result is unchanged.
    *
    * `storedTable` names the table `stored` scans (the dispatch lists
    * it once).
    */
  protected def probeAntiJoin(probe: DataFrame, stored: DataFrame,
      keys: Seq[String], storedTable: String,
      probeRows: Option[Long] = None,
      probeKeys: Option[DataFrame] = None): DataFrame = {
    // dispatch in two gates, ONE listing ([[storedIsSmall]]): bytes ≤
    // max(broadcast threshold, plainStoreBytes) is cheap and
    // sufficient (few bytes cannot hide many rows at any width);
    // above it, bytes cannot distinguish a fat-array table with
    // modest rows (where the plain join's stored shuffle is still
    // trivial and the inversion's fixed overhead loses) from a skinny
    // key table with 10⁸ rows (where the shuffle IS the 100 s cost) —
    // so the byte band up to `invertStoreBytes` consults exact footer
    // row counts (cached per immutable file, early-exited at
    // [[invertStoreRows]]).
    if (storedIsSmall(storedTable))
      return probe.join(stored, keys, "left_anti")
    lazy val pk = probeKeys.getOrElse(
      probe.select(keys.map(col): _*).distinct())
    val n = probeRows.getOrElse(pk.count())
    if (n <= DurableStore.probeInvertRows) {
      val present = stored
        .join(org.apache.spark.sql.functions.broadcast(pk), keys,
          "left_semi")
        .select(keys.map(col): _*).distinct()
      probe.join(org.apache.spark.sql.functions.broadcast(present), keys,
        "left_anti")
    } else probe.join(stored, keys, "left_anti")
  }

  /** The INCREMENTALLY-maintained duplicate-cluster labels over a
    * store's accumulated pair table — extracted from MediaStore so its
    * siblings (EmbedStore) fold identically: the label table persists
    * under `clusters/` with a `pairs`-marker water mark, and each call
    * folds in only the pair rows appended since the last fold — prior
    * components enter the merge as star edges (id → root), which
    * preserves connectivity exactly, so the merged labels equal a
    * from-scratch CC over all stored pairs. Un-id'd rows (batch = −1)
    * carry no water mark: their presence falls back to full CC.
    *
    * @param pr the store's persisted pair frame (id_a, id_b, …, batch)
    * @param pairsTable the marker name its appends commit under
    */
  protected def foldClusterLabels(pr: DataFrame,
      pairsTable: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = s"$path/clusters"
    // a marker WITHOUT its label table means a crash interrupted a
    // prior install — treat as no watermark and rebuild from everything
    val water0 = markers.lastCommitted("clusters")
    val water = if (water0 >= 0 && !fs.exists(hPath(dir))) -1L else water0
    val top = markers.lastCommitted(pairsTable)
    writeLock.synchronized {
      val unmarked = hasUnmarkedRows(pairsTable, pr)
      if (unmarked) {
        // no water mark exists for un-id'd rows — full CC, no cache
        graft.operators.dedup.Dedup.connectedComponents(
          pr.select(col("id_a"), col("id_b")))
      } else if (water >= top && fs.exists(hPath(dir))) {
        readInferred(dir) // nothing new since the last fold
      } else {
        val prior =
          if (water >= 0 && fs.exists(hPath(dir))) readInferred(dir)
          else spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            StructType(Seq(StructField("id", LongType),
              StructField("cluster", LongType))))
        val merged = graft.operators.dedup.Dedup.connectedComponents(
          prior.select(col("id").as("id_a"), col("cluster").as("id_b"))
            .unionAll(pr.where(col("batch") > water)
              .select(col("id_a"), col("id_b"))))
        // install-then-mark: a crash before the mark re-folds
        // idempotently (star edges); between the install's renames, the
        // water guard's full rebuild heals
        installTable(dir, merged, "")
        markers.markCommitted("clusters", top)
        readInferred(dir)
      }
    }
  }

  /** The constructor settings that give this store's tables their
    * meaning, recorded in `store.meta` by [[checkShape]]; empty for a
    * store without a shape pin.
    */
  protected def shape: Map[String, String] = Map.empty

  /** Boolean [[shape]] fields that may move false → true in place (an
    * upgrade the store backfills); every other field is immutable.
    */
  protected def shapeUpgrades: Set[String] = Set.empty

  /** This store's `store.meta`, None before the first pinning write. */
  protected def shapePin: Option[Map[String, String]] =
    DurableStore.readMeta(fs, s"$path/store.meta")

  /** Validate [[shape]] against the pin at every entry point, so a
    * reopen with a different shape throws instead of silently
    * misreading the tables. A store with no pin records [[shape]] on a
    * write path (`pin`) and has nothing to validate on a read. A pinned
    * store must carry every field at its current value, except a legal
    * [[shapeUpgrades]] move, which a write path records (pin fields
    * outside [[shape]], such as EmbedStore's `dim`, are kept).
    */
  protected def checkShape(pin: Boolean): Unit = shapePin match {
    case None => if (pin) writeShapePin(shape)
    case Some(m) =>
      val store = getClass.getSimpleName
      shape.foreach { case (f, v) =>
        val stored = m.getOrElse(f, throw new IllegalStateException(
          s"$store at $path has a shape pin without '$f' - recreate the " +
          "store"))
        val upgrade = shapeUpgrades(f) && stored == "false" && v == "true"
        if (stored != v && !upgrade) throw new IllegalStateException(
          s"$store at $path was created with $f=$stored but opened with " +
          s"$f=$v; reopen with the stored shape" +
          (if (shapeUpgrades.isEmpty) ""
           else s" (${shapeUpgrades.toSeq.sorted.mkString(", ")} may " +
             "only upgrade false -> true)"))
      }
      if (pin && shape.exists { case (f, v) => m(f) != v })
        writeShapePin(m ++ shape)
  }

  /** Install a `store.meta` shape pin: write-temp-then-rename like
    * every other durable write here; overwrite is legal because legal
    * shape upgrades move the pin, and a CRASH between delete and rename
    * just leaves the store unpinned (the next write re-pins the same
    * shape). An in-process rename FAILURE is different: it is
    * observable, and swallowing it would leave the pin silently gone —
    * the mismatch detection disabled — so it throws.
    */
  protected def writeShapePin(m: Map[String, String]): Unit = {
    val pin = hPath(s"$path/store.meta")
    val tmp = hPath(s"$path/store.meta.tmp")
    val out = fs.create(tmp, true)
    try out.write(m.toSeq.sortBy(_._1)
      .map { case (f, v) => s"$f=$v" }.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
    fs.delete(pin, false)
    if (!fs.rename(tmp, pin)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"could not install shape pin at $pin - refusing to leave " +
        "the store unpinned")
    }
  }

  /** Prune the accepted-id sidecars of batches fully committed in every
    * table in `tables` (a sidecar only matters while its batch could
    * still replay). Commit markers live under `_commits/` and are
    * untouched, so replay accounting survives compaction.
    */
  protected def pruneSidecars(tables: Seq[String], ns: String = ""): Unit =
    writeLock.synchronized {
      val nsDir = if (ns.isEmpty) "batches" else s"batches_$ns"
      val root = hPath(s"$path/$nsDir")
      if (!fs.exists(root)) return
      val safe = tables.map(lastCommitted).min
      fs.listStatus(root)
        .filter(_.getPath.getName.startsWith("batch="))
        .foreach { d =>
          val id = d.getPath.getName.stripPrefix("batch=").toLong
          if (id <= safe) {
            // marker FIRST: a crash in between leaves an orphan sidecar
            // (harmless — the next prune removes it), while the reverse
            // order would leave a committed marker pointing at a missing
            // sidecar and crash-loop every replay of that batch
            fs.delete(hPath(s"$path/_commits/$nsDir/$id"), false)
            fs.delete(d.getPath, true)
            ()
          }
        }
    }
}

private[graft] object DurableStore {
  /** Every aside suffix an installTable-family swap can strand a table
    * under — the [[DurableStore.recoverTable]] heal set. Order is
    * only a deterministic tiebreak; at most one can exist (an aside is
    * created only by moving the live dir, and every entry point heals
    * before installing).
    */
  val asideSuffixes: Seq[String] =
    Seq(".compact.old", ".backfill.old", ".old")

  /** Probe-size ceiling for [[DurableStore.probeAntiJoin]]'s broadcast
    * inversion: 5M ids ≈ 40 MB broadcast — comfortably under driver
    * limits, far above any micro-batch; bigger probes take the plain
    * shuffle join, whose cost they amortize.
    */
  val probeInvertRows: Long = 5000000L

  /** Sidecar-byte ceiling for [[DurableStore.localizeIfSmall]]: ≈2 MB
    * of parquet longs ≈ a few hundred thousand ids — bounded boxed-row
    * driver residency; bigger accepted sets stay parquet-backed.
    */
  val localAcceptBytes: Long = 2L * 1024 * 1024

  /** Byte ceiling above which [[DurableStore.probeAntiJoin]] inverts
    * WITHOUT reading footers: 10 GiB cannot hold fewer than
    * `invertStoreRows` rows at any plausible row width, so the footer
    * walk is skipped for stores that are obviously huge.
    */
  val invertStoreBytes: Long = 10L * 1024 * 1024 * 1024

  /** File-count ceiling on the statuses [[DurableStore.storedIsSmall]]
    * buffers for its footer-row gate: past it the buffer is dropped
    * and the gate skipped (dispatch falls to the byte gates — perf
    * only, never semantics). 16k statuses ≈ a few MB of driver heap;
    * a store holding more data files than this between compactions is
    * not in the regime where per-footer row counting is cheap anyway.
    */
  val footerWalkMaxFiles: Int = 16384

  /** Cold-read ceiling per footer walk ([[DurableStore.walkFooters]]):
    * at most this many UNCACHED footers are opened (sequentially, on the
    * driver) before the walk gives up and its caller falls back — for
    * [[DurableStore.batchAllMarked]], the one-row parallel Spark probe.
    * Steady-state folds stay zero-job (only the last append's files are
    * cold); a huge table's first fold pays one bounded walk — or the
    * Spark job it always used to.
    */
  val footerColdReadCap: Int = 1024

  /** One parquet file's footer facts: its record count and the (min,
    * max) of its `batch` column combined across row groups — None when
    * the column is missing or any row group lacks usable stats (the
    * conservative "can't tell" verdict). A zero-row-group file holds
    * the empty sentinel (min > max), which every caller reads as
    * "contains nothing". `len` and `mtime` are the validity key.
    */
  private case class Footer(len: Long, mtime: Long, rows: Long,
      batch: Option[(Long, Long)])

  /** JVM-wide [[Footer]] cache, keyed by file path with (length, mtime)
    * validity — parquet data files are immutable once visible, so
    * entries only go stale when a path is REUSED by a compaction swap,
    * which the (length, mtime) check catches. Size-bounded by
    * ACCESS-ORDER LRU eviction (a full clear at the cap made a
    * long-lived many-small-files process re-pay every footer read on
    * the next guard; evicting only the coldest entry keeps the
    * steady-state working set warm).
    */
  private val footers: java.util.Map[String, Footer] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Footer](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Footer]): Boolean = size() > 100000
      })

  private def batchMinMax(blocks: java.util.List[
      org.apache.parquet.hadoop.metadata.BlockMetaData])
      : Option[(Long, Long)] = {
    var mn = Long.MaxValue
    var mx = Long.MinValue
    val it = blocks.iterator()
    while (it.hasNext) {
      it.next().getColumns.asScala
        .find(_.getPath.toDotString == "batch").map(_.getStatistics) match {
        case Some(ls: org.apache.parquet.column.statistics.LongStatistics)
            if !ls.isEmpty && ls.hasNonNullValue =>
          mn = math.min(mn, ls.getMin)
          mx = math.max(mx, ls.getMax)
        case _ => return None
      }
    }
    Some((mn, mx))
  }

  /** Whether `e` (or any cause in its chain) is a read-side type
    * mismatch: parquet data whose physical type cannot convert to the
    * requested schema's, which Spark raises as a
    * `SchemaColumnConvertNotSupportedException` wrapped in a
    * `SparkException` / `QueryExecutionException`.
    */
  private[store] def isSchemaMismatch(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: org.apache.spark.sql.execution.datasources
        .SchemaColumnConvertNotSupportedException => true
      case _ => false
    }

  /** `primary`, or `fallback` when `primary` fails on a schema mismatch
    * ([[isSchemaMismatch]]) — any other failure propagates untouched.
    * When the fallback fails as well, its exception is thrown with the
    * first one attached as suppressed, so neither cause is lost.
    */
  private[store] def onSchemaMismatch[T](primary: => T)(fallback: => T): T =
    try primary
    catch {
      case first: Exception if isSchemaMismatch(first) =>
        try fallback
        catch {
          case second: Exception =>
            second.addSuppressed(first)
            throw second
        }
    }

  /** The one key=value parse of a `store.meta` shape pin — shared by
    * instance validation ([[DurableStore.checkShape]]) and the `open`
    * factories ([[pinnedShape]]), so the two can never disagree about
    * the same file.
    */
  private def readMeta(fs: org.apache.hadoop.fs.FileSystem,
      pin: String): Option[Map[String, String]] = {
    val p = new org.apache.hadoop.fs.Path(pin)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      Some(txt.linesIterator.map(_.trim).filter(_.contains('='))
        .map { l =>
          val i = l.indexOf('=')
          l.substring(0, i) -> l.substring(i + 1)
        }.toMap)
    }
  }

  /** The pin a `store`'s `open` factory reconstructs it from: the
    * `store.meta` under `path`, which must exist (a store with no pin
    * was never ingested) and carry every field in `required` (one that
    * lacks a field is truncated).
    */
  def pinnedShape(spark: SparkSession, path: String, store: String,
      required: Seq[String]): Map[String, String] = {
    val pin = s"$path/store.meta"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readMeta(fs, pin).getOrElse(throw new IllegalStateException(
      s"no shape pin at $pin - construct $store explicitly (the first " +
      "ingest records the shape)"))
    required.find(!m.contains(_)).foreach { f =>
      throw new IllegalStateException(
        s"shape pin at $pin carries no '$f' - the pin is truncated; " +
        s"construct $store explicitly")
    }
    m
  }
}
