package graft.operators.dedup

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Spread

/** Persisted, continuously-maintained dedup release: the storage twin of
  * [[Dedup.incrementalRelease]] for streaming corpus ingest
  * (`writeStream.foreachBatch((b, id) => store.ingest(b, Some(id)))`).
  *
  * Parquet tables under `path` — `docs` (the corpus), `scored` (the
  * accumulated scored pair set, (id_a, id_b, common, n_a, n_b,
  * batch)), `batches/batch=N` (the per-batch ACCEPTED-id sidecars)
  * and, for uncapped `lshFront` stores, the per-doc LSH-front state
  * (`shingles`/`bands`/`prefixes` — see below) — each append guarded
  * by the per-table commit markers every other store uses
  * ([[graft.store.CommitMarkers]]), so at-least-once `foreachBatch`
  * replays are exactly-once.
  *
  * ID CONTRACT: doc ids are globally unique across the STORE, not
  * across the stream — a re-crawled id arriving in a later batch is
  * IGNORED (first write wins; replace/update semantics are a different
  * store). The sidecar makes that replay-safe: a batch's accepted ids
  * (new, in-batch-deduped, not yet stored) are resolved ONCE, before
  * any append, and persisted; a replay — even one interleaved with a
  * partial docs append — reuses the stored set, so batch membership in
  * the pair delta is identical on every attempt and the docs append
  * (itself anti-joined against the live table) lands each accepted row
  * exactly once.
  *
  * Each ingest pays [[Dedup.incrementalScoredPairs]]' cost — the
  * batch's shingle stream probing the accumulated corpus plus the
  * batch self-join; corpus×corpus is never re-joined, which is the only
  * affordable cadence at 100 TB. [[products]] re-derives the full
  * eight-product release from the stored pair set on demand, exactly
  * like a from-scratch [[Dedup.releasePipeline]] over the accumulated
  * corpus (uncapped, bit-identically — ReleaseStoreSpec pins it; the
  * capped df-drift contract is [[Dedup.incrementalRelease]]'s).
  *
  * SHAPE PIN: the constructor knobs that determine what the persisted
  * tables mean (fronts, cap, band shape, seed, columns) are recorded
  * in `store.meta` at first ingest and validated on every entry point
  * — a reopen with a different shape throws instead of silently
  * misreading the tables; the two in-place upgrades (either front
  * false → true) stay legal and move the pin.
  *
  * GROWTH DISCIPLINE (a year of 5-second batches must not mean ~6M
  * files): [[compact]] rewrites `docs`/`scored` to target-sized files
  * with the shared write-temp-then-swap install (no reader window over
  * a half-written table) and prunes sidecars for fully-committed
  * batches.
  */
final class ReleaseStore(protected val spark: SparkSession,
    protected val path: String,
    idCol: String, textCol: String, maxShingleDf: Option[Int] = None,
    /** LSH-front the per-batch delta ([[Dedup.incrementalLshScoredPairs]]):
      * banded batch×all + one-side-batch prefix probes instead of the
      * exact index probe join. Same union-completeness argument as
      * [[Dedup.incrementalReleaseLsh]] — every ≥-threshold pair is
      * batch-touching exactly when its later doc arrives, so the
      * accumulated scored set yields identical products (spec-pinned);
      * gate the band shape with [[Dedup.lshAudit]] for the corpus's
      * similarity profile before trusting Jaccard recall at scale.
      */
    lshFront: Boolean = false,
    containThreshold: Double = 0.8,
    k: Int = 128, bands: Int = 32, seed: Long = 42L,
    /** Hash the LSH front in the oracle-replicable family (48-bit md5
      * shingles, slice-equality banding — [[Dedup.lshScoredPairs]]'
      * `portable`): gate queries construct portable stores so an
      * external SQL oracle can replicate the accumulated release;
      * production stores keep the ~order-cheaper xxhash64 family. A
      * STORE-WIDE property — the two families' shingle/band state rows
      * are mutually unreadable — so it is pinned in `store.meta` like
      * every other shape knob.
      */
    portable: Boolean = false,
    /** Store LSH-front state COLLAPSED by distinct shingle set (the
      * [[Dedup.releasePipelineLsh]] `collapseExact` posture made
      * durable): state tables hold one row per distinct set (its
      * REPRESENTATIVE — the first-ingested min id), a `members`
      * (id, rep, batch) table records which docs carry each set, and
      * `scored` accumulates REP-level pairs that [[products]] expands
      * to member level on read (cross pairs inherit the rep pair's
      * scores; within-group pairs synthesize at common = n — exactness
      * per [[Dedup.expandCollapsedScored]]). The crawl-store payoff: a
      * batch that is mostly exact duplicates of stored content appends
      * ONLY membership rows — no state rows, no probes, no scored
      * rows — so per-batch ingest cost tracks NOVEL content, not batch
      * size, and the store's state tables grow with distinct content,
      * not the crawl. Requires the uncapped `lshFront` shape
      * (stateEnabled); a construction-time property of the store — an
      * existing per-doc store upgrades in place by a one-time backfill
      * (state rebuilt rep-level, `scored` rewritten to rep pairs —
      * identical sets score identically, so the rewrite is a pure
      * dedup) on first ingest.
      */
    collapseFront: Boolean = false,
    /** Stored-corpus row count past which the EXACT front engages both
      * its maintained sidecars (exists-wins once created): shingle state
      * ([[storedExactDelta]]) and the `docids` sidecar. Below it the
      * recompute delta is measured-cheaper. MEASURED bracket (PLANS
      * round 16): at the 5k-doc gate the recompute path costs half the
      * state path's CPU (26 s vs 51+ s — state writes and extra stored
      * scans dominate a corpus whose full re-tokenize is trivial); at
      * the ×10 rehearsal's 50k docs the state path already wins and the
      * gap WIDENS with the stored corpus (500-doc steady-state batch
      * walls [4.5→5.7] s flat-ish vs [4.8→7.8] s corpus-linear, pair
      * parity exact at 250,600). 50k is the measured win point; past it
      * the recompute's per-batch corpus re-tokenize only grows. The
      * `docids` sidecar shares the threshold (the gate A/B priced its
      * maintenance at +15% CPU on a corpus whose fat scan is trivial).
      * A tuning knob, not a shape property: the sidecars' MEANING is
      * threshold-independent, so it is not pinned and reopens may
      * restate it (an already-created sidecar keeps maintaining
      * regardless).
      */
    exactSidecarMinRows: Long = 50000L) extends graft.store.DurableStore {

  require(!collapseFront || (lshFront && maxShingleDf.isEmpty),
    "collapseFront requires the uncapped lshFront store (stateEnabled)")

  /** LSH-FRONT STATE TABLES — `shingles` (id, sh), `bands`
    * (id, band, bh) and `prefixes` (id, s), appended per batch under
    * the same marker discipline as `docs`/`scored`. All three are
    * PER-DOC state: hashed shingle sets and banded MinHash signatures
    * are corpus-independent, and a doc's rarest-first prefix — ranked
    * by document frequency AS OF ITS INGEST — remains a valid prefix
    * forever (ANY subset of size n − ⌈t·n⌉ + 1 carries the containment
    * recall theorem; the ranking choice is performance only). So an
    * increment touches batch-bands × stored-bands and
    * batch-prefixes ⋈ stored-index instead of re-shingling, re-banding
    * and re-window-ranking the WHOLE corpus per batch — the two
    * corpus-linear passes [[Dedup.incrementalLshScoredPairs]] pays are
    * replaced by columnar scans of stored state probed by
    * broadcast-sized batch frames. Batch prefixes rank by batch-local
    * df (no global df table to maintain; staleness costs probe fuel,
    * never recall). Only the UNCAPPED lshFront store persists state —
    * a df-cap is a population property whose drift would invalidate
    * stored prefixes, so capped stores keep the recompute path (the
    * documented [[Dedup.incrementalRelease]] drift contract).
    *
    * The POSITIONAL prefix filter does NOT apply here (its minimal-
    * shared-row argument needs both sides ranked by ONE coherent
    * order, and stored prefixes deliberately keep their ingest-era
    * ranks), but the COUNT filter does: the subset argument is
    * ranking-free, so prefixes are written [[Dedup.PrefixMinShared]]
    * − 1 rows wider than the theorem width and probe through
    * [[Dedup.prefixProbeCounted]] — single-collision fuel dies on the
    * stored path too.
    */
  private val stateTables = Seq("shingles", "bands", "prefixes")

  private def stateEnabled: Boolean = lshFront && maxShingleDf.isEmpty

  /** EXACT-FRONT SIDECARS (round-16), two independent accelerations,
    * BOTH engaged by the same measured corpus-size dispatch
    * ([[exactSidecarMinRows]], exists-wins — below it the store runs
    * the round-15 shape exactly: recompute deltas, guards consulting
    * `docs`, zero sidecar maintenance, which the gate-scale A/B
    * measured cheapest at 5k docs; past it maintenance pays off and
    * the gap widens with the corpus):
    *
    * (1) `docids` — a narrow one-column sidecar mirroring `docs`' id
    * set. Each id-guard anti-join consults it instead of the fat
    * `docs` scan, so the consulted relation is statically SMALL at
    * ANY corpus size (at 10⁸ rows: ~1.6 GB of ids vs a multi-TB text
    * table) — which is what lets [[ingest]]'s scheduling regime
    * extend to the exact front (static planning cannot see column
    * pruning on `docs`, so AQE suspension used to degrade the guards'
    * runtime broadcasts to sort-merge joins of text-carrying frames —
    * the measured ~2.8× CPU that kept the exact front on the AQE job
    * floor). Consistency is NOT marker-split: docs appends FIRST and
    * docids second inside the same guarded block, so `docids ⊆ docs`
    * ids holds across every crash window; at ingest start
    * [[ensureDocIds]] compares the two tables' parquet footer ROW
    * COUNTS (zero Spark jobs, cached per immutable file) — given ⊆
    * and per-table id uniqueness, equal counts ⟺ equal sets — and
    * rebuilds the sidecar from `docs`' id column (one narrow pass)
    * after any mismatch (a crashed guard, a legacy or
    * threshold-crossing store backfilling). When the footer walk
    * cannot decide (cold cap), the ingest consults `docs` as before —
    * the sidecar is a pure accelerator.
    *
    * (2) `shingles` state for the UNCAPPED exact front — the SAME
    * table the LSH front maintains (identical
    * [[Dedup.hashedShingles]] content, so a later lshFront upgrade
    * backfills only bands/prefixes) — engaged only once the stored
    * corpus crosses [[exactSidecarMinRows]] (or the table already
    * exists: once created it is maintained forever). Below the
    * threshold the recompute delta wins: the state path pays
    * per-batch state writes plus multiple stored-array scans, and at
    * gate scale that MEASURED 2× the recompute's CPU (70 s vs 26 s at
    * sf0.01, counting-join shape, either AQE setting); above it the
    * trade reverses — the recompute's per-batch corpus re-tokenize is
    * the cost that grows with text volume, while the state path reads
    * columnar (id, sh) longs. The crossover engages via
    * [[ensureExactShingles]]' one-time backfill, exactly like the
    * lshFront upgrade. A df-CAP store never persists state: the cap
    * is a population property whose drift would invalidate stored
    * prefixes/shingle survivorship (the documented
    * [[Dedup.incrementalRelease]] contract).
    */
  private def exactDocIdsEnabled: Boolean = !lshFront

  /** Whether THIS ingest maintains exact-front shingle state: uncapped
    * exact front, and (already created) OR (corpus provably past the
    * threshold — zero-job footer count; an undecidable walk defers).
    */
  private def exactShinglesLive: Boolean =
    !lshFront && maxShingleDf.isEmpty && (
      fs.exists(hPath(s"$path/shingles")) ||
      tableFooterRows("docs").exists(_ >= exactSidecarMinRows))

  /** Whether THIS ingest's id guards may consult the `docids` sidecar
    * (set by [[ensureDocIds]] under the writeLock; single-writer per
    * store by contract).
    */
  @volatile private var docIdsUsable: Boolean = false

  /** Whether THIS ingest maintains the `docids` sidecar at all (set by
    * [[ensureDocIds]]): the table exists (exists-wins), or the corpus
    * provably crossed the shared size dispatch. Distinct from
    * [[docIdsUsable]] — a capped footer walk can leave an existing
    * sidecar maintained but unconsulted for one ingest.
    */
  @volatile private var docIdsLive: Boolean = false

  /** Accepted-id resolution routed through the narrow `docids`
    * sidecar when this ingest proved it consistent — the consulted
    * scan is then statically small (one long column), so the plain
    * anti-join broadcasts under static planning too (the regime
    * suspends AQE).
    */
  protected override def storedAcceptIds(idColName: String, table: String,
      batchIds: DataFrame): DataFrame =
    if (table == "docs" && docIdsUsable)
      super.storedAcceptIds("id", "docids", batchIds)
    else super.storedAcceptIds(idColName, table, batchIds)

  /** Decide the sidecar dispatch, then prove (or restore) `docids` ==
    * `docs`' id set for this ingest. Dispatch (shared threshold with
    * the shingle state, exists-wins): a store below
    * [[exactSidecarMinRows]] with no sidecar skips maintenance entirely
    * and its guards consult `docs` — the round-15 shape, measured
    * cheapest at gate scale. Once live: footer row counts equal →
    * usable as-is (zero jobs; steady state pays footer reads only for
    * the last append's files); unequal or sidecar missing → rebuild
    * from `docs`' id column (ONE pruned columnar pass — heals any
    * crash window and backfills a legacy or threshold-crossing
    * store); undecidable (cold-cap) → consult `docs` this ingest.
    */
  private def ensureDocIds(): Unit = {
    docIdsUsable = false
    docIdsLive = false
    if (!exactDocIdsEnabled) return
    // first ingest: no corpus yet, so by definition below the dispatch
    if (!fs.exists(hPath(s"$path/docs"))) return
    recoverTable("docids") // heal a compact-crash aside BEFORE exists
    val docsRows = tableFooterRows("docs")
    val exists = fs.exists(hPath(s"$path/docids"))
    if (!exists && !docsRows.exists(_ >= exactSidecarMinRows)) return
    docIdsLive = true
    val sideRows = if (exists) tableFooterRows("docids") else Some(-1L)
    (docsRows, sideRows) match {
      case (Some(d), Some(i)) if d == i => docIdsUsable = true
      case (Some(_), _) =>
        installTable(s"$path/docids", docs.select(col(idCol).as("id")),
          ".backfill")
        docIdsUsable = true
      case _ => () // footer walk capped: docs stays the consulted scan
    }
  }

  /** Banded signatures in the store's pinned hash family. */
  private def bandsOf(sh: DataFrame): DataFrame =
    if (portable) Dedup.portableBands(sh, k, bands, seed)
    else Dedup.fastBands(sh, k, bands, seed)

  /** SHAPE PIN (`store.meta`): every constructor knob that determines
    * what the persisted tables MEAN — hash/band shape behind `scored`
    * and `bands`, the df-cap, the containment floor, id/text columns,
    * and the two front flags — validated by
    * [[graft.store.DurableStore.checkShape]]. Without it a reopen with
    * different flags corrupts silently rather than failing loudly: a
    * collapse store opened `collapseFront = false` reads REP-level
    * scored rows as member-level (products quietly shrink); a
    * state-enabled store opened `lshFront = false` recomputes deltas
    * while its state tables go stale, poisoning every later
    * state-probing reopen; a different `seed`/`k`/`bands` scores new
    * batches in a different hash space than the accumulated pairs.
    * The two documented in-place UPGRADES stay legal (false → true on
    * either front — [[ensureState]] backfills), and the pin follows
    * the upgrade; downgrades and every other mismatch throw.
    */
  protected override def shape: Map[String, String] = Map(
    "idCol" -> idCol, "textCol" -> textCol,
    "maxShingleDf" -> maxShingleDf.map(_.toString).getOrElse("none"),
    "lshFront" -> lshFront.toString,
    "collapseFront" -> collapseFront.toString,
    "portable" -> portable.toString,
    "containPm" -> math.round(containThreshold * 1000).toString,
    "k" -> k.toString, "bands" -> bands.toString, "seed" -> seed.toString,
    // one file layout, no id-hash partition dirs (the bucketed layout
    // measured slower in every regime, PLANS.md round 13, and is gone):
    // a store an older build pinned with buckets > 0 is refused here
    // instead of misread
    "buckets" -> "0")

  protected override def shapeUpgrades: Set[String] =
    Set("lshFront", "collapseFront")

  def docs: DataFrame = {
    checkShape(pin = false)
    recoverTable("docs")
    readInferred(s"$path/docs")
  }

  /** The accumulated scored pair set. `batch` records which ingest
    * generated each row (−1 for un-id'd batch calls).
    */
  def scored: DataFrame = {
    checkShape(pin = false)
    recoverTable("scored")
    readInferred(s"$path/scored")
  }

  /** Whether collapse-front membership EXISTS — healing a compact-crash
    * aside first, exactly like the shingles exists-wins read: every
    * decision that branches on "members present" must see a table
    * sitting at `.compact.old` as present, or a collapse store's
    * products would silently read REP-level scored rows as
    * member-level (and an ingest would start a FRESH members table
    * beside the aside one, losing membership durably).
    */
  private def membersLive: Boolean = collapseFront && {
    recoverTable("members")
    fs.exists(hPath(s"$path/members"))
  }

  /** Collapse-front membership (id, rep, batch) — explicit schema so an
    * all-unique corpus's empty table still reads.
    */
  private def membersTable: DataFrame = {
    recoverTable("members")
    readTable("members", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rep",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch",
        org.apache.spark.sql.types.LongType))))
  }

  /** Member-level scored rows for product derivation: the collapse
    * store expands its REP-level pairs through `members`
    * ([[Dedup.expandCollapsedScored]] — cross pairs inherit scores,
    * within-group pairs synthesize at common = n); per-doc stores pass
    * through.
    */
  private def expandedScored(sc: DataFrame): DataFrame =
    if (!membersLive) sc
    else {
      recoverTable("shingles")
      // explicit schema (derived like storedStateDelta's): a shingles
      // dir whose only appends were all-empty frames has no data files
      // to infer from
      val shSchema = Dedup.hashedShingles(
        docs.limit(0), idCol, textCol, portable).schema
      val sizes = readTable("shingles", shSchema)
        .select(col("id"), size(col("sh")).cast("long").as("n"))
      Dedup.expandCollapsedScored(sc,
        membersTable.select(col("id"), col("rep")), sizes)
    }

  /** This batch's ACCEPTED ids — the shared sidecar-pinned resolution
    * ([[graft.store.DurableStore.resolveAccepted]]) against `docs`.
    */
  private def acceptedIds(batch: DataFrame,
      batchId: Option[Long]): DataFrame =
    resolveAccepted(batch, idCol, "docs", batchId)

  /** Ingest one micro-batch of documents (idCol, textCol + any carried
    * columns): append the batch's accepted rows to `docs` and their
    * batch-touching scored pair delta to `scored`, each exactly-once
    * under `batchId`.
    */
  def ingest(batch: DataFrame, batchId: Option[Long] = None): Unit =
    // under writeLock: a compact() racing this append would read the
    // table, swap the rewritten copy in, and silently DELETE the rows
    // this batch appended in between (while their commit marker says
    // they landed, so the replay would skip too)
    writeLock.synchronized {
    // scoped, not releaseAll: the ingest's own scratch persists (state
    // frames, candidate sets) die with the call, but frames the CALLER
    // holds — a persisted fingerprint/document corpus being sliced into
    // batches — must survive, or every subsequent batch silently
    // recomputes the caller's full lineage inside its own wall
    graft.ScratchCache.scoped {
    checkShape(pin = true)
    recoverTable("docs"); recoverTable("scored")
    if (stateEnabled) stateTables.foreach(recoverTable)
    // heal collapse membership BEFORE anything branches on its
    // existence (the upgrade probe and dedupAppend's anti-join guard
    // both do) — an unhealed aside would seed a FRESH members table
    if (collapseFront) recoverTable("members")
    // heal a compact-crash window BEFORE the exists-wins read: a
    // shingles table sitting at .compact.old must count as existing,
    // or this ingest would silently abandon live state
    if (exactDocIdsEnabled) recoverTable("shingles")
    val exactState = exactShinglesLive // one footer walk per ingest
    ensureDocIds()
    // micro-batch scheduling regime: with every consulted table small,
    // the ingest's many write actions run non-adaptively (one job per
    // action instead of one per exchange — the drive's scheduling
    // floor). LSH-front probes are hint-driven equi-joins where static
    // planning equals adaptive (collapse-drive jobs 154 -> 94 at
    // identical parity and cpu). The EXACT front joins the regime when
    // its state is live (round 16): the scored delta reads stored
    // shingle state instead of re-shingling the fat `docs` scan, and
    // the id guards consult the statically-small `docids` sidecar —
    // the two fat-scan-derived plans whose static size estimates used
    // to degrade runtime broadcasts to sort-merge joins under
    // suspension (the measured ~2.8–6x CPU regression). A capped
    // store, or an ingest whose sidecar could not be proven
    // consistent, keeps AQE.
    def regime[T](f: => T): T =
      if (lshFront) withSmallRegimeScheduling(Seq("docs", "scored") ++
        (if (stateEnabled) stateTables else Nil))(f)
      else f
    // The exact front's AQE posture, settled by round-16 A/B
    // measurement (sf0.01 gate, min-of-3, CPU self-attributed):
    // suspending AQE across the whole ingest cost 105 s CPU vs the
    // 26 s baseline (4× — the uncapped shingle index join is SKEWED
    // on corpus-wide hot shingles and AQE's skew splits are
    // load-bearing), and even guards-only suspension cost 51 s (the
    // fat-batch shuffles lose adaptive coalescing). Only the NARROW
    // actions — accepted-id resolution against the docids sidecar and
    // the sidecar's own append — run non-adaptively: their plans
    // consult statically-small scans where static == adaptive.
    def narrowRegime[T](f: => T): T =
      if (!lshFront && exactDocIdsEnabled && docIdsUsable)
        withSmallRegimeScheduling(Seq("docids"))(f)
      else f
    val (accepted, bState, bShExact) = regime {
    val accepted = narrowRegime(acceptedIds(batch, batchId))
    // state backfill + appends run BEFORE the docs append: backfill
    // derives state from docs MINUS the current batch's accepted ids
    // (whose rows the marker-guarded appends below own), so a replay
    // interleaved with a landed docs append cannot double-count them
    val bState =
      if (stateEnabled) {
        ensureState(accepted)
        Some(appendState(batch, accepted, batchId))
      } else None
    val bShExact =
      if (exactState) {
        ensureExactShingles(accepted)
        Some(appendExactShingles(batch, accepted, batchId))
      } else None
    markers.guarded("docs", batchId) {
      // anti-join against the LIVE table: a replay after a landed-but-
      // unmarked append finds its rows present and appends nothing
      // (consulted through the docids sidecar when proven consistent —
      // a replay's landed rows are visible there too, because the
      // footer-count gate already healed any docs/docids skew)
      val base = batch.dropDuplicates(idCol)
        .join(broadcast(accepted), col(idCol) === col("__bid"),
          "left_semi")
      val fresh =
        if (fs.exists(hPath(s"$path/docs")))
          probeAntiJoin(base, storedAcceptIds(idCol, "docs", accepted)
              .select(col("__bid").as(idCol)),
            Seq(idCol), "docs",
            probeKeys = Some(accepted.select(col("__bid").as(idCol))))
        else base
      fresh.write.mode(SaveMode.Append).parquet(s"$path/docs")
      // the narrow id sidecar lands SECOND (docids ⊆ docs across any
      // crash — the ensureDocIds invariant), via the idempotent
      // anti-join append — only when the size dispatch keeps it live
      if (docIdsLive)
        narrowRegime(dedupAppend(accepted.select(col("__bid").as("id")),
          "docids", accepted))
    }
    (accepted, bState, bShExact)
    }
    def scoredGuard(): Unit = markers.guarded("scored", batchId) {
      val delta = (bState, bShExact) match {
        case (Some((bsh, bBands, bPref)), _) =>
          storedStateDelta(bsh, bBands, bPref)
        case (None, Some(bsh)) =>
          storedExactDelta(bsh, accepted)
        case _ =>
          // batch membership = the ACCEPTED ids (not "rows in this
          // batch"): identical on every replay, and a re-crawled
          // duplicate id never re-marks its previously-stored row
          val marked = docs
            .join(broadcast(accepted), col(idCol) === col("__bid"), "left")
            .withColumn("__isb", col("__bid").isNotNull).drop("__bid")
          if (lshFront)
            Dedup.incrementalLshScoredPairs(marked, idCol, textCol,
              col("__isb"), containThreshold, maxShingleDf, k, bands, seed,
              portable)
          else
            Dedup.incrementalScoredPairs(marked, idCol, textCol,
              col("__isb"), maxShingleDf)
      }
      delta
        .withColumn("batch", lit(batchId.getOrElse(-1L)))
        .write.mode(SaveMode.Append).parquet(s"$path/scored")
    }
    regime(scoredGuard())
    }
    // the accepted-set checkpoint (un-id'd ingests only) has served its
    // last consumer — free its blocks (not ScratchCache-tracked:
    // localCheckpoint blocks need their own release)
    freeAcceptedCheckpoint()
  }

  /** Shingle, band and rarest-prefix the batch's accepted rows and
    * append them to the state tables (marker-guarded, same crash
    * window as `scored`). Returns the three batch-side frames — on a
    * replay whose appends are skipped, the recomputed frames equal the
    * stored ones (deterministic functions of the sidecar-pinned
    * accepted set).
    */
  /** Idempotent state append: anti-join the table's stored ids first.
    * Two replay windows need it: un-id'd ingests have NO marker
    * protection (guarded(None) always writes), and even an ID'D batch
    * can land a state append and die BEFORE its marker commits — the
    * replay's guarded re-runs the write, and without the anti-join
    * every state row would append a second time, durably corrupting
    * the scored delta of every later batch. The recomputed rows are
    * deterministic functions of the sidecar-pinned accepted set, so
    * skipping already-present ids is exactly replay semantics, per
    * table (a crash between the shingles and bands appends skips one
    * and lands the other). An id in the frame that is already stored
    * can ONLY be that window — re-crawled ids never reach a state
    * append (the accepted set excludes them) — and the join's right
    * side is one column-pruned id scan, probe-inverted when big: the
    * probe key set IS the accepted ids — already materialized as the
    * sidecar — so the store is streamed against a broadcast, never
    * sorted.
    */
  private def dedupAppend(frame: DataFrame, table: String,
      accepted: DataFrame): Unit = {
    val fresh =
      if (fs.exists(hPath(s"$path/$table")))
        probeAntiJoin(frame,
          readTable(table, frame.schema).select(col("id")),
          Seq("id"), table,
          probeKeys = Some(accepted.select(col("__bid").as("id"))))
      else frame
    fresh.write.mode(SaveMode.Append).parquet(s"$path/$table")
  }

  /** Backfill the exact front's `shingles` state from the stored
    * corpus (minus the current batch's accepted ids — the replay view,
    * exactly [[ensureState]]'s discipline): a store whose docs predate
    * the state pays the corpus pass ONCE, atomically, instead of
    * re-shingling per increment forever.
    */
  private def ensureExactShingles(accepted: DataFrame): Unit = {
    if (!fs.exists(hPath(s"$path/docs"))) return
    if (fs.exists(hPath(s"$path/shingles"))) return
    val base = docs.join(broadcast(accepted),
      col(idCol) === col("__bid"), "left_anti")
    installTable(s"$path/shingles",
      Dedup.hashedShingles(base, idCol, textCol, portable), ".backfill")
  }

  /** Shingle the batch's accepted rows and append them to the exact
    * front's `shingles` state (marker-guarded, [[dedupAppend]]
    * idempotent). Returns the batch-side frame — on a replay whose
    * append is skipped, the recomputed frame equals the stored one
    * (a deterministic function of the sidecar-pinned accepted set).
    */
  private def appendExactShingles(batch: DataFrame, accepted: DataFrame,
      batchId: Option[Long]): DataFrame = {
    val bdocs = batch.dropDuplicates(idCol)
      .join(accepted, col(idCol) === col("__bid"), "left_semi")
    val bsh = Dedup.hashedShingles(bdocs, idCol, textCol, portable)
    markers.guarded("shingles", batchId) {
      dedupAppend(bsh, "shingles", accepted)
    }
    bsh
  }

  /** The exact front's batch-touching scored delta from STORED shingle
    * state — [[Dedup.incrementalScoredPairs]]' exact plan shape (the
    * counting index join with map-side partial aggregation; only
    * (id, s) long pairs ever shuffle, never shingle ARRAYS), with the
    * corpus-side index read from the persisted (id, sh) state instead
    * of re-tokenizing and re-shingling every stored document per batch
    * (the exact front's former corpus-linear CPU). The first cut of
    * this path scored candidates via array_intersect over the full
    * sets ([[Dedup.scoreCandidates]]) — measured 3.5× the recompute's
    * CPU at gate scale because both scoring joins shuffled the fat
    * array column; the counting shape is the one that was already
    * proven.
    */
  private def storedExactDelta(bsh: DataFrame,
      accepted: DataFrame): DataFrame = {
    val storedSh = Spread.wide(readTable("shingles", bsh.schema))
    // corpus side = stored state MINUS the batch's accepted ids (their
    // state rows were appended above; without the anti-join a
    // batch-internal pair would count once from the self-join and once
    // per member from the cross join)
    val acc = accepted.select(col("__bid").as("id"))
    val cSh = storedSh.join(broadcast(acc), Seq("id"), "left_anti")
    val bIdx = bsh.select(col("id"), explode(col("sh")).as("s"))
    val cIdx = cSh.select(col("id"), explode(col("sh")).as("s"))
    // batch × corpus, canonicalized to (min, max); batch × batch via
    // the ordered self-join — disjoint by construction
    val bc = bIdx.as("a").join(cIdx.as("b"), col("a.s") === col("b.s"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val bb = bIdx.as("a").join(bIdx.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val pairs = bc.unionAll(bb)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    // sizes: narrow (id, n) over the stored state (the batch's rows
    // are appended, so every pair member resolves)
    val sizes = storedSh.select(col("id"), size(col("sh")).cast("long").as("n"))
    pairs
      .join(sizes.as("na"), col("id_a") === col("na.id"))
      .join(sizes.as("nb"), col("id_b") === col("nb.id"))
      .select(col("id_a"), col("id_b"), col("common"),
        col("na.n").as("n_a"), col("nb.n").as("n_b"))
  }

  private def appendState(batch: DataFrame, accepted: DataFrame,
      batchId: Option[Long]): (DataFrame, DataFrame, DataFrame) = {
    def dedupAppend(frame: DataFrame, table: String): Unit =
      this.dedupAppend(frame, table, accepted)
    val bdocs = batch.dropDuplicates(idCol)
      .join(accepted, col(idCol) === col("__bid"), "left_semi")
    val bshAll = Dedup.hashedShingles(bdocs, idCol, textCol, portable)
    val bsh = if (!collapseFront) bshAll else {
      // group-membership resolution against PRIOR reps: stored state
      // minus this batch's accepted rows (the replay view — a landed
      // state append must not make the batch's own reps look prior).
      // Docs matching a stored set become members of its rep; the rest
      // group within the batch (rep = min id) and only THOSE reps get
      // state rows and probes below.
      val acc = accepted.select(col("__bid").as("id"))
      val priorReps =
        if (fs.exists(hPath(s"$path/shingles")))
          readTable("shingles", bshAll.schema)
            .join(broadcast(acc), Seq("id"), "left_anti")
            .select(col("id").as("rep"), sort_array(col("sh")).as("skey"))
        else bshAll.limit(0)
          .select(col("id").as("rep"), sort_array(col("sh")).as("skey"))
      val bKey = graft.ScratchCache.persist(
        bshAll.withColumn("skey", sort_array(col("sh"))))
      val matched = bKey.join(priorReps, Seq("skey"))
        .select(col("id"), col("rep"))
      val freshRep = bKey.join(priorReps, Seq("skey"), "left_anti")
        .withColumn("rep", min(col("id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("skey")))
      val members = matched.unionAll(freshRep.select(col("id"), col("rep")))
        .withColumn("batch", lit(batchId.getOrElse(-1L)))
      markers.guarded("members", batchId) {
        dedupAppend(members, "members")
      }
      graft.ScratchCache.persist(
        freshRep.where(col("id") === col("rep")).select(col("id"), col("sh")))
    }
    val bBands = graft.ScratchCache.persist(bandsOf(bsh))
    val bIdx = bsh.select(col("id"), explode(col("sh")).as("s"))
    // batch-local df ranking: rare-in-batch tracks rare-globally well
    // enough for probe economy, and ANY prefix choice keeps recall
    val bdf = bIdx.groupBy("s").agg(count(lit(1)).as("df"))
    val bSizes = bsh.select(col("id"), size(col("sh")).cast("long").as("n"))
    val bPref = graft.ScratchCache.persist(
      Dedup.rarestPrefix(bIdx, bSizes, math.round(containThreshold * 1000),
        bdf, extraRows = Dedup.PrefixMinShared - 1))
    markers.guarded("shingles", batchId) {
      dedupAppend(bsh, "shingles")
    }
    markers.guarded("bands", batchId) {
      dedupAppend(bBands, "bands")
    }
    markers.guarded("prefixes", batchId) {
      dedupAppend(bPref, "prefixes")
    }
    (bsh, bBands, bPref)
  }

  /** Backfill missing state tables from the stored corpus — a store
    * whose `docs` predate the state tables (ingested exact-front or
    * capped, or pre-state builds) upgrades on first state ingest by
    * paying the corpus pass ONCE, atomically (write-temp-then-rename),
    * instead of per increment.
    */
  private def ensureState(accepted: DataFrame): Unit = {
    if (!fs.exists(hPath(s"$path/docs"))) return
    // a collapse store without its members table is a per-doc (or
    // pre-state) history upgrading in place: ALL state tables rebuild
    // rep-level and `scored` rewrites to rep pairs, with the members
    // install LAST — its presence is the upgrade's commit point, and
    // every step before it is idempotent (deterministic rebuilds; the
    // scored rewrite maps rep-level rows identically)
    val upgrade = collapseFront && !fs.exists(hPath(s"$path/members"))
    val missing =
      if (upgrade) stateTables
      else stateTables.filterNot(t => fs.exists(hPath(s"$path/$t")))
    if (missing.isEmpty && !upgrade) return
    val base = docs.join(broadcast(accepted),
      col(idCol) === col("__bid"), "left_anti")
    val shAll = Dedup.hashedShingles(base, idCol, textCol, portable)
    val (sh, members) =
      if (!collapseFront) (shAll, None)
      else if (!upgrade) {
        // post-upgrade store healing a lost state table: rep assignment
        // is pinned by the stored members table — first-ingested reps
        // are NOT the global min id, so recomputing the grouping would
        // desync the rebuilt table from members and scored
        val acc = accepted.select(col("__bid").as("id"))
        val reps = membersTable.join(broadcast(acc), Seq("id"),
          "left_anti")
          .where(col("id") === col("rep")).select(col("id"))
        (graft.ScratchCache.persist(
          shAll.join(reps, Seq("id"), "left_semi")), None)
      } else {
        val grouped = graft.ScratchCache.persist(shAll.withColumn("rep",
          min(col("id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(sort_array(col("sh"))))))
        // batch = −2: pre-history membership, which no ingest generated
        // (distinct from −1 = un-id'd ingest)
        (graft.ScratchCache.persist(grouped
            .where(col("id") === col("rep")).select(col("id"), col("sh"))),
          Some(grouped.select(col("id"), col("rep"))
            .withColumn("batch", lit(-2L))))
      }
    // move-aside install: upgrades overwrite EXISTING per-doc tables; a
    // crash mid-sequence re-enters here (members still missing) and
    // rebuilds the same content
    def install(name: String, df: DataFrame): Unit =
      installTable(s"$path/$name", df, ".backfill")
    if (missing.contains("shingles")) install("shingles", sh)
    if (missing.contains("bands"))
      install("bands", bandsOf(sh))
    if (missing.contains("prefixes")) {
      val idx = sh.select(col("id"), explode(col("sh")).as("s"))
      val dfs = idx.groupBy("s").agg(count(lit(1)).as("df"))
      val sizes = sh.select(col("id"), size(col("sh")).cast("long").as("n"))
      install("prefixes", Dedup.rarestPrefix(idx, sizes,
        math.round(containThreshold * 1000), dfs,
        extraRows = Dedup.PrefixMinShared - 1))
    }
    members.foreach { m =>
      // rewrite the accumulated member-level pairs to rep level BEFORE
      // the members install commits the upgrade. Identical sets score
      // identically, so the rewrite is a pure dedup: map both ids to
      // their reps, drop within-group rows (synthesized on read), keep
      // the earliest batch stamp. Idempotent: reps are their own
      // members, so a second pass maps every row to itself.
      if (fs.exists(hPath(s"$path/scored"))) {
        val sc = scored
        val ma = m.select(col("id").as("id_a"), col("rep").as("ra"))
        val mb = m.select(col("id").as("id_b"), col("rep").as("rb"))
        val repScored = sc.join(ma, "id_a").join(mb, "id_b")
          .where(col("ra") =!= col("rb"))
          .select(least(col("ra"), col("rb")).as("id_a"),
            greatest(col("ra"), col("rb")).as("id_b"),
            col("common"),
            when(col("ra") <= col("rb"), col("n_a")).otherwise(col("n_b"))
              .as("n_a"),
            when(col("ra") <= col("rb"), col("n_b")).otherwise(col("n_a"))
              .as("n_b"),
            col("batch"))
          .groupBy("id_a", "id_b", "common", "n_a", "n_b")
          .agg(min("batch").as("batch"))
        install("scored", repScored)
      }
      install("members", m)
    }
    // persists released by ingest's scoped block (ensureState only runs
    // inside it) — a releaseAll here would nuke the caller's frames
  }

  /** The batch-touching scored delta from STORED state: batch bands
    * join the stored banded set, batch prefixes probe the stored index
    * (batch contained in anything) and stored prefixes probe the batch
    * index (anything contained in batch) — no corpus row is
    * re-shingled, re-banded or re-ranked; the corpus-side cost is
    * columnar scans of the state tables. Explicit read schemas: an
    * all-duplicate batch appends zero rows, and schema inference over
    * a dir with no data files would fail.
    */
  private def storedStateDelta(bsh: DataFrame, bBands: DataFrame,
      bPref: DataFrame): DataFrame = {
    // Spread the stored-side scans: a state table compacted to
    // ≲ cores × maxPartitionBytes reads as a handful of partitions, and
    // the probe pipelines here keep that partitioning through their
    // whole fan-out — the batch side broadcasts, so the explode + join
    // + partial pair-count aggregation all execute on the SCAN's
    // partitions. Measured at ×100 right after the mid-stream compact:
    // one task aggregating the probe fan-out for 20+ minutes while 31
    // cores idled (per-batch wall 156 s → 1214/1415 s). Spread.wide's
    // bounded shuffle of the stored side (its pre-fan-out scan size)
    // restores width; once the table outgrows cores × maxPartitionBytes
    // or cores files, the scan is naturally wide and it is a no-op.
    val storedSh = Spread.wide(readTable("shingles", bsh.schema))
    val storedBands = Spread.wide(readTable("bands", bBands.schema))
    val storedPref = Spread.wide(readTable("prefixes", bPref.schema))
    val storedIdx = storedSh.select(col("id"), explode(col("sh")).as("s"))
    val bIdx = bsh.select(col("id"), explode(col("sh")).as("s"))
    val candJ = bBands.as("a")
      .join(storedBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    // the count filter keeps exact recall by the ranking-free subset
    // argument (prefixes are written PrefixMinShared − 1 rows wide)
    val ctPm = math.round(containThreshold * 1000)
    val bSizes = bsh.select(col("id"), size(col("sh")).cast("long").as("n"))
    val sSizes =
      storedSh.select(col("id"), size(col("sh")).cast("long").as("n"))
    val candC =
      Dedup.prefixProbeCounted(bPref, storedIdx, bSizes, ctPm,
        Dedup.PrefixMinShared)
        .unionAll(Dedup.prefixProbeCounted(storedPref, bIdx, sSizes, ctPm,
          Dedup.PrefixMinShared))
    val cand = graft.ScratchCache.persist(candJ.unionAll(candC).distinct())
    val candIds = graft.ScratchCache.persist(
      cand.select(col("id_a").as("id"))
        .unionAll(cand.select(col("id_b").as("id"))).distinct())
    Dedup.scoreCandidates(cand, readTable("shingles", bsh.schema)
      .join(broadcast(candIds), Seq("id"), "left_semi"))
  }

  /** Start the continuous durable release over a document STREAM: each
    * micro-batch ingests exactly-once under the checkpoint's batch ids
    * ([[ingest]] with `foreachBatch`'s id — the dedupAppend markers
    * make the sink's at-least-once replays no-ops). Pairs accumulate
    * against the WHOLE stored corpus, and [[products]] reads the release at any time while the stream runs (reads are
    * driver-sequential per store by the DurableStore contract). One
    * active stream per store per process — same contract as
    * [[graft.operators.dedup.MediaStore.start]].
    */
  def start(stream: DataFrame, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 seconds"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          ingest(batch.toDF(), Some(id))
      }
      .start()

  /** The eight-product release over everything ingested so far, derived
    * from the STORED pair set — the pair join is never re-run.
    * Containment verifies at the STORE's `containThreshold` (a
    * constructor knob, not a per-call one): with `lshFront`, the prefix
    * front only guarantees candidates down to that threshold, so a
    * looser per-call value would silently miss pairs it never generated.
    */
  def products(threshold: Double, quality: DataFrame,
      sourceCol: String = "source"): Dedup.ReleaseProducts = {
    checkShape(pin = false)
    val sc0 = scored.drop("batch")
    // collapse stores label clusters at REP level + member star edges
    // instead of CC over the member-level expansion: identical sets are
    // jaccard-1 pairs, so membership IS connectivity, and min-label CC
    // over (rep pairs ∪ id→rep edges) equals CC over the expanded pair
    // set exactly (every member is present, reachability unchanged) —
    // while the edge set shrinks by the square of the dup-group size.
    // At ×100 replication that is the difference between clustering
    // 27.3M expanded pairs and ~250k rep pairs + one edge per doc; the
    // expansion itself remains lazy input to the output-sized products
    // (pairs/containment/overlap), which are inherently member-level.
    val labels =
      if (membersLive) {
        recoverTable("shingles")
        val shSchema = Dedup.hashedShingles(
          docs.limit(0), idCol, textCol, portable).schema
        val sizes = readTable("shingles", shSchema)
          .select(col("id"), size(col("sh")).cast("long").as("n"))
        Some(Dedup.collapsedClusterLabels(sc0,
          membersTable.select(col("id"), col("rep")), sizes, threshold))
      } else None
    Dedup.productsOf(
      graft.ScratchCache.persist(expandedScored(sc0)),
      docs, idCol, threshold, quality, sourceCol, containThreshold,
      clustersOverride = labels)
  }

  /** Small-file compaction: rewrite `docs` and `scored` to
    * `targetFileBytes`-sized files via write-temp-then-swap (two
    * renames; no reader window over a half-written table), then prune the accepted-id
    * sidecars of fully-committed batches (a sidecar only matters while
    * its batch could still replay). Commit markers live under
    * `_commits/` and are untouched, so replay accounting survives
    * compaction. File count after: ≤ ⌈bytes/target⌉ per table, bounded
    * regardless of how many micro-batches accumulated.
    *
    * READER CONTRACT: a `DataFrame` obtained from [[docs]]/[[scored]]
    * (or a [[products]] result not yet fully consumed) BEFORE a
    * `compact()` holds the old file listing and is INVALIDATED by the
    * swap — executing it afterwards fails on missing files or reads
    * nothing. Re-resolve through the accessors after compaction; the
    * single-writer contract extends to sequencing reads around
    * `compact()`, exactly as it sequences them around [[ingest]].
    */
  def compact(targetFileBytes: Long = 256L * 1024 * 1024): Unit = {
    checkShape(pin = false)
    // state tables compact under the same swap discipline; a missing
    // table (exact-front store, pre-state history, per-doc store
    // without members) is skipped
    (Seq("docs", "scored", "members", "docids") ++ stateTables)
      .foreach(compactTable(_, targetFileBytes))
    pruneSidecars(Seq("docs", "scored"))
  }
}

object ReleaseStore {
  /** Reopen an existing store with its PINNED shape — the operational
    * entry point that cannot drift: every flag comes from `store.meta`,
    * not from the caller's memory of the original construction. Throws
    * on a store with no pin (never ingested) or a truncated one —
    * construct explicitly once and ingest to pin it.
    */
  def open(spark: SparkSession, path: String): ReleaseStore = {
    val m = graft.store.DurableStore.pinnedShape(spark, path, "ReleaseStore",
      Seq("idCol", "textCol", "maxShingleDf", "lshFront", "collapseFront",
        "portable", "containPm", "k", "bands", "seed"))
    new ReleaseStore(spark, path, m("idCol"), m("textCol"),
      maxShingleDf = Some(m("maxShingleDf")).filter(_ != "none").map(_.toInt),
      lshFront = m("lshFront").toBoolean,
      containThreshold = m("containPm").toLong / 1000.0,
      k = m("k").toInt, bands = m("bands").toInt, seed = m("seed").toLong,
      portable = m("portable").toBoolean,
      collapseFront = m("collapseFront").toBoolean)
  }
}
