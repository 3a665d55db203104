package graft.operators.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Spread
import graft.operators.multimodal.Multimodal

/** Persisted, continuously-maintained PERCEPTUAL near-dup state — the
  * media twin of [[ReleaseStore]]: where text dedup accumulates scored
  * shingle pairs, this store accumulates 64-bit perceptual fingerprints
  * (image/video/audio dHash — [[Multimodal.imageDHash]] /
  * [[Multimodal.videoDHash]] / [[Multimodal.audioDHash]], dispatched by
  * [[MediaStore.fingerprints]]) and their ≤-`maxHamming` pair set, so a
  * crawl's media dedup pays batch-proportional cost per ingest instead
  * of re-running a full-corpus [[Dedup.hammingPairs]] per release.
  *
  * Parquet tables under `path` — `prints` (id, sh, kind, batch: the
  * fingerprint corpus), `pairs` (id_a, id_b, hamming, kind, batch: the
  * accumulated verified pair set, id_a < id_b), `batches/batch=N`
  * accepted-id sidecars and `clusters/` (the cached CC label table) —
  * all under the [[graft.store.DurableStore]] discipline shared with
  * [[ReleaseStore]]: per-table commit markers make at-least-once
  * `foreachBatch` replays exactly-once, the sidecar pins batch
  * membership across replays, compaction swaps tables move-aside with
  * crash healing. Same ID CONTRACT: ids are globally unique across the
  * STORE; a re-crawled id in a later batch is ignored (first write
  * wins).
  *
  * KIND SAFETY: fingerprints of different modalities live in ONE hash
  * space (64-bit dHash-family), and degenerate inputs hash degenerate
  * (a solid image's gradient dHash and a constant audio envelope both
  * land near all-zeros) — so `kind` is part of the pair semantics, not
  * metadata. `prints` rows carry their modality, `pairs` form only
  * within one (`kind` joins the [[Dedup.hammingJoin]] blocking
  * equi-key — one more key column in the same join, no extra pass),
  * and [[purge]] can therefore never delete an image as a "duplicate"
  * of an audio clip.
  *
  * Each ingest pays the batch×stored two-sided [[Dedup.hammingJoin]]
  * (both sides 16-bit-chunk blocked — an equi-join, never a cross
  * product) plus the batch's [[Dedup.hammingPairs]] self-join;
  * stored×stored is never re-paired. UNION COMPLETENESS: a ≤-maxHamming
  * pair {a, b} with b accepted no earlier than a is generated exactly
  * once — by b's batch (a on the stored side, b on the batch side; or
  * the self-join when both arrive together) — so the accumulated pair
  * set equals a from-scratch `hammingPairs` over the accumulated prints
  * (MediaStoreSpec pins it; `q_media_store` drives two real batches
  * through the `q_image_neardup` oracle). The 100 TB posture: the
  * stored side of the probe is a columnar scan of two longs per stored
  * fingerprint — ingest cost tracks the batch and the (pigeonhole-
  * bounded) candidate volume, not corpus².
  *
  * [[clusters]] maintains the CC label table incrementally per the
  * `pairs` water mark — prior components ride the merge as star edges
  * (id → root), [[graft.store.DurableStore.foldClusterLabels]] — and
  * [[purge]] serves keeper decisions from the stored pairs without
  * re-pairing anything.
  *
  * SHAPE PIN: `maxHamming` and `chunks` determine what the persisted
  * `pairs` MEAN (a reopen at a different radius would silently mix pair
  * sets), and the clip plane's radius and packing modulus what its
  * `clippairs` mean; all are recorded in `store.meta` at first ingest
  * and validated on every entry point
  * ([[graft.store.DurableStore.checkShape]]) — [[MediaStore.open]]
  * reconstructs a store from its pin.
  *
  * LAYOUT: every table is one flat parquet dir. The id-keyed replay
  * guards — accepted-id resolution, the prints dedup anti-join, the
  * pair-key anti-join — stream the stored side against a broadcast
  * probe when it is big ([[graft.store.DurableStore.probeAntiJoin]]),
  * and the [[Dedup.hammingJoin]] probe legitimately reads ALL stored
  * prints (a content probe can match any id — though a micro batch's
  * collected chunk values pre-prune it to the rows that can candidate
  * at all, [[Dedup.hammingPrefilter]]).
  */
final class MediaStore(protected val spark: SparkSession,
    protected val path: String,
    maxHamming: Int = 3, chunks: Int = 4,
    /** Frame-level Hamming radius of the CLIP plane's alignment
      * matches (0 = exact hash equality, [[Multimodal.clipAlignment]]'s
      * default). Pinned: the stored `clippairs` mean nothing at a
      * different radius.
      */
    clipMaxHamming: Int = 0,
    /** Frame-index packing modulus of the clip plane
      * ([[Multimodal.clipAlignment]]'s `maxFrames`) — every ingested
      * `frame_idx` must sit in [0, clipMaxFrames). Pinned with the
      * radius.
      */
    clipMaxFrames: Int = 4096)
    extends graft.store.DurableStore {

  private val printsSchema = StructType(Seq(
    StructField("id", LongType), StructField("sh", LongType),
    StructField("kind", StringType), StructField("batch", LongType)))
  private val pairsSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("hamming", LongType), StructField("kind", StringType),
    StructField("batch", LongType)))
  private val clipFramesSchema = StructType(Seq(
    StructField("id", LongType), StructField("frame_idx", LongType),
    StructField("sh", LongType), StructField("kind", StringType),
    StructField("batch", LongType)))
  private val clipPairsSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("frames_a", LongType), StructField("aligned", LongType),
    StructField("offset", LongType),
    StructField("containment_pm", LongType),
    StructField("kind", StringType), StructField("batch", LongType)))

  /** The fingerprint corpus (id, sh, batch) — explicit schema so a
    * store whose only appends were all-empty frames still reads.
    */
  def prints: DataFrame = {
    checkShape(pin = false)
    recoverTable("prints")
    readTable("prints", printsSchema)
  }

  /** The accumulated verified pair set (id_a < id_b, hamming ≤ the
    * store's pinned radius, batch = the ingest that generated the row).
    */
  def pairs: DataFrame = {
    checkShape(pin = false)
    recoverTable("pairs")
    readTable("pairs", pairsSchema)
  }

  /** The stored per-clip frame-hash sequences (id, frame_idx, sh, kind,
    * batch) — the CLIP plane's state ([[ingestClips]]).
    */
  def clipFrames: DataFrame = {
    checkShape(pin = false)
    recoverTable("clipframes")
    readTable("clipframes", clipFramesSchema)
  }

  /** The accumulated DIRECTED best-offset alignment rows (id_a's
    * containment in id_b, [[Multimodal.clipAlignment]]'s shape + kind
    * + batch) — every clip pair with ≥1 frame-level match, scored by
    * the ingest that brought its LATER clip.
    */
  def clipPairs: DataFrame = {
    checkShape(pin = false)
    recoverTable("clippairs")
    readTable("clippairs", clipPairsSchema)
  }

  protected override def shape: Map[String, String] =
    Map("maxHamming" -> maxHamming.toString, "chunks" -> chunks.toString,
      // one flat layout ([[ReleaseStore]]'s shape pin has why)
      "buckets" -> "0",
      "clipHamming" -> clipMaxHamming.toString,
      "clipMaxFrames" -> clipMaxFrames.toString)

  /** Ingest one micro-batch of fingerprints (`id`, `sh`, `kind` — extra
    * columns are dropped): append the batch's accepted rows to `prints`
    * and their batch-touching ≤-maxHamming pair delta to `pairs`, each
    * exactly-once under `batchId` (the `foreachBatch` contract; un-id'd
    * calls stay idempotent through the accepted-set resolution — a
    * repeated batch resolves to an empty set). `kind` is the NON-NULL
    * modality tag ([[MediaStore.fingerprints]] supplies it); pairs form
    * only within one kind — see the class-level KIND SAFETY contract.
    */
  def ingest(batch: DataFrame, batchId: Option[Long] = None): Unit =
    writeLock.synchronized {
      require(batch.columns.contains("kind"),
        "MediaStore.ingest needs a non-null `kind` column (the modality " +
        "tag): fingerprints of different media kinds share one 64-bit " +
        "hash space and must never pair — use MediaStore.fingerprints, " +
        "or tag a single-modality frame with lit(\"image\") etc.")
      // scoped, not releaseAll: the ingest's own persists (bPrints, the
      // pair delta) die with the call, but a CALLER-persisted
      // fingerprint corpus being sliced into batches must survive — a
      // releaseAll here made every batch after the first silently
      // re-run the full media decode inside its own ingest wall
      graft.ScratchCache.scoped {
      checkShape(pin = true)
      recoverTable("prints"); recoverTable("pairs")
      // micro-batch scheduling regime (see withSmallRegimeScheduling)
      withSmallRegimeScheduling(Seq("prints", "pairs")) {
      val accepted = resolveAccepted(batch, "id", "prints", batchId)
      val bPrints = graft.ScratchCache.persist(batch
        .select(col("id"), col("sh"), col("kind")).dropDuplicates("id")
        .join(broadcast(accepted), col("id") === col("__bid"),
          "left_semi"))
      // collected ONCE, ahead of both guards: the pair guard's
      // chunk-value pre-prune needs the sketch values, and its length
      // (when under the cap) IS the accepted print count — threaded as
      // probeRows so a big-store replay guard schedules no extra count
      // job (ids are distinct in bPrints, so rows == ids). Only worth
      // collecting against a stored table over the BROADCAST threshold:
      // under it the hammingJoin's stored side broadcasts whole and the
      // prefilter buys nothing, so the collect would be a pure extra
      // driver job per ingest. NOTE the gate is deliberately WIDER than
      // probeAntiJoin's plain-path predicate (which also keeps the
      // plain join up to plainStoreBytes / the footer row ceiling): in
      // that byte band bRows is threaded but unconsumed — the collect
      // is still paid there for the PREFILTER, whose stored-side prune
      // starts mattering exactly when the stored side stops
      // broadcasting whole
      val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
      val printsBig = !(thr > 0 && tableBytesAtMost("prints", thr))
      val bShs =
        if (printsBig)
          bPrints.select(col("sh"))
            .limit(Dedup.hammingPrefilterMaxProbe + 1)
            .collect().map(_.getLong(0))
        else Array.empty[Long]
      val bRows =
        if (printsBig && bShs.length <= Dedup.hammingPrefilterMaxProbe)
          Some(bShs.length.toLong)
        else None
      markers.guarded("prints", batchId) {
        // probe-inverted anti-join against the LIVE table: a replay
        // after a landed-but-unmarked append finds its rows present and
        // appends nothing. Never sorted (probeAntiJoin streams the
        // store against a broadcast probe).
        val fresh =
          if (fs.exists(hPath(s"$path/prints")))
            probeAntiJoin(bPrints,
              readTable("prints", printsSchema).select(col("id")),
              Seq("id"), "prints", probeRows = bRows,
              probeKeys = Some(accepted.select(col("__bid").as("id"))))
          else bPrints
        fresh.withColumn("batch", lit(batchId.getOrElse(-1L)))
          .write.mode(SaveMode.Append).parquet(s"$path/prints")
      }
      markers.guarded("pairs", batchId) {
        // the stored side is prints MINUS this batch's accepted ids —
        // the replay view: a landed prints append must not put the
        // batch's own rows on the stored side (the self-join owns
        // within-batch pairs)
        val stored =
          if (fs.exists(hPath(s"$path/prints")))
            prints.join(broadcast(accepted),
                col("id") === col("__bid"), "left_anti")
              .select(col("id"), col("sh"), col("kind"))
          else bPrints.limit(0)
        // chunk-value pre-prune: a micro batch's 16-bit chunk values
        // (collected once, above the guards — big stores only) become
        // a codegen'd isin that drops ~97% of stored rows BEFORE the
        // 4× explode (a strict superset of the banded join's
        // participants — result unchanged, spec-pinned); big batches
        // and small stores keep the full join
        val storedPre =
          if (printsBig && bShs.nonEmpty &&
              bShs.length <= Dedup.hammingPrefilterMaxProbe)
            Dedup.hammingPrefilter(bShs, stored, chunks)
          else stored
        // kind joins the blocking equi-key: pairs form only within one
        // modality (the KIND SAFETY contract) — same join shape, one
        // more key column
        val cross = Dedup.hammingJoin(bPrints, storedPre, maxHamming,
            chunks, blockCols = Seq("kind"))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"),
            col("kind"))
        val self = Dedup.hammingPairs(bPrints, maxHamming, chunks,
          blockCols = Seq("kind"))
        // the delta is candidate-volume-bounded — persisted because a
        // big-store replay guard counts it before the append writes it
        val delta = graft.ScratchCache.persist(cross.unionByName(self))
        // anti-join on the pair key: a pair is generated by exactly one
        // ingest, so an id already paired ⟺ the landed-append +
        // uncommitted-marker replay window (the dedupAppend discipline,
        // keyed by (id_a, id_b) instead of id).
        val fresh =
          if (fs.exists(hPath(s"$path/pairs")))
            probeAntiJoin(delta,
              readTable("pairs", pairsSchema)
                .select(col("id_a"), col("id_b")),
              Seq("id_a", "id_b"), "pairs")
          else delta
        fresh.withColumn("batch", lit(batchId.getOrElse(-1L)))
          .write.mode(SaveMode.Append).parquet(s"$path/pairs")
      }
      }
      }
      freeAcceptedCheckpoint()
    }

  /** Decode one media micro-batch to fingerprints and ingest them —
    * the `foreachBatch` entry a raw crawl stream uses
    * (`writeStream.foreachBatch((b, id) => store.ingestMedia(b,
    * Some(id)))`). Non-`ok` decode causes carry no fingerprint and are
    * excluded here; count them from the decode plane.
    */
  def ingestMedia(batch: Dataset[Multimodal.MediaRow],
      batchId: Option[Long] = None): Unit =
    ingest(MediaStore.fingerprints(batch), batchId)

  /** Start the continuous durable dedup over a raw media stream: each
    * micro-batch real-decodes to per-kind fingerprints and ingests
    * exactly-once ([[ingestMedia]] under the checkpoint's batch ids):
    * pairs against the WHOLE stored history accumulate here.
    */
  def start(stream: Dataset[Multimodal.MediaRow], checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 seconds"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[Multimodal.MediaRow], id: Long) =>
          ingestMedia(batch, Some(id))
      }
      .start()

  /** Ingest one micro-batch of per-clip frame-hash SEQUENCES (`id`,
    * `frame_idx`, `sh`, `kind` — [[Multimodal.videoDHash]] frame hashes
    * or [[Multimodal.audioSegments]] rows, see
    * [[MediaStore.frameSequences]]): append the accepted clips' frames
    * to `clipframes` and their batch-touching DIRECTED alignment delta
    * to `clippairs`, each exactly-once under `batchId`. This is the
    * incremental twin of [[Multimodal.clipContainmentPurge]]'s
    * alignment: each ingest pays batch-self + batch×stored frame
    * matching (kind-blocked equi-joins, never a cross product) and the
    * diagonal vote over ITS OWN match volume — stored×stored is never
    * re-aligned, so a release's purge decision
    * ([[purgeClips]]) reads accumulated alignment instead of
    * re-aligning the corpus.
    *
    * CLIP ATOMICITY: all frames of a clip must arrive in ONE
    * micro-batch (the id contract extended to sequences — a clip split
    * across batches would align on its first fragment only, and the
    * second fragment's rows would be refused as a re-crawled id).
    * DELTA COMPLETENESS: for a clip pair {a, b} with b accepted no
    * later than a... every frame match between them sits in a's
    * ingest (b fully stored, a fully in batch), so the best-offset
    * vote over the delta equals the from-scratch vote
    * (MediaStoreSpec pins it against [[Multimodal.clipAlignment]]).
    */
  def ingestClips(frames: DataFrame, batchId: Option[Long] = None): Unit =
    writeLock.synchronized {
      require(frames.columns.contains("kind"),
        "MediaStore.ingestClips needs a non-null `kind` column: frame " +
        "hashes of different modalities share one 64-bit hash space " +
        "and must never align — tag video frames lit(\"video\"), audio " +
        "segments lit(\"audio\"), or use MediaStore.frameSequences")
      graft.ScratchCache.scoped {
      checkShape(pin = true)
      recoverTable("clipframes"); recoverTable("clippairs")
      // micro-batch scheduling regime (see withSmallRegimeScheduling)
      withSmallRegimeScheduling(Seq("clipframes", "clippairs")) {
      // the packing modulus is a SHAPE property: an index outside
      // [0, clipMaxFrames) would alias into another clip's packed key
      // and silently corrupt the diagonal vote — refuse the batch.
      // Validated on the RAW input BEFORE resolveAccepted durably pins
      // the batch's accepted-id sidecar (the EmbedStore dim-validation
      // ordering): a refused batch must leave NO committed membership,
      // or a retry under the same batch id that drops or renames the
      // offending clip would silently reuse the stale pinned set
      if (frames.where(col("frame_idx").cast("long") < 0 ||
          col("frame_idx").cast("long") >= clipMaxFrames)
          .limit(1).count() > 0)
        throw new IllegalArgumentException(
          s"ingestClips frame_idx outside [0, $clipMaxFrames): reopen " +
          "the store with a larger clipMaxFrames (a NEW store - the " +
          "packing modulus is pinned) or truncate the sequences")
      val accepted =
        resolveAccepted(frames, "id", "clipframes", batchId, ns = "clips")
      val bFrames = graft.ScratchCache.persist(frames
        .select(col("id"), col("frame_idx").cast("long").as("frame_idx"),
          col("sh"), col("kind"))
        .dropDuplicates("id", "frame_idx")
        .join(broadcast(accepted), col("id") === col("__bid"),
          "left_semi"))
      markers.guarded("clipframes", batchId) {
        // anti-join by clip id against the LIVE table: a replay after a
        // landed-but-unmarked append finds its ids present and appends
        // nothing (clip atomicity makes the id the replay key)
        val fresh =
          if (fs.exists(hPath(s"$path/clipframes")))
            probeAntiJoin(bFrames,
              readTable("clipframes", clipFramesSchema).select(col("id")),
              Seq("id"), "clipframes",
              probeKeys = Some(accepted.select(col("__bid").as("id"))))
          else bFrames
        fresh.withColumn("batch", lit(batchId.getOrElse(-1L)))
          .write.mode(SaveMode.Append).parquet(s"$path/clipframes")
      }
      markers.guarded("clippairs", batchId) {
        val packedKey =
          (col("id") * clipMaxFrames + col("frame_idx")).as("id")
        val packedB = bFrames.select(packedKey, col("sh"), col("kind"))
        // the stored side is clipframes MINUS this batch's accepted ids
        // (the replay view — a landed clipframes append must not put
        // the batch's own frames on the stored side)
        val storedF =
          if (fs.exists(hPath(s"$path/clipframes")))
            Spread.wide(readTable("clipframes", clipFramesSchema))
              .join(broadcast(accepted), col("id") === col("__bid"),
                "left_anti")
          else bFrames.limit(0)
        val packedS = storedF.select(packedKey, col("sh"), col("kind"))
        // frame-level matches, kind-blocked: batch self-join (both
        // orientations fall out of the join) + batch×stored in BOTH
        // orientations (containment is directed — the swap rows let the
        // stored clip's own containment in the batch clip score too)
        def matches(l: DataFrame, r: DataFrame): DataFrame =
          if (clipMaxHamming == 0)
            l.as("a").join(r.as("b"),
              col("a.sh") === col("b.sh") &&
                col("a.kind") === col("b.kind"))
              .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          else Dedup.hammingJoin(l, r, clipMaxHamming, chunks,
              blockCols = Seq("kind"))
            .select(col("id_a"), col("id_b"))
        val crossM = graft.ScratchCache.persist(
          matches(packedB, packedS))
        val m = matches(packedB, packedB)
          .unionAll(crossM)
          .unionAll(crossM.select(col("id_b").as("id_a"),
            col("id_a").as("id_b")))
        // per-clip frame counts: the batch's own, plus ONLY the stored
        // clips the cross matches touched
        val bCounts = bFrames.groupBy(col("id"), col("kind"))
          .agg(count(lit(1)).as("frames_a"))
          .select(col("id"), col("frames_a"), col("kind"))
        val candS = graft.ScratchCache.persist(crossM
          .select(expr(s"id_b div $clipMaxFrames").as("id")).distinct())
        val sCounts = readTable("clipframes", clipFramesSchema)
          .join(broadcast(candS), Seq("id"), "left_semi")
          .groupBy(col("id"), col("kind"))
          .agg(count(lit(1)).as("frames_a"))
          .select(col("id"), col("frames_a"), col("kind"))
        val delta = graft.ScratchCache.persist(Multimodal.bestAlignment(
          m, bCounts.unionByName(sCounts), clipMaxFrames))
        // anti-join on the DIRECTED pair key: an alignment row is
        // generated by exactly one ingest (its later clip's), so a row
        // already stored ⟺ the landed-append replay window
        val fresh =
          if (fs.exists(hPath(s"$path/clippairs")))
            probeAntiJoin(delta,
              readTable("clippairs", clipPairsSchema)
                .select(col("id_a"), col("id_b")),
              Seq("id_a", "id_b"), "clippairs")
          else delta
        fresh.withColumn("batch", lit(batchId.getOrElse(-1L)))
          .write.mode(SaveMode.Append).parquet(s"$path/clippairs")
      }
      }
      }
      freeAcceptedCheckpoint()
    }

  /** Survivors of a sub-clip containment purge over `corpus`: the
    * accumulated DIRECTED alignment rows threshold at `thresholdPm`,
    * normalize to undirected edges, cluster, and one keeper per
    * cluster survives by quality ([[Multimodal.clipContainmentPurge]]'s
    * decision served from STORED alignment — nothing is re-decoded or
    * re-aligned; MediaStoreSpec pins the equality).
    *
    * @param quality (id, q) — pass frame/segment counts so the longest
    *   upload wins over its cut-outs
    */
  def purgeClips(corpus: DataFrame, idCol: String, quality: DataFrame,
      thresholdPm: Long = 800): DataFrame =
    Multimodal.containmentPurgeTail(corpus, idCol, clipPairs, quality,
      thresholdPm)

  /** Start the continuous durable sub-clip dedup over a raw media
    * stream: each micro-batch real-decodes to per-clip frame sequences
    * ([[MediaStore.frameSequences]] — video frame hashes + audio
    * segment hashes) and ingests exactly-once under the checkpoint's
    * batch ids. The clip plane's own sidecar namespace makes this
    * stream independent of a [[start]] prints stream — the two CAN run
    * concurrently in one process against one store: the writeLock
    * serializes their ingest bodies, each stream thread gets its own
    * ScratchCache scope, and the namespaced sidecars keep their batch
    * numbering apart (MediaStoreSpec's two-plane soak drives both
    * through a kill/replay + live-compact window). When both planes
    * ingest the SAME crawl, one stream over [[ingestMedia]] +
    * [[ingestClips]] in a shared foreachBatch still decodes each
    * payload once instead of twice.
    */
  def startClips(stream: Dataset[Multimodal.MediaRow], checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 seconds"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[Multimodal.MediaRow], id: Long) =>
          ingestClips(MediaStore.frameSequences(batch), Some(id))
      }
      .start()

  /** The duplicate-cluster labels over everything ingested so far,
    * maintained INCREMENTALLY: the label table persists under
    * `clusters/`, and each call folds in only the pair rows appended
    * since the last call — prior components enter the merge as star
    * edges (id → root), which preserves connectivity exactly, so the
    * merged labels equal a from-scratch CC over all stored pairs
    * (MediaStoreSpec pins it). Un-id'd rows (batch = −1) have no water
    * mark, so their presence falls back to full CC for correctness.
    */
  def clusters(): DataFrame = {
    checkShape(pin = false)
    foldClusterLabels(graft.ScratchCache.persist(pairs), "pairs")
  }

  /** Per-cluster keeper decisions from the stored pairs:
    * (cluster, keeper_id, quality, size) — max quality wins, smallest
    * id breaks ties ([[Dedup.clusterKeepers]]).
    *
    * @param quality (id, q)
    */
  def keepers(quality: DataFrame): DataFrame =
    Dedup.clusterKeepers(clusters(), quality)

  /** Survivors of a near-dup purge over `corpus` (`idCol` + carried
    * columns): per cluster only the keeper survives; documents outside
    * any cluster always survive. Served entirely from stored pairs —
    * no fingerprint is re-decoded, nothing is re-paired.
    */
  def purge(corpus: DataFrame, idCol: String,
      quality: DataFrame): DataFrame = {
    val cl = graft.ScratchCache.persist(clusters())
    val losers = cl
      .join(Dedup.clusterKeepers(cl, quality)
          .select(col("cluster"), col("keeper_id")),
        "cluster")
      .where(col("id") =!= col("keeper_id"))
      .select(col("id").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** Small-file compaction for `prints`/`pairs`/`clusters` plus sidecar
    * pruning — the [[ReleaseStore.compact]] contract (including the
    * reader invalidation: re-resolve frames through the accessors after
    * compaction).
    */
  def compact(targetFileBytes: Long = 256L * 1024 * 1024): Unit = {
    checkShape(pin = false)
    Seq("prints", "pairs", "clipframes", "clippairs", "clusters")
      .foreach(compactTable(_, targetFileBytes))
    pruneSidecars(Seq("prints", "pairs"))
    // the clip plane's own namespace: its sidecars prune against ITS
    // tables' markers (never written ⇒ lastCommitted −1 ⇒ no-op)
    if (fs.exists(hPath(s"$path/batches_clips")))
      pruneSidecars(Seq("clipframes", "clippairs"), ns = "clips")
  }
}

object MediaStore {
  /** Per-kind REAL fingerprint dispatch over a mixed-modality media
    * table: images through [[Multimodal.imageDHash]], videos through
    * the majority-vote [[Multimodal.videoDHash]] clip hash, audio
    * through the gain-invariant [[Multimodal.audioDHash]] envelope —
    * one (id, sh) frame for [[MediaStore.ingest]] or a batch
    * [[Dedup.hammingPairs]]. Non-`ok` causes carry no fingerprint and
    * are excluded (count them per cause from the decode plane); the
    * three filters prune to kind partitions on a partitioned table,
    * the [[Multimodal.decodeMedia]] posture.
    */
  def fingerprints(media: Dataset[Multimodal.MediaRow]): DataFrame = {
    val img = Multimodal.imageDHash(media.filter(col("kind") === "image"))
      .where(col("cause") === "ok")
      .select(col("media_id").as("id"), col("dhash").as("sh"),
        lit("image").as("kind"))
    val vid = Multimodal.videoDHash(media.filter(col("kind") === "video"))
      .where(col("cause") === "ok")
      .select(col("media_id").as("id"), col("clip_dhash").as("sh"),
        lit("video").as("kind"))
    val aud = Multimodal.audioDHash(media.filter(col("kind") === "audio"))
      .where(col("cause") === "ok")
      .select(col("media_id").as("id"), col("dhash").as("sh"),
        lit("audio").as("kind"))
    img.unionByName(vid).unionByName(aud).toDF()
  }

  /** Per-kind REAL frame-SEQUENCE dispatch over a mixed-modality media
    * table — the [[MediaStore.ingestClips]] input shape (id, frame_idx,
    * sh, kind): videos explode [[Multimodal.videoDHash]]'s per-frame
    * hashes, audio rides [[Multimodal.audioSegments]]'s windowed
    * envelope hashes (an acoustic "frame" sequence — sub-clip
    * containment works for cut-out audio re-posts exactly as for
    * video). Images carry no sequence (a single hash can't vote a
    * diagonal); the print plane owns them.
    */
  def frameSequences(media: Dataset[Multimodal.MediaRow],
      /** PCM frames per audio segment hash — 44100 ≈ one second at CD
        * rate; must stay FIXED for a store's life (segment hashes at
        * different granularities never align).
        */
      audioSegFrames: Long = 44100L): DataFrame = {
    val vid = Multimodal.videoDHash(media.filter(col("kind") === "video"))
      .where(col("cause") === "ok")
      .select(col("media_id").as("id"),
        posexplode(col("frame_dhash")).as(Seq("frame_idx", "sh")),
        lit("video").as("kind"))
    val aud = Multimodal.audioSegments(
        media.filter(col("kind") === "audio"), segFrames = audioSegFrames)
      .where(col("cause") === "ok")
      .select(col("media_id").as("id"),
        col("seg_idx").cast("long").as("frame_idx"),
        col("dhash").as("sh"), lit("audio").as("kind"))
    vid.unionByName(aud)
  }

  /** Reopen an existing store with its PINNED shape — every knob comes
    * from `store.meta`, not the caller's memory. Throws on a store with
    * no pin (never ingested) or a truncated one: construct explicitly
    * once to pin it.
    */
  def open(spark: SparkSession, path: String): MediaStore = {
    val m = graft.store.DurableStore.pinnedShape(spark, path, "MediaStore",
      Seq("maxHamming", "chunks", "clipHamming", "clipMaxFrames"))
    new MediaStore(spark, path, maxHamming = m("maxHamming").toInt,
      chunks = m("chunks").toInt, clipMaxHamming = m("clipHamming").toInt,
      clipMaxFrames = m("clipMaxFrames").toInt)
  }
}
