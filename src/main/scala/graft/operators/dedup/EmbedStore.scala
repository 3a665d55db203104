package graft.operators.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  LongType, StructField, StructType}

import graft.operators.similarity.CosineSearch
import graft.operators.Spread

/** Persisted, continuously-maintained EMBEDDING near-dup state — the
  * vector twin of [[MediaStore]]: where media dedup accumulates 64-bit
  * perceptual fingerprints, this store accumulates normalized vector
  * projections (`vecs`: id, cv, cv_n — [[CosineSearch]]'s exact
  * cast/norm arithmetic), their sign-LSH postings (`postings`: id, tbl,
  * bucket — the [[CosineSearch.nearDupPairs]] candidate keys), and the
  * verified ≥-`thresholdE6` cosine pair set (`pairs`), so a crawl's
  * embedding dedup pays batch-proportional cost per ingest instead of
  * re-running a corpus-wide LSH join per release.
  *
  * Each ingest pays the batch self-join plus the batch×stored postings
  * join on (tbl, bucket) — equi-joins on data-INDEPENDENT signatures
  * (seeded hyperplanes), so batch and stored sides hashed in different
  * ingests collide exactly as a one-shot corpus would — and verifies
  * candidates by exact cosine over the candidates' stored vectors.
  * Stored×stored is never re-paired. UNION COMPLETENESS: a candidate
  * pair {a, b} with b accepted no earlier than a is generated exactly
  * once, by b's batch (a's postings stored, b's in batch; or the batch
  * self-join when both arrive together), so the accumulated pair set
  * equals a from-scratch [[CosineSearch.nearDupPairs]] over the
  * accumulated vectors — EmbedStoreSpec pins it, and the `q_embed_store`
  * gate drives two real batches through the composed `q_sim_neardup`
  * oracle. The 100 TB posture, MEASURED (PLANS.md round 14, ×10/×100
  * rehearsals): the stored probe side is a columnar scan of three
  * longs per posting (id, tbl, bucket), and candidate volume is
  * ~ tables·n/2^bits per batch row — never corpus² — but the exact-
  * cosine VERIFICATION read is candidate-bound only while candidates
  * are sparse: at the default bits = 8 a batch's candidates blanket
  * all 2^8 buckets of any ≳10⁵-vector corpus, so the per-ingest vecs
  * read is corpus-LINEAR with a small constant (measured steady-state
  * 500-vector batches: ~9 s at 2·10⁴ stored vectors, ~17 s at 2·10⁵ —
  * sub-linear growth over a flat multi-guard scheduling floor).
  * Beyond ~10⁶ vectors, size `bits` to the corpus at store creation
  * ([[EmbedStore.bitsFor]]: 2^bits ≫ n·tables/batch keeps the
  * candidate JOIN volume per batch bounded) — and when a corpus
  * OUTGROWS its creation-time pin, [[rehash]] migrates: postings are
  * derived data, rebuilt from `vecs` at the new width and re-pinned
  * without touching `pairs`. The verification read itself remains a
  * corpus-linear columnar scan — embarrassingly parallel per-file on
  * a real cluster (~50 GB of vecs at 10⁸×64 dims).
  *
  * Tables ride the [[graft.store.DurableStore]] discipline shared with
  * [[ReleaseStore]]/[[MediaStore]] (commit markers, accepted-id
  * sidecars, move-aside installs, compaction healing), one flat
  * parquet dir per table. Same ID CONTRACT: first write wins; a
  * re-crawled id is ignored.
  *
  * SHAPE PIN: `thresholdE6`/`bits`/`tables`/`seed` determine what the
  * persisted postings and pairs MEAN; all are pinned in `store.meta`
  * at first ingest, plus the data-derived embedding `dim` (signatures
  * of different dimensionalities never collide meaningfully — a batch
  * at a different dim is refused). `bits` alone is MIGRATABLE
  * ([[rehash]]) because postings are the only table it shapes and
  * they are recomputable; the rest stay immutable.
  */
final class EmbedStore(protected val spark: SparkSession,
    protected val path: String,
    /** Verified-pair floor in cosine·10⁶ ([[CosineSearch.nearDupPairs]]
      * semantics). Pinned.
      */
    thresholdE6: Long,
    bits: Int = 8, tables: Int = 4, seed: Long = 7L)
    extends graft.store.DurableStore {

  /** The LIVE sign-LSH width: starts at the constructor's `bits`,
    * moves only through a completed [[rehash]] (pin-wins like every
    * shape field — a reopen must state the PINNED value).
    */
  private var liveBits: Int = bits

  private val vecsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("cv", ArrayType(DoubleType)),
    StructField("cv_n", DoubleType),
    StructField("batch", LongType)))
  private val postingsSchema = StructType(Seq(
    StructField("id", LongType), StructField("tbl", IntegerType),
    StructField("bucket", LongType), StructField("batch", LongType)))
  private val pairsSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("sim_e6", LongType), StructField("batch", LongType)))

  /** The stored vector projections (id, cv, cv_n, batch). */
  def vectors: DataFrame = {
    checkShape(pin = false)
    recoverTable("vecs")
    readTable("vecs", vecsSchema)
  }

  /** The accumulated verified pair set (id_a < id_b,
    * sim_e6 ≥ the pinned threshold, batch = the generating ingest).
    */
  def pairs: DataFrame = {
    checkShape(pin = false)
    recoverTable("pairs")
    readTable("pairs", pairsSchema)
  }

  protected override def shape: Map[String, String] =
    Map("thresholdE6" -> thresholdE6.toString, "bits" -> liveBits.toString,
      "tables" -> tables.toString, "seed" -> seed.toString,
      // one flat layout ([[ReleaseStore]]'s shape pin has why)
      "buckets" -> "0")

  /** Ingest one micro-batch of embeddings (`id`, `embedding` — extra
    * columns are dropped): append the batch's accepted vector
    * projections and LSH postings, and their batch-touching verified
    * pair delta, each exactly-once under `batchId` (the `foreachBatch`
    * contract; un-id'd calls stay idempotent through the accepted-set
    * resolution).
    */
  def ingest(batch: DataFrame, batchId: Option[Long] = None): Unit =
    writeLock.synchronized {
      graft.ScratchCache.scoped {
      checkShape(pin = true)
      recoverTable("vecs"); recoverTable("postings"); recoverTable("pairs")
      completeRehash() // a pending bits migration finishes before the
                       // batch's postings are generated at liveBits
      // micro-batch scheduling regime (see withSmallRegimeScheduling)
      withSmallRegimeScheduling(Seq("vecs", "postings", "pairs")) {
      // the embedding DIMENSION is a shape property derived from data:
      // postings of different dims never collide meaningfully, and a
      // mixed-dim corpus would silently never pair across the split —
      // pin at first ingest, refuse mismatches. Validated on the RAW
      // batch BEFORE membership resolution, so a malformed batch
      // refuses without pinning its batch id's accepted-id sidecar
      val bDims = batch.select(size(col("embedding")).as("d")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      require(bDims.size <= 1,
        s"mixed embedding dimensions in one batch: $bDims")
      val meta = shapePin.getOrElse(Map.empty)
      val pinnedDim = meta.get("dim").map(_.toInt)
      (pinnedDim, bDims.headOption) match {
        case (Some(p), Some(d)) => require(p == d,
          s"EmbedStore at $path holds $p-dim embeddings; batch is $d-dim")
        case (None, Some(d)) =>
          writeShapePin(meta + ("dim" -> d.toString))
        case _ => () // empty batch against an unpinned dim: nothing to do
      }
      val dim = pinnedDim.orElse(bDims.headOption).getOrElse(0)
      val accepted = resolveAccepted(batch, "id", "vecs", batchId)
      val bNorm = graft.ScratchCache.persist(
        CosineSearch.normProjection(
            batch.dropDuplicates("id"), "id", "embedding")
          .join(broadcast(accepted), col("id") === col("__bid"),
            "left_semi"))
      val bPost = graft.ScratchCache.persist(
        if (dim == 0)
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            StructType(postingsSchema.fields.dropRight(1)))
        else CosineSearch.postingsOf(bNorm, dim, liveBits, tables, seed))
      markers.guarded("vecs", batchId) {
        val bv = bNorm.select(col("id"), col("cv"), col("cv_n"))
        val fresh =
          if (fs.exists(hPath(s"$path/vecs")))
            probeAntiJoin(bv,
              readTable("vecs", vecsSchema).select(col("id")),
              Seq("id"), "vecs",
              probeKeys = Some(accepted.select(col("__bid").as("id"))))
          else bv
        fresh.withColumn("batch", lit(batchId.getOrElse(-1L)))
          .write.mode(SaveMode.Append).parquet(s"$path/vecs")
      }
      markers.guarded("postings", batchId) {
        val fresh =
          if (fs.exists(hPath(s"$path/postings")))
            probeAntiJoin(bPost,
              readTable("postings", postingsSchema).select(col("id")),
              Seq("id"), "postings",
              probeKeys = Some(accepted.select(col("__bid").as("id"))))
          else bPost
        fresh.withColumn("batch", lit(batchId.getOrElse(-1L)))
          .write.mode(SaveMode.Append).parquet(s"$path/postings")
      }
      markers.guarded("pairs", batchId) {
        // the stored probe side is postings MINUS this batch's accepted
        // ids (the replay view); spread post-compact like every stored
        // probe fan-out
        val storedPost =
          if (fs.exists(hPath(s"$path/postings")))
            Spread.wide(readTable("postings", postingsSchema))
              .join(broadcast(accepted), col("id") === col("__bid"),
                "left_anti")
          else bPost.limit(0)
        val key = col("a.tbl") === col("b.tbl") &&
          col("a.bucket") === col("b.bucket")
        val cSelf = bPost.as("a").join(bPost.as("b"),
            key && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        val cCross = bPost.as("a").join(storedPost.as("b"), key)
          .select(least(col("a.id"), col("b.id")).as("id_a"),
            greatest(col("a.id"), col("b.id")).as("id_b"))
        val cand = graft.ScratchCache.persist(
          cSelf.unionAll(cCross).distinct())
        // verification vectors: the batch's own plus ONLY the stored
        // candidates'
        val candIds = graft.ScratchCache.persist(
          cand.select(col("id_a").as("id"))
            .unionAll(cand.select(col("id_b").as("id"))).distinct())
        val storedV =
          if (fs.exists(hPath(s"$path/vecs")))
            readTable("vecs", vecsSchema)
              .join(broadcast(candIds), Seq("id"), "left_semi")
              .join(broadcast(accepted), col("id") === col("__bid"),
                "left_anti")
              .select(col("id"), col("cv"), col("cv_n"))
          else bNorm.select(col("id"), col("cv"), col("cv_n")).limit(0)
        // NOT persisted although it feeds both sides of the
        // verification join: Spark's exchange reuse already shares the
        // one stored-vector scan between the two sides (measured at
        // ×100 — persisting moved no wall), so a cache entry would be
        // pure memory pressure at exactly the fat-read moment
        val allV = bNorm.select(col("id"), col("cv"), col("cv_n"))
          .unionByName(storedV)
        val delta = graft.ScratchCache.persist(cand
          .join(allV.as("a"), col("id_a") === col("a.id"))
          .join(allV.as("b"), col("id_b") === col("b.id"))
          .select(col("id_a"), col("id_b"),
            CosineSearch.storedPairSimE6.as("sim_e6"))
          .where(col("sim_e6") >= thresholdE6))
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
      // capacity watch (the rehash exists; this makes sure someone is
      // WATCHING): the corpus row count is a zero-job footer-stat read
      // — cache hits except the files this very batch appended — so
      // every ingest can afford to check whether the corpus has
      // outgrown the pinned LSH width and surface the advisory while
      // the drift is one rehash away, instead of being discovered as a
      // corpus-linear verification read at 10⁸ vectors
      advise()
    }

  /** The recommended sign-LSH width when the stored corpus has
    * OUTGROWN the live pin by more than one doubling —
    * `bitsFor(corpusRows) > liveBits + 1` (one doubling of headroom is
    * noise; two means every future ingest pays measurably for the
    * stale width). None while the live width is adequate, or when the
    * corpus size is momentarily unknowable (a cold footer walk past
    * its cap — never guess). Zero Spark jobs either way.
    */
  def widthAdvisory(): Option[Int] =
    tableFooterRows("vecs") match {
      case Some(rows) if rows > 0 =>
        val rec = EmbedStore.bitsFor(rows, tables)
        if (rec > liveBits + 1) Some(rec) else None
      case _ => None
    }

  /** The advisory the LAST ingest surfaced (None when the width was
    * adequate) — the structured observable behind the log line, so an
    * operator's monitoring (and the spec) reads the watch's verdict
    * instead of scraping logs.
    */
  @volatile private var _lastAdvisory: Option[Int] = None
  def lastAdvisory: Option[Int] = _lastAdvisory

  private def advise(): Unit = {
    _lastAdvisory = widthAdvisory()
    _lastAdvisory.foreach { rec =>
      EmbedStore.log.warn(
        s"EmbedStore at $path: corpus has outgrown the pinned LSH width " +
        s"(bits=$liveBits, recommended=$rec) - candidate volume per " +
        "ingest degrades toward corpus-linear; run rehash(" + rec + ") " +
        "to migrate (one postings rebuild)")
    }
  }

  /** Start the continuous durable embedding dedup over a vector
    * stream (`id`, `embedding`): each micro-batch ingests exactly-once
    * under the checkpoint's batch ids — the durable complement of a
    * within-watermark streaming dedup, accumulating pairs against the
    * WHOLE stored corpus. One active stream per store per process.
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
        (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
          ingest(batch.toDF(), Some(id))
      }
      .start()

  /** The incrementally-folded duplicate-cluster labels over everything
    * ingested so far ([[graft.store.DurableStore.foldClusterLabels]]).
    */
  def clusters(): DataFrame = {
    checkShape(pin = false)
    foldClusterLabels(graft.ScratchCache.persist(pairs), "pairs")
  }

  /** Per-cluster keeper decisions ([[Dedup.clusterKeepers]]).
    * @param quality (id, q)
    */
  def keepers(quality: DataFrame): DataFrame =
    Dedup.clusterKeepers(clusters(), quality)

  /** Survivors of an embedding near-dup purge over `corpus`: per
    * cluster only the keeper survives — served entirely from stored
    * pairs; nothing is re-hashed or re-verified.
    */
  def purge(corpus: DataFrame, idCol: String,
      quality: DataFrame): DataFrame = {
    val cl = graft.ScratchCache.persist(clusters())
    val losers = cl
      .join(Dedup.clusterKeepers(cl, quality)
          .select(col("cluster"), col("keeper_id")), "cluster")
      .where(col("id") =!= col("keeper_id"))
      .select(col("id").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** Migrate the store to a new sign-LSH width: re-derive `postings`
    * from `vecs` at `newBits` (same pinned seed/tables) and re-pin
    * `bits` — the exit from the measured scale trap (a store created
    * at bits = 8 goes corpus-linear on every verification read past
    * ~10⁵ vectors, because a batch's candidates blanket all 2^8
    * buckets). Postings are DERIVED data, so the rebuild loses
    * nothing; `pairs` and `vecs` are untouched (threshold/seed
    * unchanged ⇒ verified pairs stay valid — `bits` only gates which
    * CANDIDATES future ingests generate, so post-rehash ingests pair
    * exactly as a from-scratch store created at `newBits` would:
    * signatures are data-independent, EmbedStoreSpec pins the
    * equality). The corpus pass is paid ONCE, not per ingest.
    *
    * CRASH SAFETY via an intent pin: `rehash_to` lands in `store.meta`
    * first, the postings install rides the same move-aside swap as
    * compaction (recoverTable heals its between-renames window), and
    * the final pin (bits = newBits, intent dropped) commits the
    * migration. An ingest against a store with a pending intent
    * completes it before generating the batch's postings
    * ([[completeRehash]] — idempotent: the rebuild is a deterministic
    * function of `vecs`), so no batch can ever post at a width the pin
    * doesn't describe.
    */
  def rehash(newBits: Int): Unit = writeLock.synchronized {
    require(newBits >= 1 && newBits <= 62,
      s"bits must be in [1, 62]: $newBits")
    val meta = shapePin.getOrElse(throw new IllegalStateException(
        s"no shape pin at $path/store.meta - a never-ingested store " +
        "has no postings to migrate: construct with the desired bits " +
        "instead"))
    checkShape(pin = false)
    if (meta.get("rehash_to").isEmpty && newBits == liveBits) return
    writeShapePin(meta + ("rehash_to" -> newBits.toString))
    completeRehash()
  }

  /** Finish a pending [[rehash]] intent: rebuild `postings` from
    * `vecs` at the intent's width (batch lineage carried over — replay
    * guards keep dispatching on the ids' original batches), install
    * via the move-aside swap, commit the pin. Idempotent; a crash
    * anywhere re-enters here on the next ingest or rehash call.
    */
  private def completeRehash(): Unit = {
    val metaOpt = shapePin
    metaOpt.flatMap(_.get("rehash_to")).map(_.toInt).foreach { nb =>
      val meta = metaOpt.get
      recoverTable("vecs"); recoverTable("postings")
      val dim = meta.get("dim").map(_.toInt).getOrElse(0)
      if (dim > 0 && fs.exists(hPath(s"$path/vecs"))) {
        val v = readTable("vecs", vecsSchema)
        val posts = CosineSearch.postingsOf(
            v.select(col("id"), col("cv"), col("cv_n")),
            dim, nb, tables, seed)
          .join(v.select(col("id"), col("batch")), Seq("id"))
          .select(col("id"), col("tbl"), col("bucket"), col("batch"))
        installTable(s"$path/postings",
          posts.repartition(spark.sparkContext.defaultParallelism),
          ".compact")
      }
      writeShapePin(meta - "rehash_to" + ("bits" -> nb.toString))
      liveBits = nb
    }
  }

  /** Small-file compaction + sidecar pruning — the shared contract. */
  def compact(targetFileBytes: Long = 256L * 1024 * 1024): Unit = {
    checkShape(pin = false)
    Seq("vecs", "postings", "pairs", "clusters")
      .foreach(compactTable(_, targetFileBytes))
    pruneSidecars(Seq("vecs", "postings", "pairs"))
  }
}

object EmbedStore {
  private[dedup] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[EmbedStore])

  /** Advisory sign-LSH width for an expected corpus size: the smallest
    * `bits` keeping the expected per-row candidate volume under a
    * uniform spread (≈ tables·n/2^bits) at or under
    * `perRowCandidates`, clamped to [8, 24]. Use at store creation —
    * corpus size at creation is a prediction, so when the corpus
    * outgrows it, feed the NEW size back here and [[EmbedStore.rehash]]
    * to the result (e.g. bitsFor(1e5.toLong) = 16,
    * bitsFor(1e8.toLong) = 24).
    */
  def bitsFor(expectedVectors: Long, tables: Int = 4,
      perRowCandidates: Int = 8): Int = {
    require(expectedVectors > 0 && tables > 0 && perRowCandidates > 0,
      "bitsFor arguments must be positive")
    val need = expectedVectors.toDouble * tables / perRowCandidates
    math.min(24, math.max(8,
      math.ceil(math.log(need) / math.log(2.0)).toInt))
  }

  /** Reopen an existing store with its PINNED shape. Throws on a store
    * with no pin (never ingested) or a truncated one: construct
    * explicitly once to pin.
    */
  def open(spark: SparkSession, path: String): EmbedStore = {
    val m = graft.store.DurableStore.pinnedShape(spark, path, "EmbedStore",
      Seq("thresholdE6", "bits", "tables", "seed"))
    new EmbedStore(spark, path, thresholdE6 = m("thresholdE6").toLong,
      bits = m("bits").toInt, tables = m("tables").toInt,
      seed = m("seed").toLong)
  }
}
