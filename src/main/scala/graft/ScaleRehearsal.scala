package graft

import org.apache.spark.sql.functions._
import graft.operators.dedup.Dedup
import graft.operators.similarity.{CosineSearch, KMeans, SemDedup}
import graft.operators.text.{Dsir, TextAnalysis}

/** Scale rehearsal for the pair-heavy operators: measures the INTERNAL
  * volumes (shingle-stream rows, candidate pairs entering verification,
  * SemDeDup cell-pair volume, DSIR feature rows) plus wall-clock at a
  * given SF directory, so two runs — sf0.1 and a 10×-replicated copy —
  * show whether the df-cap / band / cell knobs keep pair volume
  * subquadratic in practice (PLANS.md records the table).
  * Usage: runMain graft.ScaleRehearsal <sfDir> [dfCap] [kCells] [sections]
  * — dfCap/kCells override the SF-relative defaults (cap = nDocs/10,
  * 8 cells) with the production-style absolute knobs, to show the same
  * corpus under constant-cap / constant-cell-size settings. `sections`
  * is a comma-separated subset of
  * ngram,lsh,semdedup,dsir,release,eightpass,lshrelease,increleaselsh,
  * increlease,collapse,storeincr,storescratch,storecollapse,exactstate,
  * annx,imagedup,avdup,mediastore,clipstore,embedstore,frontier
  * (default: all; storescratch is storeincr's from-scratch parity
  * target and requires storeincr) — the full rehearsal at 10× takes
  * ~40 min, a single section minutes.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val capOverride = args.lift(1).map(_.toInt)
    val kCells = args.lift(2).map(_.toInt).getOrElse(8)
    val sections = args.lift(3).map(_.split(',').toSet)
    def run(s: String): Boolean = sections.forall(_.contains(s))
    val spark = Session.local("graft-scale-rehearsal")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()

    /** Materialize a deterministic media fixture to scratch parquet
      * BEFORE any timed block reads it — measured decode walls time
      * the decode, not the fixture's own PNG/AVI/WAV encode (which
      * used to sit inside the measured lineage and dominate small
      * payloads). Shares [[graft.queries.Pipeline.fixtureMedia]]'s
      * keyed cache, which also sweeps prior processes' dead fixture
      * dirs — a rehearsal never leaks a corpus-sized parquet per
      * section.
      */
    def matMedia(name: String,
        ds: => org.apache.spark.sql.Dataset[
          graft.operators.multimodal.Multimodal.MediaRow])
        : org.apache.spark.sql.Dataset[
          graft.operators.multimodal.Multimodal.MediaRow] =
      graft.queries.Pipeline.fixtureMedia(spark, sfDir,
        s"rehearsal_$name")(ds)

    val docs = Tables.load(spark, sfDir, "documents")
    val embs = Tables.load(spark, sfDir, "embeddings")
    val nDocs = docs.count()
    val cap = capOverride.getOrElse(Dedup.defaultShingleDfCap(nDocs))
    out += "n_docs" -> nDocs
    out += "df_cap" -> cap

    if (run("ngram")) {
      out += "shingle_rows" -> docs
        .select(sum(size(TextAnalysis.shingles(col("text"))))).head().getLong(0)
      // candidate pairs entering Jaccard verification (threshold 0 keeps
      // every pair sharing >= 1 surviving shingle), then the verified set
      val (cand, tCand) = timed(Dedup.ngramJaccard(docs, "doc_id", "text",
        threshold = 0.0, maxShingleDf = Some(cap)).count())
      ScratchCache.releaseAll(spark)
      out += "ngram_candidate_pairs" -> cand
      out += "ngram_candidates_sec" -> tCand
      val (ver, tVer) = timed(Dedup.ngramJaccard(docs, "doc_id", "text",
        threshold = 0.5, maxShingleDf = Some(cap)).count())
      ScratchCache.releaseAll(spark)
      out += "ngram_verified_pairs" -> ver
      out += "ngram_verified_sec" -> tVer
      val (cl, tCl) = timed(Dedup.connectedComponents(
        Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.5,
          maxShingleDf = Some(cap))).count())
      ScratchCache.releaseAll(spark)
      out += "cluster_rows" -> cl
      out += "clusters_sec" -> tCl
    }

    if (run("lsh")) {
      val (audit, tAudit) = timed(Dedup.lshAudit(docs, "doc_id", "text",
        threshold = 0.5, k = 32, bands = 8, seed = 42L,
        maxShingleDf = Some(cap)).head())
      ScratchCache.releaseAll(spark)
      out += "lsh_candidates" -> audit.getLong(0)
      out += "lsh_precision_pm" -> audit.getLong(4)
      out += "lsh_recall_pm" -> audit.getLong(5)
      out += "lsh_audit_sec" -> tAudit
    }

    if (run("semdedup")) {
      val e = embs.select(col("vec_id").as("id"), col("embedding"))
      val centroids = KMeans.seedCentroids(e, kCells)
      val occ = KMeans.assign(e, centroids).groupBy("cell")
        .agg(count(lit(1)).as("n")).collect()
      out += "semdedup_cells" -> occ.length
      out += "semdedup_pair_volume" -> occ.map(r =>
        r.getLong(1) * (r.getLong(1) - 1) / 2).sum
      val (sd, tSd) = timed(SemDedup.dupCandidates(e, centroids,
        thresholdE6 = 400000L).count())
      ScratchCache.releaseAll(spark)
      out += "semdedup_dups" -> sd
      out += "semdedup_sec" -> tSd
    }

    if (run("dsir")) {
      val (dsirFeats, tDsir) = timed(Dsir.importanceWeights(docs, "doc_id",
        "text", col("source").isin("src0", "src1"), buckets = 4096)
        .agg(sum("n_feats")).head().getLong(0))
      ScratchCache.releaseAll(spark)
      out += "dsir_feature_rows" -> dsirFeats
      out += "dsir_weights_sec" -> tDsir
    }

    if (run("release")) {
      // one-pass release vs the same eight products standalone: the
      // economics of the single scored-pair materialization, measured at
      // this SF (the ratio grows with the pair join's share of the work)
      val quality = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
      val (_, tRelease) = timed {
        val r = Dedup.releasePipeline(docs, "doc_id", "text", threshold = 0.5,
          maxShingleDf = Some(cap), quality = quality)
        Seq(r.pairs, r.clusters, r.keepers, r.clusterSizes, r.survivors,
          r.split, r.sourceOverlap, r.containment).foreach(_.count())
      }
      ScratchCache.releaseAll(spark)
      out += "release_onepass_sec" -> tRelease
    }

    if (run("eightpass")) {
      val quality = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
      val (_, tEightPass) = timed {
        Dedup.ngramJaccard(docs, "doc_id", "text", 0.5, Some(cap)).count()
        ScratchCache.releaseAll(spark)
        Dedup.containment(docs, "doc_id", "text", 0.8, Some(cap)).count()
        ScratchCache.releaseAll(spark)
        def clusters() = Dedup.connectedComponents(
          Dedup.ngramJaccard(docs, "doc_id", "text", 0.5, Some(cap)))
        clusters().count(); ScratchCache.releaseAll(spark)
        Dedup.clusterKeepers(clusters(), quality).count()
        ScratchCache.releaseAll(spark)
        clusters().groupBy("cluster").agg(count(lit(1)).as("size"))
          .groupBy("size").agg(count(lit(1))).count()
        ScratchCache.releaseAll(spark)
        docs.join(clusters().where(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti").count()
        ScratchCache.releaseAll(spark)
        docs.select(col("doc_id"))
          .join(clusters().withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .count()
        ScratchCache.releaseAll(spark)
        Dedup.sourceOverlap(
          Dedup.ngramJaccard(docs, "doc_id", "text", 0.5, Some(cap)),
          docs.select(col("doc_id"), col("source"))).count()
        ScratchCache.releaseAll(spark)
      }
      out += "release_eightpass_sec" -> tEightPass
    }

    if (run("lshrelease")) {
      // the LSH-FRONTED release: candidate volume (banded MinHash for
      // Jaccard + rarest-prefix for containment) vs the exact index
      // join's Σ df² output, and the end-to-end eight-product wall-clock
      // against release_onepass_sec — the headline 100 TB economics
      val quality = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
      val (lshCand, tLshCand) = timed(Dedup.lshCandidates(docs, "doc_id",
        "text", containThreshold = 0.8, maxShingleDf = Some(cap)).count())
      ScratchCache.releaseAll(spark)
      out += "lsh_release_candidates" -> lshCand
      out += "lsh_release_candidates_sec" -> tLshCand
      // parity count captured FROM the timed run (the first product
      // count already materializes it — a second pipeline run would
      // double the section's cost for a number we have)
      var lshPairs = 0L
      val (_, tLshRelease) = timed {
        val r = Dedup.releasePipelineLsh(docs, "doc_id", "text",
          threshold = 0.5, maxShingleDf = Some(cap), quality = quality)
        lshPairs = r.pairs.count()
        Seq(r.clusters, r.keepers, r.clusterSizes, r.survivors,
          r.split, r.sourceOverlap, r.containment).foreach(_.count())
      }
      ScratchCache.releaseAll(spark)
      out += "lsh_release_onepass_sec" -> tLshRelease
      // the LSH-fronted verified pair set must match the exact
      // release's (recall gate at this corpus)
      out += "lsh_release_verified_pairs" -> lshPairs
    }

    if (run("increleaselsh")) {
      // the fully LSH-fronted increment: prior LSH release exists, the
      // top id-decile arrives, and the delta is banded batch×all +
      // one-side-batch prefix probes — neither Σ df² nor corpus×corpus
      // banding. Compare with inc_release_sec (the exact-front
      // increment) and lsh_release_onepass_sec (the from-scratch LSH)
      val quality = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
      val cut = docs.agg(max("doc_id")).head().getLong(0) / 10 * 9
      val isBatch = col("doc_id") > cut
      val prior = docs.where(!isBatch)
      val r0 = Dedup.releasePipelineLsh(prior, "doc_id", "text",
        threshold = 0.5, maxShingleDf = Some(cap),
        quality = prior.select(col("doc_id").as("id"), col("n_chars").as("q")))
      // production-faithful prior: the previous release's scored set is
      // PARQUET on disk, and none of its build caches survive into the
      // increment's window (they would both pollute memory and hide the
      // re-read cost a real daily increment pays)
      val priorDir = java.nio.file.Files.createTempDirectory("incprior")
        .toFile.getAbsolutePath
      r0.scored.write.mode("overwrite").parquet(priorDir)
      ScratchCache.releaseAll(spark)
      val priorScored = spark.read.parquet(priorDir)
      val (_, tIncLsh) = timed {
        val r = Dedup.incrementalReleaseLsh(docs, "doc_id", "text", isBatch,
          priorScored = priorScored, threshold = 0.5,
          maxShingleDf = Some(cap), quality = quality)
        Seq(r.pairs, r.clusters, r.keepers, r.clusterSizes, r.survivors,
          r.split, r.sourceOverlap, r.containment).foreach(_.count())
      }
      ScratchCache.releaseAll(spark)
      out += "inc_lsh_release_sec" -> tIncLsh
    }

    if (run("increlease")) {
      // incremental-release economics: the top id-decile arrives as the
      // daily increment over an existing release. The prior release (and
      // its stored scored pairs) exists BEFORE the increment — only the
      // incremental re-derivation is timed, against a from-scratch
      // release over the same combined corpus
      val quality = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
      val cut = docs.agg(max("doc_id")).head().getLong(0) / 10 * 9
      val isBatch = col("doc_id") > cut
      out += "inc_batch_docs" -> docs.where(isBatch).count()
      val prior = docs.where(!isBatch)
      val r0 = Dedup.releasePipeline(prior, "doc_id", "text", threshold = 0.5,
        maxShingleDf = Some(cap),
        quality = prior.select(col("doc_id").as("id"), col("n_chars").as("q")))
      // parquet-backed prior + cache flush: same methodology as the
      // increleaselsh section (r9's 81.3 s figure used a warm cached
      // prior — not comparable across methods)
      val priorDir = java.nio.file.Files.createTempDirectory("incpriorx")
        .toFile.getAbsolutePath
      r0.scored.write.mode("overwrite").parquet(priorDir)
      ScratchCache.releaseAll(spark)
      val priorScored = spark.read.parquet(priorDir)
      val (_, tInc) = timed {
        val r = Dedup.incrementalRelease(docs, "doc_id", "text", isBatch,
          priorScored = priorScored, threshold = 0.5,
          maxShingleDf = Some(cap), quality = quality)
        Seq(r.pairs, r.clusters, r.keepers, r.clusterSizes, r.survivors,
          r.split, r.sourceOverlap, r.containment).foreach(_.count())
      }
      ScratchCache.releaseAll(spark)
      out += "inc_release_sec" -> tInc
      val (_, tFull) = timed {
        val r = Dedup.releasePipeline(docs, "doc_id", "text", threshold = 0.5,
          maxShingleDf = Some(cap), quality = quality)
        Seq(r.pairs, r.clusters, r.keepers, r.clusterSizes, r.survivors,
          r.split, r.sourceOverlap, r.containment).foreach(_.count())
      }
      ScratchCache.releaseAll(spark)
      out += "full_release_sec" -> tFull
    }

    if (run("collapse")) {
      // the exact-duplicate collapse front on THIS corpus: candidate
      // volume and eight-product wall with collapseExact = true. On the
      // ×10 replicated corpus (g = 10 exact copies of every doc) the
      // uncollapsed front pays group-size² candidate amplification —
      // collapse runs the fronts on the base corpus's representatives
      // and only the true-pair OUTPUT expansion stays quadratic
      val quality = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
      var collPairs = 0L
      val (_, tColl) = timed {
        val r = Dedup.releasePipelineLsh(docs, "doc_id", "text",
          threshold = 0.5, maxShingleDf = Some(cap), quality = quality,
          collapseExact = true)
        collPairs = r.pairs.count()
        Seq(r.clusters, r.keepers, r.clusterSizes, r.survivors,
          r.split, r.sourceOverlap, r.containment).foreach(_.count())
      }
      ScratchCache.releaseAll(spark)
      out += "collapse_release_sec" -> tColl
      out += "collapse_verified_pairs" -> collPairs
    }

    if (run("storeincr")) {
      // the stored-state store lifecycle under streaming ingest: the
      // corpus arrives as 10 id-sliced batches into an lshFront
      // ReleaseStore (uncapped — the stateEnabled shape), compact()
      // fires mid-stream, and each batch's wall-clock is recorded. The
      // claim under test: per-batch cost stays ~flat as the stored
      // corpus grows (stored state is probed, never recomputed), and
      // the final products match a from-scratch LSH release
      val dir = java.nio.file.Files.createTempDirectory("storeincr")
        .toFile.getAbsolutePath
      val store = new graft.operators.dedup.ReleaseStore(spark, dir,
        "doc_id", "text", lshFront = true)
      val slices = 10
      // slice 9 is HELD OUT for the small-batch tail below
      val walls = (0 until slices - 1).map { i =>
        val b = docs.where(pmod(col("doc_id"), lit(slices)) === i)
        val (_, t) = timed(store.ingest(b, batchId = Some(i.toLong)))
        if (i == slices / 2) store.compact(64L * 1024 * 1024)
        t
      }
      out += "store_batch_secs" ->
        walls.map(w => f"$w%.1f").mkString("[", ",", "]")
      // the STEADY-STATE cadence: small novel batches (the 5-second
      // micro-batch regime) against the full stored corpus — these
      // walls must track BATCH size, not stored-corpus size. Uses held
      // out docs: the last big slice arrives as 5 small sub-batches.
      val heldOut = docs.where(pmod(col("doc_id"), lit(slices)) === slices - 1)
      val smallWalls = (0 until 5).map { j =>
        val sb = heldOut.where(
          pmod(xxhash64(col("doc_id")), lit(5)) === j)
          .limit(500)
        val (_, t) = timed(
          store.ingest(sb, batchId = Some((slices + j).toLong)))
        t
      }
      out += "store_small_batch_secs" ->
        smallWalls.map(w => f"$w%.1f").mkString("[", ",", "]")
      // complete the corpus (already-ingested small-batch ids are
      // ignored by the accepted-set resolution) so the parity target
      // below compares equal corpora
      store.ingest(heldOut, batchId = Some(20L))
      val q = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
      var storePairs = 0L
      var storeCont = 0L
      val (_, tProd) = timed {
        val p = store.products(0.5, q)
        storePairs = p.pairs.count()
        storeCont = p.containment.count()
      }
      ScratchCache.releaseAll(spark)
      out += "store_products_sec" -> tProd
      out += "store_verified_pairs" -> storePairs
      out += "store_containment_pairs" -> storeCont
      // parity target: the from-scratch LSH release over the same
      // corpus, uncapped like the store. Its own section so the ×100
      // per-doc row can measure the store cadence without paying an
      // uncapped 500k-doc from-scratch release (parity is pinned at
      // ×10 and by ReleaseStoreSpec; walls are the ×100 question).
      if (run("storescratch")) {
        var fullPairs = 0L
        var fullCont = 0L
        val (_, tFull) = timed {
          val r = Dedup.releasePipelineLsh(docs, "doc_id", "text",
            threshold = 0.5, maxShingleDf = None, quality = q)
          fullPairs = r.pairs.count()
          fullCont = r.containment.count()
        }
        ScratchCache.releaseAll(spark)
        out += "store_scratch_sec" -> tFull
        out += "store_scratch_pairs" -> fullPairs
        out += "store_scratch_containment" -> fullCont
      }
    }

    if (run("exactstate")) {
      // the EXACT front's per-batch cost shape, A/B at rehearsal
      // scale: recompute delta (re-tokenize the whole stored corpus
      // per batch) vs stored shingle state (columnar (id, sh) reads),
      // identical 500-doc steady-state cadence — the measurement
      // behind ReleaseStore.exactStateMinRows' dispatch (gate-scale
      // A/B said recompute wins small; this section prices the
      // crossover side). Pair parity between the two drives pins that
      // the dispatch is execution-only.
      def drive(name: String, forceState: Boolean): (Seq[Double], Long) = {
        graft.operators.dedup.ReleaseStore.exactStateMinRowsForTests =
          Some(if (forceState) 1L else Long.MaxValue)
        try {
          val dir = java.nio.file.Files
            .createTempDirectory(s"exactstate_$name").toFile.getAbsolutePath
          val store = new graft.operators.dedup.ReleaseStore(spark, dir,
            "doc_id", "text")
          val slices = 5
          (0 until slices - 1).foreach { i =>
            val b = docs.where(pmod(col("doc_id"), lit(slices)) === i)
            store.ingest(b, batchId = Some(i.toLong))
            if (i == slices / 2) store.compact(64L * 1024 * 1024)
          }
          val heldOut =
            docs.where(pmod(col("doc_id"), lit(slices)) === slices - 1)
          val walls = (0 until 5).map { j =>
            val sb = heldOut
              .where(pmod(xxhash64(col("doc_id")), lit(5)) === j)
              .limit(500)
            val (_, t) = timed(
              store.ingest(sb, batchId = Some((slices + j).toLong)))
            t
          }
          store.ingest(heldOut, batchId = Some(20L))
          val q = docs.select(col("doc_id").as("id"),
            col("n_chars").as("q"))
          val pairs = store.products(0.5, q).pairs.count()
          ScratchCache.releaseAll(spark)
          (walls, pairs)
        } finally
          graft.operators.dedup.ReleaseStore
            .exactStateMinRowsForTests = None
      }
      val (wR, pR) = drive("recomp", forceState = false)
      val (wS, pS) = drive("state", forceState = true)
      out += "exact_recompute_small_batch_secs" ->
        wR.map(w => f"$w%.1f").mkString("[", ",", "]")
      out += "exact_state_small_batch_secs" ->
        wS.map(w => f"$w%.1f").mkString("[", ",", "]")
      out += "exact_verified_pairs" -> pR
      out += "exact_pair_parity" -> (pR == pS)
    }

    if (run("storecollapse")) {
      // the collapse-front store under RE-CRAWL ingest: batches are
      // contiguous id-RANGE deciles, which on the ×10 corpus makes each
      // batch one crawl snapshot (replica ids live in disjoint high
      // ranges — batch 0 is the distinct corpus, batches 1..9 are exact
      // re-crawls of it). A per-doc store pays probes + scoring for
      // every re-crawled doc; the collapse store matches stored sets
      // and appends MEMBERSHIP ONLY — near-zero state growth and
      // near-zero probe work from batch 1 on. THE wall-flatness claim
      // storeincr's spread slicing cannot make on this corpus.
      val dir = java.nio.file.Files.createTempDirectory("storecoll")
        .toFile.getAbsolutePath
      val store = new graft.operators.dedup.ReleaseStore(spark, dir,
        "doc_id", "text", lshFront = true, collapseFront = true)
      val slices = 10
      val splits = docs.stat.approxQuantile("doc_id",
        (1 until slices).map(_.toDouble / slices).toArray, 0.0)
        .map(_.toLong)
      def sliceOf(i: Int) = {
        val lo = if (i == 0) Long.MinValue else splits(i - 1)
        val hi = if (i == slices - 1) Long.MaxValue else splits(i)
        docs.where(col("doc_id") > lo && col("doc_id") <= hi)
      }
      val walls = (0 until slices).map { i =>
        val b = sliceOf(i)
        val (_, t) = timed(store.ingest(b, batchId = Some(i.toLong)))
        if (i == slices / 2) store.compact(64L * 1024 * 1024)
        t
      }
      out += "storecoll_batch_secs" ->
        walls.map(w => f"$w%.1f").mkString("[", ",", "]")
      out += "storecoll_state_rows" ->
        spark.read.parquet(s"$dir/shingles").count()
      val q = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
      var collPairs = 0L
      var collCont = 0L
      val (_, tProd) = timed {
        val p = store.products(0.5, q)
        collPairs = p.pairs.count()
        collCont = p.containment.count()
      }
      ScratchCache.releaseAll(spark)
      out += "storecoll_products_sec" -> tProd
      out += "storecoll_verified_pairs" -> collPairs
      out += "storecoll_containment_pairs" -> collCont
    }

    if (run("annx")) {
      // ANN at scale: the replicated embeddings are 100%-identical
      // copies (a degenerate ANN corpus — any copy is a perfect
      // neighbor), so DISTINCT vectors are derived by a deterministic
      // per-copy perturbation of each float (±0.125 from the element's
      // xxhash64 — replica 0 keeps small offsets too, so every stored
      // vector is unique but clusters stay put). Measures the honest
      // trade the similarity family sells: brute-force ground truth vs
      // in-memory IVF vs the PERSISTED cell-partitioned index
      // (build-once-probe-many), with recall@10 against brute force.
      val perturbed = embs.select(col("vec_id").as("id"),
        expr("transform(embedding, (x, i) -> CAST(x + " +
          "(pmod(xxhash64(concat(CAST(vec_id AS STRING), '_', " +
          "CAST(i AS STRING))), 1000) / 4000.0 - 0.125) AS FLOAT))")
          .as("embedding"))
      val corpus = ScratchCache.persist(perturbed)
      val nVecs = corpus.count()
      out += "ann_corpus" -> nVecs
      val queries = corpus.where(col("id") < 100)
        .select(col("id").as("qid"), col("embedding"))
      val k = 10
      var truth: org.apache.spark.sql.DataFrame = null
      val (_, tBrute) = timed {
        truth = ScratchCache.persist(
          CosineSearch.bruteForce(queries, corpus, k)
            .select(col("qid"), col("id")))
        truth.count()
      }
      out += "ann_brute_sec" -> tBrute
      def recallPm(approx: org.apache.spark.sql.DataFrame): Long = {
        val hits = truth.join(approx.select(col("qid"), col("id")),
          Seq("qid", "id"), "left_semi").count()
        hits * 1000 / truth.count()
      }
      val (ivf, tIvf) = timed {
        val r = ScratchCache.persist(
          CosineSearch.ivfTopK(queries, corpus, k, nlist = 64, nprobe = 8))
        r.count()
        r
      }
      out += "ann_ivf_sec" -> tIvf
      out += "ann_ivf_recall_pm" -> recallPm(ivf)
      val idxDir = java.nio.file.Files.createTempDirectory("annx")
        .toFile.getAbsolutePath
      val (_, tBuild) = timed(
        CosineSearch.buildIvfIndex(corpus, idxDir, nlist = 64))
      out += "ann_index_build_sec" -> tBuild
      val (idx, tSearch) = timed {
        val r = ScratchCache.persist(CosineSearch.searchIvfIndex(
          spark, idxDir, queries, k, nprobe = 8))
        r.count()
        r
      }
      out += "ann_index_search_sec" -> tSearch
      out += "ann_index_recall_pm" -> recallPm(idx)
      ScratchCache.releaseAll(spark)
    }

    if (run("imagedup")) {
      // the perceptual-hash pair stage at this corpus size: encode one
      // q_image_neardup path PNG per doc on the executors, REAL-decode
      // back to dHash, then the banded-Hamming blocking join — measures
      // the full decode + pair wall and the candidate economics of the
      // 16-bit-chunk buckets at scale (the SimHash join shape on an
      // image corpus)
      import spark.implicits._
      import graft.operators.multimodal.Multimodal
      val ids = docs.select(col("doc_id")).as[Long]
      val media = matMedia("imagedup", ids.mapPartitions(_.map(id =>
        Multimodal.MediaRow(id, "image",
          Multimodal.encodePathPng(graft.queries.Pipeline.pathKey(id)),
          "synth"))))
      val h = ScratchCache.persist(Multimodal.imageDHash(media)
        .where(col("cause") === "ok")
        .select(col("media_id").as("id"), col("dhash").as("sh")).toDF())
      val (hn, tHash) = timed(h.count())
      out += "imagedup_hashes" -> hn
      out += "imagedup_decode_sec" -> tHash
      val (pairs, tPairs) = timed(
        Dedup.hammingPairs(h, maxHamming = 3).count())
      out += "imagedup_pairs" -> pairs
      out += "imagedup_pairs_sec" -> tPairs
      ScratchCache.releaseAll(spark)
    }

    if (run("avdup")) {
      // video/audio perceptual dedup at this corpus size: one 3-frame
      // path AVI and one stepped-envelope WAV per doc, REAL container
      // parse + raster/PCM decode back to the clip fingerprint, then
      // the shared banded-Hamming join — the q_video_neardup /
      // q_audio_neardup shapes at scale. Measures the codec-walk wall
      // (a stateless per-partition map) and the pair stage separately
      import spark.implicits._
      import graft.operators.multimodal.Multimodal
      val ids = docs.select(col("doc_id")).as[Long]
      val vmedia = matMedia("avdup_v", ids.mapPartitions(_.map { id =>
        val k = graft.queries.Pipeline.pathKey(id)
        val noise = (id * 0x9e3779b97f4a7c15L) | 1L
        Multimodal.MediaRow(id, "video",
          Multimodal.encodePathAvi(Seq(k, k ^ noise, k)), "synth")
      }))
      val vh = ScratchCache.persist(Multimodal.videoDHash(vmedia)
        .where(col("cause") === "ok")
        .select(col("media_id").as("id"), col("clip_dhash").as("sh")).toDF())
      val (vn, tV) = timed(vh.count())
      out += "videodup_hashes" -> vn
      out += "videodup_decode_sec" -> tV
      val (vPairs, tVp) = timed(
        Dedup.hammingPairs(vh, maxHamming = 3).count())
      out += "videodup_pairs" -> vPairs
      out += "videodup_pairs_sec" -> tVp
      ScratchCache.releaseAll(spark)
      // sub-clip alignment at this corpus size: the q_clip_align shape
      // (odd docs carry frames 1..2 of their even sibling's 4-frame
      // clip) — decode + frame explode + diagonal argmax; output rows =
      // 2 per sibling pair, so ~n_docs — the aggregation tracks match
      // volume, not clips²
      val amediaClips = matMedia("avdup_clips",
        ids.mapPartitions(_.map { id =>
          val gid = id / 2
          def fk(i: Int) = graft.queries.Pipeline.h48(s"f${i}_$gid")
          val keys =
            if (id % 2 == 0) Seq(fk(0), fk(1), fk(2), fk(3))
            else Seq(fk(1), fk(2))
          Multimodal.MediaRow(id, "video", Multimodal.encodePathAvi(keys),
            "synth")
        }))
      val frames = ScratchCache.persist(
        Multimodal.videoDHash(amediaClips).where(col("cause") === "ok")
          .select(col("media_id").as("id"),
            posexplode(col("frame_dhash")).as(Seq("frame_idx", "sh"))))
      val (alignRows, tAlign) = timed(
        Multimodal.clipAlignment(frames, maxHamming = 0).count())
      out += "clipalign_rows" -> alignRows
      out += "clipalign_sec" -> tAlign
      ScratchCache.releaseAll(spark)
      val amedia = matMedia("avdup_a", ids.mapPartitions(_.map { id =>
        val g = 1 + (id % 3).toInt
        Multimodal.MediaRow(id, "audio",
          Multimodal.encodeStepWav(graft.queries.Pipeline.pathKey(id),
            base = 2000 * g, step = 16 * g), "synth")
      }))
      val ah = ScratchCache.persist(Multimodal.audioDHash(amedia)
        .where(col("cause") === "ok")
        .select(col("media_id").as("id"), col("dhash").as("sh")).toDF())
      val (an, tA) = timed(ah.count())
      out += "audiodup_hashes" -> an
      out += "audiodup_decode_sec" -> tA
      val (aPairs, tAp) = timed(
        Dedup.hammingPairs(ah, maxHamming = 3).count())
      out += "audiodup_pairs" -> aPairs
      out += "audiodup_pairs_sec" -> tAp
      ScratchCache.releaseAll(spark)
      // the newest per-partition passes at this corpus size: one A/V
      // container per doc (3 path frames with a 24-bit cut + one PCM
      // audio segment), keyframe-per-shot extraction and audio demux —
      // both stateless maps whose wall should track the decode stages
      val avmedia = matMedia("avdup_av", ids.mapPartitions(_.map { id =>
        val k = graft.queries.Pipeline.pathKey(id)
        Multimodal.MediaRow(id, "video",
          Multimodal.encodePathAvi(
            Seq(k, k ^ 0x0000ffffff000000L, k),
            audioChunks = Multimodal.stepPcm(Seq(k))
              .grouped(130).toIndexedSeq), "synth")
      }))
      val (kfRows, tKf) = timed(
        Multimodal.videoKeyframes(avmedia, minHamming = 16)
          .filter(_.cause == "ok").count())
      out += "keyframes_rows" -> kfRows
      out += "keyframes_sec" -> tKf
      val (dmRows, tDm) = timed(
        Multimodal.demuxAudio(avmedia).filter(_.cause == "ok").count())
      out += "demux_rows" -> dmRows
      out += "demux_sec" -> tDm
      ScratchCache.releaseAll(spark)
    }

    if (run("mediastore")) {
      // the DURABLE media-dedup cadence at this corpus size: the
      // imagedup fingerprint corpus arrives as 5 id-sliced batches into
      // a MediaStore (batch×stored hammingJoin + batch self-join,
      // marker-guarded appends). Decode is paid once up front (its wall
      // is the imagedup row); the per-batch walls here isolate the
      // STORE cadence — they should track batch size + candidate
      // volume, staying ~flat while the stored corpus grows 5×
      import spark.implicits._
      import graft.operators.multimodal.Multimodal
      import graft.operators.dedup.MediaStore
      val ids = docs.select(col("doc_id")).as[Long]
      val media = matMedia("mediastore", ids.mapPartitions(_.map(id =>
        Multimodal.MediaRow(id, "image",
          Multimodal.encodePathPng(graft.queries.Pipeline.pathKey(id)),
          "synth"))))
      val h = ScratchCache.persist(Multimodal.imageDHash(media)
        .where(col("cause") === "ok")
        .select(col("media_id").as("id"), col("dhash").as("sh")).toDF())
      h.count()
      val dir = java.nio.file.Files.createTempDirectory("mediastore")
        .toFile.getAbsolutePath
      val store = new MediaStore(spark, dir)
      val hk = h.withColumn("kind", lit("image"))
      (0L until 5L).foreach { b =>
        val (_, t) = timed(
          store.ingest(hk.where(pmod(col("id"), lit(5)) === b), Some(b)))
        out += s"mediastore_ingest${b}_sec" -> t
        if (b == 2L) store.compact(targetFileBytes = 64L * 1024 * 1024)
      }
      val (pairsN, tPairs) = timed(store.pairs.count())
      out += "mediastore_pairs" -> pairsN
      out += "mediastore_pairs_read_sec" -> tPairs
      val (clN, tCl) = timed(store.clusters().count())
      out += "mediastore_clusters" -> clN
      out += "mediastore_clusters_sec" -> tCl
      ScratchCache.releaseAll(spark)
    }

    if (run("clipstore")) {
      // the DURABLE sub-clip purge cadence: per-clip frame sequences
      // arrive as 10 id-sliced batches into the MediaStore CLIP plane
      // (batch-self + batch×stored frame matching + the diagonal vote
      // over the delta's own match volume — stored×stored never
      // re-aligns). Even ids carry the full 4-frame clip of group
      // id/2, odd ids its frames-1..2 cut-out, and the full clip and
      // its cut-out land in DIFFERENT batches (pmod slicing), so every
      // containment pair genuinely crosses the batch/stored boundary.
      // Frame keys salt by group: alignment pairs are within-sibling
      // only (the cut-out↔source relation the operator exists for) —
      // exact-dup cliques are the PRINT plane's job, so the match
      // volume here is linear in the corpus by construction. Per-batch
      // walls should track batch size while stored frames grow 10×;
      // the from-scratch alignment wall is the comparison target a
      // per-release re-alignment would pay.
      import graft.operators.dedup.MediaStore
      import graft.operators.multimodal.Multimodal
      val base = docs.select(col("doc_id").as("id"),
        expr("doc_id div 2").as("gid"),
        pmod(col("doc_id"), lit(2)).as("par"))
      val fr = ScratchCache.persist(base.select(col("id"), col("gid"),
          col("par"),
          explode(when(col("par") === 0,
              array((0 to 3).map(i => lit(i)): _*))
            .otherwise(array(lit(1), lit(2)))).as("i"))
        .select(col("id"),
          when(col("par") === 0, col("i")).otherwise(col("i") - 1)
            .cast("long").as("frame_idx"),
          xxhash64(concat(lit("cf"), col("i"), lit("_"), col("gid")))
            .as("sh"),
          lit("video").as("kind")))
      out += "clipstore_frames" -> fr.count()
      val dir = java.nio.file.Files.createTempDirectory("clipstore")
        .toFile.getAbsolutePath
      val store = new MediaStore(spark, dir)
      (0L until 10L).foreach { b =>
        val (_, t) = timed(
          store.ingestClips(fr.where(pmod(col("id"), lit(10)) === b),
            Some(b)))
        out += s"clipstore_ingest${b}_sec" -> t
        if (b == 4L) store.compact(targetFileBytes = 64L * 1024 * 1024)
      }
      val (cpN, tRead) = timed(store.clipPairs.count())
      out += "clipstore_pairs" -> cpN
      out += "clipstore_pairs_read_sec" -> tRead
      // parity: the accumulated directed alignment must equal the
      // from-scratch one row-for-row (0 = exact), and the from-scratch
      // wall is what a per-release re-alignment would re-pay
      var scratchPairs = 0L
      val (_, tScratch) = timed {
        val w = Multimodal.clipAlignment(fr, maxHamming = 0)
        scratchPairs = w.count()
        val got = store.clipPairs.select(col("id_a"), col("id_b"),
          col("frames_a"), col("aligned"), col("offset"),
          col("containment_pm"))
        out += "clipstore_parity_diff" ->
          (got.exceptAll(w).count() + w.exceptAll(got).count())
      }
      out += "clipstore_scratch_pairs" -> scratchPairs
      out += "clipstore_scratch_align_sec" -> tScratch
      val quality = fr.groupBy(col("id"))
        .agg(count(lit(1)).cast("long").as("q"))
      val (survN, tPurge) = timed(store.purgeClips(
        docs.select(col("doc_id")), "doc_id", quality).count())
      out += "clipstore_survivors" -> survN
      out += "clipstore_purge_sec" -> tPurge
      ScratchCache.releaseAll(spark)
    }

    if (run("embedstore")) {
      // the DURABLE embedding-dedup cadence at this corpus size: the
      // (replicated) embeddings arrive as 10 id-sliced batches into an
      // EmbedStore (batch self-join + batch×stored sign-LSH postings
      // equi-join + candidate-only exact-cosine verification, marker-
      // guarded appends). The replicated corpus is the WORST case —
      // every source vector is an N-member exact-duplicate clique, so
      // the verified pair OUTPUT is quadratic in the replication
      // factor by the operator's semantics. The claims under test:
      // per-batch walls track batch size + candidate volume
      // (~tables·n/2^bits stored collisions per batch row — the
      // printed postings pair volume is that economics, measured from
      // stored state), NOT stored-corpus re-verification; vectors are
      // 100–1000× heavier per row than 64-bit prints, so the "fat
      // read tracks candidate volume" claim is what the walls price.
      // Parity: the accumulated pair set must equal a from-scratch
      // nearDupPairs run row-for-row (0 = exact), whose wall is what
      // a per-release re-pair would re-pay.
      import graft.operators.dedup.EmbedStore
      val e = ScratchCache.persist(
        embs.select(col("vec_id").as("id"), col("embedding")))
      out += "embedstore_vectors" -> e.count()
      val dir = java.nio.file.Files.createTempDirectory("embedstore")
        .toFile.getAbsolutePath
      val store = new EmbedStore(spark, dir, thresholdE6 = 400000L)
      (0L until 10L).foreach { b =>
        val (_, t) = timed(
          store.ingest(e.where(pmod(col("id"), lit(10)) === b), Some(b)))
        out += s"embedstore_ingest${b}_sec" -> t
        if (b == 4L) store.compact(targetFileBytes = 64L * 1024 * 1024)
      }
      // the one-shot candidate volume the ingests amortized:
      // Σ c·(c−1)/2 over stored (tbl, bucket) occupancies — compare
      // against tables·n²/2^(bits+1) for the uniform-spread claim
      // coalesce: sum over zero groups is null — a degenerate corpus
      // argument must not NPE the rehearsal after the ingests completed
      out += "embedstore_candidate_volume" ->
        spark.read.parquet(s"$dir/postings")
          .groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L)))
          .head().getLong(0)
      val (pn, tRead) = timed(store.pairs.count())
      out += "embedstore_pairs" -> pn
      out += "embedstore_pairs_read_sec" -> tRead
      var scratchPairs = 0L
      val (_, tScratch) = timed {
        val w = CosineSearch.nearDupPairs(e, thresholdE6 = 400000L)
          .select(col("id_a"), col("id_b"), col("sim_e6"))
        scratchPairs = w.count()
        val got = store.pairs
          .select(col("id_a"), col("id_b"), col("sim_e6"))
        out += "embedstore_parity_diff" ->
          (got.exceptAll(w).count() + w.exceptAll(got).count())
      }
      out += "embedstore_scratch_pairs" -> scratchPairs
      out += "embedstore_scratch_sec" -> tScratch
      // the incremental star-edge fold over the accumulated pairs
      val (clN, tCl) = timed(store.clusters().count())
      out += "embedstore_clusters" -> clN
      out += "embedstore_clusters_sec" -> tCl
      // the STEADY-STATE cadence: 5 × 500-vector NOVEL micro-batches
      // (deterministic xxhash floats, ids above every replica range)
      // against the full stored corpus — the 5-second-trigger regime.
      // These walls must track batch size + the batch's own candidate
      // volume (~tables·n/2^bits stored collisions per row), NOT the
      // 10-slice drive's 20k-vector batch walls. Runs AFTER the parity
      // and fold reads so their targets stay the 10-slice corpus.
      val smallWalls = (0 until 5).map { j =>
        val tb = spark.range(500).select(
          (col("id") + lit(10000000000L + j * 500L)).as("id"),
          expr("transform(sequence(0, 63), i -> CAST(" +
            "(pmod(xxhash64(concat(CAST(id AS STRING), '_', " +
            "CAST(i AS STRING))), 2001) - 1000) / 1000.0 AS FLOAT))")
            .as("embedding"))
        val (_, t) = timed(store.ingest(tb, Some(10L + j)))
        t
      }
      out += "embedstore_small_batch_secs" ->
        smallWalls.map(w => f"$w%.1f").mkString("[", ",", "]")
      // the MIGRATION path: at replicated scales this corpus has
      // outgrown bits = 8 (a batch's candidates blanket all 256
      // buckets past ~10⁵ vectors — the measured corpus-linear
      // verification regime), so rehash to the corpus-sized width
      // (bitsFor) and re-run the steady-state cadence. The payoff
      // METER is the candidate stored-id count a novel batch's
      // postings touch — that set IS the exact-cosine verification
      // read — printed at the old and new widths; the batch WALL
      // also carries the guard floor and the other corpus-linear
      // scans, so it moves only by the verification share at this SF.
      def candIdsTouched(bits: Int): Long = {
        val tb = spark.range(500).select(
          (col("id") + lit(30000000000L)).as("id"),
          expr("transform(sequence(0, 63), i -> CAST(" +
            "(pmod(xxhash64(concat(CAST(id AS STRING), '_', " +
            "CAST(i AS STRING))), 2001) - 1000) / 1000.0 AS FLOAT))")
            .as("embedding"))
        val bPost = CosineSearch.postingsOf(
          CosineSearch.normProjection(tb, "id", "embedding"),
          dim = 64, bits = bits, tables = 4, seed = 7L)
        spark.read.parquet(s"$dir/postings").as("s")
          .join(bPost.as("b"), col("s.tbl") === col("b.tbl") &&
            col("s.bucket") === col("b.bucket"))
          .select(col("s.id")).distinct().count()
      }
      out += "embedstore_cand_ids_bits8" -> candIdsTouched(8)
      val nStored = spark.read.parquet(s"$dir/vecs").count()
      val nb = EmbedStore.bitsFor(nStored)
      val (_, tRehash) = timed(store.rehash(nb))
      out += "embedstore_rehash_bits" -> nb
      out += "embedstore_rehash_sec" -> tRehash
      out += "embedstore_cand_ids_rehash" -> candIdsTouched(nb)
      val rehashWalls = (0 until 3).map { j =>
        val tb = spark.range(500).select(
          (col("id") + lit(20000000000L + j * 500L)).as("id"),
          expr("transform(sequence(0, 63), i -> CAST(" +
            "(pmod(xxhash64(concat(CAST(id AS STRING), '_', " +
            "CAST(i AS STRING))), 2001) - 1000) / 1000.0 AS FLOAT))")
            .as("embedding"))
        val (_, t) = timed(store.ingest(tb, Some(20L + j)))
        t
      }
      out += "embedstore_rehash_batch_secs" ->
        rehashWalls.map(w => f"$w%.1f").mkString("[", ",", "]")
      ScratchCache.releaseAll(spark)
    }

    if (run("frontier")) {
      // the cap PLANNER at this SF: what cap a fixed pair budget buys,
      // and what the frontier costs to compute (one aggregation pass —
      // the price of not guessing)
      val budget = 10000000L
      val (frontierRows, tFrontier) = timed(
        Dedup.dfCapFrontier(docs, "doc_id", "text").count())
      out += "frontier_rows" -> frontierRows
      out += "frontier_sec" -> tFrontier
      val (cap10m, tSuggest) = timed(
        Dedup.suggestDfCap(docs, "doc_id", "text", pairBudget = budget))
      out += "suggested_cap_at_10m_pairs" -> cap10m
      out += "suggest_sec" -> tSuggest
    }

    def j(v: Any): String = v match {
      case d: Double => f"$d%.2f"
      case x => x.toString
    }
    println(out.map { case (k, v) => s""""$k":${j(v)}""" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
