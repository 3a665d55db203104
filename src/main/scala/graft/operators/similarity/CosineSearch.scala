package graft.operators.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expressions.Sketches

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *  - [[bruteForce]]: exact top-k by cosine — broadcast the (small) query
  *    set against the corpus; one pass, no corpus shuffle. The baseline.
  *  - [[lshTopK]]: random-hyperplane LSH — bucket the corpus once by a
  *    b-bit sign sketch, probe only matching buckets, exact re-rank inside.
  *  - [[ivfTopK]]: inverted-file cells with nprobe probing.
  *
  * All float math is widened to double before multiplying so results are
  * reproducible across engines, and similarity is quantized to 1e-6 for
  * deterministic cross-engine ordering (ties broken by id).
  *
  * Hot-path shape: dot products run through the one-pass native
  * [[graft.expressions.DotProduct]] (the `aggregate(zip_with(...))` form
  * allocates a zipped array per candidate pair), and the L2 norms are
  * computed in the per-row projections BELOW the join, so per-pair work is
  * exactly one dot product and one division. FP accumulation order is
  * unchanged, so scores are bit-identical to the composed form.
  */
object CosineSearch {

  private def dots(a: Column, b: Column): Column = Sketches.dotProduct(a, b)

  /** cosine(a, b) over array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    dots(a, b) / (sqrt(dots(a, a)) * sqrt(dots(b, b)))

  /** (id, vector, norm) projection — norms computed once per row. */
  private def withNorm(df: DataFrame, idCol: String, idOut: String,
      embCol: String, vecOut: String): DataFrame =
    df.select(col(idCol).as(idOut),
      col(embCol).cast("array<double>").as(vecOut),
      sqrt(Sketches.dotProduct(col(embCol).cast("array<double>"),
        col(embCol).cast("array<double>"))).as(s"${vecOut}_n"))

  /** Per-pair cosine from pre-projected vectors and norms: same FP ops as
    * [[cosine]] (dot / (sqrt·sqrt)), with the sqrts hoisted below the join.
    */
  private val pairSimE6: Column =
    round(dots(col("qv"), col("cv")) / (col("qv_n") * col("cv_n")) * 1e6)
      .cast("long")

  /** Exact top-k neighbors for each query row.
    *
    * @param queries (qid, embedding float array) — must be small enough to
    *                broadcast (the per-query top-k is a shuffle on qid only)
    * @param corpus  (id, embedding float array)
    * @return (qid, rank, id, sim_e6)
    */
  def bruteForce(queries: DataFrame, corpus: DataFrame, k: Int,
      qidCol: String = "qid", idCol: String = "id",
      embCol: String = "embedding"): DataFrame = {
    val q = withNorm(queries, qidCol, "qid", embCol, "qv")
    val c = withNorm(corpus, idCol, "id", embCol, "cv")
    val w = Window.partitionBy("qid").orderBy(desc("sim_e6"), asc("id"))
    c.crossJoin(broadcast(q))
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("id"), pairSimE6.as("sim_e6"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("sim_e6"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query, the k most cosine-similar corpus rows with a DIFFERENT
    * label — the near-misses that teach a metric model its decision
    * boundary (the standard triplet/InfoNCE negative-sampling recipe).
    * Same scale shape as [[bruteForce]]: broadcast query batch, one
    * corpus scan, WindowGroupLimit bounds each query's candidates before
    * the qid shuffle; the label inequality is a codegen'd predicate
    * below the ranking, so same-label rows never enter the window.
    *
    * @param queries (qid, embedding, label) — broadcastable batch
    * @param corpus  (id, embedding, label)
    * @return (qid, rank, id, sim_e6) with rank over different-label rows
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      qidCol: String = "qid", idCol: String = "id",
      embCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    def proj(df: DataFrame, id: String, idOut: String, vec: String,
        labOut: String) = {
      val v = col(embCol).cast("array<double>")
      df.select(col(id).as(idOut), v.as(vec), sqrt(dots(v, v)).as(s"${vec}_n"),
        col(labelCol).as(labOut))
    }
    val q = proj(queries, qidCol, "qid", "qv", "qlabel")
    val c = proj(corpus, idCol, "id", "cv", "clabel")
    val w = Window.partitionBy("qid").orderBy(desc("sim_e6"), asc("id"))
    c.crossJoin(broadcast(q))
      .where(col("qid") =!= col("id") && col("qlabel") =!= col("clabel"))
      .select(col("qid"), col("id"), pairSimE6.as("sim_e6"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("sim_e6"))
  }

  /** Exact all-pairs cosine above a threshold — the ground-truth baseline
    * the approximate paths ([[nearDupPairs]]) are validated against. O(n²)
    * pair evaluation by construction: this is the AUDIT path (validation
    * samples, recall measurement), never the production path — the LSH
    * banding of [[nearDupPairs]] is the 100 TB shape. Norms are computed
    * once per row below the join; per-pair work is one native dot product.
    *
    * `maxRows` is a hard guardrail: the corpus is counted first (cheap —
    * parquet row-group metadata) and a corpus larger than the cap refuses
    * to run rather than silently going cartesian on a full corpus. Raise
    * it knowingly for a bigger audit sample, or sample upstream.
    *
    * @return (id_a, id_b, sim_e6) with id_a < id_b and sim_e6 ≥ threshold
    */
  def exactPairs(corpus: DataFrame, thresholdE6: Long, idCol: String = "id",
      embCol: String = "embedding", maxRows: Long = 100000L): DataFrame = {
    val n = corpus.count()
    require(n <= maxRows,
      s"exactPairs is the O(n²) audit baseline: corpus has $n rows > " +
        s"maxRows=$maxRows (${n * n / 2} pair evaluations). Use " +
        "nearDupPairs (LSH) for full corpora, or sample/raise maxRows " +
        "for a larger audit.")
    val a = withNorm(corpus, idCol, "id_a", embCol, "qv")
    val b = withNorm(corpus, idCol, "id_b", embCol, "cv")
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), pairSimE6.as("sim_e6"))
      .where(col("sim_e6") >= thresholdE6)
  }

  /** Greedy k-center (farthest-point) diversity coreset: seed with the
    * lowest id, then repeatedly add the point farthest (max cosine
    * distance, ties to the lowest id) from every center picked so far —
    * the classic 2-approximation coverage sampler used to pick a
    * maximally diverse training subset from an embedded corpus.
    *
    * Scale shape: k passes over the corpus, each ONE persisted projection
    * carrying a single running `mind` long per row updated against only
    * the newest center (the k-1 earlier distances are already folded in)
    * — O(k·n) distance evaluations total, one k-row driver collect. No
    * pairwise joins, no shuffle beyond the per-pass argmax reduction.
    *
    * @return (rank, id, dist_e6): selection order, picked id, cosine
    *         distance ×1e6 to the nearest earlier center (the seed
    *         reports the 2e6 sentinel = max possible cosine distance)
    */
  def kCenterCoreset(corpus: DataFrame, k: Int, idCol: String = "id",
      embCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = graft.ScratchCache.persist(corpus.select(
      col(idCol).cast("long").as("id"),
      col(embCol).cast("array<double>").as("v")))
    val seed = base.orderBy("id").select("id", "v").head()
    var picked = Vector((0, seed.getLong(0), 2000000L))
    var centerVec = seed.getSeq[Double](1)
    var cur = base.where(col("id") =!= seed.getLong(0))
      .withColumn("mind", lit(2000000L))
    // at most TWO loop projections are ever cached: the one the argmax
    // just materialized and (briefly) its predecessor. Each pass frees the
    // superseded persist right after the collect proves the new one is
    // materialized — recompute on block loss falls through the (short)
    // lineage to the still-persisted `base`.
    var live: DataFrame = null
    // …and every `LineageCutEvery` passes the running projection is
    // localCheckpoint'ed so the plan stays O(cut interval) deep for large
    // k instead of O(k) — connectedComponents' bounded-plan tradeoff
    // (recompute-on-failure is given up for the checkpointed segment).
    // Superseded checkpoint blocks are freed on the next cut.
    val sc = spark.sparkContext
    var checkpointIds: Set[Int] = Set.empty
    def freeCheckpoints(): Unit = {
      checkpointIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      checkpointIds = Set.empty
    }
    var r = 1
    var exhausted = false
    while (r < k && !exhausted) {
      val dist = (lit(1000000L) -
        round(cosine(col("v"), typedLit(centerVec)) * 1e6).cast("long"))
      cur = graft.ScratchCache.persist(
        cur.withColumn("mind", least(col("mind"), dist)))
      val picked0 =
        cur.orderBy(desc("mind"), asc("id")).limit(1).collect().headOption
      if (live != null) graft.ScratchCache.release(live)
      live = cur
      picked0 match {
        case None => exhausted = true // corpus smaller than k
        case Some(row) =>
          picked = picked :+ ((r, row.getLong(0), row.getLong(2)))
          centerVec = row.getSeq[Double](1)
          cur = cur.where(col("id") =!= row.getLong(0))
          if (r % LineageCutEvery == 0) {
            val cut = cur.localCheckpoint() // eager: blocks exist on return
            // own ONLY the checkpointed RDD backing `cut`: diffing the
            // session-global persistent-RDD map would race with concurrent
            // persists (another coreset run, a console handler) and free
            // blocks this run does not own
            val newIds = cut.queryExecution.analyzed.collect {
              case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
            }.toSet
            cur = cut
            graft.ScratchCache.release(live)
            live = null
            freeCheckpoints()
            checkpointIds = newIds
          }
          r += 1
      }
    }
    freeCheckpoints() // `picked` is driver-side; the blocks are dead
    picked.toDF("rank", "id", "dist_e6")
  }

  /** Lineage-cut interval for [[kCenterCoreset]]'s greedy loop. */
  private val LineageCutEvery = 32

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    * greedily pick k vectors maximizing
    * `λ·rel(v) − (1−λ)·max_{s∈selected} sim(v, s)` — the
    * relevance-aware sibling of [[kCenterCoreset]] (λ=0 degenerates to
    * pure diversity, λ=1 to plain top-k by relevance). The curation step
    * that picks examples similar to a target (query centroid) WITHOUT
    * collapsing onto near-duplicates of one another.
    *
    * All-integer scoring: similarities are e6-quantized once, the score
    * is kept SCALED by 10⁶ (`lamPpm·rel_e6 − (10⁶−lamPpm)·maxsim_e6`,
    * |score| < 10¹² — fits a long with no division, so there is no
    * trunc-vs-floor ambiguity between engines on negative scores).
    *
    * Scale shape = kCenterCoreset's: the corpus projection is persisted
    * once; each round is one codegen'd column update + a 1-row argmax
    * collect; at most two loop projections are live and the lineage is
    * localCheckpoint-cut every [[LineageCutEvery]] rounds.
    *
    * @return (rank, id, rel_e6, score) — rank 0's score is lamPpm·rel_e6
    *         (empty selected set ⇒ the penalty term is zero)
    */
  def mmrSelect(corpus: DataFrame, queryVec: Seq[Double], k: Int,
      lamPpm: Long, idCol: String = "id",
      embCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(lamPpm >= 0L && lamPpm <= 1000000L,
      s"lamPpm must be within [0, 1000000] (got $lamPpm)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = graft.ScratchCache.persist(corpus.select(
      col(idCol).cast("long").as("id"),
      col(embCol).cast("array<double>").as("v"),
      round(cosine(col(embCol).cast("array<double>"),
        typedLit(queryVec)) * 1e6).cast("long").as("rel")))
    val first = base.orderBy(desc("rel"), asc("id")).limit(1)
      .collect().headOption.getOrElse(
        return Seq.empty[(Int, Long, Long, Long)]
          .toDF("rank", "id", "rel_e6", "score"))
    var picked = Vector((0, first.getLong(0), first.getLong(2),
      lamPpm * first.getLong(2)))
    var pickedVec = first.getSeq[Double](1)
    var cur = base.where(col("id") =!= first.getLong(0))
      .withColumn("ms", lit(-1000000L)) // any real sim supersedes it
    var live: DataFrame = null
    val sc = spark.sparkContext
    var checkpointIds: Set[Int] = Set.empty
    def freeCheckpoints(): Unit = {
      checkpointIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      checkpointIds = Set.empty
    }
    var r = 1
    var exhausted = false
    while (r < k && !exhausted) {
      val sim = round(cosine(col("v"), typedLit(pickedVec)) * 1e6)
        .cast("long")
      cur = graft.ScratchCache.persist(
        cur.withColumn("ms", greatest(col("ms"), sim)))
      val score = (lit(lamPpm) * col("rel") -
        lit(1000000L - lamPpm) * col("ms")).as("score")
      val picked0 = cur.select(col("id"), col("v"), col("rel"), score)
        .orderBy(desc("score"), asc("id")).limit(1).collect().headOption
      if (live != null) graft.ScratchCache.release(live)
      live = cur
      picked0 match {
        case None => exhausted = true
        case Some(row) =>
          picked = picked :+ ((r, row.getLong(0), row.getLong(2),
            row.getLong(3)))
          pickedVec = row.getSeq[Double](1)
          cur = cur.where(col("id") =!= row.getLong(0))
          if (r % LineageCutEvery == 0) {
            val cut = cur.localCheckpoint()
            val newIds = cut.queryExecution.analyzed.collect {
              case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
            }.toSet
            cur = cut
            graft.ScratchCache.release(live)
            live = null
            freeCheckpoints()
            checkpointIds = newIds
          }
          r += 1
      }
    }
    freeCheckpoints()
    picked.toDF("rank", "id", "rel_e6", "score")
  }

  /** Deterministic seeded hyperplanes: `bits` rows of `dim` doubles. */
  private def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  /** Sign sketch of an embedding under the given hyperplanes. */
  def signSketch(emb: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dots(emb, typedLit(p.toSeq)) >= 0, shiftleft(lit(1L), i))
        .otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The seeded hyperplane family of [[lshTopK]], exposed so an external
    * oracle can replicate the sign sketches exactly:
    * `lshPlanes(dim, bits, tables, seed)(l)(i)` is table l's i-th plane.
    */
  def lshPlanes(dim: Int, bits: Int, tables: Int,
      seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(tables)(l => hyperplanes(dim, bits, seed + l))

  /** The (id, cv, cv_n) projection [[nearDupPairs]] verifies over,
    * exposed for the durable store
    * ([[graft.operators.dedup.EmbedStore]]): the cast/norm arithmetic
    * must be THE SAME expression tree there, or stored-state
    * verification would drift from the from-scratch operator by a
    * float path difference.
    */
  private[graft] def normProjection(df: DataFrame, idCol: String,
      embCol: String): DataFrame = withNorm(df, idCol, "id", embCol, "cv")

  /** The exploded (id, tbl, bucket) sign-LSH postings of
    * [[nearDupPairs]]'s candidate join, for the durable store's
    * batch×stored probe — signatures are data-independent (seeded
    * hyperplanes), so batch and stored sides computed in different
    * ingests still collide exactly as a one-shot corpus would.
    */
  private[graft] def postingsOf(vecs: DataFrame, dim: Int, bits: Int,
      tables: Int, seed: Long): DataFrame =
    vecs.withColumn("tb",
        explode(tableBuckets(col("cv"), dim, bits, tables, seed)))
      .select(col("id"), col("tb.tbl"), col("tb.bucket"))

  /** [[nearDupPairs]]' verification expression over aliased
    * projections `a`/`b` — shared with the store for bit-equality.
    */
  private[graft] val storedPairSimE6: Column =
    round(dots(col("a.cv"), col("b.cv")) /
      (col("a.cv_n") * col("b.cv_n")) * 1e6).cast("long")

  /** (table_id, bucket) pairs for a row under L independent hash tables
    * (classic multi-table sign-LSH: collision prob for similarity s is
    * 1−(1−p^bits)^tables with p = 1−θ(s)/π).
    */
  private def tableBuckets(emb: Column, dim: Int, bits: Int, tables: Int,
      seed: Long): Column =
    array((0 until tables).map { l =>
      struct(lit(l).as("tbl"),
        signSketch(emb, hyperplanes(dim, bits, seed + l)).as("bucket"))
    }: _*)

  /** LSH-bucketed approximate top-k: L independent tables of `bits`-bit
    * sign sketches; candidates = union of exact-bucket matches across
    * tables; exact cosine re-rank inside. Join volume per query is
    * ~ tables·n/2^bits instead of n — the 100 TB scan-avoidance path.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 4,
      tables: Int = 8, seed: Long = 7L,
      qidCol: String = "qid", idCol: String = "id",
      embCol: String = "embedding"): DataFrame = {
    val dim = corpus.select(size(col(embCol))).first().getInt(0)
    def bucketed(df: DataFrame, id: String, out: String, vec: String) =
      withNorm(df, id, out, embCol, vec)
        .withColumn("tb", explode(tableBuckets(col(vec), dim, bits, tables, seed)))
        .select(col(out), col(vec), col(s"${vec}_n"), col("tb.tbl"), col("tb.bucket"))
    val c = bucketed(corpus, idCol, "id", "cv")
    val q = bucketed(queries, qidCol, "qid", "qv")
    val w = Window.partitionBy("qid").orderBy(desc("sim_e6"), asc("id"))
    c.join(broadcast(q), Seq("tbl", "bucket"))
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("id"), pairSimE6.as("sim_e6"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("sim_e6"))
  }

  /** Centroid ranking for IVF cell assignment/probing, via the native
    * one-pass [[graft.expressions.NearestCells]] (bit-identical ordering
    * to the former sort_array-of-structs form — see its scaladoc for
    * the parity argument and the measured interpreted-SortArray cost it
    * removes). The row's own norm divides out of the argmax, so it is
    * skipped; the centroid-norm denominator floors at 1e-12 like
    * KMeans.bestCell — an all-zero centroid would otherwise score NaN
    * and become unprobeable. Scores stay RAW doubles internally (not
    * e6-quantized like KMeans.assign): the q_sim_ivf oracle replicates
    * this exact raw ordering, and the exact re-rank downstream makes
    * sub-ulp assignment ties harmless here.
    */
  private[similarity] def cellOf(cents: Array[Array[Double]],
      vec: Column): Column =
    element_at(graft.expressions.NearestCells(vec, cents, 1), 1)

  private[similarity] def probeCells(cents: Array[Array[Double]],
      vec: Column, nprobe: Int): Column =
    graft.expressions.NearestCells(vec, cents, nprobe)

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of `nlist`
    * centroids partitions the corpus into cells; each corpus vector is
    * assigned to its nearest centroid ONCE (one projection), and each
    * query probes only its `nprobe` nearest cells with an exact cosine
    * re-rank inside.
    *
    * Centroids here are the `nlist` lowest-id corpus vectors — a
    * deterministic stand-in for a k-means codebook (the Spark plumbing is
    * identical; training a codebook is an offline batch job at scale).
    * Join volume per query ≈ nprobe/nlist of the corpus vs. the full scan
    * of brute force.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nlist: Int = 16,
      nprobe: Int = 4, qidCol: String = "qid", idCol: String = "id",
      embCol: String = "embedding",
      codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    // codebook: a trained quantizer (e.g. KMeans.fit) balances the cells;
    // the default lowest-id stand-in keeps the operator deterministic
    // without a training pass
    val cents: Array[Array[Double]] = codebook.getOrElse(
      KMeans.seedCentroids(corpus, nlist, idCol, embCol))
    val c = withNorm(corpus, idCol, "id", embCol, "cv")
      .withColumn("cell", cellOf(cents, col("cv")))
    val q = withNorm(queries, qidCol, "qid", embCol, "qv")
      .withColumn("cell", explode(probeCells(cents, col("qv"), nprobe)))
    val w = Window.partitionBy("qid").orderBy(desc("sim_e6"), asc("id"))
    c.join(broadcast(q), Seq("cell"))
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("id"), pairSimE6.as("sim_e6"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("sim_e6"))
  }

  /** Per-cell occupancy of the IVF coarse quantizer: (cell, n, share_pm).
    * A hot cell means every probe that ranks it scans disproportionate
    * rows, so this histogram is what shows when the codebook needs
    * retraining. One assignment projection + one count aggregation; the
    * share denominator broadcasts back as a 1-row literal.
    */
  def ivfCellStats(corpus: DataFrame, nlist: Int = 16,
      idCol: String = "id", embCol: String = "embedding",
      codebook: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = codebook.getOrElse(
      KMeans.seedCentroids(corpus, nlist, idCol, embCol))
    val occ = corpus
      .select(cellOf(cents, col(embCol).cast("array<double>")).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    occ.crossJoin(broadcast(occ.agg(sum("n").as("__t"))))
      .select(col("cell"), col("n"),
        expr("n * 1000 div __t").as("share_pm"))
  }

  /** kNN majority-vote label prediction — the embedding-space analog of a
    * fastText-style quality/domain classifier: each unlabeled document is
    * assigned the label its k nearest labeled neighbors vote for.
    *
    * Scale note: [[bruteForce]] BROADCASTS the query side — here the
    * unlabeled documents — so one call handles a broadcast-sized query
    * batch against an arbitrarily large labeled corpus. To propagate
    * labels across a 100 TB unlabeled corpus, iterate broadcastable
    * chunks of it (the labeled seed set is the scan side each time); a
    * single call with the full corpus as queries would blow the
    * broadcast, not the scan.
    *
    * Votes tie-break by (more votes, better best-neighbor similarity,
    * lower label), so predictions are deterministic and engine-portable.
    * Scale shape: the corpus scan and per-query ranking are exactly
    * [[bruteForce]] (broadcast queries, WindowGroupLimit before the qid
    * shuffle); the label join and vote run over queries·k rows only.
    *
    * @param queries (qid, embedding) — unlabeled rows, broadcastable
    * @param corpus  (id, embedding, label) — the labeled seed set
    * @return (qid, pred_label, votes, best_sim_e6)
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int,
      qidCol: String = "qid", idCol: String = "id",
      embCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val nn = bruteForce(queries, corpus, k, qidCol, idCol, embCol)
    val w = Window.partitionBy("qid")
      .orderBy(desc("votes"), desc("best_sim_e6"), asc("pred_label"))
    // labels keep their own type — casting to long would silently null
    // string labels (domains, languages) and "classify" everything null
    nn.join(corpus.select(col(idCol).as("id"),
        col(labelCol).as("pred_label")), "id")
      .groupBy("qid", "pred_label")
      .agg(count(lit(1)).as("votes"), max("sim_e6").as("best_sim_e6"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("qid"), col("pred_label"), col("votes"), col("best_sim_e6"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a,b) with sim ≥ threshold
    * that collide in ≥1 of the L hash tables, exact-verified. High
    * thresholds make collision near-certain (p ≥ 1−θ/π → p^bits ≈ 1).
    */
  def nearDupPairs(corpus: DataFrame, thresholdE6: Long, bits: Int = 8,
      tables: Int = 4, seed: Long = 7L, idCol: String = "id",
      embCol: String = "embedding"): DataFrame = {
    val dim = corpus.select(size(col(embCol))).first().getInt(0)
    val c = withNorm(corpus, idCol, "id", embCol, "cv")
      .withColumn("tb", explode(tableBuckets(col("cv"), dim, bits, tables, seed)))
      .select(col("id"), col("cv"), col("cv_n"), col("tb.tbl"), col("tb.bucket"))
    val simE6 = round(dots(col("a.cv"), col("b.cv")) /
      (col("a.cv_n") * col("b.cv_n")) * 1e6).cast("long")
    c.as("a")
      .join(c.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        simE6.as("sim_e6"))
      .distinct()
      .where(col("sim_e6") >= thresholdE6)
  }

  /** Per-label centroid outliers: the k vectors LEAST similar to their
    * own label's centroid — the mislabeled/noise-candidate surfacing step
    * of embedding-based curation (the inverse of SemDeDup: instead of
    * dropping what is too close, audit what is too far).
    *
    * Engine-exact by construction: embeddings quantize to integer 1e-6
    * grid once, the centroid is the per-dimension integer SUM (cosine is
    * scale-invariant, so the unnormalized sum IS the centroid — no
    * division, no float accumulation order anywhere), and the squared
    * norms accumulate as exact integers (the centroid's in decimal — at
    * corpus scale Σs² overflows a long). The only float ops are two
    * correctly-rounded sqrt's and one multiply/divide at the very end,
    * identical in any IEEE engine; ranking uses the quantized sim_e6 with
    * id tie-break, never raw doubles.
    *
    * Scale shape: centroids are a (labels × dim)-row aggregate (map-side
    * combined, broadcast back — KBs); per-vector scoring is one joinless
    * pass over the exploded grid; the only per-vector shuffle keys are
    * (id) for the dot rollup and (label) for the k-row window. Nothing
    * pairwise.
    *
    * @return (label, vec_id, sim_e6, rnk) — rnk 1 = farthest from its
    *         label centroid, k rows per label
    */
  def centroidOutliers(corpus: DataFrame, k: Int, idCol: String = "id",
      embCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val q = corpus.select(col(idCol).as("id"), col(labelCol).as("label"),
        posexplode(transform(col(embCol),
          x => round(x.cast("double") * 1e6).cast("long"))))
      .select(col("id"), col("label"), col("pos"), col("col").as("x"))
    val cent = q.groupBy("label", "pos").agg(sum("x").as("s"))
    val perVec = q.join(broadcast(cent), Seq("label", "pos"))
      .groupBy("id", "label")
      .agg(sum(col("x") * col("s")).as("dot"),
        sum(col("x") * col("x")).as("nv"))
    val norms = cent.groupBy("label")
      .agg(sum(col("s").cast("decimal(38,0)") * col("s")).as("ns"))
    val simE6 = round(col("dot").cast("double") /
      (sqrt(col("nv").cast("double")) * sqrt(col("ns").cast("double"))) * 1e6)
      .cast("long")
    perVec.join(broadcast(norms), "label")
      .select(col("label"), col("id").as("vec_id"), simE6.as("sim_e6"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("label").orderBy(asc("sim_e6"), asc("vec_id"))))
      .where(col("rnk") <= k)
  }
}
