package graft.operators.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.Sketches
import graft.operators.text.TextAnalysis

/** Deduplication operators for corpus pipelines, scale-first:
  *
  *  - exact: hash-groupBy (one shuffle on a 16-byte key, not the payload);
  *  - n-gram Jaccard: shingle inverted index → pair counting (shuffles
  *    scale with shingle collisions, not n²); shingles are hashed to 64-bit
  *    longs before the join so the shuffle carries 8-byte keys, not strings;
  *  - MinHash+LSH: constant-size signatures, banded bucketing, candidate
  *    verification — the 100 TB path where full pair joins are impossible;
  *  - SimHash: 64-bit sketch with banded Hamming blocking.
  *
  * The MinHash/SimHash signatures are native one-pass Catalyst expressions
  * ([[graft.expressions.MinHashSig]], [[graft.expressions.SimHash64]]) —
  * the composed `array_min(transform(...))`-per-permutation form is O(k)
  * passes and O(k) array allocations per row.
  */
object Dedup {

  /** Exact duplicate groups by content hash: (hash, dup_count, keeper).
    * Keeper = min id (stable). Only the hash and id shuffle. SHA-256, not
    * md5: content identity must resist adversarially CONSTRUCTED
    * collisions (a poisoning vector for training-data dedup); md5 stays
    * fine for sampling/ordering salts, where a collision only perturbs
    * which row is sampled.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(sha2(col(textCol), 256).as("content_hash"), col(idCol).as("id"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("dup_count"), min("id").as("keeper"))

  /** Exact word-3-gram Jaccard over all pairs sharing ≥1 shingle.
    * Returns (id_a, id_b, common, jaccard_pm) for pairs ≥ threshold.
    * Pair generation is an equi-join on the hashed shingle — cost is Σ c_s²
    * over shingle frequencies, not n²; `maxShingleDf` caps hot-shingle
    * (skew) blowup by dropping shingles above a document frequency.
    * Shingle sets are distinct per doc, so |set| = size of the shingle
    * array — set sizes come from a cheap projection, not the exploded index.
    *
    * (A PPJoin-style sorted-hash prefix filter — index only the first
    * |A|−⌈t·|A|⌉+1 shingles, verify candidates with array_intersect — was
    * measured here and lost: the extra distinct + verify-join stages cost
    * more than the ~(1−t)² pair reduction saves until per-shingle
    * frequencies are far hotter than 3-gram sets produce. The df-cap is
    * the skew guard that matters at scale.)
    */
  /** Corpus-derived default for `maxShingleDf`: a shingle present in more
    * than 10% of documents (floor 50) is boilerplate, and every pair it
    * generates is quadratic join fuel — at 100 TB one hot stop-shingle
    * without a cap turns the pair join cartesian. Dropping it only removes
    * boilerplate-only candidates; genuinely near-duplicate documents still
    * share plenty of below-cap shingles.
    *
    * The 10k ceiling is what makes total candidate volume LINEAR in
    * corpus size: per-shingle pair fuel is df², so a cap that grows with
    * nDocs admits Σ df² ∝ n² in the worst case (the ×10 scale rehearsal
    * measured exactly ×100 candidate growth under the un-ceilinged n/10
    * rule, and ×10 under a constant cap — PLANS.md "Round 8"). A shingle
    * shared by 10k+ documents is boilerplate no matter how big the corpus
    * is; past the ceiling, candidates ≤ distinct_shingles · cap² ∝ n.
    */
  def defaultShingleDfCap(nDocs: Long): Int =
    math.min(math.max(50L, nDocs / 10L), 10000L).toInt

  /** Scored candidate pairs: every unordered pair sharing ≥1 surviving
    * shingle, with the intersection size and BOTH set sizes —
    * (id_a, id_b, common, n_a, n_b). This is the output of the system's
    * most expensive stage; [[ngramJaccard]] and [[containment]] are thin
    * verification filters over it, and [[releasePipeline]] materializes
    * it once to serve both semantics. Public as the exact ground truth
    * the LSH-fronted scored set is pinned against (ReleaseSpec):
    * [[lshScoredPairs]] must equal this restricted to its candidates.
    */
  def scoredPairs(df: DataFrame, idCol: String, textCol: String,
      maxShingleDf: Option[Int]): DataFrame = {
    val (pairs, sizes) = shinglePairs(df, idCol, textCol, maxShingleDf)
    pairs
      .join(sizes.as("na"), col("id_a") === col("na.id"))
      .join(sizes.as("nb"), col("id_b") === col("nb.id"))
      .select(col("id_a"), col("id_b"), col("common"),
        col("na.n").as("n_a"), col("nb.n").as("n_b"))
  }

  private def jaccardOf(scored: DataFrame, threshold: Double): DataFrame = {
    val jac = col("common") * lit(1.0) /
      (col("n_a") + col("n_b") - col("common"))
    scored.where(jac >= threshold)
      .select(col("id_a"), col("id_b"), col("common"),
        round(jac * 1000).cast("long").as("jaccard_pm"))
  }

  private def containmentOf(scored: DataFrame, threshold: Double): DataFrame = {
    val contA = col("common") * lit(1.0) / col("n_a")
    val contB = col("common") * lit(1.0) / col("n_b")
    scored.where(contA >= threshold || contB >= threshold)
      .select(col("id_a"), col("id_b"), col("common"),
        round(contA * 1000).cast("long").as("cont_a_pm"),
        round(contB * 1000).cast("long").as("cont_b_pm"))
  }

  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleDf: Option[Int] = None): DataFrame =
    jaccardOf(scoredPairs(df, idCol, textCol, maxShingleDf), threshold)

  /** Directional shingle containment |A∩B| / |A| — the asymmetric twin of
    * Jaccard that catches SUBSET duplication Jaccard misses: a document
    * quoted wholesale inside a much longer one scores near-1 containment
    * but a tiny Jaccard (the union is dominated by the long side). The
    * quote/boilerplate-inclusion detector of a corpus pipeline.
    *
    * Returns one row per unordered pair sharing ≥1 shingle where EITHER
    * direction reaches `threshold`, with both directions' scores:
    * (id_a, id_b, common, cont_a_pm, cont_b_pm) — cont_a = common/|A| is
    * "A is contained in B". Same inverted-index pair generation, df-cap
    * and persist discipline as [[ngramJaccard]]; cost is identical (the
    * two share the pair join, only the final scoring differs).
    */
  def containment(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleDf: Option[Int] = None): DataFrame =
    containmentOf(scoredPairs(df, idCol, textCol, maxShingleDf), threshold)

  /** Incremental near-dup detection: the near-dup pairs of a NEW batch
    * against an existing corpus, plus within the batch itself — never
    * corpus × corpus. This is the incremental-ingest path at 100 TB: a
    * daily crawl increment is checked against years of accumulated data
    * at a cost proportional to the INCREMENT's shingle stream (the corpus
    * index is equi-join-probed once and never self-joined; corpus-internal
    * duplicates were already settled when each earlier increment landed,
    * so re-deriving them every day would be pure waste).
    *
    * Semantics are exactly `ngramJaccard(df, …).where(id_a ∈ batch OR
    * id_b ∈ batch)` — same shingling, df-cap and Jaccard verification,
    * same (id_a < id_b) pair order — which is what the SQL oracle checks.
    * The plan differs where it matters: pair generation is the union of
    * batch×corpus (probe join) and batch×batch (self-join on the small
    * side); the corpus index never meets itself.
    */
  def incrementalNearDup(df: DataFrame, idCol: String, textCol: String,
      isBatch: Column, threshold: Double,
      maxShingleDf: Option[Int] = None): DataFrame =
    jaccardOf(
      incrementalScoredPairs(df, idCol, textCol, isBatch, maxShingleDf),
      threshold)

  /** The SCORED form of [[incrementalNearDup]]'s pair generation —
    * (id_a, id_b, common, n_a, n_b) for every batch-touching pair sharing
    * ≥1 surviving shingle, before any verification filter. This is what
    * [[incrementalRelease]] appends to a prior release's scored pair set:
    * both verification semantics (Jaccard and containment) then apply as
    * thin filters, exactly like [[releasePipeline]]'s one-pass core.
    */
  def incrementalScoredPairs(df: DataFrame, idCol: String, textCol: String,
      isBatch: Column, maxShingleDf: Option[Int] = None): DataFrame = {
    // Spread.wide: the tokenize+shingle+hash projection runs ABOVE the
    // corpus scan, before any exchange — spread a narrow file-backed
    // scan so it parallelizes (identity at production file counts)
    // empties filter outside the persist — see portableHashedShingles
    val shingled = graft.ScratchCache.persist(
      graft.operators.Spread.wideThenFold(df)(_
        .select(col(idCol).as("id"), isBatch.as("is_b"),
          transform(TextAnalysis.shingles(col(textCol)),
            s => xxhash64(s)).as("sh"))))
      .where(size(col("sh")) > 0)
    val idx = shingled.select(col("id"), col("is_b"), explode(col("sh")).as("s"))
    // df-cap over the FULL population (batch + corpus): a boilerplate
    // shingle is hot regardless of which side it lands on, and capping
    // only the batch side would leave the corpus probe join skewed
    val filtered = maxShingleDf match {
      case Some(cap) =>
        val hot = idx.groupBy("s").agg(count(lit(1)).as("df"))
          .where(col("df") > cap).select("s")
        // persisted: consumed by sizes plus both sides of bc and bb
        graft.ScratchCache.persist(
          idx.join(broadcast(hot), Seq("s"), "left_anti"))
      case None => idx
    }
    val sizes = maxShingleDf match {
      case Some(_) => filtered.groupBy("id").agg(count(lit(1)).as("n"))
      case None => shingled.select(col("id"), size(col("sh")).cast("long").as("n"))
    }
    val bIdx = filtered.where(col("is_b")).drop("is_b")
    val cIdx = filtered.where(!col("is_b")).drop("is_b")
    // batch × corpus: each unordered pair canonicalized to (min, max) so
    // the union below matches the full self-join's (id_a < id_b) rows
    val bc = bIdx.as("a").join(cIdx.as("b"), col("a.s") === col("b.s"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    // batch × batch: the classic ordered self-join — disjoint from bc
    // (both sides in the batch there, exactly one side here)
    val bb = bIdx.as("a").join(bIdx.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val pairs = bc.unionAll(bb)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.as("na"), col("id_a") === col("na.id"))
      .join(sizes.as("nb"), col("id_b") === col("nb.id"))
      .select(col("id_a"), col("id_b"), col("common"),
        col("na.n").as("n_a"), col("nb.n").as("n_b"))
  }

  /** Shared pair-generation core of [[ngramJaccard]]/[[containment]]:
    * (pairs = (id_a, id_b, common) over id_a < id_b sharing ≥1 surviving
    * shingle, sizes = (id, n) surviving-shingle set sizes).
    */
  private def shinglePairs(df: DataFrame, idCol: String, textCol: String,
      maxShingleDf: Option[Int]): (DataFrame, DataFrame) = {
    // materialize the tokenize+shingle+hash pass once (MEMORY_AND_DISK
    // persist): the self-join and both size branches would otherwise
    // re-run the regex tokenizer up to 8× per document. The persisted
    // rows carry only the 8-byte shingle hashes (64-bit collisions are
    // negligible), not the shingle strings — ~20× less cached/shuffled
    // payload per document
    // empties filter outside the persist — see portableHashedShingles
    val shingled = graft.ScratchCache.persist(
      graft.operators.Spread.wideThenFold(df)(_
        .select(col(idCol).as("id"),
          transform(TextAnalysis.shingles(col(textCol)),
            s => xxhash64(s)).as("sh"))))
      .where(size(col("sh")) > 0)
    // inverted index on the hashed shingles
    val idx = shingled.select(col("id"), explode(col("sh")).as("s"))
    val filtered = maxShingleDf match {
      case Some(cap) =>
        val hot = idx.groupBy("s").agg(count(lit(1)).as("df"))
          .where(col("df") > cap).select("s")
        // persist the capped index too: its three consumers (sizes +
        // both self-join sides) would otherwise each re-run the explode
        // and the anti-join over the cached shingle arrays
        graft.ScratchCache.persist(
          idx.join(broadcast(hot), Seq("s"), "left_anti"))
      case None => idx
    }
    // with a df-cap the denominator must count surviving shingles only
    val sizes = maxShingleDf match {
      case Some(_) => filtered.groupBy("id").agg(count(lit(1)).as("n"))
      case None => shingled.select(col("id"), size(col("sh")).cast("long").as("n"))
    }
    val pairs = filtered.as("a")
      .join(filtered.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    (pairs, sizes)
  }

  /** Candidate-pair cost frontier over the shingle document-frequency
    * histogram: for every distinct df value, the EXACT candidate-pair
    * volume a cap at that value would admit, with the shingle count kept
    * and dropped. A shingle with document frequency d fuels d·(d−1)/2
    * candidate pairs in the inverted-index self-join, so
    * `est_pairs(cap) = Σ_{d ≤ cap} n_shingles(d) · d·(d−1)/2` — not an
    * estimate of VERIFIED pairs, but an exact upper bound on the join's
    * output rows, which is the quantity that decides whether the job
    * fits the cluster.
    *
    * This is how the cap gets CHOSEN at 100 TB instead of guessed:
    * [[defaultShingleDfCap]] is a corpus-shape heuristic; the frontier
    * prices every cap against the actual histogram for the cost ceiling
    * the cluster can pay (the largest cap whose `est_pairs` fits the
    * budget). One extra aggregation over the inverted index the pair
    * join builds anyway — the histogram (distinct df values) is tiny, so
    * the cumulative window runs over a value table, never the corpus
    * (the Curriculum percentile discipline).
    *
    * @return (df_cap, n_shingles, est_pairs, shingles_kept,
    *         shingles_dropped) — one row per distinct df value, cumulative
    *         columns ordered by df_cap
    */
  def dfCapFrontier(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val idx = df
      .select(col(idCol).as("id"),
        transform(TextAnalysis.shingles(col(textCol)), s => xxhash64(s)).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"), explode(col("sh")).as("s"))
    val hist = idx.groupBy("s").agg(count(lit(1)).as("df"))
      .groupBy(col("df").as("df_cap"))
      .agg(count(lit(1)).as("n_shingles"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("df_cap").rowsBetween(Long.MinValue, 0)
    val total = hist.agg(sum("n_shingles").as("__t"))
    hist
      .withColumn("est_pairs",
        // integer math throughout: df·(df−1) is always even, and double
        // division would silently lose exactness past 2^53 pairs
        sum(col("n_shingles") * expr("df_cap * (df_cap - 1) div 2")).over(w))
      .withColumn("shingles_kept", sum("n_shingles").over(w))
      .crossJoin(broadcast(total))
      .withColumn("shingles_dropped", col("__t") - col("shingles_kept"))
      .drop("__t")
  }

  /** MinHash hash-family parameters h_i(x) = (a_i·x + b_i) mod p over
    * xxhash64 shingle hashes. Seeded — deterministic across runs.
    * p = 2³¹−1 keeps every product below 2⁶² (no ANSI long overflow).
    */
  private val P = (1L << 31) - 1

  private def hashParams(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    // math.abs(Long.MinValue) is NEGATIVE — that one pathological draw
    // (p = 2⁻⁶⁴ per call) would make a permutation's multiplier ≤ 0 and
    // its min a constant garbage lane; map it to 0 and keep every other
    // draw's value unchanged (same signatures as always)
    def absDraw(): Long = {
      val r = rnd.nextLong()
      if (r == Long.MinValue) 0L else math.abs(r)
    }
    val pairs = Seq.fill(k)((absDraw() % (P - 1) + 1, absDraw() % P))
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** k-wide MinHash signature of a shingle-set column (one-pass native
    * expression over the mod-p element hashes).
    */
  def minhashSignature(shingleSet: Column, k: Int = 128, seed: Long = 42L): Column = {
    val (a, b) = hashParams(k, seed)
    Sketches.minhashSig(transform(shingleSet, s => pmod(xxhash64(s), lit(P))), a, b)
  }

  /** MinHash+LSH near-dup pairs: band the k-wide signature into
    * `bands` groups, bucket-join on (band, band-hash), then verify
    * candidates with exact Jaccard. Only same-bucket docs ever meet —
    * the join volume is bounded by bucket sizes, independent of n².
    *
    * Scale shape: the banding join carries only (id, band, band-hash) —
    * 24 bytes/row — never the shingle sets; candidate pairs are reduced
    * to distinct (id_a, id_b) *before* the shingle sets are joined back
    * for verification, so payload rows move once per matched pair, not
    * once per colliding band.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 128, bands: Int = 32,
      seed: Long = 42L): DataFrame = {
    // one tokenize+shingle+hash pass, reused by signature and
    // verification; the persisted rows carry 8-byte shingle hashes, not
    // strings (64-bit collisions are negligible for both the signature
    // and the verification intersect)
    // empties filter outside the persist — see portableHashedShingles
    val shingled = graft.ScratchCache.persist(graft.operators.Spread.wide(df)
      .select(col(idCol).as("id"),
        transform(TextAnalysis.shingles(col(textCol)), s => xxhash64(s)).as("sh")))
      .where(size(col("sh")) > 0)
    val cand = fastBandCandidates(shingled, k, bands, seed)
    // verify: exact Jaccard on the shingle sets, joined back by id
    val common = size(array_intersect(col("sh_a"), col("sh_b")))
    val jac = common * lit(1.0) / (size(col("sh_a")) + size(col("sh_b")) - common)
    cand
      .join(shingled.select(col("id"), col("sh").as("sh_a")), col("id_a") === col("id"))
      .drop("id")
      .join(shingled.select(col("id"), col("sh").as("sh_b")), col("id_b") === col("id"))
      .select(col("id_a"), col("id_b"),
        round(jac * 1000).cast("long").as("jaccard_pm"),
        (jac >= threshold).as("keep"))
      .where(col("keep"))
      .select("id_a", "id_b", "jaccard_pm")
  }

  /** Banded-MinHash candidate pairs over xxhash64-hashed shingle arrays
    * (id, sh) — the hot-path twin of [[portableBandCandidates]]. Band
    * hash = xxhash64 of the long slice directly (hashing the array
    * value) — no long→string render + concat per band.
    */
  /** (id, band, bh) banded-signature rows over xxhash64-hashed shingle
    * arrays — band hash = xxhash64 of the long slice directly.
    */
  private[dedup] def fastBands(shingled: DataFrame, k: Int, bands: Int,
      seed: Long): DataFrame = {
    val rows = k / bands
    val (pa, pb) = hashParams(k, seed)
    val sig = shingled.select(col("id"),
      Sketches.minhashSig(
        transform(col("sh"), s => pmod(s, lit(P))), pa, pb).as("sig"))
    sig.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))).as("bh")))).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
  }

  /** (id, band, bh) banded rows with the SLICE ITSELF as the band key
    * (array equality — no band-hash collisions), the oracle-replicable
    * form.
    */
  private[dedup] def portableBands(shingled: DataFrame, k: Int, bands: Int,
      seed: Long): DataFrame = {
    val rows = k / bands
    val (pa, pb) = hashParams(k, seed)
    val sig = shingled.select(col("id"),
      Sketches.minhashSig(
        transform(col("sh"), h => pmod(h, lit(P))), pa, pb).as("sig"))
    sig.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          slice(col("sig"), b * rows + 1, lit(rows)).as("bh")))).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
  }

  /** Capped inverted index + its document-frequency table, from ONE
    * histogram pass: dropping whole shingles above the cap does not
    * change the df of survivors, so `dfs` is the same histogram
    * filtered — never a second groupBy. SHARED by every consumer of
    * the capped index (candidate fronts, audits, the cost plan), so
    * cap semantics cannot drift between the pipeline and what prices
    * or gates it.
    */
  private def cappedIndexWithDf(idx: DataFrame,
      maxShingleDf: Option[Int]): (DataFrame, DataFrame) = {
    val hist = idx.groupBy("s").agg(count(lit(1)).as("df"))
    maxShingleDf match {
      case Some(cap) =>
        val hot = hist.where(col("df") > cap).select("s")
        (graft.ScratchCache.persist(
          idx.join(broadcast(hot), Seq("s"), "left_anti")),
          hist.where(col("df") <= cap))
      case None => (graft.ScratchCache.persist(idx), hist)
    }
  }

  /** Scoring sets restricted to candidate-touching docs: most docs are
    * unique at scale and must not pay the array-building pass. `cand`
    * must already be persisted (its plan feeds both the id restriction
    * and the scoring join). Shared by the full and incremental LSH
    * scored-pair paths.
    */
  private def candidateSets(cand: DataFrame, filtered: DataFrame,
      shingled: DataFrame, maxShingleDf: Option[Int]): DataFrame = {
    val candIds = cand.select(col("id_a").as("id"))
      .unionAll(cand.select(col("id_b").as("id"))).distinct()
    maxShingleDf match {
      case Some(_) => graft.ScratchCache.persist(
        filtered.join(candIds, Seq("id"), "left_semi")
          .groupBy("id").agg(collect_list(col("s")).as("sh")))
      case None => shingled.join(candIds, Seq("id"), "left_semi")
    }
  }

  /** The capped index with the per-doc rarest-first ranking attached:
    * every row of `filtered` plus `df`, `rn` (1-based rank of the
    * shingle within its doc by ascending global (df, s)) and `n` (the
    * doc's surviving-shingle count). ONE window over the index,
    * SHARED by the prefix selection and the positional filter — both
    * read the same total order, so the subset-size theorem and the
    * position bound compose.
    */
  private def rankedIndex(filtered: DataFrame, sizes: DataFrame,
      dfs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    filtered.join(dfs, Seq("s"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("s"))))
      .join(sizes, Seq("id"))
  }

  /** The containment prefix length n − ⌈t·n⌉ + 1 as a Column over `n`
    * (integer math — engine-exact in Spark and an SQL oracle).
    */
  private def prefLen(ctPm: Long): Column =
    expr(s"n - ((n * $ctPm + 999) div 1000) + 1")

  /** Minimum shared-prefix rows the EXTENDED-prefix probe demands of a
    * candidate (the AdaptJoin ℓ-prefix trade): a cont ≥ t pair leaves at
    * most n − ⌈t·n⌉ of p's shingles unshared, so any
    * n − ⌈t·n⌉ + k prefix rows contain ≥ min(k, ⌈t·n⌉) shared ones —
    * probing k − 1 extra rows per doc (a few percent more probe-join
    * fuel) buys the cnt ≥ k filter, which kills the single-rare-shingle
    * collisions that are ~99% of the plain probe's false candidates
    * (they rank early in BOTH docs precisely because ranks follow one
    * global df order, so no positional bound can touch them). Recall
    * stays exact by the same counting theorem; [[containmentAudit]]
    * replicates the whole discipline so recall_pm = 1000 gates it.
    */
  private[dedup] val PrefixMinShared = 3

  /** The rarest-first containment prefix: each doc's
    * n − ⌈t·n⌉ + 1 + `extraRows` lowest-(df, s) index rows. ANY subset
    * of the theorem size n − ⌈t·n⌉ + 1 carries the recall guarantee
    * (missing all of it bounds common < t·n); `extraRows` widens it for
    * the [[PrefixMinShared]] count filter; rarest-first is purely the
    * performance choice that concentrates probes on df≈1 shingles.
    * Preserves `filtered`'s columns so callers can carry flags (is_b)
    * through.
    */
  private[dedup] def rarestPrefix(filtered: DataFrame, sizes: DataFrame,
      ctPm: Long, dfs: DataFrame, extraRows: Int = 0): DataFrame =
    rankedIndex(filtered, sizes, dfs)
      .where(col("rn") <= prefLen(ctPm) + extraRows)
      .select(filtered.columns.map(col).toIndexedSeq: _*)

  /** COUNT-FILTERED plain prefix probe — the [[PrefixMinShared]] fuel
    * cut for the stored-state path, where per-doc ranks come from
    * different ingest eras so positional bounds don't apply but the
    * SUBSET argument still does, ranking-free: if `pref` holds ≥
    * n − ⌈t·n⌉ + k rows of each probing doc (ANY rows — the ingest-era
    * rarest-first choice is performance only), a cont ≥ t pair shares
    * ≥ min(k, ⌈t·n⌉) of them, so the count filter keeps exact recall
    * while killing single-collision fuel. `prefSizes` = (id, n) FULL
    * set sizes of the probing side.
    */
  private[dedup] def prefixProbeCounted(pref: DataFrame, index: DataFrame,
      prefSizes: DataFrame, ctPm: Long, minShared: Int): DataFrame =
    pref.select(col("id"), col("s")).as("p")
      .join(index.select(col("id"), col("s")).as("f"),
        col("p.s") === col("f.s") && col("p.id") =!= col("f.id"))
      .groupBy(col("p.id").as("pid"), col("f.id").as("fid"))
      .agg(count(lit(1)).as("cnt"))
      .join(prefSizes.select(col("id").as("pid"), col("n")), Seq("pid"))
      .where(col("cnt") >=
        least(lit(minShared), expr(s"(n * $ctPm + 999) div 1000")))
      .select(least(col("pid"), col("fid")).as("id_a"),
        greatest(col("pid"), col("fid")).as("id_b"))

  /** POSITIONAL prefix probe — PPJoin's position bound adapted to the
    * one-sided containment test, applied at each directed pair's
    * MINIMAL shared prefix shingle. For probing doc p and indexed doc
    * f, let s* be the lowest-(df, s) shingle of p's prefix that f also
    * holds, at rank i in p and j in f (both ranks from the SAME global
    * (df, s) order — [[rankedIndex]]). Any shingle shared by p and f
    * ordered below s* would sit in p's prefix at a rank < i,
    * contradicting s*'s minimality — so nothing is shared below s* and
    * common(p, f) ≤ 1 + min(n_p − i, n_f − j). A directed pair whose
    * bound cannot reach ⌈t·n_p⌉ cannot satisfy cont_p ≥ t and is
    * dropped BEFORE verification; the pair can still enter via the
    * opposite direction's probe (which certifies cont_f) or the
    * banding front. Recall for cont ≥ t stays EXACT — the bound is an
    * upper bound on common, so a qualifying pair always passes
    * ([[containmentAudit]] keeps measuring the theorem).
    *
    * This is the false-candidate fuel cut: a random collision on one
    * rare shingle survives the plain probe unconditionally, but passes
    * the position bound only when the shingle sits early enough in the
    * INDEXED doc's own ordering — for uniform collision positions at
    * t = 0.8 that rejects ~80% of single-shingle noise while every
    * true pair is retained. Costs one aggregation keyed by the same
    * (pair) columns the caller's distinct() would shuffle anyway.
    *
    * @param ranked [[rankedIndex]] output (id, s, …, df, rn, n)
    * @param probeSide restricts which docs' prefixes probe
    * @param indexSide restricts which docs are probed against
    */
  private[dedup] def prefixProbePos(ranked: DataFrame, ctPm: Long,
      probeSide: Column = lit(true), indexSide: Column = lit(true),
      minShared: Int = PrefixMinShared): DataFrame = {
    val pref = ranked
      .where(col("rn") <= prefLen(ctPm) + (minShared - 1)).where(probeSide)
      .select(col("id"), col("s"), col("rn"), col("n"))
    val idx = ranked.where(indexSide)
      .select(col("id"), col("s"), col("rn"), col("n"))
    pref.as("p")
      .join(idx.as("f"),
        col("p.s") === col("f.s") && col("p.id") =!= col("f.id"))
      .groupBy(col("p.id").as("pid"), col("f.id").as("fid"))
      // ranks are unique per doc, so min over (i, j, …) structs is the
      // row of the minimal shared prefix shingle; jmax/cnt feed the
      // second (count) bound below
      .agg(min(struct(col("p.rn").as("i"), col("f.rn").as("j"),
        col("p.n").as("np"), col("f.n").as("nf"))).as("m"),
        max(col("f.rn")).as("jmax"), count(lit(1)).as("cnt"))
      .where(lit(1) + least(col("m.np") - col("m.i"), col("m.nf") - col("m.j")) >=
        expr(s"(m.np * $ctPm + 999) div 1000"))
      // COUNT bound, independently exact: shared = (shared ∩ pref(p)) +
      // (shared ∩ suffix(p)) = cnt + suffix-shared, and every shared
      // suffix shingle orders above the LARGEST shared prefix row in
      // BOTH docs' rankings (per-doc ranks follow one global (df, s)
      // order), so suffix-shared ≤ nf − jmax. At cnt = 1 this is
      // strictly tighter than the minimal-row bound; beyond that the
      // two prune incomparable sets — both apply, both exact
      .where(col("cnt") + col("m.nf") - col("jmax") >=
        expr(s"(m.np * $ctPm + 999) div 1000"))
      // MIN-SHARED filter (the [[PrefixMinShared]] contract): the
      // extended prefix guarantees a qualifying pair ≥ min(k, ⌈t·np⌉)
      // shared rows in it — the lever that kills single-collision fuel
      .where(col("cnt") >=
        least(lit(minShared), expr(s"(m.np * $ctPm + 999) div 1000")))
      .select(least(col("pid"), col("fid")).as("id_a"),
        greatest(col("pid"), col("fid")).as("id_b"))
  }

  /** Candidate-vs-ground-truth classification shared by [[lshAudit]]
    * and [[containmentAudit]]: one row of counts + integer per-mille
    * precision/recall.
    */
  private def auditCounts(cand: DataFrame, exact: DataFrame): DataFrame =
    cand.withColumn("is_cand", lit(true))
      .join(exact.withColumn("is_true", lit(true)), Seq("id_a", "id_b"),
        "full_outer")
      .agg(
        count(col("is_cand")).as("candidates"),
        count(when(col("is_cand") && col("is_true"), 1)).as("true_pos"),
        count(when(col("is_cand") && col("is_true").isNull, 1)).as("false_pos"),
        count(when(col("is_cand").isNull && col("is_true"), 1)).as("missed"))
      .select(col("candidates"), col("true_pos"), col("false_pos"),
        col("missed"),
        expr("true_pos * 1000 div greatest(candidates, 1)").as("precision_pm"),
        expr("true_pos * 1000 div greatest(true_pos + missed, 1)")
          .as("recall_pm"))

  private def bandCandidatesOf(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  private def fastBandCandidates(shingled: DataFrame, k: Int, bands: Int,
      seed: Long): DataFrame =
    bandCandidatesOf(fastBands(shingled, k, bands, seed))

  /** Exact (common, n_a, n_b) for the candidate pair list by joining it
    * back to the per-doc shingle sets — candidate-count × set-size
    * work. A pair sharing no shingle gets no row (the exact scored
    * set's contract).
    */
  private[dedup] def scoreCandidates(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.select(col("id"), col("sh").as("sh_a")),
        col("id_a") === col("id")).drop("id")
      .join(sets.select(col("id"), col("sh").as("sh_b")),
        col("id_b") === col("id")).drop("id")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .where(col("common") > 0)

  /** [[minhashLsh]] with an engine-portable base hash: shingles hash to
    * 48 bits via an md5 slice (both engines compute identical values, so
    * a DuckDB oracle reproduces the WHOLE pipeline — signatures, banding,
    * candidates, verification — bit-exactly; xxhash64 exists only in
    * Spark), and banding joins compare signature SLICES by array equality
    * instead of a band hash (a band-hash collision could admit a
    * candidate pair the oracle's true-slice comparison would not).
    * Semantics and scale shape match [[minhashLsh]]; the md5 base hash
    * costs more per shingle than xxhash64, which is why the classic
    * variant stays the hot path.
    */
  def minhashLshPortable(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 32, bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    val shingled = portableHashedShingles(df, idCol, textCol)
    val cand = portableBandCandidates(shingled, k, bands, seed)
    val common = size(array_intersect(col("sh_a"), col("sh_b")))
    val jac = common * lit(1.0) / (size(col("sh_a")) + size(col("sh_b")) - common)
    cand
      .join(shingled.select(col("id"), col("sh").as("sh_a")), col("id_a") === col("id"))
      .drop("id")
      .join(shingled.select(col("id"), col("sh").as("sh_b")), col("id_b") === col("id"))
      .select(col("id_a"), col("id_b"),
        round(jac * 1000).cast("long").as("jaccard_pm"),
        (jac >= threshold).as("keep"))
      .where(col("keep"))
      .select("id_a", "id_b", "jaccard_pm")
  }

  /** Distinct 48-bit-hashed word-3-gram shingle sets, persisted:
    * (id, sh: array<long>). The engine-portable base hash (md5 slice)
    * shared by the portable MinHash pipeline and the LSH audit, so both
    * see the identical shingle universe (collisions included).
    */
  private def portableHashedShingles(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // native md5-prefix: bit-identical to conv(substring(md5(s),1,12),
    // 16,10).cast("long") (PortableHashSpec), ~zero per-shingle string
    // churn (guide §1.2 "per-task work": the portable front's base hash
    // runs per SHINGLE — the conv/substring/hex path was most of its
    // CPU on top of the digest itself)
    def hash48(s: Column): Column =
      graft.expressions.PortableHash.md5Prefix48(s)
    // the empties filter lives OUTSIDE the persisted subtree: inside
    // it, predicate pushdown substitutes the alias and drags the full
    // shingle+hash transform below Spread's exchange — the expensive
    // projection would run twice (once serially as the pushed filter,
    // once parallel above). Over the cache it is a cheap size() check.
    graft.ScratchCache.persist(
      graft.operators.Spread.wideThenFold(df)(_
        .select(col(idCol).as("id"),
          array_distinct(
            transform(TextAnalysis.shingles(col(textCol)),
              hash48(_))).as("sh"))))
      .where(size(col("sh")) > 0)
  }

  /** LSH candidate pairs (id_a < id_b, distinct) from banded portable
    * MinHash signatures — the pre-verification candidate set.
    */
  private def portableBandCandidates(shingled: DataFrame, k: Int,
      bands: Int, seed: Long): DataFrame =
    bandCandidatesOf(portableBands(shingled, k, bands, seed))

  /** LSH parameter audit: precision/recall of the banded-MinHash candidate
    * set against exact-Jaccard ground truth, in one row —
    * (candidates, true_pos, false_pos, missed, precision_pm, recall_pm).
    * This is the tuning loop for (k, bands): run it on a sample, pick the
    * band shape whose recall clears the pipeline's bar, then run the LSH
    * path alone on the full corpus. Both sides share one persisted
    * hashed-shingle scan; the exact side is the df-capped inverted-index
    * pair join (the cap removes boilerplate-only pairs from the ground
    * truth — on honest data cap ≫ max df and the audit is exact), so the
    * audit itself stays sample-sized even when the sample is large.
    */
  def lshAudit(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 32, bands: Int = 8, seed: Long = 42L,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val shingled = portableHashedShingles(df, idCol, textCol)
    val cand = portableBandCandidates(shingled, k, bands, seed)
    val idx0 = shingled.select(col("id"), explode(col("sh")).as("h"))
    val idx = maxShingleDf match {
      case Some(cap) =>
        val hot = idx0.groupBy("h").agg(count(lit(1)).as("df"))
          .where(col("df") > cap).select("h")
        idx0.join(broadcast(hot), Seq("h"), "left_anti")
      case None => idx0
    }
    val sizes = maxShingleDf match {
      case Some(_) => idx.groupBy("id").agg(count(lit(1)).as("n"))
      case None => shingled.select(col("id"), size(col("sh")).cast("long").as("n"))
    }
    val jac = col("common") * lit(1.0) /
      (col("na.n") + col("nb.n") - col("common"))
    val exact = idx.as("a")
      .join(idx.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.as("na"), col("id_a") === col("na.id"))
      .join(sizes.as("nb"), col("id_b") === col("nb.id"))
      .where(jac >= threshold)
      .select(col("id_a"), col("id_b"))
    auditCounts(cand, exact)
  }

  /** Containment-front audit: precision/recall of the rarest-first
    * prefix candidate set against exact-containment ground truth, in
    * one row — (candidates, true_pos, false_pos, missed, precision_pm,
    * recall_pm). `recall_pm` is 1000 BY THEOREM (any prefix of size
    * n−⌈t·n⌉+1 missed entirely bounds common < t·n), so the audit's
    * live value is `precision_pm`: how much probe fuel verification
    * throws away — the tuning signal for the df-cap and for whether a
    * corpus's similarity profile makes the prefix front worthwhile.
    * Measuring recall anyway turns the proof into a standing
    * regression check (a future refactor that breaks the subset-size
    * invariant fails the gate, not a reviewer's eye). Engine-portable
    * base hash so the oracle replicates both sides.
    */
  def containmentAudit(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleDf: Option[Int] = None): DataFrame = {
    val shingled = portableHashedShingles(df, idCol, textCol)
    val idx0 = shingled.select(col("id"), explode(col("sh")).as("s"))
    val (filtered, dfs) = cappedIndexWithDf(idx0, maxShingleDf)
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n"))
    // the PRODUCTION front, not a copy: rankedIndex/prefixProbePos are
    // the same code lshCandidateParts runs, so the audit gates what
    // actually ships — positional bound included. Persisted: the probe
    // self-joins the ranked frame, and an unpersisted plan pays the
    // ranking window once per join side
    val cand = prefixProbePos(
      graft.ScratchCache.persist(rankedIndex(filtered, sizes, dfs)),
      math.round(threshold * 1000))
      .distinct()
    val exact = filtered.as("a")
      .join(filtered.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .where(col("common") * lit(1.0) / col("n_a") >= threshold ||
        col("common") * lit(1.0) / col("n_b") >= threshold)
      .select(col("id_a"), col("id_b"))
    auditCounts(cand, exact)
  }

  /** Candidate-front cost plan: the EXACT pre-distinct pair volume each
    * candidate-generation front would emit, in one row — the decision
    * artifact for exact-vs-LSH front selection (the [[dfCapFrontier]]
    * discipline applied to the front choice itself):
    *
    *  - `exact_pairs` = Σ_s df·(df−1)/2 over the capped index — the
    *    inverted-index self-join's output volume;
    *  - `band_pairs` = Σ_buckets c·(c−1)/2 over (band, slice) groups —
    *    the banding join's output volume;
    *  - `prefix_pairs` = Σ over prefix rows of (df(s)−1) — the
    *    containment probe's output volume.
    *
    * All three are counting aggregations over structures the pipelines
    * build anyway (index histogram, banded signatures, prefix rows) —
    * no candidate pair is materialized, so the plan costs a small
    * fraction of the cheapest front it prices. Portable signature
    * family so an SQL oracle reproduces every number.
    */
  def lshFrontCostPlan(df: DataFrame, idCol: String, textCol: String,
      containThreshold: Double = 0.8, maxShingleDf: Option[Int] = None,
      k: Int = 128, bands: Int = 32, seed: Long = 42L,
      /** false → xxhash64 base hash + hashed banding (the hot-path
        * family): ~3× cheaper counting for [[releaseAuto]]'s dispatch;
        * true keeps the oracle-replicable md5 family the gate query
        * prices. Volumes differ only by hash-collision noise.
        */
      portable: Boolean = true): DataFrame = {
    // defaults mirror the production front's band shape — a plan priced
    // with one shape and a pipeline run with another steers the front
    // decision with the wrong number; the oracle gate prices the
    // portable gate shape (k=32/bands=16) explicitly
    val shingled = hashedShingles(df, idCol, textCol, portable)
    val idx0 = shingled.select(col("id"), explode(col("sh")).as("s"))
    val (filtered, dfs) = cappedIndexWithDf(idx0, maxShingleDf)
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n"))
    val exactPairs = dfs
      .agg(sum(expr("df * (df - 1) div 2")).cast("long").as("exact_pairs"))
    val bandPairs =
      (if (portable) portableBands(shingled, k, bands, seed)
       else fastBands(shingled, k, bands, seed))
        .groupBy("band", "bh").agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) div 2")).cast("long").as("band_pairs"))
    val prefixPairs =
      rarestPrefix(filtered, sizes, math.round(containThreshold * 1000), dfs,
        extraRows = PrefixMinShared - 1)
        .join(dfs, Seq("s"))
        .agg(sum(col("df") - 1).cast("long").as("prefix_pairs"))
    // prefix_pairs prices the PROBE join's output (the shuffle the
    // cluster must absorb); the positional bound then cuts what
    // survives into verification — so the plan's number is the
    // conservative ceiling for the front's dominant stage
    val idxRows = filtered
      .agg(count(lit(1)).cast("long").as("index_rows"))
    // collapse-front pricing: group docs by their sorted shingle SET
    // (the lshScoredPairsCollapsed key) — collapsed_docs is the work the
    // fronts stop paying for, dup_group_pairs the candidate rows that
    // become synthesized instead of generated + verified. One counting
    // aggregation over the already-persisted shingle table.
    val collapse = shingled
      .groupBy(sort_array(col("sh"))).agg(count(lit(1)).as("g"))
      .agg(coalesce(sum(col("g") - 1), lit(0L)).cast("long")
          .as("collapsed_docs"),
        coalesce(sum(expr("g * (g - 1) div 2")), lit(0L)).cast("long")
          .as("dup_group_pairs"))
    val nDocs = shingled.agg(count(lit(1)).cast("long").as("n_docs"))
    exactPairs.crossJoin(bandPairs).crossJoin(prefixPairs)
      .crossJoin(idxRows).crossJoin(collapse).crossJoin(nDocs)
  }

  /** Both priced front decisions from ONE counting plan:
    * `(lsh front worthwhile, exact-dup collapse worthwhile)`. Both
    * fronts are priced with [[lshFrontCostPlan]] (fast hash family —
    * counting aggregations only, no candidate materialized).
    *
    * The LSH call applies the measured crossover: the LSH front pays a
    * fixed per-index-row toll (signatures + banding + the prefix window
    * ≈ a few passes over the index), so it wins only when the candidate
    * pairs it AVOIDS exceed that toll. Calibrated against the ×10
    * rehearsal pair (PLANS.md round 10): sf0.1 — 1.13M exact vs 0.18M
    * LSH candidates over ~1M index rows → exact front faster
    * (measured), margin 0.95M < 5M; ×10 — 113.3M vs 18.3M over ~10M
    * rows → LSH 17× faster (measured), margin 95M > 50M. The factor-5
    * toll sits comfortably between the two measured regimes.
    *
    * The collapse call is volume-based: the collapse front
    * pays one sorted-set window over the corpus and wins when exact
    * duplicates are a nontrivial share of it — `collapsed_docs > 5%`
    * is the conservative threshold (the ×10 rehearsal corpus at ~90%
    * duplicates HALVES the eight-product release under collapse, while
    * an all-unique corpus pays only the wasted grouping pass).
    */
  def frontDecisions(df: DataFrame, idCol: String, textCol: String,
      containThreshold: Double = 0.8, maxShingleDf: Option[Int] = None,
      k: Int = 128, bands: Int = 32, seed: Long = 42L): (Boolean, Boolean) = {
    // scoped: the counting plan's persisted shingle table has no
    // consumer after head() — without the release it would pin a
    // corpus-scale cache entry for the whole release that follows
    val r = graft.ScratchCache.scoped {
      lshFrontCostPlan(df, idCol, textCol, containThreshold,
        maxShingleDf, k, bands, seed, portable = false).head()
    }
    val saved = r.getAs[Long]("exact_pairs") -
      (r.getAs[Long]("band_pairs") + r.getAs[Long]("prefix_pairs"))
    val useLsh = saved > 5L * r.getAs[Long]("index_rows")
    val useCollapse =
      r.getAs[Long]("collapsed_docs") * 20L > r.getAs[Long]("n_docs")
    (useLsh, useCollapse)
  }

  /** Planner-dispatched release: run [[frontDecisions]]' counting
    * plan and pick [[releasePipelineLsh]] or [[releasePipeline]] —
    * the 100 TB default is self-tuning instead of a caller bet on
    * corpus shape. Products are identical either way whenever the
    * banding recall condition holds ([[releasePipelineLsh]]'s
    * contract); the decision is logged so a release run records which
    * front produced it.
    */
  def releaseAuto(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleDf: Option[Int],
      quality: DataFrame, sourceCol: String = "source",
      containThreshold: Double = 0.8, k: Int = 128, bands: Int = 32,
      seed: Long = 42L): ReleaseProducts = {
    val (useLsh, useCollapse) = frontDecisions(df, idCol, textCol,
      containThreshold, maxShingleDf, k, bands, seed)
    System.err.println(s"[releaseAuto] front = ${if (useLsh) "lsh" else "exact"}" +
      s", collapseExact = $useCollapse")
    // collapse rides the LSH pipeline (the only one that takes it); a
    // duplicate-heavy corpus takes that branch even when the raw
    // LSH-vs-exact margin alone wouldn't, because collapse removes the
    // very amplification that made the exact front's Σ df² competitive
    if (useLsh || useCollapse)
      releasePipelineLsh(df, idCol, textCol, threshold, maxShingleDf,
        quality, sourceCol, containThreshold, k, bands, seed,
        collapseExact = useCollapse)
    else
      releasePipeline(df, idCol, textCol, threshold, maxShingleDf,
        quality, sourceCol, containThreshold)
  }

  /** Quality-aware cluster representative selection: given near-dup
    * cluster assignments (id, cluster) and a per-doc quality score, keep
    * the HIGHEST-quality member of each cluster (ties → min id) instead
    * of the arbitrary min-id keeper — the curation step that makes a
    * purge keep the longest/cleanest copy of every duplicated document.
    * Returns (cluster, keeper_id, quality, size). One window per cluster
    * partition + the size aggregate on the same shuffle key — no joins
    * against the corpus.
    */
  def clusterKeepers(clusters: DataFrame, quality: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster",
      qualityCol: String = "q"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = clusters
      .select(col(idCol).as("id"), col(clusterCol).as("cluster"))
      .join(quality.select(col(idCol).as("id"), col(qualityCol).as("q")),
        "id")
    val w = Window.partitionBy("cluster")
      .orderBy(desc("q"), asc("id"))
    joined
      .withColumn("rn", row_number().over(w))
      .withColumn("size", count(lit(1)).over(Window.partitionBy("cluster")))
      .where(col("rn") === 1)
      .select(col("cluster"), col("id").as("keeper_id"),
        col("q").as("quality"), col("size"))
  }

  /** Cross-source duplication matrix from an ALREADY-COMPUTED pair set:
    * each near-dup pair bucketed by the (source_a, source_b) of its two
    * documents — which sources copy from each other (mirrors, scrapes,
    * syndication). Two broadcast-sized joins against the source
    * dimension; never re-derives pairs.
    *
    * @param src (doc_id, source) dimension
    */
  def sourceOverlap(pairs: DataFrame, src: DataFrame): DataFrame = {
    val s = src.toDF("doc_id", "source")
    pairs
      .join(s.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(s.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** The eight release products. The four CLUSTER-derived members are
    * lazy: [[connectedComponents]] is an EAGER computation (driver
    * union-find collect, or the checkpointed iteration loop), so a
    * caller that consumes only `scored` — the incremental cadence's
    * prior release, which feeds `priorScored` and nothing else — must
    * not pay the prior corpus's CC, its label materialization, or the
    * verified-pair persist that feeds it. Field access is unchanged
    * (`r.clusters` forces the one shared CC run on first touch).
    */
  final class ReleaseProducts(
      val pairs: DataFrame,
      clustersF: () => DataFrame, keepersF: () => DataFrame,
      clusterSizesF: () => DataFrame, survivorsF: () => DataFrame,
      splitF: () => DataFrame,
      val sourceOverlap: DataFrame, val containment: DataFrame,
      /** the scored pair set every product derives from — persist-backed;
        * feed it to [[incrementalRelease]] as `priorScored` next cycle
        */
      val scored: DataFrame) {
    lazy val clusters: DataFrame = clustersF()
    lazy val keepers: DataFrame = keepersF()
    lazy val clusterSizes: DataFrame = clusterSizesF()
    lazy val survivors: DataFrame = survivorsF()
    lazy val split: DataFrame = splitF()
  }

  /** The one-pass dedup release: every per-product DataFrame a corpus
    * release ships, derived from a SINGLE materialization of the scored
    * pair set and a single connected-components run.
    *
    * Standalone, `pairs` / `containment` / `clusters` / `keepers` /
    * `clusterSizes` / `survivors` / `split` / `sourceOverlap` each
    * rebuild shingles → inverted index → pair join → CC from scratch; at
    * 100 TB the pair join is the single most expensive stage in the
    * system, so a release that computes eight downstream products would
    * pay it eight times over. Here the scored pair set persists once
    * ([[graft.ScratchCache]], the SemDeDup discipline), CC consumes the
    * verified subset through its own localCheckpoint (so the label table
    * is likewise materialized exactly once, bounded-lineage), and every
    * product is a cheap derivation: the downstream plans read the cached
    * pairs / checkpointed labels, never the corpus text. The reference's
    * analog is ClickHouse MV fan-out — five products from one insert
    * (`orchestrator/clickhouse/migrations_helpers.go:325-366`); this is
    * the same discipline on the dedup plane.
    *
    * @param quality (id, q) per-doc quality for [[clusterKeepers]] —
    *                e.g. `n_chars` to keep the longest copy
    * @return products; `survivors` carries `df`'s full row for every doc
    *         that is not a non-keeper cluster member, `split` is the
    *         leakage-safe (id, split) assignment where every cluster
    *         member inherits its root's split
    */
  /** LSH-FRONTED scored pairs: the same (id_a, id_b, common, n_a, n_b)
    * contract as [[scoredPairs]], but candidate generation never runs
    * the inverted-index self-join. Two candidate fronts, each matched to
    * the verification semantics it feeds:
    *
    *  - **Jaccard pairs → banded MinHash** ([[fastBandCandidates]] /
    *    [[portableBandCandidates]]): a pair's candidate probability is
    *    1−(1−j^r)^b — pick (k, bands) so recall at the release threshold
    *    clears the bar and GATE IT with [[lshAudit]] on a sample before
    *    a corpus run. At the ×10 rehearsal the df-capped index join
    *    emits 113.3M candidate pairs to verify 250.6k, while banding
    *    finds the same pairs from 250.7k candidates — the ~450×
    *    candidate reduction that makes the release's dominant stage
    *    linear in corpus size instead of Σ df².
    *  - **Containment → rarest-first prefix filter**: banding CANNOT
    *    front containment (a short doc quoted inside a long one has
    *    cont ≈ 1 but Jaccard ≈ n_a/n_b — zero banding probability), so
    *    containment keeps an EXACT guarantee instead of a probabilistic
    *    one. For any subset S of A's shingles with
    *    |S| = n_a − ⌈t·n_a⌉ + 1: if B contains none of S then
    *    common ≤ n_a − |S| < t·n_a — so indexing ANY such subset of
    *    every doc against the full index finds every pair with
    *    cont ≥ t in either direction. Choosing S as the GLOBALLY RAREST
    *    shingles (ascending document frequency, then hash) makes the
    *    probe fuel Σ_s pdf(s)·df(s) collapse: prefixes concentrate on
    *    df ≈ 1 shingles, which generate candidates only when genuinely
    *    shared. (This is PPJoin's canonical frequency-ordered prefix,
    *    applied one-sided for the asymmetric overlap bound; the
    *    symmetric-Jaccard PPJoin variant measured worse than the df-cap
    *    at honest 3-gram frequencies — see [[shinglePairs]] — but for
    *    containment the prefix is the only exact sub-quadratic front.)
    *
    * Verification then scores ONLY the unioned candidates: the pair
    * list joins back to the (df-capped) shingle sets and computes exact
    * (common, n_a, n_b) by array intersection — candidate-count × set
    * size work, not index-join-output work.
    *
    * df-cap contract: the cap applies to the verification sets, the
    * sizes, and the containment prefix/probe index (all consistent with
    * [[scoredPairs]]); MinHash signatures band over the FULL sets —
    * on honest data the cap only drops boilerplate (cap ≫ near-dup
    * pairs' shared-shingle df), which [[lshAudit]]'s capped ground
    * truth measures directly.
    *
    * `portable = true` switches the base hash to the engine-portable
    * 48-bit md5 slice and banding to signature-slice equality (the
    * [[minhashLshPortable]] family) so an external oracle can replicate
    * candidates, scoring, and every release product bit-exactly.
    */
  /** Distinct hashed shingle sets (id, sh), persisted — the LSH
    * pipeline's base scan in either hash family.
    */
  private[dedup] def hashedShingles(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean): DataFrame =
    if (portable) portableHashedShingles(df, idCol, textCol)
    // empties filter outside the persist — see portableHashedShingles
    else graft.ScratchCache.persist(
      graft.operators.Spread.wideThenFold(df)(_
        .select(col(idCol).as("id"),
          array_distinct(
            transform(TextAnalysis.shingles(col(textCol)),
              s => xxhash64(s))).as("sh"))))
      .where(size(col("sh")) > 0)

  /** (capped index, surviving sizes, candidate pairs) over an already
    * hashed-shingled population — the candidate core shared by the
    * direct and exact-collapse LSH paths.
    */
  private def lshCandidatePartsShingled(shingled: DataFrame,
      containThreshold: Double, maxShingleDf: Option[Int],
      k: Int, bands: Int, seed: Long,
      portable: Boolean): (DataFrame, DataFrame, DataFrame) = {
    // Jaccard front: banded MinHash over the full sets
    val candJ =
      if (portable) portableBandCandidates(shingled, k, bands, seed)
      else fastBandCandidates(shingled, k, bands, seed)
    // containment front: rarest-first prefix probing the (capped) index
    // through the positional bound (exact recall, less false fuel)
    val idx = shingled.select(col("id"), explode(col("sh")).as("s"))
    val (filtered, dfs) = cappedIndexWithDf(idx, maxShingleDf)
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n"))
    // persisted: prefixProbePos self-joins the ranked frame — without
    // the persist the per-doc ranking window runs once per join side
    val candC = prefixProbePos(
      graft.ScratchCache.persist(rankedIndex(filtered, sizes, dfs)),
      math.round(containThreshold * 1000))
    (filtered, sizes, candJ.unionAll(candC).distinct())
  }

  /** (shingled sets, capped index, candidate pairs) — the shared front
    * of [[lshCandidates]] / [[lshScoredPairs]].
    */
  private def lshCandidateParts(df: DataFrame, idCol: String, textCol: String,
      containThreshold: Double, maxShingleDf: Option[Int],
      k: Int, bands: Int, seed: Long,
      portable: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val shingled = hashedShingles(df, idCol, textCol, portable)
    val (filtered, _, cand) = lshCandidatePartsShingled(shingled,
      containThreshold, maxShingleDf, k, bands, seed, portable)
    (shingled, filtered, cand)
  }

  /** The distinct LSH-front candidate pair list (both fronts unioned) —
    * what [[lshScoredPairs]] verifies. Exposed for diagnostics: its
    * count against [[scoredPairs]]'s Σ df² join output is the candidate
    * reduction the front buys. ReleaseSpec pins [[lshScoredPairs]] to
    * the exact scores of exactly these candidates.
    */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
      containThreshold: Double, maxShingleDf: Option[Int],
      k: Int = 128, bands: Int = 32, seed: Long = 42L,
      portable: Boolean = false): DataFrame =
    lshCandidateParts(df, idCol, textCol, containThreshold, maxShingleDf,
      k, bands, seed, portable)._3

  /** BATCH-TOUCHING LSH-front scored pairs — [[lshScoredPairs]]' twin of
    * [[incrementalScoredPairs]]: candidates where at least one side is
    * in the batch, generated without ever joining corpus×corpus.
    *
    *  - Jaccard front: the batch's banded signatures join the full
    *    banded set — join output is batch-touching by construction
    *    (corpus signatures are per-doc, so the corpus side's banding is
    *    unchanged by the increment; its settled pairs live in the prior
    *    release's scored set).
    *  - Containment front, BOTH directions without the corpus×corpus
    *    probe: batch-prefix × full index (batch doc contained anywhere)
    *    UNION all-prefix × batch index (anything contained in a batch
    *    doc) — the second join's right side is increment-sized.
    *
    * Why the union with a prior LSH release stays complete: containment
    * is PAIR-INTRINSIC (cont(A,B) never changes as the corpus grows),
    * so every corpus×corpus pair with cont ≥ t was already guaranteed
    * into the prior scored set by the prior prefix front — global-df
    * drift can reorder an old doc's rarest-prefix, but it cannot
    * retroactively un-score a settled pair. Sub-threshold SCORED rows
    * may differ from a from-scratch run (different candidate sets);
    * every ≥-threshold product row is identical (ReleaseSpec pins it).
    */
  def incrementalLshScoredPairs(df: DataFrame, idCol: String, textCol: String,
      isBatch: Column, containThreshold: Double, maxShingleDf: Option[Int],
      k: Int = 128, bands: Int = 32, seed: Long = 42L,
      portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // empties filter outside the persist — see portableHashedShingles
    val flagged = graft.ScratchCache.persist(
      graft.operators.Spread.wideThenFold(df)(_
        .select(col(idCol).as("id"), isBatch.as("is_b"),
          (if (portable)
            array_distinct(transform(TextAnalysis.shingles(col(textCol)),
              s => graft.expressions.PortableHash.md5Prefix48(s)))
          else
            array_distinct(transform(TextAnalysis.shingles(col(textCol)),
              s => xxhash64(s)))).as("sh"))))
      .where(size(col("sh")) > 0)
    val shingled = flagged.select(col("id"), col("sh"))
    // Jaccard front: batch bands probe the full banded set
    val banded = graft.ScratchCache.persist(
      if (portable) portableBands(shingled, k, bands, seed)
      else fastBands(shingled, k, bands, seed))
    val bBand = banded.join(flagged.where(col("is_b")).select("id"), Seq("id"))
    val candJ = bBand.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    // containment front: same capped index/prefix machinery as the full
    // pipeline (positional bound included — this path re-ranks from the
    // current corpus, so both sides share one coherent order), but the
    // probes are one-side-batch by construction
    val idx = flagged.select(col("id"), col("is_b"), explode(col("sh")).as("s"))
    val (filtered, dfs) = cappedIndexWithDf(idx, maxShingleDf)
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n"))
    val ranked = graft.ScratchCache.persist(
      rankedIndex(filtered, sizes, dfs))
    val ctPm = math.round(containThreshold * 1000)
    val candC = prefixProbePos(ranked, ctPm, probeSide = col("is_b"))
      .unionAll(prefixProbePos(ranked, ctPm, indexSide = col("is_b")))
    // candidates persist (small: batch-touching only) so the scoring
    // sets can be restricted to the docs candidates actually touch —
    // the collect_list/array pass is increment-neighborhood-sized, not
    // corpus-sized
    val cand = graft.ScratchCache.persist(candJ.unionAll(candC).distinct())
    scoreCandidates(cand,
      candidateSets(cand, filtered, shingled, maxShingleDf))
  }

  def lshScoredPairs(df: DataFrame, idCol: String, textCol: String,
      containThreshold: Double, maxShingleDf: Option[Int],
      k: Int = 128, bands: Int = 32, seed: Long = 42L,
      portable: Boolean = false,
      collapseExact: Boolean = false): DataFrame = {
    if (collapseExact)
      return lshScoredPairsCollapsed(df, idCol, textCol, containThreshold,
        maxShingleDf, k, bands, seed, portable)
    val (shingled, filtered, cand0) = lshCandidateParts(df, idCol, textCol,
      containThreshold, maxShingleDf, k, bands, seed, portable)
    // exact scoring for candidates only: common/n over the same capped
    // shingle universe the index join would have used, and ONLY for
    // docs candidates actually touch — at 100 TB most docs are unique,
    // and the array-building pass must not pay for them
    val cand = graft.ScratchCache.persist(cand0)
    scoreCandidates(cand,
      candidateSets(cand, filtered, shingled, maxShingleDf))
  }

  /** EXACT-DUPLICATE COLLAPSE front ([[lshScoredPairs]]
    * `collapseExact = true`): group docs by their (sorted) hashed
    * shingle SET, run banding + prefix probing + verification on one
    * REPRESENTATIVE per group (the min id), then expand — each scored
    * rep pair becomes |A|·|B| member pairs carrying the identical
    * (common, n_a, n_b), and each group of g identical sets contributes
    * its C(g, 2) within-group pairs with common = n_a = n_b = n
    * directly, no verification at all.
    *
    * Exactness: identical shingle sets have identical scores against
    * EVERY other doc, so scoring one member scores them all, and the
    * candidate-front theorems (banding probability, prefix subset
    * bound) apply to the representative exactly as to each member —
    * every ≥-threshold pair still lands in the scored set
    * (ReleaseSpec pins products against the exact release).
    * Sub-threshold scored rows differ from the uncollapsed run only in
    * which bycatch gets scored — the usual candidate-set artifact both
    * pipelines filter out.
    *
    * Why this is the 100 TB default posture: web-crawl corpora are
    * 30–50% EXACT duplicates, and an uncollapsed front pays candidate
    * fuel per member PAIR — a doc duplicated g times amplifies every
    * base collision by g², while the true work (one verification per
    * base pair) grows not at all. The ×10 scale rehearsal is exactly
    * this shape: collapse turns its 18M-candidate prefix stage back
    * into the base corpus's, and only the OUTPUT expansion (true pair
    * rows, which the release must ship anyway) stays quadratic in
    * group size. Cost: one extra window keyed by the sorted set.
    *
    * df-cap semantics under collapse: document frequencies count
    * DISTINCT SETS, not raw docs — boilerplate measured over unique
    * content, which is the defensible definition at scale (a million
    * mirror copies shouldn't cap a shingle out for everyone else).
    * Uncapped (the gate shape) the two paths' products are identical.
    */
  private def lshScoredPairsCollapsed(df: DataFrame, idCol: String,
      textCol: String, containThreshold: Double, maxShingleDf: Option[Int],
      k: Int, bands: Int, seed: Long, portable: Boolean): DataFrame = {
    val (scoredRep, m, sizes) = lshCollapsedParts(df, idCol, textCol,
      containThreshold, maxShingleDf, k, bands, seed, portable)
    expandCollapsedScored(scoredRep, m, sizes)
  }

  /** The collapse front's three parts BEFORE expansion — (rep-level
    * scored pairs, (id, rep) membership, capped rep set sizes) — so
    * [[releasePipelineLsh]] can label clusters at REP granularity
    * (see [[collapsedClusterLabels]]) while the member-level expansion
    * stays lazy input to the output-sized products.
    */
  private def lshCollapsedParts(df: DataFrame, idCol: String,
      textCol: String, containThreshold: Double, maxShingleDf: Option[Int],
      k: Int, bands: Int, seed: Long, portable: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val shingled = hashedShingles(df, idCol, textCol, portable)
    // one window keyed by the sorted set: members (id → rep)
    val members = graft.ScratchCache.persist(shingled
      .withColumn("rep",
        min(col("id")).over(Window.partitionBy(sort_array(col("sh"))))))
    val reps = graft.ScratchCache.persist(
      members.where(col("id") === col("rep")).select(col("id"), col("sh")))
    val (filtered, sizes, cand0) = lshCandidatePartsShingled(reps,
      containThreshold, maxShingleDf, k, bands, seed, portable)
    val cand = graft.ScratchCache.persist(cand0)
    val scoredRep = scoreCandidates(cand,
      candidateSets(cand, filtered, reps, maxShingleDf))
    (scoredRep, members.select(col("id"), col("rep")), sizes)
  }

  /** Cluster labels for a collapsed release computed at REP level:
    * min-label CC over (≥-threshold rep pairs ∪ member→rep star edges)
    * equals CC over the member-level expansion exactly — identical
    * sets are jaccard-1 pairs, so group membership IS connectivity,
    * every member is present as a node, and reachability (hence the
    * min reachable id) is unchanged — while the edge set shrinks by
    * the square of the dup-group size (at ×100 replication: ~250k rep
    * pairs + one edge per doc instead of 27M expanded pairs).
    * Members of a group whose CAPPED set is empty are EXCLUDED (their
    * synthesized within-group rows carry common = n = 0, which the
    * jaccard filter rejects — the expansion does not connect them, so
    * neither may the star edges).
    */
  private[dedup] def collapsedClusterLabels(scoredRep: DataFrame,
      m: DataFrame, sizes: DataFrame, threshold: Double): DataFrame = {
    val jac = col("common") * lit(1.0) /
      (col("n_a") + col("n_b") - col("common"))
    val repEdges = scoredRep.where(jac >= threshold)
      .select(col("id_a"), col("id_b"))
    val starEdges = m.where(col("id") =!= col("rep"))
      .join(sizes.where(col("n") > 0)
          .select(col("id").as("rep")), Seq("rep"), "left_semi")
      .select(col("id").as("id_a"), col("rep").as("id_b"))
    connectedComponents(repEdges.unionAll(starEdges))
  }

  /** Expand REP-level scored pairs to member level: every member pair
    * inherits its rep pair's scores (id order re-canonicalized, n_a/n_b
    * swapped along with it), and each group's within-group pairs are
    * synthesized at `common = n_a = n_b = n` — identical sets, full
    * overlap by definition. A group whose (capped) set is empty has no
    * surviving shared shingle and, matching the exact contract, no
    * scored row. Shared by [[lshScoredPairsCollapsed]] and the
    * collapse-front [[ReleaseStore]] (which stores rep-level pairs and
    * expands on read).
    *
    * @param m     (id, rep) membership — every doc with a nonempty set,
    *              including the rep's own (rep, rep) row
    * @param sizes (id = rep, n) set sizes for the within-group rows
    */
  private[dedup] def expandCollapsedScored(scoredRep: DataFrame,
      m: DataFrame, sizes: DataFrame): DataFrame = {
    val cross = scoredRep
      .join(m.select(col("rep").as("id_a"), col("id").as("ma")), "id_a")
      .join(m.select(col("rep").as("id_b"), col("id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        col("common"),
        when(col("ma") <= col("mb"), col("n_a")).otherwise(col("n_b"))
          .as("n_a"),
        when(col("ma") <= col("mb"), col("n_b")).otherwise(col("n_a"))
          .as("n_b"))
    val intra = m.as("x")
      .join(m.as("y"),
        col("x.rep") === col("y.rep") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.rep").as("id"))
      .join(sizes, Seq("id"))
      .select(col("id_a"), col("id_b"), col("n").as("common"),
        col("n").as("n_a"), col("n").as("n_b"))
    cross.unionAll(intra)
  }

  def releasePipeline(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleDf: Option[Int],
      quality: DataFrame, sourceCol: String = "source",
      containThreshold: Double = 0.8): ReleaseProducts = {
    // the ONE pair-join materialization, at the SCORED granularity:
    // (id_a, id_b, common, n_a, n_b) — shinglePairs' own scratch
    // persists cover shingling and the capped index, this persist covers
    // the n² pair aggregation, and BOTH verification semantics (Jaccard
    // near-dup and asymmetric containment) are thin filters over it
    val scored = graft.ScratchCache.persist(
      scoredPairs(df, idCol, textCol, maxShingleDf))
    productsOf(scored, df, idCol, threshold, quality, sourceCol,
      containThreshold)
  }

  /** [[releasePipeline]] with [[lshScoredPairs]] candidate generation —
    * the 100 TB cadence: same eight products off one scored-pair
    * materialization and one CC run, but the scored set comes from
    * banded-MinHash (Jaccard) + rarest-prefix (containment) candidates
    * instead of the inverted-index self-join. Bit-identical to
    * [[releasePipeline]] whenever the banding recall at `threshold` is
    * 100% on the corpus (the containment front is exact by
    * construction) — gate the band shape with [[lshAudit]] first;
    * ReleaseSpec pins the equivalence on a fixture including a
    * low-Jaccard containment pair banding alone would miss.
    */
  def releasePipelineLsh(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleDf: Option[Int],
      quality: DataFrame, sourceCol: String = "source",
      containThreshold: Double = 0.8, k: Int = 128, bands: Int = 32,
      seed: Long = 42L, portable: Boolean = false,
      /** collapse identical shingle sets before candidate generation —
        * [[lshScoredPairsCollapsed]]; the crawl-corpus posture where
        * exact duplicates amplify candidate fuel quadratically
        */
      collapseExact: Boolean = false): ReleaseProducts = {
    if (collapseExact) {
      // label clusters at REP level (see collapsedClusterLabels): the
      // member-level expansion stays lazy input to the output-sized
      // products instead of feeding an eager CC over group-size²
      // expanded pairs
      val (scoredRep0, m, sizes) = lshCollapsedParts(df, idCol, textCol,
        containThreshold, maxShingleDf, k, bands, seed, portable)
      val scoredRep = graft.ScratchCache.persist(scoredRep0)
      val labels = collapsedClusterLabels(scoredRep, m, sizes, threshold)
      val scored = graft.ScratchCache.persist(
        expandCollapsedScored(scoredRep, m, sizes))
      return productsOf(scored, df, idCol, threshold, quality, sourceCol,
        containThreshold, clustersOverride = Some(labels))
    }
    val scored = graft.ScratchCache.persist(
      lshScoredPairs(df, idCol, textCol, containThreshold, maxShingleDf,
        k, bands, seed, portable, collapseExact))
    productsOf(scored, df, idCol, threshold, quality, sourceCol,
      containThreshold)
  }

  /** Incremental release — the daily-increment cadence of
    * [[releasePipeline]]: a new batch's scored pairs come from
    * [[incrementalScoredPairs]] (batch×corpus probe + batch×batch
    * self-join; corpus×corpus is NEVER re-joined), append to the prior
    * release's scored set, and every product re-derives over the
    * combined corpus from that union. At 100 TB this is the only
    * affordable cadence: pair-generation cost tracks the INCREMENT's
    * shingle stream, while products stay corpus-complete.
    *
    * Cap semantics: with a df-cap, the increment can push a shingle's
    * document frequency over the cap AFTER old×old pairs were settled —
    * those historical pairs are not retroactively dropped (the accepted
    * incremental-ingest drift, same contract as [[incrementalNearDup]]).
    * Uncapped, the result is bit-identical to a from-scratch
    * [[releasePipeline]] over the combined corpus (ReleaseSpec pins it).
    *
    * @param df          the COMBINED corpus (prior + batch rows)
    * @param isBatch     marks the new batch's rows within `df`
    * @param priorScored the previous release's `scored` product
    */
  def incrementalRelease(df: DataFrame, idCol: String, textCol: String,
      isBatch: Column, priorScored: DataFrame, threshold: Double,
      maxShingleDf: Option[Int], quality: DataFrame,
      sourceCol: String = "source",
      containThreshold: Double = 0.8): ReleaseProducts = {
    val delta = incrementalScoredPairs(df, idCol, textCol, isBatch,
      maxShingleDf)
    val scored = graft.ScratchCache.persist(priorScored.unionAll(delta))
    productsOf(scored, df, idCol, threshold, quality, sourceCol,
      containThreshold)
  }

  /** The fully LSH-fronted increment cadence: [[incrementalRelease]]
    * with [[incrementalLshScoredPairs]] as the delta — candidate
    * generation is banded + prefix-fronted AND batch-touching-only, so
    * a daily increment against years of corpus pays neither the Σ df²
    * index join NOR a corpus×corpus banding pass. `priorScored` must
    * come from an LSH-fronted release over the prior corpus with the
    * SAME band shape and thresholds; completeness of the union follows
    * from containment being pair-intrinsic (see
    * [[incrementalLshScoredPairs]]) plus per-doc banding being
    * corpus-independent.
    *
    * Product-equality contract vs the from-scratch
    * [[releasePipelineLsh]] over the combined corpus, stated precisely:
    * the CONTAINMENT product is equal UNCONDITIONALLY (each release's
    * prefix front guarantees its own era's ≥-threshold pairs, and
    * containment is pair-intrinsic, so df drift cannot retroactively
    * un-score a settled pair). The JACCARD product (and the cluster
    * products derived from it) is equal whenever banding catches the
    * ≥-threshold Jaccard pairs — the condition [[lshAudit]] measures
    * and the band shape is chosen for. A mid-similarity pair that
    * banding misses can still be scored as prefix BYCATCH, and bycatch
    * depends on df-drifted prefixes, so absent the recall condition
    * the two runs' Jaccard products could differ by exactly such
    * pairs. Sub-threshold scored rows differ freely either way
    * (candidate-set artifacts both pipelines filter out).
    */
  def incrementalReleaseLsh(df: DataFrame, idCol: String, textCol: String,
      isBatch: Column, priorScored: DataFrame, threshold: Double,
      maxShingleDf: Option[Int], quality: DataFrame,
      sourceCol: String = "source", containThreshold: Double = 0.8,
      k: Int = 128, bands: Int = 32, seed: Long = 42L,
      portable: Boolean = false): ReleaseProducts = {
    val delta = incrementalLshScoredPairs(df, idCol, textCol, isBatch,
      containThreshold, maxShingleDf, k, bands, seed, portable)
    val scored = graft.ScratchCache.persist(priorScored.unionAll(delta))
    productsOf(scored, df, idCol, threshold, quality, sourceCol,
      containThreshold)
  }

  private[dedup] def productsOf(scored: DataFrame, df: DataFrame, idCol: String,
      threshold: Double, quality: DataFrame, sourceCol: String,
      containThreshold: Double,
      /** pre-resolved (id, cluster) labels — [[ReleaseStore]]'s
        * incrementally-maintained table; None runs CC over the pairs
        */
      clustersOverride: Option[DataFrame] = None): ReleaseProducts = {
    // verified near-dup pairs persist too: CC's checkpoint AND the pairs
    // product both read them cache-side
    val pairs = graft.ScratchCache.persist(jaccardOf(scored, threshold))
    val contain = containmentOf(scored, containThreshold)
    // CC materializes its label table (localCheckpoint / driver-resolved
    // local relation) — the four cluster products below re-plan from
    // that materialization, never from the pair pipeline. LAZY: CC is
    // eager work, deferred to the first cluster-product access so a
    // scored-only consumer never runs it (ReleaseProducts scaladoc).
    lazy val clusters = clustersOverride.getOrElse(connectedComponents(pairs))
    def keepers = clusterKeepers(clusters, quality)
    def clusterSizes = clusters
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
    def survivors = {
      val losers = clusters.where(col("id") =!= col("cluster"))
        .select(col("id").as(idCol))
      df.join(losers, Seq(idCol), "left_anti")
    }
    def split = df.select(col(idCol))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("root", coalesce(col("cluster"), col(idCol)))
      .select(col(idCol),
        when(substring(md5(col("root").cast("string")), 1, 1) < "d", "train")
          .otherwise("eval").as("split"))
    val overlap = sourceOverlap(pairs,
      df.select(col(idCol).as("doc_id"), col(sourceCol).as("source")))
    new ReleaseProducts(pairs, () => clusters, () => keepers,
      () => clusterSizes, () => survivors, () => split,
      overlap, contain, scored)
  }

  /** Seeded hash-family parameters, exposed so an external oracle can
    * replicate the signature family exactly.
    */
  def minhashParams(k: Int, seed: Long): (Array[Long], Array[Long]) =
    hashParams(k, seed)

  /** The signature modulus, exposed for oracle generation. */
  val minhashP: Long = P

  /** 64-bit SimHash over a token/shingle set column (one-pass native
    * expression).
    */
  def simhash(tokenSet: Column): Column =
    Sketches.simhash64(transform(tokenSet, t => xxhash64(t)))

  /** Banded-Hamming blocking join over 64-bit sketches — the shared
    * engine under [[simhashPairs]], [[simhashPairsPortable]] and
    * [[graft.operators.multimodal.Multimodal.imageDHash]]-based image
    * near-dup: split each sketch into `chunks` 16-bit chunks; pairs
    * agreeing on ≥1 chunk are candidates — by pigeonhole that catches
    * EVERY pair with Hamming distance ≤ chunks − 1 — then exact
    * `bit_count(xor)` verifies. With maxHamming < chunks the output is
    * EXACTLY the ≤-maxHamming pair set (the default contract, enforced);
    * a caller whose sketch width can't afford maxHamming + 1 chunks
    * (the 48-bit portable SimHash: a chunk over constant-zero bits
    * collides universally) may pass `strictRecall = false` to accept
    * the documented banded semantics — candidates ∩ verified — instead.
    * Input: (`id`, `sh`) with distinct ids; output: (id_a, id_b,
    * hamming), id_a < id_b. The blocking join is an equi-join on
    * (chunk, cv) — shuffle-partitioned by bucket, never a cross
    * product; bucket skew means sketch skew (many all-alike documents),
    * which is the caller's exclusion contract (empty-input sketches
    * hash to one bucket).
    *
    * `blockCols` names extra NON-NULL input columns ADDED to the
    * blocking equi-key and carried into the output: rows pair only
    * when they agree on every block column — the modality guard a
    * mixed-kind fingerprint corpus needs (an image dHash and an audio
    * envelope hash landing within `maxHamming` must NOT pair; see
    * [[MediaStore]]). Same shuffle shape — one more key column in the
    * same equi-join, never a second pass.
    */
  def hammingPairs(sketches: DataFrame, maxHamming: Int,
      chunks: Int = 4, strictRecall: Boolean = true,
      blockCols: Seq[String] = Nil): DataFrame = {
    requireHammingShape(maxHamming, chunks, strictRecall)
    val chunked = chunkedSketches(sketches, chunks, blockCols)
    val dist = bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long")
    val key = (Seq("chunk", "cv") ++ blockCols)
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _)
    chunked.as("a")
      .join(chunked.as("b"), key && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a") +: col("b.id").as("id_b") +:
        dist.as("hamming") +: blockCols.map(c => col(s"a.$c")): _*)
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** The two-sided [[hammingPairs]]: every (left id, right id) pair
    * whose sketches differ in ≤ maxHamming bits, blocked on the same
    * 16-bit chunks (pigeonhole-exact recall at maxHamming < chunks,
    * enforced the same way). No id ordering applies across tables —
    * the CROSS-MODAL shape: e.g. crawl image dHashes against exploded
    * video frame hashes ("which images appear inside which clips"),
    * or a probe set against a stored fingerprint corpus. Both inputs:
    * (`id`, `sh`) with per-table distinct ids; output (id_a from left,
    * id_b from right, hamming). Same equi-join/skew contract — and the
    * same `blockCols` modality guard — as the self-join.
    */
  def hammingJoin(left: DataFrame, right: DataFrame, maxHamming: Int,
      chunks: Int = 4, strictRecall: Boolean = true,
      blockCols: Seq[String] = Nil): DataFrame = {
    requireHammingShape(maxHamming, chunks, strictRecall)
    val dist = bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long")
    val key = (Seq("chunk", "cv") ++ blockCols)
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _)
    chunkedSketches(left, chunks, blockCols).as("a")
      .join(chunkedSketches(right, chunks, blockCols).as("b"), key)
      .select(col("a.id").as("id_a") +: col("b.id").as("id_b") +:
        dist.as("hamming") +: blockCols.map(c => col(s"a.$c")): _*)
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Chunk-value PRE-PRUNE for a two-sided banded-Hamming join whose
    * left side is MICRO (a store ingest's batch): a right-side row can
    * participate in [[hammingJoin]]'s candidate join only if some
    * 16-bit chunk of its sketch equals the same chunk of some left
    * sketch — so a codegen'd `isin` over the left side's collected
    * chunk values drops it BEFORE [[chunkedSketches]]' 4× explode and
    * the join machinery ever see it. A strict superset of the banded
    * join's right-side participants (extra blockCols only narrow
    * further), so composing it changes nothing about the result —
    * MediaStoreSpec's parity pins it. At 10⁸ stored prints a 500-print
    * batch keeps ~3% of rows: the probe becomes one vectorized
    * filtered scan instead of a 4×10⁸-row explode+join. No-op above
    * `maxProbe` sketches (the isin set must stay a broadcast-literal
    * hash set) — big batches amortize the full join they fall back to.
    */
  def hammingPrefilter(leftSketches: Array[Long], right: DataFrame,
      chunks: Int, shCol: String = "sh"): DataFrame = {
    require(chunks >= 1 && chunks * 16 <= 64)
    if (leftSketches.isEmpty) return right.limit(0)
    val cvSets = (0 until chunks).map { c =>
      leftSketches.map(sh => (sh >>> (c * 16)) & 0xffffL).distinct
    }
    // selectivity guard: each chunk has only 2^16 possible values, so a
    // probe whose distinct chunk values cover much of that space keeps
    // ~all stored rows anyway — the OR of near-full InSets would pay
    // the predicate scan and a huge literal-set build for nothing.
    // Expected keep fraction under uniform stored chunk values is
    // 1 − Π(1 − d_c/65536); skip the filter (identity — it is an
    // optimization, never a semantic) when that exceeds one half
    val keep = 1.0 - cvSets.map(s => 1.0 - s.length / 65536.0).product
    if (keep > 0.5) return right
    val preds = cvSets.zipWithIndex.map { case (cvs, c) =>
      shiftright(col(shCol), c * 16).bitwiseAND(lit(0xffffL))
        .isin(cvs.toSeq: _*)
    }
    right.where(preds.reduce(_ || _))
  }

  /** [[hammingPrefilter]]'s probe-size ceiling: above this the left
    * side is no longer "micro" and callers keep the plain join without
    * even collecting the sketches. 8192 distinct sketches already put
    * each chunk's isin at up to 1/8 of the 2^16 value space — expected
    * keep ≈ 1 − (1 − 1/8)⁴ ≈ 41%, the edge of usefulness; the old
    * 100k ceiling admitted probes whose near-full InSets kept ~every
    * stored row while still paying the scan (the selectivity guard
    * inside [[hammingPrefilter]] now catches skewed cases below the
    * ceiling too).
    */
  val hammingPrefilterMaxProbe: Int = 8192

  private def requireHammingShape(maxHamming: Int, chunks: Int,
      strictRecall: Boolean): Unit = {
    // chunks beyond the sketch width would alias (a 64-bit shift wraps
    // mod 64: "chunk 4" of a 64-bit sketch re-reads chunk 0), silently
    // voiding the pigeonhole — reject rather than alias
    require(chunks >= 1 && chunks * 16 <= 64,
      s"16-bit chunks must fit the 64-bit sketch (chunks = $chunks)")
    require(!strictRecall || maxHamming < chunks,
      s"banded recall needs maxHamming < chunks ($maxHamming >= $chunks)")
  }

  private def chunkedSketches(sketches: DataFrame,
      chunks: Int, blockCols: Seq[String] = Nil): DataFrame =
    sketches.select(col("id") +: col("sh") +: blockCols.map(col) :+
      explode(array((0 until chunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * 16).bitwiseAND(lit(0xffffL)).as("cv"))): _*))
        .as("cc"): _*)
      .select(col("id") +: col("sh") +: col("cc.chunk") +: col("cc.cv") +:
        blockCols.map(col): _*)

  /** SimHash near-dup pairs with banded Hamming blocking: 4×16-bit chunks;
    * pairs agreeing on ≥1 chunk are candidates (catches all pairs with
    * Hamming distance ≤ 3), verified by exact bit_count. Uses 3-gram
    * shingles (token sets from a small vocabulary make every document
    * collide, degenerating the blocking join to n²).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // one tokenize+shingle+simhash pass; the blocking self-join reuses it.
    // Shingle-less documents (<3 tokens) are excluded like the portable
    // twin: an empty set's sketch is 0, so every short document would
    // otherwise share one bucket at Hamming 0 — m·(m−1)/2 false pairs and
    // a quadratic blocking join
    // empties filter outside the persist (see portableHashedShingles);
    // the cached rows carry the 8-byte sketch plus the set size so the
    // filter never re-tokenizes. The shingles are projected once and both
    // columns read them: CollapseProject does not inline a non-cheap
    // expression its consumer reads twice, so the sharing does not rest
    // on codegen subexpression elimination
    val withSim = graft.ScratchCache.persist(graft.operators.Spread.wide(df)
      .select(col(idCol).as("id"), TextAnalysis.shingles(col(textCol)).as("__s"))
      .select(col("id"), simhash(col("__s")).as("sh"), size(col("__s")).as("__n")))
      .where(col("__n") > 0).select(col("id"), col("sh"))
    hammingPairs(withSim, maxHamming, chunks = 4)
  }

  /** [[simhashPairs]] with the engine-portable 48-bit md5-slice base hash
    * (see [[minhashLshPortable]]): a DuckDB oracle replicates the sketch,
    * the chunk blocking, and the Hamming verification bit-exactly. Three
    * 16-bit chunks cover the 48 meaningful bits — the high 16 bits of the
    * 64-bit sketch are constant zero with a 48-bit base hash, and a chunk
    * over them would collide universally (degenerating the blocking join
    * to n²). Documents with no shingles are excluded (an empty set's
    * sketch is 0, which would spuriously pair all short documents).
    */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    def hash48(s: Column): Column =
      graft.expressions.PortableHash.md5Prefix48(s)
    // empties filter outside the persist, shingles hashed once — see
    // simhashPairs; the hashed array has one entry per shingle
    val withSim = graft.ScratchCache.persist(graft.operators.Spread.wide(df)
      .select(col(idCol).as("id"),
        transform(TextAnalysis.shingles(col(textCol)), hash48(_)).as("__h"))
      .select(col("id"), Sketches.simhash64(col("__h")).as("sh"),
        size(col("__h")).as("__n")))
      .where(col("__n") > 0).select(col("id"), col("sh"))
    hammingPairs(withSim, maxHamming, chunks = 3, strictRecall = false)
  }

  /** Embedding-cosine near-duplicate pairs via the similarity module's
    * LSH buckets; see [[graft.operators.similarity.CosineSearch]].
    */

  /** Duplicate-cluster formation: connected components over near-dup
    * pairs via min-label propagation — every document gets the smallest
    * doc id reachable through the pair graph as its cluster label (the
    * canonical "keeper").
    *
    * Each iteration is one join + two aggregations keyed by node id;
    * convergence needs `diameter` rounds, and near-dup clusters are
    * shallow in practice (cap with `maxIter`). Lineage is cut per round
    * with localCheckpoint so plans stay bounded. For adversarial
    * long-chain graphs swap in large-star/small-star contraction — the
    * per-round join shape is the same.
    *
    * @param pairs (aCol, bCol) undirected near-dup edges
    * @return (id, cluster) — cluster = min id of the component
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 20,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // localCheckpoint registers its materialized blocks as a persistent
    // RDD; track the ids each checkpoint creates so blocks free as soon
    // as their last consumer has run — without this the loop accumulates
    // maxIter copies of the label table in executor storage (at 10⁹
    // nodes that is hundreds of GB of dead blocks cluster-wide)
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint() // eager: blocks exist on return
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    def free(ids: Set[Int]): scala.Unit =
      ids.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    // materialize the (possibly expensive) pair pipeline exactly once
    val (p0, p0Ids) = checkpointTracked(
      pairs.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b")))
    // small graphs resolve on the driver: near-dup edge sets are usually
    // tiny relative to the corpus, and union-find on ≤1M collected edges
    // beats N iteration jobs; the distributed loop below is the path for
    // graphs that don't fit
    val p0count = p0.count()
    if (p0count <= driverEdgeLimit) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      val seen = scala.collection.mutable.HashSet[Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      p0.collect().foreach { row =>
        seen += row.getLong(0); seen += row.getLong(1)
        val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      free(p0Ids) // the collected edge list was p0's last consumer
      return seen.toSeq.map(n => (n, find(n))).toDF("id", "cluster")
    }
    val (edges, edgeIds) = checkpointTracked(
      p0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(p0.select(col("b").as("src"), col("a").as("dst")))
        .distinct())
    free(p0Ids) // edges is materialized; p0's blocks are dead
    val (labels0, ids0) = checkpointTracked(
      edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id")))
    var labels = labels0
    var prevIds = ids0
    // labels only ever decrease, so Σcluster strictly decreases until the
    // fixpoint — convergence is one cheap scan of the checkpointed labels,
    // no old-vs-new join
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum("cluster")).first().getLong(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min("cluster").as("n_cluster"))
      // the self-join below consumes `stepped` twice — checkpoint it once
      // so the edges⋈labels aggregation doesn't execute on both sides
      // (at 10⁹ edges that would double every round's shuffle work)
      val (stepped, steppedIds) = checkpointTracked(
        labels.join(viaNeighbors, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("n_cluster"), col("cluster")))
              .as("cluster")))
      // path compression (pointer jumping): cluster(n) ← cluster(cluster(n))
      // — doubles propagation distance per round, log(diameter) rounds
      val (next, nextIds) = checkpointTracked(stepped.as("l")
        .join(stepped.select(col("id").as("cid"), col("cluster").as("cc")).as("p"),
          col("l.cluster") === col("cid"), "left")
        .select(col("l.id").as("id"),
          least(col("l.cluster"), coalesce(col("cc"), col("l.cluster")))
            .as("cluster")))
      free(steppedIds) // next is materialized; stepped's blocks are dead
      val s = labelSum(next)
      // next's blocks are live; the previous round's label table is now
      // unreachable by any future computation — drop its blocks
      free(prevIds)
      prevIds = nextIds
      labels = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    free(edgeIds) // the loop was the edge table's last consumer
    labels // still checkpointed: the caller's result, bounded-lineage
  }
}
