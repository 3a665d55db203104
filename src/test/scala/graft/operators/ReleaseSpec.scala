package graft.operators

import graft.SparkSpec
import graft.operators.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-pass dedup release: product equivalence against the
  * standalone operators, and the materialize-once plan discipline (the
  * cluster products must never re-derive the shingle/pair pipeline).
  */
class ReleaseSpec extends SparkSpec {
  import spark.implicits._

  // two 3-doc near-dup families + singletons; doc 20's copy is longest
  // so the quality keeper differs from the min-id keeper
  private def corpus: DataFrame = Seq(
    (1L, "alpha beta gamma delta epsilon zeta", "en"),
    (2L, "alpha beta gamma delta epsilon zeta", "en"),
    (3L, "alpha beta gamma delta epsilon eta", "de"),
    (20L, "one two three four five six seven", "en"),
    (21L, "one two three four five six seven eight nine ten", "fr"),
    (50L, "totally unrelated text about completely different things", "en"),
    (51L, "another unique document with no shared trigrams at all", "de"))
    .toDF("doc_id", "text", "lang")
    .withColumn("n_chars", length(col("text")).cast("long"))
    .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2))))

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("every product matches its standalone derivation") {
    val d = corpus
    val r = Dedup.releasePipeline(d, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None,
      quality = d.select(col("doc_id").as("id"), col("n_chars").as("q")))

    val pairs0 = Dedup.ngramJaccard(d, "doc_id", "text", threshold = 0.5)
    assert(rows(r.pairs) == rows(pairs0))
    val clusters0 = Dedup.connectedComponents(pairs0)
    assert(rows(r.clusters) == rows(clusters0))
    assert(rows(r.keepers) == rows(Dedup.clusterKeepers(clusters0,
      d.select(col("doc_id").as("id"), col("n_chars").as("q")))))
    assert(rows(r.clusterSizes) == rows(clusters0
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))))
    val losers0 = clusters0.where(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    assert(rows(r.survivors) == rows(d.join(losers0, Seq("doc_id"), "left_anti")))
    assert(rows(r.sourceOverlap) == rows(Dedup.sourceOverlap(pairs0,
      d.select(col("doc_id"), col("source")))))
    assert(rows(r.containment) ==
      rows(Dedup.containment(d, "doc_id", "text", threshold = 0.8)))
    // cluster {1,2,3} has sources src1,src0,src1 → pairs (1,2)=src0|src1,
    // (1,3)=src1|src1, (2,3)=src0|src1; cluster {20,21}=src0|src1
    assert(r.sourceOverlap.collect().map(r0 =>
      (r0.getString(0), r0.getString(1), r0.getLong(2))).toSet ==
      Set(("src0", "src1", 3L), ("src1", "src1", 1L)))
    // the split is leakage-safe: both members of a cluster share it
    val split = r.split.as[(Long, String)].collect().toMap
    assert(split.keySet == Set(1L, 2L, 3L, 20L, 21L, 50L, 51L))
    assert(split(1L) == split(2L) && split(2L) == split(3L))
    assert(split(20L) == split(21L))
    // and the quality keeper picked the longest member, not min id
    val keeper = r.keepers.select("cluster", "keeper_id")
      .as[(Long, Long)].collect().toMap
    assert(keeper(20L) == 21L)
  }

  test("incremental release equals a from-scratch release over the union") {
    // prior release over the first corpus; then docs 60/61 arrive (61
    // near-dups doc 20's family, 60 is a singleton). Uncapped, the
    // incremental path must reproduce the from-scratch release over the
    // combined corpus product-for-product — while generating only
    // batch-touching pairs (the corpus index never self-joins).
    val prior = corpus
    val q0 = prior.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val r0 = Dedup.releasePipeline(prior, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q0)
    // keep the prior scored pairs as plain rows: a real pipeline stores
    // them between cycles, and the next cycle's caches are fresh
    val priorScored = spark.createDataFrame(
      java.util.Arrays.asList(r0.scored.collect(): _*), r0.scored.schema)
    graft.ScratchCache.releaseAll(spark)
    val batch = Seq(
      (60L, "fresh content that matches nothing else in the corpus", "en"),
      (61L, "one two three four five six seven eight nine", "de"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2))))
    val combined = prior.unionByName(batch)
    val q1 = combined.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val inc = Dedup.incrementalRelease(combined, "doc_id", "text",
      isBatch = col("doc_id") >= 60L, priorScored = priorScored,
      threshold = 0.5, maxShingleDf = None, quality = q1)
    val full = Dedup.releasePipeline(combined, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q1)
    assert(rows(inc.scored) == rows(full.scored))
    assert(rows(inc.pairs) == rows(full.pairs))
    assert(rows(inc.clusters) == rows(full.clusters))
    assert(rows(inc.keepers) == rows(full.keepers))
    assert(rows(inc.clusterSizes) == rows(full.clusterSizes))
    assert(rows(inc.survivors) == rows(full.survivors))
    assert(rows(inc.split) == rows(full.split))
    assert(rows(inc.sourceOverlap) == rows(full.sourceOverlap))
    assert(rows(inc.containment) == rows(full.containment))
    // and 61 actually joined 20/21's cluster through the increment
    val cl = inc.clusters.as[(Long, Long)].collect().toMap
    assert(cl.contains(61L) && cl(61L) == cl.getOrElse(21L, cl(20L)))
    graft.ScratchCache.releaseAll(spark)
  }

  test("LSH-fronted release equals the exact release, incl. a containment pair banding misses") {
    // docs 30/31: 30's six tokens appear verbatim inside 31's 22 — full
    // containment (cont_a = 1.0) at Jaccard 4/20 = 0.2, far below any
    // banding reach. The rarest-prefix containment front must find it;
    // every other product must match the exact release bit-for-bit.
    val d = corpus.unionByName(Seq(
      (30L, "red orange yellow green blue purple", "en"),
      (31L, "the quick brown fox jumps over red orange yellow green blue " +
        "purple and then runs far away into the deep dark forest tonight",
        "fr"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2)))))
    val q = d.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val exact = Dedup.releasePipeline(d, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    val lsh = Dedup.releasePipelineLsh(d, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    assert(rows(lsh.pairs) == rows(exact.pairs))
    assert(rows(lsh.clusters) == rows(exact.clusters))
    assert(rows(lsh.keepers) == rows(exact.keepers))
    assert(rows(lsh.clusterSizes) == rows(exact.clusterSizes))
    assert(rows(lsh.survivors) == rows(exact.survivors))
    assert(rows(lsh.split) == rows(exact.split))
    assert(rows(lsh.sourceOverlap) == rows(exact.sourceOverlap))
    assert(rows(lsh.containment) == rows(exact.containment))
    // the scored universe is the candidate set, a SUBSET of the exact
    // all-sharing-pairs universe — every verified product row survives,
    // sub-threshold non-candidates don't get scored at all
    assert(rows(lsh.scored).subsetOf(rows(exact.scored)))
    // the containment product really carries the quoted pair…
    val contPairs = lsh.containment.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(contPairs.contains((30L, 31L)),
      s"prefix front missed the quoted pair; containment=$contPairs")
    // …and the banding front alone would NOT have found it (all banded
    // candidates at threshold 0 — (30,31) must not be among them)
    val banded = Dedup.minhashLsh(d, "doc_id", "text", threshold = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!banded.contains((30L, 31L)),
      "fixture no longer exercises the containment front: banding found the pair")
    graft.ScratchCache.releaseAll(spark)
  }

  test("portable LSH-fronted release equals the exact release too") {
    // the oracle-replicable variant (48-bit md5 base hash, slice-equality
    // banding): same equivalence contract as the hot path. Band shape
    // k=32/bands=16 (2 rows per band) — the fixture's weakest true pairs
    // sit at Jaccard 0.6, where r=4 banding recall is only ~67% per pair
    // (and deterministically missed two), while r=2 reaches ~99.9%
    val d = corpus
    val q = d.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val exact = Dedup.releasePipeline(d, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    val lsh = Dedup.releasePipelineLsh(d, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q, k = 32, bands = 16, portable = true)
    assert(rows(lsh.pairs) == rows(exact.pairs))
    assert(rows(lsh.clusters) == rows(exact.clusters))
    assert(rows(lsh.keepers) == rows(exact.keepers))
    assert(rows(lsh.containment) == rows(exact.containment))
    graft.ScratchCache.releaseAll(spark)
  }

  test("incremental LSH release equals the from-scratch LSH release (both quote directions)") {
    // prior corpus includes the quoted pair 30⊂31; the increment brings
    // 61 (near-dup of the 20-family), 62 (a long doc QUOTING corpus doc
    // 30 — corpus-contained-in-batch, the all-prefix × batch-index
    // direction) and 63 (a short doc quoted INSIDE corpus doc 31 —
    // batch-contained-in-corpus, the batch-prefix × full-index
    // direction). The delta never joins corpus×corpus, banded or
    // otherwise; the union with the prior LSH release must reproduce
    // the from-scratch LSH release's products exactly.
    val prior = corpus.unionByName(Seq(
      (30L, "red orange yellow green blue purple", "en"),
      (31L, "the quick brown fox jumps over red orange yellow green blue " +
        "purple and then runs far away into the deep dark forest tonight",
        "fr"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2)))))
    val q0 = prior.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val r0 = Dedup.releasePipelineLsh(prior, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q0)
    val priorScored = spark.createDataFrame(
      java.util.Arrays.asList(r0.scored.collect(): _*), r0.scored.schema)
    graft.ScratchCache.releaseAll(spark)
    val batch = Seq(
      (61L, "one two three four five six seven eight nine", "de"),
      (62L, "a very long wrapper that happens to embed red orange yellow " +
        "green blue purple somewhere deep inside its own rambling prose " +
        "about gardens and painters and light", "en"),
      (63L, "the quick brown fox jumps over", "fr"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2))))
    val combined = prior.unionByName(batch)
    val q1 = combined.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val inc = Dedup.incrementalReleaseLsh(combined, "doc_id", "text",
      isBatch = col("doc_id") >= 60L, priorScored = priorScored,
      threshold = 0.5, maxShingleDf = None, quality = q1)
    val full = Dedup.releasePipelineLsh(combined, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q1)
    assert(rows(inc.pairs) == rows(full.pairs))
    assert(rows(inc.clusters) == rows(full.clusters))
    assert(rows(inc.keepers) == rows(full.keepers))
    assert(rows(inc.clusterSizes) == rows(full.clusterSizes))
    assert(rows(inc.survivors) == rows(full.survivors))
    assert(rows(inc.split) == rows(full.split))
    assert(rows(inc.sourceOverlap) == rows(full.sourceOverlap))
    assert(rows(inc.containment) == rows(full.containment))
    // …and the exact release agrees too (banding recall holds here)
    val exact = Dedup.releasePipeline(combined, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q1)
    assert(rows(inc.pairs) == rows(exact.pairs))
    assert(rows(inc.containment) == rows(exact.containment))
    // both cross-increment quote directions were found by the delta
    import spark.implicits._
    val cont = inc.containment.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(cont.contains((30L, 62L)), s"corpus-in-batch quote missed: $cont")
    assert(cont.contains((31L, 63L)), s"batch-in-corpus quote missed: $cont")
    // and the near-dup increment joined its family
    val cl = inc.clusters.as[(Long, Long)].collect().toMap
    assert(cl.contains(61L) && cl(61L) == cl(20L))
    graft.ScratchCache.releaseAll(spark)
  }

  test("prefix containment front is exact on random corpora (property)") {
    // the mathematical guarantee under fire: random docs over a small
    // vocabulary (dense accidental overlap), plus docs that QUOTE a
    // random base doc verbatim inside random padding. For every trial,
    // the LSH-fronted release's containment product must equal the
    // exact one EXACTLY — banding recall plays no role (containment
    // rides the prefix front), and the rarest-first subset choice must
    // not lose a single ≥-threshold pair. Jaccard pairs are only
    // guaranteed ⊆ (banding may miss mid-similarity pairs; that is the
    // audited trade, not a defect).
    val rnd = new scala.util.Random(12345)
    for (trial <- 1 to 3) {
      val vocab = Vector.tabulate(40)(i => s"w${trial}x$i")
      def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val base = (0 until 25).map { id =>
        (id.toLong, words(5 + rnd.nextInt(30)).mkString(" "))
      }
      val quoting = (25 until 31).map { id =>
        val src = base(rnd.nextInt(base.size))._2
        (id.toLong, (words(rnd.nextInt(25)) :+ src).mkString(" "))
      }
      val d = (base ++ quoting).toDF("doc_id", "text")
      val q = d.select(col("doc_id").as("id"),
        length(col("text")).cast("long").as("q"))
      // one uncapped trial, one with a BINDING df-cap (small vocab makes
      // hot shingles real): both sides must apply the cap identically
      val cap = if (trial == 3) Some(3) else None
      val exactCont = Dedup.containment(d, "doc_id", "text",
        threshold = 0.8, maxShingleDf = cap)
      val exactPairs = Dedup.ngramJaccard(d, "doc_id", "text",
        threshold = 0.5, maxShingleDf = cap)
      val lsh = Dedup.releasePipelineLsh(d, "doc_id", "text",
        threshold = 0.5, maxShingleDf = cap, quality = q,
        sourceCol = "doc_id")
      assert(rows(lsh.containment) == rows(exactCont),
        s"trial $trial (cap=$cap): containment front lost or invented a pair")
      assert(rows(lsh.pairs).subsetOf(rows(exactPairs)),
        s"trial $trial: LSH pairs must be a subset of exact pairs")
      graft.ScratchCache.releaseAll(spark)
    }
  }

  test("incremental LSH release equals from-scratch LSH on random corpora (property)") {
    // the union-completeness argument under fuzz: random docs + random
    // verbatim quoting, split at a random id cut into prior corpus and
    // batch. The prior release's prefixes were chosen against
    // corpus-only df; the from-scratch run's against combined df — the
    // PREFIXES DRIFT and the sub-threshold scored sets differ. What is
    // THEOREM-guaranteed equal is the containment product (asserted
    // first); the Jaccard-side products are additionally equal HERE
    // because these fixed seeds produce no mid-similarity pair that
    // banding misses while prefix bycatch splits (the recall condition
    // incrementalReleaseLsh documents — if a seed change ever fails a
    // pairs assertion, check for exactly that pair class before
    // suspecting the union logic).
    val rnd = new scala.util.Random(777)
    for (trial <- 1 to 3) {
      val vocab = Vector.tabulate(35)(i => s"t${trial}w$i")
      def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val base = (0 until 24).map { id =>
        (id.toLong, words(5 + rnd.nextInt(25)).mkString(" "))
      }
      val quoting = (24 until 30).map { id =>
        val src = base(rnd.nextInt(base.size))._2
        (id.toLong, (words(rnd.nextInt(20)) :+ src).mkString(" "))
      }
      val all = (base ++ quoting).map { case (id, t) => (id, t, s"src${id % 2}") }
      val cut = 12 + rnd.nextInt(14) // batch = ids >= cut, always nonempty
      val d = all.toDF("doc_id", "text", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
      val q = d.select(col("doc_id").as("id"), col("n_chars").as("q"))
      val prior = d.where(col("doc_id") < cut)
      val r0 = Dedup.releasePipelineLsh(prior, "doc_id", "text",
        threshold = 0.5, maxShingleDf = None,
        quality = prior.select(col("doc_id").as("id"), col("n_chars").as("q")))
      val priorScored = spark.createDataFrame(
        java.util.Arrays.asList(r0.scored.collect(): _*), r0.scored.schema)
      graft.ScratchCache.releaseAll(spark)
      val inc = Dedup.incrementalReleaseLsh(d, "doc_id", "text",
        isBatch = col("doc_id") >= cut, priorScored = priorScored,
        threshold = 0.5, maxShingleDf = None, quality = q)
      val full = Dedup.releasePipelineLsh(d, "doc_id", "text",
        threshold = 0.5, maxShingleDf = None, quality = q)
      assert(rows(inc.containment) == rows(full.containment),
        s"trial $trial cut=$cut containment (THEOREM-guaranteed)")
      assert(rows(inc.pairs) == rows(full.pairs), s"trial $trial cut=$cut pairs")
      assert(rows(inc.clusters) == rows(full.clusters), s"trial $trial clusters")
      assert(rows(inc.keepers) == rows(full.keepers), s"trial $trial keepers")
      assert(rows(inc.split) == rows(full.split), s"trial $trial split")
      graft.ScratchCache.releaseAll(spark)
    }
  }

  test("lshScoredPairs equals the exact scored set restricted to its candidates") {
    // the direct contract pin (verdict r10 #5): the LSH-fronted scored
    // rows are EXACTLY the exact scored rows for the candidate pairs the
    // fronts generated — same common/n_a/n_b, nothing extra, nothing
    // rescored. Uses the planted containment fixture so the candidate
    // set exercises both fronts.
    val d = corpus.unionByName(Seq(
      (30L, "red orange yellow green blue purple", "en"),
      (31L, "the quick brown fox jumps over red orange yellow green blue " +
        "purple and then runs far away into the deep dark forest tonight",
        "fr"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2)))))
    val cand = Dedup.lshCandidates(d, "doc_id", "text",
      containThreshold = 0.8, maxShingleDf = None)
    val lsh = Dedup.lshScoredPairs(d, "doc_id", "text",
      containThreshold = 0.8, maxShingleDf = None)
    val expected = Dedup.scoredPairs(d, "doc_id", "text", None)
      .join(cand, Seq("id_a", "id_b"), "left_semi")
    assert(rows(lsh) == rows(expected))
    // and the planted quoted pair is in the candidate (and scored) set
    assert(rows(cand.where(col("id_a") === 30L && col("id_b") === 31L)).nonEmpty)
    graft.ScratchCache.releaseAll(spark)
  }

  test("exact-collapse release equals the uncollapsed one on a replicated corpus") {
    // the crawl shape: every doc exists in g copies. Candidate work must
    // collapse to the base corpus's; every product must stay identical
    // to the exact release over the full replicated corpus (including
    // within-group pairs at jaccard 1000 and the planted containment
    // pair, replicated).
    val base = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota"),
      (2L, "red orange yellow green blue purple"),
      (3L, "the quick brown fox jumps over red orange yellow green blue " +
        "purple and then runs far away into the deep dark forest tonight"),
      (4L, "totally unrelated text about completely different things"))
    val g = 4
    val d = (0 until g).flatMap(r => base.map { case (id, t) =>
        (id + 100L * r, t) })
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2))))
    val q = d.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val exact = Dedup.releasePipeline(d, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    val coll = Dedup.releasePipelineLsh(d, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q, collapseExact = true)
    assert(rows(coll.pairs) == rows(exact.pairs))
    assert(rows(coll.clusters) == rows(exact.clusters))
    assert(rows(coll.keepers) == rows(exact.keepers))
    assert(rows(coll.clusterSizes) == rows(exact.clusterSizes))
    assert(rows(coll.survivors) == rows(exact.survivors))
    assert(rows(coll.split) == rows(exact.split))
    assert(rows(coll.sourceOverlap) == rows(exact.sourceOverlap))
    assert(rows(coll.containment) == rows(exact.containment))
    assert(rows(coll.scored).subsetOf(rows(exact.scored)))
    // replicas of the quoted pair all carry the containment row
    val cont = coll.containment.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(cont.contains((2L, 3L)) && cont.contains((2L, 103L)) &&
      cont.contains((102L, 203L)))
    graft.ScratchCache.releaseAll(spark)
  }

  test("releaseAuto picks the exact front on small corpora, the LSH front on big ones") {
    // tiny corpus: the pairs the LSH front would avoid cannot pay its
    // per-index-row toll — exact front
    assert(!Dedup.frontDecisions(corpus, "doc_id", "text")._1)
    // heavily replicated corpus of long docs: the index self-join's
    // Σ df² dwarfs the banding+prefix volume — LSH front
    val base = (0 until 7).map(d =>
      (d.toLong, (0 until 60).map(i => s"w${d}_$i").mkString(" ")))
    val repl = (0 until 30).flatMap(r => base.map { case (id, t) =>
        (id + 100L * r, t) })
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2))))
    assert(Dedup.frontDecisions(repl, "doc_id", "text",
      k = 64, bands = 8)._1)
    // collapse decision from the same counting plan: the replicated
    // corpus is ~97% exact duplicates (collapse fires, and the auto
    // dispatch below therefore exercises the collapsed pipeline); with
    // the corpus's one exact-dup pair removed, no doc shares a shingle
    // set and collapse must not fire
    assert(Dedup.frontDecisions(repl, "doc_id", "text",
      k = 64, bands = 8)._2)
    assert(!Dedup.frontDecisions(corpus.where(col("doc_id") =!= 2),
      "doc_id", "text")._2)
    // and the dispatch produces the exact release's products either way
    val q = corpus.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val auto = Dedup.releaseAuto(corpus, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    val exact = Dedup.releasePipeline(corpus, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q)
    assert(rows(auto.pairs) == rows(exact.pairs))
    assert(rows(auto.containment) == rows(exact.containment))
    assert(rows(auto.clusters) == rows(exact.clusters))
    val qr = repl.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val autoR = Dedup.releaseAuto(repl, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = qr, k = 64, bands = 8)
    val exactR = Dedup.releasePipeline(repl, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = qr)
    assert(rows(autoR.pairs) == rows(exactR.pairs))
    assert(rows(autoR.containment) == rows(exactR.containment))
    assert(rows(autoR.clusters) == rows(exactR.clusters))
    graft.ScratchCache.releaseAll(spark)
  }

  test("cluster products re-plan from the materialization, not the corpus") {
    val d = corpus
    val r = Dedup.releasePipeline(d, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None,
      quality = d.select(col("doc_id").as("id"), col("n_chars").as("q")))
    // the pair set is the one registered materialization…
    assert(r.pairs.storageLevel.useMemory || r.pairs.storageLevel.useDisk)
    // …and no cluster-side product's plan contains the shingle pipeline
    // (xxhash64 over shingle arrays is its unmistakable signature): they
    // all read CC's materialized label table instead of re-joining text
    Seq(r.clusters, r.keepers, r.clusterSizes, r.split).foreach { p =>
      val plan = p.queryExecution.optimizedPlan.toString
      assert(!plan.contains("xxhash64"), plan.take(2000))
    }
    // the pairs product itself reads the cache, not a rebuilt pair join,
    // and so does the source-overlap matrix derived from it
    val pairsPlan = r.pairs.queryExecution.withCachedData.toString
    assert(pairsPlan.contains("InMemoryRelation"), pairsPlan.take(2000))
    val ovPlan = r.sourceOverlap.queryExecution.withCachedData.toString
    assert(ovPlan.contains("InMemoryRelation"), ovPlan.take(2000))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a scored-only consumer schedules zero connected-components jobs") {
    // the lazy-ReleaseProducts contract (the incremental cadence's prior
    // release feeds priorScored and NOTHING else): consuming `scored`
    // must never trigger connectedComponents — CC is EAGER on access
    // (edge count + localCheckpoints + driver collect), so a scored-only
    // consumer paying it would re-tax every incremental cycle with the
    // prior corpus's full CC. Detection: a CC job's stages carry the
    // submission stack in StageInfo.details (the JobTrace attribution
    // mechanism — call-site local properties are not populated in this
    // session), and every action inside CC submits from a frame naming
    // connectedComponents.
    val ccJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (j.stageInfos.exists(_.details.contains("connectedComponents")))
          ccJobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val d = corpus
      val r = Dedup.releasePipeline(d, "doc_id", "text", threshold = 0.5,
        maxShingleDf = None,
        quality = d.select(col("doc_id").as("id"), col("n_chars").as("q")))
      r.scored.queryExecution.toRdd.count()
      org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      assert(ccJobs.get() == 0,
        s"scored-only consumption ran ${ccJobs.get()} CC job(s)")
      // positive control: the detector actually sees CC jobs — first
      // access of a cluster product forces the one shared CC run
      r.clusters.queryExecution.toRdd.count()
      org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      assert(ccJobs.get() > 0,
        "detector saw no CC jobs even after forcing r.clusters")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.ScratchCache.releaseAll(spark)
    }
  }
}
