package graft.operators

import graft.SparkSpec
import graft.operators.dedup.Dedup
import graft.operators.multimodal.Multimodal
import graft.operators.similarity.CosineSearch
import graft.operators.text.TextAnalysis
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("token and quality metrics") {
    val df = Seq((1L, "the quick brown fox"), (2L, "a")).toDF("doc_id", "text")
    val metrics = TextAnalysis.qualityColumns(col("text"))
    val out = df.select(col("doc_id") +: metrics.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("token_count") == 4)
    assert(out(1L).getAs[Long]("char_count") == 19)
    assert(out(1L).getAs[Long]("avg_word_len_k") == 4000)
    assert(out(2L).getAs[Long]("token_count") == 1)
  }

  test("langGuess picks stopword-matching language") {
    val df = Seq(
      (1L, "the cat and the dog of war"),
      (2L, "der hund und das haus"),
      (3L, "le chat et les chiens")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.langGuess(col("text")))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "fr")
  }

  test("fingerprint is word-order insensitive") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"),
      (3L, "alpha beta delta")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), TextAnalysis.fingerprint(col("text")))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("winnowing guarantees a shared fingerprint for long shared runs") {
    // docs 1 and 2 share a 9-token run (≥ w+k−1 = 6 tokens) embedded in
    // different surroundings — winnowing's guarantee says at least one
    // selected fingerprint must coincide; doc 3 is unrelated
    val shared = "the training corpus must be deduplicated before model consumption"
    val df = Seq(
      (1L, s"alpha bravo $shared charlie delta"),
      (2L, s"echo foxtrot golf $shared hotel"),
      (3L, "completely different text with no overlap at all whatsoever here"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnow(df, "doc_id", "text", k = 3, w = 4)
      .select("id", "fp").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (id, v) => id -> v.map(_._2).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty, "shared run produced no shared fp")
    assert((fps(1L) & fps(3L)).isEmpty)
    // density: selected ≤ full-window count, ≥ ~ng/w
    val ng = 14 - 2 // doc 1: 14 tokens → 12 grams
    assert(fps(1L).size <= ng - 3 && fps(1L).size >= ng / 4)
    // a doc shorter than w grams still fingerprints (whole-doc window)
    val tiny = TextAnalysis.winnow(
      Seq((9L, "just four tokens here")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, w = 8)
    assert(tiny.count() == 1L)
  }

  test("shingles are positional 3-grams") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), TextAnalysis.shingles(col("text")))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L).isEmpty)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = {
    val base = "spark shuffles data across the cluster when wide dependencies appear"
    Seq(
      (1L, base),
      (2L, base), // exact dup of 1
      (3L, base + " sometimes"), // near dup of 1
      (4L, "completely different content about databases and storage engines here"),
      (5L, "unrelated short text")).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val groups = Dedup.exact(docs, "doc_id", "text")
      .where(col("dup_count") > 1).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("dup_count") == 2)
    assert(groups(0).getAs[Long]("keeper") == 1L)
  }

  test("ngram Jaccard finds exact and near dups") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH recall matches exact jaccard on real documents") {
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val exact = Dedup.ngramJaccard(real, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(real, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // verification step guarantees precision; banding 128/32 at t=0.5 gives
    // near-total recall (P[miss] = (1-s⁴)³² ≤ 11% at s=0.5, <0.1% at s≥0.7)
    assert(lsh.subsetOf(exact))
    assert(exact.isEmpty || lsh.size >= exact.size * 7 / 10)
  }

  test("portable minhash agrees with the classic variant on real docs") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val classic = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val portable = Dedup.minhashLshPortable(docs, "doc_id", "text",
        threshold = 0.5, k = 32, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // different hash families and k, same algorithm: the high-similarity
    // pairs (the ones that matter) overlap strongly
    assert(portable.nonEmpty)
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert((exact -- portable).isEmpty,
      s"portable missed high-sim pairs: ${exact -- portable}")
    assert((exact -- classic).isEmpty)
  }

  test("containment flags a short doc quoted inside a long one") {
    // doc 11 is wholly contained in doc 10 (every 3-gram of 11 appears in
    // 10) but Jaccard is far below threshold — the asymmetric case
    val quote = "the quick brown fox jumps over the lazy dog"
    val long = s"$quote and then a very long essay continues discussing " +
      "entirely unrelated matters for many additional tokens of filler " +
      "prose that dilute any symmetric similarity measure completely"
    val df = Seq((10L, long), (11L, quote),
      (12L, "totally disjoint text about storage engines")).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccard(df, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((10L, 11L)), "Jaccard should miss the subset pair")
    val cont = Dedup.containment(df, "doc_id", "text", 0.8)
    val rows = cont.collect().map(r => (r.getAs[Long]("id_a"),
      r.getAs[Long]("id_b"), r.getAs[Long]("cont_a_pm"),
      r.getAs[Long]("cont_b_pm"))).toSeq
    assert(rows.map(r => (r._1, r._2)) == Seq((10L, 11L)))
    // the SHORT side is the contained one: cont_b = common/|B| = 1000
    assert(rows.head._4 == 1000L, s"contained side should score 1000: $rows")
    assert(rows.head._3 < 800L, "long side must not score as contained")
  }

  test("maxShingleDf drops hot stop-shingles from pair generation") {
    // every doc shares the hot prefix "a b c"; only 1&2 share more
    val hotDocs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e g"),
      (3L, "a b c x y z"),
      (4L, "a b c q r s")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(hotDocs, "doc_id", "text", 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 6) // all pairs meet via "a b c"
    val capped = Dedup.ngramJaccard(hotDocs, "doc_id", "text", 0.0,
      maxShingleDf = Some(2))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // "a b c" (df=4) is dropped; only docs sharing rarer shingles pair up
    assert(capped.contains((1L, 2L)))
    assert(!capped.contains((3L, 4L)))
    assert(capped.size < uncapped.size)
  }

  test("exactPairs refuses a corpus beyond its audit cap") {
    val e = (1L to 20L).map(i => (i, Seq(1.0, 0.0))).toDF("id", "embedding")
    val err = intercept[IllegalArgumentException] {
      CosineSearch.exactPairs(e, thresholdE6 = 0L, maxRows = 10L)
    }
    assert(err.getMessage.contains("nearDupPairs"))
    // within the cap it still runs
    assert(CosineSearch.exactPairs(e, thresholdE6 = 0L, maxRows = 100L)
      .count() == 20L * 19 / 2)
  }

  test("corpus-derived df-cap prunes a planted boilerplate shingle") {
    // 60 docs share a boilerplate header (df = 60 > cap = max(50, 60/10));
    // docs 1 & 2 are genuine near-dups beyond it. The capped query-entry
    // path must keep the real pair and refuse the 60×59/2 boilerplate
    // pairs an uncapped run would generate.
    val boiler = "subscribe to our newsletter today"
    val docs = (1L to 60L).map { i =>
      val body = if (i <= 2) "identical real content here" else s"unique body $i x$i y$i"
      (i, s"$boiler $body")
    }.toDF("doc_id", "text")
    val cap = Dedup.defaultShingleDfCap(docs.count())
    assert(cap == 50)
    // the default is floor-50, 10%-of-corpus in between, ceiling-10k:
    // a cap that kept growing with nDocs would admit quadratic candidate
    // volume (per-shingle pair fuel is df²)
    assert(Dedup.defaultShingleDfCap(5000L) == 500)
    assert(Dedup.defaultShingleDfCap(1000000L) == 10000)
    assert(Dedup.defaultShingleDfCap(30000000000L) == 10000)
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", 0.3,
      maxShingleDf = Some(cap))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)))
    val uncapped = Dedup.ngramJaccard(docs, "doc_id", "text", 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size > 1, "planted shingle should inflate uncapped pairs")
  }

  test("df-cap frontier prices every cap exactly") {
    // one shingle per doc (3-word texts): "a a a" df=3, "b b b" df=2,
    // "c c c" df=1 → histogram {1:1, 2:1, 3:1}; pair fuel 0 / 1 / 3
    val corpus = Seq(
      (1L, "a a a"), (2L, "a a a"), (3L, "a a a"),
      (4L, "b b b"), (5L, "b b b"),
      (6L, "c c c")).toDF("doc_id", "text")
    val frontier = Dedup.dfCapFrontier(corpus, "doc_id", "text")
      .orderBy("df_cap")
      .select("df_cap", "n_shingles", "est_pairs", "shingles_kept",
        "shingles_dropped")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(frontier == Seq(
      (1L, 1L, 0L, 1L, 2L),
      (2L, 1L, 1L, 2L, 1L),
      (3L, 1L, 4L, 3L, 0L)))
  }

  test("df-cap carries through the clusters/purge path unchanged") {
    // the q_dedup_clusters / q_dedup_purge composition: capped pair
    // generation feeding connected components. The planted boilerplate
    // shingle must not merge unrelated docs into one giant cluster, and
    // the genuine near-dup pair must still cluster together.
    val boiler = "subscribe to our newsletter today"
    val docs = (1L to 60L).map { i =>
      val body = if (i <= 2) "identical real content here" else s"unique body $i x$i y$i"
      (i, s"$boiler $body")
    }.toDF("doc_id", "text")
    val cap = Dedup.defaultShingleDfCap(docs.count())
    val clusters = Dedup.connectedComponents(
      Dedup.ngramJaccard(docs, "doc_id", "text", 0.3, maxShingleDf = Some(cap)))
      .as[(Long, Long)].collect().toMap
    // only the genuine pair appears in the edge set → one 2-cluster
    assert(clusters == Map(1L -> 1L, 2L -> 1L))
    // purge semantics: non-keepers (id != cluster) are exactly {2}
    assert(clusters.filter { case (id, c) => id != c }.keySet == Set(2L))
  }

  test("lshAudit classifies candidates against exact ground truth") {
    // ground truth at t=0.5 on the planted docs is {(1,2),(1,3),(2,3)}
    // (pinned by the ngram test above); (1,2) is an exact dup — identical
    // signatures land in every band, so no band shape can miss it
    val row = Dedup.lshAudit(docs, "doc_id", "text", threshold = 0.5)
      .collect().head
    val cand = row.getAs[Long]("candidates")
    val tp = row.getAs[Long]("true_pos")
    val fp = row.getAs[Long]("false_pos")
    val missed = row.getAs[Long]("missed")
    assert(tp >= 1, "the exact-dup pair must be both candidate and true")
    assert(tp + missed == 3, s"ground truth drifted: tp=$tp missed=$missed")
    assert(cand == tp + fp)
    assert(row.getAs[Long]("recall_pm") == tp * 1000 / (tp + missed))
    assert(row.getAs[Long]("precision_pm") == tp * 1000 / math.max(cand, 1))
  }

  test("clusterKeepers picks highest quality, ties to the min id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L))
      .toDF("id", "cluster")
    val quality = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 2L))
      .toDF("id", "q")
    val got = Dedup.clusterKeepers(clusters, quality).collect()
      .map(r => r.getAs[Long]("cluster") ->
        ((r.getAs[Long]("keeper_id"), r.getAs[Long]("quality"),
          r.getAs[Long]("size")))).toMap
    // 2 and 3 tie at q=9 → the smaller id wins, never the arbitrary min-id 1
    assert(got(1L) == ((2L, 9L, 3L)))
    assert(got(10L) == ((10L, 2L, 1L)))
    assert(got.size == 2)
  }

  test("connectedComponents labels chains and leaves islands apart") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), // chain 1-2-3
      (10L, 11L), // separate pair
      (7L, 20L), (20L, 8L)) // chain with out-of-order ids
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(7L) == 7L && got(20L) == 7L && got(8L) == 7L)
  }

  test("distributed label propagation agrees with driver union-find") {
    val rnd = new scala.util.Random(7L)
    val pairs = (1 to 120).map(_ => {
      val a = rnd.nextInt(60).toLong; val b = a + 1 + rnd.nextInt(10)
      (a, b)
    }).toDF("id_a", "id_b")
    val viaDriver = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val viaLoop = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaLoop)
    // every superseded iteration checkpoint must be freed: only the
    // returned label table's blocks may remain registered
    val leaked = spark.sparkContext.getPersistentRDDs.size - rddsBefore
    assert(leaked <= 1, s"$leaked checkpoint RDDs left registered")
  }

  test("simhash excludes shingle-less docs instead of pairing them all") {
    // <3-token docs have empty shingle sets → sketch 0; without the guard
    // every short doc pairs with every other at Hamming 0
    val df = Seq(
      (1L, "a"), (2L, "b c"), (3L, ""),
      (4L, "real content with enough tokens to shingle properly here"),
      (5L, "real content with enough tokens to shingle properly here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((4L, 5L)), s"short docs paired: $pairs")
  }

  test("knn classify propagates string labels verbatim") {
    val mk = (s: Double) => Array.tabulate(8)(i => (math.sin(i * s) + 2).toFloat)
    val corpus = Seq(
      (10L, mk(1.0), "en"), (11L, mk(1.01), "en"),
      (20L, mk(5.0), "de"), (21L, mk(5.01), "de"))
      .toDF("id", "embedding", "label")
    val out = CosineSearch.knnClassify(
      Seq((1L, mk(1.005)), (2L, mk(5.005))).toDF("qid", "embedding"),
      corpus, k = 2)
      .select("qid", "pred_label").as[(Long, String)].collect().toMap
    // a long-cast here would null every label and "classify" nulls
    assert(out == Map(1L -> "en", 2L -> "de"))
  }

  test("incremental near-dup equals the full join filtered to batch pairs") {
    // batch = {2, 6}; corpus-internal near-dups (4, 5) must NOT appear
    // even though they clear the threshold, and every batch-involved
    // pair must match the full self-join bit for bit
    val d = Seq(
      (1L, "spark shuffles data across the cluster when wide dependencies appear", false),
      (2L, "spark shuffles data across the cluster when wide dependencies show", true),
      (4L, "training corpora need careful dedup before any model sees them", false),
      (5L, "training corpora need careful dedup before any model sees them today", false),
      (6L, "spark shuffles data across the cluster when wide dependencies happen", true))
      .toDF("doc_id", "text", "is_b")
    val incr = Dedup.incrementalNearDup(d, "doc_id", "text",
      isBatch = col("is_b"), threshold = 0.3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = Set(2L, 6L)
    val full = Dedup.ngramJaccard(d, "doc_id", "text", threshold = 0.3)
      .as[(Long, Long, Long, Long)].collect()
      .filter(p => batch(p._1) || batch(p._2)).toSet
    assert(incr == full, s"incr=$incr full=$full")
    assert(full.nonEmpty)
    // the corpus×corpus near-dup exists in the full join but not here
    assert(Dedup.ngramJaccard(d, "doc_id", "text", 0.3)
      .as[(Long, Long, Long, Long)].collect().exists(p => p._1 == 4L && p._2 == 5L))
    assert(!incr.exists(p => p._1 == 4L && p._2 == 5L))
  }

  test("simhash flags identical token multisets, not distinct docs") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 4L && p._1 != 4L))
  }
}

class CosineSpec extends SparkSpec {
  import spark.implicits._

  test("kCenterCoreset covers planted clusters before densifying") {
    // three tight directional clusters; ids ordered so the seed (lowest
    // id) is in cluster A — picks 2 and 3 must land in B and C before any
    // second point from an already-covered cluster
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.99f, 0.01f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(0.01f, 0.99f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f)), (6L, Array(0.0f, 0.01f, 0.99f)))
      .toDF("id", "embedding")
    val picked = CosineSearch.kCenterCoreset(corpus, k = 3).collect()
    assert(picked.map(_.getAs[Long]("id")).toSeq.head == 1L) // seed
    val clusters = picked.map(_.getAs[Long]("id")).map {
      case 1L | 2L => "A"; case 3L | 4L => "B"; case _ => "C"
    }
    assert(clusters.toSet == Set("A", "B", "C"), clusters.mkString(","))
    // ranks are selection order; distances never increase
    assert(picked.map(_.getAs[Int]("rank")).toSeq == Seq(0, 1, 2))
    val dists = picked.map(_.getAs[Long]("dist_e6")).toSeq
    assert(dists == dists.sorted.reverse)
    // k beyond the corpus stops at the corpus size
    assert(CosineSearch.kCenterCoreset(corpus, k = 10).count() == 6L)
  }

  test("mmrSelect trades relevance against redundancy") {
    // query sits between clusters e1 and e2 (MMR only differentiates
    // when the query is not collinear with the picks): ids 1/2 are
    // near-copies on e1, id 3 is the e2 cluster, id 4 irrelevant. Top-k
    // by relevance takes both copies (2, 1, 3); MMR at lambda=0.7 must
    // defer the second copy until the e2 cluster is covered (2, 3, 1).
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.999f, 0.001f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("id", "embedding")
    val q = Seq(0.7071, 0.7071, 0.0)
    val out = CosineSearch.mmrSelect(corpus, q, k = 3,
      lamPpm = 700000L).collect()
    val ids = out.map(_.getAs[Long]("id")).toSeq
    assert(ids == Seq(2L, 3L, 1L),
      s"diverse cluster must beat the near-copy: $ids")
    // rank-0 score convention: lambda*rel with an empty penalty term
    assert(out.head.getAs[Long]("score") ==
      700000L * out.head.getAs[Long]("rel_e6"))
    // lambda=1 degenerates to plain top-k by relevance (tie -> id asc)
    val topk = CosineSearch.mmrSelect(corpus, q, k = 3,
      lamPpm = 1000000L).collect().map(_.getAs[Long]("id")).toSeq
    assert(topk == Seq(2L, 1L, 3L), s"lambda=1 should be pure top-k: $topk")
    // k beyond the corpus stops at the corpus size
    assert(CosineSearch.mmrSelect(corpus, q, k = 10,
      lamPpm = 700000L).count() == 4L)
  }

  test("centroidOutliers surfaces the planted mislabeled vector") {
    // label 0 clusters on e1 with id 5 planted at e2; label 1 clusters on
    // e3 with id 9 planted at e1 — each label's rnk-1 outlier must be the
    // planted vector, and rank order must follow ascending similarity
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0), (2L, Array(0.98f, 0.02f, 0.0f), 0),
      (3L, Array(0.99f, 0.01f, 0.0f), 0), (4L, Array(0.97f, 0.03f, 0.0f), 0),
      (5L, Array(0.0f, 1.0f, 0.0f), 0),
      (7L, Array(0.0f, 0.0f, 1.0f), 1), (8L, Array(0.0f, 0.02f, 0.98f), 1),
      (9L, Array(1.0f, 0.0f, 0.0f), 1))
      .toDF("id", "embedding", "label")
    val got = CosineSearch.centroidOutliers(corpus, k = 2)
      .orderBy("label", "rnk").collect()
    val byLabel = got.groupBy(_.getAs[Int]("label"))
    assert(byLabel(0).head.getAs[Long]("vec_id") == 5L)
    assert(byLabel(1).head.getAs[Long]("vec_id") == 9L)
    byLabel.values.foreach { rows =>
      assert(rows.length == 2)
      assert(rows.map(_.getAs[Int]("rnk")).toSeq == Seq(1, 2))
      val sims = rows.map(_.getAs[Long]("sim_e6")).toSeq
      assert(sims == sims.sorted, s"rank must follow ascending sim: $sims")
    }
  }

  test("kCenterCoreset frees superseded loop persists as it goes") {
    val corpus = (1L to 40L)
      .map(i => (i, Array((i % 7).toFloat + 1f, (i % 5).toFloat, (i % 3).toFloat)))
      .toDF("id", "embedding")
    graft.ScratchCache.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    // 12 greedy passes must NOT leave 12 cached projections behind: only
    // the base projection + the final pass's projection may remain tracked
    // (freed later by the entry point's releaseAll)
    val got = CosineSearch.kCenterCoreset(corpus, k = 12)
    assert(got.count() == 12L)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2,
      s"${after - before} persisted RDDs held after a 12-pass coreset run")
    graft.ScratchCache.releaseAll(spark)
  }

  test("kCenterCoreset cuts lineage past the checkpoint interval") {
    // 70 greedy passes cross the 32-pass localCheckpoint boundary twice:
    // the run must stay correct (greedy is prefix-stable, so the first 6
    // picks equal a k=6 run) and leave no checkpoint blocks behind
    val corpus = (1L to 120L)
      .map(i => (i, Array((i % 11).toFloat + 1f, (i % 7).toFloat, (i % 5).toFloat)))
      .toDF("id", "embedding")
    graft.ScratchCache.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    val big = CosineSearch.kCenterCoreset(corpus, k = 70).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(big.length == 70)
    assert(big.map(_._1).toSeq == (0 until 70))
    val small = CosineSearch.kCenterCoreset(corpus, k = 6).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(big.take(6).toSeq == small.toSeq, "greedy prefix must be stable")
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 3,
      s"${after - before} persisted RDDs held after two lineage cuts")
    graft.ScratchCache.releaseAll(spark)
  }

  test("bruteForce ranks an identical vector first") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 0.0f))).toDF("id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "embedding")
    val top = CosineSearch.bruteForce(queries, corpus, k = 2).collect()
    assert(top.map(_.getAs[Long]("id")).toSeq == Seq(4L, 2L)) // self excluded
    assert(top(0).getAs[Long]("sim_e6") == 1000000L)
  }

  test("lsh top-k achieves high recall vs brute force on real embeddings") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val c = e.select(col("vec_id").as("id"), col("embedding"))
    val exact = CosineSearch.bruteForce(q, c, 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = CosineSearch.lshTopK(q, c, 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("ivf top-k achieves reasonable recall vs brute force") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val c = e.select(col("vec_id").as("id"), col("embedding"))
    val exact = CosineSearch.bruteForce(q, c, 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = CosineSearch.ivfTopK(q, c, 5, nlist = 8, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(approx.subsetOf(exact) || approx.nonEmpty) // candidates re-ranked exactly
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall too low")
  }

  test("ivf with a trained codebook matches or beats the seed quantizer") {
    import graft.operators.similarity.KMeans
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val c = e.select(col("vec_id").as("id"), col("embedding"))
    val exact = CosineSearch.bruteForce(q, c, 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("qid", "id").as[(Long, Long)].collect().toSet
      (exact & got).size.toDouble / exact.size
    }
    val seeded = recall(CosineSearch.ivfTopK(q, c, 5, nlist = 8, nprobe = 4))
    val (cents, _) = KMeans.fit(c, k = 8, iters = 3)
    val trained = recall(CosineSearch.ivfTopK(q, c, 5, nlist = 8, nprobe = 4,
      codebook = Some(cents)))
    assert(trained >= seeded - 0.1,
      s"trained codebook recall $trained collapsed vs seeded $seeded")
    assert(trained >= 0.4)
  }

  test("pq search achieves reasonable recall vs brute force") {
    import graft.operators.similarity.ProductQuant
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val c = e.select(col("vec_id").as("id"), col("embedding"))
    val exact = CosineSearch.bruteForce(q, c, 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = ProductQuant.search(q, c, 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    // random gaussian vectors are PQ's worst case (no cluster structure
    // for the codebook to exploit); the exact re-rank stage still has to
    // surface half the true top-5 from the ADC top-50
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"pq recall $recall too low")
    // re-ranked scores are EXACT cosines: every returned (qid,id,sim)
    // present in brute force must carry the identical similarity
    val exactSims = CosineSearch.bruteForce(q, c, 5)
      .select("qid", "id", "sim_e6").as[(Long, Long, Long)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val pqSims = ProductQuant.search(q, c, 5)
      .select("qid", "id", "sim_e6").as[(Long, Long, Long)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    (exactSims.keySet & pqSims.keySet).foreach { k =>
      assert(exactSims(k) == pqSims(k), s"re-rank sim differs at $k")
    }
  }

  test("ivf-pq equals plain pq when every cell is probed; prunes otherwise") {
    import graft.operators.similarity.ProductQuant
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val c = e.select(col("vec_id").as("id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "id", "sim_e6")
        .as[(Long, Int, Long, Long)].collect().toSet
    // nprobe = nlist probes every cell: cell pruning is a no-op, so the
    // composition must return plain PQ's result bit-for-bit
    assert(rows(ProductQuant.ivfPqSearch(q, c, 5, nlist = 8, nprobe = 8)) ==
      rows(ProductQuant.search(q, c, 5)))
    // default knobs prune 12/16 cells and still recover most of the
    // true top-5 (both stages approximate: cells then codes)
    val exact = CosineSearch.bruteForce(q, c, 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val pruned = rows(ProductQuant.ivfPqSearch(q, c, 5))
      .map(r => (r._1, r._3))
    assert((exact & pruned).size.toDouble / exact.size >= 0.4,
      "ivf-pq recall collapsed under cell pruning")
    // returned scores are exact cosines (re-rank stage), like search()
    val exactSims = CosineSearch.bruteForce(q, c, 5)
      .select("qid", "id", "sim_e6").as[(Long, Long, Long)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    rows(ProductQuant.ivfPqSearch(q, c, 5)).foreach { case (qid, _, id, s) =>
      exactSims.get((qid, id)).foreach(es => assert(es == s))
    }
  }

  test("ivf cell stats sum to the corpus; imbalance flags a hot cell") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val stats = CosineSearch.ivfCellStats(e, nlist = 16).collect()
    assert(stats.map(_.getAs[Long]("n")).sum == e.count())
    assert(stats.forall(r => r.getAs[Long]("share_pm") <= 1000L))
    // identical vectors all land in one cell, which holds the whole share
    val onehot = (0L until 12L)
      .map(i => (i, Array.fill(4)(1.0f))).toDF("id", "embedding")
    val hot = CosineSearch.ivfCellStats(onehot, nlist = 4).collect()
    assert(hot.length == 1 && hot.head.getAs[Long]("n") == 12L &&
      hot.head.getAs[Long]("share_pm") == 1000L)
  }

  test("pq encoding is deterministic and code-bounded") {
    import graft.operators.similarity.ProductQuant
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val cb = ProductQuant.codebook(e, m = 4, ksub = 16)
    assert(cb.length == 4 && cb.forall(_.length == 16))
    val enc1 = ProductQuant.encode(e, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val enc2 = ProductQuant.encode(e, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc1 == enc2)
    assert(enc1.values.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 16)))
    // a codebook seed vector must encode to itself in every sub-space
    assert(enc1(0L) == Seq(0, 0, 0, 0))
  }

  test("knn classify recovers labels of near-identical vectors") {
    val mk = (s: Double) => Array.tabulate(8)(i => (math.sin(i * s) + 2).toFloat)
    val corpus = Seq(
      (10L, mk(1.0), 1), (11L, mk(1.01), 1), (12L, mk(1.02), 1),
      (20L, mk(5.0), 2), (21L, mk(5.01), 2), (22L, mk(5.02), 2))
      .toDF("id", "embedding", "label")
    val queries = Seq((1L, mk(1.005)), (2L, mk(5.005))).toDF("qid", "embedding")
    val out = CosineSearch.knnClassify(queries, corpus, k = 3)
      .select("qid", "pred_label").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L))
  }

  test("knn classify is total, in-range, and vote-consistent on testdata") {
    // the synthetic embeddings carry no label-cluster structure (same- and
    // cross-label mean cosine are both ~0), so accuracy is untestable here
    // — the planted-cluster test above checks semantics; this checks the
    // distributed shape: one deterministic prediction per query, drawn
    // from the neighbor vote
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.where(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding"))
    val c = e.where(col("vec_id") >= 50)
      .select(col("vec_id").as("id"), col("embedding"), col("label"))
    val out = CosineSearch.knnClassify(q, c, k = 5)
    val pred = out.select("qid", "pred_label", "votes")
      .as[(Long, Long, Long)].collect()
    assert(pred.map(_._1).toSet == (0L until 50L).toSet) // total: one per query
    assert(pred.forall { case (_, l, v) => l >= 0 && l <= 9 && v >= 1 && v <= 5 })
    // the prediction must be a label that actually appears among the
    // query's k nearest neighbors
    val nnLabels = CosineSearch.bruteForce(q, c, 5)
      .join(c.select(col("id"), col("label").cast("long")), "id")
      .select("qid", "label").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    pred.foreach { case (qid, l, _) =>
      assert(nnLabels(qid).contains(l), s"query $qid predicted non-neighbor label $l")
    }
  }

  test("nearDupPairs finds planted duplicate embeddings") {
    val base = Array.tabulate(16)(i => math.sin(i).toFloat)
    val corpus = Seq(
      (1L, base), (2L, base.clone()),
      (3L, Array.tabulate(16)(i => math.cos(i * 2).toFloat)))
      .toDF("id", "embedding")
    val pairs = CosineSearch.nearDupPairs(corpus, thresholdE6 = 990000L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("LSH near-dup pairs are a subset of the exact ground truth") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val exact = CosineSearch.exactPairs(e, thresholdE6 = 300000L)
      .select("id_a", "id_b", "sim_e6")
      .as[(Long, Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val lsh = CosineSearch.nearDupPairs(e, thresholdE6 = 300000L)
      .select("id_a", "id_b", "sim_e6")
      .as[(Long, Long, Long)].collect().toSet
    // the approximate path may miss pairs (recall < 1) but must never
    // invent one, and every found pair carries the exact similarity
    assert(lsh.subsetOf(exact), s"LSH invented pairs: ${lsh -- exact}")
  }

  test("hardNegatives excludes same-label rows and self") {
    // q1 (label 0): nearest overall is id 2 (same label) — must be
    // skipped; nearest different-label are 3 then 4
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), 0L), (2L, Array(0.999f, 0.04f), 0L),
      (3L, Array(0.95f, 0.31f), 1L), (4L, Array(0.8f, 0.6f), 1L),
      (5L, Array(0.0f, 1.0f), 2L)).toDF("id", "embedding", "label")
    val got = CosineSearch.hardNegatives(
      rows.where($"id" === 1L).select($"id".as("qid"), $"embedding", $"label"),
      rows, k = 2).collect()
    assert(got.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("id"))).toSeq ===
      Seq((1, 3L), (2, 4L)))
  }
}

class MultimodalSpec extends SparkSpec {

  test("clipContainmentPurge keeps the longest upload per containment cluster") {
    import spark.implicits._
    val (a, b, c, d, e, f) = (11L, 22L, 33L, 44L, 55L, 66L)
    // clip 10: A B C D; clip 11: B C (a cut-out re-post, 1000-contained
    // at offset +1); clip 12: unrelated E F; clip 13: just D (a single
    // frame lifted from 10 — also 1000-contained)
    val frames = Seq(
      (10L, 0L, a), (10L, 1L, b), (10L, 2L, c), (10L, 3L, d),
      (11L, 0L, b), (11L, 1L, c),
      (12L, 0L, e), (12L, 1L, f),
      (13L, 0L, d)).toDF("id", "frame_idx", "sh")
    val quality = frames.groupBy($"id").agg(count(lit(1)).as("q"))
    val corpus = Seq(10L, 11L, 12L, 13L).toDF("id")
    val surv = Multimodal.clipContainmentPurge(
      corpus, "id", frames, quality, thresholdPm = 800)
      .as[Long].collect().toSet
    // {10, 11, 13} cluster via the directed containment edges; keeper =
    // the 4-frame clip 10; unrelated 12 untouched
    assert(surv == Set(10L, 12L))
    // a looser threshold nothing meets keeps everything
    val all = Multimodal.clipContainmentPurge(
      corpus, "id", frames, quality, thresholdPm = 1001)
      .as[Long].collect().toSet
    assert(all == Set(10L, 11L, 12L, 13L))
    graft.ScratchCache.releaseAll(spark)
  }

  test("decodeMedia dispatches kinds to the real decoders with the per-kind null contract") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image",
        Multimodal.encodeSolidPng(6, 4, 10, 20, 30), "s"),
      Multimodal.MediaRow(2L, "audio",
        Multimodal.encodeConstWav(8000, 32, 500), "s"),
      Multimodal.MediaRow(3L, "video",
        Multimodal.encodeSolidAvi(4, 2, 3, 10, 9, 9, 9), "s"),
      Multimodal.MediaRow(4L, "text", Array[Byte](1, 2, 3), "s"),
      Multimodal.MediaRow(5L, "image", Array.emptyByteArray, "s"),
      // NULL kind: must surface as unknown_kind, not silently vanish
      // (a bare !isin(...) filter evaluates to null and drops the row)
      Multimodal.MediaRow(6L, null, Array[Byte](9), "s")
    ).toDS()
    val rows = Multimodal.decodeMedia(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(rows.size == 6) // nothing dropped by the dispatch
    assert(rows(6L).getAs[String]("cause") == "unknown_kind")
    val img = rows(1L)
    assert(img.getAs[String]("cause") == "ok" &&
      img.getAs[String]("format") == "png" &&
      img.getAs[Int]("width") == 6 && img.getAs[Int]("height") == 4 &&
      img.getAs[Long]("n_frames") == 1L &&
      img.isNullAt(img.fieldIndex("sample_rate")) &&
      img.isNullAt(img.fieldIndex("rms")) &&
      img.getAs[Long]("mean_rgb_milli") == (10 + 20 + 30) * 1000L / 3)
    val aud = rows(2L)
    assert(aud.getAs[String]("cause") == "ok" &&
      aud.getAs[Int]("sample_rate") == 8000 &&
      aud.getAs[Long]("n_frames") == 32L &&
      aud.getAs[Long]("rms") == 500L &&
      aud.isNullAt(aud.fieldIndex("width")) &&
      aud.isNullAt(aud.fieldIndex("mean_rgb_milli")))
    val vid = rows(3L)
    assert(vid.getAs[String]("cause") == "ok" &&
      vid.getAs[String]("format") == "raw" &&
      vid.getAs[Int]("width") == 4 && vid.getAs[Int]("height") == 2 &&
      vid.getAs[Long]("n_frames") == 3L &&
      vid.getAs[Long]("mean_rgb_milli") == (9 + 9 + 9) * 1000L / 3)
    assert(rows(4L).getAs[String]("cause") == "unknown_kind")
    assert(rows(5L).getAs[String]("cause") == "empty" &&
      rows(5L).getAs[String]("kind") == "image")
  }

  test("real image resize scales, preserves solid color, and routes corrupt rows") {
    import spark.implicits._
    val media = Seq(
      // 16×12, solid (10, 20, 30): lands (8, 6) in an 8×8 box
      Multimodal.MediaRow(1L, "image",
        Multimodal.encodeSolidPng(16, 12, 10, 20, 30), "s"),
      // 12×16 (taller aspect): lands (6, 8)
      Multimodal.MediaRow(2L, "image",
        Multimodal.encodeSolidPng(12, 16, 200, 100, 50), "s"),
      // 5×4 already fits: passes through
      Multimodal.MediaRow(3L, "image",
        Multimodal.encodeSolidPng(5, 4, 1, 2, 3), "s"),
      Multimodal.MediaRow(4L, "image", Array.fill(16)(0x55.toByte), "s"),
      Multimodal.MediaRow(5L, "image", Array.emptyByteArray, "s")).toDS()
    val got = Multimodal.resizeImages(media, targetW = 8, targetH = 8)
      .collect().map(r => r.media_id -> r).toMap
    assert(got(1L).cause == "ok" && got(1L).width == Some(8) &&
      got(1L).height == Some(6) && got(1L).src_width == Some(16))
    assert(got(2L).width == Some(6) && got(2L).height == Some(8))
    assert(got(3L).width == Some(5) && got(3L).height == Some(4))
    assert(got(4L).cause == "no_reader" && got(5L).cause == "empty")
    // the thumbnail bytes ARE the resized raster: decode them back and
    // check dimensions and the exact solid color survive the round trip
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(got(1L).thumb_png.get))
    assert(img.getWidth == 8 && img.getHeight == 6)
    val px = for (y <- 0 until 6; x <- 0 until 8) yield img.getRGB(x, y)
    assert(px.forall(_ == ((0xff << 24) | (10 << 16) | (20 << 8) | 30)))
    assert(got(1L).mean_rgb_milli == Some((10 + 20 + 30) * 1000L / 3))
    // determinism across runs (PNG re-encode is canonical enough to pin)
    val again = Multimodal.resizeImages(media, targetW = 8, targetH = 8)
      .collect().map(r => r.media_id -> r.thumb_png.map(_.toSeq)).toMap
    assert(again(1L) == got(1L).thumb_png.map(_.toSeq))
  }

  test("frame sampling yields stride-spaced frames") {
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1L, "video",
      Array.fill(64 * 12)(7.toByte), "src")).toDS()
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
      .collect()
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 4, 8))
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 64))
  }

  private def solidImage(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
    img
  }

  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  test("real image decode: true dimensions and luma; corrupt rows route per-cause") {
    import spark.implicits._
    val png = Multimodal.encodeSolidPng(24, 13, 10, 200, 33)
    val jpg = encode(solidImage(17, 9, 0x808080), "jpeg")
    val media = Seq(
      Multimodal.MediaRow(1L, "image", png, "s"),
      Multimodal.MediaRow(2L, "image", jpg, "s"),
      Multimodal.MediaRow(3L, "image", Array.fill(16)(0x55.toByte), "s"),
      Multimodal.MediaRow(4L, "image", png.take(16), "s"),
      Multimodal.MediaRow(5L, "image", Array.emptyByteArray, "s")).toDS()
    val got = Multimodal.decodeImages(media).collect().sortBy(_.media_id)
    val p = got(0)
    assert(p.cause == "ok" && p.format.contains("png"))
    assert(p.width.contains(24) && p.height.contains(13))
    // PNG is lossless: solid (10,200,33) decodes to exactly that mean
    assert(p.mean_rgb_milli.contains((10L + 200L + 33L) * 1000 / 3))
    assert(p.pixel_crc.isDefined)
    val j = got(1)
    assert(j.cause == "ok" && j.format.contains("jpeg"))
    assert(j.width.contains(17) && j.height.contains(9))
    assert(got(2).cause == "no_reader" && got(2).width.isEmpty)
    assert(got(3).cause == "decode_failed" && got(3).width.isEmpty)
    assert(got(4).cause == "empty")
    // decode is deterministic, pixel checksum included
    val again = Multimodal.decodeImages(media).collect().sortBy(_.media_id)
    assert(again.toSeq == got.toSeq)
  }

  test("oversized images route to too_large from the header, undecoded") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Multimodal.encodeSolidPng(40, 30, 1, 2, 3), "s"),
      Multimodal.MediaRow(2L, "image", Multimodal.encodeSolidPng(8, 8, 1, 2, 3), "s"))
      .toDS()
    val got = Multimodal.decodeImages(media, maxPixels = 1000L)
      .collect().sortBy(_.media_id)
    // 40×30 = 1200 > 1000: header dims reported, no raster features
    assert(got(0).cause == "too_large")
    assert(got(0).width.contains(40) && got(0).height.contains(30))
    assert(got(0).mean_rgb_milli.isEmpty && got(0).pixel_crc.isEmpty)
    assert(got(1).cause == "ok")
  }

  test("image dhash: path fixture round-trips bits; shift/re-encode/resize invariants") {
    import spark.implicits._
    // bit 63 clear (the fixture key space), bit 62 set
    val k1 = 0x7edcba9876543210L
    val png = Multimodal.encodePathPng(k1)
    // brightness-shifted twin: same ±8 steps from 150 instead of 128 —
    // every comparison is preserved, so the dhash must be identical
    val shifted = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8) {
        var v = 150
        img.setRGB(0, y, (v << 16) | (v << 8) | v)
        for (x <- 0 until 8) {
          v += (if (((k1 >>> (y * 8 + x)) & 1L) == 1L) -8 else 8)
          img.setRGB(x + 1, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // lossless container swap: decode the PNG, re-write as BMP — the
    // perceptual hash must survive where a payload md5 or pixel CRC of
    // the bytes would not
    val bmp = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "image", png, "s"),
      Multimodal.MediaRow(2L, "image", Multimodal.encodePathPng(0L), "s"),
      Multimodal.MediaRow(3L, "image", shifted, "s"),
      Multimodal.MediaRow(4L, "image", bmp, "s"),
      // a larger image exercises the bilinear path; solid color stays
      // solid under interpolation, so every comparison is false
      Multimodal.MediaRow(5L, "image",
        Multimodal.encodeSolidPng(32, 20, 90, 90, 90), "s"),
      Multimodal.MediaRow(6L, "image", png.take(16), "s"),
      Multimodal.MediaRow(7L, "image", Array.emptyByteArray, "s"),
      Multimodal.MediaRow(8L, "image", Array.fill(16)(0x55.toByte), "s"))
      .toDS()
    val got = Multimodal.imageDHash(media).collect().sortBy(_.media_id)
    assert(got(0).cause == "ok" && got(0).dhash.contains(k1))
    assert(got(0).width.contains(9) && got(0).height.contains(8))
    assert(got(1).dhash.contains(0L))
    assert(got(2).dhash.contains(k1))
    assert(got(3).dhash.contains(k1))
    assert(got(4).cause == "ok" && got(4).dhash.contains(0L))
    assert(got(4).width.contains(32) && got(4).height.contains(20))
    assert(got(5).cause == "decode_failed" && got(5).dhash.isEmpty)
    assert(got(6).cause == "empty")
    assert(got(7).cause == "no_reader")
    // the bomb guard routes from the header, before any raster work
    val big = Seq(Multimodal.MediaRow(9L, "image",
      Multimodal.encodeSolidPng(40, 30, 1, 2, 3), "s")).toDS()
    val tl = Multimodal.imageDHash(big, maxPixels = 1000L).collect().head
    assert(tl.cause == "too_large" && tl.dhash.isEmpty)
    assert(tl.width.contains(40) && tl.height.contains(30))
  }

  test("banded hamming join: exact recall at <= chunks-1, verified exclusion above") {
    import spark.implicits._
    val base = 0x0123456789abcdL
    // 3 flips across 3 DISTINCT chunks: only the 4th chunk carries the
    // pair — the adversarial case for the pigeonhole
    val h3 = base ^ (1L << 1) ^ (1L << 17) ^ (1L << 33)
    // one flip in EVERY chunk: no shared chunk, and hamming 4 > max —
    // correctly absent by both the blocking and the verification
    val h4 = base ^ (1L << 2) ^ (1L << 18) ^ (1L << 34) ^ (1L << 50)
    val df = Seq((1L, base), (2L, base ^ (1L << 5)), (3L, h3), (4L, h4))
      .toDF("id", "sh")
    val got = Dedup.hammingPairs(df, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L)))
    assert(got((1L, 2L)) == 1L && got((1L, 3L)) == 3L)
    // the recall theorem needs maxHamming < chunks — rejected loudly
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(df, maxHamming = 4)
    }
    // chunks past the 64-bit sketch would alias (shift wraps mod 64:
    // "chunk 4" re-reads chunk 0) — rejected, not silently voided
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(df, maxHamming = 4, chunks = 5)
    }
  }

  test("hamming primitives match brute force on seeded random sketch clouds") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    // clustered cloud: 40 bases, each with 3 derived sketches at 0-6
    // random bit flips — plenty of pairs straddling the maxHamming=3
    // boundary on both sides
    val bases = IndexedSeq.fill(40)(rnd.nextLong())
    def cloud(bs: Seq[Long], idBase: Long): Seq[(Long, Long)] = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var id = idBase
      bs.foreach { base =>
        rows += ((id, base)); id += 1
        (0 until 3).foreach { _ =>
          var s = base
          (0 until rnd.nextInt(7)).foreach(_ => s ^= 1L << rnd.nextInt(64))
          rows += ((id, s)); id += 1
        }
      }
      rows.toSeq
    }
    val a = cloud(bases, 0L)
    // b shares 25 of a's bases, so the cross join has true near pairs
    val b = cloud(bases.take(25), 100000L)
    val gotPairs = Dedup.hammingPairs(a.toDF("id", "sh"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val wantPairs = (for {
      (ia, sa) <- a; (ib, sb) <- a if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ia, ib) -> d.toLong).toMap
    assert(gotPairs == wantPairs && wantPairs.nonEmpty)
    val gotJoin = Dedup.hammingJoin(a.toDF("id", "sh"), b.toDF("id", "sh"),
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val wantJoin = (for {
      (ia, sa) <- a; (ib, sb) <- b
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ia, ib) -> d.toLong).toMap
    assert(gotJoin == wantJoin && wantJoin.nonEmpty)
  }

  test("hamming and alignment joins plan as equi-joins, never nested-loop") {
    import spark.implicits._
    val a = Seq((1L, 5L), (2L, 9L)).toDF("id", "sh")
    val fr = Seq((1L, 0, 5L), (2L, 1, 9L)).toDF("id", "frame_idx", "sh")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    Seq(
      planOf(Dedup.hammingPairs(a, maxHamming = 3)),
      planOf(Dedup.hammingJoin(a, a, maxHamming = 3)),
      planOf(Multimodal.clipAlignment(fr)),
      planOf(Multimodal.clipAlignment(fr, maxHamming = 1))).foreach { p =>
      assert(!p.contains("CartesianProduct"), p.linesIterator.take(3).mkString)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        p.linesIterator.take(3).mkString)
    }
  }

  test("two-sided hamming join equals the brute-force cross filter at <= chunks-1") {
    import spark.implicits._
    val base = 0x7f00aa33cc55e1L
    val lefts = Seq(1L -> base, 2L -> (base ^ (1L << 7)),
      3L -> (base ^ 0x5555555555555555L))
    val rights = Seq(10L -> base,
      // 3 flips across 3 distinct chunks — the pigeonhole edge again
      11L -> (base ^ (1L << 3) ^ (1L << 19) ^ (1L << 35)),
      12L -> (base ^ (1L << 2) ^ (1L << 18) ^ (1L << 34) ^ (1L << 50)))
    val got = Dedup.hammingJoin(lefts.toDF("id", "sh"),
        rights.toDF("id", "sh"), maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = (for {
      (la, ls) <- lefts; (rb, rs) <- rights
      d = java.lang.Long.bitCount(ls ^ rs) if d <= 3
    } yield (la, rb) -> d.toLong).toMap
    assert(got == want && want.keySet == Set((1L, 10L), (1L, 11L), (2L, 10L)))
    // no self/ordering semantics across tables: equal hashes on both
    // sides pair in the (left, right) direction only
    assert(got.contains((1L, 10L)) && !got.contains((10L, 1L)))
    intercept[IllegalArgumentException] {
      Dedup.hammingJoin(lefts.toDF("id", "sh"), rights.toDF("id", "sh"),
        maxHamming = 4)
    }
  }

  test("hammingPrefilter composed with the join is an identity, in every guard regime") {
    import spark.implicits._
    // three regimes: a micro probe (filter applies and prunes), a probe
    // whose chunk values cover most of the 16-bit space (the
    // selectivity guard skips — identity by returning `right` whole),
    // and an empty probe (empty result). In each, hammingJoin over the
    // prefiltered stored side must equal hammingJoin over the full
    // stored side — the prefilter is an optimization, never a semantic.
    val rnd = new scala.util.Random(7)
    val stored = (0 until 4000).map(i =>
      (i.toLong, rnd.nextLong()))
    val storedDf = graft.ScratchCache.persist(stored.toDF("id", "sh"))
    def joined(l: Seq[(Long, Long)], r: org.apache.spark.sql.DataFrame) =
      Dedup.hammingJoin(l.toDF("id", "sh"), r, maxHamming = 3)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // micro probe: 20 sketches sampled from stored (Hamming 0 planted)
    val micro = (0 until 20).map(j => (10000L + j, stored(j * 7)._2))
    val microPre = Dedup.hammingPrefilter(
      micro.map(_._2).toArray, storedDf, chunks = 4)
    assert(microPre.count() < 4000) // it actually prunes
    assert(joined(micro, microPre) == joined(micro, storedDf))
    // saturating probe: uniform randoms at ~half the chunk space — the
    // expected-keep guard must skip (identity frame, zero predicates)
    val big = (0 until 40000).map(j => (20000L + j, rnd.nextLong()))
    val bigPre = Dedup.hammingPrefilter(
      big.map(_._2).toArray, storedDf, chunks = 4)
    assert(bigPre eq storedDf) // the guard returned `right` itself
    // empty probe: empty stored side, so the join is empty
    assert(Dedup.hammingPrefilter(Array.emptyLongArray, storedDf, 4)
      .count() == 0)
    graft.ScratchCache.releaseAll(spark)
  }

  test("video scenes: cuts surface at their frame index; first frame never a boundary") {
    import spark.implicits._
    val kA = 0x1234567890abL
    val kB = kA ^ 0x0000ffffff000000L // 24 bits away: a hard cut
    val kC = kA ^ 3L                  // 2 bits: in-shot jitter
    val media = Seq(
      Multimodal.MediaRow(1L, "video",
        Multimodal.encodePathAvi(Seq(kA, kC, kB, kB, kA)), "s"),
      Multimodal.MediaRow(2L, "video",
        Multimodal.encodePathAvi(Seq(kB, kB, kB)), "s"), // single shot
      Multimodal.MediaRow(3L, "video", Array.emptyByteArray, "s")).toDS()
    val got = Multimodal.videoScenes(Multimodal.videoDHash(media),
        minHamming = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // boundaries: frame 2 (kC→kB: 24±2 bits) and frame 4 (kB→kA: 24);
    // frame 1's 2-bit jitter stays below threshold; clip 2 has none
    assert(got.keySet == Set((1L, 2), (1L, 4)))
    assert(got((1L, 4)) == 24L)
    assert(got((1L, 2)) == java.lang.Long.bitCount(kC ^ kB).toLong)
  }

  test("avi audio demux: interleaved chunks reassemble; the audio family composes") {
    import spark.implicits._
    val key = 0x4b1d5eedfacadeL
    val pcm = Multimodal.stepPcm(Seq(key)) // 260 frames = 520 bytes
    val chunks = pcm.grouped(130).toIndexedSeq
    val avi = Multimodal.encodeSolidAvi(4, 2, 2, 10, 1, 2, 3,
      audioFirst = true, audioChunks = chunks)
    def patched(off: Int, v: Byte): Array[Byte] = {
      val b = avi.clone(); b(off) = v; b
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "video", avi, "s"),
      Multimodal.MediaRow(2L, "video",
        Multimodal.encodeSolidAvi(4, 2, 2, 10, 1, 2, 3), "s"), // no auds
      Multimodal.MediaRow(3L, "video", avi.dropRight(5), "s"),
      // auds strf wFormatTag @172 (layout: 224-byte fixed header with
      // audio-first strl at 100) — a compressed codec must route
      Multimodal.MediaRow(4L, "video", patched(172, 2), "s"),
      // wBitsPerSample @186
      Multimodal.MediaRow(5L, "video", patched(186, 8), "s"),
      Multimodal.MediaRow(6L, "video", Array.emptyByteArray, "s")).toDS()
    val got = Multimodal.demuxAudio(media).collect().sortBy(_.media_id)
    assert(got(0).cause == "ok" && got(0).sample_rate.contains(8000))
    assert(got(0).channels.contains(1) && got(0).n_frames.contains(260L))
    assert(got(1).cause == "no_audio_stream")
    assert(got(2).cause == "truncated")
    assert(got(3).cause == "unsupported_codec")
    assert(got(4).cause == "unsupported_depth")
    assert(got(5).cause == "empty")
    // the demuxed track is a canonical WAV: the fast path reads it and
    // the envelope hash recovers the planted key — full composition
    val wav = got(0).wav.get
    assert(Multimodal.wav16Fast(wav).isDefined)
    val track = Seq(Multimodal.MediaRow(1L, "audio", wav, "demux")).toDS()
    val ah = Multimodal.audioDHash(track).collect()(0)
    assert(ah.cause == "ok" && ah.dhash.contains(key))
    // demuxed == the directly-encoded WAV of the same pattern, bit
    // for bit (same canonical wrapper)
    assert(java.util.Arrays.equals(wav, Multimodal.encodeStepWav(key)))
  }

  test("one container, both fingerprints: path video + step audio round-trip jointly") {
    import spark.implicits._
    val kV = 0x135792468aceL
    val kA = 0x02468ace1357L
    val avi = Multimodal.encodePathAvi(Seq(kV, kV, kV),
      audioChunks = Multimodal.stepPcm(Seq(kA)).grouped(104).toIndexedSeq)
    val media = Seq(Multimodal.MediaRow(1L, "video", avi, "s")).toDS()
    val vh = Multimodal.videoDHash(media).collect()(0)
    assert(vh.cause == "ok" && vh.clip_dhash.contains(kV))
    val da = Multimodal.demuxAudio(media).collect()(0)
    assert(da.cause == "ok" && da.n_frames.contains(260L))
    val ah = Multimodal.audioDHash(Seq(Multimodal.MediaRow(1L, "audio",
      da.wav.get, "d")).toDS()).collect()(0)
    assert(ah.dhash.contains(kA))
    // acoustic cuts via the generic detector over segment hashes
    val wavCut = Multimodal.encodeSegmentsWav(Seq(kA, kV, kV))
    val segs = Multimodal.audioSegments(
      Seq(Multimodal.MediaRow(2L, "audio", wavCut, "s")).toDS(),
      segFrames = 260)
      .select(col("media_id").as("id"), col("seg_idx").as("frame_idx"),
        col("dhash").as("sh"))
    val cuts = Multimodal.hashCuts(segs, minHamming = 16).collect()
    assert(cuts.map(r => (r.getInt(1), r.getLong(2))).toSeq ==
      Seq((1, java.lang.Long.bitCount(kA ^ kV).toLong)))
  }

  test("video keyframes: first frame of every shot, lossless thumbs, resize contract") {
    import spark.implicits._
    val kA = 0x1234567890abL
    val kB = kA ^ 0x0000ffffff000000L
    val kC = kA ^ 3L
    val media = Seq(
      Multimodal.MediaRow(1L, "video",
        Multimodal.encodePathAvi(Seq(kA, kC, kB, kB, kA)), "s"),
      // big solid frames force the fit-within resize path
      Multimodal.MediaRow(2L, "video",
        Multimodal.encodeSolidAvi(40, 20, 2, 8, 50, 100, 150), "s"),
      Multimodal.MediaRow(3L, "video", Array.emptyByteArray, "s")).toDS()
    val got = Multimodal.videoKeyframes(media, minHamming = 16,
        targetW = 10, targetH = 10).collect().groupBy(_.media_id)
    // shots of clip 1 start at frames 0 (always), 2 (kC->kB) and 4
    assert(got(1L).map(_.frame_idx).sorted.toSeq == Seq(0, 2, 4))
    // 9x8 <= 10x10: pass-through, and the PNG is lossless - the
    // thumbnail's dHash must round-trip the frame's key
    val kf0 = got(1L).find(_.frame_idx == 0).get
    assert(kf0.width.contains(9) && kf0.height.contains(8))
    val img0 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(kf0.thumb_png.get))
    var bits = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if ((img0.getRGB(x, y) & 0xff) > (img0.getRGB(x + 1, y) & 0xff))
        bits |= 1L << (y * 8 + x)
    assert(bits == kA)
    // 40x20 into 10x10: wider aspect pins width, height = 20*10/40 = 5;
    // bilinear on a solid frame preserves the color exactly
    val kf2 = got(2L).toSeq
    assert(kf2.map(_.frame_idx) == Seq(0))
    assert(kf2.head.width.contains(10) && kf2.head.height.contains(5))
    val img2 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(kf2.head.thumb_png.get))
    assert((img2.getRGB(3, 2) & 0xffffff) == ((50 << 16) | (100 << 8) | 150))
    assert(got(3L).toSeq.map(k => (k.cause, k.frame_idx)) ==
      Seq(("empty", -1)))
  }

  test("clip alignment finds the sub-clip offset, containment and tie rule") {
    import spark.implicits._
    // clip 1 = [A B C D]; clip 2 = [B C] (cut from 1); clip 3 unrelated;
    // clip 5 = [A C] (matches 1 on two DIFFERENT diagonals, 1 frame each)
    val fr = Seq(
      (1L, 0, 100L), (1L, 1, 200L), (1L, 2, 300L), (1L, 3, 400L),
      (2L, 0, 200L), (2L, 1, 300L),
      (3L, 0, 900L),
      (5L, 0, 100L), (5L, 1, 300L)).toDF("id", "frame_idx", "sh")
    val got = Multimodal.clipAlignment(fr).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got((2L, 1L)) == ((2L, 2L, 1L, 1000L))) // fully contained at +1
    assert(got((1L, 2L)) == ((4L, 2L, -1L, 500L)))
    // ambiguous alignment: equal counts on offsets 0 and 1 → smallest
    assert(got((5L, 1L)) == ((2L, 1L, 0L, 500L)))
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // near-match frames join under the banded primitive when allowed
    val fuzz = Seq((1L, 0, 200L), (4L, 0, 201L)).toDF("id", "frame_idx", "sh")
    assert(Multimodal.clipAlignment(fuzz).collect().isEmpty)
    val f1 = Multimodal.clipAlignment(fuzz, maxHamming = 1).collect()
    assert(f1.length == 2 && f1.forall(_.getLong(3) == 1L))
  }

  test("audio segments: per-segment keys round-trip; cut payloads keep complete segments") {
    import spark.implicits._
    val keys = Seq(0x111aaa222bbbL, 0x333ccc444dddL, 0x555eee666fffL)
    val segBytes = 65 * 4 * 2 // one segment of 65 windows x 4 frames
    val full = Multimodal.encodeSegmentsWav(keys)
    // cut mid third segment: the two complete segments must survive
    val cut = full.take(44 + 2 * segBytes + 100)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", full, "s"),
      Multimodal.MediaRow(2L, "audio", cut, "s"),
      Multimodal.MediaRow(3L, "audio",
        Multimodal.encodeConstWav(8000, 100, 500), "s"), // < one segment
      Multimodal.MediaRow(4L, "audio", Array.emptyByteArray, "s")).toDS()
    val got = Multimodal.audioSegments(media, segFrames = 260).collect()
      .groupBy(_.media_id)
    assert(got(1L).sortBy(_.seg_idx).map(_.dhash.get).toSeq == keys)
    assert(got(1L).forall(_.cause == "ok"))
    assert(got(2L).sortBy(_.seg_idx).map(_.dhash.get).toSeq ==
      keys.take(2))
    assert(got(3L).toSeq == Seq(
      Multimodal.AudioSegment(3L, "too_short", -1, None)))
    assert(got(4L).head.cause == "empty")
    // segment hashes feed clipAlignment: the cut clip is fully
    // contained in the full one at offset 0
    val fr = Multimodal.audioSegments(media, segFrames = 260)
      .where(col("cause") === "ok")
      .select(col("media_id").as("id"), col("seg_idx").as("frame_idx"),
        col("dhash").as("sh"))
    val align = Multimodal.clipAlignment(fr).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(align((2L, 1L)) == ((2L, 2L, 0L, 1000L)))
    assert(align((1L, 2L)) == ((3L, 2L, 0L, 666L)))
  }

  test("real audio decode: header-true format, exact RMS/peak; corrupt rows route") {
    import spark.implicits._
    val wav = Multimodal.encodeConstWav(16000, 120, 2500)
    val neg = Multimodal.encodeConstWav(8000, 77, -321)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav, "s"),
      Multimodal.MediaRow(2L, "audio", neg, "s"),
      Multimodal.MediaRow(3L, "audio", Array.fill(16)(0x55.toByte), "s"),
      Multimodal.MediaRow(4L, "audio", wav.take(50), "s"),
      Multimodal.MediaRow(5L, "audio", Array.emptyByteArray, "s")).toDS()
    val got = Multimodal.decodeAudio(media).collect().sortBy(_.media_id)
    val a = got(0)
    assert(a.cause == "ok" && a.format.contains("pcm_signed"))
    assert(a.sample_rate.contains(16000) && a.channels.contains(1) &&
      a.bits.contains(16))
    // constant amplitude: RMS and peak are EXACTLY |a| (lossless PCM)
    assert(a.n_frames.contains(120L) && a.rms.contains(2500L) &&
      a.peak.contains(2500L))
    val b = got(1)
    assert(b.cause == "ok" && b.sample_rate.contains(8000))
    assert(b.n_frames.contains(77L) && b.rms.contains(321L) &&
      b.peak.contains(321L))
    assert(got(2).cause == "no_reader" && got(2).sample_rate.isEmpty)
    // header declares 120 frames, payload carries (50−44)/2 = 3
    assert(got(3).cause == "truncated" && got(3).n_frames.contains(3L) &&
      got(3).rms.isEmpty)
    assert(got(4).cause == "empty")
    val again = Multimodal.decodeAudio(media).collect().sortBy(_.media_id)
    assert(again.toSeq == got.toSeq)
  }

  test("a lying RIFF chunk size cannot hang or crash the WAV fast path") {
    import spark.implicits._
    // RIFF/WAVE with a junk chunk declaring 0xFFFFFFF0 bytes before
    // fmt: sz.toInt wraps negative — the walk must bail to the
    // javax.sound fallback, not loop or scan backwards
    val hostile = {
      val bos = new java.io.ByteArrayOutputStream()
      def tag(s: String) = bos.write(s.getBytes("US-ASCII"))
      def le32(v: Long) = (0 until 4).foreach(i =>
        bos.write(((v >> (8 * i)) & 0xff).toInt))
      tag("RIFF"); le32(100); tag("WAVE")
      tag("junk"); le32(0xfffffff0L)
      bos.write(new Array[Byte](16))
      bos.toByteArray
    }
    assert(Multimodal.wav16Fast(hostile).isEmpty)
    // a lying fmt size gets the same treatment
    val hostileFmt = {
      val bos = new java.io.ByteArrayOutputStream()
      def tag(s: String) = bos.write(s.getBytes("US-ASCII"))
      def le32(v: Long) = (0 until 4).foreach(i =>
        bos.write(((v >> (8 * i)) & 0xff).toInt))
      tag("RIFF"); le32(100); tag("WAVE")
      tag("fmt "); le32(0x80000010L)
      bos.write(new Array[Byte](16))
      bos.toByteArray
    }
    assert(Multimodal.wav16Fast(hostileFmt).isEmpty)
    val media = Seq(Multimodal.MediaRow(1L, "audio", hostile, "s")).toDS()
    val v = Multimodal.decodeAudio(media).collect()(0)
    assert(v.cause == "no_reader" || v.cause == "decode_failed", v.cause)
  }

  test("non-WAV containers fall back to javax.sound: AIFF decodes identically") {
    import spark.implicits._
    // big-endian AIFF with the same PCM content as the canonical WAV:
    // the wav16Fast probe must decline it and the stream path must
    // produce the same features — the fast path is a pure accelerator
    def constAiff(rate: Int, n: Int, amp: Short): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, true)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        pcm(2 * i) = ((amp >> 8) & 0xff).toByte
        pcm(2 * i + 1) = (amp & 0xff).toByte
        i += 1
      }
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.AIFF, out)
      out.toByteArray
    }
    val aiff = constAiff(16000, 120, 2500)
    assert(Multimodal.wav16Fast(aiff).isEmpty)
    assert(Multimodal.wav16Fast(
      Multimodal.encodeConstWav(16000, 120, 2500)).isDefined)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", aiff, "s"),
      Multimodal.MediaRow(2L, "audio",
        Multimodal.encodeConstWav(16000, 120, 2500), "s")).toDS()
    val got = Multimodal.decodeAudio(media).collect().sortBy(_.media_id)
    assert(got(0).cause == "ok" && got(1).cause == "ok")
    assert(got(0).sample_rate == got(1).sample_rate)
    assert(got(0).n_frames == got(1).n_frames)
    assert(got(0).rms == got(1).rms && got(0).rms.contains(2500L))
    assert(got(0).peak == got(1).peak)
  }

  test("oversized audio routes to too_large from the header, undecoded") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "audio",
        Multimodal.encodeConstWav(8000, 500, 10), "s"),
      Multimodal.MediaRow(2L, "audio",
        Multimodal.encodeConstWav(8000, 100, 10), "s")).toDS()
    val got = Multimodal.decodeAudio(media, maxFrames = 200L)
      .collect().sortBy(_.media_id)
    assert(got(0).cause == "too_large" && got(0).sample_rate.contains(8000))
    assert(got(0).rms.isEmpty && got(0).n_frames.isEmpty)
    assert(got(1).cause == "ok" && got(1).n_frames.contains(100L))
  }

  test("pixel checksum fingerprints content across container formats") {
    import spark.implicits._
    // the same pixels PNG- and BMP-encoded: payload hashes differ, the
    // decoded pixel_crc must not (that is what makes it a content
    // fingerprint rather than a byte fingerprint)
    val img = solidImage(12, 7, 0x3366cc)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", encode(img, "png"), "s"),
      Multimodal.MediaRow(2L, "image", encode(img, "bmp"), "s")).toDS()
    val got = Multimodal.decodeImages(media).collect().sortBy(_.media_id)
    assert(got.forall(_.cause == "ok"))
    assert(got(0).format.contains("png") && got(1).format.contains("bmp"))
    assert(got(0).pixel_crc == got(1).pixel_crc)
    assert(got(0).mean_rgb_milli == got(1).mean_rgb_milli)
  }

  test("audio dhash: step fixture round-trips keys; gain-invariant; corrupt rows route") {
    import spark.implicits._
    val k = 0x6a5b4c3d2e1f007L
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", Multimodal.encodeStepWav(k), "s"),
      // uniform 2x gain: every window sum doubles, comparisons hold
      Multimodal.MediaRow(2L, "audio",
        Multimodal.encodeStepWav(k, base = 4000, step = 32), "s"),
      // 32 frames < 65 windows: no envelope exists
      Multimodal.MediaRow(3L, "audio",
        Multimodal.encodeConstWav(8000, 32, 500), "s"),
      // header declares 260 frames, payload cut mid-data
      Multimodal.MediaRow(4L, "audio",
        Multimodal.encodeStepWav(k).dropRight(64), "s"),
      Multimodal.MediaRow(5L, "audio", Array.fill(16)(0x55.toByte), "s"),
      Multimodal.MediaRow(6L, "audio", Array.emptyByteArray, "s")).toDS()
    val got = Multimodal.audioDHash(media).collect().sortBy(_.media_id)
    assert(got(0).cause == "ok" && got(0).dhash.contains(k))
    assert(got(0).n_frames.contains(260L) && got(0).window_frames.contains(4L))
    assert(got(1).dhash.contains(k))
    assert(got(2).cause == "too_short" && got(2).dhash.isEmpty)
    assert(got(3).cause == "truncated" && got(3).dhash.isEmpty)
    assert(got(4).cause == "no_reader")
    assert(got(5).cause == "empty")
  }

  test("audio dhash: silence hashes flat; bits/windowing are parameterized") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "audio",
        Multimodal.encodeConstWav(8000, 130, 700), "s")).toDS()
    // constant amplitude: every window sum equal, strict > never fires
    val flat = Multimodal.audioDHash(media).collect()(0)
    assert(flat.cause == "ok" && flat.dhash.contains(0L))
    assert(flat.window_frames.contains(2L)) // 130 / 65
    // a 16-bit hash over the same clip: 17 windows of 7 frames
    val k16 = 0x9a3cL
    val m16 = Seq(Multimodal.MediaRow(2L, "audio",
      Multimodal.encodeStepWav(k16, framesPerWindow = 7, bits = 16), "s"))
      .toDS()
    val h16 = Multimodal.audioDHash(m16, bits = 16).collect()(0)
    assert(h16.dhash.contains(k16) && h16.window_frames.contains(7L))
  }

  test("real video decode: container-true header facts, exact raster features; corrupt rows route") {
    import spark.implicits._
    val avi = Multimodal.encodeSolidAvi(10, 6, 5, 12, 20, 40, 60)
    val media = Seq(
      Multimodal.MediaRow(1L, "video", avi, "s"),
      Multimodal.MediaRow(2L, "video", Array.fill(16)(0x55.toByte), "s"),
      Multimodal.MediaRow(3L, "video",
        Multimodal.encodeSolidAvi(4, 2, 4, 10, 9, 9, 9).take(264), "s"),
      Multimodal.MediaRow(4L, "video", Array.emptyByteArray, "s")).toDS()
    val got = Multimodal.decodeVideo(media).collect().sortBy(_.media_id)
    val v = got(0)
    assert(v.cause == "ok" && v.codec.contains("raw"))
    assert(v.width.contains(10) && v.height.contains(6))
    assert(v.n_frames.contains(5L) && v.declared_frames.contains(5L))
    assert(v.fps_milli.contains(12000L))
    // 5 frames × ⌊1000000/12⌋µs = 416665µs → 416ms (integer header math)
    assert(v.duration_ms.contains(416L))
    assert(v.sampled_frames.contains(5))
    // raw BI_RGB is lossless: solid (20,40,60) means exactly (Σrgb)/3
    assert(v.mean_rgb_milli.contains((20L + 40L + 60L) * 1000 / 3))
    assert(v.pixel_crc.isDefined)
    assert(got(1).cause == "no_reader" && got(1).width.isEmpty)
    // header declares 4 frames; the cut leaves 1 complete chunk
    val t = got(2)
    assert(t.cause == "truncated" && t.n_frames.contains(1L) &&
      t.declared_frames.contains(4L) && t.mean_rgb_milli.isEmpty)
    assert(got(3).cause == "empty")
    val again = Multimodal.decodeVideo(media).collect().sortBy(_.media_id)
    assert(again.toSeq == got.toSeq)
  }

  test("mjpeg video frames decode via imageio") {
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1L, "video",
      Multimodal.encodeSolidAvi(16, 8, 3, 10, 128, 128, 128, "mjpeg"), "s"))
      .toDS()
    val got = Multimodal.decodeVideo(media).collect()
    val v = got(0)
    assert(v.cause == "ok" && v.codec.contains("mjpeg"))
    assert(v.width.contains(16) && v.height.contains(8))
    assert(v.n_frames.contains(3L) && v.sampled_frames.contains(3))
    // JPEG is lossy: solid gray decodes NEAR gray, not exactly
    assert(math.abs(v.mean_rgb_milli.get - 128000L) < 4000L)
    assert(v.pixel_crc.isDefined)
  }

  test("unsupported video codecs route with header facts intact") {
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1L, "video",
      Multimodal.encodeSolidAvi(6, 4, 2, 8, 1, 2, 3, "xvid"), "s")).toDS()
    val v = Multimodal.decodeVideo(media).collect()(0)
    assert(v.cause == "unsupported_codec" && v.codec.contains("xvid"))
    assert(v.width.contains(6) && v.height.contains(4))
    assert(v.declared_frames.contains(2L) && v.fps_milli.contains(8000L))
    assert(v.n_frames.isEmpty && v.mean_rgb_milli.isEmpty)
  }

  test("a cut trailing index or a short foreign strh cannot hide intact frames") {
    import spark.implicits._
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // (a) a trailing idx1 index declaring 100 bytes while the payload
    // carries 4: the HEADER walk flags truncation, but every frame
    // chunk inside movi is intact — they must still count
    val s0 = Multimodal.encodeSolidAvi(10, 6, 5, 12, 20, 40, 60)
    val cutIdx = s0 ++ "idx1".getBytes("US-ASCII") ++ le32(100) ++
      Array[Byte](1, 2, 3, 4)
    // (b) an audio-first AVI whose audio strh is nonstandard-SHORT
    // (32 < 36 bytes): stream numbering must count it anyway, or the
    // vids stream keeps index 0 and its "01dc" frames are invisible.
    // Patch the fixture: drop the strh's last 24 bytes and fix every
    // enclosing size (RIFF@4, hdrl LIST@16, auds strl LIST@92, strh@104)
    val s1 = Multimodal.encodeSolidAvi(10, 6, 5, 12, 20, 40, 60,
      audioFirst = true)
    val shortStrh = {
      val b = s1.slice(0, 140) ++ s1.slice(164, s1.length)
      def shrink(off: Int): Unit = {
        val v = (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
          ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
        le32(v - 24).copyToArray(b, off)
      }
      shrink(4); shrink(16); shrink(92); shrink(104)
      b
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "video", cutIdx, "s"),
      Multimodal.MediaRow(2L, "video", shortStrh, "s")).toDS()
    val got = Multimodal.decodeVideo(media).collect().sortBy(_.media_id)
    assert(got(0).cause == "truncated", got(0).cause)
    assert(got(0).n_frames.contains(5L), got(0).n_frames)
    assert(got(1).cause == "ok", got(1).cause)
    assert(got(1).n_frames.contains(5L) && got(1).sampled_frames.contains(5))
  }

  test("video dhash: path frames round-trip keys; strict majority fingerprints the clip") {
    import spark.implicits._
    val k = 0x123456789abcdL
    val noise = 0x8040201008040201L
    val k2 = k ^ noise
    val media = Seq(
      // 2-of-3 majority: the divergent middle frame cannot move a bit
      Multimodal.MediaRow(1L, "video",
        Multimodal.encodePathAvi(Seq(k, k2, k)), "s"),
      // even split: only bits BOTH frames agree on survive (strict >)
      Multimodal.MediaRow(2L, "video",
        Multimodal.encodePathAvi(Seq(k, k2)), "s"),
      Multimodal.MediaRow(3L, "video", Array.emptyByteArray, "s"),
      Multimodal.MediaRow(4L, "video",
        Multimodal.encodeSolidAvi(6, 4, 2, 8, 1, 2, 3, "xvid"), "s"))
      .toDS()
    val got = Multimodal.videoDHash(media).collect().sortBy(_.media_id)
    assert(got(0).cause == "ok" && got(0).n_frames.contains(3L))
    assert(got(0).frame_dhash.contains(Seq(k, k2, k)))
    assert(got(0).clip_dhash.contains(k))
    assert(got(1).frame_dhash.contains(Seq(k, k2)))
    assert(got(1).clip_dhash.contains(k & k2))
    assert(got(2).cause == "empty" && got(2).clip_dhash.isEmpty)
    assert(got(3).cause == "unsupported_codec" && got(3).clip_dhash.isEmpty)
  }

  test("video frame dhash equals the image dhash of the same raster") {
    import spark.implicits._
    val k = 0x7e55aa00ff11223L
    // one path frame as a clip vs the same construction as a PNG: the
    // shared dhashOfImage core must see identical rasters either way
    val clip = Seq(Multimodal.MediaRow(1L, "video",
      Multimodal.encodePathAvi(Seq(k)), "s")).toDS()
    val png = Seq(Multimodal.MediaRow(1L, "image",
      Multimodal.encodePathPng(k), "s")).toDS()
    val vh = Multimodal.videoDHash(clip).collect()(0)
    val ih = Multimodal.imageDHash(png).collect()(0)
    assert(vh.clip_dhash == ih.dhash && vh.clip_dhash.contains(k))
  }

  test("video dhash: mjpeg solid frames hash flat; truncation routes; stride samples") {
    import spark.implicits._
    val media = Seq(
      // solid frames have no luma gradient anywhere — dhash 0 even
      // through the lossy JPEG round trip
      Multimodal.MediaRow(1L, "video",
        Multimodal.encodeSolidAvi(16, 8, 3, 10, 90, 90, 90, "mjpeg"), "s"),
      Multimodal.MediaRow(2L, "video",
        Multimodal.encodePathAvi(Seq(1L, 2L, 3L, 4L)).dropRight(10), "s"),
      // stride 1 default elsewhere; here 4 frames, maxSampledFrames 2
      Multimodal.MediaRow(3L, "video",
        Multimodal.encodePathAvi(Seq(5L, 6L, 7L, 8L)), "s")).toDS()
    val a = Multimodal.videoDHash(media.filter(_.media_id == 1L)).collect()(0)
    assert(a.cause == "ok" && a.clip_dhash.contains(0L))
    val b = Multimodal.videoDHash(media.filter(_.media_id == 2L)).collect()(0)
    assert(b.cause == "truncated" && b.clip_dhash.isEmpty)
    val c = Multimodal.videoDHash(media.filter(_.media_id == 3L),
      stride = 2, maxSampledFrames = 2).collect()(0)
    assert(c.cause == "ok" && c.n_frames.contains(4L))
    assert(c.frame_dhash.contains(Seq(5L, 7L)))
  }

  test("video stream muxed after audio decodes via its own chunk prefix (01dc)") {
    import spark.implicits._
    // same visual content, stream 0 vs stream 1: identical features
    val s0 = Multimodal.encodeSolidAvi(10, 6, 5, 12, 20, 40, 60)
    val s1 = Multimodal.encodeSolidAvi(10, 6, 5, 12, 20, 40, 60,
      audioFirst = true)
    val media = Seq(
      Multimodal.MediaRow(1L, "video", s0, "s"),
      Multimodal.MediaRow(2L, "video", s1, "s")).toDS()
    val got = Multimodal.decodeVideo(media).collect().sortBy(_.media_id)
    assert(got(1).cause == "ok", got(1).cause)
    assert(got(1).n_frames.contains(5L) && got(1).sampled_frames.contains(5))
    assert(got(1).pixel_crc == got(0).pixel_crc)
    assert(got(1).mean_rgb_milli == got(0).mean_rgb_milli)
  }

  test("top-down (negative biHeight) raw frames fingerprint identically to bottom-up") {
    import spark.implicits._
    // the stripe makes orientation observable: a reader that ignored the
    // biHeight sign would accumulate the striped row at the BOTTOM and
    // produce a different crc (mean is orientation-blind by design)
    val up = Multimodal.encodeSolidAvi(8, 4, 2, 10, 20, 40, 60,
      topStripe = Some((200, 10, 5)))
    val down = Multimodal.encodeSolidAvi(8, 4, 2, 10, 20, 40, 60,
      topDown = true, topStripe = Some((200, 10, 5)))
    val media = Seq(
      Multimodal.MediaRow(1L, "video", up, "s"),
      Multimodal.MediaRow(2L, "video", down, "s")).toDS()
    val got = Multimodal.decodeVideo(media).collect().sortBy(_.media_id)
    assert(got(0).cause == "ok" && got(1).cause == "ok")
    assert(got(0).pixel_crc.isDefined)
    assert(got(1).pixel_crc == got(0).pixel_crc)
    assert(got(1).mean_rgb_milli == got(0).mean_rgb_milli)
  }

  test("raw 32bpp BGRX decodes to the same features as 24bpp; other depths route") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "video",
        Multimodal.encodeSolidAvi(6, 4, 2, 8, 10, 20, 30), "s"),
      Multimodal.MediaRow(2L, "video",
        Multimodal.encodeSolidAvi(6, 4, 2, 8, 10, 20, 30, bitCount = 32),
        "s"),
      // 8bpp paletted: a palette-less raster pass would be wrong — route
      Multimodal.MediaRow(3L, "video",
        Multimodal.encodeSolidAvi(6, 4, 2, 8, 1, 2, 3, bitCount = 8), "s"))
      .toDS()
    val got = Multimodal.decodeVideo(media).collect().sortBy(_.media_id)
    assert(got(1).cause == "ok" && got(1).n_frames.contains(2L))
    // the X byte is padding: the decoded ARGB stream — and so the crc
    // and mean — must be identical to the 24bpp twin
    assert(got(1).pixel_crc == got(0).pixel_crc)
    assert(got(1).mean_rgb_milli == got(0).mean_rgb_milli)
    val v = got(2)
    assert(v.cause == "unsupported_depth" && v.codec.contains("raw"))
    assert(v.width.contains(6) && v.height.contains(4))
    assert(v.declared_frames.contains(2L))
    assert(v.n_frames.isEmpty && v.mean_rgb_milli.isEmpty)
  }

  test("unknown-length audio streams under the frame cap instead of bypassing it") {
    import spark.implicits._
    // AU container with the 0xffffffff unknown-data-size sentinel: the
    // reader reports frame length NOT_SPECIFIED, so the header gate
    // cannot fire — the sample pass itself must enforce maxFrames
    def au(nFrames: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Unit = {
        out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
        out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
      }
      out.write(".snd".getBytes("US-ASCII"))
      be32(24); be32(0xffffffffL); be32(3); be32(8000); be32(1)
      (0 until nFrames).foreach { _ => out.write(0x03); out.write(0xe8) } // 1000
      out.toByteArray
    }
    val media = Seq(Multimodal.MediaRow(1L, "audio", au(100), "s")).toDS()
    val ok = Multimodal.decodeAudio(media).collect()(0)
    assert(ok.cause == "ok", ok.cause)
    assert(ok.n_frames.contains(100L))
    assert(ok.rms.contains(1000L) && ok.peak.contains(1000L))
    val capped = Multimodal.decodeAudio(media, maxFrames = 10L).collect()(0)
    assert(capped.cause == "too_large")
  }

  test("avi without a vids stream routes to no_video_stream") {
    import spark.implicits._
    val avi = Multimodal.encodeSolidAvi(4, 2, 1, 10, 1, 2, 3)
    // rewrite the stream header's fccType: the container stays well-formed
    val idx = avi.toSeq.indexOfSlice("vids".getBytes("US-ASCII").toSeq)
    assert(idx > 0)
    "auds".getBytes("US-ASCII").copyToArray(avi, idx)
    val media = Seq(Multimodal.MediaRow(1L, "video", avi, "s")).toDS()
    assert(Multimodal.decodeVideo(media).collect()(0).cause == "no_video_stream")
  }

  test("oversized video routes to too_large from the header, undecoded") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "video",
        Multimodal.encodeSolidAvi(40, 30, 2, 10, 1, 2, 3), "s"),
      Multimodal.MediaRow(2L, "video",
        Multimodal.encodeSolidAvi(8, 8, 2, 10, 1, 2, 3), "s")).toDS()
    val got = Multimodal.decodeVideo(media, maxPixels = 1000L)
      .collect().sortBy(_.media_id)
    assert(got(0).cause == "too_large")
    assert(got(0).width.contains(40) && got(0).height.contains(30))
    assert(got(0).mean_rgb_milli.isEmpty && got(0).sampled_frames.isEmpty)
    assert(got(1).cause == "ok")
  }

  test("video frame sampling: stride and cap bound the raster work") {
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(1L, "video",
      Multimodal.encodeSolidAvi(4, 4, 10, 10, 7, 7, 7), "s")).toDS()
    // every 3rd frame (0,3,6,9) capped at 2 decodes: the clip still
    // reports all 10 container frames
    val v = Multimodal.decodeVideo(media, stride = 3, maxSampledFrames = 2)
      .collect()(0)
    assert(v.cause == "ok" && v.n_frames.contains(10L))
    assert(v.sampled_frames.contains(2))
    assert(v.mean_rgb_milli.contains(7000L))
  }
}

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("pii columns count and redact emails and phones") {
    val df = Seq(
      (1L, "write to a.smith+x@mail.example.org or call +1 555 0199 now"),
      (2L, "no contact info here"),
      (3L, "two mails: a@b.io c@d.co and +1 555 0000")).toDF("doc_id", "text")
    val cols = TextAnalysis.piiColumns(col("text"))
    val out = df.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, 1L, 1L), (2L, 0L, 0L), (3L, 2L, 1L)))
    // redaction removes every match: re-scanning the redacted text of doc 1
    val redacted = df.where(col("doc_id") === 1)
      .select(regexp_replace(regexp_replace(col("text"),
        TextAnalysis.emailRe, "[EMAIL]"), TextAnalysis.phoneRe, "[PHONE]"))
      .as[String].head()
    assert(redacted == "write to [EMAIL] or call [PHONE] now")
  }

  test("ngram repetition flags repeated phrases") {
    val df = Seq(
      (1L, "a b c a b c a b c"), // 7 3-grams, 3 distinct
      (2L, "all words differ here now"), // 3 3-grams, all distinct
      (3L, "tiny doc")).toDF("doc_id", "text") // < 3 tokens
    val cols = TextAnalysis.ngramRepetition(col("text"))
    val out = df.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 7L, 3L, 571L), (2L, 3L, 3L, 0L), (3L, 0L, 0L, 0L)))
  }

  test("decontamination flags corpus docs overlapping the benchmark") {
    import graft.operators.text.Decontamination
    val corpus = Seq(
      (10L, "alpha beta gamma delta"), // shares "alpha beta gamma" with bench 1
      (11L, "nothing in common at all"),
      (12L, "omega alpha beta gamma")).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "alpha beta gamma epsilon"),
      (2L, "separate benchmark text entirely")).toDF("doc_id", "text")
    val out = Decontamination.overlap(corpus, bench, "doc_id", "text", n = 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((10L, 1L, 1L), (12L, 1L, 1L)))
  }

  test("tfidf top-k ranks distinctive terms above common ones") {
    val df = Seq(
      (1L, "apple apple apple shared"),
      (2L, "banana banana shared shared"),
      (3L, "cherry shared")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTop(df, "doc_id", "text", k = 1)
      .select("doc_id", "tok", "tf", "df_t", "rnk")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // the doc-unique term always outscores "shared" (df_t = 3)
    assert(out == Seq((1L, "apple", 3L, 1L, 1L),
      (2L, "banana", 2L, 1L, 1L), (3L, "cherry", 1L, 1L, 1L)))
  }

  test("shuffle shards give a stable total order that re-salts") {
    import graft.operators.similarity.Sampling
    val df = (0L until 300L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val a = Sampling.shuffleShards(df, col("doc_id"), salt = "e1", hexChars = 1)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    // (shard, pos) is a bijection onto the corpus: every slot distinct,
    // pos dense 1..n(shard) within each shard
    assert(a.map(r => (r._2, r._3)).distinct.length == 300)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq) }
    assert(a.forall(r => r._2 >= 0 && r._2 < 16))
    // determinism: same salt reproduces, a new salt reorders
    val b = Sampling.shuffleShards(df, col("doc_id"), salt = "e1", hexChars = 1)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    val c = Sampling.shuffleShards(df, col("doc_id"), salt = "e2", hexChars = 1)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(a.sortBy(_._1).toSeq != c.sortBy(_._1).toSeq)
  }

  test("mixture copies up- and down-sample by stratum weight") {
    import graft.operators.similarity.Sampling
    val df = (0L until 3000L).map(i =>
      (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("id", "src")
    val out = df.select(col("src"),
        Sampling.mixtureCopies(col("id"), col("src"),
          Map("a" -> 500000L, "b" -> 2300000L), salt = "t").as("copies"))
      .groupBy("src").agg(sum("copies").as("n"), count(lit(1)).as("n_in"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // a: ~0.5×1000, b: 2×1000 guaranteed + ~0.3×1000, c: exactly 1000
    assert(out("c")._1 == 1000L)
    assert(out("a")._1 > 350 && out("a")._1 < 650, s"a=${out("a")}")
    assert(out("b")._1 > 2150 && out("b")._1 < 2450, s"b=${out("b")}")
    // deterministic: same salt, same counts
    val again = df.select(Sampling.mixtureCopies(col("id"), col("src"),
        Map("a" -> 500000L, "b" -> 2300000L), salt = "t").as("copies"))
      .agg(sum("copies")).as[Long].head()
    assert(again == out.values.map(_._1).sum)
  }

  test("temperature shares flatten the head and boost the tail") {
    import graft.operators.similarity.Sampling
    // sizes 10000 / 100: proportional shares would be 99% / 1%;
    // τ=2 gives √-weights 100 / 10 → ~90.9% / ~9.1%
    val df = ((0L until 10000L).map(i => (i, "big")) ++
      (0L until 100L).map(i => (10000L + i, "small"))).toDF("id", "src")
    val out = Sampling.temperatureShares(df, col("src"), budget = 1100L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("big") == (("big", 10000L, 100L, 909090L, 1000L)))
    assert(out("small") == (("small", 100L, 10L, 90909L, 100L)))
    // tail boost: small's share is ~10× its proportional 1%
    assert(out("small")._4 > 80000L)
  }

  test("classBalance replicates every label to exact parity") {
    import graft.operators.similarity.Sampling
    // labels: a×7, b×3, c×1 → every label must total exactly 7
    val df = ((1L to 7L).map(i => (i, "a")) ++
      (8L to 10L).map(i => (i, "b")) ++ Seq((11L, "c")))
      .toDF("id", "lab")
    val out = Sampling.classBalance(df, col("lab"), col("id"))
    val byLab = out.groupBy("lab").count().as[(String, Long)].collect().toMap
    assert(byLab === Map("a" -> 7L, "b" -> 7L, "c" -> 7L))
    // majority label rows appear exactly once; minority copy indexes
    // are dense from 1
    assert(out.where($"lab" === "a").groupBy("id").count()
      .select(max("count")).as[Long].head() === 1L)
    assert(out.where($"lab" === "c").select(max("copy_idx")).as[Long]
      .head() === 7L)
    // deterministic: same input → same replicated multiset
    val again = Sampling.classBalance(df, col("lab"), col("id"))
      .groupBy("lab", "id").count().orderBy("lab", "id").collect().toSeq
    val first = out.groupBy("lab", "id").count().orderBy("lab", "id")
      .collect().toSeq
    assert(again === first)
  }

  test("sessionize splits user streams at inactivity gaps") {
    import graft.operators.session.Sessionize
    val base = 1700000000L
    val rows = Seq(
      // user 1: events at +0, +10, +4000 (gap>3600 → new session), +4005
      (1L, base, 1L), (1L, base + 10, 2L), (1L, base + 4000, 3L),
      (1L, base + 4005, 4L),
      // user 2: single event
      (2L, base + 100, 5L))
    val df = rows.toDF("user_id", "es", "event_id")
      .select(col("user_id"), timestamp_seconds(col("es")).as("ts"), col("event_id"))
    val out = Sessionize.sessionStats(df, "user_id", "ts", "event_id", 3600)
      .select("user_id", "session_idx", "n_events", "start_s", "duration_s")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq(
      (1L, 1L, 2L, base, 10L),
      (1L, 2L, 2L, base + 4000, 5L),
      (2L, 1L, 1L, base + 100, 0L)))
  }

  test("sessionize invariants hold on a randomized stream") {
    import graft.operators.session.Sessionize
    val rnd = new scala.util.Random(13)
    val base = 1700000000L
    // bursty arrivals: mostly short gaps with occasional session breaks
    val rows = (0 until 40).flatMap { u =>
      var t = base + rnd.nextInt(1000)
      (0 until 30).map { i =>
        t += (if (rnd.nextInt(5) == 0) 4000 + rnd.nextInt(4000)
              else rnd.nextInt(300))
        (u.toLong, t, (u * 1000 + i).toLong)
      }
    }
    val df = rows.toDF("user_id", "es", "event_id")
      .select(col("user_id"), timestamp_seconds(col("es")).as("ts"), col("event_id"))
    val stats = Sessionize.sessionStats(df, "user_id", "ts", "event_id", 3600)
      .select("user_id", "session_idx", "n_events", "start_s", "end_s")
      .as[(Long, Long, Long, Long, Long)].collect()
    // conservation: every event lands in exactly one session
    assert(stats.map(_._3).sum == rows.length)
    stats.groupBy(_._1).foreach { case (u, ss) =>
      val ordered = ss.sortBy(_._2)
      // indexes dense from 1, spans ordered and separated by > gap
      assert(ordered.map(_._2).toSeq == (1L to ordered.length).toSeq)
      ordered.foreach { s => assert(s._4 <= s._5) }
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(b._4 - a._5 > 3600, s"user $u overlap")
        case _ =>
      }
    }
  }

  test("surprisal charges rare tokens more bits than common ones") {
    // corpus: "the" appears 8x, "zyx" once; total 9 tokens →
    // floor(log2(9))=3; bits(the)=3-3=0, bits(zyx)=3-0=3
    val df = Seq(
      (1L, "the the the the"), (2L, "the the the the"), (3L, "zyx"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.surprisal(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("sum_bits"),
          r.getAs[Long]("mean_bits_e3"))).toMap
    assert(out(1L) == ((4L, 0L, 0L)))
    assert(out(3L) == ((1L, 3L, 3000L)))
  }

  test("normalize_text composes, casefolds, collapses and trims") {
    import graft.expressions.Sketches
    val df = Seq(
      (1L, "  Hello \t\n  World  "),
      (2L, "hello world"),
      (3L, "Café time")) // e + combining acute → NFC é
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"), Sketches.normalizeText(col("text")))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "hello world")
    assert(out(1L) == out(2L)) // spacing/case noise normalizes away
    assert(out(3L) == "café time") // composed é, lowercased
  }

  test("dup span finds a lifted passage inside an original document") {
    val passage = (1 to 20).map(i => s"lifted$i").mkString(" ")
    def fresh(tag: String) = (1 to 30).map(i => s"${tag}w$i").mkString(" ")
    val df = Seq(
      (1L, fresh("a") + " " + passage + " " + fresh("b")), // passage embedded
      (2L, passage),                                        // the source
      (3L, fresh("c")))                                     // clean
      .toDF("doc_id", "text")
    val out = TextAnalysis.dupSpanStats(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("max_run"), r.getAs[Long]("dup_span_ppm"))).toMap
    // the 20-token passage yields 13 consecutive duplicated 8-gram starts
    assert(out(1L)._1 == 13L, s"got ${out(1L)}")
    assert(out(1L)._2 == (20L * 1000000L) / 80L) // span 20 of 80 tokens
    assert(out(2L)._1 == 13L)
    assert(out(3L) == ((0L, 0L)))
  }

  test("bigram surprisal charges rare transitions, not rare words") {
    // "a b" transition appears 4x from context "a" (cc=4, cp=4 → 0 bits);
    // doc 3's "a z" is a 1-of-4 transition from "a" → 2 bits
    val df = Seq(
      (1L, "a b a b a b"), (2L, "a b"), (3L, "a z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_trans"), r.getAs[Long]("sum_bits"))).toMap
    // doc1: transitions ab,ba,ab,ba,ab → ab: cc(a)=6? contexts: a→{b,b,b,z}
    // corpus transitions: d1: ab ba ab ba ab; d2: ab; d3: az
    // cc(a)=5 (a→b 4x, a→z 1x), cc(b)=2 (b→a 2x)
    // bits(ab)=floor(log2 5)-floor(log2 4)=2-2=0; bits(ba)=1-1=0; bits(az)=2-0=2
    assert(out(1L) == ((5L, 0L)))
    assert(out(2L) == ((1L, 0L)))
    assert(out(3L) == ((1L, 2L)))
    // single-token and empty docs produce no transitions (no row)
    val short = TextAnalysis.bigramSurprisal(
      Seq((9L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
    assert(short.count() == 0)
  }

  test("oov rate flags tokens outside the truncated vocabulary") {
    // vocab size 2 → {"a" (4x), "b" (3x)}; "zz"/"qq" are OOV
    val df = Seq(
      (1L, "a b a b"), (2L, "a b a zz"), (3L, "zz qq"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(df, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("oov_toks"),
          r.getAs[Long]("oov_ppm"))).toMap
    assert(out(1L) == ((4L, 0L, 0L)))
    assert(out(2L) == ((4L, 1L, 250000L)))
    assert(out(3L) == ((2L, 2L, 1000000L)))
  }

  test("novelty marks first-seen grams and repeats as stale") {
    val df = Seq(
      (1L, "a b c d"),   // grams {a b c, b c d} — all first here
      (2L, "a b c d"),   // both grams already seen in doc 1
      (3L, "a b c x"))   // "a b c" stale, "b c x" novel
      .toDF("doc_id", "text")
    val out = TextAnalysis.novelty(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("grams"), r.getAs[Long]("novel_grams"),
          r.getAs[Long]("novelty_ppm"))).toMap
    assert(out(1L) == ((2L, 2L, 1000000L)))
    assert(out(2L) == ((2L, 0L, 0L)))
    assert(out(3L) == ((2L, 1L, 500000L)))
  }

  test("source drift is zero for identical sources, large for disjoint") {
    val df = Seq(
      ("s1", "x y"), ("s2", "x y"),   // identical unigram distributions
      ("s3", "p q"))                  // disjoint vocabulary
      .toDF("source", "text")
    val out = TextAnalysis.sourceDrift(df, "source", "text").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("tv_ppm")).toMap
    // corpus: x,y 2/6 each; p,q 1/6 each
    // s1: |1/2-1/3|·2 present + (1/6)·2 absent = 2/3 → TV = 1/3
    assert(out("s1") == out("s2"))
    assert(math.abs(out("s1") - 333333L) <= 2, s"got ${out("s1")}")
    // s3: |1/2-1/6|·2 + (2/6)·2 = 4/3 → TV = 2/3
    assert(math.abs(out("s3") - 666666L) <= 2, s"got ${out("s3")}")
  }

  test("exact-substring scrub removes later copies, keeps the first") {
    val passage = "one two three four five six seven eight nine ten"
    val df = Seq(
      (1L, s"intro words here then $passage closing remarks"),
      (2L, s"different opening $passage and a different ending"),
      (3L, "wholly original content with no shared passages inside it at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.scrubDupSpans(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("removed_toks")))).toMap
    // doc 1 holds the first occurrence — untouched
    assert(out(1L)._2 == 0L, s"first occurrence must survive: ${out(1L)}")
    assert(out(1L)._1.contains(passage))
    // doc 2's copy is cut: all 10 passage tokens are covered by the
    // duplicated 8-grams; surrounding originals survive
    assert(!out(2L)._1.contains("three four five"))
    assert(out(2L)._1.startsWith("different opening"))
    assert(out(2L)._1.endsWith("and a different ending"))
    assert(out(2L)._2 == 10L, s"exactly the passage is removed: ${out(2L)}")
    assert(out(3L) == (("wholly original content with no shared passages " +
      "inside it at all", 0L)))
  }

  test("self-overlapping repeats keep only the leading tokens") {
    // 16 identical tokens: gram at pos 1 is first; positions 2..9 are
    // later copies of the SAME gram text, covering tokens 2..16
    val df = Seq((1L, Seq.fill(16)("z").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.scrubDupSpans(df, "doc_id", "text", n = 8)
      .collect().map(r => (r.getAs[String]("clean_text"),
        r.getAs[Long]("kept_toks"), r.getAs[Long]("removed_toks")))
    assert(out.head == (("z", 1L, 15L)))
  }

  test("boilerplate scrub removes hot sentences and keeps order") {
    val footer = "subscribe to our newsletter"
    val df = Seq(
      (1L, s"alpha one. $footer. beta two"),
      (2L, s"$footer. gamma three"),
      (3L, s"delta four. $footer"),
      (4L, s"epsilon five. $footer. zeta six"),
      (5L, footer), // scrubbed to nothing — must still appear
      (6L, "unique text only")).toDF("doc_id", "text")
    val out = TextAnalysis.scrubBoilerplate(df, "doc_id", "text", maxDf = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("kept_sents"),
          r.getAs[Long]("dropped_sents")))).toMap
    assert(out(1L) == (("alpha one. beta two", 2L, 1L)))
    assert(out(2L) == (("gamma three", 1L, 1L)))
    assert(out(3L) == (("delta four", 1L, 1L)))
    assert(out(4L) == (("epsilon five. zeta six", 2L, 1L)))
    assert(out(5L) == (("", 0L, 1L)))
    assert(out(6L) == (("unique text only", 1L, 0L)))
  }

  test("boilerplate df counts distinct docs, not occurrences") {
    // the sentence repeats 4× inside ONE doc (repetition) and once in two
    // others: df = 3 ≤ maxDf → kept everywhere
    val s0 = "repeated line"
    val df = Seq(
      (1L, s"$s0. $s0. $s0. $s0"),
      (2L, s"$s0. other"),
      (3L, s0)).toDF("doc_id", "text")
    val out = TextAnalysis.scrubBoilerplate(df, "doc_id", "text", maxDf = 3)
      .agg(sum("dropped_sents")).collect()(0).getLong(0)
    assert(out == 0L, "within-doc repetition must not count toward df")
  }

  test("adaptive cutoffs compute exact rank percentiles per group") {
    // group a: metrics 1..10 → p10 = value at ⌈1⌉ = 1, p90 at ⌈9⌉ = 9,
    // band [1, 9] keeps 9 of 10; group b: constant → band keeps all
    val df = ((1 to 10).map(i => ("a", i)) ++ Seq.fill(4)(("b", 7)))
      .toDF("source", "m")
    val out = TextAnalysis.adaptiveCutoffs(df, "source", "m", 10, 90)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("p_low"),
          r.getAs[Long]("p_high"), r.getAs[Long]("kept")))).toMap
    assert(out("a") == ((10L, 1L, 9L, 9L)))
    assert(out("b") == ((4L, 7L, 7L, 4L)))
  }

  test("dup ngram stats measure cross-document gram sharing") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),   // grams: abc(abg? no..) — 2 grams
      (2L, "alpha beta gamma epsilon"), // shares "alpha beta gamma" with 1
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val out = TextAnalysis.dupNgramStats(df, "doc_id", "text")
      .select("doc_id", "grams", "dup_grams", "dup_frac_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 2L, 1L, 500000L), // "alpha beta gamma" shared, "beta gamma delta" not
      (2L, 2L, 1L, 500000L),
      (3L, 2L, 0L, 0L)))
  }

  test("char trigrams stream occurrences and guard short texts") {
    val df = Seq((1L, "Abcd"), (2L, "ab"), (3L, "aaaa")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.charTrigrams(col("text")).as("g"))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, Seq("abc", "bcd")), // lowercased, positional
      (2L, Seq.empty),         // < 3 chars: no descending-sequence artifact
      (3L, Seq("aaa", "aaa")))) // multiplicity kept — occurrences, not a set
  }

  test("rare trigram ratio separates gibberish from repeated language") {
    val common = "the cat sat on the mat and the cat sat again"
    val df = Seq(
      (1L, common), (2L, common), (3L, common), // trigrams all frequent
      (4L, "qzx jvq wxk zzq pqv")).toDF("doc_id", "text") // unique junk
    val out = TextAnalysis.rareTrigramStats(df, "doc_id", "text", maxCount = 2L)
      .select("doc_id", "rare_ppm").as[(Long, Long)].collect().toMap
    assert(out(1L) == 0L && out(2L) == 0L && out(3L) == 0L)
    assert(out(4L) == 1000000L, s"junk doc should be all-rare: ${out(4L)}")
  }

  test("weighted keep tracks the weight and stays deterministic") {
    import graft.operators.similarity.Sampling
    val df = (0L until 4000L).map(i => (i, (i % 4) * 250000L + 125000L))
      .toDF("id", "w") // weights 12.5%, 37.5%, 62.5%, 87.5%
    def kept(salt: String) = df
      .where(Sampling.weightedKeep(col("id"), col("w"), salt))
      .select("id", "w").as[(Long, Long)].collect()
    val a = kept("s1")
    val rates = a.groupBy(_._2).map { case (w, rows) => w -> rows.length }
    // each stratum has 1000 rows; observed keep rate tracks w/1e6
    Seq(125000L -> 125, 375000L -> 375, 625000L -> 625, 875000L -> 875)
      .foreach { case (w, exp) =>
        val n = rates.getOrElse(w, 0)
        assert(math.abs(n - exp) < 60, s"w=$w kept $n expected ~$exp")
      }
    assert(kept("s1").sortBy(_._1).toSeq == a.sortBy(_._1).toSeq) // same salt
    assert(kept("s2").map(_._1).toSet != a.map(_._1).toSet) // epoch redraw
  }

  test("token budget keeps hash-prefix rows until the budget is spent") {
    import graft.operators.similarity.Sampling
    val df = Seq(
      (1L, "s1", 40L), (2L, "s1", 40L), (3L, "s1", 40L),
      (4L, "s2", 500L)) // one oversized doc: still kept (starts at 0)
      .toDF("doc_id", "source", "toks")
    val out = Sampling.tokenBudget(df, col("source"), col("doc_id"),
      col("toks"), budget = 100L, salt = "x")
    val kept = out.select("doc_id").as[Long].collect().toSet
    // s1: hash order is deterministic; exactly ⌈100/40⌉ = 3 starts-before-
    // budget slots → cum 40, 80, 120 → the third row STARTS at 80 < 100
    assert(kept.count(Set(1L, 2L, 3L)) == 3)
    assert(kept.contains(4L), "a stratum must keep at least one row")
    // re-salting redraws but the budget invariant holds: every kept row
    // starts below the budget
    val resalt = Sampling.tokenBudget(df, col("source"), col("doc_id"),
      col("toks"), budget = 80L, salt = "y")
      .select(col("cum_toks") - col("toks")).as[Long].collect()
    assert(resalt.forall(_ < 80L))
  }

  test("sequence packing matches a single-pass cumulative sum") {
    import graft.operators.pack.SequencePacking
    val rnd = new scala.util.Random(7)
    val docs = (0L until 1000L).map(i => (i, 1L + rnd.nextInt(900)))
    val df = docs.toDF("doc_id", "toks")
    // small shards force many shard-offset hops; result must equal the
    // naive global cumsum
    val out = SequencePacking.pack(df, "doc_id", "toks",
        windowTokens = 2048, shardSize = 16)
      .select("id", "start_tok", "window_id", "spans_boundary")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    var cum = 0L
    docs.zip(out).foreach { case ((id, toks), (oid, start, win, spans)) =>
      assert(oid == id)
      assert(start == cum, s"doc $id start")
      assert(win == start / 2048)
      assert(spans == ((start + toks - 1) / 2048 != win))
      cum += toks
    }
  }
}

class KMeansSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.similarity.KMeans

  // three well-separated directions with small jitter
  private def planted = {
    val rnd = new scala.util.Random(3)
    val axes = Seq(
      Array(1.0f, 0f, 0f, 0f), Array(0f, 1.0f, 0f, 0f), Array(0f, 0f, 1.0f, 0f))
    (0L until 90L).map { i =>
      val a = axes((i % 3).toInt)
      (i, a.map(x => x + rnd.nextFloat() * 0.05f))
    }.toDF("id", "embedding")
  }

  test("lloyd iterations recover planted clusters") {
    val (cents, assigned) = KMeans.fit(planted, k = 3, iters = 3)
    assert(cents.length == 3)
    // every planted group lands in a single cell
    val cells = assigned.select("id", "cell").as[(Long, Int)].collect()
      .groupBy(_._1 % 3).map { case (g, rows) => g -> rows.map(_._2).toSet }
    assert(cells.values.forall(_.size == 1), s"mixed cells: $cells")
    // and the three groups occupy three distinct cells
    assert(cells.values.flatten.toSet.size == 3)
  }

  test("assignment is deterministic with ties broken by cell id") {
    val df = Seq((1L, Array(1.0f, 0f))).toDF("id", "embedding")
    // two identical centroids: the lower cell id must win
    val out = KMeans.assign(df, Array(Array(1.0, 0.0), Array(1.0, 0.0)))
      .select("cell").as[Int].head()
    assert(out == 0)
  }

  test("zero-norm vectors assign deterministically to cell 0") {
    val df = Seq((1L, Array(0f, 0f)), (2L, Array(0.1f, 0.9f))).toDF("id", "embedding")
    // centroids with negative cosine to each other; an unguarded NaN
    // similarity would make the zero vector's cell arbitrary
    val cents = Array(Array(-1.0, -1.0), Array(1.0, 1.0))
    val out = KMeans.assign(df, cents)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(out(1L) == 0) // degenerate vector: similarity 0 everywhere → cell 0
    assert(out(2L) == 1) // regular vector still picks the cosine argmax
  }

  test("all-zero centroid never produces NaN-driven assignments") {
    val df = Seq((1L, Array(1.0f, 0f))).toDF("id", "embedding")
    val out = KMeans.assign(df, Array(Array(0.0, 0.0), Array(1.0, 0.0)))
      .select("cell").as[Int].head()
    assert(out == 1) // real centroid (sim 1) beats the zero centroid (sim 0)
  }
}
