package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression tests: the scale-readiness properties documented
  * in PLANS.md, asserted against the actual physical plans so a refactor
  * that silently de-optimizes (loses pruning, breaks a broadcast, drops
  * partial aggregation) fails CI instead of only showing up at scale.
  */
class PlanPropertiesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(FormattedMode)

  private def readSchemas(p: String): Seq[String] =
    p.linesIterator.filter(_.contains("ReadSchema:")).toSeq

  test("q_agg_units prunes the lineitem scan to the 5 touched columns") {
    val schemas = readSchemas(plan("q_agg_units"))
    assert(schemas.nonEmpty)
    schemas.foreach { s =>
      val cols = s.substring(s.indexOf("struct<")).count(_ == ':')
      assert(cols == 5, s"expected 5 read columns, got: $s")
    }
  }

  test("q_filter_dsl prunes the events scan through the flows projection") {
    val schemas = readSchemas(plan("q_filter_dsl"))
    assert(schemas.nonEmpty)
    schemas.foreach { s =>
      val cols = s.substring(s.indexOf("struct<")).count(_ == ':')
      assert(cols <= 4, s"expected <=4 read columns, got: $s")
    }
  }

  test("q_dedup_simhash and its portable twin persist one shingles evaluation") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    object aqe extends AdaptiveSparkPlanHelper
    for (name <- Seq("q_dedup_simhash", "q_dedup_simhash_port")) {
      // a self-join reads one persisted frame through two relations
      val cached = SparkEntry.queries(name)(spark, sf).queryExecution
        .optimizedPlan.collect { case r: InMemoryRelation => r.cacheBuilder }
        .distinct.map(_.cachedPlan)
      val shingles = cached.flatMap(aqe.flatMap(_)(_.expressions.flatMap(
        _.collect { case w: graft.expressions.WordShingles => w })))
      ScratchCache.releaseAll(spark)
      assert(cached.nonEmpty, s"$name persists no projection")
      assert(shingles.size == 1,
        s"$name evaluates word_shingles ${shingles.size} times:\n${cached.mkString("\n")}")
    }
  }

  test("console graph plans rank inside the plan, persisting nothing") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // the sankey's observed span reads the times its ranking does not,
    // so it reads its source twice (the span's pass without the weights);
    // a line's partial is planned once
    for ((name, factScans) <- Seq("q_line" -> 1, "q_line_bidir" -> 1, "q_sankey" -> 2)) {
      // the console's small posture plans without AQE, where the ranking
      // and the fold share the partial's exchange
      val qe = ConfWindow(spark, "spark.sql.adaptive.enabled" -> "false") {
        val qe = SparkEntry.queries(name)(spark, sf).queryExecution
        qe.executedPlan
        qe
      }
      val cached = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(cached.isEmpty, s"$name reads ${cached.size} persisted frame(s)")
      val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size == factScans,
        s"$name scans the fact table ${scans.size} times:\n${qe.executedPlan}")
    }
  }

  private object aqe
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Every physical plan a query persists, nested persists included
    * (a cache built over another cache scans it as a leaf).
    */
  private def cachedPlans(name: String)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
      InMemoryTableScanExec}
    def nested(p: SparkPlan): Seq[SparkPlan] =
      p +: aqe.collect(p) { case s: InMemoryTableScanExec =>
        s.relation.cacheBuilder.cachedPlan }.flatMap(nested)
    SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      .collect { case r: InMemoryRelation => r.cacheBuilder.cachedPlan }
      .flatMap(nested).distinct
  }

  /** `size(x) > 0`: the empties filter the dedup fronts apply to their
    * persisted shingle arrays.
    */
  private def isEmptiesFilter(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, Literal,
      Size}
    e.exists {
      case GreaterThan(Size(_, _), Literal(0, _)) => true
      case _ => false
    }
  }

  test("q_dedup_ngram plans the spread and the wideThenFold fold as round-robin exchanges") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plans = cachedPlans("q_dedup_ngram")
    ScratchCache.releaseAll(spark)
    val widths = plans.flatMap(aqe.collect(_) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
        e.outputPartitioning.numPartitions
    })
    // the one-file corpus scan spreads to the session's cores, and the
    // shingled rows fold back to width / 8 (at least 2)
    val cores = spark.sparkContext.defaultParallelism
    assert(widths.sorted == Seq(math.max(2, cores / 8), cores),
      s"expected the spread ($cores) and the fold exchange, got " +
      s"${widths.mkString(",")}:\n${plans.mkString("\n")}")
  }

  test("q_dedup_minhash filters empties above the cache, never under the spread exchange") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val optimized = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .queryExecution.optimizedPlan
    val above = optimized.collect {
      case f @ Filter(c, _: InMemoryRelation) if isEmptiesFilter(c) => f
      case f @ Filter(c, Project(_, _: InMemoryRelation))
          if isEmptiesFilter(c) => f
    }
    val under = cachedPlans("q_dedup_minhash").flatMap(aqe.collect(_) {
      case f: FilterExec if isEmptiesFilter(f.condition) => f
    })
    ScratchCache.releaseAll(spark)
    assert(above.nonEmpty, s"no empties filter over the cache:\n$optimized")
    // pushed into the persisted subtree, the filter would run the whole
    // shingle+hash projection once more, serially, below the spread
    assert(under.isEmpty,
      s"empties filter inside the persisted plan:\n${under.mkString("\n")}")
  }

  test("q_sim_topk broadcasts queries and pushes the rank limit down") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
    assert(p.contains("WindowGroupLimit"),
      "row_number<=k must become a group limit before the shuffle")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_topk_sketch aggregates partially before the exchange") {
    val p = plan("q_topk_sketch")
    val aggs = p.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(aggs >= 2, s"expected partial+final sketch aggregation:\n$p")
  }

  test("q_dict_join uses a broadcast join, never sort-merge") {
    val p = plan("q_dict_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_lpm_lookup resolves without any join operator") {
    val p = plan("q_lpm_lookup")
    assert(!p.contains("Join"), "LPM is an expression-level lookup, not a join")
  }

  test("q_custom_dict joins the dictionary by broadcast only") {
    val p = plan("q_custom_dict")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_dedup_minhash never degenerates to a cartesian product") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_line's time filter sits directly on the scan side") {
    val p = plan("q_line")
    assert(p.contains("Filter"))
    // no Cartesian anywhere in the line pipeline
    assert(!p.contains("CartesianProduct"))
  }

  test("q_decontam probes the benchmark side as a broadcast") {
    val p = plan("q_decontam")
    assert(p.contains("BroadcastHashJoin"),
      "the corpus must probe a broadcast benchmark, not shuffle")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_seq_pack never sorts the corpus through one partition") {
    val p = plan("q_seq_pack")
    // phase-1 window partitions by shard; only the per-shard totals (one
    // row per shard) may pass through a single-partition exchange
    val globalSorts = p.linesIterator
      .filter(_.contains("Sort "))
      .count(_.contains("[id")) // a global sort keyed by the raw doc id
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window"), "two-phase prefix sum uses windows")
    assert(globalSorts == 0 || p.contains("partitionBy"),
      s"corpus-wide single-partition sort detected:\n$p")
  }

  test("q_kmeans_assign is a joinless single-pass projection") {
    val p = plan("q_kmeans_assign")
    assert(!p.contains("Join"), "assignment must not join the centroids")
    // one physical scan (formatted mode lists it in the tree + details)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1)
  }

  test("q_reservoir caps each group before the shuffle") {
    val p = plan("q_reservoir")
    // partial WindowGroupLimit below the Exchange: only <=k rows per
    // stratum per map partition ever shuffle
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"expected partial+final group limit:\n$p")
  }

  test("q_sessionize shares one exchange across windows and aggregation") {
    val p = plan("q_sessionize")
    val exchanges = p.linesIterator
      .count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 1,
      s"lag window, session counter, and per-session rollup must reuse " +
        s"the single user-keyed exchange; found $exchanges:\n$p")
  }

  test("q_transitions keeps the lead window and count on one exchange") {
    val p = plan("q_transitions")
    // one exchange for the user window; the transition count may add its
    // own (keyed by type pair) but must aggregate partially first
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*""")) <= 2)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final count aggregation:\n$p")
  }

  test("q_sim_pq broadcasts queries in both stages and bounds both ranks") {
    val p = plan("q_sim_pq")
    // stage 1: encoded corpus × broadcast LUTs; stage 2: candidate set ×
    // broadcast query vectors — the corpus must never shuffle for either
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    // both the ADC retrieve and the exact re-rank push their row_number
    // limit below the qid exchange
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"expected group limits on both rank stages:\n$p")
  }

  test("q_sim_ivfpq probes cells by broadcast and bounds both ranks") {
    val p = plan("q_sim_ivfpq")
    // stage 1 joins stored-shape (cell, codes) rows against the
    // broadcast probe list on cell — an equi-join, never a full scan of
    // corpus × queries like plain PQ's crossJoin
    assert(p.contains("BroadcastHashJoin"), s"probe must equi-join:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"expected group limits on both rank stages:\n$p")
  }

  test("q_df_cap_plan windows over the histogram, never the corpus") {
    val p = plan("q_df_cap_plan")
    // shingle df then df histogram: two aggregation pairs collapse the
    // corpus to distinct df values BEFORE the cumulative window; the
    // only join is the broadcast of the 1-row total
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"expected df + histogram aggregations below the window:\n$p")
    assert(p.contains("Window"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), "the scalar total must broadcast")
  }

  test("q_knn_classify rides bruteForce's shape: broadcast + group limit") {
    val p = plan("q_knn_classify")
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("CartesianProduct"))
    // the vote is a partial-aggregated count over queries·k rows
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
  }

  test("q_surprisal reduces the per-doc rollup before its exchange") {
    val p = plan("q_surprisal")
    assert(!p.contains("CartesianProduct"),
      "the 1-row total must broadcast, not nest loops over the corpus")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"expected partial+final aggregation for counts and rollup:\n$p")
  }

  test("q_dup_span windows per document and never goes cartesian") {
    val p = plan("q_dup_span")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // run detection partitions by doc — a global (unpartitioned) window
    // would single-thread the corpus
    assert(p.contains("Window"), "gaps-and-islands needs a window")
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionBy=[]")),
      s"unpartitioned window detected:\n$p")
  }

  test("q_oov probes the bounded vocabulary as a broadcast") {
    val p = plan("q_oov")
    // the top-K vocab is bounded by construction — the token stream must
    // probe it broadcast, never shuffle for the membership test
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_rare_trigram broadcasts the bounded count table") {
    val p = plan("q_rare_trigram")
    // the trigram-count side is bounded by the charset cubed, so the
    // occurrence stream must probe it broadcast — a sort-merge join here
    // would shuffle the whole corpus twice
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_weighted_sample is a joinless exchange-free projection") {
    val p = plan("q_weighted_sample")
    assert(!p.contains("Join"))
    assert(!p.contains("Exchange"), "keep decisions are per-row hash math")
  }

  test("q_pii_scrub and q_repetition stay joinless and exchange-free") {
    Seq("q_pii_scrub", "q_repetition").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must be a pure projection")
      assert(!p.contains("Exchange"), s"$q must not shuffle")
    }
  }

  test("q_dsir_weights scores through a broadcast model, no sort-merge") {
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      "the fixed-size bucket model must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus feature stream must never shuffle for the model join")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "per-doc rollup must partially aggregate map-side")
  }

  test("q_dsir_select plans the selection as a global top-k, not a sort") {
    val p = plan("q_dsir_select")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k selection must not globally sort the pool")
  }

  test("q_range_join is a broadcast hash join, never a nested loop") {
    val p = plan("q_range_join")
    assert(p.contains("BroadcastHashJoin"),
      "the bucketized interval side must broadcast")
    assert(!p.contains("NestedLoop"),
      "the containment predicate must ride a bucket equi-join")
  }

  test("q_boiler_scrub anti-joins a broadcast hot set, no text shuffle for df") {
    val p = plan("q_boiler_scrub")
    assert(p.contains("BroadcastHashJoin") &&
      p.linesIterator.exists(l => l.contains("LeftAnti")),
      s"hot sentences must broadcast into an anti join:\n$p")
  }

  test("q_kmv_distinct bounds the sketch before the window shuffle") {
    val p = plan("q_kmv_distinct")
    assert(p.contains("WindowGroupLimit"),
      "row_number<=k must become a group limit so map tasks forward at " +
        s"most k rows per group:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"))
  }

  test("q_kmv_overlap joins sketches by hash, never sort-merge") {
    val p = plan("q_kmv_overlap")
    assert(p.contains("BroadcastHashJoin"),
      "the tiny pair list must broadcast into the sketch equi-joins")
    assert(!p.contains("SortMergeJoin"),
      s"sketch rows must not sort-merge:\n$p")
  }

  test("q_kmv_rollup reads only sketch rows between levels") {
    val p = plan("q_kmv_rollup")
    assert(p.contains("WindowGroupLimit"))
    // two truncation levels (hourly + regrouped), no join at all
    assert(!p.contains("Join"), s"rollup must be join-free:\n$p")
  }

  test("q_export_manifest is joinless with partial aggregation") {
    val p = plan("q_export_manifest")
    assert(!p.contains("Join"), s"manifest must be join-free:\n$p")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final manifest aggregation:\n$p")
  }

  test("q_bpe_pairs combines pair counts map-side before the exchange") {
    val p = plan("q_bpe_pairs")
    assert(!p.contains("Join"), s"pair counting must be join-free:\n$p")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    // word-table aggregate + pair aggregate, each partial+final
    assert(aggs >= 4, s"expected partial+final at both aggregates:\n$p")
  }

  test("q_bpe_tokenize broadcasts the learned vocabulary") {
    val p = plan("q_bpe_tokenize")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-sized segmented word table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus word stream must never sort-merge:\n$p")
  }

  test("q_corpus_diff joins by hash, never nested-loop") {
    val p = plan("q_corpus_diff")
    // full-outer cannot broadcast; it must stay an equi-join
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"diff must remain an equi-join:\n$p")
  }

  test("q_overlap_join stays a broadcast equi-join, never a nested loop") {
    val p = plan("q_overlap_join")
    assert(p.contains("BroadcastHashJoin"), s"windows must broadcast:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"the non-equi overlap predicate must ride a bucket equi-join:\n$p")
  }

  test("q_chunk is one scan with no exchange") {
    val p = plan("q_chunk")
    assert(!p.contains("Exchange"),
      s"chunking must stay a shuffle-free projection:\n$p")
  }

  test("q_chunk_pack windows per shard, never one global partition") {
    val p = plan("q_chunk_pack")
    // phase-1 cumsum partitions by shard; the only unpartitioned window
    // is phase 2 over the one-row-per-shard totals (post-aggregate)
    assert(p.contains("windowspecdefinition(shard#"),
      s"the prefix sum must be per-shard:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"shard offsets must broadcast back:\n$p")
  }

  test("q_curriculum ranks the value table only, broadcast back") {
    val p = plan("q_curriculum")
    assert(p.contains("BroadcastHashJoin"),
      s"the value→stage map must broadcast onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_release_delta compares nShards-row manifests, map-side combined") {
    val p = plan("q_release_delta")
    assert(p.contains("FullOuter"), s"expected a full-outer shard join:\n$p")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"expected partial+final per manifest:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }
}
