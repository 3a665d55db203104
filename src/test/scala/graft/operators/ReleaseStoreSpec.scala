package graft.operators

import graft.SparkSpec
import graft.operators.dedup.{Dedup, ReleaseStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The persisted streaming release: batch-by-batch ingest (with replay)
  * accumulates the same scored pair set a from-scratch release derives,
  * and the on-demand products match bit-for-bit.
  */
class ReleaseStoreSpec extends SparkSpec {
  import spark.implicits._

  private def doc(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2))))

  private val b0 = doc(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon zeta"),
    (50L, "totally unrelated text about completely different things"))
  private val b1 = doc(
    (3L, "alpha beta gamma delta epsilon eta"),
    (20L, "one two three four five six seven"))
  private val b2 = doc(
    (21L, "one two three four five six seven eight nine ten"),
    (51L, "another unique document with no shared trigrams at all"))

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("batch ingest with replay equals a from-scratch release") {
    val dir = Files.createTempDirectory("relstore").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text")
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b0, batchId = Some(0L)) // at-least-once replay
    store.ingest(b1, batchId = Some(1L))
    store.ingest(b2, batchId = Some(2L))
    assert(store.lastCommitted("docs") == 2L &&
      store.lastCommitted("scored") == 2L)
    val all = b0.unionByName(b1).unionByName(b2)
    assert(store.docs.count() == all.count()) // replay did not duplicate
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    assert(rows(got.scored) == rows(want.scored))
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.clusters) == rows(want.clusters))
    assert(rows(got.keepers) == rows(want.keepers))
    assert(rows(got.survivors) == rows(want.survivors))
    assert(rows(got.split) == rows(want.split))
    assert(rows(got.sourceOverlap) == rows(want.sourceOverlap))
    assert(rows(got.containment) == rows(want.containment))
    // the near-dup relations genuinely span batches: 1/2 (b0) with 3
    // (b1), 20 (b1) with 21 (b2)
    val cl = got.clusters.as[(Long, Long)].collect().toMap
    assert(cl(3L) == cl(1L) && cl(21L) == cl(20L))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a re-crawled doc id is ignored: first write wins, products stay clean") {
    // the id-contract case: doc 1 arrives again in a later batch with
    // DIFFERENT text. Without the accepted-id sidecar, the second copy
    // would (a) append a second docs row, (b) double-count shingle sizes
    // in the delta (both rows marked batch), and (c) leave stale pairs —
    // silently corrupting every product
    val dir = Files.createTempDirectory("reldup").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text")
    store.ingest(b0, batchId = Some(0L))
    val recrawl = doc(
      (1L, "completely different re-crawled body for the same id"),
      (3L, "alpha beta gamma delta epsilon eta"))
    store.ingest(recrawl, batchId = Some(1L))
    assert(store.docs.count() == 4) // 1,2,50 + only the new id 3
    assert(store.docs.where(col("doc_id") === 1L).count() == 1)
    // doc 1 kept its ORIGINAL text, so its near-dup relations are the
    // original ones: {1,2,3} cluster via the alpha-family trigram overlap
    val firstWrite = b0.unionByName(recrawl.where(col("doc_id") === 3L))
    val q = firstWrite.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(firstWrite, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q)
    assert(rows(got.scored) == rows(want.scored))
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.clusters) == rows(want.clusters))
    graft.ScratchCache.releaseAll(spark)
  }

  test("compaction bounds file counts and preserves every product bit-for-bit") {
    val dir = Files.createTempDirectory("relcompact").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text")
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b1, batchId = Some(1L))
    store.ingest(b2, batchId = Some(2L))
    // recursive walk tolerates either layout
    def files(t: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$dir/$t"))
    }
    val all = b0.unionByName(b1).unionByName(b2)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val before = store.products(threshold = 0.5, quality = q)
    val snapshot = Seq(before.scored, before.pairs, before.clusters,
      before.keepers, before.survivors, before.split, before.sourceOverlap,
      before.containment).map(rows)
    graft.ScratchCache.releaseAll(spark)
    assert(files("docs") >= 3 && files("scored") >= 3,
      "fixture did not accumulate per-batch files")
    assert(new java.io.File(s"$dir/batches").listFiles()
      .count(_.getName.startsWith("batch=")) == 3)

    store.compact()
    // bounded: both tables collapse to a single file; committed
    // batches' sidecars are pruned; markers survive
    assert(files("scored") == 1)
    assert(files("docs") == 1)
    assert(!new java.io.File(s"$dir/batches").exists() ||
      new java.io.File(s"$dir/batches").listFiles()
        .count(_.getName.startsWith("batch=")) == 0)
    assert(store.lastCommitted("docs") == 2L &&
      store.lastCommitted("scored") == 2L)
    val after = store.products(threshold = 0.5, quality = q)
    val afterRows = Seq(after.scored, after.pairs, after.clusters,
      after.keepers, after.survivors, after.split, after.sourceOverlap,
      after.containment).map(rows)
    assert(afterRows == snapshot)
    // an old batch replayed AFTER compaction is still a no-op
    store.ingest(b1, batchId = Some(1L))
    assert(store.docs.count() == all.count())
    graft.ScratchCache.releaseAll(spark)
  }

  test("LSH-fronted store ingest accumulates the same products") {
    // lshFront=true: each batch's delta comes from banded + prefix
    // candidates (batch-touching only) instead of the exact index
    // probe. The accumulated products must match the from-scratch
    // exact release — the fixture's weakest pairs sit where the
    // default k=128/b=32 banding recall is effectively 1
    val dir = Files.createTempDirectory("rellsh").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true)
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b0, batchId = Some(0L)) // replay still exactly-once
    store.ingest(b1, batchId = Some(1L))
    store.ingest(b2, batchId = Some(2L))
    val all = b0.unionByName(b1).unionByName(b2)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.clusters) == rows(want.clusters))
    assert(rows(got.keepers) == rows(want.keepers))
    assert(rows(got.containment) == rows(want.containment))
    assert(rows(got.survivors) == rows(want.survivors))
    graft.ScratchCache.releaseAll(spark)
  }

  test("stored-state LSH increments: both quote directions, replay, compaction") {
    // the round-11 headliner pin: an uncapped lshFront store keeps
    // per-doc shingles/bands/prefixes, and each increment probes STORED
    // state instead of re-shingling/re-banding/re-ranking the corpus.
    // Both containment quote directions must ride the stored tables —
    // a stored doc quoted inside a later batch doc (stored prefix ⋈
    // batch index) and a batch doc quoted by an earlier stored doc
    // (batch prefix ⋈ stored index) — across a mid-stream compact()
    // and a replay; products must equal BOTH the recompute-everything
    // incremental cadence and a from-scratch release.
    val bA = doc(
      (1L, "red orange yellow green blue purple"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (50L, "totally unrelated text about completely different things"))
    // doc 10 quotes stored doc 1 verbatim inside long padding — the
    // stored side's prefix must find it (direction: stored-in-batch)
    val bB = doc(
      (10L, "the quick brown fox jumps over red orange yellow green blue " +
        "purple and then runs far away into the deep dark forest tonight"),
      (3L, "alpha beta gamma delta epsilon eta"))
    // doc 12 is a verbatim chunk of stored doc 10's padding — the
    // batch side's prefix must find it (direction: batch-in-stored)
    val bC = doc(
      (12L, "runs far away into the deep dark forest"),
      (51L, "another unique document with no shared trigrams at all"))
    val dir = Files.createTempDirectory("relstate").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true)
    store.ingest(bA, batchId = Some(0L))
    // state tables exist and carry one shingle-set row per doc
    assert(spark.read.parquet(s"$dir/shingles").count() == 3)
    assert(spark.read.parquet(s"$dir/prefixes").count() > 0)
    store.ingest(bB, batchId = Some(1L))
    store.ingest(bB, batchId = Some(1L)) // replay stays exactly-once
    store.compact(targetFileBytes = 1L << 20) // state survives the swap
    store.ingest(bC, batchId = Some(2L))
    val all = bA.unionByName(bB).unionByName(bC)
    assert(store.docs.count() == all.count())
    assert(spark.read.parquet(s"$dir/shingles").count() == all.count())
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    // recompute-everything incremental cadence over the same batches
    val pAB = bA.unionByName(bB)
    val r0 = Dedup.releasePipelineLsh(bA, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None,
      quality = bA.select(col("doc_id").as("id"), col("n_chars").as("q")))
    val r1 = Dedup.incrementalReleaseLsh(pAB, "doc_id", "text",
      isBatch = col("doc_id").isin(10L, 3L), priorScored = r0.scored,
      threshold = 0.5, maxShingleDf = None,
      quality = pAB.select(col("doc_id").as("id"), col("n_chars").as("q")))
    val r2 = Dedup.incrementalReleaseLsh(all, "doc_id", "text",
      isBatch = col("doc_id").isin(12L, 51L), priorScored = r1.scored,
      threshold = 0.5, maxShingleDf = None, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    for (pair <- Seq((got, r2), (got, want))) {
      val (a, b) = pair
      assert(rows(a.pairs) == rows(b.pairs))
      assert(rows(a.clusters) == rows(b.clusters))
      assert(rows(a.keepers) == rows(b.keepers))
      assert(rows(a.containment) == rows(b.containment))
      assert(rows(a.survivors) == rows(b.survivors))
      assert(rows(a.split) == rows(b.split))
    }
    // both planted quote directions actually landed
    val cont = got.containment.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(cont.contains((1L, 10L)), s"stored-in-batch direction lost: $cont")
    assert(cont.contains((10L, 12L)), s"batch-in-stored direction lost: $cont")
    graft.ScratchCache.releaseAll(spark)
  }

  test("un-id'd ingest replayed from the state-landed crash window appends no duplicate state") {
    // batchId = None has NO marker protection, and state appends land
    // BEFORE the docs append — a crash between them replays with the
    // SAME accepted set (docs unchanged → same anti-join). Reproduce
    // the exact on-disk window: ingest fully, then delete the files
    // the docs/scored appends created (state stays landed), and replay.
    val bA = doc(
      (1L, "red orange yellow green blue purple"),
      (50L, "totally unrelated text about completely different things"))
    val bB = doc(
      (10L, "red orange yellow green blue purple indigo violet"),
      (12L, "some fresh content that matches nothing else stored here"))
    val dir = Files.createTempDirectory("relcrash").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true)
    store.ingest(bA) // un-id'd
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(t: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      if (!fs.exists(p)) Set.empty
      else {
        val out = scala.collection.mutable.Set.empty[String]
        val it = fs.listFiles(p, true)
        while (it.hasNext) out += it.next().getPath.toString
        out.toSet
      }
    }
    val docsBefore = files("docs")
    val scoredBefore = files("scored")
    store.ingest(bB) // un-id'd — state + docs + scored all land
    // roll docs and scored back to pre-bB (the crash window): state
    // tables keep bB's rows, docs/scored do not
    (files("docs") -- docsBefore).foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
    (files("scored") -- scoredBefore).foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
    store.ingest(bB) // the replay
    // every state table holds exactly one row set per id — no dups
    val shingleIds = spark.read.parquet(s"$dir/shingles")
      .groupBy("id").count().where(col("count") > 1).count()
    assert(shingleIds == 0L, "duplicated shingle state rows")
    val prefixDup = spark.read.parquet(s"$dir/prefixes")
      .groupBy("id", "s").count().where(col("count") > 1).count()
    assert(prefixDup == 0L, "duplicated prefix state rows")
    val bandDup = spark.read.parquet(s"$dir/bands")
      .groupBy("id", "band").count().where(col("count") > 1).count()
    assert(bandDup == 0L, "duplicated band state rows")
    // and the store still answers exactly
    val all = bA.unionByName(bB)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.containment) == rows(want.containment))
    graft.ScratchCache.releaseAll(spark)
  }

  test("collapse store: dup-heavy batches pay for novel content only, products stay exact") {
    // the collapse-front store pin: state tables hold one row per
    // DISTINCT shingle set, exact-dup arrivals append membership only,
    // and products (expanded from rep-level pairs) equal both the
    // from-scratch release and the collapsed pipeline — across replay,
    // a mid-stream compact, a later dup with a SMALLER id than its rep,
    // and an all-duplicate batch that must append zero state rows.
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t4 = "one two three four five six seven"
    val cA = doc((1L, t1), (2L, "alpha beta gamma delta epsilon eta"),
      (50L, "totally unrelated text about completely different things"))
    val cB = doc((3L, t1), (20L, t4),
      (21L, "one two three four five six seven eight nine ten"))
    // doc 0 < rep 20: first-ingested rep keeps the group
    val cC = doc((0L, t4), (4L, t1),
      (51L, "another unique document with no shared trigrams at all"))
    val cD = doc((5L, t1), (23L, t4)) // ALL exact dups of stored content
    val dir = Files.createTempDirectory("relcoll").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true, collapseFront = true)
    store.ingest(cA, batchId = Some(0L))
    assert(spark.read.parquet(s"$dir/shingles").count() == 3)
    store.ingest(cB, batchId = Some(1L))
    store.ingest(cB, batchId = Some(1L)) // replay stays exactly-once
    // 3 joined 1's group: only t4's and 21's sets are new
    assert(spark.read.parquet(s"$dir/shingles").count() == 5)
    store.compact(targetFileBytes = 1L << 20)
    store.ingest(cC, batchId = Some(2L))
    assert(spark.read.parquet(s"$dir/shingles").count() == 6)
    val stateRows = spark.read.parquet(s"$dir/shingles").count()
    val prefRows = spark.read.parquet(s"$dir/prefixes").count()
    store.ingest(cD, batchId = Some(3L))
    // zero state growth, membership only
    assert(spark.read.parquet(s"$dir/shingles").count() == stateRows)
    assert(spark.read.parquet(s"$dir/prefixes").count() == prefRows)
    assert(store.lastCommitted("scored") == 3L)
    val m = spark.read.parquet(s"$dir/members")
    val all = cA.unionByName(cB).unionByName(cC).unionByName(cD)
    assert(m.count() == all.count()) // every doc has a membership row
    assert(m.where(col("id") === 0L).select("rep").head().getLong(0) == 20L)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    val coll = Dedup.releasePipelineLsh(all, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q,
      collapseExact = true)
    for (b <- Seq(want, coll)) {
      assert(rows(got.pairs) == rows(b.pairs))
      assert(rows(got.clusters) == rows(b.clusters))
      assert(rows(got.keepers) == rows(b.keepers))
      assert(rows(got.containment) == rows(b.containment))
      assert(rows(got.survivors) == rows(b.survivors))
      assert(rows(got.split) == rows(b.split))
      assert(rows(got.sourceOverlap) == rows(b.sourceOverlap))
    }
    graft.ScratchCache.releaseAll(spark)
  }

  test("a per-doc LSH store upgrades to collapse by one-time backfill") {
    // history ingested per-doc (exact dups got their own state rows and
    // member-level pairs), then the store reopens with collapseFront:
    // the first ingest rebuilds state rep-level, rewrites scored to rep
    // pairs, and installs members LAST — and
    // every later product equals a from-scratch release
    val t1 = "alpha beta gamma delta epsilon zeta"
    val uA = doc((1L, t1), (2L, t1),
      (50L, "totally unrelated text about completely different things"))
    val uB = doc((3L, "alpha beta gamma delta epsilon eta"),
      (20L, "one two three four five six seven"))
    val dir = Files.createTempDirectory("relupgc").toFile.getAbsolutePath
    val perDoc = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true)
    perDoc.ingest(uA, batchId = Some(0L))
    perDoc.ingest(uB, batchId = Some(1L))
    assert(spark.read.parquet(s"$dir/shingles").count() == 5) // per-doc rows
    val coll = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true, collapseFront = true)
    val uC = doc((4L, t1), // dup of pre-upgrade content
      (51L, "another unique document with no shared trigrams at all"))
    coll.ingest(uC, batchId = Some(2L))
    // state is rep-level now: 4 backfilled reps ({1,2}→1, 50, 3, 20) +
    // doc 51's new set; doc 4 joined rep 1's group with no state row
    assert(spark.read.parquet(s"$dir/shingles").count() == 5)
    val m = spark.read.parquet(s"$dir/members")
    assert(m.where(col("batch") === -2L).count() == 5) // backfilled history
    assert(m.count() == 7)
    val all = uA.unionByName(uB).unionByName(uC)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = coll.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.clusters) == rows(want.clusters))
    assert(rows(got.keepers) == rows(want.keepers))
    assert(rows(got.containment) == rows(want.containment))
    assert(rows(got.survivors) == rows(want.survivors))
    graft.ScratchCache.releaseAll(spark)
  }

  test("an exact-front store upgrades to stored state by one-time backfill") {
    // docs ingested exact-front: BOTH exact-front sidecars (docids +
    // shingle state) sit behind the shared size dispatch (measured:
    // below it the recompute delta and the plain docs-consulting
    // guards are cheaper) — at fixture scale neither exists;
    // constructing an lshFront store over the same path backfills
    // shingles/bands/prefixes from the stored corpus once, and
    // increments proceed against stored state — products unchanged
    val dir = Files.createTempDirectory("relupg").toFile.getAbsolutePath
    val exactStore = new ReleaseStore(spark, dir, "doc_id", "text")
    exactStore.ingest(b0, batchId = Some(0L))
    exactStore.ingest(b1, batchId = Some(1L))
    assert(!new java.io.File(s"$dir/shingles").exists(),
      "below the size dispatch the exact front keeps the recompute path")
    assert(!new java.io.File(s"$dir/docids").exists(),
      "below the size dispatch the id guards consult docs directly")
    val lshStore = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true)
    lshStore.ingest(b2, batchId = Some(2L))
    val all = b0.unionByName(b1).unionByName(b2)
    // backfill covered the pre-state corpus AND the new batch appended
    assert(spark.read.parquet(s"$dir/shingles").count() == all.count())
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = lshStore.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.clusters) == rows(want.clusters))
    assert(rows(got.containment) == rows(want.containment))
    assert(rows(got.survivors) == rows(want.survivors))
    // cross-batch near-dup found via stored state: 21 (new batch)
    // joined 20's cluster (pre-state corpus)
    val cl = got.clusters.as[(Long, Long)].collect().toMap
    assert(cl(21L) == cl(20L))
    graft.ScratchCache.releaseAll(spark)
  }

  test("docids sidecar: consulted when consistent, healed by the footer-count gate after damage") {
    // the narrow id sidecar mirrors docs' id set; any skew (here: the
    // sidecar table deleted outright — a superset of every real crash
    // window, since docids ⊆ docs always) is detected by the zero-job
    // footer row-count comparison at the NEXT ingest and healed by one
    // narrow rebuild — accepted-id resolution stays correct throughout.
    // The dispatch is forced at fixture scale; the sidecar backfills
    // on the first past-threshold ingest (no corpus exists before it)
    val dir = Files.createTempDirectory("reldocids").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      exactSidecarMinRows = 1L)
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b2, batchId = Some(1L)) // corpus now past the dispatch
    assert(spark.read.parquet(s"$dir/docids").count() ==
      b0.count() + b2.count())
    // damage: drop the sidecar (simulates the worst docs/docids skew)
    val fsp = new org.apache.hadoop.fs.Path(s"$dir/docids")
    fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(fsp, true)
    // heal must survive the dispatch reading "below threshold" now:
    // exists-wins is what keeps a damaged-but-created sidecar coming
    // back, not the current corpus size. The threshold is not pinned,
    // so the same directory reopens with it raised
    val raised = new ReleaseStore(spark, dir, "doc_id", "text",
      exactSidecarMinRows = Long.MaxValue)
    // next ingest: the sidecar is GONE and the corpus reads below the
    // raised threshold, so this ingest legitimately consults docs and
    // skips maintenance (dispatch-off equals the r15 shape) — then the
    // lowered-threshold instance rebuilds it in one narrow pass
    val dup = b0.limit(1).withColumn("text", lit("recrawled body"))
    raised.ingest(b1.unionByName(dup), batchId = Some(2L))
    assert(!new java.io.File(s"$dir/docids").exists(),
      "a deleted sidecar below the dispatch stays off — no maintenance")
    assert(raised.docs.count() == 7, "docs after the dispatch-off ingest")
    val dup2 = b1.limit(1).withColumn("text", lit("recrawled again"))
    store.ingest(dup2, batchId = Some(3L)) // all ids known: rebuild only
    val all = b0.unionByName(b1).unionByName(b2)
    assert(spark.read.parquet(s"$dir/docids").count() == all.count(),
      "healed sidecar mirrors docs again")
    assert(store.docs.count() == all.count(), "first write wins held")
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.survivors) == rows(want.survivors))
    graft.ScratchCache.releaseAll(spark)
  }

  test("exact-front stored-state delta (past the size dispatch) equals the recompute lifecycle") {
    // force the dispatch at fixture scale: the store maintains shingle
    // state from the first ingest and scores increments from STORED
    // state (no corpus re-shingle) — replay, re-crawl, mid-stream
    // compaction and products must all equal the from-scratch release
    val dir = Files.createTempDirectory("relexst").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      exactSidecarMinRows = 1L)
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b0, batchId = Some(0L)) // at-least-once replay
    assert(spark.read.parquet(s"$dir/shingles").count() == b0.count(),
      "state maintained from the first ingest past the dispatch")
    store.ingest(b1, batchId = Some(1L))
    store.compact(targetFileBytes = 1L) // post-compact stored reads
    // a re-crawled id (different text) is ignored mid-stream
    val dup = b0.limit(1).withColumn("text", lit("recrawled body"))
    store.ingest(b2.unionByName(dup), batchId = Some(2L))
    val all = b0.unionByName(b1).unionByName(b2)
    assert(spark.read.parquet(s"$dir/shingles").count() == all.count())
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.clusters) == rows(want.clusters))
    assert(rows(got.keepers) == rows(want.keepers))
    assert(rows(got.containment) == rows(want.containment))
    assert(rows(got.survivors) == rows(want.survivors))
    // a store that crossed the dispatch KEEPS its state even when a
    // later reading says "below threshold" (exists-wins): reopen the
    // same directory with the threshold raised
    val raised = new ReleaseStore(spark, dir, "doc_id", "text",
      exactSidecarMinRows = Long.MaxValue)
    val late = doc(
      (60L, "alpha beta gamma delta epsilon zeta"), // joins 1/2's group
      (61L, "fresh words never seen anywhere before here"))
    raised.ingest(late, batchId = Some(3L))
    assert(spark.read.parquet(s"$dir/shingles").count() ==
      all.count() + late.count(), "existing state keeps appending")
    val all4 = all.unionByName(late)
    val q4 = all4.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got4 = raised.products(threshold = 0.5, quality = q4)
    val want4 = Dedup.releasePipeline(all4, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q4)
    assert(rows(got4.pairs) == rows(want4.pairs))
    assert(rows(got4.survivors) == rows(want4.survivors))
    graft.ScratchCache.releaseAll(spark)
  }

  test("the shape pin rejects mismatched reopens and follows upgrades") {
    // store.meta records every meaning-bearing constructor knob at
    // first ingest; a reopen with a different shape must FAIL, not
    // silently misread the tables (a collapse store opened per-doc
    // reads rep-level scored rows as member-level; a different seed
    // scores new batches in a different hash space than the old pairs)
    val dir = Files.createTempDirectory("relshape").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true)
    store.ingest(b0, batchId = Some(0L))
    def expectReject(s: ReleaseStore): Unit = {
      intercept[IllegalStateException] { s.ingest(b1, batchId = Some(1L)) }
      val q = b0.select(col("doc_id").as("id"), col("n_chars").as("q"))
      intercept[IllegalStateException] { s.products(0.5, q) }
      intercept[IllegalStateException] { s.compact() }
    }
    // front downgrade: stored lshFront=true, opened exact-front
    expectReject(new ReleaseStore(spark, dir, "doc_id", "text"))
    // hash-shape drift: same fronts, different seed
    expectReject(new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true, seed = 7L))
    // cap drift: scored pairs accumulated uncapped
    expectReject(new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true, maxShingleDf = Some(10)))
    // hash-family drift: portable state rows are unreadable by the
    // fast family and vice versa
    expectReject(new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true, portable = true))
    // column drift
    expectReject(new ReleaseStore(spark, dir, "doc_id", "n_chars",
      lshFront = true))
    // the documented upgrade stays legal and MOVES the pin: collapse
    // reopen ingests fine, after which a per-doc reopen is the rejected
    // downgrade
    val coll = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true, collapseFront = true)
    coll.ingest(b1, batchId = Some(1L))
    expectReject(new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true))
    // open() reconstructs from the pin — no flags to misremember —
    // and the reopened store continues the release exactly
    val reopened = ReleaseStore.open(spark, dir)
    reopened.ingest(b2, batchId = Some(2L))
    val all = b0.unionByName(b1).unionByName(b2)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = reopened.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.clusters) == rows(want.clusters))
    // a legacy store (no meta — predates the pin) adopts the current
    // shape on next write instead of rejecting; open() has nothing to
    // read and says so
    assert(new java.io.File(s"$dir/store.meta").delete())
    intercept[IllegalStateException] { ReleaseStore.open(spark, dir) }
    val legacy = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true, collapseFront = true)
    legacy.ingest(b2, batchId = Some(3L)) // dup ids ignored; re-pins
    assert(new java.io.File(s"$dir/store.meta").exists())
    assert(rows(legacy.products(threshold = 0.5, quality = q).pairs) ==
      rows(want.pairs))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a landed-but-unmarked STATE append does not duplicate on id'd replay") {
    // the id'd crash window: shingles/bands/prefixes parquet appends
    // land, the JVM dies BEFORE their markers commit, the batch
    // replays — guarded re-runs the writes, and only the stored-id
    // anti-join keeps the rows from doubling (doubled state would
    // corrupt every later batch's scored delta durably)
    val dir = Files.createTempDirectory("relstatewin").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true)
    store.ingest(b0, batchId = Some(0L))
    def cnt(t: String) = spark.read.parquet(s"$dir/$t").count()
    val tables = Seq("shingles", "bands", "prefixes")
    val before = tables.map(cnt)
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    tables.foreach { t => // hadoop delete: takes the .crc sidecar too
      assert(hfs.delete(new org.apache.hadoop.fs.Path(s"$dir/_commits/$t"),
        false))
    }
    store.ingest(b0, batchId = Some(0L)) // replay re-runs the guarded writes
    assert(tables.map(cnt) == before)
    store.ingest(b1, batchId = Some(1L))
    val all = b0.unionByName(b1)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.containment) == rows(want.containment))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a shingle-less first batch leaves data-less state dirs that still compact and read") {
    // hashedShingles drops <3-token docs, so a batch of tiny docs
    // appends all-EMPTY state frames — dirs with _SUCCESS and zero data
    // files. compact() must skip them (nothing to infer a schema from,
    // nothing to rewrite) and the store must keep working
    val dir = Files.createTempDirectory("relempty").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true, collapseFront = true)
    val short = doc((100L, "too short"), (101L, "also tiny"))
    store.ingest(short, batchId = Some(0L))
    store.compact(targetFileBytes = 8L * 1024 * 1024)
    store.ingest(b0, batchId = Some(1L))
    val all = short.unionByName(b0)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text", threshold = 0.5,
      maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.survivors) == rows(want.survivors))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a compact crash (table moved aside) heals on ANY next access") {
    // simulate compact dying between its two renames: the whole table
    // sits at .compact.old and nothing at the live path. docs/scored
    // reads AND ingest must restore it first — an ingest that instead
    // rebuilt docs from one batch (under committed markers) would
    // permanently lose the corpus when the next compact deleted .old
    val dir = Files.createTempDirectory("relheal").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text")
    store.ingest(b0, batchId = Some(0L))
    def crashCompact(): Unit = {
      val live = new java.io.File(s"$dir/docs")
      val aside = new java.io.File(s"$dir/docs.compact.old")
      assert(live.renameTo(aside))
    }
    crashCompact()
    assert(store.docs.count() == 3, "reader did not restore .compact.old")
    crashCompact()
    store.ingest(b1, batchId = Some(1L)) // ingest-first must also heal
    assert(store.docs.count() == 5)
    assert(!new java.io.File(s"$dir/docs.compact.old").exists())
    // and the store still knows doc 1 exists: a re-crawl stays ignored
    store.ingest(doc((1L, "different body")), batchId = Some(2L))
    assert(store.docs.where(col("doc_id") === 1L).count() == 1)
    graft.ScratchCache.releaseAll(spark)
  }

  test("a compact crash on exact-front SHINGLE state heals BEFORE the exists-wins read") {
    // vicious variant of the table-aside window: exactShinglesLive
    // decides the state path by fs.exists(shingles), so a compact
    // dying between its renames (shingles at .compact.old, nothing
    // live) must be healed BEFORE that read — otherwise the ingest
    // silently abandons state while docs keeps growing, and a LATER
    // read-path recovery resurrects a STALE shingles table whose
    // missing rows drop scored pairs durably
    val dir = Files.createTempDirectory("relexheal").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      exactSidecarMinRows = 1L)
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b1, batchId = Some(1L)) // crosses the dispatch: state backfills
    assert(new java.io.File(s"$dir/shingles").exists())
    assert(new java.io.File(s"$dir/shingles")
      .renameTo(new java.io.File(s"$dir/shingles.compact.old")))
    // reopen with the dispatch raised so ONLY the healed exists-wins
    // read can keep the state path live — the footer-count route
    // cannot save it
    val raised = new ReleaseStore(spark, dir, "doc_id", "text",
      exactSidecarMinRows = Long.MaxValue)
    raised.ingest(b2, batchId = Some(2L))
    assert(!new java.io.File(s"$dir/shingles.compact.old").exists())
    val all = b0.unionByName(b1).unionByName(b2)
    assert(spark.read.parquet(s"$dir/shingles").count() == all.count(),
      "healed state kept appending through the crash window")
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = raised.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(all, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.survivors) == rows(want.survivors))
    graft.ScratchCache.releaseAll(spark)
  }

  test("an interrupted install heals from ANY aside suffix — including accumulated scored") {
    // installTable strands the live table at <dir><suffix>.old when it
    // dies between its two renames. For the collapse upgrade's scored
    // rewrite the stranded copy is ACCUMULATED pair state no re-entry
    // could re-derive — an unhealed window would let the next delta
    // seed a fresh scored table and lose the corpus's pair history.
    // recoverTable restores from every suffix in the family.
    val dir = Files.createTempDirectory("relaside").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text")
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b1, batchId = Some(1L))
    val all = b0.unionByName(b1)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val want = Dedup.releasePipeline(all, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q)
    for (sfx <- Seq(".backfill.old", ".old")) {
      assert(new java.io.File(s"$dir/scored")
        .renameTo(new java.io.File(s"$dir/scored$sfx")), sfx)
      val got = store.products(threshold = 0.5, quality = q)
      assert(rows(got.pairs) == rows(want.pairs), sfx)
      assert(!new java.io.File(s"$dir/scored$sfx").exists(), sfx)
    }
    // and an ingest across the window appends to the HEALED history
    assert(new java.io.File(s"$dir/scored")
      .renameTo(new java.io.File(s"$dir/scored.backfill.old")))
    store.ingest(b2, batchId = Some(2L))
    val all3 = all.unionByName(b2)
    val q3 = all3.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got3 = store.products(threshold = 0.5, quality = q3)
    val want3 = Dedup.releasePipeline(all3, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q3)
    assert(rows(got3.pairs) == rows(want3.pairs))
    assert(rows(got3.clusters) == rows(want3.clusters))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a compact crash on collapse MEMBERSHIP heals before every exists-branching path") {
    // members is compacted, so it has the same two-rename crash window
    // as every table — but two DECISIONS branch on its existence:
    // products' rep-level expansion, and ingest's upgrade probe +
    // dedupAppend guard. Unhealed, the window would (a) read rep-level
    // scored rows as member-level, (b) seed a FRESH members table
    // beside the aside one — durable loss
    val t1 = "alpha beta gamma delta epsilon zeta"
    val cA = doc((1L, t1), (2L, "alpha beta gamma delta epsilon eta"),
      (50L, "totally unrelated text about completely different things"))
    val cB = doc((3L, t1), (20L, "one two three four five six seven"))
    val dir = Files.createTempDirectory("relmheal").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text",
      lshFront = true, collapseFront = true)
    store.ingest(cA, batchId = Some(0L))
    store.ingest(cB, batchId = Some(1L))
    def crashAside(): Unit = {
      val live = new java.io.File(s"$dir/members")
      assert(live.renameTo(new java.io.File(s"$dir/members.compact.old")))
    }
    val all = cA.unionByName(cB)
    val q = all.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val want = Dedup.releasePipeline(all, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q)
    // (a) products during the window: expansion must see membership
    crashAside()
    val got = store.products(threshold = 0.5, quality = q)
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.clusters) == rows(want.clusters))
    assert(!new java.io.File(s"$dir/members.compact.old").exists(),
      "the read healed the aside table")
    // (b) an ingest during the window: an all-dup batch appends
    // membership to the HEALED table, never a fresh one
    crashAside()
    store.ingest(doc((4L, t1)), batchId = Some(2L))
    val m = spark.read.parquet(s"$dir/members")
    assert(m.count() == all.count() + 1,
      "membership accumulated across the heal (not reseeded)")
    assert(m.where(col("id") === 4L).select("rep").head().getLong(0) == 1L)
    val all2 = all.unionByName(doc((4L, t1)))
    val q2 = all2.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got2 = store.products(threshold = 0.5, quality = q2)
    val want2 = Dedup.releasePipeline(all2, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q2)
    assert(rows(got2.pairs) == rows(want2.pairs))
    assert(rows(got2.clusters) == rows(want2.clusters))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a store pinned with a bucketed layout refuses to open") {
    // an older build could pin buckets > 0 and write id-hash partition
    // dirs; the one flat layout must refuse such a store at its entry
    // points instead of reading it as flat
    val dir = Files.createTempDirectory("relbucketpin").toFile.getAbsolutePath
    new ReleaseStore(spark, dir, "doc_id", "text", lshFront = true)
      .ingest(b0, batchId = Some(0L))
    val meta = java.nio.file.Paths.get(s"$dir/store.meta")
    Files.write(meta, new String(Files.readAllBytes(meta), "UTF-8")
      .replace("buckets=0", "buckets=8").getBytes("UTF-8"))
    val store = ReleaseStore.open(spark, dir)
    val e = intercept[IllegalStateException] {
      store.ingest(b1, batchId = Some(1L))
    }
    assert(e.getMessage.contains("buckets=8"))
    intercept[IllegalStateException](store.compact())
    // the readers refuse too, instead of reading the layout as flat
    intercept[IllegalStateException](store.docs)
    intercept[IllegalStateException](store.scored)
    assert(store.lastCommitted("docs") == 0L)
  }

  test("soak: kill before commit + replay + compaction between restarts") {
    // the full lifecycle under fire: a batch (containing a re-crawled
    // duplicate id) lands, the checkpoint commit is dropped (crash
    // window), the OPERATOR compacts while the stream is down, the
    // restarted stream replays the batch against the compacted store,
    // and a third batch follows. Products must equal a from-scratch
    // release over the first-write corpus; nothing duplicates.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("relsoak").toFile.getAbsolutePath
    val checkpoint = s"$dir/_ck"
    val store = new ReleaseStore(spark, dir, "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    // the PACKAGED streaming entry: store.start wires foreachBatch →
    // ingest under the checkpoint's batch ids
    def start() = store.start(mem.toDF().toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2)))),
      checkpoint)
    val q1 = start()
    mem.addData((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (50L, "totally unrelated text about completely different things"))
    q1.processAllAvailable()
    mem.addData((3L, "alpha beta gamma delta epsilon eta"),
      (20L, "one two three four five six seven"),
      (1L, "a re-crawled different body for id one")) // dup id: ignored
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination()
    // crash window: the batch landed in the store but the CHECKPOINT
    // never committed it — recovery must replay it
    val commitDir = new java.io.File(s"$checkpoint/commits")
    val newest = commitDir.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commitDir, newest.toString).delete())
    // the local ChecksumFileSystem's sidecar would fail the re-commit's
    // rename if left behind (surfaces as a bogus concurrent-user error)
    new java.io.File(commitDir, s".$newest.crc").delete()
    // operator compaction between restarts (files rewritten + sidecars
    // of fully-committed batches pruned — batch 1 is committed
    // store-side even though the CHECKPOINT lost it)
    store.compact()
    val q2 = start()
    q2.processAllAvailable() // replays the dropped batch: no-op appends
    mem.addData((21L, "one two three four five six seven eight nine ten"),
      (51L, "another unique document with no shared trigrams at all"))
    q2.processAllAvailable()
    q2.stop()

    assert(store.docs.count() == 7, "replay or dup id duplicated a doc")
    assert(store.docs.where(col("doc_id") === 1L).count() == 1)
    assert(store.lastCommitted("docs") == 2L &&
      store.lastCommitted("scored") == 2L)
    val firstWrite = doc(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (50L, "totally unrelated text about completely different things"),
      (3L, "alpha beta gamma delta epsilon eta"),
      (20L, "one two three four five six seven"),
      (21L, "one two three four five six seven eight nine ten"),
      (51L, "another unique document with no shared trigrams at all"))
    val q = firstWrite.select(col("doc_id").as("id"), col("n_chars").as("q"))
    val got = store.products(threshold = 0.5, quality = q)
    val want = Dedup.releasePipeline(firstWrite, "doc_id", "text",
      threshold = 0.5, maxShingleDf = None, quality = q)
    assert(rows(got.scored) == rows(want.scored))
    assert(rows(got.pairs) == rows(want.pairs))
    assert(rows(got.clusters) == rows(want.clusters))
    assert(rows(got.keepers) == rows(want.keepers))
    assert(rows(got.containment) == rows(want.containment))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a live stream maintains the release via foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("relstream").toFile.getAbsolutePath
    val store = new ReleaseStore(spark, dir, "doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val stream = store.start(in.toDF().toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2)))),
      Files.createTempDirectory("relck").toFile.getAbsolutePath)
    try {
      in.addData((1L, "alpha beta gamma delta epsilon zeta"),
        (50L, "totally unrelated text about completely different things"))
      stream.processAllAvailable()
      in.addData((2L, "alpha beta gamma delta epsilon zeta"))
      stream.processAllAvailable()
      val q = store.docs.select(col("doc_id").as("id"),
        col("n_chars").as("q"))
      val pairs = store.products(threshold = 0.5, quality = q)
        .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)), s"got $pairs")
    } finally stream.stop()
    graft.ScratchCache.releaseAll(spark)
  }
}
