package graft.operators

import graft.SparkSpec
import graft.operators.dedup.{Dedup, MediaStore}
import graft.operators.multimodal.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The persisted perceptual near-dup store: batch-by-batch fingerprint
  * ingest (with replay, crash windows, compaction) accumulates exactly
  * the pair set a from-scratch banded-Hamming join derives, clusters
  * fold incrementally to the from-scratch CC labels, and purges serve
  * from stored pairs.
  */
class MediaStoreSpec extends SparkSpec {
  import spark.implicits._

  private val K = 0x0123456789abcdefL
  private def flips(base: Long, bits: Int*): Long =
    bits.foldLeft(base)((v, b) => v ^ (1L << b))
  // a second family far from K in every 16-bit chunk
  private val K2 = ~K
  private val K3 = K ^ 0x00ff00ff00ff00ffL

  private def prints(rows: (Long, Long)*): DataFrame =
    rows.toSeq.toDF("id", "sh").withColumn("kind", lit("image"))

  // near-dup relations deliberately SPAN batches: 1↔2 within b0, 1↔3
  // and 2↔3 across b0/b1, 20↔21 across b1/b2; 50/51 unrelated
  private val b0 = prints(1L -> K, 2L -> flips(K, 0), 50L -> K2)
  private val b1 = prints(3L -> flips(K, 0, 17), 20L -> K3)
  private val b2 = prints(21L -> flips(K3, 5), 51L -> flips(K2, 3, 20, 40, 55, 9))

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def allPrints = b0.unionByName(b1).unionByName(b2)

  private def wantPairs =
    Dedup.hammingPairs(allPrints, maxHamming = 3, blockCols = Seq("kind"))

  test("batch ingest with replay and re-crawled ids equals from-scratch hammingPairs") {
    val dir = Files.createTempDirectory("mediastore").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b0, batchId = Some(0L)) // at-least-once replay
    store.ingest(b1, batchId = Some(1L))
    // a re-crawled id (1L, even with a DIFFERENT sketch) is ignored —
    // first write wins
    store.ingest(b2.unionByName(prints(1L -> K2)), batchId = Some(2L))
    assert(store.lastCommitted("prints") == 2L &&
      store.lastCommitted("pairs") == 2L)
    assert(store.prints.count() == allPrints.count())
    assert(rows(store.pairs.drop("batch")) == rows(wantPairs))
    // the relations genuinely span batches
    val p = store.pairs.select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    assert(p.contains((1L, 3L)) && p.contains((2L, 3L)) &&
      p.contains((20L, 21L)) && p.contains((1L, 2L)))
    assert(!p.exists { case (a, b) => a == 50L || b == 50L })
  }

  test("landed-but-unmarked appends do not duplicate on id'd replay") {
    // the crash window: prints/pairs parquet appends land, the JVM dies
    // BEFORE the markers commit, the batch replays — guarded re-runs
    // the writes, and the id / pair-key anti-joins keep rows from
    // doubling
    val dir = Files.createTempDirectory("mediawin").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b1, batchId = Some(1L))
    def cnt(t: String) = spark.read.parquet(s"$dir/$t").count()
    val before = Seq(cnt("prints"), cnt("pairs"))
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("prints", "pairs").foreach { t => // hadoop delete takes the .crc too
      assert(hfs.delete(new org.apache.hadoop.fs.Path(s"$dir/_commits/$t"),
        false))
    }
    store.ingest(b1, batchId = Some(1L)) // replay re-runs the guarded writes
    assert(Seq(cnt("prints"), cnt("pairs")) == before)
    store.ingest(b2, batchId = Some(2L))
    assert(rows(store.pairs.drop("batch")) == rows(wantPairs))
  }

  test("un-id'd ingest is idempotent and still accumulates the exact pair set") {
    val dir = Files.createTempDirectory("mediaunid").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    store.ingest(b0)
    store.ingest(b0) // repeated call: accepted set resolves empty
    store.ingest(b1)
    store.ingest(b2)
    assert(store.prints.count() == allPrints.count())
    assert(rows(store.pairs.drop("batch")) == rows(wantPairs))
    // un-id'd rows (batch = −1) force the full-CC fallback — labels
    // still correct
    assert(rows(store.clusters()) ==
      rows(Dedup.connectedComponents(wantPairs)))
  }

  test("mid-stream compaction preserves parity and the crash window heals") {
    val dir = Files.createTempDirectory("mediacompact").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    store.ingest(b0, batchId = Some(0L))
    store.compact(targetFileBytes = 8L * 1024 * 1024)
    store.ingest(b1, batchId = Some(1L))
    // simulate compact dying between its two renames: the whole table
    // moved aside, nothing live — any next access must heal it
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.rename(new org.apache.hadoop.fs.Path(s"$dir/prints"),
      new org.apache.hadoop.fs.Path(s"$dir/prints.compact.old")))
    store.ingest(b2, batchId = Some(2L))
    assert(store.prints.count() == allPrints.count())
    assert(rows(store.pairs.drop("batch")) == rows(wantPairs))
    // sidecars of fully-committed batches are pruned by compact
    store.compact(targetFileBytes = 8L * 1024 * 1024)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches/batch=0")))
    // an old batch replayed AFTER compaction is still a no-op
    store.ingest(b0, batchId = Some(0L))
    assert(store.prints.count() == allPrints.count())
  }

  test("incremental cluster folds equal from-scratch CC, and serve cached when nothing is new") {
    val dir = Files.createTempDirectory("mediacc").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    store.ingest(b0, batchId = Some(0L))
    val l0 = rows(store.clusters()) // first fold
    assert(l0 == rows(Dedup.connectedComponents(
      Dedup.hammingPairs(b0, maxHamming = 3))))
    store.ingest(b1, batchId = Some(1L))
    store.ingest(b2, batchId = Some(2L))
    // folds in only the new batches' pairs (prior components as star
    // edges) — must equal the from-scratch CC over ALL stored pairs
    assert(rows(store.clusters()) ==
      rows(Dedup.connectedComponents(wantPairs)))
    // nothing new: served from the cached label table
    assert(store.lastCommitted("clusters") == 2L)
    assert(rows(store.clusters()) ==
      rows(Dedup.connectedComponents(wantPairs)))
  }

  test("purge keeps the max-quality member per cluster and every unpaired doc") {
    val dir = Files.createTempDirectory("mediapurge").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b1, batchId = Some(1L))
    store.ingest(b2, batchId = Some(2L))
    val ids = allPrints.select(col("id"))
    // quality = id, so the LARGEST id per cluster survives
    val q = ids.select(col("id"), col("id").cast("long").as("q"))
    val surv = store.purge(ids, "id", q).as[Long].collect().toSet
    // cluster {1,2,3} keeps 3; {20,21} keeps 21; 50/51 unpaired survive
    assert(surv == Set(3L, 21L, 50L, 51L))
    val keep = store.keepers(q).select("cluster", "keeper_id")
      .as[(Long, Long)].collect().toMap
    assert(keep == Map(1L -> 3L, 20L -> 21L))
  }

  test("shape pin: a different radius refuses, open() reconstructs the pinned shape") {
    val dir = Files.createTempDirectory("mediapin").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir, maxHamming = 3)
    store.ingest(b0, batchId = Some(0L))
    val bad = new MediaStore(spark, dir, maxHamming = 2)
    val e = intercept[IllegalStateException] {
      bad.ingest(b1, batchId = Some(1L))
    }
    assert(e.getMessage.contains("maxHamming"))
    val reopened = MediaStore.open(spark, dir)
    reopened.ingest(b1, batchId = Some(1L))
    reopened.ingest(b2, batchId = Some(2L))
    assert(rows(reopened.pairs.drop("batch")) == rows(wantPairs))
    intercept[IllegalStateException] {
      MediaStore.open(spark,
        Files.createTempDirectory("mediapin2").toFile.getAbsolutePath)
    }
  }

  test("fingerprints dispatches all three modalities to their real dHash") {
    val kI = graft.queries.Pipeline.h48("ms_img") // 48-bit: valid dHash keys
    val kV = graft.queries.Pipeline.h48("ms_vid")
    val kA = graft.queries.Pipeline.h48("ms_aud")
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Multimodal.encodePathPng(kI), "s"),
      Multimodal.MediaRow(2L, "video",
        Multimodal.encodePathAvi(Seq(kV, kV, kV)), "s"),
      Multimodal.MediaRow(3L, "audio", Multimodal.encodeStepWav(kA), "s"),
      Multimodal.MediaRow(4L, "image", Array.emptyByteArray, "s")
    ).toDS()
    val got = MediaStore.fingerprints(media).as[(Long, Long, String)]
      .collect().map { case (id, sh, kind) => id -> ((sh, kind)) }.toMap
    assert(got == Map(1L -> ((kI, "image")), 2L -> ((kV, "video")),
      3L -> ((kA, "audio")))) // empty row routed out
  }

  test("a never-ingested store's accessors read empty instead of throwing") {
    val dir = Files.createTempDirectory("mediafresh").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    assert(store.prints.count() == 0 && store.pairs.count() == 0)
    assert(store.clusters().count() == 0)
  }

  test("ingest releases only its OWN scratch persists - caller-held caches survive") {
    val dir = Files.createTempDirectory("mediascope").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    // the rehearsal/bench shape: a persisted fingerprint corpus sliced
    // into batches — a releaseAll inside ingest would unpersist it and
    // every later batch would silently recompute the full lineage
    val corpus = graft.ScratchCache.persist(allPrints)
    corpus.count()
    store.ingest(corpus.where(col("id") < 10L), batchId = Some(0L))
    assert(corpus.storageLevel.useMemory || corpus.storageLevel.useDisk,
      "ingest unpersisted a caller-held frame")
    store.ingest(corpus.where(col("id") >= 10L), batchId = Some(1L))
    assert(rows(store.pairs.drop("batch")) == rows(wantPairs))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a store pinned with a bucketed layout refuses to open") {
    // an older build could pin buckets > 0 and write id-hash partition
    // dirs; the one flat layout must refuse such a store at its entry
    // points instead of reading it as flat
    val dir = Files.createTempDirectory("mediabucketpin").toFile.getAbsolutePath
    new MediaStore(spark, dir).ingest(b0, batchId = Some(0L))
    val meta = java.nio.file.Paths.get(s"$dir/store.meta")
    Files.write(meta, new String(Files.readAllBytes(meta), "UTF-8")
      .replace("buckets=0", "buckets=8").getBytes("UTF-8"))
    val store = MediaStore.open(spark, dir)
    val e = intercept[IllegalStateException] {
      store.ingest(b1, batchId = Some(1L))
    }
    assert(e.getMessage.contains("buckets=8"))
    intercept[IllegalStateException](store.prints)
    assert(store.lastCommitted("prints") == 0L)
  }

  test("soak: streaming ingest with kill before checkpoint commit + compaction between restarts") {
    // the full streaming lifecycle: media rows arrive as a stream,
    // each micro-batch real-decodes to fingerprints and ingests under
    // the checkpoint's batch ids; a dropped checkpoint commit forces an
    // at-least-once replay against a store the operator compacted
    // while the stream was down. Pairs must equal a from-scratch
    // hammingPairs over the decoded corpus; nothing duplicates.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("mediasoak").toFile.getAbsolutePath
    val checkpoint = s"$dir/_ck"
    val store = new MediaStore(spark, dir)
    val mem = MemoryStream[Long]
    def start() = store.start(
      mem.toDS().map(MediaStoreSpec.image _), checkpoint,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // data first: AvailableNow fixes its end offset at start()
    mem.addData(1L, 2L)
    val q1 = start()
    q1.awaitTermination()
    // crash window: the batch landed in the store but the CHECKPOINT
    // never committed it — recovery must replay it as a no-op
    val commitDir = new java.io.File(s"$checkpoint/commits")
    val newest = commitDir.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commitDir, newest.toString).delete())
    new java.io.File(commitDir, s".$newest.crc").delete()
    store.compact(targetFileBytes = 1L)
    mem.addData(3L, 50L)
    val q2 = start()
    q2.awaitTermination()
    assert(store.prints.count() == 4)
    val want = Dedup.hammingPairs(
      MediaStore.fingerprints((1L to 3L).map(MediaStoreSpec.image)
        .:+(MediaStoreSpec.image(50L)).toDS()), maxHamming = 3,
      blockCols = Seq("kind"))
    assert(rows(store.pairs.drop("batch")) == rows(want))
    graft.ScratchCache.releaseAll(spark)
  }

  test("mixed-modality ingest never pairs across kinds, even at Hamming 0") {
    // the degenerate-hash scenario: an image, an audio clip and a video
    // whose 64-bit fingerprints are IDENTICAL (planted collision — a
    // solid PNG's gradient dHash and a constant envelope both land
    // degenerate in the wild), plus a genuine in-kind near-dup per
    // modality. Pairs must form within a kind only.
    val dir = Files.createTempDirectory("mediakinds").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    def kinded(kind: String, rows: (Long, Long)*): DataFrame =
      rows.toSeq.toDF("id", "sh").withColumn("kind", lit(kind))
    val m0 = kinded("image", 1L -> K, 2L -> flips(K, 0))
      .unionByName(kinded("audio", 3L -> K))
    val m1 = kinded("video", 4L -> K, 5L -> flips(K, 2))
      .unionByName(kinded("audio", 6L -> flips(K, 1)))
    store.ingest(m0, batchId = Some(0L))
    store.ingest(m1, batchId = Some(1L)) // cross-batch probes too
    val got = store.pairs.select("id_a", "id_b", "kind")
      .as[(Long, Long, String)].collect().toSet
    // in-kind: image 1↔2, audio 3↔6, video 4↔5; NOTHING across kinds
    // despite six fingerprints within Hamming ≤ 2 of each other
    assert(got == Set((1L, 2L, "image"), (3L, 6L, "audio"),
      (4L, 5L, "video")))
    // purge can therefore never delete across modalities
    val ids = store.prints.select(col("id"))
    val q = ids.select(col("id"), col("id").cast("long").as("q"))
    assert(store.purge(ids, "id", q).as[Long].collect().toSet ==
      Set(2L, 6L, 5L))
  }

  test("ingest without a kind column refuses instead of guessing") {
    val dir = Files.createTempDirectory("mediareq").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    val e = intercept[IllegalArgumentException] {
      store.ingest(Seq(1L -> K).toDF("id", "sh"), batchId = Some(0L))
    }
    assert(e.getMessage.contains("kind"))
  }

  test("an all-duplicate batch appends nothing and the store keeps working") {
    val dir = Files.createTempDirectory("mediadup").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b0.withColumn("sh", col("sh") + 1L), batchId = Some(1L))
    assert(store.prints.count() == b0.count()) // re-crawled ids ignored
    store.ingest(b1, batchId = Some(2L))
    store.ingest(b2, batchId = Some(3L))
    assert(rows(store.pairs.drop("batch")) == rows(wantPairs))
  }

  // ---- the CLIP plane: per-clip frame sequences, incremental
  // alignment, sub-clip purge served from stored state

  private def clipRows(kind: String, rs: (Long, Seq[Long])*): DataFrame =
    rs.toSeq.flatMap { case (id, hs) =>
      hs.zipWithIndex.map { case (h, i) => (id, i.toLong, h) }
    }.toDF("id", "frame_idx", "sh").withColumn("kind", lit(kind))

  private def fh(i: Int): Long = graft.queries.Pipeline.h48(s"clipframe_$i")

  test("incremental clip ingest equals from-scratch alignment; purge matches the batch operator") {
    val dir = Files.createTempDirectory("clipstore").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    // batch 0: the full clip (frames 0..3) + an unrelated clip
    val c0 = clipRows("video", 10L -> Seq(fh(0), fh(1), fh(2), fh(3)),
      12L -> Seq(fh(10), fh(11), fh(12)))
    // batch 1: cut-out re-posts of frames 1..2 and 2..3 — both align
    // against the STORED full clip; 11 and 13 also share one frame
    val c1 = clipRows("video", 11L -> Seq(fh(1), fh(2)),
      13L -> Seq(fh(2), fh(3)))
    store.ingestClips(c0, batchId = Some(0L))
    store.compact(targetFileBytes = 1L) // the post-compact spread path
    store.ingestClips(c1, batchId = Some(1L))
    store.ingestClips(c1, batchId = Some(1L)) // at-least-once replay
    assert(store.lastCommitted("clipframes") == 1L &&
      store.lastCommitted("clippairs") == 1L)
    val all = c0.unionByName(c1)
    assert(store.clipFrames.count() == all.count()) // no duplicates
    val want = Multimodal.clipAlignment(all, maxHamming = 0)
    assert(rows(store.clipPairs.drop("kind", "batch")) == rows(want))
    // the release decision from STORED alignment: quality = frame
    // count, so the full upload beats both its cut-outs (one cluster
    // {10, 11, 13} via the ≥800‰ directed containments, keeper 10)
    val corpus = Seq(10L, 11L, 12L, 13L).toDF("id")
    val quality = all.groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("q"))
    val got = store.purgeClips(corpus, "id", quality, thresholdPm = 800)
    val wantP = Multimodal.clipContainmentPurge(corpus, "id", all,
      quality, thresholdPm = 800)
    assert(rows(got) == rows(wantP))
    assert(got.as[Long].collect().toSet == Set(10L, 12L))
    graft.ScratchCache.releaseAll(spark)
  }

  test("clip alignment never crosses kinds, even on identical hash sequences") {
    val dir = Files.createTempDirectory("clipkinds").toFile.getAbsolutePath
    val store = new MediaStore(spark, dir)
    // a video and an audio clip with IDENTICAL frame-hash sequences
    // (degenerate inputs hash degenerate) — must never align
    val v = clipRows("video", 1L -> Seq(fh(0), fh(1), fh(2)))
    val a = clipRows("audio", 2L -> Seq(fh(0), fh(1), fh(2)))
    store.ingestClips(v.unionByName(a), batchId = Some(0L))
    // cross-batch too: an audio cut-out aligns with its audio source
    // but not with the hash-identical video
    store.ingestClips(clipRows("audio", 3L -> Seq(fh(1), fh(2))),
      batchId = Some(1L))
    val got = store.clipPairs.select("id_a", "id_b", "kind")
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((2L, 3L, "audio"), (3L, 2L, "audio")), s"got $got")
  }

  test("startClips soaks: kill before checkpoint commit + compaction between restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("clipsoak").toFile.getAbsolutePath
    val checkpoint = s"$dir/_ck"
    val store = new MediaStore(spark, dir)
    val mem = MemoryStream[Long]
    def start() = store.startClips(
      mem.toDS().map(MediaStoreSpec.video _), checkpoint,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // data first: AvailableNow fixes its end offset at start()
    mem.addData(1L) // the full 4-frame clip
    val q1 = start()
    q1.awaitTermination()
    // crash window: the batch landed but the checkpoint never
    // committed — recovery must replay it as a no-op
    val commitDir = new java.io.File(s"$checkpoint/commits")
    val newest = commitDir.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commitDir, newest.toString).delete())
    new java.io.File(commitDir, s".$newest.crc").delete()
    store.compact(targetFileBytes = 1L)
    mem.addData(2L) // the cut-out re-post, against the stored full clip
    val q2 = start()
    q2.awaitTermination()
    val seqs = MediaStore.frameSequences(
      Seq(1L, 2L).map(MediaStoreSpec.video).toDS())
    assert(store.clipFrames.count() == seqs.count())
    assert(rows(store.clipPairs.drop("kind", "batch")) ==
      rows(Multimodal.clipAlignment(seqs, maxHamming = 0)))
    // the cut-out is fully contained → purged in favor of the original
    val quality = seqs.groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("q"))
    assert(store.purgeClips(Seq(1L, 2L).toDF("id"), "id", quality)
      .as[Long].collect().toSet == Set(1L))
    graft.ScratchCache.releaseAll(spark)
  }

  test("two-plane concurrency soak: prints + clips streams share one store and process") {
    // the per-thread ScratchCache scope and the clip plane's namespaced
    // sidecars exist precisely so two streams can share one store in
    // one process (the writeLock serializes the ingest bodies; nothing
    // else is shared mutable state): prove it. Both planes run
    // CONCURRENTLY on ProcessingTime triggers — their foreachBatch
    // bodies genuinely contend for the lock — with a kill-before-
    // checkpoint-commit window on the prints stream and a compact()
    // while the clip stream stays LIVE. Each plane's state must equal
    // its from-scratch target, and neither plane's scratch persists or
    // sidecars may perturb the other's.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("twoplane").toFile.getAbsolutePath
    val ckA = s"$dir/_ckA"
    val ckB = s"$dir/_ckB"
    val store = new MediaStore(spark, dir)
    val memA = MemoryStream[Long]
    val memB = MemoryStream[Long]
    val trig = org.apache.spark.sql.streaming.Trigger
      .ProcessingTime("50 milliseconds")
    def startA() = store.start(memA.toDS().map(MediaStoreSpec.image _),
      ckA, trigger = trig)
    val qB = store.startClips(memB.toDS().map(MediaStoreSpec.video _),
      ckB, trigger = trig)
    val qA1 = startA()
    memA.addData(1L, 2L)
    memB.addData(1L) // the full 4-frame clip
    qA1.processAllAvailable()
    qB.processAllAvailable()
    // crash window on the PRINTS stream only: its batch landed in the
    // store but the checkpoint never committed — the clip stream keeps
    // running through A's recovery replay
    qA1.stop()
    qA1.awaitTermination()
    val commitDir = new java.io.File(s"$ckA/commits")
    val newest = commitDir.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commitDir, newest.toString).delete())
    new java.io.File(commitDir, s".$newest.crc").delete()
    // compact under the live clip stream (writeLock serializes it
    // against B's in-flight ingests)
    store.compact(targetFileBytes = 1L)
    memB.addData(2L) // the cut-out, against the stored full clip
    val qA2 = startA()
    memA.addData(3L, 50L)
    qA2.processAllAvailable()
    qB.processAllAvailable()
    qA2.stop(); qB.stop()
    qA2.awaitTermination(); qB.awaitTermination()
    // prints plane: replay was a no-op, pairs equal from-scratch
    assert(store.prints.count() == 4)
    val wantPrints = Dedup.hammingPairs(
      MediaStore.fingerprints((1L to 3L).map(MediaStoreSpec.image)
        .:+(MediaStoreSpec.image(50L)).toDS()), maxHamming = 3,
      blockCols = Seq("kind"))
    assert(rows(store.pairs.drop("batch")) == rows(wantPrints))
    // clip plane: alignment equals from-scratch over both clips
    val seqs = MediaStore.frameSequences(
      Seq(1L, 2L).map(MediaStoreSpec.video).toDS())
    assert(store.clipFrames.count() == seqs.count())
    assert(rows(store.clipPairs.drop("kind", "batch")) ==
      rows(Multimodal.clipAlignment(seqs, maxHamming = 0)))
    // sidecar isolation: each plane's accepted-id sidecars live in its
    // own namespace (no cross-plane batch=N collision possible)
    assert(new java.io.File(s"$dir/batches").exists())
    assert(new java.io.File(s"$dir/batches_clips").exists())
    graft.ScratchCache.releaseAll(spark)
  }
}

object MediaStoreSpec {
  /** Path-PNG images whose REAL-decoded dHash equals a planted key:
    * ids 1..3 form a ≤3-Hamming family (so the stream's batches pair
    * across the kill/replay boundary), 50 is unrelated. An object
    * member so stream lineages don't capture the spec class.
    */
  def image(id: Long): graft.operators.multimodal.Multimodal.MediaRow = {
    val k = graft.queries.Pipeline.h48("mediasoak")
    val sh = id match {
      case 1L => k
      case 2L => k ^ 1L
      case 3L => k ^ 8L
      case other => graft.queries.Pipeline.h48(s"far_$other")
    }
    graft.operators.multimodal.Multimodal.MediaRow(id, "image",
      graft.operators.multimodal.Multimodal.encodePathPng(sh), "s")
  }

  /** Path-AVI clips for the clip-plane soak: id 1 carries the full
    * 4-frame sequence, id 2 the frames-1..2 cut-out re-post.
    */
  def video(id: Long): graft.operators.multimodal.Multimodal.MediaRow = {
    def fk(i: Int): Long = graft.queries.Pipeline.h48(s"clipsoak_f$i")
    val keys =
      if (id == 1L) Seq(fk(0), fk(1), fk(2), fk(3))
      else Seq(fk(1), fk(2))
    graft.operators.multimodal.Multimodal.MediaRow(id, "video",
      graft.operators.multimodal.Multimodal.encodePathAvi(keys), "s")
  }
}
