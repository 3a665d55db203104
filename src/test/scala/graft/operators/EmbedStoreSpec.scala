package graft.operators

import graft.SparkSpec
import graft.operators.dedup.{Dedup, EmbedStore}
import graft.operators.similarity.CosineSearch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The persisted embedding near-dup store: batch-by-batch vector
  * ingest (with replay, crash windows, compaction) accumulates exactly
  * the verified pair set a from-scratch [[CosineSearch.nearDupPairs]]
  * derives (same seeded hyperplanes, same cast/norm/verify
  * arithmetic), clusters fold incrementally, purges serve from stored
  * pairs.
  */
class EmbedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val T = 400000L // thresholdE6, the q_sim_neardup knob

  /** Deterministic 8-dim bases far apart in cosine; members of one
    * group are SCALED copies (cosine exactly 1, identical sign
    * sketches in every table — bucket collision guaranteed, so the
    * planted pair structure is deterministic even under random
    * hyperplanes).
    */
  private def base(g: Int): Seq[Double] =
    (0 until 8).map(i => if (i == g % 8) 1.0 else 0.0)

  private def vecs(rows: (Long, Seq[Double])*): DataFrame =
    rows.toSeq.toDF("id", "embedding")

  private val b0 = vecs(1L -> base(0), 50L -> base(5))
  private val b1 = vecs(2L -> base(0).map(_ * 3.0), 20L -> base(1))
  private val b2 = vecs(3L -> base(0).map(_ * 0.5),
    21L -> base(1).map(_ * 2.0), 51L -> base(6))
  private def all = b0.unionByName(b1).unionByName(b2)

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def want = CosineSearch.nearDupPairs(all, thresholdE6 = T)

  test("batch ingest with replay and re-crawled ids equals from-scratch nearDupPairs") {
    val dir = Files.createTempDirectory("embstore").toFile.getAbsolutePath
    val store = new EmbedStore(spark, dir, thresholdE6 = T)
    store.ingest(b0, batchId = Some(0L))
    store.ingest(b0, batchId = Some(0L)) // at-least-once replay
    store.ingest(b1, batchId = Some(1L))
    store.compact(targetFileBytes = 1L) // post-compact probe path
    // a re-crawled id (1L, with a DIFFERENT vector) is ignored
    store.ingest(b2.unionByName(vecs(1L -> base(7))), batchId = Some(2L))
    assert(store.lastCommitted("vecs") == 2L &&
      store.lastCommitted("pairs") == 2L)
    assert(store.vectors.count() == all.count())
    assert(rows(store.pairs.drop("batch")) == rows(want))
    // the planted relations genuinely span batches: scaled copies are
    // cosine-1 pairs with identical buckets in every table
    val p = store.pairs.select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    assert(p.contains((1L, 2L)) && p.contains((1L, 3L)) &&
      p.contains((2L, 3L)) && p.contains((20L, 21L)))
    graft.ScratchCache.releaseAll(spark)
  }

  test("incremental clusters fold to full CC; purge keeps one keeper per cluster") {
    val dir = Files.createTempDirectory("embclust").toFile.getAbsolutePath
    val store = new EmbedStore(spark, dir, thresholdE6 = T)
    store.ingest(b0, batchId = Some(0L))
    store.clusters() // fold after every batch — real incremental path
    store.ingest(b1, batchId = Some(1L))
    store.clusters()
    store.ingest(b2, batchId = Some(2L))
    val got = store.clusters()
    val wantCl = Dedup.connectedComponents(
      want.select(col("id_a"), col("id_b")))
    assert(rows(got) == rows(wantCl))
    // quality = id: the highest id wins each cluster
    val q = all.select(col("id"), col("id").cast("long").as("q"))
    val surv = store.purge(all.select(col("id")), "id", q)
      .as[Long].collect().toSet
    assert(surv == Set(3L, 21L, 50L, 51L), s"got $surv")
    graft.ScratchCache.releaseAll(spark)
  }

  test("the dim pin refuses a mismatched batch and mixed-dim batches") {
    val dir = Files.createTempDirectory("embdim").toFile.getAbsolutePath
    val store = new EmbedStore(spark, dir, thresholdE6 = T)
    store.ingest(b0, batchId = Some(0L))
    val e1 = intercept[IllegalArgumentException] {
      store.ingest(Seq((99L, Seq(1.0, 0.0))).toDF("id", "embedding"),
        batchId = Some(1L))
    }
    assert(e1.getMessage.contains("dim"))
    // a fresh batch id keeps the two refusal cases independent (dim
    // refusals fire before membership resolution, so nothing was
    // pinned — but independence shouldn't rest on that)
    val e2 = intercept[IllegalArgumentException] {
      store.ingest(Seq((98L, Seq(1.0, 0.0)),
        (97L, Seq(1.0, 0.0, 0.0))).toDF("id", "embedding"),
        batchId = Some(2L))
    }
    assert(e2.getMessage.contains("mixed"))
    // the shape pin owns reopens: a different threshold is refused
    val e3 = intercept[IllegalStateException] {
      new EmbedStore(spark, dir, thresholdE6 = T + 1).pairs
    }
    assert(e3.getMessage.contains("thresholdE6"))
    // open() reconstructs the pinned shape
    assert(rows(EmbedStore.open(spark, dir).pairs.drop("batch")) ==
      rows(CosineSearch.nearDupPairs(b0, thresholdE6 = T)))
    graft.ScratchCache.releaseAll(spark)
  }

  test("rehash migrates bits: post-rehash ingests equal a from-scratch store at the new width") {
    val dirA = Files.createTempDirectory("embrehA").toFile.getAbsolutePath
    val dirB = Files.createTempDirectory("embrehB").toFile.getAbsolutePath
    val a = new EmbedStore(spark, dirA, thresholdE6 = T, bits = 4)
    a.ingest(b0, batchId = Some(0L))
    a.rehash(10)
    a.ingest(b1, batchId = Some(1L))
    a.ingest(b2, batchId = Some(2L))
    val b = new EmbedStore(spark, dirB, thresholdE6 = T, bits = 10)
    Seq(b0, b1, b2).zipWithIndex.foreach { case (batch, i) =>
      b.ingest(batch, batchId = Some(i.toLong)) }
    // the rebuilt postings ARE a bits-10 store's postings (signatures
    // are data-independent functions of (vec, bits, tables, seed), and
    // the rehash carries each id's original batch lineage)
    assert(rows(spark.read.parquet(s"$dirA/postings")) ==
      rows(spark.read.parquet(s"$dirB/postings")))
    // so post-rehash batches pair exactly as the from-scratch store
    assert(rows(a.pairs.where(col("batch") >= 1L)) ==
      rows(b.pairs.where(col("batch") >= 1L)))
    // and the accumulated set still equals from-scratch nearDupPairs
    // (scaled copies collide at ANY width — the planted recall holds)
    assert(rows(a.pairs.drop("batch")) == rows(want))
    // bits re-pinned: the OLD width is refused on reopen; open() works
    val e = intercept[IllegalStateException] {
      new EmbedStore(spark, dirA, thresholdE6 = T, bits = 4).pairs
    }
    assert(e.getMessage.contains("bits"))
    assert(rows(EmbedStore.open(spark, dirA).pairs.drop("batch")) ==
      rows(want))
    // a never-ingested store has nothing to migrate
    val fresh = new EmbedStore(spark,
      Files.createTempDirectory("embreh0").toFile.getAbsolutePath,
      thresholdE6 = T, bits = 4)
    assert(intercept[IllegalStateException](fresh.rehash(10))
      .getMessage.contains("construct"))
    graft.ScratchCache.releaseAll(spark)
  }

  test("an interrupted rehash (intent pinned, crash before rebuild) completes on the next ingest") {
    val dirA = Files.createTempDirectory("embrehCrash").toFile.getAbsolutePath
    val dirB = Files.createTempDirectory("embrehRef").toFile.getAbsolutePath
    val a0 = new EmbedStore(spark, dirA, thresholdE6 = T, bits = 4)
    a0.ingest(b0, batchId = Some(0L))
    // the crash window right after rehash() pins its intent: plant
    // rehash_to by hand, with the postings still at bits = 4
    val metaF = new java.io.File(s"$dirA/store.meta")
    val txt = new String(java.nio.file.Files.readAllBytes(metaF.toPath),
      "UTF-8")
    java.nio.file.Files.write(metaF.toPath,
      (txt + "rehash_to=10\n").getBytes("UTF-8"))
    // the out-of-band edit invalidates LocalFileSystem's checksum
    // sidecar — drop it (a real crash leaves a CONSISTENT pin; the
    // raw edit is just the cheapest way to plant one)
    new java.io.File(s"$dirA/.store.meta.crc").delete()
    // a reopen reads the still-pinned bits = 4; the first ingest must
    // finish the migration BEFORE posting the batch
    val a = EmbedStore.open(spark, dirA)
    a.ingest(b1, batchId = Some(1L))
    val b = new EmbedStore(spark, dirB, thresholdE6 = T, bits = 10)
    b.ingest(b0, batchId = Some(0L))
    b.ingest(b1, batchId = Some(1L))
    assert(rows(spark.read.parquet(s"$dirA/postings")) ==
      rows(spark.read.parquet(s"$dirB/postings")))
    assert(rows(a.pairs.drop("batch")) == rows(b.pairs.drop("batch")))
    // the intent is gone and bits re-pinned
    val meta = new String(java.nio.file.Files.readAllBytes(metaF.toPath),
      "UTF-8")
    assert(!meta.contains("rehash_to") && meta.contains("bits=10"))
    graft.ScratchCache.releaseAll(spark)
  }

  test("a store pinned with a bucketed layout refuses to open") {
    // an older build could pin buckets > 0 and write id-hash partition
    // dirs; the one flat layout must refuse such a store at its entry
    // points instead of reading it as flat
    val dir = Files.createTempDirectory("embbucketpin").toFile.getAbsolutePath
    new EmbedStore(spark, dir, thresholdE6 = T).ingest(b0, batchId = Some(0L))
    val meta = java.nio.file.Paths.get(s"$dir/store.meta")
    Files.write(meta, new String(Files.readAllBytes(meta), "UTF-8")
      .replace("buckets=0", "buckets=8").getBytes("UTF-8"))
    val store = EmbedStore.open(spark, dir)
    val e = intercept[IllegalStateException] {
      store.ingest(b1, batchId = Some(1L))
    }
    assert(e.getMessage.contains("buckets=8"))
    intercept[IllegalStateException](store.vectors)
    assert(store.lastCommitted("vecs") == 0L)
  }

  test("bitsFor sizes the width to the corpus") {
    assert(EmbedStore.bitsFor(1000L) == 9)
    assert(EmbedStore.bitsFor(100000L) == 16)
    assert(EmbedStore.bitsFor(100000000L) == 24) // clamped ceiling
    assert(EmbedStore.bitsFor(10L) == 8) // clamped floor
  }

  test("the width watch surfaces an outgrown pin on ingest; rehash to the advised width quiets it") {
    // a bits = 2 store is outgrown by ANY corpus (bitsFor floors at 8,
    // more than one doubling above the pin) — the miniature of a
    // bits = 8 store past ~10⁵ vectors, where a batch's candidates
    // blanket every bucket (the ×100 rehearsal's measured trap)
    val dirA = Files.createTempDirectory("embadvA").toFile.getAbsolutePath
    val a = new EmbedStore(spark, dirA, thresholdE6 = T, bits = 2)
    a.ingest(b0, batchId = Some(0L))
    assert(a.lastAdvisory == Some(8),
      "the ingest itself must surface the advisory")
    assert(a.widthAdvisory() == Some(8))
    a.ingest(b1, batchId = Some(1L))
    // the advised migration, mid-stream: the watch goes quiet and the
    // pairs still equal the from-scratch truth
    a.rehash(a.widthAdvisory().get)
    a.compact(targetFileBytes = 1L)
    assert(a.widthAdvisory() == None, "migrated: the watch goes quiet")
    a.ingest(b2, batchId = Some(2L))
    assert(a.lastAdvisory == None)
    assert(rows(a.pairs.drop("batch")) == rows(want))
    val metaA = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$dirA/store.meta").toPath), "UTF-8")
    assert(metaA.contains("bits=8"), metaA)
    // an adequately-sized store stays advisory-free end to end
    val dirC = Files.createTempDirectory("embadvC").toFile.getAbsolutePath
    val c = new EmbedStore(spark, dirC, thresholdE6 = T) // default bits = 8
    c.ingest(b0, batchId = Some(0L))
    assert(c.lastAdvisory == None && c.widthAdvisory() == None)
    c.compact(targetFileBytes = 1L)
    val metaC = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$dirC/store.meta").toPath), "UTF-8")
    assert(metaC.contains("bits=8"))
    graft.ScratchCache.releaseAll(spark)
  }

  test("soak: streaming ingest with kill before checkpoint commit + compaction between restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("embsoak").toFile.getAbsolutePath
    val checkpoint = s"$dir/_ck"
    val store = new EmbedStore(spark, dir, thresholdE6 = T)
    val mem = MemoryStream[Long]
    def start() = store.start(
      mem.toDS().map(EmbedStoreSpec.row _).toDF("id", "embedding"),
      checkpoint,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // data first: AvailableNow fixes its end offset at start()
    mem.addData(1L, 50L)
    val q1 = start()
    q1.awaitTermination()
    // crash window: the batch landed but the checkpoint never committed
    val commitDir = new java.io.File(s"$checkpoint/commits")
    val newest = commitDir.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commitDir, newest.toString).delete())
    new java.io.File(commitDir, s".$newest.crc").delete()
    store.compact(targetFileBytes = 1L)
    mem.addData(2L, 51L)
    val q2 = start()
    q2.awaitTermination()
    assert(store.vectors.count() == 4)
    val corpus = Seq(1L, 50L, 2L, 51L).map(i => i -> EmbedStoreSpec.vec(i))
      .toDF("id", "embedding")
    assert(rows(store.pairs.drop("batch")) ==
      rows(CosineSearch.nearDupPairs(corpus, thresholdE6 = T)))
    graft.ScratchCache.releaseAll(spark)
  }
  test("two-plane process soak: an EmbedStore stream and a MediaStore stream share one process") {
    // the vector twin of MediaStoreSpec's two-plane soak: the
    // per-thread ScratchCache scopes and per-store locks exist so two
    // DIFFERENT stores' streams can share one process — prove it for
    // the EmbedStore entry (its foreachBatch bodies contend with the
    // media stream's for scheduler slots, scratch persists and the
    // shared footer caches). Kill-before-checkpoint-commit on the
    // embed stream, compact() on its store while the media stream
    // stays LIVE; each plane's state must equal its from-scratch
    // target afterward.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.dedup.MediaStore
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dirE = Files.createTempDirectory("twoplaneE").toFile.getAbsolutePath
    val dirM = Files.createTempDirectory("twoplaneM").toFile.getAbsolutePath
    val ckE = s"$dirE/_ck"
    val ckM = s"$dirM/_ck"
    val e = new EmbedStore(spark, dirE, thresholdE6 = T)
    val m = new MediaStore(spark, dirM)
    val memE = MemoryStream[Long]
    val memM = MemoryStream[Long]
    val trig = org.apache.spark.sql.streaming.Trigger
      .ProcessingTime("50 milliseconds")
    def startE() = e.start(
      memE.toDS().map(EmbedStoreSpec.row _).toDF("id", "embedding"),
      ckE, trigger = trig)
    val qM = m.start(memM.toDS().map(MediaStoreSpec.image _), ckM,
      trigger = trig)
    val qE1 = startE()
    memE.addData(1L, 50L)
    memM.addData(1L, 2L)
    qE1.processAllAvailable()
    qM.processAllAvailable()
    // crash window on the EMBED stream only: its batch landed in the
    // store but the checkpoint never committed — the media stream
    // keeps running through E's recovery replay
    qE1.stop()
    qE1.awaitTermination()
    val commitDir = new java.io.File(s"$ckE/commits")
    val newest = commitDir.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commitDir, newest.toString).delete())
    new java.io.File(commitDir, s".$newest.crc").delete()
    // compact the embed store under the live media stream
    e.compact(targetFileBytes = 1L)
    memE.addData(2L, 51L)
    memM.addData(3L, 50L)
    val qE2 = startE()
    qE2.processAllAvailable()
    qM.processAllAvailable()
    qE2.stop(); qM.stop()
    qE2.awaitTermination(); qM.awaitTermination()
    // embed plane: the replay was a no-op, pairs equal from-scratch
    assert(e.vectors.count() == 4)
    val corpus = Seq(1L, 50L, 2L, 51L).map(i => i -> EmbedStoreSpec.vec(i))
      .toDF("id", "embedding")
    assert(rows(e.pairs.drop("batch")) ==
      rows(CosineSearch.nearDupPairs(corpus, thresholdE6 = T)))
    // media plane: untouched by E's kill/compact window
    assert(m.prints.count() == 4)
    val wantPrints = Dedup.hammingPairs(
      MediaStore.fingerprints(
        Seq(1L, 2L, 3L, 50L).map(MediaStoreSpec.image).toDS()),
      maxHamming = 3, blockCols = Seq("kind"))
    assert(rows(m.pairs.drop("batch")) == rows(wantPrints))
    graft.ScratchCache.releaseAll(spark)
  }
}

object EmbedStoreSpec {
  /** Deterministic vectors for the stream soak: ids 1 and 2 are scaled
    * copies (cosine 1), 50/51 unrelated one-hots. An object member so
    * stream lineages don't capture the spec class.
    */
  def row(id: Long): (Long, Seq[Double]) = (id, vec(id))

  def vec(id: Long): Seq[Double] = id match {
    case 1L => Seq(1.0, 2.0, 3.0, 4.0)
    case 2L => Seq(0.5, 1.0, 1.5, 2.0)
    case 50L => Seq(1.0, 0.0, 0.0, 0.0)
    case _ => Seq(0.0, 0.0, 0.0, 1.0)
  }
}
