package graft.streaming

import graft.SparkSpec
import graft.operators.multimodal.Multimodal
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The streaming keyframe sink: exactly-once thumbnail appends across
  * at-least-once foreachBatch replays, kill-before-commit recovery, and
  * compaction between restarts.
  */
class KeyframeSinkSpec extends SparkSpec {
  import spark.implicits._

  import KeyframeSinkSpec.clip
  private def media(ids: Long*): Dataset[Multimodal.MediaRow] =
    ids.map(clip).toDS()

  test("batch replay and re-crawled ids append each keyframe exactly once") {
    val dir = Files.createTempDirectory("kfsink").toFile.getAbsolutePath
    val sink = new KeyframeSink(spark, dir)
    sink.writeBatch(media(1L, 2L), batchId = Some(0L))
    sink.writeBatch(media(1L, 2L), batchId = Some(0L)) // replay: no-op
    // re-crawled id 2 in a later batch: first write wins
    sink.writeBatch(media(2L, 3L), batchId = Some(1L))
    val t = sink.thumbnails
    assert(t.count() == 9) // 3 clips × keyframes {0, 2, 3}
    assert(t.groupBy("media_id").count().where(col("count") =!= 3)
      .isEmpty)
    assert(t.select("frame_idx").distinct().as[Int].collect().toSet ==
      Set(0, 2, 3))
    // thumbnails are the 9×8 pass-through PNGs (fit-within keeps tiny
    // frames unchanged) — decodable and dimension-true
    val one = t.where(col("media_id") === 1L && col("frame_idx") === 0)
      .select("thumb_png", "width", "height").head()
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(one.getAs[Array[Byte]]("thumb_png")))
    assert(img.getWidth == one.getAs[Int]("width") &&
      img.getHeight == one.getAs[Int]("height"))
  }

  test("a duplicate media_id WITHIN one micro-batch lands once") {
    val dir = Files.createTempDirectory("kfdup").toFile.getAbsolutePath
    val sink = new KeyframeSink(spark, dir)
    // same id twice in one batch: the stored-side anti-join can't see
    // rows that aren't stored yet — the in-batch dedup must
    sink.writeBatch(media(1L, 1L), batchId = Some(0L))
    val t = sink.thumbnails
    assert(t.count() == 3) // one clip's keyframes {0, 2, 3}, once
    assert(t.groupBy("media_id", "frame_idx").count()
      .where(col("count") =!= 1).isEmpty)
  }

  test("a never-written sink reads as an empty frame") {
    val dir = Files.createTempDirectory("kfempty").toFile.getAbsolutePath
    val sink = new KeyframeSink(spark, dir)
    assert(sink.thumbnails.count() == 0)
  }

  test("a landed-but-unmarked append does not duplicate on id'd replay") {
    val dir = Files.createTempDirectory("kfwin").toFile.getAbsolutePath
    val sink = new KeyframeSink(spark, dir)
    sink.writeBatch(media(1L, 2L), batchId = Some(0L))
    val before = sink.thumbnails.count()
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/_commits/keyframes"), false))
    sink.writeBatch(media(1L, 2L), batchId = Some(0L)) // re-runs the write
    assert(sink.thumbnails.count() == before)
  }

  test("soak: kill before checkpoint commit + replay + compaction between restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("kfsoak").toFile.getAbsolutePath
    val checkpoint = s"$dir/_ck"
    val sink = new KeyframeSink(spark, dir)
    val mem = MemoryStream[Long]
    def start() = sink.start(
      mem.toDS().map(KeyframeSinkSpec.clip _), checkpoint,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // data first: AvailableNow fixes its end offset at start()
    mem.addData(1L, 2L)
    val q1 = start()
    q1.awaitTermination()
    // crash window: the batch landed in the sink but the CHECKPOINT
    // never committed it — recovery must replay it as a no-op
    val commitDir = new java.io.File(s"$checkpoint/commits")
    val newest = commitDir.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commitDir, newest.toString).delete())
    new java.io.File(commitDir, s".$newest.crc").delete()
    sink.compact() // operator compaction while the stream is down
    mem.addData(3L)
    val q2 = start()
    q2.awaitTermination()
    val t = sink.thumbnails
    assert(t.count() == 9, "replay duplicated or dropped thumbnails")
    assert(t.select("media_id").distinct().count() == 3)
    graft.ScratchCache.releaseAll(spark)
  }
}

object KeyframeSinkSpec {
  /** 4-frame clips with a planted cut structure: frames [k, k, k^m24,
    * k] yield keyframes at sampled indices 0 (first), 2 and 3. An
    * object member so stream lineages don't capture the spec class.
    */
  def clip(id: Long): Multimodal.MediaRow = {
    val kA = graft.queries.Pipeline.h48(s"kf_$id")
    val kB = kA ^ 0x0000ffffff000000L
    Multimodal.MediaRow(id, "video",
      Multimodal.encodePathAvi(Seq(kA, kA, kB, kA)), "s")
  }
}
