package graft.operators

import graft.SparkSpec
import graft.operators.pack.ExportManifest
import org.apache.spark.sql.functions._

/** Shard manifest: the stability/determinism properties a release
  * consumer relies on.
  */
class ExportManifestSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int) =
    (0 until n).map(i => (i.toLong, s"doc number $i content")).toDF("doc_id", "text")

  test("releaseDelta isolates edits to their shards") {
    val v1 = corpus(200)
    // identical corpora: every shard unchanged
    val same = ExportManifest.releaseDelta(v1, corpus(200), "doc_id", "text", 8)
      .select("status").as[String].collect()
    assert(same.length == 8 && same.forall(_ == "unchanged"))

    // edit one doc: exactly that doc's shard flips to rewrite
    val editedId = 37L
    val v2 = v1.withColumn("text",
      when(col("doc_id") === editedId, lit("edited")).otherwise(col("text")))
    val delta = ExportManifest.releaseDelta(v1, v2, "doc_id", "text", 8)
      .select("shard", "status").as[(Int, String)].collect().toMap
    val touched = ExportManifest.shardOf(lit(editedId), 8)
    val touchedShard = v1.select(touched.as("s")).as[Int].head()
    assert(delta(touchedShard) == "rewrite")
    assert(delta.filter(_._1 != touchedShard).values.forall(_ == "unchanged"))

    // a doc count change without checksum agreement can never read as
    // unchanged: drop one doc from the touched shard's population
    val v3 = v1.where(col("doc_id") =!= editedId)
    val d3 = ExportManifest.releaseDelta(v1, v3, "doc_id", "text", 8)
      .select("shard", "status").as[(Int, String)].collect().toMap
    assert(d3(touchedShard) == "rewrite")
  }

  test("shard assignment is stable under corpus growth") {
    val before = corpus(100)
      .select(col("doc_id"), ExportManifest.shardOf(col("doc_id"), 8).as("s"))
      .as[(Long, Int)].collect().toMap
    val after = corpus(300)
      .select(col("doc_id"), ExportManifest.shardOf(col("doc_id"), 8).as("s"))
      .as[(Long, Int)].collect().toMap
    before.foreach { case (id, s) => assert(after(id) === s) }
  }

  test("checksum is order-insensitive but content-sensitive") {
    val base = ExportManifest.manifest(corpus(50), "doc_id", "text", 4)
      .select("shard", "checksum").as[(Int, Long)].collect().toMap
    val shuffled = ExportManifest.manifest(
      corpus(50).orderBy(rand(7)).repartition(13), "doc_id", "text", 4)
      .select("shard", "checksum").as[(Int, Long)].collect().toMap
    assert(base === shuffled)
    val tampered = ExportManifest.manifest(
      corpus(50).withColumn("text",
        when(col("doc_id") === 17L, lit("tampered")).otherwise(col("text"))),
      "doc_id", "text", 4)
      .select("shard", "checksum").as[(Int, Long)].collect().toMap
    assert(base !== tampered)
  }
}
