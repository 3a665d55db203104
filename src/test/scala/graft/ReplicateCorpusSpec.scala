package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** `ReplicateCorpus.replicate` writes a complete ×N scale-factor
  * directory: the two replicated tables N times over disjoint id
  * ranges, the other eight as byte copies.
  */
class ReplicateCorpusSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val stride = 10000000L
  private val replicated = Seq("documents" -> "doc_id", "embeddings" -> "vec_id")

  private lazy val out = {
    val dir = Files.createTempDirectory("replicate").resolve("x2").toString
    ReplicateCorpus.replicate(spark, sf, dir, 2)
    dir
  }

  // rows as comparable strings (embeddings carry float arrays)
  private def rowSet(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("documents and embeddings hold every source row once per replica, in disjoint id ranges") {
    replicated.foreach { case (table, idCol) =>
      val src = spark.read.parquet(s"$sf/$table.parquet")
      val dst = spark.read.parquet(s"$out/$table.parquet")
      val n = src.count()
      assert(dst.count() == 2 * n, table)
      assert(dst.select(idCol).distinct().count() == 2 * n,
        s"$table: replicated ids collide")
      val srcRows = rowSet(src.collect().toSeq)
      (0L until 2L).foreach { r =>
        val replica = dst.where(col(idCol).between(r * stride, (r + 1) * stride - 1))
        assert(replica.count() == n, s"$table replica $r")
        val back = replica.withColumn(idCol, col(idCol) - r * stride)
          .select(src.columns.map(col): _*)
        assert(rowSet(back.collect().toSeq) == srcRows, s"$table replica $r")
      }
    }
  }

  test("the other eight tables are byte-identical copies; all ten load through Tables.load") {
    val copied = Tables.names.filterNot(replicated.toMap.contains)
    assert(copied.size == 8)
    copied.foreach { table =>
      val a = Files.readAllBytes(Paths.get(s"$sf/$table.parquet"))
      val b = Files.readAllBytes(Paths.get(s"$out/$table.parquet"))
      assert(java.util.Arrays.equals(a, b), table)
    }
    Tables.names.foreach { table =>
      val want = Tables.load(spark, sf, table).count() *
        (if (replicated.toMap.contains(table)) 2 else 1)
      assert(Tables.load(spark, out, table).count() == want, table)
    }
  }

  test("a source id past the replica stride fails before anything is written") {
    // documents fit the stride and are checked first; the embeddings
    // overflow must still stop the run before documents are written
    val src = Files.createTempDirectory("replicatebad")
    Files.copy(Paths.get(s"$sf/documents.parquet"), src.resolve("documents.parquet"))
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") + stride)
      .write.parquet(src.resolve("embeddings.parquet").toString)
    val dst = src.resolve("out")
    val e = intercept[IllegalArgumentException](
      ReplicateCorpus.replicate(spark, src.toString, dst.toString, 2))
    assert(e.getMessage.contains("embeddings.vec_id"), e.getMessage)
    assert(!Files.exists(dst), "nothing may be written when a stride check fails")
  }
}
