package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builds a ×N scale-factor directory for rehearsing the stores at
  * scale: every source document/embedding appears N times under
  * disjoint id ranges (`id = replica·10⁷ + orig`), so each source row
  * becomes an N-member exact-duplicate clique — the worst case for
  * near-dup pair volume and the layout every PLANS.md ×10/×100 table
  * assumes. The other [[Tables.names]] tables are copied byte for byte,
  * so the output is a complete scale-factor directory:
  * `SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench <query>...` runs the
  * store gates over it. Usage:
  * `runMain graft.ReplicateCorpus <srcSfDir> <outDir> <N>`.
  */
object ReplicateCorpus {
  private val replicated = Seq("documents" -> "doc_id", "embeddings" -> "vec_id")

  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-replicate-corpus")
    try replicate(spark, args(0), args(1), args(2).toInt)
    finally spark.stop()
  }

  def replicate(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    val reps = spark.range(n).select(col("id").as("replica"))
    // every stride check runs before anything is written
    val sources = replicated.map { case (table, idCol) =>
      val df = spark.read.parquet(s"$src/$table.parquet")
      // the replica remap is only injective while source ids fit the
      // stride — a source id ≥ 10⁷ (or negative) would silently merge
      // replicas into duplicate ids, violating the stores'
      // globally-unique-id contract the rehearsal then exercises
      val Array(lo, hi) = df
        .agg(min(col(idCol)), max(col(idCol))).head().toSeq.toArray
      require(lo.asInstanceOf[Long] >= 0L &&
        hi.asInstanceOf[Long] < 10000000L,
        s"$table.$idCol range [$lo, $hi] does not fit the replica " +
        "stride 10^7 - remapped ids would collide across replicas")
      (table, idCol, df)
    }
    sources.foreach { case (table, idCol, df) =>
      df.crossJoin(broadcast(reps))
        .withColumn(idCol, col("replica") * lit(10000000L) + col(idCol))
        .drop("replica")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"$table: ${spark.read.parquet(s"$out/$table.parquet").count()} rows")
    }
    // copied as files, not through Spark: a plain parquet read of
    // `events` throws on its TIMESTAMP(NANOS) column
    val conf = spark.sparkContext.hadoopConfiguration
    Tables.names.filterNot(replicated.toMap.contains).foreach { table =>
      val from = new Path(s"$src/$table.parquet")
      val to = new Path(s"$out/$table.parquet")
      FileUtil.copy(from.getFileSystem(conf), from, to.getFileSystem(conf), to,
        false, true, conf)
    }
  }
}
