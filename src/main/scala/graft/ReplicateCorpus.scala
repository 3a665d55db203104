package graft

import org.apache.spark.sql.functions._

/** Builds the ×N replicated rehearsal corpora ([[ScaleRehearsal]]'s
  * input): every source document/embedding appears N times under
  * disjoint id ranges (`id = replica·10⁷ + orig`), so each source row
  * becomes an N-member exact-duplicate clique — the worst case for
  * near-dup pair volume and the layout every PLANS.md ×10/×100 table
  * assumes. Usage: `runMain graft.ReplicateCorpus <srcSfDir> <outDir> <N>`.
  */
object ReplicateCorpus {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val n = args(2).toInt
    val spark = Session.local("graft-replicate-corpus")

    val reps = spark.range(n).select(col("id").as("replica"))
    def replicate(table: String, idCol: String): Unit = {
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
      df.crossJoin(broadcast(reps))
        .withColumn(idCol, col("replica") * lit(10000000L) + col(idCol))
        .drop("replica")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"$table: ${spark.read.parquet(s"$out/$table.parquet").count()} rows")
    }
    replicate("documents", "doc_id")
    replicate("embeddings", "vec_id")
    spark.stop()
  }
}
