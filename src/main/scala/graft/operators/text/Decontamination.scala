package graft.operators.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag corpus documents that share word
  * n-grams with any benchmark/eval document (the test-set-leakage guard
  * every large-scale training-data pipeline runs before training).
  *
  * Scale shape: the benchmark side (exploded, distinct n-grams) is tiny
  * next to a 100 TB corpus and is broadcast; the corpus explodes its
  * n-grams as 8-byte hashes, probes the broadcast map, and aggregates per
  * document — the only corpus shuffle is the final per-doc aggregation,
  * and non-matching n-grams die at the broadcast join.
  */
object Decontamination {

  /** Documents from `corpus` sharing ≥1 word n-gram with `benchmark`.
    * Returns (id, hit_docs, hit_ngrams): how many benchmark documents and
    * how many distinct n-grams were hit. Shingle sets are distinct per
    * document ([[graft.expressions.WordShingles]]) and hashed to 64-bit
    * longs so the broadcast and the probe carry 8-byte keys, not strings.
    */
  def overlap(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val bench = grams(benchmark, idCol, textCol, n)
      .select(col("id").as("bench_id"), col("g")).distinct()
    grams(corpus, idCol, textCol, n)
      .join(broadcast(bench), Seq("g"))
      .groupBy("id")
      .agg(countDistinct("bench_id").as("hit_docs"),
        countDistinct("g").as("hit_ngrams"))
  }

  private def grams(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = df.select(col(idCol).as("id"),
    explode(transform(
      graft.expressions.Sketches.wordShingles(
        TextAnalysis.tokens(col(textCol)), n),
      g => xxhash64(g))).as("g"))
}
