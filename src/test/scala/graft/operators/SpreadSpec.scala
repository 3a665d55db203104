package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

/** Both sides of the [[Spread]] dispatch: a narrow parquet scan (fewer
  * files than cores, few bytes) is spread to `defaultParallelism`, a
  * scan of at least that many files and an in-memory frame are left
  * alone — and the dedup fronts that spread return the same rows
  * either way.
  */
class SpreadSpec extends SparkSpec {
  private def cores = spark.sparkContext.defaultParallelism

  /** A generated corpus written as `files` parquet files, read back:
    * each group of three documents shares all but its last word, and
    * neighbouring groups overlap in 33 of 40 words, so both fronts find
    * pairs at several similarities.
    */
  private def corpus(files: Int): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("spread").toFile.getAbsolutePath
    (0 until 240).map { i =>
      val g = i / 3
      (i.toLong, ((0 until 40).map(j => s"w${g * 7 + j}") :+ s"x$i")
        .mkString(" "))
    }.toDF("doc_id", "text").repartition(files)
      .write.parquet(s"$dir/docs")
    val df = spark.read.parquet(s"$dir/docs")
    assert(df.inputFiles.length == files)
    df
  }

  /** The widths of the round-robin repartitions in `df`'s plan. */
  private def spreads(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case r: Repartition if r.shuffle => r.numPartitions
    }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("a one-file scan is spread to the core count; a wide scan and an in-memory frame are not") {
    val narrow = corpus(1)
    assert(spreads(Spread.wide(narrow)) == Seq(cores))
    val wide = corpus(cores)
    assert(Spread.wide(wide) eq wide)
    val local = spark.range(100).toDF("id")
    assert(Spread.wide(local) eq local)
  }

  test("the dedup fronts return the same rows whether the spread fires or not") {
    val narrow = corpus(1)
    val wide = corpus(cores)
    // incrementalScoredPairs spreads through wideThenFold
    def scored(df: DataFrame): DataFrame =
      Dedup.incrementalScoredPairs(df, "doc_id", "text",
        col("doc_id") % 3 === 0)
    val spreadScored = scored(narrow)
    assert(spreads(spreadScored).contains(cores))
    assert(spreads(scored(wide)).isEmpty)
    val want = rows(scored(wide))
    assert(want.nonEmpty)
    assert(rows(spreadScored) == want)
    // minhashLsh spreads through wide
    def lsh(df: DataFrame): DataFrame =
      Dedup.minhashLsh(df, "doc_id", "text", threshold = 0.5)
    val spreadLsh = lsh(narrow)
    assert(spreads(spreadLsh).toSet == Set(cores))
    assert(spreads(lsh(wide)).isEmpty)
    assert(rows(spreadLsh) == rows(lsh(wide)))
    graft.ScratchCache.releaseAll(spark)
  }
}
