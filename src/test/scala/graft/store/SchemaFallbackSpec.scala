package graft.store

import graft.SparkSpec
import org.apache.spark.SparkException
import org.apache.spark.sql.types._

/** `DurableStore.onSchemaMismatch`: the accepted-id sidecar's
  * inference fallback fires on a type drift only; every other failure
  * keeps its own cause.
  */
class SchemaFallbackSpec extends SparkSpec {
  import spark.implicits._

  private def longSidecar(): String = {
    val p = java.nio.file.Files.createTempDirectory("fallback_").toString + "/ids"
    Seq(1L, 2L, 3L).toDF("id").write.parquet(p)
    p
  }

  private val intSchema = StructType(Seq(StructField("id", IntegerType)))

  test("a type drift falls back to the inferred read") {
    val p = longSidecar()
    val ids = DurableStore.onSchemaMismatch(
      spark.read.schema(intSchema).parquet(p).collect().map(_.getInt(0)))(
      spark.read.parquet(p).collect().map(_.getLong(0).toInt))
    assert(ids.sorted.toSeq == Seq(1, 2, 3))
  }

  test("an IO failure surfaces its own cause, without the fallback") {
    val io = new SparkException("read failed",
      new java.io.FileNotFoundException("part-0.parquet"))
    var fellBack = false
    val thrown = intercept[SparkException] {
      DurableStore.onSchemaMismatch[Unit](throw io) { fellBack = true }
    }
    assert(thrown eq io)
    assert(!fellBack)
    assert(thrown.getCause.isInstanceOf[java.io.FileNotFoundException])
  }

  test("a failing fallback keeps the first failure as suppressed") {
    val p = longSidecar()
    val thrown = intercept[IllegalStateException] {
      DurableStore.onSchemaMismatch(
        spark.read.schema(intSchema).parquet(p).collect())(
        throw new IllegalStateException("fallback failed"))
    }
    assert(thrown.getSuppressed.exists(DurableStore.isSchemaMismatch))
  }
}
