package graft.operators.pack

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic shard manifest of a training-data release. Documents
  * are assigned to shards by a portable content-independent id hash
  * (stable across engines and releases: adding documents never moves
  * existing ones between shards), and the manifest records per shard
  * the row count, byte volume, id range, and an order-insensitive
  * content checksum so a downstream consumer can verify every shard
  * it reads — the train-data analog of the flow plane's exactly-once
  * commit markers ([[graft.store.FlowStore]]).
  *
  * Scale shape: shard assignment is a codegen'd projection; the
  * manifest is one keyed aggregate (map-side combine) with `nShards`
  * output rows. The checksum is a SUM of per-row 48-bit content hashes
  * — associative and commutative, so partition order, task retries,
  * and AQE coalescing cannot change it, and two engines agree
  * bit-for-bit (the same reason the KMV estimator and DSIR use integer
  * forms).
  */
object ExportManifest {

  /** Engine-portable 48-bit hash (first 12 hex digits of md5) — the
    * repo-wide portable hash convention (see `Dedup.minhashLshPortable`).
    */
  private def hash48(c: Column): Column =
    graft.expressions.PortableHash.md5Prefix48(c)

  /** Deterministic shard id in [0, nShards) from the document id. */
  def shardOf(id: Column, nShards: Int): Column =
    pmod(hash48(id.cast("string")), lit(nShards.toLong)).cast("int")

  /** The per-shard manifest: (shard, n_docs, total_chars, id_min,
    * id_max, checksum) where checksum = Σ hash48(text) per shard.
    */
  def manifest(df: DataFrame, idCol: String, textCol: String,
      nShards: Int): DataFrame =
    df.select(
        shardOf(col(idCol), nShards).as("shard"),
        col(idCol).as("id"),
        length(col(textCol)).cast("long").as("chars"),
        hash48(col(textCol)).as("h"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("chars").as("total_chars"),
        min("id").as("id_min"),
        max("id").as("id_max"),
        sum("h").as("checksum"))

  /** Incremental-release planner: compare two corpus versions SHARD BY
    * SHARD and classify each shard `unchanged` / `rewrite` / `new` /
    * `removed` — the set a release job must actually rewrite. Because
    * shard assignment hashes only the id, an edited or added document
    * perturbs exactly one shard's manifest row; the delta of a small
    * edit set is a small rewrite set regardless of corpus size.
    *
    * Scale shape: two manifest aggregates (each one keyed map-side
    * combine over its corpus scan) full-outer joined on `nShards` rows —
    * the join input is control-plane sized no matter how large the
    * corpora are. Equality uses the order-insensitive checksum AND the
    * row count (a sum of 48-bit hashes over millions of rows could
    * collide; together with the count the false-unchanged probability is
    * negligible, and a consumer verifying per-doc hashes — the
    * [[graft.operators.text.CorpusDiff]] path — catches the remainder).
    */
  def releaseDelta(v1: DataFrame, v2: DataFrame, idCol: String,
      textCol: String, nShards: Int): DataFrame = {
    def m(df: DataFrame, suffix: String) =
      manifest(df, idCol, textCol, nShards)
        .select(col("shard"), col("n_docs").as(s"n_$suffix"),
          col("checksum").as(s"ck_$suffix"))
    m(v1, "v1").join(m(v2, "v2"), Seq("shard"), "full_outer")
      .withColumn("status",
        when(col("ck_v1").isNull, "new")
          .when(col("ck_v2").isNull, "removed")
          .when(col("ck_v1") === col("ck_v2") &&
            col("n_v1") === col("n_v2"), "unchanged")
          .otherwise("rewrite"))
  }
}
