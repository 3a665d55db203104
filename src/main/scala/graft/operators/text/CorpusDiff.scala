package graft.operators.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing (dataset versioning): classify every document
  * between two corpus versions as added / removed / changed / unchanged
  * by content hash. The audit behind a training-data release note —
  * "v2.1 added 3.1M docs, removed 0.4M, rewrote 1.2M" — and the input
  * to incremental reprocessing (only `added`/`changed` docs need to
  * re-enter the dedup/quality pipeline; see
  * [[graft.operators.dedup.Dedup.incrementalNearDup]]).
  *
  * Scale shape: one projection per side (id, 256-bit content hash) and a
  * single full-outer equi-join on the id — the only shuffle. With both
  * versions bucketed by id (the storage layout [[graft.store.FlowStore]]
  * uses for flows), the join is co-located and shuffle-free; nothing is
  * collected and nothing is pairwise.
  */
object CorpusDiff {

  /** Per-document change classification between versions `v1` (old) and
    * `v2` (new): (id, change) with change ∈ added | removed | changed |
    * unchanged. Ids present in both with equal content hash are
    * `unchanged`; hash inequality is `changed`; one-sided ids are
    * `added` (only in v2) or `removed` (only in v1).
    */
  def diff(v1: DataFrame, v2: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val a = v1.select(col(idCol).as("id"), sha2(col(textCol), 256).as("h1"))
    val b = v2.select(col(idCol).as("id"), sha2(col(textCol), 256).as("h2"))
    a.join(b, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("change"))
  }
}
