package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Round-robin-spread a FILE-BACKED frame across the session's cores
  * before an expensive per-row stage, when its scan would otherwise
  * run on fewer tasks than the machine has cores (guide §2.5 "one
  * huge unsplittable file → repartition immediately after the read",
  * §2.6 idle capacity).
  *
  * Why: the dedup/text fronts' dominant per-row work — tokenize,
  * shingle, md5/xxhash per gram — runs in the projection directly
  * above the corpus scan, BEFORE any exchange introduces parallelism.
  * A gate-scale corpus arrives as ONE parquet file with one row
  * group, so that stage runs one task while every other core idles
  * (measured: the single-task shingling stages were the serial wall
  * of q_incr_release_lsh and every portable store drive at sf0.1).
  * The durable stores' probe fan-outs take the same rule for the same
  * reason: compaction packs a state table into a few files, and the
  * probe's explode, join and partial aggregation run on the scan's
  * partitions.
  *
  * Scale posture, by construction rather than tuning:
  *  - a production corpus scan has ≥ cores input files (or enough
  *    bytes to split), fails the trigger, and is returned UNCHANGED —
  *    zero extra exchange at 100 TB;
  *  - a non-file-backed frame (a streaming micro-batch, an in-memory
  *    fixture) reports no input files and is returned unchanged — its
  *    partitioning is the upstream's to decide;
  *  - the byte bound (cores × `spark.sql.files.maxPartitionBytes`)
  *    keeps the spread's own shuffle trivially small relative to the
  *    per-row work it parallelizes: past it the scan splits well on
  *    its own.
  *
  * SCOPE: splittable formats only. The byte bound assumes a big scan
  * splits by itself, which holds for parquet (every call site reads
  * parquet) but not for one large non-splittable file (gzip'd text or
  * CSV): past the bound such a file is left serial, the one case
  * guide §2.5 names. Repartition that read explicitly instead.
  *
  * Results are unchanged: every consumer is set-level (joins and
  * aggregations over hashes/counts), and Spark's sort-before-
  * repartition keeps the round-robin assignment deterministic under
  * task retries (SPARK-23207).
  */
object Spread {
  /** The spread width when the narrow-scan trigger fires, 0 when the
    * frame should be left alone. The file count and byte total come
    * from the file indexes of the plan's parquet relations, which list
    * their files when the frame is built, so the decision opens and
    * stats no file.
    */
  private def targetFor(df: DataFrame): Int = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val indexes = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location }
      .distinctBy(_.rootPaths.toSet)
    val files = indexes.map(_.inputFiles.length).sum
    val bytes = indexes.map(_.sizeInBytes).sum
    val maxPartBytes = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    if (files == 0 || files >= target || bytes > maxPartBytes * target) 0
    else target
  }

  /** `df` repartitioned to `defaultParallelism` when the trigger
    * fires, `df` itself otherwise. For projections whose output feeds
    * MAP-heavy consumers (banding, window, sketch — few downstream
    * exchanges); exchange-heavy consumers take [[wideThenFold]].
    */
  def wide(df: DataFrame): DataFrame = {
    val t = targetFor(df)
    if (t > 0) df.repartition(t) else df
  }

  /** Spread for an expensive projection whose OUTPUT feeds
    * EXCHANGE-heavy consumers (the inverted-index pipelines: explode,
    * df-cap join, pair self-join): `build` runs over the spread frame
    * so its per-row work parallelizes, then the result folds back to
    * a narrow width. Without the fold every downstream KB-scale
    * exchange pays (spread-width map tasks × reduce partitions)
    * bypass-writer shuffle files — measured 4–7× CPU on the index
    * pipelines, the round-16 store-gate disease re-created. The fold
    * is one extra exchange of the PROJECTED rows (8-byte hashes, not
    * text) and caps downstream map counts at width/8. Identity at
    * production scale (the trigger never fires past the byte bound).
    */
  def wideThenFold(df: DataFrame)(build: DataFrame => DataFrame): DataFrame = {
    val t = targetFor(df)
    if (t <= 0) build(df)
    else build(df.repartition(t)).repartition(math.max(2, t / 8))
  }
}
