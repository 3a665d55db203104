package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access for the driver-provided parquet testdata (TESTDATA.md).
  * All `SparkEntry.queries` entries take the scale-factor directory and
  * resolve tables through here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Reads a testdata table, normalizing the timestamp flavor the driver
    * happened to write this round: TIMESTAMP(NANOS) (rejected by Spark's
    * reader — read as long nanos, truncate to µs like DuckDB does) and
    * naive TIMESTAMP (inferred as TIMESTAMP_NTZ since Spark 3.4 — cast to
    * the session-TZ timestamp; the session is pinned to UTC everywhere,
    * so wall-clock values match DuckDB's naive reading bit-for-bit, and
    * downstream code sees one timestamp type regardless of writer).
    */
  // Memoized per (session, path): re-resolving the same parquet source
  // re-lists files and re-reads footers on every query — the reused
  // DataFrame shares one InMemoryFileIndex + analyzed schema instead.
  // Sound ONLY because the driver testdata is immutable for a session's
  // lifetime; mutable production tables go through FlowStore, not here.
  // Entries pin their session — call clear() if cycling many sessions in
  // one JVM.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def clear(): Unit = cache.clear()

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark, s"$dir/$name.parquet"), { case (s, path) =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = s.read.parquet(path)
      df.schema.fields.foldLeft(df) {
        case (d, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
          d.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case (d, f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name, org.apache.spark.sql.functions.col(f.name)
            .cast(org.apache.spark.sql.types.TimestampType))
        case (d, _) => d
      }
    })
}
