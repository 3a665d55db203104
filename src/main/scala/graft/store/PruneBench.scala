package graft.store

import java.sql.Timestamp
import java.time.Instant


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the store's skip indexes in BYTES READ, not footer presence:
  * writes a multi-date slice through [[FlowStore]] (per-file parquet
  * blooms on the reference's skip-index columns + p_date partitioning +
  * TIMESTAMP_MICROS row-group stats), then runs a full scan, a point
  * `SrcAddr = x` lookup (bloom/dictionary file skip), a 1-day time-range
  * query (partition + row-group time pruning), and both combined —
  * reporting each plan's `inputMetrics.bytesRead` and its ratio to the
  * full scan. These ratios are the numbers that justify the layout at
  * 100 TB: a point lookup must touch ~one file's bytes, a day query ~one
  * day's, regardless of corpus size.
  *
  * Run: `sbt "runMain graft.store.PruneBench"` — prints a markdown table
  * (recorded in PLANS.md "Round 9").
  */
object PruneBench {

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("prune-bench")
    val root = java.nio.file.Files.createTempDirectory("prunebench").toString
    val store = new FlowStore(spark, root)

    val dates = Seq("2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04")
    val batchesPerDate = 4
    val rowsPerBatch = 25000
    // small dictionary pages force the address chunks past dictionary
    // encoding so the blooms actually materialize (at production row
    // counts they overflow naturally; see BloomIndexSpec)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setInt("parquet.dictionary.page.size", 4096)
    try {
      var b = 0
      for (d <- dates; _ <- 0 until batchesPerDate) {
        store.writeBatch(mkBatch(spark, d, b, rowsPerBatch))
        b += 1
      }
    } finally conf.unset("parquet.dictionary.page.size")

    // the probe address lives in exactly ONE batch (= one file): batch 5
    val probe = addrBytes(5, 1234)

    // measure real read-syscall bytes (footers + blooms + data pages)
    // via /proc/self/io rchar: BOTH task inputMetrics and Hadoop's
    // "file"-scheme storage statistics under-count the vectorized
    // reader's data-page path (measured: a 44 MB full scan reported
    // 156 KiB by either), while rchar counts every read() the JVM makes.
    // Local mode runs executors in-process, so the process total is the
    // query's I/O (plus negligible JVM noise).
    def rchar(): Long = {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().find(_.startsWith("rchar:")) match {
        case Some(l) => l.stripPrefix("rchar:").trim.toLong
        case None => sys.error("/proc/self/io has no rchar")
      } finally src.close()
    }
    def measure(df: DataFrame): (Long, Long) = {
      // toRdd.count() materializes EVERY column (a plain agg would let
      // Catalyst prune the projection and the "full scan" would read one
      // column) — bytesRead then isolates file/row-group SKIPPING.
      Thread.sleep(300)
      val before = rchar()
      val rows = df.queryExecution.toRdd.count()
      Thread.sleep(300)
      (rchar() - before, rows)
    }

    def flows = spark.read.parquet(s"$root/flows")
    val dayLo = Timestamp.from(Instant.parse("2024-03-02T00:00:00Z"))
    val dayHi = Timestamp.from(Instant.parse("2024-03-03T00:00:00Z"))
    def timeBound(df: DataFrame) = df
      .where(col("p_date") === "2024-03-02" &&
        col("TimeReceived") >= lit(dayLo) && col("TimeReceived") < lit(dayHi))

    val (fullB, fullN) = measure(flows)
    val (bloomB, bloomN) = measure(flows.where(col("SrcAddr") === lit(probe)))
    val (timeB, timeN) = measure(timeBound(flows))
    val (bothB, bothN) = measure(timeBound(flows)
      .where(col("SrcAddr") === lit(addrBytes(batchesPerDate + 1, 1234))))

    def row(name: String, bytes: Long, n: Long): String =
      f"| $name%-22s | ${bytes / 1024}%9d KiB | ${bytes * 100.0 / fullB}%6.2f%% | $n%7d |"
    println(s"rows=${dates.size * batchesPerDate * rowsPerBatch} " +
      s"files=${dates.size * batchesPerDate} root=$root")
    println("| query                  |     bytesRead |  vs full |    rows |")
    println("|---|---|---|---|")
    println(row("full scan", fullB, fullN))
    println(row("point SrcAddr (bloom)", bloomB, bloomN))
    println(row("1-day range (time)", timeB, timeN))
    println(row("point + day (both)", bothB, bothN))
    spark.stop()
  }

  /** 16-byte v6-mapped address 10.(batch).(i>>8).(i&255). */
  private def addrBytes(batch: Int, i: Int): Array[Byte] =
    graft.functions.Ip.parse(s"10.$batch.${(i >> 8) & 0xff}.${i & 0xff}")

  /** One ingest batch: `n` rows inside date `d`, with this batch's rows
    * drawing SrcAddr from a disjoint per-batch /16 (so a point lookup
    * can only live in one file) and timestamps spread across the day.
    */
  private def mkBatch(spark: SparkSession, d: String, batch: Int,
      n: Int): DataFrame = {
    import spark.implicits._
    val day = Instant.parse(s"${d}T00:00:00Z")
    // address = 14-byte block prefix + the row index as 2 bytes — the
    // same batch-disjoint layout addrBytes produces, built columnar
    def blockAddr(block: Int) = concat(
      lit(graft.functions.Ip.parse(s"10.$block.0.0").dropRight(2)),
      unhex(lpad(hex(pmod(col("__i"), lit(65536L))), 4, "0")))
    (0 until n).map { i =>
      (Timestamp.from(day.plusSeconds(i.toLong * 86400 / n)),
        s"exp${i % 4}", "eth0", "eth1", "up", "down", 1000L, 1000L,
        "transit", "peering", "p1", "p2", "external", "internal",
        64500L + (i % 97), 65000L + (i % 101), f"C${i % 70}%02d",
        f"D${i % 70}%02d", 100L + i, 2L)
    }.toDF("TimeReceived", "ExporterName", "InIfName", "OutIfName",
      "InIfDescription", "OutIfDescription", "InIfSpeed", "OutIfSpeed",
      "InIfConnectivity", "OutIfConnectivity", "InIfProvider",
      "OutIfProvider", "InIfBoundary", "OutIfBoundary",
      "SrcAS", "DstAS", "SrcCountry", "DstCountry", "Bytes", "Packets")
      .withColumn("__i", col("Bytes") - 100L)
      .withColumn("SrcAddr", blockAddr(batch))
      .withColumn("DstAddr", blockAddr(200 + batch))
      .withColumn("SrcPort", (lit(1024L) + pmod(col("__i"), lit(5000L))).cast("long"))
      .withColumn("DstPort", lit(443L))
      .withColumn("ExporterAddress", lit(graft.functions.Ip.parse("10.0.0.1")))
      .drop("__i")
  }
}
