package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions.lit
import scala.jdk.CollectionConverters._

/** The suite runs on the session posture the bench and the oracle dump
  * use: the raw local file system, UTC and a fixed width of 4.
  */
class SessionSpec extends SparkSpec {

  test("file: paths resolve to the raw local file system") {
    val tmp = Files.createTempDirectory("session").toString
    // Hadoop caches one FileSystem per scheme: an earlier checksummed
    // instance would be handed back here despite the session's key
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[RawLocalFileSystem], fs.getClass.getName)
  }

  test("a FlowStore batch write leaves no .crc sidecars") {
    import spark.implicits._
    val root = Files.createTempDirectory("sessionstore")
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
    val flows = (0 until 20).map { i =>
      (new Timestamp(t0 + i * 40000L), s"exp${i % 2}", "eth0", "eth1",
        "up", "down", 1000L, 1000L, "transit", "peering", "p1", "p2",
        "external", "internal", 100L + i, 2L, 1000L)
    }.toDF("TimeReceived", "ExporterName", "InIfName", "OutIfName",
      "InIfDescription", "OutIfDescription", "InIfSpeed", "OutIfSpeed",
      "InIfConnectivity", "OutIfConnectivity", "InIfProvider", "OutIfProvider",
      "InIfBoundary", "OutIfBoundary", "Bytes", "Packets", "SamplingRate")
      .withColumn("ExporterAddress", lit(graft.functions.Ip.parse("10.0.0.1")))
    new store.FlowStore(spark, root.toString).writeBatch(flows)
    val files = Files.walk(root)
    val (all, crc) = try {
      val names = files.iterator().asScala.map(_.getFileName.toString).toSeq
      (names, names.filter(_.endsWith(".crc")))
    } finally files.close()
    assert(all.exists(_.endsWith(".parquet")), "the batch wrote no data")
    assert(crc.isEmpty, crc.mkString(", "))
  }

  test("the session runs in UTC at width 4") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
