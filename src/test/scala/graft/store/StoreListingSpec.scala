package graft.store

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The stores' driver-side listings start no process and count what a
  * recursive `listFiles` walk counts. On a local file system without
  * the native Hadoop library, every `LocatedFileStatus` that
  * `listFiles` builds forks `ls -ld` to load the file's permissions;
  * the `listStatus` walk reads none.
  */
class StoreListingSpec extends SparkSpec {

  private class Probe(val s: SparkSession, val p: String) extends DurableStore {
    protected def spark: SparkSession = s
    protected def path: String = p
    // force the footer band: bytes over every byte gate, rows under
    // the row ceiling, so the dispatch reads footers too
    protected override def plainStoreBytes: Long = 1L
    def smallBytes(table: String): Option[Long] = storedSmallBytes(table)
    def bytesAtMost(table: String, cap: Long): Boolean =
      tableBytesAtMost(table, cap)
    def footerRows(table: String): Option[Long] = tableFooterRows(table)
    def allMarked(table: String): Option[Boolean] = batchAllMarked(table)
    def compactCount(table: String, target: Long): Int =
      compactedFileCount(s"$p/$table", target)
  }

  /** `f`'s result and the commands of the processes the current thread
    * started while `f` ran, from an in-process flight recording.
    */
  private def processStarts[T](f: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try f finally rec.stop()
    val file = Files.createTempFile("listing", ".jfr")
    try {
      rec.dump(file)
      val me = Thread.currentThread.getId
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          Option(e.getThread).exists(_.getJavaThreadId == me))
        .map(_.getString("command")).toSeq
      (out, starts)
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  test("store listings start no process and count what listFiles counts") {
    val dir = Files.createTempDirectory("listing").toFile.getAbsolutePath
    // a partitioned table: nested dirs, several files per dir, the
    // _SUCCESS marker and a hidden sidecar the data filters skip
    spark.range(0, 3000).select(col("id"), (col("id") % 3).as("part"),
      (col("id") / 1000).cast("long").as("batch"))
      .repartition(2).write.partitionBy("part").parquet(s"$dir/t")
    Files.write(java.nio.file.Paths.get(s"$dir/t/part=0/.side.crc"),
      Array.fill[Byte](100)(1))
    val root = Files.createTempDirectory("listingflows").toString
    val flowStore = new FlowStore(spark, root)
    flowStore.writeBatch(EventFlows.flows(spark, "/root/testdata/sf0.001"))
    val flows = flowStore.tables().find(_.name == "flows").get
    val probe = new Probe(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = 4096L

    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val thr = spark.conf.get(thrKey)
    val (got, starts) = try {
      spark.conf.set(thrKey, "1")
      processStarts {
        (StoreListing.files(fs, new Path(s"$dir/t"))
          .map(st => st.getPath.toString -> st.getLen).toSet,
          flows.bytesUpTo.get(Long.MaxValue),
          probe.smallBytes("t"),
          probe.bytesAtMost("t", Long.MaxValue),
          probe.footerRows("t"),
          probe.allMarked("t"),
          probe.compactCount("t", target))
      }
    } finally spark.conf.set(thrKey, thr)
    assert(starts.size == 0,
      s"the listings started ${starts.size} process(es): ${starts.take(3)}")

    // the same counts from the recursive listFiles walk
    def oldWalk(d: String): Seq[FileStatus] = {
      val it = fs.listFiles(new Path(d), true)
      val buf = Seq.newBuilder[FileStatus]
      while (it.hasNext) buf += it.next()
      buf.result()
    }
    val old = oldWalk(s"$dir/t")
    val data = old.filter(StoreListing.isDataFile)
    val dataBytes = data.map(_.getLen).sum
    val parquet = old.filter(_.getPath.getName.endsWith(".parquet"))
    val rows = parquet.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st,
          spark.sparkContext.hadoopConfiguration))
      try r.getRecordCount finally r.close()
    }.sum
    val parquetBytes = parquet.map(_.getLen).sum

    val (listed, flowBytes, small, atMost, footerRows, marked, compactK) =
      got
    assert(listed == old.map(st => st.getPath.toString -> st.getLen).toSet)
    assert(old.exists(_.getPath.getName == ".side.crc") &&
      old.exists(_.getPath.getName == "_SUCCESS"))
    assert(flowBytes == Some(oldWalk(s"$root/flows")
      .filter(StoreListing.isDataFile).map(_.getLen).sum))
    assert(small == Some(dataBytes))
    assert(atMost)
    assert(rows == 3000L && footerRows == Some(rows))
    assert(marked == Some(true))
    assert(compactK == ((parquetBytes + target - 1) / target).toInt &&
      compactK > 1)
  }
}
