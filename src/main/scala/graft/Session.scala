package graft

import org.apache.spark.sql.SparkSession

/** The one local session posture: every main and the test suite build
  * their session here, so the bench, the oracle dump and the specs run
  * the same conf.
  */
object Session {
  /** `SPARK_GRAFT_CPUS` if set, else the machine's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with shuffle width `cpus`, the raw local file system,
    * UTC, no UI and WARN logging.
    */
  def local(appName: String, cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the checksummed LocalFileSystem shadows every created file with a
      // .crc twin; file: is a local substrate only, and the key does
      // nothing on HDFS or object stores
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
