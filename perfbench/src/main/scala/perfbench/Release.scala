package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.dedup.{Dedup, ReleaseStore}

/** The `ReleaseStore` incremental release over generated documents, in
  * the drive shape of the `q_store_release` gate: three id-sliced
  * ingests, one compaction after the second, then the products. Unit of
  * work: a released document. A window runs at least
  * [[ReleaseWorkload.MinDrives]] drives; the first pays the store path's
  * code generation.
  */
final class ReleaseWorkload(ctx: Ctx) extends Workload {
  import ReleaseWorkload._
  import ctx.spark.implicits._

  private var docs: DataFrame = _
  private var quality: DataFrame = _
  private var reference: Seq[String] = Nil
  private val drives = ArrayBuffer.empty[Seq[String]]
  private var storeIndex = 0

  def setup(): Unit = {
    docs = ctx.gen.documents(Documents).toDF("doc_id", "text", "lang", "source", "n_chars")
      .persist()
    docs.count()
    quality = docs.select(col("doc_id").as("id"), col("n_chars").as("q"))
    reference = products(Dedup.releasePipeline(docs, "doc_id", "text", threshold = Threshold,
      maxShingleDf = None, quality = quality))
    graft.ScratchCache.releaseAll(ctx.spark)
  }

  /** One release drive into a fresh store; the products' row digests. */
  private def drive(t: Tracer): Seq[String] = {
    storeIndex += 1
    val store = new ReleaseStore(ctx.spark, ctx.dir(s"release-$storeIndex"), "doc_id", "text")
    (0L until 3L).foreach { b =>
      t.span("release.ingest")(store.ingest(docs.where(pmod(col("doc_id"), lit(3L)) === b),
        batchId = Some(b)))
      if (b == 1L) t.span("release.compact")(store.compact(targetFileBytes = 8L * 1024 * 1024))
    }
    val out = t.span("release.products")(products(store.products(Threshold, quality)))
    graft.ScratchCache.releaseAll(ctx.spark)
    out
  }

  def measure(t: Tracer): Window = {
    val t0 = System.nanoTime()
    val lat = ArrayBuffer.empty[Double]
    while (lat.size < MinDrives || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val d0 = System.nanoTime()
      drives += t.span("release.drive")(drive(t))
      lat += (System.nanoTime() - d0) / 1e6
    }
    val wall = (System.nanoTime() - t0) / 1e6
    Window(lat.size.toLong, 0L, Documents * lat.size / (lat.sum / 1000.0), lat.toSeq, wall)
  }

  def check(): (Long, Long) = {
    val fails = Checks.run(drives.toSeq.zipWithIndex.map { case (d, i) =>
      s"release drive $i products equal a from-scratch release" -> { () =>
        val diff = d.zip(reference).zipWithIndex.filter { case ((a, b), _) => a != b }
        if (diff.isEmpty && d.size == reference.size) None
        else Some(s"products differ: ${diff.map(x => ProductNames(x._2)).mkString(", ")}")
      }
    })
    (drives.size.toLong, fails)
  }

  def layers(t: Tracer, traced: Window): Map[String, Double] = {
    val driveSpans = t.named("release.drive")
    val js = t.jobsIn(driveSpans)
    val ss = t.stagesOf(js)
    def perDrive(name: String) = t.named(name).map(_.ms).sum / math.max(1, driveSpans.size)
    Map(
      "release.ingest_ms" -> perDrive("release.ingest"),
      "release.compact_ms" -> perDrive("release.compact"),
      "release.products_ms" -> perDrive("release.products"),
      "release.jobs" -> js.size.toDouble / math.max(1, driveSpans.size),
      "release.stages" -> ss.size.toDouble / math.max(1, driveSpans.size),
      "release.tasks" -> ss.map(_.tasks).sum.toDouble / math.max(1, driveSpans.size),
      "release.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble / math.max(1, driveSpans.size),
      "release.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble / math.max(1, driveSpans.size),
      "release.files_written" -> filesUnder(ctx.dir(s"release-$storeIndex")).toDouble,
      "release.driver_gap_ms" -> t.driverGapMs(driveSpans) / math.max(1, driveSpans.size))
  }

  private def filesUnder(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1
    walk(new java.io.File(path))
  }

  def close(): Unit = ()
}

object ReleaseWorkload {
  val Documents = 750
  /** Whole drives per window, so that every run times the same work. */
  val MinDrives = 2
  val Threshold = 0.5
  val ProductNames = Seq("pairs", "clusters", "keepers", "sizes", "purge", "split", "overlap",
    "containment")

  /** Each product's rows, rendered and sorted, then digested. */
  def products(r: Dedup.ReleaseProducts): Seq[String] = Seq(
    r.pairs, r.clusters, r.keepers, r.clusterSizes,
    r.survivors.groupBy(col("lang")).agg(count(lit(1)).as("n")),
    r.split, r.sourceOverlap, r.containment).map { df =>
    Gen.digest(df.collect().map(_.mkString("|")).sorted.iterator.map(_.getBytes("UTF-8")))
  }
}
