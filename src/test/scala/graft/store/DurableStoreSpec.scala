package graft.store

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import java.nio.file.Files

/** The shared [[DurableStore]] machinery the durable stores' ingest
  * posture rests on: the replay-guard anti-join dispatch, the footer-
  * stat unmarked probe, the footer cache both footer decisions share
  * and the small-regime scheduling window (AQE and shuffle width,
  * session-scoped, restored by unset) — each pinned on a bare test
  * store over hand-written tables.
  */
class DurableStoreSpec extends SparkSpec {
  import spark.implicits._

  private class Probe(val s: SparkSession, val p: String,
      rowCeiling: Long = 4000000L, plainBytes: Long = 64L * 1024 * 1024,
      coldCap: Int = DurableStore.footerColdReadCap,
      walkCap: Int = DurableStore.footerWalkMaxFiles)
      extends DurableStore {
    protected def spark: SparkSession = s
    protected def path: String = p
    protected override def invertStoreRows: Long = rowCeiling
    protected override def plainStoreBytes: Long = plainBytes
    protected override def footerColdReadCap: Int = coldCap
    protected override def footerWalkMaxFiles: Int = walkCap
    def guardAnti(pr: DataFrame, stored: DataFrame, keys: Seq[String],
        table: String): DataFrame =
      probeAntiJoin(pr, stored, keys, table)
    def footerRows(table: String): Option[Long] = tableFooterRows(table)
    def allMarked(table: String): Option[Boolean] = batchAllMarked(table)
    def unmarkedProbe(table: String, df: DataFrame): Boolean =
      hasUnmarkedRows(table, df)
    def smallSched[T](tables: Seq[String])(f: => T): T =
      withSmallRegimeScheduling(tables)(f)
    def small(table: String): Boolean = storedIsSmall(table)
  }

  test("replay-guard dispatch: small stores keep the plain anti-join, big stores invert") {
    // the round-14 regime fix, pinned on the PLAN: a store under the
    // broadcast threshold — or over it in BYTES but under the row
    // ceiling (the fat-array regime: footer row counts, not bytes,
    // price the shuffle the inversion avoids) — must produce exactly
    // one join (the plain LEFT ANTI Catalyst handles itself — zero
    // extra driver actions); a genuinely big store, the inversion's
    // two joins (stored SEMI broadcast(probe), then probe ANTI
    // broadcast(present)). All paths must agree on the result.
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = Files.createTempDirectory("bt4").toFile.getAbsolutePath
    val probe = new Probe(spark, dir)
    spark.range(2000).select(col("id"))
      .write.parquet(s"$dir/t")
    val stored = spark.read.parquet(s"$dir/t")
    val pr = spark.range(1500, 2500).select(col("id"))
    def joins(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case j: LJoin => j }.size
    val small = probe.guardAnti(pr, stored, Seq("id"), "t")
    assert(joins(small) == 1, "small store must plan ONE plain anti-join")
    assert(small.collect().map(_.getLong(0)).toSet ==
      (2000L until 2500L).toSet)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // over the byte thresholds but under the row ceiling: STILL
      // plain (2000 rows shuffle for free; the inversion's overhead
      // loses) — footer row counts decide, not bytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val fatStore = new Probe(spark, dir, plainBytes = 1024L)
      val fat = fatStore.guardAnti(pr, stored, Seq("id"), "t")
      assert(joins(fat) == 1,
        "modest rows must keep the plain anti-join even over the " +
        "byte thresholds")
      // over the byte thresholds AND the row ceiling: invert
      val bigStore = new Probe(spark, dir, rowCeiling = 100L,
        plainBytes = 1024L)
      val big = bigStore.guardAnti(pr, stored, Seq("id"), "t")
      assert(joins(big) == 2, "big store must plan the two-join inversion")
      assert(big.collect().map(_.getLong(0)).toSet ==
        small.collect().map(_.getLong(0)).toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("the unmarked probe decides from footer batch stats; Spark job only when undecidable") {
    // the fold-gating probe (does the table hold batch = −1 rows?)
    // must resolve from parquet min/max footer stats without a Spark
    // job whenever the footers can decide — including backfill-only
    // (−2) files — and fall back to the one-row probe ONLY when a
    // file's stats straddle −1 without containing it
    val dir = Files.createTempDirectory("bt6").toFile.getAbsolutePath
    val probe = new Probe(spark, dir)
    def write(table: String, batches: Seq[Long]): Unit =
      batches.toDF("batch").select(col("batch").cast(LongType))
        .coalesce(1).write.mode("append").parquet(s"$dir/$table")
    // all id'd: provably marked
    write("m", Seq(0L, 1L, 7L))
    assert(probe.allMarked("m") == Some(true))
    assert(!probe.unmarkedProbe("m", spark.read.parquet(s"$dir/m")))
    // a −1 anywhere: provably unmarked (min or max IS −1 — exact int64
    // stats), even alongside id'd rows in the same file
    write("u", Seq(-1L, 3L))
    assert(probe.allMarked("u") == Some(false))
    assert(probe.unmarkedProbe("u", spark.read.parquet(s"$dir/u")))
    // backfill-only (−2) files are NOT unmarked
    write("b", Seq(-2L, -2L))
    assert(probe.allMarked("b") == Some(true))
    // a compacted-style file straddling −1 (min −2, max 5, no −1):
    // footers cannot decide — the fallback probe must answer false
    write("s", Seq(-2L, 0L, 5L))
    assert(probe.allMarked("s") == None)
    assert(!probe.unmarkedProbe("s", spark.read.parquet(s"$dir/s")))
    // …and the same straddle WITH a −1 present answers true
    write("s2", Seq(-2L, -1L, 5L))
    assert(probe.unmarkedProbe("s2", spark.read.parquet(s"$dir/s2")))
    // a missing table holds nothing
    assert(probe.allMarked("nope") == Some(true))
  }

  test("small-regime scheduling suspends AQE for the window (ref-counted) and big regimes keep it") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val dir = Files.createTempDirectory("bt7").toFile.getAbsolutePath
    val probe = new Probe(spark, dir)
    val before = spark.conf.get(aqeKey)
    // small regime (a missing table is small): suspended for the
    // window, nested entries ref-count, restored after
    probe.smallSched(Seq("t")) {
      assert(spark.conf.get(aqeKey) == "false")
      probe.smallSched(Seq("t")) {
        assert(spark.conf.get(aqeKey) == "false")
      }
      assert(spark.conf.get(aqeKey) == "false",
        "inner exit must not restore while the outer window is open")
    }
    assert(spark.conf.get(aqeKey) == before)
    // restored even when the body throws
    intercept[RuntimeException] {
      probe.smallSched(Seq("t"))(throw new RuntimeException("boom"))
    }
    assert(spark.conf.get(aqeKey) == before)
    // big regime (over the byte thresholds AND the row ceiling, the
    // same gates as the join dispatch): AQE untouched
    spark.range(2000).select(col("id")).write.parquet(s"$dir/t")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val big = new Probe(spark, dir, rowCeiling = 100L,
        plainBytes = 1024L)
      big.smallSched(Seq("t")) {
        assert(spark.conf.get(aqeKey) == before,
          "a big-regime ingest must keep its adaptivity")
      }
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("AQE suspension is session-scoped: a sibling session keeps its adaptivity") {
    // the deployment contract in withSmallRegimeScheduling's scaladoc:
    // stores constructed on spark.newSession() can never cost query
    // traffic on ANOTHER session its adaptivity — the toggle touches
    // only the store's own session conf
    val aqeKey = "spark.sql.adaptive.enabled"
    val dir = Files.createTempDirectory("bt8").toFile.getAbsolutePath
    val ingestSession = spark.newSession()
    val querySession = spark.newSession()
    querySession.conf.set(aqeKey, "true")
    val store = new Probe(ingestSession, dir)
    val testSessionBefore = spark.conf.get(aqeKey)
    store.smallSched(Seq("t")) {
      assert(ingestSession.conf.get(aqeKey) == "false")
      assert(querySession.conf.get(aqeKey) == "true",
        "a sibling session must keep AQE during an ingest window")
      assert(spark.conf.get(aqeKey) == testSessionBefore,
        "the test session itself is untouched")
    }
  }

  test("small-regime window narrows the shuffle width from measured bytes and restores it") {
    val partsKey = "spark.sql.shuffle.partitions"
    val dir = Files.createTempDirectory("btw").toFile.getAbsolutePath
    val probe = new Probe(spark, dir)
    // the width clamps to the session default — raise it so the floor
    // (8) is visible from the test session's 4
    spark.conf.set(partsKey, "32")
    val before = spark.conf.get(partsKey)
    try {
    // a near-empty store derives the FLOOR width (8)
    probe.smallSched(Seq("t")) {
      assert(spark.conf.get(partsKey) == "8",
        "a KB-scale regime runs at the floor width")
      probe.smallSched(Seq("t")) {
        assert(spark.conf.get(partsKey) == "8")
      }
      assert(spark.conf.get(partsKey) == "8",
        "inner exit must not restore while the outer window is open")
    }
    assert(spark.conf.get(partsKey) == before)
    // restored even when the body throws
    intercept[RuntimeException] {
      probe.smallSched(Seq("t"))(throw new RuntimeException("boom"))
    }
    assert(spark.conf.get(partsKey) == before)
    // width grows with the measured bytes at the AQE advisory size: a
    // store measuring ~5 advisory units derives width 5 (above a floor
    // of 1), capped at the session default
    spark.range(4000).select(col("id")).coalesce(1)
      .write.parquet(s"$dir/t")
    val bytes = new java.io.File(s"$dir/t").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length()).sum
    val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val advBefore = spark.conf.get(adv)
    try {
      spark.conf.set(adv, math.max(1L, bytes / 5).toString)
      val floored = new Probe(spark, dir) {
        override protected def smallRegimeMinPartitions: Int = 1
      }
      floored.smallSched(Seq("t")) {
        val w = spark.conf.get(partsKey).toInt
        assert(w >= 5 && w <= 6, s"width should track bytes/advisory: $w")
      }
      // …and is capped at the session default width
      spark.conf.set(adv, "1")
      floored.smallSched(Seq("t")) {
        assert(spark.conf.get(partsKey) == before,
          "a regime near its ceiling runs at the session default width")
      }
    } finally spark.conf.set(adv, advBefore)
    assert(spark.conf.get(partsKey) == before)
    } finally spark.conf.set(partsKey, "4")
  }

  test("AQE window restores by UNSET when the session never set the key") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val dir = Files.createTempDirectory("bt9").toFile.getAbsolutePath
    val s2 = spark.newSession()
    s2.conf.unset(aqeKey)
    assume(!s2.conf.getAll.contains(aqeKey))
    val store = new Probe(s2, dir)
    store.smallSched(Seq("t")) {
      assert(s2.conf.get(aqeKey) == "false")
    }
    // no materialized explicit setting left behind: the session keeps
    // tracking the registered default instead of a frozen "true"
    assert(!s2.conf.getAll.contains(aqeKey),
      "exit must unset, not materialize an explicit setting")
    // …and an explicitly-set value round-trips exactly
    s2.conf.set(aqeKey, "true")
    store.smallSched(Seq("t"))(())
    assert(s2.conf.getAll.get(aqeKey).contains("true"))
  }

  test("footer-walk caps: guard gates degrade to the conservative verdicts, never unbounded driver work") {
    val dir = Files.createTempDirectory("bt10").toFile.getAbsolutePath
    def write(table: String, batches: Seq[Long]): Unit =
      batches.toDF("batch").select(col("batch").cast(LongType))
        .coalesce(1).write.mode("append").parquet(s"$dir/$table")
    // 3 id'd files: decidable when the cold cap allows, None past it
    write("m", Seq(0L)); write("m", Seq(1L)); write("m", Seq(2L))
    val capped = new Probe(spark, dir, coldCap = 0)
    assert(capped.allMarked("m") == None,
      "past the cold-read cap the verdict falls back to the Spark probe")
    assert(!capped.unmarkedProbe("m", spark.read.parquet(s"$dir/m")),
      "the fallback probe still answers correctly")
    val uncapped = new Probe(spark, dir)
    assert(uncapped.allMarked("m") == Some(true))
    // storedIsSmall: over the byte gates with more files than the walk
    // cap → the footer-row gate is skipped (dispatch says big), while
    // the same table under a roomy cap stays small by row count
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val overflow = new Probe(spark, dir, plainBytes = 1L, walkCap = 2)
      assert(!overflow.small("m"),
        "past the status-buffer cap the footer gate must be skipped")
      val roomy = new Probe(spark, dir, plainBytes = 1L)
      assert(roomy.small("m"), "3 rows is small by footer count")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("one footer open serves both decisions: a row count leaves the batch stats cached") {
    // tableFooterRows and batchAllMarked read the same footers: the
    // walk that counts rows caches each file's batch min/max too, so a
    // later unmarked probe decides with no cold read at all
    val dir = Files.createTempDirectory("bt11").toFile.getAbsolutePath
    Seq(0L, 1L, 7L).toDF("batch").select(col("batch").cast(LongType))
      .coalesce(1).write.parquet(s"$dir/m")
    assert(new Probe(spark, dir).footerRows("m") == Some(3L))
    val noColdReads = new Probe(spark, dir, coldCap = 0)
    assert(noColdReads.allMarked("m") == Some(true),
      "the row count's footer read must serve the batch-stat verdict")
  }

  test("open refuses a path with no shape pin, and a pin missing a required field") {
    // the three dedup stores reopen through the one pinned-shape read:
    // no store.meta (never ingested) and a truncated pin must both
    // refuse with a message that names what is missing
    import graft.operators.dedup.{EmbedStore, MediaStore, ReleaseStore}
    val stores: Seq[(String, Map[String, String], String,
        (SparkSession, String) => Any)] = Seq(
      ("ReleaseStore", Map("idCol" -> "doc_id", "textCol" -> "text",
        "maxShingleDf" -> "none", "lshFront" -> "false",
        "collapseFront" -> "false", "portable" -> "false",
        "containPm" -> "800", "k" -> "128", "bands" -> "32",
        "seed" -> "42", "buckets" -> "0"), "textCol", ReleaseStore.open),
      ("MediaStore", Map("maxHamming" -> "3", "chunks" -> "4",
        "buckets" -> "0", "clipHamming" -> "0", "clipMaxFrames" -> "4096"),
        "clipMaxFrames", MediaStore.open),
      ("EmbedStore", Map("thresholdE6" -> "950000", "bits" -> "8",
        "tables" -> "4", "seed" -> "7", "buckets" -> "0"), "bits",
        EmbedStore.open))
    for ((name, pin, dropped, open) <- stores) {
      val dir = Files.createTempDirectory("pin").toFile.getAbsolutePath
      val none = intercept[IllegalStateException](open(spark, dir))
      assert(none.getMessage.contains(s"$dir/store.meta"), name)
      Files.write(java.nio.file.Paths.get(s"$dir/store.meta"),
        (pin - dropped).map { case (f, v) => s"$f=$v\n" }.mkString
          .getBytes("UTF-8"))
      val truncated = intercept[IllegalStateException](open(spark, dir))
      assert(truncated.getMessage.contains(s"'$dropped'"), name)
      // the complete pin reopens
      Files.write(java.nio.file.Paths.get(s"$dir/store.meta"),
        pin.map { case (f, v) => s"$f=$v\n" }.mkString.getBytes("UTF-8"))
      assert(open(spark, dir) != null, name)
    }
  }
}
