package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  * Progress goes to stderr; queries run alphabetically after a session
  * warmup so timings reflect steady-state execution, not JVM startup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shuffle writer: Spark's default; OPTIMIZATION_r17.md has why the
    // round-16 sort-path default was reverted
    val spark = Session.local("graft-bench")
    // Warmup. A parquet count() is metadata-only (row-group stats), so it
    // warms neither the vectorized reader nor any operator codegen;
    // instead (1) materialize every table's columns once, and (2) JIT the
    // operator library's hot shapes — codegen'd agg/sort/join/window/
    // explode, string+array expressions, the custom sketch expressions —
    // on tiny synthetic or sampled inputs. Nothing here persists and no
    // warmer's plan equals a measured query's plan, so the measured runs
    // reuse no data or results — this is process warmup (the reference
    // likewise benchmarks a warm resident service), purely JVM state.
    Tables.names.foreach(n =>
      Tables.load(spark, sfDir, n).queryExecution.toRdd.count())
    warmOperatorShapes(spark, sfDir)

    // Machine-drift calibration: a fixed synthetic shuffle+agg whose
    // shape never changes round to round (generated input, constant
    // row count and key space — no SF dependence, no parquet). Its
    // wall calibrates THIS run's machine-day: cross-round totals
    // divide by it before being read as regressions (round 14 burned
    // a day proving r12's faster release-family numbers were a faster
    // machine-day — this row ends that archaeology). Same min-of-N
    // discipline as the queries; runs after warmup so it prices the
    // machine, not JIT. Constant-shape only under the driver's fixed
    // CPU count (shuffle width follows spark.sql.shuffle.partitions);
    // compare calibrations only between runs at the same CPUS.
    import org.apache.spark.sql.functions.{col, count, lit, pmod, sum,
      xxhash64}
    def calibrationOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .select(xxhash64(col("id")).as("h"))
        .groupBy(pmod(col("h"), lit(4096)).as("k"))
        // summing bounded residues, not raw hashes — 20M raw 64-bit
        // hashes overflow the ANSI long sum
        .agg(count(lit(1)).as("n"),
          sum(pmod(col("h"), lit(1000000L))).as("s"))
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val calibrationSec = (1 to 3).map(_ => calibrationOnce()).min
    System.err.println(f"[bench] calibration $calibrationSec%.3f s")

    val only = args.toSet
    // min-of-N timing: the host shows ±2× wall-clock noise between runs
    // (CPU contention, page cache); the MINIMUM of independent repetitions
    // estimates the contention-free cost, so round-over-round comparisons
    // track plan changes instead of scheduler luck
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    // Self-attribution: per-rep GC time + heap high-water, so a GC-stall
    // repetition is distinguishable from a plan regression IN the
    // artifact (round 7/8 both saw the dedup family "regress" on host
    // contention; this ends the environment archaeology). local[*] runs
    // executors in this JVM, so driver-side MXBeans see the real load.
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    def gcNowMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    def peakHeapMb(): Long = heapPools
      .flatMap(p => Option(p.getPeakUsage).map(_.getUsed)).sum / (1 << 20)
    // Process CPU per rep: GC attributes heap stalls, but HOST CONTENTION
    // (CPU steal by a co-tenant) was invisible — a rep whose wall-clock
    // grows while its cpu_ms stays ~flat did the same work and simply
    // didn't get scheduled; compare cpu_ms vs cpu_worst_ms to call it
    // from the artifact alone (r9's q_line/q_sankey "regressions").
    val osBean = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    // None (not 0) when the platform bean is absent or unsupported: a 0
    // cpu_ms is indistinguishable from total CPU starvation — precisely
    // the signal these columns exist to disambiguate — so absence of
    // data lands as the -1 sentinel in the artifact instead
    def cpuNowMs(): Option[Long] =
      osBean.map(_.getProcessCpuTime).filter(_ >= 0).map(_ / 1000000L)
    // HOST cpu from /proc/stat: hostBusy − processCpu = CPU burned by
    // co-tenants during the rep. A rep where co-tenants held a material
    // share of the machine is CONTENDED — its wall-clock measures
    // scheduler luck, not the plan — so the committed min-of-N must not
    // be built from contended reps alone (r10's committed artifact
    // overstated the suite ~18% for exactly this reason).
    def hostBusyMs(): Option[Long] = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val p = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // cpu fields: user nice system idle iowait irq softirq steal …
        // busy = everything except idle(3) and iowait(4)
        val busy = p.indices.collect { case i if i != 3 && i != 4 => p(i) }.sum
        Some(busy * 10L) // USER_HZ = 100 ticks/s on Linux → ms
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }
    val cores = Runtime.getRuntime.availableProcessors.toLong
    // Driver-JOB counter per repetition (kept in the
    // committed artifact): identical plans schedule nearly identical
    // jobs regardless of machine-day — so a wall-clock move at an
    // unchanged job count reads as machine drift (cross-checked against
    // calibration_sec), while a job-count move is a plan/scheduling
    // change. Reps of one plan can still differ by a job, so a query
    // reports the FEWEST jobs of its successful reps, not the fastest
    // rep's count, which would make the number depend on which rep
    // won. The listener bus is
    // async; each delta brackets with a bounded flush.
    val jobCounter = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCounter.incrementAndGet()
          ()
        }
      })
    def jobsNow(): Int = {
      org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      jobCounter.get
    }
    final case class Rep(sec: Double, rows: Long, gcMs: Long, peakMb: Long,
        cpuMs: Long, extMs: Long, contended: Boolean, jobs: Int)
    // bounded global retry budget: a persistently-loaded host must not
    // turn the suite into an unbounded wait — unresolved contention is
    // FLAGGED in the artifact instead
    var retryBudget = 40
    val timed = selected.map { case (name, fn) =>
      def oneRep(): Rep = {
        heapPools.foreach(_.resetPeakUsage())
        val g0 = gcNowMs()
        val c0 = cpuNowMs().getOrElse(0L)
        val h0 = hostBusyMs()
        val j0 = jobsNow()
        val t0 = System.nanoTime()
        // toRdd.count() materializes EVERY output column — a plain count()
        // would let Catalyst prune the projections being measured
        val n = try fn(spark, sfDir).queryExecution.toRdd.count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1L
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val repJobs = jobsNow() - j0
        val repGc = gcNowMs() - g0
        val repCpu = cpuNowMs().map(_ - c0).getOrElse(-1L)
        val ext = (for { a <- h0; b <- hostBusyMs() if repCpu >= 0 }
          yield (b - a - repCpu).max(0L)).getOrElse(-1L)
        // contended = co-tenants burned >20% of the machine's capacity
        // over this rep's window (needs both host and process counters)
        val cont = ext >= 0 && ext > (sec * 1000).toLong * cores / 5
        // release this query's scratch persists so cached partials never
        // carry into the next repetition or query (outside the timed window)
        ScratchCache.releaseAll(spark)
        Rep(sec, n, repGc, peakHeapMb(), repCpu, ext, cont, repJobs)
      }
      var times = Vector.fill(reps)(()).map(_ => oneRep())
      // a failed repetition returns fast — its wall-clock must not become
      // the "best" time; min/worst come from successful reps only (a query
      // with zero successful reps keeps its failure times and the stderr
      // FAILED lines as the signal)
      def ok = times.filter(_.rows >= 0)
      def basis = if (ok.nonEmpty) ok else times
      // re-run while the BEST rep is contended (bounded): one clean rep
      // is all min-of-N needs to report the contention-free cost
      var extraLeft = 2
      while (basis.minBy(_.sec).contended && extraLeft > 0 && retryBudget > 0) {
        System.err.println(s"[bench] $name best rep contended " +
          s"(ext ${basis.minBy(_.sec).extMs} ms) — re-running")
        times :+= oneRep(); extraLeft -= 1; retryBudget -= 1
      }
      val bestRep = basis.minBy(_.sec).copy(jobs = basis.map(_.jobs).min)
      val worstRep = basis.maxBy(_.sec)
      System.err.println(
        f"[bench] $name%-22s ${bestRep.sec}%8.2f s  (worst ${worstRep.sec}%.2f, " +
          f"jobs ${bestRep.jobs} (reps ${times.map(_.jobs).mkString("/")}), " +
          f"gc ${bestRep.gcMs}/${worstRep.gcMs} ms, " +
          f"cpu ${bestRep.cpuMs}/${worstRep.cpuMs} ms, " +
          f"ext ${bestRep.extMs} ms${if (bestRep.contended) " CONTENDED" else ""}, " +
          f"peak ${basis.map(_.peakMb).max} MB, " +
          f"${basis.head.rows} rows)")
      (name, bestRep, worstRep, basis.map(_.peakMb).max)
    }
    val results = timed.map { case (n, best, _, _) => n -> best.sec }
    def fmt(pairs: Seq[(String, Double)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    def fmtL(pairs: Seq[(String, Long)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val gcBestTotal = timed.map(_._2.gcMs).sum
    val gcWorstTotal = timed.map(_._3.gcMs).sum
    val peakMbMax = if (timed.nonEmpty) timed.map(_._4).max else 0L
    // queries whose best rep stayed contended after the bounded retries:
    // their committed numbers overstate the plan's cost — the driver (or
    // a reader) should re-run rather than read them as regressions
    val contendedN = timed.count(_._2.contended)
    // The harness keeps only the tail of stdout, so the printed line must
    // stay well under 2000 chars: report a headline subset inline (one
    // query per major area) and dump the complete per-query map to
    // BENCH_DETAIL.json next to the build. A run over named queries
    // reports every one of them inline instead.
    val headlinePairs =
      if (only.isEmpty) results.filter { case (k, _) => headline(k) }
      else results
    // per-drive driver-job counts for the expensive (≥3 s) drives go in
    // the ONE-LINE artifact itself: with calibration_sec they are the
    // two lenses that separate machine drift from plan changes in one
    // read (jobs are machine-invariant; calibration prices the
    // machine-day). The full map is in BENCH_DETAIL.
    val jobPairs = timed.filter(_._2.sec >= 3.0)
      .map { case (n, b, _, _) => n -> b.jobs.toLong }
    val line = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec"""" +
      s""","n_queries":${results.size},"reps":$reps""" +
      s""","calibration_sec":${f"$calibrationSec%.3f"}""" +
      s""","gc_best_ms":$gcBestTotal,"gc_worst_ms":$gcWorstTotal""" +
      s""","heap_peak_mb":$peakMbMax,"contended_queries":$contendedN""" +
      s""","queries":${fmt(headlinePairs)}""" +
      s""","jobs":${fmtL(jobPairs)}""" +
      (if (only.isEmpty) s""","detail":"BENCH_DETAIL.json"""" else "") +
      s""","sf":"$sfDir"}"""
    // only a FULL run may refresh the committed per-query record — a
    // filtered smoke run ("Bench q_x") would silently clobber it with a
    // near-empty map and a subset total. `queries` is min-of-reps;
    // `worst` records each query's slowest repetition so the noise band
    // is visible in the artifact itself; `gc_ms`/`gc_worst_ms` attribute
    // each rep's wall-clock to GC (a slow rep with proportionally high
    // gc_worst_ms is a GC stall, not a plan change); `cpu_ms`/
    // `cpu_worst_ms` attribute it to scheduling (a worst rep whose
    // cpu_ms ≈ the best rep's but whose wall is much longer was starved
    // by a co-tenant, not re-planned); `heap_peak_mb` is the rep-max
    // heap high-water per query.
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
        (s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec"""" +
          s""","reps":$reps""" +
          s""","calibration_sec":${f"$calibrationSec%.3f"}""" +
          s""","queries":${fmt(results)}""" +
          s""","worst":${fmt(timed.map { case (n, _, w, _) => n -> w.sec })}""" +
          s""","jobs":${fmtL(timed.map { case (n, b, _, _) => n -> b.jobs.toLong })}""" +
          s""","gc_ms":${fmtL(timed.map { case (n, b, _, _) => n -> b.gcMs })}""" +
          s""","gc_worst_ms":${fmtL(timed.map { case (n, _, w, _) => n -> w.gcMs })}""" +
          s""","cpu_ms":${fmtL(timed.map { case (n, b, _, _) => n -> b.cpuMs })}""" +
          s""","cpu_worst_ms":${fmtL(timed.map { case (n, _, w, _) => n -> w.cpuMs })}""" +
          s""","ext_ms":${fmtL(timed.map { case (n, b, _, _) => n -> b.extMs })}""" +
          s""","contended":${fmtL(timed.filter(_._2.contended)
            .map { case (n, _, _, _) => n -> 1L })}""" +
          s""","heap_peak_mb":${fmtL(timed.map { case (n, _, _, p) => n -> p })}""" +
          s""","sf":"$sfDir"}""" + "\n")
          .getBytes("UTF-8"))
    println(line)
    spark.stop()
  }

  /** Headline subset reported inline — one representative query per major
    * area (line/sankey/widgets, routing, sketches, dedup, similarity,
    * text pipeline). The full map goes to BENCH_DETAIL.json.
    */
  private val headline: Set[String] = Set(
    "q_line", "q_line_bidir", "q_line_raw", "q_sankey", "q_widget_top",
    "q_gapfill", "q_rollup_reagg", "q_filter_dsl", "q_lpm_lookup",
    "q_topk_sketch", "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_clusters", "q_sim_topk", "q_sim_lsh", "q_sim_ivf",
    "q_text_stats", "q_lang_id", "q_tfidf_top", "q_decontam",
    "q_seq_pack", "q_pii_scrub", "q_multimodal")

  /** JIT/codegen warmers for the operator shapes the queries compile:
    * tiny inputs, no persists, plans distinct from every measured query.
    */
  private def warmOperatorShapes(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def run(df: org.apache.spark.sql.DataFrame): Unit = {
      try df.queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmer failed (ignored): ${e.getMessage}")
      }
    }
    val t = (1 to 2000).map(i => (i.toLong, s"w$i word$i", Array(i.toLong, i + 1L)))
      .toDF("id", "s", "arr")
    // agg + sort + limit over strings
    run(t.groupBy("s").agg(count(lit(1)).as("n"), sum("id").as("w"))
      .orderBy(asc("s"), desc("n")).limit(5))
    // string expressions (instr/lower/regexp/split) + hashes
    run(t.select(instr(lower(col("s")), "w"), regexp_replace(col("s"), "w", "v"),
      xxhash64(col("s")), md5(col("s")), split(col("s"), " ")))
    // shuffle join + explode + collect_list + window + array functions
    run(t.as("a").join(t.as("b"), col("a.id") === col("b.id") + 1)
      .select(col("a.id")))
    run(t.select(explode(col("arr")).as("x"), col("id"))
      .groupBy("x").agg(collect_list("id")))
    locally {
      import org.apache.spark.sql.expressions.Window
      run(t.select(col("id"),
        sum("id").over(Window.partitionBy(col("id") % 7).orderBy("id")
          .rowsBetween(Window.unboundedPreceding, 0))))
    }
    run(t.select(array_intersect(col("arr"), col("arr")), sort_array(col("arr")),
      transform(col("arr"), x => x * 2), sequence(lit(0), lit(3)),
      flatten(array(col("arr"), col("arr")))))
    // flow-schema scan + agg with an oddball grouping no query uses
    run(graft.store.EventFlows.flows(spark, sfDir)
      .where(col("Packets") % 1000 === 999)
      .groupBy("ExporterRole").agg(sum("Bytes")))
    // custom sketch expressions over a 64-doc sample
    locally {
      import graft.operators.text.TextAnalysis
      val d = Tables.load(spark, sfDir, "documents").limit(64)
        .select(col("doc_id"),
          transform(TextAnalysis.shingles(col("text")), s => xxhash64(s)).as("sh"))
        .where(size(col("sh")) > 0)
      run(d.select(col("doc_id"),
        graft.operators.dedup.Dedup.minhashSignature(col("sh"), k = 16, seed = 7L),
        graft.expressions.Sketches.simhash64(col("sh")),
        graft.expressions.Sketches.rollingHash64(col("sh").cast("string"))))
    }
    // embedding dot products over a 64-vector sample
    locally {
      val e = Tables.load(spark, sfDir, "embeddings").limit(64)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      run(e.select(graft.expressions.Sketches.dotProduct(col("v"), col("v"))))
    }
  }
}
