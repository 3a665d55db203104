package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB wall-clock trace for one SparkEntry query — the drill-down
  * behind the bench's per-query job counts: where a ~90-job composed
  * store drive actually spends its wall. Prints every job's duration,
  * call site and task count (slowest first), plus per-stage
  * shuffle/input bytes for the slowest jobs, so the expensive ACTION
  * inside a multi-batch lifecycle is attributable from one run.
  *
  * Usage: runMain graft.JobTrace <sfDir> <query> [topN]
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val topN = if (args.length > 2) args(2).toInt else 25
    val spark = Session.local("graft-jobtrace")
    final case class Job(id: Int, start: Long, callSite: String,
        var end: Long = -1L, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    final case class Stg(jobId: Int, name: String, tasks: Int,
        shuffleRead: Long, shuffleWrite: Long, input: Long, execRunMs: Long)
    val stages = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Stg]())
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val cs = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(j.jobId, Job(j.jobId, j.time, cs))
        j.stageIds.foreach(s => stageToJob.put(s, j.jobId))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.get(j.jobId)).foreach(_.end = j.time)
        ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        // getOrDefault, not Option(get): a missing Int key's null would
        // unbox to 0 and mis-attribute orphan stages to job 0 (ADVICE r16)
        val jid = stageToJob.getOrDefault(si.stageId, -1)
        // first graft-owned frames of the stage's call site: the
        // operation INSIDE the store drive this stage belongs to
        // (every write action's short name is just "parquet at ...")
        val where = si.details.linesIterator
          .filter(l => l.contains("graft.") && !l.contains("JobTrace"))
          .take(3).map(_.trim.stripPrefix("at ")).mkString(" <- ")
        stages.add(Stg(jid, si.name + " | " + where, si.numTasks,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.inputMetrics.bytesRead,
          si.taskMetrics.executorRunTime))
        Option(jobs.get(jid)).foreach(_.tasks += si.numTasks)
        ()
      }
    })
    // in-process stack sampler over the executor task threads (the
    // sandbox blocks jcmd/jstack attach): every 20 ms, charge each
    // RUNNABLE "Executor task launch worker" thread's topmost
    // graft/spark-sql frame — a poor-man's async-profiler that answers
    // "which operator is burning the CPU" without leaving the JVM.
    val samples = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    // the DRIVER thread ("main") sampled separately: a composed store
    // drive's wall between jobs is driver-side (planning, fs metadata,
    // footer walks, codegen) and invisible to task metrics
    val driverSamples = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val all = Thread.getAllStackTraces()
        all.forEach { (t, frames) =>
          if (t.getName == "main" && frames.nonEmpty) {
            // WAITING frames sampled too (prefixed by state): the gap
            // between jobs is usually main BLOCKED on something — the
            // deepest graft/spark frame says on what
            val f = frames.find { fr =>
              val c = fr.getClassName
              c.startsWith("graft.") ||
              c.startsWith("org.apache.spark.sql.catalyst") ||
              c.startsWith("org.apache.spark.sql.execution") ||
              c.startsWith("org.apache.spark.sql.classic") ||
              c.startsWith("org.apache.hadoop") ||
              c.startsWith("org.apache.parquet") ||
              c.startsWith("java.io") || c.startsWith("sun.nio")
            }.getOrElse(frames.head)
            val tag = if (t.getState == Thread.State.RUNNABLE) "RUN " else "WAIT"
            driverSamples.computeIfAbsent(
              tag + " " + f.getClassName + "." + f.getMethodName,
              _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
            ()
          }
          if (t.getName.startsWith("Executor task launch") &&
              t.getState == Thread.State.RUNNABLE && frames.nonEmpty) {
            val interesting = frames.find { f =>
              val c = f.getClassName
              (c.startsWith("graft.") ||
               c.startsWith("org.apache.spark.sql.catalyst.expressions") ||
               c.startsWith("org.apache.spark.sql.execution") ||
               c.contains("GeneratedClass") ||
               c.startsWith("org.apache.parquet") ||
               c.startsWith("java.security") ||
               c.startsWith("org.apache.spark.unsafe") ||
               c.startsWith("org.apache.spark.shuffle") ||
               c.startsWith("org.apache.spark.storage")) &&
              !c.contains("JobTrace")
            }.getOrElse(frames.head)
            val key = interesting.getClassName + "." +
              interesting.getMethodName
            samples.computeIfAbsent(key,
              _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
            ()
          }
        }
        Thread.sleep(20)
      }
    }, "jobtrace-sampler")
    sampler.setDaemon(true)
    sampler.start()
    // codegen-compilation lens (VERDICT r16 item 5): Janino compiles
    // recorded by the process-wide CodegenMetrics histogram — count =
    // distinct generated classes actually compiled (cache misses),
    // time = ms inside doCompile. A drive whose plans differ per batch
    // only by literals recompiles per batch; this lens prices it.
    val cgHist = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val cgCount0 = cgHist.getCount
    val cgMs0 = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime / 1000000L
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.toRdd.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val cgCount = cgHist.getCount - cgCount0
    val cgMs = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime / 1000000L - cgMs0
    sampling = false
    ScratchCache.releaseAll(spark)
    org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val all = jobs.values().asScala.toSeq.sortBy(j => -(j.end - j.start))
    println(f"== $name: ${all.size} jobs, $sec%.2f s wall, $n rows ==")
    val byJob = stages.asScala.toSeq.groupBy(_.jobId)
    all.take(topN).foreach { j =>
      val ms = if (j.end > 0) j.end - j.start else -1L
      println(f"  job ${j.id}%4d ${ms}%6d ms  tasks ${j.tasks}%5d  ${j.callSite}")
      byJob.getOrElse(j.id, Nil).sortBy(-_.execRunMs).take(3).foreach { s =>
        println(f"      stage exec=${s.execRunMs}%6d ms tasks=${s.tasks}%4d " +
          f"in=${s.input / 1024}%8d KB sr=${s.shuffleRead / 1024}%7d KB " +
          f"sw=${s.shuffleWrite / 1024}%7d KB  ${s.name.take(240)}")
      }
    }
    val tot = all.filter(_.end > 0).map(j => j.end - j.start).sum
    println(f"  sum(job walls) = ${tot}%d ms; gaps (driver-side) = " +
      f"${(sec * 1000).toLong - tot}%d ms")
    println(f"  codegen: $cgCount compiles, $cgMs ms compile time " +
      "(process-wide counters; includes warmup only on the first drive)")
    println("  == executor-thread stack samples (top 25 frames) ==")
    samples.asScala.toSeq.sortBy(-_._2.get).take(25).foreach {
      case (frame, cnt) => println(f"   ${cnt.get}%6d  $frame")
    }
    println("  == driver-thread (main) stack samples (top 25 frames) ==")
    driverSamples.asScala.toSeq.sortBy(-_._2.get).take(25).foreach {
      case (frame, cnt) => println(f"   ${cnt.get}%6d  $frame")
    }
    spark.stop()
  }
}
