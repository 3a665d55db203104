package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, timed from the benchmark's side. Times
  * are epoch milliseconds with sub-millisecond digits, the clock Spark's
  * listener events use. Spans of one console request share `req`.
  */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, req: Long) {
  def ms: Double = end - start
}

final case class JobRec(id: Int, start: Double, end: Double, stages: Seq[Int])
final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuMs: Long, shuffleWrite: Long,
    shuffleRead: Long)
final case class ScanRec(at: Double, files: Long, bytes: Long)

/** Spans plus the engine-side records that explain them: Spark jobs and
  * stages from a [[SparkListener]], micro-batch progress from a
  * [[StreamingQueryListener]], file-scan sizes from a
  * [[QueryExecutionListener]]. Everything stays in memory until the run
  * ends. With tracing off, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val progress = ArrayBuffer.empty[(Double, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  val scans = ArrayBuffer.empty[ScanRec]
  /** `Dataset.observe` results of batch queries: (time, function, name, row). */
  val observed = ArrayBuffer.empty[(Double, String, String, org.apache.spark.sql.Row)]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Double, Seq[Int])]
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  def span[T](name: String, req: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val parent = current.get
      val t0 = now()
      val id = synchronized {
        val s = Span(spans.size, name, t0, t0, parent, req); spans += s; s.id
      }
      current.set(id)
      try f
      finally {
        current.set(parent)
        val t1 = now()
        synchronized { spans(id) = spans(id).copy(end = t1) }
      }
    }

  /** Registers the listeners on `spark` (tracing mode only). Attach before
    * any stream starts: a stream's batches run in a clone of the session,
    * which only inherits the query-execution listeners registered before.
    */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        jobStarts(e.jobId) = (e.time.toDouble, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobStarts.remove(e.jobId).foreach { case (t, st) => jobs += JobRec(e.jobId, t, e.time.toDouble, st) }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val rec = StageRec(i.stageId, i.numTasks,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.executorCpuTime / 1000000L,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead)
        Tracer.this.synchronized { stages += rec }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tracer.this.synchronized { progress += (now() -> e.progress) }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val top = qe.observedMetrics
        val obs = (top.toSeq ++ Tracer.cachedObservations(qe.executedPlan).filterNot(o =>
          top.contains(o._1))).map { case (k, v) => (now(), funcName, k, v) }
        if (obs.nonEmpty) Tracer.this.synchronized { observed ++= obs }
        val ss = Tracer.fileScans(qe.executedPlan)
        if (ss.nonEmpty) {
          val files = ss.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
          val bytes = ss.map(s => s.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
          val rec = ScanRec(now(), files, bytes)
          Tracer.this.synchronized { scans += rec }
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  def flush(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)

  def named(prefix: String): Seq[Span] = synchronized(spans.filter(_.name.startsWith(prefix)).toSeq)

  def jobsIn(ss: Seq[Span]): Seq[JobRec] = synchronized {
    jobs.filter(j => ss.exists(s => j.start >= s.start && j.start <= s.end)).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.flatMap(_.stages).toSet
    stages.filter(s => ids(s.id)).toSeq
  }

  /** Wall time of the spans minus the part any Spark job covers: the
    * driver's planning and waiting share.
    */
  def driverGapMs(ss: Seq[Span]): Double = ss.map { s =>
    val inside = jobsIn(Seq(s)).map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var reach = s.start
    inside.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    math.max(0.0, s.ms - covered)
  }.sum

  def scansIn(ss: Seq[Span]): Seq[ScanRec] = synchronized {
    scans.filter(r => ss.exists(s => r.at >= s.start && r.at <= s.end)).toSeq
  }

  /** The spans as JSON lines, for the run's artifact. */
  def spansJson: String = synchronized {
    spans.map(s => f"""{"id":${s.id},"name":"${s.name}","start":${s.start}%.3f,""" +
      f""""end":${s.end}%.3f,"parent":${s.parent},"req":${s.req}}""").mkString("[", ",\n", "]")
  }
}

object Tracer {
  private object Walker extends AdaptiveSparkPlanHelper
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    Walker.collectWithSubqueries(p) { case s: FileSourceScanExec => s }

  /** `observe` results inside the cached plans a query materialized: a
    * query that builds a cache does not list them among its own.
    */
  def cachedObservations(p: SparkPlan): Seq[(String, org.apache.spark.sql.Row)] =
    Walker.collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }
      .flatMap(s => Walker.collect(s.relation.cachedPlan) { case c: CollectMetricsExec =>
        c.name -> c.collectedMetrics
      })
}
