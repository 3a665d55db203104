package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry of query-scoped scratch persists.
  *
  * Multi-pass operators (Dedup, SequencePacking, Decontamination, the
  * durable stores' ingests) persist a bounded intermediate so several
  * passes derive from one evaluation. A persisted `Dataset` holds
  * executor block-manager memory until someone unpersists it — and the
  * builder returning a lazy DataFrame cannot know when its consumer is
  * done. Left alone, a long-lived session (a bench loop, any notebook)
  * accumulates dead cache entries until real workloads fight eviction
  * churn; on a shared 1000-executor cluster that is unbounded storage
  * growth.
  *
  * So scratch persists register here instead of calling
  * `Dataset.persist` directly, and each execution entry point releases
  * them once the query's terminal action has run:
  * [[graft.Bench]]/[[graft.Verify]] after each query, the stores through
  * [[scoped]]. The console's graph queries persist nothing (each is one
  * plan), so the console API releases nothing: a session-wide release
  * there would unpersist frames a concurrent store ingest still reads.
  * Long-lived deliberate caches (none today — `EventFlows`
  * intentionally stays a lazy projection) simply keep using `persist`
  * and are untouched by [[releaseAll]].
  */
object ScratchCache {
  private val tracked: java.util.Set[Dataset[_]] =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Dataset[_], java.lang.Boolean]())

  /** The CURRENT THREAD's open [[scoped]] blocks, innermost on top:
    * each records the frames persisted by this thread while it was
    * open, so a scope releases exactly its own thread's scratch. Two
    * concurrent streams (MediaStore.start + startClips in one process)
    * each ingest on their own micro-batch thread — a global
    * before/after snapshot would let one ingest's cleanup unpersist
    * the other's in-flight frames.
    */
  private val scopes = new ThreadLocal[
      java.util.ArrayDeque[java.util.Set[Dataset[_]]]] {
    override def initialValue() =
      new java.util.ArrayDeque[java.util.Set[Dataset[_]]]()
  }

  /** Persist `ds` (recomputable lineage — executor loss recomputes) and
    * register it for the next [[releaseAll]] of its session.
    */
  def persist[T](ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    ds.persist(level)
    tracked.add(ds)
    val s = scopes.get().peek()
    if (s != null) s.add(ds)
    ds
  }

  /** Unpersist one tracked dataset before its session-level [[releaseAll]]
    * — for iterative algorithms where each pass supersedes the previous
    * pass's projection and keeping all of them would hold O(iterations)
    * cached copies (see kCenterCoreset). No-op if `ds` is not tracked.
    */
  def release(ds: Dataset[_]): Unit = {
    if (tracked.remove(ds)) {
      try ds.unpersist(blocking = false)
      catch { case _: IllegalStateException => () } // session stopped
    }
  }

  /** Run `f` and release every scratch frame THIS THREAD persisted
    * during it — for self-contained passes (a planner's counting plan,
    * a store ingest, a one-shot audit) whose persists have no consumer
    * once the block returns, without touching frames the caller already
    * holds. Thread-scoped tracking makes concurrent scopes safe: two
    * streams ingesting in one process each clean up only their own
    * scratch (another thread's frames persisted meanwhile belong to
    * that thread's scope or the session's [[releaseAll]]). Nested
    * scopes are fine — the inner scope owns its frames; the outer's
    * release of an already-released frame is a no-op.
    */
  def scoped[T](f: => T): T = {
    val mine: java.util.Set[Dataset[_]] =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Dataset[_], java.lang.Boolean]())
    scopes.get().push(mine)
    try f
    finally {
      // release in finally: a throwing pass must not leak its persists.
      // Cleanup swallows ANY non-fatal error (not just the stopped-
      // session IllegalStateException): on the error path a throwing
      // unpersist would otherwise MASK f's real exception
      scopes.get().pop()
      val it = mine.iterator()
      while (it.hasNext) {
        val ds = it.next()
        if (tracked.remove(ds)) {
          try ds.unpersist(blocking = false)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
  }

  /** Unpersist every tracked dataset belonging to `spark`. Non-blocking:
    * block removal proceeds in the background while the next query plans.
    */
  def releaseAll(spark: SparkSession): Unit = {
    val it = tracked.iterator()
    while (it.hasNext) {
      val ds = it.next()
      if (ds.sparkSession eq spark) {
        try ds.unpersist(blocking = false)
        catch { case _: IllegalStateException => () } // session stopped
        it.remove()
      }
    }
  }
}
