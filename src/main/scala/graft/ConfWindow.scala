package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Session conf overrides for the span of one block — the one window
  * behind every runtime posture the engine switches. Both postures in
  * use are [[smallRegime]]: the durable stores' small-regime
  * scheduling, and the console's miss posture, which adds codegen off
  * on top.
  *
  * Reference-counted per (session, key): the first window to set a key
  * saves the session's setting and installs its value; a nested window
  * on the same key only counts (the outermost value holds); the last
  * exit restores. The save captures PRESENCE, not just value: a key the
  * session never set is restored by unset, so the window leaves no
  * materialized explicit setting behind and a session tracking the
  * global default keeps tracking it (`getOption` cannot tell — it
  * surfaces the registered default).
  *
  * The overrides touch `spark`'s own conf only: sibling sessions from
  * `spark.newSession()`, and streaming micro-batches (which run in a
  * cloned session), never see them.
  */
object ConfWindow {
  private final case class Held(depth: Int, saved: Option[String])

  private val held = new java.util.IdentityHashMap[SparkSession,
    java.util.HashMap[String, Held]]()

  /** Run `f` with `settings` applied to `spark`'s conf, restoring each
    * key on exit — also when `f` throws.
    */
  def apply[T](spark: SparkSession, settings: (String, String)*)(f: => T): T = {
    val entered = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      settings.foreach { case (k, v) => enter(spark, k, v); entered += k }
      f
    } finally entered.foreach(exit(spark, _))
  }

  /** Run `f` in the small-data posture: adaptive query execution off
    * and the shuffle width derived from `bytes`, the measured size of
    * the data `f` reads, plus any `extra` settings.
    *
    * AQE materializes every exchange as a separately scheduled job, and
    * at this scale its adaptations (post-shuffle coalescing, skew
    * splits, runtime join switches) act on stats that are uniformly
    * tiny, so the per-exchange job floor is pure scheduling cost. The
    * window does the coalescing itself instead ("fewer, larger
    * partitions"): at KB–MB per exchange a session-default width
    * (cores locally, hundreds on a cluster) makes the dominant cost the
    * shuffle file machinery — one shuffle file per (map task ×
    * partition) and one parquet file per write partition. Stack samples
    * of a composed store drive put `DiskBlockObjectWriter.initialize`,
    * `BypassMergeSortShuffleWriter` and `HadoopOutputFile.create` on
    * top (q_store_collapse CPU 182 s → 69 s at width 8, wall 25.0 →
    * 15.3 s, identical results; OPTIMIZATION_r16.md). The width is
    * `min(session width, max(minPartitions, ceil(bytes / advisory)))`,
    * at the advisory partition size AQE would coalesce to, so data
    * nearing the caller's small bound is back at the session width
    * before the posture disengages — never a constant tuned to one box.
    *
    * The OUTERMOST window's settings hold (see [[apply]]): a nested
    * posture shares its caller's measured data.
    */
  def smallRegime[T](spark: SparkSession, bytes: Long, minPartitions: Int,
      extra: (String, String)*)(f: => T): T = {
    val conf = spark.sessionState.conf
    val advisory = math.max(1L,
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val width = math.min(conf.numShufflePartitions.toLong,
      math.max(minPartitions.toLong, (bytes + advisory - 1) / advisory))
    val settings = Seq(
      SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
      SQLConf.SHUFFLE_PARTITIONS.key -> width.toString) ++ extra
    apply(spark, settings: _*)(f)
  }

  private def enter(spark: SparkSession, key: String, value: String): Unit =
    held.synchronized {
      val keys = held.computeIfAbsent(spark, _ => new java.util.HashMap())
      Option(keys.get(key)) match {
        case Some(h) => keys.put(key, h.copy(depth = h.depth + 1))
        case None =>
          val saved =
            if (spark.conf.getAll.contains(key)) Some(spark.conf.get(key))
            else None
          spark.conf.set(key, value)
          keys.put(key, Held(1, saved))
      }
      ()
    }

  private def exit(spark: SparkSession, key: String): Unit =
    held.synchronized {
      Option(held.get(spark)).foreach { keys =>
        Option(keys.get(key)).foreach {
          case Held(d, saved) if d <= 1 =>
            saved match {
              case Some(v) => spark.conf.set(key, v)
              case None => spark.conf.unset(key)
            }
            keys.remove(key)
          case h => keys.put(key, h.copy(depth = h.depth - 1))
        }
        if (keys.isEmpty) held.remove(spark)
      }
      ()
    }
}
