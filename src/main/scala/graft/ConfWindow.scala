package graft

import org.apache.spark.sql.SparkSession

/** Session conf overrides for the span of one block — the one window
  * behind every runtime posture the engine switches: the durable
  * stores' small-regime scheduling (AQE off, narrowed shuffle width)
  * and the console's interpreted posture (codegen off).
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
