package graft.queryengine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The posture for queries over small flow stores: the shared
  * small-data window ([[graft.ConfWindow.smallRegime]]: AQE off, a
  * byte-derived shuffle width) at a floor of one partition, with
  * whole-stage codegen off and `factoryMode=NO_CODEGEN` on top, so a
  * query compiles no Java (the console's reason and its caveats are in
  * [[graft.api.ConsoleApi]]'s doc).
  */
object CodegenPosture {
  /** `f` in the small posture when the main table of `tables` is small
    * — stored bytes at most the session's `autoBroadcastJoinThreshold`
    * (≤ 0 means never small), the durable stores' small-regime bound —
    * else `f` unchanged. Rollups are reductions of the main table, so
    * its size bounds every table the resolver can route to, and its
    * bytes set the window's width. A main table without a
    * [[FlowTable.bytesUpTo]] probe counts as large.
    */
  def interpretedIfSmall[T](spark: SparkSession, tables: Seq[FlowTable])(
      f: => T): T = {
    val cap = spark.sessionState.conf.autoBroadcastJoinThreshold
    val bytes =
      if (cap <= 0) None
      else tables.find(_.resolutionSec == 0L).flatMap(_.bytesUpTo)
        .flatMap(_(cap))
    bytes match {
      case None => f
      case Some(b) => graft.ConfWindow.smallRegime(spark, b, 1,
        SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
        SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")(f)
    }
  }
}
