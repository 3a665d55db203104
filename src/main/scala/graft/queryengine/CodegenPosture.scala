package graft.queryengine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Interpreted execution for queries over small flow stores: whole-stage
  * codegen off and `factoryMode=NO_CODEGEN`, so a query compiles no Java
  * (the console's reason and its caveats are in
  * [[graft.api.ConsoleApi]]'s doc).
  */
object CodegenPosture {
  /** `f` interpreted when the main table of `tables` is small — stored
    * bytes at most the session's `autoBroadcastJoinThreshold` (≤ 0
    * means never small), the durable stores' small-regime bound — else
    * `f` unchanged. Rollups are reductions of the main table, so its
    * size bounds every table the resolver can route to. A main table
    * without a [[FlowTable.bytesAtMost]] probe counts as large.
    */
  def interpretedIfSmall[T](spark: SparkSession, tables: Seq[FlowTable])(
      f: => T): T = {
    val cap = spark.sessionState.conf.autoBroadcastJoinThreshold
    val small = cap > 0 && tables.find(_.resolutionSec == 0L)
      .flatMap(_.bytesAtMost).exists(_(cap))
    if (!small) f
    else graft.ConfWindow(spark,
      SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
      SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")(f)
  }
}
