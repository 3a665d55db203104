package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar rendering expressions of SURVEY §2.2, as pure Column combinators
  * (codegen-friendly; no UDFs).
  */
object Render {

  /** P2: EType label (reference `console/query/column.go:118-126`). */
  def etype(c: Column): Column =
    when(c === 0x800, "IPv4").when(c === 0x86dd, "IPv6").otherwise("???")

  /** P4: array render (reference `arrayStringConcat(col,' ')`). */
  def arrayRender(c: Column): Column = array_join(c, " ")

  /** P5: 32-bit BGP community "a:b" (reference `column.go:131-137`). */
  def community(c: Column): Column =
    concat(shiftright(c, 16).cast("string"), lit(":"),
      c.bitwiseAND(lit(0xffffL)).cast("string"))

  /** P5: render an Array(UInt32) of communities. */
  def communities(c: Column): Column =
    array_join(transform(c, x =>
      concat(shiftright(x, 16).cast("string"), lit(":"),
        x.bitwiseAND(lit(0xffffL)).cast("string"))), " ")

  /** P5: large community a:b:c from a Decimal(39,0) packed value
    * (reference `column.go:216-256`: a = v >> 64, b = (v >> 32) & 0xffffffff,
    * c = v & 0xffffffff).
    */
  def largeCommunity(c: Column): Column = {
    val two32 = lit(new java.math.BigDecimal("4294967296"))
    val v = c.cast("decimal(38,0)")
    val a = floor(v / (two32 * two32)).cast("decimal(38,0)")
    val b = floor(v / two32).cast("decimal(38,0)") % two32
    val cc = v % two32
    concat(a.cast("long").cast("string"), lit(":"),
      b.cast("long").cast("string"), lit(":"),
      cc.cast("long").cast("string"))
  }

  /** Scala-side: pack a:b:c into the UInt128 value (filter compilation,
    * reference `helpers.go:269-285`).
    */
  def packLargeCommunity(a: Long, b: Long, c: Long): java.math.BigDecimal = {
    val two32 = java.math.BigInteger.valueOf(4294967296L)
    val v = java.math.BigInteger.valueOf(a).multiply(two32).multiply(two32)
      .add(java.math.BigInteger.valueOf(b).multiply(two32))
      .add(java.math.BigInteger.valueOf(c))
    new java.math.BigDecimal(v)
  }

  /** P6: MAC rendering of a uint64 column ("00:11:22:33:44:55"). */
  def mac(c: Column): Column = {
    val parts = (5 to 0 by -1).map { i =>
      lpad(hex(shiftright(c, i * 8).bitwiseAND(lit(0xffL))), 2, "0")
    }
    lower(concat_ws(":", parts: _*))
  }

  /** Scala-side MAC literal → uint64 (reference `MACStringToNum`). */
  def macToNum(s: String): Long =
    s.split("[:-]").map(x => java.lang.Long.parseLong(x, 16))
      .foldLeft(0L)((acc, b) => (acc << 8) | b)

  /** P7: TCP-flags letters (reference `column.go:140-162`):
    * FIN,SYN,RST,PSH,ACK,URG,ECE,CWR,NS → F S R P A U E C N.
    */
  def tcpFlags(c: Column): Column = {
    val letters = Seq("F", "S", "R", "P", "A", "U", "E", "C", "N")
    concat(letters.zipWithIndex.map { case (l, i) =>
      when(c.bitwiseAND(lit(1 << i)) > 0, lit(l)).otherwise(lit(""))
    }: _*)
  }
}
