package graft.decode

/** Big-endian cursor over a datagram payload. All NetFlow/IPFIX/sFlow wire
  * formats are network byte order (RFC 3954 §5, RFC 7011 §6, sFlow v5 §4 —
  * XDR), so one little reader covers every decoder.
  */
final class Wire(val bytes: Array[Byte], var pos: Int, val end: Int) {
  def this(bytes: Array[Byte]) = this(bytes, 0, bytes.length)

  def remaining: Int = end - pos
  def hasBytes(n: Int): Boolean = remaining >= n

  def u8(): Int = { val v = bytes(pos) & 0xff; pos += 1; v }
  def u16(): Int = { val v = ((bytes(pos) & 0xff) << 8) | (bytes(pos + 1) & 0xff); pos += 2; v }
  def u32(): Long = {
    val v = ((bytes(pos) & 0xffL) << 24) | ((bytes(pos + 1) & 0xffL) << 16) |
      ((bytes(pos + 2) & 0xffL) << 8) | (bytes(pos + 3) & 0xffL)
    pos += 4; v
  }

  // a corrupted u32 length narrowed to Int can be negative; copyOfRange
  // would then throw IllegalArgumentException, which the decoders' malformed
  // guard does not treat as a wire error — normalize to the bounds family
  private def checkLen(n: Int): Unit =
    if (n < 0 || n > remaining) throw new ArrayIndexOutOfBoundsException(n)

  def take(n: Int): Array[Byte] = {
    checkLen(n)
    val out = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
    pos += n
    out
  }
  def skip(n: Int): Unit = pos += n

  /** Sub-reader over the next `n` bytes; the parent cursor advances past
    * them (flowset/sample bodies are length-delimited).
    */
  def slice(n: Int): Wire = {
    checkLen(n)
    val w = new Wire(bytes, pos, pos + n)
    pos += n
    w
  }
}

object Wire {
  /** Variable-width big-endian unsigned read used by NetFlow/IPFIX field
    * values of 1..8 bytes (reference `outlet/flow/decoder/netflow/decode.go:410-431`).
    */
  def uNumber(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    val n = math.min(b.length, 8)
    while (i < n) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }

  def isAllZero(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) { if (b(i) != 0) return false; i += 1 }
    true
  }
}
