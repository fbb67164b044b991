package graft.codec

/** Growable byte buffer specialized to Byte. Scala's `ArrayBuffer[T]` is
  * unspecialized — it stores each element as a boxed reference in an
  * `Array[AnyRef]`, so every appended posting byte costs an 8-byte slot
  * write plus an indirection, and `toArray` unboxes element-by-element.
  * The encoders below append one byte per posting-gap septet on the
  * build's hottest path; a plain `Array[Byte]` with doubling growth is
  * ~8× less memory traffic per byte (the 4N-side scaling lever). */
final class ByteBuf(initial: Int = 16) {
  private var buf = new Array[Byte](math.max(initial, 4))
  private var n = 0
  @inline def +=(b: Byte): Unit = {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, ByteBuf.grown(buf.length))
    buf(n) = b
    n += 1
  }
  @inline def length: Int = n
  /** The bytes written so far. When the buffer is exactly full this IS the
    * internal array (no copy): treat it as immutable and stop appending. */
  def toArray: Array[Byte] =
    if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n)
}

object ByteBuf {
  /** Largest array the JVM reliably allocates. */
  val MaxCapacity: Int = Int.MaxValue - 8

  /** Capacity after a full buffer of `cap` bytes grows: doubling, capped
    * at [[MaxCapacity]] instead of overflowing to a negative size. */
  def grown(cap: Int): Int =
    if (cap >= MaxCapacity) throw new IllegalStateException(s"ByteBuf cannot grow past $cap bytes")
    else if (cap > MaxCapacity / 2) MaxCapacity
    else cap << 1
}

/** Variable-byte (VByte) codec with delta encoding for sorted docID lists
  * (SURVEY.md §4 item 2; north rule: "delta-encoded, variable-byte-compressed
  * docID gaps plus term frequencies").
  *
  * Wire format: each value is emitted little-endian 7 bits at a time; the
  * high bit of each byte is a continuation flag (1 = more bytes follow).
  * DocID lists are encoded as gaps (first value absolute, then successive
  * differences), which for dense per-shard docIDs keeps most gaps in 1 byte.
  */
object VByte {

  @inline def writeVLong(out: ByteBuf, value: Long): Unit = {
    var v = value
    while ((v & ~0x7FL) != 0L) {
      out += ((v & 0x7F) | 0x80).toByte
      v >>>= 7
    }
    out += v.toByte
  }

  /** Reader over a byte array with a mutable cursor. */
  final class Reader(val bytes: Array[Byte], var pos: Int = 0) {
    @inline def readVLong(): Long = {
      var b = bytes(pos); pos += 1
      var v = (b & 0x7FL)
      var shift = 7
      while ((b & 0x80) != 0) {
        b = bytes(pos); pos += 1
        v |= (b & 0x7FL) << shift
        shift += 7
      }
      v
    }
    @inline def readVInt(): Int = readVLong().toInt
    @inline def hasMore: Boolean = pos < bytes.length
  }

  /** Encode an ascending Long sequence as first-absolute + gaps. */
  def encodeDeltas(sorted: Array[Long]): Array[Byte] = {
    val out = new ByteBuf(sorted.length + 4)
    var prev = 0L
    var i = 0
    while (i < sorted.length) {
      writeVLong(out, sorted(i) - prev)
      prev = sorted(i)
      i += 1
    }
    out.toArray
  }

  def decodeDeltas(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    val r = new Reader(bytes)
    var prev = 0L
    var i = 0
    while (i < n) {
      prev += r.readVLong()
      out(i) = prev
      i += 1
    }
    out
  }

  /** Encode non-negative ints (term frequencies, doc lengths). */
  def encodeInts(values: Array[Int]): Array[Byte] = {
    val out = new ByteBuf(values.length + 4)
    var i = 0
    while (i < values.length) {
      writeVLong(out, values(i).toLong)
      i += 1
    }
    out.toArray
  }

  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    val r = new Reader(bytes)
    var i = 0
    while (i < n) {
      out(i) = r.readVInt()
      i += 1
    }
    out
  }
}
