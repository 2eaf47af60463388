package graft.operators

import scala.util.control.NonFatal

/** Guards shared by the codec objects ([[Snappy]], [[Lz4]], [[Zstd]],
  * [[Inflate]], [[Bzip2]], [[Xz]]), whose block engines are the
  * libraries Spark already ships (snappy-java, lz4-java, zstd-jni, the
  * JDK's zip, commons-compress, tukaani xz). Two rules make those calls
  * safe on hostile input: a length read from input is checked before
  * it sizes an allocation or reaches a native call, and a library
  * failure surfaces as an `IllegalArgumentException` naming the codec,
  * so a torn record fails one task loudly instead of escaping as an
  * unchecked library exception.
  */
private[graft] object LibCodec {

  /** Decompressed-size ceiling (1 GiB): the bomb guard every codec
    * applies when the input itself gives no tighter bound.
    */
  val MaxOutput: Int = 1 << 30

  /** A length read from input, checked against `max` before use. */
  def declared(codec: String, n: Long, max: Long = MaxOutput): Int = {
    require(n >= 0 && n <= max,
      s"$codec declares $n bytes (refusing > $max)")
    n.toInt
  }

  /** `[off, off + len)` must lie inside `p`. */
  def inBounds(codec: String, p: Array[Byte], off: Int, len: Int): Unit =
    require(off >= 0 && len >= 0 && off.toLong + len <= p.length,
      s"torn $codec: input overruns the buffer")

  /** Run a library call; anything but our own guards' rejects comes back
    * as an `IllegalArgumentException` that names the codec.
    */
  def loud[A](codec: String)(body: => A): A =
    try body
    catch {
      case e: IllegalArgumentException => throw e
      case NonFatal(e) => throw new IllegalArgumentException(
        s"$codec rejected by the library: ${e.getClass.getSimpleName}: " +
          s"${e.getMessage}", e)
    }

  /** Rethrow an `IllegalArgumentException` from `body` (a metadata
    * read of one file) with the file's `path` in front of its message.
    */
  def naming[A](path: Any)(body: => A): A =
    try body
    catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$path: ${e.getMessage}", e)
    }

  /** Drain and close `in` (a library decoder stream; closing frees a
    * native one's context), refusing output past `max` bytes.
    */
  def drain(codec: String, in: java.io.InputStream,
      max: Int = MaxOutput): Array[Byte] = loud(codec) {
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        require(out.size.toLong + n <= max,
          s"$codec output exceeds the $max-byte ceiling (bomb guard)")
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }

  def le32(p: Array[Byte], o: Int): Int =
    (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) | ((p(o + 2) & 0xff) << 16) |
      ((p(o + 3) & 0xff) << 24)
}
