package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.orc.OrcProto
import org.apache.orc.protobuf.InvalidProtocolBufferException

/** ORC file-tail reader — the second columnar storage format's metadata
  * next to [[ParquetFooter]]: the one-byte postscript-length trailer,
  * the PostScript (with its "ORC" magic), the compressed-stream chunk
  * framing (3-byte little-endian headers carrying
  * (length << 1) | isOriginal, each chunk decoded by the codec library
  * Spark ships — ZLIB chunks are raw RFC 1951 via [[Inflate.inflateRaw]],
  * SNAPPY via [[Snappy]], LZ4 via [[Lz4]], ZSTD via [[Zstd]]) — and the
  * Footer down to per-column IntegerStatistics, stripe row counts, the
  * type tree and hasNull flags. The messages themselves are decoded by
  * the generated `org.apache.orc.OrcProto` classes orc-core reads with;
  * [[OrcTail]] is a thin view over them.
  *
  * Footer-only reads are the planning lever at 100 TB, same as the
  * parquet tier: row counts and column ranges from KBs of tail per
  * multi-GB file. Cross-validated in OrcMetaSpec against orc-core's
  * reader on Spark-written files (which Spark compresses with zstd by
  * default, so the chunk framing runs against real foreign bytes).
  */
object OrcMeta {

  final case class OrcIntStats(min: Option[Long], max: Option[Long],
      sum: Option[Long])

  final case class OrcColumn(numValues: Long, hasNull: Boolean,
      intStats: Option[OrcIntStats])

  final case class OrcType(kind: Int, fieldNames: Seq[String])

  final case class OrcTail(compression: Int, numberOfRows: Long,
      nStripes: Int, stripeRows: Seq[Long], types: Seq[OrcType],
      columns: Seq[OrcColumn])

  /** Run one protobuf parse; a malformed message becomes an
    * `IllegalArgumentException` naming it.
    */
  private[operators] def parse[T](what: String)(body: => T): T =
    try body
    catch {
      case e: InvalidProtocolBufferException =>
        throw new IllegalArgumentException(
          s"torn ORC: malformed $what: ${e.getMessage}", e)
    }

  /** The PostScript that ends the tail image `p`, and its length. */
  private[operators] def postscript(p: Array[Byte])
      : (OrcProto.PostScript, Int) = {
    require(p.length > 16, "torn ORC: shorter than any tail")
    val psLen = p(p.length - 1) & 0xff
    require(psLen > 0 && psLen < p.length - 1,
      s"torn ORC: postscript length $psLen")
    val ps = parse("PostScript")(OrcProto.PostScript.parser()
      .parseFrom(p, p.length - 1 - psLen, psLen))
    require(ps.getMagic == "ORC",
      s"not an ORC file (postscript magic '${ps.getMagic}')")
    // a kind this reader does not know lands in the unknown fields and
    // would otherwise read as NONE
    require(!ps.getUnknownFields.hasField(2), "ORC compression kind unknown")
    // orc-core's writer takes buffers below 2^23 (the 3-byte chunk
    // header holds 23 bits of length), and its reader sizes its
    // decompression buffers from this value
    val blockSize = ps.getCompressionBlockSize
    require(blockSize >= 0 && blockSize < (1L << 23),
      s"torn ORC: compression block size $blockSize")
    (ps, psLen)
  }

  /** Decompress an ORC stream: NONE passes through; ZLIB (raw
    * deflate), SNAPPY, LZ4 and ZSTD chunks sit behind 3-byte LE headers
    * of (chunkLength << 1) | isOriginal, and each compressed chunk
    * decodes through its codec into at most the postscript's
    * compression block size (256 KiB when unset). LZO rejects by name.
    */
  private[operators] def decompressStream(p: Array[Byte], off: Int, len: Int,
      compression: Int, blockSize: Int): Array[Byte] =
    if (compression == 0) java.util.Arrays.copyOfRange(p, off, off + len)
    else {
      val out = new java.io.ByteArrayOutputStream()
      eachChunk(p, off, len, compression, blockSize)(out.write)
      out.toByteArray
    }

  /** The decompressed length of an ORC stream, one chunk held at a
    * time.
    */
  private[operators] def decompressedLength(p: Array[Byte], off: Int,
      len: Int, compression: Int, blockSize: Int): Long = {
    var n = 0L
    eachChunk(p, off, len, compression, blockSize)((_, _, k) => n += k)
    n
  }

  /** `f(bytes, offset, length)` over each decompressed chunk of the
    * stream [[decompressStream]] describes, in order.
    */
  private def eachChunk(p: Array[Byte], off: Int, len: Int,
      compression: Int, blockSize: Int)(f: (Array[Byte], Int, Int) => Unit)
      : Unit = compression match {
    case 0 => f(p, off, len)
    case 1 | 2 | 4 | 5 =>
      val max = LibCodec.declared("ORC compression block",
        if (blockSize > 0) blockSize else 1 << 18)
      var o = off
      val end = off + len
      while (o < end) {
        require(o + 3 <= end, "torn ORC: compressed chunk header")
        val h = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) |
          ((p(o + 2) & 0xff) << 16)
        o += 3
        val original = (h & 1) != 0
        val n = h >>> 1
        require(o + n <= end, s"torn ORC: $n-byte chunk overruns")
        if (original) f(p, o, n)
        else {
          val dec = compression match {
            case 1 => // ZLIB = raw deflate
              Inflate.inflateRaw(
                java.util.Arrays.copyOfRange(p, o, o + n), 0, max)._1
            case 2 => Snappy.uncompress(p, o, n, max)
            case 5 => Zstd.decompress(p, o, n, max)
            case _ => Lz4.decompressBlockUnknown(p, o, n, max)
          }
          f(dec, 0, dec.length)
        }
        o += n
      }
    case 3 => throw new IllegalArgumentException(
      "ORC compression kind 3 (LZO) unsupported")
    case c => throw new IllegalArgumentException(
      s"ORC compression kind $c unknown")
  }

  def read(p: Array[Byte]): OrcTail = {
    val (ps, psLen) = postscript(p)
    val psStart = p.length - 1 - psLen
    val footerLen = ps.getFooterLength
    require(footerLen > 0 && psStart - footerLen >= 0,
      s"torn ORC: footer length $footerLen")
    val compression = ps.getCompression.getNumber
    val f = parse("Footer")(OrcProto.Footer.parseFrom(decompressStream(p,
      (psStart - footerLen).toInt, footerLen.toInt, compression,
      ps.getCompressionBlockSize.toInt)))
    require(f.hasNumberOfRows && f.getTypesCount > 0,
      "torn ORC: footer without rows/types")
    val stripeRows = f.getStripesList.asScala.map(_.getNumberOfRows).toVector
    def opt(set: Boolean, v: Long): Option[Long] =
      if (set) Some(v) else None
    OrcTail(compression, f.getNumberOfRows, stripeRows.length, stripeRows,
      f.getTypesList.asScala.map(t =>
        OrcType(if (t.hasKind) t.getKind.getNumber else -1,
          t.getFieldNamesList.asScala.toVector)).toVector,
      f.getStatisticsList.asScala.map { c =>
        val is = c.getIntStatistics
        OrcColumn(c.getNumberOfValues, c.getHasNull,
          if (!c.hasIntStatistics) None
          else Some(OrcIntStats(opt(is.hasMinimum, is.getMinimum),
            opt(is.hasMaximum, is.getMaximum), opt(is.hasSum, is.getSum))))
      }.toVector)
  }

  /** [[read]] over a whole file image; failures name the file. */
  def readFile(path: java.nio.file.Path): OrcTail =
    LibCodec.naming(path)(read(java.nio.file.Files.readAllBytes(path)))
}
