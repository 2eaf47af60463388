package graft.operators

import com.github.luben.zstd.{Zstd => Jni}

import LibCodec.{declared, drain, inBounds, le32, loud}

/** Zstandard — the dominant modern shard codec (.jsonl.zst), Spark 4's
  * default ORC compression, and the codec of graftpq zstd pages. Frames
  * are decoded by zstd-jni (libzstd: blocks, entropy tables, repeat
  * offsets and the XXH64 content checksum all verified there); this
  * object owns the RFC 8878 FRAME walk whose counts the queries report
  * and whose checks run before any native call: skippable frames
  * (0x184D2A50..5F) counted and skipped, the frame magic, the
  * frame-header descriptor's reserved bit, dictionary IDs (rejected by
  * name — no dictionary is ever provided), the window size against a
  * 2^27-byte cap, the declared content size against the 1 GiB ceiling,
  * and multi-frame concatenation. A frame without a declared content
  * size (a streamed writer's output) decodes through the library's
  * stream decoder under the same ceiling.
  */
object Zstd {

  /** Window-size ceiling: a frame demanding more history than this is
    * refused (libzstd's own default limit is 2^27 too).
    */
  private val MaxWindow = 1 << 27
  /** Output one block can carry: with 3-byte block headers this bounds a
    * frame's output by its compressed length, whatever its header says.
    */
  private val BlockMax = 128 * 1024
  private val Magic = 0xFD2FB528
  private val SkippableBase = 0x184D2A50

  final case class ZstdInfo(content: Array[Byte], nFrames: Int,
      nSkippable: Int, nChecksums: Int)

  /** Decode one zstd frame of at most `maxLen` decompressed bytes (a
    * parquet page, an ORC chunk, one frame of [[decode]]). A declared
    * content size is checked against `maxLen` and sizes the output
    * exactly; a frame without one streams through the library's decoder
    * under the same bound.
    */
  def decompress(p: Array[Byte], off: Int, len: Int,
      maxLen: Int): Array[Byte] = {
    inBounds("zstd", p, off, len)
    require(len >= 4 && le32(p, off) == Magic,
      f"not zstd: magic 0x${if (len >= 4) le32(p, off) else 0}%08x")
    val (contentSize, _) = frameHeader(p, off + 4, off + len)
    if (contentSize < 0)
      drain("zstd", new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
        new java.io.ByteArrayInputStream(p, off, len)), maxLen)
    else {
      val n = declared("zstd frame", contentSize, maxLen)
      val dst = new Array[Byte](n)
      val got = loud("zstd")(Jni.decompressByteArray(dst, 0, n, p, off, len))
      require(got == n,
        s"torn zstd: decoded $got bytes, header declared $n")
      dst
    }
  }

  /** Decode a (possibly multi-frame) zstd payload; libzstd verifies
    * every content checksum present.
    */
  def decode(p: Array[Byte]): ZstdInfo = {
    var o = 0
    var nSkippable = 0
    var nChecksums = 0
    var total = 0L
    val frames = Vector.newBuilder[Array[Byte]]
    require(p.length >= 4, "torn zstd: shorter than any frame")
    while (o < p.length) {
      require(o + 4 <= p.length, "torn zstd: trailing garbage")
      val magic = le32(p, o)
      if ((magic & 0xfffffff0) == SkippableBase) {
        require(o + 8 <= p.length, "torn zstd: skippable frame header")
        val n = le32(p, o + 4)
        require(n >= 0 && o + 8 + n <= p.length,
          "torn zstd: skippable frame overruns input")
        o += 8 + n
        nSkippable += 1
      } else {
        require(magic == Magic, f"not zstd: magic 0x$magic%08x")
        val (_, checksum) = frameHeader(p, o + 4, p.length)
        val frameLen = loud("zstd")(Jni.findFrameCompressedSize(p, o))
        require(frameLen > 0 && o + frameLen <= p.length,
          "torn zstd: frame overruns input")
        val out = decompress(p, o, frameLen.toInt, math.min(
          LibCodec.MaxOutput - total, (frameLen / 3 + 1) * BlockMax).toInt)
        total += out.length
        frames += out
        if (checksum) nChecksums += 1
        o += frameLen.toInt
      }
    }
    val all = frames.result()
    require(all.nonEmpty, "torn zstd: no data frames")
    val content =
      if (all.length == 1) all.head
      else {
        val bos = new java.io.ByteArrayOutputStream(total.toInt)
        all.foreach(f => bos.write(f, 0, f.length))
        bos.toByteArray
      }
    ZstdInfo(content, all.length, nSkippable, nChecksums)
  }

  /** Walk one frame header from just after the magic at `o0` to at most
    * `end`; returns the declared content size (-1 when absent) and the
    * checksum flag.
    */
  private def frameHeader(p: Array[Byte], o0: Int,
      end: Int): (Long, Boolean) = {
    var o = o0
    require(o < end, "torn zstd: missing frame header")
    val desc = p(o) & 0xff
    o += 1
    require((desc & 0x08) == 0, "reserved frame-descriptor bit set")
    val singleSegment = (desc >>> 5) & 1
    var windowSize = 0L
    if (singleSegment == 0) {
      require(o < end, "torn zstd: missing window descriptor")
      val wd = p(o) & 0xff
      o += 1
      val base = 1L << (10 + (wd >>> 3))
      windowSize = base + (base / 8) * (wd & 7)
    }
    val dictBytes = Array(0, 1, 2, 4)(desc & 3)
    require(o + dictBytes <= end, "torn zstd: dictionary ID")
    var dictId = 0L
    for (i <- 0 until dictBytes) dictId |= (p(o + i) & 0xffL) << (8 * i)
    require(dictId == 0,
      s"zstd frame declares dictionary_ID $dictId (dictionaries " +
        "unsupported)")
    o += dictBytes
    val fcsBytes = (desc >>> 6) & 3 match {
      case 0 => if (singleSegment == 1) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    var contentSize = -1L
    if (fcsBytes > 0) {
      require(o + fcsBytes <= end, "torn zstd: content size field")
      var v = 0L
      for (i <- 0 until fcsBytes) v |= (p(o + i) & 0xffL) << (8 * i)
      contentSize = if (fcsBytes == 2) v + 256 else v
    }
    if (singleSegment == 1) windowSize = contentSize
    require(windowSize <= MaxWindow,
      s"zstd window $windowSize exceeds the $MaxWindow-byte cap " +
        "(scale guard)")
    (contentSize, ((desc >>> 2) & 1) == 1)
  }

  // -------------------------------------------------------------------
  // Fixture: zstd-jni-written .jsonl.zst shards. Levels rotate through
  // the fast/default/lazy/btopt match-finder classes; id%4==3 shards are
  // two concatenated frames with a skippable-frame leader (the pzstd /
  // seekable shape); id%2==0 frames carry content checksums.

  def fixtureLineCount(id: Long): Int = 70 + (id % 60).toInt

  def fixtureLine(id: Long, k: Int): String =
    s"""{"doc":$id,"seq":$k,"lab":"z${k % 9}","x":${(k * 47 + id % 21) % 1200}}"""

  def fixtureContent(id: Long): Array[Byte] =
    (0 until fixtureLineCount(id)).map(k => fixtureLine(id, k))
      .mkString("", "\n", "\n").getBytes("UTF-8")

  def fixtureLevel(id: Long): Int =
    Array(1, 3, 6, 12, 19)((id % 5).toInt)

  def fixturePayload(id: Long): Array[Byte] = {
    def one(content: Array[Byte], checksum: Boolean): Array[Byte] = {
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      try {
        ctx.setLevel(fixtureLevel(id))
        ctx.setChecksum(checksum)
        ctx.compress(content)
      } finally ctx.close()
    }
    val checksum = id % 2 == 0
    if (id % 4 == 3) {
      // skippable leader + two concatenated frames splitting the lines
      val half = fixtureLineCount(id) / 2
      val a = (0 until half).map(k => fixtureLine(id, k))
        .mkString("", "\n", "\n").getBytes("UTF-8")
      val b = (half until fixtureLineCount(id)).map(k => fixtureLine(id, k))
        .mkString("", "\n", "\n").getBytes("UTF-8")
      val meta = s"shard-$id".getBytes("UTF-8")
      val skip = new java.io.ByteArrayOutputStream()
      skip.write(Array[Byte](0x50, 0x2a, 0x4d.toByte, 0x18))
      skip.write(Array[Byte](meta.length.toByte, 0, 0, 0))
      skip.write(meta)
      skip.toByteArray ++ one(a, checksum) ++ one(b, checksum)
    } else one(fixtureContent(id), checksum)
  }
}
