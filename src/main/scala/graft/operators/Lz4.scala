package graft.operators

import LibCodec.{declared, inBounds, le32, loud}

/** LZ4 — the compressed-shard member of the ingestion family next to
  * [[Warc]]/[[Tar]]/[[Zip]] (training corpora ship as `.jsonl.lz4`
  * shards), and the codec of parquet LZ4_RAW pages and ORC LZ4 chunks.
  * Blocks are decoded by lz4-java's SAFE decompressor (net.jpountz;
  * the fast decompressor trusts its input) and hashed by its XXHash32;
  * this object owns the FRAME format walk: the 0x184D2204 magic, the
  * FLG/BD descriptor (version 01, independent blocks, optional block
  * checksums / content size / content checksum, reserved bits zero),
  * the `(xxh32 >> 8) & 0xff` header checksum, 4-byte block headers with
  * the uncompressed bit, the EndMark, and verification of every
  * checksum present. Every block decodes into at most the frame's
  * declared block maximum.
  *
  * Format: the public lz4.org frame specification.
  */
object Lz4 {

  private val safe =
    net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
  private val xxh32 =
    net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()

  /** Decode one LZ4 block of known decompressed size. */
  def decompressBlock(src: Array[Byte], srcOff: Int, srcLen: Int,
      dstLen: Int): Array[Byte] = {
    val dst = decompressBlockUnknown(src, srcOff, srcLen, dstLen)
    require(dst.length == dstLen,
      s"LZ4 block decoded ${dst.length} of $dstLen declared bytes")
    dst
  }

  /** Decode one LZ4 block whose output is at most `maxLen` bytes (frame
    * blocks, ORC chunks). A sequence yields at most 255 output bytes per
    * input byte, so small blocks never size their buffer by `maxLen`.
    */
  def decompressBlockUnknown(src: Array[Byte], off: Int, len: Int,
      maxLen: Int): Array[Byte] = {
    inBounds("LZ4 block", src, off, len)
    val cap = math.min(declared("LZ4 block", maxLen).toLong,
      255L * len + 64).toInt
    val buf = new Array[Byte](cap)
    val n = loud("LZ4 block")(safe.decompress(src, off, len, buf, 0, cap))
    if (n == cap) buf else java.util.Arrays.copyOf(buf, n)
  }

  // -------------------------------------------------------------------
  // Frame format

  final case class FrameInfo(content: Array[Byte], nBlocks: Int,
      blockChecksums: Boolean, contentChecksum: Boolean,
      declaredSize: Option[Long])

  private val Magic = 0x184d2204

  /** Decode a complete LZ4 frame, verifying every checksum present. */
  def decodeFrame(p: Array[Byte]): FrameInfo = {
    require(p.length >= 7, "torn LZ4 frame: shorter than any header")
    require(le32(p, 0) == Magic,
      f"not an LZ4 frame: magic 0x${le32(p, 0)}%08x")
    val flg = p(4) & 0xff
    require((flg >>> 6) == 1, s"LZ4 frame version ${flg >>> 6} (spec: 01)")
    require((flg & 0x02) == 0, "reserved FLG bit set")
    require((flg & 0x01) == 0, "dictionary frames unsupported (DictID)")
    require((flg & 0x20) != 0,
      "block-DEPENDENT frames unsupported (cross-block match windows)")
    val blockChecksums = (flg & 0x10) != 0
    val hasContentSize = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    val bd = p(5) & 0xff
    // frame spec: BD is [rsvd(1)][block-max-size(3)][rsvd(4)] — all
    // reserved bits must be 0 even when the header checksum matches
    require((bd & 0x8f) == 0, f"reserved BD bits set (0x$bd%02x)")
    val bsCode = (bd >>> 4) & 0x7
    require(bsCode >= 4 && bsCode <= 7, s"reserved block-max-size $bsCode")
    val blockMax = 1 << (8 + 2 * bsCode) // 4->64KB .. 7->4MB
    var o = 6
    var declaredSize: Option[Long] = None
    if (hasContentSize) {
      require(p.length >= o + 8, "torn LZ4 frame: content size")
      var v = 0L
      for (i <- 0 until 8) v |= (p(o + i) & 0xffL) << (8 * i)
      declaredSize = Some(v)
      o += 8
    }
    // header checksum: second byte of xxh32 over FLG..content-size
    require(o < p.length, "torn LZ4 frame: missing header checksum")
    val hc = (xxh32.hash(p, 4, o - 4, 0) >>> 8) & 0xff
    require((p(o) & 0xff) == hc,
      f"LZ4 frame header checksum mismatch (got 0x${p(o) & 0xff}%02x, " +
        f"want 0x$hc%02x)")
    o += 1
    val content = new java.io.ByteArrayOutputStream()
    var nBlocks = 0
    var endMark = false
    while (!endMark) {
      require(o + 4 <= p.length, "torn LZ4 frame: missing block header")
      val word = le32(p, o)
      o += 4
      if (word == 0) endMark = true
      else {
        val size = word & 0x7fffffff
        val uncompressed = (word & 0x80000000) != 0
        require(size <= blockMax,
          s"block of $size bytes exceeds the declared max $blockMax")
        require(o + size <= p.length, "torn LZ4 frame: block overruns")
        if (blockChecksums) {
          require(o + size + 4 <= p.length,
            "torn LZ4 frame: missing block checksum")
          require(le32(p, o + size) == xxh32.hash(p, o, size, 0),
            f"LZ4 block checksum mismatch (block $nBlocks)")
        }
        if (uncompressed) content.write(p, o, size)
        else {
          val dec = decompressBlockUnknown(p, o, size, blockMax)
          content.write(dec, 0, dec.length)
        }
        require(content.size <= LibCodec.MaxOutput,
          "LZ4 frame output exceeds the 1 GiB ceiling (bomb guard)")
        o += size + (if (blockChecksums) 4 else 0)
        nBlocks += 1
      }
    }
    val bytes = content.toByteArray
    if (contentChecksum) {
      require(o + 4 <= p.length, "torn LZ4 frame: missing content checksum")
      require(le32(p, o) == xxh32.hash(bytes, 0, bytes.length, 0),
        "LZ4 content checksum mismatch")
      o += 4
    }
    declaredSize.foreach(d => require(d == bytes.length,
      s"LZ4 frame declared $d content bytes, decoded ${bytes.length}"))
    FrameInfo(bytes, nBlocks, blockChecksums, contentChecksum, declaredSize)
  }

  /** Write a complete LZ4 frame over `content` (lz4-java's frame
    * writer, independent blocks of max-size code `bsCode`).
    */
  def encodeFrame(content: Array[Byte], bsCode: Int = 4,
      blockChecksums: Boolean = false, contentChecksum: Boolean = true,
      withContentSize: Boolean = false): Array[Byte] = {
    import net.jpountz.lz4.LZ4FrameOutputStream.{BLOCKSIZE, FLG}
    val bits = Seq(FLG.Bits.BLOCK_INDEPENDENCE) ++
      Option.when(blockChecksums)(FLG.Bits.BLOCK_CHECKSUM) ++
      Option.when(contentChecksum)(FLG.Bits.CONTENT_CHECKSUM) ++
      Option.when(withContentSize)(FLG.Bits.CONTENT_SIZE)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
      BLOCKSIZE.valueOf(bsCode),
      if (withContentSize) content.length.toLong else -1L, bits: _*)
    out.write(content)
    out.close()
    bos.toByteArray
  }

  // -------------------------------------------------------------------
  // Closed-form fixture: one .jsonl.lz4 shard per doc id

  def fixtureLineCount(id: Long): Int = 40 + (id % 30).toInt

  /** Line k of shard `id` — repetitive JSON so LZ4 matching is real. */
  def fixtureLine(id: Long, k: Int): String =
    s"""{"doc":$id,"seq":$k,"host":"h${k % 7}.example.com","bytes":${
      (k * 37 + id % 11) % 1000}}"""

  def fixtureContent(id: Long): Array[Byte] =
    (0 until fixtureLineCount(id)).map(k => fixtureLine(id, k))
      .mkString("", "\n", "\n").getBytes("UTF-8")

  /** doc_id → a framed shard: block checksums on odd ids, declared
    * content size on id%3==0, 64KB..4MB block-size codes rotating.
    */
  def fixturePayload(id: Long): Array[Byte] =
    encodeFrame(fixtureContent(id), bsCode = 4 + (id % 4).toInt,
      blockChecksums = id % 2 == 1, contentChecksum = true,
      withContentSize = id % 3 == 0)
}
