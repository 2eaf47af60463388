package graft.operators

import LibCodec.{declared, inBounds, le32, loud}

/** Snappy — the second compressed-shard member of the ingestion family
  * next to [[Lz4]], and the codec of graftpq/graftorc snappy pages.
  * Raw blocks are encoded and decoded by snappy-java (org.xerial.snappy);
  * this object owns the FRAMING format (.sz) walk: the 0xff "sNaPpY"
  * stream identifier, 0x00 compressed / 0x01 uncompressed chunks each
  * led by a MASKED CRC-32C of the uncompressed data
  * (`rotr15(crc) + 0xa282ead8`, CRC-32C from the JDK), 0xfe padding and
  * reserved-skippable chunks counted, reserved-unskippable chunks
  * rejected loudly.
  *
  * A raw block's varint length is read and checked against the caller's
  * bound (65,536 bytes for a framed chunk, the page size for a parquet
  * page, the 1 GiB ceiling otherwise) before the output is allocated.
  * Format: google/snappy framing_format.txt.
  */
object Snappy {

  /** Decode one raw-Snappy buffer whose declared length is at most
    * `maxLen` bytes. An element yields at most 64 output bytes per 3
    * input bytes, so the declared length is also checked against that.
    */
  def uncompress(src: Array[Byte], srcOff: Int, srcLen: Int,
      maxLen: Int = LibCodec.MaxOutput): Array[Byte] = {
    inBounds("snappy", src, srcOff, srcLen)
    val n = declared("snappy", loud("snappy")(
      org.xerial.snappy.Snappy.uncompressedLength(src, srcOff, srcLen)),
      math.min(maxLen.toLong, 22L * srcLen + 64))
    val dst = new Array[Byte](n)
    // snappy reports every corruption as one error code; name its causes
    val got = loud("snappy raw block (truncated element, copy offset " +
      "outside the output, or length overrun)")(
      org.xerial.snappy.Snappy.uncompress(src, srcOff, srcLen, dst, 0))
    require(got == n, s"snappy decoded $got of $n declared bytes")
    dst
  }

  /** Raw-Snappy block (snappy-java's compressor). */
  def compress(src: Array[Byte]): Array[Byte] =
    org.xerial.snappy.Snappy.compress(src)

  // -------------------------------------------------------------------
  // Framing format (.sz)

  private val StreamId: Array[Byte] =
    Array(0xff, 6, 0, 0, 's', 'N', 'a', 'P', 'p', 'Y').map(_.toByte)

  /** Uncompressed bytes one framed chunk may carry. */
  private val ChunkMax = 65536

  /** `rotr15(crc32c) + 0xa282ead8` — the framing format's CRC mask. */
  def maskedCrc32c(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(b, off, len)
    Integer.rotateRight(c.getValue.toInt, 15) + 0xa282ead8
  }

  final case class SzInfo(content: Array[Byte], nCompressed: Int,
      nUncompressed: Int, nSkipped: Int)

  /** Decode a complete framed .sz stream, verifying every chunk CRC. */
  def decodeFramed(p: Array[Byte]): SzInfo = {
    require(p.length >= 10 && (0 until 10).forall(i => p(i) == StreamId(i)),
      "not a snappy framed stream (missing sNaPpY identifier)")
    var o = 10
    val out = new java.io.ByteArrayOutputStream()
    var nc = 0
    var nu = 0
    var ns = 0
    while (o < p.length) {
      require(o + 4 <= p.length, "torn .sz: chunk header")
      val typ = p(o) & 0xff
      val len = (p(o + 1) & 0xff) | ((p(o + 2) & 0xff) << 8) |
        ((p(o + 3) & 0xff) << 16)
      o += 4
      require(o + len <= p.length, s"torn .sz: chunk overruns (type $typ)")
      typ match {
        case 0x00 => // compressed: masked CRC + raw-snappy data
          require(len >= 4, "torn .sz: compressed chunk under 4 bytes")
          val data = uncompress(p, o + 4, len - 4, ChunkMax)
          require(maskedCrc32c(data, 0, data.length) == le32(p, o),
            "snappy framed chunk CRC mismatch (compressed)")
          out.write(data, 0, data.length)
          nc += 1
        case 0x01 => // uncompressed: masked CRC + plain data
          require(len >= 4 && len - 4 <= ChunkMax,
            s"torn .sz: uncompressed chunk of $len bytes")
          require(maskedCrc32c(p, o + 4, len - 4) == le32(p, o),
            "snappy framed chunk CRC mismatch (uncompressed)")
          out.write(p, o + 4, len - 4)
          nu += 1
        case 0xff => // repeated stream identifier: legal, re-validated
          require(len == 6 && new String(p, o, 6, "US-ASCII") == "sNaPpY",
            "torn .sz: malformed repeated stream identifier")
        case t if t == 0xfe || (t >= 0x80 && t <= 0xfd) =>
          ns += 1 // padding / reserved-skippable: ignored by spec
        case t => throw new IllegalArgumentException(
          f"reserved UNSKIPPABLE .sz chunk 0x$t%02x")
      }
      require(out.size <= LibCodec.MaxOutput,
        "snappy framed output exceeds the 1 GiB ceiling (bomb guard)")
      o += len
    }
    SzInfo(out.toByteArray, nc, nu, ns)
  }

  /** Write a framed .sz stream: chunks of `chunkSize` uncompressed
    * bytes, each compressed when that wins, with a padding chunk after
    * the identifier when `withPadding`.
    */
  def encodeFramed(content: Array[Byte], chunkSize: Int = ChunkMax,
      withPadding: Boolean = false): Array[Byte] = {
    require(chunkSize >= 1 && chunkSize <= ChunkMax,
      ".sz chunks carry at most 65536 uncompressed bytes")
    val out = new java.io.ByteArrayOutputStream()
    out.write(StreamId, 0, StreamId.length)
    def le24(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff)
    }
    def chunk(typ: Int, crc: Int, body: Array[Byte], off: Int,
        len: Int): Unit = {
      out.write(typ)
      le24(len + 4)
      le24(crc); out.write((crc >>> 24) & 0xff)
      out.write(body, off, len)
    }
    if (withPadding) { out.write(0xfe); le24(3); le24(0) }
    var o = 0
    while (o < content.length) {
      val n = math.min(chunkSize, content.length - o)
      val crc = maskedCrc32c(content, o, n)
      val packed = compress(java.util.Arrays.copyOfRange(content, o, o + n))
      if (packed.length < n) chunk(0x00, crc, packed, 0, packed.length)
      else chunk(0x01, crc, content, o, n)
      o += n
    }
    out.toByteArray
  }

  // -------------------------------------------------------------------
  // Closed-form fixture: one .tsv.sz shard per doc id

  def fixtureRowCount(id: Long): Int = 50 + (id % 40).toInt

  /** Row k of shard `id`: tab-separated (doc, seq, lang, tokens). */
  def fixtureRow(id: Long, k: Int): String =
    s"$id\t$k\tlang${k % 5}\t${(k * 53 + id % 13) % 2000}"

  def fixtureContent(id: Long): Array[Byte] =
    (0 until fixtureRowCount(id)).map(k => fixtureRow(id, k))
      .mkString("", "\n", "\n").getBytes("UTF-8")

  /** doc_id → a framed shard: small chunks on id%3==2 (multi-chunk
    * streams), a padding chunk on id%5==0.
    */
  def fixturePayload(id: Long): Array[Byte] =
    encodeFramed(fixtureContent(id),
      chunkSize = if (id % 3 == 2) 512 else ChunkMax,
      withPadding = id % 5 == 0)
}
