package graft.operators

import LibCodec.loud

/** DEFLATE / gzip — the foundational codec of the ingestion family
  * ([[Warc]]/[[Tar]] lean on gzip, PNG/TIFF on zlib) and the codec of
  * parquet GZIP pages, ORC ZLIB chunks and Avro `deflate` blocks. Raw
  * RFC 1951 streams are inflated by the JDK's `java.util.zip.Inflater`;
  * this object owns the RFC 1952 gzip MEMBER walk: magic, CM, reserved
  * FLG bits, every optional header field (FEXTRA / FNAME / FCOMMENT /
  * FHCRC — the 16-bit header CRC verified), the CRC-32 + ISIZE trailer,
  * and MULTI-MEMBER streams (the .warc.gz / pigz shape), plus the
  * decompressed-size ceiling every inflate runs under.
  */
object Inflate {

  /** Inflate a raw RFC 1951 stream starting at `off`; returns the
    * decompressed bytes and the first byte position past the final
    * block (so wrappers can find their trailers and further members).
    * Output past `maxOut` bytes rejects (decompression-bomb guard).
    */
  def inflateRaw(p: Array[Byte], off: Int,
      maxOut: Int = LibCodec.MaxOutput): (Array[Byte], Int) = {
    LibCodec.inBounds("DEFLATE", p, off, p.length - off)
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(p, off, p.length - off)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](math.max(1, math.min(maxOut, 1 << 16)))
      while (!inf.finished()) {
        val n = loud("DEFLATE")(inf.inflate(buf))
        require(n > 0 || inf.finished(),
          "torn DEFLATE: input ends before the final block")
        require(out.size.toLong + n <= maxOut,
          s"DEFLATE output exceeds the $maxOut-byte ceiling (bomb guard)")
        out.write(buf, 0, n)
      }
      (out.toByteArray, p.length - inf.getRemaining)
    } finally inf.end()
  }

  // -------------------------------------------------------------------
  // gzip (RFC 1952) — full header grammar, multi-member

  final case class GzipMember(name: Option[String],
      comment: Option[String], extra: Option[Array[Byte]],
      content: Array[Byte])

  /** Every member of a gzip stream; all members together inflate to at
    * most `maxOut` bytes.
    */
  def gunzipMembers(p: Array[Byte],
      maxOut: Int = LibCodec.MaxOutput): Seq[GzipMember] = {
    val out = Vector.newBuilder[GzipMember]
    var o = 0
    var total = 0L
    require(p.length >= 18, "torn gzip: shorter than any member")
    while (o < p.length) {
      require(o + 10 <= p.length, "torn gzip: member header")
      require((p(o) & 0xff) == 0x1f && (p(o + 1) & 0xff) == 0x8b,
        f"not gzip: magic 0x${p(o) & 0xff}%02x${p(o + 1) & 0xff}%02x")
      require((p(o + 2) & 0xff) == 8, "gzip CM must be 8 (deflate)")
      val flg = p(o + 3) & 0xff
      require((flg & 0xe0) == 0, "reserved gzip FLG bits set")
      val headerStart = o
      o += 10 // MTIME/XFL/OS skipped (metadata, not framing)
      var extra: Option[Array[Byte]] = None
      if ((flg & 4) != 0) { // FEXTRA
        require(o + 2 <= p.length, "torn gzip: XLEN")
        val xlen = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
        o += 2
        require(o + xlen <= p.length, "torn gzip: FEXTRA field")
        extra = Some(java.util.Arrays.copyOfRange(p, o, o + xlen))
        o += xlen
      }
      def zstr(): String = {
        val start = o
        while (o < p.length && p(o) != 0) o += 1
        require(o < p.length, "torn gzip: unterminated header string")
        o += 1
        new String(p, start, o - 1 - start, "ISO-8859-1")
      }
      val name = if ((flg & 8) != 0) Some(zstr()) else None
      val comment = if ((flg & 16) != 0) Some(zstr()) else None
      if ((flg & 2) != 0) { // FHCRC: low 16 bits of CRC32 over the header
        require(o + 2 <= p.length, "torn gzip: FHCRC")
        val want = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
        val c = new java.util.zip.CRC32()
        c.update(p, headerStart, o - headerStart)
        require((c.getValue & 0xffff).toInt == want,
          "gzip header CRC (FHCRC) mismatch")
        o += 2
      }
      val (content, after) = inflateRaw(p, o, (maxOut - total).toInt)
      total += content.length
      require(after + 8 <= p.length, "torn gzip: missing CRC32/ISIZE")
      val c = new java.util.zip.CRC32()
      c.update(content)
      require(c.getValue == (LibCodec.le32(p, after) & 0xffffffffL),
        "gzip CRC32 mismatch")
      val isize = LibCodec.le32(p, after + 4) & 0xffffffffL
      require(isize == (content.length & 0xffffffffL),
        s"gzip ISIZE $isize != ${content.length}")
      out += GzipMember(name, comment, extra, content)
      o = after + 8
    }
    out.result()
  }

  /** All members' content concatenated — the gunzip(1) behavior. */
  def gunzip(p: Array[Byte], maxOut: Int = LibCodec.MaxOutput): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    gunzipMembers(p, maxOut)
      .foreach(m => bos.write(m.content, 0, m.content.length))
    bos.toByteArray
  }

  /** Write one gzip member with the full optional-header surface (the
    * fixture writer; the body is the JDK's raw Deflater at `level`).
    */
  def gzipMember(content: Array[Byte], name: Option[String] = None,
      comment: Option[String] = None, extra: Option[Array[Byte]] = None,
      headerCrc: Boolean = false, level: Int = 6): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val header = new java.io.ByteArrayOutputStream()
    val flg = (if (extra.isDefined) 4 else 0) |
      (if (name.isDefined) 8 else 0) |
      (if (comment.isDefined) 16 else 0) | (if (headerCrc) 2 else 0)
    header.write(0x1f); header.write(0x8b); header.write(8)
    header.write(flg)
    for (_ <- 0 until 4) header.write(0) // MTIME 0: deterministic
    header.write(0); header.write(255) // XFL, OS unknown
    extra.foreach { x =>
      header.write(x.length & 0xff); header.write((x.length >>> 8) & 0xff)
      header.write(x, 0, x.length)
    }
    name.foreach { s => header.write(s.getBytes("ISO-8859-1")); header.write(0) }
    comment.foreach { s =>
      header.write(s.getBytes("ISO-8859-1")); header.write(0)
    }
    val hb = header.toByteArray
    out.write(hb, 0, hb.length)
    if (headerCrc) {
      val c = new java.util.zip.CRC32()
      c.update(hb)
      out.write((c.getValue & 0xff).toInt)
      out.write(((c.getValue >> 8) & 0xff).toInt)
    }
    val d = new java.util.zip.Deflater(level, true)
    d.setInput(content); d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    val c = new java.util.zip.CRC32()
    c.update(content)
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    w32(c.getValue)
    w32(content.length.toLong & 0xffffffffL)
    out.toByteArray
  }

  // -------------------------------------------------------------------
  // Closed-form fixture: one multi-member .jsonl.gz shard per doc id

  def fixtureMemberCount(id: Long): Int = 2 + (id % 3).toInt

  def fixtureLineCount(id: Long, m: Int): Int = 20 + ((id + m * 7) % 15).toInt

  def fixtureLine(id: Long, m: Int, k: Int): String =
    s"""{"doc":$id,"member":$m,"seq":$k,"score":${(k * 41 + m * 17 + id % 19) % 500}}"""

  def fixtureMemberContent(id: Long, m: Int): Array[Byte] =
    (0 until fixtureLineCount(id, m)).map(k => fixtureLine(id, m, k))
      .mkString("", "\n", "\n").getBytes("UTF-8")

  /** doc_id → a MULTI-member gzip shard (the .warc.gz / pigz shape):
    * member headers rotate the optional fields — FNAME on even members,
    * FCOMMENT+FHCRC on odd, FEXTRA on member 0 of id%4==0 — and the
    * deflate level cycles 0/1/6/9 so stored, fixed and dynamic blocks
    * all appear across the corpus.
    */
  def fixturePayload(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for (m <- 0 until fixtureMemberCount(id)) {
      val b = gzipMember(fixtureMemberContent(id, m),
        name = if (m % 2 == 0) Some(s"shard-$id-$m.jsonl") else None,
        comment = if (m % 2 == 1) Some(s"member $m") else None,
        extra = if (m == 0 && id % 4 == 0)
          Some(Array[Byte](1, 2, 3, 4)) else None,
        headerCrc = m % 2 == 1,
        level = Array(0, 1, 6, 9)(((id + m) % 4).toInt))
      out.write(b, 0, b.length)
    }
    out.toByteArray
  }
}
