package graft.operators

import LibCodec.{drain, le32, loud}

/** XZ — the highest-ratio member of the compressed-shard family next to
  * [[Lz4]]/[[Snappy]]/[[Inflate]]/[[Bzip2]]. The stream is decoded by
  * tukaani xz (org.tukaani.xz: LZMA2 chunks, block headers, block
  * integrity checks and the index all verified there); this object owns
  * the CONTAINER facts a query reports and the up-front checks: the
  * stream-header magic, reserved flags and CRC32, the check type
  * (None/CRC32/CRC64/SHA-256), the stream footer (CRC32, backward size,
  * flags equal to the header's, the "YZ" magic), and the block count
  * read from the index the footer points at. One stream per file;
  * trailing bytes reject.
  *
  * Format: the public xz file-format specification.
  */
object Xz {

  final case class XzInfo(content: Array[Byte], nBlocks: Int,
      checkType: Int)

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue
  }

  private def readVli(p: Array[Byte], pos0: Int): (Long, Int) = {
    var v = 0L
    var pos = pos0
    var shift = 0
    var b = 0
    do {
      require(pos < p.length && shift <= 56, "torn xz: VLI")
      b = p(pos) & 0xff
      pos += 1
      v |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    (v, pos)
  }

  def decode(p: Array[Byte]): XzInfo = {
    require(p.length >= 32 &&
      (p(0) & 0xff) == 0xfd && p(1) == '7' && p(2) == 'z' &&
      p(3) == 'X' && p(4) == 'Z' && p(5) == 0,
      "not an xz stream (bad header magic)")
    require(p(6) == 0, "reserved xz stream flag byte")
    val checkType = p(7) & 0xff
    require(checkType == 0 || checkType == 1 || checkType == 4 ||
      checkType == 10,
      s"xz check type $checkType unsupported (None/CRC32/CRC64/SHA-256)")
    require((le32(p, 8) & 0xffffffffL) == crc32(p, 6, 2),
      "xz stream-header CRC32 mismatch")
    // stream footer: CRC32(backward size + flags), backward size, flags, YZ
    val ft = p.length - 12
    require(p(ft + 10) == 'Y' && p(ft + 11) == 'Z',
      "xz footer magic YZ missing")
    require((le32(p, ft) & 0xffffffffL) == crc32(p, ft + 4, 6),
      "xz stream-footer CRC32 mismatch")
    require(p(ft + 8) == p(6) && p(ft + 9) == p(7),
      "xz footer stream flags differ from the header")
    val indexStart = ft - ((le32(p, ft + 4) & 0xffffffffL) * 4 + 4)
    require(indexStart >= 12 && p(indexStart.toInt) == 0,
      "xz footer backward size does not point at an index")
    val (nBlocks, _) = readVli(p, indexStart.toInt + 1)
    require(nBlocks <= Int.MaxValue, s"xz index declares $nBlocks blocks")
    val in = new java.io.ByteArrayInputStream(p)
    val content = drain("xz", loud("xz")(new org.tukaani.xz
      .SingleXZInputStream(in, LibCodec.MaxOutput / 1024)))
    require(in.available() == 0,
      "trailing bytes after the xz stream (multi-stream unsupported)")
    XzInfo(content, nBlocks.toInt, checkType)
  }

  // -------------------------------------------------------------------
  // Fixture: tukaani-written .jsonl.xz shards

  def fixtureLineCount(id: Long): Int = 45 + (id % 40).toInt

  def fixtureLine(id: Long, k: Int): String =
    s"""{"doc":$id,"seq":$k,"tag":"t${k % 8}","v":${(k * 43 + id % 23) % 900}}"""

  def fixtureContent(id: Long): Array[Byte] =
    (0 until fixtureLineCount(id)).map(k => fixtureLine(id, k))
      .mkString("", "\n", "\n").getBytes("UTF-8")

  /** doc_id → an .xz shard written by org.tukaani.xz: preset rotates
    * 0/3/6/9 (0 uses the fast hash-chain match finder, 9 BT4), check
    * type rotates CRC64 (default) / CRC32 / SHA-256. The dictionary is
    * capped at 64 KiB — the payload is ~4 KiB, and the preset defaults
    * (up to 64 MiB for preset 9) would cost a giant dictionary
    * allocation per shard on both the encode and the decode side.
    */
  def fixturePayload(id: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val opts = new org.tukaani.xz.LZMA2Options(
      Array(0, 3, 6, 9)((id % 4).toInt))
    opts.setDictSize(1 << 16)
    val check = (id % 3).toInt match {
      case 0 => org.tukaani.xz.XZ.CHECK_CRC64
      case 1 => org.tukaani.xz.XZ.CHECK_CRC32
      case _ => org.tukaani.xz.XZ.CHECK_SHA256
    }
    val xz = new org.tukaani.xz.XZOutputStream(bos, opts, check)
    xz.write(fixtureContent(id))
    xz.close()
    bos.toByteArray
  }
}
