package graft.operators

import LibCodec.{drain, loud}

/** bzip2 — the wiki-dump / archive-corpus member of the compressed-shard
  * family next to [[Lz4]]/[[Snappy]]/[[Inflate]]. Each stream is decoded
  * by commons-compress (Huffman groups, MTF, inverse BWT, RLE layers,
  * block and combined CRCs all verified there); this object owns the
  * STREAM walk: the "BZh" + level header of every stream, MULTI-STREAM
  * files (the pbzip2 concatenation shape) decoded like gzip members,
  * tolerated zero padding between streams, and the decompressed-size
  * ceiling across the whole file.
  */
object Bzip2 {

  final case class Bz2Info(content: Array[Byte], nStreams: Int,
      level: Int)

  /** Decode a complete (possibly multi-stream) .bz2 file. */
  def decode(p: Array[Byte]): Bz2Info = {
    require(p.length >= 10, "torn bzip2: shorter than any stream")
    val out = new java.io.ByteArrayOutputStream()
    var nStreams = 0
    var level = 0
    var o = 0
    while (o < p.length) {
      require(o + 4 <= p.length && p(o) == 'B' && p(o + 1) == 'Z' &&
        p(o + 2) == 'h', "not a bzip2 stream (missing BZh magic)")
      level = p(o + 3) - '0'
      require(level >= 1 && level <= 9, s"bzip2 level $level outside 1..9")
      // one stream per decoder: it stops at the stream's end-of-stream
      // footer, so the bytes it left unread start the next stream
      val in = new java.io.ByteArrayInputStream(p, o, p.length - o)
      val bz = loud("bzip2")(new org.apache.commons.compress.compressors
        .bzip2.BZip2CompressorInputStream(in, false))
      val dec = drain("bzip2", bz, LibCodec.MaxOutput - out.size)
      out.write(dec, 0, dec.length)
      nStreams += 1
      o = p.length - in.available()
      // trailing zero padding after a stream is tolerated (tar-style)
      while (o < p.length && p(o) == 0) o += 1
    }
    Bz2Info(out.toByteArray, nStreams, level)
  }

  // -------------------------------------------------------------------
  // Fixture: commons-compress-written .jsonl.bz2 shards

  def fixtureLineCount(id: Long): Int = 60 + (id % 50).toInt

  def fixtureLine(id: Long, k: Int): String =
    s"""{"doc":$id,"seq":$k,"cat":"c${k % 6}","w":${(k * 29 + id % 17) % 800}}"""

  def fixtureContent(id: Long): Array[Byte] =
    (0 until fixtureLineCount(id)).map(k => fixtureLine(id, k))
      .mkString("", "\n", "\n").getBytes("UTF-8")

  /** doc_id → a .bz2 shard written by commons-compress: block size 1
    * (the 100k level) throughout — fixture content is far smaller than
    * one block, so multi-STREAM concatenation on id%4==3 exercises the
    * member loop the way pbzip2 output does.
    */
  def fixturePayload(id: Long): Array[Byte] = {
    def one(content: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val bz = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(bos, 1)
      bz.write(content)
      bz.close()
      bos.toByteArray
    }
    if (id % 4 == 3) {
      // two concatenated streams splitting the lines
      val half = fixtureLineCount(id) / 2
      val a = (0 until half).map(k => fixtureLine(id, k))
        .mkString("", "\n", "\n").getBytes("UTF-8")
      val b = (half until fixtureLineCount(id)).map(k => fixtureLine(id, k))
        .mkString("", "\n", "\n").getBytes("UTF-8")
      one(a) ++ one(b)
    } else one(fixtureContent(id))
  }
}
