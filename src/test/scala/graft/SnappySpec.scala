package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Snappy

/** Snappy raw + framed decode (operators.Snappy: the framing walk
  * over snappy-java), interop with snappy-java's framed streams in both
  * directions, the closed-form fixture contract and loud torn-stream
  * rejects.
  */
class SnappySpec extends AnyFunSuite {

  test("our raw decoder decodes snappy-java's compressor bit-exactly") {
    val rnd = new scala.util.Random(17)
    for (n <- Seq(0, 1, 15, 16, 100, 5000, 70000, 200000)) {
      val rep = Array.tabulate[Byte](n)(i => ((i / 9) % 29).toByte)
      val rawr = Array.fill[Byte](n)(rnd.nextInt(6).toByte)
      for (src <- Seq(rep, rawr)) {
        val packed = org.xerial.snappy.Snappy.compress(src)
        val dec = Snappy.uncompress(packed, 0, packed.length)
        assert(dec.sameElements(src), s"n=$n jpountz->ours") // xerial
      }
    }
  }

  test("snappy-java accepts our raw compressor; self-roundtrip agrees") {
    val rnd = new scala.util.Random(19)
    for (n <- Seq(0, 1, 5, 15, 16, 64, 70, 1000, 30000, 100000)) {
      val src = Array.tabulate[Byte](n)(i =>
        (((i / 6) * 17 + rnd.nextInt(3)) % 37).toByte)
      val packed = Snappy.compress(src)
      val dec = org.xerial.snappy.Snappy.uncompress(packed)
      assert(dec.sameElements(src), s"n=$n ours->xerial")
      assert(Snappy.uncompress(packed, 0, packed.length).sameElements(src))
    }
    // a long all-equal run exercises the copy-split path (>= 68 bytes)
    val run = Array.fill[Byte](500)(42)
    val packed = Snappy.compress(run)
    assert(org.xerial.snappy.Snappy.uncompress(packed).sameElements(run))
  }

  test("framed streams interop with snappy-java both directions") {
    val content = Array.tabulate[Byte](180000)(i => ((i / 13) % 53).toByte)
    // xerial framed writer -> our decoder
    val bos = new java.io.ByteArrayOutputStream()
    val sfo = new org.xerial.snappy.SnappyFramedOutputStream(bos)
    sfo.write(content)
    sfo.close()
    val info = Snappy.decodeFramed(bos.toByteArray)
    assert(info.content.sameElements(content), "xerial frame -> ours")
    assert(info.nCompressed + info.nUncompressed >= 3, "multi-chunk")
    // our framed writer -> xerial reader
    val ours = Snappy.encodeFramed(content, chunkSize = 40000,
      withPadding = true)
    val sfi = new org.xerial.snappy.SnappyFramedInputStream(
      new java.io.ByteArrayInputStream(ours))
    val back = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = sfi.read(buf)
    while (n >= 0) { back.write(buf, 0, n); n = sfi.read(buf) }
    sfi.close()
    assert(back.toByteArray.sameElements(content), "our frame -> xerial")
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L until 30L) {
      val info = Snappy.decodeFramed(Snappy.fixturePayload(id))
      assert(info.content.sameElements(Snappy.fixtureContent(id)),
        s"id=$id content")
      if (id % 3 == 2)
        assert(info.nCompressed + info.nUncompressed > 1,
          s"id=$id should be multi-chunk")
      assert((info.nSkipped > 0) == (id % 5 == 0), s"id=$id padding")
      val rows = new String(info.content, "UTF-8").split("\n")
      assert(rows.length == Snappy.fixtureRowCount(id))
      assert(rows(0) == Snappy.fixtureRow(id, 0))
    }
  }

  test("torn streams reject loudly by name") {
    val good = Snappy.fixturePayload(1L)
    val notSz = intercept[IllegalArgumentException](
      Snappy.decodeFramed("definitely not snappy".getBytes("US-ASCII")))
    assert(notSz.getMessage.contains("sNaPpY"), notSz.getMessage)
    // flip a payload byte: the chunk CRC must catch it
    val bad = good.clone()
    bad(bad.length - 3) = (bad(bad.length - 3) ^ 0x11).toByte
    val e1 = intercept[IllegalArgumentException](Snappy.decodeFramed(bad))
    assert(e1.getMessage.contains("CRC") || e1.getMessage.contains("torn") ||
      e1.getMessage.contains("snappy"), e1.getMessage)
    // truncation
    intercept[IllegalArgumentException](
      Snappy.decodeFramed(good.take(good.length - 5)))
    // reserved unskippable chunk
    val resv = good.clone()
    resv(10) = 0x40
    val e2 = intercept[IllegalArgumentException](Snappy.decodeFramed(resv))
    assert(e2.getMessage.contains("UNSKIPPABLE"), e2.getMessage)
    // raw: a copy reaching before the start of output — varint 4, a
    // 1-byte literal 'A', then a 1-byte-offset copy with offset 9 > 1
    val raw = Array[Byte](4, 0, 65, 1, 9)
    val e3 = intercept[IllegalArgumentException](
      Snappy.uncompress(raw, 0, raw.length))
    assert(e3.getMessage.contains("offset") ||
      e3.getMessage.contains("overrun"), e3.getMessage)
  }
}
