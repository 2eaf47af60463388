package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Lz4

/** LZ4 block + frame decode (operators.Lz4: the frame walk over
  * lz4-java's safe block decoder): lz4-java-compressed blocks and
  * frames, every frame flag combination, the closed-form fixture
  * contract and loud torn-frame rejects.
  */
class Lz4Spec extends AnyFunSuite {

  private val factory = net.jpountz.lz4.LZ4Factory.safeInstance()
  private val xxFactory = net.jpountz.xxhash.XXHashFactory.safeInstance()

  test("our block decoder decodes lz4-java's compressor output " +
      "bit-exactly") {
    val rnd = new scala.util.Random(5)
    val comp = factory.fastCompressor()
    for (n <- Seq(0, 1, 12, 13, 100, 5000, 70000)) {
      // compressible (repetitive) and raw-random inputs
      val rep = Array.tabulate[Byte](n)(i => ((i / 7) % 23).toByte)
      val rawr = Array.fill[Byte](n)(rnd.nextInt(8).toByte)
      for (src <- Seq(rep, rawr)) {
        val packed = comp.compress(src)
        val dec = Lz4.decompressBlock(packed, 0, packed.length, n)
        assert(dec.sameElements(src), s"n=$n roundtrip via jpountz")
      }
    }
  }

  test("frame roundtrip across every flag combination and block size " +
      "code") {
    val rnd = new scala.util.Random(8)
    val content = Array.tabulate[Byte](200000)(i =>
      (((i / 11) * 7 + rnd.nextInt(2)) % 61).toByte)
    for (bs <- 4 to 7; bc <- Seq(false, true); cc <- Seq(false, true);
        sz <- Seq(false, true)) {
      val frame = Lz4.encodeFrame(content, bs, bc, cc, sz)
      val info = Lz4.decodeFrame(frame)
      assert(info.content.sameElements(content),
        s"bs=$bs bc=$bc cc=$cc sz=$sz")
      assert(info.blockChecksums == bc && info.contentChecksum == cc)
      assert(info.declaredSize == (if (sz) Some(content.length.toLong)
        else None))
      // a 64KB-max-block frame over 200KB content spans several blocks
      if (bs == 4) assert(info.nBlocks >= 3)
    }
  }

  test("our frame decoder reads lz4-java's frame writer; lz4-java's " +
      "frame reader reads ours") {
    val content = Array.tabulate[Byte](150000)(i => ((i / 9) % 47).toByte)
    // jpountz frame writer -> our decoder
    val bos = new java.io.ByteArrayOutputStream()
    val fos = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
    fos.write(content)
    fos.close()
    val theirs = bos.toByteArray
    val info = Lz4.decodeFrame(theirs)
    assert(info.content.sameElements(content), "jpountz frame -> ours")
    // our frame writer -> jpountz reader
    val ours = Lz4.encodeFrame(content, bsCode = 5,
      blockChecksums = true, contentChecksum = true,
      withContentSize = true)
    val fis = new net.jpountz.lz4.LZ4FrameInputStream(
      new java.io.ByteArrayInputStream(ours))
    val back = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = fis.read(buf)
    while (n >= 0) { back.write(buf, 0, n); n = fis.read(buf) }
    fis.close()
    assert(back.toByteArray.sameElements(content), "our frame -> jpountz")
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L until 24L) {
      val info = Lz4.decodeFrame(Lz4.fixturePayload(id))
      val want = Lz4.fixtureContent(id)
      assert(info.content.sameElements(want), s"id=$id content")
      assert(info.blockChecksums == (id % 2 == 1), s"id=$id bc flag")
      assert(info.declaredSize.isDefined == (id % 3 == 0), s"id=$id size")
      val lines = new String(info.content, "UTF-8").split("\n")
      assert(lines.length == Lz4.fixtureLineCount(id), s"id=$id lines")
      assert(lines(0) == Lz4.fixtureLine(id, 0))
    }
  }

  test("torn frames reject loudly by name") {
    val good = Lz4.fixturePayload(1L) // block checksums on
    val notLz4 = intercept[IllegalArgumentException](
      Lz4.decodeFrame("not an lz4 frame....".getBytes("US-ASCII")))
    assert(notLz4.getMessage.contains("magic"), notLz4.getMessage)
    // flip a header flag: the header checksum must catch it
    val badHdr = good.clone()
    badHdr(4) = (badHdr(4) ^ 0x08).toByte
    val e1 = intercept[IllegalArgumentException](Lz4.decodeFrame(badHdr))
    assert(e1.getMessage.contains("header checksum") ||
      e1.getMessage.contains("torn"), e1.getMessage)
    // flip a payload byte: the block checksum must catch it
    val badBlock = good.clone()
    badBlock(badBlock.length / 2) =
      (badBlock(badBlock.length / 2) ^ 0x40).toByte
    val e2 = intercept[IllegalArgumentException](Lz4.decodeFrame(badBlock))
    assert(e2.getMessage.toLowerCase.contains("checksum") ||
      e2.getMessage.contains("torn") || e2.getMessage.contains("LZ4"),
      e2.getMessage)
    // truncation
    intercept[IllegalArgumentException](
      Lz4.decodeFrame(good.take(good.length - 6)))
    // a zero match offset inside a hand-built block
    val bad = Array[Byte](0x10, 65, 0, 0, 0x50) // lit 'A', offset 0
    val e3 = intercept[IllegalArgumentException](
      Lz4.decompressBlock(bad, 0, bad.length, 10))
    assert(e3.getMessage.contains("offset"), e3.getMessage)
    // reserved BD bits set WITH a matching header checksum: the
    // checksum alone must not launder a spec-invalid descriptor
    val badBd = good.clone()
    val hcPos = 6 + (if ((badBd(4) & 0x08) != 0) 8 else 0)
    badBd(5) = (badBd(5) | 0x80).toByte
    badBd(hcPos) =
      ((xxFactory.hash32().hash(badBd, 4, hcPos - 4, 0) >>> 8) & 0xff)
        .toByte
    val e4 = intercept[IllegalArgumentException](Lz4.decodeFrame(badBd))
    assert(e4.getMessage.contains("reserved BD"), e4.getMessage)
  }
}
