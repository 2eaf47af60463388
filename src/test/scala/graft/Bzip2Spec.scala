package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bzip2

/** bzip2 decode (operators.Bzip2: the stream walk over
  * commons-compress): block sizes, data shapes (zero-run-heavy, random,
  * text), multi-block and multi-stream files; torn streams reject
  * loudly by name.
  */
class Bzip2Spec extends AnyFunSuite {

  private def ccCompress(src: Array[Byte], level: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val bz = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos, level)
    bz.write(src)
    bz.close()
    bos.toByteArray
  }

  test("decodes commons-compress output bit-exactly across levels, " +
      "shapes and block boundaries") {
    val rnd = new scala.util.Random(37)
    val shapes = Seq(
      ("empty", Array.emptyByteArray),
      ("tiny", "hello bzip2".getBytes("US-ASCII")),
      // 4+ runs force the RLE1 escape byte; zeros force RUNA/RUNB runs
      ("runs", Array.tabulate[Byte](50000)(i =>
        if ((i / 200) % 3 == 0) 0 else (i / 100 % 7).toByte)),
      ("rand", Array.fill[Byte](30000)(rnd.nextInt().toByte)),
      ("text", (0 until 3000).map(i =>
        s"line $i of some repetitive text corpus")
        .mkString("\n").getBytes("UTF-8")),
      // > 100000 bytes at level 1 -> MULTI-BLOCK stream
      ("multiblock", Array.tabulate[Byte](350000)(i =>
        ((i / 13) % 251).toByte)))
    for ((name, src) <- shapes; level <- Seq(1, 9)) {
      val packed = ccCompress(src, level)
      val info = Bzip2.decode(packed)
      assert(info.content.sameElements(src), s"$name level=$level")
      assert(info.level == level && info.nStreams == 1)
    }
  }

  test("multi-stream concatenation decodes like pbzip2 output") {
    val a = "first stream\n".getBytes("UTF-8")
    val b = "second stream\n".getBytes("UTF-8")
    val cat = ccCompress(a, 1) ++ ccCompress(b, 1)
    val info = Bzip2.decode(cat)
    assert(info.content.sameElements(a ++ b))
    assert(info.nStreams == 2)
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L until 24L) {
      val info = Bzip2.decode(Bzip2.fixturePayload(id))
      assert(info.content.sameElements(Bzip2.fixtureContent(id)),
        s"id=$id content")
      assert((info.nStreams == 2) == (id % 4 == 3), s"id=$id streams")
      val lines = new String(info.content, "UTF-8").split("\n")
      assert(lines.length == Bzip2.fixtureLineCount(id))
      assert(lines(0) == Bzip2.fixtureLine(id, 0))
    }
  }

  test("torn streams reject loudly by name") {
    val good = Bzip2.fixturePayload(1L)
    val notBz = intercept[IllegalArgumentException](
      Bzip2.decode("BZx1 not actually bzip2 data".getBytes("US-ASCII")))
    assert(notBz.getMessage.contains("BZh"), notBz.getMessage)
    val badLevel = good.clone()
    badLevel(3) = '0'
    val e0 = intercept[IllegalArgumentException](Bzip2.decode(badLevel))
    assert(e0.getMessage.contains("level"), e0.getMessage)
    // flip a payload bit mid-block: the block CRC (or an upstream
    // structural check) must catch it
    var caught = 0
    for (i <- good.length / 3 until good.length / 3 + 20) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x10).toByte
      try { Bzip2.decode(bad) } catch {
        case _: IllegalArgumentException => caught += 1
      }
    }
    assert(caught > 0, "no mid-block corruption was ever detected")
    // truncation
    intercept[IllegalArgumentException](
      Bzip2.decode(good.take(good.length / 2)))
  }
}
