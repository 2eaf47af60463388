package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Xz

/** XZ decode (operators.Xz: stream header/footer and index checks over
  * tukaani xz): every preset (0..9, hash-chain AND BT4 match finders),
  * all three check types, block counts of multi-block streams, plus the
  * closed-form fixture contract and loud torn-stream rejects.
  */
class XzSpec extends AnyFunSuite {

  private def tukaani(src: Array[Byte], preset: Int,
      check: Int = org.tukaani.xz.XZ.CHECK_CRC64): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val xz = new org.tukaani.xz.XZOutputStream(bos,
      new org.tukaani.xz.LZMA2Options(preset), check)
    xz.write(src)
    xz.close()
    bos.toByteArray
  }

  test("decodes tukaani output bit-exactly at every preset and shape") {
    val rnd = new scala.util.Random(43)
    val shapes = Seq(
      ("empty", Array.emptyByteArray),
      ("tiny", "hello xz".getBytes("US-ASCII")),
      ("runs", Array.tabulate[Byte](60000)(i =>
        if ((i / 300) % 2 == 0) 0 else ((i / 50) % 9).toByte)),
      ("rand", Array.fill[Byte](40000)(rnd.nextInt().toByte)),
      ("text", (0 until 4000).map(i =>
        s"the quick brown fox $i jumps over the lazy dog")
        .mkString("\n").getBytes("UTF-8")))
    for ((name, src) <- shapes; preset <- 0 to 9) {
      val packed = tukaani(src, preset)
      val info = Xz.decode(packed)
      assert(info.content.sameElements(src), s"$name preset=$preset")
      assert(info.checkType == 4) // CRC64 default
    }
  }

  test("all three check types verify; multi-block streams decode") {
    val src = Array.tabulate[Byte](50000)(i => ((i / 17) % 61).toByte)
    for (check <- Seq(org.tukaani.xz.XZ.CHECK_CRC32,
        org.tukaani.xz.XZ.CHECK_CRC64, org.tukaani.xz.XZ.CHECK_SHA256)) {
      val info = Xz.decode(tukaani(src, 4, check))
      assert(info.content.sameElements(src), s"check=$check")
    }
    // explicit flush() closes a block and opens another
    val bos = new java.io.ByteArrayOutputStream()
    val xz = new org.tukaani.xz.XZOutputStream(bos,
      new org.tukaani.xz.LZMA2Options(3))
    xz.write(src, 0, 20000)
    xz.endBlock()
    xz.write(src, 20000, 30000)
    xz.close()
    val info = Xz.decode(bos.toByteArray)
    assert(info.content.sameElements(src), "multi-block")
    assert(info.nBlocks == 2, s"expected 2 blocks, got ${info.nBlocks}")
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L until 24L) {
      val info = Xz.decode(Xz.fixturePayload(id))
      assert(info.content.sameElements(Xz.fixtureContent(id)),
        s"id=$id content")
      assert(info.checkType ==
        Seq(4, 1, 10)((id % 3).toInt), s"id=$id check type")
      val lines = new String(info.content, "UTF-8").split("\n")
      assert(lines.length == Xz.fixtureLineCount(id))
      assert(lines(0) == Xz.fixtureLine(id, 0))
    }
  }

  test("torn streams reject loudly by name") {
    val good = Xz.fixturePayload(0L) // CRC64 check
    val notXz = intercept[IllegalArgumentException](
      Xz.decode("certainly not an xz stream at all".getBytes("US-ASCII")))
    assert(notXz.getMessage.contains("magic"), notXz.getMessage)
    // corrupt a payload byte mid-block: CRC64 (or structure) catches it
    var caught = 0
    for (i <- 20 until 40) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x08).toByte
      try { Xz.decode(bad) } catch {
        case _: IllegalArgumentException => caught += 1
      }
    }
    assert(caught > 0, "no mid-block corruption detected")
    // truncation
    intercept[IllegalArgumentException](
      Xz.decode(good.take(good.length - 6)))
    // footer magic
    val badFt = good.clone()
    badFt(badFt.length - 1) = 'Q'
    val e = intercept[IllegalArgumentException](Xz.decode(badFt))
    assert(e.getMessage.contains("YZ") || e.getMessage.contains("CRC"),
      e.getMessage)
  }
}
