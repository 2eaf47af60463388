package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Zstd

/** Zstandard decode (operators.Zstd: the frame walk over zstd-jni):
  * jni-compressed streams across the level classes (fast/default/
  * lazy/btopt/btultra2), with and without content checksums, streamed
  * frames without a declared content size, multi-block inputs,
  * multi-frame concatenation with skippable leaders, and loud
  * torn-stream rejects.
  */
class ZstdSpec extends AnyFunSuite {

  private def jni(src: Array[Byte], level: Int,
      checksum: Boolean = false): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      ctx.setChecksum(checksum)
      ctx.compress(src)
    } finally ctx.close()
  }

  private val rnd = new scala.util.Random(47)
  private def shapes: Seq[(String, Array[Byte])] = Seq(
    ("empty", Array.emptyByteArray),
    ("tiny", "hello zstd".getBytes("US-ASCII")),
    ("runs", Array.tabulate[Byte](60000)(i =>
      if ((i / 300) % 2 == 0) 0 else ((i / 50) % 9).toByte)),
    ("rand", Array.fill[Byte](40000)(rnd.nextInt().toByte)),
    ("text", (0 until 4000).map(i =>
      s"the quick brown fox $i jumps over the lazy dog")
      .mkString("\n").getBytes("UTF-8")),
    ("big", (0 until 20000).map(i =>
      s"""{"k":$i,"v":"${"ab" * (i % 13)}","s":${i % 97}}""")
      .mkString("\n").getBytes("UTF-8"))) // > 128 KiB: multi-block

  test("decodes zstd-jni output bit-exactly across the level classes " +
      "and shapes (foreign-origin bytes)") {
    for ((name, src) <- shapes; level <- Seq(1, 3, 6, 9, 12, 17, 19, 22)) {
      val info = Zstd.decode(jni(src, level))
      assert(info.content.sameElements(src), s"$name level=$level")
      assert(info.nFrames == 1 && info.nChecksums == 0)
    }
  }

  test("content checksums verify when present; corruption under the " +
      "checksum rejects loudly") {
    val src = (0 until 90).map(i =>
      s"checksum line $i with some repeated payload payload")
      .mkString("\n").getBytes("UTF-8")
    val packed = jni(src, 3, checksum = true)
    val info = Zstd.decode(packed)
    assert(info.content.sameElements(src) && info.nChecksums == 1)
    // flip one payload byte mid-frame: either a structural check or
    // the XXH64 content checksum must catch it — silence is the bug
    var caught = 0
    for (i <- 20 until (packed.length - 5) by 7) {
      val bad = packed.clone()
      bad(i) = (bad(i) ^ 0x10).toByte
      try {
        Zstd.decode(bad)
        ()
      } catch { case _: IllegalArgumentException => caught += 1 }
    }
    assert(caught >= (packed.length - 25) / 7 - 2,
      s"only $caught corruptions of ~${(packed.length - 25) / 7} were " +
        "detected under a content checksum")
  }

  test("streamed frames (no declared content size, window descriptor " +
      "path) decode bit-exactly") {
    val src = shapes(5)._2
    for (level <- Seq(1, 3, 9, 19)) {
      val bos = new java.io.ByteArrayOutputStream()
      val zs = new com.github.luben.zstd.ZstdOutputStream(bos, level)
      // chunked writes so the encoder cannot know the final size
      var o = 0
      while (o < src.length) {
        val n = math.min(50000, src.length - o)
        zs.write(src, o, n)
        o += n
      }
      zs.close()
      val info = Zstd.decode(bos.toByteArray)
      assert(info.content.sameElements(src), s"streamed level=$level")
    }
  }

  test("multi-frame concatenation with a skippable leader decodes; " +
      "frame counts reported") {
    val a = "first frame\n".getBytes("UTF-8")
    val b = "second frame\n".getBytes("UTF-8")
    val skip = Array[Byte](0x50, 0x2a, 0x4d.toByte, 0x18, 4, 0, 0, 0,
      'm', 'e', 't', 'a')
    val payload = skip ++ jni(a, 3, checksum = true) ++ jni(b, 19)
    val info = Zstd.decode(payload)
    assert(info.content.sameElements(a ++ b))
    assert(info.nFrames == 2 && info.nSkippable == 1 &&
      info.nChecksums == 1)
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L to 11L) {
      val info = Zstd.decode(Zstd.fixturePayload(id))
      assert(info.content.sameElements(Zstd.fixtureContent(id)),
        s"id=$id content")
      assert(info.nFrames == (if (id % 4 == 3) 2 else 1), s"id=$id frames")
      assert(info.nSkippable == (if (id % 4 == 3) 1 else 0))
      assert(info.nChecksums ==
        (if (id % 2 == 0) info.nFrames else 0), s"id=$id checksums")
      val lines = new String(info.content, "UTF-8").split("\n")
      assert(lines.length == Zstd.fixtureLineCount(id))
      assert(lines(0) == Zstd.fixtureLine(id, 0))
    }
  }

  test("torn streams reject loudly by name") {
    val notZstd = intercept[IllegalArgumentException](
      Zstd.decode("definitely not a zstd frame".getBytes("US-ASCII")))
    assert(notZstd.getMessage.contains("magic"), notZstd.getMessage)
    val good = jni(shapes(4)._2, 3, checksum = true)
    // truncation at several depths
    for (cut <- Seq(3, good.length / 2, good.length - 1))
      intercept[IllegalArgumentException](Zstd.decode(good.take(cut)))
    // trailing garbage after a complete frame
    intercept[IllegalArgumentException](
      Zstd.decode(good ++ Array[Byte](1, 2, 3)))
    // reserved frame-descriptor bit
    val badDesc = good.clone()
    badDesc(4) = (badDesc(4) | 0x08).toByte
    val e1 = intercept[IllegalArgumentException](Zstd.decode(badDesc))
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    // dictionary frames reject by name (hand-built header: dict flag 1)
    val dict = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte,
      0x01, 0x00, 0x07)
    val e2 = intercept[IllegalArgumentException](Zstd.decode(dict))
    assert(e2.getMessage.contains("dictionary"), e2.getMessage)
    // wrong checksum: flip the stored checksum itself
    val badSum = good.clone()
    badSum(badSum.length - 1) = (badSum(badSum.length - 1) ^ 0x55).toByte
    val e3 = intercept[IllegalArgumentException](Zstd.decode(badSum))
    assert(e3.getMessage.contains("checksum"), e3.getMessage)
  }
}
