package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Inflate

/** DEFLATE/gzip decode (operators.Inflate: the gzip member walk over
  * the JDK's raw Inflater): Deflater output at every level (stored,
  * fixed and dynamic blocks) with exact end positions, gzip headers in
  * both directions, the multi-member fixture contract, the bomb
  * ceiling, and loud torn-stream rejects.
  */
class InflateSpec extends AnyFunSuite {

  private def jdkDeflate(src: Array[Byte], level: Int,
      nowrap: Boolean): Array[Byte] = {
    val d = new java.util.zip.Deflater(level, nowrap)
    d.setInput(src); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  test("our inflater decodes JDK Deflater output at every level " +
      "(stored, fixed and dynamic blocks) bit-exactly") {
    val rnd = new scala.util.Random(23)
    for (level <- 0 to 9; shape <- Seq("rep", "rand", "mix")) {
      val n = 40000 + rnd.nextInt(5000)
      val src = shape match {
        case "rep" => Array.tabulate[Byte](n)(i => ((i / 10) % 17).toByte)
        case "rand" => Array.fill[Byte](n)(rnd.nextInt().toByte)
        case _ => Array.tabulate[Byte](n)(i =>
          if ((i / 1000) % 2 == 0) ((i / 3) % 11).toByte
          else rnd.nextInt().toByte)
      }
      val packed = jdkDeflate(src, level, nowrap = true)
      val (dec, after) = Inflate.inflateRaw(packed, 0)
      assert(dec.sameElements(src), s"level=$level shape=$shape")
      assert(after == packed.length, s"level=$level end position")
    }
    // empty and tiny inputs
    for (n <- Seq(0, 1, 5); level <- Seq(0, 6)) {
      val src = Array.tabulate[Byte](n)(_.toByte)
      val (dec, _) = Inflate.inflateRaw(jdkDeflate(src, level, true), 0)
      assert(dec.sameElements(src), s"n=$n level=$level")
    }
  }

  test("gzip: JDK-written streams decode; our full-header members " +
      "decode in the JDK; fields recovered") {
    val content = Array.tabulate[Byte](90000)(i => ((i / 11) % 31).toByte)
    // JDK writer -> our decoder
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(content); gz.close()
    assert(Inflate.gunzip(bos.toByteArray).sameElements(content))
    // our writer (all optional fields) -> JDK reader
    val ours = Inflate.gzipMember(content, name = Some("a.jsonl"),
      comment = Some("hello"), extra = Some(Array[Byte](9, 9)),
      headerCrc = true, level = 9)
    val gis = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(ours))
    val back = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = gis.read(buf)
    while (n >= 0) { back.write(buf, 0, n); n = gis.read(buf) }
    gis.close()
    assert(back.toByteArray.sameElements(content), "ours -> JDK gzip")
    // and our decoder recovers the header fields
    val m = Inflate.gunzipMembers(ours)
    assert(m.length == 1 && m.head.name.contains("a.jsonl") &&
      m.head.comment.contains("hello") &&
      m.head.extra.exists(_.sameElements(Array[Byte](9, 9))))
  }

  test("multi-member fixture decodes to the closed form") {
    for (id <- 0L until 24L) {
      val members = Inflate.gunzipMembers(Inflate.fixturePayload(id))
      assert(members.length == Inflate.fixtureMemberCount(id), s"id=$id")
      members.zipWithIndex.foreach { case (m, i) =>
        assert(m.content.sameElements(Inflate.fixtureMemberContent(id, i)),
          s"id=$id member $i content")
        assert(m.name.isDefined == (i % 2 == 0), s"id=$id member $i name")
        assert(m.comment.isDefined == (i % 2 == 1), s"id=$id comment")
      }
      // whole-shard concatenation equals member concatenation
      val whole = Inflate.gunzip(Inflate.fixturePayload(id))
      val want = (0 until Inflate.fixtureMemberCount(id))
        .flatMap(i => Inflate.fixtureMemberContent(id, i).toSeq).toArray
      assert(whole.sameElements(want), s"id=$id gunzip concat")
    }
  }

  test("torn streams reject loudly by name") {
    // reserved block type 3: zlib names it an invalid block type
    val e0 = intercept[IllegalArgumentException](
      Inflate.inflateRaw(Array[Byte](0x07, 0, 0), 0))
    assert(e0.getMessage.contains("invalid block type"), e0.getMessage)
    // LEN/NLEN mismatch in a stored block (level 0 = stored blocks)
    val stored = jdkDeflate("hello world".getBytes("US-ASCII"), 0,
      nowrap = true)
    val badLen = stored.clone()
    badLen(3) = (badLen(3) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](
      Inflate.inflateRaw(badLen, 0))
    assert(e1.getMessage.contains("invalid stored block lengths"),
      e1.getMessage)
    // gzip payload corruption -> CRC32 catches it
    val good = Inflate.fixturePayload(2L)
    var caught = false
    var i = good.length / 2
    while (!caught && i < good.length - 9) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x20).toByte
      try {
        Inflate.gunzipMembers(bad)
        i += 1 // flip landed in slack (e.g. another member's name)
      } catch {
        case e: IllegalArgumentException => caught = true
      }
    }
    assert(caught, "no mid-payload corruption was ever detected")
    // truncation
    intercept[IllegalArgumentException](
      Inflate.gunzipMembers(good.take(good.length - 4)))
    // wrong FHCRC
    val m = Inflate.gzipMember("x".getBytes, name = Some("n"),
      headerCrc = true)
    val badH = m.clone()
    badH(4) = 99 // MTIME byte participates in the header CRC
    val e2 = intercept[IllegalArgumentException](
      Inflate.gunzipMembers(badH))
    assert(e2.getMessage.contains("FHCRC"), e2.getMessage)
  }

  test("decompression-bomb guard: output past the ceiling rejects " +
      "instead of inflating unbounded") {
    // a 1032:1 deflate bomb would OOM the executor through the
    // ByteArrayOutputStream; the emit path must reject at the cap. The
    // cap is parameterized (default 1 GiB) so the guard is provable
    // without emitting a real gibibyte.
    val src = Array.fill[Byte](1000)('A')
    val packed = jdkDeflate(src, 9, nowrap = true)
    val e = intercept[IllegalArgumentException](
      Inflate.inflateRaw(packed, 0, maxOut = 100))
    assert(e.getMessage.contains("ceiling"), e.getMessage)
    // at exactly the output size the stream still decodes
    assert(Inflate.inflateRaw(packed, 0, maxOut = 1000)._1
      .sameElements(src))
  }
}
