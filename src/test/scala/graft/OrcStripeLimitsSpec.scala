package graft

import org.apache.orc.OrcProto
import org.scalatest.funsuite.AnyFunSuite

/** Hostile stripe metadata read through `graftorc`. Spark's ORC reader
  * (orc-core) sizes its buffers from the stripe footer without bounds:
  * a dictionary size of 2^30 makes it allocate about 4 GiB on the
  * reading thread before it throws. graftorc checks every requested
  * column's stripe footer with its bounded decoder first
  * (`OrcData.checkStripe`), so such a file rejects with an
  * `IllegalArgumentException` naming the file, having allocated little,
  * while a real dictionary larger than the stripe's row count (a LIST
  * or MAP child's) still reads. The same holds for dictionary lengths
  * that sum past the DICTIONARY_DATA stream, which orc-core would
  * allocate as one array. A type tree whose walk would not end, and a
  * compression block orc-core's writer cannot write, reject at
  * planning.
  */
class OrcStripeLimitsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val threads = java.lang.management.ManagementFactory
    .getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** The bytes of a 5,000-row, one-stripe ORC file Spark writes under
    * `codec`, with a dictionary-encoded string column.
    */
  private def sparkOrc(codec: String): Array[Byte] = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc-limits")
    try {
      (0 until 5000).map(i => (i.toLong, s"key${i % 10}")).toDF("id", "s")
        .coalesce(1).write.mode("overwrite").option("compression", codec)
        .orc(dir.toString)
      val f = dir.toFile.listFiles().filter(_.getName.endsWith(".orc")).head
      java.nio.file.Files.readAllBytes(f.toPath)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir.toFile)
  }

  /** An uncompressed file `f` with its first stripe's footer replaced by
    * `edit`'s, and the file footer and postscript lengths that follow
    * from it; `ft` edits the file footer too.
    */
  private def rewrite(f: Array[Byte],
      edit: OrcProto.StripeFooter => OrcProto.StripeFooter = identity,
      ft: OrcProto.Footer => OrcProto.Footer = identity): Array[Byte] = {
    val psLen = f.last & 0xff
    val post = OrcProto.PostScript.parser()
      .parseFrom(f, f.length - 1 - psLen, psLen)
    val footerAt = f.length - 1 - psLen - post.getFooterLength.toInt
    val footer = OrcProto.Footer.parser()
      .parseFrom(f, footerAt, post.getFooterLength.toInt)
    val stripe = footer.getStripes(0)
    val sfAt = (stripe.getOffset + stripe.getIndexLength +
      stripe.getDataLength).toInt
    val sfLen = stripe.getFooterLength.toInt
    val sf = edit(OrcProto.StripeFooter.parser().parseFrom(f, sfAt, sfLen))
      .toByteArray
    val newFooter = ft(footer.toBuilder
      .setStripes(0, stripe.toBuilder.setFooterLength(sf.length))
      .setContentLength(footer.getContentLength + sf.length - sfLen)
      .build()).toByteArray
    val newPs = post.toBuilder.setFooterLength(newFooter.length).build()
      .toByteArray
    f.take(sfAt) ++ sf ++ f.slice(sfAt + sfLen, footerAt) ++ newFooter ++
      newPs ++ Array(newPs.length.toByte)
  }

  /** The uncompressed one-stripe file `f` with column `col`'s `kind`
    * stream replaced by `bytes`, and the lengths and offsets that follow
    * from it (streams lie in stripe-footer order from the stripe's
    * offset).
    */
  private def replaceStream(f: Array[Byte], col: Int,
      kind: OrcProto.Stream.Kind, bytes: Array[Byte]): Array[Byte] = {
    val psLen = f.last & 0xff
    val post = OrcProto.PostScript.parser()
      .parseFrom(f, f.length - 1 - psLen, psLen)
    val footerAt = f.length - 1 - psLen - post.getFooterLength.toInt
    val footer = OrcProto.Footer.parser()
      .parseFrom(f, footerAt, post.getFooterLength.toInt)
    assert(footer.getStripesCount == 1)
    val stripe = footer.getStripes(0)
    val sfAt = (stripe.getOffset + stripe.getIndexLength +
      stripe.getDataLength).toInt
    val sfLen = stripe.getFooterLength.toInt
    val sf = OrcProto.StripeFooter.parser().parseFrom(f, sfAt, sfLen)
    val k = (0 until sf.getStreamsCount).find { i =>
      sf.getStreams(i).getColumn == col && sf.getStreams(i).getKind == kind
    }.get
    val at = (stripe.getOffset +
      (0 until k).map(sf.getStreams(_).getLength).sum).toInt
    val oldLen = sf.getStreams(k).getLength.toInt
    val delta = bytes.length - oldLen
    val newSf = sf.toBuilder.setStreams(k, sf.getStreams(k).toBuilder
      .setLength(bytes.length)).build().toByteArray
    val newFooter = footer.toBuilder.setStripes(0, stripe.toBuilder
        .setDataLength(stripe.getDataLength + delta)
        .setFooterLength(newSf.length))
      .setContentLength(footer.getContentLength + delta + newSf.length -
        sfLen)
      .build().toByteArray
    val newPs = post.toBuilder.setFooterLength(newFooter.length).build()
      .toByteArray
    f.take(at) ++ bytes ++ f.slice(at + oldLen, sfAt) ++ newSf ++
      f.slice(sfAt + sfLen, footerAt) ++ newFooter ++ newPs ++
      Array(newPs.length.toByte)
  }

  /** `values` as an unsigned RLE v2 integer stream, encoded by
    * orc-core's writer.
    */
  private def rleV2(values: Seq[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.orc.impl.RunLengthIntegerWriterV2(
      new org.apache.orc.impl.OutStream("LENGTH",
        new org.apache.orc.impl.writer.StreamOptions(1 << 18),
        new org.apache.orc.PhysicalWriter.OutputReceiver {
          def output(b: java.nio.ByteBuffer): Unit =
            while (b.hasRemaining) out.write(b.get())
          def suppress(): Unit = ()
        }), false, true)
    values.foreach(w.write)
    w.flush()
    out.toByteArray
  }

  /** `f` with column `col`'s encoding declaring `size` dictionary
    * entries; `ft` edits the file footer too.
    */
  private def dictionaryClaims(f: Array[Byte], col: Int, size: Int,
      ft: OrcProto.Footer => OrcProto.Footer = identity): Array[Byte] =
    rewrite(f, sf => sf.toBuilder.setColumns(col,
      sf.getColumns(col).toBuilder.setDictionarySize(size)).build(), ft)

  /** The first stripe footer of the uncompressed file `f`. */
  private def stripeFooter(f: Array[Byte]): OrcProto.StripeFooter = {
    val psLen = f.last & 0xff
    val post = OrcProto.PostScript.parser()
      .parseFrom(f, f.length - 1 - psLen, psLen)
    val footer = OrcProto.Footer.parser().parseFrom(f,
      f.length - 1 - psLen - post.getFooterLength.toInt,
      post.getFooterLength.toInt)
    val st = footer.getStripes(0)
    OrcProto.StripeFooter.parser().parseFrom(f,
      (st.getOffset + st.getIndexLength + st.getDataLength).toInt,
      st.getFooterLength.toInt)
  }

  /** Runs every planned reader of a graftorc scan over `bytes` on this
    * thread: Right(rows) or Left(the failure), with the bytes this
    * thread allocated while reading (planning excluded).
    */
  private def readThrough(bytes: Array[Byte])
      : (Either[Throwable, Int], Long, java.nio.file.Path) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc-hostile")
    val file = dir.resolve("part-0.orc")
    java.nio.file.Files.write(file, bytes)
    val (parts, factory) = GraftPqDirect.plan(
      spark.read.format("graftorc").load(dir.toString))
    val me = Thread.currentThread.getId
    val before = threads.getThreadAllocatedBytes(me)
    val got =
      try Right(parts.map(GraftPqDirect.rows(factory, _).length).sum)
      catch { case e: Exception => Left(e) }
    (got, threads.getThreadAllocatedBytes(me) - before, file)
  }

  private def rejectsSmall(bytes: Array[Byte], what: String): Unit = {
    val (got, allocated, file) = readThrough(bytes)
    try {
      val e = got match {
        case Left(e: IllegalArgumentException) => e
        case other => fail(s"$what: read gave $other")
      }
      assert(e.getMessage.contains(file.toString), e.getMessage)
      assert(e.getMessage.contains("dictionary"), e.getMessage)
      assert(allocated < (16L << 20),
        s"$what: allocated $allocated bytes before rejecting")
    } finally graft.streaming.WorkDirs.deleteRecursively(
      file.getParent.toFile)
  }

  private lazy val plain = sparkOrc("none")

  /** The type-tree id of `plain`'s dictionary-encoded string column. */
  private val stringCol = 2

  test("the fixture reads through graftorc with its real dictionary") {
    val sf = stripeFooter(plain)
    assert(sf.getColumns(stringCol).getKind ==
      OrcProto.ColumnEncoding.Kind.DICTIONARY_V2)
    assert(sf.getColumns(stringCol).getDictionarySize == 10)
    val (got, _, file) = readThrough(rewrite(plain))
    graft.streaming.WorkDirs.deleteRecursively(file.getParent.toFile)
    assert(got == Right(5000))
  }

  test("a stripe footer declaring a 2^30-entry dictionary rejects " +
      "through graftorc before Spark's reader allocates") {
    rejectsSmall(dictionaryClaims(plain, stringCol, 1 << 30), "2^30")
  }

  test("a stripe footer declaring a 2^31-1-entry dictionary rejects " +
      "through graftorc before Spark's reader allocates") {
    rejectsSmall(dictionaryClaims(plain, stringCol, Int.MaxValue),
      "2^31-1")
  }

  test("a stripe declaring 2^28 rows and a 2^28-entry dictionary " +
      "rejects through graftorc before Spark's reader allocates") {
    val rows = 1L << 28
    rejectsSmall(dictionaryClaims(plain, stringCol, 1 << 28,
      f => f.toBuilder.setNumberOfRows(rows).setStripes(0,
        f.getStripes(0).toBuilder.setNumberOfRows(rows)).build()),
      "2^28 rows")
  }

  test("dictionary LENGTH values summing to about 2^31 bytes reject " +
      "through graftorc before Spark's reader allocates the dictionary") {
    // ten entries of "key0".."key9": a 40-byte DICTIONARY_DATA stream
    def withLengths(len: Long): Array[Byte] = replaceStream(plain,
      stringCol, OrcProto.Stream.Kind.LENGTH, rleV2(Seq.fill(10)(len)))
    val (real, _, file) = readThrough(withLengths(4L))
    graft.streaming.WorkDirs.deleteRecursively(file.getParent.toFile)
    assert(real == Right(5000), "the splice with the real lengths")
    rejectsSmall(withLengths(Int.MaxValue / 10), "2^31 dictionary bytes")
  }

  test("a stripe declaring 2^28 rows at row index stride 1 rejects " +
      "through graftorc before Spark's reader allocates a flag per " +
      "row group") {
    def atStride(stride: Int, rows: Long): Array[Byte] = rewrite(plain,
      ft = f => f.toBuilder.setRowIndexStride(stride).setNumberOfRows(rows)
        .setStripes(0, f.getStripes(0).toBuilder.setNumberOfRows(rows))
        .build())
    // a pushed filter makes orc-core apply a SearchArgument; planning
    // and reading both run on this thread
    def scan(bytes: Array[Byte])
        : (Either[Throwable, Int], Long, java.nio.file.Path) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-orc-groups")
      val file = dir.resolve("part-0.orc")
      java.nio.file.Files.write(file, bytes)
      val me = Thread.currentThread.getId
      val before = threads.getThreadAllocatedBytes(me)
      val got =
        try {
          val (parts, factory) = GraftPqDirect.plan(spark.read
            .format("graftorc").load(dir.toString).filter("id = 5"))
          Right(parts.map(GraftPqDirect.rows(factory, _).length).sum)
        } catch { case e: Exception => Left(e) }
      (got, threads.getThreadAllocatedBytes(me) - before, file)
    }
    val (real, _, f0) = scan(atStride(5000, 5000L))
    graft.streaming.WorkDirs.deleteRecursively(f0.getParent.toFile)
    assert(real == Right(5000), "one 5,000-row group reads")
    val (got, allocated, file) = scan(atStride(1, 1L << 28))
    try {
      val e = got match {
        case Left(e: IllegalArgumentException) => e
        case other => fail(s"read gave $other")
      }
      assert(e.getMessage.contains(file.toString), e.getMessage)
      assert(e.getMessage.contains("row groups"), e.getMessage)
      assert(allocated < (16L << 20),
        s"allocated $allocated bytes before rejecting")
    } finally graft.streaming.WorkDirs.deleteRecursively(
      file.getParent.toFile)
  }

  test("LIST and MAP dictionaries larger than the stripe's row count " +
      "read through graftorc as spark.read.orc reads them") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc-nested")
    try {
      // 100 rows of 1,000 elements each: 10,000 distinct strings per
      // child column, a tenth of its values, so orc-core's writer
      // dictionary-encodes them
      (0 until 100).map { i =>
        val vs = (0 until 1000).map(j => s"v${(i * 1000 + j) % 10000}")
        (i.toLong, vs, vs.map(v => v -> s"w${v.length % 7}").toMap)
      }.toDF("id", "xs", "m").coalesce(1).write.mode("overwrite")
        .option("compression", "none").orc(dir.toString)
      val file = dir.toFile.listFiles().filter(_.getName.endsWith(".orc"))
        .head
      val sf = stripeFooter(java.nio.file.Files.readAllBytes(file.toPath))
      // ids: 0 root, 1 id, 2 xs, 3 xs.element, 4 m, 5 m.key, 6 m.value
      for (child <- Seq(3, 5)) {
        assert(sf.getColumns(child).getKind ==
          OrcProto.ColumnEncoding.Kind.DICTIONARY_V2, s"column $child")
        assert(sf.getColumns(child).getDictionarySize == 10000,
          s"column $child")
      }
      val got = spark.read.format("graftorc").load(dir.toString)
        .orderBy("id").collect().toSeq
      val want = spark.read.orc(dir.toString).orderBy("id").collect().toSeq
      assert(got.length == 100)
      assert(got == want)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir.toFile)
  }

  test("a footer type tree whose root names itself as a child rejects " +
      "by name instead of recursing") {
    val cyclic = rewrite(plain, ft = f => f.toBuilder
      .setTypes(0, f.getTypes(0).toBuilder.setSubtypes(0, 0)).build())
    val dir = java.nio.file.Files.createTempDirectory("graft-orc-cyclic")
    val file = dir.resolve("part-0.orc")
    java.nio.file.Files.write(file, cyclic)
    try {
      val e = intercept[IllegalArgumentException](
        spark.read.format("graftorc").load(dir.toString))
      assert(e.getMessage.contains(file.toString), e.getMessage)
      assert(e.getMessage.contains("type 0"), e.getMessage)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir.toFile)
  }

  test("a postscript declaring a 2^26-byte compression block: the " +
      "allocation Spark's reader makes is recorded") {
    val zstd = sparkOrc("zstd")
    def atBlock(size: Long): Array[Byte] = {
      val psLen = zstd.last & 0xff
      val ps = OrcProto.PostScript.parser()
        .parseFrom(zstd, zstd.length - 1 - psLen, psLen).toBuilder
        .setCompressionBlockSize(size).build().toByteArray
      zstd.take(zstd.length - 1 - psLen) ++ ps ++ Array(ps.length.toByte)
    }
    def allocated(size: Long): Long = {
      val (got, bytes, file) = readThrough(atBlock(size))
      graft.streaming.WorkDirs.deleteRecursively(file.getParent.toFile)
      assert(got == Right(5000), s"block size $size")
      bytes
    }
    // orc-core's writer rejects compression buffers of 2^23 and above
    // (OutStream.assertBufferSizeValid; a chunk header holds 23 bits of
    // length), so OrcMeta.postscript rejects such a declared block
    for (size <- Seq(1L << 23, 1L << 26)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-orc-block")
      val file = dir.resolve("part-0.orc")
      java.nio.file.Files.write(file, atBlock(size))
      try {
        val e = intercept[IllegalArgumentException](GraftPqDirect.plan(
          spark.read.format("graftorc").load(dir.toString)))
        assert(e.getMessage.contains(file.toString), e.getMessage)
        assert(e.getMessage.contains("compression block size"),
          e.getMessage)
      } finally graft.streaming.WorkDirs.deleteRecursively(dir.toFile)
    }
    // orc-core sizes its decompression buffers from the declared value
    val real = allocated(256L << 10)
    val largest = allocated((1L << 23) - 1)
    info(s"allocated ${real >> 10} KiB at the real 256 KiB block size, " +
      s"${largest >> 10} KiB at a declared 2^23-1")
    assert(largest < (1L << 30))
  }
}
