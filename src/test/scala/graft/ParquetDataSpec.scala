package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** Parquet data pages through `graftpq`, whose reader hands the pages
  * to Spark's parquet reader only after checking their headers:
  * Spark-written files under every codec, v2 pages and multi-page
  * chunks with dictionary fallback read row-identically to Spark's own
  * source; torn pages and pages declaring a huge uncompressed size
  * reject loudly, the latter before the reader allocates what they
  * declare.
  */
class ParquetDataSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val cols = Seq("id", "opt", "s", "hi", "d", "f", "b", "i")

  private def writeDf(dir: String, codec: String): Unit = {
    import spark.implicits._
    (0 until 3000).map { k =>
      (k.toLong,
        if (k % 7 == 0) None else Some(k.toLong * 3 - 1000),
        s"cat${k % 5}", // low cardinality → dictionary pages
        s"unique-${k * 2654435761L}", // high cardinality → dict fallback
        k * 0.37 - 55.5,
        (k * 0.11f) - 3.5f,
        k % 3 == 0,
        k * 13 - 7)
    }.toDF("id", "opt", "s", "hi", "d", "f", "b", "i")
      .coalesce(1)
      .write.mode("overwrite").option("compression", codec).parquet(dir)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq
      .map(r => cols.indices.map(i => if (r.isNullAt(i)) null else r.get(i)))
      .sortBy(_.head.asInstanceOf[Long])

  private def compare(dir: String, label: String): Unit = {
    val want = rowsOf(spark.read.parquet(dir))
    val got = rowsOf(spark.read.format("graftpq").load(dir))
    assert(got.size == want.size, s"$label: ${got.size} vs ${want.size}")
    for ((w, g) <- want.zip(got))
      assert(w == g, s"$label row ${w.head}: $w vs $g")
  }

  test("Spark-written files decode row-identically through graftpq " +
      "across every codec") {
    for (codec <- Seq("uncompressed", "snappy", "gzip", "zstd", "lz4_raw")) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-pqdata-$codec").toString
      writeDf(dir, codec)
      compare(dir, codec)
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("writer v2 pages (uncompressed levels, v2 headers) decode " +
      "row-identically") {
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.writer.version")
    hc.set("parquet.writer.version", "v2")
    try {
      for (codec <- Seq("uncompressed", "zstd")) {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-pqdata-v2").toString
        writeDf(dir, codec)
        compare(dir, s"v2-$codec")
        graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
      }
    } finally {
      if (prev == null) hc.unset("parquet.writer.version")
      else hc.set("parquet.writer.version", prev)
    }
  }

  test("multi-page chunks and dictionary fallback under a tiny page " +
      "size decode row-identically") {
    val hc = spark.sparkContext.hadoopConfiguration
    val prevPage = hc.get("parquet.page.size")
    val prevDict = hc.get("parquet.dictionary.page.size")
    hc.set("parquet.page.size", "2048")
    hc.set("parquet.dictionary.page.size", "2048")
    try {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-pqdata-pages").toString
      writeDf(dir, "snappy")
      compare(dir, "tiny-pages")
      // page skipping seeks by the OffsetIndex the page check verifies
      val id = spark.read.format("graftpq").load(dir)
        .filter("id >= 2000 AND id < 2010")
      assert(rowsOf(id) ==
        rowsOf(spark.read.parquet(dir).filter("id >= 2000 AND id < 2010")))
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    } finally {
      if (prevPage == null) hc.unset("parquet.page.size")
      else hc.set("parquet.page.size", prevPage)
      if (prevDict == null) hc.unset("parquet.dictionary.page.size")
      else hc.set("parquet.dictionary.page.size", prevDict)
    }
  }

  test("torn pages reject loudly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pqdata-torn").toString
    writeDf(dir, "zstd")
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val good = java.nio.file.Files.readAllBytes(f.toPath)
    def decodeAll(b: Array[Byte]): Unit = {
      java.nio.file.Files.write(f.toPath, b)
      GraftPqDirect.count(spark.read.format("graftpq").load(dir))
    }
    // truncating the body while keeping the footer intact: the page
    // walk must hit a bounds guard, never an index crash
    val torn = good.take(good.length / 4) ++
      good.takeRight(good.length / 2)
    intercept[Exception] { decodeAll(torn) } match {
      case _: IllegalArgumentException | _: IllegalStateException => ()
      case e => fail(s"quiet crash class: ${e.getClass} ${e.getMessage}")
    }
    // unknown column
    java.nio.file.Files.write(f.toPath, good)
    val e2 = intercept[AnalysisException](
      spark.read.format("graftpq").load(dir).select("nope").collect())
    assert(e2.getMessage.contains("nope"), e2.getMessage)
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
  }

  /** A one-row parquet file: one required INT64 column `v` holding
    * 424242 in one v1 data page whose body `codec` compressed and
    * whose header declares `unc` uncompressed bytes.
    */
  private def oneValueFile(file: java.io.File, codec: Int,
      body: Array[Byte], unc: Int): Unit = {
    import org.apache.parquet.format._
    def thrift(write: java.io.OutputStream => Unit): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      write(out)
      out.toByteArray
    }
    val header = new PageHeader(PageType.DATA_PAGE, unc, body.length)
    header.setData_page_header(
      new DataPageHeader(1, Encoding.PLAIN, Encoding.RLE, Encoding.RLE))
    val chunk = thrift(Util.writePageHeader(header, _)) ++ body
    val meta = new ColumnMetaData(Type.INT64,
      java.util.List.of(Encoding.PLAIN), java.util.List.of("v"),
      CompressionCodec.findByValue(codec), 1L, chunk.length.toLong,
      chunk.length.toLong, 4L)
    val column = new ColumnChunk(4L)
    column.setMeta_data(meta)
    val root = new SchemaElement("m")
    root.setNum_children(1)
    val leaf = new SchemaElement("v")
    leaf.setType(Type.INT64)
    leaf.setRepetition_type(FieldRepetitionType.REQUIRED)
    val footer = thrift(Util.writeFileMetaData(new FileMetaData(1,
      java.util.List.of(root, leaf), 1L, java.util.List.of(
        new RowGroup(java.util.List.of(column), chunk.length.toLong,
          1L))), _))
    val len = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(footer.length)
      .array()
    val magic = "PAR1".getBytes("US-ASCII")
    java.nio.file.Files.write(file.toPath,
      magic ++ chunk ++ footer ++ len ++ magic)
  }

  test("a page header declaring a huge uncompressed size rejects before " +
      "any allocation, on every codec") {
    val value = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(424242L).array()
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(b); gz.close()
      bos.toByteArray
    }
    val bodies = Seq(
      1 -> org.xerial.snappy.Snappy.compress(value),
      2 -> gzip(value),
      6 -> com.github.luben.zstd.Zstd.compress(value, 3),
      7 -> net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
        .compress(value))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pqdata-huge").toFile
    val file = new java.io.File(dir, "part-0.parquet")
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val me = Thread.currentThread.getId
    try for ((codec, body) <- bodies) {
      // the honest header decodes: the hand-built page itself is valid
      oneValueFile(file, codec, body, 8)
      val df = spark.read.format("graftpq").load(file.toString)
      assert(df.collect().toSeq.map(_.getLong(0)) == Seq(424242L),
        s"codec $codec")
      for (huge <- Seq(1 << 30, Int.MaxValue)) {
        oneValueFile(file, codec, body, huge)
        // plan first: only the reader runs in the measured window
        val (parts, factory) = GraftPqDirect.plan(
          spark.read.format("graftpq").load(file.toString))
        val before = threads.getThreadAllocatedBytes(me)
        val e = intercept[IllegalArgumentException](
          parts.foreach(GraftPqDirect.rows(factory, _)))
        val allocated = threads.getThreadAllocatedBytes(me) - before
        assert(allocated < (16L << 20),
          s"codec $codec, declared $huge: allocated $allocated bytes " +
            s"before rejecting (${e.getMessage})")
        assert(e.getMessage.contains(file.getName), e.getMessage)
      }
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }
}
