package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{OrcData, OrcMeta, ParquetFooter}

/** Hostile lengths in parquet and ORC metadata: hand-built structures
  * whose declared element counts or byte lengths far exceed the bytes
  * present must reject with an `IllegalArgumentException` before
  * anything of the declared size is allocated. The parquet cases need
  * the compact protocol's string and container limits: parquet-format's
  * unbounded `Util.read*` path sizes a 2×10⁸-entry list from the
  * declared count alone.
  */
class MetadataLimitsSpec extends AnyFunSuite {

  private def varint(v0: Long): Array[Byte] = {
    val b = Array.newBuilder[Byte]
    var v = v0
    while ((v & ~0x7fL) != 0) { b += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
    b += v.toByte
    b.result()
  }

  private def zz(v: Int): Array[Byte] = varint(((v << 1) ^ (v >> 31)) & 0xffffffffL)

  // compact-protocol field header: delta 1, i32 / list / struct
  private def i32(v: Int): Array[Byte] = Array[Byte](0x15) ++ zz(v)
  private val ListField: Byte = 0x19

  private def le32(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(v).array()

  private val par1 = "PAR1".getBytes("US-ASCII")

  /** A parquet image whose FileMetaData is `meta`. */
  private def parquet(meta: Array[Byte]): Array[Byte] =
    par1 ++ meta ++ le32(meta.length) ++ par1

  /** FileMetaData: version, then a schema list of `n` structs. */
  private def footer(n: Long): Array[Byte] =
    i32(1) ++ Array[Byte](ListField, 0xfc.toByte) ++ varint(n)

  /** PageHeader whose data page statistics declare an `n`-byte
    * max_value.
    */
  private def pageHeader(n: Long): Array[Byte] =
    i32(0) ++ i32(8) ++ i32(8) ++ Array[Byte](0x2c) ++ // data_page_header
      i32(1) ++ i32(0) ++ i32(3) ++ i32(3) ++ Array[Byte](0x1c) ++ // stats
      Array[Byte](0x58) ++ varint(n) // max_value binary

  /** ColumnIndex: a null_pages list of `n` booleans. */
  private def columnIndex(n: Long): Array[Byte] =
    Array[Byte](ListField, 0xf1.toByte) ++ varint(n)

  /** OffsetIndex: a page_locations list of `n` structs. */
  private def offsetIndex(n: Long): Array[Byte] =
    Array[Byte](ListField, 0xfc.toByte) ++ varint(n)

  /** An ORC tail (uncompressed) whose Footer declares an `n`-byte
    * types field.
    */
  private def orcTail(n: Long): Array[Byte] = {
    val f = Array[Byte](0x22) ++ varint(n)
    val ps = Array[Byte](0x08) ++ varint(f.length) ++ Array[Byte](0x10, 0) ++
      varint((8000L << 3) | 2) ++ Array[Byte](3) ++ "ORC".getBytes("US-ASCII")
    Array.fill[Byte](16)(0) ++ f ++ ps ++ Array(ps.length.toByte)
  }

  private val threads = java.lang.management.ManagementFactory
    .getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  private def rejectsSmall(what: String)(read: => Any): Unit = {
    val me = Thread.currentThread.getId
    val before = threads.getThreadAllocatedBytes(me)
    val e = intercept[IllegalArgumentException](read)
    val allocated = threads.getThreadAllocatedBytes(me) - before
    assert(allocated < (16L << 20),
      s"$what: allocated $allocated bytes before rejecting (${e.getMessage})")
  }

  private val declared = Seq(200000000L, 1500000000L)

  test("parquet footers, page headers and page indexes declaring huge " +
      "counts reject before allocating") {
    for (n <- declared) {
      rejectsSmall(s"footer of $n schema elements")(
        ParquetFooter.read(parquet(footer(n))))
      rejectsSmall(s"page header with a $n-byte statistic")(
        ParquetFooter.readPageHeader(pageHeader(n), 0))
      rejectsSmall(s"ColumnIndex of $n pages")(
        ParquetFooter.readColumnIndex(columnIndex(n)))
      rejectsSmall(s"OffsetIndex of $n pages")(
        ParquetFooter.readOffsetIndex(offsetIndex(n)))
    }
  }

  test("the footer tail read rejects a huge schema count and names the " +
      "file") {
    val f = java.nio.file.Files.createTempFile("graft-hostile", ".parquet")
    try {
      java.nio.file.Files.write(f, parquet(footer(declared.head)))
      val e = intercept[IllegalArgumentException](ParquetFooter.readTail(f))
      assert(e.getMessage.contains(f.toString), e.getMessage)
      assert(e.getMessage.contains("FileMetaData"), e.getMessage)
    } finally java.nio.file.Files.delete(f)
  }

  test("an ORC footer declaring a 1.5 GB field rejects before allocating") {
    rejectsSmall("OrcMeta footer")(OrcMeta.read(orcTail(1500000000L)))
    rejectsSmall("OrcData footer")(OrcData.readMeta(orcTail(1500000000L)))
    val e = intercept[IllegalArgumentException](
      OrcMeta.read(orcTail(1500000000L)))
    assert(e.getMessage.contains("Footer"), e.getMessage)
  }
}
