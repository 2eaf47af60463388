package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.parquet.format.{BloomFilterHeader, ColumnChunk,
  ColumnIndex, ColumnOrder, FileMetaData, OffsetIndex, PageHeader,
  SchemaElement}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.schema.MessageType
import shaded.parquet.org.apache.thrift.{TBase, TException}
import shaded.parquet.org.apache.thrift.protocol.TCompactProtocol
import shaded.parquet.org.apache.thrift.transport.TIOStreamTransport

/** Parquet metadata reader — the layer this engine's own planning leans
  * on (footer stats drive [[Maintenance]]'s data skipping): the
  * PAR1-framed footer (trailing 4-byte LE length) and the structures
  * behind it — FileMetaData, PageHeader, OffsetIndex, ColumnIndex and
  * BloomFilterHeader — decoded by the generated parquet-format classes
  * parquet-mr itself reads with (`org.apache.parquet.format`).
  *
  * Every decode runs the compact protocol with its string and container
  * limits set to the bytes actually present ([[decode]]), so a declared
  * length larger than its input rejects before anything is allocated.
  * Thrift failures surface as `IllegalArgumentException`s naming the
  * structure (and the file, in [[readTail]]). The `Pq*` case classes are
  * the one adapter over the generated classes' isSet fields: callers
  * never see thrift.
  *
  * At 100 TB this read pattern is the point: per-file pruning decisions
  * come from a few KB of footer per multi-GB file, so a scan planner
  * that understands footers touches no data pages at all.
  *
  * Cross-validated in ParquetFooterSpec against parquet-mr's own footer
  * reader on Spark-written files, and in the s22 oracle against DuckDB
  * re-deriving the same facts from full scans.
  */
object ParquetFooter {

  final case class PqColumn(path: String, physicalType: Int,
      numValues: Long, codec: Int, nullCount: Option[Long],
      minValue: Option[Array[Byte]], maxValue: Option[Array[Byte]],
      dataPageOffset: Long = -1L, dictPageOffset: Option[Long] = None,
      totalCompressedSize: Long = -1L,
      // page-index section locations: (absolute file offset, byte
      // length) of this chunk's OffsetIndex and ColumnIndex structs,
      // absent on pre-index writers
      offsetIndex: Option[(Long, Int)] = None,
      columnIndex: Option[(Long, Int)] = None,
      // split-block bloom filter location; length absent on older
      // writers — the header carries the bitset size either way
      bloomOffset: Option[Long] = None,
      bloomLength: Option[Int] = None)

  /** One row group. `startOffset`/`compressedSize` are its byte span as
    * parquet-mr computes it when it selects row groups for a split by
    * midpoint (the first chunk's first page; the group's
    * total_compressed_size, else the sum of its chunks'), so a split
    * of exactly this span selects exactly this group.
    */
  final case class PqRowGroup(numRows: Long, columns: Seq[PqColumn],
      startOffset: Long = -1L, compressedSize: Long = -1L)

  /** The LogicalType annotation's TIMESTAMP arm: `unit` 0 = MILLIS,
    * 1 = MICROS, 2 = NANOS.
    */
  final case class PqTimestamp(adjustedToUtc: Boolean, unit: Int)

  final case class PqSchemaField(name: String, physicalType: Int,
      numChildren: Int, convertedType: Option[Int] = None,
      hasLogicalType: Boolean = false,
      repetition: Option[Int] = None, // 0 required, 1 optional, 2 repeated
      typeLength: Int = 0, // FIXED_LEN_BYTE_ARRAY width
      scale: Int = 0, precision: Int = 0, // DECIMAL annotation
      timestamp: Option[PqTimestamp] = None)

  /** The footer key-value entry [[ParquetWrite]] writes: its chunk
    * statistics hold the full values, never a truncated prefix. No
    * flag in the format itself promises that of a foreign writer.
    */
  val ExactStatsKey: String = "graft.stats.untruncated"

  /** `messageType` is the same schema as parquet-mr's [[MessageType]],
    * what Spark's schema converter and reader take, converted on first
    * use from the decoded schema elements and column orders.
    * `exactStats`: the file carries [[ExactStatsKey]], so its string
    * min/max statistics are the column's exact extremes and may answer
    * MIN/MAX and TOP-N; a foreign file's are bounds only.
    */
  final case class PqFooter(version: Int, numRows: Long,
      createdBy: Option[String], schema: Seq[PqSchemaField],
      rowGroups: Seq[PqRowGroup], exactStats: Boolean = false)(
      elements: java.util.List[SchemaElement],
      columnOrders: Option[java.util.List[ColumnOrder]]) {
    lazy val messageType: MessageType = {
      // a schema-only footer, converted the way parquet-mr converts one
      val m = new FileMetaData(version, elements, numRows,
        java.util.Collections.emptyList())
      columnOrders.foreach(m.setColumn_orders)
      LibCodec.loud("parquet schema")(new ParquetMetadataConverter()
        .fromParquetMetadata(m).getFileMetaData.getSchema)
    }
  }

  /** Decode one thrift struct from `p[off, off + len)` into `struct`
    * with the compact protocol, its string and container limits set to
    * `len` — no declared length can exceed the bytes present — and
    * return the bytes consumed. Thrift failures become
    * `IllegalArgumentException`s naming `what`.
    */
  private def decode(what: String, struct: TBase[_, _], p: Array[Byte],
      off: Int, len: Int): Int = {
    require(off >= 0 && len >= 0 && off <= p.length - len,
      s"torn parquet: $what outside its ${p.length}-byte buffer")
    val in = new java.io.ByteArrayInputStream(p, off, len)
    try struct.read(new TCompactProtocol(new TIOStreamTransport(in),
      len.toLong, len.toLong))
    catch {
      case e: TException => throw new IllegalArgumentException(
        s"torn parquet: malformed $what: ${e.getMessage}", e)
    }
    len - in.available()
  }

  private def column(cc: ColumnChunk): Option[PqColumn] =
    if (!cc.isSetMeta_data) None
    else {
      val m = cc.getMeta_data
      val st = if (m.isSetStatistics) Some(m.getStatistics) else None
      def loc(set: Boolean, off: Long, len: Int): Option[(Long, Int)] =
        if (set && off >= 0 && len > 0) Some((off, len)) else None
      Some(PqColumn(m.getPath_in_schema.asScala.mkString("."),
        m.getType.getValue, m.getNum_values, m.getCodec.getValue,
        st.filter(_.isSetNull_count).map(_.getNull_count),
        st.filter(_.isSetMin_value).map(_.getMin_value),
        st.filter(_.isSetMax_value).map(_.getMax_value),
        m.getData_page_offset,
        if (m.isSetDictionary_page_offset)
          Some(m.getDictionary_page_offset) else None,
        m.getTotal_compressed_size,
        loc(cc.isSetOffset_index_offset && cc.isSetOffset_index_length,
          cc.getOffset_index_offset, cc.getOffset_index_length),
        loc(cc.isSetColumn_index_offset && cc.isSetColumn_index_length,
          cc.getColumn_index_offset, cc.getColumn_index_length),
        if (m.isSetBloom_filter_offset) Some(m.getBloom_filter_offset)
        else None,
        if (m.isSetBloom_filter_length) Some(m.getBloom_filter_length)
        else None))
    }

  private def schemaField(e: SchemaElement): PqSchemaField = {
    val ts = Option(e.getLogicalType).filter(_.isSetTIMESTAMP)
      .map(_.getTIMESTAMP)
    PqSchemaField(e.getName,
      if (e.isSetType) e.getType.getValue else -1,
      if (e.isSetNum_children) e.getNum_children else 0,
      if (e.isSetConverted_type) Some(e.getConverted_type.getValue)
      else None,
      e.isSetLogicalType,
      if (e.isSetRepetition_type) Some(e.getRepetition_type.getValue)
      else None,
      if (e.isSetType_length) e.getType_length else 0,
      if (e.isSetScale) e.getScale else 0,
      if (e.isSetPrecision) e.getPrecision else 0,
      ts.map { t =>
        val u = t.getUnit
        PqTimestamp(t.isIsAdjustedToUTC,
          if (u.isSetMILLIS) 0 else if (u.isSetMICROS) 1
          else if (u.isSetNANOS) 2 else -1)
      })
  }

  private def footerOf(m: FileMetaData): PqFooter = {
    require(m.getSchemaSize > 0, "torn parquet: footer without a schema")
    val rowGroups = m.getRow_groups.asScala.map { g =>
      val cols = g.getColumns.asScala.flatMap(column).toVector
      PqRowGroup(g.getNum_rows, cols,
        cols.headOption.map(c => math.min(c.dataPageOffset,
          c.dictPageOffset.getOrElse(c.dataPageOffset))).getOrElse(-1L),
        if (g.isSetTotal_compressed_size) g.getTotal_compressed_size
        else cols.map(_.totalCompressedSize).sum)
    }.toVector
    PqFooter(m.getVersion, m.getNum_rows,
      if (m.isSetCreated_by) Some(m.getCreated_by) else None,
      m.getSchema.asScala.map(schemaField).toVector, rowGroups,
      m.isSetKey_value_metadata && m.getKey_value_metadata.asScala
        .exists(kv => kv.getKey == ExactStatsKey && kv.getValue == "true"))(
      m.getSchema,
      if (m.isSetColumn_orders) Some(m.getColumn_orders) else None)
  }

  /** The absolute file byte range holding every page of a column chunk
    * (dictionary first when present): what a reader fetches to decode
    * the chunk.
    */
  def chunkRange(col: PqColumn): (Long, Long) = {
    require(col.dataPageOffset >= 0,
      s"torn parquet: column '${col.path}' missing its data-page offset")
    require(col.totalCompressedSize >= 0,
      s"torn parquet: column '${col.path}' missing its compressed size")
    val start = math.min(col.dataPageOffset,
      col.dictPageOffset.filter(_ > 0).getOrElse(col.dataPageOffset))
    (start, start + col.totalCompressedSize)
  }

  /** The FileMetaData length at `b(at)` (the `len` of the trailing
    * `len | PAR1`), checked against the `size`-byte file.
    */
  private def footerLength(b: Array[Byte], at: Int, size: Long): Int = {
    val metaLen = LibCodec.le32(b, at)
    require(metaLen > 0 && metaLen <= size - 12,
      s"torn parquet: footer length $metaLen")
    metaLen
  }

  private def par1(b: Array[Byte], at: Int): Boolean =
    b(at) == 'P' && b(at + 1) == 'A' && b(at + 2) == 'R' && b(at + 3) == '1'

  /** Parse the footer of a complete parquet file image. */
  def read(p: Array[Byte]): PqFooter = {
    require(p.length >= 12 && par1(p, 0) && par1(p, p.length - 4),
      "not a parquet file (PAR1 framing)")
    val metaLen = footerLength(p, p.length - 8, p.length)
    val m = new FileMetaData()
    decode("FileMetaData", m, p, p.length - 8 - metaLen, metaLen)
    footerOf(m)
  }

  def readFile(path: java.nio.file.Path): PqFooter =
    LibCodec.naming(path)(read(java.nio.file.Files.readAllBytes(path)))

  /** Parse a footer reading ONLY the file tail (footer length from the
    * trailing 8 bytes, then exactly the thrift region) plus the 4-byte
    * leading magic — O(footer) IO, the shape metadata reads must have
    * when files are GBs: [[readFile]]'s whole-file read is for
    * fixture-scale use only. Failures name the file.
    */
  def readTail(path: java.nio.file.Path): PqFooter = LibCodec.naming(path) {
    val ch = java.nio.channels.FileChannel.open(path,
      java.nio.file.StandardOpenOption.READ)
    try {
      val size = ch.size()
      require(size >= 12, "not a parquet file (too short)")
      def readAt(off: Long, n: Int): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(n)
        var pos = off
        while (bb.hasRemaining) {
          val r = ch.read(bb, pos)
          require(r > 0, "torn parquet: short read")
          pos += r
        }
        bb.array()
      }
      val tail8 = readAt(size - 8, 8)
      require(par1(readAt(0, 4), 0) && par1(tail8, 4),
        "not a parquet file (PAR1 framing)")
      val metaLen = footerLength(tail8, 0, size)
      val m = new FileMetaData()
      decode("FileMetaData", m, readAt(size - 8 - metaLen, metaLen), 0,
        metaLen)
      footerOf(m)
    } finally ch.close()
  }

  /** Decode an INT32/INT64 statistics value (parquet physical types 1
    * and 2 are INT32/INT64; stats binaries are little-endian).
    */
  def statLong(physicalType: Int, b: Array[Byte]): Long =
    physicalType match {
      case 1 => // INT32
        require(b.length == 4, s"INT32 stat of ${b.length} bytes")
        ((b(0) & 0xffL)) | ((b(1) & 0xffL) << 8) |
          ((b(2) & 0xffL) << 16) | ((b(3).toLong) << 24)
      case 2 => // INT64
        require(b.length == 8, s"INT64 stat of ${b.length} bytes")
        var v = 0L
        var i = 0
        while (i < 8) { v |= (b(i) & 0xffL) << (8 * i); i += 1 }
        v
      case t => throw new IllegalArgumentException(
        s"statLong on physical type $t (INT32/INT64 only)")
    }

  /** One parsed page header: `pageType` 0 = data v1, 2 = dictionary,
    * 3 = data v2. `headerLen` is the header's own byte length, so the
    * page body starts at `off + headerLen`. V2 fields are -1/false when
    * absent.
    */
  final case class PqPageHeader(pageType: Int, uncompressedSize: Int,
      compressedSize: Int, numValues: Int, encoding: Int,
      defLevelEncoding: Int, repLevelEncoding: Int, numNulls: Int,
      defLevelsByteLength: Int, repLevelsByteLength: Int,
      isCompressed: Boolean, headerLen: Int)

  /** Parse the PageHeader struct at `off` (the page-stream walk lever
    * the data reader uses between pages).
    */
  def readPageHeader(p: Array[Byte], off: Int): PqPageHeader = {
    val h = new PageHeader()
    val len = decode("PageHeader", h, p, off, math.max(p.length - off, 0))
    require(h.getUncompressed_page_size >= 0 &&
      h.getCompressed_page_size >= 0,
      "torn parquet: incomplete page header")
    var numValues = -1
    var encoding = -1
    var defEnc = -1
    var repEnc = -1
    var numNulls = -1
    var defBytes = -1
    var repBytes = -1
    var isCompressed = true
    if (h.isSetData_page_header) {
      val d = h.getData_page_header
      numValues = d.getNum_values
      encoding = d.getEncoding.getValue
      defEnc = d.getDefinition_level_encoding.getValue
      repEnc = d.getRepetition_level_encoding.getValue
    }
    if (h.isSetDictionary_page_header) {
      val d = h.getDictionary_page_header
      numValues = d.getNum_values
      encoding = d.getEncoding.getValue
    }
    if (h.isSetData_page_header_v2) {
      val d = h.getData_page_header_v2
      numValues = d.getNum_values
      numNulls = d.getNum_nulls
      encoding = d.getEncoding.getValue
      defBytes = d.getDefinition_levels_byte_length
      repBytes = d.getRepetition_levels_byte_length
      isCompressed = d.isIs_compressed
    }
    PqPageHeader(h.getType.getValue, h.getUncompressed_page_size,
      h.getCompressed_page_size, numValues, encoding, defEnc, repEnc,
      numNulls, defBytes, repBytes, isCompressed, len)
  }

  /** Check every page of one column chunk before a reader that trusts
    * page headers decodes it. parquet-mr allocates a page's declared
    * `uncompressed_page_size` (and a dictionary's declared entry count)
    * before it decompresses, so each header is decoded here with the
    * bounded thrift reader and each declared size must be what the page
    * body can justify: the body length for uncompressed pages, the
    * snappy preamble, the gzip ISIZE, the zstd frame content size (else
    * the frame's block bound) and LZ4_RAW's 255x ratio, each inside the
    * codec's own worst-case ratio. When `viaIndex`, the chunk's
    * OffsetIndex (which a page-skipping reader seeks by) must name
    * exactly the walked data pages. Reads the headers and a few bytes
    * per body, never a whole page; anything else rejects as an
    * `IllegalArgumentException`. Returns whether a data page is
    * BYTE_STREAM_SPLIT-encoded (which Spark's vectorized reader
    * rejects).
    */
  def checkPages(ch: java.nio.channels.FileChannel, col: PqColumn,
      viaIndex: Boolean): Boolean = {
    val size = ch.size()
    def readAt(off: Long, n: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n)
      var pos = off
      while (bb.hasRemaining) {
        val r = ch.read(bb, pos)
        require(r > 0, "torn parquet: short page read")
        pos += r
      }
      bb.array()
    }
    val (start, end) = chunkRange(col)
    require(start >= 4 && start <= end && end <= size - 8,
      s"torn parquet: column '${col.path}' chunk [$start, $end) lies " +
        s"outside the $size-byte file")
    col.codec match {
      case 0 | 1 | 2 | 6 | 7 => ()
      case 3 => throw new IllegalArgumentException(
        "parquet codec 3 (LZO) unsupported")
      case 4 => throw new IllegalArgumentException(
        "parquet codec 4 (BROTLI) unsupported")
      case 5 => throw new IllegalArgumentException(
        "parquet codec 5 (LZ4 hadoop-framed, deprecated) unsupported — " +
          "writers emit LZ4_RAW (7)")
      case c => throw new IllegalArgumentException(
        s"parquet codec $c unknown")
    }
    val dataPages = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    var byteStreamSplit = false
    var pos = start
    while (pos < end) {
      // grow the header window until the header decodes (4 MiB at most)
      val most = math.min(end - pos, 4L << 20)
      var window = math.min(most, 256L).toInt
      var h: PqPageHeader = null
      while (h == null) {
        try h = readPageHeader(readAt(pos, window), 0)
        catch {
          case _: IllegalArgumentException if window < most =>
            window = math.min(most, window * 4L).toInt
        }
      }
      val body = pos + h.headerLen
      val bodyLen = h.compressedSize.toLong
      require(body + bodyLen <= end,
        s"torn parquet: page at $pos overruns column '${col.path}'")
      val declared = LibCodec.declared("parquet page", h.uncompressedSize)
      // a v2 data page keeps its levels uncompressed ahead of the values
      val levels =
        if (h.pageType != 3) 0L
        else math.max(h.repLevelsByteLength, 0).toLong +
          math.max(h.defLevelsByteLength, 0)
      require(levels <= bodyLen && levels <= declared,
        s"torn parquet: v2 page levels exceed the page at $pos")
      val vOff = body + levels
      val vLen = bodyLen - levels
      val vDeclared = declared - levels
      def justified(ok: Boolean, why: String): Unit =
        require(ok, s"parquet page at $pos declares $declared " +
          s"uncompressed bytes, $why")
      if (col.codec == 0 || (h.pageType == 3 && !h.isCompressed))
        justified(vDeclared == vLen, s"stored body is $vLen")
      else col.codec match {
        case 1 => // snappy: varint preamble = uncompressed length
          val b = readAt(vOff, math.min(vLen, 5L).toInt)
          var n = 0L
          var i = 0
          while (i < b.length && (i == 0 || (b(i - 1) & 0x80) != 0)) {
            n |= (b(i) & 0x7fL) << (7 * i); i += 1
          }
          justified(n == vDeclared && vDeclared <= 22L * vLen,
            s"snappy body says $n in $vLen bytes")
        case 2 => // gzip: ISIZE trailer = uncompressed length mod 2^32
          justified(vLen >= 18, s"gzip body is $vLen bytes")
          val isize = LibCodec.le32(readAt(vOff + vLen - 4, 4), 0) &
            0xffffffffL
          justified(isize == vDeclared && vDeclared <= 1032L * vLen,
            s"gzip ISIZE says $isize in $vLen bytes")
        case 6 => justified(zstdBound(readAt(vOff,
            math.min(vLen, 18L).toInt), vLen, vDeclared),
            s"zstd frame cannot hold that in $vLen bytes")
        case 7 => justified(vDeclared <= 255L * vLen + 16,
            s"LZ4_RAW cannot expand $vLen bytes that far")
      }
      if (h.pageType == 2)
        require(h.numValues >= 0 && h.numValues <= declared,
          s"torn parquet: dictionary page at $pos declares " +
            s"${h.numValues} entries in $declared bytes")
      else {
        dataPages += ((pos, (h.headerLen + bodyLen).toInt))
        byteStreamSplit ||= h.encoding == 9
      }
      pos = body + bodyLen
    }
    for (loc <- col.offsetIndex if viaIndex) {
      val pages = readOffsetIndex(readAt(loc._1, loc._2)).pages
        .map(p => (p.offset, p.compressedSize))
      require(pages == dataPages.toSeq,
        s"torn parquet: column '${col.path}' OffsetIndex disagrees " +
          "with its pages")
    }
    byteStreamSplit
  }

  /** Whether a zstd body whose first bytes are `head` and whose length
    * is `len` can decompress to `declared` bytes: exactly its frame
    * content size when the frame header records one, else at most one
    * full 128 KiB block per three compressed bytes (each block carries
    * a 3-byte header). A frame header that records no size, or bytes
    * that do not start a frame at all (zstd rejects those when it
    * decodes), get the block bound: any body could claim it.
    */
  private def zstdBound(head: Array[Byte], len: Long,
      declared: Long): Boolean = {
    val recorded = head.length >= 6 &&
      LibCodec.le32(head, 0) == 0xFD2FB528 && {
        val fhd = head(4) & 0xff
        val single = (fhd & 0x20) != 0
        val fcsSize = (fhd >>> 6) match {
          case 0 => if (single) 1 else 0
          case 1 => 2
          case 2 => 4
          case _ => 8
        }
        val dictSize = Array(0, 1, 2, 4)(fhd & 3)
        val fcsAt = 5 + (if (single) 0 else 1) + dictSize
        fcsSize > 0 && fcsAt + fcsSize <= head.length && {
          var v = 0L
          var i = 0
          while (i < fcsSize) {
            v |= (head(fcsAt + i) & 0xffL) << (8 * i); i += 1
          }
          (if (fcsSize == 2) v + 256 else v) == declared
        }
      }
    recorded || declared <= (len / 3 + 1) * (128L * 1024)
  }

  /** One page's location per the OffsetIndex: absolute file offset of
    * its header, compressed size (header + body), and the index of its
    * first row WITHIN THE ROW GROUP (parquet-format PageLocation).
    */
  final case class PqPageLocation(offset: Long, compressedSize: Int,
      firstRowIndex: Long)

  /** A chunk's OffsetIndex: one [[PqPageLocation]] per data page in
    * file order.
    */
  final case class PqOffsetIndex(pages: Seq[PqPageLocation])

  /** A chunk's ColumnIndex: per-page null flags, min/max stats (empty
    * binaries on all-null pages) and null counts — the page-grain twin
    * of the footer's row-group Statistics (parquet-format ColumnIndex;
    * `boundaryOrder` 0 = UNORDERED, 1 = ASCENDING, 2 = DESCENDING —
    * advisory for binary-search readers, irrelevant to a reader that
    * tests every page).
    */
  final case class PqColumnIndex(nullPages: Seq[Boolean],
      minValues: Seq[Array[Byte]], maxValues: Seq[Array[Byte]],
      boundaryOrder: Int, nullCounts: Option[Seq[Long]])

  /** Parse one OffsetIndex struct from its recorded byte range
    * (`PqColumn.offsetIndex`).
    */
  def readOffsetIndex(b: Array[Byte]): PqOffsetIndex = {
    val oi = new OffsetIndex()
    decode("OffsetIndex", oi, b, 0, b.length)
    val pages = oi.getPage_locations.asScala.map { l =>
      require(l.getOffset >= 0 && l.getCompressed_page_size > 0 &&
        l.getFirst_row_index >= 0, "torn parquet: incomplete PageLocation")
      PqPageLocation(l.getOffset, l.getCompressed_page_size,
        l.getFirst_row_index)
    }.toVector
    require(pages.nonEmpty, "torn parquet: OffsetIndex without pages")
    PqOffsetIndex(pages)
  }

  /** Parse one ColumnIndex struct from its recorded byte range
    * (`PqColumn.columnIndex`).
    */
  def readColumnIndex(b: Array[Byte]): PqColumnIndex = {
    val ci = new ColumnIndex()
    decode("ColumnIndex", ci, b, 0, b.length)
    def bytes(v: java.nio.ByteBuffer): Array[Byte] = {
      val d = v.duplicate()
      val out = new Array[Byte](d.remaining)
      d.get(out)
      out
    }
    val nullPages = ci.getNull_pages.asScala.map(_.booleanValue).toVector
    val minVs = ci.getMin_values.asScala.map(bytes).toVector
    val maxVs = ci.getMax_values.asScala.map(bytes).toVector
    val nullCounts =
      if (ci.isSetNull_counts)
        Some(ci.getNull_counts.asScala.map(_.longValue).toVector)
      else None
    require(nullPages.nonEmpty && minVs.length == nullPages.length &&
      maxVs.length == nullPages.length,
      "torn parquet: ColumnIndex list lengths disagree")
    require(nullCounts.forall(_.length == nullPages.length),
      "torn parquet: null_counts length disagrees")
    PqColumnIndex(nullPages, minVs, maxVs, ci.getBoundary_order.getValue,
      nullCounts)
  }

  /** Parse the BloomFilterHeader at `off` (parquet BloomFilter.md):
    * returns (header byte length, bitset numBytes) after REQUIRING the
    * only standardized shape — split-block algorithm, XXHASH,
    * uncompressed; anything else rejects loudly and the caller falls
    * back to no-bloom planning.
    */
  def readBloomHeader(p: Array[Byte], off: Int): (Int, Int) = {
    val h = new BloomFilterHeader()
    val len = decode("BloomFilterHeader", h, p, off,
      math.max(p.length - off, 0))
    val numBytes = h.getNumBytes
    require(numBytes > 0 && numBytes % 32 == 0,
      s"torn parquet: bloom bitset of $numBytes bytes")
    require(h.getAlgorithm.isSetBLOCK && h.getHash.isSetXXHASH &&
      h.getCompression.isSetUNCOMPRESSED,
      "parquet bloom filter not the standard split-block/XXHASH/" +
        "uncompressed shape")
    (len, numBytes)
  }

  /** Decode an INT32/INT64/FLOAT/DOUBLE statistics value to Double
    * (parquet physical types 1/2/4/5; stats binaries little-endian).
    */
  def statDouble(physicalType: Int, b: Array[Byte]): Double =
    physicalType match {
      case 1 | 2 => statLong(physicalType, b).toDouble
      case 4 => // FLOAT
        require(b.length == 4, s"FLOAT stat of ${b.length} bytes")
        java.lang.Float.intBitsToFloat(
          (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) |
            (b(3) << 24)).toDouble
      case 5 => // DOUBLE
        require(b.length == 8, s"DOUBLE stat of ${b.length} bytes")
        var v = 0L
        var i = 0
        while (i < 8) { v |= (b(i) & 0xffL) << (8 * i); i += 1 }
        java.lang.Double.longBitsToDouble(v)
      case t => throw new IllegalArgumentException(
        s"statDouble on physical type $t (numeric types only)")
    }
}
