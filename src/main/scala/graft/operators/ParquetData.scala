package graft.operators

/** Parquet DATA-PAGE decoding from scratch — the second half of reading
  * the engine's own storage format (the [[ParquetFooter]] footer read
  * is the first): page-stream walking via [[ParquetFooter.readPageHeader]],
  * v1 AND v2 data pages, dictionary pages, the RLE /
  * bit-packed hybrid level-and-index encoding, PLAIN values for
  * BOOLEAN / INT32 / INT64 / FLOAT / DOUBLE / BYTE_ARRAY /
  * FIXED_LEN_BYTE_ARRAY (decimal storage) / INT96 (the legacy 12-byte
  * timestamp, decoded to epoch micros), RLE_DICTIONARY (+ the legacy
  * PLAIN_DICTIONARY id) index streams, BYTE_STREAM_SPLIT byte planes,
  * and the v2 writer's dictionary-fallback family — RLE boolean
  * values, DELTA_BINARY_PACKED ints (block/miniblock geometry, zigzag
  * first/min values, wrap-around Long arithmetic),
  * DELTA_LENGTH_BYTE_ARRAY and front-coded DELTA_BYTE_ARRAY strings —
  * with page decompression through the codec libraries Spark ships,
  * each bounded by the page header's uncompressed size:
  * SNAPPY → [[Snappy]], GZIP → [[Inflate]], ZSTD → [[Zstd]],
  * LZ4_RAW → [[Lz4]]. Definition levels reassemble nulls row-aligned;
  * repetition levels feed [[assembleList]]'s 3-level LIST reassembly
  * (one nesting depth); BROTLI/LZO and the v1 LZ4-hadoop framing
  * reject loudly by name.
  *
  * Formats per the public parquet-format specification
  * (Encodings.md / PageHeader in parquet.thrift). Cross-validated in
  * ParquetDataSpec against Spark's own vectorized reader on
  * Spark-written files across every supported codec, both writer
  * versions, real nulls, dictionary AND plain-fallback value pages,
  * and multi-page chunks.
  *
  * Scale shape: one file image per task (the compressed-shard family's
  * contract — decode is per-file CPU inside mapPartitions, columns
  * decoded independently, rows zipped per row group); at cluster scale
  * a real scan hands each task a row-group byte range, which this
  * walker supports by construction since every chunk decode starts
  * from its own footer-recorded offset.
  */
object ParquetData {

  import ParquetFooter.{PqFooter, PqColumn, PqSchemaField}

  /** Pseudo physical type a CALLER substitutes for 6 (BYTE_ARRAY) when
    * the decoded values must stay raw bytes instead of UTF-8 Strings —
    * DECIMAL-over-BYTE_ARRAY storage, whose unscaled big-endian
    * twos-complement bytes are not valid UTF-8 in general. PLAIN and
    * dictionary pages honor it; the DELTA string encodings reject it
    * loudly (front-coding is defined over strings).
    */
  val RawByteArray: Int = -6

  /** Decompress one page body per the chunk's codec id. The header's
    * uncompressed size is checked against the bomb ceiling, then bounds
    * the library call: a page that inflates to anything else rejects.
    */
  private def decompress(p: Array[Byte], off: Int, len: Int, codec: Int,
      uncompressedSize: Int): Array[Byte] = {
    val n = LibCodec.declared("parquet page", uncompressedSize)
    val out = codec match {
      case 0 => java.util.Arrays.copyOfRange(p, off, off + len)
      case 1 => Snappy.uncompress(p, off, len, n)
      case 2 =>
        Inflate.gunzip(java.util.Arrays.copyOfRange(p, off, off + len), n)
      case 6 => Zstd.decompress(p, off, len, n)
      case 7 => Lz4.decompressBlock(p, off, len, n) // LZ4_RAW: one raw block
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
    require(codec == 0 || out.length == n,
      s"parquet codec $codec page inflated to ${out.length}, header said $n")
    out
  }

  /** Decode `n` values of the RLE / bit-packed hybrid encoding starting
    * at `start`; returns the next read position. Bit-packed groups padded
    * past `n` are consumed but dropped (the spec's multiple-of-8 rule).
    */
  private def readHybrid(b: Array[Byte], start: Int, end: Int,
      bitWidth: Int, out: Array[Int], n: Int): Int = {
    require(bitWidth >= 0 && bitWidth <= 30,
      s"hybrid bit width $bitWidth out of range")
    val byteW = (bitWidth + 7) / 8
    var pos = start
    var k = 0
    while (k < n) {
      var h = 0L
      var shift = 0
      var by = 0
      do {
        require(pos < end, "torn parquet: hybrid run header")
        require(shift <= 35, "torn parquet: runaway hybrid varint")
        by = b(pos) & 0xff
        pos += 1
        h |= (by & 0x7fL) << shift
        shift += 7
      } while ((by & 0x80) != 0)
      if ((h & 1) == 0) { // RLE run: value in ceil(bitWidth/8) LE bytes
        val run = h >>> 1
        require(run > 0 && run <= n - k,
          s"torn parquet: RLE run $run with ${n - k} values left")
        require(pos + byteW <= end, "torn parquet: RLE value")
        var v = 0
        var i = 0
        while (i < byteW) { v |= (b(pos) & 0xff) << (8 * i); pos += 1; i += 1 }
        var i2 = 0L
        while (i2 < run) { out(k) = v; k += 1; i2 += 1 }
      } else { // bit-packed: (h>>1) groups of 8 values, bitWidth bytes each
        val groups = (h >>> 1).toInt
        require(groups > 0, "torn parquet: empty bit-packed header")
        require(pos + groups.toLong * bitWidth <= end,
          "torn parquet: bit-packed groups overrun the region")
        var g = 0
        while (g < groups) {
          var i = 0
          while (i < 8) {
            var v = 0
            var j = 0
            while (j < bitWidth) {
              val bit = i * bitWidth + j
              v |= ((b(pos + (bit >> 3)) >> (bit & 7)) & 1) << j
              j += 1
            }
            if (k < n) { out(k) = v; k += 1 } // trailing pad dropped
            i += 1
          }
          pos += bitWidth
          g += 1
        }
      }
    }
    pos
  }

  // ------------------------------------------------------------------
  // DELTA encodings (parquet-format Encodings.md) — the v2 writer's
  // dictionary-fallback family

  private final class Uleb(b: Array[Byte], var pos: Int, val end: Int) {
    def varint(): Long = {
      var v = 0L
      var shift = 0
      var by = 0
      do {
        require(pos < end, "torn parquet: ULEB128 varint")
        require(shift <= 63, "torn parquet: runaway ULEB128")
        by = b(pos) & 0xff
        pos += 1
        v |= (by & 0x7fL) << shift
        shift += 7
      } while ((by & 0x80) != 0)
      v
    }
    def zigzag(): Long = { val u = varint(); (u >>> 1) ^ -(u & 1L) }
  }

  /** DELTA_BINARY_PACKED (encoding 5): block/miniblock header, zigzag
    * first value and min-deltas, per-miniblock bit widths, LSB-first
    * bit-packed deltas; arithmetic wraps modulo 2^64 per the spec.
    * Returns the decoded values and the next read position.
    */
  private def readDeltaPacked(b: Array[Byte], pos0: Int,
      end: Int): (Array[Long], Int) = {
    val u = new Uleb(b, pos0, end)
    val blockSize = u.varint().toInt
    val numMini = u.varint().toInt
    val total = u.varint().toInt
    require(blockSize > 0 && numMini > 0 && blockSize % numMini == 0 &&
      (blockSize / numMini) % 8 == 0,
      s"torn parquet: delta block geometry $blockSize/$numMini")
    val perMini = blockSize / numMini
    require(total >= 0 && total <= (1 << 28),
      s"torn parquet: delta value count $total")
    val out = new Array[Long](total)
    if (total == 0) {
      // the header still carries a first-value slot
      u.zigzag()
      return (out, u.pos)
    }
    out(0) = u.zigzag()
    var k = 1
    while (k < total) {
      val minDelta = u.zigzag()
      val widths = new Array[Int](numMini)
      var m = 0
      while (m < numMini) {
        require(u.pos < u.end, "torn parquet: delta bit widths")
        widths(m) = b(u.pos) & 0xff
        require(widths(m) <= 64, s"torn parquet: delta width ${widths(m)}")
        u.pos += 1
        m += 1
      }
      m = 0
      while (m < numMini && k < total) {
        val w = widths(m)
        val bytes = perMini * w / 8
        require(u.pos + bytes <= u.end,
          "torn parquet: delta miniblock overruns the page")
        var i = 0
        while (i < perMini && k < total) {
          var d = 0L
          var j = 0
          while (j < w) {
            val bit = i.toLong * w + j
            d |= ((b(u.pos + (bit >> 3).toInt) >> (bit & 7).toInt) & 1L) << j
            j += 1
          }
          out(k) = out(k - 1) + minDelta + d
          k += 1
          i += 1
        }
        u.pos += bytes
        m += 1
      }
    }
    (out, u.pos)
  }

  /** DELTA_LENGTH_BYTE_ARRAY (encoding 6): delta-packed lengths, then
    * the concatenated value bytes.
    */
  private def readDeltaLength(b: Array[Byte], pos0: Int, end: Int,
      n: Int): (Array[Any], Int) = {
    val (lens, p1) = readDeltaPacked(b, pos0, end)
    require(lens.length == n,
      s"torn parquet: ${lens.length} delta lengths for $n values")
    val out = new Array[Any](n)
    var pos = p1
    var i = 0
    while (i < n) {
      val len = lens(i)
      require(len >= 0 && pos + len <= end,
        s"torn parquet: $len-byte delta value overruns the page")
      out(i) = new String(b, pos, len.toInt,
        java.nio.charset.StandardCharsets.UTF_8)
      pos += len.toInt
      i += 1
    }
    (out, pos)
  }

  /** DELTA_BYTE_ARRAY (encoding 7): delta-packed shared-prefix lengths
    * over a DELTA_LENGTH_BYTE_ARRAY suffix stream — incremental
    * front-coding, value i = prefix(previous, prefixLen) + suffix.
    */
  private def readDeltaByteArray(b: Array[Byte], pos0: Int, end: Int,
      n: Int): Array[Any] = {
    val (prefixes, p1) = readDeltaPacked(b, pos0, end)
    require(prefixes.length == n,
      s"torn parquet: ${prefixes.length} prefix lengths for $n values")
    val (suffixes, _) = readDeltaLength(b, p1, end, n)
    val out = new Array[Any](n)
    var prev = ""
    var i = 0
    while (i < n) {
      val pl = prefixes(i)
      require(pl >= 0 && pl <= prev.length,
        s"torn parquet: prefix length $pl exceeds the previous value")
      prev = prev.substring(0, pl.toInt) +
        suffixes(i).asInstanceOf[String]
      out(i) = prev
      i += 1
    }
    out
  }

  /** Decode `n` PLAIN-encoded values of `physicalType` starting at
    * `pos`; BYTE_ARRAY becomes a UTF-8 String (the only shape Spark's
    * flat string columns write), FIXED_LEN_BYTE_ARRAY (decimal storage)
    * stays raw bytes of `typeLength`. Returns (values, next position).
    */
  private def readPlain(b: Array[Byte], pos0: Int, end: Int,
      physicalType: Int, n: Int, typeLength: Int = 0): (Array[Any], Int) = {
    val out = new Array[Any](n)
    var pos = pos0
    physicalType match {
      case 0 => // BOOLEAN: bit-packed LSB-first
        require(pos + (n + 7) / 8 <= end, "torn parquet: boolean values")
        var i = 0
        while (i < n) {
          out(i) = ((b(pos + (i >> 3)) >> (i & 7)) & 1) == 1
          i += 1
        }
        pos += (n + 7) / 8
      case 1 =>
        require(pos + 4L * n <= end, "torn parquet: int32 values")
        var i = 0
        while (i < n) {
          out(i) = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
            ((b(pos + 2) & 0xff) << 16) | (b(pos + 3) << 24)
          pos += 4; i += 1
        }
      case 2 =>
        require(pos + 8L * n <= end, "torn parquet: int64 values")
        var i = 0
        while (i < n) {
          var v = 0L
          var j = 0
          while (j < 8) { v |= (b(pos + j) & 0xffL) << (8 * j); j += 1 }
          out(i) = v
          pos += 8; i += 1
        }
      case 4 =>
        require(pos + 4L * n <= end, "torn parquet: float values")
        var i = 0
        while (i < n) {
          out(i) = java.lang.Float.intBitsToFloat(
            (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
              ((b(pos + 2) & 0xff) << 16) | (b(pos + 3) << 24))
          pos += 4; i += 1
        }
      case 5 =>
        require(pos + 8L * n <= end, "torn parquet: double values")
        var i = 0
        while (i < n) {
          var v = 0L
          var j = 0
          while (j < 8) { v |= (b(pos + j) & 0xffL) << (8 * j); j += 1 }
          out(i) = java.lang.Double.longBitsToDouble(v)
          pos += 8; i += 1
        }
      case 6 | RawByteArray => // BYTE_ARRAY: u32 length + bytes; the
        // UTF-8 String shape for flat string columns, raw Array[Byte]
        // under the [[RawByteArray]] pseudo-type (DECIMAL storage,
        // where a UTF-8 round-trip would corrupt arbitrary bytes)
        var i = 0
        while (i < n) {
          require(pos + 4 <= end, "torn parquet: byte-array length")
          val len = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
            ((b(pos + 2) & 0xff) << 16) | (b(pos + 3) << 24)
          pos += 4
          require(len >= 0 && pos + len <= end,
            s"torn parquet: $len-byte value overruns the page")
          out(i) =
            if (physicalType == RawByteArray)
              java.util.Arrays.copyOfRange(b, pos, pos + len)
            else new String(b, pos, len,
              java.nio.charset.StandardCharsets.UTF_8)
          pos += len; i += 1
        }
      case 7 => // FIXED_LEN_BYTE_ARRAY: typeLength raw bytes per value
        require(typeLength > 0 && typeLength <= (1 << 20),
          s"parquet FIXED_LEN_BYTE_ARRAY needs a type_length ($typeLength)")
        require(pos + typeLength.toLong * n <= end,
          "torn parquet: fixed-length values")
        var i = 0
        while (i < n) {
          out(i) = java.util.Arrays.copyOfRange(b, pos, pos + typeLength)
          pos += typeLength; i += 1
        }
      case 3 => // INT96: the legacy 12-byte timestamp every pre-2.3-era
        // warehouse file carries — 8-byte LE nanos-of-day then 4-byte LE
        // Julian day; decoded straight to epoch MICROS (the modern
        // in-memory shape), day 2440588 = 1970-01-01
        require(pos + 12L * n <= end, "torn parquet: int96 values")
        var i = 0
        while (i < n) {
          var nanos = 0L
          var j = 0
          while (j < 8) { nanos |= (b(pos + j) & 0xffL) << (8 * j); j += 1 }
          val day = (b(pos + 8) & 0xff) | ((b(pos + 9) & 0xff) << 8) |
            ((b(pos + 10) & 0xff) << 16) | (b(pos + 11) << 24)
          require(nanos >= 0 && nanos < 86400000000000L,
            s"torn parquet: int96 nanos-of-day $nanos")
          out(i) = (day.toLong - 2440588L) * 86400000000L + nanos / 1000
          pos += 12; i += 1
        }
      case t => throw new IllegalArgumentException(
        s"parquet physical type $t unknown")
    }
    (out, pos)
  }

  private def bitsFor(max: Int): Int =
    32 - Integer.numberOfLeadingZeros(max)

  /** The absolute file byte range holding every page of a column chunk
    * (dictionary first when present): the range a scan task must fetch
    * to decode the chunk without touching the rest of the file.
    */
  def chunkRange(col: PqColumn): (Long, Long) = {
    require(col.dataPageOffset >= 0,
      s"torn parquet: column '${col.path}' missing its data-page offset")
    require(col.totalCompressedSize >= 0,
      s"torn parquet: column '${col.path}' missing its compressed size")
    val start = math.min(col.dataPageOffset,
      col.dictPageOffset.getOrElse(col.dataPageOffset))
    (start, start + col.totalCompressedSize)
  }

  /** Raw decoded streams of one chunk: definition levels, repetition
    * levels (all zero when `maxRep` = 0) and the dense non-null value
    * stream — the Dremel record-shredding triplet assembly works from.
    */
  final case class ChunkLevels(defs: Array[Int], reps: Array[Int],
      vals: Array[Any])

  /** Decode one column chunk (all pages) into its level + value
    * streams. `totalValues` is the chunk's footer-recorded value count
    * (= row count for a flat column, ≥ it for repeated ones). `file`
    * holds the chunk's bytes starting at absolute file offset `base`
    * (0 = a whole-file image) — the lever that lets a scan task fetch
    * ONLY its row group's byte range.
    *
    * `rowRanges` restricts the decode to the surviving page-index row
    * spans — alternating group-relative `[start, end)` pairs, sorted
    * and disjoint. Pages wholly outside every range are SKIPPED
    * BODILY (header walk only: no decompression, no value decode —
    * the page-index payoff); boundary pages decode fully and emit
    * only their surviving rows. The returned streams hold exactly the
    * surviving rows, in order. FLAT columns (maxRep = 0) row-align
    * from page headers alone (one level entry per row); REPEATED
    * columns additionally need `pageFirstRows` — the chunk's
    * OffsetIndex first_row_index fences, whose presence also
    * guarantees pages are record-aligned — to know each page's row
    * span and each entry's row (rep = 0 starts a row).
    */
  def readChunkLevels(file: Array[Byte], col: PqColumn, maxDef: Int,
      maxRep: Int, physicalType: Int, typeLength: Int,
      totalValues: Int, base: Long = 0L,
      rowRanges: Array[Long] = null,
      pageFirstRows: Array[Long] = null): ChunkLevels = {
    require(totalValues >= 0 && totalValues <= (1 << 28),
      s"torn parquet: chunk value count $totalValues")
    require(maxDef >= 0 && maxDef <= 7 && maxRep >= 0 && maxRep <= 7,
      s"parquet nesting too deep (maxDef=$maxDef maxRep=$maxRep)")
    require(rowRanges == null || maxRep == 0 || pageFirstRows != null,
      "page-pruned decode of a repeated column needs OffsetIndex " +
        "fences (see scaladoc)")
    val repPruned = rowRanges != null && maxRep > 0
    val survCount =
      if (rowRanges == null) totalValues
      else {
        var s = 0L
        var i = 0
        while (i < rowRanges.length) {
          require(rowRanges(i) >= 0 && rowRanges(i + 1) > rowRanges(i) &&
            (repPruned || rowRanges(i + 1) <= totalValues) &&
            (i == 0 || rowRanges(i) >= rowRanges(i - 1)),
            "torn page-index ranges (must be sorted disjoint in-bounds)")
          s += rowRanges(i + 1) - rowRanges(i)
          i += 2
        }
        require(s <= Int.MaxValue, s"page-index ranges cover $s rows")
        s.toInt
      }
    val start = chunkRange(col)._1 - base
    require(start >= 0 && start <= Int.MaxValue,
      s"torn parquet: chunk start $start outside the provided buffer")
    var pos = start.toInt
    var dict: Array[Any] = null
    // flat paths write fixed arrays (size known up front); the
    // repeated-pruned path buffers (entry counts per row vary)
    val defs = if (repPruned) null else new Array[Int](survCount)
    val reps = if (repPruned) null else new Array[Int](survCount)
    val defsB = if (repPruned)
      new scala.collection.mutable.ArrayBuffer[Int]() else null
    val repsB = if (repPruned)
      new scala.collection.mutable.ArrayBuffer[Int]() else null
    val vb = new scala.collection.mutable.ArrayBuffer[Any](
      if (repPruned) 16 else survCount)
    var outN = 0 // rows emitted so far (= done when rowRanges == null)
    var ri = 0 // cursor into rowRanges (sorted, so forward-only)
    var done = 0
    var dataPage = 0 // index into pageFirstRows (data pages only)
    /** The current data page's row span (repeated: OffsetIndex
      * fences, the last page running open-ended; flat: one entry per
      * row from `done`).
      */
    def pageRowSpan(n: Int): (Long, Long) =
      if (maxRep == 0) (done.toLong, done.toLong + n)
      else {
        require(dataPage < pageFirstRows.length,
          "torn parquet: more data pages than OffsetIndex entries")
        (pageFirstRows(dataPage),
          if (dataPage + 1 < pageFirstRows.length)
            pageFirstRows(dataPage + 1)
          else Long.MaxValue)
      }
    /** Does the next page's row span touch any surviving range? */
    def pageOverlaps(n: Int): Boolean = {
      if (rowRanges == null) true
      else {
        val (s, e) = pageRowSpan(n)
        while (ri < rowRanges.length && rowRanges(ri + 1) <= s) ri += 2
        ri < rowRanges.length && rowRanges(ri) < e
      }
    }
    /** Append one decoded page's rows (all of them, or only the rows
      * the ranges keep — `pv` is the page's dense non-null values).
      */
    def emitPage(n: Int, pageDefs: Array[Int], pageReps: Array[Int],
        pv: Array[Any]): Unit = {
      if (rowRanges == null) {
        System.arraycopy(pageDefs, 0, defs, outN, n)
        System.arraycopy(pageReps, 0, reps, outN, n)
        outN += n
        vb ++= pv
      } else if (maxRep == 0) {
        var rj = ri // local cursor (ri only advances in pageOverlaps)
        var v = 0
        var i = 0
        while (i < n) {
          val row = done + i
          while (rj < rowRanges.length && rowRanges(rj + 1) <= row) rj += 2
          val keep = rj < rowRanges.length && row >= rowRanges(rj)
          val isVal = pageDefs(i) == maxDef
          if (keep) {
            defs(outN) = pageDefs(i)
            reps(outN) = pageReps(i)
            outN += 1
            if (isVal) vb += pv(v)
          }
          if (isVal) v += 1
          i += 1
        }
      } else { // repeated: rows advance on rep == 0 from the fence
        require(n == 0 || pageReps(0) == 0,
          "torn parquet: OffsetIndex-fenced page splits a record")
        var row = pageFirstRows(dataPage) - 1
        var rj = ri
        var v = 0
        var i = 0
        while (i < n) {
          if (pageReps(i) == 0) row += 1
          while (rj < rowRanges.length && rowRanges(rj + 1) <= row) rj += 2
          val keep = rj < rowRanges.length && row >= rowRanges(rj)
          val isVal = pageDefs(i) == maxDef
          if (keep) {
            defsB += pageDefs(i)
            repsB += pageReps(i)
            if (isVal) vb += pv(v)
          }
          if (isVal) v += 1
          i += 1
        }
      }
    }
    while (done < totalValues) {
      val h = ParquetFooter.readPageHeader(file, pos)
      val bodyOff = pos + h.headerLen
      require(h.compressedSize >= 0 &&
        bodyOff + h.compressedSize <= file.length,
        "torn parquet: page body overruns the file")
      require(h.numValues >= 0 && (h.pageType == 2 ||
        h.numValues <= totalValues - done),
        s"torn parquet: page claims ${h.numValues} values with " +
          s"${totalValues - done} left in the chunk")
      require(h.uncompressedSize >= 0 && h.uncompressedSize <= (1 << 30),
        s"torn parquet: page claims ${h.uncompressedSize} bytes")
      pos = bodyOff + h.compressedSize
      h.pageType match {
        case 2 => // dictionary page: PLAIN values
          require(h.encoding == 0 || h.encoding == 2,
            s"dictionary page encoding ${h.encoding} unsupported")
          require(h.numValues <= (1 << 26),
            s"torn parquet: dictionary claims ${h.numValues} entries")
          val data = decompress(file, bodyOff, h.compressedSize,
            col.codec, h.uncompressedSize)
          dict = readPlain(data, 0, data.length, physicalType,
            h.numValues, typeLength)._1
        case 0 if !pageOverlaps(h.numValues) => // page-index skip: the
          // whole page is outside every surviving row range — walk past
          // its body untouched (no decompress, no decode)
          done += h.numValues
          dataPage += 1
        case 0 => // data page v1: [rep levels][def levels][values], one
          // compressed body; each level stream is 4-byte-length-prefixed
          val data = decompress(file, bodyOff, h.compressedSize,
            col.codec, h.uncompressedSize)
          var d = 0
          def levelRegion(width: Int, out: Array[Int]): Unit = {
            require(d + 4 <= data.length, "torn parquet: level length")
            val levLen = (data(d) & 0xff) | ((data(d + 1) & 0xff) << 8) |
              ((data(d + 2) & 0xff) << 16) | (data(d + 3) << 24)
            d += 4
            require(levLen >= 0 && d + levLen <= data.length,
              "torn parquet: levels overrun the page")
            val page = new Array[Int](h.numValues)
            readHybrid(data, d, d + levLen, width, page, h.numValues)
            System.arraycopy(page, 0, out, 0, h.numValues)
            d += levLen
          }
          val pageDefs = new Array[Int](h.numValues)
          val pageReps = new Array[Int](h.numValues)
          if (maxRep > 0) {
            require(h.repLevelEncoding == 3,
              s"repetition-level encoding ${h.repLevelEncoding} " +
                "unsupported (RLE only)")
            levelRegion(bitsFor(maxRep), pageReps)
          }
          if (maxDef > 0) {
            require(h.defLevelEncoding == 3,
              s"definition-level encoding ${h.defLevelEncoding} " +
                "unsupported (RLE only)")
            levelRegion(bitsFor(maxDef), pageDefs)
          }
          emitPage(h.numValues, pageDefs, pageReps,
            decodeValues(data, d, data.length, h.encoding,
              physicalType, typeLength, countAt(pageDefs, h.numValues,
                maxDef), dict))
          done += h.numValues
          dataPage += 1
        case 3 if !pageOverlaps(h.numValues) => // page-index skip (v2)
          done += h.numValues
          dataPage += 1
        case 3 => // data page v2: levels uncompressed, values maybe
          val pageDefs = new Array[Int](h.numValues)
          val pageReps = new Array[Int](h.numValues)
          require(h.repLevelsByteLength >= 0 &&
            h.defLevelsByteLength >= 0 &&
            bodyOff + h.repLevelsByteLength + h.defLevelsByteLength
              <= file.length, "torn parquet: v2 level region")
          if (maxRep > 0)
            readHybrid(file, bodyOff, bodyOff + h.repLevelsByteLength,
              bitsFor(maxRep), pageReps, h.numValues)
          else require(h.repLevelsByteLength == 0,
            "torn parquet: v2 repetition levels on a flat column")
          val defOff = bodyOff + h.repLevelsByteLength
          if (maxDef > 0)
            readHybrid(file, defOff, defOff + h.defLevelsByteLength,
              bitsFor(maxDef), pageDefs, h.numValues)
          else require(h.defLevelsByteLength == 0,
            "torn parquet: v2 levels on a required column")
          val levLen = h.repLevelsByteLength + h.defLevelsByteLength
          val valOff = bodyOff + levLen
          val valLen = h.compressedSize - levLen
          val data =
            if (h.isCompressed) decompress(file, valOff, valLen,
              col.codec, h.uncompressedSize - levLen)
            else java.util.Arrays.copyOfRange(file, valOff,
              valOff + valLen)
          emitPage(h.numValues, pageDefs, pageReps,
            decodeValues(data, 0, data.length, h.encoding,
              physicalType, typeLength, countAt(pageDefs, h.numValues,
                maxDef), dict))
          done += h.numValues
          dataPage += 1
        case t => throw new IllegalArgumentException(
          s"parquet page type $t unsupported")
      }
    }
    if (repPruned)
      // entry counts per surviving row vary: the assembler's own
      // row-count checks validate coverage instead of outN
      ChunkLevels(defsB.toArray, repsB.toArray, vb.toArray)
    else {
      require(outN == survCount,
        s"torn parquet: pages yielded $outN of $survCount surviving rows")
      ChunkLevels(defs, reps, vb.toArray)
    }
  }

  private def countAt(defs: Array[Int], n: Int, maxDef: Int): Int = {
    var c = 0
    var i = 0
    while (i < n) { if (defs(i) == maxDef) c += 1; i += 1 }
    c
  }

  /** Decode one column chunk (all pages) into row-aligned values with
    * nulls — the flat-leaf fast path over [[readChunkLevels]]. `leaf`
    * supplies the repetition contract; `rgRows` is the row group's row
    * count (= the chunk's value count for a flat column).
    */
  def readChunk(file: Array[Byte], col: PqColumn,
      leaf: PqSchemaField, rgRows: Int, base: Long = 0L): Array[Any] = {
    require(!col.path.contains('.'),
      s"nested column '${col.path}' needs readChunkLevels (flat reader)")
    val maxDef = leaf.repetition match {
      case Some(0) => 0
      case Some(1) | None => 1 // optional; absent field defaults optional
      case Some(r) => throw new IllegalArgumentException(
        s"repeated column '${col.path}' unsupported (repetition $r)")
    }
    require(rgRows >= 0 && rgRows <= (1 << 28),
      s"torn parquet: row-group row count $rgRows")
    val lv = readChunkLevels(file, col, maxDef, 0, leaf.physicalType,
      leaf.typeLength, rgRows, base)
    val out = new Array[Any](rgRows)
    var v = 0
    var i = 0
    while (i < rgRows) {
      if (lv.defs(i) == maxDef) { out(i) = lv.vals(v); v += 1 }
      i += 1
    }
    out
  }

  /** Decode one data page's dense value stream (`nonNull` values). */
  private def decodeValues(data: Array[Byte], valOff: Int,
      valEnd: Int, encoding: Int, physicalType: Int, typeLength: Int,
      nonNull: Int, dict: Array[Any]): Array[Any] = {
    encoding match {
      case 0 => readPlain(data, valOff, valEnd, physicalType, nonNull,
        typeLength)._1
      case 2 | 8 => // PLAIN_DICTIONARY (legacy id) / RLE_DICTIONARY
        require(dict != null,
          "torn parquet: dictionary-encoded page before any dictionary")
        require(valOff < valEnd, "torn parquet: missing index bit width")
        val bw = data(valOff) & 0xff
        require(bw <= 30, s"torn parquet: index bit width $bw")
        val idx = new Array[Int](nonNull)
        readHybrid(data, valOff + 1, valEnd, bw, idx, nonNull)
        val a = new Array[Any](nonNull)
        var k = 0
        while (k < nonNull) {
          require(idx(k) < dict.length,
            s"torn parquet: dictionary index ${idx(k)} of ${dict.length}")
          a(k) = dict(idx(k)); k += 1
        }
        a
      case 3 => // RLE values: the v2 writer's boolean encoding
        require(physicalType == 0,
          s"RLE value encoding on physical type $physicalType")
        require(valOff + 4 <= valEnd, "torn parquet: RLE value length")
        val len = (data(valOff) & 0xff) | ((data(valOff + 1) & 0xff) << 8) |
          ((data(valOff + 2) & 0xff) << 16) | (data(valOff + 3) << 24)
        require(len >= 0 && valOff + 4 + len <= valEnd,
          "torn parquet: RLE values overrun the page")
        val bits = new Array[Int](nonNull)
        readHybrid(data, valOff + 4, valOff + 4 + len, 1, bits, nonNull)
        bits.map(v => (v == 1): Any)
      case 5 => // DELTA_BINARY_PACKED: v2 int fallback
        require(physicalType == 1 || physicalType == 2,
          s"DELTA_BINARY_PACKED on physical type $physicalType")
        val (longs, _) = readDeltaPacked(data, valOff, valEnd)
        require(longs.length == nonNull,
          s"torn parquet: ${longs.length} delta values for $nonNull")
        if (physicalType == 1) longs.map(v => v.toInt: Any)
        else longs.map(v => v: Any)
      case 6 => // DELTA_LENGTH_BYTE_ARRAY
        require(physicalType == 6,
          s"DELTA_LENGTH_BYTE_ARRAY on physical type $physicalType" +
            (if (physicalType == RawByteArray)
              " (raw-binary DECIMAL columns decode PLAIN/dictionary only)"
            else ""))
        readDeltaLength(data, valOff, valEnd, nonNull)._1
      case 7 => // DELTA_BYTE_ARRAY: v2 string fallback (front coding)
        require(physicalType == 6,
          s"DELTA_BYTE_ARRAY on physical type $physicalType" +
            (if (physicalType == RawByteArray)
              " (raw-binary DECIMAL columns decode PLAIN/dictionary only)"
            else ""))
        readDeltaByteArray(data, valOff, valEnd, nonNull)
      case 9 => // BYTE_STREAM_SPLIT: k byte planes of n values each
        // (plane j holds byte j of every value) — transpose, then
        // reinterpret per the physical type (Encodings.md §BSS)
        val k = physicalType match {
          case 1 | 4 => 4
          case 2 | 5 => 8
          case 7 => typeLength
          case t => throw new IllegalArgumentException(
            s"BYTE_STREAM_SPLIT on physical type $t")
        }
        require(k > 0 && valOff + k.toLong * nonNull <= valEnd,
          "torn parquet: byte-stream-split planes overrun the page")
        val joined = new Array[Byte](k * nonNull)
        var i = 0
        while (i < nonNull) {
          var j = 0
          while (j < k) {
            joined(i * k + j) = data(valOff + j * nonNull + i)
            j += 1
          }
          i += 1
        }
        readPlain(joined, 0, joined.length, physicalType, nonNull,
          typeLength)._1
      case e => throw new IllegalArgumentException(
        s"parquet value encoding $e unsupported")
    }
  }

  /** Reassemble a one-level LIST column (the 3-level
    * `optional group (LIST) { repeated group list { <element> } }`
    * shape, LogicalTypes.md) from its level streams: one value per row
    * — null (def 0 on an optional list), an empty Seq (def =
    * listDef − 1... i.e. the repeated group absent), or a Seq of
    * elements with nulls where def < maxDef. `elemDef` is maxDef (an
    * element is present at exactly maxDef), `rowCount` the row group's
    * rows; rep 0 starts a new row, rep 1 appends to the current list.
    */
  def assembleList(lv: ChunkLevels, rowCount: Int, maxDef: Int,
      emptyDef: Int, nullDef: Int): Array[Any] = {
    val out = new Array[Any](rowCount)
    var row = -1
    var cur: scala.collection.mutable.ArrayBuffer[Any] = null
    var v = 0
    var i = 0
    while (i < lv.defs.length) {
      val d = lv.defs(i)
      val r = lv.reps(i)
      if (r == 0) { // new row
        row += 1
        require(row < rowCount, "torn parquet: list rows overrun the group")
        if (d <= nullDef) { out(row) = null; cur = null }
        else if (d == emptyDef) {
          out(row) = Seq.empty[Any]; cur = null
        } else {
          cur = new scala.collection.mutable.ArrayBuffer[Any]
          out(row) = cur
          cur += (if (d == maxDef) { val x = lv.vals(v); v += 1; x }
            else null)
        }
      } else {
        require(cur != null, "torn parquet: continuation with no open list")
        cur += (if (d == maxDef) { val x = lv.vals(v); v += 1; x }
          else null)
      }
      i += 1
    }
    require(row == rowCount - 1,
      s"torn parquet: list column assembled ${row + 1} of $rowCount rows")
    var k = 0
    while (k < rowCount) {
      out(k) = out(k) match {
        case b: scala.collection.mutable.ArrayBuffer[_] => b.toSeq
        case x => x
      }
      k += 1
    }
    out
  }

  /** [[assembleList]] ALSO yielding each element's definition level in
    * a parallel per-row Seq (null list → null, empty → empty Seq) —
    * what a caller zipping several leaves of ONE repeated group needs:
    * for a list-of-struct, an element's def distinguishes "struct null
    * at this slot" (def < the struct's present level) from "struct
    * present, this leaf's field null" (def between present level and
    * the leaf max), which the value array alone cannot.
    */
  def assembleListLevels(lv: ChunkLevels, rowCount: Int, maxDef: Int,
      emptyDef: Int, nullDef: Int): (Array[Any], Array[Seq[Int]]) = {
    val vals = new Array[Any](rowCount)
    val defs = new Array[Seq[Int]](rowCount)
    val valBufs = new Array[scala.collection.mutable.ArrayBuffer[Any]](
      rowCount)
    val defBufs = new Array[scala.collection.mutable.ArrayBuffer[Int]](
      rowCount)
    var row = -1
    var v = 0
    var i = 0
    while (i < lv.defs.length) {
      val d = lv.defs(i)
      val r = lv.reps(i)
      if (r == 0) { // new row
        row += 1
        require(row < rowCount, "torn parquet: list rows overrun the group")
        if (d <= nullDef) () // null row: arrays stay null
        else {
          valBufs(row) = new scala.collection.mutable.ArrayBuffer[Any]
          defBufs(row) = new scala.collection.mutable.ArrayBuffer[Int]
          if (d != emptyDef) {
            valBufs(row) += (if (d == maxDef) {
              val x = lv.vals(v); v += 1; x
            } else null)
            defBufs(row) += d
          }
        }
      } else {
        require(row >= 0 && valBufs(row) != null,
          "torn parquet: continuation with no open list")
        valBufs(row) += (if (d == maxDef) {
          val x = lv.vals(v); v += 1; x
        } else null)
        defBufs(row) += d
      }
      i += 1
    }
    require(row == rowCount - 1,
      s"torn parquet: list column assembled ${row + 1} of $rowCount rows")
    var k = 0
    while (k < rowCount) {
      if (valBufs(k) != null) {
        vals(k) = valBufs(k).toSeq
        defs(k) = defBufs(k).toSeq
      }
      k += 1
    }
    (vals, defs)
  }

  /** One parsed slot of a leaf's nested structure: `defLevel` is the
    * entry's definition level (what a consumer compares against its
    * node thresholds to tell null / empty / present apart), `elems`
    * the open list's element slots (null on terminal slots — a leaf
    * value, a null/empty list, or a null ancestor), `value` the leaf
    * value when `defLevel` hits the leaf's max.
    */
  final class DSlot(val defLevel: Int,
      val elems: scala.collection.mutable.ArrayBuffer[DSlot],
      val value: Any)

  /** Parse ONE leaf's level streams into per-row nested slots — the
    * depth-generalized [[assembleListLevels]]: `contentDefs(i)` is the
    * minimum definition level at which the (i+1)-th repeated ancestor
    * holds an element (its empty-def + 1), so an entry descends one
    * [[DSlot]] list level per threshold it clears and terminates at
    * the first it doesn't (the terminal's def level later tells the
    * assembler WHICH ancestor was null or empty). Repetition level r
    * continues the r-th open list and restarts everything deeper;
    * structs on the path contribute def levels but no nesting. This is
    * the Dremel record-assembly half for arbitrarily nested schemas —
    * a sibling-zipping assembler aligns several leaves' parses by
    * their shared list skeleton.
    */
  def parseNested(lv: ChunkLevels, rowCount: Int, contentDefs: Array[Int],
      maxDef: Int): Array[DSlot] = {
    val depth = contentDefs.length
    val out = new Array[DSlot](rowCount)
    val stack = new Array[DSlot](depth) // open list per repeated level
    var row = -1
    var v = 0
    var i = 0
    while (i < lv.defs.length) {
      val d = lv.defs(i)
      val r = lv.reps(i)
      require(r >= 0 && r <= depth, s"torn parquet: rep $r at depth $depth")
      var attach: DSlot = null // open list to append into (null = top)
      if (r == 0) {
        row += 1
        require(row < rowCount,
          "torn parquet: nested rows overrun the group")
      } else {
        attach = stack(r - 1)
        require(attach != null,
          "torn parquet: continuation with no open list")
      }
      var l = r + 1 // first level this entry (re)builds
      var open = true
      while (open) {
        val slot =
          if (l <= depth && d >= contentDefs(l - 1)) {
            // list level l holds an element: open it and descend
            val dl = new DSlot(d,
              new scala.collection.mutable.ArrayBuffer[DSlot], null)
            stack(l - 1) = dl
            dl
          } else if (l <= depth) {
            open = false // terminal: null/empty resolved by defLevel
            new DSlot(d, null, null)
          } else {
            open = false // leaf position
            new DSlot(d, null,
              if (d == maxDef) { val x = lv.vals(v); v += 1; x }
              else null)
          }
        if (attach == null) out(row) = slot else attach.elems += slot
        attach = slot
        l += 1
      }
      // levels below the termination point are no longer open: clear
      // them so a torn file's stray continuation rejects loudly
      // instead of appending into a previous element's list
      var j = l - 2
      while (j < depth) { if (j >= 0) stack(j) = null; j += 1 }
      i += 1
    }
    require(row == rowCount - 1,
      s"torn parquet: nested column assembled ${row + 1} of $rowCount " +
        "rows")
    out
  }

  /** Row iterator over the named flat leaf columns of a complete
    * parquet file image — footer-driven, every page decoded by this
    * module, nulls row-aligned. Column order in each row matches
    * `paths`.
    */
  def readRows(file: Array[Byte], paths: Seq[String])
      : Iterator[Array[Any]] = {
    val footer = ParquetFooter.read(file)
    val leaves = footer.schema.drop(1).filter(_.numChildren == 0)
      .map(f => f.name -> f).toMap
    footer.rowGroups.iterator.flatMap { rg =>
      val cols: Seq[Array[Any]] = paths.map { p =>
        val col = rg.columns.find(_.path == p).getOrElse(
          throw new IllegalArgumentException(
            s"column '$p' not present in the row group"))
        val leaf = leaves.getOrElse(p,
          throw new IllegalArgumentException(
            s"column '$p' not a flat schema leaf"))
        readChunk(file, col, leaf, rg.numRows.toInt)
      }
      (0 until rg.numRows.toInt).iterator.map(i =>
        Array.tabulate[Any](cols.size)(c => cols(c)(i)))
    }
  }
}
