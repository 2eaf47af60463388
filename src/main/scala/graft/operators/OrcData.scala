package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.orc.{OrcProto, OrcUtils, TypeDescription}
import org.apache.orc.util.BloomFilter

/** ORC planning metadata beyond the file tail [[OrcMeta]] reads:
  * the stripe directory and type tree from the footer, per-stripe
  * column statistics from the Metadata section, and per-stripe
  * StripeFooters (stream directory and column encodings), ROW_INDEX
  * statistics and BLOOM_FILTER_UTF8 blooms. Every message is decoded
  * by the generated `OrcProto` classes, failures named by message, and
  * every chunked section decompresses through
  * [[OrcMeta.decompressStream]] into at most the postscript's block
  * size.
  *
  * Stripe data is decoded by Spark's own ORC reader (orc-core), which
  * `graftorc` hands each planned stripe after [[checkStripe]] has
  * checked the stripe footer values orc-core sizes its buffers from.
  */
object OrcData {

  final case class OrcStripe(offset: Long, indexLength: Long,
      dataLength: Long, footerLength: Long, rows: Long)

  /** One node of the type tree, by column id. */
  final case class OrcTypeNode(kind: Int, subtypes: Seq[Int],
      fieldNames: Seq[String])

  /** `writerVersion` is the PostScript field-6 writer fence (0 =
    * pre-HIVE-8732 ORIGINAL): string statistics below 1 were compared
    * as UTF-16 code units by the old Java writer and must never feed a
    * byte-ordered proof — see the strip in [[readPlan]] and the
    * row-group twin in [[graft.sources.GraftOrc]]. The default is the
    * UNTRUSTED 0, matching the protobuf absent-field decoding: a
    * construction site that forgets to thread the real value falls to
    * the slow-but-sound side of the fence, never the unsound one.
    * `schema` is orc-core's `TypeDescription` of the same footer types.
    */
  final case class OrcFileMeta(compression: Int, blockSize: Int,
      numberOfRows: Long, types: Seq[OrcTypeNode], schema: TypeDescription,
      stripes: Seq[OrcStripe], rowIndexStride: Int = 0,
      writerVersion: Int = 0)

  /** The fence's action, in ONE place for both statistic tiers (the
    * stripe tier in [[readPlan]], the row-group tier in
    * [[graft.sources.GraftOrc]]): drop every string bound a
    * pre-HIVE-8732 writer recorded, leave all other fields untouched.
    */
  private[graft] def stripStringStats(s: OrcColStat): OrcColStat =
    if (s.minS.isDefined || s.maxS.isDefined || s.exactS)
      s.copy(minS = None, maxS = None, exactS = false)
    else s

  private final case class OrcStream(kind: Int, column: Int,
      length: Long)

  private final case class OrcEncoding(kind: Int, dictSize: Int)

  /** One stripe's one column's min/max from the file-tail Metadata
    * section: numeric bounds widened to doubles (the pruning
    * comparisons are double-valued, mirroring
    * [[ParquetFooter.statDouble]]), string bounds verbatim (post
    * HIVE-8732 ORC string stats order BY CODE POINT, which is UTF-8
    * byte order — the same order Spark compares strings in, so
    * disjointness proofs transfer; files below that writer fence get
    * their string bounds STRIPPED at parse, see [[readPlan]]). `None`
    * means the writer recorded no usable bound of that kind — never
    * prune on it.
    */
  final case class OrcColStat(min: Option[Double], max: Option[Double],
      minS: Option[String] = None, maxS: Option[String] = None,
      // numberOfValues counts NON-NULL values; hasNull is the
      // explicit flag — together they let IsNull/IsNotNull prune
      nonNull: Option[Long] = None, hasNull: Option[Boolean] = None,
      // the EXACT IntegerStatistics values (min/max sint64, sum —
      // absent when the writer detected overflow), which the aggregate
      // pushdown needs where the widened doubles above round past 2^53
      minL: Option[Long] = None, maxL: Option[Long] = None,
      sumL: Option[Long] = None,
      // true only when the string bounds came from the EXACT
      // minimum/maximum fields (1/2), not the truncated
      // lowerBound/upperBound stand-ins (4/5) — exact bounds answer
      // MIN/MAX, truncated ones only prune
      exactS: Boolean = false)

  /** Everything scan PLANNING needs, from tail bytes only: the stripe
    * directory + type tree, plus per-stripe per-column min/max ranges
    * from the Metadata section (StripeStatistics protobufs).
    * `stripeStats(i)(c)` aligns with `meta.stripes(i)` and column id
    * `c` in the type tree; empty when the writer skipped the section.
    */
  final case class OrcPlan(meta: OrcFileMeta,
      stripeStats: Seq[Seq[OrcColStat]])

  private final case class OrcPostscript(footerLen: Long,
      metadataLen: Long, compression: Int, blockSize: Int,
      writerVersion: Int)

  /** `fileLen` (when >= 0) is the real file size: [[readPlan]] probes
    * only the last few KB, so footer/metadata lengths must be budgeted
    * against the file, not the probe buffer — a wide-schema or
    * many-stripe file legitimately carries a tail longer than the probe.
    */
  private def parsePostscript(p: Array[Byte],
      fileLen: Long = -1L): OrcPostscript = {
    val (ps, psLen) = OrcMeta.postscript(p)
    val footerLen = ps.getFooterLength
    val metadataLen = ps.getMetadataLength
    val budget =
      if (fileLen >= 0) fileLen - 1 - psLen else p.length - 1L - psLen
    require(footerLen > 0 && footerLen <= budget,
      s"torn ORC: footer length $footerLen")
    require(metadataLen >= 0 && metadataLen <= budget - footerLen,
      s"torn ORC: metadata length $metadataLen")
    OrcPostscript(footerLen, metadataLen, ps.getCompression.getNumber,
      ps.getCompressionBlockSize.toInt, ps.getWriterVersion)
  }

  /** Postscript + footer walk, keeping the stripe directory and type
    * tree [[OrcMeta.read]] drops (it only needs stats).
    */
  def readMeta(p: Array[Byte]): OrcFileMeta = {
    val psr = parsePostscript(p)
    val psStart = p.length - 1 - (p(p.length - 1) & 0xff)
    val compression = psr.compression
    val fb = OrcMeta.decompressStream(p, (psStart - psr.footerLen).toInt,
      psr.footerLen.toInt, compression, psr.blockSize)
    parseFooter(fb, compression, psr.blockSize, psr.writerVersion)
  }

  private def parseFooter(fb: Array[Byte], compression: Int,
      blockSize: Int, writerVersion: Int): OrcFileMeta = {
    val f = OrcMeta.parse("Footer")(OrcProto.Footer.parseFrom(fb))
    val stripes = f.getStripesList.asScala.map { s =>
      require(s.hasOffset && s.hasFooterLength && s.hasNumberOfRows,
        "torn ORC: stripe directory entry missing fields")
      val (off, il, dl, fl, rows) = (s.getOffset, s.getIndexLength,
        s.getDataLength, s.getFooterLength, s.getNumberOfRows)
      require(off >= 0 && rows >= 0 && rows <= (1L << 28) && il >= 0 &&
        il <= (1L << 40) && dl >= 0 && dl <= (1L << 40) && fl >= 0 &&
        fl <= (1L << 30), s"torn ORC: stripe geometry $rows/$il/$dl/$fl")
      OrcStripe(off, il, dl, fl, rows)
    }.toVector
    val types = f.getTypesList.asScala.map { t =>
      require(t.hasKind, "torn ORC: type without a known kind")
      OrcTypeNode(t.getKind.getNumber,
        t.getSubtypesList.asScala.map(_.intValue).toVector,
        t.getFieldNamesList.asScala.toVector)
    }.toVector
    // ORC numbers the type tree in pre-order, so every child id lies
    // after its parent's: a walk of the tree always ends
    types.zipWithIndex.foreach { case (t, id) =>
      require(t.subtypes.forall(c => c > id && c < types.length),
        s"torn ORC: type $id names children ${t.subtypes} outside the " +
          s"${types.length}-type tree")
    }
    val stride = f.getRowIndexStride
    require(f.hasNumberOfRows && types.nonEmpty,
      "torn ORC: footer without types")
    require(stride >= 0 && stride <= (1 << 28),
      s"torn ORC: row index stride $stride")
    val schema = LibCodec.loud("ORC type tree")(
      OrcUtils.convertTypeFromProtobuf(f.getTypesList, 0))
    OrcFileMeta(compression, blockSize, f.getNumberOfRows, types, schema,
      stripes, stride, writerVersion)
  }

  /** `n` bytes of `ch` from `pos`, by positional reads; the span must
    * lie inside the file.
    */
  def readAt(ch: java.nio.channels.FileChannel, pos: Long, n: Long)
      : Array[Byte] = {
    val fileLen = ch.size()
    require(pos >= 0 && n >= 0 && n <= fileLen - pos && n <= Int.MaxValue,
      s"torn ORC: $n-byte read at $pos outside the $fileLen-byte file")
    val bb = java.nio.ByteBuffer.allocate(n.toInt)
    var p = pos
    while (bb.hasRemaining) {
      val r = ch.read(bb, p)
      require(r > 0, "torn ORC: short read")
      p += r
    }
    bb.array()
  }

  /** Tail-only planning read: positional IO of the postscript, footer
    * and Metadata sections — O(KB per multi-GB file), never a data
    * byte, the same planning shape [[ParquetFooter.readTail]] gives the
    * parquet tier. Two reads: a bounded probe for the postscript, then
    * exactly the metadata+footer span it declares.
    */
  def readPlan(path: java.nio.file.Path): OrcPlan = LibCodec.naming(path) {
    val ch = java.nio.channels.FileChannel.open(path,
      java.nio.file.StandardOpenOption.READ)
    try {
      val fileLen = ch.size()
      val probeLen = math.min(fileLen, 4096L).toInt
      val probe = readAt(ch, fileLen - probeLen, probeLen)
      val psr = parsePostscript(probe, fileLen)
      val psLen = probe(probe.length - 1) & 0xff
      val tailLen = 1L + psLen + psr.footerLen + psr.metadataLen
      require(tailLen <= fileLen, s"torn ORC: $tailLen-byte tail " +
        s"declared in a $fileLen-byte file")
      val tail = readAt(ch, fileLen - tailLen, tailLen)
      val fb = OrcMeta.decompressStream(tail, psr.metadataLen.toInt,
        psr.footerLen.toInt, psr.compression, psr.blockSize)
      val meta = parseFooter(fb, psr.compression, psr.blockSize,
        psr.writerVersion)
      val stats = if (psr.metadataLen == 0) Nil else {
        val mb = OrcMeta.decompressStream(tail, 0, psr.metadataLen.toInt,
          psr.compression, psr.blockSize)
        parseMetadata(mb)
      }
      require(stats.isEmpty || stats.length == meta.stripes.length,
        s"torn ORC: ${stats.length} stripe-stat entries for " +
          s"${meta.stripes.length} stripes")
      // STRING-STAT WRITER FENCE: pre-HIVE-8732 ORC writers
      // (PostScript writerVersion 0 — the public WriterVersion enum's
      // ORIGINAL) compared string min/max as UTF-16 code units, which
      // misorders supplementary-plane strings against UTF-8 byte order
      // (= UTF8String order, the order every downstream proof — stripe
      // pruning, MIN/MAX answering, TOP-N dominance — compares in). A
      // misordered extreme is not conservative: an overstated max can
      // unsoundly dominate a stripe that holds true top-k rows, and an
      // overstated min can prune an equality match. writerVersion >= 1
      // (HIVE_8732, 2014) is the public fence after which string stats
      // are byte-ordered; below it, string stats are DROPPED here —
      // the one choke point every planner-side consumer reads through
      // — so string queries over such files fall back to row data
      // (slower, never wrong). Numeric stats are unaffected (ordering
      // of sint64/double stats never depended on collation). OrcWrite
      // writes through orc-core, which stamps its current version.
      val trusted =
        if (psr.writerVersion >= 1) stats
        else stats.map(_.map(stripStringStats))
      OrcPlan(meta, trusted)
    } finally ch.close()
  }

  /** One ColumnStatistics message → the ranges pruning acts on:
    * integer and date bounds (exact, and widened to doubles), double
    * bounds, timestamp bounds and string bounds; any other statistics
    * kind yields None (never prune on it).
    */
  private def colStat(cs: OrcProto.ColumnStatistics): OrcColStat = {
    def opt[A](set: Boolean, v: => A): Option[A] =
      if (set) Some(v) else None
    var mn: Option[Double] = None
    var mx: Option[Double] = None
    var mnL: Option[Long] = None
    var mxL: Option[Long] = None
    var mnS: Option[String] = None
    var mxS: Option[String] = None
    var exactS = false
    if (cs.hasIntStatistics) {
      val is = cs.getIntStatistics
      mnL = opt(is.hasMinimum, is.getMinimum)
      mxL = opt(is.hasMaximum, is.getMaximum)
    }
    if (cs.hasDoubleStatistics) {
      val ds = cs.getDoubleStatistics
      mn = opt(ds.hasMinimum, ds.getMinimum)
      mx = opt(ds.hasMaximum, ds.getMaximum)
    }
    // DateStatistics: sint32 epoch days — lands in the numeric range so
    // normalized date literals (days) prune; the exact values also feed
    // DATE MIN/MAX aggregate pushdown
    if (cs.hasDateStatistics) {
      val ds = cs.getDateStatistics
      mnL = opt(ds.hasMinimum, ds.getMinimum.toLong)
      mxL = opt(ds.hasMaximum, ds.getMaximum.toLong)
    }
    if (mnL.isDefined || mxL.isDefined) {
      mn = mnL.map(_.toDouble)
      mx = mxL.map(_.toDouble)
    }
    // TimestampStatistics: UTC millis (the writer-timezone-free pair)
    // widened to the micro domain conservatively: a stat-millisecond
    // truncates up to 999 micros, so the max bound gains them back
    if (cs.hasTimestampStatistics) {
      val ts = cs.getTimestampStatistics
      mn = opt(ts.hasMinimumUtc, ts.getMinimumUtc.toDouble * 1000.0)
      mx = opt(ts.hasMaximumUtc, ts.getMaximumUtc.toDouble * 1000.0 + 999.0)
    }
    // StringStatistics: exact minimum/maximum, or the
    // lowerBound/upperBound TRUNCATED stand-ins long values get (a
    // truncated lower bound is still ≤ the true min and the upper ≥ the
    // true max, so pruning on them stays conservative)
    if (cs.hasStringStatistics) {
      val ss = cs.getStringStatistics
      mnS = opt(ss.hasMinimum, ss.getMinimum)
        .orElse(opt(ss.hasLowerBound, ss.getLowerBound))
      mxS = opt(ss.hasMaximum, ss.getMaximum)
        .orElse(opt(ss.hasUpperBound, ss.getUpperBound))
      exactS = ss.hasMinimum && ss.hasMaximum
    }
    val sumL = opt(cs.hasIntStatistics && cs.getIntStatistics.hasSum,
      cs.getIntStatistics.getSum) // absent on overflow
    OrcColStat(mn, mx, mnS, mxS,
      opt(cs.hasNumberOfValues, cs.getNumberOfValues),
      opt(cs.hasHasNull, cs.getHasNull), mnL, mxL, sumL, exactS)
  }

  /** Parse one decompressed ROW_INDEX stream (orc_proto RowIndex):
    * each row group's statistics range.
    */
  def parseRowIndex(b: Array[Byte]): Seq[OrcColStat] =
    OrcMeta.parse("RowIndex")(OrcProto.RowIndex.parseFrom(b))
      .getEntryList.asScala.map { e =>
        if (e.hasStatistics) colStat(e.getStatistics)
        else OrcColStat(None, None)
      }.toVector

  /** Planning-time row-group stat ranges from two SMALL positional
    * reads — the stripe's index area `[offset, offset+indexLength)`
    * and its footer `[offset+indexLength+dataLength, +footerLength)`
    * (O(KB) each, never a data byte): per requested column id, each
    * row group's min/max. Empty map when the file carries no indexes.
    */
  def rowGroupStats(indexBytes: Array[Byte], footerBytes: Array[Byte],
      compression: Int, blockSize: Int, colIds: Seq[Int])
      : Map[Int, Seq[OrcColStat]] = {
    val (streams, _) = parseStripeFooter(OrcMeta.decompressStream(
      footerBytes, 0, footerBytes.length, compression, blockSize))
    // index streams lead the footer's list and the stripe's bytes, so
    // their offsets accumulate from 0 within the index area
    val offsets = streams.scanLeft(0L)(_ + _.length).init
    streams.zip(offsets).collect {
      case (s, o) if s.kind == K_ROW_INDEX && colIds.contains(s.column) =>
        require(o >= 0 && o + s.length <= indexBytes.length,
          "torn ORC: index stream overruns the index area")
        s.column -> parseRowIndex(OrcMeta.decompressStream(indexBytes,
          o.toInt, s.length.toInt, compression, blockSize))
    }.toMap
  }

  /** The row groups of `stripe` at row index stride `stride`,
    * ceil(rows / stride), bounded by the stripe's own row index (its
    * index area and footer, the two reads [[rowGroupStats]] takes).
    * orc-core's reader allocates one flag per row group whenever it
    * applies pushed filters, before it reads any index: 2^28 rows at
    * stride 1 would be 256 MiB. A row index holds one entry per group,
    * each at least 2 bytes, so a stripe claiming more groups than half
    * its longest decompressed ROW_INDEX stream rejects.
    */
  def rowGroups(stripe: OrcStripe, stride: Int, indexBytes: Array[Byte],
      footerBytes: Array[Byte], compression: Int, blockSize: Int): Int = {
    require(stride > 0, s"bad row index stride $stride")
    val (streams, _) = parseStripeFooter(OrcMeta.decompressStream(
      footerBytes, 0, footerBytes.length, compression, blockSize))
    val offsets = streams.scanLeft(0L)(_ + _.length).init
    val longest = streams.zip(offsets).collect {
      case (s, o) if s.kind == K_ROW_INDEX =>
        require(o >= 0 && o + s.length <= indexBytes.length,
          "torn ORC: index stream overruns the index area")
        OrcMeta.decompressedLength(indexBytes, o.toInt, s.length.toInt,
          compression, blockSize)
    }.maxOption.getOrElse(0L)
    val groups = (stripe.rows + stride - 1) / stride
    require(groups <= longest / 2,
      s"torn ORC: a ${stripe.rows}-row stripe at row index stride " +
        s"$stride claims $groups row groups; its row index holds at " +
        s"most ${longest / 2}")
    groups.toInt
  }

  /** Parse one decompressed BLOOM_FILTER_UTF8 stream (orc_proto
    * BloomFilterIndex): one orc-core BloomFilter per row group, over
    * the legacy repeated-fixed64 bitset or the utf8bitset's
    * little-endian longs. None where the entry has no bits or hash
    * functions: never prune on it.
    */
  def parseBloomIndex(b: Array[Byte]): Seq[Option[BloomFilter]] =
    OrcMeta.parse("BloomFilterIndex")(OrcProto.BloomFilterIndex.parseFrom(b))
      .getBloomFilterList.asScala.map { f =>
        val utf8 = f.getUtf8Bitset.asReadOnlyByteBuffer
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        require(utf8.remaining % 8 == 0,
          s"torn ORC: bloom bitset ${utf8.remaining} bytes")
        val words = f.getBitsetList.asScala.map(_.longValue).toArray ++
          Array.fill(utf8.remaining / 8)(utf8.getLong())
        if (words.isEmpty || f.getNumHashFunctions <= 0) None
        else Some(new BloomFilter(words, f.getNumHashFunctions))
      }.toVector

  /** The BLOOM_FILTER_UTF8 entries of the requested columns in one
    * stripe, from the same two planning reads [[rowGroupStats]] uses.
    * Column id → one bloom per row group; columns without the stream
    * are absent (never prune on them).
    */
  def rowGroupBlooms(indexBytes: Array[Byte], footerBytes: Array[Byte],
      compression: Int, blockSize: Int, colIds: Seq[Int])
      : Map[Int, Seq[Option[BloomFilter]]] = {
    val (streams, _) = parseStripeFooter(OrcMeta.decompressStream(
      footerBytes, 0, footerBytes.length, compression, blockSize))
    val offsets = streams.scanLeft(0L)(_ + _.length).init
    streams.zip(offsets).collect {
      case (s, o) if s.kind == K_BLOOM_UTF8 && colIds.contains(s.column) =>
        require(o >= 0 && o + s.length <= indexBytes.length,
          "torn ORC: bloom stream overruns the index area")
        s.column -> parseBloomIndex(OrcMeta.decompressStream(indexBytes,
          o.toInt, s.length.toInt, compression, blockSize))
    }.toMap
  }

  /** Metadata section: one StripeStatistics per stripe, each holding
    * one ColumnStatistics per column of the type tree.
    */
  private def parseMetadata(mb: Array[Byte]): Seq[Seq[OrcColStat]] =
    OrcMeta.parse("Metadata")(OrcProto.Metadata.parseFrom(mb))
      .getStripeStatsList.asScala
      .map(_.getColStatsList.asScala.map(colStat).toVector).toVector

  // stream kinds (orc_proto Stream.Kind)
  private val K_LENGTH = 2
  private val K_DICTIONARY_DATA = 3
  private val K_ROW_INDEX = 6
  private val K_BLOOM_UTF8 = 8

  /** The streams orc-core places in a stripe's index section
    * (DICTIONARY_COUNT, ROW_INDEX, BLOOM_FILTER, BLOOM_FILTER_UTF8,
    * ENCRYPTED_INDEX); every other kind lies in the data section.
    */
  private val IndexKinds = Set(4, 6, 7, 8, 9)

  /** Checks one stripe's metadata before Spark's ORC reader opens it,
    * because orc-core sizes its buffers from these values without
    * bounds. The stripe footer is read and parsed with the bounded
    * decoder. Required: the stripe lies inside the file; its streams
    * exactly fill the index and data sections; and each of `colIds`
    * has an encoding orc-core decodes, with a dictionary its LENGTH
    * stream can hold and whose lengths its DICTIONARY_DATA stream
    * holds. With a row index `stride` (> 0 when the reader gets pushed
    * filters), the stripe's row groups must fit its row index
    * ([[rowGroups]]). Failures are `IllegalArgumentException`s.
    */
  def checkStripe(path: java.nio.file.Path, stripe: OrcStripe,
      compression: Int, blockSize: Int, colIds: Seq[Int],
      stride: Int = 0): Unit = {
    require(stripe.offset >= 3,
      s"torn ORC: stripe at ${stripe.offset} overlaps the file header")
    val ch = java.nio.channels.FileChannel.open(path,
      java.nio.file.StandardOpenOption.READ)
    try {
      // the footer ends the stripe: reading it proves the stripe lies
      // inside the file
      val footer = readAt(ch, stripe.offset + stripe.indexLength +
        stripe.dataLength, stripe.footerLength)
      val (streams, encs) = parseStripeFooter(OrcMeta.decompressStream(
        footer, 0, footer.length, compression, blockSize))
      if (stride > 0) rowGroups(stripe, stride,
        readAt(ch, stripe.offset, stripe.indexLength), footer,
        compression, blockSize)
      def fills(section: String, ss: Seq[OrcStream], len: Long): Unit = {
        var left = len
        ss.foreach { s =>
          require(s.length >= 0 && s.length <= left,
            s"torn ORC: a ${s.length}-byte stream overruns the stripe's " +
              s"$len-byte $section section")
          left -= s.length
        }
        require(left == 0, s"torn ORC: streams leave $left of the " +
          s"stripe's $len-byte $section section unaccounted")
      }
      val (index, data) = streams.partition(s => IndexKinds(s.kind))
      fills("index", index, stripe.indexLength)
      fills("data", data, stripe.dataLength)
      // orc-core lays the data section's streams back to back, in
      // footer order, after the index section
      val at = data.scanLeft(stripe.offset + stripe.indexLength)(_ + _.length)
      colIds.foreach { id =>
        val enc = encs.getOrElse(id, throw new IllegalArgumentException(
          s"torn ORC: column $id has no encoding in the stripe footer"))
        require(enc.kind >= 0 && enc.kind <= 3,
          s"ORC column $id encoding ${enc.kind} unknown")
        // DICTIONARY(_V2): orc-core allocates 4 bytes per declared entry
        // before it reads the LENGTH stream, which holds one length per
        // entry. An RLE run codes at most 512 values in 4 bytes, so a
        // dictionary past 128 entries per decompressed LENGTH byte is
        // not in the file. The stripe's row count is no bound: a LIST or
        // MAP child holds one value per element.
        if ((enc.kind == 1 || enc.kind == 3) && enc.dictSize != 0) {
          def streamOf(kind: Int, what: String): Option[Array[Byte]] = {
            val ss = data.indices.filter(i =>
              data(i).kind == kind && data(i).column == id)
            require(ss.length <= 1,
              s"torn ORC: column $id has ${ss.length} $what streams")
            ss.headOption.map(i => readAt(ch, at(i), data(i).length))
          }
          def decompressed(b: Array[Byte]): Long =
            OrcMeta.decompressedLength(b, 0, b.length, compression,
              blockSize)
          val lengths = streamOf(K_LENGTH, "LENGTH")
          val bytes = lengths.fold(0L)(decompressed)
          require(enc.dictSize > 0 && enc.dictSize <= 128 * bytes,
            s"torn ORC: column $id dictionary claims ${enc.dictSize} " +
              s"entries, its LENGTH stream decompresses to $bytes bytes")
          // orc-core then allocates the dictionary's bytes as one array
          // sized by the sum of its first dictSize lengths
          val dataBytes =
            streamOf(K_DICTIONARY_DATA, "DICTIONARY_DATA").fold(0L)(
              decompressed)
          val sum = lengthSum(lengths.get, enc.dictSize, enc.kind == 3,
            compression, blockSize, dataBytes)
          require(sum <= dataBytes,
            s"torn ORC: column $id dictionary lengths sum past its " +
              s"$dataBytes-byte DICTIONARY_DATA stream")
        }
      }
    } finally ch.close()
  }

  /** The sum of the first `n` values of the unsigned integer stream
    * `b` (RLE v2 when `v2`, else v1), decoded by orc-core's own readers
    * one compression chunk at a time; past `limit` it stops at the
    * first value that crosses it.
    */
  private def lengthSum(b: Array[Byte], n: Long, v2: Boolean,
      compression: Int, blockSize: Int, limit: Long): Long =
    LibCodec.loud("ORC dictionary LENGTH stream") {
      import org.apache.orc.impl.{BufferChunk, InStream, OrcCodecPool,
        RunLengthIntegerReader, RunLengthIntegerReaderV2}
      val kind = org.apache.orc.CompressionKind.values()(compression)
      val codec = if (compression == 0) null else OrcCodecPool.getCodec(kind)
      try {
        val opts = InStream.options()
        if (codec != null) opts.withCodec(codec)
          .withBufferSize(if (blockSize > 0) blockSize else 1 << 18)
        val in = InStream.create("LENGTH",
          new BufferChunk(java.nio.ByteBuffer.wrap(b), 0), 0, b.length, opts)
        val r =
          if (v2) new RunLengthIntegerReaderV2(in, false, false)
          else new RunLengthIntegerReader(in, false)
        var sum = 0L
        var k = 0L
        while (k < n && sum <= limit && r.hasNext) {
          val v = r.next()
          sum = if (v < 0 || v > limit - sum) limit + 1 else sum + v
          k += 1
        }
        sum
      } finally if (codec != null) OrcCodecPool.returnCodec(kind, codec)
    }

  /** The stream directory and column encodings of one StripeFooter; a
    * stream or encoding kind this reader does not know becomes -1.
    */
  private def parseStripeFooter(fb: Array[Byte])
      : (Seq[OrcStream], Map[Int, OrcEncoding]) = {
    val f = OrcMeta.parse("StripeFooter")(OrcProto.StripeFooter.parseFrom(fb))
    val streams = f.getStreamsList.asScala.map(st => OrcStream(
      if (st.hasKind) st.getKind.getNumber else -1, st.getColumn,
      st.getLength)).toVector
    val encs = f.getColumnsList.asScala.zipWithIndex.map { case (e, i) =>
      i -> OrcEncoding(if (e.hasKind) e.getKind.getNumber else -1,
        e.getDictionarySize)
    }.toMap
    (streams, encs)
  }

  /** Map top-level field names to type-tree column ids (each id may
    * root a nested subtree); unknown names reject loudly.
    */
  def resolveColumns(types: Seq[OrcTypeNode], names: Seq[String])
      : Seq[Int] = {
    require(types.nonEmpty && types.head.kind == 12,
      "ORC root type is not a struct")
    val root = types.head
    require(root.subtypes.length == root.fieldNames.length,
      "torn ORC: root field/subtype arity mismatch")
    names.map { n =>
      val i = root.fieldNames.indexOf(n)
      require(i >= 0, s"column '$n' not present in the ORC schema")
      root.subtypes(i)
    }
  }

  /** All type-tree ids of a column subtree (the root id first). */
  def subtreeIds(types: Seq[OrcTypeNode], id: Int): Seq[Int] = {
    require(id >= 0 && id < types.length,
      s"torn ORC: column id $id outside the type tree")
    id +: types(id).subtypes.flatMap(subtreeIds(types, _))
  }

}
