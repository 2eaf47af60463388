package graft.operators

import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector,
  ColumnVector, DecimalColumnVector, DoubleColumnVector, ListColumnVector,
  LongColumnVector, MapColumnVector, MultiValuedColumnVector,
  StructColumnVector, TimestampColumnVector}
import org.apache.spark.sql.types._

/** ORC WRITER: graft's write API over orc-core's own `Writer`, the one
  * Spark's `df.write.orc` uses. orc-core does all of the encoding: RLE
  * runs, dictionaries, stream layout, ROW_INDEX seek positions and
  * row-group statistics, stripe and file statistics, bloom filters,
  * compression chunks, footer and postscript. graft keeps the contract
  * its callers and its reader's planning rely on:
  *
  *   - the schema is a Spark `StructType`, mapped by Spark's
  *     `OrcUtils.orcTypeDescription` (graftorc maps it back with
  *     `OrcUtils.toCatalystSchema`), and a type outside
  *     BOOLEAN/INT/LONG/DOUBLE/STRING/BINARY/DECIMAL/DATE/TIMESTAMP and
  *     ARRAY/MAP/STRUCT of them rejects by name;
  *   - stripes close every `stripeRows` rows (orc-core's
  *     `STRIPE_ROW_COUNT`; batches are cut at the boundary and the row
  *     count is checked after every batch), or earlier if a stripe
  *     outgrows orc-core's in-memory stripe bound (64 MiB);
  *   - `rowIndexStride` (0 = no row index; orc-core takes 0 or at least
  *     1,000), `compression` NONE (0) or ZSTD (5), and `bloomColumns`
  *     at 1% fpp, which need the row index;
  *   - TIMESTAMP values are written as UTC instants
  *     (`useUTCTimestamp`), so the stripe footers carry writer time zone
  *     UTC;
  *   - the file is written through the raw local file system: no `.crc`
  *     sibling next to it.
  *
  * The distributed surface writes one file per partition where the data
  * is, as [[ParquetWrite]] does.
  */
object OrcWrite {

  /** `schema`'s ORC type; unsupported types reject by name. */
  def orcSchema(schema: StructType): org.apache.orc.TypeDescription = {
    def check(name: String, dt: DataType): Unit = dt match {
      case BooleanType | IntegerType | LongType | DoubleType | StringType |
          BinaryType | DateType | TimestampType | _: DecimalType => ()
      case ArrayType(et, _) => check(name, et)
      case MapType(kt, vt, _) => check(name, kt); check(name, vt)
      case st: StructType =>
        st.fields.foreach(g => check(s"$name.${g.name}", g.dataType))
      case t => throw new IllegalArgumentException(
        s"ORC writer: column '$name' type ${t.sql} unsupported")
    }
    require(schema.nonEmpty, "ORC writer needs at least one field")
    schema.fields.foreach(f => check(f.name, f.dataType))
    org.apache.spark.sql.execution.datasources.orc.OrcUtils
      .orcTypeDescription(schema)
  }

  private def bad(name: String, v: Any): Nothing =
    throw new IllegalArgumentException(
      s"column '$name' got ${v.getClass.getName}")

  private def seqOf(name: String, v: Any): scala.collection.Seq[Any] =
    v match {
      case s: scala.collection.Seq[_] =>
        s.asInstanceOf[scala.collection.Seq[Any]]
      case x => bad(name, x)
    }

  /** Point slot `i` of a LIST or MAP vector at `n` new child slots;
    * returns the first.
    */
  private def reserve(c: MultiValuedColumnVector, i: Int, n: Int): Int = {
    val off = c.childCount
    c.offsets(i) = off
    c.lengths(i) = n
    c.childCount += n
    off
  }

  /** Set slot `i` of `cv` (the vector of a `dt` column) to `v`, carried
    * as [[writeFile]] describes; nested values append to their child
    * vectors.
    */
  private def set(cv: ColumnVector, dt: DataType, name: String, i: Int,
      v: Any): Unit =
    if (v == null) { cv.noNulls = false; cv.isNull(i) = true }
    else (dt, cv) match {
      case (BooleanType, c: LongColumnVector) =>
        c.vector(i) = if (v.asInstanceOf[Boolean]) 1L else 0L
      case (IntegerType | LongType | DateType, c: LongColumnVector) =>
        c.vector(i) = v match {
          case x: Int => x.toLong
          case x: Long => x
          case x => bad(name, x)
        }
      case (DoubleType, c: DoubleColumnVector) =>
        c.vector(i) = v.asInstanceOf[Double]
      case (StringType, c: BytesColumnVector) => v match {
        case s: String =>
          c.setVal(i, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        case x => bad(name, x)
      }
      case (BinaryType, c: BytesColumnVector) => v match {
        case b: Array[Byte] => c.setVal(i, b)
        case x => bad(name, x)
      }
      case (d: DecimalType, c: DecimalColumnVector) =>
        val bd = (v match {
          case x: java.math.BigDecimal => x
          case x: BigDecimal => x.bigDecimal
          case x => bad(name, x)
        }).setScale(d.scale)
        require(bd.precision <= d.precision,
          s"column '$name': $bd exceeds DECIMAL(${d.precision},${d.scale})")
        c.vector(i).set(
          org.apache.hadoop.hive.common.`type`.HiveDecimal.create(bd))
      case (TimestampType, c: TimestampColumnVector) =>
        val micros = v.asInstanceOf[Long]
        c.time(i) = Math.floorDiv(micros, 1000L)
        c.nanos(i) = (Math.floorMod(micros, 1000000L) * 1000L).toInt
      case (ArrayType(et, _), c: ListColumnVector) =>
        val s = seqOf(name, v)
        val off = reserve(c, i, s.length)
        c.child.ensureSize(c.childCount, true)
        s.iterator.zipWithIndex.foreach { case (e, k) =>
          set(c.child, et, name, off + k, e)
        }
      case (MapType(kt, vt, _), c: MapColumnVector) =>
        val s = seqOf(name, v)
        val off = reserve(c, i, s.length)
        c.keys.ensureSize(c.childCount, true)
        c.values.ensureSize(c.childCount, true)
        s.iterator.zipWithIndex.foreach {
          case ((k, value), j) =>
            require(k != null, s"map '$name' null key")
            set(c.keys, kt, name, off + j, k)
            set(c.values, vt, name, off + j, value)
          case (x, _) => bad(name, x)
        }
      case (st: StructType, c: StructColumnVector) =>
        val s = seqOf(name, v)
        require(s.length == st.length,
          s"struct '$name' row arity ${s.length} vs ${st.length} fields")
        st.fields.indices.foreach(k => set(c.fields(k),
          st.fields(k).dataType, s"$name.${st.fields(k).name}", i, s(k)))
      case _ => bad(name, v)
    }

  /** Write one complete ORC file; returns the row count. `rows` yields
    * one `Array[Any]` per row aligned with `schema` (nulls as null;
    * BOOLEAN/INT/LONG/DOUBLE/STRING/BINARY carried as
    * Boolean/Int/Long/Double/String/Array[Byte], DECIMAL as a java or
    * scala BigDecimal, DATE as Int epoch days, TIMESTAMP as Long epoch
    * micros, ARRAY as a Seq, MAP as a Seq of (key, value) and STRUCT as
    * a Seq of its field values). `compression` is the orc_proto
    * CompressionKind: 0 NONE or 5 ZSTD.
    */
  def writeFile(path: java.nio.file.Path, schema: StructType,
      rows: Iterator[Array[Any]], stripeRows: Int = 1 << 16,
      compression: Int = 0, rowIndexStride: Int = 10000,
      bloomColumns: Set[String] = Set.empty): Long = {
    import org.apache.orc.{CompressionKind, OrcConf, OrcFile}
    require(stripeRows > 0, s"bad stripe row count $stripeRows")
    require(rowIndexStride >= 0, s"bad row index stride $rowIndexStride")
    require(compression == 0 || compression == 5,
      s"ORC writer compression $compression unsupported (NONE=0, ZSTD=5)")
    val orcType = orcSchema(schema)
    val conf = new org.apache.hadoop.conf.Configuration(false)
    OrcConf.STRIPE_ROW_COUNT.setLong(conf, stripeRows.toLong)
    // orc-core closes a stripe only when it checks the row count
    OrcConf.ROWS_BETWEEN_CHECKS.setLong(conf, 1L)
    // an uncached raw local FS: no `.crc` sibling, and the process-wide
    // FileSystem cache never holds this bare conf
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), conf)
    val opts = OrcFile.writerOptions(conf).setSchema(orcType)
      .fileSystem(fs).overwrite(true)
      .compress(if (compression == 5) CompressionKind.ZSTD
        else CompressionKind.NONE)
      .rowIndexStride(rowIndexStride).buildIndex(rowIndexStride > 0)
      .useUTCTimestamp(true)
    if (bloomColumns.nonEmpty && rowIndexStride > 0)
      opts.bloomFilterColumns(bloomColumns.mkString(","))
        .bloomFilterFpp(0.01)
    val writer = OrcFile.createWriter(
      new org.apache.hadoop.fs.Path(path.toAbsolutePath.toUri), opts)
    val batch = orcType.createRowBatch()
    val fields = schema.fields
    var total = 0L
    var inStripe = 0
    try {
      while (rows.hasNext) {
        val r = rows.next()
        require(r.length == fields.length,
          s"row arity ${r.length} vs ${fields.length} fields")
        var c = 0
        while (c < fields.length) {
          set(batch.cols(c), fields(c).dataType, fields(c).name,
            batch.size, r(c))
          c += 1
        }
        batch.size += 1
        total += 1
        inStripe += 1
        if (inStripe == stripeRows || batch.size == batch.getMaxSize) {
          writer.addRowBatch(batch)
          batch.reset()
          if (inStripe == stripeRows) inStripe = 0
        }
      }
      if (batch.size > 0) writer.addRowBatch(batch)
    } finally writer.close()
    total
  }

  /** Distributed write: every partition writes its own
    * `part-NNNNN.orc` with [[writeFile]] — the writer runs WHERE THE
    * DATA IS, one task per partition, no driver collection — then
    * `_SUCCESS` commits the directory. Empty partitions leave no file.
    * Returns the row count.
    */
  def writeDataFrame(df: org.apache.spark.sql.DataFrame, dir: String,
      stripeRows: Int = 1 << 16, compression: Int = 0,
      rowIndexStride: Int = 10000,
      bloomColumns: Set[String] = Set.empty): Long = {
    val schema = df.schema
    orcSchema(schema) // unsupported types reject before any task runs
    val target = new java.io.File(dir)
    target.mkdirs()
    val dts = schema.fields.map(_.dataType)
    val adapt = dts.map(graft.sources.GraftParquet.internalAdapter(_,
      orc = true, identity))
    val counts = df.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
      val f = new java.io.File(target, f"part-$i%05d.orc")
      val rs = it.map { row =>
        Array.tabulate[Any](dts.length)(c =>
          if (row.isNullAt(c)) null else adapt(c)(row.get(c, dts(c))))
      }
      val n = writeFile(f.toPath, schema, rs, stripeRows, compression,
        rowIndexStride, bloomColumns)
      if (n == 0) f.delete() // empty partitions leave no file
      Iterator.single(n)
    }.collect().sum
    new java.io.FileOutputStream(new java.io.File(target, "_SUCCESS"))
      .close()
    counts
  }
}
