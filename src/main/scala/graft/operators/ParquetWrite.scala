package graft.operators

import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** PARQUET WRITER: graft's write API over parquet-mr's `ParquetWriter`
  * with Spark's `ParquetWriteSupport`, the writer behind
  * `df.write.parquet`. The libraries do all of the encoding: record
  * shredding into repetition/definition levels, dictionary and PLAIN
  * pages, page compression, chunk statistics, the page index
  * (ColumnIndex/OffsetIndex), split-block bloom filters and the footer.
  * graft keeps the contract its callers and its reader's planning rely
  * on:
  *
  *   - the schema is a Spark `StructType` ([[check]]): BOOLEAN, INT,
  *     LONG, FLOAT, DOUBLE, STRING, BINARY, DECIMAL, DATE, TIMESTAMP
  *     and ARRAY/MAP/STRUCT of them (map keys leaves); anything else
  *     rejects by name;
  *   - row groups close every `rowGroupRows` rows and pages every
  *     `pageRows` rows (or earlier, past parquet-mr's 128 MiB row-group
  *     and 1 MiB page bounds), so page counts and first-row indexes
  *     follow from the two numbers;
  *   - `codec` 0 UNCOMPRESSED, 1 SNAPPY or 6 ZSTD (the parquet-format
  *     CompressionCodec ids);
  *   - TIMESTAMP is written as UTC-adjusted TIMESTAMP_MICROS (Spark's
  *     default would be INT96), DECIMAL at Spark's storage thresholds;
  *   - `bloomColumns` get split-block bloom filters at 1% fpp, sized
  *     for `rowGroupRows` distinct values per row group;
  *   - chunk statistics are never truncated (parquet-mr drops, rather
  *     than cuts, a min/max over 4,096 bytes), and the footer says so
  *     in the key-value entry [[ParquetFooter.ExactStatsKey]]: the
  *     planners answer string MIN/MAX and TOP-N from the chunk
  *     statistics only of files that carry it;
  *   - the file is written through `java.nio` (parquet-common's
  *     `LocalOutputFile`): no Hadoop file system, no `.crc` sibling.
  *
  * The distributed surface ([[writeDataFrame]]) writes one file per
  * partition where the data is; the DSv2 writer of
  * [[sources.GraftParquet]] writes through [[open]] on its task thread.
  */
object ParquetWrite {

  /** Reject, by column name, a schema this writer does not take. */
  def check(schema: StructType): Unit = {
    def leafOk(dt: DataType): Boolean = dt match {
      case BooleanType | IntegerType | LongType | FloatType | DoubleType |
          StringType | BinaryType | DateType | TimestampType |
          _: DecimalType => true
      case _ => false
    }
    def go(name: String, dt: DataType): Unit = dt match {
      case t if leafOk(t) => ()
      case ArrayType(et, _) => go(name, et)
      case MapType(kt, vt, _) =>
        require(leafOk(kt),
          s"parquet writer: map '$name' non-leaf key unsupported")
        go(name, vt)
      case st: StructType =>
        st.fields.foreach(g => go(s"$name.${g.name}", g.dataType))
      case t => throw new IllegalArgumentException(
        s"parquet writer: column '$name' type ${t.sql} unsupported")
    }
    require(schema.nonEmpty, "parquet writer needs at least one field")
    schema.fields.foreach(f => go(f.name, f.dataType))
  }

  private final class Builder(file: org.apache.parquet.io.OutputFile)
    extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(
        conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** One open parquet file at `path` (overwritten if present): rows
    * go in with `write`, in `schema`'s catalyst representation
    * (`UTF8String`, `Decimal`, Int epoch days, Long epoch micros,
    * `ArrayData`, `MapData`, `InternalRow`); `close` writes the footer.
    * Arguments as [[writeFile]].
    */
  def open(path: java.nio.file.Path, schema: StructType, codec: Int = 1,
      rowGroupRows: Int = 1 << 20, pageRows: Int = 1 << 16,
      bloomColumns: Set[String] = Set.empty): ParquetWriter[InternalRow] = {
    check(schema)
    require(rowGroupRows > 0 && pageRows > 0 && pageRows <= rowGroupRows,
      s"bad page/row-group geometry $pageRows/$rowGroupRows")
    val codecName = codec match {
      case 0 => CompressionCodecName.UNCOMPRESSED
      case 1 => CompressionCodecName.SNAPPY
      case 6 => CompressionCodecName.ZSTD
      case c => throw new IllegalArgumentException(
        s"parquet writer codec $c unsupported (UNCOMPRESSED=0, " +
          "SNAPPY=1, ZSTD=6)")
    }
    bloomColumns.foreach { c =>
      require(schema.fields.exists(f => f.name == c && (f.dataType match {
        case IntegerType | LongType | DateType | TimestampType |
            StringType | BinaryType => true
        case _ => false
      })), s"bloom filter on column '$c': not a top-level INT, LONG, " +
        "DATE, TIMESTAMP, STRING or BINARY column")
    }
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    ParquetWriteSupport.setSchema(schema, conf)
    val b = new Builder(new org.apache.parquet.io.LocalOutputFile(path))
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(codecName)
      .withRowGroupRowCountLimit(rowGroupRows)
      .withPageRowCountLimit(pageRows)
      // parquet-mr looks at the row counts only every 100 rows by
      // default: smaller pages would come out 100 rows long
      .withMinRowCountForPageSizeCheck(math.min(100, pageRows))
      .withStatisticsTruncateLength(Int.MaxValue)
      .withExtraMetaData(java.util.Map.of(ParquetFooter.ExactStatsKey,
        "true"))
    bloomColumns.foreach { c =>
      b.withBloomFilterEnabled(c, true).withBloomFilterFPP(c, 0.01)
        .withBloomFilterNDV(c, rowGroupRows.toLong)
    }
    b.build()
  }

  /** One flat graft value → catalyst: strings to `UTF8String`, decimals
    * to `Decimal`; the rest are already catalyst values.
    */
  private def catalystLeaf(name: String, dt: DataType): Any => Any =
    dt match {
      case StringType => {
        case s: String =>
          org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case x => throw new IllegalArgumentException(
          s"column '$name' got ${x.getClass.getName}")
      }
      case d: DecimalType => {
        case x: java.math.BigDecimal =>
          org.apache.spark.sql.types.Decimal(x, d.precision, d.scale)
        case x: BigDecimal =>
          org.apache.spark.sql.types.Decimal(x, d.precision, d.scale)
        case x => throw new IllegalArgumentException(
          s"column '$name' got ${x.getClass.getName}")
      }
      case _: ArrayType | _: MapType | _: StructType =>
        throw new IllegalArgumentException(s"column '$name': writeFile " +
          "takes flat columns; write nested ones with writeDataFrame")
      case _ => identity
    }

  /** Write one complete parquet file of flat columns; returns the row
    * count. `rows` yields one `Array[Any]` per row aligned with
    * `schema` (nulls as null; BOOLEAN/INT/LONG/FLOAT/DOUBLE/BINARY
    * carried as Boolean/Int/Long/Float/Double/Array[Byte], STRING as
    * a String, DECIMAL as a java or scala BigDecimal, DATE as Int epoch
    * days, TIMESTAMP as Long epoch micros). `codec` is the
    * parquet-format CompressionCodec: 0 UNCOMPRESSED, 1 SNAPPY or
    * 6 ZSTD.
    */
  def writeFile(path: java.nio.file.Path, schema: StructType,
      rows: Iterator[Array[Any]], codec: Int = 1,
      rowGroupRows: Int = 1 << 20, pageRows: Int = 1 << 16,
      bloomColumns: Set[String] = Set.empty): Long = {
    val conv = schema.fields.map(f => catalystLeaf(f.name, f.dataType))
    val w = open(path, schema, codec, rowGroupRows, pageRows,
      bloomColumns)
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(conv.length)
    var n = 0L
    scala.util.Using.resource(w) { _ =>
      rows.foreach { r =>
        require(r.length == conv.length,
          s"row arity ${r.length} vs ${conv.length} fields")
        var c = 0
        while (c < conv.length) {
          row.update(c, if (r(c) == null) null else conv(c)(r(c)))
          c += 1
        }
        w.write(row)
        n += 1
      }
    }
    n
  }

  /** Distributed write: every partition writes its own
    * `part-NNNNN.parquet` — the writer runs WHERE THE DATA IS, one task
    * per partition, on the plan's own internal rows, no driver
    * collection — then `_SUCCESS` commits the directory. Empty
    * partitions leave no file. Returns the row count.
    */
  def writeDataFrame(df: org.apache.spark.sql.DataFrame, dir: String,
      codec: Int = 1, rowGroupRows: Int = 1 << 20,
      pageRows: Int = 1 << 16,
      bloomColumns: Set[String] = Set.empty): Long = {
    val schema = df.schema
    check(schema) // unsupported types reject before any task runs
    val target = new java.io.File(dir)
    target.mkdirs()
    val counts = df.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
      var n = 0L
      if (it.hasNext) {
        val w = open(new java.io.File(target, f"part-$i%05d.parquet")
          .toPath, schema, codec, rowGroupRows, pageRows, bloomColumns)
        scala.util.Using.resource(w)(_ =>
          it.foreach { r => w.write(r); n += 1 })
      }
      Iterator.single(n)
    }.collect().sum
    new java.io.FileOutputStream(new java.io.File(target, "_SUCCESS"))
      .close()
    counts
  }
}
