package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
import org.apache.parquet.schema.MessageType
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal,
  NamedReference, NullOrdering, SortDirection, Transform,
  SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsReportStatistics,
  SupportsRuntimeV2Filtering, Statistics => V2Statistics}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.datasources.v2.parquet.{
  ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter,
  GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{LibCodec, ParquetFooter}
import graft.operators.ParquetFooter.{PqColumn, PqSchemaField}

/** `graftpq` — the engine's own parquet scan as a first-class Spark
  * DataSource V2. graft does the planning from its own metadata
  * readers; Spark's own parquet reader decodes the pages:
  *
  *  - '''schema''' from [[ParquetFooter]]'s bounded footer decode
  *    (footer-tail IO only, never a data byte), typed by Spark's
  *    `ParquetToSparkSchemaConverter`;
  *  - '''column pruning''' ([[SupportsPushDownRequiredColumns]]): only
  *    the requested leaves' chunks are ever read or decoded;
  *  - '''filter pushdown''' ([[SupportsPushDownFilters]]): numeric AND
  *    string comparisons, IN, LIKE-prefix, IS [NOT] NULL and null-safe
  *    equality prune whole FILES (partition dirs, commit manifest) and
  *    ROW GROUPS (footer min/max/null stats, split-block blooms) before
  *    any task launches, then PAGES within the survivors against the
  *    ColumnIndex/OffsetIndex (parquet-mr RowRanges semantics:
  *    per-column surviving page spans intersect). Every filter is
  *    still re-evaluated by Spark post-scan — stats pruning is
  *    page/group granular, so the pushed set is advisory, exactly
  *    like parquet-mr's;
  *  - '''split planning''': one [[InputPartition]] per surviving row
  *    group; each task hands Spark's `ParquetPartitionReaderFactory`
  *    exactly that group's byte span, checks the requested chunks'
  *    page headers first, and masks the rows to the planned page
  *    ranges minus the deletion-vector positions ([[GraftPqReader]])
  *    — at 100 TB a task touches O(its row group), not O(its file).
  *
  * Registered as `graftpq` via DataSourceRegister (META-INF/services),
  * so `spark.read.format("graftpq").load(dir)` resolves it. It reads
  * every shape Spark's parquet reader reads.
  */
class GraftParquet extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graftpq"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap)
      : StructType =
    GraftParquet.inferDirSchema(GraftParquet.pathOf(options))

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftParquetTable(schema,
      GraftParquet.pathOf(new CaseInsensitiveStringMap(properties)),
      GraftParquet.identityPartNames(partitioning, "graftpq"))
}

object GraftParquet {

  /** User `partitionBy` columns from the transforms `getTable`
    * receives (Spark passes `partitioningAsV2` through when the
    * provider supports external metadata) — identity transforms only;
    * bucket/years/etc. reject loudly.
    */
  private[sources] def identityPartNames(
      partitioning: Array[Transform], fmt: String): Seq[String] =
    partitioning.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        t.references()(0).fieldNames()(0)
      case t => throw new IllegalArgumentException(
        s"$fmt: unsupported partition transform $t (hive identity " +
          "partitioning only)")
    }

  /** The directory's current table schema (file leaves + partition
    * columns), empty for a missing/fresh target — shared by
    * schema inference and the write path's append validation (the
    * write path cannot use the Table's schema: Spark hands `getTable`
    * the QUERY's schema on writes).
    */
  private[sources] def inferDirSchema(path: String): StructType = {
    val dir = new java.io.File(path)
    // a missing/empty target has nothing to infer — legal for the
    // WRITE path (the analyzer takes the query's schema through
    // ACCEPT_ANY_SCHEMA); a READ of it still rejects loudly at
    // newScanBuilder
    if (!dir.exists() ||
        (dir.isDirectory && listFiles(path).isEmpty &&
          partitionColsOf(path).isEmpty))
      return new StructType()
    val partCols = partitionColsOf(path)
    // a COMMITTED table's schema comes from the tracked schema log —
    // zero file IO (the Delta shape: metadata queries over a
    // million-file table never open a file), and the only source that
    // still answers when data files are being rewritten under the
    // reader. Data columns keep the tracked order; partition columns
    // surface last, the same convention as the footer path below.
    if (new java.io.File(path, "_graft_log/version").exists()) {
      val sp = java.nio.file.Paths.get(
        graft.operators.Maintenance.schemaPath(path))
      if (java.nio.file.Files.exists(sp)) {
        val tracked = DataType.fromJson(
          java.nio.file.Files.readString(sp)).asInstanceOf[StructType]
        val partNames = partCols.map(_._1).toSet
        val data = tracked.fields
          .filterNot(f => partNames.contains(f.name))
          .map(f => StructField(f.name, f.dataType, nullable = true))
        return StructType(data ++ partCols.map { case (n, t) =>
          StructField(n, t, nullable = true)
        })
      }
    }
    val files = tableFiles(path, partCols.map(_._1))
      .map(_.map(_._1)).getOrElse {
        if (partCols.isEmpty) listFiles(path)
        else listPartitionedFiles(path, partCols.map(_._1))
          .map(_._1)
      }
    if (files.isEmpty) return new StructType()
    val base = sparkSchema(ParquetFooter.readTail(files.head.toPath))
    // partition columns live in dir names, not file leaves — appended
    // last, the same surface Spark's own file sources expose
    StructType(base.fields ++ partCols.map { case (n, t) =>
      StructField(n, t, nullable = true)
    })
  }

  private[sources] def pathOf(options: CaseInsensitiveStringMap)
      : String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graftpq: a `path` is required")
    // accept file: URIs (Spark normalizes load() paths through Hadoop)
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
  }

  private[sources] def listFiles(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (f.isFile) Seq(f)
    else {
      val kids = f.listFiles()
      require(kids != null, s"graftpq: cannot list $dir")
      kids.filter(c => c.isFile && c.getName.endsWith(".parquet"))
        .sortBy(_.getName).toSeq
    }
  }

  /** A footer's Spark schema: Spark's own converter over parquet-mr's
    * view of the schema graft's bounded decoder parsed, under the
    * session's parquet settings, so the schema graftpq reports is the
    * one Spark's reader decodes. Every field reads nullable, Spark's
    * file-source convention (a scan over many files cannot promise any
    * file's REQUIRED annotation holds across all of them).
    */
  private[sources] def sparkSchema(footer: ParquetFooter.PqFooter)
      : StructType = {
    val converter = new ParquetToSparkSchemaConverter(SQLConf.get)
    val m = footer.messageType
    val names = m.getFields.asScala.map(_.getName)
    require(names.distinct.length == names.length,
      s"graftpq: duplicate column names in ${names.mkString(", ")}")
    // field by field, so a column Spark's reader rejects is named
    graft.Tables.asNullable(StructType(m.getFields.asScala.toSeq.flatMap {
      t =>
        try converter.convert(new MessageType(m.getName, t)).fields
        catch {
          case NonFatal(e) =>
            throw new IllegalArgumentException(
              s"graftpq: column '${t.getName}': ${e.getMessage}", e)
        }
    })).asInstanceOf[StructType]
  }

  /** The footer's top-level primitive columns by name: the leaves whose
    * footer, page-index and bloom statistics describe rows one to one.
    */
  private[sources] def flatLeaves(schema: Seq[PqSchemaField])
      : Map[String, PqSchemaField] = {
    require(schema.nonEmpty, "graftpq: empty parquet schema")
    var i = 1 // skip the root element
    def skip(): PqSchemaField = {
      require(i < schema.length, "graftpq: torn schema list")
      val f = schema(i)
      i += 1
      (0 until f.numChildren).foreach(_ => skip())
      f
    }
    (0 until schema.head.numChildren).map(_ => skip())
      .filter(f => f.numChildren == 0 && !f.repetition.contains(2))
      .map(f => f.name -> f).toMap
  }

  /** The dotted paths of the file leaves a read of `data` decodes: a
    * leaf is requested when its path walks through `data`'s struct
    * fields by name; a list or map on the way brings every leaf under
    * it.
    */
  private[sources] def requestedPaths(schema: Seq[PqSchemaField],
      data: StructType): Set[String] = {
    require(schema.nonEmpty, "graftpq: empty parquet schema")
    val out = Set.newBuilder[String]
    var i = 1 // skip the root element
    def walk(prefix: String, want: Option[DataType]): Unit = {
      require(i < schema.length, "graftpq: torn schema list")
      val f = schema(i)
      i += 1
      val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      val mine = want.flatMap {
        case st: StructType => st.fields.find(_.name == f.name)
          .map(_.dataType)
        case other => Some(other)
      }
      if (f.numChildren == 0) { if (mine.isDefined) out += path }
      else (0 until f.numChildren).foreach(_ => walk(path, mine))
    }
    (0 until schema.head.numChildren).foreach(_ => walk("", Some(data)))
    out.result()
  }

  /** The Spark type of an INT32/INT64 leaf's statistics, from its
    * physical and converted type (what the commit manifest records);
    * None for anything else, which then answers no MIN/MAX.
    */
  private def intStatType(physicalType: Int, convertedType: Option[Int])
      : Option[DataType] = (physicalType, convertedType) match {
    case (1, None) => Some(IntegerType)
    case (1, Some(6)) => Some(DateType)
    case (1, Some(15)) => Some(ByteType)
    case (1, Some(16)) => Some(ShortType)
    case (2, None) => Some(LongType)
    case (2, Some(10)) => Some(TimestampType) // TIMESTAMP_MICROS
    case _ => None
  }

  /** Whether group-relative row `pos` lies in one of the sorted
    * disjoint `[start, end)` pairs of `ranges`.
    */
  private[sources] def inRanges(ranges: Array[Long], pos: Long): Boolean = {
    var lo = 0
    var hi = ranges.length / 2
    while (lo < hi) { // first pair whose end is past pos
      val mid = (lo + hi) >>> 1
      if (ranges(2 * mid + 1) <= pos) lo = mid + 1 else hi = mid
    }
    lo < ranges.length / 2 && ranges(2 * lo) <= pos
  }

  /** Hive path-segment unescape: `%XX` encodes the CHAR with that hex
    * code (Hive escapes only chars < 256; non-ASCII stays literal) —
    * the inverse of the escaping Spark applies when writing partition
    * dirs. Malformed escapes pass through literally (conservative).
    */
  /** Hive-style `%XX` escaping for a partition VALUE landing in a
    * `col=value` directory name — the inverse of [[unescapePathName]].
    * Escapes the path-hostile set (separators, the escape char itself,
    * `=`, globbing/metadata characters, controls); everything else
    * passes through, matching the layout Spark's own writer produces
    * for the common value shapes.
    */
  private[sources] def escapePathName(s: String): String = {
    if (s.isEmpty) return s
    val sb = new StringBuilder(s.length)
    s.foreach { c =>
      if (c < ' ' || "%/\\:=#*?\"'<>|{}[]^".indexOf(c) >= 0)
        sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  private[sources] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** One partition value to Spark's internal representation. */
  private[sources] def partitionValue(dt: DataType,
      raw: Option[String]): Any = raw match {
    case None => null
    case Some(s) => dt match {
      case StringType => UTF8String.fromString(s)
      case IntegerType => java.lang.Integer.valueOf(s.trim)
      case LongType => java.lang.Long.valueOf(s.trim)
      case ShortType => java.lang.Short.valueOf(s.trim)
      case ByteType => java.lang.Byte.valueOf(s.trim)
      case DoubleType => java.lang.Double.valueOf(s.trim)
      case FloatType => java.lang.Float.valueOf(s.trim)
      case BooleanType => java.lang.Boolean.valueOf(s.trim)
      case DateType =>
        Int.box(java.time.LocalDate.parse(s.trim).toEpochDay.toInt)
      case t => throw new IllegalArgumentException(
        s"graftpq: partition column type ${t.simpleString} unsupported")
    }
  }

  /** The internal-representation family a hive partition VALUE can
    * round-trip through a `col=value` dir name — exactly the types
    * [[partitionValue]] parses back.
    */
  private[sources] def partitionValueWritable(dt: DataType): Boolean =
    dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
        DoubleType | FloatType | BooleanType | DateType => true
      case _ => false
    }

  /** One INTERNAL partition value rendered to its dir-name string (the
    * caller escapes) — the inverse of [[partitionValue]].
    */
  private[sources] def partitionValueString(dt: DataType, v: Any)
      : String = dt match {
    case StringType => v.asInstanceOf[UTF8String].toString
    case DateType =>
      java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)
        .toString
    case _ => v.toString // Int/Long/Short/Byte/Double/Float/Boolean
  }

  /** The scan's partition columns: a committed table's come TRACKED
    * (types from the commit protocol's schema log); a plain directory
    * in the hive `col=value` layout (`df.write.partitionBy(...)`,
    * any writer) gets DISCOVERY — column names from the dir chain,
    * types inferred over the observed values in Spark's own order
    * (int → long → double → date → string, nulls excluded). Empty for
    * flat dirs.
    */
  private[sources] def partitionColsOf(path: String)
      : Seq[(String, DataType)] = {
    if (!new java.io.File(path, "_graft_log/version").exists())
      discoverPartitionCols(path)
    else {
      val cols = graft.operators.Maintenance.readPartitioning(path)
      if (cols.isEmpty) Nil
      else {
        val sp = java.nio.file.Paths.get(
          graft.operators.Maintenance.schemaPath(path))
        val types: Map[String, DataType] =
          if (!java.nio.file.Files.exists(sp)) Map.empty
          else DataType.fromJson(java.nio.file.Files.readString(sp))
            .asInstanceOf[StructType].fields
            .map(f => f.name -> f.dataType).toMap
        cols.map(c => c -> types.getOrElse(c, StringType))
      }
    }
  }

  /** Hive-layout partition DISCOVERY for plain directories: engaged
    * only when the root holds no data files and every visible child is
    * a `col=value` dir; names come from the first chain, every file is
    * then listed through the validating walker (inconsistent layouts
    * reject loudly there), and each column's type is inferred over its
    * observed values. `__HIVE_DEFAULT_PARTITION__` (null) contributes
    * nothing to inference.
    */
  private[sources] def discoverPartitionCols(path: String,
      ext: String = ".parquet"): Seq[(String, DataType)] = {
    val root = new java.io.File(path)
    val kids = Option(root.listFiles()).getOrElse(return Nil)
    if (kids.exists(f => f.isFile && f.getName.endsWith(ext)))
      return Nil // flat layout: files at the root win
    val dirKids = kids.filter(d => d.isDirectory &&
      !d.getName.startsWith("_") && !d.getName.startsWith("."))
    if (dirKids.isEmpty || !dirKids.forall(_.getName.contains("=")))
      return Nil
    def chainNames(d: java.io.File): Seq[String] = {
      val n = d.getName.split("=", 2)(0)
      val sub = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(x => x.isDirectory && x.getName.contains("=") &&
          !x.getName.startsWith("_") && !x.getName.startsWith("."))
      if (sub.isEmpty) Seq(n)
      else n +: chainNames(sub.minBy(_.getName))
    }
    val names = chainNames(dirKids.minBy(_.getName))
    val files = listPartitionedFiles(path, names, ext)
    if (files.isEmpty) Nil
    else names.zipWithIndex.map { case (n, i) =>
      n -> inferPartType(files.flatMap(_._2(i)))
    }
  }

  /** Spark's partition-value inference order over non-null values. */
  private def inferPartType(vals: Seq[String]): DataType =
    if (vals.isEmpty) StringType
    else if (vals.forall(_.toIntOption.isDefined)) IntegerType
    else if (vals.forall(_.toLongOption.isDefined)) LongType
    else if (vals.forall(_.toDoubleOption.isDefined)) DoubleType
    else if (vals.forall(v =>
      scala.util.Try(java.time.LocalDate.parse(v)).isSuccess)) DateType
    else StringType

  /** List a partitioned committed table's data files with each file's
    * raw partition values, walking exactly `partCols.length` levels of
    * `col=value` dirs (log/stage/hidden dirs skipped). Dir names must
    * carry the recorded columns in order — anything else is a torn
    * layout and rejects loudly.
    */
  private[sources] def listPartitionedFiles(root: String,
      partCols: Seq[String], ext: String = ".parquet")
      : Seq[(java.io.File, Seq[Option[String]])] = {
    def walk(dir: java.io.File, vals: List[Option[String]], depth: Int)
        : Seq[(java.io.File, Seq[Option[String]])] = {
      val kids = dir.listFiles()
      require(kids != null, s"graftpq: cannot list $dir")
      if (depth == partCols.length)
        kids.filter(c => c.isFile && c.getName.endsWith(ext))
          .sortBy(_.getName).toSeq.map(f => (f, vals.reverse))
      else kids.filter(c => c.isDirectory && !c.getName.startsWith("_") &&
          !c.getName.startsWith(".")).sortBy(_.getName).toSeq.flatMap { d =>
        d.getName.split("=", 2) match {
          case Array(k, v) if k == partCols(depth) =>
            val value =
              if (v == "__HIVE_DEFAULT_PARTITION__") None
              else Some(unescapePathName(v))
            walk(d, value :: vals, depth + 1)
          case _ => throw new IllegalArgumentException(
            s"graftpq: dir '${d.getName}' where partition " +
              s"'${partCols(depth)}=...' was expected")
        }
      }
    }
    walk(new java.io.File(root), Nil, 0)
  }

  /** Partition values parsed from a table-relative path's `col=value`
    * directory segments, in the table's recorded column order. A
    * recorded column missing from the path is a torn table and fails
    * loudly — a partitioned table's commit log records every file
    * under its full partition chain.
    */
  private[sources] def partValsFromRel(rel: String,
      partCols: Seq[String]): Map[String, Option[String]] = {
    val segs = rel.split('/').dropRight(1)
    partCols.map { c =>
      c -> segs.collectFirst {
        case seg if seg.startsWith(s"$c=") =>
          val raw = seg.substring(c.length + 1)
          if (raw == "__HIVE_DEFAULT_PARTITION__") None
          else Some(unescapePathName(raw))
      }.getOrElse(throw new IllegalStateException(
        s"graftpq: committed file '$rel' lacks partition dir '$c=' " +
          "(torn table: the commit log records files under their " +
          "full partition chain)"))
    }.toMap
  }

  /** A committed table's data files WITH partition values, served from
    * the commit log's listings instead of a directory walk: the add
    * deltas already record table-relative paths (partition dirs
    * included), so planning IO over a partitioned committed table is a
    * handful of small log files — never an O(files-ever) tree LIST (at
    * 100 TB on an object store, the difference between one round trip
    * and thousands). None when the log does not cover the current
    * version (pre-protocol table) — callers fall back to the walking
    * listers, slower but correct. A listed file that does not exist is
    * a vacuumed-or-torn table and fails LOUDLY (silently skipping it
    * would under-count).
    */
  private[sources] def tableFiles(path: String, partCols: Seq[String])
      : Option[Seq[(java.io.File, Map[String, Option[String]])]] =
    graft.operators.Maintenance.liveFileListing(path).map { rels =>
      rels.map { rel =>
        val f = new java.io.File(path, rel)
        require(f.isFile, s"graftpq: commit log lists '$rel' but no " +
          s"such data file exists under $path (vacuumed or torn table)")
        f -> (if (partCols.isEmpty) Map.empty[String, Option[String]]
              else partValsFromRel(rel, partCols))
      }
    }

  /** Order-preserving parallel flatMap for driver-side planning IO:
    * per-file footer-tail / page-index / bloom reads are pure
    * positional fetches with no shared state, so they overlap on a
    * bounded pool instead of serializing — at 100 TB, planning a
    * 10k-file scan is 10k independent KB-scale round trips, and
    * overlapping them is the difference between sub-second and
    * minutes of driver time. Output order matches input order (LIMIT
    * capping and partition ids stay deterministic); a failing file
    * rethrows its ORIGINAL exception (loud rejects keep their names).
    */
  /** Shared planning pool, created lazily on first parallel plan and
    * reused for the life of the JVM (daemon threads — never blocks
    * exit). A fresh pool per call was fine for one-shot batch planning
    * but [[GraftPqStream]] calls [[planPar]] on EVERY streaming
    * micro-batch: per-trigger thread create + shutdownNow churn on the
    * hot path. The pool is safe to share because every submitted task
    * is a self-contained positional read with no shared mutable state;
    * re-entrancy (a task itself calling planPar) runs INLINE on the
    * pool thread — a nested wait on the same bounded pool could
    * otherwise deadlock with all threads blocked on subtasks.
    */
  private val planPoolSize = math.max(1, math.min(16,
    Runtime.getRuntime.availableProcessors - 2))
  private val planThreadNum =
    new java.util.concurrent.atomic.AtomicInteger()
  // one name prefix for shared AND dedicated pool threads: the
  // re-entrancy check below keys on it, so a nested planPar from
  // either pool runs inline instead of deadlocking on its own pool
  private def newPlanPool() =
    java.util.concurrent.Executors.newFixedThreadPool(planPoolSize,
      (r: Runnable) => {
        val t = new Thread(r,
          s"graft-plan-${planThreadNum.getAndIncrement()}")
        t.setDaemon(true)
        t
      })
  private lazy val planPool = newPlanPool()

  /** Batches larger than this run on a DEDICATED pool for the call
    * instead of the shared one: the shared executor is a single FIFO
    * queue, so a 10k-file sweep would otherwise occupy it end-to-end
    * and head-of-line-block every CONCURRENT caller — e.g. another
    * streaming query's handful of per-trigger footer reads — for the
    * sweep's whole duration. Pool creation (~ms) amortizes over ≥ this
    * many tasks; small batches (the per-trigger hot path the shared
    * pool exists for) stay on the shared pool with zero churn.
    */
  private val dedicatedPoolThreshold = 64

  private[graft] def planPar[A, B](items: Seq[A])(fn: A => Seq[B])
      : Seq[B] = {
    val inline = planPoolSize <= 1 || items.length <= 1 ||
      Thread.currentThread().getName.startsWith("graft-plan-")
    if (inline) return items.flatMap(fn)
    def awaitAll(futs: Seq[java.util.concurrent.Future[Seq[B]]])
        : Seq[B] =
      futs.flatMap { fu =>
        try fu.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    def submit(pool: java.util.concurrent.ExecutorService, a: A) =
      pool.submit(new java.util.concurrent.Callable[Seq[B]] {
        def call(): Seq[B] = fn(a)
      })
    if (items.length > dedicatedPoolThreshold) {
      val pool = newPlanPool()
      try awaitAll(items.map(submit(pool, _)))
      finally pool.shutdownNow()
    } else {
      val futs = items.map(submit(planPool, _))
      try awaitAll(futs)
      catch {
        case t: Throwable =>
          // the pool is shared and JVM-lifetime: a failing plan must
          // cancel its own outstanding tasks (the per-call shutdownNow
          // of the dedicated path does it implicitly), or a sweep that
          // dies on file 3 leaves its remaining reads queued ahead of
          // the next streaming trigger's planning batch
          futs.foreach(_.cancel(true))
          throw t
      }
    }
  }

  // ---------------------------------------------------------------
  // ROW-EXACT partition predicates. A hive `col=value` dir is not a
  // statistic — it is the value of every row in the file — so
  // equality-shaped predicates on partition columns can be CONSUMED
  // by the scan (removed from Spark's post-scan re-evaluation)
  // provided the scan applies them EXACTLY, file-in-or-file-out.
  // Consuming them is what lets aggregate pushdown compose with
  // partition predicates (`count(*) WHERE bucket = 2` answers from
  // metadata — Spark only attempts the agg push when no post-scan
  // filter remains) and re-arms the LIMIT/TOP-N planning caps (every
  // surviving row provably matches). Comparisons stay typed: the
  // literal and the parsed dir value meet in the same internal
  // representation, never via string forms (a foreign writer's "02"
  // dir still equals the literal 2).

  /** The pushed literal in the partition column's INTERNAL form —
    * None when the literal's runtime type does not match the column
    * (the filter then stays residual; never consumed on a guess).
    * [[normTemporal]] must have run first (dates arrive as day ints).
    */
  private def partLiteral(dt: DataType, v: Any): Option[Any] =
    (dt, v) match {
      case (StringType, s: String) => Some(UTF8String.fromString(s))
      case (IntegerType | DateType, i: java.lang.Integer) => Some(i)
      case (LongType, l: java.lang.Long) => Some(l)
      case (ShortType, s: java.lang.Short) => Some(s)
      case (ByteType, b: java.lang.Byte) => Some(b)
      case (DoubleType, d: java.lang.Double) => Some(d)
      case (FloatType, f: java.lang.Float) => Some(f)
      case _ => None
    }

  /** True when the (temporal-normalized) filter is an exactly-
    * consumable partition predicate: equality / IN / null tests on a
    * partition column with type-matched literals.
    */
  private[sources] def partitionExact(f: Filter,
      partType: Map[String, DataType]): Boolean = f match {
    case EqualTo(c, v) => v != null &&
      partType.get(c).exists(partLiteral(_, v).isDefined)
    case EqualNullSafe(c, null) => partType.contains(c)
    case EqualNullSafe(c, v) =>
      partType.get(c).exists(partLiteral(_, v).isDefined)
    case In(c, vs) => vs != null && partType.get(c).exists(dt =>
      vs.forall(v => v == null || partLiteral(dt, v).isDefined))
    case IsNull(c) => partType.contains(c)
    case IsNotNull(c) => partType.contains(c)
    case _ => false
  }

  /** Exact evaluation of a consumed partition predicate against one
    * file's dir values — the SQL three-valued semantics collapsed to
    * the boolean a WHERE clause keeps: a null partition value matches
    * only IS NULL / null-safe-equals-null.
    */
  private[sources] def evalPartitionExact(f: Filter,
      partType: Map[String, DataType],
      partVals: Map[String, Option[String]]): Boolean = {
    def value(c: String): Option[Any] =
      partVals.get(c).flatten
        .map(raw => partitionValue(partType(c), Some(raw)))
    f match {
      case EqualTo(c, v) =>
        value(c).exists(pv => partLiteral(partType(c), v).contains(pv))
      case EqualNullSafe(c, null) => partVals.get(c).exists(_.isEmpty)
      case EqualNullSafe(c, v) =>
        value(c).exists(pv => partLiteral(partType(c), v).contains(pv))
      case In(c, vs) => value(c).exists(pv =>
        vs.exists(m => m != null &&
          partLiteral(partType(c), m).contains(pv)))
      case IsNull(c) => partVals.get(c).exists(_.isEmpty)
      case IsNotNull(c) => partVals.get(c).exists(_.isDefined)
      case _ => true // never consumed: unreachable by construction
    }
  }

  /** A pushed `ORDER BY col LIMIT k`, normalized: `asc`/`nullsFirst`
    * from the single SortOrder.
    */
  private[sources] final case class PqTopN(col: String, asc: Boolean,
      nullsFirst: Boolean, k: Int)

  /** Spark's string order for stat bounds: UTF8String comparison =
    * unsigned UTF-8 byte order = code point order (UTF-16
    * `String.compareTo` would misorder supplementary characters).
    */
  private[sources] val utf8Ord: Ordering[UTF8String] =
    (a: UTF8String, b: UTF8String) => a.compareTo(b)

  /** [[topNKeep]] over sign-extended-long bounds in NATURAL (min,
    * max) order — the Long.MinValue sentinel filter (statLong's
    * decode-failure marker, which negation would corrupt) and the
    * DESC negation live in this ONE place for every caller (row-group
    * tier, file tier, ORC stripes).
    */
  private[sources] def topNKeepLong(t: PqTopN,
      gs: Seq[(Long, Option[Long], Option[(Long, Long)])])
      : Option[Array[Boolean]] =
    topNKeep(t, gs.map { case (rows, nulls, b) =>
      (rows, nulls, b
        .filter { case (mn, mx) =>
          mn != Long.MinValue && mx != Long.MinValue }
        .map { case (mn, mx) => if (t.asc) (mn, mx) else (-mx, -mn) })
    })

  /** [[topNKeep]] over exact string bounds in NATURAL (min, max)
    * order — the UTF8String rank ordering and the DESC bound swap in
    * ONE place, mirroring [[topNKeepLong]].
    */
  private[sources] def topNKeepStr(t: PqTopN,
      gs: Seq[(Long, Option[Long], Option[(UTF8String, UTF8String)])])
      : Option[Array[Boolean]] =
    topNKeep(t, gs.map { case (rows, nulls, b) =>
      (rows, nulls,
        b.map { case (mn, mx) => if (t.asc) (mn, mx) else (mx, mn) })
    })(if (t.asc) utf8Ord else utf8Ord.reverse)

  /** The TOP-N group-dominance pass, shared by both formats and any
    * totally ordered rank domain (sign-extended longs for the
    * int-backed family, [[utf8Ord]] UTF8Strings for exact string
    * stats). Each group is (rows, known null count, rank-domain
    * bounds) — bounds already normalized so dominance is always
    * `hi < lo` under `ord` (DESC callers negate longs, or pass the
    * reversed ordering with swapped bounds). A group is dropped when
    * at least k rows PROVABLY rank STRICTLY before its every row;
    * strictness keeps ties, so equal-valued groups never eliminate
    * each other, and soundness follows by induction down the rank
    * order (a dropped dominator's own dominators rank even earlier; a
    * group with no strict dominator is always kept). Under NULLS
    * FIRST a group that may hold a null is kept (nulls tie with
    * nulls) and every known null counts as a dominator; under NULLS
    * LAST only non-null rows dominate (they also outrank a dropped
    * group's trailing nulls). Groups with missing stats are kept and
    * contribute nothing. Returns None when nothing prunes.
    */
  private[sources] def topNKeep[T](t: PqTopN,
      gs: Seq[(Long, Option[Long], Option[(T, T)])])(
      implicit ord: Ordering[T])
      : Option[Array[Boolean]] = {
    // non-null row counts, prefix-summed in hi order, so "rows ranked
    // strictly before lo(g)" is one binary search
    val known = gs.collect {
      case (rows, Some(nulls), Some((_, hi))) => (rows - nulls, hi)
    }.sortBy(_._2)
    val hiArr = known.map(_._2).toIndexedSeq
    val pref = known.scanLeft(0L)(_ + _._1).toArray
    def nonnullBefore(x: T): Long = {
      var lo = 0
      var hi = hiArr.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (ord.lt(hiArr(m), x)) lo = m + 1 else hi = m
      }
      pref(lo)
    }
    val totalNulls = gs.flatMap(_._2).sum
    val keep: Array[Boolean] = gs.map {
      case (_, nullsOpt, boundsOpt) =>
        (nullsOpt, boundsOpt) match {
          case (Some(nulls), Some((lo, _))) =>
            if (t.nullsFirst && nulls > 0) true
            else {
              val dom = nonnullBefore(lo) +
                (if (t.nullsFirst) totalNulls - nulls else 0L)
              dom < t.k
            }
          case _ => true
        }
    }.toArray
    if (keep.forall(identity)) None else Some(keep)
  }

  // ------------------------------------------------------------------
  // Aggregate pushdown: COUNT(*) / COUNT(col) / MIN / MAX answered
  // ENTIRELY from footer statistics — at 100 TB a `SELECT count(*),
  // min(ts), max(ts)` over a million-file table costs one footer tail
  // per file (the same IO planning already pays) and ZERO data bytes.
  // Spark's partial-pushdown contract (V2ScanRelationPushDown): the
  // scan's readSchema lists the group-by columns then one field per
  // aggregate, POSITIONALLY zipped with the pushed Aggregation, and
  // the final Aggregate above the scan merges partials (MIN of mins,
  // SUM of counts) — so per-file partial rows merge exactly.

  private[sources] sealed trait PqAggKind extends Serializable
  private[sources] case object PqCountStar extends PqAggKind
  private[sources] final case class PqCountCol(col: String)
    extends PqAggKind
  private[sources] final case class PqMin(col: String) extends PqAggKind
  private[sources] final case class PqMax(col: String) extends PqAggKind
  /** SUM from statistics — only ORC records one (IntegerStatistics
    * field 3, dropped by the writer on overflow); parquet planning
    * never produces this kind.
    */
  private[sources] final case class PqSum(col: String) extends PqAggKind

  private[sources] final case class PqAggSpec(kind: PqAggKind,
      label: String, dt: DataType)

  /** One pre-merged output row: raw partition-dir strings for the
    * group-by columns plus one partial value per aggregate (internal
    * representations — boxed primitives / UTF8String / null).
    */
  private[sources] final case class PqAggRow(group: Seq[Option[String]],
      vals: Array[Any])

  private[sources] final case class PqPushedAgg(
      groupCols: Seq[(String, DataType)], specs: Seq[PqAggSpec],
      rows: Seq[PqAggRow]) {
    def aggSchema: StructType = StructType(
      groupCols.map { case (n, dt) =>
        StructField(n, dt, nullable = true) } ++
      specs.map(s => StructField(s.label, s.dt, nullable = true)))
  }

  /** Total order on the internal representation of `dt` (the types
    * minMaxType admits); mirrors Spark's ordering for them.
    */
  private def cmpTyped(dt: DataType, a: Any, b: Any): Int = dt match {
    case ByteType => java.lang.Byte.compare(a.asInstanceOf[Byte],
      b.asInstanceOf[Byte])
    case ShortType => java.lang.Short.compare(a.asInstanceOf[Short],
      b.asInstanceOf[Short])
    case IntegerType | DateType => java.lang.Integer.compare(
      a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case FloatType => java.lang.Float.compare(a.asInstanceOf[Float],
      b.asInstanceOf[Float])
    case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double],
      b.asInstanceOf[Double])
    case StringType => a.asInstanceOf[UTF8String]
      .compareTo(b.asInstanceOf[UTF8String])
    case t => throw new IllegalArgumentException(
      s"graftpq: no stat ordering for ${t.simpleString}")
  }

  /** Decode a chunk min/max statistic to the column's INTERNAL Spark
    * value (Date stays its day int, Timestamp its micro long). Only
    * the integer-backed family — float/double MIN/MAX is NEVER
    * answered from stats: writers (parquet-mr included) skip NaN when
    * folding min/max, while Spark's MIN/MAX order NaN above
    * everything, so a stat-true bound can still be value-false.
    */
  private def statTyped(dt: DataType, physicalType: Int,
      b: Array[Byte]): Option[Any] = dt match {
    case ByteType =>
      Some(Byte.box(ParquetFooter.statLong(physicalType, b).toByte))
    case ShortType =>
      Some(Short.box(ParquetFooter.statLong(physicalType, b).toShort))
    case IntegerType | DateType =>
      Some(Int.box(ParquetFooter.statLong(physicalType, b).toInt))
    case LongType | TimestampType | TimestampNTZType =>
      Some(Long.box(ParquetFooter.statLong(physicalType, b)))
    // engaged ONLY behind the exact-writer gate (see minMaxType):
    // parquet UTF8 stats order = unsigned byte order = code point
    // order, exactly UTF8String's comparison
    case StringType => Some(UTF8String.fromBytes(b))
    case _ => None
  }

  /** The manifest's sign-extended long decoded to the column's
    * internal Spark value — the [[statTyped]] narrowing without the
    * byte decode (the commit-time manifest already folded the raw
    * stat bytes through [[ParquetFooter.statLong]]).
    */
  private def statTypedLong(dt: DataType, v: Long): Option[Any] =
    dt match {
      case ByteType => Some(Byte.box(v.toByte))
      case ShortType => Some(Short.box(v.toShort))
      case IntegerType | DateType => Some(Int.box(v.toInt))
      case LongType | TimestampType | TimestampNTZType =>
        Some(Long.box(v))
      case _ => None
    }

  /** Translate a pushed [[Aggregation]] and pre-compute its per-group
    * partial rows from METADATA alone. None — and the scan falls back
    * to a data read — when any shape or statistic needed for an EXACT
    * answer is missing: group-by columns must be partition-dir columns
    * (their values hold file-wide), MIN/MAX columns either partition
    * columns (exact dir values, any parsable type) or flat int-backed
    * leaves with min/max present on every non-empty row group (strings
    * only behind the exact-writer gate below; float/double never — the
    * NaN hazard, see [[statTyped]]), COUNT(col) needs null counts
    * everywhere, and a table with outstanding deletion vectors answers
    * nothing from stats (a deleted row might be the min).
    *
    * TWO METADATA TIERS. A COMMITTED table answers from the commit
    * log's exact agg-stats manifest (`_graft_log/aggstats.tsv`,
    * recorded from each append's footers at commit time): the plan
    * reads the log listing plus one manifest — ZERO file IO, where the
    * footer tier's sequential driver-side tail sweep was the one
    * O(files) planning cost left at 100 TB. Plain directories (and
    * committed tables whose manifest does not cover every live file —
    * rewritten or bootstrap data) take the footer-tail tier.
    *
    * STRING MIN/MAX (footer tier): chunk stats carry no exactness
    * flag and writers MAY truncate binary stats, so string extremes
    * from a foreign file are bounds, not answers. This engine's own
    * writer ([[graft.operators.ParquetWrite]]) never truncates —
    * spec-pinned — so when EVERY footer's `created_by` is the
    * engine's, string MIN/MAX answer exactly from chunk stats (the
    * per-file sweep re-checks each footer, not just the head).
    */
  private[sources] def planAggregation(agg: Aggregation, path: String,
      consumed: Array[Filter] = Array.empty): Option[PqPushedAgg] = {
    val isTable =
      new java.io.File(path, "_graft_log/version").exists()
    if (isTable &&
        graft.operators.Maintenance.outstandingDvFiles(path).nonEmpty)
      return None
    val partCols = partitionColsOf(path)
    val partNames = partCols.map(_._1)
    val partType = partCols.toMap
    val groupsOpt = agg.groupByExpressions.toSeq.map(aggRef)
    if (groupsOpt.exists(_.isEmpty)) return None
    val groups = groupsOpt.flatten
    if (!groups.forall(partNames.contains)) return None

    // consumed partition predicates apply EXACTLY (WHERE before GROUP
    // BY: dropped files contribute to no group, and a global
    // aggregate over zero surviving files still answers count 0)
    def keepByConsumed(partVals: Map[String, Option[String]]): Boolean =
      consumed.forall(evalPartitionExact(_, partType, partVals))

    // manifest tier: a committed table whose exact agg-stats manifest
    // covers every live file never opens a file. A covered table the
    // MANIFEST cannot answer (string MIN/MAX — recorded nowhere in the
    // manifest but answerable by the footer tier's exact-writer gate;
    // or a column absent from a file's recorded leaves) FALLS THROUGH
    // to the footer tier instead of abandoning the pushdown: slower
    // planning, same exact answer.
    if (isTable) {
      val rels = graft.operators.Maintenance.liveFileListing(path)
      val man = graft.operators.Maintenance.readAggStats(path)
      rels match {
        case Some(rs) if rs.nonEmpty && rs.forall(man.contains) =>
          val kept = rs.filter(rel => keepByConsumed(
            if (partNames.isEmpty) Map.empty
            else partValsFromRel(rel, partNames)))
          if (kept.nonEmpty) {
            val m = planAggFromManifest(agg, partCols, groups, kept, man)
            if (m.isDefined) return m
            // manifest can't answer: footer tier below
          }
          // zero surviving files: the empty-answer shaping below
        case _ => () // incomplete coverage: footer tier below
      }
    }

    val files: Seq[(java.io.File, Map[String, Option[String]])] =
      (if (isTable) tableFiles(path, partNames) else None).getOrElse {
        if (partCols.isEmpty)
          listFiles(path).map((_, Map.empty[String, Option[String]]))
        else listPartitionedFiles(path, partNames)
          .map { case (f, vs) => (f, partNames.zip(vs).toMap) }
      }.filter { case (_, pv) => keepByConsumed(pv) }
    if (files.isEmpty) {
      // nothing survives a consumed predicate: zero partial rows are
      // the EXACT answer (the final Aggregate emits count-0/null for
      // a global agg, no groups for GROUP BY) — but only when every
      // output type is derivable without a footer (counts are Long,
      // partition extremes are tracked; a data-leaf MIN/MAX falls
      // back to the regular zero-partition scan)
      if (consumed.isEmpty) return None
      val specsOpt = agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some(PqAggSpec(PqCountStar, "count(*)", LongType))
        case c: Count if !c.isDistinct =>
          aggRef(c.column())
            .map(n => PqAggSpec(PqCountCol(n), s"count($n)", LongType))
        case m: Min => for { n <- aggRef(m.column())
          dt <- partType.get(n) } yield PqAggSpec(PqMin(n), s"min($n)", dt)
        case m: Max => for { n <- aggRef(m.column())
          dt <- partType.get(n) } yield PqAggSpec(PqMax(n), s"max($n)", dt)
        case _ => None
      }
      if (specsOpt.exists(_.isEmpty) || specsOpt.isEmpty) return None
      return Some(PqPushedAgg(groups.map(g => g -> partType(g)),
        specsOpt.flatten, Vector.empty))
    }

    // shape the specs against the first footer; every file re-checks
    // its own chunks (and, for strings, its own created_by) during
    // the sweep below
    val headFooter = ParquetFooter.readTail(files.head._1.toPath)
    val headLeaves = flatLeaves(headFooter.schema)
    val headTypes = sparkSchema(headFooter)
    val headExactStrings =
      headFooter.createdBy.contains(graft.operators.ParquetWrite.createdBy)
    // MIN/MAX: partition columns answer from their EXACT dir values
    // (strings included); data leaves from int-backed stats, plus
    // UTF8 leaves behind the exact-writer gate; float/double never
    // (the NaN hazard, see statTyped)
    def minMaxType(c: String): Option[DataType] =
      partType.get(c).filter {
        case ByteType | ShortType | IntegerType | LongType |
          StringType | DateType => true
        case _ => false
      }.orElse(headLeaves.get(c).flatMap {
        // int-backed stats (unsigned and DECIMAL storage excluded),
        // typed as Spark's converter types the column
        case f if Set(1, 2).contains(f.physicalType) &&
            !f.convertedType.exists(ct => ct == 5 ||
              (ct >= 11 && ct <= 14)) =>
          headTypes.find(_.name == c).map(_.dataType).filter {
            case ByteType | ShortType | IntegerType | LongType |
              DateType | TimestampType | TimestampNTZType => true
            case _ => false
          }
        case f if headExactStrings && f.physicalType == 6 &&
            (f.convertedType.contains(0) ||
              f.convertedType.contains(4)) => Some(StringType)
        case _ => None
      })
    val specsOpt = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(PqAggSpec(PqCountStar, "count(*)", LongType))
      case c: Count if !c.isDistinct =>
        aggRef(c.column())
          .filter(n => partNames.contains(n) || headLeaves.contains(n))
          .map(n => PqAggSpec(PqCountCol(n), s"count($n)", LongType))
      case m: Min => for { n <- aggRef(m.column()); dt <- minMaxType(n) }
        yield PqAggSpec(PqMin(n), s"min($n)", dt)
      case m: Max => for { n <- aggRef(m.column()); dt <- minMaxType(n) }
        yield PqAggSpec(PqMax(n), s"max($n)", dt)
      case _ => None
    }
    if (specsOpt.exists(_.isEmpty) || specsOpt.isEmpty) return None
    val specs = specsOpt.flatten

    // per-file partials computed in PARALLEL (each is one independent
    // footer-tail read — the same bounded-pool overlap as the scan
    // planner); the per-group fold below stays sequential and cheap.
    // Right(None) = zero-row file under GROUP BY (contributes nothing
    // — SQL emits only groups with rows; a GLOBAL aggregate still
    // accumulates count 0 / null extremes), Left = a stat needed for
    // exactness is missing and the whole pushdown rejects.
    val perFile: Seq[Either[Unit,
        Option[(Seq[Option[String]], Array[Any])]]] =
      planPar(files) { case (f, partVals) =>
        val footer = ParquetFooter.readTail(f.toPath)
        val leaves = flatLeaves(footer.schema)
        // exactness is PER FILE: a directory mixing engine-written and
        // foreign files keeps string extremes only if every file
        // proves its own stats untruncated
        val exactStrings = footer.createdBy
          .contains(graft.operators.ParquetWrite.createdBy)
        val rgs = footer.rowGroups
        val fileRows = rgs.map(_.numRows).sum
        if (groups.nonEmpty && fileRows == 0) Seq(Right(None))
        else {
          def chunkOf(rg: PqRowGroupAlias, c: String): Option[PqColumn] =
            rg.columns.find(_.path == c)
          val partials: Array[Any] = new Array[Any](specs.length)
          var ok = true
          specs.zipWithIndex.foreach { case (spec, i) =>
            if (ok) spec.kind match {
              case PqCountStar => partials(i) = Long.box(fileRows)
              case PqCountCol(c) if partNames.contains(c) =>
                partials(i) =
                  Long.box(if (partVals(c).isDefined) fileRows else 0L)
              case PqCountCol(c) =>
                var n = 0L
                rgs.foreach { rg =>
                  chunkOf(rg, c).flatMap(_.nullCount) match {
                    case Some(nc) => n += rg.numRows - nc
                    case None => ok = false // no null count: not exact
                  }
                }
                partials(i) = Long.box(n)
              case PqMin(c) if partNames.contains(c) =>
                partials(i) =
                  if (fileRows == 0) null
                  else partitionValue(partType(c), partVals(c))
              case PqMax(c) if partNames.contains(c) =>
                partials(i) =
                  if (fileRows == 0) null
                  else partitionValue(partType(c), partVals(c))
              case PqMin(c) =>
                partials(i) = statExtreme(rgs, leaves, c, spec.dt,
                  wantMin = true, exactStrings)
                  .getOrElse { ok = false; null }
              case PqMax(c) =>
                partials(i) = statExtreme(rgs, leaves, c, spec.dt,
                  wantMin = false, exactStrings)
                  .getOrElse { ok = false; null }
            }
          }
          if (!ok) Seq(Left(()))
          else Seq(Right(Some((groups.map(partVals), partials))))
        }
      }
    if (perFile.exists(_.isLeft)) return None
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Option[String]], Array[Any]]
    perFile.foreach {
      case Right(Some((key, partials))) =>
        acc.get(key) match {
          case None => acc(key) = partials
          case Some(old) =>
            specs.zipWithIndex.foreach { case (spec, i) =>
              old(i) = mergePartial(spec, old(i), partials(i))
            }
        }
      case _ => ()
    }
    Some(PqPushedAgg(groups.map(g => g -> partType(g)), specs,
      acc.iterator.map { case (k, v) => PqAggRow(k, v) }.toVector))
  }

  private def aggRef(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }

  /** The manifest tier of [[planAggregation]]: per-group partials
    * folded from the commit log's exact agg-stats manifest — the
    * caller proved it covers every live file, so NO file is ever
    * opened (spec-pinned by poisoning whole data files). Column types
    * come from the manifest's recorded physical/converted pair
    * ([[intStatType]]); the `mmExact` flag keeps "provably all-null" (a legal null extreme)
    * apart from "stats missing" (reject, like the footer tier's
    * absent-stat row group).
    */
  private def planAggFromManifest(agg: Aggregation,
      partCols: Seq[(String, DataType)], groups: Seq[String],
      rels: Seq[String],
      man: Map[String,
        (Long, Map[String, graft.operators.Maintenance.AggColStat])])
      : Option[PqPushedAgg] = {
    val partNames = partCols.map(_._1)
    val partType = partCols.toMap
    val headCols = man(rels.head)._2
    def minMaxType(c: String): Option[DataType] =
      partType.get(c).filter {
        case ByteType | ShortType | IntegerType | LongType |
          StringType | DateType => true
        case _ => false
      }.orElse(headCols.get(c).flatMap {
        case st if st.mmExact && st.min.isDefined =>
          intStatType(st.physicalType, st.convertedType)
        // string extremes recorded at commit time behind the
        // exact-writer gate — the fold below re-checks sExact PER
        // FILE, so a table mixing engine and foreign appends rejects
        case st if st.sExact && st.sMin.isDefined => Some(StringType)
        case _ => None
      })
    val specsOpt = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(PqAggSpec(PqCountStar, "count(*)", LongType))
      case c: Count if !c.isDistinct =>
        aggRef(c.column())
          .filter(n => partNames.contains(n) || headCols.contains(n))
          .map(n => PqAggSpec(PqCountCol(n), s"count($n)", LongType))
      case m: Min => for { n <- aggRef(m.column()); dt <- minMaxType(n) }
        yield PqAggSpec(PqMin(n), s"min($n)", dt)
      case m: Max => for { n <- aggRef(m.column()); dt <- minMaxType(n) }
        yield PqAggSpec(PqMax(n), s"max($n)", dt)
      case _ => None
    }
    if (specsOpt.exists(_.isEmpty) || specsOpt.isEmpty) return None
    val specs = specsOpt.flatten

    val acc = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Option[String]], Array[Any]]
    for (rel <- rels) {
      val (fileRows, cols) = man(rel)
      val partVals: Map[String, Option[String]] =
        if (partNames.isEmpty) Map.empty
        else partValsFromRel(rel, partNames)
      if (groups.nonEmpty && fileRows == 0) ()
      else {
      val partials: Array[Any] = new Array[Any](specs.length)
      var ok = true
      specs.zipWithIndex.foreach { case (spec, i) =>
        if (ok) spec.kind match {
          case PqCountStar => partials(i) = Long.box(fileRows)
          case PqCountCol(c) if partNames.contains(c) =>
            partials(i) =
              Long.box(if (partVals(c).isDefined) fileRows else 0L)
          case PqCountCol(c) =>
            cols.get(c).flatMap(_.nullCount) match {
              case Some(nc) => partials(i) = Long.box(fileRows - nc)
              case None => ok = false // no null count: not exact
            }
          case PqMin(c) if partNames.contains(c) =>
            partials(i) =
              if (fileRows == 0) null
              else partitionValue(partType(c), partVals(c))
          case PqMax(c) if partNames.contains(c) =>
            partials(i) =
              if (fileRows == 0) null
              else partitionValue(partType(c), partVals(c))
          case PqMin(c) if spec.dt == StringType =>
            cols.get(c).filter(_.sExact) match {
              case Some(st) =>
                partials(i) = st.sMin.map(UTF8String.fromBytes).orNull
              case None => ok = false
            }
          case PqMax(c) if spec.dt == StringType =>
            cols.get(c).filter(_.sExact) match {
              case Some(st) =>
                partials(i) = st.sMax.map(UTF8String.fromBytes).orNull
              case None => ok = false
            }
          case PqMin(c) =>
            cols.get(c).filter(_.mmExact) match {
              case Some(st) => partials(i) =
                st.min.flatMap(statTypedLong(spec.dt, _)).orNull
              case None => ok = false
            }
          case PqMax(c) =>
            cols.get(c).filter(_.mmExact) match {
              case Some(st) => partials(i) =
                st.max.flatMap(statTypedLong(spec.dt, _)).orNull
              case None => ok = false
            }
        }
      }
      if (!ok) return None
      val key = groups.map(partVals)
      acc.get(key) match {
        case None => acc(key) = partials
        case Some(old) =>
          specs.zipWithIndex.foreach { case (spec, i) =>
            old(i) = mergePartial(spec, old(i), partials(i))
          }
      }
      }
    }
    Some(PqPushedAgg(groups.map(g => g -> partType(g)), specs,
      acc.iterator.map { case (k, v) => PqAggRow(k, v) }.toVector))
  }

  // footer row group type, aliased to keep the sweep readable
  private type PqRowGroupAlias = ParquetFooter.PqRowGroup

  /** Merge two per-container aggregate partials: counts add, SUM adds
    * null-aware (an all-null container's partial is null, like SQL's),
    * MIN/MAX keep the typed extreme ignoring nulls.
    */
  private[sources] def mergePartial(spec: PqAggSpec, a: Any, b: Any)
      : Any = spec.kind match {
    case PqCountStar | PqCountCol(_) =>
      Long.box(a.asInstanceOf[Long] + b.asInstanceOf[Long])
    case PqSum(_) =>
      if (a == null) b
      else if (b == null) a
      else Long.box(a.asInstanceOf[Long] + b.asInstanceOf[Long])
    case PqMin(_) =>
      if (b == null) a
      else if (a == null) b
      else if (cmpTyped(spec.dt, b, a) < 0) b else a
    case PqMax(_) =>
      if (b == null) a
      else if (a == null) b
      else if (cmpTyped(spec.dt, b, a) > 0) b else a
  }

  /** The file-wide MIN (or MAX) of a flat leaf from its chunk stats:
    * Some(null) for an empty file (no contribution — the final MIN
    * ignores nulls), None when any NON-empty row group lacks the stat
    * (rejecting the pushdown). Wrapped option-in-option keeps "no
    * rows" and "no stats" apart.
    */
  private def statExtreme(rgs: Seq[PqRowGroupAlias],
      leaves: Map[String, PqSchemaField], c: String, dt: DataType,
      wantMin: Boolean, exactStrings: Boolean = false): Option[Any] = {
    val leaf = leaves.get(c).getOrElse(return None)
    // BYTE_ARRAY admitted only when THIS file's writer provably never
    // truncates binary stats (the created_by gate) — statTyped then
    // decodes the exact UTF8 bytes
    if (!(Set(1, 2, 4, 5).contains(leaf.physicalType) ||
        (exactStrings && leaf.physicalType == 6)) ||
        leaf.convertedType.contains(5)) return None
    var best: Any = null
    for (rg <- rgs if rg.numRows > 0) {
      val col = rg.columns.find(_.path == c).getOrElse(return None)
      // a row group whose every value is null carries no min/max —
      // it contributes nothing, like an empty file
      val allNull = col.nullCount.contains(rg.numRows)
      if (!allNull) {
        val bytes =
          (if (wantMin) col.minValue else col.maxValue)
            .getOrElse(return None)
        val v = statTyped(dt, leaf.physicalType, bytes)
          .getOrElse(return None)
        if (best == null ||
            (wantMin && cmpTyped(dt, v, best) < 0) ||
            (!wantMin && cmpTyped(dt, v, best) > 0)) best = v
      }
    }
    Some(best)
  }

  /** Adapt one INTERNAL (catalyst) value to the plain-JVM shapes the
    * writers take ([[graft.operators.ParquetWrite]] /
    * [[graft.operators.OrcWrite]]): UTF8String → String, Decimal →
    * java BigDecimal (parquet then packs it to unscaled storage
    * through the writer's own leaf adapter), Byte/Short widen to Int
    * (the writers' int32 representation), Date day-ints and Timestamp
    * micro-longs pass through, lists become Seq, maps Seq[(k,v)], and
    * structs pack via `structPack` (Array for parquet, Seq for ORC).
    */
  private[graft] def internalAdapter(dt: DataType, orc: Boolean,
      structPack: Seq[Any] => Any): Any => Any = dt match {
    case ByteType => v => Int.box(v.asInstanceOf[Byte].toInt)
    case ShortType => v => Int.box(v.asInstanceOf[Short].toInt)
    case StringType => v => v.asInstanceOf[UTF8String].toString
    case d: DecimalType =>
      val pack: Any => Any =
        if (orc) identity
        else graft.operators.ParquetWrite.valueAdapt(d, "decimal")
      v => pack(v.asInstanceOf[Decimal].toJavaBigDecimal)
    case st: StructType =>
      val ads = st.fields.map(f => internalAdapter(f.dataType, orc,
        structPack))
      val dts = st.fields.map(_.dataType)
      v => {
        val r = v.asInstanceOf[InternalRow]
        structPack(Seq.tabulate[Any](ads.length)(i =>
          if (r.isNullAt(i)) null else ads(i)(r.get(i, dts(i)))))
      }
    case ArrayType(et, _) =>
      val ad = internalAdapter(et, orc, structPack)
      v => v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(et).toSeq
        .map[Any](x => if (x == null) null else ad(x))
    case MapType(kt, vt, _) =>
      val kad = internalAdapter(kt, orc, structPack)
      val vad = internalAdapter(vt, orc, structPack)
      v => {
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ks = m.keyArray.toObjectArray(kt)
        val vs = m.valueArray.toObjectArray(vt)
        Seq.tabulate[(Any, Any)](ks.length)(i => (kad(ks(i)),
          if (vs(i) == null) null else vad(vs(i))))
      }
    case _ => identity // Int/Long/Float/Double/Boolean/Binary/day/micros
  }

  /** Normalize temporal filter literals to Spark's INTERNAL units —
    * epoch-day Ints for dates, epoch-micro Longs for timestamps — the
    * same units the column statistics carry (parquet DATE int32 days /
    * TIMESTAMP_MICROS int64; ORC DateStatistics days /
    * TimestampStatistics UTC millis widened to micros at parse), so
    * the existing NUMERIC disjointness machinery prunes on them
    * unchanged. Applied once at filter-push time; Spark re-evaluates
    * the original filters row-exactly either way.
    */
  private[sources] def normTemporal(f: Filter): Filter = {
    def n(v: Any): Any = v match {
      case d: java.sql.Date => Int.box(d.toLocalDate.toEpochDay.toInt)
      case d: java.time.LocalDate => Int.box(d.toEpochDay.toInt)
      case t: java.sql.Timestamp =>
        Long.box(Math.addExact(Math.multiplyExact(
          Math.floorDiv(t.getTime, 1000L), 1000000L),
          t.getNanos / 1000L))
      case t: java.time.Instant =>
        Long.box(Math.addExact(Math.multiplyExact(
          t.getEpochSecond, 1000000L), t.getNano / 1000L))
      case other => other
    }
    f match {
      case EqualTo(c, v) => EqualTo(c, n(v))
      case EqualNullSafe(c, v) =>
        EqualNullSafe(c, if (v == null) null else n(v))
      case GreaterThan(c, v) => GreaterThan(c, n(v))
      case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(c, n(v))
      case LessThan(c, v) => LessThan(c, n(v))
      case LessThanOrEqual(c, v) => LessThanOrEqual(c, n(v))
      case In(c, vs) if vs != null =>
        In(c, vs.map(v => if (v == null) null else n(v)))
      case other => other
    }
  }

  /** True when `v` is a temporal literal [[normTemporal]] converts. */
  private[sources] def temporalValue(v: Any): Boolean = v match {
    case _: java.sql.Date | _: java.time.LocalDate |
      _: java.sql.Timestamp | _: java.time.Instant => true
    case _ => false
  }

  /** Translate a runtime [[Predicate]] (what dynamic partition
    * pruning injects — IN over the build side's join keys, or a
    * single =) into the v1 filter the stats/bloom pruning machinery
    * already understands. Strings come back as java Strings, numbers
    * stay boxed (Date/Timestamp literals arrive as their internal
    * day-int / micro-long, matching the footer stats' units). Unknown
    * shapes, oversized IN lists (pruning cost would exceed the win)
    * and non-number/non-string literals translate to None — never
    * pruned on, never wrong.
    */
  private[sources] def predicateToFilter(p: Predicate)
      : Option[Filter] = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def valOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Any] = e match {
      case l: Literal[_] => l.value match {
        case u: UTF8String => Some(u.toString)
        case n: java.lang.Number => Some(n)
        case _ => None
      }
      case _ => None
    }
    val ch = p.children()
    p.name() match {
      case "IN" if ch.length >= 2 && ch.length <= 10001 =>
        for {
          c <- colOf(ch.head)
          vs = ch.tail.map(valOf)
          if vs.forall(_.isDefined)
        } yield In(c, vs.map(_.get))
      case "=" if ch.length == 2 =>
        for { c <- colOf(ch(0)); v <- valOf(ch(1)) } yield EqualTo(c, v)
      case _ => None
    }
  }
}

private[sources] class GraftParquetTable(schema: StructType,
    path: String, writeParts: Seq[String] = Nil)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graftpq $path"
  override def schema(): StructType = schema
  /** Declared write partitioning (so Spark's partitionBy-vs-table
    * check passes on the write path); read-path tables report none —
    * partition columns already surface through the schema.
    */
  override def partitioning(): Array[Transform] =
    writeParts.map(Expressions.identity).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, // version-tailing stream
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, // commit-protocol epoch sink
      TableCapability.ACCEPT_ANY_SCHEMA) // first write to a fresh dir
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    require(schema.fields.nonEmpty,
      "graftpq: no .parquet files under the path")
    new GraftParquetScanBuilder(schema, path,
      GraftStreamLimits(
        options.getInt("maxVersionsPerTrigger", 0),
        options.getInt("maxFilesPerTrigger", 0),
        options.getLong("maxBytesPerTrigger", 0L)))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(path, info.schema(), orc = false,
      // batch partitionBy arrives as identity transforms; the
      // STREAMING writer never routes its partitionBy through
      // getTable, so `option("partitionBy", "a,b")` declares the
      // layout for a fresh streaming sink (an existing table's
      // recorded layout is inherited either way)
      declaredParts =
        if (writeParts.nonEmpty) writeParts
        else Option(info.options().get("partitionBy"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil),
      queryId = info.queryId())
}

/** The DSv2 WRITE half of both sources: `df.write.format("graftpq"/
  * "graftorc").mode("append"/"overwrite")[.partitionBy(cols)]
  * .save(dir)` runs graft's writers
  * ([[graft.operators.ParquetWrite]] / [[graft.operators.OrcWrite]])
  * WHERE THE DATA IS — one task per partition streams its rows through
  * bounded queues into the writers (no per-task buffering of the whole
  * partition), lands hidden `.inprogress` temp files, renames them to
  * hidden `.staged` names at TASK commit (Spark's commit coordinator
  * admits one attempt per Spark partition, so speculation/retries
  * never stage twins), and PUBLISHES everything at JOB commit.
  *
  * Overwrite truncates at JOB COMMIT, not up front: the pre-existing
  * data files survive until every task has finished, so
  * `read(dir) → transform → write.mode("overwrite").save(dir)` is
  * SAFE — the write tasks consume the old files before the commit
  * deletes them (V1 file sources reject this self-overwrite cycle;
  * deferring the truncate makes it correct instead).
  *
  * APPEND SCHEMA ENFORCEMENT: ACCEPT_ANY_SCHEMA makes Spark skip
  * output resolution (necessary for the first write to a fresh dir,
  * where there is no table schema), so an APPEND into an existing
  * directory validates here — same column names, same types — and
  * rejects loudly instead of landing files later per-file name
  * resolution would trip over.
  *
  * PARTITIONED LAYOUT (`partitionBy`): identity transforms arrive
  * through `getTable`; rows land under hive `col=value/` dirs (values
  * `%XX`-escaped, nulls as `__HIVE_DEFAULT_PARTITION__`), partition
  * columns are STRIPPED from the file schema — exactly the layout
  * Spark's own writer produces, the discovery reader (s54/s55) and
  * the commit protocol already consume, and the version-tailing
  * stream can follow. An append into an already-partitioned dir
  * inherits the recorded layout; a conflicting declaration rejects.
  * One writer (bounded queue + thread) stays open per distinct
  * partition value per task — at scale, repartition by the partition
  * columns upstream so each task sees few distinct values, the same
  * guidance as Spark's own dynamic-partition writes.
  */
private[sources] class GraftWriteBuilder(path: String,
    schema: StructType, orc: Boolean,
    declaredParts: Seq[String] = Nil, queryId: String = "")
  extends org.apache.spark.sql.connector.write.WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var truncateFirst = false

  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateFirst = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    val ext = if (orc) ".orc" else ".parquet"
    val fmt = if (orc) "graftorc" else "graftpq"
    // a COMMITTED table (the commit protocol's _graft_log) serves its
    // reads — listing, schema, aggregates, streams — from the log, so
    // a write that lands files without logging them is silently
    // invisible, and a truncate that deletes logged files bricks every
    // later read. APPENDs therefore route through the commit protocol
    // at job commit (below); OVERWRITE rejects loudly — the log's
    // append-only history cannot express a wholesale replacement
    // (constraints, column maps, identity state would all need
    // per-feature replace semantics); ORC rejects — the protocol's
    // data plane is parquet (see COVERAGE.md, format roles).
    val committedTable =
      new java.io.File(path, "_graft_log/version").exists()
    if (committedTable) {
      require(!orc,
        s"graftorc: $path is a committed graftpq table — its commit " +
          "log tracks parquet data files; write parquet (graftpq) or " +
          "use Maintenance.commitAppend")
      require(!truncateFirst,
        s"graftpq: $path is a committed table — mode(\"overwrite\") " +
          "cannot be expressed in its append-only history. Use " +
          "Maintenance.deleteWhere + append, restoreTo, or delete " +
          "the table directory to start over")
      // features that need driver-side Spark jobs or logical→physical
      // translation at commit reject HERE (analysis time), not after
      // the write job ran — same contract as the streaming sink
      require(
        graft.operators.Maintenance.readConstraints(path).isEmpty &&
          graft.operators.Maintenance.readGenerated(path).isEmpty &&
          graft.operators.Maintenance.readIdentity(path).isEmpty &&
          graft.operators.Maintenance.readColumnMap(path).isEmpty,
        s"graftpq: $path declares constraints/generated/identity/" +
          "renamed columns — the DSv2 batch append cannot validate " +
          "them; use Maintenance.commitAppend")
    }
    // the existing layout, resolved once: tracked for committed
    // tables, discovered for plain hive dirs, Nil for flat/fresh
    val existingParts: Seq[String] =
      if (orc) GraftOrc.partitionColsOf(path).map(_._1)
      else GraftParquet.partitionColsOf(path).map(_._1)
    // the EXISTING schema comes from disk: on writes Spark hands the
    // Table the QUERY's schema, so the Table's field is no use here
    val tableSchema: StructType =
      if (truncateFirst) new StructType() // replaced wholesale: skip
      else if (orc) GraftOrc.inferDirSchema(path)
      else GraftParquet.inferDirSchema(path)
    val hasData = tableSchema.fields.nonEmpty
    // overwrite replaces layout and schema wholesale; an append must
    // agree with what is already there
    if (!truncateFirst && hasData) {
      require(declaredParts.isEmpty || declaredParts == existingParts,
        s"$fmt: $path is partitioned by " +
          s"[${existingParts.mkString(", ")}]; the append declared " +
          s"partitionBy(${declaredParts.mkString(", ")})")
      // nullability (at any nesting depth) is not a shape difference —
      // the read side reports everything nullable anyway — and
      // catalogString is exactly the nullability-blind type rendering
      val have: Map[String, String] = tableSchema.fields
        .map(f => f.name -> f.dataType.catalogString).toMap
      val got: Map[String, String] = schema.fields
        .map(f => f.name -> f.dataType.catalogString).toMap
      val missing = (have.keySet -- got.keySet).toSeq.sorted
      val extra = (got.keySet -- have.keySet).toSeq.sorted
      val retyped = (have.keySet & got.keySet).toSeq.sorted
        .filter(c => have(c) != got(c))
      require(missing.isEmpty && extra.isEmpty && retyped.isEmpty,
        s"$fmt: append schema does not match $path" +
          (if (missing.nonEmpty)
            s"; missing columns: ${missing.mkString(", ")}"
           else "") +
          (if (extra.nonEmpty)
            s"; unknown columns: ${extra.mkString(", ")}"
           else "") +
          retyped.map(c =>
            s"; '$c' is ${have(c)}, append has ${got(c)}").mkString)
    }
    val parts =
      if (declaredParts.nonEmpty) declaredParts
      else if (!truncateFirst) existingParts // inherit on append
      else Nil
    val partIdx = parts.map { c =>
      val i = schema.fieldIndex(c)
      require(GraftParquet.partitionValueWritable(
        schema.fields(i).dataType),
        s"$fmt: partition column '$c' type " +
          s"${schema.fields(i).dataType.simpleString} unsupported")
      i
    }
    val fileSchema = StructType(schema.fields.zipWithIndex
      .filterNot { case (_, i) => partIdx.contains(i) }.map(_._1))
    require(fileSchema.fields.nonEmpty,
      s"$fmt: cannot write a table that is ALL partition columns")
    val tf = truncateFirst
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite =
        new GraftBatchWrite(path, schema, fileSchema, partIdx, orc,
          tf, ext, committedTable, parts)
      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite = {
        require(!orc, "graftorc streaming sink unsupported (the " +
          "commit protocol is parquet-only; stream parquet or use " +
          "foreachBatch)")
        require(!tf, "graftpq streaming sink is APPEND-only: the " +
          "commit protocol has no truncating epoch (Complete/Update " +
          "output modes unsupported)")
        new GraftPqStreamingWrite(path, schema, fileSchema, partIdx,
          parts, queryId)
      }
    }
  }
}

/** `df.writeStream.format("graftpq").option("path", dir)` — the SINK
  * half of the engine's streaming loop (the version-tailing source is
  * the read half): every micro-batch stages its files into a PRIVATE
  * per-epoch dir (task-parallel, bounded queues, the same parquet
  * writer), and the epoch COMMIT runs the commit protocol's lock-held
  * tail through [[graft.operators.Maintenance.commitStagedAppend]] —
  * schema merge + enforcement, version-unique renames, live registry,
  * add-delta snapshot, pruning stats and the exact agg-stats manifest.
  * EXACTLY-ONCE: the commit records (queryId, epochId) in the log's
  * txn markers, so a replayed epoch (Structured Streaming re-delivers
  * after failure) commits nothing — Delta's txn appId/version
  * mechanism. Downstream, the table is immediately tailable by the
  * graftpq streaming SOURCE: a full stream → committed table → stream
  * pipeline without leaving the engine's data plane.
  */
private[sources] class GraftPqStreamingWrite(path: String,
    schema: StructType, fileSchema: StructType, partIdx: Seq[Int],
    declaredParts: Seq[String], queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  require(queryId.nonEmpty, "graftpq streaming sink needs a query id")

  private def stageDir(epochId: Long): String =
    s"${path}__stream_stage/$queryId/epoch-$epochId"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory =
    GraftStreamWriterFactory(s"${path}__stream_stage/$queryId",
      schema, fileSchema, partIdx)

  override def commit(epochId: Long, messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    // commit EXACTLY the files the successful task attempts reported:
    // a zombie attempt that renamed its file at task commit
    // (publishAtTaskCommit) but died before reporting leaves a visible
    // orphan in the epoch stage dir, and its retry stages a twin under
    // a different taskId — a blind stage sweep would ingest both
    val reported: Seq[java.io.File] = messages.toSeq.flatMap {
      case GraftWriteCommit(files) => files.map(_._2)
      case _ => Nil
    }.map(new java.io.File(_))
    graft.operators.Maintenance.commitStagedAppend(
      org.apache.spark.sql.SparkSession.active, path,
      stageDir(epochId), schema, declaredParts,
      Some((queryId, epochId)), Some(reported))
    ()
  }

  override def abort(epochId: Long, messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit =
    graft.streaming.WorkDirs.deleteRecursively(
      new java.io.File(stageDir(epochId)))
}

private[sources] final case class GraftStreamWriterFactory(
    stageRoot: String, schema: StructType, fileSchema: StructType,
    partIdx: Seq[Int])
  extends org.apache.spark.sql.connector.write.streaming
    .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftFileDataWriter(s"$stageRoot/epoch-$epochId", schema,
      fileSchema, partIdx, orc = false, partitionId, taskId,
      publishAtTaskCommit = true)
}

private[sources] class GraftBatchWrite(path: String,
    schema: StructType, fileSchema: StructType, partIdx: Seq[Int],
    orc: Boolean, truncate: Boolean, ext: String,
    committedTable: Boolean = false, parts: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.BatchWrite {

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val dir = new java.io.File(path)
    require(dir.isDirectory || dir.mkdirs(),
      s"graft write: cannot create $path")
    GraftFileWriterFactory(path, schema, fileSchema, partIdx, orc)
  }

  /** Publish: on overwrite, first delete every PRE-EXISTING data file
    * (and emptied partition dirs) — all tasks have finished by now, so
    * a query reading this directory as its own input has already
    * consumed the old bytes — then rename every staged file to its
    * final name and stamp `_SUCCESS`.
    *
    * A COMMITTED TABLE target takes the commit-protocol route instead:
    * the message-listed staged files move (partition layout preserved)
    * into a private stage and land as ONE append version through
    * [[graft.operators.Maintenance.commitStagedAppend]] — schema merge
    * + enforcement, live registry, add-delta snapshot, pruning stats
    * and the exact agg-stats manifest — so the appended rows are
    * visible to every log-served read (batch scan, pushed aggregates,
    * the version-tailing stream). Publishing by rename alone would
    * land files the log never lists: silently invisible rows.
    */
  override def commit(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val staged: Seq[(String, String)] = messages.toSeq.flatMap {
      case GraftWriteCommit(files) => files
      case _ => Nil
    }
    if (committedTable && !truncate) {
      val root = java.nio.file.Paths.get(path).toAbsolutePath
      val stage = java.nio.file.Paths.get(
        s"${path}__stage/dsv2-${java.util.UUID.randomUUID()}")
      val moved = staged.map { case (s, f) =>
        // the final name's table-relative path carries the partition
        // subdirs; the stage mirrors it so the protocol's rename
        // preserves the layout
        val rel = root.relativize(
          java.nio.file.Paths.get(f).toAbsolutePath)
        val dest = stage.resolve(rel)
        java.nio.file.Files.createDirectories(dest.getParent)
        java.nio.file.Files.move(java.nio.file.Paths.get(s), dest)
        dest.toFile
      }
      graft.operators.Maintenance.commitStagedAppend(
        org.apache.spark.sql.SparkSession.active, path,
        stage.toString, schema, parts, None, Some(moved))
      return
    }
    if (truncate) {
      val stagedSet = staged.map(_._1).toSet
      def sweep(d: java.io.File): Unit = {
        val kids = d.listFiles()
        if (kids != null) kids.foreach { k =>
          if (k.isFile && k.getName.endsWith(ext) &&
              !stagedSet.contains(k.getAbsolutePath)) k.delete()
          else if (k.isDirectory && !k.getName.startsWith("_") &&
              !k.getName.startsWith(".")) {
            sweep(k)
            k.delete() // succeeds only when emptied: dirs with
            // freshly staged files survive
          }
        }
      }
      sweep(new java.io.File(path))
    }
    staged.foreach { case (s, f) =>
      require(new java.io.File(s).renameTo(new java.io.File(f)),
        s"graft write: cannot publish $f")
    }
    new java.io.FileOutputStream(new java.io.File(path, "_SUCCESS"))
      .close()
  }

  override def abort(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit =
    messages.foreach {
      case GraftWriteCommit(files) =>
        files.foreach { case (s, _) => new java.io.File(s).delete() }
      case _ => ()
    }
}

/** The staged→final (absolute path) pairs one task landed. */
private[sources] final case class GraftWriteCommit(
    files: Seq[(String, String)])
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] final case class GraftFileWriterFactory(path: String,
    schema: StructType, fileSchema: StructType, partIdx: Seq[Int],
    orc: Boolean)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftFileDataWriter(path, schema, fileSchema, partIdx, orc,
      partitionId, taskId)
}

/** One bounded-queue + writer-thread unit producing ONE file: memory
  * is O(queue + one row group), never O(partition). The file lands as
  * hidden `.inprogress`, moves to hidden `.staged` at task commit and
  * to its final name only at job commit.
  */
private[sources] class GraftSingleFileWriter(dir: java.io.File,
    base: String, fileSchema: StructType, orc: Boolean,
    queueSlots: Int, publishAtTaskCommit: Boolean = false) {

  // mkdirs() can return false when a CONCURRENT task creates a path
  // segment first (the classic race) — re-check before failing
  require(dir.isDirectory || dir.mkdirs() || dir.isDirectory,
    s"graft write: cannot create $dir")
  private val ext = if (orc) "orc" else "parquet"
  private val tmp = new java.io.File(dir, s".$base.$ext.inprogress")
  private val staged = new java.io.File(dir, s".$base.$ext.staged")
  private val fin = new java.io.File(dir, s"$base.$ext")

  private val queue =
    new java.util.concurrent.ArrayBlockingQueue[AnyRef](queueSlots)
  private val endMark = new Object
  @volatile private var failure: Throwable = null
  var rows = 0L

  private val writer = new Thread(() => {
    try {
      val it = new Iterator[Array[Any]] {
        private var nextItem: AnyRef = queue.take()
        def hasNext: Boolean = nextItem ne endMark
        def next(): Array[Any] = {
          val r = nextItem.asInstanceOf[Array[Any]]
          nextItem = queue.take()
          r
        }
      }
      if (orc)
        graft.operators.OrcWrite.writeFile(tmp.toPath, fileSchema, it,
          compression = 5)
      else
        graft.operators.ParquetWrite.writeColumns(tmp.toPath,
          graft.operators.ParquetWrite.columnsOf(fileSchema), it,
          codec = 1)
    } catch {
      case t: Throwable =>
        failure = t
        // unblock the producer, then drain whatever still arrives
        while (queue.poll() ne null) ()
        while (queue.take() ne endMark) ()
    }
  }, s"graft-write-$base")
  writer.setDaemon(true)
  writer.start()

  def put(a: Array[Any]): Unit = {
    if (failure != null) throw failure
    queue.put(a)
    rows += 1
  }

  /** Finish the file and stage it; (staged, final) or None if empty.
    * `publishAtTaskCommit` writers (streaming epochs staging into a
    * PRIVATE per-epoch dir the driver later commits wholesale) rename
    * straight to the visible name — the dir itself is the staging
    * boundary there, not the file name.
    */
  def stage(): Option[(String, String)] = {
    queue.put(endMark)
    writer.join()
    if (failure != null) throw failure
    if (rows == 0) { tmp.delete(); None }
    else if (publishAtTaskCommit) {
      require(tmp.renameTo(fin),
        s"graft write: cannot publish ${fin.getName}")
      Some((fin.getAbsolutePath, fin.getAbsolutePath))
    } else {
      require(tmp.renameTo(staged),
        s"graft write: cannot stage ${staged.getName}")
      Some((staged.getAbsolutePath, fin.getAbsolutePath))
    }
  }

  def abort(): Unit = {
    queue.clear()
    queue.put(endMark)
    writer.join()
    tmp.delete()
    staged.delete()
  }
}

/** One task's writer: adapts each internal row to the writers' plain
  * JVM shapes IMMEDIATELY (internal rows are reused by the caller) and
  * routes it — straight to the single file writer when unpartitioned,
  * to the row's `col=value/` destination when partitioned (partition
  * columns stripped from the written rows, one open file per distinct
  * value seen by this task).
  */
private[sources] class GraftFileDataWriter(dirPath: String,
    schema: StructType, fileSchema: StructType, partIdx: Seq[Int],
    orc: Boolean, partitionId: Int, taskId: Long,
    publishAtTaskCommit: Boolean = false)
  extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val base = f"part-$partitionId%05d-$taskId"
  private val dts = schema.fields.map(_.dataType)
  private val dataIdx: Array[Int] =
    schema.fields.indices.filterNot(partIdx.contains).toArray
  private val ads: Array[Any => Any] = dataIdx.map { i =>
    GraftParquet.internalAdapter(dts(i), orc,
      if (orc) (s: Seq[Any]) => s else (s: Seq[Any]) => s.toArray[Any])
  }
  // partitioned tasks keep several queues open: smaller slots bound
  // the task's buffered rows at queues × slots
  private val slots = if (partIdx.isEmpty) 1024 else 128

  private val writers = new scala.collection.mutable.LinkedHashMap[
    String, GraftSingleFileWriter]()
  private def writerFor(rel: String): GraftSingleFileWriter =
    writers.getOrElseUpdate(rel, new GraftSingleFileWriter(
      if (rel.isEmpty) new java.io.File(dirPath)
      else new java.io.File(dirPath, rel),
      base, fileSchema, orc, slots, publishAtTaskCommit))

  private def partDir(row: InternalRow): String =
    partIdx.zipWithIndex.map { case (fi, _) =>
      val name = schema.fields(fi).name
      val v =
        if (row.isNullAt(fi)) "__HIVE_DEFAULT_PARTITION__"
        else GraftParquet.escapePathName(
          GraftParquet.partitionValueString(dts(fi), row.get(fi,
            dts(fi))))
      s"$name=$v"
    }.mkString("/")

  override def write(row: InternalRow): Unit = {
    val a = new Array[Any](dataIdx.length)
    var i = 0
    while (i < dataIdx.length) {
      val fi = dataIdx(i)
      a(i) = if (row.isNullAt(fi)) null else ads(i)(row.get(fi, dts(fi)))
      i += 1
    }
    writerFor(if (partIdx.isEmpty) "" else partDir(row)).put(a)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage =
    GraftWriteCommit(writers.values.toSeq.flatMap(_.stage()))

  override def abort(): Unit = writers.values.foreach(_.abort())

  override def close(): Unit = ()
}

private[sources] class GraftParquetScanBuilder(fullSchema: StructType,
    path: String,
    streamLimits: GraftStreamLimits = GraftStreamLimits())
  extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var consumed: Array[Filter] = Array.empty
  private var aggPlan: Option[GraftParquet.PqPushedAgg] = None
  private var limit: Int = -1
  private var topn: Option[GraftParquet.PqTopN] = None

  // resolved once per builder: consumption decisions must see the
  // same partition spec the scan will plan with
  private lazy val partTypeB: Map[String, DataType] =
    GraftParquet.partitionColsOf(path).toMap

  /** True when every pushed filter is a CONSUMED partition predicate
    * — the state in which the planning caps (LIMIT / TOP-N) and the
    * aggregate push stay sound: surviving files hold ONLY matching
    * rows.
    */
  private def allConsumed: Boolean =
    pushed.forall(consumed.contains)

  /** TOP-N pushdown (`ORDER BY key LIMIT k`): PLANNING-level, partial
    * (Spark keeps its TakeOrderedAndProject — the scan only promises a
    * SUPERSET containing a valid top-k). A row group is dropped when
    * OTHER groups' chunk stats prove at least k rows rank STRICTLY
    * before its every row — on data clustered by the sort key (z-order,
    * time-ordered appends), `ORDER BY ts DESC LIMIT 100` over a
    * million-group table plans a handful of groups instead of a full
    * scan + cluster-wide sort feed. Single int-backed or STRING sort
    * key (exact byte-encoded stats; strings prune only for groups
    * behind the per-file exact-writer gate — foreign files may
    * truncate binary stats and are kept unconditionally; float/double
    * refused for the NaN hazard); refused under pushed filters (the
    * kept groups might under-deliver matching rows, same gate as
    * LIMIT).
    */
  override def pushTopN(orders: Array[V2SortOrder], limitN: Int)
      : Boolean = {
    if (!allConsumed || orders.length != 1 || limitN <= 0)
      return false
    val o = orders(0)
    val colName = o.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        r.fieldNames()(0)
      case _ => return false
    }
    val keyed = fullSchema.fields.find(_.name == colName)
      .exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType | StringType => true
        case _ => false
      })
    if (!keyed) return false
    topn = Some(GraftParquet.PqTopN(colName,
      o.direction() == SortDirection.ASCENDING,
      o.nullOrdering() == NullOrdering.NULLS_FIRST, limitN))
    true
  }

  /** LIMIT caps PLANNING, not rows: partitions are planned only until
    * their (DV-net) row counts cover the limit — `LIMIT 10` over a
    * million-file table plans one row group. Partial push (Spark keeps
    * its own Limit above), and only on an UNFILTERED scan: under a
    * filter the kept groups might hold fewer matching rows than the
    * limit, dropping answers.
    */
  override def pushLimit(n: Int): Boolean = {
    if (!allConsumed) false
    else { limit = n; true }
  }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty projections (count(*)) still need row counts: keep the
    // first leaf so every partition knows its cardinality
    required =
      if (requiredSchema.fields.nonEmpty) requiredSchema
      else StructType(fullSchema.fields.take(1))

  /** Accept the comparisons row-group stats can act on — numeric
    * columns against Number literals, string columns against String
    * literals (parquet UTF8 stats order = unsigned byte order = code
    * point order, exactly Spark's string comparison); EVERYTHING is
    * returned for Spark to re-evaluate (stats pruning is row-group
    * granular, never row-exact).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def ok(c: String, v: Any): Boolean =
      (numericCol(c) && v.isInstanceOf[Number]) ||
        (stringCol(c) && v.isInstanceOf[String]) ||
        (temporalCol(c) && GraftParquet.temporalValue(v))
    def prunable(f: Filter): Boolean = f match {
      case EqualTo(c, v) => ok(c, v)
      case EqualNullSafe(c, v) => v == null || ok(c, v)
      case GreaterThan(c, v) => ok(c, v)
      case GreaterThanOrEqual(c, v) => ok(c, v)
      case LessThan(c, v) => ok(c, v)
      case LessThanOrEqual(c, v) => ok(c, v)
      case IsNotNull(c) => numericCol(c) || stringCol(c) || temporalCol(c)
      case IsNull(c) => numericCol(c) || stringCol(c) || temporalCol(c)
      case In(c, vs) => vs != null &&
        vs.forall(v => v == null || ok(c, v))
      case StringStartsWith(c, p) => p != null && stringCol(c)
      case _ => false
    }
    // temporal literals normalize to their stats units (days/micros)
    // ONCE here; every pruning tier below then runs the numeric path
    pushed = filters.filter(prunable).map(GraftParquet.normTemporal)
    // partition-column equality/IN/null predicates are ROW-EXACT (a
    // col=value dir IS the value of every row in the file), so the
    // scan CONSUMES them — removed from Spark's post-scan
    // re-evaluation, applied exactly file-in-or-file-out at planning.
    // With no residual Filter left, aggregate pushdown composes with
    // partition predicates and the LIMIT/TOP-N caps stay armed.
    val (exact, residual) = filters.partition(f =>
      GraftParquet.partitionExact(GraftParquet.normTemporal(f),
        partTypeB))
    consumed = exact.map(GraftParquet.normTemporal)
    // consumed predicates still feed the conservative pruning tiers
    pushed = (pushed ++ consumed).distinct
    residual
  }

  private def columnType(name: String): Option[DataType] =
    fullSchema.fields.find(_.name == name).map(_.dataType)

  private def numericCol(name: String): Boolean =
    fullSchema.fields.find(_.name == name).exists(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType => true
      case _ => false
    })

  private def stringCol(name: String): Boolean =
    fullSchema.fields.find(_.name == name)
      .exists(_.dataType == StringType)

  private def temporalCol(name: String): Boolean =
    fullSchema.fields.find(_.name == name).exists(f => f.dataType match {
      case DateType | TimestampType => true
      case _ => false
    })

  override def pushedFilters(): Array[Filter] = pushed

  /** Aggregates push on an unfiltered scan OR under consumed
    * partition predicates only (those are row-exact, so the per-file
    * partials of the SURVIVING files are the whole answer —
    * `count(*) WHERE bucket = 2` from metadata); any other filter
    * would make container-granular stats inexact (Spark itself only
    * attempts the push when no post-scan filter remains, but the gate
    * stays here too). A successful push pre-computes the per-group
    * partial rows from the manifest/footer stats — see
    * [[GraftParquet.planAggregation]] — and build() then returns a
    * scan that never touches a data byte.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!allConsumed) return false
    // a MIN/MAX typed from stats must carry the scan's own column type
    // (the commit manifest records no LogicalType, so it cannot tell a
    // TIMESTAMP_NTZ leaf from a TIMESTAMP one)
    aggPlan = GraftParquet.planAggregation(aggregation, path, consumed)
      .filter(_.specs.forall(s => s.kind match {
        case GraftParquet.PqMin(c) => columnType(c).contains(s.dt)
        case GraftParquet.PqMax(c) => columnType(c).contains(s.dt)
        case _ => true
      }))
    aggPlan.isDefined
  }

  override def build(): Scan = aggPlan match {
    case Some(p) => new GraftPqAggScan(p, path)
    case None =>
      new GraftParquetScan(fullSchema, required, pushed, path, limit,
        streamLimits, topn, consumed)
  }
}

/** The zero-data-IO scan a pushed aggregation builds: its partitions
  * carry the pre-merged per-group partial rows (computed on the driver
  * from footer tails alone), and Spark's final Aggregate above merges
  * them — MIN of mins, SUM of counts — per the partial-pushdown
  * contract. readSchema lists group-by columns then aggregates,
  * positionally zipped by V2ScanRelationPushDown.
  */
private[sources] class GraftPqAggScan(agg: GraftParquet.PqPushedAgg,
    path: String, fmt: String = "graftpq")
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = agg.aggSchema
  override def toBatch: Batch = this

  override def description(): String =
    s"$fmt $path PushedAggregation: " +
      s"[${agg.specs.map(_.label).mkString(", ")}], PushedGroupBy: " +
      s"[${agg.groupCols.map(_._1).mkString(", ")}] (footer stats " +
      "only, zero data IO)"

  override def estimateStatistics(): V2Statistics = {
    val n = agg.rows.length.toLong
    val width = agg.aggSchema.defaultSize.toLong
    new V2Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, n * width))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(n)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // a pushed GROUP BY over an all-empty table has no groups — a
    // legal empty result, planned as zero partitions (a GLOBAL
    // aggregate always carries exactly one partial row)
    if (agg.rows.isEmpty) return Array.empty
    val per = math.max(1, (agg.rows.length + 31) / 32)
    agg.rows.grouped(per)
      .map(rs => GraftPqAggPartition(agg.groupCols, rs): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition)
          : PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[GraftPqAggPartition]
        new PartitionReader[InternalRow] {
          private val it = p.rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = it.hasNext && {
            val r = it.next()
            val vals = p.groupCols.zip(r.group).map { case ((_, dt), raw)
              => GraftParquet.partitionValue(dt, raw) } ++ r.vals
            cur = new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(vals.toArray)
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      }
    }
}

private[sources] final case class GraftPqAggPartition(
    groupCols: Seq[(String, DataType)],
    rows: Seq[GraftParquet.PqAggRow]) extends InputPartition

/** One surviving row group: the unit of scan parallelism. `columns`
  * are the chunks of every requested leaf (what the reader's page
  * check walks, and the planner's size and TOP-N statistics);
  * `partVals` the file's raw partition-dir values; `rowStart` the
  * group's first file row and `span` its (offset, length) byte span,
  * which selects exactly this group in Spark's parquet reader.
  * `ranges` are the page-index surviving row spans (group-relative
  * `[start, end)` pairs, sorted disjoint; empty = the whole group) and
  * `skip` the outstanding deletion-vector positions inside them
  * (group-relative, sorted).
  */
final case class GraftPqPartition(path: String,
    rgRows: Long, columns: Seq[PqColumn],
    partVals: Map[String, Option[String]],
    rowStart: Long, span: (Long, Long),
    skip: Array[Long] = Array.emptyLongArray,
    ranges: Array[Long] = Array.emptyLongArray,
    // this file's writer provably never truncates binary stats (the
    // created_by gate) — what lets a string TOP-N trust chunk bounds
    exactStr: Boolean = false)
  extends InputPartition

private[sources] class GraftParquetScan(fullSchema: StructType,
    required: StructType, pushed: Array[Filter], path: String,
    limit: Int = -1,
    streamLimits: GraftStreamLimits = GraftStreamLimits(),
    topn: Option[GraftParquet.PqTopN] = None,
    consumed: Array[Filter] = Array.empty)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** `spark.readStream.format("graftpq")` tails the committed table's
    * version log — see [[GraftPqMicroBatch]].
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftPqMicroBatch(path, required, streamLimits)

  /** Filters injected at RUNTIME (dynamic partition pruning: the
    * build side's distinct join keys arrive as an IN once it has
    * executed) — they compose with the statically pushed set through
    * every pruning tier: partition dirs, manifest file stats, footer
    * row groups, blooms, pages. Group-granular pruning may keep
    * superset rows; the join itself discards them, exactly the DPP
    * contract.
    */
  private var runtime: Array[Filter] = Array.empty
  private def filters: Array[Filter] = pushed ++ runtime

  /** Filters that are NOT row-exact — everything except the consumed
    * partition predicates (applied exactly at the file level), plus
    * any runtime (DPP) injections. The LIMIT/TOP-N planning caps stay
    * sound exactly while this is empty: every planned row provably
    * satisfies the query's predicates.
    */
  private def inexactFilters: Array[Filter] =
    pushed.filterNot(consumed.contains) ++ runtime

  /** Partition spec resolved ONCE per scan: discovery re-walks the
    * hive tree and re-infers value types, so calling it from every
    * planning tier (filterAttributes, estimateStatistics, each
    * planInputPartitions) would both repeat the walk and race a type
    * drifting between inference and plan time — one resolution keeps
    * every tier consistent.
    */
  @transient private lazy val partColsCached: Seq[(String, DataType)] =
    GraftParquet.partitionColsOf(path)

  @transient @volatile private var cached: Array[InputPartition] = null

  /** DPP candidates: hive partition columns (whole directories drop
    * before any IO) plus every flat leaf the stats/bloom machinery can
    * act on — a runtime IN on a clustered or bloom-indexed key prunes
    * row groups the static plan could not know about. Restricted to
    * the scan's OUTPUT columns: Spark resolves these against the
    * pruned readSchema, so naming a projected-away column would fail
    * the whole join's planning.
    */
  override def filterAttributes(): Array[NamedReference] = {
    val out = required.fields.map(_.name).toSet
    val partCols = partColsCached.map(_._1)
    val statCols = fullSchema.fields.collect {
      case f if (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | StringType => true
        case _ => false
      }) => f.name
    }
    (partCols ++ statCols).distinct.filter(out)
      .map(Expressions.column).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val conv = predicates.flatMap(GraftParquet.predicateToFilter)
    if (conv.nonEmpty) {
      runtime ++= conv
      cached = null // next planInputPartitions re-prunes
    }
  }

  /** Planning-time cardinality and size from the SURVIVING partitions
    * (column-pruned chunks' compressed bytes; row counts net of page
    * ranges and deletion vectors) — so a filtered `graftpq` dim that
    * shrinks under the broadcast threshold actually broadcasts, where
    * the DSv2 default (`defaultSizeInBytes` = effectively infinite)
    * would force a shuffle join.
    */
  override def estimateStatistics(): V2Statistics = {
    val parts = planInputPartitions()
    var rows = 0L
    var bytes = 0L
    parts.foreach { ip =>
      val p = ip.asInstanceOf[GraftPqPartition]
      var surv = p.rgRows
      if (p.ranges.nonEmpty) {
        surv = 0L
        var i = 0
        while (i < p.ranges.length) {
          surv += p.ranges(i + 1) - p.ranges(i); i += 2
        }
      }
      rows += surv - p.skip.length
      bytes += p.columns.map(c => math.max(c.totalCompressedSize, 0L)).sum
    }
    new V2Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def description(): String =
    s"graftpq $path PushedFilters: [${pushed.mkString(", ")}], " +
      s"ConsumedPartitionFilters: [${consumed.mkString(", ")}], " +
      s"RuntimeFilters: [${runtime.mkString(", ")}], " +
      topn.map(t => s"PushedTopN: ORDER BY ${t.col} " +
        s"${if (t.asc) "ASC" else "DESC"} " +
        s"${if (t.nullsFirst) "NULLS FIRST" else "NULLS LAST"} " +
        s"LIMIT ${t.k}, ").getOrElse("") +
      s"ReadSchema: ${required.catalogString}"

  /** Driver-side planning from footer tails only — the same O(KB per
    * multi-GB file) IO shape parquet-mr planning has. A row group is
    * planned out when any pushed comparison is disjoint with its
    * footer min/max.
    *
    * MANIFEST BRIDGE: when `path` is a [[graft.operators.Maintenance]]
    * committed table (`_graft_log/version` present), the commit
    * protocol's file-level statistics (`_graft_log/filestats.tsv`,
    * bounds widened one ulp at record time) prune WHOLE FILES before
    * any footer tail is read — planning IO over a heavily-pruned table
    * is one TSV read plus the surviving files' tails, not O(files)
    * tails. The skipping paths compose: hive partition-dir values and
    * manifest stats drop whole files, footer stats then drop row
    * groups within the survivors. A PARTITIONED committed table (the
    * reference's own fact-table shape, partitioned by coin_id) is
    * walked through its `col=value` dirs, each file's partition values
    * surfacing as constant columns typed by the tracked schema.
    * OUTSTANDING DELETION VECTORS are applied at the scan: the
    * vector datasets (O(deleted rows) metadata) load driver-side
    * through the repo's own decoder, each row group's split carries
    * only its own slice of positions (file row index is global across
    * row groups, so slices come from cumulative footer row counts
    * BEFORE any group is pruned), and the reader hops the skipped
    * rows. Stats pruning needs no DV awareness — deleting rows only
    * shrinks a group's true value range, so min/max disjointness
    * proofs stay valid.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    var c = cached
    if (c == null) {
      c = capToTopN(capToLimit(doPlanInputPartitions()))
      cached = c
    }
    c
  }

  /** A pushed LIMIT keeps only the leading partitions whose (DV-net)
    * rows cover it — exact because nothing else drops rows on an
    * unfiltered scan; any filter (static or runtime) disables the cap.
    */
  private def capToLimit(all: Array[InputPartition])
      : Array[InputPartition] = {
    if (limit < 0 || inexactFilters.nonEmpty) return all
    var acc = 0L
    var k = 0
    while (k < all.length && acc < limit) {
      val p = all(k).asInstanceOf[GraftPqPartition]
      acc += p.rgRows - p.skip.length
      k += 1
    }
    java.util.Arrays.copyOfRange(all, 0, k)
  }

  /** A pushed TOP-N drops every row group whose rows PROVABLY cannot
    * reach the top k: group g is dropped when other groups' chunk
    * stats place at least k rows STRICTLY before g's every row. Sound
    * by induction down the rank order — a dropped dominator's own
    * dominators rank even earlier, and a group with no strict
    * dominator is always kept — and STRICT comparison keeps ties, so
    * equal-valued candidates never eliminate each other. Nulls rank by
    * the pushed ordering: under NULLS FIRST any group that may hold a
    * null is kept (nulls tie with nulls) and every known null counts
    * as a dominator; under NULLS LAST only non-null rows dominate
    * (they outrank a dropped group's nulls too). Refused wholesale
    * under filters, deletion vectors, or page ranges (counts would
    * overcount), and a group with missing stats is kept and
    * contributes nothing.
    */
  private def capToTopN(all: Array[InputPartition])
      : Array[InputPartition] = {
    val t = topn.getOrElse(return all)
    if (inexactFilters.nonEmpty) return all
    val ps = all.map(_.asInstanceOf[GraftPqPartition])
    if (ps.exists(p => p.skip.nonEmpty || p.ranges.nonEmpty)) return all
    val isStr = ps.iterator
      .flatMap(_.columns.find(_.path == t.col)).nextOption()
      .exists(_.physicalType == 6)
    val keepOpt: Option[Array[Boolean]] =
      if (isStr) {
        // STRING keys: chunk stats carry no exactness flag and
        // foreign writers MAY truncate them (a truncated max
        // understates a group's span — unsound as a dominator), so
        // only groups from files behind the exact-writer gate carry
        // bounds; every other group is kept and contributes nothing
        GraftParquet.topNKeepStr(t, ps.map { p =>
          p.columns.find(_.path == t.col) match {
            case Some(c) if c.physicalType == 6 && p.exactStr =>
              (p.rgRows, c.nullCount,
                for { mn <- c.minValue; mx <- c.maxValue }
                  yield (UTF8String.fromBytes(mn),
                    UTF8String.fromBytes(mx)))
            case Some(c) =>
              (p.rgRows, c.nullCount,
                None: Option[(UTF8String, UTF8String)])
            case _ => (p.rgRows, None, None)
          }
        }.toSeq)
      } else {
        GraftParquet.topNKeepLong(t, ps.map { p =>
          p.columns.find(_.path == t.col) match {
            case Some(c) if Set(1, 2).contains(c.physicalType) =>
              (p.rgRows, c.nullCount,
                for { mn <- c.minValue; mx <- c.maxValue }
                  yield (ParquetFooter.statLong(c.physicalType, mn),
                    ParquetFooter.statLong(c.physicalType, mx)))
            case _ => (p.rgRows, None, None)
          }
        }.toSeq)
      }
    keepOpt match {
      case None => all
      case Some(keep) =>
        ps.zip(keep).collect { case (p, true) => p: InputPartition }
    }
  }

  private def doPlanInputPartitions(): Array[InputPartition] = {
    val pushed = filters // static + runtime, through every tier below
    val isTable =
      new java.io.File(path, "_graft_log/version").exists()
    val partCols = partColsCached
    val manifest: Map[String, Map[String, (Double, Double)]] =
      if (!isTable) Map.empty
      else graft.operators.Maintenance.readFileStats(path)
        .groupBy(_._1._1)
        .map { case (f, m) =>
          f -> m.map { case ((_, c), r) => c -> r }
        }
    // gap-varint packed per file (~1-2 bytes per deleted row retained
    // driver-side); a file's Longs decode only when ITS groups slice
    val dvByFile: Map[String, Array[Byte]] =
      if (isTable &&
          graft.operators.Maintenance.outstandingDvFiles(path).nonEmpty)
        graft.operators.Maintenance.dvPackedByFile(path)
      else Map.empty
    val partColTypes = partCols.toMap
    // a committed table lists from its log (no directory walk, even
    // when partitioned); plain dirs walk
    val files: Seq[(java.io.File, Map[String, Option[String]])] =
      (if (isTable) GraftParquet.tableFiles(path, partCols.map(_._1))
       else None).getOrElse {
        if (partCols.isEmpty)
          GraftParquet.listFiles(path).map((_, Map.empty[String,
            Option[String]]))
        else GraftParquet.listPartitionedFiles(path, partCols.map(_._1))
          .map { case (f, vs) => (f, partCols.map(_._1).zip(vs).toMap) }
      }
    // FILE-level TOP-N / LIMIT tier over a committed table: the exact
    // agg-stats manifest carries per-file rows / nulls / int-backed
    // bounds, so whole files drop BEFORE any footer tail is read —
    // `ORDER BY ts DESC LIMIT 100` over a 10k-file table reads one
    // manifest plus the few surviving tails (the row-group tier then
    // prunes within them). Both caps engage only on unfiltered,
    // DV-free scans, same as their row-group twins.
    // consumed partition predicates apply EXACTLY, file-in-or-file-out
    // (the conservative stat tiers below also see them — harmless)
    val filesExact = files.filter { case (_, pv) =>
      consumed.forall(GraftParquet.evalPartitionExact(_, partColTypes,
        pv))
    }
    val capped: Seq[(java.io.File, Map[String, Option[String]])] =
      if (!isTable || inexactFilters.nonEmpty || dvByFile.nonEmpty ||
          (topn.isEmpty && limit < 0)) filesExact
      else {
        val aggMan = graft.operators.Maintenance.readAggStats(path)
        val root = java.nio.file.Paths.get(path).toAbsolutePath
        def relOf(f: java.io.File): String =
          root.relativize(f.toPath.toAbsolutePath).toString
        val topNed = topn match {
          case Some(t) if aggMan.nonEmpty =>
            // key kind from any recorded stat: int-backed longs or
            // exact string bytes (recorded only behind the
            // exact-writer gate; files without them are kept and
            // contribute no dominators)
            val isStrKey = aggMan.valuesIterator
              .flatMap(_._2.get(t.col)).take(1).toSeq.headOption
              .exists(_.physicalType == 6)
            val keepOpt: Option[Array[Boolean]] =
              if (isStrKey)
                GraftParquet.topNKeepStr(t, filesExact.map {
                  case (f, _) => aggMan.get(relOf(f)) match {
                    case Some((rows, cols)) =>
                      cols.get(t.col) match {
                        case Some(st) if st.sExact =>
                          (rows, st.nullCount,
                            for { a <- st.sMin; b <- st.sMax }
                              yield (UTF8String.fromBytes(a),
                                UTF8String.fromBytes(b)))
                        case _ => (rows, None,
                          None: Option[(UTF8String, UTF8String)])
                      }
                    case None => (0L, None, None) // uncovered: keep
                  }
                })
              else
                GraftParquet.topNKeepLong(t, filesExact.map {
                  case (f, _) => aggMan.get(relOf(f)) match {
                    case Some((rows, cols)) =>
                      cols.get(t.col) match {
                        case Some(st) if st.mmExact =>
                          (rows, st.nullCount,
                            for { a <- st.min; b <- st.max }
                              yield (a, b))
                        case _ => (rows, None, None)
                      }
                    case None => (0L, None, None) // uncovered: keep
                  }
                })
            keepOpt match {
              case Some(keep) => filesExact.zip(keep)
                .collect { case (fp, true) => fp }
              case None => filesExact
            }
          case _ => filesExact
        }
        // LIMIT: leading files whose exact manifest rows cover it —
        // only when EVERY file is covered (a blind row count could
        // under-plan)
        if (limit < 0 ||
            !topNed.forall(fp => aggMan.contains(relOf(fp._1)))) topNed
        else {
          var acc = 0L
          topNed.takeWhile { fp =>
            val take = acc < limit
            if (take) acc += aggMan(relOf(fp._1))._1
            take
          }
        }
      }
    val survivors = capped.filter { case (f, partVals) =>
      // two file-level prunes compose: the dir's own partition value
      // (min = max range — numeric, or the exact string bytes) and the
      // manifest's recorded per-column stats — both conservative,
      // absent = keep
      def partRange(c: String): Option[(Double, Double)] =
        partVals.get(c).flatten.flatMap(s => s.toDoubleOption.orElse(
          // DateType partition dirs ("dt=2024-01-01") hold for every
          // row of the file; normalized date literals compare in days
          scala.util.Try(java.time.LocalDate.parse(s)
            .toEpochDay.toDouble).toOption))
          .map(d => (Math.nextDown(d), Math.nextUp(d)))
      def partRangeS(c: String): Option[(Array[Byte], Array[Byte])] =
        partVals.get(c).flatten.map { s =>
          val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (b, b)
        }
      // a partition value holds for EVERY row of the file: None (the
      // __HIVE_DEFAULT_PARTITION__ dir) = all null, a value = none
      def partNulls(c: String): Option[(Long, Long)] =
        partVals.get(c).map(raw => if (raw.isEmpty) (1L, 1L) else (0L, 1L))
      pushed.forall(survivesRanges(partRange, partRangeS, partNulls, _)) &&
      (manifest.get(f.getName) match {
        case Some(ranges) =>
          pushed.forall(
            survivesRanges(ranges.get _, _ => None, _ => None, _))
        case None => true // no recorded stats: never prune blind
      })
    }
    // per-file planning (footer tail + page indexes + blooms) is pure
    // positional IO with no shared state — run it on a bounded driver
    // pool, order preserved. At 100 TB a sequential tail sweep over
    // the surviving files is the planning bottleneck (10k files ≈ 10k
    // round trips serialized); parallel planning overlaps them.
    val dataRequired =
      StructType(required.fields.filterNot(f => partColTypes.contains(f.name)))
    GraftParquet.planPar(survivors) { case (f, partVals) =>
      val footer = ParquetFooter.readTail(f.toPath)
      val wanted = GraftParquet.requestedPaths(footer.schema, dataRequired)
      val statLeaves = GraftParquet.flatLeaves(footer.schema)
      // file row index (what the vectors record) is global across row
      // groups, so every group's start offset accumulates over the
      // FULL footer order — including groups the stats then prune;
      // decoded HERE, per file at slice time (transient peak = one
      // file's deletions, the retained map stays packed)
      val dvPos = dvByFile.get(f.getName)
        .map(graft.operators.Maintenance.dvUnpack)
        .getOrElse(Array.emptyLongArray)
      val starts = footer.rowGroups.scanLeft(0L)(_ + _.numRows)
      // page-index reads are positional O(KB) fetches before the
      // footer; one channel per file, opened only if an index is read
      var ich: java.nio.channels.FileChannel = null
      def indexBytes(loc: (Long, Int)): Array[Byte] = {
        if (ich == null) ich = java.nio.channels.FileChannel.open(
          f.toPath, java.nio.file.StandardOpenOption.READ)
        val bb = java.nio.ByteBuffer.allocate(loc._2)
        var pos = loc._1
        while (bb.hasRemaining) {
          val r = ich.read(bb, pos)
          require(r > 0, "torn parquet: short page-index read")
          pos += r
        }
        bb.array()
      }
      // per-file cache: a chunk's split-block bloom loads once however
      // many equality filters consult it
      val bloomCache = new scala.collection.mutable.HashMap[Long,
        Option[BlockSplitBloomFilter]]()
      try {
        footer.rowGroups.iterator.zip(starts.iterator).filter {
          case (rg, _) =>
            pushed.forall(survives(rg.columns, statLeaves, _)) &&
            pushed.forall(bloomSurvives(rg.columns, statLeaves,
              indexBytes, bloomCache, _))
        }.flatMap { case (rg, rowStart) =>
          val ranges = pageRanges(rg, statLeaves, indexBytes)
          if (ranges != null && ranges.isEmpty) None // every page dead
          else {
            val lo = lowerBound(dvPos, rowStart)
            val hi = lowerBound(dvPos, rowStart + rg.numRows)
            val skip = java.util.Arrays.copyOfRange(dvPos, lo, hi)
              .map(_ - rowStart) // group-relative, stays sorted
            Some(GraftPqPartition(f.getAbsolutePath, rg.numRows,
              rg.columns.filter(c => wanted(c.path)), partVals, rowStart,
              (rg.startOffset, rg.compressedSize),
              if (ranges == null) skip
              else skip.filter(GraftParquet.inRanges(ranges, _)),
              if (ranges == null) Array.emptyLongArray else ranges,
              exactStr = footer.createdBy.contains(
                graft.operators.ParquetWrite.createdBy)))
          }
        }.toVector // materialize before the channel closes
      } finally if (ich != null) ich.close()
    }.toArray
  }

  /** Page-index pruning for one surviving row group: for every pushed
    * filter column whose chunk carries BOTH a ColumnIndex and an
    * OffsetIndex, keep the pages the per-page stats cannot disprove
    * (all-null pages fail every pushed form — comparisons and
    * IsNotNull alike), turn them into row spans via the OffsetIndex's
    * first_row_index fences, and intersect the spans across columns —
    * parquet-mr's RowRanges semantics. Returns `null` when nothing
    * constrains the group (no indexed filter column, or every page
    * survives), an EMPTY array when no page survives (the caller drops
    * the whole group), else the sorted disjoint `[start, end)` pairs.
    */
  private def pageRanges(rg: ParquetFooter.PqRowGroup,
      leaves: Map[String, PqSchemaField],
      indexBytes: ((Long, Int)) => Array[Byte]): Array[Long] = {
    val pushed = filters // static + runtime
    if (pushed.isEmpty) return null
    var acc: Array[Long] = null // null = unconstrained so far
    pushed.flatMap(fl => filterColumn(fl).map(_ -> fl))
      .groupBy(_._1).foreach { case (c, byCol) =>
        val fs = byCol.map(_._2)
        for {
          col <- rg.columns.find(_.path == c)
          leaf <- leaves.get(c)
          isNum = Set(1, 2, 4, 5).contains(leaf.physicalType) &&
            !leaf.convertedType.contains(5) // DECIMAL stats unscaled
          isStr = leaf.physicalType == 6 &&
            (leaf.convertedType.contains(0) ||
              leaf.convertedType.contains(4)) // UTF8 / ENUM
          if isNum || isStr
          oiLoc <- col.offsetIndex
          ciLoc <- col.columnIndex
        } {
          val oi = ParquetFooter.readOffsetIndex(indexBytes(oiLoc))
          val ci = ParquetFooter.readColumnIndex(indexBytes(ciLoc))
          val n = oi.pages.length
          if (ci.nullPages.length == n) {
            val buf = new scala.collection.mutable.ArrayBuffer[Long]
            var i = 0
            while (i < n) {
              val s = oi.pages(i).firstRowIndex
              val e = if (i + 1 < n) oi.pages(i + 1).firstRowIndex
                else rg.numRows
              val alive =
                if (ci.nullPages(i))
                  // every row's value is null: only null-seeking
                  // forms can match (comparisons/IN/prefix all fail)
                  fs.forall {
                    case IsNull(_) => true
                    case EqualNullSafe(_, null) => true
                    case _ => false
                  }
                else {
                  val mn = ci.minValues(i)
                  val mx = ci.maxValues(i)
                  // absent/odd-width stats: unknown, page survives
                  // (an empty STRING min is ambiguous with "" — also
                  // conservatively unknown)
                  val range: Option[(Double, Double)] =
                    if (!isNum || mn.isEmpty || mx.isEmpty) None
                    else Some((Math.nextDown(ParquetFooter.statDouble(
                      leaf.physicalType, mn)),
                      Math.nextUp(ParquetFooter.statDouble(
                        leaf.physicalType, mx))))
                  val rangeS: Option[(Array[Byte], Array[Byte])] =
                    if (!isStr || mn.isEmpty || mx.isEmpty) None
                    else Some((mn, mx))
                  val pageNulls: Option[(Long, Long)] =
                    ci.nullCounts.map(ncs => (ncs(i), e - s))
                  fs.forall(survivesRanges(_ => range, _ => rangeS,
                    _ => pageNulls, _))
                }
              if (alive) {
                if (buf.nonEmpty && buf(buf.length - 1) == s)
                  buf(buf.length - 1) = e // coalesce adjacent pages
                else { buf += s; buf += e }
              }
              i += 1
            }
            val colRanges = buf.toArray
            acc =
              if (acc == null) colRanges
              else intersectRanges(acc, colRanges)
          }
        }
      }
    if (acc == null) null
    else if (acc.length == 2 && acc(0) == 0L && acc(1) == rg.numRows)
      null // every page survived: scan the group unpruned
    else acc
  }

  private def filterColumn(f: Filter): Option[String] = f match {
    case EqualTo(c, _) => Some(c)
    case EqualNullSafe(c, _) => Some(c)
    case GreaterThan(c, _) => Some(c)
    case GreaterThanOrEqual(c, _) => Some(c)
    case LessThan(c, _) => Some(c)
    case LessThanOrEqual(c, _) => Some(c)
    case IsNotNull(c) => Some(c)
    case IsNull(c) => Some(c)
    case In(c, _) => Some(c)
    case StringStartsWith(c, _) => Some(c)
    case _ => None
  }

  /** Intersect two sorted disjoint `[start, end)` pair lists. */
  private def intersectRanges(a: Array[Long], b: Array[Long])
      : Array[Long] = {
    val buf = new scala.collection.mutable.ArrayBuffer[Long]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val s = math.max(a(i), b(j))
      val e = math.min(a(i + 1), b(j + 1))
      if (s < e) {
        if (buf.nonEmpty && buf(buf.length - 1) == s)
          buf(buf.length - 1) = e
        else { buf += s; buf += e }
      }
      if (a(i + 1) <= b(j + 1)) i += 2 else j += 2
    }
    buf.toArray
  }

  /** First index whose value is >= `key` in a sorted array. */
  private def lowerBound(a: Array[Long], key: Long): Int = {
    val i = java.util.Arrays.binarySearch(a, key)
    if (i >= 0) { // land on the FIRST equal entry
      var j = i
      while (j > 0 && a(j - 1) == key) j -= 1
      j
    } else -i - 1
  }

  /** Bloom-based disjointness for the equality forms: false only when
    * the chunk's split-block bloom filter PROVES the value absent —
    * the pruning min/max can't give on high-cardinality unsorted keys.
    * The bloom loads lazily per chunk (header + bitset, one or two
    * O(KB) positional reads) and only for columns an equality filter
    * actually names; non-standard headers, unsupported value shapes
    * and absent blooms all conservatively survive. Hash = xxHash64
    * (seed 0) of the plain-encoded value — little-endian ints/longs,
    * raw UTF-8 bytes for strings — exactly parquet-mr's input, so a
    * membership "no" transfers; float/double equality is NOT bloom-
    * tested (±0.0/NaN hash identity is not worth the risk).
    */
  private def bloomSurvives(cols: Seq[PqColumn],
      leaves: Map[String, PqSchemaField],
      readAt: ((Long, Int)) => Array[Byte],
      cache: scala.collection.mutable.Map[Long,
        Option[BlockSplitBloomFilter]],
      f: Filter): Boolean = {
    def hashOf(leaf: PqSchemaField, v: Any): Option[Long] = {
      if (leaf.convertedType.contains(5)) return None // DECIMAL
      def le(n: Long, w: Int): Array[Byte] =
        Array.tabulate[Byte](w)(i => ((n >>> (8 * i)) & 0xff).toByte)
      val bytes: Array[Byte] = (leaf.physicalType, v) match {
        case (1, x: java.lang.Integer) => le(x.longValue, 4)
        case (1, x: java.lang.Short) => le(x.longValue, 4)
        case (1, x: java.lang.Byte) => le(x.longValue, 4)
        case (2, x: java.lang.Long) => le(x.longValue, 8)
        case (2, x: java.lang.Integer) => le(x.longValue, 8)
        case (6, s: String) =>
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case _ => return None
      }
      Some(net.jpountz.xxhash.XXHashFactory.fastestInstance().hash64()
        .hash(bytes, 0, bytes.length, 0L))
    }
    def might(c: String, v: Any): Boolean = (for {
      col <- cols.find(_.path == c)
      leaf <- leaves.get(c)
      boff <- col.bloomOffset
    } yield {
      val loaded = cache.getOrElseUpdate(boff,
        try {
          col.bloomLength match {
            case Some(len) =>
              val all = readAt((boff, len))
              val (hlen, nbytes) = ParquetFooter.readBloomHeader(all, 0)
              require(hlen + nbytes <= len,
                s"torn parquet: bloom $nbytes bytes past its length")
              Some(new BlockSplitBloomFilter(
                java.util.Arrays.copyOfRange(all, hlen, hlen + nbytes)))
            case None =>
              // header first (tiny; the ≥32-byte bitset follows, so a
              // 32-byte read never crosses EOF), then exactly the bits
              val head = readAt((boff, 32))
              val (hlen, nbytes) = ParquetFooter.readBloomHeader(head, 0)
              Some(new BlockSplitBloomFilter(readAt((boff + hlen, nbytes))))
          }
        } catch { case _: Exception => None }) // non-standard: no prune
      loaded.forall(bloom => hashOf(leaf, v).forall(bloom.findHash))
    }).getOrElse(true)
    f match {
      case EqualTo(c, v) => might(c, v)
      case EqualNullSafe(c, v) if v != null => might(c, v)
      case In(c, vs) =>
        val live = vs.filter(_ != null)
        live.isEmpty || live.exists(might(c, _))
      case _ => true
    }
  }

  /** False only when the row group's stats PROVE the filter matches no
    * row — absent stats keep the group (conservative).
    */
  private def survives(cols: Seq[PqColumn],
      leaves: Map[String, PqSchemaField], f: Filter): Boolean = {
    def stats(name: String): Option[(Double, Double)] = for {
      col <- cols.find(_.path == name)
      leaf <- leaves.get(name)
      if Set(1, 2, 4, 5).contains(leaf.physicalType)
      // DECIMAL stats are unscaled ints — comparing them to the
      // filter's scaled value would prune wrongly; decimal filters are
      // never pushed (numericCol), belt-and-braces here too
      if !leaf.convertedType.contains(5)
      mn <- col.minValue
      mx <- col.maxValue
      // Long stats beyond 2^53 round when widened to double; one ulp of
      // slack keeps pruning conservative (same trick as
      // Maintenance.footerRanges) — a rounded-equal bound must never
      // prove disjointness the exact longs don't have.
    } yield (Math.nextDown(ParquetFooter.statDouble(leaf.physicalType, mn)),
      Math.nextUp(ParquetFooter.statDouble(leaf.physicalType, mx)))
    // UTF8/ENUM BYTE_ARRAY stats are the value bytes themselves;
    // truncating writers keep them valid bounds (a truncated min is a
    // prefix ≤ the true min, a truncated max gets its last byte
    // incremented), so pruning on them stays conservative
    def statsS(name: String): Option[(Array[Byte], Array[Byte])] = for {
      col <- cols.find(_.path == name)
      leaf <- leaves.get(name)
      if leaf.physicalType == 6
      if leaf.convertedType.contains(0) || leaf.convertedType.contains(4)
      mn <- col.minValue
      mx <- col.maxValue
    } yield (mn, mx)
    // num_values counts EVERY level entry incl. nulls — for the flat
    // leaves gated here, that is the group's row count
    def statsNull(name: String): Option[(Long, Long)] = for {
      col <- cols.find(_.path == name)
      if leaves.contains(name)
      nc <- col.nullCount
      if col.numValues >= 0
    } yield (nc, col.numValues)
    survivesRanges(stats, statsS, statsNull, f)
  }

  /** The shared disjointness test: false only when the column's stats
    * PROVE the filter matches nothing; absent stats always survive.
    * Numeric filters test against `rangeN` (ulp-widened doubles),
    * string filters against `rangeS` — raw UTF-8 bytes compared
    * unsigned-lexicographically, which is BOTH parquet's UTF8 stats
    * order and Spark's string comparison (UTF-8 byte order = code
    * point order), so the disjointness proofs transfer exactly.
    * `nulls` supplies (null count, total count): IsNull prunes a
    * container with zero nulls, IsNotNull an all-null one. In() is a
    * disjunction (survives when ANY member could match; nulls in the
    * member list match no row by SQL semantics). StringStartsWith
    * prunes when the whole range sorts below the prefix or at/above
    * its tight upper fence (prefix with its last non-0xff byte
    * incremented — every string starting with the prefix sorts below
    * that fence).
    */
  private def survivesRanges(rangeN: String => Option[(Double, Double)],
      rangeS: String => Option[(Array[Byte], Array[Byte])],
      nulls: String => Option[(Long, Long)],
      f: Filter): Boolean = {
    def b(v: String): Array[Byte] =
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def cmp(x: Array[Byte], y: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(x, y)
    /** Smallest byte string above EVERY string with prefix `p` (None
      * when p is all 0xff — then no upper fence exists).
      */
    def prefixUpper(p: Array[Byte]): Option[Array[Byte]] = {
      var i = p.length - 1
      while (i >= 0 && p(i) == -1) i -= 1
      if (i < 0) None
      else {
        val u = java.util.Arrays.copyOf(p, i + 1)
        u(i) = (u(i) + 1).toByte
        Some(u)
      }
    }
    f match {
      case EqualTo(c, v: Number) => rangeN(c).forall { case (mn, mx) =>
        v.doubleValue >= mn && v.doubleValue <= mx }
      case EqualTo(c, v: String) => rangeS(c).forall { case (mn, mx) =>
        cmp(b(v), mn) >= 0 && cmp(b(v), mx) <= 0 }
      case EqualNullSafe(c, null) => // <=> null: matches only nulls
        nulls(c).forall(_._1 > 0)
      case EqualNullSafe(c, v) => // non-null <=> behaves like =
        survivesRanges(rangeN, rangeS, nulls, EqualTo(c, v))
      case GreaterThan(c, v: Number) =>
        rangeN(c).forall(_._2 > v.doubleValue)
      case GreaterThan(c, v: String) =>
        rangeS(c).forall(r => cmp(r._2, b(v)) > 0)
      case GreaterThanOrEqual(c, v: Number) =>
        rangeN(c).forall(_._2 >= v.doubleValue)
      case GreaterThanOrEqual(c, v: String) =>
        rangeS(c).forall(r => cmp(r._2, b(v)) >= 0)
      case LessThan(c, v: Number) =>
        rangeN(c).forall(_._1 < v.doubleValue)
      case LessThan(c, v: String) =>
        rangeS(c).forall(r => cmp(r._1, b(v)) < 0)
      case LessThanOrEqual(c, v: Number) =>
        rangeN(c).forall(_._1 <= v.doubleValue)
      case LessThanOrEqual(c, v: String) =>
        rangeS(c).forall(r => cmp(r._1, b(v)) <= 0)
      case IsNull(c) => nulls(c).forall(_._1 > 0)
      case IsNotNull(c) => nulls(c).forall(t => t._1 < t._2)
      case In(c, vs) =>
        // SQL IN: a null member matches no row; an all-null (or empty)
        // member list therefore matches nothing anywhere
        val live = vs.filter(_ != null)
        live.nonEmpty && live.exists(v =>
          survivesRanges(rangeN, rangeS, nulls, EqualTo(c, v)))
      case StringStartsWith(c, p) => rangeS(c).forall { case (mn, mx) =>
        val pb = b(p)
        cmp(mx, pb) >= 0 && prefixUpper(pb).forall(u => cmp(mn, u) < 0)
      }
      case _ => true // unknown forms: never disjoint by construction
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftPqReaderFactory(required, partColsCached, pushed)
}

private[sources] object GraftPqReaderFactory {

  /** graftpq's reader factory over `required`: Spark's own row-mode
    * parquet reader factory, built through [[ParquetScan]] so it
    * carries the session's parquet settings. It decodes the requested
    * data columns plus the file row index; the reader joins the
    * partition values on as a view. `filters` reach it only so parquet-mr can skip the row
    * groups and pages they rule out (pruned pages are then never read
    * or decompressed); which rows a task returns stays graft's
    * planning.
    */
  def apply(required: StructType, partCols: Seq[(String, DataType)],
      filters: Array[Filter]): GraftPqReaderFactory = {
    val partNames = partCols.map(_._1).toSet
    built((required, partCols))(build(_, _, required, partCols))
      .fresh(filters.filter(_.references.forall(!partNames(_))))
  }

  /** Built factories are copied per scan (sharing the broadcast) with
    * that scan's filters.
    */
  private val built = new SparkReaderFactories[GraftPqReaderFactory]

  private def build(spark: SparkSession,
      settings: org.apache.hadoop.conf.Configuration,
      required: StructType, partCols: Seq[(String, DataType)])
      : GraftPqReaderFactory = {
    val partNames = partCols.map(_._1).toSet
    val data = StructType(required.fields.filterNot(f =>
      partNames(f.name)))
    val parts = StructType(required.fields.filter(f => partNames(f.name)))
    val sparkFactory = ParquetScan(spark, settings, null, data,
      data.add(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        LongType),
      new StructType(), Array.empty, CaseInsensitiveStringMap.empty())
      .createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
    // rows are Spark's (data ++ row index) joined with the partition
    // values
    val ordinals = required.fields.map(f =>
      if (partNames(f.name)) data.length + 1 + parts.fieldIndex(f.name)
      else data.fieldIndex(f.name)).toSeq
    // Spark's vectorized reader rejects BYTE_STREAM_SPLIT pages; its
    // row-based mode reads them
    val rowConf = sparkFactory.sqlConf.clone()
    rowConf.setConf(SQLConf.PARQUET_VECTORIZED_READER_ENABLED, false)
    new GraftPqReaderFactory(sparkFactory,
      sparkFactory.copy(sqlConf = rowConf), required, ordinals,
      data.length, parts.fields.map(f => f.name -> f.dataType).toSeq,
      skipsPages = false)
  }
}

private[sources] class GraftPqReaderFactory(
    sparkFactory: ParquetPartitionReaderFactory,
    rowModeFactory: ParquetPartitionReaderFactory, required: StructType,
    ordinals: Seq[Int], rowIndexOrdinal: Int,
    partCols: Seq[(String, DataType)], skipsPages: Boolean)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new GraftPqReader(partition.asInstanceOf[GraftPqPartition], this)

  /** Spark's reader over exactly `p`'s row group. */
  private[sources] def open(p: GraftPqPartition)
      : PartitionReader[InternalRow] = {
    val file = new java.io.File(p.path)
    // parquet-mr trusts each page's declared sizes when it allocates:
    // check them with the bounded decoder first (the footer itself
    // was parsed by graft's bounded decoder at planning)
    val ch = java.nio.channels.FileChannel.open(file.toPath,
      java.nio.file.StandardOpenOption.READ)
    val byteStreamSplit =
      try p.columns.map(ParquetFooter.checkPages(ch, _, skipsPages))
        .contains(true)
      finally ch.close()
    (if (byteStreamSplit) rowModeFactory else sparkFactory)
      .buildReader(PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(new org.apache.hadoop.fs.Path(file.toURI)),
        p.span._1, p.span._2, Array.empty[String], 0L, file.length()))
  }

  /** This factory over fresh copies of Spark's factories (which keep
    * the reader they last built in a field) given `filters`.
    */
  private[sources] def fresh(filters: Array[Filter]): GraftPqReaderFactory =
    new GraftPqReaderFactory(sparkFactory.copy(filters = filters),
      rowModeFactory.copy(filters = filters), required, ordinals,
      rowIndexOrdinal, partCols, skipsPages = filters.nonEmpty)

  /** A view of Spark's rows joined with `p`'s partition values, in
    * `required` order.
    */
  private[sources] def view(): ProjectingInternalRow =
    ProjectingInternalRow(required, ordinals)

  private[sources] def partitionValues(p: GraftPqPartition): InternalRow =
    InternalRow.fromSeq(partCols.map { case (n, dt) =>
      GraftParquet.partitionValue(dt, p.partVals(n))
    })

  private[sources] def rowIndex(r: InternalRow): Long =
    r.getLong(rowIndexOrdinal)
}

/** Reads one planned row group through Spark's parquet reader and
  * returns exactly the rows graft planned: one group-relative position
  * mask, from each row's file row index, drops the rows outside the
  * page-index `ranges` and at the deletion-vector `skip` positions.
  * Reader failures surface as `IllegalArgumentException`s naming the
  * file.
  */
private[sources] class GraftPqReader(p: GraftPqPartition,
    f: GraftPqReaderFactory) extends PartitionReader[InternalRow] {

  private def loud[A](body: => A): A =
    LibCodec.naming(p.path)(LibCodec.loud("parquet reader")(body))

  private val inner = loud(f.open(p))
  private val partValues = f.partitionValues(p)
  private val joined = new JoinedRow()
  private val out = f.view()

  override def next(): Boolean =
    try {
      var found = false
      while (!found && inner.next()) {
        val r = inner.get()
        val pos = f.rowIndex(r) - p.rowStart
        require(pos >= 0 && pos < p.rgRows,
          s"row ${pos + p.rowStart} lies outside the planned row group " +
            s"[${p.rowStart}, ${p.rowStart + p.rgRows})")
        found =
          (p.ranges.isEmpty || GraftParquet.inRanges(p.ranges, pos)) &&
            java.util.Arrays.binarySearch(p.skip, pos) < 0
        if (found) out.project(joined(r, partValues))
      }
      found
    } catch { case NonFatal(e) => loud(throw e) }

  override def get(): InternalRow = out

  override def close(): Unit = inner.close()
}
