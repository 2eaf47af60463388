package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ParquetFooter, ParquetWrite}
import org.apache.spark.sql.types._

/** The from-scratch parquet WRITER (operators.ParquetWrite), validated
  * against two independent readers: Spark's own parquet-mr vectorized
  * reader must decode written files row-identically (the strong
  * foreign-reader direction), `graftpq` must round-trip them and
  * prune row groups from the written footer statistics.
  */
class ParquetWriteSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** `f`'s rows through graftpq, in order of the first column. */
  private def graftpqRows(f: java.io.File, cols: Seq[String])
      : Vector[Array[Any]] =
    spark.read.format("graftpq").load(f.toString)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
      .orderBy(cols.head).collect().toVector
      .map(r => Array.tabulate[Any](cols.length)(i =>
        if (r.isNullAt(i)) null else r.get(i)))

  private def tmpDir(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(s"graft-pqwrite-$tag")
      .toFile

  test("Spark's parquet-mr reads written files row-identically " +
      "(all types, nulls, snappy and uncompressed)") {
    for (codec <- Seq(0, 1)) {
      val dir = tmpDir(s"codec$codec")
      try {
        val fields = StructType(Seq(StructField("id", LongType),
          StructField("k", IntegerType), StructField("s", StringType),
          StructField("b", BooleanType), StructField("f", FloatType),
          StructField("d", DoubleType), StructField("dt", DateType),
          StructField("ts", TimestampType)))
        val rows = (0 until 3000).iterator.map { i =>
          Array[Any](
            Long.box(i.toLong),
            if (i % 7 == 0) null else Int.box(i * 3 - 1000),
            if (i % 11 == 0) null else s"v$i-${i % 5}",
            Boolean.box(i % 2 == 0),
            Float.box(i * 0.5f - 20f),
            Double.box(i * 1.25 - 300.0),
            Int.box(19723 + i % 365), // epoch days
            Long.box(1709251200000000L + i * 37000000L)) // micros
        }
        val n = ParquetWrite.writeFile(
          new java.io.File(dir, "part-00000.parquet").toPath, fields,
          rows, codec = codec, rowGroupRows = 1000, pageRows = 300)
        assert(n == 3000)
        val got = spark.read.parquet(dir.toString)
        assert(got.count() == 3000, s"[codec $codec]")
        val r = got.orderBy("id").collect()
        assert(r(0).getLong(0) == 0L)
        assert(r(0).isNullAt(1)) // i % 7 == 0
        assert(r(1).getInt(1) == -997)
        assert(r(0).isNullAt(2))
        assert(r(1).getString(2) == "v1-1")
        assert(r(2).getBoolean(3))
        assert(r(3).getFloat(4) == -18.5f)
        assert(r(4).getDouble(5) == -295.0)
        assert(r(5).getDate(6).toLocalDate ==
          java.time.LocalDate.ofEpochDay(19728))
        assert(r(6).getTimestamp(7).toInstant ==
          java.time.Instant.ofEpochSecond(1709251200L + 6 * 37L))
        // null accounting survives aggregation
        assert(got.filter("k IS NULL").count() ==
          (0 until 3000).count(_ % 7 == 0))
      } finally graft.streaming.WorkDirs.deleteRecursively(dir)
    }
  }

  test("this repo's own reader round-trips written files") {
    val dir = tmpDir("own")
    try {
      val fields = StructType(Seq(StructField("id", LongType),
        StructField("s", StringType), StructField("d", DoubleType)))
      val rows = (0 until 2500).iterator.map(i => Array[Any](
        Long.box(i.toLong),
        if (i % 9 == 0) null else s"row-$i",
        Double.box(i / 4.0)))
      val f = new java.io.File(dir, "part-00000.parquet")
      ParquetWrite.writeFile(f.toPath, fields, rows,
        codec = 1, rowGroupRows = 700, pageRows = 256)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val footer = ParquetFooter.read(bytes)
      assert(footer.numRows == 2500)
      assert(footer.rowGroups.length == 4) // 700+700+700+400
      val got = graftpqRows(f, Seq("id", "s", "d"))
      assert(got.length == 2500)
      assert(got(0)(0) == 0L && got(0)(1) == null && got(0)(2) == 0.0)
      assert(got(10)(1) == "row-10")
      assert(got(2499)(0) == 2499L && got(2499)(2) == 2499 / 4.0)
      // footer statistics are the modern min_value/max_value fields
      val idChunk = footer.rowGroups.head.columns.find(_.path == "id").get
      assert(ParquetFooter.statLong(2, idChunk.minValue.get) == 0L)
      assert(ParquetFooter.statLong(2, idChunk.maxValue.get) == 699L)
      assert(idChunk.nullCount.contains(0L))
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("graftpq prunes row groups from the written statistics") {
    val dir = tmpDir("prune")
    try {
      val fields = StructType(Seq(StructField("id", LongType),
        StructField("x", DoubleType)))
      val rows = (0 until 40000).iterator.map(i =>
        Array[Any](Long.box(i.toLong), Double.box(i / 2.0)))
      ParquetWrite.writeFile(
        new java.io.File(dir, "part-00000.parquet").toPath, fields,
        rows, codec = 1, rowGroupRows = 4000, pageRows = 4000)
      val all = spark.read.format("graftpq").load(dir.toString)
      val filtered = all.filter("id >= 36000")
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      val kept = filtered.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.inputPartitions.length
      }.get
      assert(kept == 1, s"stats pruning kept $kept of 10 row groups")
      assert(filtered.count() == 4000)
      // Spark's reader agrees with the same filter on the same bytes
      assert(spark.read.parquet(dir.toString).filter("id >= 36000")
        .count() == 4000)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("writeDataFrame writes one file per partition where the data " +
      "is; Spark reads the directory back row-identically") {
    import spark.implicits._
    val dir = tmpDir("df")
    try {
      val df = (0 until 20000).map(i =>
        (i.toLong, s"u${i % 97}", i * 0.75,
          if (i % 13 == 0) None else Some(i % 1000)))
        .toDF("id", "u", "v", "opt").repartition(6)
      val n = ParquetWrite.writeDataFrame(df, dir.toString, codec = 1)
      assert(n == 20000)
      val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 6, s"${parts.length} part files")
      val got = spark.read.parquet(dir.toString)
      assert(got.count() == 20000)
      val want = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val have = got.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      for ((w, g) <- want.zip(have)) assert(w == g, s"$w vs $g")
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("dictionary encoding engages on repetitive columns: parquet-mr " +
      "and this repo's reader both decode, and the file lands within " +
      "2x of Spark's own size") {
    import spark.implicits._
    val dir = tmpDir("dict")
    val sparkDir = tmpDir("dict-spark")
    try {
      val fields = StructType(Seq(StructField("id", LongType),
        StructField("ev", StringType), StructField("code", IntegerType),
        StructField("grp", DoubleType)))
      val rows = (0 until 60000).iterator.map(i => Array[Any](
        Long.box(i.toLong),
        if (i % 50 == 0) null else s"type_${i % 8}", // 8 distinct
        Int.box(i % 12), // 12 distinct
        Double.box((i % 300).toDouble))) // 300 distinct
      val f = new java.io.File(dir, "part-00000.parquet")
      ParquetWrite.writeFile(f.toPath, fields, rows, codec = 1,
        rowGroupRows = 20000, pageRows = 4000)
      // parquet-mr (the independent implementation) decodes it
      val got = spark.read.parquet(dir.toString)
      assert(got.count() == 60000)
      assert(got.filter("ev = 'type_3'").count() ==
        (0 until 60000).count(i => i % 50 != 0 && i % 8 == 3))
      assert(got.filter("ev IS NULL").count() == 1200)
      assert(got.agg(org.apache.spark.sql.functions.sum("code"))
        .head.getLong(0) == (0 until 60000).map(_ % 12).map(_.toLong).sum)
      // our own reader decodes the RLE_DICTIONARY pages too
      val own = graftpqRows(f, Seq("id", "ev", "code"))
      assert(own.length == 60000)
      assert(own(3)(1) == "type_3" && own(50)(1) == null)
      // the size claim: the same rows written by Spark's own writer
      // (dictionary+snappy) must not beat this file by more than 2x
      (0 until 60000).map(i => (i.toLong,
          if (i % 50 == 0) None else Some(s"type_${i % 8}"),
          i % 12, (i % 300).toDouble))
        .toDF("id", "ev", "code", "grp").coalesce(1)
        .write.mode("overwrite").option("compression", "snappy")
        .parquet(sparkDir.toString)
      val ourSize = f.length()
      val sparkSize = sparkDir.listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      assert(ourSize <= 2 * sparkSize,
        s"dictionary write $ourSize bytes vs Spark's $sparkSize")
    } finally {
      graft.streaming.WorkDirs.deleteRecursively(dir)
      graft.streaming.WorkDirs.deleteRecursively(sparkDir)
    }
  }

  test("ZSTD pages: parquet-mr (zstd-jni) and this repo's reader both " +
      "decode the written frames") {
    val dir = tmpDir("zstd")
    try {
      val fields = StructType(Seq(StructField("id", LongType),
        StructField("s", StringType)))
      val rows = (0 until 5000).iterator.map(i => Array[Any](
        Long.box(i.toLong),
        if (i % 9 == 0) null else s"payload-$i"))
      val f = new java.io.File(dir, "part-00000.parquet")
      ParquetWrite.writeFile(f.toPath, fields, rows, codec = 6,
        rowGroupRows = 2000, pageRows = 500)
      val got = spark.read.parquet(dir.toString) // zstd-jni decodes
      assert(got.count() == 5000)
      assert(got.filter("s IS NULL").count() ==
        (0 until 5000).count(_ % 9 == 0))
      val own = graftpqRows(f, Seq("id", "s"))
      assert(own.length == 5000 && own(1)(1) == "payload-1")
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("parquet-mr ACCEPTS the written statistics: created_by parses, " +
      "so the PARQUET-251 corrupt-stats guard stays quiet") {
    val dir = tmpDir("createdby")
    try {
      val f = new java.io.File(dir, "part-00000.parquet")
      ParquetWrite.writeFile(f.toPath,
        StructType(Seq(StructField("id", LongType),
          StructField("s", StringType))),
        (0 until 500).iterator.map(i =>
          Array[Any](Long.box(i.toLong), s"v$i")), codec = 1)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          spark.sessionState.newHadoopConf()))
      try {
        val col = reader.getFooter.getBlocks.get(0).getColumns.get(0)
        val st = col.getStatistics
        assert(st != null && st.hasNonNullValue,
          "parquet-mr dropped the written min/max — created_by no " +
            "longer parses under VersionParser")
        assert(st.genericGetMin.asInstanceOf[Number].longValue == 0L)
        assert(st.genericGetMax.asInstanceOf[Number].longValue == 499L)
      } finally reader.close()
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("DECIMAL across all three storages and raw BINARY write and " +
      "read back via parquet-mr AND graftpq") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("decbin")
    try {
      val digits9 = concat((col("id") % 3000).cast("string"), lit("."),
        lpad((col("id") % 97).cast("string"), 2, "0"))
      val digits18 = concat((col("id") % 100000).cast("string"),
        lit("."), lpad((col("id") % 9973).cast("string"), 4, "0"))
      val digits30 = concat((col("id") * 1000003L).cast("string"),
        lit("."), lpad((col("id") % 999983).cast("string"), 6, "0"))
      def signed(c: org.apache.spark.sql.Column) =
        when(col("id") % 2 === 0, c).otherwise(concat(lit("-"), c))
      val df = spark.range(0, 12000).toDF("id")
        .select(col("id"),
          when(col("id") % 9 === 0, lit(null))
            .otherwise(signed(digits9)).cast("decimal(7,2)").as("d32"),
          when(col("id") % 11 === 0, lit(null))
            .otherwise(signed(digits18)).cast("decimal(16,4)")
            .as("d64"),
          when(col("id") % 13 === 0, lit(null))
            .otherwise(signed(digits30)).cast("decimal(30,6)")
            .as("dflba"),
          when(col("id") % 7 === 0, lit(null))
            .otherwise(encode(concat(lit("b"), col("id") % 500),
              "UTF-8")).as("bin"))
        .coalesce(2)
      val n = ParquetWrite.writeDataFrame(df, dir.toString, codec = 6,
        rowGroupRows = 4000, pageRows = 1000)
      assert(n == 12000)
      def canon(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }
      val want = df.collect().toSeq.map(canon)
        .sortBy(_.head.asInstanceOf[Long])
      val viaMr = spark.read.parquet(dir.toString)
        .select("id", "d32", "d64", "dflba", "bin").collect().toSeq
        .map(canon).sortBy(_.head.asInstanceOf[Long])
      assert(viaMr.size == want.size)
      for ((w, g) <- want.zip(viaMr)) assert(w == g, s"mr: $w vs $g")
      assert(spark.read.parquet(dir.toString).schema("d32").dataType ==
        org.apache.spark.sql.types.DecimalType(7, 2))
      assert(spark.read.parquet(dir.toString).schema("dflba").dataType ==
        org.apache.spark.sql.types.DecimalType(30, 6))
      val viaOwn = spark.read.format("graftpq").load(dir.toString)
        .select("id", "d32", "d64", "dflba", "bin").collect().toSeq
        .map(canon).sortBy(_.head.asInstanceOf[Long])
      for ((w, g) <- want.zip(viaOwn)) assert(w == g, s"own: $w vs $g")
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("NESTED columns (struct / list / map) shred to Dremel level " +
      "streams parquet-mr AND graftpq read back row-identically") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("nested")
    try {
      val df = spark.range(0, 8000).toDF("id")
        .select(col("id"),
          // struct with a null struct, null fields, mixed leaf types
          when(col("id") % 13 === 0, lit(null))
            .otherwise(struct((col("id") % 97).as("u"),
              when(col("id") % 5 === 0, lit(null))
                .otherwise(concat(lit("t"), col("id") % 3)).as("tag"),
              (col("id") * 0.25).as("w"))).as("meta"),
          // list with null lists, empties and null elements
          when(col("id") % 10 === 0, lit(null))
            .otherwise(when(col("id") % 10 === 1,
              array().cast("array<string>"))
              .otherwise(array(concat(lit("a"), col("id") % 5),
                when(col("id") % 3 === 0, lit(null))
                  .otherwise(concat(lit("b"), col("id") % 7)))))
            .as("tags"),
          sequence(lit(1L), col("id") % 4 + 1).as("ks"),
          // map with null maps, empties and null values
          when(col("id") % 11 === 0, lit(null))
            .otherwise(when(col("id") % 11 === 1,
              map().cast("map<string,bigint>"))
              .otherwise(map(
                concat(lit("k"), col("id") % 5), col("id") * 2,
                lit("opt"), when(col("id") % 3 === 0, lit(null))
                  .otherwise(col("id") % 9))))
            .as("attrs"))
        .coalesce(2)
      val n = ParquetWrite.writeDataFrame(df, dir.toString, codec = 6,
        rowGroupRows = 3000, pageRows = 700)
      assert(n == 8000)
      val want = df.collect().toSeq.map(_.toSeq)
        .sortBy(_.head.asInstanceOf[Long])
      val viaMr = spark.read.parquet(dir.toString)
        .select("id", "meta", "tags", "ks", "attrs").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(viaMr.size == want.size)
      for ((x, g) <- want.zip(viaMr)) assert(x == g, s"mr: $x vs $g")
      val viaOwn = spark.read.format("graftpq").load(dir.toString)
        .select("id", "meta", "tags", "ks", "attrs").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      for ((x, g) <- want.zip(viaOwn)) assert(x == g, s"own: $x vs $g")
      // schema round trip through the independent reader
      val sch = spark.read.parquet(dir.toString).schema
      assert(sch("meta").dataType.isInstanceOf[
        org.apache.spark.sql.types.StructType])
      assert(sch("tags").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = true))
      assert(sch("attrs").dataType ==
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.LongType, valueContainsNull = true))
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("DEEP nesting writes through the generic tree shredder: " +
      "list-of-list, list-of-map, struct-containing-list/map, nested " +
      "map values — parquet-mr AND graftpq read back row-identically") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("deepnested")
    try {
      val df = spark.range(0, 6000).toDF("id")
        .select(col("id"),
          // list<list<bigint>> with nulls/empties at both depths
          when(col("id") % 11 === 0, lit(null))
            .otherwise(when(col("id") % 11 === 1,
              array().cast("array<array<bigint>>"))
              .otherwise(array(
                sequence(lit(1L), col("id") % 3 + 1),
                when(col("id") % 4 === 0, lit(null))
                  .otherwise(when(col("id") % 4 === 1,
                    array().cast("array<bigint>"))
                    .otherwise(array(col("id") * 2,
                      when(col("id") % 5 === 0, lit(null))
                        .otherwise(col("id") % 7)))))))
            .as("ll"),
          // list<map<string,bigint>>
          when(col("id") % 9 === 0, lit(null))
            .otherwise(array(
              map(lit("a"), col("id") % 13),
              when(col("id") % 6 === 0,
                lit(null).cast("map<string,bigint>"))
                .otherwise(map(lit("z"),
                  when(col("id") % 7 === 0, lit(null))
                    .otherwise(col("id") % 17)))))
            .as("lm"),
          // struct containing a list AND a map AND a flat field
          when(col("id") % 13 === 0, lit(null))
            .otherwise(struct(
              (col("id") % 97).as("u"),
              when(col("id") % 5 === 0, lit(null))
                .otherwise(array(concat(lit("s"), col("id") % 4),
                  when(col("id") % 3 === 0, lit(null))
                    .otherwise(concat(lit("t"), col("id") % 6))))
                .as("tags"),
              when(col("id") % 8 === 0, lit(null))
                .otherwise(map(lit("m"), col("id") % 19)).as("mm")))
            .as("st"),
          // map<string, struct<a:bigint, xs:array<bigint>>>
          when(col("id") % 10 === 0, lit(null))
            .otherwise(map(
              lit("v"),
              when(col("id") % 7 === 0,
                lit(null).cast("struct<a:bigint,xs:array<bigint>>"))
                .otherwise(struct((col("id") % 23).as("a"),
                  when(col("id") % 4 === 0, lit(null))
                    .otherwise(sequence(lit(0L), col("id") % 2 + 1))
                    .as("xs")))))
            .as("ms"))
        .coalesce(2)
      val n = ParquetWrite.writeDataFrame(df, dir.toString, codec = 6,
        rowGroupRows = 2500, pageRows = 600)
      assert(n == 6000)
      val cols = Seq("id", "ll", "lm", "st", "ms")
      val want = df.collect().toSeq.map(_.toSeq)
        .sortBy(_.head.asInstanceOf[Long])
      val viaMr = spark.read.parquet(dir.toString)
        .select(cols.map(col): _*).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(viaMr.size == want.size)
      for ((x, g) <- want.zip(viaMr)) assert(x == g, s"mr: $x vs $g")
      val viaOwn = spark.read.format("graftpq").load(dir.toString)
        .select(cols.map(col): _*).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      for ((x, g) <- want.zip(viaOwn)) assert(x == g, s"own: $x vs $g")
      // schema parity through the independent reader (every level
      // re-read as the written LIST/MAP/struct annotations)
      assert(spark.read.parquet(dir.toString)
        .schema(cols.indexOf("ll")).dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = true),
          containsNull = true))
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("PAGE INDEXES are real: parquet-mr reads the written " +
      "ColumnIndex/OffsetIndex back and its column-index filter " +
      "SKIPS pages (filtered record count = one page, not the file)") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.filter2.compat.FilterCompat
    val dir = tmpDir("pageindex")
    try {
      val fields = StructType(Seq(StructField("id", LongType),
        StructField("tag", StringType), StructField("v", DoubleType)))
      def rows = (0 until 40000).iterator.map { i =>
        Array[Any](Long.box(i.toLong), s"t${i % 50}",
          if (i % 7 == 0) null else Double.box(i * 0.5))
      }
      val file = new java.io.File(dir, "ix.parquet")
      // 20000-row groups, 1000-row pages → 20 pages per group
      val n = ParquetWrite.writeFile(file.toPath, fields, rows,
        codec = 1, rowGroupRows = 20000, pageRows = 1000)
      assert(n == 40000)
      val conf = spark.sparkContext.hadoopConfiguration
      val inFile = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf)
      val reader = ParquetFileReader.open(inFile)
      try {
        val rg = reader.getFooter.getBlocks.get(0)
        val idCol = rg.getColumns.get(0)
        val oi = reader.readOffsetIndex(idCol)
        assert(oi != null && oi.getPageCount == 20)
        assert(oi.getFirstRowIndex(0) == 0L)
        assert(oi.getFirstRowIndex(1) == 1000L)
        val ci = reader.readColumnIndex(idCol)
        assert(ci != null)
        assert(ci.getMinValues.size() == 20)
        // sorted ids: page 3 of group 0 covers [3000, 4000)
        val mn3 = java.nio.ByteBuffer.wrap(
          ci.getMinValues.get(3).array())
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
        val mx3 = java.nio.ByteBuffer.wrap(
          ci.getMaxValues.get(3).array())
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
        assert(mn3 == 3000L && mx3 == 3999L, s"page 3 [$mn3,$mx3]")
        // the nullable double column's null_counts are per page
        val vCol = rg.getColumns.get(2)
        val vCi = reader.readColumnIndex(vCol)
        assert(vCi.getNullCounts.get(0).longValue ==
          (0 until 1000).count(_ % 7 == 0).toLong)
      } finally reader.close()
      // the proof pages get SKIPPED: a 10-row range filter with the
      // column-index filter on reads ONE page's worth of records, not
      // a row group's
      val opts = org.apache.parquet.ParquetReadOptions.builder()
        .withRecordFilter(FilterCompat.get(FilterApi.and(
          FilterApi.gtEq(FilterApi.longColumn("id"),
            java.lang.Long.valueOf(30100L)),
          FilterApi.lt(FilterApi.longColumn("id"),
            java.lang.Long.valueOf(30110L)))))
        .useColumnIndexFilter(true).build()
      val fr = ParquetFileReader.open(inFile, opts)
      try {
        val filtered = fr.getFilteredRecordCount
        assert(filtered == 1000L,
          s"column-index filter kept $filtered records, want one " +
            "1000-row page")
      } finally fr.close()
      // end-to-end: Spark (filterPushdown + columnindex on by
      // default) returns the exact rows
      val got = spark.read.parquet(file.toString)
        .filter("id >= 30100 AND id < 30110").orderBy("id").collect()
      assert(got.length == 10)
      for ((r, k) <- got.zipWithIndex) {
        val i = 30100 + k
        assert(r.getLong(0) == i.toLong)
        assert(r.getString(1) == s"t${i % 50}")
        if (i % 7 == 0) assert(r.isNullAt(2))
        else assert(r.getDouble(2) == i * 0.5)
      }
      // this repo's own reader still round-trips the file (the index
      // section sits between the groups and the footer, untouched)
      val own = spark.read.format("graftpq").load(file.toString)
      assert(own.count() == 40000)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("unsupported shapes reject loudly by name") {
    val dir = tmpDir("reject")
    try {
      val e2 = intercept[IllegalArgumentException] {
        ParquetWrite.writeFile(
          new java.io.File(dir, "bad2.parquet").toPath,
          StructType(Seq(StructField("x", LongType))),
          Iterator.single(Array[Any](Long.box(1L))), codec = 3) // LZO
      }
      assert(e2.getMessage.contains("codec"))
      val e3 = intercept[IllegalArgumentException] {
        ParquetWrite.check(StructType(Seq(StructField("m",
          MapType(ArrayType(StringType), LongType)))))
      }
      assert(e3.getMessage.contains("unsupported"))
      // types the writer never took still reject, by column name
      for (dt <- Seq(ByteType, ShortType, TimestampNTZType,
          DayTimeIntervalType())) {
        val e = intercept[IllegalArgumentException] {
          ParquetWrite.check(StructType(Seq(StructField("c", dt))))
        }
        assert(e.getMessage.contains("'c'") &&
          e.getMessage.contains("unsupported"), e.getMessage)
      }
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("written split-block BLOOM FILTERS: parquet-mr reads them and " +
      "probes with zero false negatives; graftpq prunes absent keys " +
      "to zero partitions on OUR files") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("bloomwrite")
    try {
      def md5(v: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(v.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
      // unsorted high-cardinality string + long keys: every row
      // group's [min,max] covers the whole domain, so ONLY the blooms
      // can prune point lookups — the exact shape they exist for
      val fields = StructType(Seq(StructField("id", LongType),
        StructField("key", StringType), StructField("uid", LongType)))
      def rows = (0 until 40000).iterator.map { i =>
        Array[Any](Long.box(i.toLong), md5(i.toString),
          Long.box((i.toLong * 2654435761L) % 1000000007L))
      }
      val file = new java.io.File(dir, "bloom.parquet")
      val n = ParquetWrite.writeFile(file.toPath, fields, rows,
        codec = 1, rowGroupRows = 10000, pageRows = 2000,
        bloomColumns = Set("key", "uid"))
      assert(n == 40000)
      val conf = spark.sparkContext.hadoopConfiguration
      val inFile = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf)
      val reader = ParquetFileReader.open(inFile)
      val keyBlooms = Seq.newBuilder[
        org.apache.parquet.column.values.bloomfilter.BloomFilter]
      val uidBlooms = Seq.newBuilder[
        org.apache.parquet.column.values.bloomfilter.BloomFilter]
      try {
        val blocks = reader.getFooter.getBlocks
        assert(blocks.size == 4)
        for (gi <- 0 until blocks.size) {
          val block = blocks.get(gi)
          val keyCol = block.getColumns.get(1)
          val bloom = reader.getBloomFilterDataReader(block)
            .readBloomFilter(keyCol)
          assert(bloom != null, s"group $gi: parquet-mr found no bloom")
          keyBlooms += bloom
          // every key the group holds answers true (NO false negative)
          for (i <- gi * 10000 until (gi + 1) * 10000 by 25) {
            val h = bloom.hash(
              org.apache.parquet.io.api.Binary.fromString(md5(i.toString)))
            assert(bloom.findHash(h), s"group $gi lost key $i")
          }
          // absent keys overwhelmingly answer false (~1% fpp target)
          val falsePos = (0 until 400).count { i =>
            bloom.findHash(bloom.hash(org.apache.parquet.io.api.Binary
              .fromString(md5(s"absent-$i"))))
          }
          assert(falsePos <= 40, s"group $gi: $falsePos/400 false hits")
          // the INT64 bloom probes with the long's plain encoding
          val uidCol = block.getColumns.get(2)
          val ub = reader.getBloomFilterDataReader(block)
            .readBloomFilter(uidCol)
          assert(ub != null)
          uidBlooms += ub
          for (i <- gi * 10000 until (gi + 1) * 10000 by 100) {
            val v = (i.toLong * 2654435761L) % 1000000007L
            assert(ub.findHash(ub.hash(java.lang.Long.valueOf(v))),
              s"group $gi lost uid of row $i")
          }
        }
      } finally reader.close()
      // parquet-mr's reader row-identity is untouched by the section
      val got = spark.read.parquet(file.toString)
        .orderBy("id").collect()
      assert(got.length == 40000 && got(123).getString(1) == md5("123"))
      // graftpq consumes OUR blooms: absent keys (min/max can't help)
      // plan ZERO partitions; a present key still answers row-exactly
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
        df.queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b
        }.getOrElse(fail("no scan"))
      val pq = spark.read.format("graftpq").load(file.toString)
      // absent members chosen by parquet-mr's INDEPENDENT probe (an
      // ~1%/group fpp could otherwise make a fixed pick survive one
      // group and the zero-partition assert vacuous)
      val kbs = keyBlooms.result()
      val absentKey = (0 until 400).map(i => md5(s"absent-$i"))
        .find(k => kbs.forall(b => !b.findHash(b.hash(
          org.apache.parquet.io.api.Binary.fromString(k))))).get
      val absent = pq.filter(col("key") === absentKey)
      assert(scanOf(absent).inputPartitions.isEmpty,
        "absent key should plan zero partitions")
      val present = pq.filter(col("key") === md5("777"))
      val rows777 = present.collect()
      assert(rows777.length == 1 && rows777(0).getLong(0) == 777L)
      // an IN-RANGE absent uid (out-of-range would let min/max prune
      // and prove nothing about the bloom path)
      val ubs = uidBlooms.result()
      val uids = (0 until 40000)
        .map(i => (i.toLong * 2654435761L) % 1000000007L).toSet
      val absentUid = Iterator.from(123456789).map(_.toLong)
        .find(v => !uids(v) && ubs.forall(b =>
          !b.findHash(b.hash(java.lang.Long.valueOf(v))))).get
      val uidAbsent = pq.filter(col("uid") === absentUid)
      assert(scanOf(uidAbsent).inputPartitions.isEmpty,
        "absent in-range uid should plan zero partitions")
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }
}
