package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.operators.OrcWrite

/** The ORC writer (operators.OrcWrite), validated against Spark's own
  * orc-core reader, which must decode written files row-identically
  * both directly and through `graftorc`'s stripe planning.
  */
class OrcWriteSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** `cols` of the ORC files in `dir` read through graftorc, in file
    * order.
    */
  private def graftorcRows(dir: java.io.File, cols: String*)
      : Vector[Seq[Any]] =
    spark.read.format("graftorc").load(dir.toString)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().toVector.map(_.toSeq)

  /** A writer schema of nullable (name, type) columns. */
  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  private def tmpDir(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(s"graft-orcwrite-$tag")
      .toFile

  test("Spark's orc-core reads written files row-identically " +
      "(all types, nulls, multiple stripes)") {
    val dir = tmpDir("types")
    try {
      val fields = schema("id" -> LongType, "k" -> IntegerType,
        "s" -> StringType, "b" -> BooleanType,
        "d" -> DoubleType, "dt" -> DateType,
        "ts" -> TimestampType)
      // micros spanning both sides of 1970 with ragged sub-seconds
      // (ORC's truncate-vs-floor corner second is avoided by stepping
      // well clear of [-1s, 0))
      def micros(i: Int): Long = i.toLong * 77777777L - 50000000000000L
      val rows = (0 until 3000).iterator.map { i =>
        Array[Any](
          Long.box(i.toLong),
          if (i % 7 == 0) null else Int.box(i * 3 - 1000),
          if (i % 11 == 0) null else s"v$i-${i % 5}",
          Boolean.box(i % 2 == 0),
          Double.box(i * 1.25 - 300.0),
          Int.box(19723 + i % 365), // epoch days
          if (i % 13 == 0) null else Long.box(micros(i)))
      }
      val n = OrcWrite.writeFile(
        new java.io.File(dir, "part-00000.orc").toPath, fields,
        rows, stripeRows = 700) // 700+700+700+700+200: 5 stripes
      assert(n == 3000)
      val got = spark.read.orc(dir.toString)
      assert(got.count() == 3000)
      val r = got.orderBy("id").collect()
      assert(r(0).getLong(0) == 0L)
      assert(r(0).isNullAt(1)) // i % 7 == 0
      assert(r(1).getInt(1) == -997)
      assert(r(0).isNullAt(2))
      assert(r(1).getString(2) == "v1-1")
      assert(r(2).getBoolean(3))
      assert(r(4).getDouble(4) == -295.0)
      assert(r(5).getDate(5).toLocalDate ==
        java.time.LocalDate.ofEpochDay(19728))
      assert(r(0).isNullAt(6)) // i % 13 == 0
      for (i <- Seq(1, 2, 991, 2999))
        assert(r(i).getTimestamp(6).toInstant ==
          java.time.Instant.EPOCH.plus(micros(i),
            java.time.temporal.ChronoUnit.MICROS), s"ts row $i")
      assert(got.filter("k IS NULL").count() ==
        (0 until 3000).count(_ % 7 == 0))
      // wide values stress the RLEv2 DIRECT width selection
      assert(got.agg(org.apache.spark.sql.functions.sum("id"))
        .head.getLong(0) == (0 until 3000).map(_.toLong).sum)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("this repo's own reader round-trips written files") {
    val dir = tmpDir("own")
    try {
      val fields = schema("id" -> LongType, "s" -> StringType,
        "d" -> DoubleType)
      val rows = (0 until 2500).iterator.map(i => Array[Any](
        Long.box(i.toLong * 1000000007L - 900000000000L), // wide longs
        if (i % 9 == 0) null else s"row-$i",
        Double.box(i / 4.0)))
      val f = new java.io.File(dir, "part-00000.orc")
      OrcWrite.writeFile(f.toPath, fields, rows, stripeRows = 600)
      val got = graftorcRows(dir, "id", "s", "d")
      assert(got.length == 2500)
      assert(got(0)(0) == -900000000000L && got(0)(1) == null)
      assert(got(10)(1) == "row-10")
      assert(got(2499)(0) == 2499L * 1000000007L - 900000000000L)
      assert(got(2499)(2) == 2499 / 4.0)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("ZSTD-framed files (every section through our own compressor) " +
      "read back via orc-core AND this repo's reader, and shrink") {
    val dir = tmpDir("zstd")
    val dirNone = tmpDir("none")
    try {
      val fields = schema("id" -> LongType, "ev" -> StringType,
        "d" -> DoubleType)
      def rows = (0 until 30000).iterator.map(i => Array[Any](
        Long.box(i.toLong),
        if (i % 50 == 0) null else s"type_${i % 8}", // repetitive
        Double.box((i % 300) * 0.25)))
      val fz = new java.io.File(dir, "part-00000.orc")
      OrcWrite.writeFile(fz.toPath, fields, rows, stripeRows = 8000,
        compression = 5)
      val fn = new java.io.File(dirNone, "part-00000.orc")
      OrcWrite.writeFile(fn.toPath, fields, rows, stripeRows = 8000)
      assert(fz.length() < fn.length() / 2,
        s"zstd ${fz.length()} vs none ${fn.length()}")
      val got = spark.read.orc(dir.toString) // orc-core + its zstd
      assert(got.count() == 30000)
      assert(got.filter("ev = 'type_3'").count() ==
        (0 until 30000).count(i => i % 50 != 0 && i % 8 == 3))
      val own = graftorcRows(dir, "id", "ev", "d")
      assert(own.length == 30000)
      assert(own(3)(1) == "type_3" && own(50)(1) == null)
      assert(own(299)(2) == 299 * 0.25)
    } finally {
      graft.streaming.WorkDirs.deleteRecursively(dir)
      graft.streaming.WorkDirs.deleteRecursively(dirNone)
    }
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
      val n = OrcWrite.writeDataFrame(df, dir.toString)
      assert(n == 20000)
      val parts = dir.listFiles().filter(_.getName.endsWith(".orc"))
      assert(parts.length == 6, s"${parts.length} part files")
      val got = spark.read.orc(dir.toString)
      assert(got.count() == 20000)
      val want = df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val have = got.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      for ((w, g) <- want.zip(have)) assert(w == g, s"$w vs $g")
      // graftorc (the from-scratch DSv2 source) reads the same dir too
      val own = spark.read.format("graftorc").load(dir.toString)
      assert(own.count() == 20000)
      assert(own.agg(org.apache.spark.sql.functions.sum("opt"))
        .head.getLong(0) ==
        (0 until 20000).filter(_ % 13 != 0).map(i => (i % 1000).toLong).sum)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("DECIMAL, BINARY and dictionary-encoded strings write and read " +
      "back via orc-core AND graftorc; the dictionary actually earns " +
      "its bytes") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("richkinds")
    try {
      val digits = concat((col("id") % 3000).cast("string"), lit("."),
        lpad((col("id") % 997).cast("string"), 4, "0"))
      val df = spark.range(0, 20000).toDF("id")
        .select(col("id"),
          when(col("id") % 9 === 0, lit(null))
            .otherwise(when(col("id") % 2 === 0, digits)
              .otherwise(concat(lit("-"), digits)))
            .cast("decimal(20,4)").as("dec"),
          when(col("id") % 7 === 0, lit(null))
            .otherwise(encode(concat(lit("b"), col("id") % 500),
              "UTF-8")).as("bin"),
          concat(lit("type_"), col("id") % 8).as("ev"), // low card
          concat(lit("uniq_"), col("id")).as("u")) // high card
        .coalesce(2)
      val n = OrcWrite.writeDataFrame(df, dir.toString,
        stripeRows = 6000, compression = 5)
      assert(n == 20000)
      def canon(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }
      val want = df.collect().toSeq.map(canon)
        .sortBy(_.head.asInstanceOf[Long])
      val viaOrcCore = spark.read.orc(dir.toString)
        .select("id", "dec", "bin", "ev", "u").collect().toSeq
        .map(canon).sortBy(_.head.asInstanceOf[Long])
      assert(viaOrcCore.size == want.size)
      for ((w, g) <- want.zip(viaOrcCore)) assert(w == g, s"$w vs $g")
      val viaOwn = spark.read.format("graftorc").load(dir.toString)
        .select("id", "dec", "bin", "ev", "u").collect().toSeq
        .map(canon).sortBy(_.head.asInstanceOf[Long])
      for ((w, g) <- want.zip(viaOwn)) assert(w == g, s"own: $w vs $g")
      // decimal statistics surface through orc-core, exact strings
      val f = dir.listFiles().filter(_.getName.endsWith(".orc")).head
      val reader = org.apache.orc.OrcFile.createReader(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        org.apache.orc.OrcFile.readerOptions(
          new org.apache.hadoop.conf.Configuration()))
      try {
        val dSt = reader.getStatistics()(2)
          .asInstanceOf[org.apache.orc.DecimalColumnStatistics]
        assert(dSt.getMinimum.doubleValue() < 0 &&
          dSt.getMaximum.doubleValue() > 0)
      } finally reader.close()
      // the low-cardinality column must have taken the DICTIONARY_V2
      // path: rewrite with every value unique (same byte volume) and
      // the dictionary file must be clearly smaller
      val dirU = tmpDir("richdirect")
      try {
        val dfU = spark.range(0, 20000).toDF("id")
          .select(concat(lit("type_"), col("id") % 100000).as("ev"))
          .coalesce(1)
        val dfL = spark.range(0, 20000).toDF("id")
          .select(concat(lit("type_"), col("id") % 8).as("ev"))
          .coalesce(1)
        val fU = new java.io.File(dirU, "u.orc")
        val fL = new java.io.File(dirU, "l.orc")
        OrcWrite.writeFile(fU.toPath, schema("ev" -> StringType),
          dfU.collect().iterator.map(r => Array[Any](r.getString(0))))
        OrcWrite.writeFile(fL.toPath, schema("ev" -> StringType),
          dfL.collect().iterator.map(r => Array[Any](r.getString(0))))
        assert(fL.length() < fU.length() / 3,
          s"dict ${fL.length()} vs direct ${fU.length()}")
      } finally graft.streaming.WorkDirs.deleteRecursively(dirU)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("written column statistics are real: orc-core reads file and " +
      "stripe stats back; graftorc prunes stripes from them") {
    val dir = tmpDir("stats")
    try {
      val fields = schema("id" -> LongType, "s" -> StringType,
        "d" -> DoubleType, "b" -> BooleanType,
        "dt" -> DateType, "ts" -> TimestampType)
      val N = 30000
      def mkRows = (0 until N).iterator.map { i =>
        Array[Any](
          Long.box(i.toLong),
          if (i % 11 == 0) null else "k%05d".format(i),
          Double.box(i * 0.5 - 100.0),
          Boolean.box(i % 3 == 0),
          Int.box(20000 + i % 50),
          Long.box(i.toLong * 1000037L)) // micros
      }
      val f = new java.io.File(dir, "part-00000.orc")
      val n = OrcWrite.writeFile(f.toPath, fields, mkRows,
        stripeRows = 5000, compression = 5)
      assert(n == N)
      // orc-core (independent implementation): file-level statistics
      val reader = org.apache.orc.OrcFile.createReader(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        org.apache.orc.OrcFile.readerOptions(
          new org.apache.hadoop.conf.Configuration()))
      try {
        val st = reader.getStatistics
        assert(st.length == fields.length + 1)
        val idSt = st(1).asInstanceOf[org.apache.orc.IntegerColumnStatistics]
        assert(idSt.getMinimum == 0L && idSt.getMaximum == (N - 1).toLong)
        assert(idSt.isSumDefined &&
          idSt.getSum == (0 until N).map(_.toLong).sum)
        assert(!st(1).hasNull && st(2).hasNull)
        assert(st(2).getNumberOfValues ==
          (0 until N).count(_ % 11 != 0).toLong)
        val sSt = st(2).asInstanceOf[org.apache.orc.StringColumnStatistics]
        assert(sSt.getMinimum == "k00001" && sSt.getMaximum == "k29999")
        val dSt = st(3).asInstanceOf[org.apache.orc.DoubleColumnStatistics]
        assert(dSt.getMinimum == -100.0 &&
          dSt.getMaximum == (N - 1) * 0.5 - 100.0)
        val bSt = st(4).asInstanceOf[org.apache.orc.BooleanColumnStatistics]
        assert(bSt.getTrueCount == (0 until N).count(_ % 3 == 0).toLong)
        val dtSt = st(5).asInstanceOf[org.apache.orc.DateColumnStatistics]
        assert(dtSt.getMinimumDayOfEpoch == 20000L &&
          dtSt.getMaximumDayOfEpoch == 20049L)
        // timestamp bounds rounded OUTWARD to millis: never narrower
        // than the true micros range
        val tsSt = st(6)
          .asInstanceOf[org.apache.orc.TimestampColumnStatistics]
        val maxMicros = (N - 1).toLong * 1000037L
        assert(tsSt.getMinimum.getTime <= 0L)
        assert(tsSt.getMaximum.getTime >= maxMicros / 1000L)
        // stripe-level statistics: 6 monotone id ranges
        val ss = reader.getStripeStatistics
        assert(ss.size == 6)
        val s0 = ss.get(0).getColumnStatistics()(1)
          .asInstanceOf[org.apache.orc.IntegerColumnStatistics]
        assert(s0.getMinimum == 0L && s0.getMaximum == 4999L)
        val s5 = ss.get(5).getColumnStatistics()(1)
          .asInstanceOf[org.apache.orc.IntegerColumnStatistics]
        assert(s5.getMinimum == 25000L && s5.getMaximum == 29999L)
      } finally reader.close()
      // graftorc: the Metadata stripe stats prune OUR OWN output
      // driver-side, the same contract GraftOrcSpec pins for
      // Spark-written files
      def batchScan(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b
        }.getOrElse(fail("no BatchScanExec in the plan:\n" +
          df.queryExecution.executedPlan.toString))
      val all = spark.read.format("graftorc").load(dir.toString)
      assert(batchScan(all).inputPartitions.length == 6)
      val filtered = all.filter("id >= 25000")
      assert(batchScan(filtered).inputPartitions.length == 1,
        "stripe stats did not prune")
      assert(filtered.count() == 5000)
      assert(filtered
        .agg(org.apache.spark.sql.functions.min("id"))
        .head.getLong(0) == 25000L)
      // orc-core must also still read rows (stats are additive, not
      // a format fork)
      assert(spark.read.orc(dir.toString).count() == N)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("unsupported shapes reject loudly by name") {
    val e = intercept[IllegalArgumentException] {
      OrcWrite.orcSchema(StructType(Seq(
        StructField("x", CalendarIntervalType))))
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("ROW INDEXES are real: orc-core seeks INTO our stripes from " +
      "the written positions (uncompressed and zstd-chunked), skipping " +
      "non-matching row groups") {
    import org.apache.orc.OrcFile
    import org.apache.hadoop.hive.ql.io.sarg.{PredicateLeaf,
      SearchArgumentFactory}
    val dir = tmpDir("rowindex")
    try {
      // every stream family a seek touches: PRESENT (nulls), bit-RLE
      // bool DATA (odd non-null counts → bit offsets), RLEv2 ints,
      // raw doubles, DIRECT and DICTIONARY strings, timestamp
      // DATA+SECONDARY, decimal varints, binary, list/struct/map
      val fields = schema("id" -> LongType, "flag" -> BooleanType,
        "v" -> DoubleType, "tag" -> StringType,
        "txt" -> StringType, "ts" -> TimestampType,
        "dec" -> DecimalType(12, 3), "bin" -> BinaryType,
        "xs" -> ArrayType(LongType),
        "st" -> schema("a" -> LongType, "b" -> StringType),
        "m" -> MapType(StringType, LongType))
      def rows = (0 until 40000).iterator.map { i =>
        Array[Any](
          Long.box(i.toLong),
          if (i % 3 == 0) null else Boolean.box(i % 2 == 0),
          if (i % 7 == 0) null else Double.box(i * 0.25),
          s"t${i % 50}", // 50 distinct → dictionary encodes
          s"x$i-${i % 13}", // unique → direct encodes
          if (i % 11 == 0) null
          else Long.box(i.toLong * 77777777L - 50000000000000L),
          new java.math.BigDecimal(s"$i.${i % 997}"),
          if (i % 5 == 0) null else s"b$i".getBytes("UTF-8"),
          if (i % 10 == 0) null
          else Seq[Any](Long.box(i.toLong * 2),
            if (i % 3 == 0) null else Long.box(i.toLong * 3)),
          if (i % 8 == 0) null
          else Seq[Any](Long.box((i % 100).toLong),
            if (i % 6 == 0) null else s"s$i"),
          if (i % 9 == 0) null
          else Seq[(Any, Any)](("u", Long.box(i.toLong)),
            ("o", if (i % 4 == 0) null else Long.box((i % 11).toLong))))
      }
      for ((codec, name) <- Seq((0, "plain.orc"), (5, "zstd.orc"))) {
        val p = new java.io.File(dir, name)
        // 16000-row stripes, 2000-row groups → 8 groups per stripe
        val n = OrcWrite.writeFile(p.toPath, fields, rows,
          stripeRows = 16000, compression = codec,
          rowIndexStride = 2000)
        assert(n == 40000)
        val conf = spark.sparkContext.hadoopConfiguration
        val reader = OrcFile.createReader(
          new org.apache.hadoop.fs.Path(p.toString),
          OrcFile.readerOptions(conf))
        assert(reader.getRowIndexStride == 2000)
        // mid-stripe range: orc-core must SKIP the first 7 groups of
        // stripe 2 and SEEK every column's streams to group 7's
        // positions; wrong positions decode garbage or throw
        def readIds(lo: Long, hi: Long): (Long, Long, Long) = {
          val sarg = SearchArgumentFactory.newBuilder()
            .between("id", PredicateLeaf.Type.LONG,
              Long.box(lo), Long.box(hi))
            .build()
          val opts = reader.options().searchArgument(sarg, Array("id"))
          val rr = reader.rows(opts)
          val batch = reader.getSchema.createRowBatch()
          val ids =
            batch.cols(0).asInstanceOf[
              org.apache.hadoop.hive.ql.exec.vector.LongColumnVector]
          var count = 0L
          var mn = Long.MaxValue
          var mx = Long.MinValue
          while (rr.nextBatch(batch)) {
            var r = 0
            while (r < batch.size) {
              val v = ids.vector(r)
              if (v < mn) mn = v
              if (v > mx) mx = v
              count += 1
              r += 1
            }
          }
          rr.close()
          (count, mn, mx)
        }
        // groups are [30000,32000) → exactly one 2000-row group
        val (c1, mn1, mx1) = readIds(30000L, 30999L)
        assert(c1 == 2000L, s"$name read $c1 rows, not one row group")
        assert(mn1 == 30000L && mx1 == 31999L, s"$name [$mn1,$mx1]")
        // a stripe-crossing range: last group of stripe 2 + first of 3
        val (c2, mn2, mx2) = readIds(31500L, 32500L)
        assert(c2 == 4000L, s"$name read $c2 rows, not two row groups")
        assert(mn2 == 30000L && mx2 == 33999L, s"$name [$mn2,$mx2]")
      }
      // end-to-end: Spark's ORC source (filterPushdown) over the same
      // file returns the exact rows of a mid-stripe slice — every
      // column's seek produced the right values, not just the right
      // row count
      val got = spark.read.orc(new java.io.File(dir, "zstd.orc")
          .toString)
        .filter("id >= 30100 AND id < 30110")
        .orderBy("id").collect()
      assert(got.length == 10)
      for ((row, k) <- got.zipWithIndex) {
        val i = 30100 + k
        assert(row.getLong(0) == i.toLong)
        assert(row.getString(3) == s"t${i % 50}")
        assert(row.getString(4) == s"x$i-${i % 13}")
        assert(row.getDecimal(6) ==
          new java.math.BigDecimal(s"$i.${i % 997}").setScale(3))
        if (i % 5 == 0) assert(row.isNullAt(7))
        else assert(new String(row.getAs[Array[Byte]](7), "UTF-8")
          == s"b$i")
        if (i % 10 == 0) assert(row.isNullAt(8))
        else assert(row.getSeq[Any](8).head == i.toLong * 2)
        if (i % 9 == 0) assert(row.isNullAt(10))
        else assert(row.getMap[String, Any](10)("u") == i.toLong)
      }
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("nested LIST / STRUCT / MAP columns write through the tree " +
      "shredder: orc-core AND graftorc read them back row-identically") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("nested")
    try {
      // nulls at every level: null collections, empty collections,
      // null elements, null struct fields, null map values — each a
      // distinct PRESENT/LENGTH state the child columns must keep
      // apart; small stripes force the machinery across stripe edges
      val src = spark.range(0, 5000).toDF("id")
        .select(col("id"),
          when(col("id") % 10 === 0, lit(null))
            .otherwise(when(col("id") % 10 === 1,
              array().cast("array<bigint>"))
              .otherwise(array(col("id") * 2,
                when(col("id") % 3 === 0, lit(null))
                  .otherwise(col("id") * 3)))).as("xs"),
          when(col("id") % 8 === 0, lit(null))
            .otherwise(struct(
              (col("id") % 100).as("a"),
              when(col("id") % 5 === 0, lit(null))
                .otherwise(concat(lit("s"), col("id"))).as("b")))
            .as("st"),
          when(col("id") % 9 === 0, lit(null))
            .otherwise(when(col("id") % 9 === 1,
              map().cast("map<string,bigint>"))
              .otherwise(map(
                lit("u"), col("id") * 10,
                lit("o"), when(col("id") % 4 === 0, lit(null))
                  .otherwise(col("id") % 11)))).as("m"),
          when(col("id") % 11 === 0, lit(null))
            .otherwise(array(
              struct((col("id") % 13).as("v")),
              struct(when(col("id") % 2 === 0, lit(null))
                .otherwise(col("id")).as("v")))).as("lst"))
      val n = OrcWrite.writeDataFrame(src.repartition(2, col("id")),
        dir.toString, stripeRows = 400)
      assert(n == 5000)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().toSeq.map(_.toSeq)
          .sortBy(_.head.asInstanceOf[Long])
      val want = canon(src)
      val gotCore = canon(spark.read.orc(dir.toString)) // orc-core
      val gotOwn = canon(
        spark.read.format("graftorc").load(dir.toString))
      assert(gotCore.size == want.size && gotOwn.size == want.size)
      for ((w, g) <- want.zip(gotCore)) assert(w == g, s"core: $w vs $g")
      for ((w, g) <- want.zip(gotOwn)) assert(w == g, s"own: $w vs $g")
      assert(spark.read.orc(dir.toString).schema ==
        spark.read.format("graftorc").load(dir.toString).schema)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("written BLOOM_FILTER_UTF8 streams: orc-core's SearchArgument " +
      "reader prunes row groups on them with zero false negatives; " +
      "graftorc prunes absent keys on OUR files") {
    import org.apache.orc.OrcFile
    import org.apache.hadoop.hive.ql.io.sarg.{PredicateLeaf,
      SearchArgumentFactory}
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("bloomwrite")
    try {
      def md5(v: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(v.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
      // unsorted high-cardinality string + long keys: every row
      // group's [min,max] spans the whole domain, so only the blooms
      // can prune the point lookups below
      val fields = schema("id" -> LongType, "key" -> StringType,
        "uid" -> LongType)
      def rows = (0 until 40000).iterator.map { i =>
        Array[Any](Long.box(i.toLong), md5(i.toString),
          Long.box((i.toLong * 2654435761L) % 1000000007L))
      }
      val file = new java.io.File(dir, "bloom.orc")
      // 16000-row stripes, 2000-row groups → 8 groups per stripe
      val n = OrcWrite.writeFile(file.toPath, fields, rows,
        stripeRows = 16000, compression = 5, rowIndexStride = 2000,
        bloomColumns = Set("key", "uid"))
      assert(n == 40000)
      val conf = spark.sparkContext.hadoopConfiguration
      val reader = OrcFile.createReader(
        new org.apache.hadoop.fs.Path(file.toString),
        OrcFile.readerOptions(conf))
      def countFor(sarg: org.apache.hadoop.hive.ql.io.sarg
          .SearchArgument, cols: Array[String]): Long = {
        val rr = reader.rows(reader.options().searchArgument(sarg, cols))
        val batch = reader.getSchema.createRowBatch()
        var count = 0L
        while (rr.nextBatch(batch)) count += batch.size
        rr.close()
        count
      }
      // present keys: orc-core's own Murmur3/combined-hash probes must
      // land on OUR set bits — a hash mismatch would read as absent
      // and prune the key's group away (a FALSE NEGATIVE, count 0);
      // fpp survivors may add whole extra groups, so the pin is
      // "its group survived, most others did not"
      for (i <- Seq(9, 4242, 17777, 39999)) {
        val sarg = SearchArgumentFactory.newBuilder()
          .startAnd().equals("key", PredicateLeaf.Type.STRING,
            md5(i.toString)).end().build()
        val c = countFor(sarg, Array("key"))
        assert(c >= 2000L && c % 2000L == 0L && c <= 8000L,
          s"key of row $i read $c rows")
      }
      for (i <- Seq(100, 23456)) {
        val v = (i.toLong * 2654435761L) % 1000000007L
        val sarg = SearchArgumentFactory.newBuilder()
          .startAnd().equals("uid", PredicateLeaf.Type.LONG,
            Long.box(v)).end().build()
        assert(countFor(sarg, Array("uid")) >= 2000L,
          s"uid of row $i was bloom-pruned away (false negative)")
      }
      // absent in-range keys: orc-core should bloom-prune essentially
      // everything (min/max cannot — full-domain overlap); at 1% fpp
      // over 20 groups most members prune to exactly zero
      val absentCounts = (0 until 8).map { j =>
        val sarg = SearchArgumentFactory.newBuilder()
          .startAnd().equals("key", PredicateLeaf.Type.STRING,
            md5(s"absent-$j")).end().build()
        countFor(sarg, Array("key"))
      }
      assert(absentCounts.count(_ == 0L) >= 4 &&
        absentCounts.sum <= 16000L,
        s"orc-core barely pruned the absent keys ($absentCounts)")
      // graftorc consumes OUR blooms too: an absent member planning
      // zero partitions, a present one answering row-exactly
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
        df.queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b
        }.getOrElse(fail("no scan"))
      val orc = spark.read.format("graftorc").load(file.toString)
      val zeroJ = (0 until 8).find(j => absentCounts(j) == 0L).get
      val absent = orc.filter(col("key") === md5(s"absent-$zeroJ"))
      assert(scanOf(absent).inputPartitions.isEmpty,
        "absent key should plan zero stripes")
      val present = orc.filter(col("key") === md5("4242")).collect()
      assert(present.length == 1 && present(0).getLong(0) == 4242L)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("int-family blooms hash as orc-core does: zero and negative " +
      "keys survive orc-core's SearchArgument and graftorc's bloom " +
      "pruning, on our files and Spark's") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("longbloom")
    try {
      // unsorted keys, so only the blooms can prune a point lookup
      def key(i: Int): Long = -((i.toLong * 2654435761L) % 1000003L)
      val ours = new java.io.File(dir, "ours")
      ours.mkdirs()
      OrcWrite.writeFile(new java.io.File(ours, "part-0.orc").toPath,
        schema("id" -> LongType),
        (0 until 20000).iterator.map(i => Array[Any](Long.box(key(i)))),
        rowIndexStride = 1000, bloomColumns = Set("id"))
      val theirs = new java.io.File(dir, "theirs").toString
      spark.range(0, 20000).select(
        (-((col("id") * 2654435761L) % 1000003L)).as("id"))
        .coalesce(1).write.option("orc.bloom.filter.columns", "id")
        .option("orc.row.index.stride", "1000").orc(theirs)
      for (i <- Seq(0, 5, 1234, 19999)) {
        val k = key(i)
        assert(spark.read.orc(ours.toString).where(col("id") === k)
          .count() == 1, s"orc-core lost key $k of our file")
        for (d <- Seq(ours.toString, theirs))
          assert(spark.read.format("graftorc").load(d)
            .where(col("id") === k).count() == 1,
            s"graftorc lost key $k of $d")
      }
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("writeDataFrame and df.write.format(\"graftorc\") leave only " +
      "their final files: no .crc, .inprogress or .staged siblings") {
    import spark.implicits._
    val dir = tmpDir("listing")
    try {
      val df = (0 until 3000).map(i => (i.toLong, s"v${i % 17}"))
        .toDF("id", "s").repartition(3)
      val direct = new java.io.File(dir, "direct")
      assert(OrcWrite.writeDataFrame(df, direct.toString) == 3000)
      val names = direct.list().toSeq.sorted
      assert(names.count(_.endsWith(".orc")) == 3, names)
      assert(names.forall(n => n == "_SUCCESS" ||
        (n.startsWith("part-") && n.endsWith(".orc"))), names)
      val v2 = new java.io.File(dir, "v2")
      df.write.format("graftorc").mode("overwrite").save(v2.toString)
      val v2Names = v2.list().toSeq.sorted
      assert(v2Names.count(_.endsWith(".orc")) == 3, v2Names)
      assert(v2Names.forall(n => n == "_SUCCESS" ||
        (n.startsWith("part-") && n.endsWith(".orc"))), v2Names)
      assert(spark.read.orc(v2.toString).count() == 3000)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("pre-1970 TIMESTAMPs, 1969-12-31T23:59:59.5 included, read back " +
      "equal through graftorc and spark.read.orc under UTC, " +
      "America/Los_Angeles and Asia/Kolkata") {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val dir = tmpDir("prets")
    val instants = Seq("1969-12-31T23:59:59.500Z",
      "1969-12-31T23:59:59.999999Z", "1969-12-31T23:59:59Z",
      "1969-12-31T23:59:58.000001Z", "1970-01-01T00:00:00Z",
      "1970-01-01T00:00:00.000001Z", "1969-07-20T20:17:40.123456Z",
      "1900-01-01T00:00:00.500Z", "2024-03-10T10:30:00.25Z")
      .map(java.time.Instant.parse)
    def micros(t: java.time.Instant): Long =
      java.time.temporal.ChronoUnit.MICROS.between(
        java.time.Instant.EPOCH, t)
    val ours = new java.io.File(dir, "ours").toString
    val theirs = new java.io.File(dir, "theirs").toString
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      new java.io.File(ours).mkdirs()
      OrcWrite.writeFile(new java.io.File(ours, "part-0.orc").toPath,
        schema("id" -> LongType, "ts" -> TimestampType),
        instants.indices.iterator.map(i =>
          Array[Any](Long.box(i.toLong), Long.box(micros(instants(i))))))
      locally {
        val s = spark
        import s.implicits._
        instants.zipWithIndex.map { case (t, i) =>
          (i.toLong, java.sql.Timestamp.from(t))
        }.toDF("id", "ts").coalesce(1).write.mode("overwrite").orc(theirs)
      }
      for (z <- Seq("UTC", "America/Los_Angeles", "Asia/Kolkata")) {
        spark.conf.set("spark.sql.session.timeZone", z)
        val readers = Seq(
          "graftorc" -> spark.read.format("graftorc").load(ours),
          "orc" -> spark.read.orc(ours),
          "orc of Spark's file" -> spark.read.orc(theirs))
        val got = readers.map { case (_, df) =>
          df.orderBy("id").collect().map(_.getTimestamp(1).toInstant).toSeq
        }
        for (((what, _), g) <- readers.zip(got))
          assert(g == got.head, s"$z $what")
        // ORC stores seconds and nanos apart, and orc-core's reader
        // lands a value in (-1 s, 0) one second late, whichever writer
        // wrote it; every other value reads back exactly
        for ((t, g) <- instants.zip(got.head)) {
          val m = micros(t)
          if (m > -1000000L && m < 0L) assert(g == t.plusSeconds(1), s"$z $t")
          else assert(g == t, s"$z $t")
        }
        val rendered = readers.take(2).map { case (_, df) =>
          df.select(to_json(struct(col("id"), col("ts"))))
            .collect().map(_.getString(0)).toSeq.sorted
        }
        assert(rendered(0) == rendered(1), s"$z rendering")
      }
    } finally {
      spark.conf.set("spark.sql.session.timeZone", before)
      graft.streaming.WorkDirs.deleteRecursively(dir)
    }
  }
}
