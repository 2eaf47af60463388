package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hour, min, struct, to_json}
import org.apache.spark.sql.types.{LongType, TimestampNTZType,
  TimestampType}
import org.scalatest.funsuite.AnyFunSuite


/** graftpq and graftorc return the same schemas and rows as Spark's own
  * parquet and ORC readers under any session time zone: every sfSmoke
  * table (as parquet, and rewritten as ORC) plus timestamp fixtures —
  * TIMESTAMP_NTZ, INT96 and TIMESTAMP(MICROS) parquet, parquet-mr's
  * INT64 TIMESTAMP(MICROS/NANOS), and ORC TIMESTAMP beside Spark's
  * TIMESTAMP_NTZ-over-LONG — read under UTC, America/Los_Angeles and
  * Asia/Kolkata.
  */
class TimestampParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val zones = Seq("UTC", "America/Los_Angeles", "Asia/Kolkata")

  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def inZones(body: String => Unit): Unit = {
    val before = spark.conf.get("spark.sql.session.timeZone")
    try zones.foreach { z =>
      spark.conf.set("spark.sql.session.timeZone", z)
      body(z)
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  /** Rows as sorted JSON strings, rendered under the session zone. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
      .collect().map(_.getString(0)).toSeq.sorted

  private def assertSame(what: String, ours: DataFrame,
      theirs: DataFrame): Unit = {
    assert(ours.schema == theirs.schema, s"$what schema")
    assert(rows(ours) == rows(theirs), s"$what rows")
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private lazy val dir = java.nio.file.Files
    .createTempDirectory("graft-tsparity").toString

  /** ts (an instant) and ntz (the same wall clock, zone-free). */
  private def fixture: DataFrame = withConf(
      "spark.sql.session.timeZone" -> "UTC") {
    spark.range(0, 200).selectExpr("id",
      "timestamp_micros(1700000000000000 + id * 3599000001) as ts",
      "cast(timestamp_micros(1700000000000000 + id * 3599000001) " +
        "as timestamp_ntz) as ntz")
      .localCheckpoint()
  }

  private lazy val parquetFixtures: Seq[(String, String)] = {
    val df = fixture
    Seq("TIMESTAMP_MICROS", "INT96").map { t =>
      val out = s"$dir/pq-$t"
      withConf("spark.sql.parquet.outputTimestampType" -> t) {
        df.coalesce(1).write.mode("overwrite").parquet(out)
      }
      t -> out
    }
  }

  private lazy val orcTables: Seq[(String, String)] =
    withConf("spark.sql.session.timeZone" -> "UTC") {
      (tables.map(t => t -> s"${SparkTestSession.sfSmoke}/$t.parquet") :+
          ("fixture" -> "")).map { case (t, src) =>
        val out = s"$dir/orc-$t"
        val df = if (src.isEmpty) fixture else spark.read.parquet(src)
        df.coalesce(1).write.mode("overwrite").orc(out)
        t -> out
      }
    }

  test("graftpq matches spark.read.parquet on every sfSmoke table and " +
      "the NTZ, INT96 and MICROS fixtures under three zones") {
    val fixtures = parquetFixtures
    inZones { z =>
      for (t <- tables) {
        val p = s"${SparkTestSession.sfSmoke}/$t.parquet"
        assertSame(s"$z $t", spark.read.format("graftpq").load(p),
          spark.read.parquet(p))
      }
      for ((t, p) <- fixtures)
        assertSame(s"$z $t", spark.read.format("graftpq").load(p),
          spark.read.parquet(p))
    }
    val types = fixtures.map { case (t, p) =>
      t -> spark.read.format("graftpq").load(p).schema.map(_.dataType)
    }.toMap
    assert(types("TIMESTAMP_MICROS") ==
      Seq(LongType, TimestampType, TimestampNTZType))
    assert(types("INT96") == Seq(LongType, TimestampType, TimestampNTZType))
  }

  test("ParquetWrite DATE and TIMESTAMP values, pre-1970 and " +
      "1969-12-31T23:59:59.5 included, read identically through graftpq " +
      "and spark.read.parquet under three zones; TIMESTAMP_NTZ rejects " +
      "by name") {
    import org.apache.spark.sql.types.{DateType, StructField, StructType}
    val instants = Seq("1969-12-31T23:59:59.500Z",
      "1969-12-31T23:59:59.999999Z", "1969-12-31T23:59:59Z",
      "1969-12-31T23:59:58.000001Z", "1970-01-01T00:00:00Z",
      "1970-01-01T00:00:00.000001Z", "1969-07-20T20:17:40.123456Z",
      "1900-01-01T00:00:00.500Z", "2024-03-10T10:30:00.25Z")
      .map(java.time.Instant.parse)
    val micros = instants.map(t => java.time.temporal.ChronoUnit.MICROS
      .between(java.time.Instant.EPOCH, t))
    // 0001-01-01, 1900-01-01, 1969-12-31, 1970-01-01, 2024-03-10 ...
    val days = Seq(-719162, -25567, -1, 0, 19792, -2, 1, 365, -365)
    val out = new java.io.File(dir, "pq-write")
    out.mkdirs()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("d", DateType), StructField("ts", TimestampType)))
    graft.operators.ParquetWrite.writeFile(
      new java.io.File(out, "part-0.parquet").toPath, schema,
      instants.indices.iterator.map(i => Array[Any](Long.box(i.toLong),
        Int.box(days(i)), Long.box(micros(i)))))
    inZones { z =>
      val ours = spark.read.format("graftpq").load(out.toString)
      val theirs = spark.read.parquet(out.toString)
      assertSame(s"$z ParquetWrite", ours, theirs)
      for (df <- Seq(ours, theirs)) {
        val got = df.orderBy("id")
          .selectExpr("unix_date(d)", "unix_micros(ts)").collect()
        assert(got.map(_.getInt(0)).toSeq == days, s"$z days")
        assert(got.map(_.getLong(1)).toSeq == micros, s"$z micros")
      }
    }
    val e = intercept[IllegalArgumentException] {
      graft.operators.ParquetWrite.writeFile(
        new java.io.File(out, "ntz.parquet").toPath,
        StructType(Seq(StructField("ntz", TimestampNTZType))),
        Iterator.single(Array[Any](Long.box(0L))))
    }
    assert(e.getMessage.contains("'ntz'") &&
      e.getMessage.contains("unsupported"), e.getMessage)
  }

  /** A parquet-mr-written file (no Spark metadata) holding INT64
    * TIMESTAMP(MICROS) adjusted and not adjusted to UTC, and
    * TIMESTAMP(NANOS).
    */
  private lazy val parquetMrFixture: String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional int64 micros (TIMESTAMP(MICROS,true));
        |  optional int64 ntz (TIMESTAMP(MICROS,false));
        |  optional int64 nanos (TIMESTAMP(NANOS,true));
        |}""".stripMargin)
    val out = s"$dir/pq-mr/part-0.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(out))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 40).foreach { i =>
      val t = 1700000000000000L + i * 3599000001L
      w.write(groups.newGroup().append("id", i.toLong).append("micros", t)
        .append("ntz", t).append("nanos", t * 1000 + i))
    } finally w.close()
    out
  }

  test("graftpq matches spark.read.parquet on parquet-mr INT64 " +
      "timestamps: MICROS either way, NANOS under nanosAsLong, and both " +
      "reject NANOS without it") {
    val p = parquetMrFixture
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      inZones { z =>
        assertSame(s"$z parquet-mr", spark.read.format("graftpq").load(p),
          spark.read.parquet(p))
      }
      assert(spark.read.format("graftpq").load(p).schema.map(_.dataType) ==
        Seq(LongType, TimestampType, TimestampNTZType, LongType))
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      intercept[Exception](spark.read.parquet(p).schema)
      val e = intercept[IllegalArgumentException](
        spark.read.format("graftpq").load(p).schema)
      assert(e.getMessage.contains("'nanos'"), e.getMessage)
    }
  }

  test("hour(min(l_shipdate)) agrees with Spark's reader under " +
      "America/Los_Angeles") {
    val p = s"${SparkTestSession.sfSmoke}/lineitem.parquet"
    def hourOfMin(df: DataFrame): Int =
      df.agg(hour(min(col("l_shipdate")))).head.getInt(0)
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      assert(hourOfMin(spark.read.format("graftpq").load(p)) ==
        hourOfMin(spark.read.parquet(p)))
    }
  }

  test("graftorc matches spark.read.orc on every sfSmoke table and the " +
      "timestamp fixture under three zones") {
    val written = orcTables
    inZones { z =>
      for ((t, p) <- written)
        assertSame(s"$z $t", spark.read.format("graftorc").load(p),
          spark.read.orc(p))
    }
    val fx = spark.read.format("graftorc").load(written.toMap.apply("fixture"))
    assert(fx.schema.map(_.dataType) ==
      Seq(LongType, TimestampType, TimestampNTZType))
  }

  test("INT64 TIMESTAMP(NANOS) maps as Spark's converter does: LongType " +
      "under nanosAsLong, a named reject otherwise") {
    val p = parquetMrFixture
    def inferred(c: String) =
      spark.read.format("graftpq").load(p).schema(c).dataType
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assert(inferred("nanos") == LongType)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val e = intercept[IllegalArgumentException](inferred("nanos"))
      assert(e.getMessage.contains("'nanos'") &&
        e.getMessage.contains("NANOS"), e.getMessage)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assert(inferred("ntz") == TimestampNTZType)
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
        assert(inferred("ntz") == TimestampType)
      }
    }
  }
}
