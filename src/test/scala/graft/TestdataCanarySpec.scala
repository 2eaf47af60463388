package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Schema-drift canary: the driver regenerates /root/testdata between
  * rounds and is free to change physical column encodings (r8: events.ts
  * flipped from parquet TIMESTAMP(NANOS) to TIMESTAMP_NTZ micros, silently
  * collapsing every hardcoded-schema streaming path). This suite fails
  * FAST and NAMES THE CAUSE when the testdata's on-disk shape leaves what
  * [[Tables.normalizeTs]] accepts, instead of letting 15 queries go red in
  * the driver's report.
  */
class TestdataCanarySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfSmoke}

  test("the encoding adapter accepts every testdata table as stored") {
    for (name <- Tables.names) {
      // Tables.t throws IllegalStateException on an encoding drift the
      // adapter does not recognize — surface it per-table by name
      val df = Tables.t(spark, sfSmoke, name)
      assert(df.schema.nonEmpty, s"$name: empty schema")
      if (df.schema.fieldNames.contains("ts"))
        assert(df.schema("ts").dataType == TimestampType,
          s"$name.ts must normalize to TimestampType, " +
            s"got ${df.schema("ts").dataType}")
    }
  }

  test("events.ts normalizes to a sane epoch range (unit-error canary)") {
    // A micros-read-as-nanos (or nanos-as-micros) misinterpretation moves
    // the data by 1000x: the range collapses to minutes around 1970 or
    // explodes past year 4000. Wide bounds keep the canary insensitive to
    // legitimate regeneration, lethal to unit bugs.
    val r = Tables.t(spark, sfSmoke, "events")
      .agg(min(unix_timestamp(col("ts"))).as("lo"),
        max(unix_timestamp(col("ts"))).as("hi"))
      .first()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val y2000 = 946684800L
    val y2100 = 4102444800L
    assert(lo >= y2000 && hi <= y2100,
      s"events.ts outside [2000, 2100]: min=$lo max=$hi — " +
        "timestamp unit misinterpretation?")
    val spanSec = hi - lo
    assert(spanSec >= 3600L && spanSec <= 5L * 365 * 24 * 3600,
      s"events.ts span ${spanSec}s implausible (unit drift collapses a " +
        "30-day range to ~43min or stretches it 1000x)")
  }

  test("drift-prone column shapes hold across the other tables") {
    // embeddings: every similarity operator assumes a float element type;
    // a silent float->double flip would change cosine hashes corpus-wide
    val emb = Tables.t(spark, sfSmoke, "embeddings").schema
    emb("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        assert(et == org.apache.spark.sql.types.FloatType ||
          et == org.apache.spark.sql.types.DoubleType,
          s"embeddings.embedding element drifted to $et")
      case other => fail(s"embeddings.embedding is $other, not an array")
    }
    assert(emb("vec_id").dataType ==
      org.apache.spark.sql.types.LongType, "vec_id drifted")
    val docs = Tables.t(spark, sfSmoke, "documents").schema
    assert(docs("doc_id").dataType == org.apache.spark.sql.types.LongType &&
      docs("text").dataType == org.apache.spark.sql.types.StringType,
      "documents key/text columns drifted")
    // date-carrying TPC-H columns must surface as SOME timestamp type; a
    // producer switching to TIMESTAMP(NANOS) surfaces them as LongType
    // under nanosAsLong and every date function downstream breaks — if
    // this fires, extend Tables.normalizeTs coverage to these columns
    for ((tbl, cn) <- Seq("orders" -> "o_orderdate",
        "lineitem" -> "l_shipdate")) {
      val dt = Tables.t(spark, sfSmoke, tbl).schema(cn).dataType
      assert(dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.TimestampNTZType ||
        dt == org.apache.spark.sql.types.DateType,
        s"$tbl.$cn surfaced as $dt — timestamp encoding drift")
    }
  }

  test("normalizeTs rejects an unknown encoding loudly, naming the column") {
    import spark.implicits._
    val weird = Seq(("2024-01-01", 1L)).toDF("ts", "event_id")
    val e = intercept[IllegalStateException] { Tables.normalizeTs(weird) }
    assert(e.getMessage.contains("ts") &&
      e.getMessage.toLowerCase.contains("encoding"),
      s"reject must name the column and the problem: ${e.getMessage}")
  }

  test("portableHash60 matches a reference JVM md5 derivation") {
    // the cross-engine oracle contract: Spark's conv(substr(md5)) must
    // equal int(md5_hex[0:15], 16) — pin it against MessageDigest so a
    // conv()/md5() behavior change cannot silently shift every LSH oracle
    import spark.implicits._
    val inputs = Seq("", "a", "the quick brown fox", "héllo wörld", "0",
      "a b c")
    val got = inputs.toDF("s")
      .select(graft.operators.Dedup.portableHash60(
        org.apache.spark.sql.functions.col("s")).as("h"))
      .collect().map(_.getLong(0))
    val exp = inputs.map { s =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    assert(got.toSeq == exp, s"got ${got.toSeq} expected $exp")
  }

  test("footerSchema requires one schema per snapshot, naming the " +
      "divergent file on a mix") {
    import spark.implicits._
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-mixfooter-${java.util.UUID.randomUUID()}")
    work.mkdirs()
    try {
      // two parquet files under one glob with genuinely different
      // schemas: a streaming reader takes ONE schema, so this must fail
      // loudly instead of shaping file b under file a's footer
      Seq((1L, 1.5)).toDF("id", "v").coalesce(1)
        .write.parquet(s"$work/part-a.parquet")
      Seq((2L, "x")).toDF("id", "v").coalesce(1)
        .write.parquet(s"$work/part-b.parquet")
      val e = intercept[IllegalArgumentException] {
        Tables.footerSchema(spark, s"$work/part-*.parquet/*.parquet")
      }
      assert(e.getMessage.contains("mixed parquet schemas"),
        s"wrong failure: ${e.getMessage}")
      assert(e.getMessage.contains("part-"),
        s"error must name the divergent file: ${e.getMessage}")
      // a self-consistent glob (each dir's data file) still resolves
      val one = Tables.footerSchema(spark, s"$work/part-a.parquet/*.parquet")
      assert(one.fieldNames.sameElements(Array("id", "v")))
    } finally {
      graft.util.Fs.deleteRecursively(work)
    }
  }

  test("footerSchema equals Spark's own schema inference: testdata, " +
      "timestamp encodings, nested and decimal columns, part-file dirs") {
    import spark.implicits._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def same(path: String): Unit = {
      val want = spark.read.parquet(path).schema
      assert(Tables.footerSchema(spark, path) == want, s"footerSchema($path)")
    }
    Tables.names.foreach(n => same(Tables.path(sfSmoke, n)))
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-footerparity-${java.util.UUID.randomUUID()}")
    val key = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(key)
    try {
      // Spark-written files: the schema comes from Spark's row metadata
      val ts = spark.sql("SELECT TIMESTAMP'2024-01-30 01:02:03.456789' AS ts, " +
        "TIMESTAMP_NTZ'2024-01-30 01:02:03.456789' AS ntz")
      for (enc <- Seq("TIMESTAMP_MICROS", "INT96")) {
        spark.conf.set(key, enc)
        ts.coalesce(1).write.parquet(s"$work/$enc")
        same(s"$work/$enc")
      }
      Seq((1L, BigDecimal("12.34"), Array[Byte](1, 2), (7, "x"), Seq(1.5, 2.5),
          Map("k" -> Seq(3L))))
        .toDF("id", "dec", "bin", "st", "arr", "map").coalesce(1)
        .write.parquet(s"$work/nested")
      same(s"$work/nested")
      // parquet-mr-written files carry no Spark metadata: the schema comes
      // from the parquet types through Spark's converter
      val raw = MessageTypeParser.parseMessageType(
        """message m {
          |  required int64 id;
          |  optional int96 legacy_ts;
          |  optional int64 micros (TIMESTAMP(MICROS,true));
          |  optional int64 ntz (TIMESTAMP(MICROS,false));
          |  optional int64 nanos (TIMESTAMP(NANOS,true));
          |  optional int32 day (DATE);
          |  optional fixed_len_byte_array(9) dec (DECIMAL(20,4));
          |  optional int64 dec_small (DECIMAL(12,2));
          |  optional binary bin;
          |  optional binary s (STRING);
          |  optional group st { required int32 a; optional binary b (STRING); }
          |  optional group arr (LIST) { repeated group list {
          |    required double element; } }
          |}""".stripMargin)
      val rawFile = new org.apache.hadoop.fs.Path(s"$work/raw/part-0.parquet")
      val w = ExampleParquetWriter.builder(rawFile).withType(raw).build()
      try w.write(new SimpleGroupFactory(raw).newGroup().append("id", 1L))
      finally w.close()
      same(rawFile.toString)
      // a directory of agreeing part files, and one holding a divergent part
      Tables.t(spark, sfSmoke, "orders").repartition(3)
        .write.parquet(s"$work/parts")
      same(s"$work/parts")
      java.nio.file.Files.copy(java.nio.file.Paths.get(rawFile.toString),
        java.nio.file.Paths.get(s"$work/parts/part-zz-divergent.parquet"))
      val e = intercept[IllegalArgumentException] {
        Tables.footerSchema(spark, s"$work/parts")
      }
      assert(e.getMessage.contains("mixed parquet schemas") &&
        e.getMessage.contains("part-zz-divergent.parquet"),
        s"error must name the divergent part: ${e.getMessage}")
    } finally {
      prevTs match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      graft.util.Fs.deleteRecursively(work)
    }
  }

  test("the streaming source sees the same normalized ts as the batch scan") {
    // footer-derived readStream schema == batch schema after normalization
    val streamSchema = Tables.eventsStream(spark, sfSmoke).schema
    val batchSchema = Tables.t(spark, sfSmoke, "events").schema
    assert(streamSchema == batchSchema,
      s"stream/batch schema drift:\n  stream: $streamSchema\n  " +
        s"batch: $batchSchema")
  }
}
