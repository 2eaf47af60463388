package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** The `graftpq` DataSource V2 (sources.GraftParquet): reads planned by
  * the from-scratch footer reader and decoded by the from-scratch page
  * reader must agree row-for-row with Spark's own parquet source, prune
  * columns down to the requested leaves, and prune row groups from
  * footer stats before any task launches.
  */
class GraftParquetSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def batchScan(df: org.apache.spark.sql.DataFrame)
      : BatchScanExec =
    physicalScans(df).headOption
      .getOrElse(fail("no BatchScanExec in the plan:\n" +
        df.queryExecution.executedPlan.toString))

  /** All BatchScanExec nodes, descending through AQE wrappers (an
    * AdaptiveSparkPlanExec is childless; its live plan hangs off
    * `executedPlan`, and materialized query stages are leaves whose
    * subtree hangs off `plan`).
    */
  private def physicalScans(df: org.apache.spark.sql.DataFrame)
      : Seq[BatchScanExec] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive
        .QueryStageExec => walk(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("graftpq reads row-identically to Spark's parquet source " +
      "across types, nulls and codecs") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-types").toString
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try {
      (0 until 2000).map { k =>
        (k.toLong,
          if (k % 9 == 0) None else Some(k * 3 - 700),
          s"v${k % 7}",
          k % 2 == 0,
          k * 0.25f - 10f,
          k * 1.75 - 300.0,
          java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
            .plusDays(k % 365)),
          java.sql.Timestamp.from(java.time.Instant
            .parse("2024-03-01T00:00:00Z").plusSeconds(k * 37L)))
      }.toDF("id", "opt", "s", "b", "f", "d", "dt", "ts")
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(dir)
      val want = spark.read.parquet(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftpq").load(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("DECIMAL (int32/int64/FLBA storage), 3-level LIST and one-level " +
      "STRUCT read row-identically to Spark's parquet source") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-rich").toString
    try {
      spark.range(0, 3000).toDF("id")
        .select(col("id"),
          // three decimal storages per LogicalTypes.md precision rules
          (col("id") * 7 % 1000 / 100.0).cast("decimal(7,2)").as("d32"),
          when(col("id") % 11 === 0, lit(null))
            .otherwise((col("id") * 13 % 100000 / 1000.0)
              .cast("decimal(12,3)")).as("d64"),
          (col("id").cast("decimal(28,6)") * -3 / 7).as("dflba"),
          // variable-length list with nulls, empties and null elements
          when(col("id") % 10 === 0, lit(null))
            .otherwise(when(col("id") % 10 === 1,
              array().cast("array<string>"))
              .otherwise(array(concat(lit("a"), col("id") % 5),
                when(col("id") % 3 === 0, lit(null))
                  .otherwise(concat(lit("b"), col("id") % 7)))))
            .as("tags"),
          // int list too (different physical type under the element)
          sequence(lit(1), col("id") % 4 + 1).as("ks"),
          // one-level struct with a nullable field and a null struct
          when(col("id") % 13 === 0, lit(null))
            .otherwise(struct((col("id") % 97).as("u"),
              when(col("id") % 5 === 0, lit(null))
                .otherwise(concat(lit("t"), col("id") % 3)).as("tag")))
            .as("meta"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(dir)
      val want = spark.read.parquet(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftpq").load(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // schema parity, nullability included (list/struct/decimal shapes)
      assert(spark.read.format("graftpq").load(dir).schema ==
        spark.read.parquet(dir).schema)
      // nested-schema pruning hands pruneColumns a struct with a
      // subset of fields in ITS order, not the file's — the r15 sweep
      // caught the reader emitting file order (Long where Catalyst
      // read a UTF8String). Reference the fields in reversed order and
      // through an aggregate so the pruned shapes actually plan.
      import org.apache.spark.sql.functions.{col => c, min => mn, count}
      val byTag = spark.read.format("graftpq").load(dir)
        .groupBy(c("meta").getField("tag").as("tag"))
        .agg(mn(c("meta").getField("u")).as("min_u"),
          count(lit(1)).as("n"))
        .collect().map(_.toSeq).sortBy(r => String.valueOf(r.head))
      val byTagWant = spark.read.parquet(dir)
        .groupBy(c("meta").getField("tag").as("tag"))
        .agg(mn(c("meta").getField("u")).as("min_u"),
          count(lit(1)).as("n"))
        .collect().map(_.toSeq).sortBy(r => String.valueOf(r.head))
      assert(byTag.toSeq == byTagWant.toSeq)
      val onlyTag = spark.read.format("graftpq").load(dir)
        .select(c("meta").getField("tag").as("t2")).collect()
        .map(r => String.valueOf(r.get(0))).sorted
      val onlyTagWant = spark.read.parquet(dir)
        .select(c("meta").getField("tag").as("t2")).collect()
        .map(r => String.valueOf(r.get(0))).sorted
      assert(onlyTag.toSeq == onlyTagWant.toSeq)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("MAP columns and struct-of-struct nesting read row-identically " +
      "to Spark's parquet source (incl. nested pruning)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-mapnest").toString
    try {
      spark.range(0, 3000).toDF("id")
        .select(col("id"),
          // map<string,bigint> with null maps, empty maps and null
          // values (keys stay required per the spec)
          when(col("id") % 10 === 0, lit(null))
            .otherwise(when(col("id") % 10 === 1,
              map().cast("map<string,bigint>"))
              .otherwise(map(
                concat(lit("k"), col("id") % 5), col("id") * 2,
                lit("fixed"),
                when(col("id") % 3 === 0, lit(null))
                  .otherwise(col("id") % 7))))
            .as("m"),
          // second map with different key/value physical types
          map((col("id") % 3).cast("int"), col("id") * 0.5).as("mi"),
          // three levels of struct nesting with nulls at every level
          when(col("id") % 13 === 0, lit(null))
            .otherwise(struct((col("id") % 97).as("a"),
              when(col("id") % 5 === 0, lit(null))
                .otherwise(struct(
                  concat(lit("s"), col("id") % 4).as("b"),
                  when(col("id") % 7 === 0, lit(null))
                    .otherwise(struct((col("id") % 11).cast("int")
                      .as("d"))).as("c"))).as("inner")))
            .as("st"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(dir)
      val want = spark.read.parquet(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftpq").load(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      assert(spark.read.format("graftpq").load(dir).schema ==
        spark.read.parquet(dir).schema)
      // nested-schema pruning two levels deep, fields referenced in
      // reversed order through an aggregate (the r15 reorder seam,
      // now recursive)
      def probe(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("st").getField("inner").getField("b").as("b"))
        .agg(sum(col("st").getField("inner").getField("c")
          .getField("d")).as("sd"),
          count(lit(1)).as("n"))
        .collect().map(_.toSeq).sortBy(r => String.valueOf(r.head))
      assert(probe(spark.read.format("graftpq").load(dir)).toSeq ==
        probe(spark.read.parquet(dir)).toSeq)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("LIST-of-STRUCT columns read row-identically to Spark's " +
      "parquet source (null lists, empty lists, null elements, null " +
      "fields, nested pruning)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-liststruct").toString
    try {
      // the element's per-slot def levels carry three distinct states
      // (element null / field null / value) that a single leaf's value
      // array can't: every state appears, on two leaves of different
      // physical types
      spark.range(0, 4000).toDF("id")
        .select(col("id"),
          when(col("id") % 10 === 0, lit(null))
            .otherwise(when(col("id") % 10 === 1,
              array().cast("array<struct<k:string,v:bigint,w:double>>"))
              .otherwise(array(
                struct(concat(lit("k"), col("id") % 5).as("k"),
                  (col("id") * 2).as("v"),
                  (col("id") * 0.5).as("w")),
                when(col("id") % 3 === 0,
                  lit(null).cast("struct<k:string,v:bigint,w:double>"))
                  .otherwise(struct(lit("k2").as("k"),
                    when(col("id") % 4 === 0, lit(null))
                      .otherwise(col("id") % 7).as("v"),
                    when(col("id") % 6 === 0, lit(null))
                      .otherwise(col("id") * 1.5).as("w"))))))
            .as("xs"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(dir)
      assert(spark.read.format("graftpq").load(dir).schema ==
        spark.read.parquet(dir).schema)
      val want = spark.read.parquet(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftpq").load(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // nested-schema pruning into the element struct: an aggregate
      // touching one field must restrict the element plan to it
      def probe(df: org.apache.spark.sql.DataFrame) = df
        .select(explode(col("xs")).as("x"))
        .agg(sum(col("x").getField("v")).as("sv"),
          count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSeq
      assert(probe(spark.read.format("graftpq").load(dir)) ==
        probe(spark.read.parquet(dir)))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("DEEP nesting reads row-identically to Spark's parquet source: " +
      "list-of-list, list-of-map, struct-containing-list/map, nested " +
      "map values, struct below a list element") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-deep").toString
    try {
      // every formerly-rejected standard shape in one fixture, with
      // nulls / empties at EVERY level (outer null, outer empty, inner
      // null, inner empty, null elements, null fields, null values)
      spark.range(0, 4000).toDF("id")
        .select(col("id"),
          // list<list<bigint>>
          when(col("id") % 11 === 0, lit(null))
            .otherwise(when(col("id") % 11 === 1,
              array().cast("array<array<bigint>>"))
              .otherwise(array(
                sequence(lit(1), col("id") % 3 + 1),
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
              map(lit("a"), col("id") % 13,
                concat(lit("k"), col("id") % 3), col("id") * 3),
              when(col("id") % 6 === 0,
                lit(null).cast("map<string,bigint>"))
                .otherwise(when(col("id") % 6 === 1,
                  map().cast("map<string,bigint>"))
                  .otherwise(map(lit("z"),
                    when(col("id") % 7 === 0, lit(null))
                      .otherwise(col("id") % 17))))))
            .as("lm"),
          // struct containing a list AND a map AND a flat field
          when(col("id") % 13 === 0, lit(null))
            .otherwise(struct(
              (col("id") % 97).as("u"),
              when(col("id") % 5 === 0, lit(null))
                .otherwise(when(col("id") % 5 === 1,
                  array().cast("array<string>"))
                  .otherwise(array(concat(lit("s"), col("id") % 4),
                    when(col("id") % 3 === 0, lit(null))
                      .otherwise(concat(lit("t"), col("id") % 6)))))
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
                    .otherwise(sequence(lit(0), col("id") % 2 + 1))
                    .as("xs")))))
            .as("ms"),
          // list<struct<k:string, inner:struct<d:bigint>>> — struct
          // below a list element nesting further
          when(col("id") % 12 === 0, lit(null))
            .otherwise(array(
              struct(concat(lit("k"), col("id") % 5).as("k"),
                when(col("id") % 6 === 0, lit(null))
                  .otherwise(struct((col("id") % 29).as("d")))
                  .as("inner")),
              lit(null)
                .cast("struct<k:string,inner:struct<d:bigint>>")))
            .as("ls"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(dir)
      assert(spark.read.format("graftpq").load(dir).schema ==
        spark.read.parquet(dir).schema)
      val want = spark.read.parquet(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftpq").load(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // nested-schema pruning reaches INSIDE the deep shapes: an
      // aggregate over one struct field must restrict the node tree
      def probe(df: org.apache.spark.sql.DataFrame) = df
        .agg(sum(col("st").getField("u")).as("su"),
          sum(size(col("st").getField("tags"))).as("stg"),
          count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSeq
      assert(probe(spark.read.format("graftpq").load(dir)) ==
        probe(spark.read.parquet(dir)))
      def probe2(df: org.apache.spark.sql.DataFrame) = df
        .select(explode(col("ms")).as(Seq("k", "v")))
        .agg(sum(col("v").getField("a")).as("sa"),
          count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSeq
      assert(probe2(spark.read.format("graftpq").load(dir)) ==
        probe2(spark.read.parquet(dir)))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("DECIMAL over BYTE_ARRAY storage (parquet-mr-written) decodes " +
      "raw unscaled bytes, not UTF-8 strings") {
    // Spark itself never writes this storage (it picks
    // INT32/INT64/FLBA), but parquet-mr and most warehouse writers may:
    // the unscaled big-endian twos-complement bytes are NOT valid UTF-8
    // (0x80+ bytes everywhere), so a string-shaped decode corrupts or
    // throws — the ADVICE r15 ClassCastException seam
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-badec").toFile
    try {
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message m { required int64 id; " +
          "optional binary dec (DECIMAL(25,4)); }")
      val conf = new org.apache.hadoop.conf.Configuration()
      org.apache.parquet.hadoop.example.GroupWriteSupport
        .setSchema(schema, conf)
      val fac = new org.apache.parquet.example.data.simple
        .SimpleGroupFactory(schema)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(
          new java.io.File(dir, "part-00000.parquet").getAbsolutePath))
        .withConf(conf)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      try {
        for (k <- 0 until 3000) {
          val g = fac.newGroup().append("id", k.toLong)
          if (k % 9 != 0) {
            // 1-to-9-byte unscaled payloads, both signs
            val unscaled = java.math.BigInteger
              .valueOf(k.toLong * 1000003L - 1500000000L)
              .multiply(java.math.BigInteger.valueOf(1000000007L))
            g.append("dec", org.apache.parquet.io.api.Binary
              .fromConstantByteArray(unscaled.toByteArray))
          }
          w.write(g)
        }
      } finally w.close()
      val want = spark.read.parquet(dir.toString).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftpq").load(dir.toString)
        .collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((x, g) <- want.zip(got)) assert(x == g, s"$x vs $g")
      assert(spark.read.format("graftpq").load(dir.toString).schema ==
        spark.read.parquet(dir.toString).schema)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("INT96 legacy timestamps decode to the same micros Spark's " +
      "reader produces") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-int96").toString
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      (0 until 2000).map { k =>
        (k.toLong,
          if (k % 9 == 0) None
          else Some(java.sql.Timestamp.from(java.time.Instant
            .parse("2021-06-01T00:00:00Z")
            .plusSeconds(k * 97L).plusNanos(k * 137000L))))
      }.toDF("id", "ts").coalesce(1)
        .write.mode("overwrite").option("compression", "snappy")
        .parquet(dir)
      val want = spark.read.parquet(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftpq").load(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("BYTE_STREAM_SPLIT pages (parquet-mr-written) decode " +
      "row-identically to Spark's reader") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-bss").toFile
    try {
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message m { required int64 id; " +
          "optional float f; optional double d; }")
      val conf = new org.apache.hadoop.conf.Configuration()
      org.apache.parquet.hadoop.example.GroupWriteSupport
        .setSchema(schema, conf)
      val fac = new org.apache.parquet.example.data.simple
        .SimpleGroupFactory(schema)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(
          new java.io.File(dir, "part-00000.parquet").getAbsolutePath))
        .withConf(conf)
        .withDictionaryEncoding(false) // force BSS on the float/double
        .withByteStreamSplitEncoding(true)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD)
        .build()
      try {
        for (k <- 0 until 3000) {
          val g = fac.newGroup().append("id", k.toLong)
          if (k % 7 != 0) g.append("f", k * 0.5f - 100f)
          if (k % 11 != 0) g.append("d", k * 1.25 - 300.0)
          w.write(g)
        }
      } finally w.close()
      // Spark's VECTORIZED reader rejects BSS v1 pages outright
      // ("Unsupported encoding: BYTE_STREAM_SPLIT") — the oracle here
      // is parquet-mr's row reader (vectorization off); graftpq decodes
      // the same pages natively
      val prev = spark.conf.get("spark.sql.parquet.enableVectorizedReader")
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
      val want =
        try spark.read.parquet(dir.toString).collect().toSeq
          .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
        finally spark.conf.set(
          "spark.sql.parquet.enableVectorizedReader", prev)
      val got = spark.read.format("graftpq").load(dir.toString)
        .collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((x, g) <- want.zip(got)) assert(x == g, s"$x vs $g")
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  private def sortedFixture(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-rg").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.set("parquet.block.size", "4096") // many small row groups
    try {
      (0 until 40000).map(k => (k.toLong, k.toDouble / 2, s"g${k % 3}"))
        .toDF("id", "x", "g")
        .coalesce(1) // already in id order → monotone row-group stats
        .write.mode("overwrite").option("compression", "snappy")
        .parquet(dir)
    } finally {
      if (prev == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prev)
    }
    dir
  }

  test("footer stats prune row groups driver-side; surviving rows " +
      "still filter exactly") {
    val dir = sortedFixture()
    try {
      val all = spark.read.format("graftpq").load(dir)
      val total = batchScan(all).inputPartitions.length
      assert(total >= 8, s"fixture produced only $total row groups")
      val filtered = all.filter("id >= 35000")
      val kept = batchScan(filtered).inputPartitions.length
      assert(kept < total / 2,
        s"stats pruning kept $kept of $total row groups")
      // the pushed set is advisory: rows must still be filter-exact
      assert(filtered.count() == 5000)
      assert(filtered.agg(org.apache.spark.sql.functions.min("id"))
        .head.getLong(0) == 35000L)
      val scanDesc = batchScan(filtered).toString
      assert(scanDesc.contains("PushedFilters") ||
        filtered.queryExecution.executedPlan.toString
          .contains("graftpq"), scanDesc)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("a Maintenance-committed table's manifest stats prune whole " +
      "files BEFORE any footer read") {
    import spark.implicits._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-table").toString
    try {
      // three commits with disjoint id ranges → three files, each with
      // file-level [min,max] recorded in _graft_log/filestats.tsv
      for (b <- 0 until 3)
        Maintenance.commitAppend(spark, dir,
          (b * 10000 until (b + 1) * 10000)
            .map(k => (k.toLong, s"g${k % 3}")).toDF("id", "g")
            .coalesce(1))
      val all = spark.read.format("graftpq").load(dir)
      assert(all.count() == 30000)
      val filtered = spark.read.format("graftpq").load(dir)
        .filter("id >= 25000")
      assert(batchScan(filtered).inputPartitions.map(
        _.asInstanceOf[graft.sources.GraftPqPartition].path)
        .distinct.length == 1,
        "manifest stats should keep exactly one file")
      assert(filtered.count() == 5000)
      // the proof a pruned file's footer is NEVER read: destroy its
      // tail in place (manifest stats survive in _graft_log) — the
      // pruning filter still plans and answers; an unpruned scan of
      // the same directory fails loudly on the torn footer. The
      // lexically-first file stays intact (inferSchema reads that one
      // footer for the schema), so the middle batch is the victim.
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val statsByFile = Maintenance.readFileStats(dir)
        .groupBy(_._1._1).view.mapValues(
          _.collectFirst { case ((_, "id"), r) => r }).toMap
      val doomed = files.drop(1).filter(f =>
        statsByFile.get(f.getName).flatten.exists(_._2 < 25000))
      assert(doomed.length == 1, s"${doomed.length} prunable files")
      for (f <- doomed) {
        val raf = new java.io.RandomAccessFile(f, "rw")
        try {
          raf.seek(math.max(0, f.length() - 64))
          raf.write(Array.fill[Byte](64)(0x5a))
        } finally raf.close()
      }
      val pruned = spark.read.format("graftpq").load(dir)
        .filter("id >= 25000")
      assert(pruned.count() == 5000) // planned without touching them
      // an UNFILTERED count() still answers: the pushed aggregate is
      // served by the commit log's exact agg-stats manifest, zero
      // footer OR data IO — torn tails included
      assert(spark.read.format("graftpq").load(dir).count() == 30000)
      intercept[Exception] { // data IO on the torn files is loud
        spark.read.format("graftpq").load(dir)
          .agg(org.apache.spark.sql.functions.sum("id")).collect()
      }
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("a PARTITIONED committed table scans through graftpq: partition " +
      "dirs prune whole files, values surface as typed columns") {
    import spark.implicits._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-part").toString
    try {
      // two commits, hive-partitioned by an int column — the
      // reference's own fact-table shape (fact partitioned by coin_id)
      for (b <- 0 until 2)
        Maintenance.commitAppend(spark, dir,
          (0 until 9000).map { k =>
            (b * 9000L + k, k % 3, (k % 100) * 1.5)
          }.toDF("id", "coin", "v").repartition(2),
          partitionBy = Seq("coin"))
      val all = spark.read.format("graftpq").load(dir)
      assert(all.schema("coin").dataType ==
        org.apache.spark.sql.types.IntegerType)
      assert(all.count() == 18000)
      val want = Maintenance.readTable(spark, dir)
        .select("id", "coin", "v").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = all.select("id", "coin", "v").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // partition pruning: a coin filter must plan ONLY that dir's
      // files (both the dir-value prune and the manifest's min=max
      // partition stats prove the others disjoint)
      val filtered = all.filter("coin = 1")
      val paths = batchScan(filtered).inputPartitions.map(
        _.asInstanceOf[graft.sources.GraftPqPartition].path).distinct
      assert(paths.nonEmpty && paths.forall(_.contains("coin=1")),
        s"partition pruning planned $paths")
      assert(filtered.count() == 6000)
      // partition + data-column filters compose: the coin dir prune
      // AND the manifest's per-commit id stats must BOTH act — only
      // the second commit's coin=2 files may survive planning
      val both = all.filter("coin = 2 AND id >= 9000")
      val bothPaths = batchScan(both).inputPartitions.map(
        _.asInstanceOf[graft.sources.GraftPqPartition].path).distinct
      assert(bothPaths.nonEmpty && bothPaths.forall(p =>
        p.contains("coin=2") && p.contains("_v000002_")),
        s"dir+manifest pruning planned $bothPaths")
      assert(both.count() == (0 until 9000).count(k => k % 3 == 2))
      // string partition values surface exactly too (no numeric
      // pruning, read parity only)
      val sdir = java.nio.file.Files
        .createTempDirectory("graft-graftpq-spart").toString
      try {
        Maintenance.commitAppend(spark, sdir,
          (0 until 600).map(k => (k.toLong, Seq("btc", "eth", "u v")(k % 3)))
            .toDF("id", "sym").coalesce(1),
          partitionBy = Seq("sym"))
        val sGot = spark.read.format("graftpq").load(sdir)
          .collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
        val sWant = Maintenance.readTable(spark, sdir)
          .select("id", "sym").collect().toSeq
          .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
        for ((w, g) <- sWant.zip(sGot)) assert(w == g, s"$w vs $g")
      } finally graft.streaming.WorkDirs
        .deleteRecursively(new java.io.File(sdir))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("outstanding deletion vectors apply at the graftpq scan: " +
      "per-row-group position slices from GLOBAL file row indexes, " +
      "stacked deletes, composed with stats pruning") {
    import spark.implicits._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-dv").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.set("parquet.block.size", "4096") // many row groups per file
    try {
      // two range-sliced commits, each file split into many small row
      // groups — vector positions land in middle groups, so a slicing
      // bug (offsets computed over pruned groups, or per-group instead
      // of per-file indexes) shows up as wrong rows, not just counts
      for (b <- 0 until 2)
        Maintenance.commitAppend(spark, dir,
          (b * 20000 until (b + 1) * 20000)
            .map(k => (k.toLong, s"g${k % 3}", k * 0.5))
            .toDF("id", "g", "v").coalesce(1))
      // stacked: the second delete only matches still-visible rows
      val d1 = Maintenance.deleteWithVectors(spark, dir,
        org.apache.spark.sql.functions.expr("id % 7 = 3"))
      val d2 = Maintenance.deleteWithVectors(spark, dir,
        org.apache.spark.sql.functions.expr("g = 'g1' AND id % 11 = 0"))
      assert(d1.rowsDeleted > 0 && d2.rowsDeleted > 0)
      assert(Maintenance.outstandingDvFiles(dir).nonEmpty)
      val all = spark.read.format("graftpq").load(dir)
      val expect = (0 until 40000).map(_.toLong)
        .filterNot(k => k % 7 == 3)
        .filterNot(k => k % 3 == 1 && k % 11 == 0)
      assert(all.count() == expect.size)
      // row-identical to the protocol reader, not just count-equal
      val want = Maintenance.readTable(spark, dir)
        .select("id", "g", "v").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = all.select("id", "g", "v").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // the skip slices really spread over many groups (each split
      // carries only its own positions — the Delta-DV IO shape)
      val parts = batchScan(all).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
      assert(parts.length >= 8, s"only ${parts.length} row groups")
      assert(parts.count(_.skip.nonEmpty) >= parts.length / 2,
        "vector positions should land in most row groups")
      assert(parts.map(_.skip.length.toLong).sum ==
        40000L - expect.size, "slices must partition the vector set")
      // stats pruning composes: planned groups drop AND the surviving
      // rows still exclude the vectors (pruning never resurrects)
      val filtered = all.filter("id >= 35000")
      assert(batchScan(filtered).inputPartitions.length < parts.length,
        "id filter should prune row groups")
      assert(filtered.count() == expect.count(_ >= 35000L))
      // a PARTITIONED committed table composes with vectors too
      val pdir = java.nio.file.Files
        .createTempDirectory("graft-graftpq-dvpart").toString
      try {
        Maintenance.commitAppend(spark, pdir,
          (0 until 6000).map(k => (k.toLong, k % 3))
            .toDF("id", "coin").repartition(2),
          partitionBy = Seq("coin"))
        Maintenance.deleteWithVectors(spark, pdir,
          org.apache.spark.sql.functions.expr("id % 4 = 1"))
        val pAll = spark.read.format("graftpq").load(pdir)
        assert(pAll.count() == (0 until 6000).count(_ % 4 != 1))
        val pOne = pAll.filter("coin = 1")
        assert(pOne.count() ==
          (0 until 6000).count(k => k % 3 == 1 && k % 4 != 1))
      } finally graft.streaming.WorkDirs
        .deleteRecursively(new java.io.File(pdir))
    } finally {
      if (prev == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prev)
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  private def rangeRows(p: graft.sources.GraftPqPartition): Long =
    if (p.ranges.isEmpty) p.rgRows
    else p.ranges.grouped(2).map(r => r(1) - r(0)).sum

  test("page indexes prune PAGES at the graftpq scan: a selective " +
      "filter plans EXACTLY one page's rows, on our files AND " +
      "parquet-mr-written ones") {
    import graft.operators.ParquetWrite
    import graft.operators.ParquetWrite.PwFields
    // our writer: one 40000-row file, 20000-row groups, 1000-row pages
    // (sorted ids → page stats are tight fences)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-pageix").toFile
    try {
      val fields = Seq(PwFields.int64("id"), PwFields.string("tag"),
        PwFields.double("v"))
      def rows = (0 until 40000).iterator.map { i =>
        Array[Any](Long.box(i.toLong), s"t${i % 50}",
          if (i % 7 == 0) null else Double.box(i * 0.5))
      }
      val file = new java.io.File(dir, "ix.parquet")
      assert(ParquetWrite.writeFile(file.toPath, fields, rows,
        codec = 1, rowGroupRows = 20000, pageRows = 1000) == 40000)
      val df = spark.read.format("graftpq").load(file.toString)
        .filter("id >= 30100 AND id < 30110")
      val parts = batchScan(df).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
      // footer stats keep one group of two; the page index narrows it
      // to the single 1000-row page covering [30000, 31000)
      assert(parts.length == 1, s"planned ${parts.length} row groups")
      assert(rangeRows(parts.head) == 1000L,
        s"page index planned ${rangeRows(parts.head)} rows, want one " +
          "1000-row page")
      val got = df.orderBy("id").collect()
      assert(got.length == 10)
      for ((r, k) <- got.zipWithIndex) {
        val i = 30100 + k
        assert(r.getLong(0) == i.toLong)
        assert(r.getString(1) == s"t${i % 50}")
        if (i % 7 == 0) assert(r.isNullAt(2))
        else assert(r.getDouble(2) == i * 0.5)
      }
      // two-column conjunction: the ranges INTERSECT across column
      // indexes — the id filter keeps pages [29000,30000) and
      // [30000,31000), the v filter (v = id·0.5 ≥ 15050 ⟺ id ≥ 30100)
      // keeps [30000,31000) onward; exactly the one shared page plans
      val both = spark.read.format("graftpq").load(file.toString)
        .filter("id >= 29900 AND id < 30110 AND v >= 15050.0")
      val bothParts = batchScan(both).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
      assert(bothParts.map(rangeRows).sum == 1000L,
        s"intersection planned ${bothParts.map(rangeRows).sum} rows")
      assert(both.count() ==
        (29900 until 30110).count(i => i % 7 != 0 && i * 0.5 >= 15050.0))
      // an unfiltered scan is untouched (no ranges, full groups)
      val full = spark.read.format("graftpq").load(file.toString)
      assert(batchScan(full).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
        .forall(_.ranges.isEmpty))
      assert(full.count() == 40000)
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
    // parquet-mr (Spark)-written file: page indexes are on by default;
    // cap pages at 1000 rows so one group carries many pages
    val sdir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-pageix-mr").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.page.row.count.limit")
    hc.set("parquet.page.row.count.limit", "1000")
    try {
      import spark.implicits._
      (0 until 40000).map(k => (k.toLong, s"t${k % 50}", k * 0.5))
        .toDF("id", "tag", "v")
        .coalesce(1).write.mode("overwrite")
        .option("compression", "snappy").parquet(sdir)
      val df = spark.read.format("graftpq").load(sdir)
        .filter("id >= 30100 AND id < 30110")
      val parts = batchScan(df).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
      assert(parts.map(rangeRows).sum == 1000L,
        s"page index on a parquet-mr file planned " +
          s"${parts.map(rangeRows).sum} rows, want one 1000-row page")
      val want = spark.read.parquet(sdir)
        .filter("id >= 30100 AND id < 30110").orderBy("id")
        .collect().map(_.toSeq).toSeq
      val got = df.orderBy("id").collect().map(_.toSeq).toSeq
      assert(got == want)
    } finally {
      if (prev == null) hc.unset("parquet.page.row.count.limit")
      else hc.set("parquet.page.row.count.limit", prev)
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(sdir))
    }
  }

  test("STRING-keyed filters prune row groups AND pages from UTF-8 " +
      "byte-order stats, on our files AND Spark-written ones") {
    import graft.operators.ParquetWrite
    import graft.operators.ParquetWrite.PwFields
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-strprune").toFile
    try {
      // our writer, string-clustered: sym sorts lexicographically in
      // id order; 8192-row groups, 1024-row pages
      val fields = Seq(PwFields.int64("id"), PwFields.string("sym"))
      def rows = (0 until 40000).iterator.map { i =>
        Array[Any](Long.box(i.toLong), "s%05d".format(i))
      }
      val file = new java.io.File(dir, "s.parquet")
      assert(ParquetWrite.writeFile(file.toPath, fields, rows,
        codec = 1, rowGroupRows = 8192, pageRows = 1024) == 40000)
      val all = spark.read.format("graftpq").load(file.toString)
      val total = batchScan(all).inputPartitions.length
      assert(total == 5, s"$total row groups")
      val eq = all.filter("sym = 's30100'")
      val parts = batchScan(eq).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
      assert(parts.length == 1,
        s"string equality kept ${parts.length} of $total groups")
      assert(rangeRows(parts.head) == 1024L,
        s"string page index planned ${rangeRows(parts.head)} rows")
      assert(eq.collect().map(_.getLong(0)).toSeq == Seq(30100L))
      val rng = all.filter("sym >= 's35000'")
      assert(batchScan(rng).inputPartitions.length == 1,
        "string range should keep one row group")
      assert(rng.count() == 5000)
      // IN is a disjunction over the same stats: two members in one
      // page keep exactly that page of exactly one group
      val inq = all.filter("sym IN ('s30100','s30105')")
      val inParts = batchScan(inq).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
      assert(inParts.length == 1 && rangeRows(inParts.head) == 1024L,
        s"IN planned ${inParts.map(rangeRows).sum} rows")
      assert(inq.orderBy("id").collect().map(_.getLong(0)).toSeq ==
        Seq(30100L, 30105L))
      // LIKE 'p%' pushes as StringStartsWith: prefix fences prune to
      // the one page holding s30100..s30109
      val pre = all.filter("sym LIKE 's3010%'")
      val preParts = batchScan(pre).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
      assert(preParts.map(rangeRows).sum == 1024L,
        s"prefix planned ${preParts.map(rangeRows).sum} rows")
      assert(pre.count() == 10)
      // IS NULL against a no-null column: every group's null_count=0
      // disproves it — nothing plans at all
      val nul = all.filter("sym IS NULL")
      assert(batchScan(nul).inputPartitions.isEmpty,
        "IS NULL should prune every group of a no-null column")
      assert(nul.count() == 0)
      // Spark-written file: parquet-mr string footer stats (possibly
      // truncated — still valid bounds) + its string column indexes
      val sdir = new java.io.File(dir, "sparkw").toString
      val hc = spark.sparkContext.hadoopConfiguration
      val prevB = hc.get("parquet.block.size")
      val prevP = hc.get("parquet.page.row.count.limit")
      hc.set("parquet.block.size", "4096")
      hc.set("parquet.page.row.count.limit", "1000")
      try {
        import spark.implicits._
        (0 until 40000).map(k => (k.toLong, "s%05d".format(k)))
          .toDF("id", "sym").coalesce(1)
          .write.mode("overwrite").option("compression", "snappy")
          .parquet(sdir)
        val swAll = spark.read.format("graftpq").load(sdir)
        val swTotal = batchScan(swAll).inputPartitions.length
        val sw = swAll.filter("sym = 's30100'")
        val kept = batchScan(sw).inputPartitions.length
        assert(kept < swTotal,
          s"string stats kept $kept of $swTotal row groups")
        assert(sw.collect().map(_.getLong(0)).toSeq == Seq(30100L))
      } finally {
        if (prevB == null) hc.unset("parquet.block.size")
        else hc.set("parquet.block.size", prevB)
        if (prevP == null) hc.unset("parquet.page.row.count.limit")
        else hc.set("parquet.page.row.count.limit", prevP)
      }
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
  }

  test("NESTED columns skip pruned pages too (OffsetIndex fences): " +
      "corrupted non-surviving pages are never decompressed, on our " +
      "files; Spark-written nested files read filter-identically") {
    import org.apache.spark.sql.functions._
    import graft.operators.{ParquetFooter, ParquetWrite}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-nestedpageix").toFile
    try {
      // our writer: sorted ids, one 40000-row group, 1000-row pages;
      // a list, a map and a deep struct-with-list column ride along
      val df = spark.range(0, 40000).toDF("id")
        .select(col("id"),
          when(col("id") % 10 === 0, lit(null))
            .otherwise(sequence(lit(1L), col("id") % 3 + 1)).as("xs"),
          map(lit("k"), col("id") % 7).as("m"),
          when(col("id") % 13 === 0, lit(null))
            .otherwise(struct((col("id") % 97).as("u"),
              sequence(lit(0L), col("id") % 2).as("ys"))).as("st"))
        .coalesce(1)
      val n = ParquetWrite.writeDataFrame(df, dir.toString, codec = 6,
        rowGroupRows = 40000, pageRows = 1000)
      assert(n == 40000)
      val file = dir.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val filtered = spark.read.format("graftpq").load(dir.toString)
        .filter("id >= 30100 AND id < 30110")
      val parts = batchScan(filtered).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
      assert(parts.length == 1 && rangeRows(parts.head) == 1000L,
        s"planned ${parts.map(rangeRows).sum} rows")
      val want = df.filter("id >= 30100 AND id < 30110")
        .collect().toSeq.map(_.toSeq)
        .sortBy(_.head.asInstanceOf[Long])
      val got = filtered.collect().toSeq.map(_.toSeq)
        .sortBy(_.head.asInstanceOf[Long])
      assert(got.size == 10)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // THE PROOF pruned nested pages never decompress: zero out the
      // BODY bytes of every page outside the surviving span in every
      // nested chunk (via each chunk's own OffsetIndex), then rerun —
      // the filtered scan still answers (it never touches them); an
      // unfiltered scan fails loudly on the torn zstd bodies
      val footer = ParquetFooter.readTail(file.toPath)
      val raf = new java.io.RandomAccessFile(file, "rw")
      try {
        for {
          col <- footer.rowGroups.head.columns
          if col.path != "id"
          loc <- col.offsetIndex.toSeq
        } {
          val bytes = new Array[Byte](loc._2)
          raf.seek(loc._1)
          raf.readFully(bytes)
          val oi = ParquetFooter.readOffsetIndex(bytes)
          for ((pg, i) <- oi.pages.zipWithIndex) {
            val rowStart = pg.firstRowIndex
            val rowEnd = if (i + 1 < oi.pages.length)
              oi.pages(i + 1).firstRowIndex else 40000L
            if (rowEnd <= 30000L || rowStart >= 31000L) {
              // keep the ~KB page header intact (headers are walked
              // even for skipped pages); poison the body tail
              val poisonFrom = pg.offset + math.min(64, pg.compressedSize / 2)
              val len = (pg.offset + pg.compressedSize - poisonFrom).toInt
              raf.seek(poisonFrom)
              raf.write(Array.fill[Byte](len)(0x5a))
            }
          }
        }
      } finally raf.close()
      val again = spark.read.format("graftpq").load(dir.toString)
        .filter("id >= 30100 AND id < 30110")
        .collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      for ((w, g) <- want.zip(again)) assert(w == g, s"poisoned: $w vs $g")
      intercept[Exception] { // full scan must hit the poisoned bodies
        spark.read.format("graftpq").load(dir.toString)
          .agg(org.apache.spark.sql.functions.sum(size(col("xs"))))
          .collect()
      }
    } finally graft.streaming.WorkDirs.deleteRecursively(dir)
    // Spark-written nested file (parquet-mr OffsetIndex, small pages):
    // a selective flat filter reads filter-identically through the
    // pruned-nested path
    val sdir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-nestedpageix-mr").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.page.row.count.limit")
    hc.set("parquet.page.row.count.limit", "1000")
    try {
      spark.range(0, 40000).toDF("id")
        .select(col("id"),
          when(col("id") % 10 === 0, lit(null))
            .otherwise(sequence(lit(1L), col("id") % 3 + 1)).as("xs"),
          map(lit("k"), col("id") % 7).as("m"))
        .coalesce(1).write.mode("overwrite")
        .option("compression", "snappy").parquet(sdir)
      val want = spark.read.parquet(sdir)
        .filter("id >= 30100 AND id < 30110").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftpq").load(sdir)
        .filter("id >= 30100 AND id < 30110").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size && got.size == 10)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
    } finally {
      if (prev == null) hc.unset("parquet.page.row.count.limit")
      else hc.set("parquet.page.row.count.limit", prev)
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(sdir))
    }
  }

  test("page-index pruning composes with deletion vectors: skip " +
      "positions remap into the compacted row space") {
    import spark.implicits._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-pageixdv").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.page.row.count.limit")
    hc.set("parquet.page.row.count.limit", "1000")
    try {
      Maintenance.commitAppend(spark, dir,
        (0 until 20000).map(k => (k.toLong, s"g${k % 3}"))
          .toDF("id", "g").coalesce(1))
      Maintenance.deleteWithVectors(spark, dir,
        org.apache.spark.sql.functions.expr("id % 5 = 2"))
      val df = spark.read.format("graftpq").load(dir)
        .filter("id >= 7100 AND id < 7200")
      val parts = batchScan(df).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition])
      assert(parts.map(rangeRows).sum == 1000L,
        s"planned ${parts.map(rangeRows).sum} rows, want one page")
      // deleted rows inside the surviving page must stay deleted: the
      // group-relative positions were remapped into compacted space
      assert(df.count() ==
        (7100 until 7200).count(_ % 5 != 2))
      assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq ==
        (7100 until 7200).filter(_ % 5 != 2).map(_.toLong))
    } finally {
      if (prev == null) hc.unset("parquet.page.row.count.limit")
      else hc.set("parquet.page.row.count.limit", prev)
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("split-block BLOOM FILTERS prune row groups on point lookups " +
      "where min/max cannot (high-cardinality unsorted keys, " +
      "parquet-mr-written), with zero false negatives") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-bloom").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.set("parquet.block.size", "4096") // many row groups
    try {
      // pseudo-random key spread: every group's [min,max] covers the
      // whole domain, so stats pruning CANNOT drop any group — only
      // the bloom can
      def symOf(i: Long): String = "k%09d".format((i * 2654435761L) % 1000000007L)
      (0L until 40000L).map(i => (i, symOf(i), i * 2 /* even only */))
        .toDF("id", "sym", "k2")
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#sym", "true")
        .option("parquet.bloom.filter.enabled#k2", "true")
        .option("compression", "snappy").parquet(dir)
      // the writer really produced blooms (else this test proves nothing)
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val footer = graft.operators.ParquetFooter.readTail(f.toPath)
      assert(footer.rowGroups.head.columns
        .find(_.path == "sym").exists(_.bloomOffset.isDefined),
        "fixture carries no bloom filters")
      val all = spark.read.format("graftpq").load(dir)
      val total = batchScan(all).inputPartitions.length
      assert(total >= 8, s"only $total row groups")
      // an ABSENT string key: stats keep every group (full overlap),
      // the bloom proves it absent everywhere — nothing plans
      val absent = all.filter("sym = 'k_absent_key'")
      assert(batchScan(absent).inputPartitions.isEmpty,
        s"bloom kept ${batchScan(absent).inputPartitions.length} of " +
          s"$total groups for an absent key")
      assert(absent.count() == 0)
      // an absent LONG inside the value range (odd — only evens exist)
      val absentL = all.filter("k2 = 33333")
      assert(batchScan(absentL).inputPartitions.isEmpty,
        "bloom should disprove an in-range absent long")
      assert(absentL.count() == 0)
      // a PRESENT key plans few groups and answers exactly
      val one = all.filter(org.apache.spark.sql.functions.col("sym")
        === symOf(12345L))
      assert(batchScan(one).inputPartitions.nonEmpty)
      assert(one.collect().map(_.getLong(0)).toSeq == Seq(12345L))
      // ZERO FALSE NEGATIVES: 200 sampled present keys through an IN —
      // a hash mismatch vs parquet-mr's writer would lose rows here
      val sample = (0 until 200).map(k => symOf(k * 199L + 7L))
      val got = all.filter(
        org.apache.spark.sql.functions.col("sym").isin(sample: _*))
        .count()
      assert(got == 200L, s"bloom IN lost ${200 - got} present keys")
      val sampleL = (0 until 200).map(k => Long.box(k * 398L + 14L))
      assert(all.filter(org.apache.spark.sql.functions.col("k2")
        .isin(sampleL: _*)).count() == 200L)
      // mixed IN (present + absent member): survives via the present one
      assert(all.filter("sym IN ('k_absent_key', '" + symOf(777L) +
        "')").count() == 1)
    } finally {
      if (prev == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prev)
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("column pruning reaches the reader: only requested leaves are " +
      "decoded") {
    val dir = sortedFixture()
    try {
      val df = spark.read.format("graftpq").load(dir).select("g")
      val scan = batchScan(df)
      val part = scan.inputPartitions.head
        .asInstanceOf[graft.sources.GraftPqPartition]
      assert(part.columns.map(_.path) == Seq("g"),
        s"reader was handed chunks ${part.columns.map(_.path)}")
      assert(df.distinct().count() == 3)
      // count(*) over an empty projection still knows its cardinality
      assert(spark.read.format("graftpq").load(dir).count() == 40000)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("aggregate pushdown answers COUNT/MIN/MAX from footer stats " +
      "with ZERO data IO: the data region is poisoned and the " +
      "aggregate still answers; a full scan fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-aggpush").toString
    try {
      (0 until 30000).map { k =>
        (k.toLong, if (k % 9 == 0) None else Some(k * 3 - 700),
          s"s${k % 5}",
          java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
            .plusDays(k % 365)))
      }.toDF("id", "opt", "s", "dt").coalesce(2)
        .write.mode("overwrite").parquet(dir)
      val aggCols = Seq(count(lit(1)).as("n"), count(col("opt")).as("no"),
        min(col("id")).as("mn"), max(col("id")).as("mx"),
        min(col("opt")).as("omn"), max(col("dt")).as("dmx"))
      val want = spark.read.parquet(dir)
        .agg(aggCols.head, aggCols.tail: _*).collect().toSeq
      // poison EVERY byte between the magic and the footer — data
      // pages, dictionaries, page indexes, blooms all garbage; only
      // the footer tail (where the statistics live) stays intact
      for (f <- new java.io.File(dir).listFiles()
          if f.getName.endsWith(".parquet")) {
        val raf = new java.io.RandomAccessFile(f, "rw")
        try {
          val len = raf.length()
          raf.seek(len - 8)
          val b = new Array[Byte](4)
          raf.readFully(b)
          val footerLen = (b(0) & 0xff) | ((b(1) & 0xff) << 8) |
            ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)
          val footerStart = len - 8 - footerLen
          assert(footerStart > 4, "fixture must have a data region")
          raf.seek(4)
          val junk = Array.fill[Byte]((footerStart - 4).toInt)(0x5a)
          raf.write(junk)
        } finally raf.close()
      }
      val pq = spark.read.format("graftpq").load(dir)
      val df = pq.agg(aggCols.head, aggCols.tail: _*)
      val scan = batchScan(df).scan
      assert(scan.description().contains("PushedAggregation"),
        s"aggregation not pushed:\n${scan.description()}")
      assert(df.collect().toSeq == want)
      // grouped by a DATA column: not pushable — and the fall-back
      // scan proves the poison is real by failing on the data bytes
      val thrown = intercept[Exception] {
        pq.groupBy("s").count().collect()
      }
      assert(thrown != null)
      // count(distinct ...) is never stats-answerable
      val dd = pq.agg(countDistinct(col("s")).as("d"))
      assert(!batchScan(dd).scan.description()
        .contains("PushedAggregation"))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("aggregate pushdown groups by PARTITION columns (exact dir " +
      "values, strings included) and refuses tables with outstanding " +
      "deletion vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-aggpart").toString
    try {
      for (b <- 0 until 2)
        Maintenance.commitAppend(spark, dir,
          (0 until 9000).map { k =>
            (b * 9000L + k, k % 3, Seq("btc", "eth", "u v")(k % 3))
          }.toDF("id", "coin", "sym").repartition(2),
          partitionBy = Seq("coin"))
      val pq = spark.read.format("graftpq").load(dir)
      val df = pq.groupBy("coin")
        .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
          max(col("id")).as("mx"), min(col("coin")).as("cmn"))
        .orderBy("coin")
      assert(batchScan(df).scan.description()
        .contains("PushedGroupBy: [coin]"),
        s"group-by not pushed:\n${batchScan(df).scan.description()}")
      val want = Maintenance.readTable(spark, dir).groupBy("coin")
        .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
          max(col("id")).as("mx"), min(col("coin")).as("cmn"))
        .orderBy("coin").collect().toSeq
      assert(df.collect().toSeq == want)
      // string MIN/MAX is answerable from partition dirs (exact
      // values), never from chunk stats
      val sm = pq.agg(count(lit(1)).as("n"))
      assert(batchScan(sm).scan.description()
        .contains("PushedAggregation"))
      val sv = pq.agg(min(col("sym")).as("smn"))
      assert(!batchScan(sv).scan.description()
        .contains("PushedAggregation"),
        "string min over a DATA column must not push")
      // outstanding vectors: a deleted row might be the extreme —
      // nothing answers from stats until compaction clears them
      Maintenance.deleteWithVectors(spark, dir, expr("id % 5 = 0"))
      val dv = spark.read.format("graftpq").load(dir)
        .agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
      assert(!batchScan(dv).scan.description()
        .contains("PushedAggregation"))
      assert(dv.collect().toSeq ==
        Seq(org.apache.spark.sql.Row(
          (0 until 18000).count(_ % 5 != 0).toLong, 17999L)))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("reported statistics: a graftpq dim under the broadcast " +
      "threshold broadcasts, and filters shrink the estimate") {
    import spark.implicits._
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-stats").toString
    try {
      (0 until 3000).map(k => (k.toLong, s"n$k", k % 7))
        .toDF("k", "name", "grp").coalesce(1)
        .write.mode("overwrite").parquet(dir)
      val dim = spark.read.format("graftpq").load(dir)
      val stats = batchScan(dim).scan
        .asInstanceOf[SupportsReportStatistics].estimateStatistics()
      assert(stats.numRows.getAsLong == 3000)
      val bytes = stats.sizeInBytes.getAsLong
      assert(bytes > 0 && bytes < (10L << 20),
        s"reported $bytes bytes — must sit under the 10 MiB threshold")
      // a selective filter shrinks BOTH estimates (row groups survive
      // stats pruning proportionally on this sorted key)
      val filtered = dim.filter("k < 100")
      val fs = batchScan(filtered).scan
        .asInstanceOf[SupportsReportStatistics].estimateStatistics()
      assert(fs.numRows.getAsLong <= stats.numRows.getAsLong)
      // the join strategy actually uses it: fact ⋈ dim broadcasts the
      // graftpq side (DSv2 default stats would have forced a shuffle)
      // the optimizer-visible relation size IS the scan's estimate
      assert(dim.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(10L << 20),
        s"optimizer sees ${dim.queryExecution.optimizedPlan.stats
          .sizeInBytes} bytes — the scan estimate did not surface")
      val fact = spark.range(200000)
        .withColumn("k", org.apache.spark.sql.functions
          .col("id") % 3000)
      val joined = fact.join(dim, "k")
      assert(joined.count() == 200000)
      val ran = joined.queryExecution.executedPlan.toString
      assert(ran.contains("BroadcastHashJoin") ||
        ran.contains("BroadcastExchange"),
        s"graftpq dim did not broadcast:\n$ran")
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("runtime filtering: an injected IN re-prunes partitions " +
      "(dynamic partition pruning unit contract)") {
    import spark.implicits._
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-runtime").toString
    try {
      Maintenance.commitAppend(spark, dir,
        (0 until 9000).map(k => (k.toLong, k % 3, k * 0.5))
          .toDF("id", "coin", "v").repartition(2),
        partitionBy = Seq("coin"))
      val df = spark.read.format("graftpq").load(dir)
      val scan = batchScan(df).scan
      val rf = scan.asInstanceOf[SupportsRuntimeV2Filtering]
      assert(rf.filterAttributes().map(_.fieldNames().mkString)
        .contains("coin"))
      val before = scan.toBatch.planInputPartitions()
      rf.filter(Array(new Predicate("IN",
        Array(Expressions.column("coin"), Expressions.literal(1)))))
      val after = scan.toBatch.planInputPartitions()
      assert(after.length < before.length,
        s"runtime IN pruned nothing: ${after.length} of ${before.length}")
      val paths = after.map(
        _.asInstanceOf[graft.sources.GraftPqPartition].path).distinct
      assert(paths.nonEmpty && paths.forall(_.contains("coin=1")),
        s"runtime pruning planned $paths")
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("dynamic partition pruning END-TO-END: a broadcast star join " +
      "re-plans the graftpq fact scan to the dim filter's partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-dpp").toString
    try {
      Maintenance.commitAppend(spark, dir,
        (0 until 90000).map(k => (k.toLong, k % 3, k * 0.5))
          .toDF("id", "coin", "v").repartition(2),
        partitionBy = Seq("coin"))
      val fact = spark.read.format("graftpq").load(dir)
      // the dim must be a SOURCE-backed relation: a local one folds
      // its filter into the LocalRelation at plan time, leaving no
      // selective Filter node for PartitionPruning to key off
      val dimDir = java.nio.file.Files
        .createTempDirectory("graft-graftpq-dpp-dim").toString
      (0 until 3).map(k => (k, s"name$k", k == 1))
        .toDF("coin", "name", "flag")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir)
      // an equality literal — the optimizer's isLikelySelective shape
      // that marks the dim side as a pruning filter
      val joined = fact
        .join(broadcast(dim.filter(col("name") === "name1")), "coin")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      val got = joined.collect().head
      val expectIds = (0 until 90000).filter(_ % 3 == 1)
      assert(got.getLong(0) == expectIds.size.toLong)
      assert(got.getLong(1) == expectIds.map(_.toLong).sum)
      // the executed plan carried a runtime filter into the scan...
      val factScan = physicalScans(joined).find(
        _.scan.description().startsWith("graftpq")).getOrElse(
        fail("no graftpq scan in the executed plan:\n" +
          joined.queryExecution.executedPlan.toString))
      assert(factScan.runtimeFilters.nonEmpty,
        "no dynamic pruning filter was injected:\n" +
          joined.queryExecution.executedPlan.toString)
      // ...and the scan really re-planned to ONLY the matching dir
      val parts = factScan.scan.toBatch.planInputPartitions()
      val paths = parts.map(
        _.asInstanceOf[graft.sources.GraftPqPartition].path).distinct
      assert(paths.nonEmpty && paths.forall(_.contains("coin=1")),
        s"DPP planned $paths")
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("the registered s48/s49 queries really take the pushed paths: " +
      "s48 plans a PushedAggregation, s49's executed fact scan " +
      "carries a runtime pruning filter") {
    val sf = SparkTestSession.sfSmoke
    val df48 = SparkEntry.queries("s48_pq_agg")(spark, sf)
    assert(batchScan(df48).scan.description()
      .contains("PushedAggregation"),
      s"s48 fell back to a data read:\n" +
        batchScan(df48).scan.description())
    assert(df48.collect().length == 1)
    val df49 = SparkEntry.queries("s49_dpp_join")(spark, sf)
    assert(df49.collect().nonEmpty)
    val factScan = physicalScans(df49).find(
      _.scan.description().startsWith("graftpq")).getOrElse(
      fail("no graftpq scan in s49's executed plan"))
    assert(factScan.runtimeFilters.nonEmpty,
      "s49 executed without a dynamic pruning filter:\n" +
        df49.queryExecution.executedPlan.toString)
    val paths = factScan.scan.toBatch.planInputPartitions().map(
      _.asInstanceOf[graft.sources.GraftPqPartition].path).distinct
    assert(paths.nonEmpty && paths.forall(_.contains("bucket=2")),
      s"s49 DPP planned $paths")
  }

  test("DSv2 WRITE path: df.write.format(\"graftpq\") streams rows " +
      "through the from-scratch writer per task; parquet-mr reads the " +
      "result row-identically; overwrite truncates, append adds, " +
      "empty partitions leave no file") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-v2write").toString + "/t"
    try {
      val df = (0 until 5000).map { k =>
        (k.toLong,
          if (k % 9 == 0) None else Some(k * 3 - 700),
          s"v${k % 7}",
          BigDecimal(k).setScale(2) / 4,
          java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
            .plusDays(k % 365)),
          Seq(k, k * 2),
          (k % 5, s"s$k"))
      }.toDF("id", "opt", "s", "dec", "dt", "xs", "st")
      df.repartition(4).write.format("graftpq")
        .mode("overwrite").save(dir)
      assert(new java.io.File(dir, "_SUCCESS").exists())
      assert(new java.io.File(dir).listFiles()
        .count(_.getName.endsWith(".inprogress")) == 0)
      // parquet-mr (Spark's reader) decodes OUR V2-written files
      val got = spark.read.parquet(dir).orderBy("id").collect().toSeq
        .map(_.toSeq)
      val want = df.orderBy("id").collect().toSeq.map(_.toSeq)
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // append adds, overwrite replaces
      df.limit(100).write.format("graftpq").mode("append").save(dir)
      assert(spark.read.parquet(dir).count() == 5100)
      df.limit(10).repartition(8).write.format("graftpq")
        .mode("overwrite").save(dir)
      assert(spark.read.parquet(dir).count() == 10)
      // ≤10 rows over 8 partitions: empty ones must leave no file
      assert(new java.io.File(dir).listFiles()
        .count(_.getName.endsWith(".parquet")) <= 8)
      // and graftpq reads its own write back
      assert(spark.read.format("graftpq").load(dir).count() == 10)
    } finally graft.streaming.WorkDirs.deleteRecursively(
      new java.io.File(dir).getParentFile)
  }

  test("LIMIT pushdown caps planning: an unfiltered LIMIT plans the " +
      "leading partitions only; a filtered LIMIT never caps (the kept " +
      "groups might hold too few matches)") {
    val dir = sortedFixture()
    try {
      val pq = spark.read.format("graftpq").load(dir)
      val all = batchScan(pq).inputPartitions.length
      assert(all > 1)
      val limited = pq.limit(10)
      assert(limited.collect().length == 10)
      assert(physicalScans(limited).head.inputPartitions.length == 1,
        "LIMIT 10 should plan exactly the first row group")
      // under a filter the cap must NOT apply: these 5 matches live in
      // a LATE row group — a capped plan would lose them
      val filtered = pq.filter("id >= 39995").limit(10)
      assert(filtered.collect().length == 5)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("DATE and TIMESTAMP filters prune row groups (and stripes): " +
      "temporal literals normalize to the stats' day/micro units") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-temporal").toString
    val odir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-temporal").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.set("parquet.block.size", "4096")
    val prevTs = spark.conf
      .getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try {
      val df = (0 until 40000).map { k =>
        (k.toLong,
          java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
            .plusDays(k / 100)),
          java.sql.Timestamp.from(java.time.Instant
            .parse("2024-03-01T00:00:00Z").plusSeconds(k * 60L)))
      }.toDF("id", "dt", "ts")
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val pq = spark.read.format("graftpq").load(dir)
      val total = batchScan(pq).inputPartitions.length
      assert(total > 4)
      val cut = java.sql.Date.valueOf("2025-01-20")
      val dFiltered = pq.filter(col("dt") >= cut)
      assert(batchScan(dFiltered).inputPartitions.length < total,
        "date filter pruned no row groups")
      assert(dFiltered.count() ==
        spark.read.parquet(dir).filter(col("dt") >= cut).count())
      val tsCut = java.sql.Timestamp
        .from(java.time.Instant.parse("2024-03-28T00:00:00Z"))
      val tFiltered = pq.filter(col("ts") < tsCut)
      assert(batchScan(tFiltered).inputPartitions.length < total,
        "timestamp filter pruned no row groups")
      assert(tFiltered.count() ==
        spark.read.parquet(dir).filter(col("ts") < tsCut).count())
      // ORC: the writer (orc-core) emits DateStatistics /
      // TimestampStatistics; graftorc prunes stripes on them
      graft.operators.OrcWrite.writeDataFrame(
        df.coalesce(1).sortWithinPartitions("id"), odir,
        stripeRows = 8192, compression = 5)
      val orc = spark.read.format("graftorc").load(odir)
      val oTotal = batchScan(orc).inputPartitions.length
      assert(oTotal == 5)
      val oFiltered = orc.filter(col("dt") >= cut)
      assert(batchScan(oFiltered).inputPartitions.length < oTotal,
        "ORC date filter pruned no stripes")
      assert(oFiltered.count() == dFiltered.count())
      // `ts <` prunes only stripes entirely ABOVE the cut — at 60 s
      // steps and 8192-row stripes that needs an early cut (stripe 1
      // starts 2024-03-06T16:32Z)
      val oTsCut = java.sql.Timestamp
        .from(java.time.Instant.parse("2024-03-05T00:00:00Z"))
      val oTs = orc.filter(col("ts") < oTsCut)
      assert(batchScan(oTs).inputPartitions.length < oTotal,
        "ORC timestamp filter pruned no stripes")
      assert(oTs.count() ==
        spark.read.parquet(dir).filter(col("ts") < oTsCut).count())
    } finally {
      if (prev == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prev)
      prevTs match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(odir))
    }
  }

  test("hive partition DISCOVERY on plain directories: " +
      "df.write.partitionBy layouts read with typed partition " +
      "columns, prune dirs, and group-by pushes — no commit log " +
      "needed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-hive").toString + "/t"
    try {
      (0 until 9000).map { k =>
        (k.toLong, k % 3, Seq("btc", "eth", "u v")(k % 3),
          if (k % 900 == 0) None else Some(s"x$k"))
      }.toDF("id", "coin", "sym", "opt")
        .write.partitionBy("coin", "sym").parquet(dir)
      val pq = spark.read.format("graftpq").load(dir)
      // discovered types match Spark's own inference
      assert(pq.schema("coin").dataType ==
        org.apache.spark.sql.types.IntegerType)
      assert(pq.schema("sym").dataType ==
        org.apache.spark.sql.types.StringType)
      val want = spark.read.parquet(dir)
        .select("id", "coin", "sym", "opt").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = pq.select("id", "coin", "sym", "opt").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size && got.size == 9000)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // partition pruning on the DISCOVERED columns — both levels
      val filtered = pq.filter(col("coin") === 1 && col("sym") === "eth")
      val paths = batchScan(filtered).inputPartitions.map(
        _.asInstanceOf[graft.sources.GraftPqPartition].path).distinct
      assert(paths.nonEmpty && paths.forall(p =>
        p.contains("coin=1") && p.contains("sym=eth")),
        s"discovery pruning planned $paths")
      assert(filtered.count() == 3000)
      // aggregate pushdown GROUPS BY discovered partition columns
      val agg = pq.groupBy("coin").agg(count(lit(1)).as("n"),
        min(col("id")).as("mn")).orderBy("coin")
      assert(batchScan(agg).scan.description()
        .contains("PushedGroupBy: [coin]"))
      assert(agg.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
        (0 until 3).map(c => (c, 3000L, c.toLong)))
    } finally graft.streaming.WorkDirs.deleteRecursively(
      new java.io.File(dir).getParentFile)
  }

  test("VERSION-TAILING stream: readStream.format(\"graftpq\") plans " +
      "only the versions a trigger advances over, restarts resume " +
      "from the checkpointed version, and a non-append version fails " +
      "loudly naming its kind") {
    import spark.implicits._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-stream").toString
    val table = s"$work/t"
    val out = s"$work/out"
    val chk = s"$work/chk"
    def append(lo: Int, hi: Int): Unit =
      Maintenance.commitAppend(spark,
        table, (lo until hi).map(k => (k.toLong, s"g${k % 3}"))
          .toDF("id", "g").repartition(2))
    def runOnce(): Unit = {
      val q = spark.readStream.format("graftpq").load(table)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    try {
      append(0, 5000)
      append(5000, 9000)
      runOnce()
      val first = spark.read.parquet(out)
      assert(first.count() == 9000)
      assert(first.agg(org.apache.spark.sql.functions.sum("id"))
        .head.getLong(0) == (0 until 9000).map(_.toLong).sum)
      // restart tails ONLY the new version — no re-emission
      append(9000, 10000)
      runOnce()
      assert(spark.read.parquet(out).count() == 10000)
      // ADMISSION CONTROL: a 2-version backlog at
      // maxVersionsPerTrigger=1 drains as TWO micro-batches (the
      // checkpoint's offset log gains one entry per trigger), rows
      // complete and exactly-once either way
      append(10000, 10050)
      append(10050, 10080)
      val paced = spark.readStream.format("graftpq")
        .option("maxVersionsPerTrigger", 1).load(table)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      paced.awaitTermination()
      assert(spark.read.parquet(out).count() == 10080)
      val offsets = new java.io.File(s"$chk/offsets").listFiles()
        .count(!_.getName.endsWith(".tmp"))
      assert(offsets >= 4, // v1-2 batch, v3 batch, then v4 AND v5 split
        s"backlog did not pace into per-version batches ($offsets)")
      // a rewrite is not expressible as an append stream
      Maintenance.compact(spark, table, targetFiles = 1)
      append(10080, 10180)
      val thrown = intercept[Exception] { runOnce() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.toString +: chain(t.getCause)
      assert(chain(thrown).exists(m =>
        m.contains("rewrite") || m.contains("not an append")),
        s"wrong failure: ${chain(thrown).mkString(" <- ")}")
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("streaming a PARTITIONED committed table resolves every file " +
      "from the log's RELATIVE paths — a poisoned same-name file in a " +
      "sibling partition dir (what a tree walk would hit first) is " +
      "never touched, partition values stream as typed columns, and " +
      "the batch read ignores foreign junk the log never listed") {
    import spark.implicits._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-streampart").toString
    val table = s"$work/t"
    try {
      def rows(lo: Int, hi: Int) =
        (lo until hi).map(k => (k.toLong, s"g${k % 3}", 1 + (k % 2)))
          .toDF("id", "g", "b")
      Maintenance.commitAppend(spark, table, rows(0, 4000).coalesce(1),
        partitionBy = Seq("b"))
      Maintenance.commitAppend(spark, table, rows(4000, 6000).coalesce(1))
      // the poison: every data file of b=2 gets a GARBAGE twin (same
      // name) under b=0 — a dir that sorts FIRST, so any resolver that
      // walks the tree and takes the first name match decodes garbage;
      // resolution by the log's relative path never enters b=0
      val b2 = new java.io.File(table, "b=2")
      val b0 = new java.io.File(table, "b=0")
      b0.mkdirs()
      for (f <- b2.listFiles() if f.getName.endsWith(".parquet"))
        java.nio.file.Files.write(
          new java.io.File(b0, f.getName).toPath,
          Array.fill[Byte](256)(0x5a))
      val out = s"$work/out"
      val q = spark.readStream.format("graftpq").load(table)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$work/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.read.parquet(out)
      assert(got.count() == 6000)
      assert(got.agg(org.apache.spark.sql.functions.sum("id"))
        .head.getLong(0) == (0 until 6000).map(_.toLong).sum)
      // partition values streamed as the TRACKED int type
      assert(got.schema("b").dataType ==
        org.apache.spark.sql.types.IntegerType)
      assert(got.select("b").distinct().collect().map(_.getInt(0))
        .sorted.toSeq == Seq(1, 2))
      // the batch read lists from the log too: the garbage twins are
      // invisible, not fatal
      assert(spark.read.format("graftpq").load(table).count() == 6000)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("a BOOTSTRAPPED table's v0 base streams as the initial " +
      "snapshot: pre-protocol parquet is emitted once, then the adds") {
    import spark.implicits._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-streambase").toString
    val table = s"$work/t"
    try {
      // pre-protocol data: plain parquet, no commit log yet
      (0 until 1000).map(k => (k.toLong, s"g${k % 3}")).toDF("id", "g")
        .coalesce(1).write.mode("overwrite").parquet(table)
      new java.io.File(table, "_SUCCESS").delete()
      // first commit bootstraps: v0 full listing + v1 add
      Maintenance.commitAppend(spark,
        table, (1000 until 1500).map(k => (k.toLong, s"g${k % 3}"))
          .toDF("id", "g").coalesce(1))
      val out = s"$work/out"
      val q = spark.readStream.format("graftpq").load(table)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$work/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.read.parquet(out)
      assert(got.count() == 1500, "the v0 bootstrap base must stream")
      assert(got.agg(org.apache.spark.sql.functions.sum("id"))
        .head.getLong(0) == (0 until 1500).map(_.toLong).sum)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("FILE-GRANULAR admission control: maxFilesPerTrigger splits a " +
      "multi-file version across micro-batches at file boundaries, " +
      "exactly-once, and maxBytesPerTrigger bounds batches the same " +
      "way (one oversized file still streams alone)") {
    import spark.implicits._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-streamsplit").toString
    val table = s"$work/t"
    try {
      // v1: three files, v2: two files
      Maintenance.commitAppend(spark,
        table, (0 until 3000).map(k => (k.toLong, s"g${k % 3}"))
          .toDF("id", "g").repartition(3))
      Maintenance.commitAppend(spark,
        table, (3000 until 5000).map(k => (k.toLong, s"g${k % 3}"))
          .toDF("id", "g").repartition(2))
      def drain(tag: String, opts: Map[String, String]): Int = {
        val out = s"$work/out-$tag"
        val chk = s"$work/chk-$tag"
        val r = opts.foldLeft(
          spark.readStream.format("graftpq")) { case (b, (k, v)) =>
            b.option(k, v) }
        val q = r.load(table)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", chk)
          .trigger(org.apache.spark.sql.streaming
            .Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val got = spark.read.parquet(out)
        assert(got.count() == 5000, s"$tag lost or duplicated rows")
        assert(got.agg(org.apache.spark.sql.functions.sum("id"))
          .head.getLong(0) == (0 until 5000).map(_.toLong).sum,
          s"$tag row content drifted")
        new java.io.File(s"$chk/offsets").listFiles()
          .count(!_.getName.endsWith(".tmp"))
      }
      // 5 files at ≤2 per trigger: at least 3 batches
      assert(drain("files", Map("maxFilesPerTrigger" -> "2")) >= 3)
      // 1-byte cap: every file is oversized, so one file per trigger
      // (the ≥1-admission rule) — 5 batches, still exactly-once
      assert(drain("bytes", Map("maxBytesPerTrigger" -> "1")) >= 5)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("APPEND SCHEMA ENFORCEMENT: mode(append) into an existing " +
      "graftpq directory rejects missing, unknown, and retyped " +
      "columns loudly; a reordered identical schema appends fine; " +
      "overwrite replaces the schema wholesale") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-appendschema").toString
    try {
      (0 until 100).map(k => (k.toLong, s"s$k")).toDF("id", "s")
        .coalesce(1).write.format("graftpq").mode("overwrite").save(dir)
      def msgOf(t: Throwable): String = {
        def chain(x: Throwable): Seq[String] =
          if (x == null) Nil else Option(x.getMessage).toSeq ++
            chain(x.getCause)
        chain(t).mkString(" <- ")
      }
      val missing = intercept[Exception] {
        (0 until 10).map(k => Tuple1(k.toLong)).toDF("id")
          .write.format("graftpq").mode("append").save(dir)
      }
      assert(msgOf(missing).contains("missing columns: s"), msgOf(missing))
      val extra = intercept[Exception] {
        (0 until 10).map(k => (k.toLong, s"s$k", k)).toDF("id", "s", "x")
          .write.format("graftpq").mode("append").save(dir)
      }
      assert(msgOf(extra).contains("unknown columns: x"), msgOf(extra))
      val retyped = intercept[Exception] {
        (0 until 10).map(k => (k, s"s$k")).toDF("id", "s")
          .write.format("graftpq").mode("append").save(dir)
      }
      assert(msgOf(retyped).contains("'id' is bigint"), msgOf(retyped))
      // same columns, different order: appends (per-file name
      // resolution reads both layouts)
      (100 until 150).map(k => (s"s$k", k.toLong)).toDF("s", "id")
        .write.format("graftpq").mode("append").save(dir)
      val all = spark.read.format("graftpq").load(dir)
      assert(all.count() == 150)
      assert(all.where("id = 120").select("s").head.getString(0) == "s120")
      // overwrite may change the schema: it replaces the table
      (0 until 5).map(k => Tuple1(k)).toDF("only")
        .write.format("graftpq").mode("overwrite").save(dir)
      assert(spark.read.format("graftpq").load(dir).columns.toSeq ==
        Seq("only"))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("SELF-OVERWRITE is safe: overwrite truncates at JOB COMMIT, so " +
      "a query reading the target directory as its own input consumes " +
      "the old files before they are deleted") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-selfover").toString
    try {
      (0 until 1000).map(k => (k.toLong, s"g${k % 3}")).toDF("id", "g")
        .repartition(2).write.format("graftpq").mode("overwrite")
        .save(dir)
      // read → transform → overwrite THE SAME directory (V1 file
      // sources reject this cycle; deferring the truncate makes it
      // correct instead)
      spark.read.format("graftpq").load(dir)
        .withColumn("id", col("id") + 1000)
        .write.format("graftpq").mode("overwrite").save(dir)
      val back = spark.read.format("graftpq").load(dir)
      assert(back.count() == 1000)
      assert(back.agg(min("id"), max("id")).head() ==
        org.apache.spark.sql.Row(1000L, 1999L))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("PARTITIONED DSv2 WRITE: partitionBy lands hive col=value dirs " +
      "with the partition column stripped from the files; Spark's own " +
      "reader and graftpq both read it back, graftpq prunes dirs; an " +
      "append inherits the layout, a conflicting partitionBy rejects") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-partwrite").toString
    try {
      val src = (0 until 6000)
        .map(k => (k.toLong, s"g${k % 3}", k % 4)).toDF("id", "g", "b")
      src.repartition(2, col("b"))
        .write.format("graftpq").partitionBy("b")
        .mode("overwrite").save(dir)
      // hive layout, partition col stripped from the file leaves
      val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).sorted.toSeq
      assert(dirs == Seq("b=0", "b=1", "b=2", "b=3"), dirs.toString)
      val oneFile = new java.io.File(dir, "b=2").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(spark.read.parquet(oneFile.getAbsolutePath)
        .columns.toSeq == Seq("id", "g"))
      // Spark's own source (independent discovery) reads it back whole
      val viaSpark = spark.read.parquet(dir)
      assert(viaSpark.count() == 6000)
      assert(viaSpark.where("b = 3 AND id % 4 = 3").count() == 1500)
      // graftpq discovery + dir pruning: the b=1 filter plans only
      // b=1 files
      val pruned = spark.read.format("graftpq").load(dir)
        .filter(col("b") === 1)
      val parts = batchScan(pruned).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition].path)
      assert(parts.nonEmpty && parts.forall(_.contains("b=1")),
        parts.mkString(", "))
      assert(pruned.count() == 1500)
      // append WITHOUT partitionBy inherits the recorded layout
      Seq((9000L, "gX", 1)).toDF("id", "g", "b")
        .write.format("graftpq").mode("append").save(dir)
      assert(spark.read.format("graftpq").load(dir)
        .where("id = 9000").select("b").head.getInt(0) == 1)
      // a CONFLICTING declaration rejects
      val bad = intercept[Exception] {
        Seq((9001L, "gY", 2)).toDF("id", "g", "b")
          .write.format("graftpq").partitionBy("g")
          .mode("append").save(dir)
      }
      def chain(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++
          chain(x.getCause)
      assert(chain(bad).mkString.contains("partitioned by"),
        chain(bad).mkString(" <- "))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("partition VALUES round-trip the writer's escaping: nulls land " +
      "as __HIVE_DEFAULT_PARTITION__, path-hostile characters as %XX " +
      "— and graftpq reads back the exact original values") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-partescape").toString
    try {
      Seq((1L, Some("a/b")), (2L, Some("x=1")), (3L, None),
        (4L, Some("plain")))
        .toDF("id", "k")
        .write.format("graftpq").partitionBy("k")
        .mode("overwrite").save(dir)
      val names = new java.io.File(dir).listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      assert(names.contains("k=a%2Fb") && names.contains("k=x%3D1") &&
        names.contains("k=__HIVE_DEFAULT_PARTITION__"),
        names.toString)
      val back = spark.read.format("graftpq").load(dir)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(back == Map(1L -> "a/b", 2L -> "x=1", 3L -> null,
        4L -> "plain"))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("MANIFEST-SERVED pushed aggregates: a committed table answers " +
      "COUNT/MIN/MAX (grouped by partition dirs) from the commit " +
      "log's exact agg-stats manifest with ZERO file IO — every data " +
      "file is poisoned WHOLE, footers included, and the aggregate " +
      "still answers; a data read fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-aggmanifest").toString
    try {
      def part(lo: Int, hi: Int) = (lo until hi).map { k =>
        (k.toLong, if (k % 7 == 0) None else Some(k * 3L), k % 3)
      }.toDF("id", "opt", "b")
      Maintenance.commitAppend(spark, dir, part(0, 9000).coalesce(1),
        partitionBy = Seq("b"))
      Maintenance.commitAppend(spark, dir, part(9000, 12000).coalesce(1))
      val want = Maintenance.readTable(spark, dir).groupBy("b")
        .agg(count(lit(1)).as("n"), count(col("opt")).as("no"),
          min(col("id")).as("mn"), max(col("id")).as("mx"))
        .orderBy("b").collect().toSeq
      // poison EVERY byte of EVERY data file: no footer tail, no
      // magic, nothing — only the commit log's metadata survives
      def walk(d: java.io.File): Seq[java.io.File] = {
        val kids = Option(d.listFiles()).getOrElse(Array.empty)
        kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .toSeq ++ kids.filter(f => f.isDirectory &&
            !f.getName.startsWith("_")).flatMap(walk)
      }
      val victims = walk(new java.io.File(dir))
      assert(victims.nonEmpty)
      for (f <- victims)
        java.nio.file.Files.write(f.toPath,
          Array.fill[Byte](f.length().toInt)(0x5a))
      val df = spark.read.format("graftpq").load(dir).groupBy("b")
        .agg(count(lit(1)).as("n"), count(col("opt")).as("no"),
          min(col("id")).as("mn"), max(col("id")).as("mx"))
        .orderBy("b")
      val scan = batchScan(df).scan
      assert(scan.description().contains("PushedAggregation"),
        s"aggregation not pushed:\n${scan.description()}")
      assert(df.collect().toSeq == want)
      // global count too — and the all-null-possible count(opt) stays
      // exact through the recorded null counts
      assert(spark.read.format("graftpq").load(dir).count() == 12000)
      // the poison is real: anything touching a file dies
      intercept[Exception] {
        spark.read.format("graftpq").load(dir)
          .agg(sum("id")).collect()
      }
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("STRING MIN/MAX pushes only behind the exact-writer gate: the " +
      "engine's own files (created_by-signed, stats never truncated) " +
      "answer min/max(string) from chunk stats; a foreign-written " +
      "directory refuses the push") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-aggstring").toString
    try {
      val src = (0 until 20000).map { k =>
        (k.toLong, s"ev_${"%03d".format(k % 37)}")
      }.toDF("id", "s")
      val ours = s"$work/ours"
      graft.operators.ParquetWrite.writeDataFrame(
        src.coalesce(2), ours, codec = 1, rowGroupRows = 4096,
        pageRows = 1024)
      val foreign = s"$work/foreign"
      src.coalesce(2).write.mode("overwrite").parquet(foreign)
      val want = src.agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
        .collect().toSeq
      val df = spark.read.format("graftpq").load(ours)
        .agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
      assert(batchScan(df).scan.description()
        .contains("PushedAggregation"),
        s"string extremes not pushed on our files:\n" +
          batchScan(df).scan.description())
      assert(df.collect().toSeq == want)
      // foreign writer: no exactness proof, no push — values still
      // correct through the data read
      val fdf = spark.read.format("graftpq").load(foreign)
        .agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
      assert(!batchScan(fdf).scan.description()
        .contains("PushedAggregation"),
        "string extremes must not push on foreign files")
      assert(fdf.collect().toSeq == want)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("TOP-N pushdown: ORDER BY key LIMIT k over sorted data plans " +
      "only the dominating row groups (ASC head, DESC tail), keeps " +
      "groups that may hold nulls under NULLS FIRST, and refuses to " +
      "prune under deletion vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-topn").toString
    try {
      val dir = s"$work/sorted"
      val src = (0 until 40000).map(k => (k.toLong, s"g${k % 3}"))
        .toDF("id", "g").sort("id")
      graft.operators.ParquetWrite.writeDataFrame(
        src.coalesce(1), dir, codec = 1, rowGroupRows = 4096,
        pageRows = 4096)
      val base = spark.read.format("graftpq").load(dir)
      val totalGroups = batchScan(base).inputPartitions.length
      assert(totalGroups >= 9, s"fixture too few groups: $totalGroups")
      def topn(df: org.apache.spark.sql.DataFrame) = {
        val scan = batchScan(df)
        assert(scan.scan.description().contains("PushedTopN"),
          s"top-n not pushed:\n${scan.scan.description()}")
        scan.inputPartitions.length
      }
      val asc = base.orderBy(col("id")).limit(10)
      assert(topn(asc) == 1, "ASC head should plan one group")
      assert(asc.collect().map(_.getLong(0)).toSeq ==
        (0L until 10L))
      val desc = base.orderBy(col("id").desc).limit(10)
      assert(topn(desc) == 1, "DESC tail should plan one group")
      assert(desc.collect().map(_.getLong(0)).toSeq ==
        (39999L to 39990L by -1L))
      // a k spanning two groups keeps two
      assert(topn(base.orderBy(col("id")).limit(5000)) == 2)
      // NULLS FIRST (Spark's ASC default): a null-bearing group is
      // never dropped — here EVERY group holds a null, so nothing
      // prunes and the nulls surface first
      val ndir = s"$work/nulls"
      graft.operators.ParquetWrite.writeDataFrame(
        (0 until 40000).map(k =>
          (if (k % 4096 == 17) None else Some(k.toLong), k.toLong))
          .toDF("id", "pos").sort("pos").coalesce(1),
        ndir, codec = 1, rowGroupRows = 4096, pageRows = 4096)
      val nbase = spark.read.format("graftpq").load(ndir)
      val nulled = nbase.orderBy(col("id")).limit(5)
      assert(topn(nulled) == batchScan(nbase).inputPartitions.length,
        "null-bearing groups must not prune under NULLS FIRST")
      assert(nulled.collect().count(_.isNullAt(0)) == 5)
      // NULLS LAST: non-null dominators outrank trailing nulls, so
      // the head group alone answers
      val nl = nbase.orderBy(col("id").asc_nulls_last).limit(5)
      assert(topn(nl) == 1)
      assert(nl.collect().map(_.getLong(0)).toSeq ==
        Seq(0L, 1L, 2L, 3L, 4L))
      // outstanding deletion vectors: counts would overcount — no
      // pruning, answer still exact
      val tdir = s"$work/table"
      Maintenance.commitAppend(spark, tdir,
        (0 until 20000).map(k => (k.toLong, s"g${k % 3}"))
          .toDF("id", "g").sort("id").coalesce(1))
      Maintenance.deleteWithVectors(spark, tdir, expr("id < 100"))
      val dvTop = spark.read.format("graftpq").load(tdir)
        .orderBy(col("id")).limit(5)
      assert(dvTop.collect().map(_.getLong(0)).toSeq ==
        (100L until 105L))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("FILE-level TOP-N / LIMIT over a committed table: the exact " +
      "agg-stats manifest drops whole files before any footer read — " +
      "non-surviving files are poisoned WHOLE and the top-n still " +
      "answers; a bare LIMIT plans only the leading files") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-topnfile").toString
    try {
      for (b <- 0 until 3)
        Maintenance.commitAppend(spark, dir,
          (b * 10000 until (b + 1) * 10000)
            .map(k => (k.toLong, s"g${k % 3}")).toDF("id", "g")
            .sort("id").coalesce(1))
      val base = spark.read.format("graftpq").load(dir)
      // DESC before poisoning: only the LAST version's file plans
      val desc = base.orderBy(col("id").desc).limit(7)
      val descFiles = batchScan(desc).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition].path)
        .distinct
      assert(descFiles.length == 1 && descFiles.head.contains("v000003"),
        descFiles.mkString(", "))
      assert(desc.collect().map(_.getLong(0)).toSeq ==
        (29999L to 29993L by -1L))
      // poison versions 2 and 3 WHOLE (no footer survives): the ASC
      // head and a bare LIMIT never touch them
      for (f <- new java.io.File(dir).listFiles()
          if f.getName.endsWith(".parquet") &&
            !f.getName.contains("v000001"))
        java.nio.file.Files.write(f.toPath,
          Array.fill[Byte](f.length().toInt)(0x5a))
      val asc = spark.read.format("graftpq").load(dir)
        .orderBy(col("id")).limit(7)
      assert(asc.collect().map(_.getLong(0)).toSeq == (0L until 7L))
      assert(spark.read.format("graftpq").load(dir).limit(5)
        .collect().length == 5)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("STREAMING SINK: writeStream.format(\"graftpq\") commits each " +
      "epoch through the commit protocol — one version per batch, a " +
      "restart emits only new data, a replayed epoch commits nothing " +
      "(txn markers), and the sink table answers pushed aggregates " +
      "from its manifest") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-streamsink").toString
    val src = s"$work/src"
    val sink = s"$work/sink"
    val chk = s"$work/chk"
    def append(lo: Int, hi: Int): Unit =
      Maintenance.commitAppend(spark,
        src, (lo until hi).map(k => (k.toLong, s"g${k % 3}"))
          .toDF("id", "g").repartition(2))
    def runOnce(): Unit = {
      val q = spark.readStream.format("graftpq").load(src)
        .writeStream.format("graftpq")
        .option("path", sink).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    try {
      append(0, 4000)
      append(4000, 6000)
      runOnce()
      val t1 = Maintenance.readTable(spark, sink)
      assert(t1.count() == 6000)
      assert(t1.agg(sum("id")).head.getLong(0) ==
        (0 until 6000).map(_.toLong).sum)
      // restart: only the NEW source version flows, as a NEW sink
      // version — no re-emission, no rewrite
      val v1 = Maintenance.readVersion(sink)
      append(6000, 7000)
      runOnce()
      assert(Maintenance.readTable(spark, sink).count() == 7000)
      assert(Maintenance.readVersion(sink) > v1)
      // exactly-once: a replayed epoch (same queryId + epoch) commits
      // NOTHING even with fresh staged files
      val qid = "replayed-query-0000"
      val stage1 = s"$work/stage1"
      (0 until 10).map(k => Tuple1(k.toLong)).toDF("x")
        .coalesce(1).write.mode("overwrite").parquet(stage1)
      val sink2 = s"$work/sink2"
      val v = Maintenance.commitStagedAppend(spark, sink2, stage1,
        new org.apache.spark.sql.types.StructType()
          .add("x", org.apache.spark.sql.types.LongType),
        Nil, Some((qid, 7L)))
      assert(v.isDefined)
      assert(Maintenance.readTable(spark, sink2).count() == 10)
      val stage2 = s"$work/stage2"
      (0 until 10).map(k => Tuple1(k.toLong)).toDF("x")
        .coalesce(1).write.mode("overwrite").parquet(stage2)
      assert(Maintenance.commitStagedAppend(spark, sink2, stage2,
        new org.apache.spark.sql.types.StructType()
          .add("x", org.apache.spark.sql.types.LongType),
        Nil, Some((qid, 7L))).isEmpty, "replayed epoch must commit nothing")
      assert(Maintenance.readTable(spark, sink2).count() == 10)
      assert(!new java.io.File(stage2).exists, "replay stage discarded")
      // the sink table is a FIRST-CLASS committed table: pushed
      // aggregates answer from the manifest its epochs recorded
      val agg = spark.read.format("graftpq").load(sink)
        .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
          max(col("id")).as("mx"))
      assert(batchScan(agg).scan.description()
        .contains("PushedAggregation"))
      assert(agg.collect().toSeq ==
        Seq(org.apache.spark.sql.Row(7000L, 0L, 6999L)))
      // a FRESH PARTITIONED sink: option("partitionBy", ...) declares
      // the layout (the streaming writer never routes partitionBy
      // through getTable), epochs land col=value dirs the reader
      // prunes
      val sink3 = s"$work/sink3"
      val q3 = spark.readStream.format("graftpq").load(src)
        .writeStream.format("graftpq")
        .option("path", sink3).option("partitionBy", "g")
        .option("checkpointLocation", s"$work/chk3")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q3.awaitTermination()
      assert(Maintenance.readPartitioning(sink3) == Seq("g"))
      val p3 = spark.read.format("graftpq").load(sink3)
        .filter(col("g") === "g1")
      assert(p3.count() == (0 until 7000).count(_ % 3 == 1))
      assert(batchScan(p3).inputPartitions.map(
        _.asInstanceOf[graft.sources.GraftPqPartition].path)
        .forall(_.contains("g=g1")))
      // constraints/identity tables refuse the sink loudly
      Maintenance.addConstraint(spark, sink, "c_pos", "id >= 0")
      val thrown = intercept[Exception] {
        Maintenance.commitStagedAppend(spark, sink, stage1,
          new org.apache.spark.sql.types.StructType()
            .add("id", org.apache.spark.sql.types.LongType)
            .add("g", org.apache.spark.sql.types.StringType),
          Nil, Some(("another-query", 0L)))
      }
      assert(thrown.getMessage.contains("foreachBatch"),
        thrown.getMessage)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("CONSUMED partition predicates: equality/IN/null tests on " +
      "partition columns are row-exact, so the scan applies them " +
      "itself — aggregate pushdown composes (count WHERE bucket=2 " +
      "from metadata, whole-file poison), the LIMIT cap stays armed, " +
      "and near-miss / escaped / null values stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-consume").toString
    try {
      def part(lo: Int, hi: Int) = (lo until hi).map { k =>
        (k.toLong, if (k % 11 == 0) None else Some(k * 2L),
          k % 4, Seq(Some("a/b"), Some("x=1"), None,
            Some("plain"))(k % 4))
      }.toDF("id", "opt", "b", "s")
      Maintenance.commitAppend(spark, dir, part(0, 8000).coalesce(1),
        partitionBy = Seq("b", "s"))
      Maintenance.commitAppend(spark, dir, part(8000, 12000).coalesce(1))
      val want = Maintenance.readTable(spark, dir)
        .where("b = 2").agg(count(lit(1)), count(col("opt")),
          min(col("id")), max(col("id"))).collect().toSeq
      // rows-level exactness FIRST (vs Spark's own reader), escaped
      // strings and nulls included
      val pq = spark.read.format("graftpq").load(dir)
      assert(pq.where(col("s") === "a/b").count() == 3000)
      assert(pq.where(col("s") === "x=1").count() == 3000)
      assert(pq.where(col("s").isNull).count() == 3000)
      assert(pq.where(col("s").isNotNull).count() == 9000)
      assert(pq.where(col("b").isin(1, 3)).count() == 6000)
      assert(pq.where(col("b") === 5).count() == 0) // near miss
      // the predicate is CONSUMED: no Filter node survives above the
      // scan, and the scan's description names it
      val consumedScan = pq.where(col("b") === 2)
      val cd = batchScan(consumedScan).scan.description()
      assert(cd.substring(cd.indexOf("ConsumedPartitionFilters"))
        .takeWhile(_ != ']').contains("EqualTo(b,2)"), cd)
      assert(!consumedScan.queryExecution.executedPlan.toString
        .contains("Filter ("),
        consumedScan.queryExecution.executedPlan.toString)
      // LIMIT stays armed under a consumed predicate: only matching
      // files plan (footers of the SURVIVING files are read, so this
      // runs before the poison below)
      val lim = pq.where(col("b") === 2).limit(5)
      val limParts = batchScan(lim).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftPqPartition].path)
      assert(limParts.nonEmpty && limParts.forall(_.contains("b=2")),
        limParts.mkString(", "))
      assert(lim.collect().length == 5)
      // aggregate pushdown COMPOSES: poison every data file whole —
      // the filtered aggregate still answers from the manifest
      def walk(d: java.io.File): Seq[java.io.File] = {
        val kids = Option(d.listFiles()).getOrElse(Array.empty)
        kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .toSeq ++ kids.filter(f => f.isDirectory &&
            !f.getName.startsWith("_")).flatMap(walk)
      }
      for (f <- walk(new java.io.File(dir)))
        java.nio.file.Files.write(f.toPath,
          Array.fill[Byte](f.length().toInt)(0x5a))
      val agg = spark.read.format("graftpq").load(dir)
        .where(col("b") === 2)
        .agg(count(lit(1)).as("n"), count(col("opt")).as("no"),
          min(col("id")).as("mn"), max(col("id")).as("mx"))
      assert(batchScan(agg).scan.description()
        .contains("PushedAggregation"),
        s"agg did not push under a consumed filter:\n" +
          batchScan(agg).scan.description())
      assert(agg.collect().toSeq == want)
      // an all-eliminating consumed predicate still answers (count 0)
      val none = spark.read.format("graftpq").load(dir)
        .where(col("b") === 99).agg(count(lit(1)).as("n"))
      assert(batchScan(none).scan.description()
        .contains("PushedAggregation"))
      assert(none.collect().toSeq ==
        Seq(org.apache.spark.sql.Row(0L)))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("a pushed GROUP BY over only zero-row files plans ZERO " +
      "partitions (empty result), not a planner crash") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-aggempty").toString
    try {
      // a hive layout whose single file has zero rows
      val tmp = s"$dir/seed"
      spark.emptyDataset[(Long, String)].toDF("id", "s")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val pdir = new java.io.File(dir, "b=1")
      pdir.mkdirs()
      val seed = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(seed.toPath,
        new java.io.File(pdir, seed.getName).toPath)
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(tmp))
      val df = spark.read.format("graftpq").load(dir)
        .groupBy("b").count()
      assert(batchScan(df).scan.description()
        .contains("PushedAggregation"))
      assert(df.collect().isEmpty) // SQL: no rows, no groups
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }
  test("DSv2 batch APPEND into a COMMITTED table routes through the " +
      "commit protocol: the appended rows are visible to log-served " +
      "reads (listing, pushed aggregates, versions advance); before " +
      "this route the files landed unlogged and silently invisible") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-dsv2commit").toString
    try {
      def part(lo: Int, hi: Int) = (lo until hi).map { k =>
        (k.toLong, k % 3)
      }.toDF("id", "b")
      Maintenance.commitAppend(spark, dir, part(0, 6000).coalesce(1),
        partitionBy = Seq("b"))
      val v1 = Maintenance.readVersion(dir)
      part(6000, 9000).coalesce(2).write.format("graftpq")
        .mode("append").save(dir)
      // one new committed version, rows visible through the LOG
      assert(Maintenance.readVersion(dir) == v1 + 1)
      assert(Maintenance.readTable(spark, dir).count() == 9000)
      val live = Maintenance.liveFileListing(dir).getOrElse(
        fail("committed table lost its live registry"))
      assert(live.forall(rel => new java.io.File(dir, rel).isFile),
        "registry lists a file the append never landed")
      // the appended files landed the HIVE layout the table records
      assert(live.filter(_.contains("append_v")).forall(
        _.matches("b=[0-2]/.*\\.parquet")), live.mkString(", "))
      // pushed aggregates answer THROUGH the manifest the append
      // recorded: poison every data file whole; metadata still answers
      val df0 = spark.read.format("graftpq").load(dir)
      val want = (0 until 9000).map(_.toLong)
      assert(df0.filter(col("b") === 1).count() ==
        want.count(_ % 3 == 1))
      def walk(d: java.io.File): Seq[java.io.File] = {
        val kids = Option(d.listFiles()).getOrElse(Array.empty)
        kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .toSeq ++ kids.filter(f => f.isDirectory &&
            !f.getName.startsWith("_")).flatMap(walk)
      }
      for (f <- walk(new java.io.File(dir)))
        java.nio.file.Files.write(f.toPath,
          Array.fill[Byte](f.length().toInt)(0x5a))
      val agg = spark.read.format("graftpq").load(dir)
        .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
          max(col("id")).as("mx"))
      assert(batchScan(agg).scan.description()
        .contains("PushedAggregation"))
      assert(agg.collect().toSeq ==
        Seq(org.apache.spark.sql.Row(9000L, 0L, 8999L)))
      // tables with features needing commit-time validation reject the
      // DSv2 route at ANALYSIS time, before any write job runs
      val guarded = java.nio.file.Files
        .createTempDirectory("graft-graftpq-dsv2guard").toString
      try {
        Maintenance.commitAppend(spark, guarded, part(0, 10).coalesce(1))
        Maintenance.addConstraint(spark, guarded, "c_pos", "id >= 0")
        val e = intercept[Exception] {
          part(10, 20).write.format("graftpq").mode("append")
            .save(guarded)
        }
        assert(e.getMessage.contains("commitAppend"), e.getMessage)
        assert(Maintenance.readTable(spark, guarded).count() == 10)
      } finally graft.streaming.WorkDirs
        .deleteRecursively(new java.io.File(guarded))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("mode(overwrite) on a COMMITTED table rejects LOUDLY (its " +
      "append-only history cannot express a truncate) and the table " +
      "survives untouched; a graftorc write into it rejects too") {
    import spark.implicits._
    import graft.operators.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftpq-owreject").toString
    try {
      val df = (0 until 1000).map(k => (k.toLong, k % 5))
        .toDF("id", "b")
      Maintenance.commitAppend(spark, dir, df.coalesce(1))
      val v1 = Maintenance.readVersion(dir)
      val e1 = intercept[Exception] {
        df.write.format("graftpq").mode("overwrite").save(dir)
      }
      assert(e1.getMessage.contains("append-only history"),
        e1.getMessage)
      val e2 = intercept[Exception] {
        df.write.format("graftorc").mode("append").save(dir)
      }
      assert(e2.getMessage.contains("committed graftpq table"),
        e2.getMessage)
      // nothing moved: same version, same rows, log intact
      assert(Maintenance.readVersion(dir) == v1)
      assert(Maintenance.readTable(spark, dir).count() == 1000)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("an epoch commit ingests EXACTLY the message-listed files: a " +
      "zombie task attempt's published-but-unreported orphan in the " +
      "stage dir is discarded, not committed as duplicate rows") {
    import spark.implicits._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-zombie").toString
    try {
      val stage = s"$work/stage"
      (0 until 100).map(k => Tuple1(k.toLong)).toDF("x")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val reported = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
      assert(reported.size == 1)
      // the zombie: a visible twin the commit messages never listed
      val orphan = new java.io.File(stage,
        "part-99999-zombie.parquet")
      java.nio.file.Files.copy(reported.head.toPath, orphan.toPath)
      val sink = s"$work/sink"
      val v = Maintenance.commitStagedAppend(spark, sink, stage,
        new org.apache.spark.sql.types.StructType()
          .add("x", org.apache.spark.sql.types.LongType),
        Nil, Some(("zombie-query", 0L)), Some(reported))
      assert(v.isDefined)
      // exactly-once: 100 rows, one live file, the orphan is gone
      assert(Maintenance.readTable(spark, sink).count() == 100)
      assert(Maintenance.liveFileListing(sink).exists(_.size == 1))
      assert(!new java.io.File(stage).exists, "stage dir must be swept")
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("string MIN/MAX over a committed engine-written table answers " +
      "from the MANIFEST with zero file IO (whole-file poison); a " +
      "PRE-FEATURE manifest (9-field lines, no string extremes) " +
      "falls through to the footer tier instead of abandoning the " +
      "pushdown") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-manfall").toString
    try {
      val dir = s"$work/table"
      def stageRows(lo: Int, hi: Int): String = {
        val stage = s"$work/stage-$lo"
        graft.operators.ParquetWrite.writeDataFrame(
          (lo until hi).map { k =>
            (k.toLong, s"ev_${"%03d".format(k % 37)}")
          }.toDF("id", "s").coalesce(1), stage, codec = 1,
          rowGroupRows = 4096, pageRows = 1024)
        stage
      }
      // bootstrap + append, BOTH engine-written (created_by-signed):
      // every live file passes the per-file string-exactness gate
      Maintenance.commitStagedAppend(spark, dir, stageRows(0, 8000),
        new org.apache.spark.sql.types.StructType()
          .add("id", org.apache.spark.sql.types.LongType)
          .add("s", org.apache.spark.sql.types.StringType),
        Nil, None, None)
      Maintenance.commitStagedAppend(spark, dir,
        stageRows(8000, 12000),
        new org.apache.spark.sql.types.StructType()
          .add("id", org.apache.spark.sql.types.LongType)
          .add("s", org.apache.spark.sql.types.StringType),
        Nil, None, None)
      def strAgg() = spark.read.format("graftpq").load(dir)
        .agg(min(col("s")).as("mn"), max(col("s")).as("mx"),
          count(lit(1)).as("n"))
      val want = Seq(
        org.apache.spark.sql.Row("ev_000", "ev_036", 12000L))
      // MANIFEST tier: the commit recorded exact string extremes
      // behind the writer gate — poison every data file WHOLE and the
      // string aggregate still answers from the log alone
      val aggPath = java.nio.file.Paths.get(
        Maintenance.aggStatsPath(dir))
      val fullManifest = java.nio.file.Files.readString(aggPath)
      def walk(d: java.io.File): Seq[java.io.File] = {
        val kids = Option(d.listFiles()).getOrElse(Array.empty)
        kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .toSeq ++ kids.filter(f => f.isDirectory &&
            !f.getName.startsWith("_")).flatMap(walk)
      }
      val victims = walk(new java.io.File(dir))
      assert(victims.nonEmpty)
      val originals = victims.map(f =>
        f -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
      for (f <- victims)
        java.nio.file.Files.write(f.toPath,
          Array.fill[Byte](f.length().toInt)(0x5a))
      val poisoned = strAgg()
      assert(batchScan(poisoned).scan.description()
        .contains("PushedAggregation"))
      assert(poisoned.collect().toSeq == want,
        "string extremes must answer from the manifest alone")
      // PRE-FEATURE manifest: strip the string fields back to the
      // 9-field format older commits wrote — the manifest can no
      // longer answer strings and must FALL THROUGH to the footer
      // tier (restore the real files first: footers get read now)
      for ((f, bytes) <- originals)
        java.nio.file.Files.write(f.toPath, bytes)
      java.nio.file.Files.writeString(aggPath,
        fullManifest.linesIterator.map { ln =>
          ln.split('\t').take(9).mkString("\t")
        }.mkString("", "\n", "\n"))
      val legacy = strAgg()
      assert(batchScan(legacy).scan.description()
        .contains("PushedAggregation"),
        s"string agg must fall through to the footer tier:\n" +
          batchScan(legacy).scan.description())
      assert(legacy.collect().toSeq == want)
      // the int-backed family answers from the legacy manifest too
      val before = spark.read.format("graftpq").load(dir)
        .agg(min(col("id")).as("mn")).collect().toSeq
      assert(before == Seq(org.apache.spark.sql.Row(0L)))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("EMPTY-STRING extremes round-trip through the agg manifest: " +
      "an all-empty string column encodes sMin/sMax as empty base64 " +
      "(trailing TSV fields) and must still answer from the manifest " +
      "with every data file poisoned whole") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-emptystr").toString
    try {
      val dir = s"$work/table"
      val stage = s"$work/stage"
      // every s value is "" — the legal string extreme whose base64
      // encoding is the empty string, leaving the manifest line with
      // TRAILING EMPTY fields (the shape a default split('\t') drops)
      graft.operators.ParquetWrite.writeDataFrame(
        (0 until 500).map(k => (k.toLong, "")).toDF("id", "s")
          .coalesce(1), stage, codec = 1,
        rowGroupRows = 4096, pageRows = 1024)
      Maintenance.commitStagedAppend(spark, dir, stage,
        new org.apache.spark.sql.types.StructType()
          .add("id", org.apache.spark.sql.types.LongType)
          .add("s", org.apache.spark.sql.types.StringType),
        Nil, None, None)
      // the parsed manifest carries the exact empty extremes
      val stats = Maintenance.readAggStats(dir)
      val sStats = stats.values.flatMap(_._2.get("s")).toSeq
      assert(sStats.nonEmpty)
      assert(sStats.forall(st => st.sExact &&
        st.sMin.exists(_.isEmpty) && st.sMax.exists(_.isEmpty)),
        s"empty-string extremes must parse sExact with empty bounds: " +
          sStats.mkString(", "))
      // end-to-end: whole-file poison, the string agg still answers
      def walk(d: java.io.File): Seq[java.io.File] = {
        val kids = Option(d.listFiles()).getOrElse(Array.empty)
        kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .toSeq ++ kids.filter(f => f.isDirectory &&
            !f.getName.startsWith("_")).flatMap(walk)
      }
      for (f <- walk(new java.io.File(dir)))
        java.nio.file.Files.write(f.toPath,
          Array.fill[Byte](f.length().toInt)(0x5a))
      val df = spark.read.format("graftpq").load(dir)
        .agg(min(col("s")).as("mn"), max(col("s")).as("mx"),
          count(lit(1)).as("n"))
      assert(batchScan(df).scan.description()
        .contains("PushedAggregation"))
      assert(df.collect().toSeq ==
        Seq(org.apache.spark.sql.Row("", "", 500L)),
        "empty-string extremes must answer from the manifest alone")
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }

  test("planPar reuses one shared daemon planning pool across calls " +
      "and runs nested (re-entrant) calls inline — no per-call pool " +
      "churn, no deadlock when every pool thread fans out again") {
    // on a <=3-CPU host planPoolSize is 1 and planPar runs inline by
    // design — there is no pool behavior to observe
    assume(Runtime.getRuntime.availableProcessors >= 4,
      "pool behavior requires planPoolSize > 1")
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[Thread]()
    // outer fan-out wider than the pool, each task fanning out AGAIN:
    // with a naive shared bounded pool this deadlocks (all threads
    // blocked on subtasks that can never be scheduled); the inline
    // re-entrancy rule makes it complete, order preserved
    val out = graft.sources.GraftParquet.planPar(1 to 64) { i =>
      val inner = graft.sources.GraftParquet.planPar(1 to 4) { j =>
        seen.add(Thread.currentThread())
        Seq(i * 10 + j)
      }
      inner
    }
    assert(out == (1 to 64).flatMap(i => (1 to 4).map(j => i * 10 + j)))
    import scala.jdk.CollectionConverters._
    val threads1 = seen.asScala.toSet
    assert(threads1.forall(_.getName.startsWith("graft-plan-")),
      s"planning work must run on the shared pool: " +
        threads1.map(_.getName))
    assert(threads1.forall(_.isDaemon),
      "planning threads must be daemons (never block JVM exit)")
    // repeated calls REUSE the pool's THREAD OBJECTS (identity, not
    // name — a recreated pool restarts its numbering): 20 sequential
    // sweeps on a fresh-pool-per-call implementation would create at
    // least 20 distinct threads, a shared pool never exceeds its
    // 16-thread cap across ALL of them
    for (k <- 1 to 20) {
      val again = graft.sources.GraftParquet.planPar(1 to 8) { i =>
        seen.add(Thread.currentThread()); Seq(i * k)
      }
      assert(again == (1 to 8).map(_ * k))
    }
    val threads2 = seen.asScala.toSet
    assert((threads1 ++ threads2).size <= 16,
      "sequential sweeps must reuse the shared pool, not churn new " +
        s"threads: ${(threads1 ++ threads2).map(_.getName)}")
    // errors still rethrow the ORIGINAL exception
    val boom = intercept[IllegalStateException] {
      graft.sources.GraftParquet.planPar(1 to 8) { i =>
        if (i == 5) throw new IllegalStateException("loud name kept")
        Seq(i)
      }
    }
    assert(boom.getMessage == "loud name kept")
  }

  test("planPar LARGE batches run on a dedicated per-call pool " +
      "(shared FIFO queue never head-of-line-blocked by a sweep) — " +
      "order preserved, threads named+daemon, errors still loud") {
    assume(Runtime.getRuntime.availableProcessors >= 4,
      "pool behavior requires planPoolSize > 1")
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[Thread]()
    // 65 items crosses the dedicated-pool threshold (64): the call
    // must still produce ordered output on graft-plan daemon threads
    val out = graft.sources.GraftParquet.planPar(1 to 65) { i =>
      seen.add(Thread.currentThread()); Seq(i * 3)
    }
    assert(out == (1 to 65).map(_ * 3))
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.forall(_.getName.startsWith("graft-plan-")),
      s"dedicated pool must keep the plan-thread naming (re-entrancy " +
        s"check keys on it): ${seen.asScala.map(_.getName)}")
    assert(seen.asScala.forall(_.isDaemon))
    // the per-call pool is torn down afterwards: its threads die
    // (bounded wait — daemon threads exit once shutdownNow drains)
    val deadline = System.nanoTime() + 5_000_000_000L
    def liveDedicated() = seen.asScala.count(_.isAlive)
    while (liveDedicated() > 16 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(liveDedicated() <= 16,
      "dedicated pool threads must terminate after the call; only " +
        "shared-pool threads may persist")
    // a failing large batch still rethrows the ORIGINAL exception
    val boom = intercept[IllegalStateException] {
      graft.sources.GraftParquet.planPar(1 to 65) { i =>
        if (i == 33) throw new IllegalStateException("still loud")
        Seq(i)
      }
    }
    assert(boom.getMessage == "still loud")
  }

  test("FILE-level STRING TOP-N over a committed table: the " +
      "manifest's exact string bounds drop whole files before any " +
      "footer is read — non-surviving files poisoned WHOLE, the " +
      "query still answers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Maintenance
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-filetopnstr").toString
    try {
      val dir = s"$work/table"
      val schema = new org.apache.spark.sql.types.StructType()
        .add("skey", org.apache.spark.sql.types.StringType)
        .add("id", org.apache.spark.sql.types.LongType)
      // four single-file commits with disjoint sorted key ranges
      for (part <- 0 until 4) {
        val stage = s"$work/stage-$part"
        graft.operators.ParquetWrite.writeDataFrame(
          (part * 10000 until (part + 1) * 10000).map { k =>
            (f"k$k%08d", k.toLong)
          }.toDF("skey", "id").coalesce(1), stage, codec = 1,
          rowGroupRows = 4096, pageRows = 4096)
        Maintenance.commitStagedAppend(spark, dir, stage, schema,
          Nil, None, None)
      }
      val base = spark.read.format("graftpq").load(dir)
      // ASC head: only the first file's footer should ever be read —
      // poison the other three WHOLE
      val live = Maintenance.liveFileListing(dir).get.sorted
      assert(live.size == 4)
      for (rel <- live.tail) {
        val f = new java.io.File(dir, rel)
        java.nio.file.Files.write(f.toPath,
          Array.fill[Byte](f.length().toInt)(0x5a))
      }
      val asc = base.orderBy(col("skey")).limit(10)
      assert(batchScan(asc).scan.description().contains("PushedTopN"))
      assert(asc.collect().map(_.getString(0)).toSeq ==
        (0 until 10).map(k => f"k$k%08d"),
        "head file alone must answer a string TOP-N")
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }
  test("STRING TOP-N pushdown: ORDER BY skey LIMIT k over data " +
      "sorted by a string key plans only the dominating row groups " +
      "behind the exact-writer gate; a foreign-written file never " +
      "prunes (truncated stats must not dominate)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-topnstr").toString
    try {
      val src = (0 until 40000).map { k =>
        (f"k$k%08d", k.toLong)
      }.toDF("skey", "id").sort("skey")
      val dir = s"$work/ours"
      graft.operators.ParquetWrite.writeDataFrame(
        src.coalesce(1), dir, codec = 1, rowGroupRows = 4096,
        pageRows = 4096)
      val base = spark.read.format("graftpq").load(dir)
      val totalGroups = batchScan(base).inputPartitions.length
      assert(totalGroups >= 9, s"fixture too few groups: $totalGroups")
      def topn(df: org.apache.spark.sql.DataFrame) = {
        val scan = batchScan(df)
        assert(scan.scan.description().contains("PushedTopN"),
          s"top-n not pushed:\n${scan.scan.description()}")
        scan.inputPartitions.length
      }
      val asc = base.orderBy(col("skey")).limit(10)
      assert(topn(asc) == 1, "ASC head should plan one group")
      assert(asc.collect().map(_.getString(0)).toSeq ==
        (0 until 10).map(k => f"k$k%08d"))
      val desc = base.orderBy(col("skey").desc).limit(10)
      assert(topn(desc) == 1, "DESC tail should plan one group")
      assert(desc.collect().map(_.getString(0)).toSeq ==
        (39999 to 39990 by -1).map(k => f"k$k%08d"))
      // spanning k keeps two groups
      assert(topn(base.orderBy(col("skey")).limit(5000)) == 2)
      // a FOREIGN-written copy (no exactness proof: stats may be
      // truncated) keeps every group — and still answers correctly
      val fdir = s"$work/foreign"
      src.coalesce(1).sortWithinPartitions("skey")
        .write.mode("overwrite").parquet(fdir)
      val fbase = spark.read.format("graftpq").load(fdir)
      val fAll = batchScan(fbase).inputPartitions.length
      val fTop = fbase.orderBy(col("skey")).limit(10)
      assert(topn(fTop) == fAll,
        "foreign string stats must never prune")
      assert(fTop.collect().map(_.getString(0)).toSeq ==
        (0 until 10).map(k => f"k$k%08d"))
      // NULLS FIRST keeps null-bearing groups; NULLS LAST answers
      // from the head group alone
      val ndir = s"$work/nulls"
      graft.operators.ParquetWrite.writeDataFrame(
        (0 until 40000).map(k =>
          (if (k % 4096 == 17) None else Some(f"k$k%08d"), k.toLong))
          .toDF("skey", "pos").sort("pos").coalesce(1),
        ndir, codec = 1, rowGroupRows = 4096, pageRows = 4096)
      val nbase = spark.read.format("graftpq").load(ndir)
      val nulled = nbase.orderBy(col("skey")).limit(5)
      assert(topn(nulled) == batchScan(nbase).inputPartitions.length,
        "null-bearing groups must not prune under NULLS FIRST")
      assert(nulled.collect().count(_.isNullAt(0)) == 5)
      val nl = nbase.orderBy(col("skey").asc_nulls_last).limit(5)
      assert(topn(nl) == 1)
      assert(nl.collect().map(_.getString(0)).toSeq ==
        (0 until 5).map(k => f"k$k%08d"))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(work))
  }
}
