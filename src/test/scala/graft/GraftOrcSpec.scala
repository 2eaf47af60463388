package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** The `graftorc` DataSource V2 (sources.GraftOrc): reads planned by
  * the from-scratch tail reader (postscript + footer + Metadata
  * protobufs) and decoded by the from-scratch stripe reader must agree
  * row-for-row with Spark's own ORC source, prune columns down to the
  * requested streams, and prune stripes from the Metadata section's
  * per-stripe statistics before any task launches.
  */
class GraftOrcSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def batchScan(df: org.apache.spark.sql.DataFrame)
      : BatchScanExec = {
    // descend AQE wrappers: AdaptiveSparkPlanExec is childless (live
    // plan off `executedPlan`), materialized stages are leaves (`plan`)
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive
        .QueryStageExec => walk(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).headOption
      .getOrElse(fail("no BatchScanExec in the plan:\n" +
        df.queryExecution.executedPlan.toString))
  }

  test("graftorc reads row-identically to Spark's ORC source across " +
      "types, nulls and codecs") {
    import spark.implicits._
    for (codec <- Seq("zstd", "snappy", "zlib", "lz4", "none")) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-graftorc-$codec").toString
      try {
        (0 until 2000).map { k =>
          (k.toLong,
            if (k % 9 == 0) None else Some(k * 3 - 700),
            s"v${k % 7}", // low cardinality → DICTIONARY_V2
            s"unique-$k-${k * 37}", // high cardinality → DIRECT_V2
            k % 2 == 0,
            (k % 120 - 60).toByte,
            (k * 5 - 3000).toShort,
            k * 0.25f - 10f,
            k * 1.75 - 300.0,
            java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
              .plusDays(k % 365)))
        }.toDF("id", "opt", "s", "u", "b", "y", "h", "f", "d", "dt")
          .coalesce(1)
          .write.mode("overwrite").option("compression", codec).orc(dir)
        val want = spark.read.orc(dir).collect().toSeq
          .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
        val got = spark.read.format("graftorc").load(dir).collect()
          .toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
        assert(got.size == want.size, s"[$codec] row counts")
        for ((w, g) <- want.zip(got))
          assert(w == g, s"[$codec] $w vs $g")
      } finally graft.streaming.WorkDirs
        .deleteRecursively(new java.io.File(dir))
    }
  }

  /** Many-stripe fixture in id order → monotone per-stripe stats.
    * orc-core only checks the stripe budget every 5000 rows, so the
    * row count sits well past one check interval.
    */
  private def stripedFixture(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-stripes").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("orc.stripe.size")
    hc.set("orc.stripe.size", "65536")
    try {
      (0 until 200000)
        .map(k => (k.toLong, k.toDouble / 2, s"g${k % 3}"))
        .toDF("id", "x", "g")
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd").orc(dir)
    } finally {
      if (prev == null) hc.unset("orc.stripe.size")
      else hc.set("orc.stripe.size", prev)
    }
    dir
  }

  test("Metadata stats prune stripes driver-side; surviving rows " +
      "still filter exactly") {
    val dir = stripedFixture()
    try {
      val all = spark.read.format("graftorc").load(dir)
      val total = batchScan(all).inputPartitions.length
      assert(total >= 4, s"fixture produced only $total stripes")
      val filtered = all.filter("id >= 180000")
      val kept = batchScan(filtered).inputPartitions.length
      assert(kept < total / 2,
        s"stats pruning kept $kept of $total stripes")
      // the pushed set is advisory: rows must still be filter-exact
      assert(filtered.count() == 20000)
      assert(filtered.agg(org.apache.spark.sql.functions.min("id"))
        .head.getLong(0) == 180000L)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("column pruning reaches the reader: only requested streams " +
      "are decoded") {
    val dir = stripedFixture()
    try {
      val df = spark.read.format("graftorc").load(dir).select("g")
      val scan = batchScan(df)
      val part = scan.inputPartitions.head
        .asInstanceOf[graft.sources.GraftOrcPartition]
      assert(part.colIds.length == 1,
        s"reader was handed columns ${part.colIds}")
      assert(df.distinct().count() == 3)
      // count(*) over an empty projection still knows its cardinality
      assert(spark.read.format("graftorc").load(dir).count() == 200000)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("TIMESTAMP (incl. pre-1970 + sub-second), DECIMAL (small and " +
      "38-digit) and BINARY read row-identically to Spark's ORC source") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-rich").toString
    try {
      spark.range(0, 3000).toDF("id")
        .select(col("id"),
          // micros spanning both sides of 1970 with ragged sub-seconds
          // (exercises the seconds/nanos split + the trailing-zero
          // nanos packing + the negative-second floor convention)
          timestamp_micros(col("id") * 77777777L - 50000000000000L)
            .as("ts"),
          when(col("id") % 9 === 0, lit(null))
            .otherwise(timestamp_micros(col("id") * 1000000L))
            .as("ts_whole"),
          concat((col("id") % 1000).cast("string"), lit("."),
            lpad((col("id") % 997).cast("string"), 3, "0"))
            .cast("decimal(12,3)").as("dec"),
          (col("id").cast("decimal(38,10)") * -1).as("dec_big"),
          when(col("id") % 7 === 0, lit(null))
            .otherwise(encode(concat(lit("b"), col("id")), "UTF-8"))
            .as("bin"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd").orc(dir)
      val want = spark.read.orc(dir).collect().toSeq
        .map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case x => x
        }).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftorc").load(dir).collect().toSeq
        .map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case x => x
        }).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      assert(spark.read.format("graftorc").load(dir).schema ==
        spark.read.orc(dir).schema)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("decimal(38,0) at the magnitude limit (19-byte zigzag varints) " +
      "reads row-identically to Spark's ORC source") {
    // |unscaled| near 10^38 − 1 zigzags to ~128 bits = 19 varint bytes;
    // the r15 guard capped the DATA-stream varint at 17 bytes and
    // rejected these valid values as torn (ADVICE r15)
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-dec38").toString
    try {
      val digits = concat(lit("9" * 28),
        lpad((col("id") % 10000000L).cast("string"), 10, "0"))
      spark.range(0, 2000).toDF("id")
        .select(col("id"),
          when(col("id") % 13 === 0, lit(null))
            .otherwise(when(col("id") % 2 === 0, digits)
              .otherwise(concat(lit("-"), digits)))
            .cast("decimal(38,0)").as("dmax"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd").orc(dir)
      val want = spark.read.orc(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftorc").load(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("ROW-GROUP pruning inside stripes: graftorc seeks to the " +
      "surviving group span from the row indexes — on our own files " +
      "AND on orc-core's (mid-run seek positions)") {
    import org.apache.spark.sql.functions._
    import graft.operators.OrcWrite
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-rgprune").toString
    try {
      // our own writer: 16000-row stripes, 2000-row groups, zstd
      val ownFile = new java.io.File(dir, "own")
      ownFile.mkdirs()
      val fields = StructType(Seq(StructField("id", LongType),
        StructField("tag", StringType), StructField("v", DoubleType),
        StructField("xs", ArrayType(LongType))))
      val rows = (0 until 40000).iterator.map { i =>
        Array[Any](Long.box(i.toLong), s"t${i % 40}",
          if (i % 7 == 0) null else Double.box(i * 0.5),
          if (i % 10 == 0) null
          else Seq[Any](Long.box(i.toLong),
            if (i % 3 == 0) null else Long.box(i.toLong * 2)))
      }
      OrcWrite.writeFile(
        new java.io.File(ownFile, "part-00000.orc").toPath, fields,
        rows, stripeRows = 16000, compression = 5,
        rowIndexStride = 2000)
      val own = spark.read.format("graftorc").load(ownFile.toString)
        .filter("id >= 30100 AND id < 30900")
      val parts = batchScan(own).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftOrcPartition])
      assert(parts.length == 1, s"${parts.length} stripes planned")
      assert(parts.head.groupRange.contains((7, 8)),
        s"planned ${parts.head.groupRange}, want group 7 only")
      val got = own.orderBy("id").collect()
      assert(got.length == 800)
      for ((r, k) <- got.zipWithIndex) {
        val i = 30100 + k
        assert(r.getLong(0) == i.toLong)
        assert(r.getString(1) == s"t${i % 40}")
        if (i % 7 == 0) assert(r.isNullAt(2))
        else assert(r.getDouble(2) == i * 0.5)
        if (i % 10 == 0) assert(r.isNullAt(3))
        else {
          val xs = r.getSeq[Any](3)
          assert(xs.head == i.toLong)
          if (i % 3 == 0) assert(xs(1) == null)
          else assert(xs(1) == i.toLong * 2)
        }
      }
      // a filter disjoint with EVERY group of a stripe drops the
      // stripe with zero data IO (group stats prove it)
      val none = spark.read.format("graftorc").load(ownFile.toString)
        .filter("id >= 16000 AND id < 16000") // empty range
      assert(none.count() == 0)
      // Spark's writer (default 10000-row stride): seek positions point
      // MID-RUN with value/bit drops
      val sparkFile = new java.io.File(dir, "sparkw").toString
      spark.range(0, 40000).toDF("id")
        .select(col("id"), concat(lit("s"), col("id") % 37).as("tag"),
          when(col("id") % 6 === 0, lit(null))
            .otherwise(col("id") * 1.5).as("v"))
        .coalesce(1).sortWithinPartitions("id")
        .write.mode("overwrite").option("compression", "zstd")
        .orc(sparkFile)
      val sw = spark.read.format("graftorc").load(sparkFile)
        .filter("id >= 25000 AND id < 25500")
      val swParts = batchScan(sw).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftOrcPartition])
      assert(swParts.forall(_.groupRange.nonEmpty),
        s"no group pruning on ${swParts.map(_.groupRange)}")
      val want = spark.read.orc(sparkFile)
        .filter("id >= 25000 AND id < 25500")
        .collect().toSeq.map(_.toSeq)
        .sortBy(_.head.asInstanceOf[Long])
      val swGot = sw.collect().toSeq.map(_.toSeq)
        .sortBy(_.head.asInstanceOf[Long])
      assert(swGot.size == want.size && swGot.size == 500)
      for ((w, g) <- want.zip(swGot)) assert(w == g, s"$w vs $g")
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("STRING-keyed filters prune stripes AND row groups from " +
      "code-point stats, on our files AND Spark-written ones") {
    import org.apache.spark.sql.functions._
    import graft.operators.OrcWrite
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-strprune").toString
    try {
      // our writer, string-clustered: sym sorts lexicographically in
      // id order, 8192-row stripes, 2048-row groups
      val ownFile = new java.io.File(dir, "own")
      ownFile.mkdirs()
      val fields = StructType(Seq(StructField("id", LongType),
        StructField("sym", StringType)))
      val rows = (0 until 40000).iterator.map { i =>
        Array[Any](Long.box(i.toLong), "s%05d".format(i))
      }
      OrcWrite.writeFile(
        new java.io.File(ownFile, "part-00000.orc").toPath, fields,
        rows, stripeRows = 8192, compression = 5, rowIndexStride = 2048)
      val all = spark.read.format("graftorc").load(ownFile.toString)
      val total = batchScan(all).inputPartitions.length
      assert(total == 5, s"$total stripes")
      val eq = all.filter("sym = 's30100'")
      val parts = batchScan(eq).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftOrcPartition])
      assert(parts.length == 1,
        s"string equality kept ${parts.length} of $total stripes")
      assert(parts.head.groupRange.nonEmpty,
        "string stats should narrow to a row-group span too")
      assert(eq.count() == 1)
      assert(eq.head.getLong(0) == 30100L)
      val rng = all.filter("sym >= 's35000'")
      assert(batchScan(rng).inputPartitions.length == 1,
        "string range should keep one stripe")
      assert(rng.count() == 5000)
      // IN (disjunction), LIKE-prefix (StringStartsWith fences) and
      // IS NULL (hasNull=false disproves it) all prune too
      val inq = all.filter("sym IN ('s30100','s30105')")
      assert(batchScan(inq).inputPartitions.length == 1,
        "IN should keep one stripe")
      assert(inq.orderBy("id").collect().map(_.getLong(0)).toSeq ==
        Seq(30100L, 30105L))
      val pre = all.filter("sym LIKE 's3010%'")
      val preParts = batchScan(pre).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftOrcPartition])
      assert(preParts.length == 1 && preParts.head.groupRange.nonEmpty,
        s"prefix planned ${preParts.map(_.groupRange)}")
      assert(pre.count() == 10)
      val nul = all.filter("sym IS NULL")
      assert(batchScan(nul).inputPartitions.isEmpty,
        "IS NULL should prune every stripe of a no-null column")
      assert(nul.count() == 0)
      // Spark-written ORC (orc-core string stats, one big stripe,
      // 10000-row default stride): row-group narrowing + row parity
      val sparkFile = new java.io.File(dir, "sparkw").toString
      spark.range(0, 40000).toDF("id")
        .select(col("id"),
          format_string("s%05d", col("id")).as("sym"))
        .coalesce(1).sortWithinPartitions("id")
        .write.mode("overwrite").option("compression", "zstd")
        .orc(sparkFile)
      val sw = spark.read.format("graftorc").load(sparkFile)
        .filter("sym = 's30100'")
      val swParts = batchScan(sw).inputPartitions
        .map(_.asInstanceOf[graft.sources.GraftOrcPartition])
      assert(swParts.forall(_.groupRange.nonEmpty),
        s"no string group pruning on ${swParts.map(_.groupRange)}")
      assert(sw.collect().map(_.getLong(0)).toSeq == Seq(30100L))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("ORC BLOOM FILTERS prune row groups on point lookups where " +
      "min/max cannot (orc-core-written BLOOM_FILTER_UTF8), with " +
      "zero false negatives") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-bloom").toString
    try {
      // pseudo-random spread: every row group's [min,max] covers the
      // whole domain — only the blooms can prune point lookups
      def symOf(i: Long): String =
        "k%09d".format((i * 2654435761L) % 1000000007L)
      spark.range(0, 40000).toDF("id")
        .select(col("id"),
          format_string("k%09d",
            (col("id") * 2654435761L) % 1000000007L).as("sym"),
          (col("id") * 2).as("k2")) // evens only
        .coalesce(1)
        .write.mode("overwrite")
        .option("orc.bloom.filter.columns", "sym,k2")
        .option("compression", "zstd").orc(dir)
      val all = spark.read.format("graftorc").load(dir)
      // an ABSENT string key: stats keep every group, the blooms
      // disprove it everywhere — the stripe drops entirely
      val absent = all.filter("sym = 'k_absent_key'")
      assert(batchScan(absent).inputPartitions.isEmpty,
        s"bloom kept ${batchScan(absent).inputPartitions.length} stripes")
      assert(absent.count() == 0)
      // an absent LONG inside the value range (odd)
      val absentL = all.filter("k2 = 33333")
      assert(batchScan(absentL).inputPartitions.isEmpty,
        "bloom should disprove an in-range absent long")
      assert(absentL.count() == 0)
      // a PRESENT key answers exactly
      val one = all.filter(col("sym") === symOf(12345L))
      assert(one.collect().map(_.getLong(0)).toSeq == Seq(12345L))
      // ZERO FALSE NEGATIVES over 200 present members each way — a
      // Murmur3/Wang hash mismatch vs orc-core's writer loses rows here
      val sample = (0 until 200).map(k => symOf(k * 199L + 7L))
      assert(all.filter(col("sym").isin(sample: _*)).count() == 200L,
        "bloom IN lost present string keys")
      val sampleL = (0 until 200).map(k => Long.box(k * 398L + 14L))
      assert(all.filter(col("k2").isin(sampleL: _*)).count() == 200L,
        "bloom IN lost present long keys")
      // mixed IN (present + absent member) survives via the present one
      assert(all.filter("sym IN ('k_absent_key', '" + symOf(777L) +
        "')").count() == 1)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("nested LIST / STRUCT / MAP columns (nulls at every level, " +
      "empty collections, list-of-struct) read row-identically to " +
      "Spark's ORC source") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-nested").toString
    try {
      // ORC's nested convention differs from parquet's Dremel levels:
      // a child column records entries ONLY for slots where the parent
      // is present, so null lists / null structs / null map values are
      // three distinct states the PRESENT+LENGTH streams must keep
      // apart — every state appears here, cross-validated against
      // orc-core (Spark's writer AND reader)
      spark.range(0, 4000).toDF("id")
        .select(col("id"),
          when(col("id") % 10 === 0, lit(null))
            .otherwise(when(col("id") % 10 === 1, array()
              .cast("array<bigint>"))
              .otherwise(array(col("id") * 2,
                when(col("id") % 3 === 0, lit(null))
                  .otherwise(col("id") * 3),
                col("id") % 7))).as("xs"),
          when(col("id") % 8 === 0, lit(null))
            .otherwise(struct(
              (col("id") % 100).as("a"),
              when(col("id") % 5 === 0, lit(null))
                .otherwise(concat(lit("s"), col("id"))).as("b"),
              when(col("id") % 6 === 0,
                lit(null).cast("struct<d:double>"))
                .otherwise(struct((col("id") * 0.5).as("d")))
                .as("c"))).as("st"),
          when(col("id") % 9 === 0, lit(null))
            .otherwise(when(col("id") % 9 === 1,
              map().cast("map<string,bigint>"))
              .otherwise(map(
                lit("uid"), col("id") * 10,
                lit("opt"), when(col("id") % 4 === 0, lit(null))
                  .otherwise(col("id") % 11)))).as("m"),
          when(col("id") % 11 === 0, lit(null))
            .otherwise(array(
              struct(concat(lit("k"), col("id") % 5).as("k"),
                (col("id") % 13).as("v")),
              struct(lit("k2").as("k"),
                when(col("id") % 2 === 0, lit(null))
                  .otherwise(col("id")).as("v")))).as("lst"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd").orc(dir)
      assert(spark.read.format("graftorc").load(dir).schema ==
        spark.read.orc(dir).schema)
      val want = spark.read.orc(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = spark.read.format("graftorc").load(dir).collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // column pruning still reaches the reader for a nested column
      val one = spark.read.format("graftorc").load(dir).select("m")
      assert(one.count() == 4000)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("aggregate pushdown answers COUNT/MIN/MAX/SUM from stripe " +
      "statistics with ZERO data IO: every stripe is poisoned and " +
      "the aggregate still answers — including ORC's exact integer " +
      "SUM and exact string extremes, which parquet stats can't give") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-aggpush").toString
    try {
      // orc-core-written file: the independent writer whose statistics
      // the sweep must consume (sum, numberOfValues, exact strings)
      (0 until 30000).map { k =>
        (k.toLong, if (k % 9 == 0) None else Some(k * 3L - 700),
          s"s${k % 5}",
          java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
            .plusDays(k % 365)))
      }.toDF("id", "opt", "s", "dt").coalesce(2)
        .write.mode("overwrite").orc(dir)
      val aggCols = Seq(count(lit(1)).as("n"), count(col("opt")).as("no"),
        min(col("id")).as("mn"), max(col("id")).as("mx"),
        sum(col("opt")).as("so"), min(col("s")).as("smn"),
        max(col("s")).as("smx"), min(col("dt")).as("dmn"),
        max(col("dt")).as("dmx"))
      val want = spark.read.orc(dir)
        .agg(aggCols.head, aggCols.tail: _*).collect().toSeq
      // poison EVERY stripe byte (index + data + stripe footer); only
      // the file tail — Metadata statistics, Footer, Postscript —
      // stays intact
      for (f <- new java.io.File(dir).listFiles()
          if f.getName.endsWith(".orc")) {
        val plan = graft.operators.OrcData.readPlan(f.toPath)
        val raf = new java.io.RandomAccessFile(f, "rw")
        try {
          for (st <- plan.meta.stripes) {
            raf.seek(st.offset)
            val n = (st.indexLength + st.dataLength +
              st.footerLength).toInt
            raf.write(Array.fill[Byte](n)(0x5a))
          }
        } finally raf.close()
      }
      val orc = spark.read.format("graftorc").load(dir)
      val df = orc.agg(aggCols.head, aggCols.tail: _*)
      val scan = batchScan(df).scan
      assert(scan.description().contains("PushedAggregation"),
        s"aggregation not pushed:\n${scan.description()}")
      assert(scan.description().contains("sum(opt)"),
        "ORC's exact integer SUM must be in the pushed set")
      assert(df.collect().toSeq == want)
      // the fall-back scan proves the poison is real
      val thrown = intercept[Exception] {
        orc.groupBy("s").count().collect()
      }
      assert(thrown != null)
      // float/double extremes never answer from stats (NaN hazard)
      val dd = spark.read.format("graftorc")
      val fdir = java.nio.file.Files
        .createTempDirectory("graft-graftorc-aggf").toString
      try {
        (0 until 100).map(k => (k.toLong, k * 0.5))
          .toDF("id", "d").coalesce(1).write.mode("overwrite").orc(fdir)
        val fq = spark.read.format("graftorc").load(fdir)
          .agg(min(col("d")).as("dmn"))
        assert(!batchScan(fq).scan.description()
          .contains("PushedAggregation"),
          "double MIN must not answer from stats")
      } finally graft.streaming.WorkDirs
        .deleteRecursively(new java.io.File(fdir))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("DSv2 WRITE path: df.write.format(\"graftorc\") streams rows " +
      "through the from-scratch ORC writer; orc-core (Spark's reader) " +
      "reads the result row-identically; overwrite/append semantics") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-v2write").toString + "/t"
    try {
      val df = (0 until 5000).map { k =>
        (k.toLong,
          if (k % 9 == 0) None else Some(k * 3 - 700),
          s"v${k % 7}",
          k * 1.75 - 300.0,
          java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
            .plusDays(k % 365)),
          Seq(k.toLong, k * 2L))
      }.toDF("id", "opt", "s", "d", "dt", "xs")
      df.repartition(4).write.format("graftorc")
        .mode("overwrite").save(dir)
      assert(new java.io.File(dir, "_SUCCESS").exists())
      val got = spark.read.orc(dir).orderBy("id").collect().toSeq
        .map(_.toSeq)
      val want = df.orderBy("id").collect().toSeq.map(_.toSeq)
      assert(got.size == want.size)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      df.limit(100).write.format("graftorc").mode("append").save(dir)
      assert(spark.read.orc(dir).count() == 5100)
      df.limit(10).write.format("graftorc").mode("overwrite").save(dir)
      assert(spark.read.format("graftorc").load(dir).count() == 10)
    } finally graft.streaming.WorkDirs.deleteRecursively(
      new java.io.File(dir).getParentFile)
  }

  test("LIMIT pushdown caps planning to the leading stripes; a " +
      "filtered LIMIT never caps") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-limit").toString
    try {
      graft.operators.OrcWrite.writeDataFrame(
        (0 until 40000).map(k => (k.toLong, s"v${k % 7}"))
          .toDF("id", "s").coalesce(1).sortWithinPartitions("id"),
        dir, stripeRows = 8192, compression = 5)
      val orc = spark.read.format("graftorc").load(dir)
      assert(batchScan(orc).inputPartitions.length == 5)
      val limited = orc.limit(10)
      assert(limited.collect().length == 10)
      assert(physicalScansOrc(limited).head.inputPartitions.length == 1,
        "LIMIT 10 should plan exactly the first stripe")
      val filtered = orc.filter("id >= 39995").limit(10)
      assert(filtered.collect().length == 5)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  private def physicalScansOrc(df: org.apache.spark.sql.DataFrame)
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

  test("hive partition DISCOVERY on plain ORC directories: " +
      "df.write.partitionBy layouts read with typed partition " +
      "columns spliced as constants, and dir values prune files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-hive").toString + "/t"
    try {
      (0 until 9000).map { k =>
        (k.toLong, k % 3, Seq("btc", "eth", "u v")(k % 3),
          if (k % 900 == 0) None else Some(s"x$k"))
      }.toDF("id", "coin", "sym", "opt")
        .write.partitionBy("coin", "sym").orc(dir)
      val orc = spark.read.format("graftorc").load(dir)
      assert(orc.schema("coin").dataType ==
        org.apache.spark.sql.types.IntegerType)
      val want = spark.read.orc(dir)
        .select("id", "coin", "sym", "opt").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val got = orc.select("id", "coin", "sym", "opt").collect().toSeq
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.size == want.size && got.size == 9000)
      for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
      // both partition levels prune whole files before any IO
      val filtered = orc.filter(col("coin") === 1 &&
        col("sym") === "eth")
      val paths = batchScan(filtered).inputPartitions.map(
        _.asInstanceOf[graft.sources.GraftOrcPartition].path).distinct
      assert(paths.nonEmpty && paths.forall(p =>
        p.contains("coin=1") && p.contains("sym=eth")),
        s"ORC discovery pruning planned $paths")
      assert(filtered.count() == 3000)
    } finally graft.streaming.WorkDirs.deleteRecursively(
      new java.io.File(dir).getParentFile)
  }

  test("the registered s50 query really takes the pushed path " +
      "against OUR OrcWrite statistics (sum + exact strings)") {
    val df = SparkEntry.queries("s50_orc_agg")(
      spark, SparkTestSession.sfSmoke)
    val d = batchScan(df).scan.description()
    assert(d.contains("PushedAggregation") && d.contains("sum(cents)")
      && d.contains("min(event_type)"),
      s"s50 fell back to a data read:\n$d")
    assert(df.collect().length == 1)
  }

  test("TOP-N pushdown (ORC): ORDER BY key LIMIT k over sorted " +
      "stripes plans only the dominating stripes, both directions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-topn").toString
    try {
      graft.operators.OrcWrite.writeDataFrame(
        (0 until 40000).map(k => (k.toLong, s"g${k % 3}"))
          .toDF("id", "g").sort("id").coalesce(1),
        dir, stripeRows = 4096, compression = 5)
      val base = spark.read.format("graftorc").load(dir)
      val total = batchScan(base).inputPartitions.length
      assert(total >= 9, s"fixture too few stripes: $total")
      def topn(df: org.apache.spark.sql.DataFrame) = {
        val scan = batchScan(df)
        assert(scan.scan.description().contains("PushedTopN"),
          s"top-n not pushed:\n${scan.scan.description()}")
        scan.inputPartitions.length
      }
      val asc = base.orderBy(col("id")).limit(10)
      assert(topn(asc) == 1, "ASC head should plan one stripe")
      assert(asc.collect().map(_.getLong(0)).toSeq == (0L until 10L))
      val desc = base.orderBy(col("id").desc).limit(10)
      assert(topn(desc) == 1, "DESC tail should plan one stripe")
      assert(desc.collect().map(_.getLong(0)).toSeq ==
        (39999L to 39990L by -1L))
      assert(topn(base.orderBy(col("id")).limit(5000)) == 2)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("ORC partition-GROUP-BY aggregates + consumed predicates: " +
      "GROUP BY a discovered hive column answers from dir values + " +
      "stripe stats with every stripe poisoned; a consumed bucket " +
      "equality composes; zero-match answers count 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-partagg").toString
    try {
      val src = (0 until 12000).map { k =>
        (k.toLong, if (k % 7 == 0) None else Some(k * 2L), k % 3)
      }.toDF("id", "opt", "b")
      src.repartition(2, col("b"))
        .write.mode("overwrite").partitionBy("b").orc(dir)
      val want = src.groupBy("b")
        .agg(count(lit(1)).as("n"), count(col("opt")).as("no"),
          sum(col("opt")).as("s"), min(col("id")).as("mn"),
          max(col("id")).as("mx"))
        .orderBy("b").collect().toSeq
      val wantB2 = src.where("b = 2")
        .agg(count(lit(1)).as("n"), sum(col("opt")).as("s"))
        .collect().toSeq
      // poison EVERY stripe body of every file: only the footer /
      // Metadata tail regions survive (stats live there)
      for (f <- new java.io.File(dir).listFiles
          .filter(_.isDirectory).flatMap(_.listFiles())
          if f.getName.endsWith(".orc")) {
        val plan = graft.operators.OrcData.readPlan(f.toPath)
        val raf = new java.io.RandomAccessFile(f, "rw")
        try plan.meta.stripes.foreach { st =>
          raf.seek(st.offset)
          raf.write(Array.fill[Byte]((st.indexLength + st.dataLength)
            .toInt)(0x5a))
        } finally raf.close()
      }
      val df = spark.read.format("graftorc").load(dir).groupBy("b")
        .agg(count(lit(1)).as("n"), count(col("opt")).as("no"),
          sum(col("opt")).as("s"), min(col("id")).as("mn"),
          max(col("id")).as("mx"))
        .orderBy("b")
      assert(batchScan(df).scan.description()
        .contains("PushedGroupBy: [b]"),
        batchScan(df).scan.description())
      assert(df.collect().toSeq == want)
      // consumed partition equality composes with the push
      val b2 = spark.read.format("graftorc").load(dir).where("b = 2")
        .agg(count(lit(1)).as("n"), sum(col("opt")).as("s"))
      assert(batchScan(b2).scan.description()
        .contains("PushedAggregation"),
        batchScan(b2).scan.description())
      assert(b2.collect().toSeq == wantB2)
      // zero-match: exact empty answer, no stripe ever touched
      val none = spark.read.format("graftorc").load(dir)
        .where("b = 9").agg(count(lit(1)).as("n"))
      assert(none.collect().toSeq ==
        Seq(org.apache.spark.sql.Row(0L)))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("PARTITIONED DSv2 write (ORC): partitionBy lands hive " +
      "col=value dirs with the partition column stripped; Spark's own " +
      "ORC reader and graftorc both read it back with dir pruning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-partwrite").toString
    try {
      (0 until 4000).map(k => (k.toLong, s"g${k % 3}", k % 2))
        .toDF("id", "g", "b")
        .repartition(2, col("b"))
        .write.format("graftorc").partitionBy("b")
        .mode("overwrite").save(dir)
      val dirs = new java.io.File(dir).listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      assert(dirs == Seq("b=0", "b=1"), dirs.toString)
      val oneFile = new java.io.File(dir, "b=1").listFiles()
        .filter(_.getName.endsWith(".orc")).head
      assert(spark.read.orc(oneFile.getAbsolutePath)
        .columns.toSeq == Seq("id", "g"))
      assert(spark.read.orc(dir).count() == 4000)
      val pruned = spark.read.format("graftorc").load(dir)
        .filter(col("b") === 0)
      assert(pruned.count() == 2000)
      assert(batchScan(pruned).inputPartitions.map(
        _.asInstanceOf[graft.sources.GraftOrcPartition].path)
        .forall(_.contains("b=0")))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }
  test("STRING TOP-N pushdown (ORC): ORDER BY skey LIMIT k over " +
      "sorted stripes plans only the dominating stripes from exact " +
      "StringStatistics, both directions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-topnstr").toString
    try {
      graft.operators.OrcWrite.writeDataFrame(
        (0 until 40000).map(k => (f"k$k%08d", k.toLong))
          .toDF("skey", "id").sort("skey").coalesce(1),
        dir, stripeRows = 4096, compression = 5)
      val base = spark.read.format("graftorc").load(dir)
      val total = batchScan(base).inputPartitions.length
      assert(total >= 9, s"fixture too few stripes: $total")
      def topn(df: org.apache.spark.sql.DataFrame) = {
        val scan = batchScan(df)
        assert(scan.scan.description().contains("PushedTopN"),
          s"top-n not pushed:\n${scan.scan.description()}")
        scan.inputPartitions.length
      }
      val asc = base.orderBy(col("skey")).limit(10)
      assert(topn(asc) == 1, "ASC head should plan one stripe")
      assert(asc.collect().map(_.getString(0)).toSeq ==
        (0 until 10).map(k => f"k$k%08d"))
      val desc = base.orderBy(col("skey").desc).limit(10)
      assert(topn(desc) == 1, "DESC tail should plan one stripe")
      assert(desc.collect().map(_.getString(0)).toSeq ==
        (39999 to 39990 by -1).map(k => f"k$k%08d"))
      assert(topn(base.orderBy(col("skey")).limit(5000)) == 2)
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }

  test("PRE-HIVE-8732 WRITER FENCE: a file whose PostScript " +
      "writerVersion is 0 gets its string statistics STRIPPED at " +
      "parse — no string pruning/domination/answering from UTF-16-" +
      "ordered extremes — while numeric stats and row data stay " +
      "fully served") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-graftorc-wvfence").toString
    try {
      (0 until 20000).map(k => (k.toLong, f"s${k % 61}%03d"))
        .toDF("id", "s").sort("s").coalesce(1)
        .write.mode("overwrite").orc(dir)
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".orc")).head
      val before = graft.operators.OrcData.readPlan(f.toPath)
      assert(before.meta.writerVersion >= 1,
        s"orc-core must stamp a post-fence writerVersion, got " +
          s"${before.meta.writerVersion}")
      assert(before.stripeStats.flatten.exists(st =>
        st.exactS && st.minS.isDefined && st.maxS.isDefined),
        "fixture must carry exact string statistics before the patch")
      val wantRows = spark.read.orc(dir).where(col("s") === "s030")
        .collect().map(_.getLong(0)).sorted.toSeq
      val wantAgg = spark.read.orc(dir)
        .agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
        .collect().toSeq
      // patch PostScript field 6 (writerVersion, wire-type 0) to 0 in
      // place: walk the tag/value varints of the postscript span so
      // the patch hits the field, not a byte that happens to match
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val psLen = bytes(bytes.length - 1) & 0xff
      val psStart = bytes.length - 1 - psLen
      var pos = psStart
      def varintAt(): Long = { // advances pos
        var shift = 0; var v = 0L; var b = 0
        do { b = bytes(pos) & 0xff; v |= (b & 0x7fL) << shift
          shift += 7; pos += 1 } while ((b & 0x80) != 0)
        v
      }
      var patched = false
      while (pos < bytes.length - 1 && !patched) {
        val tag = varintAt()
        val field = (tag >>> 3).toInt
        val wire = (tag & 7).toInt
        (field, wire) match {
          case (6, 0) =>
            assert((bytes(pos) & 0x80) == 0,
              "writerVersion varint expected single-byte")
            bytes(pos) = 0
            patched = true
          case (_, 0) => varintAt()
          case (_, 2) => val len = varintAt(); pos += len.toInt
          case other => fail(s"unexpected postscript wire $other")
        }
      }
      assert(patched, "no writerVersion field found to patch")
      java.nio.file.Files.write(f.toPath, bytes)
      val after = graft.operators.OrcData.readPlan(f.toPath)
      assert(after.meta.writerVersion == 0)
      assert(after.stripeStats.flatten.forall(st =>
        !st.exactS && st.minS.isEmpty && st.maxS.isEmpty),
        "pre-fence string statistics must be stripped at parse")
      assert(after.stripeStats.flatten.exists(_.minL.isDefined),
        "numeric statistics must survive the fence untouched")
      val orc = spark.read.format("graftorc").load(dir)
      // string equality: no stats to prune with — still row-correct
      assert(orc.where(col("s") === "s030").collect()
        .map(_.getLong(0)).sorted.toSeq == wantRows)
      // string MIN/MAX: stats can no longer answer — falls back to
      // data, same result
      assert(orc.agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
        .collect().toSeq == wantAgg)
      // string TOP-N: no dominators — every stripe planned, correct
      val top = orc.orderBy(col("s")).limit(7)
      assert(top.collect().map(_.getString(1)).toSeq ==
        Seq.fill(7)("s000"))
    } finally graft.streaming.WorkDirs
      .deleteRecursively(new java.io.File(dir))
  }
}
