package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OrcData

/** ORC stripe data read through `graftorc` (graft's stripe planning,
  * Spark's ORC reader per stripe), compared with `spark.read.orc` on
  * Spark-written files: every supported codec, dictionary AND direct
  * strings, real nulls through the present streams,
  * booleans/ints/longs/floats/doubles/dates, every RLEv2
  * sub-encoding, and multi-stripe files under a tiny stripe size. Torn
  * files and unknown columns reject loudly.
  */
class OrcDataSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val cols = Seq("id", "opt", "s", "hi", "d", "f", "b", "i", "dt")

  private def writeDf(dir: String, codec: String,
      rows: Int = 3000): Unit = {
    import spark.implicits._
    (0 until rows).map { k =>
      (k.toLong,
        if (k % 7 == 0) None else Some(k.toLong * 3 - 1000),
        s"cat${k % 5}", // low cardinality → dictionary encoding
        s"unique-${k * 2654435761L}", // high cardinality → direct
        k * 0.37 - 55.5,
        (k * 0.11f) - 3.5f,
        k % 3 == 0,
        k * 13 - 7,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(k % 365)))
    }.toDF("id", "opt", "s", "hi", "d", "f", "b", "i", "dt")
      .coalesce(1)
      .write.mode("overwrite").option("compression", codec).orc(dir)
  }

  private def sparkRows(dir: String): Seq[Seq[Any]] =
    spark.read.orc(dir).collect().toSeq
      .map(r => cols.indices.map(i => if (r.isNullAt(i)) null else r.get(i)))
      .sortBy(_.head.asInstanceOf[Long])

  /** `cols` of `dir` read through graftorc, sorted by the first. */
  private def graftorcRows(dir: String, cols: Seq[String]): Seq[Seq[Any]] =
    spark.read.format("graftorc").load(dir).select(cols.map(
      org.apache.spark.sql.functions.col): _*).collect().toSeq
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])

  private def compare(dir: String, label: String): Unit = {
    val want = sparkRows(dir)
    val got = graftorcRows(dir, cols)
    assert(got.size == want.size, s"$label: ${got.size} vs ${want.size}")
    for ((w, g) <- want.zip(got))
      assert(w == g, s"$label row ${w.head}: $w vs $g")
  }

  test("Spark-written ORC decodes row-identically across every codec " +
      "(chunks through our own Inflate/Snappy/Lz4/Zstd)") {
    for (codec <- Seq("none", "snappy", "zlib", "lz4", "zstd")) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-orcdata-$codec").toString
      writeDf(dir, codec)
      compare(dir, codec)
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("multi-stripe files decode row-identically under a tiny stripe " +
      "size") {
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("orc.stripe.size")
    hc.set("orc.stripe.size", "65536")
    try {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-orcdata-stripes").toString
      // orc-core only checks the stripe budget every 5000 rows, so a
      // multi-stripe fixture needs well past one check interval
      writeDf(dir, "zstd", rows = 40000)
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".orc")).head
      val meta = OrcData.readMeta(java.nio.file.Files.readAllBytes(f.toPath))
      assert(meta.stripes.length > 1,
        s"fixture produced ${meta.stripes.length} stripe(s)")
      compare(dir, "multi-stripe")
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    } finally {
      if (prev == null) hc.unset("orc.stripe.size")
      else hc.set("orc.stripe.size", prev)
    }
  }

  test("RLEv2 encoding zoo: shapes that force each sub-encoding " +
      "decode row-identically") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-orcdata-rlev2").toString
    // xorshift so values are deterministic but non-monotonic
    def rnd(k: Int): Long = {
      var x = k.toLong * 2654435761L + 1
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      x
    }
    val zoo = Seq("konst", "mono", "wide", "outlier", "neg")
    (0 until 20000).map { k =>
      (k.toLong,
        7L, // constant → SHORT_REPEAT
        k.toLong * 3 + 11, // monotone → DELTA
        rnd(k) & 0xffffffffL, // full-width random → DIRECT
        // 90th-percentile width ≪ max width → PATCHED_BASE
        if (k % 23 == 0) (rnd(k) & 0xffffffffffL) + (1L << 41)
        else rnd(k) & 0x7f,
        rnd(k) % 1000 - 500) // signed, crosses zero
    }.toDF(("id" +: zoo): _*)
      .coalesce(1)
      .write.mode("overwrite").option("compression", "none").orc(dir)
    val want = spark.read.orc(dir).collect().toSeq
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val got = graftorcRows(dir, "id" +: zoo)
    assert(got.size == want.size)
    for ((w, g) <- want.zip(got)) assert(w == g, s"$w vs $g")
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
  }

  test("torn files and unknown columns reject loudly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-orcdata-torn").toString
    writeDf(dir, "zstd")
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".orc")).head
    val good = java.nio.file.Files.readAllBytes(f.toPath)
    val torn = good.take(good.length / 4) ++ good.takeRight(good.length / 2)
    val tornDir = java.nio.file.Files
      .createTempDirectory("graft-orcdata-torn-copy")
    java.nio.file.Files.write(tornDir.resolve("part-0.orc"), torn)
    intercept[Exception] {
      GraftPqDirect.count(spark.read.format("graftorc")
        .load(tornDir.toString))
    } match {
      case _: IllegalArgumentException | _: IllegalStateException => ()
      case e => fail(s"quiet crash class: ${e.getClass} ${e.getMessage}")
    }
    // a declared column the files lack is named by graftorc's planning
    val e2 = intercept[IllegalArgumentException](GraftPqDirect.count(
      spark.read.format("graftorc").schema("id bigint, nope string")
        .load(dir)))
    assert(e2.getMessage.contains("nope"), e2.getMessage)
    graft.streaming.WorkDirs.deleteRecursively(tornDir.toFile)
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
  }
}
