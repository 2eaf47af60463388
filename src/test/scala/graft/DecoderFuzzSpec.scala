package graft

import org.scalatest.funsuite.AnyFunSuite

/** Corruption-robustness contract across EVERY decoder:
  * a seeded mutation of a valid fixture (single-byte XORs, truncations,
  * double flips) must either decode or reject LOUDLY — an
  * IllegalArgument/IllegalState exception from our guards, or an
  * IOException/DataFormatException from a JDK-backed inner layer. What
  * is FORBIDDEN is the quiet-crash class: index/size/NPE/arithmetic
  * errors, stack overflows, or giant allocations (the scale guards cap
  * raster dims), any of which would take down an executor instead of
  * failing one record. 170 mutations per format, deterministic seed.
  */
class DecoderFuzzSpec extends AnyFunSuite {

  import graft.{multimodal => mm}
  import graft.{operators => op}

  /** One Spark-written single-file parquet/ORC image of a small
    * 4-column table under `codec`.
    */
  private def sparkFile(format: String, codec: String): Array[Byte] = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-fuzz-$format-$codec").toString
    val s = SparkTestSession.spark
    import s.implicits._
    (0 until 300).map(i =>
      (i.toLong, s"y${i % 9}", i * 0.5, i % 2 == 0))
      .toDF("a", "b", "c", "d")
      .coalesce(1).write.mode("overwrite")
      .option("compression", codec).format(format).save(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(s".$format")).head
    java.nio.file.Files.readAllBytes(f.toPath)
  }

  private lazy val fuzzFile = java.nio.file.Files
    .createTempDirectory("graft-fuzz-graftpq").resolve("part-0.parquet")

  /** The mutated image read through graftpq, its readers driven on
    * this thread.
    */
  private def parquetRows(b: Array[Byte]): Int = {
    java.nio.file.Files.write(fuzzFile, b)
    GraftPqDirect.count(SparkTestSession.spark.read.format("graftpq")
      .load(fuzzFile.toString))
  }

  private lazy val fuzzOrcFile = java.nio.file.Files
    .createTempDirectory("graft-fuzz-graftorc").resolve("part-0.orc")

  /** The mutated image read through graftorc, its readers driven on
    * this thread.
    */
  private def orcRows(b: Array[Byte]): Int = {
    java.nio.file.Files.write(fuzzOrcFile, b)
    GraftPqDirect.count(SparkTestSession.spark.read.format("graftorc")
      .load(fuzzOrcFile.getParent.toString))
  }

  private type Case = (String, Seq[Array[Byte]], Array[Byte] => Any)

  private val cases: Seq[Case] =
    Seq[Case](
      ("tiff", (0L until 6L).map(mm.Tiff.fixturePayload),
        b => mm.Tiff.decode(b)),
      ("png", (0L until 6L).map(mm.Png.fixturePayload),
        b => mm.Png.decode(b)),
      ("gif", (0L until 6L).map(mm.Gif.fixturePayload),
        b => mm.Gif.decode(b)),
      ("jpeg", (0L until 6L).map(mm.Jpeg.fixturePayload),
        b => mm.Jpeg.decode(b)),
      ("vp8l", (0L until 6L).map(mm.Vp8l.fixtureLosslessPayload),
        b => mm.Vp8l.decode(b)),
      ("flac", (0L until 6L).map(mm.Flac.fixtureAudioPayload),
        b => mm.Flac.decodeAudio(b)),
      ("webp-meta", (0L until 6L).map(mm.Webp.fixturePayload),
        b => mm.Webp.parse(b)),
      ("mp4", (0L until 6L).map(mm.Mp4.fixturePayload),
        b => mm.Mp4.parse(b)),
      ("avi", (0L until 4L).map(mm.Avi.fixturePayload),
        b => mm.Avi.parse(b)),
      ("exif", (0L until 4L).map(mm.Exif.fixturePayload),
        b => mm.Exif.parse(b)),
      ("id3", (0L until 6L).map(mm.Id3.fixturePayload),
        b => mm.Id3.parse(b)),
      ("lz4", (0L until 6L).map(op.Lz4.fixturePayload),
        b => op.Lz4.decodeFrame(b)),
      ("snappy", (0L until 6L).map(op.Snappy.fixturePayload),
        b => op.Snappy.decodeFramed(b)),
      ("gzip", (0L until 6L).map(op.Inflate.fixturePayload),
        b => op.Inflate.gunzipMembers(b)),
      ("bzip2", (0L until 4L).map(op.Bzip2.fixturePayload),
        b => op.Bzip2.decode(b)),
      ("tar", (0L until 6L).map(op.Tar.fixturePayload),
        b => op.Tar.parse(b)),
      ("zip", (0L until 6L).map(op.Zip.fixturePayload),
        b => op.Zip.parse(b)),
      ("warc", (0L until 6L).map(op.Warc.fixturePayload),
        b => op.Warc.parse(b)),
      ("avro", (0L until 6L).map(op.Avro.fixturePayload),
        b => op.Avro.decode(b)),
      ("xz", (0L until 6L).map(op.Xz.fixturePayload),
        b => op.Xz.decode(b)),
      ("zstd", (0L until 6L).map(op.Zstd.fixturePayload),
        b => op.Zstd.decode(b)),
      ("arrow", (0L until 4L).map(op.ArrowIpc.fixturePayload),
        b => op.ArrowIpc.decode(b)),
      ("parquet-footer", Seq(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(
          s"${SparkTestSession.sfSmoke}/region.parquet"))),
        b => op.ParquetFooter.read(b)),
      ("orc-meta", {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-fuzz-orc").toString
        val s = SparkTestSession.spark
        import s.implicits._
        (0 until 200).map(i => (i.toLong, s"x$i")).toDF("a", "b")
          .coalesce(1).write.mode("overwrite")
          .option("compression", "snappy").orc(dir)
        val f = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".orc")).head
        Seq(java.nio.file.Files.readAllBytes(f.toPath))
      }, b => op.OrcMeta.read(b)),
      ("parquet-data", Seq(sparkFile("parquet", "zstd")), parquetRows(_)),
      ("orc-data", Seq(sparkFile("orc", "zstd")), orcRows(_))) ++
    // every other page/chunk codec the library-backed decoders serve
    Seq("snappy", "gzip", "lz4_raw").map(c =>
      (s"parquet-data-$c", Seq(sparkFile("parquet", c)), parquetRows(_))) ++
    Seq("zlib", "lz4", "snappy").map(c =>
      (s"orc-data-$c", Seq(sparkFile("orc", c)), orcRows(_)))

  private def loud(t: Throwable): Boolean = t match {
    case _: IllegalArgumentException => true
    case _: IllegalStateException => true
    case _: java.io.IOException => true // JDK-backed inner layers
    case _: java.util.zip.DataFormatException => true
    case _ => false
  }

  test("every decoder survives seeded corruption: decode or reject " +
      "loudly, never crash") {
    val rnd = new scala.util.Random(20260814L)
    val failures = scala.collection.mutable.ListBuffer[String]()
    for ((name, seeds, decode) <- cases; seed <- seeds) {
      def tryOne(label: String, bytes: Array[Byte]): Unit =
        try { decode(bytes); () }
        catch {
          case t: Throwable if loud(t) => ()
          case t: Throwable =>
            failures += s"$name $label: ${t.getClass.getSimpleName}: " +
              s"${Option(t.getMessage).getOrElse("").take(80)}"
        }
      // single-byte XORs spread across the whole payload
      for (_ <- 0 until 120) {
        val bad = seed.clone()
        val i = rnd.nextInt(bad.length)
        bad(i) = (bad(i) ^ (1 << rnd.nextInt(8))).toByte
        tryOne(s"flip@$i", bad)
      }
      // double flips (checksum-colliding shapes)
      for (_ <- 0 until 20) {
        val bad = seed.clone()
        val i = rnd.nextInt(bad.length)
        val j = rnd.nextInt(bad.length)
        bad(i) = (bad(i) ^ 0xff).toByte
        bad(j) = (bad(j) ^ 0xff).toByte
        tryOne(s"dflip@$i,$j", bad)
      }
      // truncations at random points (including header-only prefixes)
      for (_ <- 0 until 30) {
        val n = rnd.nextInt(seed.length)
        tryOne(s"trunc@$n", seed.take(n))
      }
    }
    val byFormat = failures.groupBy(_.split(" ").head)
      .map { case (k, v) => s"$k: ${v.size} (e.g. ${v.head})" }
    assert(failures.isEmpty,
      s"${failures.size} quiet crashes across ${byFormat.size} formats:\n" +
        byFormat.mkString("\n"))
  }
}
