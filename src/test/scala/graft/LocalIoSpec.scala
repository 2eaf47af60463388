package graft

import org.scalatest.funsuite.AnyFunSuite

/** LocalIo must deliver the checksum-free local writes WITHOUT breaking
  * `FileSystem.getLocal` — the cast RocksDB's state-store file manager
  * performs on every snapshot upload. A prior revision bound
  * `fs.file.impl` to RawLocalFileSystem, which made that cast throw and
  * killed every transformWithState query in Verify; this spec pins both
  * halves of the fixed behaviour.
  */
class LocalIoSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  test("relaxLocalChecksums: no .crc siblings on Spark parquet writes, " +
    "and FileSystem.getLocal still casts (the RocksDB upload path)") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    // from Hadoop's checksummed defaults (the shared session starts
    // relaxed, and is left so)
    fs.setWriteChecksum(true)
    fs.setVerifyChecksum(true)
    graft.util.LocalIo.relaxLocalChecksums(spark)
    // 1) the exact cast RocksDBFileManager.saveImmutableFilesToDfs does
    val local = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert(local.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])

    // 2) a Spark write through the relaxed instance lands no .crc
    val dir = java.nio.file.Files
      .createTempDirectory("graft-localio").toFile
    val out = new java.io.File(dir, "t").getAbsolutePath
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(out)
    val crcs = Option(new java.io.File(out).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".crc"))
    assert(crcs.isEmpty,
      s"checksum siblings written despite relaxLocalChecksums: " +
        crcs.map(_.getName).mkString(","))
    // and the data reads back
    assert(spark.read.parquet(out).count() == 3L)

    // 3) the copyFromLocalFile path RocksDB uses end-to-end
    val src = new java.io.File(dir, "blob.bin")
    java.nio.file.Files.write(src.toPath, Array[Byte](1, 2, 3))
    val dst = new org.apache.hadoop.fs.Path(
      new java.io.File(dir, "blob-up.bin").getAbsolutePath)
    local.copyFromLocalFile(
      new org.apache.hadoop.fs.Path(src.getAbsolutePath), dst)
    assert(new java.io.File(dir, "blob-up.bin").length() == 3L)
    graft.util.Fs.deleteRecursively(dir)
  }
}
