package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.operators.{ParquetFooter, Snappy, Zstd}

/** Layer measurements made once per traced run, after the workload:
  * footer-tail reads of the committed data files, and graft's codecs
  * against the library jars Spark ships, on a payload built from the
  * workload's own rows.
  */
object Layers {

  def footers(ctx: Ctx, table: File, live: Seq[String]): Unit = {
    val ms = live.sorted.take(400).map { rel =>
      val p = new File(table, rel).toPath
      val t0 = System.nanoTime()
      ParquetFooter.readTail(p)
      (System.nanoTime() - t0) / 1e6
    }
    ctx.put(Stats.p50("footer.read_tail_ms", ms, "ms"))
  }

  /** MB/s of uncompressed bytes for `f`, median over repeats filling
    * about `budgetS` seconds.
    */
  private def rate(bytes: Int, budgetS: Double)(f: => Unit): Double = {
    val xs = ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (budgetS * 1e9).toLong
    while (xs.size < 3 || (System.nanoTime() < end && xs.size < 200)) {
      val t0 = System.nanoTime()
      f
      xs += bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.median(xs.toSeq)
  }

  /** Up to `maxBytes` of the rows' text form, repeated to fill it. */
  def payload(rows: DataFrame, maxBytes: Int): Array[Byte] = {
    val text = rows.limit(20000).collect().map(_.mkString(",")).mkString("\n")
      .getBytes("UTF-8")
    val out = new Array[Byte](maxBytes)
    var o = 0
    while (o < maxBytes) {
      val n = math.min(text.length, maxBytes - o)
      System.arraycopy(text, 0, out, o, n)
      o += n
    }
    out
  }

  def codecs(ctx: Ctx, rows: DataFrame): Unit = {
    val raw = payload(rows, if (ctx.tiny) 1 << 18 else 4 << 20)
    val n = raw.length
    val budget = if (ctx.tiny) 0.05 else 0.4
    val libSz = org.xerial.snappy.Snappy.compress(raw)
    val ownSz = Snappy.compress(raw)
    val libZs = com.github.luben.zstd.Zstd.compress(raw, 3)
    val ok = java.util.Arrays.equals(Snappy.uncompress(libSz, 0, libSz.length), raw) &&
      java.util.Arrays.equals(org.xerial.snappy.Snappy.uncompress(ownSz), raw) &&
      java.util.Arrays.equals(Zstd.decode(libZs).content, raw)
    ctx.gate("codec_roundtrip", ok, "graft codec output differs from the library's")
    def put(name: String, v: Double, unit: String): Unit =
      ctx.put(Metric(name, v, unit, 1, "p50"))
    put("codec.snappy.decode_mb_s",
      rate(n, budget)(Snappy.uncompress(libSz, 0, libSz.length)), "MB/s")
    put("codec.snappy.lib_decode_mb_s",
      rate(n, budget)(org.xerial.snappy.Snappy.uncompress(libSz)), "MB/s")
    put("codec.zstd.decode_mb_s", rate(n, budget)(Zstd.decode(libZs)), "MB/s")
    put("codec.zstd.lib_decode_mb_s",
      rate(n, budget)(com.github.luben.zstd.Zstd.decompress(libZs, n)), "MB/s")
    put("codec.snappy.encode_mb_s", rate(n, budget)(Snappy.compress(raw)), "MB/s")
    ctx.put(Metric("codec.snappy.compression_ratio",
      n.toDouble / ownSz.length, "ratio", 1, "once"))
  }
}
