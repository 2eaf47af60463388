package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run-wide state: the session, the run's parameters, the op log, the
  * correctness gates and the per-layer metrics a workload records.
  *
  * @param tiny  self-test sizes (seconds of work, not tens)
  * @param plant name of a gate whose reference is deliberately wrong, so
  *              the self-test can check that the gate rejects it
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: File, val tiny: Boolean,
    val plant: String) {

  val tracer = new Tracer(spark, trace)
  val ops = ArrayBuffer.empty[OpRec]
  val gates = ArrayBuffer.empty[(String, Boolean, String)]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val setupS = ArrayBuffer.empty[Double]
  /** Traced reads: scanned rows ÷ returned rows, graftpq ÷ built-in wall. */
  val scanned = ArrayBuffer.empty[Double]
  val vsBuiltin = ArrayBuffer.empty[Double]
  val rng = new scala.util.Random(seed)
  private val kindCount = mutable.Map.empty[String, Int]
  private var nextOp = 0L

  /** In a traced run every other op of each kind is traced; the untraced
    * ones are the control for the tracing overhead.
    */
  def nextTraced(kind: String): Boolean = {
    val k = kindCount.getOrElse(kind, 0)
    kindCount(kind) = k + 1
    trace && k % 2 == 0
  }

  /** Runs one timed op. A thrown exception counts the op as failed and
    * the run continues; `None` is returned.
    */
  def op[T](kind: String, cls: String, traced: Boolean)(body: => T)
      : (OpRec, Option[T]) = {
    nextOp += 1
    val id = nextOp
    tracer.beginOp(id)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.span(kind, traced)(body))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $kind failed: $e")
          e.printStackTrace()
          None
      }
    val t1 = System.nanoTime()
    val rec = OpRec(id, kind, cls, ms0, System.currentTimeMillis(),
      (t1 - t0) / 1e9, res.isDefined, traced)
    ops += rec
    (rec, res)
  }

  def gate(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    if (!ok) System.err.println(s"[perfbench] gate $name FAILED: $d")
    gates += ((name, ok, d))
  }

  def put(m: Metric): Unit = layer(m.name) = m

  def timeS[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Times one set-up repetition (see [[setupS]]). */
  def setupRep(body: => Unit): Unit = setupS += timeS(body)._1

  /** (steal, total) CPU ticks so far, from the first line of /proc/stat;
    * (0, 0) where there is none.
    */
  def cpuTicks: (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.exists()) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val xs = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.sum)
      } finally src.close()
    }
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
}

object Files2 {

  /** Regular files under `root`, recursively, with their sizes. */
  def walk(root: File): Seq[(String, Long)] = {
    val base = root.toPath
    def go(f: File): Seq[(String, Long)] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.flatMap(go)).getOrElse(Nil)
      else Seq(base.relativize(f.toPath).toString -> f.length())
    if (root.exists()) go(root) else Nil
  }

  def isData(rel: String): Boolean =
    rel.endsWith(".parquet") && !rel.startsWith("_graft_log") &&
      !rel.startsWith("_spark_metadata")

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** All bytes under the table directory ÷ bytes of its live data files
    * (`live` is the set of live data files, relative to the table).
    */
  def bytesPerLiveByte(root: File, live: Set[String]): Double = {
    val all = walk(root)
    val liveBytes = all.filter(x => live.contains(x._1)).map(_._2).sum
    all.map(_._2).sum.toDouble / math.max(1L, liveBytes)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
