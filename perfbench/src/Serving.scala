package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Maintenance

/** `lakehouse_serving`: one closed-loop client over a committed silver
  * fact table partitioned by coin_id. About four of every five ops are
  * dashboard reads through graftpq; the rest are the writes of a fixed
  * rotation (appends, merge, update, DV delete + apply, delete of a
  * delisted coin, OPTIMIZE + VACUUM + history). The seed picks the reads'
  * order and every parameter, never the op kinds.
  */
final class Serving(ctx: Ctx) {
  private val spark = ctx.spark
  val coins: Int = if (ctx.tiny) 20 else 100
  val minutes: Long = if (ctx.tiny) 600L else 5000L
  var path: String = _
  var expected = 0L
  var nextMinute: Long = minutes
  var mergeMinute: Long = -1L
  val live = scala.collection.mutable.LinkedHashSet.empty[Int]
  val appendS = ArrayBuffer.empty[Double]
  val appendRows = ArrayBuffer.empty[Double]
  val filesAdded = ArrayBuffer.empty[Double]
  val bytesAdded = ArrayBuffer.empty[Double]
  private var salt = 0L

  val cols: Seq[String] = Seq("bar_id", "coin_id", "date_id", "time_id",
    "price", "market_cap", "change_percent_last_day", "average_1minute",
    "created_at")

  /** Bars for the (c, minute) pairs of `keys`; `salt` varies prices. */
  def bars(keys: DataFrame, salt: Long): DataFrame = {
    val ts = timestamp_seconds(lit(TickGen.Day0Epoch) + col("minute") * 60)
    val h = xxhash64(lit(ctx.seed), lit(salt), col("c"), col("minute"))
    keys.select(
      (col("c").cast("long") * 100000000L + col("minute")).as("bar_id"),
      col("c").cast("int").as("coin_id"),
      (year(ts) * 10000 + month(ts) * 100 + dayofmonth(ts)).cast("long")
        .as("date_id"),
      (hour(ts) * 10000 + minute(ts) * 100 + second(ts)).cast("long")
        .as("time_id"),
      ((pmod(h, lit(900000L)) + 1000L).cast("double") / 100.0).as("price"),
      (pmod(h, lit(7L)) + 1).as("h7"))
      .select(col("bar_id"), col("coin_id"), col("date_id"), col("time_id"),
        col("price"),
        (col("price") * col("coin_id").cast("double") * 1000.0)
          .as("market_cap"),
        ((col("h7") - 4).cast("double") * 1.25).as("change_percent_last_day"),
        (col("price") * 0.999).as("average_1minute"),
        lit(TickGen.CreatedAt).as("created_at"))
  }

  def grid(m0: Long, m1: Long): DataFrame =
    spark.range((m1 - m0) * coins).select(
      (col("id") % coins + 1).as("c"),
      (lit(m0) + (col("id") / coins).cast("long")).as("minute"))

  /** The fixture's keys coin-major, one partition per block of coins, so
    * each write task holds whole coins: one file per coin, no shuffle.
    */
  def fixtureGrid: DataFrame = {
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    spark.range(0, coins * minutes, 1, parts).select(
      ((col("id") / minutes).cast("long") + 1).as("c"),
      (col("id") % minutes).as("minute"))
  }

  def domain: Domain = {
    val days = (0L to (nextMinute / 1440)).map { d =>
      val t = java.time.LocalDate.of(2024, 1, 30).plusDays(d)
      t.getYear * 10000L + t.getMonthValue * 100L + t.getDayOfMonth
    }
    Domain(live.toIndexedSeq, days)
  }

  /** Commits the fixture, then warms each dashboard shape once. */
  def prepare(rep: Int): Unit = {
    val root = new File(ctx.work, s"serving$rep")
    Files2.deleteRecursively(root)
    path = new File(root, "fact").getPath
    Maintenance.commitAppend(spark, path, bars(fixtureGrid, 0),
      partitionBy = Seq("coin_id"))
    // VACUUM needs the live-file registry; later commits keep it current
    Maintenance.recordLiveFiles(path)
    expected = coins * minutes
    nextMinute = minutes
    mergeMinute = -1L
    live.clear()
    live ++= (1 to coins)
    val rng = new scala.util.Random(ctx.seed + rep)
    Reads.shapes.foreach { s =>
      Reads.dashboard(s, domain, rng).build(Reads.graftpq(ctx, path))
        .collect()
    }
  }

  def setup(): Unit = {
    for (rep <- 0 until 3) ctx.setupRep(prepare(rep))
    for (rep <- 0 until 2) Files2.deleteRecursively(
      new File(ctx.work, s"serving$rep"))
  }

  private def liveCoin(): Int =
    live.toIndexedSeq(ctx.rng.nextInt(live.size))

  /** Times one write; in a traced op, diffs the table directory around
    * it (outside the timed region).
    */
  private def write[T](kind: String)(body: => T): Option[T] = {
    val traced = ctx.nextTraced(kind)
    val before: Map[String, Long] =
      if (traced) Files2.walk(new File(path)).toMap else Map.empty
    val (rec, res) = ctx.op(kind, "commit", traced)(body)
    if (traced && rec.ok) {
      val after = Files2.walk(new File(path))
      val added = after.filterNot(x => before.contains(x._1))
      filesAdded += added.size
      bytesAdded += added.map(_._2).sum.toDouble
    }
    if (kind == "append" && rec.ok) appendS += rec.wallS
    res
  }

  def writeOp(kind: String): Unit = kind match {
    case "append" =>
      val m0 = nextMinute
      nextMinute += 10
      val rows = 10L * coins
      val df = bars(grid(m0, m0 + 10), 0)
      write("append") {
        df.write.format("graftpq").mode("append").save(path)
      }.foreach { _ => expected += rows; appendRows += rows.toDouble }
    case "merge" =>
      val c = liveCoin()
      salt += 1
      val picks = Seq.fill(50)((ctx.rng.nextDouble() * minutes).toLong)
        .distinct
      val fresh = (0 until 5).map(j => mergeMinute - j)
      mergeMinute -= 5
      import spark.implicits._
      val src = bars((picks ++ fresh).map(m => (c, m)).toDF("c", "minute"),
        salt)
      write("merge")(Maintenance.mergeInto(spark, path, src, "bar_id"))
        .foreach(r => expected += r.rowsInserted)
    case "update" =>
      val c = liveCoin()
      val d = domain.dates(ctx.rng.nextInt(domain.dates.size))
      write("update")(Maintenance.updateWhere(spark, path,
        col("coin_id") === c && col("date_id") === d,
        Map("price" -> col("price") * 1.001)))
    case "dv_delete" =>
      val c = liveCoin()
      val h = ctx.rng.nextInt(20)
      write("dv_delete")(Maintenance.deleteWithVectors(spark, path,
        col("coin_id") === c && col("time_id").between(h * 10000L,
          h * 10000L + 959L)))
        .foreach(r => expected -= r.rowsDeleted)
      write("apply_dv")(Maintenance.applyDeleteVectors(spark, path))
    case "delete" =>
      val c = liveCoin()
      write("delete")(Maintenance.deleteWhere(spark, path,
        col("coin_id") === c)).foreach { r =>
          expected -= r.rowsDeleted
          live -= c
        }
    case "maintain" =>
      // OPTIMIZE of a seeded range of ten coins (`OPTIMIZE ... WHERE`).
      // Whole-table `compact` is not used: on a partitioned table it
      // writes one same-named file into every partition directory, and
      // the per-file stats and deletion vectors, keyed by file name, then
      // collide (graftpq prunes all partitions but one; a DV delete hits
      // every same-named file).
      val lo = 1 + ctx.rng.nextInt(coins - 9)
      write("compact")(Maintenance.compactWhere(spark, path, "coin_id",
        lo, lo + 9, 1))
      // VACUUM deletes unreferenced files and bumps no version: not a
      // commit
      ctx.op("vacuum", "meta", ctx.nextTraced("vacuum")) {
        val now = System.currentTimeMillis() + 1
        Maintenance.vacuum(path, now) + Maintenance.vacuumRemoved(path, now)
      }
      val traced = ctx.nextTraced("history")
      ctx.op("history", "meta", traced) {
        Maintenance.history(spark, path).collect()
      }
  }

  /** Whole rotations until `deadlineMs` has passed. A rotation is two
    * pages of reads ([[Reads.page]], 18 reads), each in seeded order, with
    * the nine writes of [[Serving.rotation]] spread between them, so every run does the
    * same mix of ops and only their order and parameters vary.
    */
  def measure(deadlineMs: Long): Unit =
    do {
      val reads = (0 until 2).flatMap(i => ctx.rng.shuffle(Reads.page(i)))
      val w = Serving.rotation.size
      Serving.rotation.zipWithIndex.foreach { case (kind, k) =>
        reads.slice(reads.size * k / w, reads.size * (k + 1) / w).foreach(
          shape => Reads.timedRead(ctx, path,
            Reads.dashboard(shape, domain, ctx.rng)))
        writeOp(kind)
      }
    } while (System.currentTimeMillis() < deadlineMs)

  def gates(): Unit = {
    Reads.tableParity(ctx, path, cols, ctx.plant == "graftpq")
    // a sample: one whole-table shape and two per-coin shapes
    val rng = new scala.util.Random(ctx.seed + 17)
    Seq("latest", "range", "ohlc").foreach(s => Reads.parity(ctx, path,
      Reads.dashboard(s, domain, rng), ctx.plant == "dashboard"))
    val n = Reads.graftpq(ctx, path).count()
    val want = expected + (if (ctx.plant == "dml_count") 1 else 0)
    ctx.gate("row_count_vs_dml_results", n == want,
      s"table has $n rows; the DML results add up to $want")
  }

  def layer(): Unit = {
    for (k <- Seq("merge", "update", "delete", "dv_delete", "apply_dv",
        "compact", "vacuum", "history"))
      ctx.put(Stats.p50(s"maintenance.${k}_s", ctx.tracer.spanSeconds(k), "s"))
    ctx.put(Stats.p50("graftpq.append_s", ctx.tracer.spanSeconds("append"),
      "s"))
    ctx.put(Stats.meanMetric("maintenance.files_added_per_op",
      filesAdded.toSeq, "count"))
    ctx.put(Stats.meanMetric("maintenance.bytes_written_per_op",
      bytesAdded.toSeq, "B"))
  }

  def liveFiles: Set[String] =
    Files2.walk(new File(path)).map(_._1).filter(Files2.isData).toSet
}

object Serving {
  /** Appends are the most frequent write, as in the reference, where new
    * bars land every minute and corrections, deletes and OPTIMIZE are
    * batch jobs.
    */
  val rotation: Seq[String] = Seq("append", "merge", "append", "update",
    "dv_delete", "append", "delete", "append", "maintain")
}
