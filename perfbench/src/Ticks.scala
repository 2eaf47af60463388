package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.TickPipeline

/** Seeded tick inputs for the landing `events` table. Minute `m` of the
  * stream starts at 2024-01-30T00:00Z + m minutes; negative minutes fall
  * on the previous day, which the fact hop's `dimWithPrevClose` needs for
  * every coin. Each coin has `k` ticks per minute at distinct seconds, so
  * the last tick of a window is unique. A tick file holds whole minutes,
  * so every (coin, window) lands in exactly one file; within a file a
  * seeded fifth of the ticks is displaced by up to a minute, so files are
  * not in event-time order but the watermark never drops a tick.
  */
object TickGen {
  val Day0Epoch = 1706572800L // 2024-01-30T00:00:00Z
  val CreatedAt = "2024-02-01 00:00:00"

  def coinName(c: Int): String = f"c$c%03d"

  /** Ticks for minutes [m0, m1): columns event_type, ts, value, minute,
    * sk (the within-file sort key). With `parts` partitions each one
    * holds a contiguous run of minutes.
    */
  def ticks(spark: SparkSession, seed: Long, coins: Int, m0: Long,
      m1: Long, k: Int, parts: Int = 0): DataFrame = {
    val perMin = coins.toLong * k
    val step = 60 / k
    val n = (m1 - m0) * perMin
    (if (parts > 0) spark.range(0, n, 1, parts) else spark.range(n))
      .select(
        (lit(m0) + (col("id") / perMin).cast("long")).as("minute"),
        (col("id") % coins).cast("int").as("c"),
        ((col("id") / coins).cast("long") % k).as("j"),
        col("id"))
      .select(
        concat(lit("c"), lpad(col("c").cast("string"), 3, "0"))
          .as("event_type"),
        timestamp_micros(((lit(Day0Epoch) + col("minute") * 60 +
          col("j") * step) * 1000000L) + col("c") * 1000L).as("ts"),
        ((pmod(xxhash64(lit(seed), col("id")), lit(900000L)) + 1000L)
          .cast("double") / 100.0).as("value"),
        col("minute"),
        (col("minute") * 60000000L + col("j") * step * 1000000L +
          when(pmod(xxhash64(lit(seed + 1), col("id")), lit(5L)) === 0,
            pmod(xxhash64(lit(seed + 2), col("id")), lit(120000000L)) -
              60000000L).otherwise(lit(0L))).as("sk"))
  }

  /** Writes `df` as one parquet file per `minutesPerFile` minutes,
    * named `<prefix>_<index>.parquet` in `dest`, and returns them in
    * minute order. `df` must come from [[ticks]] with one partition per
    * file, so the write needs no shuffle.
    */
  def writeFiles(spark: SparkSession, df: DataFrame, m0: Long,
      minutesPerFile: Int, tmp: File, dest: File, prefix: String,
      firstIndex: Int): IndexedSeq[File] = {
    df.withColumn("f", ((col("minute") - m0) / minutesPerFile).cast("int"))
      .sortWithinPartitions("f", "sk")
      .select("event_type", "ts", "value", "f")
      .write.mode("overwrite").partitionBy("f").parquet(tmp.getPath)
    dest.mkdirs()
    val parts = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("f="))
      .map(d => d.getName.stripPrefix("f=").toInt -> d).sortBy(_._1)
    val out = parts.map { case (f, d) =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      require(files.length == 1, s"expected one file in $d")
      val target = new File(dest, f"${prefix}_${firstIndex + f}%05d.parquet")
      Files.move(files.head.toPath, target.toPath,
        StandardCopyOption.ATOMIC_MOVE)
      target
    }.toIndexedSeq
    Files2.deleteRecursively(tmp)
    out
  }

  /** Previous-day ticks (2 minutes per coin) as the landing table's
    * `events.parquet`.
    */
  def history(spark: SparkSession, seed: Long, coins: Int): DataFrame =
    ticks(spark, seed + 101, coins, -2, 0, 4)

  def writeHistory(spark: SparkSession, seed: Long, coins: Int,
      landing: File, tmp: File): Unit = {
    val f = writeFiles(spark, ticks(spark, seed + 101, coins, -2, 0, 4, 1),
      -2, 2, tmp, landing, "history", 0)
    Files.move(f.head.toPath, new File(landing, "events.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The silver fact TickPipeline must produce from `ticks` (all ticks
    * ever published, history included): the final bar per (coin,
    * window), enriched the way the fact hop specifies.
    */
  def expectedFact(spark: SparkSession, seed: Long, coins: Int,
      ticks: DataFrame): DataFrame = {
    import spark.implicits._
    val bars = ticks
      .groupBy(col("event_type"), window(col("ts"), "1 minute"))
      .agg(
        (sum(round(col("value") * 100).cast("long")) / 100.0 /
          count(lit(1))).as("average_1minute"),
        max_by(col("value"), col("ts")).as("price"))
    val dim = (0 until coins)
      .map(c => (coinName(c), (c + 1).toLong, (c + 1) * 1000.0))
      .toDF("event_type", "coin_id", "supply")
    val last = history(spark, seed, coins)
      .groupBy("event_type")
      .agg(max_by(col("value"), col("ts")).as("last_price"))
    val ws = col("window.start")
    bars.join(dim, "event_type").join(last, "event_type").select(
      col("coin_id"),
      (year(ws) * 10000 + month(ws) * 100 + dayofmonth(ws)).cast("long")
        .as("date_id"),
      (hour(ws) * 10000 + minute(ws) * 100 + second(ws)).cast("long")
        .as("time_id"),
      col("price"),
      (col("price") * col("supply")).as("market_cap"),
      ((col("price") - col("last_price")) / col("last_price") * 100.0)
        .as("change_percent_last_day"),
      col("average_1minute"),
      lit(CreatedAt).as("created_at"))
  }

  val factCols: Seq[String] = Seq("coin_id", "date_id", "time_id", "price",
    "market_cap", "change_percent_last_day", "average_1minute",
    "created_at")

  /** Gates on the fact table the pipeline wrote: it holds exactly one
    * row per (coin, window), those rows equal [[expectedFact]], and
    * graftpq reads the same rows as Spark's built-in reader (which is
    * what `Maintenance.readTable` uses for a table without a commit
    * log). The fact is small enough to compare row by row on the Spark
    * driver.
    */
  def factGates(ctx: Ctx, factDir: String, expected: DataFrame): Unit = {
    val cols = factCols.map(c =>
      if (c == "coin_id") col(c).cast("long").as(c) else col(c))
    def rows(df: DataFrame): Seq[String] =
      Reads.canon(df.select(cols: _*).collect().toSeq).sorted
    val got = rows(ctx.spark.read.parquet(factDir))
    val want = rows(expected)
    val keys = got.map(_.split('|').take(3).mkString("|")).distinct.size
    ctx.gate("fact_vs_batch_aggregation", got == want && keys == got.size,
      s"fact has ${got.size} rows over $keys (coin, window) keys; the " +
        s"batch aggregation has ${want.size}; first differences " +
        s"${got.diff(want).take(2)} / ${want.diff(got).take(2)}")
    val viaPq = rows(Reads.graftpq(ctx, factDir))
    ctx.gate("graftpq_vs_readTable", viaPq == got,
      s"graftpq ${viaPq.size} rows vs built-in ${got.size}; first " +
        s"differences ${viaPq.diff(got).take(2)} / ${got.diff(viaPq).take(2)}")
  }

  /** Names of landing files the bronze hop has taken into a batch, from
    * its file-source log.
    */
  def sourceLogFiles(workDir: String): Set[String] = {
    val d = new File(s"$workDir/_chk_bronze/sources/0")
    val rx = "\"path\":\"([^\"]+)\"".r
    Option(d.listFiles()).toSeq.flatten.filter(_.isFile)
      .filterNot(_.getName.startsWith("."))
      .flatMap { f =>
        val txt = try new String(Files.readAllBytes(f.toPath), "UTF-8")
          catch { case _: java.io.IOException => "" }
        rx.findAllMatchIn(txt).map(m =>
          m.group(1).substring(m.group(1).lastIndexOf('/') + 1))
      }.toSet
  }
}

/** Shared pieces of the two tick workloads: one streaming cycle (bronze
  * hop then fact hop, each an incremental `AvailableNow` run resuming
  * from its checkpoint), the per-trigger layer numbers, and the
  * post-run dashboard pass over the fact table the run produced.
  */
abstract class TickWorkload(ctx: Ctx) {
  val coins: Int = if (ctx.tiny) 20 else 100
  val hopS = ArrayBuffer.empty[Double] // every hop's wall: commit samples
  val cycleTraced = ArrayBuffer.empty[OpRec]
  val footerS = ArrayBuffer.empty[Double]
  var lastCfg: TickPipeline.Config = _
  var landing: File = _

  def cycle(kind: String, cls: String, cfg: TickPipeline.Config)
      : OpRec = {
    val traced = ctx.nextTraced(kind)
    val (rec, _) = ctx.op(kind, cls, traced) {
      hopS += ctx.timeS(ctx.tracer.span("streaming.bronze_hop", traced) {
        TickPipeline.runBronzeHop(ctx.spark, cfg)
      })._1
      hopS += ctx.timeS(ctx.tracer.span("streaming.fact_hop", traced) {
        TickPipeline.runFactHop(ctx.spark, cfg)
      })._1
    }
    if (traced) {
      cycleTraced += rec
      footerS += ctx.timeS(graft.Tables.footerSchema(ctx.spark,
        s"${cfg.sfDir}/events*.parquet"))._1
    }
    rec
  }

  /** Per-trigger durations from `StreamingQueryProgress`, per traced
    * cycle, for the bronze (foreachBatch sink) and fact (file sink) hop.
    */
  def streamingLayer(): Unit = {
    val progs = ctx.tracer.progress.asScala.toSeq.map { p =>
      (java.time.Instant.parse(p.timestamp).toEpochMilli, p)
    }
    val keys = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit")
    val perHop = mutable.Map.empty[String, ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit =
      perHop.getOrElseUpdate(k, ArrayBuffer.empty) += v
    val bronzeSpans = ctx.tracer.spansNamed("streaming.bronze_hop")
      .map(s => s.op -> (s.endNs - s.startNs) / 1e9).toMap
    val factSpans = ctx.tracer.spansNamed("streaming.fact_hop")
      .map(s => s.op -> (s.endNs - s.startNs) / 1e9).toMap
    cycleTraced.foreach { op =>
      val in = progs.filter { case (t, _) =>
        t >= op.startMs && t <= op.endMs }.map(_._2)
      val (bronze, fact) = in.partition(p =>
        !p.sink.description.startsWith("FileSink"))
      for ((hop, ps) <- Seq("bronze" -> bronze, "fact" -> fact)) {
        keys.foreach { k =>
          add(s"$hop.$k", ps.map(p => Option(p.durationMs.get(k))
            .map(_.doubleValue).getOrElse(0.0)).sum)
        }
      }
      def trig(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
          : Double = ps.map(p => Option(p.durationMs.get("triggerExecution"))
            .map(_.doubleValue).getOrElse(0.0)).sum / 1000.0
      val wall = bronzeSpans.getOrElse(op.id, 0.0) + factSpans.getOrElse(op.id, 0.0)
      add("start_stop", math.max(0.0, wall - trig(bronze) - trig(fact)))
      add("ticks", bronze.map(_.numInputRows.toDouble).sum)
      bronze.lastOption.flatMap(_.stateOperators.headOption)
        .foreach(s => add("state", s.numRowsTotal.toDouble))
    }
    def get(k: String): Seq[Double] = perHop.get(k).map(_.toSeq).getOrElse(Nil)
    ctx.put(Stats.p50("streaming.bronze_hop_s",
      ctx.tracer.spanSeconds("streaming.bronze_hop"), "s"))
    ctx.put(Stats.p50("streaming.fact_hop_s",
      ctx.tracer.spanSeconds("streaming.fact_hop"), "s"))
    for (hop <- Seq("bronze", "fact"); k <- keys)
      ctx.put(Stats.p50(s"streaming.$hop.trigger_ms.$k", get(s"$hop.$k"),
        "ms"))
    ctx.put(Stats.p50("streaming.start_stop_s", get("start_stop"), "s"))
    ctx.put(Stats.p50("streaming.ticks_per_cycle", get("ticks"), "count"))
    ctx.put(Stats.p50("streaming.state_rows", get("state"), "count"))
    ctx.put(Stats.p50("tables.footer_schema_s", footerS.toSeq, "s"))
  }

  /** Dashboard pass over the fact the run produced: 27 per-coin reads
    * (each per-coin shape nine times, in seeded order) through graftpq.
    * Whole-table scans of this table of ~1k small files take seconds
    * each, so a few of them would cost more than all of these, and a
    * median over a mix of the two kinds jumps from run to run. (Row
    * parity with the built-in reader is the whole-table
    * `graftpq_vs_readTable` gate.)
    */
  def postReads(factDir: String): Unit = {
    val dom = Domain((1 to coins).toIndexedSeq,
      IndexedSeq(20240129L, 20240130L))
    ctx.rng.shuffle(Seq.fill(9)(Reads.perCoin).flatten).foreach(shape =>
      Reads.timedRead(ctx, factDir, Reads.dashboard(shape, dom, ctx.rng)))
  }

  /** Set-up warm-up of the read path: one untimed graftpq dashboard. */
  def warmRead(factDir: String): Unit =
    Reads.dashboard("latest", Domain((1 to coins).toIndexedSeq,
      IndexedSeq(20240130L)), new scala.util.Random(ctx.seed))
      .build(Reads.graftpq(ctx, factDir)).collect()

  def tableLayer(cfg: TickPipeline.Config): Double = {
    val fact = new File(TickPipeline.factDir(cfg))
    val live = Files2.walk(fact).map(_._1).filter(Files2.isData).toSet
    ctx.put(Metric("maintenance.live_files", live.size, "count", 1, "once"))
    val logFiles = Files2.walk(
      new File(TickPipeline.bronzeDir(cfg), "_graft_log")).size
    ctx.put(Metric("maintenance.log_files", logFiles, "count", 1, "once"))
    if (ctx.trace) Layers.footers(ctx, fact, live.toSeq)
    Files2.bytesPerLiveByte(fact, live)
  }
}
