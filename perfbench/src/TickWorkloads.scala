package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.streaming.TickPipeline

/** What a workload's measured phase produced, for the end-to-end
  * metrics shared by all workloads.
  */
final case class Outcome(latency: Seq[Double], throughput: Seq[Double],
    commits: Seq[Double], opsPerS: Double, tableRatio: Double)

trait Workload {
  def setup(): Unit
  def measure(deadlineMs: Long): Unit
  def finish(): Outcome
}

/** `tick_stream`: an open loop. A generator thread publishes one tick
  * file per second, on a fixed schedule, by renaming a pre-generated
  * file into the landing table; the main loop runs a cycle (bronze hop
  * then fact hop) whenever a published file is waiting. A file's latency
  * runs from when it was due to the end of the cycle that took it. The
  * file due at t holds the ticks produced during (t - 1 s, t], evenly
  * spaced, and a tick's latency runs from its production time: the
  * per-tick median varies smoothly with cycle timing, where a median over
  * a few files jumps between the cycles' delivery instants.
  */
final class TickStream(ctx: Ctx) extends TickWorkload(ctx) with Workload {
  private val spark = ctx.spark
  val ticksPerCoinMinute = 3
  val limitS = 6.0
  var staged: IndexedSeq[File] = _
  val lat = ArrayBuffer.empty[Double] // per delivered file
  var ticksDelivered = 0L
  var cycleWallS = 0.0
  var cycles = 0
  var lagMaxS = 0.0
  def ticksPerFile: Long = coins.toLong * ticksPerCoinMinute

  def prepare(rep: Int): Unit = {
    val root = new File(ctx.work, s"stream$rep")
    Files2.deleteRecursively(root)
    landing = new File(root, "landing")
    TickGen.writeHistory(spark, ctx.seed, coins, landing, new File(root, "tmp"))
    val n = ctx.seconds + 1 // file 0 is the warm-up file
    staged = TickGen.writeFiles(spark,
      TickGen.ticks(spark, ctx.seed, coins, 0, n, ticksPerCoinMinute, n), 0, 1,
      new File(root, "tmp"), new File(root, "staging"), "events", 0)
    lastCfg = TickPipeline.Config(landing.getPath,
      new File(root, "pipe").getPath)
    publish(staged(0))
    TickPipeline.runBronzeHop(spark, lastCfg)
    TickPipeline.runFactHop(spark, lastCfg)
    warmRead(TickPipeline.factDir(lastCfg))
  }

  private def publish(f: File): Unit =
    Files.move(f.toPath, new File(landing, f.getName).toPath,
      StandardCopyOption.ATOMIC_MOVE)

  def setup(): Unit = {
    for (rep <- 0 until 3) ctx.setupRep(prepare(rep))
    for (rep <- 0 until 2)
      Files2.deleteRecursively(new File(ctx.work, s"stream$rep"))
  }

  def measure(deadlineMs: Long): Unit = {
    val files = staged.drop(1)
    val t0 = System.currentTimeMillis() + 50
    val due = files.zipWithIndex.map { case (f, i) =>
      f.getName -> (t0 + i * 1000L) }.toMap
    val published = new ConcurrentHashMap[String, java.lang.Long]()
    val gen = new Thread(() => {
      files.foreach { f =>
        val wait = due(f.getName) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(f)
        published.put(f.getName, System.currentTimeMillis())
      }
    }, "tick-generator")
    gen.setDaemon(true)
    gen.start()
    var delivered = TickGen.sourceLogFiles(lastCfg.workDir)
    val hardStop = t0 + files.size * 1000L + 60000L
    while (lat.size < files.size && System.currentTimeMillis() < hardStop) {
      if (published.keySet.asScala.forall(delivered.contains)) Thread.sleep(5)
      else {
        val rec = cycle("cycle", "cycle", lastCfg)
        // a failed cycle delivers nothing; the next one retries its files
        if (rec.ok) {
          val now = TickGen.sourceLogFiles(lastCfg.workDir)
          val fresh = (now -- delivered).filter(due.contains)
          fresh.foreach(f => lat += (rec.endMs - due(f)) / 1000.0)
          ticksDelivered += fresh.size * ticksPerFile
          cycleWallS += rec.wallS
          cycles += 1
          delivered = delivered ++ now
        }
      }
    }
    gen.join(5000)
    lagMaxS = files.flatMap(f => Option(published.get(f.getName))
      .map(p => (p - due(f.getName)) / 1000.0)).foldLeft(0.0)(math.max)
    ctx.gate("every_published_file_delivered", lat.size == files.size,
      s"${lat.size} of ${files.size} tick files reached the fact table")
  }

  def finish(): Outcome = {
    val factDir = TickPipeline.factDir(lastCfg)
    postReads(factDir)
    val n = staged.size
    val all = TickGen.ticks(spark, ctx.seed, coins, 0, n, ticksPerCoinMinute)
    val published = if (ctx.plant == "tick_file")
      all.filter(col("minute") =!= 1L) else all
    TickGen.factGates(ctx, factDir, TickGen.expectedFact(spark, ctx.seed,
      coins, published.unionByName(TickGen.history(spark, ctx.seed, coins))
        .select("event_type", "ts", "value")))
    val perTick = lat.toSeq.flatMap { l =>
      (0 until ticksPerFile.toInt).map(j => l + 1.0 - (j + 0.5) / ticksPerFile)
    }
    // an undelivered file's ticks count as missing the limit
    val inLimit = perTick.count(_ <= limitS).toDouble /
      math.max(1L, (n - 1) * ticksPerFile)
    ctx.put(Metric("streaming.ticks_in_limit_frac", inLimit, "frac",
      perTick.size, "share"))
    ctx.put(Metric("gen.lag_max_s", lagMaxS, "s", lat.size, "max"))
    val ratio = tableLayer(lastCfg)
    if (ctx.trace) {
      streamingLayer()
      Layers.codecs(ctx, spark.read.parquet(factDir))
    }
    // one ratio of sums: per-cycle ratios swing with how many files a
    // cycle happened to find waiting
    Outcome(perTick,
      Seq(ticksDelivered / math.max(1e-9, cycleWallS)), hopS.toSeq,
      cycles / math.max(1e-9, cycleWallS), ratio)
  }
}

/** `tick_backlog`: a closed loop run as a batch. A backlog of ticks has
  * landed at once; each op is one bronze hop plus one fact hop from fresh
  * checkpoints that drains all of it. Ops repeat until the run's time is
  * up (at least two).
  */
final class TickBacklog(ctx: Ctx) extends TickWorkload(ctx) with Workload {
  private val spark = ctx.spark
  val ticksPerCoinMinute = 30
  val minutes: Long = if (ctx.tiny) 16L else 1000L
  val files = 8
  def minutesPerFile: Int = (minutes / files).toInt
  def ticks: Long = coins * ticksPerCoinMinute * minutes
  val drainS = ArrayBuffer.empty[Double]
  var root: File = _
  var drains = 0

  def prepare(rep: Int): Unit = {
    root = new File(ctx.work, s"backlog$rep")
    Files2.deleteRecursively(root)
    landing = new File(root, "landing")
    TickGen.writeHistory(spark, ctx.seed, coins, landing, new File(root, "tmp"))
    val backlog = TickGen.writeFiles(spark,
      TickGen.ticks(spark, ctx.seed, coins, 0, minutes, ticksPerCoinMinute,
        files), 0, minutesPerFile, new File(root, "tmp"), landing, "events", 0)
    // warm-up: drain the history plus the first backlog file
    val warm = new File(root, "warm")
    warm.mkdirs()
    Seq(new File(landing, "events.parquet"), backlog.head).foreach(f =>
      Files.copy(f.toPath, new File(warm, f.getName).toPath))
    val cfg = TickPipeline.Config(warm.getPath,
      new File(root, "warm_pipe").getPath)
    TickPipeline.runBronzeHop(spark, cfg)
    TickPipeline.runFactHop(spark, cfg)
    warmRead(TickPipeline.factDir(cfg))
  }

  def setup(): Unit = {
    for (rep <- 0 until 3) ctx.setupRep(prepare(rep))
    for (rep <- 0 until 2)
      Files2.deleteRecursively(new File(ctx.work, s"backlog$rep"))
  }

  def measure(deadlineMs: Long): Unit =
    while (drains < 2 || System.currentTimeMillis() < deadlineMs) {
      val pipe = new File(root, s"pipe$drains")
      val cfg = TickPipeline.Config(landing.getPath, pipe.getPath)
      val rec = cycle("drain", "drain", cfg)
      if (rec.ok) drainS += rec.wallS
      if (lastCfg != null) Files2.deleteRecursively(new File(lastCfg.workDir))
      lastCfg = cfg
      drains += 1
    }

  def finish(): Outcome = {
    val factDir = TickPipeline.factDir(lastCfg)
    postReads(factDir)
    val all = TickGen.ticks(spark, ctx.seed, coins, 0, minutes,
      ticksPerCoinMinute)
    val published = if (ctx.plant == "tick_file")
      all.filter(col("minute") >= minutesPerFile.toLong) else all
    TickGen.factGates(ctx, factDir, TickGen.expectedFact(spark, ctx.seed,
      coins, published.unionByName(TickGen.history(spark, ctx.seed, coins))
        .select("event_type", "ts", "value")))
    val ratio = tableLayer(lastCfg)
    ctx.put(Metric("streaming.ticks_in_limit_frac",
      if (drainS.forall(_ <= 6.0)) 1.0 else 0.0, "frac", drainS.size, "share"))
    if (ctx.trace) {
      streamingLayer()
      Layers.codecs(ctx, spark.read.parquet(factDir))
    }
    Outcome(drainS.toSeq, drainS.map(ticks / _).toSeq, hopS.toSeq,
      drainS.size / math.max(1e-9, drainS.sum), ratio)
  }
}

/** `lakehouse_serving` as a [[Workload]]. */
final class ServingWorkload(ctx: Ctx) extends Workload {
  val s = new Serving(ctx)
  def setup(): Unit = s.setup()
  def measure(deadlineMs: Long): Unit = s.measure(deadlineMs)
  def finish(): Outcome = {
    s.gates()
    val live = s.liveFiles
    ctx.put(Metric("maintenance.live_files", live.size, "count", 1, "once"))
    ctx.put(Metric("maintenance.log_files",
      Files2.walk(new File(s.path, "_graft_log")).size, "count", 1, "once"))
    val ratio = Files2.bytesPerLiveByte(new File(s.path), live)
    if (ctx.trace) {
      s.layer()
      Layers.footers(ctx, new File(s.path), live.toSeq)
      Layers.codecs(ctx, Reads.graftpq(ctx, s.path))
    }
    // appends are the `tick_to_fact_*` samples; the rest are `commit_*`
    val commits = ctx.ops.filter(o => o.cls == "commit" && o.ok &&
      o.kind != "append").map(_.wallS)
    val done = ctx.ops.filter(_.ok)
    Outcome(s.appendS.toSeq,
      Seq(s.appendRows.sum / math.max(1e-9, s.appendS.sum)),
      commits.toSeq, done.size / math.max(1e-9, done.map(_.wallS).sum), ratio)
  }
}
