package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query execution profile: where does the wall go?
  *
  * For a fixed-overhead-dominated bench (sf0.1 is ~17 MB of parquet on
  * local[32]), the guide's stage-page empiricism (§1.1/§7.1) needs a
  * substitute because the bench runs with the UI off. This main runs the
  * named queries once warm, then once instrumented, and prints per query:
  * job count, stage count, task count, summed task time, summed executor
  * run/deserialize/GC time, shuffle bytes, and the gap between wall and
  * scheduled task work — i.e. how much of the wall is driver-side
  * (planning, job scheduling, commit protocol, trigger pacing) versus
  * actual task execution. Dev tool only: not part of the driver contract,
  * never run by Bench/Verify.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32
  *        runMain graft.Profile q1,q2,...
  */
object Profile {

  private final class Acc extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
    val runTimeMs = new java.util.concurrent.atomic.AtomicLong
    val gcTimeMs = new java.util.concurrent.atomic.AtomicLong
    val shufReadB = new java.util.concurrent.atomic.AtomicLong
    val shufWriteB = new java.util.concurrent.atomic.AtomicLong
    val jobWallMs = new java.util.concurrent.atomic.AtomicLong
    // per-callsite job aggregation: (count, total wall ms)
    val bySite =
      new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
    private val jobStart =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val site = Option(j.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .getOrElse("?")
      jobStart.put(j.jobId, (j.time, site))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(j.jobId)
      if (s != null) {
        val ms = j.time - s._1
        jobWallMs.addAndGet(ms)
        bySite.merge(s._2, (1, ms),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val i = t.taskInfo
      if (i != null) taskTimeMs.addAndGet(i.duration)
      val m = t.taskMetrics
      if (m != null) {
        runTimeMs.addAndGet(m.executorRunTime)
        gcTimeMs.addAndGet(m.jvmGCTime)
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    require(names.nonEmpty, "usage: runMain graft.Profile q1,q2,...")
    // the same session as the measured entry points
    val spark = graft.util.LocalIo.session()
    try SparkEntry.prewarm(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[profile] prewarm failed: $e")
    }
    println(f"${"query"}%-28s ${"wall_s"}%7s ${"jobs"}%5s ${"stg"}%5s " +
      f"${"tasks"}%6s ${"task_s"}%7s ${"run_s"}%7s ${"gc_s"}%6s " +
      f"${"jobw_s"}%7s ${"gap_s"}%7s ${"shR_kB"}%7s ${"shW_kB"}%7s")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // warm-up rep (codegen + fixtures), matching the bench's hygiene
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => () }
      val acc = new Acc
      spark.sparkContext.addSparkListener(acc)
      val t0 = System.nanoTime()
      val res = try { fn(spark, sfDir).count(); "" }
        catch { case e: Throwable => s" ERR ${e.getClass.getSimpleName}" }
      val wall = (System.nanoTime() - t0) / 1e9
      // drain listener-bus events before reading the counters (the bus
      // is private[spark]; a short settle sleep suffices for a dev tool)
      Thread.sleep(400)
      spark.sparkContext.removeSparkListener(acc)
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => () }
      // gap = wall minus the per-job scheduled spans (driver-side work
      // between jobs: planning, commit IO, trigger waits, collects)
      val gap = wall - acc.jobWallMs.get() / 1e3
      println(f"$name%-28s $wall%7.2f ${acc.jobs.get()}%5d " +
        f"${acc.stages.get()}%5d ${acc.tasks.get()}%6d " +
        f"${acc.taskTimeMs.get() / 1e3}%7.2f " +
        f"${acc.runTimeMs.get() / 1e3}%7.2f " +
        f"${acc.gcTimeMs.get() / 1e3}%6.2f " +
        f"${acc.jobWallMs.get() / 1e3}%7.2f $gap%7.2f " +
        f"${acc.shufReadB.get() / 1024}%7d " +
        f"${acc.shufWriteB.get() / 1024}%7d$res")
      import scala.jdk.CollectionConverters._
      acc.bySite.asScala.toSeq.sortBy(-_._2._2).take(10).foreach {
        case (site, (n, ms)) =>
          println(f"    site $site%-50s n=$n%3d wall=${ms / 1e3}%6.2fs")
      }
    }
    spark.stop()
  }
}
