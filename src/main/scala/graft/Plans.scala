package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for named queries to files — the
  * plan-evidence companion of [[Profile]] (guide §7.2: read the plan).
  * For fixture-building queries the returned DataFrame is often a
  * materialized checkpoint (the interesting work happened in commit ops
  * and micro-batches during construction); the dump still records the
  * final shape plus, for context, the number of Spark jobs the
  * construction fired. Dev tool only: not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32
  *        runMain graft.Plans <outDir> q1,q2,...
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val Array(outDir, namesCsv) = args
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "plan")
    val spark = graft.util.LocalIo.session()
    try SparkEntry.prewarm(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[plans] prewarm failed: $e")
    }
    new java.io.File(outDir).mkdirs()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    for (name <- names) {
      val j0 = jobs.get()
      val df = SparkEntry.queries(name)(spark, sfDir)
      Thread.sleep(200) // let the listener drain
      val built = jobs.get() - j0
      val txt = df.queryExecution.explainString(FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        s"== $name (construction fired $built Spark jobs; final plan " +
          s"below) ==\n$txt")
      println(s"[plans] $name: $built jobs, plan written")
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
