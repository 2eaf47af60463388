package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReaderFactory}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Runs a graftpq scan's readers on the calling thread: plan the
  * DataFrame, then read each planned partition through the scan's own
  * reader factory. No Spark job runs, so a reader's exception reaches
  * the caller as thrown and its allocations count on the caller's
  * thread.
  */
object GraftPqDirect {

  /** The planned partitions and reader factory of `df`'s scan. */
  def plan(df: DataFrame): (Seq[InputPartition], PartitionReaderFactory) = {
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val b = scans(df.queryExecution.executedPlan).headOption.getOrElse(
      throw new IllegalStateException("no BatchScanExec in the plan"))
    (b.inputPartitions, b.readerFactory)
  }

  /** Every row one partition's reader returns, copied. */
  def rows(factory: PartitionReaderFactory, p: InputPartition)
      : Vector[InternalRow] = {
    val r = factory.createReader(p)
    try {
      val out = Vector.newBuilder[InternalRow]
      while (r.next()) out += r.get().copy()
      out.result()
    } finally r.close()
  }

  /** How many rows the whole scan of `df` returns. */
  def count(df: DataFrame): Int = {
    val (parts, factory) = plan(df)
    parts.map(rows(factory, _).length).sum
  }
}
