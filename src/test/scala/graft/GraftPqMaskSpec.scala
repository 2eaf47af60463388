package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance
import graft.sources.GraftPqPartition

/** graftpq's reader decodes each planned row group with Spark's parquet
  * reader and keeps exactly the rows graft planned through one
  * group-relative position mask (page-index ranges minus deletion-vector
  * positions). On a table partitioned by `coin_id` that went through
  * merge, update, scoped compaction and a deletion-vector delete whose
  * positions fall in second and later row groups, graftpq must return
  * what the commit protocol's own reader returns — and reading a
  * partition whose ranges are rewritten by hand must return exactly the
  * rows at those positions of that group.
  */
class GraftPqMaskSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.select("id", "v", "coin_id").collect().toSeq.map(_.toSeq)
      .sortBy(_.head.asInstanceOf[Long])

  private def parts(df: DataFrame): Seq[GraftPqPartition] =
    GraftPqDirect.plan(df)._1.map(_.asInstanceOf[GraftPqPartition])

  private def rows(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(k => (k.toLong, k * 0.5, k % 3))
      .toDF("id", "v", "coin_id").repartition(1).sortWithinPartitions("id")
  }

  test("the position mask keeps exactly the planned rows through merge, " +
      "update, scoped compaction and deletion vectors, batch and stream") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-graftpq-mask").toString
    val dir = s"$work/t"
    val hc = spark.sparkContext.hadoopConfiguration
    // many small row groups per file, many small pages per chunk
    val conf = Seq("parquet.block.size" -> "8192",
      "parquet.page.size" -> "512",
      "parquet.page.size.row.check.min" -> "50")
    val prev = conf.map { case (k, _) => k -> hc.get(k) }
    conf.foreach { case (k, v) => hc.set(k, v) }
    try {
      Maintenance.commitAppend(spark, dir, rows(0, 9000),
        partitionBy = Seq("coin_id"))
      Maintenance.commitAppend(spark, dir, rows(9000, 18000))

      // the stream tails the append-only history through the same reader
      val q = spark.readStream.format("graftpq").load(dir)
        .writeStream.format("parquet").option("path", s"$work/out")
        .option("checkpointLocation", s"$work/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(sorted(spark.read.parquet(s"$work/out")) ==
        sorted(Maintenance.readTable(spark, dir)))

      import spark.implicits._
      Maintenance.mergeInto(spark, dir,
        ((100 until 200) ++ (18000 until 18100))
          .map(k => (k.toLong, -k * 0.5, k % 3)).toDF("id", "v", "coin_id"),
        "id")
      Maintenance.updateWhere(spark, dir,
        expr("coin_id = 1 AND id >= 9500 AND id < 9600"),
        Map("v" -> lit(-2.0)))
      assert(Maintenance.compactWhere(spark, dir, "id", 18000, 18100, 1) > 0)
      Maintenance.deleteWithVectors(spark, dir,
        expr("id % 5 = 2 AND id >= 12000"))
      assert(Maintenance.outstandingDvFiles(dir).nonEmpty)

      val all = spark.read.format("graftpq").load(dir)
      val filter = "id >= 15000 AND id < 15060"
      def agree(label: String): Unit = {
        assert(sorted(all) == sorted(Maintenance.readTable(spark, dir)),
          label)
        assert(sorted(all.filter(filter)) ==
          sorted(Maintenance.readTable(spark, dir).filter(filter)), label)
      }
      agree("vectors outstanding")

      // the filter prunes pages in the very groups the vectors hit
      val pruned = parts(all.filter(filter))
      assert(pruned.exists(p => p.rowStart > 0 && p.ranges.nonEmpty &&
        p.skip.nonEmpty), pruned.map(p =>
          (p.rowStart, p.ranges.toSeq, p.skip.length)).mkString("; "))

      // hand-set ranges on an unfiltered partition past the first group:
      // the reader returns exactly those positions of THAT group, minus
      // the vectors
      val (planned, factory) = GraftPqDirect.plan(all)
      val p = planned.map(_.asInstanceOf[GraftPqPartition])
        .find(p => p.rowStart > 0 && p.skip.nonEmpty)
        .getOrElse(fail("no later row group carries vector positions"))
      val a = math.max(0L, p.skip.head - 5)
      val b = math.min(p.rgRows, a + 40)
      val narrowed = p.copy(ranges = Array(a, b),
        skip = p.skip.filter(s => s >= a && s < b))
      val byPos = spark.read.parquet(p.path)
        .select(col("_metadata.row_index"), col("id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (a until b)
        .filterNot(narrowed.skip.contains)
        .map(k => byPos(p.rowStart + k))
      val idAt = all.schema.fieldIndex("id")
      val got = GraftPqDirect.rows(factory, narrowed).map(_.getLong(idAt))
      assert(narrowed.skip.nonEmpty && got == want,
        s"group at row ${p.rowStart}, ranges [$a, $b): $got vs $want")

      Maintenance.applyDeleteVectors(spark, dir)
      assert(Maintenance.outstandingDvFiles(dir).isEmpty)
      agree("vectors applied")
    } finally {
      prev.foreach {
        case (k, null) => hc.unset(k)
        case (k, v) => hc.set(k, v)
      }
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(work))
    }
  }
}
