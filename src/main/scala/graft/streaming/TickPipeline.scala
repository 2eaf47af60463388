package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Tables

/** The reference's flagship two-hop streaming path, Spark-first
  * (reference: images/spark/Code/streaming_pipeline.py:31-79 +
  * images/spark/Code/spark/etl.py:30-78):
  *
  *   hop 1 (Kafka → bronze): tick stream → 1-min event-time tumbling bars
  *   (watermark 1 min) → update-mode foreachBatch batch-append (K1, A1);
  *   hop 2 (bronze → fact): re-stream bronze → broadcast dim left-join +
  *   smart keys + derived measures → append sink partitioned by coin_id
  *   with checkpoint (K2, J1, P5-P7).
  *
  * Kafka and Delta sources are absent in this environment (SURVEY §7), so
  * both hops run on the file streaming source: the `events` table stands in
  * for the Kafka topic, and bronze is re-streamed from its parquet
  * directory — same IncrementalExecution machinery, same watermark/window/
  * state semantics.
  *
  * Determinism contract (SURVEY §5 + FIXTURES §3): `last()` → `max_by`;
  * the reference's wall-clock scalars — previous-day close captured at
  * startup (streaming_pipeline.py:35-39) and `created_at=current_timestamp`
  * (etl.py:61) — become explicit parameters (`prevDay`, `createdAt`); the
  * 1-minute average uses the exact integer-cents sum.
  *
  * Scale notes: the bars aggregation shuffles on (event_type, window) —
  * partial aggregation makes the map-side combine do most of the work; the
  * hop-2 join broadcasts the dimension so the fact stream never shuffles;
  * the fact sink partitions by coin_id for downstream partition pruning
  * (reference: etl.py:75, query.sql:4).
  */
object TickPipeline {

  /** @param prevDay   'yyyy-MM-dd' — "yesterday" for change_percent
    * @param createdAt fixed load-audit string (reference uses now())
    */
  final case class Config(
      sfDir: String,
      workDir: String,
      prevDay: String = "2024-01-29",
      createdAt: String = "2024-02-01 00:00:00")

  def freshWorkDir(): String = {
    val d = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft-stream-${UUID.randomUUID()}")
    d.mkdirs()
    d.getAbsolutePath
  }

  private val bronzeSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("window_start", TimestampType),
    StructField("average_1minute", DoubleType),
    StructField("price", DoubleType),
    StructField("n_ticks", LongType)))

  def bronzeDir(cfg: Config): String = s"${cfg.workDir}/bronze"
  def factDir(cfg: Config): String = s"${cfg.workDir}/fact"

  /** Hop 1: tick stream → 1-minute bars → bronze (reference: etl.py:30-48,
    * udf.py:52-71). Update mode re-emits a window whenever a micro-batch
    * touches it — the reference's "latest bar so far" semantics; the
    * batch-append sink keeps every emission (bronze holds bar versions).
    */
  def runBronzeHop(spark: SparkSession, cfg: Config): Unit =
    StateTuning.withStatePartitions(spark,
        StateTuning.globBytes(s"${cfg.sfDir}/events*.parquet")) {
    // footer-derived schema + canonical ts — one adapter for every
    // producer-side timestamp encoding (graft.Tables.eventsStream)
    val ticks = graft.Tables.eventsStream(spark, cfg.sfDir)

    val bars = ticks
      .withWatermark("ts", "1 minute")
      .groupBy(col("event_type"), window(col("ts"), "1 minute"))
      .agg(
        (sum(round(col("value") * 100).cast("long")) / 100.0 / count(lit(1)))
          .as("average_1minute"),
        max_by(col("value"), col("ts")).as("price"),
        count(lit(1)).as("n_ticks"))
      .select(col("event_type"), col("window.start").as("window_start"),
        col("average_1minute"), col("price"), col("n_ticks"))

    // every bronze append is an optimistic versioned commit: the table
    // gains a _graft_log version history, and maintenance (compact /
    // vacuum) can run concurrently with the stream without ever dropping
    // a mid-rewrite append — the engine's own flagship sink exercises the
    // same protocol it exposes. (The per-type concurrent sinks below stay
    // direct appends: their lock/stage siblings would sit inside the
    // partition-discovery root.)
    val writeBatch: (Dataset[Row], Long) => Unit = (df, _) =>
      graft.operators.Maintenance.commitAppend(spark, bronzeDir(cfg), df.toDF())

    val q = bars.writeStream
      .outputMode("update")
      .foreachBatch(writeBatch)
      .option("checkpointLocation", s"${cfg.workDir}/_chk_bronze")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Static prep for hop 2 (reference: streaming_pipeline.py:32-39): the
    * coin dimension plus the previous-day closing price per key, computed
    * batch-side once per hop — one aggregate over `events`, collected to
    * the driver — and returned as a local relation that the stream
    * broadcasts, so no micro-batch re-runs it. Types are numbered 1..n in
    * Spark's string order (nulls first, as `orderBy` sorts them) over
    * every distinct type; types without a previous-day tick, and the null
    * type, are then dropped, keeping their numbers unused.
    */
  def dimWithPrevClose(spark: SparkSession, cfg: Config): DataFrame = {
    val e = Tables.t(spark, cfg.sfDir, "events")
    val prevTs = when(to_date(col("ts")) === to_date(lit(cfg.prevDay)), col("ts"))
    // W1: last tick of prevDay per key (reference: udf.py:16-46); max_by
    // skips rows whose ordering is null, i.e. every other day's ticks
    val perType = e.groupBy(col("event_type"))
      .agg(max_by(col("value"), prevTs).as("last_price"),
        count(prevTs).as("n_prev"))
      .orderBy(col("event_type"))
      .collect()
    val rows = perType.zipWithIndex.collect {
      case (r, i) if !r.isNullAt(0) && r.getLong(2) > 0 =>
        Row(r.getString(0), i + 1L, (i + 1) * 1000.0, r.get(1))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("event_type", StringType),
      StructField("type_id", LongType, nullable = false),
      StructField("supply", DoubleType, nullable = false),
      StructField("last_price", e.schema("value").dataType))))
  }

  /** Hop 2: bronze stream → enriched fact (reference: etl.py:53-78). */
  def runFactHop(spark: SparkSession, cfg: Config): Unit =
    StateTuning.withStatePartitions(spark,
        StateTuning.dirBytes(bronzeDir(cfg))) {
    val dim = dimWithPrevClose(spark, cfg)
    val ws = col("window_start")
    val fact = spark.readStream
      .schema(bronzeSchema)
      .parquet(bronzeDir(cfg))
      .withWatermark("window_start", "2 minutes")
      .join(broadcast(dim), Seq("event_type"), "left")
      .select(
        col("type_id").as("coin_id"),
        (year(ws) * 10000 + month(ws) * 100 + dayofmonth(ws)).cast("long")
          .as("date_id"),
        (hour(ws) * 10000 + minute(ws) * 100 + second(ws)).cast("long")
          .as("time_id"),
        col("price"),
        (col("price") * col("supply")).as("market_cap"),
        ((col("price") - col("last_price")) / col("last_price") * 100.0)
          .as("change_percent_last_day"),
        col("average_1minute"),
        lit(cfg.createdAt).as("created_at"))

    val q = fact.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", factDir(cfg))
      .option("checkpointLocation", s"${cfg.workDir}/_chk_fact")
      .partitionBy("coin_id")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Per-type bronze subdirectory for concurrent writers. Concurrent Spark
    * write jobs into ONE directory share its `_temporary` staging dir, so
    * one job's commit can delete another's in-flight task files — each
    * concurrent stream must own its output dir. The `et=` naming doubles as
    * a partition dir: a plain read of `bronzeDir` discovers `et` as a
    * partition column and still sees the union.
    */
  def bronzeTypeDir(cfg: Config, eventType: String): String =
    s"${bronzeDir(cfg)}/et=$eventType"

  /** §2.9 concurrency: one bronze-hop streaming query per key, all started
    * before any is awaited — the reference's 4-concurrent-queries pattern
    * (reference: streaming_pipeline.py:54-60 daemon threads + FAIR pool,
    * AutomateTable.py:64-66). The scheduler pool property is set for every
    * query; with `spark.scheduler.mode=FAIR` at session build these pools
    * share the cluster fairly (the engine's sessions set it — asserted in
    * MaintenanceSpec). Each per-type stream appends to its own
    * [[bronzeTypeDir]] so concurrent commits never share `_temporary`.
    */
  def runConcurrentBronze(spark: SparkSession, cfg: Config,
      types: Seq[String]): Unit =
    StateTuning.withStatePartitions(spark,
        StateTuning.globBytes(s"${cfg.sfDir}/events*.parquet")) {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "streaming")
    val queries = types.map { et =>
      val sinkDir = bronzeTypeDir(cfg, et)
      val ticks = graft.Tables.eventsStream(spark, cfg.sfDir)
        .filter(col("event_type") === et)
      val bars = ticks
        .withWatermark("ts", "1 minute")
        .groupBy(col("event_type"), window(col("ts"), "1 minute"))
        .agg(
          (sum(round(col("value") * 100).cast("long")) / 100.0 / count(lit(1)))
            .as("average_1minute"),
          max_by(col("value"), col("ts")).as("price"),
          count(lit(1)).as("n_ticks"))
        .select(col("event_type"), col("window.start").as("window_start"),
          col("average_1minute"), col("price"), col("n_ticks"))
      val writeBatch: (Dataset[Row], Long) => Unit = (df, _) =>
        df.write.mode("append").parquet(sinkDir)
      bars.writeStream
        .outputMode("update")
        .foreachBatch(writeBatch)
        .option("checkpointLocation", s"${cfg.workDir}/_chk_bronze_$et")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    queries.foreach(_.awaitTermination())
  }

  /** Run both hops to completion and return the fact table read back from
    * its partitioned sink (partition-column type re-widened to long).
    */
  def runAll(spark: SparkSession, cfg: Config): DataFrame = {
    runBronzeHop(spark, cfg)
    runFactHop(spark, cfg)
    spark.read.parquet(factDir(cfg))
      .withColumn("coin_id", col("coin_id").cast("long"))
  }
}
