package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.queries.{Analytics, Relational, StreamingQueries}
import graft.streaming.TickPipeline

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfSmoke}

  test("mapGroupsWithState survives multi-batch replay (maxFilesPerTrigger=1)") {
    // split events over >=3 files so maxFilesPerTrigger=1 forces >=3
    // micro-batches — each user's profile is emitted several times and the
    // read-back dedup must keep only the final state. Building the fixture
    // via Tables.t writes canonical-TIMESTAMP files, so this also exercises
    // the pass-through branch of the encoding adapter.
    val fixture = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-mgs-multi-${java.util.UUID.randomUUID()}").getAbsolutePath
    Tables.t(spark, sfSmoke, "events")
      .repartition(3).write.parquet(fixture)
    assert(new java.io.File(fixture).listFiles()
      .count(_.getName.endsWith(".parquet")) >= 3)
    val out = Analytics.mapGroupsProfiles(spark, fixture,
      s"$fixture/part-*.parquet", maxFilesPerTrigger = Some(1)).cache()
    val expected = spark.read.parquet(fixture)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("e_n"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("e_total"),
        min(unix_timestamp(col("ts"))).as("e_first"),
        max(unix_timestamp(col("ts"))).as("e_last"))
    assert(out.count() == expected.count(), "must emit exactly one row per user")
    val j = out.join(expected, Seq("user_id"), "full")
    assert(j.filter(col("n_events").isNull || col("e_n").isNull).count() == 0)
    assert(j.filter(col("n_events") =!= col("e_n")
      || col("total_value") =!= col("e_total")
      || col("first_sec") =!= col("e_first")
      || col("last_sec") =!= col("e_last")).count() == 0,
      "final state must equal the batch aggregate")
    out.unpersist()
  }

  test("processing-time timeout evicts idle groups with their final state") {
    val rows = Analytics.queries("st_timeout_evict")(spark, sfSmoke).collect()
    val ev = Tables.t(spark, sfSmoke, "events")
    val mm = ev.agg(min(col("user_id")), max(col("user_id"))).first()
    val split = Math.floorDiv(mm.getLong(0) + mm.getLong(1), 2L)
    assert(rows.exists(_.getAs[Boolean]("expired")),
      "the idle low half must actually evict through the timeout path")
    assert(rows.exists(!_.getAs[Boolean]("expired")),
      "the active high half must never evict")
    // eviction is exactly the idle set: every low user expired, no high user
    rows.foreach { r =>
      assert(r.getAs[Boolean]("expired") == (r.getLong(0) < split),
        s"wrong eviction flag for ${r.getLong(0)} (split $split)")
    }
    // evicted rows carry the COMPLETE final profile, not a partial one
    assert(rows.map(_.getAs[Long]("n_events")).sum == ev.count(),
      "profiles (evicted + live) must cover every event exactly once")
  }

  test("transformWithState TTL: state past the TTL reads absent and the " +
      "profile restarts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val work = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-ttlspec-${java.util.UUID.randomUUID()}").getAbsolutePath
      val in = s"$work/in"
      new java.io.File(in).mkdirs()
      def drop(rows: Seq[(Long, Long, Long)]): Unit =
        rows.toDF("user_id", "sec", "cents").coalesce(1)
          .write.mode("append").parquet(in)
      drop(Seq((7L, 10L, 100L), (7L, 11L, 100L), (7L, 12L, 100L)))
      val events = spark.readStream
        .schema("user_id long, sec long, cents long")
        .parquet(in).as[(Long, Long, Long)]
      val profiles = events.groupByKey(_._1)
        .transformWithState(new graft.streaming.TtlProfileProcessor(800L),
          TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF("user_id", "n_events", "total_value", "first_sec", "last_sec")
      val q = profiles.writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          df.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"$work/out")
        }
        .option("checkpointLocation", s"$work/_chk")
        .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
      def latestN(): Option[Long] =
        try {
          spark.read.schema("user_id long, n_events long, " +
              "total_value double, first_sec long, last_sec long, " +
              "batch_id long")
            .parquet(s"$work/out")
            .filter(col("user_id") === 7L)
            .orderBy(col("batch_id").desc).limit(1).collect()
            .headOption.map(_.getLong(1))
        } catch {
          case _: org.apache.spark.sql.AnalysisException => None
        }
      def waitFor(cond: => Boolean, ms: Long): Boolean = {
        val dl = System.currentTimeMillis() + ms
        while (!cond && System.currentTimeMillis() < dl) Thread.sleep(50)
        cond
      }
      assert(waitFor(latestN().contains(3L), 60000),
        s"batch 1 must accumulate 3 events, got ${latestN()}")
      Thread.sleep(2500) // processing time passes the 800 ms TTL
      drop(Seq((7L, 20L, 100L), (7L, 21L, 100L)))
      // expired state reads absent → the profile RESTARTS at 2, not 5
      assert(waitFor(latestN().contains(2L), 60000),
        s"post-TTL profile must restart, got ${latestN()}")
      q.stop(); q.awaitTermination()
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(work))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streamChanges: batch-feed parity, then incremental pickup of a " +
      "new version through the same checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val M = graft.operators.Maintenance
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-cdfstream-${java.util.UUID.randomUUID()}").getAbsolutePath
    val table = s"$work/t"
    M.commitAppend(spark, table,
      spark.range(0L, 40L).select(col("id"), (col("id") * 10).as("v"))) // v1
    M.deleteRange(spark, table, "id", 0.0, 9.0) // v2
    M.mergeInto(spark, table,
      Seq((10L, 999L), (100L, 1000L)).toDF("id", "v"), "id") // v3
    def drain(): Unit = {
      val q = M.streamChanges(spark, table).writeStream
        .format("parquet").option("path", s"$work/out")
        .option("checkpointLocation", s"$work/_chk")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("v"), col("_change_type"),
          col("_change_version"))
        .as[(Long, Long, String, Long)].collect().toSet
    val streamed = key(spark.read.parquet(s"$work/out"))
    val batch = key(M.readChangesBetween(spark, table, 1, 3))
    assert(streamed == batch && streamed.nonEmpty,
      s"stream/batch CDC mismatch: ${streamed.diff(batch)} / ${batch.diff(streamed)}")
    // a NEW version committed after the first drain: the checkpointed
    // source picks up exactly its rows, nothing replayed
    M.mergeInto(spark, table, Seq((11L, 777L)).toDF("id", "v"), "id") // v4
    drain()
    val after = key(spark.read.parquet(s"$work/out"))
    assert(after == batch ++ key(M.readChangesBetween(spark, table, 3, 4)))
  }

  test("stream-batch parity: streamed bronze bars == batch tumbling agg") {
    val streamed = StreamingQueries.queries("k1_stream_bronze_bars")(spark, sfSmoke)
      .select(col("event_type"), col("window_start"),
        col("average_1minute"), col("price"), col("n_ticks"))
    val batch = Relational.queries("a1_minute_bars")(spark, sfSmoke)
      .select(col("event_type"), col("window_start"),
        col("average_1minute").as("b_avg"), col("close").as("b_price"),
        col("n_ticks").as("b_n"))
    val j = streamed.join(batch, Seq("event_type", "window_start"), "full")
    assert(j.filter(col("price").isNull || col("b_price").isNull).count() == 0,
      "window sets differ between stream and batch")
    assert(j.filter(col("price") =!= col("b_price") ||
      col("average_1minute") =!= col("b_avg") ||
      col("n_ticks") =!= col("b_n")).count() == 0,
      "bar values differ between stream and batch")
  }

  test("fact sink is partitioned by coin_id and complete") {
    val cfg = TickPipeline.Config(sfSmoke, TickPipeline.freshWorkDir())
    val fact = TickPipeline.runAll(spark, cfg)
    // one fact row per bronze bar (all 5 types have a prev-day close)
    val bronzeRows = spark.read.parquet(TickPipeline.bronzeDir(cfg)).count()
    assert(fact.count() == bronzeRows)
    // bronze appends went through the optimistic commit protocol: one
    // version per micro-batch commit
    assert(graft.operators.Maintenance.readVersion(
      TickPipeline.bronzeDir(cfg)) >= 1L)
    // physical layout: coin_id=N partition dirs exist
    val dirs = new java.io.File(TickPipeline.factDir(cfg))
      .listFiles().filter(_.isDirectory).map(_.getName).filter(_.startsWith("coin_id="))
    assert(dirs.length == 5, s"expected 5 coin_id partitions, got ${dirs.toSeq}")
    // derived keys are consistent
    assert(fact.filter(col("date_id") < 20240101L || col("date_id") > 20240131L)
      .count() == 0)
  }

  /** Spark jobs started while `body` runs. A marker job after `body`
    * drains the listener bus before the count is read.
    */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == marker)) seen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** A landing dir holding the smoke events as `n` files
    * `events_NN.parquet`, the shape the bronze hop's glob matches.
    */
  private def landedEvents(n: Int): String = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-landing-${java.util.UUID.randomUUID()}")
    val tmp = new java.io.File(root, "_tmp")
    Tables.t(spark, sfSmoke, "events").repartition(n)
      .write.parquet(tmp.getPath)
    val parts = tmp.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(parts.length == n)
    parts.zipWithIndex.foreach { case (f, i) =>
      assert(f.renameTo(new java.io.File(root, f"events_$i%02d.parquet")))
    }
    graft.util.Fs.deleteRecursively(tmp)
    root.getPath
  }

  test("the bronze hop's fixed cost does not grow with the landed file " +
      "count: footer schemas run no Spark job") {
    val (few, many) = (landedEvents(3), landedEvents(12))
    try {
      def hopJobs(sf: String): Int = {
        val cfg = TickPipeline.Config(sf, TickPipeline.freshWorkDir())
        try jobsIn(TickPipeline.runBronzeHop(spark, cfg))
        finally graft.util.Fs.deleteRecursively(new java.io.File(cfg.workDir))
      }
      val (at3, at12) = (hopJobs(few), hopJobs(many))
      assert(at3 == at12,
        s"bronze hop ran $at3 jobs at 3 landed files but $at12 at 12")
      assert(jobsIn(Tables.footerSchema(spark, s"$many/events*.parquet")) == 0,
        "footerSchema must read the footers on the driver")
    } finally Seq(few, many).foreach(d =>
      graft.util.Fs.deleteRecursively(new java.io.File(d)))
  }

  test("dimWithPrevClose numbers every type, then drops the ones without " +
      "a previous-day close, as the distinct/Window/inner-join plan did") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-dim-${java.util.UUID.randomUUID()}")
    // "a": no prevDay tick; null type; "c": latest prevDay value is null;
    // "Z" sorts first and "é" last by UTF-8 bytes
    Seq[(String, String, java.lang.Double)](
      ("a", "2024-01-30 00:00:00", 1.0),
      (null, "2024-01-29 10:00:00", 2.0),
      ("b", "2024-01-29 10:00:00", 3.0),
      ("b", "2024-01-29 23:59:59", 4.0),
      ("b", "2024-01-30 00:00:00", 5.0),
      ("c", "2024-01-29 09:00:00", 6.0),
      ("c", "2024-01-29 12:00:00", null),
      ("é", "2024-01-29 08:00:00", 7.0),
      ("Z", "2024-01-29 08:00:00", 8.0))
      .toDF("event_type", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp")).coalesce(1)
      .write.parquet(s"$dir/events.parquet")
    try {
      val cfg = TickPipeline.Config(dir.getPath, dir.getPath)
      val e = Tables.t(spark, cfg.sfDir, "events")
      val reference = e.select(col("event_type")).distinct()
        .withColumn("type_id",
          row_number().over(Window.orderBy(col("event_type"))).cast("long"))
        .withColumn("supply", col("type_id") * lit(1000.0))
        .join(e.filter(to_date(col("ts")) === to_date(lit(cfg.prevDay)))
          .groupBy(col("event_type"))
          .agg(max_by(col("value"), col("ts")).as("last_price")),
          Seq("event_type"), "inner")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("event_type", "type_id", "supply", "last_price")
          .collect().map(_.toSeq).toSeq.sortBy(_(1).asInstanceOf[Long])
      val got = TickPipeline.dimWithPrevClose(spark, cfg)
      assert(rows(got) == rows(reference), s"${rows(got)} vs ${rows(reference)}")
      assert(rows(got).map(_(0)) == Seq("Z", "b", "c", "é"))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("pipeline is rerun-safe: fresh work dir gives identical results") {
    val a = StreamingQueries.queries("k2_stream_fact")(spark, sfSmoke).collect()
    val b = StreamingQueries.queries("k2_stream_fact")(spark, sfSmoke).collect()
    assert(a.sameElements(b))
  }

  // ---- incremental dedup on ingest -------------------------------------

  test("incremental dedup equals batch exact dedup over the same corpus") {
    val streamed = graft.queries.DedupOps
      .queries("st_incremental_dedup")(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = Tables.t(spark, sfSmoke, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id_kept"))
      .collect().map(r => (r.getLong(1), r.getString(0)))
    assert(streamed.toSet == expected.toSet)
    assert(streamed.length == expected.length, "index must hold no dups")
  }

  test("incremental dedup: replay is idempotent, restart picks up new files") {
    import spark.implicits._
    import graft.queries.DedupOps
    import graft.operators.Maintenance
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-ingest-spec-${java.util.UUID.randomUUID()}").getAbsolutePath
    val curated = s"$work/curated"
    def spoolFile(rows: Seq[(Long, String)], name: String, mtime: Long): Unit =
      graft.streaming.EventTimeOrderedSpool.spoolSingleFile(
        rows.toDF("doc_id", "text"), s"$work/spool/$name", mtime)
    val base = (System.currentTimeMillis() / 1000) * 1000
    // batch 1: one dup inside the batch; batch 2: one dup ACROSS batches
    spoolFile(Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta")),
      "aa-0.parquet", base)
    spoolFile(Seq((4L, "beta"), (5L, "gamma")), "bb-1.parquet", base + 2000)
    DedupOps.incrementalDedupRun(spark, s"$work/spool", curated,
      s"$work/_chk")
    def kept(): Set[(Long, String)] =
      Maintenance.readTable(spark, curated)
        .select(col("doc_id_kept"), col("text_hash")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val after2 = kept()
    assert(after2.map(_._1) == Set(1L, 3L, 5L),
      s"in-batch and cross-batch dups must keep min ids: $after2")
    // crash-replay safety: re-drive the WHOLE spool with a fresh
    // checkpoint against the finished table — the anti-join must find
    // nothing novel and leave the table byte-identical
    DedupOps.incrementalDedupRun(spark, s"$work/spool", curated,
      s"$work/_chk_replay")
    assert(kept() == after2, "full replay must not duplicate the index")
    // restart with the ORIGINAL checkpoint after new data arrives:
    // exactly the new file is processed
    spoolFile(Seq((6L, "gamma"), (7L, "delta")), "cc-2.parquet", base + 4000)
    DedupOps.incrementalDedupRun(spark, s"$work/spool", curated,
      s"$work/_chk")
    assert(kept().map(_._1) == Set(1L, 3L, 5L, 7L),
      "restart must add only the novel doc from the new file")
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(work))
  }

  test("incremental NEAR-dup: in-batch CC, cross-batch index probe, " +
      "replay idempotent") {
    import spark.implicits._
    import graft.queries.DedupOps
    import graft.operators.Maintenance
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-neardup-spec-${java.util.UUID.randomUUID()}").getAbsolutePath
    def spoolFile(rows: Seq[(Long, String)], name: String, mtime: Long): Unit =
      graft.streaming.EventTimeOrderedSpool.spoolSingleFile(
        rows.toDF("doc_id", "text"), s"$work/spool/$name", mtime)
    val base = (System.currentTimeMillis() / 1000) * 1000
    // ten-word docs: d1/d2 differ by the last word (jaccard 7/9 < 0.9 on
    // 3-gram shingles? 8 shingles each, 7 shared → 7/9 ≈ 0.78 — make the
    // near-dups IDENTICAL except a tail word on a LONGER doc instead)
    val baseText = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " zz"
    val unrelated = (100 to 140).map(i => s"u$i").mkString(" ")
    val unrelated2 = (200 to 240).map(i => s"v$i").mkString(" ")
    // batch 1: 10 and 11 are near-dups of each other (in-batch pair)
    spoolFile(Seq((10L, baseText), (11L, nearDup), (12L, unrelated)),
      "aa-0.parquet", base)
    // batch 2: 20 is a near-dup of KEPT doc 10 (cross-batch, via the
    // band index); 21 is novel
    spoolFile(Seq((20L, baseText), (21L, unrelated2)),
      "bb-1.parquet", base + 2000)
    DedupOps.incrementalNearDupRun(spark, s"$work/spool",
      s"$work/curated", s"$work/bands", s"$work/_chk")
    def kept(): Set[Long] =
      Maintenance.readTable(spark, s"$work/curated")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept() == Set(10L, 12L, 21L),
      s"in-batch CC keeps 10, index probe drops 20: ${kept()}")
    // the band index holds exactly the kept docs
    val idxIds = Maintenance.readTable(spark, s"$work/bands")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(idxIds == Set(10L, 12L, 21L), s"band index ids: $idxIds")
    // full replay against the finished table finds nothing novel
    DedupOps.incrementalNearDupRun(spark, s"$work/spool",
      s"$work/curated", s"$work/bands", s"$work/_chk_replay")
    assert(kept() == Set(10L, 12L, 21L), "replay must be idempotent")
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(work))
  }

  test("incremental IVF: frozen bootstrap quantizer, online assignment, " +
      "replay + restart exactly-once") {
    import spark.implicits._
    import graft.operators.Maintenance
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-incivf-spec-${java.util.UUID.randomUUID()}").getAbsolutePath
    def spoolFile(rows: Seq[(Long, Seq[Double])], name: String,
        mtime: Long): Unit =
      graft.streaming.EventTimeOrderedSpool.spoolSingleFile(
        rows.toDF("vec_id", "v"), s"$work/spool/$name", mtime)
    val base = (System.currentTimeMillis() / 1000) * 1000
    // two well-separated directions; the bootstrap holds 2 of each so the
    // k = sqrt(4) = 2 frozen centroids land one per cluster
    def a(eps: Double) = Seq(1.0, eps, 0.0, 0.0)
    def b(eps: Double) = Seq(eps, 1.0, 0.0, 0.0)
    spoolFile(Seq((1L, a(0.01)), (2L, a(0.02)), (3L, b(0.01)),
      (4L, b(0.02))), "aa-0.parquet", base)
    spoolFile(Seq((10L, a(0.03)), (11L, b(0.03))), "bb-1.parquet",
      base + 2000)
    val (cents, index, chk) = (s"$work/cents", s"$work/index", s"$work/_chk")
    graft.queries.SimilarityOps.incrementalIvfRun(spark, s"$work/spool",
      cents, index, chk, bootstrapMax = 5L)
    def cellOf(): Map[Long, Long] =
      Maintenance.readTable(spark, index).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after2 = cellOf()
    assert(after2.keySet == Set(1L, 2L, 3L, 4L, 10L, 11L),
      s"every spooled vector must be indexed: $after2")
    assert(after2(10L) == after2(1L) && after2(11L) == after2(3L),
      s"online rows must join their bootstrap cluster's cell: $after2")
    assert(after2(1L) != after2(3L), s"two clusters, two cells: $after2")
    val frozen = Maintenance.readTable(spark, cents)
      .collect().map(_.getLong(0)).toSet
    // replay the whole spool with a fresh checkpoint: the id anti-join
    // finds nothing novel and the quantizer is not retrained
    graft.queries.SimilarityOps.incrementalIvfRun(spark, s"$work/spool",
      cents, index, s"$work/_chk_replay", bootstrapMax = 5L)
    assert(cellOf() == after2, "full replay must not duplicate the index")
    // restart with the ORIGINAL checkpoint after new data arrives: only
    // the new file is assigned, against the SAME frozen centroids
    spoolFile(Seq((20L, a(0.04))), "cc-2.parquet", base + 4000)
    graft.queries.SimilarityOps.incrementalIvfRun(spark, s"$work/spool",
      cents, index, chk, bootstrapMax = 5L)
    val after3 = cellOf()
    assert(after3.keySet == after2.keySet + 20L &&
      after3(20L) == after2(1L),
      s"restart must add only the new vector, in cluster A's cell: $after3")
    assert(Maintenance.readTable(spark, cents)
      .collect().map(_.getLong(0)).toSet == frozen,
      "the bootstrap quantizer must stay frozen across restarts")
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(work))
  }
  test("streaming funnel equals the batch funnel under 1-file triggers") {
    val streamed = graft.queries.Analytics
      .queries("st_funnel_stream")(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val batch = graft.queries.Relational
      .queries("an_funnel")(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(streamed.sameElements(batch),
      s"streamed ${streamed.toSeq} != batch ${batch.toSeq}")
  }
}
