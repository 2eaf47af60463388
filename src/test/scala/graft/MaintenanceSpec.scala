package graft

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Maintenance
import graft.streaming.TickPipeline

class MaintenanceSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfSmoke}

  private def freshTable(): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-maint-${UUID.randomUUID()}/t").getAbsolutePath
    Tables.t(spark, sfSmoke, "events")
      .repartition(8)
      .write.parquet(p)
    p
  }

  test("compact reduces file count without changing data") {
    val p = freshTable()
    val before = spark.read.parquet(p)
    val sumBefore = before.agg(sum("event_id")).first().getLong(0)
    val n = before.count()
    assert(Maintenance.parquetFileCount(p) > 2)
    Maintenance.compact(spark, p, targetFiles = 2)
    assert(Maintenance.parquetFileCount(p) <= 2)
    val after = spark.read.parquet(p)
    assert(after.count() == n)
    assert(after.agg(sum("event_id")).first().getLong(0) == sumBefore)
  }

  test("cluster range-partitions by key, preserving data") {
    val p = freshTable()
    val n = spark.read.parquet(p).count()
    Maintenance.cluster(spark, p, Seq("event_type"), targetFiles = 4)
    val after = spark.read.parquet(p)
    assert(after.count() == n)
    // each output file should hold a narrow range of the cluster key:
    // count (file, event_type) combos — clustered layout has ~1 type/file
    val combos = after
      .withColumn("f", input_file_name())
      .select("f", "event_type").distinct().count()
    assert(combos <= 8, s"clustered files span too many keys: $combos")
  }

  test("zorder: per-file locality on BOTH dimensions, data preserved") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-z-${UUID.randomUUID()}/t").getAbsolutePath
    // two independent uniform dimensions — the case where a lexicographic
    // sort gives the secondary column zero locality
    spark.range(0, 4096).toDF("id")
      .withColumn("a", col("id") % 64)
      .withColumn("b", (col("id") / 64).cast("long"))
      .repartition(8).write.parquet(p)
    val sumBefore = spark.read.parquet(p).agg(sum("id")).first().getLong(0)
    Maintenance.zorder(spark, p, "a", "b", targetFiles = 16)
    val after = spark.read.parquet(p)
    assert(after.count() == 4096)
    assert(after.agg(sum("id")).first().getLong(0) == sumBefore)
    // per-file spread: every file must cover well under the full range on
    // BOTH dims (16 files = 4 z-bits = 2 bit-splits per dimension → each
    // file spans ~1/4 of each dim; assert ≤ 1/2 with slack for boundaries)
    val files = Maintenance.parquetFileCount(p)
    assert(files > 4, s"expected a multi-file layout, got $files")
    val spreads = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val d = spark.read.parquet(f.getAbsolutePath)
          .agg(min("a"), max("a"), min("b"), max("b")).first()
        (d.getLong(1) - d.getLong(0), d.getLong(3) - d.getLong(2))
      }
    val avgA = spreads.map(_._1).sum.toDouble / spreads.length
    val avgB = spreads.map(_._2).sum.toDouble / spreads.length
    assert(avgA <= 32.0, s"dim a has no z-locality: avg spread $avgA of 63")
    assert(avgB <= 32.0, s"dim b has no z-locality: avg spread $avgB of 63")
  }

  test("commit manifest records deterministic latency stats") {
    val p = freshTable()
    val bars = Tables.t(spark, sfSmoke, "events")
      .select(date_trunc("minute", col("ts")).as("ws"))
    Maintenance.recordCommit(p, "2024-02-01 00:00:30", bars, "ws")
    Maintenance.recordCommit(p, "2024-02-01 00:01:30", bars, "ws")
    val stats = Maintenance.commitStats(spark, p).orderBy("commit_ts").collect()
    assert(stats.length == 2)
    assert(stats(1).getAs[Long]("latency_sec")
      == stats(0).getAs[Long]("latency_sec") + 60)
    assert(stats(0).getAs[Long]("latency_sec") > 0)
  }

  test("maintenance cadence: compaction fires on the Nth commit only") {
    val p = freshTable()
    val bars = Tables.t(spark, sfSmoke, "events")
      .select(date_trunc("minute", col("ts")).as("ws"))
    val before = Maintenance.parquetFileCount(p)
    assert(before > 2)
    Maintenance.recordCommit(p, "2024-02-01 00:00:30", bars, "ws")
    assert(!Maintenance.maybeCompact(spark, p, everyN = 2, targetFiles = 2),
      "one commit, cadence 2 — must not compact")
    assert(Maintenance.parquetFileCount(p) == before)
    Maintenance.recordCommit(p, "2024-02-01 00:01:30", bars, "ws")
    assert(Maintenance.maybeCompact(spark, p, everyN = 2, targetFiles = 2))
    assert(Maintenance.parquetFileCount(p) <= 2)
    // the commit history must survive the compaction's directory swap
    val stats = Maintenance.commitStats(spark, p)
    assert(stats.count() == 2, "manifest must be carried over the rewrite")
    // and the rewrite registered its output as live
    assert(new java.io.File(Maintenance.liveFilesPath(p)).exists())
  }

  test("fixture fingerprints differ across dirs and are call-stable") {
    val a = Tables.fingerprint(sfSmoke, "events")
    val b = Tables.fingerprint("/root/testdata/sf0.01", "events")
    assert(a != b, "different source dirs must never share a fixture key")
    assert(a == Tables.fingerprint(sfSmoke, "events"), "must be stable")
    assert(a.matches("[0-9a-f]{16}"))
  }

  test("vacuum deletes only expired orphans, never live or recent files") {
    val p = freshTable()
    Maintenance.recordLiveFiles(p)
    val n = spark.read.parquet(p).count()
    // two orphaned task files in a leftover _temporary staging tree (the
    // real shape of a crashed writer): one past retention, one recent
    val staging = new java.io.File(p, "_temporary/0")
    staging.mkdirs()
    val oldOrphan = new java.io.File(staging, "task-orphan-old.parquet")
    val newOrphan = new java.io.File(staging, "task-orphan-new.parquet")
    java.nio.file.Files.writeString(oldOrphan.toPath, "junk")
    java.nio.file.Files.writeString(newOrphan.toPath, "junk")
    val cutoff = 1700000000000L // injected retention cutoff, no wall clock
    assert(oldOrphan.setLastModified(cutoff - 86400000L))
    assert(newOrphan.setLastModified(cutoff + 86400000L))
    // live files are older than the cutoff too — must still survive
    Option(new java.io.File(p).listFiles()).get
      .filter(_.getName.endsWith(".parquet"))
      .filterNot(f => f == oldOrphan || f == newOrphan)
      .foreach(f => assert(f.setLastModified(cutoff - 86400000L)))
    // a crashed rewrite's staging tree lives OUTSIDE the table root
    val staleSibling = new java.io.File(p + "__compact_tmp/part-0.parquet")
    staleSibling.getParentFile.mkdirs()
    java.nio.file.Files.writeString(staleSibling.toPath, "junk")
    assert(staleSibling.setLastModified(cutoff - 86400000L))
    val deleted = Maintenance.vacuum(p, cutoff)
    assert(deleted == 2,
      s"expected the expired orphan + stale sibling, got $deleted")
    assert(!oldOrphan.exists())
    assert(!staleSibling.exists())
    assert(!new java.io.File(p + "__compact_tmp").exists(),
      "emptied staging sibling dir should be pruned")
    assert(newOrphan.exists())
    assert(spark.read.parquet(p).count() == n, "live data must be intact")
    // files committed AFTER the registry snapshot are never orphans, even
    // past the retention cutoff
    val appended = new java.io.File(p, "part-appended.parquet")
    java.nio.file.Files.writeString(appended.toPath, "junk")
    val reg = new java.io.File(Maintenance.liveFilesPath(p))
    assert(appended.setLastModified(reg.lastModified() + 60000L))
    // an unbounded cutoff reclaims the remaining pre-registry orphan but
    // must still keep the post-registry append
    assert(Maintenance.vacuum(p, java.lang.Long.MAX_VALUE) == 1)
    assert(!newOrphan.exists())
    assert(appended.exists(), "post-registry appends must survive vacuum")
    // a table without a live-file registry refuses to vacuum
    val bare = freshTable()
    assert(Maintenance.vacuum(bare, cutoff) == -1)
    assert(Maintenance.parquetFileCount(bare) > 0)
  }

  test("optimistic commit: a racing appender never loses rows to compact") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-occ-${UUID.randomUUID()}/t").getAbsolutePath
    spark.range(0, 1000).toDF("id").write.parquet(p)
    val nAppends = 20
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val appender = new Thread(() => {
      try {
        for (i <- 0 until nAppends) {
          Maintenance.commitAppend(spark, p,
            spark.range(1000L + i * 10, 1000L + i * 10 + 10).toDF("id"))
        }
      } catch { case t: Throwable => err.set(t) }
    })
    appender.start()
    var compacts = 0
    while (appender.isAlive) {
      Maintenance.compact(spark, p, targetFiles = 2)
      compacts += 1
    }
    appender.join()
    assert(err.get() == null, s"appender failed: ${err.get()}")
    // quiesced final compact for a deterministic layout
    Maintenance.compact(spark, p, targetFiles = 2)
    val ids = spark.read.parquet(p).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.length == 1000 + nAppends * 10,
      s"rows lost under the race: ${ids.length} (compacts=$compacts)")
    assert(ids.toSet == (0L until (1000L + nAppends * 10)).toSet)
    // every append and every surviving rewrite advanced the version
    assert(Maintenance.readVersion(p) >= nAppends + 1)
    assert(compacts >= 1, "the race must actually have raced")
    assert(Maintenance.parquetFileCount(p) <= 2)
  }

  test("OCC stress: two hot appenders racing a rewriter lose nothing " +
      "and the retry loop is actually exercised") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-occ2-${UUID.randomUUID()}/t").getAbsolutePath
    spark.range(0, 500).toDF("id").write.parquet(p)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val counts = Array.fill(2)(
      new java.util.concurrent.atomic.AtomicInteger(0))
    val conflicts0 = Maintenance.rewriteConflicts.get()
    // disjoint id bases so lost rows are attributable to a writer
    val bases = Array(10000L, 100000L)
    val appenders = Array.tabulate(2) { a =>
      new Thread(() => {
        try {
          var i = 0
          // adaptive length: run until the main loop has SEEN an OCC
          // conflict (and a floor of 12 appends), hard cap 60 — the
          // race is overwhelmingly probable per rewrite attempt (the
          // conflict window spans the whole compaction job), the cap
          // only bounds a pathological scheduler
          while (!stop.get() && i < 60) {
            Maintenance.commitAppend(spark, p,
              spark.range(bases(a) + i * 10L, bases(a) + i * 10L + 10)
                .toDF("id"))
            counts(a).incrementAndGet()
            i += 1
          }
        } catch { case t: Throwable => err.set(t) }
      })
    }
    appenders.foreach(_.start())
    var compacts = 0
    while (appenders.exists(_.isAlive)) {
      Maintenance.compact(spark, p, targetFiles = 2)
      compacts += 1
      if (Maintenance.rewriteConflicts.get() > conflicts0 &&
          counts.forall(_.get() >= 12))
        stop.set(true)
    }
    appenders.foreach(_.join())
    assert(err.get() == null, s"appender failed: ${err.get()}")
    val conflicts = Maintenance.rewriteConflicts.get() - conflicts0
    assert(conflicts > 0,
      s"the stress race never hit the OCC conflict path " +
        s"($compacts rewrites vs ${counts.map(_.get()).sum} appends)")
    // quiesced final compact for a deterministic layout
    Maintenance.compact(spark, p, targetFiles = 2)
    val want = (0L until 500L).toSet ++
      (0 until 2).flatMap(a => (0 until counts(a).get()).flatMap(i =>
        bases(a) + i * 10L until bases(a) + i * 10L + 10)).toSet
    val ids = spark.read.parquet(p).select("id").collect()
      .map(_.getLong(0))
    assert(ids.length == want.size,
      s"rows lost under the 3-writer race: ${ids.length} of " +
        s"${want.size} (compacts=$compacts conflicts=$conflicts)")
    assert(ids.toSet == want)
    // every surviving commit advanced the version exactly once
    assert(Maintenance.readVersion(p) >= counts.map(_.get()).sum + 1)
    assert(Maintenance.parquetFileCount(p) <= 2)
  }

  test("vacuum never reclaims a committed append, even with a stale mtime") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-occ-vac-${UUID.randomUUID()}/t").getAbsolutePath
    spark.range(0, 100).toDF("id").write.parquet(p)
    Maintenance.recordLiveFiles(p)
    Maintenance.commitAppend(spark, p, spark.range(100, 110).toDF("id"))
    // adversarial: force the appended files to LOOK older than the
    // registry snapshot (the shape of an appender that queued on the
    // lock behind a rewrite) — registration must protect them anyway
    val reg = new java.io.File(Maintenance.liveFilesPath(p))
    new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("append_"))
      .foreach(f => assert(f.setLastModified(reg.lastModified() - 120000L)))
    assert(Maintenance.vacuum(p, java.lang.Long.MAX_VALUE) == 0,
      "a committed append must never be vacuum-eligible")
    assert(spark.read.parquet(p).count() == 110)
  }

  test("a stale commit lock from a crashed holder is broken, not fatal") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-occ-lock-${UUID.randomUUID()}/t").getAbsolutePath
    new java.io.File(p).mkdirs()
    val lock = new java.io.File(p + "__graft_lock")
    java.nio.file.Files.writeString(lock.toPath, "")
    assert(lock.setLastModified(System.currentTimeMillis() - 3600000L))
    // an hour-old lock is a crashed holder: acquisition must break it
    // within the 5 s budget instead of timing out
    val got = Maintenance.withCommitLock(p, timeoutMs = 5000L) { 42 }
    assert(got == 42)
    assert(!lock.exists(), "lock must be released after the body")
  }

  test("commitAppend bootstraps a fresh table (no pre-existing directory)") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-occ-new-${UUID.randomUUID()}/t").getAbsolutePath
    assert(!new java.io.File(p).exists())
    val v1 = Maintenance.commitAppend(spark, p, spark.range(0, 5).toDF("id"))
    val v2 = Maintenance.commitAppend(spark, p, spark.range(5, 9).toDF("id"))
    assert(v1 == 1L && v2 == 2L)
    assert(spark.read.parquet(p).count() == 9)
    assert(Maintenance.readVersion(p) == 2L)
  }

  test("maybeCompact is idempotent per commit count") {
    val p = freshTable()
    val bars = Tables.t(spark, sfSmoke, "events")
      .select(date_trunc("minute", col("ts")).as("ws"))
    Maintenance.recordCommit(p, "2024-02-01 00:00:30", bars, "ws")
    Maintenance.recordCommit(p, "2024-02-01 00:01:30", bars, "ws")
    assert(Maintenance.maybeCompact(spark, p, everyN = 2, targetFiles = 2))
    // a retried/double call after the SAME commit must be a no-op
    assert(!Maintenance.maybeCompact(spark, p, everyN = 2, targetFiles = 2),
      "second call at the same commit count must not re-compact")
  }

  test("time travel: each append version reads back exactly its history") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-tt-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p, spark.range(0, 5).toDF("id"))
    Maintenance.commitAppend(spark, p, spark.range(5, 9).toDF("id"))
    Maintenance.commitAppend(spark, p, spark.range(9, 10).toDF("id"))
    assert(Maintenance.readAsOf(spark, p, 1).count() == 5)
    assert(Maintenance.readAsOf(spark, p, 2).count() == 9)
    assert(Maintenance.readAsOf(spark, p, 3).count() == 10)
    // v2 is the exact row set of the first two commits, not just the count
    assert(Maintenance.readAsOf(spark, p, 2)
      .agg(sum("id")).first().getLong(0) == (0 until 9).sum)
    intercept[IllegalStateException] {
      Maintenance.readAsOf(spark, p, 7) // never committed
    }
  }

  test("time travel: a bootstrapped table snapshots its pre-protocol state") {
    val p = freshTable() // written without the protocol
    val n0 = spark.read.parquet(p).count()
    Maintenance.commitAppend(spark, p,
      Tables.t(spark, sfSmoke, "events").limit(7))
    // v1's snapshot = bootstrap files + first protocol commit
    assert(Maintenance.readAsOf(spark, p, 1).count() == n0 + 7)
  }

  test("time travel: a rewrite reclaims pre-rewrite history, loudly") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-tt-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p, spark.range(0, 5).toDF("id"))
    Maintenance.commitAppend(spark, p, spark.range(5, 9).toDF("id"))
    Maintenance.compact(spark, p, targetFiles = 1)
    val v = Maintenance.readVersion(p)
    // the post-rewrite version is readable and complete…
    assert(Maintenance.readAsOf(spark, p, v).count() == 9)
    // …and the pre-rewrite version fails with the reclaimed-files error
    val e = intercept[IllegalStateException] {
      Maintenance.readAsOf(spark, p, 1)
    }
    assert(e.getMessage.contains("reclaimed"))
  }

  test("streamTable: committed appends stream incrementally across restarts") {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stream-${UUID.randomUUID()}").getAbsolutePath
    val p = s"$root/t"
    Maintenance.commitAppend(spark, p, spark.range(0, 5).toDF("id"))
    def runOnce(): Unit = {
      val q = Maintenance.streamTable(spark, p).writeStream
        .format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(s"$root/out").count() == 5)
    Maintenance.commitAppend(spark, p, spark.range(5, 9).toDF("id"))
    runOnce() // restart from the checkpoint: only the new commit processes
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == 9, "second run must append exactly the new batch")
    assert(out.agg(sum("id")).first().getLong(0) == (0 until 9).sum)
    // an uncommitted plain-parquet dir has no tracked schema → loud error
    intercept[IllegalStateException] {
      Maintenance.streamTable(spark, s"$root/not-a-table")
    }
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(root))
  }

  test("cdf: the change feed returns exactly the rows each version added") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-cdf-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p, spark.range(0, 5).toDF("id"))
    Maintenance.commitAppend(spark, p, spark.range(5, 9).toDF("id"))
    Maintenance.commitAppend(spark, p, spark.range(9, 10).toDF("id"))
    val feed = Maintenance.readChangesBetween(spark, p, 1, 3)
    assert(feed.count() == 5) // batches 2+3 only
    assert(feed.filter(col("_change_version") === 2).count() == 4)
    assert(feed.filter(col("_change_version") === 3).count() == 1)
    assert(feed.filter(col("_change_type") =!= "insert").count() == 0)
    assert(feed.agg(sum("id")).first().getLong(0) == (5 until 10).sum)
    // empty slice: no rows, schema still carries the change columns
    val empty = Maintenance.readChangesBetween(spark, p, 3, 3)
    assert(empty.count() == 0)
    assert(empty.columns.contains("_change_version"))
    // a future version is an error, not an empty feed
    intercept[IllegalStateException] {
      Maintenance.readChangesBetween(spark, p, 1, 7)
    }
  }

  test("cdf: a rewrite contributes no row changes; reclaimed deltas fail") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-cdf-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p, spark.range(0, 5).toDF("id"))
    Maintenance.compact(spark, p, targetFiles = 1) // v2, dataChange=false
    Maintenance.commitAppend(spark, p, spark.range(5, 9).toDF("id")) // v3
    // feed over (2, 3]: just the post-rewrite append
    assert(Maintenance.readChangesBetween(spark, p, 2, 3).count() == 4)
    // feed spanning the rewrite: the rewrite version is skipped, but v1's
    // files were reclaimed by it — the feed must fail loudly, not return
    // an incomplete set
    val e = intercept[IllegalStateException] {
      Maintenance.readChangesBetween(spark, p, 0, 3)
    }
    assert(e.getMessage.contains("reclaimed"))
  }

  test("schema evolution: additive append merges; reads see nulls for history") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-se-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p, spark.range(0, 3).toDF("id"))
    Maintenance.commitAppend(spark, p,
      spark.range(3, 5).toDF("id").withColumn("tag", lit("new")))
    val all = Maintenance.readTable(spark, p)
    assert(all.columns.toSeq == Seq("id", "tag"))
    assert(all.count() == 5)
    assert(all.filter(col("tag").isNull).count() == 3,
      "pre-evolution rows must surface the new column as null")
    assert(all.filter(col("tag") === "new").count() == 2)
  }

  test("schema enforcement: a type-conflicting append is rejected untouched") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-se-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p, spark.range(0, 3).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      Maintenance.commitAppend(spark, p,
        spark.range(0, 2).select(col("id").cast("string").as("id")))
    }
    assert(e.getMessage.contains("schema evolution rejected"))
    // the failed append left no rows and no version bump behind
    assert(Maintenance.readTable(spark, p).count() == 3)
    assert(Maintenance.readVersion(p) == 1L)
  }

  test("schema evolution survives compaction (rewrite carries full schema)") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-se-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p, spark.range(0, 3).toDF("id"))
    Maintenance.commitAppend(spark, p,
      spark.range(3, 5).toDF("id").withColumn("tag", lit("new")))
    Maintenance.compact(spark, p, targetFiles = 1)
    val all = Maintenance.readTable(spark, p)
    assert(all.columns.toSeq == Seq("id", "tag"))
    assert(all.count() == 5)
    assert(all.filter(col("tag") === "new").count() == 2)
  }

  test("concurrent per-key bronze streams equal the single-stream result") {
    // concurrent queries must run under the FAIR scheduler (reference:
    // AutomateTable.py:64-66 + fairscheduler.xml) — a session-build conf
    assert(spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO")
      == "FAIR", "engine sessions must set spark.scheduler.mode=FAIR")
    val types = Seq("click", "purchase")
    val cfgC = TickPipeline.Config(sfSmoke, TickPipeline.freshWorkDir())
    TickPipeline.runConcurrentBronze(spark, cfgC, types)
    // each concurrent writer owns a disjoint sink dir (no shared _temporary)
    val typeDirs = types.map(et =>
      new java.io.File(TickPipeline.bronzeTypeDir(cfgC, et)))
    assert(typeDirs.forall(_.isDirectory), s"missing per-type dirs: $typeDirs")
    assert(typeDirs.map(_.getAbsolutePath).distinct.size == types.size)
    typeDirs.zip(types).foreach { case (d, et) =>
      val only = spark.read.parquet(d.getAbsolutePath)
      assert(only.filter(col("event_type") =!= et).count() == 0,
        s"dir $d leaked other event types")
    }
    // union across the partitioned layout == the single-stream result
    val concurrent = spark.read.parquet(TickPipeline.bronzeDir(cfgC)).drop("et")
    val cfgS = TickPipeline.Config(sfSmoke, TickPipeline.freshWorkDir())
    TickPipeline.runBronzeHop(spark, cfgS)
    val single = spark.read.parquet(TickPipeline.bronzeDir(cfgS))
      .filter(col("event_type").isin(types: _*))
    assert(concurrent.count() == single.count())
    assert(concurrent.except(single).count() == 0)
    assert(single.except(concurrent).count() == 0)
    // parity alone would also pass for two identically-wrong pipelines
    // (r8's ts drift did exactly that) — anchor the concurrent output to
    // the BATCH closed form: final bar per (type, window) must equal the
    // batch aggregation over the same events
    val expected = Tables.t(spark, sfSmoke, "events")
      .filter(col("event_type").isin(types: _*))
      .groupBy(col("event_type"), window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("e_n"))
      .select(col("event_type"), col("window.start").as("window_start"),
        col("e_n"))
    val finalBars = concurrent
      .groupBy(col("event_type"), col("window_start"))
      .agg(max(col("n_ticks")).as("n_ticks"))
    val j = finalBars.join(expected, Seq("event_type", "window_start"), "full")
    assert(j.filter(col("n_ticks").isNull || col("e_n").isNull ||
      col("n_ticks") =!= col("e_n")).count() == 0,
      "concurrent bronze bars must match the batch closed form")
  }

  test("restore rewinds to a recorded version; history keeps moving") {
    import spark.implicits._
    import graft.operators.Maintenance
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-restore-${UUID.randomUUID()}/t").getAbsolutePath
    (0 until 3).foreach { i =>
      Maintenance.commitAppend(spark, work,
        (i * 10 until (i + 1) * 10).map(k => (k.toLong, s"b$i"))
          .toDF("k", "batch").coalesce(1))
    }
    def ks(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("k").collect().map(_.getLong(0)).toSet
    // rewind to v2: batches 0+1 only; the restore commits v4
    val v = Maintenance.restoreTo(spark, work, 2L)
    assert(v == 4L)
    assert(ks(Maintenance.readTable(spark, work)) == (0L until 20L).toSet)
    // stats followed the restore: only the two restored files remain
    assert(Maintenance.skippingPlan(work, "k", 0.0, 1e9)._2 == 2)
    // the de-restored version is reclaimed, loudly
    val e = intercept[IllegalStateException] {
      Maintenance.readAsOf(spark, work, 3L).count()
    }
    assert(e.getMessage.contains("v3") || e.getMessage.contains("3"))
    // v4 time-travels to the restored state; appends continue the chain
    assert(ks(Maintenance.readAsOf(spark, work, 4L)) == (0L until 20L).toSet)
    Maintenance.commitAppend(spark, work,
      Seq((100L, "b9")).toDF("k", "batch"))
    assert(ks(Maintenance.readTable(spark, work)) ==
      (0L until 20L).toSet + 100L)
    // a version reclaimed by a rewrite cannot be restored
    Maintenance.compact(spark, work, targetFiles = 1)
    val e2 = intercept[IllegalStateException] {
      Maintenance.restoreTo(spark, work, 2L)
    }
    assert(e2.getMessage.contains("reclaimed"))
  }

  // ---- per-file stats + data skipping -----------------------------------

  test("data skipping: disjoint appends prune; stat-less files never skip") {
    import spark.implicits._
    import graft.operators.Maintenance
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-skip-${UUID.randomUUID()}/t").getAbsolutePath
    // four range-disjoint single-file appends: k in [0,100), [100,200)...
    (0 until 4).foreach { i =>
      Maintenance.commitAppend(spark, work,
        (i * 100 until (i + 1) * 100).map(k => (k.toLong, s"v$k"))
          .toDF("k", "s").coalesce(1))
    }
    val (kept, total) = Maintenance.skippingPlan(work, "k", 150.0, 249.0)
    assert(total == 4, s"expected 4 committed files, saw $total")
    assert(kept.size == 2, s"[150,249] spans exactly files 2 and 3: $kept")
    val rows = Maintenance.scanPruned(spark, work, "k", 150.0, 249.0)
      .filter(col("k") >= 150L && col("k") <= 249L)
    assert(rows.count() == 100)
    // equality with the unpruned read, not just the count
    assert(rows.select("k", "s").except(
      Maintenance.readTable(spark, work)
        .filter(col("k") >= 150L && col("k") <= 249L)
        .select("k", "s")).count() == 0)
    // an empty range prunes everything and still returns the schema
    val none = Maintenance.scanPruned(spark, work, "k", 1e6, 2e6)
    assert(none.count() == 0 && none.columns.toSet == Set("k", "s"))
    // a file without RECORDED stats (pre-feature bootstrap) now falls
    // back to its own parquet footer through the from-scratch tail
    // reader (r14 bridge) — the stripped file's [0,100) range still
    // prunes against [150,249], so the plan stays at 2 files
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(Maintenance.fileStatsPath(work)),
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        Maintenance.fileStatsPath(work)))
        .linesIterator.filterNot(_.startsWith("append_v000001"))
        .mkString("", "\n", "\n"))
    val (kept2, _) = Maintenance.skippingPlan(work, "k", 150.0, 249.0)
    assert(kept2.size == 2,
      "the stats-stripped file must prune from its own footer")
    // on a column with no trustable stats ANYWHERE (string: no numeric
    // footer bounds either) every file is kept — the conservative floor
    val (keptStr, totalStr) = Maintenance.skippingPlan(work, "s", 0, 1)
    assert(totalStr == 4 && keptStr.size == 4,
      "a stat-less column must never prune")
  }

  test("data skipping: a zorder rewrite records stats that prune both dims") {
    import spark.implicits._
    import graft.operators.Maintenance
    val work = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-skip-z-${UUID.randomUUID()}/t").getAbsolutePath
    // one unsorted commit: a/b interleaved so pre-rewrite files are
    // unprunable on either column
    val n = 4096
    val rows = (0 until n).map { i =>
      ((i * 2654435761L) % 1024, (i * 40503L) % 1024, i.toLong)
    }
    Maintenance.commitAppend(spark, work,
      rows.toDF("a", "b", "payload").repartition(8))
    Maintenance.zorder(spark, work, "a", "b", targetFiles = 8)
    def keptFrac(c: String): Double = {
      val (kept, total) = Maintenance.skippingPlan(work, c, 0.0, 127.0)
      kept.size.toDouble / total
    }
    // a 1/8th range on EITHER dimension must skip at least one file after
    // the morton rewrite (lexicographic clustering would only prune `a`)
    assert(keptFrac("a") < 1.0, "zorder stats must prune on a")
    assert(keptFrac("b") < 1.0, "zorder stats must prune on b")
    // values stay exact through rewrite + pruned read
    val got = Maintenance.scanPruned(spark, work, "a", 0.0, 127.0)
      .filter(col("a") <= 127L).agg(sum(col("payload"))).first().getLong(0)
    val want = rows.filter(_._1 <= 127L).map(_._3).sum
    assert(got == want)
  }

  // ----- deleteRange: targeted DELETE + CDC + quarantine history -----

  /** Four range-disjoint single-file appends: v1..v4 own ids
    * [0,10) [10,20) [20,30) [30,40).
    */
  private def deleteFixture4(): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-delspec-${UUID.randomUUID()}/t").getAbsolutePath
    (0 until 4).foreach { i =>
      Maintenance.commitAppend(spark, p,
        spark.range(i * 10L, (i + 1) * 10L).toDF("id").coalesce(1))
    }
    p
  }

  test("delete: stats-pruned rewrite touches only files holding matches") {
    val p = deleteFixture4()
    val res = Maintenance.deleteRange(spark, p, "id", 15.0, 24.0)
    assert(res.rowsDeleted == 10)
    assert(res.filesRewritten == 2 && res.filesTotal == 4,
      s"blast radius: $res")
    assert(res.version == 5)
    val left = Maintenance.readTable(spark, p)
    assert(left.count() == 30)
    assert(left.filter(col("id").between(15, 24)).count() == 0)
    val names = Option(new java.io.File(p).listFiles()).get
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq
    // untouched files keep their v1/v4 names; v2/v3 replaced by delete files
    assert(names.count(_.startsWith("append_v000001")) == 1)
    assert(names.count(_.startsWith("append_v000004")) == 1)
    assert(!names.exists(_.startsWith("append_v000002")))
    assert(names.exists(_.startsWith("delete_v000005")))
    // stats follow the live set: dead names dropped, replacements recorded
    val stats = Maintenance.readFileStats(p)
    assert(!stats.keys.exists(_._1.startsWith("append_v000002")))
    assert(stats.keys.exists(_._1.startsWith("delete_v000005")))
  }

  test("delete: null keys never match and always survive the rewrite") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-delspec-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p,
      spark.range(0L, 10L).toDF("n")
        .select(when(col("n") < 3, lit(null)).otherwise(col("n")).as("id"))
        .coalesce(1))
    val res = Maintenance.deleteRange(spark, p, "id", 0.0, 100.0)
    assert(res.rowsDeleted == 7)
    val left = Maintenance.readTable(spark, p)
    assert(left.count() == 3, "null-key rows must survive, not vanish")
    assert(left.filter(col("id").isNull).count() == 3)
  }

  test("delete: pre-delete versions time-travel through the quarantine; " +
      "restore undoes the delete") {
    val p = deleteFixture4()
    Maintenance.deleteRange(spark, p, "id", 15.0, 24.0)
    // the full pre-delete table and an interior version both read back,
    // even though their files left the live directory
    assert(Maintenance.readAsOf(spark, p, 4).count() == 40)
    assert(Maintenance.readAsOf(spark, p, 2).count() == 20)
    Maintenance.restoreTo(spark, p, 4)
    assert(Maintenance.readTable(spark, p).count() == 40)
    // restored files got their stats backfilled: the key range prunes to
    // exactly the two covering files again
    val (kept, total) = Maintenance.skippingPlan(p, "id", 15.0, 24.0)
    assert(kept.size == 2 && total == 4, s"kept=$kept total=$total")
  }

  test("delete: cdf serves the deleted rows; insert slices read through " +
      "the quarantine") {
    val p = deleteFixture4()
    val res = Maintenance.deleteRange(spark, p, "id", 15.0, 24.0)
    val feed = Maintenance.readChangesBetween(spark, p,
      res.version - 1, res.version)
    assert(feed.count() == 10)
    assert(feed.filter(col("_change_type") === "delete").count() == 10)
    assert(feed.agg(sum("id")).first().getLong(0) == (15L to 24L).sum)
    // version 2's insert slice is still readable though its file moved
    // to the quarantine
    val ins = Maintenance.readChangesBetween(spark, p, 1L, 2L)
    assert(ins.count() == 10)
    assert(ins.filter(col("_change_type") === "insert").count() == 10)
    // a mixed range unions inserts and deletes
    val mixed = Maintenance.readChangesBetween(spark, p, 3L, res.version)
    assert(mixed.filter(col("_change_type") === "insert").count() == 10)
    assert(mixed.filter(col("_change_type") === "delete").count() == 10)
  }

  test("delete: vacuumRemoved reclaims history loudly, never current data") {
    val p = deleteFixture4()
    val res = Maintenance.deleteRange(spark, p, "id", 15.0, 24.0)
    val n = Maintenance.vacuumRemoved(p, System.currentTimeMillis() + 60000)
    assert(n > 0)
    // current state untouched, current version still time-travels
    assert(Maintenance.readTable(spark, p).count() == 30)
    assert(Maintenance.readAsOf(spark, p, res.version).count() == 30)
    // pre-delete history is gone — and says so
    intercept[IllegalStateException] { Maintenance.readAsOf(spark, p, 2) }
    // the delete marker outlives the change files, so the CDF fails
    // loudly instead of skipping the version as a rewrite
    intercept[IllegalStateException] {
      Maintenance.readChangesBetween(spark, p, res.version - 1, res.version)
    }
  }

  test("delete/merge race: a concurrent appender never loses rows and " +
      "never deadlocks against the lock-held rewrites") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-dmrace-${UUID.randomUUID()}/t").getAbsolutePath
    // protocol table: ids 0..999, val = id
    Maintenance.commitAppend(spark, p,
      spark.range(0L, 1000L).toDF("id").select(col("id"), col("id").as("v")))
    val nAppends = 10
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val appender = new Thread(() => {
      try {
        for (i <- 0 until nAppends) {
          Maintenance.commitAppend(spark, p,
            spark.range(1000L + i * 10, 1000L + i * 10 + 10).toDF("id")
              .select(col("id"), col("id").as("v")))
        }
      } catch { case t: Throwable => err.set(t) }
    })
    appender.start()
    // interleave lock-held deletes and merges with the appends: deletes
    // target a key range no append produces, merges update a stable key
    var ops = 0
    while (appender.isAlive) {
      Maintenance.deleteRange(spark, p, "id", 0.0, (ops % 5).toDouble)
      Maintenance.mergeInto(spark, p,
        Seq((500L, 9999L)).toDF("id", "v"), "id")
      ops += 1
    }
    appender.join()
    assert(err.get() == null, s"appender failed: ${err.get()}")
    assert(ops >= 1, "the race must actually have raced")
    // quiesced final delete so the surviving set is closed-form
    Maintenance.deleteRange(spark, p, "id", 0.0, 4.0)
    val rows = Maintenance.readTable(spark, p)
    val ids = rows.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == ((5L until 1000L) ++
      (1000L until (1000L + nAppends * 10))).toSet,
      s"row set wrong under the race (|ids|=${ids.size}, ops=$ops)")
    assert(rows.filter(col("id") === 500L).first().getLong(1) == 9999L)
  }

  // ----- partitioned committed tables -----

  /** Two coalesced appends over pk = id % 4: one file per (append,
    * partition) → 8 files, 2 per partition, ids [0,44).
    */
  private def partitionedTable(): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-partspec-${UUID.randomUUID()}/t").getAbsolutePath
    def withPk(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), pmod(col("id"), lit(4L)).as("pk")).coalesce(1)
    Maintenance.commitAppend(spark, p,
      withPk(spark.range(0L, 40L).toDF("id")), partitionBy = Seq("pk"))
    Maintenance.commitAppend(spark, p,
      withPk(spark.range(40L, 44L).toDF("id"))) // inherits partitioning
    p
  }

  test("partitioned append: hive layout, inherited partitioning, " +
      "partition-derived pruning") {
    val p = partitionedTable()
    assert(new java.io.File(p, "pk=2").isDirectory)
    val rt = Maintenance.readTable(spark, p)
    assert(rt.count() == 44)
    assert(rt.filter(col("pk") === 2).count() == 11)
    assert(rt.filter(col("pk") === 2).agg(sum("id")).first().getLong(0) ==
      (0L until 44L).filter(_ % 4 == 2).sum)
    // partition values are per-file stats: pk = 2 prunes to exactly that
    // partition's files
    val (kept, total) = Maintenance.skippingPlan(p, "pk", 2.0, 2.0)
    assert(total == 8 && kept.size == 2, s"kept=$kept total=$total")
    // a conflicting partitioning declaration is rejected untouched
    intercept[IllegalArgumentException] {
      Maintenance.commitAppend(spark, p,
        spark.range(0L, 1L).toDF("id")
          .select(col("id"), lit(0L).as("pk")),
        partitionBy = Seq("id"))
    }
    assert(Maintenance.readVersion(p) == 2)
  }

  test("partitioned delete: blast radius is exactly one partition; " +
      "history and cdf keep partition values") {
    val p = partitionedTable()
    val res = Maintenance.deleteRange(spark, p, "pk", 2.0, 2.0)
    assert(res.rowsDeleted == 11)
    assert(res.filesRewritten == 2 && res.filesTotal == 8,
      s"only pk=2's files may rewrite: $res")
    val rt = Maintenance.readTable(spark, p)
    assert(rt.count() == 33)
    assert(rt.filter(col("pk") === 2).count() == 0)
    // pre-delete version reads through the quarantine WITH pk intact
    val asOf = Maintenance.readAsOf(spark, p, 2)
    assert(asOf.count() == 44)
    assert(asOf.filter(col("pk") === 2).count() == 11)
    // the delete feed carries the partition value as a data column
    val feed = Maintenance.readChangesBetween(spark, p,
      res.version - 1, res.version)
    assert(feed.count() == 11)
    assert(feed.filter(col("pk") === 2).count() == 11)
  }

  test("partitioned merge and scoped compact preserve the hive layout") {
    import spark.implicits._
    val p = partitionedTable()
    val res = Maintenance.mergeInto(spark, p,
      Seq((1L, 9L), (100L, 0L)).toDF("id", "pk"), "id")
    assert(res.rowsUpdated == 1 && res.rowsInserted == 1)
    val rt = Maintenance.readTable(spark, p)
    assert(rt.count() == 45)
    // the updated row MOVED partition: pk=9 dir now exists
    assert(rt.filter(col("id") === 1L).first().getAs[Long]("pk") == 9L)
    assert(new java.io.File(p, "pk=9").isDirectory)
    // scoped compact merges pk=0's files into one, still under pk=0/
    val n = Maintenance.compactWhere(spark, p, "pk", 0.0, 0.0, 1)
    assert(n >= 2)
    val pk0 = Option(new java.io.File(p, "pk=0").listFiles()).get
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(pk0.length == 1 && pk0.head.startsWith("compactw_"))
    assert(Maintenance.readTable(spark, p).count() == 45)
  }

  // ----- N-dimensional Z-order -----

  test("zorderN: 3-dim clustering prunes on EVERY dimension; SQL " +
      "OPTIMIZE ZORDER and DESCRIBE HISTORY drive it") {
    import spark.implicits._
    import graft.operators.GraftSql
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-z3spec-${UUID.randomUUID()}/t").getAbsolutePath
    // a full 16×16×16 cube: every dimension uniform and independent
    Maintenance.commitAppend(spark, p,
      spark.range(0L, 4096L).select(
        expr("id % 16").as("a"),
        expr("id div 16 % 16").as("b"),
        expr("id div 256 % 16").as("c")))
    val z = GraftSql.run(spark,
      s"OPTIMIZE `$p` ZORDER BY (a, b, c) TO 8 FILES")
    assert(z.select("operation").as[String].first() == "OPTIMIZE ZORDER")
    for (dim <- Seq("a", "b", "c")) {
      val (kept, total) = Maintenance.skippingPlan(p, dim, 0.0, 1.0)
      assert(total == 8 && kept.size < total,
        s"z-order must prune a narrow range on '$dim': " +
          s"kept ${kept.size} of $total")
    }
    // content untouched by the rewrite
    assert(Maintenance.readTable(spark, p).count() == 4096)
    assert(Maintenance.readTable(spark, p)
      .agg(sum(col("a") + col("b") * 16 + col("c") * 256))
      .first().getLong(0) == (0L until 4096L).sum)
    // DESCRIBE HISTORY reads the ledger through SQL
    val hist = GraftSql.run(spark, s"DESCRIBE HISTORY `$p`")
      .select("operation").as[String].collect().toSeq
    assert(hist == Seq("append", "rewrite"))
  }

  // ----- model-based DML consistency -----

  test("model-based DML: a seeded random op sequence over append/delete/" +
      "update/merge/DV-delete/apply matches the in-memory model") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-modelspec-${UUID.randomUUID()}/t").getAbsolutePath
    var model = Map.empty[Long, Long] // id -> v
    var nextId = 0L
    def appendBatch(): Unit = {
      val n = 5 + rnd.nextInt(15)
      val ids = (nextId until nextId + n)
      nextId += n
      Maintenance.commitAppend(spark, p,
        ids.map(id => (id, id * 3)).toDF("id", "v"))
      model ++= ids.map(id => id -> id * 3)
    }
    def randRange(): (Long, Long) = {
      val lo = rnd.nextLong(math.max(1L, nextId))
      (lo, lo + rnd.nextInt(10))
    }
    appendBatch()
    // 40 steps (r12 ran 14): long enough that every verb recurs several
    // times and delete/update/merge land on multi-generation layouts
    for (step <- 1 to 40) {
      // while vectors are outstanding only append / DV-delete / apply
      // are legal (the guards refuse the rewrite verbs — tested above)
      val dvOutstanding = Maintenance.outstandingDvFiles(p).nonEmpty
      val op = if (dvOutstanding) Seq(0, 4, 5)(rnd.nextInt(3))
        else rnd.nextInt(6)
      op match {
        case 0 => appendBatch()
        case 1 =>
          val (lo, hi) = randRange()
          Maintenance.deleteRange(spark, p, "id", lo.toDouble, hi.toDouble)
          model = model.view.filterKeys(k => k < lo || k > hi).toMap
        case 2 =>
          val (lo, hi) = randRange()
          val d = rnd.nextInt(1000).toLong
          Maintenance.updateWhere(spark, p,
            col("id") >= lo && col("id") <= hi,
            Map("v" -> (col("v") + lit(d))))
          model = model.map { case (k, v) =>
            k -> (if (k >= lo && k <= hi) v + d else v)
          }
        case 3 =>
          val existing = model.keys.toSeq.sorted.take(2)
          val fresh = Seq(nextId); nextId += 1
          val src = (existing ++ fresh).map(id => (id, id * 7 + 1))
          Maintenance.mergeInto(spark, p, src.toDF("id", "v"), "id")
          model ++= src
        case 4 =>
          val (lo, hi) = randRange()
          Maintenance.deleteWithVectors(spark, p,
            col("id") >= lo && col("id") <= hi)
          model = model.view.filterKeys(k => k < lo || k > hi).toMap
        case 5 =>
          Maintenance.applyDeleteVectors(spark, p)
      }
      val actual = Maintenance.readTable(spark, p)
        .as[(Long, Long)].collect().toMap
      assert(actual == model,
        s"divergence at step $step op $op: extra=" +
          s"${(actual.toSet -- model.toSet).take(5)} missing=" +
          s"${(model.toSet -- actual.toSet).take(5)}")
    }
    assert(model.nonEmpty)
  }

  // ----- deletion-vector race -----

  test("DV race: vectored deletes and their materialization never lose " +
      "rows against a concurrent appender") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-dvrace-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p,
      spark.range(0L, 1000L).toDF("id").select(col("id"), col("id").as("v")))
    val nAppends = 8
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val appender = new Thread(() => {
      try {
        for (i <- 0 until nAppends)
          Maintenance.commitAppend(spark, p,
            spark.range(1000L + i * 10, 1000L + i * 10 + 10).toDF("id")
              .select(col("id"), col("id").as("v")))
      } catch { case t: Throwable => err.set(t) }
    })
    appender.start()
    // interleave vectored deletes (distinct sub-ranges, so every delete
    // has rows to claim) with full materializations under the race
    var ops = 0
    while (appender.isAlive && ops < 50) {
      Maintenance.deleteWithVectors(spark, p,
        col("id") >= ops * 2L && col("id") < ops * 2L + 2L)
      if (ops % 3 == 2) Maintenance.applyDeleteVectors(spark, p)
      ops += 1
    }
    appender.join()
    assert(err.get() == null, s"appender failed: ${err.get()}")
    assert(ops >= 1, "the race must actually have raced")
    // quiesced: one final vectored delete + apply closes the form
    val deletedUpTo = ops * 2L
    Maintenance.deleteWithVectors(spark, p, col("id") < deletedUpTo)
    Maintenance.applyDeleteVectors(spark, p)
    val ids = Maintenance.readTable(spark, p)
      .select("id").as[Long].collect().toSet
    assert(ids == ((deletedUpTo until 1000L) ++
      (1000L until (1000L + nAppends * 10))).toSet,
      s"row set wrong under the DV race (|ids|=${ids.size}, ops=$ops)")
  }

  // ----- generated columns -----

  test("generated columns: omitted computed (partitionable), provided " +
      "validated cell-by-cell, desyncs abort everywhere") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-genspec-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.declareGenerated(spark, p, "bucket", "id % 3")
    // omitted → computed, and usable as the partition column in the
    // same append (the canonical date(ts)-partition pattern)
    Maintenance.commitAppend(spark, p,
      spark.range(0L, 30L).toDF("id"), partitionBy = Seq("bucket"))
    assert(new java.io.File(p, "bucket=2").isDirectory)
    assert(Maintenance.readTable(spark, p)
      .filter(col("bucket") === col("id") % 3).count() == 30)
    val (kept, totalF) = Maintenance.skippingPlan(p, "bucket", 1.0, 1.0)
    assert(kept.size < totalF, "generated partition column must prune")
    // provided-and-correct passes; provided-and-wrong aborts untouched
    Maintenance.commitAppend(spark, p,
      spark.range(30L, 33L).select(col("id"), (col("id") % 3).as("bucket")))
    assert(Maintenance.readTable(spark, p).count() == 33)
    val v0 = Maintenance.readVersion(p)
    val e = intercept[IllegalStateException] {
      Maintenance.commitAppend(spark, p,
        spark.range(33L, 36L).select(col("id"), lit(0L).as("bucket")))
    }
    assert(e.getMessage.contains("bucket") &&
      e.getMessage.contains("GENERATED ALWAYS"))
    assert(Maintenance.readVersion(p) == v0)
    assert(Maintenance.readTable(spark, p).count() == 33)
    // an UPDATE that desyncs the derivation aborts
    intercept[IllegalStateException] {
      Maintenance.updateWhere(spark, p, col("id") === 5L,
        Map("bucket" -> lit(0L)))
    }
    // ...while one that keeps it in sync goes through
    val ok = Maintenance.updateWhere(spark, p, col("id") === 5L,
      Map("id" -> lit(8L), "bucket" -> lit(2L)))
    assert(ok.rowsUpdated == 1)
    // declaring over existing non-conforming data is rejected, unrecorded
    val p2 = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-genspec2-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p2,
      Seq((1L, 99L)).toDF("id", "bucket"))
    intercept[IllegalStateException] {
      Maintenance.declareGenerated(spark, p2, "bucket", "id % 3")
    }
    assert(Maintenance.readGenerated(p2).isEmpty)
  }

  // ----- GraftSql: SQL DML over path tables -----

  test("GraftSql: DELETE / UPDATE / MERGE / vectored DELETE route to the " +
      "protocol ops with Catalyst-parsed expressions") {
    import spark.implicits._
    import graft.operators.GraftSql
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-sqlspec-${UUID.randomUUID()}/t").getAbsolutePath
    (0 until 4).foreach { i =>
      Maintenance.commitAppend(spark, p,
        spark.range(i * 10L, (i + 1) * 10L)
          .select(col("id"), (col("id") * 100).as("cents")).coalesce(1))
    }
    // DELETE with a nested-function predicate
    val del = GraftSql.run(spark,
      s"DELETE FROM `$p` WHERE id BETWEEN 0 AND 4")
    assert(del.select("operation", "rows_affected")
      .as[(String, Long)].first() == (("DELETE", 5L)))
    assert(Maintenance.readTable(spark, p).count() == 35)
    // UPDATE with commas inside the SET expression (splitter contract)
    val upd = GraftSql.run(spark,
      s"UPDATE `$p` SET cents = greatest(cents + 7, least(cents, 0)) " +
        "WHERE id >= 30")
    assert(upd.select("rows_affected").as[Long].first() == 10L)
    assert(Maintenance.readTable(spark, p)
      .filter(col("id") === 35).select("cents").as[Long].first() == 3507L)
    // MERGE via a registered temp view
    Seq((5L, 1L), (100L, 2L)).toDF("id", "cents")
      .createOrReplaceTempView("sql_merge_src")
    val mrg = GraftSql.run(spark,
      s"MERGE INTO `$p` USING sql_merge_src ON id")
    assert(mrg.select("rows_affected").as[Long].first() == 2L)
    assert(Maintenance.readTable(spark, p).count() == 36)
    // vectored DELETE: no live file rewritten
    def names = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = names
    val dv = GraftSql.run(spark,
      s"DELETE FROM `$p` USING VECTORS WHERE id = 100")
    assert(dv.select("operation").as[String].first() == "DELETE (vectors)")
    assert(names == before && Maintenance.readTable(spark, p).count() == 35)
    // utility commands: APPLY VECTORS materializes, OPTIMIZE compacts,
    // RESTORE rewinds, VACUUM reclaims with injected time
    val ap = GraftSql.run(spark, s"APPLY VECTORS `$p`")
    assert(ap.select("files_rewritten").as[Long].first() >= 1L)
    assert(Maintenance.outstandingDvFiles(p).isEmpty)
    GraftSql.run(spark, s"OPTIMIZE `$p` TO 2 FILES")
    assert(new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet")) == 2)
    assert(Maintenance.readTable(spark, p).count() == 35)
    // restore across a quarantine-backed delete (a compact physically
    // reclaims its inputs, so only post-compact versions restore)
    val vRestore = Maintenance.readVersion(p)
    GraftSql.run(spark, s"DELETE FROM `$p` WHERE id >= 30")
    assert(Maintenance.readTable(spark, p).count() < 35)
    val rs = GraftSql.run(spark, s"RESTORE `$p` TO VERSION $vRestore")
    assert(rs.select("operation").as[String].first() == "RESTORE")
    assert(Maintenance.readTable(spark, p).count() == 35)
    val vc = GraftSql.run(spark,
      s"VACUUM `$p` RETAIN 0 HOURS AS OF ${System.currentTimeMillis() + 60000}")
    assert(vc.select("files_rewritten").as[Long].first() >= 1L,
      "vacuum with a future as-of must reclaim the quarantined history")
    // malformed statements fail loudly
    intercept[IllegalArgumentException] {
      GraftSql.run(spark, s"TRUNCATE `$p`")
    }
    intercept[IllegalArgumentException] {
      GraftSql.run(spark, s"UPDATE `$p` SET cents WHERE id = 1")
    }
  }

  // ----- identity columns -----

  test("identity column: dense allocation across appends, provided values " +
      "push the mark, aborted commit gaps but never duplicates") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-idspec-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.declareIdentity(spark, p, "rid")
    Maintenance.commitAppend(spark, p, spark.range(0L, 10L).toDF("x"))
    Maintenance.commitAppend(spark, p, spark.range(0L, 5L).toDF("x"))
    def rids = Maintenance.readTable(spark, p)
      .select(col("rid")).as[Long].collect().sorted.toSeq
    assert(rids == (1L to 15L))
    // provided values are kept (BY DEFAULT) and push the mark
    Maintenance.commitAppend(spark, p,
      Seq((0L, 100L), (1L, 101L)).toDF("x", "rid"))
    Maintenance.commitAppend(spark, p, spark.range(0L, 2L).toDF("x"))
    assert(rids == ((1L to 15L) ++ Seq(100L, 101L, 102L, 103L)))
    // an aborted (constraint-violating) append may gap, never duplicate
    Maintenance.addConstraint(spark, p, "x_small", "x < 1000")
    intercept[IllegalStateException] {
      Maintenance.commitAppend(spark, p,
        spark.range(5000L, 5003L).toDF("x"))
    }
    Maintenance.commitAppend(spark, p, spark.range(0L, 1L).toDF("x"))
    val all = rids
    assert(all.distinct.size == all.size, "identity values must be unique")
    assert(all.max == 107L, s"3 reserved ids gap after the abort: $all")
    // declaring on a table that already has the column continues past max
    val p2 = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-idspec2-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p2,
      Seq((1L, 50L), (2L, 60L)).toDF("x", "rid"))
    Maintenance.declareIdentity(spark, p2, "rid")
    Maintenance.commitAppend(spark, p2, spark.range(0L, 2L).toDF("x"))
    val r2 = Maintenance.readTable(spark, p2)
      .select(col("rid")).as[Long].collect().sorted.toSeq
    assert(r2 == Seq(50L, 60L, 61L, 62L))
  }

  // ----- updateWhere: UPDATE ... SET ... WHERE -----

  test("updateWhere: only files holding matches rewrite, typed CDC, " +
      "history kind, time travel, constraint abort") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-updspec-${UUID.randomUUID()}/t").getAbsolutePath
    // 4 range-disjoint files of 10 ids each
    (0 until 4).foreach { i =>
      Maintenance.commitAppend(spark, p,
        spark.range(i * 10L, (i + 1) * 10L)
          .select(col("id"), (col("id") * 100).as("cents")).coalesce(1))
    }
    val vPre = Maintenance.readVersion(p)
    val res = Maintenance.updateWhere(spark, p,
      col("id") >= 10 && col("id") <= 19,
      Map("cents" -> (col("cents") + lit(7L))))
    assert(res.rowsUpdated == 10)
    assert(res.filesRewritten == 1 && res.filesTotal == 4,
      s"blast radius must be the one matching file: $res")
    val rows = Maintenance.readTable(spark, p)
      .as[(Long, Long)].collect().toMap
    assert(rows(15L) == 1507L && rows(5L) == 500L && rows(25L) == 2500L)
    // typed CDC: 10 preimages with old values, 10 postimages with new
    val feed = Maintenance.readChangesBetween(spark, p, vPre, res.version)
    val byType = feed.groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .as[(String, Long, Long)].collect()
      .map { case (k, n, c) => k -> ((n, c)) }.toMap
    val preSum = (10L to 19L).map(_ * 100).sum
    assert(byType("update_preimage") == ((10L, preSum)))
    assert(byType("update_postimage") == ((10L, preSum + 70)))
    // history classifies the version; pre-update version time-travels
    assert(Maintenance.history(spark, p)
      .filter(col("version") === res.version).select(col("operation"))
      .as[String].first() == "update")
    assert(Maintenance.readAsOf(spark, p, vPre)
      .as[(Long, Long)].collect().toMap.apply(15L) == 1500L)
    // SET naming a missing column is rejected up front
    intercept[IllegalArgumentException] {
      Maintenance.updateWhere(spark, p, col("id") === 1,
        Map("nope" -> lit(1)))
    }
    // a SET writing a constraint-violating value aborts untouched
    Maintenance.addConstraint(spark, p, "cents_pos", "cents >= 0")
    val vNow = Maintenance.readVersion(p)
    intercept[IllegalStateException] {
      Maintenance.updateWhere(spark, p, col("id") === 5,
        Map("cents" -> lit(-1L)))
    }
    assert(Maintenance.readVersion(p) == vNow)
    assert(Maintenance.readTable(spark, p)
      .as[(Long, Long)].collect().toMap.apply(5L) == 500L)
    // no-match predicate commits nothing
    val noop = Maintenance.updateWhere(spark, p, col("id") === 999,
      Map("cents" -> lit(0L)))
    assert(noop.rowsUpdated == 0 && Maintenance.readVersion(p) == vNow)
  }

  // ----- deletion vectors -----

  test("deletion vectors: delete without rewrite, time travel both sides, " +
      "typed CDC, stacking, guards, and materialization") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-dvspec-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p,
      spark.range(0L, 40L).select(col("id"), (col("id") * 10).as("v"))
        .repartition(2)) // v1
    def liveNames = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val namesBefore = liveNames
    val res = Maintenance.deleteWithVectors(spark, p, col("id") < 10) // v2
    assert(res.version == 2 && res.rowsDeleted == 10)
    // THE point: no data file was touched
    assert(liveNames == namesBefore, "DV delete must not rewrite files")
    assert(Maintenance.readTable(spark, p).count() == 30)
    assert(Maintenance.readTable(spark, p)
      .agg(min(col("id"))).first().getLong(0) == 10L)
    // both sides of the delete time-travel
    assert(Maintenance.readAsOf(spark, p, 1).count() == 40)
    assert(Maintenance.readAsOf(spark, p, 2).count() == 30)
    // CDC: the deleted rows, typed
    val feed = Maintenance.readChangesBetween(spark, p, 1, 2)
    assert(feed.count() == 10)
    assert(feed.select(col("_change_type")).distinct()
      .as[String].collect().toSeq == Seq("delete"))
    // history classifies the version as a delete
    assert(Maintenance.history(spark, p)
      .filter(col("version") === 2).select(col("operation"))
      .as[String].first() == "delete")
    // metadata count subtracts vectors exactly; min/max goes absent
    assert(Maintenance.metadataCount(spark, p) == 30)
    assert(Maintenance.metadataMinMax(spark, p, "id").isEmpty)
    // stacking: the second delete only sees still-visible rows
    val res2 = Maintenance.deleteWithVectors(spark, p,
      col("id") < 12) // v3
    assert(res2.rowsDeleted == 2)
    assert(Maintenance.readTable(spark, p).count() == 28)
    // the PLANNING map is gap-varint packed: the retained shape is
    // bytes (≈1-2 per deleted row for clustered positions, never 8-byte
    // boxed Longs), decoding per file round-trips sorted + distinct
    val packed = Maintenance.dvPackedByFile(p)
    assert(packed.nonEmpty)
    val decoded = packed.view.mapValues(Maintenance.dvUnpack).toMap
    assert(decoded.values.map(_.length.toLong).sum == 12L,
      "unpacked positions must cover exactly the deleted rows")
    for ((f, ps) <- decoded) {
      assert(ps.toSeq == ps.toSeq.distinct.sorted, s"$f not sorted")
      // clustered low row-indexes: one ULEB byte per position + small
      // first-position header — the O(bytes-per-row) retained shape
      assert(packed(f).length <= ps.length + 9,
        s"$f packed to ${packed(f).length} bytes for ${ps.length} rows")
    }
    // rewrite paths refuse while vectors are outstanding
    intercept[IllegalStateException] {
      Maintenance.deleteRange(spark, p, "id", 20.0, 25.0)
    }
    intercept[IllegalStateException] {
      Maintenance.mergeInto(spark, p, Seq((20L, 0L)).toDF("id", "v"), "id")
    }
    intercept[IllegalStateException] {
      Maintenance.compactWhere(spark, p, "id", 0.0, 100.0, 1)
    }
    // restore across the DV versions refuses
    intercept[IllegalStateException] { Maintenance.restoreTo(spark, p, 1) }
    // appends stay open (new files cannot carry vectors)
    Maintenance.commitAppend(spark, p,
      spark.range(100L, 103L).select(col("id"), (col("id") * 10).as("v")))
    assert(Maintenance.readTable(spark, p).count() == 31)
    // materialize: exactly the vector-carrying files rewrite
    val applied = Maintenance.applyDeleteVectors(spark, p)
    assert(applied >= 1 && Maintenance.outstandingDvFiles(p).isEmpty)
    assert(Maintenance.readTable(spark, p).count() == 31)
    assert(Maintenance.readTable(spark, p)
      .agg(min(col("id"))).first().getLong(0) == 12L)
    // pre-apply history still reads through the quarantine + vectors
    assert(Maintenance.readAsOf(spark, p, 2).count() == 30)
    assert(Maintenance.readAsOf(spark, p, 3).count() == 28)
    // metadata min/max is exact again, and rewrite paths re-open
    assert(Maintenance.metadataMinMax(spark, p, "id")
      .map(_._2).contains(12.0))
    val dr = Maintenance.deleteRange(spark, p, "id", 100.0, 100.0)
    assert(dr.rowsDeleted == 1)
    assert(Maintenance.readTable(spark, p).count() == 30)
  }

  // ----- mergeInto schema evolution -----

  test("merge schema evolution: new columns gated by autoMergeSchema, " +
      "UPDATE SET * keeps omitted columns, history reads as nulls") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-evospec-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val vBase = Maintenance.readVersion(p)
    // new source column without the flag: rejected by name
    val e = intercept[IllegalArgumentException] {
      Maintenance.mergeInto(spark, p,
        Seq((2L, 21L, "x")).toDF("id", "v", "tag"), "id")
    }
    assert(e.getMessage.contains("tag") &&
      e.getMessage.contains("autoMergeSchema"))
    // type conflict: always rejected, flag or no flag
    intercept[IllegalArgumentException] {
      Maintenance.mergeInto(spark, p,
        Seq((2L, "oops")).toDF("id", "v"), "id", autoMergeSchema = true)
    }
    // with the flag: update + insert land the new column, survivor null
    val res = Maintenance.mergeInto(spark, p,
      Seq((2L, 21L, "up"), (3L, 30L, "new")).toDF("id", "v", "tag"), "id",
      autoMergeSchema = true)
    assert(res.rowsUpdated == 1 && res.rowsInserted == 1)
    val rows = Maintenance.readTable(spark, p)
      .as[(Long, Long, Option[String])].collect().toSet
    assert(rows == Set((1L, 10L, None), (2L, 21L, Some("up")),
      (3L, 30L, Some("new"))))
    // pre-evolution version time-travels: old files read as null tag
    val asOf = Maintenance.readAsOf(spark, p, vBase)
      .as[(Long, Long, Option[String])].collect().toSet
    assert(asOf == Set((1L, 10L, None), (2L, 20L, None)))
    // a source OMITTING a table column: update keeps the target value,
    // insert gets null (UPDATE SET * semantics)
    val res2 = Maintenance.mergeInto(spark, p,
      Seq((2L, "re-up"), (4L, "ins")).toDF("id", "tag"), "id")
    assert(res2.rowsUpdated == 1 && res2.rowsInserted == 1)
    val rows2 = Maintenance.readTable(spark, p)
      .as[(Long, Option[Long], Option[String])].collect().toSet
    assert(rows2 == Set((1L, Some(10L), None), (2L, Some(21L), Some("re-up")),
      (3L, Some(30L), Some("new")), (4L, None, Some("ins"))))
  }

  // ----- metadata-only aggregates -----

  test("metadata aggregates: exact count/min/max/nulls from footers; " +
      "exact-or-absent, never approximate") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-metaspec-${UUID.randomUUID()}/t").getAbsolutePath
    val df = Seq((1L, Some(5.5), "a"), (2L, None, "b"), (3L, Some(-2.25), "c"),
      (4L, Some(9.75), "d")).toDF("id", "x", "s")
    Maintenance.commitAppend(spark, p, df.repartition(3))
    assert(Maintenance.metadataCount(spark, p) == 4)
    // nullable double: min/max over non-nulls, null count exact
    assert(Maintenance.metadataMinMax(spark, p, "x")
      .contains((4L, -2.25, 9.75, 1L)))
    assert(Maintenance.metadataMinMax(spark, p, "id")
      .contains((4L, 1.0, 4.0, 0L)))
    // string column / missing column: absent, not wrong
    assert(Maintenance.metadataMinMax(spark, p, "s").isEmpty)
    assert(Maintenance.metadataMinMax(spark, p, "nope").isEmpty)
    // stays exact across a delete rewrite
    Maintenance.deleteRange(spark, p, "id", 2.0, 2.0)
    assert(Maintenance.metadataCount(spark, p) == 3)
    assert(Maintenance.metadataMinMax(spark, p, "x")
      .contains((3L, -2.25, 9.75, 0L)))
  }

  // ----- table CHECK constraints -----

  test("constraints: violating append aborts untouched, null is a " +
      "violation, drop re-admits, add rejects dirty history") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-constrspec-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    Maintenance.addConstraint(spark, p, "v_pos", "v > 0")
    val v0 = Maintenance.readVersion(p)
    // violating batch: nothing lands, version unchanged, stage cleaned
    val e = intercept[IllegalStateException] {
      Maintenance.commitAppend(spark, p,
        Seq((3L, -5L), (4L, 40L)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("v_pos") && e.getMessage.contains("1 rows"))
    assert(Maintenance.readVersion(p) == v0)
    assert(Maintenance.readTable(spark, p).count() == 2)
    val stageRoot = new java.io.File(s"${p}__stage")
    assert(!stageRoot.exists() ||
      Option(stageRoot.listFiles()).forall(_.isEmpty),
      "violating append must clean its stage")
    // NULL predicate result counts as a violation
    intercept[IllegalStateException] {
      Maintenance.commitAppend(spark, p,
        Seq((5L, Option.empty[Long])).toDF("id", "v"))
    }
    // a second constraint and a batch violating only it: named in error
    Maintenance.addConstraint(spark, p, "id_range", "id < 1000")
    val e2 = intercept[IllegalStateException] {
      Maintenance.commitAppend(spark, p,
        Seq((5000L, 1L)).toDF("id", "v"))
    }
    assert(e2.getMessage.contains("id_range") &&
      !e2.getMessage.contains("v_pos"))
    // dropping the constraint re-admits the batch
    Maintenance.dropConstraint(p, "id_range")
    Maintenance.commitAppend(spark, p, Seq((5000L, 1L)).toDF("id", "v"))
    assert(Maintenance.readTable(spark, p).count() == 3)
    // addConstraint on data that already violates it: rejected, not
    // recorded, so later appends are not poisoned
    intercept[IllegalStateException] {
      Maintenance.addConstraint(spark, p, "id_small", "id < 100")
    }
    assert(!Maintenance.readConstraints(p).exists(_._1 == "id_small"))
    // duplicate name rejected
    intercept[IllegalArgumentException] {
      Maintenance.addConstraint(spark, p, "v_pos", "v > -1")
    }
  }

  test("constraints: a merge writing violating updates or inserts aborts " +
      "before any quarantine") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-constrmerge-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.commitAppend(spark, p,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
    Maintenance.addConstraint(spark, p, "v_pos", "v > 0")
    val v0 = Maintenance.readVersion(p)
    intercept[IllegalStateException] {
      Maintenance.mergeInto(spark, p,
        Seq((2L, -999L), (9L, 90L)).toDF("id", "v"), "id")
    }
    // table fully intact: no quarantined originals, same content
    assert(Maintenance.readVersion(p) == v0)
    assert(Maintenance.readTable(spark, p).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // the same merge with valid values goes through
    val res = Maintenance.mergeInto(spark, p,
      Seq((2L, 999L), (9L, 90L)).toDF("id", "v"), "id")
    assert(res.rowsUpdated == 1 && res.rowsInserted == 1)
  }

  // ----- Bloom-filter file index -----

  test("bloom index: no false negatives, point lookups prune to ~1 file, " +
      "unindexed appends stay conservative") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-bloomspec-${UUID.randomUUID()}/t").getAbsolutePath
    val keyed = spark.range(0L, 2000L)
      .select(md5(col("id").cast("string")).as("key"), col("id"))
    Maintenance.commitAppend(spark, p, keyed.repartition(8, col("key")))
    Maintenance.buildBloomIndex(spark, p, "key")
    // every committed key must be found (Bloom guarantees no false
    // negatives) — check a deterministic sample across the domain
    val sample = spark.range(0L, 2000L, 97L)
      .select(md5(col("id").cast("string")), col("id"))
      .as[(String, Long)].collect()
    for ((key, id) <- sample) {
      val hit = Maintenance.bloomLookup(spark, p, "key", key)
        .select("id").as[Long].collect()
      assert(hit.toSeq == Seq(id), s"lookup of id=$id via $key got " +
        hit.mkString(","))
    }
    // pruning: across the sample, lookups must on average consult ~1 of
    // the 8 files (fpp 1% ⇒ expected kept ≈ 1.07); assert a loose bound
    val keptCounts = sample.map { case (key, _) =>
      val (kept, total) = Maintenance.bloomPlan(spark, p, "key", key)
      assert(total == 8)
      kept.size
    }
    assert(keptCounts.sum.toDouble / keptCounts.length <= 2.0,
      s"bloom pruning too weak: kept=${keptCounts.mkString(",")}")
    // an absent key prunes everything (modulo false positives)
    val (keptMiss, _) = Maintenance.bloomPlan(spark, p, "key", "not-a-key")
    assert(keptMiss.size <= 2)
    assert(Maintenance.bloomLookup(spark, p, "key", "not-a-key").count() == 0)
    // a later append has no index entry: its file is always kept, so new
    // rows are visible through the lookup before any rebuild
    Maintenance.commitAppend(spark, p,
      Seq(("fresh-key", 99999L)).toDF("key", "id"))
    val hit2 = Maintenance.bloomLookup(spark, p, "key", "fresh-key")
      .select("id").as[Long].collect()
    assert(hit2.toSeq == Seq(99999L))
    // rebuild indexes the new file too: the fresh key now prunes
    Maintenance.buildBloomIndex(spark, p, "key")
    val (keptFresh, totalFresh) =
      Maintenance.bloomPlan(spark, p, "key", "fresh-key")
    assert(totalFresh == 9 && keptFresh.size <= 2,
      s"kept=$keptFresh of $totalFresh")
  }

  // ----- mergeInto: MERGE INTO + CDC row types -----

  /** Same 4-file layout as [[deleteFixture4]] but with a value column:
    * ids [0,40), val = id*10.
    */
  private def mergeFixture4(): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-mrgspec-${UUID.randomUUID()}/t").getAbsolutePath
    (0 until 4).foreach { i =>
      Maintenance.commitAppend(spark, p,
        spark.range(i * 10L, (i + 1) * 10L).toDF("id")
          .select(col("id"), (col("id") * 10L).as("v")).coalesce(1))
    }
    p
  }

  test("merge: only files holding matched keys are rewritten; updates " +
      "and inserts land") {
    import spark.implicits._
    val p = mergeFixture4()
    val src = (15L to 24L).map(k => (k, k * 10L + 5L))
      .toDF("id", "v")
      .unionByName(Seq((100L, 1L), (101L, 2L)).toDF("id", "v"))
    val res = Maintenance.mergeInto(spark, p, src, "id")
    assert(res.rowsUpdated == 10 && res.rowsInserted == 2)
    assert(res.filesRewritten == 2 && res.filesTotal == 4, s"$res")
    val now = Maintenance.readTable(spark, p)
    assert(now.count() == 42)
    assert(now.filter(col("id") === 17).first().getLong(1) == 175L)
    assert(now.filter(col("id") === 5).first().getLong(1) == 50L)
    assert(now.filter(col("id") >= 100).count() == 2)
    val names = Option(new java.io.File(p).listFiles()).get
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq
    assert(names.count(_.startsWith("append_v000001")) == 1)
    assert(!names.exists(_.startsWith("append_v000002")))
    assert(names.exists(_.startsWith("merge_v000005")))
  }

  test("merge: cdf serves typed update_preimage/postimage/insert rows; " +
      "history time-travels and restore undoes") {
    import spark.implicits._
    val p = mergeFixture4()
    val src = (15L to 24L).map(k => (k, k * 10L + 5L)).toDF("id", "v")
      .unionByName(Seq((100L, 1L)).toDF("id", "v"))
    val res = Maintenance.mergeInto(spark, p, src, "id")
    val feed = Maintenance.readChangesBetween(spark, p,
      res.version - 1, res.version)
    def slice(t: String) = feed.filter(col("_change_type") === t)
    assert(slice("update_preimage").count() == 10)
    assert(slice("update_preimage").agg(sum("v")).first().getLong(0) ==
      (15L to 24L).map(_ * 10L).sum)
    assert(slice("update_postimage").agg(sum("v")).first().getLong(0) ==
      (15L to 24L).map(_ * 10L + 5L).sum)
    assert(slice("insert").count() == 1)
    // an earlier insert version still reads through the merge quarantine
    assert(Maintenance.readChangesBetween(spark, p, 1L, 2L).count() == 10)
    // pre-merge state time-travels intact and restore undoes the merge
    assert(Maintenance.readAsOf(spark, p, 4)
      .agg(sum("v")).first().getLong(0) == (0L until 40L).map(_ * 10L).sum)
    Maintenance.restoreTo(spark, p, 4)
    assert(Maintenance.readTable(spark, p).count() == 40)
    assert(Maintenance.readTable(spark, p)
      .filter(col("id") === 17).first().getLong(1) == 170L)
  }

  test("merge: duplicate source keys are rejected up front") {
    import spark.implicits._
    val p = mergeFixture4()
    val dup = Seq((15L, 1L), (15L, 2L)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Maintenance.mergeInto(spark, p, dup, "id")
    }
    assert(e.getMessage.contains("duplicate"))
    assert(Maintenance.readVersion(p) == 4, "failed merge must not commit")
  }

  test("merge: vacuumRemoved reclaims merge change files loudly") {
    import spark.implicits._
    val p = mergeFixture4()
    val src = (15L to 16L).map(k => (k, 0L)).toDF("id", "v")
    val res = Maintenance.mergeInto(spark, p, src, "id")
    assert(Maintenance.vacuumRemoved(p,
      System.currentTimeMillis() + 60000) > 0)
    assert(Maintenance.readTable(spark, p).count() == 40)
    intercept[IllegalStateException] {
      Maintenance.readChangesBetween(spark, p, res.version - 1, res.version)
    }
  }

  // ----- Expectations (DLT expect / expect_or_drop / expect_or_fail) ----

  test("expectations: drop quarantines with audit trail, warn keeps, " +
      "null predicate counts as violation") {
    import graft.operators.Expectations
    import graft.operators.Expectations.{Rule, Warn, Drop}
    val df = spark.range(0L, 10L).toDF("n")
      .select(when(col("n") === 9, lit(null).cast("long"))
        .otherwise(col("n")).as("id"))
    val res = Expectations.check(df, Seq(
      Rule("id_present", col("id").isNotNull, Drop),
      Rule("small", col("id") < 8, Drop),
      Rule("even", pmod(col("id"), lit(2L)) === 0, Warn)))
    assert(res.rowsTotal == 10 && res.rowsKept == 8)
    def v(r: String) = res.stats.find(_.rule == r).get.violations
    assert(v("id_present") == 1)
    assert(v("small") == 2, "the null id must violate via the null predicate")
    assert(v("even") == 5, "4 odd ids + the null row")
    assert(res.kept.count() == 8)
    assert(res.kept.filter(col("id").isNull).count() == 0)
    val q = res.quarantined
      .select(col("id"), array_join(array_sort(col("_failed_rules")), ","))
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(q == Set((Some(8L), "small"), (None, "id_present,small")))
  }

  test("expectations: a violated fail-rule aborts the batch loudly") {
    import graft.operators.Expectations
    import graft.operators.Expectations.{Rule, Fail}
    val df = spark.range(0L, 10L).toDF("id")
    val e = intercept[IllegalStateException] {
      Expectations.check(df, Seq(Rule("id_lt_5", col("id") < 5, Fail)))
    }
    assert(e.getMessage.contains("id_lt_5") && e.getMessage.contains("5"))
  }

  test("deleteWhere: arbitrary predicate deletes rewrite only matching " +
      "files; full-scan confirmation, no stats needed") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-delspec-${UUID.randomUUID()}/t").getAbsolutePath
    // two files split by a STRING column stats can't prune
    Maintenance.commitAppend(spark, p,
      spark.range(0L, 10L).toDF("id")
        .select(col("id"), lit("keep").as("tag")).coalesce(1))
    Maintenance.commitAppend(spark, p,
      spark.range(10L, 20L).toDF("id")
        .select(col("id"), lit("drop").as("tag")).coalesce(1))
    val res = Maintenance.deleteWhere(spark, p,
      col("tag") === "drop" && col("id") < 15)
    assert(res.rowsDeleted == 5)
    assert(res.filesRewritten == 1 && res.filesTotal == 2,
      s"only the file holding matches may rewrite: $res")
    val left = Maintenance.readTable(spark, p)
    assert(left.count() == 15)
    assert(left.filter(col("tag") === "drop").count() == 5)
    val names = Option(new java.io.File(p).listFiles()).get
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq
    assert(names.count(_.startsWith("append_v000001")) == 1,
      "the non-matching file must keep its name")
  }

  test("compactWhere: scoped OPTIMIZE merges only the key range's files") {
    val p = deleteFixture4() // 4 single-file appends over [0,40)
    val n = Maintenance.compactWhere(spark, p, "id", 0.0, 19.0,
      targetFiles = 1)
    assert(n == 2, s"exactly the two covering files must compact, got $n")
    val names = Option(new java.io.File(p).listFiles()).get
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq
    assert(names.count(_.startsWith("compactw_v000005")) == 1)
    assert(names.count(_.startsWith("append_v000003")) == 1)
    assert(names.count(_.startsWith("append_v000004")) == 1)
    assert(!names.exists(_.startsWith("append_v000001")))
    val all = Maintenance.readTable(spark, p)
    assert(all.count() == 40)
    assert(all.agg(sum("id")).first().getLong(0) == (0L until 40L).sum)
    // stats follow: the compacted range still prunes correctly
    val (kept, total) = Maintenance.skippingPlan(p, "id", 5.0, 6.0)
    assert(total == 3 && kept.size == 1, s"kept=$kept")
    // and a no-op call (already at target) does nothing
    assert(Maintenance.compactWhere(spark, p, "id", 0.0, 19.0, 1) == 0)
  }

  test("delete: a no-match range commits nothing") {
    val p = deleteFixture4()
    val res = Maintenance.deleteRange(spark, p, "id", 100.0, 200.0)
    assert(res.version == 4 && res.rowsDeleted == 0 &&
      res.filesRewritten == 0)
    assert(Maintenance.readVersion(p) == 4)
    assert(Maintenance.readTable(spark, p).count() == 40)
  }

  test("column mapping: metadata-only rename/drop, files untouched, " +
      "DML and history speak logical names") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-colmap-${UUID.randomUUID()}/t").getAbsolutePath
    (0 until 2).foreach { i =>
      Maintenance.commitAppend(spark, p,
        spark.range(i * 10L, (i + 1) * 10L).toDF("id")
          .withColumn("tag", concat(lit("t"), col("id") % 2)).coalesce(1))
    }
    def fileState() = Option(new java.io.File(p).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length))
      .sortBy(_._1).toSeq
    val before = fileState()
    // metadata-only rename: zero files touched
    Maintenance.renameColumn(p, "id", "order_id")
    assert(fileState() == before, "rename must not touch data files")
    val t1 = Maintenance.readTable(spark, p)
    assert(t1.columns.toSeq == Seq("order_id", "tag"))
    assert(t1.agg(sum("order_id")).first().getLong(0) == (0L until 20L).sum)
    // files stay PHYSICAL: the raw parquet still says 'id'
    val raw = spark.read.parquet(new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath)
    assert(raw.columns.contains("id") && !raw.columns.contains("order_id"))
    // appends arrive logically and land physically
    Maintenance.commitAppend(spark, p,
      spark.range(20L, 30L).toDF("order_id")
        .withColumn("tag", lit("t0")).coalesce(1))
    assert(Maintenance.readTable(spark, p).count() == 30)
    assert(spark.read.parquet(p).columns.toSeq.sorted == Seq("id", "tag"),
      "staged files must be physically named")
    // the physical name is reserved: an append may not reuse it
    intercept[IllegalArgumentException] {
      Maintenance.commitAppend(spark, p,
        spark.range(0L, 1L).toDF("id").withColumn("tag", lit("x")))
    }
    // DML in logical terms: ranged delete prunes through the map …
    val res = Maintenance.deleteRange(spark, p, "order_id", 20.0, 29.0)
    assert(res.rowsDeleted == 10 && res.filesRewritten == 1,
      s"logical-name delete must stats-prune: $res")
    // … update with logical predicate and SET …
    val u = Maintenance.updateWhere(spark, p,
      col("order_id") === 0L, Map("tag" -> lit("z9")))
    assert(u.rowsUpdated == 1)
    // … and the typed CDC comes back logically named
    val cdf = Maintenance.readChangesBetween(spark, p, 3, 5)
    assert(cdf.columns.contains("order_id") && !cdf.columns.contains("id"))
    // time travel reads through the CURRENT mapping (Delta behavior)
    assert(Maintenance.readAsOf(spark, p, 1).columns.toSeq ==
      Seq("order_id", "tag"))
    // metadata-only drop: files untouched, column gone, name retired
    val beforeDrop = fileState()
    Maintenance.dropColumn(p, "tag")
    assert(fileState() == beforeDrop, "drop must not touch data files")
    assert(Maintenance.readTable(spark, p).columns.toSeq == Seq("order_id"))
    intercept[IllegalArgumentException] {
      Maintenance.commitAppend(spark, p, spark.range(50L, 51L)
        .toDF("order_id").withColumn("tag", lit("back")))
    }
    // guards: name collisions and last-column drop are loud
    intercept[IllegalArgumentException] {
      Maintenance.renameColumn(p, "order_id", "tag") // retired physical
    }
    intercept[IllegalArgumentException] {
      Maintenance.dropColumn(p, "order_id") // last column
    }
    // SQL surface
    val m = graft.operators.GraftSql.run(spark,
      s"ALTER TABLE `$p` RENAME COLUMN order_id TO okey").first()
    assert(m.getString(0) == "RENAME COLUMN")
    assert(Maintenance.readTable(spark, p).columns.toSeq == Seq("okey"))
    assert(Maintenance.metadataMinMax(spark, p, "okey").isDefined,
      "footer stats must resolve through the mapping")
    // renaming BACK to the column's own physical name is legal and
    // clears the mapping entirely
    Maintenance.renameColumn(p, "okey", "id")
    assert(Maintenance.readTable(spark, p).columns.toSeq == Seq("id"))
    assert(Maintenance.readColumnMap(p).isEmpty)
  }

  test("column mapping guards: partition and generated columns refuse " +
      "rename/drop") {
    import spark.implicits._
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-colmap-${UUID.randomUUID()}/t").getAbsolutePath
    Maintenance.declareGenerated(spark, p, "id2", "id * 2")
    Maintenance.commitAppend(spark, p,
      spark.range(0L, 8L).toDF("id").withColumn("part", col("id") % 2L),
      partitionBy = Seq("part"))
    intercept[IllegalArgumentException] {
      Maintenance.renameColumn(p, "part", "bucket")
    }
    intercept[IllegalArgumentException] {
      Maintenance.dropColumn(p, "id2") // generated target
    }
    intercept[IllegalArgumentException] {
      Maintenance.renameColumn(p, "id", "key") // referenced by generated
    }
  }

  test("shallow clone: zero-copy fork, full history, then full divergence") {
    val src = deleteFixture4() // 4 appends, ids [0,40), v=4
    val dst = src.stripSuffix("/t") + "/clone"
    val v = Maintenance.shallowClone(src, dst)
    assert(v == 4)
    assert(Maintenance.cloneOrigin(dst).contains((src, 4L)))
    assert(Maintenance.cloneOrigin(src).isEmpty)
    // zero bytes copied: the cloned data files share inodes with the source
    val srcFile = Option(new java.io.File(src).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val dstFile = new java.io.File(dst, srcFile.getName)
    def ino(f: java.io.File) =
      java.nio.file.Files.getAttribute(f.toPath, "unix:ino")
    assert(ino(srcFile) == ino(dstFile), "clone must hard-link, not copy")
    // identical content and inherited history (time travel works on clone)
    assert(Maintenance.readTable(spark, dst).count() == 40)
    assert(Maintenance.readAsOf(spark, dst, 2).count() == 20)
    val hist = Maintenance.history(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(hist.head == (4L, "clone"), s"history leads with clone: ${hist.toSeq}")
    assert(hist.count(_._2 == "append") == 4)
    // divergence: append to clone — source untouched
    Maintenance.commitAppend(spark, dst,
      spark.range(100L, 110L).toDF("id").coalesce(1))
    assert(Maintenance.readTable(spark, dst).count() == 50)
    assert(Maintenance.readTable(spark, src).count() == 40)
    assert(Maintenance.readVersion(src) == 4)
    // divergence: delete on source — clone untouched
    val res = Maintenance.deleteRange(spark, src, "id", 0.0, 9.0)
    assert(res.rowsDeleted == 10)
    assert(Maintenance.readTable(spark, src).count() == 30)
    assert(Maintenance.readTable(spark, dst).count() == 50)
    // stronger-than-Delta: vacuum/reclaim on the source cannot break the
    // clone — the shared inodes stay alive through the clone's links
    Maintenance.compact(spark, src, 1)
    assert(Maintenance.vacuum(src,
      System.currentTimeMillis() + 3600000L) >= 0)
    assert(Maintenance.readTable(spark, dst).count() == 50)
    assert(Maintenance.readAsOf(spark, dst, 1).count() == 10)
    // guard: cloning over a non-empty destination is refused
    intercept[IllegalArgumentException] {
      Maintenance.shallowClone(src, dst)
    }
    // SQL surface
    val dst2 = src.stripSuffix("/t") + "/clone2"
    val m = graft.operators.GraftSql.run(spark,
      s"CREATE TABLE `$dst2` SHALLOW CLONE `$src`").first()
    assert(m.getString(0) == "SHALLOW CLONE")
    assert(Maintenance.readTable(spark, dst2).count() == 30)
    // VERSION AS OF: clone the CLONE's v2 state (the clone kept full
    // history even after the source compacted it away) — 20 rows;
    // the as-of source itself is untouched
    val dst3 = src.stripSuffix("/t") + "/clone3"
    graft.operators.GraftSql.run(spark,
      s"CREATE TABLE `$dst3` SHALLOW CLONE `$dst` VERSION AS OF 2")
    assert(Maintenance.readTable(spark, dst3).count() == 20)
    assert(Maintenance.readTable(spark, dst).count() == 50)
    // and the rewound clone keeps committing
    Maintenance.commitAppend(spark, dst3,
      spark.range(200L, 205L).toDF("id").coalesce(1))
    assert(Maintenance.readTable(spark, dst3).count() == 25)
  }

  test("data skipping on a FOREIGN-written directory: the planner " +
      "prunes from raw footers via the from-scratch tail reader " +
      "(no graft manifest, no recorded stats)") {
    import spark.implicits._
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-foreign-${UUID.randomUUID()}").getAbsolutePath
    // three single-file appends with disjoint key ranges, written by
    // plain Spark — no commit protocol, no filestats.tsv
    for (i <- 0 until 3)
      (i * 1000 until (i + 1) * 1000)
        .map(k => (k.toLong, k * 2.5, s"r$k")).toDF("k", "v", "s")
        .coalesce(1).write.mode("append").parquet(dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(Maintenance.fileStatsPath(dir))),
      "precondition: the foreign dir must carry no recorded stats")
    val (kept, total) = Maintenance.skippingPlan(dir, "k", 1200, 1300)
    assert(total == 3 && kept.size == 1,
      s"footer-derived skipping kept ${kept.size}/$total")
    // the pruned scan still answers exactly
    val n = Maintenance.scanPruned(spark, dir, "k", 1200, 1300)
      .filter(col("k").between(1200, 1300)).count()
    assert(n == 101)
    // DOUBLE column stats prune too (statDouble path)
    val (keptV, _) = Maintenance.skippingPlan(dir, "v", 0.0, 100.0)
    assert(keptV.size == 1, s"v pruned ${keptV.size}")
    // string columns have no trusted numeric stats: never pruned
    val (keptS, _) = Maintenance.skippingPlan(dir, "s", 0, 10)
    assert(keptS.size == 3)
    // out-of-range window prunes everything; the scan stays correct
    val (keptNone, _) = Maintenance.skippingPlan(dir, "k", 9000, 9999)
    assert(keptNone.isEmpty)
    assert(Maintenance.scanPruned(spark, dir, "k", 9000, 9999)
      .count() == 0)
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
  }

  test("compact on a coin_id-partitioned table names every rewritten " +
      "file uniquely: graftpq per-coin filters and DV deletes stay right") {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pcompact-${UUID.randomUUID()}/t").getAbsolutePath
    val bars = spark.range(0, 2000).toDF("id")
      .withColumn("coin_id", (col("id") % 8).cast("int"))
      .withColumn("px", col("id") * 0.5)
    Maintenance.commitAppend(spark, p, bars.filter(col("id") < 1000),
      partitionBy = Seq("coin_id"))
    Maintenance.commitAppend(spark, p, bars.filter(col("id") >= 1000))
    Maintenance.compact(spark, p, targetFiles = 1)
    val names = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(names.size == 8 && names.distinct.size == 8,
      s"one uniquely named file per partition: $names")
    for (c <- 0 until 8) {
      def stats(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("coin_id") === c).agg(count(lit(1)), sum("id"))
          .first().toSeq
      val want = stats(Maintenance.readTable(spark, p))
      assert(want.head == 250L)
      assert(stats(spark.read.format("graftpq").load(p)) == want,
        s"coin $c")
    }
    val dv = Maintenance.deleteWithVectors(spark, p, col("id") % 10 === 0)
    assert(dv.rowsDeleted == 200L)
    assert(Maintenance.applyDeleteVectors(spark, p) == 4) // even coins
    Maintenance.deleteWhere(spark, p, col("id") % 10 === 1)
    val left = Maintenance.readTable(spark, p)
    assert(left.count() == 1600L)
    assert(left.filter(col("id") % 10 <= 1).count() == 0L)
    assert(spark.read.format("graftpq").load(p)
      .filter(col("coin_id") === 3).count() == 200L)
    graft.streaming.WorkDirs.deleteRecursively(
      new java.io.File(p).getParentFile)
  }

  private def tmpTable(tag: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-$tag-${UUID.randomUUID()}/t").getAbsolutePath

  /** Rows of `df` over `cols`, as sorted strings (order-free equality). */
  private def rowsOf(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  /** The task count of every stage `body` ran. Listener events arrive
    * asynchronously; a marker job run after `body` bounds the wait, since
    * once its start is delivered every earlier event has been too.
    */
  private def stageTasks(body: => Any): Seq[Int] = {
    import org.apache.spark.scheduler._
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val marker = s"stage-probe-${UUID.randomUUID()}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        tasks.add(e.stageInfo.numTasks)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == marker))
          seen.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      tasks.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("DML reads the walked file list: no per-file listing job on a " +
      "partitioned table, results equal plain DataFrame operations") {
    val p = tmpTable("nolist")
    // 12 small appends x 8 coin partitions = 96 live files
    for (i <- 0 until 12)
      Maintenance.commitAppend(spark, p, spark.range(i * 80L, (i + 1) * 80L)
        .toDF("id").withColumn("coin_id", (col("id") % 8).cast("int"))
        .withColumn("px", col("id") * 0.5).coalesce(1),
        partitionBy = Seq("coin_id"))
    val cols = Seq("id", "coin_id", "px")
    type Df = org.apache.spark.sql.DataFrame
    def check(op: String, expect: Df => Df)(run: => Any): Unit = {
      val live = Maintenance.liveFileListing(p).get.size
      assert(live >= 64, s"$op: only $live live files")
      val want = rowsOf(expect(Maintenance.readTable(spark, p)), cols)
      val tasks = stageTasks(run)
      assert(tasks.forall(_ < live),
        s"$op ran a stage with ${tasks.max} tasks over $live live files " +
          s"(a per-file listing job): $tasks")
      assert(rowsOf(Maintenance.readTable(spark, p), cols) == want, op)
      assert(Maintenance.readTable(spark, p).schema("coin_id").dataType ==
        org.apache.spark.sql.types.IntegerType, op)
    }
    check("deleteWhere", _.filter(col("coin_id") =!= 3)) {
      assert(Maintenance.deleteWhere(spark, p, col("coin_id") === 3)
        .rowsDeleted == 120L)
    }
    val upd = col("coin_id") === 5 && col("id") > 400
    check("updateWhere", _.withColumn("px",
        when(upd, col("px") + 1000).otherwise(col("px")))) {
      assert(Maintenance.updateWhere(spark, p, upd,
        Map("px" -> (col("px") + 1000))).rowsUpdated == 70L)
    }
    val dvPred = col("coin_id") === 1 && col("id") % 3 === 0
    check("deleteWithVectors", _.filter(!dvPred)) {
      assert(Maintenance.deleteWithVectors(spark, p, dvPred)
        .rowsDeleted == 40L)
    }
    check("applyDeleteVectors", identity) {
      assert(Maintenance.applyDeleteVectors(spark, p) == 12)
    }
    // 5 old keys (107 in the deleted coin 3 and 105 DV-deleted, so both
    // insert) + 3 new
    val src = spark.createDataFrame(
      (Seq(100L, 101L, 102L, 105L, 107L) ++ Seq(9000L, 9001L, 9002L))
        .map(id => (id, (id % 8).toInt, -1.0))).toDF(cols: _*)
    check("mergeInto", df =>
        df.join(src.select("id"), Seq("id"), "left_anti").unionByName(src)) {
      assert(Maintenance.mergeInto(spark, p, src, "id").rowsInserted == 5L)
    }
    check("compactWhere", identity) {
      assert(Maintenance.compactWhere(spark, p, "coin_id", 0.0, 2.0,
        targetFiles = 1) > 3)
    }
    graft.streaming.WorkDirs.deleteRecursively(
      new java.io.File(p).getParentFile)
  }

  test("DML with a NULL-valued predicate: NULL rows stay unchanged and " +
      "the CDC files hold only the matched rows") {
    def fresh(): String = {
      val p = tmpTable("nullpred")
      for (lo <- Seq(0L, 10L))
        Maintenance.commitAppend(spark, p, spark.range(lo, lo + 10).toDF("id")
          .withColumn("x", when(col("id") % 4 =!= 0, col("id")))
          .withColumn("tag", lit("orig")).coalesce(1))
      p
    }
    val cols = Seq("id", "x", "tag")
    val pred = col("x") > 5
    def changes(p: String) = {
      val v = Maintenance.readVersion(p)
      Maintenance.readChangesBetween(spark, p, v - 1, v)
    }
    // 20 rows; x is NULL on 0, 4, 8, 12, 16; x > 5 on 11 rows
    val matched = 11L
    val d = fresh()
    val dWant = rowsOf(Maintenance.readTable(spark, d)
      .filter(col("x").isNull || col("x") <= 5), cols)
    assert(Maintenance.deleteWhere(spark, d, pred).rowsDeleted == matched)
    assert(rowsOf(Maintenance.readTable(spark, d), cols) == dWant)
    val dCdc = changes(d)
    assert(dCdc.count() == matched && dCdc.filter(!pred).count() == 0L)

    val u = fresh()
    val uWant = rowsOf(Maintenance.readTable(spark, u).withColumn("tag",
      when(pred, lit("upd")).otherwise(col("tag"))), cols)
    assert(Maintenance.updateWhere(spark, u, pred, Map("tag" -> lit("upd")))
      .rowsUpdated == matched)
    assert(rowsOf(Maintenance.readTable(spark, u), cols) == uWant)
    val uCdc = changes(u)
    assert(uCdc.count() == 2 * matched && uCdc.filter(!pred).count() == 0L)

    val v = fresh()
    assert(Maintenance.deleteWithVectors(spark, v, pred).rowsDeleted ==
      matched)
    assert(rowsOf(Maintenance.readTable(spark, v), cols) == dWant)
    val vCdc = changes(v)
    assert(vCdc.count() == matched && vCdc.filter(!pred).count() == 0L)
    Seq(d, u, v).foreach(t => graft.streaming.WorkDirs.deleteRecursively(
      new java.io.File(t).getParentFile))
  }

  test("DML keeps partition values and types: escaped strings, NULL " +
      "partitions and date partitions") {
    import org.apache.spark.sql.Column
    // (partition column, its value per id, a predicate naming one escaped /
    // NULL / date value for each of delete, update and DV delete)
    case class Case(name: String, part: Column, del: Column, upd: Column,
        dv: Column)
    val s = Seq("a b", "x/y", "k=v", "50%", "plain")
    val sCol = element_at(array(s.map(lit): _*), (col("id") % 5 + 1).cast("int"))
    val cases = Seq(
      Case("s", sCol, col("s") === "x/y", col("s") === "a b" && col("id") > 20,
        col("s") === "k=v" || col("s") === "50%"),
      Case("c", when(col("id") % 3 =!= 0, (col("id") % 3).cast("int")),
        col("c").isNull && col("id") % 2 === 0, col("c").isNull,
        col("c") === 1 && col("id") < 30),
      Case("d", date_add(lit("2024-02-27").cast("date"),
          (col("id") % 4).cast("int")),
        col("d") === lit("2024-02-29").cast("date"),
        col("d") === lit("2024-03-01").cast("date") && col("id") % 2 === 1,
        col("d") === lit("2024-02-27").cast("date")))
    for (c <- cases) {
      val p = tmpTable(s"ppar-${c.name}")
      for (lo <- Seq(0L, 20L))
        Maintenance.commitAppend(spark, p, spark.range(lo, lo + 20).toDF("id")
          .withColumn(c.name, c.part).withColumn("v", col("id") * 10)
          .coalesce(1), partitionBy = Seq(c.name))
      val cols = Seq("id", c.name, "v")
      val partType = Maintenance.readTable(spark, p).schema(c.name).dataType
      def step(op: String, expect: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame)(run: => Long): Unit = {
        val before = Maintenance.readTable(spark, p)
        val want = rowsOf(expect(before), cols)
        assert(run > 0L, s"${c.name}/$op matched nothing")
        val after = Maintenance.readTable(spark, p)
        assert(rowsOf(after, cols) == want, s"${c.name}/$op")
        assert(after.schema(c.name).dataType == partType, s"${c.name}/$op")
      }
      step("deleteWhere", _.filter(!coalesce(c.del, lit(false)))) {
        Maintenance.deleteWhere(spark, p, c.del).rowsDeleted
      }
      step("updateWhere", _.withColumn("v",
          when(coalesce(c.upd, lit(false)), col("v") + 1).otherwise(col("v")))) {
        Maintenance.updateWhere(spark, p, c.upd,
          Map("v" -> (col("v") + 1))).rowsUpdated
      }
      step("deleteWithVectors", _.filter(!coalesce(c.dv, lit(false)))) {
        Maintenance.deleteWithVectors(spark, p, c.dv).rowsDeleted
      }
      step("applyDeleteVectors", identity) {
        Maintenance.applyDeleteVectors(spark, p).toLong
      }
      graft.streaming.WorkDirs.deleteRecursively(
        new java.io.File(p).getParentFile)
    }
  }
}
