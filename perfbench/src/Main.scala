package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark driver, started by `perfbench/run.py`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --result FILE --record FILE [--spans FILE]
  *   perfbench.Main --selftest 1 --work DIR --result FILE
  *   perfbench.Main --warm 1 --work DIR
  *
  * A run writes its one-line result JSON to `--result`, and a full record
  * (every metric with unit, sample count and statistic, plus seed, nproc,
  * JVM/Spark versions and a host tag) to `--record`.
  */
object Main {

  val workloads: Seq[String] = Seq("tick_stream", "tick_backlog",
    "lakehouse_serving")

  /** Per-layer metrics of the traced run; a layer a workload does not
    * exercise reports 0 with a sample count of 0.
    */
  val layerUnits: Seq[(String, String)] = {
    val trig = for (hop <- Seq("bronze", "fact");
      k <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
        "walCommit")) yield s"streaming.$hop.trigger_ms.$k" -> "ms"
    Seq("streaming.bronze_hop_s" -> "s", "streaming.fact_hop_s" -> "s") ++
      trig ++ Seq(
      "streaming.start_stop_s" -> "s", "streaming.ticks_per_cycle" -> "count",
      "streaming.state_rows" -> "count",
      "streaming.ticks_in_limit_frac" -> "frac",
      "tables.footer_schema_s" -> "s") ++
      Seq("merge", "update", "delete", "dv_delete", "apply_dv", "compact",
        "vacuum", "history").map(k => s"maintenance.${k}_s" -> "s") ++ Seq(
      "maintenance.files_added_per_op" -> "count",
      "maintenance.bytes_written_per_op" -> "B",
      "maintenance.log_files" -> "count", "maintenance.live_files" -> "count",
      "graftpq.plan_s" -> "s", "graftpq.exec_s" -> "s",
      "graftpq.rows_scanned_per_row_returned" -> "ratio",
      "graftpq.append_s" -> "s", "graftpq.vs_builtin_ratio" -> "ratio",
      "footer.read_tail_ms" -> "ms",
      "codec.snappy.decode_mb_s" -> "MB/s",
      "codec.snappy.lib_decode_mb_s" -> "MB/s",
      "codec.zstd.decode_mb_s" -> "MB/s",
      "codec.zstd.lib_decode_mb_s" -> "MB/s",
      "codec.snappy.encode_mb_s" -> "MB/s",
      "codec.snappy.compression_ratio" -> "ratio",
      "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.driver_gap_s" -> "s", "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
      "gen.lag_max_s" -> "s", "host.steal_frac" -> "frac",
      "trace.overhead_frac" -> "frac")
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      e2e: Seq[Metric], layer: Seq[Metric],
      gates: Seq[(String, Boolean, String)])

  def session(work: File, cores: Int): SparkSession = {
    val spark = graft.util.LocalIo.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath))
      .getOrCreate()
    graft.util.LocalIo.relaxLocalChecksums(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    val hwm = if (!f.exists()) None else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      finally src.close()
    }
    hwm.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
  }

  def runOne(spark: SparkSession, workload: String, seed: Long,
      seconds: Int, trace: Boolean, work: File, tiny: Boolean,
      plant: String, sessionS: Double): (Result, Ctx) = {
    work.mkdirs()
    val ctx = new Ctx(spark, seed, seconds, trace, work, tiny, plant)
    val w: Workload = workload match {
      case "tick_stream" => new TickStream(ctx)
      case "tick_backlog" => new TickBacklog(ctx)
      case "lakehouse_serving" => new ServingWorkload(ctx)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; expected one of ${workloads.mkString(", ")}")
    }
    val t0 = System.currentTimeMillis()
    def phase(name: String): Unit = System.err.println(
      f"[perfbench] $workload%s: $name%s at ${(System.currentTimeMillis() - t0) / 1000.0}%.1fs")
    w.setup()
    phase(s"set-up done (reps ${ctx.setupS.map(x => f"$x%.2f").mkString(" ")})")
    val cpu0 = ctx.cpuTicks
    val gc0 = ctx.gcMs
    val jit0 = ctx.jitMs
    w.measure(System.currentTimeMillis() + seconds * 1000L)
    val gcS = (ctx.gcMs - gc0) / 1000.0
    val cpu1 = ctx.cpuTicks
    // CPU time the hypervisor gave to other guests: flags a contended host
    val stealFrac = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
    val jitS = (ctx.jitMs - jit0) / 1000.0
    phase("measure done")
    val out = w.finish()
    ctx.tracer.settle()
    phase("gates and layers done")

    val ops = ctx.ops.toSeq
    val failed = ops.count(!_.ok)
    val reads = ops.filter(o => o.cls == "read" && o.ok).map(_.wallS)
    val e2e = Seq(
      Metric("setup_s", sessionS + Stats.median(ctx.setupS.toSeq), "s",
        ctx.setupS.size, "p50"),
      Metric("ops_ok_frac", (ops.size - failed).toDouble / math.max(1, ops.size),
        "frac", ops.size, "share"),
      Metric("peak_rss_mb", peakRssMb(), "MB", 1, "max"),
      Stats.p50("tick_to_fact_p50_s", out.latency, "s"),
      Stats.tailMetric("tick_to_fact_tail_s", out.latency, "s"),
      Stats.p50("backlog_ticks_per_s", out.throughput, "1/s"),
      Stats.p50("read_p50_s", reads, "s"),
      Stats.tailMetric("read_tail_s", reads, "s"),
      Stats.p50("commit_p50_s", out.commits, "s"),
      Stats.tailMetric("commit_tail_s", out.commits, "s"),
      Metric("serving_ops_per_s", out.opsPerS, "1/s", ops.size, "ratio"),
      Metric("table_bytes_per_live_byte", out.tableRatio, "ratio", 1, "once"))

    if (trace) {
      Reads.layerMetrics(ctx)
      val traced = ops.filter(_.traced)
      ctx.put(Stats.p50("spark.jobs_per_op",
        traced.map(o => ctx.tracer.jobsIn(o).size.toDouble), "count"))
      ctx.put(Stats.p50("spark.tasks_per_op",
        traced.map(o => ctx.tracer.tasksIn(o).toDouble), "count"))
      ctx.put(Stats.p50("spark.driver_gap_s",
        traced.map(ctx.tracer.driverGapS), "s"))
      // untraced ops of the same kind are the control
      val ratios = ops.filter(_.ok).groupBy(_.kind).values.flatMap { os =>
        val (t, u) = os.partition(_.traced)
        if (t.nonEmpty && u.nonEmpty)
          Some(Stats.median(t.map(_.wallS)) / Stats.median(u.map(_.wallS)))
        else None
      }.toSeq
      ctx.put(Metric("trace.overhead_frac", Stats.median(ratios) - 1.0,
        "frac", ratios.size, "p50"))
    }
    ctx.put(Metric("jvm.gc_s", gcS, "s", 1, "sum"))
    ctx.put(Metric("jvm.jit_s", jitS, "s", 1, "sum"))
    ctx.put(Metric("host.steal_frac", stealFrac, "frac", 1, "share"))
    val layer = layerUnits.map { case (name, unit) =>
      ctx.layer.get(name).map(_.copy(unit = unit))
        .getOrElse(Metric(name, 0.0, unit, 0, "n/a"))
    }
    ctx.tracer.close()
    val correct = ctx.gates.forall(_._2)
    (Result(correct, ops.size, failed, e2e, layer, ctx.gates.toSeq), ctx)
  }

  def resultLine(r: Result, trace: Boolean): String = {
    val ms = (if (trace) r.layer else r.e2e).map { m =>
      s"${Json.str(m.name)}: {${"\"value\""}: ${Json.num(m.value)}, " +
        s"${"\"unit\""}: ${Json.str(m.unit)}}"
    }
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def metricJson(m: Metric): String =
    s"""{"name": ${Json.str(m.name)}, "value": ${Json.num(m.value)}, """ +
      s""""unit": ${Json.str(m.unit)}, "n": ${m.n}, "stat": ${Json.str(m.stat)}}"""

  def record(r: Result, ops: Seq[OpRec], fields: Seq[(String, String)])
      : String = {
    val gates = r.gates.map { case (n, ok, d) =>
      s"""{"gate": ${Json.str(n)}, "ok": $ok, "detail": ${Json.str(d)}}""" }
    (fields.map { case (k, v) => s"  ${Json.str(k)}: $v" } ++ Seq(
      s"""  "correct": ${r.correct}""",
      s"""  "attempted": ${r.attempted}""",
      s"""  "failed": ${r.failed}""",
      s"""  "end_to_end": [\n    ${r.e2e.map(metricJson).mkString(",\n    ")}\n  ]""",
      s"""  "per_layer": [\n    ${r.layer.map(metricJson).mkString(",\n    ")}\n  ]""",
      s"""  "gates": [\n    ${gates.mkString(",\n    ")}\n  ]""",
      s"""  "ops": [\n    ${ops.map(o => s"[${Json.str(o.kind)}, ${Json.num(o.wallS)}, ${o.ok}]").mkString(",\n    ")}\n  ]"""))
      .mkString("{\n", ",\n", "\n}\n")
  }

  def write(path: String, text: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, text.getBytes("UTF-8"))
  }

  /** Tiny runs of every workload, then planted wrong references that
    * each gate must reject. One JSON line per case in `--result`.
    */
  def selftest(spark: SparkSession, work: File, sessionS: Double): Seq[String] = {
    val cases = workloads.map(w => (w, "")) ++ Seq(
      "tick_stream" -> "tick_file", "tick_backlog" -> "tick_file",
      "lakehouse_serving" -> "dml_count",
      "lakehouse_serving" -> "dashboard", "lakehouse_serving" -> "graftpq")
    cases.zipWithIndex.map { case ((w, plant), i) =>
      val (r, _) = runOne(spark, w, 7L + i, 3, trace = true,
        new File(work, s"case$i"), tiny = true, plant, sessionS)
      val failedGates = r.gates.filterNot(_._2).map(g => Json.str(g._1))
      val units = (r.e2e ++ r.layer).map(m =>
        s"${Json.str(m.name)}: ${Json.str(m.unit)}")
      System.err.println(s"[perfbench] selftest $w plant='$plant' " +
        s"correct=${r.correct} failed_ops=${r.failed}")
      s"""{"workload": ${Json.str(w)}, "plant": ${Json.str(plant)}, """ +
        s""""correct": ${r.correct}, "attempted": ${r.attempted}, """ +
        s""""failed": ${r.failed}, "failed_gates": [${failedGates.mkString(", ")}], """ +
        s""""units": {${units.mkString(", ")}}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = new File(a("work")).getAbsoluteFile
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val spark = session(work, cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    try {
      if (a.get("selftest").contains("1"))
        write(a("result"), selftest(spark, new File(work, "selftest"),
          sessionS).mkString("", "\n", "\n"))
      else if (a.get("warm").contains("1"))
        // loads the classes every run needs, for the build's class-data
        // sharing archive; results are discarded
        Seq("tick_stream", "lakehouse_serving").zipWithIndex.foreach {
          case (w, i) => runOne(spark, w, 1L, 3, trace = true,
            new File(work, s"warm$i"), tiny = true, "", sessionS)
        }
      else {
        val workload = a("workload")
        val seed = a("seed").toLong
        val seconds = a("seconds").toInt
        val trace = a("trace") == "1"
        val (r, ctx) = runOne(spark, workload, seed, seconds, trace,
          new File(work, "run"), tiny = false, plant = "", sessionS)
        a.get("spans").foreach(p => ctx.tracer.writeSpans(new File(p), ctx.ops.toSeq))
        val hostTag =
          if (cores >= 32) "32-core bench host"
          else s"not the 32-core bench host ($cores cores)"
        write(a("record"), record(r, ctx.ops.toSeq, Seq(
          "workload" -> Json.str(workload), "seed" -> seed.toString,
          "seconds" -> seconds.toString, "trace" -> trace.toString,
          "nproc" -> cores.toString,
          "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
            System.getProperty("java.version")),
          "spark" -> Json.str(spark.version),
          "host" -> Json.str(hostTag))))
        write(a("result"), resultLine(r, trace) + "\n")
      }
    } finally spark.stop()
  }
}
