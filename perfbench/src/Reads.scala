package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.operators.Maintenance

/** Dashboard queries over a silver fact table (coin_id, date_id, time_id,
  * price, market_cap, change_percent_last_day, average_1minute), shaped
  * like the reference's Superset charts. Each one has a total order, so
  * two readers must return the same rows in the same order.
  */
final case class Dashboard(shape: String, args: String,
    build: DataFrame => DataFrame)

/** What a table holds, for picking query parameters. */
final case class Domain(coins: IndexedSeq[Int], dates: IndexedSeq[Long])

object Reads {

  val shapes: Seq[String] =
    Seq("latest", "range", "topn", "ohlc", "change", "stats")

  /** Dashboard pages of nine reads: two whole-table scans and seven
    * per-coin reads each, the shapes rotating from page to page.
    * Whole-table scans take several times longer than per-coin reads, so
    * an order statistic that falls near the boundary between the two
    * groups jumps from run to run; with seven of nine reads per-coin, the
    * median falls well inside the per-coin group.
    */
  def page(i: Int): Seq[String] =
    Seq(wholeTable(i % 3), wholeTable((i + 1) % 3)) ++ perCoin ++ perCoin :+
      perCoin(i % 3)

  val wholeTable: Seq[String] = Seq("latest", "topn", "change")
  val perCoin: Seq[String] = Seq("range", "ohlc", "stats")

  def dashboard(shape: String, d: Domain, rng: scala.util.Random)
      : Dashboard = {
    def coin = d.coins(rng.nextInt(d.coins.size))
    def date = d.dates(rng.nextInt(d.dates.size))
    shape match {
      case "latest" => Dashboard(shape, "", _.groupBy("coin_id")
        .agg(max_by(col("price"), col("date_id") * 1000000L + col("time_id"))
          .as("price"))
        .orderBy("coin_id"))
      case "range" =>
        val (c, dt) = (coin, date)
        val h = rng.nextInt(20)
        Dashboard(shape, s"coin=$c date=$dt hour=$h",
          _.filter(col("coin_id") === c &&
            col("date_id") === dt &&
            col("time_id").between(h * 10000L, (h + 4) * 10000L))
          .select("time_id", "price", "average_1minute")
          .orderBy("time_id"))
      case "topn" =>
        val dt = date
        Dashboard(shape, s"date=$dt", _.filter(col("date_id") === dt)
          .groupBy("coin_id").agg(max("market_cap").as("mc"))
          .orderBy(desc("mc"), asc("coin_id")).limit(10))
      case "ohlc" =>
        val c = coin
        Dashboard(shape, s"coin=$c", _.filter(col("coin_id") === c)
          .groupBy("date_id").agg(
            min_by(col("price"), col("time_id")).as("open"),
            max("price").as("high"), min("price").as("low"),
            max_by(col("price"), col("time_id")).as("close"),
            count(lit(1)).as("bars"))
          .orderBy("date_id"))
      case "change" =>
        val dt = date
        Dashboard(shape, s"date=$dt", _.filter(col("date_id") === dt)
          .groupBy("coin_id")
          .agg(max("change_percent_last_day").as("chg"))
          .orderBy(desc("chg"), asc("coin_id")).limit(10))
      case "stats" =>
        val cs = Seq.fill(3)(coin).distinct
        Dashboard(shape, s"coins=${cs.mkString(",")}",
          _.filter(col("coin_id").isin(cs: _*))
          .agg(count(lit(1)).as("n"), min("price").as("lo"),
            max("price").as("hi")))
    }
  }

  def graftpq(ctx: Ctx, path: String): DataFrame =
    ctx.spark.read.format("graftpq").load(path)

  /** Rows the plan's DSv2 scans produced (after a completed action). */
  def scanRows(plan: SparkPlan): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    nodes(plan).collect { case b: BatchScanExec =>
      b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|"))

  /** One timed dashboard read through graftpq. In a traced op, planning
    * and execution are timed apart, scanned rows are counted, and the
    * same query is then run (untimed by the op) through
    * `Maintenance.readTable` for the graftpq ÷ built-in ratio.
    */
  def timedRead(ctx: Ctx, path: String, q: Dashboard)
      : Option[Seq[Row]] = {
    val traced = ctx.nextTraced("read")
    val (rec, res) = ctx.op(s"read.${q.shape}", "read", traced) {
      if (!traced) q.build(graftpq(ctx, path)).collect().toSeq
      else {
        val df = ctx.tracer.span("graftpq.build", traced) {
          q.build(graftpq(ctx, path))
        }
        val plan = ctx.tracer.span("graftpq.plan", traced) {
          df.queryExecution.executedPlan
        }
        val rows = ctx.tracer.span("graftpq.exec", traced) {
          df.collect().toSeq
        }
        ctx.scanned += scanRows(plan).toDouble / math.max(1, rows.size)
        rows
      }
    }
    if (rec.ok && traced) {
      val (bs, _) = ctx.timeS(
        q.build(Maintenance.readTable(ctx.spark, path)).collect())
      ctx.vsBuiltin += rec.wallS / math.max(1e-9, bs)
    }
    res
  }

  /** Checks `q` returns the same rows through graftpq and through
    * `Maintenance.readTable` (Spark's built-in parquet reader plus the
    * commit log). Runs outside any timed op.
    */
  def parity(ctx: Ctx, path: String, q: Dashboard, plantWrong: Boolean)
      : Unit = {
    val got = canon(q.build(graftpq(ctx, path)).collect().toSeq)
    val want0 = canon(q.build(Maintenance.readTable(ctx.spark, path))
      .collect().toSeq)
    val want = if (plantWrong && want0.nonEmpty)
      want0.updated(0, want0.head + "|planted") else want0
    ctx.gate(s"dashboard.${q.shape}", got == want,
      s"${q.args}: graftpq ${got.take(3)} vs built-in ${want.take(3)}")
  }

  def layerMetrics(ctx: Ctx): Unit = {
    ctx.put(Stats.p50("graftpq.plan_s",
      ctx.tracer.spanSeconds("graftpq.plan"), "s"))
    ctx.put(Stats.p50("graftpq.exec_s",
      ctx.tracer.spanSeconds("graftpq.exec"), "s"))
    ctx.put(Stats.p50("graftpq.rows_scanned_per_row_returned",
      ctx.scanned.toSeq, "ratio"))
    ctx.put(Stats.p50("graftpq.vs_builtin_ratio", ctx.vsBuiltin.toSeq,
      "ratio"))
  }

  /** Order-insensitive digest of a table's rows: the row count, the
    * count of distinct `keys` (when given) and two sums of row hashes.
    */
  def digest(df: DataFrame, keys: Seq[String] = Nil): Seq[Long] = {
    val cs = df.columns.toSeq.map(col)
    val aggs = Seq(count(lit(1)),
      sum(pmod(xxhash64(cs: _*), lit(2147483647L))),
      sum(pmod(hash(cs: _*).cast("long"), lit(2147483629L)))) ++
      (if (keys.isEmpty) Nil else Seq(count_distinct(col(keys.head),
        keys.tail.map(col): _*)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Whole-table row parity: graftpq against `Maintenance.readTable`. */
  def tableParity(ctx: Ctx, path: String, cols: Seq[String],
      plantWrong: Boolean): Unit = {
    // partition values may surface as int or long depending on the reader
    val c: Seq[Column] = cols.map(x =>
      if (x == "coin_id") col(x).cast("long").as(x) else col(x))
    val a = digest(graftpq(ctx, path).select(c: _*))
    val b0 = Maintenance.readTable(ctx.spark, path).select(c: _*)
    val b = digest(if (plantWrong) b0.limit(math.max(0L, b0.count() - 1)
      .toInt) else b0)
    ctx.gate("graftpq_vs_readTable", a == b,
      s"graftpq rows (count, hash sums) $a vs built-in reader $b")
  }
}
