package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.app.Application
import graft.compute.SqlSlot
import graft.routing.{ExecutionContext, Route, RouteHooks}

/** One completion event fed through `Application.processPath`. */
final case class EventRec(op: Long, day: String, start: Long, end: Long,
                          traced: Boolean, gcMs: Long, completed: List[String],
                          error: Option[String]) {
  def ms: Double = (end - start) / 1e6
}

/** Route hooks that record one `compute.exec` span per execution, from
  * `onExecBegin` to `onExecSuccess`/`onExecFailure`, under the root span
  * of the event being processed. */
final class ExecHooks(tracer: Tracer) extends RouteHooks {
  @volatile var op: Long = -1L
  private val open = new ConcurrentHashMap[String, Integer]()
  private def key(route: Route, ctx: ExecutionContext) =
    route.id + "\u0000" + ctx.output.materializedPaths.mkString(",")

  override def onExecBegin(route: Route, ctx: ExecutionContext): Unit =
    if (tracer.enabled && op >= 0)
      open.put(key(route, ctx), tracer.open(EventDag.ExecSpan, tracer.rootOf(op), op))

  private def finish(route: Route, ctx: ExecutionContext): Unit = {
    val id = open.remove(key(route, ctx))
    if (id != null) tracer.close(id)
  }
  override def onExecSuccess(route: Route, ctx: ExecutionContext): Unit = finish(route, ctx)
  override def onExecFailure(route: Route, ctx: ExecutionContext, e: Throwable): Unit =
    finish(route, ctx)
}

/** The `event_dag` workload: the flagship two-node DAG of
  * `graft.Pipeline.build` (a ranged, completion-checked SQL node and a
  * downstream Scala node) plus a third node reading the first node's
  * output as `latest(7).rangeCheck()`. One completion event per staged
  * day is fed in day order, closed loop; an event's latency runs from the
  * `processPath` call until it returns with every cascaded completion. */
object EventDag {
  /** Untimed events before the window. The weekly node first runs on the
    * seventh event, and events keep getting faster for about ten more;
    * with fewer, the window's median depends on how far warm-up got. */
  val WarmupEvents = 16
  val EventSpan = "app.process_path"
  val ExecSpan = "compute.exec"
  /** Events per pass: one window of the weekly node's `_:-7` range. */
  val PassEvents = 7

  private val WeeklySql =
    """SELECT '{day}' AS day, o_orderstatus,
              CAST(SUM(order_cnt) AS BIGINT) AS order_cnt,
              CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM daily_revenue GROUP BY o_orderstatus"""

  def run(args: RunArgs): Outcome = {
    val spark = Session.create(args.cores, args.workDir)
    val sessionReady = Clock.now()
    val tracer = new Tracer
    val metrics = SparkMetrics.install(spark.sparkContext, tracer)
    val hooks = new ExecHooks(tracer)
    // the staged source lives in the input cache; the app root is fresh
    val work = s"${args.dataDir}/work"
    deleteRecursively(new java.io.File(s"$work/app"))
    val (app, _, _, _) = graft.Pipeline.build(spark, args.dataDir, work, rangeDays = 2)
    val daily = app.getData("daily_revenue").get
    app.createData("weekly_revenue", Seq(daily.latest(7).rangeCheck()),
      Seq(SqlSlot(WeeklySql)), hooks = hooks)
    Seq("daily_revenue", "status_summary").foreach(app.patchData(_, hooks = hooks))
    app.activate()
    val declared = Clock.now()

    val source = s"$work/source/orders_daily"
    val days = new java.io.File(source).list().filter(_.matches("\\d{4}-\\d{2}-\\d{2}")).sorted
    // the first staged day is history: only the range of the first event reads it
    val eventDays = days.drop(1).toIndexedSeq
    val run = drive(app, eventDays.map(d => s"$source/$d"), eventDays,
      WarmupEvents, args.seconds, args.trace, tracer, metrics, hooks, spark)
    SparkMetrics.drain(spark.sparkContext)
    val heapMb = Jvm.retainedHeapMb()

    val processed = (run.warmup ++ run.timed).filter(_.error.isEmpty).map(_.day)
    val expectedExecs = (run.warmup ++ run.timed).zipWithIndex.map { case (r, i) =>
      r.op -> (if (i >= 6) 3 else 2) }.toMap
    val bad = checkOutputs(spark, source, s"$work/app/internal_data", days.head,
      processed)
    val failedOps = run.timed.filter(r =>
      r.error.isDefined || bad.contains(r.day) || r.completed.length != expectedExecs(r.op))
    val badWarmup = run.warmup.filter(r => r.error.isDefined || bad.contains(r.day))

    // every run of PassEvents consecutive timed events is a pass, so the
    // median uses every event of a window that holds only a few passes
    val passes = run.timed.map(_.ms / 1000).sliding(PassEvents)
      .filter(_.length == PassEvents).map(_.sum).toSeq
    val (e2e, e2eDetails) = EndToEnd.metrics(
      setupS = (run.windowStart - args.setupStart) / 1e9,
      opMs = run.timed.map(_.ms), windowS = run.windowS, passS = passes, heapMb = heapMb)
    val layers = if (args.trace) layerMetrics(run.timed, tracer, metrics, spark) else Nil
    tracer.write(s"${args.workDir}/spans.tsv")
    deleteRecursively(new java.io.File(s"$work/app"))
    Outcome(e2e, layers, attempted = run.timed.length, failed = failedOps.length,
      correct = failedOps.isEmpty && badWarmup.isEmpty,
      details = e2eDetails ++ Seq(
        "session_s" -> (sessionReady - args.setupStart) / 1e9,
        "declare_s" -> (declared - sessionReady) / 1e9,
        "warmup_ms" -> run.warmup.map(_.ms),
        "timed_ms" -> run.timed.map(_.ms),
        "warmup_events" -> run.warmup.length,
        "timed_events" -> run.timed.length,
        "traced_events" -> run.timed.count(_.traced),
        "event_days" -> s"${eventDays.headOption.getOrElse("")}..${processed.lastOption.getOrElse("")}",
        "days_available" -> eventDays.length,
        "mismatched_days" -> bad.toSeq.sorted,
        "errors" -> (run.warmup ++ run.timed).flatMap(_.error).take(5)))
  }

  final case class Drive(warmup: Seq[EventRec], timed: Seq[EventRec],
                         windowStart: Long, windowS: Double)

  /** Feed `paths` in order, closed loop: the first `warmup` events warm
    * up, then events run for a window of `seconds` or until the paths
    * run out. With `trace`, every other timed event is traced, so the
    * untraced half gives the traced run its own overhead baseline. */
  def drive(app: Application, paths: IndexedSeq[String], days: IndexedSeq[String],
            warmup: Int, seconds: Double, trace: Boolean, tracer: Tracer,
            metrics: SparkMetrics, hooks: ExecHooks, spark: SparkSession): Drive = {
    def one(i: Int, traced: Boolean): EventRec =
      processOne(app, paths(i), days(i), i.toLong, traced, tracer, metrics, hooks, spark)
    val warm = (0 until math.min(warmup, paths.length)).map(one(_, traced = false))
    // a traced run needs a traced and an untraced event
    val window = new Window(seconds, if (trace) 2 else 1)
    val timed = Vector.newBuilder[EventRec]
    var i = warm.length
    while (i < paths.length && window.more) {
      val r = one(i, traced = trace && (i - warm.length) % 2 == 1)
      window.record(r.end - r.start)
      timed += r
      i += 1
    }
    Drive(warm, timed.result(), window.start, window.elapsedS)
  }

  /** Feed one completion event and time it; `traced` records its spans
    * and Spark use under operation id `op`. */
  def processOne(app: Application, path: String, day: String, op: Long, traced: Boolean,
                 tracer: Tracer, metrics: SparkMetrics, hooks: ExecHooks,
                 spark: SparkSession): EventRec = {
    val sc = spark.sparkContext
    tracer.enabled = traced
    if (traced) SparkMetrics.beginOp(sc, metrics, op)
    hooks.op = op
    val gc0 = Jvm.gcMillis()
    val root = if (traced) tracer.open(EventSpan, -1, op) else -1
    val t0 = Clock.now()
    val (done, err) =
      try (app.processPath(path), None)
      catch { case scala.util.control.NonFatal(e) =>
        (Nil, Some(s"$day: ${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val t1 = Clock.now()
    if (traced) {
      tracer.close(root)
      SparkMetrics.endOp(sc, metrics)
    }
    tracer.enabled = false
    hooks.op = -1L
    EventRec(op, day, t0, t1, traced, Jvm.gcMillis() - gc0, done, err)
  }

  /** Per-layer figures from the traced events of a run. */
  def layerMetrics(timed: Seq[EventRec], tracer: Tracer, metrics: SparkMetrics,
                   spark: SparkSession): Seq[Metric] = {
    val traced = timed.filter(_.traced)
    val untraced = timed.filterNot(_.traced)
    if (traced.isEmpty) return Nil
    val spans = tracer.all.groupBy(_.op)
    val execs = traced.map(r =>
      spans.getOrElse(r.op, Nil).filter(_.name == ExecSpan).map(_.interval))
    val execMs = traced.zip(execs).map { case (r, iv) => Stats.covered(r.start, r.end, iv) / 1e6 }
    val dispatchMs = traced.zip(execs).map { case (r, iv) => Stats.selfTime(r.start, r.end, iv) / 1e6 }
    val uses = traced.map(r => metrics.useOf(r.op))
    val driverMs = traced.zip(uses).map { case (r, u) =>
      Stats.selfTime(r.start, r.end, u.jobIntervals) / 1e6 }
    val (files, bytes) = outputFiles(spark, traced.flatMap(_.completed))
    val n = traced.length.toDouble
    Seq(
      Metric("routing.dispatch_ms_p50", Stats.median(dispatchMs), "ms"),
      Metric("compute.exec_ms_p50", Stats.median(execMs), "ms"),
      Metric("app.execs_per_event", execs.map(_.length).sum / n, "count"),
      Metric("io.output_files_per_event", files / n, "count"),
      Metric("io.output_bytes_per_event", bytes / n, "bytes"),
      Metric("spark.jobs_per_event", uses.map(_.jobs).sum / n, "count"),
      Metric("spark.tasks_per_event", uses.map(_.tasks).sum / n, "count"),
      Metric("spark.job_ms_per_event", uses.map(_.jobMs).sum / n, "ms"),
      Metric("driver.ms_per_event", driverMs.sum / n, "ms"),
      Metric("jvm.gc_ms_per_event", traced.map(_.gcMs).sum / n, "ms"),
      Metric("trace.overhead_pct", Stats.overheadPct(traced.map(_.ms), untraced.map(_.ms)), "%"))
  }

  private def outputFiles(spark: SparkSession, dirs: Seq[String]): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    var files = 0L
    var bytes = 0L
    dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val it = p.getFileSystem(conf).listFiles(p, true)
      while (it.hasNext) { val f = it.next(); files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  private def shift(c: Column, days: Int): Column =
    date_format(date_add(to_date(c), days), "yyyy-MM-dd")

  /** Recompute every output partition of the processed `days` from the
    * staged source with plain DataFrame code and compare. Returns the days
    * whose outputs are missing or differ. */
  def checkOutputs(spark: SparkSession, source: String, outRoot: String,
                   historyDay: String, days: Seq[String]): Set[String] = {
    if (days.isEmpty) return Set.empty
    val weeklyDays = days.drop(6)
    val fs = new org.apache.hadoop.fs.Path(outRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def out(node: String, d: String) = s"$outRoot/$node/$d"
    val nodes = Seq("daily_revenue" -> days, "status_summary" -> days,
      "weekly_revenue" -> weeklyDays)
    val missing = nodes.flatMap { case (node, ds) =>
      ds.filterNot(d => fs.exists(new org.apache.hadoop.fs.Path(out(node, d), "_SUCCESS")))
    }.toSet
    val src = spark.read.parquet((historyDay +: days).map(d => s"$source/$d"): _*)
      .withColumn("d", date_format(col("o_orderdate"), "yyyy-MM-dd"))
    // the daily node's output for day e covers source days e-1 and e
    val dailyRows = src.withColumn("e", explode(array(col("d"), shift(col("d"), 1))))
      .where(col("e").isin(days: _*))
    def agg(df: DataFrame, dayCol: String) =
      df.groupBy(col(dayCol).as("day"), col("o_orderstatus"))
        .agg(count(lit(1)).as("order_cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
    val expDaily = agg(dailyRows, "e")
    val expSummary = expDaily.withColumn("avg_order",
      (col("total") / col("order_cnt")).cast("double"))
    val expWeekly = agg(dailyRows
      .withColumn("w", explode(sequence(lit(0), lit(6)).cast("array<int>")))
      .withColumn("w", date_format(expr("date_add(to_date(e), w)"), "yyyy-MM-dd"))
      .where(col("w").isin(weeklyDays: _*)), "w")
    val expected = Map("daily_revenue" -> expDaily, "status_summary" -> expSummary,
      "weekly_revenue" -> expWeekly)
    val differing = nodes.filter(_._2.exists(d => !missing.contains(d))).flatMap {
      case (node, ds) =>
        val present = ds.filterNot(missing.contains)
        val exp = expected(node).where(col("day").isin(present: _*))
        val got = spark.read.parquet(present.map(out(node, _)): _*).select(exp.columns.map(col): _*)
        got.exceptAll(exp).unionAll(exp.exceptAll(got)).select("day").distinct()
          .collect().map(_.getString(0)).toSeq
    }
    missing ++ differing
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
