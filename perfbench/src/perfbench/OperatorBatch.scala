package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One query execution inside a sweep. */
final case class QueryRec(op: Long, sweep: Int, name: String, start: Long,
                          end: Long, error: Option[String]) {
  def ms: Double = (end - start) / 1e6
}

/** One pass over the query set. */
final case class SweepRec(index: Int, start: Long, end: Long, traced: Boolean,
                          gcMs: Long, cpuNs: Long, queries: Seq[QueryRec]) {
  def s: Double = (end - start) / 1e9
}

/** The `operator_batch` workload: repeated sweeps over the round-21
  * headline queries and the three text kernels nothing else measures,
  * each run to completion through Spark's noop sink. Read-only: it never
  * touches routing, the application layer or managed writes. The seed
  * shuffles the query order of every sweep; the data is fixed so that
  * every result can be checked against a pinned digest. */
object OperatorBatch {
  val WarmupSweeps = 2
  val SweepSpan = "sweep"
  val QuerySpan = "query"

  /** `fw01_range_union` is left out: it stages its input under a fixed
    * directory outside the run directory. `event_dag` drives the same
    * ranged-union path through the application layer. */
  val Queries: List[String] = Layers.Queries

  def run(args: RunArgs): Outcome = {
    val spark = Session.create(args.cores, args.workDir)
    val sc = spark.sparkContext
    val tracer = new Tracer
    val metrics = SparkMetrics.install(sc, tracer)
    val fns = graft.SparkEntry.queries
    val rng = new scala.util.Random(args.seed)
    var nextOp = 0L

    /** Run every query once, in a seed-shuffled order. A digest sweep
      * folds each result into its digest instead of the noop sink. */
    def sweep(index: Int, traced: Boolean, digests: Option[collection.mutable.Map[String, String]])
        : SweepRec = {
      val order = rng.shuffle(Queries)
      val gc0 = Jvm.gcMillis()
      val cpu0 = Jvm.cpuNanos()
      tracer.enabled = traced
      val root = if (traced) tracer.open(SweepSpan, -1, -index - 2L) else -1
      val t0 = Clock.now()
      val recs = order.map { name =>
        val op = nextOp
        nextOp += 1
        if (traced) SparkMetrics.beginOp(sc, metrics, op)
        val q0 = Clock.now()
        val err =
          try {
            val df = fns(name)(spark, args.dataDir)
            digests match {
              case Some(m) => m(name) = digest(df)
              case None => df.write.format("noop").mode("overwrite").save()
            }
            None
          } catch { case scala.util.control.NonFatal(e) =>
            Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val q1 = Clock.now()
        if (traced) {
          tracer.add(QuerySpan + "." + name, q0, q1, root, op)
          SparkMetrics.endOp(sc, metrics)
        }
        QueryRec(op, index, name, q0, q1, err)
      }
      // a traced sweep drains the listener between queries; its wall is
      // the sum of its query walls so traced and untraced sweeps compare
      val t1 = t0 + recs.map(r => r.end - r.start).sum
      if (traced) tracer.close(root)
      tracer.enabled = false
      SweepRec(index, t0, t1, traced, Jvm.gcMillis() - gc0, Jvm.cpuNanos() - cpu0, recs)
    }

    // the first warm-up sweep also checks every result against its digest
    val digests = collection.mutable.Map.empty[String, String]
    val warm = (0 until WarmupSweeps).map(i => sweep(i, traced = false,
      if (i == 0) Some(digests) else None))
    // a traced run needs a traced and an untraced sweep
    val window = new Window(args.seconds, if (args.trace) 2 else 1)
    val timed = Vector.newBuilder[SweepRec]
    var i = 0
    while (window.more) {
      val sw = sweep(WarmupSweeps + i, traced = args.trace && i % 2 == 1, None)
      window.record(sw.end - sw.start)
      timed += sw
      i += 1
    }
    val sweeps = timed.result()
    val windowS = window.elapsedS
    SparkMetrics.drain(sc)
    val heapMb = Jvm.retainedHeapMb()

    val wrong = Queries.filter(q => Digests.pinned.get(q) != digests.get(q))
    val ops = sweeps.flatMap(_.queries)
    val failed = ops.filter(r => r.error.isDefined || wrong.contains(r.name))
    val warmErrors = warm.flatMap(_.queries).flatMap(_.error)

    val (e2e, e2eDetails) = EndToEnd.metrics(
      setupS = (window.start - args.setupStart) / 1e9, opMs = ops.map(_.ms),
      windowS = windowS, passS = sweeps.map(_.s), heapMb = heapMb)
    val layers = if (args.trace) layerMetrics(sweeps, tracer, metrics) else Nil
    tracer.write(s"${args.workDir}/spans.tsv")
    Outcome(e2e, layers, attempted = ops.length, failed = failed.length,
      correct = failed.isEmpty && warmErrors.isEmpty,
      details = e2eDetails ++ Seq(
        "warmup_sweeps" -> warm.length,
        "timed_sweeps" -> sweeps.length,
        "traced_sweeps" -> sweeps.count(_.traced),
        "warmup_sweep_s" -> warm.map(_.s),
        "sweep_s_all" -> sweeps.map(_.s),
        "digests" -> digests.toMap,
        "query_ms" -> (warm ++ sweeps).map(_.queries.map(q => q.name -> q.ms).toMap),
        "digest_mismatches" -> wrong,
        "errors" -> (warmErrors ++ ops.flatMap(_.error)).take(5)))
  }

  /** Row count plus two order-independent folds of a 64-bit row hash. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }

  def layerMetrics(sweeps: Seq[SweepRec], tracer: Tracer,
                   metrics: SparkMetrics): Seq[Metric] = {
    val traced = sweeps.filter(_.traced)
    if (traced.isEmpty) return Nil
    val n = traced.length.toDouble
    val uses = traced.map(s => s.queries.map(q => metrics.useOf(q.op)))
    def per(f: SparkUse => Double) = uses.map(_.map(f).sum).sum / n
    val driverMs = traced.zip(uses).map { case (s, us) =>
      s.queries.zip(us).map { case (q, u) => Stats.selfTime(q.start, q.end, u.jobIntervals) }
        .sum / 1e6 }
    val perQuery = Queries.map { q =>
      Metric(s"query.${q}_s",
        Stats.median(traced.flatMap(_.queries).filter(_.name == q).map(_.ms / 1000)), "s")
    }
    Seq(
      Metric("spark.jobs_per_sweep", per(_.jobs), "count"),
      Metric("spark.stages_per_sweep", per(_.stages), "count"),
      Metric("spark.job_ms_per_sweep", per(_.jobMs), "ms"),
      Metric("driver.ms_per_sweep", driverMs.sum / n, "ms"),
      Metric("io.input_bytes_per_sweep", per(_.inputBytes), "bytes"),
      Metric("shuffle.read_bytes_per_sweep", per(_.shuffleReadBytes), "bytes"),
      Metric("shuffle.write_bytes_per_sweep", per(_.shuffleWriteBytes), "bytes"),
      Metric("spill.bytes_per_sweep", per(_.spillBytes), "bytes"),
      Metric("ckpt.bytes_per_sweep", per(_.ckptBytes), "bytes"),
      Metric("cpu.busy_cores", traced.map(s => s.cpuNs / 1e9).sum / traced.map(_.s).sum, "cores"),
      Metric("jvm.gc_ms_per_sweep", traced.map(_.gcMs).sum / n, "ms"),
      Metric("trace.overhead_pct", Stats.overheadPct(traced.map(_.s),
        sweeps.filterNot(_.traced).map(_.s)), "%")) ++ perQuery
  }
}

/** Prints the digest of every `operator_batch` query over a dataset as
  * one `name<TAB>digest` line each: `perfbench.PrintDigests <dataDir>
  * <workDir> <cores>`. */
object PrintDigests {
  def main(argv: Array[String]): Unit = {
    val Array(dataDir, workDir, cores) = argv
    val spark = Session.create(cores.toInt, workDir)
    OperatorBatch.Queries.foreach { q =>
      println(s"$q\t${OperatorBatch.digest(graft.SparkEntry.queries(q)(spark, dataDir))}")
    }
    spark.stop()
  }
}
