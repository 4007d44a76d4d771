package perfbench

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run measured. `details` goes to the run's artifact
  * only (sample counts, effective percentiles, per-query figures). */
final case class Outcome(
    endToEnd: Seq[Metric], layers: Seq[Metric],
    attempted: Long, failed: Long, correct: Boolean,
    details: Seq[(String, Any)])

/** End-to-end metrics shared by every workload: each workload times a
  * sequence of operations (events, query runs) and groups them into
  * passes over its unit of work. */
object EndToEnd {
  def metrics(setupS: Double, opMs: Seq[Double], windowS: Double,
              passS: Seq[Double], heapMb: Double): (Seq[Metric], Seq[(String, Any)]) = {
    val n = opMs.length
    val p90 = Stats.tailPercentile(n, 90)
    val p99 = Stats.tailPercentile(n, 99)
    // a tail never reads below the median, which interpolates
    def pct(p: Double) =
      if (n == 0) 0.0 else math.max(Stats.percentile(opMs, p), Stats.median(opMs))
    (Seq(
      Metric("setup_s", setupS, "s"),
      Metric("events_per_s", if (windowS > 0) n / windowS else 0.0, "1/s"),
      Metric("event_p50_ms", if (n == 0) 0.0 else Stats.median(opMs), "ms"),
      Metric("event_p90_ms", pct(p90), "ms"),
      Metric("event_p99_ms", pct(p99), "ms"),
      Metric("sweep_s", if (passS.isEmpty) 0.0 else Stats.median(passS), "s"),
      Metric("heap_retained_mb", heapMb, "MiB")),
     Seq("latency_samples" -> n,
       "event_p90_ms_percentile" -> p90, "event_p90_ms_beyond" -> Stats.beyond(n, p90),
       "event_p99_ms_percentile" -> p99, "event_p99_ms_beyond" -> Stats.beyond(n, p99),
       "sweep_samples" -> passS.length, "window_s" -> windowS))
  }
}

/** Arguments the runner passes to every workload. `setupStart` is the
  * benchmark-clock time the JVM entered `main`. */
final case class RunArgs(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    dataDir: String, workDir: String, cores: Int, setupStart: Long)

/** The Spark session every Spark workload runs on: `graft.Bench`'s tuned
  * session, with every scratch directory kept inside the run directory. */
object Session {
  def create(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.minPartitionNum", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir> --work <dir> --cores <n> --out <file>`.
  * Writes the run's outcome as JSON to `--out`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val setupStart = Clock.now()
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = RunArgs(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("data"), kv("work"), kv("cores").toInt, setupStart)
    val outcome = args.workload match {
      case "event_dag" => EventDag.run(args)
      case "operator_batch" => OperatorBatch.run(args)
      case "route_storm" => RouteStorm.run(args)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val reported = Layers.complete(outcome)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(kv("out")),
      Json.render(Map(
        "correct" -> reported.correct,
        "attempted" -> reported.attempted,
        "failed" -> reported.failed,
        "end_to_end" -> reported.endToEnd,
        "per_layer" -> reported.layers,
        "details" -> reported.details.toMap,
        "jvm" -> Map(
          "max_heap_mb" -> Jvm.maxHeapMb(),
          "java_version" -> System.getProperty("java.version"),
          "spark_version" -> org.apache.spark.SPARK_VERSION,
          "cores" -> args.cores))))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** The per-layer metrics every traced run reports. A workload that does
  * not exercise a layer reports 0 for it. */
object Layers {
  val Queries: List[String] = List(
    "q01_agg_pricing", "q02_join_agg_topk", "q03_star_join",
    "q07_window_rank", "q21_count_distinct", "p01_exact_dedup",
    "p05_cosine_topk", "p07_minhash_lsh", "p12_ann_lsh", "p14_dup_clusters",
    "p18_incremental_dedup", "p27_token_budget", "p42_bpe_budget",
    "p46_tfidf_terms")

  val all: Seq[(String, String)] = Seq(
    "routing.dispatch_ms_p50" -> "ms",
    "app.execs_per_event" -> "count",
    "compute.exec_ms_p50" -> "ms",
    "io.output_bytes_per_event" -> "bytes",
    "io.output_files_per_event" -> "count",
    "spark.jobs_per_event" -> "count",
    "spark.tasks_per_event" -> "count",
    "spark.job_ms_per_event" -> "ms",
    "driver.ms_per_event" -> "ms",
    "jvm.gc_ms_per_event" -> "ms",
    "spark.jobs_per_sweep" -> "count",
    "spark.stages_per_sweep" -> "count",
    "spark.job_ms_per_sweep" -> "ms",
    "driver.ms_per_sweep" -> "ms",
    "io.input_bytes_per_sweep" -> "bytes",
    "shuffle.read_bytes_per_sweep" -> "bytes",
    "shuffle.write_bytes_per_sweep" -> "bytes",
    "spill.bytes_per_sweep" -> "bytes",
    "ckpt.bytes_per_sweep" -> "bytes",
    "cpu.busy_cores" -> "cores",
    "jvm.gc_ms_per_sweep" -> "ms") ++
    Queries.map(q => s"query.${q}_s" -> "s") ++ Seq(
    "routing.self_us_per_event" -> "us",
    "probe.calls_per_event" -> "count",
    "wal.append_us_per_event" -> "us",
    "wal.bytes_per_event" -> "bytes",
    "routing.sweep_ms_p50" -> "ms",
    "routing.pending_peak" -> "count",
    "routing.triggers" -> "count",
    "routing.trigger_ratio" -> "ratio",
    "routing.declare_ms" -> "ms",
    "failed_frac" -> "ratio",
    "trace.overhead_pct" -> "%")

  /** Fill in the layers `o` did not measure, in the canonical order. */
  def complete(o: Outcome): Outcome = {
    val got = o.layers.map(m => m.name -> m).toMap
    val unknown = got.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    val frac = if (o.attempted == 0) 0.0 else o.failed.toDouble / o.attempted
    o.copy(layers = all.map { case (n, u) =>
      if (n == "failed_frac") Metric(n, frac, u)
      else got.getOrElse(n, Metric(n, 0.0, u))
    })
  }
}

/** Minimal JSON rendering for the artifact. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Metric => render(Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit))
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
