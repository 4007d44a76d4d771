package perfbench

import org.apache.hadoop.conf.Configuration

import graft.dimension._
import graft.routing._
import graft.signal._

/** The `route_storm` workload: the orchestrator alone, no Spark. Two-input
  * routes over `region × day` share a pool of sources; each route joins a
  * trigger input with a `_:-7` ranged, completion-checked input. The table
  * persists through a real [[RoutingCheckpoint]] WAL, as
  * `Application.activate` wires it, and probes completion through an
  * in-memory store. Every simulated day, the seed-shuffled events of that
  * day arrive one at a time (closed loop); the day ends with
  * `sweepPending`. The schedule has lost partitions (no event, never
  * lands) and late ones (event on time, data a few days later), so some
  * joins wait for the sweep and some never fire.
  *
  * Pending state only grows on one table, and each compaction folds the
  * whole event history, so a table runs a fixed epoch of [[EpochDays]]
  * days and the next epoch starts on a freshly declared one. The window
  * runs whole epochs: the state it measures does not depend on how many
  * days a run gets through. */
object RouteStorm {
  val Routes = 200
  val Sources = 100
  val Regions: Vector[String] = Vector("NA", "EU", "FE", "SA")
  val RangeDays = 7
  /** Days per table: long enough for one WAL compaction (every 10k
    * events, about 25 days at 400 events a day). */
  val EpochDays = 30
  val WarmupEpochs = 1
  val LostRate = 0.004
  val LateRate = 0.02
  val EventSpan = "routing.receive_path"

  private val spec = DimSpec.pretty(
    "region" -> (DimType.STRING, Map.empty[String, Any]),
    "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")))

  /** Trigger source and ranged source of route `r`. */
  def sourcesOf(r: Int): (Int, Int) = {
    val a = r % Sources
    val b = (a + 1 + (r / Sources) * 37) % Sources
    (a, b)
  }

  /** The generated input: per partition (source, region, day) the day its
    * data lands (`Never` when lost), and per day the shuffled events. */
  final class Schedule(seed: Long, val days: Int) {
    val Never: Int = Int.MaxValue
    private val rng = new scala.util.Random(seed)
    private def idx(s: Int, g: Int, d: Int) = (d * Sources + s) * Regions.length + g
    val landDay: Array[Int] = new Array[Int](days * Sources * Regions.length)
    for (d <- 0 until days; s <- 0 until Sources; g <- Regions.indices) {
      val u = rng.nextDouble()
      landDay(idx(s, g, d)) =
        if (u < LostRate) Never
        else if (u < LostRate + LateRate) d + 1 + rng.nextInt(3)
        else d
    }
    def land(s: Int, g: Int, d: Int): Int = if (d < 0) -1 else landDay(idx(s, g, d))
    /** Events of day `d` as (source, region), seed-shuffled. */
    def events(d: Int): IndexedSeq[(Int, Int)] = {
      val r = new scala.util.Random(seed * 1000003L + d)
      r.shuffle((for (s <- 0 until Sources; g <- Regions.indices
        if land(s, g, d) != Never) yield (s, g)).toIndexedSeq)
    }
    /** Partitions whose data lands on day `d` after their event. */
    def landingLate(d: Int): Seq[(Int, Int, Int)] =
      for (e <- math.max(0, d - 3) until d; s <- 0 until Sources;
           g <- Regions.indices if land(s, g, e) == d) yield (s, g, e)

    /** The (route, region, day) joins that must have fired once days
      * `0..last` are processed: both events sent and every partition of
      * the ranged input's window landed by `last`. */
    def expected(last: Int): Set[(Int, Int, Int)] =
      (for (r <- 0 until Routes; g <- Regions.indices; d <- 0 to last) yield (r, g, d))
        .filter { case (r, g, d) =>
          val (a, b) = sourcesOf(r)
          land(a, g, d) != Never && land(b, g, d) != Never &&
            (0 until RangeDays).forall(j => land(b, g, d - j) <= last)
        }.toSet
  }

  /** In-memory partition store: a partition is complete once it landed. */
  final class MemStore extends PathProbe {
    val landed = new java.util.HashSet[String]()
    def exists(path: String): Boolean = landed.contains(path)
  }

  /** Probe wrapper for traced days: one span per call into the store. */
  final class TracedProbe(under: PathProbe, tracer: Tracer, op: () => Long) extends PathProbe {
    def exists(path: String): Boolean =
      if (!tracer.enabled) under.exists(path)
      else { val o = op(); tracer.span("probe.exists", tracer.rootOf(o), o)(under.exists(path)) }
  }

  /** Bytes written into a directory: every file's growth since it was
    * last observed, summed. Files only disappear in a WAL compaction,
    * which observes the directory just before. */
  final class DirBytes(dir: java.io.File) {
    private val seen = scala.collection.mutable.Map.empty[String, Long]
    var written = 0L
    def observe(): Unit = Option(dir.listFiles()).foreach(_.foreach { f =>
      val len = f.length()
      written += math.max(0L, len - seen.getOrElse(f.getName, 0L))
      seen(f.getName) = len
    })
  }

  /** WAL wrapper of a traced run: one span per call on traced days, and
    * the bytes the WAL writes into its directory (`disk`). */
  final class TracedWal(under: RoutingWal, tracer: Tracer, op: () => Long,
                        val disk: DirBytes) extends RoutingWal {
    private def t[T](name: String)(body: => T): T =
      if (!tracer.enabled) body
      else { val o = op(); tracer.span(name, tracer.rootOf(o), o)(body) }
    def appendEvent(p: String, blocked: Boolean): Unit =
      t("wal.append_event")(under.appendEvent(p, blocked))
    def appendCompleted(p: String): Unit = t("wal.append_completed")(under.appendCompleted(p))
    // compaction closes the open segment and deletes it once the snapshot
    // is written; closing first (as compaction would) lets its last bytes
    // be counted before it goes
    def compact(events: Seq[(String, Boolean)], completed: Seq[String]): Unit =
      t("wal.compact") { under.close(); disk.observe(); under.compact(events, completed) }
    def load(): Option[(List[(String, Boolean)], List[String])] = t("wal.load")(under.load())
    override def flush(): Unit = under.flush()
    def close(): Unit = under.close()
    override def dispose(): Unit = under.dispose()
  }

  private def root(s: Int) = s"/storm/src$s"

  /** Declare every route on a fresh table. */
  def declare(probe: PathProbe, wal: RoutingWal): RoutingTable = {
    val table = new RoutingTable(probe, Some(wal))
    (0 until Routes).foreach { r =>
      val (a, b) = sourcesOf(r)
      val trigger = Signal("trigger", SignalSource.external(root(a)), spec,
        DimFilter.allPassFor(spec))
      val ranged = Signal("ranged", SignalSource.external(root(b)), spec,
        DimFilter.loadRaw(spec, DimFilter.RawFilter.chainOf("*", s"_:-$RangeDays")),
        rangeCheckRequired = true)
      val node = SignalLinkNode(List(trigger, ranged)).withAutoLinks
      val out = Signal(s"r$r", SignalSource.internal("/storm/app", s"r$r"), spec,
        node.deriveOutputFilter(spec, Nil))
      table.add(new Route(s"r$r", node, out, Nil))
    }
    table
  }

  final case class DayRec(epoch: Int, day: Int, traced: Boolean, eventNs: Array[Long],
                          sweepNs: Long, gcMs: Long, pending: Int)

  /** A (route, region, day) join packed into one Int. */
  def joinKey(r: Int, g: Int, d: Int): Int = (r * Regions.length + g) * EpochDays + d
  def joinOf(k: Int): (Int, Int, Int) =
    (k / EpochDays / Regions.length, k / EpochDays % Regions.length, k % EpochDays)

  /** One epoch's table, with what it needs to run its days. */
  final class Epoch(val index: Int, val table: RoutingTable, val store: MemStore,
                    val sched: Schedule, val wal: RoutingWal, val declareMs: Double) {
    val triggers = new scala.collection.mutable.ArrayBuilder.ofInt
  }

  /** What a finished epoch leaves for the checks and metrics: its table,
    * store and WAL are gone, and its joins are packed, so the heap the
    * window ends with holds the last epoch's table and nothing that grows
    * with the number of epochs a run got through. */
  final case class Ran(index: Int, sched: Schedule, triggers: Array[Int], declareMs: Double,
                       walBytes: Long, days: Seq[DayRec])

  def run(args: RunArgs): Outcome = {
    val conf = new Configuration()
    val tracer = new Tracer
    val day0 = java.time.LocalDate.of(2020, 1, 1).plusDays(args.seed.abs % 365)
    val dayStr = Array.tabulate(EpochDays)(d => day0.plusDays(d.toLong).toString)
    val dayIndex = dayStr.zipWithIndex.toMap
    var curOp = -1L
    var genNs = 0L

    /** Epoch `index` on a fresh table over its own WAL directory and
      * store, with the partitions before day 0 already landed. Warm-up
      * epochs have negative indexes. */
    def fresh(index: Int) = {
      val g0 = Clock.now()
      val sched = new Schedule(args.seed * 1000003L + index, EpochDays)
      genNs += Clock.now() - g0
      val store = new MemStore
      for (s <- 0 until Sources; g <- Regions.indices; d <- 1 until RangeDays)
        store.landed.add(s"${root(s)}/${Regions(g)}/${day0.minusDays(d.toLong)}")
      val dir = s"${args.workDir}/epoch$index"
      val cp = new RoutingCheckpoint(s"$dir/routing_state.json", conf)
      val (probe, wal) =
        if (args.trace)
          (new TracedProbe(store, tracer, () => curOp), new TracedWal(cp, tracer, () => curOp,
            new DirBytes(new java.io.File(s"$dir/routing_state.json.d"))))
        else (store, cp)
      val t0 = Clock.now()
      val table = declare(probe, wal)
      new Epoch(index, table, store, sched, wal, (Clock.now() - t0) / 1e6)
    }

    var nextOp = 0L
    def runDay(ep: Epoch, d: Int, traced: Boolean): DayRec = {
      ep.sched.landingLate(d).foreach { case (src, g, e) =>
        ep.store.landed.add(s"${root(src)}/${Regions(g)}/${dayStr(e)}") }
      val evs = ep.sched.events(d)
      val ns = new Array[Long](evs.length)
      def collect(ctxs: List[ExecutionContext]): Unit = ctxs.foreach { c =>
        val tip = c.output.tip.map(_.value.toString)
        ep.triggers += joinKey(c.routeId.drop(1).toInt, Regions.indexOf(tip.head), dayIndex(tip(1)))
      }
      val gc0 = Jvm.gcMillis()
      tracer.enabled = traced
      var i = 0
      while (i < evs.length) {
        val (src, g) = evs(i)
        val path = s"${root(src)}/${Regions(g)}/${dayStr(d)}"
        if (ep.sched.land(src, g, d) == d) ep.store.landed.add(path)
        val op = nextOp
        nextOp += 1
        curOp = op
        val rootSpan = if (traced) tracer.open(EventSpan, -1, op) else -1
        val t0 = Clock.now()
        val ctxs = ep.table.receivePath(path)
        val t1 = Clock.now()
        if (traced) tracer.close(rootSpan)
        collect(ctxs)
        ns(i) = t1 - t0
        i += 1
      }
      tracer.enabled = false
      val s0 = Clock.now()
      val swept = ep.table.sweepPending()
      val sweepNs = Clock.now() - s0
      collect(swept)
      val pending = ep.table.all.iterator.map(_.pendingNodes.length).sum
      ep.wal match { case w: TracedWal => w.disk.observe(); case _ => () }
      DayRec(ep.index, d, traced, ns, sweepNs, Jvm.gcMillis() - gc0, pending)
    }

    /** All days of `ep`, then its WAL is closed for good. With `trace`,
      * every other day is traced, so the untraced days give the traced
      * run its own overhead baseline. */
    def runEpoch(ep: Epoch, trace: Boolean): Ran = {
      val recs = (0 until EpochDays).map(d => runDay(ep, d, traced = trace && d % 2 == 1))
      ep.table.disposeWal()
      val walBytes = ep.wal match {
        case w: TracedWal => w.disk.observe(); w.disk.written
        case _ => 0L
      }
      Ran(ep.index, ep.sched, ep.triggers.result(), ep.declareMs, walBytes, recs)
    }

    (1 to WarmupEpochs).foreach(i => runEpoch(fresh(-i), trace = false))

    val window = new Window(args.seconds, 1)
    val epochs = Vector.newBuilder[Ran]
    // the epoch that ran last; its table is live when the heap is read
    var last: Epoch = null
    var e = 0
    while (window.more) {
      val t0 = Clock.now()
      last = fresh(e)
      epochs += runEpoch(last, args.trace)
      window.record(Clock.now() - t0)
      e += 1
    }
    val windowS = window.elapsedS
    val heapMb = Jvm.retainedHeapMb()
    java.lang.ref.Reference.reachabilityFence(last)
    val ran = epochs.result()
    val recs = ran.flatMap(_.days)

    // every epoch ran all of its days: each must have fired exactly the
    // joins its schedule's model expects
    val checks = ran.map { ep =>
      val expected = ep.sched.expected(EpochDays - 1)
      val got = ep.triggers.map(joinOf).toSet
      (ep, expected, expected -- got, got -- expected, ep.triggers.length - got.size)
    }
    val mismatches = checks.map(c => c._3.size + c._4.size + c._5).sum
    val triggers = ran.map(_.triggers.length).sum
    val events = recs.map(_.eventNs.length).sum
    val opMs = recs.flatMap(_.eventNs.map(_ / 1e6))
    // a day's pass time swings with the host and its place in the epoch;
    // the mean over the window's days is the steadier figure of one pass
    val passS = recs.map(r => (r.eventNs.sum + r.sweepNs) / 1e9)
    val (e2e, e2eDetails) = EndToEnd.metrics(
      setupS = (window.start - args.setupStart) / 1e9, opMs = opMs, windowS = windowS,
      passS = Seq(Stats.mean(passS)), heapMb = heapMb)
    val walBytes = ran.map(_.walBytes).sum
    val layers =
      if (args.trace) layerMetrics(recs, tracer, walBytes,
        Stats.median(ran.map(_.declareMs)), triggers, events)
      else Nil
    tracer.write(s"${args.workDir}/spans.tsv")
    def show(t: (Int, Int, Int)) = s"r${t._1}/${Regions(t._2)}/${dayStr(t._3)}"
    // a mismatching join counts as one failed operation
    Outcome(e2e, layers, attempted = events, failed = math.min(events, mismatches),
      correct = mismatches == 0,
      details = e2eDetails ++ Seq(
        "input_gen_s" -> genNs / 1e9,
        "routes" -> Routes, "sources" -> Sources, "regions" -> Regions.length,
        "epoch_days" -> EpochDays, "warmup_epochs" -> WarmupEpochs,
        "timed_epochs" -> ran.length, "timed_days" -> recs.length,
        "traced_days" -> recs.count(_.traced),
        "triggers" -> triggers, "expected_triggers" -> checks.map(_._2.size).sum,
        "missing" -> checks.flatMap(_._3).take(5).map(show),
        "unexpected" -> checks.flatMap(_._4).take(5).map(show),
        "duplicates" -> checks.map(_._5).sum,
        "epoch_end_pending" -> ran.map(_.days.last.pending),
        "day_pass_ms" -> passS.map(_ * 1000),
        "day_sweep_ms" -> recs.map(_.sweepNs / 1e6)))
  }

  def layerMetrics(recs: Seq[DayRec], tracer: Tracer, walBytes: Long, declareMs: Double,
                   triggers: Int, events: Int): Seq[Metric] = {
    val traced = recs.filter(_.traced)
    val n = traced.map(_.eventNs.length).sum.toDouble
    if (n == 0) return Nil
    val byOp = tracer.all.groupBy(_.op)
    val roots = byOp.values.flatMap(_.find(_.name == EventSpan))
    val selfUs = roots.map { r =>
      val kids = byOp(r.op).filter(s => s.parent == r.id).map(_.interval)
      Stats.selfTime(r.start, r.end, kids) / 1e3
    }
    val spans = tracer.all
    val walUs = spans.filter(_.name == "wal.append_event").map(_.nanos).sum / 1e3
    val probes = spans.count(_.name == "probe.exists")
    Seq(
      Metric("routing.self_us_per_event", selfUs.sum / n, "us"),
      Metric("probe.calls_per_event", probes / n, "count"),
      Metric("wal.append_us_per_event", walUs / n, "us"),
      // everything the WAL wrote (segments, compaction snapshots and their
      // checksum files) over every event of the window
      Metric("wal.bytes_per_event", walBytes.toDouble / events, "bytes"),
      Metric("routing.sweep_ms_p50", Stats.median(recs.map(_.sweepNs / 1e6)), "ms"),
      Metric("routing.pending_peak", recs.map(_.pending).max.toDouble, "count"),
      Metric("routing.triggers", triggers.toDouble, "count"),
      Metric("routing.trigger_ratio", triggers.toDouble / events, "ratio"),
      Metric("routing.declare_ms", declareMs, "ms"),
      Metric("jvm.gc_ms_per_event", traced.map(_.gcMs).sum / n, "ms"),
      Metric("trace.overhead_pct", Stats.overheadPct(
        traced.flatMap(_.eventNs.map(_ / 1e6)),
        recs.filterNot(_.traced).flatMap(_.eventNs.map(_ / 1e6))), "%"))
  }
}
