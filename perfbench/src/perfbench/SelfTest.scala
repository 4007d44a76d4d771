package perfbench

import org.apache.spark.sql.functions._

import graft.app.Application
import graft.compute.ScalaSlot
import graft.dimension._

/** The benchmark's own tests: `perfbench.SelfTest <dataDir> <workDir>
  * <cores>`, run by perfbench/selftest.py. Exits nonzero on the first
  * failure. */
object SelfTest {
  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    percentileRule()
    intervalArithmetic()
    val Array(dataDir, workDir, cores) = argv
    attribution(dataDir, workDir, cores.toInt)
    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
  }

  def percentileRule(): Unit = {
    check("p90 of 100 samples is the 90th, with 10 beyond") {
      Stats.tailPercentile(100, 90) == 90 && Stats.beyond(100, 90) == 10 &&
        Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0
    }
    check("p99 needs 1000 samples; 500 give p98 with 10 beyond") {
      Stats.tailPercentile(1000, 99) == 99 && Stats.beyond(1000, 99) == 10 &&
        Stats.tailPercentile(500, 99) == 98 && Stats.beyond(500, 98) == 10
    }
    check("few samples fall back to the median, never below") {
      Stats.tailPercentile(15, 90) == 50 && Stats.tailPercentile(5, 99) == 50 &&
        Stats.tailPercentile(0, 90) == 50
    }
    check("for every n the reported tail leaves >= 10 beyond and is the highest such") {
      (11 to 3000).forall { n =>
        Seq(90.0, 99.0).forall { t =>
          val p = Stats.tailPercentile(n, t)
          val next = Stats.rank(n, p) + 1 // the next rank up
          p <= t && (p == 50 || Stats.beyond(n, p) >= Stats.MinBeyond) &&
            (p == t || p == 50 || n - next < Stats.MinBeyond)
        }
      }
    }
    check("median interpolates even counts") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0
    }
  }

  def intervalArithmetic(): Unit = {
    check("union of overlapping, nested and disjoint intervals") {
      Stats.covered(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L), (52L, 55L))) == 30
    }
    check("intervals are clipped to the parent span") {
      Stats.covered(0, 100, Seq((-10L, 5L), (95L, 120L), (200L, 300L))) == 10
    }
    check("touching intervals do not double count") {
      Stats.covered(0, 100, Seq((10L, 20L), (20L, 30L))) == 20
    }
    check("self time is duration minus covered children") {
      Stats.selfTime(0, 100, Seq((10L, 20L), (15L, 30L))) == 80 &&
        Stats.selfTime(0, 100, Nil) == 100 && Stats.selfTime(0, 100, Seq((0L, 100L))) == 0
    }
    check("union matches a brute-force count on random intervals") {
      val rng = new scala.util.Random(7)
      (1 to 200).forall { _ =>
        val ivs = Seq.fill(rng.nextInt(8)) {
          val a = rng.nextInt(120) - 10L
          (a, a + rng.nextInt(40))
        }
        val brute = (0L until 100L).count(t => ivs.exists { case (a, b) => a <= t && t < b })
        Stats.covered(0, 100, ivs) == brute
      }
    }
  }

  /** A one-node DAG whose slot sleeps: the sleep must show in the exec
    * time and stay out of the dispatch time. */
  def attribution(dataDir: String, workDir: String, cores: Int): Unit = {
    val spark = Session.create(cores, workDir)
    val source = s"$dataDir/work/source/orders_daily"
    val days = new java.io.File(source).list().filter(_.matches("\\d{4}-\\d{2}-\\d{2}"))
      .sorted.toIndexedSeq.drop(1)
    val daySpec = DimSpec.pretty(
      "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")))
    final class Toy(name: String, sleepMs: Long, opBase: Long) {
      val tracer = new Tracer
      val metrics = SparkMetrics.install(spark.sparkContext, tracer)
      val hooks = new ExecHooks(tracer)
      val app = new Application(name, spark, s"$workDir/$name")
      private val src = app.marshalExternalData("orders_daily", source, daySpec)
      app.createData("toy", Seq(src.latest(2).rangeCheck()), Seq(ScalaSlot { ctx =>
        Thread.sleep(sleepMs)
        ctx.input("orders_daily").groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      }), hooks = hooks)
      app.activate()
      def event(i: Int, traced: Boolean): EventRec =
        EventDag.processOne(app, s"$source/${days(i)}", days(i), opBase + i, traced,
          tracer, metrics, hooks, spark)
      def layers(recs: Seq[EventRec]): Map[String, Double] =
        EventDag.layerMetrics(recs, tracer, metrics, spark).map(m => m.name -> m.value).toMap
    }
    // the two DAGs take turns event by event, so host speed drifts hit
    // both alike; the first events of each warm up
    val base = new Toy("base", 0, 0)
    val slow = new Toy("slow", 50, 100000)
    val warmup = 6
    val recs = days.indices.map { i =>
      (base.event(i, traced = i >= warmup), slow.event(i, traced = i >= warmup)) }.drop(warmup)
    SparkMetrics.drain(spark.sparkContext)
    val b = base.layers(recs.map(_._1))
    val s = slow.layers(recs.map(_._2))
    val dExec = s("compute.exec_ms_p50") - b("compute.exec_ms_p50")
    val dDispatch = s("routing.dispatch_ms_p50") - b("routing.dispatch_ms_p50")
    println(f"  exec p50 ${b("compute.exec_ms_p50")}%.1f -> ${s("compute.exec_ms_p50")}%.1f ms, " +
      f"dispatch p50 ${b("routing.dispatch_ms_p50")}%.1f -> ${s("routing.dispatch_ms_p50")}%.1f ms")
    check("a 50 ms slot sleep lands in compute.exec_ms_p50") { dExec >= 40 && dExec <= 100 }
    check("and not in routing.dispatch_ms_p50") { math.abs(dDispatch) < 10 }
    check("every event ran exactly one execution") {
      b("app.execs_per_event") == 1.0 && s("app.execs_per_event") == 1.0
    }
    spark.stop()
  }
}
