package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark resource use of one benchmark operation, summed over its jobs. */
final case class SparkUse(
    jobs: Int = 0, stages: Int = 0, tasks: Long = 0,
    jobMs: Double = 0, inputBytes: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    ckptBytes: Long = 0, jobIntervals: Vector[(Long, Long)] = Vector.empty)

/** The benchmark's own listener. Jobs are attributed to an operation
  * through the `perfbench.op` local property the benchmark sets on its
  * driver thread; blocks stored to the block manager (local checkpoints,
  * caches) go to the operation open when they are reported. Only
  * traced operations set the property, so untraced ones record nothing. */
final class SparkMetrics(tracer: Tracer) extends SparkListener {
  import SparkMetrics._

  private final class JobRec(val op: Long, val start: Long) {
    @volatile var end: Long = -1L
  }
  private final class StageRec(val tasks: Long, val input: Long,
                               val shRead: Long, val shWrite: Long,
                               val spill: Long)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentHashMap[Int, (Long, StageRec)]()
  private val blockBytes = new ConcurrentHashMap[Long, java.lang.Long]()
  private val blocksSeen = ConcurrentHashMap.newKeySet[String]()
  @volatile var currentOp: Long = NoOp

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
    op.foreach { o =>
      val id = o.toLong
      jobs.put(e.jobId, new JobRec(id, Clock.fromEpochMs(e.time)))
      e.stageIds.foreach(s => stageOp.put(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) {
      j.end = Clock.fromEpochMs(e.time)
      tracer.add("spark.job", j.start, j.end, tracer.rootOf(j.op), j.op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val op = stageOp.get(si.stageId)
    if (op != null) {
      val tm = si.taskMetrics
      stages.put(si.stageId, (op.longValue, new StageRec(
        si.numTasks, tm.inputMetrics.bytesRead,
        tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled)))
      for (s <- si.submissionTime; c <- si.completionTime)
        tracer.add("spark.stage", Clock.fromEpochMs(s), Clock.fromEpochMs(c),
          tracer.rootOf(op.longValue), op.longValue)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val op = currentOp
    if (op != NoOp && info.blockId.isRDD && info.storageLevel.isValid &&
        blocksSeen.add(info.blockId.name))
      blockBytes.merge(op, info.diskSize + info.memSize, (a, b) => a + b)
  }

  /** Resource use of operation `op`; call after [[drain]]. */
  def useOf(op: Long): SparkUse = {
    val js = jobs.values.asScala.filter(j => j.op == op && j.end >= 0).toVector
    val ss = stages.values.asScala.collect { case (o, s) if o == op => s }
    SparkUse(
      jobs = js.size, stages = ss.size, tasks = ss.iterator.map(_.tasks).sum,
      jobMs = js.iterator.map(j => (j.end - j.start) / 1e6).sum,
      inputBytes = ss.iterator.map(_.input).sum,
      shuffleReadBytes = ss.iterator.map(_.shRead).sum,
      shuffleWriteBytes = ss.iterator.map(_.shWrite).sum,
      spillBytes = ss.iterator.map(_.spill).sum,
      ckptBytes = Option(blockBytes.get(op)).map(_.longValue).getOrElse(0L),
      jobIntervals = js.map(j => (j.start, j.end)))
  }
}

object SparkMetrics {
  val OpProperty = "perfbench.op"
  val NoOp: Long = -1L

  def install(sc: SparkContext, tracer: Tracer): SparkMetrics = {
    val m = new SparkMetrics(tracer)
    sc.addSparkListener(m)
    m
  }

  /** Start traced operation `op` on this thread: its jobs, and the blocks
    * stored until [[endOp]], are attributed to it. */
  def beginOp(sc: SparkContext, m: SparkMetrics, op: Long): Unit = {
    sc.setLocalProperty(OpProperty, op.toString)
    m.currentOp = op
  }

  /** End the traced operation; waits for the listener so late block
    * reports still land on it. Call after the operation's end time is
    * taken. */
  def endOp(sc: SparkContext, m: SparkMetrics): Unit = {
    sc.setLocalProperty(OpProperty, null)
    drain(sc)
    m.currentOp = NoOp
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)
}
