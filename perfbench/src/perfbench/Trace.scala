package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval on the benchmark clock (nanoseconds). `op` is the
  * id of the operation (event, query run) the span belongs to; `parent`
  * is the id of the span that caused it, -1 for a root. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: Long) {
  def interval: (Long, Long) = (start, end)
  def nanos: Long = end - start
}

/** The benchmark clock: `System.nanoTime`, with a fixed offset to map the
  * epoch-millisecond stamps of Spark listener events onto it. */
object Clock {
  private val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs
}

/** In-memory span buffer, written out once when the run ends. Spans come
  * only from the benchmark's own code: around each call into a layer,
  * and from the listener and route-hook callbacks it installs. The first
  * root span opened for an operation is that operation's root; callbacks
  * that only know the operation id hang their spans under it. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val roots = scala.collection.mutable.HashMap.empty[Long, Int]
  @volatile var enabled = false

  def add(name: String, start: Long, end: Long, parent: Int, op: Long): Int =
    synchronized {
      val id = spans.length
      spans += Span(id, name, start, end, parent, op)
      if (parent < 0) roots.getOrElseUpdate(op, id)
      id
    }

  /** Open a span now; [[close]] stamps its end. */
  def open(name: String, parent: Int, op: Long): Int =
    add(name, Clock.now(), -1L, parent, op)

  def close(id: Int): Unit = synchronized {
    spans(id) = spans(id).copy(end = Clock.now())
  }

  /** The root span of `op`, -1 when it has none. */
  def rootOf(op: Long): Int = synchronized(roots.getOrElse(op, -1))

  /** Time `body` as a span when tracing is on; runs it bare otherwise. */
  def span[T](name: String, parent: Int, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = open(name, parent, op)
      try body finally close(id)
    }

  def all: Vector[Span] = synchronized(spans.toVector)

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      out.println("id\tname\tstart_ns\tend_ns\tparent\top")
      all.foreach(s =>
        out.println(s"${s.id}\t${s.name}\t${s.start}\t${s.end}\t${s.parent}\t${s.op}"))
    } finally out.close()
  }
}

/** The timed window of a run. A new operation starts only while one as
  * long as the previous still ends by the deadline, so a window of whole
  * operations stays close to its nominal length; at least `min`
  * operations always run. */
final class Window(seconds: Double, min: Int) {
  val start: Long = Clock.now()
  private val deadline = start + (seconds * 1e9).toLong
  private var done = 0
  private var last = 0L

  def more: Boolean = done < min || Clock.now() + last <= deadline
  def record(nanos: Long): Unit = { done += 1; last = nanos }
  def elapsedS: Double = (Clock.now() - start) / 1e9
}

/** JVM-wide counters read around each operation. */
object Jvm {
  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  def gcMillis(): Long = {
    var s = 0L
    gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }

  def cpuNanos(): Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** Used heap retained after full collections, in MiB: the least of
    * several readings, each taken after a full GC and a pause in which
    * asynchronous cleaners (Spark's context cleaner) can release what
    * the previous collection freed. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def maxHeapMb(): Long = Runtime.getRuntime.maxMemory() >> 20
}
