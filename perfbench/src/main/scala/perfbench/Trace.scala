package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a layer boundary crossed at [start, end] (epoch microseconds).
  * `parent` is the id of the span that caused it (0 = none); `req` groups
  * the spans of one request (query name, pipeline step or tile). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      req: String, start: Long, end: Long)

/** In-memory span recorder. Spans are only kept when tracing is on; the
  * untraced run pays one branch per call. Written out once at the end. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  /** Epoch microseconds on the monotonic clock. */
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Runs `f` inside a span; the span is the parent of spans opened by
    * `f` on this thread. Returns f's value and its wall time in ms. */
  def span[T](layer: String, name: String, req: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!on) { val v = f; return (v, (System.nanoTime() - t0) / 1e6) }
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    val s0 = nowUs
    stack.set(id :: stack.get())
    try {
      val v = f
      (v, (System.nanoTime() - t0) / 1e6)
    } finally {
      stack.set(stack.get().tail)
      spans.add(Span(id, parent, layer, name, req, s0, nowUs))
    }
  }

  /** Records a span measured elsewhere (listener callbacks). */
  def add(layer: String, name: String, req: String, startUs: Long, endUs: Long, parent: Long = 0L): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parent, layer, name, req, startUs, endUs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

/** Counters and spans observed from outside the engine, through Spark's
  * public listener interfaces only: jobs, stages and tasks
  * (SparkListener), Catalyst phases (QueryExecutionListener), codegen
  * (CodegenMetrics) and GC (the JVM's management beans). */
final class Probes(spark: SparkSession, tracer: Tracer) {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskDurMs = 0L; var taskRunMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
    var analysisMs = 0.0; var optimizerMs = 0.0; var physicalMs = 0.0
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val t = new Totals
  private val jobStart = mutable.Map.empty[Int, (Long, String)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = t.synchronized {
      t.jobs += 1
      val req = Option(e.properties).flatMap(p => Option(p.getProperty(Probes.ReqKey))).getOrElse("")
      jobStart(e.jobId) = (e.time, req)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = t.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, req) =>
        t.jobIntervals += ((s, e.time))
        tracer.add("spark", s"job ${e.jobId}", req, s * 1000L, e.time * 1000L)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = t.synchronized { t.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.synchronized {
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.taskDurMs += e.taskInfo.duration
        t.taskRunMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    // runs on the listener thread: the request is found later by time
    private def phases(qe: QueryExecution): Unit = t.synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        val ms = (s.endTimeMs - s.startTimeMs).toDouble
        phase match {
          case "analysis" => t.analysisMs += ms
          case "optimization" => t.optimizerMs += ms
          case "planning" => t.physicalMs += ms
          case _ =>
        }
        tracer.add("plans", phase, "", s.startTimeMs * 1000L, s.endTimeMs * 1000L)
      }
    }
  }

  private val gcListener: Seq[(javax.management.NotificationEmitter, javax.management.NotificationListener)] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq.collect {
      case em: javax.management.NotificationEmitter =>
        val l = new javax.management.NotificationListener {
          override def handleNotification(n: javax.management.Notification, hb: Any): Unit = {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val startMs = Probes.jvmStartMs + info.getGcInfo.getStartTime
            val endMs = Probes.jvmStartMs + info.getGcInfo.getEndTime
            tracer.add("jvm", info.getGcName, "", startMs * 1000L, endMs * 1000L)
          }
        }
        em.addNotificationListener(l, null, null)
        (em, l)
    }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit = {
    // the bus is asynchronous; a no-op job's end event arriving means
    // everything queued before it has been handled
    val before = t.synchronized(t.jobs)
    spark.sparkContext.setLocalProperty(Probes.ReqKey, "")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 10000L
    while (t.synchronized(t.jobs < before + 1 || jobStart.nonEmpty) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    Thread.sleep(50)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    gcListener.foreach { case (em, l) => em.removeNotificationListener(l) }
  }
}

object Probes {
  /** Local property carrying the request id onto every job it starts. */
  val ReqKey = "perfbench.req"
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Wall time not covered by any job interval inside [t0, t1] (epoch ms). */
  def uncovered(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L; var cur = t0
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > cur) { covered += e - math.max(s, cur); cur = e }
    }
    (t1 - t0) - covered
  }

  /** Compilations and total compile time so far (CodegenMetrics keeps
    * every sample while fewer than its reservoir size have been taken). */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after full collections, in MB: what the engine
    * keeps once the work is done (session state, caches, persisted blocks). */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
