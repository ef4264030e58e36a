package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * the Python side can subtract its own start time from JVM stamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spark work attributed to one operation by the traced run. */
final class OpCounters {
  var jobs = 0
  var eagerJobs = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  val jobIds = ArrayBuffer.empty[Int]
  /** executor run time of each task, per stage: the input of `skew` */
  val stageTaskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
}

/** One timed interval: an operation or one of its steps. `parent` is the
  * id of the span that caused it (0 for a pass). */
final case class Span(id: Int, name: String, parent: Int, op: String,
    startMs: Double, endMs: Double)

/** The traced run's instruments: a listener that attributes jobs, stages
  * and tasks to the operation whose job group started them, and an
  * in-memory span log written out when the run ends. Untraced runs never
  * construct one, so they set no job groups and register no listener. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ops = new ConcurrentHashMap[String, OpCounters]
  private val stageOp = new ConcurrentHashMap[Int, OpCounters]
  private val spanLog = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.GroupKey))).getOrElse("")
      if (g.startsWith(Tracer.Prefix)) {
        val Array(_, op, phase) = g.split('|')
        val c = counters(op)
        c.synchronized {
          c.jobs += 1
          if (phase == "b") c.eagerJobs += 1
          c.jobIds += e.jobId
        }
        e.stageIds.foreach(stageOp.put(_, c))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = stageOp.get(e.stageId)
      val m = e.taskMetrics
      if (c != null && m != null) c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  })

  def counters(op: String): OpCounters =
    ops.computeIfAbsent(op, _ => new OpCounters)

  /** Tag the calling thread's next Spark jobs as `op`'s step `phase`
    * (b = builder, p = plan, x = exec). */
  def phase(op: String, phase: Char): Unit =
    sc.setLocalProperty(Tracer.GroupKey, s"${Tracer.Prefix}|$op|$phase")

  def clearPhase(): Unit = sc.setLocalProperty(Tracer.GroupKey, null)

  def nextId(): Int = ids.incrementAndGet()

  def span(name: String, parent: Int, op: String, startMs: Double,
      endMs: Double, id: Int = nextId()): Int = {
    spanLog.synchronized { spanLog += Span(id, name, parent, op, startMs, endMs) }
    id
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBridge.drainListeners(sc)

  /** Write every span, with the Spark job ids of its operation, as one
    * JSON object per line. */
  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spanLog.synchronized {
      spanLog.foreach { s =>
        val jobs = Option(ops.get(s.op))
          .map(c => c.synchronized(c.jobIds.toList)).getOrElse(Nil)
        w.println(Json.write(Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "jobs" -> jobs)))
      }
    } finally w.close()
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val Prefix = "pb"
}
