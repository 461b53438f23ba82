package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler._

/** One Spark job counted under a span: its start and end times (ms,
  * from the scheduler's events) and the stages and tasks it completed. */
final class JobRecord(val id: Int, val startMs: Long) {
  var endMs = 0L
  var stages = 0
  var tasks = 0
  def seconds: Double = (endMs - startMs).max(0L) / 1e3
}

/** The Spark work counted under one span, and the span's wall time. */
final class Counters {
  val jobs = ArrayBuffer.empty[JobRecord]
  var stages = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** The largest peak execution memory of any one task. */
  var peakExecutionMemory = 0L
  var gcMs = 0L
  var taskBusyMs = 0L
  var wallSec = 0.0

  /** Sum of the jobs' own durations. */
  def jobSec: Double = jobs.map(_.seconds).sum

  /** Sum of the gaps between one job's end and the next job's start:
    * driver-side planning and collect time. */
  def gapSec: Double = {
    val js = jobs.sortBy(_.startMs)
    js.zip(js.drop(1)).map { case (a, b) => (b.startMs - a.endMs).max(0L) / 1e3 }.sum
  }
}

/** Counts Spark work per span. A span is open on a thread while
  * [[Spans.measure]] runs its body there: its id sits in the
  * `graft.span` local property, which Spark copies to the jobs the
  * thread starts and to the threads it creates, so work done on helper
  * threads counts too. Only spans this listener opened are counted;
  * events arrive on the one listener-bus thread. */
private final class SpanListener extends SparkListener {
  val open = new ConcurrentHashMap[Long, Counters]()
  private val running = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, (Counters, JobRecord)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Property)))
      .flatMap(id => Option(open.get(id.toLong))).foreach { c =>
        val job = new JobRecord(e.jobId, e.time)
        c.jobs += job
        running.put(e.jobId, job)
        e.stageIds.foreach(st => stageJob.put(st, (c, job)))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(running.remove(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { case (c, job) =>
      c.stages += 1
      job.stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { case (c, job) =>
      c.tasks += 1
      job.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecutionMemory = c.peakExecutionMemory.max(m.peakExecutionMemory)
        c.gcMs += m.jvmGCTime
        c.taskBusyMs += m.executorRunTime
      }
    }

  def close(c: Counters): Unit = stageJob.values.removeIf(_._1 eq c)
}

object Spans {
  val Property = "graft.span"
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private val listeners = new java.util.WeakHashMap[SparkContext, SpanListener]()

  private def listenerOf(sc: SparkContext): SpanListener = listeners.synchronized {
    Option(listeners.get(sc)).getOrElse {
      val l = new SpanListener
      sc.addSparkListener(l)
      listeners.put(sc, l)
      l
    }
  }

  /** Runs `body` under a new span on the calling thread and returns its
    * result with the work counted under the span: the jobs it and the
    * threads it creates start, until another span opens on one of them.
    * The counters are read after the listener bus has drained, so they
    * are final. */
  def measure[T](sc: SparkContext)(body: => T): (T, Counters) = {
    val l = listenerOf(sc)
    val id = ids.incrementAndGet()
    val c = new Counters
    l.open.put(id, c)
    val prior = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = body
      c.wallSec = (System.nanoTime() - t0) / 1e9
      (r, c)
    } finally {
      sc.setLocalProperty(Property, prior)
      ListenerDrain(sc)
      l.open.remove(id)
      l.close(c)
    }
  }
}
