package ddlbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work counted under one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var inputTasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var taskBusyMs = 0L
  var taskWaitMs = 0L
  var maxTaskMs = 0L
  var gcMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; inputTasks += o.inputTasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; bytesWritten += o.bytesWritten
    taskBusyMs += o.taskBusyMs; taskWaitMs += o.taskWaitMs
    maxTaskMs = maxTaskMs.max(o.maxTaskMs); gcMs += o.gcMs
  }

  def toJson: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "input_tasks" -> inputTasks,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "bytes_written" -> bytesWritten,
    "task_busy_ms" -> taskBusyMs, "task_wait_ms" -> taskWaitMs,
    "max_task_ms" -> maxTaskMs, "gc_ms" -> gcMs)
}

/** Attributes Spark jobs, stages and tasks to the span that was open on
  * the calling thread when the job started (a local property, so jobs
  * started on helper threads are attributed too). */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  val bySpan = new ConcurrentHashMap[Long, Counters]()

  private def counters(span: Long): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
    span.foreach { s =>
      val id = s.toLong
      counters(id).synchronized { counters(id).jobs += 1 }
      e.stageIds.foreach(st => stageSpan.put(st, id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      val c = counters(id)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val c = counters(id)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        c.maxTaskMs = c.maxTaskMs.max(info.duration)
        Option(stageSubmitted.get(e.stageId)).foreach(s =>
          c.taskWaitMs += (info.launchTime - s).max(0L))
        if (m != null) {
          if (m.inputMetrics.bytesRead > 0) c.inputTasks += 1
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.taskBusyMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
        }
      }
    }
}

/** One recorded span: a benchmark pass, an engine call inside it, or a
  * pure-Scala layer pass. */
final case class Span(id: Long, parent: Long, name: String, pass: Int,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times every engine call (always: the end-to-end figures come from
  * these times) and, when tracing is on, records spans with the Spark
  * work counted under each. Tracing stays off in end-to-end runs, so
  * those register no listener and set no job properties. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val listener = if (enabled) Some(new SpanListener) else None
  listener.foreach(sc.addSparkListener)

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var open = List(0L)
  var pass = 0
  var attempted = 0L
  var failed = 0L

  /** Time one engine call; a call that throws is counted as failed and
    * its exception ends the pass. */
  def call[T](name: String)(body: => T): T = {
    attempted += 1
    try span(name)(body)
    catch { case NonFatal(e) =>
      failed += 1
      System.err.println(s"[ddlbench] $name failed in pass $pass: $e")
      throw e
    }
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.head
    open = id :: open
    if (enabled) sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      if (enabled) sc.setLocalProperty(Tracer.SpanProperty,
        if (open.head == 0L) null else open.head.toString)
      spans += Span(id, parent, name, pass, t0, t1, Map.empty)
    }
  }

  /** Record a span measured elsewhere (the pure-Scala layer timings). */
  def record(name: String, startNs: Long, endNs: Long, attrs: Map[String, Double]): Unit = {
    spans += Span(nextId, 0L, name, pass, startNs, endNs, attrs)
    nextId += 1
  }

  /** Counters of the given spans, after the listener bus has drained. */
  def counters(ids: Iterable[Long]): Counters = {
    val total = new Counters
    listener.foreach { l =>
      org.apache.spark.ListenerBusDrain.drain(sc)
      ids.foreach(id => Option(l.bySpan.get(id)).foreach(total += _))
    }
    total
  }

  def writeTrace(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = listener.flatMap(l => Option(l.bySpan.get(s.id))).map(_.toJson).getOrElse("{}")
      out.println(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "attrs" -> Json.raw(Json.obj(s.attrs.toSeq: _*)), "spark" -> Json.raw(c)))
    } finally out.close()
  }
}

object Tracer {
  val SpanProperty = "ddlbench.span"
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  final case class Raw(text: String)
  def raw(text: String): Raw = Raw(text)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
