package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Stage counters attributed to the span whose key was the
  * `perfbench.span` local property when the job started. Spark copies
  * local properties into every job and stage submitted under them, so
  * eager driver-side jobs inside a `build` span land on that span. */
final class Counters {
  var cpuNs, gcMs, busyMs, jobs, taskFailures = 0L
  var shuffleBytes, spillBytes, inputRows, inputBytes = 0L
  var writtenBytes, writtenRows = 0L
}

final class SpanListener extends SparkListener {
  private val stageKey = mutable.HashMap.empty[Int, String]
  val byKey = mutable.HashMap.empty[String, Counters]

  private def keyOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Trace.SpanKey)))
  private def counters(k: String) = byKey.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach(k => counters(k).jobs += 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      keyOf(e.properties).foreach(k => stageKey(e.stageInfo.stageId) = k)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = counters(k)
      if (e.reason != org.apache.spark.Success) c.taskFailures += 1
      c.busyMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.writtenBytes += m.outputMetrics.bytesWritten
        c.writtenRows += m.outputMetrics.recordsWritten
      }
    }
  }
  def reset(): Unit = synchronized { stageKey.clear(); byKey.clear() }
}

/** One recorded span. `attrs` are rendered as JSON values. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
                      end: Long, attrs: mutable.LinkedHashMap[String, Any])

/** Span recorder for run → pass → line → {build, plan, exec}. When off,
  * `span` only runs its body: the untraced run records nothing and
  * registers no listener. */
final class Trace(sc: SparkContext, val runId: String) {
  private var on = false
  private val listener = new SpanListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 = the run span
  private var nextId = 1
  private val t0 = System.nanoTime()
  /** spans of the current pass whose counters are still to be filled */
  private val pending = mutable.ArrayBuffer.empty[(Span, String)]

  def enabled: Boolean = on
  def enable(flag: Boolean): Unit = if (flag != on) {
    on = flag
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
  }

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!on) body else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val key = s"$runId/$id"
      val prevKey = sc.getLocalProperty(Trace.SpanKey)
      sc.setLocalProperty(Trace.SpanKey, key)
      val compiles0 = Trace.compiles
      val start = System.nanoTime()
      try body finally {
        val end = System.nanoTime()
        sc.setLocalProperty(Trace.SpanKey, prevKey)
        stack = stack.tail
        val a = mutable.LinkedHashMap[String, Any](attrs: _*)
        a("codegen_compiles") = Trace.compiles - compiles0
        val s = Span(id, parent, name, start - t0, end - t0, a)
        spans += s
        pending += (s -> key)
      }
    }

  /** Attach an attribute to the span closed last. */
  def note(k: String, v: Any): Unit = if (on) spans.last.attrs(k) = v

  /** Wait for the listener bus, then move stage counters onto the spans
    * recorded since the last call. Runs outside every timed region. */
  def settle(): Unit = if (on || pending.nonEmpty) {
    org.apache.spark.PerfbenchBus.drain(sc)
    listener.synchronized {
      pending.foreach { case (s, key) =>
        listener.byKey.get(key).foreach { c =>
          s.attrs ++= Seq("task_cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
            "task_busy_s" -> c.busyMs / 1e3, "jobs" -> c.jobs,
            "task_failures" -> c.taskFailures,
            "shuffle_mb" -> c.shuffleBytes / Trace.MB,
            "spill_mb" -> c.spillBytes / Trace.MB, "input_rows" -> c.inputRows,
            "input_mb" -> c.inputBytes / Trace.MB,
            "write_mb" -> c.writtenBytes / Trace.MB,
            "written_rows" -> c.writtenRows)
        }
      }
      listener.reset()
    }
    pending.clear()
  }

  /** Close the run span and write every span as one JSON object a line. */
  def write(path: String, runAttrs: (String, Any)*): Unit = {
    settle()
    val run = Span(0, -1, "run", 0L, System.nanoTime() - t0,
      mutable.LinkedHashMap[String, Any](runAttrs: _*))
    val out = new java.io.PrintWriter(path, "UTF-8")
    try (run +: spans.toSeq).foreach { s =>
      val fields = Seq[(String, Any)]("run" -> runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start" -> s.start / 1e9,
        "end" -> s.end / 1e9) ++ s.attrs
      out.println(Json.obj(fields))
    } finally out.close()
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0
  /** whole-stage and expression codegen compiles so far in this JVM */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
}
