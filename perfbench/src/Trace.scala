package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** In-memory spans and counts, recorded by the benchmark around its calls
  * into each layer. Off unless `enabled`; then `span` is a plain call. */
object Trace {
  final case class Span(id: Int, name: String, layer: String, start: Long, end: Long,
                        parent: Int, op: Long)

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var op = 0L
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  def beginOp(id: Long): Unit = op = id

  /** Times `f` as a span named `layer.name`, child of the innermost open span. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        stack.pop()
        spans += Span(id, name, layer, t0, System.nanoTime(), parent, op)
      }
    }

  def count(name: String, n: Double = 1): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + n

  /** Self time per layer in ms: each span's duration minus the part its
    * children cover (children never outlive their parent here). */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map(s => s.end - s.start - childNs(s.id)).sum / 1e6
    }
  }

  /** Writes every span and count as JSON lines. */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.foreach { s =>
        out.println(Json.obj("span" -> s.name, "layer" -> s.layer, "id" -> s.id,
          "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end))
      }
      out.println(Json.obj("counts" -> Json.obj(counts.toSeq: _*)))
      out.println(Json.obj("self_ms" -> Json.obj(selfMs.toSeq.sortBy(_._1): _*)))
    } finally out.close()
  }
}

/** Sums Spark task metrics between `reset` and `snapshot`. */
final class TaskMetricsListener extends SparkListener {
  private var runMs, cpuNs, gcMs, delayMs, shuffleRead, shuffleWrite, spill = 0L
  private val durations = mutable.ArrayBuffer.empty[Long]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val info = e.taskInfo
      val wall = info.finishTime - info.launchTime
      durations += wall
      delayMs += math.max(0L, wall - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
    }
  }

  def reset(): Unit = synchronized {
    runMs = 0; cpuNs = 0; gcMs = 0; delayMs = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
    durations.clear()
  }

  def snapshot(): Seq[(String, Double, String)] = synchronized {
    val sorted = durations.sorted
    val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
    Seq(
      ("spark.executor_run_ms", runMs.toDouble, "ms"),
      ("spark.executor_cpu_ms", cpuNs / 1e6, "ms"),
      ("spark.task_gc_ms", gcMs.toDouble, "ms"),
      ("spark.scheduler_delay_ms", delayMs.toDouble, "ms"),
      ("spark.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
      ("spark.spill_bytes", spill.toDouble, "bytes"),
      ("spark.tasks", sorted.size.toDouble, "count"),
      ("spark.task_max_over_median",
        if (sorted.isEmpty) 0.0 else sorted.last.toDouble / math.max(1L, median), "ratio"))
  }
}

/** Minimal JSON writer for flat and nested maps of numbers, strings and booleans. */
object Json {
  final case class Raw(s: String) {
    override def toString: String = s
  }

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }
    .mkString("{", ", ", "}"))

  def value(v: Any): String = v match {
    case Raw(s) => s
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).stripTrailingZeros().toPlainString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
