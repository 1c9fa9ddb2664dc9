package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The traced run's span recorder. Spans are opened only by the
  * benchmark, around its own calls into the engine's public functions;
  * nothing inside the engine is instrumented. Spans stay in memory
  * until [[write]].
  */
final class Tracer {
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Spans are recorded only while this is set. */
  var on = false
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Pass id stamped on new spans; negative ids mark work outside passes. */
  var pass: Int = -1
  /** Told the innermost open span id (or -1) whenever it changes, so
    * Spark jobs can be attributed to the span that submitted them.
    */
  var onCurrent: Int => Unit = _ => ()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack ::= id
      onCurrent(id)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        onCurrent(stack.headOption.getOrElse(-1))
        spans += Span(id, name, parent, pass, t0, t1, ms0, System.currentTimeMillis())
      }
    }

  /** Sum of the durations of spans named `name` in `pass`. */
  def total(pass: Int, name: String): Double =
    spans.iterator.filter(s => s.pass == pass && s.name == name).map(_.seconds).sum

  def write(path: java.nio.file.Path, jobs: Seq[RuntimeListener.Job]): Unit = {
    val lines = spans.iterator.map { s =>
      BenchMain.toJson(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    } ++ jobs.iterator.map { j =>
      BenchMain.toJson(Map("job" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

object RuntimeListener {
  final case class Job(id: Int, span: Int, startMs: Long, endMs: Long)
  /** Spark local property carrying the submitting span's id. */
  val SpanProperty = "perfbench.span"
}

/** Spark runtime counters, registered by the benchmark on the traced
  * passes only. Reset before a pass, read after the listener bus has
  * drained.
  */
final class RuntimeListener extends SparkListener {
  import RuntimeListener._

  private val open = mutable.Map.empty[Int, Job]
  val jobs = mutable.ArrayBuffer.empty[Job]
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def reset(): Unit = synchronized {
    open.clear(); jobs.clear()
    stages = 0; tasks = 0; taskMs = 0; shuffleBytes = 0; spillBytes = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .flatMap(_.toIntOption).getOrElse(-1)
    open(e.jobId) = Job(e.jobId, span, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }
}
