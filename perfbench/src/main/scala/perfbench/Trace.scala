package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** In-memory trace of one benchmark run.
  *
  * Spans are recorded by the harness around each call it makes into an
  * engine layer; Spark jobs are recorded as spans too, by a listener,
  * named after the engine file their call site is in. Counters are
  * recorded at the same boundaries, keyed by op id. Nothing is written
  * until the run ends ([[Result]] serializes it), and with tracing off
  * every entry point here is a no-op around the body it wraps. */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private val counters = ArrayBuffer.empty[Counter]
  private val jobs = ArrayBuffer.empty[Job]
  private var nextId = 0

  /** Milliseconds since the trace began, on the monotonic clock. */
  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6

  /** An epoch-millisecond event time on the trace's clock. */
  def fromEpochMs(epochMs: Long): Double = (epochMs - t0Millis).toDouble

  def span[T](op: Int, name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val start = nowMs
      try body finally add(op, name, layer, start, nowMs)
    }

  def add(op: Int, name: String, layer: String, startMs: Double, endMs: Double): Unit =
    if (enabled) synchronized {
      spans += Span(nextId, op, name, layer, startMs, endMs); nextId += 1
    }

  def count(op: Int, name: String, value: Double): Unit =
    if (enabled) synchronized { counters += Counter(op, name, value) }

  /** A finished Spark job; its op is assigned afterwards, by the op
    * span that contains its start (listener events arrive late). */
  def addJob(j: Job): Unit = if (enabled) synchronized { jobs += j }

  def toJson: String = synchronized {
    val ss = spans.map(s => Json.obj("id" -> s.id, "op" -> s.op, "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    val cs = counters.map(c => Json.obj("op" -> c.op, "name" -> c.name, "value" -> c.value))
    val js = jobs.map(j => Json.obj("site" -> j.site, "layer" -> j.layer,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs, "shuffle_bytes" -> j.shuffleBytes))
    Json.obj("spans" -> Json.Raw(ss.mkString("[", ",", "]")),
      "counters" -> Json.Raw(cs.mkString("[", ",", "]")),
      "jobs" -> Json.Raw(js.mkString("[", ",", "]")))
  }
}

object Trace {
  final case class Span(id: Int, op: Int, name: String, layer: String,
                        startMs: Double, endMs: Double)
  final case class Counter(op: Int, name: String, value: Double)
  final case class Job(site: String, layer: String, startMs: Double, endMs: Double,
                       stages: Int, tasks: Int, taskMs: Long, shuffleBytes: Long)
}

/** Records every Spark job as a span on the trace, with its task
  * counters: the execution layer under every other layer. The job's
  * layer is the engine module of its call site (the first frame outside
  * Spark), so a job started inside `SnapshotDml` is charged to the
  * commit layer even when the harness only called `runFullSync`. */
final class JobRecorder(trace: Trace) extends SparkListener {
  private final class Job(val start: Double, val layer: String, val site: String) {
    var stages = 0; var tasks = 0; var taskMs = 0L; var shuffleBytes = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** SQL execution id → the call site of the action that started it. */
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, s.description)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // Jobs a query runs on Spark's own threads (adaptive stages,
    // broadcasts) carry that thread's call site; the query's own action
    // names the code that ran it.
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(id => Option(execSites.get(id.toLong)))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
    jobs.put(e.jobId, new Job(trace.fromEpochMs(e.time), JobRecorder.layerOf(site), site))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(j => j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      j.synchronized {
        trace.addJob(Trace.Job(j.site, j.layer, j.start, trace.fromEpochMs(e.time),
          j.stages, j.tasks, j.taskMs, j.shuffleBytes))
      }
    }
}

object JobRecorder {
  /** Engine module of a call site such as `count at SnapshotDml.scala:512`. */
  def layerOf(site: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    file match {
      case "SnapshotMaintenance.scala" | "SnapshotStats.scala" => "sinks.riders"
      case f if f.startsWith("Snapshot") || f == "FileStats.scala" ||
        f == "GraftFileIndex.scala" => "sinks.commit"
      case "Pipeline.scala" | "Upsert.scala" | "Catalog.scala" => "pipeline"
      case "Dedup.scala" | "Similarity.scala" | "TextAnalysis.scala" => "operators"
      case _ => "harness"
    }
  }
}

/** Hadoop `FileSystem` statistics for the `file` scheme, summed over
  * every registered instance: the IO counters under every layer. */
object FsStats {
  final case class Snap(bytesRead: Long, bytesWritten: Long)

  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Snap(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def record(trace: Trace, op: Int, before: Snap, after: Snap): Unit = {
    trace.count(op, "fs.bytes_read", (after.bytesRead - before.bytesRead).toDouble)
    trace.count(op, "fs.bytes_written", (after.bytesWritten - before.bytesWritten).toDouble)
  }
}

/** Just enough JSON writing for the run artifact. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
