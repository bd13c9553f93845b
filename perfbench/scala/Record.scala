package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Minimal JSON writer for the raw result file the Python side reads. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(value)
    case other => str(other.toString)
  }
}

/** One timed operation as a client sees it. A failed op keeps its error and
  * is never turned into a latency by the metric code. */
final case class Op(phase: String, op: String, kind: String, ok: Boolean,
    startNs: Long, endNs: Long, rows: Long, error: String,
    extra: Map[String, Any] = Map.empty) {
  def toJson: String = Json.value(Map(
    "phase" -> phase, "op" -> op, "kind" -> kind, "ok" -> ok,
    "start_ns" -> startNs, "end_ns" -> endNs, "rows" -> rows,
    "error" -> error) ++ extra)
}

/** Everything a run produces, written as one JSON file when the run ends. */
final class Recorder {
  val ops = new ConcurrentLinkedQueue[Op]()
  val setup = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  def addSetup(name: String, seconds: Double): Unit = synchronized {
    setup.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds
  }

  def put(name: String, v: Any): Unit = values.put(name, v)

  /** Runs `call` as one timed op, then `check`s its answer outside the
    * timed window. `check` returns the rows returned, or throws when the
    * answer is wrong; any exception makes the op failed. */
  def timed[R](phase: String, op: String, kind: String,
      extra: => Map[String, Any] = Map.empty)(call: => R)(check: R => Long)
      : Op = {
    val s = System.nanoTime()
    var e = 0L
    val o = try {
      val r = call
      e = System.nanoTime()
      val rows = check(r)
      Op(phase, op, kind, ok = true, s, e, rows, null, extra)
    } catch {
      case t: Throwable if scala.util.control.NonFatal(t) =>
        Op(phase, op, kind, ok = false, s,
          if (e == 0L) System.nanoTime() else e, 0L,
          s"${t.getClass.getSimpleName}: ${t.getMessage}", extra)
    }
    ops.add(o)
    o
  }

  def write(path: String, tracer: Tracer, spark: SparkCounters): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.print("{\"setup\":" + Json.value(setup))
      w.print(",\"values\":" + Json.value(values.asScala))
      w.print(",\"ops\":[")
      w.print(ops.asScala.map(_.toJson).mkString(",\n"))
      w.print("],\"spans\":[")
      w.print(tracer.spans.asScala.map(_.toJson).mkString(",\n"))
      w.print("],\"groups\":")
      w.print(if (spark == null) "{}" else spark.toJson)
      w.println("}")
    } finally w.close()
  }
}

final case class Span(id: Long, parent: Long, name: String, req: String,
    kind: String, startNs: Long, endNs: Long) {
  def toJson: String = Json.value(Map("id" -> id, "parent" -> parent,
    "name" -> name, "req" -> req, "kind" -> kind, "start_ns" -> startNs,
    "end_ns" -> endNs))
}

/** In-memory span recorder, one span per call into a layer function. The
  * parent is the innermost open span on the calling thread. Disabled, it
  * only runs the body. */
final class Tracer(val enabled: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, req: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val open = stack.get()
      stack.set(id :: open)
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        stack.set(open)
        spans.add(Span(id, open.headOption.getOrElse(0L), name, req, kind, s, e))
      }
    }
}

/** SparkListener counters keyed by job group. Registered only in the
  * traced run; the benchmark sets one job group per request phase or row. */
final class SparkCounters extends SparkListener {
  final class Group {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskTimeMs = 0L; var inputBytes = 0L; var inputRecords = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    var maxStageSkew = 0.0; var singleTaskStageMs = 0L
    var longestStageMs = -1L
  }
  private val groups = mutable.LinkedHashMap.empty[String, Group]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def group(g: String): Group = groups.getOrElseUpdate(g, new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    group(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val gr = group(g)
      gr.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        gr.taskTimeMs += m.executorRunTime
        gr.inputBytes += m.inputMetrics.bytesRead
        gr.inputRecords += m.inputMetrics.recordsRead
        gr.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        gr.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageGroup.get(info.stageId).foreach { g =>
        val gr = group(g)
        gr.stages += 1
        val wall = (for (s <- info.submissionTime; c <- info.completionTime)
          yield c - s).getOrElse(0L)
        if (info.numTasks == 1) gr.singleTaskStageMs += wall
        // skew of the longest stage: max over median task time
        if (wall > gr.longestStageMs) {
          gr.longestStageMs = wall
          val ts = stageTaskMs.getOrElse(info.stageId, mutable.ArrayBuffer.empty)
            .sorted
          gr.maxStageSkew =
            if (ts.isEmpty) 0.0
            else ts.last.toDouble / math.max(1L, ts(ts.length / 2)).toDouble
        }
      }
      stageTaskMs.remove(info.stageId)
    }

  def toJson: String = synchronized {
    Json.value(groups.map { case (k, g) => k -> Map(
      "jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks,
      "task_time_ms" -> g.taskTimeMs, "input_bytes" -> g.inputBytes,
      "input_records" -> g.inputRecords,
      "shuffle_write_bytes" -> g.shuffleWriteBytes,
      "spill_bytes" -> g.spillBytes, "max_stage_skew" -> g.maxStageSkew,
      "single_task_stage_ms" -> g.singleTaskStageMs)
    })
  }
}
