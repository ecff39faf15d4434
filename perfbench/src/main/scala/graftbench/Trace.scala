package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler._

/** One timed interval: a request, a public call inside it, or a call's phase
  * (construct / plan / exec). `req` ties the spans of one request together.
  */
final case class Span(id: Int, parent: Int, req: Int, name: String, layer: String,
    start: Long, var end: Long = -1L)

/** Spark counters of one job group (one span). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var bytesRead = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; bytesRead += o.bytesRead
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
  }
}

/** Attributes task counts to the span whose job group submitted the job. */
final class GroupListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def counters(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      counters(g).synchronized(counters(g).jobs += 1)
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val c = counters(g)
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.bytesRead += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      }
    }
  }
}

/** The benchmark's tracer. Every public graft call goes through [[df]] or
  * [[unit]], which time it from outside. When `enabled` (in the traced run)
  * it also records spans and sets a per-span job group so [[GroupListener]]
  * can attribute Spark counters to them; otherwise it only measures wall
  * time. Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  val spans = new ArrayBuffer[Span]()
  val listener = new GroupListener
  if (tracing) sc.addSparkListener(listener)
  /** Whether calls made now are traced (see [[request]]). */
  var enabled: Boolean = tracing
  private var stack: List[Span] = Nil
  private var req = 0
  /** Peak block-manager residue (memory + disk) seen after any call. */
  var residuePeakBytes = 0L

  private def open(name: String, layer: String): Span = {
    val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), req, name, layer, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"s${s.id}", name, interruptOnCancel = false)
    s
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"s${p.id}", p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  private def timed[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, layer)
      try body finally close(s)
    }

  private val kindCount = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  /** A request of the workload's loop (a read, a curate pass, an ingest
    * batch). In the traced run the first request of each kind is traced and
    * then every other one, so the run holds traced and untraced latencies
    * of the same requests: their difference is the tracing overhead.
    */
  def request[T](name: String)(body: => T): (T, Double) = {
    req += 1
    enabled = tracing && kindCount(name) % 2 == 0
    kindCount(name) += 1
    val t0 = System.nanoTime()
    val r = timed(name, "request")(body)
    val ms = (System.nanoTime() - t0) / 1e6
    (r, ms)
  }

  /** A public call returning a lazy frame: construct, plan, then `consume`. */
  def df[T](name: String)(construct: => DataFrame)(consume: DataFrame => T): T = {
    val r = timed(name, "operators") {
      val d = timed("construct", "phase")(construct)
      timed("plan", "phase")(d.queryExecution.executedPlan)
      timed("exec", "phase")(consume(d))
    }
    noteResidue()
    r
  }

  /** A public call that does all its work before returning (index builds). */
  def unit(name: String, layer: String = "index")(body: => Unit): Double = {
    val t0 = System.nanoTime()
    timed(name, layer)(body)
    noteResidue()
    (System.nanoTime() - t0) / 1e9
  }

  /** The benchmark's own checks, so self times separate them from the calls. */
  def check[T](body: => T): T = timed("check", "check")(body)

  private def noteResidue(): Unit = if (tracing) {
    val b = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    residuePeakBytes = math.max(residuePeakBytes, b)
  }

  /** Counters of one span, its descendants included. */
  def countersOf(s: Span): Counters = {
    val c = new Counters
    subtree(s).foreach(x => Option(listener.byGroup.get(s"s${x.id}")).foreach(c.add))
    c
  }

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Duration minus the part of it that child spans cover (children of one
    * span never overlap: the driver loop is single-threaded).
    */
  def selfNs(s: Span): Long =
    (s.end - s.start) - children.getOrElse(s.id, Nil).map(c => c.end - c.start).sum

  def finish(): Unit = if (tracing) org.apache.spark.BenchBus.drain(sc)

  /** Spans as JSON lines (name, start, end, parent, request id, counters). */
  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = Option(listener.byGroup.get(s"s${s.id}"))
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> selfNs(s), "jobs" -> c.map(_.jobs).getOrElse(0L),
        "tasks" -> c.map(_.tasks).getOrElse(0L),
        "shuffle_bytes" -> c.map(_.shuffleBytes).getOrElse(0L))))
    } finally w.close()
  }
}

/** Already-serialized JSON, embedded as is. */
final case class RawJson(json: String)

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def value(v: Any): String = v match {
    case RawJson(j) => j
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => value(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
