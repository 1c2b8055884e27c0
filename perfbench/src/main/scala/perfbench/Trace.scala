package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext

/** Spans and counts of the traced run, kept in memory and written once
  * when the run ends.
  *
  * A request is one CLI command, one query or one write step; its root
  * span carries the request id, which is also the Spark job group set
  * before the call, so spans recorded on task threads (catalog calls
  * inside registration jobs) and Spark jobs seen by the listener find
  * their request. Those spans cannot see the span open on the calling
  * thread, so their parent is resolved when the run ends: the shortest
  * span of the same request whose interval holds their midpoint. Span
  * times are `System.nanoTime`; listener times (epoch milliseconds) are
  * mapped onto that clock with [[msToNs]]. With tracing off every entry
  * point is a plain call.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, req: String,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }
  final case class Request(req: String, kind: String, startMs: Long, endMs: Long)

  @volatile var on: Boolean = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val requests = new ConcurrentLinkedQueue[Request]()
  private val nextId = new AtomicInteger(1)
  private val roots = new ConcurrentHashMap[String, Integer]()
  private val stack = ThreadLocal.withInitial[List[(Int, String)]](() => Nil)
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def msToNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  /** Root span of one request. */
  def request[T](kind: String, req: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId.getAndIncrement()
      roots.put(req, id)
      stack.set((id, req) :: stack.get)
      val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, 0, kind, req, t0, t1))
        requests.add(Request(req, kind, w0, System.currentTimeMillis()))
      }
    }

  /** Child span of the thread's current span; on a Spark task thread,
    * of the request whose job group the task runs in, resolved at the end. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val (parent, req) = current
      val id = nextId.getAndIncrement()
      stack.set((id, req) :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, req, t0, t1))
      }
    }

  /** A span whose bounds were observed elsewhere (listener events, CLI
    * log lines); its parent is resolved at the end. */
  def record(name: String, req: String, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(nextId.getAndIncrement(), Unresolved, name, req, startNs, endNs))

  private val Unresolved = -1

  private def current: (Int, String) = stack.get match {
    case (id, req) :: _ => (id, req)
    case Nil =>
      val req = Option(TaskContext.get())
        .flatMap(tc => Option(tc.getLocalProperty("spark.jobGroup.id"))).getOrElse("")
      (Unresolved, req)
  }

  /** Every span, with unresolved parents set to the shortest span of the
    * same request holding their midpoint (else the request's root). */
  def allSpans: Seq[Span] = {
    val all = spans.asScala.toSeq
    val byReq = all.groupBy(_.req)
    all.map { s =>
      if (s.parent != Unresolved) s
      else {
        val mid = s.startNs + s.durNs / 2
        val holder = byReq(s.req).filter(c => c.id != s.id && c.durNs >= s.durNs &&
          c.startNs <= mid && mid <= c.endNs && !(c.durNs == s.durNs && c.id > s.id))
        s.copy(parent = if (holder.isEmpty) Option(roots.get(s.req)).map(_.intValue).getOrElse(0)
          else holder.minBy(_.durNs).id)
      }
    }
  }
  def allRequests: Seq[Request] = requests.asScala.toSeq

  def reset(): Unit = { spans.clear(); requests.clear(); roots.clear() }

  /** Self time per span name, seconds: each span's duration minus the
    * part of its interval that its children cover. */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = unionNs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeSpans(all: Seq[Span], path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""req":${Json.str(s.req)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
