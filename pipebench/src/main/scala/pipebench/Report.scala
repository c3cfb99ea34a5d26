package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** Minimal JSON writer for the result line and the trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, (apply(v) + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spans of the traced run: name, start, end, parent and request id (event
  * file, refresh or query name). Off in timed runs, where [[apply]] only
  * runs the body. */
final class Spans(enabled: Boolean) {
  /** Times in ms since the first span clock reading of the run. */
  private final case class Span(id: Int, parent: Int, name: String, req: String,
      startMs: Double, endMs: Double)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private def rel(ns: Long) = (ns - originNs) / 1e6

  def apply[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        all.add(Span(id, parent, name, req, rel(t0), rel(System.nanoTime())))
        stack.set(stack.get.tail)
      }
    }

  /** Record a span measured elsewhere in wall-clock epoch ms (e.g. a
    * micro-batch from its progress event). */
  def record(name: String, req: String, startEpochMs: Long, endEpochMs: Long): Unit =
    if (enabled) all.add(Span(ids.incrementAndGet(), 0, name, req,
      (startEpochMs - originEpochMs).toDouble, (endEpochMs - originEpochMs).toDouble))

  def size: Int = all.size

  def write(path: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Json.write(path, all.asScala.toSeq.sortBy(_.startMs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
  }
}

/** What one run reports: operations attempted and failed, end-to-end
  * metrics (timed runs), layer metrics (traced runs) and health figures
  * printed to stderr in every run. */
final class Report {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val errors = new ConcurrentLinkedQueue[String]()
  private val attempted = new AtomicInteger(0)
  private val failed = new AtomicInteger(0)

  def put(name: String, value: Double, unit: String): Unit =
    synchronized { metrics(name) = (value, unit) }

  /** Count one operation; a false `ok` is a failure with its reason. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); errors.add(what) }
  }

  /** Run one operation, counting an exception as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Throwable =>
        attempted.incrementAndGet(); failed.incrementAndGet()
        errors.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  def nFailed: Int = failed.get
  def nAttempted: Int = attempted.get
  def errorList: Seq[String] = { import scala.jdk.CollectionConverters._; errors.asScala.toSeq }
  def all: Seq[(String, Double, String)] =
    synchronized(metrics.toSeq.map { case (k, (v, u)) => (k, v, u) })
}
