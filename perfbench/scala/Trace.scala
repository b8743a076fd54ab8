package graftbench

import scala.collection.mutable

/** Minimal JSON writer for the span dump and the result line. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** In-memory span recorder. Three levels: op (one closed-loop request)
  * → call (one public graft entry point the benchmark invokes) → job
  * (a Spark job, recorded by [[BenchListener]]). Ops and calls are
  * stamped here on the client thread; jobs arrive asynchronously and
  * are parented later by time containment, which is exact because the
  * single client thread never overlaps two ops or two calls. Everything
  * is written once, at the end, as JSON lines. */
final class Tracer {
  /** On only during the traced half of a traced run. */
  @volatile var enabled = false
  private val recs = mutable.ArrayBuffer.empty[String]
  private var nextId = 0
  private var opId = -1

  def record(kind: String, fields: (String, Any)*): Unit =
    if (enabled) recs.synchronized { recs += Json.obj(("kind" -> kind) +: fields) }

  private def newId(): Int = { nextId += 1; nextId }

  /** Time one op; returns (wall seconds, the exception it threw). A
    * failed op is a result, not the end of the run. */
  def op(name: String, cls: String)(body: => Unit): (Double, Option[Throwable]) = {
    val id = newId(); opId = id
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val err = try { body; None } catch { case e: Throwable => Some(e) }
    val wall = (System.nanoTime() - n0) / 1e9
    record("op", "id" -> id, "name" -> name, "cls" -> cls, "start" -> t0,
      "end" -> System.currentTimeMillis(), "wall_s" -> wall, "ok" -> err.isEmpty)
    opId = -1
    (wall, err)
  }

  /** Time one public call inside the current op. `module` is the repo
    * module that owns the entry point; it is the attribution fallback
    * for jobs whose call site names no repo file. */
  def call[T](name: String, module: String, phase: String = "")(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body finally record("call", "id" -> id, "op" -> opId, "name" -> name,
      "module" -> module, "phase" -> phase, "start" -> t0,
      "end" -> System.currentTimeMillis(), "wall_s" -> (System.nanoTime() - n0) / 1e9)
  }

  def gauge(name: String, value: Double): Unit =
    record("gauge", "op" -> opId, "name" -> name, "value" -> value, "t" -> System.currentTimeMillis())

  def writeTo(path: String): Unit = recs.synchronized {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), recs.mkString("", "\n", "\n"))
  }
}
