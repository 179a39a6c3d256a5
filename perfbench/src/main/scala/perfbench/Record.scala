package perfbench

import scala.collection.mutable

/** Minimal JSON rendering for the raw run record (no JSON library is on
  * the classpath that the benchmark may rely on across Spark versions). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case o: Option[_] => o.map(render).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Everything one benchmark process measured, kept in memory and written
  * once at the end. Times are epoch milliseconds (fractional) so the
  * Python side can intersect operation windows with listener spans. */
final class Record(val workload: String, val seed: Long, val trace: Boolean) {
  val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  val setup = mutable.LinkedHashMap.empty[String, Any]
  var windowStartMs: Double = Double.NaN
  var windowEndMs: Double = Double.NaN

  def nowMs: Double = Clock.nowMs

  /** Time one operation; `fields` are recorded with it. A throwing
    * operation is recorded as failed and does not stop the run. */
  def op[T](kind: String, name: String, fields: (String, Any)*)(body: => T): Option[T] = {
    val rec = mutable.LinkedHashMap[String, Any]("id" -> ops.size, "kind" -> kind, "name" -> name)
    fields.foreach { case (k, v) => rec(k) = v }
    val t0 = nowMs
    val out =
      try Some(body)
      catch {
        case e: Throwable =>
          rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          None
      }
    rec("t0") = t0
    rec("t1") = nowMs
    rec("ok") = out.isDefined
    ops += rec
    out
  }

  /** Mark the most recent operation failed (a wrong answer counts as a
    * failure, exactly like an exception). */
  def failLast(reason: String): Unit = {
    val rec = ops.last
    rec("ok") = false
    rec("error") = reason
    System.err.println(s"[perfbench] op ${rec("name")} failed: $reason")
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks(name) = (ok, detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  def toJson(extra: Map[String, Any]): String = {
    val m = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "window" -> Seq(windowStartMs, windowEndMs),
      "setup" -> setup, "ops" -> ops, "values" -> values,
      "checks" -> checks.map { case (k, (ok, d)) => k -> Map("ok" -> ok, "detail" -> d) })
    extra.foreach { case (k, v) => m(k) = v }
    Json.render(m)
  }
}

/** Wall clock with sub-millisecond resolution that stays comparable with
  * Spark's listener timestamps (epoch ms). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
