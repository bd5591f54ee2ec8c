package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** One call into a layer: a name, start and end, its parent span and
  * the run it belongs to. Task totals are attached after the pass, once
  * the listener bus has drained. */
final class Span(val id: String, val name: String, val parent: String,
    val run: String, val pass: Int, val startNs: Long) {
  var endNs: Long = startNs
  var childNs: Long = 0L
  var totals: Totals = new Totals

  def wallS: Double = (endNs - startNs) / 1e9
  def selfS: Double = (endNs - startNs - childNs) / 1e9

  def json: String = {
    val t = totals
    Json.obj(
      "id" -> id, "name" -> name, "parent" -> parent, "run" -> run,
      "pass" -> pass, "start_ns" -> startNs, "end_ns" -> endNs,
      "wall_s" -> wallS, "self_s" -> selfS, "jobs" -> t.jobs,
      "stages" -> t.stages, "tasks" -> t.tasks, "task_s" -> t.taskNs / 1e9,
      "cpu_s" -> t.cpuNs / 1e9, "max_task_s" -> t.maxTaskNs / 1e9,
      "shuffle_write_mb" -> t.shuffleWriteBytes / 1048576.0,
      "spill_mb" -> t.spillBytes / 1048576.0)
  }
}

/** Opens spans around the benchmark's calls into the program's
  * modules. Disabled, a layer call is just the call. Enabled, each call
  * opens a span whose id is set as the `perfbench.span` local property,
  * so the listener attributes the call's Spark jobs to it, and a
  * DataFrame result is persisted and counted inside the span before the
  * next call: the span's self time is then that layer's own work.
  * Spans stay in memory and are written out when the run ends.
  */
final class Tracer(obs: Observer, runId: String) {
  private val open = mutable.Stack.empty[Span]
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private var seq = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  var enabled = false
  var pass = 0

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      seq += 1
      val parent = open.headOption
      val s = new Span(s"$runId/$seq", name, parent.map(_.id).getOrElse(""),
        runId, pass, System.nanoTime())
      open.push(s)
      obs.setSpan(s.id)
      try f
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        parent.foreach(_.childNs += s.endNs - s.startNs)
        obs.setSpan(parent.map(_.id).orNull)
        spans += s
      }
    }

  /** A layer call whose result is a DataFrame: traced, the result is
    * materialized inside the span so later spans do not redo its work. */
  def layer(name: String)(f: => DataFrame): DataFrame =
    span(name) {
      val df = f
      if (enabled) {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        persisted += p
        p
      } else df
    }

  /** Drop what the traced layers persisted during the pass. */
  def endPass(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
  }

  /** Attach the listener's task totals to the spans of `passNo`. */
  def attachTotals(passNo: Int): Unit =
    spans.filter(_.pass == passNo).foreach(s => s.totals = obs.spanTotals(s.id))
}

/** Minimal JSON writing for flat records (no dependency beyond Spark). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
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

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-encoded JSON, embedded as is. */
  final case class Raw(json: String)
}

object Stats {
  /** Median, the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
