package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Minimal JSON rendering for the result and trace files. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null => "null"
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}:${render(x)}" }.mkString("{", ",", "}")
    case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
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

  def write(f: File, v: Any): Unit =
    Files.write(f.toPath, (render(v) + "\n").getBytes(UTF_8))

  /** The traced run's record: every span with its self time, each traced
    * iteration's per-layer values, Spark counters per phase and finished
    * queries, and the end-to-end numbers of the traced
    * and untraced iterations (their ratio is the tracing overhead). */
  def traceDoc(workload: String, seed: Long, iterations: Seq[Obj],
               traced: Map[String, Double], untraced: Map[String, Double]): Obj = {
    val spans = Spans.all
    val self = Spans.selfNs(spans)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    obj(
      "workload" -> workload, "seed" -> seed,
      "end_to_end_traced" -> traced, "end_to_end_untraced" -> untraced,
      "iterations" -> iterations,
      "spans" -> spans.map(s => obj(
        "id" -> s.id, "name" -> s.name, "run" -> s.runId, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> self(s.id) / 1e6)))
  }
}
