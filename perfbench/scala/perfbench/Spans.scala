package perfbench

/** One traced interval. Times are epoch milliseconds, the clock every
  * Spark listener event uses. `parent` is 0 for a root (an op). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long) {
  def duration: Long = math.max(0L, end - start)

  def json: String =
    s"""{"id":$id,"parent":$parent,"kind":"${Json.esc(kind)}",""" +
      s""""name":"${Json.esc(name)}","start":$start,"end":$end}"""
}

/** Interval arithmetic behind the layer self-times. */
object Spans {
  type Iv = (Long, Long)

  /** Sorted, non-overlapping union of `ivs`, each clipped to `within`. */
  def union(ivs: Seq[Iv], within: Iv): Seq[Iv] = {
    val clipped = ivs.map { case (s, e) =>
      (math.max(s, within._1), math.min(e, within._2)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    clipped.foldLeft(Vector.empty[Iv]) {
      case (acc :+ ((s0, e0)), (s, e)) if s <= e0 => acc :+ ((s0, math.max(e0, e)))
      case (acc, iv) => acc :+ iv
    }
  }

  def length(ivs: Seq[Iv]): Long = ivs.map { case (s, e) => e - s }.sum

  /** Length of `a` not covered by `b` (both already unions). */
  def minus(a: Seq[Iv], b: Seq[Iv]): Long =
    a.map { case (s, e) => (e - s) - length(union(b, (s, e))) }.sum

  /** A span's self time: its duration less the part of its interval that
    * its children cover. Overlapping children count once. */
  def selfTime(span: Span, children: Seq[Span]): Long =
    span.duration - length(union(children.map(c => (c.start, c.end)),
      (span.start, span.end)))

  /** Splits one op's wall interval into layers, deepest layer first: an
    * instant where a task runs is exec, stage time without a running task
    * is sched, job time outside stages is job, planning outside jobs is
    * catalyst, the rest of the DataFrame-building call is construct, and
    * whatever remains is op. The parts always sum to the op's wall. */
  def layerSplit(op: Iv, build: Seq[Iv], catalyst: Seq[Iv], jobs: Seq[Iv],
                 stages: Seq[Iv], tasks: Seq[Iv]): Map[String, Long] = {
    val t = union(tasks, op)
    val s = union(stages ++ tasks, op)
    val j = union(jobs ++ stages ++ tasks, op)
    val c = union(catalyst ++ jobs ++ stages ++ tasks, op)
    val b = union(build ++ catalyst ++ jobs ++ stages ++ tasks, op)
    Map(
      "exec" -> length(t),
      "sched" -> (length(s) - length(t)),
      "job" -> (length(j) - length(s)),
      "catalyst" -> (length(c) - length(j)),
      "construct" -> (length(b) - length(c)),
      "op" -> ((op._2 - op._1) - length(b)))
  }
}

/** Minimal JSON writing; the harness emits flat objects only. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
