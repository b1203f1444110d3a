package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * (fractional), the clock Spark's listener events use. `parent` is the
  * id of the span that caused this one (-1 for an op, the root). */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Interval arithmetic over [start, end) pairs. */
object Intervals {

  /** Merge overlapping or touching intervals; drops empty ones. */
  def union(xs: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) {
        val (ls, le) = out.last
        out(out.size - 1) = (ls, math.max(le, e))
      } else out += ((s, e))
    }
    out.toSeq
  }

  def length(xs: Seq[(Double, Double)]): Double = union(xs).map(x => x._2 - x._1).sum

  def clip(x: (Double, Double), lo: Double, hi: Double): (Double, Double) =
    (math.max(x._1, lo), math.min(x._2, hi))
}

/** Self time: a span's duration minus the part of it that its children
  * cover (children clipped to the parent, overlapping children counted
  * once). Summed over a tree, self times add up to the root's duration
  * exactly when every child lies inside its parent. */
object SelfTime {

  def of(span: Span, children: Seq[Span]): Double = {
    val covered = Intervals.length(children.map(c =>
      Intervals.clip((c.startMs, c.endMs), span.startMs, span.endMs)))
    span.durMs - covered
  }

  /** Self time per layer for the tree under `root`, plus the relative gap
    * between their sum and the root's wall time. */
  def byLayer(root: Span, spans: Seq[Span]): (Map[String, Double], Double) = {
    val kids = spans.groupBy(_.parent)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def walk(s: Span): Unit = {
      // a child that starts outside its parent is clipped away entirely by
      // `of`; its own subtree then must not be counted either
      val inside = kids.getOrElse(s.id, Nil)
        .filter(c => c.endMs > s.startMs && c.startMs < s.endMs)
      acc(s.layer) += of(s, inside)
      inside.foreach(c => walk(c.copy(
        startMs = math.max(c.startMs, s.startMs), endMs = math.min(c.endMs, s.endMs))))
    }
    walk(root)
    val sum = acc.values.sum
    val err = if (root.durMs > 0) math.abs(sum - root.durMs) / root.durMs else 0.0
    (acc.toMap, err)
  }
}

/** In-memory span recorder for the single client thread. Spans opened
  * through [[call]] nest under whatever span is open; Spark-side spans
  * (query phases, jobs) are attached after the op by [[attach]]. Nothing
  * is recorded while `enabled` is false. */
final class Recorder(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var currentOp = -1

  /** Wall clock in fractional epoch ms, from the monotonic clock. */
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def all: Seq[Span] = spans.toSeq
  def openSpan: Int = if (stack.isEmpty) -1 else stack.top
  /** True while an op's body runs: work outside it is the harness's. */
  def inOp: Boolean = enabled && currentOp >= 0

  private def open(layer: String, name: String, op: Int): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, openSpan, op, layer, name, nowMs, Double.NaN)
    stack.push(id)
    id
  }

  private def close(id: Int): Unit = {
    stack.pop()
    spans(id) = spans(id).copy(endMs = nowMs)
  }

  /** Run `body` as op `op`, the root of its span tree. */
  def op[A](op: Int, name: String)(body: => A): A =
    if (!enabled) body
    else {
      currentOp = op
      val id = open("harness", name, op)
      try body finally { close(id); currentOp = -1 }
    }

  /** Run `body` as a call into `layer`; unrecorded outside an op. */
  def call[A](layer: String, name: String)(body: => A): A =
    if (!inOp) body
    else {
      val id = open(layer, name, currentOp)
      try body finally close(id)
    }

  /** Attach a finished span under the innermost recorded span of op `op`
    * whose interval contains `at` (its start for jobs and phases). */
  def attach(op: Int, layer: String, name: String, startMs: Double, endMs: Double,
             at: Double): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, innermost(op, at), op, layer, name, startMs, endMs)
    id
  }

  /** Attach a finished span directly under span `parent`. */
  def attachUnder(parent: Int, op: Int, layer: String, name: String,
                  startMs: Double, endMs: Double): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, op, layer, name, startMs, endMs)
    id
  }

  /** The deepest span of op `op` containing time `t` (the op root if none). */
  def innermost(op: Int, t: Double): Int = {
    val mine = spans.filter(s => s.op == op)
    val root = mine.find(_.parent == -1).map(_.id).getOrElse(-1)
    val depth = mutable.Map(root -> 0)
    mine.foreach(s => if (s.parent >= 0) depth(s.id) = depth.getOrElse(s.parent, 0) + 1)
    mine.filter(s => s.startMs <= t && t < s.endMs)
      .maxByOption(s => (depth.getOrElse(s.id, 0), s.startMs)).map(_.id).getOrElse(root)
  }

  def root(op: Int): Option[Span] = spans.find(s => s.op == op && s.parent == -1)
  def ofOp(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq
}
