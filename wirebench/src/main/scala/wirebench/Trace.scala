package wirebench

/** One timed interval of one statement. `parent` is the index of the
  * enclosing span in the statement's span list, -1 for the root.
  * The layer is the name's prefix before the first dot.
  */
final case class Span(name: String, parent: Int, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = math.max(0L, endNs - startNs)
}

object Trace {

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfTimes(spans: IndexedSeq[Span]): IndexedSeq[Long] =
    spans.indices.map { i =>
      val s = spans(i)
      val kids = spans.filter(_.parent == i).map(c => (c.startNs, c.endNs))
      s.durNs - covered(kids, s.startNs, s.endNs)
    }

  /** Share of the root span that its direct children cover. */
  def coverage(spans: IndexedSeq[Span]): Double = {
    val root = spans(0)
    if (root.durNs == 0) 1.0
    else covered(spans.filter(_.parent == 0).map(c => (c.startNs, c.endNs)),
      root.startNs, root.endNs).toDouble / root.durNs
  }
}
