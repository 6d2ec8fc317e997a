package perfbench

/** One traced interval. `parent` is -1 for the root; times are epoch ms. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    start: Double, end: Double) {
  def kind: String = name.takeWhile(_ != ':')
}

object Spans {

  /** Clip every span into its parent's interval, top-down, so a child
    * reported a millisecond outside its parent (listener clocks are ms, op
    * clocks are ns) cannot make the subtree longer than its root. */
  def clip(spans: Seq[Span]): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    val out = Seq.newBuilder[Span]
    def go(s: Span): Unit = {
      out += s
      byParent.getOrElse(s.id, Nil).foreach { c =>
        val st = math.min(math.max(c.start, s.start), s.end)
        go(c.copy(start = st, end = math.max(st, math.min(c.end, s.end))))
      }
    }
    val ids = spans.iterator.map(_.id).toSet
    spans.filter(s => !ids.contains(s.parent)).foreach(go)
    out.result()
  }

  /** Self time of every span in one tree, in ms.
    *
    * A span's self time is its duration minus the union of the intervals its
    * children cover. Where siblings overlap (parallel tasks, concurrent
    * jobs), each instant is shared equally among the spans running then
    * that have no running child, so the self times of a tree always sum to
    * the root's duration. Spans must already be clipped ([[clip]]). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val parentOf = spans.iterator.map(s => s.id -> s.parent).toMap
    val depth = scala.collection.mutable.Map.empty[Long, Int]
    def d(id: Long): Int = depth.getOrElseUpdate(id,
      parentOf.get(id).filter(parentOf.contains).map(d(_) + 1).getOrElse(0))
    // Ends before starts at one instant; parents start before and end after
    // their children.
    val events = spans.flatMap(s => Seq(
      (s.start, 1, d(s.id), s.id), (s.end, 0, -d(s.id), s.id)))
      .sortBy(e => (e._1, e._2, e._3))
    val self = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val runningChildren = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    val running = scala.collection.mutable.Set.empty[Long]
    val frontier = scala.collection.mutable.LinkedHashSet.empty[Long]
    var last = Double.NaN
    events.foreach { case (t, isStart, _, id) =>
      if (frontier.nonEmpty && t > last) {
        val share = (t - last) / frontier.size
        frontier.foreach(f => self(f) += share)
      }
      last = t
      val p = parentOf(id)
      if (isStart == 1) {
        running += id
        frontier += id
        if (running.contains(p)) {
          runningChildren(p) += 1
          frontier -= p
        }
      } else {
        running -= id
        frontier -= id
        if (running.contains(p)) {
          runningChildren(p) -= 1
          if (runningChildren(p) == 0) frontier += p
        }
      }
    }
    spans.iterator.map(s => s.id -> self(s.id)).toMap
  }

  /** Milliseconds covered by the union of `intervals`. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
