package perfbench

/** Splits one operation's wall time into the time covered by Spark jobs,
  * the time inside SQL executions that no job covers (planning, broadcast
  * builds, result handling), and the driver glue outside both.
  *
  * The split is made from interval unions, clipped to the operation's
  * window, so the three parts always sum to the wall and none can be
  * negative:
  *   - a job or execution with no end event is dropped, not counted to
  *     the end of time or from time zero;
  *   - a job inside two overlapping executions is covered once;
  *   - overlapping jobs (concurrent stages) are covered once.
  * Times are in any one unit; the caller uses nanoseconds. */
object Attribution {

  /** A listener record; `end` is None until its end event arrives. */
  final case class Rec(start: Long, end: Option[Long])

  final case class Split(wall: Long, jobs: Long, plan: Long, glue: Long)

  /** Completed records, clipped to [from, until]; unfinished, inverted
    * and out-of-window records are dropped. */
  private def clip(recs: Seq[Rec], from: Long, until: Long): Seq[(Long, Long)] =
    recs.flatMap {
      case Rec(s, Some(e)) if e >= s =>
        val (a, b) = (math.max(s, from), math.min(e, until))
        if (b > a) Some((a, b)) else None
      case _ => None
    }

  /** Total length of the union of intervals. */
  private def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def split(from: Long, until: Long, jobs: Seq[Rec], execs: Seq[Rec]): Split = {
    val wall = math.max(0L, until - from)
    val j = clip(jobs, from, until)
    val jobTime = covered(j)
    val busy = covered(j ++ clip(execs, from, until))
    Split(wall, jobTime, busy - jobTime, wall - busy)
  }
}
