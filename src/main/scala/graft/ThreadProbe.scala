package graft

/** Histogram of live thread names, to locate pools that outlive a query
  * (bench-end `threads=1030` in the r5 judge run came from streaming
  * sinks). Printed by [[Bench]] at the end of a run and by [[RunOne]]
  * after each rep. */
object ThreadProbe {
  def histo(): Map[String, Int] = {
    val t = new Array[Thread](Thread.activeCount() * 2 + 16)
    val n = Thread.enumerate(t)
    t.take(n).filter(_ != null)
      .groupBy(th => th.getName.replaceAll("[0-9]+", "#"))
      .view.mapValues(_.length).toMap
  }
  /** Shared with Bench's end-of-run audit (round-6 verdict #4). */
  def printTop(tag: String): Unit = {
    val h = histo()
    println(s"[probe] $tag total=${h.values.sum}")
    h.toSeq.sortBy(-_._2).take(12).foreach { case (k, v) =>
      println(f"[probe]   $v%4d  $k")
    }
  }
}
