package perfbench

/** One published file: when it was due, and how many of its events fall on
  * each day, in the order the generator assigned per-day ordinals. */
final case class Published(dueNanos: Long, dayCounts: Seq[(String, Int)])

object Latency {

  /** Per-event latency in ms, from the event's due time to the first sink
    * `total` return for its day key that covers the event's per-day
    * ordinal, plus the number of events no return ever covered.
    *
    * Ordinals follow publish order: the first event of a day is ordinal 1.
    * A return of `total = t` at time `x` lands every ordinal up to `t` no
    * later than `x`; an event's landing is the earliest such `x`. */
  def attribute(files: Seq[Published], landings: Map[String, Seq[Landing]],
                keyPrefix: String): (Array[Double], Long) = {
    // per key: returned totals ascending, with the earliest time at which
    // each total or any larger one came back (suffix minimum)
    val covers = landings.map { case (k, ls) =>
      val sorted = ls.sortBy(_.total).toArray
      val totals = sorted.map(_.total)
      val earliest = sorted.map(_.nanos)
      for (i <- earliest.length - 2 to 0 by -1)
        earliest(i) = math.min(earliest(i), earliest(i + 1))
      k -> (totals, earliest)
    }
    val ordinal = scala.collection.mutable.HashMap.empty[String, Long]
    val out = Array.newBuilder[Double]
    var missing = 0L
    files.foreach { f =>
      f.dayCounts.foreach { case (day, n) =>
        val first = ordinal.getOrElse(day, 0L) + 1
        ordinal(day) = first + n - 1
        covers.get(keyPrefix + day) match {
          case None => missing += n
          case Some((totals, earliest)) =>
            var o = first
            while (o < first + n) {
              val i = java.util.Arrays.binarySearch(totals, o)
              val j = if (i >= 0) i else -i - 1
              if (j >= totals.length) missing += 1
              else out += (earliest(j) - f.dueNanos) / 1e6
              o += 1
            }
        }
      }
    }
    (out.result(), missing)
  }
}
