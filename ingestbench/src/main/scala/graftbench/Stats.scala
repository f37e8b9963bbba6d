package graftbench

/** The benchmark's statistics: medians, the tail rule, interval unions and
  * job attribution. Pure functions over recorded samples, so they are
  * tested without a Spark session. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail statistic: the value at `percentile`, and how many samples
    * lie strictly beyond it. */
  final case class Tail(value: Double, percentile: Double, samples: Int,
      beyond: Int)

  /** The highest percentile with at least `minBeyond` samples beyond it.
    *
    * With the samples sorted ascending, the value at rank `r` (0-based) has
    * `n - 1 - r` samples after it; the highest qualifying rank is therefore
    * `n - 1 - minBeyond`, reported as the percentile `100 * r / (n - 1)`.
    * With `minBeyond` or fewer samples no percentile qualifies, and the
    * minimum (percentile 0) is reported with the number actually beyond
    * it, so the shortfall stays visible. Ties are counted as beyond only
    * when strictly greater. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    val r = math.max(0, n - 1 - minBeyond)
    val pct = if (n == 1) 0.0 else 100.0 * r / (n - 1)
    Tail(s(r), pct, n, s.count(_ > s(r)))
  }

  /** Total length covered by a set of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** The part of `outer` that none of `inner` covers (inner intervals are
    * clipped to `outer` first). This is a span's self time. */
  def uncovered(outer: (Long, Long), inner: Seq[(Long, Long)]): Long = {
    val (a, b) = outer
    val clipped = inner.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
    math.max(0L, (b - a) - unionLength(clipped))
  }

  /** A Spark job as the listener saw it: its interval and the
    * `streaming.sql.batchId` local property, when the job carried one. */
  final case class JobSample(id: Int, start: Long, end: Long,
      batchId: Option[Long])

  /** A timed operation window: a streaming trigger (with the micro-batch
    * id it committed) or a read. */
  final case class OpWindow(op: Int, start: Long, end: Long,
      batchId: Option[Long])

  /** Attribute jobs to operations. A job that carries a batch id belongs
    * to the operation that committed that micro-batch, wherever it ran;
    * a job without one (a read, or work the engine hands to a thread pool
    * that did not inherit the property) belongs to the operation whose
    * window contains its start. Jobs matching neither are dropped. */
  def attributeJobs(jobs: Seq[JobSample], ops: Seq[OpWindow]): Map[Int, Seq[JobSample]] = {
    val byBatch = ops.flatMap(o => o.batchId.map(_ -> o.op)).toMap
    jobs.flatMap { j =>
      val viaBatch = j.batchId.flatMap(byBatch.get)
      val op = viaBatch.orElse(
        if (j.batchId.isDefined) None
        else ops.find(o => j.start >= o.start && j.start < o.end).map(_.op))
      op.map(_ -> j)
    }.groupBy(_._1).map { case (op, js) => op -> js.map(_._2).sortBy(_.start) }
  }
}
