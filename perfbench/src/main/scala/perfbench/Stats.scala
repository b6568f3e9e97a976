package perfbench

/**
 * The benchmark's own arithmetic, kept pure so `SelfTest` can check it on
 * hand-made inputs before any figure is trusted.
 */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail figure: the sample at `percentile` (nearest rank), with the
    * number of samples strictly beyond it and the sample count. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  /** The highest nearest-rank percentile that still has at least
    * `minBeyond` samples beyond it. With n sorted samples the value at
    * 1-based rank r has n - r samples beyond it, so r = n - minBeyond;
    * fewer than minBeyond + 1 samples have no such percentile. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val n = s.size
    val r = n - minBeyond
    if (r < 1) None else Some(Tail(s(r - 1), 100.0 * r / n, n - r, n))
  }

  /** Edges per distinct candidate pair: the share of candidate-generation
    * work that survives verification. No candidates means no waste: 0. */
  def yieldRatio(edges: Long, candidatePairs: Long): Double = {
    require(edges >= 0 && candidatePairs >= 0, "counts are non-negative")
    require(edges <= candidatePairs, s"$edges edges from $candidatePairs candidates")
    if (candidatePairs == 0) 0.0 else edges.toDouble / candidatePairs
  }

  type Interval = (Long, Long)

  /** Merge intervals into a sorted, disjoint cover. Touching intervals
    * merge; empty or inverted ones are dropped. */
  def union(iv: Seq[Interval]): Seq[Interval] = {
    val sorted = iv.filter { case (s, e) => e > s }.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Interval]
    sorted.foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) {
        val (ls, le) = out.last
        out(out.size - 1) = (ls, math.max(le, e))
      } else out += ((s, e))
    }
    out.toSeq
  }

  def length(iv: Seq[Interval]): Long = union(iv).map { case (s, e) => e - s }.sum

  /** The part of `iv` that falls inside `windows`. */
  def intersect(iv: Seq[Interval], windows: Seq[Interval]): Seq[Interval] = {
    val a = union(iv)
    val b = union(windows)
    val out = scala.collection.mutable.ArrayBuffer.empty[Interval]
    var i = 0
    var j = 0
    while (i < a.size && j < b.size) {
      val s = math.max(a(i)._1, b(j)._1)
      val e = math.min(a(i)._2, b(j)._2)
      if (e > s) out += ((s, e))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.toSeq
  }

  /** Time inside `windows` covered by at least one of `iv`. */
  def covered(iv: Seq[Interval], windows: Seq[Interval]): Long =
    length(intersect(iv, windows))

  /**
   * Wall-time accounting of a traced run. `busy` is the union of every
   * job interval inside the windows and `gap` the window time no job
   * covers (driver-only work: planning, collects, file commits). Each
   * label's wall is the union of its own jobs, so labels whose jobs run
   * concurrently (append's generator chains) overlap: the label walls plus
   * the gap exceed the wall by exactly `overlap`. That sum holds by
   * construction; the check that the accounting covers the measured
   * operation is `wallResidual`.
   */
  final case class Accounting(wall: Long, busy: Long, gap: Long,
      labels: Map[String, Long], overlap: Long)

  /** (accounted wall − operation wall) ÷ operation wall, where the
    * accounted wall is the union of the operation windows on the wall
    * clock (ms) and the operation wall is the sum of the parts' own
    * `nanoTime` walls. A window lost from the accounting, or one that
    * spans more than its part, moves it. */
  def wallResidual(acc: Accounting, opSeconds: Double): Double =
    if (opSeconds <= 0) 0.0 else (acc.wall / 1e3 - opSeconds) / opSeconds

  def account(jobs: Seq[(String, Interval)], windows: Seq[Interval]): Accounting = {
    val wall = length(windows)
    val busy = covered(jobs.map(_._2), windows)
    val labels = jobs.groupBy(_._1).map { case (l, js) => l -> covered(js.map(_._2), windows) }
    Accounting(wall, busy, wall - busy, labels, labels.values.sum - busy)
  }

  /** Layer name of a Spark job description: `graft:<stage>[/<batch>]`
    * becomes `layout.<stage>`, `probe:<label>` becomes `probe.<label>`,
    * anything else (including no description) `other`. */
  def labelOf(description: String): String = {
    def clean(s: String) = s.takeWhile(c => c != '/' && c != ':')
      .map(c => if (c.isLetterOrDigit || c == '_' || c == '-') c else '_')
    Option(description).getOrElse("") match {
      case d if d.startsWith("graft:") && clean(d.drop(6)).nonEmpty =>
        "layout." + clean(d.drop(6))
      case d if d.startsWith("probe:") && clean(d.drop(6)).nonEmpty =>
        "probe." + clean(d.drop(6))
      case _ => "other"
    }
  }
}
