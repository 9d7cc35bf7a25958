package graftbench

/** Summary statistics shared by every workload and unit-checked by [[SelfTest]]. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples (got $xs)")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
   *  the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** The tail rule: the highest whole percentile that still leaves at
   *  least `beyond` samples above its rank. With fewer than
   *  2 * `beyond` samples no percentile above the median qualifies,
   *  and the median is reported. */
  def tailPercentile(n: Int, beyond: Int = 10): Int = {
    require(n >= 1, "tail of no samples")
    val p = math.floor(100.0 * (n - beyond) / n + 1e-9).toInt
    math.min(99, math.max(50, p))
  }

  /** Scheduler delay of one task, as the Spark UI computes it: the part
   *  of the task's launch-to-finish time not spent deserializing,
   *  running, serializing the result or fetching it. All in ms. */
  def schedulerDelayMs(durationMs: Long, executorRunMs: Long, deserializeMs: Long,
                       resultSerializeMs: Long, gettingResultMs: Long): Long =
    math.max(0L, durationMs - executorRunMs - deserializeMs - resultSerializeMs - gettingResultMs)

  /** Share of `wallS` the tasks of an operation spent waiting on the
   *  scheduler. The delays of tasks that ran at the same time overlap,
   *  so the summed delay is divided across the `slots` task slots
   *  before it is compared with wall time. */
  def schedDelayShare(totalDelayS: Double, slots: Int, wallS: Double): Double =
    if (wallS <= 0) 0.0 else totalDelayS / math.max(1, slots) / wallS
}
