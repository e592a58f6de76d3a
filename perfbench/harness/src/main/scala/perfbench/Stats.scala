package perfbench

/** Order statistics over measured samples. */
object Stats {
  /** CPU time this process has used, all threads, in ns. Time the host
    * takes from the VM (steal) is not in it, unlike wall time. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Time the JIT compilers have spent so far, in ms. */
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU time of the JVM's Java threads so far, per thread id, in ns: the
    * program's own threads (driver, Spark executors and their background
    * threads, the status server), without the JIT compiler and GC threads,
    * which the JVM does not list. */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 > 0).toMap
  }

  /** Java-thread CPU ns spent since `before` (from [[threadCpuNs]]) by the
    * threads alive now; a thread started since counts from zero. */
  def threadCpuSinceNs(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, ns) =>
      math.max(0L, ns - before.getOrElse(id, 0L))
    }.sum

  /** Linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Arithmetic mean; 0 for no samples. */
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest order statistic with at least `above` samples above it
    * (the largest sample when there are fewer than `above` + 1). A tail
    * figure that stays steady however many samples a run collects. */
  def tail(xs: Seq[Double], above: Int = 10): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, s.size - 1 - above))
    }
}
