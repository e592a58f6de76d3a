package perfbench

import graft.ledger.LedgerStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A LedgerStore whose public `merge` and `read` are timed around `super`.
  * Compaction runs inside `merge`, so its cost lands in the merge figures;
  * `read` covers the chain walk and plan build (the rows are produced
  * later, by whoever runs the plan). */
final class TimedLedgerStore(spark: SparkSession, val dir: String,
    tracer: Tracer) extends LedgerStore(spark, dir) {
  private val mergeNanos = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private val readCount = new java.util.concurrent.atomic.AtomicLong
  private val readNs = new java.util.concurrent.atomic.AtomicLong

  override def merge(updates: DataFrame, requireExisting: Boolean): Unit =
    tracer.span("ledger.merge") {
      val t0 = System.nanoTime()
      try super.merge(updates, requireExisting)
      finally { mergeNanos.add(System.nanoTime() - t0); () }
    }

  override def read(): DataFrame = tracer.span("ledger.read") {
    val t0 = System.nanoTime()
    try super.read()
    finally {
      readNs.addAndGet(System.nanoTime() - t0)
      readCount.incrementAndGet(); ()
    }
  }

  def merges: Seq[Double] = {
    val b = Seq.newBuilder[Double]
    mergeNanos.forEach(n => b += n / 1e9)
    b.result()
  }
  def reads: Long = readCount.get()
  def readSeconds: Double = readNs.get() / 1e9

  /** (compactions, live chain length) from the retained generation log. A
    * ledger built by merges starts with a delta, so every base in it is a
    * compaction. */
  def chainFigures(): (Long, Long) = {
    val h = history().collect().map(r => (r.getLong(0), r.getString(1)))
    val bases = h.filter(_._2 == "base").map(_._1)
    val lastBase = if (bases.isEmpty) 0L else bases.max
    (bases.length.toLong, h.count(_._1 >= lastBase).toLong)
  }

  /** (files, bytes) on disk under the ledger directory. */
  def diskFigures(): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val regular = files.filter(p => java.nio.file.Files.isRegularFile(p))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
      (regular.length.toLong,
        regular.map(p => java.nio.file.Files.size(p)).sum)
    } finally files.close()
  }
}
