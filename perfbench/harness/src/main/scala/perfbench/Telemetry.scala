package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One finished Spark job, as the listener saw it. `span` is the
  * `perfbench.span` local property of the submitting thread (0 = none);
  * `tag` is the `perfbench.tag` property (the request kind and sequence
  * number on the status server's dispatch thread). */
final case class JobRecord(id: Int, startMs: Long, endMs: Long, span: Long,
    tag: String, tasks: Int, taskBusyMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillDiskBytes: Long)

/** The benchmark's own SparkListener: every job with its task counts,
  * busy time, GC, shuffle and spill, keyed back to the span or tag that
  * submitted it. Reads happen after a listener-bus drain. */
final class JobListener extends SparkListener {
  private final class Open(val start: Long, val span: Long, val tag: String) {
    var tasks = 0; var busy = 0L; var gc = 0L; var shuffle = 0L; var spill = 0L
  }
  private val open = mutable.Map.empty[Int, Open]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(JobListener.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val tag = p.flatMap(x => Option(x.getProperty(JobListener.TagKey)))
      .getOrElse("")
    open(e.jobId) = new Open(e.time, span, tag)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId); o <- open.get(j)) {
      o.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        o.busy += m.executorRunTime
        o.gc += m.jvmGCTime
        o.shuffle += m.shuffleWriteMetrics.bytesWritten
        o.spill += m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      done += JobRecord(e.jobId, o.start, e.time, o.span, o.tag, o.tasks,
        o.busy, o.gc, o.shuffle, o.spill)
    }
  }

  /** Jobs finished so far (call after [[JobListener.drain]]). */
  def jobs: Seq[JobRecord] = synchronized(done.toList)
}

object JobListener {
  val SpanKey = "perfbench.span"
  val TagKey = "perfbench.tag"

  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.GraftInternal.drainListenerBus(spark, 30000L)

  /** Spark runtime figures over the jobs that started inside
    * [w0Ms, w1Ms]: counts, busy and GC seconds, shuffle and spill MB, and
    * the job gap — wall time in the window during which no job ran. */
  def sparkMetrics(jobs: Seq[JobRecord], w0Ms: Long, w1Ms: Long)
      : Seq[(String, Double)] = {
    val in = jobs.filter(j => j.startMs >= w0Ms && j.startMs <= w1Ms)
    val busyWall = union(in.map(j => (j.startMs, math.min(j.endMs, w1Ms))))
    Seq(
      "spark.jobs" -> in.size.toDouble,
      "spark.job_gap_s" -> math.max(0L, w1Ms - w0Ms - busyWall) / 1e3,
      "spark.tasks" -> in.map(_.tasks).sum.toDouble,
      "spark.task_busy_s" -> in.map(_.taskBusyMs).sum / 1e3,
      "spark.shuffle_write_mb" -> in.map(_.shuffleWriteBytes).sum / 1048576.0,
      "spark.spill_disk_mb" -> in.map(_.spillDiskBytes).sum / 1048576.0,
      "spark.gc_s" -> in.map(_.gcMs).sum / 1e3)
  }

  /** Total length of the union of closed intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One traced interval. Times are epoch milliseconds with a sub-ms part
  * from the monotonic clock. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
    endMs: Double)

/** In-memory span recorder. Disabled, `span` only runs its body. Enabled,
  * it records the span, makes it the parent of spans opened inside it on
  * the same thread, and sets the `perfbench.span` local property so the
  * Spark jobs the body submits join it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val sc = spark.sparkContext
      current.set(id)
      sc.setLocalProperty(JobListener.SpanKey, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, parent, name, t0, nowMs))
        current.set(parent)
        sc.setLocalProperty(JobListener.SpanKey,
          if (parent == 0L) null else parent.toString)
      }
    }

  def recorded: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }

  /** Mean cost in ns of one empty span, measured in place: the tracing
    * overhead estimate is this times the spans a run recorded. */
  def perSpanCostNs(): Double = {
    val probe = new Tracer(spark, enabled = true)
    val n = 20000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { probe.span("probe")(()); i += 1 }
    (System.nanoTime() - t0).toDouble / n
  }

  /** Spans plus one child span per Spark job that joined a span, each
    * with its self time (duration minus the time of its direct children),
    * as JSON lines. */
  def writeJsonl(path: java.nio.file.Path, runId: String,
      jobs: Seq[JobRecord]): Unit = {
    val all = recorded ++ jobs.filter(_.span != 0L).map(j =>
      Span(-j.id.toLong - 1, j.span, s"spark.job.${j.id}", j.startMs.toDouble,
        j.endMs.toDouble))
    val childTime = all.groupBy(_.parent).view
      .mapValues(_.map(s => s.endMs - s.startMs).sum).toMap
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startMs).foreach { s =>
      val dur = s.endMs - s.startMs
      val self = math.max(0.0, dur - childTime.getOrElse(s.id, 0.0))
      w.write(f"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        f""""name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"self_ms":$self%.3f}""")
      w.newLine()
    } finally w.close()
  }
}
