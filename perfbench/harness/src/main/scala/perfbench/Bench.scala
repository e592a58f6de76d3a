package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one workload run hands back: operation counts and the metrics,
  * end to end (`e2e`) and per layer (`layer`). */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]

  /** Count one checked operation; a failed check is noted (first 20). */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (notes.size < 20) notes += what
    }
  }
}

/** One set-up repetition: wall seconds and CPU seconds of the Java
  * threads. */
final case class Setup(wallS: Double, cpuS: Double)

object Setup {
  def timed(body: => Unit): Setup = {
    val c0 = Stats.threadCpuNs()
    val t0 = System.nanoTime()
    body
    Setup((System.nanoTime() - t0) / 1e9, Stats.threadCpuSinceNs(c0) / 1e9)
  }
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    work: java.io.File, dataDir: String, tracer: Tracer,
    listener: JobListener) {
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** The benchmark process: one Spark session, one workload, one JSON
  * record.
  *
  * Usage: perfbench.Bench --workload ingest|queries --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE [--data DIR]
  *   [--cores N] [--trace-out FILE]
  */
object Bench {
  /** Set-up is repeated this many times per run (`queries` repeats the
    * table generation, in run.py); `setup_s` takes the median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = new java.io.File(a("work"))
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val dataDir = a.getOrElse("data", new java.io.File(work, "data").getPath)
    require(Set("ingest", "queries").contains(workload),
      s"unknown workload $workload")

    sys.props("graft.index.dir") = new java.io.File(work, "index").getPath
    val t0 = System.nanoTime()
    val spark = session(work, dataDir, cores, workload)
    val sessionWallS = (System.nanoTime() - t0) / 1e9
    // every Java thread's CPU so far: JVM start-up and the session
    val sessionCpuS = Stats.threadCpuSinceNs(Map.empty) / 1e9
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark, traced)
    val ctx = Ctx(spark, seed, seconds, work, dataDir, tracer, listener)
    val out = new Outcome
    val runId = s"$workload-$seed-${if (traced) "traced" else "plain"}"
    try {
      val (setups, w0, w1) = workload match {
        case "ingest" => IngestWorkload.run(ctx, out)
        case "queries" => QueriesWorkload.run(ctx, out)
      }
      JobListener.drain(spark)
      val jobs = listener.jobs
      out.e2e("setup_s") = sessionCpuS + Stats.median(setups.map(_.cpuS))
      out.layer("setup_wall_s") = sessionWallS + Stats.median(setups.map(_.wallS))
      System.err.println(f"[perfbench] session $sessionWallS%.2f s " +
        f"(cpu $sessionCpuS%.2f s), set-ups " +
        setups.map(s => f"${s.wallS}%.2f (cpu ${s.cpuS}%.2f)").mkString(", ") +
        f" s, measured ${(w1 - w0) / 1e3}%.2f s")
      JobListener.sparkMetrics(jobs, w0, w1).foreach { case (k, v) =>
        out.layer(k) = v
      }
      val spans = tracer.recorded
      out.layer("trace.spans") = spans.size.toDouble
      out.layer("trace.overhead_pct") =
        if (!traced || w1 <= w0) 0.0
        else 100.0 * spans.size * tracer.perSpanCostNs() / 1e6 / (w1 - w0)
      a.get("trace-out").filter(_ => traced).foreach { p =>
        tracer.writeJsonl(java.nio.file.Paths.get(p), runId, jobs)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.check(ok = false, s"workload aborted: $e")
    } finally spark.stop()
    writeOutcome(new java.io.File(a("out")), out)
  }

  /** The production session: GraftSession.tuned with the settings
    * graft.Bench uses (local[cores], Autoscale shuffle partitions, AQE,
    * nanosAsLong), with every local directory inside the run's work dir. */
  private def session(work: java.io.File, dataDir: String, cores: Int,
      workload: String): SparkSession = {
    val partitions =
      if (workload == "queries") graft.operators.Autoscale.resolve(dataDir, cores)
      else cores
    val spark = graft.GraftSession.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir",
        new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def jsonString(s: String): String = mapper.writeValueAsString(s)

  private def writeOutcome(f: java.io.File, o: Outcome): Unit = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    def obj(m: mutable.LinkedHashMap[String, Double]): String =
      m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val notes = o.notes.map(jsonString).mkString("[", ",", "]")
    val json = s"""{"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""e2e":${obj(o.e2e)},"layer":${obj(o.layer)},"notes":$notes}"""
    java.nio.file.Files.writeString(f.toPath, json + "\n")
  }
}
