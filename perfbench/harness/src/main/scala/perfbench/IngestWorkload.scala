package perfbench

import graft.ingest.{IngestPipeline, IngestResult}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

/** `ingest`: one client in a closed loop. A seeded generator drops a wave
  * of files into one inbox (atomic rename), then one
  * `IngestPipeline.runOnce`; after the last wave, redelivery passes with no
  * new files. The ledger must end equal to the generator's truth. */
object IngestWorkload {
  sealed trait Kind
  case object Valid extends Kind       // header + rows: done
  case object HeaderOnly extends Kind  // fails, retried, quarantined at 5
  case object NewlineOnly extends Kind // a lone "\n": done, 2 lines
  case object Txt extends Kind         // not a CSV: no ledger trace

  final case class FileSpec(name: String, kind: Kind, content: String) {
    def isCsv: Boolean = kind != Txt
    /** The reference's split('\n') element count. */
    def lines: Long = content.count(_ == '\n') + 1L
  }

  /** Rows of the valid CSVs in one wave: the same multiset every wave and
    * every seed, so a run's cost does not depend on the seed. */
  val ValidRows: Seq[Int] = Seq(1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233)
  val HeaderOnlyPerWave = 3
  val NewlineOnlyPerWave = 2
  val TxtPerWave = 2
  val MaxAttempts = 5
  /** Waves per measured second of `--seconds`; never fewer than
    * MinWaves. */
  val WavesPerSecond = 0.15
  val MinWaves = 3
  /** Redelivery passes (no new files) after the last wave; each is
    * followed by GetsPerPass served get-upload-status requests. */
  val RedeliveryPasses = 3
  val GetsPerPass = 2

  /** Header-only files ride only the waves whose retries run out within
    * the run, so every one of them is quarantined by the last redelivery
    * pass. */
  def headerOnly(w: Int, waves: Int): Int =
    if (w + MaxAttempts <= waves + RedeliveryPasses) HeaderOnlyPerWave else 0

  private val Depts = Array("Engineering", "Sales", "Finance", "Support", "Ops")

  def wave(rng: scala.util.Random, w: Int, headerOnly: Int): Seq[FileSpec] = {
    def name(ext: String) =
      f"w$w%03d-${rng.alphanumeric.take(10).mkString.toLowerCase}.$ext"
    def csv(rows: Int): String = {
      val sb = new StringBuilder("id,name,email,age,department\n")
      (1 to rows).foreach { i =>
        val n = rng.alphanumeric.filter(_.isLetter).take(6).mkString
        sb ++= s"$i,$n $i,${n.toLowerCase}.$i@example.com," +
          s"${20 + rng.nextInt(45)},${Depts(rng.nextInt(Depts.length))}\n"
      }
      sb.toString
    }
    val files =
      ValidRows.map(r => FileSpec(name("csv"), Valid, csv(r))) ++
        Seq.fill(headerOnly)(
          FileSpec(name("csv"), HeaderOnly, "id,name,email,age,department")) ++
        Seq.fill(NewlineOnlyPerWave)(FileSpec(name("csv"), NewlineOnly, "\n")) ++
        Seq.fill(TxtPerWave)(FileSpec(name("txt"), Txt, "not a csv\n"))
    rng.shuffle(files)
  }

  /** Write a wave to `staging`, then rename each file into `inbox`, so a
    * listing never sees a half-written file. Returns rename times (ms). */
  def deliver(files: Seq[FileSpec], staging: String, inbox: String,
      clock: () => Double): Map[String, Double] =
    files.map { f =>
      val s = Paths.get(staging, f.name)
      Files.writeString(s, f.content)
      Files.move(s, Paths.get(inbox, f.name), StandardCopyOption.ATOMIC_MOVE)
      f.name -> clock()
    }.toMap

  final class Loop(ctx: Ctx, root: String) {
    val inbox: String = ctx.dir(s"$root/inbox")
    val staging: String = ctx.dir(s"$root/staging")
    val quarantine: String = new java.io.File(ctx.dir(root), "quarantine").getPath
    val store = new TimedLedgerStore(ctx.spark, ctx.dir(s"$root/ledger"),
      ctx.tracer)
    val pipeline = new IngestPipeline(ctx.spark, store, quarantine, MaxAttempts)
    def pass(): IngestResult = ctx.tracer.span("ingest.pass")(pipeline.runOnce(inbox))
  }

  /** Untimed warm-up and the set-up the run reports: a fresh inbox and
    * ledger, one wave and its pass. */
  private def setupOnce(ctx: Ctx, i: Int): Setup = Setup.timed {
    val loop = new Loop(ctx, s"setup-$i")
    val rng = new scala.util.Random(ctx.seed * 31 + i)
    deliver(wave(rng, 0, HeaderOnlyPerWave), loop.staging, loop.inbox, () => 0.0)
    loop.pass()
  }

  /** Served reads: list-uploads after the first redelivery pass (its ids
    * address the lookups), then GetsPerPass get-upload-status after every
    * redelivery pass. */
  val ListLimit = 100

  def run(ctx: Ctx, out: Outcome): (Seq[Setup], Long, Long) = {
    val setups = (0 until Bench.SetupReps).map(setupOnce(ctx, _))
    graft.queries.Q.release(ctx.spark)
    System.gc()

    val waves =
      math.max(MinWaves, math.round(ctx.seconds * WavesPerSecond).toInt)
    val rng = new scala.util.Random(ctx.seed)
    val loop = new Loop(ctx, "run")
    val served = new Served(loop.store, ctx.spark.sparkContext)
    val tracer = ctx.tracer
    val truth = mutable.LinkedHashMap.empty[String, FileSpec]
    val arrived = mutable.Map.empty[String, Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    final case class PassRec(r: IngestResult, t0: Double, t1: Double,
        cpuMs: Double)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    // attempts so far per header-only file (the expected ledger state)
    val attempts = mutable.LinkedHashMap.empty[String, Int]
    // the pass that last wrote each CSV's queued_at (arrival or retry)
    val queuedIn = mutable.Map.empty[String, Int]
    final case class Read(kind: String, ms: Double, cpuMs: Double)
    val readsServed = mutable.ArrayBuffer.empty[Read]
    val idByFile = mutable.Map.empty[String, String]

    JobListener.drain(ctx.spark)
    val w0 = System.currentTimeMillis()
    val cpu0 = Stats.processCpuNs()
    val jit0 = Stats.jitMs()
    try tracer.span("run.ingest") {
      (0 until waves + RedeliveryPasses).foreach { p =>
        val files = if (p < waves) tracer.span("ingest.deliver") {
          val fs = wave(rng, p, headerOnly(p, waves))
          fs.foreach(f => truth(f.name) = f)
          arrived ++= deliver(fs, loop.staging, loop.inbox, () => tracer.nowMs)
          fs
        } else Seq.empty
        val c0 = Stats.threadCpuNs()
        val t0 = tracer.nowMs
        val r = loop.pass()
        val t1 = tracer.nowMs
        passes += PassRec(r, t0, t1, Stats.threadCpuSinceNs(c0) / 1e6)
        // every CSV of this wave reaches its first terminal status here
        files.filter(_.isCsv).foreach(f => latencies += t1 - arrived(f.name))
        // the pass's counters against the truth
        val retried = attempts.filter(_._2 < MaxAttempts).keys.toSeq
        val expQuar = attempts.count(_._2 == MaxAttempts - 1)
        retried.foreach { k => attempts(k) += 1; queuedIn(k) = p }
        files.filter(_.isCsv).foreach(f => queuedIn(f.name) = p)
        files.filter(_.kind == HeaderOnly).foreach(f => attempts(f.name) = 1)
        val expDone = files.count(f => f.kind == Valid || f.kind == NewlineOnly)
        val expFailed = retried.size + files.count(_.kind == HeaderOnly)
        out.check(r.discovered == truth.size && r.done == expDone &&
          r.failed == expFailed && r.quarantined == expQuar,
          s"pass $p counters $r, expected discovered=${truth.size} " +
            s"done=$expDone failed=$expFailed quarantined=$expQuar")
        if (p == waves) tracer.span("status.list") {
          val (code, rows, ms, cpuMs) =
            served.get(s"/list-uploads?limit=$ListLimit")
          readsServed += Read("list", ms, cpuMs)
          out.check(code == 200 && listMatches(rows, truth, attempts, queuedIn),
            s"list-uploads: $code, ${rows.size} rows")
          for (r <- rows; n <- r.get("file_name") if truth.contains(n);
               id <- r.get("upload_id")) idByFile(n) = id
        }
        if (p >= waves && idByFile.nonEmpty) (1 to GetsPerPass).foreach { _ =>
          tracer.span("status.get") {
            val names = idByFile.keys.toIndexedSeq.sorted
            val f = truth(names(rng.nextInt(names.size)))
            val (code, rows, ms, cpuMs) =
              served.get(s"/get-upload-status?upload_id=${idByFile(f.name)}")
            readsServed += Read("get", ms, cpuMs)
            out.check(code == 200 && rows.size == 1 &&
              rowMatches(rows.head, f, attempts.get(f.name)),
              s"get-upload-status for ${f.name}: $code $rows")
          }
        }
      }
    } finally served.stop()
    val w1 = System.currentTimeMillis()
    val cpuS = (Stats.processCpuNs() - cpu0) / 1e9
    val jitS = (Stats.jitMs() - jit0) / 1e3
    JobListener.drain(ctx.spark)
    val (reads, readS, merges) =
      (loop.store.reads, loop.store.readSeconds, loop.store.merges)

    val liveRows =
      checkLedger(ctx, loop, truth.values.toSeq, attempts.toMap, out)

    // metrics
    val passWalls = passes.map(p => (p.t1 - p.t0) / 1e3)
    val csvFiles = truth.values.count(_.isCsv)
    val redelivery = passes.drop(waves)
    val redeliveryS = redelivery.map(p => (p.t1 - p.t0) / 1e3).toSeq
    val jobs = ctx.listener.jobs
    val perPass = passes.map { p =>
      val in = jobs.filter(j => j.startMs >= p.t0 && j.startMs <= p.t1)
      (in.size.toDouble, in.map(_.tasks).sum.toDouble)
    }
    val judged = passes.map(p => p.r.done + p.r.failed).sum
    val discovered = passes.map(_.r.discovered).sum
    val (compactions, chainLen) = loop.store.chainFigures()
    val (files, bytes) = loop.store.diskFigures()
    val filesPerS = csvFiles / passWalls.sum
    val lat = latencies.toSeq
    val gets = readsServed.filter(_.kind == "get").map(_.ms).toSeq
    val lists = readsServed.filter(_.kind == "list").map(_.ms).toSeq
    val apiJobs = jobs.filter(j => j.startMs >= w0 && j.startMs <= w1 &&
      j.tag.nonEmpty)
    def perRequest(kind: String, n: Int) = {
      val js = apiJobs.filter(_.tag.startsWith(kind + "#"))
      (js.size.toDouble / math.max(1, n),
        js.map(j => (j.endMs - j.startMs).toDouble).sum / math.max(1, n))
    }
    val (getJobs, getBusy) = perRequest("get", gets.size)
    val (listJobs, listBusy) = perRequest("list", lists.size)
    val nReads = math.max(1, readsServed.size)
    val busyMs = (getBusy * gets.size + listBusy * lists.size) / nReads

    out.e2e("cpu_ms_per_op") = passes.map(_.cpuMs).sum / csvFiles
    out.e2e("aux_cpu_ms") = Stats.mean(redelivery.map(_.cpuMs).toSeq)
    out.e2e("read_cpu_ms") =
      Stats.mean(readsServed.filter(_.kind == "get").map(_.cpuMs).toSeq)

    val L = out.layer
    L("ingest_files_per_s") = filesPerS
    L("ingest_latency_p50_s") = Stats.median(lat) / 1e3
    L("ingest_latency_p99_s") = Stats.quantile(lat, 0.99) / 1e3
    L("ingest_redelivery_s") = Stats.median(redeliveryS)
    L("ledger_bytes_per_upload") = bytes.toDouble / math.max(1L, liveRows)
    L("status_get_p50_ms") = Stats.median(gets)
    L("status_get_p90_ms") = Stats.quantile(gets, 0.9)
    L("status_list_p50_ms") = Stats.median(lists)
    L("status_rps") = readsServed.size / (readsServed.map(_.ms).sum / 1e3)
    L("ledger.merge_calls") = merges.size.toDouble
    L("ledger.merge_s") = merges.sum
    L("ledger.merge_max_s") = if (merges.isEmpty) 0.0 else merges.max
    L("ledger.compactions") = compactions.toDouble
    L("ledger.chain_len") = chainLen.toDouble
    L("ledger.read_calls") = reads.toDouble
    L("ledger.read_s") = readS
    L("ledger.files") = files.toDouble
    L("ingest.pass_s") = Stats.median(passWalls.toSeq)
    L("ingest.jobs_per_pass") = perPass.map(_._1).sum / perPass.size
    L("ingest.tasks_per_pass") = perPass.map(_._2).sum / perPass.size
    L("ingest.useful_ratio") = judged.toDouble / math.max(1L, discovered)
    L("ingest.retries") =
      (passes.map(_.r.failed).sum - truth.values.count(_.kind == HeaderOnly)).toDouble
    L("ingest.quarantined") = passes.map(_.r.quarantined).sum.toDouble
    L("api.get_jobs") = getJobs
    L("api.list_jobs") = listJobs
    L("api.busy_ms") = busyMs
    L("api.wait_ms") = readsServed.map(_.ms).sum / nReads - busyMs
    L("jvm.process_cpu_ms_per_op") = cpuS * 1e3 / csvFiles
    L("jvm.jit_s") = jitS
    L("e2e.op_samples") = lat.size.toDouble
    L("e2e.read_samples") = gets.size.toDouble
    (setups, w0, w1)
  }

  /** One served ledger row against the truth for its file. */
  private def rowMatches(row: Map[String, String], f: FileSpec,
      attempts: Option[Int]): Boolean =
    row.get("file_name").contains(f.name) &&
      row.get("file_size").contains(f.content.getBytes("UTF-8").length.toString) &&
      (f.kind match {
        case Valid | NewlineOnly =>
          row.get("status").contains("done") &&
            row.get("lines_processed").contains(f.lines.toString) &&
            !row.contains("attempts")
        case HeaderOnly =>
          row.get("status").contains("failed") &&
            !row.contains("lines_processed") &&
            row.get("attempts") == attempts.map(_.toString) &&
            row.get("error_message").contains(
              graft.functions.IngestFunctions.ValidationError)
        case Txt => false
      })

  /** list-uploads: newest queued first, upload_id breaking ties, at most
    * ListLimit rows. Rows queued in the same pass share queued_at, so the
    * truth fixes the sequence of passes and, within a pass, ascending ids. */
  private def listMatches(rows: Seq[Map[String, String]],
      truth: collection.Map[String, FileSpec],
      attempts: collection.Map[String, Int],
      queuedIn: collection.Map[String, Int]): Boolean = {
    val expected = queuedIn.values.toSeq.sorted(Ordering[Int].reverse)
      .take(ListLimit)
    val files = rows.flatMap(r => r.get("file_name").flatMap(truth.get))
    val passSeq = files.map(f => queuedIn(f.name))
    val idsAscendWithinPass = rows.zip(passSeq).sliding(2).forall {
      case Seq((a, pa), (b, pb)) =>
        pa != pb || a.getOrElse("upload_id", "") < b.getOrElse("upload_id", "")
      case _ => true
    }
    files.size == rows.size && passSeq == expected && idsAscendWithinPass &&
      rows.zip(files).forall { case (r, f) => rowMatches(r, f, attempts.get(f.name)) }
  }

  /** The final ledger against the generator's truth: one row per CSV with
    * its status, `lines_processed` fencepost and attempts; quarantine rows
    * for the exhausted uploads; no trace of the non-CSV files. */
  private def checkLedger(ctx: Ctx, loop: Loop, files: Seq[FileSpec],
      attempts: Map[String, Int], out: Outcome): Long = {
    import org.apache.spark.sql.functions.col
    val rows = loop.store.read()
      .select("file_name", "status", "lines_processed", "attempts",
        "error_message")
      .collect().map(r => r.getString(0) -> r).toMap
    out.check(rows.size == files.count(_.isCsv),
      s"ledger has ${rows.size} rows for ${files.count(_.isCsv)} CSV files")
    files.foreach { f =>
      val row = rows.get(f.name)
      val ok = f.kind match {
        case Txt => row.isEmpty
        case Valid | NewlineOnly => row.exists { r =>
          r.getString(1) == "done" && !r.isNullAt(2) && r.getLong(2) == f.lines &&
            r.isNullAt(3)
        }
        case HeaderOnly => row.exists { r =>
          r.getString(1) == "failed" && r.isNullAt(2) &&
            !r.isNullAt(3) && r.getInt(3) == attempts(f.name) &&
            r.getString(4) == graft.functions.IngestFunctions.ValidationError
        }
      }
      out.check(ok, s"ledger row for ${f.name} (${f.kind}): $row")
    }
    val quarantined =
      if (!new java.io.File(loop.quarantine).exists()) Seq.empty[String]
      else ctx.spark.read.parquet(loop.quarantine)
        .select(col("file_name")).collect().map(_.getString(0)).toSeq
    val expected = attempts.filter(_._2 >= MaxAttempts).keys.toSeq.sorted
    out.check(quarantined.sorted == expected,
      s"quarantine holds ${quarantined.size} rows, expected ${expected.size}")
    rows.size.toLong
  }
}
