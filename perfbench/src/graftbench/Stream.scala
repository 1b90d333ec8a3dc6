package graftbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.TaxiJobs

/** `taxi-stream`: the paper's Task4 trending-arrivals job over a seeded
  * two-day feed, in two phases on one checkpoint.
  *
  *  - paced (day 1): after a first event hour processed as set-up, an
  *    open loop releases one minute-file every [[PeriodMs]] by atomic
  *    rename for `--seconds`, whether or not the job keeps up. A
  *    file's latency runs from when it was due to the commit of the
  *    trigger that consumed it; the file → trigger map is read from the
  *    checkpoint's file-source log and trigger ends from its commit log.
  *  - drain (day 2): the job is stopped, all of the day's files are
  *    released at once and the job restarts from the checkpoint. Each trigger then
  *    takes one event hour (60 files in mtime order), so the trend files
  *    must equal the generator's truth exactly. */
object Stream {
  val RowsPerFile = 290
  /** Release period of the paced phase. A trigger costs about 1.2 s on 4
    * cores whatever its size, so one file per 40 ms keeps a trigger near
    * 30 files, well under the 60-file cap, and the backlog returns to
    * zero. The paced phase lasts `--seconds`. */
  val PeriodMs = 40.0
  /** The first event hour of day 1, processed as set-up. */
  val WarmFiles = 60
  /** Eight event hours of day 2. */
  val DrainFiles = 480

  /** Collects the job's printed trend lines instead of echoing them. */
  final class Capture extends PrintStream(new ByteArrayOutputStream(), true, "UTF-8") {
    def lines: Seq[String] = synchronized {
      new String(out.asInstanceOf[ByteArrayOutputStream].toByteArray, StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).toSeq
    }
  }

  private def start(spark: SparkSession, in: Path, out: Path, ckpt: Path,
                    capture: PrintStream): StreamingQuery =
    Console.withOut(capture) {
      TaxiJobs.task4(spark, in.toString, out.toString, Some(ckpt.toString))
    }

  /** file name → batch id, from the file-source log of `ckpt`. */
  def sourceLog(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val Entry = "\"path\":\"[^\"]*/([^/\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    if (!Files.isDirectory(dir)) Map()
    else Files.list(dir).iterator.asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case Entry(name, b) => name -> b.toLong }.toMap
  }

  /** batch id → commit time (epoch ms), from the commit log of `ckpt`. */
  def commits(ckpt: Path): Map[Long, Long] = {
    val dir = ckpt.resolve("commits")
    if (!Files.isDirectory(dir)) Map()
    else Files.list(dir).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(f => f.getFileName.toString.toLong -> Files.getLastModifiedTime(f).toMillis).toMap
  }

  private def moveAll(files: Seq[Path], dir: Path): Unit = {
    Files.createDirectories(dir)
    files.foreach(f => Files.move(f, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
  }

  def run(cfg: Config): Result = {
    val w = cfg.work
    val pacedFiles = (cfg.seconds * 1000 / PeriodMs).toInt
    val g0 = System.currentTimeMillis()
    val feed = new TaxiFeed(cfg.seed, RowsPerFile)
    val mtime0 = System.currentTimeMillis() / 1000 - 3 * 86400
    val (day1, day1Files) =
      feed.writeDay(w.resolve("stage-1"), "2015-12-01", WarmFiles + pacedFiles, mtime0)
    val (day2, files2) = feed.writeDay(w.resolve("stage-2"), "2015-12-02", DrainFiles, mtime0 + 4000)
    val (warmFiles, files1) = day1Files.splitAt(WarmFiles)
    val genMs = System.currentTimeMillis() - g0

    val failures = mutable.ArrayBuffer[String]()
    val spark = Main.session(cfg.cpus, w)
    val (in, out, ckpt) = (w.resolve("in"), w.resolve("out"), w.resolve("ckpt"))
    Files.createDirectories(in)
    val pacedLines = new Capture
    val q = start(spark, in, out, ckpt, pacedLines)
    // set-up: the day's first event hour, released at once
    moveAll(warmFiles, in)
    q.processAllAvailable()
    val setupS = (System.currentTimeMillis() - cfg.jvmStartMs - genMs) / 1e3
    val warmBatches = commits(ckpt).keySet

    val trace = if (cfg.trace) Some(new Trace(spark)) else None
    trace.foreach(_.register())

    // paced phase: open-loop release of the rest of day 1
    val due = new Array[Long](pacedFiles)
    var lateMax = 0.0
    val released = new Array[Long](pacedFiles)
    val p0 = System.nanoTime()
    val ((), steal) = Host.withSteal {
      val t0 = System.nanoTime() + 100000000L
      val wall0 = System.currentTimeMillis() + 100
      for (i <- 0 until pacedFiles) {
        val dueNs = t0 + (i * PeriodMs * 1e6).toLong
        var now = System.nanoTime()
        while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
        Files.move(files1(i), in.resolve(files1(i).getFileName), StandardCopyOption.ATOMIC_MOVE)
        val doneNs = System.nanoTime()
        lateMax = math.max(lateMax, (doneNs - dueNs) / 1e6)
        due(i) = wall0 + (i * PeriodMs).toLong
        released(i) = wall0 + (doneNs - t0) / 1000000L
      }
      try q.processAllAvailable() catch { case e: Throwable => failures += s"paced: $e" }
      q.stop()
    }
    val pacedS = (System.nanoTime() - p0) / 1e9
    val pacedLog = sourceLog(ckpt)
    val pacedCommits = commits(ckpt) -- warmBatches
    val latencies = files1.indices.flatMap { i =>
      pacedLog.get(files1(i).getFileName.toString).flatMap(pacedCommits.get).map(c => (c - due(i)).toDouble)
    }
    if (latencies.size != pacedFiles)
      failures += s"paced: ${pacedFiles - latencies.size} files never committed"
    // backlog at each trigger end: files released by then, minus files consumed
    val consumedBy = files1.flatMap(f => pacedLog.get(f.getFileName.toString))
      .groupBy(identity).map { case (b, v) => b -> v.size }
    val backlogMax = pacedCommits.toSeq.sortBy(_._1).foldLeft((0, 0)) {
      case ((consumed, mx), (b, end)) =>
        val c = consumed + consumedBy.getOrElse(b, 0)
        (c, math.max(mx, released.count(_ <= end) - c))
    }._2
    failures ++= TaxiFeed.firingViolations(day1, pacedLines.lines)

    // drain phase: release day 2 at once, restart from the checkpoint
    val pacedOut = w.resolve("out-paced")
    Files.createDirectories(out)
    moveAll(Files.list(out).iterator.asScala.toSeq, pacedOut)
    moveAll(files2, in)
    val d0 = System.nanoTime()
    val q2 = start(spark, in, out, ckpt, new Capture)
    try q2.processAllAvailable() catch { case e: Throwable => failures += s"drain: $e" }
    val drainS = (System.nanoTime() - d0) / 1e9
    q2.stop()
    val truth = TaxiFeed.hourlyTriggerTruth(day2)
    val got = Files.list(out).iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
      .map(f => f.getFileName.toString -> Files.readString(f).trim).toMap
    for ((name, body) <- truth if !got.get(name).contains(body))
      failures += s"drain: $name expected [$body] got [${got.getOrElse(name, "missing")}]"
    for (name <- got.keySet -- truth.keySet) failures += s"drain: unexpected trend file $name"
    val triggers = commits(ckpt).size

    var layers = Map[String, Double]()
    var record = Map[String, Any]()
    trace.foreach { t =>
      t.unregister()
      val trig = t.triggers.asScala.toSeq.filter(_.rows > 0)
      def sumD(k: String) = trig.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      val st = t.stages.asScala.toSeq
      val jobs = t.jobs.asScala.toSeq
      val stages = t.stageTotals(st)
      layers = stages ++ t.planTotals(t.plans.asScala.toSeq) ++ Map(
        "scheduler.jobs" -> jobs.size.toDouble,
        "executor.cpu_share" -> stages("executor.cpu_ms") / (cfg.cpus * (pacedS + drainS) * 1e3),
        "streaming.triggers" -> trig.size.toDouble,
        "streaming.rows_per_trigger" -> (if (trig.isEmpty) 0.0 else trig.map(_.rows).sum.toDouble / trig.size),
        "streaming.add_batch_ms" -> sumD("addBatch"),
        "streaming.query_planning_ms" -> sumD("queryPlanning"),
        "streaming.wal_commit_ms" -> sumD("walCommit"),
        "streaming.commit_offsets_ms" -> sumD("commitOffsets"),
        "streaming.latest_offset_ms" -> sumD("latestOffset"),
        "streaming.state_commit_ms" -> trig.map(_.stateCommitMs).sum.toDouble,
        "streaming.state_rows" -> (if (trig.isEmpty) 0.0 else trig.map(_.stateRows).max.toDouble),
        "streaming.state_mem_mb" -> (if (trig.isEmpty) 0.0 else trig.map(_.stateMemB).max / 1e6),
        "streaming.backlog_files_max" -> backlogMax.toDouble,
        "gen.late_ms_max" -> lateMax,
        "trace.wall_s" -> drainS)
      record = Map("triggers" -> trig.map(x => Map("batch" -> x.batchId, "timestamp" -> x.timestamp,
        "rows" -> x.rows, "durations_ms" -> x.durations, "state_rows" -> x.stateRows)))
      layers ++= Kernels.run(spark, cfg.seed)
      // single-threaded baseline: the same day-2 drain on local[1]
      spark.stop()
      val one = Main.session(1, w)
      val in1 = w.resolve("in-local1")
      Files.createDirectories(in1)
      files2.foreach { f =>
        val src = in.resolve(f.getFileName)
        val dst = in1.resolve(f.getFileName)
        Files.copy(src, dst)
        Files.setLastModifiedTime(dst, Files.getLastModifiedTime(src))
      }
      val l0 = System.nanoTime()
      val q1 = start(one, in1, w.resolve("out-local1"), w.resolve("ckpt-local1"), new Capture)
      q1.processAllAvailable(); q1.stop()
      layers += "streaming.local1_drain_s" -> (System.nanoTime() - l0) / 1e9
    }
    val checks = truth.size + pacedLines.lines.size + 1
    val metrics = Map(
      "setup_s" -> setupS,
      "wall_s" -> drainS,
      "latency_p50_ms" -> Stats.quantile(latencies, 0.5))
    // p98 leaves 10 of the 500 paced files beyond it at --seconds 20
    layers ++= Map("host.steal_frac" -> steal,
      "streaming.latency_p98_ms" -> Stats.quantile(latencies, 0.98))
    Result(metrics, layers, triggers + checks, failures.toSeq,
      record ++ Map("paced_files" -> latencies.size, "drain_rows" -> day2.rows,
        "drain_rows_s" -> day2.rows / drainS, "trend_files" -> truth.size,
        "paced_trend_lines" -> pacedLines.lines.size, "backlog_files_max" -> backlogMax,
        "gen_late_ms_max" -> lateMax, "gen_ms" -> genMs))
  }
}
