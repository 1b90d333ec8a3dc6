package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Host context read from /proc. */
object Host {
  private def cpuTimes(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1).map(_.toLong)

  /** Share of CPU time stolen by the hypervisor while `body` ran. */
  def withSteal[A](body: => A): (A, Double) = {
    val a = cpuTimes()
    val r = body
    val b = cpuTimes()
    val d = b.zip(a).map { case (x, y) => x - y }
    (r, if (d.sum > 0 && d.length > 7) d(7).toDouble / d.sum else 0.0)
  }

  def load1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ").head.toDouble

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** One benchmark run inside the JVM. `run.py` prepares the data and a
  * fresh work directory, then reads `result.json` from it.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <cpus> */
object Main {
  /** Queries run on sf0.1-sized tables. The first three spend their time
    * in planning and serial stage-jobs (13 to 21 jobs each) rather than
    * task CPU; the last two do per-row shingle and n-gram work that fans
    * out over all cores. */
  val Suite: Seq[String] = Seq(
    "rel_revenue_by_nation", "sim_pq_codes", "sketch_zorder_pruning",
    "dedup_cand_pairs", "text_repetition")

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, workS, cpusS) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cfg = Config(seedS.toLong, secondsS.toDouble, traceS == "1", data, Paths.get(workS),
      cpusS.toInt, jvmStartMs)
    val loadBefore = Host.load1()
    val result = workload match {
      case "sf01-suite" => Batch.run(cfg, Suite)
      case "taxi-stream" => Stream.run(cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = result.copy(layers = result.layers ++
      Map("host.load_before" -> loadBefore, "host.peak_rss_mb" -> Host.peakRssMb()))
    Files.writeString(cfg.work.resolve("result.json"), Json.of(out.toMap))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

final case class Config(seed: Long, seconds: Double, trace: Boolean, data: String,
                        work: Path, cpus: Int, jvmStartMs: Long)

/** What a run reports; `run.py` adds the oracle comparisons. */
final case class Result(metrics: Map[String, Double], layers: Map[String, Double],
                        attempted: Long, failures: Seq[String], record: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("metrics" -> metrics, "layers" -> layers,
    "attempted" -> attempted, "failures" -> failures, "record" -> record)
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def of(v: Any): String = mapper.writeValueAsString(v)
}

/** The batch workload. Set-up runs every query once on the workload's tables
  * and writes its result for the DuckDB comparison made after the JVM
  * exits; this cold pass also compiles and JITs each query. The timed
  * phase then repeats whole passes while the window lasts. */
object Batch {
  val MinPasses = 2

  def run(cfg: Config, names: Seq[String]): Result = {
    val spark = Main.session(cfg.cpus, cfg.work)
    val sessionS = (System.currentTimeMillis() - cfg.jvmStartMs) / 1e3
    val data = cfg.data
    val failures = mutable.ArrayBuffer[String]()
    def note(name: String, e: Throwable): Unit =
      failures += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"

    Tables.names.filter(t => Files.exists(Paths.get(data, s"$t.parquet")))
      .foreach(t => Tables.load(spark, data, t).count())
    val coldS = names.map { name =>
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, data)
        val rows = df.collect()
        spark.catalog.clearCache()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
          .write.parquet(cfg.work.resolve("outputs").resolve(name).toString)
      } catch { case e: Throwable => note(name, e) }
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - cfg.jvmStartMs) / 1e3
    Files.writeString(cfg.work.resolve("oracle_sql.json"),
      Json.of(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))

    val trace = if (cfg.trace) Some(new Trace(spark)) else None
    def once(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try trace match {
        case Some(t) =>
          t.span("query", name) {
            val q = t.spans.size - 1
            val (df, _) = t.span("build", name, q)(fn(spark, data))
            t.span("execute", name, q)(df.collect())
          }
        case None => fn(spark, data).collect()
      } catch { case e: Throwable => note(name, e) }
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      s
    }

    // Whole passes, as many as are expected to end inside the window and
    // at least two. Warm passes keep getting faster (JIT), so every query
    // is reported over all of its passes. About ten samples support a
    // median but no tail percentile, so the tail stays in the record.
    val passWalls = mutable.ArrayBuffer[Double]()
    val samples = mutable.ArrayBuffer[Seq[Double]]()
    trace.foreach(_.register())
    val ((), steal) = Host.withSteal {
      val t0 = System.nanoTime()
      while (passWalls.size < MinPasses ||
             (System.nanoTime() - t0) / 1e9 + passWalls.sum / passWalls.size <= cfg.seconds) {
        val p0 = System.nanoTime()
        samples += names.map(once)
        passWalls += (System.nanoTime() - p0) / 1e9
      }
    }
    val all = samples.flatten.toSeq
    val meanPass = passWalls.sum / passWalls.size
    var layers = Map[String, Double]("host.steal_frac" -> steal)
    var record = Map[String, Any]()
    trace.foreach { t =>
      t.unregister()
      val spans = t.spans.asScala.toSeq
      val queries = spans.zipWithIndex.filter(_._1.kind == "query")
      def child(q: Int, kind: String) = spans.find(s => s.parent == q && s.kind == kind)
      record = Map("per_query" -> queries.map { case (q, qi) =>
        val build = child(qi, "build")
        val jobs = t.jobsIn(q)
        Map[String, Any]("query" -> q.name, "wall_ms" -> (q.endMs - q.startMs),
          "build_ms" -> build.map(b => b.endMs - b.startMs).getOrElse(0L),
          "eager_jobs" -> build.map(t.jobsIn(_).size).getOrElse(0), "jobs" -> jobs.size,
          "job_stages" -> jobs.map(j => Map("job" -> j.id, "stages" -> j.stageIds))) ++
          t.stageTotals(t.stagesOf(jobs)) ++ t.planTotals(t.plansIn(q))
      })
      val allJobs = queries.flatMap(q => t.jobsIn(q._1))
      val builds = spans.filter(_.kind == "build")
      val stages = t.stageTotals(t.stagesOf(allJobs))
      // per-pass totals, so they compare across runs with any pass count
      val n = passWalls.size.toDouble
      layers ++= (stages ++ t.planTotals(queries.flatMap(q => t.plansIn(q._1))) ++ Map(
        "operators.build_ms" -> builds.map(b => b.endMs - b.startMs).sum.toDouble,
        "operators.eager_jobs" -> builds.map(t.jobsIn(_).size).sum.toDouble,
        "scheduler.jobs" -> allJobs.size.toDouble)).map { case (k, v) =>
          k -> (if (k == "executor.peak_mem_mb") v else v / n) } ++ Map(
        "executor.cpu_share" -> stages("executor.cpu_ms") / (cfg.cpus * passWalls.sum * 1e3),
        "trace.wall_s" -> meanPass) ++ Kernels.run(spark, cfg.seed)
    }
    val metrics = Map(
      "setup_s" -> setupS,
      "wall_s" -> meanPass,
      "latency_p50_ms" -> Stats.quantile(all, 0.5) * 1e3)
    Result(metrics, layers, names.size * (1L + samples.size), failures.toSeq,
      record ++ Map("queries" -> names, "passes" -> passWalls.toSeq, "session_s" -> sessionS,
        "cold_s" -> coldS, "samples_s" -> samples.toSeq,
        "query_p90_ms" -> Stats.quantile(all, 0.9) * 1e3))
  }
}
