package graft.tools

import graft.{Bench, Sessions, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The dev measuring tool: four modes over registered queries, on the
  * session Bench runs ([[graft.Sessions.batch]]) at `SPARK_GRAFT_SF_DIR`
  * and `SPARK_GRAFT_CPUS`. Not part of the driver contract.
  *
  * {{{
  * runMain graft.tools.Measure time    [name,...]
  * runMain graft.tools.Measure abba    <conf> <value> [name,...]
  * runMain graft.tools.Measure profile [name,...]
  * runMain graft.tools.Measure plan    <outDir> <tag> [name,...]
  * }}}
  * No names = every registered query. Every run goes through Bench's
  * noop-write path ([[graft.Bench.runNoop]]) and clears the cache after.
  *
  *   - `time`: [[Reps]] reps per query, every sample printed. No warm-up,
  *     so the first rep includes codegen compilation; read the min.
  *   - `abba`: A/B of one SQL conf — A is the session's own value, B is
  *     `<conf>=<value>`. One discarded warm rep per arm, then the pairs
  *     in [[PairOrder]]; min wall and min task-CPU seconds per arm.
  *   - `profile`: one untimed warm run, then one measured run counting
  *     jobs, stages, tasks, shuffle-write MB and task-CPU seconds —
  *     work metrics a CPU-steal-prone host cannot distort the way it
  *     distorts wall clock.
  *   - `plan`: writes `.explain("formatted")` of each query's returned
  *     relation to `<outDir>/<name>_<tag>.txt` (the `plans/rNN` evidence
  *     trail). Side-effecting build queries (index/pair materialization)
  *     run their build during plan CONSTRUCTION. */
object Measure {

  /** Samples per query in `time` mode. */
  val Reps = 3

  /** Arm order of the `abba` pairs, `true` = A first. Interleaved pairs
    * keep both arms at the same JIT temperature (r21: a base×3-then-alt×3
    * null test, conf set to its own default, moved dedup_cand_pairs task
    * CPU 9.31 → 4.61 s between identical arms), and alternating which arm
    * leads (AB, BA, BA, AB) keeps either from sitting systematically later
    * in warm-up. */
  private[graft] val PairOrder: Seq[Boolean] = Seq(true, false, false, true)

  /** Task-level counters, reset per measured run. Listener events arrive
    * asynchronously, so readers wait [[DrainMs]] before and after a run. */
  private final class Counters extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffleWrite = new AtomicLong
    val cpuNs = new AtomicLong
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); shuffleWrite.set(0L); cpuNs.set(0L)
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
    }
  }

  private val DrainMs = 300L

  def main(args: Array[String]): Unit = {
    def names(rest: Seq[String]): Seq[String] =
      if (rest.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else rest.flatMap(_.split(",")).filter(_.nonEmpty)
    val sfDir = Sessions.sfDir
    lazy val spark = {
      val s = Sessions.batch(Sessions.cpus).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    def wall(name: String): Double = {
      val t0 = System.nanoTime()
      Bench.runNoop(SparkEntry.queries(name)(spark, sfDir))
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      t
    }
    args.toSeq match {
      case "time" +: rest => names(rest).foreach { name =>
        val times = (1 to Reps).map(_ => wall(name))
        println(f"TIME $name min=${times.min}%.3f samples=" +
          times.map(t => f"$t%.3f").mkString(","))
      }
      case "abba" +: key +: value +: rest =>
        val c = counting(spark)
        val base = spark.conf.getOption(key)
        def arm(name: String, b: Boolean): (Double, Double) = {
          if (b) spark.conf.set(key, value)
          else base.fold(spark.conf.unset(key))(spark.conf.set(key, _))
          Thread.sleep(DrainMs); c.reset()
          val w = wall(name)
          Thread.sleep(DrainMs)
          (w, c.cpuNs.get / 1e9)
        }
        names(rest).foreach { name =>
          arm(name, false); arm(name, true) // discarded warm reps
          val samples = PairOrder.map { aFirst =>
            if (aFirst) { val a = arm(name, false); (a, arm(name, true)) }
            else { val b = arm(name, true); (arm(name, false), b) }
          }
          def mins(s: Seq[(Double, Double)]) = (s.map(_._1).min, s.map(_._2).min)
          val (aw, ac) = mins(samples.map(_._1))
          val (bw, bc) = mins(samples.map(_._2))
          println(f"ABBA $name A=$aw%.3f cpu=$ac%.2f B=$bw%.3f cpu=$bc%.2f ($key=$value)")
        }
      case "profile" +: rest =>
        val c = counting(spark)
        names(rest).foreach { name =>
          wall(name) // warm codegen
          Thread.sleep(DrainMs); c.reset()
          val w = wall(name)
          Thread.sleep(DrainMs)
          println(f"PROFILE $name wall=$w%.3f jobs=${c.jobs.get} stages=${c.stages.get} " +
            f"tasks=${c.tasks.get} shuffleMB=${c.shuffleWrite.get / 1e6}%.1f " +
            f"cpuSec=${c.cpuNs.get / 1e9}%.2f")
        }
      case "plan" +: outDir +: tag +: rest =>
        Files.createDirectories(Paths.get(outDir))
        names(rest).foreach { name =>
          try {
            val plan = SparkEntry.queries(name)(spark, sfDir)
              .queryExecution.explainString(FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
            println(s"PLAN $name ok (${plan.length} chars)")
          } catch { case e: Throwable =>
            println(s"PLAN $name FAILED: ${e.getMessage}")
          }
          spark.catalog.clearCache()
        }
      case _ =>
        System.err.println(
          "usage: Measure time|abba <conf> <value>|profile|plan <outDir> <tag> [name,...]")
        sys.exit(2)
    }
    spark.stop()
  }

  private def counting(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }
}
