package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.TaxiJobs
import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the cost shape of a Task4 trigger on a small generated feed: one
  * Spark job per trigger (scan → partial aggregation → state stage →
  * collect), no per-file listing job, and the state stage run once. */
class Task4TriggerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ListingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Centres of the two headquarters quads (float32, as the CSV parses). */
  private val hqPoint = Map(
    "goldman" -> (-74.01410f, 40.71460f),
    "citigroup" -> (-74.01099f, 40.72088f))
  private val nonePoint = (-73.95f, 40.75f)

  /** Planted arrivals per 10-minute window of 08:00–09:09; only minute
    * 09:00 of the last window is written. */
  private val planted = Map(
    "goldman" -> Seq(2, 5, 10, 3, 12, 1, 1),
    "citigroup" -> Seq(1, 1, 1, 20, 4, 4, 0))
  private val Minutes = 61

  /** Writes one split-24 CSV per dropoff minute 08:00–09:00 of one day,
    * with mtimes in minute order, and returns the distinct
    * (window, headquarters) keys the feed carries. */
  private def writeFeed(dir: Path): Set[(Int, String)] = {
    def ts(m: Int, s: Int) = f"2015-12-01 ${8 + m / 60}%02d:${m % 60}%02d:$s%02d"
    def row(i: Int, m: Int, p: (Float, Float)): String = {
      val (lon, lat) = (p._1.toDouble, p._2.toDouble)
      val (pickup, dropoff) = (ts(m, 0), ts(m, 30))
      if (i % 2 == 0)
        s"yellow,1,$pickup,$dropoff,1,2.5,-73.95,40.75,1,N,$lon,$lat,2,10,0,0.5,1.5,0,0.3,12.3"
      else
        s"green,2,$pickup,$dropoff,N,1,-73.95,40.75,$lon,$lat,1,2.5,10,0,0.5,1.5,0,,0.3,12.3,1,1"
    }
    val byMinute = Array.fill(Minutes)(Seq.newBuilder[String])
    for ((hq, counts) <- planted; (c, w) <- counts.zipWithIndex; i <- 0 until c) {
      val m = math.min(w * 10 + i % 10, Minutes - 1)
      byMinute(m) += row(i, m, hqPoint(hq))
    }
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    for (m <- 0 until Minutes) {
      (0 until 3).foreach(i => byMinute(m) += row(i, m, nonePoint))
      val f = dir.resolve(f"part-2015-12-01-${8 + m / 60}%02d${m % 60}%02d.csv")
      Files.write(f, byMinute(m).result().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + m * 1000L))
    }
    (0 until Minutes).map(m => (m / 10, "none")).toSet ++
      (for ((hq, counts) <- planted.toSeq; (c, w) <- counts.zipWithIndex if c > 0) yield (w, hq))
  }

  test("task4: one job per trigger, no listing job, state rows counted once") {
    val in = Files.createTempDirectory("t4trig-in")
    val out = Files.createTempDirectory("t4trig-out")
    val ck = Files.createTempDirectory("t4trig-ck")
    val keys = writeFeed(in)
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    // start from the session default (32), below the 60-file trigger
    spark.conf.unset(ListingThreshold)
    sc.addSparkListener(listener)
    val q = try {
      val q = TaxiJobs.task4(spark, in.toString, out.toString, Some(ck.toString))
      q.processAllAvailable(); q.stop(); q
    } finally {
      Bus.drain(sc)
      sc.removeSparkListener(listener)
      spark.conf.unset(ListingThreshold)
    }

    val data = q.recentProgress.filter(_.numInputRows > 0)
    // 60 files, then the last one
    assert(data.length == 2)
    // the stream runs its jobs in a job group named after its run id; a
    // job started outside a batch's execution (-1) carries no batch id
    val mine = jobs.asScala.toSeq
      .filter(_.properties.getProperty("spark.jobGroup.id") == q.runId.toString)
    val perBatch = mine
      .groupBy(j => Option(j.properties.getProperty("streaming.sql.batchId")).fold(-1L)(_.toLong))
      .map { case (b, js) => b -> js.size }
    assert(perBatch == data.map(_.batchId -> 1).toMap,
      s"jobs per batch: $perBatch")
    val wide = mine.flatMap(_.stageInfos).filter(_.numTasks >= 60)
    assert(wide.isEmpty, s"per-file listing stages: ${wide.map(s => s"${s.name}:${s.numTasks}")}")
    assert(data.last.stateOperators.head.numRowsTotal == keys.size)
    assert(data.map(_.stateOperators.head.numRowsUpdated).sum == keys.size)

    // trends of the 08:xx trigger; window ends 08:30, 08:40, 08:50
    val got = out.toFile.list.toSeq.filter(_.startsWith("part-"))
      .map(n => n -> Files.readString(out.resolve(n))).toMap
    assert(got == Map(
      "part-3060000" -> "(goldman, (10, 30600, 5))",
      "part-3120000" -> "(citigroup, (20, 31200, 1))",
      "part-3180000" -> "(goldman, (12, 31800, 3))"))
  }
}
