package graft.tools

import graft.Sessions
import java.nio.file.Files

/** Apples-to-apples throughput comparison with the reference's only
  * measured number: its shipped Task4 checkpoint shows 4 micro-batches
  * (60 files each) committed in ~19 s ≈ 6.3 s/batch ≈ 4.6k rows/s on a
  * single machine (BASELINE.md, `checkpoint/offsets/0..3`
  * batchTimestampMs). This main runs OUR Task4 pipeline — same input
  * (1,440 CSV files, 417,740 rows), same 60-files-per-trigger pacing,
  * same golden-file sink — to completion and prints rows/s and s/batch.
  *
  * Usage: runMain graft.tools.TaxiBench [taxiDataDir]
  */
object TaxiBench {
  def main(args: Array[String]): Unit = {
    val input = args.lift(0).getOrElse("/root/reference/taxi-data")
    val spark = Sessions.batch(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val out = Files.createTempDirectory("taxibench_out").toString
    val cp = Files.createTempDirectory("taxibench_cp").toString
    val nRows = 417740L
    val filesPerTrigger = 60
    val nBatches = 1440 / filesPerTrigger

    val t0 = System.nanoTime()
    val q = graft.streaming.TaxiJobs.task4(spark, input, out, Some(cp), filesPerTrigger)
    q.processAllAvailable()
    q.stop()
    val sec = (System.nanoTime() - t0) / 1e9

    val trendFiles = new java.io.File(out).listFiles().count(_.getName.startsWith("part-"))
    println(f"""{"metric":"task4_full_day","sec":$sec%.1f,"rows":$nRows,"batches":$nBatches,"rows_per_sec":${nRows / sec}%.0f,"sec_per_batch":${sec / nBatches}%.2f,"trend_files":$trendFiles}""")
    spark.stop()
  }
}
