package graft.streaming

import graft.functions.PointInPolygon.classifyHq
import graft.schemas.TaxiSchemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pure DataFrame transforms for the three taxi pipelines — shared between
  * the streaming jobs ([[TaxiJobs]]) and batch/e2e tests. Each transform
  * works identically on a `read` or `readStream` source (Structured
  * Streaming's core contract), which is what makes the final-value tests
  * meaningful. The Task4 trend rule ([[trending]]) is the exception: it
  * runs on the driver over the micro-batch collected once, so a trigger
  * stays one Spark job.
  */
object TaxiPipelines {

  /** Streaming (or batch) scan of the heterogeneous taxi CSV feed.
    * `maxFilesPerTrigger=60` reproduces the reference's ~1-hour-of-event-
    * time micro-batches (`Task2.py:40`); file pickup order is arbitrary,
    * which the update-mode sinks must tolerate (SURVEY §2.1 S1).
    *
    * The streaming branch sets a conf on the caller's session: it raises
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` to at least
    * `maxFilesPerTrigger` (a larger value already set is kept). The file
    * source resolves each trigger's paths through an `InMemoryFileIndex`
    * and reads that threshold live from this session; above it (default
    * 32) the listing becomes its own Spark job with one task per file, a
    * second job on every full trigger. */
  def scan(spark: SparkSession, path: String,
           schema: org.apache.spark.sql.types.StructType,
           streaming: Boolean = true,
           maxFilesPerTrigger: Int = 60): DataFrame = {
    if (streaming) {
      if (spark.conf.get(ListingThreshold).toLong < maxFilesPerTrigger)
        spark.conf.set(ListingThreshold, maxFilesPerTrigger.toLong)
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    } else
      spark.read.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
  }

  private val ListingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Task2 (`/root/reference/Task2.py:44-51`): hourly dropoff counts via a
    * 1-hour tumbling event-time window; `hour` = hour of window end. */
  def hourlyCounts(df: DataFrame): DataFrame =
    df.groupBy(window(col("Lpep_dropoff_datetime"), "1 hours").as("window"))
      .count()
      .withColumn("hour", hour(col("window.end")))

  /** The split-24 overlay coalesce (`Task3.py:78-83`, `Task4.py:102-109`):
    * pick the per-type real dropoff coords, then geo-classify. The
    * reference routes coords through an identity Python UDF that
    * stringifies float32s (SURVEY §2.4 U2); here the float32 → double cast
    * happens directly in the classify expression — same values, no
    * Python/string hop. */
  def classified(df: DataFrame): DataFrame =
    df.withColumn("long",
        when(col("type") === "yellow", col("Yellow_Dropoff_longitude"))
          .otherwise(col("Green_Dropoff_longitude")))
      .withColumn("lat",
        when(col("type") === "yellow", col("Yellow_Dropoff_latitude"))
          .otherwise(col("Green_Dropoff_latitude")))
      .withColumn("headquarters", classifyHq(col("long"), col("lat")))

  /** Task3 (`Task3.py:84-90`): hourly counts per headquarters. */
  def hourlyHqCounts(df: DataFrame): DataFrame =
    classified(df)
      .groupBy(window(col("Lpep_dropoff_datetime"), "1 hours").as("window"),
               col("headquarters"))
      .count()
      .withColumn("hour", hour(col("window.end")))

  /** Task4 aggregation (`Task4.py:110-116`): 10-minute windows per
    * headquarters; `timestamp` = seconds-of-day of the window end (wraps
    * at midnight — 600-second adjacency intentionally breaks there,
    * SURVEY §7.4). */
  def tenMinHqCounts(df: DataFrame): DataFrame =
    classified(df)
      .groupBy(window(col("Lpep_dropoff_datetime"), "10 minutes").as("window"),
               col("headquarters"))
      .count()
      .withColumn("timestamp",
        hour(col("window.end")) * 3600 + minute(col("window.end")) * 60)

  /** One Task4 update-mode micro-batch, collected once as
    * `(headquarters, count, timestamp)` rows: the only Spark job of a
    * trigger. The batch holds the windows the trigger updated — at most
    * (event-time span ÷ 10 min) × 3 rows, whatever the row volume. */
  def windowCounts(batch: DataFrame): Seq[(String, Long, Int)] =
    batch.select("headquarters", "count", "timestamp").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))

  /** Task4 trend rule (`Task4.py:124-132`) over one collected micro-batch
    * ([[windowCounts]]): a window fires when its count is ≥ 10 and ≥ 2×
    * the same-HQ window 600 s earlier *within this batch's updates* — the
    * intra-batch scoping is the reference's semantics, preserved. The
    * reference's theta self-join becomes a driver-side hash lookup on
    * `(hq, timestamp − 600)` and keeps the join's semantics:
    *   - every earlier row under that key pairs with the window, so two
    *     days' windows sharing a seconds-of-day stamp keep the join's
    *     multiplicity;
    *   - `none` and null headquarters never fire;
    *   - stamps are seconds of day, so adjacency breaks at midnight (a
    *     window ending at 00:00, stamp 0, never sees stamp 85800).
    * Output: headquarters, count, timestamp, prev_count. */
  def trending(batch: Seq[(String, Long, Int)]): Seq[(String, Long, Int, Long)] = {
    val prev = batch.groupMap { case (hq, _, ts) => (hq, ts) } { case (_, n, _) => n }
    for {
      (hq, n, ts) <- batch if hq != null && hq != "none" && n >= 10
      p <- prev.getOrElse((hq, ts - 600), Nil) if n - p >= p
    } yield (hq, n, ts, p)
  }

  /** Word count transform (`Client.py:22-24` as Structured Streaming):
    * explode space-split tokens, grouped count. Applied per micro-batch in
    * foreachBatch to reproduce DStream `reduceByKey`'s batch-local
    * semantics (SURVEY §2.9). */
  def wordCount(lines: DataFrame): DataFrame =
    lines.select(explode(split(col("value"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word"))
      .count()

  // Convenience scans with the right schema per task.
  def scanGreen22(spark: SparkSession, path: String, streaming: Boolean = true,
                  maxFilesPerTrigger: Int = 60): DataFrame =
    scan(spark, path, TaxiSchemas.green22, streaming, maxFilesPerTrigger)
  def scanSplit24(spark: SparkSession, path: String, streaming: Boolean = true,
                  maxFilesPerTrigger: Int = 60): DataFrame =
    scan(spark, path, TaxiSchemas.split24, streaming, maxFilesPerTrigger)
}
