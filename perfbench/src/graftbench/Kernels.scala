package graftbench

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._

/** Per-row cost of the native `graft.functions` kernels, each timed alone
  * on one thread over generated columns.
  *
  * A kernel's Column is applied to a local relation; the analyzed
  * projection is compiled with `UnsafeProjection.create` (the kernels'
  * `doGenCode`), then run over the relation's rows, so no scan, scheduler
  * or shuffle cost is included. `TopKByScore` is an Aggregator and is
  * timed through its `reduce`. */
object Kernels {
  private val Rows = 4000
  private val Dim = 64
  private val BudgetNs = 150000000L

  private def perRowNs(spark: SparkSession, schema: StructType, rows: Seq[Row],
                       kernel: Column): Double = {
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val plan = df.select(kernel).queryExecution.analyzed.asInstanceOf[Project]
    val input = plan.child.asInstanceOf[LocalRelation]
    val proj = UnsafeProjection.create(plan.projectList, input.output)
    val data: Array[InternalRow] = input.data.toArray
    timeLoop(data.length) { () => var i = 0; while (i < data.length) { proj(data(i)); i += 1 } }
  }

  /** Median ns per row over repeated passes, after two warm-up passes. */
  private def timeLoop(n: Int)(pass: () => Unit): Double = {
    pass(); pass()
    val samples = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (samples.size < 5 || (System.nanoTime() - t0 < BudgetNs && samples.size < 200)) {
      val t = System.nanoTime(); pass(); samples += (System.nanoTime() - t).toDouble / n
    }
    Stats.median(samples.toSeq)
  }

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    val rng = new scala.util.Random(seed)
    def vec() = Array.fill(Dim)(rng.nextGaussian())
    val vecs = StructType(Seq(StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType))))
    val vecRows = Seq.fill(Rows)(Row(vec().toSeq, vec().toSeq))
    val words = Seq("spark", "window", "merge", "table", "column", "vector", "stream", "value")
    val text = StructType(Seq(StructField("t", StringType)))
    val textRows = Seq.fill(Rows)(Row(Seq.fill(10 + rng.nextInt(90))(words(rng.nextInt(words.size))).mkString(" ")))
    val pts = StructType(Seq(StructField("lon", FloatType), StructField("lat", FloatType)))
    val ptRows = Seq.fill(Rows)(Row((-74.016 + rng.nextDouble() * 0.008).toFloat,
      (40.712 + rng.nextDouble() * 0.011).toFloat))
    val planes = Array.fill(64)(vec())
    val entries = Array.fill(Rows)(TopKByScore.Entry(rng.nextDouble(), rng.nextLong()))
    val agg = TopKByScore.aggregator(10)
    Map(
      "functions.vector_dot_ns" ->
        perRowNs(spark, vecs, vecRows, VectorDot.vectorDot(col("a"), col("b"))),
      "functions.const_vector_dot_ns" ->
        perRowNs(spark, vecs, vecRows, ConstVectorDot.dotConst(col("a"), vec())),
      "functions.shingle_array_ns" ->
        perRowNs(spark, text, textRows, ShingleArray.shingleArray(col("t"))),
      "functions.lsh_bucket_ids_ns" ->
        perRowNs(spark, vecs, vecRows, LshBucketIds.lshBucketIds(col("a"), planes, 8, 8)),
      "functions.point_in_polygon_ns" ->
        perRowNs(spark, pts, ptRows, PointInPolygon.classifyHq(col("lon"), col("lat"))),
      "functions.topk_by_score_ns" ->
        timeLoop(Rows) { () => entries.foldLeft(agg.zero)(agg.reduce) })
  }
}
