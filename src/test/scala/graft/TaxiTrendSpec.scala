package graft

import graft.streaming.TaxiPipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side Task4 trend rule (`TaxiPipelines.trending`) against
  * the reference's theta self-join (`Task4.py:124-132`), kept inline here
  * as the oracle and run on hand-built update-mode batches. Results are
  * compared as sorted sequences, so the join's multiplicity counts. */
class TaxiTrendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  type Row3 = (String, Long, Int)

  /** The reference's self-join, verbatim in shape. */
  private def selfJoin(batch: DataFrame): DataFrame = {
    val prev = batch.select(
      col("headquarters").as("headquarters_1"),
      col("count").as("count_1"),
      col("timestamp").as("timestamp_1"))
    batch.join(prev,
        col("timestamp") - col("timestamp_1") === 600 &&
        col("headquarters") =!= "none" &&
        col("headquarters") === col("headquarters_1") &&
        col("count") >= 10 &&
        col("count") - col("count_1") >= col("count_1"),
        "inner")
      .select(col("headquarters"), col("count"), col("timestamp"),
              col("count_1").as("prev_count"))
  }

  private def oracle(batch: Seq[Row3]): Seq[(String, Long, Int, Long)] = {
    import spark.implicits._
    selfJoin(batch.toDF("headquarters", "count", "timestamp")).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
  }

  private def sorted(rows: Seq[(String, Long, Int, Long)]) =
    rows.sortBy(r => (Option(r._1), r._2, r._3, r._4))

  private def agree(batch: Seq[Row3]): Seq[(String, Long, Int, Long)] = {
    val got = TaxiPipelines.trending(batch)
    assert(sorted(got) == sorted(oracle(batch)), s"batch: $batch")
    got
  }

  test("doubling edge: count == 2·prev fires, 2·prev − 1 does not") {
    assert(agree(Seq(("goldman", 10L, 3600), ("goldman", 5L, 3000))) ==
      Seq(("goldman", 10L, 3600, 5L)))
    assert(agree(Seq(("goldman", 11L, 3600), ("goldman", 6L, 3000))).isEmpty)
  }

  test("the ≥ 10 gate: 9 does not fire, 10 does") {
    assert(agree(Seq(("citigroup", 9L, 3600), ("citigroup", 4L, 3000))).isEmpty)
    assert(agree(Seq(("citigroup", 10L, 3600), ("citigroup", 4L, 3000))) ==
      Seq(("citigroup", 10L, 3600, 4L)))
  }

  test("none and null headquarters never fire") {
    assert(agree(Seq(("none", 40L, 3600), ("none", 5L, 3000))).isEmpty)
    assert(agree(Seq((null, 40L, 3600), (null, 5L, 3000))).isEmpty)
    // a real HQ never pairs with a null or none predecessor
    assert(agree(Seq(("goldman", 40L, 3600), (null, 5L, 3000), ("none", 5L, 3000))).isEmpty)
  }

  test("midnight wrap: stamp 0 never sees 85800; 600 sees 0") {
    assert(agree(Seq(("goldman", 20L, 0), ("goldman", 5L, 85800))).isEmpty)
    assert(agree(Seq(("goldman", 20L, 600), ("goldman", 5L, 0))) ==
      Seq(("goldman", 20L, 600, 5L)))
  }

  test("two days' windows with one stamp keep the join's multiplicity") {
    // identical rows from two days: the join pairs each with each
    val twin = Seq(("goldman", 12L, 3600), ("goldman", 4L, 3000),
                   ("goldman", 12L, 3600), ("goldman", 4L, 3000))
    assert(agree(twin) == Seq.fill(4)(("goldman", 12L, 3600, 4L)))
    // distinct counts: every pairing that meets the rule fires
    val mixed = Seq(("citigroup", 12L, 3600), ("citigroup", 14L, 3600),
                    ("citigroup", 3L, 3000), ("citigroup", 7L, 3000))
    assert(sorted(agree(mixed)) == Seq(("citigroup", 12L, 3600, 3L),
      ("citigroup", 14L, 3600, 3L), ("citigroup", 14L, 3600, 7L)))
  }

  test("fuzz: random update batches agree with the self-join") {
    val rng = new scala.util.Random(7)
    val hqs = Array("goldman", "citigroup", "none", null)
    // stamps of the day's first and last eight windows, across the wrap
    (0 until 10).foreach { _ =>
      val batch = Seq.fill(60)((hqs(rng.nextInt(4)), 1L + rng.nextInt(25),
        600 * (rng.nextInt(8) + (if (rng.nextBoolean()) 0 else 138)) % 86400))
      agree(batch)
    }
  }
}
