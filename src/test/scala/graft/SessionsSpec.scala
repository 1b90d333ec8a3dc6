package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every batch main and the test session start from [[Sessions.batch]];
  * pinning its conf set here is what keeps a dev tool from measuring a
  * different engine than Bench runs. */
class SessionsSpec extends AnyFunSuite {

  test("batch conf: one partition per core, UTC, nanosAsLong, agg threshold, local dir") {
    assert(Sessions.batchConf(7) === Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> Sessions.localDir,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "8192"))
  }

  test("the shared test session carries the batch conf set") {
    val conf = TestSpark.spark.sparkContext.getConf
    assert(conf.get("spark.master") === "local[4]")
    Sessions.batchConf(4).foreach { case (k, v) =>
      withClue(k) { assert(TestSpark.spark.conf.get(k) === v) }
    }
  }

  test("tmpfs is the local dir only above the free-space floor") {
    val tmp = "/var/tmp"
    assert(Sessions.pickLocalDir(Sessions.ShmFloorBytes + 1, tmp) === Sessions.ShmDir)
    assert(Sessions.pickLocalDir(Sessions.ShmFloorBytes, tmp) === tmp)
    assert(Sessions.pickLocalDir(64L << 20, tmp) === tmp)
    assert(Sessions.pickLocalDir(0L, tmp) === tmp)
  }
}
