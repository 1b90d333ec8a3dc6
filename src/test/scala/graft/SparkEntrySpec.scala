package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session; suites reuse it):
  * the batch mains' session, plus codegen failures surfacing as errors
  * instead of silently falling back to interpreted evaluation. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.batch(4)
    .config("spark.sql.codegen.fallback", "false")
    .getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
}

class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and most return rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, TestSpark.sf)
      val n = df.count()
      withClue(s"query $name:") { assert(n >= 0) }
    }
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("oracle coverage: EVERY driver-registered query has an oracle") {
    // No rows-only exceptions remain: since round 10 even the HLL query
    // (sketch_approx_distinct) is hash-gated via its engine-agreement
    // contract — Spark derives approx_within_5pct from its real estimate,
    // the oracle asserts the bound — so every registered query is
    // DuckDB-checkable.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries missing an oracle: $noOracle")
  }
}
