package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The oracle-text builders are library code: they plan in the caller's
  * session and must leave its runtime conf as they found it.
  */
class OracleTextSessionSpec extends AnyFunSuite {

  test("oracle-text builders keep the caller's shuffle-partition setting") {
    val spark = TestSpark.spark
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      assert(TpcH.unparseOracles.nonEmpty)
      assert(spark.conf.get(key) == "7", "TpcH.unparseOracles rewrote the caller's conf")
      assert(TpcH.translitOracles.nonEmpty)
      assert(spark.conf.get(key) == "7", "TpcH.translitOracles rewrote the caller's conf")
      assert(Semantic.pgUnparseOracles.nonEmpty)
      assert(spark.conf.get(key) == "7", "Semantic.pgUnparseOracles rewrote the caller's conf")
    } finally spark.conf.set(key, before)
  }
}
