package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup dominates test time). */
object TestSpark {
  lazy val spark: SparkSession = SessionFactory.local(4)
  val sfDir = "/root/testdata/sf0.001"
}
