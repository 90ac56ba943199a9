package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session conf is decided in one place: [[SessionFactory]]. */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder appears exactly once in src/main, in SessionFactory") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.size > 50, s"scanned only ${sources.size} files")
    val sites = for {
      f <- sources
      _ <- "SparkSession\\.builder".r.findAllIn(Files.readString(f))
    } yield f.getFileName.toString
    assert(sites == List("SessionFactory.scala"),
      s"SparkSession.builder outside SessionFactory: ${sites.mkString(", ")}")
  }

  test("a factory session runs on UTC, reads legacy NANOS as longs, has no UI") {
    val spark = TestSpark.spark // SessionFactory.local(4)
    val tz = "spark.sql.session.timeZone"
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val (tz0, nanos0) = (spark.conf.get(tz), spark.conf.get(nanos))
    // skew both settings, then ask the factory again: it returns the running
    // session and writes its own values back, so they come from the factory,
    // not from JVM-wide defaults
    spark.conf.set(tz, "America/New_York")
    spark.conf.set(nanos, "false")
    try {
      assert(SessionFactory.local(4) eq spark)
      assert(spark.conf.get(tz) == "UTC")
      assert(spark.conf.get(nanos) == "true")
      assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
      assert(spark.sparkContext.uiWebUrl.isEmpty)
    } finally {
      spark.conf.set(tz, tz0)
      spark.conf.set(nanos, nanos0)
    }
  }
}
