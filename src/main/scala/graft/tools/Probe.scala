package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.Bridge

import graft.{SessionFactory, SparkEntry}

/** Times named `SparkEntry.queries` entries on the corpus in
  * `SPARK_GRAFT_SF_DIR` (default sf0.1, as in `graft.Bench`): one cold and two
  * warm runs each, through Bench's timed action (the noop sink), printing wall
  * seconds plus total and peak-stage shuffle write per run. `--plan DIR` also
  * writes each entry's formatted physical plan to `DIR/ENTRY.txt` — the
  * captures under `plans/`.
  *
  * Run: `sbt "runMain graft.tools.Probe tpch_q6,m10_model_agg --plan /tmp/plans"`.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (entries, planDir) = args.toList match {
      case e :: Nil => (e, None)
      case e :: "--plan" :: dir :: Nil => (e, Some(Paths.get(dir)))
      case _ => sys.error("usage: Probe ENTRY[,ENTRY...] [--plan DIR]")
    }
    val names = entries.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionFactory.local()
    val meter = new SmokeMeter
    spark.sparkContext.addSparkListener(meter)
    planDir.foreach(Files.createDirectories(_))
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      for (run <- Seq("cold", "warm", "warm")) {
        spark.catalog.clearCache()
        meter.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Bridge.drainListenerBus(spark)
        println(f"[probe] $name $run $sec%.3f s shuffle ${meter.total.get / 1e6}%.1f MB " +
          f"peak-stage ${meter.peak.get / 1e6}%.1f MB")
      }
      planDir.foreach { dir =>
        val out = dir.resolve(s"$name.txt")
        Files.write(out, fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          .getBytes("UTF-8"))
        println(s"[probe] $name plan -> $out")
      }
    }
    spark.stop()
  }
}
