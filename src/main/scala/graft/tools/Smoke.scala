package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.{SessionFactory, SparkEntry}

/** Scaffolding shared by the scale-smoke mains: the env knobs, a factory
  * session pinned at `partitions` shuffle partitions, the stage shuffle meter,
  * a scratch dir for synthesized corpora, best-of-`runs` timing and the JSON
  * results file.
  */
private[tools] final class Smoke(scratchPrefix: String, val partitions: Int = 32) {
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val copies: Int = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
  val runs: Int = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
  val spark: SparkSession = SessionFactory.local()
  spark.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
  val meter = new SmokeMeter
  spark.sparkContext.addSparkListener(meter)
  val work: String = Files.createTempDirectory(scratchPrefix).toString

  /** Waits until the meter has seen every finished stage. */
  def drain(): Unit = Bridge.drainListenerBus(spark)

  /** Best of `n` timed `count()`s, each on a cleared cache and a reset meter:
    * (wall s, rows, total shuffle-write bytes, peak-stage bytes) of the
    * fastest run.
    */
  def best(thunk: () => DataFrame, n: Int = runs): Smoke.Timing = {
    var best = Double.MaxValue; var rows = 0L; var shuffle = 0L; var peak = 0L
    for (_ <- 0 until n) {
      spark.catalog.clearCache()
      meter.reset()
      val t0 = System.nanoTime()
      rows = thunk().count()
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      if (dt < best) { best = dt; shuffle = meter.total.get; peak = meter.peak.get }
    }
    (best, rows, shuffle, peak)
  }

  /** [[best]] over the `SparkEntry.queries` entry `name` on the corpus `dir`. */
  def entry(name: String, dir: String): Smoke.Timing =
    best(() => SparkEntry.queries(name)(spark, dir))

  /** Writes `df` as `work/name/file` in `parts` files; returns `work/name`. */
  def corpus(name: String, df: DataFrame, file: String = "documents.parquet",
      parts: Int = partitions): String = {
    val dir = s"$work/$name"
    df.repartition(parts).write.parquet(s"$dir/$file")
    dir
  }

  /** Writes `{fields,"results":[rows]}` to `file`, echoes it, then deletes the
    * scratch corpora and stops the session.
    */
  def finish(file: String, fields: String, rows: Seq[Map[String, String]]): Unit = {
    val json = rows.map(_.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}"))
      .mkString(s"""{$fields,"results":[""", ",", "]}")
    Files.write(Paths.get(file), json.getBytes("UTF-8"))
    println(json)
    graft.util.Fs.deleteTree(work)
    spark.stop()
  }
}

private[tools] object Smoke {
  /** (wall seconds, output rows, total shuffle-write bytes, peak-stage bytes). */
  type Timing = (Double, Long, Long, Long)

  def mb(b: Long): String = f"${b / 1e6}%.1f"

  /** The standard decade row: scale "1" is `a`, scale "10" is `b`. */
  def decade(query: String, a: Timing, b: Timing): Map[String, String] = Map(
    "query" -> query, "t1_sec" -> f"${a._1}%.2f", "t10_sec" -> f"${b._1}%.2f",
    "wall_factor" -> f"${b._1 / a._1}%.1f",
    "rows1" -> a._2.toString, "rows10" -> b._2.toString,
    "shuffle1_mb" -> mb(a._3), "shuffle10_mb" -> mb(b._3),
    "peak_stage1_mb" -> mb(a._4), "peak_stage10_mb" -> mb(b._4),
    "shuffle_factor" -> (if (a._3 > 0) f"${b._3.toDouble / a._3}%.1f" else "-"))

  /** Copy `k` of a `(doc_id, text)` corpus: ids shifted by `k·900000`
    * (divisible by every modulus the dedup queries plant with: 3, 20, 25, 40,
    * 50) and every word salted with `xx$k` ("xx" so no salted token collides
    * with d13's planted zq* suffix tokens). Copies share word structure but
    * no shingle or name token. Copy 0 is the corpus verbatim.
    */
  def salted(docs: DataFrame, k: Int): DataFrame =
    if (k == 0) docs
    else docs.select((col("doc_id") + k * 900000L).alias("doc_id"),
      regexp_replace(lower(col("text")), "([a-z0-9一-鿿]+)", "$1xx" + k)
        .alias("text"))
}
