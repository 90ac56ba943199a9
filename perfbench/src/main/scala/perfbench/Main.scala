package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.api.GraftHttpServer

/** One benchmark run in one JVM: set up the engine once, run the workload's
  * closed loop for `--seconds`, and write the measurements and every distinct
  * output to `--out` for the oracle check (perfbench/run.py). Batch runs end
  * with one more, untimed pass in the same session whose outputs are written
  * for that check.
  *
  * `--trace 1` instead runs the served loop for half the time (with
  * keep-alive /health probes) and then replays the same seeded op sequence
  * in-process, calling the public functions the route handler calls, in its
  * order, each inside a span.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, dataRoot: String,
      out: String, delayMs: Double, sf: Option[String])

  private def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("data-root"), m("out"), m.getOrElse("delay-ms", "0").toDouble, m.get("sf"))
  }

  final case class Sample(op: Op, ns: Long, planNs: Long, status: Int)

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = Workloads(a.workload, a.sf)
    val dataDir = Paths.get(a.dataRoot, s"sf${w.sf}").toString
    val out = Paths.get(a.out)
    Files.createDirectories(out)
    val load0 = loadavg()
    val cpus = Runtime.getRuntime.availableProcessors

    // ---- set-up: from JVM start to the end of the untimed warm-up pass
    val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val clock0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val env = new Env(w, dataDir, out, cpus, a.delayMs)
    env.warm()
    val setupS = (System.nanoTime() + clock0 - jvmStartNs) / 1e9
    env.armed = true

    val log = new CheckLog(out.resolve("checks.jsonl"))
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val record = mutable.LinkedHashMap.empty[String, JValue]
    var samples: Seq[Sample] = Nil
    var transportFailed = 0L
    var loopSeconds = 0.0

    if (!a.trace) {
      val r = closedLoop(w, env, a.seed, a.seconds, log, healthEvery = 0)
      samples = r.samples; transportFailed = r.transportFailed; loopSeconds = r.seconds
      metrics ++= endToEnd(w, setupS, r)
      metrics("retained_heap_mb") = retainedHeapMb()
      record("p95_samples_beyond") = JInt(r.samples.size - math.ceil(0.95 * r.samples.size).toInt)
      record("p50_ms_by_kind") = JObject(r.samples.groupBy(_.op.kind).toList.sortBy(_._1).map {
        case (k, ss) => k -> JArray(List(JDouble(Stats.median(ss.map(_.ns / 1e6))), JInt(ss.size)))
      })
    } else {
      val tr = new Traced(w, env, a, log, dataDir)
      val r = tr.run()
      samples = r.samples; transportFailed = r.transportFailed; loopSeconds = r.seconds
      metrics ++= tr.metrics
      record ++= tr.record
      // from the served phase; batch has only the traced loop
      val loop = tr.served.getOrElse(r)
      metrics("plan_p50_ms") = planP50(w, loop)
      metrics("pass_s") = passS(w, loop)
      tr.tracer.writeJsonl(out.resolve("spans.jsonl"))
    }
    val persisted = env.spark.sparkContext.getPersistentRDDs.size
    if (a.trace) metrics("spark.persisted_rdds_end") = persisted
    env.checkPass()
    val sparkVersion = env.spark.version
    log.close()
    env.close()

    val heapMax = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val result = JObject(
      "workload" -> JString(w.name), "seed" -> JInt(a.seed), "trace" -> JBool(a.trace),
      "attempted" -> JInt(samples.size), "transport_failed" -> JInt(transportFailed),
      "loop_seconds" -> JDouble(loopSeconds),
      "metrics" -> JObject(metrics.toList.map { case (k, v) => k -> JDouble(v) }),
      "record" -> JObject((record ++ Seq(
        "setup_s" -> JDouble(setupS),
        "clients" -> JInt(w.clients), "sf" -> JString(w.sf), "nproc" -> JInt(cpus),
        "heap_max_gb" -> JDouble(heapMax), "spark_version" -> JString(sparkVersion),
        "persisted_rdds_end" -> JInt(persisted),
        "delay_ms" -> JDouble(a.delayMs),
        "working_set" -> (if (w.isInstanceOf[BatchOperators]) JNothing else workingSet(samples)),
        "loadavg_start" -> JString(load0), "loadavg_end" -> JString(loadavg()))).toList))
    Files.write(out.resolve("result.json"), compact(render(result)).getBytes(UTF_8))
  }

  // ---------------------------------------------------------------- set-up

  /** The engine as a user runs it: one SparkSession on local[nproc] with the
    * program's own settings, plus the HTTP server for served workloads.
    *
    * `delayMs` > 0 is the sensitivity probe: every request pauses that long on
    * the server's dispatcher thread before the route handler runs (served), or
    * inside the op (batch, which has one client and no server).
    */
  final class Env(val w: Workload, val dataDir: String, out: Path, cpus: Int, delayMs: Double) {
    val spark: SparkSession = SparkSession.builder()
      .appName("perfbench").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    private val server: Option[GraftHttpServer] = w match {
      case _: BatchOperators => None
      case _ => Some(new GraftHttpServer(spark, dataDir))
    }
    val port: Int = server.map(_.start()).getOrElse(-1)
    if (delayMs > 0) server.foreach(delayRequests)
    private val http = Array.fill(w.clients)(
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())

    /** Re-route the server's "/" context through a pause and then its own
      * handler, on the same dispatcher thread (harness-only; reflection
      * reaches the server's private HttpServer and route handler).
      */
    private def delayRequests(s: GraftHttpServer): Unit = {
      val field = classOf[GraftHttpServer].getDeclaredFields
        .find(f => classOf[HttpServer].isAssignableFrom(f.getType)).get
      field.setAccessible(true)
      val handle = classOf[GraftHttpServer].getDeclaredMethods
        .find(m => m.getName.endsWith("handle") && m.getParameterTypes.sameElements(Seq(classOf[HttpExchange]))).get
      handle.setAccessible(true)
      val hs = field.get(s).asInstanceOf[HttpServer]
      hs.removeContext("/")
      hs.createContext("/", (ex: HttpExchange) => {
        if (ex.getRequestURI.getPath != "/health") pause()
        handle.invoke(s, ex)
      })
    }

    /** Set once the warm-up has run: only timed requests pause. */
    @volatile var armed = false

    def pause(): Unit =
      if (armed && delayMs > 0) java.util.concurrent.locks.LockSupport.parkNanos((delayMs * 1e6).toLong)

    def warm(): Unit = w match {
      // two passes: the first timed pass is then as warm as the later ones,
      // so a run's figures do not depend on how many passes fit in it
      case b: BatchOperators => for (_ <- 1 to 2; op <- b.warmup) entry(op)
      case _ => w.warmup.foreach { op =>
        val (status, body) = send(op, 0)
        if (status != op.expectStatus)
          System.err.println(s"[perfbench] warm-up ${op.key}: status $status ${body.take(300)}")
      }
    }

    /** POST one op to the server on client `c`'s keep-alive connection. */
    def send(op: Op, c: Int): (Int, String) = {
      val path = op.kind match {
        case "dryplan" => "/v3/connector/spark/dry-plan"
        case "dryrun" => "/v3/connector/spark/query?dryRun=true"
        case _ => "/v3/connector/spark/query" + op.limit.map(l => s"?limit=$l").getOrElse("")
      }
      val body = compact(render(JObject("sql" -> JString(op.sql), "manifestStr" -> JString(op.manifest))))
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
      op.props.foreach { case (k, v) => b.header(s"x-wren-variable-$k", v) }
      val resp = http(c).send(b.build(), HttpResponse.BodyHandlers.ofString())
      (resp.statusCode, resp.body)
    }

    /** Keep-alive GET /health round trip on client `c`'s connection, in ms. */
    def health(c: Int): Double = {
      val t = System.nanoTime()
      http(c).send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (System.nanoTime() - t) / 1e6
    }

    /** One batch op: build the entry's DataFrame, then run it through the noop sink. */
    def entry(op: Op): Long = {
      val t = System.nanoTime()
      val df = w.asInstanceOf[BatchOperators].fns(op.key)(spark, dataDir)
      val built = System.nanoTime() - t
      df.write.format("noop").mode("overwrite").save()
      built
    }

    /** Batch: after the timed loop, one more pass in the same session writes
      * each entry's output for the oracle check, whose verdict then counts for
      * every timed op of that entry (late-pass defects, e.g. from persisted
      * state, show as failed ops).
      */
    def checkPass(): Unit = w match {
      case b: BatchOperators => b.warmup.foreach { op =>
        b.fns(op.key)(spark, dataDir).write.mode("overwrite")
          .parquet(out.resolve("entries").resolve(op.key).toString)
      }
      case _ =>
    }

    def close(): Unit = {
      server.foreach(_.stop())
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  // ---------------------------------------------------------- closed loop

  final case class LoopResult(samples: Seq[Sample], passes: Seq[Double], rtts: Seq[Double],
      transportFailed: Long, seconds: Double, famPass: Seq[Map[String, Double]])

  def closedLoop(w: Workload, env: Env, seed: Long, seconds: Double,
      log: CheckLog, healthEvery: Int): LoopResult = {
    val deadline = new Deadline(w, seconds)
    val samples = Array.fill(w.clients)(mutable.ArrayBuffer.empty[Sample])
    val done = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val rtts = Array.fill(w.clients)(mutable.ArrayBuffer.empty[Double])
    val famPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val transport = new AtomicLong
    val family = w match { case b: BatchOperators => b.entries.toMap; case _ => Map.empty[String, String] }
    val start = System.nanoTime()
    val threads = (0 until w.clients).map { c =>
      val t = new Thread(() => {
        val it = w.stream(seed, c)
        var inPass = 0
        val fam = mutable.Map.empty[String, Double]
        var n = 0L
        while (deadline.more(n)) {
          n += 1
          val op = it.next()
          val t0 = System.nanoTime()
          var planNs = -1L
          val (status, body) =
            try {
              if (env.port < 0) { planNs = env.entry(op); env.pause(); (200, "") }
              else env.send(op, c)
            } catch {
              case NonFatal(e) =>
                transport.incrementAndGet()
                System.err.println(s"[perfbench] ${op.key}: $e")
                (-1, "")
            }
          val t1 = System.nanoTime()
          samples(c) += Sample(op, t1 - t0, planNs, status)
          done.add(t1)
          if (status >= 0) log.record(op, status, body)
          family.get(op.key).foreach(f => fam(f) = fam.getOrElse(f, 0.0) + (t1 - t0) / 1e9)
          inPass += 1
          if (inPass == w.passLen) {
            if (fam.nonEmpty) famPass.synchronized { famPass += fam.toMap }
            inPass = 0; fam.clear()
          }
          if (healthEvery > 0 && samples(c).size % healthEvery == 1) rtts(c) += env.health(c)
        }
      })
      t.setName(s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    LoopResult(samples.toSeq.flatten, passes(start, done.asScala.map(_.longValue).toSeq, w.passLen),
      rtts.toSeq.flatten, transport.get, (System.nanoTime() - start) / 1e9, famPass.toSeq)
  }

  /** Whether a loop that has run `n` ops goes on: until the deadline or, for
    * whole-pass workloads, while the next pass is expected to end by it.
    */
  final class Deadline(w: Workload, seconds: Double) {
    private val end = System.nanoTime() + (seconds * 1e9).toLong
    private var passStart = System.nanoTime()
    private var lastPass = 0L
    def more(n: Long): Boolean = {
      val now = System.nanoTime()
      if (!w.wholePasses) now < end
      else if (n % w.passLen != 0) true
      else {
        if (n > 0) { lastPass = now - passStart; passStart = now }
        n == 0 || now + lastPass <= end
      }
    }
  }

  /** Walls of consecutive windows of `passLen` completed ops (all clients together). */
  def passes(start: Long, completions: Seq[Long], passLen: Int): Seq[Double] = {
    val ends = completions.sorted.grouped(passLen).filter(_.size == passLen).map(_.last).toSeq
    (start +: ends).sliding(2).collect { case Seq(a, b) => (b - a) / 1e9 }.toSeq
  }

  def endToEnd(w: Workload, setupS: Double, r: LoopResult): Seq[(String, Double)] = {
    val lat = r.samples.map(_.ns / 1e6)
    Seq(
      "setup_s" -> setupS,
      "p50_ms" -> Stats.quantile(lat, 0.50),
      "p95_ms" -> Stats.quantile(lat, 0.95),
      "qps" -> r.samples.size / r.seconds)
  }

  /** Median planning-only latency: /dry-plan and dry runs when served, the
    * DataFrame build of each entry in batch.
    */
  def planP50(w: Workload, r: LoopResult): Double = {
    val plan = w match {
      case _: BatchOperators => r.samples.filter(_.planNs >= 0).map(_.planNs / 1e6)
      case _ => r.samples.filter(_.op.planOnly).map(_.ns / 1e6)
    }
    if (plan.isEmpty) 0.0 else Stats.median(plan)
  }

  /** Median wall of a pass of `passLen` ops; a run too short for one whole
    * pass extrapolates from its op rate.
    */
  def passS(w: Workload, r: LoopResult): Double =
    if (r.passes.nonEmpty) Stats.median(r.passes) else w.passLen * r.seconds / math.max(1, r.samples.size)

  /** What the run's ops touched, beside the engine's cache capacities: a
    * working set below a capacity means that cache never evicts in a run.
    */
  def workingSet(samples: Seq[Sample]): JObject = {
    val served = samples.filter(_.op.kind != "entry")
    JObject(
      "distinct_sql_texts" -> JInt(served.map(_.op.sql).distinct.size),
      "plan_cache_capacity" -> JInt(256),
      "distinct_tenants" -> JInt(served.map(_.op.props).filter(_.nonEmpty).distinct.size),
      "tenant_cache_capacity" -> JInt(64),
      "distinct_manifests" -> JInt(served.map(_.op.manifest).distinct.size),
      "session_map_capacity" -> JInt(64))
  }

  /** Heap in use after an explicit full GC, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024)
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ").take(3).mkString(" ")
    catch { case NonFatal(_) => "unknown" }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Every distinct (key, status, body) an op produced, written once with its
  * body for the oracle check, plus how many ops produced it.
  */
final class CheckLog(path: Path) {
  private val w = Files.newBufferedWriter(path)
  private val counts = mutable.Map.empty[(String, Int, String), Long]

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  def record(op: Op, status: Int, body: String): Unit = {
    val k = (op.key, status, digest(body))
    synchronized {
      val n = counts.getOrElse(k, 0L)
      if (n == 0) {
        w.write(compact(render(JObject(
          "key" -> JString(op.key), "kind" -> JString(op.kind), "status" -> JInt(status),
          "digest" -> JString(k._3), "expect_status" -> JInt(op.expectStatus),
          "oracle" -> op.oracle.map(JString).getOrElse(JNull), "body" -> JString(body)))))
        w.newLine()
      }
      counts(k) = n + 1
    }
  }

  def close(): Unit = synchronized {
    counts.foreach { case ((key, status, d), n) =>
      w.write(compact(render(JObject("count_of" -> JString(key), "status" -> JInt(status),
        "digest" -> JString(d), "count" -> JInt(n)))))
      w.newLine()
    }
    w.close()
  }
}
