package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.json4s._

import graft.{GraftEngine, GraftSession}
import graft.api.ResultFormatter
import graft.mdl.ManifestJson
import graft.planner.PathResolver

/** The traced run. Served workloads: half the time on the served loop (with a
  * keep-alive GET /health every 8th op), half replaying the same seeded op
  * sequence in-process. Batch: the operator loop itself, traced. Spark's
  * listeners are drained after every op so its phases and jobs join that
  * op's spans.
  */
final class Traced(w: Workload, env: Main.Env, a: Main.Args, log: CheckLog, dataDir: String) {
  val tracer = new Tracer
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val record = mutable.LinkedHashMap.empty[String, JValue]
  private val spark = env.spark
  private val probe = new SparkProbe(spark)
  private val opMs = mutable.ArrayBuffer.empty[Double]
  private val replayMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val responseKb = mutable.ArrayBuffer.empty[Double]
  private var planHits, planMisses, tenantHits, tenantMisses = 0L
  /** The served phase's loop (served workloads only). */
  var served: Option[Main.LoopResult] = None

  def run(): Main.LoopResult = {
    served = w match {
      case _: BatchOperators => None
      case _ => Some(Main.closedLoop(w, env, a.seed, a.seconds / 2, log, healthEvery = 8))
    }
    val replay = new Replay
    served.foreach(_ => w.warmup.foreach(op => replay.run(op)))
    tracer.spans.clear()
    tracer.keys.clear()
    planHits = 0; planMisses = 0; tenantHits = 0; tenantMisses = 0; responseKb.clear()
    probe.register()
    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val seconds = if (served.isDefined) a.seconds / 2 else a.seconds
    val deadline = new Main.Deadline(w, seconds)
    val streams = (0 until w.clients).map(c => w.stream(a.seed, c))
    val samples = mutable.ArrayBuffer.empty[Main.Sample]
    val done = mutable.ArrayBuffer.empty[Long]
    val famPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val fam = mutable.Map.empty[String, Double]
    val family = w match { case b: BatchOperators => b.entries.toMap; case _ => Map.empty[String, String] }
    var i = 0
    val start = System.nanoTime()
    while (deadline.more(i)) {
      val op = streams(i % w.clients).next()
      i += 1
      val t0 = System.nanoTime()
      var built = -1L
      val (status, body) = tracer.op(s"op.${op.kind}", op.key)(replay.run(op, b => built = b))
      val t1 = System.nanoTime()
      tracer.attach(probe.take())
      val ms = (t1 - t0) / 1e6
      opMs += ms
      replayMs.getOrElseUpdate(op.key, mutable.ArrayBuffer.empty) += ms
      samples += Main.Sample(op, t1 - t0, built, status)
      log.record(op, status, body)
      family.get(op.key).foreach { f =>
        fam(f) = fam.getOrElse(f, 0.0) + ms / 1e3
        fam(op.key) = ms / 1e3
      }
      done += t1
      if (i % w.passLen == 0) {
        if (fam.nonEmpty) famPass += fam.toMap
        fam.clear()
      }
    }
    val loopSeconds = (System.nanoTime() - start) / 1e9
    summarize(served, gcMs() - gc0, famPass.toSeq)
    val all = served.map(_.samples).getOrElse(Nil) ++ samples
    Main.LoopResult(all, Main.passes(start, done.toSeq, w.passLen), Nil,
      served.map(_.transportFailed).getOrElse(0L), loopSeconds, famPass.toSeq)
  }

  /** The route handler's calls, in its order, one span each. */
  final class Replay {
    private val sessions = new java.util.HashMap[String, GraftSession]
    private val lastTenant = mutable.Map.empty[(String, Map[String, String]), Int]

    private def session(manifestStr: String, props: Map[String, String]): GraftSession = {
      val cached = sessions.get(manifestStr)
      if (cached != null) tracer.span("engine.tenant") {
        val s = cached.withExactProperties(props)
        val id = System.identityHashCode(s)
        if (lastTenant.get((manifestStr, props)).contains(id)) tenantHits += 1 else tenantMisses += 1
        lastTenant((manifestStr, props)) = id
        s
      } else {
        val m = tracer.span("mdl.parse") {
          if (manifestStr.trim.startsWith("{")) ManifestJson.parse(manifestStr)
          else ManifestJson.parseBase64(manifestStr)
        }
        val s = tracer.span("engine.deploy")(GraftEngine.deploy(spark, m, new PathResolver(dataDir), props))
        if (sessions.size >= 64) sessions.clear()
        sessions.put(manifestStr, s)
        s
      }
    }

    /** `query(sql)` (or `dryRun`), named by its plan-cache outcome. */
    private def plan[T](sess: GraftSession)(f: => T): T = {
      val (h0, m0) = sess.planCacheStats
      val out = tracer.span("planner.query")(f)
      val (h1, m1) = sess.planCacheStats
      planHits += h1 - h0
      planMisses += m1 - m0
      tracer.renameLast(if (m1 > m0) "planner.query_miss" else "planner.query_hit")
      out
    }

    /** `built` receives the DataFrame build time of a batch entry, in ns. */
    def run(op: Op, built: Long => Unit = _ => ()): (Int, String) =
      try op.kind match {
        case "entry" =>
          val b0 = System.nanoTime()
          val df = tracer.span("ops.build")(w.asInstanceOf[BatchOperators].fns(op.key)(spark, dataDir))
          built(System.nanoTime() - b0)
          tracer.span("ops.exec")(df.write.format("noop").mode("overwrite").save())
          (200, "")
        case "dryrun" =>
          val sess = session(op.manifest, op.props)
          plan(sess)(sess.dryRun(op.sql))
          (204, "")
        case "dryplan" =>
          val sess = session(op.manifest, op.props)
          (200, tracer.span("planner.dry_plan")(sess.transformSql(op.sql, "plan")))
        case _ =>
          val sess = session(op.manifest, op.props)
          val df = plan(sess)(sess.query(op.sql))
          val body = tracer.span("format")(ResultFormatter.toJsonResponse(df, op.limit.getOrElse(1000)))
          responseKb += body.length / 1024.0
          (200, body)
      } catch {
        // the route handler's status mapping
        case _: graft.QueryTimeoutException => (504, "")
        case e: graft.planner.GraftException => (422, e.getMessage)
        case e: org.apache.spark.sql.AnalysisException => (422, e.getMessage)
        case e: IllegalArgumentException => (422, e.getMessage)
        case NonFatal(e) => (500, e.toString)
      }
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  private def summarize(served: Option[Main.LoopResult], gc: Double,
      famPass: Seq[Map[String, Double]]): Unit = {
    val ops = math.max(1, opMs.size).toDouble
    val self = tracer.selfTimes
    val byName = tracer.spans.groupBy(_.name)
    def med(name: String) = Stats.median(byName.getOrElse(name, Nil).map(_.ms).toSeq) match {
      case x if x.isNaN => 0.0
      case x => x
    }
    def ratio(hit: Long, miss: Long, name: String): Double = {
      record(s"$name.base") = JInt(hit + miss)
      if (hit + miss == 0) 0.0 else hit.toDouble / (hit + miss)
    }
    def phase(p: String) = {
      val xs = probe.phases.filter(_._1 == p).map(_._2).toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val t = probe.totals

    // http: served latency (phase A) against the in-process replay of the same keys
    served match {
      case Some(r) =>
        val servedMs = r.samples.groupBy(_.op.key).map { case (k, ss) => k -> Stats.median(ss.map(_.ns / 1e6)) }
        val diffs = servedMs.collect { case (k, s) if replayMs.contains(k) => s - Stats.median(replayMs(k).toSeq) }
        metrics("http.rtt_ms") = Stats.median(r.rtts)
        metrics("http.self_ms") = if (diffs.isEmpty) 0.0 else Stats.median(diffs.toSeq)
        metrics("http.requests") = r.samples.size
        metrics("http.non2xx") = r.samples.count(s => s.status < 200 || s.status >= 300)
        record("trace_served_p50_ms") = JDouble(Stats.median(r.samples.map(_.ns / 1e6)))
        record("http.self_ms.base_keys") = JInt(diffs.size)
      case None =>
        Seq("http.rtt_ms", "http.self_ms", "http.requests", "http.non2xx").foreach(metrics(_) = 0.0)
    }
    record("replay_p50_ms") = JDouble(Stats.median(opMs.toSeq))
    metrics("mdl.parse_ms") = med("mdl.parse")
    metrics("mdl.parses") = byName.get("mdl.parse").map(_.size).getOrElse(0).toDouble
    metrics("engine.deploy_ms") = med("engine.deploy")
    metrics("engine.deploys") = byName.get("engine.deploy").map(_.size).getOrElse(0).toDouble
    metrics("engine.tenant_ms") = med("engine.tenant")
    metrics("engine.tenant_hit_ratio") = ratio(tenantHits, tenantMisses, "engine.tenant_hit_ratio")
    metrics("engine.plan_hit_ratio") = ratio(planHits, planMisses, "engine.plan_hit_ratio")
    metrics("planner.query_miss_ms") = med("planner.query_miss")
    metrics("planner.query_hit_ms") = med("planner.query_hit")
    metrics("planner.dry_plan_ms") = med("planner.dry_plan")
    metrics("catalyst.analysis_ms") = phase("analysis")
    metrics("catalyst.optimization_ms") = phase("optimization")
    metrics("catalyst.planning_ms") = phase("planning")
    val execPerOp = tracer.spans.filter(_.name == "spark.exec").groupBy(_.op).values.map(_.map(_.ms).sum).toSeq
    metrics("spark.exec_ms") = if (execPerOp.isEmpty) 0.0 else Stats.median(execPerOp)
    metrics("spark.jobs") = t.jobs / ops
    metrics("spark.stages") = t.stages / ops
    metrics("spark.tasks") = t.tasks / ops
    metrics("spark.task_ms") = t.taskMs / ops
    metrics("spark.task_skew") = if (probe.stageSkew.isEmpty) 0.0 else Stats.median(probe.stageSkew.toSeq)
    val mb = 1024.0 * 1024
    metrics("spark.input_mb") = t.inputB / mb / ops
    metrics("spark.shuffle_read_mb") = t.shuffleReadB / mb / ops
    metrics("spark.shuffle_write_mb") = t.shuffleWriteB / mb / ops
    metrics("spark.spill_mb") = t.spillB / mb / ops
    metrics("spark.gc_ms") = t.gcMs / ops
    val formatSelf = self.collect { case (s, ms) if s.name == "format" => ms }
    metrics("format.ms") = if (formatSelf.isEmpty) 0.0 else Stats.median(formatSelf)
    metrics("format.response_kb") = if (responseKb.isEmpty) 0.0 else Stats.median(responseKb.toSeq)
    val families = Seq("dedup", "er_graph", "text", "ann", "multimodal", "pipeline")
    val named = Seq("er4_incremental_link", "mm6_image_neardup", "mm7_audio_neardup")
    (families ++ named).foreach { f =>
      val xs = famPass.flatMap(_.get(f))
      metrics(s"ops.${f}_s") = if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    record("ops.passes") = JInt(famPass.size)
    metrics("jvm.gc_ms") = gc / ops
    metrics("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / mb
    // self time per layer, per op; "op" is time no layer span covers
    val layers = Seq("op", "mdl", "engine", "planner", "catalyst", "spark", "format", "ops")
    val selfBy = self.groupBy(_._1.layer).map { case (l, xs) => l -> xs.map(_._2).sum }
    layers.foreach(l => metrics(s"self.${l}_ms") = selfBy.getOrElse(l, 0.0) / ops)
    val roots = self.filter(_._1.parent < 0)
    val covered = roots.count { case (s, uncovered) => uncovered <= 0.1 * s.ms }
    metrics("trace.span_coverage") = if (roots.isEmpty) 0.0 else covered.toDouble / roots.size
    record("trace.span_coverage.base") = JInt(roots.size)
    record("replay_ops") = JInt(opMs.size)
  }
}
