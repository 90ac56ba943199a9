package perfbench

import scala.util.Random

import graft.mdl.ManifestJson
import graft.queries.{GraphEr, Pipeline, Semantic, TpcH}

/** One client operation and the output it must produce.
  *
  *   - `kind`: `query` (POST /query), `dryrun` (POST /query?dryRun=true),
  *     `dryplan` (POST /dry-plan) or `entry` (an in-process operator entry);
  *   - `key`: identity of the expected output — two ops with the same key
  *     must return the same result (manifest revisions share a key);
  *   - `oracle`: DuckDB SQL whose result the response must equal, when the
  *     op returns rows; `expectStatus` is checked for every served op.
  */
final case class Op(
    key: String,
    kind: String,
    sql: String = "",
    manifest: String = "",
    props: Map[String, String] = Map.empty,
    limit: Option[Int] = None,
    expectStatus: Int = 200,
    oracle: Option[String] = None) {
  def planOnly: Boolean = kind == "dryrun" || kind == "dryplan"
}

/** A closed-loop workload: `clients` threads, each sending its own seeded
  * stream of ops and waiting for each reply.
  */
trait Workload {
  def name: String
  def sf: String
  def clients: Int
  /** Ops per client pass; `pass_s` is the median wall of one pass. */
  def passLen: Int
  /** Whether a run stops only between whole passes (and before a pass that
    * would overrun `--seconds`).
    */
  def wholePasses: Boolean = false
  /** Ops every set-up runs once, untimed. */
  def warmup: Seq[Op]
  /** Client `client`'s endless op stream for `seed`. */
  def stream(seed: Long, client: Int): Iterator[Op]
}

object Workloads {
  def apply(name: String, sfOverride: Option[String]): Workload = name match {
    case "serve_tpch" => new ServeTpch(sfOverride.getOrElse("0.01"))
    case "serve_semantic" => new ServeSemantic(sfOverride.getOrElse("0.01"))
    case "batch_operators" => new BatchOperators(sfOverride.getOrElse("0.01"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rng(seed: Long, client: Int): Random = new Random(seed * 1000003L + client)

  /** Substitute `{n}` into a template derived from a repo oracle; `from` must
    * occur in `text`, so a changed oracle fails loudly instead of silently.
    */
  def rewrite(text: String, from: String, to: String): String = {
    require(text.contains(from), s"oracle no longer contains `$from`:\n$text")
    text.replace(from, to)
  }
}

/** TPC-H q1–q22 through the passthrough manifest, with a dry-run check of a
  * few queries per pass (a BI tool validating before it runs).
  */
final class ServeTpch(val sf: String) extends Workload {
  val name = "serve_tpch"
  val clients = 2
  private val dryPerPass = 3
  private val manifest = ManifestJson.canonical(TpcH.manifest)
  private val queries: Seq[(String, String)] =
    TpcH.oracles.toSeq.sortBy(_._1.stripPrefix("tpch_q").toInt)
  val passLen: Int = queries.size + dryPerPass

  private def query(n: String, sql: String) =
    Op(s"query|$n", "query", sql, manifest, oracle = Some(sql))
  private def dry(n: String, sql: String) =
    Op(s"dryrun|$n", "dryrun", sql, manifest, expectStatus = 204)

  def warmup: Seq[Op] = queries.map { case (n, s) => query(n, s) }

  def stream(seed: Long, client: Int): Iterator[Op] = {
    val r = Workloads.rng(seed, client)
    Iterator.continually {
      val pass = queries.map { case (n, s) => query(n, s) } ++
        Seq.fill(dryPerPass) { val (n, s) = queries(r.nextInt(queries.size)); dry(n, s) }
      r.shuffle(pass)
    }.flatten
  }
}

/** Small governed requests: semantic-model SQL with a seeded literal, an
  * access-controlled model under many tenants, plan-only requests, and a
  * trickle of edited manifests that force fresh deploys.
  */
final class ServeSemantic(val sf: String) extends Workload {
  import Workloads.rewrite
  val name = "serve_semantic"
  val clients = 2
  val passLen = 25
  private val limit = 100
  private val tenants = 300    // > the 64-entry property-session cache
  private val revisions = 96   // > the server's 64-entry session map

  private val manifest = ManifestJson.canonical(Semantic.manifest)
  private val aclManifest = ManifestJson.canonical(Semantic.aclManifest)
  /** Same models and results, different manifest text (a description edit). */
  private val revised: IndexedSeq[String] = (0 until revisions).map { i =>
    val m = Semantic.manifest
    ManifestJson.canonical(m.copy(models = m.models.head.copy(
      properties = m.models.head.properties + ("description" -> s"revision $i")) :: m.models.tail))
  }
  require(revised.distinct.size == revisions && !revised.contains(manifest))

  private val o = Semantic.oracles
  /** (model SQL, oracle SQL), both with a `{n}` literal. */
  private val templates: IndexedSeq[(String, String)] = IndexedSeq(
    "SELECT o_orderkey, order_cust, o_orderdate FROM m_orders WHERE o_orderkey <= {n} ORDER BY o_orderkey" ->
      rewrite(o("m1_model_expr"), "o_orderkey <= 1000", "o_orderkey <= {n}"),
    "SELECT o_orderkey, cust_segment FROM m_orders WHERE o_orderkey <= {n} ORDER BY o_orderkey" ->
      rewrite(o("m2_calc_to_one"), "o_orderkey <= 2000", "o_orderkey <= {n}"),
    "SELECT c_custkey, cast(total_spent as double) AS total_spent, order_count FROM m_customer WHERE c_custkey <= {n} ORDER BY c_custkey" ->
      rewrite(o("m3_calc_to_many"), "\nORDER BY c_custkey", "\nWHERE c_custkey <= {n}\nORDER BY c_custkey"),
    "SELECT l_orderkey, l_linenumber, cust_segment FROM m_lineitem WHERE l_orderkey <= {n} ORDER BY l_orderkey, l_linenumber" ->
      rewrite(o("m4_two_hop"), "l_orderkey <= 600", "l_orderkey <= {n}"),
    "SELECT o_orderkey, cust_nation FROM m_orders WHERE o_orderkey <= {n} ORDER BY o_orderkey" ->
      rewrite(o("m12_nested_calc"), "o_orderkey <= 900", "o_orderkey <= {n}"),
    "SELECT o_orderkey, discounted(o_totalprice, cast(0.10 as double)) AS disc FROM m_orders WHERE o_orderstatus = OrderStatus.Filled AND o_orderkey <= {n} ORDER BY o_orderkey" ->
      rewrite(o("m20_macro_enum"), "o_orderkey <= 600", "o_orderkey <= {n}"),
    "SELECT cust_segment, count(*) AS n, cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS seg_rev FROM m_orders WHERE o_orderkey <= {n} GROUP BY cust_segment ORDER BY cust_segment" ->
      rewrite(o("m10_model_agg"), "\nGROUP BY 1", "\nWHERE o_orderkey <= {n}\nGROUP BY 1"))

  private val aclSql =
    "SELECT c_custkey, c_name, c_mktsegment FROM sec_customer WHERE c_custkey <= {n} ORDER BY c_custkey"
  private val aclOracle =
    rewrite(rewrite(o("m6_rlac"), "'BUILDING'", "'{seg}'"), " ORDER BY", " AND c_custkey <= {n} ORDER BY")
  private val aclSqlNoName =
    "SELECT c_custkey, c_mktsegment FROM sec_customer WHERE c_custkey <= {n} ORDER BY c_custkey"
  private val aclOracleNoName = rewrite(aclOracle, "c_custkey, c_name, c_mktsegment", "c_custkey, c_mktsegment")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val tenantPool: IndexedSeq[Map[String, String]] = new Random(7).shuffle(
    for (s <- segments; l <- Seq("0", "1"); u <- 0 until tenants / 10)
      yield Map("session_segment" -> s, "session_level" -> l, "session_user" -> s"u$u")).toIndexedSeq

  /** Hot literals repeat (plan-cache hits after warm-up); cold ones are drawn
    * from thousands of values, so the texts a long run sends outgrow the cache.
    */
  private def hot(t: Int): Int = 1000 + 97 * t
  private def cold(r: Random): Int = 100 + r.nextInt(14000)
  private def fill(t: String, n: Int) = t.replace("{n}", n.toString)

  private def query(t: Int, n: Int, m: String = manifest) =
    Op(s"query|$t|$n", "query", fill(templates(t)._1, n), m, limit = Some(limit),
      oracle = Some(fill(templates(t)._2, n) + s" LIMIT $limit"))

  private def acl(props: Map[String, String], withName: Boolean, n: Int): Op = {
    val seg = props("session_segment")
    val level = props("session_level")
    val (sql, oracle) = if (withName) (aclSql, aclOracle) else (aclSqlNoName, aclOracleNoName)
    val denied = withName && level == "0"
    Op(s"acl|$seg|$level|$withName|$n", "query", fill(sql, n), aclManifest, props,
      Some(limit), if (denied) 422 else 200,
      if (denied) None else Some(fill(oracle, n).replace("{seg}", seg) + s" LIMIT $limit"))
  }
  private def dryplan(sql: String) = Op(s"dryplan|$sql", "dryplan", sql, manifest)
  private def dryrun(sql: String) = Op(s"dryrun|$sql", "dryrun", sql, manifest, expectStatus = 204)

  /** Two hot tenants, one per access level; the rest of the pool is cold. */
  private val hotTenants = Seq(tenantPool.find(_("session_level") == "1").get,
    tenantPool.find(_("session_level") == "0").get)

  def warmup: Seq[Op] =
    templates.indices.map(t => query(t, hot(t))) ++
      (for (p <- hotTenants; withName <- Seq(true, false)) yield acl(p, withName, hot(0)))

  /** One pass: the op kind of each of its 25 slots. Q/q: model query on a
    * hot/cold literal; A: hot level-1 tenant naming the guarded column; a: hot
    * level-0 tenant naming it (the access-control 422); B: hot level-0 tenant
    * not naming it; C: cold tenant; P/p: /dry-plan hot/cold; R/r: dry run
    * hot/cold. Rows-returning requests are 16 of 25 and /dry-plan 6 of the 9
    * planning-only ones, so each median sits inside one latency cluster.
    */
  private val pass = "QPqAQRpQaqPQBrQqPCQRpqQPA"

  /** Client `client` cycles through the pass from its own offset, templates in
    * rotation. The seed draws cold literals, cold tenants and manifest
    * revisions, so every seed sends the same mix of work. Client 0's 10th op,
    * and every 100th after it, is a cold query on an edited manifest instead
    * (one fresh deploy per run of up to 100 ops a client).
    */
  def stream(seed: Long, client: Int): Iterator[Op] = {
    val r = Workloads.rng(seed, client)
    var k = 3 * client
    def t() = { k += 1; k % templates.size }
    def text(n: Int => Int) = { val i = t(); fill(templates(i)._1, n(i)) }
    val offset = client * pass.length / clients
    Iterator.from(0).map { i =>
      if (client == 0 && i % 100 == 10) query(t(), cold(r), revised(r.nextInt(revisions)))
      else pass((i + offset) % pass.length) match {
        case 'Q' => val j = t(); query(j, hot(j))
        case 'q' => query(t(), cold(r))
        case 'A' => acl(hotTenants(0), withName = true, hot(0))
        case 'a' => acl(hotTenants(1), withName = true, hot(0))
        case 'B' => acl(hotTenants(1), withName = false, hot(0))
        case 'C' => acl(tenantPool(r.nextInt(tenantPool.size)), r.nextBoolean(), hot(0))
        case 'P' => dryplan(text(hot))
        case 'p' => dryplan(text(_ => cold(r)))
        case 'R' => dryrun(text(hot))
        case 'r' => dryrun(text(_ => cold(r)))
      }
    }
  }
}

/** A fixed set of operator entries (one or more per family), each run
  * in-process through the noop sink; the seed only orders each pass. Runs
  * stop between whole passes, so every entry is timed equally often.
  */
final class BatchOperators(val sf: String) extends Workload {
  val name = "batch_operators"
  val clients = 1
  /** entry -> family. */
  val entries: Seq[(String, String)] = Seq(
    "d1_dedup_exact" -> "dedup",
    "er4_incremental_link" -> "er_graph",
    "t12_bm25" -> "text",
    "s1_ann_brute" -> "ann",
    "mm6_image_neardup" -> "multimodal",
    "mm7_audio_neardup" -> "multimodal",
    "p18_snapshot_diff" -> "pipeline")
  val passLen: Int = entries.size
  override def wholePasses = true
  private val oracles = Pipeline.oracles ++ GraphEr.oracles
  val fns: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Pipeline.queries ++ GraphEr.queries

  private def op(e: String) = Op(e, "entry", oracle = Some(oracles(e)))

  def warmup: Seq[Op] = entries.map(e => op(e._1))

  def stream(seed: Long, client: Int): Iterator[Op] = {
    val r = Workloads.rng(seed, client)
    Iterator.continually(r.shuffle(warmup)).flatten
  }
}
