package perfbench

import graft.api.ProteusQL
import graft.operators.AsOf
import graft.qpu._
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** `snapshot_mix`: the reference's snapshot traffic. A closed loop of
  * `Clients` threads; each sends its next query when the last returns.
  * Queries are the 17 QPU-parity shapes with seeded parameters. The
  * CacheQpu shape draws k from twice as many values as its QueryCache
  * holds entries, and set-up fills the cache, so hits and evictions both
  * occur (a run sends only a few such queries, too few to fill the
  * default 32-entry cache); ProteusQL.sql draws from 64 statements.
  */
final class Snapshot(spark: SparkSession, dir: String, seed: Long, rec: Recorder) extends Workload {
  import Snapshot._

  /** A source read, traced as the `sources` layer. */
  private final class Src(table: String, projection: Seq[String] = Nil) extends Qpu {
    def toDF: DataFrame = rec.span("sources")(DatastoreQpu(spark, dir, table, projection).toDF)
  }

  private val cache = new QueryCache(CacheEntries)

  // key domains of the point shapes: every customer and part key
  private val customers = spark.read.parquet(s"$dir/customer.parquet").count()
  private val parts = spark.read.parquet(s"$dir/part.parquet").count()

  private def orderCounts: DataFrame =
    new Src("orders").toDF.groupBy("o_custkey").agg(count(lit(1)).as("order_cnt"))

  private def flagshipJson(k: Long): String =
    s"""{"root": "top", "qpus": {
       |  "orders": {"operator": "datastore", "table": "orders"},
       |  "customer": {"operator": "datastore", "table": "customer"},
       |  "spend": {"operator": "aggregation", "children": ["orders"], "groupBy": ["o_custkey"],
       |    "aggregates": [{"function": "count", "as": "order_cnt"},
       |                   {"function": "sum", "attribute": "o_totalprice", "as": "total_spent"}]},
       |  "joined": {"operator": "join", "children": ["spend", "customer"], "leftAttr": "o_custkey",
       |    "rightAttr": "c_custkey", "alias": "custkey", "broadcastRight": true},
       |  "top": {"operator": "index", "children": ["joined"], "attribute": "order_cnt", "topk": $k,
       |    "tiebreak": ["custkey"], "projection": ["custkey", "c_name", "order_cnt", "total_spent"]}}}""".stripMargin

  /** Seeded parameters for one query of `shape`. */
  def params(shape: String, r: SplittableRandom): ListMap[String, Any] = shape match {
    case "scan_projection" => ListMap("col" -> Seq("o_custkey", "o_totalprice", "o_orderdate")(r.nextInt(3)))
    case "filter_eq" | "point_lookup" => ListMap("key" -> r.nextLong(customers))
    case "filter_range" => ListMap("lb" -> (1 + r.nextInt(45)).toDouble, "width" -> (1 + r.nextInt(5)).toDouble)
    case "filter_notnull" | "router" => ListMap("lb" -> r.nextInt(400).toDouble)
    case "index_point" => ListMap("key" -> r.nextLong(parts))
    case "index_range" | "join_2way" => ListMap("lb" -> (1000 + 1000 * r.nextInt(450)).toDouble)
    case "topk" | "flagship" | "graph_config" => ListMap("k" -> (1 + r.nextInt(30)).toLong)
    case "sum_groupby" => ListMap("event_type" -> graft.Queries.eventTypes(r.nextInt(5)))
    case "cache_topk" => ListMap("k" -> (1 + r.nextInt(2 * CacheEntries)).toLong)
    case "sql" => ListMap("k" -> (1 + r.nextInt(SqlDomain)).toLong)
    case "asof_snapshot" => ListMap("day" -> (2 + r.nextInt(28)).toLong)
    case "index_asof" => ListMap("day" -> (2 + r.nextInt(28)).toLong, "lb" -> r.nextInt(400).toDouble)
  }

  /** Build the query through graft's public QPU and API surface. */
  def build(shape: String, p: ListMap[String, Any]): DataFrame = {
    def d(k: String) = p(k).asInstanceOf[Double]
    def l(k: String) = p(k).asInstanceOf[Long]
    def asOf = lit(f"2024-01-${l("day")}%02d 00:00:00").cast("timestamp")
    shape match {
      case "sql" => rec.span("api")(ProteusQL.sql(spark, dir,
        s"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O' " +
          s"ORDER BY o_totalprice DESC, o_orderkey LIMIT ${l("k")}"))
      case "point_lookup" => rec.span("api")(ProteusQL.snapshot(spark, dir, "customer",
        predicates = Seq(Eq("c_custkey", l("key")))))
      case _ => rec.span("qpu")(shape match {
        case "scan_projection" => new Src("orders", Seq("o_orderkey", p("col").toString)).toDF
        case "filter_eq" => FilterQpu(new Src("orders"), Seq(Eq("o_custkey", l("key")))).toDF
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        case "filter_range" => FilterQpu(new Src("lineitem"),
          Seq(Range("l_quantity", d("lb"), d("lb") + d("width")))).toDF
          .select("l_orderkey", "l_linenumber", "l_quantity")
        case "filter_notnull" => FilterQpu(new Src("events"),
          Seq(IsNotNull("props"), Range("value", d("lb"), d("lb") + 100.0))).toDF
          .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        case "index_point" => IndexQpu(new Src("lineitem"), "l_partkey").point(l("key"))
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        case "index_range" => IndexQpu(new Src("orders"), "o_totalprice").range(d("lb"), d("lb") + 20000.0)
          .select("o_orderkey", "o_totalprice")
        case "topk" => IndexQpu(DataFrameQpu(orderCounts), "order_cnt")
          .topK(l("k").toInt, tiebreak = Seq("o_custkey"))
        case "sum_groupby" => SumQpu(FilterQpu(new Src("events"), Seq(Eq("event_type", p("event_type")))),
          "value", "user_id").toDF
        case "join_2way" => JoinQpu(FilterQpu(new Src("orders"), Seq(Range("o_totalprice", d("lb"), d("lb") + 50000.0))),
          new Src("customer"), "o_custkey", "c_custkey", broadcastRight = true).toDF
          .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_nationkey")
        case "flagship" =>
          val sums = new Src("orders").toDF.groupBy("o_custkey")
            .agg(count(lit(1)).as("order_cnt"), sum("o_totalprice").as("total_spent"))
          val joined = JoinQpu(DataFrameQpu(sums), new Src("customer"), "o_custkey", "c_custkey",
            joinAlias = "custkey", broadcastRight = true)
          IndexQpu(joined, "order_cnt").topK(l("k").toInt, tiebreak = Seq("custkey"))
            .select("custkey", "c_name", "order_cnt", "total_spent")
        case "router" =>
          // plain DatastoreQpu children: the router merges same-source
          // filters into one scan only when it can see the datastore
          RouterQpu(graft.Queries.eventTypes.map(t => FilterQpu(DatastoreQpu(spark, dir, "events"),
            Seq(Eq("event_type", t), Range("value", d("lb"), d("lb") + 50.0))): Qpu)).toDF
            .select("event_id", "user_id", "event_type", "value")
        case "cache_topk" => CacheQpu(DataFrameQpu(IndexQpu(DataFrameQpu(orderCounts), "order_cnt")
          .topK(l("k").toInt, tiebreak = Seq("o_custkey"))), cache).toDF
        case "asof_snapshot" => AsOf.snapshotAsOf(new Src("events").toDF, "ts", asOf,
          key = Seq("user_id"), tiebreak = Seq("event_id")).select("user_id", "event_id", "event_type", "value")
        case "index_asof" =>
          val snap = AsOf.snapshotAsOf(new Src("events").toDF, "ts", asOf,
            key = Seq("user_id"), tiebreak = Seq("event_id"))
          IndexQpu(DataFrameQpu(snap), "value").range(d("lb"), d("lb") + 100.0)
            .select("user_id", "event_id", "value")
        case "graph_config" => GraphConfig.fromJson(spark, flagshipJson(l("k")), dir).toDF
      })
    }
  }

  private final class Combo(val shape: String, val p: ListMap[String, Any], val fp: String,
                            val columns: Seq[String], val rows: Array[Row]) {
    var ops = 0
  }
  private val combos = mutable.LinkedHashMap.empty[String, Combo]

  private def paramKey(shape: String, p: ListMap[String, Any]) =
    shape + p.map { case (k, v) => s"$k=$v" }.mkString("(", ",", ")")

  /** One query: compose, then collect the result as a client would. */
  private def query(shape: String, p: ListMap[String, Any]): Unit = {
    val (op, res) = rec.op(shape, paramKey(shape, p)) {
      val df = build(shape, p)
      (df.columns.toSeq, rec.span("exec")(df.collect()))
    }
    res.foreach { case (cols, rows) =>
      val fp = Results.fingerprint(rows)
      combos.synchronized {
        val c = combos.getOrElseUpdate(op.params, new Combo(shape, p, fp, cols, rows))
        if (c.fp != fp) op.failed = true else c.ops += 1
      }
    }
    if (rec.tracing) rec.recordBlocksHeld(op)
  }

  def kinds: Seq[String] = Shapes

  def setup(): Seq[Double] = {
    // state: the registered views ProteusQL.sql reads
    val reg = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.Tables.registerAll(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: every shape once with parameters from a fixed stream, sent
    // by the clients at once as in the timed region
    val r = new SplittableRandom(0L)
    val warm = Shapes.map(s => (s, params(s, r)))
    val clients = warm.grouped((warm.size + Clients - 1) / Clients).toSeq
      .map(part => new Thread(() => part.foreach { case (s, p) => query(s, p) }))
    clients.foreach(_.start())
    clients.foreach(_.join())
    (1 to 2 * CacheEntries).foreach(k => query("cache_topk", ListMap("k" -> k.toLong)))
    combos.clear()
    reg
  }

  def run(deadlineNs: Long): Unit = {
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        // each client sends every shape once per round, in a seeded
        // order, so the mix (and the work per run) does not drift with the seed
        val r = new SplittableRandom(seed * 7919L + c)
        val rounds = Iterator.continually(new scala.util.Random(r.nextLong()).shuffle(Shapes)).flatten
        while (System.nanoTime() < deadlineNs) {
          val s = rounds.next()
          query(s, params(s, r))
        }
      }, s"client-$c")
    }
    val (h0, m0) = (cache.hits, cache.misses)
    threads.foreach(_.start())
    threads.foreach(_.join())
    cacheHits = cache.hits - h0
    cacheMisses = cache.misses - m0
  }

  def unitsMs: Seq[Double] = rec.timedOpsSeq.map(_.ms)

  def dumpChecks(w: CheckWriter): Unit = combos.values.foreach { c =>
    w.entry("kind" -> "snapshot", "shape" -> c.shape, "params" -> c.p.asJava, "ops" -> c.ops,
      "columns" -> c.columns, "rows" -> Results.rowsJson(c.rows))
  }

  private var cacheHits, cacheMisses = 0L

  def layerMetrics(): Map[String, Double] = Map(
    "qpu.cache_hit_ratio" -> (if (cacheHits + cacheMisses == 0) 0.0
      else cacheHits.toDouble / (cacheHits + cacheMisses)))
}

object Snapshot {
  val Clients = 4
  val CacheEntries = 4
  val SqlDomain = 64
  val Shapes: Seq[String] = Seq("scan_projection", "filter_eq", "filter_range", "filter_notnull",
    "index_point", "index_range", "topk", "sum_groupby", "join_2way", "flagship", "router",
    "cache_topk", "sql", "point_lookup", "asof_snapshot", "index_asof", "graph_config")

  implicit final class ListMapJava(val m: ListMap[String, Any]) extends AnyVal {
    def asJava: java.util.Map[String, AnyRef] = {
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, v) => j.put(k, Results.plain(v)) }
      j
    }
  }
}
