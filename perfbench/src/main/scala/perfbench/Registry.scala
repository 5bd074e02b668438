package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable

/** What every workload provides to the runner. */
trait Workload {
  /** The op kinds one pass is made of; `pass_s` sums their median walls. */
  def kinds: Seq[String]
  /** Prepare for the timed region: build the workload's state (several
    * times, so set-up time is a median) and warm up. Returns the durations
    * of the repeated state builds (seconds), empty when there is no state.
    */
  def setup(): Seq[Double]
  /** Send units until `deadlineNs`; the unit in flight at the deadline completes. */
  def run(deadlineNs: Long): Unit
  /** Wall (ms) of each unit a client waits for in the timed region: a
    * query, or an ingest batch with its reads.
    */
  def unitsMs: Seq[Double]
  /** Results for the output checker, written after the timed region. */
  def dumpChecks(w: CheckWriter): Unit
  /** Workload-specific per-layer metrics (traced runs). */
  def layerMetrics(): Map[String, Double]
}

/** `graph_corpus`: passes over a fixed cycle of registry queries, one
  * query at a time, each collected to the driver: iterative graph
  * operators (bound by job count) and corpus operators (the only users
  * of the `plans` kernels; at this data size they too are bound by job
  * overhead, not by compute or shuffle). Data and queries are fixed, so
  * job and task counts per query repeat exactly. Between queries every
  * persisted block is released (graft.Bench's sweep), yet a query still
  * pays for what the one before leaves behind: `dedup_minhash` takes
  * about 0.6 s longer right after `q_components`. So every pass, the
  * warm-up included, runs the cycle from one seeded starting point, and
  * each query follows the same neighbour in every run.
  */
final class Registry(spark: SparkSession, dir: String, seed: Long, rec: Recorder) extends Workload {
  import Registry._
  private val pass: Seq[String] = {
    val start = new scala.util.Random(seed).nextInt(Cycle.size)
    Cycle.drop(start) ++ Cycle.take(start)
  }

  private final class First(val fp: String, val columns: Seq[String], val rows: Array[Row]) {
    var ops = 0
  }
  private val first = mutable.LinkedHashMap.empty[String, First]

  private def release(): Unit = {
    graft.operators.Dedup.releasePins()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def runQuery(q: String): Unit = {
    val fn = graft.SparkEntry.queries(q)
    val (op, res) = rec.op(q, "") {
      val df = rec.span("operators")(fn(spark, dir))
      (df.columns.toSeq, rec.span("exec")(df.collect()))
    }
    if (rec.tracing) rec.recordBlocksHeld(op)
    release()
    res.foreach { case (cols, rows) =>
      val fp = Results.fingerprint(rows)
      val f = first.getOrElseUpdate(q, new First(fp, cols, rows))
      if (f.fp != fp) op.failed = true else f.ops += 1
    }
  }

  def kinds: Seq[String] = Cycle

  def setup(): Seq[Double] = {
    pass.foreach(runQuery) // warm-up pass
    first.clear()
    Nil
  }

  /** Whole passes, so every run samples each query equally often: at
    * least one, and another only while it would end by the deadline (a
    * pass takes about as long as a run, and a second pass started just
    * before the deadline would double the run). A query is the unit a
    * client waits for.
    */
  def run(deadlineNs: Long): Unit = {
    var lastNs = 0L
    do {
      val t0 = System.nanoTime()
      pass.foreach(runQuery)
      lastNs = System.nanoTime() - t0
    } while (System.nanoTime() + lastNs <= deadlineNs)
  }

  def unitsMs: Seq[Double] = rec.timedOpsSeq.map(_.ms)

  def dumpChecks(w: CheckWriter): Unit = first.foreach { case (q, f) =>
    w.entry("kind" -> "registry", "name" -> q, "oracle" -> graft.SparkEntry.oracleSql.get(q).orNull,
      "ops" -> f.ops, "columns" -> f.columns, "rows" -> Results.rowsJson(f.rows))
  }

  def layerMetrics(): Map[String, Double] = {
    val byQuery = rec.timedOpsSeq.groupBy(_.kind)
    Cycle.flatMap { q =>
      val ops = byQuery.getOrElse(q, Nil)
      val c = rec.countersOf(ops.map(_.id))
      val n = math.max(ops.size, 1).toDouble
      val wall = Stats.median(ops.map(_.ms / 1000))
      if (Graph.contains(q)) Seq(s"graph.$q.wall_s" -> wall, s"graph.$q.jobs" -> c.jobs / n)
      else Seq(s"corpus.$q.wall_s" -> wall, s"corpus.$q.task_cpu_s" -> c.cpuNs / 1e9 / n,
        s"corpus.$q.shuffle_mb" -> c.shuffleWrite / 1e6 / n)
    }.toMap
  }
}

object Registry {
  /** Fixpoint loops: connected components (propagate + jump) and k-core peeling. */
  val Graph: Seq[String] = Seq("q_components", "q_kcore")
  /** The MinHash kernel and text functions. */
  val Corpus: Seq[String] = Seq("dedup_minhash", "text_quality")
  /** One pass, in order; `dedup_minhash` follows `q_components`, so the
    * latter's leftovers show in every run.
    */
  val Cycle: Seq[String] = Seq("q_components", "dedup_minhash", "q_kcore", "text_quality")
}

object Stats {
  /** Linear-interpolated quantile (`q` in [0, 1]); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
