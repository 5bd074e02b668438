package perfbench

import graft.operators.Ivm
import graft.qpu.{DatastoreQpu, Eq, FilterQpu, IndexQpu}
import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable

/** `ivm_ingest`: writes beside reads on one parquet layer.
  *
  * Set-up materializes, from the seeded base rows, an orders
  * group-by-sum state (`Ivm.groupState`, partitioned by `cust_bucket`)
  * and a keyed row table (`Ivm.writeKeyedTable`). The timed region
  * applies the seeded CDC batches in order: `Ivm.refreshGroupBySumTable`
  * with the batch's D+I delta, `Ivm.mergeKeyedTable` with its keyed
  * changes, then a top-k read and a point read of the maintained state.
  */
final class IvmIngest(spark: SparkSession, inputs: String, work: String, rec: Recorder) extends Workload {
  import IvmIngest._

  private val base = spark.read.parquet(s"$inputs/base.parquet")
  // bucket counts chosen by the input generator (layout.json)
  private val layout = Results.mapper.readTree(new File(s"$inputs/layout.json"))
  private val stateBuckets = layout.get("state_buckets").asInt
  private val keyedBuckets = layout.get("keyed_buckets").asInt
  private var root = ""
  private var applied = 0

  private val reads = mutable.ArrayBuffer.empty[Read]
  private val touchedFrac = mutable.ArrayBuffer.empty[Double]
  private val filesWritten = mutable.ArrayBuffer.empty[Long]
  private var changeBytes, changes = 0L
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private var filesAtStart = 0

  def kinds: Seq[String] = Seq("refresh", "merge", "topk_read", "point_read")

  private def materialize(dir: String): Unit = {
    Ivm.groupState(base, Keys, "o_totalprice")
      .write.mode("overwrite").partitionBy("cust_bucket").parquet(s"$dir/state.parquet")
    Ivm.writeKeyedTable(s"$dir/keyed.parquet", base, "o_orderkey", keyedBuckets)
  }

  private def files(dir: String): Set[String] = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
    walk(new File(dir)).toSet
  }

  /** Apply batch `i` to the tables under `dir`, then read the state back. */
  private def batch(dir: String, i: Int, record: Boolean): Unit = {
    val g = spark.read.parquet(f"$inputs/g$i%04d.parquet")
    val k = spark.read.parquet(f"$inputs/k$i%04d.parquet")
    val probe = g.select("o_custkey", "cust_bucket").collect()
    val key = probe.head.getLong(0)
    val nChanges = k.count()
    val before = if (rec.tracing && record) files(dir) else Set.empty[String]
    val t0 = System.nanoTime()
    rec.op("refresh", s"batch=$i")(rec.span("operators")(
      Ivm.refreshGroupBySumTable(s"$dir/state.parquet", g, "op", Keys, "o_totalprice", "cust_bucket")))
    rec.op("merge", s"batch=$i")(rec.span("operators")(
      Ivm.mergeKeyedTable(s"$dir/keyed.parquet", k, "op", "o_orderkey", keyedBuckets)))
    val (_, top) = rec.op("topk_read", s"batch=$i") {
      val df = rec.span("qpu")(IndexQpu(DatastoreQpu(spark, dir, "state"), "sum_o_totalprice")
        .topK(TopK, tiebreak = Seq("o_custkey")))
      rec.span("exec")(df.collect())
    }
    val (_, point) = rec.op("point_read", s"batch=$i") {
      val df = rec.span("qpu")(FilterQpu(DatastoreQpu(spark, dir, "state"), Seq(Eq("o_custkey", key))).toDF)
      rec.span("exec")(df.collect())
    }
    if (record) {
      batchMs += (System.nanoTime() - t0) / 1e6
      top.foreach(r => reads += Read(i, "ivm_topk", key, r))
      point.foreach(r => reads += Read(i, "ivm_point", key, r))
      applied = i + 1
      changes += nChanges
      if (rec.tracing) {
        touchedFrac += probe.map(_.getLong(1)).distinct.length.toDouble / stateBuckets
        filesWritten += (files(dir) -- before).size
        changeBytes += Seq(f"g$i%04d", f"k$i%04d").map(n => new File(s"$inputs/$n.parquet").length).sum
      }
    }
  }

  def setup(): Seq[Double] = {
    val builds = (1 to 3).map { r =>
      val t0 = System.nanoTime()
      materialize(s"$work/ivm$r")
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: the first batches on a copy the timed region never reads
    (0 until WarmBatches).foreach(i => batch(s"$work/ivm1", i, record = false))
    root = s"$work/ivm3"
    filesAtStart = files(root).size
    builds
  }

  def run(deadlineNs: Long): Unit = {
    var i = 0
    while ((System.nanoTime() < deadlineNs || i < MinBatches) && new File(f"$inputs/g$i%04d.parquet").exists()) {
      batch(root, i, record = true)
      i += 1
    }
  }

  def unitsMs: Seq[Double] = batchMs.toSeq

  def dumpChecks(w: CheckWriter): Unit = {
    val ops = rec.timedOpsSeq.groupBy(_.kind).map { case (k, v) => k -> v.count(!_.failed) }
    val state = spark.read.parquet(s"$root/state.parquet")
    val keyed = spark.read.parquet(s"$root/keyed.parquet").drop("__kb")
    w.entry("kind" -> "ivm_state", "batches" -> applied, "ops" -> ops.getOrElse("refresh", 0),
      "columns" -> state.columns.toSeq, "rows" -> Results.rowsJson(state.collect()))
    w.entry("kind" -> "ivm_keyed", "batches" -> applied, "ops" -> ops.getOrElse("merge", 0),
      "columns" -> keyed.columns.toSeq, "rows" -> Results.rowsJson(keyed.collect()))
    reads.foreach { r =>
      w.entry("kind" -> r.kind, "batch" -> r.batch, "key" -> r.key, "k" -> TopK, "ops" -> 1,
        "columns" -> state.columns.toSeq, "rows" -> Results.rowsJson(r.rows))
    }
  }

  def layerMetrics(): Map[String, Double] = {
    val ops = rec.timedOpsSeq
    def med(kinds: String*) = Stats.median(ops.filter(o => kinds.contains(o.kind)).map(_.ms))
    val writes = ops.filter(o => o.kind == "refresh" || o.kind == "merge")
    val written = rec.countersOf(writes.map(_.id)).output
    val wall = if (ops.isEmpty) 0.0 else (ops.map(_.endNs).max - ops.map(_.startNs).min) / 1e9
    Map(
      "ivm.refresh_group_ms" -> med("refresh"),
      "ivm.merge_keyed_ms" -> med("merge"),
      "ivm.read_ms" -> med("topk_read", "point_read"),
      "ivm.buckets_touched_frac" -> Stats.median(touchedFrac.toSeq),
      "ivm.files_written" -> Stats.median(filesWritten.map(_.toDouble).toSeq),
      "ivm.table_files" -> (if (root.isEmpty) 0.0 else files(root).size.toDouble),
      "ivm.table_files_per_batch" -> (if (applied == 0) 0.0 else (files(root).size - filesAtStart).toDouble / applied),
      "ivm.write_amp" -> (if (changeBytes == 0) 0.0 else written.toDouble / changeBytes),
      "ivm.changes_per_s" -> (if (wall == 0) 0.0 else changes / wall))
  }
}

object IvmIngest {
  private final case class Read(batch: Int, kind: String, key: Long, rows: Array[Row])
  val Keys: Seq[String] = Seq("cust_bucket", "o_custkey")
  val TopK = 10
  val WarmBatches = 1
  /** Batches applied even when they outlast the deadline, so medians have samples. */
  val MinBatches = 3
}
