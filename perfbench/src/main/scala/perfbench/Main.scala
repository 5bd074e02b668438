package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: session, calibration, set-up, the timed
  * region, then the result dump the output checker reads.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *   <ivmInputsDir> <workDir> <resultJson> <checksJsonl> [corrupt]
  */
object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftLogging.quietBoundedWindowWarnings()
    graft.GraftLogging.quietCheckpointUnpersistWarnings()
    spark
  }

  /** graft.Bench's box-drift calibration workload: a fixed pure-CPU
    * plus one-shuffle job. Bench reports the median of 3 after a warm-up;
    * here one run after the workload, when the JVM is already warm.
    */
  def calibSec(spark: SparkSession): Double = {
    def run(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 64000000L, 1L, Cores)
        .selectExpr("xxhash64(id) AS h")
        .selectExpr("pmod(h, 4096) AS b", "h")
        .groupBy("b").agg(Map("h" -> "sum"))
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    run()
  }

  def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, ivmInputs, work, resultPath, checksPath) = args.take(9)
    val corrupt = args.length > 9 && args(9) == "corrupt"
    val seed = seedS.toLong
    val tracing = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      System.err.println(f"perfbench: $name at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val load0 = loadavg()
    val rec = new Recorder(spark, tracing)

    val w: Workload = workload match {
      case "snapshot_mix" => new Snapshot(spark, data, seed, rec)
      case "graph_corpus" => new Registry(spark, data, seed, rec)
      case "ivm_ingest" => new IvmIngest(spark, ivmInputs, work, rec)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    phase("workload ready")
    val builds = w.setup()
    phase("set-up done")
    rec.drain()
    rec.resetStoragePeak()
    // set-up: JVM start to the timed region, with the repeated state
    // builds counted once, at their median
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - builds.sum + Stats.median(builds)

    rec.timed = true
    val t0 = System.nanoTime()
    w.run(t0 + (secondsS.toDouble * 1e9).toLong)
    val wallS = (System.nanoTime() - t0) / 1e9
    rec.timed = false
    rec.drain()

    phase("timed region done")
    val calib = calibSec(spark)
    val checks = new CheckWriter(checksPath, corrupt)
    w.dumpChecks(checks)
    checks.close()

    val ops = rec.timedOpsSeq
    val units = w.unitsMs
    val byKind = ops.groupBy(_.kind)
    val passes = ops.size.toDouble / w.kinds.size
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> units.size / wallS,
      "op_p50_ms" -> Stats.quantile(units, 0.5),
      "op_p95_ms" -> Stats.quantile(units, 0.95),
      "pass_s" -> w.kinds.map(k => Stats.median(byKind.getOrElse(k, Nil).map(_.ms / 1000))).sum)
    val layers = if (tracing) Layers.metrics(rec, ops, wallS, passes, Cores) ++ w.layerMetrics() else Map.empty

    val result = new java.util.LinkedHashMap[String, AnyRef]()
    result.put("attempted", java.lang.Long.valueOf(ops.size))
    result.put("failed_in_run", java.lang.Long.valueOf(ops.count(_.failed)))
    result.put("end_to_end", e2e.asJava)
    result.put("per_layer", layers.asJava)
    result.put("context", Map[String, Any](
      "calib_sec" -> calib, "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
      "cores" -> Cores, "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "samples" -> units.size, "graft_calls" -> ops.size, "timed_wall_s" -> wallS, "passes" -> passes,
      "session_s" -> sessionS, "state_builds_s" -> builds.map(b => f"$b%.3f").mkString(","))
      .map { case (k, v) => k -> v.asInstanceOf[AnyRef] }.asJava)
    if (tracing) {
      val t = rec.ops.headOption.map(_.startNs).getOrElse(0L)
      result.put("ops", ops.map(o => Map[String, Any]("id" -> o.id, "kind" -> o.kind,
        "start_us" -> (o.startNs - t) / 1000, "end_us" -> (o.endNs - t) / 1000)
        .map { case (k, v) => k -> v.asInstanceOf[AnyRef] }.asJava).asJava)
      val timedIds = ops.map(_.id).toSet
      result.put("spans", rec.spans.filter(s => timedIds.contains(s.op)).sortBy(_.startNs)
        .map(s => Map[String, Any]("id" -> s.id, "name" -> s.name, "start_us" -> (s.startNs - t) / 1000,
          "end_us" -> (s.endNs - t) / 1000, "parent" -> s.parent, "op" -> s.op)
          .map { case (k, v) => k -> v.asInstanceOf[AnyRef] }.asJava).asJava)
    }
    Files.write(Paths.get(resultPath), Results.mapper.writeValueAsBytes(result))
    phase("result written")
    spark.stop()
    phase("session stopped")
  }
}
