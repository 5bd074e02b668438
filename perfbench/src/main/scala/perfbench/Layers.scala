package perfbench

/** Per-layer metrics of a traced run. Every name is reported on every
  * workload; a layer a workload never enters reads 0.
  *
  * Times of the benchmark's own spans are per op (mean self time: span
  * duration minus its child spans). Engine counters are per pass, where a
  * pass is one op of each kind the workload's `pass_s` sums over.
  */
object Layers {
  val Names: Seq[String] = Seq(
    "sources.load_ms", "sources.load_jobs", "sources.input_mb",
    "qpu.compose_ms", "qpu.cache_hit_ratio", "api.sql_ms", "operators.build_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.run_ms", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.busy_frac", "exec.spill_mb",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.uncovered_ms_per_job",
    "shuffle.write_mb", "shuffle.read_mb",
    "storage.peak_mb", "storage.blocks_put", "storage.blocks_left_after_op",
    "ivm.refresh_group_ms", "ivm.merge_keyed_ms", "ivm.read_ms", "ivm.buckets_touched_frac",
    "ivm.files_written", "ivm.table_files", "ivm.table_files_per_batch", "ivm.write_amp",
    "ivm.changes_per_s") ++
    Registry.Graph.flatMap(q => Seq(s"graph.$q.wall_s", s"graph.$q.jobs")) ++
    Registry.Corpus.flatMap(q => Seq(s"corpus.$q.wall_s", s"corpus.$q.task_cpu_s", s"corpus.$q.shuffle_mb"))

  /** Self time (ms) per span name, summed over `spans`. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def metrics(rec: Recorder, ops: Seq[Op], wallS: Double, passes: Double, cores: Int): Map[String, Double] = {
    val ids = ops.map(_.id).toSet
    val c = rec.countersOf(ids)
    val spans = rec.spans.filter(s => ids.contains(s.op))
    val self = selfMs(spans)
    val total = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => s.endNs - s.startNs).sum / 1e6 }
    val n = math.max(ops.size, 1).toDouble
    val p = math.max(passes, 1e-9)
    val opWallMs = ops.map(_.ms).sum
    val held = ops.flatMap(rec.blocksHeldAfter)
    Names.map(_ -> 0.0).toMap ++ Map(
      "sources.load_ms" -> total.getOrElse("sources", 0.0) / n,
      "sources.load_jobs" -> c.jobsBySpan("sources") / n,
      "sources.input_mb" -> c.input / 1e6 / p,
      "qpu.compose_ms" -> self.getOrElse("qpu", 0.0) / n,
      "api.sql_ms" -> self.getOrElse("api", 0.0) / n,
      "operators.build_ms" -> self.getOrElse("operators", 0.0) / n,
      "catalyst.analysis_ms" -> c.phaseMs("analysis") / n,
      "catalyst.optimization_ms" -> c.phaseMs("optimization") / n,
      "catalyst.planning_ms" -> c.phaseMs("planning") / n,
      "exec.run_ms" -> self.getOrElse("exec", 0.0) / n,
      "exec.task_run_s" -> c.runMs / 1e3 / p,
      "exec.task_cpu_s" -> c.cpuNs / 1e9 / p,
      "exec.gc_s" -> c.gcMs / 1e3 / p,
      "exec.busy_frac" -> c.runMs / 1e3 / (wallS * cores),
      "exec.spill_mb" -> c.spill / 1e6 / p,
      "sched.jobs" -> c.jobs / p,
      "sched.stages" -> c.stages / p,
      "sched.tasks" -> c.tasks / p,
      "sched.uncovered_ms_per_job" -> (if (c.jobs == 0) 0.0 else (opWallMs - c.runMs.toDouble / cores) / c.jobs),
      "shuffle.write_mb" -> c.shuffleWrite / 1e6 / p,
      "shuffle.read_mb" -> c.shuffleRead / 1e6 / p,
      "storage.peak_mb" -> rec.storagePeakBytes / 1e6,
      "storage.blocks_put" -> rec.storageBlocksPut / p,
      "storage.blocks_left_after_op" -> (if (held.isEmpty) 0.0 else held.sum.toDouble / held.size))
  }
}
