package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlBridge
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One call into graft, timed by the benchmark. `failed` marks an
  * exception or a result that disagrees with an earlier result of the
  * same call.
  */
final case class Op(id: Long, kind: String, params: String, startNs: Long, endNs: Long,
                    var failed: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A traced interval: spans of one op share `op`; `parent` is the span
  * that was open on the same thread when this one started (-1 at the op root).
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long, op: Long)

/** Engine counters attributed to one op through its job tag. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  val phaseMs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val jobsBySpan: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    input += o.input; output += o.output
    o.phaseMs.foreach { case (k, v) => phaseMs(k) += v }
    o.jobsBySpan.foreach { case (k, v) => jobsBySpan(k) += v }
  }
}

/** Records ops (always), spans (only when tracing) and engine counters.
  *
  * Attribution: `op` adds a job tag `pb-op-<id>` on the calling thread,
  * so every job, stage, task and SQL execution the call starts carries
  * it, also with several client threads running at once. A span sets the
  * local property `perfbench.span` so jobs can be charged to the span
  * that started them.
  */
final class Recorder(spark: SparkSession, val tracing: Boolean) extends SparkListener {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val opLog = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  private val spanLog = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val spanStack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[Long](() => -1L)
  /** Set while the timed region runs; ops outside it are set-up or checks. */
  @volatile var timed = false
  private val timedOps = ConcurrentHashMap.newKeySet[Long]()

  // listener state (listener-bus thread only, read after drain())
  private val counters = mutable.Map.empty[Long, Counters]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val execOp = mutable.Map.empty[Long, Long]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storedBytes = 0L
  private var peakBytes = 0L
  private var blocksPut = 0L

  sc.addSparkListener(this)

  private def opOf(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith("pb-op-") => t.drop(6).toLong }.getOrElse(-1L)

  private def ctr(op: Long): Counters = counters.getOrElseUpdate(op, new Counters)

  /** Run one timed call into graft. Exceptions mark the op failed. */
  def op[T](kind: String, params: String)(body: => T): (Op, Option[T]) = {
    val id = nextId.incrementAndGet()
    val tag = s"pb-op-$id"
    sc.addJobTag(tag)
    currentOp.set(id)
    if (timed) timedOps.add(id)
    val t0 = System.nanoTime()
    val res = try Some(body) catch {
      case e: Exception =>
        System.err.println(s"op $kind($params) failed: $e")
        None
    } finally {
      sc.removeJobTag(tag)
      currentOp.set(-1L)
    }
    val o = Op(id, kind, params, t0, System.nanoTime(), res.isEmpty)
    opLog.add(o)
    (o, res)
  }

  /** A traced interval around one call into a graft layer. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextId.incrementAndGet()
      val stack = spanStack.get()
      val parent = stack.headOption.getOrElse(-1L)
      val prevProp = sc.getLocalProperty("perfbench.span")
      spanStack.set(id :: stack)
      sc.setLocalProperty("perfbench.span", name)
      val t0 = System.nanoTime()
      try body
      finally {
        spanLog.add(Span(id, name, t0, System.nanoTime(), parent, currentOp.get()))
        spanStack.set(stack)
        sc.setLocalProperty("perfbench.span", prevProp)
      }
    }

  def ops: Seq[Op] = opLog.asScala.toSeq.sortBy(_.startNs)
  def timedOpsSeq: Seq[Op] = ops.filter(o => timedOps.contains(o.id))
  def spans: Seq[Span] = spanLog.asScala.toSeq

  /** Wait for the listener to see every event posted so far. */
  def drain(): Unit = SqlBridge.drain(sc)

  def countersOf(ids: Iterable[Long]): Counters = synchronized {
    val c = new Counters
    ids.foreach(id => counters.get(id).foreach(c.add))
    c
  }

  def storagePeakBytes: Long = synchronized(peakBytes)
  def storageBlocksPut: Long = synchronized(blocksPut)

  private val heldAfter = new ConcurrentHashMap[Long, Long]()

  /** Note the RDD blocks the block manager still holds right after `op`. */
  def recordBlocksHeld(op: Op): Unit =
    heldAfter.put(op.id, sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum)

  def blocksHeldAfter(op: Op): Option[Long] = Option(heldAfter.get(op.id))

  // ---- SparkListener ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val op = opOf(tags)
    e.stageIds.foreach(s => stageOp(s) = op)
    val c = ctr(op)
    c.jobs += 1
    props.flatMap(p => Option(p.getProperty("perfbench.span"))).foreach(s => c.jobsBySpan(s) += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    ctr(stageOp.getOrElse(e.stageInfo.stageId, -1L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = ctr(stageOp.getOrElse(e.stageId, -1L))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = blockBytes.getOrElse(key, 0L)
      if (bytes > 0 && before == 0) blocksPut += 1
      if (bytes > 0) blockBytes(key) = bytes else blockBytes.remove(key)
      storedBytes += bytes - before
      peakBytes = math.max(peakBytes, storedBytes)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execOp(s.executionId) = opOf(s.jobTags) }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      val c = ctr(execOp.remove(end.executionId).getOrElse(-1L))
      SqlBridge.phases(end).foreach { case (k, v) => c.phaseMs(k) += v }
    }
    case _ =>
  }

  /** Peak block-store bytes seen so far; reset before the timed region. */
  def resetStoragePeak(): Unit = synchronized { peakBytes = storedBytes; blocksPut = 0 }
}
