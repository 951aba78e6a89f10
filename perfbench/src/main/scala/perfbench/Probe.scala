package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters read from outside the engine: Spark's public listeners
  * (jobs, stages, tasks, storage, query-planning phases, streaming
  * progress), the codegen compile histogram and the JVM's GC beans.
  *
  * Listener events arrive on the listener-bus thread; [[snapshot]] drains
  * the bus first, so a snapshot taken when a span ends includes every event
  * of the work done inside it. All counters are cumulative; a span's counts
  * are the difference of its end and start snapshots. */
final class Probe(spark: SparkSession) extends SparkListener {
  private val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val rddBytes = mutable.HashMap.empty[Int, mutable.HashMap[String, Long]]
  private var liveBytes = 0L
  /** Trigger-execution times of every streaming micro-batch, in ms. */
  val batchMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    // the result stage carries the job's call site: short form
    // "<op> at File.scala:line", long form the user frames below it
    e.stageInfos.sortBy(_.stageId).lastOption.foreach { s =>
      if (s.name.contains(" at Tables.scala:")) add("jobs_tables", 1)
      val firstEngineFrame = s.details.linesIterator.map(_.trim).find(_.startsWith("graft."))
      if (firstEngineFrame.exists(_.startsWith("graft.operators."))) add("jobs_operators", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ns", m.executorCpuTime.toDouble)
      add("task_gc_ms", m.jvmGCTime.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      if (m.inputMetrics.bytesRead > 0) add("input_tasks", 1)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("result_bytes", m.resultSize.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      // the UI's scheduler delay: task wall minus executor time and overheads
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + info.gettingResultTime
      add("sched_delay_ms", math.max(0L, info.duration - overhead).toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val u = e.blockUpdatedInfo
    u.blockId.asRDDId.foreach { id =>
      val blocks = rddBytes.getOrElseUpdate(id.rddId, mutable.HashMap.empty)
      val before = blocks.getOrElse(u.blockId.name, 0L)
      val now = if (u.storageLevel.isValid) u.memSize + u.diskSize else 0L
      if (now > 0 && before == 0) add("blocks_put", 1)
      if (now == 0 && before > 0) add("blocks_dropped", 1)
      if (now > 0) blocks(u.blockId.name) = now else blocks.remove(u.blockId.name)
      liveBytes += now - before
      if (liveBytes > c("cache_peak_bytes")) c("cache_peak_bytes") = liveBytes.toDouble
    }
  }

  // unpersist removes blocks without per-block updates
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    rddBytes.remove(e.rddId).foreach(b => liveBytes -= b.values.sum)
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    add("plan_actions", 1)
    qe.tracker.phases.foreach { case (phase, s) => add(s"plan_${phase}_ms", s.durationMs.toDouble) }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        add("stream_batches", 1)
        if (p.numInputRows == 0) add("stream_empty_batches", 1)
        Option(p.durationMs.get("triggerExecution")).foreach(v => batchMs += v.doubleValue)
        // state gauges: keep the largest any batch reported
        p.stateOperators.foreach { s =>
          c("stream_state_rows_max") = c("stream_state_rows_max").max(s.numRowsTotal.toDouble)
          c("stream_state_bytes_max") = c("stream_state_bytes_max").max(s.memoryUsedBytes.toDouble)
        }
      }
  }

  def install(): Probe = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    this
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = Bus.drain(spark.sparkContext)

  /** Cumulative counters, after every event posted so far was delivered. */
  def snapshot(): Map[String, Double] = {
    drain()
    val own = synchronized(c.toMap)
    own ++ Probe.codegen ++ Probe.gc
  }
}

object Probe {
  /** Janino compiles so far and their total time. The histogram keeps
    * every sample until it holds 1028; past that the mean stands in. */
  def codegen: Map[String, Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val ms = if (h.getCount <= snap.size) snap.getValues.sum.toDouble else h.getCount * snap.getMean
    Map("compiles" -> h.getCount.toDouble, "compile_ms" -> ms)
  }

  def gc: Map[String, Double] = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map("jvm_gc_ms" -> beans.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "jvm_gc_count" -> beans.map(_.getCollectionCount.max(0L)).sum.toDouble)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still used after full collections: what the run left behind.
    * Spark's ContextCleaner frees broadcast and shuffle state only after a
    * collection has cleared their weak references, so collect until the
    * figure settles. */
  def retainedHeapMb: Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var settled = false
    var rounds = 0
    while (!settled && rounds < 8) {
      Thread.sleep(250)
      val now = used()
      settled = math.abs(now - last) < 1.0
      last = now
      rounds += 1
    }
    last
  }
}

/** One timed region at a layer boundary. `counts` are the probe's counter
  * deltas over the region (empty when tracing is off). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startNs: Long, endNs: Long, counts: Map[String, Double])

/** Times calls into the engine's layers. With a probe it also records a
  * span per call, with the listener counts of the work inside it; spans
  * stay in memory until the run writes them out. Single-threaded. */
final class Tracer(probe: Option[Probe]) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Time spent taking snapshots, the cost tracing adds to a run. */
  var recordNs = 0L
  val enabled: Boolean = probe.isDefined

  /** Runs `body`, returning its value and its wall time in seconds. */
  def span[T](kind: String, name: String)(body: => T): (T, Double) = {
    def snap(pr: Probe) = { val t = System.nanoTime(); val s = pr.snapshot(); recordNs += System.nanoTime() - t; s }
    val p = probe
    val before = p.map(snap)
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val v = body
      val t1 = System.nanoTime()
      p.foreach { pr =>
        val after = snap(pr)
        val delta = after.map { case (k, v1) => k -> (v1 - before.get.getOrElse(k, 0.0)) }
        spans += Span(id, parent, kind, name, t0, t1, delta.filter(_._2 != 0.0))
      }
      (v, (t1 - t0) / 1e9)
    } finally stack = stack.tail
  }
}
