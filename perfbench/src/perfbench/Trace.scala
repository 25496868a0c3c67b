package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `parent` is 0 for
  * spans not yet attached (listener events arrive asynchronously and are
  * attached to the op that contains them when the trace is written). */
final case class Span(id: Long, var parent: Long, var trace: Long, name: String,
                      start: Long, var end: Long)

/** In-memory span store plus the Spark listeners of a traced run.
  *
  * Spans from the benchmark's own calls are opened and closed on the
  * driver thread. Job, stage, Catalyst-phase and micro-batch spans come
  * from Spark's public listener APIs. A job is attached to the span that
  * submitted it through the `perfbench.span` local property, which the
  * submitting thread sets before every call into the program. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val streamState = mutable.Map.empty[String, Long]
  private val unattached = mutable.ArrayBuffer.empty[Span]
  /** Spans whose jobs are output checks, not workload work. */
  private val muted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val mutedStages = mutable.Set.empty[Int]
  private val drained = new java.util.concurrent.Semaphore(0)
  @volatile private var drainSpan = -1L
  private val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def add(name: String, parent: Long, trace: Long, start: Long, end: Long): Span =
    synchronized {
      val s = Span(ids.incrementAndGet(), parent, trace, name, start, end)
      spans += s
      s
    }

  /** Times `body` as a child span of `parent`; jobs it submits nest below. */
  def span[T](spark: SparkSession, name: String, parent: Span)(body: => T): T = {
    val s = add(name, parent.id, parent.trace, nowUs, 0L)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", s.id.toString)
    try body
    finally {
      s.end = nowUs
      sc.setLocalProperty("perfbench.span", outer)
    }
  }

  /** Like [[span]], but the jobs it runs are left out of every counter. */
  def unmeasured[T](spark: SparkSession, name: String, parent: Span)(body: => T): T = {
    val s = add(name, parent.id, parent.trace, nowUs, 0L)
    muted.add(s.id)
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.span", s.id.toString)
    try body
    finally {
      s.end = nowUs
      sc.setLocalProperty("perfbench.span", null)
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Waits until the listeners have seen every event posted so far: the
    * scheduler queue delivers in order, so once a marker job reaches the
    * listener, everything before it has too. Streaming progress events
    * use their own queue and get a short grace period. */
  def drain(spark: SparkSession, parent: Span): Unit = {
    unmeasured(spark, "drain", parent) {
      drainSpan = spark.sparkContext.getLocalProperty("perfbench.span").toLong
      spark.sparkContext.parallelize(Seq(1), 1).count()
    }
    drained.tryAcquire(30, java.util.concurrent.TimeUnit.SECONDS)
    Thread.sleep(300)
  }

  // -------------------------------------------------------- listeners

  val scheduler: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
      if (muted.contains(parent)) {
        mutedStages ++= e.stageIds
        if (parent == drainSpan) drained.release()
        return
      }
      counters("sched.jobs") += 1
      val s = Span(ids.incrementAndGet(), parent, 0L, "job", e.time * 1000L, 0L)
      spans += s
      jobSpan(e.jobId) = s
      e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, s.id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        if (mutedStages(info.stageId)) return
        counters("sched.stages") += 1
        for (start <- info.submissionTime; end <- info.completionTime)
          spans += Span(ids.incrementAndGet(), stageJob.getOrElse(info.stageId, 0L),
            0L, "stage", start * 1000L, end * 1000L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (mutedStages(e.stageId)) return
      counters("sched.tasks") += 1
      if (e.taskInfo.attemptNumber > 0 || e.reason != Success)
        counters("sched.task_retries") += 1
      val m = e.taskMetrics
      if (m != null) {
        counters("exec.task_s") += m.executorRunTime / 1e3
        counters("exec.cpu_s") += m.executorCpuTime / 1e9
        counters("exec.gc_s") += m.jvmGCTime / 1e3
        counters("scan.input_mb") += m.inputMetrics.bytesRead / 1e6
        counters("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
        counters("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
        counters("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        counters("spill.disk_mb") += m.diskBytesSpilled / 1e6
      }
    }
  }

  /** Records the Catalyst phases of one query execution. */
  def phases(qe: QueryExecution): Unit = synchronized {
    for ((name, p) <- qe.tracker.phases
         if Set("analysis", "optimization", "planning")(name)) {
      unattached += Span(ids.incrementAndGet(), 0L, 0L, name,
        p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
  }

  /** Records one streaming micro-batch. */
  def progress(p: StreamingQueryProgress): Unit = synchronized {
    streamState(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    unattached += Span(ids.incrementAndGet(), 0L, 0L, "micro_batch",
      start, start + p.batchDuration * 1000L)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    Tracer.current = Some(this)
  }

  def unregister(spark: SparkSession): Unit = {
    Tracer.current = None
    spark.sparkContext.removeSparkListener(scheduler)
  }
  // --------------------------------------------------------- snapshots

  /** Codegen compile count and summed compile milliseconds so far. The
    * histogram's reservoir keeps every sample up to 1028; beyond that the
    * sum is estimated from its mean. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val sumMs = if (h.getCount <= snap.size) snap.getValues.sum.toDouble
                else snap.getMean * h.getCount
    (h.getCount, sumMs)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peaks since the last reset (an upper bound
    * on the true peak, since pools peak at different moments). */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  // ----------------------------------------------------------- finish

  /** Attaches listener spans to the innermost benchmark span containing
    * their start, propagates trace ids, and derives the per-layer metrics
    * that need the span tree. Spans that fall inside an unmeasured span
    * (output checks) are dropped. `ops` are the timed op spans. */
  def finish(ops: Seq[Span], cores: Int): Map[String, Double] = synchronized {
    val own = spans.filter(s => s.name != "job" && s.name != "stage").toList
    def innermost(t: Long): Option[Span] =
      own.filter(s => s.start <= t && t <= s.end)
        .sortBy(s => s.end - s.start).headOption
    val orphans = unattached ++ spans.filter(s => s.name == "job" && s.parent == 0L)
    spans --= orphans
    orphans.foreach { s =>
      innermost(s.start) match {
        case Some(p) if !muted.contains(p.id) => s.parent = p.id; spans += s
        case _ =>
      }
    }
    unattached.clear()
    spans.foreach(s => if (s.end == 0L) s.end = nowUs)
    val byId = spans.map(s => s.id -> s).toMap
    def traceOf(s: Span, depth: Int = 0): Long =
      if (s.trace != 0L || depth > 64) s.trace
      else byId.get(s.parent).map(p => traceOf(p, depth + 1)).getOrElse(0L)
    spans.foreach(s => s.trace = traceOf(s))

    def named(name: String) = spans.filter(_.name == name)
    def total(name: String) = named(name).map(s => (s.end - s.start) / 1e6).sum
    def jobsUnder(name: String) =
      named("job").count(j => byId.get(j.parent).exists(_.name == name)).toDouble
    val jobUs = ops.map { op =>
      union(named("job").map(j => (j.start max op.start, j.end min op.end))
        .filter { case (a, b) => b > a }.toSeq)
    }.sum
    val opS = ops.map(op => (op.end - op.start) / 1e6).sum
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= counters
    Seq("analysis", "optimization", "planning").foreach(p => m(s"catalyst.${p}_s") = total(p))
    m("streaming.batches") = named("micro_batch").size.toDouble
    m("streaming.batch_s") = total("micro_batch")
    m("streaming.state_rows") = streamState.values.sum.toDouble
    m("queries.build_s") = total("build")
    m("queries.build_jobs") = jobsUnder("build")
    m("sources.ingest_s") = total("ingest")
    m("sources.sink_s") = total("sink")
    m("ml.fit_s") = total("fit")
    m("ml.eval_s") = total("eval")
    m("ml.fit_jobs") = jobsUnder("fit")
    m("sched.driver_only_s") = opS - jobUs / 1e6
    m("exec.busy_frac") =
      if (jobUs > 0) counters("exec.task_s") / (cores * jobUs / 1e6) else 0.0
    m.toMap
  }

  /** Length of the union of intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

object Tracer {
  /** The tracer of the running pass, if the pass is traced. */
  @volatile var current: Option[Tracer] = None

  /** Session confs that install the listeners below in every session of
    * the context, including the cloned sessions streaming ops run in. */
  val listenerConfs: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[CatalystListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamListener].getName)
}

/** Catalyst phase times of every query execution, from its planning tracker. */
class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.current.foreach(_.phases(qe))
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    Tracer.current.foreach(_.phases(qe))
}

/** Micro-batch progress of every streaming query. */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Tracer.current.foreach(_.progress(e.progress))
}
