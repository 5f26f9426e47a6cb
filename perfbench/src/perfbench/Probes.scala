package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from outside the program: Spark's listener bus, the
  * executed plans' SQL metrics, the log stream and the JVM's GC beans.
  * Every counter only grows; a measurement is the difference of two
  * [[snapshot]]s taken around it.
  */
final class Probes(spark: SparkSession) {
  val jobs, buildJobs, stages, tasks, busyMs, gcMs, shufWrite, shufRead, spill = new AtomicLong
  val scanBytes, scanFiles, cachedScans = new AtomicLong
  val codegenFallbacks, alreadyCached = new AtomicLong

  // nanoTime at the listener's wall-clock epoch, for stage spans
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val listener = new SparkListener {
    // stage id -> (span, request) of the job that submitted it
    private val tags = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (Option(e.properties).exists(_.getProperty(Probes.PhaseProp) == "build"))
        buildJobs.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).fold(0L)(_.toLong)
      if (Trace.on && prop(Probes.SpanProp) != 0L)
        tags.put(e.stageInfo.stageId, (prop(Probes.SpanProp), prop(Probes.ReqProp)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = e.stageInfo
      val tag = tags.remove(i.stageId)
      for ((parent, req) <- Option(tag); s <- i.submissionTime; c <- i.completionTime)
        Trace.record("stage", parent, req, nanoAtEpoch + s * 1000000L, nanoAtEpoch + c * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        busyMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec =>
          scanBytes.addAndGet(s.metrics.get("filesSize").fold(0L)(_.value))
          scanFiles.addAndGet(s.metrics.get("numFiles").fold(0L)(_.value))
        case _: InMemoryTableScanExec => cachedScans.incrementAndGet()
      }
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val appender = new Probes.LogCounter(codegenFallbacks, alreadyCached)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def snapshot(): Map[String, Long] = {
    drain()
    Map("jobs" -> jobs.get, "build_jobs" -> buildJobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "busy_ms" -> busyMs.get, "gc_ms" -> gcMs.get, "shuffle_write" -> shufWrite.get,
      "shuffle_read" -> shufRead.get, "spill" -> spill.get, "scan_bytes" -> scanBytes.get,
      "scan_files" -> scanFiles.get, "cached_scans" -> cachedScans.get,
      "codegen_fallbacks" -> codegenFallbacks.get, "already_cached" -> alreadyCached.get,
      "gc_pause_ms" -> Probes.gcPauseMs())
  }

  /** Layer metrics over a measured window between two snapshots,
    * per unit of work (`n` passes or batches) where a total would grow
    * with the window's length.
    */
  def report(res: Result, before: Map[String, Long], after: Map[String, Long],
             n: Double, wallS: Double, cores: Int): Unit = {
    val d = (k: String) => (after(k) - before(k)).toDouble
    val (rdds, held) = storage()
    res.put("exec.jobs", d("jobs") / n, "count")
    res.put("exec.stages", d("stages") / n, "count")
    res.put("exec.tasks", d("tasks") / n, "count")
    res.put("exec.task_busy_s", d("busy_ms") / 1000 / n, "s")
    res.put("exec.core_idle_ratio", 1.0 - d("busy_ms") / 1000 / (wallS * cores), "ratio")
    res.put("exec.gc_s", d("gc_ms") / 1000 / n, "s")
    res.put("exec.codegen_fallbacks", after("codegen_fallbacks").toDouble, "count")
    res.put("exec.shuffle_write_mb", d("shuffle_write") / 1048576 / n, "MB")
    res.put("exec.shuffle_read_mb", d("shuffle_read") / 1048576 / n, "MB")
    res.put("exec.spill_mb", d("spill") / 1048576 / n, "MB")
    res.put("scan.files_mb", d("scan_bytes") / 1048576 / n, "MB")
    res.put("scan.files", d("scan_files") / n, "count")
    res.put("scan.cached_scans", d("cached_scans") / n, "count")
    res.put("opcache.cached_mb", held / 1048576.0, "MB")
    res.put("opcache.rdds", rdds.toDouble, "count")
    res.put("opcache.already_cached_warnings", after("already_cached").toDouble, "count")
    res.put("jvm.gc_pause_ms", d("gc_pause_ms") / n, "ms")
  }

  /** Spark storage held: (rdd count, memory + disk bytes). */
  def storage(): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
  }
}

object Probes {
  val SpanProp = "perfbench.span"
  val ReqProp = "perfbench.req"
  val PhaseProp = "perfbench.phase"

  /** Tag the Spark jobs this thread submits with a phase and the open
    * span, so the listener can count build-time jobs and hang stages
    * under their span.
    */
  def tagJobs(spark: SparkSession, phase: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(PhaseProp, phase)
    sc.setLocalProperty(SpanProp, Trace.current.toString)
    sc.setLocalProperty(ReqProp, Trace.currentReq.toString)
  }

  def gcPauseMs(): Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Counts the two log lines that mark silent degradation: a janino
    * compile failure (the stage then runs interpreted) and a re-persist
    * of an already cached plan.
    */
  final class LogCounter(codegen: AtomicLong, cached: AtomicLong)
      extends org.apache.logging.log4j.core.appender.AbstractAppender(
        "perfbench-counter", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m != null) {
        if (m.toLowerCase(java.util.Locale.ROOT).contains("failed to compile"))
          codegen.incrementAndGet()
        if (m.contains("Asked to cache already cached data")) cached.incrementAndGet()
      }
    }
  }
}
