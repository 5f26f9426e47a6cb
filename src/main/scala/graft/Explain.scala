package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit utility: print the formatted physical plan and timed
  * noop-write execution for the named `SparkEntry.queries` entries
  * (all queries when no names are given). Same session shape as
  * [[Bench]] so the plans match what the benchmark executes.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt -batch "runMain graft.Explain dedup_ngram filter_nested_ops"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = LocalSession.builder()
    // ad-hoc conf experiments: SPARK_GRAFT_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // per-pass job/stage/task census: at local scale most warm time is
    // scheduling floor, so the stage count IS the cost model — print it
    // next to the timing so plan work targets the real lever
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    // shuffle/scan BYTES per pass (r11): at a data-bound SF the
    // stage count stops being the cost model and shuffled bytes
    // become it — this is the §2 evidence the plan claims are checked
    // against (stageInfo.taskMetrics aggregates across the stage)
    val shufW = new AtomicLong
    val shufR = new AtomicLong
    val scan = new ScanBytes
    spark.listenerManager.register(scan)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    names.foreach { n =>
      val tb0 = System.nanoTime()
      var df = SparkEntry.queries(n)(spark, sfDir)
      println(f"[explain-build] $n build1 ${(System.nanoTime() - tb0) / 1e9}%.3f s")
      // second build: the bench calls fn() fresh every pass, so the
      // WARM build cost (driver jobs at construction + re-planning) is
      // part of every measured pass — surface it separately
      if (!sys.env.contains("SPARK_GRAFT_EXPLAIN_NOTIME")) {
        val tb1 = System.nanoTime()
        df = SparkEntry.queries(n)(spark, sfDir)
        println(f"[explain-build] $n build2 ${(System.nanoTime() - tb1) / 1e9}%.3f s")
      }
      println(s"==== $n ====")
      df.explain("formatted")
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN_LOGICAL")) {
        println(s"---- $n analyzed ----")
        println(df.queryExecution.analyzed.treeString)
        println(s"---- $n optimized ----")
        println(df.queryExecution.optimizedPlan.treeString)
      }
      // plan-only mode: skip the timed executions (used when capturing
      // plans while other load shares the host — timings would be noise)
      if (!sys.env.contains("SPARK_GRAFT_EXPLAIN_NOTIME")) {
        (1 to 2).foreach { i =>
          jobs.set(0); stages.set(0); tasks.set(0)
          shufW.set(0); shufR.set(0); scan.bytes.set(0)
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          // listener events land asynchronously; settle before reading
          Thread.sleep(250)
          def mb(x: Long): String = f"${x / 1048576.0}%.1f"
          println(f"[explain-timing] $n pass$i $dt%.3f s jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
            s"shufW=${mb(shufW.get)}MB shufR=${mb(shufR.get)}MB input=${mb(scan.bytes.get)}MB")
        }
        // the static plan above is AQE's INITIAL plan; the executed form
        // (isFinalPlan=true, AQEShuffleReads applied, runtime-elided
        // exchanges gone) is what actually ran — print it on demand so
        // exchange-count claims can be checked against reality
        if (sys.env.contains("SPARK_GRAFT_EXPLAIN_FINAL")) {
          // drive THIS QueryExecution (the noop write above plans its
          // own), so the adaptive plan below is the finalized one
          df.queryExecution.toRdd.foreach(_ => ())
          println(s"---- $n executed ----")
          println(df.queryExecution.executedPlan.toString)
        }
      }
    }
    spark.stop()
  }

  /** File bytes the executed plans' scan nodes read — their "size of
    * files read" metric, subqueries included — summed over finished
    * queries. The tasks' inputMetrics miss these reads (q1_agg at sf0.1
    * reported 0.0 MB against 11 MB of lineitem parquet).
    */
  private[graft] final class ScanBytes extends QueryExecutionListener {
    private object Plans extends AdaptiveSparkPlanHelper
    val bytes = new AtomicLong
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      Plans.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
        bytes.addAndGet(s.metrics.get("filesSize").fold(0L)(_.value))
      }
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
