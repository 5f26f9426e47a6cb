package perfbench

import java.nio.file.Files

import graft.SparkEntry

/** Batch workloads: named subsets of graft's registered queries, run
  * as passes. A pass builds each query's plan (`SparkEntry.queries`)
  * and executes it. The first pass after set-up is the cold pass; it
  * writes each answer as parquet for the oracle check, which runs
  * after the JVM exits. Every later pass is warm and executes into
  * Spark's noop sink, so every output column is computed and nothing
  * is kept.
  */
object Batch {

  /** Run the set-up: everything the first timed operation would
    * otherwise build, made before it, `reps` times over. `setup_s` is
    * the time from JVM start to the first set-up (the session) plus the
    * median set-up. Before each set-up but the first, the vector and
    * minhash layouts the last one built are removed.
    */
  def timedSetup(ctx: Ctx, res: Result, reps: Int = 1)(setup: => Unit): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val lead = (System.currentTimeMillis() - jvmStart) / 1e3
    val times = (1 to reps).map { i =>
      if (i > 1) removeLayouts(ctx)
      val t0 = System.nanoTime()
      Trace.span("setup") { setup }
      (System.nanoTime() - t0) / 1e9
    }
    res.put("setup_s", lead + Main.median(times), "s")
    res.put("setup.session_s", lead, "s")
    res.put("setup.body_s", Main.median(times), "s")
  }

  private def removeLayouts(ctx: Ctx): Unit = {
    val s = Files.list(ctx.tmp)
    try s.filter(_.getFileName.toString.startsWith("graft_vindex_")).forEach(Main.rm(_))
    finally s.close()
  }

  def run(ctx: Ctx, res: Result, queries: Seq[String])(setup: => Unit): Unit = {
    val spark = ctx.spark
    val fns = queries.map(q => q -> SparkEntry.queries(q))
    val tracing = Trace.on
    // the set-up is small next to a pass, so it runs three times and
    // reports its median
    timedSetup(ctx, res, reps = 3)(setup)

    val answers = ctx.out.resolve("answers")
    val walls = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    var buildS, execS = 0.0

    /** One pass; returns its wall seconds. The cold pass keeps answers;
      * the query times of a warm pass are kept.
      */
    def pass(cold: Boolean): Double = {
      val t0 = System.nanoTime()
      Trace.span("pass") {
        fns.foreach { case (name, fn) =>
          val q0 = System.nanoTime()
          val err = try {
            Trace.span("query") {
              val df = Trace.span("build") { Probes.tagJobs(spark, "build"); fn(spark, ctx.data) }
              val b1 = System.nanoTime()
              Trace.span("exec") {
                Probes.tagJobs(spark, "exec")
                if (cold) df.write.mode("overwrite").parquet(answers.resolve(name).toString)
                else df.write.format("noop").mode("overwrite").save()
              }
              if (!cold) { buildS += (b1 - q0) / 1e9; execS += (System.nanoTime() - b1) / 1e9 }
            }
            None
          } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
          res.check(err.isEmpty, s"$name failed: ${err.getOrElse("")}")
          if (!cold) walls(name) = walls.getOrElse(name, Vector.empty) :+ (System.nanoTime() - q0) / 1e9
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    res.put("cold_pass_s", pass(cold = true), "s")
    val before = ctx.probes.snapshot()
    // In a traced run, passes alternate untraced and traced so that
    // the run reports its own tracing overhead; untraced passes on both
    // sides of the traced one cancel the JIT's speed-up from pass to pass.
    val plain, traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tw = System.nanoTime()
    var i = 0
    // at least two warm passes: at sf0.01 a run's time allows no more
    while (i < (if (tracing) 3 else 2) || (System.nanoTime() - tw) / 1e9 < ctx.seconds) {
      Trace.on = tracing && i % 2 == 1
      (if (Trace.on) traced else plain) += pass(cold = false)
      i += 1
    }
    Trace.on = tracing
    val warm = (plain ++ traced).toSeq
    val after = ctx.probes.snapshot()
    val held = ctx.probes.storage()._2

    val samples = walls.values.flatten.toSeq
    val perQuery = walls.map { case (q, ws) => q -> Main.median(ws) }
    res.put("pass_s", Main.median(warm), "s")
    res.put("op_p50_ms", Main.median(samples) * 1000, "ms")
    res.put("op_tail_ms", perQuery.values.max * 1000, "ms")
    res.put("ops_per_s", samples.size / warm.sum, "1/s")
    res.put("mem_mb", held / 1048576.0, "MB")
    res.put("space_amp", ctx.derivedBytes.toDouble / ctx.inputBytes, "ratio")

    // answers are compared with the DuckDB oracle after the JVM exits
    val oracle = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    Files.writeString(ctx.out.resolve("oracle.json"), oracle.map { case (q, s) =>
      s""""$q":"${Main.esc(s)}"""" }.mkString("{", ",", "}"))

    perQuery.foreach { case (q, w) => res.put(s"q.$q.wall_s", w, "s") }
    val n = warm.size.toDouble
    res.put("operators.build_s", buildS / n, "s")
    res.put("operators.build_jobs", (after("build_jobs") - before("build_jobs")) / n, "count")
    res.put("exec.exec_s", execS / n, "s")
    ctx.probes.report(res, before, after, n, warm.sum, ctx.cores)
    if (traced.nonEmpty && plain.nonEmpty)
      res.put("trace.overhead_ratio", Main.median(traced.toSeq) / Main.median(plain.toSeq), "ratio")
    if (tracing && queries.contains("q1_agg")) scanSelfCheck(ctx, res)
  }

  /** The scan metric must equal the bytes on disk of the files q1 reads
    * (all of lineitem: its only filter prunes no file).
    */
  private def scanSelfCheck(ctx: Ctx, res: Result): Unit = {
    val df = SparkEntry.queries("q1_agg")(ctx.spark, ctx.data)
    val onDisk = df.inputFiles.map(f => Main.du(java.nio.file.Paths.get(new java.net.URI(f)))).sum
    val b0 = ctx.probes.snapshot()("scan_bytes")
    df.write.format("noop").mode("overwrite").save()
    val read = ctx.probes.snapshot()("scan_bytes") - b0
    res.check(read == onDisk, s"q1_agg scan metric $read B != $onDisk B on disk")
    res.put("scan.q1_files_mb", read / 1048576.0, "MB")
  }
}
