package perfbench

import graft.sources.VectorIndex

/** The two workload families. The input scale of each is chosen by
  * the caller, which hands the matching data dir to the JVM.
  */
object Workloads {

  /** Order-schema queries: scans, exchanges and joins. q1 also
    * self-checks the scan metric; q9 carries the Bloom pre-filter path.
    */
  val AnalyticsQueries: Seq[String] = Seq("q1_agg", "q9_profit")

  /** Corpus queries: the banded kNN graph, and the minhash dedup over
    * the set-up's layout, which shares its verified pairs through
    * OpCache.
    */
  val CorpusQueries: Seq[String] = Seq("ann_knn_graph", "dedup_minhash_indexed")

  val byName: Map[String, (Ctx, Result) => Unit] = Map(
    // set-up builds the one layout these queries read; none of them
    // reads the bucketed facts
    "batch" -> ((c, r) => Batch.run(c, r, AnalyticsQueries ++ CorpusQueries) {
      VectorIndex.minhashIndexReady(c.spark, c.data)
    }),
    "serve_ingest" -> Ingest.run,
    // the build's class-archive recording: the batch set-up and one
    // run of each batch query, then the serving set-up (layouts and
    // tiers), so that the classes both workloads load come pre-parsed
    "warmup" -> ((c, _) => {
      VectorIndex.minhashIndexReady(c.spark, c.data)
      (AnalyticsQueries ++ CorpusQueries).foreach(q =>
        graft.SparkEntry.queries(q)(c.spark, c.data).write.format("noop").mode("overwrite").save())
      new Tiers(c, Tiers.buildLayouts(c))
    }))

  /** Per-call figures of the serving spans of a traced run, for the
    * spans the run recorded.
    */
  def spanMetrics(res: Result): Unit = {
    val t = Trace.totals(Trace.spans)
    def meanMs(metric: String, span: String): Unit =
      t.get(span).foreach { case (d, _, n) => res.put(metric, d / 1e6 / n, "ms") }
    Seq("semantic", "bm25", "text").foreach(b => meanMs(s"serve.branch.${b}_ms", s"branch.$b"))
    meanMs("serve.fuse_ms", "fuse")
    meanMs("serve.gather_ms", "gather")
    t.get("route").foreach { case (_, self, n) => res.put("router.route_us", self / 1e3 / n, "us") }
    res.put("trace.spans", t.values.map(_._3).sum.toDouble, "count")
  }
}
