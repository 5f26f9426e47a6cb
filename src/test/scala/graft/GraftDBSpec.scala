package graft

import graft.operators.{Bm25, DocOps, HybridSearch, VectorSearch}
import org.apache.spark.sql.functions.col

/** The facade must be a pure delegation layer: every method's plan
  * yields exactly the underlying operator's result, so a reference
  * user can drive the whole surface through one handle.
  */
class GraftDBSpec extends GraftSuite {

  private lazy val db = GraftDB(spark, sf)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("document surface delegates: get, list, scroll, stats") {
    assert(rows(db.getDocument(42)) == rows(DocOps.get(spark, sf, 42)))
    assert(rows(db.listDocuments(10, 5)) == rows(DocOps.list(spark, sf, 10, 5)))
    assert(rows(db.scrollDocuments(99, 20)) == rows(DocOps.scroll(spark, sf, 99, 20)))
    assert(rows(db.getStats) == rows(DocOps.stats(spark, sf)))
  }

  test("deleteDocuments removes exactly the given ids") {
    val total = Tables.documents(spark, sf).count()
    val out = db.deleteDocuments(Seq(1L, 2L, 3L))
    assert(out.count() == total - 3)
    assert(out.filter(org.apache.spark.sql.functions.col("doc_id").isin(1L, 2L, 3L)).isEmpty)
  }

  test("search surface delegates: text, bm25, semantic, hybrid, snippets, ann") {
    assert(rows(db.textSearch("spark vector", 10)) ==
      rows(Bm25.textSearch(spark, sf, "spark vector", 10)))
    assert(rows(db.bm25Search("spark vector join", 10)) ==
      rows(Bm25.search(spark, sf, "spark vector join", 10)))
    assert(rows(db.semanticSearch(0, 10)) ==
      rows(VectorSearch.semanticTopK(spark, sf, 0, 10)))
    assert(rows(db.bm25SearchBatch(Bm25.BatchQueries.take(2), 5)) ==
      rows(Bm25.searchBatch(spark, sf, Bm25.BatchQueries.take(2), 5)))
    assert(rows(db.hybridSearchBatch(Bm25.BatchQueries.take(2), 5)) ==
      rows(HybridSearch.rrfBatch(spark, sf, Bm25.BatchQueries.take(2), 5)))
    assert(rows(db.semanticSearchThreshold(0, 0.2, 10)) ==
      rows(VectorSearch.semanticTopKThreshold(spark, sf, 0, 0.2, 10)))
    assert(rows(db.moreLikeThis(7L, 5)) == rows(Bm25.docSimilar(spark, sf, 7L, 5)))
    assert(rows(db.hybridSearch(Bm25.DefaultQuery, 0, "normalized")) ==
      rows(HybridSearch.normalized(spark, sf)))
    assert(rows(db.searchDocuments(HybridSearch.SnippetQuery)) ==
      rows(HybridSearch.searchSnippets(spark, sf)))
    intercept[IllegalArgumentException](db.hybridSearch("q", 0, "bogus"))
    assert(rows(db.annSearchLsh()) == rows(VectorSearch.annLsh(spark, sf)))
    // non-default parameters must actually thread through to the probe
    assert(rows(db.annSearchLsh(nQueries = 4, k = 3)) ==
      rows(VectorSearch.annLsh(spark, sf, nQueries = 4, k = 3)))
    assert(rows(db.annSearchIvf(qid = 5, k = 7)) ==
      rows(VectorSearch.annIvf(spark, sf, qid = 5, k = 7)))
    assert(rows(db.annSearchPq(qid = 3, k = 9)) ==
      rows(VectorSearch.annPq(spark, sf, qid = 3, k = 9)))
  }

  test("metadata surface: exists, get, search-by, update") {
    import org.apache.spark.sql.functions._
    assert(db.documentExists(42) && !db.documentExists(-7))
    val meta = db.getDocumentMetadata(42).collect()
    assert(meta.length == 1 && meta.head.schema.fieldNames.toSeq ==
      Seq("doc_id", "lang", "source", "n_chars"))
    // search_by_metadata = equality-AND + limit, pushed to the scan
    val firstLangSource = Tables.documents(spark, sf)
      .select("lang", "source").first()
    val (l, s) = (firstLangSource.getString(0), firstLangSource.getString(1))
    val hits = db.searchByMetadata(Map("lang" -> l, "source" -> s), 10).collect()
    assert(hits.nonEmpty && hits.length <= 10)
    assert(hits.forall(r => r.getAs[String]("lang") == l && r.getAs[String]("source") == s))
    val plan = db.searchByMetadata(Map("lang" -> l), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(lang,"))
    // metadata-only update: target rows get new metadata, content and
    // other rows pass through untouched
    val store = Tables.documents(spark, sf)
    val updates = spark.createDataFrame(Seq((42L, "xx", "patched")))
      .toDF("doc_id", "lang", "source")
    val updated = db.updateDocumentMetadata(store, updates)
    assert(updated.count() == store.count())
    val r42 = updated.filter(col("doc_id") === 42L).collect().head
    assert(r42.getAs[String]("lang") == "xx" && r42.getAs[String]("source") == "patched")
    assert(r42.getAs[String]("text") ==
      store.filter(col("doc_id") === 42L).collect().head.getAs[String]("text"))
    val untouched = updated.filter(col("doc_id") =!= 42L)
      .orderBy("doc_id").collect().map(_.toSeq)
    val orig = store.filter(col("doc_id") =!= 42L)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(untouched.sameElements(orig))
    // the reference accepts an empty filter map: everything, up to
    // limit — the AND{} = true identity end-to-end (the regression a
    // prior review caught: an empty conjunction must never plan an
    // empty reduce or a false literal)
    assert(db.searchByMetadata(Map.empty, 10).count() == 10)
    // the same identity through EVERY facade path that compiles a
    // FilterExpr: delete-by-empty-AND means "delete everything" (the
    // complement relation is empty), and OR{} = false means
    // delete-by-empty-OR deletes NOTHING
    import operators.Filtering.{AndF, OrF}
    assert(db.deleteByFilter(AndF(Seq.empty)).count() == 0)
    assert(db.deleteByFilter(OrF(Seq.empty)).count() ==
      Tables.documents(spark, sf).count())
    // a duplicated doc_id in the update batch must not fan out store
    // rows; the survivor is deterministic (meta-value order)
    val dup = spark.createDataFrame(Seq(
      (42L, "aa", "first"), (42L, "zz", "last"))).toDF("doc_id", "lang", "source")
    val dedupUpdated = db.updateDocumentMetadata(store, dup)
    assert(dedupUpdated.count() == store.count())
    assert(dedupUpdated.filter(col("doc_id") === 42L).collect()
      .head.getAs[String]("lang") == "zz")
  }

  test("deleteByFilter removes exactly the matching documents, pushed to the scan") {
    import graft.operators.Filtering._
    val store = Tables.documents(spark, sf)
    val total = store.count()
    val enDocs = store.filter(col("lang") === "en").count()
    assert(enDocs > 0 && enDocs < total)
    val out = db.deleteByFilter(Cmp("lang", Eq, "en"))
    assert(out.count() == total - enDocs)
    assert(out.filter(col("lang") === "en").isEmpty)
    // the complement predicate must reach the parquet scan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
    // compound filters compile through the same ADT arm as search
    val both = db.deleteByFilter(AndF(Seq(
      Cmp("lang", Eq, "en"), Cmp("n_chars", Gt, 500))))
    val matching = store.filter(col("lang") === "en" && col("n_chars") > 500).count()
    assert(both.count() == total - matching)
  }

  test("healthCheck reports per-check detail and a rolled-up verdict") {
    val h = db.healthCheck()
    assert(h.isHealthy && h.lastError.isEmpty)
    assert(h.checks.keySet == Set("storage", "embeddings", "session", "index"))
    assert(h.checks("storage").ok && h.checks("storage").detail.contains(sf))
    assert(h.checks("session").ok && h.checks("session").detail.contains("local"))
    assert(db.uptimeMillis >= 0)
    // a handle over a missing directory is unhealthy with a named error
    val bad = GraftDB(spark, "/nonexistent/graft-health-probe")
    val hb = bad.healthCheck()
    assert(!hb.isHealthy)
    assert(hb.lastError.exists(_.contains("documents.parquet")))
    assert(!hb.checks("storage").ok && !hb.checks("embeddings").ok)
  }

  test("healthCheck names each built layout's appended generations without a Spark job") {
    graft.sources.VectorIndex.lshIndexReady(spark, sf) // build-if-missing
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val detail = try {
      val d = db.healthCheck().checks("index").detail
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc)
      d
    } finally sc.removeSparkListener(listener)
    assert(detail.contains("lsh (0 appended generations)"), detail)
    assert(jobs.get() == 0, s"${jobs.get()} Spark jobs for a health check")
  }

  test("annSearchIvfFiltered delegates to the label-gated indexed search") {
    assert(rows(db.annSearchIvfFiltered(0, Seq(1, 3, 5), 10)) ==
      rows(graft.sources.VectorIndex.annIvfFilteredIndexed(spark, sf, 0, Seq(1, 3, 5), k = 10)))
  }

  test("dedupIncremental delegates to the layout-probed admit/reject decision") {
    assert(rows(db.dedupIncremental()) ==
      rows(graft.operators.Dedup.minhashIncrementalIndexed(spark, sf)))
  }

  test("dsirWeights delegates to the batch selection report; pointServeDsir scores identically") {
    val batch = rows(db.dsirWeights())
    assert(batch == rows(graft.operators.Curation.dsirWeights(spark, sf)))
    val scorer = db.pointServeDsir()
    val byId = batch.map(r => r.head.asInstanceOf[Long] ->
      ((r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))).toMap
    Tables.documents(spark, sf).select(col("doc_id"), col("text")).collect()
      .foreach(r => assert(scorer.score(r.getString(1)) == byId(r.getLong(0))))
  }

  test("dsirSelect/tokenBudget/vocabInduce delegate to their batch operators") {
    assert(rows(db.dsirSelect()) ==
      rows(graft.operators.Curation.dsirSelect(spark, sf)))
    assert(rows(db.tokenBudget()) ==
      rows(graft.operators.Curation.tokenBudget(spark, sf)))
    assert(rows(db.vocabInduce()) ==
      rows(graft.operators.TextAnalysis.vocabInduce(spark, sf)))
    assert(rows(db.dedupSweep()) ==
      rows(graft.operators.Dedup.sweep(spark, sf)))
    assert(rows(db.bpeTrain()) ==
      rows(graft.operators.TextAnalysis.bpeTrain(spark, sf)))
    // batched trainer delegate: exact serial replay at its M=1 default
    assert(rows(db.bpeTrainBatched()) == rows(db.bpeTrain()))
    assert(rows(db.bpeTokenCount()) ==
      rows(graft.operators.TextAnalysis.bpeTokenCount(spark, sf)))
    assert(rows(db.bpeEncode()) ==
      rows(graft.operators.TextAnalysis.bpeEncode(spark, sf)))
    assert(rows(db.bpeVocab()) ==
      rows(graft.operators.TextAnalysis.bpeVocab(spark, sf)))
    // the handle's point counter serves the same figures
    val counter = db.pointServeBpe()
    val byId = rows(db.bpeTokenCount()).map(r =>
      r.head.asInstanceOf[Long] ->
        ((r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))).toMap
    Tables.documents(spark, sf).select(col("doc_id"), col("text")).collect()
      .foreach(r => assert(counter.count(r.getString(1)) ==
        byId.getOrElse(r.getLong(0), (0L, 0L))))
  }

  test("pointServeDedup serves the admit gate from the handle") {
    val gate = db.pointServeDedup()
    val resident = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.length(col("text")) > 50)
      .orderBy(col("doc_id")).select(col("text")).head.getString(0)
    assert(!gate.admit(resident), "resident duplicate admitted")
    assert(gate.admit("facade novel zebra quantum lattice prose seven"))
  }

  test("cachedQuery serves semantically equal plans from the handle cache") {
    val fresh = GraftDB(spark, sf)
    assert(fresh.getCacheStats == ((0L, 0L)))
    val a = fresh.cachedQuery(fresh.bm25Search("spark vector", 5))
    val b = fresh.cachedQuery(fresh.bm25Search("spark vector", 5))
    assert(fresh.getCacheStats == ((1L, 1L)), "second identical plan is a hit")
    assert(a.collect().toSeq == b.collect().toSeq)
    fresh.clearCache()
    assert(fresh.queryCache.size == 0, "clear drops entries (stats are lifetime counters)")
  }

  test("exportPrometheus renders gauges from one metrics aggregate") {
    import spark.implicits._
    val metrics = Seq(
      ("q1", "spark", 1L, 5.0, 10L, 1L, Some(4.0), "rrf"),
      ("q2", "vector", 2L, 50.0, 10L, 0L, None, "rrf"),
      ("q3", "join", 3L, 100.0, 10L, 2L, Some(5.0), "linear"))
      .toDF("query_id", "query_text", "ts", "duration_ms",
        "result_count", "n_clicked", "satisfaction", "fusion_strategy")
    val text = db.exportPrometheus(metrics)
    assert(text.contains("# TYPE graft_total_queries gauge"))
    assert(text.contains("graft_total_queries 3"))
    assert(text.contains("graft_cache_hit_rate 0.333"))
    assert(text.contains("graft_p99_query_time_ms"))
    // per-strategy stats surface delegates to the operator
    assert(db.getPerformanceMetrics(metrics).collect().map(_.getAs[String]("fusion_strategy"))
      .toSeq == Seq("linear", "rrf"))
    // zero recorded queries: latency gauges are ABSENT, not 0.0 — a
    // measured-zero would poison dashboard baselines
    val empty = db.exportPrometheus(metrics.limit(0))
    assert(empty.contains("graft_total_queries 0"))
    assert(!empty.contains("avg_query_time_ms") && !empty.contains("cache_hit_rate"))
  }

  test("deleteByFilter leaves NULL-field documents alone (no match, no delete)") {
    import graft.operators.Filtering._
    import spark.implicits._
    val store = Seq((1L, "en"), (2L, null.asInstanceOf[String]), (3L, "de"))
      .toDF("doc_id", "lang")
    // same complement compilation the facade applies, on a frame with NULLs
    val survivors = store
      .filter(!org.apache.spark.sql.functions.coalesce(
        compile(Cmp("lang", Eq, "en")),
        org.apache.spark.sql.functions.lit(false)))
      .collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(2L, 3L),
      "NULL lang is 'no match' — the row must survive the delete")
  }

  test("config: validation rejects bad knobs at handle construction") {
    val bad = GraftConfig(
      vectorDimension = 0,
      hybridSearch = GraftConfig.HybridSearchConfig(fusionStrategy = "bogus",
        bm25 = GraftConfig.Bm25Config(k1 = -1.0, b = 2.0)),
      query = GraftConfig.QueryConfig(defaultLimit = 50, maxLimit = 10),
      chunk = GraftConfig.ChunkConfig(size = 8, overlap = 8))
    val errs = bad.validate
    assert(errs.exists(_.contains("vectorDimension")))
    assert(errs.exists(_.contains("k1")))
    assert(errs.exists(_.contains("bm25.b")))
    assert(errs.exists(_.contains("fusionStrategy")))
    assert(errs.exists(_.contains("maxLimit")))
    assert(errs.exists(_.contains("chunk.overlap")))
    intercept[IllegalArgumentException](new GraftDB(spark, sf, bad))
    assert(GraftConfig().validate.isEmpty, "defaults must be valid")
    assert(db.getConfig == GraftConfig(), "get_config returns the handle's config")
  }

  test("config: fusion weights and limits thread through the facade") {
    // default-configured handle is bit-identical to the bare operator
    assert(rows(db.hybridSearch(Bm25.DefaultQuery, 0, "linear")) ==
      rows(HybridSearch.linear(spark, sf)))
    // a custom-weighted handle reproduces explicitly-weighted fusion
    val cfg = GraftConfig(hybridSearch = GraftConfig.HybridSearchConfig(
      fusionStrategy = "linear",
      weights = GraftConfig.HybridWeights(dense = 0.7, sparse = 0.2, text = 0.1)))
    val db2 = GraftDB(spark, sf, cfg)
    assert(rows(db2.hybridSearch(Bm25.DefaultQuery)) ==
      rows(HybridSearch.linear(spark, sf, 0, Bm25.DefaultQuery, 20, 0.7, 0.2, 0.1)),
      "config weights + default strategy must reach the fusion arithmetic")
    assert(rows(db2.hybridSearch(Bm25.DefaultQuery)) !=
      rows(HybridSearch.linear(spark, sf)),
      "0.7/0.2/0.1 must rank differently from the 0.5/0.3/0.2 defaults")
    // QueryConfig.max_limit caps the result height on EVERY search entry
    val capped = GraftDB(spark, sf,
      GraftConfig(query = GraftConfig.QueryConfig(defaultLimit = 5, maxLimit = 8)))
    assert(capped.hybridSearch(Bm25.DefaultQuery, 0, "rrf", limit = 50).count() == 8)
    assert(capped.hybridSearch(Bm25.DefaultQuery).count() == 5,
      "defaultLimit drives the no-argument call")
    assert(capped.bm25Search(Bm25.DefaultQuery, k = 50).count() == 8)
    assert(capped.textSearch(Bm25.DefaultQuery, k = 50).count() == 8)
    assert(capped.semanticSearch(0, k = 50).count() == 8)
    assert(capped.sparseSearch(Bm25.SparseQuery, k = 50).count() == 8)
    assert(capped.annSearchIvf(0, k = 50).count() == 8)
    assert(capped.annSearchPq(0, k = 50).count() == 8)
    assert(capped.annSearchIvfFiltered(0, k = 50).count() <= 8)
    // Bm25Config parameters reach the scoring arithmetic
    val tuned = GraftDB(spark, sf, GraftConfig(hybridSearch =
      GraftConfig.HybridSearchConfig(bm25 = GraftConfig.Bm25Config(k1 = 0.4, b = 0.1))))
    assert(rows(tuned.bm25Search(Bm25.DefaultQuery, 10)) ==
      rows(Bm25.search(spark, sf, Bm25.DefaultQuery, 10, 0.4, 0.1)))
    assert(rows(tuned.bm25Search(Bm25.DefaultQuery, 10)) !=
      rows(Bm25.search(spark, sf, Bm25.DefaultQuery, 10)),
      "k1=0.4/b=0.1 must score differently from 1.2/0.75")
    // maxCandidates narrows every fusion branch
    val narrow = GraftDB(spark, sf, GraftConfig(hybridSearch =
      GraftConfig.HybridSearchConfig(maxCandidates = 3)))
    assert(rows(narrow.hybridSearch(Bm25.DefaultQuery, 0, "rrf")) ==
      rows(HybridSearch.rrf(spark, sf, 0, Bm25.DefaultQuery, 20, maxCandidates = 3)))
  }

  test("embedding cache: memoized query embedding matches the distributed kernel") {
    val db3 = GraftDB(spark, sf)
    val text = Tables.documents(spark, sf)
      .filter(col("doc_id") === 7L).head.getAs[String]("text")
    val v1 = db3.embedQuery(text)
    assert(db3.getEmbeddingCacheStats == ((0L, 1L)), "first call is a miss")
    val v2 = db3.embedQuery(text)
    assert(db3.getEmbeddingCacheStats == ((1L, 1L)), "second call hits")
    assert(v1 sameElements v2)
    // the cached vector IS the corpus-map kernel's output for that doc
    val dist = graft.operators.Embeddings
      .embed(col("text"), db3.getConfig.vectorDimension)
    val fromScan = Tables.documents(spark, sf).filter(col("doc_id") === 7L)
      .select(dist.as("e")).head.getSeq[Double](0).toArray
    assert(v1 sameElements fromScan,
      "serving-side and distributed embeddings must be the same kernel")
    db3.embeddingCache.clear()
    assert(db3.embeddingCache.size == 0)
  }

  test("chunkDocuments follows the configured geometry") {
    // default config = the oracle-checked textChunk constants
    assert(rows(db.chunkDocuments()) ==
      rows(graft.operators.TextAnalysis.textChunk(spark, sf)))
    // a custom geometry changes the chunk stream accordingly
    val cfg = GraftConfig(chunk = GraftConfig.ChunkConfig(size = 32, overlap = 0))
    val out = GraftDB(spark, sf, cfg).chunkDocuments().collect()
    assert(out.forall(_.getAs[Long]("n_chunk_toks") <= 32L))
    assert(out.filter(_.getAs[Long]("chunk_ix") > 0L)
      .forall(r => r.getAs[Long]("start_tok") % 32L == 1L),
      "zero overlap means starts advance by exactly the chunk size")
  }

  test("close runs shutdown hooks LIFO once and releases the caches") {
    val db4 = GraftDB(spark, sf)
    val order = scala.collection.mutable.Buffer.empty[String]
    db4.addShutdownHook(() => order += "first-registered")
    db4.addShutdownHook(() => order += "second-registered")
    db4.embedQuery("warm the cache")
    db4.cachedQuery(db4.getStats)
    assert(db4.embeddingCache.size == 1 && db4.queryCache.size == 1)
    db4.close()
    assert(order.toSeq == Seq("second-registered", "first-registered"),
      "hooks must run LIFO")
    assert(db4.isClosed)
    assert(db4.embeddingCache.size == 0 && db4.queryCache.size == 0)
    db4.close() // idempotent: hooks must not re-run
    assert(order.size == 2)
    assert(!spark.sparkContext.isStopped,
      "close() must not stop a shared session unless asked")
    // a closed handle refuses to repopulate the released caches or
    // buffer hooks that would never run
    intercept[IllegalStateException](db4.cachedQuery(db4.getStats))
    intercept[IllegalStateException](db4.embedQuery("late"))
    intercept[IllegalStateException](db4.addShutdownHook(() => ()))
    assert(db4.queryCache.size == 0 && db4.embeddingCache.size == 0)
  }

  test("semanticSearchText embeds the query and ranks by exact cosine") {
    val db7 = GraftDB(spark, sf, GraftConfig(vectorDimension = 64))
    val out = db7.semanticSearchText("spark table scan", k = 10).collect()
    assert(out.length == 10)
    // driver-side ground truth: same kernel embedding, exact cosine rank
    val qv = db7.embedQuery("spark table scan")
    val all = Tables.embeddings(spark, sf).collect().map { r =>
      val v = r.getSeq[Float](1).toArray.map(_.toDouble)
      val dot = v.zip(qv).map { case (a, b) => a * b }.sum
      val n = math.sqrt(v.map(x => x * x).sum) * math.sqrt(qv.map(x => x * x).sum)
      (r.getLong(0), math.floor(dot / n * 10000L + 0.5).toLong)
    }
    val expect = all.sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    assert(out.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("score"))).toSeq == expect)
    db7.close()
    // a config dimension that mismatches the corpus must FAIL, not
    // silently score over a truncated prefix
    val wrong = GraftDB(spark, sf) // default vectorDimension = 8, corpus is 64
    intercept[IllegalArgumentException](wrong.semanticSearchText("spark", 5))
    wrong.close()
  }

  test("withConfig swaps the regime: new limits live, old handle untouched") {
    val db6 = GraftDB(spark, sf)
    val tight = db6.withConfig(
      GraftConfig(query = GraftConfig.QueryConfig(defaultLimit = 3, maxLimit = 4)))
    assert(tight.bm25Search(Bm25.DefaultQuery, k = 50).count() == 4)
    assert(tight.hybridSearch(Bm25.DefaultQuery).count() == 3,
      "defaultLimit drives the no-argument hybrid call")
    // the originating handle keeps its own config and stays open
    assert(db6.bm25Search(Bm25.DefaultQuery, k = 50).count() > 4)
    assert(!db6.isClosed && !tight.isClosed)
    db6.close()
    intercept[IllegalStateException](db6.withConfig(GraftConfig()))
    assert(tight.hybridSearch(Bm25.DefaultQuery).count() == 3,
      "derived handle must survive the parent's close")
    tight.close()
  }

  test("warmup preloads the store into the block cache; close releases it") {
    import org.apache.spark.storage.StorageLevel
    val db5 = GraftDB(spark, sf)
    val docs = Tables.documents(spark, sf)
    val n = db5.warmup()
    assert(n == docs.count() + Tables.embeddings(spark, sf).count(),
      "total preloaded rows = store + embeddings")
    // the relations are actually resident (plan-canonical lookup: a
    // fresh read of the same path resolves to the cached blocks)
    assert(Tables.documents(spark, sf).storageLevel != StorageLevel.NONE,
      "documents scan not in the block cache")
    assert(db5.warmup() == 0L, "second warmup must be a no-op")
    // the cache is session-scoped: a sibling handle sees it warm too
    val sibling = GraftDB(spark, sf)
    assert(sibling.warmup() == 0L, "sibling must probe the live cache, not its own books")
    db5.close()
    assert(Tables.documents(spark, sf).storageLevel == StorageLevel.NONE,
      "close must release the warmed blocks")
    intercept[IllegalStateException](db5.warmup())
    // a surviving handle can RE-warm after the releaser closed
    assert(sibling.warmup() == n, "surviving handle must re-warm cold blocks")
    sibling.close()
    assert(Tables.documents(spark, sf).storageLevel == StorageLevel.NONE)
  }

  test("embedding cache: LRU bound and TTL expiry") {
    var now = 0L
    val c = new EmbeddingCache(maxEntries = 2, ttlMs = 100, clock = () => now)
    def emb(s: String) = c.getOrCompute(s)(t => Array(t.length.toDouble))
    emb("a"); emb("b"); emb("c") // a evicted by LRU bound
    assert(c.size == 2)
    emb("b")
    assert(c.stats == ((1L, 3L)), "b still resident after a's eviction")
    now = 200L // b expired
    emb("b")
    assert(c.stats == ((1L, 4L)), "expired entry recomputes")
  }
}
