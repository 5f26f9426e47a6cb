package graft

import graft.operators._
import graft.sources.{Ingest, VectorIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade mirroring the reference's `VectorDatabase`
  * surface (grape-vector-db src/lib.rs:249 VectorDatabase,
  * src/embedded.rs embedded mode): one handle over a corpus directory
  * exposing the method names a reference user calls, each delegating
  * to the corresponding Spark-first operator. The handle owns no
  * state beyond the session and paths — every method returns a lazy
  * DataFrame plan, so composing facade calls composes Catalyst plans,
  * and "embedded mode" is simply a `local[*]` session.
  *
  * Method ↔ reference mapping (all lib.rs unless noted):
  *  - getDocument/listDocuments/scrollDocuments — :359/:413
  *  - deleteDocuments — :381 delete_document (batch tombstoning)
  *  - textSearch — :393; bm25Search — sparse.rs search_bm25
  *  - semanticSearch — :403; searchDocuments — :460 (filter + hybrid
  *    fusion + snippets)
  *  - hybridSearch — :584 hybrid_search_enhanced (strategy-keyed)
  *  - getStats — :446 get_stats
  *  - ingest — :317 batch_add_documents (content-hash dedup store)
  *  - rebuildAnnIndex/annSearch* — query.rs:257 rebuild_index +
  *    :282/:338 save/load_index via the partitioned layouts
  */
final class GraftDB(val spark: SparkSession, val dir: String,
                    val config: GraftConfig = GraftConfig()) {

  // a bad knob fails the handle constructor, not the first query a
  // thousand tasks in (config.rs load-time validation)
  require(config.validate.isEmpty,
    s"invalid GraftConfig: ${config.validate.mkString("; ")}")

  private val startedAtMs = System.currentTimeMillis()

  /** The handle's configuration (lib.rs:555 get_config). */
  def getConfig: GraftConfig = config

  /** Runtime reconfiguration (query_engine.rs:228 update_config), the
    * immutable-handle form: a NEW handle over the same store and
    * session with the new validated config (fresh caches sized by it —
    * cache entries keyed under the old limits must not leak into the
    * new regime). The old handle stays usable until closed; sharing
    * the session means the swap costs nothing but the empty caches.
    */
  def withConfig(newConfig: GraftConfig): GraftDB = {
    ensureOpen()
    GraftDB(spark, dir, newConfig)
  }

  def getDocument(id: Long): DataFrame = DocOps.get(spark, dir, id)

  def listDocuments(limit: Int = 50, offset: Int = 0): DataFrame =
    DocOps.list(spark, dir, limit, offset)

  def scrollDocuments(cursor: Long = -1L, pageSize: Int = 50): DataFrame =
    DocOps.scroll(spark, dir, cursor, pageSize)

  /** Surviving store after deleting `ids` (lib.rs:381
    * delete_document, batched).
    */
  def deleteDocuments(ids: Seq[Long]): DataFrame = DocOps.deleteIds(spark, dir, ids)

  /** Surviving store after deleting every document matching `filter`
    * (embedded.rs:327 delete_blocking(Filter) — delete by predicate,
    * not by id list). The filter compiles through the same ADT as the
    * search path, so the delete predicate is pushed to the scan; the
    * result is the lazy complement relation, composable with
    * [[ingest]]'s partitioned rewrite.
    */
  def deleteByFilter(filter: Filtering.FilterExpr): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // three-valued logic: a NULL predicate (e.g. the filtered field is
    // NULL on some row) means "no match" — NOT(NULL) is NULL and would
    // silently delete the row, so the complement coalesces to false
    Tables.documents(spark, dir)
      .filter(!coalesce(Filtering.compile(filter), lit(false)))
  }

  def getStats: DataFrame = DocOps.stats(spark, dir)

  def uptimeMillis: Long = System.currentTimeMillis() - startedAtMs

  /** Health snapshot (embedded.rs:100 HealthStatus / :356 health_check,
    * lib.rs:655 get_health_status): named checks with per-check detail
    * plus the rolled-up verdict. Checks are file-level probes — no
    * table scan, so the call is safe on a 100 TB store. The index
    * detail names each built layout with its appended-generation
    * count, read from the layout's `gen=` directory listing (no Spark
    * job). The optional index-debt probe
    * ([[graft.sources.VectorIndex.shouldRebuild]]) adds one row count
    * per layout with appended generations — a maintenance-scheduler
    * cost, reported as detail (debt is a rebuild hint, not an outage).
    */
  def healthCheck(checkIndexDebt: Boolean = false): GraftDB.HealthStatus = {
    def present(name: String) = new java.io.File(dir, name).exists()
    val storage = GraftDB.CheckResult(present("documents.parquet"),
      if (present("documents.parquet")) s"store at $dir" else s"missing $dir/documents.parquet")
    val vectors = GraftDB.CheckResult(present("embeddings.parquet"),
      if (present("embeddings.parquet")) "embeddings present" else s"missing $dir/embeddings.parquet")
    val session = GraftDB.CheckResult(!spark.sparkContext.isStopped,
      if (spark.sparkContext.isStopped) "SparkContext stopped" else s"master=${spark.sparkContext.master}")
    val index = {
      val kinds = VectorIndex.kinds.filter(k => VectorIndex.exists(VectorIndex.indexPath(dir, k)))
      val debt =
        if (!checkIndexDebt || kinds.isEmpty) Nil
        else kinds.filter(k => VectorIndex.shouldRebuild(spark, VectorIndex.indexPath(dir, k),
          config.index.rebuildAppendedFraction, config.index.rebuildMaxGenerations))
      GraftDB.CheckResult(ok = true,
        if (kinds.isEmpty) "no persisted layouts (built on first use)"
        else "layouts: " + kinds.map { k =>
          val gens = VectorIndex.generations(spark, VectorIndex.indexPath(dir, k)).count(_ > 0L)
          s"$k ($gens appended generations)"
        }.mkString(", ") +
          (if (debt.nonEmpty) s"; rebuild recommended: ${debt.mkString(",")}" else ""))
    }
    val checks = Map("storage" -> storage, "embeddings" -> vectors,
      "session" -> session, "index" -> index)
    val failing = checks.collect { case (n, c) if !c.ok => s"$n: ${c.detail}" }
    GraftDB.HealthStatus(failing.isEmpty,
      failing.headOption, checks)
  }

  /** Per-strategy fusion performance stats over a recorded
    * query-metrics table (lib.rs:543 get_performance_metrics).
    */
  def getPerformanceMetrics(metrics: DataFrame): DataFrame =
    HybridSearch.fusionPerformanceStats(metrics)

  /** Handle-scoped query-result cache (query_engine.rs:79
    * execute_query cache path): route any facade query through
    * [[cachedQuery]] and a semantically equal plan within TTL serves
    * the already-persisted distributed result.
    */
  val queryCache = new QueryCache(config.cache.queryCacheSize, config.cache.ttlMs)

  /** Driver-side query-embedding memoization (performance/
    * cache_manager.rs:73 embedding cache): repeated query texts skip
    * the kernel. Sized/TTL'd by [[GraftConfig.CacheConfig]].
    */
  val embeddingCache = new EmbeddingCache(config.cache.embeddingCacheSize,
                                          config.cache.ttlMs)

  /** Embed one query text through the cache — the serving-side twin of
    * the distributed corpus map ([[operators.Embeddings.embed]]); both
    * run the same [[graft.functions.expressions.MockEmbedding]] kernel
    * (embeddings.rs:222 mock provider; a real provider swaps the
    * kernel behind this same signature).
    */
  def embedQuery(text: String): Array[Double] = {
    ensureOpen()
    embeddingCache.getOrCompute(text) { t =>
      graft.functions.expressions.MockEmbedding
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t),
                 config.vectorDimension)
        .toDoubleArray()
    }
  }

  /** (hits, misses) of the embedding cache (cache_manager.rs:83). */
  def getEmbeddingCacheStats: (Long, Long) = embeddingCache.stats

  private val shutdownHooks = scala.collection.mutable.Buffer.empty[() => Unit]
  @volatile private var closed = false

  // a closed handle must not silently repopulate the caches it just
  // released (re-persisted blocks would leak past the lifecycle that
  // claims to own them) or buffer hooks that will never run
  private def ensureOpen(): Unit =
    if (closed) throw new IllegalStateException("GraftDB handle is closed")

  /** Register a teardown action (embedded.rs:159 add_shutdown_hook);
    * hooks run LIFO on [[close]], mirroring resource-acquisition
    * order.
    */
  def addShutdownHook(hook: () => Unit): Unit =
    synchronized { ensureOpen(); shutdownHooks += hook }

  def isClosed: Boolean = closed

  /** Graceful shutdown (embedded.rs:422 close, :167
    * execute_shutdown_hooks): run hooks LIFO, release both caches'
    * entries (the query cache unpersists its distributed blocks), and
    * optionally stop the session — off by default because the JVM's
    * one SparkContext is routinely shared across handles. Idempotent:
    * a second close is a no-op.
    */
  def close(stopSession: Boolean = false): Unit = synchronized {
    if (!closed) {
      closed = true
      shutdownHooks.reverseIterator.foreach(h => h())
      shutdownHooks.clear()
      queryCache.clear()
      embeddingCache.clear()
      warmed.foreach(_.unpersist(blocking = false))
      warmed = Nil
      if (stopSession) spark.stop()
    }
  }

  private var warmed: List[DataFrame] = Nil

  /** Staged cache warm-up (advanced_storage.rs:361 warmup_cache —
    * metadata, hot vectors, index data, hot documents): pull the
    * document store and embeddings relations into the executor block
    * cache so first queries pay memory-scan prices instead of cold
    * parquet decode — the batch analogue of the reference's staged
    * preheat, where the vector/index stages are covered by the
    * `pointServe*` loaders (they hold the persisted layouts resident
    * by construction). Returns total rows preloaded; 0 when already
    * warm. Spark's cache is SESSION-scoped and keyed by canonicalized
    * plan, not handle-owned — so warmth is probed from the live cache
    * state (`storageLevel`), never from handle-local bookkeeping:
    * after another handle over the same store closes and releases the
    * shared blocks, a surviving handle's `warmup()` re-warms instead
    * of no-op'ing forever. [[close]] releases whatever this handle
    * warmed (MEMORY_AND_DISK, so an over-RAM corpus degrades to
    * local-disk blocks instead of evicting or failing).
    */
  def warmup(): Long = synchronized {
    ensureOpen()
    val frames = List(
      Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))
    val cold = frames.filter(
      _.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    if (cold.isEmpty) return 0L
    cold.foreach(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    warmed = cold ::: warmed
    cold.map(_.count()).sum
  }

  def cachedQuery(build: => DataFrame): DataFrame = {
    ensureOpen()
    queryCache.getOrRun(build)
  }

  /** query_engine.rs:214 clear_cache. */
  def clearCache(): Unit = queryCache.clear()

  /** query_engine.rs:221 get_cache_stats → (hits, misses). */
  def getCacheStats: (Long, Long) = queryCache.stats

  /** Prometheus text-format export of the query metrics
    * (metrics.rs:353 export_prometheus): gauges computed in ONE scalar
    * aggregate over the metrics table — map-side partials, one row to
    * the driver regardless of history size.
    */
  def exportPrometheus(metrics: DataFrame): String = {
    import org.apache.spark.sql.functions._
    val r = metrics.agg(
      count(lit(1)).as("total"),
      avg(col("duration_ms")).as("avg_ms"),
      expr("percentile(duration_ms, 0.95)").as("p95_ms"),
      expr("percentile(duration_ms, 0.99)").as("p99_ms"),
      avg((col("duration_ms") < 10.0).cast("double")).as("hit_rate")).head()
    def g(name: String, help: String, v: Any): String =
      s"# HELP graft_$name $help\n# TYPE graft_$name gauge\ngraft_$name $v\n"
    // with zero recorded queries the latency aggregates are NULL —
    // omit those series entirely (absent ≠ measured-zero; a 0.0 here
    // would poison dashboard baselines) and export only the count
    g("total_queries", "Total number of recorded queries", r.getAs[Long]("total")) + (
      if (r.isNullAt(r.fieldIndex("avg_ms"))) ""
      else g("avg_query_time_ms", "Average query time in milliseconds", r.getAs[Double]("avg_ms")) +
        g("p95_query_time_ms", "P95 query time in milliseconds", r.getAs[Double]("p95_ms")) +
        g("p99_query_time_ms", "P99 query time in milliseconds", r.getAs[Double]("p99_ms")) +
        g("cache_hit_rate", "Share of queries answered under the cache-latency threshold",
          r.getAs[Double]("hit_rate")))
  }

  /** storage.rs:100 document_exists — a pushed-down point-lookup
    * count, the one facade method that is eager by contract.
    */
  def documentExists(id: Long): Boolean =
    DocOps.get(spark, dir, id).limit(1).count() == 1L

  /** storage.rs:103 get_document_metadata — the metadata projection
    * of a point lookup (the scan reads ONLY the metadata columns).
    */
  def getDocumentMetadata(id: Long): DataFrame =
    DocOps.get(spark, dir, id).select("doc_id", "lang", "source", "n_chars")

  /** storage.rs:116 search_by_metadata — equality filters ANDed over
    * metadata columns + limit, compiled through the filter ADT so
    * every predicate reaches the parquet scan.
    */
  def searchByMetadata(filters: Map[String, String], limit: Int = 50): DataFrame = {
    import Filtering._
    val pred = AndF(filters.toSeq.sortBy(_._1)
      .map { case (k, v) => Cmp(k, Eq, v): FilterExpr })
    Tables.documents(spark, dir)
      .filter(compile(pred))
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .limit(limit)
  }

  /** storage.rs:109 update_document_metadata, batched: a store
    * DataFrame with the metadata columns of matching ids replaced
    * (content untouched, missing ids pass through — the reference's
    * Ok(false) arm). Point updates broadcast; see
    * [[graft.sources.Ingest.updateMetadata]].
    */
  def updateDocumentMetadata(store: DataFrame, updates: DataFrame): DataFrame =
    Ingest.updateMetadata(store, updates)

  /** QueryConfig.max_limit, enforced on EVERY facade search entry —
    * the handle never returns more rows than the configured ceiling
    * (query_engine.rs LimitMaxResults).
    */
  private def capped(k: Int): Int = math.min(k, config.query.maxLimit)

  def textSearch(query: String, k: Int = 20): DataFrame =
    Bm25.textSearch(spark, dir, query, capped(k))

  def bm25Search(query: String, k: Int = 20): DataFrame =
    Bm25.search(spark, dir, query, capped(k),
      config.hybridSearch.bm25.k1, config.hybridSearch.bm25.b)

  /** Exact quoted-phrase search (adjacent tokens in order). */
  def phraseSearch(phrase: String, k: Int = 20): DataFrame =
    Bm25.phraseSearch(spark, dir, phrase, capped(k))

  /** Sliding-window chunking with the handle's configured geometry
    * (config.rs ContentAnalysisConfig chunk_size/chunk_overlap via
    * [[GraftConfig.ChunkConfig]]).
    */
  def chunkDocuments(): DataFrame =
    TextAnalysis.textChunkWith(spark, dir, config.chunk.size, config.chunk.overlap)

  /** Learned-sparse retrieval with caller-supplied term weights
    * (types.rs SparseVector scoring — the contract a SPLADE/uniCOIL
    * query encoder plugs into).
    */
  def sparseSearch(query: Seq[(String, Long)], k: Int = 20): DataFrame =
    Bm25.sparseSearch(spark, dir, query, capped(k))

  /** "More like this" — top-k documents by sparse cosine to an anchor
    * document (types.rs SparseVector::cosine_similarity).
    */
  def moreLikeThis(anchorId: Long, k: Int = 10): DataFrame =
    Bm25.docSimilar(spark, dir, anchorId, capped(k))

  /** Batch of text queries in one job (parallel_search.rs
    * parallel_text_search); rows keyed by position in `queries`.
    */
  def bm25SearchBatch(queries: Seq[String], k: Int = 10): DataFrame =
    Bm25.searchBatch(spark, dir, queries, capped(k))

  /** Batch of hybrid RRF queries in one job — query i pairs vector
    * vec_id = i with text `queries(i)`.
    */
  def hybridSearchBatch(queries: Seq[String], limit: Int = 20): DataFrame =
    HybridSearch.rrfBatch(spark, dir, queries, capped(limit),
      config.hybridSearch.maxCandidates)

  /** The reference's TEXT-entry semantic search (lib.rs:403
    * semantic_search: embed the query string with the provider, then
    * dense-search with the resulting vector): the query embeds
    * through the cached provider kernel at `config.vectorDimension`
    * — which must match the corpus embedding dimension, the same
    * contract the reference's provider config carries — and the raw
    * vector rides a literal into one corpus scan + TakeOrdered.
    */
  def semanticSearchText(text: String, k: Int = 20): DataFrame = {
    ensureOpen()
    val qv = embedQuery(text)
    // fail fast on a dimension mismatch: the CosineSim kernel scores
    // over the SHORTER of its two arrays, so an 8-dim query against a
    // 64-dim corpus would return plausible-looking garbage silently —
    // the one failure mode worse than an exception
    require(qv.length == corpusDim,
      s"config.vectorDimension ${qv.length} != corpus embedding dimension $corpusDim")
    VectorSearch.semanticTopKVec(spark, dir, qv, capped(k))
  }

  /** Corpus embedding dimension, probed ONCE per handle from a single
    * pushed-limit row (footer-pruned scan — not a corpus pass).
    */
  private lazy val corpusDim: Int =
    Tables.embeddings(spark, dir)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding")))
      .head(1).headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalStateException(
        s"embeddings table at $dir is empty — build embeddings before " +
          "text-entry semantic search (cannot infer corpus dimension)"))

  def semanticSearch(queryVecId: Long, k: Int = 20): DataFrame =
    VectorSearch.semanticTopK(spark, dir, queryVecId, capped(k))

  /** Threshold-gated vector search (query_engine.rs vector_search
    * with a similarity floor).
    */
  def semanticSearchThreshold(queryVecId: Long,
                              threshold: Double = config.query.similarityThreshold,
                              k: Int = 20): DataFrame =
    VectorSearch.semanticTopKThreshold(spark, dir, queryVecId, threshold, capped(k))

  def semanticSearchFiltered(queryVecId: Long, labels: Seq[Int],
                             k: Int = 20): DataFrame =
    VectorSearch.semanticTopKFiltered(spark, dir, queryVecId, labels, capped(k))

  /** Fusion search by strategy name — the reference's
    * FusionStrategy-keyed hybrid_search_enhanced.
    */
  def hybridSearch(query: String, queryVecId: Long = 0,
                   strategy: String = config.hybridSearch.fusionStrategy,
                   limit: Int = config.query.defaultLimit): DataFrame = {
    val k = capped(limit)
    val mc = config.hybridSearch.maxCandidates
    val w = config.hybridSearch.weights
    strategy match {
      case "rrf"        => HybridSearch.rrf(spark, dir, queryVecId, query, k, mc)
      case "linear"     => HybridSearch.linear(spark, dir, queryVecId, query, k,
                                               w.dense, w.sparse, w.text, mc)
      case "normalized" => HybridSearch.normalized(spark, dir, queryVecId, query, k,
                                                   w.dense, w.sparse, w.text, mc)
      case "learned"    => HybridSearch.learned(spark, dir, queryVecId, query, k, mc)
      case other => throw new IllegalArgumentException(
        s"unknown fusion strategy '$other' (rrf|linear|normalized|learned; " +
          "adaptive needs a history — use HybridSearch.adaptive)")
    }
  }

  /** Full search-response assembly: fused hits joined back to the
    * store with matched snippets (lib.rs:460 search_documents).
    */
  def searchDocuments(query: String, queryVecId: Long = 0,
                      limit: Int = 10): DataFrame =
    HybridSearch.searchSnippets(spark, dir, queryVecId, query, capped(limit))

  /** Batch ingest into a content-hash-deduped, lang-partitioned store
    * (lib.rs:317 batch_add_documents).
    */
  def ingest(outPath: String): Unit = Ingest.ingestDocuments(spark, dir, outPath)

  /** The admit/reject decision of incremental ingestion: near-dup
    * matches of the arriving increment against the existing corpus,
    * served from the persisted MinHash band layout (sparse.rs:71
    * add_document incremental form) — one row per (id_new, id_old)
    * pair at exact shingle Jaccard ≥ threshold; an id_new with no row
    * is admit.
    */
  def dedupIncremental(threshold: Double = 0.5): DataFrame =
    Dedup.minhashIncrementalIndexed(spark, dir, threshold)

  /** DSIR data-selection importance weights of every corpus document
    * (Xie et al. 2023) — the report importance resampling draws from;
    * the per-arrival form is [[graft.sources.PointServe.loadDsir]].
    */
  def dsirWeights(): DataFrame = Curation.dsirWeights(spark, dir)

  /** Dedup threshold-ablation census: per candidate Jaccard threshold,
    * the near-dup pairs and the cluster-resolved drops one corpus-wide
    * delete would commit to (same connected-components keep-min rule
    * as [[dedupClusters]]) — one banding + verify pass plus a single
    * all-theta components solve.
    */
  def dedupSweep(): DataFrame = Dedup.sweep(spark, dir)

  /** DSIR importance resampling: the n documents priority sampling
    * draws with inclusion ∝ exp(weight) — the selected training
    * subset [[dsirWeights]] scores for.
    */
  def dsirSelect(n: Int = Curation.DsirSelectN): DataFrame =
    Curation.dsirSelect(spark, dir, n)

  /** Quality-prioritized token-budget fill: each source's best
    * documents, best-first by the quality score, until its mixture
    * share of `budget` whitespace tokens is spent.
    */
  def tokenBudget(budget: Long = Curation.BudgetTokens): DataFrame =
    Curation.tokenBudget(spark, dir, budget)

  /** Seed vocabulary for subword tokenizer training: the top
    * candidate pieces by frequency × (length − 1) over the corpus
    * (SentencePiece unigram seeding).
    */
  def vocabInduce(): DataFrame = TextAnalysis.vocabInduce(spark, dir)

  /** Learned BPE merge table ([[TextAnalysis.BpeMerges]] rounds):
    * the trained-tokenizer artifact (merge_rank, lhs, rhs,
    * pair_count).
    */
  def bpeTrain(): DataFrame = TextAnalysis.bpeTrain(spark, dir)

  /** Batched-selection trainer for production merge counts: up to
    * `batchM` symbol-disjoint merges per census round (exact serial
    * replay at batchM = 1), dividing the per-round driver barrier a
    * 32k-merge vocabulary cannot afford serially.
    */
  def bpeTrainBatched(totalMerges: Int = TextAnalysis.BpeMerges,
                      batchM: Int = 1): DataFrame =
    TextAnalysis.bpeTrainBatched(spark, dir, totalMerges, batchM)

  /** Per-document token counts under the learned BPE merges — the
    * training-budget figure under the REAL tokenizer.
    */
  def bpeTokenCount(): DataFrame = TextAnalysis.bpeTokenCount(spark, dir)

  /** Text → model-ready token-id sequences under the learned merges
    * (first [[TextAnalysis.EncodeWords]] words per doc) — the
    * tokenized-shard materialization step.
    */
  def bpeEncode(): DataFrame = TextAnalysis.bpeEncode(spark, dir)

  /** The shippable vocabulary artifact: (pid, piece, corpus frequency
    * under the final segmentation; zero-frequency pieces kept).
    */
  def bpeVocab(): DataFrame = TextAnalysis.bpeVocab(spark, dir)

  /** Force-rebuild the persisted ANN layouts through the staged swap
    * (a concurrent reader never sees a mid-overwrite directory).
    */
  def rebuildAnnIndex(): Unit = VectorIndex.rebuildIndexes(spark, dir)

  /** Per-layout index observability (query.rs:271 get_index_stats). */
  def getIndexStats(kind: String): VectorIndex.IndexStats =
    VectorIndex.indexStats(spark, dir, kind)

  /** Conditional index maintenance with the handle's configured
    * thresholds — the SAME thresholds [[healthCheck]] reports debt
    * against, so health output and maintenance behavior can't
    * disagree (performance/index_optimizer.rs should_optimize →
    * optimize_index). Returns the layouts rebuilt.
    */
  def optimizeIndexes(): Seq[String] =
    VectorIndex.rebuildIfNeeded(spark, dir,
      config.index.rebuildAppendedFraction, config.index.rebuildMaxGenerations)

  def annSearchLsh(nQueries: Int = 8, k: Int = 5): DataFrame =
    VectorIndex.annLshIndexed(spark, dir, nQueries, capped(k))

  def annSearchIvf(qid: Long = 0, k: Int = 20): DataFrame =
    VectorIndex.annIvfIndexed(spark, dir, qid, k = capped(k))

  /** Payload-filtered ANN over the persisted IVF layout (label gate
    * joined onto the probed candidates before the top-k).
    */
  def annSearchIvfFiltered(qid: Long = 0, labels: Seq[Int] = Seq(1, 3, 5),
                           k: Int = 20): DataFrame =
    VectorIndex.annIvfFilteredIndexed(spark, dir, qid, labels, k = capped(k))

  def annSearchPq(qid: Long = 0, k: Int = 20): DataFrame =
    VectorSearch.annPq(spark, dir, qid, capped(k))

  /** Open the in-JVM point-serving tier over a persisted layout
    * (index.rs:95-260 — the reference's sub-ms in-memory serving,
    * fed here by the same layouts the batch tier builds): load once
    * (one Spark job), then `query(...)` answers with zero Spark jobs
    * in JVM microseconds, bit-identical to the batch twins
    * (PointServeSpec).
    */
  def pointServeLsh(): graft.sources.PointServe.Lsh =
    graft.sources.PointServe.loadLsh(spark, dir)

  def pointServeIvf(): graft.sources.PointServe.Ivf =
    graft.sources.PointServe.loadIvf(spark, dir)

  def pointServePq(): graft.sources.PointServe.Pq =
    graft.sources.PointServe.loadPq(spark, dir)

  /** The graph-traversal server (index.rs:95-260 family): NSW greedy
    * walk over the persisted kNN-graph layout, zero Spark jobs per
    * query, recall floor spec-pinned vs brute force.
    */
  def pointServeGraph(): graft.sources.PointServe.Graph =
    graft.sources.PointServe.loadGraph(spark, dir)

  /** The billion-scale serving shape: per-cell PQ codes resident,
    * coarse/fine probe + ADC + pluggable exact rescore.
    */
  def pointServeIvfPq(): graft.sources.PointServe.IvfPq =
    graft.sources.PointServe.loadIvfPq(spark, dir)

  /** The serving-tier form of [[dedupIncremental]] (sparse.rs:71
    * add_document's gate is a POINT operation — one arriving document,
    * admit or reject, now): loads the persisted MinHash band layout
    * once, then `query(text)`/`admit(text)` answer with zero Spark
    * jobs, bit-identical to the batch probe's rows for that document.
    */
  def pointServeDedup(): graft.sources.PointServe.MinhashDedup =
    graft.sources.PointServe.loadMinhashDedup(spark, dir)

  /** The serving-tier form of [[dsirWeights]]: loads the two
    * bucket-count tables once (a few KB at any corpus size), then
    * `score(text)`/`admit(text, bar)` answer with zero Spark jobs,
    * bit-identical to the batch row for that document; `observe`
    * folds arrivals into the resident distributions online.
    */
  def pointServeDsir(): graft.sources.PointServe.Dsir =
    graft.sources.PointServe.loadDsir(spark, dir)

  /** The serving-tier form of [[bpeTokenCount]]: trains/loads the
    * merge table once (O(rounds) resident), then `count(text)`
    * answers (n_words, n_bpe_tokens) with zero Spark jobs,
    * bit-identical to the batch row for that document.
    */
  def pointServeBpe(): graft.sources.PointServe.Bpe =
    graft.sources.PointServe.loadBpe(spark, dir)

  /** The embedded retrieval tier (sparse.rs in-memory SparseIndex +
    * hybrid.rs fusion): BM25 / text / dense / RRF-hybrid point queries
    * from RAM, zero Spark jobs each, bit-identical to the batch twins.
    */
  def pointServeRetrieval(): graft.sources.PointServe.Embedded =
    graft.sources.PointServe.loadEmbedded(spark, dir)
}

object GraftDB {

  /** Per-check probe outcome (embedded.rs CheckResult). */
  final case class CheckResult(ok: Boolean, detail: String)

  /** Rolled-up health verdict (embedded.rs:100 HealthStatus). */
  final case class HealthStatus(isHealthy: Boolean, lastError: Option[String],
                                checks: Map[String, CheckResult])

  /** Embedded-mode constructor (embedded.rs): a local session over a
    * corpus directory. NOTE: a JVM holds one SparkContext — if a
    * session already exists, getOrCreate returns it and `cores` has
    * no effect (Spark's own contract); pass an explicit session via
    * `GraftDB(spark, dir)` to be unambiguous.
    */
  def embedded(dir: String, cores: Int = 4,
               config: GraftConfig = GraftConfig()): GraftDB = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    new GraftDB(spark, dir, config)
  }

  def apply(spark: SparkSession, dir: String,
            config: GraftConfig = GraftConfig()): GraftDB =
    new GraftDB(spark, dir, config)
}
