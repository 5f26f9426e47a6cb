package graft

import graft.sources.{PointServe, VectorIndex}
import graft.functions.VectorFunctions.toDouble
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The serving tier: in-JVM point queries over the persisted layouts
  * must (a) return BIT-IDENTICAL rows to the batch twins they mirror,
  * (b) launch ZERO Spark jobs per query, and (c) answer far below the
  * batch tier's job-scheduling floor.
  */
class PointServeSpec extends GraftSuite {

  private lazy val queryVecs: Map[Long, Array[Double]] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDouble(col("embedding")))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  test("LSH point serve matches the batch layout query bit-for-bit") {
    val idx = PointServe.loadLsh(spark, sf)
    val batch = VectorIndex.annLshIndexed(spark, sf, nQueries = 8, k = 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("score")))
      .groupBy(_._1)
    (0L until 8L).foreach { qid =>
      val served = idx.query(queryVecs(qid), k = 5, excludeId = qid)
        .map(h => (qid, h.rank.toLong, h.vecId, h.score))
      assert(served == batch.getOrElse(qid, Array.empty).toSeq, s"query $qid")
    }
  }

  test("IVF point serve matches the batch layout query bit-for-bit") {
    val idx = PointServe.loadIvf(spark, sf)
    val batch = VectorIndex.annIvfIndexed(spark, sf, qid = 0, k = 20)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("score"))).toSeq
    val served = idx.query(queryVecs(0L), k = 20, excludeId = 0L)
      .map(h => (h.vecId, h.score))
    assert(served == batch)
  }

  test("PQ point serve with a vector-lookup rescore matches the batch twin; without one it serves the ADC ranking") {
    val idx = PointServe.loadPq(spark, sf)
    val batch = VectorIndex.annPqIndexed(spark, sf, qid = 0, k = 20)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dist"))).toSeq
    val served = idx.query(queryVecs(0L), k = 20, excludeId = 0L,
      vectorLookup = id => queryVecs.get(id))
    assert(served.map(h => (h.vecId, h.score)) == batch)
    // no lookup: approximate tier — k ADC-ranked hits, ascending dist
    val approx = idx.query(queryVecs(0L), k = 20, excludeId = 0L)
    assert(approx.size == 20 && approx.map(_.rank) == (1 to 20))
    assert(approx.map(_.score) == approx.map(_.score).sorted)
  }

  test("IVF-PQ point serve with a rescore matches the batch twin; without one it serves the ADC ranking") {
    val idx = PointServe.loadIvfPq(spark, sf)
    assert(idx.size == queryVecs.size, "every corpus vector's codes resident")
    val batch = VectorIndex.annIvfPqIndexed(spark, sf, qid = 0, k = 10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dist"))).toSeq
    val served = idx.query(queryVecs(0L), k = 10, excludeId = 0L,
      vectorLookup = id => queryVecs.get(id))
    assert(served.map(h => (h.vecId, h.score)) == batch,
      s"served=$served batch=$batch")
    // no lookup: approximate tier — k ADC-ranked hits, ascending dist
    val approx = idx.query(queryVecs(0L), k = 10, excludeId = 0L)
    assert(approx.size == 10 && approx.map(_.rank) == (1 to 10))
    assert(approx.map(_.score) == approx.map(_.score).sorted)
  }

  test("embedded retrieval serve (bm25/text/dense/hybrid-rrf) matches each batch twin bit-for-bit") {
    val emb = PointServe.loadEmbedded(spark, sf)
    val bm25Batch = operators.Bm25.search(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    assert(emb.bm25(operators.Bm25.DefaultQuery).map(h => (h.vecId, h.score)) == bm25Batch)
    val textBatch = operators.Bm25.textSearch(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    assert(emb.textSearch(operators.Bm25.DefaultQuery).map(h => (h.vecId, h.score)) == textBatch)
    // substring-edge parity (r9 raw-word vocabulary rewrite): PARTIAL
    // word terms — the batch semantics are substring-in-text, and a
    // no-space term's match can never span a space, which is exactly
    // the equivalence the served rewrite rests on
    Seq("par", "ecto str", "xyzzynotaword", "a").foreach { q =>
      val b = operators.Bm25.textSearch(spark, sf, q, k = 50)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
      assert(emb.textSearch(q, k = 50).map(h => (h.vecId, h.score)) == b,
        s"substring parity broke for query '$q'")
    }
    val denseBatch = operators.VectorSearch.semanticTopK(spark, sf)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("score"))).toSeq
    assert(emb.semantic(queryVecs(0L), k = 20, excludeId = 0L)
      .map(h => (h.vecId, h.score)) == denseBatch)
    val rrfBatch = operators.HybridSearch.rrf(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toSeq
    assert(emb.hybridRrf(queryVecs(0L), 0L, operators.Bm25.DefaultQuery)
      .map(h => (h.vecId, h.score)) == rrfBatch)
    val sparseBatch = operators.Bm25.sparseSearch(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSeq
    assert(emb.sparse(operators.Bm25.SparseQuery).map(h => (h.vecId, h.score)) == sparseBatch)
    // duplicate terms merge by coordinate addition, the batch contract
    assert(emb.sparse(Seq("spark" -> 2L, "spark" -> 3L)) == emb.sparse(Seq("spark" -> 5L)))
    val similarBatch = operators.Bm25.docSimilar(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cosine"))).toSeq
    assert(emb.moreLike(7L).map(h => (h.vecId, h.score)) == similarBatch)
    assert(emb.moreLike(-42L).isEmpty, "unknown anchor returns empty, never throws")
    val phraseBatch = operators.Bm25.phraseSearch(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_occurrences"),
        r.getAs[Long]("first_pos"))).toSeq
    assert(emb.phrase(operators.Bm25.DefaultPhrase) == phraseBatch)
  }

  /** `f`'s result and the Spark jobs launched while it runs. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("refresh folds streaming-appended generations into the served snapshot") {
    // the refresh contract, table-driven over every maintained tier, each
    // on a private layout copy: an appended generation is unseen before
    // refresh(); refresh() returns its rows and serves them; a second
    // refresh() returns 0 and launches no Spark job
    import spark.implicits._
    import graft.functions.expressions.ShingleHashes
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val tmp = java.nio.file.Files.createTempDirectory("pserve").toFile.getAbsolutePath
    val newId = 999999L
    val newVec = queryVecs(1L) // duplicate of vector 1 → cosine 1.0 with itself
    val newRows = Seq((newId, newVec.map(_.toFloat).toSeq)).toDF("vec_id", "embedding")
    val atCosineOne = (hits: Seq[PointServe.Hit]) =>
      hits.exists(h => h.vecId == newId && h.score == 10000L)
    val novel = "quantum zebra lattice prose seven wanders the improbable meadow"
    val docs = Tables.documents(spark, sf)
    val newDoc = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    // (kind, private layout build, load → (tier, is the appended row
    // served?), append generation 1, rows appended)
    def served[T <: PointServe.Maintained[_]](t: T)(p: T => Boolean) = (t, () => p(t))
    val tiers: Seq[(String, String => Unit,
                    String => (PointServe.Maintained[_], () => Boolean),
                    String => Unit, Int)] = Seq(
      ("lsh", VectorIndex.buildLshIndex(spark, sf, _),
        p => served(PointServe.loadLshFrom(spark, p))(t => atCosineOne(t.query(newVec, k = 5))),
        VectorIndex.encodeLsh(newRows, _, 1L), 1),
      // IVF appends through the streaming maintenance path itself
      ("ivf", VectorIndex.buildIvfIndex(spark, sf, _),
        p => served(PointServe.loadIvfFrom(spark, p))(t => atCosineOne(t.query(newVec, k = 5))),
        { p =>
          val stage = tmp + "/ivf_stage"
          newRows.write.mode("overwrite").parquet(stage)
          val q = graft.streaming.EventStreams.ivfIndexStream(
            spark.readStream.schema(spark.read.parquet(stage).schema).parquet(stage), p)
          q.processAllAvailable(); q.stop()
        }, 1),
      ("pq", VectorIndex.buildPqIndex(spark, sf, _),
        p => served(PointServe.loadPqFrom(spark, p))(_.query(newVec, k = 20).exists(_.vecId == newId)),
        VectorIndex.encodePq(newRows, _, 1L), 1),
      ("ivfpq", VectorIndex.buildIvfPqIndex(spark, sf, _),
        p => served(PointServe.loadIvfPqFrom(spark, p))(_.query(newVec, k = 20).exists(_.vecId == newId)),
        VectorIndex.encodeIvfPq(newRows, _, 1L), 1),
      // graph: a copy of the shared build's generation 0; the clone
      // lists the nodes a walk finds nearest to it
      ("graph", p => VectorIndex.writeGeneration(VectorIndex.readGenerations(spark,
          VectorIndex.knnGraphIndexReady(spark, sf)).get.drop("gen"), p, 0L),
        p => served(PointServe.loadGraphFrom(spark, p))(t => atCosineOne(t.query(newVec, k = 5))),
        p => VectorIndex.writeGeneration(newRows.withColumn("neighbors",
          typedLit(PointServe.loadGraphFrom(spark, p).query(newVec, k = 5).map(_.vecId))), p, 1L),
        1),
      ("minhash", VectorIndex.buildMinhashIndex(spark, sf, _),
        p => served(PointServe.loadMinhashDedupFrom(spark, p))(
          _.query(novel) == Seq(PointServe.DupMatch(newDoc, 10000L))),
        VectorIndex.encodeMinhash(Seq((newDoc, novel)).toDF("doc_id", "text")
          .select(col("doc_id"), column(ShingleHashes(expression(col("text")), 3,
            operators.Dedup.P)).as("sh")), _, 1L),
        operators.Dedup.NumBands))
    tiers.foreach { case (kind, build, load, append, rows) =>
      val path = s"$tmp/$kind"
      build(path)
      val (tier, isServed) = load(path)
      val n0 = tier.size
      append(path)
      assert(!isServed(), s"$kind: snapshot must not see unrefreshed appends")
      assert(tier.refresh() == rows, s"$kind: refresh must return the appended rows")
      assert(tier.size == n0 + (if (kind == "minhash") 1 else rows), s"$kind: size")
      assert(isServed(), s"$kind: appended row must serve after refresh")
      val (again, jobs) = jobsDuring(tier.refresh())
      assert(again == 0, s"$kind: no new generations → no-op")
      assert(jobs == 0, s"$kind: $jobs Spark jobs for a refresh with nothing to read")
    }
  }

  test("refresh with no new generation returns 0 and launches no Spark job") {
    // every maintained tier straight after its load, over the shared
    // layouts (nothing is appended, so nothing leaks into other specs)
    val tiers: Seq[(String, PointServe.Maintained[_])] = Seq(
      "lsh" -> PointServe.loadLsh(spark, sf),
      "ivf" -> PointServe.loadIvf(spark, sf),
      "pq" -> PointServe.loadPq(spark, sf),
      "ivfpq" -> PointServe.loadIvfPq(spark, sf),
      "graph" -> PointServe.loadGraph(spark, sf),
      "minhash" -> PointServe.loadMinhashDedup(spark, sf))
    tiers.foreach { case (kind, tier) =>
      val (n, jobs) = jobsDuring(tier.refresh())
      assert(n == 0, s"$kind: no new generations → no-op")
      assert(jobs == 0, s"$kind: $jobs Spark jobs for a refresh with nothing to read")
    }
  }

  test("a shard's refresh advances past a generation that holds none of its rows") {
    val path = java.nio.file.Files.createTempDirectory("pserve_shard").toString + "/lsh"
    VectorIndex.buildLshIndex(spark, sf, path)
    val odds = PointServe.loadLshFrom(spark, path, shard = Some((1 until 256 by 2).toSet))
    // a gen-1 clone of a vector in an even bucket: outside the shard
    val even = VectorIndex.readGenerations(spark, path).get
      .filter(col("bucket") % 2 === 0).orderBy(col("vec_id")).limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    VectorIndex.encodeLsh(even, path, 1L)
    assert(odds.refresh() == 0)
    val (again, jobs) = jobsDuring(odds.refresh())
    assert(again == 0)
    assert(jobs == 0, s"$jobs Spark jobs: the shard re-read a generation it already folded")
  }

  test("a refresh reads only the files of the generation appended since load") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val path = java.nio.file.Files.createTempDirectory("pserve_delta").toString + "/lsh"
    VectorIndex.buildLshIndex(spark, sf, path)
    val idx = PointServe.loadLshFrom(spark, path)
    val planes = operators.VectorSearch.lshPlanes(64, operators.VectorSearch.AnnLshPlanes)
    VectorIndex.writeGeneration(queryVecs.toSeq.sortBy(_._1).take(3)
      .map { case (id, v) => (id + 1000000L, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")
      .withColumn("bucket", operators.VectorSearch.lshBucket(
        col("embedding").cast("array<double>"), planes).cast("int")), path, 1L, "bucket")
    val files = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        qe.optimizedPlan.foreach {
          case lr: LogicalRelation => lr.relation match {
            case r: HadoopFsRelation => r.location.inputFiles.foreach(files.add)
            case _ =>
          }
          case _ =>
        }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(idx.refresh() == 3)
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val read = scala.jdk.CollectionConverters.IteratorHasAsScala(files.iterator()).asScala.toSeq
    assert(read.nonEmpty, "the delta read was not observed")
    assert(read.forall(_.contains("/gen=1/")), s"delta read files outside gen=1: $read")
  }

  test("sharded serve: complementary bucket shards scatter-gather to the exact unsharded result") {
    val path = VectorIndex.lshIndexReady(spark, sf)
    val full = PointServe.loadLshFrom(spark, path)
    val evens = PointServe.loadLshFrom(spark, path,
      shard = Some((0 until 256 by 2).toSet))
    val odds = PointServe.loadLshFrom(spark, path,
      shard = Some((1 until 256 by 2).toSet))
    assert(evens.size + odds.size == full.size, "shards must partition the corpus")
    (0L until 8L).foreach { qid =>
      val expected = full.query(queryVecs(qid), k = 5, excludeId = qid)
      val gathered = PointServe.mergeHits(
        Seq(evens.query(queryVecs(qid), k = 5, excludeId = qid),
            odds.query(queryVecs(qid), k = 5, excludeId = qid)), k = 5)
      assert(gathered == expected, s"query $qid")
    }
  }

  test("graph serve: NSW greedy walk holds the recall floor with zero Spark jobs") {
    val g = PointServe.loadGraph(spark, sf)   // load/build cost: jobs OK here
    assert(g.size == queryVecs.size, "every corpus vector must be resident")
    // exact brute-force top-10 per query under the SAME (fx4 cosine
    // DESC, id ASC) contract — the recall oracle
    def fx4(x: Double): Long = math.floor(x * 10000L + 0.5).toLong
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 10
    val qids = (0L until 16L).toSeq
    val recalls = qids.map { qid =>
      val qv = queryVecs(qid)
      val exact = queryVecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, fx4(cosine(v, qv))) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
      val served = g.query(qv, k = k, excludeId = qid).map(_.vecId).toSet
      assert(served.size == k)
      exact.intersect(served).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.8, f"graph recall@$k $mean%.2f below floor (per-query: $recalls)")

    // zero Spark jobs per query — the serving-tier contract
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      g.query(queryVecs(0L), k = 5, excludeId = 0L) // warm JIT
      val t0 = System.nanoTime()
      val n = 200
      (0 until n).foreach(i => g.query(queryVecs((i % 8).toLong), k = 5))
      val perQueryMs = (System.nanoTime() - t0) / 1e6 / n
      Thread.sleep(1000)
      assert(jobs.get() == 0, "a graph point query must not launch Spark jobs")
      assert(perQueryMs < 50.0, f"per-query $perQueryMs%.2f ms")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("per-shard graphs scatter-gather to the brute recall floor") {
    // the distributed dense deployment: each id-hash shard builds its
    // OWN kNN graph over its slice; per-shard walks merge exactly
    // (same fx4 score contract), the union covers the corpus because
    // the slices partition it — recall vs brute floor-pinned here
    import graft.functions.VectorFunctions.toDouble
    val nShards = 3
    val shardGraphs = (0 until nShards).map { s =>
      val p = java.nio.file.Files.createTempDirectory(s"gsh$s")
        .toFile.getAbsolutePath + "/graph"
      VectorIndex.buildKnnGraphIndexFromVecs(spark,
        Tables.embeddings(spark, sf)
          .filter(col("vec_id") % nShards === s)
          .select(col("vec_id"), col("embedding")), p)
      PointServe.loadGraphFrom(spark, p)
    }
    assert(shardGraphs.map(_.size).sum == queryVecs.size,
      "shards must partition the corpus")
    def fx4(x: Double): Long = math.floor(x * 10000L + 0.5).toLong
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 10
    val recalls = (0L until 16L).map { qid =>
      val qv = queryVecs(qid)
      val exact = queryVecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, fx4(cosine(v, qv))) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
      val served = PointServe.mergeHits(
        shardGraphs.map(_.query(qv, k = k, excludeId = qid)), k)
        .map(_.vecId).toSet
      exact.intersect(served).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.8, f"sharded graph recall@$k $mean%.2f (per-query: $recalls)")
  }

  /** A private copy of the shared graph layout's generation 0, so the
    * shared build is untouched; its path.
    */
  private def graphCopy(prefix: String): String = {
    val path = java.nio.file.Files.createTempDirectory(prefix).toString + "/graph"
    VectorIndex.writeGeneration(VectorIndex.readGenerations(spark,
      VectorIndex.knnGraphIndexReady(spark, sf)).get.drop("gen"), path, 0L)
    path
  }

  /** Writes generation 1 of `path`: (vec_id, vector, stored list) rows. */
  private def writeGen1(path: String, rows: Seq[(Long, Array[Double], Seq[Long])]): Unit = {
    import spark.implicits._
    VectorIndex.writeGeneration(rows.map { case (id, v, l) => (id, v.toSeq, l) }
      .toDF("vec_id", "emb", "neighbors")
      .select(col("vec_id"),
        col("emb").cast(Tables.embeddings(spark, sf).schema("embedding").dataType)
          .as("embedding"),
        col("neighbors")), path, 1L)
  }

  /** Generation 1 of four mutually near, novel vectors whose stored
    * lists name only each other; their ids and vectors.
    */
  private def writeNovelGen1(path: String): Seq[(Long, Array[Double])] = {
    val maxId = queryVecs.keys.max
    val rnd = new scala.util.Random(11)
    val dir = Array.fill(queryVecs(7L).length)(rnd.nextGaussian())
    val ids = (1L to 4L).map(maxId + _)
    val novel = ids.map(id => id -> dir.map(_ + 0.05 * rnd.nextGaussian()))
    writeGen1(path, novel.map { case (id, v) => (id, v, ids.filter(_ != id)) })
    novel
  }

  test("graph serve refresh folds appended generations and back-links them reachable") {
    val path = graphCopy("graph_refresh")
    val g = PointServe.loadGraphFrom(spark, path)
    val before = g.size
    val maxId = queryVecs.keys.max
    // append a gen-1 clone of vec 7: identical embedding → cosine 1.0
    // for query 7, so once refreshed it MUST serve at the top
    writeGen1(path, Seq((maxId + 1, queryVecs(7L), g.query(queryVecs(7L), k = 5).map(_.vecId))))
    assert(g.refresh() == 1 && g.size == before + 1)
    val served = g.query(queryVecs(7L), k = 5, excludeId = 7L)
    assert(served.head.vecId == maxId + 1,
      s"refreshed clone must serve first: $served")
    // idempotent: nothing new to fold
    assert(g.refresh() == 0)
  }

  test("graph serve refresh reaches a batch of novel nodes that list only each other") {
    // a batch of mutually near, novel vectors fills each other's
    // neighbor lists; back-links along those lists alone leave the
    // batch unreachable from every resident node, so refresh must also
    // link each new node from its nearest resident nodes
    val path = graphCopy("graph_novel")
    val g = PointServe.loadGraphFrom(spark, path)
    val novel = writeNovelGen1(path)
    assert(g.refresh() == novel.size)
    novel.foreach { case (id, v) =>
      val served = g.query(v, k = 1)
      assert(served.map(_.vecId) == Seq(id), s"novel node $id unreachable: $served")
    }
  }

  test("graph tier loaded after ingest links appended nodes as a load and refresh do") {
    // a load folds generation by generation, as refreshes do: a fresh
    // load of a generation 1 of novel nodes that list only each other
    // must back-link them from resident nodes too
    val path = graphCopy("graph_loaded")
    val refreshed = PointServe.loadGraphFrom(spark, path)
    val novel = writeNovelGen1(path)
    assert(refreshed.refresh() == novel.size)
    val loaded = PointServe.loadGraphFrom(spark, path)
    novel.foreach { case (id, v) =>
      val served = loaded.query(v, k = 1)
      assert(served.map(_.vecId) == Seq(id), s"novel node $id unreachable after a load: $served")
    }
    def sortedLists(g: PointServe.Graph) = g.lists.map { case (id, l) => id -> l.sorted }
    assert(sortedLists(loaded) == sortedLists(refreshed))
  }

  test("point queries launch zero Spark jobs and beat the batch scheduling floor") {
    val lsh = PointServe.loadLsh(spark, sf)   // load cost: Spark jobs OK here
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      lsh.query(queryVecs(0L), k = 5, excludeId = 0L) // warm JIT
      val t0 = System.nanoTime()
      val n = 200
      (0 until n).foreach(i => lsh.query(queryVecs((i % 8).toLong), k = 5))
      val perQueryMs = (System.nanoTime() - t0) / 1e6 / n
      // listener events are posted async; allow the bus to drain
      Thread.sleep(1000)
      assert(jobs.get() == 0, "a point query must not launch Spark jobs")
      // generous bound (real cost is microseconds): the claim is only
      // that serving sits far below the ~150ms+ batch job floor
      assert(perQueryMs < 50.0, f"per-query $perQueryMs%.2f ms")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("minhash dedup point serve matches the batch probe bit-for-bit") {
    import graft.operators.Dedup
    val idx = PointServe.loadMinhashDedup(spark, sf)
    val isIncr = (id: Long) => id % Dedup.IncrMod == Dedup.IncrRes
    // the driver-compared batch form: every (id_new, id_old, jaccard)
    // row, grouped per increment doc, ordered by id_old
    val batch = Dedup.minhashIncrementalIndexed(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_new"), r.getAs[Long]("id_old"),
        r.getAs[Long]("jaccard")))
      .groupBy(_._1)
    val incrDocs = Tables.documents(spark, sf)
      .filter(col("doc_id") % Dedup.IncrMod === Dedup.IncrRes)
      .select(col("doc_id"), col("text")).collect()
    assert(incrDocs.nonEmpty)
    var servedRows = 0
    incrDocs.foreach { r =>
      val id = r.getLong(0)
      val served = idx.query(r.getString(1), exclude = isIncr)
        .map(m => (id, m.idOld, m.jaccard))
      assert(served == batch.getOrElse(id, Array.empty).toSeq,
        s"increment doc $id")
      servedRows += served.size
    }
    // full coverage, and the comparison is non-vacuous
    assert(servedRows == batch.valuesIterator.map(_.length).sum)
    assert(servedRows > 0, "no near-dup pairs served — vacuous parity")
  }

  test("dedup point serve: zero-job admit gate, streaming refresh") {
    import graft.operators.Dedup
    import graft.streaming.EventStreams
    val idxPath =
      java.nio.file.Files.createTempDirectory("mh_serve").toString + "/minhash"
    VectorIndex.buildMinhashIndex(spark, sf, idxPath)
    val idx = PointServe.loadMinhashDedupFrom(spark, idxPath)
    val docs = Tables.documents(spark, sf)
    val resident = docs.filter(length(col("text")) > 50)
      .orderBy(col("doc_id")).select(col("text")).head.getString(0)
    val novel = "quantum zebra lattice prose seven wanders the improbable meadow"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // an exact resident duplicate is rejected at jaccard 1.0; novel
      // text is admitted — with zero Spark jobs either way
      assert(!idx.admit(resident), "resident duplicate admitted")
      assert(idx.query(resident).exists(_.jaccard == 10000L))
      assert(idx.admit(novel), "novel text rejected")
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() == 0, "a point dedup probe must not launch Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    // streaming upkeep lands the novel doc; refresh folds it in and the
    // gate flips to reject — the add_document lifecycle end to end
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val stageDir = java.nio.file.Files.createTempDirectory("mh_serve_docs")
    docs.limit(1).select(lit(maxId + 1).as("doc_id"), lit(novel).as("text"))
      .write.mode("overwrite").parquet(stageDir.toString)
    val schema = docs.select(col("doc_id"), col("text")).schema
    val q = EventStreams.minhashIndexStream(
      spark.readStream.schema(schema).parquet(stageDir.toString), idxPath)
    q.processAllAvailable(); q.stop()
    assert(idx.refresh() > 0, "refresh picked up no appended band rows")
    val matches = idx.query(novel)
    assert(matches == Seq(PointServe.DupMatch(maxId + 1, 10000L)),
      s"streamed doc not served: $matches")
    assert(!idx.admit(novel))
  }

  test("shard-scattered dedup probes merge to the exact unsharded answer") {
    import graft.operators.Dedup
    val path = java.nio.file.Files
      .createTempDirectory("mh_shard").toString + "/minhash"
    VectorIndex.buildMinhashIndex(spark, sf, path)
    val bktMod = spark.read.parquet(path + "_meta").head.getAs[Long]("bkt_mod").toInt
    val full = PointServe.loadMinhashDedupFrom(spark, path)
    // two shards splitting the bkt directories; each loads only its
    // directories' bands plus the sketches they reference
    val shardSets = Seq((0 until bktMod).filter(_ % 2 == 0).toSet,
                        (0 until bktMod).filter(_ % 2 == 1).toSet)
    val shards = shardSets.map(s =>
      PointServe.loadMinhashDedupFrom(spark, path, Some(s)))
    assert(shards.map(_.size).sum >= full.size,
      "shards must cover every referenced sketch (duplication across shards allowed)")
    val isIncr = (id: Long) => id % Dedup.IncrMod == Dedup.IncrRes
    val incrDocs = Tables.documents(spark, sf)
      .filter(col("doc_id") % Dedup.IncrMod === Dedup.IncrRes)
      .select(col("text")).collect().map(_.getString(0))
    var nonEmpty = 0
    incrDocs.foreach { text =>
      val direct = full.query(text, exclude = isIncr)
      val merged = PointServe.mergeDupMatches(
        shards.map(_.query(text, exclude = isIncr)))
      assert(merged == direct, s"scatter-gather mismatch for: ${text.take(40)}")
      if (direct.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 0, "no probe had matches — vacuous scatter-gather check")
  }

  test("replica-routed embedded serving answers identically and balances load") {
    // the deployment shape distributed/load_balancer.rs routes for:
    // N identical serving replicas behind a router — every routed
    // answer must be bit-identical to a direct query, and round-robin
    // must spread queries evenly
    val replicas = IndexedSeq(PointServe.loadEmbedded(spark, sf),
                              PointServe.loadEmbedded(spark, sf))
    val router = new graft.sources.ReplicaRouter(replicas, graft.sources.Router.RoundRobin)
    val direct = replicas.head.bm25(operators.Bm25.DefaultQuery)
    (1 to 6).foreach { _ =>
      assert(router.route(_.bm25(operators.Bm25.DefaultQuery)) == direct)
    }
    assert(router.stats(0).routed == 3L && router.stats(1).routed == 3L)
    // a dead replica is routed around without changing any answer
    router.markHealthy(0, ok = false)
    assert(router.route(_.bm25(operators.Bm25.DefaultQuery)) == direct)
    assert(router.stats(1).routed == 4L)
  }

  test("dsir point scorer matches the batch weights bit-for-bit") {
    import graft.operators.Curation
    val scorer = PointServe.loadDsir(spark, sf)
    val batch = Curation.dsirWeights(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_feats"), r.getAs[Long]("weight_fx")))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    assert(docs.nonEmpty && batch.nonEmpty)
    docs.foreach { r =>
      assert(scorer.score(r.getString(1)) == batch(r.getLong(0)),
        s"doc ${r.getLong(0)}")
    }
    // the gate admits exactly the docs at/above the per-feature bar
    val bar = 0L
    docs.foreach { r =>
      val (n, w) = batch(r.getLong(0))
      assert(scorer.admit(r.getString(1), bar) == (n > 0 && w >= bar * n))
    }
  }

  test("dsir online observation in any order lands the batch-loaded state") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val loaded = PointServe.loadDsir(spark, sf)
    def fold(order: Seq[(Long, String, String)]): PointServe.Dsir = {
      val d = PointServe.emptyDsir()
      order.foreach { case (_, src, text) =>
        d.observe(text, src == Curation.DsirTarget) }
      d
    }
    val fwd = fold(docs.toSeq)
    val rev = fold(docs.reverse.toSeq)
    assert(fwd.totals == loaded.totals && rev.totals == loaded.totals)
    // identical resident state ⇒ identical served scores everywhere
    docs.foreach { case (id, _, text) =>
      val s = loaded.score(text)
      assert(fwd.score(text) == s && rev.score(text) == s, s"doc $id")
    }
  }

  test("bpe point counter matches the batch token counts bit-for-bit") {
    import graft.operators.TextAnalysis
    val counter = PointServe.loadBpe(spark, sf)
    val batch = TextAnalysis.bpeTokenCount(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens")))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    assert(docs.nonEmpty && batch.nonEmpty)
    docs.foreach { r =>
      // a doc with no qualifying tokens has no batch row (inner join)
      // and serves (0, 0)
      val exp = batch.getOrElse(r.getLong(0), (0L, 0L))
      assert(counter.count(r.getString(1)) == exp, s"doc ${r.getLong(0)}")
    }
    // the greedy rank-order merge application must produce a
    // merge-built-on-merge symbol somewhere on this corpus: at least
    // one doc's induced count drops below its character mass by more
    // than the single-merge floor — guaranteed by the bpe_train spec's
    // len>2 assertion; here just pin counts are genuinely compressed
    assert(docs.exists { r =>
      val (n, b) = counter.count(r.getString(1))
      n > 0 && b < r.getString(1).count(_.isLetterOrDigit)
    })
    // the served id sequence is the batch bpe_encode row (same ids,
    // same order), and a novel character maps to the unk signal
    val encBatch = TextAnalysis.bpeEncode(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ids")).toMap
    docs.foreach { r =>
      val exp = encBatch.getOrElse(r.getLong(0), "")
      assert(counter.encode(r.getString(1)).mkString(" ") == exp,
        s"doc ${r.getLong(0)}")
    }
    // corpus-derived text can never hit the unk signal: every
    // qualifying char is in the trained alphabet
    assert(docs.forall(r => counter.encode(r.getString(1)).forall(_ >= 0L)))
  }

  test("embedded shards with corpus-global stats scatter-gather to the exact unsharded result") {
    val emb = PointServe.loadEmbedded(spark, sf)
    val queries = Seq(operators.Bm25.DefaultQuery, "spark join",
      "vector index search", "window")
    Seq(2, 3).foreach { s =>
      val shs = emb.shards(s)
      queries.foreach { q =>
        assert(PointServe.mergeHits(shs.map(_.bm25(q, 10)), 10) ==
          emb.bm25(q, 10), s"bm25 s=$s q='$q'")
        assert(PointServe.mergeHits(shs.map(_.textSearch(q, 10)), 10) ==
          emb.textSearch(q, 10), s"text s=$s q='$q'")
      }
      assert(PointServe.mergeHits(
        shs.map(_.sparse(operators.Bm25.SparseQuery, 10)), 10) ==
        emb.sparse(operators.Bm25.SparseQuery, 10), s"sparse s=$s")
      // more-like scatter: the anchor's profile ships, every shard
      // (including ones where the anchor is NOT resident) scores its
      // slice, the gather is exact
      (5L to 9L).foreach { anchor =>
        val pr = emb.anchorProfile(anchor)
        assert(pr.isDefined, s"anchor $anchor resident")
        assert(PointServe.mergeHits(
          shs.map(_.moreLikeFrom(pr.get, anchor, 10)), 10) ==
          emb.moreLike(anchor, 10), s"moreLike s=$s anchor=$anchor")
      }
      assert(emb.anchorProfile(-42L).isEmpty)
      val n = 20
      (0L until 4L).foreach { qid =>
        assert(PointServe.mergeHits(
          shs.map(_.semantic(queryVecs(qid), n, excludeId = qid)), n) ==
          emb.semantic(queryVecs(qid), n, excludeId = qid), s"dense s=$s q=$qid")
        // sharded hybrid: merge each branch to its GLOBAL ranks, then
        // fuse — branch merges are exact, so the fusion reads the
        // identical rank lists the unsharded server feeds it
        val q = operators.Bm25.DefaultQuery
        val fused = PointServe.rrfFuse(Seq(
          PointServe.mergeHits(shs.map(_.semantic(queryVecs(qid), n, excludeId = qid)), n),
          PointServe.mergeHits(shs.map(_.bm25(q, n)), n),
          PointServe.mergeHits(shs.map(_.textSearch(q, n)), n)), 10)
        assert(fused == emb.hybridRrf(queryVecs(qid), qid, q, 10),
          s"hybrid s=$s q=$qid")
      }
    }
  }

  test("ANN-backed hybrid dense branch holds the overlap floor vs the brute-parity hybrid") {
    val emb = PointServe.loadEmbedded(spark, sf)
    val g = PointServe.loadGraph(spark, sf)
    val q = operators.Bm25.DefaultQuery
    val overlaps = (0L until 8L).map { qid =>
      val brute = emb.hybridRrf(queryVecs(qid), qid, q, 10).map(_.vecId).toSet
      val ann = emb.hybridRrfDense(
        g.query(queryVecs(qid), k = 20, excludeId = qid), q, 10)
        .map(_.vecId).toSet
      assert(ann.size == brute.size, s"q=$qid sizes")
      brute.intersect(ann).size.toDouble / brute.size
    }
    val mean = overlaps.sum / overlaps.length
    assert(mean >= 0.8, s"mean fused overlap@10 $mean, per-query $overlaps")
  }

  test("bpe memo cap bounds resident growth without changing results") {
    val (merges, pid, _) = operators.TextAnalysis.bpeModel(spark, sf)
    val pm = new java.util.HashMap[String, Long]()
    pid.foreach { case (p, i) => pm.put(p, i) }
    val mergesArr = merges.map { case (_, l, r, _) => (l, r) }.toArray
    val capped = new PointServe.Bpe(mergesArr, pm, memoMax = 4)
    val free = new PointServe.Bpe(mergesArr, pm)
    val words = (0 until 64).map(i => s"novelword${i}xyz")
    words.foreach(w => assert(capped.count(w) == free.count(w), w))
    val after = capped.residentBytes
    (64 until 256).foreach(i => capped.count(s"novelword${i}xyz"))
    assert(capped.residentBytes == after,
      "capped memo must stop growing past the bound")
    assert(free.residentBytes > after,
      "uncapped twin keeps absorbing the novel vocabulary")
    // capped entries still serve: results stay correct with and
    // without a memo hit
    words.foreach(w => assert(capped.count(w) == free.count(w), w))
  }

  test("bpe encode marks a piece outside the trained id table with -1") {
    // the table lacks 'z': "abz" merges to (ab, z) and 'z' must carry
    // the unk id, not the id of whichever piece holds 0
    val pid = new java.util.HashMap[String, Long]()
    Seq("a" -> 0L, "b" -> 1L, "c" -> 2L, "ab" -> 3L).foreach { case (p, i) => pid.put(p, i) }
    val bpe = new PointServe.Bpe(Array(("a", "b")), pid)
    assert(bpe.encode("abz cab").toSeq == Seq(3L, -1L, 2L, 3L))
    assert(bpe.count("abz cab") == ((2L, 4L)))
  }
}
