package graft

import graft.operators.VectorSearch

class VectorSearchSpec extends GraftSuite {

  test("semantic top-k returns k descending-scored neighbors") {
    val rows = VectorSearch.semanticTopK(spark, sf, qid = 0, k = 20).collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Long]("score")).toSeq
    assert(scores == scores.sortBy(-_))
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(0L))
  }

  test("binary quantization hamming search is ascending in distance") {
    val rows = VectorSearch.binaryQuantize(spark, sf).collect()
    assert(rows.length == 20)
    val h = rows.map(_.getAs[Long]("hamming")).toSeq
    assert(h == h.sorted)
    assert(h.forall(d => d >= 0 && d <= 64))
  }

  test("multi-stage rescore recovers most of brute-force top-10") {
    val brute = VectorSearch.semanticTopK(spark, sf, qid = 0, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val staged = VectorSearch.multiStage(spark, sf, qid = 0, coarseK = 100, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(staged.size == 10)
    // coarse hamming stage keeps >= half of the true neighbors at 20% width
    assert((brute intersect staged).size >= 5)
  }

  test("multi-stage default pool is scale-relative (rescore_ratio 0.1), floor holds") {
    // the r7 PQ finding applied to the sibling entry: an absolute
    // coarseK silently shrinks as a fraction of a growing corpus, so
    // the default resolves from corpus size (quantization.rs:17
    // rescore_ratio: 0.1) — clamp(100, ceil(0.1 n), 100000)
    assert(VectorSearch.msCoarseKFor(500) == 100)    // floor binds
    assert(VectorSearch.msCoarseKFor(50000) == 5000) // ratio regime
    assert(VectorSearch.msCoarseKFor(5000000) == 100000) // broadcast cap
    val brute = VectorSearch.semanticTopK(spark, sf, qid = 0, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val staged = VectorSearch.multiStage(spark, sf, qid = 0, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (brute intersect staged).size.toDouble / brute.size
    println(f"[ann-recall] multistage=$recall%.3f (floor 0.6, auto pool)")
    assert(recall >= 0.6, f"multistage recall $recall%.3f under floor at the auto default")
  }

  test("batched ANN ranks 5 neighbors for each of 8 queries") {
    val rows = VectorSearch.annTopKBatch(spark, sf).collect()
    assert(rows.length == 40)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 8)
    byQuery.values.foreach { g =>
      assert(g.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 5L))
    }
  }

  test("threshold search returns exactly the above-floor prefix of brute force") {
    val t = 0.25
    val floor = math.round(t * 10000)
    val got = VectorSearch.semanticTopKThreshold(spark, sf, qid = 0, threshold = t, k = 20)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("score"))).toSeq
    assert(got.nonEmpty && got.forall(_._2 >= floor))
    val brute = VectorSearch.semanticTopK(spark, sf, qid = 0, k = 500)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("score")))
      .filter(_._2 >= floor).take(20).toSeq
    assert(got == brute)
  }

  test("filtered search only returns allowed labels and pushes the filter to the scan") {
    val rows = VectorSearch.semanticTopKFiltered(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Seq(1, 3, 5).contains(r.getAs[Int]("label"))))
    val plan = VectorSearch.semanticTopKFiltered(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(label"),
      s"label filter not pushed:\n$plan")
  }

  test("mock embedder emits unit vectors and identical texts collide at cosine 1") {
    import org.apache.spark.sql.functions._
    import graft.operators.Embeddings
    import graft.functions.VectorFunctions.cosineSimilarity
    val e = Tables.documents(spark, sf)
      .select(col("doc_id"), Embeddings.embed(col("text"), 64).as("emb"),
        md5(col("text")).as("ch"))
    val rows = e.select(col("doc_id"), col("ch"),
      sqrt(aggregate(col("emb"), lit(0.0), (a, x) => a + x * x)).as("norm")).collect()
    assert(rows.forall(r => math.abs(r.getAs[Double]("norm") - 1.0) < 1e-9))
    // identical contents must embed identically → cosine exactly 1
    import spark.implicits._
    val twice = Seq("some repeated text", "some repeated text", "different text")
      .toDF("text").select(Embeddings.embed(col("text"), 64).as("emb"))
    val vecs = twice.collect().map(_.getSeq[Double](0))
    assert(vecs(0) == vecs(1))
    assert(vecs(0) != vecs(2))
  }

  test("native nearest-centroid matches the relational array_sort argmin") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cents = corpus.filter(col("vec_id") % 61 === 0)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("emb").as("cemb"))).as("cents"))
    val both = corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        column(graft.functions.expressions.NearestCentroid(
          expression(col("emb")), expression(col("cents")))).as("native"),
        element_at(array_sort(transform(col("cents"), c =>
          struct(
            aggregate(zip_with(col("emb"), c.getField("cemb"), (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, x) => acc + x).as("dist"),
            c.getField("cid").as("cid")))), 1).getField("cid").as("relational"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}"))
  }

  test("IVF probe recovers most of the exact top-k from nprobe cells") {
    val ivf = VectorSearch.annIvf(spark, sf, k = 10).collect()
    assert(ivf.length == 10)
    val scores = ivf.map(_.getAs[Long]("score")).toSeq
    assert(scores == scores.sortBy(-_))
    val brute = VectorSearch.semanticTopK(spark, sf, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val got = ivf.map(_.getAs[Long]("vec_id")).toSet
    // probing nprobe of ~nlist cells must still recover a good share
    assert((brute intersect got).size >= 3,
      s"IVF recall too low: ${(brute intersect got).size}/10")
  }

  test("two-level IVF plans broadcasts only: no corpus exchange, fine cells broadcast-joined") {
    val plan = VectorSearch.annIvf(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"fine-cell join not broadcast:\n$plan")
    // the only exchanges allowed are broadcast exchanges (centroid/query
    // sides) — the corpus itself must never shuffle
    val shuffles = "(?m)^.*ShuffleExchange.*$".r.findAllIn(plan).toList
    assert(shuffles.isEmpty, s"unexpected corpus shuffle:\n${shuffles.mkString("\n")}")
  }

  /** VERDICT r1 #4: make the HNSW-replacement claim measurable — both
    * approximate paths must hold a recall floor against their
    * brute-force twins, and the number is printed for the record.
    */
  test("ANN recall harness: lsh and ivf recall@k vs brute force >= 0.6") {
    // ivf: single-query recall@10
    val bruteIvf = VectorSearch.semanticTopK(spark, sf, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val ivf = VectorSearch.annIvf(spark, sf, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val ivfRecall = (bruteIvf intersect ivf).size.toDouble / bruteIvf.size
    // lsh: batched recall@5 over 8 queries
    val bruteBatch = VectorSearch.annTopKBatch(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val lsh = VectorSearch.annLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val lshRecall = (bruteBatch intersect lsh).size.toDouble / bruteBatch.size
    info(f"recall@10 ivf=$ivfRecall%.3f  recall@5x8 lsh=$lshRecall%.3f")
    println(f"[ann-recall] ivf=$ivfRecall%.3f lsh=$lshRecall%.3f (floor 0.6)")
    assert(ivfRecall >= 0.6, f"ivf recall $ivfRecall%.3f under floor")
    assert(lshRecall >= 0.6, f"lsh recall $lshRecall%.3f under floor")
  }

  test("knn graph: hash-exact within probes, recall floor vs the brute graph") {
    val out = VectorSearch.annKnnGraph(spark, sf).collect()
    // shape: ranks 1..k contiguous per vector, no self-edges
    out.groupBy(_.getAs[Long]("vec_id")).foreach { case (v, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to rows.length).toSeq, s"vec $v ranks")
      assert(rows.forall(_.getAs[Long]("neighbor_id") != v), s"vec $v self-edge")
    }
    // exact brute-force graph, driver-side (500 x 500 at suite SF)
    val embs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val k = VectorSearch.KnnGraphK
    val brute = embs.map { case (v, e) =>
      v -> embs.filter(_._1 != v)
        .map { case (u, f) => (u, cos(e, f)) }
        .sortBy { case (u, s) => (-s, u) }.take(k).map(_._1).toSet
    }.toMap
    val got = out.groupBy(_.getAs[Long]("vec_id")).view
      .mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val recall = embs.map { case (v, _) =>
      (brute(v) intersect got.getOrElse(v, Set.empty)).size.toDouble / k
    }.sum / embs.length
    info(f"knn-graph recall@$k = $recall%.3f (radius ${VectorSearch.KnnGraphRadius})")
    println(f"[knn-graph-recall] $recall%.3f")
    assert(recall >= 0.5,
      f"knn-graph recall $recall%.3f under floor on the near-random synthetic corpus")
  }

  test("knn graph hot buckets salt-subdivide: capped path matches a full driver replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 64
    val n = 600
    val vecs = (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val (k, radius, cap) = (3, 1, 4)
    val out = VectorSearch
      .annKnnGraphFromVecs(vecs.toDF("vec_id", "emb"), k, radius, cap, "spec.knn")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("score"))).toSeq
    // independent driver replay of signature, salting and ranking,
    // bit-matching the native kernels' accumulation order
    val planes = VectorSearch.lshPlanes(dim,
      VectorSearch.AnnLshPlanes + VectorSearch.KnnSaltPlanes)
    def sig(v: Array[Double], ps: Array[Array[Int]]): Long = {
      var s = 0L; var j = 0
      while (j < ps.length) {
        var dot = 0.0; var d = 0
        while (d < dim) { dot += v(d) * ps(j)(d).toDouble; d += 1 }
        if (dot > 0.0) s |= 1L << j
        j += 1
      }
      s
    }
    def cosFx(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000L + 0.5).toLong
    }
    val bucket = vecs.map { case (id, v) =>
      id -> sig(v, planes.take(VectorSearch.AnnLshPlanes)) }.toMap
    val salt = vecs.map { case (id, v) =>
      id -> sig(v, planes.drop(VectorSearch.AnnLshPlanes)) }.toMap
    val bn = bucket.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(bn.values.exists(_ > cap), "synthetic corpus must contain over-cap buckets")
    val masks = VectorSearch.lshProbeMasks(VectorSearch.AnnLshPlanes, radius)
    val byId = vecs.toMap
    val expected = vecs.flatMap { case (q, qv) =>
      val cands = vecs.collect { case (c, _) if c != q &&
        masks.exists { m =>
          val b = bucket(q) ^ m
          bucket(c) == b && {
            val probeKey = if (bn.getOrElse(b, 0L) > cap) salt(q) else 0L
            val candKey = if (bn(bucket(c)) > cap) salt(c) else 0L
            candKey == probeKey
          }
        } => c
      }
      cands.map(c => (c, cosFx(qv, byId(c))))
        .sortBy { case (c, s) => (-s, c) }.take(k).zipWithIndex
        .map { case ((c, s), i) => (q, (i + 1).toLong, c, s) }
    }
    assert(out.sorted == expected.sorted,
      "capped knn graph must equal the driver replay of the salted candidate rule")
  }

  test("multi-probe LSH recovers true neighbors from the probed buckets") {
    val rows = VectorSearch.annLsh(spark, sf).collect()
    assert(rows.nonEmpty)
    // every returned neighbor scores above random-pair expectation
    val brute = VectorSearch.annTopKBatch(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val lsh = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    // bucketed probe recovers a nonzero share of true top-5
    assert((brute intersect lsh).nonEmpty)
  }

  test("scale-relative rescore pool: floor, fraction, ceiling") {
    import VectorSearch.{pqCoarseKFor, PqCoarseK, PqCoarseMax}
    assert(pqCoarseKFor(0L) == PqCoarseK)
    assert(pqCoarseKFor(2000L) == PqCoarseK)       // 5% = floor exactly
    assert(pqCoarseKFor(20000L) == 1000)           // the r7 sf1 recovery pool
    assert(pqCoarseKFor(200000L) == 10000)
    assert(pqCoarseKFor(1000000000L) == PqCoarseMax, "broadcast-bounded ceiling")
  }

  test("ann_pq ADC+rescore recovers exact-L2 neighbors, distances ascending") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.l2DistanceSq
    val rows = VectorSearch.annPq(spark, sf, qid = 0, k = 20).collect()
    assert(rows.length == 20)
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(0L))
    val dists = rows.map(_.getAs[Long]("dist")).toSeq
    assert(dists == dists.sorted)
    // recall vs the exact-L2 brute-force twin (PQ approximates L2, so
    // that — not cosine — is the right oracle)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = emb.filter(col("vec_id") === 0).select(col("emb").as("qv"))
    val brute = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), l2DistanceSq(col("emb"), col("qv")).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(20).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val got = rows.map(_.getAs[Long]("vec_id")).toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    println(f"[ann-recall] pq=$recall%.3f (floor 0.7)")
    // measured 0.90 on this near-random corpus (ADC-only was 0.50:
    // the rescore pass is what buys the headroom)
    assert(recall >= 0.7, f"pq recall $recall%.3f under floor")
  }

  test("ivf-pq composes probe routing with ADC scoring; recall floor holds") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.l2DistanceSq
    val rows = VectorSearch.annIvfPq(spark, sf, qid = 0, k = 10).collect()
    assert(rows.length == 10 && rows.forall(_.getAs[Long]("vec_id") != 0L))
    val ds = rows.map(_.getAs[Long]("dist"))
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, "ascending L2")
    // every hit must come from the probed IVF candidate set: it must
    // also appear in the plain IVF search over the same probes at
    // unbounded k... equivalently, ivf-pq ⊆ ivf candidates. Cheap
    // proxy: the exact-rescored ivf-pq top-10 against brute L2.
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = emb.filter(col("vec_id") === 0).select(col("emb").as("qv"))
    val brute = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), l2DistanceSq(col("emb"), col("qv")).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val got = rows.map(_.getAs[Long]("vec_id")).toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    println(f"[ann-recall] ivfpq=$recall%.3f")
    // measured 0.90 (probe misses x ADC error compound, but the
    // rescore pass recovers ordering inside the probed set)
    assert(recall >= 0.6,
      f"ivf-pq recall $recall%.3f under floor")
  }

  /** VERDICT r4 #6: the floors must not decay with data volume — the
    * same recall computations at sf0.1 (10x the suite's default
    * SF), so bucket occupancy, cell sizes and codebook coverage are
    * exercised at a different corpus scale than the one the
    * parameters were tuned on.
    */
  test("ANN recall floors hold at sf0.1: lsh/ivf >= 0.6, pq >= 0.7") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.l2DistanceSq
    val big = "/root/testdata/sf0.1"
    val bruteIvf = VectorSearch.semanticTopK(spark, big, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val ivf = VectorSearch.annIvf(spark, big, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val ivfRecall = (bruteIvf intersect ivf).size.toDouble / bruteIvf.size
    val bruteBatch = VectorSearch.annTopKBatch(spark, big).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val lsh = VectorSearch.annLsh(spark, big).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val lshRecall = (bruteBatch intersect lsh).size.toDouble / bruteBatch.size
    val emb = Tables.embeddings(spark, big)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = emb.filter(col("vec_id") === 0).select(col("emb").as("qv"))
    val bruteL2Ranked = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), l2DistanceSq(col("emb"), col("qv")).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(20).collect()
      .map(_.getAs[Long]("vec_id"))
    val bruteL2 = bruteL2Ranked.toSet
    val pq = VectorSearch.annPq(spark, big, qid = 0, k = 20).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val pqRecall = (bruteL2 intersect pq).size.toDouble / bruteL2.size
    // IVF-PQ recall@10 vs exact L2; multistage at its auto pool (no
    // coarseK) vs the cosine brute top-10 the IVF figure uses
    val bruteL2Top10 = bruteL2Ranked.take(10).toSet
    val ivfpq = VectorSearch.annIvfPq(spark, big, qid = 0, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val ivfpqRecall = (bruteL2Top10 intersect ivfpq).size.toDouble / bruteL2Top10.size
    val ms = VectorSearch.multiStage(spark, big, qid = 0, k = 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val msRecall = (bruteIvf intersect ms).size.toDouble / bruteIvf.size
    println(f"[ann-recall sf0.1] ivf=$ivfRecall%.3f lsh=$lshRecall%.3f pq=$pqRecall%.3f" +
      f" ivfpq=$ivfpqRecall%.3f multistage=$msRecall%.3f")
    assert(ivfRecall >= 0.6, f"ivf recall $ivfRecall%.3f under floor at sf0.1")
    assert(lshRecall >= 0.6, f"lsh recall $lshRecall%.3f under floor at sf0.1")
    assert(pqRecall >= 0.7, f"pq recall $pqRecall%.3f under floor at sf0.1")
    assert(ivfpqRecall >= 0.6, f"ivf-pq recall $ivfpqRecall%.3f under floor at sf0.1")
    assert(msRecall >= 0.6, f"multistage recall $msRecall%.3f under floor at sf0.1 (auto pool)")
  }

  test("ann_pq plans broadcasts only: the corpus never shuffles") {
    val plan = VectorSearch.annPq(spark, sf).queryExecution.executedPlan.toString
    val shuffles = "(?m)^.*ShuffleExchange.*$".r.findAllIn(plan).toList
    assert(shuffles.isEmpty, s"unexpected corpus shuffle:\n${shuffles.mkString("\n")}")
  }
}
