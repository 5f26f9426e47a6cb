package graft

import graft.operators.VectorSearch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-SF ANN recall sweep — the evidence harness behind the recall
  * figures SURVEY §5 records (the r7 sf1 sweep that caught the
  * kNN-graph clone-collapse ran this derivation by hand; r8 makes it
  * a repeatable main). For a panel of query ids it measures
  * recall@k of the approximate families against their exact
  * brute-force twins AT UNTOUCHED DEFAULTS — so a default that stops
  * scaling (the r7 PQ coarseK finding) shows up as a dropped floor
  * here, not in production.
  *
  * Usage: runMain graft.RecallSweep <sfDir> [nQueries]
  * Prints one JSON line:
  * {"sf":…,"n":…,"pq":…,"ivfpq":…,"ivf":…,"ms":…,"graph":…,"coarse_k":…,"ms_coarse_k":…}
  */
object RecallSweep {

  private def bruteL2(emb: DataFrame, qid: Long, k: Int): Set[Long] = {
    import graft.functions.VectorFunctions.l2DistanceSq
    val q = emb.filter(col("vec_id") === qid).select(col("emb").as("qv"))
    emb.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), l2DistanceSq(col("emb"), col("qv")).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(k).collect()
      .map(_.getAs[Long]("vec_id")).toSet
  }

  private def recallOf(got: Set[Long], brute: Set[Long]): Double =
    if (brute.isEmpty) 1.0 else (brute intersect got).size.toDouble / brute.size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nQueries = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .persist()
      val n = emb.count()
      // spread the query panel over the id space (clone-replicated SFs
      // repeat low ids; an all-low panel would under-sample) — by
      // POSITION over the actual sorted ids, not by id arithmetic:
      // clone-offset corpora (make_sfx +10M per copy) have sparse id
      // spaces, and an arithmetic panel lands on NONEXISTENT ids whose
      // empty brute sets score a vacuous recall of 1.0 (r9 finding:
      // 7 of r8's 8 sf1 panel queries were vacuous this way)
      val allIds = emb.select(col("vec_id")).orderBy(col("vec_id"))
        .collect().map(_.getLong(0))
      val qids = (0 until nQueries).map(i =>
        allIds((i.toLong * (n / nQueries.toLong)).toInt min (allIds.length - 1)))
      def mean(xs: Seq[Double]) = xs.sum / xs.length
      val pq = mean(qids.map { qid =>
        val got = VectorSearch.annPq(spark, sfDir, qid, k = 20).collect()
          .map(_.getAs[Long]("vec_id")).toSet
        recallOf(got, bruteL2(emb, qid, 20))
      })
      val ivfpq = mean(qids.map { qid =>
        val got = VectorSearch.annIvfPq(spark, sfDir, qid, k = 10).collect()
          .map(_.getAs[Long]("vec_id")).toSet
        recallOf(got, bruteL2(emb, qid, 10))
      })
      val ivf = mean(qids.map { qid =>
        val got = VectorSearch.annIvf(spark, sfDir, qid, k = 10).collect()
          .map(_.getAs[Long]("vec_id")).toSet
        recallOf(got, bruteL2(emb, qid, 10))
      })
      // multi-stage at the UNTOUCHED AutoCoarseK default (r9: the
      // r7 PQ-collapse class guard now covers the sibling entry)
      val ms = mean(qids.map { qid =>
        val got = VectorSearch.multiStage(spark, sfDir, qid, k = 10).collect()
          .map(_.getAs[Long]("vec_id")).toSet
        recallOf(got, bruteL2(emb, qid, 10))
      })
      // graph index at the fixed GraphEf (48) via the serving-tier greedy
      // walk over the persisted kNN layout (the r7 clone-collapse was
      // found by hand; this re-measures it every round)
      val graphIdx = graft.sources.PointServe.loadGraph(spark, sfDir)
      val qvs = emb.filter(col("vec_id").isin(qids: _*))
        .collect().map(r => r.getAs[Long]("vec_id") ->
          r.getAs[Seq[Double]]("emb").toArray).toMap
      val graph = mean(qids.map { qid =>
        val got = graphIdx.query(qvs(qid), k = 10, excludeId = qid)
          .map(_.vecId).toSet
        recallOf(got, bruteL2(emb, qid, 10))
      })
      // sharded graphs (r10): each id-hash shard builds its OWN kNN
      // graph over its slice (the distributed-ANN deployment shape —
      // per-shard index, per-shard walk, exact gather re-rank); the
      // merged top-k recall vs brute is the figure the 100 TB dense
      // serving story rests on, measured per SF at the fixed GraphEf
      val nShards = 4
      val shardDirs = (0 until nShards).map { s =>
        val p = java.nio.file.Files.createTempDirectory(s"gshard$s")
          .toFile.getAbsolutePath + "/graph"
        graft.sources.VectorIndex.buildKnnGraphIndexFromVecs(spark,
          emb.filter(col("vec_id") % nShards === s)
            .select(col("vec_id"), col("emb").as("embedding")), p)
        p
      }
      val shardGraphs = shardDirs.map(p =>
        graft.sources.PointServe.loadGraphFrom(spark, p))
      val graphSharded = mean(qids.map { qid =>
        val got = graft.sources.PointServe.mergeHits(
          shardGraphs.map(_.query(qvs(qid), k = 10, excludeId = qid)), 10)
          .map(_.vecId).toSet
        recallOf(got, bruteL2(emb, qid, 10))
      })
      // served ANN-backed hybrid (r10): fused-overlap@10 of the
      // graph-dense-branch hybrid vs the brute-parity hybrid, at the
      // SAME fixed GraphEf the QPS record quotes — the recall contract
      // measured at the SF where the speed claim is made, not just at
      // the spec's unit scale
      val served = graft.sources.PointServe.loadEmbedded(spark, sfDir)
      val hq = operators.Bm25.DefaultQuery
      val hybridAnn = mean(qids.map { qid =>
        val brute = served.hybridRrf(qvs(qid), qid, hq, 10).map(_.vecId).toSet
        val ann = served.hybridRrfDense(
          graphIdx.query(qvs(qid), k = 20, excludeId = qid), hq, 10)
          .map(_.vecId).toSet
        recallOf(ann, brute)
      })
      val ck = VectorSearch.pqCoarseKFor(n)
      val msk = VectorSearch.msCoarseKFor(n)
      def f(x: Double) = String.format(java.util.Locale.ROOT, "%.3f",
        java.lang.Double.valueOf(x))
      println(s"""{"sf":"$sfDir","n":$n,"queries":$nQueries,""" +
        s""""coarse_k":$ck,"ms_coarse_k":$msk,"pq":${f(pq)},""" +
        s""""ivfpq":${f(ivfpq)},"ivf":${f(ivf)},"ms":${f(ms)},"graph":${f(graph)},""" +
        s""""graph_sharded_s$nShards":${f(graphSharded)},""" +
        s""""hybrid_ann_overlap":${f(hybridAnn)}}""")
    } finally spark.stop()
  }
}
