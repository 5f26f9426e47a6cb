package graft.operators

import graft.{OpCache, OracleNum, Tables}
import graft.functions.VectorFunctions._
import graft.plans.ScoreTag
import graft.functions.TextFunctions.hash60Sql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense vector search re-expressed as Spark plans.
  *
  * Reference surface: semantic_search (grape-vector-db src/lib.rs:403,
  * src/query.rs), binary quantization + multi-stage search
  * (src/quantization.rs:151), batched ANN.
  *
  * Scale design: the query side is always a tiny broadcast relation;
  * the corpus side is a straight parquet scan. Top-k is expressed as
  * orderBy+limit so Spark plans TakeOrderedAndProject (per-partition
  * heaps, O(k) merge on the driver — no global sort shuffle). The LSH
  * variant buckets the corpus by a Rademacher-hyperplane signature so
  * each probe touches ~corpus/2^planes rows: that is the 100 TB path.
  */
object VectorSearch {
  import OracleNum.{fx, fxSql}

  private def embCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))

  /** One-row broadcast relation holding the query vector. */
  private def queryVec(spark: SparkSession, dir: String, qid: Long): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === qid)
      .select(toDouble(col("embedding")).as("qv"))

  /** Brute-force cosine top-k for a single query vector (the
    * correctness baseline every ANN variant is measured against).
    */
  def semanticTopK(spark: SparkSession, dir: String, qid: Long = 0, k: Int = 20): DataFrame =
    embCorpus(spark, dir)
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(queryVec(spark, dir, qid)))
      .select(col("vec_id"), fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** Brute-force cosine top-k for a RAW query vector — the tail of
    * the reference's embed-then-search text entry (lib.rs:403
    * semantic_search embeds the query string, then searches with the
    * resulting vector). The vector rides the plan as a literal (a
    * few hundred bytes — the one thing that is ALWAYS broadcastable),
    * so the plan is the same single corpus scan + TakeOrdered as
    * [[semanticTopK]] with the query-row join removed.
    */
  def semanticTopKVec(spark: SparkSession, dir: String, qv: Array[Double],
                      k: Int = 20): DataFrame =
    embCorpus(spark, dir)
      .select(col("vec_id"),
        fx(cosineSimilarity(col("emb"), lit(qv))).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** [[semanticTopK]] restricted to an allowed-id relation (one
    * `doc_id` column) — the gate joins BEFORE the top-k, so the k
    * survivors all satisfy the filter (filtered-search semantics, not
    * filter-after-rank). The id relation is corpus-fraction-sized:
    * shuffle_hash on the shared id key, never broadcast.
    */
  def semanticTopKGated(spark: SparkSession, dir: String, allowedIds: DataFrame,
                        qid: Long = 0, k: Int = 20): DataFrame =
    embCorpus(spark, dir)
      .join(allowedIds.select(col("doc_id").as("vec_id")).hint("shuffle_hash"),
        Seq("vec_id"))
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(queryVec(spark, dir, qid)))
      .select(col("vec_id"), fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  def semanticTopKSql(qid: Long = 0, k: Int = 20): String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $qid)
       |SELECT e.vec_id,
       |  ${fxSql(cosineSql("e.embedding::DOUBLE[]", "q.qv"))} AS score
       |FROM embeddings e, q
       |WHERE e.vec_id <> $qid
       |ORDER BY score DESC, e.vec_id
       |LIMIT $k""".stripMargin

  /** Filtered vector search (reference src/types.rs:119
    * SearchRequest.filter: metadata predicate applied WITH the
    * search): cosine top-k restricted to matching labels. The
    * predicate sits between scan and scoring, so Catalyst pushes it
    * into the parquet scan (PushedFilters: In(label, ...)) — at scale
    * only matching row groups are read and only survivors are scored,
    * exactly the candidate-filtering the reference does in-engine.
    */
  def semanticTopKFiltered(spark: SparkSession, dir: String, qid: Long = 0,
                           labels: Seq[Int] = Seq(1, 3, 5), k: Int = 20): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("label").isin(labels: _*))
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("emb"))
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(queryVec(spark, dir, qid)))
      .select(col("vec_id"), col("label"),
        fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  def semanticTopKFilteredSql(qid: Long = 0, labels: Seq[Int] = Seq(1, 3, 5),
                              k: Int = 20): String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $qid)
       |SELECT e.vec_id, e.label,
       |  ${fxSql(cosineSql("e.embedding::DOUBLE[]", "q.qv"))} AS score
       |FROM embeddings e, q
       |WHERE e.label IN (${labels.mkString(", ")}) AND e.vec_id <> $qid
       |ORDER BY score DESC, e.vec_id
       |LIMIT $k""".stripMargin

  /** Threshold-gated vector search (reference src/query_engine.rs:121
    * `vector_search(query, limit, threshold)`; default_threshold at
    * :27): only candidates at or above the similarity floor are
    * returned, capped at `limit`. The floor compares the FIXED-POINT
    * score (the same [[graft.OracleNum.fx]] quantization the result
    * reports), so the gate is bit-identical cross-engine — a raw
    * float comparison could disagree with the reported score at the
    * boundary. The reference's 0.7 default assumes unit-normalized
    * real-model embeddings; the synthetic corpus tops out near 0.37,
    * so the entry parameterizes the floor at 0.25 (same semantics,
    * reachable distribution). The predicate sits under the
    * TakeOrderedAndProject, so at scale most of the corpus is
    * discarded map-side before the top-k heaps ever see it.
    */
  def semanticTopKThreshold(spark: SparkSession, dir: String, qid: Long = 0,
                            threshold: Double = 0.25, k: Int = 20): DataFrame = {
    val floor = math.round(threshold * 10000)
    embCorpus(spark, dir)
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(queryVec(spark, dir, qid)))
      .select(col("vec_id"), fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
      .filter(col("score") >= floor)
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  def semanticTopKThresholdSql(qid: Long = 0, threshold: Double = 0.25,
                               k: Int = 20): String = {
    val floor = math.round(threshold * 10000)
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $qid)
       |SELECT e.vec_id,
       |  ${fxSql(cosineSql("e.embedding::DOUBLE[]", "q.qv"))} AS score
       |FROM embeddings e, q
       |WHERE e.vec_id <> $qid
       |  AND ${fxSql(cosineSql("e.embedding::DOUBLE[]", "q.qv"))} >= $floor
       |ORDER BY score DESC, e.vec_id
       |LIMIT $k""".stripMargin
  }

  /** DuckDB cosine with the same sequential-sum semantics as
    * [[graft.functions.VectorFunctions.cosineSimilarity]].
    */
  def cosineSql(a: String, b: String): String =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"

  /** Sign-bit binary quantization + Hamming similarity vs one query
    * (reference src/quantization.rs:86,130). 64-dim corpus → each
    * vector packs into a single BIGINT word; similarity = 1 - d/64.
    */
  def binaryQuantize(spark: SparkSession, dir: String, qid: Long = 0, k: Int = 20): DataFrame = {
    val packed = embCorpus(spark, dir)
      .select(col("vec_id"), packSignBits(col("emb"), 64).as("bits"))
    val q = packed.filter(col("vec_id") === qid).select(col("bits").as("qbits"))
    packed
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        hammingDistance(col("bits"), col("qbits")).as("hamming"),
        fx(hammingSimilarity(col("bits"), col("qbits"), 64)).as("similarity"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(k)
  }

  /** DuckDB pack of sign bits into 32-bit words (list of 2 BIGINTs
    * for dim 64); i is 1-based in list_transform.
    */
  def packBitsSql(e: String): String = {
    val words = (0 until 2).map { w =>
      s"list_sum(list_transform(list_slice($e, ${w * 32 + 1}, ${w * 32 + 32}), (x, i) -> CASE WHEN x > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))::BIGINT"
    }
    words.mkString("[", ", ", "]")
  }

  /** DuckDB hamming over two packed word lists. */
  def hammingSql(a: String, b: String): String =
    s"(bit_count(xor($a[1], $b[1])) + bit_count(xor($a[2], $b[2])))"

  def binaryQuantizeSql(qid: Long = 0, k: Int = 20): String =
    s"""WITH packed AS (
       |  SELECT vec_id, ${packBitsSql("embedding")} AS bits FROM embeddings
       |), q AS (SELECT bits AS qbits FROM packed WHERE vec_id = $qid)
       |SELECT p.vec_id,
       |  ${hammingSql("p.bits", "q.qbits")}::BIGINT AS hamming,
       |  ${fxSql(s"1.0 - ${hammingSql("p.bits", "q.qbits")} / 64.0")} AS similarity
       |FROM packed p, q
       |WHERE p.vec_id <> $qid
       |ORDER BY hamming, p.vec_id
       |LIMIT $k""".stripMargin

  /** Multi-stage search (reference src/quantization.rs:151): coarse
    * Hamming top-N over packed bits (32x narrower scan), exact cosine
    * rescore of the surviving candidates only. The default pool is
    * SCALE-RELATIVE like the reference's `rescore_ratio: 0.1`
    * (quantization.rs:17/:27, applied at :178): an absolute pool
    * silently becomes a smaller corpus fraction as data grows (the
    * r7 PQ finding — recall 0.8 → 0.5 at 10×), so `coarseK =`
    * [[AutoCoarseK]] resolves to clamp([[PqCoarseK]],
    * ⌈[[MsCoarseFrac]]·corpus⌉, [[PqCoarseMax]]).
    */
  def multiStage(spark: SparkSession, dir: String, qid: Long = 0,
                 coarseK: Int = AutoCoarseK, k: Int = 10): DataFrame = {
    val ck = resolveMsCoarseK(spark, dir, coarseK)
    val corpus = embCorpus(spark, dir)
      .withColumn("bits", packSignBits(col("emb"), 64))
    val q = corpus.filter(col("vec_id") === qid)
      .select(col("emb").as("qv"), col("bits").as("qbits"))
    val coarse = corpus
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .withColumn("hamming", hammingDistance(col("bits"), col("qbits")))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(ck)
    coarse
      .select(col("vec_id"), fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  def multiStageSql(qid: Long = 0, coarseK: Int = AutoCoarseK, k: Int = 10): String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb, ${packBitsSql("embedding")} AS bits
       |  FROM embeddings
       |), q AS (SELECT emb AS qv, bits AS qbits FROM corpus WHERE vec_id = $qid),
       |coarse AS (
       |  SELECT c.vec_id, c.emb, q.qv
       |  FROM corpus c, q
       |  WHERE c.vec_id <> $qid
       |  ORDER BY ${hammingSql("c.bits", "q.qbits")}, c.vec_id
       |  LIMIT ${msCoarseKSql(coarseK)}
       |)
       |SELECT vec_id, ${fxSql(cosineSql("emb", "qv"))} AS score
       |FROM coarse
       |ORDER BY score DESC, vec_id
       |LIMIT $k""".stripMargin

  /** Rank a scored (query_id, vec_id, score) relation to per-query
    * top-k rows via the bounded TopKAgg aggregate: partial top-k
    * buffers aggregate MAP-SIDE, so the exchange carries only
    * partitions x k survivors per query instead of every scored pair
    * — the window row_number() alternative shuffles and sorts all of
    * them. Output ordering matches row_number over
    * (score DESC, vec_id ASC).
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.expressions.TopKAgg.topK
    scored
      .groupBy(col("query_id"))
      .agg(topK(col("score").cast("double"), col("vec_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("vec_id"), col("e.score").cast("long").as("score", ScoreTag.metadata))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Brute-force cosine top-k for a BATCH of query vectors: the query
    * set is broadcast, scoring is one map-only pass over the corpus,
    * ranking is the bounded map-side TopKAgg.
    */
  def annTopKBatch(spark: SparkSession, dir: String,
                   nQueries: Int = 8, k: Int = 5): DataFrame = {
    val corpus = embCorpus(spark, dir)
    val queries = embCorpus(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qv"))
    val scored = corpus
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
    rankTopK(scored, k)
  }

  def annTopKBatchSql(nQueries: Int = 8, k: Int = 5): String =
    s"""WITH queries AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id < $nQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    ${fxSql(cosineSql("e.embedding::DOUBLE[]", "q.qv"))} AS score
       |  FROM embeddings e, queries q
       |  WHERE e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, score
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Number of LSH hyperplanes (buckets = 2^Planes). */
  val LshPlanes = 6

  /** Deterministic Rademacher hyperplanes: component (j, d) is +-1
    * from one md5 bit, computed once on the driver and inlined as
    * literals — the DuckDB oracle embeds the same matrix, so both
    * engines bucket identically. `n` > [[LshPlanes]] extends the same
    * deterministic family (rows 0..LshPlanes-1 are always identical),
    * used by [[graft.operators.Dedup.embeddingPairs]] to salt
    * hot buckets with extra planes.
    */
  def lshPlanes(dim: Int, n: Int = LshPlanes): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(n, dim) { (j, d) =>
      val h = md.digest(s"graft-lsh:$j:$d".getBytes("UTF-8"))
      if ((h(0) & 0x80) != 0) -1 else 1
    }
  }

  /** LSH bucket signature for an embedding column: bit j of the
    * signature = sign of the projection onto hyperplane j.
    */
  def lshBucket(emb: Column, planes: Array[Array[Int]]): Column = {
    // native fused expression: the relational HOF form below crossed
    // an interpreted lambda per element PER PLANE (16 planes x 64 dims
    // made cold LSH banding a 12.8s map at sf0.1); parity with it is
    // spec-enforced bit-for-bit
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.expressions.HyperplaneSig(
      expression(emb), planes.map(_.toSeq).toSeq))
  }

  /** The relational HOF twin of [[lshBucket]], kept as the parity
    * oracle for the native expression (NativeExpressionPropertySpec).
    */
  private[graft] def lshBucketRelational(emb: Column, planes: Array[Array[Int]]): Column = {
    val bits = planes.zipWithIndex.map { case (plane, j) =>
      val proj = aggregate(
        zip_with(emb, lit(plane), (x, s) => x * s.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0.0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Plane count for the multi-probe ANN path (distinct from
    * [[LshPlanes]], which Dedup's banding shares): 2^8 = 256 buckets.
    */
  val AnnLshPlanes = 8

  /** Multi-probe radius: queries also probe buckets whose signature
    * differs in up to this many bits (Lv et al., "Multi-Probe LSH",
    * VLDB 2007). Radius 3 over 8 planes probes 93/256 buckets ≈ 36%
    * of the corpus — measured recall 0.65 on the synthetic corpus,
    * whose embeddings are near-random (recall tracks scan fraction
    * almost linearly, the information-theoretic floor for
    * structureless data). Real clustered embeddings (neighbor cosine
    * ≳ 0.85) take radius 1-2 for a much deeper cut at the same
    * recall; radius and plane count are the two knobs.
    */
  val LshProbeRadius = 3

  /** All signature XOR masks with popcount <= radius. */
  def lshProbeMasks(planes: Int = AnnLshPlanes, radius: Int = LshProbeRadius): Array[Long] =
    (0L until (1L << planes)).filter(m => java.lang.Long.bitCount(m) <= radius).toArray

  /** Multi-probe LSH ANN: the corpus is signed once into 2^8
    * hyperplane buckets ([[AnnLshPlanes]]); each query probes its own
    * bucket plus every bucket within Hamming radius [[LshProbeRadius]]
    * of its signature (the probe set rides the tiny broadcast query
    * side as an exploded XOR-mask list — the corpus is still touched
    * via one hash join on `bucket`, 93/256 ≈ 36% of it per query at
    * radius 3). The brute-force twin [[annTopKBatch]] is the recall
    * oracle; the recall harness in VectorSearchSpec holds the floor.
    */
  def annLsh(spark: SparkSession, dir: String,
             nQueries: Int = 8, k: Int = 5, radius: Int = LshProbeRadius): DataFrame = {
    val planes = lshPlanes(64, AnnLshPlanes)
    val masks = lshProbeMasks(AnnLshPlanes, radius)
    val corpus = embCorpus(spark, dir)
      .withColumn("bucket", lshBucket(col("emb"), planes))
    val queries = corpus
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qv"),
        explode(lit(masks)).as("mask"), col("bucket"))
      .select(col("query_id"), col("qv"),
        col("bucket").bitwiseXOR(col("mask")).as("bucket"))
    val scored = corpus
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
    rankTopK(scored, k)
  }

  /** k-NN graph fan-out and its multi-probe radius. The probe side is
    * corpus-sized, so fan-out is a direct cost multiplier — but this
    * synthetic corpus is near-random (neighbor cosine ≈ 0.35), where
    * recall tracks scan fraction almost linearly: radius 1 (9/256
    * buckets) measured 0.10 recall, radius 3 (93/256 ≈ 36%) 0.6+,
    * matching [[LshProbeRadius]]'s trade. Real clustered embeddings
    * collide much harder and take radius 1-2 for the same recall.
    */
  val KnnGraphK = 5
  val KnnGraphRadius = 3

  /** Corpus-wide k-NN GRAPH over the embedding table — every vector's
    * top-k cosine neighbors in ONE plan. This is the batch primitive
    * under graph ANN indexes (NN-Descent / HNSW layer seeding) and
    * SemDeDup-style semantic analysis; the reference builds its HNSW
    * neighbor lists vector-at-a-time in memory (src/index.rs:95-260),
    * which caps out at single-node RAM — the Spark shape is
    * bucket-blocked all-pairs: sign the corpus once into 2^8
    * hyperplane buckets (native kernel), explode each vector into its
    * radius-[[KnnGraphRadius]] probe buckets, join corpus↔probes on
    * bucket (shuffle_hash — BOTH sides are corpus-sized, nothing is
    * broadcast or driver-materialized), score within buckets, rank
    * with the bounded map-side [[rankTopK]] heaps. Each (vector,
    * candidate) pair arises in exactly one bucket (a candidate has
    * one signature), so no dedup pass is needed. Cost is
    * probes × corpus/2^planes per vector; buckets over
    * [[KnnBucketCap]] salt-subdivide on [[KnnSaltPlanes]] extra
    * planes, so no dense region ever goes quadratic (see
    * [[annKnnGraphFromVecs]]). The DuckDB oracle replays the
    * identical bucketing AND salting, so this is hash-exact, not
    * recall-gated; the spec separately floors recall against the
    * brute-force graph and drives a synthetic hot-bucket corpus
    * through the capped path.
    */
  /** Salt planes subdividing over-cap knn-graph buckets (extends the
    * same deterministic family as the base signature), and the bucket
    * population cap that trips the subdivision. Inside an over-cap
    * bucket, candidates are restricted to the query's salt sub-bucket:
    * per-bucket work drops 2^8-fold while dense regions — where any
    * sub-bucket still holds plenty of close candidates — keep filling
    * their top-k; degrades to higher precision, never to unbounded
    * work (the [[graft.operators.Dedup.embeddingPairsFromVecs]]
    * strategy, adapted to the probe join).
    */
  val KnnSaltPlanes = 8
  val KnnBucketCap = 500

  def annKnnGraph(spark: SparkSession, dir: String,
                  k: Int = KnnGraphK, radius: Int = KnnGraphRadius): DataFrame =
    annKnnGraphFromVecs(embCorpus(spark, dir), k, radius, KnnBucketCap, "knn.graph")

  /** Graph build over a prepared (vec_id, emb) relation — split out so
    * specs can drive synthetic hot-bucket corpora through the exact
    * production path with a small cap.
    *
    * The bucket-size relation is AT MOST 2^[[AnnLshPlanes]] rows by
    * construction — genuinely bounded at any corpus scale — so it is
    * the one legitimate broadcast here; corpus and probe sides stay
    * shuffle_hash. A probed bucket's over-cap test uses the PROBING
    * vector's own salt (its near neighbors in that bucket share its
    * salt signature with high probability — the same locality the
    * base signature exploits).
    */
  private[graft] def annKnnGraphFromVecs(vecs: DataFrame, k: Int,
                                         radius: Int, cap: Int,
                                         slot: String): DataFrame = {
    val all = lshPlanes(64, AnnLshPlanes + KnnSaltPlanes)
    val masks = lshProbeMasks(AnnLshPlanes, radius)
    // THREE consumers read the signed corpus (candidate side, probe
    // side, bucket census) and signing is the expensive 16-plane
    // kernel pass — without the persist the plan signs the corpus
    // once PER consumer (audited: four full Scan+HyperplaneSig
    // chains). Shared through the caller's slot (at real scale the
    // signed relation is the persisted LSH layout VectorIndex already
    // materializes once per corpus, not a per-query cache).
    val corpus = vecs
      .withColumn("bucket", lshBucket(col("emb"), all.take(AnnLshPlanes)))
      .withColumn("salt", lshBucket(col("emb"), all.drop(AnnLshPlanes)))
      .transform(OpCache.shared(slot))
    val sizes = corpus.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
    val keyed = corpus.join(broadcast(sizes), Seq("bucket"))
      .withColumn("skey", when(col("bn") > cap, col("salt")).otherwise(lit(0L)))
      .select(col("vec_id"), col("emb"), col("bucket"), col("skey"))
    val probes = corpus
      .select(col("vec_id").as("query_id"), col("emb").as("qv"), col("salt"),
        explode(lit(masks)).as("mask"), col("bucket"))
      .select(col("query_id"), col("qv"), col("salt"),
        col("bucket").bitwiseXOR(col("mask")).as("bucket"))
      .join(broadcast(sizes), Seq("bucket"), "left")
      .withColumn("skey",
        when(coalesce(col("bn"), lit(0L)) > cap, col("salt")).otherwise(lit(0L)))
      .select(col("query_id"), col("qv"), col("bucket"), col("skey"))
    // the hint sits on KEYED: the hash map must be built from the
    // candidate side (corpus ÷ partitions — bounded once partitions
    // scale with data) while the radius-3 probe fan-out (93 wide rows
    // per vector) STREAMS through the join. Hinting the probe side
    // instead hash-built 93 × corpus × ~1 KB rows and was the
    // measured OOM at a 200k-vector synthesized sf10; re-attaching
    // embeddings by id after a skinny match is no better (it shuffles
    // the WIDER per-pair relation, ~4× the probe fan-out's bytes —
    // measured 70 GB of spill at the same SF). Scoring inside this
    // join keeps every post-join row skinny for the rankTopK heaps.
    val scored = keyed.hint("shuffle_hash")
      .join(probes, Seq("bucket", "skey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
    rankTopK(scored, k)
      .select(col("query_id").as("vec_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("score"))
  }

  def annKnnGraphSql(k: Int = KnnGraphK, radius: Int = KnnGraphRadius,
                     cap: Int = KnnBucketCap): String = {
    val all = lshPlanes(64, AnnLshPlanes + KnnSaltPlanes)
    val planesSql = all.map(_.mkString("[", ",", "]")).mkString("[", ", ", "]")
    val masksSql = lshProbeMasks(AnnLshPlanes, radius).mkString("[", ", ", "]")
    def sigExpr(from: Int, n: Int): String = (0 until n).map { j =>
      s"(CASE WHEN list_dot_product(emb, planes[${from + j + 1}]::DOUBLE[]) > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)"
    }.mkString(" + ")
    s"""WITH corpus0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb, $planesSql AS planes
       |  FROM embeddings
       |), corpus AS (
       |  SELECT vec_id, emb, (${sigExpr(0, AnnLshPlanes)}) AS bucket,
       |    (${sigExpr(AnnLshPlanes, KnnSaltPlanes)}) AS salt
       |  FROM corpus0
       |), sizes AS (
       |  SELECT bucket, COUNT(*)::BIGINT AS bn FROM corpus GROUP BY bucket
       |), keyed AS (
       |  SELECT c.vec_id, c.emb, c.bucket,
       |    CASE WHEN s.bn > $cap THEN c.salt ELSE 0::BIGINT END AS skey
       |  FROM corpus c JOIN sizes s USING (bucket)
       |), probes AS (
       |  SELECT query_id, qv, bucket,
       |    CASE WHEN COALESCE(s.bn, 0) > $cap THEN salt ELSE 0::BIGINT END AS skey
       |  FROM (
       |    SELECT vec_id AS query_id, emb AS qv, salt,
       |      xor(bucket, m.mask)::BIGINT AS bucket
       |    FROM corpus, (SELECT unnest($masksSql::BIGINT[]) AS mask) m
       |  ) p LEFT JOIN sizes s USING (bucket)
       |), scored AS (
       |  SELECT p.query_id, c.vec_id,
       |    ${fxSql(cosineSql("c.emb", "p.qv"))} AS score
       |  FROM keyed c JOIN probes p USING (bucket, skey)
       |  WHERE c.vec_id <> p.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id AS vec_id, CAST(rank AS BIGINT) AS rank,
       |  vec_id AS neighbor_id, score
       |FROM ranked WHERE rank <= $k
       |ORDER BY 1, 2""".stripMargin
  }

  /** IVF cell stride: centroids are every `IvfStride`-th vector — the
    * reference's deterministic strided k-means init
    * (src/index.rs:442), used directly as data-point centroids so
    * both engines derive identical cells with no float-averaged
    * centers.
    */
  val IvfStride = 61
  val IvfNprobe = 4
  /** Every `IvfCoarse`-th fine centroid is also a coarse centroid, and
    * the query expands `IvfProbeCoarse` coarse cells before picking its
    * `nprobe` fine probes.
    */
  val IvfCoarse = 8
  val IvfProbeCoarse = 2

  private def l2Struct(v: Column, c: Column): Column =
    struct(l2DistanceSq(v, c.getField("cemb")).as("dist"), c.getField("cid").as("cid"))

  private def nearestCentroid(emb: Column, cents: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.expressions.NearestCentroid(
      expression(emb), expression(cents)))
  }

  /** IVF-Flat ANN (reference src/index.rs:314 FaissIndexType::IvfFlat,
    * :413 train_ivf_index), two-level: a SMALL coarse centroid array
    * (nlist/IvfCoarse entries, one broadcast row) routes each vector
    * map-side, then the fine centroids ride as an exploded relation
    * GROUPED BY their own coarse cell and broadcast-JOINED on the
    * routed coarse id — each joined row carries only that cell's
    * ~IvfCoarse fine centroids. This removes the old single-row
    * ceiling (all nlist centroids in one collect_list cell): at
    * nlist=10^6 the coarse array holds 1.25*10^5 entries and each
    * fine-cell array ~8, both far under single-row limits, while
    * corpus assignment still plans zero data shuffles (broadcasts
    * only). The query probes IvfProbeCoarse coarse cells, takes the
    * nprobe nearest fine cells within them, and only same-fine-cell
    * vectors are cosine-rescored — classic two-level IVF (IMI)
    * semantics.
    */
  /** The full two-level IVF probe pipeline shared by [[annIvf]] and
    * [[annIvfPq]]: returns the (vec_id, emb, qv) rows of the corpus
    * fraction inside the nprobe probed fine cells, the query itself
    * excluded. One extraction point so batch IVF and IVF-PQ can never
    * drift on probe selection or tie-breaks — the same reason their
    * SQL twins share `ivfProbeSqlPrefix`.
    */
  private def ivfProbedCandidates(spark: SparkSession, dir: String, qid: Long,
                                  stride: Int, nprobe: Int): DataFrame = {
    val corpus = embCorpus(spark, dir)
    val coarseArr = corpus.filter(col("vec_id") % (stride.toLong * IvfCoarse) === 0)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("emb").as("cemb"))).as("carr"))
    // fine-centroid relation with its coarse routing (index-build side:
    // nlist rows, trivially shuffled by ccid once)
    val fine = corpus.filter(col("vec_id") % stride === 0)
      .crossJoin(broadcast(coarseArr))
      .select(col("vec_id").as("cid"), col("emb").as("cemb"),
        nearestCentroid(col("emb"), col("carr")).as("ccid"))
    val fineByCoarse = fine.groupBy(col("ccid"))
      .agg(collect_list(struct(col("cid"), col("cemb"))).as("fcents"))
    // query probe: IvfProbeCoarse nearest coarse cells, then the nprobe
    // nearest fine cells inside them
    val qcoarse = coarseArr.crossJoin(broadcast(queryVec(spark, dir, qid)))
      .select(
        transform(
          slice(array_sort(transform(col("carr"), c => l2Struct(col("qv"), c))), 1, IvfProbeCoarse),
          p => p.getField("cid")).as("pccids"),
        col("qv"))
    val probed = fine.crossJoin(broadcast(qcoarse))
      .filter(array_contains(col("pccids"), col("ccid")))
      .select(col("cid"), l2DistanceSq(col("cemb"), col("qv")).as("dist"), col("qv"))
      .orderBy(col("dist"), col("cid"))
      .limit(nprobe)
      .agg(collect_list(col("cid")).as("pcids"), first(col("qv")).as("qv"))
    corpus.crossJoin(broadcast(coarseArr))
      .withColumn("ccid", nearestCentroid(col("emb"), col("carr")))
      .join(broadcast(fineByCoarse), Seq("ccid"))
      .withColumn("acid", nearestCentroid(col("emb"), col("fcents")))
      .crossJoin(broadcast(probed))
      .filter(array_contains(col("pcids"), col("acid")) && col("vec_id") =!= qid)
      .select(col("vec_id"), col("emb"), col("qv"))
  }

  def annIvf(spark: SparkSession, dir: String, qid: Long = 0,
             stride: Int = IvfStride, nprobe: Int = IvfNprobe, k: Int = 20): DataFrame =
    ivfProbedCandidates(spark, dir, qid, stride, nprobe)
      .select(col("vec_id"), fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** DuckDB twin of the sequential squared-L2 in
    * [[graft.functions.VectorFunctions.l2DistanceSq]] (64-dim).
    */
  private def l2Sql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** DuckDB argmin over a (cid, cemb) struct list — same (dist, cid)
    * tie-break as [[graft.functions.expressions.NearestCentroid]].
    */
  private def argminSql(v: String, cents: String): String =
    s"list_sort(list_transform($cents, c -> struct_pack(dist := ${l2Sql(v, "c.cemb")}, cid := c.cid)))[1].cid"

  /** Shared CTE prefix of the IVF oracle twins: probe selection +
    * cell assignment, ending with the `assigned`/`probed`/`q`
    * relations the final SELECT filters.
    */
  private def ivfProbeSqlPrefix(qid: Long, stride: Int, nprobe: Int): String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
       |), coarse AS (
       |  SELECT list(struct_pack(cid := vec_id, cemb := emb) ORDER BY vec_id) AS carr
       |  FROM corpus WHERE vec_id % ${stride.toLong * IvfCoarse} = 0
       |), fine AS (
       |  SELECT vec_id AS cid, emb AS cemb, ${argminSql("emb", "carr")} AS ccid
       |  FROM corpus, coarse WHERE vec_id % $stride = 0
       |), fbyc AS (
       |  SELECT ccid, list(struct_pack(cid := cid, cemb := cemb) ORDER BY cid) AS fcents
       |  FROM fine GROUP BY ccid
       |), q AS (SELECT emb AS qv FROM corpus WHERE vec_id = $qid),
       |qcoarse AS (
       |  SELECT list_transform(list_slice(list_sort(list_transform(carr,
       |      c -> struct_pack(dist := ${l2Sql("qv", "c.cemb")}, cid := c.cid))), 1, $IvfProbeCoarse),
       |    p -> p.cid) AS pccids, qv
       |  FROM coarse, q
       |), probecells AS (
       |  SELECT cid, ${l2Sql("cemb", "qv")} AS dist
       |  FROM fine, qcoarse
       |  WHERE list_contains(pccids, ccid)
       |  ORDER BY dist, cid
       |  LIMIT $nprobe
       |), probed AS (SELECT list(cid) AS pcids FROM probecells),
       |assigned AS (
       |  SELECT c.vec_id, c.emb,
       |    ${argminSql("c.emb", "f.fcents")} AS acid
       |  FROM corpus c, coarse, fbyc f
       |  WHERE f.ccid = ${argminSql("c.emb", "carr")}
       |)""".stripMargin

  def annIvfSql(qid: Long = 0, stride: Int = IvfStride,
                nprobe: Int = IvfNprobe, k: Int = 20): String =
    s"""${ivfProbeSqlPrefix(qid, stride, nprobe)}
       |SELECT vec_id, ${fxSql(cosineSql("emb", "qv"))} AS score
       |FROM assigned, probed, q
       |WHERE list_contains(pcids, acid) AND vec_id <> $qid
       |ORDER BY score DESC, vec_id
       |LIMIT $k""".stripMargin

  /** Oracle twin of the label-gated indexed IVF search: identical
    * probe semantics, with the metadata gate applied to the probed
    * candidate set BEFORE the top-k (post-filtering, the semantics a
    * payload-filtered ANN index serves).
    */
  def annIvfFilteredSql(qid: Long = 0, labels: Seq[Int] = Seq(1, 3, 5),
                        stride: Int = IvfStride, nprobe: Int = IvfNprobe,
                        k: Int = 20): String =
    s"""${ivfProbeSqlPrefix(qid, stride, nprobe)}
       |SELECT a.vec_id, e.label, ${fxSql(cosineSql("a.emb", "qv"))} AS score
       |FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id, probed, q
       |WHERE list_contains(pcids, acid) AND a.vec_id <> $qid
       |  AND e.label IN (${labels.mkString(", ")})
       |ORDER BY score DESC, a.vec_id
       |LIMIT $k""".stripMargin

  /** Product-quantization geometry: [[PqM]] subspaces of
    * [[PqSubDim]] dims each, [[PqK]] centroids per subspace — 64
    * float32 dims compress to 16 5-bit codes (~25x memory cut), the
    * compression that makes a 100 TB embedding corpus RAM-resident on
    * a cluster. Sub-centroids are drawn deterministically from the
    * corpus itself (vec_id = cid * [[PqStride]], the same strided
    * initialization the IVF path uses, index.rs:442) so both engines
    * derive identical codebooks with no float-averaged k-means state.
    */
  val PqM = 16
  val PqSubDim = 4
  val PqK = 32
  val PqStride = 13
  /** FLOOR of the rescore pool — the old absolute default. */
  val PqCoarseK = 100

  /** Rescore-pool FRACTION (FAISS refine-factor style): the r7 sf1
    * sweep showed the absolute default silently becoming a smaller
    * fraction as the corpus grows (recall 0.8 → 0.5 at 10× until
    * retuned to the SAME 5% the smaller SF had), so the default pool
    * is clamp([[PqCoarseK]], ⌈[[PqCoarseFrac]] × corpus⌉,
    * [[PqCoarseMax]]) — recall holds across SFs with untouched knobs
    * (reference index.rs FaissIndexType::IvfPq).
    */
  val PqCoarseFrac = 0.05

  /** Absolute pool ceiling: the rescore pass broadcasts the pool's
    * ids back against the flat vector table, so the default must stay
    * broadcast-bounded at ANY corpus size (1e5 ids ≈ 1 MB); a
    * billion-vector deployment that wants a >1e5 pool raises the
    * explicit coarseK knob with eyes open.
    */
  val PqCoarseMax = 100000

  /** coarseK sentinel: resolve the pool from the corpus size. */
  val AutoCoarseK = -1

  /** The scale-relative rescore pool for an n-vector corpus. */
  def pqCoarseKFor(n: Long): Int =
    math.min(PqCoarseMax.toLong,
      math.max(PqCoarseK.toLong, math.ceil(PqCoarseFrac * n).toLong)).toInt

  /** Multi-stage rescore FRACTION — the reference's own
    * `rescore_ratio: 0.1` (quantization.rs:17/:27, applied at :178):
    * the coarse Hamming front keeps 10% of the corpus for exact
    * rescore, clamped to the same [[PqCoarseK]] floor and
    * broadcast-bounded [[PqCoarseMax]] ceiling the PQ pool uses.
    */
  val MsCoarseFrac = 0.1

  /** The scale-relative multi-stage pool for an n-vector corpus. */
  def msCoarseKFor(n: Long): Int =
    math.min(PqCoarseMax.toLong,
      math.max(PqCoarseK.toLong, math.ceil(MsCoarseFrac * n).toLong)).toInt

  // one count job per table directory per JVM, not per query — the
  // bench drives many PQ entries over the same corpus
  private val corpusCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def corpusCount(spark: SparkSession, dir: String): Long =
    corpusCountCache.computeIfAbsent(dir,
      _ => Long.box(Tables.embeddings(spark, dir).count())).longValue

  private[graft] def resolveCoarseK(spark: SparkSession, dir: String,
                                    coarseK: Int): Int =
    if (coarseK == AutoCoarseK) pqCoarseKFor(corpusCount(spark, dir)) else coarseK

  private[graft] def resolveMsCoarseK(spark: SparkSession, dir: String,
                                      coarseK: Int): Int =
    if (coarseK == AutoCoarseK) msCoarseKFor(corpusCount(spark, dir)) else coarseK

  /** DuckDB twin of the auto pool: same GREATEST/CEIL arithmetic over
    * the same COUNT, evaluated inside the LIMIT.
    */
  private[graft] def coarseKSql(coarseK: Int): String =
    if (coarseK == AutoCoarseK)
      s"(SELECT LEAST($PqCoarseMax, GREATEST($PqCoarseK, CAST(CEIL($PqCoarseFrac * COUNT(*)) AS BIGINT))) FROM embeddings)"
    else coarseK.toString

  /** DuckDB twin of the multi-stage auto pool: identical arithmetic
    * at the [[MsCoarseFrac]] ratio, evaluated inside the LIMIT.
    */
  private[graft] def msCoarseKSql(coarseK: Int): String =
    if (coarseK == AutoCoarseK)
      s"(SELECT LEAST($PqCoarseMax, GREATEST($PqCoarseK, CAST(CEIL($MsCoarseFrac * COUNT(*)) AS BIGINT))) FROM embeddings)"
    else coarseK.toString

  /** PQ-ADC ANN with exact rescore (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011; the IVF_PQ
    * member of the reference's FaissIndexType surface,
    * src/index.rs:318): the corpus is encoded once — per subspace, the
    * nearest sub-centroid id (argmin L2, ties to smaller cid, the
    * [[graft.functions.expressions.NearestCentroid]] kernel) — and
    * queries score candidates by Asymmetric Distance Computation: a
    * per-query M x K lookup table of exact query-subvector-to-centroid
    * distances, summed over each vector's M codes. The
    * [[PqCoarseK]]-candidate ADC front is then exactly L2-rescored
    * (the refine step every production PQ deployment runs — measured
    * recall@20 0.9 vs 0.5 ADC-only on this corpus). Plan shape:
    * codebooks and the ADC table ride ONE broadcast row each;
    * encoding and scoring are map-only over the corpus scan (zero
    * data shuffles — both top-ks are TakeOrderedAndProject). At scale
    * the codes relation is the persisted index (10 bytes/vector) and
    * only the rescore touches full vectors — [[PqCoarseK]] of them
    * per query instead of the corpus; the exact-L2 brute twin is the
    * recall oracle (VectorSearchSpec harness).
    */
  /** Sub-vector m of a 64-dim embedding (PQ subspace slice). */
  private def pqSub(m: Int, e: Column): Column = slice(e, m * PqSubDim + 1, PqSubDim)

  /** One-row PQ codebook over `corpus` — per subspace, the K
    * (cid, sub-centroid) structs from the deterministic strided
    * centroids. Shared by [[annPq]] and [[annIvfPq]] (single
    * extraction point, like the layout builders' `pqCodebook`).
    */
  private def pqBooks(corpus: DataFrame): DataFrame = {
    val bookCols = (0 until PqM).map { m =>
      collect_list(struct((col("vec_id") / PqStride).cast("long").as("cid"),
        pqSub(m, col("emb")).as("cemb"))).as(s"book$m")
    }
    corpus
      .filter(col("vec_id") % PqStride === 0 && col("vec_id") < PqK.toLong * PqStride)
      .agg(bookCols.head, bookCols.tail: _*)
  }

  /** Per-query ADC table columns: adc_m[cid+1] = ||q_m − c_{m,cid}||²,
    * cid-ordered; evaluated over (qv × broadcast books).
    */
  private def pqAdcCols: Seq[Column] = (0 until PqM).map { m =>
    transform(array_sort(col(s"book$m")),
      c => l2DistanceSq(pqSub(m, col("qv")), c.getField("cemb"))).as(s"adc$m")
  }

  /** PQ encoding columns for a row's `emb` against broadcast books. */
  private def pqCodeCols: Seq[Column] = (0 until PqM).map(m =>
    nearestCentroid(pqSub(m, col("emb")), col(s"book$m")).as(s"code$m"))

  /** ADC distance of an encoded row against the broadcast ADC table. */
  private def pqAdcDist: Column = (0 until PqM).map(m =>
    element_at(col(s"adc$m"), (col(s"code$m") + 1).cast("int"))).reduce(_ + _)

  def annPq(spark: SparkSession, dir: String, qid: Long = 0, k: Int = 20,
            coarseK: Int = AutoCoarseK): DataFrame = {
    val ck = resolveCoarseK(spark, dir, coarseK)
    val corpus = embCorpus(spark, dir)
    val books = pqBooks(corpus)
    val query = queryVec(spark, dir, qid)
    val adc = query.crossJoin(broadcast(books)).select(pqAdcCols: _*)
    // encode + ADC-score in one map pass over the corpus
    val encoded = corpus.crossJoin(broadcast(books))
      .select(col("vec_id") +: col("emb") +: pqCodeCols: _*)
    val coarse = encoded.crossJoin(broadcast(adc))
      .filter(col("vec_id") =!= qid)
      .select(col("vec_id"), col("emb"), fx(pqAdcDist).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(ck)
    coarse.crossJoin(broadcast(query))
      .select(col("vec_id"), fx(l2DistanceSq(col("emb"), col("qv"))).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** DuckDB twin of the [[PqSubDim]]-dim sub-vector squared L2. */
  private def l2SubSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${PqSubDim + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  def annPqSql(qid: Long = 0, k: Int = 20, coarseK: Int = AutoCoarseK): String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
       |), subs AS (SELECT unnest(range(0, $PqM)) AS m),
       |books AS (
       |  SELECT m, vec_id // $PqStride AS cid,
       |    emb[m * $PqSubDim + 1 : m * $PqSubDim + $PqSubDim] AS cemb
       |  FROM corpus, subs
       |  WHERE vec_id % $PqStride = 0 AND vec_id < ${PqK.toLong * PqStride}
       |), codes AS (
       |  SELECT vec_id, m, cid AS code FROM (
       |    SELECT c.vec_id, b.m, b.cid,
       |      row_number() OVER (PARTITION BY c.vec_id, b.m
       |        ORDER BY ${l2SubSql(s"c.emb[b.m * $PqSubDim + 1 : b.m * $PqSubDim + $PqSubDim]", "b.cemb")}, b.cid) AS rn
       |    FROM corpus c, books b
       |  ) WHERE rn = 1
       |), q AS (SELECT emb AS qv FROM corpus WHERE vec_id = $qid),
       |adc AS (
       |  SELECT b.m, b.cid,
       |    ${l2SubSql(s"q.qv[b.m * $PqSubDim + 1 : b.m * $PqSubDim + $PqSubDim]", "b.cemb")} AS d
       |  FROM books b, q
       |), coarse AS (
       |  -- ordered list_sum = the same m=0..M-1 left-fold the Spark
       |  -- expression tree uses; plain SUM() would add in join order
       |  SELECT c.vec_id, ${fxSql("list_sum(list(a.d ORDER BY a.m))")} AS adc_dist
       |  FROM codes c JOIN adc a ON c.m = a.m AND c.code = a.cid
       |  WHERE c.vec_id <> $qid
       |  GROUP BY c.vec_id
       |  ORDER BY adc_dist, c.vec_id
       |  LIMIT ${coarseKSql(coarseK)}
       |)
       |SELECT e.vec_id,
       |  ${fxSql("list_sum(list_transform(range(1, 65), i -> (e.emb[i] - q.qv[i]) * (e.emb[i] - q.qv[i])))")} AS dist
       |FROM coarse co JOIN corpus e USING (vec_id), q
       |ORDER BY dist, e.vec_id
       |LIMIT $k""".stripMargin

  /** IVF-PQ — the canonical billion-scale index shape (FAISS
    * IndexIVFPQ; reference index.rs FaissIndexType::IvfPq): the
    * two-level IVF probe routes the query to `nprobe` cells, and only
    * the candidates IN those cells are ADC-scored against the
    * broadcast per-query distance table, then the ADC front is
    * exactly L2-rescored. Composes [[annIvf]]'s probe machinery with
    * [[annPq]]'s codebook/ADC scoring unchanged — at 100 TB the scan
    * fraction is nprobe/nlist (file-level with the persisted cell
    * layout) AND each scanned vector costs 16 table lookups instead
    * of a 64-dim float kernel, which is exactly why IVF-PQ is the
    * shape billion-vector deployments run. Every stage is
    * deterministic (strided centroids, argmin tie-breaks, ordered
    * ADC fold), so the DuckDB oracle replays it hash-exactly.
    */
  def annIvfPq(spark: SparkSession, dir: String, qid: Long = 0, k: Int = 10,
               stride: Int = IvfStride, nprobe: Int = IvfNprobe,
               coarseK: Int = AutoCoarseK): DataFrame = {
    // IVF probe machinery shared verbatim with [[annIvf]]; PQ
    // codebook/ADC machinery shared verbatim with [[annPq]] — only
    // the composition (ADC over the probed fraction, then exact
    // rescore) lives here.
    val ck = resolveCoarseK(spark, dir, coarseK)
    val candidates = ivfProbedCandidates(spark, dir, qid, stride, nprobe)
    val books = pqBooks(embCorpus(spark, dir))
    val adc = queryVec(spark, dir, qid).crossJoin(broadcast(books)).select(pqAdcCols: _*)
    val encoded = candidates.crossJoin(broadcast(books))
      .select(col("vec_id") +: col("emb") +: col("qv") +: pqCodeCols: _*)
    val ranked = encoded.crossJoin(broadcast(adc))
      .select(col("vec_id"), col("emb"), col("qv"), fx(pqAdcDist).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(ck)
    ranked
      .select(col("vec_id"), fx(l2DistanceSq(col("emb"), col("qv"))).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  def annIvfPqSql(qid: Long = 0, k: Int = 10, stride: Int = IvfStride,
                  nprobe: Int = IvfNprobe, coarseK: Int = AutoCoarseK): String =
    s"""${ivfProbeSqlPrefix(qid, stride, nprobe)},
       |cand AS (
       |  SELECT a.vec_id, a.emb
       |  FROM assigned a, probed
       |  WHERE list_contains(pcids, acid) AND a.vec_id <> $qid
       |), subs AS (SELECT unnest(range(0, $PqM)) AS m),
       |books AS (
       |  SELECT m, vec_id // $PqStride AS cid,
       |    emb[m * $PqSubDim + 1 : m * $PqSubDim + $PqSubDim] AS cemb
       |  FROM corpus, subs
       |  WHERE vec_id % $PqStride = 0 AND vec_id < ${PqK.toLong * PqStride}
       |), codes AS (
       |  SELECT vec_id, m, cid AS code FROM (
       |    SELECT c.vec_id, b.m, b.cid,
       |      row_number() OVER (PARTITION BY c.vec_id, b.m
       |        ORDER BY ${l2SubSql(s"c.emb[b.m * $PqSubDim + 1 : b.m * $PqSubDim + $PqSubDim]", "b.cemb")}, b.cid) AS rn
       |    FROM cand c, books b
       |  ) WHERE rn = 1
       |), adctab AS (
       |  SELECT b.m, b.cid,
       |    ${l2SubSql(s"q.qv[b.m * $PqSubDim + 1 : b.m * $PqSubDim + $PqSubDim]", "b.cemb")} AS d
       |  FROM books b, q
       |), adcranked AS (
       |  SELECT c.vec_id, ${fxSql("list_sum(list(a.d ORDER BY a.m))")} AS adc_dist
       |  FROM codes c JOIN adctab a ON c.m = a.m AND c.code = a.cid
       |  GROUP BY c.vec_id
       |  ORDER BY adc_dist, c.vec_id
       |  LIMIT ${coarseKSql(coarseK)}
       |)
       |SELECT e.vec_id,
       |  ${fxSql("list_sum(list_transform(range(1, 65), i -> (e.emb[i] - q.qv[i]) * (e.emb[i] - q.qv[i])))")} AS dist
       |FROM adcranked r JOIN cand e USING (vec_id), q
       |ORDER BY dist, e.vec_id
       |LIMIT $k""".stripMargin

  def annLshSql(nQueries: Int = 8, k: Int = 5, radius: Int = LshProbeRadius): String = {
    val planes = lshPlanes(64, AnnLshPlanes)
    // same plane matrix inlined as a DuckDB list-of-lists literal
    val planesSql = planes.map(_.mkString("[", ",", "]")).mkString("[", ", ", "]")
    val masksSql = lshProbeMasks(AnnLshPlanes, radius).mkString("[", ", ", "]")
    val bucketExpr =
      (0 until AnnLshPlanes).map { j =>
        s"(CASE WHEN list_dot_product(emb, planes[${j + 1}]::DOUBLE[]) > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)"
      }.mkString(" + ")
    s"""WITH corpus0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb, $planesSql AS planes
       |  FROM embeddings
       |), corpus AS (
       |  SELECT vec_id, emb, ($bucketExpr) AS bucket FROM corpus0
       |), queries AS (
       |  SELECT vec_id AS query_id, emb AS qv,
       |    xor(bucket, m.mask)::BIGINT AS bucket
       |  FROM corpus, (SELECT unnest($masksSql::BIGINT[]) AS mask) m
       |  WHERE vec_id < $nQueries
       |), scored AS (
       |  SELECT q.query_id, c.vec_id,
       |    ${fxSql(cosineSql("c.emb", "q.qv"))} AS score
       |  FROM corpus c JOIN queries q USING (bucket)
       |  WHERE c.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, score
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }
}
