package graft.operators

import graft.{OpCache, OracleNum, Tables}
import graft.OracleNum.{fx, fxSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space clustering for corpus curation: deterministic
  * Lloyd k-means over the embeddings table. Clustering is the
  * curation counterpart of ANN search (semantic diversity sampling,
  * per-cluster quota filtering, topic balance reports all consume the
  * assignment); the reference's IVF training (index.rs coarse
  * quantizer) is the same computation — this operator exposes it as a
  * first-class result instead of an index byproduct.
  *
  * Determinism across engines (the oracle replays every step in
  * DuckDB and the driver hash-compares): embeddings are quantized to
  * integer milli-units up front, so every centroid accumulation is
  * EXACT integer arithmetic — no float summation-order jitter can
  * flip a borderline assignment. Centroid updates divide with an
  * explicit FLOOR on a double quotient (|sum| is far inside 2^53) so
  * the rounding rule is spelled out rather than inherited: DuckDB
  * 1.0's integer `//` truncates toward zero exactly like Spark's
  * `div` (verified: (-7)//2 = -3 on the pinned oracle engine; older
  * DuckDB releases floored), and [[embedStats]] relies on that
  * equivalence directly.
  * Ties in the argmin break toward the lower cluster id in both
  * engines (lexicographic (dist, cluster) minimum).
  *
  * Scale shape, per iteration: one broadcast of the k×dim centroid
  * relation (constant-bounded) against the corpus for assignment, one
  * vec-keyed aggregate for the argmin, one shuffle_hash join back to
  * the quantized vectors riding the same vec_id partitioning, and a
  * (cluster, dim)-keyed aggregate whose map-side partials bound the
  * shuffle at k·dim rows per input partition. Iteration count is the
  * fixed [[KmeansIters]] — no data-dependent convergence loop, so the
  * job graph is static and the whole operator is linear in corpus
  * size.
  */
object Clustering {
  /** Cluster count, fixed Lloyd iteration count, quantization scale. */
  val KmeansK = 8
  val KmeansIters = 2
  val QScale = 1000

  /** Embeddings quantized to exact integer milli-units. */
  private def quantized(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.embeddings(spark, dir))
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          v => floor(v * QScale + 0.5).cast("long")).as("qe"))

  /** Squared L2 distance between two integer vectors — exact. */
  private def sqDist = aggregate(
    zip_with(col("qe"), col("ce"), (a, b) => (a - b) * (a - b)),
    lit(0L), _ + _)

  /** Assign every vector to its nearest centroid; ties to the lower
    * cluster id via the lexicographic struct minimum.
    */
  private def assign(q: DataFrame, cent: DataFrame): DataFrame =
    q.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cluster"), sqDist.as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"), col("m.dist").as("dist"))

  /** Recompute centroids as the floored per-dimension mean of each
    * cluster's members. A cluster that lost every member simply emits
    * no centroid row — consistently in both engines.
    */
  private def recenter(q: DataFrame, asg: DataFrame): DataFrame =
    asg.join(q.hint("shuffle_hash"), Seq("vec_id"))
      .select(col("cluster"), posexplode(col("qe")).as(Seq("i", "v")))
      .groupBy(col("cluster"), col("i"))
      .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("s"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("s")))),
        x => x.getField("s")).as("ce"))

  /** Final Lloyd assignment: init from the [[KmeansK]] lowest
    * vec_ids (cluster id = rank order), [[KmeansIters]] rounds —
    * one row per vector: (vec_id, cluster, dist).
    */
  private def finalAssign(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = quantized(spark, dir)
    val init = q.orderBy(col("vec_id")).limit(KmeansK)
      .withColumn("cluster",
        (row_number().over(Window.partitionBy().orderBy(col("vec_id"))) - 1).cast("long"))
      .select(col("cluster"), col("qe").as("ce"))
    val finalCent = (1 until KmeansIters).foldLeft(init) { (cent, _) =>
      recenter(q, assign(q, cent))
    }
    assign(q, finalCent)
      .select(col("vec_id"), col("cluster"), col("dist"))
  }

  /** Deterministic k-means assignment: output one row per vector
    * with its cluster and exact quantized squared distance.
    */
  def embedKmeans(spark: SparkSession, dir: String): DataFrame =
    finalAssign(spark, dir).orderBy(col("vec_id"))

  /** Embedding-space outlier flags: a vector is an outlier iff its
    * centroid distance sits more than 2 population-σ above its
    * cluster's mean distance — the prune-far-from-centroid signal of
    * embedding-based data curation (Sorscher et al. 2022 data-pruning
    * metric; SemDeDup's discard heuristic), composed on the exact
    * integer [[embedKmeans]] assignment.
    *
    * The z-test is evaluated in EXACT arithmetic, the
    * [[graft.operators.Analytics.eventsAnomaly]] idiom lifted to
    * decimal(38,0): (n·d − s)² > 4·(n·q − s²) — Spark's long
    * arithmetic would overflow at q = Σd² (d caps at 4·QScale²·dim ≈
    * 2.6e8, so d² alone is ~6.6e16 and any corpus-sized sum wraps),
    * while decimal keeps every product far inside 38 digits and
    * DuckDB's HUGEINT mirrors it exactly — the flag is deterministic
    * cross-engine with zero float involvement.
    *
    * Scale: per-cluster moments are a k-row aggregate with map-side
    * partials; the join back is a broadcast of k = [[KmeansK]] rows
    * (constant-bounded by construction). The assignment is shared
    * because moments + output are two consumers of the iterative
    * Lloyd lineage.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val D = "decimal(38,0)"
    val asg = finalAssign(spark, dir).transform(OpCache.shared("clustering.outliers.asg"))
    val stats = asg.groupBy(col("cluster"))
      .agg(count(lit(1)).cast(D).as("n"),
        sum(col("dist")).cast(D).as("s"),
        sum((col("dist") * col("dist")).cast(D)).as("q2"))
    val dev = col("n") * col("dist").cast(D) - col("s")
    asg.join(broadcast(stats), Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("dist"),
        (dev * dev > lit(4).cast(D) * (col("n") * col("q2") - col("s") * col("s")))
          .cast("long").as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-space health diagnostics — the one-row report an
    * embedding pipeline checks before trusting similarity search:
    * squared-norm distribution (collapsed or exploding norms break
    * cosine ranking) and the squared norm of the MEAN vector, the
    * standard anisotropy proxy (Ethayarajh 2019: E[cos(u,v)] ≈
    * ‖mean‖²/E[‖v‖²] for random pairs — a large value means the space
    * has a dominant shared direction and cosine scores compress).
    * Every figure is exact integer arithmetic over the milli-unit
    * quantization: per-row squared norms are integer sums, per-dim
    * sums are integer, and the mean vector uses `div` — no
    * corpus-wide float sum whose ordering could split the engines.
    * One corpus pass per branch (a row-local HOF for norms, a
    * posexplode + 64-group aggregate for dims), everything after is
    * one-row/64-row relations joined on a literal key.
    */
  def embedStats(spark: SparkSession, dir: String): DataFrame = {
    val q = quantized(spark, dir)
    val sq = aggregate(col("qe"), lit(0L), (acc, x) => acc + x * x)
    val normAgg = q.select(col("vec_id"), sq.as("sqn"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("sqn")).as("sum_sq_norm"),
        min(col("sqn")).as("min_sq_norm"), max(col("sqn")).as("max_sq_norm"))
      .withColumn("k", lit(1))
    val dims = q.select(posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(sum(col("v")).as("s"))
      .withColumn("k", lit(1))
    // ONE evaluation of the norms aggregate: the 1-row norm stats join
    // the 64-row dim sums, the per-dim mean squares fold in a second
    // bounded aggregate — referencing normAgg twice (once for n_vecs,
    // once for the output row) re-ran the corpus norms pass
    normAgg.join(dims, "k")
      .select(col("n_vecs"), col("sum_sq_norm"), col("min_sq_norm"),
        col("max_sq_norm"),
        expr("(s div n_vecs) * (s div n_vecs)").as("msq"))
      .groupBy(col("n_vecs"), col("sum_sq_norm"), col("min_sq_norm"),
        col("max_sq_norm"))
      .agg(sum(col("msq")).as("mean_vec_sq"))
  }

  val embedStatsSql: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], v -> CAST(FLOOR(v*$QScale + 0.5) AS BIGINT)) AS qe
       |  FROM embeddings
       |), d AS (
       |  SELECT vec_id, pos, qe[pos] AS v
       |  FROM (SELECT vec_id, qe, unnest(range(1, len(qe) + 1)) AS pos FROM q)
       |), norms AS (
       |  SELECT vec_id, SUM(v * v)::BIGINT AS sqn FROM d GROUP BY vec_id
       |), dims AS (
       |  SELECT pos, SUM(v)::BIGINT AS s FROM d GROUP BY pos
       |)
       |SELECT
       |  (SELECT COUNT(*) FROM q)::BIGINT AS n_vecs,
       |  (SELECT SUM(sqn) FROM norms)::BIGINT AS sum_sq_norm,
       |  (SELECT MIN(sqn) FROM norms)::BIGINT AS min_sq_norm,
       |  (SELECT MAX(sqn) FROM norms)::BIGINT AS max_sq_norm,
       |  (SELECT SUM((s // (SELECT COUNT(*) FROM q)) * (s // (SELECT COUNT(*) FROM q)))
       |   FROM dims)::BIGINT AS mean_vec_sq""".stripMargin

  /** Terms reported per cluster by [[clusterTopics]]. */
  val TopicsK = 5

  /** Topic labels for the semantic clusters — the c-TF-IDF cluster
    * annotation of BERTopic (Grootendorst 2022): treat each cluster's
    * concatenated documents as one pseudo-document, score terms by
    * cluster-frequency × ln(K / #clusters-containing-term), report the
    * top [[TopicsK]] per cluster. This is how a curation pipeline
    * turns an opaque k-means assignment into an inspectable topic
    * balance report.
    *
    * Determinism: term counts are exact integers off the native
    * TermCounts sketch; the score is scalar double arithmetic with a
    * fixed operation order, fx'd (the [[embedKmeans]] assignment
    * underneath is exact integer arithmetic already). Ties order by
    * the term's 60-bit hash — replayed verbatim by the oracle.
    *
    * Scale: one corpus tokenize pass into a (cluster, term) aggregate
    * with map-side partials (vocabulary×K on the wire, never corpus);
    * cluster-df is vocabulary-sized; the per-cluster top-k is the
    * bounded map-side [[graft.functions.expressions.TopKAgg]] heap
    * keyed by term hash (a `row_number` window would sort a
    * vocabulary-sized partition on ONE reducer per cluster at 1e8+
    * terms), with the winning terms recovered by a (cluster, hash)
    * join back — the scored relation is persisted across its two
    * consumers (heap + join-back; the whole iterative Lloyd lineage
    * sits beneath it).
    */
  def clusterTopics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.functions.TextFunctions.hash60
    import graft.functions.expressions.TopKAgg.topKLong
    val asg = finalAssign(spark, dir).select(col("vec_id").as("doc_id"), col("cluster"))
    val tf = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(column(graft.functions.expressions.TermCounts(
          expression(col("text"))))).as("e"))
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
    val ct = tf.join(asg.hint("shuffle_hash"), Seq("doc_id"))
      .groupBy(col("cluster"), col("term")).agg(sum(col("tf")).as("ctf"))
    val cdf = ct.groupBy(col("term")).agg(count(lit(1)).as("cdf"))
    val scored = ct.join(cdf.hint("shuffle_hash"), Seq("term"))
      .select(col("cluster"), col("term"),
        fx(col("ctf").cast("double") * log(lit(KmeansK.toDouble) / col("cdf")))
          .as("score"),
        hash60(col("term")).as("h"))
      .transform(OpCache.shared("clustering.topics.scored"))
    // long-scored heap: the fx'd score is a BIGINT — TopKLongAgg keeps
    // ranking exact past 2^53 where a double score slot would round
    val top = scored.groupBy(col("cluster"))
      .agg(topKLong(col("score"), col("h"), TopicsK).as("tk"))
      .select(col("cluster"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("cluster"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("h"), col("e.score").as("score"))
    top.join(scored.select(col("cluster"), col("h"), col("term")).hint("shuffle_hash"),
        Seq("cluster", "h"))
      .select(col("cluster"), col("rank"), col("term"),
        col("score").as("score", graft.plans.ScoreTag.metadata))
      .orderBy(col("cluster"), col("rank"))
  }

  /** Label-noise flags via neighborhood consensus (Confident-Learning
    * / Northcutt et al. 2021 shape; the deep-kNN mislabel filter of
    * training-data curation): a vector is flagged iff the majority
    * label among its k nearest neighbors differs from its own. Output
    * one row per vector: own label, neighbor-majority label, the
    * neighbor votes agreeing with the own label, total neighbor count
    * and the flag.
    *
    * Rides [[graft.operators.VectorSearch.annKnnGraphFromVecs]]
    * unchanged — the bucket-blocked, salt-subdivided LSH graph build
    * (no all-pairs anywhere; the oracle replays the identical
    * bucketing, so the comparison is hash-exact). After the graph:
    * two corpus-keyed shuffle_hash joins attach own/neighbor labels
    * (label relations are corpus-sized — never broadcast), one
    * (vec, nb_label)-keyed vote count and one vec-keyed roll-up, both
    * taking map-side partials; the majority pick is a lexicographic
    * struct MAX (votes desc, label asc on ties) — an aggregate, never
    * a per-group sort.
    */
  def labelNoise(spark: SparkSession, dir: String): DataFrame = {
    // same persisted edge layout as [[graphPagerank]] (r8): the kNN
    // build is a corpus asset, not a per-query cost; the label joins
    // are unchanged
    val knn = graft.sources.VectorIndex.knnEdges(spark, dir)
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    labelNoiseFromEdges(knn, labels)
  }

  /** Flag build over a prepared (vec_id, emb, label) relation — split
    * out so specs can drive synthetic planted-mislabel corpora through
    * the exact production path.
    */
  private[graft] def labelNoiseFromVecs(vecs: DataFrame, k: Int): DataFrame = {
    val knn = VectorSearch.annKnnGraphFromVecs(
      vecs.select(col("vec_id"), col("emb")),
      k, VectorSearch.KnnGraphRadius, VectorSearch.KnnBucketCap,
      "clustering.labelNoise.knn")
    labelNoiseFromEdges(knn, vecs.select(col("vec_id"), col("label")))
  }

  /** The label-majority vote over a prepared edge relation — the
    * layout-backed production path and the synthetic-corpus spec path
    * meet here.
    */
  private[graft] def labelNoiseFromEdges(knn: DataFrame, labels: DataFrame): DataFrame = {
    val nb = knn.select(col("vec_id"), col("neighbor_id"))
      .join(labels.hint("shuffle_hash"), Seq("vec_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
          col("label").as("nb_label")).hint("shuffle_hash"),
        Seq("neighbor_id"))
    nb.groupBy(col("vec_id"), col("label"), col("nb_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("votes"), (-col("nb_label")).as("nbneg"))).as("m"),
        sum(col("votes")).as("n_neighbors"),
        sum(when(col("nb_label") === col("label"), col("votes"))
          .otherwise(lit(0L))).as("agree"))
      .select(col("vec_id"), col("label"),
        (-col("m.nbneg")).as("majority_label"),
        col("agree"), col("n_neighbors"),
        (col("m.nbneg") =!= -col("label")).cast("long").as("noisy"))
      .orderBy(col("vec_id"))
  }

  val labelNoiseSql: String =
    s"""WITH knn AS (
       |  SELECT vec_id, neighbor_id FROM (
       |    ${VectorSearch.annKnnGraphSql()}
       |  )
       |), labels AS (
       |  SELECT vec_id, label::BIGINT AS label FROM embeddings
       |), votes AS (
       |  SELECT k.vec_id, o.label, n.label AS nb_label, COUNT(*)::BIGINT AS votes
       |  FROM knn k
       |  JOIN labels o ON k.vec_id = o.vec_id
       |  JOIN labels n ON k.neighbor_id = n.vec_id
       |  GROUP BY 1, 2, 3
       |), ranked AS (
       |  SELECT vec_id, nb_label,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY votes DESC, nb_label) AS r
       |  FROM votes
       |), agg AS (
       |  SELECT vec_id, label,
       |    SUM(votes)::BIGINT AS n_neighbors,
       |    SUM(CASE WHEN nb_label = label THEN votes ELSE 0 END)::BIGINT AS agree
       |  FROM votes GROUP BY 1, 2
       |)
       |SELECT a.vec_id, a.label, r.nb_label AS majority_label,
       |  a.agree, a.n_neighbors,
       |  (r.nb_label <> a.label)::BIGINT AS noisy
       |FROM agg a JOIN ranked r ON a.vec_id = r.vec_id AND r.r = 1
       |ORDER BY a.vec_id""".stripMargin

  /** The Lloyd pipeline as shared DuckDB CTEs ending in `a2` =
    * (vec_id, cluster, dist).
    */
  private val kmeansCtesSql: String = {
    val dim = 64
    def distE(ce: String) =
      s"CAST(list_sum(list_transform(range(1, ${dim + 1}), i -> (q.qe[i]-$ce[i])*(q.qe[i]-$ce[i]))) AS BIGINT)"
    def assignE(cent: String) =
      s"""SELECT vec_id, cluster, dist FROM (
         |    SELECT q.vec_id, $cent.cluster, ${distE(s"$cent.ce")} AS dist,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${distE(s"$cent.ce")}, $cent.cluster) AS rn
         |    FROM q CROSS JOIN $cent)
         |  WHERE rn = 1""".stripMargin
    s"""q AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], v -> CAST(FLOOR(v*$QScale + 0.5) AS BIGINT)) AS qe
       |  FROM embeddings
       |), c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster, qe AS ce
       |  FROM q ORDER BY vec_id LIMIT $KmeansK
       |), a1 AS (
       |  ${assignE("c0")}
       |), c1 AS (
       |  SELECT cluster, list(s ORDER BY i) AS ce FROM (
       |    SELECT a1.cluster, i, CAST(FLOOR(SUM(q.qe[i])::DOUBLE / COUNT(*)) AS BIGINT) AS s
       |    FROM a1 JOIN q USING (vec_id) CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i)
       |    GROUP BY a1.cluster, i)
       |  GROUP BY cluster
       |), a2 AS (
       |  ${assignE("c1")}
       |)""".stripMargin
  }

  val embedKmeansSql: String =
    s"""WITH $kmeansCtesSql
       |SELECT vec_id, cluster, dist FROM a2 ORDER BY vec_id""".stripMargin

  /** HUGEINT mirrors Spark's decimal(38,0) exactly for these bounded
    * products; SUM(BIGINT) is HUGEINT in DuckDB already.
    */
  val embedOutliersSql: String =
    s"""WITH $kmeansCtesSql, st AS (
       |  SELECT cluster, CAST(COUNT(*) AS HUGEINT) AS n,
       |    CAST(SUM(dist) AS HUGEINT) AS s,
       |    CAST(SUM(CAST(dist AS HUGEINT) * dist) AS HUGEINT) AS q2
       |  FROM a2 GROUP BY cluster
       |)
       |SELECT vec_id, cluster, dist,
       |  ((n*dist - s)*(n*dist - s) > 4*(n*q2 - s*s))::BIGINT AS is_outlier
       |FROM a2 JOIN st USING (cluster)
       |ORDER BY vec_id""".stripMargin

  val clusterTopicsSql: String = {
    import graft.functions.TextFunctions.{hash60Sql, tokensSql}
    s"""WITH $kmeansCtesSql, asg AS (
       |  SELECT vec_id AS doc_id, cluster FROM a2
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents)
       |  GROUP BY 1, 2
       |), ct AS (
       |  SELECT cluster, term, SUM(tf)::BIGINT AS ctf
       |  FROM tf JOIN asg USING (doc_id)
       |  GROUP BY 1, 2
       |), cdf AS (
       |  SELECT term, COUNT(*)::BIGINT AS cdf FROM ct GROUP BY term
       |), scored AS (
       |  SELECT cluster, term,
       |    ${fxSql(s"ctf::DOUBLE * ln($KmeansK::DOUBLE / cdf)")} AS score,
       |    ${hash60Sql("term")} AS h
       |  FROM ct JOIN cdf USING (term)
       |), ranked AS (
       |  SELECT cluster, term, score,
       |    row_number() OVER (PARTITION BY cluster ORDER BY score DESC, h) AS rank
       |  FROM scored
       |)
       |SELECT cluster, CAST(rank AS BIGINT) AS rank, term, score
       |FROM ranked WHERE rank <= $TopicsK
       |ORDER BY cluster, rank""".stripMargin
  }

  /** PageRank iterations for [[graphPagerank]]: fixed (not
    * convergence-driven) so the oracle can unroll the same count.
    */
  val PrIters = 5

  /** PageRank centrality over the kNN similarity graph — documents
    * that many near neighbors point AT are the corpus's semantic hubs
    * (representative-sample selection, diversity weighting, and the
    * "which docs anchor this cluster" curation question). Rides the
    * [[VectorSearch.annKnnGraph]] edge list: [[PrIters]] damped
    * iterations (d = 0.85), uniform split over each node's actual
    * out-degree, no dangling redistribution (every embedded vector
    * has neighbors by construction; isolated rows keep base rank).
    *
    * Determinism: ranks live in integer parts-per-million — every
    * contribution is `r DIV deg` and every combine an integer sum, so
    * iteration results are bit-identical across engines and partition
    * orders (a double-rank PageRank would drift in the 15th digit per
    * sum order). The oracle unrolls the same [[PrIters]] steps over
    * the same banded-LSH edge derivation.
    *
    * Scale shape, per iteration: one shuffle_hash join of the
    * persisted (src, dst, deg) edge relation against the current rank
    * vector (both keyed on the graph's node id — co-partitioned after
    * the first iteration) and one map-side-combinable sum per dst.
    * Nothing is ever collected to the driver; 100 TB graphs iterate
    * exactly like this (the canonical distributed PageRank shape).
    *
    * Output contract: UNSORTED corpus-sized relation — one
    * (vec_id, rank_ppm) row per embedded vector, in partition order.
    * A trailing global sort would be the plan's single largest
    * avoidable cost at scale (a full range-partition exchange buying
    * presentation order only); the hub-discovery use case rides
    * [[graphPagerankTop]]'s TakeOrdered instead.
    */
  def graphPagerank(spark: SparkSession, dir: String, iters: Int = PrIters): DataFrame = {
    // the sparse-contribution iterate below has no round-0 relation:
    // a 0-iteration call would dereference contribs.get (the dense
    // form used to return uniform base ranks) — fail loudly instead
    require(iters >= 1, s"graphPagerank needs iters >= 1, got $iters")
    // the graph input is the PERSISTED kNN edge layout (r8 — the
    // docstring's 100 TB composition: the banded kNN build runs once
    // per corpus in VectorIndex, and every graph consumer rides the
    // parquet relation; ClusteringSpec pins layout == recompute)
    val edges = graft.sources.VectorIndex.knnEdges(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // the per-iteration input: every iteration re-reads this relation,
    // so it is shared
    val withDeg = edges.join(outdeg.hint("shuffle_hash"), Seq("src"))
      .transform(OpCache.shared("pagerank.withDeg"))
    // Iterate on the SPARSE contribution relation, not the dense rank
    // vector (r10): r_i(v) = 150000 + (85·contrib_i(v)) DIV 100 with
    // contrib_i(v) = 0 when v received nothing, so the rank is a pure
    // function of the contribution sum and the per-iteration
    // nodes ⟕ contribs join the dense form paid (one full node-set
    // exchange + join per round) folds into a coalesce INSIDE the edge
    // join. Per iteration the only exchange left is the dst-keyed
    // contribution sum — the one shuffle PageRank fundamentally needs
    // (contribs arrives keyed on vec_id = src from its aggregate, so
    // the edge join is exchange-free). Identical integer arithmetic,
    // bit-identical ranks; the dense vector is materialized ONCE at
    // the end for the every-node output contract.
    var contribs: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val withRank = contribs match {
        // round 1: every node holds the uniform base rank — a literal,
        // no join needed
        case None => withDeg.withColumn("r", lit(1000000L))
        case Some(c) => withDeg
          .join(c.withColumnRenamed("vec_id", "src").hint("shuffle_hash"),
            Seq("src"), "left")
          .withColumn("r", lit(150000L) + expr("(85 * coalesce(contrib, 0L)) DIV 100"))
      }
      contribs = Some(withRank
        .select(col("dst").as("vec_id"), expr("r DIV deg").as("c"))
        .groupBy(col("vec_id")).agg(sum(col("c")).as("contrib")))
    }
    Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(contribs.get.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        (lit(150000L) + expr("(85 * coalesce(contrib, 0L)) DIV 100")).as("rank_ppm"))
  }

  /** Top hubs for [[graphPagerank]]: k = [[PrTopK]]. */
  val PrTopK = 100

  /** Hub discovery over the kNN graph: the [[PrTopK]] highest-ranked
    * vectors by integer-ppm PageRank, total-ordered on
    * (rank desc, vec_id). orderBy+limit plans as TakeOrderedAndProject
    * — per-partition heaps and a k-row driver merge, NEVER a
    * corpus-sized Sort exchange; this is the driver-compared form.
    */
  def graphPagerankTop(spark: SparkSession, dir: String, k: Int = PrTopK): DataFrame =
    graphPagerank(spark, dir)
      .orderBy(col("rank_ppm").desc, col("vec_id"))
      .limit(k)

  /** Coreset / medoid extraction: each cluster's most-central member
    * (minimum exact quantized distance to its centroid, vec_id
    * tie-break) plus the cluster population — the
    * representative-sample selection step of embedding-based curation
    * (herding/k-center coresets pick exactly these anchors; SemDeDup
    * keeps one representative per semantic cluster).
    *
    * Scale shape: rides the persisted k-means assignment; the medoid
    * is a min(struct(dist, vec_id)) aggregate with map-side partials
    * — NEVER a per-cluster sort — and the output is k rows. The
    * oracle replays the full Lloyd derivation plus a windowed argmin.
    */
  def embedCoreset(spark: SparkSession, dir: String): DataFrame = {
    val asg = finalAssign(spark, dir)
    asg.groupBy(col("cluster"))
      .agg(min(struct(col("dist"), col("vec_id"))).as("m"),
           count(lit(1)).as("n_members"))
      .select(col("cluster"), col("m.vec_id").as("medoid_id"),
        col("m.dist").as("dist"), col("n_members"))
      .orderBy(col("cluster"))
  }

  val embedCoresetSql: String =
    s"""WITH $kmeansCtesSql, ranked AS (
       |  SELECT cluster, vec_id, dist,
       |    row_number() OVER (PARTITION BY cluster ORDER BY dist, vec_id) AS rn
       |  FROM a2
       |), sz AS (
       |  SELECT cluster, COUNT(*)::BIGINT AS n_members FROM a2 GROUP BY cluster
       |)
       |SELECT cluster, vec_id AS medoid_id, dist, n_members
       |FROM ranked JOIN sz USING (cluster)
       |WHERE rn = 1
       |ORDER BY cluster""".stripMargin

  val graphPagerankSql: String = {
    val steps = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT n.vec_id,
         |    (150000 + (85 * COALESCE(c.contrib, 0)) // 100)::BIGINT AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT ed.dst AS vec_id, SUM(rr.r // ed.deg)::BIGINT AS contrib
         |    FROM ed JOIN r${i - 1} rr ON ed.src = rr.vec_id
         |    GROUP BY ed.dst
         |  ) c USING (vec_id)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH knn AS (
       |${VectorSearch.annKnnGraphSql()}
       |), edges AS (
       |  SELECT vec_id AS src, neighbor_id AS dst FROM knn
       |), deg AS (
       |  SELECT src, COUNT(*)::BIGINT AS deg FROM edges GROUP BY src
       |), ed AS (
       |  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
       |), nodes AS (
       |  SELECT vec_id FROM embeddings
       |), r0 AS (
       |  SELECT vec_id, 1000000::BIGINT AS r FROM nodes
       |), $steps
       |SELECT vec_id, r AS rank_ppm FROM r$PrIters
       |ORDER BY rank_ppm DESC, vec_id
       |LIMIT $PrTopK""".stripMargin
  }
}
