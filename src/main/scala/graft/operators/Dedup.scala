package graft.operators

import graft.{OpCache, OracleNum, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.{cosineSimilarity, hammingDistance, packSignBits, toDouble}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface.
  *
  * All candidate generation is CONTENT-derived (hashing/LSH banding),
  * never metadata blocking: the injected near-duplicates in the
  * corpus deliberately differ in lang/source, and at 100 TB no
  * metadata key bounds the pair space anyway. Every variant is
  * linear-ish: explode → keyed shuffle → within-bucket pairs; the
  * quadratic step only ever runs inside a bucket.
  */
object Dedup {
  import OracleNum.{fx, fxSql}

  /** Modulus for minhash permutations (2^31 - 1, prime). */
  val P = 2147483647L
  val NumHashes = 32
  val BandRows  = 4
  val NumBands  = NumHashes / BandRows

  /** Bucket-size bound for every banded self-join: singleton buckets
    * generate no pairs (dropping them shrinks the join input), and a
    * degenerate bucket of B docs would generate B² candidate rows —
    * at 100 TB one hot bucket would dominate the whole stage. The
    * window count rides the same (band, key) partitioning the
    * self-join shuffles on, so the bound costs no extra exchange.
    *
    * Buckets OVER the cap are never dropped: [[simhash]] and
    * [[embeddingPairs]] salt-subdivide them on additional fingerprint
    * bits / hyperplanes and pair within sub-buckets, star-linking any
    * sub-bucket that is still over the cap to its min-id
    * representative — work is bounded, recall is not deleted.
    * [[minhash]]/[[ngramJaccard]] key on 60-bit hashes where only a
    * true degenerate cluster exceeds the cap, so they keep the plain
    * bound via [[boundBuckets]].
    */
  val MaxBucket = 500

  /** Keep only buckets with 2..MaxBucket members; `keys` must be the
    * self-join key columns (the window re-uses their partitioning).
    */
  private def boundBuckets(df: DataFrame, keys: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("_bn", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .filter(col("_bn") >= 2 && col("_bn") <= MaxBucket)
      .drop("_bn")
  }

  /** DuckDB twin of [[boundBuckets]] as a QUALIFY-style CTE filter. */
  private def boundBucketsSql(keys: String): String =
    s"COUNT(*) OVER (PARTITION BY $keys) BETWEEN 2 AND $MaxBucket"

  /** Candidate pairs from a banded relation with hot-bucket
    * subdivision. `df` must carry one row per (member, bucket) with
    * the bucket key in `keys`, a salt column `salt` (extra
    * content-derived bits, only consulted for over-cap buckets) and
    * any payload columns to ride along on both sides of the pair.
    *
    * Three disjoint sources union into the pair stream:
    *   1. buckets of 2..MaxBucket members — all pairs (as before);
    *   2. over-cap buckets, re-keyed on (keys, salt), sub-buckets of
    *      2..MaxBucket — all pairs within the sub-bucket;
    *   3. sub-buckets STILL over the cap (members agree on bucket AND
    *      salt — a mega-cluster of near-identical content) — each
    *      member pairs with the sub-bucket's min-id representative, so
    *      the cluster stays connected (one transitive component, the
    *      property dedup actually consumes) at linear cost instead of
    *      a B² blow-up.
    *
    * Every window/self-join in here rides the partitioning of its own
    * keys, so each source costs one keyed exchange; no bucket is ever
    * dropped.
    */
  private def saltedPairs(df: DataFrame, keys: Seq[String], idCol: String,
                          payload: Seq[String],
                          hotExplode: DataFrame => DataFrame,
                          slot: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    val skc = kc :+ col("salt")
    // share the two window-counted frames: six pair-branch sides
    // consume them (small x2, subSmall x2, subBig x2) and Spark plans
    // each side as an independent subtree — without the cache the
    // whole upstream sketch pipeline (scan + fingerprint map + keyed
    // exchange + window) executes once PER SIDE (observed 6x in the
    // physical plan). Both frames are bucket-keyed and tiny relative
    // to the corpus; they live in the caller's slot.
    val counted = df.withColumn("_bn", count(lit(1)).over(Window.partitionBy(kc: _*)))
      .transform(OpCache.shared(s"$slot.counted"))
    val small = counted.filter(col("_bn") >= 2 && col("_bn") <= MaxBucket).drop("_bn")
    val hot = hotExplode(counted.filter(col("_bn") > MaxBucket).drop("_bn"))
      .withColumn("_sn", count(lit(1)).over(Window.partitionBy(skc: _*)))
      .transform(OpCache.shared(s"$slot.hot"))
    val subSmall = hot.filter(col("_sn") >= 2 && col("_sn") <= MaxBucket).drop("_sn")
    val subBig = hot.filter(col("_sn") > MaxBucket).drop("_sn")
      .withColumn("_rep", min(col(idCol)).over(Window.partitionBy(skc: _*)))

    def side(src: DataFrame, joinKeys: Seq[String], n: Int): DataFrame =
      src.select((joinKeys.map(col) ++
        (col(idCol).as(s"id$n") +: payload.map(p => col(p).as(s"$p$n")))): _*)
    def allPairs(src: DataFrame, joinKeys: Seq[String]): DataFrame =
      side(src, joinKeys, 1).join(side(src, joinKeys, 2), joinKeys)
        .filter(col("id1") < col("id2"))

    val p1 = allPairs(small, keys)
    val p2 = allPairs(subSmall, keys :+ "salt")
    val p3 = side(subBig.filter(col(idCol) === col("_rep")), keys :+ "salt", 1)
      .join(side(subBig, keys :+ "salt", 2), keys :+ "salt")
      .filter(col("id1") < col("id2"))
    val out = (Seq("id1", "id2") ++
      payload.flatMap(p => Seq(s"${p}1", s"${p}2"))).map(col)
    p1.select(out: _*)
      .unionByName(p2.select(out: _*))
      .unionByName(p3.select(out: _*))
  }

  /** DuckDB twin of [[saltedPairs]]: the chain of CTEs from a `banded`
    * relation (same column contract: keys + id + payload, NO salt yet)
    * to a `pairs` relation of (id1, id2, payload1, payload2) rows.
    * `hotExplodeSql` must be a full SELECT over the `hotraw` CTE
    * producing (keys, salt, id, payload) — the twin of `hotExplode`.
    */
  private def saltedPairsSql(keys: Seq[String], idCol: String,
                             payload: Seq[String],
                             hotExplodeSql: String): String = {
    val k = keys.mkString(", ")
    val ks = (keys :+ "salt").mkString(", ")
    def on(cols: Seq[String]) = cols.map(c => s"a.$c = b.$c").mkString(" AND ")
    val proj = s"a.$idCol AS id1, b.$idCol AS id2" +
      payload.map(c => s", a.$c AS ${c}1, b.$c AS ${c}2").mkString
    s"""counted AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY $k) AS bn FROM banded
       |), small AS (
       |  SELECT * FROM counted WHERE bn BETWEEN 2 AND $MaxBucket
       |), hotraw AS (
       |  SELECT * FROM counted WHERE bn > $MaxBucket
       |), hot AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY $ks) AS sn FROM ($hotExplodeSql)
       |), subsmall AS (
       |  SELECT * FROM hot WHERE sn BETWEEN 2 AND $MaxBucket
       |), subbig AS (
       |  SELECT *, MIN($idCol) OVER (PARTITION BY $ks) AS rep
       |  FROM hot WHERE sn > $MaxBucket
       |), pairs AS (
       |  SELECT $proj FROM small a JOIN small b
       |    ON ${on(keys)} AND a.$idCol < b.$idCol
       |  UNION ALL
       |  SELECT $proj FROM subsmall a JOIN subsmall b
       |    ON ${on(keys :+ "salt")} AND a.$idCol < b.$idCol
       |  UNION ALL
       |  SELECT $proj FROM (SELECT * FROM subbig WHERE $idCol = rep) a
       |    JOIN subbig b ON ${on(keys :+ "salt")} AND a.$idCol < b.$idCol
       |)""".stripMargin
  }

  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      array_distinct(wordShingles(tokens(col("text")), 3)).as("shingles"))

  /** Relational 3-token shingle construction: posexplode + window
    * lead + concat, all codegen'd. Produces the identical shingle set
    * to the array formulation in [[docShingles]] but ~25x faster —
    * Spark's array higher-order functions are interpreted
    * (CodegenFallback) and the Generate path re-evaluates the array
    * expression, so the HOF version pays the O(doc * shingles) lambda
    * cost twice per pass.
    */
  private[graft] def relationalShingles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1"), col("t2")).as("sh"))
      .distinct()
  }

  private def shinglesSqlCte: String =
    s"""SELECT doc_id,
       |  list_distinct(${wordShinglesSql(tokensSql("text"), 3)}) AS shingles
       |FROM documents""".stripMargin

  // ---- exact dedup ----

  /** Exact duplicate grouping by content hash: one row per distinct
    * content, the kept (minimal) id and the copy count. A pure
    * hash-groupBy — the map-side partial aggregation makes this a
    * single shuffle of (hash, id) pairs at any scale.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(hash60(col("text")).as("content_hash"), col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))

  val exactSql: String =
    s"""SELECT ${hash60Sql("text")} AS content_hash,
       |  COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
       |FROM documents
       |GROUP BY 1
       |ORDER BY keep_id""".stripMargin

  // ---- minhash + LSH ----

  /** Per-document hashed-shingle sketch: one row per doc with the
    * distinct shingle-hash array, computed by the native one-pass
    * [[graft.functions.expressions.ShingleHashes]] expression
    * (tokenize → distinct space-joined 3-grams → md5-hash each
    * exactly once, all inside one map). Signatures, posting rows,
    * sizes and the Jaccard verify all derive from this ONE cached
    * doc-level frame (~1 row / ~2.4 KB per doc — three orders of
    * magnitude fewer rows than the exploded posting it replaces), so
    * no string column ever enters a shuffle and the sketch itself
    * costs zero shuffles.
    */
  private[graft] def shingleDocs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val hashes = column(graft.functions.expressions.ShingleHashes(
      expression(col("text")), 3, P))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), hashes.as("sh"))
      // the sketch feeds 3+ plan branches (sigs/candidates/verify);
      // Spark has no subtree reuse across different shuffle keys, so
      // without this the tokenize+md5 pipeline runs once per branch.
      .transform(OpCache.shared("dedup.shingles"))
  }

  private def pairOverlap(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.expressions.PairOverlap(expression(a), expression(b)))
  }

  /** Exact Jaccard for candidate (id1, id2) pairs against the
    * doc-level sketch frame: each side joins its shingle array in by
    * doc id, |A∩B| is a native sorted-merge count with join
    * multiplicity ([[graft.functions.expressions.PairOverlap]] — row
    * counts identical to the posting-self-join formulation, so
    * hash-collision cases stay oracle-exact), |A|/|B| are array
    * sizes. Two keyed joins instead of the posting formulation's two
    * joins + groupBy + two size joins; quadratic work only ever runs
    * inside candidate buckets.
    */
  private def verifyJaccard(cand: DataFrame, docs: DataFrame): DataFrame =
    cand
      .join(docs.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("inter", pairOverlap(col("sh1"), col("sh2")).cast("double"))
      .select(col("id1"), col("id2"),
        fx(col("inter") / (size(col("sh1")).cast("long") + size(col("sh2")).cast("long")
          - col("inter")).cast("double")).as("jaccard"))

  /** MinHash+LSH near-duplicate pairs: 32 permutation minima come
    * from the native one-pass [[graft.functions.expressions.MinHashSig]]
    * map over the cached shingle sketch (zero shuffle — the earlier
    * formulation paid a 32-aggregate keyed shuffle over the exploded
    * posting); docs sharing any of 8 four-row band keys are
    * candidates; candidates are verified with exact shingle Jaccard
    * >= threshold. Permutation j is
    * h_j(x) = ((2j+1) * x + 7919j + 12345) mod (2^31-1) — products
    * stay far below 2^63 in both engines.
    */
  /** (doc_id, band, band_key) banding of a shingle-sketch frame — the
    * shared derivation of [[minhash]], [[minhashIncremental]] and the
    * persisted band layout
    * ([[graft.sources.VectorIndex.buildMinhashIndex]]): 32 permutation
    * minima via the native one-pass MinHashSig map, 8 four-row 60-bit
    * band keys per doc. Zero shuffle — a pure map over `docs`.
    */
  private[graft] def minhashBands(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val sigs = docs.select(col("doc_id"),
      column(graft.functions.expressions.MinHashSig(
        expression(col("sh")), NumHashes, P)).as("sig"))
      .filter(col("sig").isNotNull)
    sigs.select(col("doc_id"),
      explode(array((0 until NumBands).map { b =>
        struct(lit(b).as("band"),
          hash60(concat_ws(",", lit(b) +: (0 until BandRows).map(r =>
            col("sig").getItem(b * BandRows + r)): _*)).as("band_key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Banded candidates verified to exact Jaccard, UNFILTERED — the
    * shared pair relation [[minhash]] thresholds and the ablation
    * census [[sweep]] histograms. One banding + one verify pass
    * however many thresholds are read off it.
    */
  private[graft] def verifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    // shared HERE, not in [[sweep]] (r10): minhash, clusters, the
    // sweep census and every curation consumer read this one
    // near-dup-fraction-sized relation through their own thresholds,
    // whichever of them runs first
    val docs = shingleDocs(spark, dir)
    val bands = minhashBands(docs)
    val bounded = boundBuckets(bands, col("band"), col("band_key"))
    val cand = bounded.select(col("doc_id").as("id1"), col("band"), col("band_key"))
      .join(bounded.select(col("doc_id").as("id2"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    verifyJaccard(cand, docs).transform(OpCache.shared("dedup.verifiedPairs"))
  }

  def minhash(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    verifiedPairs(spark, dir)
      .filter(col("jaccard") >= (threshold * 1e4).toLong)
      .orderBy(col("id1"), col("id2"))

  /** Jaccard thresholds (fx4 basis points of 1.0) [[sweep]] ablates. */
  val SweepThetas: Seq[Long] = Seq(5000L, 6000L, 7000L, 8000L, 9000L)

  /** Node-id shift that packs (theta, doc_id) into one Long for the
    * census's single components solve: doc ids below 2^40 (a trillion
    * documents) and thetas ≤ 9999 keep theta·2^40 + id well inside
    * Long range, and min-label propagation never crosses thetas
    * because every edge stays inside its theta's id block.
    */
  private val ThetaShift = 1L << 40

  /** Dedup threshold-ablation census: for each candidate Jaccard
    * threshold θ, how many verified near-dup pairs qualify and how
    * many documents the corpus-wide delete would drop — the
    * "which θ do we run dedup at" decision table a 100 TB pipeline
    * wants BEFORE committing to a corpus-wide delete (the published
    * pipelines hand-pick 0.7-0.8; this measures the sensitivity on
    * the actual corpus). Drops are derived from the SAME
    * connected-components resolution [[clusters]] executes — every
    * non-minimal node of a component drops — so the census is exactly
    * what the delete would commit to (a pair-level COUNT(DISTINCT
    * id2) undercounts components linked only through a larger-id hub:
    * pairs {(1,3),(2,3)} drop BOTH 2 and 3 under the cluster rule —
    * advisor finding, r8).
    *
    * Scale shape: ONE banding + ONE exact-Jaccard verify (the same
    * bounded-bucket machinery as [[minhash]] — never all-pairs), a
    * 5-way threshold explode over the near-dup-fraction-sized pair
    * relation, then ONE components solve over all thetas at once —
    * (θ, id) packs into a single Long node via [[ThetaShift]], so the
    * 5 per-theta graphs resolve as disjoint blocks of one propagation
    * (≤5× the edges of the θ=min graph; same machinery as
    * [[clusters]], local union-find below the gate). The zero-fill
    * join is 5×5 rows.
    */
  def sweep(spark: SparkSession, dir: String): DataFrame = {
    // the pair relation arrives persisted (see [[verifiedPairs]]) —
    // both the per-theta pair count and the components solve read it
    val pairs = verifiedPairs(spark, dir)
    val thetas = spark.range(SweepThetas.size)
      .select(element_at(
        array(SweepThetas.map(lit): _*), col("id").cast("int") + 1).as("theta"))
    val qual = pairs
      .select(col("id1"), col("id2"), col("jaccard"),
        explode(array(SweepThetas.map(lit): _*)).as("theta"))
      .filter(col("jaccard") >= col("theta"))
    val nPairs = qual.groupBy(col("theta")).agg(count(lit(1)).as("n_pairs"))
    val comps = connectedComponents(qual.select(
      (col("theta") * ThetaShift + col("id1")).as("id1"),
      (col("theta") * ThetaShift + col("id2")).as("id2")))
    val drops = comps.filter(col("node") =!= col("label"))
      .groupBy(expr(s"node div $ThetaShift").as("theta"))
      .agg(count(lit(1)).as("n_docs_dropped"))
    thetas.join(broadcast(nPairs), Seq("theta"), "left")
      .join(broadcast(drops), Seq("theta"), "left")
      .select(col("theta"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
      .orderBy(col("theta"))
  }

  def sweepSql(): String = {
    val sigExprs = (0 until NumHashes).map { j =>
      s"min((h * ${2 * j + 1} + ${7919 * j + 12345}) % $P) AS s$j"
    }.mkString(",\n    ")
    val bandStructs = (0 until NumBands).map { b =>
      val keyParts = (s"'$b'" +: (0 until BandRows).map(r => s"s${b * BandRows + r}"))
        .mkString("concat_ws(',', ", ", ", ")")
      s"struct_pack(band := $b, band_key := ${hash60Sql(keyParts)})"
    }.mkString("[", ",\n    ", "]")
    s"""WITH docs AS ($shinglesSqlCte),
       |$postingSqlCte,
       |sigs AS (
       |  SELECT doc_id, $sigExprs FROM posting GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, unnest($bandStructs, recursive := true) FROM sigs
       |), bounded AS (
       |  SELECT * FROM bands QUALIFY ${boundBucketsSql("band, band_key")}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bounded a JOIN bounded b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |),
       |$pairsSqlCte,
       |$sweepCensusSql""".stripMargin
  }

  /** Shared census tail of [[sweepSql]] / [[sweepCanonicalSql]]:
    * per-theta qualifying pairs plus the per-theta
    * connected-components drop count — the SAME recursive min-root
    * resolution [[clustersSql]] runs, so the oracle censuses exactly
    * what the cluster delete commits to. Expects a
    * pairs(id1, id2, jaccard) CTE upstream.
    */
  private def sweepCensusSql: String = {
    val thetaList = SweepThetas.mkString("[", ", ", "]")
    s"""thetas AS (
       |  SELECT unnest($thetaList) AS theta
       |), qual AS (
       |  SELECT t.theta, p.id1, p.id2
       |  FROM thetas t JOIN pairs p ON p.jaccard >= t.theta
       |), sedges AS (
       |  SELECT theta, id1 AS a, id2 AS b FROM qual
       |  UNION SELECT theta, id2, id1 FROM qual
       |), sreach AS (
       |  WITH RECURSIVE r(theta, node, root) AS (
       |    SELECT DISTINCT theta, a, a FROM sedges
       |    UNION
       |    SELECT r.theta, e.b, r.root FROM r JOIN sedges e
       |      ON e.theta = r.theta AND e.a = r.node
       |  ) SELECT * FROM r
       |), scomp AS (
       |  SELECT theta, node, MIN(root) AS keep FROM sreach GROUP BY theta, node
       |), agged AS (
       |  SELECT theta, COUNT(*)::BIGINT AS n_pairs FROM qual GROUP BY theta
       |), sdrops AS (
       |  SELECT theta, COUNT(*)::BIGINT AS n_docs_dropped
       |  FROM scomp WHERE node <> keep GROUP BY theta
       |)
       |SELECT t.theta, COALESCE(a.n_pairs, 0) AS n_pairs,
       |  COALESCE(d.n_docs_dropped, 0) AS n_docs_dropped
       |FROM thetas t LEFT JOIN agged a USING (theta)
       |LEFT JOIN sdrops d USING (theta)
       |ORDER BY theta""".stripMargin
  }

  /** Shared SQL: hashed shingle posting + Jaccard verification CTEs.
    * Expects a `cand(id1, id2)` CTE to exist upstream.
    */
  private def postingSqlCte: String =
    s"""posting AS (
       |  SELECT doc_id, ${hash60Sql("sh")} % $P AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM docs)
       |)""".stripMargin

  /** `pairs(id1, id2, jaccard)` CTE chain — every candidate pair with
    * its exact fx4 Jaccard, unfiltered. Expects `posting` and `cand`
    * CTEs upstream.
    */
  private def pairsSqlCte: String =
    s"""sizes AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM posting GROUP BY doc_id
       |), inter AS (
       |  SELECT c.id1, c.id2, COUNT(*)::DOUBLE AS inter
       |  FROM cand c
       |  JOIN posting p1 ON p1.doc_id = c.id1
       |  JOIN posting p2 ON p2.doc_id = c.id2 AND p2.h = p1.h
       |  GROUP BY c.id1, c.id2
       |), pairs AS (
       |  SELECT i.id1, i.id2,
       |    ${fxSql("i.inter / (s1.sz + s2.sz - i.inter)::DOUBLE")} AS jaccard
       |  FROM inter i
       |  JOIN sizes s1 ON s1.doc_id = i.id1
       |  JOIN sizes s2 ON s2.doc_id = i.id2
       |)""".stripMargin

  private def verifySqlTail(thresholdFx: Long): String =
    s"""$pairsSqlCte
       |SELECT id1, id2, jaccard FROM pairs
       |WHERE jaccard >= $thresholdFx
       |ORDER BY id1, id2""".stripMargin

  def minhashSql(threshold: Double = 0.5): String = {
    val sigExprs = (0 until NumHashes).map { j =>
      s"min((h * ${2 * j + 1} + ${7919 * j + 12345}) % $P) AS s$j"
    }.mkString(",\n    ")
    val bandStructs = (0 until NumBands).map { b =>
      val keyParts = (s"'$b'" +: (0 until BandRows).map(r => s"s${b * BandRows + r}"))
        .mkString("concat_ws(',', ", ", ", ")")
      s"struct_pack(band := $b, band_key := ${hash60Sql(keyParts)})"
    }.mkString("[", ",\n    ", "]")
    s"""WITH docs AS ($shinglesSqlCte),
       |$postingSqlCte,
       |sigs AS (
       |  SELECT doc_id, $sigExprs FROM posting GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, unnest($bandStructs, recursive := true) FROM sigs
       |), bounded AS (
       |  SELECT * FROM bands QUALIFY ${boundBucketsSql("band, band_key")}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bounded a JOIN bounded b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |),
       |${verifySqlTail((threshold * 1e4).toLong)}""".stripMargin
  }

  // ---- simhash ----

  /** Per-doc 60-bit weighted simhash as two words (lo 32 bits, hi 28
    * bits), computed by the native one-pass
    * [[graft.functions.expressions.SimHashWords]] expression — a
    * zero-shuffle map (the earlier relational formulation paid an
    * explode, a repartition and a 60-aggregate groupBy per doc).
    */
  private[graft] def simhashWordsDf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val words = column(graft.functions.expressions.SimHashWords(expression(col("text"))))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), words.as("words"))
      .filter(col("words").isNotNull)
  }

  /** Relational twin of [[simhashWordsDf]] kept as the reference
    * semantics the native expression must match (DedupSpec parity
    * test): Spark-side md5 (`hash60` column) + 60 literal-shift SUM
    * aggregates. Slower (explode + two shuffles) but built entirely
    * from Spark built-ins.
    */
  private[graft] def relationalSimhashWords(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("h", hash60(col("term")))
    val bitsums = tf.groupBy(col("doc_id")).agg(
      sum(col("tf") * (shiftright(col("h"), 0).bitwiseAND(1) * 2 - 1)).as("b0"),
      (1 until 60).map { i =>
        sum(col("tf") * (shiftright(col("h"), i).bitwiseAND(1) * 2 - 1)).as(s"b$i")
      }: _*)
    val lo = (0 until 32).map(i =>
      when(col(s"b$i") > 0, math.pow(2, i)).otherwise(0.0)).reduce(_ + _).cast("long")
    val hi = (32 until 60).map(i =>
      when(col(s"b$i") > 0, math.pow(2, i - 32)).otherwise(0.0)).reduce(_ + _).cast("long")
    bitsums.select(col("doc_id"), array(lo, hi).as("words"))
  }

  private def simhashWordsSql: String =
    s"""list_transform(range(0, 60), i ->
       |      list_sum(list_transform(pairs, p -> p.tf * CASE WHEN (p.h >> i) & 1 = 1 THEN 1 ELSE -1 END)))""".stripMargin

  /** SimHash near-duplicate pairs. Banding: the 60-bit fingerprint
    * splits into four 15-bit bands; any pair within Hamming distance 3
    * shares a band exactly (pigeonhole), so the band join finds ALL
    * such pairs — this is exact search, not approximation, at a
    * linear shuffle cost. Pairs up to `maxHamming` that happen to
    * collide on a band are also surfaced.
    *
    * A band key space of 15 bits saturates at scale (32,768 values per
    * band — at billions of docs EVERY bucket is over [[MaxBucket]]),
    * so over-cap buckets are not dropped but salt-subdivided via
    * [[saltedPairs]]: the 45 bits OUTSIDE the matched band split into
    * four ~11-bit sub-bands, and members pair within (band, bits,
    * sub-band). The hamming<=3 guarantee survives — such a pair agrees
    * on the matched band, so its <=3 differing bits hit at most 3 of
    * the 4 sub-bands (pigeonhole again). A sub-bucket still over the
    * cap means >MaxBucket docs agree on ~26 fingerprint bits — a
    * mega-cluster of near-identical boilerplate — and is star-linked
    * to its min-id representative: the cluster dedups as one connected
    * component at linear cost instead of a quadratic pair blow-up.
    */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 10): DataFrame =
    simhashPairsFromWords(simhashWordsDf(spark, dir), maxHamming, "dedup.simhash")

  /** Pair search over a prepared (doc_id, words: array<long>[lo, hi])
    * relation — split out so specs can drive synthetic fingerprint
    * corpora (hot-bucket coverage) through the exact production path.
    */
  private[graft] def simhashPairsFromWords(docs: DataFrame, maxHamming: Int,
                                           slot: String): DataFrame = {
    val lo = col("words").getItem(0)
    val hi = col("words").getItem(1)
    // f packs the 60 fingerprint bits at positions 0..31 (lo) and
    // 32..59 (hi); band start positions are 0, 15, 32, 47
    val banded = docs
      .withColumn("f", lo.bitwiseOR(shiftleft(hi, 32)))
      .select(col("doc_id"), col("words"), col("f"),
        explode(array(SimhashBandStarts.zipWithIndex.map { case (s, p) =>
          struct(lit(p).as("band"),
            shiftright(col("f"), s).bitwiseAND(0x7FFF).as("bits"))
        }: _*)).as("b"))
      .select(col("doc_id"), col("words"), col("f"),
        col("b.band").as("band"), col("b.bits").as("bits"))
    // rem = the 45 (47 for the 13-bit top band) bits outside band p
    val rem = SimhashBandStarts.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (s, p)) =>
        val r = col("f").bitwiseAND((1L << s) - 1)
          .bitwiseOR(shiftleft(shiftright(col("f"), s + 15), s))
        when(col("band") === p, r).otherwise(acc)
    }
    val hotExplode: DataFrame => DataFrame = hot =>
      hot.withColumn("rem", rem)
        .withColumn("salt", explode(array(
          col("rem").bitwiseAND(0x7FF),
          lit(1L * 16384) + shiftright(col("rem"), 11).bitwiseAND(0x7FF),
          lit(2L * 16384) + shiftright(col("rem"), 22).bitwiseAND(0x7FF),
          lit(3L * 16384) + shiftright(col("rem"), 33))))
    saltedPairs(banded, Seq("band", "bits"), "doc_id", Seq("words"), hotExplode, slot)
      .select(col("id1"), col("id2"),
        hammingDistance(col("words1"), col("words2")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("id1"), col("id2"))
  }

  /** Bit offsets of the four simhash bands inside the packed 60-bit
    * fingerprint (15 bits each from lo at 0/15, 15+13 from hi at
    * 32/47; lo bits 30-31 belong to no band, which only strengthens
    * the pigeonhole bound).
    */
  private val SimhashBandStarts = Seq(0, 15, 32, 47)

  def simhashSql(maxHamming: Int = 10): String = {
    val bandStructs = SimhashBandStarts.zipWithIndex.map { case (s, p) =>
      s"struct_pack(band := $p, bits := (f >> $s) & 32767)"
    }.mkString("[\n    ", ",\n    ", "]")
    val remCase = "CASE " + SimhashBandStarts.zipWithIndex.map { case (s, p) =>
      s"WHEN band = $p THEN (f & ${(1L << s) - 1}) | ((f >> ${s + 15}) << $s)"
    }.mkString(" ") + " END"
    val hotExplodeSql =
      s"""SELECT band, bits, doc_id, lo, hi, unnest([
         |      rem & 2047,
         |      16384 + ((rem >> 11) & 2047),
         |      32768 + ((rem >> 22) & 2047),
         |      49152 + (rem >> 33)]) AS salt
         |    FROM (SELECT *, $remCase AS rem FROM hotraw)""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents
       |), tp AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(toks),
       |      t -> struct_pack(tf := len(list_filter(toks, x -> x = t)), h := ${hash60Sql("t")})) AS pairs
       |  FROM toks WHERE len(toks) > 0
       |), sums AS (
       |  SELECT doc_id, $simhashWordsSql AS bitsums FROM tp
       |), words AS (
       |  SELECT doc_id,
       |    list_sum(list_transform(range(0, 32), i -> CASE WHEN bitsums[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS lo,
       |    list_sum(list_transform(range(0, 28), i -> CASE WHEN bitsums[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS hi
       |  FROM sums
       |), banded AS (
       |  SELECT doc_id, lo, hi, f, unnest($bandStructs, recursive := true)
       |  FROM (SELECT doc_id, lo, hi, (lo | (hi << 32)) AS f FROM words)
       |),
       |${saltedPairsSql(Seq("band", "bits"), "doc_id", Seq("lo", "hi"), hotExplodeSql)}
       |SELECT DISTINCT id1, id2,
       |  (bit_count(xor(lo1, lo2)) + bit_count(xor(hi1, hi2)))::BIGINT AS hamming
       |FROM pairs
       |WHERE (bit_count(xor(lo1, lo2)) + bit_count(xor(hi1, hi2))) <= $maxHamming
       |ORDER BY id1, id2""".stripMargin
  }

  // ---- n-gram jaccard ----

  /** N-gram Jaccard pairs via a rare-shingle inverted index: only
    * shingles with document frequency <= dfCap generate candidates
    * (SpotSigs-style blocking), candidates are verified exactly. The
    * dfCap bounds per-shingle fan-out to C(dfCap,2) pairs, keeping
    * the join linear in corpus size.
    */
  /** Minimum number of shared rare shingles for a pair to become a
    * candidate. With a highly repetitive corpus single shared rare
    * shingles produce millions of junk candidates; >=3 shared ones
    * keep every real near-dup (which shares hundreds) while cutting
    * the candidate set by orders of magnitude.
    */
  val NgramMinCommon = 3

  def ngramJaccard(spark: SparkSession, dir: String,
                   dfCap: Int = 20, threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = shingleDocs(spark, dir)
    val posting = docs.select(col("doc_id"), explode(col("sh")).as("h"))
    // df rides a window over the SAME h-partitioning the candidate
    // self-join shuffles on (one keyed exchange total), instead of a
    // separate groupBy(h) aggregate joined back in; persisted because
    // both self-join sides consume it as independent subtrees (same
    // 6x-replan pathology as saltedPairs, here 2x)
    val rarePosting = posting
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= dfCap && col("df") >= 2)
      .select(col("h"), col("doc_id"))
      .transform(OpCache.shared("dedup.ngram.rare"))
    val cand = rarePosting.select(col("h"), col("doc_id").as("id1"))
      .join(rarePosting.select(col("h"), col("doc_id").as("id2")), "h")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= NgramMinCommon)
      .select(col("id1"), col("id2"))
    verifyJaccard(cand, docs)
      .filter(col("jaccard") >= (threshold * 1e4).toLong)
      .orderBy(col("id1"), col("id2"))
  }

  def ngramJaccardSql(dfCap: Int = 20, threshold: Double = 0.3): String =
    s"""WITH docs AS ($shinglesSqlCte),
       |$postingSqlCte,
       |rare AS (
       |  SELECT h FROM posting GROUP BY h HAVING COUNT(*) <= $dfCap AND COUNT(*) >= 2
       |), rp AS (
       |  SELECT p.doc_id, p.h FROM posting p JOIN rare USING (h)
       |), cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM rp a JOIN rp b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $NgramMinCommon
       |),
       |${verifySqlTail((threshold * 1e4).toLong)}""".stripMargin

  // ---- near-dup clusters (connected components) ----

  /** Edge-count ceiling for the driver-side union-find fast path of
    * [[connectedComponents]]: 200k (id1,id2) longs ≈ 3 MB on the
    * driver — the same order as Spark's own broadcast-join threshold,
    * and the same design: a runtime size measurement picks the
    * strategy, never an assumption about the input.
    */
  val LocalSolveMaxEdges: Long = 200000L

  /** Driver-side min-label components for a broadcast-sized pair
    * graph: union-find with path compression + union by rank, then
    * each node labeled with its component's minimum id — exactly the
    * fixpoint the distributed propagation converges to, so the two
    * paths are interchangeable row-for-row.
    */
  private def localComponents(session: SparkSession,
                              pairs: Array[org.apache.spark.sql.Row]): DataFrame = {
    import scala.collection.mutable
    val parent = mutable.LongMap.empty[Long]
    val rank = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (la, lb) = (rank.getOrElse(ra, 0L), rank.getOrElse(rb, 0L))
        if (la < lb) parent(ra) = rb
        else if (la > lb) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = la + 1 }
      }
    }
    val nodes = mutable.LongMap.empty[Unit]
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      nodes(a) = (); nodes(b) = ()
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      union(a, b)
    }
    val minOf = mutable.LongMap.empty[Long]
    nodes.keysIterator.foreach { n =>
      val r = find(n)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), n)
    }
    val rows = nodes.keysIterator.map(n => (n, minOf(find(n)))).toSeq
    import session.implicits._
    rows.toDF("node", "label")
  }

  /** Connected components over an undirected (id1, id2) pair relation
    * by iterative min-label propagation: every node adopts the
    * smallest label among itself and its neighbors until fixpoint.
    * Each round is one join + one aggregate (both keyed shuffles);
    * rounds needed = component diameter, and near-dup components are
    * shallow (dup clusters are clique-ish), so the loop converges in
    * a handful of distributed rounds at any corpus size — the same
    * shape GraphX/GraphFrames use for CC. The driver only checks the
    * per-round convergence count, never the data.
    *
    * Strategy gate: the pair relation is counted ONCE anyway (to pin
    * its cache and size the round shuffles), so the measured edge
    * count also picks the execution strategy, exactly as Spark's
    * planner swaps a shuffle join for a broadcast join under a size
    * threshold. At or below [[LocalSolveMaxEdges]] the graph is
    * broadcast-sized and each distributed round would pay far more in
    * plan-compile + task-launch fixed costs than the whole solve is
    * worth — union-find with path compression on the driver answers in
    * O(E α(E)) and is proven label-identical to the distributed loop
    * (DedupScaleSpec runs both on the same graph). Above the gate the
    * propagation loop runs unchanged; the gate only ever removes
    * per-round fixed costs, never parallelism that matters.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
                          localMaxEdges: Long = LocalSolveMaxEdges): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // AQE OFF for the propagation loop: adaptive re-planning defeats
    // cached-iterate reuse in iterative plans (each check re-executed
    // the whole lineage instead of reading the persisted previous
    // round — measured 4-5s per check vs 0.6-0.8s without AQE on the
    // same tiny graph), and its per-job replanning adds nothing to
    // fixed 32-partition rounds over node-count-sized relations. The
    // session value is restored before returning; the emitted plan is
    // a cache read and executes fine either way.
    val session = pairs.sparkSession
    val AqeKey = "spark.sql.adaptive.enabled"
    val PartsKey = "spark.sql.shuffle.partitions"
    val prevAqe = session.conf.get(AqeKey, "true")
    val prevParts = session.conf.get(PartsKey, "200")
    session.conf.set(AqeKey, "false")
    try {
    // persist AND eagerly materialize the input: edges unions the pair
    // relation with its own reversal, and a lazily-cached expensive
    // subtree (LSH banding + salted self-join for the embedding path)
    // is computed CONCURRENTLY by both union branches before the cache
    // lands — the count pins it once, everything downstream reads cache
    val p = pairs.persist(MEMORY_AND_DISK)
    val nPairs = p.count()
    if (nPairs <= localMaxEdges) {
      // the count above fully pinned the cache, so this collect is a
      // cache read (an incremental limit-collect probe was tried in
      // r10 and measured SLOWER: its scale-up rounds re-enter the
      // lineage several times where one parallel count pays once)
      val out = localComponents(session, p.select(col("id1"), col("id2")).collect())
      p.unpersist()
      return out
    }
    // Right-size the per-round shuffles to the GRAPH, not the corpus:
    // the pair relation is near-dup-fraction sized, usually orders of
    // magnitude below the corpus the session's shuffle.partitions is
    // tuned for, and every propagation round pays task launch +
    // exchange overhead per partition (with AQE off — see above —
    // nothing coalesces them). ~5k edges per partition keeps rounds
    // dense; a genuinely huge pair graph keeps the session value, so
    // this only ever shrinks, never caps, the parallelism.
    val parts = math.min(prevParts.toIntOption.getOrElse(200).max(1).toLong,
      math.max(4L, nPairs / 5000L + 1L)).toString
    session.conf.set(PartsKey, parts)
    val fwd = p.select(col("id1").as("a"), col("id2").as("b"))
    val edges = fwd.unionByName(fwd.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(MEMORY_AND_DISK)
    // One propagation round. Every node keeps a self row carrying its
    // incoming label as `own` (neighbor rows carry a MaxValue
    // sentinel), so min(own) rides the SAME aggregate as min(label)
    // and the convergence test needs no extra join against the
    // previous labels. shuffle_hash hint: neither side is
    // broadcastable at scale and a sort adds nothing to an equi-probe
    // (keeps the whole-surface no-SortMergeJoin invariant).
    def step(l: DataFrame): DataFrame = l
      .join(edges.hint("shuffle_hash"), col("node") === col("a"))
      .select(col("b").as("node"), col("label"), lit(Long.MaxValue).as("own"))
      .unionByName(l.select(col("node"), col("label"), col("label").as("own")))
      .groupBy(col("node"))
      .agg(min(col("label")).as("label"), min(col("own")).as("old"))
    var cached = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .persist(MEMORY_AND_DISK)
    var labels = cached
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // two lazy rounds per materialized convergence check: the check
      // compares round 2 against round 1, and step(x) == x is exactly
      // the fixpoint condition, so stopping here is stopping at
      // convergence — with half the driver actions of check-per-round
      val mid = step(labels).select(col("node"), col("label"))
      val next = step(mid).persist(MEMORY_AND_DISK)
      val changed = next.filter(col("label") =!= col("old")).count()
      cached.unpersist()
      cached = next
      labels = next.select(col("node"), col("label"))
      converged = changed == 0
      iter += 1
    }
    // partially-propagated labels are silently WRONG (one component
    // reported as several) — refuse to return them; maxIters bounds
    // 2*maxIters propagation rounds = component diameter, so only a
    // pathological chain-shaped graph can get here
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within ${2 * maxIters} rounds; " +
          "raise maxIters for graphs with component diameter beyond that")
    edges.unpersist()
    p.unpersist()
    labels
    } finally {
      session.conf.set(AqeKey, prevAqe)
      session.conf.set(PartsKey, prevParts)
    }
  }

  /** Near-duplicate clusters from the verified minhash pairs: each
    * doc in any near-dup pair maps to its component's minimal id —
    * the keep/drop decision a dedup pipeline actually executes
    * (reference near-dup surface src/lib.rs content identity;
    * pair-to-cluster resolution is the step after [[minhash]]).
    */
  def clusters(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    connectedComponents(minhash(spark, dir, threshold).select(col("id1"), col("id2")))
      // is_dup as 0/1 BIGINT: every other surface column is integral
      // and the driver's hash-compare has no boolean precedent — don't
      // gamble the round's correctness on bool stringification parity
      .select(col("node").as("doc_id"), col("label").as("keep_id"),
        (col("node") =!= col("label")).cast("long").as("is_dup"))
      .orderBy(col("doc_id"))

  /** [[clusters]] with its pair derivation served from the persisted
    * band layout ([[minhashIndexed]] — bit-equal pairs, no text scan):
    * the cluster resolution a 100 TB curation run executes when the
    * store maintains its signature index. Same oracle as [[clusters]];
    * DedupSpec pins row equality. [[graft.operators.Curation
    * .curationFlags]] rides this form, so corpus_curate and
    * curation_funnel inherit the amortization.
    */
  def clustersIndexed(spark: SparkSession, dir: String,
                      threshold: Double = 0.5): DataFrame =
    connectedComponents(minhashIndexed(spark, dir, threshold)
        .select(col("id1"), col("id2")))
      .select(col("node").as("doc_id"), col("label").as("keep_id"),
        (col("node") =!= col("label")).cast("long").as("is_dup"))
      .orderBy(col("doc_id"))

  def clustersSql(threshold: Double = 0.5): String =
    s"""WITH pairs0 AS (
       |  ${minhashSql(threshold).replace("\n", "\n  ")}
       |), edges AS (
       |  SELECT id1 AS a, id2 AS b FROM pairs0
       |  UNION SELECT id2, id1 FROM pairs0
       |), reach AS (
       |  WITH RECURSIVE r(node, root) AS (
       |    SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |    UNION
       |    SELECT e.b, r.root FROM r JOIN edges e ON e.a = r.node
       |  ) SELECT * FROM r
       |)
       |SELECT node AS doc_id, MIN(root) AS keep_id,
       |  (node <> MIN(root))::BIGINT AS is_dup
       |FROM reach
       |GROUP BY node
       |ORDER BY doc_id""".stripMargin

  /** Connected components over the EMBEDDING near-dup pairs — the
    * semantic twin of [[clusters]]: the same min-label propagation
    * resolves hyperplane-bucketed cosine pairs into keep/drop groups
    * (the cluster step of embedding-based corpus dedup, SemDeDup-style,
    * over the reference's dense-vector identity surface). Shares every
    * scale property of the lexical path: bucketed pair generation, one
    * keyed join + aggregate per round, rounds = component diameter.
    */
  def semanticClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(embeddingPairs(spark, dir).select(col("id1"), col("id2")))
      .select(col("node").as("vec_id"), col("label").as("keep_id"),
        (col("node") =!= col("label")).cast("long").as("is_dup"))
      .orderBy(col("vec_id"))

  def semanticClustersSql(): String =
    s"""WITH pairs0 AS (
       |  ${embeddingPairsSql().replace("\n", "\n  ")}
       |), edges AS (
       |  SELECT id1 AS a, id2 AS b FROM pairs0
       |  UNION SELECT id2, id1 FROM pairs0
       |), reach AS (
       |  WITH RECURSIVE r(node, root) AS (
       |    SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |    UNION
       |    SELECT e.b, r.root FROM r JOIN edges e ON e.a = r.node
       |  ) SELECT * FROM r
       |)
       |SELECT node AS vec_id, MIN(root) AS keep_id,
       |  (node <> MIN(root))::BIGINT AS is_dup
       |FROM reach
       |GROUP BY node
       |ORDER BY vec_id""".stripMargin

  // ---- embedding cosine near-dup ----

  /** Number of extra hyperplanes salting over-cap embedding buckets:
    * a hot bucket re-partitions into 2^10 sub-buckets keyed by the
    * member's signature on planes the base bucket never consulted —
    * the standard LSH precision/recall dial (more planes = only closer
    * pairs still collide), applied ONLY where the base 2^6 key space
    * saturated, instead of discarding the bucket.
    */
  val EmbeddingSaltPlanes = 10

  /** Embedding near-duplicate candidates: pairs inside the same
    * random-hyperplane LSH bucket, ranked by exact cosine, top-k.
    * The bucket key bounds the pair space to ~n^2/2^planes; buckets
    * over [[MaxBucket]] are salt-subdivided on
    * [[EmbeddingSaltPlanes]] extra hyperplanes via [[saltedPairs]]
    * (sub-buckets still over the cap — near-identical mega-clusters —
    * star-link to their min-id representative), so at 100x data the
    * operator degrades to higher precision, never to silence.
    */
  def embeddingPairs(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    embeddingPairsFromVecs(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("emb")), k)

  /** Pair search over a prepared (vec_id, emb: array<double>) relation
    * — split out so specs can drive synthetic hot-bucket corpora
    * through the exact production path.
    */
  private[graft] def embeddingPairsFromVecs(vecs: DataFrame, k: Int): DataFrame = {
    val all = VectorSearch.lshPlanes(64, VectorSearch.LshPlanes + EmbeddingSaltPlanes)
    val base = all.take(VectorSearch.LshPlanes)
    val extra = all.drop(VectorSearch.LshPlanes)
    val banded = vecs
      .withColumn("bucket", VectorSearch.lshBucket(col("emb"), base))
    val hotExplode: DataFrame => DataFrame =
      _.withColumn("salt", VectorSearch.lshBucket(col("emb"), extra))
    saltedPairs(banded, Seq("bucket"), "vec_id", Seq("emb"), hotExplode, "dedup.embedding")
      .select(col("id1"), col("id2"),
        fx(cosineSimilarity(col("emb1"), col("emb2")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id1"), col("id2"))
      .limit(k)
  }

  def embeddingPairsSql(k: Int = 50): String = {
    val all = VectorSearch.lshPlanes(64, VectorSearch.LshPlanes + EmbeddingSaltPlanes)
    val planesSql = all.map(_.mkString("[", ",", "]")).mkString("[", ", ", "]")
    def sigExpr(from: Int, n: Int): String = (0 until n).map { j =>
      s"(CASE WHEN list_dot_product(emb, planes[${from + j + 1}]::DOUBLE[]) > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)"
    }.mkString(" + ")
    val hotExplodeSql =
      s"SELECT bucket, vec_id, emb, planes, (${sigExpr(VectorSearch.LshPlanes, EmbeddingSaltPlanes)}) AS salt FROM hotraw"
    s"""WITH e0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb, $planesSql AS planes FROM embeddings
       |), banded AS (
       |  SELECT vec_id, emb, planes, (${sigExpr(0, VectorSearch.LshPlanes)}) AS bucket FROM e0
       |),
       |${saltedPairsSql(Seq("bucket"), "vec_id", Seq("emb"), hotExplodeSql)}
       |SELECT id1, id2,
       |  ${fxSql(VectorSearch.cosineSql("emb1", "emb2"), 6)} AS cosine
       |FROM pairs
       |ORDER BY cosine DESC, id1, id2
       |LIMIT $k""".stripMargin
  }

  // ---- chunk-granular exact dedup ----

  /** Window width (whitespace tokens) for chunk-granular dedup:
    * NON-overlapping, unlike [[TextAnalysis.textChunk]]'s sliding
    * windows — overlap would make every window collide with its own
    * neighbours and report intra-document "duplication" that isn't.
    */
  val ChunkDedupW = 32

  /** Chunk-granular exact deduplication (the document-internal half
    * of exact-substring dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" at fixed-window
    * granularity): cut every document into consecutive
    * [[ChunkDedupW]]-token windows, hash each window, and report per
    * document how many of its chunks also occur in ANOTHER document.
    * Whole-doc dedup misses boilerplate shared across distinct pages
    * (headers, licence blocks, navigation); this flags it at window
    * resolution so a downstream pass can drop the repeated spans
    * instead of whole documents.
    *
    * Scale shape: map + Generate to the chunk stream, one hash-keyed
    * groupBy for chunk frequency (map-side partials — the heavy
    * string column never shuffles, only its 60-bit hash), one
    * shuffle_hash join back and one doc-keyed aggregate. Linear at
    * any corpus size; no self-join, no pair space.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val start = col("chunk_ix") * ChunkDedupW + 1
    val occ = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          ceil(col("n").cast("double") / ChunkDedupW).cast("long") - 1L)).as("chunk_ix"),
        col("toks"))
      .select(col("doc_id"),
        hash60(array_join(slice(col("toks"), start, lit(ChunkDedupW)), " ")).as("h"))
    val freq = occ.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
    occ.join(freq.hint("shuffle_hash"), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("n_docs") >= 2, 1)).as("shared_chunks"),
        fx(count(when(col("n_docs") >= 2, 1)).cast("double") /
          count(lit(1)).cast("double"), 6).as("shared_frac"))
      .orderBy(col("doc_id"))
  }

  val chunkDedupSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents
       |), occ AS (
       |  SELECT doc_id,
       |    ${hash60Sql(s"array_to_string(list_slice(toks, chunk_ix * $ChunkDedupW + 1, chunk_ix * $ChunkDedupW + $ChunkDedupW), ' ')")} AS h
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(0, CAST(CEIL(n / $ChunkDedupW.0) AS BIGINT))) AS chunk_ix
       |        FROM t)
       |), freq AS (
       |  SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM occ GROUP BY h
       |)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  COUNT(CASE WHEN n_docs >= 2 THEN 1 END) AS shared_chunks,
       |  ${fxSql("COUNT(CASE WHEN n_docs >= 2 THEN 1 END)::DOUBLE / COUNT(*)::DOUBLE", 6)} AS shared_frac
       |FROM occ JOIN freq USING (h)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---- normalization-gated exact dedup (C4-style) ----

  /** Exact dedup after text normalization — lowercase, every
    * non-alphanumeric run collapsed to one space, trimmed — the
    * C4-style "fuzzy-exact" gate catching duplicates that differ only
    * in case, punctuation or whitespace, which raw content-hash dedup
    * ([[exact]]) misses. One row per normalized form with the copy
    * count, the number of DISTINCT raw variants collapsed, and the
    * kept (minimal) id.
    *
    * Scale: identical shape to [[exact]] — one hash-groupBy with
    * map-side partials over a zero-shuffle codegen'd regexp map; the
    * n_variants exact-distinct rides the same (norm_hash)-keyed
    * exchange (partial distinct-sets merge map-side, and a group's
    * cardinality is bounded by its copy count, not the corpus).
    * (Reference content identity: lib.rs add_document content-hash
    * skip-existing; the normalized gate is the curation-pipeline
    * extension over it.)
    */
  private[graft] def normalizedFromDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        hash60(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("norm_hash"))
      .groupBy(col("norm_hash"))
      .agg(count(lit(1)).as("n_copies"),
        count_distinct(col("text")).as("n_variants"),
        min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))

  def normalizedExact(spark: SparkSession, dir: String): DataFrame =
    normalizedFromDocs(Tables.documents(spark, dir))

  val normalizedExactSql: String =
    s"""SELECT ${hash60Sql("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))")} AS norm_hash,
       |  COUNT(*) AS n_copies, COUNT(DISTINCT text) AS n_variants,
       |  MIN(doc_id) AS keep_id
       |FROM documents
       |GROUP BY 1
       |ORDER BY keep_id""".stripMargin

  // ---- winnowing fingerprints (local-overlap detection) ----

  /** k-gram width (tokens) and winnowing window (k-grams). */
  val WinnowK = 4
  val WinnowW = 4
  val WinnowMinShared = 2

  /** Winnowed fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003): hash every [[WinnowK]]-gram of the token stream in
    * position order, then keep a k-gram iff its hash is the minimum
    * of the [[WinnowW]]-wide window ENDING at it. Expected density is
    * ~2/(w+1) of all k-grams, so the fingerprint posting is ~(w+1)/2x
    * smaller than the full shingle posting [[ngramJaccard]] joins on
    * — while any sufficiently long verbatim shared token run still
    * contributes a shared selected fingerprint (the run's minimal
    * hash is selected in BOTH docs once its window lies inside the
    * run). That density/guarantee trade is what makes position-aware
    * overlap detection affordable at corpus scale.
    *
    * One doc_id-keyed exchange total: the lead-window k-gram
    * construction and the min-window selection ride the same
    * (doc_id, pos) sort.
    */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .withColumn("t3", lead(col("tok"), 3).over(w))
      .filter(col("t3").isNotNull)
      .select(col("doc_id"), col("pos"),
        hash60(concat_ws(" ", col("tok"), col("t1"), col("t2"), col("t3"))).as("h"))
      .withColumn("wmin", min(col("h")).over(w.rowsBetween(-(WinnowW - 1), 0)))
      .filter(col("h") === col("wmin"))
      .select(col("doc_id"), col("h"))
      .distinct()
  }

  /** Winnowing-based local-overlap pairs: docs sharing >= `minShared`
    * selected fingerprints, with the shared count — the MOSS-style
    * plagiarism/boilerplate-span signal. A pair can share one long
    * verbatim span without being whole-doc near-duplicates, which is
    * exactly the case Jaccard-style dedup scores below threshold;
    * conversely every reported pair shares verbatim k-grams, not just
    * vocabulary. Ubiquitous fingerprints (df > [[MaxBucket]]) are
    * boilerplate, not pair evidence, and are dropped exactly like
    * [[ngramJaccard]]'s df cap — so no fingerprint bucket ever goes
    * quadratic. The df count rides a window over the SAME
    * h-partitioning the self-join shuffles on.
    */
  private[graft] def winnowPairsFromDocs(docs: DataFrame, minShared: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sel = winnowFingerprints(docs)
    val rare = sel
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") >= 2 && col("df") <= MaxBucket)
      .select(col("h"), col("doc_id"))
      .transform(OpCache.shared("dedup.winnow.rare"))
    rare.select(col("h"), col("doc_id").as("id1"))
      .join(rare.select(col("h"), col("doc_id").as("id2")), "h")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("id1"), col("id2"))
  }

  def winnow(spark: SparkSession, dir: String): DataFrame =
    winnowPairsFromDocs(
      Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text"))),
      WinnowMinShared)

  val winnowSql: String =
    s"""WITH kg AS (
       |  SELECT doc_id, ${wordShinglesSql(tokensSql("text"), WinnowK)} AS gs
       |  FROM documents
       |), pos AS (
       |  SELECT doc_id, i, ${hash60Sql("g")} AS h
       |  FROM (SELECT doc_id, unnest(range(1, len(gs) + 1)) AS i, unnest(gs) AS g FROM kg)
       |), sel AS (
       |  SELECT DISTINCT doc_id, h FROM (
       |    SELECT doc_id, h,
       |      MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |                   ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS wmin
       |    FROM pos)
       |  WHERE h = wmin
       |), rare AS (
       |  SELECT h FROM sel GROUP BY h HAVING COUNT(*) BETWEEN 2 AND $MaxBucket
       |), rp AS (
       |  SELECT s.doc_id, s.h FROM sel s JOIN rare USING (h)
       |)
       |SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
       |FROM rp a JOIN rp b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared
       |ORDER BY id1, id2""".stripMargin

  // ---- span-level duplicate coverage (substring dedup signal) ----

  /** Span gram width in tokens, and the coverage flag threshold in
    * basis points (2000 = a fifth of the doc verbatim-shared).
    */
  val SpanW = 8
  val SpanFlagBp = 2000L

  /** Per-document duplicated-SPAN coverage — the substring-level
    * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"), where the unit of duplication is
    * a verbatim token span, not the whole document: a token position
    * is duplicated iff some [[SpanW]]-token window containing its
    * start also appears in at least one OTHER document. Emits per doc
    * the token count, the number of tokens covered by duplicated
    * spans (union of overlapping windows, not a double-count), the
    * coverage in integer basis points (`div` — exact cross-engine at
    * any magnitude) and the ≥[[SpanFlagBp]] drop flag. Whole-doc
    * near-dup scoring ([[minhashPairs]]) misses a unique document
    * that embeds a long quoted/boilerplate block; this is the gate
    * that catches it — and unlike [[winnow]]'s pair view, the output
    * is a per-doc verdict, linear in the corpus, never pair-shaped.
    *
    * Scale shape — the Spark substitute for the paper's monolithic
    * suffix array, which cannot be built across machines: stride-1
    * gram hashing is a zero-shuffle native map
    * ([[expressions.ShingleStrings]] + posexplode); "seen in ≥2 docs"
    * is a two-level (h, doc) → h aggregate (map-side partials, the
    * gram-vocabulary-keyed exchange is the operator's one big
    * shuffle); the gram→dup-hash join is a shuffle_hash on h riding
    * that same partitioning (the dup-hash relation is
    * corpus-fraction-sized — on a boilerplate-heavy web corpus a
    * large fraction of grams — and is NEVER broadcast, the
    * curate-corpus lesson); interval union is one lag window
    * partitioned by doc_id (per-doc width, no skew ceiling: a doc
    * contributes at most its own length).
    */
  def spanCoverage(spark: SparkSession, dir: String): DataFrame =
    spanCoverageFromDocs(Tables.spread(spark,
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))))

  private[graft] def spanCoverageFromDocs(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val grams8 = column(graft.functions.expressions.ShingleStrings(
      expression(col("text")), SpanW))
    val docs = docsIn
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"),
        grams8.as("gs"))
    val grams = docs
      .select(col("doc_id"), posexplode(col("gs")).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        hash60(col("g")).as("h"))
    // "h seen in >= 2 distinct docs" as min(doc)≠max(doc) over an
    // h-partitioned window — NOT a groupBy+self-join, which would scan
    // and re-hash the whole corpus twice (the gram subtree is the
    // expensive pass; the audited join formulation planned two full
    // Scan+Generate chains). One h-keyed exchange, linear per bucket
    // even on a boilerplate gram shared by millions of docs.
    val hw = Window.partitionBy(col("h"))
    val dupStarts = grams
      .withColumn("dmin", min(col("doc_id")).over(hw))
      .withColumn("dmax", max(col("doc_id")).over(hw))
      .filter(col("dmin") =!= col("dmax"))
      .select(col("doc_id"), col("pos"))
    // union of [pos, pos+W-1] intervals: each duplicated start adds
    // min(gap to previous start, W) new covered tokens
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cov = dupStarts
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .select(col("doc_id"),
        least(col("pos") - coalesce(col("prev"), col("pos") - SpanW),
          lit(SpanW.toLong)).as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("dup_toks"))
    docs.select(col("doc_id"), col("n_toks"))
      .join(cov.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("dup_toks"), lit(0L)).as("dup_toks"))
      .withColumn("dup_bp",
        when(col("n_toks") > 0L, expr("(dup_toks * 10000L) div n_toks"))
          .otherwise(lit(0L)))
      .withColumn("is_span_dup", (col("dup_bp") >= SpanFlagBp).cast("long"))
      .orderBy(col("doc_id"))
  }

  val spanCoverageSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, pos,
       |    ${hash60Sql(s"array_to_string(list_slice(toks, pos, pos + ${SpanW - 1}), ' ')")} AS h
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(1, greatest(len(toks) - ${SpanW - 1}, 0) + 1)) AS pos
       |        FROM base)
       |), duph AS (
       |  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS dd FROM g GROUP BY h)
       |  WHERE dd >= 2
       |), ds AS (
       |  SELECT g.doc_id, g.pos FROM g JOIN duph USING (h)
       |), cov AS (
       |  SELECT doc_id, SUM(c)::BIGINT AS dup_toks FROM (
       |    SELECT doc_id, LEAST(pos - COALESCE(
       |        lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), pos - $SpanW),
       |      $SpanW) AS c
       |    FROM ds)
       |  GROUP BY doc_id
       |)
       |SELECT b.doc_id, len(b.toks)::BIGINT AS n_toks,
       |  COALESCE(cov.dup_toks, 0)::BIGINT AS dup_toks,
       |  (CASE WHEN len(b.toks) > 0
       |        THEN (COALESCE(cov.dup_toks, 0) * 10000) // len(b.toks)
       |        ELSE 0 END)::BIGINT AS dup_bp,
       |  ((CASE WHEN len(b.toks) > 0
       |         THEN (COALESCE(cov.dup_toks, 0) * 10000) // len(b.toks)
       |         ELSE 0 END) >= $SpanFlagBp)::BIGINT AS is_span_dup
       |FROM base b LEFT JOIN cov ON b.doc_id = cov.doc_id
       |ORDER BY b.doc_id""".stripMargin

  // ---- cross-source overlap matrix ----

  /** Source-pair near-duplication matrix: the verified MinHash
    * near-dup pairs aggregated to (source_a, source_b) cells — the
    * inter-domain contamination heat map a curation run reads to
    * decide which crawler/dump pairs share pipeline ancestry (a hot
    * off-diagonal cell means one source republishes another; a hot
    * diagonal cell is within-source boilerplate). Rides the whole
    * [[minhash]] machinery unchanged, then joins each endpoint's
    * source with a doc_id-keyed shuffle_hash (the pair relation is
    * corpus-fraction-sized — never broadcast) and aggregates to the
    * sources² -bounded matrix. Cells are unordered pairs
    * (least/greatest) so A→B and B→A land together.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhash(spark, dir)
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val s1 = src.select(col("doc_id").as("id1"), col("source").as("src1"))
    val s2 = src.select(col("doc_id").as("id2"), col("source").as("src2"))
    pairs
      .join(s1.hint("shuffle_hash"), Seq("id1"))
      .join(s2.hint("shuffle_hash"), Seq("id2"))
      .select(least(col("src1"), col("src2")).as("src_a"),
        greatest(col("src1"), col("src2")).as("src_b"),
        col("jaccard"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  def sourceOverlapSql(): String =
    s"""WITH pairs AS (
       |${minhashSql().replace("\n", "\n  ")}
       |), s AS (
       |  SELECT doc_id, source FROM documents
       |)
       |SELECT least(a.source, b.source) AS src_a,
       |  greatest(a.source, b.source) AS src_b,
       |  COUNT(*) AS n_pairs, MAX(p.jaccard) AS max_jaccard
       |FROM pairs p
       |JOIN s a ON p.id1 = a.doc_id
       |JOIN s b ON p.id2 = b.doc_id
       |GROUP BY 1, 2
       |ORDER BY src_a, src_b""".stripMargin

  // ---- incremental near-dedup ----

  /** Which doc_ids play the "arriving increment" in the driver query:
    * doc_id % [[IncrMod]] == [[IncrRes]] (~10% of the corpus).
    */
  val IncrMod = 10L
  val IncrRes = 7L

  /** Incremental near-dedup: the verified MinHash near-dup matches of
    * a corpus INCREMENT (a crawl batch) against the EXISTING corpus —
    * the admit/reject decision of incremental ingestion, and the
    * batch-side half of the lambda split whose streaming half is
    * [[graft.streaming.EventStreams.dedupStream]] (exact hashes only).
    * One row per (new doc, matched existing doc) with exact shingle
    * Jaccard ≥ threshold.
    *
    * Scale shape — O(batch × bucket), NEVER corpus × corpus: both
    * sides band on the shared MinHash family. This recompute form
    * re-signs the corpus per query and exists as the oracle-comparable
    * derivation; the 100 TB ingestion path is
    * [[minhashIncrementalIndexed]], which probes the PERSISTED band
    * layout instead (hash-identical output, spec-pinned);
    * candidates come from a batch-probe ⋈ corpus equi-join on
    * (band, band_key), so corpus docs never pair with each other.
    * Degenerate corpus buckets (> [[MaxBucket]] members agreeing on a
    * 60-bit band key = boilerplate mega-cluster) are capped on the
    * CORPUS side only — each batch doc still probes its 8 buckets,
    * and no lower bound applies (one corpus doc + one batch doc IS a
    * meaningful pair, unlike the self-join's singleton buckets).
    * Batch-batch pairs are deliberately excluded: the increment
    * self-dedups in the regular [[minhash]] job.
    */
  def minhashIncremental(spark: SparkSession, dir: String,
                         threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = shingleDocs(spark, dir)
    val bands = minhashBands(docs)
    val corpusB = bands.filter(col("doc_id") % IncrMod =!= IncrRes)
      .withColumn("_bn", count(lit(1))
        .over(Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("_bn") <= MaxBucket)
      .select(col("doc_id").as("id2"), col("band"), col("band_key"))
    val batchB = bands.filter(col("doc_id") % IncrMod === IncrRes)
      .select(col("doc_id").as("id1"), col("band"), col("band_key"))
    val cand = batchB
      .join(corpusB.hint("shuffle_hash"), Seq("band", "band_key"))
      .select(col("id1"), col("id2")).distinct()
    verifyJaccard(cand, docs)
      .filter(col("jaccard") >= (threshold * 1e4).toLong)
      .select(col("id1").as("id_new"), col("id2").as("id_old"), col("jaccard"))
      .orderBy(col("id_new"), col("id_old"))
  }

  /** band_key sub-bucket count for the persisted band layout's second
    * partition column: 8 band directories alone cannot prune a probe
    * (every query touches all 8), so each band splits into
    * `pmod(band_key, mod)` sub-directories and the probe join's
    * (band, bkt) equi-keys dynamic-partition-prune the scan to the
    * batch's buckets. The modulus SCALES WITH THE CORPUS — one
    * directory per ~[[BandDocsPerBucket]] docs, clamped to
    * [4, 4096] — so a 5k-doc store gets 32 row-group-sized files
    * (a fixed 512 directories cost 2s of footer overhead per probe
    * at that size, measured) while a 1e9-doc corpus gets the full
    * 4096-way prune; the chosen modulus is persisted in the layout's
    * `_meta` sidecar so probe and streaming upkeep can never band
    * differently than the build did.
    */
  val BandSubBucketsMax = 4096
  val BandDocsPerBucket = 1250L

  def bandSubBuckets(nDocs: Long): Int =
    math.max(4L, math.min(BandSubBucketsMax.toLong,
      (nDocs + BandDocsPerBucket - 1) / BandDocsPerBucket)).toInt

  /** The batch half of [[minhashIncremental]]'s corpus/batch split,
    * shingled from source: ONLY the increment's documents are read —
    * the corpus side must come from the persisted layout, never a
    * re-scan.
    */
  private[graft] def batchShingles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val hashes = column(graft.functions.expressions.ShingleHashes(
      expression(col("text")), 3, P))
    Tables.spread(spark, Tables.documents(spark, dir)
        .filter(col("doc_id") % IncrMod === IncrRes)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), hashes.as("sh"))
      // two consumers: batch bands + batch-side Jaccard verify
      .transform(OpCache.shared("dedup.incr.batch"))
      // re-state the increment predicate ABOVE the cache: every row
      // already satisfies it (no-op at runtime), but an
      // InMemoryRelation hides its child's filters, and without a
      // visible selective predicate on the probe side Catalyst's
      // PartitionPruning rule refuses to inject the dynamic partition
      // filter into the band-layout scan (VectorIndexSpec pins the
      // `dynamicpruning` marker on this path)
      .filter(col("doc_id") % IncrMod === IncrRes)
  }

  /** [[minhashIncremental]] served from the persisted MinHash band
    * layout ([[graft.sources.VectorIndex.buildMinhashIndex]]) —
    * identical rows, but the corpus side is never re-shingled or
    * re-signed: band rows come from the layout's (band, bkt)
    * directories (the probe join dynamic-partition-prunes the scan to
    * the batch's buckets) and the Jaccard verify reads the corpus
    * shingle sketches from the companion `_sh` relation. Per-query
    * work is O(batch × bucket) — the amortized form the 100 TB
    * ingestion path runs (reference sparse.rs:71 add_document: probe
    * the maintained index, don't rebuild it).
    *
    * The corpus-side bucket cap is computed with a window over the
    * PRUNED scan only: a (band, band_key) bucket is entirely inside
    * one (band, bkt) directory, so the per-bucket count over the
    * probed directories equals the global count — bit-identical cap
    * decisions to the recompute form without a layout-wide pass.
    */
  def minhashIncrementalFromIndex(spark: SparkSession, path: String,
                                  batchSh: DataFrame,
                                  threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the build's persisted sub-bucket modulus: probing with any other
    // value would look in the wrong directories
    val bktMod = spark.read.parquet(path + "_meta").head().getAs[Long]("bkt_mod")
    // persisted: the banded increment feeds BOTH the probe-key
    // broadcast and the candidate join — without the cache the
    // MinHash signing of the whole increment runs twice (measured
    // ~1s/pass at a 50k-doc increment, r9 sf10 crossover study)
    val batchB = minhashBands(batchSh)
      .withColumn("bkt", pmod(col("band_key"), lit(bktMod)).cast("int"))
      .select(col("doc_id").as("id1"), col("band"), col("bkt"), col("band_key"))
      .transform(OpCache.shared("dedup.incr.bands"))
      // a runtime-no-op comparison ABOVE the cache (band is always in
      // [0, NumBands)): PartitionPruning refuses to inject the dynamic
      // partition filter unless the probe side shows a likely-selective
      // predicate, and the InMemoryRelation hides everything below it
      // — same contract as batchShingles, but valid for ANY probe
      // batch (this API also serves arbitrary-id probes, e.g. the e2e
      // ingestion spec's newly-streamed documents)
      .filter(col("band") >= 0)
    // tiny distinct probe-key set: broadcast side of the DPP join
    val probeKeys = batchB.select(col("band"), col("bkt"), col("band_key")).distinct()
    val layout = spark.read.parquet(path)
    val pruned = layout.join(broadcast(probeKeys), Seq("band", "bkt", "band_key"))
    val corpusB = pruned.filter(col("doc_id") % IncrMod =!= IncrRes)
      .withColumn("_bn", count(lit(1))
        .over(Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("_bn") <= MaxBucket)
      .select(col("doc_id").as("id2"), col("band"), col("band_key"))
    val cand = batchB
      .join(corpusB.hint("shuffle_hash"), Seq("band", "band_key"))
      .select(col("id1"), col("id2")).distinct()
      .transform(OpCache.shared("dedup.incr.cand"))
    // The candidate count picks the VERIFY strategy, exactly as the
    // components solve gates local vs distributed: the r9 sf10
    // crossover study measured a ~6.5s probe FLOOR independent of
    // increment size — the forced shuffle_hash verify exchanged the
    // ENTIRE corpus sketch relation (~250 MB at 500k docs) even for a
    // 51-document probe. An increment-sized candidate set (with its
    // batch sketches attached) broadcasts instead, so the `_sh`
    // relation streams through a map-only join: no sketch exchange,
    // no sort, and the probe cost finally falls with the increment.
    // Above the gate (mega-batch probes) the exchange is genuinely
    // needed and the shuffle_hash path is unchanged.
    val withSh1 = cand
      .join(batchSh.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
    // one gating action measures the ACTUAL broadcast payload (pair
    // count and summed per-pair sketch elements — sketch sizes vary
    // with document length, so a pair count alone does not bound the
    // bytes); the broadcast only happens under a measured ~64 MB
    val (nCand, shElems) = {
      val r = withSh1.agg(count(lit(1)), sum(size(col("sh1")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val corpusSh = spark.read.parquet(path + "_sh")
    val verified = if (nCand <= VerifyBroadcastMaxPairs &&
        shElems <= VerifyBroadcastMaxElems) {
      broadcast(withSh1)
        .join(corpusSh.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
    } else {
      withSh1
        .join(corpusSh.select(col("doc_id").as("id2"), col("sh").as("sh2"))
          .hint("shuffle_hash"), "id2")
    }
    verified
      .withColumn("inter", pairOverlap(col("sh1"), col("sh2")).cast("double"))
      .select(col("id1"), col("id2"),
        fx(col("inter") / (size(col("sh1")).cast("long") + size(col("sh2")).cast("long")
          - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= (threshold * 1e4).toLong)
      .select(col("id1").as("id_new"), col("id2").as("id_old"), col("jaccard"))
      .orderBy(col("id_new"), col("id_old"))
  }

  /** Verify-strategy gates for [[minhashIncrementalFromIndex]]: at or
    * below this many candidate pairs AND this many summed per-pair
    * sketch elements (≈64 MB of longs) the (pairs ⋈ batch-sketch)
    * side broadcasts and the corpus sketch relation is never
    * exchanged; above either bound the increment is mega-batch-sized
    * and the keyed shuffle is the right plan. Both figures are
    * MEASURED by the gating aggregate, so the broadcast is
    * size-bounded by construction.
    */
  val VerifyBroadcastMaxPairs = 100000L
  val VerifyBroadcastMaxElems = 8000000L

  /** Build-if-missing entry for the layout-served incremental dedup —
    * the driver-compared `dedup_incremental_indexed` form (DedupSpec
    * pins hash-equality to the recompute form).
    */
  def minhashIncrementalIndexed(spark: SparkSession, dir: String,
                                threshold: Double = 0.5): DataFrame = {
    val path = graft.sources.VectorIndex.minhashIndexReady(spark, dir)
    minhashIncrementalFromIndex(spark, path, batchShingles(spark, dir), threshold)
  }

  /** [[minhash]] served from the persisted band layout — identical
    * rows (same banding, same bucket bounds, same exact-Jaccard
    * verify), but NOTHING is derived from text at query time: band
    * rows come from the layout and the verify sketches from the
    * companion `_sh` relation, so the nightly full-corpus dedup of a
    * store that maintains its signature index (streaming upkeep keeps
    * the layout current) never re-tokenizes, re-hashes or re-signs
    * the corpus — at 100 TB that is the difference between scanning
    * ~1-2% of the bytes (signatures) and scanning everything.
    * DedupSpec pins hash-equality to the recompute form; the executed
    * plan reads no document text (spec-asserted).
    */
  /** Unfiltered exact-verified pairs off the persisted band layout —
    * the indexed twin of [[verifiedPairs]], and persisted for the same
    * reason (r10): dedup_minhash_indexed, [[clustersIndexed]] and the
    * whole curation family ([[graft.operators.Curation.curationFlags]])
    * read this one relation through their own thresholds; uncached,
    * each call re-ran the bucket-bound self-join + Jaccard verify
    * against the layout parquet.
    */
  private[graft] def indexedVerifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.VectorIndex.minhashIndexReady(spark, dir)
    // the layout's own column types, stated rather than inferred: the
    // plan is rebuilt on every call to key the slot, and inferring a
    // parquet schema runs a Spark job at build time
    val bands = spark.read.schema("doc_id BIGINT, band_key BIGINT, band INT, bkt INT").parquet(path)
      .select(col("doc_id"), col("band"), col("band_key"))
    val bounded = boundBuckets(bands, col("band"), col("band_key"))
    val cand = bounded.select(col("doc_id").as("id1"), col("band"), col("band_key"))
      .join(bounded.select(col("doc_id").as("id2"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    val sketches = spark.read.schema("doc_id BIGINT, sh ARRAY<BIGINT>").parquet(path + "_sh")
    verifyJaccard(cand, sketches).transform(OpCache.shared("dedup.indexedVerifiedPairs"))
  }

  def minhashIndexed(spark: SparkSession, dir: String,
                     threshold: Double = 0.5): DataFrame =
    indexedVerifiedPairs(spark, dir)
      .filter(col("jaccard") >= (threshold * 1e4).toLong)
      .orderBy(col("id1"), col("id2"))

  def minhashIncrementalSql(threshold: Double = 0.5): String = {
    val sigExprs = (0 until NumHashes).map { j =>
      s"min((h * ${2 * j + 1} + ${7919 * j + 12345}) % $P) AS s$j"
    }.mkString(",\n    ")
    val bandStructs = (0 until NumBands).map { b =>
      val keyParts = (s"'$b'" +: (0 until BandRows).map(r => s"s${b * BandRows + r}"))
        .mkString("concat_ws(',', ", ", ", ")")
      s"struct_pack(band := $b, band_key := ${hash60Sql(keyParts)})"
    }.mkString("[", ",\n    ", "]")
    val fx = fxSql("i.inter / (s1.sz + s2.sz - i.inter)::DOUBLE")
    s"""WITH docs AS ($shinglesSqlCte),
       |$postingSqlCte,
       |sigs AS (
       |  SELECT doc_id, $sigExprs FROM posting GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, unnest($bandStructs, recursive := true) FROM sigs
       |), corpusb AS (
       |  SELECT * FROM (SELECT * FROM bands WHERE doc_id % $IncrMod <> $IncrRes)
       |  QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= $MaxBucket
       |), batchb AS (
       |  SELECT * FROM bands WHERE doc_id % $IncrMod = $IncrRes
       |), cand AS (
       |  SELECT DISTINCT b.doc_id AS id1, c.doc_id AS id2
       |  FROM batchb b JOIN corpusb c
       |    ON b.band = c.band AND b.band_key = c.band_key
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM posting GROUP BY doc_id
       |), inter AS (
       |  SELECT c.id1, c.id2, COUNT(*)::DOUBLE AS inter
       |  FROM cand c
       |  JOIN posting p1 ON p1.doc_id = c.id1
       |  JOIN posting p2 ON p2.doc_id = c.id2 AND p2.h = p1.h
       |  GROUP BY c.id1, c.id2
       |)
       |SELECT i.id1 AS id_new, i.id2 AS id_old, $fx AS jaccard
       |FROM inter i
       |JOIN sizes s1 ON s1.doc_id = i.id1
       |JOIN sizes s2 ON s2.doc_id = i.id2
       |WHERE $fx >= ${(threshold * 1e4).toLong}
       |ORDER BY id_new, id_old""".stripMargin
  }

  // ---- content-canonical oracle twins (sf1 scale evidence) ----
  //
  // Every value these queries emit is a pure function of document
  // CONTENT (shingle sets, MinHash signatures, Jaccard, span grams),
  // so on a clone-dense corpus the oracle may run the content-derived
  // stages once per DISTINCT content and fan results back out by
  // content hash — EXACTLY the same output rows as the literal SQL,
  // at ~1/clone² the pair-join mass and ~1/clone the shingling mass.
  // The banded CANDIDATE generation stays the literal doc-level form
  // (bucket caps and QUALIFY replayed on real doc rows). These twins
  // exist ONLY for the sf1 oracle budget (SURVEY §5); the driver's
  // gate keeps comparing the literal forms.

  /** Shared canonicalization CTEs: content hash per doc, min-id
    * representative per content, rep-level shingle docs + posting.
    */
  private def canonicalCtes: String =
    s"""ch AS (
       |  SELECT doc_id, md5(text) AS chash FROM documents
       |), rep AS (
       |  SELECT chash, MIN(doc_id) AS rid FROM ch GROUP BY chash
       |), docs AS (
       |  SELECT r.rid AS doc_id,
       |    list_distinct(${wordShinglesSql(tokensSql("d.text"), 3)}) AS shingles
       |  FROM rep r JOIN documents d ON d.doc_id = r.rid
       |), posting AS (
       |  SELECT doc_id, ${hash60Sql("sh")} % $P AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM docs)
       |)""".stripMargin

  /** Canonical verify tail: Jaccard per DISTINCT content pair over
    * the rep posting (self-pairs ride the same join — their
    * multiplicity arithmetic matches the literal doc-pair form), then
    * the per-doc candidate pairs map onto their content-pair value.
    */
  /** Canonical `pairs(id1, id2, jaccard)` CTE chain — every candidate
    * pair with its content-rep-computed exact fx4 Jaccard,
    * unfiltered. Expects `ch`/`rep`/`posting`/`cand` upstream.
    */
  private def canonicalPairsSqlCte: String =
    s"""cpair AS (
       |  SELECT DISTINCT least(r1.rid, r2.rid) AS rid1,
       |    greatest(r1.rid, r2.rid) AS rid2
       |  FROM cand
       |  JOIN ch c1 ON c1.doc_id = cand.id1 JOIN rep r1 ON r1.chash = c1.chash
       |  JOIN ch c2 ON c2.doc_id = cand.id2 JOIN rep r2 ON r2.chash = c2.chash
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM posting GROUP BY doc_id
       |), inter AS (
       |  SELECT cp.rid1, cp.rid2, COUNT(*)::DOUBLE AS inter
       |  FROM cpair cp
       |  JOIN posting p1 ON p1.doc_id = cp.rid1
       |  JOIN posting p2 ON p2.doc_id = cp.rid2 AND p2.h = p1.h
       |  GROUP BY cp.rid1, cp.rid2
       |), jac AS (
       |  SELECT i.rid1, i.rid2,
       |    ${fxSql("i.inter / (s1.sz + s2.sz - i.inter)::DOUBLE")} AS jaccard
       |  FROM inter i
       |  JOIN sizes s1 ON s1.doc_id = i.rid1
       |  JOIN sizes s2 ON s2.doc_id = i.rid2
       |), pairs AS (
       |  SELECT c.id1, c.id2, j.jaccard
       |  FROM cand c
       |  JOIN ch c1 ON c1.doc_id = c.id1 JOIN rep r1 ON r1.chash = c1.chash
       |  JOIN ch c2 ON c2.doc_id = c.id2 JOIN rep r2 ON r2.chash = c2.chash
       |  JOIN jac j ON j.rid1 = least(r1.rid, r2.rid)
       |            AND j.rid2 = greatest(r1.rid, r2.rid)
       |)""".stripMargin

  private def canonicalVerifySql(thresholdFx: Long): String =
    s"""$canonicalPairsSqlCte
       |SELECT id1, id2, jaccard FROM pairs
       |WHERE jaccard >= $thresholdFx
       |ORDER BY id1, id2""".stripMargin

  /** Content-canonical twin of [[minhashSql]]: signatures computed
    * per rep and fanned out by content hash (identical posting ⇒
    * identical signature), doc-level banding/caps/candidates literal.
    */
  private[graft] def minhashCanonicalSql(threshold: Double = 0.5): String = {
    val sigExprs = (0 until NumHashes).map { j =>
      s"min((h * ${2 * j + 1} + ${7919 * j + 12345}) % $P) AS s$j"
    }.mkString(",\n    ")
    val bandStructs = (0 until NumBands).map { b =>
      val keyParts = (s"'$b'" +: (0 until BandRows).map(r => s"s${b * BandRows + r}"))
        .mkString("concat_ws(',', ", ", ", ")")
      s"struct_pack(band := $b, band_key := ${hash60Sql(keyParts)})"
    }.mkString("[", ",\n    ", "]")
    s"""WITH $canonicalCtes,
       |sigsr AS (
       |  SELECT doc_id, $sigExprs FROM posting GROUP BY doc_id
       |), sigs AS (
       |  SELECT c.doc_id, ${(0 until NumHashes).map(j => s"s.s$j").mkString(", ")}
       |  FROM ch c JOIN rep r USING (chash) JOIN sigsr s ON s.doc_id = r.rid
       |), bands AS (
       |  SELECT doc_id, unnest($bandStructs, recursive := true) FROM sigs
       |), bounded AS (
       |  SELECT * FROM bands QUALIFY ${boundBucketsSql("band, band_key")}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bounded a JOIN bounded b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |),
       |${canonicalVerifySql((threshold * 1e4).toLong)}""".stripMargin
  }

  /** Content-canonical sf1 twin of [[sweepSql]]: the census aggregate
    * over [[minhashCanonicalSql]]'s pair relation.
    */
  private[graft] def sweepCanonicalSql(): String = {
    val base = minhashCanonicalSql()
    val prefix = base.substring(0, base.indexOf("cpair AS ("))
    s"""$prefix$canonicalPairsSqlCte,
       |$sweepCensusSql""".stripMargin
  }

  /** Content-canonical twin of [[ngramJaccardSql]]: rep-level posting
    * with doc-level df (rep df × clone count), literal rare-gram
    * candidate join over the fanned-out doc posting (df ≤ cap bounds
    * it), canonical verify.
    */
  private[graft] def ngramCanonicalSql(dfCap: Int = 20, threshold: Double = 0.3): String =
    s"""WITH $canonicalCtes,
       |cnts AS (
       |  SELECT r.rid, COUNT(*) AS n FROM ch c JOIN rep r USING (chash) GROUP BY r.rid
       |), rare AS (
       |  SELECT h FROM (
       |    SELECT p.h, SUM(c.n) AS df
       |    FROM posting p JOIN cnts c ON c.rid = p.doc_id
       |    GROUP BY p.h
       |  ) WHERE df <= $dfCap AND df >= 2
       |), rpd AS (
       |  -- doc-level rare posting: rep rows fanned out by content
       |  SELECT c.doc_id, p.h
       |  FROM posting p JOIN rare USING (h)
       |  JOIN rep r ON r.rid = p.doc_id
       |  JOIN ch c ON c.chash = r.chash
       |), cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM rpd a JOIN rpd b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $NgramMinCommon
       |),
       |${canonicalVerifySql((threshold * 1e4).toLong)}""".stripMargin

  /** Content-canonical twin of [[sourceOverlapSql]] (wraps the
    * canonical minhash pairs — the aggregation is unchanged).
    */
  private[graft] def sourceOverlapCanonicalSql(): String =
    s"""WITH pairs AS (
       |${minhashCanonicalSql().replace("\n", "\n  ")}
       |), s AS (
       |  SELECT doc_id, source FROM documents
       |)
       |SELECT least(a.source, b.source) AS src_a,
       |  greatest(a.source, b.source) AS src_b,
       |  COUNT(*) AS n_pairs, MAX(p.jaccard) AS max_jaccard
       |FROM pairs p
       |JOIN s a ON p.id1 = a.doc_id
       |JOIN s b ON p.id2 = b.doc_id
       |GROUP BY 1, 2
       |ORDER BY src_a, src_b""".stripMargin

  /** Content-canonical twin of [[spanCoverageSql]]: gram extraction
    * and interval union per rep; "seen in ≥2 docs" becomes "shared by
    * ≥2 contents OR carried by a content with ≥2 clones"; per-doc
    * output fans out by content hash (coverage is content-determined).
    */
  private[graft] def spanCoverageCanonicalSql: String =
    s"""WITH ch AS (
       |  SELECT doc_id, md5(text) AS chash FROM documents
       |), rep AS (
       |  SELECT chash, MIN(doc_id) AS rid FROM ch GROUP BY chash
       |), cnts AS (
       |  SELECT r.rid, COUNT(*) AS n FROM ch c JOIN rep r USING (chash) GROUP BY r.rid
       |), base AS (
       |  SELECT r.rid AS doc_id, ${tokensSql("d.text")} AS toks
       |  FROM rep r JOIN documents d ON d.doc_id = r.rid
       |), g AS (
       |  SELECT doc_id, pos,
       |    ${hash60Sql(s"array_to_string(list_slice(toks, pos, pos + ${SpanW - 1}), ' ')")} AS h
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(1, greatest(len(toks) - ${SpanW - 1}, 0) + 1)) AS pos
       |        FROM base)
       |), duph AS (
       |  SELECT h FROM (
       |    SELECT g.h, COUNT(DISTINCT g.doc_id) AS dd, MAX(c.n) AS mx
       |    FROM g JOIN cnts c ON c.rid = g.doc_id GROUP BY g.h
       |  ) WHERE dd >= 2 OR mx >= 2
       |), ds AS (
       |  SELECT g.doc_id, g.pos FROM g JOIN duph USING (h)
       |), cov AS (
       |  SELECT doc_id, SUM(c)::BIGINT AS dup_toks FROM (
       |    SELECT doc_id, LEAST(pos - COALESCE(
       |        lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), pos - $SpanW),
       |      $SpanW) AS c
       |    FROM ds)
       |  GROUP BY doc_id
       |)
       |SELECT c.doc_id, len(b.toks)::BIGINT AS n_toks,
       |  COALESCE(cov.dup_toks, 0)::BIGINT AS dup_toks,
       |  (CASE WHEN len(b.toks) > 0
       |        THEN (COALESCE(cov.dup_toks, 0) * 10000) // len(b.toks)
       |        ELSE 0 END)::BIGINT AS dup_bp,
       |  ((CASE WHEN len(b.toks) > 0
       |         THEN (COALESCE(cov.dup_toks, 0) * 10000) // len(b.toks)
       |         ELSE 0 END) >= $SpanFlagBp)::BIGINT AS is_span_dup
       |FROM ch c
       |JOIN rep r USING (chash)
       |JOIN base b ON b.doc_id = r.rid
       |LEFT JOIN cov ON cov.doc_id = r.rid
       |ORDER BY c.doc_id""".stripMargin

  /** Content-canonical twin of [[minhashIncrementalSql]]: rep-level
    * signatures fanned out, literal doc-level split candidates
    * (corpus-side QUALIFY cap on real doc rows), canonical verify
    * re-oriented to (id_new, id_old).
    */
  private[graft] def minhashIncrementalCanonicalSql(threshold: Double = 0.5): String = {
    val sigExprs = (0 until NumHashes).map { j =>
      s"min((h * ${2 * j + 1} + ${7919 * j + 12345}) % $P) AS s$j"
    }.mkString(",\n    ")
    val bandStructs = (0 until NumBands).map { b =>
      val keyParts = (s"'$b'" +: (0 until BandRows).map(r => s"s${b * BandRows + r}"))
        .mkString("concat_ws(',', ", ", ", ")")
      s"struct_pack(band := $b, band_key := ${hash60Sql(keyParts)})"
    }.mkString("[", ",\n    ", "]")
    // rename in the FINAL select, not the pairs CTE: aliasing the CTE
    // columns strands the outer `SELECT id1, id2 ... FROM pairs`
    // (binder error — caught the first time this twin actually ran,
    // r10 sf10)
    val tail = canonicalVerifySql((threshold * 1e4).toLong)
      .replace("SELECT id1, id2, jaccard FROM pairs",
        "SELECT id1 AS id_new, id2 AS id_old, jaccard FROM pairs")
      .replace("ORDER BY id1, id2", "ORDER BY id_new, id_old")
    s"""WITH $canonicalCtes,
       |sigsr AS (
       |  SELECT doc_id, $sigExprs FROM posting GROUP BY doc_id
       |), sigs AS (
       |  SELECT c.doc_id, ${(0 until NumHashes).map(j => s"s.s$j").mkString(", ")}
       |  FROM ch c JOIN rep r USING (chash) JOIN sigsr s ON s.doc_id = r.rid
       |), bands AS (
       |  SELECT doc_id, unnest($bandStructs, recursive := true) FROM sigs
       |), corpusb AS (
       |  SELECT * FROM (SELECT * FROM bands WHERE doc_id % $IncrMod <> $IncrRes)
       |  QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= $MaxBucket
       |), batchb AS (
       |  SELECT * FROM bands WHERE doc_id % $IncrMod = $IncrRes
       |), cand AS (
       |  SELECT DISTINCT b.doc_id AS id1, c.doc_id AS id2
       |  FROM batchb b JOIN corpusb c
       |    ON b.band = c.band AND b.band_key = c.band_key
       |),
       |$tail""".stripMargin
  }

  /** The canonical twins by driver query key — consumed by
    * [[graft.ScaleOracles]] for the sf1 sweep.
    */
  private[graft] def canonicalOracleSqls: Map[String, String] = Map(
    "dedup_minhash"  -> minhashCanonicalSql(),
    "dedup_sweep"    -> sweepCanonicalSql(),
    "dedup_ngram"    -> ngramCanonicalSql(),
    "dedup_span"     -> spanCoverageCanonicalSql,
    "source_overlap" -> sourceOverlapCanonicalSql(),
    "dedup_incremental" -> minhashIncrementalCanonicalSql())
}
