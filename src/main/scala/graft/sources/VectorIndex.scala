package graft.sources

import graft.Tables
import graft.OracleNum.fx
import graft.plans.ScoreTag
import graft.functions.VectorFunctions.{cosineSimilarity, l2DistanceSq, toDouble}
import graft.operators.VectorSearch
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN index layouts (reference grape-vector-db
  * src/query.rs:282 save_index / :338 load_index / :257 rebuild_index,
  * src/lib.rs:560 rebuild_index). The reference serializes its HNSW/IVF
  * graph to disk and mmaps it back; the Spark-first index is a
  * PARTITIONED PARQUET LAYOUT — the "index" is the directory structure
  * plus precomputed routing columns, and "loading" it is just reading
  * the layout, so it needs no driver-resident state at any corpus
  * size.
  *
  * - LSH: corpus written `partitionBy(bucket)` with the 2^8 hyperplane
  *   signature precomputed. A probe joins on `bucket` against the tiny
  *   broadcast query relation, and Spark's dynamic partition pruning
  *   turns that join into a file-level prune: only probed bucket
  *   directories are read — at 100 TB a radius-1 probe touches
  *   9/256 ≈ 3.5% of the files, and the signature scan cost (8 dot
  *   products per vector per query) is paid once at build time instead
  *   of per query.
  * - IVF: corpus written `partitionBy(cell)` keyed by the fine
  *   centroid assignment (same two-level strided centroids as
  *   [[VectorSearch.annIvf]]), with the fine-centroid relation saved
  *   alongside. A query resolves its nprobe cells from the centroid
  *   table (KBs), then the cell equi-join dynamic-prunes the corpus
  *   scan to nprobe directories — the classic IVF serving contract
  *   (read nprobe/nlist of the data) expressed purely as layout.
  *
  * Results are bit-identical to the scan-side twins
  * ([[VectorSearch.annLsh]] / [[VectorSearch.annIvf]]) — asserted in
  * VectorIndexSpec along with the pruning plans — so the driver
  * entries `ann_lsh_indexed` / `ann_ivf_indexed` reuse the same DuckDB
  * oracles.
  *
  * Partition-column values are written as INTs (Spark's partition-type
  * inference reads small integral dir names back as int): bucket is
  * 0..255 by construction; the IVF cell id is a centroid vec_id, which
  * a 100 TB build would remap to a dense 0..nlist-1 int at index-build
  * time anyway.
  *
  * Every maintained layout keeps each generation in its own outermost
  * `gen=<g>` directory ([[writeGeneration]] / [[readGenerations]]): a
  * base build writes `gen=0/…`, each streaming micro-batch adds
  * `gen=<g>/…` beside it. A replayed batch is found by one directory
  * check, and a serving tier's refresh reads only the directories
  * above its snapshot's generation.
  *
  * At demo scale the layout is slower than the scan-side twin: a few
  * thousand vectors fan out into hundreds of tiny per-bucket files, so
  * file listing costs more than the prune saves. The layout targets
  * corpora where each bucket directory holds many full row-groups —
  * there the probe reads probed-fraction × corpus bytes while the
  * scan-side twin always reads (and re-signs) everything.
  */
object VectorIndex {

  /** Shared bridge to the native argmin kernel — ONE definition so
    * build, rebuild and streaming paths cannot drift apart.
    */
  private[graft] def nearestCentroidCol(
      emb: org.apache.spark.sql.Column,
      cents: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.expressions.NearestCentroid(
      expression(emb), expression(cents)))
  }

  /** The fine-centroid relation (cid, cemb, ccid) of the two-level IVF
    * routing, from a (vec_id, emb) corpus: every
    * [[VectorSearch.IvfStride]]-th vector is a fine centroid, every
    * [[VectorSearch.IvfCoarse]]-th of those also a coarse one, and ccid
    * is a fine centroid's nearest coarse centroid. The IVF and IVF-PQ
    * builds save it as `<path>_centroids`.
    */
  private def ivfCentroids(corpus: DataFrame): DataFrame = {
    val coarseArr = corpus
      .filter(col("vec_id") % (VectorSearch.IvfStride.toLong * VectorSearch.IvfCoarse) === 0)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("emb").as("cemb"))).as("carr"))
    corpus.filter(col("vec_id") % VectorSearch.IvfStride === 0)
      .crossJoin(broadcast(coarseArr))
      .select(col("vec_id").as("cid"), col("emb").as("cemb"),
        nearestCentroidCol(col("emb"), col("carr")).as("ccid"))
  }

  /** The one-row PQ codebook from a (vec_id, emb) corpus frame — the
    * PQ and IVF-PQ builds save it as `<path>_books`.
    */
  private def pqCodebook(corpus: DataFrame): DataFrame = {
    import VectorSearch.{PqM, PqK, PqStride}
    val bookCols = (0 until PqM).map { m =>
      collect_list(struct((col("vec_id") / PqStride).cast("long").as("cid"),
        sub(m, col("emb")).as("cemb"))).as(s"book$m")
    }
    corpus
      .filter(col("vec_id") % PqStride === 0 && col("vec_id") < PqK.toLong * PqStride)
      .agg(bookCols.head, bookCols.tail: _*)
  }

  /** The m-th PQ subvector of a vector column. */
  private def sub(m: Int, e: Column): Column =
    slice(e, m * VectorSearch.PqSubDim + 1, VectorSearch.PqSubDim)

  private def withEmb(rows: DataFrame): DataFrame =
    rows.withColumn("emb", toDouble(col("embedding")))

  /** (…, emb) rows with their fine `cell`, routed through the saved
    * `<path>_centroids`: the nearest coarse centroid, then the nearest
    * fine centroid inside it — [[VectorSearch.annIvf]]'s assignment.
    */
  private def withCell(rows: DataFrame, path: String): DataFrame = {
    val fine = rows.sparkSession.read.parquet(path + "_centroids")
    val coarseArr = fine
      .filter(col("cid") % (VectorSearch.IvfStride.toLong * VectorSearch.IvfCoarse) === 0)
      .agg(collect_list(struct(col("cid"), col("cemb"))).as("carr"))
    val fineByCoarse = fine.groupBy(col("ccid"))
      .agg(collect_list(struct(col("cid"), col("cemb"))).as("fcents"))
    rows.crossJoin(broadcast(coarseArr))
      .withColumn("ccid", nearestCentroidCol(col("emb"), col("carr")))
      .join(broadcast(fineByCoarse), Seq("ccid"))
      .withColumn("cell", nearestCentroidCol(col("emb"), col("fcents")).cast("int"))
  }

  /** (…, emb) rows beside the saved `<path>_books` codebook, ready for
    * [[codeCols]].
    */
  private def withBooks(rows: DataFrame, path: String): DataFrame =
    rows.crossJoin(broadcast(rows.sparkSession.read.parquet(path + "_books")))

  /** `code0..`: each subvector's nearest codebook entry. */
  private def codeCols: Seq[Column] = (0 until VectorSearch.PqM).map(m =>
    nearestCentroidCol(sub(m, col("emb")), col(s"book$m")).cast("int").as(s"code$m"))

  // The encoders: one per maintained layout, shared by the base build
  // (generation 0, after its sidecars are written) and the upkeep
  // streams of graft.streaming.EventStreams (generation g, from the
  // same sidecars), so an appended row is routed exactly as its twin
  // in the base build. The kNN graph's base build writes its own
  // lists; its encoder serves the upkeep stream alone.

  /** LSH: the rows as given plus their `bucket`, the signature under
    * the fixed hyperplane family.
    */
  private[graft] def encodeLsh(rows: DataFrame, path: String, gen: Long): Unit = {
    val planes = VectorSearch.lshPlanes(64, VectorSearch.AnnLshPlanes)
    writeGeneration(rows
      .withColumn("bucket",
        VectorSearch.lshBucket(toDouble(col("embedding")), planes).cast("int"))
      // co-locate each bucket before the partitioned write: one file
      // per bucket directory instead of one per (shuffle partition x
      // bucket) — at scale use repartition(n, col) so a hot bucket
      // still splits across tasks
      .repartition(col("bucket")), path, gen, "bucket")
  }

  /** IVF: (vec_id, embedding, cell), keyed by cell. */
  private[graft] def encodeIvf(rows: DataFrame, path: String, gen: Long): Unit =
    writeGeneration(withCell(withEmb(rows), path)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .repartition(col("cell")), path, gen, "cell")

  /** PQ: (vec_id, code0..). */
  private[graft] def encodePq(rows: DataFrame, path: String, gen: Long): Unit =
    writeGeneration(withBooks(withEmb(rows), path)
      .select(col("vec_id") +: codeCols: _*), path, gen)

  /** IVF-PQ: the IVF routing composed with the PQ encoding —
    * (vec_id, cell, code0..), keyed by cell.
    */
  private[graft] def encodeIvfPq(rows: DataFrame, path: String, gen: Long): Unit =
    writeGeneration(withBooks(withCell(withEmb(rows), path), path)
      .select(col("vec_id") +: col("cell") +: codeCols: _*)
      .repartition(col("cell")), path, gen, "cell")

  /** kNN graph, appended generations: (vec_id, embedding) with an
    * empty `neighbors` list, so every generation keeps the base
    * build's schema. The serving tier computes an appended node's list
    * ([[PointServe.Graph]]); the base build writes generation 0 with
    * its lists itself.
    */
  private[graft] def encodeGraph(rows: DataFrame, path: String, gen: Long): Unit =
    writeGeneration(rows.select(col("vec_id"), col("embedding"),
      typedLit(Seq.empty[Long]).as("neighbors")), path, gen)

  /** MinHash, from (doc_id, sh) shingle sketches: the sketches land in
    * `<path>_sh`, then one row per (doc, band) with its 60-bit band key,
    * keyed (band, bkt) with bkt = band_key mod the saved `<path>_meta`
    * modulus — banding under any other modulus would land rows in
    * directories the probe never prunes to. The band layout's `gen=`
    * directory is the commit point: a crash between the two writes
    * leaves orphan sketches (harmless: joined only via candidates),
    * never bands whose verify side is missing, and a replay finds its
    * sketches landed and does not append them twice.
    */
  private[graft] def encodeMinhash(sh: DataFrame, path: String, gen: Long): Unit = {
    val spark = sh.sparkSession
    val bktMod = spark.read.parquet(path + "_meta").head().getAs[Long]("bkt_mod")
    if (gen == 0L || !hasGeneration(spark, path + "_sh", gen))
      writeGeneration(sh.select(col("doc_id"), col("sh")), path + "_sh", gen)
    writeGeneration(graft.operators.Dedup.minhashBands(sh)
      .withColumn("bkt", pmod(col("band_key"), lit(bktMod)).cast("int"))
      // co-locate each directory before the partitioned write: one
      // file per (band, bkt) instead of one per (task x directory);
      // cluster by band_key within each file so parquet row-group
      // min/max stats stay tight — a probe that can't directory-prune
      // (batch keys covering every (band, bkt)) still skips
      // row-groups outside its band_key range
      .repartition(col("band"), col("bkt"))
      .sortWithinPartitions(col("band"), col("bkt"), col("band_key")),
      path, gen, "band", "bkt")
  }

  /** Build (or rebuild, mode=overwrite) the LSH-partitioned layout as
    * generation 0; streaming maintenance
    * ([[graft.streaming.EventStreams.vectorIndexStream]]) adds later
    * generations beside it, each split into the same bucket keys.
    */
  def buildLshIndex(spark: SparkSession, dir: String, path: String): Unit =
    encodeLsh(Tables.embeddings(spark, dir), path, 0L)

  private def layoutFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The layout's generations, ascending, from one listing of its root
    * through the session's Hadoop FileSystem — no Spark job. A missing
    * layout has none.
    */
  def generations(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, root) = layoutFs(spark, path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") => n.stripPrefix("gen=").toLong }
      .sorted
  }

  /** Has generation `gen` landed in the layout? One directory check on
    * the driver: the replay probe of every upkeep sink. A job that
    * crashed mid-commit leaves its directory present, so a partly
    * committed generation counts as landed.
    */
  def hasGeneration(spark: SparkSession, path: String, gen: Long): Boolean = {
    val (fs, root) = layoutFs(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(root, s"gen=$gen"))
  }

  /** The one generation writer of every maintained layout: `rows` land
    * under `<path>/gen=<gen>/`, split beneath by the layout's own
    * partition `keys`. Generation 0 is the base build and replaces the
    * layout; a later generation adds its directory beside the others.
    */
  def writeGeneration(rows: DataFrame, path: String, gen: Long, keys: String*): Unit =
    rows.withColumn("gen", lit(gen))
      .write.mode(if (gen == 0L) "overwrite" else "append")
      .partitionBy("gen" +: keys: _*).parquet(path)

  /** Every generation of the layout, read by the reader below. */
  def readGenerations(spark: SparkSession, path: String): Option[DataFrame] =
    readGenerations(spark, path, generations(spark, path))

  /** The one generation reader: the rows of the layout's generations
    * `gens` with `gen` as BIGINT (partition inference reads the
    * directory values back as INT). Only those `gen=` directories are
    * read, under `basePath` = the layout root so `gen` and the
    * layout's keys stay columns. No generation to read: None, and no
    * Spark job.
    */
  def readGenerations(spark: SparkSession, path: String,
                      gens: Seq[Long]): Option[DataFrame] =
    if (gens.isEmpty) None
    else Some(spark.read.option("basePath", path)
      .parquet(gens.map(g => s"$path/gen=$g"): _*)
      .withColumn("gen", col("gen").cast("long")))

  /** Multi-probe LSH ANN served from the persisted layout: identical
    * results to [[VectorSearch.annLsh]], but the corpus side reads the
    * prebuilt bucket directories (signature precomputed at build time)
    * and the bucket equi-join dynamic-partition-prunes the scan to the
    * probed buckets.
    *
    * `queries` is the caller's vector batch — (query_id, qv) rows, the
    * serving-path analog of a SearchRequest; signatures are computed
    * on the tiny query side here. The index layout is touched ONLY by
    * the DPP-pruned probe join: bootstrapping queries from the layout
    * itself (the previous shape) forced a full 2^planes-directory scan
    * for a point lookup the partition column cannot prune.
    */
  def annLshFromIndex(spark: SparkSession, path: String,
                      queries: DataFrame, k: Int = 5,
                      radius: Int = VectorSearch.LshProbeRadius): DataFrame = {
    val masks = VectorSearch.lshProbeMasks(VectorSearch.AnnLshPlanes, radius)
      .map(_.toInt)
    val planes = VectorSearch.lshPlanes(64, VectorSearch.AnnLshPlanes)
    val corpus = spark.read.parquet(path)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"), col("bucket"))
    val probes = queries
      .select(col("query_id"), col("qv"),
        VectorSearch.lshBucket(col("qv"), planes).cast("int").as("qbucket"))
      .select(col("query_id"), col("qv"),
        explode(lit(masks)).as("mask"), col("qbucket"))
      .select(col("query_id"), col("qv"),
        col("qbucket").bitwiseXOR(col("mask")).as("bucket"))
    val scored = corpus
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata))
    VectorSearch.rankTopK(scored, k)
  }

  /** The demo query batch: the first `nQueries` base-table vectors —
    * a pushed-down point-range scan of the FLAT table (row-group
    * pruned), never the partitioned layout.
    */
  def queryBatch(spark: SparkSession, dir: String, nQueries: Int): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), toDouble(col("embedding")).as("qv"))

  /** Build (or rebuild) the IVF cell-partitioned layout: the
    * fine-centroid relation (cid, cemb, ccid) is saved first as
    * `<path>_centroids`, then the corpus rows are routed through it to
    * their fine cell ([[encodeIvf]]; identical assignment to
    * [[VectorSearch.annIvf]]) and written `partitionBy(cell)`.
    */
  def buildIvfIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val vecs = Tables.embeddings(spark, dir)
    ivfCentroids(withEmb(vecs)).write.mode("overwrite").parquet(path + "_centroids")
    encodeIvf(vecs, path, 0L)
  }

  /** The query's probe cells from the saved centroid relation: its
    * [[VectorSearch.IvfProbeCoarse]] nearest coarse centroids, then the
    * `nprobe` nearest fine cells inside them — annIvf's selection
    * (coarse membership is the stride arithmetic, not cid == ccid,
    * which a duplicate-embedding centroid could break on the argmin
    * tie). Rows (cid, dist, qv), nearest first.
    */
  private def probeCells(fine: DataFrame, qv: DataFrame, nprobe: Int): DataFrame = {
    val coarse = fine
      .filter(col("cid") % (VectorSearch.IvfStride.toLong * VectorSearch.IvfCoarse) === 0)
      .select(col("cid").as("pccid"), col("cemb").as("coarse_emb"))
    val qcoarse = coarse.crossJoin(broadcast(qv))
      .select(col("pccid"), l2DistanceSq(col("coarse_emb"), col("qv")).as("dist"), col("qv"))
      .orderBy(col("dist"), col("pccid"))
      .limit(VectorSearch.IvfProbeCoarse)
    fine.join(broadcast(qcoarse), col("ccid") === col("pccid"))
      .select(col("cid"), l2DistanceSq(col("cemb"), col("qv")).as("dist"), col("qv"))
      .orderBy(col("dist"), col("cid"))
      .limit(nprobe)
  }

  /** IVF ANN served from the persisted layout: identical results to
    * [[VectorSearch.annIvf]]. The query resolves its probe cells from
    * the saved centroid relation (KB-scale reads), then the cell
    * equi-join dynamic-prunes the corpus scan to the nprobe cell
    * directories — no assignment recompute, no full scan.
    */
  def annIvfFromIndex(spark: SparkSession, path: String, queries: DataFrame,
                      qid: Long = 0,
                      nprobe: Int = VectorSearch.IvfNprobe, k: Int = 20,
                      labelGate: Option[DataFrame] = None): DataFrame = {
    val fine = spark.read.parquet(path + "_centroids")
    val corpus = spark.read.parquet(path)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"), col("cell"))
    // query vector from the caller's batch (flat-table point lookup),
    // NOT from the cell-partitioned layout, which cannot prune a
    // vec_id filter and would scan every cell directory
    val qv = queries.filter(col("query_id") === qid).select(col("qv"))
    val cells = probeCells(fine, qv, nprobe)
      .select(col("cid").cast("int").as("cell"), col("qv"))
    val cand = corpus.join(broadcast(cells), Seq("cell"))
      .filter(col("vec_id") =!= qid)
    // metadata gate (post-filtering): applied to the probed candidate
    // set BEFORE the top-k, joined on vec_id — candidates are
    // nprobe-cells-sized, the gate relation co-partitions on the same
    // key, and the layout's DPP pruning is untouched
    val gated = labelGate.fold(cand)(g =>
      cand.join(g.hint("shuffle_hash"), Seq("vec_id")))
    val cols = Seq(col("vec_id")) ++ labelGate.map(_ => col("label")).toSeq :+
      fx(cosineSimilarity(col("emb"), col("qv"))).as("score", ScoreTag.metadata)
    gated.select(cols: _*)
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Label-gated ANN over the persisted IVF layout (the reference's
    * filtered vector search — query.rs search-with-filter over the
    * index — as a payload filter on the probed cells; oracle twin
    * [[VectorSearch.annIvfFilteredSql]]).
    */
  def annIvfFilteredIndexed(spark: SparkSession, dir: String, qid: Long = 0,
                            labels: Seq[Int] = Seq(1, 3, 5),
                            nprobe: Int = VectorSearch.IvfNprobe,
                            k: Int = 20): DataFrame = {
    val gate = graft.Tables.embeddings(spark, dir)
      .filter(col("label").isin(labels: _*))
      .select(col("vec_id"), col("label"))
    annIvfFromIndex(spark, ivfIndexReady(spark, dir),
      queryBatch(spark, dir, qid.toInt + 1), qid, nprobe = nprobe, k = k,
      labelGate = Some(gate))
  }

  /** Build (or rebuild) the PQ codes layout: the corpus encoded to
    * [[VectorSearch.PqM]] sub-centroid codes per vector — the
    * persisted form of [[VectorSearch.annPq]]'s encode pass. The codes
    * table (vec_id + 16 byte-ish code columns, ~10 bytes/vector — the
    * ~25x compression that makes a 100 TB embedding corpus servable)
    * is the layout, encoded ([[encodePq]]) against the one-row
    * codebook saved first as `<path>_books`. Full vectors are NOT in
    * the layout: only the rescore pass touches them,
    * [[VectorSearch.PqCoarseK]] rows per query read back from the flat
    * table.
    */
  def buildPqIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val vecs = Tables.embeddings(spark, dir)
    pqCodebook(withEmb(vecs)).coalesce(1).write.mode("overwrite").parquet(path + "_books")
    encodePq(vecs, path, 0L)
  }

  /** The query's ADC table against the saved codebook — per subspace,
    * the distance from the query's subvector to every codebook entry,
    * in cid order — and the ADC distance of a `code0..` row read off
    * it.
    */
  private def adcTable(qv: DataFrame, books: DataFrame): (DataFrame, Column) = {
    import VectorSearch.PqM
    val adc = qv.crossJoin(broadcast(books)).select((0 until PqM).map { m =>
      transform(array_sort(col(s"book$m")),
        c => l2DistanceSq(sub(m, col("qv")), c.getField("cemb"))).as(s"adc$m")
    }: _*)
    (adc, (0 until PqM).map(m =>
      element_at(col(s"adc$m"), col(s"code$m") + 1)).reduce(_ + _))
  }

  /** PQ-ADC ANN served from the persisted codes layout: identical
    * results to [[VectorSearch.annPq]] (same codebook, same ADC
    * arithmetic — the inline twin's oracle is shared). The coarse pass
    * reads ONLY the codes table; the exact-L2 rescore joins the
    * [[VectorSearch.PqCoarseK]] surviving ids back against the flat
    * vector table (row-group-prunable point reads at scale).
    */
  def annPqFromIndex(spark: SparkSession, dir: String, path: String,
                     queries: DataFrame, qid: Long = 0, k: Int = 20,
                     coarseK: Int = VectorSearch.AutoCoarseK): DataFrame = {
    val ck = VectorSearch.resolveCoarseK(spark, dir, coarseK)
    val books = spark.read.parquet(path + "_books")
    val codes = spark.read.parquet(path)
    val qv = queries.filter(col("query_id") === qid).select(col("qv"))
    val (adc, adcDist) = adcTable(qv, books)
    val coarse = codes.crossJoin(broadcast(adc))
      .filter(col("vec_id") =!= qid)
      .select(col("vec_id"), fx(adcDist).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(ck)
    val full = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
    full.join(broadcast(coarse), Seq("vec_id"))
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), fx(l2DistanceSq(col("emb"), col("qv"))).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Deterministic per-SF index location (content is a pure function
    * of the table directory, so a prebuilt layout is reusable across
    * sessions — the load_index path). The path embeds a stamp of the
    * source table's file sizes/mtimes: if the table is REGENERATED in
    * place, the stamp changes and build-if-missing rebuilds instead of
    * serving a stale layout.
    */
  def indexPath(dir: String, kind: String): String = {
    def stat(f: java.io.File): (Long, Long) =
      if (f.isDirectory) {
        val cs = f.listFiles().map(stat)
        (cs.map(_._1).sum, (0L +: cs.map(_._2)).max)
      } else (f.length, f.lastModified)
    // the stamp tracks the layout's SOURCE table: the minhash band
    // layout derives from document text, the vector layouts from
    // embeddings — a regenerated table invalidates only its layouts
    val srcTable =
      if (kind == "minhash") "documents.parquet" else "embeddings.parquet"
    val (sz, mt) = stat(new java.io.File(dir, srcTable))
    // `gen_`: generation-directory format; a layout written before it
    // carries another name and is never read
    System.getProperty("java.io.tmpdir") + "/graft_vindex_" + kind + "_gen_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + sz + "_" + mt
  }

  /** Is the layout at `path` built? Readers gate on its `_SUCCESS`. */
  private[graft] def exists(path: String): Boolean =
    new java.io.File(path, "_SUCCESS").exists()

  private def rm(f: java.io.File): Unit = if (f.exists()) {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  /** Build-if-missing with concurrent-builder safety: build into a
    * process-unique staging path, then atomically rename into place
    * (same-filesystem /tmp rename). If another JVM won the race the
    * rename target already exists — discard the staging copy and
    * serve the winner's layout; a reader can never observe a
    * half-written or mid-overwrite directory.
    */
  private def buildIfMissing(path: String, suffixes: Seq[String])
                            (build: String => Unit): Unit = {
    if (!exists(path)) {
      // a directory present WITHOUT _SUCCESS is a crashed build: move
      // it aside so the fresh rename can land (serving it forever was
      // the alternative)
      suffixes.foreach { s =>
        val tgt = new java.io.File(path + s)
        if (tgt.exists()) {
          val broken = new java.io.File(path + s + ".broken-" +
            java.util.UUID.randomUUID.toString.take(8))
          if (tgt.renameTo(broken)) rm(broken)
        }
      }
      val staging = path + ".stage-" + java.util.UUID.randomUUID.toString.take(8)
      build(staging)
      // rename auxiliary dirs first, the probed main dir last: readers
      // gate on the main _SUCCESS, so auxiliaries are already in place
      // when the layout becomes visible
      suffixes.foreach { s =>
        val tgt = new java.io.File(path + s)
        if (!new java.io.File(staging + s).renameTo(tgt))
          rm(new java.io.File(staging + s)) // lost the race: discard
      }
    }
  }

  /** Rebuild in place through the same staged protocol: build into
    * staging, swap the live directories aside, rename staging in, and
    * delete the old layout last — a reader never observes a
    * mid-overwrite directory and any crash leaves a complete layout
    * under some name (rebuild_index's contract).
    */
  private def rebuildStaged(path: String, suffixes: Seq[String])
                           (build: String => Unit): Unit = {
    val staging = path + ".stage-" + java.util.UUID.randomUUID.toString.take(8)
    build(staging)
    suffixes.foreach { s =>
      val tgt = new java.io.File(path + s)
      val old = new java.io.File(path + s + ".old-" +
        java.util.UUID.randomUUID.toString.take(8))
      if (tgt.exists()) tgt.renameTo(old)
      if (!new java.io.File(staging + s).renameTo(tgt))
        rm(new java.io.File(staging + s))
      rm(old)
    }
  }

  /** One persisted layout: its [[indexPath]] kind, the sidecar
    * directories its base build writes before the layout itself, and
    * that base build.
    */
  private final case class Layout(kind: String, sidecars: Seq[String],
                                  build: (SparkSession, String, String) => Unit) {
    /** Sidecars first, the layout last: readers gate on the layout's
      * `_SUCCESS`, so its sidecars are in place once it is visible.
      */
    def dirs: Seq[String] = sidecars :+ ""
  }

  /** Every persisted layout, once: the build-if-missing entries, both
    * rebuild paths and `GraftDB.healthCheck` read this list.
    */
  private val layouts: Seq[Layout] = Seq(
    Layout("lsh", Nil, buildLshIndex),
    Layout("ivf", Seq("_centroids"), buildIvfIndex),
    Layout("pq", Seq("_books"), buildPqIndex),
    Layout("ivfpq", Seq("_centroids", "_books"), buildIvfPqIndex),
    Layout("graph", Nil, buildKnnGraphIndex(_, _, _)),
    Layout("minhash", Seq("_meta", "_sh"), buildMinhashIndex),
    Layout("knn_edges", Nil, buildKnnEdgesIndex))

  /** The kinds of every persisted layout. */
  def kinds: Seq[String] = layouts.map(_.kind)

  private def rebuild(spark: SparkSession, dir: String, l: Layout): Unit =
    rebuildStaged(indexPath(dir, l.kind), l.dirs)(l.build(spark, dir, _))

  /** Build-if-missing, returning the ready layout path — the shared
    * entry for the batch driver queries below and [[PointServe]]'s
    * load-time reads.
    */
  private def ready(spark: SparkSession, dir: String, kind: String): String = {
    val l = layouts.find(_.kind == kind).get
    val path = indexPath(dir, kind)
    buildIfMissing(path, l.dirs)(l.build(spark, dir, _))
    path
  }

  def lshIndexReady(spark: SparkSession, dir: String): String = ready(spark, dir, "lsh")
  def ivfIndexReady(spark: SparkSession, dir: String): String = ready(spark, dir, "ivf")
  def pqIndexReady(spark: SparkSession, dir: String): String = ready(spark, dir, "pq")
  def ivfPqIndexReady(spark: SparkSession, dir: String): String = ready(spark, dir, "ivfpq")
  def knnGraphIndexReady(spark: SparkSession, dir: String): String = ready(spark, dir, "graph")
  def minhashIndexReady(spark: SparkSession, dir: String): String = ready(spark, dir, "minhash")
  def knnEdgesReady(spark: SparkSession, dir: String): String = ready(spark, dir, "knn_edges")

  /** Force-rebuild every persisted layout (lib.rs:560 rebuild_index). */
  def rebuildIndexes(spark: SparkSession, dir: String): Unit =
    layouts.foreach(rebuild(spark, dir, _))

  /** Auto-optimize heuristic (reference
    * src/performance/index_optimizer.rs:51 should_optimize): a layout
    * wants a rebuild once streaming maintenance
    * ([[graft.streaming.EventStreams.vectorIndexStream]] /
    * `pqIndexStream`) has appended enough that folding the debt into a
    * fresh base pays for itself — when appended-generation rows exceed
    * `maxAppendedFraction` of the base build (each append fragments
    * bucket directories into per-batch files, and PQ appends are coded
    * against an aging codebook), or when distinct appended generations
    * exceed `maxGenerations` (file count grows per generation
    * regardless of row mass). The generation count is the layout's
    * directory listing; only a layout with appended generations pays
    * one row count over its partition column — a maintenance-scheduler
    * job, never a query-path cost.
    */
  def shouldRebuild(spark: SparkSession, path: String,
                    maxAppendedFraction: Double = 0.2,
                    maxGenerations: Int = 64): Boolean = {
    val gens = generations(spark, path).count(_ > 0L)
    gens > maxGenerations || gens > 0 && {
      val (base, appended) = rowCounts(readGenerations(spark, path).get)
      appended > maxAppendedFraction * math.max(base, 1L)
    }
  }

  /** (generation-0 rows, appended rows) of a read layout. */
  private def rowCounts(layout: DataFrame): (Long, Long) = {
    val r = layout.agg(count(when(col("gen") === 0L, 1)),
      count(when(col("gen") > 0L, 1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Index observability snapshot (query.rs:271 get_index_stats /
    * :414 IndexStats): point count, vector dimension, built flag, an
    * on-disk size estimate and the maintenance-generation counters
    * the rebuild heuristic reads. `dimension` is probed from ONE row
    * (the layouts are uniform by construction); `diskBytes` sums the
    * layout's file sizes — the honest "memory" figure for a
    * disk-layout index (the reference reports resident HNSW bytes;
    * graft's serving tier loads the same layout, so bytes-on-disk
    * bounds bytes-resident for LSH/IVF and overstates PQ, whose
    * served form is codes+codebook only).
    */
  final case class IndexStats(kind: String, isBuilt: Boolean, pointCount: Long,
                              dimension: Int, diskBytes: Long,
                              appendedRows: Long, generations: Long)

  def indexStats(spark: SparkSession, dir: String, kind: String): IndexStats = {
    val path = indexPath(dir, kind)
    if (!exists(path))
      return IndexStats(kind, isBuilt = false, 0L, 0, 0L, 0L, 0L)
    val gens = generations(spark, path).count(_ > 0L).toLong
    // a built-but-empty layout has no generation directory: no rows
    val layout = readGenerations(spark, path)
    val (base, appended) = layout.fold((0L, 0L))(rowCounts)
    val dim = (kind, layout) match {
      // band rows carry no vector: report the signature width the
      // bands are derived from
      case ("minhash", _) => graft.operators.Dedup.NumHashes
      // an edge relation has no vector column at all
      case ("knn_edges", _) | (_, None) => 0
      // codes layouts carry no embedding column: report subspace count
      case ("pq" | "ivfpq", Some(l)) => l.columns.count(_.startsWith("code"))
      case (_, Some(l)) =>
        val vecCol = Seq("embedding", "emb").find(l.columns.contains).get
        l.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0)).getOrElse(0)
    }
    val diskBytes = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length()
        else 0L
      walk(new java.io.File(path))
    }
    IndexStats(kind, isBuilt = true, base + appended, dim, diskBytes,
      appended, gens)
  }

  /** Conditional rebuild (index_optimizer.rs should_optimize →
    * optimize_index): staged-rebuild exactly the existing layouts
    * whose maintenance debt trips [[shouldRebuild]]; returns the kinds
    * rebuilt. The periodic-maintenance entry point: cheap to call
    * often, rebuilds only when the heuristic says the debt is worth
    * folding.
    */
  def rebuildIfNeeded(spark: SparkSession, dir: String,
                      maxAppendedFraction: Double = 0.2,
                      maxGenerations: Int = 64): Seq[String] =
    // graph debt matters doubly: appended nodes carry un-pruned
    // reverse-edge growth in the served snapshot, and a rebuild restores
    // the nearest-first 2k-degree invariant; minhash debt fragments the
    // probed band directories into per-batch files exactly like the LSH
    // buckets. knn_edges is never appended to, so it never trips.
    layouts.collect {
      case l if exists(indexPath(dir, l.kind)) &&
          shouldRebuild(spark, indexPath(dir, l.kind), maxAppendedFraction, maxGenerations) =>
        rebuild(spark, dir, l)
        l.kind
    }

  /** Build (or rebuild) the IVF-PQ layout — the on-disk form of the
    * billion-scale index ([[VectorSearch.annIvfPq]]; FAISS stores
    * exactly this: PQ CODES bucketed per IVF cell): each corpus row is
    * routed to its fine cell (identical two-level assignment to the
    * IVF layout) and stored as its 16 sub-centroid codes,
    * `partitionBy(cell)` — so a query's probe both file-prunes to
    * nprobe directories AND reads ~10 bytes per candidate. Centroid
    * relation and codebook saved alongside.
    */
  def buildIvfPqIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val vecs = Tables.embeddings(spark, dir)
    // the IVF and PQ builds' own sidecars, so the three layouts can
    // never drift apart
    val corpus = withEmb(vecs)
    ivfCentroids(corpus).write.mode("overwrite").parquet(path + "_centroids")
    pqCodebook(corpus).coalesce(1).write.mode("overwrite").parquet(path + "_books")
    encodeIvfPq(vecs, path, 0L)
  }

  /** IVF-PQ served from the persisted layout: identical results to
    * [[VectorSearch.annIvfPq]]. The probe resolves its nprobe cells
    * from the saved centroid relation (KB reads), the cell equi-join
    * dynamic-prunes the codes scan to those directories, ADC scoring
    * reads codes only, and the exact rescore reads back
    * [[VectorSearch.PqCoarseK]] full vectors by id from the flat
    * table — at 100 TB a query touches nprobe/nlist of the CODES
    * (already ~25x smaller than the vectors) plus 100 rescore rows.
    *
    * CONTRACT: the rescore joins the flat vector table, so a vector
    * appended to the codes layout (ivfPqIndexStream) must also land
    * in the flat store — the same store+index pairing the reference's
    * add_document maintains by writing both together. A codes-only
    * vector would win an ADC rescore slot and then vanish at the
    * join; ingest and index maintenance are two halves of one write.
    */
  def annIvfPqFromIndex(spark: SparkSession, dir: String, path: String,
                        queries: DataFrame, qid: Long = 0, k: Int = 10,
                        nprobe: Int = VectorSearch.IvfNprobe,
                        coarseK: Int = VectorSearch.AutoCoarseK): DataFrame = {
    val ck = VectorSearch.resolveCoarseK(spark, dir, coarseK)
    val fine = spark.read.parquet(path + "_centroids")
    val books = spark.read.parquet(path + "_books")
    val codes = spark.read.parquet(path)
    val qv = queries.filter(col("query_id") === qid).select(col("qv"))
    val cells = probeCells(fine, qv, nprobe).select(col("cid").cast("int").as("cell"))
    val (adc, adcDist) = adcTable(qv, books)
    val ranked = codes.join(broadcast(cells), Seq("cell"))
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(adc))
      .select(col("vec_id"), fx(adcDist).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(ck)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      .join(broadcast(ranked), Seq("vec_id"))
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), fx(l2DistanceSq(col("emb"), col("qv"))).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Driver entry: build-if-missing (rebuild_index), then serve. */
  def annIvfPqIndexed(spark: SparkSession, dir: String, qid: Long = 0,
                      k: Int = 10): DataFrame =
    annIvfPqFromIndex(spark, dir, ivfPqIndexReady(spark, dir),
      queryBatch(spark, dir, qid.toInt + 1), qid, k)

  /** Build (or rebuild) the kNN-GRAPH layout — the persisted form of
    * [[VectorSearch.annKnnGraph]]'s neighbor lists, one row per
    * vector: (vec_id, embedding, neighbors array<long> nearest-first)
    * under its generation directory. This is the on-disk shape of the reference's graph index
    * (index.rs:95-260 builds an HNSW adjacency and mmaps it back):
    * [[PointServe.Graph]] loads it for zero-Spark-job greedy search.
    * Only generation 0 carries stored lists:
    * [[graft.streaming.EventStreams.knnGraphIndexStream]] appends new
    * vectors as later generations with empty lists ([[encodeGraph]]),
    * and [[PointServe.Graph]] gives each one its list by walking the
    * graph as it stood before that generation. Vectors the banded build
    * found no neighbors for (isolated buckets) keep an empty list —
    * still resident and servable as entry-point seeds.
    *
    * The stored lists are UNDIRECTED-ized (forward kNN edges ∪
    * reverse edges, nearest-first, deduped) — the NSW construction:
    * a directed kNN digraph strands low-in-degree nodes and caps
    * greedy recall; adding each edge's reverse makes every node
    * reachable from its neighbors and lifts the walk's recall floor.
    * Degree is 2k worst-case, k=10 by default (denser than the batch
    * operator's k=5 display graph — graph degree IS the serving
    * recall/memory knob, the reference's `m` parameter).
    *
    * Exact-duplicate canonicalization (r7, found by the sf1
    * clone-dense recall sweep): a per-vector kNN over a corpus where
    * every embedding carries D exact duplicates spends min(k, D−1)
    * neighbor slots on the vector's OWN clones — at 10× clone density
    * the inter-content graph fragmented and greedy recall collapsed
    * 0.8 → 0.125, ef-independent (connectivity, not exploration).
    * The graph is therefore built over ONE REPRESENTATIVE per
    * distinct embedding (min vec_id), so every rep slot carries an
    * inter-content edge regardless of duplication; each duplicate
    * group rides an id-ordered chain (rep → m1 → m2 → …, every
    * member also pointing back at its rep), keeping every member
    * reachable at constant degree — the walk enumerates a tied group
    * in ascending-id order, exactly the (score DESC, id ASC) serve
    * contract. A duplicate-free corpus reduces to the old build
    * (every group is a singleton).
    */
  def buildKnnGraphIndex(spark: SparkSession, dir: String, path: String,
                         k: Int = 2 * VectorSearch.KnnGraphK): Unit =
    buildKnnGraphIndexFromVecs(spark,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      path, k)

  /** [[buildKnnGraphIndex]] over an explicit (vec_id, embedding)
    * relation — the per-SHARD build path: a distributed ANN
    * deployment gives each id-hash shard its OWN graph over its
    * slice (per-shard kNN, per-shard walk), and the scatter-gather
    * merge of per-shard answers covers the corpus because the slices
    * partition it. Per-shard recall is floor-pinned, not assumed
    * (PointServeSpec: per-shard graphs scatter-gather to the brute
    * recall floor).
    */
  private[graft] def buildKnnGraphIndexFromVecs(spark: SparkSession,
                                                embIn: DataFrame, path: String,
                                                k: Int = 2 * VectorSearch.KnnGraphK): Unit = {
    import org.apache.spark.sql.expressions.Window
    val emb = embIn.select(col("vec_id"), col("embedding"))
    // one rep per distinct embedding; the shuffle key is the exact
    // vector (same bytes the rows carry anyway — no collision risk a
    // hashed key would introduce)
    val grouped = emb.groupBy(col("embedding")).agg(min(col("vec_id")).as("rep"))
    val reps = grouped.select(col("rep").as("vec_id"),
      toDouble(col("embedding")).as("emb"))
    val graph = VectorSearch.annKnnGraphFromVecs(reps, k,
      VectorSearch.KnnGraphRadius, VectorSearch.KnnBucketCap, "index.knn")
    val fwd = graph.select(col("vec_id"), col("rank"), col("neighbor_id"))
    val rev = graph.select(col("neighbor_id").as("vec_id"),
      (col("rank") + k).as("rank"), col("vec_id").as("neighbor_id"))
    val adj = fwd.unionByName(rev)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("rank"), col("neighbor_id"))))
        .as("ranked"))
      .select(col("vec_id").as("rep"),
        expr("array_distinct(transform(ranked, e -> e.neighbor_id))")
          .as("rep_nbrs"))
    // duplicate-group chain successor per member (groups sort within
    // their own partition — linear, never corpus-global)
    val members = emb.join(grouped.hint("shuffle_hash"), Seq("embedding"))
      .select(col("vec_id"), col("rep"), col("embedding"))
    val chained = members.withColumn("next",
      lead(col("vec_id"), 1).over(Window.partitionBy(col("rep")).orderBy(col("vec_id"))))
    writeGeneration(chained.join(adj.hint("shuffle_hash"), Seq("rep"), "left")
      .withColumn("rep_nbrs",
        coalesce(col("rep_nbrs"), expr("array()").cast("array<bigint>")))
      .withColumn("neighbors", expr(
        // nearest-first: chain successor and rep (both cosine 1.0 by
        // construction) ahead of the rep's inter-content list
        """filter(array_distinct(concat(
          |  CASE WHEN next IS NULL THEN CAST(array() AS array<bigint>) ELSE array(next) END,
          |  CASE WHEN vec_id = rep THEN CAST(array() AS array<bigint>) ELSE array(rep) END,
          |  rep_nbrs)), x -> x != vec_id)""".stripMargin))
      .select(col("vec_id"), col("embedding"), col("neighbors")), path, 0L)
  }

  /** Build (or rebuild) the kNN EDGE layout: the exact
    * [[VectorSearch.annKnnGraph]] relation — (vec_id, rank,
    * neighbor_id, score) — persisted once per corpus so the
    * graph-consuming analytics ([[graft.operators.Clustering
    * .graphPagerank]], `labelNoise`) ride a parquet scan instead of
    * re-running the banded kNN build per query. Distinct from the
    * SERVE-form graph layout (`buildKnnGraphIndex`), whose 2k-degree
    * clone-canonicalized adjacency is shaped for point lookups, not
    * for reproducing the batch edge relation bit-for-bit.
    */
  def buildKnnEdgesIndex(spark: SparkSession, dir: String, path: String): Unit =
    writeGeneration(VectorSearch.annKnnGraph(spark, dir), path, 0L)

  /** The persisted edge relation, built if missing — the shared
    * graph input of the embedding-space analytics.
    */
  def knnEdges(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(knnEdgesReady(spark, dir))
      .select(col("vec_id"), col("rank"), col("neighbor_id"), col("score"))

  /** Build (or rebuild) the MinHash BAND layout — the dedup-side
    * index the incremental-ingestion path probes
    * ([[graft.operators.Dedup.minhashIncrementalFromIndex]];
    * reference sparse.rs:71 add_document maintains exactly this
    * signature index). One row per (doc, band) with the 60-bit band
    * key, written `partitionBy(band, bkt)` (bkt = band_key mod a
    * corpus-scaled modulus, [[graft.operators.Dedup.bandSubBuckets]])
    * so a batch probe dynamic-partition-prunes to its buckets; the
    * chosen modulus is persisted in a one-row `<path>_meta` sidecar —
    * probe and streaming upkeep read it back, so they can never band
    * differently than the build did — and the doc-level shingle
    * sketch is saved alongside as `<path>_sh` so candidate
    * verification never re-reads corpus text. Both are written as
    * generation 0; [[graft.streaming.EventStreams.minhashIndexStream]]
    * adds later generations.
    */
  def buildMinhashIndex(spark: SparkSession, dir: String, path: String): Unit = {
    import graft.operators.Dedup
    val docs = Dedup.shingleDocs(spark, dir)
    try {
      spark.range(1).select(lit(Dedup.bandSubBuckets(docs.count()).toLong).as("bkt_mod"))
        .write.mode("overwrite").parquet(path + "_meta")
      encodeMinhash(docs, path, 0L)
    } finally docs.unpersist()
  }

  /** Driver entry: build-if-missing (rebuild_index), then serve. */
  def annPqIndexed(spark: SparkSession, dir: String, qid: Long = 0,
                   k: Int = 20): DataFrame =
    annPqFromIndex(spark, dir, pqIndexReady(spark, dir),
      queryBatch(spark, dir, qid.toInt + 1), qid, k)

  /** Driver entry: build-if-missing (rebuild_index), then serve. */
  def annLshIndexed(spark: SparkSession, dir: String,
                    nQueries: Int = 8, k: Int = 5,
                    radius: Int = VectorSearch.LshProbeRadius): DataFrame =
    annLshFromIndex(spark, lshIndexReady(spark, dir),
      queryBatch(spark, dir, nQueries), k, radius)

  /** Driver entry: build-if-missing (rebuild_index), then serve. */
  def annIvfIndexed(spark: SparkSession, dir: String, qid: Long = 0,
                    nprobe: Int = VectorSearch.IvfNprobe, k: Int = 20): DataFrame =
    annIvfFromIndex(spark, ivfIndexReady(spark, dir),
      queryBatch(spark, dir, qid.toInt + 1), qid, nprobe = nprobe, k = k)
}
