package graft.sources

import graft.operators.VectorSearch
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** In-JVM point-query serving over the persisted ANN layouts — the
  * serving tier the reference runs as its whole engine (grape-vector-db
  * src/index.rs:95-260 serves sub-millisecond lookups from an
  * in-memory HNSW graph; src/embedded.rs is the single-node embedded
  * mode). graft's batch tier answers ANN queries as Spark jobs, which
  * carry a ~0.15-1s scheduling floor no plan can remove; this module
  * closes that gap for POINT lookups: load a persisted layout ONCE
  * (one Spark job), then answer queries in plain JVM microseconds with
  * ZERO Spark jobs (spec-asserted via a job listener).
  *
  * The batch and serving tiers share one source of truth — the same
  * partitioned parquet layouts [[VectorIndex]] builds and the
  * streaming paths maintain — and the serving math replicates the
  * batch kernels loop-for-loop (sequential accumulation order
  * included), so served results are BIT-IDENTICAL to the batch twins:
  * PointServeSpec asserts equality against [[VectorIndex.annLshFromIndex]]
  * / `annIvfFromIndex` / `annPqFromIndex` / `annIvfPqFromIndex` rows and
  * [[graft.operators.Dedup.minhashIncrementalIndexed]]'s per-document
  * rows, and pins the kNN-graph walk's recall floor against brute
  * force.
  *
  * Every maintained layout is served by one [[Maintained]] tier: its
  * `fold` of a layout's generations into a snapshot plus its `query`.
  * The LSH, IVF, PQ and IVF-PQ tiers share one resident cell map
  * ([[CellTier]]); LSH and IVF share one cosine scan, PQ and IVF-PQ one
  * ADC scan.
  *
  * Memory contracts (what each index holds resident):
  *  - LSH / IVF: vec_id + full vector per row — the embedded
  *    single-node shape, exactly what the reference engine keeps in
  *    memory. A 100 TB corpus does not fit one node any more than it
  *    fits the reference; there the layout's bucket/cell directories
  *    shard across serving nodes, each loading its partitions (the
  *    partition column IS the shard key).
  *  - PQ / IVF-PQ: vec_id + M codes (~25x compressed — the shape that
  *    makes a large corpus servable from memory) + the one-row codebook
  *    (and IVF-PQ's centroid table). The exact-rescore stage needs
  *    original vectors, which the codes layout deliberately omits: the
  *    caller plugs a `vectorLookup` (in embedded mode a heap map; at
  *    scale the KV/feature-store tier) or gets ADC-ranked results
  *    unrescored — the same approximate/exact split as the batch twin.
  */
object PointServe {

  /** One served hit; `score` is the fx4 fixed-point BIGINT the batch
    * twins emit (cosine for LSH/IVF, exact squared-L2 for PQ rescore).
    */
  final case class Hit(rank: Int, vecId: Long, score: Long)

  private def fx4(x: Double): Long = math.floor(x * 10000L + 0.5).toLong

  /** [[graft.functions.expressions.CosineSim]] loop, Array[Double] form. */
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = a(i); val yi = b(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val sa = math.sqrt(na); val sb = math.sqrt(nb)
    if (sa == 0.0 || sb == 0.0) 0.0 else dot / (sa * sb)
  }

  /** Sequential squared L2 (VectorFunctions.l2DistanceSq order). */
  private def l2Sq(a: Array[Double], b: Array[Double], aOff: Int, len: Int,
                   bOff: Int): Double = {
    var dist = 0.0
    var i = 0
    while (i < len) {
      val d = a(aOff + i) - b(bOff + i)
      dist += d * d
      i += 1
    }
    dist
  }

  /** [[graft.functions.expressions.HyperplaneSig]] loop. */
  private def signature(v: Array[Double], planes: Array[Array[Int]]): Long = {
    var sig = 0L
    var j = 0
    while (j < planes.length) {
      val plane = planes(j)
      val n = math.min(v.length, plane.length)
      var dot = 0.0
      var d = 0
      while (d < n) { dot += v(d) * plane(d).toDouble; d += 1 }
      if (dot > 0.0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** Primitive bounded selection — the zero-boxing counterpart of
    * [[topK]] for corpus-sized scans with a LARGE k (the PQ coarse
    * pool is scale-relative and reaches 10^4 entries at sf10, where
    * a boxed tuple per scanned code dominates the query): a binary
    * heap on parallel long arrays, worst element on top, identical
    * (score ASC|DESC, id ASC) total order.
    */
  private final class PrimTopK(k: Int, ascending: Boolean) {
    private val ss = new Array[Long](k)
    private val ids = new Array[Long](k)
    private var n = 0
    // "worse" = ranks lower in the final order
    private def worse(s1: Long, i1: Long, s2: Long, i2: Long): Boolean =
      if (s1 != s2) { if (ascending) s1 > s2 else s1 < s2 } else i1 > i2
    def add(id: Long, s: Long): Unit = {
      if (n < k) { ss(n) = s; ids(n) = id; n += 1; siftUp(n - 1) }
      else if (worse(ss(0), ids(0), s, id)) { ss(0) = s; ids(0) = id; siftDown() }
    }
    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(ss(i), ids(i), ss(p), ids(p))) { swap(i, p); i = p } else return
      }
    }
    private def siftDown(): Unit = {
      var i = 0
      while (true) {
        val l = 2 * i + 1; val r = l + 1; var w = i
        if (l < n && worse(ss(l), ids(l), ss(w), ids(w))) w = l
        if (r < n && worse(ss(r), ids(r), ss(w), ids(w))) w = r
        if (w == i) return
        swap(i, w); i = w
      }
    }
    private def swap(a: Int, b: Int): Unit = {
      val ts = ss(a); ss(a) = ss(b); ss(b) = ts
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }
    def hits(): Seq[Hit] = {
      val order = (0 until n).sortBy { i =>
        (if (ascending) ss(i) else -ss(i), ids(i))
      }
      order.zipWithIndex.map { case (i, r) => Hit(r + 1, ids(i), ss(i)) }
    }
  }

  /** Rank candidates exactly like the batch twins: score DESC (or dist
    * ASC via negation), vec_id ASC, take k, rank 1..k.
    */
  private def topK(cands: Iterator[(Long, Long)], k: Int,
                   ascending: Boolean = false): Seq[Hit] = {
    val ord = if (ascending) Ordering.by[(Long, Long), (Long, Long)](c => (c._2, c._1))
              else Ordering.by[(Long, Long), (Long, Long)](c => (-c._2, c._1))
    // bounded selection: a k-sized priority queue over the candidate
    // stream (the serving analog of TopKAgg's bounded map-side heap)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](ord)
    cands.foreach { c =>
      heap.enqueue(c)
      if (heap.size > k) heap.dequeue()
    }
    heap.toSeq.sorted(ord).zipWithIndex
      .map { case ((id, s), i) => Hit(i + 1, id, s) }
  }

  /** RRF fusion over ranked branch hit lists — 1/(RrfK + rank) summed
    * per doc in branch order, fx6, (score DESC, id ASC) top-`limit`.
    * Shared by the embedded server's hybrid forms and the sharded
    * scatter-gather path: branches merged across shards with
    * [[mergeHits]] carry the global branch ranks, so fusing them here
    * is bit-identical to the unsharded [[Embedded.hybridRrf]]
    * (spec-pinned).
    */
  def rrfFuse(branches: Seq[Seq[Hit]], limit: Int): Seq[Hit] = {
    val acc = new java.util.LinkedHashMap[Long, Double]()
    branches.foreach(_.foreach { h =>
      val c = acc.getOrDefault(h.vecId, 0.0)
      acc.put(h.vecId, c + 1.0 / (graft.operators.HybridSearch.RrfK + h.rank))
    })
    val cands = scala.jdk.CollectionConverters.IteratorHasAsScala(
      acc.entrySet().iterator()).asScala
      .map(e => (e.getKey.longValue(), fx6(e.getValue)))
    topK(cands, limit)
  }

  /** Scatter-gather merge for sharded serving: each shard answers
    * from its own bucket subset with the same ranking; the gather
    * re-ranks the union — identical to the unsharded result because
    * bucket membership partitions the candidate set and the ranking
    * key (score, vec_id) is global. This is the 100 TB deployment
    * shape: the layout's partition column is the shard key, each
    * serving node loads its directories, a router merges top-ks.
    */
  def mergeHits(shardHits: Seq[Seq[Hit]], k: Int,
                ascending: Boolean = false): Seq[Hit] =
    topK(shardHits.iterator.flatten.map(h => (h.vecId, h.score)), k, ascending)

  /** The generation contract every maintained tier shares. A tier
    * serves one immutable snapshot, published by a single volatile
    * write, so a concurrent refresh is invisible mid-query.
    * [[refresh]] catches the snapshot up with streaming maintenance
    * ([[graft.streaming.EventStreams]]'s upkeep streams add `gen=<g>`
    * directories to the layout): it lists the generations above the
    * highest one already folded (one listing of the layout root, no
    * Spark job); with none it returns 0, otherwise the tier's `fold`
    * reads exactly those generation directories into a new snapshot
    * built beside the served one, the new snapshot is swapped in, and
    * refresh returns the rows it added. The folded generation then
    * advances to the highest one listed, also when none of its rows
    * fell into a shard's part of the layout. A tier loads by folding
    * every generation into its empty snapshot. Refresh is
    * single-writer (the reference's sequential add_document contract).
    */
  private[graft] sealed abstract class Maintained[S] private[PointServe] (
      spark: SparkSession, path: String, empty: S) {
    @volatile protected var snap: S = empty
    private var folded = -1L

    /** `s` plus the rows of generations `gens`; the rows added. */
    protected def fold(s: S, gens: Seq[Long]): (S, Int)

    def refresh(): Int = synchronized {
      val gens = VectorIndex.generations(spark, path).filter(_ > folded)
      if (gens.isEmpty) 0
      else {
        val (next, added) = fold(snap, gens)
        snap = next
        folded = gens.last
        added
      }
    }

    def size: Int
  }

  /** A tier loaded: every generation folded into its empty snapshot. */
  private def loaded[T <: Maintained[_]](tier: T): T = { tier.refresh(); tier }

  /** The rows of a layout's generations `gens`, projected by `select`
    * and decoded by `decode`. No generation — no rows, no Spark job.
    */
  private def genRows[T: scala.reflect.ClassTag](spark: SparkSession, path: String,
                                                 gens: Seq[Long])
                                                (select: DataFrame => DataFrame)
                                                (decode: Row => T): Array[T] =
    VectorIndex.readGenerations(spark, path, gens)
      .fold(Array.empty[T])(l => select(l).collect().map(decode))

  /** The resident cells of the LSH, IVF, PQ and IVF-PQ tiers: cell →
    * (vec_id, payload) members, and the resident row count.
    */
  private[PointServe] final case class Cells[P](
      members: java.util.HashMap[Int, Array[(Long, P)]], rows: Int)

  /** A tier over one resident cell map: an LSH bucket, an IVF or
    * IVF-PQ fine cell, or PQ's one cell that holds every row. `select`
    * projects a generation's rows to (cell INT, vec_id, payload
    * columns…) and `payload` decodes a row's payload; a fold appends
    * each generation's members to their cells.
    */
  private[graft] sealed abstract class CellTier[P] private[PointServe] (
      spark: SparkSession, path: String, select: DataFrame => DataFrame,
      payload: Row => P)
      extends Maintained[Cells[P]](spark, path, Cells(new java.util.HashMap(), 0)) {

    protected def fold(s: Cells[P], gens: Seq[Long]): (Cells[P], Int) = {
      val delta = genRows(spark, path, gens)(select)(r =>
        (r.getInt(0), (r.getLong(1), payload(r))))
      val next = new java.util.HashMap[Int, Array[(Long, P)]](s.members)
      delta.groupBy(_._1).foreach { case (c, rs) =>
        val add = rs.map(_._2)
        next.put(c, Option(next.get(c)).map(_ ++ add).getOrElse(add))
      }
      (Cells(next, s.rows + delta.length), delta.length)
    }

    def size: Int = snap.rows
  }

  private def cellRows(cell: Column, payload: Seq[Column]): DataFrame => DataFrame =
    _.select(cell +: col("vec_id") +: payload: _*)
  private val vecCol = Seq(col("embedding").cast("array<double>"))
  private def vecOf(r: Row): Array[Double] = r.getSeq[Double](2).toArray
  private val codeCols = (0 until VectorSearch.PqM).map(m => col(s"code$m"))
  private def codesOf(r: Row): Array[Int] = Array.tabulate(VectorSearch.PqM)(m => r.getInt(m + 2))

  /** fx4 cosine over the members of the `probe` cells, (score DESC,
    * vec_id ASC) top-k: the LSH and IVF scan. Primitive selection (see
    * PrimTopK): clone-dense probe cells make the candidate set
    * corpus-fraction-sized, where a boxed tuple per cosine dominated
    * the walk (r9 sf1 measure).
    */
  private def cosineScan(cells: java.util.HashMap[Int, Array[(Long, Array[Double])]],
                         probe: Array[Int], qv: Array[Double], k: Int,
                         excludeId: Long): Seq[Hit] = {
    val sel = new PrimTopK(k, ascending = false)
    var c = 0
    while (c < probe.length) {
      val members = cells.get(probe(c))
      if (members != null) {
        var i = 0
        while (i < members.length) {
          val (id, emb) = members(i)
          if (id != excludeId) sel.add(id, fx4(cosine(emb, qv)))
          i += 1
        }
      }
      c += 1
    }
    sel.hits()
  }

  /** The ADC scan of PQ and IVF-PQ, [[VectorIndex.annPqFromIndex]] /
    * `annIvfPqFromIndex` loop-for-loop: per-query ADC table, fx4 ADC
    * distance over the `probe` cells' codes, (dist ASC, vec_id ASC)
    * coarse pool of [[VectorSearch.pqCoarseKFor]] the resident rows —
    * the same n the batch twin resolves its pool from — then exact-L2
    * rescore through `vectorLookup`. With a lookup the result is
    * bit-identical to the batch twin; without one the fx4 ADC ranking
    * is returned as-is (approximate tier).
    */
  private def adcScan(cells: Cells[Array[Int]], probe: Array[Int],
                      books: Array[Array[Array[Double]]], qv: Array[Double], k: Int,
                      excludeId: Long,
                      vectorLookup: Long => Option[Array[Double]]): Seq[Hit] = {
    import VectorSearch.{PqM, PqSubDim}
    val adc = Array.tabulate(PqM, books(0).length) { (m, c) =>
      l2Sq(qv, books(m)(c), m * PqSubDim, PqSubDim, 0)
    }
    // primitive selection: the coarse pool is scale-relative (10^4
    // at sf10) — a boxed tuple per scanned code would dominate
    val sel = new PrimTopK(VectorSearch.pqCoarseKFor(cells.rows.toLong), ascending = true)
    var c = 0
    while (c < probe.length) {
      val members = cells.members.get(probe(c))
      if (members != null) {
        var r = 0
        while (r < members.length) {
          val (id, code) = members(r)
          if (id != excludeId) {
            var dist = 0.0
            var m = 0
            while (m < PqM) { dist += adc(m)(code(m)); m += 1 }
            sel.add(id, fx4(dist))
          }
          r += 1
        }
      }
      c += 1
    }
    val coarse = sel.hits()
    val rescored = coarse.flatMap(h => vectorLookup(h.vecId).map(emb =>
      (h.vecId, fx4(l2Sq(emb, qv, 0, math.min(emb.length, qv.length), 0)))))
    if (rescored.isEmpty) coarse.take(k).zipWithIndex.map {
      case (h, i) => Hit(i + 1, h.vecId, h.score)
    }
    else topK(rescored.iterator, k, ascending = true)
  }

  /** A fine centroid: (cid, cemb, ccid). */
  private type Centroid = (Long, Array[Double], Long)

  /** `<path>_centroids`, the IVF and IVF-PQ routing table. */
  private def readCentroids(spark: SparkSession, path: String): Array[Centroid] =
    spark.read.parquet(path + "_centroids")
      .select(col("cid"), col("cemb"), col("ccid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))

  /** `<path>_books`, m → cid → subvector: one row of PqM
    * array<struct<cid,cemb>> columns; codes index cid-sorted order
    * (annPqFromIndex array_sorts), and cids are the dense 0..PqK-1
    * range by construction.
    */
  private def readBooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    import VectorSearch.PqM
    val bookRow = spark.read.parquet(path + "_books")
      .select((0 until PqM).map(m => col(s"book$m")): _*).collect()(0)
    Array.tabulate(PqM) { m =>
      bookRow.getSeq[Row](m).sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray).toArray
    }
  }

  /** The fine cells an IVF query probes, [[VectorIndex.annIvfFromIndex]]'s
    * selection: the [[VectorSearch.IvfProbeCoarse]] nearest coarse
    * centroids by (L2, cid), then the [[VectorSearch.IvfNprobe]]
    * nearest fine cells inside them.
    */
  private def probeCells(fine: Array[Centroid], qv: Array[Double]): Array[Int] = {
    def nearest(cands: Iterator[Centroid], n: Int): Seq[Long] = cands
      .map { case (cid, cemb, _) => (cid, l2Sq(cemb, qv, 0, math.min(cemb.length, qv.length), 0)) }
      .toSeq.sortBy { case (cid, d) => (d, cid) }
      .take(n).map(_._1)
    val coarseMod = VectorSearch.IvfStride.toLong * VectorSearch.IvfCoarse
    val qcoarse = nearest(fine.iterator.filter(_._1 % coarseMod == 0),
      VectorSearch.IvfProbeCoarse).toSet
    nearest(fine.iterator.filter(f => qcoarse.contains(f._3)), VectorSearch.IvfNprobe)
      .map(_.toInt).toArray
  }

  /** LSH point index: bucket → members with full vectors resident.
    * Query math mirrors [[VectorIndex.annLshFromIndex]] exactly:
    * signature on the same deterministic plane family, XOR multi-probe
    * mask set of [[VectorSearch.LshProbeRadius]], fx4 cosine,
    * (score DESC, vec_id ASC) ranking. A `shard` tier loads and
    * refreshes only the rows of its buckets: the listing still covers
    * every directory, and the read is pruned to the shard's buckets.
    */
  final class Lsh private[PointServe] (spark: SparkSession, path: String,
                                       shard: Option[Set[Int]])
      extends CellTier[Array[Double]](spark, path,
        l => cellRows(col("bucket"), vecCol)(
          shard.fold(l)(s => l.filter(col("bucket").isin(s.toSeq: _*)))), vecOf) {
    private val planes = VectorSearch.lshPlanes(64, VectorSearch.AnnLshPlanes)
    private val masks = VectorSearch.lshProbeMasks(VectorSearch.AnnLshPlanes)

    def query(qv: Array[Double], k: Int = 5, excludeId: Long = -1L): Seq[Hit] = {
      val qbucket = signature(qv, planes).toInt
      cosineScan(snap.members, masks.map(m => qbucket ^ m.toInt), qv, k, excludeId)
    }
  }

  /** Load the LSH layout into memory (builds it first if absent). One
    * Spark job here; zero afterwards.
    */
  def loadLsh(spark: SparkSession, dir: String): Lsh =
    loadLshFrom(spark, VectorIndex.lshIndexReady(spark, dir))

  /** [[loadLsh]] over an explicit layout path (a test copy, a layout
    * built elsewhere) and optionally a bucket shard: a serving node
    * passed `shard` loads (and refreshes) only its own bucket
    * directories; [[mergeHits]] gathers shard answers back into the
    * exact unsharded result.
    */
  def loadLshFrom(spark: SparkSession, path: String,
                  shard: Option[Set[Int]] = None): Lsh =
    loaded(new Lsh(spark, path, shard))

  /** IVF point index: fine-centroid table + cell → members resident.
    * Query math mirrors [[VectorIndex.annIvfFromIndex]]: [[probeCells]],
    * then fx4 cosine over the probed cells, (score DESC, vec_id ASC)
    * top-k.
    */
  final class Ivf private[PointServe] (spark: SparkSession, path: String,
                                       fine: Array[Centroid])
      extends CellTier[Array[Double]](spark, path, cellRows(col("cell"), vecCol), vecOf) {

    def query(qv: Array[Double], k: Int = 20, excludeId: Long = -1L): Seq[Hit] =
      cosineScan(snap.members, probeCells(fine, qv), qv, k, excludeId)
  }

  def loadIvf(spark: SparkSession, dir: String): Ivf =
    loadIvfFrom(spark, VectorIndex.ivfIndexReady(spark, dir))

  def loadIvfFrom(spark: SparkSession, path: String): Ivf =
    loaded(new Ivf(spark, path, readCentroids(spark, path)))

  /** PQ point index: codes + codebook resident (no vectors — the
    * compressed serving shape), all in one cell. Query mirrors
    * [[VectorIndex.annPqFromIndex]]: [[adcScan]] over that cell.
    */
  final class Pq private[PointServe] (spark: SparkSession, path: String,
                                      books: Array[Array[Array[Double]]])
      extends CellTier[Array[Int]](spark, path, cellRows(lit(0), codeCols), codesOf) {

    def query(qv: Array[Double], k: Int = 20, excludeId: Long = -1L,
              vectorLookup: Long => Option[Array[Double]] = _ => None): Seq[Hit] =
      adcScan(snap, Array(0), books, qv, k, excludeId, vectorLookup)
  }

  def loadPq(spark: SparkSession, dir: String): Pq =
    loadPqFrom(spark, VectorIndex.pqIndexReady(spark, dir))

  /** [[loadPq]] over an explicit layout path. */
  def loadPqFrom(spark: SparkSession, path: String): Pq =
    loaded(new Pq(spark, path, readBooks(spark, path)))

  /** IVF-PQ point index — the billion-scale serving shape (FAISS's
    * IndexIVFPQ; the reference's quantized index family): per-cell PQ
    * CODES resident (~10 bytes/vector), fine/coarse centroid tables
    * and the codebook alongside — no vectors. Query mirrors
    * [[VectorIndex.annIvfPqFromIndex]]: [[probeCells]], then
    * [[adcScan]] over ONLY the probed cells' codes.
    */
  final class IvfPq private[PointServe] (spark: SparkSession, path: String,
                                         fine: Array[Centroid],
                                         books: Array[Array[Array[Double]]])
      extends CellTier[Array[Int]](spark, path, cellRows(col("cell"), codeCols), codesOf) {

    def query(qv: Array[Double], k: Int = 10, excludeId: Long = -1L,
              vectorLookup: Long => Option[Array[Double]] = _ => None): Seq[Hit] =
      adcScan(snap, probeCells(fine, qv), books, qv, k, excludeId, vectorLookup)
  }

  /** Load the IVF-PQ layout into memory (builds it first if absent).
    * One Spark job here; zero afterwards.
    */
  def loadIvfPq(spark: SparkSession, dir: String): IvfPq =
    loadIvfPqFrom(spark, VectorIndex.ivfPqIndexReady(spark, dir))

  /** [[loadIvfPq]] over an explicit layout path. */
  def loadIvfPqFrom(spark: SparkSession, path: String): IvfPq =
    loaded(new IvfPq(spark, path, readCentroids(spark, path), readBooks(spark, path)))

  /** Embedded retrieval serving: the reference engine's in-memory
    * query surface (sparse.rs SparseIndex + hybrid.rs fusion served
    * from RAM) over a collected corpus — BM25, token-containment text
    * search, brute-force dense cosine, and RRF hybrid fusion, each
    * bit-identical to its batch twin ([[graft.operators.Bm25.search]] /
    * `textSearch`, [[graft.operators.VectorSearch.semanticTopK]],
    * [[graft.operators.HybridSearch.rrf]]) and answered with zero
    * Spark jobs. Resident state is the inverted tf index + lowercased
    * texts + the flat vector array — the reference's own single-node
    * memory shape; BM25 doubles stay bit-stable in any accumulation
    * order because every df/dl/tf partial is an integer-valued double,
    * and per-doc term sums run in fixed query-term order exactly like
    * the batch sketch reduce.
    */
  final class Embedded private[PointServe] (
      docIds: Array[Long], lowerTexts: Array[String], dls: Array[Long],
      tfs: Array[java.util.HashMap[String, Int]],
      inverted: java.util.HashMap[String, Array[Int]], // term -> doc positions
      invertedTf: java.util.HashMap[String, Array[Int]], // tf aligned to inverted
      denseIds: Array[Long], denseVecs: Array[Array[Double]],
      // CORPUS-global (nDocs, avgdl, per-term df) for a shard view:
      // BM25's idf/avgdl are corpus statistics, and a shard that
      // recomputed them shard-locally would score differently than the
      // unsharded server — distributed search engines broadcast global
      // stats for exactly this reason (the stats are vocabulary-sized,
      // not corpus-sized). None on the unsharded server.
      globalStats: Option[(Int, Double, java.util.HashMap[String, Int])] = None) {

    import graft.operators.Bm25.{B, K1, tokenizeQuery}

    private val nDocs = docIds.length
    private val statN = globalStats.fold(nDocs)(_._1)
    private val avgdl = globalStats.fold(dls.sum.toDouble / nDocs)(_._2)

    // query-independent sparse state, paid ONCE at load: per-(doc,
    // term) TermFreqs fixed-point weights and per-doc squared norms.
    // Recomputing these inside sparse()/moreLike() turned every point
    // lookup over a popular term into a corpus-wide float pass.
    private val weights: Array[java.util.HashMap[String, Long]] = {
      val out = new Array[java.util.HashMap[String, Long]](nDocs)
      var i = 0
      while (i < nDocs) {
        val m = new java.util.HashMap[String, Long](tfs(i).size())
        tfs(i).forEach((t, tf) =>
          m.put(t, math.floor((tf.toDouble / dls(i)) * 1000000L + 0.5).toLong))
        out(i) = m
        i += 1
      }
      out
    }
    private val normsSq: Array[Long] = Array.tabulate(nDocs) { i =>
      var s = 0L
      weights(i).forEach((_, w) => s += w * w)
      s
    }
    // per-term fixed-point weights aligned to `inverted`'s postings —
    // the sparse() hot loop reads a flat long array per term
    private val invertedW: java.util.HashMap[String, Array[Long]] = {
      val out = new java.util.HashMap[String, Array[Long]]()
      inverted.forEach { (t, posting) =>
        val arr = new Array[Long](posting.length)
        var p = 0
        while (p < posting.length) { arr(p) = weights(posting(p)).get(t); p += 1 }
        out.put(t, arr)
      }
      out
    }

    // per-entry BM25 contribution aligned to `inverted`'s postings —
    // idf × tf(K1+1)/(tf + K1(1−B+B·dl/avgdl)) depends only on the
    // (term, doc) pair, so it is paid ONCE at load and the query hot
    // loop becomes a pure add (the same precompute invertedW does for
    // the sparse weights; identical doubles, so bit-parity holds)
    private val invertedC: java.util.HashMap[String, Array[Double]] = {
      val out = new java.util.HashMap[String, Array[Double]]()
      inverted.forEach { (t, posting) =>
        val ptf = invertedTf.get(t)
        // global df under sharding: the shard-local posting is shorter,
        // but idf must be the corpus figure for bit-parity with the
        // unsharded server (same doubles in, same doubles out)
        val df = globalStats.fold(posting.length.toDouble)(_._3.get(t).toDouble)
        val idf = math.log((statN - df + 0.5) / (df + 0.5))
        val arr = new Array[Double](posting.length)
        var p = 0
        while (p < posting.length) {
          val i = posting(p)
          val tf = ptf(p).toDouble
          arr(p) = idf * (tf * (K1 + 1.0)) /
            (tf + K1 * ((1.0 - B) + B * (dls(i) / avgdl)))
          p += 1
        }
        out.put(t, arr)
      }
      out
    }

    /** The `n` lowest-df terms with document frequency in
      * [1, maxDf], ties by term — a deterministic DISCRIMINATIVE
      * query vocabulary for the serving bench's rare-term mix.
      */
    def termsByDf(maxDf: Int, n: Int): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      inverted.forEach { (t, posting) =>
        if (posting.length <= maxDf) buf += ((posting.length, t))
      }
      buf.sortInPlace()(Ordering.Tuple2(Ordering.Int, Ordering.String))
      buf.take(n).map(_._2).toSeq
    }

    /** Estimated resident bytes from the actual structure sizes
      * (primitive payloads + per-entry map/string overheads) — the
      * figure the shard-sizing story quotes: how much of an executor
      * one serving replica of this corpus slice occupies.
      */
    def residentBytes: Long = {
      var b = docIds.length.toLong * 3 * 8 // ids, dls, normsSq
      var i = 0
      while (i < lowerTexts.length) { b += 2L * lowerTexts(i).length + 40; i += 1 }
      i = 0
      while (i < tfs.length) { b += tfs(i).size.toLong * 48 * 2; i += 1 } // tf + weight entries
      val it = inverted.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        // term key once (tf/weight maps share the same String refs)
        // + posting int, tf int, weight long per entry
        b += 2L * e.getKey.length + 40 + e.getValue.length.toLong * 16 + 48
      }
      b += denseIds.length.toLong * 8
      var j = 0
      while (j < denseVecs.length) { b += denseVecs(j).length.toLong * 8 + 16; j += 1 }
      val itW = rawWordPostings.entrySet().iterator()
      while (itW.hasNext) {
        val e = itW.next()
        b += 2L * e.getKey.length + 40 + e.getValue.length.toLong * 4 + 16
      }
      b
    }

    /** Okapi BM25 — [[graft.operators.Bm25.search]] semantics.
      *
      * Accumulates over posting entries instead of candidate×term
      * probes: a candidate absent from a term's posting contributes
      * exactly 0.0 for that term (idf·0/denominator — the batch
      * sketch's zero slot), and each candidate's surviving
      * contributions still add in ascending term order, so the double
      * sum is bit-identical to the per-candidate loop while the work
      * drops from O(candidates × terms) map probes (plus a
      * flatten+distinct allocation) to O(Σ posting lengths).
      */
    // Per-thread dense scoring scratch: the LongMap accumulator paid
    // a hash probe per POSTING ENTRY — at a 10× corpus that is
    // hundreds of thousands of map operations per query, and the sf1
    // serving record measured bm25/sparse collapsing to ~1k QPS (16×
    // under the reference claim) purely on that constant (20.9k QPS
    // after: BENCH_DETAIL.json `serving_sf1`, 32 cores). Dense
    // arrays indexed by doc position make each accumulation one
    // add; generation stamps avoid a per-query zero-fill; the
    // candidate list feeds the same order-independent topK, and the
    // per-doc accumulation order (ascending term index) is unchanged,
    // so results stay bit-identical to the batch twins.
    private final class Scratch(n: Int) {
      val d = new Array[Double](n)
      val l = new Array[Long](n)
      val stamp = new Array[Int](n)
      val touched = new Array[Int](n)
      var nTouched = 0
      private var gen = 0
      def begin(): Unit = {
        if (gen == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); gen = 0 }
        gen += 1; nTouched = 0
      }
      def touch(i: Int): Unit = if (stamp(i) != gen) {
        stamp(i) = gen; touched(nTouched) = i; nTouched += 1
        d(i) = 0.0; l(i) = 0L
      }
      // nested per-term dedup (textSearch credits a doc once per TERM
      // even when several of its words match the term)
      private val stamp2 = new Array[Int](n)
      private var gen2 = 0
      def beginNested(): Unit = {
        if (gen2 == Int.MaxValue) { java.util.Arrays.fill(stamp2, 0); gen2 = 0 }
        gen2 += 1
      }
      def markNested(i: Int): Boolean =
        if (stamp2(i) != gen2) { stamp2(i) = gen2; true } else false
    }
    private val scratch =
      ThreadLocal.withInitial[Scratch](() => new Scratch(nDocs))

    /** Bounded primitive top-k over the scratch's touched set —
      * (score DESC, doc_id ASC), the same total order as [[topK]],
      * with zero boxing: the generic heap allocated a tuple per
      * candidate, which at a corpus-sized candidate set (common-term
      * queries touch most documents) dominated the whole query
      * (measured ~9 ms p50 at sf1 before this). Most candidates fail
      * the single worst-entry comparison; survivors insertion-sort
      * into two k-length primitive arrays.
      */
    private def topKScratch(sc: Scratch, k: Int)(scoreOf: Int => Long): Seq[Hit] = {
      val ss = new Array[Long](k)
      val ids = new Array[Long](k)
      var n = 0
      var t = 0
      while (t < sc.nTouched) {
        val i = sc.touched(t)
        val s = scoreOf(i)
        val d = docIds(i)
        if (n < k || s > ss(n - 1) || (s == ss(n - 1) && d < ids(n - 1))) {
          var pos = if (n < k) n else k - 1
          while (pos > 0 && (s > ss(pos - 1) ||
              (s == ss(pos - 1) && d < ids(pos - 1)))) {
            ss(pos) = ss(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
          }
          ss(pos) = s; ids(pos) = d
          if (n < k) n += 1
        }
        t += 1
      }
      (0 until n).map(r => Hit(r + 1, ids(r), ss(r)))
    }

    def bm25(query: String, k: Int = 20): Seq[Hit] = {
      val terms = tokenizeQuery(query).toArray
      if (terms.isEmpty) return Seq.empty
      val postings = terms.map(t => inverted.getOrDefault(t, Array.empty))
      val sc = scratch.get()
      sc.begin()
      var j = 0
      while (j < terms.length) {
        val posting = postings(j)
        // contributions precomputed per posting entry at load
        // (invertedC) — the hot loop is one add per entry
        val pc = invertedC.getOrDefault(terms(j), Array.empty)
        var p = 0
        while (p < posting.length) {
          val i = posting(p)
          sc.touch(i)
          sc.d(i) += pc(p)
          p += 1
        }
        j += 1
      }
      topKScratch(sc, k)(i => fx6(sc.d(i)))
    }

    // raw whitespace-split word postings (one entry per distinct
    // (word, doc)): a NO-SPACE query term's substring match region can
    // never include a space, so `term is a substring of the text` ≡
    // `term is a substring of some raw word` — which turns textSearch
    // from a corpus×chars scan per query into a VOCABULARY scan
    // (distinct raw words, Zipf-bounded) plus posting walks
    private val rawWordPostings: java.util.HashMap[String, Array[Int]] = {
      val buf = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < nDocs) {
        val seen = new java.util.HashSet[String]()
        lowerTexts(i).split(" ").foreach { w =>
          if (w.nonEmpty && seen.add(w))
            buf.computeIfAbsent(w,
              _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += i
        }
        i += 1
      }
      val out = new java.util.HashMap[String, Array[Int]]()
      buf.forEach((w, b) => out.put(w, b.toArray))
      out
    }

    /** Token-containment text search — `Bm25.textSearch` semantics
      * (substring per term over the raw lowercased text), served from
      * the raw-word vocabulary instead of a full corpus scan.
      */
    def textSearch(query: String, k: Int = 20): Seq[Hit] = {
      val terms = query.toLowerCase.split(" ").toSeq.filter(_.nonEmpty).distinct
      if (terms.isEmpty) return Seq.empty
      val sc = scratch.get()
      sc.begin()
      terms.foreach { t =>
        sc.beginNested()
        val it = rawWordPostings.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey.contains(t)) {
            val posting = e.getValue
            var p = 0
            while (p < posting.length) {
              val i = posting(p)
              if (sc.markNested(i)) { sc.touch(i); sc.l(i) += 1 }
              p += 1
            }
          }
        }
      }
      topKScratch(sc, k)(i => sc.l(i))
    }

    /** Weighted sparse dot-product retrieval — `Bm25.sparseSearch`
      * semantics served from RAM: duplicate query terms merge by
      * coordinate addition (the batch contract), per-doc term weight
      * is the identical TermFreqs fixed-point expression
      * floor((tf/total)·1e6 + 0.5), and the score is the integer
      * Σ weight·w — order-independent, so bit-parity with the batch
      * twin needs no accumulation-order care.
      */
    def sparse(query: Seq[(String, Long)], k: Int = 20): Seq[Hit] = {
      val merged = query.groupMapReduce(_._1)(_._2)(_ + _)
      val sc = scratch.get()
      sc.begin()
      merged.foreach { case (t, w) =>
        val posting = inverted.getOrDefault(t, Array.empty)
        // per-(term,doc) fixed-point weights aligned to the posting —
        // integer sums, so accumulation order can't matter; the flat
        // array replaces a per-doc map probe per entry
        val pw = invertedW.getOrDefault(t, Array.empty)
        var p = 0
        while (p < posting.length) {
          val i = posting(p)
          sc.touch(i)
          sc.l(i) += pw(p) * w
          p += 1
        }
      }
      topKScratch(sc, k)(i => sc.l(i))
    }

    /** Sparse-cosine "more like this" — `Bm25.docSimilar` semantics
      * served from RAM: integer dot products and squared norms over
      * the TermFreqs fixed-point weights, the one float step
      * (dot/√(‖a‖²·‖d‖²)) computed from identical exact integers in
      * the identical IEEE expression order as the batch plan, then
      * fx6 — bit-parity spec-pinned.
      */
    def moreLike(anchorId: Long, k: Int = 10): Seq[Hit] =
      anchorProfile(anchorId).fold(Seq.empty[Hit])(p =>
        moreLikeFrom(p, anchorId, k))

    /** The anchor's sparse profile — its fixed-point weight map and
      * squared norm — if the document is resident here: the state a
      * more-like-this SCATTER ships to sibling shards (per-doc values
      * only; kilobytes, never corpus-shaped).
      */
    def anchorProfile(anchorId: Long)
        : Option[(java.util.HashMap[String, Long], Long)] = {
      val ai = java.util.Arrays.binarySearch(docIds, anchorId)
      if (ai < 0) None else Some((weights(ai), normsSq(ai)))
    }

    /** [[moreLike]] scored from a shipped anchor profile — the
      * sibling-shard half of the scatter: identical math (integer
      * dot products are order-free, the one float step reads the same
      * exact integers), so the anchor need not be resident and
      * [[mergeHits]] over shard answers equals the unsharded result
      * exactly (spec-pinned).
      */
    def moreLikeFrom(profile: (java.util.HashMap[String, Long], Long),
                     anchorId: Long, k: Int = 10): Seq[Hit] = {
      val (aw0, ansq) = profile
      val sc = scratch.get()
      sc.begin()
      aw0.forEach((t, aw) => {
        val posting = inverted.getOrDefault(t, Array.empty)
        val pw = invertedW.getOrDefault(t, Array.empty)
        var p = 0
        while (p < posting.length) {
          val i = posting(p)
          if (docIds(i) != anchorId) {
            sc.touch(i)
            sc.l(i) += pw(p) * aw
          }
          p += 1
        }
      })
      topKScratch(sc, k)(i => fx6(sc.l(i).toDouble /
        math.sqrt(normsSq(i).toDouble * ansq.toDouble)))
    }

    /** Brute-force dense cosine — `VectorSearch.semanticTopK`
      * semantics; primitive loop + selection (corpus-sized scan).
      */
    def semantic(qv: Array[Double], k: Int = 20, excludeId: Long = -1L): Seq[Hit] = {
      val sel = new PrimTopK(k, ascending = false)
      var i = 0
      while (i < denseIds.length) {
        if (denseIds(i) != excludeId)
          sel.add(denseIds(i), fx4(cosine(denseVecs(i), qv)))
        i += 1
      }
      sel.hits()
    }

    /** RRF hybrid fusion — [[graft.operators.HybridSearch.rrf]]:
      * each branch's top-2*limit contributes 1/(60 + rank); per-doc
      * accumulation runs in dense → sparse → text branch order, the
      * same sequence the batch union feeds its aggregate. The dense
      * branch is the brute scan — the bit-parity reference form
      * ([[hybridRrfDense]] swaps in an ANN-served dense branch).
      */
    def hybridRrf(qv: Array[Double], qid: Long, query: String,
                  limit: Int = 20): Seq[Hit] = {
      val n = limit * 2
      hybridRrfDense(semantic(qv, n, excludeId = qid), query, limit)
    }

    /** [[hybridRrf]] with the dense branch supplied by the caller —
      * the reference's own hybrid composes its vector INDEX for the
      * dense side (hybrid.rs fusion over the HNSW searcher), not a
      * corpus-linear brute scan: pass the resident [[Graph]] (or any
      * Hit-contract index) top-2·limit and the fusion, sparse and text
      * branches are unchanged. With the graph branch at its recall
      * floor the fused top-k is recall-bounded the same way
      * (PointServeSpec pins the overlap floor vs the brute form).
      */
    def hybridRrfDense(denseHits: Seq[Hit], query: String,
                       limit: Int = 20): Seq[Hit] = {
      val n = limit * 2
      rrfFuse(Seq(denseHits, bm25(query, n), textSearch(query, n)), limit)
    }

    /** Split the resident corpus into `n` id-hash shards that score
      * with CORPUS-global BM25/sparse statistics: shard s holds the
      * docs (and dense vectors) with id % n == s, while idf, avgdl and
      * corpus size stay the full-corpus figures — so every per-(term,
      * doc) contribution is the exact double the unsharded server
      * computes, and [[mergeHits]] over per-shard answers re-ranks to
      * the IDENTICAL top-k (spec-pinned). This is the scatter-gather
      * serving shape for corpora past one replica's RAM: per-shard
      * query cost is corpus/n-linear, the gather is k·n-sized.
      */
    def shards(n: Int): IndexedSeq[Embedded] = {
      val df = new java.util.HashMap[String, Int]()
      inverted.forEach((t, posting) => df.put(t, posting.length))
      val stats = Some((statN, avgdl, df))
      (0 until n).map { s =>
        val keep = (0 until nDocs).filter(i => docIds(i) % n == s).toArray
        val sInv = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
        val sInvTf = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
        keep.indices.foreach { j =>
          tfs(keep(j)).forEach { (t, tf) =>
            sInv.computeIfAbsent(t, _ => scala.collection.mutable.ArrayBuffer.empty) += j
            sInvTf.computeIfAbsent(t, _ => scala.collection.mutable.ArrayBuffer.empty) += tf
          }
        }
        val sInverted = new java.util.HashMap[String, Array[Int]]()
        sInv.forEach((t, b) => sInverted.put(t, b.toArray))
        val sInvertedTf = new java.util.HashMap[String, Array[Int]]()
        sInvTf.forEach((t, b) => sInvertedTf.put(t, b.toArray))
        val dKeep = denseIds.indices.filter(i => denseIds(i) % n == s).toArray
        new Embedded(keep.map(docIds), keep.map(lowerTexts), keep.map(dls),
          keep.map(tfs), sInverted, sInvertedTf,
          dKeep.map(denseIds), dKeep.map(denseVecs), stats)
      }
    }

    /** Exact-phrase point query — [[graft.operators.Bm25.phraseSearch]]
      * semantics served from the resident lowercased texts: adjacent
      * in-order token runs, (occurrences desc, doc_id asc) ranking.
      * Returns (doc_id, n_occurrences, first_pos) rows, bit-identical
      * to the batch twin (split(" ", -1) mirrors Spark's split, which
      * keeps trailing empties).
      */
    def phrase(query: String, k: Int = 20): Seq[(Long, Long, Long)] = {
      val words = query.toLowerCase.split(" ").filter(_.nonEmpty)
      require(words.length >= 2, "phrase needs at least two tokens")
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var i = 0
      while (i < nDocs) {
        val toks = lowerTexts(i).split(" ", -1)
        var n = 0L
        var first = -1L
        var p = 0
        while (p <= toks.length - words.length) {
          var j = 0
          while (j < words.length && toks(p + j) == words(j)) j += 1
          if (j == words.length) {
            n += 1
            if (first < 0) first = p + 1 // 1-based, batch contract
          }
          p += 1
        }
        if (n > 0) out += ((docIds(i), n, first))
        i += 1
      }
      out.sortBy(t => (-t._2, t._1)).take(k).toSeq
    }
  }

  private def fx6(x: Double): Long = math.floor(x * 1000000L + 0.5).toLong

  /** Load the embedded retrieval tier: collect the documents and
    * embeddings tables (two Spark jobs), build the inverted tf index.
    */
  def loadEmbedded(spark: SparkSession, dir: String): Embedded = {
    import graft.functions.TextFunctions.tokens
    val docRows = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), lower(col("text")), tokens(col("text")))
      .orderBy(col("doc_id"))
      .collect()
    val n = docRows.length
    val docIds = docRows.map(_.getLong(0))
    val lowerTexts = docRows.map(_.getString(1))
    val dls = new Array[Long](n)
    val tfs = new Array[java.util.HashMap[String, Int]](n)
    val inv = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    val invTfB = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < n) {
      val toks = docRows(i).getSeq[String](2)
      dls(i) = toks.size.toLong
      val m = new java.util.HashMap[String, Int]()
      toks.foreach(t => m.merge(t, 1, (a, b) => a + b))
      // posting + aligned tf built AFTER the count so the bm25 hot
      // loop reads a flat int array instead of probing per-doc maps
      val di = i
      m.forEach { (t, tf) =>
        inv.computeIfAbsent(t, _ => scala.collection.mutable.ArrayBuffer.empty) += di
        invTfB.computeIfAbsent(t, _ => scala.collection.mutable.ArrayBuffer.empty) += tf
      }
      tfs(i) = m
      i += 1
    }
    val inverted = new java.util.HashMap[String, Array[Int]]()
    inv.forEach((t, b) => inverted.put(t, b.toArray))
    val invertedTf = new java.util.HashMap[String, Array[Int]]()
    invTfB.forEach((t, b) => invertedTf.put(t, b.toArray))
    val embRows = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy(col("vec_id"))
      .collect()
    new Embedded(docIds, lowerTexts, dls, tfs, inverted, invertedTf,
      embRows.map(_.getLong(0)), embRows.map(_.getSeq[Double](1).toArray))
  }

  /** One resident graph node: vector + neighbor ids nearest-first. */
  private type GraphNodes = java.util.HashMap[Long, (Array[Double], Array[Long])]

  /** Graph point index — the serving twin of the reference's
    * graph-traversal index (index.rs:95-260 greedy-searches an HNSW
    * adjacency held in memory): an NSW-style best-first walk over the
    * graph layout's neighbor lists.
    *
    * Query: seed the frontier with [[GraphEntryPoints]] deterministic
    * entry nodes (lowest vec_ids — id order is stable across loads and
    * refreshes), then repeatedly expand the best unexpanded candidate's
    * neighbor list, keeping a [[GraphEf]]-bounded result set; stop when
    * the best frontier candidate cannot beat the current ef-th result
    * (the standard HNSW layer-0 termination). Scores are the same fx4
    * cosine (score DESC, vec_id ASC) contract as every other server,
    * so [[mergeHits]] composes graph shards with LSH/IVF/PQ shards
    * unchanged. Zero Spark jobs per query; recall floor vs brute force
    * pinned in PointServeSpec.
    *
    * This tier is where an appended node gets its neighbor list (the
    * HNSW insert; add_document in the reference). A fold takes the
    * generations in order: generation 0 lands with the lists
    * [[VectorIndex.buildKnnGraphIndex]] stored, and each node of a
    * later generation, in vec_id order, lists the
    * [[VectorSearch.KnnGraphK]] nodes the query walk finds in the graph
    * as it stood before that generation, and is back-linked from them
    * (lists stored for those generations are ignored). Nodes of one
    * generation are never candidates for each other: a batch of novel
    * nodes would fill each other's lists and leave the batch
    * unreachable from every resident node. A load folds the same way,
    * so it serves what a load of generation 0 and refreshes would.
    * Periodic [[VectorIndex.rebuildIfNeeded]] re-prunes the grown lists.
    */
  final class Graph private[PointServe] (spark: SparkSession, path: String)
      extends Maintained[(GraphNodes, Array[Long])](spark, path,
        (new GraphNodes(), Array.empty[Long])) {

    def query(qv: Array[Double], k: Int = 5, excludeId: Long = -1L): Seq[Hit] =
      walk(snap, qv, k, excludeId)

    /** The best-first walk over a graph's (nodes, entry points). */
    private def walk(graph: (GraphNodes, Array[Long]), qv: Array[Double],
                     k: Int, excludeId: Long): Seq[Hit] = {
      val (nodes, entries) = graph
      if (nodes.isEmpty) return Seq.empty
      val efx = math.max(GraphEf, k)
      // frontier: best-first by (score DESC, id ASC)
      val frontierOrd = Ordering.by[(Long, Long), (Long, Long)](c => (c._2, -c._1))
      val frontier = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](frontierOrd)
      // results: ef-bounded, worst-first on top for O(log ef) eviction
      val worstOrd = Ordering.by[(Long, Long), (Long, Long)](c => (-c._2, c._1))
      val results = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](worstOrd)
      val visited = new java.util.HashSet[java.lang.Long]()
      def push(id: Long): Unit = if (visited.add(id)) {
        val node = nodes.get(id)
        if (node != null) {
          val s = fx4(cosine(node._1, qv))
          frontier.enqueue((id, s))
          results.enqueue((id, s))
          if (results.size > efx + 1) results.dequeue() // +1 absorbs a possible excludeId
        }
      }
      entries.foreach(push)
      while (frontier.nonEmpty) {
        val (cid, cscore) = frontier.dequeue()
        // termination: the best unexpanded candidate cannot improve a
        // FULL result set (score asc, id desc on worst-top)
        val full = results.size > efx
        if (full) {
          val (wid, wscore) = results.head
          if (cscore < wscore || (cscore == wscore && cid > wid)) {
            frontier.clear()
          } else nodes.get(cid)._2.foreach(push)
        } else nodes.get(cid)._2.foreach(push)
      }
      topK(results.iterator.filter(_._1 != excludeId), k)
    }

    protected def fold(s: (GraphNodes, Array[Long]), gens: Seq[Long])
        : ((GraphNodes, Array[Long]), Int) = {
      val delta = readGraphRows(spark, path, gens)
      val next = new GraphNodes(s._1)
      var entries = s._2
      gens.foreach { g =>
        val rows = delta.filter(_._1 == g).sortBy(_._2)
        // every list is walked before any node of generation g lands
        val lists = if (g == 0L) rows.map(_._4) else rows.map(r =>
          walk((next, entries), r._3, VectorSearch.KnnGraphK, r._2).map(_.vecId).toArray)
        rows.zip(lists).foreach { case ((_, id, emb, _), nbrs) =>
          next.put(id, (emb, nbrs))
          if (g > 0L) nbrs.foreach { nb =>
            val t = next.get(nb)
            if (!t._2.contains(id)) next.put(nb, (t._1, t._2 :+ id))
          }
        }
        entries = entryPoints(next)
      }
      ((next, entries), delta.length)
    }

    /** vec_id → neighbor list of the served snapshot. */
    private[graft] def lists: Map[Long, Seq[Long]] = {
      val m = Map.newBuilder[Long, Seq[Long]]
      snap._1.forEach((id, n) => m += id -> n._2.toSeq)
      m.result()
    }

    def size: Int = snap._1.size()

    /** Estimated resident bytes from structure sizes: per node the
      * vector + neighbor-list payload plus map-entry overhead.
      */
    def residentBytes: Long = {
      val (nodes, entries) = snap
      var b = entries.length.toLong * 8
      val it = nodes.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        b += 48 + e.getValue._1.length.toLong * 8 + e.getValue._2.length.toLong * 8
      }
      b
    }
  }

  /** Deterministic entry-point count for the greedy walk; several
    * seeds cover disconnected components of the banded build.
    */
  val GraphEntryPoints = 8

  /** The graph walk's result-set width (HNSW's `ef`). */
  val GraphEf = 48

  private def entryPoints(nodes: GraphNodes): Array[Long] = {
    val ids = new Array[Long](nodes.size())
    var i = 0
    val it = nodes.keySet().iterator()
    while (it.hasNext) { ids(i) = it.next(); i += 1 }
    java.util.Arrays.sort(ids)
    // evenly SPREAD over the sorted id space (not the 8 lowest ids):
    // disconnected banded components cluster by build order, so spread
    // seeds cover far more components for the same walk budget —
    // still fully deterministic
    if (ids.length <= GraphEntryPoints) ids
    else Array.tabulate(GraphEntryPoints)(j => ids(j * (ids.length / GraphEntryPoints)))
  }

  /** (gen, vec_id, emb, neighbors) rows of generations `gens`. */
  private def readGraphRows(spark: SparkSession, path: String, gens: Seq[Long])
      : Array[(Long, Long, Array[Double], Array[Long])] =
    genRows(spark, path, gens)(_.select(col("gen"), col("vec_id"),
      col("embedding").cast("array<double>"), col("neighbors")))(r =>
      (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray, r.getSeq[Long](3).toArray))

  /** Load the graph layout into memory (builds it first if absent).
    * One Spark job here; zero afterwards.
    */
  def loadGraph(spark: SparkSession, dir: String): Graph =
    loadGraphFrom(spark, VectorIndex.knnGraphIndexReady(spark, dir))

  /** [[loadGraph]] over an explicit layout path. */
  def loadGraphFrom(spark: SparkSession, path: String): Graph =
    loaded(new Graph(spark, path))

  /** One near-dup match of a point-served admit/reject probe:
    * `jaccard` is the same fx4 fixed-point BIGINT the batch twin
    * emits.
    */
  final case class DupMatch(idOld: Long, jaccard: Long)

  /** Point-serving state of [[MinhashDedup]]: (band buckets keyed
    * band<<60 | band_key → member doc_ids, doc_id → shingle sketch).
    */
  private type DedupSnap = (java.util.HashMap[Long, Array[Long]],
                            java.util.HashMap[Long, Array[Long]])

  /** MinHash near-dup point index — the serving-tier third of the
    * incremental-dedup split (batch: [[graft.operators.Dedup
    * .minhashIncrementalIndexed]]; streaming upkeep:
    * [[graft.streaming.EventStreams.minhashIndexStream]]; reference
    * sparse.rs:71 add_document, whose dedup gate IS a point operation:
    * one arriving document, admit or reject, now). Loads the persisted
    * band layout once (band buckets + companion `_sh` shingle
    * sketches), then answers "which existing documents is this text a
    * near-duplicate of" in plain JVM microseconds with ZERO Spark
    * jobs.
    *
    * Query math replays the batch probe kernel-for-kernel — the SAME
    * JVM kernels ([[graft.functions.expressions.ShingleHashes]] /
    * [[graft.functions.expressions.MinHashSig]] /
    * [[graft.functions.expressions.PairOverlap]]) the Catalyst
    * expressions codegen into, the band key as `Tok.hash60` of the
    * identical "band,sig..." rendering, the corpus-side-only
    * [[graft.operators.Dedup.MaxBucket]] cap counted over
    * non-excluded members, and fx4 Jaccard with the batch's
    * (threshold × 1e4).toLong gate — so a served probe is
    * BIT-IDENTICAL to the batch rows for that document
    * (PointServeSpec asserts it per batch doc).
    *
    * Memory contract: band buckets are (key → id array) and sketches
    * are the per-doc distinct-shingle hash arrays — both a small
    * fraction of corpus text (the sketches are the same `_sh` relation
    * the batch verify reads). At 100 TB the layout's (band, bkt)
    * directories shard across serving nodes exactly like the LSH
    * buckets, each node loading its directories' bands plus the
    * sketches its buckets reference.
    *
    * The folded generations are the BAND layout's — the upkeep's
    * commit point, written after the generation's sketches — and a
    * fold reads the sketches of exactly those generations, so a refresh
    * racing the upkeep's two appends never serves a band whose verify
    * sketch is missing.
    */
  final class MinhashDedup private[PointServe] (
      spark: SparkSession, path: String, shard: Option[Set[Int]])
      extends Maintained[DedupSnap](spark, path,
        (new java.util.HashMap(), new java.util.HashMap())) {
    import graft.functions.expressions.{MinHashSig, PairOverlap, ShingleHashes, Tok}
    import graft.operators.Dedup

    /** Near-dup matches of `text` against the resident corpus, id
      * order; empty = admit. `exclude` drops corpus docs from both
      * candidacy and the bucket cap (the batch entry's increment
      * filter, an already-deleted doc, the doc's own prior version).
      */
    def query(text: String, threshold: Double = 0.5,
              exclude: Long => Boolean = null): Seq[DupMatch] = {
      val (buckets, sketches) = snap
      val shAd = ShingleHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), 3, Dedup.P)
      val sigAd = MinHashSig.compute(shAd, Dedup.NumHashes, Dedup.P)
      if (sigAd == null) return Nil // <3 tokens: no bands, admit (batch parity)
      val sig = sigAd.toLongArray()
      val cand = new java.util.TreeSet[java.lang.Long]()
      var b = 0
      while (b < Dedup.NumBands) {
        val sb = new java.lang.StringBuilder()
        sb.append(b)
        var r = 0
        while (r < Dedup.BandRows) {
          sb.append(',').append(sig(b * Dedup.BandRows + r))
          r += 1
        }
        val members = buckets.get((b.toLong << 60) | Tok.hash60(sb.toString))
        if (members != null) {
          var live = 0
          var i = 0
          while (i < members.length) {
            if (exclude == null || !exclude(members(i))) live += 1
            i += 1
          }
          // corpus-side-only cap: a boilerplate mega-bucket is skipped
          // whole, exactly the batch window-count gate
          if (live <= Dedup.MaxBucket) {
            i = 0
            while (i < members.length) {
              if (exclude == null || !exclude(members(i))) cand.add(members(i))
              i += 1
            }
          }
        }
        b += 1
      }
      val thr = (threshold * 1e4).toLong
      val out = Seq.newBuilder[DupMatch]
      cand.forEach { id =>
        val sh2 = sketches.get(id.longValue)
        if (sh2 != null) {
          val inter = PairOverlap.compute(shAd,
            new org.apache.spark.sql.catalyst.util.GenericArrayData(sh2)).toDouble
          val jac = fx4(inter /
            (shAd.numElements().toLong + sh2.length.toLong - inter))
          if (jac >= thr) out += DupMatch(id, jac)
        }
      }
      out.result()
    }

    /** The ingestion gate itself: true = no near-duplicate resident,
      * admit the document.
      */
    def admit(text: String, threshold: Double = 0.5): Boolean =
      query(text, threshold).isEmpty

    /** Band rows and the sketches of generations `gens`; the band
      * rows added.
      */
    protected def fold(s: DedupSnap, gens: Seq[Long]): (DedupSnap, Int) = {
      val bands = readBandRows(spark, path, gens, shard)
      val sketches = readSketchRows(spark, path + "_sh",
        VectorIndex.generations(spark, path + "_sh").filter(gens.contains),
        shard.map(_ => bands.map(_._2)))
      val nb = new java.util.HashMap[Long, Array[Long]](s._1)
      bands.groupBy(_._1).foreach { case (key, rs) =>
        val add = rs.map(_._2)
        nb.put(key, Option(nb.get(key)).map(_ ++ add).getOrElse(add))
      }
      val ns = new java.util.HashMap[Long, Array[Long]](s._2)
      sketches.foreach { case (id, sh) => ns.put(id, sh) }
      ((nb, ns), bands.length)
    }

    /** Resident corpus size (sketch count). */
    def size: Int = snap._2.size()

    /** Estimated resident bytes from structure sizes: bucket member
      * arrays + shingle sketches plus map-entry overheads.
      */
    def residentBytes: Long = {
      val (buckets, sketches) = snap
      var b = 0L
      val it = buckets.entrySet().iterator()
      while (it.hasNext) { b += 48 + it.next().getValue.length.toLong * 8 }
      val it2 = sketches.entrySet().iterator()
      while (it2.hasNext) { b += 48 + it2.next().getValue.length.toLong * 8 }
      b
    }
  }

  /** (band<<60 | band_key, doc_id) rows of generations `gens`. A
    * `shard` restriction filters on the layout's `bkt` partition
    * column: the listing covers every directory, and only the read is
    * pruned to the shard's sub-buckets.
    */
  private def readBandRows(spark: SparkSession, path: String, gens: Seq[Long],
                           shard: Option[Set[Int]]): Array[(Long, Long)] =
    genRows(spark, path, gens) { l =>
      shard.fold(l)(s => l.filter(col("bkt").isin(s.toSeq: _*)))
        .select(col("band").cast("long"), col("band_key"), col("doc_id"))
    }(r => ((r.getLong(0) << 60) | r.getLong(1), r.getLong(2)))

  /** (doc_id, shingle sketch) rows of generations `gens` of the
    * companion `_sh` relation. `forDocs` restricts to the given ids (a
    * shard loads only the sketches its band rows reference — the
    * memory contract that lets the sketch side scale out with the
    * shards); no ids, no rows and no Spark job.
    */
  private def readSketchRows(spark: SparkSession, path: String, gens: Seq[Long],
                             forDocs: Option[Array[Long]]): Array[(Long, Array[Long])] =
    genRows(spark, path, if (forDocs.exists(_.isEmpty)) Nil else gens) { l =>
      val base = l.select(col("doc_id"), col("sh"))
      forDocs.fold(base) { ids =>
        val idRel = spark.createDataFrame(
          spark.sparkContext.parallelize(ids.distinct.toSeq.map(Tuple1(_)), 1)
            .map(t => Row(t._1)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType, nullable = false))))
        base.join(broadcast(idRel), Seq("doc_id"), "left_semi")
      }
    }(r => (r.getLong(0), r.getSeq[Long](1).toArray))

  /** Scatter-gather merge for shard-scattered dedup probes: bucket
    * membership partitions by the layout's (band, bkt) directory, a
    * (band, band_key) bucket lives wholly inside one directory (so
    * every shard's cap decision equals the unsharded one), and a
    * candidate surfacing on several shards computes the identical
    * exact Jaccard — the union deduplicated by id, re-sorted, IS the
    * unsharded answer (spec-proven).
    */
  def mergeDupMatches(shardMatches: Seq[Seq[DupMatch]]): Seq[DupMatch] =
    shardMatches.flatten.distinct.sortBy(_.idOld)

  /** Load the MinHash band layout into memory (builds it first if
    * absent). One Spark job here; zero afterwards.
    */
  def loadMinhashDedup(spark: SparkSession, dir: String): MinhashDedup =
    loadMinhashDedupFrom(spark, VectorIndex.minhashIndexReady(spark, dir))

  /** [[loadMinhashDedup]] over an explicit layout path, optionally
    * restricted to a `bkt`-directory shard: a serving node passed
    * `shard` loads (and refreshes) only its own sub-bucket directories
    * plus the sketches they reference; [[mergeDupMatches]] gathers
    * shard answers back into the exact unsharded result.
    */
  def loadMinhashDedupFrom(spark: SparkSession, path: String,
                           shard: Option[Set[Int]] = None): MinhashDedup =
    loaded(new MinhashDedup(spark, path, shard))

  /** DSIR data-selection point scorer — the serving third of the
    * [[graft.operators.Curation.dsirWeights]] split (batch: the full
    * corpus report; online upkeep: [[Dsir.observe]]). Resident state
    * is the two hashed-ngram bucket-count tables — `2 ×
    * [[graft.operators.Curation.DsirBuckets]]` longs, a few KB at ANY
    * corpus size, the whole point of hashed features — so one scorer
    * fits in every ingestion worker and answers "how target-like is
    * this arriving document" in JVM microseconds with zero Spark jobs.
    *
    * [[Dsir.score]] replays the batch kernels: [[graft.functions
    * .expressions.Tok.tokens]] / `Tok.hash60 % B` are the exact JVM
    * twins the Catalyst expressions codegen into, and the per-bucket
    * log-ratio is fx4'd BEFORE the integer sum — so a served score is
    * BIT-IDENTICAL to the batch row for the same document
    * (PointServeSpec asserts it per corpus doc).
    *
    * [[Dsir.observe]] folds one arriving document into the resident
    * counts (integer adds — order-free, so any observation order over
    * the same docs lands the identical table, spec-pinned against the
    * batch-loaded counts) and rebuilds the ≤B-entry score table —
    * the online form of the distribution upkeep a streaming ingest
    * would run.
    */
  final class Dsir private[PointServe] (
      private val raw: Array[Long], private val tgt: Array[Long],
      private var totr: Long, private var tott: Long) {
    import graft.functions.expressions.Tok
    import graft.operators.Curation.DsirBuckets

    @volatile private var table: Array[Long] = rebuild()

    private def rebuild(): Array[Long] = {
      val B = DsirBuckets
      val t = new Array[Long](B)
      var b = 0
      while (b < B) {
        t(b) = fx4(math.log(
          ((tgt(b) + 1).toDouble * (totr + B).toDouble) /
            ((raw(b) + 1).toDouble * (tott + B).toDouble)))
        b += 1
      }
      t
    }

    /** Hashed unigram+bigram bucket per gram — batch gram derivation
      * (`toks ++ wordShingles(toks, 2)`), order irrelevant to the sum.
      */
    private def buckets(text: String): Array[Int] = {
      val B = DsirBuckets
      val toks = Tok.tokens(text)
      val n = toks.size
      val out = new Array[Int](if (n >= 2) 2 * n - 1 else n)
      var i = 0
      while (i < n) {
        out(i) = (Tok.hash60(toks.get(i)) % B).toInt
        i += 1
      }
      var j = 0
      while (j < n - 1) {
        out(n + j) = (Tok.hash60(toks.get(j) + " " + toks.get(j + 1)) % B).toInt
        j += 1
      }
      out
    }

    /** (n_feats, weight_fx) of one document against the resident
      * distributions — the batch row, served.
      */
    def score(text: String): (Long, Long) = {
      val t = table
      val bs = buckets(text)
      var w = 0L
      var i = 0
      while (i < bs.length) { w += t(bs(i)); i += 1 }
      (bs.length.toLong, w)
    }

    /** Selection gate: admit iff the document scores at least
      * `minPerFeatFx` fx-units per feature (importance resampling's
      * acceptance test with a fixed threshold).
      */
    def admit(text: String, minPerFeatFx: Long): Boolean = {
      val (n, w) = score(text)
      n > 0 && w >= minPerFeatFx * n
    }

    /** Fold one arriving document into the resident counts and rebuild
      * the score table. Integer adds — observation order never changes
      * the resulting state.
      */
    def observe(text: String, isTarget: Boolean): Unit = synchronized {
      val bs = buckets(text)
      var i = 0
      while (i < bs.length) {
        raw(bs(i)) += 1
        if (isTarget) tgt(bs(i)) += 1
        i += 1
      }
      totr += bs.length
      if (isTarget) tott += bs.length
      table = rebuild()
    }

    /** (raw total, target total) gram mass resident. */
    def totals: (Long, Long) = synchronized { (totr, tott) }

    /** Resident bytes: three B-long tables — a few KB at ANY corpus
      * size, the whole point of hashed features.
      */
    def residentBytes: Long = 3L * DsirBuckets * 8 + 16
  }

  /** Load the DSIR bucket-count tables from the corpus (one Spark
    * aggregate; zero jobs afterwards).
    */
  def loadDsir(spark: SparkSession, dir: String): Dsir = {
    val (raw, tgt) = graft.operators.Curation.dsirCounts(spark, dir)
    new Dsir(raw, tgt, raw.sum, tgt.sum)
  }

  /** An empty scorer (nothing resident) for pure-online use: observe
    * documents as they arrive; after the same documents in any order
    * its state equals [[loadDsir]]'s batch-loaded one.
    */
  def emptyDsir(): Dsir = {
    val B = graft.operators.Curation.DsirBuckets
    new Dsir(new Array[Long](B), new Array[Long](B), 0L, 0L)
  }

  /** BPE tokenize-and-count point server — the serving-tier form of
    * [[graft.operators.TextAnalysis.bpeTokenCount]]: the learned
    * merge table (the trained-tokenizer artifact, O(rounds)) is
    * resident, and `count(text)` answers (n_words, n_bpe_tokens) in
    * plain JVM microseconds with ZERO Spark jobs, bit-identical to
    * the batch row for that document. Completes the ingestion-gate
    * trio with [[MinhashDedup]] (admit) and [[Dsir]] (select): an
    * arriving document is admitted, scored and budget-counted
    * entirely in the point tier.
    *
    * Segmentation replays the batch semantics exactly: per word,
    * start from characters and apply each merge in RANK ORDER as one
    * greedy left-to-right non-overlapping pass — the proven
    * equivalent of the batch's spaced-string replace (and of the
    * DuckDB twin). Distinct-word results are memoized; the memo is
    * Zipf-bounded by the same argument the batch word-table
    * compression rides. Merges are a trained artifact — a served
    * document never mutates them, so there is nothing to refresh.
    */
  /** Default [[Bpe]] memo insert bound: the Zipf argument bounds the
    * HOT vocabulary, not the total one (Heaps' law keeps minting rare
    * words), so an unbounded memo leaks under a growing or adversarial
    * stream. Past the cap, new words are computed but not cached —
    * entries are pure recomputable values, so correctness is untouched
    * and the resident bound is hard.
    */
  val BpeMemoMaxWords = 1 << 20

  final class Bpe private[graft] (
      private val merges: Array[(String, String)],
      private val pid: java.util.HashMap[String, Long],
      memoMax: Int = BpeMemoMaxWords) {
    import graft.functions.expressions.Tok

    private val memo = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

    /** Segment one word (greedy rank-order merge application — the
      * proven equivalent of the batch replace) and resolve piece ids.
      * An id of -1 marks a piece outside the trained vocabulary: a
      * NOVEL character the training corpus never saw (the standard
      * unk signal; corpus words can never produce it).
      */
    private def wordIds(word: String): Array[Long] = {
      val hit = memo.get(word)
      if (hit != null) hit
      else {
        var syms = new java.util.ArrayList[String](word.length)
        var c = 0
        while (c < word.length) { syms.add(word.substring(c, c + 1)); c += 1 }
        var m = 0
        while (m < merges.length) {
          val l = merges(m)._1
          val r = merges(m)._2
          val out = new java.util.ArrayList[String](syms.size())
          var j = 0
          while (j < syms.size()) {
            if (j < syms.size() - 1 && syms.get(j) == l && syms.get(j + 1) == r) {
              out.add(l + r); j += 2
            } else { out.add(syms.get(j)); j += 1 }
          }
          syms = out
          m += 1
        }
        val ids = new Array[Long](syms.size())
        var k = 0
        while (k < ids.length) { ids(k) = pid.getOrDefault(syms.get(k), -1L); k += 1 }
        if (memo.size() < memoMax) memo.put(word, ids)
        ids
      }
    }

    /** (n_words, n_bpe_tokens) of one document — the batch row,
      * served. A document with no qualifying tokens returns (0, 0)
      * (the batch inner join emits no row for it).
      */
    def count(text: String): (Long, Long) = {
      val toks = Tok.tokens(text)
      var n = 0L
      var b = 0L
      var i = 0
      while (i < toks.size()) { n += 1L; b += wordIds(toks.get(i)).length; i += 1 }
      (n, b)
    }

    /** Token-id sequence of the first `maxWords` words — the batch
      * [[graft.operators.TextAnalysis.bpeEncode]] row, served (same
      * tokenizer-convention id space, same order).
      */
    def encode(text: String,
               maxWords: Int = graft.operators.TextAnalysis.EncodeWords): Array[Long] = {
      val toks = Tok.tokens(text)
      val n = math.min(toks.size(), maxWords)
      val out = new java.util.ArrayList[Long](n * 4)
      var i = 0
      while (i < n) {
        val ids = wordIds(toks.get(i))
        var j = 0
        while (j < ids.length) { out.add(ids(j)); j += 1 }
        i += 1
      }
      val arr = new Array[Long](out.size())
      var k = 0
      while (k < arr.length) { arr(k) = out.get(k); k += 1 }
      arr
    }

    /** Resident bytes: merge table + id table + the memoized word
      * cache — KBs against any corpus (the model is
      * O(alphabet + rounds), the memo is O(vocabulary)).
      */
    def residentBytes: Long = {
      var b = 16L
      merges.foreach { case (l, r) => b += 2L * (l.length + r.length) + 48L }
      val pit = pid.keySet().iterator()
      while (pit.hasNext) { b += 2L * pit.next().length + 64L }
      val it = memo.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        b += 2L * e.getKey.length + 8L * e.getValue.length + 72L
      }
      b
    }
  }

  /** Train (or re-derive) the full tokenizer artifact — merge table
    * plus piece-id vocabulary — with the batch loop (one
    * bounded-table Spark aggregate per round plus one alphabet
    * collect), then serve with zero jobs per query.
    */
  def loadBpe(spark: SparkSession, dir: String): Bpe = {
    val (merges, pid, _) = graft.operators.TextAnalysis.bpeModel(spark, dir)
    val pm = new java.util.HashMap[String, Long]()
    pid.foreach { case (p, i) => pm.put(p, i) }
    new Bpe(merges.map { case (_, l, r, _) => (l, r) }.toArray, pm)
  }
}
