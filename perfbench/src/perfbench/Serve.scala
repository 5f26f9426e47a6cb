package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import graft.Tables
import graft.sources.{PointServe, ReplicaRouter, Router, VectorIndex}
import graft.sources.PointServe.Hit
import org.apache.spark.sql.functions.{col, length}

/** The resident serving tiers over one corpus, behind a 3-handle
  * router, plus a 4-shard split for the scatter-gather op. The tiers
  * load side by side.
  */
final class Tiers(ctx: Ctx, val layouts: Map[String, String]) {
  import Trace.{async, await}
  private val spark = ctx.spark
  private val fEmb = async("load.embedded") { PointServe.loadEmbedded(spark, ctx.data) }
  private val fGraph = async("load.graph") { PointServe.loadGraphFrom(spark, layouts("graph")) }
  private val fLsh = async("load.lsh") { PointServe.loadLshFrom(spark, layouts("lsh")) }
  private val fIvf = async("load.ivf") { PointServe.loadIvfFrom(spark, layouts("ivf")) }
  private val fPq = async("load.pq") { PointServe.loadPqFrom(spark, layouts("pq")) }
  private val fIvfPq = async("load.ivfpq") { PointServe.loadIvfPqFrom(spark, layouts("ivfpq")) }
  private val fDedup = async("load.minhash") { PointServe.loadMinhashDedupFrom(spark, layouts("minhash")) }
  val emb: PointServe.Embedded = await(fEmb)
  val graph: PointServe.Graph = await(fGraph)
  val lsh: PointServe.Lsh = await(fLsh)
  val ivf: PointServe.Ivf = await(fIvf)
  val pq: PointServe.Pq = await(fPq)
  val ivfpq: PointServe.IvfPq = await(fIvfPq)
  val dedup: PointServe.MinhashDedup = await(fDedup)
  val shards: IndexedSeq[PointServe.Embedded] = Trace.span("load.shards") { emb.shards(4) }
  val router = new ReplicaRouter[PointServe.Embedded](IndexedSeq(emb, emb, emb), Router.LoadBased)

  def residentBytes: Long = emb.residentBytes + graph.residentBytes + dedup.residentBytes
}

object Tiers {
  /** Build every layout the tiers read, side by side; returns the
    * paths by kind.
    */
  def buildLayouts(ctx: Ctx): Map[String, String] = {
    val (s, d) = (ctx.spark, ctx.data)
    Seq[(String, () => String)](
      "graph" -> (() => VectorIndex.knnGraphIndexReady(s, d)),
      "lsh" -> (() => VectorIndex.lshIndexReady(s, d)),
      "ivf" -> (() => VectorIndex.ivfIndexReady(s, d)),
      "pq" -> (() => VectorIndex.pqIndexReady(s, d)),
      "ivfpq" -> (() => VectorIndex.ivfPqIndexReady(s, d)),
      "minhash" -> (() => VectorIndex.minhashIndexReady(s, d))
    ).map { case (k, f) => k -> Trace.async(s"index.$k")(f()) }
      .map { case (k, f) => k -> Trace.await(f) }.toMap
  }
}

/** The serving op mix: eleven equally likely ops, each over one of
  * [[Params]] seeded parameter sets, answered from [[Tiers]]. Each op
  * returns its answer so a caller can compare it with the
  * single-threaded answer.
  */
final class OpMix(ctx: Ctx, t: Tiers, seed: Long) {
  import OpMix._
  private val rng = new SplittableRandom(seed)
  private def pick[A](xs: IndexedSeq[A], n: Int): IndexedSeq[A] =
    IndexedSeq.fill(n)(xs(rng.nextInt(xs.length)))

  private val vecRows = Tables.embeddings(ctx.spark, ctx.data)
    .select(col("vec_id"), col("embedding").cast("array<double>"))
    .orderBy(col("vec_id")).collect()
  private val qs = pick(vecRows.toIndexedSeq, Params)
  val qIds: IndexedSeq[Long] = qs.map(_.getLong(0))
  val qVecs: IndexedSeq[Array[Double]] = qs.map(_.getSeq[Double](1).toArray)
  // common terms: the corpus's most frequent; rare: document frequency <= 20
  private val byDf = t.emb.termsByDf(Int.MaxValue, Int.MaxValue).toIndexedSeq
  private val common = byDf.takeRight(24)
  private val rare = t.emb.termsByDf(20, 64).toIndexedSeq
  val texts: IndexedSeq[String] = IndexedSeq.fill(Params)(pick(common, 3).mkString(" "))
  val rareTexts: IndexedSeq[String] =
    if (rare.length >= 2) IndexedSeq.fill(Params)(pick(rare, 2).mkString(" ")) else texts
  val sparseQs: IndexedSeq[Seq[(String, Long)]] =
    texts.map(_.split(" ").toSeq.zipWithIndex.map { case (w, i) => (w, (i + 1).toLong) })
  private val docRows = Tables.documents(ctx.spark, ctx.data)
    .where(length(col("text")) > 200).select(col("doc_id"), col("text"))
    .orderBy(col("doc_id")).collect()
  val anchors: IndexedSeq[Long] = pick(docRows.toIndexedSeq, Params).map(_.getLong(0))
  // half resident texts (the gate rejects), half novel (admits)
  val probes: IndexedSeq[String] =
    pick(docRows.toIndexedSeq, Params / 2).map(_.getString(1)) ++
      IndexedSeq.tabulate(Params / 2)(i =>
        (0 until 60).map(w => s"novel${seed}p${i}w$w").mkString(" "))

  def run(op: Int, p: Int): Any = {
    val qv = qVecs(p); val qid = qIds(p); val text = texts(p)
    Ops(op) match {
      case "hybrid_rrf" =>
        Trace.span("route") { t.router.route { e =>
          if (!Trace.on) e.hybridRrf(qv, qid, text, 10)
          else {
            // the public parts of hybridRrfDense, in its order
            val d = Trace.span("branch.semantic") { e.semantic(qv, 20, excludeId = qid) }
            val b = Trace.span("branch.bm25") { e.bm25(text, 20) }
            val x = Trace.span("branch.text") { e.textSearch(text, 20) }
            Trace.span("fuse") { PointServe.rrfFuse(Seq(d, b, x), 10) }
          }
        } }
      case "hybrid_rrf_ann" =>
        Trace.span("route") { t.router.route { e =>
          val d = Trace.span("branch.graph") { t.graph.query(qv, k = 20, excludeId = qid) }
          Trace.span("branch.hybrid_dense") { e.hybridRrfDense(d, text, 10) }
        } }
      case "hybrid_s4" =>
        val n = 20
        def gather(hs: => Seq[Seq[Hit]]): Seq[Hit] = { val h = hs; Trace.span("gather") { PointServe.mergeHits(h, n) } }
        val d = gather(Trace.span("branch.semantic") { t.shards.map(_.semantic(qv, n, excludeId = qid)) })
        val b = gather(Trace.span("branch.bm25") { t.shards.map(_.bm25(text, n)) })
        val x = gather(Trace.span("branch.text") { t.shards.map(_.textSearch(text, n)) })
        Trace.span("fuse") { PointServe.rrfFuse(Seq(d, b, x), 10) }
      case "bm25" =>
        Trace.span("route") { t.router.route(e => Trace.span("branch.bm25") { e.bm25(text, 10) }) }
      case "bm25_rare" =>
        Trace.span("route") { t.router.route(e => Trace.span("branch.bm25") { e.bm25(rareTexts(p), 10) }) }
      case "sparse" =>
        Trace.span("route") { t.router.route(e => Trace.span("branch.sparse") { e.sparse(sparseQs(p), 10) }) }
      case "more_like" =>
        Trace.span("route") { t.router.route(e => Trace.span("branch.more_like") { e.moreLike(anchors(p), 10) }) }
      case "dense_graph" => t.graph.query(qv, k = 5)
      case "ivf" => t.ivf.query(qv, k = 10)
      case "pq" => t.pq.query(qv, k = 20)
      case "dedup_admit" => t.dedup.admit(probes(p))
    }
  }

  /** The single-threaded answer of every (op, param) pair. The
    * scatter-gather op's reference is the unsharded hybrid.
    */
  val expected: Array[Array[Any]] = Array.tabulate(Ops.length, Params) { (op, p) =>
    if (Ops(op) == "hybrid_s4") t.emb.hybridRrf(qVecs(p), qIds(p), texts(p), 10)
    else run(op, p)
  }
}

object OpMix {
  val Ops: IndexedSeq[String] = IndexedSeq("hybrid_rrf", "hybrid_rrf_ann", "hybrid_s4",
    "bm25", "bm25_rare", "sparse", "more_like", "dense_graph", "ivf", "pq", "dedup_admit")
  /** Parameter sets per op: enough that a seed's draw of queries
    * averages out.
    */
  val Params = 64
}

/** Samples of a closed loop: per completed op, its op index, start
  * (relative to the loop's start) and latency.
  */
final class Load(nOps: Int) {
  private val parts = new java.util.concurrent.ConcurrentLinkedQueue[(Array[Int], Array[Long], Array[Long])]()
  val done = new AtomicLong
  val wrong = new AtomicLongArray(nOps)
  val errors = new AtomicLong
  @volatile var t0 = 0L

  /** Closed loop: each of `threads` clients issues its next op when the
    * previous one has returned, until `stop` says so. `check` compares
    * an answer outside the timed interval.
    */
  def run(threads: Int, seed: Long, stop: () => Boolean,
          op: (Int, Int) => Any, check: (Int, Int, Any) => Boolean): Unit = {
    t0 = System.nanoTime()
    val ts = (0 until threads).map { ti =>
      new Thread(() => {
        val rng = new SplittableRandom(seed * 1000003L + ti)
        val ops = new scala.collection.mutable.ArrayBuilder.ofInt
        val starts, lats = new scala.collection.mutable.ArrayBuilder.ofLong
        while (!stop()) {
          val o = rng.nextInt(nOps); val p = rng.nextInt(OpMix.Params)
          val s = System.nanoTime()
          try {
            val a = Trace.span("op") { op(o, p) }
            ops += o; starts += s - t0; lats += System.nanoTime() - s
            if (!check(o, p, a)) wrong.incrementAndGet(o)
          } catch { case _: Throwable => errors.incrementAndGet() }
          done.incrementAndGet()
        }
        parts.add((ops.result(), starts.result(), lats.result()))
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** Sorted latencies of the samples `keep` selects by (op, start). */
  private def select(keep: (Int, Long) => Boolean): Array[Long] = {
    val b = new scala.collection.mutable.ArrayBuilder.ofLong
    parts.forEach { case (ops, starts, lats) =>
      var i = 0
      while (i < ops.length) { if (keep(ops(i), starts(i))) b += lats(i); i += 1 }
    }
    val r = b.result(); java.util.Arrays.sort(r); r
  }

  def samples(o: Int): Array[Long] = select((op, _) => op == o)

  /** The loop cut into `n` equal slices by start time over `wallS`
    * seconds: each slice's sorted latencies.
    */
  def slices(n: Int, wallS: Double): IndexedSeq[Array[Long]] = {
    val w = (wallS * 1e9 / n).toLong
    (0 until n).map(k => select((_, s) => s / w == k))
  }
}

object Serve {
  /** Closed-loop seconds before the measured window, so the window
    * measures compiled code.
    */
  val WarmupS = 2.0

  /** Closed-loop clients: one per core but one, which is left to the
    * JVM's compiler and collector threads. With a client on every core
    * those threads preempt clients mid-op, and the p99 of every op
    * longer than ~0.1 ms read one scheduler time slice (~4 ms).
    */
  def Clients(cores: Int): Int = math.max(1, cores - 1)

  /** Slices of the measured window the end-to-end figures are medians
    * over.
    */
  val Slices = 6

  /** Closed loop of [[Clients]] clients over `mix` for `seconds`,
    * every answer checked against the single-threaded one. In a traced
    * run the second half of the window is traced, and the two halves'
    * throughput gives the tracing overhead.
    */
  def measure(ctx: Ctx, res: Result, mix: OpMix, seconds: Double): Unit = {
    val tracing = Trace.on
    def window(secs: Double): (Load, Double) = {
      val l = new Load(OpMix.Ops.length)
      val end = System.nanoTime() + (secs * 1e9).toLong
      l.run(Clients(ctx.cores), ctx.seed, () => System.nanoTime() >= end,
        mix.run, (o, p, a) => a == mix.expected(o)(p))
      (l, (System.nanoTime() - l.t0) / 1e9)
    }
    Trace.on = false
    val warm = window(WarmupS)._1
    count(res, warm, " in warm-up")
    val (load, wall) = window(if (tracing) seconds / 2 else seconds)
    if (tracing) {
      Trace.on = true
      val (tl, twall) = window(seconds / 2)
      res.put("trace.overhead_ratio", (load.done.get / wall) / (tl.done.get / twall), "ratio")
      count(res, tl, "")
    }
    val all = count(res, load, "")
    OpMix.Ops.indices.foreach { o =>
      res.put(s"serve.${OpMix.Ops(o)}.p50_ms", Main.pctMs(all(o), 0.5), "ms")
      res.put(s"serve.${OpMix.Ops(o)}.p99_ms", Main.pctMs(all(o), 0.99), "ms")
    }
    // medians over slices of the window, so that a burst of outside
    // load in part of it does not set the run's figure
    val slices = load.slices(Slices, wall)
    res.put("op_p50_ms", Main.median(slices.map(Main.pctMs(_, 0.5))), "ms")
    res.put("op_tail_ms", Main.median(slices.map(Main.pctMs(_, 0.99))), "ms")
    res.put("ops_per_s", Main.median(slices.map(_.length / (wall / Slices))), "1/s")
  }

  /** Count a window's answers as checked operations; returns the
    * sorted latency samples per op.
    */
  def count(res: Result, l: Load, context: String): IndexedSeq[Array[Long]] = {
    val all = OpMix.Ops.indices.map(l.samples)
    OpMix.Ops.indices.foreach { o =>
      res.attempted += all(o).length
      res.failed += l.wrong.get(o)
      if (l.wrong.get(o) > 0)
        res.problems += s"${OpMix.Ops(o)}: ${l.wrong.get(o)} of ${all(o).length} answers differ$context"
    }
    res.attempted += l.errors.get
    res.failed += l.errors.get
    if (l.errors.get > 0) res.problems += s"${l.errors.get} ops threw$context"
    all
  }
}
