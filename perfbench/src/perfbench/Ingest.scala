package perfbench

import java.nio.file.Files
import java.util.SplittableRandom

import graft.Tables
import graft.operators.{Bm25, Embeddings}
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The serving workload, in two phases over one set of resident tiers.
  * First a read-only closed loop of the serving op mix ([[Serve]]).
  * Then one seeded arrival batch goes through graft's write path while
  * a reader keeps running the op mix: admit gate -> curate stream ->
  * store append -> the seven layout upkeep streams -> one delete ->
  * refresh of every refreshable tier -> BM25 over the maintained
  * posting table, in the session that built it. The batch's time, admit to search, is the freshness
  * delay of its documents; the posting table is compacted after it.
  */
object Ingest {
  /** Novel documents in the arrival batch, beside 2 clones and 1 re-arrival. */
  val NovelDocs = 5
  /** Seeded candidates the novel documents are drawn from. */
  val Candidates = 40
  val Posting = "ingest_posting"

  /** Closed-loop reader clients during ingest. One, not one per core
    * less the writer's: spinning readers on every spare core left the
    * writer's Spark tasks about one core, and the batch then took longer
    * than a run's time budget allows.
    */
  val Readers = 1

  /** Ops whose tier never changes under ingest, so their answers must
    * stay equal to the single-threaded ones. The others read tiers the
    * writer refreshes.
    */
  val StaticOps = Set("hybrid_rrf", "hybrid_s4", "bm25", "bm25_rare", "sparse", "more_like")

  final case class Doc(id: Long, text: String, kind: String)

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val store = ctx.tmp.resolve("store/documents.parquet").toString
    var tiers: Tiers = null
    var evalHashes: Array[Long] = null
    Batch.timedSetup(ctx, res) {
      val copy = Trace.async("setup.store") { Tables.documents(spark, ctx.data).write.parquet(store) }
      val posting = Trace.async("setup.posting") { Bm25.buildPostingTable(spark, ctx.data, Posting) }
      val gate = Trace.async("setup.eval_hashes") { EventStreams.evalShingleHashes(spark, ctx.data) }
      val b0 = System.nanoTime()
      val layouts = Trace.span("index.build") { Tiers.buildLayouts(ctx) }
      val l0 = System.nanoTime()
      tiers = Trace.span("serve.load") { new Tiers(ctx, layouts) }
      res.put("index.build_s", (l0 - b0) / 1e9, "s")
      res.put("serve.load_s", (System.nanoTime() - l0) / 1e9, "s")
      Trace.await(copy); Trace.await(posting)
      evalHashes = Trace.await(gate)
    }
    res.put("index.disk_mb", Main.du(ctx.tmp) / 1048576.0, "MB")
    val mix = new OpMix(ctx, tiers, ctx.seed)
    Serve.measure(ctx, res, mix, ctx.seconds)

    // the batch's files land in the source dirs of the write path's
    // streams, which start for the batch and stop once drained
    val stage = ctx.tmp.resolveSibling("stage")
    val Seq(candidatesDir, arrivalsDir, docsDir, vecsDir) =
      Seq("candidates", "arrivals", "docs", "vecs").map { d =>
        Files.createDirectories(stage.resolve(d)).toString
      }
    def docStream(): DataFrame = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(docsDir)
    def vecStream(): DataFrame = spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>").parquet(vecsDir)

    def docsDf(ds: Seq[Doc]): DataFrame = ds.map(d => (d.id, d.text)).toDF("doc_id", "text")

    /** Append `ds` to an arrivals dir and drain it through the curate
      * stream; returns the ids curation kept.
      */
    def curate(ds: Seq[Doc], dir: String, sink: String): Set[Long] = {
      docsDf(ds)
        .select(timestamp_micros((col("doc_id") + 86400L) * 1000000L).as("ts"),
          col("doc_id"), col("text"))
        .write.mode("append").parquet(dir)
      EventStreams.curateStream(
          spark.readStream.schema("ts TIMESTAMP, doc_id BIGINT, text STRING").parquet(dir),
          evalHashes)
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      spark.table(sink).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }

    // seeded arrivals: clones of resident documents; novel documents;
    // and a resident document re-sent under its own id. A novel document
    // is a resident document's words reordered plus two words no other
    // document has. Only candidates that the curate stream keeps when
    // they arrive alone are sent, so every novel document must come
    // out of it again within the batch.
    val docs = Tables.documents(spark, ctx.data).select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getString(1)))
    val rng = new SplittableRandom(ctx.seed)
    def resident() = docs(rng.nextInt(docs.length))
    val firstId = docs.map(_._1).max + 1
    val candidates = (0 until Candidates).map { i =>
      val words = new scala.util.Random(rng.nextLong()).shuffle(resident()._2.split(" ").toSeq)
      Doc(i, (words :+ s"zq${ctx.seed}c${i}a" :+ s"zq${ctx.seed}c${i}b").mkString(" "), "novel")
    }
    // the first pass through the write path after set-up, cold: the
    // curate stream over the candidates
    val c0 = System.nanoTime()
    val kept = curate(candidates, candidatesDir, "candidates_kept")
    res.put("cold_pass_s", (System.nanoTime() - c0) / 1e9, "s")
    val novel = candidates.filter(d => kept(d.id)).take(NovelDocs)
    res.check(novel.size == NovelDocs,
      s"only ${novel.size} of $Candidates candidate documents pass the curation gates")
    val batch = (0 until 2).map(i => Doc(firstId + i, resident()._2, "clone")) ++
      novel.zipWithIndex.map { case (d, i) => d.copy(id = firstId + 2 + i) } :+
      { val (id, t) = resident(); Doc(id, t, "again") }

    val stageS = scala.collection.mutable.Map.empty[String, Double]
    def timed[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try Trace.span(k) { Probes.tagJobs(spark, k); body }
      finally stageS(k) = (System.nanoTime() - t0) / 1e9
    }
    var admitNs = 0L
    var refreshRows = Map.empty[String, Int]
    var storeGrowth = 0L

    /** The batch through the write path: (admitted, curated, deleted,
      * doc ids the posting search returned).
      */
    def writeBatch(): (Seq[Doc], Seq[Doc], Option[Doc], Set[Long]) = Trace.span("batch") {
      val admitted = timed("admit") {
        batch.filter { d =>
          val a0 = System.nanoTime()
          val ok = tiers.dedup.admit(d.text)
          admitNs += System.nanoTime() - a0
          ok
        }
      }
      val curated = timed("curate") {
        val ids = curate(admitted, arrivalsDir, "curated")
        admitted.filter(d => ids(d.id))
      }
      val curatedDf = docsDf(curated)
      timed("append") {
        val s0 = Main.du(ctx.tmp.resolve("store"))
        curatedDf.select(col("doc_id"), col("text"), lit("en").as("lang"),
            lit("ingest").as("source"), length(col("text")).cast("long").as("n_chars"))
          .write.mode("append").parquet(store)
        storeGrowth = Main.du(ctx.tmp.resolve("store")) - s0
      }
      curatedDf.write.mode("append").parquet(docsDir)
      curatedDf.select(col("doc_id").as("vec_id"),
          Embeddings.embed(col("text"), 64).cast("array<float>").as("embedding"))
        .write.mode("append").parquet(vecsDir)
      timed("upkeep") {
        // the seven streams run side by side, as one ingest job would
        // start them; each one's own micro-batch time is its upkeep cost
        val u0 = System.nanoTime()
        val parent = Trace.current
        val l = tiers.layouts
        Seq(
          "posting" -> EventStreams.indexStream(docStream(), Posting),
          "minhash" -> EventStreams.minhashIndexStream(docStream(), l("minhash")),
          "lsh" -> EventStreams.vectorIndexStream(vecStream(), l("lsh")),
          "ivf" -> EventStreams.ivfIndexStream(vecStream(), l("ivf")),
          "pq" -> EventStreams.pqIndexStream(vecStream(), l("pq")),
          "ivfpq" -> EventStreams.ivfPqIndexStream(vecStream(), l("ivfpq")),
          "graph" -> EventStreams.knnGraphIndexStream(vecStream(), l("graph"))
        ).foreach { case (k, q) =>
          q.processAllAvailable()
          q.stop()
          stageS(s"upkeep.$k") = q.recentProgress.filter(_.numInputRows > 0)
            .map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong).sum / 1e3
          Trace.record(s"upkeep.$k", parent, 0L, u0, System.nanoTime())
        }
      }
      // delete the first curated document again: a tombstone at the
      // generation the posting stream wrote (its first, gen 1)
      val victim = curated.headOption
      victim.foreach(v => timed("delete") { Bm25.removeDocuments(spark, Posting, Seq(v.id), 1L) })
      timed("refresh") {
        val t = tiers
        refreshRows = Seq[(String, () => Int)](
          "minhash" -> (() => t.dedup.refresh()), "lsh" -> (() => t.lsh.refresh()),
          "ivf" -> (() => t.ivf.refresh()), "pq" -> (() => t.pq.refresh()),
          "ivfpq" -> (() => t.ivfpq.refresh()), "graph" -> (() => t.graph.refresh())
        ).map { case (k, f) => k -> Trace.async(s"refresh.$k")(f()) }
          .map { case (k, f) => k -> Trace.await(f) }.toMap
      }
      val found = timed("search") {
        val q = curated.flatMap(_.text.split(" ").takeRight(2)).mkString(" ")
        if (q.isEmpty) Set.empty[Long]
        else Bm25.searchFromTable(spark, Posting, query = q, k = 50)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      }
      (admitted, curated, victim, found)
    }

    // one reader runs the op mix until the writer has finished
    @volatile var writerDone = false
    val staticIdx = OpMix.Ops.indices.filter(o => StaticOps(OpMix.Ops(o))).toSet
    val load = new Load(OpMix.Ops.length)
    val reader = new Thread(() => load.run(Readers, ctx.seed + 1, () => writerDone,
      mix.run, (o, p, a) => !staticIdx(o) || a == mix.expected(o)(p)))
    val before = ctx.probes.snapshot()
    val d0 = ctx.derivedBytes
    val tw = System.nanoTime()
    reader.start()
    val (admitted, curated, victim, found) =
      try writeBatch()
      finally { writerDone = true; reader.join() }
    val wall = (System.nanoTime() - tw) / 1e9
    ctx.probes.report(res, before, ctx.probes.snapshot(), 1.0, wall, ctx.cores)
    res.put("pass_s", wall, "s")

    // the gate admits exactly the novel documents and curation keeps
    // them all; every refreshable tier picks them up and serves them
    batch.foreach(d => res.check(admitted.contains(d) == (d.kind == "novel"),
      s"gate: ${d.kind} doc ${d.id} admitted=${admitted.contains(d)}"))
    res.check(curated.nonEmpty && curated == admitted,
      s"curate stream kept ${curated.map(_.id)} of admitted ${admitted.map(_.id)}")
    res.check(victim.isDefined && curated.size >= 2, "no curated document to delete and keep")
    refreshRows.foreach { case (k, n) => res.check(n > 0, s"$k tier refresh picked up no rows") }
    curated.filterNot(victim.contains).foreach(d =>
      res.check(found(d.id), s"posting search misses doc ${d.id}"))
    victim.foreach(v => res.check(!found(v.id), s"deleted doc ${v.id} still searchable"))
    val t = tiers
    docsDf(curated).select(col("doc_id"),
        Embeddings.embed(col("text"), 64).cast("array<float>").cast("array<double>"))
      .collect().foreach { r =>
        val (id, qv) = (r.getLong(0), r.getSeq[Double](1).toArray)
        res.check(t.lsh.query(qv, k = 1).headOption.exists(_.vecId == id), s"lsh misses $id")
        res.check(t.ivf.query(qv, k = 1).headOption.exists(_.vecId == id), s"ivf misses $id")
        res.check(t.graph.query(qv, k = 1).headOption.exists(_.vecId == id), s"graph misses $id")
        res.check(t.pq.query(qv, k = 20).exists(_.vecId == id), s"pq misses $id")
        res.check(t.ivfpq.query(qv, k = 20).exists(_.vecId == id), s"ivfpq misses $id")
      }
    curated.foreach(d => res.check(!t.dedup.admit(d.text), s"gate re-admits ingested doc ${d.id}"))

    val merged = Serve.count(res, load, " under ingest").flatten.toArray
    java.util.Arrays.sort(merged)
    res.put("ingest.read_p50_ms", Main.pctMs(merged, 0.5), "ms")
    res.put("ingest.read_p99_ms", Main.pctMs(merged, 0.99), "ms")
    res.put("ingest.read_qps", merged.length / wall, "1/s")
    res.put("ingest_docs_per_s", batch.size / wall, "1/s")
    Seq("curate", "posting", "minhash", "lsh", "ivf", "pq", "ivfpq", "graph").foreach { k =>
      res.put(s"upkeep.${k}_s", stageS(if (k == "curate") "curate" else s"upkeep.$k"), "s")
    }
    res.put("upkeep.wall_s", stageS("upkeep"), "s")
    res.put("posting.search_s", stageS("search"), "s")
    res.put("refresh.ms", stageS("refresh") * 1000, "ms")
    res.put("refresh.rows", refreshRows.values.sum.toDouble, "count")
    res.put("gate.admit_ms", admitNs / 1e6 / batch.size, "ms")
    res.put("gate.reject_ratio", 1.0 - admitted.size.toDouble / batch.size, "ratio")
    res.put("store.append_s", stageS("append"), "s")
    res.put("store.write_amp", (ctx.derivedBytes - d0).toDouble / math.max(1L, storeGrowth), "ratio")

    // compaction, after the batch: posting rows per live row before it
    val rowsPerLive = spark.table(Posting).count().toDouble /
      Bm25.postingStats(spark, Posting).head.getAs[Long]("n_posting_rows")
    timed("compact") { Bm25.compactPostingTable(spark, Posting) }
    res.put("posting.rows_per_live", rowsPerLive, "ratio")
    res.put("posting.compact_s", stageS("compact"), "s")
    res.put("posting.rewritten_mb", Main.du(ctx.warehouse.resolve(Posting)) / 1048576.0, "MB")
    res.put("mem_mb", tiers.residentBytes / 1048576.0, "MB")
    res.put("space_amp", ctx.derivedBytes.toDouble / ctx.inputBytes, "ratio")
  }
}
