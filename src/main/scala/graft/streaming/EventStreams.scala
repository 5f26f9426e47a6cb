package graft.streaming

import graft.sources.VectorIndex
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming pipelines over the events stream.
  *
  * The batch twins live in graft.operators.Analytics (eventsWindow /
  * eventsSession) and are the oracle-checked versions; these are the
  * same computations expressed as incremental streaming plans — the
  * shape a production ingest (Kafka/file source) would run. Tested by
  * feeding the events parquet through a MemoryStream-equivalent file
  * source and comparing against the batch results.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  final case class SessionOut(user_id: Long, n_events: Long, sum_value: Double)

  /** Tumbling 1-hour window aggregation with a 10-minute watermark —
    * identical semantics to Analytics.eventsWindow once the stream is
    * drained (append mode emits a window when the watermark passes).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization with explicit state: a session closes
    * after 30 minutes of inactivity (processing-time analogue of the
    * batch lag/cumsum version). Demonstrates
    * flatMapGroupsWithState-driven custom state at scale: state is
    * one (lastTs, count, sum) triple per user — O(users), not
    * O(events).
    */
  def sessionize(spark: SparkSession, events: Dataset[Event]): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Double, Long), SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[(Long, Long, Double, Long)]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var (lastTs, n, sum, closedCount) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0.0, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { e =>
            val t = e.ts.getTime / 1000
            if (lastTs != Long.MinValue && t - lastTs > 1800 && n > 0) {
              out += SessionOut(userId, n, sum)
              n = 0L; sum = 0.0; closedCount += 1
            }
            n += 1; sum += e.value; lastTs = t
          }
          state.update((lastTs, n, sum, closedCount))
          out.iterator
      }
  }

  /** File-source streaming read of an events directory with the
    * events schema; used by tests to drive the pipelines with the
    * driver-generated parquet.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a streaming source needs a declared schema; probe the footer with
    // a batch read so either driver data generation (nanos-as-long or
    // micros-NTZ — see Tables.events) streams correctly
    def schemaWith(tsDdl: String) =
      s"event_id BIGINT, ts $tsDdl, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    spark.read.parquet(dir).schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        spark.readStream.schema(schemaWith("BIGINT")).parquet(dir)
          // integer DIV: see Tables.events — double division drifts ±1µs
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        spark.readStream.schema(schemaWith("TIMESTAMP_NTZ")).parquet(dir)
          .withColumn("ts", col("ts").cast("timestamp"))
      case _ =>
        spark.readStream.schema(schemaWith("TIMESTAMP")).parquet(dir)
    }
  }

  /** Streaming dedup-on-ingest: keep the FIRST document per content
    * hash within the watermark horizon — the incremental form of the
    * batch content-hash dedup in graft.sources.Ingest (reference
    * lib.rs add_document skips already-present content). State is one
    * hash per distinct content, evicted when the watermark passes —
    * bounded memory at any stream rate; duplicates arriving later
    * than the horizon are handled by the periodic batch dedup job
    * (the standard lambda split).
    *
    * Input needs (ts TIMESTAMP, text STRING, ...); output adds
    * content_hash and drops in-horizon duplicates.
    */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_hash")

  /** Decontaminate-on-ingest: drop arriving documents that share any
    * [[graft.operators.Curation.DecontN]]-token shingle with the
    * held-out eval set — the streaming twin of
    * [[graft.operators.Curation.decontaminate]]. Benchmark eval sets
    * are small and static by nature, so the gate is a pure MAP:
    * one-pass [[graft.functions.expressions.ShingleHashes]] signature
    * extraction + `arrays_overlap` against the eval hash set riding
    * the plan as a broadcast literal. No join, no streaming state, no
    * watermark — the filter scales with batch size only. (At an eval
    * set too big for a literal, the same stateless shape holds with a
    * Bloom-filter broadcast: membership turns probabilistic, which
    * for decontamination only ever over-removes.)
    */
  def decontaminateStream(docs: DataFrame, evalShingles: Array[Long]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val hashes = column(graft.functions.expressions.ShingleHashes(
      expression(col("text")), graft.operators.Curation.DecontN,
      graft.operators.Dedup.P))
    docs
      .withColumn("sh", hashes)
      .filter(!arrays_overlap(col("sh"), lit(evalShingles)))
      .drop("sh")
  }

  /** Curate-on-ingest: the streaming composition of every batch
    * [[graft.operators.Curation.curateCorpus]] gate that is
    * stream-expressible, in the batch pipeline's own precedence —
    * watermark-horizon exact dedup ([[dedupStream]] state), then the
    * three STATELESS per-document gates: eval-shingle contamination
    * ([[decontaminateStream]] broadcast literal), Gopher repetition
    * and the logistic quality margin, both reusing the batch
    * operators' exact column formulas (extracted helpers, so the
    * thresholds cannot drift between tiers). The near-dup-cluster
    * gate is deliberately absent: minhash clustering is a
    * corpus-global iterative computation, which is exactly the
    * periodic batch job of the lambda split that already catches
    * later-than-horizon exact duplicates. State stays one hash per
    * in-horizon distinct content; everything else is a map — the
    * stream sustains any rate the sink sustains.
    */
  def curateStream(docs: DataFrame, evalShingles: Array[Long]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.operators.Curation
    val st = column(graft.functions.expressions.RepetitionStats(
      expression(col("text"))))
    val withSt = decontaminateStream(dedupStream(docs), evalShingles)
      .withColumn("rep_st", st)
    val (dupTok, topTf, _) = Curation.repetitionRatioCols(col("rep_st"))
    withSt
      .withColumn("dup_token_ratio", dupTok)
      .withColumn("top_tf_ratio", topTf)
      .filter(!(col("dup_token_ratio") > Curation.DupTokenMax ||
                col("top_tf_ratio") > Curation.TopTfMax))
      .filter(Curation.qualityZ(col("text")) >= 0.0)
      .drop("rep_st", "dup_token_ratio", "top_tf_ratio")
  }

  /** The eval-set shingle hashes for [[decontaminateStream]], from the
    * same split + sketch the batch operator uses.
    */
  def evalShingleHashes(spark: SparkSession, dir: String): Array[Long] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val hashes = column(graft.functions.expressions.ShingleHashes(
      expression(col("text")), graft.operators.Curation.DecontN,
      graft.operators.Dedup.P))
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % graft.operators.Curation.EvalMod === 0)
      .select(explode(hashes).as("h")).distinct()
      .collect().map(_.getLong(0)).sorted
  }

  /** The one upkeep sink: each micro-batch of `rows` becomes
    * generation baseGen + batchId, written by `write` unless `landed`
    * finds that generation already there. foreachBatch is
    * at-least-once, and a replayed batch carries its old batchId, so
    * the probe skips it: every append job either commits fully or not
    * at all (the file-output commit protocol is job-atomic), which
    * makes the upkeep effectively-once with the single-writer
    * monotonic-generation contract intact.
    */
  private def upkeep(rows: DataFrame, baseGen: Long)
                    (landed: (SparkSession, Long) => Boolean)
                    (write: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val gen = baseGen + batchId
        if (!landed(batch.sparkSession, gen)) write(batch, gen)
      }
      .start()

  /** [[upkeep]] of a generation-directory layout at `path`: the
    * replay probe is one directory check, and `write` is the layout's
    * encoder in [[graft.sources.VectorIndex]] — the one its base build
    * encodes generation 0 with.
    */
  private def layoutUpkeep(rows: DataFrame, path: String, baseGen: Long)
                          (write: (DataFrame, String, Long) => Unit): StreamingQuery =
    upkeep(rows, baseGen)(VectorIndex.hasGeneration(_, path, _))(write(_, path, _))

  /** Streaming ingest → incremental BM25 index maintenance: each
    * micro-batch of (doc_id, text) rows appends its postings to the
    * bucketed posting table at generation baseGen + batchId via
    * [[graft.operators.Bm25.addDocuments]] — the streaming form of the
    * reference's add_document index path (sparse.rs:71: every insert
    * patches the inverted index immediately). foreachBatch is the
    * idiomatic sink here because a bucketed saveAsTable append is a
    * batch-transactional side effect Structured Streaming cannot
    * express as a direct streaming write. The posting table is a
    * catalog table, not a generation-directory layout: its replay
    * probe filters the table's gen column. Probe-side plans on the
    * maintained table stay Exchange-free (see Bm25.livePostings) — the
    * stream never forces an index rebuild.
    */
  def indexStream(docs: DataFrame, tableName: String,
                  baseGen: Long = 1L): StreamingQuery =
    upkeep(docs, baseGen)((spark, gen) =>
      !spark.table(tableName).filter(col("gen") === gen).isEmpty) { (batch, gen) =>
      graft.operators.Bm25.addDocuments(batch.sparkSession, tableName,
        batch.select(col("doc_id"), col("text")), gen = gen)
    }

  /** Streaming maintenance of the persisted LSH vector index
    * (query.rs:282 save_index + lib.rs add_document, incremental
    * form): each micro-batch of (vec_id, embedding) rows is signed
    * with the base build's hyperplane family
    * ([[VectorIndex.encodeLsh]]) and appended into the
    * bucket-partitioned layout — new vectors land in the directories
    * probes already dynamic-prune to, so serving needs no rebuild and
    * no reader coordination (parquet appends are job-atomic new
    * files).
    */
  def vectorIndexStream(vecs: DataFrame, path: String,
                        baseGen: Long = 1L): StreamingQuery =
    layoutUpkeep(vecs.select(col("vec_id"), col("embedding")), path, baseGen)(
      VectorIndex.encodeLsh)

  /** Streaming maintenance of the persisted PQ codes layout: each
    * micro-batch is encoded against the SAVED codebook
    * ([[VectorIndex.encodePq]]; one row, KB-scale) and its codes
    * appended; the serving path's coarse ADC pass picks new vectors up
    * with no rebuild. Codebook drift is the operator's call (reference
    * rebuild_index contract): codes are exact for whatever codebook is
    * live, and a periodic rebuildIndexes refreshes both together.
    */
  def pqIndexStream(vecs: DataFrame, path: String,
                    baseGen: Long = 1L): StreamingQuery =
    layoutUpkeep(vecs, path, baseGen)(VectorIndex.encodePq)

  /** Streaming maintenance of the persisted IVF cell layout: each
    * micro-batch is routed through the SAVED two-level centroid
    * relation ([[VectorIndex.encodeIvf]]: coarse argmin, then fine
    * argmin within the coarse cell, from `<path>_centroids`) and
    * appended into the cell directory probes already dynamic-prune to.
    * Centroid drift is the operator's call, exactly as with
    * [[pqIndexStream]]'s codebook: assignments are exact for whatever
    * centroids are live, and `VectorIndex.rebuildIfNeeded` refreshes
    * layout + centroids together once appended generations trip the
    * heuristic.
    */
  def ivfIndexStream(vecs: DataFrame, path: String,
                     baseGen: Long = 1L): StreamingQuery =
    layoutUpkeep(vecs, path, baseGen)(VectorIndex.encodeIvf)

  /** Streaming maintenance of the persisted IVF-PQ codes layout:
    * each micro-batch is routed through the SAVED centroids AND
    * encoded through the SAVED codebook ([[VectorIndex.encodeIvfPq]]),
    * appended into the cell directories the probe dynamic-prunes to.
    * Pair with the flat-store append for the same vectors: the
    * serving rescore reads full vectors by id from the flat table
    * (see annIvfPqFromIndex's contract note), so index upkeep and
    * store ingest are two halves of one logical write.
    */
  def ivfPqIndexStream(vecs: DataFrame, path: String,
                       baseGen: Long = 1L): StreamingQuery =
    layoutUpkeep(vecs, path, baseGen)(VectorIndex.encodeIvfPq)

  /** Streaming maintenance of the persisted kNN-GRAPH layout: each
    * micro-batch's (vec_id, embedding) rows land as generation g with
    * an empty neighbor list ([[VectorIndex.encodeGraph]]). No Spark
    * job searches the resident graph: [[graft.sources.PointServe.Graph]]
    * gives an appended node its list when it folds the generation in
    * (reference query.rs add_document: search the existing index for
    * the new point's neighbors, never rebuild), with the walk its
    * queries run over the graph as it stood before that generation.
    */
  def knnGraphIndexStream(vecs: DataFrame, path: String,
                          baseGen: Long = 1L): StreamingQuery =
    layoutUpkeep(vecs, path, baseGen)(VectorIndex.encodeGraph)

  /** Streaming maintenance of the persisted MinHash band layout
    * ([[graft.sources.VectorIndex.buildMinhashIndex]]; reference
    * sparse.rs:71 add_document — the signature index is maintained,
    * never rebuilt per batch): each micro-batch of (doc_id, text)
    * rows is shingled, and [[VectorIndex.encodeMinhash]] bands it with
    * the base build's permutation family and sub-bucket modulus: band
    * rows append into the (band, bkt) directories incremental-dedup
    * probes already prune to, and the doc-level shingle sketches
    * append into the companion `_sh` relation so verification covers
    * the new docs too.
    */
  def minhashIndexStream(docs: DataFrame, path: String,
                         baseGen: Long = 1L): StreamingQuery =
    layoutUpkeep(docs, path, baseGen) { (batch, _, gen) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val sh = batch
        .select(col("doc_id"),
          column(graft.functions.expressions.ShingleHashes(
            expression(col("text")), 3, graft.operators.Dedup.P)).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try VectorIndex.encodeMinhash(sh, path, gen) finally sh.unpersist()
    }
}
