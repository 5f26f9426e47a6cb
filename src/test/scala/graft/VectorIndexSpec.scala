package graft

import graft.operators.VectorSearch
import graft.sources.VectorIndex
import org.apache.spark.sql.functions.{col, max}

/** The persisted ANN layouts (save_index / load_index / rebuild_index
  * re-expression) must serve bit-identical results to their scan-side
  * twins, and their probe plans must dynamic-partition-prune the
  * corpus scan — the property that makes the layout an index at
  * 100 TB (only probed bucket/cell directories are read).
  */
class VectorIndexSpec extends GraftSuite {

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString + "/idx"
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("LSH index serves the exact annLsh results with a partition-pruned scan") {
    val path = tmpDir("graft_lsh_idx")
    VectorIndex.buildLshIndex(spark, sf, path)
    val served = VectorIndex.annLshFromIndex(spark, path, VectorIndex.queryBatch(spark, sf, 8))
    assert(rows(served) == rows(VectorSearch.annLsh(spark, sf)))
    // the bucket equi-join must reach the scan as a dynamic partition
    // pruning filter (file-level prune to the probed buckets)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP on bucket join:\n$plan")
    // the layout is partitioned by bucket beneath its generation
    val parts = new java.io.File(path, "gen=0").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName)
    assert(parts.nonEmpty && parts.forall(_.matches("bucket=\\d+")))
  }

  test("MinHash band layout serves incremental dedup bit-identically with a pruned probe") {
    import graft.operators.Dedup
    val path = tmpDir("graft_minhash_idx")
    VectorIndex.buildMinhashIndex(spark, sf, path)
    val recompute = rows(Dedup.minhashIncremental(spark, sf))
    val served = Dedup.minhashIncrementalIndexed(spark, sf)
    // the indexed entry builds-if-missing into the stamped tmp path;
    // also pin the explicitly-built layout at `path` to the same rows
    assert(rows(served) == recompute,
      "layout-probed incremental dedup must reproduce the recompute form bit-for-bit")
    val explicit = Dedup.minhashIncrementalFromIndex(spark, path,
      sparkDocsBatch())
    assert(rows(explicit) == recompute)
    // the band probe must reach the layout scan as DPP: only the
    // batch's (band, bkt) directories are read
    val plan = explicit.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP on band probe join:\n$plan")
    // ...and on the DRIVER ENTRY too: its batch side is persisted, and
    // an InMemoryRelation hides the increment filter from the
    // PartitionPruning rule unless batchShingles re-states it above
    // the cache (regression pin for exactly that)
    val entryPlan = served.queryExecution.executedPlan.toString
    assert(entryPlan.contains("dynamicpruning"),
      s"no DPP on the driver entry's band probe:\n$entryPlan")
    // corpus text is NEVER re-read on the probe path: the corpus side
    // comes from the layout directories, and every source-table read
    // sits under the increment filter (batch side only)
    assert(plan.contains("graft_minhash_idx"), s"probe does not read the layout:\n$plan")
    assert(plan.contains("% 10) = 7"), s"batch side not increment-filtered:\n$plan")
    // the layout is partitioned by (band, bkt) beneath its generation
    val bands = new java.io.File(path, "gen=0").listFiles()
      .filter(_.getName.startsWith("band=")).map(_.getName)
    assert(bands.length == Dedup.NumBands && bands.forall(_.matches("band=\\d+")))
    val bkts = new java.io.File(path + "/gen=0/" + bands.head).listFiles()
      .filter(_.getName.startsWith("bkt=")).map(_.getName)
    assert(bkts.nonEmpty && bkts.forall(_.matches("bkt=\\d+")))
    // observability: the layout reports through the same stats surface
    val stats = VectorIndex.indexStats(spark, sf, "minhash")
    assert(stats.isBuilt && stats.pointCount > 0 &&
      stats.dimension == Dedup.NumHashes)
  }

  private def sparkDocsBatch(): org.apache.spark.sql.DataFrame = {
    import graft.operators.Dedup
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    Tables.documents(spark, sf)
      .filter(col("doc_id") % Dedup.IncrMod === Dedup.IncrRes)
      .select(col("doc_id"),
        column(graft.functions.expressions.ShingleHashes(
          expression(col("text")), 3, Dedup.P)).as("sh"))
  }

  test("IVF index serves the exact annIvf results with a partition-pruned scan") {
    val path = tmpDir("graft_ivf_idx")
    VectorIndex.buildIvfIndex(spark, sf, path)
    val served = VectorIndex.annIvfFromIndex(spark, path, VectorIndex.queryBatch(spark, sf, 1))
    assert(rows(served) == rows(VectorSearch.annIvf(spark, sf)))
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP on cell join:\n$plan")
  }

  test("IVF-PQ layout serves the exact annIvfPq results from pruned code directories") {
    val path = tmpDir("graft_ivfpq_idx")
    VectorIndex.buildIvfPqIndex(spark, sf, path)
    val served = VectorIndex.annIvfPqFromIndex(spark, sf, path,
      VectorIndex.queryBatch(spark, sf, 1))
    assert(rows(served) == rows(VectorSearch.annIvfPq(spark, sf)),
      "the persisted layout must reproduce the batch IVF-PQ bit-for-bit")
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP on the cell join:\n$plan")
    // the layout stores codes, never vectors: ~10 bytes a row
    val layout = spark.read.parquet(path)
    assert(layout.columns.count(_.startsWith("code")) == VectorSearch.PqM)
    assert(!layout.columns.exists(c => c == "embedding" || c == "emb"),
      "full vectors must not be in the codes layout")
  }

  test("label-gated IVF search filters the probed candidates before the top-k") {
    val labels = Seq(1, 3, 5)
    val filtered = VectorIndex.annIvfFilteredIndexed(spark, sf, labels = labels)
      .collect()
    assert(filtered.nonEmpty && filtered.length <= 20)
    assert(filtered.forall(r => labels.contains(r.getAs[Int]("label"))),
      "every hit carries an allowed label")
    val scores = filtered.map(_.getAs[Long]("score")).toSeq
    assert(scores == scores.sorted.reverse, "descending score order")
    // post-filtering semantics: the gated result is exactly the
    // allowed-label subset of the probed candidate space, so every
    // unfiltered hit with an allowed label must re-appear
    val unfiltered = graft.sources.VectorIndex.annIvfIndexed(spark, sf, k = 20).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val gateLabels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expectedSurvivors = unfiltered.filter(v => labels.contains(gateLabels(v)))
    assert(expectedSurvivors.subsetOf(filtered.map(_.getAs[Long]("vec_id")).toSet),
      "allowed-label hits from the unfiltered top-k survive the gate")
  }

  test("PQ codes layout serves the exact annPq results without storing vectors") {
    val path = tmpDir("graft_pq_idx")
    VectorIndex.buildPqIndex(spark, sf, path)
    val served = VectorIndex.annPqFromIndex(spark, sf, path,
      VectorIndex.queryBatch(spark, sf, 1))
    assert(rows(served) == rows(VectorSearch.annPq(spark, sf)))
    // the layout holds vec_id + generation + one code column per
    // subspace and NO embeddings — the ~25x compression is the point
    val schema = spark.read.parquet(path).schema.fieldNames.toSet
    assert(schema == (Set("vec_id", "gen") ++ (0 until VectorSearch.PqM).map(m => s"code$m")),
      s"unexpected layout schema: $schema")
  }

  test("streamed vectors join PQ serving through incremental code appends") {
    import graft.streaming.EventStreams
    val path = tmpDir("graft_pq_stream")
    VectorIndex.buildPqIndex(spark, sf, path)
    val maxId = Tables.embeddings(spark, sf).agg(max(col("vec_id"))).head.getLong(0)
    // a clone of vec 0: identical codes -> identical ADC distance, and
    // the exact rescore scores it L2 0 for query 0 -> top hit
    val stageDir = java.nio.file.Files.createTempDirectory("pq_vecs_stream")
    Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select((col("vec_id") + maxId + 1).as("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(stageDir.toString)
    val schema = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).schema
    def newStream() = spark.readStream.schema(schema).parquet(stageDir.toString)
    val q = EventStreams.pqIndexStream(newStream(), path)
    q.processAllAvailable(); q.stop()
    // the streamed clone is in the codes layout...
    assert(spark.read.parquet(path).filter(col("vec_id") === maxId + 1).count() == 1)
    // ...but serving needs its full vector for the rescore, which the
    // flat table doesn't have — so assert the coarse ADC pass sees it
    // by checking its codes equal vec 0's
    val codes = spark.read.parquet(path)
      .filter(col("vec_id").isin(0L, maxId + 1))
      .collect().map(r => (0 until VectorSearch.PqM).map(m => r.getAs[Int](s"code$m")))
    assert(codes.length == 2 && codes(0) == codes(1))
    // replay safety
    val nRows = spark.read.parquet(path).count()
    val q2 = EventStreams.pqIndexStream(newStream(), path)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(path).count() == nRows)
  }

  test("rebuild overwrites the layout in place (rebuild_index contract)") {
    val path = tmpDir("graft_lsh_rebuild")
    VectorIndex.buildLshIndex(spark, sf, path)
    val first = rows(VectorIndex.annLshFromIndex(spark, path, VectorIndex.queryBatch(spark, sf, 8)))
    VectorIndex.buildLshIndex(spark, sf, path) // rebuild over existing
    assert(rows(VectorIndex.annLshFromIndex(spark, path, VectorIndex.queryBatch(spark, sf, 8))) == first)
  }

  test("shouldRebuild trips on heavy streaming appends and a rebuild resets it") {
    val path = tmpDir("graft_lsh_opt")
    VectorIndex.buildLshIndex(spark, sf, path)
    assert(!VectorIndex.shouldRebuild(spark, path), "fresh base build needs no rebuild")
    // simulate streaming maintenance: three generations totalling >20%
    // of the base build, landed the way vectorIndexStream lands them
    val planes = VectorSearch.lshPlanes(64, VectorSearch.AnnLshPlanes)
    val nBase = VectorIndex.readGenerations(spark, path).get.count()
    (1 to 3).foreach { g =>
      VectorIndex.writeGeneration(Tables.embeddings(spark, sf).limit((nBase / 10).toInt)
        .select((col("vec_id") + g * 100000L).as("vec_id"), col("embedding"))
        .withColumn("bucket", VectorSearch.lshBucket(
          graft.functions.VectorFunctions.toDouble(col("embedding")), planes).cast("int")),
        path, g.toLong, "bucket")
    }
    assert(VectorIndex.shouldRebuild(spark, path), "30% appended rows must trip the heuristic")
    // generation-count arm trips independently of row mass
    assert(VectorIndex.shouldRebuild(spark, path, maxAppendedFraction = 10.0, maxGenerations = 2))
    assert(!VectorIndex.shouldRebuild(spark, path, maxAppendedFraction = 10.0))
    // a rebuild folds the debt into a fresh base and resets the decision
    VectorIndex.buildLshIndex(spark, sf, path)
    assert(!VectorIndex.shouldRebuild(spark, path))
    // rebuildIfNeeded leaves untripped layouts alone
    assert(!VectorIndex.rebuildIfNeeded(spark, sf).contains("ivf"))
  }

  test("staged rebuildIndexes swaps live layouts and leaves no stray directories") {
    val lsh = VectorIndex.indexPath(sf, "lsh")
    val before = rows(VectorIndex.annLshIndexed(spark, sf)) // build-if-missing
    VectorIndex.rebuildIndexes(spark, sf)                   // forced staged swap
    assert(rows(VectorIndex.annLshIndexed(spark, sf)) == before)
    assert(rows(VectorIndex.annIvfIndexed(spark, sf)) ==
      rows(graft.operators.VectorSearch.annIvf(spark, sf)))
    // no staging/old/broken residue next to the live layouts
    val parent = new java.io.File(lsh).getParentFile
    val stray = parent.listFiles().map(_.getName)
      .filter(n => n.startsWith(new java.io.File(lsh).getName + ".") ||
        n.contains(".stage-") || n.contains(".old-") || n.contains(".broken-"))
    assert(stray.isEmpty, s"stray index dirs left: ${stray.toSeq}")
  }

  test("rebuildIndexes folds the served kNN graph's appended generations into a fresh base") {
    import graft.streaming.EventStreams
    import java.nio.file.{Files, Path}
    // a private copy of the source tables: the stream and the rebuild
    // touch only this copy's layouts, never the ones other suites share
    val copy: Path = Files.createTempDirectory("graft_rebuild_")
    Seq("embeddings.parquet", "documents.parquet").foreach { name =>
      val src = new java.io.File(sf, name).toPath
      Files.walk(src).forEach(p => Files.copy(p, copy.resolve(name).resolve(src.relativize(p))))
    }
    val tag = copy.toString.replaceAll("[^a-zA-Z0-9]", "_")
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete()
    }
    try {
      val path = VectorIndex.knnGraphIndexReady(spark, copy.toString)
      val maxId = Tables.embeddings(spark, sf).agg(max(col("vec_id"))).head.getLong(0)
      val stageDir = Files.createTempDirectory("graph_rebuild_vecs").toString
      Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
        .select((col("vec_id") + maxId + 1).as("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(stageDir)
      val q = EventStreams.knnGraphIndexStream(spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>").parquet(stageDir), path)
      q.processAllAvailable(); q.stop()
      assert(VectorIndex.generations(spark, path) == Seq(0L, 1L))
      VectorIndex.rebuildIndexes(spark, copy.toString)
      assert(VectorIndex.generations(spark, path) == Seq(0L))
    } finally {
      rmTree(copy.toFile)
      new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
        .filter(f => f.getName.startsWith("graft_vindex_") && f.getName.contains(tag))
        .foreach(rmTree)
    }
  }

  test("indexStats reports points, dimension, disk size and maintenance debt") {
    VectorIndex.annLshIndexed(spark, sf) // build-if-missing
    val s = VectorIndex.indexStats(spark, sf, "lsh")
    assert(s.isBuilt && s.kind == "lsh")
    assert(s.pointCount == Tables.embeddings(spark, sf).count())
    assert(s.dimension == 64)
    assert(s.diskBytes > 0L, "a built layout occupies disk")
    assert(s.appendedRows == 0L && s.generations == 0L,
      "a fresh build carries no maintenance debt")
    val pq = VectorIndex.indexStats(spark, sf, "pq")
    if (pq.isBuilt) assert(pq.dimension == graft.operators.VectorSearch.PqM)
    // the IVF-PQ codes layout carries NO embedding column — stats must
    // take the code-column branch, not crash hunting for one
    VectorIndex.annIvfPqIndexed(spark, sf) // build-if-missing
    val ivfpq = VectorIndex.indexStats(spark, sf, "ivfpq")
    assert(ivfpq.isBuilt && ivfpq.dimension == graft.operators.VectorSearch.PqM)
    val missing = VectorIndex.indexStats(spark, sf, "nope")
    assert(!missing.isBuilt && missing.pointCount == 0L && missing.diskBytes == 0L)
  }

  test("band_key stays non-decreasing within every file of the MinHash layout") {
    import graft.streaming.EventStreams
    import org.apache.spark.sql.functions.{input_file_name, monotonically_increasing_id}
    // gen leads the partition keys: the write must not re-sort away
    // the band_key clustering the probe's row-group stats rely on
    val path = tmpDir("graft_minhash_sorted")
    VectorIndex.buildMinhashIndex(spark, sf, path)
    val stageDir = java.nio.file.Files.createTempDirectory("mh_sorted_docs")
    Tables.documents(spark, sf).limit(20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(stageDir.toString)
    val q = EventStreams.minhashIndexStream(spark.readStream
      .schema("doc_id BIGINT, text STRING").parquet(stageDir.toString), path)
    q.processAllAvailable(); q.stop()
    // files are far below the split size: each is read whole, in
    // order, by one task, so the row ids follow each file's row order
    val perFile = spark.read.parquet(path)
      .select(input_file_name().as("f"), monotonically_increasing_id().as("i"),
        col("band_key"), col("gen"))
      .collect().groupBy(_.getString(0)).values.toSeq
    assert(perFile.exists(_.head.getAs[Int]("gen") > 0), "no appended generation written")
    val unsorted = perFile.filter { rs =>
      val keys = rs.sortBy(_.getLong(1)).map(_.getLong(2))
      keys.zip(keys.drop(1)).exists { case (a, b) => a > b }
    }
    assert(unsorted.isEmpty,
      s"${unsorted.size} of ${perFile.size} files lost their band_key order")
  }
}
