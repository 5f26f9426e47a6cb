package graft.sources

import graft.Tables
import graft.functions.TextFunctions.hash60
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion surface — the batch analogue of the reference's
  * add_document / batch_add_documents (grape-vector-db
  * src/lib.rs:310,317).
  *
  * A vector-DB "insert" becomes, on Spark, an idempotent batch merge
  * into a partitioned columnar layout:
  *  - content-hash dedup ON INGEST (same behavior as the reference's
  *    id upsert, but content-addressed),
  *  - layout partitioned by a low-cardinality column (lang) so
  *    downstream per-language scans prune partitions,
  *  - deterministic surrogate ids derived from content hash — safe
  *    under retries, no driver-side id sequencing at 1000 executors.
  */
object Ingest {

  /** Normalize + dedup a raw document batch: one row per distinct
    * content, earliest doc wins; adds the content hash the store is
    * keyed by.
    */
  def prepare(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    batch
      .withColumn("content_hash", hash60(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Write a prepared batch as a lang-partitioned parquet store. */
  def write(prepared: DataFrame, path: String): Unit =
    prepared.write
      .mode(SaveMode.Overwrite)
      .partitionBy("lang")
      .parquet(path)

  /** End-to-end: ingest the documents table into a store layout. */
  def ingestDocuments(spark: SparkSession, dir: String, outPath: String): Unit =
    write(prepare(Tables.documents(spark, dir)), outPath)

  /** Upsert-merge a new batch into an existing store (reference
    * lib.rs add_document id-upsert semantics, content-addressed):
    * incoming rows win over stored rows with the same content hash,
    * earliest-id-first within the batch. Expressed as union +
    * window-dedup — one shuffle keyed by content hash; at scale both
    * sides are bucketed by content_hash so the merge co-locates.
    */
  def upsert(store: DataFrame, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val incoming = prepare(batch).withColumn("is_new", lit(1))
    val existing = store.withColumn("is_new", lit(0))
    val w = Window.partitionBy(col("content_hash"))
      .orderBy(col("is_new").desc, col("doc_id"))
    existing.unionByName(incoming.select(existing.columns.toIndexedSeq.map(col): _*))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "is_new")
  }

  /** Metadata-only update (reference storage.rs:109
    * update_document_metadata, batched): replace the metadata columns
    * of matching doc_ids, leaving content and every other row
    * untouched. The update batch is a point-update set — orders of
    * magnitude smaller than the store — so it rides a broadcast left
    * join; the store side stays a single pass with no shuffle.
    */
  def updateMetadata(store: DataFrame, updates: DataFrame,
                     metaCols: Seq[String] = Seq("lang", "source")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one row per doc_id: a duplicated id in the update batch must not
    // fan the left join out and grow the store (the reference's keyed
    // point update cannot). Survivor chosen deterministically by
    // meta-column value order, mirroring upsert's row_number shape.
    val u = updates.select(
        col("doc_id") +: metaCols.map(c => col(c).as(s"_u_$c")): _*)
      .withColumn("_rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(metaCols.map(c => col(s"_u_$c").desc_nulls_last): _*)))
      .filter(col("_rn") === 1).drop("_rn")
    store.join(broadcast(u), Seq("doc_id"), "left")
      .select(store.columns.toIndexedSeq.map {
        case c if metaCols.contains(c) => coalesce(col(s"_u_$c"), col(c)).as(c)
        case c => col(c)
      }: _*)
  }

  /** Zero-copy snapshot (reference advanced_storage.rs:266
    * create_backup / :307 create_checkpoint): record the store's
    * exact current FILE SET in a manifest instead of copying data —
    * the time-travel core of Delta/Iceberg reduced to its essence.
    * O(metadata) regardless of store size; [[readSnapshot]] reads
    * precisely the manifested files, so later APPENDS never leak into
    * the snapshot. A rewriting [[compact]] writes a NEW directory, so
    * snapshots of the old path stay valid until it is vacuumed — the
    * retain-until-dropped contract backup files have in the
    * reference.
    */
  def snapshot(spark: SparkSession, storePath: String, snapPath: String): Unit = {
    val files = spark.read.parquet(storePath).inputFiles.sorted
    val dir = java.nio.file.Paths.get(snapPath)
    java.nio.file.Files.createDirectories(dir)
    // line 1 = basePath (restores partition-column inference), then
    // one data file per line
    java.nio.file.Files.write(dir.resolve("manifest.txt"),
      (storePath +: files.toSeq).mkString("\n").getBytes("UTF-8"))
  }

  /** Read a store AS OF a [[snapshot]]: exactly the manifested files,
    * with partition columns re-derived against the recorded basePath.
    */
  def readSnapshot(spark: SparkSession, snapPath: String): DataFrame = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(snapPath, "manifest.txt"))
    val basePath = lines.get(0)
    val files = (1 until lines.size).map(lines.get)
    spark.read.option("basePath", basePath).parquet(files: _*)
  }

  /** Store maintenance (reference advanced_storage.rs compaction
    * surface): rewrite a store into `filesPerPartition` files per
    * lang partition, sorted by doc_id within each file so point
    * lookups benefit from parquet min/max row-group pruning. Run
    * periodically after streaming/micro-batch ingest has produced
    * many small files.
    */
  def compact(spark: SparkSession, path: String, outPath: String,
              filesPerPartition: Int = 1): Unit =
    spark.read.parquet(path)
      // key by (lang, salt): every lang directory ends up with at most
      // `filesPerPartition` files regardless of shuffle.partitions
      .repartition(col("lang"), pmod(col("doc_id"), lit(filesPerPartition)))
      .sortWithinPartitions(col("doc_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("lang")
      .parquet(outPath)

  /** Multi-dimensional Z-order clustered rewrite — Delta/Iceberg's
    * OPTIMIZE ZORDER reduced to its essence, for stores queried by
    * predicates on MORE than one column. [[compact]]'s single-column
    * sort gives parquet footer min/max pruning on its lead column
    * only: every file spans the full range of every other column, so
    * a predicate on any of them scans the whole store. Z-ordering
    * quantizes each clustering column to a rank bucket (sampled
    * quantile boundaries — ONE sketch pass, ≤2^bits doubles per
    * column on the driver, never a global sort) and bit-interleaves
    * the bucket ids into a space-filling z-value; range-partitioning
    * + in-partition sorting by that value makes each file cover a
    * compact hyper-rectangle of the clustered dimensions, so footer
    * stats prune files for box predicates on ANY subset of the
    * columns — the data-layout half of scan pruning at 100 TB, where
    * "which files can we skip" dominates query cost.
    *
    * Boundary sampling (`approxQuantile`) affects only WHERE files
    * land, never row content — any boundary set yields a correct
    * layout; skew collapses adjacent boundaries and degrades pruning
    * gracefully. StoreLayoutSpec measures the contract directly: a
    * box predicate's candidate-file set (footer min/max overlap) must
    * shrink versus the single-column-sorted layout.
    */
  def zorderWrite(df: DataFrame, zCols: Seq[String], outPath: String,
                  numFiles: Int = 16, bitsPerCol: Int = 6): Unit = {
    require(zCols.size >= 2, "z-ordering needs at least two columns")
    require(bitsPerCol * zCols.size <= 62, "z-value must fit a long")
    val nb = 1 << bitsPerCol
    // the multi-column overload sketches every clustered column in ONE
    // input scan (per-column calls would each re-scan the full store)
    val bounds = zCols.zip(df.stat.approxQuantile(zCols.toArray,
      (1 until nb).map(_.toDouble / nb).toArray, 0.001))
    val buckets = bounds.map { case (c, bs) =>
      bs.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(c).cast("double") >= b, 1).otherwise(0)
      }.as(s"_zb_$c")
    }
    val z = (0 until bitsPerCol).foldLeft(lit(0L)) { (acc, i) =>
      zCols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a + shiftright(col(s"_zb_$c"), i).cast("long").bitwiseAND(lit(1L)) *
          lit(1L << (i * zCols.size + j))
      }
    }
    df.select(df.columns.toIndexedSeq.map(col) ++ buckets: _*)
      .withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z" +: zCols.map(c => s"_zb_$c"): _*)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** The documents schema as DDL — pinned for [[importJsonl]] so an
    * interchange read never pays schema inference (a full extra pass
    * at corpus scale) and never drifts types on an empty or partial
    * dump.
    */
  val DocumentsDdl: String =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** Interchange export: the store as JSON Lines — the lingua franca
    * of every external LLM-data tool (Dolma, CCNet, exported crawl
    * dumps all speak JSONL). A distributed map-only write, one file
    * per partition; gzip keeps the text payload ~4x smaller on the
    * wire. The reference's backup surface is covered by
    * [[snapshot]]; this is the OUTBOUND boundary to non-Spark
    * consumers.
    */
  def exportJsonl(docs: DataFrame, outPath: String): Unit =
    docs.write.mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .json(outPath)

  /** Interchange import: read a JSONL document dump against the
    * pinned store schema and QUARANTINE inadmissible lines. Under
    * PERMISSIVE mode a corrupt line parses to all-null columns
    * (silently indistinguishable from data — without a gate the
    * ingest dedup would admit a ghost all-null document into the
    * store), so admission is keyed on the store key: any line without
    * a `doc_id` — corrupt JSON or merely key-less — is dropped, a
    * row-local map, never a job failure. (Spark's `_corrupt_record`
    * capture column is deliberately not used: reading it is
    * disallowed on raw JSON scans without caching the parse —
    * UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — which a
    * library read must not impose.) At a billion lines some WILL be
    * bad; the result is clean store-schema rows, ready for
    * [[prepare]]/[[ingestDocuments]]'s dedup gate.
    */
  def importJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(DocumentsDdl)
      .json(path)
      .filter(col("doc_id").isNotNull)
}
