package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Every operator reads through here so the scan is a plain parquet
  * relation Catalyst can push filters/projections into. No caching at
  * this layer — callers decide what to persist.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Fact loaders route through the bucketed-store switch: when
    * [[graft.sources.StoreLayout]] has a bucketed layout built from
    * this dir registered (and the session hasn't pinned
    * `spark.graft.store.bucketed=off`), the scan is the bucketed
    * table — exchange-free under order-keyed joins/aggregates — and
    * raw parquet otherwise. Same rows either way; only the physical
    * layout differs.
    */
  private def fact(spark: SparkSession, dir: String, name: String): DataFrame =
    sources.StoreLayout.bucketedOrNone(spark, dir, name)
      .getOrElse(table(spark, dir, name))

  def lineitem(spark: SparkSession, dir: String): DataFrame  = fact(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = fact(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  /** The driver's events.parquet has stored ts as TIMESTAMP(NANOS)
    * (earlier rounds) and as TIMESTAMP(MICROS) without a UTC flag
    * (current data) — dispatch on the type actually read so either
    * generation loads, always normalizing to TimestampType at
    * microsecond precision with UTC epoch semantics (every session
    * here pins spark.sql.session.timeZone=UTC, so the NTZ cast is
    * epoch-exact).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    // bucketed-store switch first: the stored table was built through
    // [[eventsRaw]], so its ts is already normalized TimestampType
    sources.StoreLayout.bucketedOrNone(spark, dir, "events")
      .getOrElse(eventsRaw(spark, dir))

  private[graft] def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      // DIV (integer division) — `col / 1000L` is DOUBLE division, and
      // epoch-nanos (~1.7e18) exceed a double's 2^53 exact range, so the
      // rounded quotient lands ±1µs off DuckDB's truncating ns→µs
      // conversion. Exposed by any operator emitting exact epoch micros.
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Total on-disk bytes of a table's raw parquet — the measured scale
    * gate for optimizations whose FIXED cost (an extra bounded pass, a
    * sketch build) only pays above a data volume (q9's Bloom
    * pre-filter, the decontaminateSemantic broadcast bar precedent:
    * gates measure, never assume). File metadata only — no scan.
    */
  def inputBytes(spark: SparkSession, dir: String, name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Ensure at least default-parallelism partitions before a CPU-heavy
    * map stage (tokenize/hash pipelines). A small local corpus arrives
    * as ONE parquet split, which would serialize the whole map onto a
    * single task; at real scale the scan already has thousands of
    * splits and this is a no-op — the gate keeps the repartition from
    * ever shuffling a big corpus.
    */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    // probe the file index, not df.rdd — instantiating the RDD lineage
    // at plan-build time would materialize physical planning for every
    // query in an otherwise DataFrame-pure build. One parquet file can
    // still split into many tasks, so this gate over-repartitions only
    // in the tiny-local case it exists for.
    val files = df.inputFiles.length
    if (files > 0 && files < p) df.repartition(p) else df
  }
}

/** Shared numeric conventions for the DuckDB-oracle comparison.
  *
  * Double aggregation order differs between engines, so raw doubles
  * never hash-match. Convention: every float-valued output column is
  * reduced to fixed-point BIGINT via floor(x*10^p + 0.5) — identical
  * arithmetic on both engines, immune to last-ulp jitter.
  */
object OracleNum {
  import org.apache.spark.sql.Column

  /** Fixed-point: round half-up at 10^-p, emitted as BIGINT. */
  def fx(c: Column, p: Int = 4): Column =
    floor(c * math.pow(10, p).toLong + lit(0.5)).cast("long")

  /** DuckDB-side rendering of [[fx]]. */
  def fxSql(e: String, p: Int = 4): String =
    s"CAST(FLOOR(($e) * ${math.pow(10, p).toLong} + 0.5) AS BIGINT)"

  /** ORDER-INDEPENDENT money sum: quantize every term to 6 decimal
    * places (an exact decimal — a double is essentially never at the
    * half-ulp tie, so both engines round it to the same 6-dp value)
    * and sum in exact decimal arithmetic. A plain double SUM depends
    * on partition/merge order, and on a large enough group the
    * last-ulp jitter lands exactly on an [[fx]] rounding boundary
    * (observed on q8 at sf0.1: one group in 175 off by 1 at 1e-2).
    * Decimal partial sums stay map-side mergeable — scale-free.
    */
  def moneySum(c: Column): Column = {
    import org.apache.spark.sql.functions.sum
    sum(c.cast("decimal(30,6)"))
  }

  /** DuckDB-side rendering of [[moneySum]]. */
  def moneySumSql(e: String): String = s"SUM(CAST(($e) AS DECIMAL(30,6)))"

  /** [[fx]] of a [[moneySum]], with the exact decimal total cast to
    * double FIRST on BOTH engines. Feeding the decimal straight into
    * fx diverges: Spark coerces `decimal + 0.5d` to DOUBLE while
    * DuckDB keeps `DECIMAL * 100 + 0.5` exact, so past ~1e10 group
    * totals the two sides round a different representation. One
    * explicit, shared double conversion of the SAME exact decimal is
    * deterministic everywhere.
    */
  def moneyFx(c: Column, p: Int = 2): Column = fx(moneySum(c).cast("double"), p)

  /** DuckDB-side rendering of [[moneyFx]]. */
  def moneyFxSql(e: String, p: Int = 2): String =
    fxSql(s"(${moneySumSql(e)})::DOUBLE", p)
}
