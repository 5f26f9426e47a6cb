package graft.operators

import graft.{OpCache, OracleNum, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond the reference's own
  * surface: benchmark decontamination, sequence packing and
  * repetition-quality filtering — the stages a 100 TB LLM data
  * pipeline runs between dedup and tokenization. All three follow the
  * engine's scale rules: eval-set state rides a broadcast, packing is
  * one keyed window pass, repetition stats are a zero-shuffle native
  * map ([[graft.functions.expressions.RepetitionStats]]).
  */
object Curation {
  import OracleNum.{fx, fxSql}

  /** Every `EvalMod`-th doc plays the held-out benchmark set the
    * training corpus must be decontaminated against.
    */
  val EvalMod = 83

  /** Shingle width for contamination matching: 4-token sequences
    * shared with the eval set flag a document (13-gram character
    * overlap is the common published choice; 4 normalized tokens is
    * the same order of specificity on this corpus).
    */
  val DecontN = 4

  /** Benchmark decontamination: flag training documents sharing any
    * [[DecontN]]-token shingle with the eval split, with the distinct
    * collision count as evidence. The eval shingle set is DISTINCT and
    * tiny relative to the corpus (benchmarks are thousands of rows, the
    * corpus is billions) so it broadcasts; the training side is the
    * one-pass [[graft.functions.expressions.ShingleHashes]] sketch map
    * + a broadcast semi-style join + one groupBy(doc_id) — a single
    * keyed shuffle of (hash, id) pairs at any scale, no self-join.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val hashes = column(graft.functions.expressions.ShingleHashes(
      expression(col("text")), DecontN, Dedup.P))
    // split FIRST, sketch second: each branch's doc_id filter sits on
    // its own scan, so the tokenize+shingle-hash map runs exactly once
    // per document (eval docs in the eval branch, train docs in the
    // train branch) — nothing recomputed, nothing persisted
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def sketched(side: DataFrame) =
      Tables.spread(spark, side).select(col("doc_id"), hashes.as("sh"))
    val eval = sketched(base.filter(col("doc_id") % EvalMod === 0))
      .select(explode(col("sh")).as("h")).distinct()
    val train = sketched(base.filter(col("doc_id") % EvalMod =!= 0))
      .select(col("doc_id"), explode(col("sh")).as("h"))
    train.join(broadcast(eval), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_distinct(${wordShinglesSql(tokensSql("text"), DecontN)}) AS shingles
       |  FROM documents
       |), posting AS (
       |  SELECT doc_id, ${hash60Sql("sh")} % ${Dedup.P} AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM docs)
       |), ev AS (
       |  SELECT DISTINCT h FROM posting WHERE doc_id % $EvalMod = 0
       |)
       |SELECT p.doc_id, COUNT(*) AS n_hits
       |FROM posting p JOIN ev USING (h)
       |WHERE p.doc_id % $EvalMod <> 0
       |GROUP BY p.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Bloom false-positive rate for [[decontaminateBloom]]. A DOCUMENT
    * over-flags when ANY of its shingles trips a false positive —
    * per-doc rate ≈ shingles·fpp — so the per-probe rate must sit
    * orders below the tolerable per-doc over-removal: 1e-6 puts a
    * 100-shingle doc at ~1e-4. Bits scale only with ln(1/fpp)
    * (~28.8 bits/item here vs 14.4 at 1e-3), so strictness is cheap.
    */
  val BloomFpp = 1e-6

  /** Bloom-gated decontamination — the at-scale form of
    * [[decontaminate]] for an eval set too large to ride an exact
    * broadcast (the swap the streaming gate's docstring promises:
    * a 1e7-shingle eval corpus is ~hundreds of MB as a long set but
    * ~36 MB as a Bloom filter at fpp 1e-6; past ~1e9 shingles even
    * the filter outgrows a task binary and the exact form's
    * distributed semi-join is the right tool again). Returns the
    * doc_ids the gate would REMOVE: train documents with at least one
    * shingle the filter might contain.
    *
    * The one-sided error is the design point: Bloom filters have NO
    * false negatives, so every document [[decontaminate]] flags is
    * flagged here too (CurationSpec pins exact ⊆ bloom); false
    * positives only over-remove — benign for decontamination, with
    * per-doc over-flag probability ≈ shingle-count · [[BloomFpp]].
    * Cross-engine oracle SQL is deliberately absent (the filter's bit
    * layout is Spark's own) — the driver records the weaker rows-only
    * check and the spec carries the real contract.
    *
    * Scale shape: the filter is built by `stat.bloomFilter`'s
    * treeAggregate over the DISTINCT eval shingles (bit-OR merge —
    * order-independent, deterministic) and rides the task binary as a
    * codegen reference object; the train side is a ZERO-SHUFFLE
    * map+filter — strictly cheaper than the exact form's keyed join,
    * which is the point of the swap.
    */
  def decontaminateBloom(spark: SparkSession, dir: String,
                         fpp: Double = BloomFpp): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def hashes = graft.functions.expressions.ShingleHashes(
      expression(col("text")), DecontN, Dedup.P)
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // count() (the filter's expectedNumItems) and stat.bloomFilter are
    // two jobs over this subtree — persist so the eval tokenize+
    // shingle+distinct pass runs once, release once the filter (a
    // driver-side value) is built
    val eval = Tables.spread(spark, base.filter(col("doc_id") % EvalMod === 0))
      .select(explode(column(hashes)).as("h")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bf =
      try eval.stat.bloomFilter("h", math.max(eval.count(), 1L), fpp)
      finally eval.unpersist()
    Tables.spread(spark, base.filter(col("doc_id") % EvalMod =!= 0))
      .filter(column(graft.functions.expressions.BloomContainsAny(hashes, bf)))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Token budget per packed training sequence. */
  val PackBudget = 256L

  /** Sequence packing (concat-and-chunk): documents are concatenated
    * in (lang, doc_id) order and cut into [[PackBudget]]-token bins; a
    * document belongs to the bin its first token lands in. One window
    * cumsum per lang partition + one groupBy — a single keyed shuffle;
    * at scale lang is replaced by any partition-sized stream key and
    * bins stay deterministic because the order is a total order.
    * Output is the packing manifest a downstream tokenizer consumes:
    * docs and token mass per bin with the covered id range.
    */
  def docPack(spark: SparkSession, dir: String): DataFrame =
    packDocs(Tables.documents(spark, dir))

  /** [[docPack]] over any (doc_id, lang, text) corpus frame — packing
    * composes downstream of dedup/decontamination/quality gates as a
    * plan transform (see PipelineSpec).
    */
  def packDocs(docs: DataFrame): DataFrame = {
    val nToks = size(split(col("text"), " ")).cast("long")
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"), nToks.as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_toks")).cast("double") / PackBudget).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("n_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  val docPackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_toks
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, lang, n_toks,
       |    SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t
       |)
       |SELECT lang, CAST(FLOOR((cum - n_toks)::DOUBLE / $PackBudget) AS BIGINT) AS bin,
       |  COUNT(*) AS n_docs, SUM(n_toks)::BIGINT AS n_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Repetition-ratio thresholds (Gopher-style): a doc is flagged when
    * duplicate tokens exceed half the text or one term exceeds a
    * fifth of it. Compared in fixed-point so both engines agree.
    */
  val DupTokenMax = 5000L  // fx4 of 0.5
  val TopTfMax = 2000L     // fx4 of 0.2

  /** The three Gopher repetition ratios (fx'd) from a MATERIALIZED
    * RepetitionStats column — shared by [[textRepetition]] and the
    * streaming curation gate so the thresholds can never drift apart.
    */
  def repetitionRatioCols(st: Column): (Column, Column, Column) = {
    val n = st.getItem(0).cast("double")
    val nd = st.getItem(1).cast("double")
    val mx = st.getItem(2).cast("double")
    val nb = st.getItem(3).cast("double")
    val nbd = st.getItem(4).cast("double")
    (fx(when(n > 0.0, (n - nd) / n).otherwise(0.0)),
     fx(when(n > 0.0, mx / n).otherwise(0.0)),
     fx(when(nb > 0.0, (nb - nbd) / nb).otherwise(0.0)))
  }

  /** Repetition-quality signals per document: duplicate-token ratio,
    * most-common-term ratio and duplicate-bigram ratio, plus the
    * keep/drop flag the curation pipeline filters on. The five raw
    * counts come from the one-pass native
    * [[graft.functions.expressions.RepetitionStats]] sketch — the
    * whole operator is a zero-shuffle map (the trailing sort is
    * oracle-only).
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val st = column(graft.functions.expressions.RepetitionStats(expression(col("text"))))
    val (dupTok, topTf, dupBi) = repetitionRatioCols(col("st"))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_tokens"),
        dupTok.as("dup_token_ratio"),
        topTf.as("top_tf_ratio"),
        dupBi.as("dup_bigram_ratio"))
      .withColumn("is_repetitive",
        (col("dup_token_ratio") > DupTokenMax || col("top_tf_ratio") > TopTfMax)
          .cast("long"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns (Java and RE2 compatible: char classes + bounded
    * repetition only, no lookarounds — DuckDB's regex engine is RE2).
    * Scala strings; render with doubled backslashes nowhere — the
    * patterns avoid escapes except `\.` and `\b`.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "555-[0-9]{4}"
  val IpRe    = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrubbing: redact emails / phone numbers / IPv4 addresses and
    * count each category — the privacy pass every published web-scale
    * training pipeline runs before tokenization. The synthetic corpus
    * contains no natural PII, so the operator first derives a `dirty`
    * column by deterministically injecting PII fragments keyed on
    * doc_id (identically in the DuckDB oracle), then scrubs THAT —
    * the regex surface is exercised on known-positive and
    * known-negative rows alike. Zero-shuffle map over the corpus
    * (counts + three chained regexp_replace passes, all codegen'd);
    * the trailing sort is oracle-only.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val dirty = concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call 555-"), (col("doc_id") % 9000 + 1000).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" from 10."), (col("doc_id") % 200 + 1).cast("string"),
               lit("."), (col("doc_id") % 250).cast("string"),
               lit("."), (col("doc_id") % 100).cast("string")))
        .otherwise(lit("")))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), dirty.as("dirty"))
      .select(
        col("doc_id"),
        regexp_count(col("dirty"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("dirty"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("dirty"), lit(IpRe)).cast("long").as("n_ips"),
        regexp_replace(regexp_replace(regexp_replace(col("dirty"),
          EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>").as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String = {
    // RE2 in SQL string literals: DuckDB standard strings keep
    // backslashes literal, so `\.`/`\b` pass through unescaped
    val email = EmailRe
    val phone = PhoneRe
    val ip = IpRe
    s"""WITH dirty AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || (doc_id % 9000 + 1000) ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || (doc_id % 200 + 1) || '.' || (doc_id % 250) || '.' || (doc_id % 100) ELSE '' END
       |    AS dirty
       |  FROM documents
       |)
       |SELECT doc_id,
       |  len(regexp_extract_all(dirty, '$email'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(dirty, '$phone'))::BIGINT AS n_phones,
       |  len(regexp_extract_all(dirty, '$ip'))::BIGINT AS n_ips,
       |  regexp_replace(regexp_replace(regexp_replace(dirty,
       |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS scrubbed
       |FROM dirty
       |ORDER BY doc_id""".stripMargin
  }

  /** The end-to-end curation decision — every gate of the corpus
    * pipeline composed into ONE plan, emitting the keep/drop verdict
    * and the first matching drop reason per document:
    * eval split (held out of training) → exact duplicate (not its
    * content-hash group's minimum) → near duplicate (not its minhash
    * cluster's keep) → contaminated (shares a 4-shingle with the eval
    * split) → repetitive (Gopher gates) → kept. This is the query a
    * 100 TB curation run actually materializes. The flag relations
    * are docs-with-that-defect sized — on a real web corpus exact +
    * near dups alone are 30-50% of documents, a corpus FRACTION, not
    * a broadcastable side — so all four ride doc_id-keyed
    * shuffle_hash left joins: the first join hash-partitions the
    * corpus pass on doc_id and the remaining three reuse that exact
    * partitioning (one corpus shuffle total, no sort, no driver
    * materialization; the label-propagation rounds inside the
    * near-dup arm are the only iterative piece).
    */
  /** The per-doc gate-flag relation shared by [[curateCorpus]] and
    * [[curationFunnel]]: one row per document with 0/1 columns for
    * every gate (eval split, exact dup, near dup, contaminated,
    * repetitive). Both composites derive from this ONE relation, and
    * it is shared — within a session the expensive near-dup cluster
    * pass (full minhash + label propagation) runs once and the second
    * composite rides the cache, exactly the derived-relation reuse a
    * 100 TB curation run materializes between its verdict and its
    * gate-ablation report.
    */
  private[graft] def curationFlags(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.hash60
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), hash60(col("text")).as("h"))
    val keepPerHash = docs.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val exactDup = docs.join(keepPerHash, Seq("h"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit(1L).as("f_exact"))
    // the nd arm probes the persisted band layout (bit-equal pairs,
    // spec-pinned): a curation run over an index-maintaining store
    // never re-signs the corpus for its near-dup gate
    val nearDup = Dedup.clustersIndexed(spark, dir)
      .filter(col("is_dup") === 1L)
      .select(col("doc_id"), lit(1L).as("f_near"))
    val contaminated = decontaminate(spark, dir)
      .select(col("doc_id"), lit(1L).as("f_cont"))
    val repetitive = textRepetition(spark, dir)
      .filter(col("is_repetitive") === 1L)
      .select(col("doc_id"), lit(1L).as("f_rep"))
    docs.select(col("doc_id"))
      .join(exactDup.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(nearDup.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(contaminated.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(repetitive.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("doc_id") % EvalMod === 0).cast("long").as("g_eval"),
        coalesce(col("f_exact"), lit(0L)).as("g_exact"),
        coalesce(col("f_near"), lit(0L)).as("g_near"),
        coalesce(col("f_cont"), lit(0L)).as("g_cont"),
        coalesce(col("f_rep"), lit(0L)).as("g_rep"))
      .transform(OpCache.shared("curation.flags"))
  }

  def curateCorpus(spark: SparkSession, dir: String): DataFrame = {
    val reason = when(col("g_eval") === 1L, "eval")
      .when(col("g_exact") === 1L, "exact_dup")
      .when(col("g_near") === 1L, "near_dup")
      .when(col("g_cont") === 1L, "contaminated")
      .when(col("g_rep") === 1L, "repetitive")
      .otherwise("kept")
    curationFlags(spark, dir)
      .select(col("doc_id"), reason.as("reason"))
      .withColumn("kept", (col("reason") === "kept").cast("long"))
      .orderBy(col("doc_id"))
  }

  // lazy: composes textRepetitionSql, declared later in this object —
  // a strict val would capture it before initialization (null)
  lazy val curateCorpusSql: String = {
    val h = hash60Sql("text")
    s"""WITH hashed AS (
       |  SELECT doc_id, $h AS h FROM documents
       |), e AS (
       |  SELECT d.doc_id FROM hashed d
       |  JOIN (SELECT h, MIN(doc_id) AS keep_id FROM hashed GROUP BY h) m USING (h)
       |  WHERE d.doc_id <> m.keep_id
       |), nd AS (
       |  SELECT doc_id FROM (
       |  ${Dedup.clustersSql().replace("\n", "\n  ")}
       |  ) WHERE is_dup = 1
       |), cont AS (
       |  SELECT doc_id FROM (
       |  ${decontaminateSql.replace("\n", "\n  ")}
       |  )
       |), rep AS (
       |  SELECT doc_id FROM (
       |  ${textRepetitionSql.replace("\n", "\n  ")}
       |  ) WHERE is_repetitive = 1
       |), verdict AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id % $EvalMod = 0 THEN 'eval'
       |         WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       |         WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
       |         WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
       |         WHEN rep.doc_id IS NOT NULL THEN 'repetitive'
       |         ELSE 'kept' END AS reason
       |  FROM documents d
       |  LEFT JOIN e ON e.doc_id = d.doc_id
       |  LEFT JOIN nd ON nd.doc_id = d.doc_id
       |  LEFT JOIN cont ON cont.doc_id = d.doc_id
       |  LEFT JOIN rep ON rep.doc_id = d.doc_id
       |)
       |SELECT doc_id, reason, (reason = 'kept')::BIGINT AS kept
       |FROM verdict
       |ORDER BY doc_id""".stripMargin
  }

  /** Gate-ablation census over the [[curateCorpus]] gates: for each
    * gate, how many documents it FLAGS (independent of the verdict's
    * priority order) and how many it UNIQUELY kills (flagged by that
    * gate alone, outside the eval split) — the report a pipeline
    * owner reads to decide whether a gate earns its cost ("would
    * removing the repetition gate change the kept set at all?").
    * [[curateCorpus]]'s `reason` attributes each doc to ONE gate by
    * priority; this is the per-gate truth the priority view hides.
    *
    * Scale shape: the same four corpus-fraction flag relations as
    * curateCorpus (shuffle_hash joined, never broadcast) feeding ONE
    * scalar aggregate with map-side partials — output is a single
    * row, everything integer, no new pair-shaped work.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val flagged = curationFlags(spark, dir)
    val others = Map(
      "g_exact" -> Seq("g_near", "g_cont", "g_rep"),
      "g_near"  -> Seq("g_exact", "g_cont", "g_rep"),
      "g_cont"  -> Seq("g_exact", "g_near", "g_rep"),
      "g_rep"   -> Seq("g_exact", "g_near", "g_cont"))
    def unique(g: String) = sum(
      (col(g) === 1L && col("g_eval") === 0L &&
        others(g).map(col(_) === 0L).reduce(_ && _)).cast("long"))
    flagged.agg(
      count(lit(1)).as("n_docs"),
      sum(col("g_eval")).as("n_eval"),
      sum(col("g_exact")).as("n_exact"),
      sum(col("g_near")).as("n_near"),
      sum(col("g_cont")).as("n_cont"),
      sum(col("g_rep")).as("n_rep"),
      unique("g_exact").as("u_exact"),
      unique("g_near").as("u_near"),
      unique("g_cont").as("u_cont"),
      unique("g_rep").as("u_rep"),
      sum((col("g_eval") === 0L && col("g_exact") === 0L && col("g_near") === 0L &&
        col("g_cont") === 0L && col("g_rep") === 0L).cast("long")).as("n_kept"))
  }

  lazy val curationFunnelSql: String = {
    val h = hash60Sql("text")
    def u(g: String, o1: String, o2: String, o3: String) =
      s"SUM(CASE WHEN $g = 1 AND g_eval = 0 AND $o1 = 0 AND $o2 = 0 AND $o3 = 0 THEN 1 ELSE 0 END)::BIGINT"
    s"""WITH hashed AS (
       |  SELECT doc_id, $h AS h FROM documents
       |), e AS (
       |  SELECT d.doc_id FROM hashed d
       |  JOIN (SELECT h, MIN(doc_id) AS keep_id FROM hashed GROUP BY h) m USING (h)
       |  WHERE d.doc_id <> m.keep_id
       |), nd AS (
       |  SELECT doc_id FROM (
       |  ${Dedup.clustersSql().replace("\n", "\n  ")}
       |  ) WHERE is_dup = 1
       |), cont AS (
       |  SELECT doc_id FROM (
       |  ${decontaminateSql.replace("\n", "\n  ")}
       |  )
       |), rep AS (
       |  SELECT doc_id FROM (
       |  ${textRepetitionSql.replace("\n", "\n  ")}
       |  ) WHERE is_repetitive = 1
       |), flagged AS (
       |  SELECT d.doc_id,
       |    (d.doc_id % $EvalMod = 0)::BIGINT AS g_eval,
       |    (e.doc_id IS NOT NULL)::BIGINT AS g_exact,
       |    (nd.doc_id IS NOT NULL)::BIGINT AS g_near,
       |    (cont.doc_id IS NOT NULL)::BIGINT AS g_cont,
       |    (rep.doc_id IS NOT NULL)::BIGINT AS g_rep
       |  FROM documents d
       |  LEFT JOIN e ON e.doc_id = d.doc_id
       |  LEFT JOIN nd ON nd.doc_id = d.doc_id
       |  LEFT JOIN cont ON cont.doc_id = d.doc_id
       |  LEFT JOIN rep ON rep.doc_id = d.doc_id
       |)
       |SELECT COUNT(*)::BIGINT AS n_docs,
       |  SUM(g_eval)::BIGINT AS n_eval,
       |  SUM(g_exact)::BIGINT AS n_exact,
       |  SUM(g_near)::BIGINT AS n_near,
       |  SUM(g_cont)::BIGINT AS n_cont,
       |  SUM(g_rep)::BIGINT AS n_rep,
       |  ${u("g_exact", "g_near", "g_cont", "g_rep")} AS u_exact,
       |  ${u("g_near", "g_exact", "g_cont", "g_rep")} AS u_near,
       |  ${u("g_cont", "g_exact", "g_near", "g_rep")} AS u_cont,
       |  ${u("g_rep", "g_exact", "g_near", "g_cont")} AS u_rep,
       |  SUM(CASE WHEN g_eval = 0 AND g_exact = 0 AND g_near = 0
       |           AND g_cont = 0 AND g_rep = 0 THEN 1 ELSE 0 END)::BIGINT AS n_kept
       |FROM flagged""".stripMargin
  }

  /** Target mixture weights in basis points per source domain — the
    * declared recipe a pretraining run mixes its corpus to (Pile/Dolma
    * style domain weighting). Three upweighted domains exercise the
    * keep-all cap (their targets exceed their share of the corpus);
    * the long tail downsamples toward its 294 bp targets.
    */
  val MixWeights: Seq[(String, Int)] =
    Seq("src0" -> 2500, "src1" -> 1500, "src2" -> 1000) ++
      (3 to 19).map(i => s"src$i" -> 294)

  /** Domain-mixture sampling: downsample each source toward its
    * [[MixWeights]] share of the corpus token budget. Rates are
    * DATA-DERIVED (unlike [[TextAnalysis.sampleStratified]]'s declared
    * per-stratum rates): pass 1 aggregates per-source token mass, the
    * target token count for source s is `w_bp(s) * T div 10000` of the
    * corpus total T, and the acceptance rate caps at keep-all when the
    * target exceeds what the source has — the no-upsampling half of
    * water-filling, all in integer basis points (`div`, not `/`:
    * w_bp*T overflows a double's 2^53 exact range at 100 TB corpus
    * token counts). Pass 2 keeps a document iff its content hash
    * clears the source's rate gate — reproducible on any cluster,
    * stable under repartitioning. Both passes are map + tiny
    * aggregate; per-source state is bounded by the domain count, so
    * every join rides a broadcast of a constant-bounded relation.
    */
  def corpusMix(spark: SparkSession, dir: String,
                weights: Seq[(String, Int)] = MixWeights): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val wBp = weights.foldLeft(Option.empty[Column]) {
      case (None, (s, w))    => Some(when(col("source") === s, w.toLong))
      case (Some(c), (s, w)) => Some(c.when(col("source") === s, w.toLong))
    }.get.otherwise(0L)
    // corpus total as an unpartitioned window over the PER-SOURCE stats
    // (domain-count rows — bounded at any corpus size, same rationale
    // as the hybrid branch-ranking windows): a separate stats.agg()
    // subtree is NOT deduped by Catalyst against stats itself and
    // re-scanned the whole corpus for one number
    val rates = stats
      .withColumn("total_tok",
        sum(col("n_tokens")).over(Window.partitionBy()))
      .withColumn("w_bp", wBp)
      .withColumn("rate_bp",
        least(lit(10000L),
          expr("(10000L * ((w_bp * total_tok) div 10000L)) div n_tokens")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("rate_bp"))
    // ONE conditional aggregation over the gated join carries the
    // input stats, the rate and the kept mass together: no post-join
    // filter (a source whose every doc fails the gate must still
    // report a row) and no second rates join — the rates subtree
    // appears once, so the whole operator is exactly two corpus scans
    // (Catalyst does not dedupe repeated DataFrame subtrees; the
    // previous rates-then-left-join shape paid a third)
    val gate = (hash60(col("text")) % 10000L) < col("rate_bp")
    docs
      .join(broadcast(rates.select(col("source"), col("rate_bp"))), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        first(col("rate_bp")).as("rate_bp"),
        count(when(gate, 1)).as("kept_docs"),
        coalesce(sum(when(gate, col("toks"))), lit(0L)).as("kept_tokens"))
      .orderBy(col("source"))
  }

  val corpusMixSql: String = {
    val wBp = MixWeights.map { case (s, w) => s"WHEN '$s' THEN $w" }
      .mkString("CASE source ", " ", " ELSE 0 END")
    s"""WITH d AS (
       |  SELECT doc_id, source, text,
       |    len(string_split(text, ' '))::BIGINT AS toks
       |  FROM documents
       |), stats AS (
       |  SELECT source, COUNT(*)::BIGINT AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS n_tokens
       |  FROM d GROUP BY source
       |), tot AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tok FROM stats
       |), rates AS (
       |  SELECT source, n_docs, n_tokens,
       |    least(10000, (10000 * (($wBp * total_tok) // 10000)) // n_tokens)::BIGINT AS rate_bp
       |  FROM stats, tot
       |), kept AS (
       |  SELECT d.source, COUNT(*)::BIGINT AS kept_docs,
       |    CAST(SUM(d.toks) AS BIGINT) AS kept_tokens
       |  FROM d JOIN rates r USING (source)
       |  WHERE (${hash60Sql("text")} % 10000) < r.rate_bp
       |  GROUP BY d.source
       |)
       |SELECT r.source, r.n_docs, r.n_tokens, r.rate_bp,
       |  COALESCE(k.kept_docs, 0) AS kept_docs,
       |  COALESCE(k.kept_tokens, 0) AS kept_tokens
       |FROM rates r LEFT JOIN kept k USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---- quality-prioritized token-budget fill ----

  /** Total whitespace-token budget [[tokenBudget]] fills, split across
    * sources by [[MixWeights]].
    */
  val BudgetTokens = 12000L

  /** Quality-prioritized token-budget fill: admit the best documents
    * of each source, best-first by the [[TextAnalysis.quality]] score,
    * until the source's share of [[BudgetTokens]] (its [[MixWeights]]
    * basis points) is spent — the "give me N tokens at these domain
    * weights, highest quality first" selection a pretraining run makes
    * once dedup/decontamination have gated the pool (the budget-fill
    * counterpart of [[corpusMix]]'s rate-based downsampling).
    *
    * A naive formulation sorts every source's documents by score and
    * takes a running-total prefix — a per-source corpus-sized sort
    * window, exactly the shape the plan-hygiene sweep bans (a source
    * is a handful of giant partitions at 100 TB). Instead the budget
    * boundary is resolved on a BOUNDED relation: pass 1 aggregates
    * token mass per (source, quality-centile) — ≤101 rows per source
    * regardless of corpus size — and a window over that level table
    * finds each source's boundary centile and its remaining budget;
    * levels strictly above the boundary are admitted with a broadcast
    * join and NO doc-level ordering at all. Only the single boundary
    * centile per source (~1% of its documents) pays a doc-level
    * running-total window, keyed by the same content-free hash draw
    * the sampling operators use. Integer arithmetic throughout
    * (`DIV`, fx centiles) — exact cross-engine at any magnitude.
    */
  def tokenBudget(spark: SparkSession, dir: String,
                  budget: Long = BudgetTokens,
                  weights: Seq[(String, Int)] = MixWeights): DataFrame = {
    val (nToks, _, q) = TextAnalysis.qualityParts(col("text"))
    // persisted: the regex-heavy quality map is the operator's
    // dominant cost and BOTH the level aggregate and the doc-level
    // admit join consume this relation — without the cache the scoring
    // pipeline runs twice (measured 68 → 36s at a 500k-doc sf10). The
    // cached rows are 4 scalars per doc — far below the text they
    // replace — and disk-spillable.
    val docs = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"),
        nToks.cast("long").as("toks"), fx(q, 6).as("q6"))
      .select(col("doc_id"), col("source"), col("toks"),
        expr("q6 DIV 10000").as("qbkt"))
      .transform(OpCache.shared("curation.mix.docs"))
    val wBp = weights.foldLeft(Option.empty[Column]) {
      case (None, (s, w))    => Some(when(col("source") === s, w.toLong))
      case (Some(c), (s, w)) => Some(c.when(col("source") === s, w.toLong))
    }.get.otherwise(0L)
    // level table: ≤101 centiles × |sources| rows — bounded, so the
    // desc-cumulative window and the broadcast back are both safe
    val lvlWin = Window.partitionBy(col("source")).orderBy(col("qbkt").desc)
    val verdict = docs.groupBy(col("source"), col("qbkt"))
      .agg(sum(col("toks")).as("lvl_toks"))
      .withColumn("w_bp", wBp)
      .withColumn("b_s", expr(s"(w_bp * ${budget}L) DIV 10000"))
      .withColumn("cum", sum(col("lvl_toks")).over(lvlWin))
      .select(col("source"), col("qbkt"),
        (col("cum") <= col("b_s")).as("full_lvl"),
        (col("cum") - col("lvl_toks") < col("b_s") && col("cum") > col("b_s")).as("boundary"),
        (col("b_s") - (col("cum") - col("lvl_toks"))).as("rem"))
    val joined = docs.join(broadcast(verdict), Seq("source", "qbkt"))
    val fullAdmit = joined.filter(col("full_lvl"))
      .select(col("doc_id"), col("source"), col("qbkt"), col("toks"))
    // the boundary window's partitions are single (source, centile)
    // groups — a bounded fraction of any source, never the source
    val bWin = Window.partitionBy(col("source"))
      .orderBy((hash60(col("doc_id")) % 1000000L).asc, col("doc_id"))
    val boundaryAdmit = joined.filter(col("boundary"))
      .withColumn("bcum", sum(col("toks")).over(bWin))
      .filter(col("bcum") <= col("rem"))
      .select(col("doc_id"), col("source"), col("qbkt"), col("toks"))
    fullAdmit.unionAll(boundaryAdmit).orderBy(col("doc_id"))
  }

  val tokenBudgetSql: String = {
    val wtVals = MixWeights.map { case (s, w) => s"('$s', $w)" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS toks,
       |    ${fxSql(TextAnalysis.qualityQSql, 6)} // 10000 AS qbkt
       |  FROM documents
       |), wt AS (
       |  SELECT * FROM (VALUES $wtVals) AS t(source, w_bp)
       |), lvl AS (
       |  SELECT source, qbkt, SUM(toks)::BIGINT AS lvl_toks
       |  FROM d GROUP BY source, qbkt
       |), cum AS (
       |  SELECT l.source, l.qbkt, l.lvl_toks,
       |    (w.w_bp::BIGINT * $BudgetTokens) // 10000 AS b_s,
       |    SUM(l.lvl_toks) OVER (PARTITION BY l.source ORDER BY l.qbkt DESC) AS cum
       |  FROM lvl l JOIN wt w USING (source)
       |), v AS (
       |  SELECT source, qbkt, (cum <= b_s) AS full_lvl,
       |    (cum - lvl_toks < b_s AND cum > b_s) AS boundary,
       |    b_s - (cum - lvl_toks) AS rem
       |  FROM cum
       |), j AS (
       |  SELECT d.doc_id, d.source, d.qbkt, d.toks, v.full_lvl, v.boundary, v.rem
       |  FROM d JOIN v USING (source, qbkt)
       |), badmit AS (
       |  SELECT doc_id, source, qbkt, toks FROM (
       |    SELECT doc_id, source, qbkt, toks, rem,
       |      SUM(toks) OVER (PARTITION BY source
       |        ORDER BY (${hash60Sql("doc_id")} % 1000000), doc_id) AS bcum
       |    FROM j WHERE boundary)
       |  WHERE bcum <= rem
       |)
       |SELECT doc_id, source, qbkt, toks FROM j WHERE full_lvl
       |UNION ALL
       |SELECT doc_id, source, qbkt, toks FROM badmit
       |ORDER BY doc_id""".stripMargin
  }

  val textRepetitionSql: String = {
    val toks = tokensSql("text")
    val n = "len(toks)::DOUBLE"
    val nd = "len(list_distinct(toks))::DOUBLE"
    val mx = "COALESCE(list_max(list_transform(list_distinct(toks), x -> len(list_filter(toks, y -> y = x)))), 0)::DOUBLE"
    val bi = wordShinglesSql("toks", 2)
    val nb = s"len($bi)::DOUBLE"
    val nbd = s"len(list_distinct($bi))::DOUBLE"
    val dupTok = s"CASE WHEN $n > 0.0 THEN ($n - $nd) / $n ELSE 0.0 END"
    val topTf = s"CASE WHEN $n > 0.0 THEN $mx / $n ELSE 0.0 END"
    val dupBi = s"CASE WHEN $nb > 0.0 THEN ($nb - $nbd) / $nb ELSE 0.0 END"
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks FROM documents
       |), r AS (
       |  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       |    ${fxSql(dupTok)} AS dup_token_ratio,
       |    ${fxSql(topTf)} AS top_tf_ratio,
       |    ${fxSql(dupBi)} AS dup_bigram_ratio
       |  FROM t
       |)
       |SELECT *, (dup_token_ratio > $DupTokenMax OR top_tf_ratio > $TopTfMax)::BIGINT AS is_repetitive
       |FROM r
       |ORDER BY doc_id""".stripMargin
  }

  // ---- model-based quality gate ----

  /** Fixed weights of the linear quality model: a stand-in for a
    * trained fastText/logistic quality classifier (the published
    * CCNet/Gopher-style pipelines gate on exactly such a model). The
    * FEATURES are the real pipeline; swapping learned weights in is a
    * constant edit.
    */
  val QBias = -1.8; val QwLen = 2.0; val QwPunct = -4.0
  val QwStop = 3.0; val QwDigit = -2.0

  /** Model-based quality filtering: a logistic model over the same
    * surface statistics [[TextAnalysis.quality]] reports (length
    * saturation, punctuation/digit noise, stopword naturalness),
    * emitting the raw margin, the sigmoid score and the keep
    * decision. The decision is taken on the MARGIN's sign (pure
    * +,*,/ arithmetic — bit-identical across engines), never on the
    * transcendental sigmoid, so the gate cannot flip on a last-ulp
    * exp() divergence. Zero shuffles — a pure map at any corpus
    * size, exactly like the reference's per-document scoring hooks
    * (lib.rs add_document runs per-doc transforms inline).
    */
  /** The logistic-gate margin z over a text column — shared by
    * [[qualityLogit]] and the streaming curation gate.
    */
  def qualityZ(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTokens = size(split(text, " ")).cast("double")
    val rawToks = transform(split(lower(text), " "), t => regexp_replace(t, "[^a-z0-9]", ""))
    val stopToks = size(filter(rawToks, t => t.isin(StopWords: _*))).cast("double")
    val alnumSpace = length(regexp_replace(lower(text), "[^a-z0-9 ]", "")).cast("double")
    val digits = nChars - length(regexp_replace(text, "[0-9]", "")).cast("double")
    lit(QBias) +
      lit(QwLen) * least(lit(1.0), nTokens / 50.0) +
      lit(QwPunct) * ((nChars - alnumSpace) / nChars) +
      lit(QwStop) * least(lit(1.0), (stopToks / greatest(nTokens, lit(1.0))) * 5.0) +
      lit(QwDigit) * (digits / nChars)
  }

  def qualityLogit(spark: SparkSession, dir: String): DataFrame = {
    val z = qualityZ(col("text"))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), fx(z, 6).as("margin"),
        fx(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("score"),
        (z >= 0.0).cast("long").as("keep"))
      .orderBy(col("doc_id"))
  }

  val qualityLogitSql: String = {
    val nChars = "length(text)::DOUBLE"
    val nTokens = "len(string_split(text, ' '))::DOUBLE"
    val rawToks = "list_transform(string_split(lower(text), ' '), t -> regexp_replace(t, '[^a-z0-9]', '', 'g'))"
    val stopToks = s"len(list_filter($rawToks, t -> list_contains($stopWordsSql, t)))::DOUBLE"
    val alnumSpace = "length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))::DOUBLE"
    val digits = s"($nChars - length(regexp_replace(text, '[0-9]', '', 'g'))::DOUBLE)"
    val z = s"($QBias + $QwLen * least(1.0, $nTokens / 50.0)" +
      s" + $QwPunct * (($nChars - $alnumSpace) / $nChars)" +
      s" + $QwStop * least(1.0, ($stopToks / greatest($nTokens, 1.0)) * 5.0)" +
      s" + $QwDigit * ($digits / $nChars))"
    s"""SELECT doc_id, ${fxSql(z, 6)} AS margin,
       |  ${fxSql(s"1.0 / (1.0 + exp(-($z)))", 4)} AS score,
       |  ($z >= 0.0)::BIGINT AS keep
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ---- training-shard manifest ----

  /** Shard count for the training-shard manifest. */
  val NumShards = 16

  /** Training-shard manifest: assign every document a deterministic
    * shard by content-independent id hash (stable under re-partitions
    * and re-runs on any cluster) and report each shard's document and
    * token mass plus its basis-point share of the corpus — what a
    * tokenizer/trainer consumes to plan balanced data-parallel reads.
    * One map + one [[NumShards]]-ary aggregate (map-side partials);
    * the share window runs over shard-count rows, bounded at any
    * corpus size.
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        (hash60(col("doc_id")) % NumShards).as("shard"))
    docs.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .withColumn("share_bp",
        expr(s"(10000L * n_tokens) div sum(n_tokens) over ()"))
      .orderBy(col("shard"))
  }

  val shardManifestSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, n_chars,
       |    len(string_split(text, ' '))::BIGINT AS toks,
       |    ${hash60Sql("doc_id")} % $NumShards AS shard
       |  FROM documents
       |), s AS (
       |  SELECT shard, COUNT(*)::BIGINT AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |    MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |  FROM d GROUP BY shard
       |)
       |SELECT shard, n_docs, n_tokens, n_chars, min_doc, max_doc,
       |  CAST((10000 * n_tokens) // (SUM(n_tokens) OVER ()) AS BIGINT) AS share_bp
       |FROM s
       |ORDER BY shard""".stripMargin

  /** CCNet-style perplexity bucketing: label every document head /
    * middle / tail by where its bigram-LM surprise
    * ([[TextAnalysis.lmScore]]) falls against its OWN source's
    * surprise distribution (per-source terciles — a fluent domain's
    * "tail" is judged by that domain's norms, the detail that makes
    * CCNet's filtering work across mixed corpora). The tercile
    * thresholds are exact interpolated percentiles over the fx'd
    * integer scores — per-source sorted state, the oracle-comparable
    * form exactly like events_quantiles, with approx_percentile as
    * the documented 100 TB swap behind the same column shape — and
    * the thresholds relation is sources-ary, joined back shuffle_hash
    * on source (riding the score relation's own partitioning; never
    * broadcast — a web corpus can carry 1e6+ domains). Bucket
    * comparison is integer-vs-fx'd-threshold, deterministic
    * cross-engine.
    */
  /** Shared lineage of [[ccnetBuckets]] and [[ccnetBucketsSketch]] —
    * the twins differ ONLY in how the per-source (p33, p66) threshold
    * columns aggregate (exact interpolated percentile vs
    * approx_percentile), so everything else lives once (the ANN
    * twins' single-extraction-point rule). The scored relation feeds
    * BOTH the threshold aggregate and the final labeling join;
    * Catalyst does not dedupe repeated DataFrame subtrees, so without
    * the persist the whole lmScore pipeline (instance-bigram shuffle
    * included) runs twice. The cached relation is three narrow
    * columns, one row per doc, disk-spillable — the dedup CC
    * label-relation precedent.
    */
  private def ccnetBucketsWith(spark: SparkSession, dir: String,
                               thresholds: Column => Seq[Column]): DataFrame = {
    val scored = TextAnalysis.lmScore(spark, dir)
      .select(col("doc_id"), col("mean_surprise_fx"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val docs = scored.join(src.hint("shuffle_hash"), Seq("doc_id"))
      .transform(OpCache.shared("curation.ccnet.docs"))
    val ts = thresholds(col("mean_surprise_fx"))
    val thr = docs.groupBy(col("source")).agg(ts.head, ts.tail: _*)
    docs.join(thr.hint("shuffle_hash"), Seq("source"))
      .select(col("doc_id"), col("source"), col("mean_surprise_fx"),
        when(col("mean_surprise_fx") <= col("p33"), "head")
          .when(col("mean_surprise_fx") <= col("p66"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketsWith(spark, dir, { c =>
      val qs = percentile(c, array(lit(1.0 / 3), lit(2.0 / 3)))
      Seq(fx(element_at(qs, 1), 0).as("p33"), fx(element_at(qs, 2), 0).as("p66"))
    })

  /** The 100 TB percentile path of [[ccnetBuckets]] as RUNNABLE code,
    * not prose (the events_quantiles_sketch convention): per-source
    * tercile thresholds via `approx_percentile` (Greenwald-Khanna
    * sketch — bounded memory per source, map-side mergeable) instead
    * of the exact form's per-source sorted state. Thresholds are
    * actual data values from the fx'd integer scores, so buckets stay
    * deterministic; agreement with the exact form is spec-pinned at
    * ≥ 99% of documents (sketch error only ever reassigns docs within
    * epsilon of a cut point). No cross-engine oracle (sketch
    * internals are Spark's own) — rows-only check + the spec.
    */
  def ccnetBucketsSketch(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketsWith(spark, dir, { c =>
      val qs = approx_percentile(c, array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000))
      Seq(element_at(qs, 1).as("p33"), element_at(qs, 2).as("p66"))
    })

  lazy val ccnetBucketsSql: String =
    s"""WITH lm AS (
       |${TextAnalysis.lmScoreSql.replace("\n", "\n  ")}
       |), d AS (
       |  SELECT lm.doc_id, s.source, lm.mean_surprise_fx
       |  FROM lm JOIN documents s USING (doc_id)
       |), thr AS (
       |  SELECT source,
       |    ${fxSql("quantile_cont(mean_surprise_fx, 1.0/3)", 0)} AS p33,
       |    ${fxSql("quantile_cont(mean_surprise_fx, 2.0/3)", 0)} AS p66
       |  FROM d GROUP BY source
       |)
       |SELECT doc_id, source, mean_surprise_fx,
       |  CASE WHEN mean_surprise_fx <= p33 THEN 'head'
       |       WHEN mean_surprise_fx <= p66 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM d JOIN thr USING (source)
       |ORDER BY doc_id""".stripMargin

  /** Per-source duplication report: for each source domain, how many
    * documents are exact-content duplicates (members of a content-hash
    * group with >1 copies) and the basis-point duplicate rate — the
    * per-domain quality signal curation pipelines use to DROP or
    * down-weight an entire crawler/source before paying for
    * doc-by-doc dedup (a boilerplate-heavy domain shows up here first).
    * Shape: one corpus aggregate keyed on the 60-bit content hash
    * (map-side partials), the per-hash copy count joined back
    * shuffle_hash on the same hash key — the duplicate-flag relation
    * is corpus-fraction-sized, the exact class the r4 verdict banned
    * from broadcast — then a sources-ary aggregate, bounded output.
    */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), hash60(col("text")).as("h"))
    val copies = docs.groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
    docs.join(copies.hint("shuffle_hash"), Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum((col("n_copies") > 1).cast("long")).as("n_dup"))
      .withColumn("dup_bp", expr("(10000L * n_dup) div n_docs"))
      .orderBy(col("source"))
  }

  val dupRateBySourceSql: String =
    s"""WITH d AS (
       |  SELECT source, ${hash60Sql("text")} AS h FROM documents
       |), c AS (
       |  SELECT h, COUNT(*)::BIGINT AS n_copies FROM d GROUP BY h
       |), f AS (
       |  SELECT source, n_copies FROM d JOIN c USING (h)
       |)
       |SELECT source, COUNT(*)::BIGINT AS n_docs,
       |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  CAST((10000 * SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS dup_bp
       |FROM f
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Graded contamination: per training document, the FRACTION of its
    * distinct [[DecontN]]-token shingles shared with the eval split —
    * the published decontamination recipes threshold on overlap ratio
    * (a doc quoting one benchmark sentence differs from a verbatim
    * copy), where [[decontaminate]] only reports membership counts.
    *
    * Scale shape: same as [[decontaminate]] — the distinct eval
    * shingle set broadcasts (benchmarks are tiny vs the corpus), the
    * training side is one sketch-map + LEFT broadcast join + one
    * groupBy(doc_id), then one co-partitioned doc_id left join back
    * onto the training base so EVERY training doc keeps a row: zero
    * overlap reports ratio 0, and a doc too short to produce a single
    * [[DecontN]]-token shingle reports n_shingles = 0 / contam_bp = 0
    * instead of silently vanishing. The output is corpus-sized and
    * the driver's hash covers every decision.
    */
  def decontaminateOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val hashes = column(graft.functions.expressions.ShingleHashes(
      expression(col("text")), DecontN, Dedup.P))
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // ShingleHashes emits per-doc-DISTINCT hashes (the SQL twin's
    // list_distinct), so the train posting needs no extra shuffle
    def posting(side: DataFrame) =
      Tables.spread(spark, side).select(col("doc_id"), hashes.as("sh"))
        .select(col("doc_id"), explode(col("sh")).as("h"))
    val eval = posting(base.filter(col("doc_id") % EvalMod === 0))
      .select(col("h"), lit(1L).as("hit")).distinct()
    val train = Tables.spread(spark, base.filter(col("doc_id") % EvalMod =!= 0))
    val agg = posting(train)
      .join(broadcast(eval), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    // the keep-every-doc left join reads doc_id STRAIGHT off the
    // parquet scan (no spread: the repartition exists for the
    // CPU-heavy shingle map, and on an id-only projection it is a
    // pure round-robin exchange of keys), and pins shuffle_hash like
    // every other corpus-fraction join here — unhinted, the planner
    // fell back to SortMergeJoin past broadcast-estimate scale
    // (observed at sf0.1: two extra Sorts over the corpus)
    base.filter(col("doc_id") % EvalMod =!= 0).select(col("doc_id"))
      .join(agg.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contam_bp",
        when(col("n_shingles") > 0, expr("(10000L * n_hits) div n_shingles"))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  val decontaminateOverlapSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_distinct(${wordShinglesSql(tokensSql("text"), DecontN)}) AS shingles
       |  FROM documents
       |), posting AS (
       |  -- no DISTINCT: list_distinct already deduped the shingle
       |  -- STRINGS; post-hash collisions must stay, as in ShingleHashes
       |  SELECT doc_id, ${hash60Sql("sh")} % ${Dedup.P} AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM docs)
       |), ev AS (
       |  SELECT DISTINCT h FROM posting WHERE doc_id % $EvalMod = 0
       |), agg AS (
       |  SELECT p.doc_id, COUNT(*)::BIGINT AS n_shingles,
       |    SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits
       |  FROM posting p LEFT JOIN ev ON p.h = ev.h
       |  WHERE p.doc_id % $EvalMod <> 0
       |  GROUP BY p.doc_id
       |)
       |SELECT d.doc_id,
       |  COALESCE(a.n_shingles, 0)::BIGINT AS n_shingles,
       |  COALESCE(a.n_hits, 0)::BIGINT AS n_hits,
       |  CASE WHEN COALESCE(a.n_shingles, 0) > 0
       |       THEN ((10000 * a.n_hits) // a.n_shingles)::BIGINT
       |       ELSE 0::BIGINT END AS contam_bp
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |WHERE d.doc_id % $EvalMod <> 0
       |ORDER BY d.doc_id""".stripMargin

  /** Fixed-point (6 dp) cosine above which [[decontaminateSemantic]]
    * flags a training vector as contamination — near-copy territory;
    * paraphrased eval leakage the n-gram gates can't see sits here.
    */
  val SemContamCosFx = 900000L

  /** Embedding-space decontamination — the semantic sibling of the
    * n-gram [[decontaminate]] family: flag TRAINING vectors whose
    * embedding is near-identical (cosine ≥ 0.9) to any EVAL-split
    * vector. N-gram gates miss paraphrases and translations of
    * benchmark items; the embedding gate is the published
    * countermeasure. Same [[EvalMod]] held-out convention on the
    * embeddings table.
    *
    * Candidate generation is the dedup_embedding banding: both sides
    * bucket on the shared deterministic hyperplane signature and only
    * same-bucket (train, eval) pairs score — near-copies sign-agree on
    * every plane, so true contamination collides with its source
    * by construction. Output: per candidate training vector, the
    * candidate count, the max fixed-point cosine, and the flag.
    *
    * Scale shape: the eval side is usually a bounded benchmark suite,
    * but HERE it is a corpus fraction (vec_id % EvalMod), so "bounded"
    * is an assumption, not a property — one gating aggregate MEASURES
    * the banded eval relation (rows and summed embedding elements)
    * and only broadcasts under ~64 MB; past the bar the join falls
    * back to a bucket-keyed shuffle_hash (both sides exchange once on
    * `bucket` — still no self-join and no pair space over the
    * corpus). Same gated-broadcast discipline as
    * [[graft.operators.Dedup.minhashIncrementalFromIndex]]'s verify
    * strategy; CurationSpec pins both paths row-identical with the
    * plan shape asserted on each side of the bar.
    */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame =
    decontaminateSemanticFromVecs(
      Tables.embeddings(spark, dir).select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("emb")))

  /** [[decontaminateSemantic]] over a prepared (vec_id, emb) relation
    * — split out so specs can drive planted-contamination corpora
    * through the exact production path.
    */
  private[graft] def decontaminateSemanticFromVecs(
      vecs: DataFrame,
      maxRows: Long = SemEvalBroadcastMaxRows,
      maxElems: Long = SemEvalBroadcastMaxElems): DataFrame = {
    val planes = VectorSearch.lshPlanes(64, VectorSearch.LshPlanes)
    val banded = vecs.withColumn("bucket", VectorSearch.lshBucket(col("emb"), planes))
    val eval = banded.filter(col("vec_id") % EvalMod === 0)
      .select(col("bucket"), col("emb").as("eemb"))
      // two consumers (the gate and the join): without the cache the
      // eval scan runs twice, and the gate's whole point is to stay
      // cheaper than the work it gates
      .transform(OpCache.shared("curation.semantic.eval"))
    // measured gate: broadcast only when the ACTUAL eval payload fits
    // (row count alone does not bound bytes — embedding width does)
    val (nEval, evElems) = {
      val r = eval.agg(count(lit(1)), sum(size(col("eemb")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val train = banded.filter(col("vec_id") % EvalMod =!= 0)
    val evalSide =
      if (nEval <= maxRows && evElems <= maxElems) broadcast(eval)
      else eval.hint("shuffle_hash")
    train.join(evalSide, Seq("bucket"))
      .select(col("vec_id"),
        fx(graft.functions.VectorFunctions.cosineSimilarity(col("emb"), col("eemb")), 6)
          .as("cos"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_cand"), max(col("cos")).as("max_cos"))
      .select(col("vec_id"), col("n_cand"), col("max_cos"),
        (col("max_cos") >= SemContamCosFx).cast("long").as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** Broadcast gates for [[decontaminateSemanticFromVecs]]'s eval
    * side: at or below this many banded eval rows AND this many summed
    * embedding elements (≈64 MB of doubles) the eval relation
    * broadcasts and the training corpus is never exchanged; above
    * either bound the eval split is corpus-sized and both sides take
    * one bucket-keyed exchange instead. Both figures are MEASURED by
    * the gating aggregate, so the broadcast is size-bounded by
    * construction — never by the "benchmarks are small" assumption.
    */
  val SemEvalBroadcastMaxRows = 500000L
  val SemEvalBroadcastMaxElems = 8000000L

  val decontaminateSemanticSql: String = {
    val planes = VectorSearch.lshPlanes(64, VectorSearch.LshPlanes)
    val planesSql = planes.map(_.mkString("[", ",", "]")).mkString("[", ", ", "]")
    val sig = (0 until VectorSearch.LshPlanes).map { j =>
      s"(CASE WHEN list_dot_product(emb, planes[${j + 1}]::DOUBLE[]) > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)"
    }.mkString(" + ")
    s"""WITH e0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb, $planesSql AS planes FROM embeddings
       |), banded AS (
       |  SELECT vec_id, emb, ($sig) AS bucket FROM e0
       |), hits AS (
       |  SELECT t.vec_id,
       |    ${fxSql(VectorSearch.cosineSql("t.emb", "e.emb"), 6)} AS cos
       |  FROM banded t JOIN banded e USING (bucket)
       |  WHERE t.vec_id % $EvalMod <> 0 AND e.vec_id % $EvalMod = 0
       |)
       |SELECT vec_id, COUNT(*)::BIGINT AS n_cand, MAX(cos) AS max_cos,
       |  (MAX(cos) >= $SemContamCosFx)::BIGINT AS contaminated
       |FROM hits GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** Temperature exponent for [[corpusSampleTemp]]: α = 0.5 (square
    * root) — the mT5/XLM-R multilingual rebalancing choice that lifts
    * low-resource sources without flattening the mix entirely.
    */
  val TempAlpha = 0.5

  /** Temperature-based source resampling: re-weight each source
    * proportional to (n_s/N)^α, then decide per document — by a
    * deterministic content-free hash coin on doc_id — whether it joins
    * a corpus-half-sized target mix. The standard multilingual /
    * multi-source rebalancing stage (sources too big get downsampled
    * hard, small sources keep nearly everything), reported per source
    * with a kept-id checksum so every per-doc decision lands in the
    * driver's hash.
    *
    * Determinism: every per-source weight is quantized to 6 dp BEFORE
    * the normalizing sum (sqrt of the same rational is
    * correctly-rounded IEEE on both engines; integer sums are
    * order-free where a double sum is not), and the keep test
    * `m · Σw · n_s < w_s · T · 10^6` runs entirely in DECIMAL(38,0) /
    * HUGEINT cross-products — the same overflow-proof idiom as
    * events_ab — so engines agree bit-for-bit at any corpus size.
    *
    * Scale shape: the source census is one tiny groupBy (sources are
    * dozens); its Σw rides back on a one-row broadcast; the keep
    * decision is a zero-shuffle map over the corpus; final report is
    * one sources-ary aggregate. Nothing users- or corpus-shaped ever
    * sorts or broadcasts.
    */
  def corpusSampleTemp(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val census = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val total = census.agg(sum(col("n_s")).as("n_total"),
      count(lit(1)).as("n_sources"))
    // w6 = round(sqrt(n_s / N) * 1e6): per-source, quantized pre-sum
    val weighted = census.crossJoin(broadcast(total))
      .withColumn("w6",
        floor(sqrt(col("n_s").cast("double") / col("n_total")) * 1e6 + 0.5).cast("long"))
    val norm = weighted.agg(sum(col("w6")).as("sum_w6")).crossJoin(broadcast(
      total.select(col("n_total"))))
    val dec = "decimal(38,0)"
    val kept = docs
      .join(broadcast(weighted.select(col("source"), col("n_s"), col("w6"))), Seq("source"))
      .crossJoin(broadcast(norm))
      // target size T = N/2; keep iff hash-frac(doc_id) < w_s·T / (Σw·n_s)
      .withColumn("m", hash60(col("doc_id")) % 1000000L)
      .withColumn("keep",
        col("m").cast(dec) * col("sum_w6").cast(dec) * col("n_s").cast(dec) <
          col("w6").cast(dec) * expr("n_total DIV 2").cast(dec) * lit(1000000L).cast(dec))
    kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("keep").cast("long")).as("n_kept"),
           sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
      .orderBy(col("source"))
  }

  /** DSIR feature space: hashed n-gram buckets (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling").
    * 4096 buckets keeps BOTH distribution tables bounded and
    * broadcastable at any corpus size — the whole point of hashed
    * features over raw n-gram vocabularies.
    */
  val DsirBuckets = 4096

  /** The target-domain split for [[dsirWeights]]: documents from this
    * source play the "high-quality target" corpus (the paper's
    * Wikipedia+books side); the full corpus is the raw side.
    */
  val DsirTarget = "src0"

  /** DSIR importance weights: per-document log-likelihood ratio of a
    * hashed-n-gram bag-of-words model of the target domain vs the raw
    * corpus — the data-selection score of Xie et al. 2023 (importance
    * resampling picks raw documents with probability ∝ exp(weight)).
    * Features are unigrams + bigrams hashed into [[DsirBuckets]]
    * buckets; bucket probabilities are Laplace-smoothed; the weight is
    * Σ_grams log(p_target[b]/p_raw[b]).
    *
    * Cross-engine determinism follows the [[graft.operators.TextAnalysis.lmScore]]
    * convention: each bucket's log-ratio is fixed-pointed ONCE
    * ([[OracleNum.fx]]) and the per-doc score is an integer
    * Σ k·fx(s) — order-free where a double sum is not.
    *
    * Scale shape: gram instances compress to per-(doc, bucket)
    * multiplicities in ONE keyed shuffle with map-side partials; both
    * distribution tables are ≤ [[DsirBuckets]] rows (aggregated from
    * the compressed relation, not the instance stream) and ride back
    * on broadcasts; scoring is a broadcast join + one doc-keyed
    * aggregate. No corpus-shaped relation is ever sorted, broadcast
    * or joined to itself — the same plan serves 100 TB with the
    * bucket tables still a few KB.
    */
  /** Per-(doc, source, bucket) gram multiplicities — the compressed
    * relation every DSIR consumer derives from. Persisted because
    * THREE downstream branches consume it (the bucket-stats
    * aggregate, its totals and the scoring join) and Spark has no
    * subtree reuse: without the cache the tokenize+hash+aggregate
    * instance pass runs once per branch (measured: five full corpus
    * scans in the uncached plan). The cached relation is
    * per-(doc, bucket) multiplicities — ≤[[DsirBuckets]] rows per doc,
    * far below the gram instance stream — and disk-spillable.
    */
  private[graft] def dsirInst(spark: SparkSession, dir: String): DataFrame = {
    val B = DsirBuckets.toLong
    Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(concat(col("toks"), wordShingles(col("toks"), 2))).as("g"))
      .select(col("doc_id"), col("source"), (hash60(col("g")) % B).as("b"))
      // the gram stream shuffles ONCE, keyed on doc_id (r11): hash
      // partitioning by doc_id is a valid clustering for the
      // (doc, source, bucket) aggregate below AND for every
      // doc_id-keyed consumer above the cache — the scoring
      // aggregate and its join side in [[dsirWeightsUnsorted]] reuse
      // this exchange instead of re-shuffling the whole compressed
      // relation a second time. The trade is losing map-side partial
      // aggregation on this exchange, which is worth ~3-5% here: a
      // doc's grams hash into [[DsirBuckets]] buckets nearly
      // injectively (200-2000 grams into 4096 buckets), so partials
      // barely compress. Skew exposure is unchanged — a giant doc's
      // grams were already produced by the single task holding its
      // row, and the per-doc aggregate state is bucket-bounded.
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("k"))
      .transform(OpCache.shared("curation.dsirInst"))
  }

  /** Both DSIR bucket-count tables in ONE aggregate over [[dsirInst]]:
    * (bucket, raw count, target count). ≤[[DsirBuckets]] rows.
    */
  private[graft] def dsirBucketStats(inst: DataFrame): DataFrame =
    inst.groupBy(col("b")).agg(
      sum(col("k")).as("cr"),
      sum(when(col("source") === DsirTarget, col("k")).otherwise(0L)).as("ct"))

  /** Dense (raw, target) bucket-count arrays for the point-serving
    * tier ([[graft.sources.PointServe.loadDsir]]): one Spark pass,
    * ≤[[DsirBuckets]] rows collected.
    */
  private[graft] def dsirCounts(spark: SparkSession, dir: String): (Array[Long], Array[Long]) = {
    val raw = new Array[Long](DsirBuckets)
    val tgt = new Array[Long](DsirBuckets)
    dsirBucketStats(dsirInst(spark, dir)).collect().foreach { r =>
      val b = r.getLong(0).toInt
      raw(b) = r.getLong(1)
      tgt(b) = r.getLong(2)
    }
    (raw, tgt)
  }

  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsUnsorted(spark, dir).orderBy(col("doc_id"))

  /** [[dsirWeights]] without the presentation sort — the relation
    * [[dsirSelect]] builds its TakeOrdered head over (an upstream sort
    * under a top-N would be a wasted corpus-sized exchange).
    */
  private[graft] def dsirWeightsUnsorted(spark: SparkSession, dir: String): DataFrame = {
    val B = DsirBuckets.toLong
    val inst = dsirInst(spark, dir)
    val stats = dsirBucketStats(inst)
    val tots = stats.agg(sum(col("cr")).as("totr"),
      coalesce(sum(col("ct")), lit(0L)).as("tott"))
    // products cast to double BEFORE multiplying: (ct+1)·(totr+B) in
    // integers overflows a long once the corpus passes ~1e9 tokens
    val s = fx(log(
      ((col("ct") + 1L).cast("double") * (col("totr") + B).cast("double")) /
        ((col("cr") + 1L).cast("double") * (col("tott") + B).cast("double"))))
    val ratio = stats.crossJoin(broadcast(tots)).select(col("b"), s.as("s"))
    val scored = inst
      .join(broadcast(ratio), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_feats"), sum(col("k") * col("s")).as("weight_fx"))
    // all-docs left base: a zero-gram doc has no inst rows but still
    // gets a (0, 0) report row (oracle parity)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(scored.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("weight_fx"), lit(0L)).as("weight_fx"))
  }

  /** Documents drawn by [[dsirSelect]]. */
  val DsirSelectN = 200

  /** DSIR selection — the importance-RESAMPLING half of Xie et al.
    * 2023 that [[dsirWeights]] scores for: draw [[DsirSelectN]]
    * documents with inclusion probability ∝ the importance ratio
    * exp(weight), via priority sampling (Duffield, Lund & Thorup,
    * JACM 2007: per-item key u/w for uniform u, keep the smallest
    * keys) carried in the log domain so the fixed-point weight is
    * used as-is: key_fx = fx(ln u) − weight_fx. The uniform is the
    * content-free per-doc hash draw every sampling operator here uses
    * ([[corpusMix]]'s gate convention) — reproducible on any cluster,
    * stable under repartitioning, replayable by the oracle.
    *
    * Scale shape: the weights relation's plan (bounded broadcast
    * tables + one doc-keyed aggregate) topped by a
    * TakeOrderedAndProject — per-partition top-N then a driver merge
    * of N·partitions rows; no global sort, no new shuffle.
    */
  def dsirSelect(spark: SparkSession, dir: String, n: Int = DsirSelectN): DataFrame = {
    val u = ((hash60(col("doc_id")) % 1000000L) + 1L).cast("double") / lit(1000001.0)
    dsirWeightsUnsorted(spark, dir)
      .select(col("doc_id"), col("weight_fx"),
        (fx(log(u)) - col("weight_fx")).as("key_fx"))
      .orderBy(col("key_fx"), col("doc_id"))
      .limit(n)
  }

  /** The shared DSIR CTE chain (base → inst → scored) both
    * [[dsirWeightsSql]] and [[dsirSelectSql]] build on.
    */
  private[graft] val dsirCoreSql: String = {
    val B = DsirBuckets
    val s = fxSql(s"ln(((COALESCE(t.ct, 0) + 1)::DOUBLE * (totr + $B)::DOUBLE) / " +
      s"((cr + 1)::DOUBLE * (tott + $B)::DOUBLE))")
    s"""WITH base AS (
       |  SELECT doc_id, source, ${tokensSql("text")} AS toks FROM documents
       |), inst AS (
       |  SELECT doc_id, source, ${hash60Sql("g")} % $B AS b, COUNT(*)::BIGINT AS k
       |  FROM (SELECT doc_id, source,
       |          unnest(list_concat(toks, ${wordShinglesSql("toks", 2)})) AS g
       |        FROM base)
       |  GROUP BY 1, 2, 3
       |), rawc AS (
       |  SELECT b, SUM(k)::BIGINT AS cr FROM inst GROUP BY b
       |), tgtc AS (
       |  SELECT b, SUM(k)::BIGINT AS ct FROM inst WHERE source = '$DsirTarget' GROUP BY b
       |), tots AS (
       |  SELECT (SELECT SUM(k)::BIGINT FROM inst) AS totr,
       |         (SELECT COALESCE(SUM(k), 0)::BIGINT FROM inst WHERE source = '$DsirTarget') AS tott
       |), ratio AS (
       |  SELECT r.b, $s AS s
       |  FROM rawc r LEFT JOIN tgtc t USING (b), tots
       |), scored AS (
       |  SELECT doc_id, SUM(k)::BIGINT AS n_feats,
       |    CAST(SUM(k * s) AS BIGINT) AS weight_fx
       |  FROM inst JOIN ratio USING (b)
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  val dsirWeightsSql: String =
    s"""$dsirCoreSql
       |SELECT b.doc_id,
       |  COALESCE(sc.n_feats, 0) AS n_feats,
       |  COALESCE(sc.weight_fx, 0) AS weight_fx
       |FROM base b LEFT JOIN scored sc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val dsirSelectSql: String = {
    val u = s"(((${hash60Sql("doc_id")} % 1000000) + 1)::DOUBLE / 1000001.0)"
    s"""$dsirCoreSql, w AS (
       |  SELECT b.doc_id, COALESCE(sc.weight_fx, 0) AS weight_fx
       |  FROM base b LEFT JOIN scored sc USING (doc_id)
       |)
       |SELECT doc_id, weight_fx,
       |  ${fxSql(s"ln($u)")} - weight_fx AS key_fx
       |FROM w
       |ORDER BY key_fx, doc_id
       |LIMIT $DsirSelectN""".stripMargin
  }

  val corpusSampleTempSql: String =
    s"""WITH census AS (
       |  SELECT source, COUNT(*)::BIGINT AS n_s FROM documents GROUP BY source
       |), total AS (
       |  SELECT SUM(n_s)::BIGINT AS n_total FROM census
       |), weighted AS (
       |  SELECT source, n_s,
       |    CAST(FLOOR(SQRT(n_s::DOUBLE / n_total) * 1000000 + 0.5) AS BIGINT) AS w6
       |  FROM census, total
       |), norm AS (
       |  SELECT SUM(w6)::BIGINT AS sum_w6, ANY_VALUE(n_total) AS n_total
       |  FROM weighted, total
       |), kept AS (
       |  SELECT d.doc_id, d.source, w.n_s, w.w6, n.sum_w6, n.n_total,
       |    (${hash60Sql("d.doc_id")} % 1000000) AS m
       |  FROM documents d JOIN weighted w USING (source), norm n
       |)
       |SELECT source, COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN m::HUGEINT * sum_w6::HUGEINT * n_s::HUGEINT
       |             < w6::HUGEINT * (n_total // 2)::HUGEINT * 1000000::HUGEINT
       |      THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  SUM(CASE WHEN m::HUGEINT * sum_w6::HUGEINT * n_s::HUGEINT
       |             < w6::HUGEINT * (n_total // 2)::HUGEINT * 1000000::HUGEINT
       |      THEN doc_id ELSE 0 END)::BIGINT AS kept_id_sum
       |FROM kept
       |GROUP BY source
       |ORDER BY source""".stripMargin
}
