package graft.operators

import graft.{OracleNum, Tables}
import graft.functions.expressions.{ParseMediaHeader, SynthMedia}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** Multimodal column plumbing: media as opaque binary columns with
  * typed metadata, decoded in partition-local codegen'd kernels.
  *
  * The decode is REAL: each document's bytes are wrapped in a genuine
  * BMP / PCM-WAV / AVI container ([[graft.functions.expressions.SynthMedia]]
  * writes the formats' actual headers) and the query path recovers
  * width/height/frames/sample-rate by parsing the actual header bytes
  * ([[graft.functions.expressions.ParseMediaHeader]] dispatches on
  * file magic and reads the real field offsets). The oracle predicts
  * the fields from the synthesis formulas, so a wrong writer OR
  * reader breaks the hash compare. The only synthetic step left is
  * the payload itself (no codecs in the container, so pixel/sample
  * data is stand-in text bytes); swapping in real assets changes no
  * plan shape — the parse is a map-only column expression at any
  * scale.
  */
object Multimodal {
  import OracleNum.fxSql

  /** A binary media asset row. */
  final case class MediaAsset(asset_id: Long, media_type: String, payload: Array[Byte])

  /** Decoded metadata. */
  final case class DecodedMeta(asset_id: Long, media_type: String,
                               n_bytes: Long, width: Long, height: Long,
                               frames: Long, sample_rate: Long)

  /** doc_id → media type assignment (1/3 each). */
  private def mediaTypeCol: Column =
    when(col("doc_id") % 3 === 0, "image")
      .when(col("doc_id") % 3 === 1, "audio").otherwise("video")

  private val mediaTypeSql =
    "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"

  /** Synthesized container column: real header + text-byte payload. */
  private def assetCol: Column =
    column(SynthMedia(expression(encode(col("text"), "UTF-8")), expression(mediaTypeCol)))

  /** Parsed-header long-array column (see ParseMediaHeader slots). */
  private def parsed(asset: Column): Column = column(ParseMediaHeader(expression(asset)))

  /** Metadata extraction by parsing the container header. media_type
    * is derived from the PARSED kind (not the input assignment), so
    * the magic-dispatch itself is oracle-checked.
    */
  def meta(spark: SparkSession, dir: String): DataFrame = {
    val h = parsed(col("asset"))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id").as("asset_id"), md5(encode(col("text"), "UTF-8")).as("payload_md5"),
        assetCol.as("asset"))
      .select(
        col("asset_id"),
        when(h.getItem(0) === 0, "image").when(h.getItem(0) === 1, "audio")
          .when(h.getItem(0) === 2, "video").otherwise("unknown").as("media_type"),
        octet_length(col("asset")).cast("long").as("n_bytes"),
        col("payload_md5"),
        h.getItem(1).as("width"),
        h.getItem(2).as("height"),
        h.getItem(3).as("frames"),
        h.getItem(4).as("sample_rate"),
        h.getItem(5).as("channels"),
        h.getItem(6).as("data_bytes"))
      .orderBy(col("asset_id"))
  }

  val metaSql: String =
    s"""WITH m AS (
       |  SELECT doc_id AS asset_id, $mediaTypeSql AS media_type,
       |    octet_length(encode(text))::BIGINT AS n, md5(text) AS payload_md5
       |  FROM documents
       |)
       |SELECT asset_id, media_type,
       |  (n + CASE media_type WHEN 'image' THEN 54 WHEN 'audio' THEN 44 ELSE 100 END)::BIGINT AS n_bytes,
       |  payload_md5,
       |  (CASE WHEN media_type = 'audio' THEN 0 ELSE n % 1280 + 16 END)::BIGINT AS width,
       |  (CASE WHEN media_type = 'audio' THEN 0 ELSE n % 720 + 9 END)::BIGINT AS height,
       |  (CASE media_type WHEN 'image' THEN 1 WHEN 'audio' THEN 0 ELSE n % 30 + 1 END)::BIGINT AS frames,
       |  (CASE WHEN media_type = 'audio'
       |        THEN CASE n % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END
       |        ELSE 0 END)::BIGINT AS sample_rate,
       |  (CASE WHEN media_type = 'audio' THEN n % 2 + 1 ELSE 0 END)::BIGINT AS channels,
       |  n AS data_bytes
       |FROM m
       |ORDER BY asset_id""".stripMargin

  /** Feature extraction over the binary payload: an 8-bin positional
    * byte histogram (STUB for a real media embedding; see
    * [[graft.functions.expressions.ByteFeatures]]) plus the
    * normalized bin-0 share. Map-only — the plan shape of any
    * per-asset feature kernel at any scale.
    */
  def features(spark: SparkSession, dir: String): DataFrame = {
    val payload = encode(col("text"), "UTF-8")
    val feats = column(graft.functions.expressions.ByteFeatures(expression(payload)))
    val f = (0 until 8).map(d => col("f").getItem(d).as(s"f$d"))
    val total = (0 until 8).map(d => col(s"f$d")).reduce(_ + _)
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id").as("asset_id"), feats.as("f"))
      .select(col("asset_id") +: f: _*)
      .select(col("asset_id") +: (0 until 8).map(d => col(s"f$d")) :+
        OracleNum.fx(col("f0").cast("double") / total.cast("double"), 6).as("f0_share"): _*)
      .orderBy(col("asset_id"))
  }

  val featuresSql: String = {
    // byte i (0-based) of the payload via one hex() pass per row
    def byteAt(i: String) = s"('0x' || substr(h, 2 * ($i) + 1, 2))::BIGINT"
    val bins = (0 until 8).map { d =>
      s"COALESCE(list_sum(list_transform(range(0, octet_length(p)), i -> CASE WHEN i % 8 = $d THEN ${byteAt("i")} ELSE 0 END)), 0)::BIGINT AS f$d"
    }.mkString(",\n    ")
    val total = (0 until 8).map(d => s"f$d").mkString(" + ")
    s"""WITH b AS (
       |  SELECT doc_id AS asset_id, encode(text) AS p, hex(encode(text)) AS h
       |  FROM documents
       |), f AS (
       |  SELECT asset_id, $bins FROM b
       |)
       |SELECT asset_id, ${(0 until 8).map(d => s"f$d").mkString(", ")},
       |  ${fxSql(s"f0::DOUBLE / ($total)::DOUBLE", 6)} AS f0_share
       |FROM f
       |ORDER BY asset_id""".stripMargin
  }

  /** Even frame sampling over VIDEO assets: the frame count comes
    * from the parsed AVI MainAVIHeader (dwTotalFrames), the data size
    * from the movi chunk; up to 4 frame indices per asset with their
    * byte offsets into the data section — the Generate-based plan
    * shape of real video frame extraction.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val h = parsed(col("asset"))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("asset_id"), assetCol.as("asset"))
      .select(col("asset_id"), h.getItem(3).as("frames"), h.getItem(6).as("data_bytes"))
      .select(col("asset_id"), col("frames"),
        explode(sequence(lit(0L), col("frames") - 1,
          greatest(floor((col("frames") + lit(3)) / lit(4)).cast("long"), lit(1L)))).as("frame_idx"),
        (col("data_bytes") / col("frames")).cast("long").as("frame_bytes"))
      .select(col("asset_id"), col("frames"), col("frame_idx"),
        (col("frame_idx") * col("frame_bytes")).as("byte_offset"))
      .orderBy(col("asset_id"), col("frame_idx"))
  }

  val frameSampleSql: String =
    s"""WITH m AS (
       |  SELECT doc_id AS asset_id,
       |    octet_length(encode(text))::BIGINT AS n_bytes,
       |    (octet_length(encode(text)) % 30 + 1)::BIGINT AS frames
       |  FROM documents WHERE doc_id % 3 = 2
       |)
       |SELECT asset_id, frames, unnest(range(0, frames, greatest((frames + 3) // 4, 1)))::BIGINT AS frame_idx,
       |  (unnest(range(0, frames, greatest((frames + 3) // 4, 1))) * (n_bytes // frames))::BIGINT AS byte_offset
       |FROM m
       |ORDER BY asset_id, frame_idx""".stripMargin

  /** Aspect-preserving resize over visual (image/video) assets: fit
    * the PARSED (width, height) into a 256-box with exact integer
    * arithmetic (identical in both engines; the decoded pixel data
    * would feed through the same column contract).
    */
  def resize(spark: SparkSession, dir: String, box: Int = 256): DataFrame = {
    val h = parsed(col("asset"))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .filter(col("doc_id") % 3 =!= 1)
      .select(col("doc_id").as("asset_id"), assetCol.as("asset"))
      .select(col("asset_id"), h.getItem(1).as("width"), h.getItem(2).as("height"))
      .select(col("asset_id"), col("width"), col("height"),
        floor(col("width") * box / greatest(col("width"), col("height"))).cast("long").as("new_width"),
        floor(col("height") * box / greatest(col("width"), col("height"))).cast("long").as("new_height"))
      .orderBy(col("asset_id"))
  }

  def resizeSql(box: Int = 256): String =
    s"""WITH m AS (
       |  SELECT doc_id AS asset_id,
       |    (octet_length(encode(text)) % 1280 + 16)::BIGINT AS width,
       |    (octet_length(encode(text)) % 720 + 9)::BIGINT AS height
       |  FROM documents WHERE doc_id % 3 != 1
       |)
       |SELECT asset_id, width, height,
       |  (width * $box // greatest(width, height))::BIGINT AS new_width,
       |  (height * $box // greatest(width, height))::BIGINT AS new_height
       |FROM m
       |ORDER BY asset_id""".stripMargin

  /** Batched per-partition decode — the execution shape a real codec
    * would use (decode N payloads per partition without per-row JVM
    * crossings), running the same real header parser as the column
    * path.
    */
  def decodeBatch(spark: SparkSession, assets: Dataset[MediaAsset]): Dataset[DecodedMeta] = {
    import spark.implicits._
    import graft.functions.expressions.{ParseMediaHeader => P}
    assets.mapPartitions { it =>
      // real implementation: load codec once per partition, then
      // decode each payload — here the "codec" is the header parser
      it.map { a =>
        val h = P.compute(a.payload)
        val kind = h.getLong(P.Kind) match {
          case 0 => "image"; case 1 => "audio"; case 2 => "video"; case _ => "unknown"
        }
        DecodedMeta(a.asset_id, kind, a.payload.length.toLong,
          h.getLong(P.Width), h.getLong(P.Height), h.getLong(P.Frames),
          h.getLong(P.SampleRate))
      }
    }
  }

  /** Build a MediaAsset dataset of real containers from the documents
    * table.
    */
  def assets(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id").as("asset_id"), mediaTypeCol.as("media_type"),
        assetCol.as("payload"))
      .as[MediaAsset]
  }

  /** Perceptual near-dup grouping over the IMAGE assets — media dedup
    * by content, not bytes: each container is hashed with the 60-bit
    * average-hash kernel ([[graft.functions.expressions.MediaAHash]]
    * parses the real header to find the data region, then thresholds
    * 60 cell means against the global mean — classic aHash), and
    * assets sharing a hash are copy groups. Identical pixel data ⇒
    * identical hash regardless of header framing; near-identical data
    * lands within small Hamming distance (MultimodalSpec pins both).
    * Every step is integer arithmetic, so the hash itself — not just
    * the grouping — is DuckDB-oracle-checked from the synthesis
    * formula. Scale shape: one zero-shuffle map to (asset, hash), one
    * hash-keyed aggregate for copy counts, joined back shuffle_hash
    * on the same key — the [[Curation.dupRateBySource]] shape; the
    * Hamming-band near-dup expansion at scale is [[Dedup]]'s simhash
    * banding applied to this hash column.
    */
  def phashDup(spark: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("asset_id"),
        column(graft.functions.expressions.MediaAHash(
          expression(assetCol))).as("ahash"))
      // undecodable/empty assets (hash -1) drop here — the oracle's
      // byte-range unnest never emits them, and a shared -1 sentinel
      // must not form a fake copy group
      .filter(col("ahash") =!= -1L)
    val groups = hashed.groupBy(col("ahash")).agg(count(lit(1)).as("n_copies"))
    hashed.join(groups.hint("shuffle_hash"), Seq("ahash"))
      .select(col("asset_id"), col("ahash"), col("n_copies"))
      .orderBy(col("asset_id"))
  }

  /** Perceptual NEAR-dup pairs over the image assets — the promised
    * at-scale Hamming-band expansion made real: the per-asset aHash
    * relation feeds [[Dedup.simhashPairsFromWords]], the exact
    * pigeonhole-banded pair search (four 15-bit bands guarantee every
    * Hamming≤3 pair shares a band; over-cap buckets salt-subdivide),
    * so near-identical images surface WITHOUT an all-pairs join. The
    * DuckDB oracle checks against the literal all-pairs form, proving
    * the banding loses nothing at the ≤3 radius.
    *
    * Natural corpora at small SF may hold NO two assets within
    * Hamming≤3 — an empty==empty oracle match proves nothing — so the
    * searched corpus is widened with PLANTED near-dup twins: every
    * 10th image asset (doc_id % 30 = 0) contributes a copy (twin id
    * = −doc_id−1, collision-free at any scale) whose first payload
    * byte is bumped by +128 mod 256. One byte moving one cell mean
    * flips at most a few aHash bits, so the twins land within the
    * band radius and the banded path is exercised on TRUE positive
    * pairs; the oracle replays the identical perturbation before its
    * all-pairs join, keeping the compare exact and non-empty
    * (MultimodalSpec additionally pins that planted (twin, original)
    * pairs actually surface).
    */
  def phashNear(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "the 4x15-bit pigeonhole banding is exact only to Hamming 3")
    val imgs = Tables.spread(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    // planted twin: first byte +128 mod 256, rest unchanged
    val b0 = conv(hex(expr("substring(payload, 1, 1)")), 16, 10).cast("long")
    val twins = imgs
      .filter(col("doc_id") % 30 === 0 && octet_length(col("payload")) > 0)
      .select((col("doc_id") * -1 - 1).as("doc_id"),
        concat(unhex(lpad(hex((b0 + 128) % 256), 2, "0")),
          expr("substring(payload, 2, octet_length(payload) - 1)")).as("payload"))
    val words = imgs.unionByName(twins)
      .select(col("doc_id"),
        column(graft.functions.expressions.MediaAHash(expression(
          column(SynthMedia(expression(col("payload")),
            expression(lit("image"))))))).as("ahash"))
      // parity with the all-pairs oracle: undecodable assets (-1)
      // never enter the pair search (two empties are not near-dups)
      .filter(col("ahash") =!= -1L)
      .select(col("doc_id"),
        array(col("ahash").bitwiseAND(lit(0xFFFFFFFFL)),
          shiftright(col("ahash"), 32)).as("words"))
    Dedup.simhashPairsFromWords(words, maxHamming, "multimodal.phash")
      .select(col("id1").as("asset1"), col("id2").as("asset2"), col("hamming"))
      .orderBy(col("asset1"), col("asset2"))
  }

  /** DuckDB twin of [[phashNear]]: the all-pairs Hamming join the
    * banding must reproduce exactly, over the twin-widened corpus.
    */
  def phashNearSql(maxHamming: Int = 3): String =
    s"""${phashHashCtesFrom(phashNearImgCte)}
       |SELECT a.asset_id AS asset1, b.asset_id AS asset2,
       |  bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
       |FROM hashed a JOIN hashed b ON a.asset_id < b.asset_id
       |WHERE bit_count(xor(a.ahash, b.ahash)) <= $maxHamming
       |ORDER BY asset1, asset2""".stripMargin

  /** PCM energy / silence analysis over the AUDIO assets — the
    * speech-curation front-end (silence trimming, loudness gates, VAD
    * windowing) run for real: the WAV data chunk is decoded as the
    * signed 16-bit little-endian samples its header declares
    * ([[graft.functions.expressions.PcmEnergy]]), windowed at 256
    * samples, and each window's integer mean-square energy compared
    * to the silence floor. Map-only at any scale; every output slot
    * is exact integer arithmetic, so the DuckDB oracle replays the
    * sample decode (byte pairs → i16) and windowing bit-for-bit.
    */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame = {
    val e = column(graft.functions.expressions.PcmEnergy(expression(assetCol)))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").as("asset_id"), e.as("e"))
      .select(col("asset_id"),
        col("e").getItem(0).as("n_samples"),
        col("e").getItem(1).as("n_windows"),
        col("e").getItem(2).as("silent_windows"),
        col("e").getItem(3).as("total_sq"))
      .filter(col("n_samples") > 0)
      .withColumn("mean_sq", expr("total_sq div n_samples"))
      .orderBy(col("asset_id"))
  }

  /** DuckDB twin of [[audioEnergy]]: samples from UTF-8 byte pairs
    * (lo | hi<<8, sign-corrected), 256-sample windows, integer
    * mean-square silence test.
    */
  val audioEnergySql: String =
    s"""WITH au AS (
       |  SELECT doc_id AS asset_id, hex(encode(text)) AS h,
       |    octet_length(encode(text))::BIGINT AS n
       |  FROM documents WHERE doc_id % 3 = 1
       |), sv AS (
       |  SELECT asset_id, (j - 1) // 256 AS w,
       |    v0 - CASE WHEN v0 >= 32768 THEN 65536 ELSE 0 END AS v
       |  FROM (
       |    SELECT asset_id,
       |      (('0x' || substr(h, 4 * j - 3, 2))::BIGINT
       |       + (('0x' || substr(h, 4 * j - 1, 2))::BIGINT << 8)) AS v0, j
       |    FROM (SELECT asset_id, h, unnest(range(1, n // 2 + 1)) AS j FROM au)
       |  )
       |), ws AS (
       |  SELECT asset_id, w, SUM(v * v)::BIGINT AS wsq, COUNT(*)::BIGINT AS len
       |  FROM sv GROUP BY 1, 2
       |)
       |SELECT asset_id, SUM(len)::BIGINT AS n_samples,
       |  COUNT(*)::BIGINT AS n_windows,
       |  SUM(CASE WHEN wsq // len < ${graft.functions.expressions.PcmEnergy.SilenceMeanSq} THEN 1 ELSE 0 END)::BIGINT AS silent_windows,
       |  SUM(wsq)::BIGINT AS total_sq,
       |  (SUM(wsq)::BIGINT // SUM(len)::BIGINT) AS mean_sq
       |FROM ws GROUP BY asset_id
       |ORDER BY asset_id""".stripMargin

  /** Scene-cut detection over the VIDEO assets — shot segmentation
    * for frame dedup / clip extraction: each AVI's movi data is split
    * into the header-declared equal frame slices, every frame gets
    * the 60-bit average-hash
    * ([[graft.functions.expressions.FrameHashes]] shares
    * [[graft.functions.expressions.MediaAHash]]'s kernel), and a CUT
    * is a consecutive-frame Hamming step above [[SceneCutHamming]].
    * The step series is computed with pure array higher-order
    * functions (`zip_with` of the hash array against its own shift +
    * `bit_count` of the XOR) — zero shuffle, codegen-friendly, and
    * every integer is replayed exactly by the DuckDB oracle.
    */
  val SceneCutHamming = 10

  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val fh = column(graft.functions.expressions.FrameHashes(expression(assetCol)))
    Tables.spread(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("asset_id"), fh.as("fh"))
      .filter(size(col("fh")) > 0)
      .withColumn("steps", expr(
        "zip_with(slice(fh, 1, size(fh) - 1), slice(fh, 2, size(fh) - 1), (a, b) -> bit_count(a ^ b))"))
      .select(col("asset_id"),
        size(col("fh")).cast("long").as("frames"),
        expr(s"size(filter(steps, s -> s > $SceneCutHamming))").cast("long").as("n_cuts"),
        expr("coalesce(aggregate(steps, 0, (acc, s) -> greatest(acc, s)), 0)")
          .cast("long").as("max_step"))
      .orderBy(col("asset_id"))
  }

  /** DuckDB twin of [[sceneCuts]]: per-frame cell-mean hashes from the
    * synthesis formula (frame f covers data bytes [f·fb, (f+1)·fb)),
    * consecutive XOR bit counts, the same cut threshold.
    */
  val sceneCutsSql: String =
    s"""WITH vid AS (
       |  SELECT doc_id AS asset_id, hex(encode(text)) AS h,
       |    octet_length(encode(text))::BIGINT AS n,
       |    (octet_length(encode(text)) % 30 + 1)::BIGINT AS frames
       |  FROM documents WHERE doc_id % 3 = 2
       |), vf AS (
       |  SELECT *, n // frames AS fb FROM vid WHERE n // frames > 0
       |), by AS (
       |  SELECT asset_id, (j - 1) // fb AS f,
       |    (60 * ((j - 1) % fb)) // fb AS cell,
       |    ('0x' || substr(h, 2 * (j - 1) + 1, 2))::BIGINT AS v
       |  FROM (SELECT asset_id, h, fb, unnest(range(1, fb * frames + 1)) AS j FROM vf)
       |), cm AS (
       |  SELECT asset_id, f, cell, SUM(v) // COUNT(*) AS cmean,
       |    SUM(v) AS csum, COUNT(*) AS cnt
       |  FROM by GROUP BY 1, 2, 3
       |), gm AS (
       |  SELECT asset_id, f, SUM(csum) // SUM(cnt) AS gmean FROM cm GROUP BY 1, 2
       |), fh AS (
       |  SELECT cm.asset_id, cm.f,
       |    COALESCE(SUM(CASE WHEN cmean > gmean THEN 1::BIGINT << cell ELSE 0 END), 0)::BIGINT AS fhash
       |  FROM cm JOIN gm USING (asset_id, f) GROUP BY 1, 2
       |), steps AS (
       |  SELECT a.asset_id, bit_count(xor(a.fhash, b.fhash))::BIGINT AS s
       |  FROM fh a JOIN fh b ON a.asset_id = b.asset_id AND b.f = a.f + 1
       |)
       |SELECT vf.asset_id, vf.frames,
       |  COALESCE(SUM(CASE WHEN s > $SceneCutHamming THEN 1 ELSE 0 END), 0)::BIGINT AS n_cuts,
       |  COALESCE(MAX(s), 0)::BIGINT AS max_step
       |FROM vf LEFT JOIN steps ON vf.asset_id = steps.asset_id
       |GROUP BY 1, 2
       |ORDER BY vf.asset_id""".stripMargin

  /** The image relation both phash twins hash: (asset_id, hex-payload
    * h, byte length n). [[phashHashCtesFrom]] appends the aHash
    * arithmetic replayed from the synthesis formula (image payload =
    * the document's UTF-8 bytes; cell(j) = 60·j // n; integer means;
    * bit i ⇔ cell mean > global mean) — one extraction point for the
    * [[phashDupSql]] / [[phashNearSql]] twins.
    */
  private val phashImgCte: String =
    s"""WITH img AS (
       |  SELECT doc_id AS asset_id, hex(encode(text)) AS h,
       |    octet_length(encode(text))::BIGINT AS n
       |  FROM documents WHERE doc_id % 3 = 0
       |)""".stripMargin

  /** [[phashNear]]'s twin-widened corpus: img plus, for every 10th
    * image asset, a planted near-dup (id −asset−1, first byte +128
    * mod 256) — the hex-string form of the Spark side's binary
    * perturbation.
    */
  private val phashNearImgCte: String =
    s"""WITH img0 AS (
       |  SELECT doc_id AS asset_id, hex(encode(text)) AS h,
       |    octet_length(encode(text))::BIGINT AS n
       |  FROM documents WHERE doc_id % 3 = 0
       |), img AS (
       |  SELECT * FROM img0
       |  UNION ALL
       |  SELECT -asset_id - 1,
       |    concat(lpad(hex((('0x' || substr(h, 1, 2))::BIGINT + 128) % 256), 2, '0'),
       |           substr(h, 3)), n
       |  FROM img0 WHERE asset_id % 30 = 0 AND n > 0
       |)""".stripMargin

  /** Appends the aHash arithmetic to an img CTE block, ending in
    * `hashed(asset_id, ahash)`.
    */
  private def phashHashCtesFrom(imgCte: String): String =
    s"""$imgCte, by AS (
       |  SELECT asset_id, n, (60 * (j - 1)) // n AS cell,
       |    ('0x' || substr(h, 2 * (j - 1) + 1, 2))::BIGINT AS v
       |  FROM (SELECT asset_id, n, h, unnest(range(1, n + 1)) AS j FROM img)
       |), cm AS (
       |  SELECT asset_id, n, cell, SUM(v) // COUNT(*) AS cmean, SUM(v) AS csum
       |  FROM by GROUP BY 1, 2, 3
       |), gm AS (
       |  SELECT asset_id, SUM(csum) // MAX(n) AS gmean FROM cm GROUP BY 1
       |), hashed AS (
       |  SELECT cm.asset_id,
       |    COALESCE(SUM(CASE WHEN cmean > gmean THEN 1::BIGINT << cell ELSE 0 END), 0)::BIGINT AS ahash
       |  FROM cm JOIN gm USING (asset_id)
       |  GROUP BY 1
       |)""".stripMargin

  /** DuckDB twin of [[phashDup]]. */
  val phashDupSql: String =
    s"""${phashHashCtesFrom(phashImgCte)}
       |SELECT asset_id, ahash, n_copies
       |FROM hashed
       |JOIN (SELECT ahash, COUNT(*)::BIGINT AS n_copies FROM hashed GROUP BY 1)
       |  USING (ahash)
       |ORDER BY asset_id""".stripMargin
}
