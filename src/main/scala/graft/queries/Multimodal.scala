package graft.queries

import graft.operators.BinaryBatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._
import graft.core.QueryCaches.cached

/**
 * Multimodal-column operators (builder brief §multimodal). The documents
 * table stands in for a media table: its text re-encoded as an opaque
 * binary payload column, decoded per-partition in batches via
 * [[graft.operators.BinaryBatch]] (mapInPandas-shaped). The decode itself is
 * a deterministic stub (no media libs in the container), which makes the
 * whole flow oracle-checkable: the fake features are pure functions of the
 * payload bytes that DuckDB can recompute.
 */
object Multimodal {

  /** Build the opaque-binary media table from documents. */
  private def media(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .filter(col("text").isNotNull) // failed-extraction rows are outside media ops
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** Batched decode → per-doc media features. */
  def mmDecode(s: SparkSession, dir: String): DataFrame =
    BinaryBatch.decode(s, media(s, dir), "doc_id", "payload")
      .orderBy(col("doc_id"))

  /** Decode + downstream relational agg (features join back to metadata). */
  def mmFeatureAgg(s: SparkSession, dir: String): DataFrame = {
    val feats = BinaryBatch.decode(s, media(s, dir), "doc_id", "payload")
    val docs = load(s, dir, "documents").select(col("doc_id"), col("lang"))
    feats.join(docs, "doc_id")
      .groupBy(col("lang"), col("width"))
      .agg(count(lit(1)).as("n"), sum(col("byte_len")).as("total_bytes"))
      .orderBy(col("lang"), col("width"))
  }

  /** Batched resize to a 64x64 target raster. */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    BinaryBatch.resize(s, media(s, dir), "doc_id", "payload")
      .orderBy(col("doc_id"))

  /** Frame sampling: one media row fans out to ≤3 frame rows. */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    BinaryBatch.frameSample(s, media(s, dir), "doc_id", "payload")
      .orderBy(col("doc_id"), col("frame_idx"))

  /**
   * Exact media dedup by payload checksum — the cheap first pass a media
   * pipeline runs before any perceptual hashing: identical byte payloads
   * collapse to one keeper regardless of filename/metadata. The output
   * is the full collapse table (one row per DISTINCT payload with its
   * keeper and copy count — the kept set a downstream join consumes),
   * so the oracle checks every digest, not only the duplicated tail.
   * Same plan shape as the text side's `dedup_bow_fp` but keyed on the
   * md5 of the OPAQUE BINARY, so it works for any modality without
   * decoding. Scale: one linear map-side-combined groupBy on the
   * digest; the payload itself never shuffles.
   */
  def mmDedupHash(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(col("doc_id"), md5(col("payload")).as("content_md5"),
        length(col("payload")).cast("long").as("byte_len"))
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"),
        max(col("byte_len")).as("byte_len"))
      .orderBy(col("content_md5"))

  /** Perceptual-hash banding: 4 bands × 8 bits of the 32-bit signature
    * (pigeonhole: Hamming ≤ 3 guarantees one identical band — recall is
    * complete below the threshold, before the bucket cap). */
  private val PhashBands = 4
  private val PhashHamMax = 3

  /** Degenerate-band guard (the LSH MaxBucketSize / winnow
    * stop-fingerprint precedent): a band bucket holding hundreds of
    * payloads is a boilerplate cluster whose O(b²) pairs the banding
    * exists to avoid. */
  private val PhashBucketCap = 200L

  /**
   * Perceptual-hash near-dup over opaque payloads — the SECOND media
   * dedup pass after [[mmDedupHash]]'s exact checksums: a 32-bit
   * frequency-weighted SimHash of the payload's byte-histogram (two
   * payloads differing in a few bytes keep nearly identical histograms
   * → small Hamming distance), banded 8 bits × [[PhashBands]] so
   * candidates come from an equi-join, then exact-verified with
   * `bit_count(xor)` ≤ [[PhashHamMax]]. The real perceptual hash
   * (pHash/aHash over decoded pixels) slots into the same plan by
   * swapping the histogram for DCT coefficients behind the
   * [[graft.operators.BinaryBatch]] decode — the banding, cap and
   * verify stages are modality-independent.
   *
   * Scale: histogram collapse is map-side combined (≤ alphabet rows per
   * doc); signatures are one 32-column conditional aggregate; the band
   * join moves (doc, band) rows only — payloads never shuffle.
   * Determinism: votes are exact integer sums; the signature, bands and
   * Hamming distances are pure integer arithmetic on both engines.
   */
  def mmPhashNeardup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chars = media(s, dir)
      .select(col("doc_id"),
        explode(split(decode(col("payload"), "UTF-8"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", conv(substring(md5(col("ch")), 1, 8), 16, 10).cast("long"))
    val votes = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"s$b")
    }
    val sig = (0 until 32).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sigs = chars.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
      .transform(cached)
    val bands = sigs.select(col("doc_id"), col("sig"),
        explode(array((0 until PhashBands).map(j =>
          struct(lit(j).as("j"),
            shiftright(col("sig"), 8 * j).bitwiseAND(255).as("v"))): _*)).as("b"))
      .select(col("doc_id"), col("sig"), col("b.j").as("j"), col("b.v").as("v"))
    val capped = bands
      .withColumn("bn", count(lit(1)).over(Window.partitionBy(col("j"), col("v"))))
      .filter(col("bn") <= PhashBucketCap)
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.j") === col("b.j") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    pairs
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sig_a ^ sig_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= PhashHamMax)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val mmPhashNeardupSql: String = {
    val votes = (0 until 32)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN cnt ELSE -cnt END) AS s$b")
      .mkString(",\n|    ")
    val sig = (0 until 32)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH ch0 AS (
       |  SELECT doc_id, unnest(string_split(text, '')) AS ch
       |  FROM documents WHERE text IS NOT NULL),
       |cnt AS (
       |  SELECT doc_id, ch, CAST(COUNT(1) AS BIGINT) AS cnt
       |  FROM ch0 WHERE ch <> '' GROUP BY 1, 2),
       |h AS (
       |  SELECT doc_id, cnt,
       |    CAST(CAST('0x' || substring(md5(ch), 1, 8) AS UBIGINT) AS BIGINT) AS h
       |  FROM cnt),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($sig AS BIGINT) AS sig FROM votes),
       |bands AS (
       |  SELECT doc_id, sig, j, (sig >> (8 * j)) & 255 AS v
       |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(1) OVER (PARTITION BY j, v) AS bn FROM bands)
       |  WHERE bn <= $PhashBucketCap),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM capped a JOIN capped b
       |    ON a.j = b.j AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= $PhashHamMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_phash_neardup" -> (mmPhashNeardup _),
    "mm_decode" -> (mmDecode _),
    "mm_feature_agg" -> (mmFeatureAgg _),
    "mm_resize" -> (mmResize _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_dedup_hash" -> (mmDedupHash _))

  // The stub decoder is a pure byte function — DuckDB recomputes it over
  // the UTF-8 BYTES (strlen / hex(encode(text)) slicing), not characters:
  // width  = 16*(1+(first byte & 3)), height = 16*(1+(last byte & 3)),
  // n_frames = 1 + byte_len%7. `& 3` of a byte is sign-independent, so the
  // signed-JVM-byte vs unsigned-SQL-byte difference cannot surface. Empty
  // payloads mirror the stub's contract exactly: decode → (0, NULL, NULL,
  // NULL), resize → (NULL, NULL, 64, 64, 0), frame sample → no rows; NULL
  // payloads are excluded at the scan on both engines (media() filter).
  val oracle: Map[String, String] = Map(
    "mm_phash_neardup" -> mmPhashNeardupSql,
    "mm_dedup_hash" ->
      """WITH b AS (
        |  SELECT doc_id, md5(text) AS content_md5,
        |    CAST(strlen(text) AS BIGINT) AS byte_len
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT content_md5, MIN(doc_id) AS keeper, COUNT(1) AS n_copies,
        |  MAX(byte_len) AS byte_len
        |FROM b GROUP BY content_md5
        |ORDER BY content_md5""".stripMargin,
    "mm_decode" ->
      """WITH b AS (
        |  SELECT doc_id, strlen(text) AS bl, hex(encode(text)) AS hx
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST(bl AS BIGINT) AS byte_len,
        |  CASE WHEN bl = 0 THEN NULL
        |    ELSE CAST(16 * (1 + (CAST(CAST('0x' || substring(hx, 1, 2) AS UBIGINT) AS BIGINT) & 3)) AS BIGINT) END AS width,
        |  CASE WHEN bl = 0 THEN NULL
        |    ELSE CAST(16 * (1 + (CAST(CAST('0x' || substring(hx, 2 * bl - 1, 2) AS UBIGINT) AS BIGINT) & 3)) AS BIGINT) END AS height,
        |  CASE WHEN bl = 0 THEN NULL
        |    ELSE CAST(1 + bl % 7 AS BIGINT) END AS n_frames
        |FROM b ORDER BY doc_id""".stripMargin,
    "mm_feature_agg" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(strlen(text) AS BIGINT) AS byte_len,
        |    CASE WHEN strlen(text) = 0 THEN NULL
        |      ELSE CAST(16 * (1 + (CAST(CAST('0x' || substring(hex(encode(text)), 1, 2) AS UBIGINT) AS BIGINT) & 3)) AS BIGINT) END AS width
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT lang, width, COUNT(1) AS n,
        |  CAST(SUM(byte_len) AS BIGINT) AS total_bytes
        |FROM f JOIN documents USING (doc_id)
        |GROUP BY lang, width ORDER BY lang, width""".stripMargin,
    "mm_resize" ->
      """WITH b AS (
        |  SELECT doc_id, strlen(text) AS bl, hex(encode(text)) AS hx
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CASE WHEN bl = 0 THEN NULL
        |    ELSE CAST(16 * (1 + (CAST(CAST('0x' || substring(hx, 1, 2) AS UBIGINT) AS BIGINT) & 3)) AS BIGINT) END AS in_w,
        |  CASE WHEN bl = 0 THEN NULL
        |    ELSE CAST(16 * (1 + (CAST(CAST('0x' || substring(hx, 2 * bl - 1, 2) AS UBIGINT) AS BIGINT) & 3)) AS BIGINT) END AS in_h,
        |  CAST(64 AS BIGINT) AS out_w, CAST(64 AS BIGINT) AS out_h,
        |  CAST(least(bl, 512) AS BIGINT) AS out_bytes
        |FROM b ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, strlen(text) AS len, hex(encode(text)) AS hx,
        |    1 + strlen(text) % 7 AS nf
        |  FROM documents WHERE text IS NOT NULL AND strlen(text) > 0)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(i * (len // nf) AS BIGINT) AS frame_pos,
        |  CAST(CAST('0x' || substring(hx, 2 * (i * (len // nf)) + 1, 2) AS UBIGINT) AS BIGINT) AS sample_byte
        |FROM m, generate_series(0, 2) t(i)
        |WHERE i < least(3, nf)
        |ORDER BY doc_id, frame_idx""".stripMargin)
}
