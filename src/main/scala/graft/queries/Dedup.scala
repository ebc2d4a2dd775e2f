package graft.queries

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Tables._
import graft.core.QueryCaches.cached

/**
 * Near-duplicate detection operators (builder brief §dedup): exact word-set
 * Jaccard (the verification oracle), SimHash (md5-derived, cross-engine
 * reproducible), and MinHash+LSH (the 100 TB-scale candidate generator,
 * keyed on [[graft.functions.FarmHash]]).
 *
 * Scale design: the exact pair join is quadratic and exists as the
 * small-scale oracle / LSH-verification stage; at scale, candidate pairs
 * come from `dedupMinhashLsh` (band-bucket equi-join — shuffle on band key,
 * never all-pairs) and only candidates get the exact-Jaccard check.
 */
object Dedup {

  /** The documents scan followed by CPU-heavy (interpreted higher-order)
    * tokenization — the adaptive [[Tables.spreadDocs]] spread (repartition
    * only when the file layout yields fewer splits than the parallelism;
    * passthrough at scale). */
  private def spreadDocs(s: SparkSession, dir: String): DataFrame =
    Tables.spreadDocs(s, dir)

  /** (doc_id, lang, words): sorted distinct word set per doc, via the
    * codegen [[GraftFunctions.shingle_set]] kernel (n = 1). */
  private[queries] def docWords(s: SparkSession, dir: String): DataFrame =
    spreadDocs(s, dir)
      .select(col("doc_id"), col("lang"),
        GraftFunctions.shingle_set(col("text"), 1).as("words"))

  private val JaccardThreshold = 0.8

  /** JaccardThreshold expressed as an exact rational (4/5), so the length
    * and positional filters below run in pure integer arithmetic — no
    * double rounding can ever prune a pair that truly meets the bound. */
  private val JacNum = 4L
  private val JacDen = 5L

  /** Dense-domain fast path applies when every token fits one bit of a
    * 64-bit mask; the unique-set cap bounds the within-lang pair loop. */
  private val DenseVocabBits = 64
  private val DenseSetsCap = 65536L

  /** Wide dense-domain ceiling: vocabularies up to 4096 tokens pack into
    * ceil(V/64) longs per set. Past 64 tokens the single-long mask no
    * longer fits, but a small vocabulary is exactly where PPJoin's prefix
    * filter collapses (every token is ultra-frequent, so every prefix
    * inverted-index posting list is huge) — the wide-mask path covers that
    * gap with popcount-band blocking instead of a candidate shuffle. */
  private val WideVocabBits = 4096

  /**
   * Exact word-set Jaccard over same-lang pairs (lang = blocking key).
   *
   * Scale design — three layers, chosen ADAPTIVELY from data statistics
   * (a metadata-sized vocabulary probe, the operator's analog of
   * catalog/AQE statistics):
   *
   * 1. **Identical-set collapse** (always). Docs are grouped by their
   *    canonical (lang, word set) key; all pairwise work runs over
   *    *unique sets*, then expands back to doc pairs at the end.
   *    Boilerplate-heavy corpora (many exact repeats) collapse to a small
   *    set universe before any join happens.
   * 2. **Dense-domain bitmask path** (vocabulary ≤ 64 tokens — the
   *    degenerate small-vocab shape where EVERY token is ultra-frequent
   *    and no prefix/positional filter can prune): the probed vocabulary
   *    becomes a LITERAL token→bit map, each set one 64-bit mask computed
   *    inline (no extra shuffle), and the exact threshold runs INSIDE the
   *    broadcast-join condition — `den·popcount(a&b) ≥ num·popcount(a|b)`
   *    — so only QUALIFYING pairs ever materialize. No candidate set, no
   *    distinct, no string comparisons. The whole path adds two
   *    metadata-scale jobs (≤65 tokens, one count) on top of a single
   *    scan+groupBy+broadcast-join pipeline — stage-count latency matters
   *    as much as row throughput on a hot path this short.
   * 3. **PPJoin-style prefix filter** (general vocabulary): inverted-index
   *    join on rarest-token prefixes with the exact integer length filter
   *    (t·max(|A|,|B|) ≤ min(|A|,|B|)) and positional filter (remaining
   *    overlap ≥ ⌈t/(1+t)·(|A|+|B|)⌉), then sorted-merge intersection
   *    verify. The doc-frequency join is a plain shuffle join — at 100 TB
   *    the vocabulary is unbounded and must never be broadcast.
   */
  def dedupJaccardWords(s: SparkSession, dir: String): DataFrame = {
    jaccardPairs(docWords(s, dir))
  }

  /**
   * Exact 3-word-gram (shingle) Jaccard — the "n-gram Jaccard" member of
   * the dedup family: same adaptive pair machinery as
   * [[dedupJaccardWords]], but over each document's distinct shingle set
   * (word order matters, so reordered boilerplate stops matching). Shingle
   * vocabularies are combinatorially large, so this exercises the PPJoin
   * path with highly selective prefixes (per-shingle document frequency is
   * low even when per-word frequency is degenerate).
   */
  def dedupJaccardNgrams(s: SparkSession, dir: String): DataFrame = {
    val base = spreadDocs(s, dir)
      .select(col("doc_id"), col("lang"),
        GraftFunctions.shingle_set(col("text"), 3).as("words"))
    // a shingle vocabulary is combinatorially larger than the word
    // vocabulary — it can never fit the 64-bit dense domain, so don't pay
    // the probe pass
    jaccardPairs(base, probeDense = false)
  }

  /** Shared exact-Jaccard pair pipeline over a (doc_id, lang, words)
    * relation: identical-set collapse, adaptive dense/PPJoin pair
    * generation, member expansion, intra-group pairs, global order. */
  /** The collapsed pair machinery exposed at the UNIQUE-SET level:
    * qualifying set pairs (with member arrays) + the set universe.
    * [[Curation.dedupComponents]] runs connected components on THIS graph
    * (set-representative nodes) and only expands membership at the end —
    * at scale the set graph is orders of magnitude smaller than the
    * expanded doc-pair graph.
    *
    * Cache contract: the returned plans reference a PERSISTED collapsed
    * universe (the `groups` relation) that stays cached for the lifetime
    * of the returned DataFrames — it feeds the cardinality probe, both
    * pair-join sides, and the member expansion, and there is no point
    * before the caller's final action at which it could be released here.
    * It belongs to the active [[graft.core.QueryCaches]] scope: the public
    * query entries release it after their first action, long-lived
    * callers when they release their own scope. */
  private[queries] def jaccardSetGraph(docSets: DataFrame,
      probeDense: Boolean = true): (DataFrame, DataFrame) = {
    // empty word sets are OUT of the pair universe: Jaccard over two empty
    // sets is 0/0, and the oracle's inverted-index join can never pair
    // them — treating them as mutual duplicates was both a divide-by-zero
    // (ANSI) and a semantic divergence
    val dw = docSets.filter(size(col("words")) > 0)
    // Adaptive gate: probe whether the vocabulary fits a dense domain.
    // Collects at most WideVocabBits+1 tokens — metadata-sized at any
    // corpus scale (the distinct is dominated by the scan either path pays).
    val probe =
      if (probeDense)
        dw.select(explode(col("words")).as("w")).distinct()
          .limit(WideVocabBits + 1).collect().map(_.getString(0))
      else Array.empty[String]
    if (probeDense && probe.length <= DenseVocabBits) densePairs(dw, probe)
    else if (probeDense && probe.length <= WideVocabBits) widePairs(dw, probe)
    else ppjoinPairs(dw)
  }

  private[queries] def jaccardPairs(docSets: DataFrame, probeDense: Boolean = true): DataFrame = {
    // groups carries (lang, members, nw [, mask|words...]) per unique set
    val (setPairs, groups) = jaccardSetGraph(docSets, probeDense)

    // expand qualifying set pairs to all member doc pairs (distinct sets
    // never share a doc, so no duplicates can arise)
    val cross = setPairs
      .select(explode(col("ma")).as("x"), col("mb"), col("inter"), col("jac"))
      .select(col("x"), explode(col("mb")).as("y"), col("inter"), col("jac"))
      .select(least(col("x"), col("y")).as("da"), greatest(col("x"), col("y")).as("db"),
        col("inter"), col("jac"))

    // intra-group pairs: identical sets, J = 1 (≥ t by construction)
    val intra = groups
      .filter(size(col("members")) > 1)
      .select(col("nw"), explode(flatten(transform(col("members"), (x, i) =>
        transform(slice(col("members"), i + 2, size(col("members"))),
          y => struct(x.as("da"), y.as("db")))))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"), col("nw").as("inter"),
        lit(1.0).as("jac")) // identical sets: J = 1 by construction

    cross.unionByName(intra)
      .select(col("da"), col("db"), col("inter"), col("jac"))
      .orderBy(col("da"), col("db"))
  }

  /** Dense path: the ≤64-token vocabulary becomes a literal token→bit-value
    * map, so each doc's mask is a single inline array fold — set collapse
    * groups directly on (lang, mask) and the mask doubles as the unique-set
    * id (total order for pair dedup, popcounts for the exact threshold).
    *
    * Join shape: unique masks are bounded (collapse + [[DenseSetsCap]]), so
    * the probe side is BROADCAST and the pair loop is a hash join on the
    * lang blocking key with the threshold as residual condition — no
    * shuffle, fully codegen'd. The build side is explicitly repartitioned
    * (user repartitions survive AQE) because the loop is CPU-bound: AQE
    * would otherwise coalesce the byte-tiny input to one partition and
    * serialize the O(n²) comparisons. Falls back to the PPJoin path if the
    * collapsed universe exceeds the cap. */
  private def densePairs(dw: DataFrame, vocab: Array[String]): (DataFrame, DataFrame) = {
    val bitValue = typedLit(vocab.sorted.zipWithIndex.map { case (t, i) => t -> (1L << i) }.toMap)
    val maskExpr = aggregate(transform(col("words"), w => element_at(bitValue, w)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
    // persisted: the collapsed universe feeds the cardinality probe, both
    // join sides, and the intra-group expansion — without it the whole
    // scan+groupBy chain re-executes per consumer (the universe is orders
    // of magnitude smaller than the corpus, so this is metadata-sized
    // relative to the input; MEMORY_AND_DISK spills rather than OOMs)
    val g = dw
      .groupBy(col("lang"), maskExpr.as("mask"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .withColumn("nw", bit_count(col("mask")).cast("long"))
      .transform(cached)
    if (g.count() > DenseSetsCap) { g.unpersist(); return ppjoinPairs(dw) }

    val parts = parallelism(dw.sparkSession)
    // The pair loop runs over NARROW (lang, mask) rows only — members
    // arrays collectively hold every doc_id in the corpus, so carrying
    // them through the broadcast would ship the whole corpus's ids to the
    // driver and every executor. They re-attach by (lang, mask) AFTER the
    // threshold filter, when only qualifying pairs remain (same shape as
    // ppjoinPairs' mside join).
    val a = g.select(col("lang"), col("mask").as("ka"))
      .repartition(parts, col("ka"))
    val b = g.select(col("lang").as("lang_b"), col("mask").as("kb"))
    val inter = bit_count(col("ka").bitwiseAND(col("kb"))).cast("long")
    val union = bit_count(col("ka").bitwiseOR(col("kb"))).cast("long")
    val qual = a.join(broadcast(b),
        col("lang") === col("lang_b") && col("ka") < col("kb") &&
          inter * JacDen >= union * JacNum)
      .select(col("lang"), col("ka"), col("kb"), inter.as("inter"),
        (inter.cast("double") / union.cast("double")).as("jac"))
    val mm = g.select(col("lang"), col("mask"), col("members"))
    val pairs = qual
      .join(mm.select(col("lang"), col("mask").as("ka"), col("members").as("ma")),
        Seq("lang", "ka"))
      .join(mm.select(col("lang"), col("mask").as("kb"), col("members").as("mb")),
        Seq("lang", "kb"))
      .select(col("ma"), col("mb"), col("inter"), col("jac"))
    (pairs, g)
  }

  /** Wide dense-domain path (64 < vocabulary ≤ [[WideVocabBits]]): each
    * set packs into ceil(V/64) longs. This band of vocabulary sizes is
    * exactly where PPJoin collapses — with a few hundred tokens, every
    * token's document frequency is a large fraction of the corpus, so the
    * prefix inverted-index join materializes ~Σ df² candidate rows and
    * then pays a distinct shuffle over them. Here NO candidate relation
    * ever exists: the exact threshold runs inside a banded hash join over
    * the collapsed unique-set universe.
    *
    * Pair-loop blocking: the PPJoin integer length filter
    * (max(|A|,|B|)·num ≤ min(|A|,|B|)·den) becomes an EQUI key — the
    * smaller-popcount side explodes its admissible partner cardinalities
    * nb ∈ [na, ⌊na·den/num⌋] (≤ ⌈na/4⌉+1 values at t = 0.8) and the join
    * runs on (lang, nb) against the broadcast universe, so each probe row
    * only ever meets partners it could possibly match. The residual
    * popcount check is a codegen [[graft.functions.MaskIntersectBits]]
    * loop over ≤64 longs — no higher-order-function fallback in the hot
    * path. Falls back to PPJoin when the collapsed universe exceeds
    * [[DenseSetsCap]] (same contract as the 64-bit path). */
  private def widePairs(dw: DataFrame, vocab: Array[String]): (DataFrame, DataFrame) = {
    val sorted = vocab.sorted
    val nSlots = (sorted.length + 63) / 64
    val slotMap = typedLit(sorted.zipWithIndex.map { case (t, i) => t -> i / 64 }.toMap)
    val bitMap = typedLit(sorted.zipWithIndex.map { case (t, i) => t -> (1L << (i % 64)) }.toMap)
    // mask build: per slot, OR together the bit values of the doc's tokens
    // that land in that slot. Interpreted higher-order fold, but it runs
    // ONCE per document on the scan (O(slots·|words|) map lookups), not in
    // the pair loop.
    val maskExpr = transform(sequence(lit(0), lit(nSlots - 1)), i =>
      aggregate(col("words"), lit(0L), (acc, w) =>
        when(element_at(slotMap, w) === i, acc.bitwiseOR(element_at(bitMap, w)))
          .otherwise(acc)))
    // persisted: the collapsed universe feeds the cardinality probe, both
    // join sides, and the member expansion (same contract as densePairs)
    val g = dw
      .groupBy(col("lang"), maskExpr.as("mask"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .withColumn("nw",
        aggregate(transform(col("mask"), m => bit_count(m).cast("long")), lit(0L), _ + _))
      // total-order key for unordered-pair dedup; masks are distinct within
      // (lang, mask) groups by construction, so the md5 is injective here
      .withColumn("sid", md5(concat_ws(",", transform(col("mask"), _.cast("string")))))
      .transform(cached)
    if (g.count() > DenseSetsCap) { g.unpersist(); return ppjoinPairs(dw) }

    val parts = parallelism(dw.sparkSession)
    // probe side explodes admissible partner popcounts; explicit
    // repartition for the same reason as densePairs — the loop is
    // CPU-bound and AQE would coalesce the byte-tiny input to one task
    val a = g.select(col("lang"), col("sid").as("sa"), col("nw").as("na"),
        col("mask").as("mka"))
      .repartition(parts, col("sa"))
      .withColumn("nb",
        explode(sequence(col("na"), floor(col("na") * JacDen / JacNum).cast("long"))))
    val b = g.select(col("lang"), col("sid").as("sb"), col("nw").as("nb"),
      col("mask").as("mkb"))
    val qual = a.join(broadcast(b), Seq("lang", "nb"))
      // orientation dedup: unequal popcounts pair once by construction
      // (only the smaller side explodes upward); equal popcounts keep one
      .filter(col("na") < col("nb") || col("sa") < col("sb"))
      .withColumn("inter", GraftFunctions.mask_intersect_bits(col("mka"), col("mkb")))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * JacDen >= col("uni") * JacNum)
      .select(col("lang"), col("sa"), col("sb"), col("inter"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jac"))
    val mm = g.select(col("lang"), col("sid"), col("members"))
    val pairs = qual
      .join(mm.select(col("lang"), col("sid").as("sa"), col("members").as("ma")),
        Seq("lang", "sa"))
      .join(mm.select(col("lang"), col("sid").as("sb"), col("members").as("mb")),
        Seq("lang", "sb"))
      .select(col("ma"), col("mb"), col("inter"), col("jac"))
    (pairs, g)
  }

  /** General-vocabulary path: PPJoin prefix index + sorted-merge verify. */
  private def ppjoinPairs(dw: DataFrame): (DataFrame, DataFrame) = {
    // unique (lang, word-set) groups; members sorted so intra-group pair
    // generation emits da < db without an extra comparison.
    // persisted: four consumers (token explode, prefix build, both verify
    // sides, member expansion) would otherwise each re-run the full
    // scan+shingle+groupBy chain — column pruning differentiates the
    // subtrees, so Catalyst's exchange reuse cannot deduplicate them
    val sets = dw
      .groupBy(col("lang"), col("words"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .withColumn("sid", md5(concat_ws("\u0001", col("lang"), concat_ws(" ", col("words")))))
      .withColumn("nw", size(col("words")).cast("long"))
      .transform(cached)
    val ex = sets.select(col("sid"), col("lang"), col("nw"), explode(col("words")).as("w"))
    // global token rarity over unique sets; plain shuffle join (never broadcast)
    val dfreq = ex.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val prefixes = ex
      .join(dfreq, "w")
      .groupBy(col("sid"), col("lang"), col("nw"))
      .agg(sort_array(collect_list(struct(col("df"), col("w")))).as("ordered"))
      .withColumn("plen", // ceil(nw*t) as floor((nw*n + d - 1) / d), exact
        (col("nw") - floor((col("nw") * JacNum + JacDen - 1) / JacDen) + 1).cast("int"))
      .select(col("sid"), col("lang"), col("nw"),
        posexplode(slice(transform(col("ordered"), t => t.getField("w")), lit(1), col("plen")))
          .as(Seq("pos", "ptoken")))

    val a = prefixes.select(col("sid").as("sa"), col("lang").as("la"),
      col("nw").as("na"), col("pos").as("pa"), col("ptoken"))
    val b = prefixes.select(col("sid").as("sb"), col("lang").as("lb"),
      col("nw").as("nb"), col("pos").as("pb"), col("ptoken").as("ptb"))
    // required overlap O = ceil(t/(1+t)*(na+nb)) in exact integers:
    // t = n/d => O = ceil(n*(na+nb) / (n+d))
    val reqOverlap = floor(((col("na") + col("nb")) * JacNum + (JacNum + JacDen) - 1) /
      (JacNum + JacDen))
    val cand = a.join(b,
        col("ptoken") === col("ptb") && col("la") === col("lb") && col("sa") < col("sb") &&
          greatest(col("na"), col("nb")) * JacNum <= least(col("na"), col("nb")) * JacDen &&
          least(col("na") - col("pa"), col("nb") - col("pb")) >= reqOverlap)
      .select(col("sa"), col("sb"))
      .distinct()

    // exact verify on candidate set pairs: sorted-merge intersection count
    // (custom codegen Expression — no per-row hash set / array allocation);
    // the members arrays join in only AFTER the Jaccard filter, so the
    // verify stage carries minimal row width
    val wside = sets.select(col("sid"), col("words"), col("nw"))
    val mside = sets.select(col("sid"), col("members"))
    cand
      .join(wside.select(col("sid").as("sa"), col("words").as("wa"), col("nw").as("na")), "sa")
      .join(wside.select(col("sid").as("sb"), col("words").as("wb"), col("nw").as("nb")), "sb")
      .withColumn("inter", GraftFunctions.sorted_intersect_size(col("wa"), col("wb")))
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("sa"), col("sb"), col("inter").cast("long").as("inter"), col("jac"))
      .join(mside.select(col("sid").as("sa"), col("members").as("ma")), "sa")
      .join(mside.select(col("sid").as("sb"), col("members").as("mb")), "sb")
      .select(col("ma"), col("mb"), col("inter"), col("jac")) -> sets
  }

  private val SimBits = 32

  /** 32-bit word hash shared with the DuckDB oracle: first 8 hex chars of
    * md5 — reproducible on any engine with md5. */
  private def wordHash32(w: Column): Column =
    conv(substring(md5(w), 1, 8), 16, 10).cast("long")

  /** SimHash document signatures: per-bit majority vote over word hashes.
    * One explode + one agg — linear, map-side combinable. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val ex = docWords(s, dir)
      .select(col("doc_id"), explode(col("words")).as("w"))
      .withColumn("h", wordHash32(col("w")))
    val votes = (0 until SimBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val sig = (0 until SimBits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    ex.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Oracle SQL for [[dedupSimhash]], generated with the same bit loop. */
  private def simhashOracle: String = {
    val votes = (0 until SimBits)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n    ")
    val sig = (0 until SimBits)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH ex AS (
       |  SELECT doc_id,
       |    CAST(CAST('0x' || substring(md5(w), 1, 8) AS UBIGINT) AS BIGINT) AS h
       |  FROM (
       |    SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS w
       |    FROM documents)),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM ex GROUP BY doc_id)
       |SELECT doc_id, CAST($sig AS BIGINT) AS simhash
       |FROM votes ORDER BY doc_id""".stripMargin
  }

  private val MinhashPerms = 32
  private val LshBands = 8 // 8 bands x 4 rows

  /** Deterministic affine permutation constants. Kept below 2^31 so
    * `h32 * A + B` on a 32-bit-folded hash never exceeds Long range —
    * Spark 4 runs ANSI mode, where silent wraparound is an error. */
  private def permA(j: Int): Long = ((0x9e3779b97f4a7c15L * (2 * j + 1)) >>> 33) | 1L
  private def permB(j: Int): Long = (0xc6a4a7935bd1e995L * (j + 7)) >>> 33

  /** Degenerate-bucket guard: LSH buckets larger than this are skipped
    * (standard production practice — a bucket with thousands of members is
    * a boilerplate/spam cluster, and exact-verifying its O(b²) pairs is
    * exactly the blowup LSH exists to avoid). */
  private val MaxBucketSize = 50

  /** How many of the [[LshBands]] bands the PRECISION audit prices: the
    * estimate needs a representative sample of the candidate stream, not
    * all of it — verifying every proposed pair would price the audit
    * like the production dedup itself at 100 TB. Bands are symmetric
    * (each hashes its own 4 minhash rows), so auditing a fixed prefix of
    * them is an unbiased ~k/[[LshBands]] sample of bucket work that any
    * corpus exercises (unlike a key-mod sample, which can drop every
    * bucket of a small relation). */
  private val LshPrecisionSampleBands = 2

  /** Cheap signature-agreement prefilter before exact verification:
    * fraction of equal minhashes estimates Jaccard (E[agree] = J). */
  private val MinhashEstThreshold = 0.35

  /**
   * MinHash + LSH near-dup candidate pairs, verified with exact shingle
   * Jaccard. 3-word shingles → farm_fingerprint → 32 affine min-hashes →
   * 8 band keys → equi-join on (band, key) → minhash-agreement prefilter →
   * exact verify on surviving candidates.
   * Hash-checked: DuckDB has no farmhash/xxhash64, so the oracle joins the
   * [[OracleAux]] side tables (golden-tested hash outputs emitted as data)
   * and replays everything downstream of the opaque hashes itself.
   */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshPipeline(s, dir, farmHash32, farmBandKey)

  /** The production shingle hash: FARM_FINGERPRINT xor-folded to 32 bits
    * (overflow-safe under ANSI for the affine minhash step). */
  private val farmHash32: Column => Column = sh => {
    val h = GraftFunctions.farm_fingerprint(sh)
    h.bitwiseXOR(shiftrightunsigned(h, 32)).bitwiseAND(lit(0xffffffffL))
  }

  /** The production band key: xxhash64 of the band's 4 minhashes. */
  private val farmBandKey: Seq[Column] => Column = cols => xxhash64(cols: _*)

  /** [[OracleAux]] side tables for the farm LSH oracle: the corpus's
    * distinct shingle→h32 map and the distinct per-band minhash-4-tuple→
    * xxhash64 key map. Both are hash OUTPUTS emitted as data (farmhash is
    * golden-tested vs Guava in FarmHashSpec; xxhash64 is Spark's
    * published built-in) — the DuckDB oracle joins them and independently
    * replays the whole pipeline downstream of the opaque hashes. */
  private[graft] def writeFarmAux(s: SparkSession, dir: String,
      auxDir: String): Unit = {
    val docs = spreadDocs(s, dir)
    docs
      .select(explode(GraftFunctions.shingle_set(col("text"), 3)).as("shingle"))
      .distinct()
      .withColumn("h32", farmHash32(col("shingle")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auxDir/farm_shingles.parquet")
    val sigs = bandSignatures(docs, farmHash32, farmBandKey)
      .select(col("mh"))
    (0 until LshBands)
      .map { b =>
        sigs.select(col("mh")(b * 4).as("m1"), col("mh")(b * 4 + 1).as("m2"),
          col("mh")(b * 4 + 2).as("m3"), col("mh")(b * 4 + 3).as("m4"))
      }
      .reduce(_ unionByName _)
      .distinct()
      .withColumn("key", xxhash64(col("m1"), col("m2"), col("m3"), col("m4")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auxDir/farm_bandkeys.parquet")
  }

  /** The LSH pipeline with a cross-engine (md5-derived) shingle hash and
    * band key, so the ENTIRE band-bucket pipeline — shingling, minhash,
    * banding, bucket cap, agreement prefilter, exact verify — is
    * hash-checked against a DuckDB oracle. `dedup_minhash_lsh` keeps the
    * production farmhash (golden-tested; no DuckDB analog). */
  /** The md5 hash family — ONE spelling shared by the self-join pipeline,
    * the incremental probe, and (via the generated SQL) the oracles. */
  private val md5Hash32: Column => Column =
    sh => conv(substring(md5(sh), 1, 8), 16, 10).cast("long")
  private val md5BandKey: Seq[Column] => Column =
    cols => md5(concat_ws(",", cols.map(_.cast("string")): _*))

  def dedupMinhashLshMd5(s: SparkSession, dir: String): DataFrame =
    minhashLshPipeline(s, dir, md5Hash32, md5BandKey)

  /**
   * Per-doc banded LSH signature of an arbitrary `(doc_id, text, ...)`
   * relation: `(doc_id, shingles, mh[32], bands[(band, key)])`. Every
   * column is a per-row codegen expression — no shuffle, no window —
   * which is what makes the SAME signature computation legal on a
   * STREAMING DataFrame ([[graft.streaming.StreamingOps]]'s incremental
   * dedup probe) and on the batch corpus side alike.
   */
  private[graft] def bandSignatures(docs: DataFrame,
      hash32: Column => Column,
      bandKey: Seq[Column] => Column): DataFrame = {
    val base = docs
      .withColumn("shingles", GraftFunctions.shingle_set(col("text"), 3))
      .withColumn("sh_hashes", transform(col("shingles"), hash32))
    // all 32 min-hashes in ONE codegen'd pass over the shingle hashes —
    // the per-permutation transform+array_min spelling interpreted a
    // lambda per (shingle × permutation) and dominated the pipeline
    val mhArr = GraftFunctions.affine_minhash(col("sh_hashes"),
      (0 until MinhashPerms).map(permA), (0 until MinhashPerms).map(permB))
    val withMh = base.withColumn("mh", mhArr).drop("sh_hashes")
    // band keys: hash of the 4 minhashes in each band
    val bandCols = (0 until LshBands).map { b =>
      val slice = (0 until 4).map(r => col("mh")(b * 4 + r))
      struct(lit(b).as("band"), bandKey(slice).as("key"))
    }
    withMh.withColumn("bands", array(bandCols: _*))
  }

  /** [[bandSignatures]] in the md5 (oracle-checkable) hash family. */
  private[graft] def md5BandSignatures(docs: DataFrame): DataFrame =
    bandSignatures(docs, md5Hash32, md5BandKey)

  /** Shared LSH front half: per-doc shingle sets and the bucket-capped
    * banded relation (band, key, doc_id, mh). Returns (base, pruned). */
  private def bandedFor(s: SparkSession, dir: String,
      hash32: Column => Column,
      bandKey: Seq[Column] => Column): (DataFrame, DataFrame) = {
    // Persisted (optimization r11): the signature computation (shingle
    // kernel + 32 affine minhashes + band keys) feeds FOUR consumers in
    // one action — the two sides of the candidate self-join and the two
    // shingle re-attach joins of the exact verify — and Catalyst reuses
    // none of them (projection pruning makes every subtree differ;
    // measured: 8 parquet scans / 6 shingle_set evaluations in the
    // dedup_minhash_lsh_md5 plan). One row per doc, query-owned release.
    val sigs = bandSignatures(spreadDocs(s, dir), hash32, bandKey)
      .transform(cached)
    val base = sigs.select(col("doc_id"), col("shingles"))
    // Candidate generation stays NARROW: (band, key, doc_id, mh[32]) flows
    // through the join — shingle arrays re-attach by doc_id only for
    // candidates that survive. Oversized buckets (degenerate boilerplate
    // clusters) are dropped before the quadratic pair expansion. The
    // banded relation itself is NOT persisted: its consumers filter it
    // down first (precision samples 2 of 8 bands, the incremental probe
    // splits it), and re-running the explode+window over the cached sigs
    // is cheaper than caching 8 mh-array rows per doc (measured).
    val banded = sigs
      .select(col("doc_id"), col("mh"), explode(col("bands")).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("doc_id"), col("mh"))
    val pruned = cappedBands(banded)
    (base, pruned)
  }

  /** Drop oversized (band, key) buckets — degenerate boilerplate clusters
    * — before any pair expansion. Batch-side only (window). */
  private[graft] def cappedBands(banded: DataFrame): DataFrame = {
    val wb = Window.partitionBy(col("band"), col("key"))
    banded
      .withColumn("bsz", count(lit(1)).over(wb))
      .filter(col("bsz") <= MaxBucketSize)
      .drop("bsz")
  }

  /** Exact-Jaccard verification of candidate (da, db) pairs against the
    * per-doc shingle sets; keeps pairs with J ≥ 0.5. `sort = false` for
    * streaming callers (global sort is illegal on an unbounded result —
    * the sink orders instead). */
  private[graft] def verifyPairs(base: DataFrame, cand: DataFrame,
      da: String, db: String, sort: Boolean = true): DataFrame = {
    val shingleSets = base.select(col("doc_id"), col("shingles"))
    val scored = cand
      .join(shingleSets.select(col("doc_id").as(da), col("shingles").as("sha")), da)
      .join(shingleSets.select(col("doc_id").as(db), col("shingles").as("shb")), db)
      .withColumn("inter",
        GraftFunctions.sorted_intersect_size(col("sha"), col("shb")).cast("double"))
      .withColumn("uni", (size(col("sha")) + size(col("shb"))).cast("double") - col("inter"))
      // two zero-shingle docs (empty/whitespace text) can reach here from
      // the UNFILTERED bucket stage of the precision audit (the agreement
      // prefilter shields the production pipelines — an empty minhash
      // array agrees on zero slots); NULL never passes the threshold,
      // matching DuckDB's x/0 → NULL
      .withColumn("jac", when(col("uni") > 0, col("inter") / col("uni")))
      .filter(col("jac") >= 0.5)
      .select(col(da), col(db), round(col("jac"), 6).as("jac"))
    if (sort) scored.orderBy(col(da), col(db)) else scored
  }

  private def minhashLshPipeline(s: SparkSession, dir: String,
      hash32: Column => Column, bandKey: Seq[Column] => Column): DataFrame = {
    val (base, pruned) = bandedFor(s, dir, hash32, bandKey)
    val left = pruned.select(col("band"), col("key"), col("doc_id").as("da"), col("mh").as("mha"))
    val right = pruned.select(col("band").as("band_r"), col("key").as("key_r"),
      col("doc_id").as("db"), col("mh").as("mhb"))
    // agree-prefilter FIRST (per-row, no shuffle), then narrow to (da,db),
    // then dedup — the shuffle dedups only surviving narrow pairs instead
    // of the full wide candidate set
    val cand = left.join(right,
        col("band") === col("band_r") && col("key") === col("key_r") && col("da") < col("db"))
      .filter(mhAgree >= lit(minhashAgreeMin))
      .select(col("da"), col("db"))
      .dropDuplicates("da", "db")
    verifyPairs(base, cand, "da", "db")
  }

  /** Minhash-agreement estimate over (mha, mhb): count of equal slots. */
  private[graft] def mhAgree: Column = size(filter(zip_with(col("mha"), col("mhb"),
    (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))

  /**
   * Incremental near-dup check — the daily-ingest shape: match ONLY the
   * newest batch (the lexicographically greatest `source`) against the
   * EXISTING corpus through the same band-bucket index, never a corpus
   * self-join. The banded new batch is broadcast-hinted (an incoming
   * batch is small relative to the accumulated corpus — the asymmetry is
   * the whole point; at scale the existing side's band relation is the
   * stored index a production pipeline maintains between ingests). The
   * batch marker is a 1-row aggregate collect (metadata, like the dense
   * probe). md5 family end-to-end so the whole path is oracle-checked.
   */
  def dedupIncrementalMd5(s: SparkSession, dir: String): DataFrame = {
    val (base, pruned) = bandedFor(s, dir, md5Hash32, md5BandKey)
    val ids = load(s, dir, "documents").select(col("doc_id"), col("source"))
    val maxSrc = ids.agg(max(col("source"))).first().getString(0)
    // null-safe split: an UNTAGGED (NULL-source) doc belongs to the
    // existing corpus — `=!=` would silently drop it from BOTH sides and
    // report its duplicates clean. (If every source is NULL, maxSrc is
    // null, the batch is empty, and the result is correctly empty.)
    val newBatch = pruned
      .join(ids.filter(col("source") === maxSrc).select(col("doc_id")), "doc_id")
      .select(col("band"), col("key"), col("doc_id").as("new_doc"), col("mh").as("mha"))
    val existing = pruned
      .join(ids.filter(!(col("source") <=> maxSrc)).select(col("doc_id")), "doc_id")
      .select(col("band").as("band_r"), col("key").as("key_r"),
        col("doc_id").as("old_doc"), col("mh").as("mhb"))
    val cand = existing.join(broadcast(newBatch),
        col("band") === col("band_r") && col("key") === col("key_r"))
      .filter(mhAgree >= lit(minhashAgreeMin))
      .select(col("new_doc"), col("old_doc"))
      .dropDuplicates("new_doc", "old_doc")
    verifyPairs(base, cand, "new_doc", "old_doc")
  }

  /** Exact-substring span gram width (tokens). The published exact
    *-substring dedup pipeline (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better") marks 50-BPE-token repeats via a
    * corpus suffix array; a distributed engine gets the same maximal
    * repeated-span semantics from fixed-width gram fingerprints — every
    * repeat of length ≥ k is a run of ≥ 1 duplicated k-grams, and merging
    * overlapping duplicated gram starts per doc reconstructs the maximal
    * span. k = 5 words keeps the guarantee meaningful on short synthetic
    * docs; production would pin k to the tokenizer's repeat threshold. */
  private val SpanGramTokens = 5

  /**
   * Duplicated-substring span detection — the exact-substring dedup audit:
   * per document, the maximal token spans whose every k-gram occurs ≥ 2
   * times in the corpus (counting all occurrences, same-doc repeats
   * included), with per-doc span/coverage accounting.
   *
   * Scale design: NO suffix array and NO pairwise compare — one
   * posexplode of md5 gram keys (linear in corpus tokens), one map-side
   * -combinable frequency count over gram keys, one semi-join back, and a
   * per-document gaps-and-islands window (partition = doc_id, bounded by
   * doc length). Gram TEXT never shuffles — only its md5.
   */
  def dedupSubstringSpans(s: SparkSession, dir: String): DataFrame = {
    val k = SpanGramTokens
    val toks = spreadDocs(s, dir)
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
    val grams = toks.filter(col("n_tokens") >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), (col("n_tokens") - (k - 1)).cast("int")),
          i => md5(array_join(slice(col("w"), i, lit(k)), " "))))
          .as(Seq("off", "gk")))
      .select(col("doc_id"), (col("off") + 1).as("pos"), col("gk"))
    val dupKeys = grams.groupBy(col("gk")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("gk"))
    val hits = grams.join(dupKeys, Seq("gk"), "left_semi")
    // gaps-and-islands per doc: a new span starts when the next duplicated
    // gram begins past the previous gram's coverage (pos - prev > k)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = hits
      .withColumn("step",
        when(col("pos") > lag(col("pos"), 1).over(byDoc) + k, 1L).otherwise(0L))
      .withColumn("isl", sum(col("step")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("a"), (max(col("pos")) + (k - 1)).as("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("b") - col("a") + 1).cast("long").as("dup_tokens"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(spans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .orderBy(col("doc_id"))
  }

  /**
   * LSH recall audit — the sketch-governance scan: every exact 3-shingle
   * Jaccard pair at J ≥ 0.8 (same-lang, the [[dedupJaccardNgrams]] ground
   * truth) checked against the md5 MinHash+LSH detector's verified output,
   * bucketed by integer similarity vigintile (⌊20·J⌋ = 16..20). A pair the
   * sketch misses is a band-collision failure or a bucket-cap drop — the
   * number a 100 TB dedup run must watch before trusting LSH as its only
   * candidate generator.
   *
   * Scale: both sides are the existing scale pipelines (PPJoin exact,
   * band-bucket LSH); the audit itself adds one (da, db) equi-join over
   * pair sets and a ≤5-group rollup. Runs both sub-pipelines — an audit
   * op's documented cost, not a hot-path one.
   */
  def dedupLshAudit(s: SparkSession, dir: String): DataFrame = {
    val base = spreadDocs(s, dir)
      .select(col("doc_id"), col("lang"),
        GraftFunctions.shingle_set(col("text"), 3).as("words"))
    val exact = jaccardPairs(base, probeDense = false)
    val lsh = dedupMinhashLshMd5(s, dir).select(col("da"), col("db"), lit(1L).as("hit"))
    exact
      .join(lsh, Seq("da", "db"), "left_outer")
      // floor(20·J): J is the same IEEE double on both engines (identical
      // int inputs, one correctly-rounded division), so the bucket edge
      // falls identically even when 20·J rounds just under an integer
      .withColumn("bucket", floor(col("jac") * 20).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_detected"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_missed"))
      .orderBy(col("bucket"))
  }

  /**
   * LSH PRECISION audit — the complement of [[dedupLshAudit]] (which
   * measures recall: exact pairs the index missed). This measures what
   * the index PROPOSES: of the distinct candidate pairs the capped band
   * buckets emit (`1_bucket`), and of those surviving the
   * minhash-agreement prefilter (`2_agree`), what fraction verify at the
   * exact-Jaccard threshold. The two-stage funnel prices the pipeline's
   * knobs: low bucket precision says band count is too permissive
   * (wasted exact-verify work — the dominant cost at 100 TB); verified
   * pairs present at `1_bucket` but absent at `2_agree` say the
   * prefilter threshold is cutting true positives.
   *
   * Scale shape: the audit prices a deterministic BAND SAMPLE — the
   * first [[LshPrecisionSampleBands]] of [[LshBands]] bands (a
   * scan-local predicate before any pair expansion; bands are symmetric
   * hash families, so the sampled candidate stream is an unbiased ~1/4
   * of the full one and the quadratic verify cost scales with the
   * sample). Within the sample it is the SAME narrow band join as the
   * production pipeline (bucket-capped before pair expansion); exact
   * verification runs ONCE over the bucket-stage superset (persisted,
   * released by the query owner) and the per-stage rollup joins that
   * single verdict relation — never a second shingle join.
   */
  def dedupLshPrecision(s: SparkSession, dir: String): DataFrame = {
    val (base, pruned0) = bandedFor(s, dir, md5Hash32, md5BandKey)
    // a zero-shingle doc has NO signature — without this both engines
    // invent a degenerate shared bucket for empty documents (Spark:
    // md5 of an empty concat; DuckDB: a NULL key) and disagree on it
    val pruned = pruned0.filter(size(col("mh")) > 0 &&
      col("band") < LshPrecisionSampleBands)
    val left = pruned.select(col("band"), col("key"), col("doc_id").as("da"), col("mh").as("mha"))
    val right = pruned.select(col("band").as("band_r"), col("key").as("key_r"),
      col("doc_id").as("db"), col("mh").as("mhb"))
    val cand = left.join(right,
        col("band") === col("band_r") && col("key") === col("key_r") && col("da") < col("db"))
      .select(col("da"), col("db"), (mhAgree >= lit(minhashAgreeMin)).as("agrees"))
      .dropDuplicates("da", "db")
      .transform(cached)
    val verdict = verifyPairs(base, cand.select(col("da"), col("db")), "da", "db", sort = false)
      .select(col("da"), col("db"), lit(1L).as("ok"))
    val staged = cand.select(lit("1_bucket").as("stage"), col("da"), col("db"))
      .unionByName(cand.filter(col("agrees"))
        .select(lit("2_agree").as("stage"), col("da"), col("db")))
    staged.join(verdict, Seq("da", "db"), "left")
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ok").isNotNull, 1L).otherwise(0L)).as("n_verified"))
      .withColumn("precision",
        round(col("n_verified").cast("double") / col("n_pairs").cast("double"), 6))
      .orderBy(col("stage"))
  }

  /**
   * The composed multi-method dedup funnel with REASON attribution — the
   * end-to-end shape a production pipeline actually runs (CCNet /
   * RefinedWeb stage order): cheap normalized-EXACT dedup first
   * ([[Governance.normText]] key, keep-lowest-id), then MinHash+LSH
   * NEAR-dup detection among the exact-stage SURVIVORS ONLY (running the
   * expensive candidate join on already-deduped data is the point of the
   * ordering), dropping the higher id of every verified pair whose lower
   * id survived. Every document gets a reason — `exact`, `near`, or
   * `kept` — and the output is the per-source funnel account a data card
   * reports. The near rule is the single-pass pair rule (not transitive
   * closure — `dedup_components` owns that); deterministic by id order.
   *
   * Scale shape: stage 1 is one combiner-collapsed groupBy + join-back;
   * stage 2 filters the banded relation to survivors with a left-semi
   * join BEFORE the pair join, so candidate work shrinks with stage-1's
   * kill rate; one verify pass; the rollup is ≤|sources| groups. The
   * keyed scan persists once (query-owner released) and feeds stage 1,
   * the survivor filter, and the final attribution.
   */
  def pipelineDedupReasons(s: SparkSession, dir: String): DataFrame = {
    val keyed = spreadDocs(s, dir)
      .select(col("doc_id"), col("source"),
        when(length(Governance.normText(col("text"))) > 0,
          md5(Governance.normText(col("text")))).as("nk"))
      .transform(cached)
    val canon = keyed.filter(col("nk").isNotNull)
      .groupBy(col("nk")).agg(min(col("doc_id")).as("canon_id"))
    val staged = keyed.join(canon, Seq("nk"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("doc_id") =!= col("canon_id"), lit(false)).as("exact_drop"))
    val survivors = staged.filter(!col("exact_drop")).select(col("doc_id"))
    val (base, pruned0) = bandedFor(s, dir, md5Hash32, md5BandKey)
    val pruned = pruned0.join(survivors, Seq("doc_id"), "left_semi")
    val left = pruned.select(col("band"), col("key"), col("doc_id").as("da"), col("mh").as("mha"))
    val right = pruned.select(col("band").as("band_r"), col("key").as("key_r"),
      col("doc_id").as("db"), col("mh").as("mhb"))
    val cand = left.join(right,
        col("band") === col("band_r") && col("key") === col("key_r") && col("da") < col("db"))
      .filter(mhAgree >= lit(minhashAgreeMin))
      .select(col("da"), col("db"))
      .dropDuplicates("da", "db")
    val nearDropped = verifyPairs(base, cand, "da", "db", sort = false)
      .select(col("db").as("doc_id")).distinct()
      .withColumn("near_drop", lit(true))
    staged.join(nearDropped, Seq("doc_id"), "left")
      .select(col("source"),
        when(col("exact_drop"), "exact")
          .when(col("near_drop").isNotNull, "near")
          .otherwise("kept").as("reason"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("reason") === "exact", 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("reason") === "near", 1L).otherwise(0L)).as("n_near"),
        sum(when(col("reason") === "kept", 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Containment acceptance threshold (Broder's containment C(A,B) =
    * |A∩B|/|A| — directional, unlike resemblance). */
  private val ContainNum = 9L
  private val ContainDen = 10L

  /**
   * Containment (subset) detection — the duplicate class Jaccard
   * structurally misses: a short document quoted inside a much longer
   * one has C(A,B) ≈ 1 but J(A,B) ≈ |A|/|B| ≈ 0, so no resemblance
   * threshold finds it. For every document A, every B (≠ A) holding at
   * least [[ContainNum]]/[[ContainDen]] of A's 3-token shingles.
   *
   * Candidate generation is PREFIX FILTERING on the document-frequency
   * order (the PPJoin principle applied to containment): if B contains
   * ≥ t·|A| of A's shingles, it misses at most ⌊(1−t)·|A|⌋, so B must
   * share at least one of A's ⌊(1−t)·|A|⌋+1 RAREST shingles — blocking
   * on that prefix has NO false negatives, and rare shingles have small
   * postings, so the candidate stream is Σ_A prefix·df(rare) — linear-ish
   * in practice, never all-pairs. Verification is one exact
   * [[GraftFunctions.sorted_intersect_size]] pass per candidate with the
   * integer cross-multiplied threshold (no double prunes a true pair).
   *
   * Scale: df is one map-side-combined aggregate; the prefix is a
   * per-doc window over (df, shingle); candidates are an equi-join on
   * the shingle; dedup via distinct before the verify join.
   */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val sh = spreadDocs(s, dir)
      .select(col("doc_id"), GraftFunctions.shingle_set(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
      .transform(cached)
    val e = sh.select(col("doc_id"), size(col("shs")).cast("long").as("n"),
      explode(col("shs")).as("w"))
    val dfc = e.groupBy(col("w")).agg(count(lit(1)).as("dfc"))
    val winDoc = Window.partitionBy(col("doc_id")).orderBy(col("dfc"), col("w"))
    val prefix = e.join(dfc, Seq("w"))
      .withColumn("rn", row_number().over(winDoc))
      // ⌊(1−t)·n⌋ + 1 = ⌊n·(den−num)/den⌋ + 1, exact integers (DIV, not
      // the double-valued `/`)
      .filter(col("rn") <=
        expr(s"n * ${ContainDen - ContainNum} DIV $ContainDen + 1"))
      .select(col("doc_id").as("inner_id"), col("w"))
    val cand = prefix
      .join(e.select(col("doc_id").as("outer_id"), col("w")), Seq("w"))
      .filter(col("inner_id") =!= col("outer_id"))
      .select(col("inner_id"), col("outer_id"))
      .distinct()
    val inter = GraftFunctions
      .sorted_intersect_size(col("sa"), col("sb")).cast("long")
    cand
      .join(sh.select(col("doc_id").as("inner_id"), col("shs").as("sa")),
        Seq("inner_id"))
      .join(sh.select(col("doc_id").as("outer_id"), col("shs").as("sb")),
        Seq("outer_id"))
      .withColumn("n_shared", inter)
      .withColumn("n_inner", size(col("sa")).cast("long"))
      // t·|A| ≤ |A∩B| as integer cross-multiplication
      .filter(col("n_shared") * ContainDen >= col("n_inner") * ContainNum)
      .select(col("inner_id"), col("outer_id"), col("n_inner"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_inner"), 6)
          .as("containment"))
      .orderBy(col("inner_id"), col("outer_id"))
  }

  // ---------------------------------------------------------------------
  // dedup_band_tuning — MinHash banding S-curve over observed dup pairs
  // ---------------------------------------------------------------------

  /** Candidate (bands, rows-per-band) layouts for a 128-permutation
    * MinHash signature — powers of two ONLY, so s^r and (1−s^r)^b are
    * pure squaring chains (identical IEEE ops both engines; no libm pow
    * parity risk). */
  private val BandConfigs: Seq[(Int, Int)] =
    Seq((64, 2), (32, 4), (16, 8), (8, 16))

  /** x^e for a power-of-two exponent as a repeated-squaring chain. */
  private def sqChain(x: org.apache.spark.sql.Column, e: Int): org.apache.spark.sql.Column =
    (1 to Integer.numberOfTrailingZeros(e)).foldLeft(x)((acc, _) => acc * acc)

  /** The same chain as SQL text. */
  private def sqChainSql(x: String, e: Int): String =
    (1 to Integer.numberOfTrailingZeros(e)).foldLeft(x)((acc, _) => s"($acc * $acc)")

  /**
   * MinHash band-layout tuning audit — the sensitivity analysis run
   * BEFORE committing a 100 TB corpus to one (bands b, rows r) choice:
   * for each candidate layout of a 128-perm signature, the analytic
   * half-detection threshold s* = (1/b)^{1/r} and the EXPECTED recall of
   * the layout over the corpus's OWN observed duplicate pairs —
   * Σ 1−(1−s^r)^b across the verified same-lang word-Jaccard pairs
   * (s ≥ 0.8, [[dedupJaccardWords]]'s relation). An expected-missed mass
   * above tolerance says the layout's S-curve sits too far right for
   * this corpus's similarity profile.
   *
   * Scale: reuses the banded/PPJoin pair generation (never all-pairs);
   * everything after is one global aggregate producing ONE row expanded
   * to |configs| rows — no join, no window. Determinism: per-pair
   * probabilities are squaring-chain arithmetic on the bit-identical
   * `jac` doubles, rounded to 8 dp into exact DECIMAL sums.
   */
  def dedupBandTuning(s: SparkSession, dir: String): DataFrame = {
    val pv = jaccardPairs(docWords(s, dir)).select(col("jac"))
    val sums = BandConfigs.map { case (b, r) =>
      val p = lit(1.0d) - sqChain(lit(1.0d) - sqChain(col("jac"), r), b)
      sum(round(p, 8).cast(DecimalType(20, 8))).as(s"e_${b}x$r")
    }
    val agg = pv.agg(count(lit(1)).as("n_pairs"), sums: _*)
    val rows = BandConfigs.map { case (b, r) =>
      struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
        lit(BigDecimal(math.pow(1.0 / b, 1.0 / r))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).as("s_star"),
        col("n_pairs"),
        round(col(s"e_${b}x$r").cast("double"), 6).as("exp_caught"),
        round(col("n_pairs").cast("double") - col(s"e_${b}x$r").cast("double"), 6)
          .as("exp_missed"))
    }
    agg.select(explode(array(rows: _*)).as("c")).select(col("c.*"))
      .orderBy(col("bands").desc)
  }

  private[queries] def bandTuningOracle: String = {
    val branches = BandConfigs.map { case (b, r) =>
      val p = s"(1.0 - ${sqChainSql(s"(1.0 - ${sqChainSql("jac", r)})", b)})"
      s"SUM(CAST(round($p, 8) AS DECIMAL(20,8))) AS e_${b}x$r"
    }.mkString(",\n|    ")
    val selects = BandConfigs.map { case (b, r) =>
      val sstar = BigDecimal(math.pow(1.0 / b, 1.0 / r))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  CAST($sstar AS DOUBLE) AS s_star, n_pairs,
         |  round(CAST(e_${b}x$r AS DOUBLE), 6) AS exp_caught,
         |  round(CAST(n_pairs AS DOUBLE) - CAST(e_${b}x$r AS DOUBLE), 6) AS exp_missed
         |FROM agg""".stripMargin
    }.mkString("\n|UNION ALL\n|")
    s"""WITH pv AS ($jaccardWordsPairsSql),
       |agg AS (
       |  SELECT CAST(COUNT(1) AS BIGINT) AS n_pairs,
       |    $branches
       |  FROM pv)
       |$selects
       |ORDER BY bands DESC""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_band_tuning" -> (dedupBandTuning _),
    "dedup_containment" -> (dedupContainment _),
    "pipeline_dedup_reasons" -> (pipelineDedupReasons _),
    "dedup_lsh_precision" -> (dedupLshPrecision _),
    "dedup_jaccard_words" -> (dedupJaccardWords _),
    "dedup_jaccard_ngrams" -> (dedupJaccardNgrams _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_minhash_lsh_md5" -> (dedupMinhashLshMd5 _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "dedup_incremental_md5" -> (dedupIncrementalMd5 _),
    "dedup_substring_spans" -> (dedupSubstringSpans _),
    "dedup_lsh_audit" -> (dedupLshAudit _))

  private[graft] def minhashAgreeMin: Int = (MinhashEstThreshold * MinhashPerms).toInt

  /** Shared DuckDB CTE block mirroring [[bandedFor]] with the md5 family
    * (constants generated by the same permA/permB loop as the Spark
    * side): documents → shingles → 32 minhashes → capped band buckets. */
  private def minhashMd5SharedCtes: String = {
    val perms = (0 until MinhashPerms)
      .map(j => s"list_min(list_transform(h32, h -> h * ${permA(j)} + ${permB(j)}))")
      .mkString(",\n      ")
    val bandKeys = (0 until LshBands).map { b =>
      val parts = (1 to 4).map(r => s"CAST(mh[${b * 4 + r}] AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, mh, $b AS band, md5($parts) AS key FROM mh"
    }.mkString("\n    UNION ALL\n    ")
    s"""base AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_sort(list_distinct(
       |    CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
       |    WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
       |    ELSE list_transform(generate_series(1, len(words) - 2),
       |      i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) END)) AS shingles
       |  FROM base),
       |hs AS (
       |  SELECT doc_id, shingles,
       |    list_transform(shingles,
       |      s -> CAST(CAST('0x' || substring(md5(s), 1, 8) AS UBIGINT) AS BIGINT)) AS h32
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, [
       |      $perms
       |    ] AS mh
       |  FROM hs),
       |banded AS (
       |    $bandKeys),
       |pruned AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bsz FROM banded)
       |  WHERE bsz <= $MaxBucketSize)""".stripMargin
  }

  /** [[minhashMd5SharedCtes]] for the PRODUCTION farm/xxhash family: the
    * opaque hashes come in as [[OracleAux]] side-table joins (shingle→h32
    * as a map lookup, minhash-4-tuple→band key as an equi-join) and
    * everything downstream — shingling, the 32 affine permutations,
    * banding, the bucket cap — is replayed independently in SQL. A doc
    * whose minhashes are NULL (empty shingle set) drops at the band-key
    * join; on the Spark side such docs keep a constant xxhash64 key but
    * can never survive the ≥-agreement prefilter (NULL = NULL is not
    * true), so the verified-pair output is identical. */
  private def minhashFarmSharedCtes: String = {
    val perms = (0 until MinhashPerms)
      .map(j => s"list_min(list_transform(h32, h -> h * ${permA(j)} + ${permB(j)}))")
      .mkString(",\n      ")
    val bandKeys = (0 until LshBands).map { b =>
      val on = (1 to 4).map(r => s"bk.m$r = t.mh[${b * 4 + r}]").mkString(" AND ")
      s"SELECT t.doc_id, t.mh, $b AS band, bk.key AS key FROM mh t JOIN bk ON $on"
    }.mkString("\n    UNION ALL\n    ")
    s"""fsh AS (SELECT map(list(shingle), list(h32)) AS m
       |        FROM ${OracleAux.duckAux("farm_shingles")}),
       |bk AS (SELECT * FROM ${OracleAux.duckAux("farm_bandkeys")}),
       |base AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_sort(list_distinct(
       |    CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
       |    WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
       |    ELSE list_transform(generate_series(1, len(words) - 2),
       |      i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) END)) AS shingles
       |  FROM base),
       |hs AS (
       |  SELECT doc_id, shingles,
       |    list_transform(shingles, s -> map_extract(fsh.m, s)[1]) AS h32
       |  FROM sh, fsh),
       |mh AS (
       |  SELECT doc_id, [
       |      $perms
       |    ] AS mh
       |  FROM hs),
       |banded AS (
       |    $bandKeys),
       |pruned AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bsz FROM banded)
       |  WHERE bsz <= $MaxBucketSize)""".stripMargin
  }

  /**
   * Dedup-threshold sweep — the sizing table a curation planner reads
   * before COMMITTING a near-dup threshold: over the verified
   * ([[dedupMinhashLshMd5]]) pair relation, for each candidate Jaccard
   * cut t ∈ {0.5 … 0.9} the surviving pair count and the documents a
   * min-id-keeper policy would drop (distinct higher-id partners). One
   * LSH pipeline run prices five thresholds — the sweep is a rollup,
   * not five pipelines.
   *
   * Scale: the threshold spine is a 5-element literal explode over the
   * already-bounded verified-pair stream; the rollup is a ≤5-group
   * aggregate with a distinct-count per group. Determinism: jac is the
   * pipeline's 6-dp-rounded value compared to exact literals. The
   * final spine left-join guarantees every candidate cut appears in
   * the sizing table — a threshold that drops NOTHING reads (t, 0, 0)
   * instead of silently vanishing (exactly the cut a planner most
   * needs to see).
   */
  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhashLshMd5(s, dir).select(col("db"), col("jac"))
    val grp = pairs
      .select(col("db"), col("jac"),
        explode(typedLit(Seq(0.5, 0.6, 0.7, 0.8, 0.9))).as("t"))
      .filter(col("jac") >= col("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("np"),
        countDistinct(col("db")).as("nd"))
    val spine = pairs.sparkSession.range(1)
      .select(explode(typedLit(Seq(0.5, 0.6, 0.7, 0.8, 0.9))).as("t"))
    spine.join(grp, Seq("t"), "left_outer")
      .select(col("t"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_dropped"))
      .orderBy(col("t"))
  }

  private def dedupThresholdSweepOracle: String =
    s"""WITH $minhashMd5SharedCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM pruned x JOIN pruned y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  WHERE len(list_filter(generate_series(1, $MinhashPerms),
       |    i -> x.mh[i] = y.mh[i])) >= $minhashAgreeMin),
       |verified AS (
       |  SELECT da, db,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS inter,
       |    CAST(len(a.shingles) + len(b.shingles) AS DOUBLE) AS szsum
       |  FROM cand
       |  JOIN sh a ON cand.da = a.doc_id
       |  JOIN sh b ON cand.db = b.doc_id),
       |pv AS (
       |  SELECT db, round(inter / (szsum - inter), 6) AS jac
       |  FROM verified WHERE inter / (szsum - inter) >= 0.5),
       |ts(t) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.6 AS DOUBLE)),
       |  (CAST(0.7 AS DOUBLE)), (CAST(0.8 AS DOUBLE)), (CAST(0.9 AS DOUBLE)))
       |SELECT ts.t, CAST(COUNT(pv.jac) AS BIGINT) AS n_pairs,
       |  CAST(COUNT(DISTINCT pv.db) AS BIGINT) AS n_dropped
       |FROM ts LEFT JOIN pv ON pv.jac >= ts.t
       |GROUP BY ts.t ORDER BY ts.t""".stripMargin

  /** The farm-family LSH oracle — [[minhashLshMd5Oracle]]'s body over the
    * side-table-backed CTEs. */
  private def minhashLshFarmOracle: String =
    s"""WITH $minhashFarmSharedCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM pruned x JOIN pruned y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  WHERE len(list_filter(generate_series(1, $MinhashPerms),
       |    i -> x.mh[i] = y.mh[i])) >= $minhashAgreeMin),
       |verified AS (
       |  SELECT da, db,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS inter,
       |    CAST(len(a.shingles) + len(b.shingles) AS DOUBLE) AS szsum
       |  FROM cand
       |  JOIN sh a ON cand.da = a.doc_id
       |  JOIN sh b ON cand.db = b.doc_id)
       |SELECT da, db, round(inter / (szsum - inter), 6) AS jac
       |FROM verified
       |WHERE inter / (szsum - inter) >= 0.5
       |ORDER BY da, db""".stripMargin

  /** DuckDB mirror of [[dedupLshAudit]]: exact ngram pairs (reusing the
    * shared block's `sh` shingle sets + lang from documents) LEFT JOIN the
    * verified LSH pairs, rolled up by similarity vigintile. */
  private def dedupLshAuditOracle: String =
    s"""WITH $minhashMd5SharedCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM pruned x JOIN pruned y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  WHERE len(list_filter(generate_series(1, $MinhashPerms),
       |    i -> x.mh[i] = y.mh[i])) >= $minhashAgreeMin),
       |lshp AS (
       |  SELECT da, db FROM (
       |    SELECT da, db,
       |      CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS inter,
       |      CAST(len(a.shingles) + len(b.shingles) AS DOUBLE) AS szsum
       |    FROM cand
       |    JOIN sh a ON cand.da = a.doc_id
       |    JOIN sh b ON cand.db = b.doc_id)
       |  WHERE inter / (szsum - inter) >= 0.5),
       |shl AS (
       |  SELECT sh.doc_id, d.lang, sh.shingles
       |  FROM sh JOIN (SELECT doc_id, lang FROM documents) d USING (doc_id)
       |  WHERE len(sh.shingles) > 0),
       |exx AS (SELECT doc_id, lang, unnest(shingles) AS w FROM shl),
       |excnt AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS nw FROM shl),
       |expairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(1) AS inter
       |  FROM exx a JOIN exx b ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT da, db,
       |    inter::DOUBLE / (ca.nw + cb.nw - inter)::DOUBLE AS jac
       |  FROM expairs
       |  JOIN excnt ca ON da = ca.doc_id
       |  JOIN excnt cb ON db = cb.doc_id
       |  WHERE inter::DOUBLE / (ca.nw + cb.nw - inter)::DOUBLE >= 0.8)
       |SELECT CAST(floor(e.jac * 20) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN l.da IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
       |  CAST(SUM(CASE WHEN l.da IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
       |FROM exact e LEFT JOIN lshp l ON e.da = l.da AND e.db = l.db
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB mirror of the md5-keyed LSH pipeline. */
  /** DuckDB mirror of the reason-attributed dedup funnel. */
  private def pipelineDedupReasonsOracle: String =
    s"""WITH $minhashMd5SharedCtes,
       |nstage AS (
       |  SELECT doc_id, source, ${Governance.duckNormFp("text")} AS nk
       |  FROM documents),
       |ncanon AS (
       |  SELECT nk, MIN(doc_id) AS canon_id FROM nstage
       |  WHERE nk IS NOT NULL GROUP BY nk),
       |stg AS (
       |  SELECT n.doc_id, n.source,
       |    COALESCE(n.doc_id <> c.canon_id, FALSE) AS exact_drop
       |  FROM nstage n LEFT JOIN ncanon c USING (nk)),
       |surv AS (SELECT doc_id FROM stg WHERE NOT exact_drop),
       |przs AS (SELECT p.* FROM pruned p JOIN surv USING (doc_id)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM przs x JOIN przs y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  WHERE len(list_filter(generate_series(1, $MinhashPerms),
       |    i -> x.mh[i] = y.mh[i])) >= $minhashAgreeMin),
       |near AS (
       |  SELECT DISTINCT db AS doc_id FROM (
       |    SELECT da, db,
       |      CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS inter,
       |      CAST(len(a.shingles) + len(b.shingles) AS DOUBLE) AS szsum
       |    FROM cand
       |    JOIN sh a ON cand.da = a.doc_id
       |    JOIN sh b ON cand.db = b.doc_id)
       |  WHERE inter / (szsum - inter) >= 0.5),
       |r AS (
       |  SELECT stg.source,
       |    CASE WHEN exact_drop THEN 'exact'
       |         WHEN near.doc_id IS NOT NULL THEN 'near'
       |         ELSE 'kept' END AS reason
       |  FROM stg LEFT JOIN near USING (doc_id))
       |SELECT source, COUNT(1) AS n_docs,
       |  CAST(SUM(CASE WHEN reason = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN reason = 'near' THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       |  CAST(SUM(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** DuckDB mirror of the two-stage precision funnel. */
  private def dedupLshPrecisionOracle: String =
    s"""WITH $minhashMd5SharedCtes,
       |prz AS (SELECT * FROM pruned WHERE mh[1] IS NOT NULL
       |  AND band < $LshPrecisionSampleBands),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
       |    len(list_filter(generate_series(1, $MinhashPerms),
       |      i -> x.mh[i] = y.mh[i])) >= $minhashAgreeMin AS agrees
       |  FROM prz x JOIN prz y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |v AS (
       |  SELECT da, db FROM (
       |    SELECT da, db,
       |      CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS inter,
       |      CAST(len(a.shingles) + len(b.shingles) AS DOUBLE) AS szsum
       |    FROM cand
       |    JOIN sh a ON cand.da = a.doc_id
       |    JOIN sh b ON cand.db = b.doc_id)
       |  WHERE inter / (szsum - inter) >= 0.5),
       |staged AS (
       |  SELECT '1_bucket' AS stage, da, db FROM cand
       |  UNION ALL
       |  SELECT '2_agree' AS stage, da, db FROM cand WHERE agrees)
       |SELECT stage, COUNT(1) AS n_pairs,
       |  CAST(SUM(CASE WHEN v.da IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
       |  round(CAST(SUM(CASE WHEN v.da IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(1) AS DOUBLE), 6) AS precision
       |FROM staged LEFT JOIN v USING (da, db)
       |GROUP BY stage ORDER BY stage""".stripMargin

  private def minhashLshMd5Oracle: String =
    s"""WITH $minhashMd5SharedCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM pruned x JOIN pruned y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  WHERE len(list_filter(generate_series(1, $MinhashPerms),
       |    i -> x.mh[i] = y.mh[i])) >= $minhashAgreeMin),
       |verified AS (
       |  SELECT da, db,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS inter,
       |    CAST(len(a.shingles) + len(b.shingles) AS DOUBLE) AS szsum
       |  FROM cand
       |  JOIN sh a ON cand.da = a.doc_id
       |  JOIN sh b ON cand.db = b.doc_id)
       |SELECT da, db, round(inter / (szsum - inter), 6) AS jac
       |FROM verified
       |WHERE inter / (szsum - inter) >= 0.5
       |ORDER BY da, db""".stripMargin

  /** DuckDB mirror of the incremental (new-batch-vs-existing) check. */
  private def dedupIncrementalMd5Oracle: String =
    s"""WITH $minhashMd5SharedCtes,
       |ms AS (SELECT max(source) AS m FROM documents),
       |newd AS (SELECT doc_id FROM documents, ms WHERE source = m),
       |oldd AS (SELECT doc_id FROM documents, ms WHERE source IS DISTINCT FROM m),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS old_doc
       |  FROM pruned x
       |  JOIN newd ON x.doc_id = newd.doc_id
       |  JOIN pruned y ON x.band = y.band AND x.key = y.key
       |  JOIN oldd ON y.doc_id = oldd.doc_id
       |  WHERE len(list_filter(generate_series(1, $MinhashPerms),
       |    i -> x.mh[i] = y.mh[i])) >= $minhashAgreeMin),
       |verified AS (
       |  SELECT new_doc, old_doc,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS inter,
       |    CAST(len(a.shingles) + len(b.shingles) AS DOUBLE) AS szsum
       |  FROM cand
       |  JOIN sh a ON cand.new_doc = a.doc_id
       |  JOIN sh b ON cand.old_doc = b.doc_id)
       |SELECT new_doc, old_doc, round(inter / (szsum - inter), 6) AS jac
       |FROM verified
       |WHERE inter / (szsum - inter) >= 0.5
       |ORDER BY new_doc, old_doc""".stripMargin

  /** The exact same-lang word-set Jaccard pair query WITHOUT the final
    * ordering, shared with [[Curation]]'s connected-components oracle
    * (which embeds it as a CTE). */
  private[queries] val jaccardWordsPairsSql: String =
    """WITH dw AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_filter(string_split(text, ' '), w -> w <> '')) AS words
      |  FROM documents),
      |cnt AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS nw FROM dw),
      |ex AS (SELECT doc_id, lang, unnest(words) AS w FROM dw),
      |pairs AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(1) AS inter
      |  FROM ex a JOIN ex b ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db, inter,
      |  inter::DOUBLE / (ca.nw + cb.nw - inter)::DOUBLE AS jac
      |FROM pairs
      |JOIN cnt ca ON da = ca.doc_id
      |JOIN cnt cb ON db = cb.doc_id
      |WHERE inter::DOUBLE / (ca.nw + cb.nw - inter)::DOUBLE >= 0.8""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_band_tuning" -> bandTuningOracle,
    "dedup_containment" ->
      s"""WITH base AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, list_sort(list_distinct(
         |    CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
         |    WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
         |    ELSE list_transform(generate_series(1, len(words) - 2),
         |      i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) END)) AS shingles
         |  FROM base),
         |shf AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
         |e AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n,
         |        unnest(shingles) AS w
         |      FROM shf),
         |dfc AS (SELECT w, CAST(COUNT(1) AS BIGINT) AS dfc FROM e GROUP BY w),
         |pr AS (
         |  SELECT doc_id AS inner_id, w FROM (
         |    SELECT e.doc_id, e.w, e.n,
         |      row_number() OVER (PARTITION BY e.doc_id ORDER BY dfc.dfc, e.w) AS rn
         |    FROM e JOIN dfc ON e.w = dfc.w)
         |  WHERE rn <= n * ${ContainDen - ContainNum} // $ContainDen + 1),
         |cand AS (
         |  SELECT DISTINCT inner_id, e.doc_id AS outer_id
         |  FROM pr JOIN e ON pr.w = e.w
         |  WHERE inner_id <> e.doc_id)
         |SELECT inner_id, outer_id,
         |  CAST(len(a.shingles) AS BIGINT) AS n_inner,
         |  CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_shared,
         |  round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |    / len(a.shingles), 6) AS containment
         |FROM cand
         |JOIN shf a ON cand.inner_id = a.doc_id
         |JOIN shf b ON cand.outer_id = b.doc_id
         |WHERE len(list_intersect(a.shingles, b.shingles)) * $ContainDen
         |  >= len(a.shingles) * $ContainNum
         |ORDER BY inner_id, outer_id""".stripMargin,
    "dedup_substring_spans" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
         |  FROM documents),
         |tc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w FROM t),
         |g0 AS (
         |  SELECT doc_id, w, unnest(generate_series(1, len(w) - ${SpanGramTokens - 1})) AS pos
         |  FROM tc WHERE n_tokens >= $SpanGramTokens),
         |g AS (
         |  SELECT doc_id, pos,
         |    md5(array_to_string(w[pos:pos + ${SpanGramTokens - 1}], ' ')) AS gk
         |  FROM g0),
         |dup AS (SELECT gk FROM g GROUP BY gk HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, pos FROM g WHERE gk IN (SELECT gk FROM dup)),
         |st AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |      + $SpanGramTokens THEN 1 ELSE 0 END AS step
         |  FROM hits),
         |isl AS (
         |  SELECT doc_id, pos,
         |    SUM(step) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS isl
         |  FROM st),
         |sp AS (
         |  SELECT doc_id, isl, min(pos) AS a, max(pos) + ${SpanGramTokens - 1} AS b
         |  FROM isl GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(SUM(b - a + 1) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY 1)
         |SELECT tc.doc_id, tc.n_tokens,
         |  COALESCE(agg.n_spans, 0) AS n_spans,
         |  COALESCE(agg.dup_tokens, 0) AS dup_tokens
         |FROM tc LEFT JOIN agg ON tc.doc_id = agg.doc_id
         |ORDER BY tc.doc_id""".stripMargin,
    "dedup_jaccard_ngrams" ->
      """WITH w0 AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), w -> w <> '') AS words
        |  FROM documents),
        |dw AS (
        |  SELECT doc_id, lang, list_distinct(
        |    CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
        |    WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
        |    ELSE list_transform(generate_series(1, len(words) - 2),
        |      i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) END) AS words
        |  FROM w0),
        |cnt AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS nw FROM dw),
        |ex AS (SELECT doc_id, lang, unnest(words) AS w FROM dw),
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(1) AS inter
        |  FROM ex a JOIN ex b ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, inter,
        |  inter::DOUBLE / (ca.nw + cb.nw - inter)::DOUBLE AS jac
        |FROM pairs
        |JOIN cnt ca ON da = ca.doc_id
        |JOIN cnt cb ON db = cb.doc_id
        |WHERE inter::DOUBLE / (ca.nw + cb.nw - inter)::DOUBLE >= 0.8
        |ORDER BY da, db""".stripMargin,
    "dedup_jaccard_words" -> (jaccardWordsPairsSql + "\nORDER BY da, db"),
    "dedup_lsh_audit" -> dedupLshAuditOracle,
    "dedup_lsh_precision" -> dedupLshPrecisionOracle,
    "pipeline_dedup_reasons" -> pipelineDedupReasonsOracle,
    "dedup_simhash" -> simhashOracle,
    "dedup_minhash_lsh" -> minhashLshFarmOracle,
    "dedup_threshold_sweep" -> dedupThresholdSweepOracle,
    "dedup_minhash_lsh_md5" -> minhashLshMd5Oracle,
    "dedup_incremental_md5" -> dedupIncrementalMd5Oracle)
}
