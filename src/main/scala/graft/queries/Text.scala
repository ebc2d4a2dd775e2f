package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._
import graft.operators.BigramLm
import graft.core.QueryCaches.cached

/**
 * Text-analysis operators for the large-scale training-data pipeline
 * (builder brief §text-analysis): token counting, quality scoring,
 * n-gram-heuristic language ID, document fingerprinting. All pure
 * column expressions — fully codegen'd, no UDFs, shuffle only for the
 * final aggregations.
 */
object Text {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.spreadDocs(s, dir)

  /** Non-empty whitespace tokens — THE tokenizer every fingerprint/count
    * in the curation family shares (one spelling, one parity contract with
    * the DuckDB `list_filter(string_split(...))` oracle side). */
  private[graft] def words(c: Column): Column =
    filter(split(c, " "), w => w =!= "")

  /** Token counting: whitespace tokens + a BPE-ish regex token count. */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_re_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** Quality scoring: length / distinct-ratio / stopword-ratio heuristics.
    * Ratios are exact int/int double divisions — bit-identical cross-engine. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val nw = size(w).cast("double")
    // ratios are NULL for empty docs (DuckDB x/0 → NULL; Spark ANSI throws)
    val distinctRatio = when(size(w) > 0, size(array_distinct(w)).cast("double") / nw)
    val stopRatio = when(size(w) > 0, size(filter(w, x => x.isin("the", "a"))).cast("double") / nw)
    docs(s, dir)
      .select(col("doc_id"),
        size(w).cast("long").as("n_words"),
        distinctRatio.as("distinct_ratio"),
        stopRatio.as("stopword_ratio"),
        when(size(w) >= 12 && distinctRatio >= 0.6, "high")
          .when(size(w) >= 6, "medium")
          .otherwise("low").as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic (stopword/marker-ngram ratio) + accuracy against
    * the labelled lang column. */
  def textLangId(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val enRatio = when(size(w) > 0,
      size(filter(w, x => x.isin("the", "a"))).cast("double") / size(w).cast("double"))
    docs(s, dir)
      .select(col("lang"),
        when(enRatio >= 0.1, "en_like").otherwise("other").as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** NULL for an empty word set — matches DuckDB, where
    * `array_to_string([], ' ')` is NULL (empty docs carry no bag-of-words
    * identity; exact-dup grouping treats them as one NULL group). Shared
    * with [[Curation]] so the fingerprint used by dedup, the composed
    * curation pipeline, and the contamination check can never diverge.
    * The sorted-distinct word set comes from the codegen kernel —
    * identical output to `sort_array(array_distinct(words(c)))`, whose
    * interpreted per-token lambdas dominated the fingerprint scans. */
  private[queries] def bowFp(c: Column): Column = {
    val ws = graft.functions.GraftFunctions.shingle_set(c, 1)
    when(size(ws) > 0, md5(concat_ws(" ", ws)))
  }

  /** Document fingerprinting: md5 content hash + bag-of-words hash (the
    * normalization-invariant near-dup key). */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        md5(col("text")).as("content_fp"),
        bowFp(col("text")).as("bow_fp"))
      .orderBy(col("doc_id"))

  /** Bag-of-words fingerprint dedup: one keeper per identical word set.
    * The scan is spread before the CPU-heavy tokenize+hash projection — a
    * small corpus arrives as one file split, which would serialize the
    * kernel on one core (at scale the scan has thousands of splits and the
    * narrow repartition of raw text is noise). */
  def dedupBowFp(s: SparkSession, dir: String): DataFrame = {
    val parts = parallelism(s)
    docs(s, dir)
      .repartition(parts, col("doc_id"))
      .select(col("doc_id"), bowFp(col("text")).as("bow_fp"))
      .groupBy(col("bow_fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy(col("bow_fp"))
  }

  private val WinnowK = 8 // character k-gram length
  private val WinnowW = 4 // winnowing window (grams per window)
  /**
   * Winnowing fingerprints (MOSS-style rolling-hash selection): hash every
   * K-char gram with a polynomial hash (h(i) = Σ_j code[i+j]·31^(K-1-j)
   * mod 2^32 — pure integer arithmetic the DuckDB oracle computes
   * verbatim in SQL), keep the minimum hash of each W-gram window,
   * distinct the selections. Robust local fingerprints for
   * plagiarism/near-dup detection.
   *
   * The selection runs in [[graft.functions.WinnowFp]], a codegen'd
   * Catalyst expression — higher-order array functions would interpret a
   * lambda per character, which made this the most expensive scan over the
   * documents table (and an earlier md5-per-gram variant slower still).
   */
  def textWinnowFp(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      .withColumn("fps",
        graft.functions.GraftFunctions.winnow_fp(col("text"), WinnowK, WinnowW))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy(col("doc_id"))
  }

  /** Stop-fingerprint cap: a winnow fingerprint present in more than this
    * many documents is boilerplate (license headers, navigation chrome)
    * and is excluded from pairing — the MOSS paper's "ignore matches in
    * too many documents" rule. Also the scale guarantee: per-fingerprint
    * join groups are bounded, so candidate pairs are ≤ cap · |fingerprints|
    * regardless of corpus size. */
  private val WinnowDfCap = 50
  /** Minimum shared fingerprints for a pair to be reported. */
  private val WinnowMinShared = 10
  /** Minimum containment (shared / smaller doc's fingerprint count). */
  private val WinnowMinContainment = 0.8

  /**
   * MOSS-style pairwise overlap detection on winnowing fingerprints
   * (Schleimer, Wilkerson, Aiken 2003 §5): two documents are near-dups
   * when they SHARE many selected fingerprints — unlike
   * [[textWinnowFp]]'s per-doc digest, this reports the matching PAIRS
   * with their containment score (shared / min fingerprint count), the
   * local-similarity complement to the global-set measures in
   * [[graft.queries.Dedup]] (MinHash/SimHash see bags of shingles; winnow
   * overlap sees contiguous shared REGIONS, so it catches a short doc
   * embedded verbatim in a long one that Jaccard dilutes away).
   *
   * Scale: the exploded (fp, doc) stream shuffles once on `fp` (the
   * window reuses that partitioning for the self-join — no second
   * exchange); the doc-frequency cap bounds every join group; pair
   * aggregation shuffles only the surviving candidate stream. The
   * fingerprint scan (the CPU-heavy kernel) is persisted and feeds the
   * join branches + the per-doc counts, released by the QueryCaches
   * owner. Containment is one int/int division rounded to 6 dp before
   * thresholding, so cross-engine float ties can't flip membership.
   */
  def dedupWinnowOverlap(s: SparkSession, dir: String): DataFrame = {
    val parts = parallelism(s)
    val wdf = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val xf = docs(s, dir)
      .repartition(parts, col("doc_id")) // spread the kernel (see dedupBowFp)
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.winnow_fp(col("text"), WinnowK, WinnowW)).as("fp"))
      .withColumn("dfreq", count(lit(1)).over(wdf))
      .filter(col("dfreq") <= WinnowDfCap)
      .select(col("doc_id"), col("fp"))
      .transform(cached)
    val nf = xf.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val pairs = xf.select(col("fp"), col("doc_id").as("da"))
      .join(xf.select(col("fp").as("fp_b"), col("doc_id").as("db")),
        col("fp") === col("fp_b") && col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
    pairs
      .join(nf.select(col("doc_id").as("da"), col("n_fp").as("n_fp_a")), "da")
      .join(nf.select(col("doc_id").as("db"), col("n_fp").as("n_fp_b")), "db")
      .withColumn("containment",
        round(col("n_shared").cast("double") / least(col("n_fp_a"), col("n_fp_b")), 6))
      .filter(col("containment") >= WinnowMinContainment)
      .select(col("da"), col("db"), col("n_shared"), col("n_fp_a"), col("n_fp_b"),
        col("containment"))
      .orderBy(col("da"), col("db"))
  }

  /** Result size for the BPE pair ranking. */
  private val TopBpePairs = 40

  /**
   * BPE merge-pair statistics (Sennrich et al. 2016 §3.2 — the counting
   * step of byte-pair-encoding tokenizer training): collapse the corpus
   * to its word vocabulary with frequencies, then count every adjacent
   * character pair weighted by word frequency. The top pair is the first
   * merge a BPE trainer would perform; a trainer loops this scan, feeding
   * merges back in. No intra-word position marker is applied (pairs are
   * within-word only — word boundaries never merge by construction).
   *
   * Scale: the explode runs over the DISTINCT VOCABULARY, not the corpus
   * — the first groupBy collapses 100 TB of text to |vocab| rows
   * (map-side combined), and everything after is arithmetic on that
   * collapsed relation. The pair rollup has ≤ |alphabet|² groups; top-K
   * plans as TakeOrderedAndProject (per-partition K-heaps, no global
   * sort). Ties at the K boundary break on the pair text.
   */
  def bpePairCounts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 2)
      .select(col("freq"), explode(
        expr("transform(sequence(1, char_length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(TopBpePairs)

  /** Merge rounds for the iterative BPE trainer. */
  private val BpeRounds = 8

  /** Symbol delimiter for the trainer's string representation — U+001F
    * (unit separator), assumed absent from corpus tokens (a control char
    * no text pipeline emits; a corpus that could contain it would swap in
    * any other absent code point). */
  private val BpeSep = "\u001f"

  /** A BPE trainer's word-frequency dictionary, one row per distinct word:
    * its frequency and its delimiter-wrapped symbol string (`⟨US⟩sym⟨US⟩`
    * per symbol). [[bpeRounds]] runs the merges on the driver
    * ([[DriverBpeDict]]) or in Spark ([[SparkBpeDict]]). */
  private sealed trait BpeDict {
    /** The argmax merge (pa, pb, n) and the dictionary after applying it;
      * None when no word has two symbols left. */
    def merge(): Option[(String, String, Long, BpeDict)]
    /** Σ freq·|symbols| over the dictionary. */
    def totalSymbols: Long
    def release(): Unit
  }

  /** The merge's literal find/replace pair: non-overlapping left-to-right
    * `replace` on the wrapped string is exactly BPE's greedy order. */
  private def bpeReplace(pa: String, pb: String): (String, String) =
    (BpeSep + pa + BpeSep + BpeSep + pb + BpeSep, BpeSep + pa + pb + BpeSep)

  /** `trim(repr, BpeSep)` then `split(BpeSep+BpeSep, -1)` exactly as the
    * distributed spelling (same Java regex engine, limit −1). */
  private def bpeSyms(repr: String): Array[String] = {
    var from = 0
    var to = repr.length
    while (from < to && repr.charAt(from) == BpeSep.charAt(0)) from += 1
    while (to > from && repr.charAt(to - 1) == BpeSep.charAt(0)) to -= 1
    repr.substring(from, to).split(BpeSep + BpeSep, -1)
  }

  /** The collected dictionary: a round is adjacent-pair frequency sums,
    * argmax by (n desc, pa, pb) with the tie-break compared in UTF8
    * BINARY order (Spark's string ordering — java String compareTo would
    * diverge on supplementary code points), and the same literal replace
    * — no Spark job at all. */
  private final class DriverBpeDict(dict: Array[(Long, String)]) extends BpeDict {
    def merge(): Option[(String, String, Long, BpeDict)] = {
      import org.apache.spark.unsafe.types.UTF8String
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (freq, repr) =>
        val sy = bpeSyms(repr)
        var i = 0
        while (i < sy.length - 1) {
          val k = (sy(i), sy(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + freq)
          i += 1
        }
      }
      if (counts.isEmpty) None
      else {
        var best: ((String, String), Long) = null
        counts.foreach { case (k, n) =>
          val better = best == null || n > best._2 || (n == best._2 && {
            val ca = UTF8String.fromString(k._1)
              .compareTo(UTF8String.fromString(best._1._1))
            ca < 0 || (ca == 0 && UTF8String.fromString(k._2)
              .compareTo(UTF8String.fromString(best._1._2)) < 0)
          })
          if (better) best = (k, n)
        }
        val ((pa, pb), n) = best
        val (find, repl) = bpeReplace(pa, pb)
        Some((pa, pb, n,
          new DriverBpeDict(dict.map { case (f, r) => (f, r.replace(find, repl)) })))
      }
    }
    def totalSymbols: Long = dict.foldLeft(0L) { case (acc, (f, r)) => acc + f * bpeSyms(r).length }
    def release(): Unit = ()
  }

  /** The persisted dictionary relation: a round is the pair rollup's
    * one-row argmax collect (the model parameter being learned) and the
    * merged dictionary, re-persisted and materialized; the caller
    * releases the previous round's, so the lineage stays one round deep. */
  private final class SparkBpeDict(dict: DataFrame) extends BpeDict {
    def merge(): Option[(String, String, Long, BpeDict)] = {
      val top = dict
        .select(col("freq"), split(trim(col("repr"), BpeSep), BpeSep + BpeSep).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(sy) - 2), i -> struct(sy[i] AS pa, sy[i+1] AS pb))"))
          .as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pa"), col("pb"))
        .limit(1)
        .collect()
      top.headOption.map { t =>
        val (pa, pb) = (t.getString(0), t.getString(1))
        val (find, repl) = bpeReplace(pa, pb)
        val next = dict.withColumn("repr",
            org.apache.spark.sql.functions.replace(col("repr"), lit(find), lit(repl)))
          .transform(cached)
        next.count() // materialize before the caller drops this round's cache
        (pa, pb, t.getLong(2), new SparkBpeDict(next))
      }
    }
    def totalSymbols: Long = dict
      .select(coalesce(sum(col("freq") *
        size(split(trim(col("repr"), BpeSep), BpeSep + BpeSep))), lit(0L)))
      .first().getLong(0)
    def release(): Unit = dict.unpersist(false)
  }

  /** The BPE trainer both BPE queries run. The corpus collapses ONCE to
    * its word-frequency dictionary (persisted across the size probe, so
    * an overflowing probe does not re-tokenize the corpus); a dictionary
    * that fits [[graft.operators.DriverCollect]]'s cap merges on the
    * driver, a larger one in Spark. `start` sees the round-0 dictionary,
    * `visit(round, pa, pb, n, dict)` each applied merge and the
    * dictionary after it; the loop stops after [[BpeRounds]] merges or
    * once no word has two symbols left. */
  private def bpeRounds(s: SparkSession, dir: String)(start: BpeDict => Unit)(
      visit: (Long, String, String, Long, BpeDict) => Unit): Unit = {
    val wc = docs(s, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        regexp_replace(col("word"), "(.)", BpeSep + "$1" + BpeSep).as("repr"))
      .transform(cached)
    var dict: BpeDict = graft.operators.DriverCollect.collectSmall(wc) match {
      case Some(rows) =>
        wc.unpersist(false)
        new DriverBpeDict(rows.map(r => (r.getLong(0), r.getString(1))))
      case None => new SparkBpeDict(wc)
    }
    start(dict)
    var round = 1
    var exhausted = false
    while (round <= BpeRounds && !exhausted) dict.merge() match {
      case None => exhausted = true
      case Some((pa, pb, n, next)) =>
        dict.release()
        dict = next
        visit(round.toLong, pa, pb, n, dict)
        round += 1
    }
    dict.release()
  }

  /**
   * Iterative BPE training (Sennrich et al. 2016 §3.2, the full loop) —
   * [[bpePairCounts]] is one generation of the statistic; this runs the
   * actual trainer for [[BpeRounds]] merges, each round counting adjacent
   * SYMBOL pairs (symbols grow as merges apply — "es"+"t"→"est" emerges
   * here, which no single-generation count can see), picking the argmax
   * (count desc, then pair text — deterministic), and applying it
   * corpus-wide before the next count. Output is the learned merge
   * table: (round, left_sym, right_sym, merged, n).
   *
   * Scale shape — the reason BPE training is feasible at 100 TB: the
   * corpus collapses ONCE to its word-frequency dictionary (map-side
   * combined, vocab-bounded); every round then runs on the DICTIONARY,
   * never the corpus. Each word is held as a delimiter-wrapped symbol
   * string (`⟨US⟩sym⟨US⟩` per symbol), so applying a merge is a plain
   * non-overlapping left-to-right `replace` — exactly BPE's greedy
   * order, with the wrap guaranteeing matches never share characters
   * (`[a,a,a,a]` + merge(a,a) → `[aa,aa]`, not `[aa,a,a]`). The argmax
   * collect per round is ONE row — the model parameter being learned —
   * and each round's dictionary is re-persisted and the previous
   * released, so the lineage stays one round deep. A dictionary within
   * the driver-collect cap runs every round on the driver instead, with
   * no per-round job at all ([[bpeRounds]]).
   */
  def bpeTrainMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    bpeRounds(s, dir)(_ => ()) { (round, pa, pb, n, _) =>
      merges += ((round, pa, pb, pa + pb, n))
    }
    merges.toSeq.toDF("round", "left_sym", "right_sym", "merged", "n")
      .orderBy(col("round"))
  }

  /** The [[bpeTrainMerges]] oracle — [[BpeRounds]] chained CTE stages,
    * builder-generated: stage r counts symbol pairs of the round-(r−1)
    * dictionary, picks the same (n desc, pair asc) argmax, and applies
    * the identical delimiter-wrapped `replace`. The LEFT JOIN ON TRUE
    * keeps the dictionary flowing when a round finds no pairs (the
    * stage's merge row simply doesn't exist — matching the Spark loop's
    * early stop). */
  private def bpeTrainSql: String = {
    val S = BpeSep
    val stages = (1 to BpeRounds).map { r =>
      s"""sy$r AS (
         |  SELECT freq, string_split(trim(repr, '$S'), '$S$S') AS sy FROM w${r - 1}),
         |c$r AS (
         |  SELECT pa, pb, CAST(SUM(freq) AS BIGINT) AS n FROM (
         |    SELECT freq,
         |      unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i])) AS pa,
         |      unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i+1])) AS pb
         |    FROM sy$r WHERE len(sy) >= 2)
         |  GROUP BY pa, pb),
         |m$r AS (SELECT pa, pb, n FROM c$r ORDER BY n DESC, pa, pb LIMIT 1),
         |w$r AS (
         |  SELECT freq, CASE WHEN m.pa IS NULL THEN repr
         |    ELSE replace(repr, '$S' || m.pa || '$S$S' || m.pb || '$S',
         |                 '$S' || m.pa || m.pb || '$S') END AS repr
         |  FROM w${r - 1} LEFT JOIN m$r m ON TRUE)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeRounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, pa AS left_sym, pb AS right_sym, pa || pb AS merged, n FROM m$r"
    }.mkString("\nUNION ALL ")
    s"""WITH wc AS (
       |  SELECT word, COUNT(1) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |    FROM documents) GROUP BY word),
       |w0 AS (
       |  SELECT freq, regexp_replace(word, '(.)', '$S\\1$S', 'g') AS repr FROM wc),
       |$stages
       |$union
       |ORDER BY round""".stripMargin
  }

  /**
   * Held-out bigram-LM evaluation — the proper train/test split
   * [[textLmNll]] deliberately skips (it scores the corpus under its own
   * model; this trains on the deterministic md5-bucket < 80 slice and
   * scores ONLY the ≥ 80 slice): per source the test-doc count, mean
   * held-out NLL, and the unseen-bigram rate — the generalization /
   * memorization read a reference-LM quality gate needs before its
   * thresholds can be trusted on NEW crawls (same-corpus NLL
   * systematically flatters duplicated content).
   *
   * Scale shape: the [[graft.operators.BigramLm]] model fitted on the
   * TRAIN slice (vocabulary-bounded, map-side combined); the TEST pairs
   * join it back on the bigram equi-key (unseen bigrams left-join to pure
   * smoothing mass — the coalesce path the same-corpus scorer never
   * takes). The vocab guard empties the output when the train slice is
   * empty (a 0-vocab smoothing denominator is -ln(inf)).
   */
  def textLmHeldoutPpl(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = heldoutSplit(s, dir)
    val (_, lm) = BigramLm.fit(train)
    val perDoc = lm.score(BigramLm.pairs(test))
      .filter(lit(lm.vocab > 0L))
      .withColumn("unseen", when(col("cb").isNull, col("m")).otherwise(0L))
      .groupBy(col("doc_id"), col("source"))
      .agg(BigramLm.nBigrams, BigramLm.nll, sum(col("unseen")).as("n_unseen"))
    perDoc
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_test_docs"),
        BigramLm.meanNll(col("nll")).as("mean_nll"),
        round(sum(col("n_unseen")).cast("double") /
          sum(col("n_bigrams")).cast("double"), 6).as("unseen_rate"))
      .orderBy(col("source"))
  }

  /** The held-out LMs' shared split: the train documents (md5 bucket
    * < 80) and the test token arrays (bucket ≥ 80) keyed by doc and
    * source. */
  private def heldoutSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val bkt = Curation.md5Mod100(col("doc_id"))
    (docs(s, dir).filter(bkt < 80),
      docs(s, dir).filter(bkt >= 80)
        .select(col("doc_id"), col("source"), words(col("text")).as("ws")))
  }

  private def textLmHeldoutSql: String = {
    val split = Curation.duckMd5Mod100("doc_id")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS ws,
       |    $split AS bkt
       |  FROM documents),
       |tr AS (SELECT * FROM t WHERE bkt < 80),
       |te AS (SELECT * FROM t WHERE bkt >= 80),
       |v AS (
       |  SELECT COUNT(DISTINCT tok) AS vocab
       |  FROM (SELECT unnest(ws) AS tok FROM tr)),
       |btr AS (
       |  SELECT p.w1 AS w1, p.w2 AS w2 FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
       |      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
       |    FROM tr WHERE len(ws) >= 2)),
       |cb AS (SELECT w1, w2, COUNT(1) AS cb FROM btr GROUP BY w1, w2),
       |cu AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM cb GROUP BY w1),
       |bte AS (
       |  SELECT doc_id, source, p.w1 AS w1, p.w2 AS w2,
       |    CAST(COUNT(1) AS BIGINT) AS m FROM (
       |    SELECT doc_id, source,
       |      unnest(list_transform(generate_series(1, len(ws) - 1),
       |        i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
       |    FROM te WHERE len(ws) >= 2)
       |  GROUP BY doc_id, source, p.w1, p.w2),
       |sc AS (
       |  SELECT bte.doc_id, bte.source, bte.m,
       |    round(-ln((COALESCE(cb.cb, 0) + 1.0)
       |      / (COALESCE(cu.cu, 0) + 1.0 * vocab)), 6) AS term,
       |    CASE WHEN cb.cb IS NULL THEN bte.m ELSE 0 END AS unseen
       |  FROM bte
       |  LEFT JOIN cb ON bte.w1 = cb.w1 AND bte.w2 = cb.w2
       |  LEFT JOIN cu ON bte.w1 = cu.w1
       |  CROSS JOIN v WHERE v.vocab > 0),
       |pd AS (
       |  SELECT doc_id, source, CAST(SUM(m) AS BIGINT) AS n_bigrams,
       |    round(CAST(SUM(m * CAST(term AS DECIMAL(20,6))) AS DOUBLE)
       |      / CAST(SUM(m) AS DOUBLE), 6) AS nll,
       |    CAST(SUM(unseen) AS BIGINT) AS n_unseen
       |  FROM sc GROUP BY doc_id, source)
       |SELECT source, CAST(COUNT(1) AS BIGINT) AS n_test_docs,
       |  round(CAST(SUM(CAST(nll AS DECIMAL(20,6))) AS DOUBLE) / COUNT(1), 6)
       |    AS mean_nll,
       |  round(CAST(SUM(n_unseen) AS DOUBLE) / CAST(SUM(n_bigrams) AS DOUBLE), 6)
       |    AS unseen_rate
       |FROM pd GROUP BY source ORDER BY source""".stripMargin
  }

  /** Kneser–Ney absolute discount (the standard 0.75, exactly binary-
    * representable so both engines subtract the identical constant). */
  private val KnDiscount = 0.75

  /**
   * Interpolated Kneser–Ney bigram LM on the held-out split — the
   * smoothing-quality twin of [[textLmHeldoutPpl]]: same md5-bucket <80
   * train / ≥80 test protocol, but the model is the absolute-discount
   * interpolated KN estimator instead of add-one —
   * p(w₂|w₁) = max(c(w₁,w₂)−D,0)/c(w₁) + (D·N₁₊(w₁·)/c(w₁))·p_cont(w₂),
   * with the continuation distribution p_cont(w₂) =
   * (N₁₊(·w₂)+1)/(B+V+1) add-one-smoothed over bigram TYPES so unseen
   * test words keep positive mass, and a full back-off to p_cont for
   * unseen histories. Reading this row against the add-one twin's is the
   * smoothing A/B a perplexity quality gate runs before trusting either
   * model's thresholds: KN's continuation counts famously dominate
   * add-one on type-rich natural text.
   *
   * Scale shape: all three KN model relations derive from the ONE bigram
   * count table (history totals AND distinct-continuation counts in the
   * same re-aggregation; the continuation-type table is a second
   * vocab-bounded re-aggregation) — no extra corpus scan vs the add-one
   * twin; B and V are metadata-sized driver scalars (the AQE-statistics
   * round-trip). Scoring is the identical test-side distinct-pair join
   * shape. Determinism: the LM recipe — exact integer counts into one
   * IEEE expression per distinct bigram, −ln rounded to 6-dp DECIMAL,
   * then [[graft.operators.BigramLm]]'s m-weighted folds.
   */
  def textLmKneserNey(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = heldoutSplit(s, dir)
    val (_, lm) = BigramLm.fit(train)
    val bTypes = lm.cb.count()
    // history totals AND distinct-continuation counts in ONE re-agg
    val cu = lm.cb.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cu"), count(lit(1)).as("n1p"))
    val nr = lm.cb.groupBy(col("w2")).agg(count(lit(1)).as("n1pr"))
    val pcDen = (bTypes + lm.vocab + 1).toDouble
    val pCont = (coalesce(col("n1pr"), lit(0L)).cast("double") + lit(1.0d)) /
      lit(pcDen)
    val cuD = col("cu").cast("double")
    val p = when(col("cu").isNotNull,
      greatest(coalesce(col("cb"), lit(0L)).cast("double") - lit(KnDiscount),
        lit(0.0d)) / cuD +
        (lit(KnDiscount) * col("n1p").cast("double") / cuD) * pCont)
      .otherwise(pCont)
    val perDoc = BigramLm.pairs(test)
      .join(lm.cb, Seq("w1", "w2"), "left")
      .join(cu, Seq("w1"), "left")
      .join(nr, Seq("w2"), "left")
      .filter(lit(lm.vocab > 0L))
      .select(col("doc_id"), col("source"), col("m"),
        BigramLm.term(-log(p)).as("term"),
        when(col("cb").isNull, col("m")).otherwise(0L).as("backoff"))
      .groupBy(col("doc_id"), col("source"))
      .agg(BigramLm.nBigrams, BigramLm.nll, sum(col("backoff")).as("n_backoff"))
    perDoc
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_test_docs"),
        BigramLm.meanNll(col("nll")).as("mean_nll"),
        round(sum(col("n_backoff")).cast("double") /
          sum(col("n_bigrams")).cast("double"), 6).as("backoff_rate"))
      .orderBy(col("source"))
  }

  private def textLmKneserNeySql: String = {
    val split = Curation.duckMd5Mod100("doc_id")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS ws,
       |    $split AS bkt
       |  FROM documents),
       |tr AS (SELECT * FROM t WHERE bkt < 80),
       |te AS (SELECT * FROM t WHERE bkt >= 80),
       |v AS (
       |  SELECT COUNT(DISTINCT tok) AS vocab
       |  FROM (SELECT unnest(ws) AS tok FROM tr)),
       |btr AS (
       |  SELECT p.w1 AS w1, p.w2 AS w2 FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
       |      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
       |    FROM tr WHERE len(ws) >= 2)),
       |cb AS (SELECT w1, w2, CAST(COUNT(1) AS BIGINT) AS cb FROM btr GROUP BY w1, w2),
       |bb AS (SELECT CAST(COUNT(1) AS BIGINT) AS b FROM cb),
       |cu AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu,
       |         CAST(COUNT(1) AS BIGINT) AS n1p FROM cb GROUP BY w1),
       |nr AS (SELECT w2, CAST(COUNT(1) AS BIGINT) AS n1pr FROM cb GROUP BY w2),
       |bte AS (
       |  SELECT doc_id, source, p.w1 AS w1, p.w2 AS w2,
       |    CAST(COUNT(1) AS BIGINT) AS m FROM (
       |    SELECT doc_id, source,
       |      unnest(list_transform(generate_series(1, len(ws) - 1),
       |        i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
       |    FROM te WHERE len(ws) >= 2)
       |  GROUP BY doc_id, source, p.w1, p.w2),
       |sc AS (
       |  SELECT bte.doc_id, bte.source, bte.m,
       |    round(-ln(CASE WHEN cu.cu IS NOT NULL
       |      THEN greatest(CAST(COALESCE(cb.cb, 0) AS DOUBLE) - 0.75, 0.0)
       |          / CAST(cu.cu AS DOUBLE)
       |        + (0.75 * CAST(cu.n1p AS DOUBLE) / CAST(cu.cu AS DOUBLE))
       |          * ((CAST(COALESCE(nr.n1pr, 0) AS DOUBLE) + 1.0)
       |             / (CAST(bb.b AS DOUBLE) + CAST(v.vocab AS DOUBLE) + 1.0))
       |      ELSE (CAST(COALESCE(nr.n1pr, 0) AS DOUBLE) + 1.0)
       |        / (CAST(bb.b AS DOUBLE) + CAST(v.vocab AS DOUBLE) + 1.0) END), 6)
       |      AS term,
       |    CASE WHEN cb.cb IS NULL THEN bte.m ELSE 0 END AS backoff
       |  FROM bte
       |  LEFT JOIN cb ON bte.w1 = cb.w1 AND bte.w2 = cb.w2
       |  LEFT JOIN cu ON bte.w1 = cu.w1
       |  LEFT JOIN nr ON bte.w2 = nr.w2
       |  CROSS JOIN v CROSS JOIN bb WHERE v.vocab > 0),
       |pd AS (
       |  SELECT doc_id, source, CAST(SUM(m) AS BIGINT) AS n_bigrams,
       |    round(CAST(SUM(m * CAST(term AS DECIMAL(20,6))) AS DOUBLE)
       |      / CAST(SUM(m) AS DOUBLE), 6) AS nll,
       |    CAST(SUM(backoff) AS BIGINT) AS n_backoff
       |  FROM sc GROUP BY doc_id, source)
       |SELECT source, CAST(COUNT(1) AS BIGINT) AS n_test_docs,
       |  round(CAST(SUM(CAST(nll AS DECIMAL(20,6))) AS DOUBLE) / COUNT(1), 6)
       |    AS mean_nll,
       |  round(CAST(SUM(n_backoff) AS DOUBLE) / CAST(SUM(n_bigrams) AS DOUBLE), 6)
       |    AS backoff_rate
       |FROM pd GROUP BY source ORDER BY source""".stripMargin
  }

  /** MATTR sliding-window width (Covington & McFall's standard 25–100
    * band, small end — the corpus's docs are short). */
  private val MattrWindow = 25

  /**
   * Lexical diversity per document — plain type-token ratio and MATTR
   * (moving-average TTR, window [[MattrWindow]]): the length-robust
   * diversity score a quality battery wants where raw TTR is useless
   * (TTR falls with length for ANY text, so a threshold on it is really
   * a length filter; MATTR compares docs of different lengths on equal
   * footing). Low MATTR flags template/keyword-stuffed text that passes
   * the length and stopword gates.
   *
   * Scale shape: one scan, zero shuffles before the ordered output —
   * the window sum is a per-row expression over the token array
   * (O(n·W) per doc, bounded work per row). Docs shorter than the
   * window report NULL mattr (the statistic is undefined there; ttr
   * still covers them). Exactness: integer distinct counts; one rounded
   * division each for ttr and mattr; NULL text propagates NULL.
   */
  def textMattr(s: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    val n = size(ws)
    val nwin = n - lit(MattrWindow) + lit(1)
    val winSum = aggregate(
      transform(sequence(lit(1), nwin),
        i => size(array_distinct(slice(ws, i, lit(MattrWindow)))).cast("long")),
      lit(0L), (acc, x) => acc + x)
    docs(s, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        size(array_distinct(ws)).cast("long").as("n_types"),
        when(n >= MattrWindow, winSum).as("wsum"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0,
          round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6))
          .as("ttr"),
        when(col("n_tokens") >= MattrWindow,
          round(col("wsum").cast("double") /
            (lit(25.0d) * (col("n_tokens") - lit(24L)).cast("double")), 6))
          .as("mattr"))
      .orderBy(col("doc_id"))
  }

  /**
   * BPE compression curve — the diminishing-returns audit next to
   * [[bpeTrainMerges]]: after each of the [[BpeRounds]] merges, the
   * corpus's total symbol count (Σ word_freq·|symbols|) and its ratio to
   * the round-0 character baseline. The curve is what a tokenizer-budget
   * planner actually reads — it shows where additional merges stop
   * paying for their vocabulary slots.
   *
   * Scale shape: identical to the trainer — every round runs on the
   * word-frequency DICTIONARY (vocab-bounded), never the corpus; each
   * per-round total is a one-row aggregate collect (the model parameter
   * being measured). Determinism: totals are exact integers; the ratio
   * is one final double division rounded at 6 dp (NULL on an empty
   * corpus).
   */
  def bpeCompressionCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    bpeRounds(s, dir)(d0 => curve += ((0L, d0.totalSymbols))) { (round, _, _, _, dict) =>
      curve += ((round, dict.totalSymbols))
    }
    val t0 = curve.head._2
    curve.toSeq.toDF("round", "total_symbols")
      .select(col("round"), col("total_symbols"),
        round(when(lit(t0) > 0L,
          col("total_symbols").cast("double") / lit(t0).cast("double")), 6)
          .as("compression"))
      .orderBy(col("round"))
  }

  /** The [[bpeCompressionCurve]] oracle — the [[bpeTrainSql]] stage chain
    * with per-round symbol totals instead of the merge rows; a round
    * whose pair count is empty emits NO row (the Spark loop's early
    * stop). */
  private def bpeCurveSql: String = {
    val S = BpeSep
    val stages = (1 to BpeRounds).map { r =>
      s"""sy$r AS (
         |  SELECT freq, string_split(trim(repr, '$S'), '$S$S') AS sy FROM w${r - 1}),
         |c$r AS (
         |  SELECT pa, pb, CAST(SUM(freq) AS BIGINT) AS n FROM (
         |    SELECT freq,
         |      unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i])) AS pa,
         |      unnest(list_transform(generate_series(1, len(sy) - 1), i -> sy[i+1])) AS pb
         |    FROM sy$r WHERE len(sy) >= 2)
         |  GROUP BY pa, pb),
         |m$r AS (SELECT pa, pb, n FROM c$r ORDER BY n DESC, pa, pb LIMIT 1),
         |w$r AS (
         |  SELECT freq, CASE WHEN m.pa IS NULL THEN repr
         |    ELSE replace(repr, '$S' || m.pa || '$S$S' || m.pb || '$S',
         |                 '$S' || m.pa || m.pb || '$S') END AS repr
         |  FROM w${r - 1} LEFT JOIN m$r m ON TRUE),
         |t$r AS (
         |  SELECT CAST($r AS BIGINT) AS round,
         |    CAST(COALESCE(SUM(freq * len(string_split(trim(repr, '$S'), '$S$S'))), 0)
         |      AS BIGINT) AS total_symbols
         |  FROM w$r WHERE EXISTS (SELECT 1 FROM m$r))""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeRounds).map(r => s"SELECT * FROM t$r")
      .mkString("\nUNION ALL ")
    s"""WITH wc AS (
       |  SELECT word, COUNT(1) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |    FROM documents) GROUP BY word),
       |w0 AS (
       |  SELECT freq, regexp_replace(word, '(.)', '$S\\1$S', 'g') AS repr FROM wc),
       |t0 AS (
       |  SELECT CAST(0 AS BIGINT) AS round,
       |    CAST(COALESCE(SUM(freq * len(string_split(trim(repr, '$S'), '$S$S'))), 0)
       |      AS BIGINT) AS total_symbols
       |  FROM w0),
       |$stages,
       |allr AS (SELECT * FROM t0
       |UNION ALL $union)
       |SELECT allr.round, allr.total_symbols,
       |  round(CASE WHEN b.total_symbols > 0 THEN
       |    CAST(allr.total_symbols AS DOUBLE) / CAST(b.total_symbols AS DOUBLE)
       |    END, 6) AS compression
       |FROM allr CROSS JOIN (SELECT total_symbols FROM t0) b
       |ORDER BY allr.round""".stripMargin
  }

  /** Sliding-window chunk size and stride (tokens). Overlap = size −
    * stride keeps boundary context shared between adjacent chunks. */
  private val ChunkWin = 32L
  private val ChunkStride = 24L

  /**
   * Overlapping sliding-window chunking — the long-document split a
   * training/RAG pipeline applies when documents exceed the context
   * window (the tokenizer "overflow with stride" shape): windows of
   * [[ChunkWin]] tokens start every [[ChunkStride]] tokens while the
   * start is inside the document; the tail window is shorter. Emits the
   * chunk table (doc, index, start offset, length) that downstream
   * encoding reads. Complements [[textPackChunks]] (concat-packing of
   * whole docs) and the segment dedup's fixed disjoint windows.
   *
   * Scale: one `sequence` explode over the scan — linear in emitted
   * chunks, no shuffle before the ordered output; all arithmetic is
   * integer, so both engines agree exactly.
   */
  def textChunkWindows(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(words(col("text"))).cast("long")
    docs(s, dir)
      .select(col("doc_id"), nTok.as("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_tok") - 1, lit(ChunkStride))).as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / ChunkStride).cast("long").as("chunk_idx"),
        col("start_tok"),
        least(lit(ChunkWin), col("n_tok") - col("start_tok")).as("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Fixed-length padding granularity (sequences pad up to the next
    * multiple — the bucketed-batching shape dynamic-padding trainers use). */
  private val PadBucket = 64L

  /**
   * Padding-waste audit for length-bucketed batching — the efficiency
   * scan a training pipeline runs before choosing bucket boundaries:
   * group documents by their padded length (next multiple of
   * [[PadBucket]] tokens) and report, per bucket, the document count,
   * real token count, padded token count, and the wasted fraction.
   * Complements [[textPackChunks]] (greedy concat-packing): this audits
   * the pad-to-bucket regime where documents are NOT concatenated.
   *
   * Scale: one per-row arithmetic projection over the scan into a
   * groupBy with ≤ max_len/bucket groups — map-side combine collapses
   * every task to a handful of rows; the shuffle is metadata-sized.
   * Waste is one integer subtraction and one division rounded to 6 dp.
   */
  def packPaddingWaste(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(size(words(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("bucket", expr(s"((n_tok + ${PadBucket - 1}) DIV $PadBucket) * $PadBucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("real_tokens"))
      .select(col("bucket"), col("n_docs"), col("real_tokens"),
        (col("bucket") * col("n_docs")).as("padded_tokens"),
        round((col("bucket") * col("n_docs") - col("real_tokens")).cast("double") /
          (col("bucket") * col("n_docs")), 6).as("waste_frac"))
      .orderBy(col("bucket"))

  /**
   * PII/URL scrubbing (curation safety filter): redact email addresses
   * and URLs, report per-doc hit counts plus the scrubbed length. Pure
   * regexp column expressions (patterns chosen to mean the same thing in
   * Java regex and RE2, so the oracle matches byte-for-byte).
   */
  def textScrub(s: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9._]+@[a-z0-9.]+"
    val url = "https?://[^ ]+"
    docs(s, dir)
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$email', 0)")).cast("long").as("n_emails"),
        size(expr(s"regexp_extract_all(text, '$url', 0)")).cast("long").as("n_urls"),
        length(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
          url, "<URL>")).cast("long").as("scrubbed_len"))
      .orderBy(col("doc_id"))
  }

  /**
   * Repetition detection (Gopher-style quality signal): the fraction of a
   * document's 3-word shingles that are duplicates — boilerplate and
   * looping generations score high. distinct count comes from the
   * [[graft.functions.ShingleSet]] kernel; total is arithmetic on the
   * word count.
   */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val nw = size(words(col("text"))).cast("long")
    val total = greatest(nw - 2, lit(1L)) // n-2 shingles; short docs → 1
    val distinctSh = size(graft.functions.GraftFunctions.shingle_set(col("text"), 3)).cast("long")
    docs(s, dir)
      .filter(nw >= 3)
      .select(col("doc_id"),
        total.as("n_shingles"),
        distinctSh.as("n_distinct"),
        ((total - distinctSh).cast("double") / total.cast("double")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  private val TopNgrams = 50

  /**
   * Corpus-wide top-K bigram counts — the vocabulary/tokenizer-training
   * prep scan (which word pairs dominate the corpus). ORDERED bigrams
   * from the token sequence (not the distinct shingle set: frequency is
   * the point). One explode → one map-side-combinable count → top-K via
   * orderBy+limit, which Spark plans as TakeOrderedAndProject — each
   * partition keeps only its local top K and the driver merges K-sized
   * heaps; no global sort ever materializes. Ties at the K boundary
   * break on the ngram text so the cut is deterministic cross-engine.
   */
  def textNgramCounts(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val bigrams = zip_with(
      slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (a, b) => concat(a, lit(" "), b))
    docs(s, dir)
      .filter(size(w) >= 2) // also keeps slice's length arg non-negative (ANSI)
      .select(explode(bigrams).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(TopNgrams)
  }

  private val ChunkTokens = 2048L

  /**
   * Sequence-packing accounting: concatenate the corpus in doc_id order
   * and split into [[ChunkTokens]]-token context windows (documents may
   * straddle a boundary — the standard LLM pretraining packing); report
   * per-chunk document counts, token totals, and doc-id ranges. The
   * global cumulative token count runs through
   * [[graft.operators.Quantiles.withRunningTotal]] — a distributed
   * two-pass prefix sum, never a single-partition window.
   */
  def textPackChunks(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tok"))
    graft.operators.Quantiles
      .withRunningTotal(toks, Seq(col("doc_id")), "n_tok", "cum_tok")
      .withColumn("chunk_id", expr(s"(cum_tok - n_tok) DIV $ChunkTokens"))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("chunk_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("chunk_id"))
  }

  /**
   * Corpus-frequency rarity scoring — the LM-quality proxy a curation
   * pipeline runs where a perplexity filter would need a trained model:
   * per document, the fraction of tokens that are corpus-rare (global
   * count ≤ 2 — hapax/dis legomena, the OOV-ish tail) and the mean inverse
   * corpus frequency of its tokens. High rare-fraction flags
   * gibberish/boilerplate-free-but-noisy docs; low flags templated text.
   * Deliberately log-free: `log()` is not correctly-rounded and differs
   * across libm implementations, so surprisal sums can't hash-match a
   * second engine — inverse frequency is an exact-arithmetic stand-in
   * (1/cnt is one IEEE division; per-token values rounded to 6 dp and
   * summed as exact DECIMAL).
   *
   * Scale: per-doc term frequencies first (one explode + groupBy — the
   * map-side combine collapses repeated tokens per doc), then the corpus
   * count table by a second groupBy on token, joined back on token (AQE
   * skew-join splits the stopword keys; a window over token partitions
   * would put every "the" row in one task, so the join shape is the one
   * that scales), then one groupBy(doc). Empty docs re-enter via a
   * left join from the (pruned) documents scan.
   */
  def textRarityScore(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    // tf feeds BOTH the corpus-count branch and the join probe; without a
    // persist Spark re-executes the explode+groupBy subtree once per
    // consumer — the query's heaviest stage, twice. Released by the
    // QueryCaches.owned wrapper after the caller's action.
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .transform(cached)
    val corpus = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val perDoc = tf.join(corpus, "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("cnt") <= 2, col("tf")).otherwise(lit(0L))).as("n_rare"),
        sum((col("tf") * round(lit(1.0) / col("cnt"), 6)).cast(dec)).as("sinv"))
    docs(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        round(col("n_rare") / col("n_tokens"), 6).as("rare_frac"),
        round(col("sinv").cast("double") / col("n_tokens"), 6).as("mean_inv_freq"))
      .orderBy(col("doc_id"))
  }

  /** Stop list for the quality-rule battery (a fixed, tiny vocabulary the
    * way published heuristic filters pin theirs). */
  private val RuleStopwords = Seq("the", "of", "and", "to", "in")

  /**
   * Heuristic quality-rule battery (the Rae et al. 2021 "Gopher rules" /
   * C4 filter shape): five per-document predicates — word count ≥ 50,
   * mean word length in [3, 10], symbol-character ratio ≤ 10%, ≥ 2
   * stopword occurrences, digit-character ratio ≤ 20% — rolled up into a
   * per-source audit of how many documents each rule (and their
   * conjunction) keeps. Every ratio test is spelled as an integer
   * cross-multiplication (`10·sym ≤ chars`, not `sym/chars ≤ 0.1`), so
   * the battery is exact integer arithmetic end-to-end — no float
   * boundary can flip a verdict between engines.
   *
   * Scale: all predicates are pure codegen expressions over the scan; the
   * only shuffle is the per-source count rollup (map-side combined).
   */
  /** The five rule predicates over a raw documents scan, in battery
    * order — shared by the per-source audit, the quality-weighted
    * sampler, and the weak-supervision labeler in
    * [[graft.workers.CorpusMl]], so none can disagree on a verdict. */
  private[graft] def gopherPredicates: Seq[Column] = {
    val w = words(col("text"))
    val nWords = size(w).cast("long")
    val nChars = length(col("text")).cast("long")
    // token characters (text minus separators) — the mean-word-length numerator
    val wordChars = length(regexp_replace(col("text"), " ", "")).cast("long")
    val symChars = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("long")
    val digitChars = (length(col("text")) -
      length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
    val nStop = size(filter(w, x => x.isin(RuleStopwords: _*))).cast("long")
    Seq(
      nWords >= 50L,
      (lit(3L) * nWords <= wordChars) && (wordChars <= lit(10L) * nWords),
      lit(10L) * symChars <= nChars,
      nStop >= 2L,
      lit(5L) * digitChars <= nChars)
  }

  def filterGopherRules(s: SparkSession, dir: String): DataFrame = {
    val Seq(pWc, pWlen, pSym, pStop, pDigit) = gopherPredicates
    def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    docs(s, dir)
      .select(col("source"), pWc.as("p_wc"), pWlen.as("p_wlen"), pSym.as("p_sym"),
        pStop.as("p_stop"), pDigit.as("p_digit"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        cnt(col("p_wc")).as("n_pass_wordcount"),
        cnt(col("p_wlen")).as("n_pass_wordlen"),
        cnt(col("p_sym")).as("n_pass_symbol"),
        cnt(col("p_stop")).as("n_pass_stopword"),
        cnt(col("p_digit")).as("n_pass_digit"),
        cnt(col("p_wc") && col("p_wlen") && col("p_sym") && col("p_stop") &&
          col("p_digit")).as("n_keep"))
      .orderBy(col("source"))
  }

  /**
   * Unicode script composition — the pass a multilingual corpus runs
   * before routing docs to script-specific tokenizers/filters (and the
   * cross-check for [[textLangId]]'s n-gram heuristic): per document, the
   * character counts of the Latin / Cyrillic / CJK-unified blocks plus
   * digits, each block's ratio of total characters, and the dominant
   * script. Counts are `length(text) − length(regexp_replace(text,
   * block, ''))` — exact integers; the dominant-script CASE compares
   * counts in a fixed order, so verdicts can't flip between engines.
   * All ranges are BMP, where Spark's and DuckDB's `length` agree on
   * codepoints.
   *
   * Scale: pure per-row codegen expressions over the scan; no shuffle at
   * all before the ordered output.
   */
  def textScriptRatio(s: SparkSession, dir: String): DataFrame = {
    val n = length(col("text")).cast("long")
    def blockCount(pattern: String): Column =
      (length(col("text")) - length(regexp_replace(col("text"), pattern, ""))).cast("long")
    val latin = blockCount("[A-Za-z]")
    val cyr = blockCount("[Ѐ-ӿ]")
    val cjk = blockCount("[一-鿿]")
    val digit = blockCount("[0-9]")
    def ratio(c: Column): Column = when(n > 0, round(c / n, 6))
    docs(s, dir)
      .select(col("doc_id"), n.as("n_chars"),
        latin.as("n_latin"), cyr.as("n_cyrillic"), cjk.as("n_cjk"), digit.as("n_digit"),
        ratio(latin).as("latin_ratio"), ratio(cyr).as("cyrillic_ratio"),
        ratio(cjk).as("cjk_ratio"),
        when(latin === 0L && cyr === 0L && cjk === 0L, "none")
          .when(latin >= cyr && latin >= cjk, "latin")
          .when(cyr >= cjk, "cyrillic")
          .otherwise("cjk").as("dominant_script"))
      .orderBy(col("doc_id"))
  }

  /**
   * Quality-weighted (importance) sampling — the downsampling pass that
   * keeps documents with probability proportional to quality instead of a
   * flat stratum rate: the keep weight is the number of battery rules a
   * document passes (0..5 → keep probability w/5), and acceptance is the
   * deterministic md5-mod bucket test spelled as an integer
   * cross-multiplication (`bucket < 20·w`), so the decision is
   * reproducible and engine-exact — the same rows survive on every run,
   * every engine, every partitioning.
   *
   * Scale: a pure scan-local predicate like [[Curation.sampleStratified]]
   * — no shuffle, no state; zero-weight (all-rules-failed) docs can never
   * be kept.
   */
  def sampleQualityWeighted(s: SparkSession, dir: String): DataFrame = {
    val qw = gopherPredicates.map(p => when(p, 1L).otherwise(0L)).reduce(_ + _)
    // explode(array(...)) materialization barrier: without it the
    // optimizer inlines the full rule battery (tokenize + three regex
    // passes) into BOTH the keep-filter and the output projection —
    // measured 2× the scan cost of filter_gopher_rules on the same rules
    docs(s, dir)
      .select(col("doc_id"), col("source"), explode(array(qw)).as("quality_w"))
      .filter(Curation.md5Mod100(col("doc_id")) < col("quality_w") * lit(20L))
      .select(col("doc_id"), col("source"), col("quality_w"))
      .orderBy(col("doc_id"))
  }

  /**
   * Corpus-trained bigram language-model scoring — the CCNet/Gopher-style
   * perplexity quality filter: train an add-one-smoothed bigram LM on the
   * corpus itself, then score every document by its average per-bigram
   * negative log-likelihood (cross-entropy, nats/bigram — the monotone
   * equivalent of perplexity without a second transcendental op). Low
   * NLL ⇒ the document looks like the corpus; high NLL flags
   * outlier/garbled text the quality battery's integer rules miss.
   *
   * p(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V), V = corpus vocabulary size.
   *
   * Scale: [[graft.operators.BigramLm.fit]] keyed by doc — ONE explode
   * collapsed to per-(doc, bigram) multiplicities (the query-owned
   * persist), the model tables re-aggregated from them, V a driver
   * scalar. One −ln(p) per DISTINCT bigram, joined back to the per-doc
   * pairs and folded per doc. Caching the token arrays instead was
   * MEASURED SLOWER at sf0.1 (9.9 s vs 8.3 s pipeline_curation_lm
   * construct — array serialization costs more than the recompute).
   *
   * Determinism: the conditional probability is one IEEE division of
   * exactly-representable integers; each bigram's −ln(p) is rounded to
   * 6 dp and summed as exact DECIMAL (order-independent), so the only
   * cross-engine exposure is `ln`'s final ulp landing exactly on a
   * rounding boundary — the same envelope the attribution credit model
   * accepts for its per-touch division.
   */
  def textLmNll(s: SparkSession, dir: String): DataFrame = {
    val (bi, lm) = BigramLm.fit(docs(s, dir), col("doc_id"))
    val terms = lm.cb.join(lm.cu, Seq("w1"))
      .select(col("w1"), col("w2"), BigramLm.addOneTerm(lm.vocab).as("term"))
    bi.join(terms, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(BigramLm.nBigrams, BigramLm.nll)
      .orderBy(col("doc_id"))
  }

  /**
   * CCNet head/middle/tail quality bucketing — the canonical web-corpus
   * triage (CCNet §4.3: score each document with a reference LM, split
   * each language into perplexity tertiles, train preferentially on the
   * "head"): per document the [[textLmNll]] bigram NLL, per language an
   * exact NTILE(3) over (nll, doc_id), and per (lang, bucket) the
   * population, character mass, and mean NLL a mixture planner reads.
   * Documents that emit no bigrams (< 2 words) have no LM score and are
   * excluded by the scoring join — the same population contract as
   * text_lm_nll itself.
   *
   * Scale: adds one doc_id equi-join (lang + n_chars ride in) and a
   * per-LANG ntile window (hash-partitioned — never global) over the LM
   * pipeline; the rollup is ≤ langs × 3 groups; mean NLL is
   * [[graft.operators.BigramLm.meanNll]].
   */
  def corpusCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val scored = textLmNll(s, dir)
      .join(docs(s, dir).select(col("doc_id"),
        coalesce(col("lang"), lit("")).as("lang"), col("n_chars")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("nll"), col("doc_id"))
    scored
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
        BigramLm.meanNll(col("nll")).as("mean_nll"))
      .orderBy(col("lang"), col("bucket"))
  }

  /**
   * Language-ID evaluation — per-class precision / recall / F1 of the
   * [[textLangId]] heuristic against the labeled `lang` column, with the
   * label space mapped onto the classifier's own {en_like, other}
   * dichotomy (truth: lang = 'en' → en_like). The
   * [[graft.queries.Similarity.evalConfusionKnn]] rollup shape over the
   * already-aggregated (lang, predicted) confusion counts — the eval
   * never rescans the corpus.
   */
  def evalLangidPrf(s: SparkSession, dir: String): DataFrame = {
    val conf = textLangId(s, dir)
      .select(when(col("lang") === "en", "en_like").otherwise("other").as("truth"),
        col("predicted"), col("n"))
    val t = conf.groupBy(col("truth").as("cls"))
      .agg(sum(col("n")).as("n_true"),
        sum(when(col("predicted") === col("truth"), col("n")).otherwise(0L)).as("tp"))
    val p = conf.groupBy(col("predicted").as("cls"))
      .agg(sum(col("n")).as("n_pred"))
    t.join(p, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision", when(col("n_pred") > 0,
        round(col("tp").cast("double") / col("n_pred"), 6)))
      .withColumn("recall", when(col("n_true") > 0,
        round(col("tp").cast("double") / col("n_true"), 6)))
      .withColumn("f1", when(col("n_true") + col("n_pred") > 0,
        round(lit(2.0d) * col("tp") / (col("n_true") + col("n_pred")), 6)))
      .orderBy(col("cls"))
  }

  /** Vocabulary size for the truncated-vocab tokenization audit. */
  private val TokVocabSize = 1000

  /**
   * Truncated-vocabulary tokenization audit — the fertility measurement a
   * tokenizer designer runs after [[Corpus.vocabCoverage]] picks a cut:
   * fix the vocabulary to the top-[[TokVocabSize]] corpus words
   * (frequency-ranked, word text as the deterministic boundary tiebreak)
   * and count, per document, the tokens it would emit when every
   * out-of-vocabulary word falls back to character-level pieces (the
   * WordPiece/byte-fallback degradation mode). `n_tokens / n_words` is
   * the fertility; `n_oov` localizes which documents blow the budget.
   *
   * Scale: the vocabulary is a corpus-level top-K over the word-count
   * aggregate (map-side-combined, vocab-bounded rows into a TakeOrdered);
   * scoring is one explode joined to that ≤[[TokVocabSize]]-row relation
   * — explicitly broadcast — then a per-doc integer aggregate. All
   * arithmetic is integer, so both engines agree exactly.
   */
  def tokVocabTokens(s: SparkSession, dir: String): DataFrame = {
    val w = docs(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val vocab = w.groupBy(col("word")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word"))
      .limit(TokVocabSize)
      .select(col("word"), lit(1L).as("in_vocab"))
    w.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("in_vocab").isNotNull, 1L)
          .otherwise(length(col("word")).cast("long"))).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .orderBy(col("doc_id"))
  }

  /** Word-vocabulary and merge-table sizes for the subword tokenizer. */
  private val SubwordTopWords = 300
  private val SubwordTopPairs = 200

  /**
   * Greedy subword tokenization under a corpus-learned merge table — the
   * next fidelity step after [[tokVocabTokens]]'s character fallback: the
   * tokenizer keeps the top-[[SubwordTopWords]] words whole, and segments
   * every OOV word greedily left-to-right against the
   * top-[[SubwordTopPairs]] two-character pieces (the [[bpePairCounts]]
   * statistic — i.e. the first BPE merge generation), falling back to
   * single code points. Emits the per-document piece count, OOV count,
   * and the pair/char piece split (`n_pair = len − pieces`,
   * `n_char = 2·pieces − len` — every piece is 1 or 2 cps). Counts are
   * BMP-exact on both engines (same envelope as [[textScriptRatio]]).
   *
   * Scale: the corpus collapses ONCE to its distinct vocabulary
   * (map-side-combined, persisted — vocab-bounded, released by the query
   * owner); word vocab and merge table are top-Ks over it; the merge
   * table is a metadata-sized driver constant folded into
   * [[graft.functions.GreedyPairCount]] — a codegen'd per-row loop, so
   * the iterative segmentation runs once per DISTINCT word, not per
   * occurrence. Scoring joins the exploded corpus to the ≤vocab-row
   * piece relation (explicitly broadcast) and aggregates integers.
   */
  def tokSubwordPieces(s: SparkSession, dir: String): DataFrame =
    subwordPerDoc(s, dir).orderBy(col("doc_id"))

  /** Feature-hashing bucket count (the hashing-trick dimensionality). */
  private val HashBuckets = 64

  /**
   * Feature-hashing (hashing-trick) collision audit — the table a
   * bag-of-words vectorizer publishes before committing to a hashed
   * feature space: every distinct word maps to bucket md5(word) mod
   * [[HashBuckets]] (the repo's cross-engine hash family, standing in
   * for the murmur hash a production vectorizer uses), and per bucket
   * the audit reports how many distinct words collide there, their total
   * token mass, and the excess (words − 1) that the hashed
   * representation conflates. The occupancy/collision profile decides
   * whether the dimensionality is adequate.
   *
   * Scale: one word rollup (map-side combined), one ≤[[HashBuckets]]
   * aggregate — no joins, no windows.
   */
  def mlFeatureHashing(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_tok"))
      .withColumn("bucket",
        conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long") % HashBuckets)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"),
        (count(lit(1)) - 1L).as("n_collisions"))
      .orderBy(col("bucket"))

  /**
   * Tokenizer fertility per language — pieces emitted per whitespace word
   * (the metric tokenizer teams watch per language: a fertility far above
   * the corpus mean means that language pays more context budget per word
   * — the classic under-served-script signal). Word-weighted exact ratio
   * over the [[tokSubwordPieces]] per-doc relation; OOV rate as integer
   * ppm.
   *
   * Scale: adds one doc_id equi-join (lang rides in) and a ≤|langs|
   * rollup to the subword pipeline — nothing new shuffles the corpus.
   */
  def tokFertility(s: SparkSession, dir: String): DataFrame =
    subwordPerDoc(s, dir)
      .join(docs(s, dir).select(col("doc_id"),
        coalesce(col("lang"), lit("")).as("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("n_oov")).as("n_oov"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"),
        round(col("n_pieces").cast("double") / col("n_words"), 6)
          .as("fertility"),
        expr("1000000L * n_oov DIV n_words").as("oov_ppm"))
      .orderBy(col("lang"))

  /** Shared per-doc subword accounting behind [[tokSubwordPieces]] and
    * [[tokFertility]] (unordered). */
  private def subwordPerDoc(s: SparkSession, dir: String): DataFrame = {
    val w = docs(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val wc = w.groupBy(col("word")).agg(count(lit(1)).as("c"))
      .transform(cached)
    val topW = wc.orderBy(col("c").desc, col("word")).limit(SubwordTopWords)
      .select(col("word"))
    // merge table: pair statistics over the distinct vocabulary weighted
    // by word frequency (the bpe_pair_counts aggregate), top-K collected
    // as MODEL PARAMETERS (metadata-sized by construction)
    val pairs: Seq[Long] = wc.filter(length(col("word")) >= 2)
      .select(col("c").as("freq"), explode(
        expr("transform(sequence(1, char_length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(SubwordTopPairs)
      .collect()
      .map { r =>
        val cps = r.getString(0).codePoints.toArray
        graft.functions.GreedyPairCount.key(cps(0), cps(1))
      }.toSeq
    // per-distinct-word piece table: in-vocab words are one piece; OOV
    // words run the greedy codegen loop once each
    val perWord = wc.join(topW, Seq("word"), "left_semi")
      .select(col("word"), lit(1L).as("n_pieces"), lit(1L).as("in_vocab"))
      .unionByName(
        wc.join(topW, Seq("word"), "left_anti")
          .select(col("word"),
            graft.functions.GraftFunctions.greedy_pair_count(col("word"), pairs)
              .as("n_pieces"),
            lit(0L).as("in_vocab")))
    w.join(broadcast(perWord), Seq("word"))
      .select(col("doc_id"), col("n_pieces"), col("in_vocab"),
        length(col("word")).cast("long").as("len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(lit(1L) - col("in_vocab")).as("n_oov"),
        sum(when(col("in_vocab") === 1L, 0L)
          .otherwise(col("len") - col("n_pieces"))).as("n_pair_pieces"),
        sum(when(col("in_vocab") === 1L, 0L)
          .otherwise(lit(2L) * col("n_pieces") - col("len"))).as("n_char_pieces"))
  }

  /**
   * DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling") — the domain-targeting
   * pass that upweights raw-corpus documents resembling a target domain:
   * train one add-one-smoothed bigram LM on the TARGET slice (here the
   * `lang = 'en'` documents — the label the fixtures keep stable) and one
   * on the whole corpus, and score every document by
   * `log w = Σ_bigram [ln p_target − ln p_raw]`. Positive `log w` ⇒ the
   * doc looks more target-like than corpus-average; `target_like` is the
   * resampling predicate. Shares [[textLmNll]]'s model conventions
   * (shared vocabulary V in both smoothing denominators, so weights are
   * comparable across docs).
   *
   * Scale: same shape as [[textLmNll]] — two count aggregates (the
   * target one over the filtered slice), history counts re-aggregated
   * from the bigram tables, V a metadata-sized driver scalar, scoring
   * one linear explode joined to the count relations; absent target
   * counts coalesce to 0 (pure smoothing mass), so the left joins never
   * drop a bigram. Per-bigram terms rounded then summed as exact
   * DECIMAL.
   */
  def dsirScore(s: SparkSession, dir: String): DataFrame = {
    // one fit keyed by (doc, target flag): lang is doc-functional, so the
    // target model is the general one's pairs restricted to the flag
    val (bi, general) = BigramLm.fit(docs(s, dir),
      col("doc_id"), (col("lang") === "en").as("is_t"))
    val target = BigramLm.Model.of(bi.filter(col("is_t")), general.vocab)
    val term = BigramLm.term(
      BigramLm.addOneLogP(col("cbt"), col("cut"), general.vocab) -
      BigramLm.addOneLogP(col("cb"), col("cu"), general.vocab))
    val terms = general.cb
      .join(general.cu, Seq("w1"))
      .join(target.cb.withColumnRenamed("cb", "cbt"), Seq("w1", "w2"), "left")
      .join(target.cu.withColumnRenamed("cu", "cut"), Seq("w1"), "left")
      .select(col("w1"), col("w2"), term.as("term"))
    bi
      .join(terms, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(BigramLm.nBigrams,
        round(BigramLm.totalTerm.cast("double"), 6).as("log_w"))
      .withColumn("target_like", col("log_w") > 0.0)
      .orderBy(col("doc_id"))
  }

  /**
   * LM-vs-rules calibration — the agreement audit run before swapping the
   * integer rule battery for the learned perplexity filter: NTILE the
   * corpus into deciles of [[textLmNll]]'s cross-entropy and report each
   * decile's mean Gopher-rule pass count. A monotone falling curve says
   * the LM ranks documents the way the rules do (cheap sanity before a
   * threshold cut); a flat one says the LM learned something else.
   *
   * Scale: the per-doc NLL table is corpus-row-bounded; the decile
   * assignment is the DISTRIBUTED exact NTILE ([[graft.operators
   * .Quantiles]] — range partition + metadata-sized offsets, never a
   * single-partition window); the rule battery is pure per-row codegen
   * joined on `doc_id`. Means are exact integer/DECIMAL sums divided
   * once per output row.
   */
  def qualityNllCalibration(s: SparkSession, dir: String): DataFrame = {
    val qw = gopherPredicates.map(p => when(p, 1L).otherwise(0L)).reduce(_ + _)
    val rules = docs(s, dir).select(col("doc_id"), qw.as("rules_passed"))
    val joined = textLmNll(s, dir).join(rules, Seq("doc_id"))
    graft.operators.Quantiles
      .withNtile(joined, 10, Seq(col("nll").asc, col("doc_id")), "nll_decile")
      .groupBy(col("nll_decile"))
      .agg(count(lit(1)).as("n_docs"),
        BigramLm.meanNll(col("nll")).as("mean_nll"),
        round(sum(col("rules_passed")).cast("double") / count(lit(1)), 6)
          .as("mean_rules"))
      .orderBy(col("nll_decile"))
  }

  /** Pair-bin capacity (tokens) for the complement-pairing packer. */
  private val PairBinCap = 128L

  /**
   * Complement pairing — the classic 2-per-bin greedy packer a training
   * pipeline applies when whole documents must not split across context
   * windows (the alternative to [[textPackChunks]]' concat-and-split):
   * rank in-cap documents by token count descending and pair rank r with
   * rank N+1−r (longest with shortest), so every bin holds the longest
   * unplaced doc plus the best complement the sorted order offers. Emits
   * the per-bin fill audit (`fits` = the pair actually fit) that decides
   * between this layout and the padding-waste of one-doc-per-bin
   * ([[packPaddingWaste]]).
   *
   * Scale: ranking is the DISTRIBUTED exact global rank (range partition
   * + metadata-sized offsets — never a single-partition window), which
   * also carries the total row count; the bin rollup is one
   * map-side-combined groupBy on bin id. All arithmetic integer.
   */
  def packPairs(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") >= 1L && col("n_tok") <= PairBinCap)
    graft.operators.Quantiles
      .withGlobalRank(toks, Seq(col("n_tok").desc, col("doc_id")), "r", "n_total")
      .withColumn("bin_id", least(col("r"), col("n_total") + 1L - col("r")))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("fill_tokens"))
      .withColumn("fits", col("fill_tokens") <= PairBinCap)
      .orderBy(col("bin_id"))
  }

  /**
   * The model-era curation funnel — [[Curation.pipelineCuration]]'s
   * successor with the learned stages wired in: rule battery → exact
   * bag-of-words dedup (keep-first) → bigram-LM cross-entropy cut (keep
   * the best-scoring 90% of the deduped survivors — an exact
   * order-statistic threshold, not an approximate percentile) →
   * deterministic 50% hash sample. Emits the per-source survivor count
   * at every stage — the funnel report a curation run publishes before
   * anyone trains on its output.
   *
   * Scale: per-doc flags are computed in ONE pass over the scan (rules
   * and fingerprint are codegen expressions); the keeper set is one
   * groupBy(fp); the LM cut ranks ONLY the deduped survivors with the
   * distributed exact rank, its threshold an integer
   * cross-multiplication (`r·10 ≤ n·9`) so no float boundary can flip a
   * document; the flagged relation is narrow (id + source + booleans),
   * persisted once (query-owned), and the five stage rollups are cheap
   * re-aggregates of it.
   */
  def pipelineCurationLm(s: SparkSession, dir: String): DataFrame = {
    val rulesPass = gopherPredicates.reduce(_ && _)
    val f0 = docs(s, dir)
      .select(col("doc_id"), col("source"),
        rulesPass.as("p_rules"), bowFp(col("text")).as("fp"))
    val keepers = f0.filter(col("p_rules"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_keeper"))
    val f1 = f0.join(keepers, Seq("doc_id"), "left")
      .join(textLmNll(s, dir).select(col("doc_id"), col("nll")), Seq("doc_id"), "left")
      .transform(cached)
    val d2n = f1
      .filter(col("p_rules") && col("is_keeper").isNotNull && col("nll").isNotNull)
      .select(col("doc_id"), col("nll"))
    val lmKeep = graft.operators.Quantiles
      .withGlobalRank(d2n, Seq(col("nll").asc, col("doc_id")), "r", "n_total")
      .filter(col("r") * 10L <= col("n_total") * 9L)
      .select(col("doc_id"), lit(1L).as("p_lm"))
    val f2 = f1.join(lmKeep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("p_rules"),
        (col("p_rules") && col("is_keeper").isNotNull).as("p_dedup"),
        col("p_lm").isNotNull.as("p_lm"),
        (Curation.md5Mod100(col("doc_id")) < 50L).as("p_sample"))
      .transform(cached)
    def stage(name: String, cond: Column): DataFrame = f2
      .filter(cond)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .select(lit(name).as("stage"), col("source"), col("n_docs"))
    stage("1_raw", lit(true))
      .unionByName(stage("2_rules", col("p_rules")))
      .unionByName(stage("3_dedup", col("p_dedup")))
      .unionByName(stage("4_lm", col("p_dedup") && col("p_lm")))
      .unionByName(stage("5_sample",
        col("p_dedup") && col("p_lm") && col("p_sample")))
      .orderBy(col("stage"), col("source"))
  }

  /** Multiplicative-weights step size for the DoReMi-style reweighting. */
  private val DoremiEta = 1.0

  /**
   * One DoReMi-style domain-reweighting step (Xie et al. 2023, simplified
   * to the engine's bigram reference LM): per source, the mean document
   * cross-entropy under [[textLmNll]] stands in for the proxy model's
   * excess loss; each source's character-mass base share is multiplied by
   * exp(η · excess) (excess = mean NLL above the best source's) and
   * renormalized. The output is the mixture-weight table the next
   * training round would sample with — sources the LM finds hardest get
   * upweighted, exactly the DoReMi update direction.
   *
   * Scale: the LM pipeline plus ONE doc_id equi-join and a ≤|sources|
   * aggregate; everything after runs on the |sources|-row relation
   * (zeroPart single-group windows — the post-aggregation convention).
   * Determinism: mean NLL and excess rounded at 6 dp before exp, the
   * exp output rounded to 8 dp DECIMAL before the normalizing sum (the
   * survival-curve exp envelope), one final 6 dp division.
   */
  def mixDoremiStep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec8 = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    val perSrc = textLmNll(s, dir)
      .join(docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
        BigramLm.meanNll(col("nll")).as("mean_nll"))
    val zw = Window.partitionBy(zeroPart(col("source")))
    val base = round(col("sum_chars").cast("double") /
      sum(col("sum_chars")).over(zw).cast("double"), 6)
    val excess = round(col("mean_nll") - min(col("mean_nll")).over(zw), 6)
    val unnorm = round(col("base_share") * exp(lit(DoremiEta) * col("excess_nll")), 8)
      .cast(dec8)
    perSrc
      .withColumn("base_share", base)
      .withColumn("excess_nll", excess)
      .withColumn("w8", unnorm)
      .withColumn("doremi_weight",
        round(col("w8").cast("double") / sum(col("w8")).over(zw).cast("double"), 6))
      .select(col("source"), col("n_docs"), col("mean_nll"),
        col("excess_nll"), col("base_share"), col("doremi_weight"))
      .orderBy(col("source"))
  }

  /** Coverage knee reported by the audit (SentencePiece's default
    * character_coverage is 0.9995). */
  private val CharCoverPpm = 999500L

  /**
   * Character-coverage curve for tokenizer alphabet sizing — the
   * SentencePiece `character_coverage` decision table: characters rank
   * by corpus frequency; each row reports its cumulative ppm and whether
   * it is still inside the 99.95% coverage set (everything outside maps
   * to `<unk>`/byte-fallback). The character-level complement of
   * [[vocabCoverage]]'s word-level Zipf curve.
   *
   * Scale shape: one per-character explode collapsed map-side to
   * ≤|alphabet| groups (the alphabet, not the corpus, bounds everything
   * after the scan); rank and the running total are windows over that
   * alphabet-sized relation (deliberate single-group window via
   * [[Tables.zeroPart]]). Determinism: pure integer counts; the
   * coverage flag is the cross-multiplication (cum−cnt)·10⁶ <
   * [[CharCoverPpm]]·total — a char is "needed" while coverage BEFORE it
   * is still under the knee.
   */
  def tokCharCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chars = docs(s, dir)
      .select(explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "" && col("ch") =!= " ")
      .groupBy(col("ch")).agg(count(lit(1)).as("cnt"))
    val wAll = Window.partitionBy(zeroPart(col("ch")))
    val ord = Window.partitionBy(zeroPart(col("ch")))
      .orderBy(col("cnt").desc, col("ch"))
    chars
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("cum", sum(col("cnt")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("cnt")).over(wAll))
      .select(col("rank"), col("ch"), col("cnt"),
        expr("cum * 1000000 DIV tot").as("cum_ppm"),
        ((col("cum") - col("cnt")) * 1000000L < lit(CharCoverPpm) * col("tot"))
          .as("needed_9995"))
      .orderBy(col("rank"))
  }

  // ---------------------------------------------------------------------
  // sample_ess_audit — effective sample size of the importance weights
  // ---------------------------------------------------------------------

  /**
   * Kish effective sample size of [[sampleQualityWeighted]]'s importance
   * weights, per source — the variance audit that prices a weighted
   * sampler BEFORE running it: ESS = (Σw)²/Σw² is the number of
   * equal-weight samples the weighted set is statistically worth, and
   * ESS/n → 1 means the weights are near-uniform (weighting buys
   * nothing) while ESS/n → 0 means a few heavy docs dominate (the
   * estimator's variance explodes). Weights are the same 0–5 rule-count
   * the sampler uses, so the audit prices exactly the sampler that ships.
   *
   * Exactness: w ∈ {0..5} keeps Σw and Σw² in exact LONG arithmetic all
   * the way; ESS is one integer cross-ratio per source, rounded once.
   * Scale: one map-side-combined |sources|-group aggregate over the
   * scan-local rule battery — a single linear pass.
   */
  def sampleEssAudit(s: SparkSession, dir: String): DataFrame = {
    val qw = gopherPredicates.map(p => when(p, 1L).otherwise(0L)).reduce(_ + _)
    docs(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), qw.as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("sum_w"),
        sum(col("w") * col("w")).as("sum_w2"),
        max(col("w")).as("w_max"))
      .select(col("source"), col("n_docs"), col("sum_w"), col("sum_w2"),
        col("w_max"),
        round(when(col("sum_w2") > 0,
          (col("sum_w") * col("sum_w")).cast("double") /
            col("sum_w2").cast("double")), 6).as("ess"),
        round(when(col("sum_w2") > 0,
          (col("sum_w") * col("sum_w")).cast("double") /
            (col("sum_w2") * col("n_docs")).cast("double")), 6)
          .as("ess_ratio"))
      .orderBy(col("source"))
  }

  private val sampleEssAuditSql: String =
    """WITH f AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
      |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS sym_chars,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop
      |  FROM documents WHERE text IS NOT NULL),
      |w AS (
      |  SELECT source,
      |    CAST((CASE WHEN n_words >= 50 THEN 1 ELSE 0 END)
      |      + (CASE WHEN 3 * n_words <= word_chars AND word_chars <= 10 * n_words THEN 1 ELSE 0 END)
      |      + (CASE WHEN 10 * sym_chars <= n_chars THEN 1 ELSE 0 END)
      |      + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN 5 * digit_chars <= n_chars THEN 1 ELSE 0 END) AS BIGINT) AS w
      |  FROM f),
      |g AS (
      |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n_docs,
      |    CAST(SUM(w) AS BIGINT) AS sum_w,
      |    CAST(SUM(w * w) AS BIGINT) AS sum_w2,
      |    CAST(MAX(w) AS BIGINT) AS w_max
      |  FROM w GROUP BY source)
      |SELECT source, n_docs, sum_w, sum_w2, w_max,
      |  round(CASE WHEN sum_w2 > 0 THEN CAST(sum_w * sum_w AS DOUBLE)
      |    / CAST(sum_w2 AS DOUBLE) END, 6) AS ess,
      |  round(CASE WHEN sum_w2 > 0 THEN CAST(sum_w * sum_w AS DOUBLE)
      |    / CAST(sum_w2 * n_docs AS DOUBLE) END, 6) AS ess_ratio
      |FROM g ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // text_pmi_collocations — top-K pointwise-mutual-information bigrams
  // ---------------------------------------------------------------------

  /** Minimum bigram count for a PMI candidate (PMI of a hapax pair is
    * pure noise — the standard collocation-extraction floor). */
  private val PmiMinCount = 5L

  /** Collocations reported. */
  private val PmiTopK = 50

  /**
   * Top-[[PmiTopK]] collocations by pointwise mutual information over
   * adjacent-token bigrams — the phrase-mining pass (Church & Hanks 1990)
   * a tokenizer/vocab pipeline runs to find multi-word units worth
   * single tokens, and a template detector reads for stamped-phrase
   * signal. PMI = ln N·c(w1,w2)/(c(w1,·)·c(·,w2)) with both marginals
   * taken over the SAME bigram stream (self-consistent — no separate
   * unigram scan), floored at c ≥ [[PmiMinCount]].
   *
   * Scale: one bigram explode + map-side-combined groupBy; marginals
   * RE-AGGREGATE from the bigram-count table (the [[graft.operators.BigramLm]]
   * no-second-scan pattern) and join back on their key; N is a 1-row metadata
   * scalar. The top-K is TakeOrdered — never a global sort. Determinism:
   * PMI = ln c12 + ln N − ln c1 − ln c2 with each ln of an EXACT integer
   * rounded to 8 dp before the sum (products like c12·N overflow a
   * double's 53-bit mantissa at corpus scale; the log-sum never does),
   * ties broken lexicographically.
   */
  def textPmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val bi = BigramLm.explode(
      docs(s, dir).filter(col("text").isNotNull)
        .select(words(col("text")).as("ws")))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .transform(cached)
    val nRow = bi.agg(sum(col("c12"))).first()
    if (nRow.isNullAt(0)) return bi.select(col("w1"), col("w2"), col("c12"),
      col("c12").as("c1"), col("c12").as("c2"),
      lit(null).cast("double").as("pmi")).limit(0)
    val nBi = nRow.getLong(0)
    val left = bi.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val right = bi.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val lnN = round(log(lit(nBi.toDouble)), 8)
    bi.filter(col("c12") >= PmiMinCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(round(log(col("c12").cast("double")), 8) + lnN -
          round(log(col("c1").cast("double")), 8) -
          round(log(col("c2").cast("double")), 8), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  private val textPmiCollocationsSql: String =
    s"""WITH t AS (
       |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |u AS (
       |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
       |    i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS p
       |  FROM t WHERE len(ws) >= 2),
       |b AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM u),
       |bi AS (
       |  SELECT w1, w2, CAST(COUNT(1) AS BIGINT) AS c12
       |  FROM b GROUP BY 1, 2),
       |n AS (SELECT CAST(SUM(c12) AS BIGINT) AS nbi FROM bi),
       |l AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bi GROUP BY 1),
       |r AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM bi GROUP BY 1)
       |SELECT bi.w1, bi.w2, c12, c1, c2,
       |  round(round(ln(CAST(c12 AS DOUBLE)), 8)
       |    + round(ln(CAST(nbi AS DOUBLE)), 8)
       |    - round(ln(CAST(c1 AS DOUBLE)), 8)
       |    - round(ln(CAST(c2 AS DOUBLE)), 8), 6) AS pmi
       |FROM bi JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
       |WHERE c12 >= $PmiMinCount
       |ORDER BY pmi DESC, bi.w1, bi.w2
       |LIMIT $PmiTopK""".stripMargin

  // ---------------------------------------------------------------------
  // text_yules_k — Yule's K lexical-repetitiveness characteristic
  // ---------------------------------------------------------------------

  /**
   * Yule's K per source: K = 10⁴·(Σ_types c² − N)/N² over the whitespace
   * token stream — the classic length-invariant repetitiveness
   * characteristic (Yule 1944; K is the scaled second moment of the word
   * frequency spectrum, so it reads "how concentrated is this slice's
   * vocabulary" without the sample-size bias that makes raw TTR
   * incomparable across sources — the corpus-level complement to the
   * per-document window normalization in [[textMattr]]). High-K slices
   * are template/boilerplate-heavy; a K jump between crawl snapshots is
   * the same drift signal [[statsHeapsFit]] reads from the type-growth
   * side.
   *
   * Exactness: c² sums fold in DECIMAL(38,0) (a 10⁹-token hot word wraps
   * LONG); one final double expression, NULL only for an empty slice.
   * Scale: (source, word) hash aggregate with map-side combine → one
   * |sources|-group rollup; no window, no join.
   */
  def textYulesK(s: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val tf = docs(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(words(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
    tf.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum(col("c").cast(d38) * col("c")).as("s2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(when(col("n_tokens") > 0L,
          lit(10000.0d) *
            (col("s2").cast("double") - col("n_tokens").cast("double")) /
            (col("n_tokens").cast("double") * col("n_tokens").cast("double"))),
          6).as("yules_k"))
      .orderBy(col("source"))
  }

  /** RAKE phrase-boundary stopword set — the gopher stopword quintet, so
    * the operator needs no external lexicon (Rose et al. 2010 uses a
    * full stoplist; the boundary MECHANISM is what's implemented). */
  private val RakeStop = Seq("the", "of", "and", "to", "in")
  private val RakeTopK = 25
  private val RakeMaxLen = 8

  // ---------------------------------------------------------------------
  // text_rake_keywords — RAKE keyword/phrase extraction
  // ---------------------------------------------------------------------

  /**
   * RAKE keyword extraction (Rose et al. 2010): candidate phrases are
   * maximal stopword-free token runs; each word scores deg/freq (degree
   * = Σ length of phrases it appears in); a phrase scores the sum of
   * its member word scores; top-[[RakeTopK]] phrases win. The unsupervised
   * "what is this corpus about" readout that complements
   * [[textPmiCollocations]] (PMI finds surprising PAIRS; RAKE finds the
   * salient multi-word TERMS).
   *
   * Determinism: word scores round to 8 dp into DECIMAL before the
   * phrase sum (identical phrase text ⇒ bit-identical score, so the
   * cross-doc phrase collapse can take max); final 6 dp round, ties
   * break on the phrase string. Scale: phrase segmentation is a
   * cumulative stopword count over per-doc token windows (doc-length
   * bounded, the [[textMattr]] convention); everything downstream is
   * (word)- or (doc, phrase)-keyed hash aggregation with map-side
   * combine; phrases cap at [[RakeMaxLen]] tokens so a stopword-free
   * megadoc cannot mint an unbounded phrase string.
   */
  def textRakeKeywords(s: SparkSession, dir: String): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 8)
    val toks = docs(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(words(col("text"))))
      .withColumnRenamed("col", "w")
      .withColumn("is_stop", col("w").isInCollection(RakeStop))
    val gw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val nz = toks
      .withColumn("grp", sum(col("is_stop").cast("long")).over(gw))
      .filter(!col("is_stop"))
      .select(col("doc_id"), col("grp"), col("pos"), col("w"))
      .transform(cached)
    val pl = nz.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("len"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("phrase"))
      .filter(col("len") <= RakeMaxLen)
      .transform(cached)
    val tk = nz.join(pl.select(col("doc_id"), col("grp"), col("len")),
      Seq("doc_id", "grp"))
    val wscore = tk.groupBy(col("w"))
      .agg(round(sum(col("len")).cast("double") / count(lit(1)), 8)
        .cast(dec8).as("wscore"))
    val ps = tk.join(wscore, Seq("w"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(sum(col("wscore")).as("pscore"))
    pl.join(ps, Seq("doc_id", "grp"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"), max(col("pscore")).as("ps"))
      .select(col("phrase"), col("n_occ"),
        round(col("ps").cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(RakeTopK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_rake_keywords" -> (textRakeKeywords _),
    "text_yules_k" -> (textYulesK _),
    "sample_ess_audit" -> (sampleEssAudit _),
    "text_pmi_collocations" -> (textPmiCollocations _),
    "mix_doremi_step" -> (mixDoremiStep _),
    "tok_char_coverage" -> (tokCharCoverage _),
    "pipeline_curation_lm" -> (pipelineCurationLm _),
    "bpe_compression_curve" -> (bpeCompressionCurve _),
    "text_lm_heldout_ppl" -> (textLmHeldoutPpl _),
    "text_lm_kneser_ney" -> (textLmKneserNey _),
    "text_mattr" -> (textMattr _),
    "pack_pairs" -> (packPairs _),
    "quality_nll_calibration" -> (qualityNllCalibration _),
    "dsir_score" -> (dsirScore _),
    "tok_subword_pieces" -> (tokSubwordPieces _),
    "tok_fertility" -> (tokFertility _),
    "ml_feature_hashing" -> (mlFeatureHashing _),
    "corpus_ccnet_buckets" -> (corpusCcnetBuckets _),
    "eval_langid_prf" -> (evalLangidPrf _),
    "tok_vocab_tokens" -> (tokVocabTokens _),
    "text_lm_nll" -> (textLmNll _),
    "sample_quality_weighted" -> (sampleQualityWeighted _),
    "text_script_ratio" -> (textScriptRatio _),
    "text_rarity_score" -> (textRarityScore _),
    "filter_gopher_rules" -> (filterGopherRules _),
    "text_pack_chunks" -> (textPackChunks _),
    "text_ngram_counts" -> (textNgramCounts _),
    "text_scrub" -> (textScrub _),
    "text_repetition" -> (textRepetition _),
    "text_tokens" -> (textTokens _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangId _),
    "text_fingerprint" -> (textFingerprint _),
    "text_winnow_fp" -> (textWinnowFp _),
    "dedup_winnow_overlap" -> (dedupWinnowOverlap _),
    "bpe_pair_counts" -> (bpePairCounts _),
    "bpe_train_merges" -> (bpeTrainMerges _),
    "pack_padding_waste" -> (packPaddingWaste _),
    "text_chunk_windows" -> (textChunkWindows _),
    "dedup_bow_fp" -> (dedupBowFp _))

  /** The text_lm_nll oracle body — shared verbatim by the calibration
    * oracle, which embeds it as a CTE so the two contracts can't drift. */
  private val LmNllSql =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |v AS (
      |  SELECT COUNT(DISTINCT tok) AS vocab
      |  FROM (SELECT unnest(ws) AS tok FROM t)),
      |bi AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(ws) - 1),
      |      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
      |  FROM t WHERE len(ws) >= 2),
      |b AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bi),
      |cb AS (SELECT w1, w2, COUNT(1) AS cb FROM b GROUP BY w1, w2),
      |cu AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM cb GROUP BY w1)
      |SELECT b.doc_id, CAST(COUNT(1) AS BIGINT) AS n_bigrams,
      |  round(CAST(SUM(CAST(round(-ln((cb + 1.0) / (cu + 1.0 * vocab)), 6)
      |    AS DECIMAL(20,6))) AS DOUBLE) / COUNT(1), 6) AS nll
      |FROM b
      |JOIN cb USING (w1, w2)
      |JOIN cu USING (w1)
      |CROSS JOIN v
      |GROUP BY b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  /** Per-doc subword accounting CTE (unordered) — shared by the
    * tok_subword_pieces and tok_fertility oracles. */
  private val SubwordPerDocSql =
    """WITH RECURSIVE w AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
      |  FROM documents),
      |wc AS (SELECT word, COUNT(1) AS c FROM w GROUP BY word),
      |tv AS (SELECT word FROM wc ORDER BY c DESC, word LIMIT 300),
      |pc AS (
      |  SELECT pair FROM (
      |    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM (
      |      SELECT c AS freq,
      |        unnest(list_transform(generate_series(1, length(word) - 1),
      |          i -> word[i:i+1])) AS pair
      |      FROM wc WHERE length(word) >= 2)
      |    GROUP BY pair ORDER BY n DESC, pair LIMIT 200)),
      |ov AS (
      |  SELECT wc.word, length(wc.word) AS len FROM wc
      |  LEFT JOIN tv ON wc.word = tv.word WHERE tv.word IS NULL),
      |seg AS (
      |  SELECT word, 1 AS pos, 0 AS n FROM ov
      |  UNION ALL
      |  SELECT s.word,
      |    CASE WHEN p.pair IS NOT NULL THEN s.pos + 2 ELSE s.pos + 1 END AS pos,
      |    s.n + 1 AS n
      |  FROM seg s
      |  JOIN ov o ON s.word = o.word
      |  LEFT JOIN pc p ON s.pos + 1 <= o.len AND substr(s.word, s.pos, 2) = p.pair
      |  WHERE s.pos <= o.len),
      |pieces AS (SELECT word, CAST(MAX(n) AS BIGINT) AS n_pieces FROM seg GROUP BY word)
      |SELECT w.doc_id, CAST(COUNT(1) AS BIGINT) AS n_words,
      |  CAST(SUM(CASE WHEN tv.word IS NOT NULL THEN 1 ELSE p.n_pieces END) AS BIGINT) AS n_pieces,
      |  CAST(SUM(CASE WHEN tv.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(SUM(CASE WHEN tv.word IS NOT NULL THEN 0
      |    ELSE length(w.word) - p.n_pieces END) AS BIGINT) AS n_pair_pieces,
      |  CAST(SUM(CASE WHEN tv.word IS NOT NULL THEN 0
      |    ELSE 2 * p.n_pieces - length(w.word) END) AS BIGINT) AS n_char_pieces
      |FROM w
      |LEFT JOIN tv ON w.word = tv.word
      |LEFT JOIN pieces p ON w.word = p.word
      |GROUP BY w.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "sample_ess_audit" -> sampleEssAuditSql,
    "text_pmi_collocations" -> textPmiCollocationsSql,
    "tok_char_coverage" ->
      s"""WITH ch AS (
         |  SELECT unnest(string_split(text, '')) AS ch FROM documents),
         |c0 AS (
         |  SELECT ch, CAST(COUNT(1) AS BIGINT) AS cnt
         |  FROM ch WHERE ch <> '' AND ch <> ' ' GROUP BY ch),
         |w AS (
         |  SELECT ch, cnt,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, ch) AS BIGINT) AS rank,
         |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, ch
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER () AS BIGINT) AS tot
         |  FROM c0)
         |SELECT rank, ch, cnt,
         |  CAST(cum * 1000000 // tot AS BIGINT) AS cum_ppm,
         |  (cum - cnt) * 1000000 < $CharCoverPpm * tot AS needed_9995
         |FROM w ORDER BY rank""".stripMargin,
    "pipeline_curation_lm" ->
      s"""WITH lm AS ($LmNllSql),
        |fr AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS fp,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS sym_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop
        |  FROM documents),
        |fl AS (
        |  SELECT doc_id, source, fp,
        |    (n_words >= 50 AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
        |     AND 10 * sym_chars <= n_chars AND n_stop >= 2
        |     AND 5 * digit_chars <= n_chars) AS p_rules
        |  FROM fr),
        |k AS (SELECT fp, min(doc_id) AS kid FROM fl WHERE p_rules GROUP BY fp),
        |d2 AS (SELECT fl.doc_id, fl.source FROM fl JOIN k ON fl.doc_id = k.kid WHERE fl.p_rules),
        |d2n AS (SELECT d2.doc_id, d2.source, lm.nll FROM d2 JOIN lm ON d2.doc_id = lm.doc_id),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (ORDER BY nll, doc_id) AS r,
        |    COUNT(1) OVER () AS n
        |  FROM d2n),
        |d3 AS (SELECT doc_id, source FROM r WHERE r * 10 <= n * 9),
        |d4 AS (SELECT doc_id, source FROM d3
        |       WHERE ${Curation.duckMd5Mod100("doc_id")} < 50)
        |SELECT * FROM (
        |  SELECT '1_raw' AS stage, source, CAST(COUNT(1) AS BIGINT) AS n_docs
        |  FROM fl GROUP BY source
        |  UNION ALL SELECT '2_rules', source, CAST(COUNT(1) AS BIGINT)
        |  FROM fl WHERE p_rules GROUP BY source
        |  UNION ALL SELECT '3_dedup', source, CAST(COUNT(1) AS BIGINT)
        |  FROM d2 GROUP BY source
        |  UNION ALL SELECT '4_lm', source, CAST(COUNT(1) AS BIGINT)
        |  FROM d3 GROUP BY source
        |  UNION ALL SELECT '5_sample', source, CAST(COUNT(1) AS BIGINT)
        |  FROM d4 GROUP BY source)
        |ORDER BY stage, source""".stripMargin,
    "pack_pairs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |f AS (SELECT doc_id, n_tok FROM t WHERE n_tok BETWEEN 1 AND 128),
        |r AS (
        |  SELECT n_tok,
        |    row_number() OVER (ORDER BY n_tok DESC, doc_id) AS r,
        |    COUNT(1) OVER () AS n_total
        |  FROM f)
        |SELECT least(r, n_total + 1 - r) AS bin_id,
        |  CAST(COUNT(1) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS fill_tokens,
        |  CAST(SUM(n_tok) AS BIGINT) <= 128 AS fits
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "quality_nll_calibration" ->
      s"""WITH lm AS ($LmNllSql),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS sym_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CAST((CASE WHEN n_words >= 50 THEN 1 ELSE 0 END)
        |      + (CASE WHEN 3 * n_words <= word_chars AND word_chars <= 10 * n_words THEN 1 ELSE 0 END)
        |      + (CASE WHEN 10 * sym_chars <= n_chars THEN 1 ELSE 0 END)
        |      + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN 5 * digit_chars <= n_chars THEN 1 ELSE 0 END) AS BIGINT) AS rules_passed
        |  FROM f),
        |seg AS (
        |  SELECT lm.nll, r.rules_passed,
        |    CAST(ntile(10) OVER (ORDER BY lm.nll, lm.doc_id) AS BIGINT) AS nll_decile
        |  FROM lm JOIN r USING (doc_id))
        |SELECT nll_decile, COUNT(1) AS n_docs,
        |  round(CAST(SUM(CAST(nll AS DECIMAL(20,6))) AS DOUBLE) / COUNT(1), 6) AS mean_nll,
        |  round(CAST(SUM(rules_passed) AS DOUBLE) / COUNT(1), 6) AS mean_rules
        |FROM seg GROUP BY nll_decile ORDER BY nll_decile""".stripMargin,
    "dsir_score" ->
      """WITH t AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |v AS (
        |  SELECT COUNT(DISTINCT tok) AS vocab
        |  FROM (SELECT unnest(ws) AS tok FROM t)),
        |b AS (
        |  SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2 FROM (
        |    SELECT doc_id, lang,
        |      unnest(list_transform(generate_series(1, len(ws) - 1),
        |        i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
        |    FROM t WHERE len(ws) >= 2)),
        |cbg AS (SELECT w1, w2, COUNT(1) AS cbg FROM b GROUP BY w1, w2),
        |cug AS (SELECT w1, CAST(SUM(cbg) AS BIGINT) AS cug FROM cbg GROUP BY w1),
        |cbt AS (SELECT w1, w2, COUNT(1) AS cbt FROM b WHERE lang = 'en' GROUP BY w1, w2),
        |cut AS (SELECT w1, CAST(SUM(cbt) AS BIGINT) AS cut FROM cbt GROUP BY w1)
        |SELECT b.doc_id, CAST(COUNT(1) AS BIGINT) AS n_bigrams,
        |  round(CAST(SUM(CAST(round(
        |    ln((COALESCE(cbt, 0) + 1.0) / (COALESCE(cut, 0) + 1.0 * vocab))
        |    - ln((cbg + 1.0) / (cug + 1.0 * vocab)), 6)
        |    AS DECIMAL(20,6))) AS DOUBLE), 6) AS log_w,
        |  round(CAST(SUM(CAST(round(
        |    ln((COALESCE(cbt, 0) + 1.0) / (COALESCE(cut, 0) + 1.0 * vocab))
        |    - ln((cbg + 1.0) / (cug + 1.0 * vocab)), 6)
        |    AS DECIMAL(20,6))) AS DOUBLE), 6) > 0.0 AS target_like
        |FROM b
        |JOIN cbg USING (w1, w2)
        |JOIN cug USING (w1)
        |LEFT JOIN cbt USING (w1, w2)
        |LEFT JOIN cut USING (w1)
        |CROSS JOIN v
        |GROUP BY b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "tok_subword_pieces" -> s"$SubwordPerDocSql ORDER BY doc_id",
    "ml_feature_hashing" ->
      s"""WITH w AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
         |  FROM documents),
         |wc AS (SELECT word, CAST(COUNT(1) AS BIGINT) AS n_tok FROM w GROUP BY word),
         |b AS (SELECT CAST(CAST('0x' || substring(md5(word), 1, 8) AS UBIGINT)
         |        AS BIGINT) % $HashBuckets AS bucket, n_tok
         |      FROM wc)
         |SELECT bucket, CAST(COUNT(1) AS BIGINT) AS n_words,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(1) - 1 AS BIGINT) AS n_collisions
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "tok_fertility" ->
      s"""SELECT lang, CAST(COUNT(1) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
         |  round(CAST(SUM(n_pieces) AS DOUBLE) / SUM(n_words), 6) AS fertility,
         |  CAST(1000000 * SUM(n_oov) // SUM(n_words) AS BIGINT) AS oov_ppm
         |FROM ($SubwordPerDocSql) pd
         |JOIN (SELECT doc_id, coalesce(lang, '') AS lang FROM documents) d
         |  USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "tok_vocab_tokens" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |  FROM documents),
        |v AS (
        |  SELECT word FROM (
        |    SELECT word, COUNT(1) AS c FROM w GROUP BY word
        |    ORDER BY c DESC, word LIMIT 1000))
        |SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_words,
        |  CAST(SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE length(w.word) END) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM w LEFT JOIN v ON w.word = v.word
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_lm_nll" -> LmNllSql,
    "mix_doremi_step" ->
      s"""WITH lm AS ($LmNllSql),
         |ps AS (
         |  SELECT d.source, CAST(COUNT(1) AS BIGINT) AS n_docs,
         |    CAST(COALESCE(SUM(d.n_chars), 0) AS BIGINT) AS sum_chars,
         |    round(CAST(SUM(CAST(lm.nll AS DECIMAL(20,6))) AS DOUBLE)
         |      / COUNT(1), 6) AS mean_nll
         |  FROM lm JOIN documents d ON lm.doc_id = d.doc_id
         |  GROUP BY d.source),
         |t AS (SELECT CAST(SUM(sum_chars) AS BIGINT) AS tot,
         |             MIN(mean_nll) AS mn FROM ps),
         |u AS (
         |  SELECT source, n_docs, mean_nll,
         |    round(mean_nll - mn, 6) AS excess_nll,
         |    round(CAST(sum_chars AS DOUBLE) / CAST(tot AS DOUBLE), 6)
         |      AS base_share
         |  FROM ps CROSS JOIN t),
         |w AS (
         |  SELECT source, n_docs, mean_nll, excess_nll, base_share,
         |    CAST(round(base_share * exp($DoremiEta * excess_nll), 8)
         |      AS DECIMAL(30,8)) AS w8
         |  FROM u)
         |SELECT source, n_docs, mean_nll, excess_nll, base_share,
         |  round(CAST(w8 AS DOUBLE)
         |    / CAST((SELECT SUM(w8) FROM w) AS DOUBLE), 6) AS doremi_weight
         |FROM w ORDER BY source""".stripMargin,
    "corpus_ccnet_buckets" ->
      s"""WITH lm AS ($LmNllSql),
         |j AS (
         |  SELECT lm.doc_id, lm.nll, coalesce(d.lang, '') AS lang, d.n_chars
         |  FROM lm JOIN documents d ON lm.doc_id = d.doc_id),
         |b AS (
         |  SELECT lang, n_chars, nll,
         |    CAST(ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id)
         |      AS BIGINT) AS bucket
         |  FROM j)
         |SELECT lang, bucket, CAST(COUNT(1) AS BIGINT) AS n_docs,
         |  CAST(coalesce(SUM(n_chars), 0) AS BIGINT) AS sum_chars,
         |  round(CAST(SUM(CAST(nll AS DECIMAL(30,8))) AS DOUBLE) / COUNT(1), 6)
         |    AS mean_nll
         |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "eval_langid_prf" ->
      """WITH t0 AS (
        |  SELECT lang, list_filter(string_split(text, ' '), w -> w <> '') AS w
        |  FROM documents),
        |conf AS (
        |  SELECT CASE WHEN lang = 'en' THEN 'en_like' ELSE 'other' END AS truth,
        |    CASE WHEN len(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE / len(w)::DOUBLE >= 0.1
        |      THEN 'en_like' ELSE 'other' END AS predicted
        |  FROM t0),
        |t AS (SELECT truth AS cls, CAST(COUNT(1) AS BIGINT) AS n_true,
        |        CAST(SUM(CASE WHEN predicted = truth THEN 1 ELSE 0 END)
        |          AS BIGINT) AS tp
        |      FROM conf GROUP BY 1),
        |p AS (SELECT predicted AS cls, CAST(COUNT(1) AS BIGINT) AS n_pred
        |      FROM conf GROUP BY 1)
        |SELECT coalesce(t.cls, p.cls) AS cls,
        |  CAST(coalesce(n_true, 0) AS BIGINT) AS n_true,
        |  CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
        |  CAST(coalesce(tp, 0) AS BIGINT) AS tp,
        |  CASE WHEN coalesce(n_pred, 0) > 0
        |    THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_pred, 6) END AS precision,
        |  CASE WHEN coalesce(n_true, 0) > 0
        |    THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_true, 6) END AS recall,
        |  CASE WHEN coalesce(n_true, 0) + coalesce(n_pred, 0) > 0
        |    THEN round(2.0 * coalesce(tp, 0)
        |      / (coalesce(n_true, 0) + coalesce(n_pred, 0)), 6) END AS f1
        |FROM t FULL OUTER JOIN p ON t.cls = p.cls
        |ORDER BY cls""".stripMargin,
    "sample_quality_weighted" ->
      s"""WITH f AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS sym_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source,
        |    CAST((CASE WHEN n_words >= 50 THEN 1 ELSE 0 END)
        |      + (CASE WHEN 3 * n_words <= word_chars AND word_chars <= 10 * n_words THEN 1 ELSE 0 END)
        |      + (CASE WHEN 10 * sym_chars <= n_chars THEN 1 ELSE 0 END)
        |      + (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN 5 * digit_chars <= n_chars THEN 1 ELSE 0 END) AS BIGINT) AS quality_w
        |  FROM f)
        |SELECT doc_id, source, quality_w FROM w
        |WHERE ${Curation.duckMd5Mod100("doc_id")} < quality_w * 20
        |ORDER BY doc_id""".stripMargin,
    "text_script_ratio" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_cjk,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
        |  FROM documents)
        |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_digit,
        |  CASE WHEN n_chars > 0 THEN round(n_latin / n_chars, 6) END AS latin_ratio,
        |  CASE WHEN n_chars > 0 THEN round(n_cyrillic / n_chars, 6) END AS cyrillic_ratio,
        |  CASE WHEN n_chars > 0 THEN round(n_cjk / n_chars, 6) END AS cjk_ratio,
        |  CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_cjk = 0 THEN 'none'
        |    WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk THEN 'latin'
        |    WHEN n_cyrillic >= n_cjk THEN 'cyrillic'
        |    ELSE 'cjk' END AS dominant_script
        |FROM f ORDER BY doc_id""".stripMargin,
    "text_rarity_score" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(1) AS tf FROM tok GROUP BY 1, 2),
        |corpus AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |per_doc AS (
        |  SELECT doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN cnt <= 2 THEN tf.tf ELSE 0 END) AS BIGINT) AS n_rare,
        |    CAST(SUM(CAST(tf.tf * round(CAST(1.0 AS DOUBLE) / cnt, 6) AS DECIMAL(30,8))) AS DOUBLE) AS sinv
        |  FROM tf JOIN corpus USING (token) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(n_tokens, 0) AS n_tokens, COALESCE(n_rare, 0) AS n_rare,
        |  round(n_rare / n_tokens, 6) AS rare_frac,
        |  round(sinv / n_tokens, 6) AS mean_inv_freq
        |FROM documents d LEFT JOIN per_doc USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "filter_gopher_rules" ->
      """WITH f AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
        |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS sym_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop
        |  FROM documents),
        |p AS (
        |  SELECT source,
        |    n_words >= 50 AS p_wc,
        |    3 * n_words <= word_chars AND word_chars <= 10 * n_words AS p_wlen,
        |    10 * sym_chars <= n_chars AS p_sym,
        |    n_stop >= 2 AS p_stop,
        |    5 * digit_chars <= n_chars AS p_digit
        |  FROM f)
        |SELECT source, COUNT(1) AS n_docs,
        |  CAST(SUM(CASE WHEN p_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_wordcount,
        |  CAST(SUM(CASE WHEN p_wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_wordlen,
        |  CAST(SUM(CASE WHEN p_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_symbol,
        |  CAST(SUM(CASE WHEN p_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_stopword,
        |  CAST(SUM(CASE WHEN p_digit THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_digit,
        |  CAST(SUM(CASE WHEN p_wc AND p_wlen AND p_sym AND p_stop AND p_digit
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        |FROM p GROUP BY source ORDER BY source""".stripMargin,
    "text_pack_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tok,
         |    SUM(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT CAST((cum - n_tok) // $ChunkTokens AS BIGINT) AS chunk_id,
         |  COUNT(1) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens,
         |  MIN(doc_id) AS first_doc,
         |  MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_ngram_counts" ->
      s"""WITH t AS (
         |  SELECT list_filter(string_split(text, ' '), w -> w <> '') AS words
         |  FROM documents),
         |b AS (
         |  SELECT unnest(list_transform(generate_series(1, len(words) - 1),
         |    i -> words[i] || ' ' || words[i + 1])) AS ngram
         |  FROM t WHERE len(words) >= 2)
         |SELECT ngram, COUNT(1) AS n FROM b
         |GROUP BY ngram ORDER BY n DESC, ngram LIMIT $TopNgrams""".stripMargin,
    "text_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        |  CAST(length(regexp_replace(regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g')) AS BIGINT) AS scrubbed_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS nw,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, GREATEST(nw - 2, 1) AS n_shingles,
        |    CAST(len(list_distinct(list_transform(generate_series(1, CAST(nw AS INT) - 2),
        |      i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]))) AS BIGINT) AS n_distinct
        |  FROM t WHERE nw >= 3)
        |SELECT doc_id, n_shingles, n_distinct,
        |  (n_shingles - n_distinct)::DOUBLE / n_shingles::DOUBLE AS dup_frac
        |FROM sh ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  len(list_distinct(w))::DOUBLE / len(w)::DOUBLE AS distinct_ratio,
        |  len(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE / len(w)::DOUBLE AS stopword_ratio,
        |  CASE
        |    WHEN len(w) >= 12 AND len(list_distinct(w))::DOUBLE / len(w)::DOUBLE >= 0.6 THEN 'high'
        |    WHEN len(w) >= 6 THEN 'medium'
        |    ELSE 'low' END AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH t AS (
        |  SELECT lang, list_filter(string_split(text, ' '), w -> w <> '') AS w
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN len(list_filter(w, x -> x IN ('the', 'a')))::DOUBLE / len(w)::DOUBLE >= 0.1
        |      THEN 'en_like' ELSE 'other' END AS predicted
        |  FROM t)
        |SELECT lang, predicted, COUNT(1) AS n
        |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_fp,
        |  md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS bow_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_winnow_fp" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, length(text) - 7),
        |      i -> (CAST(ord(text[i]) AS BIGINT) * 27512614111
        |          + CAST(ord(text[i+1]) AS BIGINT) * 887503681
        |          + CAST(ord(text[i+2]) AS BIGINT) * 28629151
        |          + CAST(ord(text[i+3]) AS BIGINT) * 923521
        |          + CAST(ord(text[i+4]) AS BIGINT) * 29791
        |          + CAST(ord(text[i+5]) AS BIGINT) * 961
        |          + CAST(ord(text[i+6]) AS BIGINT) * 31
        |          + CAST(ord(text[i+7]) AS BIGINT)) % 4294967296) AS gh
        |  FROM documents WHERE length(text) >= 11),
        |sel AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(generate_series(1, len(gh) - 3),
        |      j -> list_min(gh[j:j+3]))) AS fps
        |  FROM g)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
        |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
        |FROM sel ORDER BY doc_id""".stripMargin,
    "bpe_train_merges" -> bpeTrainSql,
    "bpe_compression_curve" -> bpeCurveSql,
    "text_lm_heldout_ppl" -> textLmHeldoutSql,
    "text_lm_kneser_ney" -> textLmKneserNeySql,
    "text_rake_keywords" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |tok AS (
         |  SELECT doc_id, pos, ws[pos] AS w,
         |    (ws[pos] IN (${RakeStop.map(w => s"'$w'").mkString(", ")}))
         |      AS is_stop
         |  FROM (SELECT doc_id, ws,
         |          CAST(unnest(generate_series(1, len(ws))) AS BIGINT) AS pos
         |        FROM t)),
         |g AS (
         |  SELECT doc_id, pos, w, is_stop,
         |    CAST(SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS grp
         |  FROM tok),
         |nz AS (SELECT doc_id, grp, pos, w FROM g WHERE NOT is_stop),
         |pl AS (
         |  SELECT doc_id, grp, CAST(COUNT(1) AS BIGINT) AS len,
         |    string_agg(w, ' ' ORDER BY pos) AS phrase
         |  FROM nz GROUP BY 1, 2 HAVING COUNT(1) <= $RakeMaxLen),
         |tk AS (
         |  SELECT nz.doc_id, nz.grp, nz.w, pl.len
         |  FROM nz JOIN pl USING (doc_id, grp)),
         |ws2 AS (
         |  SELECT w, CAST(round(CAST(SUM(len) AS DOUBLE)
         |    / CAST(COUNT(1) AS DOUBLE), 8) AS DECIMAL(20,8)) AS wscore
         |  FROM tk GROUP BY w),
         |ps AS (
         |  SELECT tk.doc_id, tk.grp, SUM(ws2.wscore) AS pscore
         |  FROM tk JOIN ws2 USING (w) GROUP BY 1, 2)
         |SELECT pl.phrase, CAST(COUNT(1) AS BIGINT) AS n_occ,
         |  round(CAST(MAX(ps.pscore) AS DOUBLE), 6) AS score
         |FROM pl JOIN ps USING (doc_id, grp)
         |GROUP BY pl.phrase
         |ORDER BY score DESC, phrase LIMIT $RakeTopK""".stripMargin,
    "text_yules_k" ->
      """WITH w AS (
        |  SELECT source,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT source, word, CAST(COUNT(1) AS BIGINT) AS c
        |       FROM w GROUP BY 1, 2),
        |g AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS n_types,
        |        CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        SUM(CAST(c AS DECIMAL(38,0)) * c) AS s2
        |      FROM tf GROUP BY 1)
        |SELECT source, n_tokens, n_types,
        |  round(CASE WHEN n_tokens > 0 THEN
        |    10000.0 * (CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
        |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) END, 6)
        |    AS yules_k
        |FROM g ORDER BY source""".stripMargin,
    "text_mattr" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
        |    CASE WHEN len(ws) >= 25 THEN
        |      CAST(list_sum(list_transform(generate_series(1, len(ws) - 24),
        |        i -> len(list_distinct(ws[i:i+24])))) AS BIGINT) END AS wsum
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CASE WHEN n_tokens > 0 THEN
        |    round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    END AS ttr,
        |  CASE WHEN n_tokens >= 25 THEN
        |    round(CAST(wsum AS DOUBLE)
        |      / (25.0 * CAST(n_tokens - 24 AS DOUBLE)), 6) END AS mattr
        |FROM m ORDER BY doc_id""".stripMargin,

    "bpe_pair_counts" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |  FROM documents),
        |v AS (SELECT word, COUNT(1) AS freq FROM w GROUP BY word),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, length(word) - 1),
        |    i -> word[i:i+1])) AS pair, freq
        |  FROM v WHERE length(word) >= 2)
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 40""".stripMargin,
    "text_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok, unnest(generate_series(0, n_tok - 1, 24)) AS start_tok
        |  FROM t WHERE n_tok > 0)
        |SELECT doc_id, start_tok // 24 AS chunk_idx, start_tok,
        |  least(32, n_tok - start_tok) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "pack_padding_waste" ->
      """WITH t AS (
        |  SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT ((n_tok + 63) // 64) * 64 AS bucket, COUNT(1) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS real_tokens
        |  FROM t WHERE n_tok > 0 GROUP BY 1)
        |SELECT bucket, n_docs, real_tokens,
        |  bucket * n_docs AS padded_tokens,
        |  round((bucket * n_docs - real_tokens)::DOUBLE / (bucket * n_docs), 6) AS waste_frac
        |FROM b ORDER BY bucket""".stripMargin,
    "dedup_winnow_overlap" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, length(text) - 7),
        |      i -> (CAST(ord(text[i]) AS BIGINT) * 27512614111
        |          + CAST(ord(text[i+1]) AS BIGINT) * 887503681
        |          + CAST(ord(text[i+2]) AS BIGINT) * 28629151
        |          + CAST(ord(text[i+3]) AS BIGINT) * 923521
        |          + CAST(ord(text[i+4]) AS BIGINT) * 29791
        |          + CAST(ord(text[i+5]) AS BIGINT) * 961
        |          + CAST(ord(text[i+6]) AS BIGINT) * 31
        |          + CAST(ord(text[i+7]) AS BIGINT)) % 4294967296) AS gh
        |  FROM documents WHERE length(text) >= 11),
        |sel AS (
        |  SELECT doc_id, list_distinct(
        |    list_transform(generate_series(1, len(gh) - 3),
        |      j -> list_min(gh[j:j+3]))) AS fps
        |  FROM g),
        |x AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
        |df AS (SELECT fp, COUNT(1) AS dfreq FROM x GROUP BY fp),
        |xf AS (SELECT x.doc_id, x.fp FROM x JOIN df USING (fp) WHERE dfreq <= 50),
        |nf AS (SELECT doc_id, COUNT(1) AS n_fp FROM xf GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(1) AS n_shared
        |  FROM xf a JOIN xf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT da, db, n_shared, x.n_fp AS n_fp_a, y.n_fp AS n_fp_b,
        |    round(n_shared::DOUBLE / least(x.n_fp, y.n_fp), 6) AS containment
        |  FROM pairs JOIN nf x ON x.doc_id = da JOIN nf y ON y.doc_id = db
        |  WHERE n_shared >= 10)
        |SELECT da, db, n_shared, n_fp_a, n_fp_b, containment
        |FROM scored WHERE containment >= 0.8 ORDER BY da, db""".stripMargin,
    "dedup_bow_fp" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS bow_fp
        |  FROM documents)
        |SELECT bow_fp, min(doc_id) AS keeper, COUNT(1) AS n_copies
        |FROM fp GROUP BY bow_fp HAVING COUNT(1) > 1
        |ORDER BY bow_fp""".stripMargin)
}
