package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Tables._

/**
 * Retrieval-scoring operators for the training-data pipeline (builder
 * brief §text-analysis): the ranking primitives a corpus team runs to
 * pull topical slices out of a web-scale crawl (RETRO/REALM-style
 * retrieval curation, "find the docs most about X" sampling). Complements
 * [[Corpus.textTfidfTopk]]'s corpus-level term statistics with
 * document-level relevance ranking.
 */
object Retrieval {

  private def docs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")

  // ---------------------------------------------------------------------
  // BM25 top-K retrieval — text_bm25_topk
  // ---------------------------------------------------------------------

  /** BM25 free parameters (the Robertson/Lucene defaults). Spelled as the
    * exact double literals the oracle uses: k1+1 = 2.2, 1−b = 0.25. */
  private val Bm25K1 = 1.2
  private val Bm25K1Plus1 = 2.2
  private val Bm25OneMinusB = 0.25
  private val Bm25B = 0.75

  /** The fixed query — driver-constant model input, like the ANN anchor
    * vectors: a retrieval curation job scores the corpus against a term
    * set chosen offline. */
  private[queries] val Bm25Query = Seq("vector", "hash", "stream", "the")

  private val Bm25TopK = 50

  /**
   * BM25 top-K document retrieval (Robertson et al., the Okapi/Lucene
   * scoring function): every document is scored against the fixed query
   * term set with
   * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` where
   * `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`, and the K best documents
   * come back — the standard "pull the most-relevant slice" curation scan.
   *
   * Scale shape: the explode filters to the query terms BEFORE any
   * shuffle (per-row `isin` over the scan — the relation entering the
   * (doc, term) aggregate is |docs|·|Q| at most, not |tokens|); document
   * frequencies collapse to ≤|Q| rows and broadcast back; the corpus
   * size / average length are metadata-sized driver scalars (the AQE
   * statistics round-trip convention, same as [[Corpus.textTfidfTopk]]'s
   * N); the final top-K is a TakeOrderedAndProject, never a global sort.
   *
   * Determinism: idf and the saturation term are fixed IEEE op sequences
   * spelled identically in the oracle (explicit parenthesization — float
   * multiply/divide are not associative); each per-term score rounds to
   * 6 dp and sums as exact DECIMAL so partial-agg order can't flip low
   * bits; ties on the rounded score break by doc_id.
   */
  def textBm25Topk(s: SparkSession, dir: String): DataFrame =
    bm25Scored(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)

  /** The BM25-scored relation (doc_id, n_tokens, n_q_terms, score) before
    * the top-K cut — shared by [[textBm25Topk]] and the RRF fusion. */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    // corpus scalars: doc count + total token mass (exact longs; avgdl is
    // ONE double division — the identical IEEE op the oracle runs)
    val row = base.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).first()
    val nDocs = row.getLong(0)
    val avgdl = if (nDocs > 0) row.getLong(1).toDouble / nDocs.toDouble else 1.0
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val tfD = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val sat = (tfD * lit(Bm25K1Plus1)) /
      (tfD + lit(Bm25K1) *
        (lit(Bm25OneMinusB) + lit(Bm25B) * (col("dl").cast("double") / lit(avgdl))))
    tf.join(broadcast(dfRel), Seq("term"))
      .select(col("doc_id"), col("dl"),
        round(idf * sat, 6).cast(DecimalType(20, 6)).as("ts"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_q_terms"), sum(col("ts")).cast("double").as("score"))
      .select(col("doc_id"), col("dl").as("n_tokens"), col("n_q_terms"), col("score"))
  }

  // ---------------------------------------------------------------------
  // Reciprocal-rank fusion — retrieval_rrf_fusion
  // ---------------------------------------------------------------------

  /** The RRF smoothing constant (Cormack/Clarke/Buettcher 2009's k=60). */
  private val RrfK = 60L

  private val RrfTopK = 20

  /**
   * Reciprocal-rank fusion of a lexical and a semantic retrieval list
   * (Cormack et al. 2009 — the fusion rule hybrid-search curation uses
   * because it needs no score calibration between rankers): the BM25
   * top-[[Bm25TopK]] (the [[textBm25Topk]] list) fuses with the
   * embedding-cosine top-[[Bm25TopK]] against the topic-centroid anchor
   * (vector 0 — a driver-constant model parameter, the
   * [[Similarity]] anchor convention; `vec_id` is the document's
   * embedding id, so the two lists key on the same corpus), each document
   * scoring Σ 1/([[RrfK]] + rank) over the lists it appears in. The
   * fused top-[[RrfTopK]] comes back with both component ranks.
   *
   * Scale shape: each component list is already a top-K
   * (TakeOrderedAndProject over its own linear scan — the rank windows
   * run over the ≤K POST-LIMIT survivors, deliberate single-group
   * [[Tables.zeroPart]] windows); the fusion is a full-outer equi-join of
   * two K-row relations — metadata-sized no matter the corpus.
   * Determinism: component ranks are integers (BM25 scores pre-rounded
   * to 6 dp by construction; cosines rounded to 6 dp before ranking,
   * ties on id); the RRF sum is two exact double divisions added in one
   * fixed order, rounded to 6 dp.
   */
  def retrievalRrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bmRank = Window.partitionBy(zeroPart(col("doc_id")))
      .orderBy(col("score").desc, col("doc_id"))
    val bm = bm25Scored(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
      .withColumn("bm25_rank", row_number().over(bmRank).cast("long"))
      .select(col("doc_id"), col("bm25_rank"))
    val anchors = Similarity.anchorVecsOf(load(s, dir, "embeddings"))
    val a0 = anchors.headOption.getOrElse(Array.empty[Double])
    val cosRank = Window.partitionBy(zeroPart(col("doc_id")))
      .orderBy(col("sim").desc, col("doc_id"))
    val cos = load(s, dir, "embeddings")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull &&
        Similarity.noModel(anchors))
      .select(col("vec_id").as("doc_id"),
        round(Similarity.cosine(Similarity.dArr(col("embedding")),
          typedLit(a0)), 6).as("sim"))
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(Bm25TopK)
      .withColumn("cos_rank", row_number().over(cosRank).cast("long"))
      .select(col("doc_id"), col("cos_rank"))
    val rrf = round(
      coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("bm25_rank").cast("double")),
        lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("cos_rank").cast("double")),
          lit(0.0)), 6)
    bm.join(cos, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"), rrf.as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(RrfTopK)
  }

  // ---------------------------------------------------------------------
  // Rank-biased overlap — retrieval_rbo
  // ---------------------------------------------------------------------

  /** RBO persistence (Webber/Moffat/Zobel 2010's p = 0.9: the evaluator's
    * attention decays geometrically down the ranking). */
  private val RboP = 0.9
  /** Evaluation depth. */
  private val RboK = 20

  /** Geometric depth weights w_d = (1−p)·p^(d−1), computed ONCE driver-
    * side by repeated multiplication and embedded as the same literals in
    * both engines — pow()'s last ulp is libm-defined and NOT portable. */
  private val rboWeights: Seq[Double] = {
    var w = 1.0 - RboP
    (1 to RboK).map { _ => val cur = w; w = w * RboP; cur }
  }
  /** Residual weight mass past depth K: p^K, same repeated-multiply. */
  private val rboResidual: Double =
    (1 to RboK).foldLeft(1.0)((acc, _) => acc * RboP)

  /**
   * Rank-biased overlap between the lexical and the semantic retrieval
   * lists (Webber et al. 2010) — the companion diagnostic to
   * [[retrievalRrfFusion]]: RRF tells you what the fused list IS; RBO
   * tells you how much the two rankers AGREE (top-weighted, so swapping
   * tail results matters less than swapping the first page). Reported as
   * the truncated lower bound RBO@[[RboK]] = Σ_{d≤K} w_d·(X_d/d) with
   * X_d = |A_{1..d} ∩ B_{1..d}|, plus the unassigned residual mass p^K —
   * the standard prefix-evaluation pair.
   *
   * Scale shape: both component lists are the TakeOrderedAndProject
   * top-Ks [[retrievalRrfFusion]] builds; a shared doc enters the
   * overlap at depth max(rank_A, rank_B), so X_d comes from ONE explode
   * of ≤K depths per shared doc + a ≤K-group count — equi-joins only,
   * no inequality join. Determinism: ranks are integer, weights are
   * pinned literals; per-depth terms round to 8-dp DECIMAL before the
   * order-free sum, final 6-dp round.
   */
  def retrievalRbo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bmRank = Window.partitionBy(zeroPart(col("doc_id")))
      .orderBy(col("score").desc, col("doc_id"))
    val bm = bm25Scored(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
      .withColumn("bm25_rank", row_number().over(bmRank).cast("long"))
      .select(col("doc_id"), col("bm25_rank"))
    val anchors = Similarity.anchorVecsOf(load(s, dir, "embeddings"))
    val a0 = anchors.headOption.getOrElse(Array.empty[Double])
    val cosRank = Window.partitionBy(zeroPart(col("doc_id")))
      .orderBy(col("sim").desc, col("doc_id"))
    val cos = load(s, dir, "embeddings")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull &&
        Similarity.noModel(anchors))
      .select(col("vec_id").as("doc_id"),
        round(Similarity.cosine(Similarity.dArr(col("embedding")),
          typedLit(a0)), 6).as("sim"))
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(Bm25TopK)
      .withColumn("cos_rank", row_number().over(cosRank).cast("long"))
      .select(col("doc_id"), col("cos_rank"))
    val xd = bm.join(cos, Seq("doc_id"))
      .select(greatest(col("bm25_rank"), col("cos_rank")).as("entry"))
      .filter(col("entry") <= RboK.toLong)
      .select(explode(sequence(col("entry"), lit(RboK.toLong))).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("x"))
    val wds = rboWeights.zipWithIndex
      .map { case (w, i) => ((i + 1).toLong, w) }
    val spine = s.createDataFrame(wds).toDF("d", "wd")
    val dec8 = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 8)
    val term = round(col("wd") *
      (col("x").cast("double") / col("d").cast("double")), 8).cast(dec8)
    broadcast(spine).join(xd, Seq("d"), "left")
      .select(col("d"), coalesce(col("x"), lit(0L)).as("x"), col("wd"))
      .agg(
        max(when(col("d") === RboK.toLong, col("x"))).as("x_k"),
        sum(term).as("sdec"))
      .select(lit(RboK.toLong).as("k"), col("x_k"),
        round(col("x_k").cast("double") / lit(RboK.toDouble), 6)
          .as("agreement_k"),
        round(col("sdec").cast("double"), 6).as("rbo_lb"),
        lit(rboResidual).as("residual_mass"))
  }

  // ---------------------------------------------------------------------
  // Maximal Marginal Relevance diversification — retrieval_mmr_diversify
  // ---------------------------------------------------------------------

  /** MMR trade-off λ (Carbonell & Goldstein 1998) — spelled with its
    * complement so both engines run the exact same literals. */
  private val MmrLambda = 0.7
  private val MmrOneMinusL = 0.3
  private val MmrShortlist = 20
  private val MmrK = 10

  /**
   * MMR result diversification (Carbonell & Goldstein 1998): re-rank the
   * cosine top-[[MmrShortlist]] so each successive pick maximizes
   * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — relevance minus redundancy
   * against everything already selected. The dedup-aware "pick the K
   * most relevant AND mutually distinct exemplars" selection a curation
   * team runs when sampling demonstration documents per topic.
   *
   * Scale shape: the DISTRIBUTED part is the shortlist scan (linear
   * cosine + TakeOrderedAndProject, the [[retrievalRrfFusion]]
   * component); the greedy loop is inherently sequential in K and runs
   * on the driver over the collected ≤[[MmrShortlist]]-row shortlist —
   * model-parameter-sized by construction (the BPE-argmax convention),
   * NEVER a corpus collect. Determinism: shortlist relevances and all
   * pairwise sims round at 6 dp before selection; each step's score is
   * `round(λ·rel − (1−λ)·maxsim, 6)` with ties to the smaller id; the
   * oracle replays the identical greedy chain as one CTE per pick.
   */
  def retrievalMmrDiversify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val anchors = Similarity.anchorVecsOf(load(s, dir, "embeddings"))
    val a0 = anchors.headOption.getOrElse(Array.empty[Double])
    val shortRows = load(s, dir, "embeddings")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull &&
        Similarity.noModel(anchors))
      .select(col("vec_id").as("doc_id"),
        round(Similarity.cosine(Similarity.dArr(col("embedding")),
          typedLit(a0)), 6).as("rel"),
        Similarity.dArr(col("embedding")).as("v"))
      .filter(col("rel").isNotNull)
      .orderBy(col("rel").desc, col("doc_id"))
      .limit(MmrShortlist)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
    def rnd6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // pairwise candidate sims, index-ordered dots, 6-dp rounded — the
    // same op sequence the oracle's pd/p CTEs run
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      rnd6(ab / (math.sqrt(aa) * math.sqrt(bb))) // shortlist norms are > 0
    }
    val sims = scala.collection.mutable.Map.empty[(Long, Long), Double]
    for ((ia, _, va) <- shortRows; (ib, _, vb) <- shortRows if ia != ib)
      sims((ia, ib)) = cos(va, vb)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
    var remaining = shortRows.map { case (id, rel, _) => (id, rel) }.toList
    while (remaining.nonEmpty && selected.size < MmrK) {
      val scored = remaining.map { case (id, rel) =>
        val ms = if (selected.isEmpty) 0.0
          else selected.map { case (_, sid, _, _) => sims((id, sid)) }.max
        (id, rel, rnd6(MmrLambda * rel - MmrOneMinusL * ms))
      }
      val (pid, prel, pscore) = scored.minBy { case (id, _, sc) => (-sc, id) }
      selected += ((selected.size + 1L, pid, prel, pscore))
      remaining = remaining.filterNot(_._1 == pid)
    }
    selected.toSeq.toDF("mmr_rank", "doc_id", "rel", "score")
  }

  /** One MMR greedy pick as a DuckDB CTE triple (the chained-CTE oracle
    * recipe: score remaining → pick argmax → extend the selected set). */
  private def mmrStageSql(i: Int): String = {
    val prev = s"sel${i - 1}"
    s"""s$i AS (
       |  SELECT c.doc_id, c.rel,
       |    round($MmrLambda * c.rel - $MmrOneMinusL * max(p.sim), 6) AS score
       |  FROM short c JOIN p ON p.ia = c.doc_id
       |    AND p.ib IN (SELECT doc_id FROM $prev)
       |  WHERE c.doc_id NOT IN (SELECT doc_id FROM $prev)
       |  GROUP BY c.doc_id, c.rel),
       |pick$i AS MATERIALIZED (SELECT doc_id, rel, score FROM s$i
       |           ORDER BY score DESC, doc_id LIMIT 1),
       |sel$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL
       |          SELECT CAST($i AS BIGINT), doc_id, rel, score FROM pick$i)"""
      .stripMargin
  }

  // ---------------------------------------------------------------------
  // nDCG@K retrieval-quality evaluation — retrieval_ndcg
  // ---------------------------------------------------------------------

  private val NdcgK = 10

  /** Rank discounts 1/log2(i+1), 8-dp HALF_UP — ONE Scala value renders
    * into both the Spark literals and the oracle SQL (the JL-projection
    * convention), so the two engines can't disagree on the table. */
  private[queries] val NdcgDisc: IndexedSeq[BigDecimal] =
    (1 to NdcgK).map(i =>
      BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP))

  /** Ideal-DCG prefix sums: a query with r relevant candidates has
    * IDCG = NdcgCum(min(K, r)) — exact sums of the rounded discounts
    * (index 0 = 0, the no-relevant-docs case). */
  private[queries] val NdcgCum: IndexedSeq[BigDecimal] =
    NdcgDisc.scanLeft(BigDecimal(0))(_ + _)

  /**
   * nDCG@[[NdcgK]] retrieval-quality evaluation (Järvelin & Kekäläinen
   * 2002) — the embedding-eval governance number next to
   * `sim_knn_accuracy`'s label agreement: each labeled anchor (vec_id
   * < 8) retrieves its cosine top-K from the candidate corpus; a
   * candidate is relevant iff it carries the anchor's label; DCG
   * discounts hits by rank and normalizes by the ideal ordering of ALL
   * relevant candidates (capped at K), so a collapsed encoder that
   * buries same-class neighbors scores visibly below 1 while a perfect
   * one pins it.
   *
   * Scale shape: anchors and their labels are driver-constant model
   * parameters; relevance fan-out is a generator over the candidate scan
   * (one exploded literal array — no join); per-anchor top-K is a window
   * over the ≤|anchors|-way fan; `n_rel` comes from a ≤|labels|-row
   * per-label count joined to the 8-row panel (never a second corpus
   * pass over pairs). Determinism: sims round at 6 dp before ranking;
   * DCG terms are exact 8-dp DECIMALs from [[NdcgDisc]] summed exactly;
   * IDCG is a literal from [[NdcgCum]] (rendered into both engines
   * via `Double.toString`); nDCG is ONE division rounded at 6 dp.
   */
  def retrievalNdcg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = load(s, dir, "embeddings").filter(col("embedding").isNotNull)
    // the labeled query panel — model parameters (anchor convention)
    val qs: Seq[(Long, Array[Double], Int)] = e
      .filter(col("vec_id") < 8 && col("label").isNotNull)
      .select(col("vec_id"), Similarity.dArr(col("embedding")), col("label"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2))).toSeq
    if (qs.isEmpty) {
      return e.select(col("vec_id").as("qid"), lit(0L).as("n_rel"),
        lit(0.0).as("dcg"), lit(0.0).as("idcg"),
        lit(null).cast("double").as("ndcg")).limit(0)
    }
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id"), Similarity.dArr(col("embedding")).as("v"), col("label"))
    val fan = cands
      .withColumn("q", explode(typedLit(qs.map { case (q, _, l) => (q, l) })))
      .select(col("vec_id"), col("label"), col("v"),
        col("q._1").as("qid"), col("q._2").as("qlabel"))
    val sim = coalesce(qs.map { case (q, v0, _) =>
      when(col("qid") === q, Similarity.cosine(col("v"), typedLit(v0)))
    }: _*)
    val rankW = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    val discC = coalesce(NdcgDisc.zipWithIndex.map { case (d, i) =>
      when(col("rank") === (i + 1), lit(d.underlying))
    }: _*)
    val dcg = fan
      .withColumn("sim", round(sim, 6))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= NdcgK)
      .groupBy(col("qid"))
      .agg(sum(when(col("label") === col("qlabel"), discC)
        .otherwise(lit(java.math.BigDecimal.ZERO))).as("dcgd"))
    // n_rel: per-label candidate counts (≤|labels| rows) mapped onto the
    // 8-row panel — relevant-but-unretrievable (zero-norm) docs COUNT
    // against the ideal, which is the honest recall denominator
    val labCnt = cands.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
    val panel = s.createDataFrame(qs.map { case (q, _, l) => (q, l) })
      .toDF("qid", "qlabel")
    val idcgC = coalesce((0 to NdcgK).map { j =>
      when(least(lit(NdcgK.toLong), col("n_rel")) === j, lit(NdcgCum(j).toDouble))
    }: _*)
    panel
      .join(labCnt, col("qlabel") === col("label"), "left_outer")
      .select(col("qid"), coalesce(col("cnt"), lit(0L)).as("n_rel"))
      .join(dcg, Seq("qid"), "left_outer")
      .withColumn("dcg", coalesce(col("dcgd").cast("double"), lit(0.0)) + lit(0.0))
      .withColumn("idcg", idcgC)
      .select(col("qid"), col("n_rel"), col("dcg"), col("idcg"),
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 6) + lit(0.0))
          .as("ndcg"))
      .orderBy(col("qid"))
  }

  // ---------------------------------------------------------------------
  // Registration
  // ---------------------------------------------------------------------

  private val MrrK = 100L

  // ---------------------------------------------------------------------
  // retrieval_mrr — mean-reciprocal-rank panel over the embedding queries
  // ---------------------------------------------------------------------

  /**
   * MRR@[[MrrK]] / hit@k panel over the [[retrievalNdcg]] query set: for
   * each labeled query anchor (vec_id < 8), rank all candidates by
   * cosine, find the FIRST candidate sharing the query's label, and
   * report its rank, the reciprocal rank (0 when no relevant candidate
   * lands in the top [[MrrK]] — the MRR@K truncation convention), and
   * hit@1/5/10 flags. The first-answer-quality readout nDCG's graded sum
   * blurs: a RAG pipeline that only ever reads the top hit cares about
   * exactly this number.
   *
   * Determinism: cosines round to 6 dp BEFORE ranking (ties then break
   * on vec_id — the family convention), reciprocal ranks are exact
   * 1/rank divisions rounded once. Scale: the query panel is a ≤8-row
   * driver constant folded into a codegen'd `coalesce(when...)` — the
   * candidate stream fans out |panel|×, ranks inside per-qid window
   * partitions, and everything after the rank filter is
   * ≤|panel|·[[MrrK]] rows.
   */
  def retrievalMrr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = load(s, dir, "embeddings").filter(col("embedding").isNotNull)
    val qs: Seq[(Long, Array[Double], Int)] = e
      .filter(col("vec_id") < 8 && col("label").isNotNull)
      .select(col("vec_id"), Similarity.dArr(col("embedding")), col("label"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2))).toSeq
    if (qs.isEmpty) {
      return e.select(col("vec_id").as("qid"),
        lit(null).cast("long").as("first_rel_rank"), lit(0.0).as("rr"),
        lit(false).as("hit_at_1"), lit(false).as("hit_at_5"),
        lit(false).as("hit_at_10")).limit(0)
    }
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id"), Similarity.dArr(col("embedding")).as("v"),
        col("label"))
    val fan = cands
      .withColumn("q", explode(typedLit(qs.map { case (q, _, l) => (q, l) })))
      .select(col("vec_id"), col("label"), col("v"),
        col("q._1").as("qid"), col("q._2").as("qlabel"))
    val sim = coalesce(qs.map { case (q, v0, _) =>
      when(col("qid") === q, Similarity.cosine(col("v"), typedLit(v0)))
    }: _*)
    val rankW = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    val fr = fan
      .withColumn("sim", round(sim, 6))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= MrrK && col("label") === col("qlabel"))
      .groupBy(col("qid"))
      .agg(min(col("rank")).as("first_rel_rank"))
    val panel = s.createDataFrame(qs.map { case (q, _, l) => (q, l) })
      .toDF("qid", "qlabel")
    panel
      .join(fr, Seq("qid"), "left_outer")
      .select(col("qid"), col("first_rel_rank"),
        coalesce(round(lit(1.0d) / col("first_rel_rank").cast("double"), 6),
          lit(0.0)).as("rr"),
        coalesce(col("first_rel_rank") <= 1L, lit(false)).as("hit_at_1"),
        coalesce(col("first_rel_rank") <= 5L, lit(false)).as("hit_at_5"),
        coalesce(col("first_rel_rank") <= 10L, lit(false)).as("hit_at_10"))
      .orderBy(col("qid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "retrieval_mrr" -> (retrievalMrr _),
    "text_bm25_topk" -> (textBm25Topk _),
    "retrieval_rrf_fusion" -> (retrievalRrfFusion _),
    "retrieval_mmr_diversify" -> (retrievalMmrDiversify _),
    "retrieval_ndcg" -> (retrievalNdcg _),
    "retrieval_rbo" -> (retrievalRbo _))

  /** The (d, w_d) weight spine as DuckDB VALUES rows — the same driver-
    * computed literals the Spark side embeds (shortest-repr doubles
    * round-trip exactly through both parsers). */
  private def rboWeightsSql: String = rboWeights.zipWithIndex
    .map { case (w, i) => s"(CAST(${i + 1} AS BIGINT), CAST($w AS DOUBLE))" }
    .mkString(", ")

  val oracle: Map[String, String] = Map(
    "retrieval_mrr" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings
         |           WHERE embedding IS NOT NULL),
         |q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
         |      FROM e WHERE vec_id < 8 AND label IS NOT NULL),
         |m AS (SELECT vec_id, embedding, label FROM e WHERE vec_id >= 8),
         |cd AS (
         |  SELECT q.qid, q.qlabel, m.vec_id, m.label,
         |    SUM(m.embedding[i]::DOUBLE * q.qv[i]::DOUBLE) AS vc,
         |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |    SUM(q.qv[i]::DOUBLE * q.qv[i]::DOUBLE) AS aa
         |  FROM m, q, generate_series(1, 64) g(i)
         |  GROUP BY 1, 2, 3, 4),
         |cs AS (
         |  SELECT qid, qlabel, vec_id, label,
         |    round(CASE WHEN sqrt(vv) * sqrt(aa) > 0
         |      THEN vc / (sqrt(vv) * sqrt(aa)) END, 6) AS sim
         |  FROM cd),
         |rk AS (
         |  SELECT qid, qlabel, vec_id, label, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM cs WHERE sim IS NOT NULL),
         |fr AS (
         |  SELECT qid, CAST(MIN(rank) AS BIGINT) AS first_rel_rank
         |  FROM rk WHERE rank <= $MrrK AND label = qlabel GROUP BY 1)
         |SELECT q.qid, fr.first_rel_rank,
         |  COALESCE(round(1.0 / CAST(fr.first_rel_rank AS DOUBLE), 6), 0.0)
         |    AS rr,
         |  COALESCE(fr.first_rel_rank <= 1, FALSE) AS hit_at_1,
         |  COALESCE(fr.first_rel_rank <= 5, FALSE) AS hit_at_5,
         |  COALESCE(fr.first_rel_rank <= 10, FALSE) AS hit_at_10
         |FROM q LEFT JOIN fr USING (qid) ORDER BY qid""".stripMargin,
    "retrieval_rbo" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM t WHERE len(w) > 0),
         |c AS (
         |  SELECT CAST(COUNT(1) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS tot FROM b),
         |tf AS (
         |  SELECT doc_id, dl, term, CAST(COUNT(1) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM b)
         |  WHERE term IN (${Bm25Query.map(q => s"'$q'").mkString(", ")})
         |  GROUP BY doc_id, dl, term),
         |df AS (
         |  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tf GROUP BY term),
         |sc AS (
         |  SELECT doc_id, dl,
         |    round(
         |      ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |                 / (CAST(df AS DOUBLE) + 0.5))
         |      * ((CAST(tf AS DOUBLE) * $Bm25K1Plus1)
         |         / (CAST(tf AS DOUBLE) + $Bm25K1
         |            * ($Bm25OneMinusB + $Bm25B
         |               * (CAST(dl AS DOUBLE)
         |                  / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))))), 6) AS ts
         |  FROM tf JOIN df USING (term) CROSS JOIN c),
         |bmscore AS (
         |  SELECT doc_id, CAST(SUM(CAST(ts AS DECIMAL(20,6))) AS DOUBLE) AS score
         |  FROM sc GROUP BY doc_id, dl),
         |bmtop AS (
         |  SELECT doc_id, score FROM bmscore
         |  ORDER BY score DESC, doc_id LIMIT $Bm25TopK),
         |bmrank AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |    AS BIGINT) AS bm25_rank
         |  FROM bmtop),
         |e AS (SELECT vec_id, embedding FROM embeddings
         |      WHERE embedding IS NOT NULL),
         |anch AS (SELECT embedding AS av FROM e WHERE vec_id < 8
         |         ORDER BY vec_id LIMIT 1),
         |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
         |cd AS (
         |  SELECT m.vec_id,
         |    SUM(m.embedding[i]::DOUBLE * a.av[i]::DOUBLE) AS vc,
         |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |    SUM(a.av[i]::DOUBLE * a.av[i]::DOUBLE) AS aa
         |  FROM m, anch a, generate_series(1, 64) g(i)
         |  GROUP BY 1),
         |cs AS (
         |  SELECT vec_id AS doc_id,
         |    round(CASE WHEN sqrt(vv) * sqrt(aa) > 0
         |      THEN vc / (sqrt(vv) * sqrt(aa)) END, 6) AS sim
         |  FROM cd),
         |ctop AS (
         |  SELECT doc_id, sim FROM cs WHERE sim IS NOT NULL
         |  ORDER BY sim DESC, doc_id LIMIT $Bm25TopK),
         |crank AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
         |    AS BIGINT) AS cos_rank
         |  FROM ctop),
         |shared AS (
         |  SELECT GREATEST(bm.bm25_rank, cr.cos_rank) AS entry
         |  FROM bmrank bm JOIN crank cr USING (doc_id)
         |  WHERE GREATEST(bm.bm25_rank, cr.cos_rank) <= $RboK),
         |xd AS (
         |  SELECT d, CAST(COUNT(1) AS BIGINT) AS x
         |  FROM (SELECT CAST(unnest(generate_series(entry, CAST($RboK AS BIGINT)))
         |          AS BIGINT) AS d
         |        FROM shared)
         |  GROUP BY d),
         |w(d, wd) AS (VALUES $rboWeightsSql),
         |terms AS (
         |  SELECT w.d, COALESCE(xd.x, 0) AS x, w.wd
         |  FROM w LEFT JOIN xd USING (d))
         |SELECT CAST($RboK AS BIGINT) AS k,
         |  CAST(MAX(CASE WHEN d = $RboK THEN x END) AS BIGINT) AS x_k,
         |  round(CAST(MAX(CASE WHEN d = $RboK THEN x END) AS DOUBLE)
         |    / CAST($RboK AS DOUBLE), 6) AS agreement_k,
         |  round(CAST(SUM(CAST(round(wd * (CAST(x AS DOUBLE) / CAST(d AS DOUBLE)), 8)
         |    AS DECIMAL(20,8))) AS DOUBLE), 6) AS rbo_lb,
         |  CAST($rboResidual AS DOUBLE) AS residual_mass
         |FROM terms""".stripMargin,
    "retrieval_ndcg" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings
         |           WHERE embedding IS NOT NULL),
         |q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
         |      FROM e WHERE vec_id < 8 AND label IS NOT NULL),
         |m AS (SELECT vec_id, embedding, label FROM e WHERE vec_id >= 8),
         |cd AS (
         |  SELECT q.qid, q.qlabel, m.vec_id, m.label,
         |    SUM(m.embedding[i]::DOUBLE * q.qv[i]::DOUBLE) AS vc,
         |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |    SUM(q.qv[i]::DOUBLE * q.qv[i]::DOUBLE) AS aa
         |  FROM m, q, generate_series(1, 64) g(i)
         |  GROUP BY 1, 2, 3, 4),
         |cs AS (
         |  SELECT qid, qlabel, vec_id, label,
         |    round(CASE WHEN sqrt(vv) * sqrt(aa) > 0
         |      THEN vc / (sqrt(vv) * sqrt(aa)) END, 6) AS sim
         |  FROM cd),
         |rk AS (
         |  SELECT qid, qlabel, vec_id, label, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM cs WHERE sim IS NOT NULL),
         |top AS (SELECT * FROM rk WHERE rank <= $NdcgK),
         |disc AS (SELECT * FROM (VALUES ${NdcgDisc.zipWithIndex.map {
        case (d, i) => s"(CAST(${i + 1} AS BIGINT), CAST('$d' AS DECIMAL(18,8)))"
      }.mkString(", ")}) v(rank, d)),
         |dc AS (
         |  SELECT t.qid,
         |    SUM(CASE WHEN t.label = t.qlabel THEN d.d
         |        ELSE CAST('0' AS DECIMAL(18,8)) END) AS dcgd
         |  FROM top t JOIN disc d ON d.rank = t.rank GROUP BY 1),
         |nr AS (
         |  SELECT q.qid,
         |    CAST(COUNT(CASE WHEN m.label = q.qlabel THEN 1 END) AS BIGINT)
         |      AS n_rel
         |  FROM q LEFT JOIN m ON TRUE GROUP BY q.qid),
         |f AS (
         |  SELECT nr.qid, nr.n_rel,
         |    COALESCE(CAST(dc.dcgd AS DOUBLE), 0.0) + 0.0 AS dcg,
         |    ([${NdcgCum.map(c => s"CAST('${c.toDouble}' AS DOUBLE)").mkString(", ")}]
         |      )[CAST(LEAST($NdcgK, nr.n_rel) AS INTEGER) + 1] AS idcg
         |  FROM nr LEFT JOIN dc USING (qid))
         |SELECT qid, n_rel, dcg, idcg,
         |  CASE WHEN idcg > 0 THEN round(dcg / idcg, 6) + 0.0 END AS ndcg
         |FROM f ORDER BY qid""".stripMargin,
    "text_bm25_topk" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM t WHERE len(w) > 0),
         |c AS (
         |  SELECT CAST(COUNT(1) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS tot FROM b),
         |tf AS (
         |  SELECT doc_id, dl, term, CAST(COUNT(1) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM b)
         |  WHERE term IN (${Bm25Query.map(q => s"'$q'").mkString(", ")})
         |  GROUP BY doc_id, dl, term),
         |df AS (
         |  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tf GROUP BY term),
         |sc AS (
         |  SELECT doc_id, dl,
         |    round(
         |      ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |                 / (CAST(df AS DOUBLE) + 0.5))
         |      * ((CAST(tf AS DOUBLE) * $Bm25K1Plus1)
         |         / (CAST(tf AS DOUBLE) + $Bm25K1
         |            * ($Bm25OneMinusB + $Bm25B
         |               * (CAST(dl AS DOUBLE)
         |                  / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))))), 6) AS ts
         |  FROM tf JOIN df USING (term) CROSS JOIN c)
         |SELECT doc_id, dl AS n_tokens, CAST(COUNT(1) AS BIGINT) AS n_q_terms,
         |  CAST(SUM(CAST(ts AS DECIMAL(20,6))) AS DOUBLE) AS score
         |FROM sc GROUP BY doc_id, dl
         |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin,
    "retrieval_rrf_fusion" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM t WHERE len(w) > 0),
         |c AS (
         |  SELECT CAST(COUNT(1) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS tot FROM b),
         |tf AS (
         |  SELECT doc_id, dl, term, CAST(COUNT(1) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM b)
         |  WHERE term IN (${Bm25Query.map(q => s"'$q'").mkString(", ")})
         |  GROUP BY doc_id, dl, term),
         |df AS (
         |  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tf GROUP BY term),
         |sc AS (
         |  SELECT doc_id, dl,
         |    round(
         |      ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |                 / (CAST(df AS DOUBLE) + 0.5))
         |      * ((CAST(tf AS DOUBLE) * $Bm25K1Plus1)
         |         / (CAST(tf AS DOUBLE) + $Bm25K1
         |            * ($Bm25OneMinusB + $Bm25B
         |               * (CAST(dl AS DOUBLE)
         |                  / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))))), 6) AS ts
         |  FROM tf JOIN df USING (term) CROSS JOIN c),
         |bmscore AS (
         |  SELECT doc_id, CAST(SUM(CAST(ts AS DECIMAL(20,6))) AS DOUBLE) AS score
         |  FROM sc GROUP BY doc_id, dl),
         |bmtop AS (
         |  SELECT doc_id, score FROM bmscore
         |  ORDER BY score DESC, doc_id LIMIT $Bm25TopK),
         |bmrank AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |    AS BIGINT) AS bm25_rank
         |  FROM bmtop),
         |e AS (SELECT vec_id, embedding FROM embeddings
         |      WHERE embedding IS NOT NULL),
         |anch AS (SELECT embedding AS av FROM e WHERE vec_id < 8
         |         ORDER BY vec_id LIMIT 1),
         |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
         |cd AS (
         |  SELECT m.vec_id,
         |    SUM(m.embedding[i]::DOUBLE * a.av[i]::DOUBLE) AS vc,
         |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |    SUM(a.av[i]::DOUBLE * a.av[i]::DOUBLE) AS aa
         |  FROM m, anch a, generate_series(1, 64) g(i)
         |  GROUP BY 1),
         |cs AS (
         |  SELECT vec_id AS doc_id,
         |    round(CASE WHEN sqrt(vv) * sqrt(aa) > 0
         |      THEN vc / (sqrt(vv) * sqrt(aa)) END, 6) AS sim
         |  FROM cd),
         |ctop AS (
         |  SELECT doc_id, sim FROM cs WHERE sim IS NOT NULL
         |  ORDER BY sim DESC, doc_id LIMIT $Bm25TopK),
         |crank AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
         |    AS BIGINT) AS cos_rank
         |  FROM ctop)
         |SELECT doc_id, bm.bm25_rank, cr.cos_rank,
         |  round(COALESCE(1.0 / ($RrfK + CAST(bm.bm25_rank AS DOUBLE)), 0)
         |      + COALESCE(1.0 / ($RrfK + CAST(cr.cos_rank AS DOUBLE)), 0), 6)
         |    AS rrf
         |FROM bmrank bm FULL OUTER JOIN crank cr USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT $RrfTopK""".stripMargin,
    "retrieval_mmr_diversify" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |      WHERE embedding IS NOT NULL),
         |anch AS (SELECT embedding AS av FROM e WHERE vec_id < 8
         |         ORDER BY vec_id LIMIT 1),
         |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
         |cd AS (
         |  SELECT m.vec_id,
         |    SUM(m.embedding[i]::DOUBLE * a.av[i]::DOUBLE) AS vc,
         |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |    SUM(a.av[i]::DOUBLE * a.av[i]::DOUBLE) AS aa
         |  FROM m, anch a, generate_series(1, 64) g(i)
         |  GROUP BY 1),
         |cs AS (
         |  SELECT vec_id AS doc_id,
         |    round(CASE WHEN sqrt(vv) * sqrt(aa) > 0
         |      THEN vc / (sqrt(vv) * sqrt(aa)) END, 6) AS sim
         |  FROM cd),
         |short AS MATERIALIZED (
         |  SELECT doc_id, sim AS rel FROM cs WHERE sim IS NOT NULL
         |  ORDER BY sim DESC, doc_id LIMIT $MmrShortlist),
         |vecs AS MATERIALIZED (
         |  SELECT s.doc_id, e2.embedding
         |  FROM short s JOIN e e2 ON e2.vec_id = s.doc_id),
         |pd AS MATERIALIZED (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib,
         |    SUM(a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS ab,
         |    SUM(a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE) AS aa2,
         |    SUM(b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE) AS bb
         |  FROM vecs a, vecs b, generate_series(1, 64) g(i)
         |  WHERE a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |p AS MATERIALIZED (
         |  SELECT ia, ib, round(ab / (sqrt(aa2) * sqrt(bb)), 6) AS sim
         |  FROM pd),
         |s1 AS MATERIALIZED (
         |  SELECT doc_id, rel,
         |    round($MmrLambda * rel - $MmrOneMinusL * 0.0, 6) AS score
         |  FROM short),
         |pick1 AS MATERIALIZED (SELECT doc_id, rel, score FROM s1
         |          ORDER BY score DESC, doc_id LIMIT 1),
         |sel1 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS mmr_rank, doc_id, rel, score
         |         FROM pick1),
         |${(2 to MmrK).map(mmrStageSql).mkString(",\n")}
         |SELECT mmr_rank, doc_id, rel, score FROM sel$MmrK
         |ORDER BY mmr_rank""".stripMargin)
}
