package graft.queries

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Boundary semantics of the round-8 quality/clustering operators that
  * the dense driver fixtures can't isolate: exact rule thresholds in the
  * heuristic filter battery, rarity accounting for empty docs and
  * repeated tokens, and k-means assignment ties/zero-centroids. */
class QualityOpsSpec extends AnyFunSuite with SparkFixture {

  test("filterGopherRules: every threshold is inclusive exactly at the boundary") {
    import spark.implicits._
    val dir = tmpSfDir()
    // 50 four-char words incl. 2 stopwords ("thee" is 4 chars, use real stop
    // tokens): 48 content words + "the" + "of" → wc=50 boundary, stop=2
    // boundary, mean word length = (48*4 + 3 + 2)/50 = 197/50 = 3.94 ∈ [3,10],
    // zero symbols, zero digits → passes everything.
    val pass = (Seq.fill(48)("word") ++ Seq("the", "of")).mkString(" ")
    // 49 words incl. the same 2 stopwords → fails ONLY word count.
    val short = (Seq.fill(47)("word") ++ Seq("the", "of")).mkString(" ")
    // symbol ratio exactly AT 10%: 9 symbol chars in 90 chars total.
    // "the of xxxx…" padding to 81 alnum/space chars + 9 '#' → 10*9 ≤ 90 passes.
    val symPad = Seq.fill(24)("aaa").mkString(" ") // 24*3+23 = 95 chars, 0 syms
    val rows = Seq(
      (0L, pass, "en", "s0", pass.length.toLong),
      (1L, short, "en", "s0", short.length.toLong),
      (2L, symPad, "en", "s1", symPad.length.toLong),
      (3L, "", "en", "s1", 0L))
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Text.filterGopherRules(spark, dir.toString).collect()
      .map(r => r.getString(0) -> r).toMap
    val s0 = out("s0")
    assert(s0.getLong(1) == 2 && s0.getLong(2) == 1, "only the 50-word doc passes word count")
    assert(s0.getLong(5) == 2, "both s0 docs hit the 2-stopword boundary inclusively")
    assert(s0.getLong(7) == 1, "conjunction keeps exactly the boundary-passing doc")
    val s1 = out("s1")
    assert(s1.getLong(4) == 2, "zero-symbol docs pass the symbol-ratio rule (0 ≤ 10%)")
    assert(s1.getLong(7) == 0, "neither s1 doc reaches 50 words")
  }

  test("textRarityScore: repeated tokens weight by tf; empty docs surface with NULL ratios") {
    import spark.implicits._
    val dir = tmpSfDir()
    // corpus counts: "x" appears 5x (common), "y" 2x (rare ≤2), "z" 1x (rare)
    val rows = Seq(
      (0L, "x x x y z", "en", "s0", 9L),
      (1L, "x x y", "en", "s0", 5L),
      (2L, "", "en", "s0", 0L))
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Text.textRarityScore(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(1) == 5 && out(0L).getLong(2) == 2,
      "doc 0: 5 tokens, y+z rare (corpus count ≤ 2)")
    assert(out(0L).getDouble(3) == 0.4)
    // mean inv freq: (3*round(1/5) + 1*round(1/2) + 1*round(1/1)) / 5 = (0.6+0.5+1)/5
    assert(out(0L).getDouble(4) == 0.42)
    assert(out(1L).getLong(1) == 3 && out(1L).getLong(2) == 1)
    assert(out(2L).getLong(1) == 0 && out(2L).isNullAt(3) && out(2L).isNullAt(4),
      "an empty doc keeps its row with zero counts and NULL ratios")
  }

  test("embedKmeansAssign: nearest centroid wins; exact-dup member lands at distance 0") {
    import spark.implicits._
    val dir = tmpSfDir()
    def unit(axis: Int): Array[Float] = {
      val v = Array.fill(4)(0.0f); v(axis) = 1.0f; v
    }
    // centroids: ids 0..7 (unit axes 0..3 cycled); members: an exact dup of
    // centroid 0 (d²=0, tie between centroids 0 and 4 broken by smaller cid)
    // and a vector nearer axis 1.
    val cents = (0L until 8L).map(i => (i, unit((i % 4).toInt), 0))
    val members = Seq(
      (10L, unit(0), 0),
      (11L, Array(0.1f, 0.9f, 0.0f, 0.0f), 1))
    writeTable(dir, "embeddings",
      (cents ++ members).toDF("vec_id", "embedding", "label"))
    val out = Similarity.embedKmeansAssign(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0L, 1L, 0.0), (1L, 1L, 0.02)),
      "dup member ties centroids 0/4 at d²=0 → smallest cid; member 11 → centroid 1")
  }

  test("sampleQualityWeighted: zero-weight docs never survive; full-weight docs always do") {
    import spark.implicits._
    val dir = tmpSfDir()
    // full-pass doc (same construction as the battery boundary test) vs a
    // doc failing every rule (1 word, no stopwords, all symbols/digits)
    val pass = (Seq.fill(48)("word") ++ Seq("the", "of")).mkString(" ")
    val rows = (0L until 20L).map(i => (i, pass, "en", "s0", pass.length.toLong)) ++
      (20L until 40L).map(i => (i, "#123!", "en", "s0", 5L))
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val kept = Text.sampleQualityWeighted(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(kept.map(_._1).toSet == (0L until 20L).toSet,
      "weight-5 docs pass (bucket < 100 always); weight-0 docs can never be kept")
    assert(kept.forall(_._2 == 5L))
  }

  test("textScriptRatio: block counting and fixed-order dominance ties") {
    import spark.implicits._
    val dir = tmpSfDir()
    val rows = Seq(
      (0L, "abc где 123", "xx", "s0", 11L),   // 3 latin, 3 cyrillic, 3 digit → tie → latin
      (1L, "где 中文", "xx", "s0", 6L),        // cyrillic 3 > cjk 2 → cyrillic
      (2L, "中文漢字", "xx", "s0", 4L),         // only cjk
      (3L, "!!! ???", "xx", "s0", 7L),        // symbols only → none
      (4L, "", "xx", "s0", 0L))               // empty → none, NULL ratios
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Text.textScriptRatio(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getString(9) == "latin", "equal counts resolve latin-first")
    assert(out(0L).getLong(2) == 3 && out(0L).getLong(3) == 3 && out(0L).getLong(5) == 3)
    assert(out(1L).getString(9) == "cyrillic")
    assert(out(2L).getString(9) == "cjk" && out(2L).getDouble(8) == 1.0)
    assert(out(3L).getString(9) == "none")
    assert(out(4L).getString(9) == "none" && out(4L).isNullAt(6))
  }

  test("mixEpochs: integer ceiling math; upsampled small source, downsampled large one") {
    import spark.implicits._
    val dir = tmpSfDir()
    // avail: s_small 10_000 chars (w=100), s_big 1_000_000 (w=1000) → W=1100
    // target_small = 1e6*100 DIV 1100 = 90_909 → epochs = ceil(90909/10000) = 10,
    //   last epoch = 90909 - 9*10000 = 909
    // target_big = 1e6*1000 DIV 1100 = 909_090 → epochs = 1, last = 909_090
    val rows =
      (0L until 10L).map(i => (i, "x", "xx", "s_small", 1000L)) ++
      (10L until 20L).map(i => (i, "x", "xx", "s_big", 100000L))
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Corpus.mixEpochs(spark, dir.toString).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("s_small") == ((10000L, 100L, 90909L, 10L, 909L)),
      "small source upsamples to 10 epochs with a 909-char final partial pass")
    assert(out("s_big") == ((1000000L, 1000L, 909090L, 1L, 909090L)),
      "large source fits in a single partial epoch")
  }

  test("embedKmeansUpdate: new centroids are the element-wise means of assigned members") {
    import spark.implicits._
    val dir = tmpSfDir()
    def unit(axis: Int): Array[Float] = {
      val v = Array.fill(4)(0.0f); v(axis) = 1.0f; v
    }
    val cents = (0L until 8L).map(i => (i, unit((i % 4).toInt), 0))
    val members = Seq(
      (10L, unit(0), 0),
      (11L, Array(0.1f, 0.9f, 0.0f, 0.0f), 1))
    writeTable(dir, "embeddings",
      (cents ++ members).toDF("vec_id", "embedding", "label"))
    val out = Similarity.embedKmeansUpdate(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (0L, 0L, 1L, 1.0), (0L, 1L, 1L, 0.0), (0L, 2L, 1L, 0.0), (0L, 3L, 1L, 0.0),
      (1L, 0L, 1L, 0.1), (1L, 1L, 1L, 0.9), (1L, 2L, 1L, 0.0), (1L, 3L, 1L, 0.0)))
  }

  test("embedDimStats: constant dimension has zero variance (canonical 0.0, not -0.0)") {
    import spark.implicits._
    val dir = tmpSfDir()
    val rows = Seq(
      (0L, Array(1.0f, -0.25f, 0.0f), 0),
      (1L, Array(1.0f, 0.25f, 0.0f), 0))
    writeTable(dir, "embeddings", rows.toDF("vec_id", "embedding", "label"))
    val out = Similarity.embedDimStats(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0L, 2L, 1.0, 0.0), (1L, 2L, 0.0, 0.0625), (2L, 2L, 0.0, 0.0)))
    // −0.0 canonicalization: java equality treats them equal; compare bits
    out.foreach { case (_, _, m, v) =>
      assert(java.lang.Double.doubleToLongBits(v) != java.lang.Double.doubleToLongBits(-0.0),
        "variance must never surface as -0.0")
      assert(java.lang.Double.doubleToLongBits(m) != java.lang.Double.doubleToLongBits(-0.0),
        "mean must never surface as -0.0")
    }
  }

  test("clusterTopics ranks by lift: the cell-distinctive term beats the global stopword") {
    import spark.implicits._
    val dir = tmpSfDir()
    def unit(axis: Int): Array[Float] = {
      val v = Array.fill(4)(0.0f); v(axis) = 1.0f; v
    }
    val cents = (0L until 8L).map(i => (i, unit((i % 4).toInt), 0))
    val members = Seq((8L, unit(0), 0), (9L, unit(1), 1))
    writeTable(dir, "embeddings", (cents ++ members).toDF("vec_id", "embedding", "label"))
    val docRows = Seq(
      (8L, "common alpha alpha", "en", "s0"),
      (9L, "common beta beta", "en", "s0"),
      (99L, "orphan text no vector", "en", "s0")) // no embedding → excluded
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    writeTable(dir, "documents", docRows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Similarity.clusterTopics(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
    // member 8 sits on centroid 0 (tie with 4 broken low), member 9 on centroid 1.
    // corpus (clustered docs only): common=2, alpha=2, beta=2, n_total=6.
    // cell 0: alpha lift = (2/3)/(2/6) = 2.0, common lift = (1/3)/(2/6) = 1.0.
    assert(out.filter(_._1 == 0L).map(t => (t._2, t._3, t._4, t._5)).toSeq ==
      Seq((1L, "alpha", 2L, 2.0), (2L, "common", 1L, 1.0)))
    assert(out.filter(_._1 == 1L).map(t => (t._2, t._3, t._4, t._5)).toSeq ==
      Seq((1L, "beta", 2L, 2.0), (2L, "common", 1L, 1.0)))
    assert(!out.exists(_._3 == "orphan"), "docs without a vector contribute nothing")
  }

  test("embedRpProject: unit vector picks its sign column exactly; zero vector has NULL distortion") {
    import spark.implicits._
    val dir = tmpSfDir()
    val e1 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val z = Array.fill(64)(0.0f)
    writeTable(dir, "embeddings",
      Seq((0L, e1, 0), (1L, z, 0)).toDF("vec_id", "embedding", "label"))
    val out = Similarity.embedRpProject(spark, dir.toString).collect()
    val r0 = out.find(_.getLong(0) == 0L).get
    // P·e₁ is the matrix's first column: each component is ±1 exactly
    assert(r0.getSeq[Double](1) == Similarity.rpSigns.map(_.head),
      "projection of a basis vector reads off the sign column")
    assert(r0.getDouble(2) == 1.0 && r0.getDouble(3) == 1.0 && r0.getDouble(4) == 0.0,
      "‖e₁‖²=1, Σ(±1)²/16=1 → zero distortion for a basis vector")
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getSeq[Double](1).forall(_ == 0.0) && r1.getDouble(2) == 0.0 &&
      r1.isNullAt(4), "the zero vector projects to zero with NULL distortion")
  }

  test("decontamSemantic flags a paraphrase-identical doc; opposite-bucket docs are never candidates") {
    import spark.implicits._
    val dir = tmpSfDir()
    def unit(axis: Int): Array[Float] = {
      val v = Array.fill(4)(0.0f); v(axis) = 1.0f; v
    }
    val cents = (0L until 8L).map(i => (i, unit((i % 4).toInt), 0))
    val members = Seq(
      (8L, Array(1.0f, 1.0f, 0.0f, 0.0f), 0),   // benchmark doc
      (9L, Array(1.0f, 1.0f, 0.0f, 0.0f), 0),   // identical training doc — contaminated
      (10L, Array(-1.0f, -1.0f, 0.0f, 0.0f), 0)) // opposite LSH bucket — never met
    writeTable(dir, "embeddings", (cents ++ members).toDF("vec_id", "embedding", "label"))
    val docRows = Seq(
      (8L, "benchmark question", "en", "aaa_bench"), // min source = the benchmark slice
      (9L, "training copy", "en", "zzz"),
      (10L, "unrelated", "en", "zzz"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    writeTable(dir, "documents", docRows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Similarity.decontamSemantic(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(out.toSeq == Seq((9L, 1L, 1L, 1.0, true)),
      "only the bucket-collided identical doc appears — flagged at cosine 1.0")
  }

  test("embedPcaPower recovers a known dominant axis with its scatter eigenvalue") {
    import spark.implicits._
    val dir = tmpSfDir()
    // mean-zero data entirely along axis 0: top component must be e₀ and
    // λ = Σ x₀² = 8 (the un-normalized scatter norm the operator reports)
    val rows = Seq(
      (0L, Array(2.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(-2.0f, 0.0f, 0.0f, 0.0f), 0))
    writeTable(dir, "embeddings", rows.toDF("vec_id", "embedding", "label"))
    val out = Similarity.embedPcaPower(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0L, 1.0, 8.0), (1L, 0.0, 8.0), (2L, 0.0, 8.0), (3L, 0.0, 8.0)),
      "power iteration must converge to the dominant axis with λ = Σx₀²")
  }

  test("embedPcaPower is empty on a degenerate (all-identical) corpus, never NaN") {
    import spark.implicits._
    val dir = tmpSfDir()
    val rows = Seq(
      (0L, Array(1.0f, 1.0f), 0),
      (1L, Array(1.0f, 1.0f), 0)) // centered data is all-zero → zero norm
    writeTable(dir, "embeddings", rows.toDF("vec_id", "embedding", "label"))
    assert(Similarity.embedPcaPower(spark, dir.toString).collect().isEmpty)
  }

  test("embedPcaDebias removes exactly the dominant-direction energy") {
    import spark.implicits._
    val dir = tmpSfDir()
    // axis-0 dominates (±2); axis-1 carries a small residual signal (±1):
    // after removing the top PC (e₀), what's left is exactly the axis-1 part
    val rows = Seq(
      (0L, Array(2.0f, 1.0f, 0.0f, 0.0f), 0),
      (1L, Array(-2.0f, -1.0f, 0.0f, 0.0f), 0))
    writeTable(dir, "embeddings", rows.toDF("vec_id", "embedding", "label"))
    val out = Similarity.embedPcaDebias(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getSeq[Double](4)))
    // top PC of this 2-point cloud is (2,1)/√5 — but power iteration from
    // the uniform start converges toward it; assert the energy accounting
    // instead of the exact direction: residual ⊥ coef·v and energies add up
    out.foreach { case (_, coef, n2o, n2r, _) =>
      val c2 = BigDecimal(coef).pow(2).toDouble
      assert(math.abs(n2o - (n2r + c2)) < 2e-5,
        s"‖x‖² = coef² + ‖resid‖² must hold (got $n2o vs ${n2r + c2})")
    }
    assert(out.forall(t => t._4 < t._3), "de-biasing must strictly shed energy here")
    assert(out.map(_._2).sum == 0.0, "symmetric points get opposite coefficients")
  }

  test("sampleWeightedK: heaviest weight dominates; k past n returns everything") {
    import spark.implicits._
    val dir = tmpSfDir()
    // One doc with overwhelming mass: es_key = ln(u)/w → ≈0 (the best
    // possible key) while unit-weight docs sit at ln(u) ≤ ln(u_max) < 0.
    val rows = (0L until 20L).map(i => (i, "x", "en", "s0", 1L)) :+
      (20L, "x", "en", "s0", 1000000000000L)
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Curation.sampleWeightedK(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(out.length == 21, "k=100 > n=21 keeps every weighted doc")
    assert(out.head._1 == 20L && out.head._3 == 0.0,
      "the giant-weight doc's key rounds to 0 — first out of the draw")
    assert(out.tail.forall(_._3 < 0.0), "unit-weight keys are strictly negative")
  }

  test("embedSilhouette: labeled misfits go negative; out-of-model labels excluded") {
    import spark.implicits._
    val dir = tmpSfDir()
    val rows = Seq(
      // model: 2 centroids (k = 2)
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
      // label 0: a perfect fit (s=1) and a misfit (closer to centroid 1)
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (11L, Array(0.6f, 0.8f, 0.0f, 0.0f), 0),
      // label 1: perfect fit + an equidistant member (s=0 by contract)
      (12L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (13L, Array(0.5f, 0.5f, 0.0f, 0.0f), 1),
      // label outside the trained k → outside the audit
      (14L, Array(1.0f, 0.0f, 0.0f, 0.0f), 5))
    writeTable(dir, "embeddings", rows.toDF("vec_id", "embedding", "label"))
    val out = Similarity.embedSilhouette(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // vec 11: a=√0.8, b=√0.4 → s=round((b−a)/a, 6)=−0.292893; mean for
    // label 0 = round((1 − 0.292893)/2, 6) = 0.353554
    assert(out.toSeq == Seq(
      (0L, 2L, 1L, 0.353554),
      (1L, 2L, 0L, 0.5)),
      s"got ${out.toSeq}")
  }

  test("simHammingRecall: sign bits are magnitude-blind — one big flip outranks three small ones") {
    import spark.implicits._
    val dir = tmpSfDir()
    // 40-dim (the hi word holds dims 33..40). Anchor = all +1.
    def v(over: (Int, Float)*): Array[Float] = {
      val a = Array.fill(40)(1.0f); over.foreach { case (i, x) => a(i - 1) = x }; a
    }
    val embRows = Seq(
      (0L, v(), 0),                                            // anchor
      (8L, v(), 0),                                            // cos 1.0,  ham 0
      (9L, v(40 -> -10.0f), 0),                                // cos .389, ham 1
      (10L, v(40 -> -0.1f), 0),                                // cos .985, ham 1
      (11L, v(39 -> -0.1f, 40 -> -0.1f), 0),                   // cos .969, ham 2
      (12L, v(40 -> -1.0f), 0),                                // cos .95,  ham 1
      (13L, v(38 -> -0.1f, 39 -> -0.1f, 40 -> -0.1f), 0))      // cos .954, ham 3
    writeTable(dir, "embeddings", embRows.toDF("vec_id", "embedding", "label"))
    val out = Similarity.simHammingRecall(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // cosine top-5 = {8,10,11,13,12} (vec 9's big flip kills its cosine);
    // hamming top-5 = {8,9,10,12,11} (vec 13's three cheap flips kill its
    // hamming) → overlap {8,10,11,12} = 4 of 5
    assert(out.toSeq == Seq((0L, 5L, 4L, 800000L)), s"got ${out.toSeq}")
  }

  test("simMatryoshkaRecall: tail-only vector has NULL truncated sim and drops from the prefix list") {
    import spark.implicits._
    val dir = tmpSfDir()
    // 20-dim: dims 1..16 are the prefix, 17..20 the tail. anchor = e1.
    def v(pairs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(20)(0.0f); pairs.foreach { case (i, x) => a(i - 1) = x }; a
    }
    val embRows = Seq(
      (0L, v(1 -> 1.0f), 0),             // anchor
      (8L, v(1 -> 1.0f), 0),             // simF 1.0, simT 1.0
      (9L, v(17 -> 1.0f), 0),            // simF 0.0, prefix all-zero → simT NULL
      (10L, v(1 -> 0.6f, 17 -> 0.8f), 0))// simF 0.6, simT 1.0
    writeTable(dir, "embeddings", embRows.toDF("vec_id", "embedding", "label"))
    val out = Similarity.simMatryoshkaRecall(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // full top-5 = {8, 10, 9}; truncated list = {8, 10} (9 unrankable) →
    // hits 2 of 3
    assert(out.toSeq == Seq((0L, 3L, 2L, 666666L)), s"got ${out.toSeq}")
  }

  test("fineModel: two-level assignment matches the window spelling, default stays coarse") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.01"
    // default target at sf0.01: 492 members / 256 → C = 8, the
    // literal-codegen path the oracle already hash-checks
    assert(Similarity.fineModel(spark, dir)._2 == 8L)
    // a 16-member target forces the adaptive two-level path
    val (asg, c) = Similarity.fineModel(spark, dir, target = 16L)
    assert(c > 8, s"expected adaptive C > 8, got $c")
    // independent spelling of the same two-level rule: coarse-assign
    // members AND centroids to the first ⌈√C⌉ centroids with an
    // argmin window, then the fine argmin runs within the coarse cell
    def darr(cn: org.apache.spark.sql.Column) = transform(cn, x => x.cast("double"))
    def dotf(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions.dot_f64(a, b)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("embedding").isNotNull)
    val cents = e.filter(col("vec_id") < c)
      .select(col("vec_id").as("cid0"), darr(col("embedding")).as("cv"))
    val m = e.filter(col("vec_id") >= 8)
      .select(col("vec_id"), darr(col("embedding")).as("v"))
    val k1 = math.max(1L, math.ceil(math.sqrt(c.toDouble)).toLong)
    val coarse = cents.orderBy(col("cid0")).limit(k1.toInt)
      .select(col("cid0").as("gid"), col("cv").as("gv"))
    def cellOf(df: org.apache.spark.sql.DataFrame, idc: String,
        vc: String): org.apache.spark.sql.DataFrame = {
      val wg = Window.partitionBy(col(idc)).orderBy(col("gd2"), col("gid"))
      df.crossJoin(coarse)
        .withColumn("gd2", dotf(col(vc), col(vc))
          - lit(2.0) * dotf(col(vc), col("gv")) + dotf(col("gv"), col("gv")))
        .withColumn("rn", row_number().over(wg)).filter(col("rn") === 1)
        .select(col(idc), col("gid").as("g"))
    }
    val mg = cellOf(m, "vec_id", "v")
    val cg = cellOf(cents, "cid0", "cv")
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid0"))
    val expected = m.join(mg, "vec_id")
      .join(cents.join(cg, "cid0"), "g")
      .withColumn("d2", dotf(col("v"), col("v"))
        - lit(2.0) * dotf(col("v"), col("cv")) + dotf(col("cv"), col("cv")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid0").cast("long").as("cid"))
    val got = asg.select(col("vec_id"), col("cid"))
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      "adaptive-path cid assignment diverged from the window spelling")
  }

  test("textMattr: windows average the distinct counts; short docs get TTR only") {
    import spark.implicits._
    val dir = tmpSfDir()
    // 26 tokens, one repeat at the front: window [1..25] has 24 types,
    // window [2..26] has 25 → MATTR = 49/50; TTR = 25/26
    val long26 = ("a" +: "a" +: (3 to 26).map(i => s"w$i")).mkString(" ")
    val rows = Seq(
      (0L, long26, "en", "s0"),
      (1L, "a b a", "en", "s0"),   // short: TTR 2/3, MATTR undefined
      (2L, "", "en", "s0"),        // empty: 0 tokens, both NULL
      (3L, null.asInstanceOf[String], "en", "s0"))
      .map { case (id, t, l, s) =>
        (id, t, l, s, Option(t).map(_.length.toLong).getOrElse(0L))
      }
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Text.textMattr(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(1) == 26L)
    assert(out(0L).getDouble(2) == 0.961538 && out(0L).getDouble(3) == 0.98,
      s"got ${out(0L)}")
    assert(out(1L).getLong(1) == 3L && out(1L).getDouble(2) == 0.666667
      && out(1L).isNullAt(3), "short doc: TTR only, MATTR undefined")
    assert(out(2L).getLong(1) == 0L && out(2L).isNullAt(2) && out(2L).isNullAt(3))
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2) && out(3L).isNullAt(3),
      "NULL text propagates NULL accounting")
  }

  // ------------------------------------------------- Kneser–Ney held-out LM

  /** The engines' md5-mod-100 split bucket, reimplemented independently so
    * the fixtures can PLACE docs on either side of the 80 cut. */
  private def md5Bucket(id: Long): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(h.substring(0, 8), 16) % 100
  }

  test("textLmKneserNey: all-seen test bigrams score the hand-computed KN probability") {
    import spark.implicits._
    val dir = tmpSfDir()
    // every doc is "a b c": cb(a,b)=cb(b,c)=nTr, cu=nTr, N1+(w1·)=1,
    // N1+(·w2)=1, B=2 bigram types, V=3
    val ids = (0L until 50L)
    val rows = ids.map(i => (i, "a b c", "en", "s0", 5L))
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val nTr = ids.count(md5Bucket(_) < 80)
    val nTe = ids.size - nTr
    assert(nTr > 0 && nTe > 0, "fixture must land docs on both sides of the split")
    val pc = (1.0 + 1.0) / (2.0 + 3.0 + 1.0)
    val p = (nTr - 0.75) / nTr + (0.75 * 1.0 / nTr) * pc
    val term = BigDecimal(-math.log(p)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    val r = Text.textLmKneserNey(spark, dir.toString).collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "s0" && r(0).getLong(1) == nTe.toLong)
    assert(r(0).getDouble(2) == term, s"got ${r(0).getDouble(2)}, want $term")
    assert(r(0).getDouble(3) == 0.0, "every test bigram was seen in training")
  }

  test("textLmKneserNey: an unseen history backs off to the continuation distribution") {
    import spark.implicits._
    val dir = tmpSfDir()
    // train corpus is all "a b" (B=1 type, V=2); one TEST-side doc "x y"
    // whose history x was never seen → p = p_cont(y) = (0+1)/(1+2+1)
    val trainIds = (0L until 40L)
    val xyId = (100L until 200L).find(md5Bucket(_) >= 80).get
    val rows = trainIds.map(i => (i, "a b", "en", "s1", 3L)) :+
      ((xyId, "x y", "en", "s2", 3L))
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Text.textLmKneserNey(spark, dir.toString).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val expected = BigDecimal(-math.log(0.25))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("s2") == ((1L, expected, 1.0)), s"got ${out.get("s2")}")
  }
}
