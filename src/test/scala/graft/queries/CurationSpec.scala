package graft.queries

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Direct semantics tests for the curation operators: the components
 * fixpoint on adversarial graph shapes (the DuckDB oracle only sees the
 * dup graphs the corpus happens to contain), and the determinism of the
 * stratified sample.
 */
class CurationSpec extends AnyFunSuite with SparkFixture {

  private def components(nodes: Seq[Long], edges: Seq[(Long, Long)],
      driverCollectCap: Long = 0L): Map[Long, Long] = withDriverCollectCap(driverCollectCap) {
    // cap 0 forces the distributed propagation path; tests cover the
    // driver union-find fast path separately
    val docs = spark.createDataFrame(nodes.map(Tuple1(_))).toDF("doc_id")
    val pairs = if (edges.isEmpty)
      spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("da", "db")
    else spark.createDataFrame(edges).toDF("da", "db")
    Curation.connectedComponents(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connectedComponents: chain needs multi-hop propagation") {
    // 5-4-3-2-1 chain: min label must travel 4 hops
    val got = components(Seq(1L, 2L, 3L, 4L, 5L),
      Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connectedComponents: separate clusters and singletons stay apart") {
    val got = components(Seq(1L, 2L, 3L, 10L, 11L, 99L),
      Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("connectedComponents: empty edge set is the identity labelling") {
    val got = components(Seq(7L, 8L), Seq.empty)
    assert(got == Map(7L -> 7L, 8L -> 8L))
  }

  test("reliable-checkpoint rounds (cluster setting) agree with localCheckpoint rounds") {
    // the multi-executor setting: fault-tolerant checkpoint() per round
    // instead of executor-memory localCheckpoint. Algorithm identical.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val hadCkpt = spark.sparkContext.getCheckpointDir
    spark.conf.set("spark.graft.components.reliableCheckpoint", "true")
    try {
      // misconfiguration must fail fast, not corrupt rounds
      spark.sparkContext.setCheckpointDir(null.asInstanceOf[String])
      val noDir = intercept[IllegalArgumentException] {
        components(Seq(1L, 2L), Seq((1L, 2L)))
      }
      assert(noDir.getMessage.contains("setCheckpointDir"))
      spark.sparkContext.setCheckpointDir(dir)
      val got = components(Seq(1L, 2L, 3L, 4L, 5L, 9L),
        Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L)))
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 9L -> 9L))
      // the checkpoint files actually landed under the reliable dir
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() > 0)
    } finally {
      spark.conf.unset("spark.graft.components.reliableCheckpoint")
      spark.sparkContext.setCheckpointDir(hadCkpt.orNull)
    }
  }

  test("1000-node chain (diameter >> propagation budget) solves via the star-contraction fallback") {
    // per-hop propagation would need ~999 rounds; the automatic
    // star-contraction fallback must solve it in O(log n) WITHOUT the
    // old non-convergence IllegalStateException
    val n = 1000L
    val nodes = 1L to n
    val edges = (1L until n).map(i => (i, i + 1))
    val got = components(nodes, edges)
    assert(got.size == n.toInt)
    assert(got.values.forall(_ == 1L), s"split labels: ${got.filter(_._2 != 1L).take(5)}")
  }

  test("starContractionComponents: direct — chains, cliques, singletons, empty") {
    def star(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val docs = spark.createDataFrame(nodes.map(Tuple1(_))).toDF("doc_id")
      val pairs = if (edges.isEmpty)
        spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("u", "v")
      else spark.createDataFrame(edges).toDF("u", "v")
      Curation.starContractionComponents(docs, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // chain out of id order + triangle + duplicate/self/reversed edges
    val got = star(1L to 12L,
      Seq((9L, 8L), (8L, 7L), (7L, 6L), (6L, 5L), // chain 5..9
        (1L, 2L), (2L, 3L), (3L, 1L), (1L, 1L), (2L, 1L), // triangle w/ noise
        (11L, 12L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L, 9L -> 5L,
      10L -> 10L, 11L -> 11L, 12L -> 11L), s"got $got")
    assert(star(Seq(3L, 4L), Seq.empty) == Map(3L -> 3L, 4L -> 4L))
  }

  test("driver union-find fast path agrees with the distributed path") {
    val nodes = (1L to 40L)
    val edges = Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L), // chain
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (30L, 20L)) // out-of-order pair
    val dist = components(nodes, edges)
    val fast = components(nodes, edges, driverCollectCap = 1000L)
    assert(fast == dist)
    assert(fast(5L) == 1L && fast(12L) == 10L && fast(30L) == 20L && fast(39L) == 39L)
  }

  test("dedupComponents output is consistent with the pair query") {
    val sfDir = "/root/testdata/sf0.001"
    val comp = Curation.dedupComponents(spark, sfDir)
    // every pair partner must share a component with its mate
    val pairs = Dedup.dedupJaccardWords(spark, sfDir).select("da", "db")
    val labels = comp.select(col("doc_id"), col("comp_id"))
    val mism = pairs
      .join(labels.withColumnRenamed("doc_id", "da").withColumnRenamed("comp_id", "ca"), "da")
      .join(labels.withColumnRenamed("doc_id", "db").withColumnRenamed("comp_id", "cb"), "db")
      .filter(col("ca") =!= col("cb")).count()
    assert(mism == 0)
    // canonical docs are exactly the per-component minima
    val bad = comp.groupBy(col("comp_id"))
      .agg(min(col("doc_id")).as("mn"))
      .filter(col("comp_id") =!= col("mn")).count()
    assert(bad == 0)
  }

  test("sampleStratified is deterministic and respects stratum rates loosely") {
    val sfDir = "/root/testdata/sf0.001"
    val a = Curation.sampleStratified(spark, sfDir).collect().toSeq
    val b = Curation.sampleStratified(spark, sfDir).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("dedupGraphPagerank: the bridge doc out-ranks leaves; 3-round fixpoint matches by hand") {
    import spark.implicits._
    val dir = tmpSfDir()
    // path graph 0–1–2 (J(0,1)=J(1,2)=9/11≥0.8, J(0,2)=8/12<0.8) + singleton 3
    val base = (1 to 10).map(i => s"w$i")
    val rows = Seq(
      (0L, base.mkString(" "), "en", "s0"),
      (1L, (base.take(9) :+ "x").mkString(" "), "en", "s0"),
      (2L, (base.take(8) ++ Seq("x", "y")).mkString(" "), "en", "s0"),
      (3L, "lonely words here", "en", "s1"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    def rnd(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val b0 = 0.15 / 4.0
    // replicate the engine arithmetic: 14-dp terms, exact-decimal sum,
    // 12-dp round per iteration
    def leaf(rb: Double): Double = rnd(b0 + 0.85 * rnd(rb / 2.0, 14), 12)
    def mid(ra: Double, rc: Double): Double = rnd(b0 + 0.85 *
      (BigDecimal(rnd(ra / 1.0, 14)) + BigDecimal(rnd(rc / 1.0, 14))).toDouble, 12)
    var (ra, rb, rc) = (0.25, 0.25, 0.25)
    for (_ <- 1 to 3) {
      val (na, nb, nc) = (leaf(rb), mid(ra, rc), leaf(rb))
      ra = na; rb = nb; rc = nc
    }
    val out = Curation.dedupGraphPagerank(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, rb), (0L, 1L, ra), (2L, 1L, rc)),
      s"got ${out.toSeq}; expected center ${rb}, leaves ${ra}")
  }

  // ------------------------------------------------------ triangle audit

  test("dedupGraphTriangles: counts a true triangle, not a chain, and collapses exact dups") {
    import spark.implicits._
    val dir = tmpSfDir()
    val base = (1 to 19).map(i => s"t$i").mkString(" ")
    val bv = (1 to 20).map(i => s"v$i").mkString(" ")
    val rows = Seq(
      // triangle trio: pairwise J = 19/21 ≈ 0.905, three DISTINCT sets
      (0L, s"$base ta", "en", "s0"),
      (1L, s"$base tb", "en", "s0"),
      (2L, s"$base tc", "en", "s0"),
      // exact dups of doc 0 — same word set, collapse into its supernode
      (3L, s"$base ta", "en", "s1"),
      (4L, s"ta $base", "en", "s1"),
      // chain on a disjoint vocabulary: A~B (18/22), B~C (18/22), A≁C (16/24)
      (10L, ((1 to 18).map(i => s"v$i") ++ Seq("a1", "a2")).mkString(" "), "en", "s0"),
      (11L, bv, "en", "s0"),
      (12L, ((3 to 20).map(i => s"v$i") ++ Seq("c1", "c2")).mkString(" "), "en", "s0"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = Curation.dedupGraphTriangles(spark, dir.toString).collect()
    assert(r.length == 1)
    val row = (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4), r(0).getDouble(5))
    // 6 supernodes touch edges; 3 trio + 2 chain edges; wedges 3 + 1;
    // one triangle, nothing capped → transitivity 3·1/4
    assert(row == ((6L, 5L, 4L, 1L, 0L, 0.75)), s"got $row")
  }

  test("dedupGraphTriangles: empty corpus folds to the zero row") {
    import spark.implicits._
    val dir = tmpSfDir()
    writeTable(dir, "documents",
      Seq.empty[(Long, String, String, String, Long)]
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = Curation.dedupGraphTriangles(spark, dir.toString).collect()
    assert(r.length == 1)
    assert((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4)) == ((0L, 0L, 0L, 0L, 0L)))
    assert(r(0).isNullAt(5), "no wedges → NULL coefficient, not a division error")
  }

  test("dedupGraphTriangles: mega-clique apexes hit the out-degree cap and are reported") {
    import spark.implicits._
    val dir = tmpSfDir()
    // a 40-set near-clique (pairwise J = 39/41): every node has degree 39;
    // orientation ties break by id, so node k has out-degree 39−k —
    // k=0..6 exceed the 32 cap. Triangle enumeration keeps the apexes
    // k≥7 → C(33,3); wedge/edge totals stay exact; coefficient is NULL.
    val base = (1 to 39).map(i => s"w$i").mkString(" ")
    val rows = (0L until 40L).map(k => (k, s"$base u$k", "en", "s0"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = Curation.dedupGraphTriangles(spark, dir.toString).collect()
    assert(r.length == 1)
    val row = (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4))
    assert(row == ((40L, 780L, 29640L, 5456L, 7L)), s"got $row")
    assert(r(0).isNullAt(5),
      "a capped enumeration must not report a biased coefficient")
  }

  // ------------------------------------------------- source-mix modularity

  test("dedupGraphModularity: intra and cross edges split the degree mass per source") {
    import spark.implicits._
    val dir = tmpSfDir()
    val rows = Seq(
      // intra-X dup pair, intra-Y dup pair, one cross X–Y pair; disjoint
      // vocabularies keep the three pairs independent
      (0L, "p1 p2 p3", "en", "X"), (1L, "p1 p2 p3", "en", "X"),
      (2L, "q1 q2 q3", "en", "Y"), (3L, "q1 q2 q3", "en", "Y"),
      (4L, "r1 r2 r3", "en", "X"), (5L, "r1 r2 r3", "en", "Y"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Curation.dedupGraphModularity(spark, dir.toString).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // m = 3 edges, each source: d = 3 endpoints, 1 intra edge:
    // q = 1/3 − (3/6)² = 0.083333
    assert(out == Map("X" -> ((3L, 1L, 0.083333)), "Y" -> ((3L, 1L, 0.083333))),
      s"got $out")
  }

  // -------------------------------------------------- token-weighted savings

  test("dedupTokenSavings: non-canonical members' tokens are the dropped mass") {
    import spark.implicits._
    val dir = tmpSfDir()
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      (0L, ten, "en", "s1"), (1L, ten, "en", "s1"),       // dup pair: doc 1 dropped
      (2L, "u1 u2 u3 u4 u5", "en", "s2"))                 // unique: nothing dropped
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    writeTable(dir, "documents", rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Curation.dedupTokenSavings(spark, dir.toString).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out == Map(
      "s1" -> ((2L, 1L, 20L, 10L, 50.0)),
      "s2" -> ((1L, 0L, 5L, 0L, 0.0))), s"got $out")
  }

  // -------------------------------------------------- bounded 2-core peel

  private def kcore(edges0: Seq[(Long, Long)]): (Set[Long], Boolean) = {
    val pairs = spark.createDataFrame(edges0).toDF("da", "db")
    val edges = pairs.select(col("da").as("s"), col("db").as("d"))
      .unionByName(pairs.select(col("db").as("s"), col("da").as("d")))
    val deg0 = edges.groupBy(col("s")).agg(count(lit(1)).as("deg0"))
    val (surv, conv) = Curation.kcorePeel(edges, deg0)
    (surv.collect().map(_.getLong(0)).toSet, conv)
  }

  test("kcorePeel: triangle survives, pendant peels, converges") {
    val (core, conv) = kcore(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(core == Set(1L, 2L, 3L), s"got $core")
    assert(conv)
  }

  test("kcorePeel: short chain peels to nothing and converges") {
    // 1-2-3-4-5: s1={2,3,4}, s2={3}, s3=∅, s4=∅ → stable inside budget
    val (core, conv) = kcore(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(core.isEmpty, s"got $core")
    assert(conv)
  }

  test("kcorePeel: 21-chain exhausts the budget and says so") {
    // each round peels the two current endpoints: |s_i| = 21 − 2i, so the
    // 8-round budget ends at 5 survivors with rounds 7 and 8 UNEQUAL —
    // the under-peel must be visible, not silent
    val (core, conv) = kcore((1L to 20L).map(i => (i, i + 1)))
    assert(core == (9L to 13L).toSet, s"got $core")
    assert(!conv)
  }

  // ------------------------- supernode peel ≡ doc-level peel (r11 rewrite)

  /** Runs the doc-level reference peel AND the supernode peel on the same
    * logical graph (sets with multiplicities + cross set edges, expanded
    * to all doc pairs for the reference) and asserts identical surviving
    * doc sets and convergence flags. */
  private def kcoreSuperVsDoc(sets: Seq[(Long, Long)],
      setEdges: Seq[(Long, Long)]): Unit = {
    val members: Map[Long, Seq[Long]] =
      sets.map { case (sid, m) => sid -> (0L until m).map(k => sid * 100 + k) }.toMap
    val intra = members.values.toSeq.flatMap(ms =>
      for (i <- ms.indices; j <- i + 1 until ms.size) yield (ms(i), ms(j)))
    val cross = setEdges.flatMap { case (a, b) =>
      for (x <- members(a); y <- members(b)) yield (x, y) }
    val (survDoc, convDoc) = kcore(intra ++ cross)
    val ndf = spark.createDataFrame(sets).toDF("sid", "m")
    val se =
      if (setEdges.nonEmpty) spark.createDataFrame(setEdges).toDF("sa", "sb")
      else spark.createDataFrame(Seq((0L, 0L))).toDF("sa", "sb").limit(0)
    val edgesSet = se.select(col("sa").as("src"), col("sb").as("dst"))
      .unionByName(se.select(col("sb").as("src"), col("sa").as("dst")))
    val cmass = edgesSet
      .join(ndf.select(col("sid").as("dst"), col("m").as("md")), "dst")
      .groupBy(col("src")).agg(sum(col("md")).as("cmass"))
    val act = ndf
      .join(cmass.withColumnRenamed("src", "sid"), Seq("sid"), "left")
      .select(col("sid"), col("m"), coalesce(col("cmass"), lit(0L)).as("cmass"))
      .filter(col("m") >= 2L || col("cmass") > 0L)
    val (survSet, convSet) = Curation.kcorePeelSuper(act, edgesSet, reliable = false)
    val expanded = survSet.collect().flatMap(r => members(r.getLong(0))).toSet
    assert(expanded == survDoc, s"supernode $expanded != doc-level $survDoc")
    assert(convSet == convDoc, s"converged: supernode $convSet != doc-level $convDoc")
  }

  test("kcorePeelSuper ≡ doc-level peel: clique set survives alone") {
    // one m=5 identical-doc clique (deg 4 — survives), one m=2 pair
    // (deg 1 — peels), one singleton with no edges (not a participant)
    kcoreSuperVsDoc(Seq((1L, 5L), (2L, 2L), (3L, 1L)), Seq.empty)
  }

  test("kcorePeelSuper ≡ doc-level peel: pendant set peels off a clique") {
    // m=3 clique with a pendant singleton: the pendant's doc deg is 3 but
    // within-survivor deg falls to 3 after... the clique keeps it alive
    // (every clique member has deg ≥ 2 forever) — both engines must agree
    kcoreSuperVsDoc(Seq((1L, 3L), (2L, 1L)), Seq((1L, 2L)))
  }

  test("kcorePeelSuper ≡ doc-level peel: singleton chain peels to nothing") {
    // 5 singleton sets in a path — the kcorePeel chain scenario expressed
    // through the supernode machinery (m = 1 everywhere)
    kcoreSuperVsDoc((1L to 5L).map(i => (i, 1L)),
      (1L to 4L).map(i => (i, i + 1)))
  }

  test("kcoreSuperVsDoc: star of singleton sets through a clique hub") {
    // hub m=2 clique with three singleton leaves: leaves have doc deg 2
    // (both hub members) so they survive round 1, and keep surviving (the
    // hub never peels) — a shape where intra and cross mass interact
    kcoreSuperVsDoc(Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)),
      Seq((1L, 2L), (1L, 3L), (1L, 4L)))
  }

  test("dedupGraphAssortativity: star graph reports r = −1") {
    // three docs whose word sets form a star at Jaccard ≥ 0.8:
    //   x = {a..j}     (10 words) — center
    //   y = {a..i}     (9 words):  J(x,y) = 9/10  = 0.9   → edge
    //   z = {a..h,j,k} (10 words): J(x,z) = 9/11 ≈ 0.818  → edge
    //   J(y,z) = 8/11 ≈ 0.727                             → no edge
    // degrees: x=2, y=z=1 → the classic star, assortativity exactly −1;
    // m_directed = 4. Pins the r11 supernode-formula rewrite.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("assort")
    val x = "a b c d e f g h i j"
    val y = "a b c d e f g h i"
    val z = "a b c d e f g h j k"
    val rows = Seq((1L, x, "en", "s1"), (2L, y, "en", "s1"), (3L, z, "en", "s1"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    writeTable(dir, "documents",
      rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Curation.dedupGraphAssortativity(spark, dir.toString).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 4L, s"m_directed ${out(0).getLong(0)}")
    assert(out(0).getDouble(1) == -1.0, s"assortativity ${out(0).getDouble(1)}")
  }
}
