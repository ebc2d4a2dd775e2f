package graft.queries

import graft.operators.DriverCollect
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import Tables._
import graft.core.QueryCaches.cached

/**
 * Corpus-curation operators (builder brief §dedup/§text): the pieces that
 * turn pairwise near-dup detection into an actual training-data pipeline —
 * canonical-document selection via connected components over the dup-pair
 * graph, deterministic stratified sampling for mix control, and the
 * composed filter→dedup→sample→account job a data-curation run executes
 * end-to-end.
 *
 * Scale design:
 *  - Components run as iterative min-label propagation over hash-partitioned
 *    (doc_id) joins — the standard DataFrame formulation of large-graph CC
 *    (each round is one shuffle join + map-side-combinable min agg; the
 *    driver sees only a per-round convergence scalar, never row data). Dup
 *    graphs are near-cliques, so rounds ≈ 2-3; for adversarially long chains
 *    the alternation of large-star/small-star (Kiveris et al., "Connected
 *    Components in MapReduce") bounds rounds at O(log n) — noted for the
 *    1000-executor path, not needed for dup clusters.
 *  - Stratified sampling is a pure scan-local predicate (md5-mod on the id,
 *    rate by stratum) — zero shuffle, reproducible across engines and runs.
 */
object Curation {

  /** Propagation budget: dup-cluster graphs (near-cliques) converge in
    * 2-3 min-label rounds; a graph still moving after this many rounds
    * has component diameter where per-hop propagation is the wrong
    * asymptotic (rounds ∝ diameter, measured ~2× over linear at 100×),
    * and [[iterativeComponents]] hands off to the O(log n)-round
    * [[starContractionComponents]] fallback automatically. */
  private val MaxIters = 8

  /** Star-contraction round backstop. Alternating large-star/small-star
    * provably converges in O(log n) rounds regardless of diameter
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — 60 rounds covers any graph that fits in a cluster; only
    * a genuine algorithmic bug can trip this. */
  private val StarMaxIters = 60

  /**
   * Connected components by iterative min-label propagation, with a
   * driver-side union-find fast path for edge sets that fit
   * [[DriverCollect]]'s cap (the edge relation is already COLLAPSED —
   * the unique-set graph — so at that size it is metadata). Above the cap
   * the distributed propagation runs; node count never matters (untouched
   * nodes are identity-labelled without ever leaving the executors).
   *
   * @param allDocs one row per node: (doc_id)
   * @param pairs   undirected edges as (da, db); the probe and the
   *                distributed path each read it, so callers pass it
   *                persisted or checkpointed
   * @return (doc_id, comp) where comp = min doc_id reachable (incl. self)
   */
  def connectedComponents(allDocs: DataFrame, pairs: DataFrame): DataFrame =
    DriverCollect.collectSmall(pairs.select(col("da"), col("db"))) match {
      case Some(rows) =>
        // driver union-find over the collapsed edge list; only nodes that
        // appear in an edge get a non-identity label, so the (possibly
        // huge) node relation is just left-joined against the tiny result
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        rows.foreach { e =>
          val (a, b) = (find(e.getLong(0)), find(e.getLong(1)))
          if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        }
        val labels = parent.keys.map(k => k -> find(k)).toSeq
        val s = allDocs.sparkSession
        import s.implicits._
        val lookup = labels.toDF("doc_id", "cc")
        allDocs.select(col("doc_id"))
          .join(broadcast(lookup), Seq("doc_id"), "left_outer")
          .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("comp"))
      case None => iterativeComponents(allDocs, pairs)
    }

  /** `spark.graft.components.reliableCheckpoint` selects the per-round
    * checkpoint flavor for the iterative component solvers:
    *  - false (default): `localCheckpoint` — executor-memory blocks, the
    *    right call on local mode and short iterations;
    *  - true: reliable `checkpoint()` to the context's checkpoint dir —
    *    the multi-executor-cluster setting, where an executor loss under
    *    localCheckpoint would lose un-recomputable round state (lineage
    *    was truncated). Requires `sc.setCheckpointDir` on a path all
    *    executors can reach (HDFS/object store on a real cluster). */
  private def useReliableCheckpoint(s: SparkSession): Boolean = {
    val reliable = s.conf.getOption("spark.graft.components.reliableCheckpoint")
      .exists(_.toBoolean)
    if (reliable) require(s.sparkContext.getCheckpointDir.isDefined,
      "spark.graft.components.reliableCheckpoint=true requires " +
        "SparkContext.setCheckpointDir (a fault-tolerant path every executor can reach)")
    reliable
  }

  private def roundCheckpoint(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint()

  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** The FINAL round's checkpoint RDD backs the returned plan for its
    * whole lifetime — hand its release to the enclosing query scope
    * (the active QueryCaches scope unpersists it on release). */
  private def handOffCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        graft.core.QueryCaches.reportRdd(l.rdd)
      case _ => ()
    }

  /** The distributed propagation path (any edge-set size). */
  private[queries] def iterativeComponents(allDocs: DataFrame, pairs: DataFrame): DataFrame = {
    val s = allDocs.sparkSession
    val parts = parallelism(s)
    // both directions once, co-partitioned on the probe key of the
    // per-round join; persisted — every round re-reads it
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .unionByName(pairs.select(col("db").as("src"), col("da").as("dst")))
      .repartition(parts, col("dst"))
      .persist(MEMORY_AND_DISK)
    try {
      // Each round's plan would otherwise NEST the previous round's plan —
      // by round k Catalyst re-analyzes a depth-k tree and the fixed
      // per-round cost grows without bound (the classic iterative-DataFrame
      // lineage blow-up). The eager checkpoint materializes the round and
      // TRUNCATES lineage, so every round is constant work (flavor selected
      // by [[useReliableCheckpoint]]).
      val reliable = useReliableCheckpoint(s)
      def roundCheckpoint(df: DataFrame): DataFrame =
        Curation.roundCheckpoint(df, reliable)
      var labels = roundCheckpoint(
        allDocs.select(col("doc_id"), col("doc_id").as("comp"))
          .repartition(parts, col("doc_id")))
      // labels only ever decrease, so Σcomp strictly decreases until the
      // fixpoint — a single map-side-combinable agg per round is the whole
      // convergence protocol (exact DECIMAL so no precision-induced early stop)
      def labelSum(df: DataFrame): java.math.BigDecimal = {
        // sum over zero rows is NULL — an empty node set is already converged
        val d = df.agg(sum(col("comp").cast(DecimalType(38, 0)))).first().getDecimal(0)
        if (d == null) java.math.BigDecimal.ZERO else d
      }
      var prevSum = labelSum(labels)
      var iter = 0
      var done = false
      while (!done && iter < MaxIters) {
        val nbrMin = edges
          .join(labels.select(col("doc_id").as("dst"), col("comp").as("dcomp")), "dst")
          .groupBy(col("src")).agg(min(col("dcomp")).as("nbr_comp"))
          .withColumnRenamed("src", "doc_id")
        val next = roundCheckpoint(labels // eager: materializes the round, truncates lineage
          .join(nbrMin, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
          .repartition(parts, col("doc_id")))
        val sumNow = labelSum(next)
        freeCheckpoint(labels)
        labels = next
        done = sumNow.compareTo(prevSum) == 0
        prevSum = sumNow
        iter += 1
      }
      if (!done) {
        // Propagation budget exhausted — component diameter exceeds the
        // per-hop budget (rounds ∝ diameter: measured ~2× over linear at
        // 100× on long-radius dup graphs, and unbounded for adversarial
        // chains). Hand off to star contraction, whose round count is
        // O(log n) REGARDLESS of diameter. The seed is the original edge
        // set UNION the partial labels (each (doc_id, comp) is a valid
        // same-component edge — comp is reachable from doc_id), so the
        // hops already paid keep compressing the graph.
        val seed = edges.select(col("src").as("u"), col("dst").as("v"))
          .unionByName(labels.filter(col("comp") =!= col("doc_id"))
            .select(col("doc_id").as("u"), col("comp").as("v")))
        val out = starContractionComponents(allDocs, seed)
        // star contraction checkpoints eagerly round-by-round, so by the
        // time it returns nothing references the propagation state
        freeCheckpoint(labels)
        out
      } else {
        handOffCheckpoint(labels)
        labels
      }
    } finally edges.unpersist(false)
  }

  /**
   * Connected components by alternating large-star/small-star contraction
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14) — the diameter-independent solver: each round halves tree
   * heights, so convergence is O(log n) rounds where min-label
   * propagation needs Θ(diameter). The scale path for adversarial graphs
   * (chain-shaped boilerplate clusters, crawl-ring link farms) that
   * [[iterativeComponents]] falls back to when its per-hop budget runs
   * out; near-clique dup graphs never get here (propagation converges in
   * 2-3 rounds and its rounds are cheaper).
   *
   * Per round (all shuffles hash-partitioned on the node id, every round
   * eagerly checkpointed — same lineage-truncation contract as the
   * propagation path):
   *  - large-star: every node attaches its strictly LARGER neighbors to
   *    its minimum neighborhood node m(u) = min(Γ(u) ∪ {u});
   *  - small-star: on the resulting high→low orientation, every node
   *    attaches itself and its smaller neighbors to m(u).
   * The fixpoint is a star forest rooted at each component's MINIMUM
   * node (the [[connectedComponents]] label contract), detected by exact
   * edge-set equality (count + anti-join — no hash-collision early
   * stop). Labels = star edges left-joined onto the node universe,
   * identity for untouched nodes.
   *
   * @param seedEdges undirected edges as (u, v); orientation, dups and
   *                  self-loops are normalized away on entry
   */
  private[queries] def starContractionComponents(allDocs: DataFrame,
      seedEdges: DataFrame): DataFrame = {
    val s = allDocs.sparkSession
    val parts = parallelism(s)
    val reliable = useReliableCheckpoint(s)
    def ckpt(df: DataFrame): DataFrame =
      roundCheckpoint(df.repartition(parts, col("u")), reliable)
    // canonical high→low orientation, self-loops dropped, deduped
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // large-star: emitted (v, m(u)) pairs have v > u ≥ m(u), so the
    // output is already high→low canonical; m(u) folds in one
    // map-side-combinable min per node
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: the high→low orientation IS Γ⁻; attach u and each of
    // its smaller neighbors to m(u) = min(Γ⁻(u) ∪ {u}) = min neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("u")).agg(min(col("v")).as("mn"))
      e.join(m, "u").select(col("v").as("u"), col("mn").as("v"))
        .unionByName(m.select(col("u"), col("mn").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var edges = ckpt(canon(seedEdges))
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < StarMaxIters) {
      val next = ckpt(smallStar(largeStar(edges)))
      // exact fixpoint: same cardinality and no new edge — both sides are
      // materialized checkpoints, so the counts and the anti-join probe
      // cost one scan each, not a recompute
      converged = next.count() == edges.count() &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      freeCheckpoint(edges)
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge in $StarMaxIters rounds — " +
          "O(log n) convergence is a theorem, so this is a bug, not a " +
          "graph-shape problem")
    // at the fixpoint every non-root has exactly ONE out-edge, to its
    // component's minimum node; untouched nodes label themselves
    val labels = allDocs.select(col("doc_id"))
      .join(edges.select(col("u").as("doc_id"), col("v").as("cc")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("comp"))
    handOffCheckpoint(edges)
    labels
  }

  /**
   * The collapsed near-dup graph the dedup-graph operators share.
   * Supernodes are unique word sets: every member of one set has the same
   * neighbor multiset (its clique siblings plus all members of each
   * near-dup partner set), hence the same degree, component, rank and
   * core membership. Set edges join near-duplicate sets. Built once per
   * query:
   *  - `sp`: set-representative pairs (sa, sb), sid = a set's min
   *    doc_id — checkpointed once, so every consumer re-reads the
   *    materialized pairs. Without that lineage truncation every
   *    iteration's plan NESTS the full pair-generation tree, with its
   *    multi-thousand-entry literal token maps (measured 6 s of pure
   *    driver planning at sf0.1 before any task ran). Its release is
   *    handed to the enclosing query scope: the persisted `act` may be
   *    only partly cached by the probe's limit-collect, so the returned
   *    plans can re-read `sp` until the query's first action ends;
   *  - `edges`: both directions (src, dst) over `sp`;
   *  - `nodes`: (sid, m, members), m = member count — a projection of
   *    `groups`, which the set-graph build already persisted;
   *  - `act`: participating sets (sid, m, cmass, deg) — an intra clique
   *    (m ≥ 2) or ≥ 1 cross edge; cmass = Σ m over partner sets and
   *    deg = (m − 1) + cmass, each member's degree — persisted;
   *  - `small`: the driver fast path — `act`'s rows and the set
   *    adjacency, when both fit [[DriverCollect]]'s cap.
   * `act` and `small` are lazy: [[pipelineDedupGraph]]'s components
   * need only `sp` and `groups`.
   */
  private final class SetGraph(s: SparkSession, dir: String) {
    private val built = Dedup.jaccardSetGraph(Dedup.docWords(s, dir))
    /** The unique-set universe: (lang, members, nw, …) per set. */
    val groups: DataFrame = built._2
    val reliable: Boolean = useReliableCheckpoint(s)
    val sp: DataFrame = roundCheckpoint(built._1
      .select(array_min(col("ma")).as("sa"), array_min(col("mb")).as("sb")), reliable)
    handOffCheckpoint(sp)
    val edges: DataFrame = sp.select(col("sa").as("src"), col("sb").as("dst"))
      .unionByName(sp.select(col("sb").as("src"), col("sa").as("dst")))

    val nodes: DataFrame = groups.select(array_min(col("members")).as("sid"),
      size(col("members")).cast("long").as("m"), col("members"))

    lazy val act: DataFrame = {
      val cmass = edges
        .join(nodes.select(col("sid").as("dst"), col("m").as("md")), "dst")
        .groupBy(col("src")).agg(sum(col("md")).as("cmass"))
      val a = nodes.select(col("sid"), col("m"))
        .join(cmass.withColumnRenamed("src", "sid"), Seq("sid"), "left")
        .select(col("sid"), col("m"), coalesce(col("cmass"), lit(0L)).as("cmass"))
        .filter(col("m") >= 2L || col("cmass") > 0L)
        .withColumn("deg", col("m") - 1 + col("cmass"))
        .transform(cached)
      a
    }

    /** (`act` rows as (sid, m, cmass, deg), sid → partner sids). */
    lazy val small: Option[(Array[Row], Map[Long, List[Long]])] =
      DriverCollect.collectSmall(act).flatMap { actRows =>
        DriverCollect.collectSmall(sp).map { spRows =>
          val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
          spRows.foreach { r =>
            val (a, b) = (r.getLong(0), r.getLong(1))
            adj(a) = b :: adj.getOrElse(a, Nil)
            adj(b) = a :: adj.getOrElse(b, Nil)
          }
          (actRows, adj.toMap)
        }
      }
  }

  /** [[dedupComponents]] without the presentation sort — consumers that
    * immediately re-shuffle (the best-of-cluster window joins and
    * re-partitions by comp_id) must not pay a corpus-wide range sort whose
    * ordering the next exchange destroys. */
  private def dedupComponentsCore(s: SparkSession, dir: String): DataFrame = {
    val (setPairs, groups) = Dedup.jaccardSetGraph(Dedup.docWords(s, dir))
    // persisted across the size probe, so an overflowing probe hands the
    // distributed path materialized pairs; no plan returned by
    // [[connectedComponents]] reads them (the driver path broadcasts a
    // local lookup, the distributed paths end on eager checkpoints)
    val pairs = setPairs
      .select(array_min(col("ma")).as("da"), array_min(col("mb")).as("db"))
      .persist(MEMORY_AND_DISK)
    try componentsFromGraph(s, dir, groups, pairs) finally pairs.unpersist(false)
  }

  /** Collapse → solve → expand: identical word sets collapse to one node
    * (represented by their min doc_id — so the component minimum over
    * representatives IS the component minimum over docs), components run
    * on the unique-set graph (orders of magnitude smaller than the
    * expanded doc-pair graph: a 30-doc boilerplate cluster is 435 doc
    * pairs but ONE node), and membership expands only at the end. Takes
    * the set universe `groups` and its materialized representative pairs
    * (da, db), so [[pipelineDedupGraph]] feeds ONE pair-generation pass to
    * both graph consumers. */
  private def componentsFromGraph(s: SparkSession, dir: String,
      groups: DataFrame, pairs: DataFrame): DataFrame = {
    val reps = groups.select(array_min(col("members")).as("doc_id"))
    val comp = connectedComponents(reps, pairs)
    val grouped = groups
      .select(array_min(col("members")).as("rep"), explode(col("members")).as("doc_id"))
      .join(comp.withColumnRenamed("doc_id", "rep"), "rep")
      .select(col("doc_id"), col("comp"))
    // identity completion: docs outside the pair universe (empty word
    // sets) are their own singleton components.
    // persisted (ownership via QueryCaches): two consumers — the size
    // rollup and the final label join — would each re-run the membership
    // expansion join and the documents scan; the relation is two longs per
    // doc, metadata-sized relative to the corpus it summarizes
    val docComp = load(s, dir, "documents").select(col("doc_id"))
      .join(grouped, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
      .transform(cached)
    val sz = docComp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    docComp.join(sz, "comp")
      .select(col("doc_id"), col("comp").as("comp_id"), col("cluster_size"),
        (col("doc_id") === col("comp")).as("is_canonical"))
  }

  /**
   * Canonical-document selection over the near-dup graph: connected
   * components of the exact same-lang Jaccard pairs (J ≥ 0.8), each doc
   * labelled with its cluster id (the cluster's min doc_id), cluster size,
   * and whether it is the cluster's canonical representative — the doc a
   * curation run keeps.
   */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    dedupComponentsCore(s, dir).orderBy(col("doc_id"))

  /** Deterministic md5-mod-100 bucket of an id — the cross-engine
    * reproducible sampling hash (same family as the ML split). */
  private[graft] def md5Mod100(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** Per-language keep rates (percent) for the training-mix sample:
    * over-sample English, mid-weight the European languages, down-sample
    * the rest. */
  private def sampleRate(lang: Column): Column =
    when(lang === "en", 70).when(lang.isin("de", "fr"), 40).otherwise(20)

  /**
   * Stratified sampling for training-mix control: keep a deterministic
   * per-language fraction of the corpus (md5-mod bucket < stratum rate).
   * Pure scan-local predicate — no shuffle, no state; the same rows are
   * kept on every engine and every run.
   */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .filter(md5Mod100(col("doc_id")) < sampleRate(col("lang")))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /**
   * The composed curation job: exact near-dup removal FIRST (keep the
   * min-doc_id owner of each bag-of-words fingerprint — computed over the
   * full corpus so the canonical choice is stable no matter how the
   * downstream filters change), then the quality filter (≥ 6 words — drop
   * 'low') and the stratified sample, then per-language accounting of
   * what survived. One linear pipeline — scan, one groupBy on the
   * fingerprint, one final agg — the shape a 100 TB curation pass must
   * have. The DuckDB oracle encodes the same dedup-then-filter order.
   */
  def pipelineCuration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = parallelism(s)
    val toks = load(s, dir, "documents")
      .repartition(parts, col("doc_id")) // spread the CPU-heavy tokenize (see Text.dedupBowFp)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(Text.words(col("text"))).cast("long").as("n_ws"),
        Text.bowFp(col("text")).as("bow_fp"))
    // keeper as a window min, not groupBy+self-join: the CPU-heavy
    // tokenize scan above runs ONCE (a self-join consumes the unpersisted
    // relation twice), and the single shuffle is the window's — the same
    // MIN(doc_id) OVER (PARTITION BY bow_fp) spelling as the oracle.
    // NULL fingerprints (empty docs) form one window group, exactly as
    // they formed one groupBy group; their rows die at n_ws >= 6 either way.
    toks
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("bow_fp"))))
      .filter(col("doc_id") === col("keeper") &&
        col("n_ws") >= 6 &&
        md5Mod100(col("doc_id")) < sampleRate(col("lang")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /**
   * Quality-based canonical selection: within each near-dup cluster keep
   * the doc a curation run actually wants — the longest one (word count,
   * doc_id as the deterministic tie-break) — rather than the min-id
   * representative. The per-cluster argmax is ONE map-side-combinable
   * hash aggregate (`max` of a (n_ws, −doc_id) struct — max picks the
   * longest, ties the smallest id), not a partitioned row_number window:
   * an aggregate needs no per-partition sort and collapses each map task
   * to ≤|clusters| rows before the shuffle, where the window formulation
   * sorted every cluster's full membership (and ran a second window for
   * the member count). Singletons are their own best doc either way.
   */
  def curationBestOfCluster(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponentsCore(s, dir).select(col("doc_id"), col("comp_id"))
    val toks = Tables.spreadDocs(s, dir)
      .select(col("doc_id"), size(Text.words(col("text"))).cast("long").as("n_ws"))
    comp.join(toks, "doc_id")
      .groupBy(col("comp_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_ws"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("comp_id"), (-col("b.nd")).as("best_doc"),
        col("b.n_ws").as("best_n_words"), col("n_members"))
      .orderBy(col("comp_id"))
  }

  /**
   * Cross-source contamination check: for every ordered source pair,
   * how many of the first source's documents share a bag-of-words
   * fingerprint with the second — the test-set-leakage scan a training
   * pipeline runs before mixing corpora. The self-join runs on relations
   * COLLAPSED to one row per (fingerprint, source) carrying a doc count:
   * a hot fingerprint (license header, boilerplate page) present m times
   * in source A and n times in source B contributes ONE join row instead
   * of m·n, so the plan stays linear in distinct fingerprints. Each doc
   * has exactly one fingerprint, so `contaminated_docs` =
   * Σ n_docs(source_a) over shared fingerprints and `shared_fingerprints`
   * = the join-row count — identical results to the per-doc join.
   */
  def contaminationCheck(s: SparkSession, dir: String): DataFrame = {
    val parts = parallelism(s)
    val fp = load(s, dir, "documents")
      .repartition(parts, col("doc_id")) // spread the tokenize kernel
      .select(col("doc_id"), col("source"), Text.bowFp(col("text")).as("bow_fp"))
      // NULL fingerprints (empty word set) can never equi-join; drop
      // them before the collapse so they don't shuffle.
      .filter(col("bow_fp").isNotNull)
      // ≤ |sources| rows per fingerprint from here on.
      .groupBy(col("bow_fp"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val a = fp.select(col("bow_fp"), col("source").as("source_a"), col("n_docs").as("n_docs_a"))
    val b = fp.select(col("bow_fp"), col("source").as("source_b"))
    a.join(b, Seq("bow_fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("n_docs_a")).as("contaminated_docs"),
        count(lit(1)).as("shared_fingerprints"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Sample size for the weighted-without-replacement draw. */
  private val WeightedK = 100

  /**
   * Exact-k weighted sampling WITHOUT replacement (Efraimidis–Spirakis
   * A-ES, Inf. Proc. Letters 2006) — the draw a mixture builder runs when
   * it needs EXACTLY k documents with inclusion probability ∝ weight
   * (here character mass), not a Bernoulli thinning whose output size is
   * a binomial draw ([[Text.sampleQualityWeighted]]'s shape): each item
   * gets the key `ln(u)/w` for a per-item uniform u, and the k largest
   * keys ARE a weighted sample without replacement. u derives
   * deterministically from md5(doc_id) (the reproducible-sampling
   * convention — same rows survive on every engine, run and partitioning).
   *
   * Scale shape: the key is a pure scan-local expression (zero shuffle,
   * zero state); the k-largest cut is a TakeOrderedAndProject (per-
   * partition partial top-k, merge at the driver — never a global sort).
   * Determinism: u = (h+1)/2^32 ∈ (0,1] from the first 8 md5 hex chars
   * (u=0 impossible, so ln is total); selection orders on the UNROUNDED
   * key — one ln and two divisions, identical IEEE ops both engines —
   * with doc_id tiebreak; the reported key rounds at 6 dp.
   */
  def sampleWeightedK(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val key = log((h + lit(1L)).cast("double") / lit(4294967296.0)) /
      col("w").cast("double")
    load(s, dir, "documents")
      .filter(col("n_chars").isNotNull && col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("w"))
      .withColumn("es_key", key)
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(WeightedK)
      .select(col("doc_id"), col("source"), col("w"),
        (round(col("es_key"), 6) + lit(0.0)).as("es_key"))
  }

  /** PageRank damping factor (the standard 0.85). */
  private val PrDamping = 0.85
  /** Fixed power-iteration rounds (a fixpoint sweep is data-dependent;
    * the audit wants a reproducible, bounded scan count). */
  private val PrIters = 3
  private val PrTopK = 20

  /**
   * Duplicate-graph PageRank centrality — "which documents are the
   * template hubs": power iteration over the near-dup Jaccard pair graph
   * (the [[dedupComponents]] edge universe), reporting the [[PrTopK]]
   * most central documents. A doc that near-duplicates into MANY other
   * docs across clusters (license boilerplate, navigation chrome, spam
   * templates) accumulates rank that plain cluster size dilutes — the
   * governance scan that names the templates worth a dedicated filter.
   *
   * Scale shape: every iteration runs on the COLLAPSED pair graph (edge
   * endpoints only — never the corpus): one equi-join of the rank
   * relation onto the edge list + one map-side-combined inflow rollup
   * per round, [[PrIters]] rounds total; edge-less docs hold the
   * teleport floor (1−d)/n analytically and never enter the loop
   * (undirected edges mean every graph node both sends and receives, so
   * the node set is iteration-stable). Per-round relations persist and
   * release via [[graft.core.QueryCaches]]. Determinism: contribution
   * terms round at 14 dp and sum as exact DECIMAL; each round's rank
   * rounds at 12 dp before feeding the next (the power-iteration oracle
   * recipe — the DuckDB side is the same chain as one CTE per round);
   * dangling-mass redistribution is deliberately omitted (documented —
   * ranks are comparative, not a probability simplex).
   */
  def dedupGraphPagerank(s: SparkSession, dir: String): DataFrame = {
    val nDocs = load(s, dir, "documents").count()
    if (nDocs == 0) {
      return load(s, dir, "documents")
        .select(col("doc_id"), lit(0L).as("deg"), lit(0.0).as("rank"))
    }
    pagerankFromGraph(new SetGraph(s, dir), nDocs)
  }

  /** [[dedupGraphPagerank]] over an already-built set graph — the
    * [[pipelineDedupGraph]] seam (see [[componentsFromGraph]]). */
  private def pagerankFromGraph(g: SetGraph, nDocs: Long): DataFrame = {
    val s = g.sp.sparkSession
    val base = 0.15 / nDocs.toDouble // (1−d)/n — identical IEEE op in the oracle
    // SUPERNODE iteration ([[SetGraph]]): all members of one set have
    // identical rank every round (by induction), so the power iteration
    // runs on the ≤|unique sets| collapsed graph: deg_S = (m_S−1) + Σ_T m_T,
    // inflow_S = (m_S−1)·t_S + Σ_T m_T·t_T, where t = round(r/deg, 14)
    // as exact DECIMAL and the ·m multiplications are decimal×integer —
    // EXACT, so the result is bit-identical to the member-level sum of m
    // equal terms (the per-pair oracle). At sf0.1 this is 3.9k supernodes
    // and ~50k set edges standing in for 759k member pairs (measured
    // 11.6 s → ~3 s); at 100 TB it is the difference between the
    // iteration scaling with boilerplate CLIQUE AREA versus unique
    // content.
    g.small match {
      case Some((actRows, adj)) =>
        // Driver fast path: the three power-iteration rounds run with the
        // IDENTICAL arithmetic chain — java.math.BigDecimal.valueOf(d)
        // .setScale(n, HALF_UP) is exactly Spark's Round-on-double and
        // double→DECIMAL cast (both go through Double.toString), decimal
        // ×/+ are exact, and Decimal.toDouble is BigDecimal.doubleValue —
        // so every intermediate matches the distributed iteration bit for
        // bit. Saves ~3 jobs per round plus the per-round checkpoint
        // barriers.
        import java.math.{BigDecimal => JBD, RoundingMode}
        def round(d: Double, s: Int): Double =
          JBD.valueOf(d).setScale(s, RoundingMode.HALF_UP).doubleValue
        val m = actRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        val deg = actRows.map(r => r.getLong(0) -> r.getLong(3)).toMap
        val sids = actRows.map(_.getLong(0))
        var r = sids.map(_ -> 1.0 / nDocs.toDouble).toMap
        for (_ <- 1 to PrIters) {
          // t = round(r/deg, 14) then cast DECIMAL(17,16): double →
          // Double.toString → setScale, Spark's exact chain
          val t = r.map { case (v, rv) =>
            v -> JBD.valueOf(round(rv / deg(v).toDouble, 14))
              .setScale(16, RoundingMode.HALF_UP)
          }
          r = sids.map { v =>
            val cself = t(v).multiply(JBD.valueOf(m(v) - 1))
            val cin = adj.getOrElse(v, Nil).iterator
              .map(u => t(u).multiply(JBD.valueOf(m(u))))
              .foldLeft(JBD.ZERO.setScale(16))(_.add(_))
            v -> round(base + PrDamping * cin.add(cself).doubleValue, 12)
          }.toMap
        }
        import s.implicits._
        val lookup = sids.toSeq.map(v => (v, deg(v), r(v)))
          .toDF("sid", "deg", "rank")
        g.nodes.join(broadcast(lookup), Seq("sid"))
          .select(explode(col("members")).as("doc_id"), col("deg"), col("rank"))
          .orderBy(col("rank").desc, col("doc_id"))
          .limit(PrTopK)
      case None =>
        // t as DECIMAL(17,16) (ranks are < 1, so 16 fractional digits is
        // the full 16-dp rounding the member-level DECIMAL(38,16) cast
        // applied) × m as DECIMAL(20,0) → DECIMAL(38,16): precision
        // 17+20+1 = 38 fits EXACTLY — no scale reduction, so t·m is
        // bit-equal to summing m copies of t, which is the member-level
        // oracle's arithmetic.
        val decT = org.apache.spark.sql.types.DataTypes.createDecimalType(17, 16)
        val decM = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 0)
        // per-round checkpoints: the [[iterativeComponents]] lineage
        // discipline
        val edgesC = roundCheckpoint(g.edges, g.reliable)
        var ranks = roundCheckpoint(g.act.select(col("sid").as("v"),
          (lit(1.0) / lit(nDocs.toDouble)).as("r")), g.reliable)
        for (_ <- 1 to PrIters) {
          val withT = ranks
            .join(g.act.withColumnRenamed("sid", "v"), "v")
            .select(col("v"),
              round(col("r") / col("deg").cast("double"), 14).cast(decT).as("t"),
              col("m"))
          val cross = edgesC
            .join(withT.select(col("v").as("src"),
              (col("t") * col("m").cast(decM)).as("c")), "src")
            .groupBy(col("dst")).agg(sum(col("c")).as("cin"))
            .withColumnRenamed("dst", "v")
          val next = roundCheckpoint(withT
            .select(col("v"), (col("t") * (col("m") - 1).cast(decM)).as("cself"))
            .join(cross, Seq("v"), "left")
            .select(col("v"), round(lit(base) + lit(PrDamping) *
              (coalesce(col("cin"),
                lit(java.math.BigDecimal.ZERO)
                  .cast(org.apache.spark.sql.types.DataTypes
                    .createDecimalType(38, 16))) +
                col("cself")).cast("double"), 12).as("r")), g.reliable)
          freeCheckpoint(ranks)
          ranks = next
        }
        // the final round's and the edge list's checkpoint RDDs back the
        // returned plan — hand their release to the enclosing query scope
        handOffCheckpoint(ranks)
        handOffCheckpoint(edgesC)
        // expand supernode ranks back to member documents
        ranks
          .join(g.act.select(col("sid").as("v"), col("deg")), "v")
          .join(g.nodes.select(col("sid").as("v"), col("members")), "v")
          .select(explode(col("members")).as("doc_id"), col("deg"), col("r").as("rank"))
          .orderBy(col("rank").desc, col("doc_id"))
          .limit(PrTopK)
    }
  }

  /**
   * The combined dedup-graph governance report: connected-component
   * labels AND PageRank centrality from ONE pair-generation pass. Run
   * standalone, [[dedupComponents]] and [[dedupGraphPagerank]] each pay
   * the full Jaccard set-graph build (together 10.7 s of the sf0.1
   * suite); the cross-query ownership contract forbids sharing a persist
   * between them, so the sanctioned shape is this composition — the
   * [[SetGraph]] is built and its set pairs materialized ONCE
   * (query-owned), feeding both the component iteration and the power
   * iteration. Output: the [[PrTopK]] most central documents with their
   * cluster id, size, canonicality, degree and rank — "which boilerplate
   * hubs dominate which clusters", the page a dedup governance review
   * reads first.
   */
  def pipelineDedupGraph(s: SparkSession, dir: String): DataFrame = {
    val nDocs = load(s, dir, "documents").count()
    if (nDocs == 0) {
      return load(s, dir, "documents")
        .select(col("doc_id"), col("doc_id").as("comp_id"),
          lit(0L).as("cluster_size"), lit(true).as("is_canonical"),
          lit(0L).as("deg"), lit(0.0).as("rank"))
    }
    val g = new SetGraph(s, dir)
    val comp = componentsFromGraph(s, dir, g.groups,
      g.sp.select(col("sa").as("da"), col("sb").as("db")))
    val pr = pagerankFromGraph(g, nDocs)
    pr.join(comp, Seq("doc_id"))
      .select(col("doc_id"), col("comp_id"), col("cluster_size"),
        col("is_canonical"), col("deg"), col("rank"))
      .orderBy(col("rank").desc, col("doc_id"))
  }

  /** Triangle-enumeration apex budget: an oriented apex with more
    * out-neighbors than this is EXCLUDED from wedge generation and
    * reported in `n_apex_capped` instead (its wedge mass is C(od,2) —
    * quadratic; a handful of mega-clique apexes is exactly where the
    * O(m^1.5) bound stops being a comfort at 100× and where transitivity
    * is trivially high anyway). Wedge volume is ≤ cap·m/2 by
    * construction. The first sf10 run of the UNCAPPED join OOM'd the
    * executor — this cap is the measured consequence, not a guess. */
  private val TriApexOutCap = 32L

  /**
   * Transitivity audit of the near-dup graph — triangle vs wedge counts
   * over the COLLAPSED set graph (supernodes = unique word sets, the
   * [[dedupComponentsCore]] node universe): global clustering coefficient
   * 3·triangles/wedges. High transitivity says the ≥0.8 Jaccard relation
   * forms real near-clique clusters (canonical-doc selection is safe);
   * low transitivity flags CHAINING — components glued by A~B~C paths
   * where A and C are not actually similar, exactly the failure mode that
   * makes min-label components over-merge. Identical-doc cliques are
   * deliberately OUTSIDE the count (they're trivially transitive and
   * O(cluster³) to enumerate); distinct-content structure is the signal.
   *
   * Scale: the standard degree-ordered orientation (each edge directed
   * toward the higher-(degree, id) endpoint) bounds every node's
   * out-degree by O(√m) — and the explicit [[TriApexOutCap]] bounds it
   * ABSOLUTELY: apexes above the cap (mega-clique interiors, which are
   * trivially transitive) are excluded and REPORTED, so wedge volume is
   * ≤ cap·m/2 at any graph size and the enumeration can't OOM. Each
   * triangle is counted exactly once at its minimum-(deg, id) apex;
   * `n_triangles` is exact when `n_apex_capped` = 0 and an honest lower
   * bound otherwise (the coefficient reports NULL rather than a biased
   * value — the capped columns tell the story). Wedge totals stay exact
   * either way (Σ deg(deg−1)/2 — no enumeration). Counts are exact
   * integers, the coefficient one final rounded division.
   */
  def dedupGraphTriangles(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val (setPairs, _) = Dedup.jaccardSetGraph(Dedup.docWords(s, dir))
    // canonical undirected edges between set representatives; distinct
    // guards the invariant the triangle counts need (each edge once) at
    // set-pair cost, not corpus cost
    val edges = setPairs
      .select(least(array_min(col("ma")), array_min(col("mb"))).as("a"),
        greatest(array_min(col("ma")), array_min(col("mb"))).as("b"))
      .distinct()
      .transform(cached)
    // Driver fast path ([[DriverCollect]]): the orientation, wedge
    // generation and closing-edge probe are pure integer logic over the
    // collapsed set graph — below the cap they run on the driver (apex cap
    // and tie-break rules replicated verbatim), and only the final one-row
    // select (with Spark's own round()) builds a plan. Above the cap the
    // distributed enumeration below runs.
    DriverCollect.collectSmall(edges) match {
      case Some(rows) =>
        val deg = scala.collection.mutable.Map.empty[Long, Long]
        rows.foreach { r =>
          deg(r.getLong(0)) = deg.getOrElse(r.getLong(0), 0L) + 1
          deg(r.getLong(1)) = deg.getOrElse(r.getLong(1), 0L) + 1
        }
        // orient a→b toward the higher (deg, id); a<b so ties keep id order
        val oriented = rows.map { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          if (deg(a) <= deg(b)) (a, b) else (b, a)
        }
        val orientedSet = oriented.toSet
        val outN = oriented.groupBy(_._1).map { case (src, es) => src -> es.map(_._2) }
        val nApexCapped = outN.count(_._2.length > TriApexOutCap)
        var nTri = 0L
        outN.foreach { case (_, dsts) =>
          if (dsts.length <= TriApexOutCap) {
            val byOrd = dsts.sortBy(v => (deg(v), v))
            var i = 0
            while (i < byOrd.length) {
              var j = i + 1
              while (j < byOrd.length) {
                if (orientedSet.contains((byOrd(i), byOrd(j)))) nTri += 1
                j += 1
              }
              i += 1
            }
          }
        }
        val twoWedges = deg.valuesIterator
          .foldLeft(java.math.BigDecimal.ZERO)((acc, d) =>
            acc.add(java.math.BigDecimal.valueOf(d)
              .multiply(java.math.BigDecimal.valueOf(d - 1))))
        // identical final expression as the distributed tail, over literals
        return s.range(1).select(
          lit(deg.size.toLong).as("n_nodes"),
          lit(rows.length.toLong).as("n_edges"),
          (lit(twoWedges).cast(d38).cast("double") / lit(2.0d))
            .cast("long").as("n_wedges"),
          lit(nTri).as("n_triangles"),
          lit(nApexCapped.toLong).as("n_apex_capped"),
          round(when(lit(nApexCapped) === 0 &&
              lit(twoWedges).cast(d38).cast("double") / lit(2.0d) > 0,
            lit(3.0d) * lit(nTri.toDouble) /
              (lit(twoWedges).cast(d38).cast("double") / lit(2.0d))), 6)
            .as("transitivity"))
      case None => ()
    }
    val deg = edges.select(col("a").as("u"))
      .unionByName(edges.select(col("b").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .transform(cached)
    // orient a→b toward the higher (deg, id); a<b by construction, so a
    // degree tie keeps the id order
    val oriented = edges
      .join(deg.select(col("u").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") <= col("db"),
        struct(col("a").as("s"), col("b").as("d"), col("db").as("dd")))
        .otherwise(struct(col("b").as("s"), col("a").as("d"), col("da").as("dd"))).as("o"))
      .select(col("o.s").as("src"), col("o.d").as("dst"), col("o.dd").as("dd"))
      .transform(cached)
    // the enumeration budget: apexes above the out-degree cap are
    // excluded from wedge generation and reported, never enumerated
    val outDeg = oriented.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .transform(cached)
    val okApex = outDeg.filter(col("od") <= TriApexOutCap).select(col("src"))
    val o1 = oriented.join(okApex, Seq("src"))
      .select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val o2 = oriented.join(okApex, Seq("src"))
      .select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    // ordered out-neighbor pairs at each (uncapped) apex; the closing
    // edge {v,w} is necessarily oriented v→w since (deg,id)(v) < (deg,id)(w)
    val tri = o1.join(o2, Seq("src"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("v"), col("w"))
      .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_triangles").as("metric"), col("value"))
    val capStats = outDeg.agg(
        coalesce(sum(when(col("od") > TriApexOutCap, 1L).otherwise(0L)), lit(0L))
          .cast("double").as("value"))
      .select(lit("n_apex_capped").as("metric"), col("value"))
    val degStats = deg.agg(count(lit(1)).cast("double").as("nn"),
        sum(col("deg").cast(d38) * (col("deg") - 1L)).as("tw"))
      .select(explode(array(
        struct(lit("n_nodes").as("metric"), col("nn").as("value")),
        struct(lit("n_wedges").as("metric"),
          (coalesce(col("tw"), lit(0L).cast(d38)).cast("double") / lit(2.0d))
            .as("value")))).as("kv"))
      .select(col("kv.metric").as("metric"), col("kv.value").as("value"))
    val edgeStats = edges.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("n_edges").as("metric"), col("value"))
    degStats.unionByName(edgeStats).unionByName(tri).unionByName(capStats)
      .agg(max(when(col("metric") === "n_nodes", col("value"))).as("nn"),
        max(when(col("metric") === "n_edges", col("value"))).as("ne"),
        max(when(col("metric") === "n_wedges", col("value"))).as("nw"),
        max(when(col("metric") === "n_triangles", col("value"))).as("nt"),
        max(when(col("metric") === "n_apex_capped", col("value"))).as("nc"))
      .select(col("nn").cast("long").as("n_nodes"),
        col("ne").cast("long").as("n_edges"),
        col("nw").cast("long").as("n_wedges"),
        col("nt").cast("long").as("n_triangles"),
        col("nc").cast("long").as("n_apex_capped"),
        round(when(col("nc") === 0 && col("nw") > 0,
          lit(3.0d) * col("nt") / col("nw")), 6).as("transitivity"))
  }

  /**
   * Source-mixing modularity of the near-dup graph — for every source,
   * its endpoint-degree mass, its intra-source edge count, and its
   * contribution eₛ/m − (dₛ/2m)² to Newman modularity of the SOURCE
   * partition. Q ≈ 0 says near-duplication ignores source boundaries
   * (cross-source syndication — dedup BEFORE mixing or the mixture
   * weights double-count); Q near its maximum says dups live inside
   * sources (per-source dedup suffices, a much cheaper 100 TB plan).
   * This is the number that decides WHERE the dedup pass runs.
   *
   * Scale: the doc-pair relation is the family's verified boundary (the
   * [[Dedup]] band/prefix-bounded pair generator — never all-pairs); the
   * rollup collapses it to |sources| rows before any math, and the
   * global 2m folds in via a deliberate zeroPart window over that
   * metadata-sized relation. Counts exact; two rounded divisions per row.
   */
  def dedupGraphModularity(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardPairs(Dedup.docWords(s, dir))
    val srcs = Tables.spreadDocs(s, dir).select(col("doc_id"), col("source"))
    val e = pairs.select(col("da"), col("db"))
      .join(srcs.select(col("doc_id").as("da"), col("source").as("sa")), "da")
      .join(srcs.select(col("doc_id").as("db"), col("source").as("sb")), "db")
      .transform(cached)
    val dtot = e.select(col("sa").as("source"))
      .unionByName(e.select(col("sb").as("source")))
      .groupBy(col("source")).agg(count(lit(1)).as("d_tot"))
    val intra = e.filter(col("sa") <=> col("sb"))
      .groupBy(col("sa").as("source")).agg(count(lit(1)).as("intra_edges"))
    // null-safe source join: an unattributed slice is still a partition
    // cell, and both engines must put it in the SAME cell
    val per = dtot.alias("t")
      .join(intra.alias("i"), col("t.source") <=> col("i.source"), "left")
      .select(col("t.source").as("source"), col("d_tot"),
        coalesce(col("i.intra_edges"), lit(0L)).as("intra_edges"))
    val zw = Window.partitionBy(Tables.zeroPart(col("source")))
    per.withColumn("two_m", sum(col("d_tot")).over(zw))
      .select(col("source"), col("d_tot"), col("intra_edges"),
        round(when(col("two_m") > 0,
          lit(2.0d) * col("intra_edges").cast("double") / col("two_m").cast("double")
            - (col("d_tot").cast("double") / col("two_m").cast("double"))
              * (col("d_tot").cast("double") / col("two_m").cast("double"))), 6)
          .as("q_contrib"))
      .orderBy(col("source"))
  }

  /**
   * Token-weighted dedup impact by source — the sizing table a 100 TB
   * curation plan reads before scheduling the dedup pass: per source, how
   * many documents and how many TOKENS the canonical-only corpus drops
   * (min-id canonical, the [[dedupComponents]] convention). Doc counts
   * alone mislead — a source whose dups are its longest documents loses
   * far more training mass than its dup RATE suggests; token accounting
   * is what the mixture re-weighting actually consumes.
   *
   * Scale: the component labels are the [[dedupComponentsCore]] relation
   * (collapse → solve → expand, two longs per doc); the token counts ride
   * the documents scan once; one |sources|-group rollup. Exact integer
   * sums, one rounded percentage.
   */
  def dedupTokenSavings(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponentsCore(s, dir)
      .select(col("doc_id"), col("is_canonical"))
    val toks = Tables.spreadDocs(s, dir)
      .select(col("doc_id"), col("source"),
        size(Text.words(col("text"))).cast("long").as("n_ws"))
    comp.join(toks, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("is_canonical"), 1L).otherwise(0L)).as("n_dropped"),
        sum(col("n_ws")).as("tokens_total"),
        sum(when(!col("is_canonical"), col("n_ws")).otherwise(0L)).as("tokens_dropped"))
      .withColumn("savings_pct", when(col("tokens_total") > 0,
        round(lit(100.0d) * col("tokens_dropped").cast("double") /
          col("tokens_total").cast("double"), 6)))
      .orderBy(col("source"))
  }

  /** Fixed peel budget for [[dedupGraphKcore]] — both engines run exactly
    * this many rounds and publish a convergence flag, so a
    * deeper-than-budget peel is VISIBLE, never silently wrong. */
  private[queries] val KcorePeelRounds = 8

  /** The bounded 2-core peel loop on a directed-both-ways edge relation
    * (s, d): runs the fixed [[KcorePeelRounds]] schedule with an early
    * exit once the survivor count stabilizes (peeling is monotone, so
    * count-stable = set-stable = the round-R set). Returns the surviving
    * node set and whether rounds R−1 and R agree. Factored out so specs
    * can drive it with synthetic graphs (chains that exhaust the budget,
    * cliques that converge immediately) without a document corpus. */
  private[queries] def kcorePeel(edges: DataFrame, deg0: DataFrame)
      : (DataFrame, Boolean) = {
    // rounds eagerly checkpoint (lineage truncation): a per-round persist
    // NESTS every earlier round's plan into the next — by round 8 the
    // plan string alone OOMs the driver (the r11 finding that motivated
    // the [[kcorePeelSuper]] rewrite; this doc-level reference is kept
    // for the spec's equivalence tests and gets the same discipline)
    var surv = roundCheckpoint(
      deg0.filter(col("deg0") >= 2L).select(col("s")), reliable = false)
    var prevN = surv.count()
    var converged = false
    var i = 2
    while (i <= KcorePeelRounds && !converged) {
      val next = roundCheckpoint(edges
        .join(surv, Seq("s"), "left_semi")
        .join(surv.select(col("s").as("d")), Seq("d"), "left_semi")
        .groupBy(col("s")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2L).select(col("s")), reliable = false)
      val n = next.count()
      if (n == prevN) converged = true
      prevN = n
      freeCheckpoint(surv)
      surv = next
      i += 1
    }
    handOffCheckpoint(surv)
    (surv, converged)
  }

  /** SUPERNODE form of [[kcorePeel]] (optimization r11): the peel runs on
    * the COLLAPSED unique-word-set graph instead of the expanded doc-pair
    * graph. Exactness argument (the [[pagerankFromGraph]] exchangeability
    * induction): every member of one unique word set has the same neighbor
    * multiset — (m_S − 1) clique siblings plus all m_T members of each
    * qualifying partner set — so all members share one degree, survive or
    * peel together, and the doc-level round
    * `surv_{i+1} = {u ∈ surv_i : deg_within(surv_i)(u) ≥ 2}` collapses to
    * the set-level round
    * `surv_{i+1} = {S ∈ surv_i : (m_S − 1) + Σ_{T ∈ adj(S) ∩ surv_i} m_T ≥ 2}`.
    * The early exit compares DOC counts (Σ m over surviving sets), the
    * same scalar the doc-level loop counted; peeling is monotone, so
    * count-stable = set-stable. Rounds eagerly checkpoint ([[roundCheckpoint]]
    * — the [[iterativeComponents]] lineage discipline): with a per-round
    * persist instead, round R's plan NESTS every earlier round plus the
    * full pair-generation tree (measured: a 139k-line final plan and a
    * 725 s cache-free re-execution at sf0.1).
    *
    * @param act   participating sets: (sid, m) — m ≥ 2 or ≥ 1 cross edge
    * @param edges set-level directed edges (src, dst), both directions
    * @return (surviving (sid, m) — checkpointed, release via
    *         [[handOffCheckpoint]] —, converged flag) */
  private[queries] def kcorePeelSuper(act: DataFrame, edges: DataFrame,
      reliable: Boolean): (DataFrame, Boolean) = {
    def docCount(df: DataFrame): Long =
      df.agg(coalesce(sum(col("m")), lit(0L))).first().getLong(0)
    var surv = roundCheckpoint(
      act.filter(col("m") - 1 + col("cmass") >= 2L).select(col("sid"), col("m")),
      reliable)
    var prevN = docCount(surv)
    var converged = false
    var i = 2
    while (i <= KcorePeelRounds && !converged) {
      val cm = edges
        .join(surv.select(col("sid").as("dst"), col("m").as("md")), "dst")
        .groupBy(col("src")).agg(sum(col("md")).as("cm"))
      val next = roundCheckpoint(
        surv.join(cm.withColumnRenamed("src", "sid"), Seq("sid"), "left")
          .filter(col("m") - 1 + coalesce(col("cm"), lit(0L)) >= 2L)
          .select(col("sid"), col("m")),
        reliable)
      val n = docCount(next)
      if (n == prevN) converged = true
      prevN = n
      freeCheckpoint(surv)
      surv = next
      i += 1
    }
    (surv, converged)
  }

  // ---------------------------------------------------------------------
  // dedup_graph_kcore — 2-core of the dup-pair graph (bounded peeling)
  // ---------------------------------------------------------------------

  /**
   * 2-core decomposition of the Jaccard dup-pair graph: iteratively peel
   * nodes with degree < 2 until fixpoint (bounded at
   * [[KcorePeelRounds]] rounds) — the dense-dup-community detector that
   * separates PAIRWISE accidents (a doc with one near-dup — deg-1
   * pendant, gone after one peel) from template FAMILIES (mutually-
   * near-dup clusters, which survive every peel). The 2-core is exactly
   * the part of the graph where [[dedupGraphTriangles]] and
   * [[dedupGraphModularity]] read their structure; a curation planner
   * treats in-core docs as template populations (drop-all-but-one) and
   * pendants as ordinary near-dup pairs (keep-best).
   *
   * Correctness: both engines run the IDENTICAL fixed peel schedule
   * (s_{i+1} = {v ∈ s_i : deg within s_i ≥ 2}); `converged` reports
   * whether rounds R−1 and R agree, so an adversarially deep peel
   * (a long chain burns one round per 2 hops) degrades to a VISIBLE
   * under-peel, never a silent wrong answer. The Spark loop exits early
   * once stable — peeling is monotone, so the early exit IS the round-R
   * set. Scale: each round is one semi-join-bounded degree count over
   * the capped pair relation (map-side combine; edges are
   * band-bucket-bounded upstream), persisted + counted per round — the
   * [[dedupComponents]] checkpoint discipline, but with a FIXED round
   * budget, so no diameter cliff exists here.
   */
  def dedupGraphKcore(s: SparkSession, dir: String): DataFrame = {
    // Optimization r11: peel on the COLLAPSED set graph ([[kcorePeelSuper]]
    // — exactness argued there), never the expanded doc-pair graph. The
    // doc-level answer is reconstructed exactly: every member of set S
    // shares deg0 = (m_S − 1) + Σ_{T adj} m_T (the [[SetGraph]] `deg`),
    // the survive/peel decision, and the final core degree — expansion is
    // one explode at the end. A set graph that fits [[DriverCollect]]'s
    // cap peels on the DRIVER (no per-round distributed jobs at all);
    // above it the distributed supernode peel runs.
    // Before: 10.9 s at sf0.1 (expanded edges persisted per round, plan
    // nesting); after: see OPTIMIZATION_r11.md.
    val g = new SetGraph(s, dir)
    g.small match {
      case Some((actRows, adj)) =>
        val m = actRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        def docCount(surv: Set[Long]): Long = surv.iterator.map(m).sum
        var surv = actRows.filter(_.getLong(3) >= 2L).map(_.getLong(0)).toSet
        var prevN = docCount(surv)
        var converged = false
        var i = 2
        while (i <= KcorePeelRounds && !converged) {
          val next = surv.filter(sid => m(sid) - 1 +
            adj.getOrElse(sid, Nil).iterator.filter(surv).map(m).sum >= 2L)
          val n = docCount(next)
          if (n == prevN) converged = true
          prevN = n
          surv = next
          i += 1
        }
        val survF = surv
        val lookup = actRows.toSeq.map { r =>
          val sid = r.getLong(0)
          val ic = survF.contains(sid)
          val coreDeg = if (ic) m(sid) - 1 +
            adj.getOrElse(sid, Nil).iterator.filter(survF).map(m).sum
          else 0L
          (sid, r.getLong(3), ic, coreDeg)
        }
        import s.implicits._
        g.nodes.join(broadcast(lookup
            .toDF("sid", "deg0", "in_core2", "core_deg")), Seq("sid"))
          .select(explode(col("members")).as("doc_id"), col("deg0"),
            col("in_core2"), col("core_deg"), lit(converged).as("converged"))
          .orderBy(col("doc_id"))
      case None =>
        val edgesC = roundCheckpoint(g.edges, g.reliable)
        val (surv, converged) = kcorePeelSuper(g.act, edgesC, g.reliable)
        // core degree within the FINAL survivor set, survivors only
        val cmR = edgesC
          .join(surv.select(col("sid").as("dst"), col("m").as("md")), "dst")
          .groupBy(col("src")).agg(sum(col("md")).as("cmr"))
        val res = g.act
          .join(surv.select(col("sid"), lit(true).as("ic")), Seq("sid"), "left")
          .join(cmR.withColumnRenamed("src", "sid"), Seq("sid"), "left")
          .join(g.nodes.select(col("sid"), col("members")), Seq("sid"))
          .select(explode(col("members")).as("doc_id"), col("deg").as("deg0"),
            coalesce(col("ic"), lit(false)).as("in_core2"),
            when(coalesce(col("ic"), lit(false)),
              col("m") - 1 + coalesce(col("cmr"), lit(0L))).otherwise(0L)
              .as("core_deg"),
            lit(converged).as("converged"))
          .orderBy(col("doc_id"))
        handOffCheckpoint(edgesC)
        handOffCheckpoint(surv)
        res
    }
  }

  // ---------------------------------------------------------------------
  // dedup_graph_assortativity — degree assortativity of the dup graph
  // ---------------------------------------------------------------------

  /**
   * Degree assortativity coefficient of the Jaccard dup-pair graph
   * (Newman 2002): the Pearson correlation of endpoint degrees over the
   * symmetrized edge list. Positive r ⇒ hubs link to hubs (one giant
   * template family — expect a dense core the [[dedupGraphKcore]] peel
   * retains); negative r ⇒ star shapes (one canonical doc with many
   * pendant variants — components collapse cheaply). The single-number
   * STRUCTURE summary that tells a curation planner which graph regime
   * the cluster machinery is about to face.
   *
   * Exactness: degrees are exact integer counts; the five correlation
   * sums fold in DECIMAL(38,0) (degree products wrap LONG past ~3·10⁹
   * on a hub pair); r is one final double expression, NULL when either
   * marginal is constant (a perfect clique graph). Scale: one degree
   * rollup + two (doc_id)-keyed equi-joins onto the capped pair
   * relation + one global fold — no window, no self-join beyond the
   * edge list itself.
   */
  def dedupGraphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    // Optimization r11: the correlation sums fold on the COLLAPSED
    // [[SetGraph]]. Every member of set S has the same degree
    // D_S = (m_S − 1) + Σ_{T adj} m_T, so over the symmetrized doc-pair
    // edge list (the oracle's relation):
    //   m   = Σ_S m_S·D_S                      (directed edge count)
    //   sx  = sy  = Σ_S m_S·D_S²               (edge set is symmetric)
    //   sxx = syy = Σ_S m_S·D_S³
    //   sxy = Σ_S m_S·D_S·((m_S − 1)·D_S + W_S),  W_S = Σ_{T adj} m_T·D_T
    // — all integer-exact DECIMAL folds, so the five sums are bit-equal to
    // the doc-level aggregation and the final double expression is the
    // oracle's. Before: 5.6 s at sf0.1 (expanded + two degree joins over
    // the doc-pair list); after: see OPTIMIZATION_r11.md.
    val g = new SetGraph(s, dir)
    g.small match {
      case Some((actRows, adj)) =>
        // Driver fast path: the folds are pure integer arithmetic — below
        // the cap they run as exact BigInteger sums on the driver
        // (bit-equal: the distributed DECIMAL(38,0) folds are the same
        // integers, and below the cap no sum can approach the 10^38
        // overflow bound), and the final division reuses Spark's own
        // expression over literals.
        import java.math.BigInteger
        val m = actRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        val dg = actRows.map(r => r.getLong(0) -> r.getLong(3)).toMap
        def md(sid: Long) = BigInteger.valueOf(m(sid)).multiply(BigInteger.valueOf(dg(sid)))
        var mDir = 0L
        var sx = BigInteger.ZERO
        var sxx = BigInteger.ZERO
        var sxy = BigInteger.ZERO
        actRows.foreach { r =>
          val sid = r.getLong(0)
          val (mi, di) = (BigInteger.valueOf(m(sid)), BigInteger.valueOf(dg(sid)))
          val w = adj.getOrElse(sid, Nil).foldLeft(BigInteger.ZERO)((acc, t) => acc.add(md(t)))
          mDir += m(sid) * dg(sid)
          sx = sx.add(mi.multiply(di).multiply(di))
          sxx = sxx.add(mi.multiply(di).multiply(di).multiply(di))
          sxy = sxy.add(mi.multiply(di).multiply(
            mi.subtract(BigInteger.ONE).multiply(di).add(w)))
        }
        // identical final expression over literals (Decimal.toDouble is
        // BigDecimal.doubleValue — lit(java BigDecimal) reproduces it)
        def dlit(v: BigInteger) = lit(new java.math.BigDecimal(v)).cast(d38)
        val numL = (dlit(BigInteger.valueOf(mDir)) * dlit(sxy) - dlit(sx) * dlit(sx))
          .cast("double")
        val dxL = (dlit(BigInteger.valueOf(mDir)) * dlit(sxx) - dlit(sx) * dlit(sx))
          .cast("double")
        s.range(1).select(lit(mDir).as("m_directed"),
          (round(when(lit(mDir) > 0L && dxL > 0,
            numL / (sqrt(dxL) * sqrt(dxL))), 6) + lit(0.0)).as("assortativity"))
      case None =>
        // W_S = Σ_{T adj S} m_T·D_T (exact decimal; one set-edge join)
        val act = g.act
        val gs = act
          .join(g.edges
            .join(act.select(col("sid").as("dst"),
              (col("m").cast(d38) * col("deg")).as("md")), "dst")
            .groupBy(col("src")).agg(sum(col("md")).as("w"))
            .withColumnRenamed("src", "sid"), Seq("sid"), "left")
          .agg(coalesce(sum(col("m") * col("deg")), lit(0L)).as("m"),
            sum(col("m").cast(d38) * col("deg") * col("deg")).as("sx"),
            sum(col("m").cast(d38) * col("deg") * col("deg") * col("deg")).as("sxx"),
            sum(col("m").cast(d38) * col("deg") *
              ((col("m") - 1).cast(d38) * col("deg") +
                coalesce(col("w"), lit(0L).cast(d38)))).as("sxy"))
        val num = (col("m").cast(d38) * col("sxy") - col("sx") * col("sx"))
          .cast("double")
        val dx = (col("m").cast(d38) * col("sxx") - col("sx") * col("sx"))
          .cast("double")
        // dy == dx exactly (the directed edge set is symmetric, so sy = sx
        // and syy = sxx as integers on both engines) — the oracle's
        // sqrt(dx)·sqrt(dy) is bit-equal to sqrt(dx)·sqrt(dx)
        gs.select(col("m").as("m_directed"),
          (round(when(col("m") > 0L && dx > 0,
            num / (sqrt(dx) * sqrt(dx))), 6) + lit(0.0)).as("assortativity"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_graph_assortativity" -> (dedupGraphAssortativity _),
    "dedup_graph_kcore" -> (dedupGraphKcore _),
    "pipeline_dedup_graph" -> (pipelineDedupGraph _),
    "dedup_graph_pagerank" -> (dedupGraphPagerank _),
    "dedup_graph_triangles" -> (dedupGraphTriangles _),
    "dedup_graph_modularity" -> (dedupGraphModularity _),
    "dedup_token_savings" -> (dedupTokenSavings _),
    "dedup_components" -> (dedupComponents _),
    "sample_weighted_k" -> (sampleWeightedK _),
    "sample_stratified" -> (sampleStratified _),
    "pipeline_curation" -> (pipelineCuration _),
    "curation_best_of_cluster" -> (curationBestOfCluster _),
    "contamination_check" -> (contaminationCheck _))

  /** md5-mod-100 in DuckDB dialect. */
  private[queries] def duckMd5Mod100(c: String): String =
    s"CAST(CAST('0x' || substring(md5(CAST($c AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 100"

  private val duckRate =
    "CASE lang WHEN 'en' THEN 70 WHEN 'de' THEN 40 WHEN 'fr' THEN 40 ELSE 20 END"

  /** Transitive closure of the Jaccard pair graph → per-doc min label
    * (DuckDB recursive CTE; the Spark side computes the same fixpoint by
    * distributed propagation). */
  private val duckComp =
    s"""pairsq AS (${Dedup.jaccardWordsPairsSql}),
       |edges AS (SELECT da AS s, db AS d FROM pairsq UNION ALL SELECT db, da FROM pairsq),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |minr AS (SELECT s AS doc_id, MIN(d) AS mind FROM reach GROUP BY s),
       |comp AS (
       |  SELECT d.doc_id, LEAST(d.doc_id, COALESCE(m.mind, d.doc_id)) AS comp_id
       |  FROM (SELECT doc_id FROM documents) d LEFT JOIN minr m USING (doc_id))""".stripMargin

  /** One PageRank round as a DuckDB CTE — the chained-CTE oracle recipe
    * (each round reads the previous round's 12-dp fixpoint). */
  private def prIterSql(prev: String, iter: String,
      edgesRel: String = "edges"): String =
    s"""$iter AS (
       |  SELECT e.dst AS v,
       |    round(0.15 / CAST(nn.n AS DOUBLE) + $PrDamping *
       |      CAST(SUM(CAST(round(p.r / CAST(d.deg AS DOUBLE), 14)
       |        AS DECIMAL(38,16))) AS DOUBLE), 12) AS r
       |  FROM $edgesRel e JOIN $prev p ON e.src = p.v
       |    JOIN deg d ON e.src = d.src CROSS JOIN nn
       |  GROUP BY e.dst, nn.n)""".stripMargin

  /** One 2-core peel round as a DuckDB CTE: survivors of `prev` whose
    * degree WITHIN `prev` is still ≥ 2. */
  private def kcorePeelSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT e.s FROM edges e
       |  JOIN $prev a ON e.s = a.s JOIN $prev b ON e.d = b.s
       |  GROUP BY e.s HAVING COUNT(1) >= 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_graph_assortativity" ->
      s"""WITH pairsq AS MATERIALIZED (${Dedup.jaccardWordsPairsSql}),
         |edges AS MATERIALIZED (SELECT da AS s, db AS d FROM pairsq
         |          UNION ALL SELECT db, da FROM pairsq),
         |deg AS MATERIALIZED (SELECT s, CAST(COUNT(1) AS BIGINT) AS dg
         |       FROM edges GROUP BY s),
         |g AS (
         |  SELECT CAST(COUNT(1) AS BIGINT) AS m,
         |    SUM(CAST(a.dg AS DECIMAL(38,0))) AS sx,
         |    SUM(CAST(b.dg AS DECIMAL(38,0))) AS sy,
         |    SUM(CAST(a.dg AS DECIMAL(38,0)) * b.dg) AS sxy,
         |    SUM(CAST(a.dg AS DECIMAL(38,0)) * a.dg) AS sxx,
         |    SUM(CAST(b.dg AS DECIMAL(38,0)) * b.dg) AS syy
         |  FROM edges e JOIN deg a ON e.s = a.s JOIN deg b ON e.d = b.s)
         |SELECT m AS m_directed,
         |  round(CASE WHEN m > 0
         |      AND CAST(CAST(m AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE) > 0
         |      AND CAST(CAST(m AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE) > 0
         |    THEN CAST(CAST(m AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
         |      / (sqrt(CAST(CAST(m AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE))
         |         * sqrt(CAST(CAST(m AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)))
         |    END, 6) + 0.0 AS assortativity
         |FROM g""".stripMargin,
    "dedup_graph_kcore" ->
      s"""WITH pairsq AS MATERIALIZED (${Dedup.jaccardWordsPairsSql}),
         |edges AS MATERIALIZED (SELECT da AS s, db AS d FROM pairsq
         |          UNION ALL SELECT db, da FROM pairsq),
         |deg0 AS MATERIALIZED (SELECT s, CAST(COUNT(1) AS BIGINT) AS deg0
         |         FROM edges GROUP BY s),
         |s1 AS MATERIALIZED (SELECT s FROM deg0 WHERE deg0 >= 2),
         |${(2 to KcorePeelRounds).map(i => kcorePeelSql(s"s${i - 1}", s"s$i"))
           .mkString(",\n")},
         |core AS (
         |  SELECT e.s, CAST(COUNT(1) AS BIGINT) AS core_deg FROM edges e
         |  JOIN s$KcorePeelRounds a ON e.s = a.s
         |  JOIN s$KcorePeelRounds b ON e.d = b.s
         |  GROUP BY e.s),
         |conv AS (
         |  SELECT (SELECT COUNT(1) FROM s${KcorePeelRounds - 1})
         |    = (SELECT COUNT(1) FROM s$KcorePeelRounds) AS converged)
         |SELECT d.s AS doc_id, d.deg0, (m.s IS NOT NULL) AS in_core2,
         |  CAST(COALESCE(c.core_deg, 0) AS BIGINT) AS core_deg,
         |  conv.converged
         |FROM deg0 d
         |LEFT JOIN s$KcorePeelRounds m ON d.s = m.s
         |LEFT JOIN core c ON d.s = c.s
         |CROSS JOIN conv
         |ORDER BY doc_id""".stripMargin,
    "pipeline_dedup_graph" ->
      s"""WITH RECURSIVE $duckComp,
         |sz AS (SELECT comp_id, COUNT(1) AS cluster_size FROM comp GROUP BY comp_id),
         |pedges AS (SELECT da AS src, db AS dst FROM pairsq
         |           UNION ALL SELECT db, da FROM pairsq),
         |deg AS (SELECT src, CAST(COUNT(1) AS BIGINT) AS deg
         |        FROM pedges GROUP BY src),
         |nn AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM documents),
         |r0 AS (SELECT src AS v, 1.0 / CAST(n AS DOUBLE) AS r FROM deg, nn),
         |${prIterSql("r0", "j1", "pedges")},
         |${prIterSql("j1", "j2", "pedges")},
         |${prIterSql("j2", "j3", "pedges")},
         |pr AS (
         |  SELECT j3.v AS doc_id, d.deg, j3.r AS rank
         |  FROM j3 JOIN deg d ON j3.v = d.src
         |  ORDER BY j3.r DESC, doc_id LIMIT $PrTopK)
         |SELECT pr.doc_id, c.comp_id, sz.cluster_size,
         |  c.doc_id = c.comp_id AS is_canonical, pr.deg, pr.rank
         |FROM pr JOIN comp c USING (doc_id) JOIN sz USING (comp_id)
         |ORDER BY pr.rank DESC, pr.doc_id""".stripMargin,
    "dedup_graph_triangles" ->
      s"""WITH pairsq AS (${Dedup.jaccardWordsPairsSql}),
         |dw2 AS (
         |  SELECT doc_id,
         |    MIN(doc_id) OVER (PARTITION BY lang,
         |      list_sort(list_distinct(list_filter(string_split(text, ' '),
         |        w -> w <> '')))) AS rep
         |  FROM documents
         |  WHERE len(list_filter(string_split(text, ' '), w -> w <> '')) > 0),
         |tedges AS (
         |  SELECT DISTINCT least(ra.rep, rb.rep) AS a, greatest(ra.rep, rb.rep) AS b
         |  FROM pairsq p
         |  JOIN dw2 ra ON p.da = ra.doc_id
         |  JOIN dw2 rb ON p.db = rb.doc_id
         |  WHERE ra.rep <> rb.rep),
         |tdeg AS (
         |  SELECT u, CAST(COUNT(1) AS BIGINT) AS deg FROM (
         |    SELECT a AS u FROM tedges UNION ALL SELECT b FROM tedges)
         |  GROUP BY u),
         |o AS (
         |  SELECT CASE WHEN dda.deg <= ddb.deg THEN a ELSE b END AS src,
         |    CASE WHEN dda.deg <= ddb.deg THEN b ELSE a END AS dst,
         |    CASE WHEN dda.deg <= ddb.deg THEN ddb.deg ELSE dda.deg END AS dd
         |  FROM tedges
         |  JOIN tdeg dda ON tedges.a = dda.u
         |  JOIN tdeg ddb ON tedges.b = ddb.u),
         |odeg AS (SELECT src, CAST(COUNT(1) AS BIGINT) AS od FROM o GROUP BY src),
         |ok AS (SELECT src FROM odeg WHERE od <= $TriApexOutCap),
         |cap AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN od > $TriApexOutCap THEN 1
         |    ELSE 0 END), 0) AS BIGINT) AS n_apex_capped
         |  FROM odeg),
         |tri AS (
         |  SELECT CAST(COUNT(1) AS BIGINT) AS n_triangles
         |  FROM o o1
         |  JOIN ok k1 ON o1.src = k1.src
         |  JOIN o o2 ON o1.src = o2.src
         |    AND (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))
         |  JOIN o oc ON oc.src = o1.dst AND oc.dst = o2.dst),
         |ds AS (
         |  SELECT CAST(COUNT(1) AS BIGINT) AS n_nodes,
         |    CAST(COALESCE(SUM(deg * (deg - 1)), 0) // 2 AS BIGINT) AS n_wedges
         |  FROM tdeg),
         |es AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_edges FROM tedges)
         |SELECT ds.n_nodes, es.n_edges, ds.n_wedges, tri.n_triangles,
         |  cap.n_apex_capped,
         |  round(CASE WHEN cap.n_apex_capped = 0 AND ds.n_wedges > 0 THEN
         |    3.0 * CAST(tri.n_triangles AS DOUBLE) / CAST(ds.n_wedges AS DOUBLE)
         |    END, 6) AS transitivity
         |FROM ds CROSS JOIN es CROSS JOIN tri CROSS JOIN cap""".stripMargin,
    "dedup_graph_modularity" ->
      s"""WITH pairsq AS (${Dedup.jaccardWordsPairsSql}),
         |e AS (
         |  SELECT p.da, p.db, a.source AS sa, b.source AS sb
         |  FROM pairsq p
         |  JOIN documents a ON p.da = a.doc_id
         |  JOIN documents b ON p.db = b.doc_id),
         |dtot AS (
         |  SELECT source, CAST(COUNT(1) AS BIGINT) AS d_tot FROM (
         |    SELECT sa AS source FROM e UNION ALL SELECT sb FROM e)
         |  GROUP BY source),
         |intra AS (
         |  SELECT sa AS source, CAST(COUNT(1) AS BIGINT) AS intra_edges
         |  FROM e WHERE sa IS NOT DISTINCT FROM sb GROUP BY sa),
         |per AS (
         |  SELECT t.source, t.d_tot,
         |    CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges
         |  FROM dtot t
         |  LEFT JOIN intra i ON t.source IS NOT DISTINCT FROM i.source),
         |tm AS (SELECT CAST(SUM(d_tot) AS BIGINT) AS two_m FROM per)
         |SELECT source, d_tot, intra_edges,
         |  round(CASE WHEN two_m > 0 THEN
         |    2.0 * CAST(intra_edges AS DOUBLE) / CAST(two_m AS DOUBLE)
         |    - (CAST(d_tot AS DOUBLE) / CAST(two_m AS DOUBLE))
         |      * (CAST(d_tot AS DOUBLE) / CAST(two_m AS DOUBLE)) END, 6)
         |    AS q_contrib
         |FROM per CROSS JOIN tm ORDER BY source""".stripMargin,
    "dedup_token_savings" ->
      s"""WITH RECURSIVE $duckComp,
         |tok AS (
         |  SELECT doc_id, source,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
         |      AS BIGINT) AS n_ws
         |  FROM documents)
         |SELECT t.source, CAST(COUNT(1) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN c.doc_id <> c.comp_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(SUM(n_ws) AS BIGINT) AS tokens_total,
         |  CAST(SUM(CASE WHEN c.doc_id <> c.comp_id THEN n_ws ELSE 0 END)
         |    AS BIGINT) AS tokens_dropped,
         |  round(CASE WHEN SUM(n_ws) > 0 THEN
         |    100.0 * CAST(SUM(CASE WHEN c.doc_id <> c.comp_id THEN n_ws ELSE 0 END)
         |      AS DOUBLE) / CAST(SUM(n_ws) AS DOUBLE) END, 6) AS savings_pct
         |FROM tok t JOIN comp c USING (doc_id)
         |GROUP BY t.source ORDER BY t.source""".stripMargin,
    "dedup_graph_pagerank" ->
      s"""WITH pairsq AS (${Dedup.jaccardWordsPairsSql}),
         |edges AS (SELECT da AS src, db AS dst FROM pairsq
         |          UNION ALL SELECT db, da FROM pairsq),
         |deg AS (SELECT src, CAST(COUNT(1) AS BIGINT) AS deg
         |        FROM edges GROUP BY src),
         |nn AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM documents),
         |r0 AS (SELECT src AS v, 1.0 / CAST(n AS DOUBLE) AS r FROM deg, nn),
         |${prIterSql("r0", "i1")},
         |${prIterSql("i1", "i2")},
         |${prIterSql("i2", "i3")}
         |SELECT i3.v AS doc_id, d.deg, i3.r AS rank
         |FROM i3 JOIN deg d ON i3.v = d.src
         |ORDER BY i3.r DESC, doc_id LIMIT $PrTopK""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE $duckComp,
         |sz AS (SELECT comp_id, COUNT(1) AS cluster_size FROM comp GROUP BY comp_id)
         |SELECT c.doc_id, c.comp_id, sz.cluster_size,
         |  c.doc_id = c.comp_id AS is_canonical
         |FROM comp c JOIN sz USING (comp_id)
         |ORDER BY c.doc_id""".stripMargin,
    "contamination_check" ->
      """WITH fp AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS bow_fp
        |  FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  COUNT(DISTINCT a.doc_id) AS contaminated_docs,
        |  COUNT(DISTINCT a.bow_fp) AS shared_fingerprints
        |FROM fp a JOIN fp b ON a.bow_fp = b.bow_fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${duckMd5Mod100("doc_id")} < $duckRate
         |ORDER BY doc_id""".stripMargin,
    "sample_weighted_k" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
         |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) AS h
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         |SELECT doc_id, source, w,
         |  round(ln(CAST(h + 1 AS DOUBLE) / 4294967296.0) / CAST(w AS DOUBLE), 6) + 0.0 AS es_key
         |FROM b
         |ORDER BY ln(CAST(h + 1 AS DOUBLE) / 4294967296.0) / CAST(w AS DOUBLE) DESC, doc_id
         |LIMIT $WeightedK""".stripMargin,
    "curation_best_of_cluster" ->
      s"""WITH RECURSIVE $duckComp,
         |toks AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_ws
         |  FROM documents),
         |ranked AS (
         |  SELECT c.comp_id, t.doc_id, t.n_ws,
         |    ROW_NUMBER() OVER (PARTITION BY c.comp_id ORDER BY t.n_ws DESC, t.doc_id ASC) AS rn,
         |    COUNT(1) OVER (PARTITION BY c.comp_id) AS n_members
         |  FROM comp c JOIN toks t USING (doc_id))
         |SELECT comp_id, doc_id AS best_doc, n_ws AS best_n_words, n_members
         |FROM ranked WHERE rn = 1 ORDER BY comp_id""".stripMargin,
    "pipeline_curation" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_ws,
         |    md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS bow_fp
         |  FROM documents),
         |keep AS (
         |  SELECT *, MIN(doc_id) OVER (PARTITION BY bow_fp) AS keeper FROM toks)
         |SELECT lang, COUNT(1) AS n_docs,
         |  CAST(SUM(n_ws) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM keep
         |WHERE doc_id = keeper AND n_ws >= 6
         |AND ${duckMd5Mod100("doc_id")} < $duckRate
         |GROUP BY lang ORDER BY lang""".stripMargin)
}
