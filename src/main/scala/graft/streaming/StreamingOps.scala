package graft.streaming

import java.sql.Timestamp

import graft.core.QueryCaches.cached
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Event-time streaming operators (builder brief §streaming): the
 * Spark-native upgrade of the reference's batch event analytics to
 * unbounded inputs — `readStream` → transform → `writeStream`, with
 * watermarks bounding state and `flatMapGroupsWithState` carrying custom
 * per-key session state.
 *
 * Each operator is the streaming twin of an oracle-checked batch query
 * (q25_hour_buckets, q21_sessionize, dedup_bow_fp), and
 * StreamingOpsSpec proves parity: feeding the same rows through the
 * streaming path yields the batch result once the watermark closes.
 *
 * Scale design: all three shapes are the canonical unbounded-state-safe
 * patterns — windowed aggregation state is bounded by (watermark ÷ window)
 * buckets per key; sessions die at watermark + gap via event-time timeout;
 * dedup state holds one fingerprint per in-watermark document. Nothing
 * accumulates forever, so a 1000-executor cluster can run them
 * indefinitely.
 */
object StreamingOps {

  /** One event on the stream (the `events` table's streaming shape). */
  case class StreamEvent(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  /** A closed session emitted by [[sessionize]]. */
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  /** One open session (micros since epoch). */
  case class SessionState(startUs: Long, endUs: Long, n: Long, total: Double)

  /** Per-user state: ALL open sessions, kept start-ordered. More than one
    * stays open when an in-watermark late event begins an earlier burst —
    * a single-slot state would glue it onto the newer session or lose it. */
  case class SessionBuf(open: Seq[SessionState])

  /**
   * Streaming hourly histogram — event-time tumbling windows with a
   * watermark (q25_hour_buckets unbounded): late data beyond `lateness`
   * is dropped, closed windows emit exactly once in append mode.
   */
  def hourlyCounts(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"))
      // exact DECIMAL sum like the batch twin's dsum: double addition is
      // order-dependent, and micro-batch boundaries would otherwise make
      // the emitted totals differ run to run
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("n"), col("total_value"))

  private val GapUs = 30L * 60 * 1000 * 1000

  /**
   * Streaming 30-minute-gap sessionization (q21_sessionize unbounded):
   * `flatMapGroupsWithState` with event-time timeout.
   *
   * Sessions are interval-merged: each event joins (possibly bridging)
   * every open session within the gap of its timestamp, so out-of-order
   * and in-watermark late events land in the right session — including
   * late events that OPEN an earlier session. A session is emitted only
   * once the watermark passes its end + gap, at which point any event
   * that could still extend it would be beyond the watermark and dropped
   * by Spark anyway — so the emitted sessions are exactly the batch
   * computation's sessions over the non-late events. State per user is
   * bounded by lateness ÷ gap open sessions.
   */
  def sessionize(events: Dataset[StreamEvent], lateness: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[StreamEvent], state: GroupState[SessionBuf]) =>
          // FULL microsecond precision: Timestamp.getTime is millis only —
          // the batch twin compares gaps in micros, so sub-ms must not be
          // truncated or boundary gap decisions diverge. floorDiv/floorMod,
          // not `/`/`%`: truncation toward zero mangles pre-epoch instants
          // by up to a second.
          def micros(t: Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
          def toTs(us: Long): Timestamp = {
            val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000)
            t.setNanos(Math.floorMod(us, 1000000L).toInt * 1000)
            t
          }
          def toSession(st: SessionState): Session =
            Session(userId, toTs(st.startUs), toTs(st.endUs), st.n, st.total)
          var open = state.getOption.map(_.open.toList).getOrElse(Nil)
          // interval-merge this trigger's events (sorted: arrival order
          // within a batch is not event-time order); an event bridging two
          // open sessions fuses them
          rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
            val us = micros(e.ts)
            val (mergeable, rest) = open.partition(s =>
              us >= s.startUs - GapUs && us <= s.endUs + GapUs)
            val merged =
              if (mergeable.isEmpty) SessionState(us, us, 1, e.value)
              else SessionState(
                math.min(mergeable.map(_.startUs).min, us),
                math.max(mergeable.map(_.endUs).max, us),
                mergeable.map(_.n).sum + 1,
                mergeable.map(_.total).sum + e.value)
            open = (merged :: rest).sortBy(_.startUs)
          }
          // emit every session the watermark has sealed. Admissible events
          // have event-time ms >= wm, i.e. µs >= wm*1000; the session is
          // extendable while some admissible µs can still be <= endUs+GapUs,
          // so seal only when floor((endUs+GapUs)/1000) < wm — a floor of
          // endUs alone would seal one tick early when the end carries
          // sub-ms micros (or an event lands exactly on the gap boundary)
          // and a still-admissible event would then spawn a spurious
          // second session the batch twin does not have
          def sealMs(s: SessionState): Long = Math.floorDiv(s.endUs + GapUs, 1000L)
          val wm = state.getCurrentWatermarkMs()
          val (closed, stillOpen) = open.partition(s => sealMs(s) < wm)
          if (stillOpen.isEmpty) state.remove()
          else {
            state.update(SessionBuf(stillOpen))
            // fire at the earliest seal point; strictly above the current
            // watermark (sealMs >= wm here since the session is unsealed)
            state.setTimeoutTimestamp(stillOpen.map(sealMs).min + 1)
          }
          closed.sortBy(_.startUs).map(toSession).iterator
      }
  }

  /**
   * Streaming click→conversion attribution — a watermarked stream-stream
   * interval join, the marketing-attribution shape of the reference's
   * domain (GA4 events to offline conversions) expressed Spark-natively:
   * each conversion matches same-user clicks that happened in the
   * `windowMinutes` before it. Both watermarks plus the time-range
   * condition bound the join state on BOTH sides — clicks expire once the
   * conversion watermark passes click_ts + window, so an unbounded stream
   * holds only the attribution window's worth of state per side.
   */
  def attributionJoin(clicks: DataFrame, conversions: DataFrame,
      windowMinutes: Int = 30, lateness: String = "1 hour"): DataFrame = {
    val c = clicks
      .withWatermark("ts", lateness)
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_type").as("click_type"))
    val v = conversions
      .withWatermark("ts", lateness)
      .select(col("user_id").as("conv_user"), col("ts").as("conv_ts"),
        col("value").as("conv_value"))
    c.join(v,
      col("click_user") === col("conv_user") &&
        col("conv_ts") >= col("click_ts") &&
        col("conv_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("click_user").as("user_id"), col("click_ts"), col("click_type"),
        col("conv_ts"), col("conv_value"))
  }

  /** One event on the sequence stream (adds the `event_id` ordering
    * tiebreak the batch twin uses). */
  case class SeqEvent(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)

  /** One confirmed transition emitted by [[transitionStream]]. */
  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Per-user buffer: (ts_us, event_id, event_type), kept sorted. After
    * draining, exactly ONE event remains (the predecessor of the next
    * arrival); the unsealed tail is bounded by the lateness horizon. */
  case class SeqBuf(events: Seq[(Long, Long, String)])

  /**
   * Streaming behavior-transition extraction — the unbounded twin of
   * [[graft.queries.TrainAudit.seqTransitionMatrix]]: consecutive
   * event-type pairs per user timeline, emitted exactly when the
   * watermark GUARANTEES no admissible event can still land between the
   * two (successor's event-time ms below the watermark) — so the emitted
   * pair stream aggregates to precisely the batch matrix over the
   * non-late events, whatever the arrival order.
   *
   * State per user: one retained predecessor event plus the unsealed
   * tail (bounded by lateness ÷ event spacing) — nothing accumulates
   * over an unbounded run. Pending pairs between already-received events
   * seal via an event-time timeout, not by waiting for the user's next
   * event.
   */
  def transitionStream(events: Dataset[SeqEvent],
      lateness: String = "10 minutes"): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqBuf, Transition](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[SeqEvent], state: GroupState[SeqBuf]) =>
          def micros(t: Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
          val incoming = rows.map(e => (micros(e.ts), e.event_id, e.event_type)).toList
          var buf = (state.getOption.map(_.events.toList).getOrElse(Nil) ++ incoming)
            .sortBy(t => (t._1, t._2))
          val wm = state.getCurrentWatermarkMs()
          // successor sealed ⇔ floor(ts_us/1000) < wm: any event that could
          // still sort between predecessor and successor has ts ≤ the
          // successor's, hence event-time ms < wm — inadmissible, dropped
          // by the watermark before it reaches this group
          def sealedSucc(e: (Long, Long, String)): Boolean =
            Math.floorDiv(e._1, 1000L) < wm
          val out = scala.collection.mutable.ListBuffer.empty[Transition]
          while (buf.lengthCompare(2) >= 0 && sealedSucc(buf(1))) {
            out += Transition(uid, buf.head._3, buf(1)._3)
            buf = buf.tail
          }
          state.update(SeqBuf(buf))
          if (buf.lengthCompare(2) >= 0)
            state.setTimeoutTimestamp(Math.floorDiv(buf(1)._1, 1000L) + 1)
          out.iterator
      }
  }

  /**
   * Streaming exact dedup (dedup_bow_fp unbounded): first occurrence of
   * each content fingerprint passes, repeats within the watermark horizon
   * are dropped. `dropDuplicatesWithinWatermark` keeps fingerprint state
   * only until the watermark passes — the standard bounded-state dedup for
   * a continuously ingesting 100 TB corpus (exact-once per horizon; the
   * batch operators handle full-corpus dedup).
   */
  def dedupByFingerprint(docs: DataFrame, lateness: String = "1 hour"): DataFrame = {
    docs
      // same codegen kernel as the batch twin (the composed higher-order
      // spelling interprets a lambda per word — per micro-batch, forever)
      .withColumn("fp", md5(concat_ws(" ",
        graft.functions.GraftFunctions.shingle_set(col("text"), 1))))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fp")
  }

  /**
   * Streaming NORMALIZED exact dedup (dedup_norm_exact unbounded): the
   * CCNet normalize-then-hash first pass applied at ingest — the same
   * [[graft.queries.Governance.normText]] normalization as the batch twin,
   * so a case/digit/punctuation variant of an already-seen page is dropped
   * inside the watermark horizon. The batch contract's edge carries over:
   * NULL-text and empty-normalization documents are NEVER deduped against
   * each other (their state key falls back to the doc_id, unique by
   * construction — `dropDuplicatesWithinWatermark` would otherwise treat
   * every NULL key as one duplicate class and silently drop all failed
   * extractions after the first).
   */
  def dedupNormalizedStream(docs: DataFrame, lateness: String = "1 hour"): DataFrame = {
    val norm = graft.queries.Governance.normText(col("text"))
    docs
      .withColumn("norm_fp", when(length(norm) > 0, md5(norm)))
      .withColumn("__dk",
        coalesce(col("norm_fp"), concat(lit("id:"), col("doc_id").cast("string"))))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("__dk")
      .drop("__dk")
  }

  /**
   * Streaming benchmark decontamination — the online leg of
   * [[graft.queries.Corpus.decontamOverlap]]: freshly crawled documents
   * are scored against a STATIC benchmark shingle set as they arrive, so
   * contaminated pages are flagged at ingest instead of at the next
   * batch sweep. Same math as the batch twin (distinct benchmark
   * 5-token shingles, per-doc hit fraction, τ verdict), asserted
   * row-identical by the parity spec.
   *
   * Scale/state design: the benchmark set collapses to ONE static row
   * holding the sorted distinct shingle array (benchmarks are tiny
   * relative to the corpus — the batch twin already broadcasts this
   * set), and the stream side is a stream-static cross join against
   * that single row followed by a codegen'd sorted-intersect per
   * document: completely STATELESS — no watermark, no state store,
   * append-mode safe, nothing accumulates. The static row is
   * [[graft.core.QueryCaches.cached]] so micro-batches don't recompute
   * the benchmark scan; the caller's active scope owns it until the
   * caller releases it after stopping the stream.
   */
  def decontaminationStream(newDocs: DataFrame, benchDocs: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions
    import graft.queries.Corpus
    val bench = benchDocs
      .select(explode(GraftFunctions.shingle_set(col("text"),
        Corpus.DecontamShingle)).as("sh"))
      .distinct()
      .agg(sort_array(collect_set(col("sh"))).as("bench_sh"))
      .transform(cached)
    val sha = GraftFunctions.shingle_set(col("text"), Corpus.DecontamShingle)
    val nHit = GraftFunctions
      .sorted_intersect_size(col("sha"), col("bench_sh")).cast("long")
    newDocs
      .select(col("doc_id"), sha.as("sha"))
      .filter(size(col("sha")) > 0)
      .crossJoin(bench)
      .select(col("doc_id"), size(col("sha")).cast("long").as("n_sh"),
        nHit.as("n_hit"))
      .withColumn("overlap_frac",
        col("n_hit").cast("double") / col("n_sh").cast("double"))
      .withColumn("contaminated", col("overlap_frac") >= Corpus.DecontamTau)
  }

  /**
   * Streaming LM quality scoring — the online leg of
   * [[graft.queries.Text.textLmNll]]: freshly ingested documents are
   * scored against the FROZEN corpus bigram LM as they arrive, so
   * garbled/outlier pages carry their cross-entropy from ingest instead
   * of waiting for the next batch sweep (the same frozen-model contract
   * as the fastText-style quality scorer's streaming leg). Bigrams the
   * model never saw score as pure smoothing mass —
   * [[graft.operators.BigramLm]]'s coalesce-0 path, which the batch twin's
   * inner joins make a no-op.
   *
   * Scale/state design: the model is the two static count tables
   * (distinct-bigram-bounded, cached in the caller's scope) and the
   * vocabulary scalar; the stream side is a per-doc bigram explode into a
   * stream-static LEFT join — the only state is the append-mode
   * per-document aggregate, sealed (emitted once, exactly once) when
   * the watermark passes the document's ingest timestamp. Per-bigram
   * terms are rounded then summed as exact DECIMAL, so the streamed
   * figure is bit-identical to the batch twin's regardless of
   * micro-batch partitioning.
   */
  def lmScoreStream(newDocs: DataFrame, corpusDocs: DataFrame,
      lateness: String = "1 hour"): DataFrame = {
    import graft.operators.BigramLm
    val (_, lm) = BigramLm.fit(corpusDocs)
    cached(lm.cu) // every micro-batch's left join reads it
    val scored = newDocs
      .select(col("doc_id"), col("ingest_ts"),
        graft.queries.Text.words(col("text")).as("ws"))
      .withWatermark("ingest_ts", lateness)
    // occurrence-level (m = 1): a per-(doc, bigram) pre-aggregation would
    // be a second stateful aggregation on the stream
    lm.score(BigramLm.explode(scored).withColumn("m", lit(1L)))
      .groupBy(col("doc_id"), col("ingest_ts"))
      .agg(BigramLm.nBigrams, BigramLm.nll)
      .drop("ingest_ts")
  }

  /**
   * Streaming semantic decontamination — the online leg of
   * [[graft.queries.Similarity.decontamSemantic]]: freshly embedded
   * documents are checked against the STATIC benchmark-vector index as
   * they arrive, so a paraphrased benchmark leak is flagged at ingest
   * rather than at the next batch sweep. Same candidate generator
   * (sign-LSH bucket equi-join) and the same per-doc verdict columns as
   * the batch twin, asserted row-identical by the parity spec.
   *
   * Scale/state design: the anchors are driver constants (model
   * parameters) so the stream-side bucket is a pure per-row expression;
   * the static side collapses to the benchmark slice only (bucket, id,
   * vector — benchmark suites are tiny, cached in the caller's scope); the
   * stream-static INNER equi-join keeps no join state, and the only
   * state is the append-mode per-document aggregate sealed when the
   * watermark passes the document's ingest timestamp. Sims round at
   * 6 dp before MAX — the batch contract.
   */
  def semanticDecontamStream(newVecs: DataFrame, staticEmb: DataFrame,
      staticDocs: DataFrame, lateness: String = "1 hour"): DataFrame = {
    import graft.queries.Similarity
    val anchors = Similarity.anchorVecsOf(staticEmb)
    val m = staticEmb
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull &&
        Similarity.noModel(anchors))
      .select(col("vec_id"), Similarity.dArr(col("embedding")).as("v"),
        Similarity.bucketExpr(Similarity.dArr(col("embedding")), anchors)
          .as("bucket"))
      .join(staticDocs.select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
    val bs = m.agg(min(col("source"))).first().getString(0)
    val bsLit = Option(bs).map(lit).getOrElse(lit(null).cast("string"))
    val bench = m.filter(col("source") === bsLit)
      .select(col("bucket").as("bucket_b"), col("vec_id").as("bid"),
        col("v").as("bv"))
      .transform(cached)
    newVecs
      .filter(col("embedding").isNotNull && Similarity.noModel(anchors))
      .select(col("doc_id"), col("ingest_ts"),
        Similarity.dArr(col("embedding")).as("cv"),
        Similarity.bucketExpr(Similarity.dArr(col("embedding")), anchors)
          .as("bucket"))
      .withWatermark("ingest_ts", lateness)
      .join(bench, col("bucket") === col("bucket_b"))
      .withColumn("sim", Similarity.cosine(col("cv"), col("bv")))
      .groupBy(col("doc_id"), col("ingest_ts"))
      .agg(count(lit(1)).as("n_cands"),
        sum(when(col("sim") >= Similarity.CosineDupThreshold, 1L).otherwise(0L))
          .as("n_bench_hits"),
        max(round(col("sim"), 6)).as("max_sim"))
      .select(col("doc_id"), col("n_cands"), col("n_bench_hits"),
        col("max_sim"), (col("n_bench_hits") > 0).as("contaminated"))
  }

  /**
   * Streaming incremental NEAR-dup check (dedup_incremental_md5
   * unbounded): an arriving document stream `(doc_id, text, ingest_ts)`
   * is probed against the STATIC corpus band index through a
   * stream-static equi-join on `(band, key)` — the continuously-ingesting
   * twin of the daily-batch probe, same md5 LSH family end-to-end
   * ([[graft.queries.Dedup.md5BandSignatures]] is per-row codegen only,
   * so the identical signature computation runs legally on the stream).
   *
   * Scale shape: the corpus index is the stored banded relation a
   * production pipeline maintains between ingests (bucket-capped batch
   * side) — both it and the shingle-set relation are PERSISTED here, so
   * the band window and the signature computation run once and every
   * micro-batch probes the materialized result rather than re-scanning
   * the corpus (a stream-static join re-executes an unpersisted static
   * plan per batch). Both are [[graft.core.QueryCaches.cached]], so they
   * belong to the caller's active scope, which the caller releases after
   * stopping the stream. The stream side never shuffles until the
   * candidate dedup, whose state is bounded by the watermark via
   * `dropDuplicatesWithinWatermark`. Exact-Jaccard verification
   * re-joins the static shingle sets by candidate doc id only — corpus
   * text never streams.
   */
  def incrementalDedupStream(newDocs: DataFrame, corpusDocs: DataFrame,
      lateness: String = "1 hour"): DataFrame = {
    import graft.queries.Dedup
    // static side: banded + capped corpus index, and its shingle sets
    val corpusSigs = Dedup.md5BandSignatures(corpusDocs)
    val index = cached(Dedup.cappedBands(corpusSigs
      .select(col("doc_id"), col("mh"), explode(col("bands")).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"), col("mh")))
      .select(col("band"), col("key"),
        col("doc_id").as("old_doc"), col("mh").as("mhb")))
    val corpusShingles = cached(corpusSigs
      .select(col("doc_id").as("old_doc"), col("shingles").as("shb")))
    // stream side: identical per-row signature, then the stream-static
    // probe join; agreement prefilter BEFORE the stateful dedup so state
    // holds only plausible pairs
    val probe = Dedup.md5BandSignatures(newDocs)
      .select(col("doc_id").as("new_doc"), col("ingest_ts"),
        col("shingles").as("sha"), col("mh").as("mha"),
        explode(col("bands")).as("bk"))
      .select(col("new_doc"), col("ingest_ts"), col("sha"), col("mha"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = probe
      .withWatermark("ingest_ts", lateness)
      .join(index, Seq("band", "key"))
      .filter(Dedup.mhAgree >= lit(Dedup.minhashAgreeMin))
      .select(col("new_doc"), col("old_doc"), col("ingest_ts"), col("sha"))
      .dropDuplicatesWithinWatermark("new_doc", "old_doc")
    // exact-Jaccard verify, inline (same math as Dedup.verifyPairs; the
    // corpus shingle sets re-join by surviving candidate id only, and a
    // streaming result can't carry the batch twin's global ORDER BY —
    // the sink orders)
    val inter = graft.functions.GraftFunctions
      .sorted_intersect_size(col("sha"), col("shb")).cast("double")
    cand
      .join(corpusShingles, Seq("old_doc"))
      .withColumn("inter", inter)
      .withColumn("uni",
        (size(col("sha")) + size(col("shb"))).cast("double") - col("inter"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= 0.5)
      .select(col("new_doc"), col("old_doc"), round(col("jac"), 6).as("jac"))
  }

  /**
   * Streaming Count-Min sketch build — the d×w counter matrix of
   * [[graft.queries.Sketch.sketchCmsHeavy]] maintained incrementally
   * over an unbounded token stream (`word` column). The sketch's whole
   * value at stream scale is that its STATE is the d·w counter grid, not
   * the token stream: the aggregation groups on (hash row, bucket), so
   * Spark's state store holds exactly d·w rows forever, no watermark
   * needed, and complete-mode emission republishes the current matrix
   * per micro-batch. Hash rows key on the same disjoint md5 slices as
   * the batch builder, so a drained stream's matrix EQUALS the batch
   * sketch over the same tokens (StreamingOpsSpec pins the parity).
   */
  def cmsStream(tokens: DataFrame, depth: Int = 4, width: Int = 64): DataFrame = {
    val branches = (0 until depth).map { j =>
      tokens.select(lit(j.toLong).as("j"),
        (conv(substring(md5(col("word")), 1 + 8 * j, 8), 16, 10).cast("long")
          % width).as("bucket"))
    }
    branches.reduce(_ unionByName _)
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("bc"))
  }

  /**
   * Streaming E-step of a FROZEN k-means model — the online serving twin
   * of [[graft.workers.CorpusKmeans]]'s assigner (train on last month's
   * corpus as a DAG step, assign this month's ingest as it arrives —
   * the SemDeDup-style routing a continuously-curated corpus needs).
   * Input: a vector ingest stream (`doc_id`, `ingest_ts`, `embedding`);
   * `centDims` is the persisted model table (cid, dim, n, c_new).
   * Output (append, STATELESS): (doc_id, cid, rd2).
   *
   * The assignment mirrors the batch two-level rule bit-for-bit with zero
   * streaming state: the K₁ = ⌈√C⌉ (1 at C ≤ 8) lowest-cid coarse
   * centroids fold in as driver-constant literals, so the stream side's
   * coarse cell is a pure per-row codegen argmin; the static side
   * pre-groups the centroids into ONE row per coarse cell
   * (g → array<struct(cid, cv, cc)>), so the stream-static equi-join on
   * `g` is 1:1 (no fan-out, no join state), and the fine argmin runs as a
   * per-row `aggregate()` over the joined candidate array — same
   * ‖v‖² − 2·v·c + ‖c‖² expansion, same lower-cid tie-break, no
   * stream-side groupBy and therefore no watermark requirement. Scale:
   * state is ZERO rows; the static side is the model (C rows pre-grouped
   * to ≤ K₁ cells); per-row work is Θ(√C + cell size) — the batch
   * assigner's per-member cost, row-at-a-time.
   */
  def kmeansAssignStream(newVecs: DataFrame, centDims: DataFrame): DataFrame = {
    import graft.queries.{KmeansFit, Similarity}
    def dot(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.dot_f64(a, b)
    val cents = KmeansFit.centRelOf(
      centDims.select(col("cid"), col("dim"), col("c_new")))
      .transform(cached)
    val cCount = cents.count()
    val k1 = if (cCount <= 8L) 1L
      else math.max(1L, math.ceil(math.sqrt(cCount.toDouble)).toLong)
    // coarse model: K₁ lowest-cid centroids as driver constants
    val coarse: Seq[(Long, Array[Double])] = cents
      .orderBy(col("cid")).limit(k1.toInt)
      .select(col("cid"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    def cellExpr(v: Column, vv: Column): Column =
      if (coarse.isEmpty) lit(null).cast("long")
      else (-array_max(array(coarse.map { case (gid, gv) =>
        val gl = typedLit(gv)
        val d = vv - lit(2.0) * dot(v, gl) + dot(gl, gl)
        struct((-d).as("nd"), lit(-gid).as("ng"))
      }: _*)).getField("ng")).cast("long")
    // static side: centroids grouped to ONE row per coarse cell
    val cellCents = cents
      .withColumn("g", cellExpr(col("cv"), dot(col("cv"), col("cv"))))
      .groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"), col("cc"))))
        .as("cands"))
      .transform(cached)
    val worst = struct(lit(Double.MaxValue).as("d"), lit(Long.MaxValue).as("cid"))
    newVecs
      .filter(col("embedding").isNotNull && Similarity.noModel(coarse))
      .select(col("doc_id"), Similarity.dArr(col("embedding")).as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("g", cellExpr(col("v"), col("vv")))
      .join(cellCents, Seq("g"))
      .withColumn("b", aggregate(col("cands"), worst, (acc, c) => {
        val d2 = col("vv") - lit(2.0) * dot(col("v"), c.getField("cv")) +
          c.getField("cc")
        when(d2 < acc.getField("d") ||
            (d2 === acc.getField("d") && c.getField("cid") < acc.getField("cid")),
          struct(d2.as("d"), c.getField("cid").as("cid"))).otherwise(acc)
      }))
      .select(col("doc_id"), col("b.cid").as("cid"),
        (round(col("b.d"), 6) + lit(0.0)).as("rd2"))
  }

  /**
   * Streaming histogram quantile sketch — the (source, bucket) count grid
   * of [[graft.queries.Sketch.sketchQuantileAudit]] maintained
   * incrementally over a document ingest stream (`source`, `n_chars`
   * columns). Like [[cmsStream]], the sketch's value at stream scale is
   * that state is the GRID, not the stream: one counter row per
   * (source, bucket), complete-mode emission republishes the current
   * histogram per micro-batch, and a drained stream's grid EQUALS the
   * batch histogram over the same rows (counts add — the mergeability
   * the batch audit certifies). A consumer interpolates p50/p90 from the
   * emitted grid exactly as the batch estimator does.
   */
  def quantileHistStream(docs: DataFrame, width: Long = 64L): DataFrame =
    docs.filter(col("n_chars").isNotNull)
      .groupBy(col("source"),
        expr(s"CAST(n_chars AS BIGINT) DIV $width").as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** A document arriving on the ingest stream (the `documents` table's
    * streaming shape, token count precomputed by the ingest). */
  case class StreamDoc(doc_id: Long, source: String, n_tokens: Long)

  /** One admitted document from [[tokenBudgetStream]], with the source's
    * cumulative token usage after it. */
  case class Admitted(doc_id: Long, source: String, n_tokens: Long,
      used_after: Long)

  /**
   * Stateless streaming mixture sampler — the streaming twin of
   * `mix_weighted`'s keep rule: every arriving document keeps or drops by
   * the SAME md5-mod-100 draw and per-source rate
   * ([[graft.queries.Corpus.mixKeepRate]] — one spelling, the two paths
   * cannot drift). No state, no watermark, no shuffle: the filter a
   * streaming ingest applies before anything stateful sees the row, so
   * it scales to any rate. StreamingOpsSpec pins parity with the batch
   * filter over the same rows.
   */
  def mixSampleStream(docs: DataFrame): DataFrame = docs
    .withColumn("rate", graft.queries.Corpus.mixKeepRate(col("source")))
    .filter(graft.queries.Curation.md5Mod100(col("doc_id")) < col("rate"))

  /**
   * Per-source token-budget admission gate — the streaming counterpart of
   * `mix_token_budget`'s exact prefix sum: each source carries ONE long of
   * state (tokens admitted so far); an arriving document is admitted iff
   * it still fits under `budget`, and an overflowing document is DROPPED,
   * not queued — admission-control semantics (the batch pipeline uses the
   * deterministic prefix-sum fill instead; the stream can't know what
   * hasn't arrived). Within a micro-batch, admission order is doc_id
   * order so replays of the same batches reproduce bit-identically.
   *
   * Scale: state is one counter per source (never grows), keyed
   * shuffle only on `source`; no timeout needed — a budget gate is
   * meaningful for the job's lifetime.
   */
  def tokenBudgetStream(docs: Dataset[StreamDoc], budget: Long): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[StreamDoc], state: GroupState[Long]) =>
          var used = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
            if (used + d.n_tokens <= budget) {
              used += d.n_tokens
              Some(Admitted(d.doc_id, src, d.n_tokens, used))
            } else None
          }
          state.update(used)
          out.iterator
      }
  }
}
