package graft.streaming

import java.sql.Timestamp

import graft.SparkFixture
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import StreamingOps._

/**
 * Event-time streaming semantics, proven against the batch twins: feed
 * rows through MemoryStream micro-batches, advance the watermark with a
 * late sentinel event, and the emitted (append-mode) results must equal
 * the batch computation over the same rows.
 */
class StreamingOpsSpec extends AnyFunSuite with SparkFixture {

  private def ts(minute: Int): Timestamp = new Timestamp(1704067200000L + minute * 60000L)

  test("hourlyCounts: watermark closes hour windows; counts match batch groupBy") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = hourlyCounts(in.toDF()).writeStream
      .format("memory").queryName("hourly").outputMode("append").start()
    try {
      // two events in hour 0, one in hour 1, arriving across two batches
      in.addData(StreamEvent(1, ts(5), "view", 1.0), StreamEvent(2, ts(40), "click", 2.0))
      q.processAllAvailable()
      in.addData(StreamEvent(1, ts(70), "view", 4.0))
      q.processAllAvailable()
      // nothing emitted yet: watermark (max event time − 2 h) hasn't passed
      // the end of hour 0
      assert(s.table("hourly").count() == 0)
      // sentinel 4 hours later pushes the watermark past hours 0 and 1
      in.addData(StreamEvent(9, ts(250), "view", 0.0))
      q.processAllAvailable()
      val rows = s.table("hourly").orderBy("hour_start")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((ts(0), 2L, 3.0), (ts(60), 1L, 4.0)))
    } finally q.stop()
  }

  test("sessionize: gap split + watermark sealing match the batch session logic") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[StreamEvent]
    val q = sessionize(in.toDS()).writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: events at minute 0 and 10 (one session), then minute 50
      // (>30 min gap → a second session); sessions emit only once the
      // watermark passes end + gap, never on arrival
      in.addData(StreamEvent(1, ts(0), "view", 1.0), StreamEvent(1, ts(10), "view", 2.0))
      q.processAllAvailable()
      in.addData(StreamEvent(1, ts(50), "view", 4.0))
      q.processAllAvailable()

      // user 2's far-future events advance the watermark beyond both of
      // user 1's session seals → both emit via event-time timeout
      in.addData(StreamEvent(2, ts(600), "view", 0.0))
      q.processAllAvailable()
      in.addData(StreamEvent(2, ts(610), "view", 0.0)) // extra batch so the new watermark takes effect
      q.processAllAvailable()
      val all = s.table("sessions").as[Session].collect()
        .sortBy(x => (x.user_id, x.session_start.getTime))
      assert(all.toSeq == Seq(
        Session(1, ts(0), ts(10), 2, 3.0),
        Session(1, ts(50), ts(50), 1, 4.0)),
        s"got ${all.toSeq}")
    } finally q.stop()
  }

  test("sessionize: an in-watermark late event lands in (and can open) the right session") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[StreamEvent]
    // 2h lateness: late events arrive well out of order but stay admissible
    val q = sessionize(in.toDS(), lateness = "2 hours").writeStream
      .format("memory").queryName("late_sessions").outputMode("append").start()
    try {
      in.addData(StreamEvent(1, ts(100), "view", 1.0))
      q.processAllAvailable()
      // 5 min EARLIER than the open session start → extends it backwards
      in.addData(StreamEvent(1, ts(95), "view", 2.0))
      q.processAllAvailable()
      // 85 min earlier → separate session BEFORE the open one
      in.addData(StreamEvent(1, ts(10), "view", 4.0))
      q.processAllAvailable()
      // push the watermark far ahead to seal everything
      in.addData(StreamEvent(2, ts(600), "view", 0.0))
      q.processAllAvailable()
      in.addData(StreamEvent(2, ts(610), "view", 0.0))
      q.processAllAvailable()
      val got = s.table("late_sessions").as[Session].collect()
        .filter(_.user_id == 1).sortBy(_.session_start.getTime)
      assert(got.toSeq == Seq(
        Session(1, ts(10), ts(10), 1, 4.0),
        Session(1, ts(95), ts(100), 2, 3.0)),
        s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("attributionJoin: conversions match same-user clicks inside the window only") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val clicks = MemoryStream[StreamEvent]
    val convs = MemoryStream[StreamEvent]
    val joined = attributionJoin(clicks.toDF(), convs.toDF())
    val q = joined.writeStream
      .format("memory").queryName("attrib").outputMode("append").start()
    try {
      // user 1 clicks at minute 0 and 45; conversion at minute 20 should
      // attribute ONLY to the minute-0 click (45 is after the conversion);
      // user 2's conversion has no click at all
      clicks.addData(StreamEvent(1, ts(0), "click", 0.0), StreamEvent(1, ts(45), "click", 0.0))
      convs.addData(StreamEvent(1, ts(20), "purchase", 9.5), StreamEvent(2, ts(21), "purchase", 1.0))
      q.processAllAvailable()
      val rows = s.table("attrib")
        .select("user_id", "click_ts", "conv_value").as[(Long, Timestamp, Double)]
        .collect().toSeq.sorted
      assert(rows == Seq((1L, ts(0), 9.5)))
      // a conversion 25 min after the second click attributes to it (within 30)
      convs.addData(StreamEvent(1, ts(70), "purchase", 3.0))
      q.processAllAvailable()
      val rows2 = s.table("attrib")
        .select("user_id", "click_ts", "conv_value").as[(Long, Timestamp, Double)]
        .collect().toSeq.sorted
      assert(rows2 == Seq((1L, ts(0), 9.5), (1L, ts(45), 3.0)))
    } finally q.stop()
  }

  test("dedupByFingerprint: repeats within the watermark horizon are dropped") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = dedupByFingerprint(docs).writeStream
      .format("memory").queryName("deduped").outputMode("append").start()
    try {
      // doc 2 is a word-permuted duplicate of doc 1 (same word set); doc 3 unique
      in.addData((1L, ts(0), "the quick brown fox"), (2L, ts(1), "brown fox the quick"),
        (3L, ts(2), "something else entirely"))
      q.processAllAvailable()
      val ids = s.table("deduped").select("doc_id").as[Long].collect().sorted
      assert(ids.length == 2 && ids.contains(3L))
      assert(ids.min == 1L || ids.min == 2L) // exactly one of the dup pair survives
    } finally q.stop()
  }

  test("dedupNormalizedStream: variants collapse, NULL/empty-norm docs all pass") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = dedupNormalizedStream(docs).writeStream
      .format("memory").queryName("norm_deduped").outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "Hello World 2024"),
        (2L, ts(1), "hello world 7"),      // same normalization class as 1
        (3L, ts(2), "HELLO, world... 9"),  // same class again
        (4L, ts(3), "hello worlds"),       // different content
        (5L, ts(4), "!!!"),                // empty-norm — must pass
        (6L, ts(5), "???"),                // empty-norm — must ALSO pass
        (7L, ts(6), null.asInstanceOf[String])) // NULL text — must pass
      q.processAllAvailable()
      val ids = s.table("norm_deduped").select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids.count(Set(1L, 2L, 3L)) == 1, "exactly one of the variant class survives")
      assert(Seq(4L, 5L, 6L, 7L).forall(ids.contains),
        "distinct content and every NULL/empty-norm doc pass through")
    } finally q.stop()
  }

  test("incrementalDedupStream: stream-static probe matches the batch incremental check") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // same near-dup geometry as DedupSpec: corpus = base + unrelated,
    // arriving batch = near-dup, exact copy, and a fresh doc
    val base = "spark makes big data processing fast scalable reliable for everyone working with huge datasets every day"
    val nearDup = "spark makes big data processing fast scalable reliable for everyone working with huge datasets every night"
    val unrelated = "completely different words about cooking pasta with tomato sauce basil"
    val fresh = "totally fresh words never seen anywhere in the corpus before now"
    val dir = tmpSfDir()
    writeTable(dir, "documents", Seq(
      (0L, base, "en", "s0", base.length.toLong),
      (3L, unrelated, "en", "s0", unrelated.length.toLong),
      (11L, nearDup, "en", "s9", nearDup.length.toLong),
      (12L, base, "en", "s9", base.length.toLong),
      (13L, fresh, "en", "s9", fresh.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // the batch twin on the same split (s9 is the max source = the batch)
    val expected = graft.queries.Dedup.dedupIncrementalMd5(s, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.contains((12L, 0L, 1.0)),
      "fixture sanity: the exact copy must pair with its corpus original")
    val corpus = s.read.parquet(s"$dir/documents.parquet").filter($"source" === "s0")
    val in = MemoryStream[(Long, String, Timestamp)]
    val stream = in.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = incrementalDedupStream(stream, corpus).writeStream
      .format("memory").queryName("incdedup").outputMode("append").start()
    try {
      in.addData((11L, nearDup, ts(0)), (12L, base, ts(1)))
      q.processAllAvailable()
      in.addData((13L, fresh, ts(30)))
      q.processAllAvailable()
      val got = s.table("incdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected,
        s"stream result $got must equal the batch incremental result $expected")
    } finally q.stop()
  }

  test("transitionStream: sealed pairs aggregate to the batch transition matrix") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expected = graft.queries.TrainAudit.seqTransitionMatrix(s, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(expected.nonEmpty, "fixture sanity: the events table must yield transitions")
    val evs = graft.queries.Tables.events(s, dir)
      .select($"user_id", expr("timestamp_micros(ts DIV 1000)").as("ts"),
        $"event_id", $"event_type")
      .as[SeqEvent].collect().toSeq
    val maxTs = evs.map(_.ts.getTime).max
    val in = MemoryStream[SeqEvent]
    val q = transitionStream(in.toDF().as[SeqEvent]).writeStream
      .format("memory").queryName("trans").outputMode("append").start()
    try {
      // two time-split batches, each internally SHUFFLED — intra-batch
      // arrival order must not matter; the split itself is time-ordered
      // because events the watermark has already passed are dropped by
      // Spark (the contract is parity over the non-late events)
      val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
      val (a, b) = sorted.splitAt(evs.length / 2)
      in.addData(a.sortBy(_.event_id % 7)); q.processAllAvailable()
      in.addData(b.sortBy(_.event_id % 7)); q.processAllAvailable()
      // sentinel a day ahead seals every real pair; second sentinel batch
      // so the advanced watermark takes effect in the state function
      val far = new Timestamp(maxTs + 86400000L)
      in.addData(SeqEvent(999999L, far, 1L, "view")); q.processAllAvailable()
      in.addData(SeqEvent(999999L, new Timestamp(maxTs + 86460000L), 2L, "view"))
      q.processAllAvailable()
      val got = s.table("trans")
        .filter($"user_id" =!= 999999L)
        .groupBy($"from_type", $"to_type").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == expected,
        "streaming sealed transitions must aggregate to the batch matrix")
    } finally q.stop()
  }

  test("lmScoreStream: frozen-model online scores equal the batch LM scan") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch twin: the self-trained corpus LM (stream-side coalesce-0
    // smoothing is a no-op when every scored bigram is in the model)
    val expected = graft.queries.Text.textLmNll(s, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(expected.nonEmpty, "fixture sanity: some doc must have bigrams")
    val docsTbl = s.read.parquet(s"$dir/documents.parquet")
    val rows = docsTbl.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.lmScoreStream(
        in.toDF().toDF("doc_id", "text", "ingest_ts"), docsTbl)
      .writeStream.format("memory").queryName("lmscore").outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      in.addData(a.map { case (id, t) => (id, t, ts(0)) })
      q.processAllAvailable()
      in.addData(b.map { case (id, t) => (id, t, ts(0)) })
      q.processAllAvailable()
      // nothing sealed yet: the watermark hasn't passed ts(0)
      assert(s.table("lmscore").count() == 0)
      // sentinel docs must carry a bigram: Catalyst pushes the
      // size(ws) >= 2 filter BELOW the event-time watermark node, so a
      // single-token row would be dropped before the watermark stats see
      // its timestamp and the watermark would never advance. The
      // sentinels' own groups are excluded from the comparison (the
      // second seals the first; the second itself stays open).
      in.addData(Seq((-1L, "sentinel doc", ts(600))))
      q.processAllAvailable()
      in.addData(Seq((-2L, "sentinel doc", ts(1200))))
      q.processAllAvailable()
      val got = s.table("lmscore").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 >= 0)
        .toSet
      assert(got == expected,
        "streamed LM scores must equal the batch scan bit-for-bit")
    } finally {
      q.stop()
      s.catalog.clearCache()
    }
  }

  test("decontaminationStream: online verdicts equal the batch decontam scan") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch twin: bench = src0, train = the rest
    val expected = graft.queries.Corpus.decontamOverlap(s, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toSet
    assert(expected.exists(_._5), "fixture sanity: some doc must be contaminated")
    val docsTbl = s.read.parquet(s"$dir/documents.parquet")
    val bench = docsTbl.filter($"source" === "src0")
    val train = docsTbl.filter($"source" =!= "src0")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.decontaminationStream(in.toDF().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("decontam").outputMode("append").start()
    try {
      val (a, b) = train.splitAt(train.length / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      val got = s.table("decontam").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
        .toSet
      assert(got == expected,
        "streaming decontamination must equal the batch scan row-for-row")
    } finally {
      q.stop()
      s.catalog.clearCache()
    }
  }

  test("decontaminationStream: the caller's scope releases the static benchmark row after stop") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    s.catalog.clearCache()
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val scope = new graft.core.QueryCaches.CacheScope
    val q = scope(StreamingOps.decontaminationStream(in.toDF().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("decontam_scope").outputMode("append").start())
    try {
      in.addData((2L, "the quick brown fox jumps over the lazy dog again"))
      q.processAllAvailable()
      assert(s.table("decontam_scope").count() == 1)
      assert(!s.sharedState.cacheManager.isEmpty, "the benchmark row is cached while the stream runs")
    } finally q.stop()
    scope.release()
    assert(s.sharedState.cacheManager.isEmpty, "the benchmark row outlived stop() and release()")
  }

  test("decontaminationStream: builds on a fresh session that registered no graft functions") {
    val s = spark.newSession()
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val scope = new graft.core.QueryCaches.CacheScope
    val q = scope(StreamingOps.decontaminationStream(in.toDF().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("decontam_fresh").outputMode("append").start())
    try {
      in.addData((2L, "the quick brown fox jumps over the lazy dog again"),
        (3L, "nothing in this sentence repeats the benchmark text"))
      q.processAllAvailable()
      val got = s.table("decontam_fresh").select("doc_id", "contaminated")
        .as[(Long, Boolean)].collect().toMap
      assert(got == Map(2L -> true, 3L -> false))
    } finally {
      q.stop()
      scope.release()
    }
  }

  test("semanticDecontamStream: online verdicts equal the batch embedding-cosine gate") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expected = graft.queries.Similarity.decontamSemantic(s, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toSet
    assert(expected.nonEmpty, "fixture sanity: some doc must share a bucket with the benchmark")
    val embTbl = s.read.parquet(s"$dir/embeddings.parquet")
    val docsTbl = s.read.parquet(s"$dir/documents.parquet")
    val benchSrc = docsTbl.agg(min($"source")).as[String].head()
    // the stream: every non-benchmark member vector, replayed in two batches
    val train = embTbl.filter($"vec_id" >= 8 && $"embedding".isNotNull)
      .join(docsTbl.filter($"source" =!= benchSrc).select($"doc_id"),
        $"vec_id" === $"doc_id")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = StreamingOps.semanticDecontamStream(
        in.toDF().toDF("doc_id", "embedding", "ingest_ts"), embTbl, docsTbl)
      .writeStream.format("memory").queryName("semdecontam").outputMode("append").start()
    try {
      val (a, b) = train.splitAt(train.length / 2)
      in.addData(a.map { case (id, v) => (id, v, ts(0)) })
      q.processAllAvailable()
      in.addData(b.map { case (id, v) => (id, v, ts(0)) })
      q.processAllAvailable()
      assert(s.table("semdecontam").count() == 0,
        "nothing seals before the watermark passes the ingest timestamps")
      // sentinels advance the watermark (valid embeddings so the rows
      // survive the pre-watermark filters; their own groups stay open or
      // are excluded from the comparison)
      in.addData(Seq((-1L, Array.fill(64)(0.5f), ts(600))))
      q.processAllAvailable()
      in.addData(Seq((-2L, Array.fill(64)(0.5f), ts(1200))))
      q.processAllAvailable()
      val got = s.table("semdecontam").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
        .filter(_._1 >= 0)
        .toSet
      assert(got == expected,
        "streamed semantic-decontamination verdicts must equal the batch twin")
    } finally {
      q.stop()
      s.catalog.clearCache()
    }
  }

  test("cmsStream: drained counter matrix equals the batch sketch; state " +
      "is the d*w grid") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[String]
    val q = cmsStream(in.toDF().toDF("word")).writeStream
      .format("memory").queryName("cms").outputMode("complete").start()
    try {
      val words = Seq("the", "cat", "sat", "on", "the", "mat", "the", "cat")
      in.addData(words.take(5): _*)
      q.processAllAvailable()
      in.addData(words.drop(5): _*)
      q.processAllAvailable()
      val streamed = s.table("cms")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = StreamingOps.cmsStream(words.toDF("word"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        "drained streaming CMS must equal the batch matrix over the same tokens")
      // bounded state: never more than depth * width counter rows
      assert(streamed.size <= 4 * 64)
      // never-undercount at the matrix level: every row's total equals the
      // token count (each token lands in exactly one bucket per row)
      streamed.keys.map(_._1).toSeq.distinct.foreach { j =>
        assert(streamed.filter(_._1._1 == j).values.sum == words.size)
      }
    } finally q.stop()
  }

  test("quantileHistStream: drained grid equals the batch histogram; " +
      "state is one row per (source, bucket)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rows = (1L to 300L).map(i => (s"src${i % 4}", i * 7 % 500))
    val in = MemoryStream[(String, Long)]
    val q = quantileHistStream(in.toDF().toDF("source", "n_chars")).writeStream
      .format("memory").queryName("qhist").outputMode("complete").start()
    try {
      in.addData(rows.take(180): _*)
      q.processAllAvailable()
      in.addData(rows.drop(180): _*)
      q.processAllAvailable()
      val streamed = s.table("qhist").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = quantileHistStream(rows.toDF("source", "n_chars")).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        "drained streaming histogram must equal the batch grid over the same rows")
      // bounded state: one row per (source, bucket) — 4 sources, 500/64+1 buckets
      assert(streamed.size <= 4 * 9)
      // counts conserve: grid total equals the row count
      assert(streamed.values.sum == rows.size)
    } finally q.stop()
  }

  test("kmeansAssignStream: online assignments equal the frozen batch E-step (C > 8 and C <= 8)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // 3 tight 2-d blobs + 9 seeds (the CorpusKmeansSpec geometry) force
    // the two-level C > 8 model; sf0.001 exercises the literal C = 8 one
    val rnd = new scala.util.Random(11)
    def blob(cx: Double, cy: Double, n: Int, base: Long): Seq[(Long, Array[Float])] =
      (0 until n).map(i => (base + i,
        Array((cx + rnd.nextGaussian() * 0.05).toFloat,
          (cy + rnd.nextGaussian() * 0.05).toFloat)))
    val rows = (0L until 9L).map(i => (i,
        Array((i % 3 * 5.0 - 5.0).toFloat, (i / 3 * 5.0 - 5.0).toFloat))) ++
      blob(0, 0, 8, 100L) ++ blob(5, 5, 8, 200L) ++ blob(-5, 5, 8, 300L)
    Seq(("synthetic C>8", rows.toDF("vec_id", "embedding").withColumn("label", lit(0)), 2L),
        ("sf0.001 C=8",
          s.read.parquet("/root/testdata/sf0.001/embeddings.parquet"), 256L))
      .foreach { case (label, emb, target) =>
        val cent = graft.queries.KmeansFit.fit(emb, 2, target)
          .persist()
        val batch = graft.queries.KmeansFit.assignCentroids(emb, cent)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val vecs = emb.filter(col("vec_id") >= 8 && col("embedding").isNotNull)
          .select("vec_id", "embedding")
          .as[(Long, Seq[Float])].collect().toSeq
        val in = MemoryStream[(Long, Seq[Float], Timestamp)]
        val q = kmeansAssignStream(
            in.toDF().toDF("doc_id", "embedding", "ingest_ts"), cent)
          .writeStream.format("memory").queryName("kmassign")
          .outputMode("append").start()
        try {
          val (a, b) = vecs.splitAt(vecs.length / 2)
          in.addData(a.map { case (id, v) => (id, v, ts(0)) })
          q.processAllAvailable()
          in.addData(b.map { case (id, v) => (id, v, ts(60)) })
          q.processAllAvailable()
          val streamed = s.table("kmassign").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
          assert(streamed == batch,
            s"$label: streamed assignments must equal the frozen batch E-step")
          assert(streamed.nonEmpty, s"$label: fixture sanity")
        } finally {
          q.stop()
          s.catalog.clearCache()
        }
      }
  }

  test("mixSampleStream: kept set equals the batch filter over the same rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = (1L to 200L).map(i => StreamDoc(i, s"src${i % 12}", i % 30))
    val in = MemoryStream[StreamDoc]
    val q = mixSampleStream(in.toDF()).writeStream
      .format("memory").queryName("mixsample").outputMode("append").start()
    try {
      in.addData(docs.take(120): _*)
      q.processAllAvailable()
      in.addData(docs.drop(120): _*)
      q.processAllAvailable()
      val streamed = s.table("mixsample").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val batch = mixSampleStream(docs.toDF())
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed == batch, "stream keep set diverged from batch filter")
      assert(streamed.nonEmpty && streamed.size < docs.size,
        "fixture should exercise both keep and drop")
    } finally q.stop()
  }

  test("tokenBudgetStream: per-source budget admits in doc_id order and carries state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[StreamDoc]
    val q = tokenBudgetStream(in.toDS(), budget = 100L).writeStream
      .format("memory").queryName("budget").outputMode("append").start()
    try {
      // batch 1 (out of id order on purpose): sorted admission = 40 then
      // 50 (used 90); 20 would overflow and is dropped, not queued
      in.addData(StreamDoc(2, "a", 50), StreamDoc(1, "a", 40), StreamDoc(3, "a", 20))
      q.processAllAvailable()
      // batch 2: 10 still fits (used 100), then 1 overflows; source b is
      // an independent counter
      in.addData(StreamDoc(4, "a", 10), StreamDoc(5, "a", 1), StreamDoc(6, "b", 99))
      q.processAllAvailable()
      val rows = s.table("budget").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq(
        (1L, "a", 40L, 40L), (2L, "a", 50L, 90L),
        (4L, "a", 10L, 100L), (6L, "b", 99L, 99L)),
        s"got ${rows.toSeq}")
    } finally q.stop()
  }
}
