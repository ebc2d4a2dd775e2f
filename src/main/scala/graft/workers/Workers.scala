package graft.workers

import graft.core.{Dag, Spec, Templates}
import graft.core.Dag.{Worker, WorkerContext}
import graft.core.Spec.WorkerValue
import graft.plans.BqDialect
import graft.sources.BqSchema
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * The worker library (SURVEY §2.1): each reference worker re-expressed on
 * Spark primitives. Tables are addressed by catalog name when registered,
 * otherwise by path (parquet); "GCS" URIs are plain Hadoop-FS paths.
 */
object Workers {

  // ---- param helpers ----
  def str(p: Map[String, WorkerValue], k: String, default: String = ""): String =
    p.get(k).collect {
      case WorkerValue.S(v) => v
      case WorkerValue.I(v) => v.toString
      case WorkerValue.N(v) => v.toString
    }.getOrElse(default)

  def bool(p: Map[String, WorkerValue], k: String, default: Boolean = false): Boolean =
    p.get(k).collect { case WorkerValue.B(v) => v; case WorkerValue.S(v) => v == "1" }.getOrElse(default)

  def num(p: Map[String, WorkerValue], k: String, default: Long = 0L): Long =
    p.get(k).collect {
      case WorkerValue.I(v) => v
      case WorkerValue.N(v) => v.toLong
      case WorkerValue.S(v) if v.trim.nonEmpty => v.trim.toDouble.toLong
    }.getOrElse(default)

  def strList(p: Map[String, WorkerValue], k: String): Seq[String] =
    p.get(k).collect {
      case WorkerValue.SL(v) => v.filter(_.trim.nonEmpty)
      case WorkerValue.S(v) => v.split("\n").toSeq.filter(_.trim.nonEmpty)
    }.getOrElse(Nil)

  /** Table resolution: catalog first, parquet path fallback. */
  /** Source read: path (parquet) or catalog table — same dispatch rule as
    * [[writeTable]] (a path id would not parse as a table identifier). */
  def resolveTable(spark: SparkSession, id: String): DataFrame =
    if (id.contains("/")) spark.read.parquet(id)
    else spark.table(id)

  /** Destination write: catalog table (saveAsTable) or path (parquet). */
  def writeTable(df: DataFrame, dest: String, overwrite: Boolean): Unit = {
    val mode = if (overwrite) SaveMode.Overwrite else SaveMode.Append
    if (dest.contains("/")) df.write.mode(mode).parquet(dest)
    else df.write.mode(mode).saveAsTable(dest)
  }

  /** Commenter (commenter.py:21-32): no-op / forced-failure toggle. */
  final class Commenter(params: Map[String, WorkerValue]) extends Worker {
    def execute(ctx: WorkerContext): Unit = {
      ctx.log(str(params, "comment"))
      if (bool(params, "fail_at_the_end")) throw new RuntimeException("forced failure")
    }
  }

  /**
   * BQScriptExecutor (bq_script_executor.py:23-79): runs a multi-statement
   * standard-SQL script, one statement at a time, after the BQ-dialect
   * rewrite; `dry_run` estimates instead of executing (the reference logs
   * bytes-processed; we surface optimized-plan stats).
   */
  final class SqlScriptExecutor(spark: SparkSession, params: Map[String, WorkerValue]) extends Worker {
    def execute(ctx: WorkerContext): Unit = {
      val script = str(params, "script", str(params, "query"))
      require(script.trim.nonEmpty, "'script' parameter is required")
      if (bool(params, "dry_run")) {
        // objects CREATEd by earlier (parsed-but-not-executed) statements
        // of this same script: a later query referencing one must not fail
        // the dry run — BigQuery's script dry run plans the whole script
        // with intra-script state (bq_script_executor.py:26-36)
        val created = scala.collection.mutable.Set.empty[String]
        val CreateRe = ("(?i)CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?" +
          "(?:TABLE|VIEW|FUNCTION)\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?`?([A-Za-z0-9_.]+)`?").r
        BqDialect.splitStatements(script).foreach { stmt =>
          // spark.sql() EXECUTES command plans (DDL/DML) eagerly — a dry
          // run must only parse + analyze. Commands are validated by the
          // parse alone; pure queries (lazy under sql()) additionally
          // surface optimizer size stats.
          val rewritten = BqDialect.rewrite(stmt)
          val plan = spark.sessionState.sqlParser.parsePlan(rewritten)
          if (plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command]) {
            CreateRe.findFirstMatchIn(rewritten).foreach { m =>
              val name = m.group(1)
              created += name
              created += name.split('.').last // unqualified references too
            }
            ctx.log("Dry run: statement parsed (command — not executed)")
          } else {
            try {
              val bytes = BqDialect.sql(spark, stmt).queryExecution.optimizedPlan.stats.sizeInBytes
              ctx.log(s"Dry run: estimated $bytes bytes processed")
            } catch {
              // ONLY a missing-relation error naming a created object is
              // forgiven — matching on the error condition + the exact
              // relation name, never message substrings (a created name
              // like "t" appears in almost any error text)
              case e: org.apache.spark.sql.AnalysisException
                  if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" && {
                    val rel = Option(e.getMessageParameters.get("relationName"))
                      .getOrElse("").replace("`", "")
                    created.contains(rel) || created.contains(rel.split('.').last)
                  } =>
                ctx.log("Dry run: statement parsed (references an object " +
                  "created earlier in this script — analysis skipped)")
            }
          }
        }
      } else {
        BqDialect.runScript(spark, script)
      }
    }
  }

  /** BQQueryLauncher (bq_query_launcher.py:26-61): query → destination
    * table with WRITE_TRUNCATE/WRITE_APPEND disposition. */
  final class QueryLauncher(spark: SparkSession, params: Map[String, WorkerValue]) extends Worker {
    def execute(ctx: WorkerContext): Unit = {
      val query = str(params, "query")
      val dest = str(params, "bq_table_id")
      require(query.trim.nonEmpty && dest.nonEmpty, "'query' and 'bq_table_id' are required")
      val df = BqDialect.sql(spark, query)
      writeTable(df, dest, overwrite = bool(params, "overwrite", default = true))
    }
  }

  /**
   * StorageToBQImporter (storage_to_bq_importer.py:25-92): CSV/JSON files →
   * table; wildcard URIs, autodetect or explicit BigQuery JSON schema,
   * skip-rows, null marker, bad-record budget.
   */
  final class StorageImporter(spark: SparkSession, params: Map[String, WorkerValue]) extends Worker {
    def execute(ctx: WorkerContext): Unit = {
      val uris = strList(params, "source_uris")
      require(uris.nonEmpty, "'source_uris' is required")
      val dest = str(params, "bq_table_id")
      val isJson = bool(params, "import_json") || uris.forall(u => u.endsWith(".json") || u.endsWith(".json.gz"))
      val errorsToAllow = num(params, "errors_to_allow", 0)
      val schemaJson = str(params, "schema")
      val autodetect = bool(params, "autodetect", schemaJson.isEmpty)

      val rowsToSkip = num(params, "rows_to_skip", 0)

      /** CSV lines with the first `rowsToSkip` of EACH file dropped (BQ
        * skip_leading_rows is per-file). Only used when rowsToSkip > 1 —
        * Spark's header option skips exactly one line. Split 0 of a text
        * read is the file head, so the drop is split-local; per-file
        * parallelism is preserved for the rest of the file. */
      def skippedLines(): org.apache.spark.sql.Dataset[String] = {
        val conf = spark.sparkContext.hadoopConfiguration
        val files = uris.flatMap { u =>
          val p = new Path(u)
          val fs = FileSystem.get(p.toUri, conf)
          Option(fs.globStatus(p)).getOrElse(Array.empty).map(_.getPath.toString)
        }
        import spark.implicits._
        val skip = rowsToSkip.toInt
        val rdds: Seq[org.apache.spark.rdd.RDD[String]] = files.map { f =>
          // minPartitions=1: a record belongs to the split containing its
          // start byte, so the leading lines live in split 0 — unless a
          // tiny file is force-split below one block, which minPartitions=1
          // prevents (large files still split by block size)
          spark.sparkContext.textFile(f, 1)
            .mapPartitionsWithIndex((i, it) => if (i == 0) it.drop(skip) else it)
        }
        spark.createDataset(
          rdds.reduceOption(_ union _).getOrElse(spark.sparkContext.emptyRDD[String]))
      }

      def read(mode: String, corruptCol: Boolean,
          schemaOverride: Option[org.apache.spark.sql.types.StructType] = None)
          : org.apache.spark.sql.DataFrame = {
        var reader = spark.read.option("mode", mode)
        if (corruptCol) reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
        val explicit = schemaOverride.orElse(
          if (!autodetect && schemaJson.nonEmpty) Some(BqSchema.toStructType(schemaJson)) else None)
        explicit.foreach { s0 =>
          val schema =
            if (corruptCol) s0.add("_corrupt_record", org.apache.spark.sql.types.StringType)
            else s0
          reader = reader.schema(schema)
        }
        if (isJson) {
          if (explicit.isEmpty) reader.option("inferSchema", "true").json(uris: _*)
          else reader.json(uris: _*)
        } else {
          val nullMarker = str(params, "null_marker")
          var r = reader
            .option("inferSchema", explicit.isEmpty)
            .option("enforceSchema", "false")
            .option("multiLine", bool(params, "allow_quoted_newlines")) // quoted newlines
          if (nullMarker.nonEmpty) r = r.option("nullValue", nullMarker)
          // the skip path splits files into LINES, which cannot coexist
          // with quoted-newline records (a record spanning lines would be
          // torn apart and silently corrupt within the bad-record budget)
          // — refuse the combination loudly
          require(rowsToSkip <= 1 || !bool(params, "allow_quoted_newlines"),
            "rows_to_skip > 1 with allow_quoted_newlines is not supported: " +
              "line-based skipping would tear quoted multi-line records")
          if (rowsToSkip > 1) r.csv(skippedLines())
          else r.option("header", rowsToSkip > 0).csv(uris: _*)
        }
      }

      val df = {
        val first = read("PERMISSIVE", corruptCol = true)
        if (!isJson && autodetect && !first.columns.contains("_corrupt_record")) {
          // CSV schema inference cannot carry a corrupt-record column, so
          // the bad-record budget would be silently unenforceable: pin the
          // inferred schema and re-read with the corrupt column attached
          read("PERMISSIVE", corruptCol = true, Some(first.schema))
        } else first
      }
      if (df.columns.contains("_corrupt_record")) {
        // Bad-record budget without caching the parsed input (at 100 TB a
        // cache would exhaust executor storage): bad = total − parseable,
        // where parseable comes from a second DROPMALFORMED scan. The
        // `.rdd.count()` materializes every column so column pruning can't
        // skip the parse that malformed-row detection depends on; it also
        // sidesteps Spark's corrupt-record-only query restriction
        // (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
        val total = df.count()
        val parseable = read("DROPMALFORMED", corruptCol = false).rdd.count()
        // allow_jagged_rows (storage_to_bq_importer.py:56-60 sets it —
        // together with ignore_unknown_values — whenever the schema is
        // explicit, so that is this param's default): a row whose ONLY
        // defect is a token-count mismatch — short (missing trailing
        // columns load as NULL) or long (extras ignored) — is accepted
        // for free instead of consuming the bad-record budget. Decided
        // per row by re-parsing the raw record against the all-STRING
        // twin of the schema: strings always type-parse, so that parse's
        // corrupt flag isolates the token-count signal, and a PRESENT
        // field that type-failed shows as typed-NULL-but-string-non-NULL
        // — those rows (and full-length rows with type errors) stay bad.
        val corrupt = df("_corrupt_record")
        val allowJagged = !isJson &&
          bool(params, "allow_jagged_rows", default = !autodetect)
        val jaggedOk: org.apache.spark.sql.Column = if (!allowJagged) {
          org.apache.spark.sql.functions.lit(false)
        } else {
          import org.apache.spark.sql.functions.from_csv
          import org.apache.spark.sql.types.{StringType, StructField, StructType}
          val fields = df.schema.filterNot(_.name == "_corrupt_record").map(_.name)
          val allStr = StructType(
            fields.map(f => StructField(f, StringType)) :+
              StructField("_cr_jag", StringType))
          var opts = Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_cr_jag")
          val nullMarker = str(params, "null_marker")
          if (nullMarker.nonEmpty) opts += ("nullValue" -> nullMarker)
          val fc = from_csv(corrupt, allStr, opts)
          val typesOk = fields
            .map(f => df(f).isNotNull || fc.getField(f).isNull)
            .reduce(_ && _)
          corrupt.isNotNull &&
            fc.getField("_cr_jag").isNotNull && typesOk
        }
        val jaggedCount =
          if (allowJagged) df.filter(jaggedOk).count() else 0L
        val badCount = total - parseable - jaggedCount
        if (badCount > errorsToAllow)
          throw new RuntimeException(
            s"Too many bad records: $badCount > allowed $errorsToAllow")
        val clean = df.filter(corrupt.isNull || jaggedOk).drop("_corrupt_record")
        writeTable(clean, dest, overwrite = bool(params, "overwrite", default = true))
      } else {
        writeTable(df, dest, overwrite = bool(params, "overwrite", default = true))
      }
    }
  }

  /** BQToStorageExporter (bq_to_storage_exporter.py:23-55): table → CSV or
    * NEWLINE_DELIMITED_JSON files, optional GZIP, header toggle. */
  final class StorageExporter(spark: SparkSession, params: Map[String, WorkerValue]) extends Worker {
    def execute(ctx: WorkerContext): Unit = {
      val table = str(params, "bq_table_id")
      val dest = str(params, "destination_uri")
      require(table.nonEmpty && dest.nonEmpty, "'bq_table_id' and 'destination_uri' are required")
      val df = resolveTable(spark, table)
      val gzip = bool(params, "export_gzip")
      val json = bool(params, "export_json")
      var w = df.write.mode(SaveMode.Overwrite)
      if (gzip) w = w.option("compression", "gzip")
      if (json) w.json(dest)
      else w.option("header", bool(params, "print_header", default = true)).csv(dest)
    }
  }

  /** StorageCleaner (storage_cleaner.py:26-48): glob files, delete those
    * older than `expiration_days`. */
  final class StorageCleaner(spark: SparkSession, params: Map[String, WorkerValue],
                             clock: () => Long = () => System.currentTimeMillis()) extends Worker {
    def execute(ctx: WorkerContext): Unit = {
      val patterns = strList(params, "file_uris")
      val expirationDays = num(params, "expiration_days", 30)
      val cutoff = clock() - expirationDays * 24L * 3600 * 1000
      val conf = spark.sparkContext.hadoopConfiguration
      patterns.foreach { pat =>
        val path = new Path(pat)
        val fs = FileSystem.get(path.toUri, conf)
        val matches = Option(fs.globStatus(path)).getOrElse(Array.empty)
        matches.foreach { st =>
          if (st.getModificationTime < cutoff) {
            // recursive: this engine's "exported files" are Spark output
            // DIRECTORIES — a non-recursive delete throws (or no-ops) on
            // them and expired exports would never be reclaimed
            fs.delete(st.getPath, true)
            ctx.log(s"Deleted ${st.getPath}")
          }
        }
      }
    }
  }

  /** Build the full registry over a session (finder.py:44-101 surface).
    * Reference worker names are registered as aliases of the Spark-native
    * implementations so exported pipelines run unmodified. */
  def registry(spark: SparkSession): Dag.Registry = {
    val r = new Dag.Registry
    r.register("Commenter")(p => new Commenter(p))
    r.register("BQScriptExecutor")(p => new SqlScriptExecutor(spark, p))
    r.register("SqlScriptExecutor")(p => new SqlScriptExecutor(spark, p))
    r.register("BQMLTrainer")(p => new SqlScriptExecutor(spark, p)) // alias (bq_ml_trainer.py:21-30)
    r.register("BQQueryLauncher")(p => new QueryLauncher(spark, p))
    r.register("QueryLauncher")(p => new QueryLauncher(spark, p))
    r.register("StorageToBQImporter")(p => new StorageImporter(spark, p))
    r.register("StorageImporter")(p => new StorageImporter(spark, p))
    r.register("BQToStorageExporter")(p => new StorageExporter(spark, p))
    r.register("StorageExporter")(p => new StorageExporter(spark, p))
    r.register("StorageCleaner")(p => new StorageCleaner(spark, p))
    Sinks.register(r, spark)
    Ml.register(r, spark)
    MlModelJobs.register(r, spark)
    CorpusMl.register(r, spark)
    CorpusLm.register(r, spark)
    CorpusKmeans.register(r, spark)
    r
  }

  /** Table peek for the `bigquery()` inline function
    * (inline.py:51-80 → `spark.table(t).limit(1)`). */
  def sparkTablePeek(spark: SparkSession): Templates.TablePeek = { tableId =>
    val df = resolveTable(spark, tableId)
    val rows = df.limit(1).collect()
    if (rows.isEmpty) throw new Templates.TemplateError(s"BigQuery table `$tableId` is empty")
    val row = rows.head
    df.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (row.get(i) match {
        case s: scala.collection.Seq[_] => s.toSeq
        case v => v
      })
    }.toMap
  }
}
