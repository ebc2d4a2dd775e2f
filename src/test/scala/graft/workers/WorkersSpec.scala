package graft.workers

import graft.SparkFixture
import graft.core.Spec.WorkerValue
import graft.core.Dag.WorkerContext
import graft.sources.BqSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class WorkersSpec extends AnyFunSuite with SparkFixture {

  private val noCtx = new WorkerContext {
    def params: Map[String, WorkerValue] = Map.empty
    def generalSettings: Map[String, String] = Map.empty
    def enqueue(wc: String, p: Map[String, WorkerValue], d: Int): Unit = ()
  }

  test("BqSchema: nested + repeated BigQuery schema maps to StructType (bq_utils.py:10-40)") {
    val json =
      """[{"name":"id","type":"INTEGER","mode":"REQUIRED"},
        | {"name":"tags","type":"STRING","mode":"REPEATED"},
        | {"name":"geo","type":"RECORD","fields":[
        |   {"name":"country","type":"STRING"},
        |   {"name":"lat","type":"FLOAT","mode":"NULLABLE"}]}]""".stripMargin
    val st = BqSchema.toStructType(json)
    assert(st("id").dataType == LongType && !st("id").nullable)
    assert(st("tags").dataType.isInstanceOf[ArrayType])
    val geo = st("geo").dataType.asInstanceOf[StructType]
    assert(geo("country").dataType == StringType)
    assert(geo("lat").dataType == DoubleType)
    // round trip
    val back = BqSchema.toStructType(BqSchema.fromStructType(st))
    assert(back == st)
  }

  test("StorageImporter: CSV with null marker, bad-record budget enforced") {
    val dir = Files.createTempDirectory("graft_imp")
    Files.writeString(Paths.get(s"$dir/data_1.csv"),
      "id,name,score\n1,alice,3.5\n2,NULLMARK,4.0\nbad_row_only_one_col\n3,carol,5.0\n")
    val schema =
      """[{"name":"id","type":"INTEGER"},{"name":"name","type":"STRING"},
        | {"name":"score","type":"FLOAT"}]""".stripMargin
    def runImport(allow: Long): Unit =
      new Workers.StorageImporter(spark, Map(
        "source_uris" -> WorkerValue.SL(Seq(s"$dir/data_*.csv")),
        "bq_table_id" -> WorkerValue.S(s"$dir/out_table"),
        "schema" -> WorkerValue.S(schema),
        "rows_to_skip" -> WorkerValue.I(1),
        "null_marker" -> WorkerValue.S("NULLMARK"),
        "errors_to_allow" -> WorkerValue.I(allow))).execute(noCtx)
    runImport(allow = 1)
    val out = spark.read.parquet(s"$dir/out_table")
    assert(out.count() == 3)
    assert(out.filter("name IS NULL").count() == 1) // null marker applied
    intercept[RuntimeException] { runImport(allow = 0) }
  }

  test("StorageImporter: allow_jagged_rows accepts short rows for free; type errors still bad") {
    val dir = Files.createTempDirectory("graft_imp_jag")
    // row 2 is JAGGED (2 of 3 columns, both type-valid) -> loads with a
    // NULL tail at budget 0; row 4 is a type error (present field fails
    // Long parse) -> still consumes the budget even with jagged on
    Files.writeString(Paths.get(s"$dir/jag_1.csv"),
      "1,alice,3.5\n2,bob\n3,carol,5.0\nnotanum,dave,1.0\n")
    val schema =
      """[{"name":"id","type":"INTEGER"},{"name":"name","type":"STRING"},
        | {"name":"score","type":"FLOAT"}]""".stripMargin
    def runImport(allow: Long, jagged: Option[Boolean]): Unit =
      new Workers.StorageImporter(spark, Map(
        "source_uris" -> WorkerValue.SL(Seq(s"$dir/jag_*.csv")),
        "bq_table_id" -> WorkerValue.S(s"$dir/out_jag"),
        "schema" -> WorkerValue.S(schema),
        "errors_to_allow" -> WorkerValue.I(allow)) ++
        jagged.map(j => "allow_jagged_rows" -> WorkerValue.B(j))).execute(noCtx)
    // jagged defaults ON with an explicit schema (storage_to_bq_importer
    // .py:56-60 forces it whenever autodetect is off): budget 1 absorbs
    // ONLY the type-error row, the jagged row rides free
    runImport(allow = 1, jagged = None)
    val out = spark.read.parquet(s"$dir/out_jag")
    assert(out.count() == 3, "jagged row is loaded, type-error row dropped")
    assert(out.filter("id = 2 AND name = 'bob' AND score IS NULL").count() == 1,
      "missing trailing column loads as NULL")
    intercept[RuntimeException] { runImport(allow = 0, jagged = None) }
    // jagged explicitly OFF: the short row consumes the budget too
    intercept[RuntimeException] { runImport(allow = 1, jagged = Some(false)) }
  }

  test("SqlScriptExecutor: dry_run does NOT execute DDL/DML") {
    val tbl = "dryrun_should_not_exist"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    new Workers.SqlScriptExecutor(spark, Map(
      "script" -> WorkerValue.S(s"CREATE TABLE $tbl AS SELECT 1 AS x; SELECT 2"),
      "dry_run" -> WorkerValue.B(true))).execute(noCtx)
    assert(!spark.catalog.tableExists(tbl),
      "dry run executed the CREATE TABLE — it must only parse/analyze")
  }

  test("SqlScriptExecutor: dry_run tolerates intra-script references but not real errors") {
    // a query over an object CREATEd earlier in the same (unexecuted)
    // script must pass the dry run, as BigQuery's script dry run does
    new Workers.SqlScriptExecutor(spark, Map(
      "script" -> WorkerValue.S(
        "CREATE TEMPORARY VIEW dryrun_v AS SELECT 1 AS a; SELECT a FROM dryrun_v"),
      "dry_run" -> WorkerValue.B(true))).execute(noCtx)
    assert(!spark.catalog.tableExists("dryrun_v"))
    // ...but a genuinely missing relation still fails, even when a created
    // name ("t") is a substring of the error text
    intercept[org.apache.spark.sql.AnalysisException] {
      new Workers.SqlScriptExecutor(spark, Map(
        "script" -> WorkerValue.S(
          "CREATE TEMPORARY VIEW t AS SELECT 1 AS a; SELECT a FROM no_such_table_anywhere"),
        "dry_run" -> WorkerValue.B(true))).execute(noCtx)
    }
  }

  test("StorageImporter: autodetect CSV still enforces the bad-record budget") {
    val dir = Files.createTempDirectory("graft_imp_auto")
    // last line has an unterminated quote — malformed under any schema
    Files.writeString(Paths.get(s"$dir/auto_1.csv"),
      "a,b\nc,d\n\"unclosed,row\n")
    def runImport(allow: Long): Unit =
      new Workers.StorageImporter(spark, Map(
        "source_uris" -> WorkerValue.SL(Seq(s"$dir/auto_*.csv")),
        "bq_table_id" -> WorkerValue.S(s"$dir/out_auto"),
        "errors_to_allow" -> WorkerValue.I(allow))).execute(noCtx)
    intercept[RuntimeException] { runImport(allow = 0) }
    runImport(allow = 1)
    assert(spark.read.parquet(s"$dir/out_auto").count() == 2)
  }

  test("StorageImporter: rows_to_skip > 1 drops that many leading lines per file") {
    val dir = Files.createTempDirectory("graft_imp_skip")
    Files.writeString(Paths.get(s"$dir/skip_1.csv"),
      "# preamble 1\n# preamble 2\nid,name\n1,alice\n2,bob\n")
    val schema = """[{"name":"id","type":"INTEGER"},{"name":"name","type":"STRING"}]"""
    new Workers.StorageImporter(spark, Map(
      "source_uris" -> WorkerValue.SL(Seq(s"$dir/skip_*.csv")),
      "bq_table_id" -> WorkerValue.S(s"$dir/out_skip"),
      "schema" -> WorkerValue.S(schema),
      "rows_to_skip" -> WorkerValue.I(3),
      "errors_to_allow" -> WorkerValue.I(0))).execute(noCtx)
    val out = spark.read.parquet(s"$dir/out_skip")
    assert(out.count() == 2)
    assert(out.select("name").collect().map(_.getString(0)).sorted.toSeq == Seq("alice", "bob"))
  }

  test("QueryLauncher: query -> destination with truncate/append dispositions (bq_query_launcher.py:26-61)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ql")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("ql_src")
    def launch(overwrite: Boolean): Unit =
      new Workers.QueryLauncher(spark, Map(
        "query" -> WorkerValue.S("SELECT id, v FROM ql_src WHERE id <= 2"),
        "bq_table_id" -> WorkerValue.S(s"$dir/out"),
        "overwrite" -> WorkerValue.B(overwrite))).execute(noCtx)
    launch(overwrite = true)
    assert(spark.read.parquet(s"$dir/out").count() == 2) // WRITE_TRUNCATE
    launch(overwrite = false)
    assert(spark.read.parquet(s"$dir/out").count() == 4) // WRITE_APPEND
    launch(overwrite = true)
    assert(spark.read.parquet(s"$dir/out").count() == 2) // truncate again
  }

  test("QueryLauncher: FARM_FINGERPRINT resolves on a fresh session") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft_ql_fp")
    new Workers.QueryLauncher(s, Map(
      "query" -> WorkerValue.S("SELECT FARM_FINGERPRINT('abc') AS fp"),
      "bq_table_id" -> WorkerValue.S(s"$dir/out"))).execute(noCtx)
    assert(s.read.parquet(s"$dir/out").head().getLong(0) ==
      graft.functions.FarmHash.fingerprint64("abc"))
  }

  test("SqlScriptExecutor: dry_run analyzes FARM_FINGERPRINT on a fresh session") {
    new Workers.SqlScriptExecutor(spark.newSession(), Map(
      "script" -> WorkerValue.S("SELECT FARM_FINGERPRINT('abc') AS fp"),
      "dry_run" -> WorkerValue.B(true))).execute(noCtx)
  }

  test("StorageExporter: gzip CSV with header") {
    val dir = Files.createTempDirectory("graft_exp")
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "v").createOrReplaceTempView("exp_src")
    new Workers.StorageExporter(spark, Map(
      "bq_table_id" -> WorkerValue.S("exp_src"),
      "destination_uri" -> WorkerValue.S(s"$dir/out"),
      "export_gzip" -> WorkerValue.B(true))).execute(noCtx)
    val files = new java.io.File(s"$dir/out").listFiles().filter(_.getName.endsWith(".csv.gz"))
    assert(files.nonEmpty)
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() == 2)
  }

  test("StorageCleaner deletes only expired files (storage_cleaner.py:26-48)") {
    val dir = Files.createTempDirectory("graft_clean")
    Files.writeString(Paths.get(s"$dir/old.txt"), "x")
    Files.writeString(Paths.get(s"$dir/new.txt"), "y")
    val now = System.currentTimeMillis()
    Paths.get(s"$dir/old.txt").toFile.setLastModified(now - 40L * 24 * 3600 * 1000)
    new Workers.StorageCleaner(spark, Map(
      "file_uris" -> WorkerValue.SL(Seq(s"$dir/*.txt")),
      "expiration_days" -> WorkerValue.I(30)), clock = () => now).execute(noCtx)
    assert(!Files.exists(Paths.get(s"$dir/old.txt")))
    assert(Files.exists(Paths.get(s"$dir/new.txt")))
  }

  test("pyTemplateSubstitute: $var, ${var}, $$ escape, KeyError on missing") {
    val vals = Map("a" -> "1", "b_c" -> "2")
    assert(Sinks.pyTemplateSubstitute("x=$a y=${b_c} z=$$lit", vals) == "x=1 y=2 z=$lit")
    intercept[NoSuchElementException] {
      Sinks.pyTemplateSubstitute("$missing", vals)
    }
    // python Template.substitute raises ValueError('Invalid placeholder')
    // for a '$' that starts no pattern — a typo must not post verbatim
    intercept[IllegalArgumentException] {
      Sinks.pyTemplateSubstitute("price: $1,000", vals)
    }
    intercept[IllegalArgumentException] {
      Sinks.pyTemplateSubstitute("trailing $", vals)
    }
    // '$' INSIDE a substituted value is fine (checked pre-substitution)
    assert(Sinks.pyTemplateSubstitute("$a", Map("a" -> "$9.99")) == "$9.99")
  }

  test("MeasurementProtocolGA4 posts one templated payload per row; debug hits validation URL") {
    import spark.implicits._
    Sinks.RecordingTransport.clear()
    Seq(("c1", 1.5), ("c2", 2.5)).toDF("client_id", "value")
      .createOrReplaceTempView("mp_rows")
    new Sinks.MeasurementProtocolGA4(spark, Map(
      "bq_table_id" -> WorkerValue.S("mp_rows"),
      "measurement_id" -> WorkerValue.S("G-12345"),
      "api_secret" -> WorkerValue.S("s3cret"),
      "template" -> WorkerValue.S("""{"client_id":"$client_id","value":$value}"""),
      "debug" -> WorkerValue.B(true))).execute(noCtx)
    val reqs = Sinks.RecordingTransport.requests.toArray.map(_.asInstanceOf[(String, String)])
    assert(reqs.length == 2)
    assert(reqs.forall(_._1.contains("/debug/mp/collect")))
    assert(reqs.forall(_._1.contains("measurement_id=G-12345")))
    assert(reqs.exists(_._2 == """{"client_id":"c1","value":1.5}"""))
  }

  test("AdsOfflineClickConversion batches 2000 conversions per request") {
    import spark.implicits._
    Sinks.RecordingTransport.clear()
    (1 to 2100).map(i => (s"gclid$i", i.toDouble)).toDF("gclid", "conversionValue")
      .coalesce(1).createOrReplaceTempView("ads_rows")
    new Sinks.AdsOfflineClickConversion(spark, Map(
      "bq_table_id" -> WorkerValue.S("ads_rows"),
      "customer_id" -> WorkerValue.S("123-456"),
      "template" -> WorkerValue.S("""{"gclid":"$gclid","value":$conversionValue}""")))
      .execute(noCtx)
    val reqs = Sinks.RecordingTransport.requests.toArray.map(_.asInstanceOf[(String, String)])
    assert(reqs.length == 2, "2100 rows in one partition => 2000 + 100")
    val sizes = reqs.map(r => "\"gclid\"".r.findAllIn(r._2).size).sorted
    assert(sizes.toSeq == Seq(100, 2000))
  }

  test("detectPatchUpdate matches the reference's deep-compare (common/utils.py:6-36)") {
    import Sinks.detectPatchUpdate
    assert(!detectPatchUpdate("""{"a":1,"b":[1,2]}""", """{"a":1,"b":[1,2],"extra":9}"""))
    assert(detectPatchUpdate("""{"a":2}""", """{"a":1}"""))
    assert(detectPatchUpdate("""{"new":1}""", """{"a":1}"""))
    assert(detectPatchUpdate("""{"b":[1,2,3]}""", """{"b":[1,2]}"""))
    assert(detectPatchUpdate("""{"a":"1"}""", """{"a":1}"""), "type change is an update")
    assert(!detectPatchUpdate("""{"a":{"x":1}}""", """{"a":{"x":1,"y":2}}"""))
  }

  test("AudiencesUpdater plans insert/update/skip from the diff") {
    import spark.implicits._
    val ops = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    Seq(("aud1", 10), ("aud2", 20), ("aud3", 30)).toDF("name", "value")
      .createOrReplaceTempView("aud_rows")
    new Sinks.AudiencesUpdater(spark, Map(
      "bq_table_id" -> WorkerValue.S("aud_rows"),
      "template" -> WorkerValue.S("""{"name":"$name","value":$value}""")),
      fetchRemote = () => Seq(
        "aud1" -> """{"name":"aud1","value":10}""",   // unchanged -> skip
        "aud2" -> """{"name":"aud2","value":99}"""),  // changed   -> update
      apply = (op, name, _) => ops += (op -> name)).execute(noCtx)
    assert(ops.toSet == Set("update" -> "aud2", "insert" -> "aud3"))
  }
}
