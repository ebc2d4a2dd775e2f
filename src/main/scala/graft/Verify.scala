package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Pin the farm/xxhash oracle side-table location to THIS run's outDir
    // BEFORE any oracle SQL is rendered — a world-shared /tmp path lets
    // concurrent Verify runs (different sfDirs, parallel CI) overwrite
    // each other's side tables and silently compare against another
    // corpus's hash maps. The tables sit NEXT TO the dump dir
    // (`<outDir>_aux`), not inside it, where every directory is a query.
    sys.props("graft.aux.dir") =
      new java.io.File(outDir).getAbsolutePath + "_aux"
    val spark = LocalSession.start(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Farm/xxhash side tables the FARM_FINGERPRINT oracles join (the
    // driver's DuckDB pass runs right after this dump on the same host)
    try graft.queries.OracleAux.writeAll(spark, sfDir)
    catch { case e: Throwable =>
      // a partial aux dir must not survive: the DuckDB pass would read
      // STALE side tables and silently compare the three hash-checked
      // queries against another corpus — delete it so those oracles
      // fail loudly (missing parquet) instead
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(graft.queries.OracleAux.AuxDir))
      System.err.println(s"[verify] oracle aux failed (aux dir deleted): " +
        s"${e.getMessage}")
    }
    // Optional local-iteration filter: SPARK_GRAFT_ONLY=q1_agg,dedup_...
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist intermediates (ML events slice, dedup set
      // universe); drop them so 60+ queries don't stack dead cached
      // relations in executor storage
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
