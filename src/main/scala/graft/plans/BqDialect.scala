package graft.plans

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.matching.Regex

/**
 * BigQuery-SQL dialect shims over `spark.sql` (SURVEY §7.1.4): statement
 * splitting, DECLARE/SET scripting, and string-level rewrites of the
 * BQ-isms the reference's generated SQL uses (`model_bqml.sql`,
 * `output.sql`). Spark 4 already accepts `SELECT * EXCEPT(...)`,
 * `GROUP BY <ordinal>`, `TIMESTAMP_MICROS`, `IFNULL` — those pass through.
 */
object BqDialect {

  /** Split a script into statements on ';' outside quotes and comments
    * (bq_script_executor.py runs scripts statement-wise via BQ). */
  def splitStatements(script: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var quote: Char = 0
    var lineComment = false
    var blockComment = false
    while (i < script.length) {
      val c = script.charAt(i)
      val next = if (i + 1 < script.length) script.charAt(i + 1) else '\u0000'
      if (lineComment) { cur.append(c); if (c == '\n') lineComment = false; i += 1 }
      else if (blockComment) {
        cur.append(c)
        if (c == '*' && next == '/') { cur.append(next); blockComment = false; i += 2 }
        else i += 1
      }
      else if (quote != 0) {
        cur.append(c)
        if (c == '\\' && next != '\u0000') { cur.append(next); i += 2 }
        else { if (c == quote) quote = 0; i += 1 }
      }
      else c match {
        case '\'' | '"' | '`' => quote = c; cur.append(c); i += 1
        case '-' if next == '-' => lineComment = true; cur.append(c); i += 1
        case '/' if next == '*' => blockComment = true; cur.append(c); i += 1
        case ';' => out += cur.toString; cur.clear(); i += 1
        case _ => cur.append(c); i += 1
      }
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** BQ date-format element translation (FORMAT_DATE/CAST ... FORMAT). */
  private[plans] def translateStrftime(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'F' => sb.append("yyyy-MM-dd")
          case 'T' => sb.append("HH:mm:ss")
          // 'xxx' not 'XXX': BQ's %Ez prints '+00:00' at zero offset,
          // Java's uppercase X substitutes 'Z' there
          case 'E' if i + 2 < fmt.length && fmt.charAt(i + 2) == 'z' => sb.append("xxx"); i += 1
          case 'j' => sb.append("DDD")
          case other => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** BQ CAST-FORMAT element translation (YYYYMMDD style). */
  private[plans] def translateCastFormat(fmt: String): String =
    fmt.replace("YYYY", "yyyy").replace("DD", "dd")
  // MM already matches; HH24->HH etc. can be added as encountered

  private val OffsetRe: Regex = raw"(?i)\[OFFSET\((\d+)\)\]".r
  private val RegexpContainsRe: Regex = raw"(?i)REGEXP_CONTAINS\s*\(".r
  private val CastFormatRe: Regex =
    raw"(?is)CAST\s*\(\s*(.+?)\s+AS\s+DATE\s+FORMAT\s+'([^']+)'\s*\)".r
  private val FormatDateRe: Regex =
    raw"(?is)FORMAT_(?:DATE|TIMESTAMP|DATETIME)\s*\(\s*'([^']+)'\s*,".r

  /**
   * String-level rewrites of BigQuery-isms to Spark SQL. Conservative:
   * every rewrite targets a construct Spark cannot parse; everything else
   * passes through untouched for Catalyst to handle.
   */
  def rewrite(stmt: String): String = {
    var s = stmt
    // arr[OFFSET(n)] → arr[n] (both 0-based)
    s = OffsetRe.replaceAllIn(s, m => s"[${m.group(1)}]")
    // REGEXP_CONTAINS → regexp_like (same semantics: partial match)
    s = RegexpContainsRe.replaceAllIn(s, "regexp_like(")
    // CAST(x AS DATE FORMAT 'YYYYMMDD') → to_date(x, 'yyyyMMdd')
    s = CastFormatRe.replaceAllIn(s, m =>
      Regex.quoteReplacement(s"to_date(${m.group(1)}, '${translateCastFormat(m.group(2))}')"))
    // FORMAT_DATE('%F', x) → date_format(x, 'yyyy-MM-dd'): swap args + fmt
    s = rewriteFormatDate(s)
    // sharded-table scans → partitioned views (registerWildcardTables);
    // _TABLE_SUFFIX needs no rewrite — Spark resolves the partition
    // column case-insensitively
    s = rewriteWildcard(s)
    s
  }

  /** Index just past the paren that closes depth 1 at `from` — skipping
    * quoted literals, so a ')' inside a string never closes the scan. */
  private def matchingParenEnd(s: String, from: Int): Int = {
    var depth = 1
    var i = from
    while (i < s.length && depth > 0) {
      s.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case q @ ('\'' | '"') =>
          i += 1
          while (i < s.length && s.charAt(i) != q) i += 1
          i += 1
        case _ => i += 1
      }
    }
    i
  }

  private def rewriteFormatDate(s: String): String = {
    // FORMAT_DATE('<fmt>', <expr>) → date_format(<expr>, '<translated>')
    // args are swapped, so a plain regex replace is not enough: find the
    // matching close paren for the expression.
    val m = FormatDateRe.findFirstMatchIn(s)
    m match {
      case None => s
      case Some(mm) =>
        val fmt = translateStrftime(mm.group(1))
        val argStart = mm.end
        val i = matchingParenEnd(s, argStart)
        val expr = s.substring(argStart, i - 1).trim
        val rewritten = s.substring(0, mm.start) +
          s"date_format($expr, '$fmt')" + s.substring(i)
        rewriteFormatDate(rewritten) // handle multiple occurrences
    }
  }

  /**
   * Wildcard-table SQL support (`model_bqml.sql:91-94`; `output.sql:2-7`):
   * registers the date-partitioned events layout so BQ-ism SQL text can
   * scan `events_*` (with `_TABLE_SUFFIX` pruning pushed to partition
   * filters) and query `__TABLES_SUMMARY__` for shard metadata. The
   * summary view is built from partition-directory names — file-system
   * metadata only, no data scan.
   */
  def registerWildcardTables(spark: SparkSession, dir: String): Unit = {
    graft.sources.WildcardTable.events(spark, dir).createOrReplaceTempView("events_star")
    graft.sources.WildcardTable.tablesSummary(spark, dir)
      .createOrReplaceTempView("tables_summary")
  }

  private val WildcardTableRe: Regex = raw"(?i)`?[A-Za-z0-9_.]*events_\*`?".r
  private val TablesSummaryRe: Regex = raw"(?i)`?[A-Za-z0-9_.]*__TABLES_SUMMARY__`?".r

  /** `events_*` / `__TABLES_SUMMARY__` → the registered views;
    * `_TABLE_SUFFIX` is a real partition column of events_star. */
  private def rewriteWildcard(s: String): String = {
    val s1 = WildcardTableRe.replaceAllIn(s, "events_star")
    TablesSummaryRe.replaceAllIn(s1, "tables_summary")
  }

  private val TempFunHeadRe: Regex =
    raw"(?is)^CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+FUNCTION\s+([A-Za-z_]\w*)\s*\(".r
  private val TempFunTailRe: Regex =
    raw"(?is)^\s*(?:RETURNS\s+(.+?))?\s*AS\s*\((.*)\)\s*$$".r

  /** BQ type spellings → Spark SQL types (bq_utils.py families), including
    * parameterized (`NUMERIC(10,2)`) and composite (`STRUCT<a INT64>`)
    * spellings. */
  private[plans] def translateType(t: String): String = {
    val trimmed = t.trim
    trimmed.toUpperCase match {
      case "INT64" | "INTEGER" => "BIGINT"
      case "FLOAT64" | "FLOAT" => "DOUBLE"
      case "BOOL" => "BOOLEAN"
      case "BYTES" => "BINARY"
      case "NUMERIC" => "DECIMAL(38,9)"
      case p if p.startsWith("NUMERIC(") => "DECIMAL" + trimmed.drop("NUMERIC".length)
      case c if c.contains("<") =>
        // composite (ARRAY/STRUCT): translate the scalar spellings inside,
        // on the ORIGINAL text — struct field names are case-significant
        trimmed.replaceAll(raw"(?i)\bINT64\b", "BIGINT")
          .replaceAll(raw"(?i)\bFLOAT64\b", "DOUBLE")
          .replaceAll(raw"(?i)\bBOOL\b", "BOOLEAN")
          .replaceAll(raw"(?i)\bBYTES\b", "BINARY")
      case other => other
    }
  }

  /** Split on commas at angle/paren depth 0 (argument lists whose types
    * are parameterized or composite must not split mid-type). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var paren = 0
    var angle = 0
    s.foreach {
      case ',' if paren == 0 && angle == 0 => out += cur.toString; cur.clear()
      case c =>
        c match {
          case '(' => paren += 1
          case ')' => paren -= 1
          case '<' => angle += 1
          case '>' => angle -= 1
          case _ =>
        }
        cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  /**
   * BQ `CREATE TEMP FUNCTION f(x INT64) AS (expr)` → Spark 4's SQL UDF
   * `CREATE OR REPLACE TEMPORARY FUNCTION f(x BIGINT) RETURNS ... RETURN
   * expr` (bq_script_executor.py:26-36 documents user scripts may define
   * functions). The argument list is delimited by a depth-aware scan (a
   * `NUMERIC(10,2)` or `STRUCT<a, b>` parameter breaks any single-regex
   * spelling); types go through [[translateType]].
   */
  private[plans] def rewriteTempFunction(stmt: String): Option[String] =
    TempFunHeadRe.findFirstMatchIn(stmt).flatMap { m =>
      val name = m.group(1)
      val end = matchingParenEnd(stmt, m.end)
      val argsRaw = stmt.substring(m.end, math.max(m.end, end - 1))
      TempFunTailRe.findFirstMatchIn(stmt.substring(math.min(end, stmt.length))).map { t =>
        val args = splitTopLevel(argsRaw).filter(_.trim.nonEmpty).map { a =>
          val parts = a.trim.split(raw"\s+", 2)
          if (parts.length == 2) s"${parts(0)} ${translateType(parts(1))}" else parts(0)
        }.mkString(", ")
        val returns = Option(t.group(1)).map(r => s" RETURNS ${translateType(r)}").getOrElse("")
        s"CREATE OR REPLACE TEMPORARY FUNCTION $name($args)$returns RETURN ${rewrite(t.group(2))}"
      }
    }

  // the type is optional (BQ allows `DECLARE x DEFAULT expr`) and guarded
  // by a lookahead so it can never absorb the DEFAULT clause as type text
  private val DeclareRe: Regex =
    raw"(?is)^DECLARE\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s+(?!DEFAULT\b)[A-Za-z0-9<>,() ]+?)?(?:\s+DEFAULT\s+(.+))?$$".r
  private val SetRe: Regex =
    raw"(?is)^SET\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$$".r

  /** Leading `--` / `/* */` comments stripped (classification only —
    * executed statements keep their comments; Spark parses them fine). */
  private[plans] def stripLeadingComments(s: String): String = {
    var t = s
    var changed = true
    while (changed) {
      val trimmed = t.dropWhile(_.isWhitespace)
      if (trimmed.startsWith("--")) {
        val nl = trimmed.indexOf('\n')
        t = if (nl < 0) "" else trimmed.substring(nl + 1)
      } else if (trimmed.startsWith("/*")) {
        val end = trimmed.indexOf("*/")
        t = if (end < 0) "" else trimmed.substring(end + 2)
      } else { changed = false; t = trimmed }
    }
    t
  }

  private def literal(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case other => other.toString
  }

  /** Variable splice OUTSIDE quoted literals and comments only — a
    * variable named inside a string literal (`LIKE '%status%'`) is data,
    * not a reference. */
  private[plans] def substituteVars(stmt: String, vars: Map[String, String]): String = {
    if (vars.isEmpty) return stmt
    def subst(seg: String): String =
      vars.foldLeft(seg) { case (acc, (name, lit)) =>
        acc.replaceAll(raw"(?i)(?<![A-Za-z0-9_.`])" + Regex.quote(name) + raw"(?![A-Za-z0-9_`])",
          Regex.quoteReplacement(lit))
      }
    val out = new StringBuilder
    val plain = new StringBuilder
    var i = 0
    while (i < stmt.length) {
      val c = stmt.charAt(i)
      val next = if (i + 1 < stmt.length) stmt.charAt(i + 1) else '\u0000'
      c match {
        case '\'' | '"' | '`' =>
          out.append(subst(plain.toString)); plain.clear()
          out.append(c); i += 1
          var closed = false
          while (i < stmt.length && !closed) {
            val cc = stmt.charAt(i)
            out.append(cc)
            if (cc == '\\' && i + 1 < stmt.length) { out.append(stmt.charAt(i + 1)); i += 2 }
            else { if (cc == c) closed = true; i += 1 }
          }
        case '-' if next == '-' =>
          out.append(subst(plain.toString)); plain.clear()
          val nl = stmt.indexOf('\n', i)
          val end = if (nl < 0) stmt.length else nl + 1
          out.append(stmt.substring(i, end)); i = end
        case '/' if next == '*' =>
          out.append(subst(plain.toString)); plain.clear()
          val close = stmt.indexOf("*/", i + 2)
          val end = if (close < 0) stmt.length else close + 2
          out.append(stmt.substring(i, end)); i = end
        case _ => plain.append(c); i += 1
      }
    }
    out.append(subst(plain.toString))
    out.toString
  }

  /** Runs one BQ-dialect statement as Spark SQL, with graft's functions
    * (`FARM_FINGERPRINT`, ...) callable from its text. */
  def sql(spark: SparkSession, stmt: String): DataFrame = {
    GraftFunctions.register(spark)
    spark.sql(rewrite(stmt))
  }

  /**
   * Run a multi-statement script with DECLARE/SET scripting
   * (output.sql:2-7,19 shape): scalar variables are evaluated driver-side
   * (1-row actions) and spliced into later statements as literals.
   * Returns the DataFrame of the last SELECT statement, if any.
   */
  def runScript(spark: SparkSession, script: String): Option[DataFrame] = {
    GraftFunctions.register(spark)
    val vars = mutable.LinkedHashMap.empty[String, String]
    var last: Option[DataFrame] = None
    splitStatements(script).foreach { stmt =>
      // classify on the comment-stripped body — a leading `-- header`
      // must not demote DECLARE/SET/SELECT to raw DDL (comment-only
      // chunks are skipped entirely)
      stripLeadingComments(stmt) match {
        case "" => ()
        case DeclareRe(name, default) =>
          val value = Option(default) match {
            case Some(expr) =>
              val df = spark.sql(rewrite(substituteVars(s"SELECT $expr", vars.toMap)))
              literal(df.first().get(0))
            case None => "NULL"
          }
          vars += name -> value
        case SetRe(name, expr) =>
          require(vars.contains(name), s"SET of undeclared variable $name")
          val df = spark.sql(rewrite(substituteVars(s"SELECT $expr", vars.toMap)))
          vars += name -> literal(df.first().get(0))
        case body =>
          rewriteTempFunction(body) match {
            case Some(fnSql) => spark.sql(fnSql).collect()
            case None =>
              val df = spark.sql(rewrite(substituteVars(body, vars.toMap)))
              val head = body.toUpperCase
              if (head.startsWith("SELECT") || head.startsWith("WITH")) last = Some(df)
              else df.collect() // force DDL/DML side effects
          }
      }
    }
    last
  }
}
