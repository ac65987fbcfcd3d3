package graft

import graft.tables.{GraftTable, TableCatalog, TableDef}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, when}

/** X4 — SQL DML over the snapshot-log tables: the reference's
  * materializer issues its repairs as SQL TEXT against Iceberg
  * (`scripts/materialize.sh:197-216`: `DELETE FROM iceberg.db.<t> WHERE
  * <pred incl. IN (SELECT ...)>` then `INSERT INTO iceberg.db.<t>
  * SELECT ...`), and until now that text only replayed through the
  * Scala table API. This runner translates the four DML verbs onto the
  * table ops with the right 100 TB cost shape per table kind:
  *
  *  - `DELETE FROM t WHERE p`  → [[GraftTable.deleteWhere]] — position
  *    deletes (O(matches) tombstones, zero rewrite) on append/COW
  *    tables, key-granular equality deletes on merge-on-read;
  *  - `UPDATE t SET c = e, ... [WHERE p]` → keyed tables upsert the
  *    updated rows (O(batch), merge-on-read stays O(batch) write);
  *    unkeyed tables [[GraftTable.replaceWhere]] (delete+re-insert,
  *    auto-compacting first if position deletes pend — the documented
  *    raw-rewrite ordering);
  *  - `INSERT INTO t [(cols)] SELECT ...|VALUES ...` →
  *    [[GraftTable.append]] (positional when no column list, like SQL);
  *  - `MERGE INTO t USING src ON <key equalities> WHEN MATCHED THEN
  *    UPDATE SET * WHEN NOT MATCHED THEN INSERT *` →
  *    [[GraftTable.upsert]] — exactly the upsert-shaped MERGE; any
  *    other ON/action shape refuses loudly rather than approximating.
  *
  * `CREATE [OR REPLACE] VIEW` / `DROP VIEW` (trino/apply_views.sh's
  * statement shape) maintain PERSISTED catalog views: the body text
  * lands in a `_views/` sidecar beside the table logs, registers as a
  * scoped temp view through the same qualified-name rewrite, and
  * re-registers in every later run — so apply_views.sh replays once and
  * materialize.sh's `CREATE TABLE ... AS SELECT * FROM iceberg.db.<view>`
  * works in any subsequent cron pass, like Trino's catalog views.
  *
  * Non-DML statements (SET / SELECT / CREATE TEMP VIEW ...) run through
  * `spark.sql` as in [[SqlRunner]]. Every catalog table whose snapshot
  * MOVED is (re-)published as a temp view under its name before each
  * statement (O(changed tables) churn, not O(tables)) — a logical read
  * pins the snapshot current at registration, so each statement (and
  * each DML's subqueries) sees its predecessors' writes, Trino's
  * read-committed statement semantics; catalog views re-register off
  * their stored body whenever a dependency moved, keeping them
  * late-bound. Catalog-qualified names (`iceberg.db.foo`) resolve by
  * last segment, so the reference text needs no rewriting. Returns the
  * LAST statement's result; DML statements yield a one-row (verb,
  * table) marker frame so a DML-final script still returns something
  * inspectable.
  */
object DmlRunner {

  private val DeleteRe =
    """(?is)^DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.+))?$""".r
  private val UpdateRe =
    """(?is)^UPDATE\s+([\w.]+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$""".r
  private val InsertRe =
    """(?is)^INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\)\s*)?((?:SELECT|VALUES|WITH|TABLE)\b.+)$""".r
  private val InsertOverwriteRe =
    """(?is)^INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s*(?:\(([^)]*)\)\s*)?((?:SELECT|VALUES|WITH|TABLE)\b.+)$""".r
  private val CtasRe =
    """(?is)^CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w.]+)\s+AS\s+((?:SELECT|WITH|VALUES|TABLE)\b.+)$""".r
  /** Schema DDL sidecar a CTAS table leaves beside its commit log. */
  private val CtasSchemaSidecar = "_ctas_schema.ddl"
  private val DropTableRe =
    """(?is)^DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?([\w.]+)\s*$""".r
  // CATALOG view DDL (trino/apply_views.sh:17-27 pastes one
  // `CREATE OR REPLACE VIEW iceberg.db.v_x AS SELECT …` per
  // trino/sql/*.sql). TEMPORARY view DDL deliberately does NOT match —
  // it stays session-scoped through the spark.sql fallthrough.
  private val CreateViewRe =
    """(?is)^CREATE\s+(?:(OR\s+REPLACE)\s+)?VIEW\s+([\w.]+)\s+AS\s+(.+)$""".r
  private val DropViewRe =
    """(?is)^DROP\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([\w.]+)\s*$""".r
  // metadata inspection, the two shapes the reference's shell layer
  // issues: scripts/setup.sh:135 polls `SHOW TABLES` to verify the
  // catalog; scripts/maintenance.sh:57 gates every maintenance pass on
  // `DESCRIBE ${table}` succeeding (output discarded — FAILURE is the
  // table-does-not-exist signal that skips mat_* before first
  // materialization)
  private val ShowTablesRe = """(?is)^SHOW\s+TABLES$""".r
  private val DescribeRe = """(?is)^(?:DESCRIBE|DESC)\s+([\w.]+)$""".r
  private val MergeHead =
    """(?is)^MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+""".r
  private val MergeOn =
    """(?is)^\s*(?:(?:AS\s+)?(\w+)\s+)?ON\s+(.+?)\s+(WHEN\s+.+)$""".r

  /** One parsed `WHEN` clause of a MERGE. `set` is the raw assignment
    * list text for UPDATE ("*" for `SET *`), the raw `(cols) VALUES
    * (exprs)` text for a column-list INSERT (null for `INSERT *`),
    * null for DELETE.
    */
  private final case class MergeClause(matched: Boolean, cond: Option[String],
      verb: String, set: String = null, insertCols: Seq[String] = Nil,
      insertValues: Seq[String] = Nil)

  private val WhenUpdateRe =
    """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+(.+)$""".r
  private val WhenDeleteRe =
    """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE$""".r
  private val WhenInsertRe =
    """(?is)^NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+INSERT\s+\*$""".r
  private val WhenInsertValuesRe =
    """(?is)^NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)$""".r

  /** Parsed MERGE: target, target alias, source text, source alias,
    * ON clause, WHEN clauses in statement order.
    */
  private final case class MergeStmt(target: String, targetAlias: Option[String],
      using: String, srcAlias: Option[String], on: String,
      clauses: Seq[MergeClause])

  /** Parse a MERGE statement. The USING source is consumed PAREN-AWARE
    * (a subquery may itself contain `JOIN ... ON` — a regex splitting
    * on the first ` ON ` would truncate it); the WHEN tail splits on
    * top-level `WHEN` keywords, each clause matched against the three
    * supported shapes (UPDATE SET assignments-or-*, DELETE, INSERT *).
    * Anything else refuses loudly rather than approximating.
    */
  private def parseMerge(stmt: String): Option[MergeStmt] =
    MergeHead.findFirstMatchIn(stmt).map { m =>
      val rest = stmt.substring(m.end).trim
      val (usingText, afterUsing) =
        if (rest.startsWith("(")) {
          var depth = 0; var i = 0; var inQ = false; var end = -1
          while (i < rest.length && end < 0) {
            rest(i) match {
              case '\'' => inQ = !inQ
              case '(' if !inQ => depth += 1
              case ')' if !inQ => depth -= 1; if (depth == 0) end = i
              case _ =>
            }
            i += 1
          }
          require(end > 0, "unbalanced parentheses in MERGE USING source")
          (rest.substring(0, end + 1), rest.substring(end + 1))
        } else {
          val w = rest.takeWhile(c => c.isLetterOrDigit || c == '_' || c == '.')
          require(w.nonEmpty, "MERGE USING needs a view name or a (subquery)")
          (w, rest.substring(w.length))
        }
      val onM = MergeOn.findFirstMatchIn(afterUsing).getOrElse(
        throw new IllegalArgumentException(
          s"unparseable MERGE ON/WHEN tail: $afterUsing"))
      // split the WHEN tail on top-level WHEN keywords: quote- and
      // paren-aware, CASE…END-aware (a `CASE WHEN` inside a SET
      // expression is NOT a clause boundary), and word-boundary-exact
      // (a column named ts_when must not split mid-identifier)
      val tail = onM.group(3)
      def wordChar(c: Char) = c.isLetterOrDigit || c == '_'
      def isWord(i: Int, w: String): Boolean =
        tail.regionMatches(true, i, w, 0, w.length) &&
          (i == 0 || !wordChar(tail(i - 1))) &&
          (i + w.length == tail.length || !wordChar(tail(i + w.length)))
      val whenStarts = {
        var depth = 0; var inQ = false; var caseDepth = 0
        val starts = Seq.newBuilder[Int]
        var i = 0
        while (i < tail.length) {
          tail(i) match {
            case '\'' => inQ = !inQ
            case '(' if !inQ => depth += 1
            case ')' if !inQ => depth -= 1
            case _ =>
          }
          if (!inQ && depth == 0) {
            if (isWord(i, "CASE")) caseDepth += 1
            else if (isWord(i, "END")) caseDepth = math.max(0, caseDepth - 1)
            else if (caseDepth == 0 && isWord(i, "WHEN")) starts += i
          }
          i += 1
        }
        starts.result()
      }
      val clauses = whenStarts.zipAll(whenStarts.drop(1).map(Some(_)), 0, None)
        .map { case (s, e) =>
          tail.substring(s, e.getOrElse(tail.length)).trim
            .replaceAll("""(?is)^WHEN\s+""", "").replaceAll(";\\s*$", "").trim
        }
        .map {
          case WhenUpdateRe(cond, set) =>
            MergeClause(matched = true, Option(cond), "update", set.trim)
          case WhenDeleteRe(cond) =>
            MergeClause(matched = true, Option(cond), "delete")
          case WhenInsertRe(cond) =>
            MergeClause(matched = false, Option(cond), "insert")
          case WhenInsertValuesRe(cond, cols, values) =>
            MergeClause(matched = false, Option(cond), "insert",
              insertCols = cols.split(',').map(_.trim).toSeq,
              insertValues = splitTopLevel(values))
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE WHEN clause '$other' — supported: " +
              "[NOT] MATCHED [AND <cond>] THEN UPDATE SET <assignments|*> " +
              "/ DELETE / INSERT *")
        }
      require(clauses.nonEmpty, "MERGE needs at least one WHEN clause")
      MergeStmt(m.group(1), Option(m.group(2)), usingText,
        Option(onM.group(1)), onM.group(2), clauses)
    }

  // Trino-style maintenance procedures (scripts/maintenance.sh:66-79
  // issues exactly these) and the ALTER COLUMN DDL trio
  private val AlterExecRe =
    """(?is)^ALTER\s+TABLE\s+([\w.]+)\s+EXECUTE\s+(\w+)\s*\(([^)]*)\)\s*$""".r
  private val AlterAddRe =
    """(?is)^ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMNS?\s*\((.+)\)\s*$""".r
  private val AlterDropRe =
    """(?is)^ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMNS?\s+([\w\s,]+)$""".r
  private val AlterRenameRe =
    """(?is)^ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$""".r

  // Trino/Iceberg procedure-call style: CALL iceberg.system.<proc>(...)
  private val CallRe =
    """(?is)^CALL\s+[\w.]*system\.(\w+)\s*\((.*)\)\s*$""".r

  /** `'128MB'` / `'64kB'` / `'1GB'` → bytes. */
  private[graft] def parseBytes(s: String): Long = {
    val m = """(?i)'?\s*(\d+)\s*(B|KB|MB|GB)?\s*'?""".r
      .findFirstMatchIn(s.trim).getOrElse(
        throw new IllegalArgumentException(s"bad size literal: '$s'"))
    val n = m.group(1).toLong
    Option(m.group(2)).map(_.toUpperCase) match {
      case Some("KB") => n * 1024L
      case Some("MB") => n * 1024L * 1024
      case Some("GB") => n * 1024L * 1024 * 1024
      case _ => n
    }
  }

  /** `'7d'` / `'12h'` / `'30m'` / `'45s'` → milliseconds. */
  private[graft] def parseDurationMs(s: String): Long = {
    val m = """(?i)'?\s*(\d+)\s*(d|h|m|s)\s*'?""".r
      .findFirstMatchIn(s.trim).getOrElse(
        throw new IllegalArgumentException(s"bad duration literal: '$s'"))
    val n = m.group(1).toLong
    m.group(2).toLowerCase match {
      case "d" => n * 86400000L
      case "h" => n * 3600000L
      case "m" => n * 60000L
      case "s" => n * 1000L
    }
  }

  /** The value of a `name => 'value'` argument list entry, if present. */
  private def namedArg(args: String, name: String): Option[String] =
    s"""(?i)$name\\s*=>\\s*('[^']*'|\\S+)""".r
      .findFirstMatchIn(args).map(_.group(1))

  /** Last identifier segment: `iceberg.db.foo` → `foo`. */
  private def baseName(qualified: String): String =
    qualified.split('.').last

  // ---- persisted catalog views ----

  /** View-definition sidecars: `<root>/_views/NNNN_<name>.sql` holds a
    * runner-created view's ORIGINAL body text, creation-ordered by the
    * counter prefix so a later run re-registers dependencies before
    * dependents. The engine's analog of the reference's persisted Trino
    * views: a view applied in one runner invocation (apply_views.sh)
    * serves reads in every later one (materialize.sh's
    * `CREATE TABLE ... AS SELECT * FROM iceberg.db.<view>`).
    */
  private def viewFiles(root: String): Seq[java.io.File] =
    Option(java.nio.file.Paths.get(root, "_views").toFile.listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+_.*\\.sql")).sortBy(_.getName).toSeq

  private def viewFileOf(root: String, name: String): Option[java.io.File] =
    viewFiles(root).find(_.getName.matches(
      "\\d+_" + java.util.regex.Pattern.quote(name) + "\\.sql"))

  private def loadViewDefs(root: String)
      : scala.collection.mutable.LinkedHashMap[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    viewFiles(root).foreach { f =>
      out(f.getName.replaceFirst("^\\d+_", "").stripSuffix(".sql")) =
        java.nio.file.Files.readString(f.toPath)
    }
    out
  }

  private def persistViewDef(root: String, name: String, body: String): Unit = {
    val dir = java.nio.file.Paths.get(root, "_views")
    java.nio.file.Files.createDirectories(dir)
    val target = viewFileOf(root, name).map(_.toPath).getOrElse {
      val next = viewFiles(root).size + 1
      dir.resolve(f"$next%04d_$name.sql")
    }
    java.nio.file.Files.writeString(target, body)
  }

  private def dropViewDef(root: String, name: String): Unit =
    viewFileOf(root, name).foreach(_.delete())

  /** Head-anchored temp-view-DDL detector: ONLY a statement that IS
    * view DDL (not one merely carrying the words in a string literal —
    * `INSERT ... VALUES ('CREATE VIEW')` must not match) triggers the
    * rewrite-inventory refresh after the spark.sql fallthrough.
    */
  private[graft] val ViewDdlRe =
    ("""(?is)^\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?""" +
      """(?:TEMP(?:ORARY)?\s+)?VIEW|DROP\s+VIEW)\b.*""").r

  /** Rewrite catalog-qualified table names to their bare temp-view
    * names OUTSIDE single-quoted string literals (a literal like
    * `'iceberg.db.foo'` must survive verbatim). Three-part names
    * (`<catalog>.<schema>.t`) always rewrite; two-part names rewrite
    * only under the reference's `db` schema segment (its scripts
    * qualify every table as `iceberg.db.<t>`) — a generic two-part
    * match would clobber `alias.column` references. Names are
    * regex-quoted, so no metacharacter in a table name can widen the
    * match.
    */
  /** Apply `f` to the UNQUOTED runs of a statement, leaving
    * single-quoted string literals byte-identical (a doubled `''`
    * stays inside quotes). Shared by the qualified-name rewrite and
    * the time-travel pin — both must never touch SQL text carried as
    * DATA in a literal.
    */
  private def mapUnquoted(stmt: String)(f: String => String): String = {
    val segs = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    val cur = new StringBuilder
    var inQ = false
    stmt.foreach {
      case '\'' if !inQ =>
        if (cur.nonEmpty) { segs += ((cur.toString, false)); cur.clear() }
        inQ = true; cur += '\''
      case '\'' =>
        cur += '\''; segs += ((cur.toString, true)); cur.clear(); inQ = false
      case ch => cur += ch
    }
    if (cur.nonEmpty) segs += ((cur.toString, inQ))
    segs.map { case (text, quoted) => if (quoted) text else f(text) }.mkString
  }

  /** `twoPartNames` additionally rewrite as bare `db.<name>` — catalog
    * TABLES only, never temp views: the reference qualifies its views
    * three-part, and a 2-part match over view names would clobber an
    * alias-qualified column reference that happens to share a view's
    * name (`WITH db AS (...) SELECT db.events`).
    */
  private[graft] def rewriteQualified(stmt: String, names: Iterable[String],
      twoPartNames: Set[String] = Set.empty): String = {
    import java.util.regex.{Matcher, Pattern}
    val res = names.toSeq.map { n =>
      val two = if (twoPartNames.contains(n)) """|db""" else ""
      Pattern.compile(
        s"""(?i)\\b(?:\\w+\\.\\w+$two)\\.${Pattern.quote(n)}\\b""") -> n
    }
    mapUnquoted(stmt) { text =>
      res.foldLeft(text) { case (s, (p, n)) =>
        p.matcher(s).replaceAll(Matcher.quoteReplacement(n)) }
    }
  }

  private val AsOfRe =
    """(?is)\b(\w+)\s+FOR\s+(TIMESTAMP|SYSTEM_TIME|VERSION|SYSTEM_VERSION)\s+AS\s+OF\s+(TIMESTAMP\s+'[^']*'|'[^']*'|\d+)""".r

  /** Time-travel SQL (the reference showcases `SELECT * FROM t FOR
    * TIMESTAMP AS OF …`; Trino/Iceberg accept VERSION and TIMESTAMP
    * forms): each `t FOR … AS OF …` over a catalog table pins the
    * resolved snapshot into a scoped temp view and substitutes the
    * view name, so the statement replays verbatim. Non-table names
    * (views, already-pinned reads) pass through untouched.
    */
  private def pinAsOf(tables: scala.collection.Map[String, GraftTable],
      stmt: String): String = {
    // a match STARTING inside a string literal is DATA, not a read —
    // skip it (the legitimate form's own TIMESTAMP '…' argument
    // extends INTO a literal, so mapUnquoted segmentation would break
    // the pattern; only the table-name start position must be code)
    val quoteStarts = {
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var inQ = false; var start = -1
      stmt.zipWithIndex.foreach { case (c, idx) =>
        if (c == '\'') {
          if (!inQ) { inQ = true; start = idx }
          else { inQ = false; spans += ((start, idx + 1)) }
        }
      }
      if (inQ) spans += ((start, stmt.length))
      spans.toSeq
    }
    def inLiteral(pos: Int) = quoteStarts.exists(s => pos >= s._1 && pos < s._2)
    var i = 0
    AsOfRe.replaceAllIn(stmt, m => {
      import java.util.regex.Matcher
      tables.get(m.group(1)).filter(_ => !inLiteral(m.start)) match {
        case None => Matcher.quoteReplacement(m.matched)
        case Some(t) =>
          i += 1
          val view = s"${m.group(1)}__asof_$i"
          val kind = m.group(2).toUpperCase
          // quoted or bare for both kinds; ISO 'T' separators accepted
          val arg = m.group(3).replaceAll("(?i)^TIMESTAMP\\s+", "")
            .stripPrefix("'").stripSuffix("'").trim
          val df =
            if (kind == "VERSION" || kind == "SYSTEM_VERSION") {
              require(arg.matches("\\d+"),
                s"FOR $kind AS OF needs a numeric snapshot version, got '$arg'")
              t.readLogical(Some(arg.toInt))
            } else {
              // parse in the SESSION timezone (Timestamp.valueOf would
              // use the JVM-default zone — this harness pins both to
              // UTC, but a deployment that doesn't would see the pinned
              // snapshot shift by the offset, and a date-only argument
              // become JVM-local midnight)
              val s0 = arg.replace(' ', 'T')
              val s1 = if (s0.contains("T")) s0 else s"${s0}T00:00:00"
              val zone = java.time.ZoneId.of(
                t.spark.sessionState.conf.sessionLocalTimeZone)
              t.readAsOfLogical(java.time.LocalDateTime.parse(s1)
                .atZone(zone).toInstant.toEpochMilli)
            }
          df.createOrReplaceTempView(view)
          Matcher.quoteReplacement(view)
      }
    })
  }

  /** Split a SET list on top-level commas (quote- and paren-aware, so
    * `SET v = round(a, 2), w = 'x,y'` splits correctly).
    */
  private[graft] def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    s.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case '(' if !inQuote => depth += 1; cur += '('
      case ')' if !inQuote => depth -= 1; cur += ')'
      case ',' if !inQuote && depth == 0 =>
        out += cur.toString.trim; cur.clear()
      case ch => cur += ch
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }

  private def marker(spark: SparkSession, verb: String, table: String): DataFrame = {
    import spark.implicits._
    Seq((verb, table)).toDF("dml", "table")
  }

  /** Run a script of SQL statements (DML + reads) against the catalog's
    * tables inside a scoped `newSession` (conf/view isolation, the
    * [[SqlRunner.run]] discipline — temp views are session-bound, so
    * the table handles are re-opened ON the scoped session too).
    * `registerExtras` publishes additional read-only views (e.g. the
    * testdata tables) into the scoped session before any statement.
    *
    * `atomic = true` stages EVERY statement's commits on a per-run WAP
    * branch of each table and fast-forwards once at script end — the
    * crash-window fix for the materializer's DELETE + re-INSERT repair
    * pairs (materialize.sh:197-216): through Trino those are two
    * autocommit statements, so a crash between them leaves the mat
    * table missing rows; staged on a branch, main either sees the whole
    * script's effect on a table or none of it. Statements inside the
    * run still read their predecessors' staged writes (the branch IS
    * the run's view). Publication is atomic PER TABLE (Iceberg has no
    * cross-table transactions either — the repair pair targets one
    * table, which is exactly the hole this closes); any failure before
    * publish drops every branch, main untouched. Maintenance
    * statements (ALTER ... EXECUTE, CALL system.*) and DROP TABLE
    * refuse in atomic mode — compaction/expiry/dir-deletion are not
    * stageable operations and belong to the non-atomic maintenance
    * replay.
    */
  def run(spark: SparkSession, cat: TableCatalog, script: String,
      registerExtras: SparkSession => Unit = _ => (),
      atomic: Boolean = false): DataFrame = {
    val scoped = spark.newSession()
    registerExtras(scoped)
    // mutable: CTAS adds runner-created tables, DROP TABLE removes them
    val tables = scala.collection.mutable.Map[String, GraftTable](
      cat.names.map(n => n -> new GraftTable(scoped, cat.defn(n), cat.root)): _*)
    val declared = cat.names.toSet
    // re-open tables a PREVIOUS run created via CTAS (the reference's
    // materializer is a cron: run 1 creates the mat table, every later
    // run sees it exists and goes incremental) — their schema rides a
    // DDL sidecar, since a CTAS table has no declared TableDef
    Option(new java.io.File(cat.root).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !declared.contains(d.getName))
      .foreach { d =>
        val sidecar = java.nio.file.Paths.get(d.getPath, CtasSchemaSidecar)
        if (java.nio.file.Files.exists(sidecar)) {
          val ddl = java.nio.file.Files.readString(sidecar)
          tables(d.getName) = new GraftTable(scoped,
            TableDef(d.getName, org.apache.spark.sql.types.StructType.fromDDL(ddl)),
            cat.root)
        }
      }
    // atomic mode: swap every handle for a view of a per-run WAP branch;
    // `mains` keeps the publish/abandon handles
    val staging: Option[String] =
      if (atomic) Some(s"dml-${java.util.UUID.randomUUID().toString.replace("-", "")}")
      else None
    val mains = scala.collection.mutable.Map[String, GraftTable]()
    staging.foreach { bn =>
      tables.keys.toSeq.foreach { n =>
        mains(n) = tables(n)
        tables(n) = tables(n).createBranch(bn)
      }
    }
    val stmts = SqlRunner.splitStatements(script)
    require(stmts.nonEmpty, "empty SQL script")
    var last: DataFrame = null
    // temp-view inventory for the qualified-name rewrite: one catalog
    // listing up front, refreshed only after a statement that can
    // change it — a per-statement listTables().collect() measured
    // ~1.3x on the multi-statement DML rows (AB_BENCH_round r15)
    var views: Set[String] =
      scoped.catalog.listTables().collect().map(_.name).toSet
    // persisted catalog views a PREVIOUS run (or this one) created via
    // CREATE [OR REPLACE] VIEW — re-registered whenever a dependency
    // may have moved (see below)
    val viewDefs = loadViewDefs(cat.root)
    var viewsFresh = false
    // registration trim: re-publish a table's temp view only when its
    // snapshot version moved (or the table is new) — a logical read
    // pins the snapshot at registration, so refreshing exactly the
    // moved tables per statement gives the same statement-level
    // read-committed as the old register-everything loop at
    // O(changed), not O(tables), plan/catalog churn per statement
    val registeredAt = scala.collection.mutable.Map[String, Int]()
    def refreshTables(): Boolean = {
      var changed = false
      registeredAt.keys.filterNot(tables.contains).toSeq
        .foreach { n => registeredAt.remove(n); changed = true }
      tables.foreach { case (n, t) =>
        val v = t.currentVersion
        if (!registeredAt.get(n).contains(v)) {
          if (v > 0) t.readLogical().createOrReplaceTempView(n)
          else scoped.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            t.currentSchema).createOrReplaceTempView(n)
          registeredAt(n) = v
          changed = true
        }
      }
      changed
    }
    // a Spark temp view pins its ANALYZED plan at CREATE, so catalog
    // views re-register from their stored ORIGINAL body whenever a base
    // table moved — that body re-resolves against the freshly
    // registered snapshots, which is what makes the runner's views
    // late-bound like Trino's (a view created before an INSERT reads
    // the post-INSERT table in the next statement)
    def registerView(name: String, body: String): Unit = {
      val rewritten = rewriteQualified(body,
        tables.keys.toSet ++ viewDefs.keys ++ views,
        twoPartNames = tables.keys.toSet)
      scoped.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name AS $rewritten")
    }
    try {
    stmts.foreach { stmt =>
      val tablesMoved = refreshTables()
      if ((tablesMoved || !viewsFresh) && viewDefs.nonEmpty) {
        viewDefs.foreach { case (n, b) => registerView(n, b) }
        viewsFresh = true
      }
      stmt match {
        case CreateViewRe(orReplace, name, body) =>
          val base = baseName(name)
          require(!tables.contains(base),
            s"$base is a table — CREATE VIEW cannot shadow it")
          require(orReplace != null || !viewDefs.contains(base),
            s"view $base already exists — use CREATE OR REPLACE VIEW")
          viewDefs(base) = body
          persistViewDef(cat.root, base, body)
          registerView(base, body)
          views += base
          last = marker(scoped, "CREATE VIEW", base)
        case DropViewRe(_, name) if viewDefs.contains(baseName(name)) =>
          val base = baseName(name)
          viewDefs.remove(base)
          dropViewDef(cat.root, base)
          scoped.catalog.dropTempView(base)
          views -= base
          last = marker(scoped, "DROP VIEW", base)
        case DropViewRe(ifExists, name)
            if ifExists != null && !views.contains(baseName(name)) =>
          last = marker(scoped, "DROP VIEW (absent)", baseName(name))
        case ShowTablesRe() =>
          // Trino-shaped (one `Table` column, name-ordered); catalog
          // views list alongside tables, as information_schema does
          import scoped.implicits._
          last = (tables.keys ++ viewDefs.keys).toSeq.sorted.toDF("Table")
        case DescribeRe(name) =>
          // resolve throws for a missing table exactly like Trino
          // errors — maintenance.sh's gate relies on the failure
          import scoped.implicits._
          val base = baseName(name)
          val sch =
            if (tables.contains(base)) tables(base).currentSchema
            else if (viewDefs.contains(base)) scoped.table(base).schema
            else throw new IllegalArgumentException(
              s"DESCRIBE $base: table does not exist")
          last = sch.fields.toSeq
            .map(f => (f.name, f.dataType.sql.toLowerCase, "", ""))
            .toDF("Column", "Type", "Extra", "Comment")
        case _ =>
          // catalog-qualified names (`iceberg.db.foo`, `db.foo`) resolve
          // to the temp views by LAST segment — applied to the whole
          // statement so qualified names inside subqueries and plain
          // SELECTs replay verbatim too (the reference's scripts qualify
          // every reference). Temp views count: materialize.sh qualifies
          // its VIEW reads (`CREATE TABLE ... AS SELECT * FROM
          // iceberg.db.v_x`) the same way it qualifies tables.
          val rewritten = pinAsOf(tables,
            rewriteQualified(stmt, tables.keys.toSet ++ viewDefs.keys ++ views,
              twoPartNames = tables.keys.toSet))
          val r = runStatement(scoped, tables, declared, cat.root, rewritten,
            staging, mains)
          if (r != null) last = r
          if (ViewDdlRe.pattern.matcher(stmt).matches())
            views = scoped.catalog.listTables().collect().map(_.name).toSet
      }
    }
    require(last != null, "script contained only SET statements")
    // atomic publish: one fast-forward per table (atomic per table —
    // the WAP publish leg); empty branches publish as a clean zero
    staging.foreach(bn => mains.values.foreach(_.fastForward(bn)))
    last
    } catch {
      case e: Throwable =>
        // abandon every staged branch: main never saw a byte; the
        // branches' data files become orphans for the maintenance sweep
        staging.foreach { bn =>
          mains.values.foreach(m =>
            try m.dropBranch(bn)
            catch { case _: Exception => () }) // best-effort cleanup
        }
        throw e
    }
  }

  private def resolve(tables: scala.collection.Map[String, GraftTable],
      qualified: String): GraftTable =
    tables.getOrElse(baseName(qualified),
      throw new IllegalArgumentException(s"unknown DML target table: $qualified"))

  private def runStatement(spark: SparkSession,
      tables: scala.collection.mutable.Map[String, GraftTable],
      declared: Set[String], root: String, stmt: String,
      staging: Option[String] = None,
      mains: scala.collection.mutable.Map[String, GraftTable] =
        scala.collection.mutable.Map.empty): DataFrame = stmt match {
    case CtasRe(ifNotExists, name, select) =>
      // M1 as SQL text (scripts/materialize.sh:84 opens every mat table
      // with `CREATE TABLE iceberg.db.<t> AS SELECT * FROM ...`): the
      // result materializes as an `overwrite` commit of a NEW
      // runner-scoped table under the same warehouse root
      val base = baseName(name)
      if (tables.contains(base)) {
        require(ifNotExists != null,
          s"table $base already exists — CREATE TABLE ... AS refuses " +
            "(use IF NOT EXISTS for the materializer's table-exists skip)")
        marker(spark, "CREATE TABLE (exists)", base)
      } else {
        val df = spark.sql(select)
        val t = new GraftTable(spark, TableDef(base, df.schema), root)
        // schema sidecar: a later run (new DmlRunner.run) re-opens this
        // table by reading it back — CTAS tables have no declared def
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(root, base, CtasSchemaSidecar), df.schema.toDDL)
        staging match {
          case Some(bn) =>
            // atomic mode: even the CTAS payload stages — a crash leaves
            // an EMPTY table (sidecar + no commit), never a partial run
            val b = t.createBranch(bn)
            b.overwrite(df)
            mains(base) = t
            tables(base) = b
          case None =>
            t.overwrite(df)
            tables(base) = t
        }
        marker(spark, "CREATE TABLE AS", base)
      }
    case DropTableRe(ifExists, name) =>
      require(staging.isEmpty,
        "DROP TABLE is not stageable — directory deletion cannot be " +
          "published atomically; run it outside atomic mode")
      val base = baseName(name)
      tables.get(base) match {
        case None =>
          require(ifExists != null, s"unknown table to DROP: $base")
          marker(spark, "DROP TABLE (absent)", base)
        case Some(_) =>
          // only runner-created (CTAS) tables drop; catalog-declared
          // tables are administered through the TableCatalog (purge),
          // and silently unregistering one here would desync the two
          require(!declared.contains(base),
            s"$base is catalog-declared — DROP TABLE only removes " +
              "runner-created (CTAS) tables; use TableCatalog.purge")
          tables.remove(base)
          spark.catalog.dropTempView(base)
          graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(root, base))
          marker(spark, "DROP TABLE", base)
      }
    case DeleteRe(name, whereOrNull) =>
      val t = resolve(tables, name)
      val cond = Option(whereOrNull).map(expr).getOrElse(lit(true))
      t.deleteWhere(cond)
      marker(spark, "DELETE", t.defn.name)
    case UpdateRe(name, setList, whereOrNull) =>
      val t = resolve(tables, name)
      runUpdate(spark, t, setList, Option(whereOrNull))
      marker(spark, "UPDATE", t.defn.name)
    case InsertRe(name, colsOrNull, query) =>
      val t = resolve(tables, name)
      t.append(alignInsert(spark, t, Option(colsOrNull), query))
      marker(spark, "INSERT", t.defn.name)
    case InsertOverwriteRe(name, colsOrNull, query) =>
      val t = resolve(tables, name)
      t.overwrite(alignInsert(spark, t, Option(colsOrNull), query))
      marker(spark, "INSERT OVERWRITE", t.defn.name)
    case AlterExecRe(name, proc, args) =>
      require(staging.isEmpty,
        s"ALTER TABLE EXECUTE $proc is maintenance, not stageable DML — " +
          "run it outside atomic mode")
      val t = resolve(tables, name)
      proc.toLowerCase match {
        case "optimize" =>
          // Trino: ALTER TABLE t EXECUTE optimize(file_size_threshold => '128MB')
          val target = namedArg(args, "file_size_threshold")
            .map(parseBytes).getOrElse(128L * 1024 * 1024)
          t.compact(targetBytes = target)
        case "expire_snapshots" =>
          val retention = namedArg(args, "retention_threshold")
            .map(parseDurationMs).getOrElse(7L * 86400000)
          t.expireSnapshots(retention)
        case "remove_orphan_files" =>
          // the engine's orphan sweep reclaims files referenced by NO
          // surviving snapshot; retention_threshold is the concurrency
          // guard (a racing writer's files sit unreferenced between
          // its staging move and its publish CAS) — honored, Iceberg's
          // 3d default when the script omits it
          t.removeOrphans(minAgeMs = namedArg(args, "retention_threshold")
            .map(parseDurationMs).getOrElse(3L * 86400000))
        case other => throw new IllegalArgumentException(
          s"${t.defn.name}: unknown table procedure '$other' — " +
            "optimize / expire_snapshots / remove_orphan_files")
      }
      marker(spark, s"EXECUTE $proc", baseName(name))
    case CallRe(proc, args) =>
      require(staging.isEmpty,
        s"CALL system.$proc is maintenance, not stageable DML — " +
          "run it outside atomic mode")
      // positional-or-named args; the table is the first 'db.t' literal
      val argList = splitTopLevel(args).map(_.trim)
      def tableArg: GraftTable = {
        val named = namedArg(args, "table").orElse(namedArg(args, "schema_table"))
        val raw = named.orElse(argList.headOption).getOrElse(
          throw new IllegalArgumentException(s"CALL $proc: missing table argument"))
        resolve(tables, raw.stripPrefix("'").stripSuffix("'"))
      }
      proc.toLowerCase match {
        case "rollback_to_snapshot" =>
          // CALL iceberg.system.rollback_to_snapshot('db.t', <version>)
          val t = tableArg
          val v = namedArg(args, "snapshot_id").orElse(argList.lift(1)).getOrElse(
            throw new IllegalArgumentException(
              s"CALL rollback_to_snapshot: missing snapshot id")).trim.toInt
          t.rollback(v)
          marker(spark, "ROLLBACK", t.defn.name)
        case "fast_forward" =>
          // CALL iceberg.system.fast_forward('db.t', 'main', 'audit'):
          // publish the staged branch onto main (the WAP publish leg)
          val t = tableArg
          val to = namedArg(args, "to").orElse(argList.lift(2)).getOrElse(
            throw new IllegalArgumentException(
              s"CALL fast_forward: missing source branch")).trim
              .stripPrefix("'").stripSuffix("'")
          t.fastForward(to)
          marker(spark, "FAST_FORWARD", t.defn.name)
        case "expire_snapshots" =>
          val t = tableArg
          val retention = namedArg(args, "retention_threshold")
            .map(parseDurationMs).getOrElse(7L * 86400000)
          t.expireSnapshots(retention)
          marker(spark, "EXPIRE_SNAPSHOTS", t.defn.name)
        case "remove_orphan_files" =>
          val t = tableArg
          // retention honored as the concurrency guard (see the ALTER
          // EXECUTE route); Iceberg's 3d default when omitted
          t.removeOrphans(minAgeMs = namedArg(args, "retention_threshold")
            .map(parseDurationMs).getOrElse(3L * 86400000))
          marker(spark, "REMOVE_ORPHAN_FILES", t.defn.name)
        case other => throw new IllegalArgumentException(
          s"unknown procedure 'system.$other' — rollback_to_snapshot / " +
            "fast_forward / expire_snapshots / remove_orphan_files")
      }
    case AlterRenameRe(name, from, to) =>
      val t = resolve(tables, name)
      t.renameColumn(from, to)
      marker(spark, "RENAME COLUMN", t.defn.name)
    case AlterAddRe(name, colList) =>
      val t = resolve(tables, name)
      t.addColumns(org.apache.spark.sql.types.StructType.fromDDL(colList).fields: _*)
      marker(spark, "ADD COLUMNS", t.defn.name)
    case AlterDropRe(name, colList) =>
      val t = resolve(tables, name)
      t.dropColumns(colList.split(',').map(_.trim).toIndexedSeq: _*)
      marker(spark, "DROP COLUMNS", t.defn.name)
    case merge if merge.trim.toUpperCase.startsWith("MERGE") =>
      parseMerge(merge.trim) match {
        case Some(ms) =>
          val t = resolve(tables, ms.target)
          runMerge(spark, t, ms)
          marker(spark, "MERGE", t.defn.name)
        case None =>
          throw new IllegalArgumentException(s"unparseable MERGE statement: $merge")
      }
    case other =>
      SqlRunner.applySetOrSql(spark, other)
  }

  /** Align an INSERT source to the table schema: column-list mapping
    * when given (must cover the schema), positional otherwise — SQL's
    * rules — then the implicit write-side cast.
    */
  private def alignInsert(spark: SparkSession, t: GraftTable,
      colsOrNull: Option[String], query: String): DataFrame = {
    val src = spark.sql(query)
    val want = t.currentSchema.fieldNames
    val aligned = colsOrNull match {
      case Some(colList) =>
        val names = colList.split(',').map(_.trim)
        require(names.sorted.sameElements(want.sorted.toArray[String]),
          s"${t.defn.name}: INSERT column list must cover the schema " +
            s"(${want.mkString(", ")}) — partial inserts are not supported")
        src.toDF(names.toIndexedSeq: _*)
      case None =>
        require(src.columns.length == want.length,
          s"${t.defn.name}: INSERT arity ${src.columns.length} != ${want.length}")
        src.toDF(want.toIndexedSeq: _*) // positional, like SQL
    }
    castTo(aligned, t)
  }

  /** SQL's implicit write-side cast: align a frame's column TYPES to
    * the table schema (a `VALUES (1, 'a', 1.0)` literal types as
    * INT/DECIMAL — appended raw, the parquet physical types would
    * diverge from the declared schema and reads would miscarry).
    */
  private def castTo(df: DataFrame, t: GraftTable): DataFrame = {
    val schema = t.currentSchema
    df.select(schema.fields.map(f => df.col(f.name).cast(f.dataType).as(f.name))
      .toIndexedSeq: _*)
  }

  private def runUpdate(spark: SparkSession, t: GraftTable,
      setList: String, where: Option[String]): Unit = {
    val cond: Column = where.map(expr).getOrElse(lit(true))
    val assignments = splitTopLevel(setList).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"${t.defn.name}: bad SET assignment '$a'")
      val name = a.substring(0, i).trim
      require(t.currentSchema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"${t.defn.name}: SET names unknown column '$name'")
      require(!t.defn.keys.exists(_.equalsIgnoreCase(name)),
        s"${t.defn.name}: cannot UPDATE identifier key '$name'")
      name -> expr(a.substring(i + 1).trim)
    }
    require(assignments.map(_._1.toLowerCase).distinct.size == assignments.size,
      s"${t.defn.name}: duplicate column in SET list")
    // SQL evaluates every SET RHS against the OLD row — a single select
    // substituting the assigned columns, never a sequential withColumn
    // fold (there, `SET a = 1, b = a + 1` would see the NEW a)
    val byName = assignments.map { case (n, e) => n.toLowerCase -> e }.toMap
    val updated = castTo(t.readLogical().filter(cond).select(
      t.currentSchema.fieldNames.map(f =>
        byName.get(f.toLowerCase).map(_.as(f)).getOrElse(col(f))).toIndexedSeq: _*),
      t)
    if (t.defn.isUpsert) {
      // keyed table: the updated rows upsert by key — O(batch), and the
      // merge-on-read form never rewrites survivors
      t.upsert(updated)
    } else {
      // unkeyed: delete+re-insert of the affected rows. A raw rewrite
      // refuses over pending position deletes, so materialize them
      // first (the maintenance ordering a lakehouse operator runs
      // anyway; at 100 TB the compact is O(deleted-touched files))
      if (t.head.posDeleteFiles.nonEmpty) t.compact()
      t.replaceWhere(cond, updated)
    }
  }

  private def runMerge(spark: SparkSession, t: GraftTable, ms: MergeStmt): Unit = {
    require(t.defn.isUpsert,
      s"${t.defn.name}: MERGE INTO needs a keyed (upsert) table")
    // the source: a parenthesized subquery or a view name
    val src =
      if (ms.using.startsWith("("))
        spark.sql(ms.using.stripPrefix("(").stripSuffix(")"))
      else spark.table(ms.using)
    // the ON clause must be exactly the identifier-key equalities — the
    // one MERGE join with per-key semantics; anything else (partial
    // keys, extra predicates) would NOT be latest-wins-per-key and
    // refuses rather than approximating
    val eqRe = """(?i)\s*(?:\w+\.)?(\w+)\s*=\s*(?:\w+\.)?(\w+)\s*""".r
    val onCols = ms.on.split("(?i)\\bAND\\b").toSeq.map {
      case eqRe(a, b) =>
        require(a.equalsIgnoreCase(b),
          s"${t.defn.name}: MERGE ON must equate same-named key columns, got '$a = $b'")
        a.toLowerCase
      case other =>
        throw new IllegalArgumentException(
          s"${t.defn.name}: unsupported MERGE ON term '$other' — key equalities only")
    }
    require(onCols.sorted == t.defn.keys.map(_.toLowerCase).sorted,
      s"${t.defn.name}: MERGE ON columns (${onCols.mkString(", ")}) must be " +
        s"exactly the identifier keys (${t.defn.keys.mkString(", ")})")
    val want = t.currentSchema.fieldNames
    // fast path — the exact upsert shape commits one upsert (O(batch),
    // merge-on-read stays zero-rewrite). INTENTIONAL semantic deviation
    // from SQL MERGE, documented: duplicate source key tuples are NOT
    // refused here — the upsert applies the whole batch latest-wins per
    // key (both strategies keep a duplicate-keyed batch's duplicates,
    // the s5 oracle contract), matching what the reference's Flink
    // upsert sinks do with a keyed changelog stream. The general path
    // below runs the SQL-MERGE duplicate guard because its clause
    // routing (first-match-wins per matched PAIR) genuinely corrupts
    // under multiple matches; the upsert shape has no per-pair routing
    // to corrupt.
    val upsertShaped = ms.clauses.map(c => (c.matched, c.cond, c.verb, c.set)) ==
      Seq((true, None, "update", "*"), (false, None, "insert", null))
    if (upsertShaped) {
      require(src.columns.map(_.toLowerCase).sorted.sameElements(
          want.map(_.toLowerCase).sorted.toArray[String]),
        s"${t.defn.name}: MERGE source columns must match the schema for SET */INSERT *")
      t.upsert(castTo(src.select(want.map(src.col).toIndexedSeq: _*), t))
      return
    }
    // general path — conditional UPDATE with explicit assignments,
    // MATCHED DELETE, conditional INSERT *: one keyed replace commit
    // over EXACTLY the touched keys (replaceKeys), never a table
    // rewrite. WHEN clauses apply first-match-wins per matched pair,
    // SQL MERGE's clause-order semantics; every SET RHS (and clause
    // cond) sees the OLD target row joined with its source row, both
    // addressable by alias.
    val tA = ms.targetAlias.getOrElse(t.defn.name)
    val sA = ms.srcAlias.getOrElse("__merge_src")
    val tgt = t.readLogical().as(tA)
    // persisted: the source subquery feeds the matched inner join, the
    // NOT MATCHED anti join, AND the duplicate-key guard — unpersisted
    // it would re-run (an aggregation, typically) three times
    val srcP = src.persist()
    val srcA = srcP.as(sA)
    val keyCond = onCols.map(k => col(s"$tA.$k") === col(s"$sA.$k")).reduce(_ && _)
    val matchedClauses = ms.clauses.filter(_.matched)
    val insertClauses = ms.clauses.filterNot(_.matched)
    require(insertClauses.size <= 1,
      s"${t.defn.name}: at most one WHEN NOT MATCHED clause is supported")
    val joined = tgt.join(srcA, keyCond, "inner")
    val action = matchedClauses.zipWithIndex
      .foldLeft(when(lit(false), lit(-1))) { case (acc, (c, i)) =>
        acc.when(c.cond.map(expr).getOrElse(lit(true)), lit(i))
      }.otherwise(lit(-1))
    // persisted: the matched join feeds one select per UPDATE clause
    // plus the stale-key projection — recomputing it per consumer would
    // re-run the join 2-3 times (the CdcAggConsumer split discipline)
    val acted = joined.withColumn("__action", action).persist()
    try {
    def updateProjection(set: String): Seq[org.apache.spark.sql.Column] =
      if (set.trim == "*") want.toSeq.map(c => col(s"$sA.$c").as(c))
      else {
        val assigns = splitTopLevel(set).map { a =>
          val i = a.indexOf('=')
          require(i > 0, s"${t.defn.name}: bad MERGE SET assignment '$a'")
          val raw = a.substring(0, i).trim
          val name = // an assignment may target-qualify its column
            if (raw.toLowerCase.startsWith(tA.toLowerCase + "."))
              raw.substring(tA.length + 1)
            else raw
          require(want.exists(_.equalsIgnoreCase(name)),
            s"${t.defn.name}: MERGE SET names unknown column '$name'")
          require(!t.defn.keys.exists(_.equalsIgnoreCase(name)),
            s"${t.defn.name}: cannot MERGE-update identifier key '$name'")
          name.toLowerCase -> expr(a.substring(i + 1).trim)
        }
        require(assigns.map(_._1).distinct.size == assigns.size,
          s"${t.defn.name}: duplicate column in MERGE SET list")
        val byName = assigns.toMap
        want.toSeq.map(c =>
          byName.get(c.toLowerCase).map(_.as(c)).getOrElse(col(s"$tA.$c").as(c)))
      }
    val updates = matchedClauses.zipWithIndex.collect {
      case (c, i) if c.verb == "update" =>
        acted.filter(col("__action") === i).select(updateProjection(c.set): _*)
    }
    val inserts = insertClauses.map { c =>
      val anti = srcA.join(tgt, keyCond, "left_anti")
      val filtered = c.cond.map(x => anti.filter(expr(x))).getOrElse(anti)
      if (c.insertCols.isEmpty) {
        require(want.forall(cn => src.columns.exists(_.equalsIgnoreCase(cn))),
          s"${t.defn.name}: MERGE source must carry every table column for INSERT *")
        filtered.select(want.toSeq.map(cn => col(cn)): _*)
      } else {
        // INSERT (cols) VALUES (exprs): exprs evaluate against the
        // source row; unlisted columns null-fill (SQL), keys must be
        // listed (an unkeyed insert row is unaddressable)
        require(c.insertCols.size == c.insertValues.size,
          s"${t.defn.name}: MERGE INSERT arity ${c.insertValues.size} != " +
            s"column list ${c.insertCols.size}")
        val byName = c.insertCols.map(_.toLowerCase)
          .zip(c.insertValues.map(v => expr(v))).toMap
        require(byName.size == c.insertCols.size,
          s"${t.defn.name}: duplicate column in MERGE INSERT list")
        c.insertCols.foreach(cn => require(want.exists(_.equalsIgnoreCase(cn)),
          s"${t.defn.name}: MERGE INSERT names unknown column '$cn'"))
        t.defn.keys.foreach(k => require(byName.contains(k.toLowerCase),
          s"${t.defn.name}: MERGE INSERT must list identifier key '$k'"))
        filtered.select(want.toSeq.map(cn => byName.get(cn.toLowerCase)
          .map(_.as(cn)).getOrElse(lit(null).cast(
            t.currentSchema(cn).dataType).as(cn))): _*)
      }
    }
    // SQL MERGE errors when several source rows hit one target row — a
    // silent arbitrary-winner here would corrupt; one aggregate guards
    require(srcP.groupBy(onCols.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count() == 0,
      s"${t.defn.name}: MERGE source has duplicate key tuples — " +
        "SQL MERGE forbids multiple matches per target row")
    val replacement = (updates ++ inserts).reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), t.currentSchema))
    val staleKeys = acted.filter(col("__action") >= 0)
      .select(t.defn.keys.map(k => col(s"$tA.$k").as(k)): _*)
    t.replaceKeys(staleKeys = staleKeys, keyCols = t.defn.keys,
      replacement = castTo(replacement, t))
    } finally { acted.unpersist(); srcP.unpersist(); () }
  }
}
