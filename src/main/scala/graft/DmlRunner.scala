package graft

import graft.tables.{GraftTable, TableCatalog, TableDef}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{FieldName, RelationTimeTravel, UnresolvedAttribute,
  UnresolvedFunction, UnresolvedIdentifier, UnresolvedProcedure, UnresolvedRelation, UnresolvedTable,
  UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{And, Cast, EqualTo, Expression, Literal,
  NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.{CreateViewCommand, SetCommand}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

/** X4 — SQL text over the snapshot-log tables: the reference drives its
  * lakehouse with SQL (`scripts/materialize.sh:197-216`: `DELETE FROM
  * iceberg.db.<t> WHERE <pred incl. IN (SELECT ...)>` then `INSERT INTO
  * iceberg.db.<t> SELECT ...`; `trino/apply_views.sh`'s `CREATE VIEW`;
  * `scripts/maintenance.sh`'s `ALTER TABLE … EXECUTE` and `CALL`). Each
  * statement is parsed by Spark's own `sqlParser` into a typed plan, and
  * the runner dispatches on the plan node:
  *
  *  - `DeleteFromTable` → [[GraftTable.deleteWhere]] — position deletes
  *    (O(matches) tombstones, zero rewrite) on append/COW tables,
  *    key-granular equality deletes on merge-on-read;
  *  - `UpdateTable` → keyed tables upsert the updated rows (O(batch));
  *    unkeyed tables [[GraftTable.replaceWhere]] (delete+re-insert,
  *    auto-compacting first if position deletes pend);
  *  - `InsertIntoStatement` → [[GraftTable.append]] / `overwrite`
  *    (positional when no column list, like SQL);
  *  - `MergeIntoTable` → [[GraftTable.upsert]] for the upsert shape (ON =
  *    the identifier keys, `UPDATE SET *` / `INSERT *`), one keyed
  *    replace commit for conditional / assignment / DELETE clauses; any
  *    other ON shape refuses loudly rather than approximating;
  *  - `CreateTableAsSelect` / `DropTable` → runner-created tables, their
  *    schema in a `_ctas_schema.ddl` sidecar so a later run re-opens them;
  *  - `CreateView` / `DropView` → PERSISTED catalog views: the body text
  *    lands in a `_views/` sidecar and re-registers in every later run,
  *    like Trino's catalog views;
  *  - `ShowTables` / `DescribeRelation` → the shell layer's metadata
  *    statements; `AddColumns` / `DropColumns` / `RenameColumn` →
  *    metadata-only schema evolution; `Call` → the maintenance and WAP
  *    procedures. Trino's `ALTER TABLE t EXECUTE proc(args)`, which
  *    Spark's grammar lacks, is the one statement matched textually; its
  *    `proc(args)` tail parses as a function call.
  *
  * Names resolve on the plan, never in the text ([[resolveNames]]): a
  * catalog-qualified `iceberg.db.t` reads the table or view `t`, and `t
  * FOR VERSION|TIMESTAMP AS OF …` reads that snapshot, in subqueries and
  * CTE bodies too; a string literal is data by construction. Everything
  * else (SELECT, temp views, SET) runs through Spark as in [[SqlRunner]].
  * Every table whose snapshot MOVED is re-published as a temp view under
  * its name before each statement, so each statement sees its
  * predecessors' writes (Trino's read-committed statement semantics).
  * Returns the LAST statement's result; DML yields a one-row (verb,
  * table) marker frame.
  */
object DmlRunner {

  /** Schema DDL sidecar a CTAS table leaves beside its commit log. */
  private val CtasSchemaSidecar = "_ctas_schema.ddl"

  // Trino's table-procedure form (scripts/maintenance.sh:66-79); the
  // `proc(args)` tail is a function call Spark's expression parser reads
  private val AlterExecRe =
    """(?is)^ALTER\s+TABLE\s+([\w.]+)\s+EXECUTE\s+(\w+\s*\(.*\))\s*$""".r

  private val ByteUnits = Map("b" -> 1L, "kb" -> (1L << 10), "mb" -> (1L << 20),
    "gb" -> (1L << 30), "tb" -> (1L << 40))
  private val MsUnits = Map("ms" -> 1L, "s" -> 1000L, "m" -> 60000L,
    "h" -> 3600000L, "d" -> 86400000L)
  private val UnitLiteral = """'?\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)\s*'?""".r

  /** A whole Trino unit literal (`'1.5GB'`, `'30ms'`) → base units,
    * truncated; anything else refuses.
    */
  private def parseUnits(s: String, units: Map[String, Long], what: String): Long =
    s.trim match {
      case UnitLiteral(n, u) if units.contains(u.toLowerCase) =>
        (BigDecimal(n) * units(u.toLowerCase)).toLong
      case _ => throw new IllegalArgumentException(
        s"bad $what literal: '$s' — a number with one of ${units.keys.mkString(" ")}")
    }

  /** `'128MB'` / `'64kB'` / `'1.5GB'` → bytes (Trino's B kB MB GB TB). */
  private[graft] def parseBytes(s: String): Long = parseUnits(s, ByteUnits, "size")

  /** `'7d'` / `'12h'` / `'30m'` / `'45s'` / `'30ms'` → milliseconds. */
  private[graft] def parseDurationMs(s: String): Long = parseUnits(s, MsUnits, "duration")

  /** Last identifier segment: `iceberg.db.foo` → `foo`. */
  private def baseName(qualified: String): String =
    qualified.split('.').last

  /** The bare name a parsed table or view reference carries. */
  private def nameOf(p: LogicalPlan): String = p match {
    case r: UnresolvedRelation => r.multipartIdentifier.last
    case i: UnresolvedIdentifier => i.nameParts.last
    case t: UnresolvedTable => t.multipartIdentifier.last
    case t: UnresolvedTableOrView => t.multipartIdentifier.last
    case a: SubqueryAlias => nameOf(a.child)
    case other => throw new IllegalArgumentException(s"not a table name: ${other.simpleString(1)}")
  }

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

  private def isTempView(spark: SparkSession, name: String): Boolean =
    spark.sessionState.catalog.getTempView(name).isDefined

  /** Resolve a parsed statement's names on its plan, subqueries and CTE
    * bodies included: `<catalog>.<schema>.t` → `t` when `t` is a runner
    * table or a temp view (the reference qualifies every reference as
    * `iceberg.db.<t>`), and `t FOR VERSION AS OF v` / `FOR TIMESTAMP AS
    * OF ts` over a runner table → that snapshot's logical read, the
    * timestamp cast in the session zone. Only relation nodes change, so
    * a string literal carrying SQL is never touched.
    */
  private def resolveNames(spark: SparkSession,
      tables: scala.collection.Map[String, GraftTable], plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.size > 1 && {
          val n = r.multipartIdentifier.last
          tables.contains(n) || isTempView(spark, n) } =>
        r.copy(multipartIdentifier = Seq(r.multipartIdentifier.last))
      case RelationTimeTravel(r: UnresolvedRelation, ts, version)
          if tables.contains(r.multipartIdentifier.last) =>
        val n = r.multipartIdentifier.last
        val t = tables(n)
        val df = version match {
          case Some(v) =>
            require(v.matches("\\d+"),
              s"FOR VERSION AS OF needs a numeric snapshot version, got '$v'")
            t.readLogical(Some(v.toInt))
          case None =>
            val at = Cast(ts.get, TimestampType,
              Some(spark.sessionState.conf.sessionLocalTimeZone))
            require(at.foldable, s"FOR TIMESTAMP AS OF needs a constant, got ${ts.get}")
            val micros = Option(at.eval()).getOrElse(throw new IllegalArgumentException(
              s"FOR TIMESTAMP AS OF: not a timestamp: ${ts.get}"))
            t.readAsOfLogical(Math.floorDiv(micros.asInstanceOf[Long], 1000L))
        }
        SubqueryAlias(n, GraftSqlBridge.plan(df))
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, d) =>
          (n, q.copy(child = resolveNames(spark, tables, q.child)), d) })
    }

  private def marker(spark: SparkSession, verb: String, table: String): DataFrame = {
    import spark.implicits._
    Seq((verb, table)).toDF("dml", "table")
  }

  /** Run a script of SQL statements (DML + reads) against the catalog's
    * tables inside a scoped `newSession` (conf/view isolation, the
    * [[SqlRunner.run]] discipline — temp views are session-bound, so
    * the table handles are re-opened ON the scoped session too). Each
    * statement parses after its predecessors ran, so a `SET` of the
    * session time zone governs a later `TIMESTAMP '…'` literal.
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
            TableDef(d.getName, StructType.fromDDL(ddl)), cat.root)
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
    // persisted catalog views a PREVIOUS run (or this one) created via
    // CREATE [OR REPLACE] VIEW — re-registered whenever a dependency
    // may have moved (see below)
    val viewDefs = loadViewDefs(cat.root)
    var viewsFresh = false
    // registration trim: re-publish a table's temp view only when its
    // snapshot version moved (or the table is new) — a logical read
    // pins the snapshot at registration, so refreshing exactly the
    // moved tables per statement gives statement-level read-committed
    // at O(changed), not O(tables), plan/catalog churn per statement
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
    def parsed(sql: String): LogicalPlan =
      resolveNames(scoped, tables, GraftSqlBridge.parse(scoped, sql))
    // a registered view pins the snapshots its body read, so catalog
    // views re-register from their stored ORIGINAL body whenever a base
    // table moved — which is what makes the runner's views late-bound
    // like Trino's (a view created before an INSERT reads the
    // post-INSERT table in the next statement)
    def registerView(name: String, body: String): Unit =
      GraftSqlBridge.ofRows(scoped, parsed(body)).createOrReplaceTempView(name)
    try {
    stmts.foreach { stmt =>
      val tablesMoved = refreshTables()
      if ((tablesMoved || !viewsFresh) && viewDefs.nonEmpty) {
        viewDefs.foreach { case (n, b) => registerView(n, b) }
        viewsFresh = true
      }
      val r = stmt match {
        case AlterExecRe(name, call) =>
          scoped.sessionState.sqlParser.parseExpression(call) match {
            case f: UnresolvedFunction =>
              runProcedure(scoped, tables, staging, f.nameParts.last, Literal(name) +: f.arguments)
            case other => throw new IllegalArgumentException(s"not a procedure call: $other")
          }
        case _ => parsed(stmt) match {
          case c: CreateView =>
            val base = nameOf(c.child)
            require(!tables.contains(base), s"$base is a table — CREATE VIEW cannot shadow it")
            require(c.replace || !viewDefs.contains(base),
              s"view $base already exists — use CREATE OR REPLACE VIEW")
            viewDefs(base) = c.originalText.get
            persistViewDef(cat.root, base, viewDefs(base))
            registerView(base, viewDefs(base))
            marker(scoped, "CREATE VIEW", base)
          case d: DropView =>
            val base = nameOf(d.child)
            require(!tables.contains(base), s"$base is a table — DROP VIEW cannot drop it")
            if (viewDefs.remove(base).isDefined) dropViewDef(cat.root, base)
            else require(d.ifExists || isTempView(scoped, base), s"unknown view to DROP: $base")
            scoped.catalog.dropTempView(base)
            marker(scoped, "DROP VIEW", base)
          case ShowTables(_, None, _) =>
            // Trino-shaped (one `Table` column, name-ordered); catalog
            // views list alongside tables, as information_schema does
            import scoped.implicits._
            (tables.keys ++ viewDefs.keys).toSeq.sorted.toDF("Table")
          case d: DescribeRelation =>
            // a missing table throws, as Trino errors — maintenance.sh's
            // gate relies on the failure
            import scoped.implicits._
            val base = nameOf(d.relation)
            val sch =
              if (tables.contains(base)) tables(base).currentSchema
              else if (viewDefs.contains(base)) scoped.table(base).schema
              else throw new IllegalArgumentException(s"DESCRIBE $base: table does not exist")
            sch.fields.toSeq.map(f => (f.name, f.dataType.sql.toLowerCase, "", ""))
              .toDF("Column", "Type", "Extra", "Comment")
          case _: SetCommand => SqlRunner.applySetOrSql(scoped, stmt)
          case c: CreateViewCommand =>
            // a temp view from SQL keeps its TEXT and re-parses it on
            // use, where `iceberg.db.t` would not resolve: register the
            // resolved plan instead
            GraftSqlBridge.ofRows(scoped, c.copy(originalText = None))
          case plan =>
            runStatement(scoped, tables, declared, cat.root, plan, staging, mains)
        }
      }
      if (r != null) last = r
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

  private def resolve(tables: scala.collection.Map[String, GraftTable],
      target: LogicalPlan): GraftTable = resolve(tables, nameOf(target))

  private def runStatement(spark: SparkSession,
      tables: scala.collection.mutable.Map[String, GraftTable],
      declared: Set[String], root: String, plan: LogicalPlan,
      staging: Option[String],
      mains: scala.collection.mutable.Map[String, GraftTable]): DataFrame = plan match {
    case c: CreateTableAsSelect =>
      // M1 as SQL text (scripts/materialize.sh:84 opens every mat table
      // with `CREATE TABLE iceberg.db.<t> AS SELECT * FROM ...`): the
      // result materializes as an `overwrite` commit of a NEW
      // runner-scoped table under the same warehouse root
      val base = nameOf(c.name)
      if (tables.contains(base)) {
        require(c.ignoreIfExists,
          s"table $base already exists — CREATE TABLE ... AS refuses " +
            "(use IF NOT EXISTS for the materializer's table-exists skip)")
        marker(spark, "CREATE TABLE (exists)", base)
      } else {
        require(c.partitioning.isEmpty,
          s"$base: CREATE TABLE ... PARTITIONED BY ... AS is not supported")
        val df = GraftSqlBridge.ofRows(spark, c.query)
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
    case d: DropTable =>
      require(staging.isEmpty,
        "DROP TABLE is not stageable — directory deletion cannot be " +
          "published atomically; run it outside atomic mode")
      val base = nameOf(d.child)
      tables.get(base) match {
        case None =>
          require(d.ifExists, s"unknown table to DROP: $base")
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
    case d: DeleteFromTable =>
      val t = resolve(tables, d.table)
      t.deleteWhere(GraftSqlBridge.column(d.condition))
      marker(spark, "DELETE", t.defn.name)
    case u: UpdateTable =>
      val t = resolve(tables, u.table)
      runUpdate(t, u.assignments, u.condition)
      marker(spark, "UPDATE", t.defn.name)
    case i: InsertIntoStatement =>
      val t = resolve(tables, i.table)
      require(i.partitionSpec.isEmpty && !i.byName,
        s"${t.defn.name}: INSERT ... PARTITION / BY NAME is not supported")
      val src = alignInsert(t, i.userSpecifiedCols, GraftSqlBridge.ofRows(spark, i.query))
      if (i.overwrite) t.overwrite(src) else t.append(src)
      marker(spark, if (i.overwrite) "INSERT OVERWRITE" else "INSERT", t.defn.name)
    case Call(UnresolvedProcedure(parts), args, _) =>
      runProcedure(spark, tables, staging, parts.last, args)
    case a: AddColumns =>
      val t = resolve(tables, a.table)
      t.addColumns(a.columnsToAdd.map { c =>
        require(c.path.isEmpty, s"${t.defn.name}: nested ADD COLUMNS is not supported")
        StructField(c.colName, c.dataType, c.nullable)
      }: _*)
      marker(spark, "ADD COLUMNS", t.defn.name)
    case d: DropColumns =>
      val t = resolve(tables, d.table)
      t.dropColumns(d.columnsToDrop.map(fieldName): _*)
      marker(spark, "DROP COLUMNS", t.defn.name)
    case r: RenameColumn =>
      val t = resolve(tables, r.table)
      t.renameColumn(fieldName(r.column), r.newName)
      marker(spark, "RENAME COLUMN", t.defn.name)
    case m: MergeIntoTable =>
      val t = resolve(tables, m.targetTable)
      runMerge(spark, t, m)
      marker(spark, "MERGE", t.defn.name)
    case other =>
      GraftSqlBridge.ofRows(spark, other)
  }

  private def fieldName(f: FieldName): String = f.name.mkString(".")

  /** A table procedure — `CALL <catalog>.system.<proc>(args)` or Trino's
    * `ALTER TABLE t EXECUTE <proc>(args)`, whose target arrives as the
    * first positional argument. Arguments are literals, named
    * (`retention_threshold => '7d'`) or positional (table, then
    * snapshot id / branch as Iceberg's procedures order them).
    */
  private def runProcedure(spark: SparkSession,
      tables: scala.collection.Map[String, GraftTable], staging: Option[String],
      proc: String, args: Seq[Expression]): DataFrame = {
    require(staging.isEmpty,
      s"$proc is maintenance, not stageable DML — run it outside atomic mode")
    val named = args.collect { case NamedArgumentExpression(k, v) => k.toLowerCase -> v }.toMap
    val positional = args.filterNot(_.isInstanceOf[NamedArgumentExpression])
    def arg(name: String, pos: Int = -1): Option[String] =
      named.get(name).orElse(positional.lift(pos)).map {
        case Literal(v, _) if v != null => v.toString
        case e => throw new IllegalArgumentException(
          s"$proc: argument '$name' must be a literal, got $e")
      }
    val t = resolve(tables, arg("table", 0).orElse(arg("schema_table")).getOrElse(
      throw new IllegalArgumentException(s"$proc: missing table argument")))
    proc.toLowerCase match {
      case "optimize" =>
        t.compact(targetBytes =
          arg("file_size_threshold").map(parseBytes).getOrElse(128L * 1024 * 1024))
      case "expire_snapshots" =>
        t.expireSnapshots(arg("retention_threshold").map(parseDurationMs).getOrElse(7L * 86400000))
      case "remove_orphan_files" =>
        // the engine's orphan sweep reclaims files referenced by NO
        // surviving snapshot; retention_threshold is the concurrency
        // guard (a racing writer's files sit unreferenced between its
        // staging move and its publish CAS), Iceberg's 3d default
        t.removeOrphans(minAgeMs =
          arg("retention_threshold").map(parseDurationMs).getOrElse(3L * 86400000))
      case "rollback_to_snapshot" =>
        t.rollback(arg("snapshot_id", 1).getOrElse(throw new IllegalArgumentException(
          s"$proc: missing snapshot id")).trim.toInt)
      case "fast_forward" =>
        // fast_forward('db.t', 'main', 'audit'): publish the staged
        // branch onto main (the WAP publish leg)
        t.fastForward(arg("to", 2).getOrElse(throw new IllegalArgumentException(
          s"$proc: missing source branch")))
      case other => throw new IllegalArgumentException(
        s"unknown procedure '$other' — optimize / expire_snapshots / " +
          "remove_orphan_files / rollback_to_snapshot / fast_forward")
    }
    marker(spark, proc.toUpperCase, t.defn.name)
  }

  /** Align an INSERT source to the table schema: column-list mapping
    * when given (must cover the schema), positional otherwise — SQL's
    * rules — then the implicit write-side cast.
    */
  private def alignInsert(t: GraftTable, cols: Seq[String], src: DataFrame): DataFrame = {
    val want = t.currentSchema.fieldNames
    val aligned =
      if (cols.nonEmpty) {
        require(cols.sorted.sameElements(want.sorted),
          s"${t.defn.name}: INSERT column list must cover the schema " +
            s"(${want.mkString(", ")}) — partial inserts are not supported")
        src.toDF(cols: _*)
      } else {
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

  /** The column an assignment's key names, optionally `qualifier.`-prefixed. */
  private def assignedColumn(key: Expression, qualifier: String): String = key match {
    case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(qualifier) => c
    case UnresolvedAttribute(Seq(c)) => c
    case other => other.toString
  }

  /** A `SET` list as lower-cased column → value: each a known non-key
    * column of `t`, at most once.
    */
  private def assignments(t: GraftTable, qualifier: String,
      as: Seq[Assignment]): Map[String, Column] = {
    val pairs = as.map { a =>
      val name = assignedColumn(a.key, qualifier)
      require(t.currentSchema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"${t.defn.name}: SET names unknown column '$name'")
      require(!t.defn.keys.exists(_.equalsIgnoreCase(name)),
        s"${t.defn.name}: cannot SET identifier key '$name'")
      name.toLowerCase -> GraftSqlBridge.column(a.value)
    }
    require(pairs.map(_._1).distinct.size == pairs.size,
      s"${t.defn.name}: duplicate column in SET list")
    pairs.toMap
  }

  private def runUpdate(t: GraftTable, as: Seq[Assignment],
      where: Option[Expression]): Unit = {
    val cond: Column = where.map(GraftSqlBridge.column).getOrElse(lit(true))
    val byName = assignments(t, t.defn.name, as)
    // SQL evaluates every SET RHS against the OLD row — a single select
    // substituting the assigned columns, never a sequential withColumn
    // fold (there, `SET a = 1, b = a + 1` would see the NEW a)
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

  private def runMerge(spark: SparkSession, t: GraftTable, m: MergeIntoTable): Unit = {
    require(t.defn.isUpsert,
      s"${t.defn.name}: MERGE INTO needs a keyed (upsert) table")
    require(m.notMatchedBySourceActions.isEmpty,
      s"${t.defn.name}: WHEN NOT MATCHED BY SOURCE is not supported — " +
        "[NOT] MATCHED [AND <cond>] THEN UPDATE / DELETE / INSERT only")
    val (src, sA) = m.sourceTable match {
      case a: SubqueryAlias => (GraftSqlBridge.ofRows(spark, a.child), a.alias)
      case p => (GraftSqlBridge.ofRows(spark, p), "__merge_src")
    }
    // the ON clause must be exactly the identifier-key equalities — the
    // one MERGE join with per-key semantics; anything else (partial
    // keys, extra predicates) would NOT be latest-wins-per-key and
    // refuses rather than approximating
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val onCols = conjuncts(m.mergeCondition).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        require(a.nameParts.last.equalsIgnoreCase(b.nameParts.last),
          s"${t.defn.name}: MERGE ON must equate same-named key columns, got '$a = $b'")
        a.nameParts.last.toLowerCase
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
    if (m.matchedActions == Seq(UpdateStarAction(None)) &&
        m.notMatchedActions == Seq(InsertStarAction(None))) {
      require(src.columns.map(_.toLowerCase).sorted.sameElements(
          want.map(_.toLowerCase).sorted.toArray[String]),
        s"${t.defn.name}: MERGE source columns must match the schema for SET */INSERT *")
      t.upsert(castTo(src.select(want.map(src.col).toIndexedSeq: _*), t))
      return
    }
    // general path — conditional UPDATE with explicit assignments,
    // MATCHED DELETE, conditional INSERT: one keyed replace commit over
    // EXACTLY the touched keys (replaceKeys), never a table rewrite.
    // WHEN clauses apply first-match-wins per matched pair, SQL MERGE's
    // clause-order semantics; every SET RHS (and clause cond) sees the
    // OLD target row joined with its source row, both addressable by
    // alias.
    val tA = m.targetTable match {
      case a: SubqueryAlias => a.alias
      case _ => t.defn.name
    }
    def cond(c: Option[Expression]): Column =
      c.map(GraftSqlBridge.column).getOrElse(lit(true))
    val tgt = t.readLogical().as(tA)
    // persisted: the source subquery feeds the matched inner join, the
    // NOT MATCHED anti join, AND the duplicate-key guard — unpersisted
    // it would re-run (an aggregation, typically) three times
    val srcP = src.persist()
    val srcA = srcP.as(sA)
    val keyCond = onCols.map(k => col(s"$tA.$k") === col(s"$sA.$k")).reduce(_ && _)
    require(m.notMatchedActions.size <= 1,
      s"${t.defn.name}: at most one WHEN NOT MATCHED clause is supported")
    val joined = tgt.join(srcA, keyCond, "inner")
    val action = m.matchedActions.zipWithIndex
      .foldLeft(when(lit(false), lit(-1))) { case (acc, (c, i)) =>
        acc.when(cond(c.condition), lit(i))
      }.otherwise(lit(-1))
    // persisted: the matched join feeds one select per UPDATE clause
    // plus the stale-key projection — recomputing it per consumer would
    // re-run the join 2-3 times (the CdcAggConsumer split discipline)
    val acted = joined.withColumn("__action", action).persist()
    try {
    val updates = m.matchedActions.zipWithIndex.collect {
      case (_: UpdateStarAction, i) =>
        acted.filter(col("__action") === i).select(want.toSeq.map(c => col(s"$sA.$c").as(c)): _*)
      case (u: UpdateAction, i) =>
        val byName = assignments(t, tA, u.assignments)
        acted.filter(col("__action") === i).select(want.toSeq.map(c =>
          byName.get(c.toLowerCase).map(_.as(c)).getOrElse(col(s"$tA.$c").as(c))): _*)
    }
    val inserts = m.notMatchedActions.map { c =>
      val filtered = srcA.join(tgt, keyCond, "left_anti").filter(cond(c.condition))
      c match {
        case a: InsertAction =>
          // INSERT (cols) VALUES (exprs): exprs evaluate against the
          // source row; unlisted columns null-fill (SQL), keys must be
          // listed (an unkeyed insert row is unaddressable)
          val byName = a.assignments.map(x =>
            assignedColumn(x.key, tA).toLowerCase -> GraftSqlBridge.column(x.value)).toMap
          require(byName.size == a.assignments.size,
            s"${t.defn.name}: duplicate column in MERGE INSERT list")
          byName.keys.foreach(cn => require(want.exists(_.equalsIgnoreCase(cn)),
            s"${t.defn.name}: MERGE INSERT names unknown column '$cn'"))
          t.defn.keys.foreach(k => require(byName.contains(k.toLowerCase),
            s"${t.defn.name}: MERGE INSERT must list identifier key '$k'"))
          filtered.select(want.toSeq.map(cn => byName.get(cn.toLowerCase)
            .map(_.as(cn)).getOrElse(lit(null).cast(
              t.currentSchema(cn).dataType).as(cn))): _*)
        case _ =>
          require(want.forall(cn => src.columns.exists(_.equalsIgnoreCase(cn))),
            s"${t.defn.name}: MERGE source must carry every table column for INSERT *")
          filtered.select(want.toSeq.map(cn => col(cn)): _*)
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
