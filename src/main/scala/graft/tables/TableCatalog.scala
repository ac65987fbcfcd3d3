package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Warehouse-level registry: the analog of the reference's declarative
  * YAML table layer applied by iceberg/apply_tables.py:221-295. Holds
  * the TableDefs, opens/creates tables under one warehouse root, and
  * runs the startup schema-drift check (S7, apply_tables.py:146-218):
  * a live table whose physical schema no longer matches its declaration
  * fails fast instead of silently mis-reading.
  */
final class TableCatalog(spark: SparkSession, val root: String, defs: Seq[TableDef]) {

  private val byName: Map[String, TableDef] = defs.map(d => d.name -> d).toMap
  require(byName.size == defs.size, "duplicate table names in catalog")

  def defn(name: String): TableDef =
    byName.getOrElse(name, throw new IllegalArgumentException(s"unknown table: $name"))

  /** One handle per table (Iceberg's `CachingCatalog`), so its caches
    * stay warm; every `head` re-lists the log, so it sees all writers.
    */
  private val handles = scala.collection.concurrent.TrieMap[String, GraftTable]()

  def table(name: String): GraftTable =
    handles.getOrElseUpdate(name, new GraftTable(spark, defn(name), root))

  def names: Seq[String] = defs.map(_.name)

  /** Drift report for one table: empty = clean. Compares the declared
    * logical schema against what the live files actually carry
    * (name + datatype + nullability-widening only), plus partition-spec
    * and identifier-key drift against the stored definition.
    */
  def driftReport(name: String): Seq[String] = {
    val t = table(name)
    t.liveSchema match {
      case None => Nil // nothing materialized yet
      case Some(live) =>
        // the sanctioned declaration is the CURRENT schema (declared +
        // applied evolutions); a column dropped by evolution still sits
        // in pre-drop files legitimately, so any name that ever existed
        // is not drift either
        diffSchemas(t.currentSchema, live, t.everNamed(t.head)).map(s"table $name: " + _)
    }
  }

  /** `everNamed` is lower-cased, as GraftTable compares names. */
  private def diffSchemas(declared: StructType, live: StructType,
      everNamed: Set[String]): Seq[String] = {
    val dm = declared.fields.map(f => f.name -> f).toMap
    val lm = live.fields.map(f => f.name -> f).toMap
    // a declared column absent from live files is ADDITIVE evolution,
    // not drift: reads null-fill it (Iceberg's add-optional-column is
    // the same compatible change)
    val extra = live.fieldNames.filterNot(c => dm.contains(c) || everNamed(c.toLowerCase))
      .map(c => s"live column '$c' not declared")
    val typeDrift = declared.fields.flatMap { f =>
      lm.get(f.name).collect {
        case l if l.dataType != f.dataType =>
          s"column '${f.name}' type drift: declared ${f.dataType.sql}, live ${l.dataType.sql}"
      }
    }
    extra ++ typeDrift
  }

  /** S7 — assert every materialized table matches its declaration. */
  def checkDrift(): Unit = {
    val problems = names.flatMap(driftReport)
    require(problems.isEmpty, s"schema drift detected:\n${problems.mkString("\n")}")
  }

  /** M7+M8 — the maintenance sweep over every table in the catalog, the
    * analog of the reference's cron'd maintenance.sh:60-79 (Trino
    * `optimize` at the 128 MB threshold, then 7-day snapshot expiry and
    * orphan cleanup, per table). Compaction runs only when a table
    * actually has under-sized live files — an already-compact table
    * costs one directory listing, no commit, no rewrite.
    * Returns (table → files reclaimed) for observability.
    */
  def maintain(
      targetBytes: Long = 128L * 1024 * 1024,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Map[String, Int] =
    names.map { name =>
      val t = table(name)
      if (t.needsCompaction(targetBytes)) t.compact(targetBytes)
      t.expireSnapshots(retentionMs)
      // orphan sweep shares the retention: under concurrent writers it
      // is the guard for in-flight commits' unreferenced files
      name -> t.removeOrphans(minAgeMs = retentionMs)
    }.toMap

  /** M9 — purge: delete one table's data and commit log entirely
    * (the reference's clear-data reset, scripts/clear-data.sh).
    */
  def purge(name: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val p = Paths.get(root, defn(name).name)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    handles.remove(name) // its directories are gone; table(name) makes a new one
  }
}
