package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL DML surface (X4): the reference's materializer repair text
  * (DELETE FROM ... WHERE fk IN (SELECT ...), INSERT INTO ... SELECT)
  * replays verbatim against the snapshot-log tables, each verb landing
  * on the table op with the right cost shape — DELETE → position/
  * equality tombstones, keyed UPDATE → upsert, MERGE → upsert —
  * with statement-level read-committed between statements.
  */
class DmlRunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_dml_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("typ", StringType),
    StructField("v", DoubleType)))

  test("INSERT SELECT / UPDATE / DELETE with IN-subquery replay; DELETE lands as position deletes") {
    val cat = new TableCatalog(spark, freshRoot("d1"), Seq(TableDef("t", schema)))
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO t VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0), (4, 'c', 4.0);
        |UPDATE t SET v = v * 10 WHERE typ = 'a';
        |DELETE FROM t WHERE id IN (SELECT id FROM t WHERE v >= 20.0);
        |SELECT id, typ, v FROM t
        |""".stripMargin)
    assert(out.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "a", 10.0), (2L, "b", 2.0), (4L, "c", 4.0)))
    // the DELETE wrote tombstones, not a rewrite
    val t = cat.table("t")
    assert(t.commits.last.op == "delete-pos")
    assert(t.commits.last.posDeleteFiles.nonEmpty)
  }

  test("catalog-qualified names resolve; statements see predecessors' writes (read-committed)") {
    val cat = new TableCatalog(spark, freshRoot("d2"), Seq(TableDef("t2", schema)))
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO iceberg.db.t2 VALUES (1, 'a', 5.0);
        |-- the second INSERT's SELECT reads the first's rows
        |INSERT INTO iceberg.db.t2 SELECT id + 1, typ, v + 1 FROM t2;
        |SELECT count(*) AS n, round(sum(v), 1) AS total FROM iceberg.db.t2
        |""".stripMargin)
    assert(out.columns.toSeq == Seq("n", "total"))
    val row = out.head()
    assert(row.getLong(0) == 2L && row.getDouble(1) == 11.0)
  }

  test("UPDATE evaluates every SET RHS against the OLD row (SQL multi-assignment)") {
    val cat = new TableCatalog(spark, freshRoot("d1b"), Seq(TableDef("t", schema)))
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO t VALUES (1, 'a', 2.0);
        |-- SQL: both RHS see the OLD row, so v and the typ-derived value
        |-- must not observe each other's assignment
        |UPDATE t SET v = v * 10, typ = concat(typ, cast(v AS INT));
        |SELECT id, typ, v FROM t
        |""".stripMargin)
    val r = out.head()
    assert(r.getString(1) == "a2", s"typ saw the NEW v: ${r.getString(1)}")
    assert(r.getDouble(2) == 20.0)
    // duplicate assignment refuses
    intercept[IllegalArgumentException] {
      DmlRunner.run(spark, cat, "UPDATE t SET v = 1.0, v = 2.0")
    }
  }

  test("qualified-name rewrite skips string literals and matches 2-part db.t names") {
    val cat = new TableCatalog(spark, freshRoot("d2b"), Seq(TableDef("t2", schema)))
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO db.t2 VALUES (1, 'iceberg.db.t2', 1.0);
        |SELECT typ FROM iceberg.db.t2 WHERE typ = 'iceberg.db.t2'
        |""".stripMargin)
    assert(out.collect().map(_.getString(0)).toSeq == Seq("iceberg.db.t2"),
      "a quoted literal was rewritten")
  }

  test("keyed UPDATE lands as an upsert; MERGE INTO upserts the source") {
    val cat = new TableCatalog(spark, freshRoot("d3"), Seq(
      TableDef("k", schema, keys = Seq("id"))))
    DmlRunner.run(spark, cat,
      """INSERT INTO k VALUES (1, 'a', 1.0), (2, 'b', 2.0);
        |UPDATE k SET v = 9.0 WHERE typ = 'b';
        |SELECT * FROM k
        |""".stripMargin)
    val k = cat.table("k")
    assert(k.commits.last.op == "upsert", "keyed UPDATE must upsert, not rewrite-all")
    assert(k.readLogical().filter(col("id") === 2).head().getDouble(2) == 9.0)
    DmlRunner.run(spark, cat,
      """MERGE INTO k USING (SELECT 2 AS id, 'b' AS typ, 20.0 AS v
        |                    UNION ALL SELECT 5, 'e', 50.0) s
        |ON k.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *;
        |SELECT * FROM k
        |""".stripMargin)
    val rows = k.readLogical().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 1.0), (2L, 20.0), (5L, 50.0)))
  }

  test("MERGE USING a subquery that itself contains a JOIN ... ON parses paren-aware") {
    val cat = new TableCatalog(spark, freshRoot("d8"), Seq(
      TableDef("k8", schema, keys = Seq("id"))))
    DmlRunner.run(spark, cat,
      """INSERT INTO k8 VALUES (1, 'a', 1.0);
        |MERGE INTO k8 USING (
        |  SELECT l.id, l.typ, r.v
        |  FROM (SELECT 1 AS id, 'a' AS typ) l
        |  JOIN (SELECT 1 AS id, 42.0 AS v) r ON l.id = r.id
        |) s
        |ON k8.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *;
        |SELECT * FROM k8
        |""".stripMargin)
    assert(cat.table("k8").readLogical().head().getDouble(2) == 42.0)
  }

  test("UPDATE after DELETE auto-compacts the pending tombstones first") {
    val cat = new TableCatalog(spark, freshRoot("d4"), Seq(TableDef("t4", schema)))
    DmlRunner.run(spark, cat,
      """INSERT INTO t4 VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0);
        |DELETE FROM t4 WHERE id = 2;
        |UPDATE t4 SET v = 0.0 WHERE typ = 'c';
        |SELECT id, typ, v FROM t4
        |""".stripMargin)
    val t = cat.table("t4")
    assert(t.commits.last.posDeleteFiles.isEmpty)
    assert(t.readLogical().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq == Seq((1L, 1.0), (3L, 0.0)))
  }

  test("DELETE on a merge-on-read table lands as equality tombstones") {
    val cat = new TableCatalog(spark, freshRoot("d5"), Seq(
      TableDef("m", schema, keys = Seq("id"), mergeOnRead = true)))
    val m = cat.table("m")
    m.upsert({ import spark.implicits._
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "typ", "v") })
    DmlRunner.run(spark, cat,
      """DELETE FROM m WHERE typ = 'b';
        |SELECT * FROM m
        |""".stripMargin)
    assert(m.commits.last.op == "delete-mor")
    assert(m.readLogical().count() == 1)
  }

  test("INSERT OVERWRITE replaces the table content (CTAS refresh shape)") {
    val cat = new TableCatalog(spark, freshRoot("d11"), Seq(TableDef("t11", schema)))
    DmlRunner.run(spark, cat,
      """INSERT INTO t11 VALUES (1, 'a', 1.0), (2, 'b', 2.0);
        |INSERT OVERWRITE t11 SELECT id, typ, v * 100 FROM t11 WHERE typ = 'a';
        |SELECT * FROM t11
        |""".stripMargin)
    val rows = cat.table("t11").readLogical().collect()
    assert(rows.length == 1 && rows.head.getDouble(2) == 100.0)
    assert(cat.table("t11").commits.last.op == "overwrite")
  }

  test("maintenance.sh's ALTER TABLE EXECUTE trio replays verbatim") {
    val cat = new TableCatalog(spark, freshRoot("d9"), Seq(TableDef("t9", schema)))
    val t = cat.table("t9")
    // the streaming-sliver shape: several small commits to compact
    for (i <- 0 until 4) {
      import spark.implicits._
      t.append(Seq((i.toLong, "a", i.toDouble)).toDF("id", "typ", "v"))
    }
    val filesBefore = t.commits.last.files.size
    Thread.sleep(2)
    // EXACT text shape from scripts/maintenance.sh:66-79
    DmlRunner.run(spark, cat,
      """ALTER TABLE t9 EXECUTE optimize(file_size_threshold => '128MB');
        |ALTER TABLE t9 EXECUTE expire_snapshots(retention_threshold => '0s');
        |ALTER TABLE t9 EXECUTE remove_orphan_files(retention_threshold => '7d');
        |SELECT count(*) AS n FROM t9
        |""".stripMargin)
    assert(t.commits.last.files.size < filesBefore, "optimize must compact")
    assert(t.commits.size == 1, "expire_snapshots must retire superseded commits")
    assert(t.readLogical().count() == 4)
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN DDL lands as metadata-only evolution") {
    val cat = new TableCatalog(spark, freshRoot("d10"), Seq(TableDef("t10", schema)))
    DmlRunner.run(spark, cat,
      """INSERT INTO t10 VALUES (1, 'a', 1.5);
        |ALTER TABLE t10 RENAME COLUMN v TO amount;
        |ALTER TABLE t10 ADD COLUMNS (note STRING);
        |ALTER TABLE t10 DROP COLUMN typ;
        |SELECT * FROM t10
        |""".stripMargin)
    val t = cat.table("t10")
    assert(t.currentSchema.fieldNames.toSeq == Seq("id", "amount", "note"))
    val row = t.readLogical().head()
    assert(row.getDouble(1) == 1.5 && row.isNullAt(2))
  }

  test("CALL system procedures: rollback_to_snapshot and fast_forward replay as text") {
    val cat = new TableCatalog(spark, freshRoot("d12"), Seq(TableDef("t12", schema)))
    val t = cat.table("t12")
    DmlRunner.run(spark, cat,
      """INSERT INTO t12 VALUES (1, 'a', 1.0);
        |INSERT INTO t12 VALUES (2, 'bad', -9.0);
        |CALL iceberg.system.rollback_to_snapshot('db.t12', 1);
        |SELECT * FROM t12
        |""".stripMargin)
    assert(t.readLogical().count() == 1)
    assert(t.commits.last.op == "rollback")
    // WAP publish via CALL: stage programmatically, publish as SQL text
    val b = t.createBranch("audit")
    b.append({ import spark.implicits._
      Seq((3L, "c", 3.0)).toDF("id", "typ", "v") })
    DmlRunner.run(spark, cat,
      """CALL iceberg.system.fast_forward('db.t12', 'main', 'audit');
        |SELECT * FROM t12""".stripMargin)
    assert(t.readLogical().count() == 2)
    assert(t.branches.isEmpty)
  }

  test("CREATE TABLE AS materializes a runner-scoped table; DROP TABLE removes it") {
    val cat = new TableCatalog(spark, freshRoot("d10"), Seq(TableDef("base", schema)))
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO base VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0);
        |CREATE TABLE iceberg.db.mat_sums AS
        |  SELECT typ, sum(v) AS total FROM iceberg.db.base GROUP BY typ;
        |-- the materializer's table-exists skip: second CTAS must no-op
        |CREATE TABLE IF NOT EXISTS iceberg.db.mat_sums AS SELECT 1 AS junk;
        |-- the new table is a first-class DML target
        |DELETE FROM iceberg.db.mat_sums WHERE typ = 'b';
        |SELECT typ, total FROM iceberg.db.mat_sums
        |""".stripMargin)
    assert(out.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("a", 4.0)))
    // plain CTAS on an existing table refuses; DROP removes CTAS tables
    intercept[IllegalArgumentException] {
      DmlRunner.run(spark, cat, "CREATE TABLE base AS SELECT 1 AS x")
    }
    val out2 = DmlRunner.run(spark, cat,
      """DROP TABLE iceberg.db.mat_sums;
        |DROP TABLE IF EXISTS mat_sums;
        |SELECT count(*) AS n FROM base
        |""".stripMargin)
    assert(out2.head().getLong(0) == 3L)
    // declared tables never DROP through the runner
    intercept[IllegalArgumentException] {
      DmlRunner.run(spark, cat, "DROP TABLE base")
    }
  }

  test("general MERGE: explicit SET assignments, MATCHED AND cond, MATCHED DELETE, conditional INSERT") {
    val cat = new TableCatalog(spark, freshRoot("d11"), Seq(
      TableDef("acct", schema, keys = Seq("id"))))
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO acct VALUES (1, 'keep', 10.0), (2, 'bump', 20.0),
        |                        (3, 'dead', 30.0), (4, 'keep', 40.0);
        |MERGE INTO acct t USING (
        |  SELECT 2 AS id, 'x' AS typ, 0.0 AS v, 5.0 AS delta UNION ALL
        |  SELECT 3, 'x', 0.0, 0.0 UNION ALL
        |  SELECT 9, 'new', 90.0, 99.0 UNION ALL
        |  SELECT 10, 'small', 1.0, 0.5
        |) s
        |ON t.id = s.id
        |WHEN MATCHED AND t.typ = 'dead' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta, typ = concat(t.typ, '!')
        |WHEN NOT MATCHED AND s.delta > 50.0 THEN INSERT *
        |;
        |SELECT id, typ, v FROM acct
        |""".stripMargin)
    // first-match-wins: id=3 deletes before the catch-all update; SET
    // RHS sees the OLD target row joined with its source row; the
    // conditional INSERT admits id=9 and filters id=10; untouched rows
    // (1, 4) survive a keyed replace over exactly the touched keys
    assert(out.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "keep", 10.0), (2L, "bump!", 25.0), (4L, "keep", 40.0),
        (9L, "new", 90.0)))
  }

  test("FOR VERSION/TIMESTAMP AS OF pins snapshots inside verbatim SQL text") {
    val cat = new TableCatalog(spark, freshRoot("d13"), Seq(TableDef("tt", schema)))
    DmlRunner.run(spark, cat,
      """INSERT INTO tt VALUES (1, 'a', 1.0), (2, 'a', 2.0);
        |INSERT INTO tt VALUES (3, 'b', 3.0)""".stripMargin)
    val t = cat.table("tt")
    val ts1 = new java.sql.Timestamp(t.commits.head.tsMs).toString
    val out = DmlRunner.run(spark, cat,
      s"""SELECT 1 AS leg, count(*) AS n FROM iceberg.db.tt FOR VERSION AS OF 1
         |UNION ALL
         |SELECT 2, count(*) FROM tt FOR TIMESTAMP AS OF TIMESTAMP '$ts1'
         |UNION ALL
         |SELECT 3, count(*) FROM tt
         |""".stripMargin)
    assert(out.orderBy("leg").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 2L), (2, 2L), (3, 3L)))
  }

  test("AS OF inside a string literal is data; quoted/ISO arguments are tolerated") {
    val cat = new TableCatalog(spark, freshRoot("d14"), Seq(
      TableDef("audit", StructType(Seq(StructField("id", LongType),
        StructField("sql_text", StringType)))),
      TableDef("tt2", schema)))
    DmlRunner.run(spark, cat, "INSERT INTO tt2 VALUES (1, 'a', 1.0)")
    // 1. a literal CARRYING time-travel SQL must survive verbatim —
    //    no view pinning, no mangling (and version 9 doesn't even exist)
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO audit VALUES (1, 'SELECT * FROM tt2 FOR VERSION AS OF 9');
        |SELECT sql_text FROM audit""".stripMargin)
    assert(out.head().getString(0) == "SELECT * FROM tt2 FOR VERSION AS OF 9")
    // 2. a quoted version argument works (Trino accepts both)
    val n = DmlRunner.run(spark, cat,
      "SELECT count(*) AS n FROM tt2 FOR VERSION AS OF '1'").head().getLong(0)
    assert(n == 1L)
    // 3. an ISO 'T' timestamp parses
    val ts = new java.sql.Timestamp(cat.table("tt2").commits.head.tsMs)
      .toString.replace(' ', 'T')
    val n2 = DmlRunner.run(spark, cat,
      s"SELECT count(*) AS n FROM tt2 FOR TIMESTAMP AS OF '$ts'").head().getLong(0)
    assert(n2 == 1L)
  }

  test("MERGE SET with a CASE WHEN expression parses (no clause-boundary split)") {
    val cat = new TableCatalog(spark, freshRoot("d15"), Seq(
      TableDef("k15", schema, keys = Seq("id"))))
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO k15 VALUES (1, 'a', 1.0), (2, 'b', 2.0);
        |MERGE INTO k15 t USING (
        |  SELECT 1 AS id, 10.0 AS amt UNION ALL SELECT 2, -1.0
        |) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET
        |  v = CASE WHEN s.amt > 0 THEN s.amt ELSE t.v END
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.amt);
        |SELECT id, typ, v FROM k15
        |""".stripMargin)
    assert(out.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      Seq((1L, 10.0), (2L, 2.0)))
  }

  test("refusals: unknown table, UPDATE of a key column, non-upsert-shaped MERGE") {
    val cat = new TableCatalog(spark, freshRoot("d6"), Seq(
      TableDef("k6", schema, keys = Seq("id"))))
    DmlRunner.run(spark, cat, "INSERT INTO k6 VALUES (1, 'a', 1.0); SELECT * FROM k6")
    intercept[IllegalArgumentException] {
      DmlRunner.run(spark, cat, "DELETE FROM nope WHERE 1=1")
    }
    intercept[IllegalArgumentException] {
      DmlRunner.run(spark, cat, "UPDATE k6 SET id = 2 WHERE typ = 'a'")
    }
    intercept[IllegalArgumentException] {
      DmlRunner.run(spark, cat,
        """MERGE INTO k6 USING (SELECT 1 AS id, 'a' AS typ, 2.0 AS v) s
          |ON k6.typ = s.typ
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    // an unsupported WHEN shape (NOT MATCHED BY SOURCE) refuses loudly
    intercept[IllegalArgumentException] {
      DmlRunner.run(spark, cat,
        """MERGE INTO k6 USING (SELECT 1 AS id, 'a' AS typ, 2.0 AS v) s
          |ON k6.id = s.id
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    // a source with duplicate key tuples refuses (SQL MERGE semantics)
    intercept[IllegalArgumentException] {
      DmlRunner.run(spark, cat,
        """MERGE INTO k6 USING (SELECT 1 AS id, 'a' AS typ, 2.0 AS v
          |                     UNION ALL SELECT 1, 'b', 3.0) s
          |ON k6.id = s.id
          |WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
  }

  test("MERGE INSERT (cols) VALUES (exprs): listed columns evaluate, unlisted null-fill") {
    val cat = new TableCatalog(spark, freshRoot("d12"), Seq(
      TableDef("k12", schema, keys = Seq("id"))))
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO k12 VALUES (1, 'a', 1.0);
        |MERGE INTO k12 t USING (
        |  SELECT 1 AS id, 5.0 AS amt UNION ALL SELECT 2, 7.0
        |) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.amt
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.amt * 2);
        |SELECT id, typ, v FROM k12
        |""".stripMargin)
    assert(out.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq ==
      Seq((1L, Some("a"), 5.0), (2L, None, 14.0)))
  }

  test("SET statements scope to the run; extra views register on the scoped session") {
    val cat = new TableCatalog(spark, freshRoot("d7"), Seq(TableDef("t7", schema)))
    val before = spark.conf.getOption("spark.sql.dml.probe")
    val out = DmlRunner.run(spark, cat,
      """SET spark.sql.dml.probe = leaked;
        |INSERT INTO t7 SELECT id, typ, v FROM seed_rows;
        |SELECT count(*) AS n FROM t7
        |""".stripMargin,
      registerExtras = s => {
        import s.implicits._
        Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "typ", "v")
          .createOrReplaceTempView("seed_rows")
      })
    assert(out.head().getLong(0) == 2L)
    assert(spark.conf.getOption("spark.sql.dml.probe") == before,
      "SET must not leak into the caller's session")
  }

  test("CREATE OR REPLACE VIEW persists across runs and stays late-bound") {
    val root = freshRoot("d8")
    val cat = new TableCatalog(spark, root, Seq(TableDef("t8", schema)))
    // run 1 — apply_views.sh shape: view DDL only
    DmlRunner.run(spark, cat,
      """INSERT INTO iceberg.db.t8 VALUES (1, 'a', 1.0), (2, 'b', 2.0);
        |CREATE OR REPLACE VIEW iceberg.db.v_t8 AS
        |SELECT typ, count(*) AS n, round(sum(v), 1) AS total
        |FROM iceberg.db.t8 GROUP BY typ
        |""".stripMargin)
    assert(Files.exists(Paths.get(root, "_views")), "view body persisted as a sidecar")
    // run 2 — a FRESH runner invocation: the view re-registers AND is
    // late-bound (reads the post-INSERT table in the same script)
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO iceberg.db.t8 VALUES (3, 'a', 3.0);
        |SELECT typ, n, total FROM iceberg.db.v_t8
        |""".stripMargin)
    assert(out.orderBy("typ").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("a", 2L, 4.0), ("b", 1L, 2.0)),
      "view must reflect rows inserted after its creation (late binding)")
  }

  test("plain CREATE VIEW refuses when the view exists; DROP VIEW removes the sidecar") {
    val root = freshRoot("d9")
    val cat = new TableCatalog(spark, root, Seq(TableDef("t9", schema)))
    DmlRunner.run(spark, cat,
      """INSERT INTO t9 VALUES (1, 'a', 1.0);
        |CREATE VIEW v_t9 AS SELECT id FROM t9
        |""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      DmlRunner.run(spark, cat, "CREATE VIEW v_t9 AS SELECT typ FROM t9")
    }
    assert(e.getMessage.contains("OR REPLACE"))
    DmlRunner.run(spark, cat,
      """CREATE OR REPLACE VIEW v_t9 AS SELECT typ FROM t9;
        |DROP VIEW v_t9;
        |DROP VIEW IF EXISTS v_t9;
        |SELECT count(*) AS n FROM t9
        |""".stripMargin)
    val sidecars = Option(Paths.get(root, "_views").toFile.listFiles())
      .getOrElse(Array.empty)
    assert(sidecars.isEmpty, "DROP VIEW must delete the persisted body")
    // and a fresh run no longer resolves it
    val e2 = intercept[Exception] {
      DmlRunner.run(spark, cat, "SELECT * FROM v_t9")
    }
    assert(e2.getMessage.toLowerCase.contains("v_t9"))
  }

  test("a 'CREATE VIEW' string literal is data: INSERTed verbatim, no view created") {
    val root = freshRoot("d16")
    val cat = new TableCatalog(spark, root, Seq(
      TableDef("t", StructType(Seq(StructField("sql_text", StringType))))))
    val out = DmlRunner.run(spark, cat,
      """INSERT INTO t VALUES ('CREATE VIEW v AS SELECT 1');
        |SELECT sql_text FROM t""".stripMargin)
    assert(out.collect().map(_.getString(0)).toSeq == Seq("CREATE VIEW v AS SELECT 1"))
    assert(!Files.exists(Paths.get(root, "_views")), "a literal defined a catalog view")
    val e = intercept[Exception](DmlRunner.run(spark, cat, "SELECT * FROM v"))
    assert(e.getMessage.contains("`v`"), e.getMessage)
  }

  test("Trino size and duration literals read whole, decimals included; others refuse") {
    assert(DmlRunner.parseDurationMs("'30ms'") == 30L)
    assert(DmlRunner.parseDurationMs("'1.5d'") == 36L * 3600000)
    assert(DmlRunner.parseDurationMs("'7d'") == 7L * 86400000)
    assert(DmlRunner.parseDurationMs("'30m'") == 30L * 60000)
    assert(DmlRunner.parseDurationMs("0s") == 0L)
    assert(DmlRunner.parseBytes("'1.5GB'") == 3L << 29)
    assert(DmlRunner.parseBytes("'1TB'") == 1L << 40)
    assert(DmlRunner.parseBytes("'64kB'") == 64L << 10)
    assert(DmlRunner.parseBytes("128MB") == 128L << 20)
    for (bad <- Seq("'30x'", "'12'", "'MB'", "'1.5.2GB'", "'1GB 2MB'", "''"))
      intercept[IllegalArgumentException](DmlRunner.parseBytes(bad))
    for (bad <- Seq("'30ms5'", "'1.5'", "'d'", "'1w'", "'-1d'"))
      intercept[IllegalArgumentException](DmlRunner.parseDurationMs(bad))
  }

  test("names resolve on the plan: CTE bodies, MERGE sources, AS OF subqueries, CALL") {
    val cat = new TableCatalog(spark, freshRoot("d17"), Seq(
      TableDef("t", schema), TableDef("k", schema, keys = Seq("id"))))
    DmlRunner.run(spark, cat,
      """INSERT INTO t VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0);
        |INSERT INTO t VALUES (4, 'c', 4.0)""".stripMargin)
    val out = DmlRunner.run(spark, cat,
      """-- a CTE body naming the qualified table, inside an IN-subquery
        |DELETE FROM iceberg.db.t WHERE id IN (
        |  WITH big AS (SELECT id FROM iceberg.db.t WHERE v >= 3.0)
        |  SELECT id FROM big);
        |-- a MERGE source subquery over the qualified table
        |MERGE INTO iceberg.db.k USING (
        |  SELECT id, typ, v * 10 AS v FROM iceberg.db.t) s
        |ON k.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *;
        |-- an unkeyed UPDATE whose condition is an IN-subquery
        |UPDATE iceberg.db.t SET v = v + 100
        |WHERE id IN (SELECT id FROM iceberg.db.k WHERE v > 15.0);
        |-- a temp view over a qualified name registers from its plan
        |CREATE TEMPORARY VIEW tv AS SELECT id, v FROM iceberg.db.t;
        |SELECT id, v FROM tv
        |""".stripMargin)
    assert(out.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.0), (2L, 102.0)))
    assert(cat.table("k").readLogical().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq == Seq((1L, 10.0), (2L, 20.0)))
    // FOR VERSION AS OF inside an IN-subquery: v1 holds ids 1-3, the
    // head 1-2, v2 1-4 — only v1 answers exactly {3}
    val asOf = DmlRunner.run(spark, cat,
      """SELECT id FROM (SELECT 3 AS id UNION ALL SELECT 4)
        |WHERE id IN (SELECT id FROM iceberg.db.t FOR VERSION AS OF 1)""".stripMargin)
    assert(asOf.collect().map(_.getInt(0)).toSeq == Seq(3))
    // CALL with named arguments only
    Thread.sleep(2)
    DmlRunner.run(spark, cat,
      "CALL iceberg.system.expire_snapshots(table => 'db.t', retention_threshold => '0s')")
    val t = cat.table("t")
    assert(t.commits.size == 1, "expire_snapshots must retire every commit but the head")
    assert(t.readLogical().count() == 2)
  }

  test("FOR TIMESTAMP AS OF parses in the SESSION timezone, not the JVM default") {
    val cat = new TableCatalog(spark, freshRoot("d10"), Seq(TableDef("t10", schema)))
    DmlRunner.run(spark, cat, "INSERT INTO t10 VALUES (1, 'a', 1.0)")
    Thread.sleep(5)
    DmlRunner.run(spark, cat, "INSERT INTO t10 VALUES (2, 'b', 2.0)")
    val t = cat.table("t10")
    val v1Ms = t.commits.head.tsMs
    // express v1's commit instant as a WALL-CLOCK string in a zone far
    // from the harness's UTC default — correct parsing must interpret
    // it in the session zone set by the script's own SET statement
    val zone = java.time.ZoneId.of("Australia/Sydney")
    val local = java.time.Instant.ofEpochMilli(v1Ms).atZone(zone).toLocalDateTime
    val arg = local.toString.replace('T', ' ')
    val out = DmlRunner.run(spark, cat,
      s"""SET spark.sql.session.timeZone = Australia/Sydney;
         |SELECT count(*) AS n FROM t10 FOR TIMESTAMP AS OF '$arg'
         |""".stripMargin)
    assert(out.head().getLong(0) == 1L,
      "a Sydney-local timestamp parsed in the JVM-default zone would pin the wrong snapshot")
  }

  test("atomic run: a crash between DELETE and INSERT leaves main untouched") {
    val cat = new TableCatalog(spark, freshRoot("d11"), Seq(TableDef("t11", schema)))
    DmlRunner.run(spark, cat,
      "INSERT INTO t11 VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0)")
    val t = cat.table("t11")
    val v0 = t.currentVersion
    // the materializer repair pair (materialize.sh:197-216 shape) with a
    // failure injected BETWEEN the DELETE and the re-INSERT — exactly
    // the crash window; through Trino autocommit the table would be
    // missing its 'a' rows now
    intercept[Exception] {
      DmlRunner.run(spark, cat,
        """DELETE FROM iceberg.db.t11 WHERE typ = 'a';
          |INSERT INTO no_such_table VALUES (1);
          |INSERT INTO iceberg.db.t11 VALUES (1, 'a', 10.0), (3, 'a', 30.0)
          |""".stripMargin, atomic = true)
    }
    val fresh = cat.table("t11")
    assert(fresh.currentVersion == v0, "main advanced despite the aborted atomic run")
    assert(fresh.readLogical().count() == 3, "the staged DELETE leaked onto main")
    assert(fresh.branches.isEmpty, "the aborted run's branch was not abandoned")
  }

  test("atomic run publishes the whole script per table; result matches non-atomic") {
    val root = freshRoot("d12")
    val cat = new TableCatalog(spark, root, Seq(TableDef("t12", schema)))
    DmlRunner.run(spark, cat,
      "INSERT INTO t12 VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0)")
    val out = DmlRunner.run(spark, cat,
      """DELETE FROM iceberg.db.t12 WHERE typ = 'a';
        |INSERT INTO iceberg.db.t12 VALUES (1, 'a', 10.0), (3, 'a', 30.0);
        |CREATE TABLE iceberg.db.t12_sum AS
        |SELECT typ, round(sum(v), 1) AS total FROM iceberg.db.t12 GROUP BY typ;
        |SELECT typ, total FROM iceberg.db.t12_sum
        |""".stripMargin, atomic = true)
    assert(out.orderBy("typ").collect().map(r => (r.getString(0), r.getDouble(1)))
      .toSeq == Seq(("a", 40.0), ("b", 2.0)))
    val t = cat.table("t12")
    assert(t.branches.isEmpty, "run branch must be published and dropped")
    assert(t.readLogical().count() == 3)
    // the CTAS table also published onto its main
    val sum = DmlRunner.run(spark, cat, "SELECT count(*) AS n FROM t12_sum")
    assert(sum.head().getLong(0) == 2L)
  }

  test("atomic mode refuses maintenance statements and DROP TABLE") {
    val cat = new TableCatalog(spark, freshRoot("d13"), Seq(TableDef("t13", schema)))
    DmlRunner.run(spark, cat, "INSERT INTO t13 VALUES (1, 'a', 1.0)")
    def refuses(stmt: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        DmlRunner.run(spark, cat, stmt, atomic = true)
      }
      assert(e.getMessage.contains(needle), s"$stmt → ${e.getMessage}")
      assert(cat.table("t13").branches.isEmpty, "refusal must clean its branch up")
    }
    refuses("ALTER TABLE t13 EXECUTE optimize(file_size_threshold => '128MB')",
      "atomic")
    refuses("CALL iceberg.system.expire_snapshots('db.t13', '7d')", "atomic")
    refuses("DROP TABLE t13", "atomic")
  }

  test("SHOW TABLES and DESCRIBE: the reference's shell-layer metadata statements") {
    // maintenance.sh:57 gates every pass on `DESCRIBE ${table}`
    // succeeding; setup.sh:135 polls `SHOW TABLES` to verify the catalog
    val cat = new TableCatalog(spark, freshRoot("d14"), Seq(TableDef("t14", schema)))
    DmlRunner.run(spark, cat, "INSERT INTO t14 VALUES (1, 'a', 1.0)")
    DmlRunner.run(spark, cat,
      "CREATE VIEW iceberg.db.v14 AS SELECT typ FROM iceberg.db.t14")
    val shown = DmlRunner.run(spark, cat, "SHOW TABLES")
    assert(shown.columns.toSeq == Seq("Table"))
    assert(shown.collect().map(_.getString(0)).toSeq == Seq("t14", "v14"),
      "views list alongside tables, name-ordered")
    val desc = DmlRunner.run(spark, cat, "DESCRIBE iceberg.db.t14")
    assert(desc.columns.toSeq == Seq("Column", "Type", "Extra", "Comment"))
    assert(desc.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("id", "bigint"), ("typ", "string"), ("v", "double")))
    // DESC abbreviation + view target
    val vdesc = DmlRunner.run(spark, cat, "DESC v14")
    assert(vdesc.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("typ", "string")))
    // the gate signal: a missing table FAILS (mat_* before first run)
    val e = intercept[Exception](DmlRunner.run(spark, cat, "DESCRIBE mat_probe"))
    assert(e.getMessage.contains("does not exist"))
  }
}
