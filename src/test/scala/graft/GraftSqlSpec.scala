package graft

import graft.meta.GraftTable
import graft.sched.{ConfigStore, Scheduler}
import graft.sql.GraftSql

/** Drives the engine through the reference's EXACT SQL statements —
  * the strings `trino_iceberg_maintenance/__main__.py` and
  * `tests/test_maintenance.py` actually send over DB-API — asserting the
  * same observable contracts the reference tests pin (2 files → 1;
  * nulls_fraction 1.0 → 2/3; pinned vs live stats).
  */
class GraftSqlSpec extends SparkSpec {

  private case class Fx(clock: TestClock, dir: String) {
    val resolve: String => GraftTable =
      n => GraftTable.load(spark, s"$dir/$n")
    def sql(s: String) = GraftSql.exec(spark, s, resolve, clock)
    def rows(s: String): Array[org.apache.spark.sql.Row] =
      sql(s).get.collect()
  }

  private def fixture(prefix: String): Fx =
    Fx(new TestClock, tmpDir(prefix))

  /** The reference's config-table DDL, verbatim (__main__.py:41-55). */
  private def createMaintenanceTable(fx: Fx): Unit =
    fx.sql(s"""
      CREATE TABLE IF NOT EXISTS ${ConfigStore.defaultTableName(Map.empty)} (
          table_name VARCHAR NOT NULL,
          should_analyze INTEGER,
          last_analyzed_on TIMESTAMP(6),
          days_to_analyze INTEGER,
          columns_to_analyze ARRAY(VARCHAR),
          should_optimize INTEGER,
          last_optimized_on TIMESTAMP(6),
          days_to_optimize INTEGER,
          should_expire_snapshots INTEGER,
          retention_days_snapshots INTEGER,
          should_remove_orphan_files INTEGER,
          retention_days_orphan_files INTEGER
      )""")

  private def scheduler(fx: Fx): Scheduler = {
    val store = new ConfigStore(spark,
      s"${fx.dir}/${ConfigStore.defaultTableName(Map.empty)}")
    new Scheduler(store, fx.resolve, numWorkers = 2, clock = fx.clock)
  }

  // ---- tests/test_maintenance.py:41-78, SQL-for-SQL ----------------------

  test("reference SQL end-to-end: optimize 2 files -> 1, gated, re-runs") {
    val fx = fixture("sqlopt")
    createMaintenanceTable(fx)
    fx.sql("CREATE TABLE t (a VARCHAR, b VARCHAR)")
    fx.sql("INSERT INTO t (a, b) VALUES ('a', 'b')")
    fx.sql("INSERT INTO t (a, b) VALUES ('a', 'b')")
    assert(fx.rows("""SELECT * from "t$files" """).length == 2)

    scheduler(fx).run() // no config -> no-op
    assert(fx.rows("""SELECT * from "t$files" """).length == 2)

    fx.sql("""
      INSERT INTO iceberg_maintenance_schedule (table_name, should_optimize, days_to_optimize)
      VALUES ('t', 1, 10)""")
    assert(scheduler(fx).run().forall(_.isRight))
    assert(fx.rows("""SELECT * from "t$files" """).length == 1)

    // fresh stamp -> second run must NOT re-optimize
    fx.sql("INSERT INTO t (a, b) VALUES ('a', 'b')")
    scheduler(fx).run()
    assert(fx.rows("""SELECT * from "t$files" """).length == 2)

    // after the configured delta it runs again
    fx.clock.advanceDays(11)
    scheduler(fx).run()
    assert(fx.rows("""SELECT * from "t$files" """).length == 1)
  }

  // ---- tests/test_maintenance.py:81-123 ----------------------------------

  test("reference SQL end-to-end: analyze pins stats, 1.0 -> 2/3") {
    val fx = fixture("sqlana")
    createMaintenanceTable(fx)
    fx.sql("CREATE TABLE t (a VARCHAR, b VARCHAR)")
    fx.sql("INSERT INTO t (a, b) VALUES (NULL, NULL)")
    fx.sql("INSERT INTO t (a, b) VALUES (NULL, NULL)")
    assert(fx.rows("SHOW STATS FOR t")(0).get(3) == 1.0)

    fx.sql("""
      INSERT INTO iceberg_maintenance_schedule (table_name, should_analyze, days_to_analyze)
      VALUES ('t', 1, 10)""")
    assert(scheduler(fx).run().forall(_.isRight))
    assert(fx.rows("SHOW STATS FOR t")(0).get(3) == 1.0)

    // pinned: the non-null insert doesn't move the analyzed fraction
    fx.sql("INSERT INTO t (a, b) VALUES ('a', 'b')")
    scheduler(fx).run() // still gated
    assert(fx.rows("SHOW STATS FOR t")(0).get(3) == 1.0)

    fx.clock.advanceDays(11)
    scheduler(fx).run()
    assert(fx.rows("SHOW STATS FOR t")(0).get(3) == 2.0 / 3.0)
  }

  // ---- tests/test_maintenance.py:126-169 ---------------------------------

  test("reference SQL end-to-end: column-subset analyze via ARRAY literal") {
    val fx = fixture("sqlcols")
    createMaintenanceTable(fx)
    fx.sql("CREATE TABLE t (a VARCHAR, b VARCHAR)")
    fx.sql("INSERT INTO t (a, b) VALUES (NULL, NULL)")
    fx.sql("INSERT INTO t (a, b) VALUES (NULL, NULL)")
    fx.sql("""
      INSERT INTO iceberg_maintenance_schedule (table_name, should_analyze, days_to_analyze, columns_to_analyze)
      VALUES ('t', 1, 10, ARRAY['a'])""")
    scheduler(fx).run()

    fx.sql("INSERT INTO t (a, b) VALUES ('a', 'b')")
    val stats = fx.rows("SHOW STATS FOR t")
    assert(stats(0).get(3) == 1.0)       // a pinned by its analyze
    assert(stats(1).get(3) == 2.0 / 3.0) // never-analyzed b tracks live
  }

  // ---- the ALTER TABLE ... EXECUTE statements, exact shapes --------------

  test("ALTER TABLE EXECUTE statements: all three ops, reference shapes") {
    val fx = fixture("sqlexec")
    fx.sql("CREATE TABLE t (a VARCHAR, b VARCHAR)")
    fx.sql("INSERT INTO t (a, b) VALUES ('a', '1')")
    fx.sql("INSERT INTO t (a, b) VALUES ('b', '2')")

    // a stray uncommitted file, older than the orphan retention window
    val stray = java.nio.file.Paths.get(s"${fx.dir}/t/data/stray.parquet")
    java.nio.file.Files.write(stray, "junk".getBytes)
    java.nio.file.Files.setLastModifiedTime(stray,
      java.nio.file.attribute.FileTime.fromMillis(
        fx.clock.millis() - 10L * 86400000L))

    // __main__.py:144-147 (dedent shape preserved)
    fx.sql("""
      ALTER TABLE t EXECUTE remove_orphan_files(
          retention_threshold => '3d'
      )""")
    assert(!java.nio.file.Files.exists(stray))

    // __main__.py:170
    fx.sql("ALTER TABLE t EXECUTE optimize")
    assert(fx.rows("""SELECT * from "t$files" """).length == 1)

    // __main__.py:154-157
    fx.clock.advanceDays(11)
    fx.sql("INSERT INTO t (a, b) VALUES ('c', '3')")
    fx.sql("""
      ALTER TABLE t EXECUTE expire_snapshots(
          retention_threshold => '5d'
      )""")
    val t = fx.resolve("t")
    assert(t.snapshots.size == 1)
    assert(t.read.count() == 3)

    // optimize with Trino's optional file_size_threshold argument
    fx.sql("ALTER TABLE t EXECUTE optimize(file_size_threshold => '128MB')")
    assert(fx.rows("""SELECT * from "t$files" """).length == 1)
  }

  test("UPDATE ... current_timestamp(6) stamps one row, copy-on-write") {
    val fx = fixture("sqlupd")
    createMaintenanceTable(fx)
    fx.sql("""
      INSERT INTO iceberg_maintenance_schedule (table_name, should_optimize, days_to_optimize)
      VALUES ('t1', 1, 10), ('t2', 1, 10)""")
    fx.sql("""
      UPDATE iceberg_maintenance_schedule
      SET last_optimized_on = current_timestamp(6)
      WHERE table_name = 't1'""")
    val rows = fx.rows("SELECT * FROM iceberg_maintenance_schedule")
      .sortBy(_.getString(0))
    assert(rows(0).getTimestamp(2) == null) // last_analyzed_on untouched
    assert(rows(0).getTimestamp(6).getTime == fx.clock.millis()) // t1 stamped
    assert(rows(1).getTimestamp(6) == null) // t2 untouched
  }

  test("DROP TABLE and metadata suffix selects") {
    val fx = fixture("sqldrop")
    fx.sql("CREATE TABLE t (a VARCHAR, b VARCHAR)")
    fx.sql("INSERT INTO t (a, b) VALUES ('a', 'b')")
    assert(fx.rows("""SELECT * FROM "t$snapshots" """).length == 1)
    assert(fx.rows("""SELECT * FROM "t$refs" """).length == 1)
    fx.sql("DROP TABLE t")
    assert(!GraftTable.exists(spark, s"${fx.dir}/t"))
    fx.sql("DROP TABLE IF EXISTS t") // no-op, no throw
    intercept[IllegalArgumentException](fx.sql("DROP TABLE t"))
  }

  test("MAINTENANCE_TABLE env override resolves the store location") {
    assert(ConfigStore.defaultTableName(Map.empty) ==
      "iceberg_maintenance_schedule")
    assert(ConfigStore.defaultTableName(
      Map("MAINTENANCE_TABLE" -> "custom_schedule")) == "custom_schedule")
    val dir = tmpDir("envstore")
    val store = ConfigStore.at(spark, dir,
      Map("MAINTENANCE_TABLE" -> "custom_schedule")).createIfNotExists()
    assert(store.tableName == "custom_schedule")
    assert(GraftTable.exists(spark, s"$dir/custom_schedule"))
  }

  test("whitespace inside string literals survives normalization") {
    val fx = fixture("sqlws")
    fx.sql("CREATE TABLE t (a VARCHAR, b VARCHAR)")
    // runs of spaces / tabs / newlines INSIDE literals are data;
    // outside they collapse (the statement itself spans lines)
    fx.sql("INSERT INTO t (a, b)\n  VALUES\t('x  y', 'tab\there\nand newline')")
    val r = fx.rows("SELECT * FROM t")
    assert(r.length == 1)
    assert(r(0).getString(0) == "x  y")
    assert(r(0).getString(1) == "tab\there\nand newline")
    // '' escape still decodes alongside internal whitespace
    fx.sql("INSERT INTO t (a, b) VALUES ('it''s  two  spaces', NULL)")
    assert(fx.rows("SELECT * FROM t").exists(r2 =>
      !r2.isNullAt(0) && r2.getString(0) == "it's  two  spaces"))
  }

  test("INSERT with an unknown column name fails loudly") {
    val fx = fixture("sqlbadcol")
    fx.sql("CREATE TABLE t (a VARCHAR, b VARCHAR)")
    val e = intercept[IllegalArgumentException](
      fx.sql("INSERT INTO t (a, nope) VALUES ('x', 'y')"))
    assert(e.getMessage.contains("nope"))
  }

  test("hyphenated table names work through the scheduler's generated SQL") {
    val fx = fixture("sqlhyph")
    createMaintenanceTable(fx)
    fx.sql("""CREATE TABLE "my-table" (a VARCHAR, b VARCHAR)""")
    fx.sql("""INSERT INTO "my-table" (a, b) VALUES ('a', 'b')""")
    fx.sql("""INSERT INTO "my-table" (a, b) VALUES ('c', 'd')""")
    fx.sql("""
      INSERT INTO iceberg_maintenance_schedule (table_name, should_optimize, days_to_optimize)
      VALUES ('my-table', 1, 10)""")
    assert(scheduler(fx).run().forall(_.isRight))
    assert(fx.rows("""SELECT * FROM "my-table$files" """).length == 1)
    // the stamp UPDATE found the hyphenated row
    val cfg = fx.rows("SELECT * FROM iceberg_maintenance_schedule").head
    assert(cfg.getTimestamp(6) != null)
  }

  test("a data table with '$' in its name is not mistaken for metadata") {
    val fx = fixture("sqldollar")
    fx.sql("CREATE TABLE a$b (x VARCHAR)")
    fx.sql("INSERT INTO a$b (x) VALUES ('v')")
    val r = fx.rows("SELECT * FROM a$b")
    assert(r.length == 1 && r(0).getString(0) == "v")
  }

  test("UPDATE on a large table takes the affected-file CoW, not a full rewrite") {
    val fx = fixture("sqlbig")
    import spark.implicits._
    val t = GraftTable.create(spark, s"${fx.dir}/big",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
    t.append(spark.range(0, 120000).select($"id".as("k"),
      org.apache.spark.sql.functions.lit("x").as("v"))
      .repartitionByRange(4, $"k"))
    val before = t.files.select("path").collect().map(_.getString(0)).toSet
    assert(before.size >= 4)
    fx.sql("UPDATE big SET v = 'y' WHERE k = 5")
    assert(t.snapshots.maxBy(_.snapshotId).operation == "update",
      "large-table UPDATE must be a CoW update commit, not a full rewrite")
    val after = t.files.select("path").collect().map(_.getString(0)).toSet
    assert((before intersect after).size >= 3,
      "untouched files must be carried, not rewritten")
    assert(t.read.filter($"k" === 5).head().getString(1) == "y")
    assert(t.read.filter($"v" === "y").count() == 1)
    assert(t.rowCount == 120000)
  }

  test("statements outside the dialect fail loudly") {
    val fx = fixture("sqlerr")
    fx.sql("CREATE TABLE t (a VARCHAR)")
    intercept[IllegalArgumentException](
      fx.sql("GRANT SELECT ON t TO analyst"))
    intercept[IllegalArgumentException](
      fx.sql("ALTER TABLE t EXECUTE vacuum"))
    intercept[IllegalArgumentException](
      fx.sql("ALTER TABLE t EXECUTE expire_snapshots(retention_threshold => '7h')"))
  }

  test("general SELECTs run through Spark SQL over graft scans") {
    import spark.implicits._
    val fx = fixture("sqlselect")
    fx.sql("CREATE TABLE t (a VARCHAR, n BIGINT)")
    fx.sql("INSERT INTO t VALUES ('x', 1), ('x', 2), ('y', 3)")
    // projection + aggregate
    assert(fx.rows("SELECT a, count(*) AS n FROM t GROUP BY a ORDER BY a")
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 2L), ("y", 1L)))
    // projections over metadata tables resolve the same way SELECT * does
    val files = fx.rows("""SELECT record_count FROM "t$files" """)
    assert(files.map(_.getLong(0)).sum == 3L)
    // unknown table still fails loudly (resolver), unknown column in analysis
    intercept[Exception](fx.sql("SELECT * FROM nosuch WHERE 1 = 1"))
    intercept[Exception](fx.sql("SELECT nope FROM t GROUP BY nope"))
  }

  test("dispatcher SELECT takes CTEs, derived tables, and fn-arg FROMs") {
    import spark.implicits._
    val fx = fixture("sqlselectcte")
    fx.sql("CREATE TABLE t (a VARCHAR, n BIGINT, ts TIMESTAMP(6))")
    fx.sql("INSERT INTO t VALUES ('x', 1, TIMESTAMP '2024-03-01 10:00:00')," +
      " ('x', 2, TIMESTAMP '2024-04-02 11:00:00')," +
      " ('y', 3, TIMESTAMP '2024-04-03 12:00:00')")
    def pairs(sql: String): Seq[(String, Long)] =
      fx.rows(sql).map(r => (r.getString(0), r.getLong(1))).toSeq
    val flat = pairs("SELECT a, sum(n) AS s FROM t GROUP BY a ORDER BY a")

    // WITH body: the CTE name must NOT be resolved as a graft table
    assert(pairs("""WITH d AS (SELECT a, n FROM t)
      SELECT a, sum(n) AS s FROM d GROUP BY a ORDER BY a""") == flat)
    // a second CTE referencing the first
    assert(pairs("""WITH d AS (SELECT a, n FROM t),
      e AS (SELECT a, n FROM d WHERE n > 0)
      SELECT a, sum(n) AS s FROM e GROUP BY a ORDER BY a""") == flat)
    // derived table as the only top-level relation
    assert(pairs("""SELECT a, sum(n) AS s FROM
      (SELECT a, n FROM t WHERE n >= 1) x GROUP BY a ORDER BY a""") == flat)
    // FROM inside function args is NOT a table position
    assert(fx.rows("""SELECT EXTRACT(month FROM ts) AS m, count(*) AS c
      FROM t GROUP BY m ORDER BY m""")
      .map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((3, 1L), (4, 2L)))
    assert(fx.rows("SELECT substring(a FROM 1 FOR 1) AS p FROM t " +
      "WHERE n = 3").map(_.getString(0)).toSeq == Seq("y"))
    // a string literal containing 'FROM xyz' is not a table ref
    assert(fx.rows("SELECT 'pulled FROM nowhere' AS s FROM t WHERE n = 1")
      .map(_.getString(0)).toSeq == Seq("pulled FROM nowhere"))
    // a qualifier spelled in a different case than its FROM token still
    // rewrites (SQL identifiers are case-insensitive)
    assert(pairs("SELECT T.a, sum(T.n) AS s FROM t GROUP BY T.a ORDER BY T.a")
      == flat)
    // CTE names shadow graft tables of the same name (Trino scoping)
    assert(pairs("""WITH t AS (SELECT 'z' AS a, CAST(9 AS BIGINT) AS n)
      SELECT a, sum(n) AS s FROM t GROUP BY a""") == Seq(("z", 9L)))
    // scalar subqueries resolve their inner graft refs
    assert(fx.rows("SELECT a FROM t WHERE n = (SELECT max(n) FROM t)")
      .map(_.getString(0)).toSeq == Seq("y"))
    // CTAS and INSERT ... SELECT accept WITH bodies too
    fx.sql("""CREATE TABLE agg AS WITH d AS (SELECT a, n FROM t)
      SELECT a, sum(n) AS s FROM d GROUP BY a""")
    assert(fx.resolve("agg").read.as[(String, Long)]
      .collect().sortBy(_._1).toSeq == flat)
    fx.sql("""INSERT INTO agg WITH d AS (SELECT a, n FROM t)
      SELECT concat(a, '2') AS a, sum(n) AS s FROM d GROUP BY a""")
    assert(fx.resolve("agg").rowCount == 4)
    // unknown tables still fail loudly, inside CTE bodies included
    intercept[Exception](fx.sql(
      "WITH d AS (SELECT * FROM nosuch) SELECT * FROM d"))

    // column-list INSERT ... SELECT: positional mapping, unlisted
    // columns become typed NULLs (Trino's rule)
    fx.sql("CREATE TABLE wide (a VARCHAR, s BIGINT, extra DOUBLE)")
    fx.sql("INSERT INTO wide (s, a) SELECT sum(n) AS s1, a AS a1 " +
      "FROM t GROUP BY a")
    val wide = fx.resolve("wide").read
      .as[(String, Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(wide.map(r => (r._1, r._2)) == flat)
    assert(wide.forall(_._3.isEmpty))
    intercept[Exception](fx.sql("INSERT INTO wide (nope) SELECT a FROM t"))
    intercept[Exception](fx.sql("INSERT INTO wide (a, s) SELECT a FROM t"))
  }

  test("ALTER TABLE SET PROPERTIES round-trips; DEFAULT unsets") {
    val fx = fixture("sqlprops")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("ALTER TABLE t SET PROPERTIES \"write.bloom-filter.columns\" = 'k'," +
      " \"write.bloom-filter.expected-rows\" = '50000'")
    val t = fx.resolve("t")
    assert(t.properties == Map(
      "write.bloom-filter.columns" -> "k",
      "write.bloom-filter.expected-rows" -> "50000"))
    // writes after the property carry blooms in the manifest
    fx.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    assert(t.files.filter(org.apache.spark.sql.functions
      .element_at(org.apache.spark.sql.functions.col("blooms"), "k")
      .isNotNull).count() == t.files.count())
    fx.sql("ALTER TABLE t SET PROPERTIES \"write.bloom-filter.expected-rows\" = DEFAULT")
    assert(t.properties == Map("write.bloom-filter.columns" -> "k"))
  }

  test("SET PROPERTIES partitioning evolves the partition spec (Trino spelling)") {
    import graft.meta.PartitionSpec
    val fx = fixture("sqlpart")
    fx.sql("CREATE TABLE t (id BIGINT, ts TIMESTAMP(6), cat VARCHAR)")
    fx.sql("ALTER TABLE t SET PROPERTIES partitioning = ARRAY['day(ts)', 'cat']")
    assert(fx.resolve("t").partitionSpec ==
      Seq(PartitionSpec.days("ts"), PartitionSpec.identity("cat")))
    // Trino's column-first bucket/truncate argument order; evolving
    // again is metadata-only and replaces the whole spec
    fx.sql("ALTER TABLE t SET PROPERTIES " +
      "partitioning = ARRAY['bucket(id, 8)', 'truncate(cat, 2)']")
    assert(fx.resolve("t").partitionSpec ==
      Seq(PartitionSpec.bucket(8, "id"), PartitionSpec.truncate(2, "cat")))
    // the full Iceberg temporal transform family parses (singular and
    // plural spellings) and SHOW CREATE round-trips it
    fx.sql("ALTER TABLE t SET PROPERTIES " +
      "partitioning = ARRAY['year(ts)', 'month(ts)', 'hour(ts)']")
    assert(fx.resolve("t").partitionSpec ==
      Seq(PartitionSpec.years("ts"), PartitionSpec.months("ts"),
        PartitionSpec.hours("ts")))
    val ddl = fx.rows("SHOW CREATE TABLE t").head.getString(0)
    assert(ddl.contains("'year(ts)', 'month(ts)', 'hour(ts)'"))
    // unknown column / unsupported transform fail loudly
    intercept[IllegalArgumentException](fx.sql(
      "ALTER TABLE t SET PROPERTIES partitioning = ARRAY['day(nope)']"))
    intercept[IllegalArgumentException](fx.sql(
      "ALTER TABLE t SET PROPERTIES partitioning = ARRAY['week(ts)']"))
    // ordinary properties still route to the key/value store
    fx.sql("ALTER TABLE t SET PROPERTIES \"write.bloom-filter.columns\" = 'id'")
    assert(fx.resolve("t").properties ==
      Map("write.bloom-filter.columns" -> "id"))
  }

  test("CREATE TABLE WITH (...) sets spec and properties; DDL round-trips") {
    import graft.meta.PartitionSpec
    val fx = fixture("sqlcreatewith")
    fx.sql("CREATE TABLE t (id BIGINT, ts TIMESTAMP(6), cat VARCHAR) " +
      "WITH (partitioning = ARRAY['day(ts)', 'bucket(id, 4)'], " +
      "\"write.bloom-filter.columns\" = 'id')")
    val t = fx.resolve("t")
    assert(t.partitionSpec ==
      Seq(PartitionSpec.days("ts"), PartitionSpec.bucket(4, "id")))
    assert(t.properties == Map("write.bloom-filter.columns" -> "id"))
    // SHOW CREATE TABLE output re-executes to an identical table
    val ddl = fx.rows("SHOW CREATE TABLE t").head.getString(0)
      .replaceFirst("CREATE TABLE t", "CREATE TABLE t2")
    fx.sql(ddl)
    assert(fx.resolve("t2").partitionSpec == t.partitionSpec)
    assert(fx.resolve("t2").properties == t.properties)
    assert(fx.resolve("t2").schema == t.schema)
  }

  test("UPDATE with expressions, multi-SET, and a general WHERE") {
    val fx = fixture("sqlupdexpr")
    import spark.implicits._
    fx.sql("CREATE TABLE t (k BIGINT, price DOUBLE, seg VARCHAR)")
    fx.sql("INSERT INTO t VALUES (1, 10.0, 'gold'), (2, 20.0, 'gold'), " +
      "(3, 30.0, 'iron'), (4, 40.0, 'gold')")
    // arithmetic against the OLD row, conjunction WHERE
    fx.sql("UPDATE t SET price = price * 1.1 WHERE seg = 'gold' AND k > 1")
    val t = fx.resolve("t")
    assert(t.snapshots.maxBy(_.snapshotId).operation == "update")
    val prices = t.read.select($"k", $"price").as[(Long, Double)]
      .collect().toMap
    assert(prices == Map(1L -> 10.0, 2L -> 22.0, 3L -> 30.0, 4L -> 44.0))
    // multi-SET applies simultaneously; IN (...) WHERE
    fx.sql("UPDATE t SET price = price + 1, seg = 'moved' WHERE k IN (1, 3)")
    val rows = t.read.orderBy($"k").as[(Long, Double, String)].collect().toSeq
    assert(rows == Seq((1L, 11.0, "moved"), (2L, 22.0, "gold"),
      (3L, 31.0, "moved"), (4L, 44.0, "gold")))
    // column-to-column assignment
    fx.sql("UPDATE t SET price = k WHERE seg = 'moved'")
    assert(t.read.filter($"k" === 3).select("price").as[Double].head() == 3.0)
    // unknown SET column fails loudly; any Spark expression is a rhs
    intercept[IllegalArgumentException](
      fx.sql("UPDATE t SET nope = 1 WHERE k = 1"))
    val old = t.read.filter($"k" === 1).select("price").as[Double].head()
    fx.sql("UPDATE t SET price = sqrt(price) WHERE k = 1")
    assert(t.read.filter($"k" === 1).select("price").as[Double].head() ==
      math.sqrt(old))
  }

  test("CTAS and INSERT INTO ... SELECT copy tables through the dispatcher") {
    val fx = fixture("sqlctas")
    import spark.implicits._
    fx.sql("CREATE TABLE src (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO src VALUES (1, 'a'), (2, 'b')")
    fx.sql("CREATE TABLE dst AS SELECT * FROM src")
    assert(fx.resolve("dst").read.orderBy($"k").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // IF NOT EXISTS is a no-op on an existing target; bare CTAS refuses
    fx.sql("CREATE TABLE IF NOT EXISTS dst AS SELECT * FROM src")
    assert(fx.resolve("dst").rowCount == 2)
    intercept[IllegalArgumentException](
      fx.sql("CREATE TABLE dst AS SELECT * FROM src"))
    // WITH clause applies before the copy: the CTAS write is clustered
    fx.sql("CREATE TABLE dst2 WITH (sorted_by = ARRAY['k']) " +
      "AS SELECT * FROM src")
    assert(fx.resolve("dst2").sortOrder == Seq(("k", false)))
    assert(fx.resolve("dst2").rowCount == 2)
    // INSERT SELECT appends; schema mismatch fails loudly
    fx.sql("INSERT INTO dst SELECT * FROM src")
    assert(fx.resolve("dst").rowCount == 4)
    fx.sql("CREATE TABLE other (x BIGINT)")
    intercept[IllegalArgumentException](
      fx.sql("INSERT INTO dst SELECT * FROM other"))
  }

  test("sorted_by DDL: CREATE WITH, SHOW CREATE round-trip, validation") {
    val fx = fixture("sqlsorted")
    fx.sql("CREATE TABLE t (k BIGINT, price DOUBLE) " +
      "WITH (sorted_by = ARRAY['price DESC', 'k'])")
    val t = fx.resolve("t")
    assert(t.properties("sorted_by") == "price DESC, k")
    assert(t.sortOrder == Seq(("price", true), ("k", false)))
    val ddl = fx.rows("SHOW CREATE TABLE t").head.getString(0)
    assert(ddl.contains("sorted_by = ARRAY['price DESC', 'k']"))
    // the emitted DDL re-executes to the same sort order
    fx.sql(ddl.replaceFirst("CREATE TABLE t", "CREATE TABLE t2"))
    assert(fx.resolve("t2").sortOrder == t.sortOrder)
    // unknown column / bad direction fail loudly
    intercept[IllegalArgumentException](
      fx.sql("ALTER TABLE t SET PROPERTIES sorted_by = ARRAY['nope']"))
    intercept[IllegalArgumentException](
      fx.sql("ALTER TABLE t SET PROPERTIES sorted_by = ARRAY['k SIDEWAYS']"))
    fx.sql("ALTER TABLE t SET PROPERTIES sorted_by = ARRAY['k']")
    assert(fx.resolve("t").sortOrder == Seq(("k", false)))
  }

  test("table_changes function returns the changelog between snapshots") {
    val fx = fixture("sqlchanges")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')") // s1
    fx.sql("INSERT INTO t VALUES (3, 'c')")           // s2
    val ch = fx.rows("SELECT * FROM TABLE(system.table_changes('t', 1, 2))")
    assert(ch.length == 1)
    val r = ch.head
    assert(r.getAs[Long]("k") == 3L && r.getAs[String]("v") == "c")
    assert(r.getAs[String]("_change_type") == "insert")
    assert(r.getAs[Long]("_commit_snapshot_id") == 2L)
  }

  test("DESCRIBE, SHOW COLUMNS, SHOW CREATE TABLE, optimize_manifests") {
    val fx = fixture("sqldescribe")
    fx.sql("CREATE TABLE t (k BIGINT NOT NULL, v VARCHAR, ts TIMESTAMP(6))")
    val desc = fx.rows("DESCRIBE t").map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(desc == Seq(("k", "BIGINT", "NOT NULL"), ("v", "VARCHAR", ""),
      ("ts", "TIMESTAMP(6)", "")))
    assert(fx.rows("SHOW COLUMNS FROM t").length == 3)

    fx.sql("ALTER TABLE t SET PROPERTIES partitioning = ARRAY['day(ts)']")
    fx.sql("ALTER TABLE t SET PROPERTIES \"write.bloom-filter.columns\" = 'k'")
    val ddl = fx.rows("SHOW CREATE TABLE t").head.getString(0)
    assert(ddl.contains("k BIGINT NOT NULL"))
    assert(ddl.contains("partitioning = ARRAY['day(ts)']"))
    assert(ddl.contains("write.bloom-filter.columns = 'k'"))

    // manifest rewrite through the procedure spelling: three delta
    // manifests fold to one, same files and rows
    fx.sql("INSERT INTO t VALUES (1, 'a', TIMESTAMP '2026-01-01 00:00:00')")
    fx.sql("INSERT INTO t VALUES (2, 'b', TIMESTAMP '2026-01-02 00:00:00')")
    fx.sql("INSERT INTO t VALUES (3, 'c', TIMESTAMP '2026-01-03 00:00:00')")
    val t = fx.resolve("t")
    assert(t.currentSnapshot.get.manifests.size == 3)
    fx.sql("ALTER TABLE t EXECUTE optimize_manifests")
    assert(t.currentSnapshot.get.manifests.size == 1)
    assert(t.rowCount == 3)
  }

  test("ALTER TABLE EXECUTE drop_extended_stats resets to live stats") {
    val fx = fixture("sqldropstats")
    fx.sql("CREATE TABLE t (a VARCHAR, b INTEGER)")
    fx.sql("INSERT INTO t VALUES ('x', NULL), (NULL, 2)")
    fx.sql("ANALYZE t")
    // pinned: nulls_fraction for a = 0.5 from the ANALYZE store
    def fraction(colName: String): Any =
      fx.rows("SHOW STATS FOR t").find(_.getString(0) == colName).get.get(3)
    assert(fraction("a") == 0.5)
    fx.sql("INSERT INTO t VALUES ('y', 3)")
    assert(fraction("a") == 0.5) // still pinned, stale by design
    fx.sql("ALTER TABLE t EXECUTE drop_extended_stats")
    // live manifest fallback: 1 null of 3 rows
    assert(math.abs(fraction("a").asInstanceOf[Double] - 1.0 / 3.0) < 1e-9)
  }

  test("SELECT ... FOR VERSION/TIMESTAMP AS OF time travel") {
    val fx = fixture("sqltt")
    fx.sql("CREATE TABLE t (k INTEGER)")
    fx.sql("INSERT INTO t VALUES (1), (2)") // snapshot 1
    fx.clock.advanceDays(1)
    fx.sql("INSERT INTO t VALUES (3)")      // snapshot 2
    assert(fx.rows("SELECT * FROM t FOR VERSION AS OF 1").length == 2)
    assert(fx.rows("SELECT * FROM t FOR VERSION AS OF 2").length == 3)
    assert(fx.rows(
      "SELECT * FROM t FOR TIMESTAMP AS OF TIMESTAMP '2026-01-01 12:00:00'")
      .length == 2)
    assert(fx.rows("SELECT * FROM t").length == 3)
  }

  test("ALTER TABLE EXECUTE optimize WHERE compacts only the named partition") {
    import spark.implicits._
    import graft.meta.PartitionSpec
    val fx = fixture("sqloptwhere")
    val df = (0 until 200).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        s"2026-01-0${1 + i % 4} 0${i % 10}:00:00"), i * 1.5)
    }.toDF("id", "ts", "v")
    val t = GraftTable.create(spark, s"${fx.dir}/t", df.schema,
      partitionBy = Seq(PartitionSpec.days("ts")))
    val hotDay = PartitionSpec.days("ts")
      .expr(org.apache.spark.sql.functions.lit("2026-01-01 00:00:00")
        .cast("timestamp"))
    // the hot day arrives as 3 micro-appends, other days in one commit
    t.append(df.filter(org.apache.spark.sql.functions
      .to_date($"ts") =!= "2026-01-01"))
    (0 until 3).foreach(i => t.append(df.filter(
      org.apache.spark.sql.functions.to_date($"ts") === "2026-01-01" &&
        $"id" % 3 === i)))
    val hotBefore = t.files.filter(t.partitionScope(
      Seq("days_ts" -> hotDay))).count()
    val totalBefore = t.currentSnapshot.map(_.numFiles).getOrElse(0L)
    val day = df.filter(org.apache.spark.sql.functions
        .to_date($"ts") === "2026-01-01")
      .select(org.apache.spark.sql.functions.datediff(
        $"ts".cast("date"),
        org.apache.spark.sql.functions.lit("1970-01-01").cast("date")))
      .head().getInt(0)
    fx.sql(s"ALTER TABLE t EXECUTE optimize WHERE days_ts = $day")
    val hotAfter = t.files.filter(t.partitionScope(
      Seq("days_ts" -> hotDay))).count()
    assert(hotBefore == 3 && hotAfter == 1,
      s"hot partition must compact 3 -> 1 (got $hotBefore -> $hotAfter)")
    assert(t.currentSnapshot.map(_.numFiles).getOrElse(0L) ==
      totalBefore - hotBefore + hotAfter,
      "cold partitions must be carried untouched")
    assert(t.read.count() == 200)
    // non-partition column and non-optimize ops fail loudly
    intercept[IllegalArgumentException] {
      fx.sql("ALTER TABLE t EXECUTE optimize WHERE id = 3")
    }
    intercept[IllegalArgumentException] {
      fx.sql("ALTER TABLE t EXECUTE expire_snapshots(retention_threshold " +
        "=> '7d') WHERE days_ts = 3")
    }
  }

  test("CALL system.rollback_to_snapshot moves main; later snapshots stay by id") {
    val fx = fixture("sqlrb")
    fx.sql("CREATE TABLE t (k INTEGER)")
    fx.sql("INSERT INTO t VALUES (1), (2)") // snapshot 1
    fx.sql("INSERT INTO t VALUES (3)")      // snapshot 2
    fx.sql("CALL system.rollback_to_snapshot('t', 1)")
    assert(fx.rows("SELECT * FROM t").length == 2)
    // the rolled-past snapshot remains readable by explicit version
    assert(fx.rows("SELECT * FROM t FOR VERSION AS OF 2").length == 3)
    intercept[IllegalArgumentException] {
      fx.sql("CALL system.other_procedure('t', 1)")
    }
  }

  test("\"t$properties\" lists current table properties as key/value rows") {
    val fx = fixture("sqlprops")
    fx.sql("CREATE TABLE t (k INTEGER)")
    fx.sql("ALTER TABLE t SET PROPERTIES \"write.bloom-filter.columns\" = 'k'")
    val rows = fx.rows("SELECT * FROM \"t$properties\"")
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("write.bloom-filter.columns") == "k")
  }

  test("DELETE FROM ... WHERE is a merge-on-read position delete") {
    import spark.implicits._
    val fx = fixture("sqldel")
    fx.sql("CREATE TABLE t (k INTEGER, grp VARCHAR, v DOUBLE)")
    fx.sql("INSERT INTO t VALUES " + (0 until 40).map(i =>
      s"($i, 'g${i % 4}', ${i * 1.5})").mkString(", "))
    val t = fx.resolve("t")
    val filesBefore = t.files.select("path").collect().map(_.getString(0)).toSet

    fx.sql("DELETE FROM t WHERE grp = 'g0' AND k >= 8")
    assert(t.read.filter($"grp" === "g0" && $"k" >= 8).count() == 0)
    assert(t.rowCount == 40 - (8 until 40).count(_ % 4 == 0))
    // merge-on-read: the data files were not rewritten
    assert(t.files.select("path").collect().map(_.getString(0)).toSet
      == filesBefore)
    assert(fx.rows("""SELECT * FROM "t$delete_files"""").length >= 1)

    fx.sql("DELETE FROM t WHERE k IN (1, 3) AND v IS NOT NULL")
    assert(t.read.filter($"k".isin(1, 3)).count() == 0)

    // a literal the INTEGER column cannot hold exactly matches no row
    // (through the fallback) instead of failing its coercion
    val live = t.rowCount
    fx.sql("DELETE FROM t WHERE k = 1.5")
    fx.sql("UPDATE t SET grp = 'z' WHERE k = 3000000000")
    assert(t.rowCount == live && t.read.filter($"grp" === "z").count() == 0)
    fx.sql("DELETE FROM t WHERE k IN (2, 2.5)")
    assert(t.rowCount == live - 1 && t.read.filter($"k" === 2).count() == 0)

    // outside the closed conjunction grammar → the general-predicate
    // fallback: OR, BETWEEN, functions, double-quoted identifiers
    fx.sql("DELETE FROM t WHERE k = 0 OR k = 2")
    assert(t.read.filter($"k".isin(0, 2)).count() == 0)
    fx.sql("DELETE FROM t WHERE \"k\" BETWEEN 4 AND 6 AND grp LIKE 'g%'")
    assert(t.read.filter($"k".between(4, 6)).count() == 0)

    // unknown columns still fail loudly, at analysis
    intercept[Exception](
      fx.sql("DELETE FROM t WHERE nosuch = 1 OR nosuch = 2"))

    // truncate shape takes the CoW path and empties the table
    fx.sql("DELETE FROM t")
    assert(t.rowCount == 0)
    // an unknown column fails loudly on a table with no live files too
    intercept[Exception](fx.sql("DELETE FROM t WHERE nosuch = 1"))
  }

  test("UPDATE takes general WHERE predicates through the fallback") {
    import spark.implicits._
    val fx = fixture("sqlupdgen")
    fx.sql("CREATE TABLE t (k INTEGER, grp VARCHAR, v DOUBLE)")
    fx.sql("INSERT INTO t VALUES " + (0 until 10).map(i =>
      s"($i, 'g${i % 2}', ${i * 1.0})").mkString(", "))
    fx.sql("UPDATE t SET v = v + 100 WHERE k = 1 OR k = 3")
    val t = fx.resolve("t")
    assert(t.read.filter($"k".isin(1, 3)).select("v")
      .as[Double].collect().sorted.toSeq == Seq(101.0, 103.0))
    // a double-quoted identifier must be an IDENTIFIER, never a
    // silently-false string literal
    fx.sql("UPDATE t SET v = 0 WHERE \"grp\" = 'g0' AND k >= 8")
    assert(t.read.filter($"k" === 8).select("v").as[Double].head() == 0.0)
    intercept[Exception](fx.sql("UPDATE t SET v = 0 WHERE nope = 1 OR k = 1"))
  }

  test("double-quoted identifiers are columns in SELECT bodies and MERGE") {
    import spark.implicits._
    val fx = fixture("sqlquoted")
    fx.sql("CREATE TABLE f (k BIGINT, s VARCHAR)")
    fx.sql("INSERT INTO f VALUES (1, 'abc'), (2, 'xyz')")
    // a double-quoted token is a column, never the string constant 'k'
    assert(fx.rows("""SELECT "k" FROM f ORDER BY "k"""")
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(fx.rows("""SELECT k FROM f WHERE "s" = 'abc'""")
      .map(_.getLong(0)).toSeq == Seq(1L))
    // ... in a quoted table ref's projection too
    assert(fx.rows("""SELECT "k" FROM "f" WHERE "k" > 1""")
      .map(_.getLong(0)).toSeq == Seq(2L))
    // MERGE: ON, WHEN condition and SET all read quoted names as columns
    fx.sql("CREATE TABLE src (k BIGINT, s VARCHAR)")
    fx.sql("INSERT INTO src VALUES (1, 'new'), (2, 'skip')")
    fx.sql("""MERGE INTO f USING src ON f."k" = src."k"
      WHEN MATCHED AND src."s" = 'new' THEN UPDATE SET "s" = src."s" """)
    assert(fx.resolve("f").read.as[(Long, String)].collect().sortBy(_._1)
      .toSeq == Seq((1L, "new"), (2L, "xyz")))
  }

  test("Trino literal typing: REAL and VARCHAR columns against numbers") {
    import spark.implicits._
    val fx = fixture("sqltyping")
    fx.sql("CREATE TABLE t (k BIGINT, f REAL, s VARCHAR)")
    fx.sql("INSERT INTO t VALUES (1, 0.1, '5'), (2, 0.5, 'abc'), " +
      "(3, 0.25, '7'), (4, NULL, NULL)")
    val t = fx.resolve("t")
    def keys(): Seq[Long] = t.read.select($"k").as[Long].collect().sorted.toSeq
    // the REAL 0.1 equals the literal 0.1 (compared as REAL, as in Trino)
    fx.sql("UPDATE t SET s = 'hit' WHERE f = 0.1")
    assert(t.read.filter($"s" === "hit").select($"k").as[Long].collect()
      .toSeq == Seq(1L))
    fx.sql("DELETE FROM t WHERE f IN (0.1, 0.2)")
    assert(keys() == Seq(2L, 3L, 4L))
    // a number against a VARCHAR compares as text, never failing on 'abc'
    fx.sql("DELETE FROM t WHERE s = 7")
    assert(keys() == Seq(2L, 4L))
    fx.sql("DELETE FROM t WHERE s BETWEEN 0 AND 9 OR f > 0.4")
    assert(keys() == Seq(4L))
  }

  test("MERGE INTO in the upsert shape is exactly GraftTable.upsert") {
    import spark.implicits._
    val fx = fixture("sqlmerge")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO t VALUES " + (0 until 20).map(i =>
      s"($i, 'v$i')").mkString(", "))
    fx.sql("CREATE TABLE src (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO src VALUES (5, 'UP5'), (6, 'UP6'), (100, 'NEW')")

    // the same upsert through the API, on a twin table — MERGE must be
    // row-for-row identical
    fx.sql("CREATE TABLE twin (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO twin VALUES " + (0 until 20).map(i =>
      s"($i, 'v$i')").mkString(", "))
    fx.resolve("twin").upsert(fx.resolve("src").read, Seq("k"), fx.clock)

    fx.sql("""MERGE INTO t USING src ON t.k = src.k
      WHEN MATCHED THEN UPDATE SET v = src.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)""")
    val t = fx.resolve("t")
    assert(t.currentSnapshot.get.operation == "upsert")
    val got = t.read.as[(Long, String)].collect().sorted.toSeq
    assert(got == fx.resolve("twin").read.as[(Long, String)]
      .collect().sorted.toSeq)
    assert(got.toMap.view.filterKeys(Seq(5L, 6L, 100L).contains).toMap ==
      Map(5L -> "UP5", 6L -> "UP6", 100L -> "NEW"))
    assert(t.rowCount == 21)

    // aliases and a bare INSERT column list work too
    fx.sql("INSERT INTO src VALUES (7, 'UP7')")
    fx.sql("""MERGE INTO t AS a USING src AS b ON a.k = b.k
      WHEN MATCHED THEN UPDATE SET a.v = b.v
      WHEN NOT MATCHED THEN INSERT VALUES (b.k, b.v)""")
    assert(t.read.filter($"k" === 7).select("v").as[String].head() == "UP7")

    // the ON clause must still equate same-named key columns
    intercept[IllegalArgumentException](fx.sql(
      """MERGE INTO t USING src ON t.k = src.v
        WHEN MATCHED THEN UPDATE SET v = src.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)"""))
  }

  test("MERGE widened: matched conditions, DELETE, partial UPDATE exprs") {
    import spark.implicits._
    val fx = fixture("sqlmergegen")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR, n BIGINT)")
    fx.sql("INSERT INTO t VALUES " + (0 until 10).map(i =>
      s"($i, 'v$i', $i)").mkString(", "))
    fx.sql("CREATE TABLE src (k BIGINT, v VARCHAR, n BIGINT)")
    // matched keys 2 (small n), 5 (large n), 7 (large n); new key 42
    fx.sql("INSERT INTO src VALUES (2, 'S2', 2), (5, 'S5', 50), " +
      "(7, 'S7', 70), (42, 'S42', 420)")

    // first-match-wins: n >= 50 rows are DELETED, the remaining matched
    // row (k=2) takes a partial UPDATE with an expression over both
    // sides; the unmatched source row INSERTs with an expression
    fx.sql("""MERGE INTO t USING src ON t.k = src.k
      WHEN MATCHED AND src.n >= 50 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = concat(src.v, '!'), n = t.n + src.n
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, lower(src.v))""")

    val got = fx.resolve("t").read.as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    // 5 and 7 deleted; 2 updated in place; 42 inserted with NULL n
    assert(!got.map(_._1).exists(Set(5L, 7L)))
    assert(got.find(_._1 == 2L).get == ((2L, "S2!", Some(4L))))
    assert(got.find(_._1 == 42L).get == ((42L, "s42", None)))
    // untouched rows survive verbatim
    assert(got.find(_._1 == 3L).get == ((3L, "v3", Some(3L))))
    assert(got.size == 9) // 10 - 2 deleted + 1 inserted

    // DELETE-only merge routes to keyed eq-deletes
    fx.sql("CREATE TABLE u (k BIGINT, v VARCHAR, n BIGINT)")
    fx.sql("INSERT INTO u VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3)")
    fx.sql("""MERGE INTO u USING src ON u.k = src.k
      WHEN MATCHED THEN DELETE""")
    assert(fx.resolve("u").read.as[(Long, String, Option[Long])]
      .collect().map(_._1).sorted.toSeq == Seq(1L, 3L))

    // update-condition merge must equal the API composition on a twin
    fx.sql("CREATE TABLE w (k BIGINT, v VARCHAR, n BIGINT)")
    fx.sql("INSERT INTO w VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3)")
    fx.sql("""MERGE INTO w USING src ON w.k = src.k
      WHEN MATCHED AND src.n < 10 THEN UPDATE SET v = src.v""")
    assert(fx.resolve("w").read.as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", Some(1L)), (2L, "S2", Some(2L)), (3L, "c", Some(3L))))

    // still loud: unknown SET column, SET of a key column
    intercept[Exception](fx.sql(
      """MERGE INTO t USING src ON t.k = src.k
        WHEN MATCHED THEN UPDATE SET nosuch = src.v"""))
    intercept[Exception](fx.sql(
      """MERGE INTO t USING src ON t.k = src.k
        WHEN MATCHED THEN UPDATE SET k = src.k + 1"""))
  }

  test("MERGE USING a derived-table source") {
    import spark.implicits._
    val fx = fixture("sqlmergesub")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    fx.sql("CREATE TABLE src (k BIGINT, v VARCHAR, n BIGINT)")
    fx.sql("INSERT INTO src VALUES (2, 'up', 5), (9, 'new', 7), (4, 'no', 500)")

    // projected + filtered source; the full-row shape takes the one-
    // commit upsert fast path exactly like a table source
    fx.sql("""MERGE INTO t USING
      (SELECT k, upper(v) AS v FROM src WHERE n < 100) AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val t = fx.resolve("t")
    assert(t.read.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "UP"), (3L, "c"), (9L, "NEW")))

    // a source whose body contains its own JOIN ... ON still parses,
    // and mixed clauses run the general (single-commit) path
    val before = t.currentSnapshot.get.snapshotId
    fx.sql("""MERGE INTO t USING
      (SELECT a.k AS k, b.v AS v FROM src a JOIN src b ON a.k = b.k
       WHERE a.n < 100) s ON t.k = s.k
      WHEN MATCHED AND s.k = 2 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = concat(s.v, '!')""")
    assert(t.currentSnapshot.get.snapshotId == before + 1)
    assert(t.read.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (3L, "c"), (9L, "new!")))
  }

  test("general MERGE is ONE atomic snapshot; multi-match fails loudly") {
    import spark.implicits._
    val fx = fixture("sqlmergeatomic")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR, n BIGINT)")
    fx.sql("INSERT INTO t VALUES " + (0 until 10).map(i =>
      s"($i, 'v$i', $i)").mkString(", "))
    fx.sql("CREATE TABLE src (k BIGINT, v VARCHAR, n BIGINT)")
    fx.sql("INSERT INTO src VALUES (2, 'S2', 2), (5, 'S5', 50), " +
      "(7, 'S7', 70), (42, 'S42', 420)")
    val t = fx.resolve("t")
    val before = t.currentSnapshot.get.snapshotId
    val preRows = t.read.as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq

    // delete + update + insert in one statement → exactly ONE commit
    fx.sql("""MERGE INTO t USING src ON t.k = src.k
      WHEN MATCHED AND src.n >= 50 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = concat(src.v, '!'), n = t.n + src.n
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, lower(src.v))""")
    val head = t.currentSnapshot.get
    assert(head.snapshotId == before + 1,
      s"MERGE must be one snapshot, got ${head.snapshotId - before}")
    assert(head.operation == "upsert_merge")
    // all-or-nothing: the parent snapshot still reads the pre-merge
    // rows verbatim (a reader pinned before the commit sees NO partial
    // effects), the head has every clause's effect
    assert(t.readAsOf(before).as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq == preRows)
    val got = t.read.as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(!got.map(_._1).exists(Set(5L, 7L)))
    assert(got.find(_._1 == 2L).get == ((2L, "S2!", Some(4L))))
    assert(got.find(_._1 == 42L).get == ((42L, "s42", None)))
    assert(got.size == 9)
    assert(head.totalRows == 9)

    // a MERGE whose UPDATE matches nothing but whose DELETE fires still
    // lands atomically (exercises the empty-append manifest path)
    val before2 = t.currentSnapshot.get.snapshotId
    fx.sql("""MERGE INTO t USING src ON t.k = src.k
      WHEN MATCHED AND src.n >= 1000 THEN UPDATE SET v = src.v
      WHEN MATCHED THEN DELETE""")
    assert(t.currentSnapshot.get.snapshotId == before2 + 1)
    assert(t.read.as[(Long, String, Option[Long])].collect()
      .map(_._1).sorted.toSeq == Seq(0L, 1L, 3L, 4L, 6L, 8L, 9L))

    // Trino's cardinality rule: a target row matched by two source
    // rows is an error, not silent double-application
    fx.sql("INSERT INTO src VALUES (3, 'DUP', 1)")
    fx.sql("INSERT INTO src VALUES (3, 'DUP2', 2)")
    val ex = intercept[IllegalArgumentException](fx.sql(
      """MERGE INTO t USING src ON t.k = src.k
        WHEN MATCHED THEN UPDATE SET v = src.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)"""))
    assert(ex.getMessage.contains("more than one source row"))
    // a duplicate source key ABSENT from the target does not trip it
    fx.sql("DELETE FROM t WHERE k = 3")
    fx.sql("""MERGE INTO t USING src ON t.k = src.k
      WHEN MATCHED AND src.n < 0 THEN UPDATE SET v = src.v
      WHEN NOT MATCHED AND src.k = 99 THEN INSERT (k, v) VALUES (src.k, src.v)""")
  }

  test("CTAS and INSERT SELECT take general projection/filter/join bodies") {
    import spark.implicits._
    val fx = fixture("sqlctasgen")
    fx.sql("CREATE TABLE src (k BIGINT, v VARCHAR, n BIGINT)")
    fx.sql("INSERT INTO src VALUES (1, 'a', 10), (2, 'b', 20), " +
      "(3, 'c', 30), (4, 'd', 40)")

    // projection + filter; the API path must hash-match
    fx.sql("CREATE TABLE dst AS SELECT k, v FROM src WHERE n >= 20")
    val apiRows = fx.resolve("src").read.filter($"n" >= 20)
      .select("k", "v").as[(Long, String)].collect().sorted.toSeq
    assert(fx.resolve("dst").read.as[(Long, String)]
      .collect().sorted.toSeq == apiRows)
    assert(fx.resolve("dst").schema.fieldNames.toSeq == Seq("k", "v"))

    // expressions and aggregates work — the body is full Spark SQL
    fx.sql("CREATE TABLE agg AS SELECT v, sum(n) AS total FROM src GROUP BY v")
    assert(fx.resolve("agg").read.as[(String, Long)].collect().sorted.toSeq ==
      Seq(("a", 10L), ("b", 20L), ("c", 30L), ("d", 40L)))

    // joins across two graft tables, with the WITH clause still applied
    fx.sql("CREATE TABLE dim (k BIGINT, label VARCHAR)")
    fx.sql("INSERT INTO dim VALUES (1, 'one'), (2, 'two')")
    fx.sql("CREATE TABLE joined WITH (sorted_by = ARRAY['k']) AS " +
      "SELECT src.k AS k, dim.label AS label FROM src " +
      "JOIN dim ON src.k = dim.k")
    assert(fx.resolve("joined").sortOrder == Seq(("k", false)))
    assert(fx.resolve("joined").read.as[(Long, String)]
      .collect().sorted.toSeq == Seq((1L, "one"), (2L, "two")))

    // INSERT ... SELECT with a matching projected schema appends
    fx.sql("INSERT INTO dst SELECT k, upper(v) AS v FROM src WHERE n = 10")
    assert(fx.resolve("dst").read.as[(Long, String)].collect().sorted.toSeq ==
      (apiRows :+ ((1L, "A"))).sorted)

    // unknown table and unknown column still fail loudly
    intercept[Exception](
      fx.sql("CREATE TABLE bad AS SELECT * FROM nosuchtable WHERE 1 = 1"))
    intercept[Exception](
      fx.sql("CREATE TABLE bad2 AS SELECT nosuchcol FROM src"))
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN route to field-id evolution") {
    import spark.implicits._
    val fx = fixture("sqlddl")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")

    fx.sql("ALTER TABLE t ADD COLUMN score DOUBLE")
    val t = fx.resolve("t")
    assert(t.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    // existing rows read as NULL in the added column
    assert(t.read.filter($"score".isNull).count() == 2)
    fx.sql("INSERT INTO t VALUES (3, 'c', 1.5)")

    // rename is metadata-only: old files resolve through the field id
    fx.sql("ALTER TABLE t RENAME COLUMN v TO label")
    assert(t.schema.fieldNames.toSeq == Seq("k", "label", "score"))
    assert(t.read.filter($"k" === 1).select("label").as[String].head() == "a")

    fx.sql("ALTER TABLE t DROP COLUMN score")
    assert(t.schema.fieldNames.toSeq == Seq("k", "label"))
    assert(t.read.count() == 3)

    // evolved table stays fully readable and writable through SQL
    fx.sql("INSERT INTO t VALUES (4, 'd')")
    assert(fx.rows("SELECT * FROM t").length == 4)

    intercept[IllegalArgumentException](
      fx.sql("ALTER TABLE t ADD COLUMN x NOSUCHTYPE"))
    intercept[IllegalArgumentException](
      fx.sql("ALTER TABLE t RENAME COLUMN nosuch TO y"))
  }

  test("ALTER COLUMN SET DATA TYPE widens in place; narrowing is refused") {
    import spark.implicits._
    val fx = fixture("sqlwiden")
    fx.sql("CREATE TABLE t (k INTEGER, v REAL)")
    fx.sql("INSERT INTO t VALUES (1, 1.5), (2, 2.5)")

    fx.sql("ALTER TABLE t ALTER COLUMN k SET DATA TYPE BIGINT")
    fx.sql("ALTER TABLE t ALTER COLUMN v SET DATA TYPE DOUBLE")
    val t = fx.resolve("t")
    assert(t.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(t.schema("v").dataType == org.apache.spark.sql.types.DoubleType)

    // a value only the WIDE type can hold lands next to the narrow files
    fx.sql(s"INSERT INTO t VALUES (${Int.MaxValue.toLong + 7}, 9.25)")
    assert(t.read.count() == 3)
    assert(t.read.agg(org.apache.spark.sql.functions.max($"k"))
      .as[Long].head() == Int.MaxValue.toLong + 7)
    // old narrow files still read (up-cast through the field id) and a
    // filter over the widened column spans both file generations
    assert(t.read.filter($"k" >= 2L).count() == 2)

    // Iceberg widening rules only: narrowing fails loudly
    intercept[IllegalArgumentException](
      fx.sql("ALTER TABLE t ALTER COLUMN k SET DATA TYPE INTEGER"))
  }

  test("DELETE WHERE IN / NOT IN subquery follows three-valued SQL semantics") {
    import spark.implicits._
    val fx = fixture("sqldelsub")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO t VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d'), (5,'e'), (6,'f')")
    fx.sql("CREATE TABLE s (k2 BIGINT)")
    fx.sql("INSERT INTO s VALUES (2), (3), (NULL)")
    fx.sql("CREATE TABLE keep (k BIGINT)")
    fx.sql("INSERT INTO keep VALUES (1), (5)")

    def left(): Seq[Long] =
      fx.resolve("t").read.select($"k").as[Long].collect().toSeq.sorted

    // IN: NULL subquery values match nothing; 2 and 3 go
    fx.sql("DELETE FROM t WHERE k IN (SELECT k2 FROM s)")
    assert(left() == Seq(1L, 4L, 5L, 6L))
    // NOT IN with a NULL in the subquery: every predicate UNKNOWN → no-op
    fx.sql("DELETE FROM t WHERE k NOT IN (SELECT k2 FROM s)")
    assert(left() == Seq(1L, 4L, 5L, 6L))
    // NOT IN against a null-free set deletes the complement
    fx.sql("DELETE FROM t WHERE k NOT IN (SELECT k FROM keep)")
    assert(left() == Seq(1L, 5L))
    // a CTE body rides the same path
    fx.sql("DELETE FROM t WHERE k IN (WITH w AS (SELECT k FROM keep) SELECT k FROM w WHERE k > 2)")
    assert(left() == Seq(1L))
  }

  test("DELETE IN subquery compares in the common type, never by truncating cast") {
    import spark.implicits._
    val fx = fixture("sqldelcast")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO t VALUES (1,'a'), (2,'b'), (3,'c')")
    fx.sql("CREATE TABLE dd (d DOUBLE)")
    fx.sql("INSERT INTO dd VALUES (2.7), (3.0)")
    // 2.7 must NOT match k=2 (a cast-to-bigint would truncate it to 2);
    // 3.0 = 3 compares equal in the common (double) type
    fx.sql("DELETE FROM t WHERE k IN (SELECT d FROM dd)")
    assert(fx.resolve("t").read.select($"k").as[Long].collect().toSeq.sorted
      == Seq(1L, 2L))
  }

  test("Trino-spelled functions resolve in dispatcher SELECTs") {
    val fx = fixture("sqltrinofn")
    fx.sql("CREATE TABLE t (k BIGINT, tags ARRAY(VARCHAR), s VARCHAR, ts TIMESTAMP(6))")
    fx.sql("INSERT INTO t VALUES " +
      "(1, ARRAY['a','b'], 'hello', TIMESTAMP '2026-01-01 10:00:00')," +
      "(2, ARRAY['c'], 'world', TIMESTAMP '2026-01-01 13:30:00')")
    val r = fx.rows(
      """SELECT k, cardinality(tags) AS n_tags, strpos(s, 'l') AS p,
        |  date_diff('hour', TIMESTAMP '2026-01-01 09:00:00', ts) AS h,
        |  to_unixtime(ts) AS ut,
        |  CAST(date_add('day', 1, ts) AS VARCHAR) AS nxt
        |FROM t""".stripMargin.replaceAll("\n", " "))
      .sortBy(_.getLong(0))
    // cardinality resolves to Spark's BUILT-IN (INT) — the compat
    // mapping only registers when absent; strpos is compat-registered
    // and returns BIGINT like Trino
    assert(r(0).getInt(1) == 2 && r(1).getInt(1) == 1)
    assert(r(0).getLong(2) == 3L && r(1).getLong(2) == 4L) // 1-based strpos
    assert(r(0).getLong(3) == 1L && r(1).getLong(3) == 4L)
    assert(r(0).getDouble(4) == 1.7672616e9) // 2026-01-01T10:00:00Z
    assert(r(0).getString(5).startsWith("2026-01-02 10:00:00"))
    val agg = fx.rows(
      "SELECT approx_distinct(k) AS d, arbitrary(s) AS any_s FROM t").head
    assert(agg.getLong(0) == 2L)
    assert(Set("hello", "world").contains(agg.getString(1)))
  }

  test("CREATE OR REPLACE TABLE swaps schema and content in one commit, history kept") {
    import spark.implicits._
    val fx = fixture("sqlcor")
    fx.sql("CREATE TABLE src (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO src VALUES (1,'ab'), (2,'c')")
    // absent target: plain create-as-select
    fx.sql("CREATE OR REPLACE TABLE t AS SELECT k, v FROM src")
    assert(fx.rows("SELECT * FROM t").length == 2)
    val firstSnap = fx.resolve("t").currentSnapshot.get.snapshotId
    // present target: replace with a DIFFERENT schema and content
    fx.sql("CREATE OR REPLACE TABLE t AS SELECT k * 10 AS kk, length(v) AS n FROM src")
    val t = fx.resolve("t")
    assert(t.schema.fieldNames.toSeq == Seq("kk", "n"))
    assert(t.read.select($"kk").as[Long].collect().toSeq.sorted == Seq(10L, 20L))
    // exactly ONE new snapshot; the pre-replace snapshot stays readable
    assert(t.currentSnapshot.get.snapshotId == firstSnap + 1)
    assert(fx.rows(s"SELECT * FROM t FOR VERSION AS OF $firstSnap").length == 2)
    // replacing with the SAME shape is a pure overwrite (no new schema
    // version) and still lands as one commit
    fx.sql("CREATE OR REPLACE TABLE t AS SELECT kk, n FROM t WHERE kk > 10")
    assert(fx.resolve("t").read.count() == 1)
    // TRUNCATE empties the table but keeps it queryable (and history)
    fx.sql("TRUNCATE TABLE t")
    assert(fx.resolve("t").read.count() == 0)
    assert(fx.rows("SELECT * FROM t").isEmpty)
  }

  test("CREATE OR REPLACE WITH partitioning refers to the NEW schema, atomically") {
    val fx = fixture("sqlcorpart")
    fx.sql("CREATE TABLE src (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO src VALUES (1,'ab'), (2,'c'), (17,'d')")
    fx.sql("CREATE TABLE t (old_col BIGINT)")
    fx.sql("INSERT INTO t VALUES (7)")
    // Trino: CORTAS partitioning refers to the replacing query's columns
    // — kk exists only in the NEW schema and must be accepted
    fx.sql("CREATE OR REPLACE TABLE t WITH (partitioning = ARRAY['bucket(kk, 4)']) " +
      "AS SELECT k * 10 AS kk, v FROM src")
    val t = fx.resolve("t")
    assert(t.schema.fieldNames.toSeq == Seq("kk", "v"))
    assert(t.partitionSpec.map(_.name) == Seq("bucket4_kk"))
    assert(t.read.count() == 3)
    // partitioning by a column the replace REMOVES fails up front and
    // leaves schema, spec, and content untouched (no hybrid state)
    val before = t.currentSnapshot.get.snapshotId
    intercept[IllegalArgumentException] {
      fx.sql("CREATE OR REPLACE TABLE t WITH (partitioning = ARRAY['kk']) " +
        "AS SELECT v FROM src")
    }
    val t2 = fx.resolve("t")
    assert(t2.schema.fieldNames.toSeq == Seq("kk", "v"))
    assert(t2.partitionSpec.map(_.name) == Seq("bucket4_kk"))
    assert(t2.currentSnapshot.get.snapshotId == before)
    assert(t2.read.count() == 3)
    // no partitioning clause = the new definition has none: spec resets
    fx.sql("CREATE OR REPLACE TABLE t AS SELECT kk, v FROM t")
    assert(fx.resolve("t").partitionSpec.isEmpty)
    // appends after the failed replace still work (regression: the old
    // bug left a spec referencing a dropped column, breaking writes)
    fx.sql("INSERT INTO t VALUES (990, 'z')")
    assert(fx.resolve("t").read.count() == 4)
  }

  test("CREATE OR REPLACE sorted_by refers to the NEW schema; plain props only on success") {
    val fx = fixture("sqlcorsort")
    fx.sql("CREATE TABLE src (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO src VALUES (1,'ab'), (2,'c'), (3,'d')")
    fx.sql("CREATE TABLE t (a BIGINT) WITH (sorted_by = ARRAY['a'])")
    fx.sql("INSERT INTO t VALUES (7)")
    // sorted_by names a NEW-schema-only column: accepted (old bug: the
    // pre-replace schema rejected it); the old order on the dropped
    // column must not survive either (old bug: clusterBy threw on it)
    fx.sql("CREATE OR REPLACE TABLE t WITH (sorted_by = ARRAY['kk DESC']) " +
      "AS SELECT k * 10 AS kk, v FROM src")
    val t = fx.resolve("t")
    assert(t.schema.fieldNames.toSeq == Seq("kk", "v"))
    assert(t.sortOrder == Seq(("kk", true)))
    assert(t.read.count() == 3)
    // sorted_by on a column the replace removes fails up front and
    // leaves the table untouched — including its properties
    intercept[IllegalArgumentException] {
      fx.sql("CREATE OR REPLACE TABLE t WITH (sorted_by = ARRAY['kk'], " +
        "foo = 'x') AS SELECT v FROM src")
    }
    val t2 = fx.resolve("t")
    assert(t2.schema.fieldNames.toSeq == Seq("kk", "v"))
    assert(t2.sortOrder == Seq(("kk", true)))
    assert(!t2.properties.contains("foo"),
      "a failed replace must not leave plain props behind")
    // no sorted_by clause = the new definition has none: order resets
    fx.sql("CREATE OR REPLACE TABLE t AS SELECT kk, v FROM t")
    assert(fx.resolve("t").sortOrder.isEmpty)
  }

  test("TrinoCompat rewrite converts calls but never touches string literals") {
    import graft.functions.TrinoCompat.rewriteSql
    assert(rewriteSql("SELECT date_diff('hour', a, b)") ==
      "SELECT timestampdiff(HOUR, a, b)")
    assert(rewriteSql("SELECT date_add('day', 3, ts)") ==
      "SELECT timestampadd(DAY, 3, ts)")
    assert(rewriteSql("SELECT CAST(x AS VARCHAR) FROM t") ==
      "SELECT CAST(x AS STRING) FROM t")
    // the same shapes INSIDE literals are data, not syntax
    assert(rewriteSql("SELECT 'date_diff(''hour'', a, b)' AS s") ==
      "SELECT 'date_diff(''hour'', a, b)' AS s")
    assert(rewriteSql("SELECT 'CAST(x AS VARCHAR)' AS s") ==
      "SELECT 'CAST(x AS VARCHAR)' AS s")
    // mixed: the real call rewrites, the literal survives byte-exact
    assert(rewriteSql("SELECT date_diff('day', a, b), 'x AS VARCHAR) y'") ==
      "SELECT timestampdiff(DAY, a, b), 'x AS VARCHAR) y'")
    // an output column ALIASED varchar is not a cast — untouched
    assert(rewriteSql("SELECT * FROM (SELECT a AS varchar) x") ==
      "SELECT * FROM (SELECT a AS varchar) x")
    // only known unit names rewrite; a quoted non-unit first arg is
    // left for Spark's parser to reject loudly
    assert(rewriteSql("SELECT date_add('20260101', 3)") ==
      "SELECT date_add('20260101', 3)")
    // one paren nesting level inside the CAST still rewrites
    assert(rewriteSql("SELECT CAST(coalesce(a, b) AS VARCHAR) FROM t") ==
      "SELECT CAST(coalesce(a, b) AS STRING) FROM t")
  }

  test("EXPLAIN renders the physical plan of a dispatcher SELECT") {
    val fx = fixture("sqlexplain")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    val plan = fx.rows("EXPLAIN SELECT k FROM t WHERE k = 1")
      .map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"), plan.take(200))
    // the WHERE reaches the parquet scan as a pushed filter
    assert(plan.contains("PushedFilters") && plan.contains("k"), plan)
    // EXPLAIN of a non-query is still an unsupported statement
    intercept[IllegalArgumentException](fx.sql("EXPLAIN DROP TABLE t"))
  }

  test("CREATE VIEW / DROP VIEW round-trip, nesting, and loud failures") {
    val fx = fixture("sqlview")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    fx.sql("CREATE VIEW va AS SELECT k, v FROM t WHERE v = 'a'")
    // reads re-resolve the stored text: both the bare-SELECT path and
    // the general body path see through the view
    assert(fx.rows("SELECT * FROM va").map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
    assert(fx.rows("SELECT count(*) AS c FROM va").head.getLong(0) == 2L)
    // a view is a definition, not a materialization: new table rows
    // appear without any view maintenance
    fx.sql("INSERT INTO t VALUES (4, 'a')")
    assert(fx.rows("SELECT count(*) AS c FROM va").head.getLong(0) == 3L)
    // views on views nest
    fx.sql("CREATE VIEW vb AS SELECT k FROM va WHERE k > 1")
    assert(fx.rows("SELECT * FROM vb").map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
    // CTAS through a view resolves it too
    fx.sql("CREATE TABLE snap AS SELECT * FROM vb")
    assert(fx.rows("SELECT * FROM snap").length == 2)
    // OR REPLACE swaps the definition; plain re-create fails loudly
    intercept[IllegalArgumentException](
      fx.sql("CREATE VIEW va AS SELECT k, v FROM t"))
    fx.sql("CREATE OR REPLACE VIEW va AS SELECT k, v FROM t")
    assert(fx.rows("SELECT count(*) AS c FROM va").head.getLong(0) == 4L)
    // a view body that does not analyze is rejected at creation
    intercept[Exception](
      fx.sql("CREATE VIEW bad AS SELECT nope FROM t"))
    assert(fx.sql("DROP VIEW IF EXISTS bad").isEmpty)
    // name collisions fail loudly in both directions
    intercept[IllegalArgumentException](
      fx.sql("CREATE VIEW t AS SELECT 1 AS x"))
    intercept[IllegalArgumentException](
      fx.sql("CREATE TABLE va (x BIGINT)"))
    // self-referencing definition (legal to store via OR REPLACE,
    // since validation sees the OLD va) fails loudly at read
    fx.sql("CREATE OR REPLACE VIEW va AS SELECT k, v FROM va")
    intercept[IllegalArgumentException](fx.rows("SELECT * FROM va"))
    // drop: the view goes away, the base table is untouched; dropping
    // an unknown view is loud, IF EXISTS is not
    fx.sql("DROP VIEW va")
    fx.sql("DROP VIEW vb")
    intercept[Exception](fx.rows("SELECT * FROM vb"))
    intercept[IllegalArgumentException](fx.sql("DROP VIEW vb"))
    fx.sql("DROP VIEW IF EXISTS vb")
    assert(fx.rows("SELECT * FROM t").length == 4)
  }

  test("SHOW TABLES / SHOW SCHEMAS list the warehouse; unknown schema is loud") {
    val fx = fixture("showtbl")
    def sqlW(s: String) =
      GraftSql.exec(spark, s, fx.resolve, fx.clock, warehouse = Some(fx.dir))
    def names(s: String): Seq[String] =
      sqlW(s).get.collect().map(_.getString(0)).toSeq
    fx.sql("CREATE TABLE tb (k BIGINT)")
    fx.sql("CREATE TABLE ta (k BIGINT)")
    fx.sql("CREATE VIEW va AS SELECT k FROM ta")
    // a nested namespace with its own table
    GraftSql.exec(spark, "CREATE TABLE inner_t (k BIGINT)",
      n => graft.meta.GraftTable.load(spark, s"${fx.dir}/ns/$n"), fx.clock)
    // SHOW TABLES: tables AND views, sorted; the schema dir is excluded
    assert(names("SHOW TABLES") == Seq("ta", "tb", "va"))
    assert(sqlW("SHOW TABLES").get.columns.toSeq == Seq("Table"))
    // SHOW SCHEMAS: namespaces only, never tables or views
    assert(names("SHOW SCHEMAS") == Seq("ns"))
    assert(sqlW("SHOW SCHEMAS").get.columns.toSeq == Seq("Schema"))
    // FROM descends into the namespace; an unknown schema fails loudly,
    // and so does naming a table or view where a schema is expected
    assert(names("SHOW TABLES FROM ns") == Seq("inner_t"))
    intercept[IllegalArgumentException](sqlW("SHOW TABLES FROM nope"))
    intercept[IllegalArgumentException](sqlW("SHOW TABLES FROM ta"))
    intercept[IllegalArgumentException](sqlW("SHOW TABLES FROM va"))
    // no warehouse configured -> loud, not an empty listing
    intercept[IllegalArgumentException](fx.sql("SHOW TABLES"))
    // SHOW CREATE VIEW round-trips the stored definition; on a table
    // it is loud
    assert(fx.rows("SHOW CREATE VIEW va").head.getString(0) ==
      "CREATE VIEW va AS SELECT k FROM ta")
    intercept[IllegalArgumentException](fx.sql("SHOW CREATE VIEW ta"))
    // DESCRIBE works on a view: the analyzed body's schema
    assert(fx.rows("DESCRIBE va").map(r =>
      (r.getString(0), r.getString(1))).toSeq == Seq(("k", "BIGINT")))
    // listings round-trip: DROP removes the row
    fx.sql("DROP TABLE tb")
    assert(names("SHOW TABLES") == Seq("ta", "va"))
  }

  test("DML against a view is rejected explicitly, not incidentally") {
    val fx = fixture("viewdml")
    fx.sql("CREATE TABLE t (k BIGINT, v VARCHAR)")
    fx.sql("INSERT INTO t (k, v) VALUES (1, 'a')")
    fx.sql("CREATE VIEW vw AS SELECT k, v FROM t")
    def rejected(s: String): Unit = {
      val e = intercept[IllegalArgumentException](fx.sql(s))
      assert(e.getMessage.contains("view"), s"$s -> ${e.getMessage}")
    }
    rejected("INSERT INTO vw (k, v) VALUES (2, 'b')")
    rejected("INSERT INTO vw SELECT k, v FROM t")
    rejected("UPDATE vw SET v = 'x' WHERE k = 1")
    rejected("DELETE FROM vw WHERE k = 1")
    rejected("TRUNCATE TABLE vw")
    rejected("ALTER TABLE vw EXECUTE optimize")
    rejected("ALTER TABLE vw ADD COLUMN z BIGINT")
    rejected("ALTER TABLE vw SET PROPERTIES foo = 'bar'")
    rejected("ANALYZE vw")
    rejected("MERGE INTO vw USING t ON k = k WHEN MATCHED THEN DELETE")
    rejected("DROP TABLE vw") // points at DROP VIEW
    // the base table still works and the view still reads
    fx.sql("UPDATE t SET v = 'z' WHERE k = 1")
    assert(fx.rows("SELECT * FROM vw").head.getString(1) == "z")
  }
}
