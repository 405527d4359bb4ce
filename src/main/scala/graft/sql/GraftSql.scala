package graft.sql

import java.sql.Timestamp
import java.time.{Clock, Instant}
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, BinaryComparison, Cast,
  EqualTo, Expression, In, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystShims
import org.apache.spark.sql.types._

import graft.functions.TrinoCompat
import graft.meta.GraftTable

/** The reference's SQL statement surface, parsed and dispatched onto the
  * engine's native commands. The reference's actual interface is SQL
  * strings issued over DB-API (trino_iceberg_maintenance/__main__.py):
  *
  *   - `ALTER TABLE t EXECUTE remove_orphan_files(retention_threshold => '7d')`
  *     (__main__.py:144-147)
  *   - `ALTER TABLE t EXECUTE expire_snapshots(retention_threshold => '7d')`
  *     (__main__.py:154-157)
  *   - `ALTER TABLE t EXECUTE optimize` (__main__.py:170)
  *   - `ANALYZE t [WITH (columns = ARRAY['a', 'b'])]` (__main__.py:188-192)
  *   - `UPDATE cfg SET last_x = current_timestamp(6) WHERE table_name = 't'`
  *     (__main__.py:172-176,194-198)
  *   - `CREATE TABLE [IF NOT EXISTS] t (col TYPE [NOT NULL], ...)`
  *     (__main__.py:41-55; tests/test_maintenance.py:44)
  *   - `INSERT INTO t (cols) VALUES (...)` (tests/test_maintenance.py:47,59-62)
  *   - `SELECT * FROM "t\$files"` / `SELECT * FROM t` (tests:50; __main__.py:62)
  *   - `SHOW STATS FOR t` (tests/test_maintenance.py:90)
  *   - `DROP TABLE t` (tests/test_maintenance.py:20)
  *   - `DELETE FROM t [WHERE ...]` — not issued by the reference itself,
  *     but part of the Trino Iceberg surface its users rely on; routes to
  *     merge-on-read position deletes (Trino's v2 default delete mode)
  *   - `CREATE [OR REPLACE] VIEW v AS <query>` / `DROP VIEW [IF EXISTS] v`
  *     — Trino Iceberg named views: SQL text stored in the warehouse
  *     (`<view>/_graft/view.sql`), validated at creation, re-resolved at
  *     every read (views on views nest; recursion fails loudly)
  *
  * This is deliberately a STATEMENT dispatcher, not a query engine —
  * general SELECTs belong to Spark SQL over `format("graft")` relations
  * (register with `df.createOrReplaceTempView`); what lives here is the
  * statement dialect Spark itself cannot route to our table format.
  * The statement grammar is the closed set above, so a hand-rolled
  * parser (regex per statement + a tiny bracket-aware literal scanner)
  * is exact, and anything outside it fails loudly rather than
  * half-parsing. Expressions and query bodies inside a statement are
  * Spark's: every such text goes through [[SqlFrontEnd]].
  *
  * Table names resolve through a caller-supplied `String => GraftTable`
  * (the reference's catalog.schema prefix maps to a warehouse directory
  * the same way). All statements share the session clock injected by the
  * caller — the scheduler's gate/stamp discipline (SURVEY.md §7.7c).
  */
object GraftSql {

  /** Execute one statement. Returns a DataFrame for queries
    * (SELECT / SHOW STATS), None for DDL, DML and maintenance commands.
    * `warehouse` is the catalog root directory for the listing
    * statements (SHOW TABLES / SHOW SCHEMAS); statements that name a
    * table resolve through `resolve` as before and don't need it. */
  def exec(spark: SparkSession, sql: String, resolve: String => GraftTable,
           clock: Clock = Clock.systemUTC(),
           warehouse: Option[String] = None): Option[DataFrame] = {
    import spark.implicits._
    // Trino-spelled scalar/aggregate functions resolve in every
    // dispatcher statement (codegen'd Catalyst mappings, not UDFs)
    graft.functions.TrinoCompat.ensureRegistered(spark)
    // Trino rejects writes against a view explicitly ("is not a table");
    // without this guard they'd only fail incidentally on the missing
    // snapshot log
    def notView(t: GraftTable, name: String): GraftTable = {
      require(viewText(spark, t.location).isEmpty,
        s"cannot modify a view: ${unquote(name)} is not a table")
      t
    }
    normalize(sql) match {
      case ShowSchemas() =>
        Some(listWarehouse(spark, warehouseRoot(warehouse, sql),
          tables = false).toDF("Schema"))
      case ShowTables(from) =>
        val root = warehouseRoot(warehouse, sql)
        val base = Option(from).map(sc => s"$root/${unquote(sc)}")
          .getOrElse(root)
        if (from != null) { // unknown schema fails loudly, as in Trino
          val p = new org.apache.hadoop.fs.Path(base)
          require(p.getFileSystem(spark.sessionState.newHadoopConf())
            .isDirectory(p), s"schema not found: ${unquote(from)}")
          // a table or view named where a schema is expected is the
          // most likely typo — reject it rather than listing the
          // relation's internal files as an empty schema
          require(!GraftTable.exists(spark, base) &&
            viewText(spark, base).isEmpty,
            s"${unquote(from)} is a table or view, not a schema")
        }
        Some(listWarehouse(spark, base, tables = true).toDF("Table"))
      case AlterExec(t, op, args, where) =>
        alterExec(notView(resolve(unquote(t)), t), op, Option(args),
          Option(where), clock)
        None
      case AlterSetProps(t, props) =>
        notView(resolve(unquote(t)), t)
        props.trim match {
          // Trino's Iceberg partition-evolution spelling:
          // ALTER TABLE t SET PROPERTIES partitioning = ARRAY['day(ts)']
          case PartitioningProp(items) =>
            resolve(unquote(t)).updatePartitionSpec(
              parsePartitioningArray(items))
          // Trino's write sort order: sorted_by = ARRAY['a', 'b DESC']
          case SortedByProp(items) =>
            val tbl = resolve(unquote(t))
            tbl.setProperties(Map("sorted_by" ->
              parseSortedBy(tbl.schema.fieldNames.toSeq, items)))
          case _ => resolve(unquote(t)).setProperties(parseProps(props))
        }
        None
      case AnalyzeStmt(t, cols) =>
        notView(resolve(unquote(t)), t)
          .analyze(Option(cols).map(parseStringArray), clock)
        None
      case ShowStats(t) => Some(resolve(unquote(t)).stats)
      case DescribeStmt(t) => // Trino DESCRIBE works on views too:
        // a view's columns are its analyzed body's schema
        val target = resolve(unquote(t))
        Some(viewText(spark, target.location) match {
          case Some(body) =>
            describeSchema(spark, selectBody(spark, resolve, clock, body).schema)
          case None => describe(spark, target)
        })
      case ShowCreate(t) =>
        Some(showCreate(spark, resolve(unquote(t)), unquote(t)))
      case ShowCreateView(t) => // Trino: SHOW CREATE VIEW v
        val target = resolve(unquote(t))
        val body = viewText(spark, target.location).getOrElse(
          throw new IllegalArgumentException(
            s"no graft view at ${target.location}"))
        import spark.implicits._
        Some(Seq(s"CREATE VIEW ${unquote(t)} AS $body")
          .toDF("Create View"))
      case UpdateStmt(t, sets, where) =>
        update(notView(resolve(unquote(t)), t), sets.trim, where.trim, clock)
        None
      case CreateStmt(ifNotExists, t, colDefs, withProps) =>
        val target = resolve(unquote(t))
        require(viewText(spark, target.location).isEmpty,
          s"cannot create table ${unquote(t)}: a VIEW exists there")
        create(spark, target, ifNotExists != null, colDefs,
          Option(withProps))
        None
      case DropStmt(ifExists, t) =>
        val table = resolve(unquote(t))
        require(viewText(spark, table.location).isEmpty,
          s"${unquote(t)} is a view — use DROP VIEW")
        if (GraftTable.exists(spark, table.location)) table.drop()
        else require(ifExists != null, s"no graft table at ${table.location}")
        None
      case CreateViewStmt(orReplace, t, body) =>
        val target = resolve(unquote(t))
        require(!GraftTable.exists(spark, target.location),
          s"cannot create view ${unquote(t)}: a graft TABLE exists at " +
            target.location)
        require(orReplace != null ||
          viewText(spark, target.location).isEmpty,
          s"view exists: ${unquote(t)} (use CREATE OR REPLACE VIEW)")
        // Trino validates the view body at creation: resolve + analyze
        // it NOW against the current tables, store only if it's sound
        selectBody(spark, resolve, clock, body.trim)
        writeViewText(spark, target.location, body.trim)
        None
      case DropViewStmt(ifExists, t) =>
        val target = resolve(unquote(t))
        if (viewText(spark, target.location).isDefined) {
          val p = new org.apache.hadoop.fs.Path(target.location)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        } else require(ifExists != null,
          s"no graft view at ${target.location}")
        None
      case CreateOrReplaceAs(t, withProps, body) =>
        val target = resolve(unquote(t))
        require(viewText(spark, target.location).isEmpty,
          s"cannot create table ${unquote(t)}: a VIEW exists there")
        val df = selectBody(spark, resolve, clock, body)
        if (GraftTable.exists(spark, target.location)) {
          // CORTAS is a definition swap (Trino): `partitioning` AND
          // `sorted_by` refer to the NEW schema, so both are validated
          // and applied inside the atomic replace — never against the
          // pre-replace table. Absent clauses reset (the new definition
          // simply has none). Plain props apply only AFTER the replace
          // succeeds, so a failed statement mutates nothing.
          val (spec, sortedItems, rest) = splitSpecProps(Option(withProps))
          val sortProp = sortedItems.map(items =>
            parseSortedBy(df.schema.fieldNames.toSeq, items))
          target.replace(df, clock,
            newSpec = Some(spec.getOrElse(Seq.empty)),
            newSortedBy = Some(sortProp))
          applyWithProps(target, rest)
        } else {
          val created = GraftTable.create(spark, target.location, df.schema)
          applyWithProps(created, Option(withProps))
          created.append(df, clock)
        }
        None
      case CreateAsSelect(ifNotExists, t, withProps, body) =>
        val target = resolve(unquote(t))
        require(viewText(spark, target.location).isEmpty,
          s"cannot create table ${unquote(t)}: a VIEW exists there")
        if (GraftTable.exists(spark, target.location))
          require(ifNotExists != null, s"graft table exists: ${target.location}")
        else {
          // one distributed pass source → target; the WITH clause applies
          // BEFORE the append, so partitioning/sorted_by cluster the copy
          val df = selectBody(spark, resolve, clock, body)
          val created = GraftTable.create(spark, target.location, df.schema)
          applyWithProps(created, Option(withProps))
          created.append(df, clock)
        }
        None
      case InsertSelect(t, colList, body) =>
        val target = notView(resolve(unquote(t)), t)
        val df = selectBody(spark, resolve, clock, body)
        // the full row goes by name through the table's write rule; a
        // column list maps the SELECT's columns to the listed target
        // columns BY POSITION (Trino's rule), each cast to its column's
        // type, and the write rule fills the unlisted ones with NULL
        Option(colList) match {
          case None => target.append(df, clock)
          case Some(cl) =>
            val names = cl.split(",").map(c => unquote(c.trim)).toSeq
            require(names.size == df.schema.size, "INSERT arity mismatch: " +
              s"${names.size} columns, ${df.schema.size} select outputs")
            val schema = target.schema
            target.append(df.select(names.zip(df.columns).map { case (n, src) =>
              tableField(spark, schema, n).fold(col(src))(f => col(src).cast(f.dataType)).as(n)
            }: _*), clock)
        }
        None
      case InsertStmt(t, cols, values) =>
        insert(spark, notView(resolve(unquote(t)), t), Option(cols), values,
          clock); None
      case DeleteStmt(t, where) =>
        delete(spark, resolve, notView(resolve(unquote(t)), t), Option(where),
          clock); None
      case TruncateStmt(t) => // Trino TRUNCATE: remove every row, keep history
        notView(resolve(unquote(t)), t).deleteWhere(lit(true), clock); None
      case MergeStmtSub(t, tAlias, body, sAlias, on, whenTail) =>
        // derived-table source (Trino: USING (query) AS alias ON ...):
        // the body runs through the same resolver as any SELECT
        merge(spark, notView(resolve(unquote(t)), t),
          selectBody(spark, resolve, clock, body),
          Option(tAlias).getOrElse(unquote(t)), sAlias,
          on, whenTail, clock)
        None
      case MergeStmt(t, tAlias, s, sAlias, on, whenTail) =>
        merge(spark, notView(resolve(unquote(t)), t), resolve(unquote(s)).read,
          Option(tAlias).getOrElse(unquote(t)),
          Option(sAlias).getOrElse(unquote(s)),
          on, whenTail, clock)
        None
      case AlterAddCol(t, c, tpe) =>
        notView(resolve(unquote(t)), t)
          .addColumn(unquote(c), parseType(tpe.trim)); None
      case AlterRenameCol(t, from, to) =>
        notView(resolve(unquote(t)), t)
          .renameColumn(unquote(from), unquote(to)); None
      case AlterDropCol(t, c) =>
        notView(resolve(unquote(t)), t).dropColumn(unquote(c)); None
      case AlterColType(t, c, tpe) =>
        notView(resolve(unquote(t)), t)
          .updateColumnType(unquote(c), parseType(tpe.trim)); None
      case SelectVersion(t, ver) =>
        Some(resolve(unquote(t)).readAsOf(ver.toLong))
      case SelectVersionRef(t, ref) => // Trino: branch/tag name version
        val tbl = resolve(unquote(t))
        Some(if (tbl.branches.contains(ref)) tbl.readBranch(ref)
          else tbl.readTag(ref))
      case SelectTimestamp(t, ts) =>
        Some(resolve(unquote(t))
          .readAsOfTime(Timestamp.valueOf(ts).getTime))
      case SelectAll(t) => Some(select(spark, resolve, clock, unquote(t)))
      case TableChangesFn(t, from, to) =>
        Some(resolve(unquote(stripQuotes(t)))
          .readChanges(from.toLong, to.toLong))
      case CallRollback(t, id) =>
        resolve(unquote(stripQuotes(t))).rollback(id.toLong); None
      // general SELECT (projection / filter / join / aggregate / CTE):
      // after every specific SELECT form above, delegate to Spark SQL
      // over resolved graft scans — same path as CTAS/INSERT...SELECT
      // bodies. `WITH name AS (...) SELECT ...` rides the same path;
      // CTE names shadow graft tables, as in Trino.
      case body if body.toUpperCase.startsWith("SELECT ") ||
        body.toUpperCase.startsWith("WITH ") =>
        Some(selectBody(spark, resolve, clock, body))
      // Trino: EXPLAIN <query> — one row per line of the formatted
      // physical plan (the engine's plan, since that is what executes)
      case ExplainStmt(body) =>
        import spark.implicits._
        Some(selectBody(spark, resolve, clock, body.trim)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          .split("\n").toSeq.toDF("plan"))
      case other => throw new IllegalArgumentException(
        s"unsupported SQL (GraftSql handles the reference's statement " +
          s"dialect only): $other")
    }
  }

  // ---- statement grammar (whitespace-normalized input) -------------------

  private val Ident = """((?:"[^"]+")|(?:[\w.$]+))"""
  // optional WHERE: Trino's partition-scoped optimize
  // (ALTER TABLE t EXECUTE optimize WHERE days_ts = 123)
  private val AlterExec =
    s"""(?is)^ALTER TABLE $Ident EXECUTE (\\w+)(?: ?\\( ?(.*?) ?\\))?(?: WHERE (.+))?$$""".r
  // Trino: ALTER TABLE t SET PROPERTIES k = 'v'[, k2 = 'v2']
  private val AlterSetProps =
    s"""(?is)^ALTER TABLE $Ident SET PROPERTIES (.+)$$""".r
  private val AnalyzeStmt =
    s"""(?i)^ANALYZE $Ident(?: WITH ?\\( ?columns ?= ?ARRAY\\[(.*?)\\] ?\\))?$$""".r
  private val ShowStats = s"""(?i)^SHOW STATS FOR $Ident$$""".r
  // Trino's everyday catalog listings; FROM names a warehouse subdirectory
  private val ShowTables = s"""(?i)^SHOW TABLES(?: FROM $Ident)?$$""".r
  private val ShowSchemas = """(?i)^SHOW SCHEMAS$""".r
  private val DescribeStmt =
    s"""(?i)^(?:DESCRIBE|DESC|SHOW COLUMNS FROM) $Ident$$""".r
  private val ShowCreate = s"""(?i)^SHOW CREATE TABLE $Ident$$""".r
  private val ShowCreateView = s"""(?i)^SHOW CREATE VIEW $Ident$$""".r
  // (?s): SET/WHERE/VALUES literals may legitimately contain newlines
  // (normalize preserves whitespace inside quotes)
  private val UpdateStmt =
    s"""(?is)^UPDATE $Ident SET (.+?) WHERE (.+)$$""".r
  private val CreateStmt =
    s"""(?is)^CREATE TABLE (IF NOT EXISTS )?$Ident ?\\((.+?)\\)(?: WITH ?\\((.+)\\))?$$""".r
  private val DropStmt = s"""(?i)^DROP TABLE (IF EXISTS )?$Ident$$""".r
  // Trino Iceberg supports named views (CREATE VIEW v AS <query>); the
  // view is SQL text stored in the warehouse, re-resolved at each read
  private val CreateViewStmt =
    s"""(?is)^CREATE (OR REPLACE )?VIEW $Ident AS (.+)$$""".r
  private val DropViewStmt = s"""(?i)^DROP VIEW (IF EXISTS )?$Ident$$""".r
  // Trino: CREATE OR REPLACE TABLE t [WITH (...)] AS <query> — swap
  // schema + content atomically, snapshot history kept (Iceberg
  // connector semantics; `replace` commit)
  private val CreateOrReplaceAs =
    s"""(?is)^CREATE OR REPLACE TABLE $Ident(?: WITH ?\\((.+?)\\))? AS ((?:SELECT|WITH) .+)$$""".r
  // Trino CTAS (graft-to-graft): CREATE TABLE t [WITH (...)] AS <select>
  // — the body is any SELECT whose FROM/JOIN tables are graft tables
  private val CreateAsSelect =
    s"""(?is)^CREATE TABLE (IF NOT EXISTS )?$Ident(?: WITH ?\\((.+?)\\))? AS ((?:SELECT|WITH) .+)$$""".r
  private val InsertSelect =
    s"""(?is)^INSERT INTO $Ident(?: ?\\(([^)]*)\\))? ((?:SELECT|WITH) .+)$$""".r
  private val InsertStmt =
    s"""(?is)^INSERT INTO $Ident(?: ?\\(([^)]*)\\))? VALUES (.+)$$""".r
  private val DeleteStmt = s"""(?is)^DELETE FROM $Ident(?: WHERE (.+))?$$""".r
  // Trino Iceberg MERGE: ON conjunction of same-named key equalities,
  // then any ordered mix of WHEN [NOT] MATCHED clauses (see merge())
  private val MergeStmt =
    (s"""(?is)^MERGE INTO $Ident(?: AS (\\w+))? USING $Ident(?: AS (\\w+))?""" +
      """ ON (.+?)( WHEN .+)$""").r
  // Trino also takes a derived-table source: USING (query) AS alias —
  // the alias is mandatory there, as in Trino
  private val MergeStmtSub =
    (s"""(?is)^MERGE INTO $Ident(?: AS (\\w+))? USING """ +
      """\(((?:SELECT|WITH) .+)\) (?:AS )?(\w+) ON (.+?)( WHEN .+)$""").r
  private val MatchedUpdate =
    """(?is)^MATCHED(?: AND (.+?))? THEN UPDATE SET (.+)$""".r
  private val MatchedDelete =
    """(?is)^MATCHED(?: AND (.+?))? THEN DELETE$""".r
  private val NotMatchedInsert =
    ("""(?is)^NOT MATCHED(?: AND (.+?))? THEN INSERT""" +
      """(?: ?\(([^)]*)\))? VALUES ?\((.+)\)$""").r
  // Trino schema evolution DDL → the field-id evolution API
  private val AlterAddCol =
    s"""(?i)^ALTER TABLE $Ident ADD COLUMN $Ident (.+)$$""".r
  private val AlterRenameCol =
    s"""(?i)^ALTER TABLE $Ident RENAME COLUMN $Ident TO $Ident$$""".r
  private val AlterDropCol =
    s"""(?i)^ALTER TABLE $Ident DROP COLUMN $Ident$$""".r
  // Trino: ALTER TABLE t ALTER COLUMN c SET DATA TYPE bigint — Iceberg
  // type widening (int→bigint, float→double); data files keep the
  // narrow encoding, reads up-cast through the field id
  private val AlterColType =
    s"""(?i)^ALTER TABLE $Ident ALTER COLUMN $Ident SET DATA TYPE (.+)$$""".r
  private val ExplainStmt = """(?is)^EXPLAIN ((?:SELECT|WITH) .+)$""".r
  private val TruncateStmt = s"""(?i)^TRUNCATE TABLE $Ident$$""".r
  // Trino/Iceberg time travel: SELECT * FROM t FOR VERSION AS OF 3 /
  // FOR TIMESTAMP AS OF TIMESTAMP '...'
  private val SelectVersion =
    s"""(?i)^SELECT \\* FROM $Ident FOR VERSION AS OF (\\d+)$$""".r
  // Trino also takes a branch or tag NAME as the version
  private val SelectVersionRef =
    s"""(?i)^SELECT \\* FROM $Ident FOR VERSION AS OF '([^']+)'$$""".r
  private val SelectTimestamp =
    s"""(?i)^SELECT \\* FROM $Ident FOR TIMESTAMP AS OF TIMESTAMP '([^']+)'$$""".r
  private val SelectAll = s"""(?i)^SELECT \\* FROM $Ident$$""".r
  // Trino Iceberg's rollback procedure: CALL system.rollback_to_snapshot
  // ('t', 3). The reference's connector spells the table as
  // ('schema', 'table', id) — the resolver owns that mapping here, so
  // the table is one name argument.
  private val CallRollback =
    """(?i)^CALL system\.rollback_to_snapshot ?\( ?('[^']+') ?, ?(\d+) ?\)$""".r
  // Trino Iceberg's change feed table function: SELECT * FROM TABLE(
  // system.table_changes('t', from_snapshot, to_snapshot)) — same
  // one-name-argument convention as rollback_to_snapshot.
  private val TableChangesFn =
    """(?i)^SELECT \* FROM TABLE ?\( ?system\.table_changes ?\( ?('[^']+') ?, ?(\d+) ?, ?(\d+) ?\) ?\)$""".r

  /** Collapse whitespace runs OUTSIDE string literals only — `'x  y'`
    * and literals containing tabs/newlines pass through byte-exact
    * (a global replaceAll would silently rewrite quoted data). */
  private def normalize(sql: String): String = {
    val sb = new StringBuilder(sql.length)
    var inQuote = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQuote) {
        sb += c
        if (c == '\'') inQuote = false // '' escape = close+reopen, both copied
      } else if (c == '\'') { inQuote = true; sb += c }
      else if (c.isWhitespace) {
        while (i + 1 < sql.length && sql.charAt(i + 1).isWhitespace) i += 1
        sb += ' '
      } else sb += c
      i += 1
    }
    sb.result().trim.stripSuffix(";").trim
  }

  private def unquote(id: String): String =
    if (id.startsWith("\"") && id.endsWith("\"")) id.substring(1, id.length - 1)
    else id

  // ---- maintenance ops ----------------------------------------------------

  private def alterExec(t: GraftTable, op: String, args: Option[String],
                        where: Option[String], clock: Clock): Unit = {
    val kv = parseArgs(args)
    require(where.isEmpty || op.equalsIgnoreCase("optimize"),
      s"WHERE is only supported for optimize (got $op)")
    op.toLowerCase match {
      case "optimize" =>
        // 0: the table's target, read within the optimize op
        val target = kv.get("file_size_threshold").map(parseDataSize).getOrElse(0L)
        where match {
          case None => t.optimize(targetFileBytes = target, clock = clock)
          case Some(w) => // partition-scoped rewrite, metadata-pruned
            t.optimizePartitions(parsePartitionPreds(t, w, clock), target, clock)
        }
      case "expire_snapshots" =>
        t.expireSnapshots(parseDays(arg(kv, "retention_threshold", op)), clock)
      case "remove_orphan_files" =>
        t.removeOrphanFiles(parseDays(arg(kv, "retention_threshold", op)), clock)
      case "drop_extended_stats" => // Trino Iceberg's stats reset
        t.dropExtendedStats()
      case "optimize_manifests" => // Trino Iceberg's manifest rewrite
        t.rewriteManifests(clock)
      case "add_files" => // Trino Iceberg's in-place parquet adoption
        val fmt = kv.getOrElse("format", "PARQUET")
        require(fmt.equalsIgnoreCase("PARQUET"),
          s"add_files supports format => 'PARQUET' only, got $fmt")
        t.addFiles(arg(kv, "location", op), clock)
      case other => throw new IllegalArgumentException(
        s"unsupported table procedure: $other " +
          "(optimize | expire_snapshots | remove_orphan_files | " +
          "drop_extended_stats | optimize_manifests | add_files)")
    }
  }

  /** `days_ts = 123 AND trunc4_name = 'alph'` — the optimize WHERE
    * partition predicate: equality conjunctions over partition-FIELD
    * names (transform outputs), the literal typed against each
    * transform's output type. Anything richer fails loudly — scoping is
    * exact bounds cover on point values ([[GraftTable.partitionScope]]). */
  private def parsePartitionPreds(t: GraftTable, w: String,
                                  clock: Clock): Seq[(String, Column)] = {
    val fields = StructType(t.partitionSpec.map(f =>
      StructField(f.name, f.outputType(t.schema(f.column).dataType))))
    conjuncts(SqlFrontEnd.tableExpression(t.spark, w, clock, fields)).map {
      case EqualTo(UnresolvedAttribute(Seq(name)),
                   v @ (_: Literal | Cast(_: Literal, _, _, _))) =>
        require(fields.fieldNames.contains(name),
          s"optimize WHERE takes partition field names (got $name; " +
            s"fields: ${fields.fieldNames.mkString(", ")})")
        name -> CatalystShims.column(v)
      case other => throw new IllegalArgumentException(
        "optimize WHERE supports only partition_field = literal " +
          s"conjunctions, got: ${other.sql}")
    }
  }

  /** `k = 'v', k2 = 'v2'` (Trino SET PROPERTIES; DEFAULT removes). */
  private def parseProps(props: String): Map[String, String] =
    splitTop(props, ',').map { p =>
      p.split("=", 2) match {
        case Array(k, v) if v.trim.equalsIgnoreCase("DEFAULT") =>
          unquote(k.trim) -> null
        case Array(k, v) => unquote(k.trim) -> stripQuotes(v.trim)
        case _ => throw new IllegalArgumentException(
          s"expected name = 'value' in SET PROPERTIES, got: $p")
      }
    }.toMap

  /** The `partitioning` property value: `ARRAY['day(ts)', 'c']`. */
  private val PartitioningProp =
    """(?is)^partitioning ?= ?ARRAY ?\[(.*)\]$""".r

  /** The `sorted_by` property value: `ARRAY['a', 'b DESC']`. */
  private val SortedByProp =
    """(?is)^sorted_by ?= ?ARRAY ?\[(.*)\]$""".r

  /** Validate a `sorted_by` ARRAY body against the given schema columns
    * and canonicalize it to the stored property form (`a, b DESC`) —
    * callers pass the CURRENT schema (ALTER/CREATE) or the REPLACING
    * query's schema (CORTAS). */
  private def parseSortedBy(fieldNames: Seq[String], items: String): String = {
    val entries = "'([^']*)'".r.findAllMatchIn(items)
      .map(_.group(1).trim).filter(_.nonEmpty).toSeq
    require(entries.nonEmpty, "sorted_by requires at least one column")
    entries.map { e =>
      val parts = e.split("\\s+").toSeq
      val name = unquote(parts.head)
      require(fieldNames.contains(name),
        s"sorted_by: no such column $name")
      parts.map(_.toUpperCase).drop(1) match {
        case Seq() | Seq("ASC") => name
        case Seq("DESC") => s"$name DESC"
        case _ => throw new IllegalArgumentException(
          s"bad sorted_by entry: $e (expected 'col' or 'col DESC')")
      }
    }.mkString(", ")
  }

  /** One Trino partition-transform string — `c` (identity), `day(c)`,
    * `bucket(c, n)`, `truncate(c, w)` (Trino's column-first argument
    * order). Unknown transforms fail loudly. */
  private[sql] def parsePartitionField(s: String): graft.meta.PartitionField = {
    val Call = """(?i)^(\w+) ?\( ?([^,()]+?) ?(?:, ?(\d+) ?)?\)$""".r
    import graft.meta.PartitionSpec
    s.trim match {
      case Call(fn, c, num) =>
        val column = unquote(c.trim)
        (fn.toLowerCase, Option(num).map(_.toInt)) match {
          case ("day" | "days", None) => PartitionSpec.days(column)
          case ("month" | "months", None) => PartitionSpec.months(column)
          case ("year" | "years", None) => PartitionSpec.years(column)
          case ("hour" | "hours", None) => PartitionSpec.hours(column)
          case ("identity", None) => PartitionSpec.identity(column)
          case ("bucket", Some(n)) => PartitionSpec.bucket(n, column)
          case ("truncate", Some(w)) => PartitionSpec.truncate(w, column)
          case _ => throw new IllegalArgumentException(
            s"unsupported partition transform: $s (supported: column, " +
              "year(column), month(column), day(column), hour(column), " +
              "bucket(column, n), truncate(column, w))")
        }
      case bare if bare.nonEmpty && !bare.contains("(") =>
        PartitionSpec.identity(unquote(bare))
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform: $other")
    }
  }

  private def arg(kv: Map[String, String], name: String, op: String): String =
    kv.getOrElse(name,
      throw new IllegalArgumentException(s"$op requires $name => '...'"))

  /** `name => 'value', name => 'value'` — Trino's named-argument call. */
  private def parseArgs(args: Option[String]): Map[String, String] =
    args.filter(_.nonEmpty).toSeq.flatMap(splitTop(_, ',')).map { a =>
      a.split("=>") match {
        case Array(k, v) => k.trim.toLowerCase -> stripQuotes(v.trim)
        case _ => throw new IllegalArgumentException(
          s"expected name => 'value', got: $a")
      }
    }.toMap

  /** `'7d'` → 7 (our retention is day-granular, like the reference's
    * `retention_days_*` config columns it is always built from). */
  private def parseDays(v: String): Int = v.trim match {
    case s if s.matches("""\d+ ?d""") => s.stripSuffix("d").trim.toInt
    case other => throw new IllegalArgumentException(
      s"expected a day-granular duration like '7d', got '$other'")
  }

  /** Trino DataSize literal, binary multipliers: '128MB', '8kB', '1GB'. */
  private def parseDataSize(v: String): Long = {
    val m = """(\d+(?:\.\d+)?) ?(B|kB|KB|MB|GB|TB)""".r
    v.trim match {
      case m(n, unit) =>
        val mult = unit match {
          case "B" => 1L
          case "kB" | "KB" => 1L << 10
          case "MB" => 1L << 20
          case "GB" => 1L << 30
          case "TB" => 1L << 40
        }
        (BigDecimal(n) * mult).toLong
      case other =>
        throw new IllegalArgumentException(s"bad data size literal '$other'")
    }
  }

  private def parseStringArray(inner: String): Seq[String] =
    if (inner.trim.isEmpty) Seq.empty
    else splitTop(inner, ',').map(v => stripQuotes(v.trim))

  // ---- UPDATE (row-level, copy-on-write) ----------------------------------

  /** `UPDATE t SET c = <expr>[, c2 = <expr>] WHERE <predicate>` — the
    * reference's stamp statements (__main__.py:172-176,194-198) plus
    * Trino's general row-level UPDATE. Each rhs and the WHERE clause are
    * Spark expressions over the table's columns ([[SqlFrontEnd]]), so
    * `current_timestamp(6)` is the injected clock's instant and any
    * function, arithmetic or CASE works, as in Trino; each rhs is cast
    * to its column's type. Routes to [[GraftTable.updateWhere]]:
    * affected-file CoW, SETs evaluated against the OLD row, nothing
    * collected to the driver — the same plan at 15 config rows and at
    * 100 TB. */
  private def update(t: GraftTable, setsRaw: String, whereRaw: String,
                     clock: Clock): Unit =
    t.writeOp {
      val schema = t.schema
      val assignments = splitTop(setsRaw, ',').map { a =>
        val sides = a.split("=", 2)
        require(sides.length == 2, s"bad SET assignment: $a")
        val name = unquote(sides(0).trim)
        require(schema.fieldNames.contains(name), s"no such column $name")
        name -> sides(1).trim
      }
      val (cond, sets) =
        SqlFrontEnd.overTable(t.spark, schema, clock, whereRaw, assignments)
      t.updateWhere(cond, sets.toMap, clock)
    }

  // ---- CREATE / INSERT -----------------------------------------------------

  private def create(spark: SparkSession, t: GraftTable,
                     ifNotExists: Boolean, colDefs: String,
                     withProps: Option[String] = None): Unit = {
    if (GraftTable.exists(spark, t.location)) {
      require(ifNotExists, s"graft table exists: ${t.location}")
      return
    }
    val fields = splitTop(colDefs, ',').map { d =>
      val trimmed = d.trim
      val notNull = trimmed.toUpperCase.endsWith(" NOT NULL")
      val core = if (notNull) trimmed.dropRight(9).trim else trimmed
      val sp = core.indexOf(' ')
      require(sp > 0, s"bad column definition: $d")
      StructField(unquote(core.substring(0, sp)),
        parseType(core.substring(sp + 1).trim), nullable = !notNull)
    }
    val created = GraftTable.create(spark, t.location, StructType(fields))
    applyWithProps(created, withProps)
  }

  /** Parse a `partitioning = ARRAY[...]` body into partition fields —
    * the one shared implementation for ALTER SET PROPERTIES, the WITH
    * clause, and CORTAS. */
  private def parsePartitioningArray(items: String)
      : Seq[graft.meta.PartitionField] =
    "'([^']*)'".r.findAllMatchIn(items)
      .map(m => parsePartitionField(m.group(1))).toSeq

  /** Split a WITH(...) property list into its parsed `partitioning`
    * spec, the raw `sorted_by` ARRAY body, and the remaining property
    * text — CORTAS validates BOTH spec props against the NEW schema and
    * applies them atomically inside [[GraftTable.replace]] instead of
    * mutating the pre-replace table. */
  private def splitSpecProps(withProps: Option[String])
      : (Option[Seq[graft.meta.PartitionField]], Option[String], Option[String]) =
    withProps.map(_.trim).filter(_.nonEmpty) match {
      case None => (None, None, None)
      case Some(raw) =>
        var spec: Option[Seq[graft.meta.PartitionField]] = None
        var sorted: Option[String] = None
        val rest = splitTop(raw, ',').map(_.trim).filter {
          case PartitioningProp(items) =>
            spec = Some(parsePartitioningArray(items)); false
          case SortedByProp(items) =>
            sorted = Some(items); false
          case _ => true
        }
        (spec, sorted, Some(rest.mkString(", ")).filter(_.nonEmpty))
    }

  /** Trino's WITH clause: `partitioning` becomes the partition spec,
    * `sorted_by` the write sort order, everything else a table property
    * — SHOW CREATE TABLE output round-trips through here. */
  private def applyWithProps(created: GraftTable,
                             withProps: Option[String]): Unit =
    withProps.map(_.trim).filter(_.nonEmpty).foreach { raw =>
      val plain = scala.collection.mutable.ArrayBuffer.empty[String]
      splitTop(raw, ',').foreach(_.trim match {
        case PartitioningProp(items) =>
          created.updatePartitionSpec(parsePartitioningArray(items))
        case SortedByProp(items) =>
          created.setProperties(Map("sorted_by" ->
            parseSortedBy(created.schema.fieldNames.toSeq, items)))
        case p => plain += p
      })
      if (plain.nonEmpty)
        created.setProperties(parseProps(plain.mkString(",")))
    }

  /** The reference DDL's types (__main__.py:43-54) plus the obvious kin. */
  /** Spark type → Trino type name (the inverse of [[parseType]]). */
  private[sql] def typeName(dt: DataType): String = dt match {
    case StringType => "VARCHAR"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case BinaryType => "VARBINARY"
    case TimestampType | TimestampNTZType => "TIMESTAMP(6)"
    case ArrayType(e, _) => s"ARRAY(${typeName(e)})"
    case other => other.sql
  }

  /** `DESCRIBE t` / `SHOW COLUMNS FROM t` (Trino's column listing). */
  private def describe(spark: SparkSession, t: GraftTable): DataFrame =
    describeSchema(spark, t.schema)

  private def describeSchema(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    schema.fields.toSeq
      .map(f => (f.name, typeName(f.dataType),
        if (f.nullable) "" else "NOT NULL"))
      .toDF("column", "type", "extra")
  }

  /** `SHOW CREATE TABLE t`: reconstructed DDL — columns in Trino types,
    * the partition spec as the `partitioning` property (Trino's
    * column-first transform strings), and table properties. */
  private def showCreate(spark: SparkSession, t: GraftTable,
                         name: String): DataFrame = {
    import spark.implicits._
    val cols = t.schema.fields.map(f =>
      s"   ${f.name} ${typeName(f.dataType)}" +
        (if (f.nullable) "" else " NOT NULL"))
    val partitioning = t.partitionSpec match {
      case Seq() => None
      case spec => Some("partitioning = ARRAY[" + spec.map { f =>
        f.transform match {
          case "identity" => s"'${f.column}'"
          case "days" => s"'day(${f.column})'"
          case "months" => s"'month(${f.column})'"
          case "years" => s"'year(${f.column})'"
          case "hours" => s"'hour(${f.column})'"
          case "bucket" => s"'bucket(${f.column}, ${f.param})'"
          case "truncate" => s"'truncate(${f.column}, ${f.param})'"
        }
      }.mkString(", ") + "]")
    }
    val sortedBy = t.properties.get("sorted_by").map(v =>
      "sorted_by = ARRAY[" + v.split(",").map(_.trim)
        .map(e => s"'$e'").mkString(", ") + "]")
    val props = (t.properties - "sorted_by").toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k = '$v'" }
    val withClause = (partitioning.toSeq ++ sortedBy.toSeq ++ props) match {
      case Seq() => ""
      case entries => entries.mkString("\nWITH (\n   ", ",\n   ", "\n)")
    }
    Seq(s"CREATE TABLE $name (\n${cols.mkString(",\n")}\n)$withClause")
      .toDF("create_table")
  }

  private def parseType(t: String): DataType = {
    val up = t.toUpperCase
    up match {
      case "VARCHAR" | "STRING" => StringType
      case v if v.startsWith("VARCHAR(") => StringType
      case "INTEGER" | "INT" => IntegerType
      case "BIGINT" => LongType
      case "SMALLINT" => ShortType
      case "DOUBLE" => DoubleType
      case "REAL" | "FLOAT" => FloatType
      case "BOOLEAN" => BooleanType
      case "DATE" => DateType
      case "VARBINARY" | "BINARY" => BinaryType
      case v if v.startsWith("TIMESTAMP") => TimestampType
      case v if v.startsWith("ARRAY(") && v.endsWith(")") =>
        ArrayType(parseType(t.substring(6, t.length - 1).trim))
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
  }

  /** `INSERT INTO t [(cols)] VALUES ...`: each literal is typed as its
    * listed column (Trino's literal coercion). A listed name the table
    * lacks stays an untyped NULL column, and the table's write rule
    * refuses it; unlisted columns fill NULL there too. */
  private def insert(spark: SparkSession, t: GraftTable, cols: Option[String],
                     values: String, clock: Clock): Unit = {
    val schema = t.schema
    val fields = cols.map(_.split(",").map(c => unquote(c.trim)).toSeq)
      .getOrElse(schema.fieldNames.toSeq)
      .map(n => StructField(n, tableField(spark, schema, n).fold[DataType](NullType)(_.dataType)))
    val rows = parseTuples(values).map { tuple =>
      require(tuple.size == fields.size,
        s"INSERT arity mismatch: ${fields.size} columns, ${tuple.size} values")
      Row(fields.zip(tuple).map { case (f, v) =>
        if (f.dataType == NullType) null else coerce(parseLiteral(v.trim), f.dataType)
      }: _*)
    }
    t.append(spark.createDataFrame(rows.asJava, StructType(fields)), clock)
  }

  /** The column of `schema` an INSERT's column name resolves to. */
  private def tableField(spark: SparkSession, schema: StructType,
                         name: String): Option[StructField] =
    schema.find(f => spark.sessionState.conf.resolver(f.name, name))

  /** `('a', 1), (NULL, ARRAY['x'])` → per-tuple raw literal texts. */
  private def parseTuples(values: String): Seq[Seq[String]] =
    splitTop(values, ',').map { tup =>
      val tr = tup.trim
      require(tr.startsWith("(") && tr.endsWith(")"), s"bad VALUES tuple: $tup")
      splitTop(tr.substring(1, tr.length - 1), ',').map(_.trim)
    }

  // ---- DELETE -------------------------------------------------------------

  /** `DELETE FROM t [WHERE <predicate>]` — Trino's row-level DELETE on
    * an Iceberg v2 table, whose default delete mode is merge-on-read:
    * a predicate delete writes position-delete files
    * ([[GraftTable.deleteWhereMOR]]) instead of rewriting data. A bare
    * `DELETE FROM t` (truncate shape) takes the copy-on-write path — one
    * metadata commit replacing the file list beats writing a delete
    * entry per row. The WHERE clause is any Spark predicate over the
    * table's columns ([[SqlFrontEnd.overTable]]) — OR/NOT/BETWEEN/LIKE/
    * functions all work; unknown columns fail loudly at once, even on a
    * table with no files. */
  // DELETE ... WHERE col [NOT] IN (SELECT ...) — the subquery is any
  // dispatcher SELECT body (graft tables, CTEs, derived tables)
  private val DeleteInSubquery =
    """(?is)^((?:"[^"]+")|[\w.$]+) (NOT )?IN \(((?:SELECT|WITH) .+)\)$""".r

  private def delete(spark: SparkSession, resolve: String => GraftTable,
                     t: GraftTable, where: Option[String], clock: Clock): Unit =
    where match {
      case Some(DeleteInSubquery(c, not, body)) =>
        val k = unquote(c)
        require(t.schema.fieldNames.contains(k), s"no such column $k")
        val sub = selectBody(spark, resolve, clock, body.trim)
        require(sub.columns.length == 1,
          s"IN subquery must return exactly one column, got ${sub.columns.length}")
        // The comparison happens in the analyzer-chosen COMMON type of
        // the two sides (a join equality), exactly like SQL IN — never
        // by casting subquery values to the column type, which would
        // truncate (2.7 → 2) or null out incomparable values and
        // delete the wrong rows. The matched values come back as the
        // column's own values, so the eq-delete commit is exact.
        // Persisted: the subquery plan feeds a null probe plus a join
        // plus the eq-delete key write — one evaluation, not three.
        val keyVals = sub.toDF("__in_v").distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val tableKeys = t.read.select(col(k))
            .filter(col(k).isNotNull).distinct()
          if (not == null)
            // SQL IN: NULL subquery values match no row (equality is
            // never true against NULL); NULL target values match no key
            t.deleteByKeys(tableKeys
              .join(keyVals, col(k) === col("__in_v"), "left_semi"), clock)
          else {
            // SQL NOT IN, three cases: an EMPTY subquery makes the
            // predicate TRUE for every row (NULL keys included — NOT
            // of FALSE); any NULL in the subquery makes it UNKNOWN
            // everywhere (no-op); otherwise delete the table's
            // non-null key values with NO equal subquery value. One
            // probe aggregate + one anti join, never a table rewrite.
            val probe = keyVals
              .agg(count(lit(1)), count(col("__in_v"))).head()
            val (total, nonNull) = (probe.getLong(0), probe.getLong(1))
            if (total == 0L) t.deleteWhere(lit(true), clock)
            else if (total == nonNull) // null-free
              t.deleteByKeys(tableKeys
                .join(keyVals, col(k) === col("__in_v"), "left_anti"), clock)
          }
        } finally keyVals.unpersist()
      case Some(w) =>
        t.deleteWhereMOR(SqlFrontEnd.overTable(spark, t.schema, clock, w)._1,
          clock)
      case None => t.deleteWhere(lit(true), clock)
    }

  // ---- MERGE --------------------------------------------------------------

  /** `MERGE INTO t [AS a] USING s [AS b] ON a.k = b.k [AND ...]
    *  WHEN MATCHED [AND <cond>] THEN UPDATE SET c = <expr>, ... |
    *  WHEN MATCHED [AND <cond>] THEN DELETE |
    *  WHEN NOT MATCHED [AND <cond>] THEN INSERT [(cols)] VALUES (<exprs>)`
    * — Trino's Iceberg MERGE. The source is a graft table or a
    * derived table (`USING (query) AS alias`, resolved like any
    * SELECT body). The ON clause must be a conjunction of
    * same-named key equalities (that key set is what the eq-delete
    * commit needs); WHEN clauses apply first-match-wins, like Trino.
    *
    * The unconditioned full-row upsert shape (UPDATE sets every non-key
    * column from the source's same column, INSERT writes the full row)
    * routes straight to [[GraftTable.upsert]] — ONE atomic eq-delete +
    * append commit, O(source) on a 100 TB table. The general shape
    * evaluates each clause's rows with Spark SQL over the two scans
    * (conditions and SET/INSERT expressions are arbitrary Spark SQL over
    * both aliases), then commits ONCE: the DELETE clause's keys ride the
    * upsert commit as extra eq-deletes, so the whole statement is one
    * atomic snapshot (Trino MERGE is single-commit) — still
    * O(source ⋈ matched-files), never a full-table rewrite. A target
    * row matched by more than one source row fails loudly, as in Trino
    * (reference: `__main__.py`'s statements are single-statement-atomic
    * in Trino). */
  private def merge(spark: SparkSession, t: GraftTable, source: DataFrame,
                    tAlias: String, sAlias: String, on: String,
                    whenTail: String, clock: Clock): Unit = {
    val schema = t.schema
    val names = schema.fieldNames.toSeq
    def parsed(e: String): Expression = SqlFrontEnd.expression(spark, e, clock)
    def requireSide(q: Option[String], side: String, what: String): Unit =
      require(q.forall(_.equalsIgnoreCase(side)),
        s"$what must reference $side, got ${q.getOrElse("")}")
    def target(e: String): (Option[String], String) = parsed(e) match {
      case Ref(q, c) => (q, c)
      case _ => throw new IllegalArgumentException(s"bad SET target: $e")
    }

    // ON: conjunction of targetKey = sourceKey with equal column names
    val keys = conjuncts(parsed(on)).map { term =>
      val ((q1, c1), (q2, c2)) = term match {
        case EqualTo(Ref(l), Ref(r)) => (l, r)
        case _ => throw new IllegalArgumentException(
          s"unsupported ON term: ${term.sql} (t.key = s.key joined by AND)")
      }
      val (tq, tc, sq, sc) =
        if (q1.exists(_.equalsIgnoreCase(sAlias))) (q2, c2, q1, c1)
        else (q1, c1, q2, c2)
      requireSide(tq, tAlias, "the ON target side")
      requireSide(sq, sAlias, "the ON source side")
      require(tc == sc, s"ON must equate same-named columns, got $tc = $sc")
      require(names.contains(tc), s"unknown key column $tc")
      tc
    }

    val clauses = splitTopWhen(whenTail)
    require(clauses.nonEmpty, "MERGE requires at least one WHEN clause")

    // fast path: the unconditioned full-row upsert shape → one commit
    val fastPath = clauses match {
      case Seq(MatchedUpdate(null, set), NotMatchedInsert(null, insCols, insVals)) =>
        val setCols = splitTop(set, ',').map(_.split("=", 2) match {
          case Array(l, r) => (parsed(l), parsed(r)) match {
            case (Ref(tq, tc), Ref(sq, sc)) if tc == sc &&
                tq.forall(_.equalsIgnoreCase(tAlias)) &&
                sq.forall(_.equalsIgnoreCase(sAlias)) => Some(tc)
            case _ => None
          }
          case _ => None
        })
        val insNames = Option(insCols)
          .map(_.split(",").map(c => unquote(c.trim)).toSeq).getOrElse(names)
        val insRefs = splitTop(insVals, ',').map(v => parsed(v) match {
          case Ref(q, c) if q.forall(_.equalsIgnoreCase(sAlias)) => Some(c)
          case _ => None
        })
        setCols.forall(_.isDefined) &&
          setCols.flatten.toSet == names.filterNot(keys.contains).toSet &&
          insRefs == insNames.map(Some(_)) && insNames.toSet == names.toSet
      case _ => false
    }
    if (fastPath) t.upsert(source.select(names.map(col): _*), keys, clock)
    else runGeneralMerge()

    def runGeneralMerge(): Long = {
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val tv = s"graft_merge_t_$tag"
      val sv = s"graft_merge_s_$tag"
      t.read.createOrReplaceTempView(tv)
      source.createOrReplaceTempView(sv)
      try {
        val joinFrom = s"FROM $tv AS `$tAlias` JOIN $sv AS `$sAlias` ON $on"
        // Trino semantics: a matched row is handled by the FIRST matched
        // clause whose condition holds — later clauses exclude earlier
        // conditions
        var priorConds = Seq.empty[String]
        def eff(cond: Option[String]): String = {
          val own = cond.getOrElse("TRUE")
          (s"($own)" +: priorConds.map(p => s"(NOT ($p))")).mkString(" AND ")
        }
        def castAs(e: String, n: String): String =
          tableField(spark, schema, n).fold(s"($e)")(f =>
            s"CAST(($e) AS ${f.dataType.sql})") + s" AS `$n`"
        var updated = Option.empty[DataFrame]
        var delKeys = Option.empty[DataFrame]
        var inserted = Option.empty[DataFrame]
        clauses.foreach {
          case MatchedUpdate(cond, set) =>
            require(updated.isEmpty, "at most one WHEN MATCHED ... UPDATE")
            val sets = splitTop(set, ',').map { a =>
              val sides = a.split("=", 2)
              require(sides.length == 2, s"bad SET assignment: $a")
              val (tq, tc) = target(sides(0))
              requireSide(tq, tAlias, "a SET target")
              require(names.contains(tc), s"unknown SET column $tc")
              require(!keys.contains(tc), s"MERGE cannot SET key column $tc")
              tc -> sides(1).trim
            }.toMap
            // full row out: SET expressions where given, the old value
            // (target side) everywhere else
            val proj = names.map(n =>
              castAs(sets.getOrElse(n, s"`$tAlias`.`$n`"), n)).mkString(", ")
            updated = Some(SqlFrontEnd.query(spark,
              s"SELECT $proj $joinFrom WHERE ${eff(Option(cond))}", clock))
            priorConds :+= Option(cond).getOrElse("TRUE")
          case MatchedDelete(cond) =>
            require(delKeys.isEmpty, "at most one WHEN MATCHED ... DELETE")
            val proj = keys.map(k => s"`$tAlias`.`$k` AS `$k`").mkString(", ")
            delKeys = Some(SqlFrontEnd.query(spark,
              s"SELECT DISTINCT $proj $joinFrom WHERE ${eff(Option(cond))}",
              clock))
            priorConds :+= Option(cond).getOrElse("TRUE")
          case NotMatchedInsert(cond, insCols, insVals) =>
            require(inserted.isEmpty, "at most one WHEN NOT MATCHED ... INSERT")
            val insNames = Option(insCols)
              .map(_.split(",").map(c => unquote(c.trim)).toSeq).getOrElse(names)
            val vals = splitTop(insVals, ',').map(_.trim)
            require(vals.size == insNames.size, s"INSERT arity mismatch: " +
              s"${insNames.size} columns, ${vals.size} values")
            val proj = insNames.zip(vals).map { case (n, v) => castAs(v, n) }
              .mkString(", ")
            // anti join = source rows with no key match in the target;
            // the projection can only see the source side, as in Trino.
            // The write rule fills unlisted columns with NULL and refuses
            // unknown ones, before any job
            inserted = Some(t.conform(SqlFrontEnd.query(spark,
              s"SELECT $proj FROM $sv AS `$sAlias` LEFT ANTI JOIN $tv " +
                s"AS `$tAlias` ON $on" +
                Option(cond).map(c => s" WHERE $c").getOrElse(""), clock), schema))
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE clause: WHEN $other")
        }
        // Trino raises "one target row matched more than one source
        // row" instead of silently applying both — mirror that before
        // committing anything. Only keys that (a) appear twice in the
        // source and (b) exist in the target can multi-match, so the
        // check is a tiny aggregate over source keys semi-joined to the
        // target (column-pruned scan, no full-row read).
        if (clauses.exists { case MatchedUpdate(_, _) | MatchedDelete(_) => true
                             case _ => false }) {
          val kProj = keys.map(k => s"`$k`").mkString(", ")
          val dup = SqlFrontEnd.query(spark,
            s"SELECT $kProj FROM (SELECT $kProj FROM $sv GROUP BY $kProj " +
              s"HAVING count(*) > 1) d WHERE EXISTS (SELECT 1 FROM $tv " +
              s"WHERE ${keys.map(k => s"$tv.`$k` = d.`$k`").mkString(" AND ")})",
            clock)
            .limit(1).collect()
          require(dup.isEmpty, "MERGE: one target row matched more than " +
            s"one source row (duplicate source key ${dup.headOption.getOrElse("")})")
        }
        // materialize every clause's rows BEFORE the commit — the
        // commit must not change what the update/insert computed
        val frozen = Seq(updated, delKeys, inserted)
          .map(_.map(_.localCheckpoint(true)))
        val Seq(up, dk, ins) = frozen
        val appended = (up, ins) match {
          case (Some(u), i) => Some(i.map(u.unionByName(_)).getOrElse(u))
          case (None, i) => i
        }
        // ONE snapshot for the whole statement, whatever mix of clauses
        // ran: the DELETE clause's keys ride the upsert commit as extra
        // eq-deletes (Trino MERGE is single-commit-atomic); delete-only
        // and insert-only merges keep their cheaper single-commit paths
        (appended, dk) match {
          case (Some(a), Some(k)) =>
            // op name in the "upsert" family: the changelog/CDC reader
            // classifies it as a MOR eq-delete + append (NOT the CoW
            // "merge" op, which diffs rewritten files)
            t.upsertOp(a, keys, "upsert_merge", clock, extraDeleteKeys = Some(k))
          case (Some(a), None) if up.isDefined => t.upsert(a, keys, clock)
          case (Some(a), None) => t.append(a, clock); 0L
          case (None, Some(k)) => t.deleteByKeys(k, clock)
          case (None, None) => 0L
        }
      } finally {
        spark.catalog.dropTempView(tv)
        spark.catalog.dropTempView(sv)
      }
    }
  }

  /** Split a ` WHEN c1 WHEN c2 ...` tail into clause bodies (top-level
    * ` WHEN ` outside quotes/brackets, case-insensitive). */
  private def splitTopWhen(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) {
        cur += c
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { cur += '\''; i += 1 }
          else inQuote = false
        }
      } else if (c == '\'') { inQuote = true; cur += c }
      else if (c == '(' || c == '[') { depth += 1; cur += c }
      else if (c == ')' || c == ']') { depth -= 1; cur += c }
      else if (depth == 0 && c == ' ' && i + 5 < s.length &&
        s.regionMatches(true, i + 1, "WHEN", 0, 4) && s.charAt(i + 5) == ' ') {
        out += cur.result(); cur.clear(); i += 4
      } else cur += c
      i += 1
    }
    if (cur.nonEmpty) out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** The terms of a top-level AND chain. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A parsed column reference: `a.k` → (Some(a), k), a bare `k` →
    * (None, k). */
  private object Ref {
    def unapply(e: Expression): Option[(Option[String], String)] = e match {
      case UnresolvedAttribute(parts) =>
        Some((Some(parts.init.mkString(".")).filter(_.nonEmpty), parts.last))
      case _ => None
    }
  }

  // ---- SELECT * (incl. metadata tables) -----------------------------------

  /** `SELECT * FROM t` (config-table full scan, __main__.py:62) and the
    * Iceberg-style metadata suffix `SELECT * FROM "t\$files"`
    * (tests/test_maintenance.py:50) — `\$snapshots`/`\$refs`/`\$stats` route
    * through the same graft-source metadata relations. */
  private val MetaSuffixes =
    Set("files", "snapshots", "refs", "stats", "history", "manifests",
      "delete_files", "eq_delete_files", "partitions", "properties")

  /** A general SELECT body (CTAS / INSERT ... SELECT): `SELECT * FROM t`
    * keeps the direct scan fast path; anything richer is delegated to
    * Spark SQL with each referenced graft table registered as a temp
    * view — projections, filters, joins, and aggregates all come free
    * from Catalyst while every scan stays a graft relation. Unknown
    * tables fail in the resolver and unknown columns fail analysis, so
    * the fail-loudly contract holds. */
  private val SimpleSelectAll = s"""(?i)^SELECT \\* FROM $Ident$$""".r

  private def selectBody(spark: SparkSession, resolve: String => GraftTable,
                         clock: Clock, body: String): DataFrame = body.trim match {
    // through select(), not .read: the source may be a named view or a
    // metadata-suffix relation
    case SimpleSelectAll(src) => select(spark, resolve, clock, unquote(src))
    case b => runSelectBody(spark, resolve, clock, b)
  }

  /** Table-reference tokens of a SELECT/WITH body: each `FROM x` /
    * `JOIN x` identifier outside string literals whose nearest enclosing
    * paren (if any) opens a subquery. A FROM inside an ordinary
    * function-call paren — `EXTRACT(month FROM ts)`, `SUBSTRING(x FROM
    * 1)`, `TRIM(BOTH ' ' FROM s)` — is an argument separator, not a
    * table position; a FROM inside `(SELECT ...)` is. An identifier
    * immediately followed by `(` is a table function (UNNEST, ...) and
    * is left for Spark to resolve. */
  private[graft] def tableRefs(body: String): Seq[String] = {
    val refs = Seq.newBuilder[String]
    // true = the paren opened a subquery (first keyword SELECT/WITH)
    var stack = List.empty[Boolean]
    val n = body.length
    def wordChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '.' || c == '$'
    var i = 0
    while (i < n) {
      val c = body.charAt(i)
      if (c == '\'') { // skip literal; '' is the escaped quote
        i += 1
        var closed = false
        while (i < n && !closed) {
          if (body.charAt(i) == '\'') {
            if (i + 1 < n && body.charAt(i + 1) == '\'') i += 2
            else { closed = true; i += 1 }
          } else i += 1
        }
      } else if (c == '"') { // quoted identifier — not a FROM keyword
        val end = body.indexOf('"', i + 1)
        i = if (end < 0) n else end + 1
      } else if (c == '(') {
        var j = i + 1
        while (j < n && body.charAt(j).isWhitespace) j += 1
        stack = (body.regionMatches(true, j, "SELECT", 0, 6) ||
          body.regionMatches(true, j, "WITH", 0, 4)) :: stack
        i += 1
      } else if (c == ')') {
        if (stack.nonEmpty) stack = stack.tail
        i += 1
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && wordChar(body.charAt(i))) i += 1
        val w = body.substring(start, i)
        if ((w.equalsIgnoreCase("FROM") || w.equalsIgnoreCase("JOIN")) &&
          stack.headOption.forall(identity)) {
          var j = i
          while (j < n && body.charAt(j).isWhitespace) j += 1
          if (j < n && body.charAt(j) == '"') {
            val end = body.indexOf('"', j + 1)
            if (end > 0) refs += body.substring(j, end + 1)
          } else if (j < n && body.charAt(j) != '(') {
            var k = j
            while (k < n && wordChar(body.charAt(k))) k += 1
            // identifier followed by '(' is a table-function call
            var p = k
            while (p < n && body.charAt(p).isWhitespace) p += 1
            if (k > j && (p >= n || body.charAt(p) != '('))
              refs += body.substring(j, k)
          }
        }
      } else i += 1
    }
    refs.result().distinct
  }

  /** Names a `WITH` prologue (or any nested CTE) binds: every
    * `<ident> AS (` occurrence outside string literals. CTE names
    * SHADOW graft tables of the same name, exactly like Trino. */
  private[graft] def cteNames(body: String): Set[String] = {
    val noLits = body.replaceAll("'(?:[^']|'')*'", "''")
    """(?i)(?:^|[^\w.$"])((?:"[^"]+")|(?:[\w$]+))\s+AS\s*\(""".r
      .findAllMatchIn(noLits).map(m => unquote(m.group(1)).toLowerCase)
      .toSet
  }

  /** Each table token from [[tableRefs]] (minus CTE-bound names)
    * resolves through the caller's resolver, registers as a
    * uniquely-named temp view over its graft scan, and the body is
    * rewritten to the view names (qualified column refs like `x.c`
    * rewrite with it; unquoted names rewrite case-insensitively, since
    * SQL identifiers are case-insensitive). Views are dropped after
    * analysis — the returned plan holds the resolved scans, not the
    * view names. A body whose only relations are derived tables or
    * CTEs registers no views and runs as-is; unknown real tables still
    * fail loudly in Spark's resolver. */
  private def runSelectBody(spark: SparkSession, resolve: String => GraftTable,
                            clock: Clock, body: String): DataFrame = {
    val shadowed = cteNames(body)
    val refs = tableRefs(body)
      .filterNot(r => shadowed.contains(unquote(r).toLowerCase))
    // invocation-unique view names: two threads resolving the SAME table
    // name against DIFFERENT warehouses must not share a temp view
    val tag = java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
    val views = refs.zipWithIndex.map { case (raw, i) =>
      val view =
        s"graft_body_${tag}_${i}_${unquote(raw).replaceAll("[^\\w]", "_")}"
      // metadata-suffix names ("t$files") resolve to metadata relations,
      // exactly like SELECT * does
      select(spark, resolve, clock, unquote(raw)).createOrReplaceTempView(view)
      raw -> view
    }
    try {
      val sql = views.foldLeft(body) { case (acc, (raw, view)) =>
        val ci = if (raw.startsWith("\"")) "" else "(?i)" // quoted = exact
        acc.replaceAll(
          ci + "(?<![\\w.$\"])" + java.util.regex.Pattern.quote(raw) + "(?![\\w$\"])",
          java.util.regex.Matcher.quoteReplacement(view))
      }
      // analysis is eager: the plan is resolved here. The front end
      // runs AFTER the table refs became view names, so a quoted table
      // ref is a view and every other double-quoted token a column
      SqlFrontEnd.query(spark, sql, clock)
    } finally views.foreach { case (_, v) => spark.catalog.dropTempView(v) }
  }

  private def select(spark: SparkSession, resolve: String => GraftTable,
                     clock: Clock, id: String): DataFrame = {
    val dollar = id.lastIndexOf('$')
    // only a KNOWN metadata suffix routes to the metadata relations — a
    // data table whose name happens to contain '$' stays a table read
    if (dollar > 0 && MetaSuffixes(id.substring(dollar + 1))) {
      val table = resolve(id.substring(0, dollar))
      spark.read.format("graft").option("metadata", id.substring(dollar + 1))
        .load(table.location)
    } else {
      val table = resolve(id)
      viewText(spark, table.location) match {
        case Some(body) => expandView(spark, resolve, clock, id, body)
        case None => table.read
      }
    }
  }

  // ---- named views ---------------------------------------------------------

  private def viewSqlPath(loc: String) =
    new org.apache.hadoop.fs.Path(loc, "_graft/view.sql")

  /** The stored SQL text of the view at `loc`, if one exists there. */
  private def warehouseRoot(warehouse: Option[String], sql: String): String =
    warehouse.getOrElse(throw new IllegalArgumentException(
      s"no warehouse configured for catalog listing: ${sql.trim}"))

  /** Catalog listing for SHOW TABLES / SHOW SCHEMAS: one directory
    * listing of the warehouse root — a graft table is a directory with
    * a snapshot log, a view a directory with stored view SQL, and a
    * SCHEMA any other subdirectory (a namespace SHOW TABLES FROM can
    * descend into). Metadata-plane by construction (O(children) RPCs,
    * no data read). */
  private def listWarehouse(spark: SparkSession, root: String,
                            tables: Boolean): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.isDirectory(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter { child =>
        val rel = GraftTable.exists(spark, child.toString) ||
          viewText(spark, child.toString).isDefined
        if (tables) rel else !rel
      }
      .map(_.getName).sorted
  }

  private[graft] def viewText(spark: SparkSession, loc: String): Option[String] = {
    val p = viewSqlPath(loc)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def writeViewText(spark: SparkSession, loc: String,
                            body: String): Unit = {
    val p = viewSqlPath(loc)
    val out = p.getFileSystem(spark.sessionState.newHadoopConf())
      .create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** In-flight view names on this thread: `CREATE OR REPLACE VIEW v AS
    * SELECT ... FROM v` validates against the OLD v and stores text
    * that names itself — without this guard its first read would
    * recurse forever instead of failing loudly. */
  private val viewStack = new ThreadLocal[java.util.ArrayDeque[String]] {
    override def initialValue() = new java.util.ArrayDeque[String]()
  }

  /** A view read re-resolves the stored text — views on views nest via
    * the same [[selectBody]] recursion; the result plan holds graft
    * scans only (the view is a definition, never a materialization). */
  private def expandView(spark: SparkSession, resolve: String => GraftTable,
                         clock: Clock, name: String,
                         body: String): DataFrame = {
    val stack = viewStack.get()
    require(!stack.contains(name), s"recursive view definition: $name")
    stack.push(name)
    try selectBody(spark, resolve, clock, body) finally stack.pop()
  }

  // ---- literal scanner -----------------------------------------------------

  /** Split on `sep` at bracket depth 0, outside quotes. */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) {
        cur += c
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { cur += '\''; i += 1 }
          else inQuote = false
        }
      } else c match {
        case '\'' => inQuote = true; cur += c
        case '(' | '[' => depth += 1; cur += c
        case ')' | ']' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.result(); cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) out += cur.result()
    out.result()
  }

  private def stripQuotes(v: String): String = {
    require(v.startsWith("'") && v.endsWith("'") && v.length >= 2,
      s"expected a quoted string literal, got $v")
    v.substring(1, v.length - 1).replace("''", "'")
  }

  /** One SQL literal → a loosely-typed value ([[coerce]] adapts it to the
    * target column type): NULL, 'string' (with '' escape), number,
    * ARRAY[...], TIMESTAMP '...', true/false. */
  private def parseLiteral(v: String): Any = {
    val up = v.toUpperCase
    if (up == "NULL") null
    else if (up == "TRUE") true
    else if (up == "FALSE") false
    else if (v.startsWith("'")) stripQuotes(v)
    else if (up.startsWith("ARRAY[") && v.endsWith("]"))
      splitTop(v.substring(6, v.length - 1), ',').map(e => parseLiteral(e.trim))
    else if (up.startsWith("TIMESTAMP "))
      Timestamp.valueOf(stripQuotes(v.substring(10).trim))
    else BigDecimal(v)
  }

  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (b: BigDecimal, IntegerType) => b.toIntExact
    case (b: BigDecimal, LongType) => b.toLongExact
    case (b: BigDecimal, ShortType) => b.toShortExact
    case (b: BigDecimal, DoubleType) => b.toDouble
    case (b: BigDecimal, FloatType) => b.toFloat
    case (b: BigDecimal, _: DecimalType) => b
    case (b: BigDecimal, StringType) => b.toString
    case (s: String, StringType) => s
    case (s: String, TimestampType) => Timestamp.valueOf(s)
    case (s: String, DateType) => java.sql.Date.valueOf(s)
    case (t: Timestamp, TimestampType) => t
    case (b: Boolean, BooleanType) => b
    case (b: Boolean, IntegerType) => if (b) 1 else 0
    case (xs: Seq[_], ArrayType(et, _)) => xs.map(coerce(_, et))
    case (other, t) => throw new IllegalArgumentException(
      s"cannot coerce literal $other to ${t.simpleString}")
  }
}

/** The one SQL expression front end: every WHERE, SET, ON, WHEN and
  * SELECT text [[GraftSql]] hands to Spark goes through here, and only
  * here reaches Spark's parser. One Trino normalization comes first
  * ([[sparkText]]):
  *   - double-quoted identifiers become backticked — in Spark SQL a
  *     double-quoted token is a STRING LITERAL, so `"k" = 1` would
  *     quietly compare the string 'k';
  *   - Trino function spellings rewrite ([[TrinoCompat.rewriteSql]]);
  *   - `current_timestamp[(p)]` becomes the injected clock's instant,
  *     never Spark's own wall clock (the scheduler's gates and stamps
  *     run on the caller's clock).
  * Expressions over one table ([[overTable]]) also take Trino's literal
  * typing where it differs from Spark's, and resolve against the table
  * schema at once. */
private[graft] object SqlFrontEnd {

  /** A query (SELECT / WITH body), analyzed. */
  def query(spark: SparkSession, text: String, clock: Clock): DataFrame =
    spark.sql(sparkText(text, clock))

  /** One expression, parsed but not resolved. */
  def expression(spark: SparkSession, text: String, clock: Clock): Expression =
    spark.sessionState.sqlParser.parseExpression(sparkText(text, clock))

  /** One expression over the columns of `schema`, in Trino's typing. */
  def tableExpression(spark: SparkSession, text: String, clock: Clock,
                      schema: StructType): Expression =
    trinoTyped(expression(spark, text, clock), schema)

  /** A WHERE predicate and named SET right-hand sides (each cast to its
    * column's type) on a table of `schema`, resolved now over an empty
    * relation of that schema: an unknown column or a non-boolean WHERE
    * fails here — before any job or commit, even on a table with no
    * files. */
  def overTable(spark: SparkSession, schema: StructType, clock: Clock,
                where: String, sets: Seq[(String, String)] = Nil)
      : (Column, Seq[(String, Column)]) = {
    def typed(text: String) =
      CatalystShims.column(tableExpression(spark, text, clock, schema))
    val cond = typed(where)
    val values = sets.map { case (c, text) =>
      c -> typed(text).cast(schema(c).dataType)
    }
    spark.createDataFrame(java.util.List.of[Row](), schema)
      .filter(cond).select(values.map(_._2): _*)
    (cond, values)
  }

  private val CurrentTimestamp =
    """(?i)(?<![\w.$`])current_timestamp(?![\w$`])(?:\s*\(\s*(\d?)\s*\))?""".r

  private def sparkText(text: String, clock: Clock): String = {
    val micros = ChronoUnit.MICROS.between(Instant.EPOCH, clock.instant())
    TrinoCompat.outsideLiterals(
      TrinoCompat.rewriteSql(backtickIdents(text)), CurrentTimestamp) { m =>
      // TIMESTAMP(p): the instant truncated to p fractional digits
      val p = Option(m.group(1)).filter(_.nonEmpty).fold(6)(_.toInt.min(6))
      val unit = math.pow(10, 6 - p).toLong
      s"timestamp_micros(${Math.floorDiv(micros, unit) * unit})"
    }
  }

  /** Rewrite `"ident"` → `` `ident` `` outside single-quoted string
    * literals (Trino quotes identifiers with double quotes; Spark's
    * parser wants backticks). */
  private def backtickIdents(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') { // copy string literal verbatim ('' = escape)
        out += c; i += 1
        var closed = false
        while (i < s.length && !closed) {
          out += s.charAt(i)
          if (s.charAt(i) == '\'') {
            if (i + 1 < s.length && s.charAt(i + 1) == '\'') {
              out += '\''; i += 1
            } else closed = true
          }
          i += 1
        }
      } else if (c == '"') {
        val end = s.indexOf('"', i + 1)
        if (end < 0) { out += c; i += 1 }
        else {
          out += '`'; out ++= s.substring(i + 1, end); out += '`'
          i = end + 1
        }
      } else { out += c; i += 1 }
    }
    out.result()
  }

  /** Trino's typing of a numeric literal compared with a REAL or VARCHAR
    * column, where Spark's differs: the literal takes the column's type.
    * Spark compares `real_col = 0.1` in DOUBLE, where the stored REAL
    * 0.1 is not 0.1, so the row is missed; it compares `varchar_col = 5`
    * as numbers, failing mid-job on the first non-numeric value. The
    * cast also keeps a REAL comparison an `attr = literal` that file
    * skipping prunes on. */
  private def trinoTyped(e: Expression, schema: StructType): Expression = {
    def typed(column: Expression, value: Expression): Expression =
      (column, value) match {
        case (UnresolvedAttribute(Seq(name)), l @ Literal(_, _: NumericType)) =>
          schema.find(_.name.equalsIgnoreCase(name)).map(_.dataType) match {
            case Some(dt @ (FloatType | StringType)) => Cast(l, dt)
            case _ => l
          }
        case _ => value
      }
    e.transformUp {
      case c: BinaryComparison =>
        c.withNewChildren(Seq(typed(c.right, c.left), typed(c.left, c.right)))
      case in: In => in.copy(list = in.list.map(typed(in.value, _)))
      case f: UnresolvedFunction if f.arguments.size == 3 &&
          f.nameParts.map(_.toLowerCase) == Seq("between") =>
        val Seq(v, lo, hi) = f.arguments
        f.copy(arguments = Seq(v, typed(v, lo), typed(v, hi)))
    }
  }
}
