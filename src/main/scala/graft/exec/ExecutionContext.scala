package graft.exec

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.UrlTableRewrite
import graft.tables.Observability

/** Shared execution layer (reference `crates/datafusion-app/src/local.rs`:
  * `ExecutionContext::execute_sql`): SQL in, DataFrame out, with the
  * url-table rewrite, optional app-level result limit (HTTP
  * `result_limit`, reference `local.rs:557-569`), statement splitting for
  * DDL files, and per-request observability records.
  */
class ExecutionContext(val spark: SparkSession,
    val resultLimit: Option[Int] = None) {

  val observability = new Observability(spark)

  /** Opt-in streaming observability: every micro-batch of every streaming
    * query on this session lands one row in [[observability]] (see
    * [[Observability.attachStreaming]]).
    */
  def observeStreams(): org.apache.spark.sql.streaming.StreamingQueryListener =
    observability.attachStreaming()

  /** Execute one statement. Table functions, `information_schema` and the
    * `dft.*` names resolve in every session's analyzer
    * ([[graft.plans.AppRelations]]); only url tables are rewritten here,
    * because Spark's parser rejects a string literal in `FROM`.
    */
  def sql(statement: String): DataFrame = {
    val df = spark.sql(UrlTableRewrite(statement))
    resultLimit.map(df.limit).getOrElse(df)
  }

  /** Execute one statement, recording an observability row (path tags the
    * entry point, mirroring the reference's per-endpoint records).
    */
  def sqlObserved(statement: String, path: String = "cli"): DataFrame = {
    val start = System.nanoTime()
    val ts = new Timestamp(System.currentTimeMillis())
    try {
      val df = sql(statement)
      observability.record(None, path, Some(statement), ts,
        (System.nanoTime() - start) / 1000000, None, 200)
      df
    } catch {
      case e: Throwable =>
        observability.record(None, path, Some(statement), ts,
          (System.nanoTime() - start) / 1000000, None, 500)
        throw e
    }
  }

  /** Split a script into statements: strip `--` line comments and split on
    * semicolons (reference DDL file handling, `local.rs:336-363`) — but only
    * when outside single-quoted string literals, so `SELECT 'a--b;c'`
    * survives intact. A doubled quote (`''`) inside a literal is the SQL
    * escape and does not close it.
    */
  def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (inQuote) {
        cur.append(c)
        if (c == '\'') {
          if (i + 1 < script.length && script.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1 // escaped quote, literal continues
          } else inQuote = false
        }
        i += 1
      } else c match {
        case '\'' => inQuote = true; cur.append(c); i += 1
        case '-' if i + 1 < script.length && script.charAt(i + 1) == '-' =>
          while (i < script.length && script.charAt(i) != '\n') i += 1
        case ';' => out += cur.result(); cur.clear(); i += 1
        case _ => cur.append(c); i += 1
      }
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Run every statement in a DDL script (translating the reference's
    * `CREATE EXTERNAL TABLE ... STORED AS fmt LOCATION 'p'` to Spark DDL),
    * returning the last result. `STORED AS DELTATABLE` (reference
    * `extensions/deltalake.rs:36-52`) can't become a single Spark DDL
    * statement — the live file set comes from replaying the table's
    * `_delta_log` — so it registers through [[graft.sources.DeltaLog]].
    */
  def runScript(script: String): Seq[DataFrame] =
    splitStatements(script).map {
      case DdlTranslate.DeltaTable(name, loc) =>
        graft.sources.DeltaLog.register(spark, name, loc)
      case DdlTranslate.AvroTable(name, loc) =>
        graft.sources.AvroIO.register(spark, name, loc)
      case DdlTranslate.IcebergTable(name, loc) =>
        graft.sources.IcebergLog.register(spark, name, loc)
      // VACUUM / OPTIMIZE dispatch on the table's format: a `metadata/`
      // tree is Iceberg, a `_delta_log/` is Delta — the same statement
      // drives the matching maintenance op of either lakehouse format
      case DdlTranslate.VacuumStmt(loc, retainHours, dryRun) =>
        if (isIcebergTable(loc)) {
          require(!dryRun,
            "VACUUM DRY RUN is a Delta surface; Iceberg expiry is " +
              "snapshot-granular (inspect with iceberg_snapshots first)")
          // Iceberg retention is snapshot-granular (expire_snapshots):
          // keep only the current snapshot and reclaim everything no
          // survivor references; the RETAIN horizon maps to history
          // depth, not wall hours (fixture snapshots carry no wallclock)
          val (_, removed) =
            graft.sources.IcebergLog.expireSnapshots(loc, keep = 1)
          oneRowResult("files_removed",
            removed.count(_.endsWith(".parquet")).toLong)
        } else {
          val removed = graft.sources.DeltaWrite.vacuum(spark, loc,
            retainHours.map(_ * 3600L * 1000L).getOrElse(7L * 24 * 3600 * 1000),
            dryRun = dryRun)
          oneRowResult(
            if (dryRun) "files_reclaimable" else "files_removed",
            removed.size.toLong)
        }
      case DdlTranslate.OptimizeStmt(loc, zCols) =>
        if (isIcebergTable(loc)) {
          // rewriteDataFiles: bin-packs AND drops v2 delete files,
          // restoring the delete-blind planning paths (x31's op).
          // Target file count from live bytes at the same 128 MB
          // granularity as the Delta path — never a blind coalesce(1).
          // ZORDER BY maps to a sort-clustered rewrite (Iceberg's
          // sort-order rewrite strategy): lexicographic over the listed
          // columns, leading-column selective.
          val (data, _) = graft.sources.IcebergLog.liveSplitEntries(loc)
          val liveBytes = data.map(e => new java.io.File(e.path).length).sum
          val target = math.max(1L,
            (liveBytes + (128L << 20) - 1) / (128L << 20)).toInt
          val rs = graft.sources.IcebergLog.rewriteDataFiles(spark, loc,
            sortBy = zCols, targetFiles = target)
          oneRowResult("files_compacted", rs.filesRewritten.toLong)
        } else if (zCols.nonEmpty) {
          val st = graft.sources.DeltaWrite.optimizeZOrder(spark, loc, zCols)
          oneRowResult("files_compacted", st.filesCompacted.toLong)
        } else {
          val st = graft.sources.DeltaWrite.optimize(spark, loc,
            smallFileBytes = 128L * 1024 * 1024)
          oneRowResult("files_compacted", st.filesCompacted.toLong)
        }
      case DdlTranslate.AddConstraintStmt(loc, name, cond) =>
        oneRowResult("version",
          graft.sources.DeltaWrite.addCheckConstraint(spark, loc, name, cond))
      case DdlTranslate.DropConstraintStmt(loc, name) =>
        oneRowResult("version",
          graft.sources.DeltaWrite.dropCheckConstraint(spark, loc, name))
      case DdlTranslate.EnableMappingStmt(loc) =>
        oneRowResult("version",
          graft.sources.DeltaWrite.enableColumnMapping(spark, loc))
      case DdlTranslate.RenameColumnStmt(loc, from, to) =>
        oneRowResult("version",
          graft.sources.DeltaWrite.renameColumn(spark, loc, from, to))
      case DdlTranslate.DropColumnStmt(loc, name) =>
        oneRowResult("version",
          graft.sources.DeltaWrite.dropColumn(spark, loc, name))
      case DdlTranslate.RestoreStmt(loc, version) =>
        if (isIcebergTable(loc)) {
          graft.sources.IcebergLog.rollbackTo(loc, version)
          oneRowResult("rolled_back_to", version)
        } else {
          val st = graft.sources.DeltaWrite.restoreTo(spark, loc, version)
          oneRowResult("files_restored", st.filesReAdded.toLong)
        }
      case DdlTranslate.DeleteStmt(loc, cond) =>
        val pred = org.apache.spark.sql.functions.expr(cond)
        if (isIcebergTable(loc)) {
          val st = graft.sources.IcebergLog.deleteWhere(spark, loc, pred)
          oneRowResult("rows_deleted", st.rowsDeleted)
        } else {
          val st = graft.sources.DeltaWrite.deleteWhere(spark, loc, pred)
          oneRowResult("rows_deleted", st.rowsDeleted)
        }
      case DdlTranslate.ReplaceWhereStmt(loc, cond, sel) =>
        val pred = org.apache.spark.sql.functions.expr(cond)
        val batch = spark.sql(sel)
        if (isIcebergTable(loc)) {
          val st = graft.sources.IcebergLog.replaceWhere(spark, loc,
            pred, batch)
          oneRowResult("rows_replaced", st.rowsInserted)
        } else {
          val st = graft.sources.DeltaWrite.replaceWhere(spark, loc,
            pred, batch)
          oneRowResult("rows_replaced", st.rowsInserted)
        }
      case DdlTranslate.ConvertDeltaStmt(loc, cols) =>
        oneRowResult("version",
          graft.sources.DeltaWrite.convertParquet(spark, loc, cols))
      case DdlTranslate.ConvertIcebergStmt(loc) =>
        // in-place adoption: the directory's own parquet files become the
        // table's first snapshot; metadata/ lands beside them
        oneRowResult("snapshot_id",
          graft.sources.IcebergLog.addFiles(loc, loc))
      case DdlTranslate.CloneStmt(dst, src, ver) =>
        oneRowResult("version",
          graft.sources.DeltaWrite.cloneShallow(spark, src, dst, ver))
      case DdlTranslate.ReorgPurgeStmt(loc) =>
        if (isIcebergTable(loc)) {
          val rs = graft.sources.IcebergLog.rewriteDataFiles(spark, loc)
          oneRowResult("files_purged", rs.filesRewritten.toLong)
        } else {
          val ps = graft.sources.DeltaWrite.purgeDeletionVectors(spark, loc)
          oneRowResult("files_purged", ps.filesPurged.toLong)
        }
      case s => sql(DdlTranslate(s))
    }

  /** Single-row result frame for maintenance statements. */
  private def oneRowResult(name: String, value: Long): DataFrame = {
    import spark.implicits._
    Seq(value).toDF(name)
  }

  /** Format sniff for maintenance-statement dispatch: an Iceberg table
    * has a `metadata/` tree and no `_delta_log/`.
    */
  private def isIcebergTable(loc: String): Boolean =
    new java.io.File(loc, "metadata").isDirectory &&
      !new java.io.File(loc, "_delta_log").isDirectory
}

/** `CREATE EXTERNAL TABLE t STORED AS PARQUET LOCATION 'p'` (reference
  * README.md:131-163) -> `CREATE TABLE t USING parquet LOCATION 'p'`.
  */
object DdlTranslate {
  private val External =
    """(?is)CREATE\s+EXTERNAL\s+TABLE\s+(\S+)\s*(\([^)]*\))?\s*STORED\s+AS\s+(\w+)\s+LOCATION\s+'([^']+)'""".r

  /** Extractor for the Delta variant, which needs log replay instead of a
    * translated statement.
    */
  object DeltaTable {
    def unapply(statement: String): Option[(String, String)] = statement match {
      case External(name, _, fmt, loc) if fmt.equalsIgnoreCase("deltatable") =>
        Some((name, loc))
      case _ => None
    }
  }

  /** Extractor for the Avro variant: no spark-avro module on the offline
    * classpath, so `USING avro` would fail to resolve a DataSource — the
    * scan goes through [[graft.sources.AvroIO]] instead.
    */
  object AvroTable {
    def unapply(statement: String): Option[(String, String)] = statement match {
      case External(name, _, fmt, loc) if fmt.equalsIgnoreCase("avro") =>
        Some((name, loc))
      case _ => None
    }
  }

  /** Extractor for the Iceberg variant: the live file set comes from the
    * snapshot's manifest chain, so it registers through
    * [[graft.sources.IcebergLog]] like Delta does through its log replay.
    */
  object IcebergTable {
    def unapply(statement: String): Option[(String, String)] = statement match {
      case External(name, _, fmt, loc) if fmt.equalsIgnoreCase("iceberg") =>
        Some((name, loc))
      case _ => None
    }
  }

  /** `VACUUM 'path' [RETAIN n HOURS] [DRY RUN]` — the Databricks/Delta
    * SQL verb for [[graft.sources.DeltaWrite.vacuum]]; default retention
    * 7 days. DRY RUN lists reclaim candidates without deleting.
    */
  object VacuumStmt {
    private val P =
      """(?is)VACUUM\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*""".r
    def unapply(statement: String): Option[(String, Option[Long], Boolean)] =
      statement match {
        case P(loc, hours, dry) =>
          Some((loc, Option(hours).map(_.toLong), dry != null))
        case _ => None
      }
  }

  /** `OPTIMIZE 'path' [ZORDER BY (c1, c2)]` — the lakehouse maintenance
    * verb: bin-packing without ZORDER
    * ([[graft.sources.DeltaWrite.optimize]]), multi-column curve
    * re-clustering with it ([[graft.sources.DeltaWrite.optimizeZOrder]]).
    */
  object OptimizeStmt {
    private val P =
      """(?is)OPTIMIZE\s+'([^']+)'(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*""".r
    def unapply(statement: String): Option[(String, Seq[String])] =
      statement match {
        case P(loc, z) => Some((loc,
          Option(z).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty)))
        case _ => None
      }
  }

  /** `ALTER TABLE 'path' ADD CONSTRAINT name CHECK (expr)` — Delta CHECK
    * constraints ([[graft.sources.DeltaWrite.addCheckConstraint]]).
    */
  object AddConstraintStmt {
    private val P =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*""".r
    def unapply(statement: String): Option[(String, String, String)] =
      statement.trim match {
        case P(loc, name, cond) => Some((loc, name, cond.trim))
        case _ => None
      }
  }

  /** `ALTER TABLE 'path' DROP CONSTRAINT name`. */
  object DropConstraintStmt {
    private val P =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+DROP\s+CONSTRAINT\s+(\w+)\s*""".r
    def unapply(statement: String): Option[(String, String)] =
      statement match {
        case P(loc, name) => Some((loc, name))
        case _ => None
      }
  }

  /** `ALTER TABLE 'path' SET TBLPROPERTIES ('delta.columnMapping.mode' =
    * 'name')` — the column-mapping upgrade ALTER
    * ([[graft.sources.DeltaWrite.enableColumnMapping]]).
    */
  object EnableMappingStmt {
    private val P =
      ("""(?is)ALTER\s+TABLE\s+'([^']+)'\s+SET\s+TBLPROPERTIES\s*\(\s*""" +
        """'delta\.columnMapping\.mode'\s*=\s*'name'\s*\)\s*""").r
    def unapply(statement: String): Option[String] =
      statement match {
        case P(loc) => Some(loc)
        case _ => None
      }
  }

  /** `ALTER TABLE 'path' RENAME COLUMN a TO b` — metadata-only under
    * column mapping ([[graft.sources.DeltaWrite.renameColumn]]).
    */
  object RenameColumnStmt {
    private val P =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*""".r
    def unapply(statement: String): Option[(String, String, String)] =
      statement match {
        case P(loc, from, to) => Some((loc, from, to))
        case _ => None
      }
  }

  /** `ALTER TABLE 'path' DROP COLUMN a` — metadata-only under column
    * mapping ([[graft.sources.DeltaWrite.dropColumn]]).
    */
  object DropColumnStmt {
    private val P =
      """(?is)ALTER\s+TABLE\s+'([^']+)'\s+DROP\s+COLUMN\s+(\w+)\s*""".r
    def unapply(statement: String): Option[(String, String)] =
      statement match {
        case P(loc, name) => Some((loc, name))
        case _ => None
      }
  }

  /** `RESTORE TABLE 'path' TO VERSION AS OF n` — metadata-only undo:
    * Delta [[graft.sources.DeltaWrite.restoreTo]] (n = commit version) or
    * Iceberg [[graft.sources.IcebergLog.rollbackTo]] (n = snapshot id).
    */
  object RestoreStmt {
    private val P =
      """(?is)RESTORE\s+TABLE\s+'([^']+)'\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*""".r
    def unapply(statement: String): Option[(String, Long)] =
      statement match {
        case P(loc, v) => Some((loc, v.toLong))
        case _ => None
      }
  }

  /** `DELETE FROM 'path' WHERE <expr>` — the lakehouse row-delete verb
    * (copy-on-write in either format); the trailing expression is parsed
    * as a Spark SQL predicate over the table's columns.
    */
  object DeleteStmt {
    private val P = """(?is)DELETE\s+FROM\s+'([^']+)'\s+WHERE\s+(.+)""".r
    def unapply(statement: String): Option[(String, String)] =
      statement.trim match {
        case P(loc, cond) => Some((loc, cond.trim))
        case _ => None
      }
  }

  /** `REPLACE INTO 'path' WHERE <pred> SELECT ...` — atomic selective
    * overwrite ([[graft.sources.DeltaWrite.replaceWhere]]): the SELECT
    * recomputes the range the predicate names, and the commit swaps it
    * in with no delete-then-insert window.
    */
  object ReplaceWhereStmt {
    private val Head =
      """(?is)REPLACE\s+INTO\s+'([^']+)'\s+WHERE\s+(.+)""".r
    def unapply(statement: String): Option[(String, String, String)] =
      statement.trim match {
        case Head(loc, rest) =>
          splitAtBatchSelect(rest).map { case (cond, sel) =>
            (loc, cond.trim, sel.trim)
          }
        case _ => None
      }
    /** Split `<predicate> SELECT ...` at the batch query's SELECT — the
      * first SELECT keyword at paren depth 0 outside string literals. A
      * predicate's own subqueries (`k IN (SELECT ...)`) are necessarily
      * parenthesized, so a naive non-greedy split at the FIRST textual
      * SELECT would truncate such a predicate and hand its subquery to
      * the analyzer as the batch; depth-0 scanning keeps both sides
      * whole. No depth-0 SELECT (or an empty predicate) means the
      * statement is not a REPLACE WHERE.
      */
    private def splitAtBatchSelect(s: String): Option[(String, String)] = {
      var depth = 0
      // the active quote delimiter (0 = outside): single-quoted strings,
      // double-quoted literals, AND backticked identifiers can all
      // contain the word "select" — a split inside any of them would
      // hand half a literal to the analyzer. Doubled delimiters ('' ""
      // ``) read as exit+re-enter, which lands outside correctly.
      var delim: Char = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (delim != 0) {
          // Spark SQL string literals allow backslash escapes by default
          // (escapedStringLiterals=false): \' inside '...' stays inside
          // the literal, so the escaped character must be skipped or the
          // literal would terminate early and an in-literal SELECT would
          // split the statement. Backticked identifiers have no
          // backslash escapes (doubling is their only escape).
          if (c == '\\' && delim != '`' && i + 1 < s.length) i += 1
          else if (c == delim) delim = 0
        }
        else c match {
          case '\'' | '"' | '`' => delim = c
          case '(' => depth += 1
          case ')' => depth -= 1
          case 's' | 'S' if depth == 0 && i > 0 &&
              s.regionMatches(true, i, "SELECT", 0, 6) &&
              !isWordChar(s.charAt(i - 1)) &&
              (i + 6 >= s.length || !isWordChar(s.charAt(i + 6))) =>
            val cond = s.substring(0, i).trim
            if (cond.isEmpty) return None
            return Some((cond, s.substring(i)))
          case _ =>
        }
        i += 1
      }
      None
    }
    private def isWordChar(c: Char): Boolean =
      Character.isLetterOrDigit(c) || c == '_'
  }

  /** `CONVERT TO DELTA 'path' [PARTITIONED BY (c1, c2)]` — in-place,
    * zero-copy adoption of an existing parquet directory
    * ([[graft.sources.DeltaWrite.convertParquet]]).
    */
  object ConvertDeltaStmt {
    private val P =
      """(?is)CONVERT\s+TO\s+DELTA\s+'([^']+)'(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?\s*""".r
    def unapply(statement: String): Option[(String, Seq[String])] =
      statement match {
        case P(loc, cols) => Some((loc,
          Option(cols).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty)))
        case _ => None
      }
  }

  /** `CONVERT TO ICEBERG 'path'` — in-place adoption of the directory's
    * parquet files as an Iceberg table
    * ([[graft.sources.IcebergLog.addFiles]]).
    */
  object ConvertIcebergStmt {
    private val P = """(?is)CONVERT\s+TO\s+ICEBERG\s+'([^']+)'\s*""".r
    def unapply(statement: String): Option[String] = statement match {
      case P(loc) => Some(loc)
      case _ => None
    }
  }

  /** `CREATE TABLE 'dst' SHALLOW CLONE 'src' [VERSION AS OF n]` —
    * zero-copy branch of a Delta table
    * ([[graft.sources.DeltaWrite.cloneShallow]]).
    */
  object CloneStmt {
    private val P =
      """(?is)CREATE\s+TABLE\s+'([^']+)'\s+SHALLOW\s+CLONE\s+'([^']+)'(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*""".r
    def unapply(statement: String): Option[(String, String, Option[Long])] =
      statement match {
        case P(dst, src, ver) => Some((dst, src, Option(ver).map(_.toLong)))
        case _ => None
      }
  }

  /** `REORG TABLE 'path' APPLY (PURGE)` — Databricks' verb for
    * materializing merge-on-read deletes away: Delta deletion vectors
    * purge ([[graft.sources.DeltaWrite.purgeDeletionVectors]]); on an
    * Iceberg path the analog is `rewriteDataFiles`, which drops the v2
    * delete files.
    */
  object ReorgPurgeStmt {
    private val P =
      """(?is)REORG\s+TABLE\s+'([^']+)'\s+APPLY\s*\(\s*PURGE\s*\)\s*""".r
    def unapply(statement: String): Option[String] = statement match {
      case P(loc) => Some(loc)
      case _ => None
    }
  }

  def apply(statement: String): String = statement match {
    case External(name, cols, fmt, loc) =>
      val format = fmt.toLowerCase match {
        case "ndjson" => "json"
        case other => other
      }
      val colSpec = Option(cols).getOrElse("")
      val opts = if (format == "csv") "OPTIONS (header 'true')" else ""
      s"CREATE TABLE $name $colSpec USING $format $opts LOCATION '$loc'"
    case other => other
  }
}
