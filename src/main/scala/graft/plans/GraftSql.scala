package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedFieldName, UnresolvedIdentifier, UnresolvedRelation,
  UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, Assignment,
  CreateTable, CreateTableAsSelect, DeleteAction, DeleteFromTable,
  DescribeRelation, DropColumns, DropTable, InsertIntoStatement,
  InsertStarAction, LogicalPlan, MergeIntoTable, QualifiedColType,
  RenameColumn, ShowCreateTable, SubqueryAlias, UnresolvedTableSpec,
  UnresolvedWith, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  TimestampType}

import graft.ops.VersionedTable

/**
 * The pure-SQL DML/maintenance surface of the versioned lake — the
 * counterpart of the read-side `graft_table` table function, so a SQL-only
 * user can run the table's FULL lifecycle without a line of Scala:
 *
 * {{{
 *   DELETE FROM graft.`/lake/events` WHERE date < DATE'2024-01-01'
 *   UPDATE graft.`/lake/events` SET score = score * 2 WHERE src = 'b'
 *   MERGE INTO graft.`/lake/events` t USING updates s
 *     ON t.id = s.id WHEN MATCHED THEN UPDATE SET *
 *     WHEN NOT MATCHED THEN INSERT *
 *   OPTIMIZE graft.`/lake/events` ZORDER BY (lat, lon)
 *   VACUUM graft.`/lake/events` RETAIN 3 VERSIONS
 *   RESTORE graft.`/lake/events` TO VERSION AS OF 4
 *   DESCRIBE HISTORY graft.`/lake/events`
 * }}}
 *
 * Mechanics — the Delta-style parser-delegate pattern, not a custom
 * dialect: DELETE / UPDATE / MERGE already live in Spark's OWN ANTLR
 * grammar (the reference's engine has no statement grammar at all, its
 * MERGE is an API call — load_stream_to_snowflake.py:243), so this parser
 * delegates the text to Spark and then REWRITES the returned logical
 * command when its target identifier is `graft`.`<root>` — full
 * expression coverage (subqueries, functions, ANSI literals) for free,
 * zero grammar maintenance. Only the four statements Spark's grammar
 * lacks (OPTIMIZE / VACUUM / RESTORE / DESCRIBE HISTORY) are recognized
 * up front, by anchored patterns that accept both the `graft`.`root`
 * identifier and the `graft_table('root')` spelling.
 *
 * The rewritten plans are eager [[LeafRunnableCommand]]s calling the same
 * engine entry points the Scala API uses (deleteMatching / updateMatching
 * / upsert / compact / vacuum / restore) — SQL DML therefore gets the
 * identical constraint-extraction index pruning, CHECK gating, and
 * claim-retry concurrency story, and returns the committed version as a
 * one-row result. Predicates and SET right-hand sides ride along as
 * UNRESOLVED expressions wrapped in Columns (a Column field is invisible
 * to TreeNode's expression reflection, so the command node is "resolved"
 * and analysis-clean); they resolve against the table's committed schema
 * inside the engine call, exactly like their Scala twins.
 *
 * Activation: session built with
 * `spark.sql.extensions=graft.GraftExtensions` (the parser is part of
 * sessionState and cannot be added to an already-running session —
 * unlike the function/rule surface, which `GraftExtensions.register`
 * retrofits).
 */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseStatement(sqlText, delegate.parsePlan).getOrElse(
      GraftSqlParser.resolveNamedTables(
        GraftSqlParser.rewriteDml(delegate.parsePlan(sqlText))))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {

  /** A statement-level table reference: `graft`.`<root>` (group 1),
    * `graft_table('<root>')` (group 2), or a REGISTERED NAME — backticked
    * (group 3) or a bare identifier with an optional @branch suffix
    * (group 4), resolved through [[GraftCatalog]]. */
  private val Target =
    """(?:graft\s*\.\s*`([^`]+)`|graft_table\s*\(\s*'([^']+)'\s*\)""" +
      """|`([^`/]+)`|([A-Za-z_][A-Za-z0-9_]*(?:@[A-Za-z0-9_-]+)?))"""
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+""" + Target +
      """\s*(?:RETAIN\s+(\d+)\s+(VERSIONS?|HOURS?|DAYS?))?\s*;?\s*$""").r
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + Target +
      """\s*(?:ZORDER\s+BY\s+\(?\s*([A-Za-z0-9_`,\s]+?)\s*\)?)?\s*;?\s*$""").r
  private val RestoreRe =
    ("""(?is)^\s*RESTORE\s+""" + Target +
      """\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r
  private val RestoreTsRe =
    ("""(?is)^\s*RESTORE\s+""" + Target +
      """\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""").r
  private val HistoryRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+""" + Target + """\s*;?\s*$""").r
  private val DetailRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+""" + Target + """\s*;?\s*$""").r
  private val AddDerivedRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+ADD\s+DERIVED\s+PARTITION\s+`?([A-Za-z0-9_]+)`?\s*=\s*""" +
      """(?:day\s*\(\s*`?([A-Za-z0-9_]+)`?\s*\)""" +
      """|bucket\s*\(\s*(\d+)\s*,\s*`?([A-Za-z0-9_]+)`?\s*\))\s*;?\s*$""").r
  private val DropDerivedRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+DROP\s+DERIVED\s+PARTITION\s+`?([A-Za-z0-9_]+)`?\s*;?\s*$""").r
  private val RefreshMvRe =
    ("""(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+""" + Target +
      """\s*;?\s*$""").r
  private val CreateBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+CREATE\s+BRANCH\s+`?([A-Za-z0-9_-]+)`?""" +
      """(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$""").r
  private val DropBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+DROP\s+BRANCH\s+`?([A-Za-z0-9_-]+)`?\s*;?\s*$""").r
  private val FastForwardRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+FAST\s+FORWARD\s+BRANCH\s+`?([A-Za-z0-9_-]+)`?\s*;?\s*$""").r
  private val SetPropsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+SET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*;?\s*$""").r
  private val UnsetPropsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + Target +
      """\s+UNSET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*;?\s*$""").r
  private val ShowPropsRe =
    ("""(?is)^\s*SHOW\s+TBLPROPERTIES\s+""" + Target + """\s*;?\s*$""").r
  private val VacuumDryRe =
    ("""(?is)^\s*VACUUM\s+""" + Target +
      """\s*(?:RETAIN\s+(\d+)\s+(VERSIONS?|HOURS?|DAYS?))?""" +
      """\s+DRY\s+RUN\s*;?\s*$""").r
  private val ShowBranchesRe =
    ("""(?is)^\s*SHOW\s+BRANCHES\s+(?:IN\s+)?""" + Target +
      """\s*;?\s*$""").r
  private val ShowTablesRe =
    """(?is)^\s*SHOW\s+GRAFT\s+TABLES\s*;?\s*$""".r
  private val BeginTxnRe =
    """(?is)^\s*BEGIN\s+GRAFT\s+TRANSACTION\s*;?\s*$""".r
  private val CommitTxnRe =
    """(?is)^\s*COMMIT\s+GRAFT\s+TRANSACTION\s*;?\s*$""".r
  private val RollbackTxnRe =
    """(?is)^\s*ROLLBACK\s+GRAFT\s+TRANSACTION\s*;?\s*$""".r
  private val CreateMvRe =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+""" + Target +
      """\s+KEYED\s+BY\s+\(\s*([A-Za-z0-9_`,\s]+?)\s*\)""" +
      """\s+AS\s+(SELECT\b.*?)\s*;?\s*$""").r
  // CDC-maintained derived indexes (dedup LSH / ANN IVF) as DDL — the
  // SQL-only user's path to the same lifecycle the Scala API drives
  private val CreateDedupIdxRe =
    ("""(?is)^\s*CREATE\s+DEDUP\s+INDEX\s+""" + Target +
      """\s+ON\s+""" + Target +
      """\s*\(\s*`?([A-Za-z0-9_]+)`?\s*,\s*`?([A-Za-z0-9_]+)`?\s*\)""" +
      """(?:\s+OPTIONS\s*\(\s*(.+?)\s*\))?\s*;?\s*$""").r
  private val CreateAnnIdxRe =
    ("""(?is)^\s*CREATE\s+ANN\s+INDEX\s+""" + Target +
      """\s+ON\s+""" + Target +
      """\s*\(\s*`?([A-Za-z0-9_]+)`?\s*,\s*`?([A-Za-z0-9_]+)`?\s*\)""" +
      """(?:\s+OPTIONS\s*\(\s*(.+?)\s*\))?\s*;?\s*$""").r
  private val RefreshIdxRe =
    ("""(?is)^\s*REFRESH\s+(DEDUP|ANN)\s+INDEX\s+""" + Target +
      """\s*;?\s*$""").r
  private val DropIdxRe =
    ("""(?is)^\s*DROP\s+(DEDUP|ANN)\s+INDEX\s+(IF\s+EXISTS\s+)?""" +
      Target + """\s*;?\s*$""").r
  private val ShowIndexesRe =
    """(?is)^\s*SHOW\s+GRAFT\s+INDEXES\s*;?\s*$""".r
  private val DescIdxRe =
    ("""(?is)^\s*DESCRIBE\s+(DEDUP|ANN)\s+INDEX\s+""" + Target +
      """\s*;?\s*$""").r
  // data-quality expectations (round 9): named row predicates that DROP
  // or QUARANTINE violating rows at ingest instead of failing the write
  private val CreateExpectRe =
    ("""(?is)^\s*CREATE\s+EXPECTATION\s+`?([A-Za-z_][A-Za-z0-9_]*)`?""" +
      """\s+ON\s+""" + Target + """\s+CHECK\s*\((.+?)\)""" +
      """\s+ON\s+VIOLATION\s+(?:(DROP)|QUARANTINE\s+INTO\s+""" + Target +
      """)\s*;?\s*$""").r
  private val DropExpectRe =
    ("""(?is)^\s*DROP\s+EXPECTATION\s+`?([A-Za-z_][A-Za-z0-9_]*)`?""" +
      """\s+ON\s+""" + Target + """\s*;?\s*$""").r
  private val ShowExpectRe =
    ("""(?is)^\s*SHOW\s+GRAFT\s+EXPECTATIONS\s+ON\s+""" + Target +
      """\s*;?\s*$""").r
  private val ShowExpectAllRe =
    """(?is)^\s*SHOW\s+GRAFT\s+EXPECTATIONS\s*;?\s*$""".r
  // plain persistent views (saved queries, late-bound at read). TEMP /
  // GLOBAL TEMP / multipart-named / column-listed views fall through to
  // Spark's own grammar untouched (the pattern requires VIEW directly
  // after CREATE [OR REPLACE] and a bare single identifier before AS)
  private val CreateViewRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+""" +
      """`?([A-Za-z_][A-Za-z0-9_]*)`?\s+AS\s+((?:SELECT|WITH)\b.*?)""" +
      """\s*;?\s*$""").r
  private val DropViewRe =
    ("""(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?""" +
      """`?([A-Za-z_][A-Za-z0-9_]*)`?\s*;?\s*$""").r
  private val ShowViewsRe =
    """(?is)^\s*SHOW\s+GRAFT\s+VIEWS\s*;?\s*$""".r

  /** Catalog resolution for a NAME reference, on the parsing session.
    * Parsing always runs on the query's own thread (spark.sql →
    * sessionState.sqlParser), where SparkSession.active IS the issuing
    * session — same precedent as the graft_table TVF builder. */
  private def resolveName(ref: String): Option[String] =
    SparkSession.getActiveSession.flatMap(GraftCatalog.resolve(_, ref))

  /** A temp view or session-catalog table of the same name shadows a
    * registered graft name — Spark's own resolution order, which the
    * READ path ([[resolveNamedTables]]) already honors. The write/DDL
    * paths must agree: a shadowed name passes through to Spark (or
    * errors loudly), never silently targeting a graft table the user's
    * own SELECT would not show. One shared check
    * ([[GraftCatalog.sessionShadowed]]) with the streaming legs. */
  private def sessionShadowed(name: String): Boolean =
    SparkSession.getActiveSession.exists(
      GraftCatalog.sessionShadowed(_, name))

  /** [[resolveName]] minus shadowed names — the resolution every DML /
    * DDL claim uses, so reads and writes always address the SAME table.
    * Shadow checks run first: they are in-memory, the catalog probe is
    * filesystem I/O. */
  private def resolveUnshadowed(ref: String): Option[String] =
    if (sessionShadowed(ref)) None else resolveName(ref)

  /** Resolve a [[Target]] match to a root path; a bare name that is not
    * registered is a LOUD error (used by graft-only statements, where
    * delegating the text would only yield a Spark syntax error) — and so
    * is a registered name shadowed by a temp view / catalog table, since
    * these statements cannot fall through to Spark meaningfully. */
  private def refLoud(g1: String, g2: String, g3: String,
                      g4: String): String =
    Option(g1).orElse(Option(g2)).getOrElse {
      val n = Option(g3).getOrElse(g4)
      resolveName(n) match {
        case Some(r) =>
          if (sessionShadowed(n)) throw new IllegalArgumentException(
            s"'$n' is a registered graft table but a temp view or " +
              "session-catalog table of the same name shadows it — " +
              "address it by path: graft.`<root>`")
          r
        case None => throw new IllegalArgumentException(
          s"'$n' is not a registered graft table — CREATE TABLE $n " +
            "USING graft LOCATION '<path>' first, or address it by " +
            "path: graft.`/path`")
      }
    }

  /** Resolve a [[Target]] match; None for an unregistered (or shadowed)
    * bare name — used by statements Spark's own grammar also parses
    * (TBLPROPERTIES), so non-graft tables fall through to Spark
    * untouched. */
  private def refQuiet(g1: String, g2: String, g3: String,
                       g4: String): Option[String] =
    Option(g1).orElse(Option(g2))
      .orElse(Option(g3).orElse(Option(g4)).flatMap(resolveUnshadowed))

  /** `'k' = 'v', 'k2'='v2'` — single-quoted keys/values, QUOTE-AWARE
    * (commas inside quotes are data, not separators); escaped quotes
    * unsupported on purpose. Full-coverage check: anything between the
    * matched pairs other than commas/whitespace is a loud error. */
  private def kvList(s: String): Map[String, String] = {
    val Kv = """'([^']*)'\s*=\s*'([^']*)'""".r
    val pairs = Kv.findAllMatchIn(s).toSeq
    val residue = Kv.replaceAllIn(s, "").replaceAll("""[,\s]""", "")
    if (pairs.isEmpty || residue.nonEmpty)
      throw new IllegalArgumentException(
        s"TBLPROPERTIES expects 'key' = 'value' pairs; got $s")
    pairs.map(m => m.group(1) -> m.group(2)).toMap
  }

  private def quotedList(s: String): Seq[String] = {
    val Q = """'([^']*)'""".r
    val names = Q.findAllMatchIn(s).toSeq
    val residue = Q.replaceAllIn(s, "").replaceAll("""[,\s]""", "")
    if (names.isEmpty || residue.nonEmpty)
      throw new IllegalArgumentException(s"expected quoted names; got $s")
    names.map(_.group(1))
  }

  /** `RETAIN n HOURS|DAYS` to milliseconds; None for the VERSIONS form
    * (or no RETAIN clause) — ONE conversion shared by the real vacuum
    * and its dry run, so the two can never diverge. */
  private def retainMs(keep: String, unit: String): Option[Long] =
    Option(unit).map(_.toUpperCase(java.util.Locale.ROOT)).collect {
      case u if u.startsWith("HOUR") => keep.toLong * 3600L * 1000L
      case u if u.startsWith("DAY") => keep.toLong * 24L * 3600L * 1000L
    }

  private def colList(s: String): Seq[String] =
    s.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
      .filter(_.nonEmpty).toSeq

  /** The statements Spark's grammar cannot parse; None = not ours,
    * delegate the text. `parseSelect` is the delegate's parser, for the
    * materialized-view AS SELECT tail. */
  private[graft] def parseStatement(sql: String,
                                    parseSelect: String => LogicalPlan)
      : Option[LogicalPlan] =
    sql match {
      case ShowTablesRe() =>
        Some(GraftShowTablesCommand())
      case BeginTxnRe() => Some(GraftTxnBeginCommand())
      case CommitTxnRe() => Some(GraftTxnCommitCommand())
      case RollbackTxnRe() => Some(GraftTxnRollbackCommand())
      case ShowViewsRe() =>
        Some(GraftShowViewsCommand())
      case CreateViewRe(orReplace, name, body) =>
        // validate the BODY parses now — a typo'd view must refuse at
        // CREATE, not at first read (full analysis runs in the command,
        // where the session is live and referenced names can resolve)
        parseSelect(body)
        Some(GraftCreateViewCommand(name, body.trim, orReplace != null))
      case DropViewRe(ifExists, name) =>
        // a temp view / session-catalog object of the name is Spark's
        // to drop; an unregistered bare name falls through too (Spark's
        // catalog views, or its own error message)
        if (sessionShadowed(name)) None
        else if (SparkSession.getActiveSession
            .exists(GraftCatalog.lookupView(_, name).isDefined))
          Some(GraftDropViewCommand(name, ifExists != null))
        else None
      case VacuumDryRe(g1, g2, g3, g4, keep, unit) =>
        val r = refLoud(g1, g2, g3, g4)
        retainMs(keep, unit) match {
          case Some(ms) => Some(GraftVacuumAgeDryRunCommand(r, ms))
          case None =>
            Some(GraftVacuumDryRunCommand(r, Option(keep).map(_.toInt)))
        }
      // TBLPROPERTIES statements exist in Spark's own grammar: claim a
      // bare name only when it is a REGISTERED graft table, so ALTER
      // TABLE on hive/temp tables falls through untouched
      case SetPropsRe(g1, g2, g3, g4, kvs) =>
        refQuiet(g1, g2, g3, g4).map(GraftSetPropsCommand(_, kvList(kvs)))
      case UnsetPropsRe(g1, g2, g3, g4, ks) =>
        refQuiet(g1, g2, g3, g4)
          .map(GraftUnsetPropsCommand(_, quotedList(ks)))
      case ShowPropsRe(g1, g2, g3, g4) =>
        refQuiet(g1, g2, g3, g4).map(GraftShowPropsCommand(_))
      case VacuumRe(g1, g2, g3, g4, keep, unit) =>
        val r = refLoud(g1, g2, g3, g4)
        retainMs(keep, unit) match {
          case Some(ms) => Some(GraftVacuumAgeCommand(r, ms))
          case None => Some(GraftVacuumCommand(r, Option(keep).map(_.toInt)))
        }
      case OptimizeRe(g1, g2, g3, g4, zorder) =>
        Some(GraftOptimizeCommand(refLoud(g1, g2, g3, g4),
          Option(zorder).toSeq.flatMap(_.split(","))
            .map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty)))
      case RestoreRe(g1, g2, g3, g4, v) =>
        Some(GraftRestoreCommand(refLoud(g1, g2, g3, g4), v.toInt))
      case RestoreTsRe(g1, g2, g3, g4, ts) =>
        Some(GraftRestoreTsCommand(refLoud(g1, g2, g3, g4), ts))
      case HistoryRe(g1, g2, g3, g4) =>
        Some(GraftHistoryCommand(refLoud(g1, g2, g3, g4)))
      case DetailRe(g1, g2, g3, g4) =>
        Some(GraftDetailCommand(refLoud(g1, g2, g3, g4)))
      case AddDerivedRe(g1, g2, g3, g4, p, daySrc, bucketN, bucketSrc) =>
        val (transform, src) =
          if (daySrc != null) ("day", daySrc)
          else (s"bucket:$bucketN", bucketSrc)
        Some(GraftAddDerivedCommand(refLoud(g1, g2, g3, g4), p,
          transform, src))
      case DropDerivedRe(g1, g2, g3, g4, p) =>
        Some(GraftDropDerivedCommand(refLoud(g1, g2, g3, g4), p))
      case RefreshMvRe(g1, g2, g3, g4) =>
        Some(GraftMvRefreshCommand(refLoud(g1, g2, g3, g4)))
      case CreateBranchRe(g1, g2, g3, g4, name, v) =>
        Some(GraftCreateBranchCommand(refLoud(g1, g2, g3, g4), name,
          Option(v).map(_.toInt)))
      case DropBranchRe(g1, g2, g3, g4, name) =>
        Some(GraftDropBranchCommand(refLoud(g1, g2, g3, g4), name))
      case FastForwardRe(g1, g2, g3, g4, name) =>
        Some(GraftFastForwardCommand(refLoud(g1, g2, g3, g4), name))
      case ShowBranchesRe(g1, g2, g3, g4) =>
        Some(GraftShowBranchesCommand(refLoud(g1, g2, g3, g4)))
      case CreateDedupIdxRe(i1, i2, i3, i4, s1, s2, s3, s4, idCol,
          textCol, opts) =>
        val (idxRoot, register) = indexTarget(i1, i2, i3, i4,
          "CREATE DEDUP INDEX")
        val o = indexOptions(opts, "CREATE DEDUP INDEX",
          Set("shingle", "perm", "bands", "seed"))
        Some(GraftDedupIndexCreateCommand(idxRoot, register,
          refLoud(s1, s2, s3, s4), idCol, textCol,
          o.getOrElse("shingle", "3").toInt,
          o.getOrElse("perm", "64").toInt,
          o.getOrElse("bands", "32").toInt,
          o.getOrElse("seed", "42").toLong))
      case CreateAnnIdxRe(i1, i2, i3, i4, s1, s2, s3, s4, idCol,
          vecCol, opts) =>
        val (idxRoot, register) = indexTarget(i1, i2, i3, i4,
          "CREATE ANN INDEX")
        val o = indexOptions(opts, "CREATE ANN INDEX",
          Set("nlist", "kmeans", "quantized"))
        Some(GraftAnnIndexCreateCommand(idxRoot, register,
          refLoud(s1, s2, s3, s4), idCol, vecCol,
          o.getOrElse("nlist", "16").toInt,
          o.getOrElse("kmeans", "2").toInt,
          o.getOrElse("quantized", "false").toBoolean))
      case RefreshIdxRe(kind, g1, g2, g3, g4) =>
        Some(GraftIndexRefreshCommand(refLoud(g1, g2, g3, g4),
          kind.toUpperCase(java.util.Locale.ROOT) == "ANN"))
      case DropIdxRe(kind, ifEx, g1, g2, g3, g4) =>
        // IF EXISTS swallows only "nothing there" (unregistered name /
        // no spec at the path) — a KIND mismatch or a shadowed name is
        // always loud; resolution mirrors refLoud minus the not-
        // registered throw
        val name = Option(g3).orElse(Option(g4))
        name.filter(sessionShadowed).foreach(n =>
          throw new IllegalArgumentException(
            s"'$n' is a registered graft name but a temp view or " +
              "session-catalog table of the same name shadows it — " +
              "address the index by path: graft.`<root>`"))
        Some(GraftIndexDropCommand(
          Option(g1).orElse(Option(g2)).orElse(name.flatMap(resolveName)),
          name, kind.toUpperCase(java.util.Locale.ROOT) == "ANN",
          ifEx != null))
      case ShowIndexesRe() => Some(GraftShowIndexesCommand())
      case DescIdxRe(kind, g1, g2, g3, g4) =>
        Some(GraftIndexDescribeCommand(refLoud(g1, g2, g3, g4),
          kind.toUpperCase(java.util.Locale.ROOT) == "ANN"))
      case CreateExpectRe(name, t1, t2, t3, t4, sql, dropKw,
          q1, q2, q3, q4) =>
        val root = refLoud(t1, t2, t3, t4)
        if (dropKw != null)
          Some(GraftExpectationCreateCommand(root, name, sql, None, None))
        else {
          // the quarantine target may be an EXISTING registered table
          // (quarantine into it) or an unregistered name (the quarantine
          // table being born — managed root, registered now; the table
          // itself materializes at the first violation)
          val (qroot, register) = Option(q1).orElse(Option(q2)) match {
            case Some(path) => (path, None)
            case None =>
              val n = Option(q3).getOrElse(q4)
              require(!n.contains("@"),
                s"QUARANTINE INTO cannot target a branch ref: $n")
              resolveName(n) match {
                case Some(r) => (r, None)
                case None =>
                  require(!sessionShadowed(n),
                    s"QUARANTINE INTO: a temp view or session-catalog " +
                      s"table named $n shadows the name — the quarantine " +
                      "table would be unreachable; pick another name or " +
                      "use a path")
                  val spark = SparkSession.active
                  require(GraftCatalog.lookupView(spark, n).isEmpty,
                    s"QUARANTINE INTO: a graft VIEW named $n already exists")
                  (GraftCatalog.managedRoot(spark, n), Some(n))
              }
          }
          Some(GraftExpectationCreateCommand(root, name, sql, Some(qroot),
            register))
        }
      case DropExpectRe(name, t1, t2, t3, t4) =>
        Some(GraftExpectationDropCommand(refLoud(t1, t2, t3, t4), name))
      case ShowExpectRe(t1, t2, t3, t4) =>
        Some(GraftShowExpectationsCommand(Some(refLoud(t1, t2, t3, t4))))
      case ShowExpectAllRe() =>
        Some(GraftShowExpectationsCommand(None))
      case CreateMvRe(g1, g2, g3, g4, keys, select) =>
        // CREATE MV by NAME: an unregistered name is the view being
        // born — register it against a managed root after the build
        val (viewRoot, register) = Option(g1).orElse(Option(g2)) match {
          case Some(path) => (path, None)
          case None =>
            val n = Option(g3).getOrElse(g4)
            require(!n.contains("@"),
              s"CREATE MATERIALIZED VIEW cannot target a branch ref: $n")
            resolveName(n) match {
              case Some(r) => (r, None)
              case None =>
                val spark = SparkSession.active
                (GraftCatalog.managedRoot(spark, n), Some(n))
            }
        }
        Some(mvCreate(viewRoot, colList(keys), select, parseSelect)
          .copy(registerName = register))
      case _ => None
    }

  /** A CREATE ... INDEX target: a path is used verbatim; an
    * UNREGISTERED name is the index being born — resolved to a managed
    * root and registered after the build succeeds (the CREATE MV
    * discipline); a name already taken by a table/view — or SHADOWED
    * by a temp view (the created index would be unreachable by the
    * name that created it) — refuses. */
  private def indexTarget(g1: String, g2: String, g3: String, g4: String,
                          stmt: String): (String, Option[String]) =
    Option(g1).orElse(Option(g2)) match {
      case Some(path) => (path, None)
      case None =>
        val n = Option(g3).getOrElse(g4)
        require(!n.contains("@"), s"$stmt cannot target a branch ref: $n")
        require(!sessionShadowed(n),
          s"$stmt: a temp view or session-catalog table named $n " +
            "shadows the name — the index would be unreachable; pick " +
            "another name or use a path")
        resolveName(n) match {
          case Some(_) => throw new IllegalArgumentException(
            s"$stmt: $n already names a registered graft table/index")
          case None =>
            val spark = SparkSession.active
            require(GraftCatalog.lookupView(spark, n).isEmpty,
              s"$stmt: a graft VIEW named $n already exists")
            (GraftCatalog.managedRoot(spark, n), Some(n))
        }
    }

  /** OPTIONS for CREATE ... INDEX: quoted k/v pairs validated against
    * the statement's known keys — a typo'd option must refuse, never
    * silently build a structurally different index. */
  private def indexOptions(opts: String, stmt: String,
                           allowed: Set[String]): Map[String, String] = {
    val o = Option(opts).map(kvList).getOrElse(Map.empty)
    val stray = o.keys.filterNot(allowed)
    require(stray.isEmpty,
      s"$stmt: unknown OPTIONS ${stray.mkString(", ")} — supported: " +
        allowed.toSeq.sorted.mkString(", "))
    o
  }

  /** Extract a [[graft.ops.MatView]] spec from the MV statement's
    * AS SELECT: `SELECT g..., agg(col) AS alias... FROM
    * graft_table('/src') GROUP BY g...` with aggs ∈ sum/min/max and
    * count(*). Every aggregate must be aliased (the alias is the view's
    * served column name); anything outside the maintainable shape is a
    * loud error naming what is supported. */
  private def mvCreate(viewRoot: String, keys: Seq[String], select: String,
                       parseSelect: String => LogicalPlan)
      : GraftMvCreateCommand = {
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedFunction, UnresolvedStar, UnresolvedTableValuedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def unsupported(what: String): Nothing =
      throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW supports SELECT <group cols>, " +
          "sum|avg|min|max|approx_count_distinct(col) AS alias..., " +
          "count(*) AS alias FROM graft_table('/src') " +
          s"GROUP BY <group cols>; got $what")
    parseSelect(select) match {
      case Aggregate(groupExprs, resultExprs, child, _) =>
        val srcRoot = child.collectFirst {
          case tvf: UnresolvedTableValuedFunction
              if tvf.name.last.equalsIgnoreCase("graft_table") =>
            tvf.functionArgs match {
              case Seq(Literal(s, _)) => Some(s.toString)
              case _ => unsupported("a non-literal graft_table argument")
            }
          // a registered named table works as the source too (ONE
          // catalog probe: resolve, never test-then-re-resolve)
          case u: UnresolvedRelation if u.multipartIdentifier.length == 1 =>
            resolveName(u.multipartIdentifier.head)
        }.flatten.getOrElse(unsupported(s"FROM ${child.nodeName}"))
        val groups = groupExprs.map {
          case a: UnresolvedAttribute => a.nameParts.last
          case other => unsupported(s"GROUP BY ${other.sql}")
        }
        var sums = Vector.empty[(String, String)]
        var mins = Vector.empty[(String, String)]
        var maxs = Vector.empty[(String, String)]
        var avgs = Vector.empty[(String, String)]
        var dcts = Vector.empty[(String, String)]
        var countAlias: Option[String] = None
        resultExprs.foreach {
          case a: UnresolvedAttribute if groups.contains(a.nameParts.last) =>
            () // group column re-selected
          case Alias(f: UnresolvedFunction, name) if !f.isDistinct =>
            (f.nameParts.last.toLowerCase, f.arguments) match {
              case ("sum", Seq(c: UnresolvedAttribute)) =>
                sums :+= (name -> c.nameParts.last)
              case ("min", Seq(c: UnresolvedAttribute)) =>
                mins :+= (name -> c.nameParts.last)
              case ("max", Seq(c: UnresolvedAttribute)) =>
                maxs :+= (name -> c.nameParts.last)
              case ("avg", Seq(c: UnresolvedAttribute)) =>
                avgs :+= (name -> c.nameParts.last)
              case ("approx_count_distinct", Seq(c: UnresolvedAttribute)) =>
                dcts :+= (name -> c.nameParts.last)
              case ("count", Seq(_: UnresolvedStar)) =>
                countAlias = Some(name)
              case ("count", Seq(Literal(_, _))) =>
                countAlias = Some(name)
              case (fn, _) => unsupported(s"$fn(${f.arguments.map(_.sql)
                .mkString(", ")})")
            }
          case other => unsupported(other.sql +
            " (alias every aggregate: sum(x) AS x_sum)")
        }
        GraftMvCreateCommand(viewRoot, srcRoot, keys, groups,
          sums, mins, maxs, countAlias, avgs, dcts)
      case other => unsupported(s"a ${other.nodeName} statement")
    }
  }

  /** The `graft`.`<root>` target of a DML command (through an optional
    * alias), with the alias so predicate qualifiers can be stripped.
    * Only PATH-shaped roots (containing '/') are claimed — DML on
    * two-part identifiers under a genuine catalog database named `graft`
    * (e.g. `DELETE FROM graft.sales`) passes through to Spark's own
    * resolution untouched. */
  private def graftTarget(plan: LogicalPlan)
      : Option[(String, Option[String])] = plan match {
    case SubqueryAlias(ident, child) =>
      graftTarget(child).map { case (r, _) => (r, Some(ident.name)) }
    case u: UnresolvedRelation if u.multipartIdentifier.length == 2 &&
        u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
        u.multipartIdentifier(1).contains("/") =>
      Some((u.multipartIdentifier(1), None))
    // a bare single-part name that is a REGISTERED graft table; an
    // unregistered or SHADOWED name passes through to Spark's own
    // resolution (reads resolve the shadow, so writes must too)
    case u: UnresolvedRelation if u.multipartIdentifier.length == 1 =>
      val n = u.multipartIdentifier.head
      resolveUnshadowed(n).orElse {
        // a graft VIEW as a DML target is a loud refusal, not a Spark
        // "table not found": reads serve the saved query, so there is
        // nothing addressable to write
        if (!sessionShadowed(n) && SparkSession.getActiveSession
            .exists(GraftCatalog.lookupView(_, n).isDefined))
          throw new IllegalArgumentException(
            s"$n is a graft VIEW (a saved query) — DML on a view is " +
              "not supported; write to the tables it reads")
        None
      }.map(r => (r, None))
    case _ => None
  }

  /** The graft root behind an ALTER/DESCRIBE identifier: two-part
    * `graft`.`/path` or a registered single-part name. */
  private def graftTableIdent(parts: Seq[String]): Option[String] =
    parts match {
      case Seq(a, b) if a.equalsIgnoreCase("graft") && b.contains("/") =>
        Some(b)
      case Seq(n) => resolveUnshadowed(n)
      case _ => None
    }

  /** `t.col` -> `col` when `t` is the statement's own table alias — the
    * engine re-resolves the predicate against a bare table scan, where
    * the alias does not exist. */
  private def stripQualifier(e: Expression, alias: Option[String])
      : Expression = alias match {
    case None => e
    case Some(a) => e.transform {
      case attr: UnresolvedAttribute if attr.nameParts.length > 1 &&
          attr.nameParts.head.equalsIgnoreCase(a) =>
        UnresolvedAttribute(attr.nameParts.tail)
    }
  }

  private def asColumn(e: Expression, alias: Option[String]): Column =
    ColumnBridge.column(stripQualifier(e, alias))

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case x => Seq(x)
  }

  /** Upsert keys from the MERGE ON clause: a conjunction of
    * `t.k = s.k` equalities over same-named columns, each relating the
    * TARGET to the SOURCE — a degenerate `t.k = t.k` (standard MERGE
    * semantics: every source row matches) or an unknown qualifier is a
    * loud error, never a silent reinterpretation as an upsert key. */
  private def mergeKeys(cond: Expression, tAlias: Option[String],
                        sAlias: Option[String]): Seq[String] = {
    // 'T' target-qualified, 'S' source-qualified, 'U' unqualified
    def side(a: UnresolvedAttribute): Char =
      if (a.nameParts.length == 1) 'U'
      else if (tAlias.exists(_.equalsIgnoreCase(a.nameParts.head))) 'T'
      else if (sAlias.exists(_.equalsIgnoreCase(a.nameParts.head))) 'S'
      else throw new IllegalArgumentException(
        s"MERGE ON references a qualifier that is neither the target " +
          s"nor the source alias: ${a.sql}")
    splitConj(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        val (sa, sb) = (side(a), side(b))
        require(sa == 'U' || sb == 'U' || sa != sb,
          s"MERGE ON equality ${a.sql} = ${b.sql} references the same " +
            "table on both sides — an upsert key must relate target and " +
            "source")
        // both sides unqualified is the same degenerate self-comparison
        // (the case guard already forces same names, so `col = col`
        // matches every source row) — reject it, not just the
        // same-qualifier shape
        require(sa != 'U' || sb != 'U',
          s"MERGE ON equality ${a.sql} = ${b.sql} is ambiguous — " +
            "qualify at least one side with the target or source alias " +
            "so the key relates target and source")
        a.nameParts.last
      case other => throw new IllegalArgumentException(
        "MERGE INTO graft.`root` supports ON as a conjunction of " +
          s"t.k = s.k equalities over same-named columns; got: ${other.sql}")
    }
  }

  /** Declared layout from a CREATE/REPLACE statement: identity partition
    * columns, `day()`/`bucket(N, )` TRANSFORM partitioning (a derived
    * partition column named `<src>_day` / `<src>_bucket`, computed by
    * every write and registered for predicate mapping at the first one),
    * and the three graft.* properties — anything else loud. Returns
    * (partCols, keys, statsCols, bloomCols, derived) with derived as
    * (partCol, kind, srcCol). Shared by CREATE / CTAS / REPLACE / RTAS. */
  private def tableDecl(partitioning:
        Seq[org.apache.spark.sql.connector.expressions.Transform],
      spec: UnresolvedTableSpec, stmt: String)
      : (Seq[String], Seq[String], Seq[String], Seq[String],
         Seq[(String, String, String)]) = {
    import org.apache.spark.sql.connector.expressions.{Literal => TLit}
    var derived = Vector.empty[(String, String, String)]
    val partCols = partitioning.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      // `day(ts)` / `days(ts)` — Spark parses the plural as its own
      // DaysTransform, the singular as a generic apply; both accepted
      case t if Set("day", "days").contains(t.name.toLowerCase(
          java.util.Locale.ROOT)) && t.references.length == 1 =>
        val src = t.references.head.fieldNames.mkString(".")
        val p = s"${src}_day"
        derived :+= ((p, "day", src))
        p
      case t if t.name.equalsIgnoreCase("bucket") &&
          t.references.length == 1 =>
        val n = t.arguments.collectFirst {
          case l: TLit[_] if l.value.isInstanceOf[Int] =>
            l.value.asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException(
          s"$stmt: bucket() needs a literal bucket count"))
        val src = t.references.head.fieldNames.mkString(".")
        val p = s"${src}_bucket"
        derived :+= ((p, s"bucket:$n", src))
        p
      case other => throw new IllegalArgumentException(
        s"$stmt ... USING graft supports PARTITIONED BY plain columns, " +
          s"day(col), and bucket(n, col); got transform $other")
    }
    def colsProp(k: String): Seq[String] = spec.properties.get(k)
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val stray = spec.properties.keys.filterNot(
      Set("graft.keys", "graft.stats", "graft.blooms"))
    require(stray.isEmpty,
      s"$stmt ... USING graft accepts the 'graft.keys' / 'graft.stats' " +
        s"/ 'graft.blooms' properties; set ${stray.mkString(", ")} after " +
        "CREATE with ALTER TABLE ... SET TBLPROPERTIES")
    val keys = colsProp("graft.keys")
    derived.foreach { case (p, kind, src) =>
      require(keys.exists(_.equalsIgnoreCase(src)),
        s"$stmt: transform partitioning ${kind.takeWhile(_ != ':')}" +
          s"($src) needs $src among the merge keys " +
          "(TBLPROPERTIES('graft.keys'='...')) — the partition is a " +
          "pure function of the key, so a row's rewrite stays in its " +
          "partition")
    }
    (partCols, keys, colsProp("graft.stats"), colsProp("graft.blooms"),
      derived.toSeq)
  }

  /** A CREATE/REPLACE column list as a schema DDL string (None when the
    * statement declares no columns), with the reserved-`__` namespace
    * enforced — shared so the two statements cannot diverge. */
  private def declaredSchemaDdl(columns:
      Seq[org.apache.spark.sql.catalyst.plans.logical.ColumnDefinition])
      : Option[String] = {
    columns.map(_.name).filter(_.startsWith("__")).foreach(c =>
      throw new IllegalArgumentException(
        s"column name $c is reserved (the __ prefix is internal)"))
    // the catalog entry stores a plain DDL string, which cannot carry a
    // default — refusing beats silently dropping a declared DEFAULT
    // (defaults are table-lifecycle metadata: set them after CREATE)
    columns.filter(_.defaultValue.isDefined).map(_.name) match {
      case Seq() => ()
      case ds => throw new IllegalArgumentException(
        s"CREATE TABLE ... USING graft does not take column DEFAULTs " +
          s"(${ds.mkString(", ")}) — ALTER TABLE ... ADD COLUMN ... " +
          "DEFAULT or ALTER COLUMN ... SET DEFAULT after CREATE")
    }
    if (columns.isEmpty) None
    else Some(org.apache.spark.sql.types.StructType(columns.map(cd =>
      org.apache.spark.sql.types.StructField(cd.name, cd.dataType,
        cd.nullable))).toDDL)
  }

  /** Swap Spark's parsed DML commands for graft's runnable ones when the
    * target is a `graft`.`root` identifier; any other plan (including
    * DML on real catalog tables) passes through untouched. */
  private[graft] def rewriteDml(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case d: DeleteFromTable =>
        graftTarget(d.table) match {
          case Some((r, alias)) =>
            GraftDeleteCommand(r, asColumn(d.condition, alias))
          case None => d
        }
      case u: UpdateTable =>
        graftTarget(u.table) match {
          case Some((r, alias)) =>
            val set = u.assignments.map {
              case Assignment(key: UnresolvedAttribute, value) =>
                // only bare or alias-qualified TOP-LEVEL columns: a
                // mis-typed qualifier or a struct-field SET must error,
                // not silently write whatever the last name part hits
                val target = key.nameParts match {
                  case Seq(c) => c
                  case Seq(q, c) if alias.exists(_.equalsIgnoreCase(q)) => c
                  case _ => throw new IllegalArgumentException(
                    "UPDATE graft.`root` SET targets must be bare or " +
                      s"alias-qualified top-level columns; got: ${key.sql}" +
                      alias.fold("")(a => s" (table alias: $a)"))
                }
                target -> asColumn(value, alias)
              case other => throw new IllegalArgumentException(
                s"UPDATE graft.`root` SET targets must be columns; " +
                  s"got: ${other.sql}")
            }
            require(set.map(_._1).distinct.length == set.length,
              "duplicate column in UPDATE SET: " +
                set.map(_._1).mkString(", "))
            GraftUpdateCommand(r, set,
              u.condition.map(asColumn(_, alias)))
          case None => u
        }
      case c @ CreateTable(UnresolvedIdentifier(Seq(name), _), columns,
          partitioning, spec: UnresolvedTableSpec, ifNotExists)
          if spec.provider.exists(_.equalsIgnoreCase("graft")) =>
        // the concrete IdentityTransform class is private[sql]; the
        // public connector Transform API names it "identity"
        val (partCols, keys, statsCols, bloomCols, derived) =
          tableDecl(partitioning, spec, "CREATE TABLE")
        GraftCreateTableCommand(name, spec.location,
          declaredSchemaDdl(columns), partCols,
          keys, statsCols, bloomCols, ifNotExists, derived)
      case r @ org.apache.spark.sql.catalyst.plans.logical.ReplaceTable(
          UnresolvedIdentifier(Seq(name), _), columns, partitioning,
          spec: UnresolvedTableSpec, orCreate)
          if spec.provider.exists(_.equalsIgnoreCase("graft")) =>
        val (partCols, keys, statsCols, bloomCols, derivedR) =
          tableDecl(partitioning, spec, "REPLACE TABLE")
        require(derivedR.isEmpty,
          "REPLACE TABLE does not take transform partitioning — " +
            "CREATE the table with it, or ALTER ... ADD DERIVED " +
            "PARTITION after")
        GraftReplaceTableCommand(name, spec.location,
          declaredSchemaDdl(columns), partCols,
          keys, statsCols, bloomCols, orCreate, None)
      case r @ org.apache.spark.sql.catalyst.plans.logical
          .ReplaceTableAsSelect(UnresolvedIdentifier(Seq(name), _),
            partitioning, query, spec: UnresolvedTableSpec, _, orCreate, _)
          if spec.provider.exists(_.equalsIgnoreCase("graft")) =>
        val (partCols, keys, statsCols, bloomCols, derivedRt) =
          tableDecl(partitioning, spec, "REPLACE TABLE")
        require(derivedRt.isEmpty,
          "REPLACE TABLE does not take transform partitioning — " +
            "CREATE the table with it, or ALTER ... ADD DERIVED " +
            "PARTITION after")
        GraftReplaceTableCommand(name, spec.location, None, partCols,
          keys, statsCols, bloomCols, orCreate,
          Some(resolveNamedTables(query)))
      case c @ CreateTableAsSelect(UnresolvedIdentifier(Seq(name), _),
          partitioning, query, spec: UnresolvedTableSpec, _, ifNotExists, _)
          if spec.provider.exists(_.equalsIgnoreCase("graft")) =>
        val (partCols, keys, statsCols, bloomCols, derivedC) =
          tableDecl(partitioning, spec, "CREATE TABLE")
        GraftCreateTableAsCommand(name, spec.location, partCols,
          keys, statsCols, bloomCols, resolveNamedTables(query),
          ifNotExists, derivedC)
      case sc @ ShowCreateTable(tv: UnresolvedTableOrView, _, _) =>
        tv.multipartIdentifier match {
          case Seq(a, b) if a.equalsIgnoreCase("graft") && b.contains("/") =>
            GraftShowCreateTableCommand(None, b)
          case Seq(n) =>
            resolveUnshadowed(n)
              .map(r => GraftShowCreateTableCommand(Some(n), r))
              .getOrElse(sc)
          case _ => sc
        }
      case d @ DropTable(UnresolvedIdentifier(Seq(name), _), ifExists,
          purge) =>
        if (resolveUnshadowed(name).isEmpty) d // not ours — Spark's
        else if (purge) throw new IllegalArgumentException(
          "DROP TABLE ... PURGE is not supported on graft tables: DROP " +
            "TABLE only unregisters the name; the data and history stay " +
            "at the table's root (VACUUM to retire versions)")
        else GraftDropTableCommand(name, ifExists)
      case i: InsertIntoStatement =>
        graftTarget(i.table) match {
          case Some((r, _)) =>
            require(i.partitionSpec.isEmpty,
              "INSERT " + (if (i.overwrite) "OVERWRITE" else "INTO") +
                " graft tables takes no PARTITION clause — partition " +
                "values ride in the rows")
            GraftInsertCommand(r, i.userSpecifiedCols,
              resolveNamedTables(i.query), i.byName, i.overwrite)
          case None => i
        }
      case t @ org.apache.spark.sql.catalyst.plans.logical.TruncateTable(
          ut: UnresolvedTable) =>
        graftTableIdent(ut.multipartIdentifier) match {
          case Some(r) => GraftTruncateCommand(r)
          case None => t
        }
      case tp @ org.apache.spark.sql.catalyst.plans.logical
          .TruncatePartition(ut: UnresolvedTable, _) =>
        graftTableIdent(ut.multipartIdentifier) match {
          case Some(_) => throw new IllegalArgumentException(
            "TRUNCATE TABLE ... PARTITION is not supported on graft " +
              "tables — DELETE FROM t WHERE <partition predicate> " +
              "rewrites only the matching directories")
          case None => tp
        }
      case d @ DescribeRelation(tv: UnresolvedTableOrView, partSpec,
          isExtended, _) =>
        graftTableIdent(tv.multipartIdentifier) match {
          case Some(r) =>
            require(partSpec.isEmpty,
              "DESCRIBE ... PARTITION is not supported on graft tables; " +
                "query graft_partitions('<root>') instead")
            GraftDescribeTableCommand(r, isExtended)
          case None => d
        }
      case a @ AddColumns(t: UnresolvedTable, cols) =>
        graftTableIdent(t.multipartIdentifier) match {
          case Some(r) =>
            val simple = cols.collect {
              case QualifiedColType(None, cn, dt, true, None, None, dve) =>
                (cn, dt, dve.map(_.originalSQL))
            }
            require(simple.length == cols.length,
              "ALTER TABLE ... ADD COLUMN on graft tables supports plain " +
                "nullable columns with an optional DEFAULT (no NOT NULL/" +
                "position/comment/nested paths)")
            GraftAddColumnsCommand(r, simple)
          case None => a
        }
      case d @ DropColumns(t: UnresolvedTable, cols, ifExists) =>
        graftTableIdent(t.multipartIdentifier) match {
          case Some(r) =>
            require(!ifExists,
              "ALTER TABLE ... DROP COLUMN IF EXISTS is not supported " +
                "on graft tables — drop only columns you know exist")
            val names = cols.map {
              case UnresolvedFieldName(Seq(n)) => n
              case other => throw new IllegalArgumentException(
                s"DROP COLUMN on graft tables takes top-level columns; " +
                  s"got ${other.sql}")
            }
            GraftDropColumnsCommand(r, names)
          case None => d
        }
      case ac @ org.apache.spark.sql.catalyst.plans.logical.AlterColumns(
          t: UnresolvedTable, specs) =>
        graftTableIdent(t.multipartIdentifier) match {
          case Some(r) =>
            // two supported spec shapes: TYPE widening, and SET/DROP
            // DEFAULT — a statement mixes freely within one kind
            val widens = specs.collect {
              case org.apache.spark.sql.catalyst.plans.logical
                  .AlterColumnSpec(UnresolvedFieldName(Seq(c)), Some(dt),
                    None, None, None, None, false) => (c, dt)
            }
            val defaults = specs.collect {
              case org.apache.spark.sql.catalyst.plans.logical
                  .AlterColumnSpec(UnresolvedFieldName(Seq(c)), None,
                    None, None, None, Some(dve), false) =>
                (c, Some(dve.originalSQL))
              case org.apache.spark.sql.catalyst.plans.logical
                  .AlterColumnSpec(UnresolvedFieldName(Seq(c)), None,
                    None, None, None, None, true) =>
                (c, None: Option[String])
            }
            if (widens.length == specs.length)
              GraftWidenColumnsCommand(r, widens)
            else if (defaults.length == specs.length)
              GraftAlterDefaultsCommand(r, defaults)
            else throw new IllegalArgumentException(
              "ALTER COLUMN on graft tables supports TYPE widening or " +
                "SET/DROP DEFAULT of top-level columns; got " +
                specs.map(_.sql).mkString(", "))
          case None => ac
        }
      // Spark 4.1 parses `ADD CONSTRAINT n CHECK (e)` to
      // AddCheckConstraint(Filter(e, relation), CheckConstraint) — the
      // condition rides BOTH as the filter and as the constraint's
      // recorded text; the engine re-validates the text at registration
      case ac @ org.apache.spark.sql.catalyst.plans.logical
          .AddCheckConstraint(child, chk) =>
        child.collectFirst { case u: UnresolvedRelation => u }
          .flatMap(u => graftTableIdent(u.multipartIdentifier)) match {
          case Some(r) =>
            require(chk.userProvidedName != null,
              "graft CHECK constraints are keyed by name — " +
                "ADD CONSTRAINT <name> CHECK (...)")
            GraftAddConstraintCommand(r, chk.userProvidedName,
              chk.condition)
          case None => ac
        }
      case ac @ org.apache.spark.sql.catalyst.plans.logical.AddConstraint(
          t: UnresolvedTable, constraint) =>
        graftTableIdent(t.multipartIdentifier) match {
          case Some(_) => throw new IllegalArgumentException(
            "graft tables support CHECK constraints only; got " +
              constraint.getClass.getSimpleName.stripSuffix("$"))
          case None => ac
        }
      case dc @ org.apache.spark.sql.catalyst.plans.logical.DropConstraint(
          t: UnresolvedTable, cname, ifExists, cascade) =>
        graftTableIdent(t.multipartIdentifier) match {
          case Some(r) =>
            require(!ifExists,
              "DROP CONSTRAINT IF EXISTS is not supported on graft " +
                "tables — drop only constraints you know exist")
            require(!cascade,
              "DROP CONSTRAINT ... CASCADE is not supported on graft " +
                "tables (CHECK constraints have no dependents)")
            GraftDropConstraintCommand(r, cname)
          case None => dc
        }
      case rc @ RenameColumn(t: UnresolvedTable,
          UnresolvedFieldName(Seq(from)), to) =>
        graftTableIdent(t.multipartIdentifier) match {
          case Some(r) => GraftRenameColumnCommand(r, from, to)
          case None => rc
        }
      case m: MergeIntoTable =>
        graftTarget(m.targetTable) match {
          case Some((r, tAlias)) =>
            val sAlias = m.sourceTable match {
              case SubqueryAlias(id, _) => Some(id.name)
              case u: UnresolvedRelation =>
                Some(u.multipartIdentifier.last)
              case _ => None
            }
            val keys = mergeKeys(m.mergeCondition, tAlias, sAlias)
            val src = resolveNamedTables(m.sourceTable)
            (m.matchedActions, m.notMatchedActions,
                m.notMatchedBySourceActions) match {
              // canonical upsert keeps its fast pruned path (and is the
              // only shape WITH SCHEMA EVOLUTION applies to)
              case (Seq(UpdateStarAction(None)),
                    Seq(InsertStarAction(None)), Seq()) =>
                GraftMergeCommand(r, src, keys, m.withSchemaEvolution)
              case (ma, na, nba) =>
                require(!m.withSchemaEvolution,
                  "MERGE WITH SCHEMA EVOLUTION is supported only on the " +
                    "canonical UPDATE SET * / INSERT * shape")
                def assigns(as: Seq[Expression]): Seq[(String, Column)] =
                  as.map {
                    case Assignment(key: UnresolvedAttribute, value) =>
                      val target = key.nameParts match {
                        case Seq(c) => c
                        case Seq(q, c)
                            if tAlias.exists(_.equalsIgnoreCase(q)) => c
                        case _ => throw new IllegalArgumentException(
                          "MERGE UPDATE SET targets must be bare or " +
                            "target-alias-qualified top-level columns; " +
                            s"got: ${key.sql}")
                      }
                      target -> ColumnBridge.column(value)
                    case other => throw new IllegalArgumentException(
                      s"MERGE UPDATE SET targets must be columns; got: " +
                        other.sql)
                  }
                val matched = ma.map {
                  case UpdateStarAction(c) =>
                    (c.map(ColumnBridge.column), Some(Seq.empty[(String,
                      Column)]))
                  case UpdateAction(c, as, _) =>
                    (c.map(ColumnBridge.column), Some(assigns(as)))
                  case DeleteAction(c) => (c.map(ColumnBridge.column),
                    None)
                  case other => throw new IllegalArgumentException(
                    s"unsupported WHEN MATCHED action: $other")
                }
                val insertWhen = na match {
                  case Seq() => None
                  case Seq(InsertStarAction(c)) =>
                    Some(c.map(ColumnBridge.column))
                  case _ => throw new IllegalArgumentException(
                    "WHEN NOT MATCHED supports a single INSERT * clause " +
                      "(explicit INSERT column lists are not supported)")
                }
                val bySource = nba.map {
                  case UpdateAction(c, as, _) =>
                    (c.map(ColumnBridge.column), Some(assigns(as)))
                  case DeleteAction(c) => (c.map(ColumnBridge.column),
                    None)
                  case other => throw new IllegalArgumentException(
                    s"unsupported WHEN NOT MATCHED BY SOURCE action: " +
                      other)
                }
                GraftMergeClausesCommand(r, src, keys, matched,
                  insertWhen, bySource, tAlias, sAlias)
            }
          case None => m
        }
    }

  /** Substitute every remaining single-part [[UnresolvedRelation]] whose
    * name is a registered graft table with the pinned versioned relation
    * (or the served shape of a materialized view) — `SELECT ... FROM
    * metrics` works like `FROM graft_table('/its/root')`. Runs AFTER
    * [[rewriteDml]], so DML targets are already claimed and everything
    * left is a read position (including subqueries). Spark's own
    * resolution order is preserved: a CTE, temp view, or session-catalog
    * table of the same name shadows the graft name. */
  private[graft] def resolveNamedTables(plan: LogicalPlan): LogicalPlan =
    SparkSession.getActiveSession match {
      case None => plan
      case Some(spark) =>
        def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
        // CTE names are LEXICALLY scoped, exactly as CTESubstitution
        // will later resolve them: a definition body sees the outer
        // WITH's names plus its PRIOR siblings (itself too only under
        // WITH RECURSIVE), and a CTE defined inside one subquery is
        // invisible to the rest of the plan. A plan-global name collect
        // gets both directions wrong — an inner subquery's CTE would
        // shadow an unrelated outer graft reference, and a CTE body
        // recursing with a FRESH collect would lose its outer WITH's
        // names and resolve a sibling reference to the graft table.
        // `views` = the chain of graft view names currently being
        // inlined (cycle detection): a view body gets a FRESH CTE scope
        // (views are self-contained saved queries — outer CTE names must
        // not leak in) but the accumulated view chain.
        def go(p: LogicalPlan, scope: Set[String],
               views: Set[String] = Set.empty): LogicalPlan = p match {
          case w: UnresolvedWith =>
            var sc =
              if (w.allowRecursion) scope ++ w.cteRelations.map(t => lc(t._1))
              else scope
            val ctes = w.cteRelations.map { case (n, sq, o) =>
              val resolved = go(sq, sc, views).asInstanceOf[
                org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias]
              sc += lc(n)
              (n, resolved, o)
            }
            w.copy(child = go(w.child, sc, views), cteRelations = ctes)
          case u: UnresolvedRelation if u.multipartIdentifier.length == 1 =>
            val name = u.multipartIdentifier.head
            // cheap in-memory shadow checks FIRST — the catalog probe
            // is filesystem I/O and most single-part names are views.
            // INSIDE a view body, session temp-view shadows are NOT
            // honored: CREATE VIEW refused session-scoped references,
            // so a temp view created afterwards must not hijack the
            // persistent body's tables — graft resolution wins, and a
            // shadow with no graft object behind it refuses loudly.
            if (scope.contains(lc(name)) ||
                (views.isEmpty && sessionShadowed(name))) u
            else resolveName(name).map(relationFor(spark, _)).getOrElse(
              GraftCatalog.lookupView(spark, name) match {
                case Some(body) =>
                  if (views.contains(lc(name)))
                    throw new IllegalArgumentException(
                      s"circular view reference: $name (chain: " +
                        s"${views.mkString(" -> ")} -> $name)")
                  // late binding: the body parses + resolves at READ
                  // time, so the view serves the tables' (and nested
                  // views') current definitions
                  SubqueryAlias(name,
                    go(spark.sessionState.sqlParser.parseQuery(body),
                      Set.empty, views + lc(name)))
                case None =>
                  // refuse only TEMP views (session state): a persistent
                  // session-catalog table is legitimate at CREATE and
                  // must stay resolvable at read — fall through to
                  // Spark's own resolution for it
                  if (views.nonEmpty && spark.sessionState.catalog
                      .getTempView(name).isDefined)
                    throw new IllegalArgumentException(
                      s"view body reference '$name' resolves only to a " +
                        "session temp view: a persistent view cannot " +
                        "capture session state (was the graft table it " +
                        "referenced dropped?)")
                  u
              })
          // named time travel: SELECT ... FROM t VERSION AS OF 3 /
          // TIMESTAMP AS OF '2024-01-08' — the same literal resolution
          // graft_table(root, v) uses, against the commit markers
          case tt: org.apache.spark.sql.catalyst.analysis
              .RelationTimeTravel =>
            tt.relation match {
              case u: UnresolvedRelation
                  if u.multipartIdentifier.length == 1 &&
                    !scope.contains(lc(u.multipartIdentifier.head)) &&
                    (views.nonEmpty ||
                      !sessionShadowed(u.multipartIdentifier.head)) =>
                resolveName(u.multipartIdentifier.head) match {
                  case Some(root) =>
                    val v = tt.version match {
                      case Some(vs) => vs.trim.toIntOption.getOrElse(
                        throw new IllegalArgumentException(
                          "VERSION AS OF on a graft table takes an " +
                            s"integer version; got '$vs'"))
                      case None => VersionedScan.literalAsOf(spark, root,
                        tt.timestamp.getOrElse(
                          throw new IllegalArgumentException(
                            "time travel needs VERSION AS OF or " +
                              "TIMESTAMP AS OF")))
                    }
                    relationFor(spark, root, Some(v))
                  case None => tt
                }
              case _ => tt
            }
          case other =>
            other.mapChildren(go(_, scope, views)).transformExpressionsDown {
              case se: org.apache.spark.sql.catalyst.expressions
                  .SubqueryExpression =>
                se.withNewPlan(go(se.plan, scope, views))
            }
        }
        go(plan, Set.empty)
    }

  /** The read-position relation a resolved name serves: a materialized
    * view's SERVED shape (measures, tombstones hidden) when the root
    * carries an MV spec; the pinned versioned relation otherwise. An
    * empty root (no committed version yet) with a declared schema serves
    * a zero-row relation of that schema, like a freshly created catalog
    * table anywhere. */
  private def relationFor(spark: SparkSession, root: String,
                          asOf: Option[Int] = None): LogicalPlan =
    if (graft.ops.MatView.isView(spark, root))
      graft.ops.MatView.read(spark, root, asOf).queryExecution.analyzed
    else if (VersionedTable.currentVersion(spark, root).isEmpty) {
      if (asOf.isDefined) throw new java.io.FileNotFoundException(
        s"no committed version at $root (time travel on a never-written " +
          "table)")
      val ddl = GraftCatalog.list(spark)
        .find(_.root == VersionedTable.splitRef(root)._1)
        .flatMap(_.schemaDdl)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no committed version at $root (and no declared schema to " +
            "serve an empty relation)"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema).queryExecution.analyzed
    } else {
      val rel = VersionedScan.plan(spark, root, asOf)
      // unpartitioned CREATEs ride a synthetic __bucket partition (pure
      // function of the merge keys); named reads hide it — like every
      // internal __ column — so SELECT * serves the declared shape
      val visible = rel.output.filterNot(_.name.startsWith("__"))
      if (visible.length == rel.output.length) rel
      else org.apache.spark.sql.catalyst.plans.logical.Project(visible, rel)
    }

  /** DML refuses a materialized-view target (reads serve the view's
    * shape, so a write reaching the serving table would corrupt state
    * the refresh bookkeeping never saw): write to the SOURCE table and
    * REFRESH MATERIALIZED VIEW. Guarded at the command, not the engine —
    * the refresh machinery itself writes the serving table through the
    * same engine entry points. */
  private[plans] def requireNotView(spark: SparkSession, root: String,
                                    stmt: String): Unit =
    require(!graft.ops.MatView.isView(spark, root),
      s"$stmt on a materialized view is not supported — write to its " +
        "source table and REFRESH MATERIALIZED VIEW")
}

/** `DELETE FROM graft.`root` WHERE p` — [[VersionedTable.deleteMatching]]:
  * physical rewrite of only the dirs the predicate's extracted facts
  * cannot clear. Returns the committed version. */
case class GraftDeleteCommand(root: String, condition: Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.requireNotView(spark, root, "DELETE")
    GraftTxn.requireNone(spark, "DELETE")
    Seq(Row(VersionedTable.deleteMatching(spark, root, condition)))
  }
}

/** `UPDATE graft.`root` SET a = e [, ...] [WHERE p]` —
  * [[VersionedTable.updateMatching]] (OLD-row right-hand sides, CHECK
  * gating, index-cleared dirs keep byte-identity). */
case class GraftUpdateCommand(root: String, set: Seq[(String, Column)],
                              condition: Option[Column])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.requireNotView(spark, root, "UPDATE")
    GraftTxn.requireNone(spark, "UPDATE")
    Seq(Row(VersionedTable.updateMatching(spark, root,
      condition.getOrElse(lit(true)), set.toMap)))
  }
}

/** `MERGE [WITH SCHEMA EVOLUTION] INTO graft.`root` t USING src s ON
  * t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
  * INSERT *` — the versioned upsert with the ON columns as merge keys.
  * Partitioning comes from the existing manifest; stats/bloom coverage
  * is re-derived from what the current files carry, so the index family
  * survives SQL-driven ingest. The source must cover every table column
  * (SET * / INSERT * semantics); EXTRA source columns are rejected
  * unless WITH SCHEMA EVOLUTION, which admits them as new table columns
  * (older generations surface NULL through the evolution read path —
  * no rewrite, Delta's autoMerge behavior). */
case class GraftMergeCommand(root: String, source: LogicalPlan,
                             keys: Seq[String], schemaEvolution: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.requireNotView(spark, root, "MERGE")
    val m = VersionedTable.resolveManifest(spark, root, None)
    val (statsCols, bloomCols) = VersionedTable.coveredIndexCols(m)
    val src0 = PlanBridge.dataFrame(spark, source)
    // a registered derived partition computes from its source column
    // when the MERGE source omits it (the transform owns the value)
    val src = m.derived.foldLeft(src0) { case (d, (p, (kind, sc))) =>
      if (d.columns.contains(p)) d
      else d.withColumn(p,
        VersionedTable.derivedPartitionColumn(kind, sc))
    }
    // a synthetic __bucket partition is internal: the source covers the
    // VISIBLE columns, the bucket is recomputed from the recorded keys
    val bucketed = m.partCols == Seq(GraftCatalog.BucketCol)
    val tableCols = m.schema.fieldNames.toSeq
      .filterNot(c => bucketed && c == GraftCatalog.BucketCol)
    val missing = tableCols.filterNot(src.columns.contains)
    require(missing.isEmpty,
      s"MERGE source lacks table columns ${missing.mkString(", ")} — " +
        "UPDATE SET * / INSERT * need every target column")
    val extra = src.columns.toSeq.filterNot(tableCols.contains)
    require(extra.isEmpty || schemaEvolution,
      s"MERGE source carries columns not in the table: " +
        s"${extra.mkString(", ")} — use MERGE WITH SCHEMA EVOLUTION " +
        "INTO to add them")
    // table-order first, new columns appended: the committed schema
    // evolves deterministically instead of inheriting source order
    val aligned0 = src.select((tableCols ++ extra).map(src.col): _*)
    // a derived partition column joins the upsert keys when the ON
    // clause carries its SOURCE (pure function — same row set), so the
    // partCols-within-keys contract holds without the user naming the
    // transform column in ON
    val derivedKeys = m.derived.toSeq.collect {
      case (p, (_, sc)) if !keys.contains(p) &&
          keys.exists(_.equalsIgnoreCase(sc)) => p
    }
    // the bucket must stay the SAME pure function of the recorded keys
    // (not the ON keys), or a re-written row could land in a different
    // partition than its original and survive the keyed anti-join
    val (aligned, allKeys) =
      if (!bucketed) (aligned0, keys ++ derivedKeys)
      else (GraftCatalog.withBucket(aligned0,
        m.keys.filterNot(_ == GraftCatalog.BucketCol)),
        keys :+ GraftCatalog.BucketCol)
    // inside an open graft transaction the canonical MERGE is exactly a
    // keyed upsert — the same stageable shape as a deferred INSERT, and
    // the reference's own DAG cycle is two MERGEs per cycle
    // (load_to_snowflake.py:212-231 + load_stream_to_snowflake.py:
    // 281-305) — so it DEFERS into the atomic group (version -1 until
    // COMMIT publishes the whole vector); the clause-matrix MERGE still
    // refuses (conditional rewrites are not a stageable keyed upsert)
    if (GraftTxn.isOpen(spark)) {
      GraftTxn.defer(spark, GraftTxn.displayFor(spark, root),
        graft.ops.MultiSync.TableWrite(
          root, aligned, allKeys, m.partCols, statsCols, bloomCols))
      Seq(Row(-1))
    } else
      // upsert returns the EXACT version this merge committed — reading
      // currentVersion afterwards could report a concurrent disjoint
      // writer's later commit instead
      Seq(Row(VersionedTable.upsert(spark, root, aligned, allKeys,
        m.partCols, statsCols = statsCols, bloomCols = bloomCols)))
  }
}

/** `OPTIMIZE graft.`root` [ZORDER BY (c, ...)]` — full
  * [[VersionedTable.compact]] preserving (and re-clustering) the
  * manifest's index coverage. A BARE OPTIMIZE honors the table's
  * DECLARED clustering (`TBLPROPERTIES('graft.zorder'='lat,lon')`) —
  * the Delta liquid-clustering shape: the layout is table governance,
  * set once, and every scheduled OPTIMIZE applies it without the
  * maintenance job having to know the columns. An explicit ZORDER BY
  * overrides the declaration for that run. */
case class GraftOptimizeCommand(root: String, zOrderCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val m = VersionedTable.resolveManifest(spark, root, None)
    val (statsCols, bloomCols) = VersionedTable.coveredIndexCols(m)
    val zCols =
      if (zOrderCols.nonEmpty) zOrderCols
      else m.props.get("graft.zorder").toSeq.flatMap(_.split(","))
        .map(_.trim).filter(_.nonEmpty)
    zCols.foreach(c => require(m.schema.fieldNames.contains(c),
      s"z-order column $c is not in the table schema" +
        (if (zOrderCols.isEmpty) " (declared via graft.zorder)" else "")))
    // declared target file granularity (rows): clustering only skips
    // when a partition splits into several tight files — the knob is
    // table governance like the clustering itself. Loud parse: a
    // malformed property must name itself here, not surface as a bare
    // NumberFormatException in a nightly job far from the ALTER that
    // set it
    val fileRows = m.props.get("graft.filerows").map { v =>
      val n = v.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"TBLPROPERTIES 'graft.filerows' must be a positive " +
            s"integer; got '$v'"))
      require(n > 0,
        s"TBLPROPERTIES 'graft.filerows' must be positive; got $n")
      n
    }
    // z-dimensions join the stats set: clustering by a previously
    // unindexed column must also RECORD its min/max, or the rewrite
    // clusters perfectly and skips nothing
    Seq(Row(VersionedTable.compact(spark, root,
      statsCols = (statsCols ++ zCols).distinct,
      bloomCols = bloomCols, zOrderCols = zCols, fileRows = fileRows)))
  }
}

/** `VACUUM graft.`root` [RETAIN n VERSIONS]` (default 1: current only).
  * Returns the versions still readable afterwards. */
case class GraftVacuumCommand(root: String, keepVersions: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("versions_kept", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // no RETAIN clause -> the table's DECLARED policy
    // (graft.retain.versions) is the default, not keep-1: a bare VACUUM
    // must never silently retire time travel the table's own governance
    // promised to keep
    VersionedTable.vacuum(spark, root, keepVersions.getOrElse(
      VersionedTable.declaredRetention(spark, root).getOrElse(1)))
    Seq(Row(VersionedTable.history(spark, root).size))
  }
}

/** `VACUUM graft.`root` RETAIN n HOURS|DAYS` — age-based retention
  * ([[VersionedTable.vacuumOlderThan]]): retire versions whose commit
  * time is older than the window; the current version always
  * survives. The policy a scheduled job wants, independent of commit
  * rate. */
case class GraftVacuumAgeCommand(root: String, retainMs: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("versions_kept", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.vacuumOlderThan(spark, root, retainMs)
    Seq(Row(VersionedTable.history(spark, root).size))
  }
}

/** `RESTORE graft.`root` TO VERSION AS OF v` — commits a NEW version
  * whose content is version v (history stays append-only). */
case class GraftRestoreCommand(root: String, toVersion: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.restore(spark, root, toVersion)))
}

/** `RESTORE graft.`root` TO TIMESTAMP AS OF '<utc>'` —
  * [[VersionedTable.restoreAsOf]]: restore to the version current at
  * that instant (the commit markers' times), same UTC text rules as
  * every other time-travel spelling. */
case class GraftRestoreTsCommand(root: String, ts: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.restoreAsOf(spark, root,
      VersionedScan.utcMillis(ts.trim))))
}

/** `VACUUM graft.`root` RETAIN n HOURS|DAYS DRY RUN` — what the
  * age-based vacuum would delete, nothing deleted. */
case class GraftVacuumAgeDryRunCommand(root: String, retainMs: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("would_delete", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    VersionedTable.vacuumOlderThanDryRun(spark, root, retainMs).map(Row(_))
}

/** `ALTER TABLE graft.`root` SET TBLPROPERTIES('k'='v', ...)` —
  * [[VersionedTable.setProperties]]: metadata-only commit; the engine
  * honors `graft.retain.versions` in [[VersionedTable.maintain]]. */
case class GraftSetPropsCommand(root: String, kvs: Map[String, String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.setProperties(spark, root, kvs)))
}

/** `ALTER TABLE graft.`root` UNSET TBLPROPERTIES('k', ...)`. */
case class GraftUnsetPropsCommand(root: String, ks: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.unsetProperties(spark, root, ks)))
}

/** `SHOW TBLPROPERTIES graft.`root`` — key/value rows. */
case class GraftShowPropsCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    VersionedTable.propertiesOf(spark, root).toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
}

/** `VACUUM graft.`root` [RETAIN n VERSIONS] DRY RUN` — what the real
  * vacuum would delete, one name per row, nothing deleted. */
case class GraftVacuumDryRunCommand(root: String, keepVersions: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("would_delete", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    VersionedTable.vacuumDryRun(spark, root, keepVersions.getOrElse(
      VersionedTable.declaredRetention(spark, root).getOrElse(1)))
      .map(Row(_))
}

/** `ALTER TABLE graft.`root` CREATE BRANCH dev [AS OF VERSION n]` —
  * [[VersionedTable.createBranch]]: a zero-copy fork; from then on
  * `graft.`root@dev`` / `graft_table('root@dev')` address the branch in
  * every statement. Returns the branch handle. */
case class GraftCreateBranchCommand(root: String, name: String,
                                    fromVersion: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("branch", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.createBranch(spark, root, name, fromVersion)))
}

/** `ALTER TABLE graft.`root` DROP BRANCH dev` —
  * [[VersionedTable.dropBranch]]. */
case class GraftDropBranchCommand(root: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("dropped", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.dropBranch(spark, root, name)
    Seq(Row(name))
  }
}

/** `ALTER TABLE graft.`root` FAST FORWARD BRANCH dev` —
  * [[VersionedTable.fastForward]]: publish the branch head back onto the
  * ref it forked from (write-audit-publish). Returns the new version. */
case class GraftFastForwardCommand(root: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.fastForward(spark, root, name)))
}

/** `SHOW BRANCHES [IN] graft.`root`` — branch name + head version +
  * recorded fork point per branch. */
case class GraftShowBranchesCommand(root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("branch", StringType, nullable = false)(),
    AttributeReference("head_version", IntegerType, nullable = false)(),
    AttributeReference("forked_from", StringType, nullable = false)(),
    AttributeReference("fork_version", IntegerType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] =
    VersionedTable.listBranches(spark, root).map { b =>
      // compose from the PHYSICAL root: `root` may itself be a branch
      // handle and "path@dev@b" resolves to nothing
      val handle = s"${VersionedTable.splitRef(root)._1}@$b"
      val head = VersionedTable.currentVersion(spark, handle).getOrElse(-1)
      val fork = VersionedTable.forkOf(spark, handle)
      Seq(b, head, fork.map(_._1).filter(_.nonEmpty).getOrElse("main"),
        fork.map(f => Integer.valueOf(f._2)).orNull)
    }.map(Row.fromSeq)
}

/** `DESCRIBE DETAIL graft.`root`` — Delta's one-row table summary from
  * manifest metadata alone (zero data I/O): current version, partition
  * layout, derived-partition registrations, CHECK constraints, live
  * partition/row/byte totals, and merge-on-read DV rows awaiting
  * materialization.
  * `graft_partitions('/root')` is the per-partition drilldown. */
case class GraftDetailCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("partition_cols", StringType, nullable = false)(),
    AttributeReference("derived_partitions", StringType,
      nullable = false)(),
    AttributeReference("constraints", StringType, nullable = false)(),
    AttributeReference("expectations", StringType, nullable = false)(),
    AttributeReference("merge_keys", StringType, nullable = false)(),
    AttributeReference("num_partitions", IntegerType, nullable = false)(),
    AttributeReference("total_rows", LongType, nullable = false)(),
    AttributeReference("total_bytes", LongType, nullable = false)(),
    AttributeReference("dv_deleted_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // ONE manifest resolution for every field: per-accessor re-reads
    // both multiply metadata I/O and can interleave with a concurrent
    // commit, reporting version v with v+1's layout/rows
    val v = VersionedTable.currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no committed version at $root"))
    val parts = VersionedTable.partitionsMeta(spark, root, Some(v))
      .collect()
    val m = VersionedTable.resolveManifestAt(spark, root, v, v)
    val derived = m.derived.toSeq
      .sortBy(_._1).map { case (p, (kind, src)) => s"$p=$kind($src)" }
      .mkString(", ")
    val checks = m.checks.toSeq
      .sortBy(_._1).map { case (n, sql) => s"$n: $sql" }.mkString("; ")
    val expects = graft.ops.Expectations.fromProps(m.props).map { e =>
      s"${e.name}: ${e.sql} ON VIOLATION ${e.mode.tag}" +
        e.quarantineRoot.fold("")(q => s" INTO $q")
    }.mkString("; ")
    val partCols = m.partCols.mkString(", ")
    def total(i: Int): Long = parts.map(_.getLong(i)).sum
    val dv = total(6)
    // live rows, like COUNT
    Seq(Row(v, partCols, derived, checks, expects, m.keys.mkString(", "),
      parts.length, total(3) - dv, total(5), dv))
  }
}

/** `ALTER TABLE graft.`root` ADD DERIVED PARTITION p = day(src)` (or
  * `= bucket(N, src)`) — [[VersionedTable.addDerivedPartition]]:
  * metadata-only commit after the backlog check; from then on predicates
  * on `src` prune partition dirs and writes must keep p == transform. */
case class GraftAddDerivedCommand(root: String, partCol: String,
                                  transform: String, srcCol: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.addDerivedPartition(spark, root, partCol,
      transform, srcCol)))
}

/** `ALTER TABLE graft.`root` DROP DERIVED PARTITION p`. */
case class GraftDropDerivedCommand(root: String, partCol: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.dropDerivedPartition(spark, root, partCol)))
}

/** `CREATE MATERIALIZED VIEW graft.`/view` KEYED BY (k...) AS SELECT
  * g..., sum(x) AS a... FROM graft_table('/src') GROUP BY g...` —
  * [[graft.ops.MatView.create]]: defines the view and runs the one full
  * build; REFRESH then maintains it from the change feed. */
case class GraftMvCreateCommand(viewRoot: String, srcRoot: String,
                                keys: Seq[String], groups: Seq[String],
                                sums: Seq[(String, String)],
                                mins: Seq[(String, String)],
                                maxs: Seq[(String, String)],
                                countAlias: Option[String],
                                avgs: Seq[(String, String)] = Nil,
                                dcts: Seq[(String, String)] = Nil,
                                registerName: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = graft.ops.MatView.create(spark, viewRoot, srcRoot, keys,
      groups, sums, mins, maxs, countAlias,
      avgs = avgs, distincts = dcts)
    // a named CREATE registers the view AFTER the build succeeds, so a
    // failed build leaves neither a spec nor a dangling name
    registerName.foreach(n => GraftCatalog.create(spark,
      GraftCatalog.Entry(n, viewRoot, Nil, Nil, None)))
    Seq(Row(v))
  }
}

/** `CREATE DEDUP INDEX idx ON src (idCol, textCol)
  * [OPTIONS('shingle'='3','perm'='64','bands'='32','seed'='42')]` —
  * [[graft.dedup.DedupIndex.create]]: defines the CDC-maintained LSH
  * index and runs the one full corpus build; `REFRESH DEDUP INDEX`
  * then maintains it from the change feed. A named CREATE registers
  * the index AFTER the build succeeds (the CREATE MV discipline). */
case class GraftDedupIndexCreateCommand(indexRoot: String,
                                        registerName: Option[String],
                                        srcRoot: String, idCol: String,
                                        textCol: String, shingleN: Int,
                                        numPerm: Int, bands: Int,
                                        seed: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = graft.dedup.DedupIndex.create(spark, indexRoot, srcRoot,
      idCol, textCol, shingleN, numPerm, bands, seed)
    registerName.foreach(n => GraftCatalog.create(spark,
      GraftCatalog.Entry(n, indexRoot, Nil, Nil, None,
        kind = Some("DEDUP"))))
    Seq(Row(v))
  }
}

/** `CREATE ANN INDEX idx ON src (idCol, vecCol)
  * [OPTIONS('nlist'='16','kmeans'='2','quantized'='false')]` —
  * [[graft.sim.AnnIndex.create]]: the IVF twin; 'quantized'='true'
  * stores int8 codes + per-row scale (~4× smaller) with float re-rank
  * at topK. */
case class GraftAnnIndexCreateCommand(indexRoot: String,
                                      registerName: Option[String],
                                      srcRoot: String, idCol: String,
                                      vecCol: String, nlist: Int,
                                      kmeansIters: Int,
                                      quantized: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = graft.sim.AnnIndex.create(spark, indexRoot, srcRoot,
      idCol, vecCol, nlist, kmeansIters, quantized)
    registerName.foreach(n => GraftCatalog.create(spark,
      GraftCatalog.Entry(n, indexRoot, Nil, Nil, None,
        kind = Some("ANN"))))
    Seq(Row(v))
  }
}

/** `REFRESH DEDUP|ANN INDEX idx` — advance the index to its source's
  * current version at change-volume cost. */
case class GraftIndexRefreshCommand(indexRoot: String, ann: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(
      if (ann) graft.sim.AnnIndex.refresh(spark, indexRoot)
      else graft.dedup.DedupIndex.refresh(spark, indexRoot)))
}

/** `DROP DEDUP|ANN INDEX [IF EXISTS] idx` — removes the index ARTIFACT
  * (spec, index table, centroid sidecars) and unregisters the name. An
  * index is derived, rebuildable state, so DROP deletes its storage —
  * unlike DROP TABLE, which only unregisters (the data is the user's).
  * The kind must match (`DROP ANN INDEX` on a dedup index refuses — IF
  * EXISTS does NOT swallow a kind mismatch, only absence), and storage
  * deletes BEFORE the name unregisters so a re-CREATE by the same name
  * (deterministic managed root) never finds a stale spec. */
case class GraftIndexDropCommand(root: Option[String],
                                 name: Option[String], ann: Boolean,
                                 ifExists: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  private def kind = if (ann) "ANN" else "DEDUP"
  override def run(spark: SparkSession): Seq[Row] = {
    root match {
      case None => // bare name, unregistered
        if (!ifExists) throw new NoSuchElementException(
          s"$kind index ${name.get} is not registered — " +
            s"DROP $kind INDEX IF EXISTS to make this a no-op")
      case Some(r) =>
        val p = new org.apache.hadoop.fs.Path(r)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val mine =
          if (ann) graft.sim.AnnIndex.specPath(r)
          else graft.dedup.DedupIndex.specPath(r)
        val other =
          if (ann) graft.dedup.DedupIndex.specPath(r)
          else graft.sim.AnnIndex.specPath(r)
        // names pointing at this root deregister even when addressed by
        // PATH — a dangling entry would block the name's re-creation
        def dropNames(): Unit = {
          name.foreach(GraftCatalog.drop(spark, _))
          GraftCatalog.list(spark).filter(_.root == r)
            .foreach(e => GraftCatalog.drop(spark, e.name))
        }
        if (fs.exists(mine)) {
          fs.delete(p, true)
          dropNames()
        } else if (fs.exists(other)) throw new IllegalArgumentException(
          s"$r is a ${if (ann) "DEDUP" else "ANN"} index — " +
            s"DROP ${if (ann) "DEDUP" else "ANN"} INDEX drops it")
        else if (!fs.exists(p) &&
            (name.exists(n => GraftCatalog.lookup(spark, n).isDefined)
              || GraftCatalog.list(spark).exists(_.root == r))) {
          // a registered name whose root is GONE is a DROP that crashed
          // between the storage delete and the deregistration — finish
          // the job instead of wedging the name forever. A root that
          // still exists without an index spec is NOT touched (it may
          // be a plain table mistakenly addressed by DROP INDEX). With
          // the storage gone the spec can no longer witness the kind —
          // the catalog entry's recorded kind (written at CREATE)
          // stands in, so completing a crashed ANN drop still demands
          // DROP ANN INDEX (entries from before kind was recorded
          // complete under either statement, the old behavior)
          val entries = name.flatMap(GraftCatalog.lookup(spark, _)).toSeq ++
            GraftCatalog.list(spark).filter(_.root == r)
          entries.flatMap(_.kind).distinct.foreach { k =>
            if (k != kind) throw new IllegalArgumentException(
              s"$r is a $k index — DROP $k INDEX completes this " +
                "crashed drop")
          }
          dropNames()
        } else if (!ifExists) throw new NoSuchElementException(
          s"no $kind index at $r (missing " +
            s"${mine.getName}) — DROP $kind INDEX IF EXISTS to make " +
            "this a no-op")
    }
    Seq.empty
  }
}

/** `SHOW GRAFT INDEXES` — one row per REGISTERED index (kind resolved
  * from the spec sidecar), with its root, source table, and current
  * version. Indexes created by bare path have no name to enumerate —
  * same contract as SHOW GRAFT TABLES. */
case class GraftShowIndexesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("root", StringType, nullable = false)(),
    AttributeReference("source", StringType, nullable = false)(),
    AttributeReference("current_version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftCatalog.list(spark).flatMap { e =>
      val conf = spark.sparkContext.hadoopConfiguration
      def exists(p: org.apache.hadoop.fs.Path) =
        p.getFileSystem(conf).exists(p)
      val cur = () =>
        VersionedTable.currentVersion(spark, e.root).getOrElse(-1)
      if (exists(graft.dedup.DedupIndex.specPath(e.root)))
        Some(Row(e.name, "DEDUP", e.root,
          graft.dedup.DedupIndex.readSpec(spark, e.root).srcRoot, cur()))
      else if (exists(graft.sim.AnnIndex.specPath(e.root)))
        Some(Row(e.name, "ANN", e.root,
          graft.sim.AnnIndex.readSpec(spark, e.root).srcRoot, cur()))
      else None
    }
}

/** `DESCRIBE DEDUP|ANN INDEX idx` — the spec's parameters plus the
  * live sync state: the index table's current version, the source
  * version the last refresh synced to, and the source's current
  * version (synced < current ⇒ a REFRESH is due). Key/value rows, the
  * DESCRIBE convention. */
case class GraftIndexDescribeCommand(indexRoot: String, ann: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    def kv(pairs: (String, Any)*): Seq[Row] =
      pairs.map { case (k, v) => Row(k, String.valueOf(v)) }
    def syncRows(srcRoot: String, streamId: String): Seq[(String, Any)] = {
      val synced = VersionedTable.currentVersion(spark, indexRoot)
        .flatMap(_ => VersionedTable.lastTxn(spark, indexRoot, streamId))
      Seq(
        "index_version" ->
          VersionedTable.currentVersion(spark, indexRoot).getOrElse(-1),
        "synced_source_version" -> synced.getOrElse(-1L),
        "source_current_version" ->
          VersionedTable.currentVersion(spark, srcRoot).getOrElse(-1))
    }
    if (ann) {
      val s = graft.sim.AnnIndex.readSpec(spark, indexRoot)
      kv(Seq[(String, Any)]("kind" -> "ANN", "root" -> indexRoot,
        "source" -> s.srcRoot, "id_col" -> s.idCol,
        "vector_col" -> s.vecCol, "nlist" -> s.nlist,
        "kmeans_iters" -> s.kmeansIters,
        "quantized" -> s.quantized) ++
        syncRows(s.srcRoot, graft.sim.AnnIndex.streamId(s.srcRoot)): _*)
    } else {
      val s = graft.dedup.DedupIndex.readSpec(spark, indexRoot)
      kv(Seq[(String, Any)]("kind" -> "DEDUP", "root" -> indexRoot,
        "source" -> s.srcRoot, "id_col" -> s.idCol,
        "text_col" -> s.textCol, "shingle_n" -> s.shingleN,
        "num_perm" -> s.numPerm, "bands" -> s.bands,
        "seed" -> s.seed) ++
        syncRows(s.srcRoot,
          graft.dedup.DedupIndex.streamId(s.srcRoot)): _*)
    }
  }
}

/** `CREATE EXPECTATION name ON tbl CHECK (expr) ON VIOLATION DROP |
  * QUARANTINE INTO qtbl` — register a data-quality expectation: every
  * later ingest drops or quarantines violating rows instead of failing
  * (graft.ops.Expectations). The quarantine table materializes at the
  * first violation; an unregistered QUARANTINE INTO name registers
  * against a managed root now so the destination is addressable. */
case class GraftExpectationCreateCommand(root: String, name: String,
    sql: String, quarantineRoot: Option[String],
    registerName: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val mode =
      if (quarantineRoot.isEmpty) graft.ops.Expectations.DropRows
      else graft.ops.Expectations.QuarantineRows
    graft.ops.Expectations.add(spark, root, name, sql, mode, quarantineRoot)
    registerName.foreach(n => GraftCatalog.create(spark,
      GraftCatalog.Entry(n, quarantineRoot.get, Nil, Nil, None)))
    Nil
  }
}

/** `DROP EXPECTATION name ON tbl` — loud if absent. */
case class GraftExpectationDropCommand(root: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    graft.ops.Expectations.drop(spark, root, name)
    Nil
  }
}

/** `SHOW GRAFT EXPECTATIONS [ON tbl]` — the rules in force now, on one
  * table or across every REGISTERED table (bare-path tables have no
  * name to enumerate — the SHOW GRAFT TABLES contract). */
case class GraftShowExpectationsCommand(root: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("mode", StringType, nullable = false)(),
    AttributeReference("predicate", StringType, nullable = false)(),
    AttributeReference("quarantine", StringType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = root match {
    case Some(r) =>
      graft.ops.Expectations.list(spark, r).map(e =>
        Row(r, e.name, e.mode.tag, e.sql, e.quarantineRoot.orNull))
    case None =>
      GraftCatalog.list(spark).flatMap { entry =>
        if (VersionedTable.currentVersion(spark, entry.root).isEmpty) Nil
        else graft.ops.Expectations.list(spark, entry.root).map(e =>
          Row(entry.name, e.name, e.mode.tag, e.sql,
            e.quarantineRoot.orNull))
      }
  }
}

/** `REFRESH MATERIALIZED VIEW graft.`/view`` —
  * [[graft.ops.MatView.refresh]]: advance every view, single-table or
  * join-backed, to its sources' current versions at change-volume
  * cost. */
case class GraftMvRefreshCommand(viewRoot: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.MatView.refresh(spark, viewRoot)))
}

/** `DESCRIBE HISTORY graft.`root`` — one row per still-committed version:
  * its commit instant (the `_commit.N` marker's create time) and LIVE
  * rows from manifest metadata via the same arithmetic the COUNT(*)
  * fold uses (deletion-vector rows subtracted). No data files
  * touched. */
case class GraftHistoryCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = true)(),
    AttributeReference("committed_at", TimestampType, nullable = false)(),
    AttributeReference("total_rows", LongType, nullable = false)(),
    AttributeReference("expect_violations", StringType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val cur = VersionedTable.currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no committed version at $root"))
    VersionedTable.historyDetail(spark, root).map { case (v, ms) =>
      val m = VersionedTable.resolveManifestAt(spark, root, v, cur)
      val rows = VersionedTable.manifestCount(m)
      // per-commit gate counts ("name=n", name-sorted) — null when the
      // commit ran no gate; graft_expect_log() is the typed relation
      val exp =
        if (m.expectLog.isEmpty) null
        else m.expectLog.toSeq.sortBy(_._1)
          .map { case (n, c) => s"$n=$c" }.mkString(",")
      Row(v, m.op.orNull, new java.sql.Timestamp(ms), rows, exp)
    }
  }
}

/** `CREATE TABLE name [(schema)] USING graft [LOCATION '/root']
  * [PARTITIONED BY (c...)] [TBLPROPERTIES('graft.keys'='k,...')]` —
  * registers `name` in the [[GraftCatalog]]. Purely a metadata claim:
  * a root with committed versions re-attaches (the manifest stays
  * authoritative — declared layout, if any, must agree); an empty or
  * absent root records the declared schema/partitioning/keys for the
  * first write. No LOCATION = a managed root beside the catalog dir. */
case class GraftCreateTableCommand(name: String, location: Option[String],
                                   schemaDdl: Option[String],
                                   partCols: Seq[String], keys: Seq[String],
                                   statsCols: Seq[String],
                                   bloomCols: Seq[String],
                                   ifNotExists: Boolean,
                                   derived: Seq[(String, String, String)] =
                                     Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    if (GraftCatalog.lookup(spark, name).isDefined) {
      if (!ifNotExists) throw new IllegalArgumentException(
        s"graft table $name already exists (DROP TABLE first, or " +
          "CREATE TABLE IF NOT EXISTS)")
      return Seq.empty
    }
    require(GraftCatalog.lookupView(spark, name).isEmpty,
      s"a graft VIEW named $name already exists — tables and views " +
        "share the name namespace")
    val root = location.getOrElse(GraftCatalog.managedRoot(spark, name))
    // transform partitioning: the derived column is a REAL column of
    // the declared schema — auto-appended (DateType for day, IntegerType
    // for bucket) when the user did not declare it
    val fullDdl = schemaDdl.map { ddl =>
      val st = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      derived.foldLeft(st) { case (s, (p, kind, src)) =>
        require(s.fieldNames.contains(src),
          s"transform partition source column $src is not in the schema")
        val want = if (kind == "day")
          org.apache.spark.sql.types.DateType
          else org.apache.spark.sql.types.IntegerType
        if (!s.fieldNames.contains(p)) s.add(p, want, nullable = true)
        else {
          // a user-declared transform column of the wrong type would
          // pass CREATE, commit the first write, and then fail the
          // registration — a permanently half-registered table; refuse
          // at the declaration instead
          require(s(p).dataType == want,
            s"declared transform partition column $p must be " +
              s"${want.simpleString} for ${kind.takeWhile(_ != ':')}" +
              s"($src); got ${s(p).dataType.simpleString}")
          s
        }
      }.toDDL
    }
    VersionedTable.currentVersion(spark, root) match {
      case Some(v) => // re-attach: the manifest is authoritative
        val m = VersionedTable.resolveManifestAt(spark, root, v, v)
        require(partCols.isEmpty || partCols == m.partCols,
          s"PARTITIONED BY (${partCols.mkString(", ")}) does not match " +
            s"the existing table's partitioning " +
            s"(${m.partCols.mkString(", ")}) at $root")
        require(keys.isEmpty || keys == m.keys ||
            (keys ++ derived.map(_._1)) == m.keys,
          s"declared keys (${keys.mkString(", ")}) do not match the " +
            s"existing table's merge keys (${m.keys.mkString(", ")}) " +
            s"at $root")
        derived.foreach { case (p, kind, src) =>
          require(m.derived.get(p).contains((kind, src)),
            s"declared transform partition $p=$kind($src) does not " +
              s"match the existing table's registrations at $root")
        }
      case None =>
        fullDdl.foreach { ddl =>
          val fields = org.apache.spark.sql.types.StructType.fromDDL(ddl)
            .fieldNames.toSeq
          val missing = (partCols ++ keys ++ statsCols ++ bloomCols)
            .filterNot(fields.contains)
          require(missing.isEmpty,
            s"declared partition/key/index columns not in the schema: " +
              missing.mkString(", "))
        }
    }
    GraftCatalog.create(spark,
      GraftCatalog.Entry(name, root, partCols, keys, fullDdl,
        statsCols, bloomCols, derived), ifNotExists)
    Seq.empty
  }
}

/** `DROP TABLE [IF EXISTS] name` on a registered graft table —
  * unregisters the NAME only; data and history stay at the root
  * (external-table semantics; VACUUM retires versions). */
case class GraftDropTableCommand(name: String, ifExists: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val dropped = GraftCatalog.drop(spark, name)
    if (!dropped && !ifExists) throw new NoSuchElementException(
      s"graft table $name is not registered")
    Seq.empty
  }
}

/** `SHOW GRAFT TABLES` — one row per registered table with its root and
  * current version (-1 = registered but never written). */
case class GraftShowTablesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("root", StringType, nullable = false)(),
    AttributeReference("partition_cols", StringType, nullable = false)(),
    AttributeReference("keys", StringType, nullable = false)(),
    AttributeReference("current_version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftCatalog.list(spark).map { e =>
      val cur = VersionedTable.currentVersion(spark, e.root).getOrElse(-1)
      Row(e.name, e.root, e.partCols.mkString(", "),
        e.keys.mkString(", "), cur)
    }
}

/** `CREATE [OR REPLACE] VIEW name AS SELECT ...` — registers the SQL
  * text in the [[GraftCatalog]]; every later statement naming the view
  * substitutes the body at resolve time (late binding), with the same
  * CTE / temp-view / session-catalog shadowing order as named tables,
  * view-over-view composition, and loud cycle detection. The body is
  * fully ANALYZED at create against the current catalog, so a view over
  * a missing table or column refuses here, not at first read. */
case class GraftCreateViewCommand(name: String, sql: String,
                                  orReplace: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    require(GraftCatalog.lookup(spark, name).isEmpty,
      s"a graft TABLE named $name already exists — tables and views " +
        "share the name namespace")
    // full analysis of the body (through OUR parser, so named graft
    // tables and nested views resolve); also re-validates at REPLACE
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    // a PERSISTENT late-bound view must not capture SESSION state: a
    // body reference that resolves to a temp view analyzes fine now and
    // breaks in every later session — refuse at CREATE, exactly like
    // Spark's own persistent CREATE VIEW (body-defined CTE names are
    // not references)
    val cteNames = parsed.collectWithSubqueries {
      case w: UnresolvedWith => w.cteRelations.map(
        _._1.toLowerCase(java.util.Locale.ROOT))
    }.flatten.toSet
    val tempRefs = parsed.collectWithSubqueries {
      case u: UnresolvedRelation if u.multipartIdentifier.length == 1 &&
          !cteNames.contains(u.multipartIdentifier.head
            .toLowerCase(java.util.Locale.ROOT)) &&
          spark.sessionState.catalog
            .getTempView(u.multipartIdentifier.head).isDefined =>
        u.multipartIdentifier.head
    }.distinct
    require(tempRefs.isEmpty,
      s"CREATE VIEW $name references temp view(s) " +
        s"${tempRefs.mkString(", ")} — a persistent view cannot " +
        "capture session-scoped state; materialize them as graft " +
        "tables or inline the query")
    spark.sessionState.executePlan(parsed).assertAnalyzed()
    GraftCatalog.createView(spark, name, sql, orReplace)
    Seq.empty
  }
}

/** `DROP VIEW [IF EXISTS] name` on a registered graft view. */
case class GraftDropViewCommand(name: String, ifExists: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val dropped = GraftCatalog.dropView(spark, name)
    if (!dropped && !ifExists) throw new NoSuchElementException(
      s"graft view $name is not registered")
    Seq.empty
  }
}

/** `SHOW GRAFT VIEWS` — one row per registered view with its SQL. */
case class GraftShowViewsCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("sql", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftCatalog.listViews(spark).map { case (n, s) => Row(n, s) }
}

/** `INSERT INTO t [(cols)] VALUES ... | SELECT ...` on a graft table —
  * the versioned UPSERT keyed by the table's recorded merge keys (the
  * declared `graft.keys` for the first write to an empty root). Keyed
  * warehouse semantics on purpose: a graft table is a keyed entity
  * (every write path merges — the reference's loader "INSERT" is itself
  * a MERGE, load_to_snowflake.py:212-231), so a row whose key already
  * exists REPLACES it instead of duplicating. Columns align by name
  * when listed (`(c1, c2)` or BY NAME), by position otherwise; every
  * table column must be covered — graft rows are whole. */
/** Companion library surface of the SQL INSERT path. */
object GraftInsertCommand {
  /** The FULL statement-grade insert (naming, derived-partition
    * computation, defaults, bucket machinery, evolution gate, index
    * declarations) as a library call with an exactly-once txn tag —
    * the body streaming sinks run per micro-batch
    * ([[graft.streaming.StreamPipeline.startNamedInsert]]). */
  def insertFrame(spark: SparkSession, root: String,
                  df: org.apache.spark.sql.DataFrame,
                  txn: Option[(String, Long)] = None): Int =
    GraftInsertCommand(root, Nil, PlanBridge.analyzed(df),
      byName = true, txn = txn).run(spark).head.getInt(0)
}

/** `BEGIN GRAFT TRANSACTION` — open a thread-scoped multi-table
  * transaction: subsequent keyed `INSERT INTO` statements DEFER, and
  * `COMMIT GRAFT TRANSACTION` publishes them atomically
  * ([[GraftTxn]]). */
case class GraftTxnBeginCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    GraftTxn.begin(spark)
    Seq.empty
  }
}

/** `COMMIT GRAFT TRANSACTION` — stage every deferred INSERT, publish
  * ONE decision marker (the commit point), then every member's commit
  * marker: the two-phase [[graft.ops.MultiSync.upsertAtomic]]
  * protocol, crash recovery included. One row per member table. */
case class GraftTxnCommitCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftTxn.commit(spark).map { case (n, v) => Row(n, v) }
}

/** `ROLLBACK GRAFT TRANSACTION` — discard the open transaction's
  * deferred INSERTs (nothing was staged or published). */
case class GraftTxnRollbackCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("discarded_inserts", IntegerType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftTxn.rollback(spark)))
}

case class GraftInsertCommand(root: String, userCols: Seq[String],
                              source: LogicalPlan, byName: Boolean,
                              overwrite: Boolean = false,
                              txn: Option[(String, Long)] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())

  /** The query frame under the statement's column-naming rule (explicit
    * list, BY NAME, or positional) — no projection yet, so the caller
    * sees EXTRA columns (schema evolution) as well as missing ones. */
  private def named(df: org.apache.spark.sql.DataFrame,
                    tableCols: Seq[String])
      : org.apache.spark.sql.DataFrame =
    if (userCols.nonEmpty) {
      require(df.columns.length == userCols.length,
        s"INSERT column list names ${userCols.length} columns but the " +
          s"query produces ${df.columns.length}")
      df.toDF(userCols: _*)
    } else if (byName) df
    else {
      require(df.columns.length == tableCols.length,
        s"INSERT by position needs all ${tableCols.length} table " +
          s"columns (${tableCols.mkString(", ")}); the query produces " +
          s"${df.columns.length}")
      df.toDF(tableCols: _*)
    }

  /** Column-name membership under the session's resolution rule:
    * Spark resolves names case-INsensitively by default, so a BY NAME
    * source column 'Date' must match table column 'date' (not be
    * admitted as a new duplicate column forking the schema). */
  private def hasCol(cols: Seq[String], c: String): Boolean =
    if (org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)
      cols.contains(c)
    else cols.exists(_.equalsIgnoreCase(c))

  private def align(df: org.apache.spark.sql.DataFrame,
                    tableCols: Seq[String],
                    schema: org.apache.spark.sql.types.StructType,
                    extras: Seq[String] = Nil,
                    computed: Map[String, Column] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val nm = named(df, tableCols.filterNot(computed.contains))
    // an omitted column fills from `computed` (derived partition
    // transforms) or its declared DEFAULT; only columns with neither a
    // value nor a fill refuse. Positional INSERT covers the VISIBLE
    // non-computed columns — a derived partition value always comes
    // from the transform, never a position.
    val defaults = VersionedTable.writeDefaults(schema)
    val missing = tableCols.filterNot(c =>
      hasCol(nm.columns.toSeq, c) || computed.contains(c) ||
        defaults.contains(c))
    require(missing.isEmpty,
      s"INSERT must cover every table column; missing: " +
        missing.mkString(", "))
    // table-order first, admitted new columns appended — the committed
    // schema evolves deterministically, like MERGE WITH SCHEMA EVOLUTION
    nm.select(tableCols.map(c =>
      (if (hasCol(nm.columns.toSeq, c)) col(c)
       else computed.getOrElse(c, expr(defaults(c))))
        .cast(schema(c).dataType).as(c)) ++
      extras.map(col): _*)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.requireNotView(spark, root, "INSERT")
    val inTxn = GraftTxn.isOpen(spark)
    if (inTxn) {
      require(!overwrite,
        "INSERT OVERWRITE cannot join a graft transaction — " +
          "whole-table replacement is not a stageable keyed upsert")
      require(txn.isEmpty,
        "a streaming txn-tagged INSERT cannot join a graft transaction")
    }
    val df = PlanBridge.dataFrame(spark, source)
    VersionedTable.currentVersion(spark, root) match {
      case Some(_) =>
        val m = VersionedTable.resolveManifest(spark, root, None)
        require(m.keys.nonEmpty,
          s"table at $root records no merge keys — INSERT needs them")
        // index coverage normally self-sustains from what the files
        // carry — but an EMPTY manifest (REPLACEd or TRUNCATEd table)
        // has no files to carry it, so the first write after would
        // silently never start the index family: fall back to the
        // catalog entry's declarations exactly like the first write to
        // a declared table does
        val (derivedStats, derivedBlooms) = VersionedTable.coveredIndexCols(m)
        val (statsCols, bloomCols) =
          if (derivedStats.nonEmpty || derivedBlooms.nonEmpty ||
              m.mapping.nonEmpty) (derivedStats, derivedBlooms)
          else GraftCatalog.list(spark)
            .find(_.root == VersionedTable.splitRef(root)._1)
            .map(e => (e.statsCols, e.bloomCols))
            .getOrElse((derivedStats, derivedBlooms))
        // a synthetic __bucket partition (unpartitioned CREATE) is the
        // engine's concern, never the statement's: align over the
        // visible columns, recompute the bucket
        val visible = m.schema.fieldNames.toSeq
          .filterNot(_ == GraftCatalog.BucketCol)
        // registered derived partitions compute from their source
        // column when the INSERT omits them — the transform, not the
        // statement, owns the partition value (a positional INSERT
        // covers only the non-computed columns)
        val computed = m.derived.map { case (p, (kind, srcC)) =>
          p -> VersionedTable.derivedPartitionColumn(kind, srcC) }
        // INSERT-time schema evolution (opt-in): extra source columns
        // are admitted as new table columns — Delta's mergeSchema-on-
        // append — when the table property says so; refused loudly
        // otherwise (silently dropping data a user named would be worse
        // than either)
        val extras = named(df, visible.filterNot(computed.contains))
          .columns.toSeq
          .filterNot(c => hasCol(visible, c) ||
            c == GraftCatalog.BucketCol)
        val evolve = m.props.get("graft.schema.evolution")
          .exists(v => Set("true", "insert")
            .contains(v.toLowerCase(java.util.Locale.ROOT)))
        require(extras.isEmpty || evolve,
          s"INSERT source carries columns not in the table: " +
            s"${extras.mkString(", ")} — ALTER TABLE ... SET " +
            "TBLPROPERTIES('graft.schema.evolution'='true') to admit " +
            "them as new columns, or drop them from the query")
        extras.filter(_.startsWith("__")).foreach(c =>
          throw new IllegalArgumentException(
            s"column name $c is reserved (the __ prefix is internal)"))
        val aligned0 = align(df, visible, m.schema, extras, computed)
        val aligned =
          if (visible.length == m.schema.length) aligned0
          else GraftCatalog.withBucket(aligned0,
            m.keys.filterNot(_ == GraftCatalog.BucketCol))
        // OVERWRITE replaces the whole table in the same one-commit
        // shape (Delta's static INSERT OVERWRITE); INTO is the keyed
        // upsert — or, inside an open graft transaction, a DEFERRED
        // member of the atomic group (version -1 until COMMIT)
        if (inTxn) {
          GraftTxn.defer(spark, GraftTxn.displayFor(spark, root),
            graft.ops.MultiSync.TableWrite(
              root, aligned, m.keys, m.partCols, statsCols, bloomCols))
          Seq(Row(-1))
        } else Seq(Row(VersionedTable.upsert(spark, root, aligned,
          m.keys, m.partCols, statsCols = statsCols,
          bloomCols = bloomCols, txn = txn, replaceAll = overwrite)))
      case None => // first write to an empty declared table
        require(!inTxn,
          s"the table at $root has no committed version — a FIRST " +
            "write cannot join a graft transaction; commit v0 outside " +
            "it (first writes register layout and derived partitions)")
        val entry = GraftCatalog.list(spark)
          .find(_.root == VersionedTable.splitRef(root)._1)
          .getOrElse(throw new java.io.FileNotFoundException(
            s"no committed version at $root and no catalog entry " +
              "declaring its layout"))
        require(entry.keys.nonEmpty,
          s"graft table ${entry.name} declares no keys — CREATE TABLE " +
            "with TBLPROPERTIES('graft.keys'='k1,k2') to INSERT into an " +
            "empty table")
        // declared transform partitioning: the derived columns join the
        // schema (when derived from the frame), compute from their
        // sources, and extend the merge keys (pure functions of key
        // columns — partCols-within-keys holds by construction)
        val schema0 = entry.schemaDdl
          .map(org.apache.spark.sql.types.StructType.fromDDL)
          .getOrElse(df.schema)
        val schema = entry.derived.foldLeft(schema0) {
          case (st, (p, kind, _)) =>
            if (st.fieldNames.contains(p)) st
            else st.add(p, if (kind == "day")
              org.apache.spark.sql.types.DateType
              else org.apache.spark.sql.types.IntegerType,
              nullable = true)
        }
        val computed = entry.derived.map { case (p, kind, src) =>
          p -> VersionedTable.derivedPartitionColumn(kind, src) }.toMap
        val extras0 = named(df,
            schema.fieldNames.toSeq.filterNot(computed.contains))
          .columns.toSeq.filterNot(schema.fieldNames.contains)
        require(extras0.isEmpty,
          s"INSERT source carries columns not in the declared schema: " +
            s"${extras0.mkString(", ")} — declare them at CREATE TABLE " +
            "(INSERT-time schema evolution applies to committed tables " +
            "via TBLPROPERTIES('graft.schema.evolution'='true'))")
        val aligned0 = align(df, schema.fieldNames.toSeq, schema,
          computed = computed)
        val derivedKeys = (entry.keys ++ entry.derived.map(_._1)).distinct
        // no PARTITIONED BY: partition on a synthetic key-hash bucket
        // (pure function of the merge keys, so partCols-within-keys
        // holds and every re-write of a key lands in its own partition)
        val (aligned, keys, partCols) =
          if (entry.partCols.nonEmpty) (aligned0, derivedKeys,
            entry.partCols)
          else (GraftCatalog.withBucket(aligned0, entry.keys),
            entry.keys :+ GraftCatalog.BucketCol,
            Seq(GraftCatalog.BucketCol))
        val v = VersionedTable.upsert(spark, root, aligned, keys,
          partCols, statsCols = entry.statsCols,
          bloomCols = entry.bloomCols, txn = txn)
        // register the declared transforms NOW the table exists —
        // metadata-only commits; from here on src predicates prune dirs
        // and every write gates on partCol == transform(srcCol). A
        // crash between the write and this registration leaves a
        // working table one `ALTER ... ADD DERIVED PARTITION` away
        // (the backlog check passes — the values were computed here).
        entry.derived.foreach { case (p, kind, src) =>
          if (!VersionedTable.derivedPartitionsOf(spark, root)
              .contains(p))
            VersionedTable.addDerivedPartition(spark, root, p, kind, src)
        }
        Seq(Row(v))
    }
  }
}

/** `TRUNCATE TABLE t` — [[VersionedTable.truncate]]: one metadata
  * commit with an empty mapping, zero data I/O; schema/keys/constraints/
  * properties/watermarks carry, time travel still reads the pre-truncate
  * versions until vacuum. */
case class GraftTruncateCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.requireNotView(spark, root, "TRUNCATE")
    GraftTxn.requireNone(spark, "TRUNCATE")
    // a declared-but-never-written table is already empty: a statement
    // whose purpose is "make the table empty" must no-op, not throw —
    // create-then-truncate DDL scripts are routine (-1 = no version)
    if (VersionedTable.currentVersion(spark, root).isEmpty &&
        GraftCatalog.list(spark)
          .exists(_.root == VersionedTable.splitRef(root)._1))
      return Seq(Row(-1))
    Seq(Row(VersionedTable.truncate(spark, root)))
  }
}

/** `DESCRIBE [TABLE] t` on a graft table — the committed schema (or the
  * declared schema of a never-written table) plus the partition section,
  * in Spark's own DESCRIBE shape. */
case class GraftDescribeTableCommand(root: String, isExtended: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("col_name", StringType, nullable = false)(),
    AttributeReference("data_type", StringType, nullable = false)(),
    AttributeReference("comment", StringType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (schema, partCols, derived) =
      VersionedTable.currentVersion(spark, root) match {
        case Some(v) =>
          val m = VersionedTable.resolveManifestAt(spark, root, v, v)
          (m.schema, m.partCols, m.derived)
        case None =>
          val e = GraftCatalog.list(spark)
            .find(_.root == VersionedTable.splitRef(root)._1)
            .getOrElse(throw new java.io.FileNotFoundException(
              s"no committed version at $root"))
          (e.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
            .getOrElse(throw new java.io.FileNotFoundException(
              s"graft table ${e.name} has no data and no declared schema")),
            e.partCols,
            e.derived.map { case (p, k, s) => p -> ((k, s)) }.toMap)
      }
    // lifecycle metadata surfaces in the comment column: write defaults
    // on their columns, the transform on derived partition rows
    val defaults = VersionedTable.writeDefaults(schema)
    def describeTransform(p: String): String =
      derived.get(p).map { case (kind, src) => kind match {
        case k if k.startsWith("bucket:") =>
          s"bucket(${k.stripPrefix("bucket:")}, $src)"
        case k => s"$k($src)"
      }}.orNull
    val cols = schema.fields.toSeq.filterNot(_.name.startsWith("__"))
      .map(f => Row(f.name, f.dataType.simpleString,
        defaults.get(f.name).map(d => s"DEFAULT $d")
          .orElse(Option(describeTransform(f.name))).orNull))
    val visParts = partCols.filterNot(_.startsWith("__"))
    if (visParts.isEmpty) cols
    else cols ++ Seq(
      Row("# Partition Information", "", null),
      Row("# col_name", "data_type", "comment")) ++
      visParts.map(c =>
        Row(c, schema(c).dataType.simpleString, describeTransform(c)))
  }
}

/** `ALTER TABLE t ADD COLUMN[S] c type [DEFAULT expr], ...` —
  * [[VersionedTable.addColumn]] per column: metadata-only commits; old
  * generations surface the DEFAULT (or NULL without one) through the
  * evolution read path, and INSERT fills an omitted defaulted column. */
case class GraftAddColumnsCommand(root: String,
                                  cols: Seq[(String,
                                    org.apache.spark.sql.types.DataType,
                                    Option[String])])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // same reserved-namespace guard as CREATE TABLE: a __-prefixed
    // column would be hidden by named reads/DESCRIBE the moment it lands
    cols.map(_._1).filter(_.startsWith("__")).foreach(c =>
      throw new IllegalArgumentException(
        s"column name $c is reserved (the __ prefix is internal)"))
    Seq(Row(cols.map { case (n, dt, d) =>
      VersionedTable.addColumn(spark, root, n, dt, d) }.last))
  }
}

/** `ALTER TABLE t ALTER COLUMN c SET DEFAULT expr | DROP DEFAULT` —
  * [[VersionedTable.setColumnDefault]] per column: SET changes what a
  * later INSERT fills when the column is omitted (pre-add rows keep the
  * initial default frozen at ADD COLUMN); DROP clears both, reverting
  * pre-add rows to NULL. */
case class GraftAlterDefaultsCommand(root: String,
                                     cols: Seq[(String, Option[String])])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(cols.map { case (n, d) =>
      VersionedTable.setColumnDefault(spark, root, n, d) }.last))
}

/** `ALTER TABLE t DROP COLUMN[S] c, ...` —
  * [[VersionedTable.dropColumn]]: metadata-only; the bytes stay until
  * the next rewrite of each generation. */
case class GraftDropColumnsCommand(root: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(cols.map(VersionedTable.dropColumn(spark, root, _)).last))
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` —
  * [[VersionedTable.addConstraint]] through Spark's OWN constraint
  * grammar (4.1+): the expression text validates against the schema,
  * the existing data backlog is checked (ANSI semantics — a violating
  * row refuses the registration), and every later write gates on it. */
case class GraftAddConstraintCommand(root: String, cname: String,
                                     conditionSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.addConstraint(spark, root, cname,
      conditionSql)))
}

/** `ALTER TABLE t DROP CONSTRAINT name` —
  * [[VersionedTable.dropConstraint]]. */
case class GraftDropConstraintCommand(root: String, cname: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.dropConstraint(spark, root, cname)))
}

/** `ALTER TABLE t RENAME COLUMN a TO b` —
  * [[VersionedTable.renameColumn]]: metadata-only commit carrying
  * stats/bloom coverage, constraints, and derived-partition
  * registrations to the new name; earlier versions stay readable under
  * the names they recorded. */
case class GraftRenameColumnCommand(root: String, from: String, to: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // the __ namespace is internal in BOTH directions: renaming TO it
    // would hide the column from named reads/DESCRIBE; renaming FROM it
    // would touch engine-managed columns like __bucket
    Seq(from, to).filter(_.startsWith("__")).foreach(c =>
      throw new IllegalArgumentException(
        s"column name $c is reserved (the __ prefix is internal)"))
    Seq(Row(VersionedTable.renameColumn(spark, root, from, to)))
  }
}

/** `CREATE TABLE name USING graft [LOCATION ...] [PARTITIONED BY ...]
  * TBLPROPERTIES('graft.keys'='...') AS SELECT ...` — registration plus
  * the first write in one statement, with the schema taken from the
  * query (the CTAS contract). The target root must have no committed
  * versions (CTAS defines content — re-attach is plain CREATE), and IF
  * NOT EXISTS on an existing NAME is a full no-op: the query is not
  * even executed, matching Spark's CTAS semantics. The write itself
  * rides [[GraftInsertCommand]]'s empty-declared-table path, so
  * bucketing, declared stats/bloom indexes, and keyed-upsert semantics
  * are identical to CREATE-then-INSERT. */
case class GraftCreateTableAsCommand(name: String, location: Option[String],
                                     partCols: Seq[String],
                                     keys: Seq[String],
                                     statsCols: Seq[String],
                                     bloomCols: Seq[String],
                                     source: LogicalPlan,
                                     ifNotExists: Boolean,
                                     derived: Seq[(String, String,
                                       String)] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // CTAS registers a name and immediately writes v0 — a first write,
    // which transactions refuse (see GraftInsertCommand); refuse the
    // whole statement here for one loud, early error
    GraftTxn.requireNone(spark, "CREATE TABLE AS SELECT")
    if (GraftCatalog.lookup(spark, name).isDefined) {
      if (!ifNotExists) throw new IllegalArgumentException(
        s"graft table $name already exists (DROP TABLE first, or " +
          "CREATE TABLE IF NOT EXISTS)")
      return Seq.empty
    }
    require(GraftCatalog.lookupView(spark, name).isEmpty,
      s"a graft VIEW named $name already exists — tables and views " +
        "share the name namespace")
    require(keys.nonEmpty,
      "CREATE TABLE ... AS SELECT on a graft table needs merge keys — " +
        "declare TBLPROPERTIES('graft.keys'='k1,k2')")
    val df = PlanBridge.dataFrame(spark, source)
    val fields = df.schema.fieldNames.toSeq
    fields.filter(_.startsWith("__")).foreach(c =>
      throw new IllegalArgumentException(
        s"column name $c is reserved (the __ prefix is internal)"))
    // a transform partition column is COMPUTED by the write — the query
    // need not (usually does not) produce it
    val missing = (partCols ++ keys ++ statsCols ++ bloomCols)
      .filterNot(c => fields.contains(c) || derived.exists(_._1 == c))
    require(missing.isEmpty,
      s"declared partition/key/index columns not produced by the " +
        s"query: ${missing.mkString(", ")}")
    derived.foreach { case (p, kind, src) =>
      require(fields.contains(src),
        s"transform partition source column $src is not produced by " +
          s"the query (${kind.takeWhile(_ != ':')}($src))")
      // a query-produced transform column of the wrong type would fail
      // only AFTER the first write committed — refuse before any write
      if (fields.contains(p)) {
        val want = if (kind == "day")
          org.apache.spark.sql.types.DateType
          else org.apache.spark.sql.types.IntegerType
        require(df.schema(p).dataType == want,
          s"query-produced transform partition column $p must be " +
            s"${want.simpleString} for ${kind.takeWhile(_ != ':')}" +
            s"($src); got ${df.schema(p).dataType.simpleString}")
      }
    }
    val root = location.getOrElse(GraftCatalog.managedRoot(spark, name))
    require(VersionedTable.currentVersion(spark, root).isEmpty,
      s"CTAS target root $root already has committed versions — " +
        "CREATE TABLE (without AS SELECT) re-attaches an existing table")
    // the claim must be OURS before the write: a raced-lost IF NOT
    // EXISTS is a full no-op (never inserting into the winner's table),
    // so the race is detected here rather than swallowed inside create
    try GraftCatalog.create(spark,
      GraftCatalog.Entry(name, root, partCols, keys,
        Some(df.schema.toDDL), statsCols, bloomCols, derived))
    catch { case e: IllegalArgumentException
        if ifNotExists && GraftCatalog.lookup(spark, name).isDefined =>
      return Seq.empty
    }
    // the entry must exist for the insert's empty-declared-table path,
    // so a FAILED query execution unregisters it again — a dangling
    // empty name would block retrying the corrected CTAS (same
    // register-only-on-success stance as GraftMvCreateCommand)
    try GraftInsertCommand(root, Nil, source, byName = true).run(spark)
    catch { case t: Throwable =>
      try GraftCatalog.drop(spark, name)
      catch { case c: Throwable => t.addSuppressed(c) }
      throw t
    }
  }
}

/** `[CREATE OR] REPLACE TABLE name [(schema)] USING graft ...
  * [AS SELECT ...]` — redefine the table under its existing name: ONE
  * engine commit installs the new schema/partitioning/keys with empty
  * content (constraints, derived registrations, properties, and stream
  * watermarks RESET — a replaced table is a new table; earlier versions
  * stay time-travelable under their recorded definitions), the catalog
  * entry re-registers with the new declarations, and an AS SELECT body
  * lands as the first write. Plain REPLACE on an unregistered name
  * refuses; CREATE OR REPLACE falls back to CREATE. LOCATION cannot
  * change (DROP first — re-pointing a name silently orphans data). */
case class GraftReplaceTableCommand(name: String, location: Option[String],
                                    schemaDdl: Option[String],
                                    partCols: Seq[String],
                                    keys: Seq[String],
                                    statsCols: Seq[String],
                                    bloomCols: Seq[String],
                                    orCreate: Boolean,
                                    source: Option[LogicalPlan])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    // REPLACE redefines (a real commit) and then inserts its body —
    // the redefinition cannot defer, so letting the body silently join
    // an open transaction would strand the table EMPTY on ROLLBACK
    GraftTxn.requireNone(spark, "REPLACE TABLE")
    require(schemaDdl.isDefined || source.isDefined,
      "REPLACE TABLE needs a column list or an AS SELECT body")
    GraftCatalog.lookup(spark, name) match {
      case None =>
        if (!orCreate) throw new NoSuchElementException(
          s"graft table $name is not registered — REPLACE TABLE needs " +
            "an existing table (CREATE OR REPLACE creates it)")
        // register the name, then run the UNIFIED replace path below:
        // a root that already carries commits (DROP only unregisters —
        // external-table semantics) must be REPLACED, never silently
        // re-attached with its old content (plain CREATE's behavior)
        val root = location.getOrElse(GraftCatalog.managedRoot(spark, name))
        GraftCatalog.create(spark, GraftCatalog.Entry(name, root,
          partCols, keys, schemaDdl, statsCols, bloomCols))
        run(spark)
      case Some(e) =>
        location.foreach(l => require(l == e.root,
          s"REPLACE TABLE cannot change LOCATION (${e.root} -> $l) — " +
            "DROP TABLE first, then CREATE at the new location"))
        GraftSqlParser.requireNotView(spark, e.root, "REPLACE TABLE")
        val srcDf = source.map(PlanBridge.dataFrame(spark, _))
        val visSchema = schemaDdl
          .map(org.apache.spark.sql.types.StructType.fromDDL)
          .orElse(srcDf.map(_.schema)).get
        val fields = visSchema.fieldNames.toSeq
        fields.filter(_.startsWith("__")).foreach(c =>
          throw new IllegalArgumentException(
            s"column name $c is reserved (the __ prefix is internal)"))
        val missing = (partCols ++ keys ++ statsCols ++ bloomCols)
          .filterNot(fields.contains)
        require(missing.isEmpty,
          s"declared partition/key/index columns not in the schema: " +
            missing.mkString(", "))
        // redefine the MANIFEST when the root has commits: the synthetic
        // __bucket layout is installed here exactly as the first write
        // would, so later INSERT/MERGE behave identically to a fresh
        // CREATE-then-INSERT table
        val preVersion = VersionedTable.currentVersion(spark, e.root)
        val version = preVersion match {
          case None => -1
          case Some(_) =>
            val (schema2, parts2, keys2) =
              if (partCols.nonEmpty) (visSchema, partCols, keys)
              else {
                require(keys.nonEmpty,
                  "REPLACE TABLE on a written root needs PARTITIONED BY " +
                    "or TBLPROPERTIES('graft.keys'=...) — an " +
                    "unpartitioned keyless manifest cannot exist")
                (org.apache.spark.sql.types.StructType(
                  visSchema.fields :+ org.apache.spark.sql.types
                    .StructField(GraftCatalog.BucketCol,
                      org.apache.spark.sql.types.IntegerType,
                      nullable = false)),
                  Seq(GraftCatalog.BucketCol),
                  keys :+ GraftCatalog.BucketCol)
              }
            VersionedTable.redefine(spark, e.root, schema2, parts2, keys2)
        }
        // in-place entry replacement (rename-over): no window in which a
        // concurrent CREATE can steal the name and leave this replace
        // silently mapping to an unrelated root
        GraftCatalog.replaceEntry(spark, GraftCatalog.Entry(name, e.root,
          partCols, keys, Some(visSchema.toDDL), statsCols, bloomCols))
        source match {
          case Some(q) =>
            // the AS SELECT body lands as a SECOND commit: readers
            // between the two observe the empty redefined version (the
            // manifest protocol serializes one commit at a time). A
            // FAILED body compensates — content restores to the
            // pre-replace version and the old declarations re-register —
            // so the statement never strands an emptied table.
            try GraftInsertCommand(e.root, Nil, q, byName = true)
              .run(spark)
            catch { case t: Throwable =>
              try {
                preVersion.foreach(
                  VersionedTable.restore(spark, e.root, _))
                GraftCatalog.replaceEntry(spark, e)
              } catch { case c: Throwable => t.addSuppressed(c) }
              throw t
            }
          case None => Seq(Row(version))
        }
    }
  }
}

/** `SHOW CREATE TABLE t` on a graft table — the round-trippable DDL
  * reconstructed from the committed manifest (schema without internal
  * columns, visible partitioning, merge keys and index coverage as
  * graft properties) plus LOCATION; falls back to the catalog entry's
  * declarations for a never-written table. */
case class GraftShowCreateTableCommand(name: Option[String], root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("createtab_stmt", StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val entry = GraftCatalog.list(spark)
      .find(_.root == VersionedTable.splitRef(root)._1)
    val (schema, partCols, keys, statsCols, bloomCols, derived) =
      VersionedTable.currentVersion(spark, root) match {
        case Some(v) =>
          val m = VersionedTable.resolveManifestAt(spark, root, v, v)
          val (st0, bl0) = VersionedTable.coveredIndexCols(m)
          // an empty (replaced/truncated) manifest carries no file
          // coverage — the DECLARED index columns still belong in the
          // round-trippable DDL
          val (st, bl) =
            if (st0.nonEmpty || bl0.nonEmpty || m.mapping.nonEmpty)
              (st0, bl0)
            else entry.map(e => (e.statsCols, e.bloomCols))
              .getOrElse((st0, bl0))
          (m.schema, m.partCols, m.keys, st, bl, m.derived)
        case None =>
          val e = entry.getOrElse(throw new java.io.FileNotFoundException(
            s"no committed version at $root"))
          (e.schemaDdl
            .map(org.apache.spark.sql.types.StructType.fromDDL)
            .getOrElse(throw new java.io.FileNotFoundException(
              s"graft table has no data and no declared schema at $root")),
            e.partCols, e.keys, e.statsCols, e.bloomCols,
            e.derived.map { case (p, k, s) => p -> ((k, s)) }.toMap)
      }
    val ident = name.orElse(entry.map(_.name)).getOrElse(s"graft.`$root`")
    // a CREATE-declared transform partition (generated `<src>_day` /
    // `<src>_bucket` name) re-emits AS the transform, so the DDL
    // round-trips to the identical one-statement layout; custom-named
    // ALTER-era registrations keep the plain column (their transform
    // shows in DESCRIBE [DETAIL]) — re-attach validates partCols either
    // way. The generated column is omitted from the column list exactly
    // as the user originally wrote it.
    def transformOf(p: String): Option[String] =
      derived.get(p).collect {
        case ("day", src) if p == s"${src}_day" => s"day($src)"
        case (k, src) if k.startsWith("bucket:") &&
            p == s"${src}_bucket" =>
          s"bucket(${k.stripPrefix("bucket:")}, $src)"
      }
    val generated = partCols.filter(transformOf(_).isDefined).toSet
    val cols = schema.fields.toSeq.filterNot(f =>
        f.name.startsWith("__") || generated.contains(f.name))
      .map(f => s"  ${f.name} ${f.dataType.sql}").mkString(",\n")
    val partLine = {
      val vis = partCols.filterNot(_.startsWith("__"))
        .map(p => transformOf(p).getOrElse(p))
      if (vis.isEmpty) "" else s"\nPARTITIONED BY (${vis.mkString(", ")})"
    }
    def prop(k: String, cs: Seq[String]): Seq[String] = {
      // generated transform columns are re-derived (and re-keyed) by
      // the emitted PARTITIONED BY clause — listing them here would
      // double-declare on re-create
      val vis = cs.filterNot(c => c.startsWith("__") ||
        generated.contains(c))
      if (vis.isEmpty) Nil else Seq(s"'$k'='${vis.mkString(",")}'")
    }
    val props = prop("graft.keys", keys) ++
      prop("graft.stats", statsCols) ++ prop("graft.blooms", bloomCols)
    val propLine =
      if (props.isEmpty) "" else s"\nTBLPROPERTIES(${props.mkString(", ")})"
    Seq(Row(s"CREATE TABLE $ident (\n$cols)\nUSING graft\n" +
      s"LOCATION '${VersionedTable.splitRef(root)._1}'" +
      partLine + propLine))
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` —
  * [[VersionedTable.widenColumn]] per column: metadata-only type
  * widening (int→bigint, float→double, ...); the parquet readers
  * promote old files at scan, stats re-tag, blooms rebuild at the next
  * OPTIMIZE. */
case class GraftWidenColumnsCommand(root: String,
                                    cols: Seq[(String,
                                      org.apache.spark.sql.types.DataType)])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    // ONE commit for the whole statement: multi-column ALTER is atomic
    Seq(Row(VersionedTable.widenColumns(spark, root, cols)))
}

/** The general MERGE clause matrix on a graft table —
  * [[VersionedTable.mergeClauses]]: matched DELETE / conditional
  * matched clauses / NOT MATCHED BY SOURCE, one staged commit.
  * Clause conditions and SET right-hand sides arrive UNRESOLVED; at run
  * time target references go bare and source references are rewritten
  * onto the engine's `__s_`-prefixed source columns — resolution needs
  * both schemas, so it cannot happen at parse. */
case class GraftMergeClausesCommand(
    root: String, source: LogicalPlan, keys: Seq[String],
    matched: Seq[(Option[Column], Option[Seq[(String, Column)]])],
    insertWhen: Option[Option[Column]],
    bySource: Seq[(Option[Column], Option[Seq[(String, Column)]])],
    tAlias: Option[String], sAlias: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.requireNotView(spark, root, "MERGE")
    GraftTxn.requireNone(spark, "clause-matrix MERGE (canonical " +
      "UPDATE SET * / INSERT * MERGE defers)")
    val src = PlanBridge.dataFrame(spark, source)
    val sCols = src.columns.toSeq
    val m = VersionedTable.resolveManifest(spark, root, None)
    val tCols = m.schema.fieldNames.toSeq
    def srcName(n: String): Option[String] =
      sCols.find(_.equalsIgnoreCase(n))
    // qualifier resolution onto the joined frame's namespace: target
    // columns bare, source columns __s_-prefixed; an unqualified name
    // living in BOTH schemas is ambiguous and refuses
    def rewrite(c: Column, allowSource: Boolean): Column =
      ColumnBridge.column(ColumnBridge.expression(c).transform {
        case a: UnresolvedAttribute =>
          def asSource(n: String): UnresolvedAttribute = {
            if (!allowSource) throw new IllegalArgumentException(
              "WHEN NOT MATCHED BY SOURCE clauses cannot reference the " +
                s"source (no source row matched): ${a.sql}")
            UnresolvedAttribute(Seq("__s_" + srcName(n).getOrElse(
              throw new IllegalArgumentException(
                s"MERGE source has no column $n"))))
          }
          a.nameParts match {
            case Seq(q, n) if tAlias.exists(_.equalsIgnoreCase(q)) =>
              UnresolvedAttribute(Seq(n))
            case Seq(q, n) if sAlias.exists(_.equalsIgnoreCase(q)) =>
              asSource(n)
            case Seq(n) =>
              val inT = tCols.exists(_.equalsIgnoreCase(n))
              val inS = srcName(n).isDefined
              if (inT && inS && allowSource)
                throw new IllegalArgumentException(
                  s"MERGE reference $n is ambiguous (in both target and " +
                    "source) — qualify it with the table alias")
              else if (inS && !inT) asSource(n)
              else a
            case _ => throw new IllegalArgumentException(
              s"unsupported MERGE reference: ${a.sql}")
          }
      })
    def clause(raw: (Option[Column], Option[Seq[(String, Column)]]),
               allowSource: Boolean): VersionedTable.MergeClause =
      VersionedTable.MergeClause(
        raw._1.map(rewrite(_, allowSource)),
        raw._2.map { sets =>
          sets.foreach { case (n, _) =>
            require(tCols.exists(_.equalsIgnoreCase(n)),
              s"MERGE UPDATE SET targets unknown column $n")
            require(!m.partCols.exists(_.equalsIgnoreCase(n)),
              s"MERGE UPDATE SET cannot change partition column $n")
          }
          sets.map { case (n, v) => n -> rewrite(v, allowSource) }.toMap
        })
    // a synthetic __bucket partition (unpartitioned CREATE) is the
    // engine's concern, never the statement's: recompute it on the
    // source as the SAME pure function of the recorded keys and join it
    // to the ON keys — exactly the canonical-MERGE/INSERT treatment, or
    // the engine's partCols-within-keys contract can never be met
    val bucketed = m.partCols == Seq(GraftCatalog.BucketCol)
    val (src2, keys2) =
      if (!bucketed) (src, keys)
      else {
        val kcols = m.keys.filterNot(_ == GraftCatalog.BucketCol)
        val missing = kcols.filterNot(k =>
          sCols.exists(_.equalsIgnoreCase(k)))
        require(missing.isEmpty,
          "MERGE on a key-bucketed table needs the source to carry the " +
            s"recorded key columns; missing: ${missing.mkString(", ")}")
        (GraftCatalog.withBucket(src, kcols),
          keys :+ GraftCatalog.BucketCol)
      }
    Seq(Row(VersionedTable.mergeClauses(spark, root, src2, keys2,
      matched.map(clause(_, allowSource = true)),
      insertWhen.map(_.map(rewrite(_, allowSource = true))),
      bySource.map(clause(_, allowSource = false)))))
  }
}
