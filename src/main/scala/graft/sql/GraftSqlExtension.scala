package graft.sql

import org.apache.spark.sql.{Column, GraftShims, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

import graft.delta.{DeltaFileIndex, DeltaTable, Op}
import graft.sources.SnapshotRelation

/** SQL surface for graft-delta tables, activated via
  * `spark.sql.extensions=graft.sql.GraftSparkExtension`:
  *
  *  - maintenance statements Spark has no grammar for — `OPTIMIZE`
  *    (incl. `WHERE` / `ZORDER BY`), `VACUUM`, `DESCRIBE HISTORY`,
  *    `RESTORE ... TO VERSION|TIMESTAMP AS OF` — through a delegating
  *    parser (everything else goes to the session parser untouched);
  *  - SQL DML — `DELETE FROM` / `UPDATE` / `MERGE INTO` — on catalog or
  *    path tables backed by this engine, through a post-hoc resolution
  *    rule that hands the resolved plans to the table's transactional
  *    DML (Spark itself supports these only for DSv2 relations);
  *  - `INSERT INTO`/`INSERT OVERWRITE` safety: the analyzer's V1 plan
  *    (InsertIntoHadoopFsRelationCommand) writes parquet files directly,
  *    which would bypass the transaction log entirely — it is rewritten
  *    to a transactional append/overwrite.
  *
  * The reference engine has no SQL layer; this is the Spark-native
  * equivalent of its Go client API surface (cf. reference `delta.go`).
  */
class GraftSparkExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    ext.injectPostHocResolutionRule(session => new GraftDmlRule(session))
    // Hints batch: runs BEFORE Resolution, where Spark would reject time
    // travel over a V1 relation
    ext.injectHintResolutionRule(session => new GraftTimeTravelRule(session))
    // also pre-resolution: schema-evolution MERGE must be claimed before
    // the analyzer's star expansion drops source-only columns
    ext.injectHintResolutionRule(session => new GraftMergeEvolutionRule(session))
    // metadata-only COUNT(*): answered from log stats, no data scan
    ext.injectOptimizerRule(session => new GraftMetadataOnlyCountRule(session))
    // SELECT * FROM table_changes('t' | '/path', start [, end])
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.sql.GraftTableChangesFunction", "table_changes"),
      (args: Seq[Expression]) => GraftTableChangesFunction.plan(args)))
  }
}

/** `table_changes(table_or_path, startVersion[, endVersion])` — the SQL
  * face of the row-level change feed (`DeltaTable.tableChanges`).
  */
object GraftTableChangesFunction {
  def plan(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      s"table_changes(table, startVersion[, endVersion]) got ${args.size} args")
    val spark = SparkSession.active
    def str(e: Expression): String = e.eval(null) match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"table_changes: expected a string literal, got $other")
    }
    val ident = str(args.head)
    val path =
      if (ident.contains("/")) ident
      else SqlTarget.resolve(spark, TableTarget(
        spark.sessionState.sqlParser.parseMultipartIdentifier(ident)))
    val log = graft.delta.DeltaLog.forTable(spark, path)
    // version bounds accept integers OR timestamp strings (delta-spark
    // parity): a timestamp start resolves to the first commit at-or-after
    // it, a timestamp end to the last commit at-or-before it — the same
    // commit-timestamp index as batch time travel.
    def bound(e: Expression, isStart: Boolean): Long = e.eval(null) match {
      case i: java.lang.Integer => i.toLong
      case l: java.lang.Long => l
      case u: org.apache.spark.unsafe.types.UTF8String =>
        val t = u.toString.trim
        t.toLongOption.getOrElse {
          val millis = java.sql.Timestamp.valueOf(t).getTime
          if (isStart) log.startingVersionAtOrAfterTimestamp(millis)
          else log.versionBeforeOrAtTimestamp(millis).getOrElse(
            throw new IllegalArgumentException(
              s"table_changes: ending timestamp $t precedes the first commit"))
        }
      case other => throw new IllegalArgumentException(
        s"table_changes: expected a version or timestamp bound, got $other")
    }
    val end = if (args.size == 3) bound(args(2), isStart = false) else -1L
    DeltaTable.forPath(spark, path)
      .tableChanges(bound(args(1), isStart = true), end).queryExecution.logical
  }
}

/** Path relations and SQL time travel:
  *
  *  - `SELECT ... FROM graft.`/path`` (and `delta.`/path``) resolves to
  *    the table's scan plan, so path tables work in any SQL statement —
  *    SELECT, INSERT, DELETE/UPDATE/MERGE (the substituted LogicalRelation
  *    is what [[GraftDmlRule]] routes to transactional DML);
  *  - `SELECT ... FROM t VERSION AS OF 3` / `TIMESTAMP AS OF '...'`:
  *    Spark parses the temporal clause into [[RelationTimeTravel]] but
  *    resolves it only for DSv2 tables; this rule substitutes the graft
  *    table's historical scan first (cf. reference `log.go:156`
  *    SnapshotForVersionAsOf / `log.go:160` SnapshotForTimestampAsOf —
  *    the same API, SQL-shaped).
  *
  * Runs in the Hints batch (before Resolution); non-graft relations are
  * left untouched for Spark to handle.
  */
/** Shared identifier → graft-delta path resolution for pre-resolution
  * rules: `graft.`/path``/`delta.`/path`` forms, or a catalog table of
  * the graft-delta provider (returning its identifier for post-command
  * cache refresh).
  */
private[sql] object GraftPaths {
  def graftPathWithId(spark: SparkSession,
      parts: Seq[String]): Option[(String, Option[TableIdentifier])] = parts match {
    case Seq(ns, p) if (ns.equalsIgnoreCase("graft") || ns.equalsIgnoreCase("delta")) &&
        graft.delta.DeltaLog.forTable(spark, p).tableExists =>
      Some((p, None))
    case _ =>
      try {
        val id = parts.map(x => x.stripPrefix("`").stripSuffix("`")) match {
          case Seq(a) => TableIdentifier(a)
          case Seq(db, a) => TableIdentifier(a, Some(db))
          case Seq(cat, db, a) => TableIdentifier(a, Some(db), Some(cat))
          case _ => return None
        }
        val md = spark.sessionState.catalog.getTableMetadata(id)
        if (md.provider.exists(_.equalsIgnoreCase("graft-delta")))
          Some((md.location.toString, Some(id)))
        else None
      } catch { case _: Exception => None }
  }
}

class GraftTimeTravelRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
  import org.apache.spark.sql.catalyst.expressions.Cast

  /** Table path when the identifier names a graft-delta table:
    * `graft.`/path``/`delta.`/path`` or a catalog table of the provider.
    */
  private def graftPath(parts: Seq[String]): Option[String] =
    GraftPaths.graftPathWithId(spark, parts).map(_._1)

  /** Millis of a foldable TIMESTAMP AS OF expression. This runs in the
    * pre-resolution Hints batch, where a non-literal expression (e.g.
    * `current_date() - interval`) is not yet resolved — eval would throw
    * mid-analysis, so non-evaluable input returns None and the node is
    * left for Spark to resolve or reject cleanly.
    */
  private def tsMillis(e: Expression): Option[Long] =
    try {
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      Option(Cast(e, TimestampType, Some(tz)).eval(null))
        .map(_.asInstanceOf[Long] / 1000L) // micros -> millis
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `graft.`/path``/`delta.`/path`` with an existing log (path form
    * only — catalog names resolve through Spark's own relation lookup).
    */
  private def pathRelation(parts: Seq[String]): Option[String] = parts match {
    case Seq(ns, p) if (ns.equalsIgnoreCase("graft") || ns.equalsIgnoreCase("delta")) &&
        graft.delta.DeltaLog.forTable(spark, p).tableExists =>
      Some(p)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
      graftPath(u.multipartIdentifier).map { path =>
        val t = DeltaTable.forPath(spark, path)
        (ver.flatMap(_.toLongOption), ts.flatMap(tsMillis)) match {
          case (Some(v), _) => t.toDF(v).queryExecution.logical
          case (None, Some(ms)) => t.toDFAsOfTimestamp(ms).queryExecution.logical
          case _ => tt
        }
      }.getOrElse(tt)
    case u: UnresolvedRelation if !u.isStreaming &&
        pathRelation(u.multipartIdentifier).isDefined =>
      DeltaTable.forPath(spark, pathRelation(u.multipartIdentifier).get)
        .toDF.queryExecution.logical
  }
}

// --------------------------------------------------------------- parser

/** Recognizes the graft maintenance statements; delegates every other
  * string to the session parser, so the full Spark SQL dialect is
  * unaffected.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    parseGraft(sqlText).getOrElse(delegate.parsePlan(sqlText))

  private def parseGraft(sql: String): Option[LogicalPlan] = {
    val s = sql.trim.stripSuffix(";").trim
    s match {
      case OptimizeRe(target, full, where, zorder) =>
        Some(GraftOptimizeCommand(
          parseTarget(target),
          Option(where).map(w => GraftShims.column(delegate.parseExpression(w))),
          Option(zorder).map(splitCols).getOrElse(Nil),
          full = full != null))
      case CopyIntoRe(target, source, fmt, pattern, opts) =>
        val copyOpts = parseCopyOptions(opts)
        Some(GraftCopyIntoCommand(parseTarget(target), source,
          fmt.toLowerCase, Option(pattern),
          force = copyOpts.get("force").exists(_.equalsIgnoreCase("true")),
          mergeSchema = copyOpts.get("mergeschema").exists(_.equalsIgnoreCase("true"))))
      case VacuumRe(target, lite, inventory, hours, dry) =>
        Some(GraftVacuumCommand(parseTarget(target),
          Option(hours).map(h => (h.trim.toDouble * 3600 * 1000).toLong),
          dryRun = dry != null, lite = lite != null,
          inventory = Option(inventory).map(_.trim)))
      case ReplaceTableRe(target, parts, select) =>
        Some(GraftReplaceTableCommand(parseTarget(target),
          Option(parts).map(splitCols).getOrElse(Nil),
          delegate.parsePlan(select.trim)))
      case FsckRe(target, dry) =>
        Some(GraftFsckCommand(parseTarget(target), dryRun = dry != null))
      case HistoryRe(target, limit) =>
        Some(GraftHistoryCommand(parseTarget(target),
          Option(limit).map(_.trim.toInt).getOrElse(Int.MaxValue)))
      case RestoreVersionRe(target, v) =>
        Some(GraftRestoreCommand(parseTarget(target), Left(v.trim.toLong)))
      case RestoreTimestampRe(target, ts) =>
        Some(GraftRestoreCommand(parseTarget(target),
          Right(parseTsMillis(ts.trim))))
      case DescribeDetailRe(target) =>
        Some(GraftDescribeDetailCommand(parseTarget(target)))
      case ReorgRe(target) =>
        Some(GraftReorgCommand(parseTarget(target)))
      case TruncateRe(target) =>
        // TRUNCATE TABLE is valid vanilla Spark SQL — only intercept
        // when the target actually resolves to a graft-delta table, so
        // native tables keep Spark's own behavior
        val tgt = parseTarget(target)
        val isGraft =
          try {
            val spark = SparkSession.active
            graft.delta.DeltaLog
              .forTable(spark, SqlTarget.resolve(spark, tgt)).tableExists
          } catch { case _: Exception => false }
        if (isGraft) Some(GraftTruncateCommand(tgt)) else None
      case AddConstraintRe(target, name, check) =>
        Some(GraftAddConstraintCommand(parseTarget(target), name, check.trim))
      case DropConstraintRe(target, name) =>
        Some(GraftDropConstraintCommand(parseTarget(target), name,
          ifExists = s.toUpperCase.contains("IF EXISTS")))
      case AddColumnsRe(target, cols) =>
        Some(GraftAddColumnsCommand(parseTarget(target),
          delegate.parseTableSchema(cols)))
      case SetDefaultRe(target, colName, default) =>
        Some(GraftSetDefaultCommand(parseTarget(target), colName, Some(default.trim)))
      case DropDefaultRe(target, colName) =>
        Some(GraftSetDefaultCommand(parseTarget(target), colName, None))
      case RenameColumnRe(target, from, to) =>
        Some(GraftRenameColumnCommand(parseTarget(target), from, to))
      case DropColumnRe(target, colName) =>
        Some(GraftDropColumnCommand(parseTarget(target), colName))
      case ClusterByRe(target, none, cols) =>
        Some(GraftClusterByCommand(parseTarget(target),
          if (none != null) Nil else splitCols(cols)))
      case DropFeatureRe(target, feature, trunc) =>
        Some(GraftDropFeatureCommand(parseTarget(target), feature.trim,
          truncateHistory = trunc != null))
      case CommentOnTableRe(target, text, nul) =>
        Some(GraftCommentCommand(parseTarget(target), None,
          if (nul != null) None else Some(text.replace("''", "'"))))
      case AlterColumnTypeRe(target, colName, typeSql) =>
        Some(GraftAlterColumnTypeCommand(parseTarget(target), colName,
          typeSql.trim))
      case AlterColumnCommentRe(target, colName, text, nul) =>
        Some(GraftCommentCommand(parseTarget(target), Some(colName),
          if (nul != null) None else Some(text.replace("''", "'"))))
      case SetPropsRe(target, props) =>
        Some(GraftSetPropertiesCommand(parseTarget(target),
          parseProps(props).toMap))
      case UnsetPropsRe(target, keys) =>
        Some(GraftUnsetPropertiesCommand(parseTarget(target), parseKeys(keys)))
      case ShowPropsRe(target, key) =>
        Some(GraftShowPropertiesCommand(parseTarget(target), Option(key)))
      case CloneRe(ine, target, depth, src, ver, ts) =>
        // VERSION AS OF <digits> = Delta version / Iceberg snapshot id;
        // VERSION AS OF '<name>' = a NAMED Iceberg ref (branch or tag,
        // the metadata's refs map — Iceberg's own SQL convention)
        Some(GraftCloneCommand(parseTarget(target), parseTarget(src),
          ifNotExists = ine != null,
          deep = depth.trim.equalsIgnoreCase("DEEP"),
          versionAsOf = Option(ver).filter(!_.startsWith("'")).map(_.toLong),
          versionRef = Option(ver).filter(_.startsWith("'"))
            .map(_.stripPrefix("'").stripSuffix("'")),
          timestampAsOf = Option(ts).map(parseTsMillis),
          // backticked iceberg.`path` source = out-of-place mirror
          // (same routing rule as CONVERT TO DELTA)
          sourceIsIceberg = IcebergPathRe.matches(src.trim)))
      case ConvertRe(target) =>
        // only the backticked iceberg.`path` form routes to the Iceberg
        // converter — a plain dotted identifier whose first part happens
        // to be a catalog/schema named `iceberg` is a normal table target
        Some(GraftConvertCommand(parseTarget(target),
          fromIceberg = IcebergPathRe.matches(target.trim)))
      case GenerateRe(mode, target) =>
        Some(GraftGenerateCommand(parseTarget(target), mode.toLowerCase))
      case ShowPartitionsRe(target) =>
        Some(GraftShowPartitionsCommand(parseTarget(target)))
      case AnalyzeRe(target, cols) =>
        Some(GraftAnalyzeCommand(parseTarget(target),
          Option(cols).toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))))
      case CreateRefRe(target, kind, name, ver) =>
        Some(GraftRefCommand(parseTarget(target), name,
          create = true, tag = kind.equalsIgnoreCase("TAG"),
          snapshotId = Option(ver).map(_.toLong)))
      case DropRefRe(target, name) =>
        Some(GraftRefCommand(parseTarget(target), name,
          create = false, tag = true, snapshotId = None))
      case _ => None
    }
  }

  /** `'path'`, `delta.`path``/`graft.`path``, or a table identifier. */
  private def parseTarget(raw: String): SqlTarget = {
    val t = raw.trim
    if ((t.startsWith("'") && t.endsWith("'")) ||
        (t.startsWith("\"") && t.endsWith("\"")))
      PathTarget(t.substring(1, t.length - 1))
    else PathTargetRe.findFirstMatchIn(t) match {
      case Some(m) => PathTarget(m.group(1))
      case None => TableTarget(delegate.parseMultipartIdentifier(t))
    }
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  // target = quoted path, (delta|graft).`path`, or a dotted identifier —
  // matched lazily; the optional clauses anchor the split
  private val T = """((?:'[^']+')|(?:"[^"]+")|(?:(?:delta|graft|parquet|iceberg)\.`[^`]+`)|(?:[\w.`]+))"""
  private[sql] val OptimizeRe =
    s"""(?is)OPTIMIZE\\s+$T(\\s+FULL)?(?:\\s+WHERE\\s+(.+?))?(?:\\s+ZORDER\\s+BY\\s+(.+?))?""".r
  private[sql] val VacuumRe =
    s"""(?is)VACUUM\\s+$T(\\s+LITE)?(?:\\s+USING\\s+INVENTORY\\s+(.+?))?(?:\\s+RETAIN\\s+([\\d.]+)\\s+HOURS)?(\\s+DRY\\s+RUN)?""".r
  private[sql] val ReplaceTableRe =
    s"""(?is)CREATE\\s+OR\\s+REPLACE\\s+TABLE\\s+$T\\s+USING\\s+`?graft-delta`?(?:\\s+PARTITIONED\\s+BY\\s*\\(([^)]*)\\))?\\s+AS\\s+(.+)""".r
  private[sql] val CopyIntoRe =
    s"""(?is)COPY\\s+INTO\\s+$T\\s+FROM\\s+'([^']+)'\\s+FILEFORMAT\\s*=\\s*(\\w+)(?:\\s+PATTERN\\s*=\\s*'([^']+)')?(?:\\s+COPY_OPTIONS\\s*\\(([^)]*)\\))?""".r

  /** COPY_OPTIONS blob -> key/value map ('force' = 'true', 'mergeSchema'
    * = 'true', comma-separated); unknown keys fail loudly rather than
    * silently ignoring a user's spelled-out intention.
    */
  private[sql] def parseCopyOptions(blob: String): Map[String, String] = {
    if (blob == null || blob.trim.isEmpty) return Map.empty
    val Pair = """\s*'([^']+)'\s*=\s*'([^']*)'\s*""".r
    blob.split(",").map {
      case Pair(k, v) => k -> v
      case other => throw new IllegalArgumentException(
        s"COPY_OPTIONS entry not of shape 'key' = 'value': $other")
    }.toMap.map { case (k, v) =>
      require(Set("force", "mergeschema").contains(k.toLowerCase),
        s"unknown COPY_OPTIONS key '$k' (supported: force, mergeSchema)")
      k.toLowerCase -> v
    }
  }
  private[sql] val FsckRe =
    s"""(?is)FSCK\\s+REPAIR\\s+TABLE\\s+$T(\\s+DRY\\s+RUN)?""".r
  private[sql] val HistoryRe =
    s"""(?is)DESC(?:RIBE)?\\s+HISTORY\\s+$T(?:\\s+LIMIT\\s+(\\d+))?""".r
  private[sql] val RestoreVersionRe =
    s"""(?is)RESTORE\\s+(?:TABLE\\s+)?$T\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)""".r
  private[sql] val RestoreTimestampRe =
    s"""(?is)RESTORE\\s+(?:TABLE\\s+)?$T\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'""".r
  private[sql] val AddConstraintRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)""".r
  private[sql] val DropConstraintRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+DROP\\s+CONSTRAINT\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)""".r
  private[sql] val AddColumnsRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ADD\\s+COLUMNS?\\s*\\((.+)\\)""".r
  private[sql] val RenameColumnRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+RENAME\\s+COLUMN\\s+(\\w+)\\s+TO\\s+(\\w+)""".r
  private[sql] val DropColumnRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+DROP\\s+COLUMN\\s+(?!IF\\b)(\\w+)""".r
  private[sql] val AlterColumnTypeRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+TYPE\\s+([\\w(),\\s]+)""".r
  private[sql] val SetDefaultRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+SET\\s+DEFAULT\\s+(.+)""".r
  private[sql] val DropDefaultRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+DROP\\s+DEFAULT""".r
  private[sql] val ClusterByRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+CLUSTER\\s+BY\\s+(?:(NONE)|\\(([^)]*)\\))""".r
  private[sql] val DropFeatureRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+DROP\\s+FEATURE\\s+`?([\\w.]+)`?(\\s+TRUNCATE\\s+HISTORY)?""".r
  private[sql] val CommentOnTableRe =
    s"""(?is)COMMENT\\s+ON\\s+TABLE\\s+$T\\s+IS\\s+(?:'((?:[^']|'')*)'|(NULL))""".r
  private[sql] val AlterColumnCommentRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+COMMENT\\s+(?:'((?:[^']|'')*)'|(NULL))""".r
  private[sql] val SetPropsRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+SET\\s+TBLPROPERTIES\\s*\\((.+)\\)""".r
  private[sql] val UnsetPropsRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+UNSET\\s+TBLPROPERTIES\\s*(?:IF\\s+EXISTS\\s*)?\\((.+)\\)""".r
  private[sql] val ShowPropsRe =
    s"""(?is)SHOW\\s+TBLPROPERTIES\\s+$T(?:\\s*\\(\\s*'([^']+)'\\s*\\))?""".r
  private[sql] val DescribeDetailRe =
    s"""(?is)DESC(?:RIBE)?\\s+DETAIL\\s+$T""".r
  private[sql] val GenerateRe =
    s"""(?is)GENERATE\\s+(symlink_format_manifest|iceberg_metadata)\\s+FOR\\s+TABLE\\s+$T""".r
  private[sql] val ShowPartitionsRe =
    s"""(?is)SHOW\\s+PARTITIONS\\s+$T""".r
  // Iceberg's own SQL convention: ALTER TABLE t CREATE TAG|BRANCH name
  // [AS OF VERSION <snapshot-id>] / DROP TAG|BRANCH name
  private[sql] val CreateRefRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+CREATE\\s+(TAG|BRANCH)\\s+(\\w[\\w.-]*)(?:\\s+AS\\s+OF\\s+VERSION\\s+(\\d+))?\\s*""".r
  private[sql] val DropRefRe =
    s"""(?is)ALTER\\s+TABLE\\s+$T\\s+DROP\\s+(?:TAG|BRANCH)\\s+(\\w[\\w.-]*)\\s*""".r
  // PATH targets only: ANALYZE over a catalog identifier stays Spark's
  // own command (hijacking it would break non-graft tables)
  private[sql] val AnalyzeRe =
    s"""(?is)ANALYZE\\s+TABLE\\s+((?:'[^']+')|(?:(?:delta|graft)\\.`[^`]+`))\\s+COMPUTE\\s+STATISTICS(?:\\s+FOR\\s+COLUMNS\\s+([\\w\\s,]+))?\\s*""".r
  private[sql] val ReorgRe =
    s"""(?is)REORG\\s+TABLE\\s+$T\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)""".r
  private[sql] val TruncateRe =
    s"""(?is)TRUNCATE\\s+TABLE\\s+$T""".r
  private[sql] val CloneRe =
    s"""(?is)CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?$T\\s+(SHALLOW|DEEP)\\s+CLONE\\s+$T(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+|'[^']+')|\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)')?\\s*""".r
  private[sql] val ConvertRe =
    s"""(?is)CONVERT\\s+TO\\s+DELTA\\s+$T""".r
  private val PathTargetRe = """(?:delta|graft|parquet|iceberg)\.`([^`]+)`""".r
  private val IcebergPathRe = """(?i)iceberg\.`[^`]+`""".r

  private def splitCols(s: String): Seq[String] =
    s.trim.stripPrefix("(").stripSuffix(")")
      .split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq

  private def unquote(s: String): String =
    if ((s.startsWith("'") && s.endsWith("'")) ||
        (s.startsWith("\"") && s.endsWith("\""))) s.substring(1, s.length - 1)
    else s

  /** `'k' = 'v', k2 = "v2"` pairs of a TBLPROPERTIES clause. */
  private[sql] def parseProps(s: String): Seq[(String, String)] =
    """('[^']*'|"[^"]*"|[\w.\-]+)\s*=\s*('[^']*'|"[^"]*"|[\w.\-]+)""".r
      .findAllMatchIn(s)
      .map(m => (unquote(m.group(1)), unquote(m.group(2)))).toSeq

  private[sql] def parseKeys(s: String): Seq[String] =
    """('[^']*'|"[^"]*"|[\w.\-]+)""".r
      .findAllMatchIn(s).map(m => unquote(m.group(1))).toSeq

  private def parseTsMillis(s: String): Long =
    s.toLongOption.getOrElse {
      try java.sql.Timestamp.valueOf(s).getTime
      catch { case _: IllegalArgumentException =>
        java.sql.Date.valueOf(s).getTime }
    }
}

// -------------------------------------------------------------- targets

sealed trait SqlTarget
final case class PathTarget(path: String) extends SqlTarget
final case class TableTarget(nameParts: Seq[String]) extends SqlTarget

object SqlTarget {
  private def identifier(parts: Seq[String]): TableIdentifier =
    parts.map(p => p.stripPrefix("`").stripSuffix("`")) match {
      case Seq(a) => TableIdentifier(a)
      case Seq(db, a) => TableIdentifier(a, Some(db))
      case Seq(cat, db, a) => TableIdentifier(a, Some(db), Some(cat))
      case other => throw new IllegalArgumentException(
        s"cannot resolve table name ${other.mkString(".")}")
    }

  def resolve(spark: SparkSession, t: SqlTarget): String = t match {
    case PathTarget(p) => p
    case TableTarget(parts) =>
      spark.sessionState.catalog.getTableMetadata(identifier(parts))
        .location.toString
  }

  private[sql] def tableIdentifier(t: SqlTarget): Option[TableIdentifier] =
    t match {
      case TableTarget(parts) => Some(identifier(parts))
      case _ => None
    }

  /** Drop the catalog's cached relation so the next `spark.table` sees
    * the new snapshot (the cache holds the pre-DML FileIndex).
    */
  def refresh(spark: SparkSession, t: SqlTarget): Unit = t match {
    case TableTarget(parts) =>
      spark.sessionState.catalog.refreshTable(identifier(parts))
    case _ => ()
  }

  def refresh(spark: SparkSession, id: Option[TableIdentifier]): Unit =
    id.foreach(spark.sessionState.catalog.refreshTable)
}

// ------------------------------------------------------------- commands

case class GraftOptimizeCommand(target: SqlTarget, where: Option[Column],
    zorderBy: Seq[String], full: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    require(!full || (where.isEmpty && zorderBy.isEmpty),
      "OPTIMIZE ... FULL takes no WHERE or ZORDER BY (it is the " +
        "whole-table re-cluster of the declared clustering columns)")
    val v = if (full) t.compactFull() else t.compact(zorderBy, where)
    SqlTarget.refresh(spark, target)
    Seq(Row(v))
  }
}

/** COPY INTO — idempotent bulk file ingestion (see [[graft.delta.CopyInto]]). */
case class GraftCopyIntoCommand(target: SqlTarget, source: String,
    format: String, pattern: Option[String], force: Boolean,
    mergeSchema: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_loaded_files", LongType)(),
    AttributeReference("num_skipped_files", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val r = t.copyInto(source, format, pattern, force, mergeSchema)
    SqlTarget.refresh(spark, target)
    Seq(Row(r.numLoadedFiles, r.numSkippedFiles))
  }
}

/** `SHOW PARTITIONS t` — the live partition set, answered from the
  * transaction log's AddFile metadata (one distinct over the file
  * state — zero filesystem listing, at any partition count).
  */
/** `ALTER TABLE t CREATE TAG|BRANCH name [AS OF VERSION <id>]` /
  * `ALTER TABLE t DROP TAG|BRANCH name` — publish or remove a named
  * Iceberg ref on the generated UniForm metadata (A87 export side).
  */
case class GraftRefCommand(target: SqlTarget, name: String,
    create: Boolean, tag: Boolean, snapshotId: Option[Long])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    if (create) t.createIcebergRef(name, tag = tag, snapshotId = snapshotId)
    else t.dropIcebergRef(name)
    Nil
  }
}

/** `ANALYZE TABLE delta.`path` COMPUTE STATISTICS [FOR COLUMNS c, ...]`
  * → [[DeltaTable.analyzeNdv]]: per-column NDV theta sketches exported
  * as an Iceberg Puffin statistics file (A88). Path targets only.
  */
case class GraftAnalyzeCommand(target: SqlTarget, columns: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("statistics_path", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = SqlTarget.resolve(spark, target)
    val p = DeltaTable.forPath(spark, path).analyzeNdv(columns)
    Seq(Row(p.toString))
  }
}

case class GraftShowPartitionsCommand(target: SqlTarget)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, element_at}
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val s = t.deltaLog.update()
    val partCols = s.metadata.partitionColumns
    require(partCols.nonEmpty, "SHOW PARTITIONS: table is not partitioned")
    s.activeFilesDF
      .select(partCols.map(c => element_at(col("partitionValues"), c).as(c)): _*)
      .distinct()
      .collect()
      .map { r =>
        partCols.zipWithIndex.map { case (c, i) =>
          s"$c=${if (r.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__" else r.getString(i)}"
        }.mkString("/")
      }
      .sorted
      .map(Row(_)).toSeq
  }
}

/** `GENERATE symlink_format_manifest|iceberg_metadata FOR TABLE t` —
  * foreign-reader metadata for the current snapshot: Hive/Presto/Athena
  * symlink manifests, or UniForm Iceberg metadata (A84).
  */
case class GraftGenerateCommand(target: SqlTarget, mode: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    mode match {
      case "symlink_format_manifest" => t.generateSymlinkManifest()
      case "iceberg_metadata" => t.generateIcebergMetadata()
    }
    Nil
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` — metadata-only under column
  * mapping (the physical name/id stay with the data files).
  */
case class GraftRenameColumnCommand(target: SqlTarget, from: String, to: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val v = t.renameColumn(from, to)
    SqlTarget.refresh(spark, target)
    Seq(Row(v))
  }
}

/** `ALTER TABLE t DROP COLUMN a` — metadata-only under column mapping
  * (physical data stays; a re-added name gets a fresh physical id).
  */
case class GraftDropColumnCommand(target: SqlTarget, colName: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val v = t.dropColumn(colName)
    SqlTarget.refresh(spark, target)
    Seq(Row(v))
  }
}

/** `ALTER TABLE t ALTER COLUMN c SET DEFAULT expr` / `DROP DEFAULT` —
  * column defaults ([[graft.delta.ColumnDefaults]]; writer feature
  * `allowColumnDefaults`): future writes omitting the column fill from
  * the expression; supplied values always win.
  */
case class GraftSetDefaultCommand(target: SqlTarget, colName: String,
    default: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val v = default match {
      case Some(d) => t.setColumnDefault(colName, d)
      case None => t.dropColumnDefault(colName)
    }
    SqlTarget.refresh(spark, target)
    Seq(Row(v))
  }
}

/** `TRUNCATE TABLE t` on a graft table (reference `op/names.go`
  * TRUNCATE): a metadata-only remove-all commit — no data file is read,
  * rewritten or physically deleted; CDF readers see the dropped rows as
  * deletes and time travel before the truncate still works.
  */
case class GraftTruncateCommand(target: SqlTarget) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val v = t.truncate()
    SqlTarget.refresh(spark, target)
    Seq(Row(v))
  }
}

/** `REORG TABLE t APPLY (PURGE)` — materialize deletion vectors. */
case class GraftReorgCommand(target: SqlTarget) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val v = t.reorgPurge()
    SqlTarget.refresh(spark, target)
    Seq(Row(v))
  }
}

case class GraftVacuumCommand(target: SqlTarget,
    retentionMillis: Option[Long],
    dryRun: Boolean = false,
    lite: Boolean = false,
    inventory: Option[String] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("deleted_count", LongType)(),
    AttributeReference("path", StringType)())

  /** `USING INVENTORY` operand → DataFrame: `(query)` runs as SQL; a
    * delta/graft/path target reads that table; anything else resolves
    * through the catalog.
    */
  private def inventoryDf(spark: SparkSession, spec: String)
      : org.apache.spark.sql.DataFrame = {
    val s = spec.trim
    if (s.startsWith("(") && s.endsWith(")"))
      spark.sql(s.substring(1, s.length - 1))
    else {
      val pathRe = """(?is)(?:delta|graft)\.`([^`]+)`""".r
      s match {
        case pathRe(p) => DeltaTable.forPath(spark, p).toDF
        case quoted if (quoted.startsWith("'") && quoted.endsWith("'")) ||
            (quoted.startsWith("\"") && quoted.endsWith("\"")) =>
          DeltaTable.forPath(spark, quoted.substring(1, quoted.length - 1)).toDF
        case name => spark.table(name)
      }
    }
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    require(inventory.isEmpty || !lite,
      "VACUUM LITE derives its candidates from the log; USING INVENTORY applies to full VACUUM only")
    val r = if (lite) t.vacuumLite(retentionMillis, dryRun)
            else t.vacuum(retentionMillis, dryRun,
              inventory = inventory.map(inventoryDf(spark, _)))
    // bounded: one row per sample path (count repeated), or a single
    // count row when nothing was deleted
    if (r.sample.isEmpty) Seq(Row(r.deletedCount, null))
    else r.sample.map(p => Row(r.deletedCount, p))
  }
}

/** `FSCK REPAIR TABLE t [DRY RUN]`: drop references to physically
  * missing data files (DeltaTable.fsckRepair).
  */
case class GraftFsckCommand(target: SqlTarget, dryRun: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val removed = t.fsckRepair(dryRun)
    SqlTarget.refresh(spark, target)
    removed.map(Row(_))
  }
}

case class GraftHistoryCommand(target: SqlTarget, limit: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("timestamp", TimestampType)(),
    AttributeReference("operation", StringType)(),
    AttributeReference("operationParameters",
      MapType(StringType, StringType))(),
    AttributeReference("operationMetrics", MapType(StringType, StringType))(),
    AttributeReference("engineInfo", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val latest = t.deltaLog.update().version
    (0L to latest).reverse.flatMap { v =>
      t.deltaLog.commitInfoAt(v).map { ci =>
        Row(v, new java.sql.Timestamp(ci.timestamp), ci.operation,
          ci.operationParameters, ci.operationMetrics, ci.engineInfo.orNull)
      }
    }.take(limit)
  }
}

case class GraftRestoreCommand(target: SqlTarget,
    to: Either[Long, Long]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val v = to.fold(t.restoreToVersion, t.restoreToTimestamp)
    SqlTarget.refresh(spark, target)
    Seq(Row(v))
  }
}

case class GraftAddConstraintCommand(target: SqlTarget, name: String,
    check: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val v = t.addConstraint(name, check)
    SqlTarget.refresh(spark, target)
    Seq(Row(v))
  }
}

case class GraftDropConstraintCommand(target: SqlTarget, name: String,
    ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    if (ifExists && !t.constraints.contains(name)) return Nil
    val v = t.dropConstraint(name)
    SqlTarget.refresh(spark, target)
    Seq(Row(v))
  }
}

/** ADD COLUMNS on a graft table is a metadata-only log commit; other
  * catalog tables keep stock Spark behavior.
  */
case class GraftAddColumnsCommand(target: SqlTarget,
    cols: StructType) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = SqlTarget.resolve(spark, target)
    val log = graft.delta.DeltaLog.forTable(spark, path)
    if (log.tableExists) {
      val v = DeltaTable.forPath(spark, path).addColumns(cols)
      SqlTarget.refresh(spark, target)
      Seq(Row(v))
    } else SqlTarget.tableIdentifier(target) match {
      case Some(id) =>
        org.apache.spark.sql.execution.command
          .AlterTableAddColumnsCommand(id, cols.fields.toSeq).run(spark)
        Nil
      case None => throw new IllegalArgumentException(
        s"no graft-delta table at $path")
    }
  }
}

/** TBLPROPERTIES on a graft table live in the transaction log (the
  * catalog copy would be invisible to path-based readers and other
  * engines); non-graft catalog tables keep stock Spark behavior.
  */
case class GraftSetPropertiesCommand(target: SqlTarget,
    props: Map[String, String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val path = SqlTarget.resolve(spark, target)
    val log = graft.delta.DeltaLog.forTable(spark, path)
    if (log.tableExists) {
      // delta-spark convention: delta.minReaderVersion/minWriterVersion
      // in TBLPROPERTIES request a PROTOCOL upgrade, they are not table
      // configuration — route them to upgradeTableProtocol (which also
      // rejects downgrades) instead of polluting the config map
      val verKeys = Set("delta.minreaderversion", "delta.minwriterversion")
      val (verProps, rest) = props.partition(p => verKeys(p._1.toLowerCase))
      if (verProps.nonEmpty) {
        val t = DeltaTable.forPath(spark, path)
        val p = t.snapshot.protocol
        t.upgradeTableProtocol(
          verProps.collectFirst { case (k, v)
            if k.equalsIgnoreCase("delta.minReaderVersion") => v.trim.toInt }
            .getOrElse(p.minReaderVersion),
          verProps.collectFirst { case (k, v)
            if k.equalsIgnoreCase("delta.minWriterVersion") => v.trim.toInt }
            .getOrElse(p.minWriterVersion))
      }
      if (rest.nonEmpty || verProps.isEmpty) {
        val txn = log.startTransaction()
        val md = txn.metadata
        txn.updateMetadata(md.copy(configuration = md.configuration ++ rest))
        txn.commit(Nil, Op.SetTableProperties,
          operationParameters = Map("properties" ->
            rest.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")))
      }
      SqlTarget.refresh(spark, target)
    } else SqlTarget.tableIdentifier(target) match {
      case Some(id) =>
        org.apache.spark.sql.execution.command
          .AlterTableSetPropertiesCommand(id, props, isView = false).run(spark)
      case None => throw new IllegalArgumentException(
        s"no graft-delta table at $path")
    }
    Nil
  }
}

/** `ALTER TABLE t CLUSTER BY (cols) | NONE` — liquid-clustering DDL:
  * metadata-only re-declaration of `delta.clusteringColumns`; the next
  * plain OPTIMIZE re-clusters, NONE reverts OPTIMIZE to bin-packing
  * (see [[graft.delta.DeltaTable.clusterBy]]).
  */
case class GraftClusterByCommand(target: SqlTarget,
    cols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    t.clusterBy(cols)
    SqlTarget.refresh(spark, target)
    Nil
  }
}

/** Metadata-only COUNT(*) (delta-spark's OptimizeMetadataOnlyDeltaQuery,
  * re-expressed over the graft scan): an unfiltered `SELECT COUNT(*)`
  * against a graft-delta relation is answered from the log — Σ per-file
  * `numRecords` stats minus deletion-vector cardinalities — instead of
  * scanning data. At 100 TB that turns the most common sanity query
  * from a full-table scan into an O(log) metadata aggregation. Strictly
  * guarded: grouping must be empty, every aggregate must be a bare
  * unfiltered COUNT(1), the child may contain only column-pruning
  * Projects above the relation (any Filter/Join/etc. bails), and EVERY
  * file must carry numRecords stats — one stats-less file falls back to
  * the scan rather than guessing.
  */
class GraftMetadataOnlyCountRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{
    AggregateExpression, Complete, Count}

  private sealed trait MetaAgg
  private case object MetaCount extends MetaAgg
  private case class MetaMin(col: String, dt: DataType) extends MetaAgg
  private case class MetaMax(col: String, dt: DataType) extends MetaAgg

  /** The metadata-answerable aggregate of `e`, if any: COUNT(1), or
    * MIN/MAX of a plain attribute (no FILTER clause, no DISTINCT).
    */
  private def metaAggOf(e: org.apache.spark.sql.catalyst.expressions.NamedExpression)
      : Option[MetaAgg] = e match {
    case Alias(AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _), _) =>
      Some(MetaCount)
    // strings are excluded: parquet-mr MAY prefix-truncate binary footer
    // stats (a valid BOUND for skipping, but not the exact extremum)
    case Alias(AggregateExpression(
        org.apache.spark.sql.catalyst.expressions.aggregate.Min(a: AttributeReference),
        Complete, false, None, _), _) if statsExact(a.dataType) =>
      Some(MetaMin(a.name, a.dataType))
    case Alias(AggregateExpression(
        org.apache.spark.sql.catalyst.expressions.aggregate.Max(a: AttributeReference),
        Complete, false, None, _), _) if statsExact(a.dataType) =>
      Some(MetaMax(a.name, a.dataType))
    case _ => None
  }

  /** Types whose footer min/max IS the exact extremum. Float/Double are
    * excluded alongside String: parquet NaN handling differs from
    * Spark's (Spark MIN/MAX order NaN largest; footer stats may be
    * NaN-contaminated or NaN-skipped), so a NaN-bearing column could
    * answer wrong from stats.
    */
  private def statsExact(dt: DataType): Boolean =
    dt != StringType && dt != FloatType && dt != DoubleType

  /** The graft snapshot under `plan` when nothing row-changing sits in
    * between (column-pruning Projects only). Both read paths count: the
    * FileIndex relation and the DV/column-mapping fallback relation.
    */
  private def snapshotOf(plan: LogicalPlan): Option[graft.delta.Snapshot] = plan match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location match {
        case d: DeltaFileIndex => Some(d.indexSnapshot)
        case _ => None
      }
      case s: SnapshotRelation => Some(s.relationSnapshot)
      case _ => None
    }
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) ||
          projectList.isEmpty => snapshotOf(child)
    case _ => None
  }

  /** Answer every requested aggregate from per-file stats, or None when
    * any needed number is missing. COUNT needs numRecords on every file
    * (DV cardinalities subtract exactly); MIN/MAX additionally demand a
    * DV-FREE table (a deletion vector may have deleted the extremum) and
    * min/max stats for the column on EVERY file, and only for
    * partition-independent atomic columns the stats writer serializes
    * losslessly. One metadata-sized aggregation job total.
    *
    * Timestamp caveat: the engine's own writer emits MICROS parquet
    * (stats exact); a CONVERT-adopted foreign file with NANOS
    * annotation has its stats floor/ceil-widened to micros by the
    * harvester, so a timestamp MAX over such a file may exceed the true
    * maximum by under 1 µs — the same bound-vs-extremum distinction
    * that excludes strings, but bounded and micros-granular.
    */
  private def metadataAnswers(snapshot: graft.delta.Snapshot,
      aggs: Seq[MetaAgg]): Option[Seq[Any]] = {
    import org.apache.spark.sql.functions._
    val files = snapshot.activeFilesDF
    val md = snapshot.metadata
    val statsSchema = graft.delta.Stats.statsSchema(md.schema, md.partitionColumns)
    val statFieldNames = statsSchema("minValues").dataType
      .asInstanceOf[StructType].fieldNames.toSet
    val needMinMax = aggs.collect {
      case MetaMin(c, _) => c
      case MetaMax(c, _) => c
    }.distinct
    // column mapping renames physical stats keys; partition columns have
    // no stats — bail on any unsupported min/max shape up front
    if (needMinMax.nonEmpty &&
        (graft.delta.ColumnMapping.mode(md) != "none" ||
          !needMinMax.forall(statFieldNames.contains)))
      return None
    val parsed = from_json(col("stats"), statsSchema)
    val nrJson = get_json_object(col("stats"), "$.numRecords").cast("long")
    val nr =
      if (files.columns.contains("stats_parsed"))
        coalesce(col("stats_parsed.numRecords"), nrJson)
      else nrJson
    val dv = coalesce(col("deletionVector.cardinality").cast("long"), lit(0L))
    val proj = files.select(Seq(nr.as("nr"), dv.as("dv")) ++
      needMinMax.flatMap(c => Seq(
        parsed.getField("minValues").getField(c).as(s"mn_$c"),
        parsed.getField("maxValues").getField(c).as(s"mx_$c"))): _*)
    val aggCols =
      Seq(count(lit(1)).as("nf"), count(col("nr")).as("ns"),
        sum(col("nr") - col("dv")).as("t"), sum(col("dv")).as("dvs")) ++
      needMinMax.flatMap(c => Seq(
        count(col(s"mn_$c")).as(s"nmn_$c"),
        min(col(s"mn_$c")).as(s"vmn_$c"),
        max(col(s"mx_$c")).as(s"vmx_$c")))
    val r = proj.agg(aggCols.head, aggCols.tail: _*).head()
    val nFiles = r.getLong(r.fieldIndex("nf"))
    val haveAllNr = nFiles == r.getLong(r.fieldIndex("ns"))
    val total: Option[Long] =
      if (nFiles == 0L) Some(0L)
      else if (haveAllNr) Some(r.getLong(r.fieldIndex("t")))
      else None
    // independent of haveAllNr: dv is coalesced to 0 so the sum is always
    // defined — a foreign table with partial numRecords stats but a DV
    // must still refuse MIN/MAX (the DV may have deleted the extremum)
    val anyDv = nFiles > 0L && r.getLong(r.fieldIndex("dvs")) > 0L
    def minMax(c: String, isMin: Boolean): Option[Any] =
      if (nFiles == 0L || anyDv ||
          r.getLong(r.fieldIndex(s"nmn_$c")) != nFiles) None
      else Some(r.get(r.fieldIndex(if (isMin) s"vmn_$c" else s"vmx_$c")))
    val answers = aggs.map {
      case MetaCount => total
      case MetaMin(c, _) => minMax(c, isMin = true)
      case MetaMax(c, _) => minMax(c, isMin = false)
    }
    if (answers.forall(_.isDefined)) Some(answers.map(_.get)) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformDown {
      case a: Aggregate
          if a.groupingExpressions.isEmpty &&
            a.aggregateExpressions.nonEmpty &&
            a.aggregateExpressions.forall(e => metaAggOf(e).isDefined) =>
        val aggs = a.aggregateExpressions.map(e => metaAggOf(e).get)
        snapshotOf(a.child).flatMap(metadataAnswers(_, aggs)) match {
          case Some(values) =>
            val internal = values.zip(a.aggregateExpressions).map {
              case (v, e) =>
                org.apache.spark.sql.catalyst.CatalystTypeConverters
                  .convertToCatalyst(v) match {
                    case x => x
                  }
            }
            LocalRelation(
              a.aggregateExpressions.map(_.toAttribute),
              Seq(org.apache.spark.sql.catalyst.InternalRow.fromSeq(internal)))
          case None => a
        }
    }
  }
}

/** `ALTER TABLE t DROP FEATURE f [TRUNCATE HISTORY]` — see
  * [[graft.delta.DeltaTable.dropFeature]].
  */
/** `ALTER TABLE t ALTER COLUMN c TYPE <t>` — see
  * [[graft.delta.DeltaTable.alterColumnType]].
  */
case class GraftAlterColumnTypeCommand(target: SqlTarget,
    column: String, typeSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    t.alterColumnType(column,
      spark.sessionState.sqlParser.parseDataType(typeSql))
    SqlTarget.refresh(spark, target)
    Nil
  }
}

case class GraftDropFeatureCommand(target: SqlTarget,
    feature: String, truncateHistory: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    t.dropFeature(feature, truncateHistory)
    SqlTarget.refresh(spark, target)
    Nil
  }
}

/** `COMMENT ON TABLE t IS '...'|NULL` and `ALTER TABLE t ALTER COLUMN c
  * COMMENT '...'|NULL`. Comments are metadata-only commits persisted
  * where other engines look for them: the table comment in
  * `metaData.description` (the protocol field; the reference's
  * `types/type_parser.go` keeps schema comments through its codec too),
  * column comments in the field's `comment` metadata inside the schema
  * JSON — so they survive checkpoints and DESCRIBE shows them.
  */
case class GraftCommentCommand(target: SqlTarget,
    column: Option[String], comment: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, SqlTarget.resolve(spark, target))
    val txn = t.deltaLog.startTransaction()
    val md = txn.metadata
    column match {
      case None =>
        txn.updateMetadata(md.copy(description = comment.orNull))
        txn.commit(Nil, Op.SetTableProperties, operationParameters =
          Map("comment" -> comment.getOrElse("NULL")))
      case Some(c) =>
        val schema = md.schema
        require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"column $c not found in schema (${schema.fieldNames.mkString(", ")})")
        val updated = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
          if (!f.name.equalsIgnoreCase(c)) f
          else comment match {
            case Some(txt) => f.withComment(txt)
            case None =>
              // drop the comment key, keep any other field metadata
              val mb = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata).remove("comment")
              f.copy(metadata = mb.build())
          }
        })
        txn.updateMetadata(md.copy(schemaString = updated.json))
        txn.commit(Nil, Op.ChangeColumn, operationParameters =
          Map("column" -> c, "comment" -> comment.getOrElse("NULL")))
    }
    SqlTarget.refresh(spark, target)
    Nil
  }
}

case class GraftUnsetPropertiesCommand(target: SqlTarget,
    keys: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val path = SqlTarget.resolve(spark, target)
    val log = graft.delta.DeltaLog.forTable(spark, path)
    if (log.tableExists) {
      val txn = log.startTransaction()
      val md = txn.metadata
      txn.updateMetadata(md.copy(configuration = md.configuration -- keys))
      txn.commit(Nil, Op.UnsetTableProperties,
        operationParameters = Map("properties" -> keys.sorted.mkString(",")))
      SqlTarget.refresh(spark, target)
    } else SqlTarget.tableIdentifier(target) match {
      case Some(id) =>
        org.apache.spark.sql.execution.command
          .AlterTableUnsetPropertiesCommand(id, keys, ifExists = true,
            isView = false).run(spark)
      case None => throw new IllegalArgumentException(
        s"no graft-delta table at $path")
    }
    Nil
  }
}

case class GraftShowPropertiesCommand(target: SqlTarget,
    key: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType)(),
    AttributeReference("value", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = SqlTarget.resolve(spark, target)
    val log = graft.delta.DeltaLog.forTable(spark, path)
    val props =
      if (log.tableExists) log.update().metadata.configuration
      else SqlTarget.tableIdentifier(target)
        .map(id => spark.sessionState.catalog.getTableMetadata(id).properties)
        .getOrElse(Map.empty[String, String])
    key match {
      case Some(k) => props.get(k).map(v => Row(k, v)).toSeq
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** DESCRIBE DETAIL: the table's operational one-row summary (file count
  * and bytes come from one distributed aggregate over the active set).
  */
case class GraftDescribeDetailCommand(target: SqlTarget)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType)(),
    AttributeReference("id", StringType)(),
    AttributeReference("name", StringType)(),
    AttributeReference("location", StringType)(),
    AttributeReference("createdAt", TimestampType)(),
    AttributeReference("lastModified", TimestampType)(),
    AttributeReference("partitionColumns", ArrayType(StringType))(),
    AttributeReference("clusteringColumns", ArrayType(StringType))(),
    AttributeReference("numFiles", LongType)(),
    AttributeReference("sizeInBytes", LongType)(),
    AttributeReference("properties", MapType(StringType, StringType))(),
    AttributeReference("minReaderVersion", IntegerType)(),
    AttributeReference("minWriterVersion", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val path = SqlTarget.resolve(spark, target)
    val t = DeltaTable.forPath(spark, path)
    val s = t.deltaLog.update()
    val md = s.metadata
    // the incremental version checksum answers numFiles/sizeInBytes in
    // O(1); aggregate the file state only when no crc exists
    val r = t.deltaLog.readChecksum(s.version)
      .map { case (nf, sz) => Row(nf, sz) }
      .getOrElse(s.activeFilesDF
        .agg(count(lit(1)), coalesce(sum("size"), lit(0L))).head())
    val last = t.deltaLog.commitInfoAt(s.version).map(_.timestamp)
    Seq(Row("graft-delta", md.id, md.name, path,
      md.createdTime.map(new java.sql.Timestamp(_)).orNull,
      last.map(new java.sql.Timestamp(_)).orNull,
      md.partitionColumns,
      graft.delta.DeltaConfig.ClusteringColumns.fromMetadata(md),
      r.getLong(0), r.getLong(1), md.configuration,
      s.protocol.minReaderVersion, s.protocol.minWriterVersion))
  }
}

case class GraftDeleteCommand(path: String, condition: Column,
    refreshId: Option[TableIdentifier]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = DeltaTable.forPath(spark, path).delete(condition)
    SqlTarget.refresh(spark, refreshId)
    Seq(Row(v))
  }
}

case class GraftUpdateCommand(path: String, condition: Column,
    set: Seq[(String, Column)],
    refreshId: Option[TableIdentifier]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = DeltaTable.forPath(spark, path).update(condition, set.toMap)
    SqlTarget.refresh(spark, refreshId)
    Seq(Row(v))
  }
}

/** kind ∈ update | updateAll | delete | insert | insertAll; conditions and
  * assignment values follow the MergeBuilder `t.` / `s.` alias convention.
  */
case class SqlMergeClause(kind: String, condition: Option[Column],
    set: Seq[(String, Column)])

case class GraftMergeCommand(path: String, source: LogicalPlan,
    condition: Column, matched: Seq[SqlMergeClause],
    notMatched: Seq[SqlMergeClause], bySource: Seq[SqlMergeClause],
    refreshId: Option[TableIdentifier],
    schemaEvolution: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    val b = t.merge(GraftShims.ofRows(spark, source), condition)
    if (schemaEvolution) b.withSchemaEvolution()
    matched.foreach { c =>
      (c.kind, c.condition) match {
        case ("update", Some(x)) => b.whenMatchedUpdate(x, c.set.toMap)
        case ("update", None) => b.whenMatchedUpdate(c.set.toMap)
        case ("updateAll", Some(x)) => b.whenMatchedUpdateAll(x)
        case ("updateAll", None) => b.whenMatchedUpdateAll()
        case ("delete", Some(x)) => b.whenMatchedDelete(x)
        case ("delete", None) => b.whenMatchedDelete()
        case (k, _) => throw new IllegalStateException(s"bad matched clause $k")
      }
    }
    notMatched.foreach { c =>
      (c.kind, c.condition) match {
        case ("insert", Some(x)) => b.whenNotMatchedInsert(x, c.set.toMap)
        case ("insert", None) => b.whenNotMatchedInsert(c.set.toMap)
        case ("insertAll", Some(x)) => b.whenNotMatchedInsertAll(x)
        case ("insertAll", None) => b.whenNotMatchedInsertAll()
        case (k, _) => throw new IllegalStateException(s"bad not-matched clause $k")
      }
    }
    bySource.foreach { c =>
      (c.kind, c.condition) match {
        case ("update", Some(x)) => b.whenNotMatchedBySourceUpdate(x, c.set.toMap)
        case ("update", None) => b.whenNotMatchedBySourceUpdate(c.set.toMap)
        case ("delete", Some(x)) => b.whenNotMatchedBySourceDelete(x)
        case ("delete", None) => b.whenNotMatchedBySourceDelete()
        case (k, _) => throw new IllegalStateException(s"bad by-source clause $k")
      }
    }
    val v = b.execute()
    SqlTarget.refresh(spark, refreshId)
    Seq(Row(v))
  }
}

/** Transactional replacement for the analyzer's direct-parquet V1 insert. */
case class GraftInsertCommand(path: String, query: LogicalPlan,
    overwrite: Boolean, outputColumnNames: Seq[String],
    refreshId: Option[TableIdentifier]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val t = DeltaTable.forPath(spark, path)
    val order = t.snapshot.metadata.schema.fieldNames.toSeq
    val df = GraftShims.ofRows(spark, query).toDF(outputColumnNames: _*)
      .select(order.map(col): _*)
    // INSERT OVERWRITE honors the standard dynamic-partition conf: only
    // the written partitions are replaced (partitioned tables only)
    val dynamic = overwrite &&
      t.snapshot.metadata.partitionColumns.nonEmpty &&
      spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        .equalsIgnoreCase("dynamic")
    t.write(df, if (overwrite) SaveMode.Overwrite else SaveMode.Append,
      dynamicPartitionOverwrite = dynamic)
    SqlTarget.refresh(spark, refreshId)
    Nil
  }
}

/** `CREATE TABLE (cols) USING graft-delta` (no data): Spark's V1 command
  * would probe the source for a relation, which needs an existing log.
  * Instead the transaction log is initialized from the declared schema /
  * partitioning / TBLPROPERTIES, then the catalog entry is recorded —
  * CREATE TABLE is itself a logged commit, like every other writer.
  */
/** Spark's V1 session-catalog path stores `CREATE TABLE ... CLUSTER BY`
  * as a `clusteringColumns` table property holding a JSON array of
  * field-name paths (`[["a"],["b","c"]]` = columns `a` and `b.c`).
  * Translate it into the delta-native `delta.clusteringColumns` comma
  * list so the created log already declares clustering (A44) and plain
  * OPTIMIZE re-clusters from the first maintenance run.
  */
private[sql] object ClusterByProperty {
  def extract(props: Map[String, String],
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String]): (Option[String], Map[String, String]) =
    props.get("clusteringColumns") match {
      case None => (None, props)
      case Some(json) =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        require(node.isArray, s"bad clusteringColumns property: $json")
        val cols = (0 until node.size).map { i =>
          val part = node.get(i)
          require(part.isArray && part.size > 0,
            s"bad clusteringColumns property: $json")
          (0 until part.size).map(part.get(_).asText).mkString(".")
        }
        val fieldNames = schema.fieldNames
        cols.foreach { c =>
          val top = c.split('.').head
          require(fieldNames.exists(_.equalsIgnoreCase(top)),
            s"clustering column $c not found in schema " +
              s"(${fieldNames.mkString(", ")})")
          require(!partitionCols.exists(_.equalsIgnoreCase(c)),
            s"clustering column $c is a partition column")
        }
        (if (cols.isEmpty) None else Some(cols.mkString(",")),
          props - "clusteringColumns")
    }
}

case class GraftCreateTableCommand(
    table: org.apache.spark.sql.catalyst.catalog.CatalogTable,
    ignoreIfExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val catalog = spark.sessionState.catalog
    if (catalog.tableExists(table.identifier)) {
      if (ignoreIfExists) return Nil
      throw new IllegalStateException(s"table ${table.identifier} already exists")
    }
    val managed = table.storage.locationUri.isEmpty
    val loc = table.storage.locationUri
      .getOrElse(catalog.defaultTablePath(table.identifier))
    val path = new org.apache.hadoop.fs.Path(loc).toString
    val t = DeltaTable.forPath(spark, path)
    // managed entries keep locationUri empty so the catalog owns the
    // directory lifecycle (DROP TABLE removes it)
    var entry = table
    if (!managed)
      entry = entry.copy(storage = entry.storage.copy(locationUri = Some(loc)))
    if (!t.deltaLog.tableExists) {
      // catalog entry first: managed-location validation must see the
      // directory while it is still empty. Roll it back if the log commit
      // fails so a half-created table doesn't linger.
      catalog.createTable(entry, ignoreIfExists = false)
      try {
        val (cluster, props) = ClusterByProperty.extract(
          table.properties, table.schema, table.partitionColumnNames)
        val txn = t.deltaLog.startTransaction()
        txn.updateMetadata(graft.delta.Metadata(
          schemaString = table.schema.json,
          partitionColumns = table.partitionColumnNames,
          configuration = props ++
            cluster.map(graft.delta.DeltaConfig.ClusteringColumns.key -> _),
          createdTime = Some(t.deltaLog.clock.nowMillis)))
        txn.commit(Nil, Op.CreateTable)
      } catch { case e: Throwable =>
        try catalog.dropTable(table.identifier, ignoreIfNotExists = true, purge = false)
        catch { case _: Exception => }
        throw e
      }
    } else {
      // adopting an existing table at LOCATION: the log is the source of
      // truth — a declared schema must agree with it, an empty one is
      // filled in for the catalog entry
      val md = t.snapshot.metadata
      if (table.schema.nonEmpty)
        require(table.schema.fieldNames.sameElements(md.schema.fieldNames),
          s"declared schema ${table.schema.fieldNames.mkString(",")} does not match " +
            s"existing graft-delta table (${md.schema.fieldNames.mkString(",")}) at $path")
      else entry = entry.copy(schema = md.schema)
      catalog.createTable(entry, ignoreIfExists = false)
    }
    Nil
  }
}

/** `CREATE TABLE t USING graft-delta CLUSTER BY (cols) AS SELECT ...`:
  * the V1 CTAS path drops table properties before they reach the log
  * (`createRelation` only sees storage options), so a clustered CTAS is
  * intercepted whole — catalog entry, CreateTable commit carrying
  * `delta.clusteringColumns`, then the data write. Un-clustered CTAS
  * keeps the stock path.
  */
case class GraftCtasClusteredCommand(
    table: org.apache.spark.sql.catalyst.catalog.CatalogTable,
    mode: SaveMode, query: LogicalPlan,
    outputColumnNames: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val catalog = spark.sessionState.catalog
    if (catalog.tableExists(table.identifier)) {
      if (mode == SaveMode.Ignore) return Nil
      throw new IllegalStateException(s"table ${table.identifier} already exists")
    }
    var df = GraftShims.ofRows(spark, query)
    if (outputColumnNames.nonEmpty && outputColumnNames.size == df.columns.length)
      df = df.toDF(outputColumnNames: _*)
    val relaxed = graft.delta.Snapshot.nullable(df.schema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val (cluster, props) = ClusterByProperty.extract(
      table.properties, relaxed, table.partitionColumnNames)
    val managed = table.storage.locationUri.isEmpty
    val loc = table.storage.locationUri
      .getOrElse(catalog.defaultTablePath(table.identifier))
    val path = new org.apache.hadoop.fs.Path(loc).toString
    val t = DeltaTable.forPath(spark, path)
    var entry = table.copy(schema = relaxed)
    if (!managed)
      entry = entry.copy(storage = entry.storage.copy(locationUri = Some(loc)))
    catalog.createTable(entry, ignoreIfExists = false)
    try {
      val txn = t.deltaLog.startTransaction()
      txn.updateMetadata(graft.delta.Metadata(
        schemaString = relaxed.json,
        partitionColumns = table.partitionColumnNames,
        configuration = props ++
          cluster.map(graft.delta.DeltaConfig.ClusteringColumns.key -> _),
        createdTime = Some(t.deltaLog.clock.nowMillis)))
      txn.commit(Nil, Op.CreateTable)
      t.write(df)
    } catch { case e: Throwable =>
      try catalog.dropTable(table.identifier, ignoreIfNotExists = true, purge = false)
      catch { case _: Exception => () }
      throw e
    }
    Nil
  }
}

/** `CREATE OR REPLACE TABLE t USING graft-delta [PARTITIONED BY (...)]
  * AS SELECT ...`: Spark's session catalog rejects REPLACE TABLE AS
  * SELECT for V1 providers, so the statement is intercepted at the
  * parser. One logged transaction replaces schema, partitioning and
  * data (`DeltaTable.replaceAs`) — the table's history and id survive,
  * unlike DROP + CREATE. A named target that doesn't exist yet is
  * created managed (defaultTablePath), mirroring the orCreate
  * semantics of CREATE OR REPLACE.
  */
case class GraftReplaceTableCommand(target: SqlTarget,
    partitionBy: Seq[String],
    query: LogicalPlan) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    val df = GraftShims.ofRows(spark, query)
    // the log stores a fully-nullable schema (encoder nullable=false is
    // an artifact, not intent) — the catalog entry must match it
    val relaxed = graft.delta.Snapshot.nullable(df.schema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val catalog = spark.sessionState.catalog
    val id = SqlTarget.tableIdentifier(target)
    val path = target match {
      case PathTarget(p) => p
      case TableTarget(_) =>
        val ident = id.get
        if (catalog.tableExists(ident)) {
          val existing = catalog.getTableMetadata(ident)
          require(existing.provider.exists(_.equalsIgnoreCase("graft-delta")),
            s"CREATE OR REPLACE via graft targets a ${existing.provider.getOrElse("?")} " +
              s"table $ident; only graft-delta tables can be replaced here")
          existing.location.toString
        } else {
          val loc = catalog.defaultTablePath(ident)
          // No catalog entry references this location, but that does NOT
          // make whatever sits there debris: a path-addressed
          // graft.`<path>` table (or an external writer's data) can
          // legally live at the warehouse default location. A CREATE OR
          // REPLACE that is semantically a plain CREATE must not rm -rf
          // it — Spark/Delta likewise error on a non-empty managed
          // location. An EMPTY leftover directory is safe to reuse.
          val p = new org.apache.hadoop.fs.Path(loc)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(p) && fs.listStatus(p).nonEmpty)
            throw new IllegalStateException(
              s"cannot CREATE OR REPLACE TABLE $ident: no catalog entry " +
                s"exists but its default location $loc is non-empty. " +
                "Drop/clean the location, or address the data directly " +
                s"as graft.`$loc`")
          catalog.createTable(CatalogTable(
            identifier = ident,
            tableType = CatalogTableType.MANAGED,
            storage = CatalogStorageFormat.empty,
            schema = relaxed,
            provider = Some("graft-delta")), ignoreIfExists = false)
          p.toString
        }
    }
    val t = DeltaTable.forPath(spark, path)
    t.replaceAs(df, partitionBy)
    // the catalog entry's schema must track the replace
    id.filter(catalog.tableExists).foreach { ident =>
      val entry = catalog.getTableMetadata(ident)
      if (entry.schema != relaxed)
        catalog.alterTable(entry.copy(schema = relaxed))
    }
    SqlTarget.refresh(spark, target)
    Nil
  }
}

/** `CREATE TABLE tgt SHALLOW CLONE src`: metadata-only copy referencing
  * the source's files by absolute URI (`DeltaTable.shallowCloneTo`). A
  * catalog-name target registers the clone as a managed table. An
  * `iceberg.`path`` source routes to the out-of-place Iceberg mirror
  * instead — see [[runIcebergMirror]].
  */
case class GraftCloneCommand(target: SqlTarget, source: SqlTarget,
    ifNotExists: Boolean, deep: Boolean = false,
    versionAsOf: Option[Long] = None,
    timestampAsOf: Option[Long] = None,
    sourceIsIceberg: Boolean = false,
    versionRef: Option[String] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("location", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    if (sourceIsIceberg) return runIcebergMirror(spark)
    require(versionRef.isEmpty,
      "VERSION AS OF '<name>' selects a NAMED Iceberg ref; a Delta " +
        "source has numeric versions — use VERSION AS OF <version>")
    val srcPath = SqlTarget.resolve(spark, source)
    val src = DeltaTable.forPath(spark, srcPath)
    def doClone(p: String): Unit =
      if (deep) src.deepCloneTo(p, versionAsOf, timestampAsOf)
      else src.shallowCloneTo(p, versionAsOf, timestampAsOf)
    target match {
      case PathTarget(p) =>
        if (ifNotExists && graft.delta.DeltaLog.forTable(spark, p).tableExists)
          return Seq(Row(p))
        doClone(p)
        Seq(Row(p))
      case TableTarget(_) =>
        val id = SqlTarget.tableIdentifier(target).get
        val catalog = spark.sessionState.catalog
        if (catalog.tableExists(id)) {
          if (ifNotExists) return Nil
          throw new IllegalStateException(s"table $id already exists")
        }
        val loc = catalog.defaultTablePath(id)
        val path = new org.apache.hadoop.fs.Path(loc).toString
        // catalog entry first (managed-location validation needs the empty
        // dir), roll back if the clone commit fails; a time-travel clone
        // registers the schema AS OF the cloned version
        val srcSchema = (versionAsOf, timestampAsOf) match {
          case (Some(v), None) =>
            src.deltaLog.snapshotForVersionAsOf(v).metadata.schema
          case (None, Some(ts)) =>
            src.deltaLog.snapshotForTimestampAsOf(ts).metadata.schema
          case _ => src.snapshot.metadata.schema
        }
        catalog.createTable(CatalogTable(id, CatalogTableType.MANAGED,
          CatalogStorageFormat.empty, srcSchema,
          provider = Some("graft-delta")), ignoreIfExists = false)
        try doClone(path)
        catch { case e: Throwable =>
          try catalog.dropTable(id, ignoreIfNotExists = true, purge = false)
          catch { case _: Exception => }
          throw e
        }
        Seq(Row(path))
    }
  }

  /** `CREATE TABLE tgt SHALLOW CLONE iceberg.`src``: the out-of-place
    * mirror ([[DeltaTable.mirrorFromIceberg]]) — the Delta log lands at
    * the target, every byte of the foreign table stays untouched.
    * `VERSION AS OF <id>` selects an Iceberg SNAPSHOT ID (the source
    * has no Delta versions); `VERSION AS OF '<name>'` a NAMED ref
    * (branch/tag) — the mirror pins to it and re-syncs follow the
    * branch head; DEEP and TIMESTAMP AS OF refuse loudly.
    */
  private def runIcebergMirror(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    require(!deep,
      "DEEP CLONE of an Iceberg source is not supported; SHALLOW CLONE " +
        "mirrors the table by reference without copying data")
    require(timestampAsOf.isEmpty,
      "TIMESTAMP AS OF is not supported for an Iceberg source; use " +
        "VERSION AS OF <snapshot-id>")
    val srcPath = SqlTarget.resolve(spark, source)
    def doMirror(p: String): DeltaTable =
      DeltaTable.mirrorFromIceberg(spark, srcPath, p,
        asOfSnapshotId = versionAsOf, asOfRef = versionRef)
    target match {
      case PathTarget(p) =>
        // CREATE semantics match the delta-source clone: an existing
        // target refuses (IF NOT EXISTS makes it a no-op) — a CREATE
        // statement must never silently RE-SYNC an existing mirror.
        // Re-sync via the API or `CONVERT TO DELTA iceberg.`<target>``
        // (the remembered-source path).
        if (graft.delta.DeltaLog.forTable(spark, p).tableExists) {
          if (ifNotExists) return Seq(Row(p))
          throw new IllegalStateException(
            s"clone destination $p already exists; to re-sync the " +
              "mirror use CONVERT TO DELTA iceberg.`" + p + "`")
        }
        doMirror(p)
        Seq(Row(p))
      case TableTarget(_) =>
        val id = SqlTarget.tableIdentifier(target).get
        val catalog = spark.sessionState.catalog
        if (catalog.tableExists(id)) {
          if (ifNotExists) return Nil
          throw new IllegalStateException(s"table $id already exists")
        }
        val loc = catalog.defaultTablePath(id)
        val path = new org.apache.hadoop.fs.Path(loc).toString
        // the adopted schema is only known AFTER the mirror commit, so
        // the catalog entry registers second — with location validation
        // OFF (the mirror's _delta_log already occupies the managed dir;
        // the duplicate-name case was checked above). If registration
        // still fails, roll back ONLY what the mirror wrote (the log and
        // any decoded DV payloads) — never the whole directory, which
        // could hold unrelated pre-existing files.
        val mirrored = doMirror(path)
        // third arg = validateTableLocation (positional: the bundled
        // jar's parameter name differs from the source)
        try catalog.createTable(CatalogTable(id, CatalogTableType.MANAGED,
          CatalogStorageFormat.empty,
          mirrored.deltaLog.update().metadata.schema,
          provider = Some("graft-delta")), false, false)
        catch { case e: Throwable =>
          try {
            val root = mirrored.deltaLog.dataPath
            val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
            fs.delete(new org.apache.hadoop.fs.Path(root, "_delta_log"), true)
            fs.delete(new org.apache.hadoop.fs.Path(root, "_deletion_vectors"), true)
          } catch { case _: Exception => }
          throw e
        }
        Seq(Row(path))
    }
  }
}

/** `CONVERT TO DELTA parquet.`/path``: in-place adoption of a parquet
  * directory (one distributed footer-stat job + one commit, no rewrite).
  * `CONVERT TO DELTA iceberg.`/path``: in-place adoption of an Iceberg
  * table — manifests become AddFiles + stats, position deletes become
  * deletion vectors (A85, [[IcebergMetadata.convertFrom]]).
  */
case class GraftConvertCommand(target: SqlTarget,
    fromIceberg: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = SqlTarget.resolve(spark, target)
    val t =
      if (fromIceberg) DeltaTable.convertFromIceberg(spark, path)
      else DeltaTable.convertToDelta(spark, path)
    Seq(Row(t.snapshot.version))
  }
}

// ------------------------------------------------------------- DML rule

/** Captures `MERGE WITH SCHEMA EVOLUTION INTO` on graft-delta targets
  * in the PRE-RESOLUTION Hints batch. It cannot wait for resolution:
  * the analyzer expands `UPDATE SET * / INSERT *` against the TARGET
  * columns in the same fixed-point pass that resolves the relations —
  * silently dropping source-only columns for V1 relations (Spark's own
  * `ResolveMergeIntoSchemaEvolution` rewrites DSv2 relations only) —
  * so the plan must be claimed while the star actions are intact.
  * Everything here is necessarily unresolved: alias-qualified
  * references rebind by NAME to MergeBuilder's `t`/`s` aliases, star
  * actions pass through as updateAll/insertAll, and the raw source
  * sub-plan resolves when the command executes.
  */
class GraftMergeEvolutionRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
  import org.apache.spark.sql.catalyst.plans.logical._

  private def aliasOf(p: LogicalPlan): Seq[String] = p match {
    case SubqueryAlias(id, child) => id.name +: aliasOf(child)
    case u: UnresolvedRelation => Seq(u.multipartIdentifier.last)
    case _ => Nil
  }

  /** Path + catalog id of a graft-delta target, through alias/project
    * wrappers, whether the relation has resolved yet or not. In this
    * analyzer the DML target's RELATION can resolve before the Hints
    * batch runs (write-privilege resolution), while the star actions
    * are still unexpanded — both shapes must be claimed.
    */
  private def targetPathOf(p: LogicalPlan): Option[(String, Option[TableIdentifier])] = p match {
    case SubqueryAlias(_, c) => targetPathOf(c)
    case Project(_, c) => targetPathOf(c)
    case u: UnresolvedRelation => GraftPaths.graftPathWithId(spark, u.multipartIdentifier)
    case lr: LogicalRelation =>
      val id = lr.catalogTable.map(_.identifier)
      lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case d: DeltaFileIndex => Some((d.deltaLog.dataPath.toString, id))
          case _ => None
        }
        case s: SnapshotRelation => Some((s.tablePath, id))
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case m: MergeIntoTable if m.withSchemaEvolution =>
      targetPathOf(m.targetTable) match {
        case None => m // not ours: leave for Spark (or the post-hoc rule)
        case Some((path, refreshId)) =>
          val tNames = aliasOf(m.targetTable).map(_.toLowerCase).toSet
          val sNames = aliasOf(m.sourceTable).map(_.toLowerCase).toSet
          val tSet = m.targetTable.outputSet
          val sSet = m.sourceTable.outputSet
          def rb(e: Expression): Column = GraftShims.column(e.transform {
            case a: AttributeReference if tSet.contains(a) =>
              UnresolvedAttribute(Seq("t", a.name))
            case a: AttributeReference if sSet.contains(a) =>
              UnresolvedAttribute(Seq("s", a.name))
            case u: UnresolvedAttribute if u.nameParts.length > 1 &&
                tNames.contains(u.nameParts.head.toLowerCase) =>
              UnresolvedAttribute("t" +: u.nameParts.tail)
            case u: UnresolvedAttribute if u.nameParts.length > 1 &&
                sNames.contains(u.nameParts.head.toLowerCase) =>
              UnresolvedAttribute("s" +: u.nameParts.tail)
          })
          def assignName(key: Expression): String = key match {
            case u: UnresolvedAttribute => u.nameParts.last
            case other => throw new UnsupportedOperationException(
              s"unsupported assignment key $other")
          }
          def clause(a: MergeAction): SqlMergeClause = a match {
            case DeleteAction(c) => SqlMergeClause("delete", c.map(rb), Nil)
            case UpdateStarAction(c) => SqlMergeClause("updateAll", c.map(rb), Nil)
            case InsertStarAction(c) => SqlMergeClause("insertAll", c.map(rb), Nil)
            case UpdateAction(c, assigns, _) => SqlMergeClause("update", c.map(rb),
              assigns.map(x => assignName(x.key) -> rb(x.value)))
            case InsertAction(c, assigns) => SqlMergeClause("insert", c.map(rb),
              assigns.map(x => assignName(x.key) -> rb(x.value)))
            case other => throw new UnsupportedOperationException(
              s"unsupported MERGE action $other")
          }
          GraftMergeCommand(path,
            m.sourceTable match { case SubqueryAlias(_, c) => c; case p => p },
            rb(m.mergeCondition),
            m.matchedActions.map(clause),
            m.notMatchedActions.map(clause),
            m.notMatchedBySourceActions.map(clause),
            refreshId,
            schemaEvolution = true)
      }
  }
}

/** Routes resolved DELETE / UPDATE / MERGE plans over graft-delta
  * relations into the table's transactional DML, and rewrites the V1
  * direct-parquet INSERT command into a log-aware write. Runs post-hoc,
  * before Spark's "only supported with v2 tables" checks fire.
  */
class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private object Target {
    /** (table path, catalog identifier if any) beneath optional aliases.
      * A pure-attribute Project is transparent: the analyzer inserts one
      * over the DML target in some resolutions (observed when the MERGE
      * source carries extra columns) and it neither renames nor computes.
      */
    def unapply(plan: LogicalPlan): Option[(String, Option[TableIdentifier])] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        unapply(p.child)
      case lr: LogicalRelation =>
        val id = lr.catalogTable.map(_.identifier)
        lr.relation match {
          case h: HadoopFsRelation => h.location match {
            case d: DeltaFileIndex => Some((d.deltaLog.dataPath.toString, id))
            case _ => None
          }
          case s: SnapshotRelation => Some((s.tablePath, id))
          case _ => None
        }
      case _ => None
    }
  }

  /** Rebind: target attrs → `pre.name`, source attrs → `s.name`. */
  private def rebind(e: Expression, targetSet: AttributeSet, tPre: Seq[String],
      sourceSet: AttributeSet = AttributeSet.empty): Expression =
    e.transform {
      case a: AttributeReference if targetSet.contains(a) =>
        UnresolvedAttribute(tPre :+ a.name)
      case a: AttributeReference if sourceSet.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    }

  private def toCol(e: Expression): Column = GraftShims.column(e)

  private def assignName(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute => u.nameParts.last
    case other => throw new UnsupportedOperationException(
      s"unsupported assignment key $other (nested-field assignment not supported)")
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case DeleteFromTable(t @ Target(path, id), condition) =>
      GraftDeleteCommand(path,
        toCol(rebind(condition, t.outputSet, Nil)), id)

    case UpdateTable(t @ Target(path, id), assignments, condition) =>
      GraftUpdateCommand(path,
        condition.map(c => toCol(rebind(c, t.outputSet, Nil)))
          .getOrElse(GraftShims.column(
            org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)),
        assignments.map(a =>
          assignName(a.key) -> toCol(rebind(a.value, t.outputSet, Nil))), id)

    case m: MergeIntoTable if Target.unapply(m.targetTable).isDefined =>
      val Some((path, refreshId)) = Target.unapply(m.targetTable): @unchecked
      // WITH SCHEMA EVOLUTION merges are claimed pre-resolution by
      // GraftMergeEvolutionRule, BEFORE the analyzer expands UPDATE SET
      // */INSERT * against the current target schema (expansion drops
      // source-only columns). If such a merge reaches this post-hoc
      // rule with its stars already expanded, running it would silently
      // fill evolved columns with NULL instead of source values — fail
      // loudly instead of diverging data.
      if (m.withSchemaEvolution && !(m.matchedActions ++ m.notMatchedActions)
            .exists(a => a.isInstanceOf[UpdateStarAction] ||
              a.isInstanceOf[InsertStarAction]))
        throw new UnsupportedOperationException(
          "MERGE ... WITH SCHEMA EVOLUTION reached the post-resolution rule " +
            "with star actions already expanded (source-only columns have " +
            "been dropped by the analyzer); this plan shape must be claimed " +
            "by GraftMergeEvolutionRule — rewrite the merge so the target " +
            "resolves to a graft-delta relation before analysis")
      val tSet = m.targetTable.outputSet
      val sSet = m.sourceTable.outputSet
      def rb(e: Expression): Column = toCol(rebind(e, tSet, Seq("t"), sSet))
      def clause(a: MergeAction): SqlMergeClause = a match {
        case DeleteAction(c) => SqlMergeClause("delete", c.map(rb), Nil)
        case UpdateAction(c, assigns, _) => SqlMergeClause("update", c.map(rb),
          assigns.map(x => assignName(x.key) -> rb(x.value)))
        case UpdateStarAction(c) => SqlMergeClause("updateAll", c.map(rb), Nil)
        case InsertAction(c, assigns) => SqlMergeClause("insert", c.map(rb),
          assigns.map(x => assignName(x.key) -> rb(x.value)))
        case InsertStarAction(c) => SqlMergeClause("insertAll", c.map(rb), Nil)
        case other => throw new UnsupportedOperationException(
          s"unsupported MERGE action $other")
      }
      GraftMergeCommand(path,
        // strip the alias: MergeBuilder re-aliases the source as `s`
        m.sourceTable match { case SubqueryAlias(_, c) => c; case p => p },
        rb(m.mergeCondition),
        m.matchedActions.map(clause),
        m.notMatchedActions.map(clause),
        m.notMatchedBySourceActions.map(clause),
        refreshId,
        schemaEvolution = m.withSchemaEvolution)

    case c: org.apache.spark.sql.execution.command.CreateDataSourceTableCommand
        if c.table.provider.exists(_.equalsIgnoreCase("graft-delta")) =>
      GraftCreateTableCommand(c.table, c.ignoreIfExists)

    // clustered CTAS only — plain CTAS keeps the stock V1 write path
    case c: org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
        if c.table.provider.exists(_.equalsIgnoreCase("graft-delta")) &&
          c.table.properties.contains("clusteringColumns") =>
      GraftCtasClusteredCommand(c.table, c.mode, c.query, c.outputColumnNames)

    case i: InsertIntoHadoopFsRelationCommand
        if i.fileIndex.exists(_.isInstanceOf[DeltaFileIndex]) =>
      require(i.staticPartitions.isEmpty,
        "static-partition INSERT is not supported on graft-delta tables")
      val path = i.fileIndex.get.asInstanceOf[DeltaFileIndex]
        .deltaLog.dataPath.toString
      GraftInsertCommand(path, i.query,
        overwrite = i.mode == SaveMode.Overwrite, i.outputColumnNames,
        i.catalogTable.map(_.identifier))
  }
}
