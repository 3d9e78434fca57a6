package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{FieldName, RelationTimeTravel, UnresolvedAttribute, UnresolvedFieldName, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedProcedure, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns, AlterColumns, Assignment, Call, ColumnDefinition, CreateNamespace, CreateTable, DeleteAction, DeleteFromTable, DescribeRelation, DropColumns, DropConstraint, DropNamespace, DropTable, Filter, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, QualifiedColType, RenameColumn, RenameTable, SetTableProperties, ShowCreateTable, ShowTableProperties, ShowTables, SubqueryAlias, TruncateTable, UnresolvedTableSpec, UnsetTableProperties, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.command.ShowNamespacesCommand
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

import graft.table.{Catalog, GraftTable, Pruning}

/** SQL-surface resolution for graft tables: an analyzer rule that resolves
  * `graft.<namespace>.<table>` relations into the graft read path, so
  * plain Spark SQL works against the table format:
  *
  * {{{
  *   spark.conf.set("spark.graft.warehouse", "/warehouse")
  *   spark.sql("SELECT count(*) FROM graft.db.orders WHERE o_custkey = 7")
  * }}}
  *
  * The substituted subtree is the SAME plan `GraftTable.scan()` builds —
  * schema-evolution alignment, merge-on-read deletes, everything — and
  * because it lands during analysis, Catalyst then pushes the query's
  * filters/projections into the underlying parquet scans exactly as it
  * does for the DataFrame API.
  *
  * Manifest pruning: when the relation sits directly under a Filter (the
  * common `SELECT ... WHERE ...` shape), the rule extracts the simple
  * conjuncts from the still-unresolved WHERE tree and hands them to
  * `scan` as pruning predicates, for a head, branch or tag read alike.
  * The scan plans them like a `scan(filter)`: segments whose stats prove
  * no match are not read, and only matching files enter the relation.
  * The Filter node itself stays in the plan, so pruning only skips work,
  * never changes results.
  */
class GraftSqlResolution(spark: SparkSession) extends Rule[LogicalPlan] {

  private def isGraft(u: UnresolvedRelation): Boolean =
    u.multipartIdentifier.length == 3 &&
      u.multipartIdentifier.head.equalsIgnoreCase("graft")

  /** every aggregate expression is a plain `count(*)` / `count(1)` */
  private def countStarOnly(
      aggs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.Alias
    def isCountStar(e: Expression): Boolean = e match {
      case f: UnresolvedFunction =>
        f.nameParts.map(_.toLowerCase) == Seq("count") && !f.isDistinct &&
          f.filter.isEmpty && (f.arguments match {
            case Seq(Literal(1, _)) => true
            case Seq(_: UnresolvedStar) => true
            case _ => false
          })
      case _ => false
    }
    aggs.nonEmpty && aggs.forall {
      case UnresolvedAlias(f, _) => isCountStar(f)
      case Alias(f, _) => isCountStar(f)
      case _ => false
    }
  }

  /** manifest row count for a plain `graft.ns.tbl` head read — None when
    * the table has a meta/ref suffix, doesn't exist, or has live delete
    * files (the scan path must answer then) */
  private def metadataCount(u: UnresolvedRelation): Option[Long] = {
    val Seq(_, ns, ident) = u.multipartIdentifier
    if (ident.contains('$') || ident.contains('@')) return None
    if (spark.conf.getOption("spark.graft.warehouse").isEmpty) return None
    val cat = Catalog(spark)
    if (!cat.tableExists(ns, ident)) return None
    val entries = cat.loadTable(ns, ident).liveFiles()
    if (entries.exists(_.fileType != "data")) None
    else Some(entries.map(_.rowCount).sum)
  }

  /** resolve `graft.ns.tbl[$meta][@branch]` to the graft scan plan.
    * `cond` is the unresolved WHERE tree when one sits directly above the
    * relation; `snapshotId`/`asOfMs` carry SQL time travel
    * (`VERSION AS OF` / `TIMESTAMP AS OF`). */
  private def substitute(u: UnresolvedRelation, cond: Option[Expression],
      snapshotId: Option[Long] = None,
      asOfMs: Option[Long] = None): Option[LogicalPlan] = {
    val Seq(_, ns, ident) = u.multipartIdentifier
    val cat = Catalog(spark)
    // `tbl$files` / `tbl$snapshots` / `tbl$refs` are metadata tables;
    // `tbl@branch` reads a named ref (branch or tag)
    val (ident2, ref) = ident.indexOf('@') match {
      case -1 => (ident, None)
      case i => (ident.substring(0, i), Some(ident.substring(i + 1)))
    }
    val (tbl, metaKind) = ident2.indexOf('$') match {
      case -1 => (ident2, None)
      case i => (ident2.substring(0, i), Some(ident2.substring(i + 1)))
    }
    if (!cat.tableExists(ns, tbl)) None // leave for the analyzer to report
    else {
      val t: GraftTable = cat.loadTable(ns, tbl)
      val df = metaKind match {
        case Some(k) => t.metaTable(k, ref.getOrElse("main"))
        case None => t.scan(snapshotId = snapshotId, asOfTimestampMs = asOfMs, ref = ref,
          preds = cond.map(Pruning.extractExpr).getOrElse(Nil))
      }
      Some(df.queryExecution.analyzed)
    }
  }

  /** SQL time travel (`FOR VERSION AS OF n` / `FOR TIMESTAMP AS OF ts`):
    * version is the snapshot id; the timestamp expression evaluates in the
    * session timezone to epoch millis */
  private def timeTravel(u: UnresolvedRelation, ts: Option[Expression],
      version: Option[String]): Option[LogicalPlan] = {
    val asOfMs = ts.map { e =>
      val v = Cast(e, TimestampType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
      // Cast returns null (not an error) for unparseable input with ANSI
      // off — null would unbox to epoch 0 and silently read 1970 state
      if (v == null) throw new IllegalArgumentException(
        s"invalid TIMESTAMP AS OF expression: ${e.sql}")
      Math.floorDiv(v.asInstanceOf[Long], 1000L)
    }
    substitute(u, None, snapshotId = version.map(_.toLong), asOfMs = asOfMs)
  }

  // ==========================================================================
  // SQL DML → GraftDml commands
  // ==========================================================================

  /** a DML target: `graft.ns.tbl[@branch]` optionally under an alias */
  private def dmlTarget(p: LogicalPlan)
      : Option[(String, String, String, Option[String])] =
    p match {
      case SubqueryAlias(id, u: UnresolvedRelation) if isGraft(u) =>
        val (tbl, br) = splitBranch(u.multipartIdentifier(2))
        Some((u.multipartIdentifier(1), tbl, br, Some(id.name)))
      case u: UnresolvedRelation if isGraft(u) =>
        val (tbl, br) = splitBranch(u.multipartIdentifier(2))
        Some((u.multipartIdentifier(1), tbl, br, None))
      case _ => None
    }

  private def splitBranch(ident: String): (String, String) =
    ident.indexOf('@') match {
      case -1 => (ident, "main")
      case i => (ident.substring(0, i), ident.substring(i + 1))
    }

  /** every qualifier spelling that refers to the target relation */
  private def targetQuals(ns: String, tbl: String, alias: Option[String]): Set[Seq[String]] =
    (Seq(Seq(tbl), Seq(ns, tbl), Seq("graft", ns, tbl)) ++ alias.map(Seq(_)))
      .map(_.map(_.toLowerCase)).toSet

  /** qualifier spellings of a MERGE source: its alias, or the relation
    * name parts when it is a bare (view/table) reference */
  private def sourceQuals(p: LogicalPlan): Set[Seq[String]] = p match {
    case SubqueryAlias(id, _) => Set(Seq(id.name.toLowerCase))
    case u: UnresolvedRelation =>
      val parts = u.multipartIdentifier.map(_.toLowerCase)
      parts.indices.map(i => parts.drop(i)).toSet
    case _ => Set.empty
  }

  /** rewrite qualified attribute references: target spellings → `t`,
    * source spellings → `s`, so the emitted SQL binds against the aliases
    * [[graft.table.GraftTable.merge]] establishes; for single-table DML
    * (`srcQ` empty + tgt mapped to nothing) qualifiers are dropped. */
  private def requalify(e: Expression, tgtQ: Set[Seq[String]],
      srcQ: Set[Seq[String]], tgtAs: Option[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        val q = a.nameParts.init.map(_.toLowerCase)
        if (tgtQ.contains(q))
          UnresolvedAttribute(tgtAs.toSeq :+ a.nameParts.last)
        else if (srcQ.contains(q)) UnresolvedAttribute(Seq("s", a.nameParts.last))
        else a
    }

  private def toSql(e: Expression, tgtQ: Set[Seq[String]],
      srcQ: Set[Seq[String]] = Set.empty, tgtAs: Option[String] = None): String =
    requalify(e, tgtQ, srcQ, tgtAs).sql

  private def assignPairs(assigns: Seq[Assignment], tgtQ: Set[Seq[String]],
      srcQ: Set[Seq[String]] = Set.empty,
      tgtAs: Option[String] = None): Seq[(String, String)] =
    assigns.map { a =>
      val name = a.key match {
        case k: UnresolvedAttribute => k.nameParts.last
        case other => throw new UnsupportedOperationException(
          s"graft DML: unsupported assignment target ${other.sql}")
      }
      name -> toSql(a.value, tgtQ, srcQ, tgtAs)
    }

  private def mergeCommand(m: MergeIntoTable, ns: String, tbl: String,
      branch: String, alias: Option[String]): GraftMergeCommand = {
    if (m.withSchemaEvolution) throw new UnsupportedOperationException(
      "graft MERGE: WITH SCHEMA EVOLUTION is not supported")
    if (m.notMatchedBySourceActions.nonEmpty) throw new UnsupportedOperationException(
      "graft MERGE: WHEN NOT MATCHED BY SOURCE is not supported")
    val tgtQ = targetQuals(ns, tbl, alias)
    val srcQ = sourceQuals(m.sourceTable)
    def noCond(c: Option[Expression], what: String): Unit = if (c.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft MERGE: conditional $what clauses are not supported")
    var mset: Seq[(String, String)] = Nil
    var mstar = false
    var mdel = false
    m.matchedActions match {
      case Seq() =>
      case Seq(DeleteAction(c)) => noCond(c, "WHEN MATCHED"); mdel = true
      case Seq(UpdateStarAction(c)) => noCond(c, "WHEN MATCHED"); mstar = true
      case Seq(UpdateAction(c, assigns, _)) =>
        noCond(c, "WHEN MATCHED")
        mset = assignPairs(assigns, tgtQ, srcQ, Some("t"))
      case other => throw new UnsupportedOperationException(
        s"graft MERGE: unsupported WHEN MATCHED actions: $other")
    }
    var ins: Option[Seq[(String, String)]] = None
    var istar = false
    m.notMatchedActions match {
      case Seq() =>
      case Seq(InsertStarAction(c)) => noCond(c, "WHEN NOT MATCHED"); istar = true
      case Seq(InsertAction(c, assigns)) =>
        noCond(c, "WHEN NOT MATCHED")
        ins = Some(assignPairs(assigns, tgtQ, srcQ, Some("t")))
      case other => throw new UnsupportedOperationException(
        s"graft MERGE: unsupported WHEN NOT MATCHED actions: $other")
    }
    GraftMergeCommand(ns, tbl, m.sourceTable,
      toSql(m.mergeCondition, tgtQ, srcQ, Some("t")), mset, mstar, mdel, ins,
      istar, branch)
  }

  // ==========================================================================
  // SQL DDL + procedures → GraftDdl commands
  // ==========================================================================

  private def graftParts(parts: Seq[String]): Option[(String, String)] =
    if (parts.length == 3 && parts.head.equalsIgnoreCase("graft"))
      Some((parts(1), parts(2)))
    else None

  private def graftNs(parts: Seq[String]): Option[Option[String]] =
    if (parts.nonEmpty && parts.head.equalsIgnoreCase("graft") && parts.length <= 2)
      Some(parts.lift(1))
    else None

  /** connector transform → graft spec string (Iceberg spelling) */
  private def transformStr(t: Transform): String = t.describe()
    .replaceFirst("^years\\(", "year(").replaceFirst("^months\\(", "month(")
    .replaceFirst("^days\\(", "day(").replaceFirst("^hours\\(", "hour(")

  private def fieldName(f: FieldName): String = f match {
    case UnresolvedFieldName(Seq(one)) => one
    case other => throw new UnsupportedOperationException(
      s"graft DDL: nested column paths are not supported: $other")
  }

  private def litStr(e: Expression): String = e match {
    case Literal(null, _) => throw new IllegalArgumentException(
      "graft CALL: NULL argument")
    case l: Literal => String.valueOf(l.value)
    case other => throw new UnsupportedOperationException(
      s"graft CALL: arguments must be literals, got ${other.sql}")
  }

  // top-down so Filter-over-relation matches before the bare relation does
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case CreateTable(UnresolvedIdentifier(parts, _), cols, partitioning,
        spec: UnresolvedTableSpec, ifNotExists) if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      if (cols.exists(_.defaultValue.nonEmpty)) throw new UnsupportedOperationException(
        "graft CREATE TABLE: column DEFAULTs are not supported at creation " +
          "(add the column with a default via ALTER TABLE ... ADD COLUMNS)")
      spec.provider.filterNot(_.equalsIgnoreCase("graft")).foreach(p =>
        throw new UnsupportedOperationException(
          s"graft CREATE TABLE: USING $p conflicts with the graft.* identifier"))
      val ddl = StructType(cols.map(c =>
        StructField(c.name, c.dataType, c.nullable))).toDDL
      GraftCreateTableCommand(ns, tbl, ddl, partitioning.map(transformStr),
        spec.properties, ifNotExists)
    case org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect(
        UnresolvedIdentifier(parts, _), partitioning, query,
        spec: UnresolvedTableSpec, _, ifNotExists, _)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      spec.provider.filterNot(_.equalsIgnoreCase("graft")).foreach(p =>
        throw new UnsupportedOperationException(
          s"graft CTAS: USING $p conflicts with the graft.* identifier"))
      GraftCtasCommand(ns, tbl, query, partitioning.map(transformStr),
        spec.properties, ifNotExists, replace = false, orCreate = false)
    case org.apache.spark.sql.catalyst.plans.logical.ReplaceTableAsSelect(
        UnresolvedIdentifier(parts, _), partitioning, query,
        spec: UnresolvedTableSpec, _, orCreate, _)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftCtasCommand(ns, tbl, query, partitioning.map(transformStr),
        spec.properties, ifNotExists = false, replace = true, orCreate = orCreate)
    case DropTable(UnresolvedIdentifier(parts, _), ifExists, _)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftDropTableCommand(ns, tbl, ifExists)
    case AddColumns(UnresolvedTable(parts, _, _), cols)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      val added = cols.map { c: QualifiedColType =>
        if (c.path.nonEmpty) throw new UnsupportedOperationException(
          "graft ALTER TABLE: nested ADD COLUMNS is not supported")
        (c.colName, c.dataType.sql.toLowerCase,
          c.default.map(_.originalSQL))
      }
      GraftAddColumnsCommand(ns, tbl, added)
    case RenameColumn(UnresolvedTable(parts, _, _), from, to)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftRenameColumnCommand(ns, tbl, fieldName(from), to)
    case DropColumns(UnresolvedTable(parts, _, _), cols, _)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftDropColumnsCommand(ns, tbl, cols.map(fieldName))
    case AlterColumns(UnresolvedTable(parts, _, _), specs)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      val changes = specs.map { s =>
        val tpe = s.newDataType.getOrElse(throw new UnsupportedOperationException(
          "graft ALTER COLUMN: only TYPE changes are supported"))
        (fieldName(s.column), tpe.sql.toLowerCase)
      }
      GraftAlterColumnTypeCommand(ns, tbl, changes)
    case CreateNamespace(UnresolvedNamespace(parts, _), ifNotExists, _)
        if graftNs(parts).exists(_.isDefined) =>
      GraftCreateNamespaceCommand(graftNs(parts).get.get, ifNotExists)
    case DropNamespace(UnresolvedNamespace(parts, _), ifExists, cascade)
        if graftNs(parts).exists(_.isDefined) =>
      GraftDropNamespaceCommand(graftNs(parts).get.get, ifExists, cascade)
    case st @ ShowTables(UnresolvedNamespace(parts, _), pattern, output)
        if graftNs(parts).isDefined =>
      if (pattern.nonEmpty) throw new UnsupportedOperationException(
        "graft SHOW TABLES: LIKE patterns are not supported")
      GraftShowTablesCommand(graftNs(parts).get, output)
    case sn: ShowNamespacesCommand if (sn.child match {
          case UnresolvedNamespace(parts, _) => graftNs(parts).isDefined
          case _ => false
        }) =>
      GraftShowNamespacesCommand(sn.output)
    case DescribeRelation(UnresolvedTableOrView(parts, _, _), _, _, output)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftDescribeCommand(ns, tbl, output)
    // ADD CONSTRAINT parses with its existing-data validation scan as the
    // child (Filter(NOT cond) over the relation); graft validates at the
    // updateProperties chokepoint instead, so only the identifier is used
    case AddCheckConstraint(child, c) if (child.collectFirst {
          case UnresolvedRelation(parts, _, _) => graftParts(parts)
        }).flatten.isDefined =>
      val (ns, tbl) = (child.collectFirst {
        case UnresolvedRelation(parts, _, _) => graftParts(parts)
      }).flatten.get
      val name = Option(c.userProvidedName).filter(_.nonEmpty)
        .getOrElse(throw new UnsupportedOperationException(
          "graft ADD CONSTRAINT: a constraint name is required"))
      GraftAddConstraintCommand(ns, tbl, name, c.condition)
    case DropConstraint(UnresolvedTable(parts, _, _), name, ifExists, _)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftDropConstraintCommand(ns, tbl, name, ifExists)
    case SetTableProperties(UnresolvedTable(parts, _, _), props)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftSetPropertiesCommand(ns, tbl, props, Nil)
    case UnsetTableProperties(UnresolvedTable(parts, _, _), keys, _)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftSetPropertiesCommand(ns, tbl, Map.empty, keys)
    case RenameTable(UnresolvedTableOrView(parts, _, _), newParts, _)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      val (toNs, toTbl) = graftParts(newParts).getOrElse(
        if (newParts.length == 1) (ns, newParts.head)
        else throw new UnsupportedOperationException(
          s"graft RENAME TO: target must be graft.<ns>.<table>, got $newParts"))
      GraftRenameTableCommand(ns, tbl, toNs, toTbl)
    case TruncateTable(UnresolvedTable(parts, _, _))
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftTruncateCommand(ns, tbl)
    case ShowCreateTable(UnresolvedTableOrView(parts, _, _), _, output)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftShowCreateCommand(ns, tbl, output)
    case ShowTableProperties(UnresolvedTableOrView(parts, _, _), _, output)
        if graftParts(parts).isDefined =>
      val (ns, tbl) = graftParts(parts).get
      GraftShowPropertiesCommand(ns, tbl, output)
    case Call(UnresolvedProcedure(parts), args, _)
        if parts.length == 3 && parts.head.equalsIgnoreCase("graft") &&
          parts(1).equalsIgnoreCase("system") =>
      GraftCallCommand(parts(2).toLowerCase, args.map {
        case NamedArgumentExpression(name, v) => (Some(name), litStr(v))
        case e => (None, litStr(e))
      })
    case i @ InsertIntoStatement(target, partSpec, userCols, query, overwrite,
        ifNotExists, byName) if dmlTarget(target).isDefined =>
      val (ns, tbl, branch, _) = dmlTarget(target).get
      if (partSpec.nonEmpty || ifNotExists) throw new UnsupportedOperationException(
        "graft INSERT: static PARTITION clauses are not supported " +
          "(partitioning is hidden — just insert the rows)")
      GraftInsertCommand(ns, tbl, query, userCols, overwrite, byName, branch)
    case DeleteFromTable(target, cond) if dmlTarget(target).isDefined =>
      val (ns, tbl, branch, alias) = dmlTarget(target).get
      GraftDeleteCommand(ns, tbl, toSql(cond, targetQuals(ns, tbl, alias)), branch)
    case UpdateTable(target, assigns, cond) if dmlTarget(target).isDefined =>
      val (ns, tbl, branch, alias) = dmlTarget(target).get
      val tgtQ = targetQuals(ns, tbl, alias)
      GraftUpdateCommand(ns, tbl, assignPairs(assigns, tgtQ),
        cond.map(toSql(_, tgtQ)).getOrElse("true"), branch)
    case m: MergeIntoTable if dmlTarget(m.targetTable).isDefined =>
      val (ns, tbl, branch, alias) = dmlTarget(m.targetTable).get
      mergeCommand(m, ns, tbl, branch, alias)
    // metadata-only COUNT(*): when the aggregate is exactly count(*) over
    // a bare graft relation and NO delete files are live, the manifests
    // already hold the answer — substitute a Range(0, count) leaf so the
    // count resolves without touching a data file (Iceberg's metadata
    // count optimization). Any other aggregate/grouping, a ref/meta
    // suffix, or live deletes leave the plan untouched.
    // at this (pre-resolution) stage `SELECT count(*) FROM t` is still a
    // Project — GlobalAggregates turns it into an Aggregate later
    case p @ org.apache.spark.sql.catalyst.plans.logical.Project(projList, child)
        if countStarOnly(projList) =>
      (child match {
        case u: UnresolvedRelation if isGraft(u) => Some(u)
        case SubqueryAlias(_, u: UnresolvedRelation) if isGraft(u) => Some(u)
        case _ => None
      }).flatMap(metadataCount) match {
        case Some(cnt) =>
          p.copy(child = org.apache.spark.sql.catalyst.plans.logical
            .Range(0, cnt, 1, Some(1)))
        case None => p
      }
    case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version) if isGraft(u) =>
      timeTravel(u, ts, version).getOrElse(tt)
    case f @ Filter(cond, u: UnresolvedRelation) if isGraft(u) =>
      substitute(u, Some(cond)).map(rel => f.copy(child = rel)).getOrElse(f)
    case f @ Filter(cond, a @ SubqueryAlias(_, u: UnresolvedRelation)) if isGraft(u) =>
      substitute(u, Some(cond))
        .map(rel => f.copy(child = a.copy(child = rel))).getOrElse(f)
    case u: UnresolvedRelation if isGraft(u) =>
      substitute(u, None).getOrElse(u)
  }
}
