package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StringType

import graft.table.Catalog

/** SQL DDL + stored procedures over graft tables — the rest of the SQL
  * lifecycle the reference exercises (`tests/iceberg_feature_tests.py`
  * issues CREATE TABLE ... PARTITIONED BY (transforms), ALTER TABLE
  * ADD/RENAME/DROP/ALTER COLUMN, CREATE/DROP NAMESPACE, SHOW/DESCRIBE
  * and `CALL catalog.system.<proc>` maintenance procedures as SQL).
  * Schema changes ride graft's metadata-only evolution paths: each ALTER
  * is one new schema version, no data rewrite.
  */
private[plans] object GraftDdl {
  /** backend chosen by `spark.graft.catalog` (fs default | jdbc) — every
    * DDL/DML command and the resolution rule go through this one seam */
  def catalog(spark: SparkSession): Catalog = Catalog(spark)
  def info(s: String): Seq[Row] = Seq(Row(s))
  val infoOutput: Seq[Attribute] = Seq(AttributeReference("info", StringType)())
}

/** `CREATE TABLE graft.ns.t (cols) [PARTITIONED BY (transforms)]
  * [TBLPROPERTIES (...)]` — transforms in Iceberg spelling:
  * bucket(n, cols...), year/month/day/hour, truncate(w, col), identity */
case class GraftCreateTableCommand(ns: String, tbl: String, ddl: String,
    partitionBy: Seq[String], props: Map[String, String], ifNotExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftDdl.catalog(spark)
    if (cat.tableExists(ns, tbl)) {
      if (ifNotExists) return Nil
      throw new IllegalStateException(s"table graft.$ns.$tbl already exists")
    }
    cat.createTable(ns, tbl, ddl, partitionBy, props)
    Nil
  }
}

/** `CREATE [OR REPLACE] TABLE graft.ns.t [PARTITIONED BY (transforms)]
  * [TBLPROPERTIES (...)] AS <query>` — the schema comes from the analyzed
  * query, the data lands as the table's first snapshot. The query plan is
  * stored UNRESOLVED and analyzed at run time (same contract as INSERT
  * ... SELECT), so it can read temp views, parquet paths, or other graft
  * tables. REPLACE here is drop-and-recreate (fresh table identity);
  * Iceberg proper retains snapshot lineage across REPLACE — callers who
  * need history-preserving replacement use INSERT OVERWRITE, which
  * commits a new snapshot on the existing table.
  *
  * Failure atomicity: the query is fully materialized into a hidden
  * staging table FIRST, so a failing query, bad input path, or mid-query
  * crash leaves the previous table untouched (Iceberg's RTAS contract).
  * The old table disappears only inside the final drop+rename swap —
  * metadata-only work; a filesystem catalog cannot shrink that window to
  * a true single pointer CAS, which is the one thing a service catalog
  * would add here. */
case class GraftCtasCommand(ns: String, tbl: String,
    query: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    partitionBy: Seq[String], props: Map[String, String],
    ifNotExists: Boolean, replace: Boolean, orCreate: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftDdl.catalog(spark)
    val df = org.apache.spark.sql.graft.Bridge.ofRows(spark, query)
    if (cat.tableExists(ns, tbl)) {
      if (!replace) {
        if (ifNotExists) return Nil
        throw new IllegalStateException(s"table graft.$ns.$tbl already exists")
      }
    } else if (replace && !orCreate) throw new IllegalStateException(
      s"no such table graft.$ns.$tbl (use CREATE OR REPLACE TABLE)")
    // target-encoding name: if this process dies between the drop and the
    // rename below, cleanStaging can parse the target back out and finish
    // the swap instead of deleting the only copy of the data
    val staging = cat.stagingName(tbl)
    val st = cat.createTable(ns, staging, df.schema.toDDL, partitionBy, props)
    try st.append(df)
    catch { case e: Throwable => cat.dropTable(ns, staging); throw e }
    if (cat.tableExists(ns, tbl)) cat.dropTable(ns, tbl)
    cat.renameTable(ns, staging, tbl)
    Nil
  }
}

case class GraftDropTableCommand(ns: String, tbl: String, ifExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftDdl.catalog(spark)
    if (!cat.tableExists(ns, tbl)) {
      if (ifExists) return Nil
      throw new IllegalStateException(s"no such table graft.$ns.$tbl")
    }
    cat.dropTable(ns, tbl)
    Nil
  }
}

/** ALTER TABLE ... ADD COLUMNS — metadata-only; a DEFAULT becomes the
  * graft v3 `initial-default`, applied at read to pre-existing files */
case class GraftAddColumnsCommand(ns: String, tbl: String,
    cols: Seq[(String, String, Option[String])]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftDdl.catalog(spark).loadTable(ns, tbl)
    cols.foreach { case (name, dtype, dflt) => t.addColumn(name, dtype, dflt) }
    Nil
  }
}

case class GraftRenameColumnCommand(ns: String, tbl: String,
    from: String, to: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDdl.catalog(spark).loadTable(ns, tbl).renameColumn(from, to)
    Nil
  }
}

case class GraftDropColumnsCommand(ns: String, tbl: String, names: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftDdl.catalog(spark).loadTable(ns, tbl)
    names.foreach(t.dropColumn)
    Nil
  }
}

/** ALTER COLUMN ... TYPE — graft type promotion (int→bigint,
  * float→double, decimal widening): metadata-only, old files cast at read */
case class GraftAlterColumnTypeCommand(ns: String, tbl: String,
    specs: Seq[(String, String)]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftDdl.catalog(spark).loadTable(ns, tbl)
    specs.foreach { case (name, dtype) => t.promoteType(name, dtype) }
    Nil
  }
}

case class GraftCreateNamespaceCommand(ns: String, ifNotExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftDdl.catalog(spark)
    if (!ifNotExists && cat.listNamespaces().contains(ns))
      throw new IllegalStateException(s"namespace $ns already exists")
    cat.createNamespace(ns)
    Nil
  }
}

case class GraftDropNamespaceCommand(ns: String, ifExists: Boolean,
    cascade: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftDdl.catalog(spark)
    if (!cat.listNamespaces().contains(ns)) {
      if (ifExists) return Nil
      throw new IllegalStateException(s"no such namespace $ns")
    }
    if (cascade) cat.listTables(ns).foreach(cat.dropTable(ns, _))
    else require(cat.listTables(ns).isEmpty,
      s"namespace $ns is not empty (use CASCADE)")
    cat.dropNamespace(ns)
    Nil
  }
}

case class GraftShowTablesCommand(ns: Option[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftDdl.catalog(spark)
    val nss = ns.map(Seq(_)).getOrElse(cat.listNamespaces())
    for (n <- nss; t <- cat.listTables(n)) yield Row(n, t, false)
  }
}

case class GraftShowNamespacesCommand(override val output: Seq[Attribute])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    GraftDdl.catalog(spark).listNamespaces().map(Row(_))
}

/** DESCRIBE TABLE: logical schema (name, type, nullability comment) +
  * partition-spec section, mirroring Spark's layout */
case class GraftDescribeCommand(ns: String, tbl: String,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftDdl.catalog(spark).loadTable(ns, tbl)
    val m = t.meta
    val colRows = m.currentSchema.fields.map(f =>
      Row(f.name, f.dtype, if (f.nullable) null else "not null"))
    val spec = m.spec(m.currentSpecId).fields
    val specRows =
      if (spec.isEmpty) Nil
      else Row("# Partition Information", "", null) +:
        spec.map(p => Row(p.name, p.transform, null))
    colRows ++ specRows
  }
}

case class GraftSetPropertiesCommand(ns: String, tbl: String,
    props: Map[String, String], unset: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDdl.catalog(spark).loadTable(ns, tbl).updateProperties(props, unset)
    Nil
  }
}

/** ANSI `ALTER TABLE ... ADD CONSTRAINT name CHECK (...)` — validated at
  * the updateProperties chokepoint, enforced inline on every write */
case class GraftAddConstraintCommand(ns: String, tbl: String,
    name: String, predicate: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDdl.catalog(spark).loadTable(ns, tbl).addConstraint(name, predicate)
    Nil
  }
}

case class GraftDropConstraintCommand(ns: String, tbl: String,
    name: String, ifExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftDdl.catalog(spark).loadTable(ns, tbl)
    if (!ifExists)
      require(t.meta.properties.contains(s"check.$name"),
        s"no CHECK constraint '$name' on $ns.$tbl")
    t.dropConstraint(name)
    Nil
  }
}

case class GraftRenameTableCommand(ns: String, from: String, toNs: String,
    to: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    require(ns == toNs, "graft RENAME TO: cross-namespace renames are not supported")
    GraftDdl.catalog(spark).renameTable(ns, from, to)
    Nil
  }
}

/** TRUNCATE = one overwrite snapshot with zero files; history (and
  * therefore rollback) is preserved, matching graft's snapshot model */
case class GraftTruncateCommand(ns: String, tbl: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftDdl.catalog(spark).loadTable(ns, tbl)
    t.overwrite(t.scan().limit(0))
    Nil
  }
}

case class GraftShowCreateCommand(ns: String, tbl: String,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val m = GraftDdl.catalog(spark).loadTable(ns, tbl).meta
    val cols = m.currentSchema.fields.map(f =>
      s"  ${f.name} ${f.dtype}${if (f.nullable) "" else " NOT NULL"}").mkString(",\n")
    val part = m.spec(m.currentSpecId).fields match {
      case Nil => ""
      case fs => fs.map { p =>
        val srcs = p.sourceIds.map(id =>
          m.currentSchema.fields.find(_.id == id).map(_.name).getOrElse(s"#$id"))
        p.transform match {
          case "identity" => srcs.head
          case "bucket" => s"bucket(${p.param.get}, ${srcs.mkString(", ")})"
          case "truncate" => s"truncate(${p.param.get}, ${srcs.head})"
          case t => s"$t(${srcs.head})"
        }
      }.mkString("\nPARTITIONED BY (", ", ", ")")
    }
    val props = if (m.properties.isEmpty) "" else
      m.properties.toSeq.sorted.map { case (k, v) => s"'$k' = '$v'" }
        .mkString("\nTBLPROPERTIES (", ", ", ")")
    GraftDdl.info(s"CREATE TABLE graft.$ns.$tbl (\n$cols)$part$props")
  }
}

case class GraftShowPropertiesCommand(ns: String, tbl: String,
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    GraftDdl.catalog(spark).loadTable(ns, tbl).meta.properties.toSeq.sorted
      .map { case (k, v) => Row(k, v) }
}

/** `CALL graft.system.<proc>(...)` — Iceberg-style maintenance procedures
  * routed to the table API. Args positional or named; `table` is
  * `'ns.tbl'`. Each returns one info row. */
case class GraftCallCommand(proc: String, args: Seq[(Option[String], String)])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDdl.infoOutput

  private def arg(i: Int, name: String): Option[String] = {
    val named = args.collectFirst { case (Some(n), v) if n == name => v }
    named.orElse(args.collect { case (None, v) => v }.lift(i))
  }
  private def required(i: Int, name: String): String = arg(i, name).getOrElse(
    throw new IllegalArgumentException(s"$proc: missing argument '$name'"))

  override def run(spark: SparkSession): Seq[Row] = {
    val Array(ns, tbl) = required(0, "table").split("\\.", 2)
    val t = GraftDdl.catalog(spark).loadTable(ns, tbl)
    proc match {
      case "rewrite_data_files" =>
        val target = arg(1, "target_mb").map(_.toInt).getOrElse(128)
        val snap = t.compact(targetMB = target)
        GraftDdl.info(s"rewritten as snapshot ${snap.snapshotId}")
      case "rewrite_small_files" =>
        val snap = t.compactSmallFiles()
        GraftDdl.info(s"rewritten as snapshot ${snap.snapshotId}")
      case "expire_snapshots" =>
        val olderThan = arg(1, "older_than_ms").map(_.toLong)
          .getOrElse(System.currentTimeMillis())
        val retainLast = arg(2, "retain_last").map(_.toInt).getOrElse(1)
        val (snaps, files) = t.expireSnapshots(olderThan, retainLast)
        GraftDdl.info(s"expired $snaps snapshots, removed $files files")
      case "rollback_to_snapshot" =>
        t.rollbackTo(required(1, "snapshot_id").toLong)
        GraftDdl.info(s"rolled back to ${required(1, "snapshot_id")}")
      case "remove_orphan_files" =>
        val olderThan = arg(1, "older_than_ms").map(_.toLong).getOrElse(0L)
        val n = t.removeOrphanFiles(olderThan)
        GraftDdl.info(s"removed $n orphan files")
      case "fast_forward" =>
        t.fastForward(required(1, "branch"), required(2, "from"))
        GraftDdl.info(s"fast-forwarded ${required(1, "branch")}")
      case "create_branch" =>
        t.createBranch(required(1, "branch"), arg(2, "snapshot_id").map(_.toLong))
        GraftDdl.info(s"created branch ${required(1, "branch")}")
      case "create_tag" =>
        t.createTag(required(1, "tag"), arg(2, "snapshot_id").map(_.toLong))
        GraftDdl.info(s"created tag ${required(1, "tag")}")
      case "analyze_table" =>
        val ndv = t.analyze()
        ndv.toSeq.sortBy(_._1).map { case (c, n) => Row(s"$c ndv=$n") }
      case "rewrite_manifests" =>
        val s = t.rewriteManifests()
        GraftDdl.info(s"rewrote manifests into ${s.manifests.size} segment(s) " +
          s"at snapshot ${s.snapshotId}")
      case "rewrite_position_deletes" =>
        val s = t.rewriteDeleteFiles()
        GraftDdl.info(s"rewrote position deletes at snapshot ${s.snapshotId}")
      case "add_files" =>
        val s = t.addFiles(required(1, "source"))
        GraftDdl.info(s"registered files from ${required(1, "source")} " +
          s"at snapshot ${s.snapshotId}")
      case "clone" =>
        val Array(tns, ttbl) = required(1, "target").split("\\.", 2)
        GraftDdl.catalog(spark).cloneTable(ns, tbl, tns, ttbl)
        GraftDdl.info(s"cloned $ns.$tbl to $tns.$ttbl (zero data bytes)")
      case other => throw new UnsupportedOperationException(
        s"unknown graft procedure: $other (known: rewrite_data_files, " +
          "rewrite_small_files, expire_snapshots, rollback_to_snapshot, " +
          "remove_orphan_files, fast_forward, create_branch, create_tag, " +
          "analyze_table, rewrite_manifests, rewrite_position_deletes, " +
          "add_files, clone)")
    }
  }
}
