package graft.io

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParseException}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.{AlterTableAddColumnsCommand, AnalyzeColumnCommand, AnalyzeTableCommand, LeafRunnableCommand, ShowPartitionsCommand}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** The CATALOG face of `graft-tx`: persistent tables a SQL user manages
  * with the statements a warehouse operator actually types —
  *
  * {{{
  *   CREATE TABLE fact (id BIGINT, price DOUBLE, etl_seq BIGINT, date_id INT)
  *     USING `graft-tx`
  *     OPTIONS (path '/w/fact', key 'id', version 'etl_seq', partitionColumns 'date_id')
  *   INSERT INTO fact VALUES …               -- keyed upsert (TxRelation.insert)
  *   ALTER TABLE fact ADD COLUMNS (color STRING)
  *   SHOW PARTITIONS fact
  *   DESCRIBE HISTORY fact                   -- or DESCRIBE HISTORY '/w/fact'
  *   SELECT … FROM fact                      -- across sessions: the catalog holds the binding
  * }}}
  *
  * How it plugs in — the same analysis-time interception as
  * [[TxSqlDml]], extended one station earlier in the pipeline:
  *
  *  - CREATE TABLE / SELECT / INSERT INTO need nothing: Spark's session
  *    catalog already persists `USING graft-tx` tables and resolves
  *    them through the V1 [[TxDataSource]] seam (reference S10 context:
  *    `/root/reference/dags/etl/populate_sources_dag.py:89-107` manages
  *    its `sources` dim with exactly this statement family).
  *  - ALTER TABLE ADD COLUMNS and SHOW PARTITIONS resolve to V1
  *    commands that REFUSE non-builtin providers (the provider
  *    allowlist / partition-metadata checks in their `run`).
  *    [[TxCatalog.Resolution]] replaces the resolved command — when and
  *    only when the target's provider is `graft-tx` — with a command
  *    driving the table's own verbs: [[TxTable.addColumns]] (one
  *    rows-preserving commit widening the storage schema, THEN the
  *    catalog schema — order matters: a crash between the two leaves
  *    the catalog narrower than storage, which reads fine, where the
  *    opposite order would leave a catalog promising a column the
  *    storage can't serve) and [[TxTable.partitionValues]] (manifest
  *    readout, zero data I/O — the manifest IS the partition metadata
  *    SHOW PARTITIONS wants, so no `MSCK`/repair machinery exists to
  *    drift from it).
  *  - DESCRIBE HISTORY is not Spark grammar at all: [[GraftSqlParser]]
  *    (injected via `injectParser`) recognizes the one statement form
  *    and emits [[TxDescribeHistoryCommand]]; every other string —
  *    including every statement the delegate can parse — passes through
  *    byte-identical, so the wrapper is a superset, not a fork.
  *
  * Schema discipline for catalog tables: the metastore schema and the
  * storage schema must agree (Spark's V1 resolution checks them
  * against each other), so on a CATALOGED table evolve through `ALTER
  * TABLE ADD COLUMNS` — which commits both sides — rather than
  * path-level write-side widening, which the catalog cannot observe.
  * Path-addressed tables (`load(dir)` / temp views) keep the write-side
  * union evolution unchanged.
  */
object TxCatalog {

  /** Analyzer rule (`SparkSessionExtensions.injectResolutionRule`):
    * rewrites the resolved V1 ALTER/SHOW PARTITIONS commands over
    * graft-tx catalog tables. Anything else passes through. */
  object Resolution extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case AlterTableAddColumnsCommand(ident, cols) =>
        txTable(ident).map(ct =>
          TxAddColumnsCommand(ident, pathOf(ct), cols): LogicalPlan)
          .getOrElse(plan)
      case ShowPartitionsCommand(ident, output, spec) =>
        txTable(ident).map(ct =>
          TxShowPartitionsCommand(pathOf(ct), output, spec): LogicalPlan)
          .getOrElse(plan)
      case AnalyzeTableCommand(ident, noScan) =>
        txTable(ident).map(ct =>
          TxAnalyzeTableCommand(ident, pathOf(ct), noScan): LogicalPlan)
          .getOrElse(plan)
      case a @ AnalyzeColumnCommand(ident, _, _) =>
        txTable(ident).map(ct =>
          TxAnalyzeColumnsCommand(a, pathOf(ct)): LogicalPlan)
          .getOrElse(plan)
      case other => other
    }
  }

  /** The one-statement live-session entry — the retrofit for the
    * whole SQL surface (resolution rules and parsers cannot be added to
    * an already-built session): DESCRIBE HISTORY matches
    * [[GraftSqlParser]]'s pattern directly; everything else parses with
    * the session parser, analyzes, and converts through [[Resolution]]
    * (and [[TxSqlDml.convert]], so one entry point serves the whole SQL
    * surface). Statements needing no interception run exactly as
    * `spark.sql` would. */
  def sql(spark: SparkSession, sqlText: String): org.apache.spark.sql.DataFrame =
    GraftSqlParser.parseAdditive(sqlText) match {
      case Some(cmd) => bridge.ofRows(spark, cmd)
      case None =>
        val parsed = bridge.parsePlan(spark, sqlText)
        // ANSI constraint statements divert on the PARSED plan — the
        // builtin analyzer refuses them for V1 tables before any
        // injected resolution rule runs (TxConstraints' scaladoc)
        val pre = TxConstraints.Interception(parsed)
        if (pre ne parsed) bridge.ofRows(spark, pre)
        else {
          val analyzed = bridge.analyze(spark, parsed)
          bridge.ofRows(spark, TxSqlDml.convert(Resolution(analyzed)))
        }
    }

  /** Resolve a statement target to a storage path: a single-quoted
    * string is a literal path; anything else is a table identifier
    * looked up in the session catalog. Run-time resolution, like every
    * command — the parsed statement survives catalog changes between
    * parse and execution. */
  private[io] def resolvePath(spark: SparkSession, target: String): String =
    if (target.startsWith("'") && target.endsWith("'") && target.length >= 2)
      target.substring(1, target.length - 1)
    else {
      val ident = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseTableIdentifier(target)
      pathOf(bridge.sessionCatalog(spark).getTableMetadata(ident))
    }

  /** Partition identity of a path-addressed table: the `_meta` record
    * is the only authority (maintenance statements never carry one). */
  private[io] def specOf(spark: SparkSession, path: String): PartitionSpec =
    PartitionSpec(TxTable.partitionColumnsOf(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"graft-tx table at $path records no partition columns in _meta — " +
          "commit once through a write verb first")))

  /** The catalog record IF `ident` names a graft-tx table; None for
    * anything else (missing tables fall through to Spark's own error). */
  private[io] def txTable(ident: TableIdentifier): Option[CatalogTable] = {
    val spark = SparkSession.active
    try {
      val ct = bridge.sessionCatalog(spark).getTableMetadata(ident)
      if (ct.provider.exists(_.equalsIgnoreCase("graft-tx"))) Some(ct) else None
    } catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Storage path of a cataloged graft-tx table: the normalized
    * location (CREATE TABLE's `path` option lands there; managed
    * tables get the warehouse default). */
  private[io] def pathOf(ct: CatalogTable): String =
    ct.storage.locationUri.map(u => new org.apache.hadoop.fs.Path(u).toString)
      .orElse(ct.storage.properties.collectFirst {
        case (k, v) if k.equalsIgnoreCase("path") => v
      })
      .getOrElse(throw new IllegalArgumentException(
        s"graft-tx catalog table ${ct.identifier} records no location"))

  /** Live data footprint of a committed table: (files, bytes) across
    * the tip manifest's leaves — one content-summary listing per live
    * leaf, O(partitions), never a data read. Shared by DESCRIBE DETAIL
    * and ANALYZE TABLE (the two statements that report/record size). */
  private[io] def liveFootprint(
      spark: SparkSession, path: String,
      leaves: Iterable[String]): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    var files = 0L
    var bytes = 0L
    leaves.foreach { leaf =>
      val p = new org.apache.hadoop.fs.Path(
        if (leaf.startsWith("/") || leaf.contains(":/")) leaf else s"$path/$leaf")
      try {
        val cs = fs.getContentSummary(p)
        files += cs.getFileCount
        bytes += cs.getLength
      } catch { case _: java.io.IOException => () }
    }
    (files, bytes)
  }

  /** Partition identity: the table's own `_meta` record, falling back
    * to the cataloged `partitionColumns` option (pre-meta tables). */
  private[io] def partSpecOf(spark: SparkSession, ct: CatalogTable): PartitionSpec = {
    val fromMeta = TxTable.partitionColumnsOf(spark, pathOf(ct))
    val fromOpts = ct.storage.properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase("partitioncolumns") =>
        v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    PartitionSpec(fromMeta.orElse(fromOpts).getOrElse(
      throw new IllegalArgumentException(
        s"graft-tx catalog table ${ct.identifier} records no partition " +
          "columns — commit once through a write verb, or declare the " +
          "partitionColumns option")))
  }
}

/** `ALTER TABLE <tx> ADD COLUMNS (…)` → [[TxTable.addColumns]] (one
  * rows-preserving storage commit) + the metastore schema update +
  * relation-cache refresh, in that order (see [[TxCatalog]]'s scaladoc
  * for why storage goes first). */
case class TxAddColumnsCommand(
    ident: TableIdentifier, path: String,
    cols: Seq[StructField]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // a DEFAULT clause rides in as StructField metadata; the storage
    // commit writes typed NULLs, so accepting it would silently drop
    // the default — refuse until defaults have an honest storage story
    val defaulted = cols.filter(f =>
      f.metadata.contains("CURRENT_DEFAULT") || f.metadata.contains("EXISTS_DEFAULT"))
    require(defaulted.isEmpty,
      "graft-tx ALTER TABLE ADD COLUMNS does not support DEFAULT values " +
        s"(${defaulted.map(_.name).mkString(", ")}) — existing rows read " +
        "the new column as NULL; backfill with UPDATE … SET instead")
    val catalog = bridge.sessionCatalog(spark)
    val ct = catalog.getTableMetadata(ident)
    TxTable.addColumns(spark, path, TxCatalog.partSpecOf(spark, ct), cols)
    catalog.alterTableDataSchema(ident,
      StructType(ct.dataSchema.fields.toSeq ++ cols))
    spark.catalog.refreshTable(ident.quotedString)
    Seq.empty
  }
}

/** `SHOW PARTITIONS <tx> [PARTITION (col=v, …)]` →
  * [[TxTable.partitionValues]] rendered hive-style
  * (`col1=v1/col2=v2`), filtered by the optional partial spec — the
  * exact output contract of the built-in command, served from the
  * manifest with zero data I/O. */
case class TxShowPartitionsCommand(
    path: String, override val output: Seq[Attribute],
    spec: Option[Map[String, String]]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cols = TxTable.partitionColumnsOf(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"graft-tx table at $path records no partition columns in _meta"))
    spec.foreach { s =>
      val unknown = s.keys.filterNot(k => cols.exists(_.equalsIgnoreCase(k)))
      require(unknown.isEmpty,
        s"SHOW PARTITIONS spec names non-partition column(s): " +
          unknown.mkString(", "))
    }
    TxTable.partitionValues(spark, path)
      .filter(tuple => spec.forall(_.forall { case (k, v) =>
        cols.zip(tuple).exists { case (c, t) => c.equalsIgnoreCase(k) && t == v }
      }))
      .map(tuple => Row(cols.zip(tuple)
        .map { case (c, v) => s"$c=$v" }.mkString("/")))
  }
}

/** `DESCRIBE HISTORY <table-or-'/path'>` → [[TxTable.historyFrame]]:
  * one row per retained commit (version, kind, committed_at,
  * touched_entries). The target resolves at RUN time — a table name
  * through the session catalog, a quoted string as a literal path —
  * so the parsed statement survives catalog changes between parse and
  * execution exactly like every other command. */
case class TxDescribeHistoryCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("committed_at", TimestampType, nullable = true)(),
    AttributeReference("touched_entries", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] =
    TxTable.historyFrame(spark,
      TxCatalog.resolvePath(spark, target)).collect().toSeq
}

/** `DESCRIBE DETAIL <table-or-'/path'>` — the one-row operational
  * summary the public table formats pair with DESCRIBE HISTORY:
  * format, location, tip version, identity (partition columns / merge
  * key / version column from `_meta`), live partition count, and the
  * live data footprint (files and bytes — one listing per live leaf,
  * O(partitions), never a data read). */
case class TxDescribeDetailCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("partition_columns",
      org.apache.spark.sql.types.ArrayType(StringType, containsNull = false),
      nullable = true)(),
    AttributeReference("merge_key", StringType, nullable = true)(),
    AttributeReference("version_column", StringType, nullable = true)(),
    AttributeReference("num_partitions", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = TxCatalog.resolvePath(spark, target)
    val (tip, leaves) = TxTable.latest(spark, path)
    require(tip >= 1,
      s"DESCRIBE DETAIL: $path holds no committed graft-tx table")
    val (files, bytes) = TxCatalog.liveFootprint(spark, path, leaves.values)
    Seq(Row("graft-tx", path, tip,
      TxTable.partitionColumnsOf(spark, path).orNull,
      TxTable.mergeKeyOf(spark, path).orNull,
      TxTable.versionColumnOf(spark, path).orNull,
      leaves.size.toLong, files, bytes))
  }
}

/** Delegating parser (`SparkSessionExtensions.injectParser`) adding the
  * maintenance statements Spark's grammar lacks — the standard
  * parser-extension move of the public table formats, with a strict
  * ADDITIVE-ONLY discipline: each statement is matched by a
  * whole-statement pattern the stock grammar cannot parse at all, so
  * the wrapper can never change the meaning of a statement Spark
  * already accepts; everything unmatched routes to the delegate
  * byte-identically. The added statements:
  *
  * {{{
  *   DESCRIBE HISTORY <table | '/path'>
  *   DESCRIBE DETAIL <table | '/path'>
  *   OPTIMIZE <t> [WHERE <partition pred>]                  -- bin-pack small files
  *   OPTIMIZE <t> [WHERE <partition pred>] ZORDER BY (c, …) -- cluster rewrite
  *   VACUUM <t> [RETAIN <n> VERSIONS]                       -- retention reclaim
  *   RESTORE TABLE <t> TO VERSION AS OF <n>                 -- durable rollback
  *   SHOW CONSTRAINTS <t>                                   -- CHECK-constraint readout
  *   REPARTITION TABLE <t> BY (c, …)                        -- partition-spec evolution
  * }}}
  *
  * One narrow caveat to "cannot parse at all": stock `DESCRIBE x y`
  * grammar could technically read `DESCRIBE HISTORY t` / `DESCRIBE
  * DETAIL t` as describe-column-`t`-of-table-`HISTORY`/`DETAIL` — the
  * same collision every public format's parser extension accepts, and
  * only a table literally named history/detail could observe it.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseAdditive(sqlText)
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) = delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String) = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String) = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  /** The added statements, as strict whole-statement patterns. */
  private[io] val DescribeHistory =
    """(?is)\A\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*\z""".r
  private[io] val DescribeDetail =
    """(?is)\A\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*\z""".r
  private[io] val OptimizeZOrder =
    """(?is)\A\s*OPTIMIZE\s+(.+?)(?:\s+WHERE\s+(.+?))?\s+ZORDER\s+BY\s*\(\s*([^)]+?)\s*\)\s*;?\s*\z""".r
  private[io] val Optimize =
    """(?is)\A\s*OPTIMIZE\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*\z""".r
  private[io] val Vacuum =
    """(?is)\A\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*\z""".r
  private[io] val RestoreTable =
    """(?is)\A\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*\z""".r
  private[io] val ShowConstraints =
    """(?is)\A\s*SHOW\s+CONSTRAINTS\s+(.+?)\s*;?\s*\z""".r
  private[io] val RepartitionTable =
    """(?is)\A\s*REPARTITION\s+TABLE\s+(.+?)\s+BY\s*\(\s*([^)]+?)\s*\)\s*;?\s*\z""".r

  /** Parse one of the added statements; None = not ours, delegate.
    * ZORDER is matched before the bare form (its pattern is a superset
    * of OPTIMIZE's). */
  def parseAdditive(sqlText: String): Option[LogicalPlan] = sqlText match {
    case DescribeHistory(target) =>
      Some(TxDescribeHistoryCommand(target.trim))
    case DescribeDetail(target) =>
      Some(TxDescribeDetailCommand(target.trim))
    case OptimizeZOrder(target, pred, cols) =>
      Some(TxOptimizeCommand(target.trim, Option(pred).map(_.trim),
        cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
    case Optimize(target, pred) =>
      Some(TxOptimizeCommand(target.trim, Option(pred).map(_.trim), Seq.empty))
    case Vacuum(target, retain) =>
      Some(TxVacuumCommand(target.trim,
        Option(retain).map(_.toInt).getOrElse(1)))
    case RestoreTable(target, version) =>
      Some(TxRestoreCommand(target.trim, version.toLong))
    case ShowConstraints(target) =>
      Some(TxShowConstraintsCommand(target.trim))
    case RepartitionTable(target, cols) =>
      Some(TxRepartitionTableCommand(target.trim,
        cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
    case _ => None
  }
}

/** `REPARTITION TABLE <t> BY (c, …)` → [[TxTable.repartitionTable]]:
  * the partition-spec evolution verb (full rows-preserving re-key as
  * one checkpoint commit; see the verb's scaladoc for the crash-safe
  * two-step `_meta` protocol). For a CATALOGED table whose CREATE
  * carried a `partitionColumns` option, the option updates in lockstep
  * — relation resolution cross-checks it against `_meta`, and a stale
  * value would refuse every subsequent read. Returns the new tip. */
case class TxRepartitionTableCommand(target: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = TxCatalog.resolvePath(spark, target)
    TxTable.repartitionTable(spark, path, PartitionSpec(cols))
    if (!target.startsWith("'")) {
      val ident = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseTableIdentifier(target)
      TxCatalog.txTable(ident).foreach { ct =>
        if (ct.storage.properties.keys.exists(_.equalsIgnoreCase("partitioncolumns"))) {
          val props = ct.storage.properties
            .filterNot(_._1.equalsIgnoreCase("partitioncolumns")) +
            ("partitionColumns" -> cols.mkString(","))
          bridge.sessionCatalog(spark).alterTable(
            ct.copy(storage = ct.storage.copy(properties = props)))
          spark.catalog.refreshTable(ident.quotedString)
        }
      }
    }
    Seq(Row(TxTable.latestVersion(spark, path)))
  }
}

/** `OPTIMIZE <t> [WHERE …] [ZORDER BY (…)]`: the bare form bin-packs
  * small files ([[TxTable.compactFiles]] at its default leaf budget),
  * the ZORDER form is the clustering rewrite
  * ([[TxTable.optimizeZOrderBy]], 1–4 columns). WHERE bounds the
  * rewrite set at the MANIFEST — the predicate may reference only
  * partition columns (anything else fails resolution against the
  * manifest-values frame, loudly), which is what makes OPTIMIZE
  * operable at scale: scoped runs bound both transient storage and
  * writer starvation. Returns the table's tip version after the run
  * (unchanged when the pass was a no-op). */
case class TxOptimizeCommand(
    target: String, where: Option[String],
    zorderBy: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = TxCatalog.resolvePath(spark, target)
    val spec = TxCatalog.specOf(spark, path)
    val pred = where.map(w => bridge.column(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(w)))
    if (zorderBy.nonEmpty)
      TxTable.optimizeZOrderBy(spark, path, spec, zorderBy, where = pred)
    else
      TxTable.compactFiles(spark, path, spec, where = pred)
    Seq(Row(TxTable.latestVersion(spark, path)))
  }
}

/** `VACUUM <t> [RETAIN n VERSIONS]` → [[TxTable.vacuum]]. The default
  * (retain 1) is the verb's maintenance-window behavior: everything
  * but the latest version is reclaimed and time travel is destroyed —
  * state an explicit RETAIN to keep a travel window. */
case class TxVacuumCommand(target: String, retain: Int)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    require(retain >= 1, s"VACUUM must retain at least 1 version, got $retain")
    TxTable.vacuum(spark, TxCatalog.resolvePath(spark, target),
      retainVersions = retain)
    Seq.empty
  }
}

/** `RESTORE TABLE <t> TO VERSION AS OF <n>` → [[TxTable.restore]]: a
  * NEW commit whose state is exactly version n's — time travel made
  * durable, history stays append-only, the change feed replays the
  * reverted rows like any commit. Returns the new tip version. */
case class TxRestoreCommand(target: String, version: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = TxCatalog.resolvePath(spark, target)
    TxTable.restore(spark, path, version)
    Seq(Row(TxTable.latestVersion(spark, path)))
  }
}

/** `ANALYZE TABLE <tx> COMPUTE STATISTICS [NOSCAN]` — the CBO feed,
  * with the SIZE computed from the table's live manifest leaves
  * instead of the catalog location. The builtin command's
  * `calculateTotalSize` walks the metastore location, which for a
  * graft-tx table is an empty warehouse stub (the data lives under the
  * `path` option, addressed through the manifest) — so it records
  * sizeInBytes = 0, and catalog stats OVERRIDE the relation's own
  * conservative sizing in the optimizer: after one innocent ANALYZE,
  * every join against the table sees a 0-byte side and broadcasts it
  * regardless of its true size — at lake scale, a driver OOM wired up
  * by a metadata command. This command records the true footprint
  * (one content-summary per live leaf, O(partitions)) and, unless
  * NOSCAN, the exact snapshot row count; existing column stats ride
  * through untouched. */
case class TxAnalyzeTableCommand(
    ident: TableIdentifier, path: String,
    noScan: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (tip, leaves) = TxTable.latest(spark, path)
    require(tip >= 1,
      s"ANALYZE TABLE: $path holds no committed graft-tx table")
    val (_, bytes) = TxCatalog.liveFootprint(spark, path, leaves.values)
    val rowCount =
      if (noScan) None
      else TxTable.snapshot(spark, path).map(s => BigInt(s.count()))
    val catalog = bridge.sessionCatalog(spark)
    val old = catalog.getTableMetadata(ident).stats
    // on NOSCAN the old row count survives only while the recorded size
    // is unchanged (the builtin compareAndGetNewStats contract): a size
    // change means data moved, and pairing the new size with a stale
    // row count would feed CBO a wrong rows/byte density
    val carriedRowCount = old.filter(_.sizeInBytes == BigInt(bytes))
      .flatMap(_.rowCount)
    catalog.alterTableStats(ident, Some(
      org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
        sizeInBytes = BigInt(bytes),
        rowCount = rowCount.orElse(carriedRowCount),
        colStats = old.map(_.colStats).getOrElse(Map.empty))))
    spark.catalog.refreshTable(ident.quotedString)
    Seq.empty
  }
}

/** `ANALYZE TABLE <tx> COMPUTE STATISTICS FOR [ALL] COLUMNS …` — the
  * builtin column-stats scan runs unchanged (it reads through the
  * relation, so min/max/ndv/nullCount are correct), then the table
  * SIZE it recorded from the empty metastore location is repaired to
  * the manifest footprint, preserving the column stats and row count
  * the builtin just wrote. */
case class TxAnalyzeColumnsCommand(
    inner: AnalyzeColumnCommand, path: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    inner.run(spark)
    val (tip, leaves) = TxTable.latest(spark, path)
    require(tip >= 1,
      s"ANALYZE TABLE: $path holds no committed graft-tx table")
    val (_, bytes) = TxCatalog.liveFootprint(spark, path, leaves.values)
    val catalog = bridge.sessionCatalog(spark)
    val written = catalog.getTableMetadata(inner.tableIdent).stats
    catalog.alterTableStats(inner.tableIdent, Some(
      org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
        sizeInBytes = BigInt(bytes),
        rowCount = written.flatMap(_.rowCount),
        colStats = written.map(_.colStats).getOrElse(Map.empty))))
    spark.catalog.refreshTable(inner.tableIdent.quotedString)
    Seq.empty
  }
}
