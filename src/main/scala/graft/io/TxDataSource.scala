package graft.io

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `graft-tx` — the transactional table exposed through Spark's PUBLIC
  * data-source seam, so a consumer needs no graft imports at all:
  *
  * {{{
  *   spark.read.format("graft-tx")
  *     .option("partitionColumns", "day,event_type")
  *     .load(dir)                              // snapshot, pruned reads
  *   spark.sql("CREATE TEMPORARY VIEW fact USING `graft-tx` " +
  *     s"OPTIONS (path '$dir', partitionColumns 'day')")
  *   df.write.format("graft-tx").mode("append")
  *     .option("key", "event_id").option("version", "ts")
  *     .option("partitionColumns", "day").save(dir)   // keyed upsert
  * }}}
  *
  * This is the V1 `RelationProvider`/`PrunedFilteredScan` contract —
  * the same seam Spark's own JDBC source ships on — chosen over a V2
  * `TableProvider` deliberately: V2's `Batch` would make this source
  * re-implement a parquet reader (or smuggle a DataFrame through
  * internal fallback traits), while V1's `buildScan` lets the inner
  * plan BE a real parquet scan. Pushed filters reach two levels:
  * filters over the table's partition columns prune at the MANIFEST
  * (only matching leaves are planned — [[TxTable.snapshotWhere]], the
  * hive-pruning replacement that survives 100 TB), and every
  * translatable filter is re-applied inside the inner scan so parquet
  * row-group stats and blooms engage. `unhandledFilters` returns
  * everything: Spark re-evaluates all predicates on top, so pruning is
  * purely a scan-cost optimization and can never change results. The
  * boundary does cost the inner plan its columnar hand-off to the
  * outer stages — the native `TxTable.snapshot*` calls remain the
  * zero-overhead path; this seam is for plain-Spark consumers.
  *
  * Options: `path`; `partitionColumns` (comma list, in the table's
  * partition order — normally UNNECESSARY: the table's `_meta` slot
  * records its partition columns and the reader prunes from that; an
  * explicit option must agree with the record, and only carries
  * pre-meta tables); `versionAsOf` (time travel; disables manifest
  * pruning — historical manifests are resolved whole, conservatively). Writes support
  * SaveMode.Append only, as a keyed upsert (`key`, `version`,
  * `partitionColumns` options) — overwrite/ignore have no one honest
  * transactional meaning, so they refuse rather than guess.
  */
class TxDataSource
    extends RelationProvider
    with SchemaRelationProvider
    with CreatableRelationProvider
    with StreamSourceProvider
    with StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-tx"

  // ---- streaming: spark.readStream.format("graft-tx") ----------------
  // the commit-log-native change feed (see TxStreamSource's scaladoc):
  // options `key` (required — the diff's merge key) and
  // `startingVersion` (default 0 = replay from genesis)

  private def keyOf(spark: SparkSession, p: Map[String, String]): String =
    p.get("key")
      .orElse(TxTable.mergeKeyOf(spark, pathOf(p)))
      .getOrElse(throw new IllegalArgumentException(
        "graft-tx change feeds need a merge key: pass the 'key' option, " +
          "or bootstrap the table through a keyed verb (which records it " +
          "in _meta)"))

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String,
      parameters: Map[String, String]): (String, org.apache.spark.sql.types.StructType) = {
    val p = lower(parameters)
    (shortName(), schema.getOrElse(
      TxStreamSource.feedSchema(sqlContext.sparkSession, pathOf(p),
        keyOf(sqlContext.sparkSession, p))))
  }

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val p = lower(parameters)
    // startingVersion: a number (replay after that version; 0 = from
    // genesis, the default), "latest" — only commits landing after the
    // stream starts (the new-changes-only consumer) — or "snapshot":
    // the current state opens the stream as one insert batch, then
    // per-commit tailing (the bootstrap for consumers arriving after
    // vacuum reclaimed the early history, where a from-zero replay
    // fails loudly)
    // the tip-relative modes pin their resolution in the checkpoint
    // (TxStreamSource.pinnedStartingVersion) so a restart replans the
    // SAME opening batch — re-resolving to a moved tip would duplicate
    // the commits that landed while the stream was down
    val spark = sqlContext.sparkSession
    val (starting, snap) = p.get("startingversion") match {
      case Some("latest") =>
        (TxStreamSource.pinnedStartingVersion(spark, metadataPath,
          TxTable.latestVersion(spark, pathOf(p))), false)
      case Some("snapshot") =>
        (TxStreamSource.pinnedStartingVersion(spark, metadataPath,
          TxTable.latestVersion(spark, pathOf(p))), true)
      case Some(v) => (v.toLong, false)
      case None => (0L, false)
    }
    // a non-positive cap would never admit the mandatory first commit —
    // latestOffset's walk stays at `from` and the stream silently stalls
    val maxCommits = p.get("maxcommitspertrigger").map(_.toLong)
    maxCommits.foreach(m => require(m > 0,
      s"graft-tx: maxCommitsPerTrigger must be positive, got $m"))
    val maxBytes = p.get("maxbytespertrigger").map(_.toLong)
    maxBytes.foreach(m => require(m > 0,
      s"graft-tx: maxBytesPerTrigger must be positive, got $m"))
    new TxStreamSource(spark, pathOf(p),
      keyOf(spark, p),
      starting, maxCommits, maxBytes, initialSnapshot = snap)
  }

  /** `df.writeStream.format("graft-tx")` — each micro-batch is one
    * transactional keyed upsert commit ([[TxFormatSink]]); options
    * `key`, `version`, `partitionColumns` mirror the batch write. */
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val p = lower(parameters)
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft-tx sink supports Append/Update output (keyed upsert per " +
        "micro-batch); Complete would re-land the whole result every batch")
    // the option wins; `.partitionBy(…)` on the stream writer is the
    // equivalent spelling and arrives through the createSink argument
    val spark = sqlContext.sparkSession
    // one _meta read serves all three defaults
    val id = TxTable.identityOf(spark, pathOf(p))
    val parts =
      if (partColsOf(p).nonEmpty) partColsOf(p)
      else if (partitionColumns.nonEmpty) partitionColumns
      else id.map(_._1).getOrElse(Seq.empty)
    require(parts.nonEmpty,
      "graft-tx streaming writes need partition columns: pass " +
        "partitionColumns/.partitionBy, or write to a table whose _meta " +
        "records them")
    new TxFormatSink(pathOf(p),
      p.get("key").orElse(id.flatMap(_._2)).getOrElse(
        throw new IllegalArgumentException(
          "graft-tx streaming writes need a merge key: pass the 'key' " +
            "option, or write to a table whose _meta records it")),
      p.get("version")
        .orElse(id.flatMap(_._3))
        .getOrElse(throw new IllegalArgumentException(
          "graft-tx streaming writes need a version column: pass the " +
            "'version' option, or write to a table whose _meta records it")),
      PartitionSpec(parts))
  }

  private def lower(parameters: Map[String, String]): Map[String, String] =
    parameters.map { case (k, v) => k.toLowerCase -> v }

  private def pathOf(p: Map[String, String]): String =
    p.getOrElse("path", throw new IllegalArgumentException(
      "graft-tx requires a path (load(dir) or OPTIONS (path '…'))"))

  private def partColsOf(p: Map[String, String]): Seq[String] =
    p.get("partitioncolumns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation =
    relationOf(sqlContext, lower(parameters), providedSchema = None)

  /** The [[SchemaRelationProvider]] face — what lets `CREATE TABLE t
    * (cols…) USING graft-tx` succeed on a NEVER-COMMITTED path: Spark
    * validates a schema-ful CREATE (and resolves every later catalog
    * read) through this seam, and without it the relation would have to
    * throw "no committed TxTable" before the first INSERT could ever
    * bootstrap the table. On a committed table the snapshot schema
    * remains the authority; the provided schema is checked against it
    * loosely (names + types, nullability-insensitive — the same
    * divergence Spark's own RelationProvider path refuses). */
  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String],
      schema: StructType): BaseRelation =
    relationOf(sqlContext, lower(parameters), providedSchema = Some(schema))

  private def relationOf(
      sqlContext: SQLContext, p: Map[String, String],
      providedSchema: Option[StructType]): BaseRelation = {
    val path = pathOf(p)
    val spark = sqlContext.sparkSession
    // changesFrom: the BATCH change-feed read (the public formats'
    // table_changes / readChangeFeed surface) — row-level diffs of the
    // commits in (changesFrom, changesTo ?: tip], each row stamped
    // `_commit_version`, same emission as the streaming source. Mutually
    // exclusive with versionAsOf (a changes read IS a version range).
    if (p.contains("changesfrom")) {
      require(!p.contains("versionasof"),
        "graft-tx: changesFrom and versionAsOf are mutually exclusive")
      val from = p("changesfrom").toLong
      val to = p.get("changesto").map(_.toLong)
        .getOrElse(TxTable.latestVersion(spark, path))
      require(from >= 0 && from <= to,
        s"graft-tx: invalid change range ($from, $to]")
      return TxChangesRelation(spark, path, keyOf(spark, p), from, to)
    }
    // partition columns: the table's own _meta record by default — a
    // reader shouldn't have to be told what the table already knows.
    // An explicit option must AGREE with the record (a mismatch means
    // a misconfigured caller whose "pruned" reads would silently scan
    // everything or, worse, prune on the wrong identity).
    val recorded = TxTable.partitionColumnsOf(spark, path)
    val explicit = partColsOf(p)
    val parts = (recorded, explicit) match {
      case (Some(r), e) if e.nonEmpty =>
        require(e == r, s"graft-tx: $path records partition columns " +
          s"${r.mkString("(", ", ", ")")} but the option passed " +
          s"${e.mkString("(", ", ", ")")}")
        r
      case (Some(r), _) => r
      case (None, e) => e // pre-meta table: the option is all we have
    }
    TxRelation(spark, path, parts, p.get("versionasof").map(_.toLong),
      providedSchema, p.get("key"), p.get("version"))
  }

  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val p = lower(parameters)
    val path = pathOf(p)
    val spark = sqlContext.sparkSession
    // an EXISTING table is self-describing: key/version/partitions
    // default from its _meta record (read ONCE), so `df.write
    // .format("graft-tx").mode("append").save(dir)` needs no options at
    // all. Explicit options still apply (and must agree — ensureSpec
    // enforces).
    val id = TxTable.identityOf(spark, path)
    val parts =
      if (partColsOf(p).nonEmpty) partColsOf(p)
      else id.map(_._1).getOrElse(Seq.empty)
    require(parts.nonEmpty,
      "graft-tx writes need partition columns: pass partitionColumns, " +
        "or write to a table whose _meta records them")
    def doUpsert(): Unit = {
      val key = p.get("key")
        .orElse(id.flatMap(_._2))
        .getOrElse(throw new IllegalArgumentException(
          "graft-tx append needs a merge key: pass the 'key' option, " +
            "or write to a table whose _meta records it"))
      val version = p.get("version")
        .orElse(id.flatMap(_._3))
        .getOrElse(throw new IllegalArgumentException(
          "graft-tx append needs a version column: pass the 'version' " +
            "option, or write to a table whose _meta records it"))
      TxTable.upsert(spark, path, data,
        key, version, PartitionSpec(parts))
    }
    // a FRESH path makes every mode the same honest operation — the
    // bootstrap commit. This is what lets `df.write.format("graft-tx")
    // .saveAsTable(t)` create a table: Spark's CTAS command hands the
    // new-table write SaveMode.Overwrite (and plain save() defaults to
    // ErrorIfExists), both meaning "create" when nothing exists yet.
    val fresh = TxTable.latestVersion(spark, path) == 0L
    mode match {
      case _ if fresh => doUpsert()
      case SaveMode.Append => doUpsert()
      case SaveMode.Ignore => () // the documented contract: leave as-is
      case SaveMode.ErrorIfExists =>
        throw new IllegalArgumentException(
          s"graft-tx: $path already holds a committed TxTable " +
            "(SaveMode.ErrorIfExists)")
      case other =>
        throw new UnsupportedOperationException(
          s"graft-tx supports SaveMode.Append (keyed upsert) on an " +
            s"existing table, got $other — overwrite has no one honest " +
            "transactional meaning (TxTable.replaceWindow is the scoped form)")
    }
    TxRelation(spark, path, parts, None)
  }
}

private[io] case class TxRelation(
    spark: SparkSession, path: String,
    partCols: Seq[String], versionAsOf: Option[Long],
    providedSchema: Option[StructType] = None,
    keyOpt: Option[String] = None, verOpt: Option[String] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** `INSERT INTO <view/table>` — a keyed latest-wins UPSERT (the only
    * honest INSERT on a keyed table: a blind append would duplicate
    * keys and break every reader's one-row-per-key expectation; the
    * reference's loader spells the same operation ON CONFLICT DO
    * UPDATE). Key and version come from the table's `_meta` record —
    * a table bootstrapped by a keyed verb is fully self-describing.
    * The analyzer aligns INSERT data by POSITION (and casts), so the
    * frame is renamed to the table's column names before the by-name
    * merge. A consequence worth stating plainly: an inserted row whose
    * `_meta` version column orders BELOW the table's existing row for
    * the same key LOSES the latest-wins merge — the INSERT succeeds but
    * that row changes nothing (exactly `ON CONFLICT DO UPDATE WHERE
    * excluded.version > current.version` semantics; replaying old data
    * into a newer table is a no-op BY DESIGN, it is what makes the
    * sink idempotent under at-least-once delivery). Callers that need
    * append-blind history keep a version column that always advances
    * (ingest time, commit sequence). INSERT OVERWRITE refuses:
    * overwrite has no one honest transactional meaning here
    * (replaceWindow is the scoped form). */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(!overwrite,
      "graft-tx INSERT OVERWRITE is not supported — use " +
        "TxTable.replaceWindow for scoped recomputes")
    require(versionAsOf.isEmpty,
      "INSERT into a versionAsOf (time travel) view is not allowed")
    require(partCols.nonEmpty,
      "INSERT INTO a graft-tx table needs its partition columns " +
        "recorded in _meta (commit once through a write verb)")
    val id = TxTable.identityOf(spark, path) // one _meta read for both
    // _meta is the authority; the relation's own key/version OPTIONS
    // (a schema-ful CREATE's) stand in before the first commit, which
    // is what lets INSERT bootstrap a declared-but-empty table
    val key = id.flatMap(_._2).orElse(keyOpt).getOrElse(
      throw new IllegalArgumentException(
        "INSERT INTO a graft-tx table needs its merge key recorded in " +
          "_meta or the 'key' option — bootstrap through a keyed verb, " +
          "or use df.write.format(\"graft-tx\") with explicit options"))
    val version = id.flatMap(_._3).orElse(verOpt).getOrElse(
      throw new IllegalArgumentException(
        "INSERT INTO a graft-tx table needs its version column recorded " +
          "in _meta or the 'version' option — bootstrap through upsert, " +
          "or use df.write.format(\"graft-tx\") with explicit options"))
    TxTable.upsert(spark, path,
      data.toDF(schema.fieldNames.toIndexedSeq: _*),
      key, version, PartitionSpec(partCols))
  }

  override def sqlContext: SQLContext = spark.sqlContext

  // buildScan hands back the INNER plan's InternalRows directly — no
  // per-row Row conversion (the JDBC-relation discipline)
  override val needConversion: Boolean = false

  private def snap: DataFrame = versionAsOf match {
    case Some(v) => TxTable.snapshotAt(spark, path, v).getOrElse(
      throw new IllegalArgumentException(
        s"graft-tx: version $v of $path is not readable (vacuumed, never committed " +
          "or without live partitions)"))
    case None => TxTable.snapshot(spark, path).getOrElse {
      // a declared-but-empty table (schema-ful CREATE before the first
      // commit, or a table whose every row was deleted) reads as zero
      // rows of the declared schema — never as an error
      providedSchema.map(s =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s))
        .getOrElse(throw new IllegalArgumentException(
          s"graft-tx: $path holds no committed TxTable"))
    }
  }

  // the snapshot's manifest-recorded schema, resolved on FIRST ACCESS
  // (manifest I/O only, no footer read). Lazy, not eager: the write path returns
  // this relation after an append, and an EMPTY append to a fresh path
  // is a documented no-op that must not crash on "no committed
  // TxTable" just because the relation was constructed. When BOTH a
  // snapshot and a catalog-provided schema exist, the snapshot is the
  // authority and the two must agree (names + types, nullability
  // aside) — the check Spark's RelationProvider path performs, kept
  // through the SchemaRelationProvider seam.
  override lazy val schema: StructType = {
    val actual = snap.schema
    for (declared <- providedSchema if TxTable.latestVersion(spark, path) > 0) {
      def shape(s: StructType): Seq[(String, String)] =
        s.fields.toSeq.map(f => (f.name.toLowerCase, f.dataType.simpleString))
      require(shape(actual) == shape(declared),
        s"graft-tx: the declared schema of $path " +
          s"(${declared.simpleString}) does not match the table's " +
          s"committed schema (${actual.simpleString}) — evolve cataloged " +
          "tables through ALTER TABLE ADD COLUMNS, which commits both sides")
    }
    actual
  }

  // Spark re-applies EVERY predicate above this scan: pushdown here is
  // a cost optimization (manifest pruning + inner parquet skipping),
  // never a correctness contract
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(
      requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    // manifest pruning: the AND of the exactly-translatable filters
    // that reference ONLY partition columns. Dropping an untranslatable
    // conjunct at this top level only WEAKENS the predicate (reads a
    // superset — safe); inside a translated filter the conversion is
    // exact, so a Not can never widen into wrongness.
    val prunable = filters.toSeq
      .filter(f => f.references.nonEmpty && f.references.forall(partCols.contains))
      .flatMap(TxRelation.translate)
    val base =
      if (prunable.isEmpty || partCols.isEmpty || versionAsOf.isDefined) snap
      else TxTable.snapshotWhere(spark, path, PartitionSpec(partCols),
        prunable.reduce(_ && _)).getOrElse(snap.limit(0))
    // re-apply every translatable filter INSIDE the inner scan so the
    // parquet reader's row-group stats / blooms / dictionary filters
    // see them (the outer re-application catches whatever remains)
    val filtered = filters.toSeq.flatMap(TxRelation.translate)
      .foldLeft(base)(_ filter _)
    filtered.select(requiredColumns.toIndexedSeq.map(col): _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** The batch change-feed relation behind `option("changesFrom", v)`:
  * [[TxTable.changes]] over (fromV, toV] — [[TxStreamSource]]'s
  * emission as a batch read, for consumers (audits, downstream batch
  * ETL) that want a version range rather than a running stream. No
  * filter pushdown — the frame is change-volume-sized by construction
  * and Spark evaluates predicates on top. */
private[io] case class TxChangesRelation(
    spark: SparkSession, path: String, key: String,
    fromV: Long, toV: Long)
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = spark.sqlContext
  override val needConversion: Boolean = false

  private lazy val frame: DataFrame = TxTable.changes(spark, path, key, fromV, toV)

  override lazy val schema: StructType = frame.schema

  override def buildScan(): RDD[Row] =
    frame.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

private[io] object TxRelation {

  /** Exact source-Filter → Column translation: None when any part of
    * the tree has no engine spelling (an And is NOT weakened here —
    * weakening must only ever happen at buildScan's top level, where
    * dropping a conjunct reads a superset; inside a Not it would read
    * the wrong rows). */
  private[io] def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case Not(c) => translate(c).map(!_)
    case And(l, r) => for { a <- translate(l); b <- translate(r) } yield a && b
    case Or(l, r) => for { a <- translate(l); b <- translate(r) } yield a || b
    case _ => None
  }
}
