package graft.io

import java.io.FileNotFoundException
import java.util.UUID

import graft.functions.Param
import graft.ops.Merge
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionPath, PartitionSpec => FilePartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** The column(s) a [[TxTable]] is partitioned by. Real fact tables
  * partition by more than one column — (date_id, source_id), (date,
  * hour) — and every TxTable operation accepts either form through the
  * implicit conversions here: existing single-column call sites
  * (`partitionCol = "date_id"`) compile unchanged, multi-column tables
  * pass `Seq("date_id", "source_id")`. One manifest key is derived per
  * distinct column-value TUPLE (see TxTable's keyExpr), and manifest
  * entries carry the tuple's per-column values so exact-value and
  * predicate pruning work across all partition columns. */
final case class PartitionSpec(cols: Seq[String]) {
  require(cols.nonEmpty, "a TxTable needs at least one partition column")
  require(cols.distinct.size == cols.size,
    s"duplicate partition columns: ${cols.mkString(", ")}")
}

object PartitionSpec {
  import scala.language.implicitConversions
  implicit def one(c: String): PartitionSpec = PartitionSpec(Seq(c))
  implicit def many(cs: Seq[String]): PartitionSpec = PartitionSpec(cs)
}

/** Minimal optimistic-concurrency commit protocol for a partitioned
  * parquet table — the warehouse's one storage path (FactPipeline's
  * hourly tables included), multi-writer safe (reference semantics:
  * the per-statement atomicity of `INSERT … ON CONFLICT DO UPDATE`,
  * /root/reference/dags/etl/fact_gold_price.py:169-196 — two hourly
  * tasks landing distinct batches never lose each other's rows).
  *
  * ==Why a plain partitioned writer can't be made safe==
  *
  * A hive-layout upsert is read-merge-overwrite against the live
  * partition directories: a second writer committing inside the
  * first's read→write window is clobbered at partition granularity
  * (a lost update), and a concurrent reader can observe a
  * half-replaced directory. Both failures come from the same root —
  * the directory tree IS the table state, so there is no commit point.
  * The fix is the one every transactional table format (public
  * Delta/Iceberg design) uses: make state a VERSIONED MANIFEST
  * published by an atomic primitive, and make data files immutable.
  *
  * ==Layout==
  *
  * {{{
  *   targetDir/
  *     _graft_log/v00000000000000000001     # version slot (see CommitStore)
  *     data/<uuid>/__p=<key>/part-*.parquet # immutable; one leaf per (commit, touched partition)
  * }}}
  *
  * A manifest maps each partition KEY to the single data leaf holding
  * its current rows (the leaf written by the commit that last touched
  * it). The key is md5 of the partition value's Spark string cast
  * (NULL → the literal `NULL` — md5 is 32 hex chars, no collision),
  * computed ONLY as a Spark expression on the incoming batch — there
  * is no driver-side toString anywhere, so engine and manifest can
  * never disagree on a value's identity — and the key doubles as a
  * filesystem-safe directory name (hive escaping is the identity on
  * hex), which is where keyed reads of existing rows take it from
  * instead of re-hashing them. Staging is therefore ONE partitionBy job
  * whatever the touched-partition count — a backfill touching 500
  * partitions costs one write, not 500 driver-sequential jobs. Data
  * files keep the partition column as an ordinary column —
  * manifest-level pruning replaces hive directory pruning, exactly the
  * move the real table formats made, and it prunes through the SAME
  * O(touched-partitions) path at 100 TB: a snapshot read of k
  * partitions opens k leaf directories, never lists the table
  * ([[snapshotPartitions]] is that read).
  *
  * ==Manifest bodies: deltas + periodic checkpoints==
  *
  * A body is either a CHECKPOINT (the full key→leaf map) or a DELTA
  * (only the entries this commit touched), marked by a `#\tkind`
  * header line. Version 1 and every `spark.graft.tx.checkpointInterval`-th
  * version (default 10) is a checkpoint; everything else is a delta.
  * So a 1-key commit on a 10k-partition table writes O(touched)
  * manifest bytes, not O(table) — the Delta/Iceberg log-compaction
  * move — and the full-map write is amortized 1/interval. Resolving a
  * snapshot walks back at most `interval` bodies to the nearest
  * checkpoint and folds the deltas forward. This is the one format:
  * every data entry carries its partition value, and a body without a
  * header, a checkpoint without a schema or a data entry without a
  * value is refused (`IllegalStateException` naming the table and
  * version) — tables written before those fields are not readable.
  *
  * ==Commit protocol (optimistic CAS, no locks)==
  *
  * Every verb that stages data publishes through ONE private
  * `commit(op, spec, …)(stage)` (the Delta Lake shape: every write is
  * one optimistic transaction), on the one retry loop every CAS publish
  * shares ([[CommitStore.retrying]]). Per attempt:
  *
  *  1. read the latest manifest version v (0 = empty table), its
  *     resolved entries and its recorded schema, and re-verify the
  *     table's partition spec against `_meta`;
  *  2. the verb's `stage` says what to write from THAT snapshot — a
  *     merged, filtered or rewritten frame of the touched partitions
  *     (immutable files: a concurrent commit cannot tear this read),
  *     or nothing;
  *  3. the frame is staged in ONE job under a fresh `data/<uuid>` dir
  *     (all the expensive work happens outside any critical region);
  *     rewritten partitions that staged no rows are tombstoned;
  *  4. manifest v+1 publishes through [[CommitStore]] — an
  *     ATOMIC-EXCLUSIVE primitive per storage class (local symlink,
  *     HDFS rename-without-overwrite; see CommitStore's scaladoc).
  *     Success = the commit point. Failure = someone else committed
  *     v+1 since step 1: delete the staged dir and RETRY FROM STEP 1,
  *     so the loser's rows land on top of the winner's instead of over
  *     them. First-committer-wins, losers re-stage — lost updates are
  *     impossible by construction.
  *
  * Readers resolve the latest manifest and read immutable files: every
  * read is a consistent snapshot, torn reads are gone too. Files
  * superseded by later commits stay on disk for in-flight readers
  * (and as time travel) until [[vacuum]] — which is retention-windowed,
  * so it can run concurrently with snapshot readers of recent versions
  * and with in-flight writers (grace period on staged dirs). All data-
  * file I/O goes through the Hadoop FileSystem API, so the table works
  * on any Spark-reachable store whose CommitStore primitive holds.
  *
  * ==Schema evolution==
  *
  * A commit may carry a WIDENED schema (new columns): the merge aligns
  * both sides by nulling each side's missing columns (the
  * ops/SchemaEvolution discipline applied across versions). The log
  * records the table schema (the Delta/Iceberg schema-in-the-log
  * move): every checkpoint carries it, and a delta carries it only
  * when the commit changes it, so a version's schema is the newest one
  * on its walk back to the checkpoint. Every read passes it to the
  * parquet scan EXPLICITLY — pre-evolution leaves null-pad their
  * missing columns with no footer-merge pass; snapshots of old
  * versions read that version's recorded shape, and [[diff]] across
  * the evolution commit aligns its two sides the same way. A
  * never-committed table's schema is the empty struct.
  */
object TxTable {

  private[io] val LogDir = "_graft_log"
  private val DataDir = "data"
  private val PKey = "__p" // internal partition-key column, dropped by partitionBy
  private val Header = "#" // manifest body header marker (first tab field)
  // delta-entry value marking a partition REMOVED (a delete emptied it):
  // applying the delta drops the key instead of remapping it. Checkpoints
  // never carry tombstones — a removed key is simply absent there.
  private val Tombstone = "-"

  /** Engine-canonical partition key: evaluated only inside Spark, never
    * re-derived on the driver. Single column keeps the original
    * encoding (md5 of the string cast, literal `NULL` for null) so
    * existing tables stay readable; a multi-column tuple is md5 of a
    * canonical per-column token list — `N` for null, `V<hex of the
    * UTF-8 string cast>` otherwise, joined with `,` — the hex armor
    * keeps the token alphabet disjoint from the joiner, so distinct
    * tuples can never encode to the same key. */
  private def keyExprVals(vals: Seq[Column]): Column = vals match {
    case Seq(one) =>
      when(one.isNull, lit("NULL")).otherwise(md5(one.cast("string")))
    case many =>
      md5(concat_ws(",", many.map(c =>
        when(c.isNull, lit("N"))
          .otherwise(concat(lit("V"), hex(encode(c.cast("string"), "UTF-8"))))): _*))
  }

  private def keyExpr(spec: PartitionSpec): Column =
    keyExprVals(spec.cols.map(col))

  /** A driver-resident frame over `rows`: a deterministic projection or
    * filter on it is folded by Catalyst (ConvertToLocalRelation), so
    * collecting it evaluates the expressions on the driver and launches
    * no Spark job — where `spark.range(1)` or a parallelized RDD runs
    * one per call. */
  private def localFrame(
      spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def checkpointInterval(spark: SparkSession): Int =
    spark.conf.get("spark.graft.tx.checkpointInterval", "10").toInt

  private[io] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** One manifest entry: the data leaf holding the partition's current
    * rows, plus the partition VALUE it stands for — the value's
    * engine-computed string cast, hex-armored for TSV safety (`N` = SQL
    * NULL, `V<hex>` otherwise). The value is what makes PREDICATE
    * pruning possible ([[snapshotWhere]]): md5 keys alone can only
    * serve exact value lists, the Delta/Iceberg lesson being that the
    * manifest must carry values to prune ranges. A tombstone carries no
    * value (`vhex` empty). */
  private case class Entry(leaf: String, vhex: String)

  private def hexOf(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).map("%02x".format(_)).mkString

  private def unhex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      java.nio.charset.StandardCharsets.UTF_8)

  private[io] def vhexOf(engineString: String): String =
    if (engineString == null) "N" else "V" + hexOf(engineString)

  private[io] def vdecode(f: String): String = if (f == "N") null else unhex(f.drop(1))

  /** Multi-column value field: per-column vhex tokens joined with ","
    * (the token alphabet is hex + N/V — never a comma), so a 1-column
    * field is byte-identical to the pre-multi format. */
  private def vhexJoin(vals: Seq[String]): String = vals.map(vhexOf).mkString(",")

  private def vhexSplit(field: String): Seq[String] =
    field.split(",", -1).toSeq.map(vdecode)

  /** A keyed batch: the incoming rows plus the key column, the touched
    * key → partition-value map the manifest entries carry (the value
    * strings are the ENGINE's casts, never a driver toString) and the
    * row count. */
  private case class Batch(rows: DataFrame, touched: Map[String, String], count: Long) {
    def keys: IndexedSeq[String] = touched.keys.toIndexedSeq
  }

  /** The one pass every batch-staging verb pays: ONE Spark job, a
    * Dataset action over the batch (materializing it when it is a lazy
    * checkpoint, see [[pinned]]), collects each task's distinct (key,
    * values) with its row count — O(touched partitions × tasks) to the
    * driver, no exchange. The batch's own exchanges (if any) run as they
    * would under any action. */
  private def keyedBatch(incoming: DataFrame, spec: PartitionSpec): Batch = {
    val rows = incoming.withColumn(PKey, keyExpr(spec))
    val perTask = rows
      .select(col(PKey) +: spec.cols.map(c => col(c).cast("string")): _*)
      .mapPartitions { it =>
        val seen = scala.collection.mutable.HashMap.empty[String, (String, Long)]
        it.foreach { r =>
          val k = r.getString(0)
          seen(k) = seen.get(k) match {
            case Some((v, n)) => (v, n + 1)
            case None => (vhexJoin((1 until r.length).map(r.getString)), 1L)
          }
        }
        seen.iterator.map { case (k, (v, n)) => (k, v, n) }
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong))
      .collect()
    Batch(rows, perTask.map(t => t._1 -> t._2).toMap, perTask.map(_._3).sum)
  }

  /** `df` held stable across CAS retries: a lazy local checkpoint (the
    * batch pass materializes it), unless `df` is already stable — it
    * reads a persisted RDD, as a checkpoint does, or it is local rows
    * (`createDataFrame(rows, schema)`, a `LocalRelation`), whose rows
    * live in the plan: a caller that audits its batch on the driver
    * before writing it (FactPipeline's window) persists nothing. A frame
    * over an unpersisted RDD (`createDataFrame(rdd, …)`) is pinned. */
  private def pinned(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case l: LogicalRDD if l.rdd.getStorageLevel != StorageLevel.NONE => df
    case _: LocalRelation => df
    case _ => df.localCheckpoint(eager = false)
  }

  /** A parsed manifest body: checkpoint or delta, the hex-armored table
    * schema its header records (always present on a checkpoint) and its
    * entries. */
  private case class Body(
      checkpoint: Boolean, schemaHex: Option[String], entries: Map[String, Entry])

  private def refuse(dir: String, v: Long, what: String): Nothing =
    throw new IllegalStateException(s"TxTable $dir: manifest version $v $what")

  /** The kind field of a body's `#\tkind[\tschema]` header. */
  private def kindOf(dir: String, v: Long, lines: Seq[String]): String =
    headerOf(dir, v, lines)(1)

  private def headerOf(dir: String, v: Long, lines: Seq[String]): Array[String] =
    lines.headOption.filter(_.startsWith(Header + "\t")).map(_.split('\t'))
      .getOrElse(refuse(dir, v, "has no header"))

  private def parse(dir: String, v: Long, lines: Seq[String]): Body = {
    val h = headerOf(dir, v, lines)
    if (h(1) == "checkpoint" && h.length < 3)
      refuse(dir, v, "is a checkpoint without a schema")
    Body(h(1) == "checkpoint", h.lift(2), lines.tail.map { line =>
      line.split('\t') match {
        case Array(k, Tombstone) => k -> Entry(Tombstone, "")
        case Array(k, d, x) => k -> Entry(d, x)
        case Array(k, _) => refuse(dir, v, s"has a data entry without a value (key $k)")
        case other => refuse(dir, v, s"has a corrupt line: ${other.mkString("|")}")
      }
    }.toMap)
  }

  // ---- manifest-carried table schema ---------------------------------
  // Checkpoints carry the POST-commit table schema as the third header
  // field (hex-armored StructType JSON — the Delta/Iceberg
  // schema-in-the-log move); a delta carries it only when its commit
  // changes it, so deltas stay O(touched) bytes. Readers pass the
  // schema to the parquet scan EXPLICITLY instead of merging the
  // leaves' footers: on a 100 TB table that footer merge is a whole
  // Spark job per snapshot/merge/diff read. Missing columns in
  // pre-evolution leaves null-pad under an explicit schema.

  /** Deep nullability widening: a stored schema must accept any leaf —
    * including pre-evolution leaves where the column is wholly absent
    * (null-padded at read) — so every field reads as optional. Values
    * are unaffected; this only widens what the reader will accept. */
  private def nullableDeep(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullableDeep(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = nullableDeep(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = nullableDeep(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Post-commit table schema: previous fields keep their slot (and
    * their type — the owning-side rule alignSchemas applies per read),
    * staged-new fields append in commit order. Matches the union a
    * footer-merging read resolves over the same leaves.
    *
    * Evolution is ADD-ONLY: a staged batch re-writing an existing
    * column under a DIFFERENT type refuses loudly here, at commit time
    * — silently keeping the recorded type would make every later
    * explicit-schema read decode the new leaves' pages under the wrong
    * type (nullability differences are not a type change: staged
    * schemas are widened nullable by stagedSchemaOf). */
  private def unionSchema(prev: StructType, staged: StructType): StructType = {
    val byName = prev.fields.map(f => f.name -> f.dataType).toMap
    staged.fields.foreach { f =>
      byName.get(f.name).foreach { t =>
        require(t.catalogString == f.dataType.catalogString,
          s"graft-tx schema evolution is add-only: column '${f.name}' is " +
            s"${t.catalogString} but the staged batch writes " +
            s"${f.dataType.catalogString} — cast upstream")
      }
    }
    StructType(prev.fields ++ staged.fields.filterNot(f => byName.contains(f.name)))
  }

  /** The staged frame's table-schema contribution: the written files
    * drop PKey (it becomes the leaf directory name), widened nullable
    * so any leaf mix reads under it. */
  private def stagedSchemaOf(df: DataFrame): StructType =
    nullableDeep(StructType(df.schema.fields.filterNot(_.name == PKey)))
      .asInstanceOf[StructType]

  private def render(
      kind: String, entries: Map[String, Entry],
      schema: Option[StructType]): Seq[String] =
    (s"$Header\t$kind" + schema.fold("")(s => s"\t${hexOf(s.json)}")) +:
      entries.toSeq.sortBy(_._1).map { case (k, e) =>
        s"$k\t${e.leaf}" + (if (e.vhex.isEmpty) "" else s"\t${e.vhex}")
      }

  /** Fold one delta over a base map: remapped keys overwrite,
    * tombstoned keys drop. */
  private def applyDelta(
      base: Map[String, Entry], delta: Map[String, Entry]): Map[String, Entry] = {
    val (dead, live) = delta.partition(_._2.leaf == Tombstone)
    base ++ live -- dead.keys
  }

  /** A resolved version: its full key→entry map and the table schema in
    * force there. */
  private case class Tip(v: Long, entries: Map[String, Entry], schema: StructType)

  /** Resolve `version` in ONE walk back to the nearest checkpoint (≤
    * interval bodies): the deltas fold forward over the checkpoint's
    * map, and the schema is the newest one recorded on the walk.
    * `top` is the version's body when the caller already holds it.
    * None if any body on the chain was vacuumed or the version was
    * never committed; the empty table (empty struct) at 0. */
  private def resolveAt(
      store: CommitStore, dir: String, version: Long,
      top: Option[Seq[String]] = None): Option[Tip] = {
    if (version <= 0) return Some(Tip(0L, Map.empty, StructType(Nil)))
    var deltas = List.empty[Map[String, Entry]] // ascending version order
    var schemaHex = Option.empty[String]
    var cur = version
    while (cur >= 1) {
      top.filter(_ => cur == version).orElse(store.at(s"$dir/$LogDir", cur)) match {
        case None => return None
        case Some(lines) =>
          val body = parse(dir, cur, lines)
          schemaHex = schemaHex.orElse(body.schemaHex)
          if (body.checkpoint)
            return Some(Tip(version, deltas.foldLeft(body.entries)(applyDelta),
              org.apache.spark.sql.types.DataType.fromJson(unhex(schemaHex.get))
                .asInstanceOf[StructType]))
          deltas = body.entries :: deltas
          cur -= 1
      }
    }
    None // walked below version 1 without meeting a checkpoint
  }

  /** Latest committed version alone — no manifest resolution (the
    * change-feed's cursor probe; a poll must not pay a map fold). */
  def latestVersion(spark: SparkSession, dir: String): Long = {
    val log = s"$dir/$LogDir"
    CommitStore.forPath(fsOf(spark, dir), log).latest(log)._1
  }

  /** Publish an EMPTY commit — a write barrier: wins a version in the
    * data log without changing the table (an empty delta folds to a
    * no-op; readers, the change feed and the stream source all see a
    * zero-row commit). Constraint ADD uses it to serialize against
    * in-flight writers: a commit landing a slot AFTER the barrier
    * provably read the data tip — and therefore probed the constraint
    * log — after the barrier was taken ([[TxConstraints]] scaladoc).
    * Returns the barrier's version. */
  private[io] def barrierCommit(spark: SparkSession, dir: String): Long = {
    val log = s"$dir/$LogDir"
    val store = CommitStore.forPath(fsOf(spark, dir), log)
    CommitStore.retrying(store, log, "TxTable.barrierCommit", dir) {
      val (v, lines) = store.latest(log)
      val next = v + 1
      // respect the checkpoint cadence — a slot on the cadence must
      // carry the full folded map and the schema, or later resolves
      // walk past it
      val body =
        if (next == 1 || next % checkpointInterval(spark) == 0) {
          val t = resolveAt(store, dir, v, Some(lines)).getOrElse(
            throw new IllegalStateException(s"manifest chain for version $v is broken"))
          render("checkpoint", t.entries, Some(t.schema))
        } else render("delta", Map.empty, None) // unchanged: walk-back finds it
      Right(CommitStore.Publish(next, body, next))
    }
  }

  /** The partition columns recorded in the table's `_meta` slot — None
    * for tables created before the slot existed (or whose first commit
    * raced a filesystem that refused the create). The names are
    * hex-armored on disk (vhex), so any legal column name round-trips. */
  def partitionColumnsOf(spark: SparkSession, dir: String): Option[Seq[String]] =
    readMetaAll(fsOf(spark, dir), dir).map(_.partCols)

  /** One-read view of the whole `_meta` identity record:
    * (partitionColumns, mergeKey, versionColumn) — for callers that
    * need several fields (the self-describing format paths), so the
    * slot is opened once instead of once per field. */
  private[io] def identityOf(spark: SparkSession, dir: String)
      : Option[(Seq[String], Option[String], Option[String])] =
    readMetaAll(fsOf(spark, dir), dir)
      .map(m => (m.partCols, m.key, m.version))

  /** The merge-key column recorded in `_meta` — the table's row
    * identity, recorded write-once by the first committing verb that
    * knows it (upsert/merge/delete/applyCdc and the streaming sink).
    * None on pre-record tables or tables bootstrapped by a keyless
    * verb (replaceWindow). Self-describing consumers (INSERT INTO, the
    * change-feed source, option-less format writes) default to it. */
  def mergeKeyOf(spark: SparkSession, dir: String): Option[String] =
    readMetaAll(fsOf(spark, dir), dir).flatMap(_.key)

  /** The version (ordering) column recorded in `_meta` — which row
    * wins inside latest-wins merges. Recorded by upsert-family verbs
    * only: merge/delete order by clause semantics, not a column. */
  def versionColumnOf(spark: SparkSession, dir: String): Option[String] =
    readMetaAll(fsOf(spark, dir), dir).flatMap(_.version)

  private def metaPath(dir: String): Path =
    new Path(s"$dir/$LogDir/${CommitStore.MetaFile}")

  /** Everything the `_meta` slot records. The slot is line-oriented
    * `field\tvhex(value)` — readers scan for the fields they know, so
    * adding a field never breaks an older reader (it simply doesn't
    * look for it) and older slots read as None for the newer fields. */
  private case class TableMeta(
      partCols: Seq[String], key: Option[String], version: Option[String],
      specPending: Boolean = false, specSince: Option[Long] = None)

  private def readMetaAll(fs: FileSystem, dir: String): Option[TableMeta] = {
    val p = metaPath(dir)
    try {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      def field(name: String): Option[String] =
        body.linesIterator.map(_.trim).find(_.startsWith(name + "\t"))
          .map(_.split('\t')(1))
      field("partitionColumns").map { parts =>
        TableMeta(vhexSplit(parts),
          field("mergeKey").map(vdecode),
          field("versionColumn").map(vdecode),
          field("specPending").contains("1"),
          field("specSince").flatMap(_.toLongOption))
      }
    } catch { case _: java.io.IOException => None } // advisory slot
  }

  /** Overwrite the `_meta` slot — ONLY [[repartitionTable]] does this
    * (the slot is otherwise create-once): first to the transitional
    * record (new spec + specPending, which refuses writers and disables
    * manifest pruning until the re-keyed manifest lands), then to the
    * final record. */
  private def writeMeta(
      fs: FileSystem, dir: String, partCols: Seq[String],
      key: Option[String], version: Option[String],
      specPending: Boolean, specSince: Option[Long] = None): Unit = {
    val body = s"partitionColumns\t${vhexJoin(partCols)}\n" +
      key.fold("")(k => s"mergeKey\t${vhexOf(k)}\n") +
      version.fold("")(v => s"versionColumn\t${vhexOf(v)}\n") +
      (if (specPending) "specPending\t1\n" else "") +
      specSince.fold("")(v => s"specSince\t$v\n")
    val out = fs.create(metaPath(dir), true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Enforce (and on first contact record) the table's partition spec:
    * a writer whose `spec` disagrees with the recorded columns would
    * derive DIFFERENT manifest keys for the same rows — the table
    * double-keys and every read duplicates — so the mismatch must fail
    * loudly at commit time, not surface as wrong rows later. The slot
    * is create-if-absent: a racing second creator re-reads and
    * verifies; an FS that refuses the write degrades to the pre-slot
    * behavior (no enforcement), never to a failed commit. */
  private def ensureSpec(
      fs: FileSystem, dir: String, spec: PartitionSpec,
      key: Option[String] = None, version: Option[String] = None): Unit = {
    def verify(meta: TableMeta, note: String): Unit = {
      // a half-done partition respec (crash between the transitional
      // _meta and the re-keyed manifest commit) must refuse writers:
      // a commit keyed on EITHER spec against the mixed state would
      // double-key or split row identities
      require(!meta.specPending,
        s"TxTable $dir has a partition respec in progress (specPending) — " +
          s"rerun repartitionTable(${meta.partCols.mkString("(", ", ", ")")}) " +
          "to complete it before writing")
      require(meta.partCols == spec.cols,
        s"TxTable $dir is partitioned by ${meta.partCols.mkString("(", ", ", ")")} " +
          s"but this writer passed ${spec.cols.mkString("(", ", ", ")")}$note — " +
          "a mismatched spec would double-key the table")
      // the recorded merge key is the table's ROW IDENTITY: a writer
      // merging on a different column silently violates every reader's
      // latest-wins expectation (and the change feed's key), so the
      // mismatch fails at commit time like the partition spec does
      // case-insensitive like the engine's own column resolution (the
      // write verbs resolve these names through Spark's resolver)
      for (k <- key; rk <- meta.key)
        require(rk.equalsIgnoreCase(k), s"TxTable $dir is keyed by '$rk' " +
          s"but this writer merges on '$k'$note — one table, one row identity")
      for (v <- version; rv <- meta.version)
        require(rv.equalsIgnoreCase(v), s"TxTable $dir orders versions by " +
          s"'$rv' but this writer passed '$v'$note — one table, one version order")
    }
    readMetaAll(fs, dir) match {
      case Some(meta) => verify(meta, "")
      case None =>
        val body = s"partitionColumns\t${vhexJoin(spec.cols)}\n" +
          key.fold("")(k => s"mergeKey\t${vhexOf(k)}\n") +
          version.fold("")(v => s"versionColumn\t${vhexOf(v)}\n")
        try {
          val out = fs.create(metaPath(dir), false)
          try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          // re-read-and-verify after a SUCCESSFUL create too:
          // create(overwrite=false) is check-then-create on local and
          // most object-store FSs, so two racing first writers with
          // different specs can both slip past the check — whichever
          // content actually landed is the table's record, and a writer
          // whose record lost that race must fail here, not double-key
          readMetaAll(fs, dir).foreach(verify(_,
            " (a racing first writer recorded a different value)"))
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException =>
            readMetaAll(fs, dir).foreach(verify(_, ""))
          case _: java.io.IOException => () // advisory: never fail a commit over it
        }
    }
  }

  /** The latest [[Tip]], resolved from the tip body `latest` already
    * read. */
  private def latestEntries(spark: SparkSession, dir: String): Tip = {
    val log = s"$dir/$LogDir"
    val store = CommitStore.forPath(fsOf(spark, dir), log)
    val (v, lines) = store.latest(log)
    resolveAt(store, dir, v, Some(lines)).getOrElse(throw new IllegalStateException(
      s"manifest chain for version $v is broken (concurrent unsafe vacuum?)"))
  }

  /** The latest version and the table schema recorded there (the empty
    * struct on a never-committed table) — manifest I/O only. */
  private[io] def latestSchema(spark: SparkSession, dir: String): (Long, StructType) = {
    val t = latestEntries(spark, dir)
    (t.v, t.schema)
  }

  /** Latest committed (version, full partition → data dir map).
    * (0, empty) on a fresh table. */
  def latest(spark: SparkSession, dir: String): (Long, Map[String, String]) = {
    val Tip(v, entries, _) = latestEntries(spark, dir)
    (v, entries.map { case (k, e) => k -> e.leaf })
  }

  // ---- reads ---------------------------------------------------------

  /** The table's current committed state as one consistent snapshot
    * (empty option on a never-committed table). */
  def snapshot(spark: SparkSession, dir: String): Option[DataFrame] = {
    val Tip(_, entries, schema) = latestEntries(spark, dir)
    if (entries.isEmpty) None
    else Some(read(spark, dir, entries, schema))
  }

  /** Partition-pruned snapshot: only the manifest entries whose
    * partition VALUE is in `values` are read — a k-partition read
    * opens k leaf directories and never lists or plans over the rest
    * of the table (the manifest replaces hive directory pruning).
    * Values are turned into manifest keys by the SAME Spark expression
    * the write side uses, folded on the driver over a one-row local
    * relation ([[localFrame]] — no job, and no driver-side toString,
    * so engine and manifest cannot disagree on identity).
    * None on a never-committed table; an empty frame with the
    * snapshot's schema when no requested partition exists. */
  def snapshotPartitions(
      spark: SparkSession, dir: String, values: Seq[Column]): Option[DataFrame] =
    snapshotPartitionTuples(spark, dir, values.map(Seq(_)))

  /** [[snapshotPartitions]] for multi-column tables: each element of
    * `values` is one partition TUPLE (in the table's partition-column
    * order). A 1-element tuple is exactly the single-column form. */
  def snapshotPartitionTuples(
      spark: SparkSession, dir: String,
      values: Seq[Seq[Column]]): Option[DataFrame] = {
    // arity check against the recorded _meta spec: a wrong-arity tuple
    // (or a single-column call on a multi-column table) computes keys
    // in the WRONG ENCODING and would silently return the empty frame —
    // the same loud failure the write verbs give a mismatched spec
    val recordedMeta = readMetaAll(fsOf(spark, dir), dir)
    // mid-respec the manifest keys may still be the OLD derivation —
    // pruning against them would silently miss rows; read conservatively
    if (recordedMeta.exists(_.specPending)) return snapshot(spark, dir)
    recordedMeta.map(_.partCols).foreach { recorded =>
      values.find(_.size != recorded.size).foreach { bad =>
        throw new IllegalArgumentException(
          s"TxTable $dir is partitioned by ${recorded.mkString("(", ", ", ")")} " +
            s"but this read passed a ${bad.size}-column partition tuple — " +
            "a mismatched spec would double-key the table")
      }
    }
    val Tip(_, entries, schema) = latestEntries(spark, dir)
    if (entries.isEmpty) return None
    val keys = localFrame(spark, Seq(Row.empty), StructType(Nil))
      .select(values.zipWithIndex.map { case (v, i) => keyExprVals(v).as(s"k$i") }: _*)
      .collect().head.toSeq.map(_.asInstanceOf[String]).toSet
    val hit = entries.filter { case (k, _) => keys(k) }
    Some(if (hit.nonEmpty) read(spark, dir, hit, schema) else localFrame(spark, Nil, schema))
  }

  /** The live partition VALUE TUPLES at the current tip, decoded from
    * the manifest alone — zero data I/O (the `SHOW PARTITIONS` face of
    * the manifest, [[graft.io.TxCatalog]] routes the SQL statement
    * here). Tuples are the ENGINE's string casts in `_meta` column
    * order, sorted for stable output. */
  def partitionValues(spark: SparkSession, dir: String): Seq[Seq[String]] =
    latestEntries(spark, dir).entries.values.toSeq
      .map(e => vhexSplit(e.vhex))
      .sortBy(_.mkString("\u0000"))

  /** PREDICATE-pruned snapshot — the range-read the exact-value form
    * above can't serve when the value set isn't enumerable (date
    * ranges, string prefixes): `pred` is evaluated ENGINE-side over a
    * tiny manifest-sized frame of the stored partition values (one
    * string column PER partition column, named after it — Spark's
    * implicit casts make numeric/date comparisons against them
    * behave), and only matching partitions' leaves are read. On a
    * multi-column table the predicate may reference any subset of the
    * partition columns. This is why manifest entries carry the values
    * at all — the Delta/Iceberg lesson that md5 keys alone cannot
    * prune a range. None on a never-committed table. */
  def snapshotWhere(
      spark: SparkSession, dir: String, partitionCol: PartitionSpec,
      pred: Column): Option[DataFrame] = {
    // the predicate is evaluated over a frame whose columns are NAMED
    // from the caller's spec — a spec disagreeing with the recorded
    // one (swapped order, wrong names) would bind the stored values to
    // the wrong columns and prune WRONG (missing rows, not just
    // unpruned) — so the mismatch fails loudly like the write verbs
    val recordedMeta = readMetaAll(fsOf(spark, dir), dir)
    // mid-respec the manifest values may still be the OLD derivation —
    // same-arity respecs would bind them to the wrong columns and prune
    // wrong, so pruning disables until the re-keyed manifest lands
    if (recordedMeta.exists(_.specPending)) return snapshot(spark, dir)
    recordedMeta.map(_.partCols).foreach(recorded =>
      require(recorded == partitionCol.cols,
        s"TxTable $dir is partitioned by ${recorded.mkString("(", ", ", ")")} " +
          s"but this read passed ${partitionCol.cols.mkString("(", ", ", ")")} — " +
          "a mismatched spec would prune on the wrong identity"))
    val Tip(_, entries, schema) = latestEntries(spark, dir)
    if (entries.isEmpty) return None
    val hit = entriesWhere(spark, entries, partitionCol, pred)
    Some(if (hit.nonEmpty) read(spark, dir, hit, schema) else localFrame(spark, Nil, schema))
  }

  /** The manifest-level predicate pruning [[snapshotWhere]] reads
    * through, shared with the `where`-scoped maintenance verbs: the
    * entries whose recorded partition VALUE satisfies `pred`, evaluated
    * ENGINE-side over a manifest-sized [[localFrame]] (one string
    * column per partition column, named after it), so a deterministic
    * predicate runs no job. */
  private def entriesWhere(
      spark: SparkSession, entries: Map[String, Entry],
      spec: PartitionSpec, pred: Column): Map[String, Entry] = {
    val rows = entries.toSeq.map { case (k, e) => Row.fromSeq(k +: vhexSplit(e.vhex)) }
    val schema = StructType(("__k" +: spec.cols).map(StructField(_, StringType)))
    val hitKeys = localFrame(spark, rows, schema)
      .filter(pred)
      .select("__k").collect().map(_.getString(0)).toSet
    entries.filter { case (k, _) => hitKeys(k) }
  }

  /** Time travel: the table exactly as committed at `version`. Data
    * files are immutable and manifests are never rewritten, so every
    * version remains readable until [[vacuum]] reclaims it (None after
    * that, for a version never committed, or, as [[snapshot]] gives,
    * for a version with no live partition). */
  def snapshotAt(spark: SparkSession, dir: String, version: Long): Option[DataFrame] = {
    val log = s"$dir/$LogDir"
    resolveAt(CommitStore.forPath(fsOf(spark, dir), log), dir, version)
      .filter(_.entries.nonEmpty).map(t => read(spark, dir, t.entries, t.schema))
  }

  /** Storage path of a manifest leaf: leaves are normally RELATIVE to
    * the table dir (rename-safe), but a shallow clone's manifest points
    * at the SOURCE table's leaves by qualified absolute path — those
    * pass through untouched. */
  private def leafPath(dir: String, leaf: String): String =
    if (leaf.startsWith("/") || leaf.contains(":/")) leaf else s"$dir/$leaf"

  /** Multi-leaf snapshot read under the version's recorded `schema`. */
  private def read(
      spark: SparkSession, dir: String, entries: Map[String, Entry],
      schema: StructType): DataFrame =
    leafRead(spark, dir, entries.values.map(_.leaf).toSeq, schema)

  /** The one leaf-set scan every read shares: the manifest-carried
    * schema EXPLICITLY (no footer-merge job) — pre-evolution leaves
    * null-pad their missing columns. */
  private def leafRead(
      spark: SparkSession, dir: String, leaves: Seq[String],
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(leaves.distinct.sorted.map(leafPath(dir, _)): _*)

  /** Null-pad each frame with the columns only the other one has (type
    * taken from the owning side) — the cross-version face of
    * ops/SchemaEvolution.ensureColumns. */
  private[graft] def alignSchemas(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    def widen(x: DataFrame, y: DataFrame): DataFrame =
      y.schema.fields.foldLeft(x)((d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType)))
    (widen(a, b), widen(b, a))
  }

  /** Row-level changes between two committed versions — the
    * table-format CDC readout (`table_changes` in the public Delta
    * surface): for each `key`, `insert` (present only at `toVersion`),
    * `delete` (present only at `fromVersion`), or `update` (present in
    * both with any non-key column differing, null-safely; the emitted
    * payload is the NEW row). Unchanged keys emit nothing.
    * `fromVersion = 0` diffs against the empty table (every row an
    * insert) — the change-feed bootstrap.
    *
    * PRUNES AT MANIFEST LEVEL BEFORE TOUCHING A FILE: a partition
    * whose manifest entry is IDENTICAL in both versions points at the
    * same immutable leaf — its rows are bit-for-bit the same, so it
    * cannot contribute a change and neither side reads it. Diffing two
    * adjacent versions of a 100 TB table therefore costs the
    * partitions the intervening commits touched, not the table — the
    * pruning is automatic, not a caller discipline. What remains is
    * one full-outer hash join of the changed-partition row sets. */
  def diff(
      spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long, key: String): DataFrame = {
    val store = CommitStore.forPath(fsOf(spark, dir), s"$dir/$LogDir")
    def resolved(v: Long): Tip = resolveAt(store, dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"version $v of $dir is not readable (vacuumed or never " +
          "committed) — a change-feed consumer below the retention " +
          "floor must re-bootstrap from a snapshot"))
    val (from, to) = (resolved(fromVersion), resolved(toVersion))
    require(from.entries.nonEmpty || to.entries.nonEmpty, "diff between two empty versions")
    val changedKeys = (from.entries.keySet ++ to.entries.keySet)
      .filter(k => from.entries.get(k) != to.entries.get(k)).toSeq
    // each side reads its changed leaves under its version's recorded
    // schema; a side with none is an empty frame of that schema
    def side(t: Tip): DataFrame = {
      val leaves = changedKeys.flatMap(t.entries.get).map(_.leaf)
      if (leaves.isEmpty) localFrame(spark, Nil, t.schema)
      else leafRead(spark, dir, leaves, t.schema)
    }
    val (a, b) = alignSchemas(side(from), side(to))
    val payload = b.columns.filterNot(_ == key).toSeq
    requireUnreserved(payload, "change_type")
    val an = payload.foldLeft(a.select(b.columns.toSeq.map(col): _*))(
        (d, c) => d.withColumnRenamed(c, s"__a_$c"))
      .withColumnRenamed(key, "__a_key")
    val joined = an.join(b, an("__a_key") === b(key), "full_outer")
    val changed = payload
      .map(c => !(col(s"__a_$c") <=> col(c)))
      .reduce(_ || _)
    joined
      .withColumn("change_type",
        when(col("__a_key").isNull, lit("insert"))
          .when(col(key).isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change_type").isNotNull)
      // deletes carry the OLD row (nothing else exists for them);
      // updates/inserts the NEW one — selected by change type, NOT
      // coalesce, which would resurrect an old value behind a
      // legitimately NULLed field
      .select(col("change_type") +:
        when(col("change_type") === "delete", col("__a_key"))
          .otherwise(col(key)).as(key) +:
        payload.map(c =>
          when(col("change_type") === "delete", col(s"__a_$c"))
            .otherwise(col(c)).as(c)): _*)
  }

  /** Refuse a change-feed payload column named like a column the feed
    * injects (`change_type`, `_commit_version`, a consumer's `_op` or
    * `_seq`): the injected values would silently replace the data. */
  private[graft] def requireUnreserved(columns: Seq[String], reserved: String*): Unit = {
    val clash = columns.filter(reserved.contains)
    require(clash.isEmpty, "change-feed payload carries reserved column(s) " +
      s"${clash.mkString(", ")} — rename upstream")
  }

  /** `d` with every row stamped `_commit_version` = `v`, passed as a
    * [[graft.functions.Param]] so every version runs the same generated
    * code. */
  private[io] def stampVersion(d: DataFrame, v: Long): DataFrame = {
    requireUnreserved(d.columns.toSeq, "_commit_version")
    d.withColumn("_commit_version", Param(v))
  }

  /** The change feed over (fromVersion, toVersion]: each commit's
    * [[diff]] stamped with its version, unioned by name; a column a
    * later commit adds is null in the earlier commits' rows. An empty
    * range is an empty frame of the feed's shape
    * ([[TxStreamSource.feedSchema]]). The one reader behind the batch
    * `changesFrom` read, the `graft-tx` stream and
    * [[graft.streaming.TxChangeFeed]]; it costs the partitions the
    * range's commits touched, and a range reaching below the retention
    * floor throws `IllegalArgumentException` as [[diff]] does. */
  private[graft] def changes(
      spark: SparkSession, dir: String, key: String,
      fromVersion: Long, toVersion: Long): DataFrame =
    if (fromVersion >= toVersion)
      localFrame(spark, Nil, TxStreamSource.feedSchema(spark, dir, key))
    else ((fromVersion + 1) to toVersion)
      .map(v => stampVersion(diff(spark, dir, v - 1, v, key), v))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  // ---- transactional upsert -------------------------------------------

  /** Keyed latest-wins upsert with first-committer-wins concurrency:
    * safe for any number of concurrent writers landing DISTINCT
    * batches; a replay of the SAME batch stays idempotent through the
    * keyed merge; a batch carrying SEVERAL versions of one key (a
    * change feed drained in one micro-batch) collapses to the highest
    * `version` per key — on fresh and existing partitions identically;
    * an EMPTY batch is a no-op (no version published) —
    * an hour with zero events must not fail the pipeline. Plan shape:
    * a snapshot-pruned read of the touched partitions, one keyed merge,
    * an O(touched) write, plus one manifest round-trip.
    *
    * @return the batch's row count (counted by the batch's one pass)
    */
  def upsert(
      spark: SparkSession, targetDir: String, incoming: DataFrame,
      key: String, version: String, partitionCol: PartitionSpec,
      layout: Layout = Layout.none): Long =
    mergeCommit(spark, targetDir, incoming, partitionCol, layout,
      "upsert", Some(key), Some(version))(
      (existing, batch) => Merge.upsertLatestWins(existing, batch, key, version))

  /** Replace a predicate-scoped WINDOW of the table — the idempotent
    * write for RECOMPUTE-style loads, CAS-committed: within the
    * batch's touched partitions, existing rows matching `windowPred`
    * are dropped and `incoming` takes their place; rows outside the
    * window and untouched partitions survive untouched. Contract:
    * `windowPred` must be FALSE-or-TRUE on every existing row
    * and `incoming` must lie inside the window. An empty batch is a
    * no-op (nothing to locate the window's partitions by). Returns the
    * batch's row count. */
  def replaceWindow(
      spark: SparkSession, targetDir: String, incoming: DataFrame,
      partitionCol: PartitionSpec, windowPred: org.apache.spark.sql.Column,
      layout: Layout = Layout.none): Long =
    mergeCommit(spark, targetDir, incoming, partitionCol, layout, "replaceWindow")(
      (existing, batch) => existing.filter(!windowPred).unionByName(batch))

  /** Replace the ENTIRE table content as ONE commit — the whole-table
    * form of [[replaceWindow]] (S11's truncate/overwrite family): the
    * committed body is a CHECKPOINT holding exactly the staged
    * partitions, so partitions absent from `incoming` cease to exist at
    * the new version (no per-partition tombstones needed) and a reader
    * sees the old table or the new one, never a mix. Prior versions
    * stay time-travelable until vacuum. An EMPTY `incoming` is the
    * transactional TRUNCATE.
    *
    * Full replacement is a POINT-IN-TIME statement about the table, so
    * a concurrent commit does NOT retry-and-clobber: the CAS is
    * attempted once and a lost race throws — the caller recomputes its
    * replacement against the new tip and reruns (the REPLACE-conflict
    * semantics of the public lake formats). This is the atomic-swap
    * primitive index rebuilds ride (q:x_ann_ivf_refresh): stage the new
    * index in full, land it as one version, queries never observe a
    * half-built index. */
  def replaceAll(
      spark: SparkSession, targetDir: String, incoming: DataFrame,
      partitionCol: PartitionSpec, layout: Layout = Layout.none): Unit = {
    val batch = keyedBatch(pinned(incoming), partitionCol)
    val gate = new TxConstraints.Gate(spark, targetDir, "replaceAll")
    gate.ensure(batch.rows)
    // ONE attempt: a full replacement is point-in-time, so a second
    // stage — the retry after a lost race — refuses instead of
    // re-staging. The stage checks the spec itself, after that refusal
    // (commit's own check would run first and report a respec that won
    // the race as a spec mismatch). An empty batch stages nothing: the
    // truncate's empty checkpoint.
    var staged = false
    commit(spark, targetDir, "replaceAll", None, full = true) { _ =>
      if (staged) throw new IllegalStateException(
        s"TxTable.replaceAll lost to a concurrent commit on $targetDir — " +
          "a full replacement is point-in-time: recompute it against the " +
          "new tip and rerun")
      staged = true
      gate.ensure(batch.rows)
      ensureSpec(fsOf(spark, targetDir), targetDir, partitionCol)
      Some(Stage(batch.rows, batch.keys, batch.touched, layout, batch.touched.size))
    }: Unit
  }

  /** Partition-SPEC evolution — re-key the table on different partition
    * columns: a FULL rows-preserving rewrite landing as one checkpoint
    * commit, with history preserved (old versions stay readable under
    * their old keys; [[diff]] across the rewrite is row-empty because
    * every row survives). The `_meta` record is otherwise immutable
    * ([[ensureSpec]]); this is the one maintenance verb that rewrites
    * it, in two steps with a crash-safe ordering:
    *
    *  1. the TRANSITIONAL record (new columns + `specPending`) lands
    *     first — from that instant writers REFUSE (a commit keyed on
    *     either spec against the mixed state would double-key) and
    *     manifest pruning DISABLES (old-keyed entries would bind their
    *     values to the new column names and prune wrong); full reads
    *     are unaffected, because reading never depends on keys.
    *  2. the snapshot re-stages under the new key derivation and
    *     commits as one checkpoint (CAS loop: a straggler writer that
    *     passed its spec check before step 1 folds in on retry), then
    *     the final record (pending cleared) lands.
    *
    * A crash between the steps leaves the table readable and loudly
    * write-refusing; rerunning `repartitionTable` with the same spec
    * completes the evolution (idempotent). Calling it with the spec the
    * table already has (and no pending respec) is a no-op. */
  def repartitionTable(
      spark: SparkSession, dir: String, newSpec: PartitionSpec,
      layout: Layout = Layout.none): Unit = {
    require(newSpec.cols.nonEmpty, "repartitionTable needs partition columns")
    val fs = fsOf(spark, dir)
    val meta = readMetaAll(fs, dir).getOrElse(throw new IllegalArgumentException(
      s"TxTable $dir records no _meta — commit once through a write verb " +
        "before evolving its partition spec"))
    if (meta.partCols == newSpec.cols && !meta.specPending) return
    require(!meta.specPending || meta.partCols == newSpec.cols,
      s"TxTable $dir has a respec to ${meta.partCols.mkString("(", ", ", ")")} " +
        s"in progress — complete it (rerun with that spec) before evolving to " +
        s"${newSpec.cols.mkString("(", ", ", ")")}")
    // validate the new columns against the current schema before any
    // state changes (an empty table has no rows to re-key — just move
    // the record)
    snapshot(spark, dir) match {
      case None =>
        // no rows to re-key, but HISTORY may hold old-keyed versions —
        // specSince fences restore from crossing back into them
        writeMeta(fs, dir, newSpec.cols, meta.key, meta.version,
          specPending = false, specSince = Some(latestVersion(spark, dir)))
        return
      case Some(snap0) =>
        val missing = newSpec.cols.filterNot(c =>
          snap0.columns.exists(_.equalsIgnoreCase(c)))
        require(missing.isEmpty,
          s"repartitionTable: $dir has no column(s) ${missing.mkString(", ")}")
    }
    // step 1: the transitional record — writers refuse, pruning off
    writeMeta(fs, dir, newSpec.cols, meta.key, meta.version,
      specPending = true, specSince = meta.specSince)
    // step 2: full re-keyed rewrite, one checkpoint commit (no spec
    // check: this verb owns the pending record). Not pinned: each
    // attempt re-reads the tip's immutable leaves
    val committedAt = commit(spark, dir, "repartitionTable", None, full = true) { tip =>
      val batch = keyedBatch(read(spark, dir, tip.entries, tip.schema), newSpec)
      Some(Stage(batch.rows, batch.keys, batch.touched, layout, batch.touched.size))
    }
    // the final record: restore is fenced at the rewrite version — a
    // target below it is keyed under the old spec
    writeMeta(fs, dir, newSpec.cols, meta.key, meta.version,
      specPending = false, specSince = committedAt)
  }

  /** Transactional CDC APPLY — a change log (key, op ∈ I/U/D, seq,
    * payload…) lands as ONE commit: upserts and deletes together,
    * atomically, which two separate upsert+delete commits cannot give a
    * reader. This is what makes a TxTable a change-feed SINK — a mirror
    * maintained by [[graft.streaming.TxChangeFeed.mirror]] applies each
    * source commit's [[changes]] with this and is bit-equal to the
    * source snapshot after every commit. Merge semantics are
    * [[Merge.applyCdc]]'s (latest change per key by seq wins, I/U
    * upsert, D drops); `changes` must carry the row's `partitionCol`
    * (the key→partition stability contract), and a partition whose
    * every row is deleted tombstones out like [[delete]]. O(touched)
    * like every commit; empty logs are a no-op. */
  def applyCdc(
      spark: SparkSession, targetDir: String, changes: DataFrame,
      key: String, opCol: String, seqCol: String, partitionCol: PartitionSpec,
      layout: Layout = Layout.none): Unit = {
    val Batch(batch, touched, _) = keyedBatch(pinned(changes), partitionCol)
    val touchedKeys = touched.keys.toIndexedSeq
    if (touchedKeys.isEmpty) return
    // constraint gate on the upserting changes only — D-rows carry no
    // new values (Merge.applyCdc's null-op-is-upsert convention); the
    // Gate re-probes per CAS attempt (barrier protocol, writer half)
    val upserting = batch.filter(col(opCol).isNull || col(opCol) =!= "D")
    val gate = new TxConstraints.Gate(spark, targetDir, "applyCdc")
    gate.ensure(upserting)
    commit(spark, targetDir, "applyCdc", Some(partitionCol), Some(key)) { tip =>
      gate.ensure(upserting) // probe after the data-tip read
      // unlike upsert, an absent partition does NOT mean "write the
      // batch": D-rows must never land as data, so the merge always
      // runs — against an empty target of the batch's payload shape
      // when the partition is new
      val existing0 = touchedRows(spark, targetDir, tip, touchedKeys)
        .getOrElse(batch.drop(opCol, seqCol).limit(0))
      // evolution alignment, but op/seq must never leak into the
      // TARGET's payload shape (applyCdc derives payload from target
      // columns): widen existing by the batch's PAYLOAD only, widen
      // the batch by whatever old columns it lacks
      val (e2, _) = alignSchemas(existing0, batch.drop(opCol, seqCol))
      val (b2, _) = alignSchemas(batch, existing0)
      // an all-deletes partition stages nothing: tombstoned if it
      // exists, skipped if it never did
      Some(Stage(Merge.applyCdc(e2, b2, key, opCol, seqCol),
        touchedKeys, touched, layout, touchedKeys.size))
    }
  }

  /** Keyed DELETE — the third DML verb, completing the
    * insert/update/delete triad the CDC readout ([[diff]]) reports:
    * every row whose `key` appears in `keys` is dropped. `keys` must
    * carry the row's `partitionCol` value (the same key→partition
    * stability contract as [[upsert]]) — only those partitions are
    * read and rewritten, O(touched) like every other commit. A
    * partition whose every row is deleted stages no leaf and publishes
    * a TOMBSTONE delta entry instead, so its manifest key drops out;
    * keys absent from the table are a no-op (no version published when
    * nothing at all matches). Deletes surface in [[diff]] as `delete`
    * rows and replay through the change feed's applyCdc like any other
    * change. */
  def delete(
      spark: SparkSession, targetDir: String, keys: DataFrame,
      key: String, partitionCol: PartitionSpec, layout: Layout = Layout.none): Unit = {
    val batch = keyedBatch(
      pinned(keys.select((key +: partitionCol.cols).distinct.map(col): _*)), partitionCol)
    val touchedKeys = batch.keys
    if (touchedKeys.isEmpty) return
    commit(spark, targetDir, "delete", Some(partitionCol), Some(key)) { tip =>
      // only partitions that EXIST participate; deleting from absent
      // partitions is vacuously done. A touched partition with no
      // surviving rows stages no leaf and tombstones out.
      val hit = touchedKeys.filter(tip.entries.contains)
      touchedRows(spark, targetDir, tip, hit).map(existing =>
        Stage(existing.join(batch.rows.select(col(key)).distinct(), Seq(key), "left_anti"),
          hit, layout = layout, widenTo = hit.size))
    }
  }

  /** Predicate DELETE — the public formats' `DELETE FROM … WHERE`,
    * completing the keyed [[delete]]: every row satisfying `pred`
    * drops, as ONE CAS commit. Two-phase like the public
    * implementations: one find pass locates the partitions that
    * actually HOLD matching rows (scan bounded by `scope` — a
    * predicate over the partition columns pruned at the manifest via
    * the [[snapshotWhere]] machinery; retention deletes pass their day
    * range here and never scan the rest of the table), then only those
    * partitions are rewritten without their matching rows — O(touched)
    * staging like every commit, emptied partitions tombstone out, and
    * a no-match delete publishes nothing. With `scope` given, rows
    * outside it are NOT candidates (the effective predicate is
    * `pred AND scope`). Deletes surface in [[diff]] and replay through
    * the change feed like any other commit. */
  def deleteWhere(
      spark: SparkSession, targetDir: String, partitionCol: PartitionSpec,
      pred: Column, scope: Option[Column] = None,
      layout: Layout = Layout.none): Unit =
    rewriteWhere(spark, targetDir, partitionCol, pred, scope, layout, "deleteWhere")(
      (rows, p) => rows.filter(!p))

  /** Predicate UPDATE — `UPDATE … SET … WHERE` as one CAS commit:
    * rows satisfying `pred` (within `scope`, when given — same
    * manifest-pruned find pass as [[deleteWhere]]) take the `set`
    * assignments, every other row rides through untouched, and only
    * partitions holding matching rows rewrite. Assignments may not
    * reassign the key–partition identity columns (a row may not
    * migrate partitions — the [[merge]] updateSet contract). */
  def updateWhere(
      spark: SparkSession, targetDir: String, partitionCol: PartitionSpec,
      set: Seq[(String, Column)], pred: Column, scope: Option[Column] = None,
      layout: Layout = Layout.none): Unit = {
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    // set.toMap below keeps the LAST duplicate silently — refuse instead
    val dupNames = set.map(_._1.toLowerCase).diff(set.map(_._1.toLowerCase).distinct)
    require(dupNames.isEmpty,
      s"updateWhere assigns ${dupNames.distinct.mkString(", ")} more than once")
    val reassigned = set.map(_._1).toSet.intersect(partitionCol.cols.toSet)
    require(reassigned.isEmpty,
      s"updateWhere must not reassign partition columns: $reassigned " +
        "(a row may not migrate partitions)")
    rewriteWhere(spark, targetDir, partitionCol, pred, scope, layout,
      "updateWhere") { (rows, p) =>
      val assigned = set.toMap
      val unknown = assigned.keySet.diff(rows.columns.toSet)
      require(unknown.isEmpty,
        s"updateWhere assigns columns the table does not have: $unknown")
      // ONE select = SQL UPDATE's simultaneous-assignment semantics:
      // every right-hand side evaluates against the OLD row, never a
      // previous assignment's output
      val out = rows.select(rows.columns.toIndexedSeq.map { c =>
        assigned.get(c)
          .map(value => when(p, value).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
      // constraint gate on the rows the assignments actually touch —
      // untouched rows ride through by identity and were validated
      // when each constraint was added
      TxConstraints.enforce(rows.sparkSession, targetDir,
        out.filter(p), "updateWhere")
      out
    }
  }

  /** The shared two-phase predicate-rewrite stage behind
    * [[deleteWhere]]/[[updateWhere]]: find the partitions holding
    * matching rows (scan manifest-pruned by `scope`), rewrite exactly
    * those through the caller's transform; emptied ones tombstone.
    * Re-runs whole on a lost CAS race. */
  private def rewriteWhere(
      spark: SparkSession, targetDir: String, partitionCol: PartitionSpec,
      pred: Column, scope: Option[Column], layout: Layout, op: String)(
      transform: (DataFrame, Column) => DataFrame): Unit =
    commit(spark, targetDir, op, Some(partitionCol)) { tip =>
      // an empty table is vacuously done
      val candidates = scope.fold(tip.entries)(
        entriesWhere(spark, tip.entries, partitionCol, _))
      if (candidates.isEmpty) None
      else {
        // find pass: which candidate partitions actually hold a match —
        // the rewrite set must be matches-only, or a table-wide predicate
        // would rewrite every candidate leaf it MIGHT have matched
        val hit = keyedRead(spark, targetDir, candidates, tip.schema)
          .filter(pred).select(PKey).distinct()
          .collect().map(_.getString(0)).toIndexedSeq
        // nothing matches: no version published
        touchedRows(spark, targetDir, tip, hit).map(existing =>
          Stage(transform(existing, pred), hit, layout = layout, widenTo = hit.size))
      }
    }

  /** Transactional `MERGE INTO` — [[graft.ops.Merge.mergeInto]]'s
    * conditional update/delete/insert clauses committed as ONE version,
    * O(touched) like every commit: only the partitions the (key-unique)
    * `source` touches are read and rewritten, clause expressions
    * reference `t.<col>` / `s.<col>`, and a partition the DELETE clause
    * empties tombstones out exactly like [[delete]]. `source` must
    * carry the row's `partitionCol` (the key→partition stability
    * contract), `updateSet` must not reassign the key or a partition
    * column (a row may not migrate partitions), and schemas align
    * across an evolution commit the same way [[upsert]]'s do. An empty
    * source, or one whose touched partitions don't exist and whose
    * inserts all filter out, publishes no version; a merge that
    * touches an EXISTING partition rewrites it (and commits) even when
    * no clause fires — change detection would cost a comparison pass
    * per commit, so scoping the source to rows that matter is the
    * caller's lever, exactly as it is for upsert. */
  def merge(
      spark: SparkSession, targetDir: String, source: DataFrame,
      key: String, partitionCol: PartitionSpec,
      updateSet: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty,
      updateCond: org.apache.spark.sql.Column = lit(true),
      deleteCond: Option[org.apache.spark.sql.Column] = None,
      insertCond: Option[org.apache.spark.sql.Column] = Some(lit(true)),
      layout: Layout = Layout.none,
      outputCols: Option[Seq[String]] = None): Unit = {
    val reassigned = updateSet.map(_._1).toSet
    val frozen = partitionCol.cols.toSet + key
    require(reassigned.intersect(frozen).isEmpty,
      s"merge updateSet must not reassign key/partition columns: " +
        s"${reassigned.intersect(frozen)}")
    val Batch(batch, touched, _) = keyedBatch(pinned(source), partitionCol)
    // a duplicate source key would FAN OUT its target row through the
    // full-outer join — silent duplication, the one merge failure mode
    // worse than a crash. The check is one aggregate over the already-
    // materialized batch (batch-sized, never table-sized), the same
    // contract the public MERGE implementations enforce at run time.
    // (null keys exempt: equality never matches them, so each inserts
    // independently and none can fan a target row out)
    val dup = batch.filter(col(key).isNotNull)
      .groupBy(col(key)).count().filter(col("count") > 1)
      .limit(1).collect()
    require(dup.isEmpty,
      s"merge source is not key-unique on '$key' (e.g. ${dup.head.get(0)}) — " +
        "dedup upstream (seq-argmax) before merging")
    val touchedKeys = touched.keys.toIndexedSeq
    if (touchedKeys.isEmpty) return
    commit(spark, targetDir, "merge", Some(partitionCol), Some(key)) { tip =>
      // like applyCdc, the merge ALWAYS runs — an absent partition is
      // an empty target (only the INSERT clause can land rows there),
      // never a write-the-batch shortcut (clauses must filter it)
      val existing0 = touchedRows(spark, targetDir, tip, touchedKeys)
        .getOrElse(batch.limit(0))
      val (e2, b2) = alignSchemas(existing0, batch)
      val merged0 = Merge.mergeInto(
        e2, b2, key, updateSet, updateCond, deleteCond, insertCond)
      // outputCols pins the committed schema (the SQL MERGE contract:
      // source-only columns feed clause conditions but never widen the
      // target). Default (None) keeps the schema-union evolution
      // posture documented above. Missing target columns null-pad (an
      // insert-only merge into absent partitions from a narrower
      // source); PKey rides along for the partitioned staging write.
      val merged = outputCols.fold(merged0) { cols =>
        val padded = cols.foldLeft(merged0)((d, c) =>
          if (d.columns.exists(_.equalsIgnoreCase(c))) d
          else d.withColumn(c, lit(null)))
        val named = cols.map(c =>
          padded.columns.find(_.equalsIgnoreCase(c)).getOrElse(c))
        padded.select((named :+ PKey).map(col): _*)
      }
      // constraint gate on the merge OUTPUT (update/insert clause values
      // are computed here, not in the source) — per attempt, since a
      // lost race re-merges against the winner's snapshot
      TxConstraints.enforce(spark, targetDir, merged, "merge")
      // a touched partition that exists but staged nothing was emptied
      // by the DELETE clause (tombstoned); one that never existed and
      // staged nothing had its inserts filtered (skipped)
      Some(Stage(merged, touchedKeys, touched, layout, touchedKeys.size))
    }
  }

  /** Staged-bytes of commit `v`: the total size of the data files its
    * manifest body points at (tombstoned keys: 0) — the admission
    * metric behind the stream source's `maxBytesPerTrigger`, the same
    * new-files-only accounting the public file sources use for
    * maxBytesPerTrigger (a delete-only commit counts ~0; its diff still
    * reads the OLD leaves, so byte admission is a throttle, not an
    * exact read-cost model). Checkpoint-kind bodies list the WHOLE
    * table, so a checkpoint commit counts conservatively large — it
    * lands alone in its micro-batch, never silently over-admits.
    * O(touched leaves) listStatus calls; a vacuumed body counts 0. */
  private[io] def commitBytes(spark: SparkSession, dir: String, v: Long): Long = {
    val log = s"$dir/$LogDir"
    val fs = fsOf(spark, dir)
    CommitStore.forPath(fs, log).at(log, v).map { lines =>
      parse(dir, v, lines).entries.values.toSeq.map(_.leaf).filter(_ != Tombstone).distinct
        .map { leaf =>
          try fs.listStatus(new Path(leafPath(dir, leaf))).map(_.getLen).sum
          catch { case _: java.io.IOException => 0L }
        }.sum
    }.getOrElse(0L)
  }

  /** Commit history as a one-frame operational readout — the `DESCRIBE
    * HISTORY` face ([[graft.io.TxCatalog]] routes the SQL statement
    * here): one row per version 1..tip with the body kind ("delta" |
    * "checkpoint", or "vacuumed" where retention has reclaimed the
    * body), the commit slot's modification time, and the count of
    * manifest entries the commit touched. Costs one small body read +
    * one stat per retained version — an operational probe, never a
    * data path. */
  def historyFrame(spark: SparkSession, dir: String): DataFrame = {
    val log = s"$dir/$LogDir"
    val fs = fsOf(spark, dir)
    val store = CommitStore.forPath(fs, log)
    val (tip, _) = store.latest(log)
    val rows = (1L to tip).map { v =>
      val body = store.at(log, v)
      val ts = try Some(fs.getFileStatus(
          new Path(log, CommitStore.slotName(v))).getModificationTime)
        catch { case _: java.io.IOException => None }
      org.apache.spark.sql.Row(v,
        body.map(kindOf(dir, v, _)).getOrElse("vacuumed"),
        ts.map(t => new java.sql.Timestamp(t)).orNull,
        body.map(lines => java.lang.Long.valueOf(lines.size - 1L)).orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("committed_at",
          org.apache.spark.sql.types.TimestampType, nullable = true),
        org.apache.spark.sql.types.StructField("touched_entries",
          org.apache.spark.sql.types.LongType, nullable = true))))
  }

  /** `ALTER TABLE … ADD COLUMNS` as ONE rows-preserving commit: the
    * table schema widens by rewriting exactly the SMALLEST live leaf
    * with the new columns appended as typed nulls — the commit records
    * the widened schema, so every other leaf null-pads under it: the
    * same union the write-side evolution produces, at O(smallest
    * partition) cost instead of a table rewrite. Existing columns are refused loudly (SQL's rule); an
    * empty table has no storage schema to widen and is refused too
    * (bootstrap with data carrying the columns instead). Rows-
    * preserving like every maintenance verb: [[diff]] across the
    * commit emits nothing. */
  def addColumns(
      spark: SparkSession, dir: String, partitionCol: PartitionSpec,
      cols: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    val dup = cols.map(_.name.toLowerCase).diff(
      cols.map(_.name.toLowerCase).distinct)
    require(dup.isEmpty,
      s"addColumns lists ${dup.distinct.mkString(", ")} more than once")
    val fs = fsOf(spark, dir)
    commit(spark, dir, "addColumns", Some(partitionCol)) { tip =>
      require(tip.v >= 1,
        s"addColumns on $dir: an empty table has no storage schema to " +
          "widen — bootstrap it with a write carrying the columns")
      require(tip.entries.nonEmpty,
        s"addColumns on $dir: the table holds no live partitions — " +
          "write data carrying the columns instead")
      // re-check per attempt: a racing widening commit may have landed
      val existing = tip.schema.fieldNames.map(_.toLowerCase).toSet
      val clash = cols.map(_.name).filter(c => existing(c.toLowerCase))
      require(clash.isEmpty,
        s"addColumns on $dir: column(s) already exist: ${clash.mkString(", ")}")
      // smallest live leaf = cheapest rows-preserving carrier
      val (k, entry) = tip.entries.minBy { case (_, e) =>
        try fs.getContentSummary(new Path(leafPath(dir, e.leaf))).getLength
        catch { case _: java.io.IOException => Long.MaxValue }
      }
      val widened = cols.foldLeft(leafRead(spark, dir, Seq(entry.leaf), tip.schema))(
        (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
      Some(Stage(widened.withColumn(PKey, lit(k)), Seq(k)))
    }
  }

  /** Roll the table back: publish a NEW commit whose state is exactly
    * `version`'s — time travel made durable. The rolled-back versions
    * stay readable (nothing is rewritten or deleted; history is
    * append-only), [[diff]] across the restore commit reports exactly
    * the rows it reverted, and the change feed replays it like any
    * other commit. Data files are immutable, so the restored manifest
    * points at leaves that still exist whenever `version` is within
    * vacuum retention — IllegalState when it was vacuumed or never
    * committed. The body is a full checkpoint (self-contained: the
    * restored state must not depend on the delta chain it bypasses). */
  def restore(spark: SparkSession, dir: String, version: Long): Unit = {
    val log = s"$dir/$LogDir"
    val store = CommitStore.forPath(fsOf(spark, dir), log)
    // a restore must not cross a partition respec backwards: the target
    // manifest is keyed under the OLD spec, and republishing it under
    // the new `_meta` identity would double-key every future commit.
    // Roll the spec back first (repartitionTable to the old columns),
    // then restore — each step stays internally consistent.
    readMetaAll(fsOf(spark, dir), dir).foreach { meta =>
      require(!meta.specPending,
        s"TxTable $dir has a partition respec in progress — complete it " +
          "(rerun repartitionTable) before restoring")
      meta.specSince.foreach(since => require(version >= since,
        s"cannot restore $dir to version $version: the partition spec " +
          s"changed at version $since and the target manifest is keyed " +
          "under the old spec — repartitionTable back to the old columns " +
          "first, then restore"))
    }
    // the restored state's schema is the TARGET version's recorded one
    // (columns added after `version` cease to exist at the new tip)
    val restored = resolveAt(store, dir, version).getOrElse(
      throw new IllegalStateException(
        s"version $version of $dir is not restorable (vacuumed or never committed)"))
    // constraint gate on the RESTORED state: restore is a row-writing
    // verb in effect (it republishes version n's rows as the tip), so a
    // table with an armed CHECK contract must not be able to resurrect
    // pre-constraint violations through it. One snapshot-at-version
    // pass, only when constraints exist; drop the constraint first to
    // deliberately restore a violating state.
    if (TxConstraints.of(spark, dir).nonEmpty && restored.entries.nonEmpty)
      TxConstraints.enforce(spark, dir,
        read(spark, dir, restored.entries, restored.schema), "restore")
    val body = render("checkpoint", restored.entries, Some(restored.schema))
    CommitStore.retrying(store, log, "TxTable.restore", dir) {
      Right(CommitStore.Publish(store.latest(log)._1 + 1, body, ()))
    }
  }

  /** SHALLOW CLONE — a new table whose version-1 manifest points at the
    * SOURCE table's data files by qualified absolute path: one manifest
    * write, zero data movement, at any size. The clone is a full
    * first-class TxTable from that moment: reads prune on its own
    * manifest, and every write verb is naturally copy-on-write (a
    * commit touching partition X reads the source's leaf but stages its
    * replacement under the CLONE's data dir and re-points only the
    * clone's manifest — the source never observes anything). The
    * source's `_meta` record (partition identity, merge key, version
    * column) carries over, so the clone is as self-describing as its
    * source. `versionAsOf` clones a historical version (a writable
    * branch of a time-travel read).
    *
    * THE vacuum contract, exactly the public formats' caveat: the clone
    * pins no retention on its source. Vacuuming the CLONE is always
    * safe (data reclaim walks only the clone's own data dir — foreign
    * leaves are never candidates), but vacuuming the SOURCE past the
    * cloned version deletes files the clone still references; either
    * retain the source ≥ the clone's lifetime or [[materialize]] the
    * clone to cut the dependency. */
  def cloneShallow(
      spark: SparkSession, sourceDir: String, targetDir: String,
      versionAsOf: Option[Long] = None): Unit = {
    val srcFs = fsOf(spark, sourceDir)
    val srcLog = s"$sourceDir/$LogDir"
    val srcStore = CommitStore.forPath(srcFs, srcLog)
    val v = versionAsOf.getOrElse(srcStore.latest(srcLog)._1)
    require(v >= 1, s"cloneShallow source $sourceDir holds no committed TxTable")
    // the restore fence, applied to branching: a clone of a pending
    // respec (or of a pre-respec version) would pair an old-keyed
    // manifest with the new-spec `_meta` — inconsistent from birth
    readMetaAll(srcFs, sourceDir).foreach { m =>
      require(!m.specPending,
        s"cloneShallow: $sourceDir has a partition respec in progress — " +
          "complete it (rerun repartitionTable) before cloning")
      m.specSince.foreach(since => require(v >= since,
        s"cloneShallow: version $v of $sourceDir predates its partition " +
          s"respec (version $since) and is keyed under the old spec — " +
          "clone a post-respec version, or repartition the clone's spec " +
          "back by hand"))
    }
    val src = resolveAt(srcStore, sourceDir, v).getOrElse(
      throw new IllegalStateException(
        s"version $v of $sourceDir is not cloneable (vacuumed or never committed)"))
    // leaves absolutize against the source's QUALIFIED root, so the
    // clone's reads resolve them regardless of either table's scheme
    val srcRoot = srcFs.makeQualified(new Path(sourceDir)).toString
    val absolute = src.entries.map { case (k, e) =>
      k -> Entry(leafPath(srcRoot, e.leaf), e.vhex)
    }
    val fs = fsOf(spark, targetDir)
    val log = s"$targetDir/$LogDir"
    val store = CommitStore.forPath(fs, log)
    require(store.latest(log)._1 == 0,
      s"cloneShallow target $targetDir already holds a committed TxTable")
    readMetaAll(srcFs, sourceDir).foreach(m =>
      ensureSpec(fs, targetDir, PartitionSpec(m.partCols), m.key, m.version))
    // the clone inherits the source's CHECK constraints: a branch of
    // the data is a branch of its quality contract
    TxConstraints.cloneInto(spark, sourceDir, targetDir)
    require(store.tryCommit(log, 1L,
        render("checkpoint", absolute, Some(src.schema))),
      s"cloneShallow lost a creation race on $targetDir")
  }

  /** Cut a shallow clone's dependency on its source: every manifest
    * entry still pointing OUTSIDE the table dir is rewritten into local
    * storage as one rows-preserving maintenance commit (CAS like every
    * writer — entries a concurrent commit already localized drop out of
    * the rewrite set on retry). Local entries keep file identity; a
    * table with no foreign leaves is a no-op. After this, vacuuming the
    * former source cannot break the table. */
  def materialize(
      spark: SparkSession, dir: String, partitionCol: PartitionSpec,
      layout: Layout = Layout.none): Unit =
    commit(spark, dir, "materialize", Some(partitionCol)) { tip =>
      val foreign = tip.entries.filter { case (_, e) =>
        leafPath(dir, e.leaf) == e.leaf // absolute → not under this dir
      }
      // rows-preserving rewrite: each partition value rides over
      if (foreign.isEmpty) None
      else Some(Stage(
        keyedRead(spark, dir, foreign, tip.schema),
        foreign.keys, layout = layout, widenTo = foreign.size))
    }

  /** The keyed-merge stage behind [[upsert]] and [[replaceWindow]]:
    * merge the batch against the snapshot's touched partitions (strategy
    * supplied by the caller) and stage one leaf per touched key. */
  private def mergeCommit(
      spark: SparkSession, targetDir: String, incoming: DataFrame,
      partitionCol: PartitionSpec, layout: Layout, op: String,
      key: Option[String] = None, version: Option[String] = None)(
      merge: (DataFrame, DataFrame) => DataFrame): Long = {
    // stable across retries: the batch itself never changes
    val Batch(batch, touched, count) = keyedBatch(pinned(incoming), partitionCol)
    val touchedKeys = touched.keys.toIndexedSeq
    if (touchedKeys.isEmpty) return count // empty batch: a no-op, not a failure
    // CHECK-constraint gate on the incoming rows (existing rows were
    // validated when each constraint was added): one O(batch) pass,
    // skipped entirely on constraint-less tables. The Gate re-probes
    // the constraint log per CAS attempt below (a one-file read) and
    // re-runs the aggregate only when the set moved — the writer half
    // of the ADD-vs-writer barrier protocol (TxConstraints scaladoc).
    val gate = new TxConstraints.Gate(spark, targetDir, op)
    gate.ensure(batch) // fail-fast before any staging cost
    commit(spark, targetDir, op, Some(partitionCol),
        key, version) { tip =>
      // probe AFTER the data-tip read the attempt will CAS against —
      // the ordering the barrier proof needs
      gate.ensure(batch)
      // the merge runs even when every touched partition is NEW: a
      // multi-version batch (a change feed drained in one micro-batch)
      // must collapse latest-wins IDENTICALLY whether the partition
      // exists or not. Schemas align across an evolution commit. Not
      // checkpointed: the staging write into a FRESH dir is the merge
      // plan's only consumer.
      val existing = touchedRows(spark, targetDir, tip, touchedKeys)
      def mergeOf(place: DataFrame => DataFrame): DataFrame =
        existing.fold(merge(place(batch).limit(0), place(batch))) { e =>
          val (e2, b2) = alignSchemas(place(e), place(batch))
          merge(e2, b2)
        }
      // a small one-leaf commit merges on ONE partition: both inputs
      // report a single partition, so their union does too, the merge
      // (a latest-wins window, or none) plans no exchange, the
      // staging write's coalesce(1) has nothing to do, and the existing
      // rows stay ahead of the batch in the staged file
      val onOne = mergeOf(_.coalesce(1))
      val merged =
        if (touchedKeys.size == 1 && smallCommit(onOne)) onOne
        else mergeOf(identity)
      Some(Stage(merged, touchedKeys, touched, layout, touchedKeys.size))
    }
    count
  }

  /** What one commit attempt writes: `rows` (carrying the key column)
    * land through [[writeLaidOut]], one leaf per key; a rewritten key in
    * `keys` that exists at the tip but stages no leaf is tombstoned (no
    * keys: nothing is written). A leaf's partition value comes from
    * `values`, else from its tip entry. */
  private case class Stage(
      rows: DataFrame, keys: Iterable[String],
      values: Map[String, String] = Map.empty,
      layout: Layout = Layout.none, widenTo: Int = 0)

  /** The live rows of the tip's partitions among `keys` (None when none
    * exists), keyed ([[keyedRead]]). Immutable files: a concurrent
    * commit cannot tear this read. */
  private def touchedRows(
      spark: SparkSession, dir: String, tip: Tip,
      keys: Seq[String]): Option[DataFrame] = {
    val live = keys.flatMap(k => tip.entries.get(k).map(k -> _)).toMap
    if (live.isEmpty) None
    else Some(keyedRead(spark, dir, live, tip.schema))
  }

  /** Manifest entries read WITH their key column. A leaf is
    * partition-pure and its entry's key IS its rows' key, so the scan
    * is handed the partition spec directly — each leaf one partition
    * whose `__p` value is its manifest key — and `__p` rides as a
    * per-file constant, with no per-row md5 and no directory discovery
    * (leaves of many commits, or a shallow clone's absolute ones, are
    * one scan). The data schema is the manifest-carried one and `__p`
    * a declared string, so nothing is type-inferred. A leaf
    * that is gone (a shallow clone whose source was vacuumed) fails the
    * read as [[leafRead]] does: the index's root listing alone would
    * read it as empty, and a rewrite would publish its rows away. */
  private def keyedRead(
      spark: SparkSession, dir: String, entries: Map[String, Entry],
      s: StructType): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val keyCol = StructType(Seq(StructField(PKey, StringType)))
    val parts = entries.toSeq.sortBy(_._2.leaf).map { case (k, e) =>
      val p = new Path(leafPath(dir, e.leaf))
      PartitionPath(InternalRow(UTF8String.fromString(k)),
        p.getFileSystem(conf).makeQualified(p))
    }
    val index = new InMemoryFileIndex(spark, parts.map(_.path), Map.empty,
      Some(s), FileStatusCache.getOrCreate(spark),
      Some(FilePartitionSpec(keyCol, parts)))
    // a published leaf holds files, so only a fileless one is probed
    val listed = index.allFiles().map(_.getPath.getParent).toSet
    parts.map(_.path).filterNot(listed).find(p => !p.getFileSystem(conf).exists(p))
      .foreach(p => throw new FileNotFoundException(s"TxTable leaf does not exist: $p"))
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, keyCol, s, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** THE optimistic commit every staging verb publishes through — the
    * protocol in the object scaladoc. `stage` says what to write from
    * the attempt's snapshot (None: publish nothing); unless the commit
    * is `full` (a checkpoint of exactly the staged leaves under the
    * staged schema) the frame must keep every column's type. The spec
    * (`ensureSpec` with `key`/`version`; None only for
    * [[repartitionTable]], which owns the pending record) is verified on
    * EVERY attempt: after a respec won the race, a stale-spec retry would
    * double-key the table or find none of its keys and silently do
    * nothing. A never-committed path records its spec only once
    * something stages, so maintenance on it stays a pure no-op (a typo'd
    * spec must not lock out the table's real first writer).
    * Returns the published version. */
  private def commit(
      spark: SparkSession, dir: String, op: String,
      spec: Option[PartitionSpec],
      key: Option[String] = None, version: Option[String] = None,
      full: Boolean = false)(stage: Tip => Option[Stage]): Option[Long] = {
    val fs = fsOf(spark, dir)
    val log = s"$dir/$LogDir"
    val store = CommitStore.forPath(fs, log)
    def checkSpec(): Unit = spec.foreach(ensureSpec(fs, dir, _, key, version))
    CommitStore.retrying[Option[Long]](store, log, s"TxTable.$op", dir) {
      val tip @ Tip(v, entries, schema) = latestEntries(spark, dir)
      if (v > 0) checkSpec()
      stage(tip) match {
        case None => Left(None)
        case Some(st) =>
          if (v == 0) checkSpec()
          // unionSchema's add-only rule BEFORE any leaf is written, so a
          // refused commit stages nothing (nextBody re-applies it)
          if (!full) unionSchema(schema, stagedSchemaOf(st.rows)): Unit
          val stageRel = s"$DataDir/${UUID.randomUUID()}"
          val stagePath = new Path(s"$dir/$stageRel")
          val leaves: Map[String, Entry] =
            if (st.keys.isEmpty) Map.empty
            else {
              // ALL rewritten partitions stage in ONE job; the written leaves
              // ARE the staged entries (key = leaf name minus the column
              // prefix; hive escaping is the identity on the hex/NULL alphabet)
              writeLaidOut(st.rows, st.layout, stagePath.toString, st.widenTo)
              fs.listStatus(stagePath).toSeq
                .map(_.getPath.getName)
                .filter(_.startsWith(PKey + "="))
                .map { leaf =>
                  val k = leaf.stripPrefix(PKey + "=")
                  k -> Entry(s"$stageRel/$leaf", st.values.get(k)
                    .orElse(entries.get(k).map(_.vhex))
                    .getOrElse(refuse(dir, v + 1, s"would stage key $k without a value")))
                }.toMap
            }
          // a rewritten partition that exists but staged no leaf was emptied:
          // its entry must DROP, not linger pointing at old data
          val staged =
            if (full) leaves
            else leaves ++ st.keys
              .filter(k => entries.contains(k) && !leaves.contains(k))
              .map(_ -> Entry(Tombstone, ""))
          if (staged.isEmpty && !full) {
            fs.delete(stagePath, true): Unit
            Left(None)
          } else {
            // a lost race discards the stale staging and re-stages against
            // the winner's snapshot
            Right(CommitStore.Publish(v + 1,
              nextBody(spark, v, entries, staged, schema, stagedSchemaOf(st.rows), full),
              Some(v + 1), () => fs.delete(stagePath, true): Unit))
          }
      }
    }
  }

  /** The ONE staging write every commit path shares — upserts, CDC
    * applies, deletes, and the maintenance rewrites all land their
    * leaves through it, so a table's physical [[Layout]] (sorted row
    * groups for zone-map skipping, blooms, sized groups) is applied
    * uniformly and can never be silently discarded by one path. The
    * leading PKey sort satisfies FileFormatWriter's required ordering,
    * so the secondary layout sort survives into the files.
    *
    * @param widenTo the commit's touched-partition count; 0 = the
    *   caller placed the rows itself (maintenance folds) — never
    *   re-place. For ≥ 1, a SMALL commit is re-placed as an EXPLICIT
    *   repartition(min(cores, touched), PKey) when the merged
    *   output's estimated size fits ONE advisory shuffle partition
    *   (i.e. the extra exchange moves less than AQE's own coalescing
    *   unit): each key hashes wholly into one task, so every leaf is
    *   staged as exactly one file (a one-leaf commit gets the same
    *   placement from coalesce(1), without the exchange). Without it
    *   a one-leaf commit stages as many files as its merge has input
    *   splits (a window replacement re-stages the date leaf as 5–6
    *   files an hour, which compaction then rewrites under a commit of its own), and
    *   a commit spanning many partitions lands in ~one task (AQE
    *   coalesces its tiny merge shuffle) that creates every leaf's
    *   file SERIALLY — measured ~2 s for a 124-leaf bootstrap on idle
    *   32 cores. Large commits — anything whose estimate exceeds the
    *   advisory unit, or with no usable estimate — keep the
    *   exchange-free path untouched; sessions that pin coalescing off
    *   (fragmentation-sensitive tooling) opt out the same way they
    *   already opt out of AQE's reshaping. */
  private def writeLaidOut(
      df: DataFrame, layout: Layout, path: String, widenTo: Int = 0): Unit = {
    val spark = df.sparkSession
    val placed =
      if (widenTo >= 1 && smallCommit(df)) {
        // one leaf: one task holds it without an exchange
        if (widenTo == 1) df.coalesce(1)
        else df.repartition(
          math.min(spark.sparkContext.defaultParallelism, widenTo), col(PKey))
      }
      else df
    val sorted =
      if (layout.sortCols.isEmpty) placed
      else placed.sortWithinPartitions((PKey +: layout.sortCols).map(col): _*)
    val w0 = sorted.write.mode("error")
    val w1 = layout.rowGroupBytes.fold(w0)(b => w0.option("parquet.block.size", b))
    layout.bloomCols.foldLeft(w1) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", layout.bloomNdv.toString)
    }.partitionBy(PKey).parquet(path)
  }

  /** The small-commit rule of [[writeLaidOut]]'s placement (and of
    * [[mergeCommit]]'s one-partition merge): coalescing is on and the
    * estimated size of `df` fits one advisory shuffle partition. */
  private def smallCommit(df: DataFrame): Boolean = {
    val conf = df.sparkSession.conf
    def advisoryBytes: Long = scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")))
      .getOrElse(64L * 1024 * 1024)
    val coalescingOn =
      conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
        conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean
    coalescingOn && {
      val est = scala.util.Try(df.queryExecution.optimizedPlan.stats.sizeInBytes)
        .getOrElse(BigInt(Long.MaxValue))
      est <= advisoryBytes
    }
  }

  /** The body of version v+1: a DELTA of just this commit's entries
    * (tombstones included), except at the checkpoint cadence (v+1 = 1
    * or a multiple of the interval) where the full folded map is
    * written — so steady-state commit cost is O(touched partitions),
    * with the O(table) write amortized to 1/interval (and version 1
    * trivially full).
    *
    * The post-commit table schema is union(the tip's, the staged
    * frame's) — the empty struct's union on a never-committed table —
    * recorded on a checkpoint, and on a delta only when it changed. A
    * `full` commit replaces the table: a checkpoint of exactly
    * `staged`, under the staged schema. */
  private def nextBody(
      spark: SparkSession, v: Long, baseEntries: Map[String, Entry],
      staged: Map[String, Entry], prevSchema: StructType,
      stagedSchema: StructType, full: Boolean): Seq[String] = {
    val next = v + 1
    val post = if (full) stagedSchema else unionSchema(prevSchema, stagedSchema)
    val isCheckpoint = full || next == 1 || next % checkpointInterval(spark) == 0
    val carried = if (isCheckpoint || post != prevSchema) Some(post) else None
    if (isCheckpoint)
      render("checkpoint", if (full) staged else applyDelta(baseEntries, staged), carried)
    else render("delta", staged, carried)
  }

  /** Fold fragmented leaves — a rows-preserving maintenance commit:
    * every live leaf holding more than `maxFilesPerLeaf` data files is
    * rewritten as a single-file leaf in one new commit; partitions
    * already compact keep their manifest entries untouched. Runs
    * through the SAME CAS as any writer, so it is safe to run
    * concurrently with upserts: a lost race re-reads the winner's
    * manifest and recomputes which leaves still need folding (a
    * partition the winner just rewrote is a fresh leaf — it drops out).
    * The rewrite is one job: all fragmented leaves read together, hash
    * repartitioned on the partition key (every partition's rows land in
    * exactly one task → exactly one file), one partitionBy write.
    * [[diff]] across a compaction commit emits nothing — same rows,
    * new leaves — which doubles as its correctness probe.
    *
    * `layout` must restate the table's write-time [[Layout]]: the
    * rewrite replaces whole leaves, so whatever sort/bloom/row-group
    * discipline the write path laid down survives ONLY if the
    * maintenance pass re-applies it — a default-layout compaction of a
    * Z-ordered table would silently un-sort its row groups and drop
    * its blooms on the first fold (correct rows, degraded scans). */
  def compactFiles(
      spark: SparkSession, dir: String, partitionCol: PartitionSpec,
      maxFilesPerLeaf: Int = 4, layout: Layout = Layout.none,
      where: Option[Column] = None): Unit =
    compactWhere(spark, dir, partitionCol, layout, "compactFiles",
      where)(files => files.length > maxFilesPerLeaf)

  /** [[compactFiles]] with a BYTE threshold instead of a file count
    * (FactPipeline's `compactTargetBytes`): a leaf is folded when it
    * holds more files than its total size warrants at `targetBytes`
    * per file (i.e. its files are small relative to the target). The
    * rewrite grain is unchanged — one file per leaf — so `targetBytes`
    * decides WHICH leaves fold, not the output file size (a partition
    * leaf is the table's maintenance grain). */
  def compactSmallFiles(
      spark: SparkSession, dir: String, partitionCol: PartitionSpec,
      targetBytes: Long, layout: Layout = Layout.none,
      where: Option[Column] = None): Unit =
    compactWhere(spark, dir, partitionCol, layout,
      "compactSmallFiles", where) { files =>
      val total = files.map(_.getLen).sum
      files.length > math.max(1L, (total + targetBytes - 1) / targetBytes)
    }

  /** Global clustering rewrite — the transactional `OPTIMIZE … WHERE …
    * ZORDER BY (…)`: every live leaf is rewritten with rows clustered
    * on the Morton curve of `cols`, as ONE rows-preserving maintenance
    * commit through the same CAS as any writer ([[diff]] across it
    * emits nothing, whatever the scope — its correctness probe).
    * [[Layout]]'s per-file sort ([[compactFiles]] preserves it) gives
    * zone maps on the sort column only; this is the complementary move
    * when SEVERAL independent probe columns matter and only one
    * dimension can own the directory partitioning — each row group's
    * bounding box comes out tight in every coordinate, so a range probe
    * on either of two columns skips ~√G of G groups. Mechanics: one
    * min/max stats pass bounds each column's 16-bit bucket scale (at
    * lake scale these come from table metadata), a range repartition
    * on (partition key, z) hands each task a contiguous z-slice so
    * FILES get tight bounds too, and the z column (named clear of the
    * table's columns) drops out of the written schema. `layout`
    * contributes blooms/row-group sizing only — its `sortCols` are
    * ignored (the z-cluster IS the sort; a secondary sort would undo
    * it).
    *
    *  - `cols`: 1–4 clustering columns — the Morton interleave
    *    ([[SortedWriter.zvalueN]]) generalizes, at the usual lake
    *    guidance that each added dimension thins every dimension's
    *    share of the bounding box (2–3 columns is the sweet spot).
    *  - `where`: a predicate over the PARTITION columns bounding the
    *    rewrite set at the MANIFEST (the [[snapshotWhere]] pruning,
    *    shared code): only matching leaves are read, re-clustered, and
    *    re-staged; every other manifest entry — and its file identity —
    *    is untouched, and a lost CAS race re-stages only the scoped
    *    set. This is what makes OPTIMIZE operable at 100 TB: an
    *    unscoped rewrite is one world-sized commit that doubles table
    *    storage transiently and starves under any concurrent writer,
    *    while `where`-scoped runs (yesterday's partitions, one tenant)
    *    bound both. Z-bucket bounds are computed over the SCOPED rows,
    *    so a scoped pass clusters its slice as tightly as a full pass
    *    would. */
  def optimizeZOrderBy(
      spark: SparkSession, dir: String, partitionCol: PartitionSpec,
      cols: Seq[String], layout: Layout = Layout.none,
      where: Option[Column] = None): Unit = {
    require(cols.nonEmpty && cols.size <= 4,
      s"optimizeZOrderBy takes 1-4 clustering columns, got ${cols.size}")
    commit(spark, dir, "optimizeZOrder", Some(partitionCol)) { tip =>
      // scope BEFORE touching a file — and re-scope on every retry, so
      // a lost race recomputes against the winner's manifest and never
      // re-stages more than the predicate's leaves
      val scope = where.fold(tip.entries)(
        entriesWhere(spark, tip.entries, partitionCol, _))
      if (scope.isEmpty) None
      else {
        val all = keyedRead(spark, dir, scope, tip.schema)
        val statCols = cols.flatMap(c => Seq(
          min(col(c)).cast("double"), max(col(c)).cast("double")))
        val statsRow = all.agg(statCols.head, statCols.tail: _*).head()
        def bound(i: Int): Double =
          if (statsRow.isNullAt(i)) 0.0 else statsRow.getDouble(i)
        def bucket(c: Column, lo: Double, hi: Double): Column =
          if (hi > lo)
            floor((c.cast("double") - lit(lo)) / lit(hi - lo) * 65535).cast("int")
          else lit(0)
        val buckets = cols.zipWithIndex.map { case (c, i) =>
          bucket(col(c), bound(2 * i), bound(2 * i + 1))
        }
        val zCol = Iterator.from(0).map(i => s"__z$i")
          .find(n => !all.columns.contains(n)).get
        val n = math.max(spark.sparkContext.defaultParallelism, scope.size)
        val clustered = all
          .withColumn(zCol, SortedWriter.zvalueN(buckets))
          .repartitionByRange(n, col(PKey), col(zCol))
          .sortWithinPartitions(col(PKey), col(zCol))
          .drop(zCol)
        // sortCols stripped: the z-range repartition + sort above IS this
        // write's order — a secondary sort would undo the clustering
        Some(Stage(clustered, scope.keys, layout = layout.copy(sortCols = Nil)))
      }
    }
  }

  /** `where` bounds the fold set at the MANIFEST (shared
    * [[snapshotWhere]] pruning): only matching leaves are even LISTED
    * for the fold test — on a wide table the per-leaf listStatus sweep
    * is itself the cost a scoped compaction avoids. */
  private def compactWhere(
      spark: SparkSession, dir: String, partitionCol: PartitionSpec,
      layout: Layout, op: String,
      where: Option[Column] = None)(
      needsFold: Seq[org.apache.hadoop.fs.FileStatus] => Boolean): Unit = {
    val fs = fsOf(spark, dir)
    commit(spark, dir, op, Some(partitionCol)) { tip =>
      val scope = where.fold(tip.entries)(
        entriesWhere(spark, tip.entries, partitionCol, _))
      val needy = scope.filter { case (_, e) =>
        needsFold(fs.listStatus(new Path(leafPath(dir, e.leaf))).toSeq
          .filter(_.getPath.getName.endsWith(".parquet")))
      }
      if (needy.isEmpty) None
      else Some(Stage(
        keyedRead(spark, dir, needy, tip.schema)
          .repartition(needy.size, col(PKey)),
        needy.keys, layout = layout))
    }
  }

  /** Retention-windowed garbage collection: keep the last
    * `retainVersions` versions fully readable (plus any older version
    * sharing their manifest-chain checkpoint — readability is at-least,
    * never at-most), reclaim every data leaf and log body nothing
    * retained references, and leave UNREFERENCED data dirs younger
    * than `graceMs` alone — those are (or may be) a live writer's
    * staged-but-uncommitted leaves, indistinguishable from crash
    * orphans except by age.
    *
    * Safe to run concurrently with snapshot readers of retained
    * versions (their files survive by construction) and, with a
    * generous grace period, with in-flight writers. The defaults
    * (retain 1, no grace) reproduce the maintenance-window behavior:
    * everything but the latest version is reclaimed and time travel is
    * destroyed.
    *
    * Implementation note: if the tip manifest is a delta, a CHECKPOINT
    * version is first published through the normal CAS (content
    * identical to the tip — a no-data commit), so the retained window
    * never needs chain bodies beneath itself; a lost race to a live
    * writer just re-reads the new tip. */
  def vacuum(
      spark: SparkSession, dir: String,
      retainVersions: Int = 1, graceMs: Long = 0L): Unit = {
    val fs = fsOf(spark, dir)
    val log = s"$dir/$LogDir"
    val store = CommitStore.forPath(fs, log)
    // a lost race to a live writer re-reads the new tip
    val tip = CommitStore.retrying(store, log, "TxTable.vacuum", dir) {
      val (v, lines) = store.latest(log)
      if (v == 0 || kindOf(dir, v, lines) == "checkpoint") Left(v)
      else {
        val full = resolveAt(store, dir, v, Some(lines)).getOrElse(
          throw new IllegalStateException(s"manifest chain for version $v is broken"))
        Right(CommitStore.Publish(v + 1,
          render("checkpoint", full.entries, Some(full.schema)), v + 1))
      }
    }
    if (tip == 0) return

    val keepOldest = math.max(1L, tip - math.max(1, retainVersions) + 1)
    // walk down to the checkpoint the oldest retained version resolves
    // through; every slot/body from there up survives (versions in
    // [keepFrom, keepOldest) stay readable too — the documented
    // at-least semantics)
    var keepFrom = keepOldest
    var walking = true
    while (walking && keepFrom >= 1) {
      store.at(log, keepFrom) match {
        case Some(lines) if kindOf(dir, keepFrom, lines) == "checkpoint" => walking = false
        case Some(_) => keepFrom -= 1
        case None => walking = false // chain already truncated below
      }
    }
    val live: Set[String] = (keepFrom to tip)
      .flatMap(w => resolveAt(store, dir, w)
        .map(_.entries.values.map(_.leaf)).getOrElse(Nil)).toSet

    val cutoff = System.currentTimeMillis() - graceMs
    val data = new Path(s"$dir/$DataDir")
    if (fs.exists(data))
      fs.listStatus(data).foreach { commitDir =>
        val cname = commitDir.getPath.getName
        fs.listStatus(commitDir.getPath).foreach { leaf =>
          if (!live.contains(s"$DataDir/$cname/${leaf.getPath.getName}") &&
              leaf.getModificationTime <= cutoff)
            fs.delete(leaf.getPath, true): Unit
        }
        // a commit whose every leaf was superseded leaves an empty
        // shell — but a YOUNG shell may be a writer mid-stage
        if (fs.listStatus(commitDir.getPath).isEmpty &&
            commitDir.getModificationTime <= cutoff)
          fs.delete(commitDir.getPath, true): Unit
      }

    // log reclaim: slots below keepFrom go; then bodies (the symlink
    // store's m-*.tsv files) no surviving slot points to. Slots BEFORE
    // bodies: deleting a body first would leave its slot a dangling
    // symlink, which the Hadoop local FS can no longer delete
    // (getFileStatus follows the link) — and a dangling slot would read
    // as a corrupt version.
    val logPath = new Path(log)
    val (slots, bodies) = fs.listStatus(logPath).toSeq
      .partition(s => CommitStore.versionOf(s.getPath.getName).isDefined)
    val (dead, kept) = slots.partition(s =>
      CommitStore.versionOf(s.getPath.getName).exists(_ < keepFrom))
    dead.foreach(s => fs.delete(s.getPath, false): Unit)
    val liveBodies: Set[String] = kept.flatMap { s =>
      val p = CommitStore.localPath(log).resolve(s.getPath.getName)
      if (java.nio.file.Files.isSymbolicLink(p))
        Some(java.nio.file.Files.readSymbolicLink(p).toString)
      else None
    }.toSet
    bodies.foreach { st =>
      // grace applies here too: a rename-store writer's .tmp body (or a
      // symlink-store body written microseconds before its CAS) must
      // not be reclaimed from under an in-flight commit. The advisory
      // _tip and _meta are not bodies at all — the hint points at the
      // surviving tip (deleting it would only degrade every subsequent
      // latest() probe back to a full listing) and the meta slot is
      // the table's immutable partition-spec record.
      if (st.getPath.getName != CommitStore.TipHint &&
          st.getPath.getName != CommitStore.MetaFile &&
          st.getPath.getName != TxConstraints.constraintsDirName &&
          !liveBodies.contains(st.getPath.getName) &&
          st.getModificationTime <= cutoff)
        fs.delete(st.getPath, false): Unit
    }
  }
}
