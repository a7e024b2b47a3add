package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, DropConstraint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** CHECK constraints on graft-tx tables — write-side data quality
  * contracts, SQL-managed:
  *
  * {{{
  *   ALTER TABLE fact ADD CONSTRAINT price_pos CHECK (price > 0)
  *   ALTER TABLE fact DROP CONSTRAINT [IF EXISTS] price_pos
  *   SHOW CONSTRAINTS fact            -- or SHOW CONSTRAINTS '/w/fact'
  * }}}
  *
  * Semantics are the SQL standard's: a row violates a constraint only
  * when the condition evaluates to FALSE — NULL passes (which is also
  * what makes schema evolution sane: a batch that predates a column
  * writes NULLs and cannot trip a check on it). ADD validates the
  * whole existing snapshot first and refuses if any row already
  * violates; every row-writing verb afterwards (upsert / merge /
  * applyCdc / updateWhere / replaceWindow, and therefore INSERT INTO,
  * SQL UPDATE / MERGE and the streaming sink, which ride them) gates
  * its incoming rows with ONE aggregate pass per batch — O(batch),
  * never a table scan — and refuses the whole commit on violation, so
  * a constraint can never half-land.
  *
  * Storage: a CAS-versioned log of the full (name → condition) set at
  * `<table>/_graft_log/_constraints/`, updated through the same
  * [[CommitStore]] primitives as data commits — concurrent ADDs race
  * on the slot and the loser re-reads and retries, exactly like
  * writers. Maintenance rewrites (OPTIMIZE / compaction / materialize)
  * are rows-preserving and skip the gate by design; RESTORE is gated —
  * it enforces the constraint set on the restored snapshot, so a
  * restore that would resurrect violating rows refuses until the
  * constraint is dropped first.
  *
  * ==ADD vs concurrent writers==
  *
  * The constraint log is CAS-separate from the data log, so ADD and an
  * in-flight writer need a serialization point or a writer that read
  * the pre-ADD (empty) set could land violating rows after ADD's
  * validation — an armed constraint silently violated. The protocol
  * closes this with a write BARRIER through the data log:
  *
  *  1. ADD validates the existing snapshot (tip v0), publishes the
  *     constraint, then takes an EMPTY commit in the DATA log (the
  *     barrier, version m).
  *  2. Every writer re-probes the constraint log tip on each commit
  *     attempt, AFTER reading the data tip it will CAS against
  *     ([[Gate]]), re-enforcing when the set moved.
  *
  * A writer committing at a slot > m read a data tip ≥ m, which is only
  * visible after the barrier — itself after the publish — so its probe
  * saw the new constraint and its batch was gated. A writer at a slot
  * < m is re-validated: when commits interleaved between v0 and the
  * barrier (m > v0+1), ADD re-validates the snapshot and on violation
  * REMOVES the constraint and refuses — the writer's commit stands, the
  * ADD fails, and the constraint never half-holds. (Residual crash
  * window: an ADD process dying between publish and re-validation
  * leaves the constraint armed with up to the interleaved commits
  * unvalidated — the sidecar-log trade, bounded to that one window.)
  *
  * SQL integration: Spark 4 PARSES the ANSI constraint statements but
  * its analyzer refuses them for V1 session-catalog tables inside the
  * main resolution batch — before injected resolution rules ever run
  * (probed; the refusal comes from the builtin constraint resolution,
  * not CheckAnalysis). The interception therefore rides the HINT
  * resolution batch (`injectHintResolutionRule`), which runs first:
  * [[TxConstraints.Interception]] matches the still-unresolved
  * statement, resolves the target through the session catalog itself,
  * and substitutes the command — when and only when the target is a
  * graft-tx catalog table; anything else falls through to Spark's own
  * (refusing) path untouched. SHOW CONSTRAINTS is not Spark grammar at
  * all and lands via [[GraftSqlParser]] like DESCRIBE HISTORY.
  */
object TxConstraints {

  private val Dir = "_constraints"
  private[io] def constraintsDirName: String = Dir

  private def logOf(dir: String) = s"$dir/${TxTable.LogDir}/$Dir"

  /** The table's current constraints, in ADD order. */
  def of(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val log = logOf(dir)
    val store = CommitStore.forPath(TxTable.fsOf(spark, dir), log)
    val (v, lines) = store.latest(log)
    if (v == 0) Seq.empty else parseLines(lines)
  }

  private def parseLines(lines: Seq[String]): Seq[(String, String)] =
    lines.filter(_.contains('\t')).map { l =>
      val Array(n, c) = l.split('\t')
      (TxTable.vdecode(n), TxTable.vdecode(c))
    }

  private def render(cs: Seq[(String, String)]): Seq[String] =
    cs.map { case (n, c) => s"${TxTable.vhexOf(n)}\t${TxTable.vhexOf(c)}" }

  /** ADD: guard the expression (no subqueries — the gate re-evaluates
    * under CAS retries and per batch; non-determinism is caught on an
    * analyzed plan over the table's schema), validate every EXISTING
    * row, CAS the new set, then serialize against in-flight writers
    * through a data-log barrier (see the object scaladoc) — when
    * commits interleaved with the validation, the snapshot re-validates
    * and a violation un-publishes the constraint and refuses. Duplicate
    * names refuse, case-insensitively.
    *
    * On a table with no committed snapshot the checks run against
    * `schemaHint` (the cataloged schema, passed by the SQL face); with
    * neither a snapshot nor a hint there is NOTHING to validate column
    * references or determinism against, and the ADD refuses loudly — a
    * typo'd column would otherwise pass vacuously on every future batch
    * and the constraint would silently never enforce.
    *
    * @param beforeBarrier test seam: runs between the constraint
    *   publish and the data-log barrier — the race window a concurrent
    *   writer's commit can land in. */
  def add(spark: SparkSession, dir: String, name: String, condition: String,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None,
      beforeBarrier: () => Unit = () => ()): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    val parsed = CatalystSqlParser.parseExpression(condition)
    require(!parsed.exists(_.isInstanceOf[SubqueryExpression]),
      s"CHECK ($condition): subqueries are not supported in constraints " +
        "(the gate re-evaluates per incoming batch)")
    // tip BEFORE the validation snapshot: any commit past v0 is either
    // re-validated below or provably gated (see the barrier protocol)
    val v0 = TxTable.latestVersion(spark, dir)
    def validate(frame: DataFrame, countRows: Boolean): Unit = {
      val refs = parsed.collect { case u: UnresolvedAttribute => u.nameParts.head }
      val missing = refs.filterNot(r => frame.columns.exists(_.equalsIgnoreCase(r)))
      require(missing.isEmpty,
        s"CHECK ($condition) references column(s) the table does not " +
          s"have: ${missing.distinct.mkString(", ")}")
      val proj = frame.select(expr(condition).as("c"))
      require(proj.queryExecution.analyzed.expressions.forall(_.deterministic),
        s"CHECK ($condition) is non-deterministic — the gate re-evaluates " +
          "it per batch and under commit retries")
      if (countRows) {
        // violation = condition IS FALSE (NULL passes, the SQL contract)
        val bad = frame.filter(expr(condition) === lit(false)).count()
        require(bad == 0L,
          s"cannot ADD CONSTRAINT $name CHECK ($condition): $bad existing " +
            s"row(s) of $dir violate it")
      }
    }
    TxTable.snapshot(spark, dir) match {
      case Some(snap) => validate(snap, countRows = true)
      case None => schemaHint match {
        case Some(schema) =>
          validate(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], schema), countRows = false)
        case None => throw new IllegalArgumentException(
          s"cannot ADD CONSTRAINT $name on $dir: the table has no " +
            "committed snapshot and no cataloged schema to validate " +
            "against — commit once first, or create the table through " +
            "the catalog so the constraint's column references can be " +
            "checked (an unchecked typo would silently never enforce)")
      }
    }
    val log = logOf(dir)
    val store = CommitStore.forPath(TxTable.fsOf(spark, dir), log)
    CommitStore.retrying(store, log, "ADD CONSTRAINT", dir) { _ =>
      val (v, lines) = store.latest(log)
      val cur = if (v == 0) Seq.empty else parseLines(lines)
      require(!cur.exists(_._1.equalsIgnoreCase(name)),
        s"constraint $name already exists on $dir")
      Right(CommitStore.Publish(v + 1, render(cur :+ (name -> condition)), ()))
    }
    beforeBarrier()
    // barrier: after this empty data-log commit wins version m, any
    // writer landing a later slot provably probed the published set
    val m = TxTable.barrierCommit(spark, dir)
    if (m > v0 + 1) {
      // commits interleaved between validation and the barrier — they
      // enforced the PRE-add set, so the armed constraint must be
      // re-proven against the current snapshot; a violation means a
      // writer legitimately raced the ADD: the commit stands, the ADD
      // un-publishes and fails
      val bad = TxTable.snapshot(spark, dir)
        .map(_.filter(expr(condition) === lit(false)).count()).getOrElse(0L)
      if (bad > 0L) {
        drop(spark, dir, name, ifExists = true)
        throw new IllegalArgumentException(
          s"cannot ADD CONSTRAINT $name CHECK ($condition): a concurrent " +
            s"commit landed $bad violating row(s) on $dir during the add — " +
            "the commit stands, the constraint was not added")
      }
    }
  }

  /** DROP: CAS the set minus `name`; absent + !ifExists refuses. */
  def drop(spark: SparkSession, dir: String, name: String,
      ifExists: Boolean = false): Unit = {
    val log = logOf(dir)
    val store = CommitStore.forPath(TxTable.fsOf(spark, dir), log)
    CommitStore.retrying(store, log, "DROP CONSTRAINT", dir) { _ =>
      val (v, lines) = store.latest(log)
      val cur = if (v == 0) Seq.empty else parseLines(lines)
      val kept = cur.filterNot(_._1.equalsIgnoreCase(name))
      if (kept.size == cur.size) {
        require(ifExists, s"constraint $name does not exist on $dir")
        Left(())
      } else Right(CommitStore.Publish(v + 1, render(kept), ()))
    }
  }

  /** Copy the source table's constraint set onto a fresh clone (first
    * version of the clone's constraint log; no-op when the source has
    * none). Best-effort creation-time copy — the clone is unpublished,
    * so there is no race to lose. */
  private[io] def cloneInto(
      spark: SparkSession, sourceDir: String, targetDir: String): Unit = {
    val cs = of(spark, sourceDir)
    if (cs.nonEmpty) {
      val log = logOf(targetDir)
      val store = CommitStore.forPath(TxTable.fsOf(spark, targetDir), log)
      store.tryCommit(log, 1L, render(cs)): Unit
    }
  }

  /** The write-side gate: ONE aggregate pass over `batch` counting,
    * per constraint, the rows whose condition IS FALSE; any non-zero
    * count refuses the verb before anything stages. A constraint whose
    * referenced columns are absent from the batch passes vacuously
    * (those rows write NULL there, and NULL passes CHECK). Zero
    * overhead when the table has no constraints beyond one tip probe
    * of the (usually absent) constraints log. */
  private[io] def enforce(
      spark: SparkSession, dir: String, batch: DataFrame, verb: String): Unit = {
    val log = logOf(dir)
    val store = CommitStore.forPath(TxTable.fsOf(spark, dir), log)
    val (v, lines) = store.latest(log)
    enforceSet(if (v == 0) Seq.empty else parseLines(lines), batch, dir, verb)
  }

  /** Tracks the constraints-log version a batch was last enforced at,
    * so a commit loop can cheaply re-probe per CAS attempt and only pay
    * the O(batch) aggregate again when the set actually MOVED (an ADD
    * or DROP raced the commit — the barrier protocol's writer half).
    * Call [[ensure]] once before staging (fail-fast) and once per
    * attempt AFTER reading the data tip the attempt will CAS against —
    * that ordering is what the barrier proof relies on. */
  private[io] final class Gate(
      spark: SparkSession, dir: String, verb: String) {
    private var enforcedAt = -1L
    def ensure(batch: DataFrame): Unit = {
      val log = logOf(dir)
      val store = CommitStore.forPath(TxTable.fsOf(spark, dir), log)
      val (v, lines) = store.latest(log)
      if (v != enforcedAt) {
        enforceSet(if (v == 0) Seq.empty else parseLines(lines), batch, dir, verb)
        enforcedAt = v
      }
    }
  }

  private def enforceSet(cs: Seq[(String, String)],
      batch: DataFrame, dir: String, verb: String): Unit = {
    if (cs.isEmpty) return
    val cols = batch.columns
    val applicable = cs.filter { case (_, cond) =>
      CatalystSqlParser.parseExpression(cond)
        .collect { case u: UnresolvedAttribute => u.nameParts.head }
        .forall(r => cols.exists(_.equalsIgnoreCase(r)))
    }
    if (applicable.isEmpty) return
    val aggs = applicable.map { case (n, c) =>
      coalesce(sum(when(expr(c) === lit(false), 1L).otherwise(0L)), lit(0L)).as(n)
    }
    val row = batch.agg(aggs.head, aggs.tail: _*).head()
    val violated = applicable.zipWithIndex.collect {
      case ((n, c), i) if row.getLong(i) > 0 =>
        s"$n CHECK ($c) — ${row.getLong(i)} row(s)"
    }
    require(violated.isEmpty,
      s"graft-tx $verb refused: incoming rows violate " +
        s"${violated.mkString("; ")} on $dir")
  }

  // ---- SQL faces -------------------------------------------------------

  /** Hint-batch analyzer rule (`injectHintResolutionRule` — see the
    * object scaladoc for why the ordinary resolution seam is too late):
    * converts the ANSI constraint statements over graft-tx catalog
    * tables into runnable commands while the plan is still unresolved.
    * The target identifier resolves through the session catalog HERE
    * (rule time = statement execution time for DDL), so only graft-tx
    * tables divert; everything else keeps Spark's own behavior. */
  object Interception extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case a: AddCheckConstraint =>
        withTxTable(a.child) { ct =>
          val characteristic = a.checkConstraint.userProvidedCharacteristic
          require(!characteristic.enforced.contains(false),
            "graft-tx CHECK constraints are always ENFORCED — " +
              "NOT ENFORCED is not supported")
          // the cataloged schema validates column references even on a
          // never-committed table (where there is no snapshot to check)
          TxAddConstraintCommand(TxCatalog.pathOf(ct),
            a.checkConstraint.name, a.checkConstraint.condition,
            Some(ct.schema).filter(_.nonEmpty))
        }.getOrElse(plan)
      case d: DropConstraint =>
        withTxTable(d.table)(ct =>
          TxDropConstraintCommand(TxCatalog.pathOf(ct), d.name, d.ifExists))
          .getOrElse(plan)
      case other => other
    }

    /** The statement's target table record, IF it is a graft-tx catalog
      * table (the child is still unresolved — AddCheckConstraint carries
      * Spark's validation scan over an UnresolvedRelation, DropConstraint
      * an UnresolvedTable). */
    private def withTxTable(child: LogicalPlan)(
        f: org.apache.spark.sql.catalyst.catalog.CatalogTable => LogicalPlan)
        : Option[LogicalPlan] =
      child.collectFirst {
        case u: UnresolvedRelation => u.multipartIdentifier
        case t: UnresolvedTable => t.multipartIdentifier
      }.flatMap {
        case Seq(t) => Some(TableIdentifier(t))
        case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
        case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
          Some(TableIdentifier(t, Some(db)))
        case _ => None
      }.flatMap(TxCatalog.txTable).map(f)
  }
}

/** `ALTER TABLE <tx> ADD CONSTRAINT <name> CHECK (<cond>)` →
  * [[TxConstraints.add]] (validates the existing snapshot — or the
  * cataloged schema on a never-committed table — then CAS + barrier). */
case class TxAddConstraintCommand(
    path: String, name: String, condition: String,
    schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxConstraints.add(spark, path, name, condition, schemaHint)
    Seq.empty
  }
}

/** `ALTER TABLE <tx> DROP CONSTRAINT [IF EXISTS] <name>` →
  * [[TxConstraints.drop]]. RESTRICT/CASCADE both accept: a CHECK
  * constraint has no dependents to cascade to. */
case class TxDropConstraintCommand(
    path: String, name: String, ifExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxConstraints.drop(spark, path, name, ifExists)
    Seq.empty
  }
}

/** `SHOW CONSTRAINTS <table-or-'/path'>` → the current (name,
  * condition) set, in ADD order. */
case class TxShowConstraintsCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("condition", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    TxConstraints.of(spark, TxCatalog.resolvePath(spark, target))
      .map { case (n, c) => Row(n, c) }
}
