package graft.io

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.graft.bridge

/** SQL DML statements over `graft-tx` tables — the missing face of the
  * data-source seam ([[TxDataSource]]): with this rule installed,
  *
  * {{{
  *   spark.sql(s"CREATE TEMPORARY VIEW fact USING `graft-tx` OPTIONS (path '$dir')")
  *   spark.sql("DELETE FROM fact WHERE day < '2024-01-03'")
  *   spark.sql("UPDATE fact SET value = value * 2 WHERE day = '2024-01-05'")
  *   spark.sql("""MERGE INTO fact t USING updates s ON t.id = s.id
  *                WHEN MATCHED AND s.value > t.value THEN UPDATE SET value = s.value
  *                WHEN MATCHED AND s.op = 'D' THEN DELETE
  *                WHEN NOT MATCHED THEN INSERT *""")
  * }}}
  *
  * each execute as ONE transactional commit through the corresponding
  * [[TxTable]] verb (`deleteWhere` / `updateWhere` / `merge`) — CAS
  * races, manifest pruning, O(touched-partition) staging and the
  * change feed all included, because the SQL spelling IS the verb.
  *
  * How it plugs in: Spark's parser already produces
  * `DeleteFromTable` / `UpdateTable` / `MergeIntoTable` nodes and its
  * analyzer fully resolves them against a V1 relation — they die only
  * later (DELETE in the optimizer's v2 rewrite, UPDATE/MERGE at
  * planning, both with "only supported with v2 tables"-class errors).
  * [[TxSqlDml.Resolution]] converts the *analyzed* statement into a
  * `LeafRunnableCommand` before those stages see it — the same
  * analysis-time interception the public table formats use for their
  * SQL DML. Installed two ways:
  *
  *  - session build: `spark.sql.extensions=graft.GraftExtensions`
  *    (injected as a resolution rule) — then plain `spark.sql(…)` works;
  *  - live session: [[TxCatalog.sql]] parses, analyzes, converts and
  *    runs one statement (resolution rules cannot be added to an
  *    already-built session; that entry point is the retrofit for the
  *    whole SQL surface, ending in [[TxSqlDml.convert]]).
  *
  * Condition/assignment expressions are detached from the analyzed
  * relation by rebinding every column reference BY NAME (the commit
  * verbs re-read the table under CAS retries, so holding the analyzed
  * plan's attribute ids would pin a stale scan anyway). Consequences,
  * checked loudly at conversion: predicates must be deterministic and
  * subquery-free (`DELETE … WHERE id IN (SELECT …)` is refused — run
  * the subquery to a frame and use [[TxTable.delete]]), and a MERGE
  * source may not collide column names across sides beyond the usual
  * `t.`/`s.` disambiguation SQL already requires.
  *
  * Pruning rides along: WHERE conjuncts that reference only the
  * table's partition columns become the verb's `scope` predicate, so a
  * day-ranged DELETE prunes at the manifest and never scans the rest
  * of the table — the SQL path costs exactly what the native call
  * costs.
  *
  * MERGE mapping (refusals are analysis-time `AnalysisException`-class
  * errors, never silent):
  *  - ON must be one equality `t.<key> = s.<key>` with the SAME column
  *    name both sides ([[TxTable.merge]] keys by one shared name —
  *    alias the source column if it differs);
  *  - at most one UPDATE and one DELETE among WHEN MATCHED clauses;
  *    SQL's first-match-wins order is preserved by shadowing the later
  *    clause's condition with the earlier one's negation;
  *  - `UPDATE SET *` drops the key assignment (a no-op on matched
  *    rows) and identity partition-column assignments (the key→
  *    partition stability contract makes them no-ops); any OTHER
  *    reassignment of key/partition columns is refused — a row may not
  *    migrate partitions;
  *  - INSERT must be identity-shaped over the source (`INSERT *`, or
  *    explicit assignments `col = s.col` covering every source column
  *    the target shares) — reshape the source otherwise, it is the
  *    unambiguous spelling;
  *  - WHEN NOT MATCHED BY SOURCE and WITH SCHEMA EVOLUTION are not
  *    supported (no [[TxTable]] verb expresses them — evolution happens
  *    on the write side schema union instead).
  */
object TxSqlDml extends PredicateHelper {

  /** Analyzer rule (for `SparkSessionExtensions.injectResolutionRule`):
    * converts resolved DML statements over graft-tx relations into
    * runnable commands. Statements over any other relation pass
    * through untouched. */
  object Resolution extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = convert(plan)
  }

  /** The conversion itself — public so a custom driver can compose it
    * into its own rule stack. Only the statement ROOT is matched: SQL
    * DML cannot nest. */
  def convert(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(TxTarget(tx, _), cond) if d.resolved =>
      checkWritable(tx, "DELETE")
      checkPredicate(cond, "DELETE … WHERE")
      TxDeleteCommand(tx.path, tx.partCols,
        Detached(byName(cond)), scopeOf(cond, tx.partCols))

    case u @ UpdateTable(TxTarget(tx, _), assignments, cond) if u.resolved =>
      checkWritable(tx, "UPDATE")
      cond.foreach(checkPredicate(_, "UPDATE … WHERE"))
      val set = assignments.map {
        case Assignment(k: AttributeReference, v) =>
          checkPredicate(v, s"UPDATE … SET ${k.name}")
          k.name -> Detached(byName(v))
        case a => fail(s"UPDATE assigns a non-column target: ${a.sql} " +
          "(nested-field assignment is not supported)")
      }
      // duplicate targets would silently keep only the last assignment
      val dupSet = set.map(_._1.toLowerCase).diff(
        set.map(_._1.toLowerCase).distinct)
      if (dupSet.nonEmpty)
        fail(s"UPDATE assigns ${dupSet.distinct.mkString(", ")} more than once")
      val pred = cond.map(c => Detached(byName(c)))
      TxUpdateCommand(tx.path, tx.partCols, set,
        pred, cond.flatMap(scopeOf(_, tx.partCols)))

    case m @ MergeIntoTable(TxTarget(tx, tOut), source, cond,
        matched, notMatched, notMatchedBySource, withSchemaEvolution)
        if m.resolved =>
      checkWritable(tx, "MERGE")
      require(!withSchemaEvolution,
        "MERGE … WITH SCHEMA EVOLUTION is not supported on graft-tx " +
          "(schema union happens on the write side instead)")
      require(notMatchedBySource.isEmpty,
        "WHEN NOT MATCHED BY SOURCE is not supported on graft-tx")
      convertMerge(tx, tOut, source, cond, matched, notMatched)

    case other => other
  }

  // ---- matching ------------------------------------------------------

  /** Unwraps SubqueryAlias/View chains down to a graft-tx V1 relation. */
  private object TxTarget {
    @scala.annotation.tailrec
    private def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => unwrap(child)
      case v: View => unwrap(v.child)
      case other => other
    }
    def unapply(p: LogicalPlan): Option[(TxRelation, Seq[Attribute])] =
      unwrap(p) match {
        case lr: LogicalRelation => lr.relation match {
          case tx: TxRelation => Some((tx, lr.output))
          case _ => None
        }
        case _ => None
      }
  }

  // ---- shared guards ---------------------------------------------------

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft-tx SQL DML: $msg")

  private def checkWritable(tx: TxRelation, verb: String): Unit = {
    if (tx.versionAsOf.isDefined)
      fail(s"$verb on a versionAsOf (time travel) view is not allowed — " +
        "point the view at the live table")
    if (tx.partCols.isEmpty)
      fail(s"$verb needs the table's partition columns; commit once " +
        "through a write verb (which records them in _meta) or pass " +
        "the partitionColumns option on the view")
  }

  private def checkPredicate(e: Expression, where: String): Unit = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      fail(s"subqueries are not supported in $where — materialize the " +
        "subquery to a frame and use the TxTable verb directly")
    if (!e.deterministic)
      fail(s"non-deterministic expressions are not supported in $where " +
        "(the commit re-evaluates under CAS retries)")
  }

  /** Detach an expression from the analyzed plan: every column
    * reference rebinds BY NAME against whatever frame the verb scans. */
  private def byName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  /** WHERE conjuncts referencing only partition columns → the verb's
    * manifest-pruning scope (a subset of the predicate's conjuncts, so
    * `pred AND scope` ≡ `pred` — pruning can only narrow the scan,
    * never the semantics). */
  private def scopeOf(cond: Expression, partCols: Seq[String]): Option[Detached] =
    splitConjunctivePredicates(cond)
      .filter(c => c.references.nonEmpty &&
        c.references.forall(a => partCols.exists(_.equalsIgnoreCase(a.name))))
      .reduceOption(org.apache.spark.sql.catalyst.expressions.And)
      .map(e => Detached(byName(e)))

  // ---- MERGE -----------------------------------------------------------

  private def convertMerge(
      tx: TxRelation, tOut: Seq[Attribute], source: LogicalPlan,
      cond: Expression, matched: Seq[MergeAction],
      notMatched: Seq[MergeAction]): LogicalPlan = {
    val tSet = AttributeSet(tOut)
    val sSet = AttributeSet(source.output)

    val key = cond match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tSet.contains(a) && sSet.contains(b) =>
        requireSameName(a, b); a.name
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if tSet.contains(a) && sSet.contains(b) =>
        requireSameName(a, b); a.name
      case other => fail("MERGE ON must be a single equality " +
        s"t.<key> = s.<key>, got: ${other.sql}")
    }

    // clause expressions keep their two-sided references: inside the
    // merge they evaluate against the joined frame under the t/s
    // aliases the engine verb establishes
    def sided(e: Expression): Detached = {
      checkPredicate(e, "a MERGE clause")
      Detached(e.transform {
        case a: AttributeReference if tSet.contains(a) =>
          UnresolvedAttribute(Seq("t", a.name))
        case a: AttributeReference if sSet.contains(a) =>
          UnresolvedAttribute(Seq("s", a.name))
      })
    }

    // WHEN MATCHED: at most one UPDATE and one DELETE, order preserved
    val (updateAct, deleteAct, updateFirst) = matched match {
      case Seq() => (None, None, true)
      case Seq(u: UpdateAction) => (Some(u), None, true)
      case Seq(d: DeleteAction) => (None, Some(d), false)
      case Seq(u: UpdateAction, d: DeleteAction) => (Some(u), Some(d), true)
      case Seq(d: DeleteAction, u: UpdateAction) => (Some(u), Some(d), false)
      case other => fail("WHEN MATCHED supports at most one UPDATE and " +
        s"one DELETE clause, got ${other.size} clauses")
    }

    val isIdentityFromSource = (k: AttributeReference, v: Expression) =>
      v match {
        case a: AttributeReference =>
          sSet.contains(a) && a.name.equalsIgnoreCase(k.name)
        case _ => false
      }
    val isPartCol = (n: String) => tx.partCols.exists(_.equalsIgnoreCase(n))

    val updateSet = updateAct.toSeq.flatMap(_.assignments).flatMap {
      case Assignment(k: AttributeReference, v) =>
        if (k.name.equalsIgnoreCase(key)) {
          // key := s.key is a no-op on matched rows (they joined on it)
          if (isIdentityFromSource(k, v)) None
          else fail(s"MERGE must not reassign the key column '${k.name}'")
        } else if (isPartCol(k.name)) {
          // identity partition assignment is a no-op under the key→
          // partition stability contract; anything else migrates rows
          if (isIdentityFromSource(k, v)) None
          else fail(s"MERGE must not reassign partition column '${k.name}' " +
            "(a row may not migrate partitions)")
        } else Some(k.name -> sided(v))
      case a => fail(s"MERGE UPDATE assigns a non-column target: ${a.sql}")
    }

    // duplicate UPDATE targets would silently keep only the last one
    val dupU = updateSet.map(_._1.toLowerCase).diff(
      updateSet.map(_._1.toLowerCase).distinct)
    if (dupU.nonEmpty)
      fail(s"MERGE UPDATE assigns ${dupU.distinct.mkString(", ")} more than once")

    // WHEN NOT MATCHED: identity-shaped insert only — the engine verb
    // inserts the source row by name, so the assignments must SAY that
    // AND cover every source column the target shares (a partial list
    // would silently insert source values for the omitted columns —
    // SQL requires NULL there; omit columns by projecting the source)
    val shared = tOut.map(_.name).filter(tc =>
      source.output.exists(_.name.equalsIgnoreCase(tc)))
    val insert: Option[Option[Detached]] = notMatched match {
      case Seq() => None
      case Seq(InsertAction(c, assignments)) =>
        assignments.foreach {
          case Assignment(k: AttributeReference, v)
              if isIdentityFromSource(k, v) => ()
          case a => fail("MERGE INSERT must be identity-shaped " +
            s"(INSERT * / col = s.col), got: ${a.sql} — reshape the " +
            "source (SELECT … AS <target names>) and use INSERT *")
        }
        val assigned = assignments.collect {
          case Assignment(k: AttributeReference, _) => k.name.toLowerCase
        }.toSet
        val missing = shared.filterNot(c => assigned(c.toLowerCase))
        if (missing.nonEmpty)
          fail("MERGE INSERT must assign every source column the target " +
            s"shares, missing: ${missing.mkString(", ")} — SQL inserts " +
            "NULL for unlisted columns, which the engine verb cannot " +
            "express; project the source to the columns you insert")
        Some(c.map(sided))
      case other => fail("WHEN NOT MATCHED supports one INSERT clause, " +
        s"got ${other.size}")
    }

    TxMergeCommand(tx.path, tx.partCols, key, source,
      updateSet, updateAct.flatMap(_.condition).map(sided),
      hasUpdate = updateAct.isDefined,
      deleteAct.map(d => d.condition.map(sided)), updateFirst, insert,
      targetCols = tOut.map(_.name))
  }

  private def requireSameName(t: AttributeReference, s: AttributeReference): Unit =
    if (!t.name.equalsIgnoreCase(s.name))
      fail(s"MERGE keys must share a name (target '${t.name}' vs source " +
        s"'${s.name}') — alias the source column to '${t.name}'")
}

/** Opaque expression holder: the commands below carry deliberately
  * UNRESOLVED (name-rebound) expressions that only resolve inside the
  * verb, against the scan it builds at commit time. A TreeNode collects
  * Expression-typed constructor args into `expressions`, and
  * CheckAnalysis would reject the already-converted command for those
  * pending references — so they ride in this non-Expression wrapper,
  * invisible to the traversal. */
final case class Detached(e: Expression) {
  def column: Column = bridge.column(e)
  override def toString: String = e.sql
}

/** `DELETE FROM <tx> WHERE pred` → [[TxTable.deleteWhere]]. */
case class TxDeleteCommand(
    path: String, partCols: Seq[String],
    pred: Detached, scope: Option[Detached]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxTable.deleteWhere(spark, path, PartitionSpec(partCols),
      pred.column, scope.map(_.column))
    Seq.empty
  }
}

/** `UPDATE <tx> SET … WHERE pred` → [[TxTable.updateWhere]]. */
case class TxUpdateCommand(
    path: String, partCols: Seq[String],
    set: Seq[(String, Detached)],
    pred: Option[Detached], scope: Option[Detached])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxTable.updateWhere(spark, path, PartitionSpec(partCols),
      set.map { case (n, e) => n -> e.column },
      pred.map(_.column).getOrElse(lit(true)),
      scope.map(_.column))
    Seq.empty
  }
}

/** `MERGE INTO <tx> t USING src s ON … WHEN …` → [[TxTable.merge]].
  *
  * `deleteCond` is `None` = no DELETE clause; `Some(None)` =
  * unconditional DELETE. SQL's clause order (first match wins) maps
  * onto the engine verb's fixed DELETE-then-UPDATE precedence by
  * shadowing: with UPDATE written first, the delete condition gains
  * `AND NOT <update condition>`; an unconditional UPDATE written first
  * makes a later DELETE dead code (dropped). With DELETE first the
  * verb's native precedence already matches. */
case class TxMergeCommand(
    path: String, partCols: Seq[String], key: String,
    source: LogicalPlan,
    updateSet: Seq[(String, Detached)],
    updateCond: Option[Detached],
    hasUpdate: Boolean,
    deleteCond: Option[Option[Detached]],
    updateFirst: Boolean,
    insert: Option[Option[Detached]],
    targetCols: Seq[String]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = bridge.ofRows(spark, source)
    val missing = (key +: partCols)
      .filterNot(c => src.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"MERGE INTO a graft-tx table needs the source to carry the key " +
        s"and partition columns; missing: ${missing.mkString(", ")}")
    def holds(c: Column): Column = coalesce(c, lit(false))
    val uc = updateCond.map(_.column)
    // SQL first-match-wins vs the verb's delete-first evaluation.
    // `hasUpdate` tracks the CLAUSE, not the surviving assignments: an
    // UPDATE whose assignments all dropped (pure-identity SET *) still
    // consumes matched rows ahead of a later DELETE.
    val effDelete: Option[Column] = deleteCond.flatMap { dc =>
      val dCol = dc.map(_.column)
      if (!hasUpdate || !updateFirst) Some(dCol.getOrElse(lit(true)))
      else uc match {
        case None => None // unconditional UPDATE first: DELETE is dead
        case Some(u) =>
          Some(dCol.fold(!holds(u))(d => holds(d) && !holds(u)))
      }
    }
    TxTable.merge(spark, path, src, key, PartitionSpec(partCols),
      updateSet = updateSet.map { case (n, e) => n -> e.column },
      updateCond = uc.getOrElse(lit(true)),
      deleteCond = effDelete,
      insertCond = insert.map(_.map(_.column).getOrElse(lit(true))),
      // SQL MERGE never widens the target: source-only columns stay
      // usable in clause conditions but the committed schema is pinned
      // to the table's columns (WITH SCHEMA EVOLUTION is refused)
      outputCols = Some(targetCols))
    Seq.empty
  }
}
