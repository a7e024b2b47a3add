package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** Plan-shape invariants: the properties that make the engine hold at
  * 100 TB are asserted on the optimized physical plans themselves, so a
  * regression that silently de-optimizes a query (lost broadcast, lost
  * pruning, accidental cartesian) fails CI rather than a cluster.
  */
class PlanShapeSpec extends SparkTestBase {

  private object Aqe extends AdaptiveSparkPlanHelper

  private def executedPlanString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfSmoke)
    df.count() // let AQE settle on the final plan
    df.queryExecution.executedPlan.toString
  }

  test("dense-id assignment never plans the single-task global window") {
    // the un-partitioned ROW_NUMBER / running-SUM spelling funnels the
    // whole frame through one task (Spark warns exactly this); DenseId
    // and Prefix exist to avoid it — the plans must contain a range
    // exchange and NO window. r8: w9/a29/zipf moved off the window
    // spelling onto DenseId/Prefix; pin them so they never regress.
    for (name <- Seq("x_dense_ids", "w9_abc_pareto", "a29_gini", "x_zipf_fit")) {
      val p = executedPlanString(name)
      assert(!p.contains("Window"), s"$name plans a global window")
    }
  }

  test("sequential per-key folds shuffle exactly once") {
    // t13/t14's recurrences read their own output — the plan is one
    // key exchange + an in-task fold; a second data exchange would mean
    // the fold leaked into a join/window respelling
    for (name <- Seq("t13_ewma", "t14_debounce", "t15_holt")) {
      val p = executedPlanString(name)
      val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(dataExchanges == 1, s"$name plans $dataExchanges hash exchanges, expected 1")
    }
  }

  test("no query plans a CartesianProduct") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!executedPlanString(name).contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
  }

  test("only deliberate tiny-broadcast all-pairs use a nested-loop join") {
    // x_ann_brute: exact baseline scores corpus × (broadcast) queries;
    // x_ann_ivf: quantizer assignment scores corpus × (broadcast)
    // codebook; x_bm25 / x_lm_score / x_dataset_card: corpus ×
    // (broadcast) ONE-ROW statistics frame; x_tfidf: pair frame ×
    // (broadcast) one-row n_docs; x_oov_rate: documents × (broadcast)
    // one-row vocab array; j16_basket_pairs / x_dataset_mix: tiny
    // per-group frame × (broadcast) one-row corpus total. All broadcast
    // a constant-size side; everything else must plan hash/sort-merge
    // joins.
    val allPairs = Set("x_ann_brute", "x_ann_ivf", "x_bm25",
      // r13: the drift readout scores corpus × (broadcast) codebook,
      // same deliberate all-pairs as x_ann_ivf
      "x_ann_ivf_drift",
      // hybrid fusion: BM25-stats + 1-row query-vector broadcasts, and
      // the bounded k×k better-than rank join on the top-k frames
      "x_hybrid_retrieval",
      "x_lm_score", "x_dataset_card", "x_tfidf", "x_oov_rate",
      "j16_basket_pairs", "x_dataset_mix", "x_hard_negative",
      "x_filter_yield",
      // r7: one-row stats broadcasts — triangle census (count×count
      // cross), PSI (midpoint + ref-range + totals singles), ABC
      // (one-row revenue total against the part-grain frame)
      "x_triangles", "a25_psi_drift", "w9_abc_pareto",
      // r9: the EXACT label-confusion verifier scores corpus ×
      // (broadcast) corpus — deliberate fixture-scale all-pairs; the
      // headline x_label_confusion now rides the LSH bucket join and
      // must NOT nested-loop. Lorenz joins the 1-row (n, total) stats
      // frame into the 10-row decile-mark frame.
      "x_label_confusion_exact", "w10_lorenz",
      // r8: RFM quintiles join the 1-row user-count frame into each
      // user-grain rank frame
      "a31_rfm",
      // r13: NB scoring crosses the token frame with the ONE-ROW
      // corpus-statistics frame and the per-doc score frame with the
      // ONE-ROW priors frame — both constant-size broadcasts (the
      // vocabulary-sized model itself rides a BroadcastHashJoin)
      "x_nb_classify",
      // r13: the eval crosses vocabulary/tf frames with ONE-ROW corpus
      // totals (ctot; total_tokens × n_docs) — constant-size broadcasts
      "x_retrieval_eval",
      // r13: PQ encode/distance-table stages score corpus × (broadcast)
      // 8-row codebook — the same deliberate all-pairs as x_ann_ivf
      "x_ann_pq",
      // r13: the composed index reuses both tiny-broadcast build stages
      // (16-row coarse centroids, 8-row PQ codebook)
      "x_ann_ivfpq",
      // r14: the trained composition probes query × (broadcast) 16-row
      // TRAINED coarse codebook — same deliberate tiny all-pairs (the
      // trained PQ path itself rides KMeans' literal-codebook
      // projection and equi-joins, so x_ann_pq_trained is NOT here;
      // x_ann_ivf_refresh checkpoints its probe frame, so its final
      // plan is equi-joins only)
      "x_ann_ivfpq_trained")
    SparkEntry.queries.keys.filterNot(allPairs).foreach { name =>
      assert(!executedPlanString(name).contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join")
    }
    allPairs.foreach { name =>
      assert(executedPlanString(name).contains("BroadcastNestedLoopJoin"))
    }
  }

  test("the flagship star join broadcasts its dimensions") {
    assert(executedPlanString("j1_star_join_revenue").contains("BroadcastHashJoin"))
  }

  test("the report pipeline keeps dimension joins broadcast") {
    assert(executedPlanString("w1_report_cheap").contains("BroadcastHashJoin"))
  }

  test("densify's generation stage keeps an explicit un-coalescible width") {
    // AQE sizes post-shuffle stages by input bytes, but densify's explode
    // amplifies rows 100-1000x — the points exchange must be
    // user-specified (REPARTITION_BY_NUM origin) so AQE cannot coalesce
    // the kernel loop down to a handful of tasks (see Interpolate): the
    // default placement, on the group keys at the session's width
    for (name <- Seq("t3_densify_interpolate", "t8_interp_sql")) {
      val df = SparkEntry.queries(name)(spark, sfSmoke)
      df.collect() // let AQE settle on the final plan
      val byNum = Aqe.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }
      assert(byNum.nonEmpty, s"$name lost the explicit-width repartition of the points stage")
      byNum.map(_.outputPartitioning).foreach {
        case HashPartitioning(exprs, n) =>
          assert(n === spark.sessionState.conf.numShufflePartitions, name)
          assert(exprs.map(_.references.head.name) === Seq("source_id", "side_id", "date_id"), name)
        case other => fail(s"$name: the points exchange is $other")
      }
    }
  }

  test("EXISTS / NOT EXISTS decorrelate to semi and anti hash joins") {
    // j12's subqueries must become joins — a surviving correlated
    // subquery would re-execute the orders scan per customer row
    val plan = executedPlanString("j12_exists_semi")
    assert(plan.contains("LeftSemi"), "EXISTS did not plan a semi join")
    assert(plan.contains("LeftAnti"), "NOT EXISTS did not plan an anti join")
    assert(!plan.contains("InSubquery"), "IN survived as a row-at-a-time subquery")
  }

  test("single-column NOT IN plans the hash null-aware anti join, not a nested loop") {
    val plan = executedPlanString("j13_not_in")
    assert(plan.contains("LeftAnti"), "NOT IN did not plan an anti join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "NOT IN fell back to the quadratic nested-loop NAAJ")
  }

  test("the window kitchen evaluates all nine functions in one window stage") {
    // one partitionBy/orderBy → exactly one WindowExec (plus nothing
    // else sorting the fact): nine functions must not fan into
    // per-function window stages. String match because AQE wraps the
    // final plan (collect() sees AdaptiveSparkPlanExec as a leaf).
    val plan = executedPlanString("w6_window_kitchen")
    val windows = "Window \\[".r.findAllIn(plan).size
    assert(windows == 1, s"expected 1 WindowExec, found $windows")
  }

  test("cube plans a single Expand + two-phase aggregate") {
    val plan = executedPlanString("a14_cube")
    assert(plan.contains("Expand"), "cube lost its Expand")
    // one Expand only — grouping sets must not multiply passes
    assert("Expand".r.findAllIn(plan).size == 1)
  }

  test("quantization stays a map-only pass (no data-sized shuffle)") {
    // the only exchanges allowed: the small-scan widening exchange
    // (Tables.parallelized — an explicit REPARTITION_BY_NUM, now hash
    // on the table key) and the final presentation sort — no
    // requirement-inserted hash exchange of vectors
    val plan = executedPlanString("x_embed_quantize")
    assert(!"Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS".r
      .findAllIn(plan).hasNext,
      "quantization plans a requirement-driven hash exchange — the pass stopped being map-only")
  }

  test("grouping sets plan a single Expand + two-phase aggregate") {
    val plan = executedPlanString("a19_grouping_sets")
    assert(plan.contains("Expand"), "grouping sets lost their Expand")
    assert("Expand".r.findAllIn(plan).size == 1,
      "grouping sets multiplied into per-set aggregation passes")
  }

  test("OHLC resample is one partial-aggregated argmax pass, never a window") {
    // open/close via min_by/max_by must stay argmax AGGREGATES: partial
    // aggregation collapses ticks to bar grain before the one shuffle.
    // (The struct ordering key makes Spark pick SortAggregate — sorted
    // by group key, still partial+final — which beats the window
    // formulation's full-partition materialization.) A WindowExec here
    // would mean every tick crosses the exchange.
    val plan = executedPlanString("t9_resample_ohlc")
    assert(!plan.contains("Window"), "OHLC resample regressed to a window plan")
    assert(plan.contains("partial_min_by"),
      "OHLC resample lost its map-side partial argmax aggregation")
  }

  test("span scrub never shuffles token-position rows") {
    // the only hash exchanges allowed carry gram hashes or doc-grain
    // rows; the token-position grain (corpus-sized after explode) must
    // stay inside the map stage. A hashpartitioning on a 'pos' column
    // would mean the coverage computation left the array expressions.
    val plan = executedPlanString("x_span_dedup")
    assert(!plan.contains("hashpartitioning(doc_id#") ||
      !plan.contains(", pos#"),
      "span scrub shuffles (doc_id, pos)-grain rows")
    // reassembly collects span STARTS per doc: exactly one
    // ObjectHashAggregate pair (collect_list), nothing position-grain
    assert("ObjectHashAggregate".r.findAllIn(plan).size == 2,
      s"expected one partial+final collect of span starts:\n$plan")
  }

  test("trigram LM counts top-k is a heap, not a global sort") {
    val plan = executedPlanString("x_ngram_lm")
    assert(plan.contains("TakeOrderedAndProject"),
      "x_ngram_lm lost its top-k heap — global sort planned instead")
  }

  test("TF-IDF top-k per doc plans a WindowGroupLimit heap") {
    // row_number ≤ 3 must push a per-group 3-row heap below the window;
    // losing it means every doc's full term list is sorted
    assert(executedPlanString("x_tfidf").contains("WindowGroupLimit"),
      "x_tfidf lost its WindowGroupLimit")
  }

  test("funnel collapses to user grain with no window or sort stage") {
    // the funnel verdict is conditional MINs + a projection; a Window
    // or per-user sort would mean events stopped collapsing map-side
    val plan = executedPlanString("a22_funnel")
    assert(!plan.contains("Window"), "a22_funnel planned a window")
    assert(plan.contains("HashAggregate"),
      "a22_funnel lost its hash-aggregate collapse")
  }

  test("LOCF fill runs its aggregate and window on one explicit-width exchange") {
    // the uid repartition must stay user-specified (AQE-exempt: the
    // explode above it amplifies 7:1) and no requirement-inserted hash
    // exchange may appear — hash(uid) satisfies both the (uid, bucket)
    // aggregate and the uid window
    val plan = executedPlanString("t12_locf_fill")
    assert(plan.contains("REPARTITION_BY_NUM"),
      "t12_locf_fill lost the explicit-width uid repartition")
    val inserted = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REPARTITION_BY_NUM"))
    assert(inserted == 0,
      s"t12_locf_fill planned $inserted requirement-inserted hash exchanges")
  }

  test("OOV probe keeps the vocabulary as a driver heap, not a sort") {
    assert(executedPlanString("x_oov_rate").contains("TakeOrderedAndProject"),
      "x_oov_rate lost its top-64 vocab heap")
  }

  test("incremental merge re-aggregates state tables, not raw slices") {
    // each state slice pays one partial+final pass; the merge above the
    // union must be another aggregate pair, never a join of the slices
    val plan = executedPlanString("x_incr_agg")
    assert(plan.contains("Union"), "incremental merge lost its state union")
    assert(!plan.contains("Join"), "incremental merge planned a join")
  }

  test("batched inference adds no shuffle beyond the scan widening") {
    // the widening exchange (Tables.parallelized, REPARTITION_BY_NUM)
    // is the one allowed shuffle; a requirement-inserted hash exchange
    // would mean the inference stage demanded a distribution
    val plan = executedPlanString("x_embed_infer")
    assert(!"Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS".r
      .findAllIn(plan).hasNext,
      "inference pass plans a requirement-driven hash exchange — it stopped being map-only")
  }

  test("full-outer reconciliation joins pre-aggregated grains") {
    // both sides must aggregate BELOW the join (user-grain rows cross
    // the full-outer, never raw events) — asserted structurally: every
    // child subtree of the full-outer join node contains an aggregate
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: unwrap(a.executedPlan)
      case q: QueryStageExec => p +: unwrap(q.plan)
      case _ => p +: p.children.flatMap(unwrap)
    }
    val df = SparkEntry.queries("j14_full_outer")(spark, sfSmoke)
    df.count()
    val joins = unwrap(df.queryExecution.executedPlan).collect {
      case j: BaseJoinExec if j.joinType.toString == "FullOuter" => j
    }
    assert(joins.nonEmpty, "reconciliation lost its full-outer join")
    joins.foreach { j =>
      j.children.foreach { side =>
        assert(unwrap(side).exists(_.isInstanceOf[BaseAggregateExec]),
          s"a full-outer side carries unaggregated rows:\n$side")
      }
    }
  }

  test("every global window in the registry sits above an aggregate") {
    // The r7 defect class, pinned REGISTRY-WIDE instead of query by
    // query: a WindowExec with an empty partition spec funnels its
    // whole input through ONE task, so it is only admissible when that
    // input is already an aggregated (keys-cardinality-sized) frame —
    // the grand-total-share shape (ops/Report, Analytics' lift/PSI,
    // Corpus' share windows). A future query that windows the RAW fact
    // globally is exactly the single-task scale bug DenseId/Prefix
    // exist to avoid, and this sweep makes it fail CI instead of a
    // cluster. Structural, not string-matched: for each empty-
    // partition WindowExec in any registered query's final (AQE-
    // settled) plan, some node STRICTLY BELOW it must be an aggregate.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: unwrap(a.executedPlan)
      case q: QueryStageExec => p +: unwrap(q.plan)
      case _ => p +: p.children.flatMap(unwrap)
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfSmoke)
      df.count() // settle AQE on the final plan
      unwrap(df.queryExecution.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.foreach { w =>
        assert(unwrap(w.child).exists(_.isInstanceOf[BaseAggregateExec]),
          s"$name plans a GLOBAL window over a non-aggregated frame:\n$w")
      }
    }
  }

  test("column pruning reaches the parquet scan") {
    // x_fingerprint touches only doc_id and text of the 5-column table
    val df = SparkEntry.queries("x_fingerprint")(spark, sfSmoke)
    val scans = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).filter(_.contains("documents"))
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val schema = s.split("ReadSchema: ").last
      assert(schema.contains("doc_id") && schema.contains("text"))
      assert(!schema.contains("lang") && !schema.contains("n_chars"),
        s"scan reads pruned columns: $schema")
    }
  }
}
