package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate,
  Distinct, Filter, Generate, GlobalLimit, Join, LocalLimit, LocalRelation,
  LogicalPlan, OneRowRelation, Project, RepartitionOperation, ResolvedHint,
  Sample, Sort, SubqueryAlias, Union, Window => LogicalWindow, BROADCAST}
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.scalactic.source.Position
import org.scalatest.Assertions

/** Shared structural machinery for the plan gates, which walk the query
  * surface swept once per test run, in [[Surface]]: proofs that a
  * subtree's output cardinality is bounded by CONSTRUCTION — by a
  * constant, a dimension, or the partition count — rather than by the
  * data volume, and the whitelist check every gate ends with. */
object PlanGates {

  /** `flags` over a built query's returned plan and, labelled with the
    * action, over each plan its construction executed (both optimized). */
  def optimizedFlags(b: Surface.Built)(flags: LogicalPlan => Seq[String]): Seq[String] =
    (flags(b.qe.optimizedPlan) ++ b.eager.flatMap(x =>
      flags(x.qe.optimizedPlan).map(h => s"eager[${x.funcName}] $h"))).distinct

  /** Every offending query (name → what it plans) must be listed, and
    * every listed query must still offend: stale entries hide
    * regressions. `offense` completes "queries ..."; `fix` says what to
    * do about an unlisted offender; `gone` says why an entry is stale. */
  def assertWhitelist(offenders: Seq[(String, String)], listed: Set[String],
      offense: String, fix: String, gone: String)(implicit pos: Position): Unit = {
    val unlisted = offenders.filterNot { case (n, _) => listed(n) }
    Assertions.assert(unlisted.isEmpty,
      s"queries $offense:\n${unlisted
        .map { case (n, j) => s"  $n: $j" }.mkString("\n")}\n— $fix")
    val stale = listed -- offenders.map(_._1)
    Assertions.assert(stale.isEmpty,
      s"stale whitelist entries ($gone): ${stale.mkString(", ")} — remove " +
        "them so the gate stays honest")
  }

  /** Grouping columns minted from `spark_partition_id()` — bounded by
    * the partition count, never by the data (the `Stats.rangePrefix*`
    * discipline). */
  def partitionAxisOnly(a: BaseAggregateExec): Boolean =
    a.groupingExpressions.nonEmpty && a.groupingExpressions.forall(e =>
      e.name.startsWith("__pid") || e.name.startsWith("__tp"))

  /** True when `side`'s output row count is provably bounded by
    * construction. The bound must DOMINATE the root — a `plan.exists`
    * sweep would accept `bigTable.join(oneRowAgg)` or a join placed
    * ABOVE a limit, both of which grow with the data. So: recurse from
    * the root, descending only through nodes whose output cardinality
    * cannot exceed the bound established below them — single-child
    * passthroughs (project/filter/sort/exchange/coalesce/window),
    * aggregates (output ≤ input), and joins/unions ALL of whose inputs
    * are themselves bounded (a product/sum of constants is a
    * constant). Expand/Generate multiply cardinality and correctly
    * fall through to `false`. */
  def boundedByConstruction(side: SparkPlan): Boolean = side match {
    // bounding shapes
    case a: BaseAggregateExec
        if a.groupingExpressions.isEmpty || partitionAxisOnly(a) => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec => true
    case _: org.apache.spark.sql.execution.LocalLimitExec => true
    // orderBy+limit plans as these two instead of Global/LocalLimit;
    // both output ≤ the literal limit (the ivfSeeds centroid pick)
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    case _: org.apache.spark.sql.execution.CollectLimitExec => true
    case _: LocalTableScanExec => true
    // any other aggregate's output never exceeds its input
    case a: BaseAggregateExec => boundedByConstruction(a.child)
    // a join or union of all-bounded inputs stays bounded; joins with
    // one unbounded input do NOT (one probe row may match many rows)
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      // (CartesianProductExec is a BaseJoinExec — covered here)
      boundedByConstruction(j.left) && boundedByConstruction(j.right)
    case u: org.apache.spark.sql.execution.UnionExec =>
      u.children.forall(boundedByConstruction)
    // single-child output-cardinality-preserving wrappers
    case p @ (_: org.apache.spark.sql.execution.ProjectExec
        | _: org.apache.spark.sql.execution.FilterExec
        | _: org.apache.spark.sql.execution.SortExec
        | _: org.apache.spark.sql.execution.CoalesceExec
        | _: org.apache.spark.sql.execution.window.WindowExec
        | _: org.apache.spark.sql.execution.WholeStageCodegenExec
        | _: org.apache.spark.sql.execution.InputAdapter
        | _: org.apache.spark.sql.execution.exchange.Exchange) =>
      boundedByConstruction(p.children.head)
    case _ => false
  }

  /** The [[boundedByConstruction]] dominance walk over LOGICAL plans —
    * the shape the broadcast-growth gate ([[BroadcastGateSpec]]) sweeps,
    * because an explicit `broadcast()` hint lives on the optimized
    * logical `Join`, not on a physical node. Same semantics: recurse
    * from the root only through nodes whose output cardinality cannot
    * exceed the bound established below them. Scans (files, JDBC,
    * streaming) and cardinality-multiplying nodes (Generate, Expand)
    * fall through to `false`. */
  def boundedByConstructionLogical(p: LogicalPlan): Boolean = p match {
    // bounding shapes
    case _: GlobalLimit | _: LocalLimit => true
    case _: LocalRelation | _: OneRowRelation => true
    case a: Aggregate
        if a.groupingExpressions.isEmpty || partitionAxisOnlyLogical(a) => true
    // any other aggregate's output never exceeds its input
    case a: Aggregate => boundedByConstructionLogical(a.child)
    case d: Distinct => boundedByConstructionLogical(d.child)
    case d: Deduplicate => boundedByConstructionLogical(d.child)
    case s: Sample => boundedByConstructionLogical(s.child)
    // a join or union of all-bounded inputs stays bounded
    case j: Join =>
      boundedByConstructionLogical(j.left) && boundedByConstructionLogical(j.right)
    case u: Union => u.children.forall(boundedByConstructionLogical)
    // single-child output-cardinality-preserving wrappers
    case w @ (_: Project | _: Filter | _: Sort | _: SubqueryAlias
        | _: ResolvedHint | _: LogicalWindow | _: RepartitionOperation) =>
      boundedByConstructionLogical(w.children.head)
    case _ => false
  }

  /** Logical twin of [[partitionAxisOnly]]: grouping only on
    * `spark_partition_id()`-minted columns. */
  def partitionAxisOnlyLogical(a: Aggregate): Boolean =
    a.groupingExpressions.nonEmpty && a.groupingExpressions.forall {
      case n: NamedExpression =>
        n.name.startsWith("__pid") || n.name.startsWith("__tp")
      case _ => false
    }

  /** Joins in `plan` carrying an explicit BROADCAST hint whose hinted
    * side is NOT bounded by construction — the scale-killer class a
    * stats-driven auto-broadcast can't produce (the planner stops
    * broadcasting when the side outgrows the threshold, but a hint
    * FORCES the broadcast at any size; VERDICT r11 finding #1 was
    * exactly such a hint on a corpus-growing centroid table). */
  /** Count of explicit BROADCAST-hinted join sides in `plan`, bounded
    * or not — the whitelist-hygiene denominator: a whitelisted query
    * whose hint disappears entirely is stale in a DIFFERENT way than
    * one whose hinted side became structurally bounded, and the gate
    * should name which. */
  def broadcastHintCount(plan: LogicalPlan): Int = plan.collect {
    case j: Join =>
      Seq(j.hint.leftHint, j.hint.rightHint).count(
        _.exists(_.strategy.contains(BROADCAST)))
  }.sum

  /** Gate #5 predicate (round 14 — the CLASS the round-13 sf10 failure
    * lived in): join sides whose Catalyst size estimate flows through a
    * `Generate` (explode) OF A GROUPED COLLECTION with no structural
    * cardinality bound above it. Two facts define the class:
    * (a) Catalyst's `Generate` stats do not model fan-out, and
    * aggregates/deduplicates above the explode do NOT re-ground the
    * estimate — pre-prefilter q18's candidate side ran explode →
    * dropDuplicates → join, AQE re-estimated the exploded side at the
    * 12 MiB its bucket-aggregate stage had really measured, converted
    * the verify sort-merge join to a broadcast, and collected the true
    * 7.4 GiB / 3.31e8 pairs into the driver (BASELINE.md round-13);
    * (b) only GROUPED collections make that mis-estimate catastrophic.
    * Exploding a column-derived array (tokens of a text column, a
    * literal dim list) keeps total output bytes ≈ the input bytes the
    * scan already counted — the estimate is off by a constant. But an
    * array BUILT by an aggregate (collect_list/collect_set/
    * collectMinK/topKByScore bucket payloads) then expanded —
    * especially into in-bucket PAIRS — makes output bytes superlinear
    * in the input bytes, the blind spot that killed q18 at sf10. So:
    * flag a join side iff, descending through estimate-preserving
    * wrappers (projects/filters/windows/aggregates/dedups — the walk
    * deliberately passes THROUGH aggregates per (a)), stopping at a
    * structural bound ([[boundedByConstructionLogical]]) or another
    * Join (audited as its own case), we reach a `Generate` whose own
    * subtree (same walk) contains a collection-BUILDING aggregate.
    * Every flagged query must justify in ExplodeJoinGateSpec's
    * whitelist WHY its exploded side cannot be row-explosive at the
    * join (e.g. the Hamming prefilter capping pairs inside the explode
    * stage, a per-bucket combination cap with measured-at-scale pair
    * volume, a fixed per-row probe budget). */
  def explodeFedJoinSides(plan: LogicalPlan): Seq[String] = plan.collect {
    case j: Join =>
      Seq((j.left, "left"), (j.right, "right")).collect {
        case (side, label) if estimateDescendsFromGroupedExplode(side) =>
          s"grouped-explode-join:$label(${side.nodeName})"
      }
  }.flatten

  private def estimateDescendsFromGroupedExplode(p: LogicalPlan): Boolean =
    if (boundedByConstructionLogical(p)) false
    else p match {
      case g: Generate => generatorIsGrouped(g)
      case _: Join => false // each join is audited as its own case
      case other => other.children.exists(estimateDescendsFromGroupedExplode)
    }

  /** Does `g`'s generator expand a GROUPED collection? Traces the
    * generator's referenced attributes by exprId down the child plan —
    * through Project/Aggregate aliases and lower Generates — to their
    * producers, and answers true iff one of them is a
    * collection-building aggregate expression. Tracing the generator's
    * OWN inputs (not scanning the subtree for any array aggregate) is
    * what keeps the graph kernels' `explode(array(u, v))` — fan-out
    * exactly 2 over plain edge columns — out of the flag set while the
    * in-bucket pair expansions stay in. Deliberately no stop at Join:
    * the cross-corpus kernels meet two bucket frames in a band-key
    * equi-join and explode the id-list PRODUCT above it — the grouped
    * arrays flow through that join into the explode, same hazard. */
  private def generatorIsGrouped(g: Generate): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId}
    def aliasHit(ids: Set[ExprId],
        exprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression])
        : (Boolean, Set[ExprId]) = {
      val hit = exprs.exists {
        case a: Alias if ids.contains(a.exprId) => buildsCollection(a.child)
        case _ => false
      }
      val next = exprs.flatMap {
        case a: Alias if ids.contains(a.exprId) =>
          a.child.references.map(_.exprId)
        case ne if ids.contains(ne.exprId) => Seq(ne.exprId)
        case _ => Nil
      }.toSet
      (hit, next)
    }
    def walk(p: LogicalPlan, ids: Set[ExprId]): Boolean =
      ids.nonEmpty && (p match {
        case pr: Project =>
          val (hit, next) = aliasHit(ids, pr.projectList)
          hit || walk(pr.child, next)
        case a: Aggregate =>
          val (hit, next) = aliasHit(ids, a.aggregateExpressions)
          hit || walk(a.child, next)
        case g2: Generate =>
          // a traced id minted by a lower generator re-routes to that
          // generator's own inputs (explode of an exploded band key)
          val next =
            if (g2.generatorOutput.exists(a => ids.contains(a.exprId)))
              ids -- g2.generatorOutput.map(_.exprId) ++
                g2.generator.references.map(_.exprId)
            else ids
          walk(g2.child, next)
        // exprIds are globally unique, so walking every child and
        // keying by id routes each attribute to its producing side
        case other => other.children.exists(c => walk(c, ids))
      })
    walk(g.child, g.generator.references.map(_.exprId).toSet)
  }

  private def hasNestedArray(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.ArrayType => true
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => hasNestedArray(f.dataType))
      case _ => false
    }

  private def buildsCollection(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists {
      case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
        (ae.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          ae.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
          // struct-wrapped arrays (collectMinK returns (items, n))
          hasNestedArray(ae.dataType)) &&
          !(ae.aggregateFunction
              .isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.First] ||
            ae.aggregateFunction
              .isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.Last] ||
            ae.aggregateFunction
              .isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.Max] ||
            ae.aggregateFunction
              .isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.Min])
      case _ => false
    }

  def unboundedBroadcastHints(plan: LogicalPlan): Seq[String] = plan.collect {
    case j: Join =>
      Seq((j.hint.leftHint, j.left, "left"),
          (j.hint.rightHint, j.right, "right")).collect {
        case (Some(h), side, label)
            if h.strategy.contains(BROADCAST) &&
              !boundedByConstructionLogical(side) =>
          s"broadcast-hint:$label(${side.nodeName})"
      }
  }.flatten
}
