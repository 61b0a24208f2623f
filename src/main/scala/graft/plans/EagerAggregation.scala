package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, NumericType}

/** Optimizer rule: EAGER AGGREGATION — push a partial aggregate below a
  * join (Yan & Larson, VLDB'95), plus its set-valued sibling, DISTINCT
  * below a semi/anti join's build side.
  *
  * The q13 shape motivates it: `customer LEFT OUTER orders` followed by
  * a per-customer count moves every order row (30M at x200, 100M+ at
  * real scale) through the join exchange only to collapse them to one
  * count per customer right after. Catalyst never reorders Aggregate
  * past Join, so the full fact table crosses the wire. This rule
  * rewrites
  *
  *   Aggregate(G ⊆ left, F(right-cols), Join(left, right, on k))
  *     → Aggregate(G, F'(partials),
  *         Join(left, Aggregate(k, partials, right), on k))
  *
  * so the fact side is reduced to one row per join key BEFORE the
  * exchange — with map-side partial aggregation, before the network.
  * The rewrite is exact (not a heuristic approximation) because each
  * left row matches the pre-aggregated right on exactly the same keys
  * as before, and the surviving aggregate recombines decomposable
  * functions: sum→sum of sums, count→sum of counts (coalesced to 0 for
  * NULL-extended outer rows), min/max→min/max of min/max.
  *
  * Fires only when ALL of the following hold (conservatism over reach —
  * every guard is a correctness requirement, not a tuning choice):
  *  - join type Inner or LeftOuter, condition a conjunction of plain
  *    `EqualTo(leftAttr, rightAttr)` (no null-safe, no residual
  *    predicates — by this point in optimization Catalyst has already
  *    pushed single-side predicates below the join);
  *  - grouping expressions reference only the left side (grouping on a
  *    nullable-extended right column changes NULL-group semantics);
  *  - every aggregate function is a non-distinct, unfiltered Sum /
  *    Count / Min / Max / Average whose input references only
  *    right-side columns (an agg over LEFT columns sees join
  *    multiplicity — pushing the right side down changes that
  *    multiplicity, so its presence disables the rewrite). count(*)
  *    decomposes too — per left row the join multiplies by the per-key
  *    right count, 1 for a NULL-extended row, so
  *    sum(coalesce(cnt, 1)) is exact. avg decomposes as
  *    sum-of-sums / sum-of-counts (non-decimal numerics, accumulated
  *    in double exactly as Average itself does);
  *  - the right side is not already an aggregate (re-fire guard: the
  *    rule runs in a fixed-point batch and must converge).
  *
  * The semi/anti arm: `Join(left, right, LeftSemi|LeftAnti, on k)`
  * probes right only for key EXISTENCE, so
  * `Aggregate(k, k, right)` (distinct) below it is always exact — NULL
  * keys match nothing on either side of the rewrite — and turns the
  * build-side exchange into a map-side-combined distinct (q22's NOT
  * EXISTS probes 30M order rows carrying 3M distinct custkeys: 10× less
  * network). Fires only for pure-equi conditions whose right-side
  * references are exactly the join keys, and only when the right side
  * is not already an aggregate or a leaf smaller than its key set.
  *
  * Decimal note: `Sum(DecimalType(p,s))` widens to (p+10,s); summing
  * the partials widens again, so the recombined sum is cast back to the
  * original result type — exact, because the doubly-widened accumulator
  * can only gain headroom. Float sums recombine in a different order
  * than the flat plan; Spark's own shuffle already makes float sum
  * order nondeterministic, so this introduces no new contract.
  *
  * Scale: at 1000 executors the win is the exchange — the fact side
  * crosses the network pre-reduced (|keys| rows, map-side combined)
  * instead of row-per-event. When the key is nearly unique the pre-agg
  * reduces nothing and costs one extra hash pass over the build side;
  * disable per-session with `spark.graft.eagerAggregation.enabled`.
  *
  * Reference analog: the reference fuses its per-key reductions into
  * the exchange itself (allreduce/alltoall over pre-reduced shards,
  * SURVEY §2.5); expressed Spark-first the same bytes-on-the-wire
  * argument becomes a logical-plan rewrite.
  */
object EagerAggregation extends Rule[LogicalPlan] with PredicateHelper {

  private val FLAG = "spark.graft.eagerAggregation.enabled"
  private val UNIQUE = "spark.graft.eagerAggregation.uniqueKeys"

  private def enabled: Boolean = conf.getConfString(FLAG, "true") == "true"

  /** Informational unique-key constraints, "table.column,table.column".
    * Eager aggregation is COST-BLIND on raw parquet reads (no NDV
    * statistics exist), and a pre-aggregate whose keys contain a unique
    * key of its table reduces NOTHING — every group is a singleton, so
    * the fire is pure cost (measured: q12's orders-by-o_orderkey
    * pre-agg, 3.44 → 4.16 s at x200, ProbeEagerRel). This conf is the
    * informational-PK surface a real catalog would provide (ANSI
    * RELY-style): declaring `orders.o_orderkey` tells the rule that
    * grouping orders by o_orderkey cannot reduce, so both arms decline.
    * A declared table matches exactly, or as the base of an advised
    * layout name (`adv_<kind>_<table>[_suffix]`) so staged projections
    * inherit their base table's constraints — NOT by bare substring,
    * which would let `part` swallow any table whose name merely
    * contains it. */
  private def declaredUnique: Set[(String, String)] =
    conf.getConfString(UNIQUE, "").split(",").iterator.map(_.trim)
      .filter(_.nonEmpty).flatMap { s =>
        s.split("\\.") match {
          case Array(t, c) => Some((t, c))
          case _ => None
        }
      }.toSet

  /** True when pre-aggregating `side` by `keys` provably reduces
    * nothing: the subtree reads ONE table and some grouping key is
    * ≈unique on it (a superset of a unique key is still unique).
    * MEASURED first — when a [[TableStats]] record exists for the
    * leaf's identity (read path or catalog table name), NDV ≥
    * [[TableStats.UniqueishFactor]] × rowCount blocks; the declared-PK
    * conf is the no-stats fallback and user override. Multi-leaf
    * subtrees (joins) never block — a join output has no uniqueness
    * either way. */
  private def uniqueKeyBlocks(side: LogicalPlan, keys: Seq[Attribute]): Boolean = {
    side.collectLeaves() match {
      case Seq(lr: org.apache.spark.sql.execution.datasources.LogicalRelation) =>
        val keyNames = keys.map(_.name).toSet
        val identities = lr.catalogTable.map(_.identifier.table).toSeq ++
          (lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              Seq(fs.location.rootPaths.map(_.toString).mkString(","))
            case _ => Nil
          })
        val wh = conf.getConfString("spark.sql.warehouse.dir", "")
        // freshness (round-12): a measurement recorded over DIFFERENT
        // base files than the live leaf is ignored — the grown table's
        // uniqueness may have flipped either way; fall back to the
        // declared conf (records without a fingerprint — aliased staged
        // tables, pre-round-12 files — stay advisory-unchecked)
        val liveFp = lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some(Freshness.ofIndex(fs.location))
          case _ => None
        }
        val measured = identities.flatMap(id => TableStats.lookup(wh, id))
          .headOption.filter(st => st.fingerprint.isEmpty ||
            liveFp.isEmpty || st.fingerprint == liveFp)
        measured match {
          case Some(st) if keyNames.exists(c => st.ndv.contains(c)) =>
            // measurement decides both ways: a measured NON-unique key
            // is allowed to fire even if the conf would have blocked it
            keyNames.exists(c => st.uniqueish(c))
          case _ =>
            val declared = declaredUnique
            if (declared.isEmpty) return false
            val table = lr.catalogTable.map(_.identifier.table).getOrElse {
              lr.relation match {
                case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  val base = fs.location.rootPaths.head.getName
                  if (base.endsWith(".parquet")) base.dropRight(".parquet".length) else base
                case _ => return false
              }
            }
            def tableMatches(t: String): Boolean = table == t ||
              table.matches(s"adv_\\w*_${java.util.regex.Pattern.quote(t)}(_.*)?")
            declared.exists { case (t, c) => tableMatches(t) && keyNames.contains(c) }
        }
      case _ => false
    }
  }

  /** Equi-only condition split: Some((leftKeys, rightKeys)) iff every
    * conjunct is EqualTo between one attr from each side. */
  private def equiKeys(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Seq[Attribute], Seq[Attribute])] = {
    val pairs = splitConjunctivePredicates(cond).map {
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if left.outputSet.contains(l) && right.outputSet.contains(r) => Some((l, r))
      case EqualTo(r: AttributeReference, l: AttributeReference)
          if left.outputSet.contains(l) && right.outputSet.contains(r) => Some((l, r))
      case _ => None
    }
    // dedup: repeated conjuncts on one attribute (l.a = r.k AND
    // l.b = r.k) must not emit duplicate grouping attrs in the
    // pre-aggregate output
    if (pairs.forall(_.isDefined)) {
      val (l, r) = pairs.flatten.unzip
      Some((l.distinct, r.distinct))
    } else None
  }

  /** Benefit guard for the semi/anti arm: a build side small enough to
    * broadcast never shuffles, so there is no exchange for the distinct
    * to shrink — inserting one there ADDS a shuffle (the aggregate's)
    * to a plan that had none. Above the broadcast threshold the build
    * side shuffles either way, the distinct's exchange replaces the
    * join's, and the map-side partial is the win. Threshold disabled
    * (<= 0) means every build shuffles, so always fire. The agg arm
    * needs no such guard: its benefit (fewer rows through the join AND
    * through the aggregate above it) exists on broadcast plans too. */
  private def buildWouldShuffle(p: LogicalPlan): Boolean = {
    val t = conf.autoBroadcastJoinThreshold
    t <= 0 || p.stats.sizeInBytes > t
  }

  /** Re-fire guard: true when the plan under (pruning) projections is
    * already an aggregate — pre-aggregating it again cannot reduce and
    * would keep the fixed-point batch rewriting forever. */
  private def alreadyAggregated(plan: LogicalPlan): Boolean = plan match {
    case _: Aggregate => true
    case p: Project => alreadyAggregated(p.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      case a @ Aggregate(_, _, j: Join, _) =>
        rewriteAggJoin(a, j, None).getOrElse(a)
      case a @ Aggregate(_, _, p @ Project(projList, j: Join), _)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        rewriteAggJoin(a, j, Some(p)).getOrElse(a)
      case j @ Join(_, right, LeftSemi | LeftAnti, Some(cond), _)
          if !alreadyAggregated(right) && buildWouldShuffle(right) =>
        equiKeys(cond, j.left, right) match {
          case Some((_, rightKeys)) if rightKeys.nonEmpty &&
              cond.references.intersect(right.outputSet).subsetOf(
                AttributeSet(rightKeys)) &&
              !uniqueKeyBlocks(right, rightKeys) =>
            j.copy(right = Aggregate(rightKeys, rightKeys, right))
          case _ => j
        }
    }
  }

  /** The agg-through-join arm. `prune` is the attrs-only Project that
    * column pruning may have slid between the Aggregate and the Join;
    * it is rebuilt to carry the partial columns instead of the raw
    * right-side inputs it used to forward. */
  private def rewriteAggJoin(a: Aggregate, j: Join,
      prune: Option[Project]): Option[LogicalPlan] = {
    if (!(j.joinType == Inner || j.joinType == LeftOuter)) return None
    if (alreadyAggregated(j.right)) return None
    val (leftKeys, rightKeys) = j.condition.flatMap(equiKeys(_, j.left, j.right))
      .getOrElse(return None)
    if (rightKeys.isEmpty) return None
    if (uniqueKeyBlocks(j.right, rightKeys)) return None
    // a GLOBAL aggregate emits one row even over an empty join, where
    // count must be 0 — but a recombining sum-of-counts over zero rows
    // is NULL, so the ungrouped shape is excluded outright
    if (a.groupingExpressions.isEmpty) return None
    if (!a.groupingExpressions.forall(_.references.subsetOf(j.left.outputSet)))
      return None

    val aggs = a.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggs.isEmpty) return None

    /** True iff `e` provably evaluates to NULL whenever every attribute
      * it references is NULL — the LeftOuter admission requirement: the
      * original plan evaluates aggregate inputs on NULL-extended rows
      * (all right attributes NULL), while the rewritten plan has NO
      * pre-aggregate row for unmatched keys at all. A null-INTOLERANT
      * tree over attribute/literal leaves qualifies (any NULL input
      * nulls every ancestor, and the references-nonEmpty aggregates
      * guarantee at least one attribute leaf, so the whole input is
      * NULL exactly where the pre-aggregate has no row). Null-TOLERANT
      * nodes — Coalesce, CaseWhen, If, IsNull, nvl — are declined:
      * sum(coalesce(o_x, 5)) legitimately contributes 5 per unmatched
      * left row in the original plan, which no per-key pre-aggregate
      * can reproduce (round-10 defect: returned NULL for unmatched
      * keys with the rule on vs 5 with it off). */
    def nullPreserving(e: Expression): Boolean = e match {
      case _: AttributeReference => true
      case _: Literal => true
      // round/bround return NULL on NULL input but do not set the
      // nullIntolerant flag — without this the engine's own exact-money
      // idiom sum(cast(round(x*100) as long)) would decline over outer
      // joins
      case r: RoundBase => r.children.forall(nullPreserving)
      case other => other.nullIntolerant && other.children.forall(nullPreserving)
    }

    /** Per-key partial aggregates computed below the join for one
      * original AggregateExpression; None = the function does not
      * decompose (the whole rewrite is then declined). count(*) (no
      * references) decomposes too — each left row sees the per-key row
      * count, 1 for a NULL-extended row — but only when its children
      * are provably non-null (count(NULL) would wrongly become a row
      * count). avg decomposes as sum/count; restricted to non-decimal
      * numerics so the double accumulator matches Average's own
      * (decimal averages carry result-precision rules this rewrite
      * does not reproduce). */
    def partialsFor(ae: AggregateExpression): Option[Seq[Alias]] = {
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      if (!ae.references.subsetOf(j.right.outputSet)) return None
      // LeftOuter: the input must be null-preserving on its right-side
      // attributes, or NULL-extended rows contribute in the original
      // plan but not in the rewrite (count(*) is exempt — its
      // recombination coalesces the per-key count to 1 explicitly)
      if (j.joinType == LeftOuter && ae.references.nonEmpty &&
          !ae.aggregateFunction.children.forall(nullPreserving)) return None
      ae.aggregateFunction match {
        case _: Sum | _: Min | _: Max if ae.references.nonEmpty =>
          Some(Seq(Alias(ae, s"_eager_${ae.aggregateFunction.prettyName}")()))
        case c: Count if ae.references.nonEmpty || c.children.forall(!_.nullable) =>
          Some(Seq(Alias(ae, "_eager_count")()))
        case avg: Average
            if ae.references.nonEmpty &&
              avg.child.dataType.isInstanceOf[NumericType] &&
              !avg.child.dataType.isInstanceOf[DecimalType] =>
          // nonEmpty matters: avg(lit) over a LEFT OUTER join evaluates
          // the constant on NULL-extended rows too — a pre-aggregate
          // has no row for unmatched keys and would return NULL
          Some(Seq(
            Alias(AggregateExpression(Sum(Cast(avg.child, DoubleType)),
              ae.mode, isDistinct = false), "_eager_avgsum")(),
            Alias(AggregateExpression(Count(Seq(avg.child)),
              ae.mode, isDistinct = false), "_eager_avgcnt")()))
        case _ => None
      }
    }

    // one partial set per distinct AggregateExpression (equality
    // includes the resultId, so structurally-identical aggs from
    // different output columns stay separate — harmless, and exact);
    // kept as an ordered Seq so the pre-aggregate's column order is
    // deterministic
    val partialSeq: Seq[(AggregateExpression, Seq[Alias])] =
      aggs.distinct.map { ae =>
        partialsFor(ae) match {
          case Some(ps) => ae -> ps
          case None => return None
        }
      }
    val partial = partialSeq.toMap
    val pre = Aggregate(rightKeys,
      rightKeys ++ partialSeq.flatMap(_._2), j.right)

    // CRITICAL: recombination inputs must be the JOIN's output
    // attributes, not the pre-aggregate's — a LeftOuter join makes the
    // right side nullable, and an attribute still carrying the
    // aggregate's nullable=false both lets NullPropagation delete the
    // count's Coalesce AND lets codegen skip the null check, reading
    // the zeroed value slot of NULL-extended rows (observed: the same
    // plan returned 0 or NULL for unmatched keys depending on the
    // session — undefined behavior, not a semantics choice).
    val newJoin = j.copy(right = pre)
    val joined: Map[ExprId, Attribute] =
      newJoin.output.map(a => a.exprId -> a).toMap

    def recombine(ae: AggregateExpression): Expression = {
      val pAttrs = partial(ae).map(al => joined(al.toAttribute.exprId))
      def merge(f: AggregateFunction) =
        AggregateExpression(f, ae.mode, isDistinct = false)
      val merged = ae.aggregateFunction match {
        case _: Sum => merge(Sum(pAttrs.head))
        case _: Count if ae.references.isEmpty =>
          // count(*): a NULL-extended outer row was one joined row
          val input = if (j.joinType == LeftOuter)
            Coalesce(Seq(pAttrs.head, Literal(1L, LongType))) else pAttrs.head
          merge(Sum(input))
        case _: Count =>
          val input = if (j.joinType == LeftOuter)
            Coalesce(Seq(pAttrs.head, Literal(0L, LongType))) else pAttrs.head
          merge(Sum(input))
        case _: Min => merge(Min(pAttrs.head))
        case _: Max => merge(Max(pAttrs.head))
        case _: Average =>
          // sum-of-sums / sum-of-counts; an all-NULL (or unmatched)
          // group has sum NULL ⟺ count 0, so the division is NULL
          // exactly where Average is NULL, never a 0-divide error
          val Seq(pSum, pCnt) = pAttrs
          Divide(merge(Sum(pSum)), Cast(merge(Sum(pCnt)), DoubleType))
      }
      if (merged.dataType == ae.dataType) merged else Cast(merged, ae.dataType)
    }

    val child = prune match {
      case Some(p) =>
        val kept = p.projectList.filter(e =>
          newJoin.outputSet.contains(e.asInstanceOf[AttributeReference]))
        Project(kept ++ partialSeq.flatMap(_._2.map(al => joined(al.toAttribute.exprId))),
          newJoin)
      case None => newJoin
    }
    val newAggExprs = a.aggregateExpressions.map(_.transform {
      // the guard stops the traversal from re-matching the freshly
      // built recombination aggregate inside a Cast replacement
      case ae: AggregateExpression if partial.contains(ae) => recombine(ae)
    }.asInstanceOf[NamedExpression])
    Some(a.copy(aggregateExpressions = newAggExprs, child = child))
  }
}
