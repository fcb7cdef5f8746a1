package graft.plans

import graft.agg.{CofactorAggregate, MultiplyTriple, SumTriple}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * Auto-factorization: rewrites a global cofactor aggregation over an
 * inner equi-join into per-key pre-aggregates combined with the ring
 * product (SURVEY §4 "factorized join aggregation" — the reference makes
 * the user hand-write this plan, README.md:163-173; here Catalyst does
 * it):
 *
 * {{{
 * Aggregate [sum_to_triple(l…, r…)]          Aggregate [sum_triple(multiply_triple(A, B))]
 *   Join Inner (lk = rk)            ==>        Join Inner (lk = rk)
 *     L                                          Aggregate lk, [sum_to_triple(l…) A]  L
 *     R                                          Aggregate rk, [sum_to_triple(r…) B]  R
 * }}}
 *
 * The shuffled data drops from |join| wide rows to one triple per key
 * per side. Fires only when the requested column order is
 * block-compatible with the ring product's layout
 * ([leftNums ++ rightNums, leftCats ++ rightCats], mul.cpp:262-289) and
 * every aggregated column is a plain attribute of exactly one side.
 */
object FactorizeCofactorRule extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // global OR grouped cofactor over a join: grouping columns must be
    // plain attributes and the aggregate list exactly [groups…, cofactor]
    // (the shape DataFrame.groupBy().agg() / SQL GROUP BY produce); the
    // NB ring product factorizes identically (mul_nb.cpp:20-268), so
    // nbMode rewrites too
    case agg @ Aggregate(groups, projList, child, _)
        if groups.forall(_.isInstanceOf[Attribute]) &&
          projList.count(isCofactorAlias) == 1 &&
          projList.filterNot(isCofactorAlias).forall {
            case a: Attribute => groups.exists(_.asInstanceOf[Attribute].exprId == a.exprId)
            case _ => false
          } =>
      val alias = projList.collectFirst {
        case al @ Alias(AggregateExpression(_: CofactorAggregate, _, false, None, _), _) => al
      }.get
      val ae = alias.child.asInstanceOf[AggregateExpression]
      val cof = ae.aggregateFunction.asInstanceOf[CofactorAggregate]
      extractJoin(child) match {
        case Some((join, leftKeys, rightKeys)) =>
          rewrite(agg, alias, ae, cof, join, leftKeys, rightKeys,
            groups.map(_.asInstanceOf[Attribute]), projList).getOrElse(agg)
        case None => agg
      }
  }

  private def isCofactorAlias(ne: NamedExpression): Boolean = ne match {
    case Alias(AggregateExpression(_: CofactorAggregate, _, false, None, _), _) => true
    case _ => false
  }

  /** Accept the join directly or under a pure column-pruning Project. */
  private def extractJoin(p: LogicalPlan): Option[(Join, Seq[Attribute], Seq[Attribute])] = {
    val j = p match {
      case j: Join => Some(j)
      case Project(projList, j: Join) if projList.forall(_.isInstanceOf[Attribute]) => Some(j)
      case _ => None
    }
    j.collect {
      case join @ Join(_, _, Inner, Some(cond), _) =>
        val eqs = splitConjuncts(cond).map {
          case EqualTo(l: AttributeReference, r: AttributeReference) => Some((l, r))
          case _ => None
        }
        if (eqs.exists(_.isEmpty)) None
        else {
          val pairs = eqs.flatten
          val (lks, rks) = pairs.map { case (a, b) =>
            if (join.left.outputSet.contains(a) && join.right.outputSet.contains(b)) Some((a, b))
            else if (join.left.outputSet.contains(b) && join.right.outputSet.contains(a)) Some((b, a))
            else None
          }.flatten.unzip
          if (lks.length == pairs.length) Some((join, lks, rks)) else None
        }
    }.flatten
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /**
   * Cardinality gate: factorization wins when |keys| ≪ |rows| — each
   * side's shuffle drops from wide rows to one triple per key. Over a
   * near-unique key the rewrite is a pessimization (one map-heavy
   * serialized buffer per ~1 row, more bytes and far more allocation
   * than the join it avoids), and at 100× scale a grouped
   * ObjectHashAggregate over a near-unique key is the bottleneck. When
   * column-level stats know the key's distinct count, decline the
   * rewrite above 0.25 distinct keys per row (require ≥4 rows/key);
   * without stats stay optimistic (the rewrite is semantics-preserving
   * either way).
   */
  private def keysTooFine(side: LogicalPlan, keys: Seq[Attribute]): Boolean = {
    val st = side.stats
    (for {
      rows <- st.rowCount if rows > 0
      distinct <- keys.flatMap(k => st.attributeStats.get(k).flatMap(_.distinctCount))
        .reduceOption(_ max _)
    } yield distinct.toDouble > rows.toDouble * 0.25).getOrElse(false)
  }

  private def rewrite(agg: Aggregate, alias: Alias, ae: AggregateExpression,
                      cof: CofactorAggregate, join: Join,
                      leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                      groups: Seq[Attribute], projList: Seq[NamedExpression]): Option[LogicalPlan] = {
    if (keysTooFine(join.left, leftKeys) || keysTooFine(join.right, rightKeys)) return None
    // every grouping column must belong to exactly one side; it joins
    // that side's pre-aggregation keys (per-(key, group) triples), and
    // the outer aggregate groups by it as before — correct even when
    // groups span BOTH sides (the per-key product of the (k,g1) and
    // (k,g2) partials is exactly the cofactor of that group's join rows)
    val (leftGroups, rightGroups) =
      (groups.filter(join.left.outputSet.contains), groups.filter(join.right.outputSet.contains))
    if (leftGroups.length + rightGroups.length != groups.length) return None
    // every aggregated column must be a plain attribute of exactly one side
    val attrs = cof.children.map {
      case a: AttributeReference => Some(a)
      case _ => None
    }
    if (attrs.exists(_.isEmpty)) return None
    val cols = attrs.flatten
    // MUST match CofactorAggregate's continuous/categorical dispatch —
    // a disagreement here would permute blocks wrongly
    def isNum(a: Attribute): Boolean = a.dataType match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }
    val fromLeft = cols.filter(join.left.outputSet.contains)
    val fromRight = cols.filter(join.right.outputSet.contains)
    if (fromLeft.length + fromRight.length != cols.length) return None

    // The ring product emits block layout [leftNums ++ rightNums,
    // leftCats ++ rightCats]; a PermuteTriple restores the requested
    // order when columns interleave sides. Identity permutations are
    // elided.
    def permFor(sel: Attribute => Boolean): Seq[Int] = {
      val requested = cols.filter(sel)
      val blockOrder = requested.filter(join.left.outputSet.contains) ++
        requested.filterNot(join.left.outputSet.contains)
      requested.map(a => blockOrder.indexWhere(_.exprId == a.exprId))
    }
    val numPerm = permFor(isNum)
    val catPerm = permFor(a => !isNum(a))
    val identity = numPerm == numPerm.indices.toSeq && catPerm == catPerm.indices.toSeq
    // PermuteTriple only reshapes FULL triples; an interleaved-order NB
    // aggregate keeps the fused plan (rare — NB callers pass per-side
    // blocks). All identity-order NB shapes rewrite below.
    if (cof.nbMode && !identity) return None

    def sideAgg(side: LogicalPlan, keys: Seq[Attribute], gs: Seq[Attribute],
                sideCols: Seq[Attribute], tag: String) = {
      val cofSide = CofactorAggregate(sideCols, nbMode = cof.nbMode)
      val a = Alias(AggregateExpression(cofSide, ae.mode, isDistinct = false, None,
        NamedExpression.newExprId), tag)()
      // grouping columns ride the side's pre-aggregation keys (dedup'd
      // ORDER-PRESERVING: grouping BY the join key itself must not
      // repeat it, and a HashMap-ordered dedup would make the rewritten
      // plan's grouping order vary run to run — semantically harmless
      // but it breaks plan-string assertions and canonicalized-plan
      // caches keyed on the rewrite)
      val ks = (keys ++ gs).foldLeft(Vector.empty[Attribute]) { (acc, a) =>
        if (acc.exists(_.exprId == a.exprId)) acc else acc :+ a
      }
      (Aggregate(ks, ks ++ Seq(a), side), a.toAttribute)
    }
    val (leftAgg, aAttr) = sideAgg(join.left, leftKeys, leftGroups, fromLeft, "__cof_A")
    val (rightAgg, bAttr) = sideAgg(join.right, rightKeys, rightGroups, fromRight, "__cof_B")

    val cond = leftKeys.zip(rightKeys).map { case (l, r) => EqualTo(l, r): Expression }
      .reduce(And(_, _))
    // SHUFFLE_HASH for the pre-aggregate join, size-guarded: both
    // inputs are one-triple-per-key aggregates feeding one more fused
    // aggregate, so a sort-merge join would sort |keys| serialized
    // triple buffers for nothing — the exact pessimization
    // cofactorOverJoin avoids via hashJoinIfSafe. SHJ's build cannot
    // spill, so the hint only attaches when the smaller side's
    // ESTIMATED per-partition bytes fit the same cap hashJoinIfSafe
    // enforces; past the cap the planner keeps its spill-capable
    // choice (broadcast still wins automatically under its threshold —
    // hints don't suppress it).
    val cap = conf.getConfString("spark.graft.shj.maxBuildPartitionBytes",
      (64L << 20).toString).toLong
    val parts = BigInt(math.max(1, conf.numShufflePartitions))
    val (lSize, rSize) = (leftAgg.stats.sizeInBytes, rightAgg.stats.sizeInBytes)
    val hint =
      if (cap > 0 && lSize.min(rSize) / parts <= cap) {
        val h = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))
        if (lSize <= rSize) JoinHint(h, None) else JoinHint(None, h)
      } else JoinHint.NONE
    val newJoin = Join(leftAgg, rightAgg, Inner, Some(cond), hint)

    val product = MultiplyTriple(aAttr, bAttr)
    val outer: Expression = AggregateExpression(SumTriple(product, maxCategories = cof.maxCategories),
      ae.mode, isDistinct = false, None, NamedExpression.newExprId)
    val shaped = if (identity) outer
      else graft.agg.PermuteTriple(outer, numPerm, catPerm)
    // empty-input parity: the original fused aggregate yields the zero
    // triple of its declared arity on an empty group, while sum_triple
    // yields NULL — coalesce restores the original semantics (for
    // grouped aggregates a group only exists with ≥1 product row, so
    // the coalesce is inert but harmless)
    val zero = graft.agg.TripleCodec.emptyLiteral(cols.count(isNum), cols.count(a => !isNum(a)),
      cof.nbMode)
    val withZero = Coalesce(Seq(shaped, zero))
    // preserve the original output attribute (name + exprId) so parents resolve
    val outAlias = Alias(withZero, alias.name)(alias.exprId, alias.qualifier, alias.explicitMetadata)
    // original projection order: grouping attrs stay in place, the
    // cofactor alias is replaced by the factorized expression
    val outList = projList.map {
      case ne if isCofactorAlias(ne) => outAlias
      case other => other
    }
    Some(Aggregate(groups, outList, newJoin))
  }
}

/** `SparkSessionExtensions` installer:
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => FactorizeCofactorRule)
    // the SQL-surface kernel routes ride along for sessions that opted
    // into the extensions (per-session installs go through
    // Graft.enableSqlKernels instead): cofactors and the SUM/AVG/COUNT
    // moments shape over 0–4 keys, each one kernel partial aggregate
    e.injectPlannerStrategy(session => GroupedCofactorStrategy(session))
    e.injectPlannerStrategy(session => GroupedMomentsStrategy(session))
    // numeric-only cofactors feeding a join: declarative SUM rewrite
    // (the shape the grouped strategy refuses — see CofactorDeclarative)
    e.injectOptimizerRule(_ => CofactorDeclarativeRewrite)
  }
}
