package graft.plans

import graft.agg.{CofactorAggregate, MultiplyTriple, SumTriple, TripleCodec}
import graft.ring.Triple
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, AttributeReference, Cast, Coalesce, CreateArray, CreateNamedStruct, ExprId, Expression, GetArrayItem, GetStructField, If, IsNotNull, IsNull, Literal, Multiply, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, FloatType, LongType}

/**
 * Numeric-only cofactor aggregates that FEED A JOIN, re-expressed as
 * plain declarative SUMs (optimization guide §4: eliminate non-codegen
 * expressions in the hot path).
 *
 * Without this rule those aggregates take an `ObjectHashAggregate` over
 * `TypedImperativeAggregate` buffers (the default plan, or the grouped
 * kernel's `sum_triple` merge), which (a) closes the whole-stage
 * codegen pipeline feeding it, (b) kryo-serializes a buffer object per
 * group across the shuffle, and (c) hands the join object-built rows.
 * For the explicit factorized identity (the reference's signature
 * query: two per-key grouped cofactors joined and ring-multiplied,
 * README.md:163-173) that machinery is pure overhead — a cofactor
 * triple over k NUMERIC columns is just `count(*)`, k linear SUMs and
 * k(k+1)/2 product SUMs assembled into the triple struct, which
 * whole-stage codegen executes as a `HashAggregate` over flat
 * UnsafeRows end to end.
 *
 * This rule rewrites `Alias(sum_to_triple(x₁…x_k), name)` inside an
 * [[Aggregate]] that sits UNDER a [[Join]] into
 *
 * {{{
 * named_struct(
 *   'n',    count(1)            FILTER (WHERE x₁ IS NOT NULL AND …),
 *   'lin',  array(Σx₁ …),       -- each SUM under the same FILTER
 *   'quad', array(Σx₁x₁, Σx₁x₂ …),
 *   'lin_cat' / 'quad_num_cat' / 'quad_cat', array())   -- typed empty
 * }}}
 *
 * preserving the alias' exprId (downstream references bind unchanged)
 * and the EXACT result type/nullability of [[TripleCodec.fullType]].
 * Semantics proof obligations, mirrored from the row aggregate:
 *  - any-NULL-drops-the-row: the shared FILTER keeps a row iff every
 *    lifted column is non-NULL, identical to the buffer's early return;
 *  - empty/all-NULL group: `coalesce(sum, 0.0)` matches the zero-
 *    initialized buffer; `count` is never NULL;
 *  - `-0.0` normalization: `+ 0.0` on every double field reproduces
 *    `TripleCodec.toCatalyst`'s `d + 0.0` hash normalization;
 *  - per-partition accumulation order and partial/final merge structure
 *    are those of the default hash aggregate — the same float ordering
 *    the imperative buffer route exposes.
 *
 * Scope guards: full (non-NB) mode only, no DISTINCT, no user FILTER,
 * every input numeric (DoubleType/FloatType/Decimal — the aggregate's
 * own num/cat split; one integer input means categorical maps, which
 * stay on the imperative route). Aggregates that do not feed a join —
 * the plan ROOT among them — are left alone: the kernel strategies own
 * that shape (columnar harvest) and measure faster than any row-route
 * plan.
 */
object CofactorDeclarativeRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // mark every Aggregate under a Join by the exprIds of its ALIASES:
    // an alias is minted by its own Aggregate, so it identifies that
    // node and survives the copies transformUp makes when a descendant
    // changes (an identity set of node references lost the mark for a
    // join-feeding Aggregate stacked above another rewritten one). A
    // pass-through grouping attribute keeps the exprId it has below the
    // Aggregate, so marking it would also mark any aggregate above the
    // join that groups by the same key — the plan root included.
    val marked = scala.collection.mutable.HashSet[ExprId]()
    plan.foreach {
      case j: Join => j.foreach {
        case a: Aggregate => a.aggregateExpressions.foreach {
          case al: Alias => marked += al.exprId
          case _ => ()
        }
        case _ => ()
      }
      case _ => ()
    }
    def isMarked(agg: Aggregate): Boolean =
      agg.aggregateExpressions.exists(ne => marked.contains(ne.exprId))
    plan.transformUp {
      case agg: Aggregate if (isMarked(agg) &&
            agg.aggregateExpressions.exists(rewritable)) ||
          agg.aggregateExpressions.exists(ne => sumMultRewritable(ne, agg.child)) =>
        val step1 =
          if (isMarked(agg)) agg.aggregateExpressions.map(rewriteOne)
          else agg.aggregateExpressions
        agg.copy(aggregateExpressions = step1.map(rewriteSumMult(_, agg.child)))
    }
  }

  private def numericOnly(cof: CofactorAggregate): Boolean =
    cof.children.nonEmpty && cof.children.forall(_.dataType match {
      case DoubleType | FloatType | _: DecimalType => true
      case _ => false
    })

  private def rewritable(ne: NamedExpression): Boolean = ne match {
    case Alias(AggregateExpression(cof: CofactorAggregate, _, false, None, _), _) =>
      !cof.nbMode && numericOnly(cof) && cof.children.forall(_.deterministic)
    case _ => false
  }

  private def emptyArray(elem: org.apache.spark.sql.types.DataType): Literal =
    Literal.create(new GenericArrayData(Array.empty[Any]),
      ArrayType(elem, containsNull = false))

  private def rewriteOne(ne: NamedExpression): NamedExpression = ne match {
    case a @ Alias(AggregateExpression(cof: CofactorAggregate, _, false, None, _), name)
        if rewritable(a) =>
      val xs = cof.children.map {
        case c if c.dataType == DoubleType => c
        case c => Cast(c, DoubleType)
      }
      val keep: Expression = cof.children.map(IsNotNull(_): Expression).reduce(And(_, _))
      def agg(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
        f.toAggregateExpression(isDistinct = false, filter = Some(keep))
      // `+ 0.0` normalizes -0.0 exactly like TripleCodec.toCatalyst
      def dsum(e: Expression): Expression =
        Add(Coalesce(Seq(agg(Sum(e)), Literal(0.0))), Literal(0.0))
      val k = xs.length
      val lin = xs.map(dsum)
      val quad = for { i <- 0 until k; j <- i until k }
        yield dsum(Multiply(xs(i), xs(j)))
      val struct = CreateNamedStruct(Seq(
        Literal("n"), agg(Count(Seq(Literal(1)))),
        Literal("lin"), CreateArray(lin),
        Literal("quad"), CreateArray(quad),
        Literal("lin_cat"), emptyArray(TripleCodec.intMap),
        Literal("quad_num_cat"), emptyArray(TripleCodec.intMap),
        Literal("quad_cat"), emptyArray(TripleCodec.longMap)))
      // defensive: downstream attributes were resolved against the
      // imperative aggregate's type — never ship a mismatched struct
      if (struct.dataType != cof.dataType || struct.nullable != false) ne
      else Alias(struct, name)(exprId = a.exprId, qualifier = a.qualifier,
        explicitMetadata = a.explicitMetadata,
        nonInheritableMetadataKeys = a.nonInheritableMetadataKeys)
    case other => other
  }

  // ---- sum_triple(multiply_triple(A, B)) — the factorized identity's
  // ---- FINAL aggregate, decomposed into plain SUMs of per-key products
  //
  // multiply_triple of two numeric-only triples (kA, kB columns) is a
  // fixed arithmetic pattern over struct fields (Triple.multiply):
  //   n            a.n·b.n
  //   lin[i<kA]    a.lin[i]·b.n        lin[kA+j]    b.lin[j]·a.n
  //   quad[i≤j]    a.quad·b.n | a.lin[i]·b.lin[j−kA] | b.quad·a.n
  // and sum_triple just adds componentwise — so the whole composition
  // is 1 + k + k(k+1)/2 plain SUMs (k = kA+kB), which fuse into the
  // join's whole-stage pipeline instead of building a Triple object per
  // joined row inside an ObjectHashAggregate. Fires only when both
  // input attributes trace (through Project/Join) to structs THIS rule
  // built — statically known arities and statically EMPTY categorical
  // arrays; anything else keeps the imperative route. NULL semantics
  // preserved exactly: sum_triple yields NULL on an empty/all-NULL
  // group (`If(isnull(Σn), NULL, struct)`), and a NULL on either side
  // of multiply_triple drops the row (the shared FILTER).

  /** The statically-known numeric arity of the triple struct the given
    * attribute was produced as — defined only when the producer is one
    * of this rule's own `named_struct`s (empty cat literals included)
    * AND the attribute traces to it through value-preserving nodes
    * only. The r20 form searched the whole subtree by exprId, which the
    * scaladoc's "traces through Project/Join" claim did not actually
    * enforce — a Union reuses its first child's exprIds for rows from
    * ALL children, so a union mixing different-arity (or imperative)
    * triples under one exprId would have been silently mis-decomposed
    * (r21, advice item). This walk descends only through Project /
    * Aggregate (the producers), Join / Filter / Sort / SubqueryAlias
    * (pass-through), and declines on anything else — Union, Expand,
    * Window, generators — which merely keeps those shapes on the
    * imperative route. */
  private def producedArity(plan: LogicalPlan, id: ExprId): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def fromNamed(nes: Seq[NamedExpression], child: LogicalPlan): Option[Int] =
      nes.collectFirst {
        case al @ Alias(cns: CreateNamedStruct, _) if al.exprId == id => shapeOf(cns)
        case al @ Alias(ar: AttributeReference, _) if al.exprId == id =>
          producedArity(child, ar.exprId)
        case ar: AttributeReference if ar.exprId == id => producedArity(child, id)
      }.flatten
    plan match {
      case p: Project => fromNamed(p.projectList, p.child)
      case a: Aggregate => fromNamed(a.aggregateExpressions, a.child)
      case j: Join =>
        j.children.collectFirst {
          case c if c.output.exists(_.exprId == id) => producedArity(c, id)
        }.flatten
      case f: Filter => producedArity(f.child, id)
      case s: Sort => producedArity(s.child, id)
      case s: SubqueryAlias => producedArity(s.child, id)
      case _ => None
    }
  }

  private def shapeOf(cns: CreateNamedStruct): Option[Int] = {
    val names = cns.nameExprs.map(_.eval(null).toString)
    if (names != Seq("n", "lin", "quad", "lin_cat", "quad_num_cat", "quad_cat"))
      return None
    def emptyLit(e: Expression): Boolean = e match {
      case l: Literal => l.value.isInstanceOf[ArrayData] &&
        l.value.asInstanceOf[ArrayData].numElements() == 0
      case _ => false
    }
    cns.valExprs match {
      case Seq(_, lin: CreateArray, quad: CreateArray, c1, c2, c3)
          if emptyLit(c1) && emptyLit(c2) && emptyLit(c3) =>
        val k = lin.children.size
        if (quad.children.size == k * (k + 1) / 2) Some(k) else None
      case _ => None
    }
  }

  private def sumMultArgs(ne: NamedExpression): Option[(Alias, SumTriple, AttributeReference, AttributeReference)] =
    ne match {
      case al @ Alias(AggregateExpression(st: SumTriple, _, false, None, _), _) =>
        st.child match {
          case MultiplyTriple(a: AttributeReference, b: AttributeReference) =>
            Some((al, st, a, b))
          case _ => None
        }
      case _ => None
    }

  private def sumMultRewritable(ne: NamedExpression, child: LogicalPlan): Boolean =
    sumMultArgs(ne).exists { case (_, _, a, b) =>
      producedArity(child, a.exprId).isDefined &&
        producedArity(child, b.exprId).isDefined
    }

  private def rewriteSumMult(ne: NamedExpression, child: LogicalPlan): NamedExpression =
    sumMultArgs(ne) match {
      case Some((al, st, aAttr, bAttr)) =>
        (producedArity(child, aAttr.exprId), producedArity(child, bAttr.exprId)) match {
          case (Some(kA), Some(kB)) =>
            def fld(e: Expression, i: Int, nm: String) =
              GetStructField(e, i, Some(nm))
            def item(arr: Expression, i: Int) = GetArrayItem(arr, Literal(i))
            val (aN, aLin, aQuad) = (fld(aAttr, 0, "n"), fld(aAttr, 1, "lin"), fld(aAttr, 2, "quad"))
            val (bN, bLin, bQuad) = (fld(bAttr, 0, "n"), fld(bAttr, 1, "lin"), fld(bAttr, 2, "quad"))
            val keep: Expression = And(IsNotNull(aAttr), IsNotNull(bAttr))
            def agg(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
              f.toAggregateExpression(isDistinct = false, filter = Some(keep))
            def dsum(e: Expression): Expression =
              Add(Coalesce(Seq(agg(Sum(e)), Literal(0.0))), Literal(0.0))
            val aNd = Cast(aN, DoubleType); val bNd = Cast(bN, DoubleType)
            val nRaw = agg(Sum(Multiply(aN, bN))) // LongType, NULL iff no row kept
            val k = kA + kB
            val lin = (0 until kA).map(i => dsum(Multiply(item(aLin, i), bNd))) ++
              (0 until kB).map(j => dsum(Multiply(item(bLin, j), aNd)))
            // sequential (i, j≥i) emission order IS triIdx order
            val quad = for { i <- 0 until k; j <- i until k } yield dsum(
              if (j < kA) Multiply(item(aQuad, Triple.triIdx(i, j, kA)), bNd)
              else if (i < kA) Multiply(item(aLin, i), item(bLin, j - kA))
              else Multiply(item(bQuad, Triple.triIdx(i - kA, j - kA, kB)), aNd))
            val struct = CreateNamedStruct(Seq(
              Literal("n"), Coalesce(Seq(nRaw, Literal(0L))),
              Literal("lin"), CreateArray(lin),
              Literal("quad"), CreateArray(quad),
              Literal("lin_cat"), emptyArray(TripleCodec.intMap),
              Literal("quad_num_cat"), emptyArray(TripleCodec.intMap),
              Literal("quad_cat"), emptyArray(TripleCodec.longMap)))
            val out = If(IsNull(nRaw), Literal.create(null, TripleCodec.fullType), struct)
            if (struct.dataType != st.dataType) ne
            else Alias(out, al.name)(exprId = al.exprId, qualifier = al.qualifier,
              explicitMetadata = al.explicitMetadata,
              nonInheritableMetadataKeys = al.nonInheritableMetadataKeys)
          case _ => ne
        }
      case None => ne
    }
}
