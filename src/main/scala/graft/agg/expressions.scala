package graft.agg

import graft.ring.Triple
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/**
 * Per-row lift: builds the degree-2 triple of a single row
 * (reference `to_cofactor` / `to_nb_agg`, triple/lift.cpp:15-243,
 * lift_to_nb_agg.cpp:13-136). Exists for parity with the unfused
 * `sum_triple(to_cofactor(...))` form; the fused [[CofactorAggregate]] is
 * the performance path (README.md:136).
 */
case class ToCofactor(children: Seq[Expression], nbMode: Boolean)
  extends Expression with CodegenFallback {

  private lazy val isNum: Array[Boolean] = children.map(_.dataType match {
    case DoubleType | FloatType | _: DecimalType => true
    case _ => false
  }).toArray

  override def dataType: DataType = TripleCodec.dataType(nbMode)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.map(_.dataType).filterNot {
      case DoubleType | FloatType | _: DecimalType | IntegerType | LongType | ShortType | ByteType => true
      case _ => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"to_cofactor: unsupported types ${bad.mkString(", ")}")
  }

  override def eval(input: InternalRow): Any = {
    val num = Array.newBuilder[Double]
    val cat = Array.newBuilder[Int]
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      if (isNum(i)) num += (v match {
        case d: java.lang.Double => d.doubleValue()
        case f: java.lang.Float => f.toDouble
        case d: Decimal => d.toDouble
      })
      else cat += (v match {
        case x: java.lang.Integer => x.intValue()
        case x: java.lang.Long => x.toInt
        case x: java.lang.Short => x.toInt
        case x: java.lang.Byte => x.toInt
      })
      i += 1
    }
    val t = if (nbMode) Triple.liftNb(num.result(), cat.result()) else Triple.lift(num.result(), cat.result())
    TripleCodec.toCatalyst(t, nbMode)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ToCofactor =
    copy(children = newChildren)
  override def prettyName: String = if (nbMode) "to_nb_agg" else "to_cofactor"
}

/**
 * Aggregate that sums already-lifted triples (reference `sum_triple` /
 * `sum_nb_agg`, triple/sum/sum.cpp:57-261, sum_state.cpp). The state is
 * one [[CofactorBuffer]] per group: each input struct is added into it in
 * place ([[TripleCodec.addInto]]), and partial states merge with
 * `CofactorBuffer.merge`. The shape is adopted from the first non-NULL
 * input; another shape throws. NULL inputs are skipped; a group without a
 * non-NULL input keeps a NULL state and evaluates to NULL. The maps are
 * held to `maxCategories`, captured as [[CofactorAggregate]] captures it.
 */
case class SumTriple(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    maxCategories: Int = CofactorAggregate.confMaxCategories())
  extends TypedImperativeAggregate[CofactorBuffer] {

  private lazy val numFields: Int = child.dataType.asInstanceOf[StructType].length
  private def nbMode: Boolean = numFields == 4

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = TripleCodec.dataType(nbMode)
  // NULL on an empty/all-null group (DuckDB aggregate semantics) — a
  // zero-arity placeholder triple would be shape-inconsistent with the
  // child's column count.
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if s.length == 4 || s.length == 6 => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"sum_triple expects a triple struct, got $dt")
  }

  override def createAggregationBuffer(): CofactorBuffer = null

  override def update(buffer: CofactorBuffer, input: InternalRow): CofactorBuffer = {
    val v = child.eval(input)
    if (v == null) return buffer
    val row = v.asInstanceOf[InternalRow]
    val b = if (buffer != null) buffer
      else new CofactorBuffer(row.getArray(1).numElements(), row.getArray(3).numElements(), nbMode,
        maxCategories)
    TripleCodec.addInto(b, row)
    b
  }

  override def merge(buffer: CofactorBuffer, input: CofactorBuffer): CofactorBuffer =
    if (input == null) buffer
    else if (buffer == null) input
    else { buffer.merge(input); buffer }

  override def eval(buffer: CofactorBuffer): Any =
    if (buffer == null) null else TripleCodec.toCatalyst(buffer)

  override def serialize(buffer: CofactorBuffer): Array[Byte] =
    if (buffer == null) Array.emptyByteArray else CofactorBuffer.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): CofactorBuffer =
    if (bytes.isEmpty) null else CofactorBuffer.fromBytes(bytes, maxCategories)

  override def withNewMutableAggBufferOffset(newOffset: Int): SumTriple =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SumTriple =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SumTriple =
    copy(child = newChildren.head)
  override def prettyName: String = "sum_triple"
}

/**
 * Column permutation of a triple struct (see [[Triple.permute]]):
 * reorders the continuous/categorical blocks without touching the data.
 * Used by the auto-factorization rule to restore the user's requested
 * column order after a block-layout ring product.
 */
case class PermuteTriple(child: Expression, numPerm: Seq[Int], catPerm: Seq[Int])
  extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = TripleCodec.fullType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if s.length == 6 => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"permute_triple expects a full triple struct, got $dt")
  }
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else TripleCodec.toCatalyst(
      Triple.permute(TripleCodec.fromCatalyst(v.asInstanceOf[InternalRow], 6),
        numPerm.toArray, catPerm.toArray),
      nb = false)
  }
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): PermuteTriple =
    copy(child = newChildren.head)
  override def prettyName: String = "permute_triple"
}

/**
 * Ring product of two triples (reference `multiply_triple` /
 * `multiply_nb_agg`, triple/mul.cpp:19-611, mul_nb.cpp:20-268): combines
 * per-group aggregates across a join — factorized learning. Used as
 * `sum_triple(multiply_triple(A, B))` after per-key pre-aggregation
 * (README.md:163-173).
 */
case class MultiplyTriple(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  private lazy val nbMode: Boolean = left.dataType.asInstanceOf[StructType].length == 4

  override def dataType: DataType = TripleCodec.dataType(nbMode)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (a: StructType, b: StructType) if a.length == b.length && (a.length == 4 || a.length == 6) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(s"multiply_triple expects two triple structs, got $a, $b")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val nf = if (nbMode) 4 else 6
    val a = TripleCodec.fromCatalyst(l.asInstanceOf[InternalRow], nf)
    val b = TripleCodec.fromCatalyst(r.asInstanceOf[InternalRow], nf)
    TripleCodec.toCatalyst(if (nbMode) Triple.multiplyNb(a, b) else Triple.multiply(a, b), nbMode)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MultiplyTriple =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "multiply_triple"
}
