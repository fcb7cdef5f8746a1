package graft.agg

import graft.ring.Triple
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/**
 * Minimal open-addressing Long → slot-array map with a FULL-WIDTH
 * multiplicative key mixer. Exists because
 * `scala.collection.mutable.LongMap` indexes by
 * murmur-finalizing the low 32 bits of `k ^ (k >>> 32)` — and every
 * diagonal packed pair key `(v<<32)|v` ([[graft.ring.Triple.catKey]])
 * xor-folds those bits to 0, collapsing the whole table to ONE probe
 * chain: O(m²) aggregate merges, measured at 17–60 s for a single
 * 600k-row cofactor over a 20k-category column. The golden-ratio
 * multiply mixes all 64 key bits before folding, so correlated-halves
 * keys spread like any others. Supports exactly what [[CofactorBuffer]]
 * needs: getOrElseUpdate / put / apply / sortedKeys / sizeHint / foreach / size.
 */
final class KeyedSlots(initialCap: Int = 8) {
  private var mask = Integer.highestOneBit(math.max(4, initialCap)) * 4 - 1
  private var keys = new Array[Long](mask + 1)
  private var vals = new Array[Array[Double]](mask + 1)
  private var n = 0

  @inline private def idx(k: Long): Int = {
    val h = k * -0x61c8864680b583ebL // 2^64 / φ, odd
    ((h ^ (h >>> 32)) & mask).toInt
  }

  def size: Int = n

  /** Room for `k` more keys, so adding them never rehashes. */
  def sizeHint(k: Int): Unit = while ((n + k) * 2 > mask) grow()

  def getOrElseUpdate(k: Long, default: => Array[Double]): Array[Double] = {
    var i = idx(k)
    while (vals(i) != null) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & mask
    }
    val v = default
    keys(i) = k; vals(i) = v; n += 1
    if (n * 2 > mask) grow()
    v
  }

  /** Direct insert for codec reads (key known absent). */
  def put(k: Long, v: Array[Double]): Unit = {
    var i = idx(k)
    while (vals(i) != null && keys(i) != k) i = (i + 1) & mask
    if (vals(i) == null) n += 1
    keys(i) = k; vals(i) = v
    if (n * 2 > mask) grow()
  }

  /** The slot array of a present key `k`. */
  def apply(k: Long): Array[Double] = getOrElseUpdate(k, throw new NoSuchElementException(s"key $k"))

  /** The keys in ascending order. */
  def sortedKeys: Array[Long] = {
    val out = new Array[Long](n)
    var i = 0; var c = 0
    while (i <= mask) { if (vals(i) != null) { out(c) = keys(i); c += 1 }; i += 1 }
    java.util.Arrays.sort(out)
    out
  }

  def foreach(f: ((Long, Array[Double])) => Unit): Unit = {
    var i = 0
    while (i <= mask) { if (vals(i) != null) f((keys(i), vals(i))); i += 1 }
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    mask = mask * 2 + 1
    keys = new Array[Long](mask + 1)
    vals = new Array[Array[Double]](mask + 1)
    var i = 0
    while (i < ok.length) {
      if (ov(i) != null) {
        var j = idx(ok(i))
        while (vals(j) != null) j = (j + 1) & mask
        keys(j) = ok(i); vals(j) = ov(i)
      }
      i += 1
    }
  }
}

/**
 * Mutable aggregation state for the fused lift+sum cofactor aggregate.
 * Mirrors the reference's SumState (sum/sum_state.h:14-28): dense arrays
 * for the continuous part plus one hash map per categorical column whose
 * value is `[count, Σx_0 … Σx_{numCols-1}]` (count-only in NB mode), and
 * one map per categorical pair for co-occurrence counts.
 *
 * `maxCategories` guards against ID-like "categorical" columns:
 * per-column distinct categories are buffer state on every executor, so
 * an unbounded column is a silent OOM at scale. Checked on map growth.
 */
final class CofactorBuffer(val numCols: Int, val catCols: Int, val nbMode: Boolean,
                           val maxCategories: Int = Int.MaxValue) {
  var n: Long = 0L
  val lin = new Array[Double](numCols)
  val quad = new Array[Double](if (nbMode) numCols else numCols * (numCols + 1) / 2)
  // KeyedSlots: unboxed mixed-hash keys on the per-row hot path (see its
  // scaladoc for why mutable.LongMap is unusable on packed pair keys).
  // Values are slot arrays mutated in place ([count, Σx_0 … Σx_{n-1}];
  // length-1 for the co-occurrence maps): a hit is one probe, no boxing.
  val catMaps: Array[KeyedSlots] = Array.fill(catCols)(new KeyedSlots)
  val quadCat: Array[KeyedSlots] =
    if (nbMode) Array.empty else Array.fill(catCols * (catCols + 1) / 2)(new KeyedSlots)
  // scratch row (avoids per-row allocation in update)
  val rowNum = new Array[Double](numCols)
  val rowCat = new Array[Int](catCols)

  private val catSlots = if (nbMode) 1 else numCols + 1

  /** Accumulate one row from the scratch arrays (sum_no_lift.cpp:53-216). */
  def updateRow(): Unit = {
    n += 1
    var i = 0
    while (i < numCols) { lin(i) += rowNum(i); i += 1 }
    if (nbMode) {
      i = 0
      while (i < numCols) { quad(i) += rowNum(i) * rowNum(i); i += 1 }
    } else {
      var idx = 0
      i = 0
      while (i < numCols) {
        val xi = rowNum(i)
        var j = i
        while (j < numCols) { quad(idx) += xi * rowNum(j); idx += 1; j += 1 }
        i += 1
      }
    }
    updateCats()
  }

  /** Categorical-side accumulation for the row currently in the scratch
    * arrays. Split out of [[updateRow]] so the columnar batch path
    * ([[ColumnarCofactor]]) can vectorize the numeric block separately
    * while reusing the exact per-row map updates and cardinality guard. */
  def updateCats(): Unit = {
    var i = 0
    var j = 0
    while (j < catCols) {
      val m = catMaps(j)
      val before = m.size
      val slot = m.getOrElseUpdate(rowCat(j).toLong, new Array[Double](catSlots))
      if (m.size > before && m.size > maxCategories)
        throw new IllegalStateException(
          s"cofactor: categorical column #$j exceeded $maxCategories distinct values — " +
          "this looks like an ID, not a category (raise spark.graft.cofactor.maxCategories to override)")
      slot(0) += 1.0
      if (!nbMode) {
        i = 0
        while (i < numCols) { slot(i + 1) += rowNum(i); i += 1 }
      }
      j += 1
    }
    if (!nbMode) {
      j = 0
      while (j < catCols) {
        var k = j
        while (k < catCols) {
          val pm = quadCat(Triple.pairIdx(j, k, catCols))
          val key = Triple.catKey(rowCat(j), rowCat(k))
          pm.getOrElseUpdate(key, new Array[Double](1))(0) += 1.0
          k += 1
        }
        j += 1
      }
    }
  }

  /** Pairwise partial-state merge (sum_state.cpp:11-114). */
  def merge(o: CofactorBuffer): Unit = {
    require(numCols == o.numCols && catCols == o.catCols && nbMode == o.nbMode,
      s"shape mismatch: ($numCols,$catCols) vs (${o.numCols},${o.catCols})")
    n += o.n
    var i = 0
    while (i < lin.length) { lin(i) += o.lin(i); i += 1 }
    i = 0
    while (i < quad.length) { quad(i) += o.quad(i); i += 1 }
    var j = 0
    while (j < catCols) {
      o.catMaps(j).foreach { case (k, v) =>
        val slot = catMaps(j).getOrElseUpdate(k, new Array[Double](catSlots))
        var s = 0
        while (s < catSlots) { slot(s) += v(s); s += 1 }
      }
      j += 1
    }
    checkMerged()
    j = 0
    while (j < quadCat.length) {
      val pm = quadCat(j)
      o.quadCat(j).foreach { case (k, v) => pm.getOrElseUpdate(k, new Array[Double](1))(0) += v(0) }
      j += 1
    }
  }

  /** The guard of a merge: every merged categorical map within
    * `maxCategories`. */
  private[agg] def checkMerged(): Unit = {
    var j = 0
    while (j < catCols) {
      if (catMaps(j).size > maxCategories)
        throw new IllegalStateException(
          s"cofactor: categorical column #$j exceeded $maxCategories distinct values after merge " +
          "(raise spark.graft.cofactor.maxCategories to override)")
      j += 1
    }
  }

  /** The canonical triple (matches ring.Triple): exact-zero sums are
    * dropped from every map. */
  def toTriple: Triple = TripleCodec.fromCatalyst(TripleCodec.toCatalyst(this), if (nbMode) 4 else 6)
}

object CofactorBuffer {
  /** The binary form of every buffer (aggregate partial states, eager
    * partials): its slot arrays as-is, with no triple intermediate. */
  def toBytes(b: CofactorBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBoolean(b.nbMode)
    out.writeLong(b.n)
    out.writeInt(b.numCols); out.writeInt(b.catCols)
    b.lin.foreach(out.writeDouble)
    b.quad.foreach(out.writeDouble)
    b.catMaps.foreach { m =>
      out.writeInt(m.size)
      m.foreach { case (k, v) => out.writeLong(k); v.foreach(out.writeDouble) }
    }
    b.quadCat.foreach { m =>
      out.writeInt(m.size)
      m.foreach { case (k, v) => out.writeLong(k); out.writeDouble(v(0)) }
    }
    out.flush()
    bos.toByteArray
  }

  /** The buffer `toBytes` wrote, held to `maxCategories` in its merges. */
  def fromBytes(bytes: Array[Byte], maxCategories: Int = Int.MaxValue): CofactorBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val nbMode = in.readBoolean()
    val n = in.readLong()
    val b = new CofactorBuffer(in.readInt(), in.readInt(), nbMode, maxCategories)
    b.n = n
    b.lin.indices.foreach(b.lin(_) = in.readDouble())
    b.quad.indices.foreach(b.quad(_) = in.readDouble())
    val catSlots = if (nbMode) 1 else b.numCols + 1
    def read(m: KeyedSlots, slots: Int): Unit = {
      val sz = in.readInt()
      m.sizeHint(sz)
      for (_ <- 0 until sz) m.put(in.readLong(), Array.fill(slots)(in.readDouble()))
    }
    b.catMaps.foreach(read(_, catSlots))
    b.quadCat.foreach(read(_, 1))
    b
  }
}

object CofactorAggregate {
  /** Read the categorical-cardinality cap at plan time on the driver
    * (session-settable; executors get the captured value). */
  def confMaxCategories(): Int =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.cofactor.maxCategories", "1048576").toInt
    catch { case _: Throwable => 1048576 }
}

/**
 * Fused lift+sum cofactor aggregate — the Spark-native form of the
 * reference's generated `sum_to_triple_<x>_<y>` family
 * (duckdb_imputation_extension.cpp:83-113, sum_no_lift.cpp:53-216). One
 * generic [[TypedImperativeAggregate]] parameterized by the child types
 * replaces the 399 generated names: children with floating-point types are
 * continuous, integer-typed children are categorical (the reference's
 * bind-time dispatch, lift.cpp:31-38).
 *
 * Runs as partial aggregation per task + merge after shuffle
 * (ObjectHashAggregateExec), which is exactly the reference's
 * update/combine/finalize split (sum_state.cpp) distributed across
 * executors. Null handling: rows with any NULL argument are skipped (the
 * reference's MICE drivers eliminate NULLs with COALESCE before
 * aggregating; partition.cpp:210-220).
 */
case class CofactorAggregate(
    children: Seq[Expression],
    nbMode: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    maxCategories: Int = CofactorAggregate.confMaxCategories())
  extends TypedImperativeAggregate[CofactorBuffer] {

  private lazy val isNum: Array[Boolean] = children.map(_.dataType match {
    case DoubleType | FloatType | _: DecimalType => true
    case IntegerType | LongType | ShortType | ByteType | BooleanType => false
    case dt => throw new IllegalArgumentException(s"cofactor: unsupported column type $dt")
  }).toArray
  private lazy val numChildren: Array[Expression] =
    children.zip(isNum).collect { case (c, true) => c }.toArray
  private lazy val catChildren: Array[Expression] =
    children.zip(isNum).collect { case (c, false) => c }.toArray

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.map(_.dataType).filterNot {
      case DoubleType | FloatType | _: DecimalType | IntegerType | LongType | ShortType | ByteType | BooleanType => true
      case _ => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cofactor aggregate needs FLOAT/DOUBLE (continuous) or integer (categorical) columns, got ${bad.mkString(", ")}")
  }

  override def dataType: DataType = TripleCodec.dataType(nbMode)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): CofactorBuffer =
    new CofactorBuffer(numChildren.length, catChildren.length, nbMode, maxCategories)

  private def toDouble(v: Any): Double = v match {
    case d: java.lang.Double => d
    case f: java.lang.Float => f.toDouble
    case i: java.lang.Integer => i.toDouble
    case l: java.lang.Long => l.toDouble
    case s: java.lang.Short => s.toDouble
    case b: java.lang.Byte => b.toDouble
    case b: java.lang.Boolean => if (b) 1.0 else 0.0
    case d: Decimal => d.toDouble
  }
  private def toInt(v: Any): Int = v match {
    case i: java.lang.Integer => i
    case l: java.lang.Long => l.toInt
    case s: java.lang.Short => s.toInt
    case b: java.lang.Byte => b.toInt
    case b: java.lang.Boolean => if (b) 1 else 0
  }

  // Fast path: after binding, plain column inputs are BoundReferences —
  // read primitives straight from the row instead of boxing via eval().
  // ordinal >= 0 with a type code, or -1 → generic eval fallback.
  private final val T_DOUBLE = 0; private final val T_FLOAT = 1
  private final val T_INT = 2; private final val T_LONG = 3
  private final val T_SHORT = 4; private final val T_BYTE = 5
  private lazy val numFast: Array[Long] = numChildren.map(fastCode).toArray
  private lazy val catFast: Array[Long] = catChildren.map(fastCode).toArray

  private def fastCode(e: Expression): Long = e match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference =>
      val t = b.dataType match {
        case DoubleType => T_DOUBLE
        case FloatType => T_FLOAT
        case IntegerType => T_INT
        case LongType => T_LONG
        case ShortType => T_SHORT
        case ByteType => T_BYTE
        case _ => return -1L
      }
      (b.ordinal.toLong << 3) | t
    case _ => -1L
  }

  @inline private def readFast(code: Long, input: InternalRow): Double = {
    val ord = (code >>> 3).toInt
    (code & 7L).toInt match {
      case T_DOUBLE => input.getDouble(ord)
      case T_FLOAT => input.getFloat(ord).toDouble
      case T_INT => input.getInt(ord).toDouble
      case T_LONG => input.getLong(ord).toDouble
      case T_SHORT => input.getShort(ord).toDouble
      case T_BYTE => input.getByte(ord).toDouble
    }
  }

  override def update(buffer: CofactorBuffer, input: InternalRow): CofactorBuffer = {
    var i = 0
    while (i < numChildren.length) {
      val code = numFast(i)
      if (code >= 0) {
        if (input.isNullAt((code >>> 3).toInt)) return buffer
        buffer.rowNum(i) = readFast(code, input)
      } else {
        val v = numChildren(i).eval(input)
        if (v == null) return buffer
        buffer.rowNum(i) = toDouble(v)
      }
      i += 1
    }
    var j = 0
    while (j < catChildren.length) {
      val code = catFast(j)
      if (code >= 0) {
        if (input.isNullAt((code >>> 3).toInt)) return buffer
        buffer.rowCat(j) = readFast(code, input).toInt
      } else {
        val v = catChildren(j).eval(input)
        if (v == null) return buffer
        buffer.rowCat(j) = toInt(v)
      }
      j += 1
    }
    buffer.updateRow()
    buffer
  }

  override def merge(buffer: CofactorBuffer, input: CofactorBuffer): CofactorBuffer = {
    buffer.merge(input); buffer
  }

  override def eval(buffer: CofactorBuffer): Any = TripleCodec.toCatalyst(buffer)

  override def serialize(buffer: CofactorBuffer): Array[Byte] = CofactorBuffer.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): CofactorBuffer =
    CofactorBuffer.fromBytes(bytes, maxCategories)

  override def withNewMutableAggBufferOffset(newOffset: Int): CofactorAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CofactorAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CofactorAggregate =
    copy(children = newChildren)
  override def prettyName: String = if (nbMode) "sum_to_nb_agg" else "sum_to_triple"
}
