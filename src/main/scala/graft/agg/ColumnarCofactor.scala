package graft.agg

import graft.ring.Triple
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, ProjectExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Contains, EndsWith, EqualTo, ExprId, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or, StartsWith}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Columnar-batch cofactor: computes the same triple as
 * `agg(sumTriple(...))` by consuming the parquet scan's
 * [[ColumnarBatch]] vectors directly, skipping the ColumnarToRow
 * boundary, per-row expression evaluation, and the aggregate iterator —
 * the measured residual between graft's scan-aggregate and DuckDB's
 * vectorized pipeline on the same data (BENCH_CONTEXT "scan-agg
 * endpoint").
 *
 * The numeric block (Σx_i and the packed-upper-triangle Σx_i·x_j) runs
 * as tight loops over per-batch primitive `double[]` buffers, four
 * independent sums per pass over the rows, and the categorical block
 * counts into direct-indexed windows flushed into [[CofactorBuffer]]'s
 * maps once per batch ([[CofactorBuffer.updateCats]] per row only past
 * the window caps), so the map layout, canonical form, and the
 * max-categories OOM guard are the single certified implementation.
 * The per-class entries decode each batch in class order and run the
 * same two routines on every class's rows. One kernel [[pass]] serves
 * every entry; per-partition buffers merge on the driver as the row fold's do (KBs per partition —
 * the same content the row aggregate shuffles).
 *
 * Semantics match [[CofactorAggregate]] exactly: float/double columns
 * are continuous, integer columns categorical, rows with any NULL input
 * are skipped (partition.cpp:210-220 in the reference's MICE drivers),
 * and `CatYear` mirrors `functions.year` — session-timezone calendar
 * year on TIMESTAMP, tz-free on TIMESTAMP_NTZ (a wall-clock datetime)
 * and DATE. Only floating-point summation ORDER differs (batched vs
 * row-at-a-time), i.e. last-ulp differences — the same caveat any
 * partial-aggregation plan already carries across partition counts.
 *
 * Scale: the harvested RDD is the scan's own — one task per parquet
 * split, no shuffle at all; the only data movement is one buffer per
 * class per partition to the driver. This is strictly less traffic than the row
 * aggregate's partial/final exchange. The harvest accepts a bare
 * columnar scan plus attribute-only projections and FILTERS it can
 * compile itself (attr-vs-literal comparisons, contains/startsWith/
 * endsWith, IN, IS [NOT] NULL, bare boolean columns, AND/OR/NOT —
 * evaluated per batch as a selection mask with SQL three-valued
 * logic, see [[compilePred]]); it REFUSES anything else — a join,
 * computed projection, or uncompilable predicate can never be
 * silently dropped — and callers fall back to the row aggregate
 * (`None`).
 */
object ColumnarCofactor {

  /** Continuous column spec: a source column read as double. */
  sealed trait NumSpec { def inputs: Seq[String] }
  final case class NumCol(name: String) extends NumSpec { def inputs: Seq[String] = Seq(name) }
  /** Derived continuous column: `f(inBufs, out, n)` fills `out(0 until n)`
    * from the materialized input buffers (tight-loop shape; the lambda
    * ships in the task closure so it must not capture driver state). */
  final case class NumDerived(inputs: Seq[String], label: String,
      f: (Array[Array[Double]], Array[Double], Int) => Unit) extends NumSpec

  /** Categorical column spec: a source column read as an int key. */
  sealed trait CatSpec { def inputs: Seq[String] }
  /** Integer-typed categorical column (the aggregate's bind-time rule). */
  final case class CatCol(name: String) extends CatSpec { def inputs: Seq[String] = Seq(name) }
  /** `year(col)` as a categorical — session-timezone calendar year on
    * TIMESTAMP, plain calendar year on DATE (epoch-days carry no tz),
    * matching `functions.year` on both. */
  final case class CatYear(name: String) extends CatSpec { def inputs: Seq[String] = Seq(name) }
  /** 1–4 single-byte string columns packed into one int key (one byte
    * per column, first-listed in the high bits) — the TPC-H flag-column
    * shape (`l_returnflag`/`l_linestatus`). Longer values throw:
    * a general string dimension should be dictionary-encoded to an int
    * column upstream instead of silently colliding here. */
  final case class CatPackedStrings(names: Seq[String]) extends CatSpec {
    require(names.nonEmpty && names.size <= 4, "CatPackedStrings takes 1-4 columns")
    def inputs: Seq[String] = names
  }
  /** ONE string column of short values packed base-256 into the class
    * key (raw UTF-8 bytes, first byte in the high position) — the
    * short-code dimension shape (`lang` 'en', country 'US', locale
    * 'en-US', 8-char SKUs). As a CAT COLUMN the key is an int, so 1–4
    * bytes pack; in LABEL position ([[cofactorPerClassLong]]) the key
    * is a LONG, so 1–8 bytes pack. Injective over NUL-free values
    * either way: with no 0x00 byte allowed, the integer uniquely
    * determines both length and bytes ('A' = 0x41 can only collide
    * with "\u0000A" = 0x0041, which is refused). Wider values or
    * embedded NULs throw — callers that
    * must not crash on data shape (`Graft.cofactorGrouped`) gate on the
    * probe's exact max width + NUL scan first. */
  final case class CatShortString(name: String) extends CatSpec {
    def inputs: Seq[String] = Seq(name)
  }
  /** LABEL-ONLY spec: 2–4 group-key columns packed into the ONE Long
    * label channel, key i occupying exactly `widths(i)` bytes
    * (first-listed in the high bits; Σ widths ≤ 8) — the `GROUP BY
    * source, lang` curation-cut shape riding the same kernel as a
    * single key. A string sub-key packs ≤ width raw UTF-8 bytes
    * base-256 (NUL-free, like [[CatShortString]]); an int-typed
    * sub-key must be non-negative and < 2^(8·width). Both are probed
    * EXACTLY by the gate (`Graft.groupedKernelGate`) before this spec
    * is constructed, and re-checked fail-loud per row so an in-place
    * data rewrite can never silently alias two groups. Fixed widths
    * keep the packing injective: each field owns its byte range, so
    * (a,bc) and (ab,c) land in different cells by construction. Only
    * valid in label position ([[cofactorPerClassLong]]'s last spec) —
    * [[compile]] refuses it anywhere else. */
  final case class CatPackedKeys(names: Seq[String], widths: Seq[Int]) extends CatSpec {
    require(names.size >= 2 && names.size <= 4 && names.size == widths.size,
      "CatPackedKeys packs 2-4 key columns")
    require(widths.forall(w => w >= 1 && w <= 8) && widths.sum <= 8,
      "CatPackedKeys widths must be 1-8 bytes each, 8 total")
    def inputs: Seq[String] = names
  }
  /** LABEL-ONLY spec: a string group key DICTIONARY-ENCODED into the
    * Long label channel — the route for keys base-256 packing cannot
    * carry (wider than 8 UTF-8 bytes, or NUL-embedded): `dict` is the
    * broadcast sorted distinct key bytes (built by
    * `Graft.groupedKernelGate` from its own distinct scan, bounded by
    * the same byte-based group cap as every other kernel route), and
    * each row pays one hash probe into an executor-cached FNV table
    * instead of a byte pack. The label is the key's index in `dict`,
    * so the driver recovers the string as `dict(label)`. A key value
    * ABSENT from the dictionary means the data changed between the
    * dictionary scan and the aggregate — fail loudly, never fold the
    * row into a wrong group (same in-place-rewrite contract as
    * [[CatPackedKeys]]). Only valid in label position. */
  final case class CatDictString(name: String,
      dict: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]]) extends CatSpec {
    def inputs: Seq[String] = Seq(name)
  }

  /** Recover the packed strings of a [[CatPackedStrings]] key. */
  def unpackStrings(key: Int, nCols: Int): Seq[String] =
    (0 until nCols).map(i => ((key >>> (8 * (nCols - 1 - i))) & 0xff).toChar.toString)

  /** Recover the string of a [[CatShortString]] key: significant bytes
    * MSB-first, decoded as UTF-8 (multi-byte chars round-trip — the
    * pack is raw bytes, not chars). Key 0 is the empty string. */
  def unpackShortString(key: Int): String = unpackShortString(key & 0xffffffffL)

  /** Split a [[CatPackedKeys]] label back into its per-key raw fields
    * (first-listed key first). String fields decode further via
    * [[unpackShortString]]; int-typed fields ARE the value. */
  def unpackPackedKeys(key: Long, widths: Seq[Int]): Seq[Long] = {
    var shift = 0
    val out = new Array[Long](widths.size)
    var i = widths.size - 1
    while (i >= 0) {
      val w = widths(i)
      val mask = if (w >= 8) -1L else (1L << (8 * w)) - 1L
      out(i) = (key >>> shift) & mask
      shift += 8 * w
      i -= 1
    }
    out.toSeq
  }

  /** [[unpackShortString]] for a LONG label key (1–8 packed bytes). */
  def unpackShortString(key: Long): String = {
    var n = 8
    while (n > 0 && (key >>> (8 * (n - 1))) == 0) n -= 1
    val bs = new Array[Byte](n)
    var i = 0
    while (i < n) { bs(i) = ((key >>> (8 * (n - 1 - i))) & 0xff).toByte; i += 1 }
    new String(bs, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** [[CatDictString]]'s executor-side probe table: FNV-1a open
    * addressing over the broadcast's sorted key bytes, value = the
    * key's dictionary index (the kernel label). */
  private[graft] final class DictTable(dict: Array[Array[Byte]]) {
    private val (slots, hashes, ids, mask) = {
      var cap = 16
      while (cap < dict.length * 2) cap <<= 1
      val sl = new Array[Array[Byte]](cap)
      val hs = new Array[Int](cap)
      val id = new Array[Int](cap)
      val m = cap - 1
      var i = 0
      while (i < dict.length) {
        val kb = dict(i)
        var h = -2128831035
        var j = 0
        while (j < kb.length) { h = (h ^ (kb(j) & 0xff)) * 16777619; j += 1 }
        var s = h & m
        while (sl(s) != null) s = (s + 1) & m // keys are distinct by construction
        sl(s) = kb; hs(s) = h; id(s) = i
        i += 1
      }
      (sl, hs, id, m)
    }
    def lookup(u: UTF8String): Long = {
      val n = u.numBytes
      var h = -2128831035
      var i = 0
      while (i < n) { h = (h ^ (u.getByte(i) & 0xff)) * 16777619; i += 1 }
      var p = h & mask
      while (true) {
        val kb = slots(p)
        if (kb == null)
          throw new IllegalStateException(
            s"CatDictString: key value '$u' is not in the group dictionary — " +
            "the data changed between the dictionary scan and the aggregate " +
            "(in-place rewrite?); re-run the query")
        if (hashes(p) == h && kb.length == n) {
          var j = 0
          while (j < n && kb(j) == u.getByte(j)) j += 1
          if (j == n) return ids(p).toLong
        }
        p = (p + 1) & mask
      }
      0L // unreachable
    }
  }

  // executor-lifetime dict-table cache keyed by broadcast id
  // (SoftReference values — reclaimable under memory pressure; a fresh
  // per-task build would pay O(|dict|) per task)
  private val dictTables =
    new java.util.concurrent.ConcurrentHashMap[Long, java.lang.ref.SoftReference[DictTable]]()
  private def dictTableFor(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]]): DictTable = {
    val ref = dictTables.get(bc.id)
    val hit = if (ref == null) null else ref.get()
    if (hit != null) return hit
    val built = new DictTable(bc.value)
    dictTables.put(bc.id, new java.lang.ref.SoftReference(built))
    built
  }

  // ---------------------------------------------------------------- harvest

  /** The columnar leaf scan of `plan` plus every [[FilterExec]] condition
    * met on the way down, or None if anything OTHER than row-conversion /
    * codegen glue / attribute-only projection / filter sits above it (a
    * join or non-trivial projection must force the fallback, never be
    * dropped). Collected filters are compiled to batch-mask predicates by
    * [[compilePred]]; an uncompilable condition refuses the harvest there,
    * so a filter can never be silently dropped either way. */
  private def leafScanAndFilters(plan: SparkPlan): Option[(SparkPlan, Seq[Expression])] = plan match {
    case w: WholeStageCodegenExec => leafScanAndFilters(w.child)
    case i: InputAdapter => leafScanAndFilters(i.child)
    case c: ColumnarToRowExec => leafScanAndFilters(c.child)
    case p: ProjectExec if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      leafScanAndFilters(p.child)
    case f: FilterExec =>
      leafScanAndFilters(f.child).map { case (s, fs) => (s, f.condition +: fs) }
    case s if s.supportsColumnar && s.children.isEmpty => Some((s, Nil))
    case _ => None
  }

  // ------------------------------------------------- filter mask predicates
  //
  // A FilterExec above the scan is evaluated by the kernel itself: each
  // supported condition compiles to a [[Pred]] that fills a per-batch
  // mask with SQL three-valued logic (1 = true, 0 = false, 2 = unknown/
  // NULL); only mask==1 rows survive, which is exactly FilterExec's
  // "predicate is true" contract (unknown drops the row, and NOT(unknown)
  // stays unknown, so negations keep the same semantics). Supported
  // shapes: attr-vs-literal comparisons on integral/date/timestamp (long
  // domain), float/double (java.lang.Double.compare — the NaN-largest,
  // NaN==NaN ordering Spark uses), and string (UTF8String binary order);
  // contains/startsWith/endsWith on default-collation strings;
  // IN/INSET literal lists; IS [NOT] NULL; bare boolean columns and
  // boolean literals; AND/OR/NOT. Anything else — casts, arithmetic,
  // UDFs, subqueries, collated strings — refuses the harvest and the
  // caller falls back to the row aggregate.

  private final val OP_EQ = 0; private final val OP_LT = 1; private final val OP_LE = 2
  private final val OP_GT = 3; private final val OP_GE = 4

  private def cmpOk(op: Int, c: Int): Boolean = op match {
    case OP_EQ => c == 0
    case OP_LT => c < 0
    case OP_LE => c <= 0
    case OP_GT => c > 0
    case OP_GE => c >= 0
  }

  private sealed abstract class Pred extends Serializable {
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit
  }

  private final class ConstP(v: Byte) extends Pred {
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit =
      java.util.Arrays.fill(out, 0, n, v)
  }

  /** A bare boolean column used as the predicate (the missingness-flag
    * shape MICE's stratum scans filter on). */
  private final class BoolAttrP(ord: Int) extends Pred {
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      val v = b.column(ord)
      val nulls = v.hasNull
      var r = 0
      while (r < n) {
        out(r) = if (nulls && v.isNullAt(r)) 2 else if (v.getBoolean(r)) 1 else 0
        r += 1
      }
    }
  }

  private final class NullTestP(ord: Int, wantNull: Boolean) extends Pred {
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      val v = b.column(ord)
      if (!v.hasNull) {
        java.util.Arrays.fill(out, 0, n, if (wantNull) 0.toByte else 1.toByte)
      } else {
        var r = 0
        while (r < n) { out(r) = if (v.isNullAt(r) == wantNull) 1 else 0; r += 1 }
      }
    }
  }

  /** Integral/date/timestamp comparison in the long domain (t selects the
    * vector accessor; DateType days ride T_INT, timestamp micros T_LONG). */
  private final class CmpLongP(ord: Int, t: Int, op: Int, lit: Long) extends Pred {
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      val v = b.column(ord)
      val nulls = v.hasNull
      var r = 0
      while (r < n) {
        if (nulls && v.isNullAt(r)) out(r) = 2
        else {
          val x: Long = t match {
            case T_INT => v.getInt(r).toLong
            case T_LONG | T_TS => v.getLong(r)
            case T_SHORT => v.getShort(r).toLong
            case T_BYTE => v.getByte(r).toLong
          }
          out(r) = if (cmpOk(op, java.lang.Long.compare(x, lit))) 1 else 0
        }
        r += 1
      }
    }
  }

  private final class CmpDoubleP(ord: Int, t: Int, op: Int, lit: Double) extends Pred {
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      val v = b.column(ord)
      val nulls = v.hasNull
      var r = 0
      while (r < n) {
        if (nulls && v.isNullAt(r)) out(r) = 2
        else {
          val x = if (t == T_FLOAT) v.getFloat(r).toDouble else v.getDouble(r)
          // Spark's SQLOrderingUtil.compareDoubles: primitive == first (so
          // -0.0 equals 0.0), then Double.compare (so NaN is ordered) —
          // raw Double.compare alone would drop -0.0 rows on `=== 0.0`
          val c = if (x == lit) 0 else java.lang.Double.compare(x, lit)
          out(r) = if (cmpOk(op, c)) 1 else 0
        }
        r += 1
      }
    }
  }

  /** contains / startsWith / endsWith on a string column (mode 0/1/2) —
    * the text-pipeline filter shapes, via UTF8String's own methods. */
  private final class StrMatchP(ord: Int, mode: Int, litBytes: Array[Byte]) extends Pred {
    @transient private lazy val lit = UTF8String.fromBytes(litBytes)
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      val v = b.column(ord)
      val nulls = v.hasNull
      var r = 0
      while (r < n) {
        if (nulls && v.isNullAt(r)) out(r) = 2
        else {
          val x = v.getUTF8String(r)
          val hit = mode match {
            case 0 => x.contains(lit)
            case 1 => x.startsWith(lit)
            case 2 => x.endsWith(lit)
          }
          out(r) = if (hit) 1 else 0
        }
        r += 1
      }
    }
  }

  private final class CmpStringP(ord: Int, op: Int, litBytes: Array[Byte]) extends Pred {
    @transient private lazy val lit = UTF8String.fromBytes(litBytes)
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      val v = b.column(ord)
      val nulls = v.hasNull
      var r = 0
      while (r < n) {
        if (nulls && v.isNullAt(r)) out(r) = 2
        else out(r) = if (cmpOk(op, v.getUTF8String(r).compareTo(lit))) 1 else 0
        r += 1
      }
    }
  }

  private final class InLongP(ord: Int, t: Int, set0: Array[Long]) extends Pred {
    private val set = { val a = set0.clone(); java.util.Arrays.sort(a); a }
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      val v = b.column(ord)
      val nulls = v.hasNull
      var r = 0
      while (r < n) {
        if (nulls && v.isNullAt(r)) out(r) = 2
        else {
          val x: Long = t match {
            case T_INT => v.getInt(r).toLong
            case T_LONG | T_TS => v.getLong(r)
            case T_SHORT => v.getShort(r).toLong
            case T_BYTE => v.getByte(r).toLong
          }
          out(r) = if (java.util.Arrays.binarySearch(set, x) >= 0) 1 else 0
        }
        r += 1
      }
    }
  }

  /** Double IN — linear probe with Double.compare after normalizing -0.0
    * (x + 0.0), so NaN matches NaN and -0.0 matches 0.0. This holds for
    * BOTH `In` and its optimized `InSet` form: since SPARK-32110 the
    * optimizer wraps floating-point IN comparisons in NormalizeNaNAndZero,
    * so the row path also treats -0.0 as 0.0 (parity pinned in the spec's
    * In/InSet zero-semantics test — InSet.eval's raw boxed set alone would
    * suggest otherwise, but it never sees a non-normalized -0.0). */
  private final class InDoubleP(ord: Int, t: Int, set0: Array[Double]) extends Pred {
    private val set = set0.map(_ + 0.0)
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      val v = b.column(ord)
      val nulls = v.hasNull
      var r = 0
      while (r < n) {
        if (nulls && v.isNullAt(r)) out(r) = 2
        else {
          val x = (if (t == T_FLOAT) v.getFloat(r).toDouble else v.getDouble(r)) + 0.0
          var hit = false
          var i = 0
          while (!hit && i < set.length) { if (java.lang.Double.compare(x, set(i)) == 0) hit = true; i += 1 }
          out(r) = if (hit) 1 else 0
        }
        r += 1
      }
    }
  }

  private final class InStringP(ord: Int, set0: Array[Array[Byte]]) extends Pred {
    @transient private lazy val set = set0.map(UTF8String.fromBytes)
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      val v = b.column(ord)
      val nulls = v.hasNull
      var r = 0
      while (r < n) {
        if (nulls && v.isNullAt(r)) out(r) = 2
        else {
          val x = v.getUTF8String(r)
          var hit = false
          var i = 0
          while (!hit && i < set.length) { if (x.equals(set(i))) hit = true; i += 1 }
          out(r) = if (hit) 1 else 0
        }
        r += 1
      }
    }
  }

  private final class NotP(p: Pred) extends Pred {
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      p.eval(b, n, out)
      var r = 0
      while (r < n) { val a = out(r); if (a != 2) out(r) = (1 - a).toByte; r += 1 }
    }
  }

  private sealed abstract class BinMaskP(ps: Array[Pred]) extends Pred {
    @transient private var tmp: Array[Byte] = _
    protected def combine(a: Byte, c: Byte): Byte
    def eval(b: ColumnarBatch, n: Int, out: Array[Byte]): Unit = {
      ps(0).eval(b, n, out)
      var i = 1
      while (i < ps.length) {
        if (tmp == null || tmp.length < n) tmp = new Array[Byte](math.max(n, 4096))
        ps(i).eval(b, n, tmp)
        var r = 0
        while (r < n) { out(r) = combine(out(r), tmp(r)); r += 1 }
        i += 1
      }
    }
  }
  private final class AndP(ps: Array[Pred]) extends BinMaskP(ps) {
    protected def combine(a: Byte, c: Byte): Byte =
      if (a == 0 || c == 0) 0 else if (a > c) a else c // false wins, else unknown wins
  }
  private final class OrP(ps: Array[Pred]) extends BinMaskP(ps) {
    protected def combine(a: Byte, c: Byte): Byte =
      if (a == 1 || c == 1) 1 else if (a > c) a else c // true wins, else unknown wins
  }

  /** Compile a FilterExec condition to a mask predicate, or None if any
    * node falls outside the supported subset (harvest then refuses). */
  private def compilePred(e: Expression, ordOf: Map[ExprId, Int]): Option[Pred] = {
    def attr(x: Expression): Option[(Int, DataType)] = x match {
      case a: AttributeReference => ordOf.get(a.exprId).map(i => (i, a.dataType))
      case _ => None
    }
    def longVal(v: Any): Long = v match {
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case l: Long => l
    }
    def leaf(a: Expression, l: Literal, op: Int): Option[Pred] = attr(a).flatMap { case (i, dt) =>
      if (l.value == null) Some(new ConstP(2))
      else if (l.dataType != dt) None
      else dt match {
        case ByteType => Some(new CmpLongP(i, T_BYTE, op, longVal(l.value)))
        case ShortType => Some(new CmpLongP(i, T_SHORT, op, longVal(l.value)))
        case IntegerType | DateType => Some(new CmpLongP(i, T_INT, op, longVal(l.value)))
        case LongType => Some(new CmpLongP(i, T_LONG, op, longVal(l.value)))
        case TimestampType | TimestampNTZType => Some(new CmpLongP(i, T_TS, op, longVal(l.value)))
        case FloatType => Some(new CmpDoubleP(i, T_FLOAT, op, l.value.asInstanceOf[Float].toDouble))
        case DoubleType => Some(new CmpDoubleP(i, T_DOUBLE, op, l.value.asInstanceOf[Double]))
        case StringType => Some(new CmpStringP(i, op, l.value.asInstanceOf[UTF8String].getBytes))
        case _ => None
      }
    }
    def inPred(a: Expression, vals: Seq[Any]): Option[Pred] = attr(a).flatMap { case (i, dt) =>
      if (vals.exists(_ == null)) None // NULL in an IN list: keep the 3VL edge on the row path
      else dt match {
        case ByteType => Some(new InLongP(i, T_BYTE, vals.map(longVal).toArray))
        case ShortType => Some(new InLongP(i, T_SHORT, vals.map(longVal).toArray))
        case IntegerType | DateType => Some(new InLongP(i, T_INT, vals.map(longVal).toArray))
        case LongType => Some(new InLongP(i, T_LONG, vals.map(longVal).toArray))
        case TimestampType | TimestampNTZType => Some(new InLongP(i, T_TS, vals.map(longVal).toArray))
        case FloatType => Some(new InDoubleP(i, T_FLOAT, vals.map(_.asInstanceOf[Float].toDouble).toArray))
        case DoubleType => Some(new InDoubleP(i, T_DOUBLE, vals.map(_.asInstanceOf[Double]).toArray))
        case StringType => Some(new InStringP(i, vals.map(_.asInstanceOf[UTF8String].getBytes).toArray))
        case _ => None
      }
    }
    e match {
      case And(lhs, rhs) => for (a <- compilePred(lhs, ordOf); b <- compilePred(rhs, ordOf))
        yield new AndP(Array(a, b))
      case Or(lhs, rhs) => for (a <- compilePred(lhs, ordOf); b <- compilePred(rhs, ordOf))
        yield new OrP(Array(a, b))
      case Not(c) => compilePred(c, ordOf).map(new NotP(_))
      case IsNull(a) => attr(a).map { case (i, _) => new NullTestP(i, wantNull = true) }
      case IsNotNull(a) => attr(a).map { case (i, _) => new NullTestP(i, wantNull = false) }
      case EqualTo(a: AttributeReference, l: Literal) => leaf(a, l, OP_EQ)
      case EqualTo(l: Literal, a: AttributeReference) => leaf(a, l, OP_EQ)
      case LessThan(a: AttributeReference, l: Literal) => leaf(a, l, OP_LT)
      case LessThan(l: Literal, a: AttributeReference) => leaf(a, l, OP_GT)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => leaf(a, l, OP_LE)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => leaf(a, l, OP_GE)
      case GreaterThan(a: AttributeReference, l: Literal) => leaf(a, l, OP_GT)
      case GreaterThan(l: Literal, a: AttributeReference) => leaf(a, l, OP_LT)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => leaf(a, l, OP_GE)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => leaf(a, l, OP_LE)
      case Contains(a: AttributeReference, Literal(v: UTF8String, StringType)) =>
        attr(a).collect { case (i, StringType) => new StrMatchP(i, 0, v.getBytes) }
      case StartsWith(a: AttributeReference, Literal(v: UTF8String, StringType)) =>
        attr(a).collect { case (i, StringType) => new StrMatchP(i, 1, v.getBytes) }
      case EndsWith(a: AttributeReference, Literal(v: UTF8String, StringType)) =>
        attr(a).collect { case (i, StringType) => new StrMatchP(i, 2, v.getBytes) }
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        inPred(a, list.map(_.asInstanceOf[Literal].value))
      case InSet(a, hset) => inPred(a, hset.toSeq)
      case Literal(v, BooleanType) =>
        Some(new ConstP(if (v == null) 2 else if (v.asInstanceOf[Boolean]) 1 else 0))
      case a: AttributeReference if a.dataType == BooleanType =>
        ordOf.get(a.exprId).map(new BoolAttrP(_))
      case _ => None
    }
  }

  // type codes for the per-batch materializers
  private final val T_DOUBLE = 0; private final val T_FLOAT = 1
  private final val T_INT = 2; private final val T_LONG = 3
  private final val T_SHORT = 4; private final val T_BYTE = 5
  private final val T_TS = 6
  private final val T_DATE = 8 // int epoch-days; year is calendar-only, no tz
  private final val T_TS_NTZ = 9 // micros as a LOCAL datetime: year takes no tz shift

  private def numTypeCode(dt: DataType): Option[Int] = dt match {
    case DoubleType => Some(T_DOUBLE)
    case FloatType => Some(T_FLOAT)
    case IntegerType => Some(T_INT)
    case LongType => Some(T_LONG)
    case ShortType => Some(T_SHORT)
    case ByteType => Some(T_BYTE)
    case _ => None
  }

  // compiled, serializable execution plan for the batch kernel
  private final case class Compiled(
      numCols: Int, catCols: Int, nbMode: Boolean, maxCategories: Int,
      // raw double inputs: scan-output ordinal + type code, one per unique input name
      rawOrd: Array[Int], rawT: Array[Int],
      // numeric spec k reads rawBufs(numFromRaw(k)) if >= 0, else derived
      numFromRaw: Array[Int],
      derived: Array[(Array[Int], (Array[Array[Double]], Array[Double], Int) => Unit)],
      // categorical specs: kind (0=col,1=year,2=packed), ordinals, type codes
      catKind: Array[Int], catOrds: Array[Array[Int]], catT: Array[Array[Int]],
      sessionTz: String,
      // compiled FilterExec mask (null when the plan has no filter)
      pred: Pred = null,
      // CatDictString label: broadcast sorted distinct key bytes (null
      // otherwise) — a task serializes the ~100-byte handle, never the
      // dictionary
      labelDict: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]] = null)

  /**
   * Compute the cofactor triple of `src` over the given continuous and
   * categorical specs via the columnar scan, or `None` when the plan is
   * not a bare harvestable scan (caller falls back to
   * `agg(sumTriple(...))`). One job: see [[eager]].
   */
  def cofactor(src: DataFrame, nums: Seq[NumSpec], cats: Seq[CatSpec] = Nil,
               nbMode: Boolean = false,
               maxCategories: Int = CofactorAggregate.confMaxCategories()): Option[Triple] =
    eager(src, nums, cats, None, nbMode, maxCategories).map(_.head._2)

  /**
   * Per-class cofactor triples (the QDA/LDA/NB training input —
   * `GROUP BY label` with a FULL triple per class) via the columnar
   * scan, or `None` when the plan is not harvestable. The label rides
   * through the same compiled plan as an extra categorical, so the
   * NULL-skip machinery covers it: a NULL-label row is skipped, same
   * as any other NULL input (the row path filters `label IS NOT NULL`
   * for the same contract). Class count is bounded by the same
   * cardinality guard as categorical columns — an ID-like label is an
   * executor OOM, not a training set. Each batch is gathered by class
   * and every class's rows run the flat path's vectorized moments and
   * dense categorical tier; a batch averaging under 8 rows per class
   * keeps the row-at-a-time feed instead.
   */
  def cofactorPerClass(src: DataFrame, nums: Seq[NumSpec], cats: Seq[CatSpec],
                       label: CatSpec, nbMode: Boolean = false,
                       maxCategories: Int = CofactorAggregate.confMaxCategories()): Option[Seq[(Int, Triple)]] =
    cofactorPerClassLong(src, nums, cats, label, nbMode, maxCategories).map(_.map {
      case (k, t) =>
        label match {
          case _: CatShortString | _: CatPackedStrings =>
            // string labels pack raw bytes, so a 4-byte key with a
            // high first byte (one 4-byte UTF-8 char, or 4 packed
            // columns) zero-extends past Int.MaxValue in the Long
            // channel but is still the old (negative) Int encoding —
            // unpackShortString/unpackStrings re-zero-extend it, so
            // map it back instead of rejecting a valid label
            if ((k & 0xFFFFFFFFL) != k) throw new ArithmeticException(
              s"string label packs ${unpackShortString(k).getBytes("UTF-8").length} bytes — " +
                "more than the 4 the Int-keyed surface holds; use cofactorPerClassLong")
            (k.toInt, t)
          case _ =>
            // numeric class ids: a label outside int range fails
            // loudly, same contract as the row path's ANSI cast —
            // silent truncation would MERGE classes that differ by
            // multiples of 2^32
            if (k != k.toInt) throw new ArithmeticException(
              s"categorical value $k overflows INT — same failure the row path's ANSI cast raises")
            (k.toInt, t)
        }
    })

  /** [[cofactorPerClass]] with a LONG class key: the label channel
    * decodes into a Long, so full-range long keys (no 2^32 guard) and
    * [[CatShortString]] labels up to 8 packed UTF-8 bytes ride the
    * kernel. The triples come back to the driver ([[eager]]), as training
    * needs; grouped results that stay distributed use [[groupedPartials]]. */
  def cofactorPerClassLong(src: DataFrame, nums: Seq[NumSpec], cats: Seq[CatSpec],
                       label: CatSpec, nbMode: Boolean = false,
                       maxCategories: Int = CofactorAggregate.confMaxCategories()): Option[Seq[(Long, Triple)]] =
    eager(src, nums, cats, Some(label), nbMode, maxCategories)

  /** The row fold's eager contract: ONE job under the pruned frame's SQL
    * execution id (`Graft.foldPartitions`), each partition sending its
    * serialized buffers (one, or one per label) to the driver's merge
    * (`Graft.mergeBuffers`): partition-index order, `maxCategories`
    * over the merged maps. Triples sorted by label. */
  private def eager(src: DataFrame, nums: Seq[NumSpec], cats: Seq[CatSpec],
      label: Option[CatSpec], nbMode: Boolean, maxCategories: Int): Option[Seq[(Long, Triple)]] =
    pass(src, nums, cats, label, nbMode, maxCategories) { acc =>
      Iterator.single(acc.buffers.map { case (k, b) => k -> CofactorBuffer.toBytes(b) }.toArray)
    }.map { case (qe, partials) =>
      val empty = () => new CofactorBuffer(nums.size, cats.size, nbMode, maxCategories)
      graft.Graft.mergeBuffers(empty, if (label.isEmpty) Seq(0L) else Nil,
        graft.Graft.foldPartitions(qe, partials)(_.next()))
    }

  /** The grouped kernel as a PARTIAL aggregate: one row per (group, scan
    * partition) holding the group's original key values — decoded on the
    * executor by [[graft.plans.KernelKeys.unpack]], typed `keyTypes` —
    * and that partition's triple as a Catalyst struct. With no `label`
    * the flat kernel (dense categorical tier included) emits one `(__t)`
    * row per scan partition, an empty partition's row carrying `n = 0`.
    * Nothing is merged here: callers feed the rows to a `sum_triple`
    * aggregate, so Spark's own exchange and final aggregate combine the
    * groups. With a `label` each batch is gathered by group, as in
    * [[cofactorPerClass]]; the high-cardinality case (under 8 rows per
    * group in a batch) keeps the row-at-a-time feed. `None` when the plan
    * is not harvestable. */
  def groupedPartials(src: DataFrame, nums: Seq[NumSpec], cats: Seq[CatSpec],
                      label: Option[CatSpec], keyTypes: Seq[DataType], nbMode: Boolean = false,
                      maxCategories: Int = CofactorAggregate.confMaxCategories()):
      Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val rowTypes = (keyTypes :+ TripleCodec.dataType(nbMode)).toArray
    pass[InternalRow](src, nums, cats, label, nbMode, maxCategories) { acc =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(rowTypes)
      acc.buffers.map { case (kv, b) =>
        val keys = label.fold(Seq.empty[Any])(graft.plans.KernelKeys.unpack(_, keyTypes, kv))
        proj(InternalRow.fromSeq(keys :+ TripleCodec.toCatalyst(b)))
      }
    }.map(_._2)
  }

  /** The one kernel pass behind every entry: each scan partition's
    * batches fold into one [[BatchAcc]] (`label` its last categorical),
    * then `emit`. With the pruned frame's query execution. */
  private def pass[T: scala.reflect.ClassTag](src: DataFrame, nums: Seq[NumSpec], cats: Seq[CatSpec],
      label: Option[CatSpec], nbMode: Boolean, maxCategories: Int)(
      emit: BatchAcc => Iterator[T]): Option[(QueryExecution, org.apache.spark.rdd.RDD[T])] =
    compile(src, nums, cats ++ label, nbMode, maxCategories).map { case (qe, scan, compiled) =>
      qe -> scan.executeColumnar().mapPartitions { batches =>
        val acc = new BatchAcc(compiled, labelMode = label.isDefined)
        batches.foreach(acc.addBatch)
        emit(acc)
      }
    }

  /** Driver-only structural pre-check: would the harvest engage on this
    * plan? Plans the pruned query but runs NO jobs — callers can order
    * cheap plan checks ahead of probe scans (Graft.cofactorGrouped's
    * group-cardinality probe would otherwise pay a full scan for plans
    * the kernel was never going to take). */
  private[graft] def canHarvest(src: DataFrame, nums: Seq[NumSpec],
                                cats: Seq[CatSpec]): Boolean =
    compile(src, nums, cats, nbMode = false,
      CofactorAggregate.confMaxCategories()).isDefined

  private def compile(src: DataFrame, nums: Seq[NumSpec], cats: Seq[CatSpec],
               nbMode: Boolean,
               maxCategories: Int): Option[(QueryExecution, SparkPlan, Compiled)] = {
    // categorical-only cofactors are a shape the ROW aggregate supports —
    // refuse (None) so callers fall back, rather than crashing the call
    if (nums.isEmpty) return None
    val inputNames = (nums.flatMap(_.inputs) ++ cats.flatMap(_.inputs)).distinct
    val pruned = src.select(inputNames.map(col): _*)
    // a join or union never plans to the one-scan chain the kernel reads.
    // Refusing on the optimized plan (which physical planning computes
    // anyway) also keeps that planning off AQE re-planning inputs, whose
    // materialized broadcast stages fail AQE's plan validation when
    // planned on their own
    if (pruned.queryExecution.optimizedPlan.exists(_.children.size > 1)) return None
    leafScanAndFilters(pruned.queryExecution.executedPlan).flatMap { case (scan, filters) =>
      // resolve caller names against the scan schema per
      // spark.sql.caseSensitive — the select() above already resolved
      // case-insensitively, so an exact-match lookup here would refuse
      // the harvest for 'L_QUANTITY' vs 'l_quantity' and silently drop
      // to the row aggregate (a perf cliff, not a correctness fallback)
      val caseSensitive = src.sparkSession.sessionState.conf.caseSensitiveAnalysis
      def norm(n: String): String =
        if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
      // Locale.ROOT lowercase is not identical to the resolver's
      // equalsIgnoreCase for exotic Unicode (U+0130 vs 'i' + combining
      // dot): two scan columns Spark treats as DISTINCT could collide in
      // the map below and last-wins-bind a spec to the wrong ordinal.
      // Refuse the harvest on any normalized collision — the row
      // aggregate resolves names with the engine's own rules.
      val normedNames = scan.output.map(a => norm(a.name))
      if (normedNames.distinct.size != normedNames.size) return None
      val ord = normedNames.zipWithIndex.toMap
      if (!inputNames.forall(n => ord.contains(norm(n)))) return None
      val dtOf = scan.output.map(a => norm(a.name) -> a.dataType).toMap

      // compile every FilterExec condition to a batch mask, or refuse —
      // a filter the kernel cannot evaluate must never be dropped
      val pred: Pred =
        if (filters.isEmpty) null
        else {
          val ordOf = scan.output.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
          val compiledPreds = filters.map(compilePred(_, ordOf))
          if (compiledPreds.exists(_.isEmpty)) return None
          val ps = compiledPreds.flatten.toArray
          if (ps.length == 1) ps(0) else new AndP(ps)
        }

      // unique raw double inputs (NumCol sources + NumDerived inputs)
      val rawNames = nums.flatMap(_.inputs).distinct
      val rawIdx = rawNames.zipWithIndex.toMap
      val rawT = new Array[Int](rawNames.size)
      for ((n, i) <- rawNames.zipWithIndex)
        numTypeCode(dtOf(norm(n))) match { case Some(t) => rawT(i) = t; case None => return None }

      val numFromRaw = nums.map { case NumCol(n) => rawIdx(n); case _: NumDerived => -1 }.toArray
      val derived = nums.collect { case d: NumDerived =>
        (d.inputs.map(rawIdx).toArray, d.f)
      }.toArray

      val catKind = new Array[Int](cats.size)
      val catOrds = new Array[Array[Int]](cats.size)
      val catT = new Array[Array[Int]](cats.size)
      for ((c, j) <- cats.zipWithIndex) c match {
        case CatCol(n) =>
          catKind(j) = 0; catOrds(j) = Array(ord(norm(n)))
          catT(j) = Array(dtOf(norm(n)) match {
            case IntegerType => T_INT; case LongType => T_LONG
            case ShortType => T_SHORT; case ByteType => T_BYTE
            case _ => return None
          })
        case CatYear(n) =>
          catKind(j) = 1; catOrds(j) = Array(ord(norm(n)))
          catT(j) = Array(dtOf(norm(n)) match {
            case TimestampType => T_TS // instant: session-tz calendar year
            case TimestampNTZType => T_TS_NTZ // wall-clock: NO tz shift (year() takes none)
            case DateType => T_DATE
            case _ => return None
          })
        case CatPackedStrings(names) =>
          catKind(j) = 2; catOrds(j) = names.map(n => ord(norm(n))).toArray
          if (!names.forall(n => dtOf(norm(n)) == StringType)) return None
          // the packed-strings decode dispatches on catKind and calls
          // packByte directly; it never reads a per-column type code
          catT(j) = Array.empty[Int]
        case CatShortString(n) =>
          catKind(j) = 3; catOrds(j) = Array(ord(norm(n)))
          if (dtOf(norm(n)) != StringType) return None
          catT(j) = Array.empty[Int]
        case CatDictString(n, _) =>
          // label-only, like kind 4 below
          if (j != cats.size - 1) return None
          catKind(j) = 5; catOrds(j) = Array(ord(norm(n)))
          if (dtOf(norm(n)) != StringType) return None
          catT(j) = Array.empty[Int]
        case CatPackedKeys(names, widths) =>
          // label-only: the int cat decode has no kind-4 path, and the
          // per-class label is always the LAST compiled spec
          if (j != cats.size - 1) return None
          catKind(j) = 4; catOrds(j) = names.map(n => ord(norm(n))).toArray
          // per sub-key: (type code | -1 for string, byte width)
          val enc = new Array[Int](2 * names.size)
          for ((n, q) <- names.zipWithIndex) {
            enc(2 * q) = dtOf(norm(n)) match {
              case StringType => -1
              case IntegerType => T_INT; case LongType => T_LONG
              case ShortType => T_SHORT; case ByteType => T_BYTE
              case _ => return None
            }
            enc(2 * q + 1) = widths(q)
          }
          catT(j) = enc
      }

      val compiled = Compiled(
        nums.size, cats.size, nbMode, maxCategories,
        rawNames.map(n => ord(norm(n))).toArray, rawT, numFromRaw, derived,
        catKind, catOrds, catT,
        src.sparkSession.sessionState.conf.sessionLocalTimeZone, pred,
        labelDict = cats.collectFirst { case CatDictString(_, d) => d }.orNull)
      Some((pruned.queryExecution, scan, compiled))
    }
  }

  // ----------------------------------------------------------- batch kernel

  /** Hinnant's civil-from-days year (public-domain algorithm; proleptic
    * Gregorian, identical to java.time for the supported range). */
  private[graft] def civilYear(epochDay: Long): Int = {
    val z = epochDay + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097L
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val y = yoe + era * 400
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val m = if (mp < 10) mp + 3 else mp - 9
    (if (m <= 2) y + 1 else y).toInt
  }

  private final val MicrosPerDay = 86400000000L

  private final class BatchAcc(p: Compiled, labelMode: Boolean = false) {
    // CatPackedKeys / CatDictString decode only in the Long label
    // channel — the int cat path has no kind-4/5 decode, so a flat-mode
    // use must fail loudly here rather than silently misread the column
    require(labelMode || !p.catKind.exists(k => k == 4 || k == 5),
      "CatPackedKeys/CatDictString are label-only: use cofactorPerClassLong")
    val buf = new CofactorBuffer(p.numCols, if (labelMode) 0 else p.catCols, p.nbMode, p.maxCategories)
    // the int categorical columns each buffer accumulates: every
    // compiled cat spec, less the label in label mode
    private val nCats = if (labelMode) p.catCols - 1 else p.catCols

    // label mode: the LAST compiled cat column is the class label; one
    // full CofactorBuffer per class. Each batch decodes in class order
    // and every class's rows run the flat path's moments and dense tier
    // (addByClass): a JFR profile of perfbench train_flat (4 cores)
    // found a row-at-a-time feed (a LongMap probe plus updateRow and
    // its map probes per row) in half the executor CPU samples, more
    // than the parquet decode's 22%
    private val byClass = new scala.collection.mutable.LongMap[CofactorBuffer]
    private def classBuf(label: Long): CofactorBuffer = {
      val before = byClass.size
      val b = byClass.getOrElseUpdate(label,
        new CofactorBuffer(p.numCols, p.catCols - 1, p.nbMode, p.maxCategories))
      if (byClass.size > before && byClass.size > p.maxCategories)
        throw new IllegalStateException(
          s"per-class cofactor: label exceeded ${p.maxCategories} distinct classes — " +
          "this looks like an ID, not a label (raise spark.graft.cofactor.maxCategories to override)")
      b
    }
    /** The flat buffer keyed 0, or each class's keyed by its label. */
    def buffers: Iterator[(Long, CofactorBuffer)] =
      if (labelMode) byClass.iterator else Iterator.single(0L -> buf)

    // the moments as sums Σ a(r)·c(r) over the block's rows, sum q
    // reading columns momA(q) and momC(q): first Σx_k (a = `ones`, momA
    // = -1; 1.0·x is exactly x) into lin(q), then the Σx_k·x_kk upper
    // triangle in packed order (the diagonal only in NB mode) into
    // quad(q - d)
    private val nLin = p.numCols
    private val (momA, momC) = {
      val d = p.numCols
      val pairs =
        if (p.nbMode) (0 until d).map(k => (k, k))
        else for (k <- 0 until d; kk <- k until d) yield (k, kk)
      val all = (0 until d).map(k => (-1, k)) ++ pairs
      (all.map(_._1).toArray, all.map(_._2).toArray)
    }
    private var ones: Array[Double] = _

    /** The row count, Σx and the Σx·x upper triangle (Σx² in NB mode) of
      * rows [from, until) of `numBufs` into `b`. Each pass over the rows
      * carries four sums in four accumulators: one sum per pass is a
      * chain of dependent adds, latency-bound, while four independent
      * chains keep the adder busy. Every sum still adds its rows in row
      * order, so the bits equal one pass per sum. */
    private def moments(b: CofactorBuffer, from: Int, until: Int): Unit = {
      b.n += until - from
      val nMom = momA.length
      def colOf(q: Int): Array[Double] = { val i = momA(q); if (i < 0) ones else numBufs(i) }
      var q = 0
      while (q < nMom) {
        // a short last group repeats its last sum and drops the copies
        val w = math.min(4, nMom - q)
        val q1 = q + math.min(1, w - 1); val q2 = q + math.min(2, w - 1); val q3 = q + w - 1
        val a0 = colOf(q); val a1 = colOf(q1); val a2 = colOf(q2); val a3 = colOf(q3)
        val c0 = numBufs(momC(q)); val c1 = numBufs(momC(q1)); val c2 = numBufs(momC(q2)); val c3 = numBufs(momC(q3))
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var r = from
        while (r < until) {
          s0 += a0(r) * c0(r); s1 += a1(r) * c1(r); s2 += a2(r) * c2(r); s3 += a3(r) * c3(r)
          r += 1
        }
        addMoment(b, q, s0)
        if (w > 1) addMoment(b, q1, s1)
        if (w > 2) addMoment(b, q2, s2)
        if (w > 3) addMoment(b, q3, s3)
        q += 4
      }
    }

    private def addMoment(b: CofactorBuffer, q: Int, v: Double): Unit =
      if (q < nLin) b.lin(q) += v else b.quad(q - nLin) += v

    /** Rows [from, until) of the decoded inputs into `b`: the moments,
      * then the categorical block through the dense tier, or row by row
      * through [[CofactorBuffer.updateCats]] when a window exceeds its caps. */
    private def accumulate(b: CofactorBuffer, from: Int, until: Int): Unit = {
      moments(b, from, until)
      if (nCats > 0 && !denseCats(b, from, until)) {
        // huge-span block (ID-like keys): per-row scratch + the shared
        // certified update — semantics identical, just map probes per row
        var r = from
        while (r < until) {
          var k = 0
          while (k < p.numCols) { b.rowNum(k) = numBufs(k)(r); k += 1 }
          var j = 0
          while (j < nCats) { b.rowCat(j) = catBufs(j)(r); j += 1 }
          b.updateCats()
          r += 1
        }
      }
    }

    // ---- dense categorical tier ------------------------------------
    // A stage-truncated profile of this loop showed the per-row LongMap
    // probes of updateCats cost as much as the whole scan. Real categoricals are
    // small-range ints, so each BLOCK (a flat batch, or one class's rows
    // of a batch) accumulates into direct-indexed arrays (window = the
    // block's own [min,max]) and flushes the few touched slots into the
    // target buffer's certified maps — ≤span probes per block instead of
    // catCols(+pairs) probes per ROW. Slots are zeroed lazily via epoch
    // marks (no per-block memset of the window); a block whose span
    // exceeds the caps falls back to updateCats row-by-row, so semantics
    // never depend on the window.
    private val catStride = if (p.nbMode) 1 else p.numCols + 1
    private val DenseSpanCap = 1 << 16
    private val DensePairCap = 1 << 20
    private val nPairs = if (p.nbMode) 0 else nCats * (nCats + 1) / 2
    private var epoch = 0
    private var mnB: Array[Int] = _
    private var spanB: Array[Int] = _
    private var dSlots: Array[Array[Double]] = _
    private var dMark: Array[Array[Int]] = _
    private var dTouch: Array[Array[Int]] = _
    private var dTc: Array[Int] = _
    private var pSlots: Array[Array[Double]] = _
    private var pMark: Array[Array[Int]] = _
    private var pTouch: Array[Array[Int]] = _
    private var pTc: Array[Int] = _

    private def growD(a: Array[Double], need: Int): Array[Double] =
      if (a != null && a.length >= need) a else new Array[Double](need)
    private def growI(a: Array[Int], need: Int): Array[Int] =
      if (a != null && a.length >= need) a else new Array[Int](need)

    // combined-cell tier: when Π span is tiny (the usual case — a few
    // small dimension columns), ONE direct-indexed cell per row carries
    // count + Σx_i for the full cross-category group, and the per-column
    // maps, diagonal and cross pairs are all MARGINALIZED out of the ≤
    // Π-span touched cells at flush — per-row work collapses to one
    // index + (d+1) adds regardless of catCols
    private val CombCap = 8192
    private var cSlots: Array[Double] = _
    private var cMark: Array[Int] = _
    private var cTouch: Array[Int] = _
    private var cVals: Array[Int] = _ // scratch: decomposed cell coords
    private var cCell: Array[Int] = _ // scratch: each row's cell

    private def overCap(b: CofactorBuffer, j: Int): Unit =
      if (b.catMaps(j).size > p.maxCategories)
        throw new IllegalStateException(
          s"cofactor: categorical column #$j exceeded ${p.maxCategories} distinct values — " +
          "this looks like an ID, not a category (raise spark.graft.cofactor.maxCategories to override)")

    private def denseCatsCombined(b: CofactorBuffer, from: Int, until: Int): Boolean = {
      val c = nCats
      var comb = 1L
      var j = 0
      while (j < c) {
        comb *= spanB(j)
        if (comb > CombCap) return false
        j += 1
      }
      val combI = comb.toInt
      val d = p.numCols
      val stride = catStride
      cSlots = growD(cSlots, combI * stride)
      cMark = growI(cMark, combI)
      cTouch = growI(cTouch, math.min(combI, until - from))
      if (cVals == null || cVals.length < c) cVals = new Array[Int](c)
      // column by column: each row's cell, then the counts, then one
      // scatter-add pass per numeric column (each slot still adds its
      // rows in row order)
      val m = until - from
      cCell = growI(cCell, m)
      j = 0
      while (j < c) {
        val a = catBufs(j); val mn = mnB(j); val sp = spanB(j)
        var r = 0
        if (j == 0) while (r < m) { cCell(r) = a(from + r) - mn; r += 1 }
        else while (r < m) { cCell(r) = cCell(r) * sp + (a(from + r) - mn); r += 1 }
        j += 1
      }
      var tc = 0
      var r = 0
      while (r < m) {
        val cidx = cCell(r)
        val off = cidx * stride
        if (cMark(cidx) != epoch) {
          cMark(cidx) = epoch
          cTouch(tc) = cidx; tc += 1
          var z = 0
          while (z < stride) { cSlots(off + z) = 0.0; z += 1 }
        }
        cSlots(off) += 1.0
        r += 1
      }
      if (!p.nbMode) {
        var i2 = 0
        while (i2 < d) {
          val a = numBufs(i2)
          r = 0
          while (r < m) { cSlots(cCell(r) * stride + 1 + i2) += a(from + r); r += 1 }
          i2 += 1
        }
      }
      // flush: marginalize each touched cell into the certified maps
      var t = 0
      while (t < tc) {
        val cell = cTouch(t)
        var rem = cell
        j = c - 1
        while (j >= 0) { cVals(j) = mnB(j) + rem % spanB(j); rem /= spanB(j); j -= 1 }
        val off = cell * stride
        val cnt = cSlots(off)
        j = 0
        while (j < c) {
          val slot = b.catMaps(j).getOrElseUpdate(cVals(j).toLong, new Array[Double](stride))
          slot(0) += cnt
          if (!p.nbMode) {
            var i2 = 0
            while (i2 < d) { slot(1 + i2) += cSlots(off + 1 + i2); i2 += 1 }
          }
          j += 1
        }
        if (!p.nbMode) {
          j = 0
          while (j < c) {
            var k = j
            while (k < c) {
              val pm = b.quadCat(Triple.pairIdx(j, k, c))
              pm.getOrElseUpdate(Triple.catKey(cVals(j), cVals(k)), new Array[Double](1))(0) += cnt
              k += 1
            }
            j += 1
          }
        }
        t += 1
      }
      j = 0
      while (j < c) { overCap(b, j); j += 1 }
      true
    }

    /** Accumulate the categorical block of rows [from, until) into `b`
      * densely; false if any window exceeds the caps (the caller falls
      * back to updateCats). */
    private def denseCats(b: CofactorBuffer, from: Int, until: Int): Boolean = {
      val c = nCats
      if (mnB == null) {
        mnB = new Array[Int](c); spanB = new Array[Int](c)
        dSlots = new Array[Array[Double]](c); dMark = new Array[Array[Int]](c)
        dTouch = new Array[Array[Int]](c); dTc = new Array[Int](c)
        pSlots = new Array[Array[Double]](nPairs); pMark = new Array[Array[Int]](nPairs)
        pTouch = new Array[Array[Int]](nPairs); pTc = new Array[Int](nPairs)
      }
      val m = until - from
      var j = 0
      while (j < c) {
        val a = catBufs(j)
        var mn = a(from); var mx = a(from)
        var r = from + 1
        while (r < until) { val v = a(r); if (v < mn) mn = v; if (v > mx) mx = v; r += 1 }
        val span = mx - mn + 1
        if (span <= 0 || span > DenseSpanCap) return false // overflow-safe: huge range
        mnB(j) = mn; spanB(j) = span
        j += 1
      }
      epoch += 1
      if (denseCatsCombined(b, from, until)) return true
      if (!p.nbMode) {
        // a column's SELF-pair only ever holds diagonal (v,v) keys, so
        // its dense table is span-sized, never span² — only cross
        // pairs pay the product
        j = 0
        while (j < c) {
          var k = j + 1
          while (k < c) {
            if (spanB(j).toLong * spanB(k) > DensePairCap) return false
            k += 1
          }
          j += 1
        }
      }
      val d = p.numCols
      j = 0
      while (j < c) {
        dSlots(j) = growD(dSlots(j), spanB(j) * catStride)
        dMark(j) = growI(dMark(j), spanB(j))
        dTouch(j) = growI(dTouch(j), math.min(spanB(j), m))
        dTc(j) = 0
        // fresh/grown arrays are zero-filled and epoch starts at 1, so a
        // stale mark can never equal the current epoch — no memset needed
        j += 1
      }
      if (!p.nbMode) {
        var pi = 0
        while (pi < nPairs) { pTc(pi) = 0; pi += 1 }
        j = 0
        while (j < c) {
          var k = j
          while (k < c) {
            val pi = Triple.pairIdx(j, k, c)
            val need = if (k == j) spanB(j) else spanB(j) * spanB(k)
            pSlots(pi) = growD(pSlots(pi), need)
            pMark(pi) = growI(pMark(pi), need)
            pTouch(pi) = growI(pTouch(pi), math.min(need, m))
            k += 1
          }
          j += 1
        }
      }
      // row loop: direct-indexed accumulation, no hash probes
      var r = from
      while (r < until) {
        j = 0
        while (j < c) {
          val idx = catBufs(j)(r) - mnB(j)
          val sl = dSlots(j)
          val off = idx * catStride
          if (dMark(j)(idx) != epoch) {
            dMark(j)(idx) = epoch
            dTouch(j)(dTc(j)) = idx; dTc(j) += 1
            var z = 0
            while (z < catStride) { sl(off + z) = 0.0; z += 1 }
          }
          sl(off) += 1.0
          if (!p.nbMode) {
            var i2 = 0
            while (i2 < d) { sl(off + 1 + i2) += numBufs(i2)(r); i2 += 1 }
          }
          j += 1
        }
        if (!p.nbMode) {
          j = 0
          while (j < c) {
            var k = j
            while (k < c) {
              val pi = Triple.pairIdx(j, k, c)
              val pidx =
                if (k == j) catBufs(j)(r) - mnB(j) // diagonal: span-sized table
                else (catBufs(j)(r) - mnB(j)) * spanB(k) + (catBufs(k)(r) - mnB(k))
              if (pMark(pi)(pidx) != epoch) {
                pMark(pi)(pidx) = epoch
                pTouch(pi)(pTc(pi)) = pidx; pTc(pi) += 1
                pSlots(pi)(pidx) = 0.0
              }
              pSlots(pi)(pidx) += 1.0
              k += 1
            }
            j += 1
          }
        }
        r += 1
      }
      // flush touched slots into the certified maps (the target buffer
      // stays the one cross-batch source of truth; guard mirrors updateCats)
      j = 0
      while (j < c) {
        val cm = b.catMaps(j)
        val sl = dSlots(j)
        var t = 0
        while (t < dTc(j)) {
          val idx = dTouch(j)(t)
          val slot = cm.getOrElseUpdate((mnB(j) + idx).toLong, new Array[Double](catStride))
          var z = 0
          while (z < catStride) { slot(z) += sl(idx * catStride + z); z += 1 }
          t += 1
        }
        overCap(b, j)
        j += 1
      }
      if (!p.nbMode) {
        j = 0
        while (j < c) {
          var k = j
          while (k < c) {
            val pi = Triple.pairIdx(j, k, c)
            val pm = b.quadCat(pi)
            var t = 0
            while (t < pTc(pi)) {
              val pidx = pTouch(pi)(t)
              val c1 = if (k == j) mnB(j) + pidx else mnB(j) + pidx / spanB(k)
              val c2 = if (k == j) c1 else mnB(k) + pidx % spanB(k)
              pm.getOrElseUpdate(Triple.catKey(c1, c2), new Array[Double](1))(0) += pSlots(pi)(pidx)
              t += 1
            }
            k += 1
          }
          j += 1
        }
      }
      true
    }

    // ---- per-batch class gather (label mode) -----------------------
    // Each batch's labels map to dense class indices through one table:
    // direct-indexed when the batch's labels span at most its size,
    // open addressing otherwise (any label kind: ints, packed strings,
    // dictionary ids); then a stable counting sort orders the batch's
    // row ids class by class and the inputs decode in that order, so
    // each class's rows are one contiguous block for accumulate. Below
    // GatherMinRows rows per class in the batch (a high-cardinality
    // GROUP BY, ~2 rows per group) the per-block loop setup and flush
    // outweigh the per-row work they save, and the batch keeps the
    // row-at-a-time updateRow feed; classify stops at the first class
    // past that bound and the feed reuses the classes it found.
    private val GatherMinRows = 8
    private var lEpoch = 0
    private var lMask = 0
    private var lMark: Array[Int] = _ // epoch-stamped slots: no per-batch clear
    private var lKey: Array[Long] = _
    private var lIdx: Array[Int] = _
    private var rowCls: Array[Int] = _ // each row's class index
    private var clsBuf: Array[CofactorBuffer] = _ // each class's buffer
    private var clsStart: Array[Int] = _ // class ci's rows: [clsStart(ci), clsStart(ci + 1))
    private var clsNext: Array[Int] = _
    private var order: Array[Int] = _ // the batch's row ids in class order
    private var nClassified = 0 // rows [0, nClassified) hold their rowCls

    /** Fill `rowCls` for rows [0, n) and `clsBuf` with each class's
      * buffer in first-appearance order (so [[byClass]] grows in row
      * order and its guard throws where the row loop's did); returns the
      * batch's class count, or -1 as soon as the batch holds more classes
      * than the gather takes (rows [0, nClassified) keep their classes).
      * A batch whose labels span at most the table indexes it by
      * `label - min`; any other hashes its labels. */
    private def classify(n: Int): Int = {
      lEpoch += 1
      val maxCls = n / GatherMinRows
      var mn = labelBuf(0); var mx = mn
      var r = 1
      while (r < n) { val l = labelBuf(r); if (l < mn) mn = l; if (l > mx) mx = l; r += 1 }
      val span = mx - mn // negative on overflow: hash
      var nc = 0
      r = 0
      if (span >= 0 && span <= lMask) while (r < n) {
        val h = (labelBuf(r) - mn).toInt
        if (lMark(h) != lEpoch) {
          if (nc == maxCls) { nClassified = r; return -1 }
          lMark(h) = lEpoch; lIdx(h) = nc
          clsBuf(nc) = classBuf(labelBuf(r))
          nc += 1
        }
        rowCls(r) = lIdx(h)
        r += 1
      } else {
        var last = 0L
        var lastCls = -1
        while (r < n) {
          val l = labelBuf(r)
          if (lastCls < 0 || l != last) {
            val x = l * -0x61c8864680b583ebL // KeyedSlots' full-width mixer
            var h = (x ^ (x >>> 32)).toInt & lMask
            while (lMark(h) == lEpoch && lKey(h) != l) h = (h + 1) & lMask
            if (lMark(h) != lEpoch) {
              if (nc == maxCls) { nClassified = r; return -1 }
              lMark(h) = lEpoch; lKey(h) = l; lIdx(h) = nc
              clsBuf(nc) = classBuf(l)
              nc += 1
            }
            last = l; lastCls = lIdx(h)
          }
          rowCls(r) = lastCls
          r += 1
        }
      }
      nc
    }

    /** Label-mode accumulation of the batch's `n` selected rows (`s`, or
      * the first `n` when null), whose labels `labelBuf` holds. */
    private def addByClass(batch: ColumnarBatch, s: Array[Int], n: Int): Unit = {
      val nc = classify(n)
      val d = p.numCols
      if (nc < 0) {
        fillInputs(batch, s, n)
        var r = 0
        while (r < n) {
          val b = if (r < nClassified) clsBuf(rowCls(r)) else classBuf(labelBuf(r))
          var k = 0
          while (k < d) { b.rowNum(k) = numBufs(k)(r); k += 1 }
          var j = 0
          while (j < nCats) { b.rowCat(j) = catBufs(j)(r); j += 1 }
          b.updateRow()
          r += 1
        }
        return
      }
      // stable counting sort of the batch's row ids by class
      java.util.Arrays.fill(clsStart, 0, nc + 1, 0)
      var r = 0
      while (r < n) { clsStart(rowCls(r) + 1) += 1; r += 1 }
      var ci = 0
      while (ci < nc) { clsStart(ci + 1) += clsStart(ci); clsNext(ci) = clsStart(ci); ci += 1 }
      r = 0
      while (r < n) {
        val c = rowCls(r)
        order(clsNext(c)) = if (s == null) r else s(r)
        clsNext(c) += 1
        r += 1
      }
      fillInputs(batch, order, n)
      ci = 0
      while (ci < nc) { accumulate(clsBuf(ci), clsStart(ci), clsStart(ci + 1)); ci += 1 }
    }

    private val utcTz = p.sessionTz == "UTC" || p.sessionTz == "Etc/UTC" ||
      p.sessionTz == "GMT" || p.sessionTz == "Z"
    private lazy val zone = java.time.ZoneId.of(p.sessionTz)
    private def yearOfMicros(us: Long): Int =
      if (utcTz) civilYear(Math.floorDiv(us, MicrosPerDay))
      else java.time.Instant
        .ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
        .atZone(zone).getYear

    private val nRaw = p.rawOrd.length
    private var cap = 0
    private var rawBufs: Array[Array[Double]] = _
    private var derBufs: Array[Array[Double]] = _
    private var numBufs: Array[Array[Double]] = _ // spec order, aliases raw/der
    private var catBufs: Array[Array[Int]] = _
    private var labelBuf: Array[Long] = _ // labelMode: the class-key channel
    private var sel: Array[Int] = _
    private var maskBuf: Array[Byte] = _

    private def ensure(n: Int): Unit = if (n > cap) {
      cap = math.max(n, 4096)
      rawBufs = Array.fill(nRaw)(new Array[Double](cap))
      derBufs = Array.fill(p.derived.length)(new Array[Double](cap))
      numBufs = new Array[Array[Double]](p.numCols)
      var k = 0; var di = 0
      while (k < p.numCols) {
        if (p.numFromRaw(k) >= 0) numBufs(k) = rawBufs(p.numFromRaw(k))
        else { numBufs(k) = derBufs(di); di += 1 }
        k += 1
      }
      // labelMode: the last cat spec decodes into labelBuf, so its int
      // slot is never read — don't allocate it
      catBufs = Array.fill(nCats)(new Array[Int](cap))
      sel = new Array[Int](cap)
      ones = Array.fill(cap)(1.0)
      if (labelMode) {
        labelBuf = new Array[Long](cap)
        lMask = Integer.highestOneBit(cap) * 4 - 1 // ≥ 2·cap slots: load ≤ 1/2
        lMark = new Array[Int](lMask + 1); lKey = new Array[Long](lMask + 1); lIdx = new Array[Int](lMask + 1)
        lEpoch = 0
        rowCls = new Array[Int](cap); clsBuf = new Array[CofactorBuffer](cap)
        clsStart = new Array[Int](cap + 1); clsNext = new Array[Int](cap); order = new Array[Int](cap)
      }
    }

    private def fillDouble(v: ColumnVector, t: Int, out: Array[Double], s: Array[Int], n: Int): Unit = {
      var r = 0
      t match {
        case T_DOUBLE =>
          if (s == null) while (r < n) { out(r) = v.getDouble(r); r += 1 }
          else while (r < n) { out(r) = v.getDouble(s(r)); r += 1 }
        case T_FLOAT =>
          if (s == null) while (r < n) { out(r) = v.getFloat(r).toDouble; r += 1 }
          else while (r < n) { out(r) = v.getFloat(s(r)).toDouble; r += 1 }
        case T_INT =>
          if (s == null) while (r < n) { out(r) = v.getInt(r).toDouble; r += 1 }
          else while (r < n) { out(r) = v.getInt(s(r)).toDouble; r += 1 }
        case T_LONG =>
          if (s == null) while (r < n) { out(r) = v.getLong(r).toDouble; r += 1 }
          else while (r < n) { out(r) = v.getLong(s(r)).toDouble; r += 1 }
        case T_SHORT =>
          if (s == null) while (r < n) { out(r) = v.getShort(r).toDouble; r += 1 }
          else while (r < n) { out(r) = v.getShort(s(r)).toDouble; r += 1 }
        case T_BYTE =>
          if (s == null) while (r < n) { out(r) = v.getByte(r).toDouble; r += 1 }
          else while (r < n) { out(r) = v.getByte(s(r)).toDouble; r += 1 }
      }
    }

    private def longCat(l: Long): Int =
      if (l == l.toInt) l.toInt
      else throw new ArithmeticException(
        s"categorical value $l overflows INT — same failure the row path's ANSI cast raises")

    private def fillCatInt(v: ColumnVector, t: Int, out: Array[Int], s: Array[Int], n: Int): Unit = {
      var r = 0
      t match {
        case T_INT =>
          if (s == null) while (r < n) { out(r) = v.getInt(r); r += 1 }
          else while (r < n) { out(r) = v.getInt(s(r)); r += 1 }
        case T_LONG =>
          // fail loudly on overflow like the row path's ANSI cast("int") —
          // a silent .toInt would bit-truncate and MERGE categories that
          // differ by multiples of 2^32
          if (s == null) while (r < n) { out(r) = longCat(v.getLong(r)); r += 1 }
          else while (r < n) { out(r) = longCat(v.getLong(s(r))); r += 1 }
        case T_SHORT =>
          if (s == null) while (r < n) { out(r) = v.getShort(r).toInt; r += 1 }
          else while (r < n) { out(r) = v.getShort(s(r)).toInt; r += 1 }
        case T_BYTE =>
          if (s == null) while (r < n) { out(r) = v.getByte(r).toInt; r += 1 }
          else while (r < n) { out(r) = v.getByte(s(r)).toInt; r += 1 }
        case T_TS =>
          if (s == null) while (r < n) { out(r) = yearOfMicros(v.getLong(r)); r += 1 }
          else while (r < n) { out(r) = yearOfMicros(v.getLong(s(r))); r += 1 }
        case T_DATE =>
          if (s == null) while (r < n) { out(r) = civilYear(v.getInt(r).toLong); r += 1 }
          else while (r < n) { out(r) = civilYear(v.getInt(s(r)).toLong); r += 1 }
        case T_TS_NTZ =>
          if (s == null) while (r < n) { out(r) = civilYear(Math.floorDiv(v.getLong(r), MicrosPerDay)); r += 1 }
          else while (r < n) { out(r) = civilYear(Math.floorDiv(v.getLong(s(r)), MicrosPerDay)); r += 1 }
      }
    }

    private def packByte(v: ColumnVector, row: Int, colName: => String): Int = {
      val u = v.getUTF8String(row)
      if (u.numBytes != 1)
        throw new IllegalArgumentException(
          s"CatPackedStrings: column $colName has a ${u.numBytes}-byte value ('$u') — " +
          "only single-byte flag columns pack; dictionary-encode wider strings to an int column")
      u.getByte(0) & 0xff
    }

    private def packShort(v: ColumnVector, row: Int, colName: => String): Int = {
      val u = v.getUTF8String(row)
      val nb = u.numBytes
      if (nb > 4)
        throw new IllegalArgumentException(
          s"CatShortString: column $colName has a $nb-byte value ('$u') — " +
          "only values up to 4 UTF-8 bytes pack; dictionary-encode wider strings to an int column")
      var key = 0
      var i = 0
      while (i < nb) {
        val b = u.getByte(i) & 0xff
        if (b == 0)
          throw new IllegalArgumentException(
            s"CatShortString: column $colName has a value with an embedded NUL byte — " +
            "base-256 packing cannot distinguish it from a shorter value")
        key = (key << 8) | b
        i += 1
      }
      key
    }

    /** [[packShortWide]] bounded to a [[CatPackedKeys]] field width:
      * the gate probed the exact max byte width, so a wider value here
      * means the data was rewritten in place — fail loudly rather than
      * bleed into the neighbouring key's byte range. */
    private def packShortBounded(v: ColumnVector, row: Int, w: Int, colName: => String): Long = {
      val u = v.getUTF8String(row)
      val nb = u.numBytes
      if (nb > w)
        throw new IllegalArgumentException(
          s"CatPackedKeys: column $colName has a $nb-byte value ('$u') wider than its " +
          s"probed $w-byte field — was the input rewritten in place?")
      var key = 0L
      var i = 0
      while (i < nb) {
        val b = u.getByte(i) & 0xff
        if (b == 0)
          throw new IllegalArgumentException(
            s"CatPackedKeys: column $colName has a value with an embedded NUL byte — " +
            "base-256 packing cannot distinguish it from a shorter value")
        key = (key << 8) | b
        i += 1
      }
      key
    }

    /** [[packShort]] into the LONG label channel: 1–8 UTF-8 bytes. */
    private def packShortWide(v: ColumnVector, row: Int, colName: => String): Long = {
      val u = v.getUTF8String(row)
      val nb = u.numBytes
      if (nb > 8)
        throw new IllegalArgumentException(
          s"CatShortString label: column $colName has a $nb-byte value ('$u') — " +
          "only values up to 8 UTF-8 bytes pack; dictionary-encode wider strings to an int column")
      var key = 0L
      var i = 0
      while (i < nb) {
        val b = u.getByte(i) & 0xff
        if (b == 0)
          throw new IllegalArgumentException(
            s"CatShortString label: column $colName has a value with an embedded NUL byte — " +
            "base-256 packing cannot distinguish it from a shorter value")
        key = (key << 8) | b
        i += 1
      }
      key
    }

    /** Decode the label column (the LAST compiled cat spec) into the
      * Long channel: full-range long keys need no 2^32 guard, and
      * [[CatShortString]] packs up to 8 bytes here. Every kind the
      * int cat decode supports is covered, so any spec is usable in
      * label position. */
    private def fillLabelLong(kind: Int, ords: Array[Int], ts: Array[Int],
                              batch: ColumnarBatch, out: Array[Long],
                              s: Array[Int], n: Int): Unit = {
      var r = 0
      kind match {
        case 0 =>
          val v = batch.column(ords(0))
          ts(0) match {
            case T_INT =>
              if (s == null) while (r < n) { out(r) = v.getInt(r).toLong; r += 1 }
              else while (r < n) { out(r) = v.getInt(s(r)).toLong; r += 1 }
            case T_LONG =>
              if (s == null) while (r < n) { out(r) = v.getLong(r); r += 1 }
              else while (r < n) { out(r) = v.getLong(s(r)); r += 1 }
            case T_SHORT =>
              if (s == null) while (r < n) { out(r) = v.getShort(r).toLong; r += 1 }
              else while (r < n) { out(r) = v.getShort(s(r)).toLong; r += 1 }
            case T_BYTE =>
              if (s == null) while (r < n) { out(r) = v.getByte(r).toLong; r += 1 }
              else while (r < n) { out(r) = v.getByte(s(r)).toLong; r += 1 }
          }
        case 1 =>
          val v = batch.column(ords(0))
          ts(0) match {
            case T_TS =>
              if (s == null) while (r < n) { out(r) = yearOfMicros(v.getLong(r)).toLong; r += 1 }
              else while (r < n) { out(r) = yearOfMicros(v.getLong(s(r))).toLong; r += 1 }
            case T_DATE =>
              if (s == null) while (r < n) { out(r) = civilYear(v.getInt(r).toLong).toLong; r += 1 }
              else while (r < n) { out(r) = civilYear(v.getInt(s(r)).toLong).toLong; r += 1 }
            case T_TS_NTZ =>
              if (s == null) while (r < n) { out(r) = civilYear(Math.floorDiv(v.getLong(r), MicrosPerDay)).toLong; r += 1 }
              else while (r < n) { out(r) = civilYear(Math.floorDiv(v.getLong(s(r)), MicrosPerDay)).toLong; r += 1 }
          }
        case 2 =>
          if (s == null) while (r < n) {
            var key = 0L; var q = 0
            while (q < ords.length) { key = (key << 8) | packByte(batch.column(ords(q)), r, s"#${ords(q)}"); q += 1 }
            out(r) = key; r += 1
          } else while (r < n) {
            var key = 0L; var q = 0
            while (q < ords.length) { key = (key << 8) | packByte(batch.column(ords(q)), s(r), s"#${ords(q)}"); q += 1 }
            out(r) = key; r += 1
          }
        case 3 =>
          val o = ords(0)
          if (s == null) while (r < n) { out(r) = packShortWide(batch.column(o), r, s"#$o"); r += 1 }
          else while (r < n) { out(r) = packShortWide(batch.column(o), s(r), s"#$o"); r += 1 }
        case 5 =>
          // dictionary label: one FNV probe per row into the
          // executor-cached table; label = the key's dictionary index
          val t = dictTableFor(p.labelDict)
          val o = ords(0)
          while (r < n) {
            val row = if (s == null) r else s(r)
            out(r) = t.lookup(batch.column(o).getUTF8String(row))
            r += 1
          }
        case 4 =>
          // multi-key label: each sub-key owns ts(2q+1) bytes, packed
          // MSB-first; int-typed sub-keys re-check the gate's probed
          // range per row (an in-place rewrite must fail, not alias)
          while (r < n) {
            val row = if (s == null) r else s(r)
            var key = 0L
            var q = 0
            while (q < ords.length) {
              val w = ts(2 * q + 1)
              val t = ts(2 * q)
              val v: Long =
                if (t == -1) packShortBounded(batch.column(ords(q)), row, w, s"#${ords(q)}")
                else {
                  val x = t match {
                    case T_INT => batch.column(ords(q)).getInt(row).toLong
                    case T_LONG => batch.column(ords(q)).getLong(row)
                    case T_SHORT => batch.column(ords(q)).getShort(row).toLong
                    case _ => batch.column(ords(q)).getByte(row).toLong
                  }
                  if (x < 0 || (w < 8 && x >= (1L << (8 * w))))
                    throw new IllegalArgumentException(
                      s"CatPackedKeys: column #${ords(q)} value $x outside its probed " +
                      s"$w-byte field — was the input rewritten in place?")
                  x
                }
              key = (key << (8 * w)) | v
              q += 1
            }
            out(r) = key
            r += 1
          }
      }
    }

    def addBatch(batch: ColumnarBatch): Unit = {
      val nAll = batch.numRows()
      if (nAll == 0) return
      ensure(nAll)

      // compiled FilterExec mask (1/0/2 three-valued; only 1 survives)
      var mask: Array[Byte] = null
      if (p.pred != null) {
        if (maskBuf == null || maskBuf.length < nAll) maskBuf = new Array[Byte](math.max(nAll, 4096))
        p.pred.eval(batch, nAll, maskBuf)
        mask = maskBuf
      }

      // every vector any spec reads — the NULL-skip semantics span all of them
      var anyNull = false
      var i = 0
      while (i < nRaw) { if (batch.column(p.rawOrd(i)).hasNull) anyNull = true; i += 1 }
      var j = 0
      while (j < p.catCols) {
        val os = p.catOrds(j); var q = 0
        while (q < os.length) { if (batch.column(os(q)).hasNull) anyNull = true; q += 1 }
        j += 1
      }

      var n = nAll
      var s: Array[Int] = null
      if (anyNull || mask != null) {
        // compact to the rows passing the filter with no NULL in any
        // input (aggregate semantics)
        var keep = 0
        var r = 0
        while (r < nAll) {
          var ok = mask == null || mask(r) == 1
          if (ok && anyNull) {
            i = 0
            while (ok && i < nRaw) { if (batch.column(p.rawOrd(i)).isNullAt(r)) ok = false; i += 1 }
            j = 0
            while (ok && j < p.catCols) {
              val os = p.catOrds(j); var q = 0
              while (ok && q < os.length) { if (batch.column(os(q)).isNullAt(r)) ok = false; q += 1 }
              j += 1
            }
          }
          if (ok) { sel(keep) = r; keep += 1 }
          r += 1
        }
        if (keep < nAll) {
          n = keep
          s = sel
          if (n == 0) return
        } // else: every row passed — keep the s == null direct-index path
      }

      if (labelMode) {
        // the LAST compiled cat spec is the class key: it decodes first,
        // into the LONG channel, so the other inputs can decode by class
        fillLabelLong(p.catKind(p.catCols - 1), p.catOrds(p.catCols - 1),
          p.catT(p.catCols - 1), batch, labelBuf, s, n)
        addByClass(batch, s, n)
      } else {
        fillInputs(batch, s, n)
        accumulate(buf, 0, n)
      }
    }

    /** Decode rows `s(0 until n)` (the first `n` when `s` is null) of every
      * numeric and int categorical input into `numBufs` / `catBufs`. */
    private def fillInputs(batch: ColumnarBatch, s: Array[Int], n: Int): Unit = {
      var i = 0
      while (i < nRaw) { fillDouble(batch.column(p.rawOrd(i)), p.rawT(i), rawBufs(i), s, n); i += 1 }
      var di = 0
      while (di < p.derived.length) {
        val (ins, f) = p.derived(di)
        val inArr = new Array[Array[Double]](ins.length)
        var q = 0
        while (q < ins.length) { inArr(q) = rawBufs(ins(q)); q += 1 }
        f(inArr, derBufs(di), n)
        di += 1
      }

      var j = 0
      while (j < nCats) {
        if (p.catKind(j) == 2) {
          val os = p.catOrds(j)
          val out = catBufs(j)
          var r = 0
          if (s == null) while (r < n) {
            var key = 0; var q = 0
            while (q < os.length) { key = (key << 8) | packByte(batch.column(os(q)), r, s"#${os(q)}"); q += 1 }
            out(r) = key; r += 1
          } else while (r < n) {
            var key = 0; var q = 0
            while (q < os.length) { key = (key << 8) | packByte(batch.column(os(q)), s(r), s"#${os(q)}"); q += 1 }
            out(r) = key; r += 1
          }
        } else if (p.catKind(j) == 3) {
          val o = p.catOrds(j)(0)
          val out = catBufs(j)
          var r = 0
          if (s == null) while (r < n) { out(r) = packShort(batch.column(o), r, s"#$o"); r += 1 }
          else while (r < n) { out(r) = packShort(batch.column(o), s(r), s"#$o"); r += 1 }
        } else fillCatInt(batch.column(p.catOrds(j)(0)), p.catT(j)(0), catBufs(j), s, n)
        j += 1
      }
    }
  }
}
