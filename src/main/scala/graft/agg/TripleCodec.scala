package graft.agg

import graft.ring.Triple
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._

/**
 * Catalyst <-> [[Triple]] and [[CofactorBuffer]] conversion. The
 * SQL-visible triple type is
 *
 * {{{
 * STRUCT(n BIGINT,
 *        lin  ARRAY<DOUBLE>,
 *        quad ARRAY<DOUBLE>,                       -- packed upper triangle (diag only for NB)
 *        lin_cat      ARRAY<MAP<INT, DOUBLE>>,
 *        quad_num_cat ARRAY<MAP<INT, DOUBLE>>,     -- absent in NB form
 *        quad_cat     ARRAY<MAP<BIGINT, DOUBLE>>)  -- key = (c1 << 32) | c2; absent in NB form
 * }}}
 *
 * mirroring the reference's LIST/STRUCT layout (triple/sum/sum.cpp:26-52)
 * with map-typed categorical fields (idiomatic Spark encoding of the same
 * content). Map entries are emitted in sorted key order, matching the
 * reference's std::map iteration (sum_state.cpp:116-464).
 */
object TripleCodec {

  val intMap: MapType = MapType(IntegerType, DoubleType, valueContainsNull = false)
  val longMap: MapType = MapType(LongType, DoubleType, valueContainsNull = false)

  val fullType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("lin", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("quad", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("lin_cat", ArrayType(intMap, containsNull = false), nullable = false),
    StructField("quad_num_cat", ArrayType(intMap, containsNull = false), nullable = false),
    StructField("quad_cat", ArrayType(longMap, containsNull = false), nullable = false)
  ))

  val nbType: StructType = StructType(fullType.fields.take(4))

  def dataType(nb: Boolean): StructType = if (nb) nbType else fullType

  def toCatalyst(t: Triple, nb: Boolean): InternalRow = {
    def ints(m: Map[Int, Double]): Any = {
      val es = m.toArray.sortBy(_._1)
      mapData(es.map(_._1.toLong), es.map(_._2), intKeys = true)
    }
    def longs(m: Map[Long, Double]): Any = {
      val es = m.toArray.sortBy(_._1)
      mapData(es.map(_._1), es.map(_._2), intKeys = false)
    }
    struct(nb, t.n, t.lin, t.quad, t.linCat.map(ints), t.quadNumCat.map(ints), t.quadCat.map(longs))
  }

  /** The triple struct of `b`, written from its slot arrays without
    * building a [[Triple]]'s maps. Every aggregate's result and every
    * kernel partial goes through here. */
  def toCatalyst(b: CofactorBuffer): InternalRow = {
    val catKeys = b.catMaps.map(_.sortedKeys)
    // each key's slot array [count, Σx_0 …], in key order
    val catRows = Array.tabulate(b.catCols)(j => catKeys(j).map(b.catMaps(j)(_)))
    def cat(j: Int, slot: Int): Any = mapData(catKeys(j), catRows(j).map(_(slot)), intKeys = true)
    struct(b.nbMode, b.n, b.lin, b.quad,
      Array.tabulate(b.catCols)(cat(_, 0)),
      Array.tabulate(b.numCols * b.catCols)(idx => cat(idx % b.catCols, idx / b.catCols + 1)),
      b.quadCat.map { m =>
        val ks = m.sortedKeys
        mapData(ks, ks.map(m(_)(0)), intKeys = false)
      })
  }

  /** The one writer of the struct: dense sums with -0.0 normalized to 0.0
    * so output hashes deterministically; the maps as built by [[mapData]].
    * The NB form has no `quadNumCat`/`quadCat`. */
  private def struct(nb: Boolean, n: Long, lin: Array[Double], quad: Array[Double],
      linCat: Array[Any], quadNumCat: => Array[Any], quadCat: => Array[Any]): InternalRow = {
    val fields = new Array[Any](if (nb) 4 else 6)
    fields(0) = n
    fields(1) = ArrayData.toArrayData(lin.map(_ + 0.0))
    fields(2) = ArrayData.toArrayData(quad.map(_ + 0.0))
    fields(3) = new GenericArrayData(linCat)
    if (!nb) {
      fields(4) = new GenericArrayData(quadNumCat)
      fields(5) = new GenericArrayData(quadCat)
    }
    new GenericInternalRow(fields)
  }

  /** The map of ascending `keys` to `vals`, exact zeros of either sign
    * dropped (ring.Triple's canonical form, whose maps hold none). */
  private def mapData(keys: Array[Long], vals: Array[Double], intKeys: Boolean): MapData = {
    val kept = Array.range(0, keys.length).filter(vals(_) != 0.0)
    new ArrayBasedMapData(
      if (intKeys) ArrayData.toArrayData(kept.map(keys(_).toInt)) else ArrayData.toArrayData(kept.map(keys)),
      ArrayData.toArrayData(kept.map(vals)))
  }

  /** Each map of `a`, its keys read by `key` into `builder()`'s map. */
  private def readMaps[K](a: ArrayData, key: (ArrayData, Int) => K,
      builder: () => scala.collection.mutable.Builder[(K, Double), Map[K, Double]]): Array[Map[K, Double]] =
    Array.tabulate(a.numElements()) { i =>
      val m = a.getMap(i)
      val ks = m.keyArray(); val vs = m.valueArray()
      val b = builder()
      var j = 0
      while (j < m.numElements()) { b += key(ks, j) -> vs.getDouble(j); j += 1 }
      b.result()
    }

  /** Decode a triple struct; handles both the 6-field full form and the
    * 4-field NB form (cf. extract_data, ML/utils.cpp:72). */
  def fromCatalyst(row: InternalRow, numFields: Int): Triple = {
    val nb = numFields == 4
    Triple(
      row.getLong(0),
      row.getArray(1).toDoubleArray(),
      row.getArray(2).toDoubleArray(),
      readMaps(row.getArray(3), _.getInt(_), () => Map.newBuilder[Int, Double]),
      if (nb) Array.empty else readMaps(row.getArray(4), _.getInt(_), () => Map.newBuilder[Int, Double]),
      // TreeMap: diagonal packed keys all share Long.hashCode 0, so even
      // BUILDING a HashMap from a big quad_cat map is O(m²)
      if (nb) Array.empty
      else readMaps(row.getArray(5), _.getLong(_), () => scala.collection.immutable.TreeMap.newBuilder[Long, Double])
    )
  }

  /** Ring-adds the triple struct `row` into `b` in place, each sum as
    * `Triple.add(b, row)` adds it (an exact-zero sum stays in `b` until
    * the encoder drops it), then holds `b`'s categorical maps to its
    * `maxCategories` as a merge does. `row` has `b`'s form, full or NB;
    * a triple of another shape throws. */
  def addInto(b: CofactorBuffer, row: InternalRow): Unit = {
    val lin = row.getArray(1); val quad = row.getArray(2); val linCat = row.getArray(3)
    require(lin.numElements() == b.numCols && quad.numElements() == b.quad.length &&
      linCat.numElements() == b.catCols,
      s"shape mismatch: (${b.numCols},${b.catCols}) vs (${lin.numElements()},${linCat.numElements()})")
    b.n += row.getLong(0)
    var i = 0
    while (i < b.lin.length) { b.lin(i) += lin.getDouble(i); i += 1 }
    i = 0
    while (i < b.quad.length) { b.quad(i) += quad.getDouble(i); i += 1 }
    // catMaps(j) slots: [count, Σx_0 … Σx_{numCols-1}] (count only in NB)
    val slots = if (b.nbMode) 1 else b.numCols + 1
    var j = 0
    while (j < b.catCols) { addMap(b.catMaps(j), linCat.getMap(j), 0, slots, longKeys = false); j += 1 }
    if (!b.nbMode) {
      val quadNumCat = row.getArray(4)
      var idx = 0
      while (idx < b.numCols * b.catCols) {
        addMap(b.catMaps(idx % b.catCols), quadNumCat.getMap(idx), idx / b.catCols + 1, slots,
          longKeys = false)
        idx += 1
      }
      val quadCat = row.getArray(5)
      j = 0
      while (j < b.quadCat.length) { addMap(b.quadCat(j), quadCat.getMap(j), 0, 1, longKeys = true); j += 1 }
    }
    b.checkMerged()
  }

  private def addMap(m: KeyedSlots, d: MapData, slot: Int, slots: Int, longKeys: Boolean): Unit = {
    val ks = d.keyArray(); val vs = d.valueArray()
    // slot 0 (a count) is the map that carries each key first
    if (slot == 0) m.sizeHint(d.numElements())
    var e = 0
    while (e < d.numElements()) {
      val k = if (longKeys) ks.getLong(e) else ks.getInt(e).toLong
      m.getOrElseUpdate(k, new Array[Double](slots))(slot) += vs.getDouble(e)
      e += 1
    }
  }

  /** The empty triple of `num` continuous and `cat` categorical columns
    * as a literal: what the fused aggregate yields over no rows. */
  def emptyLiteral(num: Int, cat: Int, nb: Boolean): Literal =
    Literal(toCatalyst(new CofactorBuffer(num, cat, nb)), dataType(nb))
}
