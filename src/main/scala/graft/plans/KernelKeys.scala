package graft.plans

import graft.agg.ColumnarCofactor
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one label→original-key decoder of the grouped kernel: the Long
  * label channel packs string/int key tuples
  * ([[ColumnarCofactor.CatPackedKeys]]), dictionary indices
  * ([[ColumnarCofactor.CatDictString]]), or a single packed key. It runs
  * on executors inside [[ColumnarCofactor.groupedPartials]], so every
  * grouped route — SQL and DataFrame API — emits keys through it. */
private[graft] object KernelKeys {

  /** One raw label field as a Catalyst value of the key column's type. */
  private def toCatalyst(v: Long, dt: DataType): Any = dt match {
    case StringType => UTF8String.fromString(ColumnarCofactor.unpackShortString(v))
    case LongType => v
    case ShortType => v.toShort
    case ByteType => v.toByte
    case _ => v.toInt
  }

  /** The ORIGINAL key-column values of one kernel group label, as
    * Catalyst values (strings as `UTF8String`). */
  def unpack(ls: ColumnarCofactor.CatSpec, keyTypes: Seq[DataType], kv: Long): Seq[Any] =
    ls match {
      case pk: ColumnarCofactor.CatPackedKeys =>
        ColumnarCofactor.unpackPackedKeys(kv, pk.widths)
          .zip(keyTypes).map { case (f, dt) => toCatalyst(f, dt) }
      case ds: ColumnarCofactor.CatDictString =>
        // the broadcast value is executor-cached after the first read
        Seq(UTF8String.fromBytes(ds.dict.value(kv.toInt)))
      case _ =>
        Seq(toCatalyst(kv, keyTypes.head))
    }
}
