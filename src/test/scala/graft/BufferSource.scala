package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Column, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Test-only DataSource V2 source over a mutable driver-side buffer of
  * (k: long, v: double) rows: a non-file leaf whose data can change
  * while its DataFrame (and so its analyzed plan) stays the same. Each
  * query snapshots the buffer when it plans its scan, and reports its
  * size. Load it with
  * `spark.read.format(classOf[BufferSource].getName).load()`. */
object BufferSource {
  val rows = new java.util.concurrent.CopyOnWriteArrayList[(Long, Double)]()
  val schema: StructType = new StructType().add("k", LongType).add("v", DoubleType)
}

class BufferSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BufferSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = new BufferTable
}

private class BufferTable extends Table with SupportsRead {
  override def name(): String = "buffer"
  override def columns(): Array[Column] =
    Array(Column.create("k", LongType), Column.create("v", DoubleType))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan with Batch with SupportsReportStatistics {
      override def readSchema(): StructType = BufferSource.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(BufferPartition(BufferSource.rows.asScala.toArray))
      override def createReaderFactory(): PartitionReaderFactory = BufferReaderFactory
      // sized, so a join broadcasts it as it would a small file
      override def estimateStatistics(): Statistics = new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(16L * BufferSource.rows.size)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(BufferSource.rows.size)
      }
    }
}

private case class BufferPartition(rows: Array[(Long, Double)]) extends InputPartition

private object BufferReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[BufferPartition].rows.iterator
      private var cur: (Long, Double) = _
      override def next(): Boolean = it.hasNext && { cur = it.next(); true }
      override def get(): InternalRow = InternalRow(cur._1, cur._2)
      override def close(): Unit = ()
    }
}
