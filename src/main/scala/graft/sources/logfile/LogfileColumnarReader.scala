package graft.sources.logfile

import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Vectorized logfile scan: drains the row-oriented assembly core
  * ([[LogfilePartitionReader]]) into reused [[OnHeapColumnVector]]s,
  * `batchSize` records per [[ColumnarBatch]].
  *
  * Why this exists (SURVEY.md §2.3 100 TB notes): the record-assembly state
  * machine is inherently sequential per split, but the *emission* cost is
  * not — the row path allocates a `UTF8String` per record and hands Spark
  * one `InternalRow` at a time, which the scan exec then converts. Here the
  * record bytes are copied ONCE from the reader's reused assembly buffer
  * straight into the vector's storage (`putByteArray`), so the hot loop
  * allocates nothing per record and downstream whole-stage codegen reads
  * the vectors directly — the same reason Spark's own parquet/ORC scans
  * are columnar. The reference streams one `Text` per record
  * (`LogfileRecordReader.java:306-316`) and pays this tax at every record.
  *
  * The batch and its vectors are REUSED across `next()` calls (standard
  * columnar-scan contract: consumers copy what they keep).
  */
final class LogfileColumnarReader(
    inner: LogfilePartitionReader,
    required: StructType,
    filePath: String,
    batchSize: Int = 4096)
  extends PartitionReader[ColumnarBatch] {

  private val fileBytes = filePath.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // 0 = file, 1 = offset, 2 = record (same dispatch as the row path)
  private val kinds: Array[Int] = required.fields.map(_.name match {
    case "file" => 0
    case "offset" => 1
    case "record" => 2
  })
  private val vectors: Array[OnHeapColumnVector] =
    required.fields.map(f => new OnHeapColumnVector(batchSize, f.dataType))
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < batchSize && inner.next()) {
      var c = 0
      while (c < kinds.length) {
        // typed Unit: `putByteArray` returns an Int, and a match mixing it
        // with `putLong`'s Unit is typed Any, which boxes an Integer per
        // call; the last arm is total (kind 2), so no MatchError boxes either
        (kinds(c) match {
          case 0 => vectors(c).putByteArray(n, fileBytes, 0, fileBytes.length)
          case 1 => vectors(c).putLong(n, inner.currentOffset)
          case _ => vectors(c).putByteArray(n, inner.recordBuffer, 0, inner.recordLength)
        }): Unit
        c += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close() // closes the vectors
    inner.close()
  }
}
