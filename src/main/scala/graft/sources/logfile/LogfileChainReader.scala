package graft.sources.logfile

import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.PartitionReader

/** A scan task's reader: reads the task's splits in order, one
  * [[LogfilePartitionReader]] at a time, so realignment and read-past-end
  * happen at every split boundary exactly as in a task of one split.
  *
  * `open(split, limit)` builds a split's assembly core and the reader that
  * emits from it: the core itself for rows, a [[LogfileColumnarReader]]
  * over it for batches. A split is opened only when the one before it is
  * exhausted, and closed as soon as it is.
  *
  * A pushed `limit` caps the task, not each split: a split is opened with
  * what is left of it, and no split is opened once the task has assembled
  * `limit` records. Metrics and [[assembledCount]] sum over every split
  * read so far.
  */
final class LogfileChainReader[T](
    splits: Array[LogfilePartition],
    limit: Option[Int],
    open: (LogfilePartition, Option[Int]) => (LogfilePartitionReader, PartitionReader[T]))
  extends PartitionReader[T] {

  private val pending = splits.iterator
  private var core: LogfilePartitionReader = _ // the open split's assembly core
  private var out: PartitionReader[T] = _ // emits from `core`
  // totals of the splits already closed
  private var closedBytes, closedRecords, closedSpanning = 0L

  @annotation.tailrec
  override def next(): Boolean =
    if (out != null && out.next()) true
    else {
      if (out != null) retire()
      val left = limit.map(_ - assembledCount)
      if (!pending.hasNext || left.exists(_ <= 0)) false
      else {
        val (c, o) = open(pending.next(), left.map(_.toInt))
        core = c
        out = o
        next()
      }
    }

  /** Closes the open split, keeping its totals. */
  private def retire(): Unit = {
    closedBytes += core.bytesRead
    closedRecords += core.assembledCount
    closedSpanning += core.spanningCount
    val o = out
    core = null
    out = null
    o.close()
  }

  override def get(): T = out.get()

  private def total(closed: Long, live: LogfilePartitionReader => Long): Long =
    closed + (if (core == null) 0L else live(core))

  /** Records assembled by the task so far: its partial COUNT(*). */
  private[logfile] def assembledCount: Long = total(closedRecords, _.assembledCount)

  /** Task-level scan metrics, polled by Spark per-batch and on task end;
    * aggregated driver-side by [[LogfileMetrics.supported]].
    */
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    LogfileMetrics.TaskMetric(LogfileMetrics.BytesRead, total(closedBytes, _.bytesRead)),
    LogfileMetrics.TaskMetric(LogfileMetrics.RecordsAssembled, assembledCount),
    LogfileMetrics.TaskMetric(LogfileMetrics.RecordsSpanningSplits,
      total(closedSpanning, _.spanningCount)))

  override def close(): Unit = if (out != null) retire()
}
