package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** `private[spark]` bridge to Spark's own Hadoop-conf broadcast, the way
  * Spark's file scans ship the conf: once per scan (or micro-batch) as a
  * broadcast, instead of a serialized copy inside every task.
  */
object GraftConfBridge {
  def broadcast(sc: SparkContext, conf: Configuration): Broadcast[SerializableConfiguration] =
    SerializableConfiguration.broadcast(sc, conf)
}
