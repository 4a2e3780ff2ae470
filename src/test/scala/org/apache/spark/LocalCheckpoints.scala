package org.apache.spark

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Whether an RDD is marked for a local checkpoint, materialized or
  * not: a spec tells a checkpointed result layer from a leaked cache
  * with it. The checkpoint data is package-private to Spark, hence
  * this package. */
object LocalCheckpoints {
  def marked(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
