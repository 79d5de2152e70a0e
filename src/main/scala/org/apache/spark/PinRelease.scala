package org.apache.spark

import org.apache.spark.rdd.RDD

/** Drops a pinned (locally checkpointed) RDD's blocks. `RDD.unpersist`
  * warns on every such RDD that its lineage cannot be recomputed, which
  * for a pin is the point of releasing it; the context's own unpersist
  * does the same removal without the warning. Lives in Spark's package
  * because that call is `private[spark]`.
  */
object PinRelease {
  def apply(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
