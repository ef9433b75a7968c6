package org.apache.spark

import org.apache.spark.sql.types.StructType

/** The two package-private Spark members the program needs, in one place. */
object GraftInternals {

  /** Wait until the listener bus has delivered every queued event. After an
    * action returns, its job and task events are already queued (the
    * scheduler posts them before it wakes the caller), so draining closes
    * that action's attribution window: a listener read afterwards is not
    * short of late task-end events, and the next action is not charged
    * with them. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** `schema` with every field nullable, nested ones too — what a file
    * source reader declares (parquet files written by Spark are all
    * nullable, and a file lacking a column reads it as null). */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
