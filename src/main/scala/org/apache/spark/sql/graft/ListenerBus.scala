package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Spark delivers listener events on an asynchronous bus, and both its
  * drain call and the job-group property key are package-private; the
  * run harness ([[graft.Harness]]) reaches them from Spark's package.
  */
object ListenerBus {

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The job group a job was started under, from its local properties. */
  def jobGroup(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
}
