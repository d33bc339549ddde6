package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Spark delivers listener events on an asynchronous bus, and its drain
  * call, the job-group property key and the RDD operation scope are
  * package-private; the run harness ([[graft.Harness]]) reaches them from
  * Spark's package.
  */
object ListenerBus {

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The job group a job was started under, from its local properties. */
  def jobGroup(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))

  /** The operator scope of a stage's top RDD ("Exchange", "Scan parquet
    * ...", "WholeStageCodegen (2)"): the plan node that made it.
    */
  def operatorScope(stage: StageInfo): Option[String] =
    stage.rddInfos.headOption.flatMap(_.scope).map(_.name)
}
