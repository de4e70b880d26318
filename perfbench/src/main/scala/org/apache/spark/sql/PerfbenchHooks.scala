package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Three package-private Spark facts the benchmark's tracer reads: the
  * listener bus drain, so per-layer tables are read only after every
  * job and task event has been delivered, the plan operators whose RDDs
  * a stage runs, and the number of cached relations a query left
  * behind. */
object PerfbenchHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def scopes(stage: StageInfo): Seq[String] =
    stage.rddInfos.flatMap(_.scope.map(_.name)).distinct.toSeq

  def cachedRelations(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
