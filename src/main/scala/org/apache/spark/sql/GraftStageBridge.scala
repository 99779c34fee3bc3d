package org.apache.spark.sql

import org.apache.spark.scheduler.StageInfo

/** Stage ↔ operator bridge for graft's run meter.
  *
  * A stage's `name` is the call site that submitted it, and adaptive
  * execution submits query stages from its own thread pool, so most
  * stages read `... at CompletableFuture.java`. The operators a stage
  * ran are recorded as the operation scopes of its RDDs (`Exchange`,
  * `WholeStageCodegen (2)`, ...), but `RDDOperationScope` is
  * `private[spark]`; this forwarder, compiled into the sql package,
  * reads their names.
  */
object GraftStageBridge {
  /** Distinct scope names of the stage's RDDs, oldest RDD first. */
  def scopeNames(info: StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
