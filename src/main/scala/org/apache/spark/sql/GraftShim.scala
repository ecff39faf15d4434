package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's `private[sql]` Column ↔ Expression conversions, for
  * graft's custom Catalyst expressions. Lives in the org.apache.spark.sql
  * package solely for access — the standard pattern for Spark extension
  * libraries that expose native expressions as Columns.
  */
object GraftShim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Catalyst's plan-time size estimate (bytes) for a frame — the same
    * statistic the planner compares against autoBroadcastJoinThreshold.
    */
  def estimatedSizeInBytes(df: Dataset[_]): BigInt =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan.stats.sizeInBytes

  /** True when the frame's optimized plan is a LocalRelation: its rows
    * already sit in driver memory, and collecting them runs no Spark job.
    */
  def isLocalRelation(df: Dataset[_]): Boolean =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan
      .isInstanceOf[catalyst.plans.logical.LocalRelation]

  /** Spark's own schema merge (new fields appended in order; conflicting
    * types fail loudly). */
  def mergeSchemas(a: types.StructType, b: types.StructType): types.StructType =
    a.merge(b)

  /** An observation's metrics row once the observed action reported it,
    * waiting at most 100 ms; None when the action reported none. */
  def observedRow(o: Observation): Option[Row] = o.getRowOrEmpty

  /** The session's autoBroadcastJoinThreshold in bytes (-1 = disabled). */
  def broadcastThreshold(df: Dataset[_]): Long =
    df.asInstanceOf[classic.Dataset[_]].sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** The active session's Hadoop configuration (spark.hadoop.* applied) —
    * what a file-based source must use instead of `new Configuration()`,
    * which would drop credentials/filesystem settings.
    */
  def sessionHadoopConf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Wrap/unwrap a Hadoop conf for shipping to executors. The concrete type
    * (SerializableConfiguration) is private[spark], so it crosses graft code
    * as an opaque Serializable.
    */
  def serializableHadoopConf(c: org.apache.hadoop.conf.Configuration): java.io.Serializable =
    new org.apache.spark.util.SerializableConfiguration(c)
  def hadoopConfOf(s: java.io.Serializable): org.apache.hadoop.conf.Configuration =
    s.asInstanceOf[org.apache.spark.util.SerializableConfiguration].value

  /** Release the storage behind an (eagerly) checkpointed frame —
    * Dataset.{local,}checkpoint has no unpersist counterpart, so iterative
    * operators that checkpoint per round would otherwise pin one
    * materialized copy per round for the session lifetime. Handles both
    * flavors: localCheckpoint blocks are dropped from the block manager;
    * RELIABLE checkpoint files are deleted from the checkpoint dir (which
    * Spark itself only reclaims with the opt-in reference-tracking cleaner,
    * at JVM exit at best). Caller must guarantee the frame is never
    * evaluated again (checkpointing truncated its lineage — there is
    * nothing left to recompute from). No-op for non-checkpoint plans.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit = {
    val classicDf = df.asInstanceOf[classic.Dataset[_]]
    val rdds = classicDf.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    // Checkpoint blocks/files are the ONLY copy of their data — a plan
    // composing several checkpointed frames would have every one of them
    // released, and any still-needed sibling later fails with 'block not
    // found' rather than recomputing. Refuse the ambiguous call instead.
    require(rdds.size <= 1,
      s"unpersistCheckpoint: plan composes ${rdds.size} checkpointed RDDs — " +
        "pass the exact checkpointed frame whose blocks are dead, not a plan built over several")
    rdds.foreach { l =>
      l.rdd.unpersist(false)
      l.rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(classicDf.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
  }
}
