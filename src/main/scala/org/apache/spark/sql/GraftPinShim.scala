package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Rebuilds a checkpointed DataFrame's [[LogicalRDD]] leaf WITHOUT the
  * origin plan's statistics — the leaf behind
  * [[graft.ops.Pin.resetStats]] and [[graft.ops.Pin.resetStatsLazy]].
  *
  * Lives in `org.apache.spark.sql` only to reach the `private[sql]`
  * plan-to-Dataset constructor; everything else referenced is public
  * Spark API surface (LogicalRDD is a public case class).
  */
object GraftPinShim {

  /** The pinned frame's leaf rebuilt over its INTERNAL-row RDD with no
    * origin statistics and Unknown layout. The public
    * `createDataFrame(cp.rdd, schema)` round-trip it replaces decoded
    * every row to an external Row and re-encoded it on every downstream
    * read of the pinned frame (a per-reference codec tax); this keeps
    * the UnsafeRow blocks as-is. Layout is deliberately dropped — see
    * the coalesced-boundary note at [[graft.ops.Pin.apply]]. A frame
    * whose analyzed plan is not a LogicalRDD falls back to that public
    * round-trip. */
  def dropStats(pinned: DataFrame): DataFrame =
    pinned.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val session = pinned.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        classic.Dataset.ofRows(session,
          new LogicalRDD(l.output, l.rdd, UnknownPartitioning(0), Nil,
            l.isStreaming, l.stream)(session, None, None))
      case _ =>
        pinned.sparkSession.createDataFrame(pinned.rdd, pinned.schema)
    }
}
