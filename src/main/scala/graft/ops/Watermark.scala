package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** T1/F8/S6/W5 — incremental-sync watermark algebra.
  *
  * The watermark is driver-side scalar state (a single epoch-millis Long per
  * (table, baseurl, path, synctype)), exactly as in the reference's
  * `sri2db_synctimes` table — it is deliberately NOT contorted into the
  * dataflow plan (SURVEY §7.3 risk 3). Its state table (S6/W5) is read and
  * written on the driver, with no Spark job. The only distributed piece is
  * the max `modified` over the staged snapshot (A2), which the runner
  * observes on the merge write it already runs.
  */
object Watermark {

  /** Cold-start epoch: 1900-01-01T00:00:00Z in millis
    * (reference: `new Date('1900-01-01')`, src/lib/client.js:1597). */
  val ColdStartMs: Long = -2208988800000L

  /** F8 — clock-skew-safe watermark advance. Same semantics as
    * src/lib/client.js:1826-1838 (documented README.md:246-248): assume up
    * to 1% clock drift between API and engine; regress the new watermark by
    * 1.01× the sync duration so an update committed mid-sync with a stale
    * timestamp is still re-read next delta (at-least-once; the A1 dedup +
    * P5 no-op suppression make the overlap idempotent). A sync that saw no
    * rows leaves the watermark untouched.
    *
    * @param lastSeenModifiedMs max `modified` observed this sync (A2), or
    *                           None when the sync saw no rows
    * @param prevWatermarkMs    previous watermark
    * @param prevSyncStartMs    previous sync's start stamp, None on first sync
    * @param thisSyncStartMs    this sync's start stamp
    * @param thisSyncEndMs      timestamp when this sync's scan finished
    */
  def advance(lastSeenModifiedMs: Option[Long], prevWatermarkMs: Long,
              prevSyncStartMs: Option[Long], thisSyncStartMs: Long,
              thisSyncEndMs: Long): Long =
    lastSeenModifiedMs match {
      case None => prevWatermarkMs
      case Some(seen) =>
        val syncDuration = thisSyncEndMs - thisSyncStartMs
        val interSyncDelta =
          prevSyncStartMs.map(thisSyncStartMs - _).getOrElse(0L)
        math.max(
          seen - math.round(1.01 * syncDuration),
          prevWatermarkMs - math.round(1.01 * syncDuration) +
            math.round(0.99 * interSyncDelta))
    }

  /** A2 — watermark candidate: max modified over the staged snapshot.
    * Distributed partial+final max as a 1-row DataFrame; it is the
    * `a2_watermark_max` oracle query. The runner does not run it: it
    * observes the same max on the staged rows of its committed write. */
  def candidate(staged: DataFrame, modified: String = "modified_ms"): DataFrame =
    staged.agg(max(col(modified)).as("last_modified_ms"))

  /** T1 — the source-side watermark predicate: `modified >= since`.
    * Reference pushes this into the API URL as `modifiedSince=`
    * (src/lib/client.js:1666-1676); on a columnar source it's a pushed
    * filter that prunes row groups. */
  def modifiedSince(df: DataFrame, sinceMs: Long,
                    modified: String = "modified_ms"): DataFrame =
    df.where(col(modified) >= sinceMs)

  // ---- S6/W5: state persisted as a tiny parquet table ----

  /** The state table's layout, one row per (tablename, synctype); shared by
    * [[readState]] and [[writeState]]. State directories Spark's own
    * Parquet writer produced (snappy part files) read back the same way. */
  val StateSchema: StructType = StructType(Seq(
    StructField("tablename", StringType),
    StructField("baseurl", StringType),
    StructField("path", StringType),
    StructField("synctype", StringType),
    StructField("lastmodified", LongType),
    StructField("syncstart", LongType)))

  /** Read sync state for a key; None on cold start
    * (reference: getLastSyncDates, src/lib/client.js:614-699). The state
    * holds O(#sync streams) rows, so it is read on the driver
    * ([[DriverParquet]]): no Spark job. A state row whose `lastmodified` or
    * `syncstart` reads as null (files written in another layout) fails
    * naming `statePath`: a null watermark must not pass for a value or a
    * cold start. */
  def readState(spark: SparkSession, statePath: String, tablename: String,
                synctype: String): Option[graft.SyncState] = {
    // a crash between the two renames of writeState parks the state at
    // .bak; reading past it would cold-start the next deltaSync from 1900
    if (!AtomicDir.restore(statePath)) return None
    stateRows(spark, statePath).find(isKey(_, tablename, synctype)).map { r =>
      if (r.isNullAt(4) || r.isNullAt(5))
        throw new IllegalStateException(s"sync state at $statePath has a " +
          s"null lastmodified or syncstart for ($tablename, $synctype): " +
          s"its layout differs from ${StateSchema.simpleString}")
      graft.SyncState(r.getLong(4), r.getLong(5))
    }
  }

  /** Upsert the single state row (reference does DELETE+INSERT,
    * src/lib/client.js:709-760). Parquet has no in-place update; rewrite
    * the (tiny) state table on the driver, no Spark job — at scale this
    * stays O(#sync-streams). */
  def writeState(spark: SparkSession, statePath: String, tablename: String,
                 synctype: String, st: graft.SyncState): Unit = {
    val kept =
      if (!new java.io.File(statePath).exists()) Nil
      else stateRows(spark, statePath).filterNot(isKey(_, tablename, synctype))
    DriverParquet.writeRows(spark, statePath + ".tmp", StateSchema,
      kept :+ Row(tablename, null, null, synctype, st.lastModified, st.syncStart))
    // a failed rename must not silently lose the watermark — losing it
    // falls back to a cold-start re-sync from 1900
    AtomicDir.swap(statePath + ".tmp", statePath)
  }

  private def stateRows(spark: SparkSession, statePath: String): Seq[Row] =
    DriverParquet.readRows(spark.sparkContext.hadoopConfiguration, statePath,
      StateSchema)

  private def isKey(r: Row, tablename: String, synctype: String): Boolean =
    r.getString(0) == tablename && r.getString(3) == synctype
}
