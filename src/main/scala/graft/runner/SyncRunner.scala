package graft.runner

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{SyncState, SyncType}
import graft.ops._

/** A materialized sync target the runner merges into. The parquet
  * implementation is the Spark-native stand-in for the reference's
  * Postgres/MSSQL write table, and the only implementation: the contract
  * is a whole-table replace, while `graft.sink.JdbcMergeSink` merges a
  * delta in SQL, so it does not implement this trait. [[ParquetTarget]]
  * is a local-filesystem directory holding only `part-*` files (no
  * `_SUCCESS`), committed by one directory swap ([[graft.ops.AtomicDir]]).
  */
trait TargetTable {
  def read(spark: SparkSession): DataFrame
  /** Atomically replace the table contents with `df` (the post-merge
    * state). Implementations must be all-or-nothing (T6) and must run `df`
    * itself through a Spark action (a write, `foreachPartition`, ...):
    * the runner takes the committed row count and the watermark from
    * metrics observed on `df` during that action, and fails the sync,
    * naming the target, when `overwrite` returns without having run it. */
  def overwrite(df: DataFrame): Unit
  def exists: Boolean
}

/** Parquet-directory target with write-temp-then-rename atomicity, on the
  * local filesystem only, like [[AtomicDir]]. The directory holds only
  * `part-NNNNN.<codec>.parquet` files (no `_SUCCESS`, no checksum files):
  * `overwrite` runs the frame's query once, each non-empty partition's task
  * writes its part into `<path>.staging` with [[ParquetParts]] (Spark's
  * Parquet encoder, no file-format writer and no commit protocol), and the
  * commit is the swap of the staging directory onto `path`. A frame with
  * no rows leaves one schema-only part. At cluster scale the swap becomes
  * a metastore/table-format commit (Iceberg/Delta); the runner contract is
  * unchanged. `read` takes the schema Spark stored in a data file's footer,
  * read on the driver, so it starts no schema-inference job; a target with
  * no data file or no Spark schema in its footer fails naming the path. */
final class ParquetTarget(spark: SparkSession, path: String) extends TargetTable {
  override def exists: Boolean = AtomicDir.restore(path)
  override def read(spark: SparkSession): DataFrame = spark.read
    .schema(DriverParquet.sparkSchema(spark.sparkContext.hadoopConfiguration, path))
    .parquet(path)
  override def overwrite(df: DataFrame): Unit = {
    val staging = path + ".staging"
    AtomicDir.recreate(staging)
    val session = df.sparkSession
    val parts = ParquetParts(session, df.schema)
    // a fresh execution of the frame's plan in the frame's session, run as
    // a Dataset action runs its own: the session's query listeners see it,
    // observed metrics included
    val qe = session.sessionState.executePlan(df.queryExecution.analyzed)
    val wrote = SQLExecution.withNewExecutionId(qe, Some("overwrite")) {
      session.sparkContext.runJob(qe.toRdd,
        (task: TaskContext, rows: Iterator[InternalRow]) =>
          parts.write(staging, task.partitionId(), rows))
    }
    // read and sparkSchema need a file, even for a frame with no rows
    if (!wrote.contains(true)) parts.write(staging, 0, Iterator.empty, always = true)
    AtomicDir.swap(staging, path)
  }
  override def toString: String = s"ParquetTarget($path)"
}

final case class SyncConfig(
    tableName: String,
    statePath: String,
    keys: Seq[String] = Seq("href"),
    modifiedCol: String = "modified_ms",
    payloadCol: String = "jsondata",
    dryRun: Boolean = false)

final case class SyncResult(
    syncType: String,
    rowsAfter: Long,
    watermark: Option[Long],
    elapsedMs: Long)

/** The reference's sync lifecycle (SURVEY §3) re-expressed over Spark:
  * fullSync / deltaSync / safeDeltaSync compose the Merge/Diff/Watermark
  * operators into one Catalyst plan per sync, then commit target + state.
  *
  *  - T1 watermark: read from the state table (on the driver, no Spark
  *    job) and applied as a
  *    `modified >= wm` filter on the live pass and as
  *    `modified >= wm OR modified IS NULL` on the tombstone pass (when the
  *    tombstones carry the modified column). On parquet this prunes row
  *    groups; the SRI source turns either bound into `modifiedSince=` on
  *    the request URL (only that bound reaches the URL). The next
  *    watermark is observed (`Dataset.observe`) as the max `modified` of
  *    the staged rows the committed write consumed, and the row count
  *    after the sync is observed on that write too: a sync makes no
  *    separate watermark query and never re-reads the target. The metrics
  *    are named `observe`s read by a query listener registered for the
  *    sync only ([[Observed]]). A steady deltaSync runs 3 Spark jobs: the
  *    broadcast of the excluded keys, the staged-side dedup shuffle, and
  *    the target write.
  *  - T4 single-flight: a sync rejects immediately if another is running
  *    on this runner (reference: client.js:1628-1631).
  *  - T6 atomicity: target overwrite is atomic; the watermark, observed
  *    from the committed pass, is written (on the driver, no Spark job)
  *    only after the target commit, so a crash between the two re-syncs an
  *    overlap (at-least-once) that A1 dedup + key merge make idempotent.
  *  - dryRun: plan + compute (one count of the observed frame), skip both
  *    commits (reference README.md:69).
  */
final class SyncRunner(spark: SparkSession, cfg: SyncConfig) {

  private val running = new AtomicBoolean(false)

  /** Reference: fullSync = sync(null) (client.js:1923-1941). The new
    * table is the deduped snapshot, so the target is only written, never
    * read. */
  def fullSync(source: DataFrame, target: TargetTable): SyncResult =
    sync { obs =>
      val t0 = now()
      commit(target, Merge.full(source, cfg.keys, cfg.modifiedCol),
        SyncType.Full, t0, obs)
    }

  /** Reference: deltaSync(modifiedSince?) — explicit `modifiedSince`
    * skips the watermark advance (client.js:1816, README.md:174). */
  def deltaSync(source: DataFrame, tombstones: DataFrame, target: TargetTable,
                modifiedSince: Option[Long] = None): SyncResult =
    sync { obs =>
      val t0 = now()
      val prev = Watermark.readState(spark, cfg.statePath, cfg.tableName,
        SyncType.Delta)
      val since = modifiedSince.orElse(prev.map(_.lastModified))
        .getOrElse(Watermark.ColdStartMs)
      val staged = Watermark.modifiedSince(source, since, cfg.modifiedCol)
        .observe(obs.name("max"), max(col(cfg.modifiedCol)).as("max"))
      // the tombstone pass is watermark-fenced too (reference applies
      // modifiedSince to the deleted-resources query, client.js:1684-1694);
      // rows without a modified column/value are kept conservatively
      val tombsFenced =
        if (tombstones.columns.contains(cfg.modifiedCol))
          tombstones.where(col(cfg.modifiedCol) >= since ||
            col(cfg.modifiedCol).isNull)
        else tombstones
      val current = if (target.exists) target.read(spark) else emptyLike(source)
      val merged = Merge.delta(current, staged, tombsFenced, cfg.keys,
        cfg.modifiedCol)
      val res = commit(target, merged, SyncType.Delta, t0, obs)
      if (modifiedSince.isEmpty && !cfg.dryRun) {
        val t1 = now()
        // observed by the write that carried the commit's row count
        val wm = Watermark.advance(obs.value[Long]("max"),
          prev.map(_.lastModified).getOrElse(Watermark.ColdStartMs),
          prev.map(_.syncStart), t0, t1)
        Watermark.writeState(spark, cfg.statePath, cfg.tableName,
          SyncType.Delta, SyncState(wm, t0))
        res.copy(watermark = Some(wm))
      } else res
    }

  /** Reference: safeDeltaSync = deltaSync + membership reconciliation
    * (client.js:1776-1805): drop rows not in the authoritative member
    * list, point-fetch + insert members the target lacks. */
  def safeDeltaSync(source: DataFrame, tombstones: DataFrame,
                    members: DataFrame,
                    fetchMissing: DataFrame => DataFrame,
                    target: TargetTable): SyncResult =
    sync { obs =>
      val t0 = now()
      val current = if (target.exists) target.read(spark) else emptyLike(source)
      val afterDelta = Merge.delta(current, source, tombstones, cfg.keys,
        cfg.modifiedCol)
      val missing = Diff.missingMembers(members, afterDelta, cfg.keys)
      val fetched = fetchMissing(missing) // S2 keyed batch fetch
      val merged = Merge.safe(afterDelta, members, fetched, cfg.keys,
        cfg.modifiedCol)
      commit(target, merged, SyncType.SafeDelta, t0, obs)
    }

  // ---- internals ----

  /** Single-flight (T4) around `body`, with the sync's [[Observed]]
    * listener registered for its duration. */
  private def sync[A](body: SyncRunner.Observed => A): A = {
    if (!running.compareAndSet(false, true))
      throw new IllegalStateException(
        s"sync already running for ${cfg.tableName} (single-flight, T4)")
    val obs = new SyncRunner.Observed
    spark.listenerManager.register(obs)
    try body(obs)
    finally { spark.listenerManager.unregister(obs); running.set(false) }
  }

  /** Run `merged` once, through the target's write (or a count on a dry
    * run), and take the row count from that pass. */
  private def commit(target: TargetTable, merged: DataFrame, syncType: String,
                     t0: Long, obs: SyncRunner.Observed): SyncResult = {
    val observedMerged = merged.observe(obs.name("rows"), count(lit(1)).as("rows"))
    val rowsAfter =
      if (cfg.dryRun) observedMerged.count()
      else {
        target.overwrite(observedMerged)
        if (!obs.has("rows")) SyncRunner.awaitQueryListeners(spark)
        if (!obs.has("rows"))
          throw new IllegalStateException(s"$target: overwrite returned " +
            "without running the merged rows through a Spark action, so the " +
            "sync observed no row count or watermark (TargetTable.overwrite)")
        // no value only when the optimizer pruned the frame as empty
        obs.value[Long]("rows").getOrElse(0L)
      }
    SyncResult(syncType, rowsAfter, None, now() - t0)
  }

  private def emptyLike(df: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      df.schema)

  private def now(): Long = System.currentTimeMillis()
}

object SyncRunner {

  /** The metrics of one sync's named `observe`s, taken from each query the
    * session runs successfully while it is registered. Spark's own
    * `Observation` would register a session-wide listener that asks every
    * later failed query for its metrics, logging an error stack for each
    * one that failed analysis; this listener lives for one sync and reads
    * successful queries only. */
  private[graft] final class Observed extends QueryExecutionListener {
    private val prefix =
      s"sync_${java.util.UUID.randomUUID().toString.replace("-", "")}_"
    // one query's metrics land at once: the watermark is read as soon as
    // the row count is there, and both come from the same write
    private val got = new AtomicReference(Map.empty[String, Row])

    /** The plan-wide name of this sync's metric `metric`. */
    def name(metric: String): String = prefix + metric

    /** Whether a finished query ran (or pruned) the frame observed as
      * `metric`. */
    def has(metric: String): Boolean = got.get.contains(name(metric))

    /** The observed value; None when it is null (no rows), missing (the
      * optimizer pruned the observed frame as empty) or not observed. */
    def value[A](metric: String): Option[A] =
      got.get.get(name(metric)).filter(_.length > 0)
        .flatMap(r => Option(r.get(0).asInstanceOf[A]))

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      // walk the query's logical plan, as Spark's own Observation does: a
      // frame the optimizer pruned away still reports, with no value
      val ours = qe.logical.collect {
        case c: CollectMetrics if c.name.startsWith(prefix) => c.name
      }
      if (ours.nonEmpty) {
        val metrics = qe.observedMetrics
        got.updateAndGet(_ ++ ours.map(n => n -> metrics.getOrElse(n, Row.empty)))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Blocks until the session's query listeners, which read every sync's
    * observed metrics ([[Observed]]), have handled each query that ended
    * before this call.
    * They hear of queries in the order the queries end, so a marker query
    * run now (it plans over an empty local relation and starts no Spark
    * job) is handled after all of them. */
  private[graft] def awaitQueryListeners(spark: SparkSession): Unit = {
    val name = s"sync_marker_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val handled = Promise[Unit]()
    val listener = new QueryExecutionListener {
      private def check(qe: QueryExecution): Unit =
        if (qe.analyzed.output.exists(_.name == name)) handled.trySuccess(())
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = check(qe)
      // a query that failed analysis has no analyzed plan to ask
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        scala.util.Try(check(qe))
    }
    spark.listenerManager.register(listener)
    try {
      spark.createDataFrame(java.util.List.of[Row](), new StructType())
        .select(lit(1).as(name)).collect()
      Await.ready(handled.future, 10.minutes)
    } finally spark.listenerManager.unregister(listener)
  }
}
