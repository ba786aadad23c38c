package graft.runner

import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{SyncState, SyncType}
import graft.ops._

/** A materialized sync target the runner merges into. The parquet
  * implementation is the Spark-native stand-in for the reference's
  * Postgres/MSSQL write table; a JDBC implementation plugs in behind the
  * same trait (see graft.sink.JdbcMergeSink).
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

/** Parquet-directory target with write-temp-then-rename atomicity.
  * At cluster scale the rename becomes a metastore/table-format commit
  * (Iceberg/Delta); the runner contract is unchanged. */
final class ParquetTarget(spark: SparkSession, path: String) extends TargetTable {
  override def exists: Boolean = AtomicDir.restore(path)
  override def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
  override def overwrite(df: DataFrame): Unit = {
    val tmp = path + ".staging"
    df.write.mode("overwrite").parquet(tmp)
    AtomicDir.swap(tmp, path)
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
  *  - T1 watermark: read from the state table and applied as a
  *    `modified >= wm` filter on the live pass and as
  *    `modified >= wm OR modified IS NULL` on the tombstone pass (when the
  *    tombstones carry the modified column). On parquet this prunes row
  *    groups; the SRI source turns either bound into `modifiedSince=` on
  *    the request URL (only that bound reaches the URL). The next
  *    watermark is observed (`Dataset.observe`) as the max `modified` of
  *    the staged rows the committed write consumed, and the row count
  *    after the sync is observed on that write too: a sync makes no
  *    separate watermark query and never re-reads the target.
  *  - T4 single-flight: a sync rejects immediately if another is running
  *    on this runner (reference: client.js:1628-1631).
  *  - T6 atomicity: target overwrite is atomic; the watermark, observed
  *    from the committed pass, is written only after the target commit,
  *    so a crash between the two re-syncs an overlap (at-least-once) that
  *    A1 dedup + key merge make idempotent.
  *  - dryRun: plan + compute (one count of the observed frame), skip both
  *    commits (reference README.md:69).
  */
final class SyncRunner(spark: SparkSession, cfg: SyncConfig) {

  private val running = new AtomicBoolean(false)

  /** Reference: fullSync = sync(null) (client.js:1923-1941). */
  def fullSync(source: DataFrame, target: TargetTable): SyncResult =
    singleFlight {
      val t0 = now()
      val current = if (target.exists) target.read(spark) else emptyLike(source)
      val merged = Merge.full(current, source, cfg.keys, cfg.modifiedCol)
      commit(target, merged, SyncType.Full, t0)
    }

  /** Reference: deltaSync(modifiedSince?) — explicit `modifiedSince`
    * skips the watermark advance (client.js:1816, README.md:174). */
  def deltaSync(source: DataFrame, tombstones: DataFrame, target: TargetTable,
                modifiedSince: Option[Long] = None): SyncResult =
    singleFlight {
      val t0 = now()
      val prev = Watermark.readState(spark, cfg.statePath, cfg.tableName,
        SyncType.Delta)
      val since = modifiedSince.orElse(prev.map(_.lastModified))
        .getOrElse(Watermark.ColdStartMs)
      val seen = Observation()
      val staged = Watermark.modifiedSince(source, since, cfg.modifiedCol)
        .observe(seen, max(col(cfg.modifiedCol)).as("max"))
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
      val res = commit(target, merged, SyncType.Delta, t0)
      if (modifiedSince.isEmpty && !cfg.dryRun) {
        val t1 = now()
        // completed by the write that completed the commit's row count
        val wm = Watermark.advance(observed[Long](seen, "max"),
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
    singleFlight {
      val t0 = now()
      val current = if (target.exists) target.read(spark) else emptyLike(source)
      val afterDelta = Merge.delta(current, source, tombstones, cfg.keys,
        cfg.modifiedCol)
      val missing = Diff.missingMembers(members, afterDelta, cfg.keys)
      val fetched = fetchMissing(missing) // S2 keyed batch fetch
      val merged = Merge.safe(afterDelta, members, fetched, cfg.keys,
        cfg.modifiedCol)
      commit(target, merged, SyncType.SafeDelta, t0)
    }

  // ---- internals ----

  private def singleFlight[A](body: => A): A = {
    if (!running.compareAndSet(false, true))
      throw new IllegalStateException(
        s"sync already running for ${cfg.tableName} (single-flight, T4)")
    try body finally running.set(false)
  }

  /** Run `merged` once, through the target's write (or a count on a dry
    * run), and take the row count from that pass. */
  private def commit(target: TargetTable, merged: DataFrame, syncType: String,
                     t0: Long): SyncResult = {
    val rows = Observation()
    val observedMerged = merged.observe(rows, count(lit(1)).as("rows"))
    val rowsAfter =
      if (cfg.dryRun) observedMerged.count()
      else {
        target.overwrite(observedMerged)
        if (!rows.future.isCompleted) SyncRunner.awaitQueryListeners(spark)
        if (!rows.future.isCompleted)
          throw new IllegalStateException(s"$target: overwrite returned " +
            "without running the merged rows through a Spark action, so the " +
            "sync observed no row count or watermark (TargetTable.overwrite)")
        // no value only when the optimizer pruned the frame as empty
        observed[Long](rows, "rows").getOrElse(0L)
      }
    SyncResult(syncType, rowsAfter, None, now() - t0)
  }

  /** A completed observation's value; None when it is null (no rows) or
    * missing (the optimizer pruned the observed frame as empty). */
  private def observed[A](o: Observation, name: String): Option[A] =
    o.get.get(name).flatMap(v => Option(v.asInstanceOf[A]))

  private def emptyLike(df: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      df.schema)

  private def now(): Long = System.currentTimeMillis()
}

object SyncRunner {

  /** Blocks until the session's query listeners, which complete every
    * `Observation`, have handled each query that ended before this call.
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
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = check(qe)
    }
    spark.listenerManager.register(listener)
    try {
      spark.createDataFrame(java.util.List.of[Row](), new StructType())
        .select(lit(1).as(name)).collect()
      Await.ready(handled.future, 10.minutes)
    } finally spark.listenerManager.unregister(listener)
  }
}

/** T5 — multi-stream orchestration (reference `Sri2DbMulti`,
  * client.js:2094-2145): run N sync jobs with bounded parallelism, each
  * result settled independently as a Try (README.md:231-238 contract).
  * Jobs share one SparkSession; the scheduler interleaves their stages. */
object MultiSync {
  import scala.concurrent._
  import scala.concurrent.duration.Duration

  def run[A](jobs: Seq[() => A], concurrency: Int = 1): Seq[scala.util.Try[A]] = {
    val ec = ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(math.max(1, concurrency)))
    try {
      val futures = jobs.map(j => Future(scala.util.Try(j()))(ec))
      Await.result(Future.sequence(futures)(implicitly, ec), Duration.Inf)
    } finally ec.shutdown()
  }
}
