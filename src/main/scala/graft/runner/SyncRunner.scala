package graft.runner

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
    * state). Implementations must be all-or-nothing (T6). */
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
  *    the request URL (only that bound reaches the URL).
  *  - T4 single-flight: a sync rejects immediately if another is running
  *    on this runner (reference: client.js:1628-1631).
  *  - T6 atomicity: target overwrite is atomic; the watermark is written
  *    only after the target commit, so a crash between the two re-syncs an
  *    overlap (at-least-once) that A1 dedup + key merge make idempotent.
  *  - dryRun: plan + compute, skip both commits (reference README.md:69).
  */
final class SyncRunner(spark: SparkSession, cfg: SyncConfig) {

  private val running = new AtomicBoolean(false)

  /** Reference: fullSync = sync(null) (client.js:1923-1941). */
  def fullSync(source: DataFrame, target: TargetTable): SyncResult =
    singleFlight {
      val t0 = now()
      val current = if (target.exists) target.read(spark) else emptyLike(source)
      val merged = Merge.full(current, source, cfg.keys, cfg.modifiedCol)
      commit(target, merged, SyncType.Full, source, t0)
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
      val staged = Watermark.modifiedSince(source, since, cfg.modifiedCol)
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
      val seen = Watermark.candidate(staged, cfg.modifiedCol)
        .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      val res = commit(target, merged, SyncType.Delta, source, t0)
      if (modifiedSince.isEmpty && !cfg.dryRun) {
        val t1 = now()
        val wm = Watermark.advance(seen, prev.map(_.lastModified)
          .getOrElse(Watermark.ColdStartMs), prev.map(_.syncStart), t0, t1)
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
      commit(target, merged, SyncType.SafeDelta, source, t0)
    }

  // ---- internals ----

  private def singleFlight[A](body: => A): A = {
    if (!running.compareAndSet(false, true))
      throw new IllegalStateException(
        s"sync already running for ${cfg.tableName} (single-flight, T4)")
    try body finally running.set(false)
  }

  private def commit(target: TargetTable, merged: DataFrame, syncType: String,
                     schemaLike: DataFrame, t0: Long): SyncResult = {
    val result =
      if (cfg.dryRun) merged.count()
      else { target.overwrite(merged); target.read(spark).count() }
    SyncResult(syncType, result, None, now() - t0)
  }

  private def emptyLike(df: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      df.schema)

  private def now(): Long = System.currentTimeMillis()
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
