package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{DriverParquet, TimeSeries}

/** Streaming matrix-profile maintenance — the monitoring deployment of
  * the batch append identity [[TimeSeries.matrixProfileMergedDelta]]
  * (the 22nd inc_* row): a file stream delivers calendar-suffix
  * batches; each microbatch re-scores ONLY the pair block touching its
  * new windows and folds the result into the stored profile, which is
  * persisted (with the series it covers) between batches and across
  * restarts.
  *
  * State layout under `stateDir`: `series_b<id>` + `profile_b<id>`
  * parquet per committed batch and a `LATEST` marker file written via
  * atomic move — the foreachBatch replay contract: Structured
  * Streaming re-runs the last batch after a restart whose sink commit
  * didn't land, so [[foldBatch]] is idempotent (an already-committed
  * batch id is a no-op; a partially-written state generation is simply
  * overwritten because the marker still points at the previous one,
  * and the anti-join makes replayed rows contribute nothing new).
  *
  * Scale: per batch the work is the delta pair block (old×new ∪
  * new×new over calendar-bounded per-key series — the
  * matrixProfileMergedDelta contract) plus a state read/write that is
  * profile-sized, never corpus-sized. At the 100 TB operating point
  * the state tables live on the cluster store (this class only needs
  * the paths to be Spark-readable/writable) and the same fold runs
  * unchanged.
  */
object ProfileMonitor {

  private def markerPath(stateDir: String) = Paths.get(stateDir, "LATEST")

  /** Last batch id whose state generation was committed (marker moved). */
  def latestId(stateDir: String): Option[Long] = {
    val p = markerPath(stateDir)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
    else None
  }

  /** The current profile state — (keys..., i, mp_d2, mp_j). Empty-schema
    * error if no batch has committed yet; callers drive a stream first. */
  def profile(s: SparkSession, stateDir: String): DataFrame = {
    val id = latestId(stateDir).getOrElse(
      sys.error(s"ProfileMonitor: no committed state under $stateDir"))
    s.read.parquet(s"$stateDir/profile_b$id")
  }

  /** One foreachBatch fold: dedupe the arriving rows against the stored
    * series (at-least-once replay safety), merge them into the profile
    * via the delta-only pair block, persist the new state generation,
    * then commit it by atomically moving the LATEST marker. */
  private[graft] def foldBatch(batch: DataFrame, batchId: Long,
                               keys: Seq[String], orderCol: String,
                               xCol: String, w: Int, maxSeries: Int,
                               stateDir: String): Unit = {
    val s = batch.sparkSession
    val prev = latestId(stateDir)
    if (prev.exists(_ >= batchId)) return // committed replay — no-op
    val cols = (keys :+ orderCol :+ xCol).map(col)
    val rows = batch.select(cols: _*)
    // Derive the (prev ∪ fresh) series frame ONCE and lazy-pin it: the
    // old shape re-read the prev-series parquet and re-ran the
    // replay-dedup anti-join in BOTH the profile plan and the series
    // write (guide §1.2 — the same rows computed twice per batch). The
    // series write below is the pin's first consumer: it full-scans the
    // frame and references it exactly once (the Pin.lazily discipline),
    // so materialization rides that write job and the profile plan then
    // reads the cached blocks.
    val (merged, fullSeries) = prev match {
      case None =>
        val pinned = graft.ops.Pin.lazily(rows)
        (TimeSeries.matrixProfile(pinned, keys, col(orderCol), xCol, w,
          maxSeries), pinned)
      case Some(id) =>
        // explicit schemas: the state tables' shapes are fully
        // determined by the batch schema, so the per-batch parquet
        // footer/schema-inference job of each bare s.read.parquet is
        // pure overhead (guide §1.2 — two 1-task jobs per batch gone);
        // readChecked compares them with the stored footers first
        val seriesSchema = rows.schema
        val profileSchema = org.apache.spark.sql.types.StructType(
          keys.map(kc => seriesSchema(kc)) ++ Seq(
            org.apache.spark.sql.types.StructField("i",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("mp_d2",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("mp_j",
              org.apache.spark.sql.types.LongType)))
        val prevSeries = DriverParquet.readChecked(s,
          s"$stateDir/series_b$id", seriesSchema)
        // replayed rows (same key + order position) are not new
        val fresh = rows.join(prevSeries, keys :+ orderCol, "left_anti")
        val full = graft.ops.Pin.lazily(
          prevSeries.withColumn("__arrived", lit(false))
            .unionByName(fresh.withColumn("__arrived", lit(true))))
        (TimeSeries.matrixProfileMergedDelta(full, keys, col(orderCol),
          xCol, w, col("__arrived"),
          DriverParquet.readChecked(s, s"$stateDir/profile_b$id",
            profileSchema),
          maxSeries),
          full.drop("__arrived"))
    }
    // state is profile-sized (calendar-bounded series × keys): one file.
    // The series write runs FIRST — it materializes the lazy pin.
    fullSeries.coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/series_b$batchId")
    merged.coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/profile_b$batchId")
    val tmp = Paths.get(stateDir, s"LATEST.tmp$batchId")
    Files.write(tmp, batchId.toString.getBytes("UTF-8"))
    Files.move(tmp, markerPath(stateDir),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // previous generations are dead once the marker moved (best-effort)
    prev.foreach { id =>
      Seq(s"series_b$id", s"profile_b$id").foreach { d =>
        val p = Paths.get(stateDir, d)
        if (Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(f => Files.deleteIfExists(f))
        }
      }
    }
  }

  /** Drive the fold over a file-stream of series rows until AvailableNow
    * drains; returns the number of microbatches run. The state-store
    * partition convention mirrors StreamDrains.drainCounted (state
    * volume, not core count, sizes streaming shuffles). */
  def run(s: SparkSession, stream: DataFrame, keys: Seq[String],
          orderCol: String, xCol: String, w: Int, maxSeries: Int,
          stateDir: String, ckptDir: String): Long = {
    Files.createDirectories(Paths.get(stateDir))
    val stateParts = s.conf.getOption("graft.stream.statePartitions")
      .getOrElse("8")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", stateParts)
    try {
      val q = stream.writeStream
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          foldBatch(b, id, keys, orderCol, xCol, w, maxSeries, stateDir)
        }
        .start()
      q.awaitTermination()
      Option(q.lastProgress).map(_.batchId + 1L).getOrElse(0L)
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }
}
