package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{DedupText, DriverParquet}

/** Streaming decontamination maintenance — the monitoring deployment of
  * the batch identity [[DedupText.contaminationMergedDelta]]
  * (inc_contam_delta): a file stream delivers BENCHMARK batches (new
  * eval suites landing over time); each microbatch anti-joins its
  * shingles against the stored benchmark sketch, probes the corpus
  * with only the genuinely new ones, and folds the hits into the
  * stored per-doc counts. The corpus-side probe against the full
  * benchmark set — the entire cost of a rebuild — never re-runs.
  *
  * State layout under `stateDir`: `benchsh_b<id>` (the distinct
  * benchmark shingle set so far) + `hits_b<id>` (per-doc counts so
  * far) parquet per committed batch and a `LATEST` marker written via
  * atomic move — the [[ProfileMonitor]] replay contract: a committed
  * batch id is a no-op; a replayed benchmark DOC inside a later batch
  * contributes nothing because its shingles are already in the stored
  * sketch (the identity's anti-join IS the row-level dedupe).
  *
  * Scale: per batch the work is one broadcast probe of the corpus by
  * the new-shingle remainder plus a state read/write that is
  * benchmark-sized (shingle set + contaminated-doc counts), never
  * corpus-sized. At the 100 TB operating point the state tables live
  * on the cluster store; the same fold runs unchanged.
  */
object ContamMonitor {

  private def markerPath(stateDir: String) = Paths.get(stateDir, "LATEST")

  /** Last batch id whose state generation was committed. */
  def latestId(stateDir: String): Option[Long] = {
    val p = markerPath(stateDir)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
    else None
  }

  /** The current per-doc contamination counts — (idCol, n_hits). */
  def hits(s: SparkSession, stateDir: String): DataFrame = {
    val id = latestId(stateDir).getOrElse(
      sys.error(s"ContamMonitor: no committed state under $stateDir"))
    s.read.parquet(s"$stateDir/hits_b$id")
  }

  /** One foreachBatch fold: probe the corpus with the batch's
    * genuinely-new shingles, fold the hits into the stored counts,
    * persist the new state generation, commit via atomic marker move. */
  private[graft] def foldBatch(batch: DataFrame, batchId: Long,
                               corpus: DataFrame, idCol: String,
                               text: String, n: Int,
                               stateDir: String): Unit = {
    val s = batch.sparkSession
    val prev = latestId(stateDir)
    if (prev.exists(_ >= batchId)) return // committed replay — no-op
    // The batch's new-shingle frame is derived ONCE and lazy-pinned:
    // the old shape ran benchShingles(batch) twice per batch (once for
    // the state union, once inside the delta's anti-join) and deduped
    // the WHOLE accumulated set again on every write (guide §1.2 — the
    // same rows computed twice). The shingle-state write below is the
    // pin's first consumer (full scan, single reference — the
    // Pin.lazily discipline); the corpus probe then broadcasts the
    // cached blocks. State-set equality: prevSh is distinct by
    // construction (inductively: batch 0 writes a distinct set; each
    // later write unions it with a DISJOINT distinct remainder), so
    // prevSh ∪ newSh needs no re-distinct.
    val (mergedHits, mergedSh) = prev match {
      case None =>
        val sh = graft.ops.Pin.lazily(
          DedupText.benchShingles(batch, text, n))
        (DedupText.contaminationHitsSet(corpus, sh, idCol, text, n), sh)
      case Some(id) =>
        // explicit schemas: both state tables' shapes are fixed (the
        // ProfileMonitor convention), so the per-batch parquet
        // footer/schema-inference job of each bare read is pure overhead;
        // readChecked compares them with the stored footers first
        val shSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.StringType)))
        val hitsSchema = org.apache.spark.sql.types.StructType(Seq(
          corpus.schema(idCol),
          org.apache.spark.sql.types.StructField("n_hits",
            org.apache.spark.sql.types.LongType)))
        val prevSh = DriverParquet.readChecked(s,
          s"$stateDir/benchsh_b$id", shSchema)
        val stored = DriverParquet.readChecked(s,
          s"$stateDir/hits_b$id", hitsSchema)
        // the contaminationMergedDelta identity, inlined so its
        // new-shingle remainder (sh(batch) \ prevSh) is shared with the
        // state write instead of re-derived: same probe, same grouped
        // sum, bit-identical merged counts
        val newSh = graft.ops.Pin.lazily(
          DedupText.benchShingles(batch, text, n)
            .join(prevSh.select("s"), Seq("s"), "left_anti"))
        val merged = stored.select(col(idCol), col("n_hits"))
          .unionByName(
            DedupText.contaminationHitsSet(corpus, newSh, idCol, text, n))
          .groupBy(idCol).agg(sum("n_hits").as("n_hits"))
        (merged, prevSh.unionByName(newSh))
    }
    // state is benchmark-sized: shingle set + contaminated-doc counts.
    // The shingle write runs FIRST — it materializes the lazy pin.
    mergedSh.coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/benchsh_b$batchId")
    mergedHits.coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/hits_b$batchId")
    val tmp = Paths.get(stateDir, s"LATEST.tmp$batchId")
    Files.write(tmp, batchId.toString.getBytes("UTF-8"))
    Files.move(tmp, markerPath(stateDir),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    prev.foreach { id =>
      Seq(s"benchsh_b$id", s"hits_b$id").foreach { d =>
        val p = Paths.get(stateDir, d)
        if (Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(f => Files.deleteIfExists(f))
        }
      }
    }
  }

  /** Drive the fold over a file-stream of benchmark documents until
    * AvailableNow drains; returns the number of microbatches run. */
  def run(s: SparkSession, stream: DataFrame, corpus: DataFrame,
          idCol: String, text: String, n: Int,
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
          foldBatch(b, id, corpus, idCol, text, n, stateDir)
        }
        .start()
      q.awaitTermination()
      Option(q.lastProgress).map(_.batchId + 1L).getOrElse(0L)
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }
}
