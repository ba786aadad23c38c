package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.runner.{SyncConfig, SyncResult, SyncRunner, TargetTable}

/** The repository benchmark: one workload per process on local[4].
  *
  *   perfbench.Bench --workload sync_large|push_small|ops_sf001
  *     --seed N --seconds S --trace 0|1 --work DIR --data DIR --golden FILE
  *
  * Prints progress on stderr and, as the last stdout line, one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1` (which also
  * writes the span file `DIR/../traces/<workload>-<seed>.jsonl`). */
object Bench {

  final case class Metric(name: String, value: Double, unit: String)

  /** What one run reports: operations attempted and failed (failed syncs,
    * listener sync failures, failed queries and failed output checks). */
  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val metrics = ArrayBuffer[Metric]()
    def metric(name: String, value: Double, unit: String): Unit =
      metrics += Metric(name, value, unit)
    def check(what: String, mismatches: Long): Unit = {
      attempted += 1
      if (mismatches != 0) {
        failed += 1
        info(s"CHECK FAILED: $what ($mismatches mismatches)")
      } else info(s"check ok: $what")
    }
  }

  final case class Ctx(spark: SparkSession, workload: String, seed: Long,
                       seconds: Double, trace: Boolean, work: File,
                       golden: File, data: File, jvmStartMs: Long) {
    val probe = new Probe(spark)
    val tracer = new Tracer(trace)
    def setupS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    def dir(name: String): String = new File(work, name).getAbsolutePath
  }

  private val t0 = System.nanoTime()
  def info(s: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a.getOrElse("workload", sys.error("--workload required"))
    require(Workloads.contains(workload), s"unknown workload $workload")
    // every run starts from an empty work directory (no earlier target,
    // state or spool can leak into it)
    val work = new File(a.getOrElse("work", sys.error("--work required")))
    rmrf(work.toPath)
    work.mkdirs()
    val spark = session(work)
    val out = try {
      val ctx = Ctx(spark, workload, a.getOrElse("seed", "1").toLong,
        a.getOrElse("seconds", "10").toDouble, a.get("trace").contains("1"),
        work, new File(a.getOrElse("golden", "perfbench/ops_golden.tsv")),
        new File(a.getOrElse("data", new File(work, "data").getPath)), jvmStartMs)
      val o = workload match {
        case "sync_large" => SyncWorkloads.syncLarge(ctx)
        case "push_small" => SyncWorkloads.pushSmall(ctx)
        case "ops_sf001" => OpsWorkload.run(ctx, a.get("write-golden").contains("1"))
      }
      ctx.probe.close()
      json(o, ctx.trace)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1) // no result line: the run failed
    }
    spark.stop()
    println(out)
    sys.exit(0) // do not wait on threads a failed component left behind
  }

  val Workloads = Seq("sync_large", "push_small", "ops_sf001")

  /** The session shape of `graft.Main`: local[4], one shuffle partition
    * per core, UTC; scratch space kept inside the work directory. */
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The end-to-end metrics every run reports with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "primary_s" -> "s", "secondary_s" -> "s")

  /** Layers whose self time a traced run reports. */
  val TracedLayers = Seq("runner", "queries", "streaming", "spark.action",
    "spark.job", "source")

  /** The per-layer metrics every run reports with `--trace 1`; a layer a
    * workload does not cross reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "source.gets" -> "count", "source.full_gets" -> "count",
    "source.mb_served" -> "MB", "source.passes" -> "ratio",
    "source.walk_s" -> "s", "source.scan_s" -> "s",
    "runner.write_mb" -> "MB", "runner.write_amp" -> "ratio",
    "runner.overwrite_s" -> "s", "runner.read_s" -> "s",
    "ops.watermark_collect_s" -> "s", "ops.merge_shuffle_mb" -> "MB",
    "ops.recount_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.plan_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.full_sync.jobs" -> "count", "spark.full_sync.task_s" -> "s",
    "streaming.pickup_s" -> "s", "streaming.events_per_sync" -> "ratio",
    "streaming.sync_failures" -> "count", "streaming.reconnects" -> "count") ++
    OpsWorkload.Queries.flatMap(q => Seq(s"queries.${q}_s" -> "s",
      s"queries.$q.jobs" -> "count", s"queries.$q.task_s" -> "s",
      s"queries.$q.shuffle_mb" -> "MB")) ++
    Seq("trace.overhead_s" -> "s") ++
    TracedLayers.map(l => s"self.$l" -> "s")

  def json(o: Outcome, trace: Boolean): String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val got = o.metrics.map(m => m.name -> m).toMap
    val extra = got.keySet -- (EndToEnd ++ PerLayer).map(_._1)
    require(extra.isEmpty, s"metrics not declared: $extra")
    val ms = (if (trace) PerLayer else EndToEnd).map { case (name, unit) =>
      val v = got.get(name).map(_.value).getOrElse {
        require(trace, s"end-to-end metric $name not measured"); 0.0 }
      s""""$name": {"value": ${num(v)}, "unit": "$unit"}"""
    }
    s"""{"correct": ${o.failed == 0 && o.attempted > 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  // ---- shared helpers ----

  /** Target rows `(href, modified_ms, payload version)` that differ from
    * the expected live set, counted both ways. */
  def targetMismatches(spark: SparkSession, path: String,
                       expected: Map[String, (Long, Int)]): Long = {
    val got = spark.read.parquet(path)
      .select(col("href"), col("modified_ms"),
        get_json_object(col("jsondata"), "$.version").cast("int"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    val extra = got.count { case (k, v) => !expected.get(k).contains(v) }
    val missing = expected.count { case (k, _) => !got.contains(k) }
    extra.toLong + missing
  }

  /** Bytes of the files under `dirs` modified at or after `sinceMs`. */
  def bytesWrittenSince(dirs: Seq[String], sinceMs: Long): Long =
    dirs.map(Paths.get(_)).filter(Files.exists(_)).map { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs)
        .map(Files.size).sum
      finally s.close()
    }.sum

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Write `body` as one spool event file (temp name, then atomic rename). */
  def spool(dir: Path, name: String, body: String): Unit = {
    val tmp = dir.resolve("." + name)
    Files.writeString(tmp, body)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A TargetTable that times each call and records it as a span. */
  final class TimedTarget(inner: TargetTable, tracer: Tracer) extends TargetTable {
    val overwriteS = ArrayBuffer[Double]()
    val readS = ArrayBuffer[Double]()
    private def timed[A](name: String, into: ArrayBuffer[Double])(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        into.synchronized(into += (t1 - t0) / 1e9)
        tracer.add(Tracer.Target, "runner", s"TargetTable.$name", t0, t1)
      }
    }
    override def read(spark: SparkSession): DataFrame = timed("read", readS)(inner.read(spark))
    override def overwrite(df: DataFrame): Unit = timed("overwrite", overwriteS)(inner.overwrite(df))
    override def exists: Boolean = inner.exists
  }

  /** `graft.Main.run`'s deltaSync wiring with an injectable target: the
    * traced rounds pass a [[TimedTarget]] through it. */
  def deltaSyncWith(spark: SparkSession, opts: Map[String, String],
                    target: TargetTable): SyncResult = {
    val runner = new SyncRunner(spark, SyncConfig(
      tableName = opts.getOrElse("table", "sri2db"), statePath = opts("state")))
    val src = spark.read.format("sri").option("pages", opts("pages")).load()
    val staged = src.where(col("resourcetype") =!= "deleted" ||
      col("resourcetype").isNull)
    val tombs = src.where(col("resourcetype") === "deleted").select("href")
    runner.deltaSync(staged, tombs, target)
  }

  /** Add Spark job and action spans from a probe window to the tracer. */
  def traceSpark(ctx: Ctx, w: SparkWindow): Unit = if (ctx.trace) {
    w.actions.foreach(a => ctx.tracer.addMs(Tracer.Action, "spark.action",
      a.description, a.startMs, a.endMs))
    w.jobSpans.foreach { case (id, s, e) =>
      ctx.tracer.addMs(Tracer.Leaf, "spark.job", s"job $id", s, e) }
  }

  /** Spark per-layer metrics (`spark.*`): the median over windows, each
    * divided by the number of syncs it holds (`per`). */
  def sparkMetrics(o: Outcome, ws: Seq[SparkWindow], per: Double = 1): Unit = {
    def med(f: SparkWindow => Double): Double =
      if (ws.isEmpty) 0.0 else Stats.median(ws.map(f(_) / per))
    o.metric("spark.jobs", med(_.jobs.toDouble), "count")
    o.metric("spark.stages", med(_.stages.toDouble), "count")
    o.metric("spark.tasks", med(_.tasks.toDouble), "count")
    o.metric("spark.task_s", med(_.taskS), "s")
    o.metric("spark.gc_s", med(_.gcS), "s")
    o.metric("spark.shuffle_write_mb", med(_.shuffleWriteMb), "MB")
    o.metric("spark.spill_mb", med(_.spillMb), "MB")
    o.metric("spark.plan_s", med(_.planS), "s")
    o.metric("spark.driver_gap_s", med(_.driverGapS), "s")
  }

  /** Self time per layer and the span file, at the end of a traced run. */
  def finishTrace(ctx: Ctx, o: Outcome): Unit = {
    val rs = ctx.tracer.resolved
    val file = new File(ctx.work.getParentFile.getParentFile, "traces/" +
      s"${ctx.workload}-${ctx.seed}.jsonl")
    ctx.tracer.write(file, rs)
    info(s"wrote ${rs.size} spans to $file")
    val self = ctx.tracer.selfSeconds(rs)
    TracedLayers.foreach(l => o.metric(s"self.$l", self.getOrElse(l, 0.0), "s"))
  }
}
