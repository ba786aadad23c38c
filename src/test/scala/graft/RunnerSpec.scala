package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.queries.Fixtures
import graft.runner._

/** The reference lifecycle (SURVEY §3) end-to-end on parquet targets:
  * full → delta → safe-delta, watermark persistence, single-flight. */
class RunnerSpec extends SparkSuite {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("runner").toString

  private def sri: DataFrame = Tables.sriEvents(spark, sfDir)
  private val cut = Fixtures.CutMs

  test("fullSync then deltaSync converges to the full dataset") {
    val base = tmpDir()
    val cfg = SyncConfig("t", s"$base/state")
    val runner = new SyncRunner(spark, cfg)
    val target = new ParquetTarget(spark, s"$base/table")

    // full sync over the pre-cut slice
    val r1 = runner.fullSync(sri.where(col("modified_ms") < cut), target)
    assert(r1.rowsAfter === sri.where(col("modified_ms") < cut).count())

    // delta sync over everything (cold-start watermark) minus errors
    val staged = sri.where(col("resourcetype") =!= "error")
    val tombs = sri.where(col("resourcetype") === "error").select("href")
    val r2 = runner.deltaSync(staged, tombs, target)
    assert(r2.watermark.isDefined)
    // final state: all non-error hrefs exactly once
    val got = target.read(spark)
    assert(got.count() === staged.select("href").distinct().count())
    assert(got.where(col("resourcetype") === "error").count() === 0)
  }

  test("deltaSync uses persisted watermark to skip already-synced rows") {
    val base = tmpDir()
    val cfg = SyncConfig("t", s"$base/state")
    val runner = new SyncRunner(spark, cfg)
    val target = new ParquetTarget(spark, s"$base/table")
    val empty = sri.where(lit(false))

    val r1 = runner.deltaSync(sri.where(col("modified_ms") < cut),
      empty.select("href"), target)
    val wm1 = r1.watermark.get
    // wm regressed from max-seen by 1.01×duration, but far above cold start
    assert(wm1 > ops.Watermark.ColdStartMs && wm1 <= cut)

    // second delta: source filtered by wm internally; state advances
    val r2 = runner.deltaSync(sri, empty.select("href"), target)
    assert(r2.watermark.get >= wm1)
    assert(target.read(spark).count() === sri.select("href").distinct().count())
  }

  test("explicit modifiedSince does NOT advance the watermark (README:174)") {
    val base = tmpDir()
    val runner = new SyncRunner(spark, SyncConfig("t", s"$base/state"))
    val target = new ParquetTarget(spark, s"$base/table")
    val r = runner.deltaSync(sri, sri.where(lit(false)).select("href"),
      target, modifiedSince = Some(cut))
    assert(r.watermark.isEmpty)
    assert(ops.Watermark.readState(spark, s"$base/state", "t",
      SyncType.Delta).isEmpty)
    // and only post-cut rows landed
    assert(target.read(spark).count() ===
      sri.where(col("modified_ms") >= cut).count())
  }

  test("safeDeltaSync reconciles membership") {
    val base = tmpDir()
    val runner = new SyncRunner(spark, SyncConfig("t", s"$base/state"))
    val target = new ParquetTarget(spark, s"$base/table")
    // target = everything
    new SyncRunner(spark, SyncConfig("t0", s"$base/state0"))
      .fullSync(sri, target)
    // authoritative membership: only click events
    val members = sri.where(col("resourcetype") === "click").select("href")
    val r = runner.safeDeltaSync(
      source = sri.where(lit(false)),
      tombstones = sri.where(lit(false)).select("href"),
      members = members,
      fetchMissing = missing => sri.join(missing, Seq("href"), "left_semi"),
      target = target)
    assert(r.rowsAfter === members.count())
  }

  test("dryRun computes but does not commit (README:69)") {
    val base = tmpDir()
    val runner = new SyncRunner(spark,
      SyncConfig("t", s"$base/state", dryRun = true))
    val target = new ParquetTarget(spark, s"$base/table")
    val r = runner.fullSync(sri, target)
    assert(r.rowsAfter === sri.count())
    assert(!target.exists)
  }

  test("single-flight rejects concurrent sync (T4)") {
    val base = tmpDir()
    val runner = new SyncRunner(spark, SyncConfig("t", s"$base/state"))
    val target = new ParquetTarget(spark, s"$base/table")
    // the first sync holds the single-flight flag inside its commit until
    // the second attempt has returned, however fast the sync itself is
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val held = new TargetTable {
      override def read(s: org.apache.spark.sql.SparkSession): DataFrame = target.read(s)
      override def exists: Boolean = target.exists
      override def overwrite(df: DataFrame): Unit = {
        entered.countDown(); release.await(); target.overwrite(df)
      }
    }
    val t = new Thread(() => { runner.fullSync(sri, held); () })
    t.start(); entered.await()
    val denied =
      try { runner.fullSync(sri, target); false }
      catch { case _: IllegalStateException => true }
    release.countDown(); t.join()
    assert(denied, "second concurrent sync should have been rejected")
  }

  test("fullSync never reads the target: an existing target whose read " +
      "throws is replaced by the deduped snapshot") {
    val base = tmpDir()
    val parquet = new ParquetTarget(spark, s"$base/table")
    val unreadable = new TargetTable {
      def read(s: org.apache.spark.sql.SparkSession): DataFrame =
        throw new IllegalStateException("no Spark schema in the footer")
      def overwrite(df: DataFrame): Unit = parquet.overwrite(df)
      def exists: Boolean = true
    }
    // every resource twice: the served row and an older, stale copy
    val snapshot = sri.unionByName(sri
      .withColumn("modified_ms", col("modified_ms") - 1)
      .withColumn("jsondata", lit("stale")))
    val r = new SyncRunner(spark, SyncConfig("t", s"$base/state"))
      .fullSync(snapshot, unreadable)
    val want = ops.Dedup.keepLatest(sri).collect().map(_.toString).sorted
    assert(r.rowsAfter === want.length)
    assert(parquet.read(spark).collect().map(_.toString).sorted === want)
  }

  // ---- one-pass deltaSync: the write carries the watermark and row count

  private val day = 86400000L
  private val t0 = 1704067200000L // 2024-01-01

  /** Resources `(key, modifiedMs, deleted)` as SRI list pages of 100 in
    * `dir` (replacing what is there). */
  private def writePages(dir: String, res: Seq[(Int, Long, Boolean)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    scala.util.Using.resource(Files.list(Paths.get(dir)))(
      _.iterator().asScala.foreach(Files.delete))
    res.grouped(100).zipWithIndex.foreach { case (page, i) =>
      val results = page.map { case (k, ms, deleted) =>
        val del = if (deleted) ""","deleted":true""" else ""
        s"""{"href":"/things/$k","$$$$expanded":{"$$$$meta":""" +
          s"""{"permalink":"/things/$k","type":"THING",""" +
          s""""modified":"${java.time.Instant.ofEpochMilli(ms)}"$del},""" +
          s""""key":"$k","v":$ms}}"""
      }
      Files.writeString(Paths.get(f"$dir/page$i%03d.json"),
        results.mkString("""{"results":[""", ",", "]}"))
    }
  }

  /** A page directory, target and state after a cold-start and one steady
    * deltaSync through `Main.run`, and the next steady change set (10
    * updates, 2 tombstones, 3 inserts over 400 resources) on the pages. */
  private def steadyPages(): Map[String, String] = {
    val base = tmpDir()
    val opts = Map("pages" -> s"$base/pages", "target" -> s"$base/table",
      "state" -> s"$base/state", "table" -> "things")
    var res = (1 to 400).map(k => (k, t0 + k * 1000L, false))
    def change(round: Int): Unit = {
      val at = t0 + round * day
      res = res.map {
        case (k, _, _) if k == 100 + round || k == 200 + round => (k, at, true)
        case (k, _, _) if k % 40 == round => (k, at, false)
        case r => r
      } ++ (1 to 3).map(i => (1000 * round + i, at, false))
      writePages(opts("pages"), res)
    }
    writePages(opts("pages"), res)
    Main.run(spark, opts)
    change(1); Main.run(spark, opts)
    change(2)
    opts
  }

  /** Runs `body` with `onEnd` on the session's query listeners until
    * they have handled every query that ended inside `body`. */
  private def withQueryListener[A](onEnd: QueryExecution => Unit)(body: => A): A = {
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = onEnd(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = onEnd(qe)
    }
    spark.listenerManager.register(l)
    try { val out = body; SyncRunner.awaitQueryListeners(spark); out }
    finally spark.listenerManager.unregister(l)
  }

  /** Directories a query reads through file relations. */
  private def readsPaths(qe: QueryExecution): Seq[String] =
    qe.analyzed.collect { case l: LogicalRelation => l.relation }.flatMap {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
      case _ => Nil
    }

  test("a steady deltaSync runs 3 Spark jobs and never re-reads the target " +
    "after its write") {
    val opts = steadyPages()
    val table = new java.io.File(opts("target")).getCanonicalPath
    val queries = new ConcurrentLinkedQueue[QueryExecution]()
    val (jobs, r) = jobsOf(withQueryListener(queries.add(_))(Main.run(spark, opts)))
    // the broadcast of the excluded keys (tombstone and staged keys, raw),
    // the staged-side dedup shuffle, and the target write; the state and
    // the target's schema are read and written on the driver
    assert(jobs === 3, s"jobs of one steady deltaSync")
    val qs = queries.asScala.toSeq
    // the write is the query that ran the merged rows: it carries the
    // sync's observed row count
    val write = qs.indexWhere(_.logical.collectFirst {
      case c: CollectMetrics if c.name.startsWith("sync_") && c.name.endsWith("_rows") => c
    }.isDefined)
    assert(write >= 0, qs.map(_.analyzed.nodeName))
    // the state is written on the driver: no query reads the target after
    val after = qs.drop(write + 1)
    assert(after.forall(q => !readsPaths(q).contains(table)),
      after.map(readsPaths))
    assert(r.rowsAfter === spark.read.parquet(opts("target")).count())
  }

  test("ParquetTarget.read, readState and writeState start no Spark job") {
    val opts = steadyPages()
    val target = new ParquetTarget(spark, opts("target"))
    val (readJobs, df) = jobsOf(target.read(spark))
    assert(readJobs === 0, "jobs of ParquetTarget.read")
    assert(df.schema === spark.read.parquet(opts("target")).schema)
    val (stateJobs, st) = jobsOf {
      val st = ops.Watermark.readState(spark, opts("state"), "things",
        SyncType.Delta).get
      ops.Watermark.writeState(spark, opts("state"), "things", SyncType.Delta,
        SyncState(st.lastModified + 1, st.syncStart))
      st
    }
    assert(stateJobs === 0, "jobs of readState and writeState")
    assert(ops.Watermark.readState(spark, opts("state"), "things",
      SyncType.Delta).contains(SyncState(st.lastModified + 1, st.syncStart)))
    // Spark reads the driver-written state as StateSchema
    assert(spark.read.parquet(opts("state")).schema ===
      ops.Watermark.StateSchema)
  }

  test("ParquetTarget.read fails naming the path when there is no data file " +
    "or no Spark schema in its footer") {
    val base = tmpDir()
    val empty = new java.io.File(s"$base/empty"); empty.mkdirs()
    val e1 = intercept[IllegalStateException](
      new ParquetTarget(spark, empty.getPath).read(spark))
    assert(e1.getMessage.contains(empty.getPath), e1.getMessage)
    // a Parquet file another writer made, with no Spark schema
    val foreign = s"$base/foreign"
    val msg = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 id; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$foreign/part-0.parquet"))
      .withType(msg).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      .append("id", 1L))
    finally w.close()
    val e2 = intercept[IllegalStateException](
      new ParquetTarget(spark, foreign).read(spark))
    assert(e2.getMessage.contains(foreign), e2.getMessage)
  }

  test("after a sync, a query that fails analysis logs no listener error") {
    steadyPages()
    val errors = new ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "sync-listener-errors", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.ERROR)
          errors.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    root.addAppender(capture)
    try {
      intercept[org.apache.spark.sql.AnalysisException](
        spark.sql("select no_such_column from range(1)").collect())
      // the listeners have handled the failed query once they handle this
      SyncRunner.awaitQueryListeners(spark)
    } finally { root.removeAppender(capture); capture.stop() }
    assert(!errors.asScala.exists(_.contains("ExecutionListenerBus")), errors)
  }

  test("rowsAfter and the watermark come from the committed pass") {
    val opts = steadyPages()
    val prev = ops.Watermark.readState(spark, opts("state"), "things",
      SyncType.Delta).get
    val runner = new SyncRunner(spark, SyncConfig("things", opts("state")))
    val target = new ParquetTarget(spark, opts("target"))
    val src = spark.read.format("sri").option("pages", opts("pages")).load()
    val staged = src.where(col("resourcetype") =!= "deleted")
    val tombs = src.where(col("resourcetype") === "deleted")
      .select("href", "modified_ms")
    val stagedMax = ops.Watermark.candidate(
      staged.where(col("modified_ms") >= prev.lastModified)).head().getLong(0)
    val r = runner.deltaSync(staged, tombs, target)
    val tEnd = System.currentTimeMillis()
    assert(r.rowsAfter === target.read(spark).count())
    assert(r.rowsAfter === 400 + 2 * 3 - 2 * 2)
    // the state holds this sync's start; its end lies within the call
    val st = ops.Watermark.readState(spark, opts("state"), "things",
      SyncType.Delta).get
    assert(st.lastModified === r.watermark.get)
    assert((st.syncStart + r.elapsedMs to tEnd).exists(t1 =>
      ops.Watermark.advance(Some(stagedMax), prev.lastModified,
        Some(prev.syncStart), st.syncStart, t1) == st.lastModified),
      s"watermark ${st.lastModified} is not advance(staged max $stagedMax)")

    // nothing staged: the watermark stays where it was
    val none = runner.deltaSync(staged.where(lit(false)),
      tombs.where(lit(false)), target)
    assert(none.watermark.contains(st.lastModified))
    assert(none.rowsAfter === r.rowsAfter)
    // every staged row older than the watermark: likewise
    val old = runner.deltaSync(staged.where(col("modified_ms") < t0 + day),
      tombs, target)
    assert(old.watermark.contains(st.lastModified))
    assert(old.rowsAfter === r.rowsAfter)
    // an empty snapshot empties the target: 0 rows, counted on the write
    assert(runner.fullSync(staged.where(lit(false)), target).rowsAfter === 0)
    assert(target.read(spark).count() === 0)
  }

  test("a deltaSync dryRun reports the rows of a real run and writes nothing") {
    val opts = steadyPages()
    def state() = ops.Watermark.readState(spark, opts("state"), "things",
      SyncType.Delta)
    val before = state()
    val dry = Main.run(spark, opts + ("dry-run" -> "true"))
    assert(dry.watermark.isEmpty && state() === before)
    assert(spark.read.parquet(opts("target")).count() === 400 + 3 - 2)
    val real = Main.run(spark, opts)
    assert(dry.rowsAfter === real.rowsAfter)
    assert(real.rowsAfter === 400 + 2 * 3 - 2 * 2)
  }

  test("a target whose overwrite never runs the frame fails the sync, " +
    "naming the target") {
    val base = tmpDir()
    val lazyTarget = new TargetTable {
      override def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
        spark.read.parquet(s"$base/none")
      override def overwrite(df: DataFrame): Unit = { df.schema; () }
      override def exists: Boolean = false
      override def toString: String = "LazyTarget(never-runs)"
    }
    val runner = new SyncRunner(spark, SyncConfig("t", s"$base/state"))
    Seq[() => SyncResult](
      () => runner.fullSync(sri, lazyTarget),
      () => runner.deltaSync(sri, sri.where(lit(false)).select("href"),
        lazyTarget)).foreach { sync =>
      // bounded here so a regression fails instead of hanging the suite
      val e = intercept[IllegalStateException](
        Await.result(Future(sync())(scala.concurrent.ExecutionContext.global),
          2.minutes))
      assert(e.getMessage.contains("LazyTarget(never-runs)"), e.getMessage)
    }
    // nothing committed, the state included
    assert(ops.Watermark.readState(spark, s"$base/state", "t",
      SyncType.Delta).isEmpty)
  }
}
