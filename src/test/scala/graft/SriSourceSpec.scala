package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.functions._
import graft.source.{LocalDirPageStore, PageStore, SriScan, SriScanBuilder, SriSource}

/** DataSource V2 SRI scan: envelope normalization, one-partition-per-page
  * parallelism, filter + column pushdown. */
class SriSourceSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def writePages(): String = {
    val dir = Files.createTempDirectory("sripages").toString
    // page 0: expanded envelope (the standard list response)
    Files.writeString(Paths.get(s"$dir/page0.json"),
      """{"$$meta": {"next": "/a?offset=2"}, "results": [
        |  {"href": "/a/1", "$$expanded": {"key": "1",
        |    "$$meta": {"permalink": "/a/1", "type": "A",
        |               "modified": "2024-01-10T00:00:00.000Z"}, "v": 1}},
        |  {"href": "/a/2", "$$expanded": {"key": "2",
        |    "$$meta": {"permalink": "/a/2", "type": "A",
        |               "modified": "2024-01-22T00:00:00.000Z"}, "v": 2}}
        |]}""".stripMargin)
    // page 1: href-only entries (expand=NONE)
    Files.writeString(Paths.get(s"$dir/page1.json"),
      """{"$$meta": {}, "results": [{"href": "/a/3"}, {"href": "/a/4"}]}""")
    // page 2: plain array of resources, one tombstone
    Files.writeString(Paths.get(s"$dir/page2.json"),
      """[{"key": "5", "$$meta": {"permalink": "/a/5", "type": "A",
        |   "modified": "2024-01-25T00:00:00.000Z", "deleted": true}}]"""
        .stripMargin)
    dir
  }

  /** The fixture plus an undated tombstone (no `$$meta.modified`). */
  private def writePagesUndatedTomb(): String = {
    val dir = writePages()
    Files.writeString(Paths.get(s"$dir/page3.json"),
      """[{"key": "6", "$$meta": {"permalink": "/a/6", "type": "A",
        |   "deleted": true}}]""".stripMargin)
    dir
  }

  private val jan21 = 1705795200000L

  private def tombHrefs(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.where(col("resourcetype") === "deleted").select("href").collect()
      .map(_.getString(0)).sorted.toSeq

  /** The scan node's description (pushed bound, undated-row handling). */
  private def scanOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString

  private def postScanFilters(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.sql
    }.mkString(" ; ")

  test("tombstone fence alone is pushed and keeps the undated tombstone") {
    val src = spark.read.format("sri").option("pages", writePagesUndatedTomb())
      .load()
    val fenced = src.where(col("modified_ms") >= jan21 ||
      col("modified_ms").isNull)
    assert(tombHrefs(fenced) === Seq("/a/5", "/a/6"))
    assert(scanOf(fenced).contains(s"minModified=Some($jan21)"))
    assert(scanOf(fenced).contains("keepUndated=true"))
    assert(!postScanFilters(fenced).contains("modified_ms"))
  }

  test("tombstone fence in either operand order is pushed") {
    val src = spark.read.format("sri").option("pages", writePagesUndatedTomb())
      .load()
    val flipped = src.where(col("modified_ms").isNull ||
      col("modified_ms") > jan21 - 1)
    assert(tombHrefs(flipped) === Seq("/a/5", "/a/6"))
    assert(scanOf(flipped).contains(s"minModified=Some($jan21)"))
    assert(!postScanFilters(flipped).contains("modified_ms"))
  }

  test("tombstone fence conjoined with a plain bound drops undated rows; " +
    "the tighter bound wins") {
    val src = spark.read.format("sri").option("pages", writePagesUndatedTomb())
      .load()
    val both = src.where(col("modified_ms") >= jan21 ||
        col("modified_ms").isNull)
      .where(col("modified_ms") >= 1704067200000L) // 2024-01-01, looser
    assert(tombHrefs(both) === Seq("/a/5"))
    assert(scanOf(both).contains(s"minModified=Some($jan21)"))
    assert(scanOf(both).contains("keepUndated=false"))
    // the plain bound tighter than the fence
    val tighter = src.where(col("modified_ms") >= 1704067200000L ||
        col("modified_ms").isNull)
      .where(col("modified_ms") >= jan21)
    assert(tighter.select("href").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("/a/2", "/a/5"))
  }

  test("unsupported OR shapes stay post-scan") {
    val src = spark.read.format("sri").option("pages", writePagesUndatedTomb())
      .load()
    val otherCol = src.where(col("modified_ms") >= jan21 ||
      col("jsondata").isNull)
    val otherOp = src.where(col("modified_ms") >= jan21 ||
      col("resourcetype") === "deleted")
    Seq(otherCol, otherOp).foreach { df =>
      assert(scanOf(df).contains("minModified=None"))
      assert(postScanFilters(df).contains("modified_ms"))
    }
    // /a/3, /a/4 (href-only) have null jsondata; /a/6 is undated but
    // deleted: each shape keeps exactly what its predicate says
    assert(otherCol.select("href").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("/a/2", "/a/3", "/a/4", "/a/5"))
    assert(otherOp.select("href").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("/a/2", "/a/5", "/a/6"))
  }

  test("reads all three envelope shapes; one partition per page") {
    val df = spark.read.format("sri").option("pages", writePages()).load()
    assert(df.rdd.getNumPartitions === 3)
    val rows = df.orderBy("href").collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("/a/1", "/a/2", "/a/3", "/a/4", "/a/5"))
    // href-only rows: key derived, no jsondata
    val r3 = rows.find(_.getString(0) == "/a/3").get
    assert(r3.getString(1) === "3" && r3.isNullAt(3))
    // tombstone: resourcetype = deleted
    assert(rows.find(_.getString(0) == "/a/5").get.getString(4) === "deleted")
  }

  test("modifiedSince watermark filter is pushed and applied") {
    val df = spark.read.format("sri").option("pages", writePages()).load()
      .where(col("modified_ms") >= 1705795200000L) // 2024-01-21
    // only /a/2 (Jan 22) and /a/5 (Jan 25) qualify; href-only rows have
    // null modified and are correctly excluded by the watermark pass
    assert(df.select("href").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("/a/2", "/a/5"))
    // pushdown proof: the only post-scan filter left is isnotnull — the
    // >= comparison was consumed by the source
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains(">= 1705795200000"))
    assert(df.queryExecution.executedPlan.collectLeaves().head.toString
      .contains("SriScan") || plan.contains("BatchScan"))
  }

  test("conjoined modified_ms bounds push the tightest (max), not last-wins") {
    val df = spark.read.format("sri").option("pages", writePages()).load()
      .where(col("modified_ms") >= 1705795200000L)  // 2024-01-21
      .where(col("modified_ms") >= 1704067200000L)  // 2024-01-01, looser
    // both accepted by the source; the looser bound must not widen results
    assert(df.select("href").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("/a/2", "/a/5"))
  }

  test("tombstone-pass filter is pushed") {
    val df = spark.read.format("sri").option("pages", writePages()).load()
      .where(col("resourcetype") === "deleted")
    assert(df.select("href").collect().map(_.getString(0)).toSeq === Seq("/a/5"))
  }

  test("column pruning reaches the reader (expand=NONE analog)") {
    val df = spark.read.format("sri").option("pages", writePages()).load()
      .select("href")
    assert(df.schema.fieldNames.toSeq === Seq("href"))
    assert(df.count() === 5)
  }

  test("source feeds the delta merge end-to-end") {
    val src = spark.read.format("sri").option("pages", writePages()).load()
    val staged = src.where(col("resourcetype") =!= "deleted" &&
      col("jsondata").isNotNull)
    val tombs = src.where(col("resourcetype") === "deleted").select("href")
    val merged = ops.Merge.delta(
      staged.limit(0), staged, tombs)
    assert(merged.select("href").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("/a/1", "/a/2"))
  }

  private def pageBytes(dir: String): Long =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
      .map(_.length).sum

  test("a page directory scan reports the bytes of its page files") {
    val dir = writePages()
    val scan = new SriScanBuilder(dir).build()
      .asInstanceOf[SupportsReportStatistics]
    assert(scan.estimateStatistics().sizeInBytes().getAsLong === pageBytes(dir))
    // the size reaches the optimizer's statistics of a full-width read
    val df = spark.read.format("sri").option("pages", dir).load()
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes === pageBytes(dir))
  }

  test("a store that cannot tell its size reports no size") {
    val dir = writePages()
    val unsized = new PageStore {
      private val files = new LocalDirPageStore(dir)
      override def listPages(): Seq[String] = files.listPages()
      override def fetch(page: String): String = files.fetch(page)
    }
    val scan = new SriScan(unsized, SriSource.schema, None, false, false)
    assert(!scan.estimateStatistics().sizeInBytes().isPresent)
    assert(scan.planInputPartitions().length === 3)
  }

  /** A target of `n` SRI rows `/a/t<i>` plus the fixture's `/a/1`, as a
    * parquet directory. */
  private def writeTarget(n: Int): String = {
    val path = Files.createTempDirectory("sritarget").toString + "/t"
    spark.range(n).select(concat(lit("/a/t"), col("id")).as("href"),
        col("id").cast("string").as("key"), lit(1704067200000L).as("modified_ms"),
        lit("{}").as("jsondata"), lit("A").as("resourcetype"))
      .union(spark.range(1).select(lit("/a/1"), lit("1"),
        lit(1704067200000L), lit("{}"), lit("A")))
      .write.parquet(path)
    path
  }

  private def deltaMerge(pages: String, target: String) = {
    val src = spark.read.format("sri").option("pages", pages).load()
    val staged = src.where(col("resourcetype") =!= "deleted" ||
      col("resourcetype").isNull)
    val tombs = src.where(col("resourcetype") === "deleted")
      .select("href", "modified_ms")
    ops.Merge.delta(spark.read.parquet(target), staged, tombs)
  }

  private def sortedHrefs(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("href").collect().map(_.getString(0)).sorted.toSeq

  /** Shuffles with the target's file scan below them. */
  private def targetShuffles(plan: SparkPlan): Seq[SparkPlan] =
    collect(plan) {
      case s: ShuffleExchangeExec
        if collect(s) { case f: FileSourceScanExec => f }.nonEmpty => s
    }

  test("a small delta's keys are broadcast: the target is not shuffled; " +
    "below the broadcast threshold the merge stays a sort-merge join") {
    val pages = writePages()
    val target = writeTarget(2000)
    val merged = deltaMerge(pages, target)
    val got = sortedHrefs(merged)
    assert(got.size === 2000 + 4 && got.contains("/a/2") &&
      !got.contains("/a/5"))
    val plan = merged.queryExecution.executedPlan
    assert(collect(plan) {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j }.size === 1,
      plan)
    assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan)
    assert(targetShuffles(plan).isEmpty, plan)

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "1") // below the size of any delta
    try {
      val big = deltaMerge(pages, target)
      assert(sortedHrefs(big) === got)
      val smj = big.queryExecution.executedPlan
      assert(collect(smj) {
        case j: SortMergeJoinExec if j.joinType == LeftAnti => j }.size === 1,
        smj)
      assert(collect(smj) { case j: BroadcastHashJoinExec => j }.isEmpty, smj)
      assert(targetShuffles(smj).nonEmpty, smj)
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
