package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops._

/** The invariants the reference only asserts implicitly (SURVEY §5):
  * merge idempotency, keep-latest dedup semantics, watermark monotonicity. */
class MergeSpec extends SparkSuite {

  private def sri: DataFrame = Tables.sriEvents(spark, sfDir)
  private val cut = 1705795200000L

  private def canon(df: DataFrame): Array[String] =
    df.select("href", "key", "modified_ms", "jsondata", "resourcetype")
      .collect().map(_.mkString("|")).sorted

  test("delta merge is idempotent: merge(merge(T,D),D) == merge(T,D)") {
    val target = sri.where(col("modified_ms") < cut)
    val staged = sri.where(col("modified_ms") >= cut && col("resourcetype") =!= "error")
    val tombs = sri.where(col("modified_ms") >= cut && col("resourcetype") === "error")
      .select("href")
    val once = Merge.delta(target, staged, tombs).cache()
    val twice = Merge.delta(once, staged, tombs)
    assert(canon(once).sameElements(canon(twice)))
  }

  test("delta merge applies tombstones and upserts") {
    val target = sri.where(col("modified_ms") < cut)
    val staged = sri.where(col("modified_ms") >= cut && col("resourcetype") =!= "error")
    val tombs = sri.where(col("resourcetype") === "error").select("href")
    val merged = Merge.delta(target, staged, tombs).cache()
    assert(merged.where(col("resourcetype") === "error").count() === 0)
    val stagedKeys = staged.select("href").distinct().count()
    assert(merged.join(staged.select("href").distinct(), Seq("href"), "left_semi")
      .count() === stagedKeys)
  }

  test("delete + re-create within one window: staged wins (reference order)") {
    import spark.implicits._
    val target = Seq(("/a/1", "1", 100L, "old", "t"))
      .toDF("href", "key", "modified_ms", "jsondata", "resourcetype")
    val staged = Seq(("/a/1", "1", 300L, "recreated", "t"))
      .toDF("href", "key", "modified_ms", "jsondata", "resourcetype")
    val tombs = Seq("/a/1").toDF("href")
    // reference applies DELETE before UPDATE/INSERT, so the re-created
    // version survives (client.js:1033 before 1058/1074)
    val out = Merge.delta(target, staged, tombs).collect()
    assert(out.length === 1 && out(0).getAs[String]("jsondata") === "recreated")
    // a tombstone with no matching staged row still deletes
    val out2 = Merge.delta(target, staged.where(lit(false)), tombs)
    assert(out2.count() === 0)
  }

  test("delta merge over the raw excluded keys returns the rows of the " +
    "deduped-distinct formula (duplicate and null keys, overlapping tombstones)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def key(): String = if (rnd.nextInt(8) == 0) null else s"/k/${rnd.nextInt(25)}"
    def rows(n: Int): DataFrame = Seq.fill(n)((key(), rnd.nextInt(4).toLong,
      s"p${rnd.nextInt(3)}")).toDF("href", "modified_ms", "jsondata")
    // the excluded side before it was taken raw: deduped, then distinct
    def oldDelta(target: DataFrame, staged: DataFrame, tombs: DataFrame) = {
      val deduped = Dedup.keepLatest(staged)
      val excluded = tombs.select("href")
        .unionByName(deduped.select("href")).distinct()
      target.join(excluded, Seq("href"), "left_anti").unionByName(deduped)
    }
    def sorted(df: DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val cases = Seq.fill(6) {
      val staged = rows(30)
      // duplicate tombstones, some also staged, some null
      val tombs = rows(12).select("href").unionByName(staged.select("href").limit(4))
      (rows(40), staged, tombs)
    }
    def check(join: String): Unit = cases.foreach { case (target, staged, tombs) =>
      val got = Merge.delta(target, staged, tombs)
      assert(sorted(got) === sorted(oldDelta(target, staged, tombs)))
      assert(got.queryExecution.executedPlan.toString.contains(join),
        got.queryExecution.executedPlan)
    }
    check("BroadcastHashJoin")
    val key0 = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key0)
    spark.conf.set(key0, "-1")
    try check("SortMergeJoin")
    finally before.fold(spark.conf.unset(key0))(spark.conf.set(key0, _))
  }

  test("keepLatest keeps the max-modified row, not an arbitrary one") {
    import spark.implicits._
    val df = Seq(
      ("/a/1", "1", 100L, "old", "t"),
      ("/a/1", "1", 300L, "new", "t"),
      ("/a/1", "1", 200L, "mid", "t"))
      .toDF("href", "key", "modified_ms", "jsondata", "resourcetype")
    val out = Dedup.keepLatest(df).collect()
    assert(out.length === 1 && out(0).getAs[String]("jsondata") === "new")
  }

  test("keepLatest tiebreak is deterministic") {
    import spark.implicits._
    val df = Seq(
      ("/a/1", "1", 100L, "zzz", "t"),
      ("/a/1", "1", 100L, "aaa", "t"))
      .toDF("href", "key", "modified_ms", "jsondata", "resourcetype")
    val out = Dedup.keepLatest(df).collect()
    assert(out.length === 1 && out(0).getAs[String]("jsondata") === "aaa")
  }

  test("full merge equals deduped snapshot") {
    val snap = sri
    assert(canon(Merge.full(snap))
      .sameElements(canon(Dedup.keepLatest(snap))))
  }

  test("watermark advance: clock-skew regression + no-rows keeps previous") {
    // no rows seen → unchanged
    assert(Watermark.advance(None, 5000L, Some(1000L), 2000L, 2500L) === 5000L)
    // rows seen: max(seen - 1.01*dur, prev - 1.01*dur + 0.99*delta)
    val seen = 10000L; val prev = 9000L
    val got = Watermark.advance(Some(seen), prev, Some(1000L), 2000L, 2100L)
    val dur = 100L; val delta = 1000L
    val expect = math.max(
      seen - math.round(1.01 * dur),
      prev - math.round(1.01 * dur) + math.round(0.99 * delta))
    assert(got === expect)
    // monotone in seen
    assert(Watermark.advance(Some(seen + 500), prev, Some(1000L), 2000L, 2100L) >= got)
  }

  test("state table round-trip") {
    val tmp = java.nio.file.Files.createTempDirectory("wm").toString + "/state"
    Watermark.writeState(spark, tmp, "t1", SyncType.Delta, SyncState(42L, 7L))
    Watermark.writeState(spark, tmp, "t1", SyncType.Full, SyncState(99L, 8L))
    Watermark.writeState(spark, tmp, "t1", SyncType.Delta, SyncState(43L, 9L))
    assert(Watermark.readState(spark, tmp, "t1", SyncType.Delta)
      .contains(SyncState(43L, 9L)))
    assert(Watermark.readState(spark, tmp, "t1", SyncType.Full)
      .contains(SyncState(99L, 8L)))
    assert(Watermark.readState(spark, tmp, "nope", SyncType.Full).isEmpty)
  }

  test("state parked at .bak by a crash mid-writeState is read back, " +
    "not a cold start") {
    val tmp = java.nio.file.Files.createTempDirectory("wm").toString + "/state"
    Watermark.writeState(spark, tmp, "t1", SyncType.Delta, SyncState(42L, 7L))
    // the crash window: live state parked at .bak, new state not yet in place
    assert(new java.io.File(tmp).renameTo(new java.io.File(tmp + ".bak")))
    assert(Watermark.readState(spark, tmp, "t1", SyncType.Delta)
      .contains(SyncState(42L, 7L)))
    assert(new java.io.File(tmp).exists() && !new java.io.File(tmp + ".bak").exists())
  }

  test("writeState writes the StateSchema that readState reads") {
    val tmp = java.nio.file.Files.createTempDirectory("wm").toString + "/state"
    Watermark.writeState(spark, tmp, "t1", SyncType.Delta, SyncState(42L, 7L))
    Watermark.writeState(spark, tmp, "t2", SyncType.Delta, SyncState(43L, 8L))
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toSeq
    assert(shape(spark.read.parquet(tmp).schema) === shape(Watermark.StateSchema))
  }

  test("a state directory written by Spark's parquet writer reads back and " +
    "is rewritten on the driver") {
    val tmp = java.nio.file.Files.createTempDirectory("wm").toString + "/state"
    spark.createDataFrame(java.util.List.of(
        Row("t1", null, null, SyncType.Delta, 42L, 7L),
        Row("t2", "http://x", "/p", SyncType.Delta, 43L, 8L)),
        Watermark.StateSchema)
      .coalesce(1).write.parquet(tmp)
    val names = new java.io.File(tmp).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.exists(_.endsWith(".snappy.parquet")), names)
    assert(Watermark.readState(spark, tmp, "t1", SyncType.Delta)
      .contains(SyncState(42L, 7L)))
    Watermark.writeState(spark, tmp, "t1", SyncType.Delta, SyncState(44L, 9L))
    assert(Watermark.readState(spark, tmp, "t1", SyncType.Delta)
      .contains(SyncState(44L, 9L)))
    // the other stream's row is kept whole, baseurl and path included
    assert(spark.read.parquet(tmp).where(col("tablename") === "t2").collect()
      .map(_.toSeq) === Array(Seq("t2", "http://x", "/p", SyncType.Delta, 43L, 8L)))
  }

  test("a state file missing syncstart fails naming the state path") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("wm").toString + "/state"
    // an older layout: every column but syncstart
    Seq(("t1", null: String, null: String, SyncType.Delta, 42L))
      .toDF("tablename", "baseurl", "path", "synctype", "lastmodified")
      .write.parquet(tmp)
    val e = intercept[IllegalStateException](
      Watermark.readState(spark, tmp, "t1", SyncType.Delta))
    assert(e.getMessage.contains(tmp), e.getMessage)
    // a key with no row is still a cold start, not an error
    assert(Watermark.readState(spark, tmp, "t2", SyncType.Delta).isEmpty)
  }

  test("diff operators: changed/new/missing row sets are disjoint and complete") {
    val target = sri.where(col("modified_ms") < cut)
    val staged = Dedup.keepLatest(sri.where(col("modified_ms") >= cut))
    val changed = Diff.changedRows(target, staged, Seq("href"), "jsondata")
    val fresh = Diff.newRows(target, staged, Seq("href"))
    // events hrefs are globally unique → staged ∩ target = ∅ → all fresh
    assert(changed.count() === 0)
    assert(fresh.count() === staged.count())
    val missing = Diff.missingMembers(sri.select("href"), target, Seq("href"))
    assert(missing.count() === fresh.count())
  }
}
