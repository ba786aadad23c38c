package graft

import org.apache.spark.sql.DataFrame
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
    val target = sri.where(col("modified_ms") < cut)
    val snap = sri
    assert(canon(Merge.full(target, snap))
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
