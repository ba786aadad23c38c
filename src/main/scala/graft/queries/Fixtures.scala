package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import java.nio.file.Files
import graft.Tables

/** Shared deterministic fixtures + cross-engine helpers for the graded
  * query surface. Every constant here is SF-independent so the same query
  * text is correct at sf0.001 (smoke), sf0.01 (t2 gate), sf0.1 (bench).
  */
object Fixtures {

  /** 2024-01-21T00:00:00Z — splits `events` into "target" (before) and
    * "delta" (after) slices for the sync-algebra queries. */
  val CutMs = 1705795200000L

  /** 2024-01-26T00:00:00Z — target extends past CutMs so the delta overlap
    * [Cut, Cut2) produces genuine updates, not just inserts. */
  val Cut2Ms = 1706227200000L

  // ---- exact-money helpers: doubles derived from integer cents are
  // bit-identical across Spark and DuckDB (no FP summation order issues) --
  def cents(c: String): Column = round(col(c) * 100).cast("long")
  /** DuckDB spelling of [[cents]]. */
  def centsSql(c: String): String = s"CAST(ROUND($c * 100) AS BIGINT)"

  /** TIMESTAMP_NTZ literal at epoch-ms `ms` (UTC wall clock). Comparing
    * the native `events.ts` column against this is a plain binary
    * predicate on the scan column for the TIMESTAMP_NTZ/MICROS data
    * vintage, so there it PUSHES DOWN into the parquet scan. For the
    * raw-nanos-long vintage, `Tables.normalizeTs` rewrites `ts` as a
    * computed column (`timestamp_micros(ts div 1000)`), so the
    * comparison canNOT reach that scan — push an equivalent raw-nanos
    * predicate before normalizeTs if pruning matters on that branch. A
    * `ts_ms < c` post-conversion filter would push down on neither. */
  def tsNtz(ms: Long): Column =
    lit(java.time.LocalDateTime.ofEpochSecond(
      java.lang.Math.floorDiv(ms, 1000L),
      (java.lang.Math.floorMod(ms, 1000L) * 1000000L).toInt,
      java.time.ZoneOffset.UTC))

  // ---- sync-algebra fixtures over `events` (FIXTURES.md §B mapping) ----
  def sri(s: SparkSession, dir: String): DataFrame = Tables.sriEvents(s, dir)

  /** target state: everything modified before Cut2. Filter applied on the
    * native `ts` pre-projection so it reaches the parquet scan. */
  def sriTarget(s: SparkSession, dir: String): DataFrame =
    Tables.sriProject(
      Tables.events(s, dir).where(col("ts") < tsNtz(Cut2Ms)))

  /** staged delta pages: everything from Cut on, minus tombstones, with
    * purchase payloads patched so the overlap produces real updates. */
  def sriStaged(s: SparkSession, dir: String): DataFrame =
    Tables.sriProject(
      Tables.events(s, dir).where(col("ts") >= tsNtz(CutMs) &&
        col("event_type") =!= "error"))
      .withColumn("jsondata",
        when(col("resourcetype") === "purchase",
          regexp_replace(col("jsondata"), "\\}$", ", \"patched\": true}"))
          .otherwise(col("jsondata")))

  /** tombstone rows: `error` events from Cut on, delete-row shape (P3). */
  def sriTombstones(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .where(col("ts") >= tsNtz(CutMs) && col("event_type") === "error")
      .select(concat(lit("/events/"), col("event_id")).as("href"))

  /** DuckDB CTE prefix mirroring the fixtures above. */
  val sriCtes: String =
    s"""WITH sri AS (${Tables.sriEventsSql}),
       |starget AS (SELECT * FROM sri WHERE modified_ms < $Cut2Ms),
       |sstaged AS (
       |  SELECT href, key, modified_ms,
       |         CASE WHEN resourcetype = 'purchase'
       |              THEN regexp_replace(jsondata, '\\}$$', ', "patched": true}')
       |              ELSE jsondata END AS jsondata,
       |         resourcetype
       |  FROM sri WHERE modified_ms >= $CutMs AND resourcetype <> 'error'),
       |stomb AS (SELECT href FROM sri
       |          WHERE modified_ms >= $CutMs AND resourcetype = 'error'),
       |sdedup AS (
       |  SELECT href, key, modified_ms, jsondata, resourcetype FROM (
       |    SELECT s.*, ROW_NUMBER() OVER (PARTITION BY href
       |      ORDER BY modified_ms DESC, href ASC, jsondata ASC NULLS FIRST) AS rn
       |    FROM sstaged s) WHERE rn = 1),
       |slive AS (SELECT d.* FROM sdedup d)
       |""".stripMargin
  // slive == sdedup: reference statement order is deletes THEN upserts, so
  // staged rows win over same-key tombstones (delete + re-create survives).
  // The fixture slices are disjoint (staged excludes 'error'), so this is
  // semantic documentation, not a value change.

  val sriCols: Seq[String] =
    Seq("href", "key", "modified_ms", "jsondata", "resourcetype")

  type Q = (SparkSession, String) => DataFrame

  /** Split `df` into `n` slices ordered by `orderCol` (rows sharing an
    * `orderCol` value move together; slice i holds the i-th ntile of the
    * distinct values) and write each as a single parquet file
    * `<prefix>_<i>.parquet` with strictly increasing mtimes — the
    * replay-order pin of the file-stream drains (stream_mp,
    * stream_contam). Returns the source dir a file stream reads
    * oldest-first. Needs at least `n` distinct `orderCol` values; fewer
    * leaves a slice empty and fails naming it. */
  private[graft] def writeSlices(df: DataFrame, orderCol: String, n: Int,
                                 prefix: String): String = {
    val dir = Files.createTempDirectory(s"${prefix}_src").toString
    val parts = df.select(orderCol).distinct()
      .withColumn("__part", ntile(n).over(Window.orderBy(col(orderCol))))
    // ONE partitioned write instead of n filtered coalesce(1) passes
    // (guide §1.2): repartition by __part puts each slice value in
    // exactly one task, so every __part=i directory holds exactly one
    // file; each is then moved/renamed with the pinned-mtime contract.
    val tmp = Files.createTempDirectory(s"${prefix}_t").toString
    df.join(parts, orderCol).repartition(n, col("__part"))
      .write.partitionBy("__part").mode("overwrite").parquet(tmp)
    for (i <- 1 to n) {
      val slice = new java.io.File(tmp, s"__part=$i")
      require(slice.isDirectory, s"writeSlices: slice $i of $n is empty " +
        s"(fewer than $n distinct $orderCol values)")
      val part = slice.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"${prefix}_$i%02d.parquet")
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L),
        s"writeSlices: could not pin mtime of $dst")
    }
    dir
  }
}
