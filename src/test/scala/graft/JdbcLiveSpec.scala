package graft

import java.sql.DriverManager
import graft.sink.JdbcMergeSink
import graft.sink.JdbcMergeSink.{Derby, MergeCounts, SinkConfig}

/** EXECUTED JDBC merge protocol — stage → merge → commit against an
  * embedded Derby database (the reference runs its merge inside real
  * postgres/mssql containers, /root/reference/test/index.mjs:192-244;
  * this harness has no docker, so Derby stands in for the driver-side
  * commit protocol: same JDBC transaction surface, Derby-dialect SQL).
  *
  * Covers SURVEY §7.3 risk 1: commit visibility, rollback on a
  * mid-transaction failure (nothing partially applied), and retried-batch
  * idempotence (replaying a staged batch converges to the same state,
  * reference behavior at client.js:1808-1813).
  */
class JdbcLiveSpec extends SparkSuite {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftlive;create=true"

  private def conn() = DriverManager.getConnection(url)

  private def exec(sqls: String*): Unit = {
    val c = conn()
    try { val st = c.createStatement(); sqls.foreach(st.executeUpdate) }
    finally c.close()
  }

  private def queryTarget(): Map[String, (Long, String)] = {
    val c = conn()
    try {
      val rs = c.createStatement()
        .executeQuery("SELECT href, modified_ms, jsondata FROM apptable")
      val b = Map.newBuilder[String, (Long, String)]
      while (rs.next()) b += rs.getString(1) -> (rs.getLong(2), rs.getString(3))
      b.result()
    } finally c.close()
  }

  private def stateRows(): Seq[(String, String, Long)] = {
    val c = conn()
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT tablename, synctype, lastmodified FROM sri2db_synctimes")
      val b = Seq.newBuilder[(String, String, Long)]
      while (rs.next()) b += ((rs.getString(1), rs.getString(2), rs.getLong(3)))
      b.result()
    } finally c.close()
  }

  private val cfg = SinkConfig(url = url, table = "apptable",
    stagingTable = "staging", keys = Seq("href"), dialect = Derby)
  private val cols = Seq("href", "modified_ms", "jsondata")

  private def freshSchema(): Unit = {
    // Derby has no DROP IF EXISTS; ignore missing-table failures
    Seq("DROP TABLE apptable", "DROP TABLE staging", "DROP TABLE deletes",
      "DROP TABLE sri2db_synctimes").foreach { s =>
      try exec(s) catch { case _: java.sql.SQLException => }
    }
    exec(
      "CREATE TABLE apptable (href VARCHAR(128) NOT NULL, " +
        "modified_ms BIGINT, jsondata VARCHAR(512))",
      "CREATE TABLE staging (href VARCHAR(128) NOT NULL, " +
        "modified_ms BIGINT, jsondata VARCHAR(512))",
      "CREATE TABLE deletes (href VARCHAR(128) NOT NULL)",
      "CREATE TABLE sri2db_synctimes (tablename VARCHAR(64), " +
        "synctype VARCHAR(16), lastmodified BIGINT, syncstart BIGINT)",
      "INSERT INTO apptable VALUES ('/r/1', 100, '{\"v\": 1}')",
      "INSERT INTO apptable VALUES ('/r/2', 100, '{\"v\": 2}')",
      "INSERT INTO apptable VALUES ('/r/3', 100, '{\"v\": 3}')",
      "INSERT INTO deletes VALUES ('/r/3')")
  }

  /** The delta every scenario stages: /r/1 changed, /r/2 unchanged
    * payload, /r/4 new. Executors bulk-insert it (stageBatch runs
    * foreachPartition against the SAME in-memory Derby — local mode
    * shares the JVM, exactly like executors sharing a DB endpoint). */
  private def stageDelta(): Unit = JdbcMergeSink.stageBatch(
    Seq(("/r/1", 200L, "{\"v\": 11}"),
        ("/r/2", 200L, "{\"v\": 2}"),
        ("/r/4", 200L, "{\"v\": 4}"))
      .toDF("href", "modified_ms", "jsondata"),
    cfg)

  private val expectedMerged = Map(
    "/r/1" -> (200L, "{\"v\": 11}"), // changed payload → updated
    "/r/2" -> (100L, "{\"v\": 2}"),  // same payload → change-detect skips
    "/r/4" -> (200L, "{\"v\": 4}"))  // new → inserted; /r/3 tombstoned

  test("stage + merge + commit applies delete/update/insert atomically") {
    freshSchema()
    stageDelta()
    JdbcMergeSink.mergeAndCommit(cfg, cols, deletesTable = Some("deletes"),
      state = Some(("apptable", "delta", 200L, 1000L)), connFactory = conn)
    assert(queryTarget() === expectedMerged)
    assert(stateRows() === Seq(("apptable", "delta", 200L)))
  }

  test("mid-transaction failure rolls back every statement") {
    freshSchema()
    stageDelta()
    // the state write is the LAST statement in the transaction; pointing
    // it at a dropped table forces a failure AFTER delete/update/insert
    // already executed — none of them may remain visible
    exec("DROP TABLE sri2db_synctimes")
    val before = queryTarget()
    intercept[java.sql.SQLException] {
      JdbcMergeSink.mergeAndCommit(cfg, cols, deletesTable = Some("deletes"),
        state = Some(("apptable", "delta", 200L, 1000L)), connFactory = conn)
    }
    assert(queryTarget() === before,
      "rollback must leave the target exactly as it was")
  }

  test("replaying a staged batch is idempotent") {
    freshSchema()
    stageDelta()
    JdbcMergeSink.mergeAndCommit(cfg, cols, deletesTable = Some("deletes"),
      state = Some(("apptable", "delta", 200L, 1000L)), connFactory = conn)
    // retry protocol: staging reloaded TRUNCATE+INSERT under the same
    // deterministic batch, merge re-runs (client.js:1808-1813 re-sync)
    exec("TRUNCATE TABLE staging")
    stageDelta()
    JdbcMergeSink.mergeAndCommit(cfg, cols, deletesTable = Some("deletes"),
      state = Some(("apptable", "delta", 200L, 1001L)), connFactory = conn)
    assert(queryTarget() === expectedMerged,
      "replay must converge to the same target state, no duplicate rows")
    assert(stateRows() === Seq(("apptable", "delta", 200L)),
      "state upsert is DELETE+INSERT — one row after replay")
  }

  /** Safe-sync fixtures: member list (authoritative hrefs from the
    * filtered list resource) — /r/3 is no longer a member → must be
    * deleted; /r/5 is a member the target lacks → its fetched rows are
    * staged for insert. The fetch can return several versions of one key
    * (result set shifts between pages), so the raw feed carries /r/5
    * twice; Derby's arm stages the key-unique Dedup.keepLatest of it,
    * exactly like the production loaders (see safeInsertSql scaladoc). */
  private def fetchedMissing = Seq(
    ("/r/5", 150L, "{\"v\": 5}"),
    ("/r/5", 250L, "{\"v\": 55}")) // newer version mid-fetch — wins
    .toDF("href", "modified_ms", "jsondata")

  private def safeFixtures(): Unit = {
    freshSchema()
    Seq("DROP TABLE members", "DROP TABLE missing").foreach { s =>
      try exec(s) catch { case _: java.sql.SQLException => }
    }
    exec(
      "CREATE TABLE members (href VARCHAR(128) NOT NULL)",
      "CREATE TABLE missing (href VARCHAR(128) NOT NULL, " +
        "modified_ms BIGINT, jsondata VARCHAR(512))",
      "INSERT INTO members VALUES ('/r/1')",
      "INSERT INTO members VALUES ('/r/2')",
      "INSERT INTO members VALUES ('/r/5')")
    JdbcMergeSink.stageBatch(
      graft.ops.Dedup.keepLatest(fetchedMissing, Seq("href"), "modified_ms"),
      cfg.copy(stagingTable = "missing"))
  }

  test("safe-sync reconcile converges Derby to Merge.safe's DataFrame " +
      "answer on the same fixtures") {
    safeFixtures()
    JdbcMergeSink.safeSyncAndCommit(cfg, cols, "members", "missing",
      state = Some(("apptable", "safe", 250L, 1000L)), connFactory = conn)

    // the DataFrame-level answer over the SAME fixtures
    val target = Seq(("/r/1", 100L, "{\"v\": 1}"),
      ("/r/2", 100L, "{\"v\": 2}"), ("/r/3", 100L, "{\"v\": 3}"))
      .toDF("href", "modified_ms", "jsondata")
    val members = Seq("/r/1", "/r/2", "/r/5").toDF("href")
    val expected = graft.ops.Merge.safe(target, members, fetchedMissing)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(queryTarget() === expected,
      "JDBC safe-sync and Merge.safe must reach the same state")
    assert(queryTarget() === Map(
      "/r/1" -> (100L, "{\"v\": 1}"),
      "/r/2" -> (100L, "{\"v\": 2}"),
      "/r/5" -> (250L, "{\"v\": 55}")))
    assert(stateRows() === Seq(("apptable", "safe", 250L)))
  }

  test("safe-sync replay is idempotent and a mid-tx failure rolls back") {
    safeFixtures()
    // replay: re-running the same reconcile converges (delete removes
    // nothing, NOT EXISTS skips the present key); then a forced state
    // failure must leave the target untouched
    JdbcMergeSink.safeSyncAndCommit(cfg, cols, "members", "missing",
      state = Some(("apptable", "safe", 250L, 1000L)), connFactory = conn)
    JdbcMergeSink.safeSyncAndCommit(cfg, cols, "members", "missing",
      state = Some(("apptable", "safe", 250L, 1001L)), connFactory = conn)
    val after = queryTarget()
    assert(after === Map(
      "/r/1" -> (100L, "{\"v\": 1}"),
      "/r/2" -> (100L, "{\"v\": 2}"),
      "/r/5" -> (250L, "{\"v\": 55}")))
    assert(stateRows() === Seq(("apptable", "safe", 250L)))
    exec("DROP TABLE sri2db_synctimes")
    intercept[java.sql.SQLException] {
      JdbcMergeSink.safeSyncAndCommit(cfg, cols, "members", "missing",
        state = Some(("apptable", "safe", 250L, 1002L)), connFactory = conn)
    }
    assert(queryTarget() === after,
      "rollback must leave the target exactly as it was")
  }

  test("mergeAndCommit and safeSyncAndCommit return their statements' " +
    "row counts") {
    freshSchema()
    stageDelta()
    // /r/3 tombstoned, /r/1 changed (/r/2's payload is unchanged), /r/4 new
    assert(JdbcMergeSink.mergeAndCommit(cfg, cols, Some("deletes"), None, conn) ===
      MergeCounts(deleted = 1, pruned = 0, updated = 1, inserted = 1))
    // the replay finds nothing left to do
    exec("TRUNCATE TABLE staging")
    stageDelta()
    assert(JdbcMergeSink.mergeAndCommit(cfg, cols, Some("deletes"), None, conn) ===
      MergeCounts(deleted = 0, pruned = 0, updated = 0, inserted = 0))
    // fullSync keeping existing rows: /r/3 is absent from the snapshot
    freshSchema()
    stageDelta()
    assert(JdbcMergeSink.mergeAndCommit(cfg.copy(fullSync = true), cols, None,
      None, conn) === MergeCounts(deleted = 0, pruned = 1, updated = 1, inserted = 1))
    // fullSync replacing every row: all three go, all three staged come in
    freshSchema()
    stageDelta()
    assert(JdbcMergeSink.mergeAndCommit(cfg.copy(fullSync = true,
      preferUpdatesOverInserts = false), cols, None, None, conn) ===
      MergeCounts(deleted = 0, pruned = 3, updated = 0, inserted = 3))
    // safe sync: /r/3 is not a member, /r/5 is fetched
    safeFixtures()
    assert(JdbcMergeSink.safeSyncAndCommit(cfg, cols, "members", "missing",
      None, conn) === MergeCounts(deleted = 0, pruned = 1, updated = 0, inserted = 1))
  }

  test("derby dialect SQL text is well-formed for every statement") {
    assert(JdbcMergeSink.deleteSql(cfg, "deletes").contains("EXISTS"))
    assert(JdbcMergeSink.updateSql(cfg).startsWith("MERGE INTO apptable"))
    assert(JdbcMergeSink.insertSql(cfg, cols).contains("NOT EXISTS"))
    assert(!JdbcMergeSink.insertSql(cfg, cols).contains("ROW_NUMBER"),
      "derby arm must not use partitioned ROW_NUMBER")
    assert(JdbcMergeSink.safeDeleteSql(cfg, "members").contains("NOT EXISTS"))
    assert(!JdbcMergeSink.safeInsertSql(cfg, cols, "missing")
      .contains("ROW_NUMBER"))
    // the pg arm keeps the reference's row-value NOT IN delete shape
    val pgCfg = cfg.copy(dialect = JdbcMergeSink.Postgres)
    assert(JdbcMergeSink.safeDeleteSql(pgCfg, "members")
      .contains("(href) NOT IN"))
    assert(JdbcMergeSink.safeInsertSql(pgCfg, cols, "missing")
      .contains("ROW_NUMBER"))
  }
}
