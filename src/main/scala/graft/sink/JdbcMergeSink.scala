package graft.sink

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.DataFrame

/** W1–W5/T6 — transactional JDBC merge sink.
  *
  * Spark's DataFrameWriter.jdbc has append/overwrite but no MERGE; the
  * reference's whole value is its staged merge executed in one DB
  * transaction (copyTempTablesDataToWriteTable, client.js:871-1118).
  * This sink reproduces that *behavior* Spark-natively:
  *
  *   1. executors bulk-insert the delta into a staging table
  *      (chunked batches = W1; parallelism = partitions, so the
  *      reference's maxBulkSize recursion becomes partitioning);
  *   2. the driver runs the merge statements (delete semi-join D1 /
  *      prune anti-join D2, change-detecting update U1+P5, window-dedup
  *      insert I1+A1) plus the watermark state row (W5) inside ONE
  *      transaction on ONE connection — commit or rollback (T6);
  *   3. statements are generated per dialect (postgres / mssql) and
  *      unit-tested as text; only step 1 touches executor-side JDBC.
  *
  * Idempotence: the merge is keyed on (href[,path,baseurl]), but the
  * staging load ([[stageBatch]]) is a plain INSERT per partition, so a
  * retried task stages its rows twice. The pg/mssql insert arms keep one
  * row per key with ROW_NUMBER, and an update writes the same values from
  * either copy; the Derby arm assumes a key-unique staging table, so it
  * does not dedup a retried task's copies (SURVEY §7.3 risk 1).
  */
object JdbcMergeSink {

  sealed trait Dialect { def name: String }
  case object Postgres extends Dialect { val name = "postgres" }
  case object MsSql extends Dialect { val name = "mssql" }

  /** Portable ANSI/Derby dialect: correlated EXISTS deletes, a standard
    * MERGE for the change-detecting update, and a MAX-modified insert in
    * place of the window dedup (Derby's ROW_NUMBER has no PARTITION BY).
    * Unlike the pg/mssql arms it requires the staging table to be
    * key-unique — which the production loaders guarantee by staging
    * `Dedup.keepLatest` output. Exists so the full stage→merge→commit
    * protocol is EXECUTED (not just text-asserted) against embedded
    * Derby in `JdbcLiveSpec`. */
  case object Derby extends Dialect { val name = "derby" }

  final case class SinkConfig(
      url: String,
      table: String,
      stagingTable: String,
      keys: Seq[String] = Seq("href"),
      dialect: Dialect = Postgres,
      fullSync: Boolean = false,
      preferUpdatesOverInserts: Boolean = true,
      batchSize: Int = 10000,
      properties: java.util.Properties = new java.util.Properties())

  /** The `executeUpdate` row counts of one merge transaction: tombstoned
    * rows deleted (D1), rows pruned as absent from the snapshot (D2) or
    * from the member list (safe-sync), rows updated (U1, changed payloads
    * only) and rows inserted (I1) — the reference's per-action DML counts
    * (client.js:983-994, A5). */
  final case class MergeCounts(deleted: Int, pruned: Int, updated: Int,
                               inserted: Int)

  // ---- SQL generation (pure, unit-tested) ----

  private def keyEq(l: String, r: String, keys: Seq[String]): String =
    keys.map(k => s"$l.$k = $r.$k").mkString(" AND ")

  /** D1 — tombstone delete via semi-join (client.js:1033-1038 / 899-905). */
  def deleteSql(c: SinkConfig, deletesTable: String): String = c.dialect match {
    case Postgres =>
      s"DELETE FROM ${c.table} w USING $deletesTable t WHERE ${keyEq("w", "t", c.keys)}"
    case MsSql =>
      s"DELETE w FROM ${c.table} w WHERE EXISTS (SELECT 1 FROM $deletesTable t WHERE ${keyEq("w", "t", c.keys)})"
    case Derby =>
      s"DELETE FROM ${c.table} w WHERE EXISTS (SELECT 1 FROM $deletesTable t WHERE ${keyEq("w", "t", c.keys)})"
  }

  /** D2 — full-sync prune via anti-join (client.js:1006-1015 / 886-896).
    * T-SQL cannot alias the target of a single-table `DELETE FROM t a`;
    * it needs the reference's `DELETE a FROM t a` spelling
    * (client.js:886) — caught by the golden shape comparison in
    * `MsSqlGoldenSpec`. */
  def pruneSql(c: SinkConfig): String = {
    val head = c.dialect match {
      case MsSql => s"DELETE w FROM ${c.table} w"
      case _ => s"DELETE FROM ${c.table} w"
    }
    head + " WHERE NOT EXISTS " +
      s"(SELECT 1 FROM ${c.stagingTable} i WHERE ${keyEq("i", "w", c.keys)})"
  }

  /** U1+P5 — change-detecting update: null-safe payload inequality skips
    * no-op writes (client.js:1058-1065 / 925-933, predicate 1064/932). */
  def updateSql(c: SinkConfig): String = c.dialect match {
    case Postgres =>
      s"UPDATE ${c.table} AS w SET modified_ms = t.modified_ms, " +
        s"jsondata = t.jsondata FROM ${c.stagingTable} t " +
        s"WHERE ${keyEq("t", "w", c.keys)} " +
        "AND t.jsondata IS DISTINCT FROM w.jsondata"
    case MsSql =>
      s"UPDATE w SET w.modified_ms = t.modified_ms, w.jsondata = t.jsondata " +
        s"FROM ${c.table} w JOIN ${c.stagingTable} t ON ${keyEq("t", "w", c.keys)} " +
        "WHERE (t.jsondata <> w.jsondata " +
        "OR (t.jsondata IS NULL AND w.jsondata IS NOT NULL) " +
        "OR (t.jsondata IS NOT NULL AND w.jsondata IS NULL))"
    case Derby =>
      // standard MERGE (update arm only — the insert path stays a
      // separate statement so the pg/mssql statement ORDER is preserved
      // and the protocol under test is identical across dialects)
      s"MERGE INTO ${c.table} w USING ${c.stagingTable} t " +
        s"ON ${keyEq("w", "t", c.keys)} " +
        "WHEN MATCHED AND (t.jsondata <> w.jsondata " +
        "OR (t.jsondata IS NULL AND w.jsondata IS NOT NULL) " +
        "OR (t.jsondata IS NOT NULL AND w.jsondata IS NULL)) " +
        "THEN UPDATE SET modified_ms = t.modified_ms, jsondata = t.jsondata"
  }

  /** I1+A1 — insert the window-deduped newest version of keys absent from
    * the target (client.js:1074-1110 / 942-978). */
  def insertSql(c: SinkConfig, cols: Seq[String]): String = {
    val colList = cols.mkString(", ")
    val part = c.keys.mkString(", ")
    c.dialect match {
      case Derby =>
        // Derby's ROW_NUMBER has no PARTITION BY; the staging table is
        // key-unique under this dialect (see Derby scaladoc), so plain
        // NOT EXISTS is the whole dedup
        s"""INSERT INTO ${c.table} ($colList)
           |SELECT $colList FROM ${c.stagingTable} t
           |WHERE NOT EXISTS
           |  (SELECT 1 FROM ${c.table} w WHERE ${keyEq("w", "t", c.keys)})"""
          .stripMargin
      case _ =>
        s"""INSERT INTO ${c.table} ($colList)
           |SELECT $colList FROM (
           |  SELECT $colList, ROW_NUMBER() OVER (PARTITION BY $part
           |    ORDER BY modified_ms DESC) AS rn
           |  FROM ${c.stagingTable}) t
           |WHERE t.rn = 1 AND NOT EXISTS
           |  (SELECT 1 FROM ${c.table} w WHERE ${keyEq("w", "t", c.keys)})"""
          .stripMargin
    }
  }

  /** Safe-sync membership delete — remove target rows whose key tuple is
    * absent from the authoritative member list staged in `membersTable`
    * (client.js:1186-1198 pg multi-column NOT IN; :1128-1141 mssql
    * NOT EXISTS). The pg arm keeps the reference's row-value NOT IN shape
    * verbatim (safe here: key columns are NOT NULL, so NOT IN's
    * null-poisoning cannot fire); Derby has no row-value IN, so it takes
    * the mssql NOT EXISTS form. */
  def safeDeleteSql(c: SinkConfig, membersTable: String): String =
    c.dialect match {
      case Postgres =>
        val tuple = c.keys.mkString("(", ", ", ")")
        s"DELETE FROM ${c.table} WHERE $tuple NOT IN " +
          s"(SELECT ${c.keys.mkString(", ")} FROM $membersTable)"
      case MsSql =>
        s"DELETE w FROM ${c.table} w WHERE NOT EXISTS " +
          s"(SELECT 1 FROM $membersTable i WHERE ${keyEq("i", "w", c.keys)})"
      case Derby =>
        s"DELETE FROM ${c.table} w WHERE NOT EXISTS " +
          s"(SELECT 1 FROM $membersTable i WHERE ${keyEq("i", "w", c.keys)})"
    }

  /** Safe-sync insert of fetched missing members — window-dedup the
    * re-fetched rows (the result set can shift between pages, so a key
    * can appear in several versions; newest modified wins,
    * client.js:1203-1232 "remove doubles before inserting") and insert
    * only keys still absent from the target. Same dialect split as
    * [[insertSql]]: Derby has no partitioned ROW_NUMBER, so its arm
    * requires a key-unique inserts table (stage `Dedup.keepLatest`
    * output, as the production loaders do). */
  def safeInsertSql(c: SinkConfig, cols: Seq[String],
                    insertsTable: String): String = {
    val colList = cols.mkString(", ")
    val part = c.keys.mkString(", ")
    c.dialect match {
      case Derby =>
        s"""INSERT INTO ${c.table} ($colList)
           |SELECT $colList FROM $insertsTable t
           |WHERE NOT EXISTS
           |  (SELECT 1 FROM ${c.table} w WHERE ${keyEq("w", "t", c.keys)})"""
          .stripMargin
      case _ =>
        s"""INSERT INTO ${c.table} ($colList)
           |SELECT $colList FROM (
           |  SELECT $colList, ROW_NUMBER() OVER (PARTITION BY $part
           |    ORDER BY modified_ms DESC) AS rn
           |  FROM $insertsTable) t
           |WHERE t.rn = 1 AND NOT EXISTS
           |  (SELECT 1 FROM ${c.table} w WHERE ${keyEq("w", "t", c.keys)})"""
          .stripMargin
    }
  }

  /** W5 — watermark state upsert (DELETE+INSERT like the reference,
    * client.js:709-760). */
  def stateSql(c: SinkConfig, tablename: String, synctype: String,
               lastModified: Long, syncStart: Long): Seq[String] = Seq(
    s"DELETE FROM sri2db_synctimes WHERE tablename = '$tablename' AND synctype = '$synctype'",
    s"INSERT INTO sri2db_synctimes (tablename, synctype, lastmodified, syncstart) " +
      s"VALUES ('$tablename', '$synctype', $lastModified, $syncStart)")

  // ---- execution ----

  /** Bulk-load `df` into the staging table from executors: one JDBC
    * connection per partition, addBatch/executeBatch every `batchSize`
    * rows (W1 chunking without driver involvement). */
  def stageBatch(df: DataFrame, c: SinkConfig): Unit = {
    val cols = df.schema.fieldNames
    val placeholders = cols.map(_ => "?").mkString(", ")
    val insert = s"INSERT INTO ${c.stagingTable} (${cols.mkString(", ")}) " +
      s"VALUES ($placeholders)"
    val url = c.url; val props = c.properties; val batch = c.batchSize
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val conn = DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        val ps = conn.prepareStatement(insert)
        var n = 0
        rows.foreach { r =>
          var i = 0
          while (i < cols.length) { ps.setObject(i + 1, r.get(i)); i += 1 }
          ps.addBatch(); n += 1
          if (n % batch == 0) ps.executeBatch()
        }
        ps.executeBatch()
        conn.commit()
      } finally conn.close()
    }
  }

  /** Run the merge + state statements in one driver-side transaction;
    * returns the committed statements' row counts. */
  def mergeAndCommit(c: SinkConfig, cols: Seq[String],
                     deletesTable: Option[String],
                     state: Option[(String, String, Long, Long)],
                     connFactory: () => Connection =
                       () => DriverManager.getConnection(null: String)): MergeCounts = {
    val conn = connFactory()
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      val deleted = deletesTable.map(d => st.executeUpdate(deleteSql(c, d)))
        .getOrElse(0)
      val pruned =
        if (c.fullSync && !c.preferUpdatesOverInserts)
          st.executeUpdate(s"DELETE FROM ${c.table}")
        else if (c.fullSync) st.executeUpdate(pruneSql(c))
        else 0
      val updated =
        if (!c.fullSync || c.preferUpdatesOverInserts) st.executeUpdate(updateSql(c))
        else 0
      val inserted = st.executeUpdate(insertSql(c, cols))
      state.foreach { case (t, s, lm, ss) =>
        stateSql(c, t, s, lm, ss).foreach(st.executeUpdate)
      }
      conn.commit()
      MergeCounts(deleted, pruned, updated, inserted)
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally conn.close()
  }

  /** W4/T6 — safe-sync (membership reconciliation) transaction: delete
    * rows not in the member list, insert the deduped newest version of
    * fetched missing members, write the state row — commit or rollback
    * as one unit (copySafeSyncTempTablesDataToWriteTable,
    * client.js:1124-1239; statement order delete :1186 before insert
    * :1203, same as the reference). The DataFrame-level equivalent is
    * [[graft.ops.Merge.safe]]; `JdbcLiveSpec` pins this arm to that
    * answer on shared fixtures. Returns the rows pruned (not members) and
    * inserted. */
  def safeSyncAndCommit(c: SinkConfig, cols: Seq[String],
                        membersTable: String, insertsTable: String,
                        state: Option[(String, String, Long, Long)],
                        connFactory: () => Connection =
                          () => DriverManager.getConnection(null: String)): MergeCounts = {
    val conn = connFactory()
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      val pruned = st.executeUpdate(safeDeleteSql(c, membersTable))
      val inserted = st.executeUpdate(safeInsertSql(c, cols, insertsTable))
      state.foreach { case (t, s, lm, ss) =>
        stateSql(c, t, s, lm, ss).foreach(st.executeUpdate)
      }
      conn.commit()
      MergeCounts(deleted = 0, pruned = pruned, updated = 0, inserted = inserted)
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally conn.close()
  }
}
