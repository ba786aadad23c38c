package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** W3/W4 — the reference's merge algebra, composed from Dedup + Diff.
  *
  * The reference runs these as generated SQL inside one DB transaction
  * (`copyTempTablesDataToWriteTable`, src/lib/client.js:871-1118;
  * `copySafeSyncTempTablesDataToWriteTable`, src/lib/client.js:1124-1239).
  * Here each sync strategy is a pure function `(target, delta) => newState`
  * (fullSync's new state does not depend on the target),
  * so the whole merge is ONE Catalyst plan: one dedup window over the
  * staged rows + anti/semi joins on the same key columns. The key side of
  * `delta`'s anti-join is the raw key columns of the tombstones and the
  * staged rows (no dedup, no distinct), which Spark broadcasts when the
  * delta is small; at 100 TB the target side never leaves the executors
  * (no collect, no driver state).
  *
  * Column contract: `target` and `staged` share the SRI row shape
  * (href, key, modified_ms, jsondata, resourcetype[, path, baseurl]).
  */
object Merge {

  /** deltaSync merge: apply tombstones, then upsert the staged pages.
    * Equivalent to D1 → (A1 dedup) → U1 update + I1 insert, i.e. the new
    * state is:
    *   (target − tombstoneKeys − stagedKeys) ∪ dedup(staged)
    * (a key both tombstoned and staged stays alive, see below).
    * Unchanged-payload rows in staged replace their target row with an
    * identical one, so P5 dead-update elimination is a physical-write
    * optimization, not a semantic difference — see
    * [[graft.sink.JdbcMergeSink.updateSql]] for where P5 matters.
    */
  def delta(target: DataFrame, staged: DataFrame, tombstones: DataFrame,
            keys: Seq[String] = Seq("href"),
            modified: String = "modified_ms"): DataFrame = {
    val deduped = Dedup.keepLatest(staged, keys, modified)
    // Reference statement order is deletes THEN upserts
    // (copyTempTablesDataToWriteTable, client.js:1033 before 1058/1074), so
    // a key appearing in BOTH tombstones and staged ends up alive (deleted
    // then re-created within the window) — staged wins, not the tombstone.
    // One anti-join pass over the (big) target: rows leave either because
    // they were tombstoned or because the delta replaces them — union the
    // two key sets rather than scanning the target twice. The staged keys
    // are taken raw: keepLatest keeps one row per key, so the key set is
    // the same, and a left-anti join ignores duplicate build keys, so
    // neither a dedup nor a distinct runs before the broadcast.
    val excluded = tombstones.select(keys.map(col): _*)
      .unionByName(staged.select(keys.map(col): _*))
    target.join(excluded, keys, "left_anti").unionByName(deduped)
  }

  /** fullSync merge (keep-existing mode, `preferUpdatesOverInserts`):
    * the reference prunes rows absent from the snapshot and upserts the
    * rest (src/lib/client.js:999-1019 + 1058-1110), which leaves exactly
    *   dedup(snapshot)
    * so the old table is not an input. The pruned rows, when wanted, are
    * `Diff.pruneAbsent(target, full(snapshot), keys)`. */
  def full(snapshot: DataFrame,
           keys: Seq[String] = Seq("href"),
           modified: String = "modified_ms"): DataFrame =
    Dedup.keepLatest(snapshot, keys, modified)

  /** safeDeltaSync reconciliation: drop rows not in the authoritative
    * member list, then insert deduped missing rows fetched from the source.
    * Reference: src/lib/client.js:1124-1239. */
  def safe(target: DataFrame, members: DataFrame, fetchedMissing: DataFrame,
           keys: Seq[String] = Seq("href"),
           modified: String = "modified_ms"): DataFrame = {
    val kept = Diff.keepMembers(target, members, keys)
    val inserts = Diff.newRows(kept,
      Dedup.keepLatest(fetchedMissing, keys, modified), keys)
    kept.unionByName(inserts)
  }

  /** Per-action row counts (delete/update/insert) for a delta merge — the
    * reference reports these from DML rowcounts
    * (src/lib/client.js:983-994 diagnostic union, A5). One pass, no
    * collect: returns a 3-row DataFrame (action, n). */
  def deltaActionCounts(target: DataFrame, staged: DataFrame,
                        tombstones: DataFrame,
                        keys: Seq[String] = Seq("href"),
                        modified: String = "modified_ms",
                        payload: String = "jsondata"): DataFrame = {
    val live = Dedup.keepLatest(staged, keys, modified)
    // single-pass classification: full-outer target↔live plus a tombstone
    // flag, then one aggregate — instead of three separate join+count scans
    val t = target.select((keys.map(col) :+ col(payload).as("__t_pay")
      :+ lit(true).as("__in_t")): _*)
    val l = live.select((keys.map(col) :+ col(payload).as("__l_pay")
      :+ lit(true).as("__in_l")): _*)
    val tb = tombstones.select(keys.map(col): _*).distinct()
      .withColumn("__in_tomb", lit(true))
    val j = t.join(l, keys, "full_outer").join(tb, keys, "left_outer")
    val counts = j.agg(
      sum(when(col("__in_t") && col("__in_tomb"), 1L).otherwise(0L)).as("d"),
      sum(when(col("__in_t") && col("__in_l") &&
        !(col("__t_pay") <=> col("__l_pay")), 1L).otherwise(0L)).as("u"),
      sum(when(col("__in_l") && col("__in_t").isNull, 1L).otherwise(0L)).as("i"))
    counts.select(explode(array(
        struct(lit("delete").as("action"), col("d").as("n")),
        struct(lit("update").as("action"), col("u").as("n")),
        struct(lit("insert").as("action"), col("i").as("n")))).as("r"))
      .select(col("r.action").as("action"), col("r.n").as("n"))
  }
}
