package graft

/** Sync-state value: epoch-millis watermark + sync-start stamp
  * (reference: src/lib/client.js:614-699 `getLastSyncDates`).
  *
  * The watermark is carried as epoch-millis rather than a timestamp: the
  * reference's own state store uses epoch-millis bigints
  * (reference: src/lib/client.js:725-726), and a Long sorts/compares
  * identically across engines, which keeps the DuckDB oracle hash-stable.
  */
final case class SyncState(lastModified: Long, syncStart: Long)

object SyncType {
  val Full = "FULL"
  val Delta = "DELTA"
  val SafeDelta = "SAFEDELTA"
}
