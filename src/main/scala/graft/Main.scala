package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.runner._

/** CLI entry point — the analog of the reference's `bin/sri2db.js`
  * (sync-type dispatch table, client.js:1948-1956): read an SRI page
  * source, run the requested sync strategy into a parquet target.
  *
  * Usage:
  *   graft.Main --pages <dir> --target <path> --state <path>
  *     [--synctype fullSync|deltaSync|safeDeltaSync] [--dry-run]
  *     [--table <name>] [--cpus N]
  *     [--listen <spoolDir> [--path <resourcePath>] [--listen-ms N]
  *       [--reconnect-ms N]]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val cpus = opts.getOrElse("cpus", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-sync")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (opts.contains("listen")) {
        val listener = runListen(spark, opts)
        // bounded listen for drills/tests; the reference's --listen
        // (bin/sri2db.js:59-62) runs until the process dies — default
        val t = opts.get("listen-ms").map(_.toLong)
        t match {
          case Some(ms) => Thread.sleep(ms); listener.stop()
          case None =>
            // block on a shutdown-hook-released latch (NOT a self-join,
            // which never returns) so the finally spark.stop() runs on
            // SIGTERM/SIGINT instead of relying on process kill
            val done = new java.util.concurrent.CountDownLatch(1)
            Runtime.getRuntime.addShutdownHook(
              new Thread(() => { listener.stop(); done.countDown() }))
            done.await()
        }
      } else {
        val result = run(spark, opts)
        println(s"synced: type=${result.syncType} rows=${result.rowsAfter} " +
          s"watermark=${result.watermark.getOrElse("-")} " +
          s"elapsedMs=${result.elapsedMs}")
      }
    } finally spark.stop()
  }

  /** `--listen` mode — the reference CLI's broadcast-listener wiring
    * (bin/sri2db.js:59-62: `client.installBroadCastListeners()` instead
    * of a one-shot sync): start a [[graft.streaming.PushListener]],
    * routing the configured resource path's room to one configured sync
    * per (coalesced) event burst. Transport: a `ws://`/`wss://` or
    * `http(s)://` value dials the live socket.io websocket
    * ([[graft.streaming.WebSocketEventSource]], the reference's actual
    * broker channel); anything else is a spool directory.
    * Returns the STARTED listener; callers own stop(). */
  def runListen(spark: SparkSession,
                opts: Map[String, String]): graft.streaming.PushListener = {
    import graft.streaming._
    val where = opts("listen")
    val room = opts.getOrElse("path", "/")
    val cadence = opts.getOrElse("reconnect-ms", "5000").toLong
    val source: EventSource =
      if (where.startsWith("ws://") || where.startsWith("wss://"))
        new WebSocketEventSource(where, joinPath = room)
      else if (where.startsWith("http://") || where.startsWith("https://"))
        new WebSocketEventSource(WebSocketEventSource.uriFor(where),
          joinPath = room)
      else new SpoolDirEventSource(java.nio.file.Paths.get(where))
    val listener = new PushListener(
      source,
      rooms = Map(room -> { _ => run(spark, opts); () }),
      reconnectMs = cadence, retryMs = cadence)
    listener.start()
    listener
  }

  def run(spark: SparkSession, opts: Map[String, String]): SyncResult = {
    val pages = opts("pages")
    val cfg = SyncConfig(
      tableName = opts.getOrElse("table", "sri2db"),
      statePath = opts("state"),
      dryRun = opts.contains("dry-run"))
    val runner = new SyncRunner(spark, cfg)
    val target = new ParquetTarget(spark, opts("target"))

    val src = spark.read.format("sri").option("pages", pages).load()
    val staged: DataFrame = src.where(col("resourcetype") =!= "deleted" ||
      col("resourcetype").isNull)
    // modified_ms stays so deltaSync can fence the tombstone pass with the
    // watermark, which the source then sends as `modifiedSince=`
    val tombs = src.where(col("resourcetype") === "deleted")
      .select("href", "modified_ms")

    opts.getOrElse("synctype", "deltaSync") match {
      case "fullSync" => runner.fullSync(staged, target)
      case "deltaSync" => runner.deltaSync(staged, tombs, target)
      case "safeDeltaSync" =>
        // authoritative member list = LIVE resources only (the reference
        // builds it from the filtered non-deleted list, client.js:1703);
        // including tombstoned hrefs would resurrect deleted rows
        val members = staged.select("href")
        runner.safeDeltaSync(staged, tombs, members,
          missing => staged.join(missing, Seq("href"), "left_semi"), target)
      case other => throw new IllegalArgumentException(
        s"unknown --synctype $other (fullSync|deltaSync|safeDeltaSync)")
    }
  }

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val k = a.drop(2)
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          out(k) = args(i + 1); i += 2
        } else { out(k) = "true"; i += 1 }
      } else i += 1
    }
    out.toMap
  }
}
