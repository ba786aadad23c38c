package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import graft.runner.{ParquetTarget, SyncConfig, SyncRunner}
import graft.streaming.{EventSource, PushEvent, PushListener, QueueEventSource, SpoolDirEventSource}

/** Live push-trigger transport (T3): event loop semantics mirroring the
  * reference's socket.io listener — reconnect cadence, room-per-path
  * routing, failed-sync retry until success, burst coalescing — plus the
  * end-to-end scenario: a published event drives a REAL delta merge into
  * a parquet target. */
class PushListenerSpec extends SparkSuite {
  import spark.implicits._

  private def await(deadlineMs: Long = 15000L)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + deadlineMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(10)
    assert(cond, "condition not met before deadline")
  }

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix)

  test("published event fires a real delta merge into the target") {
    val dir = tmp("push-target")
    val target = new ParquetTarget(spark, s"$dir/apptable")
    val runner = new SyncRunner(spark,
      SyncConfig("apptable", s"$dir/state"))
    target.overwrite(Seq(("/things/1", 100L, "a"))
      .toDF("href", "modified_ms", "jsondata"))
    val delta = Seq(("/things/1", 200L, "b"), ("/things/2", 200L, "c"))
      .toDF("href", "modified_ms", "jsondata")
    val none = Seq.empty[String].toDF("href")

    val src = new QueueEventSource
    val listener = new PushListener(src,
      rooms = Map("/things" -> (_ => { runner.deltaSync(delta, none, target); () })),
      reconnectMs = 10L, retryMs = 10L, sleep = _ => ())
    listener.start()
    try {
      src.publish(PushEvent("/things"))
      await()(listener.syncsRun.get() == 1)
      val got = target.read(spark).as[(String, Long, String)].collect().toSet
      assert(got === Set(("/things/1", 200L, "b"), ("/things/2", 200L, "c")))
    } finally listener.stop()
  }

  test("failed sync retries on the cadence until it succeeds") {
    val attempts = new AtomicInteger(0)
    val src = new QueueEventSource
    val listener = new PushListener(src,
      rooms = Map("/flaky" -> (_ =>
        if (attempts.incrementAndGet() < 3) sys.error("db down") else ())),
      reconnectMs = 5L, retryMs = 5L, sleep = _ => ())
    listener.start()
    try {
      src.publish(PushEvent("/flaky"))
      await()(listener.syncsRun.get() == 1)
      assert(attempts.get() === 3, "two failures then one success")
      assert(listener.syncFailures.get() === 2)
    } finally listener.stop()
  }

  test("transport drop reconnects and keeps consuming") {
    val src = new QueueEventSource
    val hits = new AtomicInteger(0)
    val listener = new PushListener(src,
      rooms = Map("/r" -> (_ => { hits.incrementAndGet(); () })),
      reconnectMs = 5L, retryMs = 5L, sleep = _ => ())
    listener.start()
    try {
      src.publish(PushEvent("/r"))
      await()(hits.get() == 1)
      src.failNextPoll = true // drop mid-stream → close + reconnect path
      src.publish(PushEvent("/r"))
      await()(hits.get() == 2)
      // the drop may be rescued by the drain path (event handled FIRST,
      // then the reconnect runs) — await the counters rather than assert
      // the instant hits flips
      await()(listener.reconnects.get() >= 1)
      await()(src.connects.get() >= 2)
    } finally listener.stop()
  }

  test("refused connects retry until the source comes up") {
    val src = new QueueEventSource
    src.failConnects = 3
    val hits = new AtomicInteger(0)
    val listener = new PushListener(src,
      rooms = Map("/r" -> (_ => { hits.incrementAndGet(); () })),
      reconnectMs = 5L, retryMs = 5L, sleep = _ => ())
    listener.start()
    try {
      src.publish(PushEvent("/r"))
      await()(hits.get() == 1)
      assert(listener.reconnects.get() === 3)
    } finally listener.stop()
  }

  test("a burst of events for one path coalesces into one sync") {
    val src = new QueueEventSource
    // pre-fill the queue BEFORE starting so the drain sees the burst
    (1 to 5).foreach(_ => src.publish(PushEvent("/bulk")))
    src.publish(PushEvent("/other"))
    val bulk = new AtomicInteger(0); val other = new AtomicInteger(0)
    val listener = new PushListener(src,
      rooms = Map("/bulk" -> (_ => { bulk.incrementAndGet(); () }),
        "/other" -> (_ => { other.incrementAndGet(); () })),
      reconnectMs = 5L, retryMs = 5L, sleep = _ => ())
    listener.start()
    try {
      await()(other.get() == 1)
      assert(bulk.get() === 1, "5 pending events for one path = one sync")
      assert(listener.eventsSeen.get() === 6)
    } finally listener.stop()
  }

  test("stop() during a running sync lets it finish instead of failing it") {
    val src = new QueueEventSource
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val listener = new PushListener(src,
      rooms = Map("/slow" -> (_ => { entered.countDown(); release.await() })),
      reconnectMs = 5L, retryMs = 5L, sleep = _ => ())
    listener.start()
    src.publish(PushEvent("/slow"))
    assert(entered.await(15, java.util.concurrent.TimeUnit.SECONDS))
    // stop() joins the listener thread, so it runs on its own thread while
    // this one releases the handler
    val stopper = new Thread(() => listener.stop())
    stopper.start()
    Thread.sleep(200) // stop() has cleared `running` and is joining
    release.countDown()
    stopper.join(15000L)
    assert(!stopper.isAlive)
    assert(listener.syncsRun.get() === 1)
    assert(listener.syncFailures.get() === 0)
  }

  test("unrouted events are counted, not fatal") {
    val src = new QueueEventSource
    val listener = new PushListener(src, rooms = Map.empty,
      reconnectMs = 5L, retryMs = 5L, sleep = _ => ())
    listener.start()
    try {
      src.publish(PushEvent("/nowhere"))
      await()(listener.unroutedEvents.get() == 1)
    } finally listener.stop()
  }

  test("event-driven streaming merge: each event drains new files " +
      "exactly-once through the checkpoint") {
    // the reference's production mode end-to-end: an update event fires
    // one AvailableNow streaming merge; the SAME checkpoint is reused
    // across handler invocations, so each event processes only files the
    // previous drain has not seen (exactly-once via source tracking +
    // the idempotent merge)
    import org.apache.spark.sql.types._
    val dir = tmp("push-stream")
    val srcDir = s"$dir/in"; java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(srcDir))
    val target = new ParquetTarget(spark, s"$dir/apptable")
    val schema = StructType(Seq(StructField("href", StringType),
      StructField("modified_ms", LongType),
      StructField("jsondata", StringType),
      StructField("deleted", BooleanType)))
    def runOneDrain(): Unit = {
      val stream = spark.readStream.schema(schema).json(srcDir)
      val q = graft.streaming.StreamingSync.deltaMergeStream(spark, stream,
        isTombstone = col("deleted") === true, target,
        checkpoint = s"$dir/ckpt")
      q.awaitTermination()
    }
    val src = new QueueEventSource
    val listener = new PushListener(src,
      rooms = Map("/stream" -> (_ => runOneDrain())),
      reconnectMs = 10L, retryMs = 10L, sleep = _ => ())
    listener.start()
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/b1.json"),
        """{"href":"/r/1","modified_ms":100,"jsondata":"a","deleted":false}
          |{"href":"/r/2","modified_ms":100,"jsondata":"b","deleted":false}
          |""".stripMargin)
      src.publish(PushEvent("/stream"))
      await(30000L)(listener.syncsRun.get() == 1)
      assert(target.read(spark).select("href", "jsondata")
        .as[(String, String)].collect().toSet ===
        Set(("/r/1", "a"), ("/r/2", "b")))
      // second event: an update + a tombstone, new file only
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/b2.json"),
        """{"href":"/r/1","modified_ms":200,"jsondata":"a2","deleted":false}
          |{"href":"/r/2","modified_ms":200,"jsondata":null,"deleted":true}
          |""".stripMargin)
      src.publish(PushEvent("/stream"))
      await(30000L)(listener.syncsRun.get() == 2)
      assert(target.read(spark).select("href", "jsondata")
        .as[(String, String)].collect().toSet === Set(("/r/1", "a2")))
    } finally listener.stop()
  }

  test("failed-sync retry replays the original event's kind verbatim") {
    // a handler that branches on kind (delete vs update) must see the
    // SAME kind on retry as on the run that failed
    val kinds = scala.collection.mutable.ArrayBuffer.empty[String]
    val attempts = new AtomicInteger(0)
    val src = new QueueEventSource
    val listener = new PushListener(src,
      rooms = Map("/k" -> (e => {
        kinds.synchronized { kinds += e.kind }
        if (attempts.incrementAndGet() < 2) sys.error("db down")
      })),
      reconnectMs = 5L, retryMs = 5L, sleep = _ => ())
    listener.start()
    try {
      src.publish(PushEvent("/k", kind = "delete"))
      await()(listener.syncsRun.get() == 1)
      assert(kinds.synchronized(kinds.toSeq) === Seq("delete", "delete"))
    } finally listener.stop()
  }

  test("spool burst coalesces: poll(0) sweeps the directory once") {
    // the pump's coalescing drain uses poll(0); the spool transport must
    // do one non-blocking sweep, not return None before the first scan
    val spool = tmp("push-spool-burst")
    val src = new SpoolDirEventSource(spool)
    src.connect()
    java.nio.file.Files.writeString(spool.resolve("e1"), "/a\n")
    java.nio.file.Files.writeString(spool.resolve("e2"), "/b\n")
    assert(src.poll(0L) === Some(PushEvent("/a")))
    assert(src.poll(0L) === Some(PushEvent("/b")))
    assert(src.poll(0L) === None)
  }

  test("CLI --listen E2E: a dropped spool file drives one delta merge " +
      "into the target through Main (bin/sri2db.js:59-62 parity)") {
    val base = tmp("cli-listen")
    java.nio.file.Files.writeString(base.resolve("page0.json"),
      """{"results": [
        |  {"href": "/a/1", "$$expanded": {"key": "1", "$$meta":
        |    {"permalink": "/a/1", "type": "A",
        |     "modified": "2024-01-10T00:00:00.000Z"}}},
        |  {"href": "/a/2", "$$expanded": {"key": "2", "$$meta":
        |    {"permalink": "/a/2", "type": "A",
        |     "modified": "2024-01-12T00:00:00.000Z"}}}
        |]}""".stripMargin)
    val spool = tmp("cli-listen-spool")
    val listener = Main.runListen(spark, Map(
      "pages" -> base.toString, "target" -> s"$base/tbl",
      "state" -> s"$base/state", "listen" -> spool.toString,
      "path" -> "/a", "reconnect-ms" -> "10"))
    try {
      java.nio.file.Files.writeString(spool.resolve("e1"), "/a\n")
      await() {
        listener.syncsRun.get() >= 1 &&
          new java.io.File(s"$base/tbl").exists()
      }
      assert(spark.read.parquet(s"$base/tbl").count() === 2)
      assert(listener.syncFailures.get() === 0)
    } finally listener.stop()
  }

  test("spool-directory source delivers dropped files as events") {
    val spool = tmp("push-spool")
    val src = new SpoolDirEventSource(spool)
    val hits = new AtomicInteger(0)
    val listener = new PushListener(src,
      rooms = Map("/spooled" -> (_ => { hits.incrementAndGet(); () })),
      reconnectMs = 5L, retryMs = 20L, sleep = _ => ())
    listener.start()
    try {
      java.nio.file.Files.writeString(spool.resolve("e1"), "/spooled\n")
      await()(hits.get() == 1)
      assert(!java.nio.file.Files.exists(spool.resolve("e1")),
        "consumed spool file is deleted")
    } finally listener.stop()
  }
}
