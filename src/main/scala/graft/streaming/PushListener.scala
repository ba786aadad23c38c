package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

/** T3 — the LIVE half of the push-trigger transport.
  *
  * [[StreamingSync]] models "an update event arrived → run one delta
  * micro-batch"; this file supplies the event loop around it, mirroring
  * the reference's socket.io listener semantics
  * (/root/reference/src/lib/client.js:1981-2047):
  *
  *   - connect to an event source; a failed connect (or a transport drop
  *     mid-stream) reconnects on a fixed cadence (reference: 5 s),
  *   - events carry a resource path and route to the handler registered
  *     for that path's "room" (room-per-path),
  *   - a burst of pending events for the same path coalesces into ONE
  *     handler run (the reference runs one catch-up sync, not N),
  *   - a handler failure re-queues the path and retries on the same
  *     cadence until it succeeds (reference: failed-sync retry loop),
  *   - the loop is single-threaded, so syncs are single-flight by
  *     construction (the reference serializes via its busy flag, T4).
  *
  * The transport itself is pluggable ([[EventSource]]): socket.io is not
  * reproducible in this harness, so the shipped implementations are an
  * in-JVM queue (tests, embedded pipelines) and a spool-directory watcher
  * (any external process can trigger syncs by dropping files). The loop
  * logic — the part the reference gets wrong at the edges and the part
  * worth testing — is transport-independent.
  */
final case class PushEvent(path: String, kind: String = "update")

/** Pluggable transport. Implementations must make `poll` tolerate being
  * called again after throwing (the listener closes + reconnects). */
trait EventSource {
  /** Open the transport; throw if unavailable (listener retries). */
  def connect(): Unit
  /** Next event, blocking up to `timeoutMs`; None on a quiet interval;
    * throw on transport failure (listener reconnects). */
  def poll(timeoutMs: Long): Option[PushEvent]
  def close(): Unit
}

/** In-JVM blocking-queue transport: embedded pipelines and tests. The
  * failure knobs simulate a flaky network deterministically. */
final class QueueEventSource extends EventSource {
  private val q = new LinkedBlockingQueue[PushEvent]()
  @volatile var failConnects: Int = 0
  @volatile var failNextPoll: Boolean = false
  val connects = new AtomicLong(0)

  def publish(e: PushEvent): Unit = q.put(e)

  override def connect(): Unit = {
    if (failConnects > 0) { failConnects -= 1; sys.error("connect refused") }
    connects.incrementAndGet(); ()
  }
  override def poll(timeoutMs: Long): Option[PushEvent] = {
    if (failNextPoll) { failNextPoll = false; sys.error("transport dropped") }
    Option(q.poll(timeoutMs, TimeUnit.MILLISECONDS))
  }
  override def close(): Unit = ()
}

/** Spool-directory transport: every file dropped into `dir` is one event
  * whose first line is the resource path (the shape a webhook receiver or
  * cron writer produces). Files are deleted after the read, so the spool
  * is the at-least-once buffer — exactly-once comes from the idempotent
  * merge downstream (T6), same as every other entry into the engine.
  *
  * Writer contract: create the file COMPLETE (write to a dot-prefixed or
  * out-of-dir temp name, then rename into the spool — rename is atomic on
  * POSIX). The reader enforces its half: dot-prefixed and empty files are
  * skipped, never deleted, so a writer mid-flight cannot lose an event to
  * a racing read. */
final class SpoolDirEventSource(dir: java.nio.file.Path) extends EventSource {
  import java.nio.file.Files
  override def connect(): Unit = {
    if (!Files.isDirectory(dir)) sys.error(s"spool dir $dir missing")
  }
  override def poll(timeoutMs: Long): Option[PushEvent] = {
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var out = Option.empty[PushEvent]
    // do/while, not while: poll(0) must still do ONE non-blocking sweep
    // (the pump's coalescing drain calls poll(0) — computing the deadline
    // before the first scan made that drain always-empty for this
    // transport, so spooled bursts never coalesced)
    var first = true
    while (out.isEmpty && (first || System.nanoTime() < deadline)) {
      first = false
      val candidates = Using.resource(Files.list(dir)) { s =>
        s.iterator().asScala
          .filter(f => Files.isRegularFile(f) &&
            !f.getFileName.toString.startsWith(".") && // writer temp names
            Files.size(f) > 0)                         // mid-write / empty
          .toSeq
          .sortBy(_.getFileName.toString)
      }
      // first candidate with a readable path wins; one whose first line
      // is not ready yet is left alone WITHOUT blocking the ones behind
      // it (no head-of-line wedge on a torn write)
      out = candidates.iterator.flatMap { f =>
        val path = Files.readString(f).linesIterator.nextOption().getOrElse("")
        if (path.nonEmpty) { Files.deleteIfExists(f); Some(PushEvent(path)) }
        else None
      }.nextOption()
      if (out.isEmpty) Thread.sleep(math.min(20L, timeoutMs))
    }
    out
  }
  override def close(): Unit = ()
}

/** The reconnecting, retrying, coalescing event loop. Handlers run on the
  * listener thread (single-flight); a throwing handler re-queues its path.
  *
  * @param rooms     path → sync action (room-per-path routing); events for
  *                  unregistered paths are counted and dropped
  * @param reconnectMs cadence for connect retries and post-drop reconnects
  * @param retryMs   cadence for failed-sync retries
  * @param sleep     injectable wait (tests pass a no-op; production
  *                  default is Thread.sleep)
  */
final class PushListener(source: EventSource,
                         rooms: Map[String, PushEvent => Unit],
                         reconnectMs: Long = 5000L,
                         retryMs: Long = 5000L,
                         sleep: Long => Unit = Thread.sleep,
                         nowMs: () => Long = System.currentTimeMillis,
                         maxBatch: Int = 1024) {
  private val running = new AtomicBoolean(false)
  // the FULL failed event is queued, not just its path: a handler that
  // branches on kind (delete vs update) must retry with the semantics of
  // the event that actually failed
  private val pendingRetry = new ConcurrentLinkedQueue[(PushEvent, Long)]()
  val eventsSeen = new AtomicLong(0)
  val syncsRun = new AtomicLong(0)
  val syncFailures = new AtomicLong(0)
  val reconnects = new AtomicLong(0)
  val unroutedEvents = new AtomicLong(0)
  @volatile private var thread: Thread = _
  // guards `handling` and the interrupt in stop(): a running handler (a
  // sync) must never see the interrupt meant for a parked poll or sleep
  private val handlerLock = new Object
  private var handling = false

  def start(): Unit = {
    require(running.compareAndSet(false, true), "listener already running")
    thread = new Thread(() => loop(), "graft-push-listener")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    running.set(false)
    val t = thread
    if (t != null) {
      // a loop parked in sleep(reconnectMs) or a blocking poll must not
      // pin shutdown for a full cadence: the InterruptedException lands
      // in the loop's catch, which clears `running` and exits. An
      // in-flight handler is left to finish within the join timeout; the
      // loop exits after it because `running` is already false
      handlerLock.synchronized(if (!handling) t.interrupt())
      t.join(10000L)
    }
    source.close()
  }

  /** Drive one connect attempt + event pump; exits when stopped. */
  private def loop(): Unit = {
    while (running.get()) {
      try {
        source.connect()
        pump()
      } catch {
        case _: InterruptedException => running.set(false)
        case _: Throwable if running.get() =>
          reconnects.incrementAndGet()
          sleep(reconnectMs) // reference: 5 s reconnect cadence
      }
    }
  }

  private def pump(): Unit = {
    while (running.get()) {
      runDueRetries()
      // block only as long as the nearest retry deadline allows
      val wait = dueInMs().fold(retryMs)(d => math.max(1L, math.min(d, retryMs)))
      source.poll(wait) match {
        case Some(first) =>
          // coalesce the burst: drain what is immediately available —
          // BOUNDED, so a publisher that outpaces the drain cannot starve
          // handler execution or grow the batch without limit (the
          // overflow just lands in the next batch) — then run each
          // distinct path once with ITS latest event (a handler must
          // never see another path's kind). A transport drop DURING the
          // drain must not lose the events already dequeued
          // (at-least-once): handle the partial batch first, then
          // rethrow so the reconnect path runs.
          var batch = Vector(first)
          var dropped = Option.empty[Throwable]
          try {
            var more = source.poll(0L)
            while (more.isDefined && batch.size < maxBatch) {
              batch :+= more.get; more = source.poll(0L)
            }
          } catch { case e: Throwable => dropped = Some(e) }
          eventsSeen.addAndGet(batch.size)
          val latestPerPath = batch.groupBy(_.path).view.mapValues(_.last)
          batch.map(_.path).distinct
            .foreach(p => runRoom(p, latestPerPath(p)))
          dropped.foreach(e => throw e)
        case None => ()
      }
    }
  }

  private def runRoom(path: String, event: PushEvent): Unit =
    rooms.get(path) match {
      case None => unroutedEvents.incrementAndGet(); ()
      case Some(handler) =>
        // once stopped, start no handler: stop() may already have
        // interrupted this thread, which would fail the sync
        val go = handlerLock.synchronized {
          handling = running.get(); handling
        }
        if (go) try {
          handler(event.copy(path = path)); syncsRun.incrementAndGet(); ()
        } catch {
          case e: Throwable =>
            syncFailures.incrementAndGet()
            pendingRetry.add(event.copy(path = path) -> (nowMs() + retryMs)); ()
        } finally handlerLock.synchronized { handling = false }
    }

  private def dueInMs(): Option[Long] = {
    import scala.jdk.CollectionConverters._
    val now = nowMs()
    pendingRetry.iterator().asScala.map(_._2 - now).minOption
  }

  private def runDueRetries(): Unit = {
    import scala.jdk.CollectionConverters._
    val now = nowMs()
    val (due, later) = pendingRetry.iterator().asScala.toVector
      .partition(_._2 <= now)
    if (due.nonEmpty) {
      pendingRetry.clear()
      later.foreach(pendingRetry.add)
      // one retry per path (coalesced like the live pump), replaying the
      // LATEST failed event for that path verbatim — kind included
      val latestPerPath = due.map(_._1).groupBy(_.path).view.mapValues(_.last)
      due.map(_._1.path).distinct
        .foreach(p => runRoom(p, latestPerPath(p)))
    }
  }
}
