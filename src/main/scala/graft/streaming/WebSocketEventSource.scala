package graft.streaming

import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}

/** Live socket.io transport over `java.net.http.WebSocket` (JDK
  * built-in, no third-party deps) — the network half the reference gets
  * from the socket.io client library (client.js:1987-2006): open the
  * websocket, complete the engine.io/socket.io handshake, join the
  * configured resource room, answer server pings, and surface
  * `update`-room frames as [[PushEvent]]s through the [[EventSource]]
  * seam — so [[PushListener]]'s reconnect/coalesce/retry loop drives a
  * REAL server exactly as it drives the spool and queue transports.
  *
  * Protocol: text frames only (the broadcast channel is JSON —
  * [[SocketIoCodec]] rejects binary), v4 handshake by default (client
  * sends `40` to request the default-namespace connect after the
  * engine.io open; a v2 server acks unprompted, so `protocolV4 = false`
  * simply skips that send — the event grammar downstream is identical,
  * which is why the reference can switch client majors by config,
  * client.js:1987-1989).
  *
  * Failure contract: any transport error or close lands in `failure`
  * and the next `poll` throws — the listener closes + reconnects on its
  * cadence. `connect` blocks until the room join is sent (open →
  * connect ack → join) or times out.
  */
final class WebSocketEventSource(
    uri: String,
    joinPath: String,
    protocolV4: Boolean = true,
    connectTimeoutMs: Long = 10000L) extends EventSource {

  import java.net.http.{HttpClient, WebSocket}

  private val events = new LinkedBlockingQueue[PushEvent]()
  @volatile private var ws: WebSocket = _
  @volatile private var failure: Throwable = _
  @volatile private var joined: CountDownLatch = new CountDownLatch(1)
  @volatile private var pinger: java.util.concurrent.ScheduledExecutorService = _

  override def connect(): Unit = {
    events.clear(); failure = null
    joined = new CountDownLatch(1)
    val listener = new WebSocket.Listener {
      // onText may deliver fragments; accumulate until `last`
      private val partial = new StringBuilder
      override def onText(w: WebSocket, data: CharSequence,
                          last: Boolean): java.util.concurrent.CompletionStage[_] = {
        partial.append(data)
        if (last) {
          val frame = partial.toString; partial.setLength(0)
          handleFrame(w, frame)
        }
        w.request(1)
        null
      }
      override def onError(w: WebSocket, err: Throwable): Unit = {
        failure = err; joined.countDown()
      }
      override def onClose(w: WebSocket, code: Int, reason: String)
      : java.util.concurrent.CompletionStage[_] = {
        failure = new java.io.IOException(
          s"websocket closed by server: $code $reason")
        joined.countDown()
        null
      }
    }
    ws = try HttpClient.newHttpClient().newWebSocketBuilder()
      .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
      .buildAsync(java.net.URI.create(uri), listener)
      .join()
    catch { case e: java.util.concurrent.CompletionException =>
      throw new java.io.IOException(s"websocket connect failed: $uri",
        if (e.getCause != null) e.getCause else e)
    }
    if (!joined.await(connectTimeoutMs, TimeUnit.MILLISECONDS))
      throw new java.io.IOException(
        s"socket.io handshake timed out after ${connectTimeoutMs}ms: $uri")
    if (failure != null)
      throw new java.io.IOException("socket.io handshake failed", failure)
  }

  /** One decoded inbound frame: handshake steps, keep-alives, events. */
  private def handleFrame(w: WebSocket, frame: String): Unit =
    try SocketIoCodec.decode(frame) match {
      case SocketIoCodec.Open(_, pingIntervalMs) =>
        // v4: the client requests the default-namespace connect; a v2
        // server acks without being asked
        if (protocolV4) { w.sendText("40", true); () }
        else startPinger(w, pingIntervalMs)
      case SocketIoCodec.Connect(_) =>
        // the reference's post-connect room join (client.js:2006)
        w.sendText(SocketIoCodec.encodeJoin(joinPath), true)
        joined.countDown()
      case SocketIoCodec.Ping =>
        w.sendText(SocketIoCodec.encodePong, true); ()
      case e: SocketIoCodec.Event =>
        SocketIoCodec.eventToPush(e).foreach(events.put)
      case SocketIoCodec.Close =>
        failure = new java.io.IOException("server sent engine.io close")
      case SocketIoCodec.Pong | SocketIoCodec.Noop
         | _: SocketIoCodec.Disconnect | _: SocketIoCodec.Ack => ()
      case SocketIoCodec.ConnectError(_, reason) =>
        failure = new java.io.IOException(s"namespace connect error: $reason")
        joined.countDown()
    } catch {
      case t: Throwable => failure = t // undecodable frame → reconnect
    }

  /** engine.io v3 inverts the keep-alive direction: the CLIENT
    * originates `2` pings at the handshake's pingInterval and the
    * server answers `3` — without them a real v2/v3 server times the
    * connection out after pingTimeout and the listener reconnect-loops.
    * (v4 servers ping the client; [[handleFrame]] answers those.) */
  private def startPinger(w: WebSocket, intervalMs: Long): Unit = {
    stopPinger()
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, "graft-eio3-ping"); t.setDaemon(true); t })
    val period = math.max(1000L, intervalMs)
    ex.scheduleAtFixedRate(
      () => try { w.sendText(SocketIoCodec.encodeClientPing, true); () }
            catch { case _: Throwable => () },
      period, period, TimeUnit.MILLISECONDS)
    pinger = ex
  }

  private def stopPinger(): Unit = {
    val p = pinger
    if (p != null) { p.shutdownNow(); pinger = null }
  }

  override def poll(timeoutMs: Long): Option[PushEvent] = {
    // deliver buffered events before surfacing a drop: the frames
    // arrived before the failure, losing them would violate
    // at-least-once
    val buffered = events.poll()
    if (buffered != null) return Some(buffered)
    if (failure != null) {
      val f = failure; failure = null
      throw new java.io.IOException("socket.io transport dropped", f)
    }
    Option(events.poll(math.max(0L, timeoutMs), TimeUnit.MILLISECONDS))
  }

  override def close(): Unit = {
    stopPinger()
    val w = ws
    if (w != null) {
      try { w.sendClose(WebSocket.NORMAL_CLOSURE, "bye"); () }
      catch { case _: Throwable => () }
      w.abort()
    }
  }
}

object WebSocketEventSource {
  /** The engine.io websocket endpoint for an http(s) base URL:
    * `ws(s)://host[:port]/socket.io/?EIO=<3|4>&transport=websocket` —
    * the URL shape both socket.io client majors dial. */
  def uriFor(httpBase: String, v4: Boolean = true): String = {
    val u = java.net.URI.create(httpBase)
    val scheme = if (u.getScheme == "https") "wss" else "ws"
    val eio = if (v4) 4 else 3
    s"$scheme://${u.getAuthority}/socket.io/?EIO=$eio&transport=websocket"
  }
}
