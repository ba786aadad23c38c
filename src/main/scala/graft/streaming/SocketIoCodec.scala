package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import graft.expr.JsonSupport

/** Offline socket.io text-frame codec — the wire half of the reference's
  * broadcast listener (client.js:1981-2047). The event-loop semantics
  * (reconnect cadence, room-per-path routing, burst coalescing, failed-
  * sync retry) live transport-independently in [[PushListener]]; this
  * codec closes the remaining parity gap at the sandbox's ceiling by
  * speaking the actual socket.io framing, validated against recorded
  * frames (no live server exists here, and none is needed to prove the
  * decode path).
  *
  * Framing (same text-frame grammar for the v2 and v4 clients the
  * reference switches between, client.js:1987-1989 — the protocol
  * differences live in the handshake JSON and connect-ack payload, not
  * in the event grammar this codec consumes):
  *
  *   engine.io: one leading digit — 0 open(json) · 1 close · 2 ping ·
  *     3 pong · 4 message(socket.io packet) · 6 noop
  *   socket.io (inside a message): one digit — 0 connect · 1 disconnect
  *     · 2 event · 3 ack · 4 connect_error; then an optional
  *     `/namespace,`, an optional numeric ack id, then the JSON payload
  *     (events: `["name", ...args]`).
  *
  * So `42["update",{"path":"/persons/123"}]` is THE frame the reference
  * syncs on, and `42["join","/persons"]` is what it emits after connect
  * (client.js:2006). Binary frames (socket.io types 5/6) are rejected
  * loudly — the broadcast channel is JSON-only.
  */
object SocketIoCodec {

  sealed trait Frame
  /** Engine.io handshake: sid + ping cadence. */
  final case class Open(sid: String, pingIntervalMs: Long) extends Frame
  case object Close extends Frame
  /** Server ping; a live client answers with [[encodePong]]. */
  case object Ping extends Frame
  case object Pong extends Frame
  case object Noop extends Frame
  /** Socket.io connect ack for `nsp` (v4 carries `{"sid":...}`). */
  final case class Connect(nsp: String) extends Frame
  final case class Disconnect(nsp: String) extends Frame
  final case class ConnectError(nsp: String, reason: String) extends Frame
  /** An event: `name` + raw JSON args array (index 1..n of the wire
    * payload), plus the namespace and optional ack id. */
  final case class Event(nsp: String, ackId: Option[Long], name: String,
                         args: Seq[JsonNode]) extends Frame
  /** An ack for a client-emitted event. */
  final case class Ack(nsp: String, ackId: Long, args: Seq[JsonNode])
    extends Frame

  def decode(frame: String): Frame = {
    require(frame.nonEmpty, "empty socket.io frame")
    val body = frame.substring(1)
    frame.charAt(0) match {
      case '0' =>
        val j = JsonSupport.mapper.readTree(body)
        Open(Option(j.get("sid")).map(_.asText).getOrElse(""),
          Option(j.get("pingInterval")).map(_.asLong).getOrElse(25000L))
      case '1' => Close
      case '2' => Ping
      case '3' => Pong
      case '4' => decodeSocketIo(body)
      case '6' => Noop
      case c => throw new IllegalArgumentException(
        s"unsupported engine.io packet type '$c' in frame: $frame")
    }
  }

  private def decodeSocketIo(s: String): Frame = {
    require(s.nonEmpty, "empty socket.io message body")
    val t = s.charAt(0)
    var i = 1
    // optional namespace: '/...' up to ','
    val nsp = if (i < s.length && s.charAt(i) == '/') {
      val end = s.indexOf(',', i)
      require(end > 0, s"unterminated namespace in socket.io packet: $s")
      val n = s.substring(i, end); i = end + 1; n
    } else "/"
    // optional ack id: digits before the payload
    val idStart = i
    while (i < s.length && s.charAt(i).isDigit) i += 1
    val ackId = if (i > idStart) Some(s.substring(idStart, i).toLong)
      else None
    val payload = s.substring(i)
    t match {
      case '0' => Connect(nsp)
      case '1' => Disconnect(nsp)
      case '2' =>
        val arr = JsonSupport.mapper.readTree(payload)
        require(arr != null && arr.isArray && arr.size() >= 1,
          s"socket.io event payload must be a non-empty array: $payload")
        val args = (1 until arr.size()).map(arr.get)
        Event(nsp, ackId, arr.get(0).asText, args)
      case '3' =>
        val arr = JsonSupport.mapper.readTree(payload)
        Ack(nsp, ackId.getOrElse(throw new IllegalArgumentException(
          s"ack packet without id: $s")),
          if (arr != null && arr.isArray)
            (0 until arr.size()).map(arr.get) else Nil)
      case '4' => ConnectError(nsp, payload)
      case '5' | '6' => throw new IllegalArgumentException(
        "binary socket.io frames are not part of the broadcast protocol")
      case c => throw new IllegalArgumentException(
        s"unknown socket.io packet type '$c': $s")
    }
  }

  /** The reference's post-connect room join (client.js:2006:
    * `socket.emit('join', config.api.path.split('?')[0])`). */
  def encodeJoin(path: String): String = {
    val clean = path.split('?')(0)
    "42" + JsonSupport.mapper.writeValueAsString(
      JsonSupport.mapper.createArrayNode()
        .add("join").add(clean))
  }

  /** Keep-alive answer to a server [[Ping]]. */
  def encodePong: String = "3"

  /** Client-originated keep-alive — engine.io v3 inverts the ping
    * direction (the client sends `2`, the server answers `3`). */
  def encodeClientPing: String = "2"

  /** An `update`-room frame → the [[PushListener]] event it routes.
    * The reference treats ANY update payload as "run one delta sync for
    * my path" (client.js:2023-2027) — the data's `path` field (or a bare
    * string arg) names the resource; its `type` field, when present,
    * rides along lowercased as the event kind. Non-update frames (pings,
    * connect acks, other rooms) map to None — the caller's pump skips
    * them. */
  def updateEvent(frame: String): Option[PushEvent] = decode(frame) match {
    case e: Event => eventToPush(e)
    case _ => None
  }

  /** The already-decoded form of [[updateEvent]] — live transports that
    * decode once for handshake/keep-alive dispatch reuse the Event here
    * instead of re-parsing the frame. */
  def eventToPush(e: Event): Option[PushEvent] = e match {
    case Event(_, _, "update", args) =>
      val path = args.headOption.map { a =>
        if (a.isTextual) a.asText
        else Option(a.get("path")).map(_.asText).getOrElse("")
      }.getOrElse("")
      val kind = args.headOption
        .flatMap(a => Option(a.get("type")).map(_.asText.toLowerCase))
        .getOrElse("update")
      if (path.nonEmpty) Some(PushEvent(path, kind)) else None
    case _ => None
  }
}

/** Frame-log transport: replays a recorded socket.io session (one text
  * frame per line — the shape a `socket.io` debug capture or a proxy
  * dump produces) through the codec into [[PushListener]] events. The
  * offline stand-in for a live socket: connect() validates the recorded
  * handshake (engine.io open + socket.io connect ack) exactly as a real
  * client would before joining its room; poll() walks the remaining
  * frames, surfacing `update` events and skipping keep-alives. */
final class FrameLogEventSource(frames: Seq[String]) extends EventSource {
  private var rest: List[String] = Nil

  override def connect(): Unit = {
    val it = frames.iterator
    val open = it.nextOption().map(SocketIoCodec.decode)
    open match {
      case Some(SocketIoCodec.Open(_, _)) =>
      case other => sys.error(s"recorded session must start with an " +
        s"engine.io open frame, got: $other")
    }
    val conn = it.nextOption().map(SocketIoCodec.decode)
    conn match {
      case Some(SocketIoCodec.Connect(_)) =>
      case other => sys.error(s"recorded session must ack the namespace " +
        s"connect, got: $other")
    }
    rest = it.toList
  }

  override def poll(timeoutMs: Long): Option[PushEvent] = {
    while (rest.nonEmpty) {
      val f = rest.head
      rest = rest.tail
      SocketIoCodec.updateEvent(f) match {
        case some @ Some(_) => return some
        case None => // ping/pong/noop/other rooms: skip, like a live pump
      }
    }
    // honor the blocking contract on exhaustion: the pump calls
    // poll(retryMs) in a loop, and an instant None would busy-spin the
    // listener thread at 100% CPU until stop()
    if (timeoutMs > 0) Thread.sleep(math.min(timeoutMs, 20L))
    None
  }

  override def close(): Unit = ()
}
