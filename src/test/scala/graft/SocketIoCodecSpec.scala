package graft

import java.util.concurrent.ConcurrentLinkedQueue
import graft.streaming._
import graft.streaming.SocketIoCodec._

/** Golden-frame validation of the socket.io text codec — recorded
  * frames of the shape the reference's broadcast server emits
  * (client.js:1981-2047), decoded offline: the sandbox's ceiling for
  * the one transport it cannot run live. */
class SocketIoCodecSpec extends SparkSuite {

  // a recorded v4 session: engine.io open, socket.io connect ack,
  // keep-alive ping, two update-room events, a foreign-room event
  private val recorded = Seq(
    """0{"sid":"lv_VI97HAXpY6yYzAAAC","upgrades":["websocket"],""" +
      """"pingInterval":25000,"pingTimeout":20000}""",
    """40{"sid":"wZX3oN0bpfIa-32A"}""",
    "2",
    """42["update",{"type":"UPDATE","path":"/persons/123"}]""",
    """42["update",{"type":"DELETE","path":"/things/9"}]""",
    """42["audit",{"path":"/ignored"}]""")

  test("handshake frames decode: open carries sid + ping cadence, " +
      "connect acks the namespace") {
    assert(decode(recorded.head) ===
      Open("lv_VI97HAXpY6yYzAAAC", 25000L))
    assert(decode(recorded(1)) === Connect("/"))
    assert(decode("2") === Ping)
    assert(encodePong === "3")
  }

  test("update events decode into PushEvents; other rooms and " +
      "keep-alives map to None") {
    assert(updateEvent(recorded(3)) ===
      Some(PushEvent("/persons/123", "update")))
    assert(updateEvent(recorded(4)) ===
      Some(PushEvent("/things/9", "delete")))
    assert(updateEvent(recorded(5)) === None, "foreign room must not route")
    assert(updateEvent("2") === None)
    assert(updateEvent("40") === None)
  }

  test("namespace + ack id + bare-string path parse; join emit matches " +
      "the reference's post-connect frame (client.js:2006)") {
    decode("""42/audit,7["update","/things/9"]""") match {
      case Event(nsp, ackId, name, args) =>
        assert(nsp === "/audit" && ackId === Some(7L) &&
          name === "update" && args.head.asText === "/things/9")
      case other => fail(s"expected an Event, got $other")
    }
    assert(updateEvent("""42["update","/bare/path"]""") ===
      Some(PushEvent("/bare/path", "update")))
    // the query string is stripped before joining, like the reference
    assert(encodeJoin("/persons?limit=500&expand=FULL") ===
      """42["join","/persons"]""")
  }

  test("binary frames and unknown packet types fail loudly") {
    val e1 = intercept[IllegalArgumentException] {
      decode("""451-["update",{"_placeholder":true,"num":0}]""")
    }
    assert(e1.getMessage.contains("binary"))
    intercept[IllegalArgumentException] { decode("9garbage") }
    intercept[IllegalArgumentException] { decode("") }
  }

  test("frame-log transport replays a recorded session into the " +
      "listener: handshake validated, updates routed per room") {
    val src = new FrameLogEventSource(recorded)
    val got = new ConcurrentLinkedQueue[String]()
    val listener = new PushListener(src,
      rooms = Map(
        "/persons/123" -> (e => { got.add(s"${e.path}:${e.kind}"); () }),
        "/things/9" -> (e => { got.add(s"${e.path}:${e.kind}"); () })),
      reconnectMs = 5L, retryMs = 20L, sleep = _ => ())
    listener.start()
    try {
      val end = System.currentTimeMillis() + 15000L
      while (got.size < 2 && System.currentTimeMillis() < end)
        Thread.sleep(10)
      assert(got.toArray.toSet ===
        Set("/persons/123:update", "/things/9:delete"))
    } finally listener.stop()
  }

  test("a recording without a handshake refuses to connect (the " +
      "listener's reconnect path owns the retry)") {
    val src = new FrameLogEventSource(Seq("""42["update","/x"]"""))
    val e = intercept[RuntimeException] { src.connect() }
    assert(e.getMessage.contains("open frame"))
  }
}
