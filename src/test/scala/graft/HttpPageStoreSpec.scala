package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.source.{HttpPageStore, SriTable}

/** Next-link walk, relative-URL resolution, retry policy, bounded driver
  * retention, api.headers — offline via an injected fetch function (the
  * HTTP layer itself is tested against a loopback HttpServer below). */
class HttpPageStoreSpec extends AnyFunSuite {

  private val pages = Map(
    "https://api.example.org/a?limit=2" ->
      """{"$$meta": {"next": "/a?limit=2&offset=2"}, "results": [1, 2]}""",
    "https://api.example.org/a?limit=2&offset=2" ->
      """{"$$meta": {"next": "/a?limit=2&offset=4"}, "results": [3, 4]}""",
    "https://api.example.org/a?limit=2&offset=4" ->
      """{"$$meta": {}, "results": [5]}""")

  test("walks $$meta.next to enumerate pages, resolving relative links; " +
    "small corpora stay resident so partitions skip the second GET") {
    var fetches = 0
    val store = new HttpPageStore("https://api.example.org/a?limit=2",
      fetchFn = { u => fetches += 1; pages(u) })
    assert(store.listPages() === Seq(
      "https://api.example.org/a?limit=2",
      "https://api.example.org/a?limit=2&offset=2",
      "https://api.example.org/a?limit=2&offset=4"))
    assert(fetches === 3)
    // within the byte budget, walked bodies are still cached → partition
    // readers won't re-fetch
    assert(store.cachedBody("https://api.example.org/a?limit=2")
      .contains(pages("https://api.example.org/a?limit=2")))
    assert(fetches === 3)
  }

  test("driver retention is BOUNDED: a 1000-page walk keeps only the " +
    "byte-budgeted LRU tail, not the corpus") {
    // ~2 KB per page body; budget of 10 KB → at most ~5 resident bodies
    val body = "x" * 2000
    def page(i: Int): String =
      if (i < 999)
        s"""{"$$$$meta": {"next": "/p?offset=${i + 1}"}, "pad": "$body"}"""
      else s"""{"$$$$meta": {}, "pad": "$body"}"""
    val store = new HttpPageStore("https://h.example.org/p?offset=0",
      fetchFn = { u =>
        val off = u.substring(u.indexOf("offset=") + 7).toInt
        page(off)
      },
      maxCacheBytes = 10000)
    val urls = store.listPages()
    assert(urls.size === 1000)
    assert(store.retainedBodies <= 5) // O(budget), not O(pages)
    // the first page was evicted long ago — its partition re-fetches
    assert(store.cachedBody("https://h.example.org/p?offset=0").isEmpty)
    // the last page is still warm
    assert(store.cachedBody(urls.last).contains(page(999)))
    // evicted pages remain fetchable (the executor path)
    assert(store.fetch(urls.head) === page(0))
  }

  test("a single page larger than the budget is never retained") {
    val store = new HttpPageStore("u",
      fetchFn = _ => s"""{"$$$$meta": {}, "pad": "${"y" * 100}"}""",
      maxCacheBytes = 50)
    store.listPages()
    assert(store.retainedBodies === 0)
    assert(store.cachedBody("u").isEmpty)
  }

  test("retries transient failures with backoff, then succeeds") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val store = new HttpPageStore("u",
      fetchFn = { _ =>
        calls += 1
        if (calls < 3) throw new RuntimeException("flaky")
        "ok"
      },
      maxRetries = 3, retryBackoffMs = 10, sleepFn = sleeps += _)
    assert(store.fetch("u") === "ok")
    assert(calls === 3)
    assert(sleeps.toSeq === Seq(10L, 20L)) // linear backoff
  }

  test("gives up after maxRetries and surfaces the cause") {
    val store = new HttpPageStore("u",
      fetchFn = _ => throw new RuntimeException("down"),
      maxRetries = 2, retryBackoffMs = 1, sleepFn = _ => ())
    val e = intercept[java.io.IOException](store.fetch("u"))
    assert(e.getMessage.contains("after 3 attempts"))
    assert(e.getCause.getMessage === "down")
  }

  test("offset enumeration for the nextLinksBroken mode") {
    assert(HttpPageStore.offsetPages("/a", 500, 1200) === Seq(
      "/a?limit=500&offset=0", "/a?limit=500&offset=500",
      "/a?limit=500&offset=1000"))
    assert(HttpPageStore.offsetPages("/a?f=x", 500, 500) ===
      Seq("/a?f=x&limit=500&offset=0"))
  }

  test("modifiedSince URL builder: separator, millis format, cold start, " +
    "no bound, a bound already in the URL") {
    import HttpPageStore.withModifiedSince
    assert(withModifiedSince("https://h/a", None) === "https://h/a")
    assert(withModifiedSince("https://h/a", Some(0L)) ===
      "https://h/a?modifiedSince=1970-01-01T00:00:00.000Z")
    assert(withModifiedSince("https://h/a?limit=2", Some(1705795200123L)) ===
      "https://h/a?limit=2&modifiedSince=2024-01-21T00:00:00.123Z")
    assert(withModifiedSince("https://h/a?limit=2&$$meta.deleted=any",
      Some(graft.ops.Watermark.ColdStartMs)) ===
      "https://h/a?limit=2&$$meta.deleted=any&modifiedSince=1900-01-01T00:00:00.000Z")
    // a bound already in the URL: the later of the two is sent, once
    assert(withModifiedSince(
      "https://h/a?modifiedSince=2024-02-01T00:00:00Z&limit=2",
      Some(1705795200000L)) ===
      "https://h/a?limit=2&modifiedSince=2024-02-01T00:00:00.000Z")
    assert(withModifiedSince(
      "https://h/a?modifiedSince=2024-01-01T00%3A00%3A00.000Z",
      Some(1705795200000L)) ===
      "https://h/a?modifiedSince=2024-01-21T00:00:00.000Z")
    val e = intercept[IllegalArgumentException](
      withModifiedSince("https://h/a?modifiedSince=yesterday", Some(0L)))
    assert(e.getMessage.contains("https://h/a?modifiedSince=yesterday"))
  }

  test("api.headers arrive on the wire (loopback HttpServer capture)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val seen = new java.util.concurrent.atomic.AtomicReference[
      Map[String, String]](Map.empty)
    server.createContext("/r", { ex =>
      val h = ex.getRequestHeaders
      seen.set(Map(
        "Authorization" -> h.getFirst("Authorization"),
        "X-Tenant" -> h.getFirst("X-Tenant"),
        "Accept" -> h.getFirst("Accept")))
      val body = """{"$$meta": {}, "results": []}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/r"
      val store = new HttpPageStore(url,
        headers = Map("Authorization" -> "Bearer t0k", "X-Tenant" -> "ks"))
      assert(store.listPages() === Seq(url))
      assert(seen.get()("Authorization") === "Bearer t0k")
      assert(seen.get()("X-Tenant") === "ks")
      assert(seen.get()("Accept") === "application/json")
    } finally server.stop(0)
  }

  test("api.headers option threads from the DSv2 properties into the store") {
    assert(HttpPageStore.parseHeaders(null) === Map.empty)
    assert(HttpPageStore.parseHeaders("") === Map.empty)
    assert(HttpPageStore.parseHeaders(
      """{"Authorization": "Bearer x", "X-A": "1"}""") ===
      Map("Authorization" -> "Bearer x", "X-A" -> "1"))
    intercept[IllegalArgumentException](HttpPageStore.parseHeaders("[1]"))
    val t = new SriTable("https://api.example.org/a",
      HttpPageStore.parseHeaders("""{"Authorization": "Bearer x"}"""))
    assert(t.headers === Map("Authorization" -> "Bearer x"))
  }
}
