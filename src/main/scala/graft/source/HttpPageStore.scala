package graft.source

/** HTTP transport for the SRI source (S1 + X5).
  *
  * Reference behavior (client.js:1485-1522): walk `$$meta.next` links
  * sequentially; fall back to offset pagination when next links are
  * broken; retry failed requests; forward user-configured HTTP headers on
  * every request (README.md:84, the `api.headers` config — how real SRI
  * deployments pass auth). Here the next-link walk happens once at PLAN
  * time (driver) to enumerate page URLs — executors then fetch pages in
  * parallel, one `InputPartition` each. For APIs with working offset
  * pagination, [[offsetPages]] skips the walk entirely (the
  * `nextLinksBroken` mode) and enumeration is free.
  *
  * Driver-memory bound: the walk is inherently sequential (each body
  * reveals the next link) but retention is NOT — bodies are parsed for
  * `$$meta.next` and then dropped, except for a small byte-bounded LRU
  * ([[maxCacheBytes]]) that lets partitions of recently-walked pages skip
  * the second GET. A 100 TB next-link source therefore costs the driver
  * O(pages × url-length) memory at plan time, never O(corpus); evicted
  * pages are re-fetched by their executor task (one extra GET per page —
  * the same per-page wire cost the reference pays, client.js:1485-1522,
  * which also never holds more than one page at a time). This bound works
  * identically in cluster mode, unlike a driver-local disk spool whose
  * files executors could not read.
  *
  * The store fetches the URLs it is given: the only pushdown on the wire is
  * the `modifiedSince=` that [[HttpPageStore.withModifiedSince]] puts into
  * the first-page URL (SriScanBuilder does so when a `modified_ms` lower
  * bound was pushed). Later pages follow the server's next links, which
  * carry the parameter forward. `resourcetype` filters and column pruning
  * are applied at parse time and never rewrite a URL.
  *
  * `fetchFn` is injectable so the walk/retry logic is testable offline;
  * the default uses HttpURLConnection (no third-party deps) and applies
  * `headers` to every request.
  */
final class HttpPageStore(
    firstPageUrl: String,
    headers: Map[String, String] = Map.empty,
    fetchFn: String => String = null,
    maxRetries: Int = 3,
    retryBackoffMs: Long = 1000,
    sleepFn: Long => Unit = Thread.sleep,
    maxCacheBytes: Long = 8L << 20) extends PageStore {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val doFetch: String => String =
    if (fetchFn != null) fetchFn else HttpPageStore.httpGet(_, headers)

  /** Byte-bounded LRU of walked bodies (NOT the whole corpus): serves
    * `cachedBody` for pages still resident; older bodies are evicted as
    * the walk proceeds and their partitions re-fetch. Guarded by its own
    * monitor — the walk is single-threaded but `cachedBody` is read from
    * `planInputPartitions`. */
  @transient private lazy val lru =
    new java.util.LinkedHashMap[String, String](64, 0.75f, true)
  @transient private var lruBytes = 0L

  private def cachePut(url: String, body: String): Unit = lru.synchronized {
    val sz = body.length.toLong * 2 // UTF-16 chars
    if (sz > maxCacheBytes) return // single page over budget: never retain
    val prev = lru.put(url, body)
    lruBytes += sz - (if (prev == null) 0L else prev.length.toLong * 2)
    val it = lru.entrySet().iterator()
    while (lruBytes > maxCacheBytes && it.hasNext) {
      val e = it.next() // eldest-access first
      lruBytes -= e.getValue.length.toLong * 2
      it.remove()
    }
  }

  /** Test/diagnostic hook: how many bodies are currently retained. */
  def retainedBodies: Int = lru.synchronized(lru.size())

  override def listPages(): Seq[String] = {
    val pages = scala.collection.mutable.ArrayBuffer[String]()
    var url: String = firstPageUrl
    while (url != null) {
      pages += url
      val b = fetch(url)
      cachePut(url, b)
      // parse only to find the next link, then DROP the body (modulo the
      // bounded LRU) — retention here is the 100 TB driver-OOM trap
      val next = mapper.readTree(b).path("$$meta").path("next")
      url = if (next.isMissingNode || next.isNull) null
      else resolve(firstPageUrl, next.asText())
    }
    pages.toSeq
  }

  override def cachedBody(page: String): Option[String] =
    lru.synchronized(Option(lru.get(page)))

  override def fetch(page: String): String = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= maxRetries) {
      try return doFetch(page)
      catch {
        case e: Throwable =>
          last = e; attempt += 1
          if (attempt <= maxRetries) sleepFn(retryBackoffMs * attempt)
      }
    }
    throw new java.io.IOException(
      s"fetch failed after ${maxRetries + 1} attempts: $page", last)
  }

  /** Resolve a possibly-relative next link against the first page's
    * scheme+host (SRI next links are usually host-relative). */
  private def resolve(base: String, next: String): String =
    if (next.startsWith("http")) next
    else {
      val u = java.net.URI.create(base)
      s"${u.getScheme}://${u.getAuthority}$next"
    }
}

object HttpPageStore {
  private val isoMillis = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** Epoch millis as JavaScript's `Date.toISOString()` renders it, the
    * format the reference sends (`1900-01-01T00:00:00.000Z`). */
  private def isoString(ms: Long): String =
    isoMillis.format(java.time.Instant.ofEpochMilli(ms))

  /** `url` with `modifiedSince=<iso>` for the lower bound `minMs` (the URL
    * itself when there is none). A `modifiedSince` already in the URL
    * (ISO-8601) is replaced by the later of the two. */
  def withModifiedSince(url: String, minMs: Option[Long]): String =
    minMs.fold(url) { ms =>
      val q = url.indexOf('?')
      val params = if (q < 0) Seq.empty
        else url.substring(q + 1).split('&').toSeq.filter(_.nonEmpty)
      val (given, rest) = params.partition(_.startsWith("modifiedSince="))
      val since = given.map { kv =>
        val v = java.net.URLDecoder.decode(kv.drop("modifiedSince=".length),
          java.nio.charset.StandardCharsets.UTF_8)
        try java.time.Instant.parse(v).toEpochMilli
        catch {
          case e: RuntimeException => throw new IllegalArgumentException(
            s"unparseable modifiedSince in $url", e)
        }
      }.foldLeft(ms)(math.max)
      val base = if (q < 0) url else url.substring(0, q)
      (rest :+ s"modifiedSince=${isoString(since)}").mkString(base + "?", "&", "")
    }

  /** Offset-based enumeration for the reference's `nextLinksBroken` mode:
    * page URLs are computable without any fetch. */
  def offsetPages(basePath: String, limit: Int, total: Long): Seq[String] = {
    val sep = if (basePath.contains("?")) "&" else "?"
    (0L until total by limit.toLong)
      .map(off => s"$basePath${sep}limit=$limit&offset=$off")
  }

  def httpGet(url: String, headers: Map[String, String] = Map.empty): String = {
    val conn = java.net.URI.create(url).toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(60000) // reference default, client.js:109-110
    conn.setReadTimeout(60000)
    conn.setRequestProperty("Accept", "application/json")
    // api.headers: user-configured headers on every request (README.md:84)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    try {
      val code = conn.getResponseCode
      if (code >= 400) throw new java.io.IOException(s"HTTP $code for $url")
      new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
    } finally conn.disconnect()
  }

  /** Parse the `api.headers` source option: a JSON object string
    * (`{"Authorization":"Bearer x"}`) mirroring the reference's config
    * shape, or empty when absent. */
  def parseHeaders(json: String): Map[String, String] = {
    if (json == null || json.trim.isEmpty) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    require(node.isObject, s"api.headers must be a JSON object, got: $json")
    val b = Map.newBuilder[String, String]
    node.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asText())
    b.result()
  }
}
