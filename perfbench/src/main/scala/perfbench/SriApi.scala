package perfbench

import java.io.ByteArrayOutputStream
import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantReadWriteLock
import scala.collection.mutable.ArrayBuffer
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One SRI resource as the generator and the API see it. */
final case class Res(key: String, version: Int, modifiedMs: Long,
                     deleted: Boolean, body: String)

/** A change set applied to a collection in one atomic step. */
final case class ChangeSet(updates: Seq[Res], tombstones: Seq[Res],
                           inserts: Seq[Res]) {
  def all: Seq[Res] = updates ++ tombstones ++ inserts
}

/** An SRI list resource (`/things`): resources in insertion order, each
  * pre-rendered once as its `$$expanded` JSON so serving a page is a byte
  * copy. Tombstones keep their slot, so page boundaries never shift. All
  * reads and change sets go through one read/write lock: a page is a
  * consistent snapshot and a change set lands atomically. */
final class Collection(val path: String) {
  private val lock = new ReentrantReadWriteLock()
  private val keys = ArrayBuffer[String]()
  private val slot = scala.collection.mutable.HashMap[String, Int]()
  private val rendered = ArrayBuffer[Array[Byte]]()
  private val modified = ArrayBuffer[Long]()
  private val deleted = ArrayBuffer[Boolean]()

  def href(key: String): String = s"$path/$key"

  def apply(cs: ChangeSet): Unit = write(cs.all.foreach(put))
  def load(rs: Iterable[Res]): Unit = write(rs.foreach(put))
  def size: Int = read(keys.size)

  private def write[A](body: => A): A = {
    lock.writeLock().lock(); try body finally lock.writeLock().unlock()
  }
  private def read[A](body: => A): A = {
    lock.readLock().lock(); try body finally lock.readLock().unlock()
  }

  private def put(r: Res): Unit = {
    val bytes = render(r)
    slot.get(r.key) match {
      case Some(i) =>
        rendered(i) = bytes; modified(i) = r.modifiedMs; deleted(i) = r.deleted
      case None =>
        slot(r.key) = keys.size
        keys += r.key; rendered += bytes; modified += r.modifiedMs
        deleted += r.deleted
    }
  }

  private def render(r: Res): Array[Byte] = {
    val del = if (r.deleted) ""","deleted":true""" else ""
    (s"""{"$$$$meta":{"permalink":"${href(r.key)}","type":"THING",""" +
      s""""modified":"${java.time.Instant.ofEpochMilli(r.modifiedMs)}"$del},""" +
      s""""key":"${r.key}","version":${r.version},"body":"${r.body}"}""")
      .getBytes(UTF_8)
  }

  /** One page of the list: `limit` resources from `offset` of the view
    * selected by `deletedMode` (`any`: tombstones inline with the live
    * resources; otherwise live only) and `minModified` (`modifiedSince=`).
    * The `next` link carries every other parameter unchanged. */
  def page(offset: Int, limit: Int, deletedMode: String,
           minModified: Option[Long], otherParams: String): Array[Byte] = read {
    val all = deletedMode == "any" && minModified.isEmpty
    val view: IndexedSeq[Int] =
      if (all) keys.indices
      else keys.indices.filter { i =>
        (deletedMode == "any" || !deleted(i)) && minModified.forall(modified(i) >= _)
      }
    val from = math.min(offset, view.size)
    val until = math.min(view.size, from + limit)
    val out = new ByteArrayOutputStream(64 + (until - from) * 900)
    val next =
      if (until < view.size)
        s""","next":"$path?offset=$until&limit=$limit$otherParams""""
      else ""
    out.write(s"""{"$$$$meta":{"count":${view.size}$next},"results":["""
      .getBytes(UTF_8))
    var j = from
    while (j < until) {
      val i = view(j)
      if (j > from) out.write(',')
      out.write(s"""{"href":"${href(keys(i))}","$$$$expanded":"""
        .getBytes(UTF_8))
      out.write(rendered(i))
      out.write('}')
      j += 1
    }
    out.write("]}".getBytes(UTF_8))
    out.toByteArray
  }
}

/** What the API server counts: every GET, the bytes it served, and the
  * start time of each pass over the list (a GET of offset 0). */
final class ApiCounters {
  val gets = new AtomicLong(0)
  val bytes = new AtomicLong(0)
  private val passStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  def recordPassStart(nanos: Long): Unit = passStarts.add(nanos)
  /** Pass start times (System.nanoTime) recorded so far, in order. */
  def passStartTimes: Vector[Long] = {
    import scala.jdk.CollectionConverters._
    passStarts.iterator().asScala.toVector.sorted
  }
  def snapshot: (Long, Long) = (gets.get(), bytes.get())
}

/** The loopback SRI API: a JDK `HttpServer` on 127.0.0.1 with at most
  * four daemon worker threads, serving the reference fake API's list
  * envelope (`$$meta.next`, `results[].$$expanded`, `limit`/`offset`),
  * inline tombstones under `$$meta.deleted=any`, and `modifiedSince=`.
  * `onGet` is called once per request with (path, bytes, start, end). */
final class SriApi(collections: Seq[Collection], threads: Int = 4) {
  require(threads >= 1 && threads <= 4)
  val counters: Map[String, ApiCounters] =
    collections.map(_.path -> new ApiCounters).toMap
  @volatile var onGet: (String, Long, Long, Long) => Unit = (_, _, _, _) => ()

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong(0)
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"sri-api-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  server.setExecutor(pool)
  collections.foreach { c =>
    server.createContext(c.path, (ex: HttpExchange) => serve(c, ex))
  }
  server.start()

  val port: Int = server.getAddress.getPort
  def url(c: Collection, limit: Int): String =
    s"http://127.0.0.1:$port${c.path}?limit=$limit&$$$$meta.deleted=any"

  private def serve(c: Collection, ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val q = SriApi.params(ex.getRequestURI.getRawQuery)
      val ok = ex.getRequestMethod == "GET" && ex.getRequestURI.getPath == c.path
      if (!ok) { ex.sendResponseHeaders(404, -1); return }
      val offset = q.get("offset").map(_.toInt).getOrElse(0)
      val limit = q.get("limit").map(_.toInt).getOrElse(30)
      val minMod = q.get("modifiedSince").map(SriApi.parseTime)
      val other = q.removedAll(Seq("offset", "limit")).toSeq.sorted
        .map { case (k, v) => s"&$k=${java.net.URLEncoder.encode(v, UTF_8)}" }
        .mkString
      val body = c.page(offset, limit, q.getOrElse("$$meta.deleted", "false"),
        minMod, other)
      val cnt = counters(c.path)
      if (offset == 0) cnt.recordPassStart(t0)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length.toLong)
      val os = ex.getResponseBody
      os.write(body); os.close()
      cnt.gets.incrementAndGet(); cnt.bytes.addAndGet(body.length.toLong)
      onGet(c.path, body.length.toLong, t0, System.nanoTime())
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] api error: $e")
        try ex.sendResponseHeaders(500, -1) catch { case _: Throwable => () }
    } finally ex.close()
  }

  /** Stop accepting, let in-flight exchanges finish, and join the pool. */
  def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object SriApi {
  def params(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split('&').toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
    }.toMap

  /** `modifiedSince` as ISO-8601 (what SRI clients send) or epoch ms. */
  def parseTime(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong else java.time.Instant.parse(s).toEpochMilli
}
