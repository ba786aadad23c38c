package graft

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.HttpServer
import graft.ops.Watermark

/** `Main.run` against a loopback SRI API (JDK HttpServer): the deltaSync
  * watermark reaches the wire as `modifiedSince=` on every GET, next links
  * included, on both the live and the tombstone pass; a fullSync sends
  * none; and the result equals the same sequence over page files. */
class SriHttpSyncSpec extends SparkSuite {
  import SriHttpSyncSpec.Res

  /** A minimal SRI list API at `/things`: `limit`/`offset` paging,
    * tombstones inline under `$$meta.deleted=any`, `modifiedSince=`, and
    * next links that carry every other parameter forward. Records the
    * query of every GET. */
  private final class TinySri(limit: Int) {
    @volatile var resources: Vector[Res] = Vector.empty
    val queries = new ConcurrentLinkedQueue[String]()
    private val server =
      HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/things", { ex =>
      val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      queries.add(raw)
      val kv = raw.split('&').toSeq.filter(_.nonEmpty).map { p =>
        val i = p.indexOf('=')
        URLDecoder.decode(p.take(i), UTF_8) -> URLDecoder.decode(p.drop(i + 1), UTF_8)
      }
      val q = kv.toMap
      val other = raw.split('&').toSeq
        .filterNot(p => p.isEmpty || p.startsWith("offset=") || p.startsWith("limit="))
      val body = page(q.get("offset").fold(0)(_.toInt),
        q.get("$$meta.deleted").contains("any"),
        q.get("modifiedSince").map(java.time.Instant.parse(_).toEpochMilli),
        other).getBytes(UTF_8)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()

    val url = s"http://127.0.0.1:${server.getAddress.getPort}/things" +
      s"?limit=$limit&$$$$meta.deleted=any"

    def page(offset: Int, deletedAny: Boolean, since: Option[Long],
             other: Seq[String]): String = {
      val view = resources.filter(r =>
        (deletedAny || !r.deleted) && since.forall(r.modifiedMs >= _))
      val until = math.min(view.size, offset + limit)
      val next =
        if (until < view.size)
          s""","next":"/things?offset=$until&limit=$limit${other.map("&" + _).mkString}""""
        else ""
      val results = view.slice(offset, until).map { r =>
        val del = if (r.deleted) ""","deleted":true""" else ""
        s"""{"href":"/things/${r.key}","$$$$expanded":{"$$$$meta":""" +
          s"""{"permalink":"/things/${r.key}","type":"THING",""" +
          s""""modified":"${java.time.Instant.ofEpochMilli(r.modifiedMs)}"$del},""" +
          s""""key":"${r.key}","v":${r.v}}}"""
      }
      s"""{"$$$$meta":{"count":${view.size}$next},"results":[${results.mkString(",")}]}"""
    }

    /** The whole list (tombstones inline) as page files in `dir`. */
    def dumpPages(dir: String): Unit = {
      scala.util.Using.resource(Files.list(Paths.get(dir)))(
        _.iterator().asScala.foreach(Files.delete))
      (0 until math.max(1, resources.size) by limit).zipWithIndex.foreach {
        case (off, i) => Files.writeString(Paths.get(f"$dir/page$i%04d.json"),
          page(off, deletedAny = true, None, Nil))
      }
    }

    def takeQueries(): Seq[String] = {
      val out = queries.asScala.toVector; queries.clear(); out
    }
    def stop(): Unit = server.stop(0)
  }

  private val day = 86400000L
  private val t0 = 1704067200000L // 2024-01-01

  private def rows(path: String): Set[(String, Long, String)] =
    spark.read.parquet(path).select("href", "modified_ms", "jsondata").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  private def sinceOf(query: String): Option[Long] =
    query.split('&').find(_.startsWith("modifiedSince=")).map(p =>
      java.time.Instant.parse(URLDecoder.decode(p.drop(14), UTF_8)).toEpochMilli)

  test("deltaSync sends its watermark as modifiedSince on every GET; " +
    "fullSync sends none; the target equals a page-file run") {
    val api = new TinySri(limit = 3)
    val base = Files.createTempDirectory("sri-http-sync").toString
    val pagesDir = Files.createDirectories(Paths.get(s"$base/pages")).toString
    def opts(pages: String, name: String, synctype: String = "deltaSync") =
      Map("pages" -> pages, "target" -> s"$base/$name", "state" -> s"$base/$name-state",
        "table" -> "things", "synctype" -> synctype)
    try {
      api.resources = (1 to 8).map(i => Res(s"k$i", t0 + i * 60000L,
        deleted = false, 1)).toVector
      // cold start over HTTP and over the same pages as files
      Main.run(spark, opts(api.url, "http"))
      val cold = api.takeQueries()
      assert(cold.nonEmpty && cold.forall(q =>
        sinceOf(q).contains(Watermark.ColdStartMs)), cold)
      api.dumpPages(pagesDir)
      Main.run(spark, opts(pagesDir, "files"))
      val wm = Watermark.readState(spark, s"$base/http-state", "things",
        SyncType.Delta).get.lastModified

      // change set one day later: two updates, two tombstones, one insert;
      // five changed resources span two pages of three
      val changed = t0 + day
      api.resources = api.resources.map {
        case r if Set("k2", "k5")(r.key) => r.copy(modifiedMs = changed, v = 2)
        case r if Set("k3", "k7")(r.key) =>
          r.copy(modifiedMs = changed, deleted = true)
        case r => r
      } :+ Res("k9", changed, deleted = false, 1)
      api.dumpPages(pagesDir)

      Main.run(spark, opts(api.url, "http"))
      val steady = api.takeQueries()
      assert(steady.exists(_.contains("offset=")), "a next link was followed")
      steady.foreach(q => assert(sinceOf(q).exists(_ >= wm), q))
      // one walk of the two changed pages per source scan, however often
      // Spark re-plans it: the watermark collect, the tombstone pass and
      // the two uses of the staged side in the merge
      assert(steady.size <= 4 * 2, steady)
      Main.run(spark, opts(pagesDir, "files"))

      val expected = Set("k1", "k2", "k4", "k5", "k6", "k8", "k9")
        .map("/things/" + _)
      assert(rows(s"$base/http").map(_._1) === expected)
      assert(rows(s"$base/http") === rows(s"$base/files"))

      Main.run(spark, opts(api.url, "full", "fullSync"))
      val full = api.takeQueries()
      assert(full.nonEmpty && full.forall(sinceOf(_).isEmpty), full)
      assert(rows(s"$base/full") === rows(s"$base/http"))
    } finally api.stop()
  }
}

object SriHttpSyncSpec {
  private final case class Res(key: String, modifiedMs: Long, deleted: Boolean,
                               v: Int)
}
