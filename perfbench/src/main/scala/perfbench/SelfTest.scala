package perfbench

import graft.source.HttpPageStore

/** Self-tests of the benchmark's own code (no Spark):
  *
  *   python3 perfbench/run.py --selftest
  *
  * Exits non-zero if any check fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def res(i: Int, modified: Long, deleted: Boolean = false) =
    Res(f"k$i%02d", 1, modified, deleted, s"body $i")

  def main(args: Array[String]): Unit = {
    val base = SyncGen.T0
    val c = new Collection("/t")
    c.load((1 to 7).map(i => res(i, base + i * 1000L)))
    c.apply(ChangeSet(Nil, Seq(res(2, base + 9000L, deleted = true)), Nil))
    val api = new SriApi(Seq(c), threads = 2)
    try {
      val store = new HttpPageStore(api.url(c, 3))
      val pages = store.listPages()
      val bodies = pages.map(p => mapper.readTree(store.fetch(p)))
      check("paging: 7 resources at limit 3 walk 3 pages by next link") {
        pages.size == 3
      }
      check("paging: every page but the last has $$meta.next") {
        bodies.init.forall(_.path("$$meta").has("next")) &&
          !bodies.last.path("$$meta").has("next")
      }
      check("paging: results carry href + $$expanded, in order, once each") {
        val hrefs = bodies.flatMap(b => (0 until b.get("results").size)
          .map(i => b.get("results").get(i)))
          .map(r => r.get("href").asText() -> r.get("$$expanded").get("key").asText())
        hrefs.map(_._1) == (1 to 7).map(i => f"/t/k$i%02d") &&
          hrefs.forall { case (h, k) => h.endsWith(k) }
      }
      check("paging: tombstones inline under $$meta.deleted=any") {
        val all = bodies.flatMap(b => (0 until b.get("results").size)
          .map(i => b.get("results").get(i).get("$$expanded")))
        all.count(_.path("$$meta").path("deleted").asBoolean(false)) == 1
      }
      def get(q: String) = mapper.readTree(HttpPageStore.httpGet(
        s"http://127.0.0.1:${api.port}/t?$q"))
      def keys(n: com.fasterxml.jackson.databind.JsonNode) =
        (0 until n.get("results").size)
          .map(i => n.get("results").get(i).get("$$expanded").get("key").asText())
      check("modifiedSince: only resources modified at or after the bound") {
        val since = java.time.Instant.ofEpochMilli(base + 5000L)
        keys(get(s"limit=10&modifiedSince=$since")) == Seq("k05", "k06", "k07")
      }
      check("modifiedSince: epoch millis accepted, tombstones via deleted=any") {
        keys(get(s"limit=10&modifiedSince=${base + 5000L}&$$$$meta.deleted=any")) ==
          Seq("k02", "k05", "k06", "k07")
      }
      check("default view hides tombstones") {
        keys(get("limit=10")).size == 6
      }
      check("server counts GETs and pass starts") {
        val cnt = api.counters("/t")
        cnt.gets.get >= 6 && cnt.passStartTimes.nonEmpty
      }
    } finally api.close()

    def run(seed: Long) = {
      val g = new SyncGen(seed, 500, 10)
      val init = g.initial()
      val sets = (1 to 3).map(_ => g.next(5, 1, 1))
      (init, sets, g.expected(new Collection("/x")))
    }
    check("generator: same seed, same collection and change sets") {
      run(7) == run(7)
    }
    check("generator: another seed, another collection") {
      run(7)._1 != run(8)._1
    }
    check("generator: change sets stamped one step apart, sizes as asked") {
      val (_, sets, exp) = run(7)
      sets.zipWithIndex.forall { case (cs, i) =>
        cs.all.forall(_.modifiedMs == SyncGen.T0 + (i + 1) * SyncGen.StepMs) &&
          cs.updates.size == 5 && cs.tombstones.size == 1 && cs.inserts.size == 1
      } && exp.size == 500 - 3 + 3
    }
    check("generator: tombstoned resources leave the expected live set") {
      val g = new SyncGen(3, 50, 4)
      g.initial()
      val cs = g.next(0, 10, 0)
      val exp = g.expected(new Collection("/x"))
      exp.size == 40 && cs.tombstones.forall(r => !exp.contains("/x/" + r.key))
    }

    check("median: odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
        Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("percentile: nearest rank, and events beyond it") {
      val xs = (1 to 20).map(_.toDouble)
      Stats.percentile(xs, 50) == 10.0 && Stats.percentile(xs, 75) == 15.0 &&
        Stats.percentile(xs, 100) == 20.0 && Stats.beyond(20, 75) == 5 &&
        Stats.beyond(40, 75) == 10
    }
    check("unionLength: overlapping and disjoint intervals") {
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20
    }
    check("event matching: first commit whose last pass started after apply") {
      // passes at 10, 12 (sync 1, commit 20); 25 (sync 2, commit 30);
      // 41 (sync 3, commit 50)
      val cover = Stats.coveringCommit(
        applied = Seq(5L, 11L, 13L, 26L, 45L, 60L),
        passStarts = Seq(10L, 12L, 25L, 41L),
        commits = Seq(20L, 30L, 50L))
      cover == Seq(Some(0), Some(0), Some(1), Some(2), None, None)
    }

    println(if (failures == 0) "selftest: all ok" else s"selftest: $failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
