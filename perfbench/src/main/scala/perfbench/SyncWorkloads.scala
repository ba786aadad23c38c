package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.Main
import graft.runner.ParquetTarget
import graft.source.HttpPageStore
import Bench._

/** The two sync workloads over the loopback SRI API. */
object SyncWorkloads {

  /** One timed sync: wall time, API traffic, Spark window, bytes written. */
  final case class Timed(s: Double, gets: Long, mb: Double, spark: SparkWindow,
                         writeMb: Double)

  private def timed(ctx: Ctx, api: SriApi, path: String, name: String,
                    written: Seq[String], traced: Boolean = true)
                   (body: => Unit): Option[Timed] = {
    val m = ctx.probe.mark()
    val (g0, b0) = api.counters(path).snapshot
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable => info(s"$name FAILED: $e"); false
    }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    ctx.probe.drain()
    val (g1, b1) = api.counters(path).snapshot
    val win = ctx.probe.since(m, w0, w1)
    if (traced) {
      ctx.tracer.add(Tracer.Op, "runner", name, t0, t1)
      traceSpark(ctx, win)
    }
    if (!ok) None
    else Some(Timed((t1 - t0) / 1e9, g1 - g0, (b1 - b0) / 1e6, win,
      bytesWrittenSince(written, w0) / 1e6))
  }

  /** Record a span per API GET while `on` (traced runs only). */
  private def traceGets(ctx: Ctx, api: SriApi, on: Boolean): Unit =
    api.onGet =
      if (on && ctx.trace) (path, _, t0, t1) =>
        ctx.tracer.add(Tracer.Leaf, "source", s"GET $path", t0, t1)
      else (_, _, _, _) => ()

  // ---------------------------------------------------------------- sync_large

  val LargeSize = 20000
  /** Each round's change set: 1% updated, 0.1% tombstoned, 0.1% new. */
  val Updates: Int = LargeSize / 100
  val Tombstones: Int = LargeSize / 1000
  val Inserts: Int = LargeSize / 1000
  /** Cold fullSyncs per run, and the fewest delta rounds a run measures. */
  val FullSyncs = 5
  val MinRounds = 3
  /** deltaSync rounds between the cold start and the timed work. */
  val LargeWarmRounds = 2
  val PageLimit = 500
  val BodyWords = 90

  /** Cold fullSync plus a closed loop of 1% deltaSync rounds over a
    * collection far larger than HttpPageStore's 8 MB page cache. */
  def syncLarge(ctx: Ctx): Outcome = {
    val o = new Outcome
    val gen = new SyncGen(ctx.seed, LargeSize, BodyWords)
    val coll = new Collection("/things")
    coll.load(gen.initial(lastChangeSet = Updates + Tombstones + Inserts))
    val api = new SriApi(Seq(coll))
    try {
      val opts = Map("pages" -> api.url(coll, PageLimit),
        "target" -> ctx.dir("target"), "state" -> ctx.dir("state"),
        "table" -> "things", "synctype" -> "deltaSync")
      def round() = {
        val cs = gen.next(Updates, Tombstones, Inserts)
        coll.apply(cs)
        cs
      }
      def fullOpts(i: Int) = opts ++ Map("target" -> ctx.dir(s"full$i"),
        "state" -> ctx.dir(s"full-state$i"), "synctype" -> "fullSync")
      // initial load: the cold-start deltaSync writes the first watermark;
      // warm rounds and one warm fullSync follow (the JIT is still cold
      // after one sync of each kind)
      Main.run(ctx.spark, opts)
      (1 to LargeWarmRounds).foreach { _ => round(); Main.run(ctx.spark, opts) }
      Main.run(ctx.spark, fullOpts(0))
      Bench.rmrf(Paths.get(fullOpts(0)("target")))
      ctx.probe.drain()
      val setupS = ctx.setupS
      info(f"setup done: $setupS%.2f s")

      // cold fullSyncs, each into a new empty target; the median is reported
      val fulls = (1 to FullSyncs).flatMap { i =>
        val full = fullOpts(i)
        o.attempted += 1
        val t = timed(ctx, api, coll.path, "fullSync",
          Seq(full("target")))(Main.run(ctx.spark, full))
        if (t.isEmpty) o.failed += 1
        o.check("full sync target = generator live set",
          Bench.targetMismatches(ctx.spark, full("target"), gen.expected(coll)))
        Bench.rmrf(Paths.get(full("target")))
        t
      }
      val full = fulls.sortBy(_.s).lift(fulls.size / 2)

      val started = System.nanoTime()
      def elapsed = (System.nanoTime() - started) / 1e9

      val pages = math.ceil(coll.size.toDouble / PageLimit)
      val written = Seq(opts("target"), opts("state"))
      // a traced run alternates untraced rounds (Main.run) with traced ones
      // (the same wiring through a timing TargetTable, recording GET spans),
      // so both kinds see the same JIT and machine state
      val target = new TimedTarget(new ParquetTarget(ctx.spark, opts("target")),
        ctx.tracer)
      val rounds = ArrayBuffer[(Timed, Double, Boolean)]()
      while (rounds.size < MinRounds || (elapsed < ctx.seconds && rounds.size < 50)) {
        val traced = ctx.trace && rounds.size % 2 == 1
        val cs = round()
        // changed MB: the change set's resources at about their rendered size
        val changedMb = cs.all.map(r => r.body.length + 160).sum / 1e6
        o.attempted += 1
        traceGets(ctx, api, traced)
        timed(ctx, api, coll.path, s"deltaSync ${gen.rounds}", written, traced) {
          if (traced) Bench.deltaSyncWith(ctx.spark, opts, target)
          else Main.run(ctx.spark, opts)
        } match {
          case Some(t) =>
            rounds += ((t, changedMb, traced))
            info(f"round ${gen.rounds}: ${t.s}%.3f s, ${t.gets} GETs, " +
              f"${t.spark.jobs} jobs, ${t.writeMb}%.1f MB written")
          case None => o.failed += 1
        }
      }
      traceGets(ctx, api, on = false)
      flagDrift("delta rounds", rounds.map(_._1).toSeq)
      o.check("delta target = generator live set",
        Bench.targetMismatches(ctx.spark, opts("target"), gen.expected(coll)))
      val deltaS = Stats.median(rounds.filterNot(_._3).map(_._1.s).toSeq)

      if (!ctx.trace) {
        o.metric("setup_s", setupS, "s")
        o.metric("primary_s", deltaS, "s")
        o.metric("secondary_s", full.map(_.s).getOrElse(Double.NaN), "s")
      } else {
        val t = rounds.filter(_._3).map(_._1).toSeq
        o.metric("trace.overhead_s", Stats.median(t.map(_.s)) - deltaS, "s")
        o.metric("runner.overwrite_s", Stats.median(target.overwriteS.toSeq), "s")
        o.metric("runner.read_s", Stats.median(target.readS.toSeq), "s")
        // source probes: the next-link walk alone, and a bare scan
        val walk = timed(ctx, api, coll.path, "listPages", Nil)(
          new HttpPageStore(opts("pages")).listPages())
        val scan = timed(ctx, api, coll.path, "sri scan", Nil)(
          ctx.spark.read.format("sri").option("pages", opts("pages")).load()
            .write.format("noop").mode("overwrite").save())
        o.metric("source.walk_s", walk.map(_.s).getOrElse(Double.NaN), "s")
        o.metric("source.scan_s", scan.map(_.s).getOrElse(Double.NaN), "s")
        val all = rounds.map(_._1).toSeq
        o.metric("source.gets", Stats.median(all.map(_.gets.toDouble)), "count")
        o.metric("source.full_gets", full.map(_.gets.toDouble).getOrElse(Double.NaN), "count")
        o.metric("source.mb_served", Stats.median(all.map(_.mb)), "MB")
        o.metric("source.passes", Stats.median(all.map(_.gets / pages)), "ratio")
        o.metric("runner.write_mb", Stats.median(all.map(_.writeMb)), "MB")
        o.metric("runner.write_amp", Stats.median(rounds.map {
          case (r, changed, _) => r.writeMb / changed }.toSeq), "ratio")
        opsMetrics(o, all.map(_.spark))
        sparkMetrics(o, all.map(_.spark))
        full.foreach(f => {
          o.metric("spark.full_sync.jobs", f.spark.jobs, "count")
          o.metric("spark.full_sync.task_s", f.spark.taskS, "s")
        })
        finishTrace(ctx, o)
      }
    } finally api.close()
    o
  }

  /** The sync algebra's actions inside each sync, found by call site:
    * the watermark `collect`, the merge write's shuffle, the recount
    * (median over windows, each divided by the syncs it holds). */
  private def opsMetrics(o: Outcome, ws: Seq[SparkWindow], syncs: Double = 1): Unit = {
    def per(f: SparkWindow => Double) =
      if (ws.isEmpty) 0.0 else Stats.median(ws.map(f(_) / syncs))
    o.metric("ops.watermark_collect_s", per(_.actions
      .filter(a => a.call == "collect" && a.readsSri).map(_.durS).sum), "s")
    o.metric("ops.recount_s", per(_.actions
      .filter(a => a.call == "count" && !a.readsSri).map(_.durS).sum), "s")
    o.metric("ops.merge_shuffle_mb", per(_.shuffleWriteMb), "MB")
  }

  /** Flag rounds whose GET or job count differs from the first round. */
  private def flagDrift(what: String, ts: Seq[Timed]): Unit = {
    val gets = ts.map(_.gets).distinct
    val jobs = ts.map(_.spark.jobs).distinct
    info(s"$what: GETs per round ${ts.map(_.gets).mkString(",")}; " +
      s"jobs per round ${ts.map(_.spark.jobs).mkString(",")}")
    if (gets.size > 1 || jobs.size > 1)
      info(s"FLAG: $what differ in GET or job count across rounds")
  }

  // ---------------------------------------------------------------- push_small

  val SmallSize = 3000
  /** Events per second. The listener completes under one sync per
    * second on this collection, so at this rate every sync coalesces a few
    * events and freshness is set by the fixed cost per sync. (Half the
    * uncoalesced sync rate would give ~6 events in a run: too few for a
    * median, let alone a tail.) */
  val PushRate = 4.0
  /** The tail percentile: the highest with >= 10 of the run's events
    * beyond it (40 events in a 10 s run: 10 beyond p75). */
  val TailPct = 75.0
  /** deltaSync rounds between the cold start and the listener. */
  val PushWarmRounds = 4

  /** Open loop of push events through `Main.runListen` (spool mode):
    * each event changes ~0.5% of a collection that fits the page cache. */
  def pushSmall(ctx: Ctx): Outcome = {
    val o = new Outcome
    val gen = new SyncGen(ctx.seed, SmallSize, BodyWords, keyPrefix = "p")
    val coll = new Collection("/small")
    coll.load(gen.initial(lastChangeSet = SmallSize / 200))
    val api = new SriApi(Seq(coll))
    val spoolDir = Paths.get(ctx.dir("spool"))
    Files.createDirectories(spoolDir)
    val opts = Map("pages" -> api.url(coll, PageLimit),
      "target" -> ctx.dir("target"), "state" -> ctx.dir("state"),
      "table" -> "small", "synctype" -> "deltaSync",
      "listen" -> spoolDir.toString, "path" -> coll.path,
      "reconnect-ms" -> "1000")
    def change() = {
      val cs = gen.next(SmallSize / 200 - 2, 1, 1)
      coll.apply(cs)
      cs
    }
    var listener: graft.streaming.PushListener = null
    val watcher = new CommitWatcher(Paths.get(opts("target")), spoolDir)
    try {
      // cold-start deltaSync, then warm rounds: the listener's syncs are
      // ~1 s each, so a JIT still warming up would show in every latency
      Main.run(ctx.spark, opts)
      (1 to PushWarmRounds).foreach { _ => change(); Main.run(ctx.spark, opts) }
      ctx.probe.drain()
      watcher.start()
      listener = Main.runListen(ctx.spark, opts)
      val setupS = ctx.setupS

      val n = math.max(12, math.round(ctx.seconds * PushRate).toInt)
      val start = System.nanoTime() + 200000000L
      val mark = ctx.probe.mark()
      val w0 = System.currentTimeMillis()
      val (gets0, bytes0) = api.counters(coll.path).snapshot
      val due = (0 until n).map(i => start + (i * 1e9 / PushRate).toLong)
      val applied = new Array[Long](n)
      for (i <- 0 until n) {
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        // a traced run records GET spans around odd events only; the even
        // events are its untraced reference
        traceGets(ctx, api, i % 2 == 1)
        change()
        applied(i) = System.nanoTime()
        val name = f"e$i%06d"
        spool(spoolDir, name, coll.path + "\n")
        watcher.landed(name, System.nanoTime())
      }
      o.attempted += n
      // drain: wait until a commit covers the last event
      val passes = () => api.counters(coll.path).passStartTimes
      def cover = Stats.coveringCommit(applied.toSeq, passes(), watcher.commitTimes)
      val deadline = System.nanoTime() + 60000000000L
      while (cover.last.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      // then until the listener is idle, having consumed every event and
      // parked in its next poll: stopping it mid-sync would fail that sync
      def idle = listener.eventsSeen.get == n && listenerPolling()
      while (!idle && System.nanoTime() < deadline) Thread.sleep(20)
      listener.stop()
      val w1 = System.currentTimeMillis()
      watcher.stop()
      ctx.probe.drain()
      val commits = watcher.commitTimes
      val covered = cover
      val lat = covered.zip(due).flatMap { case (c, d) => c.map(j => (commits(j) - d) / 1e9) }
      val missed = covered.count(_.isEmpty)
      o.failed += missed
      o.attempted += listener.syncsRun.get + listener.syncFailures.get
      o.failed += listener.syncFailures.get
      if (missed > 0) info(s"$missed events never covered by a commit")
      info(f"events $n, syncs ${listener.syncsRun.get}, commits ${commits.size}, " +
        f"p50 ${Stats.median(lat)}%.3f s, p$TailPct%.0f ${Stats.percentile(lat, TailPct)}%.3f s " +
        s"(${Stats.beyond(lat.size, TailPct)} events beyond it)")
      o.check("push target = generator live set",
        Bench.targetMismatches(ctx.spark, opts("target"), gen.expected(coll)))

      if (!ctx.trace) {
        o.metric("setup_s", setupS, "s")
        o.metric("primary_s", Stats.median(lat), "s")
        o.metric("secondary_s", Stats.percentile(lat, TailPct), "s")
      } else {
        val syncs = math.max(1L, listener.syncsRun.get)
        val win = ctx.probe.since(mark, w0, w1)
        traceSpark(ctx, win)
        // sync spans: each commit closes the window opened by the previous
        val bounds = (start +: commits.toVector)
        bounds.zip(bounds.drop(1)).foreach { case (a, b) =>
          ctx.tracer.add(Tracer.Op, "streaming", "listener sync", a, b) }
        val per = (x: Double) => x / syncs
        val (gets1, bytes1) = api.counters(coll.path).snapshot
        val (gets, bytes) = (gets1 - gets0, bytes1 - bytes0)
        o.metric("streaming.pickup_s", Stats.median(watcher.pickups), "s")
        o.metric("streaming.events_per_sync",
          listener.eventsSeen.get.toDouble / syncs, "ratio")
        o.metric("streaming.sync_failures", listener.syncFailures.get.toDouble, "count")
        o.metric("streaming.reconnects", listener.reconnects.get.toDouble, "count")
        o.metric("source.gets", per(gets.toDouble), "count")
        o.metric("source.mb_served", per(bytes / 1e6), "MB")
        o.metric("source.passes", per(gets.toDouble) / math.ceil(coll.size / PageLimit.toDouble), "ratio")
        sparkMetrics(o, Seq(win), syncs.toDouble)
        opsMetrics(o, Seq(win), syncs.toDouble)
        val (traced, untraced) = covered.indices.filter(covered(_).isDefined)
          .map(i => (i, (commits(covered(i).get) - due(i)) / 1e9)).partition(_._1 % 2 == 1)
        o.metric("trace.overhead_s",
          Stats.median(traced.map(_._2)) - Stats.median(untraced.map(_._2)), "s")
        finishTrace(ctx, o)
      }
    } finally {
      if (listener != null) listener.stop()
      watcher.stop()
      api.close()
    }
    o
  }

  /** Whether the listener thread is parked in its event source's poll
    * (not inside a sync). */
  private def listenerPolling(): Boolean =
    Thread.getAllStackTraces.asScala.collectFirst {
      case (t, st) if t.getName == "graft-push-listener" =>
        st.exists(_.getClassName.endsWith("SpoolDirEventSource")) &&
          !st.exists(_.getClassName == "graft.Main$")
    }.getOrElse(true)

  /** Polls the target directory for commits (the atomic rename gives it
    * a new inode) and the spool directory for consumed event files. */
  final class CommitWatcher(target: Path, spoolDir: Path) {
    private val commits = new ConcurrentLinkedQueue[Long]()
    private val waiting = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    private val pickupS = new ConcurrentLinkedQueue[Double]()
    @volatile private var running = false
    private var thread: Thread = _

    def landed(name: String, at: Long): Unit = waiting.put(name, at)
    def commitTimes: Seq[Long] = commits.asScala.toVector
    def pickups: Seq[Double] = pickupS.asScala.toVector

    private def inode(): Option[AnyRef] =
      try Some(Files.readAttributes(target, classOf[BasicFileAttributes]).fileKey())
      catch { case _: java.io.IOException => None }

    def start(): Unit = {
      running = true
      thread = new Thread(() => {
        var last = inode()
        while (running) {
          val now = System.nanoTime()
          val cur = inode()
          if (cur.isDefined && cur != last) { commits.add(now); last = cur }
          waiting.forEach { (name, at) =>
            if (!Files.exists(spoolDir.resolve(name))) {
              pickupS.add((now - at) / 1e9); waiting.remove(name)
            }
          }
          Thread.sleep(1)
        }
      }, "perfbench-commit-watcher")
      thread.setDaemon(true)
      thread.start()
    }

    def stop(): Unit = {
      running = false
      if (thread != null) thread.join(5000)
    }
  }
}
