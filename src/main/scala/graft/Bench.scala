package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * A short warmup (session init, codegen JIT, parquet footer reads) runs
  * before timing so the numbers measure the queries, not JVM startup.
  * Queries run in sorted name order for stable attribution.
  *
  * Modes: no args = the full in-session sweep (the graded artifact);
  * `--isolated <regex>` = fresh-JVM floor per matched query, spliced
  * into BENCH_FULL.json as a top-level "isolated" map; `--one <query>`
  * = the child the isolated mode spawns. A sweep PRESERVES a previously
  * spliced isolated map (it re-splices it into the new artifact); only
  * a new `--isolated` run replaces the floors. `--profile <query>
  * [sfDir]` = per-Spark-job breakdown of one query (see [[runProfile]]).
  */
object Bench {

  /** Load sentinel: fixed CPU work (xorshift loop × `threads`), timed
    * and normalized to the full-length (500M-iteration) probe so every
    * probe reads ~1.0 on a quiet box regardless of its length. On a
    * contended box the wall time inflates with oversubscription. Probes
    * run before the sweep, INTERLEAVED through it (every
    * `probeEvery` queries), and after it, and the whole timeline is
    * stamped into the JSON so a verdict can adjudicate "regression vs
    * machine load" from the artifact alone: load_factor ≈ 1 means
    * quiet, ≳ 1.5 means the box was loaded and the query times are
    * suspect. Round 11's start/end-only sentinel missed a mid-sweep
    * load burst entirely (stamped 1.195 while queries ran 4–11× their
    * quiet times); max-over-interleaved-probes cannot. */
  private val fullIters = 500000000L // ~1 s of xorshift64 per thread, quiet
  private def calSeconds(threads: Int, iters: Long = fullIters): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var n = 0L
        while (n < iters) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1
        }
        sink.addAndGet(x) // defeat dead-code elimination
        ()
      })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    // normalize: a half-length probe on a quiet box still reads ~1.0
    (System.nanoTime() - t0) / 1e9 * (fullIters.toDouble / iters)
  }

  /** True median over successful (>= 0) runs; -1 when none succeeded.
    * For even counts the two middle values are averaged — s(size/2)
    * alone picks the UPPER middle, so RUNS=2 would report the slower
    * (usually JIT-warmup) run, strictly worse than min-of-2. */
  private[graft] def medianOf(times: Seq[Double]): Double = {
    val ok = times.filter(_ >= 0)
    if (ok.isEmpty) -1.0
    else {
      val s = ok.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
  }

  /** Relative spread (max−min)/median over successful runs — the
    * per-query noise tell. 0 when fewer than 2 successful runs. */
  private[graft] def spreadOf(times: Seq[Double], median: Double): Double = {
    val ok = times.filter(_ >= 0)
    if (ok.size < 2 || median <= 0) 0.0 else (ok.max - ok.min) / median
  }

  /** Bracketing-probe load for the query at sweep index `i`: the last
    * probe at or before it and the first after it. `probes` are
    * (queries-completed, sweep-offset-s, normalized value) — the same
    * triple the artifact's `load_probes` carries, so
    * tools/benchdiff.py mirrors this exactly. */
  private[graft] def windowLoadOf(probes: Seq[(Int, Double, Double)],
                                  i: Int): Double = {
    val before = probes.filter(_._1 <= i).map(_._3)
    val after = probes.find(_._1 > i).map(_._3)
    math.max(if (before.nonEmpty) before.last else 0.0,
      after.getOrElse(0.0))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "--one" :: name :: Nil => runOne(name)
    case "--isolated" :: Nil => runIsolated(".*")
    case "--isolated" :: regex :: Nil => runIsolated(regex)
    case "--profile" :: name :: Nil => runProfile(name, envConfig()._1)
    case "--profile" :: name :: sfDir :: Nil => runProfile(name, sfDir)
    case Nil => runSweep()
    case _ => usage(args)
  }

  // a typo'd flag must NOT fall through to the multi-minute sweep (which
  // would overwrite BENCH_FULL.json and drop any spliced isolated
  // floors) — fail loudly instead
  private def usage(args: Array[String]): Nothing = {
    System.err.println(s"[bench] unrecognized args: ${args.mkString(" ")}" +
      " — expected nothing, '--one <query>', '--isolated [regex]' or" +
      " '--profile <query> [sfDir]'")
    sys.exit(2)
  }

  /** SF dir + CPU count shared by the sweep, the isolated children, the
    * profiler and `ExplainDump --queries` — one resolution point so a
    * child never silently runs against a different corpus/parallelism
    * than the sweep it is spliced next to. */
  private[graft] def envConfig(): (String, Int) = (
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    LocalSession.defaultCpus)

  /** A declared query by name, validated BEFORE the session build and
    * the multi-table warmup: a typo'd name must fail in milliseconds,
    * not after minutes of warmup with a bare NoSuchElementException. */
  private def queryOrExit(flag: String, name: String)
  : (SparkSession, String) => org.apache.spark.sql.DataFrame =
    SparkEntry.queries.getOrElse(name, {
      System.err.println(s"[bench] $flag: unknown query '$name'")
      sys.exit(2)
    })

  private def r3(v: Double): String =
    if (v < 0) "-1"
    else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** One timed attempt; -1 on failure. Unpersists pinned blocks after
    * each run (see the runSweep comment). */
  private def runOnce(spark: SparkSession, sfDir: String, name: String,
                      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1.0
    }
    finally
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
  }

  /** Child mode (`--one <query>`): fresh-JVM floor for a single query —
    * same session shape and warmup as the sweep, `runs` timed runs, one
    * JSON line. Spawned per query by [[runIsolated]]; the whole point
    * is that NOTHING from the other 300 queries (JIT state, code cache,
    * broadcast cleanup backlog, heap fragmentation) is resident. */
  private def runOne(name: String): Unit = {
    val fn = queryOrExit("--one", name)
    val (sfDir, cpus) = envConfig()
    val spark = LocalSession(cpus)
    warmup(spark, sfDir)
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3).max(1)
    val first = runOnce(spark, sfDir, name, fn)
    val times =
      if (first < 0) Vector(first)
      else first +: Vector.fill(runs - 1)(runOnce(spark, sfDir, name, fn))
    val ok = times.filter(_ >= 0)
    println(s"""{"query":"$name","median":${r3(medianOf(times))},"min":${r3(if (ok.isEmpty) -1 else ok.min)},"runs":[${times.map(r3).mkString(",")}]}""")
    spark.stop()
  }

  /** Profiler mode (`--profile <query> [sfDir]`): the sweep's session
    * and warmup, then `SPARK_GRAFT_PROFILE_RUNS` (default 1) runs of one
    * query, printing per Spark job the wall time, stage and task
    * counts, task-time sum and shuffle volume — the breakdown that
    * tells scheduling overhead apart from task work — plus each
    * streaming micro-batch's `durationMs` map. Extra SQL confs for A/B
    * runs: `SPARK_GRAFT_PROFILE_CONF="k=v;k=v"` (`spark.conf.set`, so
    * runtime SQL confs only). */
  private def runProfile(name: String, sfDir: String): Unit = {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val fn = queryOrExit("--profile", name)
    val spark = LocalSession()
    sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach(_.split(';')
      .filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    warmup(spark, sfDir)

    // id -> [submitMs, endMs, stages, tasks, taskMs, shufRead, shufWrite]
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, Array(e.time, 0L, e.stageIds.size.toLong, 0L, 0L, 0L, 0L))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val a = jobs.get(e.jobId); if (a != null) a(1) = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val a = jobs.get(stageToJob.get(e.stageId))
        if (a != null && e.taskMetrics != null) a.synchronized {
          a(3) += 1
          a(4) += e.taskMetrics.executorRunTime
          a(5) += e.taskMetrics.shuffleReadMetrics.totalBytesRead
          a(6) += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // streaming-side breakdown: per-microbatch durationMs map (trigger
    // execution, addBatch, state commit, WAL commits…) — where the
    // wall − job-wall gap of the stream_* queries actually goes
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          println(s"[stream] started ${e.name}")
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val d = e.progress.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(s"[stream] batch ${e.progress.batchId}: $d")
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          println(s"[stream] terminated")
      })
    val runs = sys.env.get("SPARK_GRAFT_PROFILE_RUNS").map(_.toInt).getOrElse(1)
    for (r <- 0 until runs) { // repeat to separate first-run codegen/JIT cost
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let queued listener events drain
      spark.sparkContext.addSparkListener(listener)
      val rows = jobs.asScala.toSeq.sortBy(_._1)
      println(f"== $name run $r: wall $wall%.2f s, jobs ${rows.size}, " +
        f"job-wall sum ${rows.map(j => j._2(1) - j._2(0)).sum / 1000.0}%.2f s, " +
        f"task-time sum ${rows.map(_._2(4)).sum / 1000.0}%.2f s")
      rows.foreach { case (id, a) =>
        println(f"job $id%4d wall ${(a(1) - a(0)) / 1000.0}%7.2f s  " +
          f"stages ${a(2)}%3d tasks ${a(3)}%5d " +
          f"taskTime ${a(4) / 1000.0}%8.2f s " +
          f"shufR ${a(5) / 1048576.0}%8.1f MB shufW ${a(6) / 1048576.0}%8.1f MB")
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }

  /** Parent mode (`--isolated <regex>`): run every matched query in its
    * OWN fresh JVM (child `--one` processes, sequential — concurrent
    * children would contend for the box and measure each other) and
    * splice the per-query floors into BENCH_FULL.json as a top-level
    * `"isolated"` map next to the in-session medians. Resolves the
    * session-coupling ambiguity in the sweep numbers: the builder's
    * r12 isolation experiment showed in-session is FASTER (warmup
    * amortization), so the sweep total slightly OVERSTATES per-query
    * steady state — this records the honest floor per headline query. */
  private def runIsolated(regex: String): Unit = {
    import scala.jdk.CollectionConverters._
    val re = regex.r
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => re.findFirstIn(n).isDefined)
    require(names.nonEmpty, s"--isolated matched no query: $regex")
    val javaBin = java.nio.file.Paths
      .get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    var failedChildren = 0
    val results = names.map { name =>
      val cmd = (javaBin +: jvmArgs) ++
        Seq("-cp", cp, "graft.Bench", "--one", name)
      val pb = new ProcessBuilder(cmd.asJava)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
      val code = proc.waitFor()
      val line = out.linesIterator.toSeq
        .findLast(_.startsWith("{\"query\""))
      if (code != 0 || line.isEmpty) {
        failedChildren += 1
        System.err.println(s"[bench] isolated $name: child exit $code, " +
          s"no result line")
      }
      val obj = line.getOrElse(s"""{"query":"$name","median":-1,"min":-1,"runs":[]}""")
      // re-key: {"query":"x",REST} → "x":{REST}
      val rest = obj.stripPrefix(s"""{"query":"$name",""")
      System.err.println(s"[bench] isolated $name: " +
        line.getOrElse("FAILED"))
      "\"" + name + "\":{" + rest
    }
    val isolatedJson = results.mkString("{", ",", "}")
    val detailPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_FULL.json")
    val p = java.nio.file.Paths.get(detailPath)
    val merged =
      if (java.nio.file.Files.exists(p))
        spliceIsolated(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
          isolatedJson)
      else s"""{"isolated":$isolatedJson}""" + "\n"
    java.nio.file.Files.write(p, merged.getBytes("UTF-8"))
    // failed count in the summary + nonzero exit: a broken isolated leg
    // (classpath/env drift in the spawned JVM) must not splice -1 floors
    // and still look like a clean run from the exit code (ADVICE r13)
    println(s"""{"metric":"isolated","n":${names.size},"failed":$failedChildren,"isolated":$isolatedJson,"detail":"$detailPath"}""")
    if (failedChildren > 0) sys.exit(1)
  }

  /** Find a TOP-LEVEL `"key":{...}` entry by scanning with brace-depth
    * and in-string tracking, and return (its object value, the JSON with
    * the entry and one adjacent comma removed). The previous regex strip
    * broke when the map sat anywhere but first (left the preceding comma
    * behind → invalid JSON) and would also have eaten a query literally
    * named `key` inside the nested `detailed` map (ADVICE r13); a depth
    * scanner has neither failure mode. None when the key is absent at
    * depth 1. Unit-pinned in `BenchStatsSpec`. */
  private[graft] def extractTopLevelMap(json: String,
                                        key: String): Option[(String, String)] = {
    val marker = "\"" + key + "\":"
    var i = 0; var depth = 0; var inStr = false
    while (i < json.length) {
      val c = json.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' =>
          if (depth == 1 && json.startsWith(marker, i)) {
            val vStart = i + marker.length
            if (vStart < json.length && json.charAt(vStart) == '{') {
              // span of the value object: matching close brace, string-aware
              var j = vStart; var d = 0; var s = false; var end = -1
              while (end < 0 && j < json.length) {
                val cj = json.charAt(j)
                if (s) { if (cj == '\\') j += 1 else if (cj == '"') s = false }
                else if (cj == '"') s = true
                else if (cj == '{') d += 1
                else if (cj == '}') { d -= 1; if (d == 0) end = j }
                j += 1
              }
              if (end > 0) {
                val value = json.substring(vStart, end + 1)
                var from = i; var to = end + 1
                if (to < json.length && json.charAt(to) == ',') to += 1
                else if (from > 0 && json.charAt(from - 1) == ',') from -= 1
                return Some((value, json.substring(0, from) + json.substring(to)))
              }
            }
          }
          inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1
        case _ =>
      }
      i += 1
    }
    None
  }

  /** Replace/insert the top-level `"isolated"` map in a BENCH_FULL-style
    * JSON line: strip a previous map wherever it sits, then re-insert
    * after the opening brace with a separator only if other keys remain.
    * Unit-pinned in `BenchStatsSpec`. */
  private[graft] def spliceIsolated(prev: String,
                                    isolatedJson: String): String = {
    val stripped = extractTopLevelMap(prev, "isolated").map(_._2).getOrElse(prev)
    val body = stripped.replaceFirst("\\{", "")
    val sep = if (body.trim.startsWith("}")) "" else ","
    "{\"isolated\":" + isolatedJson + sep + body
  }

  /** Warmup shared by the sweep and the isolated children: codegen,
    * shuffle, window, parquet reader paths, and the OS page cache. */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    // warmup: exercise codegen, shuffle, window, parquet reader paths
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "documents", "embeddings",
      "nation", "region", "supplier", "part")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count())
    Tables.events(spark, sfDir).limit(1).count() // needs nanosAsLong conf
    // warm the OS page cache: the first timed queries must not be charged
    // cold-disk IO that every later query gets for free
    locally {
      import java.nio.file.{Files, Path, Paths}
      import scala.jdk.CollectionConverters._
      import scala.util.Using
      // constant-memory streaming read (files can exceed the heap at
      // larger SFs), streams closed eagerly (Files.list/walk hold fds)
      def warm(f: Path): Unit =
        Using.resource(Files.newInputStream(f)) { in =>
          in.transferTo(java.io.OutputStream.nullOutputStream())
          ()
        }
      Using.resource(Files.list(Paths.get(sfDir))) { ls =>
        ls.iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .foreach { p =>
            if (Files.isDirectory(p))
              Using.resource(Files.walk(p)) { w =>
                w.iterator().asScala.filter(Files.isRegularFile(_)).foreach(warm)
              }
            else warm(p)
          }
      }
    }
    SparkEntry.queries.get("q1_agg").foreach(q => q(spark, sfDir).count())
  }

  private def runSweep(): Unit = {
    val (sfDir, nThreads) = envConfig()
    val spark = LocalSession(nThreads)
    warmup(spark, sfDir)

    // a failed query reports -1, never its time-to-throw (a regression
    // must not masquerade as a speedup in the totals). Three timed runs,
    // median reported: the first run pays codegen compilation (janino)
    // and JIT warmup that a steady-state deployment amortizes; the median
    // of three is robust to a single outlier in either direction (min-of-2
    // hid regressions behind one lucky run, max-of-anything charges GC
    // pauses), which is what round-5's machine-variance adjudication
    // asked for. SPARK_GRAFT_BENCH_RUNS overrides N for local iteration;
    // SPARK_GRAFT_BENCH_ONLY=<regex> restricts the query set.
    // load sentinel, first leg (after warmup so JIT is settled)
    val sweepT0 = System.nanoTime()
    def atSec: Double = (System.nanoTime() - sweepT0) / 1e9
    // probe timeline: (queries completed, seconds since sweep start,
    // normalized probe value). Interleaved probes are half-length
    // (~0.5 s quiet) so 11 probes over a ~250 s sweep cost ~2%.
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    def probe(done: Int, iters: Long = fullIters / 2): Double = {
      val v = calSeconds(nThreads, iters)
      probes += ((done, atSec, v)); v
    }
    val calBefore = { val v = calSeconds(nThreads); probes += ((0, atSec, v)); v }

    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3).max(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.r)
    val probeEvery =
      sys.env.get("SPARK_GRAFT_BENCH_PROBE_EVERY").map(_.toInt).getOrElse(25).max(1)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
    // localCheckpoint blocks (CC loops, pinned shingle frames) are
    // unpersisted by runOnce after each run: 150+ queries in one JVM
    // otherwise accumulate pinned RDDs and bleed memory pressure into
    // later timings. Safe: each run's action has completed and the next
    // run builds a fresh plan, so no live lineage points at the blocks.
    def timeQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Vector[Double] = {
      // a first-run failure aborts the query (its plan is broken, repeating
      // it wastes the budget); a transient later-run failure is dropped and
      // the median is taken over the successful runs only
      val first = runOnce(spark, sfDir, name, fn)
      if (first < 0) Vector(first)
      else first +: Vector.fill(runs - 1)(runOnce(spark, sfDir, name, fn))
    }
    val sweepFull = selected.zipWithIndex.map { case ((name, fn), i) =>
      val times = timeQuery(name, fn)
      // interleaved sentinel: a load burst that starts and ends
      // mid-sweep lands between two probes and is caught by one of them
      if ((i + 1) % probeEvery == 0 && i + 1 < selected.size) probe(i + 1)
      (name, medianOf(times), times)
    }
    // load sentinel, last leg: contention that began after the final
    // interleaved probe shows here
    val calAfter = probe(selected.size, fullIters)
    // max over the WHOLE timeline — the r11 hole was taking only the
    // endpoints while the burst lived in the middle
    val loadFactor = probes.map(_._3).max
    val quietFloor = probes.map(_._3).min

    // auto-retry, two triggers:
    //  (a) run spread > 2× — a TRANSIENT burst hit one run of the
    //      query (one run 3×+ another);
    //  (b) the query's probe WINDOW read loaded — a SUSTAINED burst
    //      inflates every run equally, so the spread stays small and
    //      (a) never fires (measured: a full sweep at lf 2.08 retried
    //      nothing by spread alone); the probes bracketing the query's
    //      position tell the truth instead.
    // Either way, re-measure on the then-quietest window we can find
    // and keep the better (lower) median — load only ever inflates a
    // fixed workload, so the lower of two medians is strictly closer
    // to the quiet-box truth.
    val spreadLimit =
      sys.env.get("SPARK_GRAFT_BENCH_RETRY_SPREAD").map(_.toDouble).getOrElse(2.0)
    val windowLimit =
      sys.env.get("SPARK_GRAFT_BENCH_RETRY_WINDOW").map(_.toDouble).getOrElse(1.5)
    def windowLoad(i: Int): Double = windowLoadOf(probes.toSeq, i)
    val windowFloor = math.max(windowLimit, quietFloor * 1.3)
    val flagged = sweepFull.zipWithIndex.filter { case ((_, m, ts), i) =>
      m > 0 && (spreadOf(ts, m) > spreadLimit || windowLoad(i) > windowFloor)
    }.map(_._1)
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
    if (flagged.nonEmpty) {
      System.err.println(f"[bench] retrying ${flagged.size}%d noisy queries " +
        f"(spread > $spreadLimit%.1f or probe window > $windowFloor%.2f)")
      // wait-for-quiet: up to 8 short probes 5 s apart; proceed on the
      // first that reads near the sweep's quietest point (or give up
      // and retry anyway — the min() guard below makes it harmless)
      var quietProbe = probe(selected.size)
      var attempts = 0
      while (quietProbe > math.max(1.15, quietFloor * 1.15) && attempts < 8) {
        Thread.sleep(5000); attempts += 1; quietProbe = probe(selected.size)
      }
      // a fully-loaded box flags most of the suite; if no quiet window
      // ever appeared, a second sweep under the SAME load buys nothing
      // — keep the honest loaded numbers and let load_factor say so
      if (quietProbe > windowFloor && flagged.size > selected.size / 2)
        System.err.println("[bench] box still loaded and most of the " +
          "suite flagged — skipping retries, artifact stays marked")
      else flagged.foreach { case (name, origMedian, _) =>
        val fn = SparkEntry.queries(name)
        val retryTimes = timeQuery(name, fn)
        val retryMedian = medianOf(retryTimes)
        val p = probe(selected.size)
        retried(name) = (origMedian, retryMedian, p)
      }
    }
    val resultsFull = sweepFull.map { case (name, m, ts) =>
      retried.get(name) match {
        case Some((_, rm, _)) if rm >= 0 => (name, math.min(m, rm), ts)
        case _ => (name, m, ts)
      }
    }
    val results = resultsFull.map { case (n, m, _) => (n, m) }
    // The driver captures a bounded tail (~2.4KB) of stdout and parses the
    // last line. Per-query detail grew past that window in r2 (96 queries
    // ≈ 2.4KB) and the line never parsed, so the stdout line now carries
    // group subtotals (stable ~400 chars no matter how many queries are
    // added) and the full per-query map goes to BENCH_FULL.json.
    // failures excluded from the total (a -1 sentinel must not shrink the
    // graded number into a fake speedup) and surfaced via "failed"
    val total = results.map(_._2).filter(_ >= 0).sum
    val full = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // per-run detail + relative spread ((max-min)/median over successful
    // runs) so a noisy query is visible in the artifact, not re-derived
    val runsJson = resultsFull.map { case (k, m, ts) =>
      val ok = ts.filter(_ >= 0)
      val spread =
        if (ok.size < 2 || m <= 0) 0.0 else (ok.max - ok.min) / m
      "\"" + k + "\":{\"median\":" + r3(m) +
        ",\"spread\":" + r3(spread) +
        ",\"runs\":[" + ts.map(r3).mkString(",") + "]}"
    }.mkString("{", ",", "}")
    // full probe timeline (queries-completed, seconds-into-sweep, value)
    // so a reader can see WHEN the box was loaded, not just whether
    val probesJson = probes.map { case (at, t, v) =>
      s"""{"at":$at,"t":${r3(t)},"sec":${r3(v)}}"""
    }.mkString("[", ",", "]")
    val retriedJson = retried.map { case (k, (orig, rm, p)) =>
      "\"" + k + "\":{\"orig\":" + r3(orig) + ",\"retry\":" + r3(rm) + ",\"probe\":" + r3(p) + "}"
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","nruns":$runs,"load_factor":${r3(loadFactor)},"load_cal":{"before":${r3(calBefore)},"after":${r3(calAfter)},"threads":$nThreads},"load_probes":$probesJson,"retried":$retriedJson,"queries":$full,"detailed":$runsJson,"sf":"$sfDir"}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_FULL.json")
    try {
      // carry forward the previous artifact's spliced isolated floors —
      // a sweep used to overwrite them silently (the r13 driver sweep
      // dropped 20 floors from the working tree); fresh-JVM floors are
      // not invalidated by a new in-session sweep, only by a new
      // --isolated run, which replaces the map itself
      val p = java.nio.file.Paths.get(detailPath)
      val outLine =
        if (java.nio.file.Files.exists(p))
          extractTopLevelMap(
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
            "isolated") match {
            case Some((iso, _)) => spliceIsolated(fullLine, iso)
            case None => fullLine
          }
        else fullLine
      java.nio.file.Files.write(p, (outLine + "\n").getBytes("UTF-8"))
    }
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // group = leading letters of the first '_'-token (a1→a, f13→f, dd→dd):
    // one subtotal per operator family, failures (-1) excluded but flagged
    def group(name: String): String =
      name.takeWhile(_ != '_').takeWhile(!_.isDigit) match { case "" => "x"; case g => g }
    val groups = results.groupBy { case (k, _) => group(k) }.toSeq.sortBy(_._1)
      .map { case (g, rs) =>
        val ok = rs.map(_._2).filter(_ >= 0)
        // a family with every query failed reports -1, not a fast-looking
        // 0.000 — the global `failed` count alone has no attribution
        "\"" + g + "\":" + (if (ok.isEmpty) "-1" else r3(ok.sum))
      }
      .mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$groups,"n":${results.size},"failed":$failed,"load_factor":${r3(loadFactor)},"probes":${probes.size},"retried":${retried.size},"detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
