package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Merge}

/** Scale probe, a developer tool: synthesize inputs far larger than the
  * test fixtures and time an operator path at row counts where a
  * driver-side or O(n²) implementation would fail. The default mode is
  * the delta-merge probe; four more modes follow it:
  *
  *   sbt "runMain graft.ScaleProbe 20000000 2000000"          # merge
  *   sbt "runMain graft.ScaleProbe synth <srcSfDir> <outDir> 10"
  *   sbt "runMain graft.ScaleProbe stream 5000000 1000000"
  *   sbt "runMain graft.ScaleProbe louvain <sfDir> [noaqe]"
  *   sbt "runMain graft.ScaleProbe decide 100000"
  *
  * The session comes from [[LocalSession]] (`SPARK_GRAFT_CPUS` cores).
  * README "Measured scale probes" lists the findings of earlier probe
  * modes, whose source stays in git at `fdeffa9`.
  */
object ScaleProbe {
  /** Per-phase timing of the graded Louvain fixture — where do the
    * seconds of `graph_louvain` actually go (setup / level-1 rounds /
    * coarsen / level-2 rounds / compose), and what does AQE cost on
    * latency-bound tiny-round jobs? Usage:
    *   sbt "runMain graft.ScaleProbe louvain /root/testdata/sf0.1 [noaqe]"
    */
  private def louvainProbe(args: Array[String]): Unit = {
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val aqe = !args.contains("noaqe")
    val spark = LocalSession()
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    // warm codegen/parquet paths so the probe times the loop, not JIT
    spark.range(1000000).selectExpr("sum(id)").collect()
    val t00 = System.nanoTime()
    var tLast = t00
    def lap(tag: String): Unit = {
      val now = System.nanoTime()
      println(f"[louvain] $tag%-22s ${(now - tLast) / 1e9}%6.2fs " +
        f"(total ${(now - t00) / 1e9}%6.2fs)")
      tLast = now
    }
    val cust = Tables.customer(spark, dir)
      .where(col("c_nationkey") === 1).select(col("c_custkey"))
    val edges = Tables.orders(spark, dir)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    lap("fixture-plan")
    // replicate Graph.louvain's fused ascend with a lap per action so
    // the per-round cost structure is visible (same code path:
    // canonEdges + degreesWeighted + moveFromLabeled)
    import graft.ops.Pin.{PinOps, PinIterOps}
    import graft.ops.Graph
    val e1 = Graph.canonEdges(edges, "src", "dst")
      .select(col("lo"), col("hi"), lit(1L).as("w")).pin()
    val nodes = e1.select(explode(array(col("lo"), col("hi"))).as("node"))
      .distinct()
    lap("e1-pin")
    def ascend(e: org.apache.spark.sql.DataFrame,
               init: org.apache.spark.sql.DataFrame,
               budget: Int, tag: String): org.apache.spark.sql.DataFrame = {
      val parts = e.agg(sum(col("w")).as("__w"),
        sum(when(col("lo") === col("hi"), col("w")).otherwise(lit(0L)))
          .as("__s")).head()
      val wL = parts.getLong(0); val sL = parts.getLong(1)
      val wTot = e.sparkSession.range(1).select(lit(wL).as("__w"))
      val x = e.where(col("lo") =!= col("hi"))
      val deg = Graph.degreesWeighted(e).pin()
      lap(s"$tag invariants")
      def label(b: org.apache.spark.sql.DataFrame) = x
        .join(b.select(col("node").as("lo"), col("comm").as("cl")), Seq("lo"))
        .join(b.select(col("node").as("hi"), col("comm").as("ch")), Seq("hi"))
      def qNum(lab: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame): Long = {
        val intra = lab.where(col("cl") === col("ch"))
          .agg(coalesce(sum(col("w")), lit(0L)).as("__i"))
        val volsq = deg.join(b, Seq("node"))
          .groupBy(col("comm")).agg(sum(col("d_i")).as("d_c"))
          .agg(coalesce(sum(col("d_c") * col("d_c")), lit(0L)).as("__v"))
        intra.crossJoin(broadcast(volsq))
          .select((lit(4L * wL) * (col("__i") + lit(sL)) - col("__v"))
            .as("q_num")).head().getLong(0)
      }
      var assign = init
      var q = deg.agg((lit(4L * wL * sL) -
          coalesce(sum(col("d_i") * col("d_i")), lit(0L))).as("q_num"))
        .head().getLong(0)
      lap(s"$tag init-q")
      var done = false; var attempts = 0; var isIdentity = true
      while (!done && attempts < budget) {
        val labA =
          if (isIdentity) x.select(col("lo"), col("hi"), col("w"),
            col("lo").as("cl"), col("hi").as("ch"))
          else label(assign)
        val cand = Graph.moveFromLabeled(labA, assign, deg, wTot,
          capInMigration = true).pinIter()
        lap(s"$tag r${attempts + 1} cand-pin")
        val qc = qNum(label(cand), cand)
        lap(s"$tag r${attempts + 1} q-read")
        attempts += 1
        if (qc > q) { assign = cand; q = qc; isIdentity = false }
        else done = true
      }
      assign
    }
    val l1 = ascend(e1, nodes.select(col("node"), col("node").as("comm")),
      4, "L1").pin()
    lap("l1-pin")
    val ce = e1
      .join(l1.select(col("node").as("lo"), col("comm").as("ca")), Seq("lo"))
      .join(l1.select(col("node").as("hi"), col("comm").as("cb")), Seq("hi"))
      .groupBy(least(col("ca"), col("cb")).as("lo"),
        greatest(col("ca"), col("cb")).as("hi"))
      .agg(sum(col("w")).as("w"))
      .pin()
    lap("coarsen-pin")
    val supernodes = l1.select(col("comm").as("node")).distinct()
    val l2 = ascend(ce, supernodes.select(col("node"),
      col("node").as("comm")), 3, "L2")
    val n = l1.select(col("node"), col("comm").as("c1"))
      .join(l2.select(col("node").as("c1"), col("comm")), Seq("c1"))
      .select(col("node"), col("comm")).count()
    lap("compose-count")
    println(s"[louvain] rows=$n aqe=$aqe")
    spark.stop()
  }

  /** Decade probe for the round-8 batch-7/8 operators: prefix-filtered
    * Jaccard join over a synthetic dup-class corpus, weighted SSSP and
    * per-source harmonic closeness on the bounded-degree synthetic
    * graph, and the two-phase skyline over hashed points — each at n
    * and 4n. All are join+aggregate algebra with fenced pair spaces, so
    * wall must scale near-linearly. Run with SPARK_DRIVER_MEM=24g at
    * n >= 100000 (32 concurrent hash-agg tasks over the 15M-shingle
    * frame outgrow the default 8g single-JVM heap; on a real cluster
    * this is ordinary executor sizing). Recorded point:
    * n=100k ppjoin=15.6s sssp=3.6s closeness=2.3s skyline=1.2s;
    * 4x data -> 3.3x / 1.1x / 1.4x / 1.4x wall. */
  private def decideProbe(args: Array[String]): Unit = {
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(100000L)
    val spark = LocalSession()
    // corpus: 20% of docs sit in near-dup pairs (partner differs in one
    // token), the rest unique; 40 tokens/doc over a vocabulary that
    // grows with n (the Heaps-law regime prefix filtering relies on).
    // The i² term matters: an i-AFFINE token formula makes any two
    // docs whose bases satisfy one shift congruence share nearly ALL
    // shingles (a hidden near-dup class per shift) — quadratic in i,
    // a cross-doc match at one position cannot persist at the next.
    def docs(sz: Long) = spark.range(0, sz)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)), i =>
          concat(lit("t"),
            when(i === 0 && col("id") % 10 === 1, col("id") + lit(sz * 4)) // the near-dup edit
              .otherwise(pmod(
                (col("id") - col("id") % 10 * when(col("id") % 10 <= 1, 1)
                  .otherwise(0)) * 37 + i * i * 13 + i * 7, lit(sz * 4))))))
          .as("text"))
    def edges(sz: Long) = spark.range(2, sz)
      .select(col("id").as("src"),
        explode(array((1 to 5).map(k =>
          pmod(col("id") * (2 * k + 1) + k * 7919, lit(sz - 2)) + 2): _*))
          .as("dst"))
      .where(col("dst") =!= col("src"))
      .withColumn("w", pmod(col("src") * 31 + col("dst") * 17, lit(1000L)) + 1)
    // pinned frontiers/token frames otherwise accumulate across the
    // four sections × two sizes and tip the 8g driver (the Bench
    // between-run sweep rationale)
    def sweep(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    def run(sz: Long): (Double, Double, Double, Double) = {
      val d = docs(sz).localCheckpoint()
      val t0 = System.nanoTime()
      ops.DedupText.prefixJaccardJoin(d, "doc_id", "text", 4, 5, n = 3)
        .agg(count(lit(1))).collect()
      val wPp = (System.nanoTime() - t0) / 1e9
      sweep()
      val e = edges(sz).localCheckpoint()
      val seeds = spark.range(2, sz, sz / 50).toDF("node")
      val t1 = System.nanoTime()
      ops.Graph.ssspDistances(e, "src", "dst", "w", seeds, "node", 4)
        .agg(count(lit(1))).collect()
      val wSs = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      ops.Graph.harmonicCloseness(e, "src", "dst", seeds, "node", 3)
        .agg(count(lit(1))).collect()
      val wCl = (System.nanoTime() - t2) / 1e9
      sweep()
      val pts = spark.range(0, sz).select(
        pmod(col("id") * 7919, lit(sz)).as("x"),
        pmod(col("id") * 104729, lit(sz)).as("y"))
      val t3 = System.nanoTime()
      ops.Skyline.skyline2d(pts, col("x"), col("y"))
        .agg(count(lit(1))).collect()
      val wSk = (System.nanoTime() - t3) / 1e9
      sweep()
      (wPp, wSs, wCl, wSk)
    }
    val (p1, s1, c1, k1) = run(n)
    val (p4, s4, c4, k4) = run(n * 4)
    println(f"[decide] n=$n%d ppjoin=$p1%.1fs sssp=$s1%.1fs " +
      f"closeness=$c1%.1fs skyline=$k1%.1fs | 4x ppjoin=$p4%.1fs " +
      f"(${p4 / p1}%.1fx) sssp=$s4%.1fs (${s4 / s1}%.1fx) " +
      f"closeness=$c4%.1fs (${c4 / c1}%.1fx) skyline=$k4%.1fs " +
      f"(${k4 / k1}%.1fx)")
    require(p4 / p1 < 8.0 && s4 / s1 < 8.0 && c4 / c1 < 8.0 &&
      k4 / k1 < 8.0,
      "4x data cost >= 8x wall on a decide-family op — superlinear")
    spark.stop()
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("synth") => synthScale(args)
    case Some("stream") => streamProbe(args)
    case Some("louvain") => louvainProbe(args)
    case Some("decide") => decideProbe(args)
    case rows if rows.forall(_.toLongOption.isDefined) => mergeProbe(args)
    case _ =>
      System.err.println(s"[scaleprobe] unknown mode '${args.head}' — usage: " +
        "ScaleProbe [targetRows [deltaRows]] | synth [srcDir [outDir " +
        "[copies]]] | stream [targetRows [deltaRows]] | louvain [sfDir " +
        "[noaqe]] | decide [n]")
      sys.exit(2)
  }

  /** The default mode: synthesize a `targetRows` target and a
    * `deltaRows` delta and time the full delta-merge plan. */
  private def mergeProbe(args: Array[String]): Unit = {
    val targetRows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val deltaRows = args.drop(1).headOption.map(_.toLong).getOrElse(2000000L)
    val spark = LocalSession()

    def synth(n: Long, offset: Long, modBase: Long) =
      spark.range(n).select(
        concat(lit("/r/"), ((col("id") + offset) % targetRows)).as("href"),
        ((col("id") + offset) % targetRows).cast("string").as("key"),
        (lit(modBase) + col("id") % 1000000).as("modified_ms"),
        concat(lit("{\"v\": "), col("id"), lit("}")).as("jsondata"),
        (col("id") % 5).cast("string").as("resourcetype"))

    val target = synth(targetRows, 0, 1700000000000L)
    // delta overlaps 50% with target keys and contains 10% duplicate keys
    val delta = synth(deltaRows, targetRows / 2, 1800000000000L)
      .unionByName(synth(deltaRows / 10, targetRows / 2, 1800000500000L))
    val tombs = spark.range(deltaRows / 20)
      .select(concat(lit("/r/"), col("id") * 7 % targetRows).as("href"))

    val t0 = System.nanoTime()
    val merged = Merge.delta(target, Dedup.keepLatest(delta), tombs)
    val n = merged.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"merged rows=$n%d target=$targetRows%d delta=${deltaRows}%d " +
      f"wall=${secs}%.1fs throughput=${(targetRows + deltaRows) / secs}%.0f rows/s")
    spark.stop()
  }

  /** Streaming delta-merge throughput: a pre-seeded parquet target and a
    * multi-file delta (updates + inserts + tombstones + in-batch
    * duplicates) drained through `StreamingSync.deltaMergeStream` under
    * AvailableNow — the production push-trigger path end to end
    * (checkpoint, source tracking, keep-latest merge, atomic target
    * swap). Reports drain wall and rows/s, then replays the SAME delta
    * through a fresh stream against the drained checkpoint to verify the
    * exactly-once path costs only the no-new-files probe.
    *
    *   sbt "runMain graft.ScaleProbe stream 5000000 1000000"
    */
  private def streamProbe(args: Array[String]): Unit = {
    val targetRows = args.drop(1).headOption.map(_.toLong).getOrElse(5000000L)
    val deltaRows = args.drop(2).headOption.map(_.toLong).getOrElse(1000000L)
    val spark = LocalSession()
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("streamprobe").toString
    def synth(n: Long, offset: Long, modBase: Long) =
      spark.range(n).select(
        concat(lit("/r/"), (col("id") + offset) % targetRows).as("href"),
        (lit(modBase) + col("id") % 1000000).as("modified_ms"),
        concat(lit("{\"v\": "), col("id"), lit("}")).as("jsondata"),
        lit(false).as("deleted"))
    // the merge unions target with the staged batch by position, so the
    // seeded target carries the same 4-column shape the stream delivers
    val target = new graft.runner.ParquetTarget(spark, s"$base/table")
    target.overwrite(synth(targetRows, 0, 1700000000000L))
    // delta: 50% update overlap, 10% in-batch duplicate keys (newer
    // modified_ms wins), 5% tombstones
    synth(deltaRows, targetRows / 2, 1800000000000L)
      .unionByName(synth(deltaRows / 10, targetRows / 2, 1800000500000L))
      .unionByName(spark.range(deltaRows / 20)
        .select(concat(lit("/r/"), col("id") * 7 % (targetRows / 4)).as("href"),
          lit(1900000000000L).as("modified_ms"),
          lit(null).cast("string").as("jsondata"),
          lit(true).as("deleted")))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$base/in")
    def drain(): Double = {
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$base/in").schema)
        .parquet(s"$base/in")
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingSync.deltaMergeStream(spark, stream,
        isTombstone = col("deleted") === true, target,
        checkpoint = s"$base/ckpt")
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    val inRows = targetRows + deltaRows + deltaRows / 10 + deltaRows / 20
    val t1 = drain()
    val n1 = target.read(spark).count()
    println(f"[streamprobe] drain1 wall=$t1%.1fs merged=$n1%d " +
      f"throughput=${inRows / t1}%.0f rows/s (target=$targetRows delta=$deltaRows)")
    // replay: same files, same checkpoint — source tracking must skip
    // them (exactly-once), so the second drain is the empty-batch floor
    val t2 = drain()
    val n2 = target.read(spark).count()
    println(f"[streamprobe] drain2 (replay) wall=$t2%.1fs merged=$n2%d")
    require(n1 == n2, s"replayed drain changed the target: $n1 -> $n2")
    require(t2 < t1 / 2,
      f"replay should be the no-new-files floor, got $t2%.1fs vs $t1%.1fs")
    spark.stop()
  }

  /** Synthesize a larger scale point from an existing sf dir by unioning
    * `copies` key-shifted replicas: `sbt "runMain graft.ScaleProbe synth
    * /root/testdata/sf0.1 /tmp/sf1 10"`. Referential integrity is
    * preserved (every foreign key shifts by the same per-copy offset);
    * nation/region stay fixed (they are bounded in TPC-H too, so
    * per-nation group sizes scale with the data — the realistic shape).
    * Document text is Caesar-ciphered per copy and embeddings are
    * dimension-rotated per copy, so replicas are NOT near-duplicates of
    * each other: dedup/ANN workloads keep their organic duplicate
    * density instead of degenerating into 10-way clone clusters, and
    * per-copy cluster structure matches the source. Embedding labels
    * shift per copy so cell-blocked pair queries keep constant cell
    * density (more cells, not denser ones — how a real corpus grows). */
  private def synthScale(args: Array[String]): Unit = {
    val src = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(2).headOption.getOrElse("/tmp/sf1")
    val copies = args.drop(3).headOption.map(_.toInt).getOrElse(10)
    val spark = LocalSession()
    import org.apache.spark.sql.DataFrame
    // Per-copy KEYED ALPHABET PERMUTATION (letters→letters,
    // digits→digits so tokenization shape is preserved). The previous
    // Caesar rotation had period 26: at copies > 26 every pure-alpha
    // word was IDENTICAL across copies k ≡ k' (mod 26), which seeded
    // ~(copies/26)-way clone classes — the sf10 curve measured
    // dd_ppjoin at 41.8x for 10x data purely from that output-bound
    // pair blowup (clone classes make C(c,2) genuine near-dup pairs
    // per class; the engine plan was unchanged). A Fisher-Yates
    // shuffle seeded by the copy index has period 26!·10! — replicas
    // keep organic duplicate density at ANY copy count.
    def caesar(c: org.apache.spark.sql.Column, k: Int) = {
      def perm(s: String, seed: Long): String = {
        val a = s.toCharArray
        val r = new scala.util.Random(seed)
        var i = a.length - 1
        while (i > 0) {
          val j = r.nextInt(i + 1)
          val t = a(i); a(i) = a(j); a(j) = t
          i -= 1
        }
        new String(a)
      }
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val dig = "0123456789"
      if (k == 0) c
      else translate(c, alpha + dig,
        perm(alpha, 0x5DEECE66DL * k) + perm(dig, 0xDA3E39CB94B95BDBL * k))
    }
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[synth] $t written")
    }
    def scaled(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      write(t, (0 until copies).map(k => f(base, k)).reduce(_ unionByName _))
    }
    // fail fast if a per-copy offset could collide (e.g. scaling a dir
    // that was itself synthesized): colliding keys would silently break
    // referential integrity. Parquet footer stats make these max() scans
    // metadata-only.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq(("customer", "c_custkey", 100000L), ("supplier", "s_suppkey", 10000L),
      ("part", "p_partkey", 100000L), ("orders", "o_orderkey", 10000000L),
      ("documents", "doc_id", 100000L), ("embeddings", "vec_id", 10000L),
      ("events", "event_id", 10000000L), ("events", "user_id", 1000000L))
      .foreach { case (t, key, off) =>
        val mx = spark.read.parquet(s"$src/$t.parquet")
          .agg(max(col(key))).head.getLong(0)
        require(mx < off, s"[synth] $t.$key max $mx >= per-copy offset " +
          s"$off — keys would collide; scale from an ORIGINAL sf dir")
      }
    Seq("region", "nation").foreach(t =>
      write(t, spark.read.parquet(s"$src/$t.parquet")))
    scaled("customer")((d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + k * 100000L))
    scaled("supplier")((d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + k * 10000L))
    scaled("part")((d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + k * 100000L))
    scaled("orders")((d, k) => d
      .withColumn("o_orderkey", col("o_orderkey") + k * 10000000L)
      .withColumn("o_custkey", col("o_custkey") + k * 100000L))
    scaled("lineitem")((d, k) => d
      .withColumn("l_orderkey", col("l_orderkey") + k * 10000000L)
      .withColumn("l_partkey", col("l_partkey") + k * 100000L)
      .withColumn("l_suppkey", col("l_suppkey") + k * 10000L))
    // events: ts passes through in the SOURCE dir's physical type —
    // TIMESTAMP(NANOS) reads as raw long nanos (same knob
    // Tables.eventsRaw sets) and re-writes as plain INT64;
    // TIMESTAMP(MICROS) (round-7+ driver data) round-trips as
    // timestamp[us]. Tables.normalizeTs canonicalizes either on read.
    // The synthesized dir is a BENCH fixture only: DuckDB oracle SQL
    // uses epoch_ms(ts) and does not apply to it (the driver's oracle
    // gate runs on the original /root/testdata dirs, never on synth)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    scaled("events")((d, k) => d
      .withColumn("event_id", col("event_id") + k * 10000000L)
      .withColumn("user_id", col("user_id") + k * 1000000L))
    scaled("documents")((d, k) => d
      .withColumn("doc_id", col("doc_id") + k * 100000L)
      .withColumn("text", caesar(col("text"), k)))
    scaled("embeddings")((d, k) => {
      // rotation alone has period 64 (copies 64.. duplicated copies
      // 0.. EXACTLY — same clone-class artifact as the old Caesar);
      // compose it with a per-copy deterministic SIGN-FLIP pattern
      // (bits of a hashed copy index). Sign flips preserve norms and
      // all within-copy dot products (s_i^2 = 1 termwise), so each
      // replica keeps the source's cosine/cluster structure while
      // cross-copy dots scramble — and the composite transform family
      // is unbounded, no collisions at any copy count.
      val rot = (k * 7) % 64
      val rotated = if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, 64 - rot),
          slice(col("embedding"), 1, rot))
      val signBits = (0 until 64).map(j =>
        ((k.toLong * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L) >>> j) & 1L)
      val emb = if (k == 0) col("embedding")
        else zip_with(rotated,
          array(signBits.map(b => lit(if (b == 1L) -1.0f else 1.0f)): _*),
          (x, s) => x * s)
      d.withColumn("vec_id", col("vec_id") + k * 10000L)
        .withColumn("embedding", emb)
        .withColumn("label", col("label") + k * 1000)
    })
    spark.stop()
  }
}
