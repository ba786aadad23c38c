package graft

import org.apache.spark.sql.functions._
import graft.ops.{Freq, Packing, RangeBin, Sampling, TimeSeries}

/** Round-4 batch-2 operators: heavy hitters, sequence packing, interval
  * overlap join, forward-fill/resample, shard shuffle. */
class Round4bSpec extends SparkSuite {
  import spark.implicits._

  // ---- Freq (Misra-Gries heavy hitters) ----

  test("heavyHitters equals exact GROUP BY + HAVING on a skewed stream") {
    // heavy: "a" (40%), "b" (30%); 300 tail rows in both regimes: all
    // distinct (the n-gram/URL regime) and a bounded 10-term vocabulary
    // (3% each) — spread over many partitions so the per-partition
    // summaries genuinely decrement
    for (tail <- Seq((0 until 300).map(i => s"t$i"),
                     (0 until 300).map(i => s"t${i % 10}"))) {
      val terms = (Seq.fill(400)("a") ++ Seq.fill(300)("b") ++ tail)
        .toDF("w").repartition(8)
      val got = Freq.heavyHitters(terms, "w", k = 5)
        .as[(String, Long)].collect().toMap
      val n = 1000L
      val want = terms.groupBy("w").count().as[(String, Long)]
        .collect().filter { case (_, c) => c * 5 > n }.toMap
      assert(got === want)
      assert(got.keySet === Set("a", "b"))
    }
  }

  test("mgCandidates is a superset of true heavy hitters on any layout") {
    // "hot" is 100/300 = 33% > 1/k = 25%, so MG must retain it: the
    // undercount from decrement-alls is bounded by n/k = 75 < 100
    val terms = (Seq.fill(100)("hot") ++ (0 until 200).map(i => s"x$i"))
      .toDF("w")
    for (p <- Seq(1, 3, 7)) {
      val cand = Freq.mgCandidates(terms.repartition(p), "w", k = 4)
        .as[String].collect().toSet
      assert(cand.contains("hot"), s"lost the heavy hitter at $p partitions")
    }
  }

  // ---- Packing ----

  private val packDocs = Seq(
    ("g1", 1L, 300L), ("g1", 2L, 300L), ("g1", 3L, 1200L), ("g1", 4L, 100L),
    ("g2", 1L, 512L), ("g2", 2L, 1L)
  ).toDF("g", "id", "len")

  test("packChunks pieces tile every document exactly") {
    val out = Packing.packChunks(packDocs, "g", "id", "len", 512L)
    val perDoc = out.groupBy("g", "id")
      .agg(sum("piece_len").as("tot"), min("piece_start").as("st"),
        max(col("piece_start") + col("piece_len")).as("en"))
      .join(packDocs, Seq("g", "id"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
    perDoc.foreach { case (g, id, tot, st, en, len) =>
      assert(tot === len, s"$g/$id piece lengths don't sum to len")
      assert(st === 0L && en === len, s"$g/$id pieces don't span the doc")
    }
    // and every bin except a group's last is filled to exactly the budget
    val binFill = out.groupBy("g", "bin").agg(sum("piece_len").as("fill"))
    val lastBin = binFill.groupBy("g").agg(max("bin").as("bin"))
    val inner = binFill.join(lastBin, Seq("g", "bin"), "left_anti")
      .as[(String, Long, Long)].collect()
    inner.foreach { case (g, b, f) =>
      assert(f === 512L, s"non-final bin $g/$b holds $f tokens")
    }
  }

  test("packChunks: a doc longer than the budget straddles several bins") {
    val out = Packing.packChunks(packDocs, "g", "id", "len", 512L)
      .where(col("g") === "g1" && col("id") === 3L)
      .orderBy("bin")
      .select("bin", "piece_start", "piece_len", "bin_offset")
      .as[(Long, Long, Long, Long)].collect()
    // g1 doc 3 (len 1200) starts at cum 600: fills bins 1..3
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(out.map(_._3).sum === 1200L)
    assert(out.head._4 === 600L - 512L) // starts mid-bin-1
  }

  test("greedyPack matches a sequential first-fit fold and never splits") {
    val out = Packing.greedyPack(packDocs, "g", "id", "len", 512L)
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._2, r._4)))
    // reference fold per group
    def ref(lens: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      var bin = 0L; var fill = 0L; var first = true
      lens.map { case (id, l) =>
        if (first) { first = false; fill = l }
        else if (fill + l > 512L) { bin += 1; fill = l }
        else fill += l
        (id, bin)
      }
    }
    val g1 = packDocs.where($"g" === "g1").orderBy("id")
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3)).toSeq
    assert(out("g1").toSeq === ref(g1))
    // g2: doc1 fills the budget exactly; doc2 (len 1) must open bin 1
    assert(out("g2").toSeq === Seq((1L, 0L), (2L, 1L)))
  }

  test("reserved output columns are rejected, never silently clobbered") {
    val d = Seq((1L, "g", 5L)).toDF("id", "g", "len")
    intercept[IllegalArgumentException] {
      Packing.packChunks(d.withColumn("bin", lit(0)), "g", "id", "len", 8L)
    }
    intercept[IllegalArgumentException] {
      Sampling.shuffleShards(d.withColumn("pos", lit(0)), col("id"), "s", 2)
    }
    intercept[IllegalArgumentException] {
      Sampling.resampleByGroup(d.withColumn("copy", lit(0)), "g",
        col("id").cast("string"), Seq(("g", 1, 1)).toDF("g", "k", "m"))
    }
    intercept[IllegalArgumentException] {
      TimeSeries.resampleSteps(d.withColumn("n_obs", lit(0)), Seq("g"),
        col("len"), col("id"), "len", "s", "v")
    }
  }

  test("greedyPack: a null group is its own group with fresh state") {
    val docs = Seq((Option.empty[String], 1L, 400L),
      (Option.empty[String], 2L, 400L), (Some("g"), 1L, 400L))
      .toDF("g", "id", "len")
    val out = Packing.greedyPack(docs, "g", "id", "len", 512L)
      .select("g", "id", "bin").as[(Option[String], Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // the two null-group docs don't fit one bin; the "g" doc restarts at 0
    assert(out === Seq((None, 1L, 0L), (None, 2L, 1L), (Some("g"), 1L, 0L)))
  }

  test("greedyPack never exceeds the budget except for oversize singletons") {
    val out = Packing.greedyPack(packDocs, "g", "id", "len", 512L)
    val fills = out.groupBy("g", "bin")
      .agg(sum("len").as("fill"), count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect()
    fills.foreach { case (g, b, f, n) =>
      assert(f <= 512L || n === 1L, s"bin $g/$b overfilled with $n docs")
    }
  }

  test("packing invariants hold on randomized corpora (seeded)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val budget = 64L + rnd.nextInt(400)
      val docs = (1 to 300).map { i =>
        (s"g${rnd.nextInt(6)}", i.toLong, 1L + rnd.nextInt(200)) }
        .toDF("g", "id", "len")
      // chunked: pieces tile each doc exactly, offsets stay inside bins
      val ch = Packing.packChunks(docs, "g", "id", "len", budget)
      val tiled = ch.groupBy("g", "id").agg(sum("piece_len").as("tot"))
        .join(docs, Seq("g", "id"))
        .where(col("tot") =!= col("len")).count()
      assert(tiled === 0L, s"trial $trial: pieces don't tile")
      val outOfBin = ch.where(col("bin_offset") < 0 ||
        col("bin_offset") + col("piece_len") > budget).count()
      assert(outOfBin === 0L, s"trial $trial: piece escapes its bin")
      // greedy: per-bin fill ≤ budget unless a single oversize doc
      val gr = Packing.greedyPack(docs, "g", "id", "len", budget)
      val over = gr.groupBy("g", "bin")
        .agg(sum("len").as("fill"), count(lit(1)).as("n"))
        .where(col("fill") > budget && col("n") > 1).count()
      assert(over === 0L, s"trial $trial: greedy bin overfilled")
      // both packings cover every doc exactly once (no loss, no dup)
      assert(gr.count() === 300L)
      assert(ch.select("g", "id").distinct().count() === 300L)
    }
  }

  // ---- RangeBin.intervalOverlap ----

  test("intervalOverlap equals the theta join, each pair exactly once") {
    val a = Seq((1L, 0L, 100L), (2L, 50L, 60L), (3L, 200L, 1000L),
      (4L, 999L, 1000L), (5L, 5L, 5L)) // empty interval matches nothing
      .toDF("a_id", "a_s", "a_e")
    val b = Seq((10L, 90L, 210L), (11L, 55L, 58L), (12L, 0L, 2000L),
      (13L, 100L, 200L)) // [100,200) touches neither [0,100) nor [200,...)
      .toDF("b_id", "b_s", "b_e")
    for (w <- Seq(7L, 64L, 10000L)) {
      val got = RangeBin.intervalOverlap(a, "a_s", "a_e", b, "b_s", "b_e",
          Nil, w)
        .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
      // reference: theta join over NON-degenerate intervals — [5,5) is
      // empty, so the op (documented: e ≤ s matches nothing) excludes it
      // even though the raw predicate alone would accept it
      val want = a.where(col("a_e") > col("a_s"))
        .join(b.where(col("b_e") > col("b_s")),
          col("a_s") < col("b_e") && col("b_s") < col("a_e"))
        .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
      assert(got === want, s"width $w")
      assert(got.distinct === got, s"duplicate pairs at width $w")
    }
  }

  // ---- TimeSeries ----

  test("fillForward carries the last non-null; leading nulls stay null") {
    val df = Seq((1L, 1L, Option.empty[Double]), (1L, 2L, Some(5.0)),
      (1L, 3L, None), (1L, 4L, None), (1L, 5L, Some(7.0)), (1L, 6L, None))
      .toDF("k", "t", "v")
    val out = TimeSeries.fillForward(df, Seq("k"), Seq(col("t")), "v", "f")
      .orderBy("t").select("f").as[Option[Double]].collect().toSeq
    assert(out === Seq(None, Some(5.0), Some(5.0), Some(5.0), Some(7.0),
      Some(7.0)))
  }

  test("resampleSteps emits a contiguous grid with carried values") {
    val df = Seq((1L, 10L, 100L, 1.0), (1L, 10L, 101L, 2.0),
      (1L, 13L, 130L, 9.0)).toDF("k", "step", "tie", "v")
    val out = TimeSeries.resampleSteps(df, Seq("k"), col("step"),
        col("tie"), "v", "s", "vl")
      .orderBy("s").select("s", "vl", "n_obs")
      .as[(Long, Double, Long)].collect().toSeq
    // day 10 keeps the LATEST of its two events (tie 101 → 2.0); 11 and 12
    // are filled with 2.0 and n_obs 0; 13 observes 9.0
    assert(out === Seq((10L, 2.0, 2L), (11L, 2.0, 0L), (12L, 2.0, 0L),
      (13L, 9.0, 1L)))
  }

  // ---- AsOf.joinNearest ----

  test("joinNearest picks min |dt|; equidistant ties go backward") {
    import graft.ops.AsOf
    val left = Seq((1L, 100L, 10L), (1L, 205L, 11L), (1L, 400L, 12L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 90L, 1L), (1L, 210L, 2L), (1L, 200L, 3L),
      (1L, 500L, 4L)).toDF("k", "t", "rid")
    val out = AsOf.joinNearest(left, right, "k", "t", "lid", "rid")
      .select("lid", "asof_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    // lid 10 (t=100): nearest is 90 (dt 10) vs 200 (dt 100) → 1
    // lid 11 (t=205): 200 (dt 5 back) vs 210 (dt 5 fwd) → tie → backward 3
    // lid 12 (t=400): 210 (dt 190) vs 500 (dt 100) → 4
    assert(out === Seq((10L, Some(1L)), (11L, Some(3L)), (12L, Some(4L))))
  }

  test("joinNearest matches a simultaneous right row (dt = 0)") {
    import graft.ops.AsOf
    val left = Seq((1L, 100L, 10L)).toDF("k", "t", "lid")
    val right = Seq((1L, 100L, 1L), (1L, 101L, 2L)).toDF("k", "t", "rid")
    val out = AsOf.joinNearest(left, right, "k", "t", "lid", "rid")
      .select("asof_id").as[Long].collect().toSeq
    assert(out === Seq(1L))
  }

  // ---- Sampling.resampleByGroup ----

  test("resampleByGroup: exact copy counts per rate, including upsampling") {
    val d = (1L to 400L).map(i => (i, s"g${i % 4}")).toDF("id", "g")
    // rates 0x, 0.5x, 1x, 2x
    val rates = Seq(("g0", 0, 100), ("g1", 50, 100), ("g2", 100, 100),
      ("g3", 200, 100)).toDF("g", "k", "m")
    val out = graft.ops.Sampling
      .resampleByGroup(d, "g", col("id").cast("string"), rates)
      .groupBy("g").agg(count(lit(1)).as("n"),
        countDistinct(col("id")).as("nd"), max("copy").as("mx"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains("g0"), "rate-0 group must vanish")
    val (_, n1, nd1, _) = out("g1")
    assert(n1 === nd1 && n1 > 20 && n1 < 80, s"~50% of 100, got $n1")
    assert(out("g2") === (("g2", 100L, 100L, 1L)), "rate 1 = identity")
    val (_, n3, nd3, mx3) = out("g3")
    assert(n3 === 200L && nd3 === 100L && mx3 === 2L, "rate 2 = 2 copies each")
    // missing group fails loudly
    val bad = Seq((1L, "gX")).toDF("id", "g")
    intercept[Exception] {
      graft.ops.Sampling.resampleByGroup(bad, "g",
        col("id").cast("string"), rates).count()
    }
  }

  // ---- Cluster.applyEdges (incremental CC) ----

  test("applyEdges merges across clusters, seeds new vertices, ignores " +
    "intra-cluster edges") {
    import graft.ops.Cluster
    // base: {1,2} {3} {4,5}; delta edges merge 2↔4 and link new 6↔7;
    // (1,2) is intra-cluster noise; 8 arrives isolated
    val baseLabels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
      .toDF("id", "cluster")
    val newEdges = Seq((2L, 4L), (6L, 7L), (1L, 2L)).toDF("a", "b")
    val newVerts = Seq(6L, 7L, 8L).toDF("v")
    val got = Cluster.applyEdges(baseLabels, newEdges, "a", "b",
        newVerts, "v")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 1L), (5L, 1L),
      (6L, 6L), (7L, 6L), (8L, 8L)))
  }

  test("applyEdges with an empty delta is the identity") {
    import graft.ops.Cluster
    val baseLabels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "cluster")
    val out = Cluster.applyEdges(baseLabels,
        Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b",
        Seq.empty[Long].toDF("v"), "v")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, 1L), (2L, 1L), (3L, 3L)))
  }

  test("intervalOverlap equals theta join on random intervals") {
    val rnd = new scala.util.Random(23)
    val a = (1L to 80L).map { i =>
      val s = rnd.nextInt(1000).toLong; (i, s, s + 1 + rnd.nextInt(300)) }
      .toDF("a_id", "a_s", "a_e")
    val b = (1L to 60L).map { i =>
      val s = rnd.nextInt(1000).toLong; (i, s, s + 1 + rnd.nextInt(300)) }
      .toDF("b_id", "b_s", "b_e")
    val want = a.join(b, col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
    for (w <- Seq(13L, 256L)) {
      val got = RangeBin.intervalOverlap(a, "a_s", "a_e", b, "b_s", "b_e",
          Nil, w)
        .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
      assert(got === want, s"width $w")
    }
  }

  test("applyEdges(cc(B), dE) equals cc(B ∪ dV, E ∪ dE) on random graphs") {
    import graft.ops.Cluster
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 2) {
      val baseV = (1L to 60L)
      val baseE = Seq.fill(40)((1L + rnd.nextInt(60), 1L + rnd.nextInt(60)))
      val dV = (61L to 80L)
      val dE = Seq.fill(25)((1L + rnd.nextInt(80), 1L + rnd.nextInt(80)))
      val baseCC = Cluster.connectedComponents(baseV.toDF("id"), "id",
        baseE.toDF("a", "b"), "a", "b")
      val inc = Cluster.applyEdges(baseCC, dE.toDF("a", "b"), "a", "b",
          dV.toDF("v"), "v")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val full = Cluster.connectedComponents(
          (baseV ++ dV).toDF("id"), "id",
          (baseE ++ dE).toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(inc === full, s"trial $trial")
    }
  }

  // ---- DedupText.lshCandidatesDelta ----

  test("incremental LSH: candidates(B ∪ D) = candidates(B) ∪ delta(B, D)") {
    import graft.ops.DedupText
    val docs = graft.queries.PipelineQueries
      .docsWithDups(spark, "/root/testdata/sf0.001")
    val isDelta = col("doc_id") % 7 === 0
    val sigAll = DedupText.minhashSignaturesExact(docs, "doc_id", "text")
    val sigBase = DedupText.minhashSignaturesExact(
      docs.where(!isDelta), "doc_id", "text")
    val sigDelta = DedupText.minhashSignaturesExact(
      docs.where(isDelta), "doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    val full = pairs(DedupText.lshCandidatesExact(sigAll, "doc_id", 8, 4))
    val baseOnly = pairs(DedupText.lshCandidatesExact(sigBase, "doc_id", 8, 4))
    val delta = pairs(DedupText.lshCandidatesDelta(sigBase, sigDelta,
      "doc_id", 8, 4))
    assert((baseOnly ++ delta) === full, "maintenance identity broken")
    assert(delta.forall { case (a, b) => a % 7 == 0 || b % 7 == 0 },
      "delta pairs must touch the delta batch")
    assert(delta.nonEmpty)
  }

  // ---- HLL sketch merge ----

  test("union of partial HLL sketches estimates like the direct sketch") {
    // NOT bit-lossless: the DataSketches union path (HLL_8 gadget) can
    // differ from direct aggregation by sketch error — pin the BOUND, not
    // identity, and that both land within HLL error of the true count
    val df = spark.range(10000).selectExpr("id % 16 as part", "id % 937 as v")
    val merged = df.groupBy("part").agg(expr("hll_sketch_agg(v)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .as[Long].head()
    val direct = df.agg(expr("hll_sketch_estimate(hll_sketch_agg(v))"))
      .as[Long].head()
    def closeTo(a: Long, b: Long) = math.abs(a - b) <= (b * 5) / 100
    assert(closeTo(merged, 937L), s"merged=$merged far from 937")
    assert(closeTo(direct, 937L), s"direct=$direct far from 937")
    assert(closeTo(merged, direct), s"merged=$merged vs direct=$direct")
  }

  // ---- Quality gates ----

  test("Quality.orphans reports null foreign keys as violations") {
    import graft.ops.Quality
    val fact = Seq((Some(1L), "a"), (None, "b"), (Some(9L), "c"))
      .toDF("fk", "payload")
    val dim = Seq(1L, 2L).toDF("dk")
    val got = Quality.orphans(fact, "fk", dim, "dk")
      .select("payload").as[String].collect().sorted.toSeq
    assert(got === Seq("b", "c")) // null fk AND unmatched fk, not just 9
  }

  test("Quality.duplicateKeys and nullStats count exactly") {
    import graft.ops.Quality
    val df = Seq((1L, Some("x")), (1L, None), (2L, Some("y")))
      .toDF("k", "v")
    assert(Quality.duplicateKeys(df, Seq("k"))
      .as[(Long, Long)].collect().toSeq === Seq((1L, 2L)))
    val ns = Quality.nullStats(df, Seq("k", "v"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(ns === Seq(("k", 0L, 3L), ("v", 1L, 3L)))
  }

  // ---- ShardWriter ----

  test("ShardWriter: reproducible shard files, partition-pruned reads") {
    import graft.sink.ShardWriter
    val df = spark.range(2000).toDF("id")
    val base = java.nio.file.Files.createTempDirectory("shards").toString
    ShardWriter.write(df, col("id"), "epoch1", 4, s"$base/a")
    ShardWriter.write(df, col("id"), "epoch1", 4, s"$base/b")
    // identical salt → byte-identical shard contents in training order
    for (sh <- 0 until 4) {
      val a = ShardWriter.readShard(spark, s"$base/a", sh)
        .select("id").as[Long].collect().toSeq
      val b = ShardWriter.readShard(spark, s"$base/b", sh)
        .select("id").as[Long].collect().toSeq
      assert(a === b, s"shard $sh not reproducible")
      assert(a.nonEmpty)
    }
    // all rows present exactly once across shards
    val all = spark.read.parquet(s"$base/a").select("id").as[Long]
      .collect().sorted.toSeq
    assert(all === (0L until 2000L).toSeq)
    // the shard filter prunes partitions at the scan
    val plan = ShardWriter.readShard(spark, s"$base/a", 2)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("shard=2") || !plan.contains("shard=0"),
      s"shard read must partition-prune:\n${plan.take(800)}")
  }

  // ---- streaming incremental LSH (foreachBatch + lshCandidatesDelta) ----

  test("streaming near-dup index: per-batch delta maintenance converges " +
    "to the batch recompute") {
    import graft.ops.DedupText
    val docs = graft.queries.PipelineQueries
      .docsWithDups(spark, "/root/testdata/sf0.001").localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("slsh").toString
    // three micro-batches of documents arriving over time
    docs.where(col("doc_id") % 3 === 0).write.parquet(s"$base/in/b0")
    docs.where(col("doc_id") % 3 === 1).write.parquet(s"$base/in/b1")
    docs.where(col("doc_id") % 3 === 2).write.parquet(s"$base/in/b2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/*")
    // signature store + candidate index maintained across micro-batches
    var store: Option[org.apache.spark.sql.DataFrame] = None
    var index = Set.empty[(Long, Long)]
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = DedupText
          .minhashSignaturesExact(batch, "doc_id", "text").localCheckpoint()
        val baseSig = store.getOrElse(delta.limit(0))
        index ++= DedupText
          .lshCandidatesDelta(baseSig, delta, "doc_id", 8, 4)
          .as[(Long, Long)].collect()
        store = Some(baseSig.unionByName(delta).localCheckpoint())
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val full = DedupText.lshCandidatesExact(
        DedupText.minhashSignaturesExact(docs, "doc_id", "text"),
        "doc_id", 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(index === full,
      s"streamed index diverged: missing=${(full -- index).take(3)} " +
        s"extra=${(index -- full).take(3)}")
  }

  test("streaming incremental clustering converges to the batch CC") {
    import graft.ops.{Cluster, DedupText}
    val docs = graft.queries.PipelineQueries
      .docsWithDups(spark, "/root/testdata/sf0.001").localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("scc").toString
    docs.where(col("doc_id") % 3 === 0).write.parquet(s"$base/in/b0")
    docs.where(col("doc_id") % 3 === 1).write.parquet(s"$base/in/b1")
    docs.where(col("doc_id") % 3 === 2).write.parquet(s"$base/in/b2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/*")
    // state across micro-batches: signature store + current labeling
    var store: Option[org.apache.spark.sql.DataFrame] = None
    var labels: Option[org.apache.spark.sql.DataFrame] = None
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = DedupText
          .minhashSignaturesExact(batch, "doc_id", "text").localCheckpoint()
        val baseSig = store.getOrElse(delta.limit(0))
        val pairs = DedupText.lshCandidatesDelta(baseSig, delta,
          "doc_id", 8, 4)
        val baseLbl = labels.getOrElse(
          spark.range(0).select(col("id"), col("id").as("cluster")))
        labels = Some(Cluster.applyEdges(baseLbl, pairs, "a_id", "b_id",
          batch.select("doc_id"), "doc_id").localCheckpoint())
        store = Some(baseSig.unionByName(delta).localCheckpoint())
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = labels.get.as[(Long, Long)].collect().sortBy(_._1).toSeq
    val full = Cluster.connectedComponents(docs.select("doc_id"), "doc_id",
        DedupText.lshCandidatesExact(
          DedupText.minhashSignaturesExact(docs, "doc_id", "text"),
          "doc_id", 8, 4),
        "a_id", "b_id", edgesCovered = true)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed === full,
      "streamed clustering diverged from the batch fixpoint")
  }

  // ---- TopKAggregator ----

  test("TopKAggregator matches the window row_number form exactly") {
    import graft.expr.TopKAggregator
    import org.apache.spark.sql.expressions.Window
    val rows = (1L to 500L).map(i =>
      (s"g${i % 3}", (i * 7919) % 100, i)) // many value ties, unique ids
    val df = rows.toDF("g", "v", "id")
    val typed = df.as[(String, Long, Long)]
      .groupByKey(_._1).mapValues { case (_, v, id) => (v, id) }
      .agg(new TopKAggregator(5).toColumn.name("topk"))
      .toDF("g", "topk")
      .select(col("g"), posexplode(col("topk")))
      .select(col("g"), (col("pos") + 1).as("rnk"),
        col("col._1").as("v"), col("col._2").as("id"))
      .as[(String, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val win = df.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 5).select("g", "rnk", "v", "id")
      .as[(String, Int, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(typed === win)
  }

  test("TopKAggregator buffer never exceeds k and stays best-first") {
    import graft.expr.TopKAggregator
    val agg = new TopKAggregator(3)
    val buf = (1L to 20L).foldLeft(agg.zero)((b, i) =>
      agg.reduce(b, ((i * 13) % 10, i)))
    assert(buf.size === 3)
    assert(buf === buf.sortBy { case (v, id) => (-v, id) })
    // merge of two full buffers trims back to k
    assert(agg.merge(buf, buf).size === 3)
  }

  // ---- Similarity.semanticDedup ----

  test("semanticDedup clusters near-identical vectors within a cell") {
    import graft.ops.Similarity
    // two tight pairs along different axes + two loners; centroids are one
    // member of each pair — near-dups land in the same cell and collapse
    def v(x: Float, y: Float, z: Float) = Array(x, y, z)
    val corpus = Seq(
      (1L, v(1f, 0.01f, 0f)), (2L, v(1f, 0f, 0.01f)),   // pair A
      (3L, v(0f, 1f, 0.01f)), (4L, v(0.01f, 1f, 0f)),   // pair B
      (5L, v(0.6f, 0.6f, 0.6f)),                        // loner (mid-angle)
      (6L, v(0f, 0.01f, 1f))                            // loner (z axis)
    ).toDF("vec_id", "embedding")
    val cents = corpus.where($"vec_id".isin(1L, 3L, 6L))
    val out = Similarity.semanticDedup(corpus, cents, threshold = 0.99)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true),
      (4L, 3L, false), (5L, 5L, true), (6L, 6L, true)))
  }

  // ---- Sampling.shuffleShards ----

  test("shuffleShards is a deterministic permutation, salt-sensitive") {
    val df = spark.range(1000).toDF("id")
    def run(salt: String) =
      Sampling.shuffleShards(df, col("id"), salt, 8)
        .select("id", "shard", "pos").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
    val one = run("s1")
    assert(one === run("s1"), "not deterministic")
    assert(one !== run("s2"), "salt has no effect")
    // every shard's positions are exactly 1..count(shard)
    one.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted === (1L to rows.size).toSeq,
        s"shard $sh positions not contiguous")
    }
    assert(one.map(_._2).distinct.size === 8)
  }
}
