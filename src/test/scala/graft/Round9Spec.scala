package graft

import org.apache.spark.sql.functions._

/** Round-7 batch-3 operators: exact-rational EWMA, winnowing
  * fingerprints, hashing-trick features — the guarantees the parquet
  * oracle can't state (the winnowing match guarantee, EWMA's
  * renormalization algebra, feature-mass conservation).
  */
class Round9Spec extends SparkSuite {
  import spark.implicits._

  test("winnowing guarantee: documents sharing a run of w+k-1 tokens " +
      "share at least one fingerprint hash") {
    // 6 shared tokens (= w+k-1 at k=3, w=4) embedded in fully distinct
    // contexts — the shared grams form one complete window in each doc,
    // so its rightmost-min gram must be selected in both
    val shared = "s1 s2 s3 s4 s5 s6"
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 $shared a5 a6 a7 a8"),
      (2L, s"b1 b2 b3 b4 b5 b6 $shared b7 b8")
    ).toDF("doc_id", "text")
    val fp = graft.ops.TextOps.winnowFingerprints(docs, "doc_id", "text")
      .localCheckpoint()
    val h1 = fp.where($"doc_id" === 1L).select("h").as[Long].collect().toSet
    val h2 = fp.where($"doc_id" === 2L).select("h").as[Long].collect().toSet
    assert((h1 intersect h2).nonEmpty,
      s"no shared fingerprint: doc1=$h1 doc2=$h2")
  }

  test("winnowing density: every full window is covered (gap between " +
      "consecutive selected positions <= w) and short docs emit nothing") {
    val docs = Tables.documents(spark, sfDir)
    val fp = graft.ops.TextOps.winnowFingerprints(docs, "doc_id", "text")
      .localCheckpoint()
    // max gap between consecutive selections per doc is w: a gap of
    // w+1 would mean some window selected nothing
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val maxGap = fp.withColumn("gap", $"pos" - lag($"pos", 1).over(w))
      .agg(max("gap")).as[Long].head()
    assert(maxGap <= 4L, s"uncovered window: gap $maxGap > w=4")
    val short = Seq((9L, "w1 w2")).toDF("doc_id", "text")
    assert(graft.ops.TextOps
      .winnowFingerprints(short, "doc_id", "text").count() === 0L)
  }

  test("winnowFingerprints fails LOUDLY past the 2^20 gram position cap " +
      "instead of silently aliasing positions into the hash bits") {
    // 2^20 + 2 tokens → max gram position 2^20 (1-based) hits the fence
    val over = Seq((7L, Array.fill((1 << 20) + 2)("x").mkString(" ")))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      graft.ops.TextOps.winnowFingerprints(over, "doc_id", "text").count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("winnowFingerprints")),
      s"expected the named fence, got: ${chain(ex).mkString(" | ")}")
  }

  test("pageRankInt fences the inbound-mass long overflow loudly with " +
      "the hub node named (decimal message sums, guarded narrowing)") {
    // scale = 1e18 so 20 unit-degree in-neighbors push the hub's round-1
    // message sum to 2e19 units — past (Long.Max − scale)·100/85 ≈
    // 9.6e18, where 85·Σ would wrap a plain long
    val edges = (1L to 20L).map(i => (i, 99L)).toDF("src", "dst")
    val ex = intercept[Exception] {
      // aggregate pr (not count()) so column pruning cannot drop the
      // fenced message column
      graft.ops.Graph.pageRankInt(edges, "src", "dst", iters = 1,
        scale = 1000000000000000000L).agg(sum(col("pr"))).head()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(m => m.contains("pageRankInt") &&
      m.contains("99")),
      s"expected the named fence, got: ${chain(ex).mkString(" | ")}")
  }

  test("pageRankIntConverged: reaches an exact integer fixpoint, equals " +
      "the fixed-iteration form at its own round count, and one further " +
      "round changes nothing") {
    // star + chain + cycle mix so ranks take several rounds to settle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 1L),
      (6L, 4L), (2L, 1L)).toDF("src", "dst")
    val (r, rounds) = graft.ops.Graph.pageRankIntConverged(
      edges, "src", "dst", eps = 0L, maxIters = 80)
    assert(rounds >= 2, s"trivial convergence in $rounds rounds")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(_.toString).toSeq
    val fixed = graft.ops.Graph.pageRankInt(edges, "src", "dst",
      iters = rounds)
    assert(rows(r) === rows(fixed),
      "converged form diverged from the fixed form at the same round")
    val onceMore = graft.ops.Graph.pageRankInt(edges, "src", "dst",
      iters = rounds + 1)
    assert(rows(r) === rows(onceMore), "not a true fixpoint")
  }

  test("pageRankInt runs 200 rounds (lineage pinned every 16) and equals " +
      "the converged ranks") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 1L),
      (6L, 4L), (2L, 1L)).toDF("src", "dst")
    val (r, _) = graft.ops.Graph.pageRankIntConverged(
      edges, "src", "dst", eps = 0L, maxIters = 80)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(_.toString).toSeq
    assert(rows(graft.ops.Graph.pageRankInt(edges, "src", "dst", iters = 200)) ===
      rows(r))
  }

  test("pageRankIntConverged fails loudly when maxIters rounds cannot " +
      "reach eps") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      graft.ops.Graph.pageRankIntConverged(edges, "src", "dst",
        eps = 0L, maxIters = 1)
    }
    assert(ex.getMessage.contains("no convergence"))
  }

  test("hitsIntConverged: hub fixpoint, equals the fixed form at its " +
      "round count, loud when capped too low") {
    // bipartite-ish mix: two hubs endorsing overlapping authorities
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L),
      (3L, 10L), (3L, 12L)).toDF("src", "dst")
    val (ha, rounds) = graft.ops.Graph.hitsIntConverged(
      edges, "src", "dst", eps = 0L, maxIters = 60)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("side", "node").collect().map(_.toString).toSeq
    val fixed = graft.ops.Graph.hitsInt(edges, "src", "dst",
      iters = rounds)
    assert(rows(ha) === rows(fixed),
      "converged HITS diverged from the fixed form at the same round")
    val onceMore = graft.ops.Graph.hitsInt(edges, "src", "dst",
      iters = rounds + 1)
    assert(rows(ha) === rows(onceMore), "not a true fixpoint")
    val ex = intercept[IllegalStateException] {
      // asymmetric weights need >1 round to settle from the uniform init
      graft.ops.Graph.hitsIntConverged(
        Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L))
          .toDF("src", "dst"), "src", "dst", eps = 0L, maxIters = 1)
    }
    assert(ex.getMessage.contains("no convergence"))
  }

  test("labelPropagateConverged: stabilizes at the no-change fixpoint, " +
      "equals the fixed form at its round count, loud when capped low") {
    // directed chain: labels creep one hop per round from the seed, so
    // stabilization takes length(chain) rounds + the confirming round
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 7L)).toDF("node", "lbl")
    val (lab, rounds) = graft.ops.Graph.labelPropagateConverged(
      edges, "src", "dst", seeds, "node", "lbl", maxIters = 10)
    assert(rounds === 5, s"chain of 4 hops stabilized in $rounds rounds")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(_.toString).toSeq
    val fixed = graft.ops.Graph.labelPropagate(edges, "src", "dst",
      seeds, "node", "lbl", iters = rounds)
    assert(rows(lab) === rows(fixed))
    assert(lab.where($"label".isNull).count() === 0L)
    val ex = intercept[IllegalStateException] {
      graft.ops.Graph.labelPropagateConverged(edges, "src", "dst",
        seeds, "node", "lbl", maxIters = 3)
    }
    assert(ex.getMessage.contains("not stable"))
  }

  test("ewmaExact: first row per key has den = top weight; full-history " +
      "rows have den = 2^taps - 1; num/den stays inside the value range") {
    val e = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts_ms",
        queries.Fixtures.cents("value").as("v"))
    val out = graft.ops.TimeSeries.ewmaExact(e, Seq("user_id"),
        Seq($"ts_ms", $"event_id"), "v", taps = 10)
      .localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy($"ts_ms", $"event_id")
    val first = out.withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
    assert(first.where($"den" =!= 512L).count() === 0L,
      "first row per user must weight only the current value (512)")
    assert(first.where($"num" =!= $"v" * 512L).count() === 0L)
    val deep = out.withColumn("rn", row_number().over(w))
      .where($"rn" >= 10)
    assert(deep.where($"den" =!= 1023L).count() === 0L,
      "rows with >= 9 predecessors must carry the full weight mass 1023")
    // convexity: den·min(window) <= num <= den·max(window) — check the
    // loose global version: num between den·min(v) and den·max(v)
    val (mn, mx) = e.agg(min("v"), max("v")).as[(Long, Long)].head()
    assert(out.where($"num" < $"den" * mn || $"num" > $"den" * mx)
      .count() === 0L, "EWMA left the value hull")
  }

  test("winnowPairs surfaces docs sharing a long verbatim run and the " +
      "doc-frequency fence kills corpus-wide boilerplate pairs") {
    val run = (1 to 12).map(i => s"s$i").mkString(" ")
    // docs 1,2 share a 12-token run in different contexts → >= 2 shared
    // fingerprints; docs 3..8 share ONLY a boilerplate header that, at
    // maxDocFreq = 5, is hot (6 docs) and must not pair anything
    val boiler = "the license header every doc carries verbatim " +
      "word word word word"
    val docs = (Seq(
      (1L, s"a1 a2 a3 a4 $run a5 a6"),
      (2L, s"b1 b2 b3 b4 b5 $run b6")) ++
      (3L to 8L).map(i => (i, s"$boiler tail$i"))).toDF("doc_id", "text")
    val pairs = graft.ops.DedupText.winnowPairs(docs, "doc_id", "text",
        minShared = 2, maxDocFreq = 5)
      .localCheckpoint()
    assert(pairs.where($"a_id" === 1L && $"b_id" === 2L).count() === 1L,
      "the planted 12-token overlap must be a candidate pair")
    assert(pairs.where($"a_id" >= 3L).count() === 0L,
      "boilerplate-only docs must not pair (hot hashes fenced)")
  }

  test("winnowPairsDelta: fold(state(B), D) == full recompute over B∪D " +
      "counts included, and the fence retraction path really fires") {
    import graft.ops.DedupText
    val run = (1 to 12).map(i => s"r$i").mkString(" ")
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    // base: docs 1-3 share the boilerplate (df = 3 == cap, so it PAIRS
    // them in the base state); docs 4-5 share a genuine run
    val base = (Seq(
      (4L, s"c1 c2 c3 c4 $run c5"),
      (5L, s"d1 d2 d3 $run d4 d5")) ++
      (1L to 3L).map(i => (i, s"$boiler tail$i x$i y$i"))
    ).toDF("doc_id", "text")
    // delta: doc 10 carries the boilerplate too — df goes 3 -> 4 > cap,
    // so ALL boilerplate-only base pairs must be retracted; doc 11
    // shares the genuine run with 4/5
    val delta = Seq(
      (10L, s"$boiler tail10 x10 y10"),
      (11L, s"e1 e2 $run e3 e4 e5")).toDF("doc_id", "text")
    val cap = 3
    val baseIdx = DedupText.winnowIndex(base, "doc_id", "text")
    val basePairs = DedupText.winnowPairCounts(baseIdx, cap)
      .localCheckpoint()
    assert(basePairs.where($"a_id" <= 3L && $"b_id" <= 3L).count() > 0L,
      "fixture broken: boilerplate must pair base docs BEFORE the delta")
    val inc = DedupText.winnowPairsDelta(baseIdx, basePairs, delta,
        "doc_id", "text", maxDocFreq = cap)
      .localCheckpoint()
    val full = DedupText.winnowPairCounts(
      DedupText.winnowIndex(base.unionByName(delta), "doc_id", "text"), cap)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a_id", "b_id").collect().map(_.toString).toSeq
    assert(rows(inc) === rows(full),
      "incremental fold diverged from the full recompute")
    assert(inc.where($"a_id" <= 3L && $"b_id" <= 3L).count() === 0L,
      "newly-hot boilerplate pairs must be retracted by the fold")
    assert(inc.where($"b_id" === 11L).count() > 0L,
      "delta doc sharing the genuine run must gain pairs")
  }

  test("winnowPairsDelta identity holds on the fixture corpus at the " +
      "graded parameters (doc_id % 7 delta split)") {
    import graft.ops.DedupText
    val docs = Tables.documents(spark, sfDir)
    val isDelta = $"doc_id" % 7 === 0
    val baseIdx = DedupText.winnowIndex(docs.where(!isDelta),
      "doc_id", "text")
    val inc = DedupText.winnowPairsDelta(baseIdx,
      DedupText.winnowPairCounts(baseIdx, 50), docs.where(isDelta),
      "doc_id", "text", maxDocFreq = 50)
    val full = DedupText.winnowPairCounts(
      DedupText.winnowIndex(docs, "doc_id", "text"), 50)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a_id", "b_id").collect().map(_.toString).toSeq
    assert(rows(inc) === rows(full))
  }

  test("featureHash: buckets within [0, dims) and per-doc feature mass " +
      "equals the token count") {
    val docs = Tables.documents(spark, sfDir)
    val fh = graft.ops.TextOps.featureHash(docs, "doc_id", "text", dims = 64)
      .localCheckpoint()
    assert(fh.where($"bucket" < 0 || $"bucket" >= 64).count() === 0L)
    val mass = fh.groupBy("doc_id").agg(sum("cnt").as("m"))
    val toks = docs.select($"doc_id",
      size(split($"text", " ")).cast("long").as("n"))
    assert(mass.join(toks, "doc_id").where($"m" =!= $"n").count() === 0L,
      "feature mass must conserve the token count")
  }
}
