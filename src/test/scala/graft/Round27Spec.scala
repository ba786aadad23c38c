package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupText, Graph, Similarity}
import graft.ops.Pin.PinOps

/** Round-14 continuation batch: bottom-k reachability sketches (ANF —
  * graph_reach_sketch) and the contamination merge≡rebuild identity
  * under a growing benchmark (inc_contam_delta). */
class Round27Spec extends SparkSuite {
  import spark.implicits._

  // ---- graph_reach_sketch: ANF via bottom-k sketches ----------------

  private def pathEdges = {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("reachSketch on a path graph with k >= |V|: every ball EXACT " +
      "(n_sketch = |B(v,r)|, est terms collapse to the exact count)") {
    val out = Graph.reachSketch(pathEdges, "src", "dst", k = 16,
        rounds = 3)
      .select("node", "r", "n_sketch", "est_num", "est_den")
      .as[(Long, Long, Long, Long, Long)].collect()
    val got = out.map { case (n, r, ns, _, _) => (n, r) -> ns }.toMap
    val want = Map(
      (1L, 1L) -> 2L, (2L, 1L) -> 3L, (3L, 1L) -> 3L, (4L, 1L) -> 3L,
      (5L, 1L) -> 2L,
      (1L, 2L) -> 3L, (2L, 2L) -> 4L, (3L, 2L) -> 5L, (4L, 2L) -> 4L,
      (5L, 2L) -> 3L,
      (1L, 3L) -> 4L, (2L, 3L) -> 5L, (3L, 3L) -> 5L, (4L, 3L) -> 5L,
      (5L, 3L) -> 4L)
    assert(got === want)
    // exact rows carry (n_sketch, 1) as the estimate terms
    assert(out.forall { case (_, _, ns, en, ed) => en == ns && ed == 1L })
  }

  test("reachSketch saturation at k = 2: state never exceeds k rows " +
      "per node and saturated rows carry the (k-1)*2^32 / h_k terms") {
    val out = Graph.reachSketch(pathEdges, "src", "dst", k = 2,
        rounds = 2)
      .select("node", "r", "n_sketch", "est_num", "est_den")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.forall(_._3 <= 2L))
    val saturated = out.filter(_._3 == 2L)
    assert(saturated.nonEmpty)
    assert(saturated.forall { case (_, _, _, en, ed) =>
      en == 4294967296L && ed > 0L })
  }

  test("reachSketch bottom-k register is the TRUE bottom-k of the " +
      "exact ball (node 3, r = 2 covers the whole path): est_den " +
      "equals the k-th smallest member hash") {
    graft.expr.GraftFunctions.register(spark)
    val out = Graph.reachSketch(pathEdges, "src", "dst", k = 3,
        rounds = 2)
      .where(col("node") === 3L && col("r") === 2L)
      .select("n_sketch", "est_num", "est_den")
      .as[(Long, Long, Long)].collect()
    assert(out.length === 1)
    val (ns, en, ed) = out.head
    assert(ns === 3L && en === 2L * 4294967296L)
    // expected: third-smallest java_hash_u32 over the ball {1..5}
    val h3 = (1 to 5).map(_.toString).toDF("k_key")
      .select(graft.expr.GraftFunctions.java_hash_u32(col("k_key"))
        .as("hu"), col("k_key"))
      .orderBy(col("hu"), col("k_key"))
      .limit(3).agg(max("hu")).as[Long].head()
    assert(ed === h3)
  }

  test("reachSketch is deterministic across runs") {
    def run() = Graph.reachSketch(pathEdges, "src", "dst", k = 2,
        rounds = 2)
      .select("node", "r", "n_sketch", "est_num", "est_den")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(run() === run())
  }

  // ---- inc_contam_delta: growing-benchmark maintenance --------------

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("contaminationMergedDelta === full rebuild, including a doc " +
      "hit by BOTH the base and the delta benchmark") {
    val corpus = docsDf(
      10L -> "a b c d e",      // hits base (a_b_c) + delta (c_d_e)
      11L -> "x y z w v",      // hits delta only (x_y_z)
      12L -> "p q r s t")      // clean
    val base = docsDf(1L -> "a b c")
    val delta = docsDf(2L -> "c d e q q x y z")
    val bShB = DedupText.benchShingles(base, "text", n = 3).pin()
    val stored = DedupText.contaminationHitsSet(corpus, bShB,
      "doc_id", "text", n = 3)
    val merged = DedupText.contaminationMergedDelta(corpus, stored,
        bShB, delta, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    val rebuild = DedupText.contaminationHits(corpus,
        base.unionByName(delta), "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(merged === rebuild)
    assert(merged.contains(10L) && merged.contains(11L) &&
      !merged.contains(12L))
  }

  test("a delta whose shingles are all ALREADY in the base adds " +
      "nothing: merged === stored (base hits never double-count)") {
    val corpus = docsDf(10L -> "a b c d e", 11L -> "x y z w v")
    val base = docsDf(1L -> "a b c d")
    val delta = docsDf(2L -> "a b c d") // fully covered by the base
    val bShB = DedupText.benchShingles(base, "text", n = 3).pin()
    val stored = DedupText.contaminationHitsSet(corpus, bShB,
      "doc_id", "text", n = 3)
    val merged = DedupText.contaminationMergedDelta(corpus, stored,
        bShB, delta, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(merged === stored.as[(Long, Long)].collect().toMap)
  }

  test("the delta pass probes ONLY genuinely new shingles: an " +
      "overlapping delta contributes exactly its novel-shingle hits") {
    val corpus = docsDf(10L -> "a b c d e f")
    val base = docsDf(1L -> "a b c")        // sh(B) = {a_b_c}
    val delta = docsDf(2L -> "a b c d")     // sh(D) = {a_b_c, b_c_d}
    val bShB = DedupText.benchShingles(base, "text", n = 3).pin()
    val stored = DedupText.contaminationHitsSet(corpus, bShB,
      "doc_id", "text", n = 3)
    val merged = DedupText.contaminationMergedDelta(corpus, stored,
        bShB, delta, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    // stored = 1 (a_b_c); novel delta shingle b_c_d adds exactly 1
    assert(stored.as[(Long, Long)].collect().toMap === Map(10L -> 1L))
    assert(merged === Map(10L -> 2L))
  }

  // ---- stream_contam: the streaming fold of the identity ------------

  test("ContamMonitor: a drain STOPPED after one batch and resumed " +
      "from the same checkpoint + state lands on the batch rebuild " +
      "exactly (the stream_contam restart contract)") {
    import graft.streaming.ContamMonitor
    val corpus = docsDf(
      10L -> "a b c d e", 11L -> "x y z w v", 12L -> "p q r s t")
    val bench = docsDf(1L -> "a b c", 2L -> "c d e", 3L -> "x y z")
    val srcAll = graft.queries.Fixtures
      .writeSlices(bench, "doc_id", n = 3, "bench")
    val files = new java.io.File(srcAll).listFiles().sortBy(_.getName)
    assert(files.length === 3)
    val src = java.nio.file.Files
      .createTempDirectory("scm_restart").toString
    val ckpt = java.nio.file.Files.createTempDirectory("scm_rck").toString
    val state = java.nio.file.Files.createTempDirectory("scm_rst").toString
    def copy(i: Int): Unit = {
      val dst = new java.io.File(src, files(i).getName)
      java.nio.file.Files.copy(files(i).toPath, dst.toPath)
      assert(dst.setLastModified(files(i).lastModified()))
    }
    def drive(): Long = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcAll).schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src)
      ContamMonitor.run(spark, stream, corpus, "doc_id", "text", n = 3,
        stateDir = state, ckptDir = ckpt)
    }
    copy(0)
    assert(drive() === 1L)
    copy(1); copy(2)
    assert(drive() >= 2L)
    val streamed = ContamMonitor.hits(spark, state)
      .as[(Long, Long)].collect().toMap
    val rebuild = DedupText.contaminationHits(corpus, bench,
        "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(streamed === rebuild)
    assert(streamed.nonEmpty)
  }

  test("writeSlices: a benchmark with fewer docs than slices fails " +
      "naming the empty slice (no NPE on its missing directory)") {
    val e = intercept[IllegalArgumentException](graft.queries.Fixtures
      .writeSlices(docsDf(1L -> "a b c", 2L -> "c d e"), "doc_id", n = 3,
        "bench"))
    assert(e.getMessage.contains("slice 3 of 3 is empty"), e.getMessage)
  }

  test("ContamMonitor.foldBatch: a committed batch id is a no-op, and " +
      "a REPLAYED benchmark doc in a later batch contributes nothing " +
      "(its shingles are already in the stored sketch)") {
    import graft.streaming.ContamMonitor
    val corpus = docsDf(10L -> "a b c d e")
    val state = java.nio.file.Files
      .createTempDirectory("scm_replay").toString
    val b0 = docsDf(1L -> "a b c")
    ContamMonitor.foldBatch(b0, 0L, corpus, "doc_id", "text", 3, state)
    val first = ContamMonitor.hits(spark, state)
      .as[(Long, Long)].collect().toMap
    assert(first === Map(10L -> 1L))
    // committed-id replay: state untouched
    ContamMonitor.foldBatch(docsDf(9L -> "q q q"), 0L, corpus,
      "doc_id", "text", 3, state)
    assert(ContamMonitor.hits(spark, state)
      .as[(Long, Long)].collect().toMap === first)
    assert(ContamMonitor.latestId(state) === Some(0L))
    // row-level replay: batch 1 re-delivers doc 1 plus a new doc —
    // the replayed doc's shingles are already stored, so only the
    // novel shingle lands
    ContamMonitor.foldBatch(
      docsDf(1L -> "a b c", 2L -> "c d e"), 1L, corpus,
      "doc_id", "text", 3, state)
    assert(ContamMonitor.hits(spark, state)
      .as[(Long, Long)].collect().toMap === Map(10L -> 2L))
  }

  test("ContamMonitor.foldBatch: stored hits whose columns drifted fail " +
      "naming their directory instead of reading the counts as nulls") {
    import graft.streaming.ContamMonitor
    val corpus = docsDf(10L -> "a b c d e")
    val state = java.nio.file.Files
      .createTempDirectory("scm_drift").toString
    ContamMonitor.foldBatch(docsDf(1L -> "a b c"), 0L, corpus,
      "doc_id", "text", 3, state)
    // the committed counts as an older layout would have stored them:
    // n_hits renamed
    Seq((10L, 1L)).toDF("doc_id", "hits")
      .write.mode("overwrite").parquet(s"$state/hits_b0")
    val e = intercept[IllegalStateException] {
      ContamMonitor.foldBatch(docsDf(2L -> "c d e"), 1L, corpus,
        "doc_id", "text", 3, state)
    }
    assert(e.getMessage.contains(s"$state/hits_b0"), e.getMessage)
    assert(ContamMonitor.latestId(state) === Some(0L))
  }

  // ---- sim_graph_search: lockstep beam over a kNN graph -------------

  /** Hand-built int8 sketch rows: 2-d integer vectors on a quarter
    * circle, so cosine order is unambiguous and hand-checkable. */
  private def lineSketch(rows: (Long, Seq[Long])*) =
    rows.toDF("vec_id", "q_emb")
      .withColumn("q_norm",
        aggregate(transform(col("q_emb"), v => v * v),
          lit(0L), (a, b) => a + b))

  test("graphBeamSearch walks the chain: a 2-round beam from the far " +
      "entry reaches exactly the nodes within 2 graph hops and ranks " +
      "them by exact cosine") {
    // five directions fanning from the probe (id 1 closest .. 5
    // farthest); graph = chain 5→4→3→2→1 (out-lists), entry = 5
    val sk = lineSketch(
      1L -> Seq(10L, 1L), 2L -> Seq(10L, 4L), 3L -> Seq(10L, 8L),
      4L -> Seq(4L, 10L), 5L -> Seq(1L, 10L))
    val graph = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L))
      .toDF("query_id", "neighbor_id")
    val probes = lineSketch(100L -> Seq(10L, 0L))
      .select(col("vec_id").as("query_id"), col("q_emb"), col("q_norm"))
    val entries = Seq(5L).toDF("vec_id")
    val got = Similarity.graphBeamSearch(sk, graph, probes, entries,
        beam = 8, rounds = 2, k = 3)
      .select("query_id", "rnk", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    // reachable in ≤2 rounds from {5}: round1 beam ⊇ {5,4}, round2
    // adds 3 (via 4) — node 2 is 3 hops out, never visited
    assert(got === Set((100L, 1L, 3L), (100L, 2L, 4L), (100L, 3L, 5L)))
  }

  test("graphBeamSearch with a complete graph and ample beam/rounds " +
      "equals the brute exact top-k (the b >= queue-length dominance)") {
    val ids = (1L to 6L)
    val sk = lineSketch(ids.map(i => i -> Seq(20L - i, 2L * i)): _*)
    // complete directed graph
    val graph = ids.flatMap(a => ids.filter(_ != a).map(a -> _))
      .toDF("query_id", "neighbor_id")
    val probes = lineSketch(50L -> Seq(19L, 2L))
      .select(col("vec_id").as("query_id"), col("q_emb"), col("q_norm"))
    val entries = Seq(6L).toDF("vec_id")
    val beam = Similarity.graphBeamSearch(sk, graph, probes, entries,
        beam = 8, rounds = 2, k = 4)
      .select("query_id", "rnk", "neighbor_id", "qdot")
      .as[(Long, Long, Long, Long)].collect().toSet
    val brute = Similarity.topKScoredOnSketches(sk, probes, 4)
      .select("query_id", "rnk", "neighbor_id", "qdot")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(beam === brute)
  }

  test("graphBeamSearch excludes self-matches: a corpus-member probe " +
      "never retrieves itself") {
    val sk = lineSketch(
      1L -> Seq(10L, 1L), 2L -> Seq(10L, 2L), 3L -> Seq(10L, 3L))
    val graph = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L),
      (1L, 3L)).toDF("query_id", "neighbor_id")
    val probes = sk.select(col("vec_id").as("query_id"), col("q_emb"),
      col("q_norm"))
    val got = Similarity.graphBeamSearch(sk, graph, probes,
        Seq(1L).toDF("vec_id"), beam = 4, rounds = 2, k = 3)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
    assert(got.nonEmpty && got.forall { case (q, n) => q != n })
  }
}
