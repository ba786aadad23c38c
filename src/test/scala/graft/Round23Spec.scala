package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Freq, Retrieval, Similarity}

/** Round-12 batch 2: k-NN graph family (mutual-kNN, semilattice list
  * merge, NN-descent), ERR, and the KMV bottom-k sketch — the closed
  * forms and algebraic identities the parquet oracle can't state. */
class Round23Spec extends SparkSuite {
  import spark.implicits._

  // a tiny 4-dim corpus with an unambiguous neighborhood structure:
  // 1↔2 near-parallel, 3↔4 near-parallel, the pairs near-orthogonal
  private def tinyEmb: DataFrame = Seq(
    (1L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.2f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.1f)),
    (4L, Array(0.0f, 0.1f, 0.9f, 0.0f)),
    (5L, Array(0.5f, 0.5f, 0.5f, 0.5f))
  ).toDF("vec_id", "embedding")

  private def sk = Similarity.quantizeInt8(tinyEmb)

  test("knnListsOnSketch ranks the parallel partner first on the tiny " +
      "corpus") {
    val top1 = Similarity.knnListsOnSketch(sk, 1)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toMap
    assert(top1(1L) === 2L)
    assert(top1(2L) === 1L)
    assert(top1(3L) === 4L)
    assert(top1(4L) === 3L)
  }

  test("mutualKnnGraph: edges are mutual, deduplicated to a_id < b_id, " +
      "and every vertex degree is bounded by k") {
    val edges = Similarity.mutualKnnGraph(sk, 2)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(edges.forall { case (a, b) => a < b })
    assert(edges.distinct.length === edges.length)
    // k = 2 caps each vertex's mutual degree at 2 even for vector 5,
    // which sits equidistant from everyone (the hub-killing property)
    val deg = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map(_._2.length)
    assert(deg.forall(_ <= 2))
    // the two parallel pairs must survive symmetrization
    assert(edges.contains((1L, 2L)))
    assert(edges.contains((3L, 4L)))
  }

  test("inc identity: knnListsMergedDelta equals the full rebuild for " +
      "every split class on the sf0.001 fixture — ranks, ids, and " +
      "integer dots included") {
    val emb = Tables.embeddings(spark, sfDir)
    val full = Similarity.quantizeInt8(emb)
    val rebuild = Similarity.knnListsOnSketch(full, 3)
      .select("query_id", "rnk", "neighbor_id", "qdot")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    for (m <- Seq(2L, 5L)) {
      val isNew = col("vec_id") % m === 0
      val merged = Similarity.knnListsMergedDelta(
          full.where(!isNew), full.where(isNew), 3)
        .select("query_id", "rnk", "neighbor_id", "qdot")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      assert(merged === rebuild, s"split mod $m diverged from rebuild")
    }
  }

  test("nnDescentRound is monotone: every query's worst kept cosine " +
      "never decreases from the seed lists to the refined lists") {
    val emb = Tables.embeddings(spark, sfDir)
    val s = Similarity.quantizeInt8(emb)
    val init = Similarity.nnDescentInit(s, 3, planes = 4)
    val round = Similarity.nnDescentRound(s, init, 3)
    def worst(df: DataFrame): Map[Long, Double] = df
      .withColumn("cos", col("qdot").cast("double") /
        (sqrt(col("qna").cast("double")) * sqrt(col("qnb").cast("double"))))
      .groupBy("query_id").agg(min("cos").as("w"), count(lit(1)).as("n"))
      .select("query_id", "w", "n")
      .as[(Long, Double, Long)].collect()
      .map { case (q, w, _) => q -> w }.toMap
    val wi = worst(init)
    val wr = worst(round)
    // seeds ride in the candidate set, so no query loses ground; reverse
    // edges can only ADD queries (a vector alone in its bucket gains a
    // list from its reverse neighbors)
    assert(wi.keySet.subsetOf(wr.keySet))
    wi.foreach { case (q, w) =>
      assert(wr(q) >= w - 1e-12, s"query $q regressed: ${wr(q)} < $w")
    }
  }

  test("powerIterInt finds the dominant axis of an anisotropic corpus " +
      "and keeps the renorm magnitude bound") {
    // variance concentrated on dim 1 (values ±1 with a small dim-2
    // wobble): the top principal direction is e1 up to sign
    val emb = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(-1.0f, 0.05f, 0.0f, 0.0f)),
      (3L, Array(0.9f, -0.1f, 0.05f, 0.0f)),
      (4L, Array(-0.95f, 0.0f, 0.0f, 0.05f)),
      (5L, Array(1.0f, 0.05f, -0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
    val v = Similarity.powerIterInt(Similarity.quantizeInt8(emb),
        rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(v.keySet === Set(1L, 2L, 3L, 4L))
    val absMax = v.values.map(math.abs).max
    assert(math.abs(v(1L)) === absMax, s"dominant axis missed: $v")
    // renorm keeps the trajectory near 2^20: the max component is at
    // least 2^19 and no component exceeds 2^21
    assert(absMax >= (1L << 19) && absMax <= (1L << 21), s"renorm: $v")
  }

  test("inc identity: powerIterFromGram over gramMerge of per-slice " +
      "grams equals the full rebuild for every split class") {
    val full = Similarity.quantizeInt8(Tables.embeddings(spark, sfDir))
    val rebuild = Similarity.powerIterInt(full, rounds = 4)
      .as[(Long, Long)].collect().sorted.toSeq
    for (m <- Seq(2L, 3L)) {
      val isNew = col("vec_id") % m === 0
      val merged = Similarity.powerIterFromGram(
          Similarity.gramMerge(
            Similarity.gramInt8(full.where(!isNew)),
            Similarity.gramInt8(full.where(isNew))),
          rounds = 4)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(merged === rebuild, s"split mod $m diverged from rebuild")
    }
  }

  test("powerIterInt refuses a gram magnitude that could overflow the " +
      "matvec (the loud fence, not a silent wrap)") {
    // 127² per vector per dim pair ⇒ need ≥ 2^36/127² ≈ 4.3M rows to
    // trip the fence for real — fake it with a pre-inflated sketch
    import org.apache.spark.sql.functions.{array, lit => L}
    val big = spark.range(1, 3)
      .select(col("id").as("vec_id"),
        array(Seq.fill(4)(L(3000000L)): _*).as("q_emb"),
        L(4L * 3000000L * 3000000L).as("q_norm"))
    val e = intercept[IllegalArgumentException] {
      Similarity.powerIterInt(big, rounds = 1)
    }
    assert(e.getMessage.contains("overflow"))
  }

  test("powerIterFromGram on an empty gram fails loudly, naming the " +
      "empty gram") {
    val empty = spark.range(0).select(col("id").as("i"), col("id").as("j"),
      col("id").as("gram"))
    val e = intercept[IllegalArgumentException] {
      Similarity.powerIterFromGram(empty, rounds = 2)
    }
    assert(e.getMessage.contains("gram is empty"), e.getMessage)
  }

  test("kmeansInt8 and pqTrainInt8 on an empty sketch return an empty " +
      "model and an empty assignment") {
    val none = sk.where(lit(false))
    val km = Similarity.kmeansInt8(none, k = 3, iters = 2)
    assert(km.centroids.count() === 0 && km.assign.count() === 0)
    assert(km.assign.columns.toSeq === Seq("vec_id", "cell", "dist2"))
    val pq = Similarity.pqTrainInt8(none, m = 2, ksub = 3, iters = 2,
      dims = 4)
    assert(pq.codebook.count() === 0 && pq.codes.count() === 0)
    assert(pq.codes.columns.toSeq === Seq("vec_id", "sub", "code", "dist2"))
  }

  test("errEval closed forms: hits at ranks 1 and 3 score " +
      "1290240 + 215040; a missed list scores 0 with n_rel intact") {
    val ranked = Seq(
      (10L, 1L, 100L), (10L, 2L, 101L), (10L, 3L, 102L),
      (20L, 1L, 200L), (20L, 2L, 201L)
    ).toDF("query_id", "rnk", "doc_id")
    val qrels = Seq(
      (10L, 100L), (10L, 102L), // hits at ranks 1 and 3
      (20L, 999L) // relevant doc never retrieved
    ).toDF("query_id", "doc_id")
    val got = Retrieval.errEval(ranked, qrels)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // rank 1, first hit  (h=1): 2580480 / (1·2) = 1290240
    // rank 3, second hit (h=2): 2580480 / (3·4) =  215040
    assert(got === Seq((10L, 2L, 1505280L), (20L, 1L, 0L)))
  }

  test("errEval dedups duplicate qrel pairs (the apEval convention)") {
    val ranked = Seq((1L, 1L, 7L)).toDF("query_id", "rnk", "doc_id")
    val qrels = Seq((1L, 7L), (1L, 7L)).toDF("query_id", "doc_id")
    val got = Retrieval.errEval(ranked, qrels)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L, 1290240L)))
  }

  test("bottomK keeps the k smallest unsigned hashes of the DISTINCT " +
      "keys and kmvEstimate flags exact groups") {
    val df = Seq(
      ("a", "k1"), ("a", "k1"), ("a", "k2"), // dup occurrences collapse
      ("b", "k1"), ("b", "k2"), ("b", "k3"), ("b", "k4")
    ).toDF("g", "key")
    val s2 = Freq.bottomK(df, "g", "key", 3)
    val rows = s2.select("grp", "rnk", "k_key")
      .as[(String, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(rows.count(_._1 == "a") === 2) // group a is exact (2 < k)
    assert(rows.count(_._1 == "b") === 3) // group b cut at k = 3
    // hashes ascend with rank inside each group
    val hus = s2.select("grp", "rnk", "hu")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).values
    hus.foreach { g =>
      val sorted = g.sortBy(_._2).map(_._3)
      assert(sorted.sameElements(sorted.sorted))
    }
    val est = Freq.kmvEstimate(s2, 3)
      .select("grp", "n_sketch", "est_num", "est_den")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(est.head === (("a", 2L, 2L, 1L))) // exact: 2 distinct keys
    val b = est(1)
    assert(b._2 === 3L && b._3 === 2L * 4294967296L) // (k−1)·2³² / h_k
  }

  test("KmvBottomK aggregator (partial-aggregate form) equals the " +
      "window bottomK exactly — dedup, collision order, and cap") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderstatus").as("g"), col("o_custkey").as("key"))
    val window = Freq.bottomK(o, "g", "key", 8)
      .as[(String, Long, Long, String)].collect().sorted.toSeq
    graft.expr.GraftFunctions.register(spark)
    val agg = udaf(new graft.expr.KmvBottomK(8))
    val viaAgg = o
      .select(col("g").as("grp"),
        graft.expr.GraftFunctions.java_hash_u32(col("key").cast("string"))
          .as("hu"),
        col("key").cast("string").as("k_key"))
      .groupBy("grp").agg(agg(col("hu"), col("k_key")).as("sk"))
      .select(col("grp"), posexplode(col("sk.entries")))
      .select(col("grp"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.hu").as("hu"), col("col.k_key").as("k_key"))
      .as[(String, Long, Long, String)].collect().sorted.toSeq
    assert(viaAgg === window)
  }

  test("tClosenessTV closed forms: a skewed class flags at t = 1/5, a " +
      "globally-proportioned class scores exactly zero") {
    // classes A (3X,1Y), B (1X,3Y), C (2X,2Y); global 6X/6Y, N = 12:
    // tv_num(A) = |3·12−4·6| + |1·12−4·6| = 24 → tv = 24/96 = 0.25 > 0.2
    // tv_num(C) = 0 (its mix IS the global mix)
    val df = (Seq.fill(3)(("A", "X")) ++ Seq(("A", "Y")) ++
      Seq(("B", "X")) ++ Seq.fill(3)(("B", "Y")) ++
      Seq.fill(2)(("C", "X")) ++ Seq.fill(2)(("C", "Y")))
      .toDF("cls", "sens")
    val got = graft.ops.Quality.tClosenessTV(df, Seq("cls"), "sens",
        tNum = 1, tDen = 5)
      .as[(String, Long, Long, Long, Boolean)].collect()
      .sortBy(_._1).toSeq
    assert(got === Seq(("A", 4L, 24L, 12L, true),
      ("B", 4L, 24L, 12L, true), ("C", 4L, 0L, 12L, false)))
  }

  test("ktrussRounds: K4 survives 4-truss peeling, a pendant triangle " +
      "dies in round 1, and over-unrolling past convergence is " +
      "idempotent") {
    // K4 on {1,2,3,4} (every edge in 2 triangles) + triangle {4,5,6}
    // hanging off vertex 4 (each of its edges in exactly 1 triangle)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
    def run(r: Int) = graft.ops.Graph.ktrussRounds(edges, "a", "b",
        k = 4, rounds = r)
      .as[(Long, Long)].collect().sorted.toSeq
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    assert(run(1) === k4) // pendant triangle gone immediately
    assert(run(3) === k4) // fixpoint: extra rounds change nothing
  }

  test("madAnomaly closed forms: only the spike clears 3 MAD on odd " +
      "and even series; x = median never flags even when MAD = 0") {
    // odd series [1,2,3,4,100]: med2 = 6, d2 = [4,2,0,2,194],
    // mad4 = 2+2 = 4 → flag iff 2·d2 > 12 → only the 100
    val odd = Seq(1, 2, 3, 4, 100).zipWithIndex
      .map { case (x, t) => ("k", t, x) }.toDF("k", "t", "x")
    val gOdd = graft.ops.TimeSeries
      .madAnomaly(odd, Seq("k"), col("t"), "x")
      .select("x", "is_anomaly").as[(Long, Boolean)].collect().toMap
    assert(gOdd.filter(_._2).keySet === Set(100L))
    // even series [1,2,3,104]: med2 = 5, d2 = [3,1,1,203], mad4 = 1+3
    val even = Seq(1, 2, 3, 104).zipWithIndex
      .map { case (x, t) => ("k", t, x) }.toDF("k", "t", "x")
    val gEven = graft.ops.TimeSeries
      .madAnomaly(even, Seq("k"), col("t"), "x")
      .select("x", "is_anomaly").as[(Long, Boolean)].collect().toMap
    assert(gEven.filter(_._2).keySet === Set(104L))
    // degenerate constant-heavy series: MAD = 0; the strict inequality
    // keeps the median value itself unflagged, deviants flag
    val const = Seq(5, 5, 5, 7).zipWithIndex
      .map { case (x, t) => ("k", t, x) }.toDF("k", "t", "x")
    val gC = graft.ops.TimeSeries
      .madAnomaly(const, Seq("k"), col("t"), "x")
      .select("x", "is_anomaly").as[(Long, Boolean)].collect().toSeq
    assert(gC.count(r => r._1 == 5L && !r._2) === 3)
    assert(gC.contains((7L, true)))
  }

  test("saxWords closed form: per-key PAA means, cross-key equi-depth " +
      "symbols, and window-ordered words") {
    val df = ((1 to 8).map(t => ("A", t, t)) ++
      (1 to 8).map(t => ("B", t, t + 8))).toDF("k", "t", "x")
    val got = graft.ops.TimeSeries.saxWords(df, Seq("k"),
        Seq(col("t")), "x", windows = 4, alphabet = 2)
      .select("k", "w", "paa", "sym", "word")
      .as[(String, Long, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    // A's PAAs: 1.5M, 3.5M, 5.5M, 7.5M; B's: 9.5M..15.5M — equi-depth
    // over all 8 puts every A window in bucket 1 and every B in 2
    assert(got.map(_._3).take(4) ===
      Seq(1500000L, 3500000L, 5500000L, 7500000L))
    assert(got.filter(_._1 == "A").forall(r => r._4 == 1 && r._5 == "aaaa"))
    assert(got.filter(_._1 == "B").forall(r => r._4 == 2 && r._5 == "bbbb"))
  }

  test("sceneCuts closed forms: a step payload cuts once at the step " +
      "with the adaptive 2x-mean-jump threshold; a flat payload " +
      "reports the sentinel") {
    val step = "a" * 8 + " " * 8
    val df = Seq((1L, step), (2L, "a" * 16)).toDF("media_id", "txt")
      .select(col("media_id"), encode(col("txt"), "UTF-8").as("payload"))
    val got = graft.ops.Multimodal.sceneCuts(df, "payload", frames = 4)
      .select("media_id", "n_cuts", "first_cut", "max_jump")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // blocks of 4 bytes: 388, 388, 128, 128 → diffs 0, 260, 0;
    // Σd = 260; 3·260 > 2·260 → one cut at boundary 2
    assert(got === Seq((1L, 1L, 2L, 260L), (2L, 0L, 4L, 0L)))
  }

  test("kmvJaccard: with k covering the union it returns the EXACT " +
      "intersection and union sizes; the merged bottom-k never " +
      "exceeds k") {
    def setDf(xs: Range) =
      xs.map(i => ("u", s"key$i")).toDF("g", "key")
    def sk(xs: Range, k: Int) = Freq.bottomK(setDf(xs), "g", "key", k)
    // |A ∪ B| = 9, |A ∩ B| = 3, k = 16 covers everything
    val wide = Freq.kmvJaccard(sk(1 to 6, 16), sk(4 to 9, 16), 16)
      .as[(Long, Long)].collect().head
    assert(wide === ((9L, 3L)))
    // k = 4 < union: k_eff caps at 4 and matches ≤ k_eff
    val tight = Freq.kmvJaccard(sk(1 to 6, 4), sk(4 to 9, 4), 4)
      .as[(Long, Long)].collect().head
    assert(tight._1 === 4L && tight._2 <= 4L)
  }

  test("inc identity: bottomKMerge of per-slice sketches equals the " +
      "rebuild for every split class on the orders fixture") {
    val o = Tables.orders(spark, sfDir)
      .select(substring(col("o_orderdate").cast("date").cast("string"),
          1, 7).as("mo"),
        col("o_custkey"), col("o_orderkey"))
    val rebuild = Freq.bottomK(o, "mo", "o_custkey", 8)
      .as[(String, Long, Long, String)].collect().sorted.toSeq
    for (m <- Seq(2L, 3L)) {
      val isNew = col("o_orderkey") % m === 0
      val merged = Freq.bottomKMerge(
          Freq.bottomK(o.where(!isNew), "mo", "o_custkey", 8)
            .unionByName(
              Freq.bottomK(o.where(isNew), "mo", "o_custkey", 8)), 8)
        .as[(String, Long, Long, String)].collect().sorted.toSeq
      assert(merged === rebuild, s"split mod $m diverged from rebuild")
    }
  }
}
