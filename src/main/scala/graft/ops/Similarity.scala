package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pin.PinOps

/** Embedding similarity search (north-star extension): brute-force cosine
  * top-k as the correctness baseline, LSH-bucketed variant as the scale
  * path.
  *
  * Scale design: brute-force is O(Q×N) — fine when Q (probe set) is small
  * and broadcast; the corpus side streams through executors, never
  * collected. For Q×N both large, [[lshTopK]] buckets by random-hyperplane
  * sign so the join only compares vectors sharing a bucket
  * (classic SimHash-for-cosine ANN).
  */
object Similarity {

  /** Elementwise-double dot product of two float vectors, accumulated
    * left-to-right (matches DuckDB `list_sum(list_transform(list_zip(..)))`
    * with DOUBLE casts — keeps oracle comparisons bit-stable).
    * Implemented as the codegen'd [[graft.expr.DotProductFF]] expression —
    * bit-identical to the `aggregate(zip_with(...))` fold it replaces,
    * but whole-stage-compiled where HOF lambdas run interpreted. Callers
    * hold only Columns, so the function registry must already contain the
    * graft functions; every Similarity entry point registers them. */
  def dot(a: Column, b: Column): Column =
    graft.expr.GraftFunctions.dot_ff(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine from per-row precomputed norms: one fold per pair instead of
    * three. Bit-identical to [[cosine]] (same doubles, same multiply
    * order) — so oracle results are unchanged, only the plan is cheaper:
    * norms are O(n) pre-join instead of O(n·k) or O(n²) post-join. */
  def cosinePre(aEmb: Column, bEmb: Column, aNorm: Column, bNorm: Column): Column =
    dot(aEmb, bEmb) / (aNorm * bNorm)

  /** Brute-force cosine top-k: for each probe vector (small side,
    * broadcast), the k nearest corpus vectors. Returns
    * (query_id, rnk, neighbor_id, cos). Ranking ties broken by id for
    * determinism. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expr.GraftFunctions.register(corpus.sparkSession)
    val q = probes.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
    val c = Par.fanOut(corpus).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(col("q_emb"), col("c_emb"), col("q_norm"), col("c_norm"))
          .as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cos"))
  }

  /** LSH-bucketed ANN top-k with OR-amplification: `tables` independent
    * hash tables of `planes` sign bits each; vectors colliding in ANY
    * table are candidates, re-ranked by exact cosine. Recall < 1 by
    * construction (graded rows-only; the exact baseline above is the
    * oracle-checked variant). Cost: corpus is bucketed ×tables — the join
    * still shuffles only (table, bucket, id, vec), never pairs. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              planes: Int = 6, tables: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expr.GraftFunctions.register(corpus.sparkSession)
    def bucketed(df: DataFrame, idAs: String, embAs: String, nAs: String) =
      df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
          norm(col("embedding")).as(nAs),
          posexplode(array((0 until tables).map(t =>
            bucketExpr(col("embedding"), planes, t * planes)): _*)))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val c = bucketed(Par.fanOut(corpus), "neighbor_id", "c_emb", "c_n")
    val q = bucketed(probes, "query_id", "q_emb", "q_n")
    val scored = c.join(broadcast(q), Seq("tbl", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_emb"), col("c_emb"),
        col("q_n"), col("c_n"))
      .distinct() // OR-amplification: collide in ≥1 table, count once
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(col("q_emb"), col("c_emb"), col("q_n"), col("c_n")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cos"))
  }

  /** Multiprobe sign-LSH ANN (Lv et al. 2007): ONE hash table instead
    * of [[lshTopK]]'s 4, with recall recovered by probing the query's
    * bucket plus its `planes` one-bit-flip neighbors (the planes
    * nearest the hyperplane boundary are exactly the likely
    * misassignments). The production knob when index MEMORY is the
    * constraint: multi-table OR-amplification multiplies the stored
    * index; multiprobe multiplies only the query-side fan-out
    * (|probes|·(planes+1) bucket keys — query-sized, broadcast).
    *
    * Corpus rows carry ONE bucket each (vs `tables` copies in lshTopK);
    * the candidate join stays an equi-join on the bucket key; the exact
    * cosine re-rank runs on deduplicated candidates only. Fully
    * deterministic (plan-time hyperplanes), so oracle-checkable
    * end-to-end like the single-probe variant.
    *
    * @return (query_id, rnk, neighbor_id, cos), rnk ≤ k */
  def lshMultiprobeTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                        planes: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expr.GraftFunctions.register(corpus.sparkSession)
    val c = Par.fanOut(corpus).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_n"),
      bucketExpr(col("embedding"), planes, 0).as("bucket"))
    val probeBuckets = (0 until planes)
      .foldLeft(Seq(col("__b0"))) { (acc, p) =>
        acc :+ col("__b0").bitwiseXOR(lit(1L << p))
      }
    val q = probes.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), norm(col("embedding")).as("q_n"),
        bucketExpr(col("embedding"), planes, 0).as("__b0"))
      .select(col("query_id"), col("q_emb"), col("q_n"),
        explode(array(probeBuckets: _*)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_emb"),
        col("c_emb"), col("q_n"), col("c_n"))
      .distinct() // a candidate may surface from several probed buckets
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(col("q_emb"), col("c_emb"), col("q_n"), col("c_n"))
          .as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cos"))
  }

  /** Deterministic ±1 hyperplane component for (plane j, dim i): a 64-bit
    * integer mix computed at PLAN time — the plane matrix ships to
    * executors as a literal array, zero per-row hashing. Exposed to the
    * oracle generator: the same matrix embeds into the DuckDB SQL as
    * literals, making sign-LSH fully cross-engine-checkable. */
  private[graft] def planeSign(j: Int, i: Int): Double = {
    var h = j.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** IVF (inverted-file) ANN: partition the corpus into Voronoi cells of
    * `centroids` (here: a deterministic corpus subset — at deployment,
    * k-means trained offline); a probe searches only its `nprobe` nearest
    * cells, then exact-reranks. Unlike the sign-LSH variant this is fully
    * deterministic given the centroid set, so it IS oracle-checkable.
    *
    * Scale: assignment is a broadcast of the (small) centroid set against
    * the streaming corpus — one narrow pass; the search joins probe cells
    * to corpus cells on cell id (equi-join), never the full cross product.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expr.GraftFunctions.register(corpus.sparkSession)
    val cents = broadcast(centroids.select(col("vec_id").as("cent_id"),
      col("embedding").as("cent_emb")))
    def assign(df: DataFrame, idAs: String, embAs: String, nAs: String,
               n: Int) = {
      val w = Window.partitionBy(col(idAs))
        .orderBy(col("__cos").desc, col("cent_id").asc)
      df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
          norm(col("embedding")).as(nAs))
        .join(cents)
        .withColumn("__cos", cosine(col(embAs), col("cent_emb")))
        .withColumn("__cr", row_number().over(w))
        .where(col("__cr") <= n)
        .select(col(idAs), col(embAs), col(nAs), col("cent_id").as("cell"))
    }
    val corpusCells = assign(Par.fanOut(corpus), "neighbor_id", "c_emb", "c_n", 1)
    val probeCells = assign(probes, "query_id", "q_emb", "q_n", nprobe)
    val scored = corpusCells.join(broadcast(probeCells), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePre(col("q_emb"), col("c_emb"), col("q_n"), col("c_n")).as("cos"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("cos"))
  }

  /** Semantic dedup (SemDeDup-shaped: IVF-cell blocking instead of an
    * all-pairs sweep): assign every vector to its nearest centroid, search
    * for cosine ≥ `threshold` pairs ONLY within a cell, then collapse the
    * pair graph to connected components with a min-id canonical member.
    * Returns (vec_id, cluster_id, is_canonical).
    *
    * Scale: the pair space shrinks from O(N²) to Σ|cell|² — with balanced
    * cells, N²/k — and the per-cell join is a plain equi-join on cell id.
    * Near-dup pairs split across neighboring cells are missed (the same
    * recall trade SemDeDup makes); tighten by raising the centroid count,
    * not by widening the search. The centroid set must be small enough to
    * broadcast (it is k-means output at deployment; a deterministic corpus
    * subset in the graded fixture).
    */
  /** Nearest-centroid (Voronoi) cell id per corpus vector — the blocking
    * stage of [[semanticDedup]], exposed for reuse/plan inspection. The
    * centroid set BROADCASTS; the corpus streams through once. Returns
    * (vec_id, embedding, __n [precomputed norm], cell). */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expr.GraftFunctions.register(corpus.sparkSession)
    val cents = broadcast(centroids.select(col("vec_id").as("cent_id"),
      col("embedding").as("cent_emb")))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("__cos").desc, col("cent_id").asc)
    corpus
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("__n"))
      .join(cents)
      .withColumn("__cos", cosine(col("embedding"), col("cent_emb")))
      .withColumn("__cr", row_number().over(w))
      .where(col("__cr") === 1)
      .select(col("vec_id"), col("embedding"), col("__n"),
        col("cent_id").as("cell"))
  }

  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
                    threshold: Double): DataFrame = {
    graft.expr.GraftFunctions.register(corpus.sparkSession)
    val assigned = assignCells(corpus, centroids)
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("__n").as("a_n"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("__n").as("b_n"))
    val pairs = a.join(b, Seq("cell")).where(col("a_id") < col("b_id"))
      .where(cosinePre(col("a_emb"), col("b_emb"),
        col("a_n"), col("b_n")) >= threshold)
      .select("a_id", "b_id")
    Cluster.connectedComponents(corpus.select("vec_id"), "vec_id",
        pairs, "a_id", "b_id", edgesCovered = true)
      .select(col("id").as("vec_id"), col("cluster").as("cluster_id"),
        (col("cluster") === col("id")).as("is_canonical"))
  }

  /** Symmetric int8 quantization of a float embedding column — the
    * standard memory/bandwidth trade for similarity search at corpus
    * scale (4× smaller vectors, integer SIMD dot products; FAISS's SQ8).
    * Per vector: scale = max|x_i| (as double), q_i = floor(x_i·127 /
    * scale) in [-128, 127]. floor, NOT round: floor is IEEE-identical
    * across engines while round's half-case convention differs between
    * Spark (HALF_UP) and DuckDB — with floor every quantized value is
    * bit-reproducible in the oracle. Zero vectors (scale = 0) are
    * EXCLUDED: they have no direction, and their all-zero sketch would
    * otherwise rank by NaN, whose sort position is engine-dependent.
    *
    * Returns (vec_id, q_emb: array<bigint>, q_norm: bigint) — q_norm =
    * Σ q_i² exact, precomputed once per vector like [[cosinePre]]'s
    * norms. The max-abs element always quantizes to ±126/127, so
    * q_norm > 0 for every emitted row. Vectors containing NaN are
    * excluded with the zero vectors (NaN max-abs has no scale). */
  def quantizeInt8(df: DataFrame): DataFrame = {
    graft.expr.GraftFunctions.register(df.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    // bind the max-abs scale: inlined, project collapsing re-evaluates
    // the array_max fold per ELEMENT of the transform below (the O(m²)
    // trap TextOps.bind exists for)
    val maCol = array_max(transform(col("embedding"), x => abs(x)))
      .cast("double")
    val qEmb = TextOps.bind(maCol) { ma =>
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(127.0d) / ma))
    }
    // the zero-vector fence must run BEFORE floor: floor(0·127/0) is
    // floor(NaN), whose long conversion is 0 in Spark but an error in
    // DuckDB — the excluded class has to be decided on ma, not after.
    // NaN must be fenced WITH the zero vectors: Spark sorts NaN above
    // every number, so a NaN element makes ma = NaN, `ma > 0` alone
    // passes it, and floor(x·127/NaN) emits the all-zero sketch the
    // fence exists to exclude (q_norm = 0 → 0/0 ranking)
    df.where(maCol > 0 && !isnan(maCol))
      .select(col("vec_id"), qEmb.as("q_emb"))
      .withColumn("q_norm", ll(col("q_emb"), col("q_emb")))
      .select("vec_id", "q_emb", "q_norm")
  }

  /** Greedy k-center selection (Gonzalez 1985, farthest-point
    * traversal — 2-approximate for the k-center radius): start from
    * the lowest id, then repeatedly take the vector FARTHEST from the
    * chosen set. The coreset/diversity-seeding primitive: k probes
    * that between them see the whole embedding space, where top-k
    * similarity would return k near-copies. Distances are exact
    * integers on the int8 sketch: d²(a,b) = ‖a‖² + ‖b‖² − 2⟨a,b⟩ with
    * the codegen'd [[graft.expr.DotProductLL]] — so the full selection
    * trajectory is engine-reproducible, the MMR convention.
    *
    * Per round: the ≤k-row chosen frame broadcasts into one pass over
    * the sketch (min distance per vector), then a 1-row hash-aggregate
    * argmax — corpus never shuffles, the emb_kmeans plan shape. Each
    * new center's `d2` (its distance to the set when picked) is
    * non-increasing — Gonzalez's radius sequence, spec-pinned.
    *
    * @param sketch [[quantizeInt8]] output (vec_id, q_emb, q_norm)
    * @return (rnk, vec_id, d2) — rnk 1..k in pick order, d2 = 0 for
    *         the seed
    */
  def kCenterGreedy(sketch: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val s = sketch.select(col("vec_id"), col("q_emb"), col("q_norm"))
      .pin()
    val seed = s
      .join(broadcast(s.agg(min("vec_id").as("vec_id"))), "vec_id")
      .select(col("vec_id"), col("q_emb"), col("q_norm"),
        lit(1L).as("rnk"), lit(0L).as("d2"))
    var chosen = seed.pin()
    for (r <- 2 to k) {
      val dmin = s
        .join(chosen.select("vec_id"), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(chosen.select(col("q_emb").as("ce"),
          col("q_norm").as("cn"))))
        .select(col("vec_id"),
          (col("q_norm") + col("cn") -
            lit(2L) * ll(col("q_emb"), col("ce"))).as("d"))
        .groupBy("vec_id").agg(min("d").as("d2"))
      val winner = dmin
        .agg(min(struct((-col("d2")).as("nd"), col("vec_id").as("vid")))
          .as("m"))
        .select(col("m.vid").as("vec_id"), (-col("m.nd")).as("d2"))
        .join(s, "vec_id")
        .select(col("vec_id"), col("q_emb"), col("q_norm"),
          lit(r.toLong).as("rnk"), col("d2"))
      chosen = chosen.unionByName(winner).pin()
    }
    chosen.select("rnk", "vec_id", "d2")
  }

  /** Top-k by QUANTIZED cosine: [[bruteForceTopK]]'s shape (probes
    * broadcast, corpus streams, per-query window) over int8 sketches —
    * the dot product is the exact-integer [[graft.expr.DotProductLL]],
    * and the ranking score qdot/(√q_norm_a·√q_norm_b) is a pure function
    * of integers, so the whole result (ids, ranks, and the integer qdot)
    * is oracle-reproducible — unlike float-sum ANN scores. Returns
    * (query_id, rnk, neighbor_id, qdot).
    *
    * This one-shot form quantizes the corpus per invocation (~1.2× the
    * float baseline at sf0.1) — use [[quantizedTopKOnSketch]] over a
    * persisted [[quantizeInt8]] output for the production regime, where
    * the stored int8 sketch is 3.52× smaller and repeated top-k runs
    * 1.92× faster than the float column (README "Int8-quantized ANN",
    * 10× sf0.1 corpus stored both ways) — the regime a 100 TB corpus lives in,
    * where the scan dominates. The graded query `sim_quantized_topk`
    * exercises the stored shape end to end (write sketch → scan → rank). */
  def quantizedTopK(corpus: DataFrame, probes: DataFrame, k: Int)
  : DataFrame =
    quantizedTopKOnSketch(quantizeInt8(corpus), probes, k)

  /** The stored-sketch regime: serve top-k from an ALREADY-QUANTIZED
    * corpus — the (vec_id, q_emb, q_norm) frame [[quantizeInt8]] emits,
    * persisted once (parquet) and scanned per query batch. This is the
    * shape a production corpus lives in (quantize on ingest, store the
    * int8 column, amortize across every query); [[quantizedTopK]] is the
    * one-shot convenience that re-quantizes per invocation. Probes are
    * quantized fresh (they are query-sized) and broadcast; the sketch
    * side never shuffles. Identical results to quantizedTopK on the same
    * corpus — parquet round-trips bigint arrays exactly. */
  def quantizedTopKOnSketch(sketch: DataFrame, probes: DataFrame, k: Int)
  : DataFrame =
    topKOnSketches(sketch,
      quantizeInt8(probes).select(col("vec_id").as("query_id"),
        col("q_emb"), col("q_norm")), k)

  /** The generic both-sides-already-quantized ranking under
    * [[quantizedTopKOnSketch]]: corpus sketch (vec_id, q_emb, q_norm)
    * × broadcast probe sketch (query_id, q_emb, q_norm) → top-k per
    * probe by quantized cosine (ties to the smaller neighbor id). The
    * seam that lets DERIVED sketches rank with the same plan — e.g.
    * matryoshka prefixes ([[prefixSketch]]) where probe vectors must be
    * sliced under the CORPUS quantization scale, so re-quantizing raw
    * probe floats (what quantizedTopKOnSketch does) would be wrong. */
  def topKOnSketches(sketch: DataFrame, probeSketch: DataFrame, k: Int)
  : DataFrame =
    topKScoredOnSketches(sketch, probeSketch, k)
      .select("query_id", "rnk", "neighbor_id", "qdot")

  /** [[topKOnSketches]] keeping the norm pair (qna, qnb) next to each
    * ranked row. Carrying the norms makes ranked lists MERGEABLE: the
    * ranking key cos = qdot/(√qna·√qnb) can be re-evaluated on any
    * union of scored rows, so top-k lists form a join-semilattice under
    * [[knnMerge]] — the property every incremental k-NN maintenance
    * path rests on (top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B))). */
  private[graft] def topKScoredOnSketches(sketch: DataFrame,
      probeSketch: DataFrame, k: Int): DataFrame = {
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val q = probeSketch.select(col("query_id"),
      col("q_emb").as("q_q"), col("q_norm").as("q_n"))
    val c = Par.fanOut(sketch)
      .select(col("vec_id").as("neighbor_id"),
        col("q_emb").as("c_q"), col("q_norm").as("c_n"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        ll(col("q_q"), col("c_q")).as("qdot"),
        (col("q_n")).as("qna"), col("c_n").as("qnb"))
    rankScored(scored, k)
  }

  /** The one ranking rule every quantized-cosine list in this file uses:
    * cos = qdot/(√qna·√qnb) descending (double — the GAP between
    * distinct quantized cosines is FP-stable cross-engine, proven by
    * sim_quantized_topk), ties to the smaller neighbor id. Input must
    * carry (query_id, neighbor_id, qdot, qna, qnb). */
  private def rankScored(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy((col("qdot").cast("double") /
        (sqrt(col("qna").cast("double")) * sqrt(col("qnb").cast("double"))))
        .desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("qdot"), col("qna"), col("qnb"))
  }

  /** Exact k-NN lists for EVERY vector of an int8 sketch (query set =
    * corpus): the building block under mutual-kNN graphs, SemDeDup-style
    * pruning, and kNN-graph clustering. This brute form is the
    * N²-bounded BASELINE and the oracle anchor; the scale path for the
    * same artifact is [[nnDescentRound]] (O(N·k²) scored pairs per
    * round) seeded by [[nnDescentInit]] — the recall audit between the
    * two is sim_recall_nnd. */
  def knnListsOnSketch(sketch: DataFrame, k: Int): DataFrame =
    topKScoredOnSketches(sketch,
      sketch.select(col("vec_id").as("query_id"), col("q_emb"),
        col("q_norm")), k)

  /** Deterministic fixed-N corpus fence for the brute (N²) ground-truth
    * anchors: keep the `n` sketch rows with the SMALLEST
    * (java_hash_u32(vec_id), vec_id) — an SF-independent uniform sample
    * by the engine's one string hash, so the exact-baseline anchors
    * (sim_knn_graph, inc_knn_delta, sim_recall_nnd, sim_knn_components)
    * cost the SAME at every scale factor while the production paths
    * ([[nnDescentInit]]/[[nnDescentRound]], IVF, LSH) still run the
    * whole corpus. On a corpus of ≤ n vectors the sample IS the corpus
    * (identity at the correctness SF). Plans as TakeOrderedAndProject —
    * per-partition top-n then one driver merge of n rows; no global
    * sort, no full shuffle, so the FENCE itself is 100 TB-safe even
    * though what it guards is not. */
  def anchorSample(sketch: DataFrame, n: Int): DataFrame = {
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    require(n >= 1, s"anchorSample: bad n=$n")
    sketch.orderBy(
      graft.expr.GraftFunctions
        .java_hash_u32(col("vec_id").cast("string")).asc,
      col("vec_id").asc)
      .limit(n)
  }

  /** Mutual-kNN graph: an undirected edge (a, b) exists iff a ranks in
    * b's top-k AND b ranks in a's top-k — the standard symmetrization
    * that kills hub vertices (a hub lands in everyone's list, but its
    * own list holds only k entries, so its degree stays ≤ k). Connected
    * components of THIS graph are the usual embedding-cluster /
    * near-dup-group definition. One self-semi-join of the k-NN lists on
    * the swapped key pair; qdot is symmetric (integer dot), so the edge
    * weight is well-defined from either direction.
    *
    * @return (a_id, b_id, qdot) with a_id < b_id */
  def mutualKnnGraph(sketch: DataFrame, k: Int): DataFrame =
    mutualizeLists(knnListsOnSketch(sketch, k))

  /** Mutual-ization of ANY directed neighbor lists (query_id,
    * neighbor_id, qdot): keep (a, b) iff both directions are listed —
    * works identically over the exact lists ([[knnListsOnSketch]] →
    * the brute [[mutualKnnGraph]]) and the approximate ones
    * ([[nnDescentRound]] → the production-scaled graph). One
    * self-semi-join on the swapped key pair; qdot is symmetric. */
  def mutualizeLists(lists: DataFrame): DataFrame = {
    val l = lists.select("query_id", "neighbor_id", "qdot").pin()
    val swapped = l.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"))
    l.join(swapped, Seq("query_id", "neighbor_id"), "left_semi")
      .where(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("a_id"),
        col("neighbor_id").as("b_id"), col("qdot"))
  }

  /** Semilattice merge of scored k-NN lists (outputs of
    * [[topKScoredOnSketches]] over DISJOINT or overlapping corpus
    * slices): union, dedup identical scored rows (a pair surfacing from
    * two lists carries identical integer qdot/qna/qnb), re-rank with
    * the shared rule, cut at k. Because ranking is a total order per
    * query (cos desc, id asc), merge(top-k per slice) ≡ top-k(union of
    * slices) EXACTLY — ranks included. */
  def knnMerge(k: Int, lists: DataFrame*): DataFrame =
    rankScored(
      lists.map(_.select("query_id", "neighbor_id", "qdot", "qna", "qnb"))
        .reduce(_.unionByName(_)).distinct(), k)

  /** Incremental k-NN list maintenance for a corpus batch arrival:
    * base ∪ delta lists WITHOUT rescanning base × base. Old queries
    * merge their STORED base lists with fresh top-k over the delta
    * slice only (B·D scored pairs); new queries scan everything once
    * (D·(B+D) — unavoidable: a new vector must see the whole corpus).
    * The B² term never recomputes — at 100 TB, where B ≫ D, that is
    * the whole cost. Equals [[knnListsOnSketch]] of the full sketch
    * exactly (the inc_knn_delta identity): per-vector max-abs
    * quantization is split-invariant, and [[knnMerge]] preserves the
    * total ranking order. */
  def knnListsMergedDelta(base: DataFrame, delta: DataFrame, k: Int)
  : DataFrame = {
    val bProbes = base.select(col("vec_id").as("query_id"),
      col("q_emb"), col("q_norm"))
    val dProbes = delta.select(col("vec_id").as("query_id"),
      col("q_emb"), col("q_norm"))
    val oldOld = topKScoredOnSketches(base, bProbes, k) // the stored lists
    val oldNew = topKScoredOnSketches(delta, bProbes, k)
    val newAll = topKScoredOnSketches(base.unionByName(delta), dProbes, k)
    knnMerge(k, oldOld, oldNew).unionByName(newAll)
  }

  /** Sign-signature width for [[nnDescentInit]]'s occupancy-adaptive
    * bucketing (2^16 = 65 536 buckets max — at [[AdaptiveOcc]] ≈ 128
    * that covers ~8.4M vectors per executor-count-independent seed
    * join; beyond that the cap degrades gracefully to linear-in-N
    * occupancy growth, never quadratic-in-N pair growth). */
  private[graft] val AdaptiveMaxPlanes = 16

  /** Target per-bucket population for the adaptive seed. */
  private[graft] val AdaptiveOcc = 128L

  /** The occupancy-adaptive bucket assignment of [[nnDescentInit]] —
    * split out so specs can pin the rule directly: appends `bucket` =
    * sig₁₆ % 2^p with p = `planes` + #{j : N > [[AdaptiveOcc]]·2^j},
    * N riding a 1-row broadcast (in-plan; no driver action). NOT
    * pinned — the caller pins after this (the RangePartitioner-free
    * construction is deterministic, but nnDescentInit's downstream
    * self-join must not recompute the count per branch). */
  private[graft] def adaptiveBucketed(sketch: DataFrame,
                                      planes: Int): DataFrame = {
    require(planes <= AdaptiveMaxPlanes,
      s"planes $planes > signature width $AdaptiveMaxPlanes")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val sig = bucketExprInt(col("q_emb"), AdaptiveMaxPlanes)
    val nFrame = sketch.agg(count(lit(1)).as("__nvec"))
    val pCol = (planes until AdaptiveMaxPlanes)
      .map(j => when(col("__nvec") > lit(AdaptiveOcc << j), lit(1))
        .otherwise(lit(0)))
      .foldLeft(lit(planes): Column)(_ + _)
    sketch.crossJoin(broadcast(nFrame))
      .withColumn("bucket",
        sig % call_function("shiftleft", lit(1L), pCol))
      .drop("__nvec")
  }

  /** Deterministic sign-LSH bucket over an int8 sketch vector — the
    * [[bucketExpr]] construction on EXACT integer arithmetic: plane p's
    * bit is sign(Σᵢ sᵢ·qᵢ) with sᵢ = ±1 from [[planeSign]], so bucket
    * assignment is bit-reproducible in SQL (integer sums, no FP). */
  private[graft] def bucketExprInt(qEmb: Column, planes: Int,
      seedOffset: Int = 0, dims: Int = 64): Column = {
    val dots = (0 until planes).map { p =>
      val signs = typedlit((0 until dims)
        .map(i => if (planeSign(seedOffset + p, i) > 0) 1L else -1L))
      graft.expr.GraftFunctions.dot_ll(qEmb, signs)
    }
    dots.zipWithIndex.map { case (d, p) =>
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** NN-descent seeding (Dong et al. 2011, WWW — the LSH-seeded
    * variant): initial neighbor lists = exact top-k WITHIN each
    * sign-LSH bucket. Candidate space is Σ_b |b|² — the cheap, blocked
    * start NN-descent refines; lists may hold fewer than k rows (or
    * none, for a vector alone in its bucket), which the round repairs
    * through reverse edges. Fully deterministic, oracle-checkable.
    *
    * OCCUPANCY-ADAPTIVE bucket count: with a fixed plane count the
    * per-bucket population grows linearly with the corpus and the
    * Σ_b |b|² seed join grows QUADRATICALLY — the r14 two-decade curve
    * measured exactly that (sf10 seeding dominated the query). The
    * bucket is therefore the low-p-bit prefix of a fixed
    * [[AdaptiveMaxPlanes]]-bit sign signature, where
    * p = `planes` + #{j : N > [[AdaptiveOcc]]·2^j} comes from a 1-row
    * broadcast count — in-plan, no driver action, and the identical
    * rule is mirrored in the oracle SQL. Occupancy stays ≈
    * [[AdaptiveOcc]] at any corpus size (seed pairs ~ N·occ, linear),
    * and at N ≤ [[AdaptiveOcc]]·2^`planes` the prefix is exactly the
    * old fixed-`planes` bucket, so small-corpus outputs (every graded
    * correctness SF, every spec fixture) are bit-identical. */
  def nnDescentInit(sketch: DataFrame, k: Int, planes: Int = 4)
  : DataFrame = {
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val b = adaptiveBucketed(sketch, planes).pin()
    val q = b.select(col("vec_id").as("query_id"),
      col("q_emb").as("q_q"), col("q_norm").as("q_n"), col("bucket"))
    val c = b.select(col("vec_id").as("neighbor_id"),
      col("q_emb").as("c_q"), col("q_norm").as("c_n"), col("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        ll(col("q_q"), col("c_q")).as("qdot"),
        col("q_n").as("qna"), col("c_n").as("qnb"))
    rankScored(scored, k)
  }

  /** One NN-descent refinement round (Dong et al. 2011): candidates =
    * current neighbors ∪ neighbors-of-neighbors ∪ reverse neighbors,
    * scored EXACTLY (integer dot on the sketch) and cut back to top-k
    * per query. Per-round cost is O(N·k²) scored pairs — independent of
    * N² — which is what makes the kNN-graph artifact buildable at
    * 100 TB where [[knnListsOnSketch]]'s brute scan is not: every stage
    * is an equi-join on vector ids (the id-keyed shuffle), no
    * broadcast of the corpus, no windows over data-sized partitions
    * (the per-query candidate set is ≤ k² + 2k rows).
    *
    * The round is monotone: current lists ride in the candidate set, so
    * a query's rank-r cosine never decreases (spec-pinned). */
  def nnDescentRound(sketch: DataFrame, lists: DataFrame, k: Int)
  : DataFrame = {
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val l = lists.select("query_id", "neighbor_id").pin()
    val non = l.as("a").join(l.as("b"),
        col("a.neighbor_id") === col("b.query_id"))
      .select(col("a.query_id").as("query_id"),
        col("b.neighbor_id").as("neighbor_id"))
    val rev = l.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"))
    val cand = l.unionByName(non).unionByName(rev)
      .where(col("query_id") =!= col("neighbor_id"))
      .distinct()
    val sq = sketch.select(col("vec_id").as("query_id"),
      col("q_emb").as("q_q"), col("q_norm").as("q_n"))
    val sc = sketch.select(col("vec_id").as("neighbor_id"),
      col("q_emb").as("c_q"), col("q_norm").as("c_n"))
    val scored = cand.join(sq, "query_id").join(sc, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        ll(col("q_q"), col("c_q")).as("qdot"),
        col("q_n").as("qna"), col("c_n").as("qnb"))
    rankScored(scored, k)
  }

  /** Batch BEAM search over a prebuilt kNN graph — the graph-ANN
    * SERVING path (HNSW's layer-0 best-first search, Malkov & Yashunin
    * 2018; DiskANN's greedy search, Jayaram Subramanya et al. 2019),
    * reformulated for the shuffle engine: a per-query priority queue is
    * sequential state Spark cannot distribute, so ALL queries advance a
    * fixed-width beam in LOCKSTEP rounds — round r's beam is the top-b
    * (by exact int8 cosine, [[rankScored]]'s total order) of the
    * previous beam ∪ its graph out-neighbors. With beam width b ≥ the
    * greedy queue length, the lockstep beam visits a superset of
    * greedy's frontier at equal depth; each round is ONE id-keyed
    * equi-join into the graph (fan-out ≤ b·outdeg per query) + one
    * bounded rank window (≤ b·(outdeg+1) candidate rows per query) —
    * never a corpus scan, which is the entire point: serving cost per
    * query is O(rounds · b · outdeg) at ANY corpus size, vs the brute
    * probe's O(N).
    *
    * Fully deterministic (exact integer dots, total-order ranks), so
    * the unrolled round replay in the SQL oracle is bit-exact.
    * Self-matches are excluded throughout (a corpus-member probe
    * re-finding itself is not retrieval).
    *
    * @param graph   directed kNN out-lists (query_id, neighbor_id) —
    *                e.g. [[nnDescentRound]] output (the build path this
    *                read path completes)
    * @param probes  probe sketch rows (query_id, q_emb, q_norm); tiny
    *                vs the corpus, broadcast into every scoring join
    * @param entries entry vectors (vec_id) — the fixed handful of
    *                deterministic start nodes every query descends
    *                from ([[anchorSample]]'s bottom-by-hash rule)
    * @return (query_id, rnk, neighbor_id, qdot) — top-k per probe */
  def graphBeamSearch(sketch: DataFrame, graph: DataFrame,
                      probes: DataFrame, entries: DataFrame,
                      beam: Int, rounds: Int, k: Int): DataFrame = {
    require(beam >= k && rounds >= 1 && k >= 1,
      s"bad beam shape b=$beam r=$rounds k=$k")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val g = graph.select(col("query_id").as("node"),
      col("neighbor_id").as("next")).distinct().pin()
    val q = probes.select(col("query_id"), col("q_emb").as("p_q"),
      col("q_norm").as("p_n")).pin()
    val c = sketch.select(col("vec_id").as("neighbor_id"),
      col("q_emb").as("c_q"), col("q_norm").as("c_n"))
    // score a (query_id, neighbor_id) candidate frame and cut to top-b
    def score(cand: DataFrame): DataFrame =
      rankScored(
        cand.where(col("query_id") =!= col("neighbor_id"))
          .join(c, "neighbor_id")
          .join(broadcast(q), "query_id")
          .select(col("query_id"), col("neighbor_id"),
            ll(col("p_q"), col("c_q")).as("qdot"),
            col("p_n").as("qna"), col("c_n").as("qnb")),
        beam)
    var bm = score(q.select("query_id")
        .crossJoin(broadcast(entries.select(col("vec_id").as("neighbor_id")))))
      .pin()
    for (_ <- 1 to rounds) {
      val nbr = bm.select("query_id", "neighbor_id")
        .join(g, col("neighbor_id") === col("node"))
        .select(col("query_id"), col("next").as("neighbor_id"))
      bm = score(bm.select("query_id", "neighbor_id")
        .unionByName(nbr).distinct()).pin()
    }
    // the final k-cut: the last beam is already ranked under the same
    // total order, so the top-k IS its first k rows per query
    bm.where(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "qdot")
  }

  /** Matryoshka prefix of an int8 sketch: keep the first `dims`
    * dimensions and recompute the norm over the prefix — the
    * MRL-serving trick (Kusupati et al. 2022: nested representations
    * let you rank with a 4× shorter vector and re-rank survivors at
    * full width). The prefix slice keeps the CORPUS quantization scale
    * (slicing commutes with per-vector scaling), so prefix dot products
    * stay exact integers comparable across vectors. Rows whose prefix
    * is all-zero are dropped (no direction to compare — same fence as
    * [[quantizeInt8]]'s zero-vector rule). */
  def prefixSketch(sketch: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    sketch
      .select(col("vec_id"), slice(col("q_emb"), 1, dims).as("q_emb"))
      .withColumn("q_norm", ll(col("q_emb"), col("q_emb")))
      .where(col("q_norm") > 0)
  }

  /** Exact integer Gram matrix of an int8 sketch — the accumulation
    * stage of embedding whitening / PCA prep (covariance and principal
    * axes derive from these sums plus the per-dimension totals of
    * [[dimStatsInt8]]; the eigen-solve on the d×d result is a driver-side
    * O(d³) afterthought). Emits the upper triangle, 1-based:
    * (i, j, gram = Σ_v q_i·q_j, n) with i ≤ j — d(d+1)/2 rows total.
    *
    * Scale: each vector explodes into d(d+1)/2 integer products, but
    * hash partial aggregation collapses them MAP-SIDE, so the shuffle is
    * O(partitions · d²) — independent of corpus size — and nothing ever
    * accumulates on the driver. At d = 64 that is 2 080 longs per
    * partition. Overflow: |Σ q_i·q_j| ≤ N·127², so a long holds
    * N ≈ 5.7e14 vectors (same bound as [[graft.expr.DotProductLL]]). */
  def gramInt8(sketch: DataFrame): DataFrame = {
    val d = size(col("q_emb"))
    val tri = flatten(transform(col("q_emb"), (qi, i) =>
      transform(slice(col("q_emb"), i + 1, d - i),
        (qj, jo) => struct((i + 1).cast("long").as("i"),
          (i + jo + 1).cast("long").as("j"),
          (qi * qj).as("p")))))
    sketch.select(explode(tri).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
      .groupBy("i", "j")
      .agg(sum(col("p")).as("gram"), count(lit(1)).as("n"))
  }

  /** Integer power iteration for the TOP PRINCIPAL DIRECTION of the
    * int8 Gram matrix — the distributed eigen path that upgrades
    * [[gramInt8]]'s "driver-side O(d³) afterthought": v ← G·v with a
    * deterministic integer renormalization each round, so the whole
    * trajectory is engine-reproducible (sign(w)·(|w| div q) with q =
    * max(1, max|w| div 2^keepBits) — only non-negative divisions, where
    * truncation and floor agree across engines). The direction converges
    * at the usual (λ₂/λ₁)^r rate; magnitude is normalized to ~2^keepBits
    * per round, never a float.
    *
    * Shape: G is d² rows (d = 64 → 4096) regardless of corpus size —
    * the matvec is a d²-row join against a d-row frame, and the renorm
    * scalar rides a 1-row broadcast; the corpus is touched ONCE, inside
    * [[gramInt8]]'s map-side-combined pass. Overflow fence: |Σ_j G_ij·v_j|
    * ≤ d·max|G|·2^(keepBits+1), so max|G| is required < 2^36 (loud) —
    * at bigger corpora compute G over a hash sample or pre-scale,
    * deliberately, instead of silently wrapping.
    *
    * @return (i, v) — 1-based dim index, integer direction estimate */
  def powerIterInt(sketch: DataFrame, rounds: Int,
                   keepBits: Int = 20): DataFrame =
    powerIterFromGram(gramInt8(sketch), rounds, keepBits)

  /** [[powerIterInt]] over an ALREADY-BUILT upper-triangle gram frame
    * ((i, j, gram) with i ≤ j — [[gramInt8]]'s shape). The seam the
    * incremental path uses: the gram is ADDITIVE over corpus slices
    * (Σ_v q_i·q_j splits by v), so a batch arrival maintains the d²-row
    * gram by summing per-slice grams ([[gramMerge]]) and re-runs the
    * iteration on the merged frame — the corpus slice is scanned once,
    * the base corpus never rescanned (the 20th inc_* identity,
    * inc_power_delta). */
  def powerIterFromGram(g: DataFrame, rounds: Int,
                        keepBits: Int = 20): DataFrame = {
    require(rounds >= 1 && keepBits >= 4 && keepBits <= 40,
      s"bad power-iteration shape $rounds x $keepBits")
    val full = g.select(col("i"), col("j"), col("gram"))
      .unionByName(g.where(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("gram")))
      .pin()
    val maxG = full.agg(max(abs(col("gram")))).head().getLong(0)
    require(maxG < (1L << 36),
      s"gram magnitude $maxG risks matvec overflow at keepBits=$keepBits" +
        " — compute the gram over a sample or pre-scale, deliberately")
    var v = full.select(col("i")).distinct()
      .select(col("i").as("j"), lit(1L).as("v"))
    for (_ <- 0 until rounds) {
      val w = full.join(v, "j")
        .groupBy("i").agg(sum(col("gram") * col("v")).as("w"))
      val m = w.agg(max(abs(col("w"))).as("m"))
      // lazy pin (r14): each round's v is referenced once by the next
      // round's matvec (and the m-broadcast job materializes it first),
      // so the d-row frames chain into the query's own jobs instead of
      // paying one eager pin job per round
      v = w.crossJoin(broadcast(m))
        .select(col("i").as("j"),
          (when(col("w") < 0, lit(-1L)).otherwise(lit(1L)) *
            call_function("div", abs(col("w")),
              greatest(lit(1L),
                call_function("div", col("m"),
                  lit(1L << keepBits))))).as("v"))
        .pinLazy()
    }
    v.select(col("j").as("i"), col("v"))
  }

  /** Additive merge of [[gramInt8]] frames over DISJOINT corpus slices:
    * Σ_v splits by v, so cell-wise sums of the d²-row summaries equal
    * the full-corpus gram exactly — the covariance-maintenance
    * semilattice under streaming-PCA (a day's arrival contributes one
    * d²-row frame; the base corpus never rescans). */
  def gramMerge(grams: DataFrame*): DataFrame =
    grams.map(_.select("i", "j", "gram", "n")).reduce(_.unionByName(_))
      .groupBy("i", "j")
      .agg(sum("gram").as("gram"), sum("n").as("n"))

  /** Per-dimension profile of an int8 sketch (1-based dim index):
    * (i, n, s = Σ_v q_i, q_min, q_max) — the mean-vector side of the
    * covariance computation and the standard feature-scaling probe.
    * Same shape as [[gramInt8]] without the pair blow-up: explode d rows
    * per vector, partial-aggregate to d rows per partition. */
  def dimStatsInt8(sketch: DataFrame): DataFrame =
    sketch.select(posexplode(col("q_emb")).as(Seq("i0", "q")))
      .select((col("i0") + 1).cast("long").as("i"), col("q"))
      .groupBy("i")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        min(col("q")).as("q_min"), max(col("q")).as("q_max"))

  /** Candidate carried into [[mmrRerank]]'s per-probe greedy fold. */
  private[graft] case class MmrCand(neighbor_id: Long, rel: Long,
                                    q: Array[Long])

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — the diversity-aware selection a RAG retriever or a
    * training-data sampler runs AFTER similarity search: from each
    * probe's `cands` nearest neighbors, greedily pick `k`, each step
    * taking the candidate maximizing
    *
    *   wRel · rel(probe, c)  −  wDiv · max_{s ∈ selected} sim(c, s)
    *
    * (the max over an empty selection is 0, so step 1 is the most
    * relevant candidate; λ = wRel/(wRel+wDiv), default 2/3). Everything
    * runs on the int8 sketch: rel and sim are exact integer dot
    * products, so scores, ties (broken by smaller neighbor_id), and
    * therefore the whole greedy trajectory are bit-reproducible in a SQL
    * oracle — the same determinism contract as [[quantizedTopK]]. The
    * integer dots are UNNORMALIZED: max-abs scaling puts every sketch's
    * norm in a narrow band, which is the standard "quantized MMR"
    * approximation (exact-cosine MMR would need cross-multiplied
    * rational comparisons that no sort order can express).
    *
    * Scale: candidate generation is [[quantizedTopKOnSketch]] (probes
    * broadcast, corpus streams, never shuffles). The greedy fold then
    * touches ONLY |probes|·cands rows: they are broadcast back over the
    * sketch once to fetch candidate vectors, and the per-probe
    * groupByKey state is `cands` sketches — explicitly bounded by the
    * caller, independent of corpus size. The O(k·cands²) greedy runs
    * per probe inside flatMapGroups; at cands ≤ a few hundred that is
    * microseconds, and no driver-side loop or collect exists anywhere.
    *
    * @return (query_id, rnk 1..k, neighbor_id, mmr_score) — mmr_score
    *         is the integer selection score at pick time
    */
  def mmrRerank(corpus: DataFrame, probes: DataFrame, cands: Int, k: Int,
                wRel: Long = 2L, wDiv: Long = 1L): DataFrame =
    mmrRerankOnSketch(quantizeInt8(corpus), probes, cands, k, wRel, wDiv)

  /** The stored-sketch regime of [[mmrRerank]] — serve from an
    * ALREADY-QUANTIZED corpus (a persisted [[quantizeInt8]] output),
    * the same amortization contract as [[quantizedTopKOnSketch]]:
    * quantize on ingest, store the int8 column, rank and diversify
    * per query batch against the stored sketch. */
  def mmrRerankOnSketch(sketch: DataFrame, probes: DataFrame,
                        cands: Int, k: Int,
                        wRel: Long = 2L, wDiv: Long = 1L): DataFrame = {
    require(k >= 1 && cands >= k, "need cands >= k >= 1")
    val spark = sketch.sparkSession
    import spark.implicits._
    val top = quantizedTopKOnSketch(sketch, probes, cands)
      .select(col("query_id"), col("neighbor_id"), col("qdot").as("rel"))
    val withVec = sketch
      .select(col("vec_id").as("neighbor_id"), col("q_emb"))
      .join(broadcast(top), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        col("q_emb"))
      .as[(Long, Long, Long, Array[Long])]
    withVec.groupByKey(_._1).flatMapGroups { (qid, it) =>
      // id-sorted + strict > keeps the first (smallest id) on ties —
      // the same order the oracle's (score DESC, cid ASC) row_number picks
      val cs = it.map(t => MmrCand(t._2, t._3, t._4)).toArray
        .sortBy(_.neighbor_id)
      def dot(a: Array[Long], b: Array[Long]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      val selected = new scala.collection.mutable.ArrayBuffer[MmrCand](k)
      val out = new scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long, Long)](k)
      var r = 1
      while (r <= k && selected.length < cs.length) {
        var best: MmrCand = null
        var bestScore = Long.MinValue
        for (c <- cs if !selected.exists(_.neighbor_id == c.neighbor_id)) {
          val maxDot =
            if (selected.isEmpty) 0L
            else selected.iterator.map(s0 => dot(c.q, s0.q)).max
          val score = wRel * c.rel - wDiv * maxDot
          if (score > bestScore) { best = c; bestScore = score }
        }
        selected += best
        out += ((qid, r.toLong, best.neighbor_id, bestScore))
        r += 1
      }
      out
    }.toDF("query_id", "rnk", "neighbor_id", "mmr_score")
  }

  /** Sign-bit bucket: bit p = (dot(emb, plane_{seed+p}) > 0), planes
    * packed into a long. `dims` is the embedding width (fixtures: 64).
    * The dot runs through the codegen'd [[graft.expr.DotProductFF]]
    * (±1 is exact in float, and dot_ff widens to double per element —
    * bit-identical values to the interpreted HOF fold it replaces). */
  def bucketExpr(emb: Column, planes: Int, seedOffset: Int,
                 dims: Int = 64): Column = {
    val dots = (0 until planes).map { p =>
      val signs = typedlit(
        (0 until dims).map(i => planeSign(seedOffset + p, i).toFloat))
      graft.expr.GraftFunctions.dot_ff(emb, signs)
    }
    dots.zipWithIndex.map { case (d, p) =>
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  // --------------------------------------------------------------------
  // Codebook training: integer Lloyd's k-means over the int8 sketch —
  // the TRAIN half of IVF/PQ that ivfTopK/assignCells consume (their
  // `centroids` input has so far come from a hash sample; this learns
  // it). Everything is integer arithmetic on the quantized sketch, so
  // the full training trajectory — seeds, every assignment, every
  // centroid update — is bit-reproducible on any engine and any
  // partition merge order, and a SQL oracle can replay it exactly.
  // --------------------------------------------------------------------

  /** Result of [[kmeansInt8]]: `centroids` = (cell, c_emb: array<long>,
    * c_norm) — k rows; `assign` = (vec_id, cell, dist2) — the final
    * assignment under those centroids, dist2 the exact integer squared
    * L2 distance. */
  final case class KmeansInt8(centroids: DataFrame, assign: DataFrame)

  /** Integer Lloyd's k-means over an int8 sketch (the
    * (vec_id, q_emb, q_norm) frame [[quantizeInt8]] emits).
    *
    * Determinism contract (what makes this oracle-replayable where
    * float k-means is not):
    *   - seeding is a HASH SAMPLE, not a random one: the k sketch rows
    *     with the smallest (javaHashU32(salt‖vec_id), vec_id) become
    *     centroids 0..k−1 in that order;
    *   - assignment minimizes the exact integer
    *     dist²(v,c) = q_norm − 2·⟨q_emb,c⟩ + ⟨c,c⟩, ties broken by the
    *     smaller cell id — computed as ONE hash aggregate
    *     (min(struct(dist2, cell, …))), never a sort window;
    *   - the centroid update is per-dimension `sum div count` (Spark
    *     `div` = truncation toward zero = DuckDB BIGINT `//`) — floor
    *     averages stay int8-ranged, so rounds compose exactly;
    *   - a cluster that loses all members KEEPS its previous centroid
    *     (the standard empty-cluster guard, made deterministic).
    *
    * Scale (100 TB): per round, the corpus crosses a BROADCAST k-row
    * centroid frame (k·d longs — KB-sized), the argmin collapses in a
    * map-side partial aggregate keyed on vec_id, and the update's
    * (cell, dim) sums partial-aggregate to at most partitions·k·d rows
    * before the exchange — nothing scales with corpus size except the
    * embarrassingly-parallel scan. The sketch is localCheckpoint-pinned
    * once (it is re-scanned every round); each round's k-row centroid
    * frame is pinned too, so round t+1's plan does not re-derive rounds
    * 0..t (the hitsInt recompute contract). Seeding sorts the corpus by
    * hash for reproducibility — at real scale swap in a hash-threshold
    * pre-filter (hu < N) before the sort so the ordered selection sees a
    * sample, not the corpus; the fixtures are graded on the exact form.
    *
    * @param iters Lloyd rounds AFTER seeding (assignment+update pairs);
    *              the returned assignment is under the final centroids
    */
  def kmeansInt8(sketch: DataFrame, k: Int, iters: Int,
                 salt: String = "km"): KmeansInt8 = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 0, "iters must be >= 0")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val sk = sketch.select("vec_id", "q_emb", "q_norm").pin()
    var cent = kmSeed(sk, k, salt)
    var i = 0
    while (i < iters) {
      cent = kmUpdate(kmAssign(sk, cent), cent)
      i += 1
    }
    KmeansInt8(cent,
      kmAssign(sk, cent).select("vec_id", "cell", "dist2"))
  }

  /** Convergence-terminated [[kmeansInt8]]: Lloyd rounds until the
    * assignment REVISITS a state — a fixpoint (no vector changes cell,
    * so every later round repeats exactly) or a limit cycle, which
    * truncated integer centroid means CAN produce (assignments whose
    * floor-averaged centroids map around a loop; the 10× synthetic
    * corpus hits one past round 40). Each round's assignment is a pure
    * function of the previous, so the FIRST revisit is deterministic
    * and the returned (centroids, assignment) pair is consistent —
    * engine-reproducible either way.
    *
    * Revisit detection is a commutative 64-bit fingerprint of the
    * assignment (XOR of xxhash64(vec_id, cell) — order-free and
    * overflow-free, so partial aggregation computes it map-side; pairs
    * are unique per assignment, so XOR cancellation needs a hash
    * collision first): ONE 1-row read per round and O(rounds) driver
    * longs, instead of a join against every prior state. A fingerprint
    * collision would only terminate a round early (≈ 2⁻⁶⁴ per pair,
    * deterministic when it happens); correctness of the returned pair
    * is unaffected. Fails LOUDLY after `maxIters` rounds without a
    * revisit. */
  def kmeansInt8Converged(sketch: DataFrame, k: Int,
                          maxIters: Int = 100,
                          salt: String = "km"): KmeansInt8 = {
    require(k >= 1, "k must be >= 1")
    require(maxIters >= 1, "maxIters must be >= 1")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val sk = sketch.select("vec_id", "q_emb", "q_norm").pin()
    def fp(a: DataFrame): Long =
      a.agg(call_function("bit_xor", xxhash64(col("vec_id"), col("cell"))))
        .head().getLong(0) // 1-row read per round
    // lazy pins (r14): each assignment's first consumer is its own
    // fingerprint read, which references it exactly once and
    // full-scans it — the eager pin job per round was an extra pass
    var cent = kmSeed(sk, k, salt)
    var assign = kmAssign(sk, cent).pinLazy()
    val seen = scala.collection.mutable.Set(fp(assign))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      cent = kmUpdate(assign, cent)
      assign = kmAssign(sk, cent).pinLazy()
      converged = !seen.add(fp(assign)) // first revisited state
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kmeansInt8Converged: no revisited state after $maxIters " +
          s"rounds (k=$k); raise maxIters or lower k")
    KmeansInt8(cent, assign.select("vec_id", "cell", "dist2"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
    * by CLUSTERING first, thresholded-cosine dedup WITHIN clusters only
    * — the published recipe for web-scale embedding dedup (they run it
    * on LAION/C4 ahead of training). The cluster step is the blocker:
    * pair space drops from N² to Σ|cluster|², and k is the knob that
    * bounds cluster sizes as the corpus grows (the paper uses
    * k ≈ N/10⁴-10⁵ at web scale; the graded fixture reuses the
    * emb_kmeans codebook constants so the training trajectory is
    * already oracle-unrolled).
    *
    * Dedup rule, engine-exact: vector x is DROPPED iff some PRECEDING
    * vector y in the SAME cell has quantized-cosine(x, y) ≥ τ — the
    * comparison is division-free (qdot > 0 ∧ qdot²·τd² ≥ τn²·‖x‖²‖y‖²,
    * exact int64: |qdot| ≤ 64·127² so every product stays ≤ ~10¹⁶).
    * Precedence IS the keeper policy: min-id by default (deterministic,
    * reproducible), or the paper's keep-farthest-from-centroid when
    * `keepFarthest` — y precedes x iff d²(y, centroid) > d²(x,
    * centroid), ties by id, using kmAssign's exact integer dist2. y may
    * itself be dropped (the greedy ε-cover, not transitive closure —
    * closure is [[Cluster.connectedComponents]] composed downstream
    * when wanted).
    *
    * @return every sketch row as (vec_id, cell, kept) */
  def semDedup(sketch: DataFrame, k: Int, iters: Int,
               tauNum: Long, tauDen: Long,
               salt: String = "km",
               keepFarthest: Boolean = false): DataFrame = {
    require(tauDen > 0 && tauNum >= 0, "need tauDen > 0, tauNum >= 0")
    // overflow fence (the dsirScores convention — loud, never a wrap):
    // the threshold compares qdot²·tauDen² vs tauNum²·na·nb with
    // |qdot|, na, nb ≤ 64·127² < 2^20, so each side stays < 2^63 only
    // while tau{Num,Den} ≤ 2000 (2000² · 2^40 < 2^62)
    require(tauDen <= 2000 && tauNum <= 2000,
      s"semDedup: tauNum/tauDen = $tauNum/$tauDen exceed the int64 " +
        "threshold budget (<= 2000) — reduce the ratio's terms")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val km = kmeansInt8(sketch, k, iters, salt)
    val a = km.assign.select("vec_id", "cell", "dist2")
      .join(sketch.select("vec_id", "q_emb", "q_norm"), "vec_id")
      .pin()
    val lo = a.select(col("cell"), col("vec_id").as("a_id"),
      col("q_emb").as("qa"), col("q_norm").as("na"),
      col("dist2").as("da"))
    val hi = a.select(col("cell"), col("vec_id").as("b_id"),
      col("q_emb").as("qb"), col("q_norm").as("nb"),
      col("dist2").as("db"))
    val precedes = // a before b in the keeper order ⇒ b is droppable
      if (keepFarthest)
        col("da") > col("db") ||
          (col("da") === col("db") && col("a_id") < col("b_id"))
      else col("a_id") < col("b_id")
    val qdot = ll(col("qa"), col("qb"))
    val dropped = lo.join(hi, Seq("cell"))
      .where(precedes)
      .withColumn("qdot", qdot)
      .where(col("qdot") > 0 &&
        col("qdot") * col("qdot") * lit(tauDen * tauDen) >=
          lit(tauNum * tauNum) * col("na") * col("nb"))
      .select(col("b_id").as("vec_id")).distinct()
    a.select("vec_id", "cell")
      .join(dropped.withColumn("__d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("__d").isNull.as("kept"))
  }

  /** IVF serving over a TRAINED integer codebook (the [[kmeansInt8]]
    * centroid frame): the corpus assigns to its single nearest cell
    * (exact integer argmin, hash aggregate), each probe searches its
    * `nprobe` nearest cells, and candidates re-rank by the same
    * integer quantized-cosine as [[quantizedTopKOnSketch]] — so ids,
    * ranks and qdot are all oracle-exact given the codebook. This
    * closes the IVF loop: [[ivfTopK]] serves float-cosine over a
    * hash-sample centroid set; this serves the LEARNED codebook in the
    * stored-sketch regime.
    *
    * Scale: assignment is corpus × broadcast k-row codebook; the probe
    * cell table (|probes|·nprobe rows, with the probe sketches riding
    * along) broadcasts into the cell-keyed candidate join, so the
    * corpus never shuffles — only its matching cells' rows score.
    * Returns (query_id, rnk 1..k, neighbor_id, qdot). */
  def ivfTopKInt8(sketch: DataFrame, centroids: DataFrame,
                  probes: DataFrame, k: Int,
                  nprobe: Int = 2): DataFrame =
    ivfServeInt8(ivfIndex(sketch, centroids), centroids, probes, k,
      nprobe)

  /** The IVF INDEX as first-class serving state: each sketch row with
    * its nearest cell under FIXED centroids. Assignment is per-row, so
    * the index is exactly mergeable — index(B ∪ D) = index(B) ⊎
    * index(D) — which is the maintenance story a 100 TB vector store
    * needs: an arriving batch assigns against the broadcast codebook
    * and APPENDS (one cell-partitioned write), the base is never
    * rescanned, and [[ivfServeInt8]] over the merged index is
    * bit-identical to a full rebuild (`inc_ivf_delta` hash-gates this).
    * Returns (vec_id, cell, q_emb, q_norm). */
  def ivfIndex(sketch: DataFrame, centroids: DataFrame): DataFrame = {
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    // kmAssign carries the sketch vector through but not its norm —
    // recompute it (codegen'd fold) rather than re-joining the sketch
    kmAssign(sketch.select("vec_id", "q_emb", "q_norm"), centroids)
      .withColumn("q_norm", ll(col("q_emb"), col("q_emb")))
      .select("vec_id", "cell", "q_emb", "q_norm")
  }

  /** Serve top-k from a prebuilt [[ivfIndex]] (assignment NOT
    * recomputed — the stored-index read path). */
  def ivfServeInt8(index: DataFrame, centroids: DataFrame,
                   probes: DataFrame, k: Int,
                   nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && nprobe >= 1, "need k >= 1, nprobe >= 1")
    graft.expr.GraftFunctions.register(index.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val corp = index
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("q_emb").as("c_q"), col("q_norm").as("c_n"))
    val pq = quantizeInt8(probes).select(col("vec_id").as("query_id"),
      col("q_emb").as("q_q"), col("q_norm").as("q_n"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("pdist"), col("cell"))
    val pcell = pq.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_q"), col("q_n"), col("cell"),
        (col("q_n") - lit(2L) * ll(col("q_q"), col("c_emb"))
          + col("c_norm")).as("pdist"))
      .withColumn("pr", row_number().over(pw))
      .where(col("pr") <= nprobe)
      .select("query_id", "q_q", "q_n", "cell")
    val scored = corp.join(broadcast(pcell), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        ll(col("q_q"), col("c_q")).as("qdot"),
        col("q_n").as("qna"), col("c_n").as("qnb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy((col("qdot").cast("double") /
        (sqrt(col("qna").cast("double")) *
          sqrt(col("qnb").cast("double")))).desc,
        col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("qdot"))
  }

  /** Mergeable per-cell sufficient statistics under FIXED centroids —
    * the incremental-maintenance half of k-means. Assignment under
    * fixed centroids is per-row, so the (cell, dim) sums are exactly
    * mergeable: stats(B ∪ D) = stats(B) ⊎ stats(D) (cell-wise integer
    * adds). A streaming corpus keeps (cell, d) → (Σ q_emb[d], count) as
    * its codebook state; an arriving batch contributes its OWN partial
    * sums without rescanning the base — the centroid refresh
    * (s div n per dim) then reads k·d rows of state. This is the
    * sequential/mini-batch k-means update (Bottou & Bengio's online
    * Lloyd step) made engine-exact: integer sums commute under any
    * partition or batch merge order.
    *
    * Scale: one broadcast of the k-row centroid frame, one map-side
    * argmin, and a (cell, d) aggregate that partial-combines to at most
    * partitions·k·d rows before the exchange — the kmUpdate shape.
    *
    * @param sketch    (vec_id, q_emb, q_norm) — [[quantizeInt8]] output
    * @param centroids (cell, c_emb, c_norm) — a [[kmeansInt8]] codebook
    * @return (cell, d, s, n): 1-based dimension d, Σ q_emb[d] and
    *         member count (n repeats per d — the flat shape merges with
    *         plain arithmetic, no array alignment)
    */
  def centroidStats(sketch: DataFrame, centroids: DataFrame): DataFrame =
    kmAssign(sketch.select("vec_id", "q_emb", "q_norm"), centroids)
      .select(col("cell"), posexplode(col("q_emb")).as(Seq("d", "q")))
      .groupBy(col("cell"), (col("d") + 1).cast("long").as("d"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))

  /** Hash-sample seeding: cells 0..k−1 in (hashU32, vec_id) order. */
  private[ops] def kmSeed(sk: DataFrame, k: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ll = graft.expr.GraftFunctions.dot_ll _
    val hu = graft.expr.GraftFunctions.java_hash_u32 _
    val seeds = sk.select(col("vec_id"), col("q_emb"),
        hu(concat(lit(salt), col("vec_id").cast("string"))).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
    // rank window runs over the k-row LIMIT output only — never the corpus
    val w = Window.orderBy(col("h"), col("vec_id"))
    seeds.select((row_number().over(w) - 1).cast("long").as("cell"),
        col("q_emb").as("c_emb"))
      .withColumn("c_norm", ll(col("c_emb"), col("c_emb")))
      .pin()
  }

  /** One assignment pass: exact integer argmin over the broadcast
    * centroids, as a hash aggregate (min over (dist2, cell) structs —
    * q_emb rides along for the update but never decides: cell is unique
    * per candidate row). Returns (vec_id, cell, dist2, q_emb). */
  private[ops] def kmAssign(sk: DataFrame, cent: DataFrame): DataFrame = {
    val ll = graft.expr.GraftFunctions.dot_ll _
    sk.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("q_emb"),
        (col("q_norm") - lit(2L) * ll(col("q_emb"), col("c_emb"))
          + col("c_norm")).as("dist2"),
        col("cell"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("cell"), col("q_emb"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"),
        col("m.dist2").as("dist2"), col("m.q_emb").as("q_emb"))
  }

  /** One centroid update: per-(cell, dim) truncated integer means,
    * partial-aggregated map-side; empty cells keep `prev`'s centroid.
    * Pinned (k rows) so later rounds never re-derive this one. */
  private[ops] def kmUpdate(assign: DataFrame, prev: DataFrame): DataFrame = {
    val ll = graft.expr.GraftFunctions.dot_ll _
    val sums = assign
      .select(col("cell"), posexplode(col("q_emb")).as(Seq("d", "q")))
      .groupBy("cell", "d")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("cell"), col("d"), expr("s div n").as("v"))
    val upd = sums.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("d"), col("v")))).as("dv"))
      .select(col("cell"),
        transform(col("dv"), x => x.getField("v")).as("u_emb"))
    prev.select(col("cell"), col("c_emb").as("p_emb"))
      .join(upd, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("u_emb"), col("p_emb")).as("c_emb"))
      .withColumn("c_norm", ll(col("c_emb"), col("c_emb")))
      .pin()
  }

  // --------------------------------------------------------------------
  // Product quantization (Jégou, Douze & Schmid, PAMI 2011 — FAISS's
  // PQ): split each d-dim sketch into m contiguous sub-vectors, train an
  // independent ksub-cell integer codebook per subspace (the same Lloyd
  // rounds as kmeansInt8, keyed by (sub, cell)), and encode every vector
  // as m small codes. At serving time, asymmetric distance computation
  // (ADC) ranks the corpus from the CODES alone: a probe precomputes its
  // m×ksub table of exact sub-distances, and a corpus vector's distance
  // is a table-lookup sum — the corpus's raw vectors are never touched.
  // That is the 100 TB memory story: 64-dim int8 (64 B) compresses to m
  // = 8 codes (8 B) with the codebook KB-sized and broadcast.
  // --------------------------------------------------------------------

  /** Result of [[pqTrainInt8]]: `codebook` = (sub, cell, c_emb:
    * array<long> of subDim, c_norm) — m·ksub rows; `codes` = (vec_id,
    * sub, code, dist2) — every vector's nearest cell per subspace and
    * the exact integer squared sub-distance (Σ over sub of dist2 is the
    * vector's total quantization error). */
  final case class PqInt8(codebook: DataFrame, codes: DataFrame)

  /** Train PQ codebooks over an int8 sketch and encode the corpus.
    * Same determinism contract as [[kmeansInt8]] — hash-sample seeding
    * (the ksub hash-smallest VECTORS seed all m subspaces with their
    * slices, one corpus pass), integer argmin with smaller-cell
    * tie-break as a hash aggregate, truncated-integer-mean updates,
    * empty cells keep their centroid — so the whole trajectory replays
    * in SQL. Scale: the per-round assignment joins the (vec_id, sub)
    * sub-vector frame against a BROADCAST m·ksub-row codebook; the
    * update's (sub, cell, d) sums partial-aggregate map-side. The
    * sub-vector frame is pinned once (m rows per vector; at real scale
    * feed a hash-sampled training slice here and [[pqEncode]] the full
    * corpus with the trained codebook). */
  def pqTrainInt8(sketch: DataFrame, m: Int = 8, ksub: Int = 8,
                  iters: Int = 2, dims: Int = 64,
                  salt: String = "pq"): PqInt8 = {
    require(m >= 1 && dims % m == 0, s"dims=$dims must divide into m=$m")
    require(ksub >= 1 && iters >= 0, "need ksub >= 1, iters >= 0")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val subDim = dims / m
    val sv = subVectors(sketch, m, subDim).pin()
    var cb = pqSeed(sketch, m, ksub, subDim, salt)
    var i = 0
    while (i < iters) {
      cb = pqUpdate(pqAssign(sv, cb), cb)
      i += 1
    }
    PqInt8(cb, pqAssign(sv, cb)
      .select(col("vec_id"), col("sub"), col("cell").as("code"),
        col("dist2")))
  }

  /** Encode a sketch against an ALREADY-TRAINED codebook (the serving-
    * ingest path: train once on a sample, encode the full corpus). */
  def pqEncode(sketch: DataFrame, codebook: DataFrame, m: Int = 8,
               dims: Int = 64): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims=$dims must divide into m=$m")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    pqAssign(subVectors(sketch, m, dims / m), codebook)
      .select(col("vec_id"), col("sub"), col("cell").as("code"),
        col("dist2"))
  }

  /** Asymmetric-distance top-k over PQ codes: each probe quantizes
    * fresh, precomputes its exact integer sub-distance TABLE to every
    * codebook cell (m·ksub entries — KB-sized), and the corpus is
    * ranked by joining its CODES against the broadcast table and
    * summing m lookups per (probe, vector). The corpus side touches
    * only (vec_id, sub, code) — the raw vectors never load, never
    * shuffle; the (query, vector) partial sums collapse map-side
    * (codes of one vector explode in place). Returns (query_id, rnk
    * 1..k, neighbor_id, adist) with adist the exact integer ADC
    * distance; ties break to the smaller neighbor_id. */
  def pqTopK(codes: DataFrame, codebook: DataFrame, probes: DataFrame,
             k: Int, m: Int = 8, dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    graft.expr.GraftFunctions.register(probes.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val psv = subVectors(quantizeInt8(probes), m, dims / m)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("sv"), col("sv_norm"))
    val table = psv.join(codebook, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cell"),
        (col("sv_norm") - lit(2L) * ll(col("sv"), col("c_emb"))
          + col("c_norm")).as("tdist"))
    val scored = codes
      .join(broadcast(table),
        codes("sub") === table("sub") && codes("code") === table("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("tdist")).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("adist"))
  }

  /** IVF + PQ serving — the production ANN architecture (FAISS
    * `IVFx,PQy` with `by_residual=false`): a coarse quantizer prunes
    * the corpus to `nprobe` cells, and asymmetric PQ distance ranks
    * ONLY the survivors from their 8-byte codes — at 100 TB the read
    * path touches (vec_id, cell) + (vec_id, sub, code) and two
    * broadcast KB codebooks; raw vectors never load at query time.
    * Composes the graded IVF cell pick ([[ivfServeInt8]]'s probe
    * stage) with the graded ADC ranking ([[pqTopK]]'s table join),
    * both exact integers, so ids, ranks AND distances reproduce.
    *
    * @param cells    (vec_id, cell) — [[ivfIndex]]'s assignment (or
    *                 any coarse partition)
    * @param codes    (vec_id, sub, code) — [[pqEncode]] output
    * @param codebook PQ codebook (sub, cell, c_emb, c_norm)
    * @param coarse   coarse centroids (cell, c_emb, c_norm)
    * @return (query_id, rnk 1..k, neighbor_id, adist) — ADC distance
    *         ascending, ties to the smaller neighbor id */
  def ivfpqTopK(cells: DataFrame, codes: DataFrame, codebook: DataFrame,
                coarse: DataFrame, probes: DataFrame, k: Int,
                nprobe: Int = 2, m: Int = 8, dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && nprobe >= 1, "need k >= 1, nprobe >= 1")
    graft.expr.GraftFunctions.register(probes.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val pq = quantizeInt8(probes)
    // probe → nprobe coarse cells (the ivfServeInt8 probe stage)
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("pdist"), col("cell"))
    val pcell = pq.select(col("vec_id").as("query_id"),
        col("q_emb").as("q_q"), col("q_norm").as("q_n"))
      .crossJoin(broadcast(coarse))
      .select(col("query_id"), col("cell"),
        (col("q_n") - lit(2L) * ll(col("q_q"), col("c_emb"))
          + col("c_norm")).as("pdist"))
      .withColumn("pr", row_number().over(pw))
      .where(col("pr") <= nprobe)
      .select("query_id", "cell")
    // survivors: corpus vectors in a probed cell (self excluded)
    val cand = cells.join(broadcast(pcell), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    // probe ADC tables (the pqTopK table stage)
    val psv = subVectors(pq, m, dims / m)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("sv"), col("sv_norm"))
    val table = psv.join(codebook, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cell"),
        (col("sv_norm") - lit(2L) * ll(col("sv"), col("c_emb"))
          + col("c_norm")).as("tdist"))
    val scored = codes.join(cand, Seq("vec_id"))
      .join(broadcast(table),
        codes("sub") === table("sub") &&
          codes("code") === table("cell") &&
          cand("query_id") === table("query_id"))
      .groupBy(cand("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("tdist")).as("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("adist"))
  }

  /** Refinement stage of a two-tier ANN read path (FAISS's
    * `IndexRefine` / DiskANN's rerank step): take a per-query candidate
    * SHORTLIST produced by a lossy ranker (PQ codes, IVF cells, LSH
    * buckets) and re-rank it by the EXACT int8 squared-L2 distance
    * d = ‖p‖² − 2·p·n + ‖n‖², keeping the top k. The production
    * pattern at 100 TB: the lossy tier touches codes only (8 bytes per
    * vector), and full vectors are read for the tiny shortlist — here
    * the shortlist join streams the sketch ONCE against a broadcast
    * candidate set (|probes|·kShort id pairs), so no shuffle of the
    * corpus and no second scan for ranking.
    *
    * All distances are exact longs (|d| ≤ 4·64·127²), so ids, ranks
    * AND rdist hash-match any engine.
    *
    * @param sketch      corpus int8 sketch — (vec_id, q_emb, q_norm)
    *                    from [[quantizeInt8]]
    * @param probeSketch probe int8 sketch, same shape (small: broadcast)
    * @param shortlist   (query_id, neighbor_id) candidate pairs
    * @return (query_id, rnk, neighbor_id, rdist), rnk ≤ k, ties by id */
  def refineTopK(sketch: DataFrame, probeSketch: DataFrame,
                 shortlist: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "refineTopK needs k >= 1")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val cand = sketch.select(col("vec_id").as("neighbor_id"),
        col("q_emb").as("n_emb"), col("q_norm").as("n_norm"))
      .join(broadcast(shortlist.select("query_id", "neighbor_id")),
        Seq("neighbor_id"))
    val scored = cand
      .join(broadcast(probeSketch.select(col("vec_id").as("query_id"),
        col("q_emb").as("p_emb"), col("q_norm").as("p_norm"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("p_norm") - lit(2L) * ll(col("p_emb"), col("n_emb"))
          + col("n_norm")).as("rdist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rdist").asc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), col("rdist"))
  }

  /** Johnson–Lindenstrauss sign projection of the int8 sketch:
    * out_j = Σ_i q_i · s_{j,i} with s ∈ {−1, +1} from the
    * deterministic [[planeSign]] mix — DATA-INDEPENDENT dense
    * dimensionality reduction (d → outDims): no training pass, no
    * model table to version; the sign matrix is a plan-time literal
    * compiled into the projection, so the operator is a single narrow
    * codegen'd map over the corpus (the JL lemma gives distance
    * preservation ∝ 1/√outDims). Integer outputs are exact under any
    * partition order — the oracle embeds the same matrix as SQL
    * literals (the sign-LSH convention). Returns (vec_id, p_emb:
    * array<long> of outDims). */
  def signProjectInt8(sketch: DataFrame, outDims: Int, dims: Int = 64,
                      seedOffset: Int = 100): DataFrame = {
    require(outDims >= 1, "outDims must be >= 1")
    graft.expr.GraftFunctions.register(sketch.sparkSession)
    val ll = graft.expr.GraftFunctions.dot_ll _
    val comps = (0 until outDims).map { j =>
      val signs = typedlit((0 until dims).map(i =>
        if (planeSign(seedOffset + j, i) > 0) 1L else -1L))
      ll(col("q_emb"), signs)
    }
    sketch.select(col("vec_id"), array(comps: _*).as("p_emb"))
  }

  /** Explode a sketch into its m sub-vectors:
    * (vec_id, sub 0..m−1, sv: array<long> of subDim, sv_norm). */
  private def subVectors(sketch: DataFrame, m: Int,
                         subDim: Int): DataFrame = {
    val ll = graft.expr.GraftFunctions.dot_ll _
    sketch.select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(m - 1)), i =>
          struct(i.cast("long").as("sub"),
            slice(col("q_emb"), i * subDim + 1, lit(subDim)).as("sv"))))
          .as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .withColumn("sv_norm", ll(col("sv"), col("sv")))
  }

  /** PQ seeding: the ksub hash-smallest vectors (kmSeed's order) seed
    * EVERY subspace with their slices — one pass, m·ksub rows out. */
  private def pqSeed(sketch: DataFrame, m: Int, ksub: Int, subDim: Int,
                     salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ll = graft.expr.GraftFunctions.dot_ll _
    val hu = graft.expr.GraftFunctions.java_hash_u32 _
    val seeds = sketch.select(col("vec_id"), col("q_emb"),
        hu(concat(lit(salt), col("vec_id").cast("string"))).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(ksub)
    val w = Window.orderBy(col("h"), col("vec_id"))
    seeds.select((row_number().over(w) - 1).cast("long").as("cell"),
        col("q_emb"))
      .select(col("cell"),
        explode(transform(sequence(lit(0), lit(m - 1)), i =>
          struct(i.cast("long").as("sub"),
            slice(col("q_emb"), i * subDim + 1, lit(subDim)).as("cv"))))
          .as("e"))
      .select(col("e.sub").as("sub"), col("cell"),
        col("e.cv").as("c_emb"))
      .withColumn("c_norm", ll(col("c_emb"), col("c_emb")))
      .pin()
  }

  /** One PQ assignment pass: per (vec_id, sub), integer argmin over the
    * broadcast codebook — min(struct), never a window. Returns
    * (vec_id, sub, cell, dist2, sv). */
  private def pqAssign(sv: DataFrame, cb: DataFrame): DataFrame = {
    val ll = graft.expr.GraftFunctions.dot_ll _
    sv.join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("sv"),
        (col("sv_norm") - lit(2L) * ll(col("sv"), col("c_emb"))
          + col("c_norm")).as("dist2"),
        col("cell"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist2"), col("cell"), col("sv"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cell").as("cell"),
        col("m.dist2").as("dist2"), col("m.sv").as("sv"))
  }

  /** One PQ codebook update: truncated integer means per
    * (sub, cell, d); empty cells keep `prev`'s centroid. */
  private def pqUpdate(assign: DataFrame, prev: DataFrame): DataFrame = {
    val ll = graft.expr.GraftFunctions.dot_ll _
    val sums = assign
      .select(col("sub"), col("cell"),
        posexplode(col("sv")).as(Seq("d", "q")))
      .groupBy("sub", "cell", "d")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("sub"), col("cell"), col("d"),
        expr("s div n").as("v"))
    val upd = sums.groupBy("sub", "cell")
      .agg(sort_array(collect_list(struct(col("d"), col("v")))).as("dv"))
      .select(col("sub"), col("cell"),
        transform(col("dv"), x => x.getField("v")).as("u_emb"))
    prev.select(col("sub"), col("cell"), col("c_emb").as("p_emb"))
      .join(upd, Seq("sub", "cell"), "left")
      .select(col("sub"), col("cell"),
        coalesce(col("u_emb"), col("p_emb")).as("c_emb"))
      .withColumn("c_norm", ll(col("c_emb"), col("c_emb")))
      .pin()
  }
}
