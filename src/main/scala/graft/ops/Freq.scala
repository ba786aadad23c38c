package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pin.PinOps

/** Frequent-item (heavy-hitter) detection at corpus scale.
  *
  * The reference materializes every resource row and lets postgres GROUP BY
  * handle frequency questions (`/root/reference/src/lib/client.js:1139`
  * style count queries). When is that the wrong plan? Spark's groupBy
  * already combines map-side, so with a BOUNDED vocabulary the exchange
  * carries one row per (partition, distinct term) and the plain aggregate
  * is hard to beat (measured: README "Measured trade-off honesty"). The
  * regime that breaks it is UNBOUNDED key cardinality — n-grams, URLs,
  * near-unique tails — where partial aggregation collapses nothing, the
  * exchange approaches one row per input token, and the combine hash
  * tables spill. Misra-Gries summaries fix exactly that regime: each
  * input partition keeps at most `k-1` counters (one pass, no shuffle),
  * the tiny per-partition candidate sets union together, and a second
  * pass re-counts ONLY rows matching a candidate (broadcast hash
  * semi-join, so the shuffle carries just the heavy keys — 1.9× the
  * naive plan at 100M unique-tail tokens on local[32], and the gap
  * widens with data volume).
  *
  * Exactness: an item with global count > n/k must exceed the local n_p/k
  * threshold in at least one partition (pigeonhole), so it survives that
  * partition's Misra-Gries summary. The union of partition candidates is
  * therefore a SUPERSET of the true heavy hitters; the exact re-count then
  * filters it down with no false positives OR negatives. The final answer
  * is deterministic and partition-layout-independent even though the
  * intermediate candidate sets are not.
  */
object Freq {

  /** Per-partition Misra-Gries candidate keys for capacity `k` (at most
    * k-1 distinct keys per partition survive). Driver-visible size is
    * O(partitions × k), independent of data volume.
    */
  private[graft] def mgCandidates(terms: DataFrame, term: String, k: Int): DataFrame = {
    require(k >= 2, s"capacity k=$k must be >= 2")
    val spark = terms.sparkSession
    import spark.implicits._
    val cand = terms.select(col(term).cast("string")).as[String]
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          if (t != null) {
            if (counters.contains(t)) counters(t) += 1L
            else if (counters.size < k - 1) counters(t) = 1L
            else {
              // decrement-all step; drop zeroed counters
              val dead = List.newBuilder[String]
              counters.keysIterator.foreach { key =>
                val v = counters(key) - 1L
                if (v == 0L) dead += key else counters(key) = v
              }
              dead.result().foreach(counters.remove)
            }
          }
        }
        counters.keysIterator.toList.iterator
      }
    cand.toDF(term).distinct()
  }

  /** Exact heavy hitters: every `term` with COUNT(*) * k > n (strictly more
    * than n/k occurrences), with its exact count. Three actions over the
    * data, zero full-width shuffles: the total count, the per-partition
    * Misra-Gries candidate pass, and the re-count of rows matching the
    * broadcast candidate set. Output: (term, cnt) — equivalent to
    * `GROUP BY term HAVING count(*) * k > (SELECT count(*) FROM t)`.
    *
    * The exactness argument assumes all three actions observe the SAME
    * rows, so `terms` must be deterministic under recomputation (parquet
    * scans and pure transformations are; `df.sample`, a live source, or
    * anything rand()-derived is not — `localCheckpoint()` such an input
    * first, which pins one materialization for all three actions). */
  def heavyHitters(terms: DataFrame, term: String, k: Int): DataFrame = {
    val n = terms.where(col(term).isNotNull).count()
    val cand = mgCandidates(terms, term, k)
    terms.join(broadcast(cand), Seq(term), "left_semi")
      .groupBy(term).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * k > n)
  }

  // ------------------------------------------------------------------
  // Count-min sketch (Cormode–Muthukrishnan): the MERGEABLE frequency
  // summary for the regime where even Misra-Gries' k counters per
  // partition is too coarse — point-queryable counts over unbounded key
  // cardinality in depth×width integers. Sketches built on disjoint
  // slices (partitions, days, sources) merge by cell-wise addition, so
  // a 100 TB corpus keeps one tiny sketch per ingest unit and unions
  // them without ever re-scanning. Estimates overcount, never
  // undercount: est(key) = min over rows of the hashed cell ≥ true
  // count, with the classic (ε=e/width, δ=e^-depth) bound.
  //
  // Determinism: cell indices come from the proven 32-bit Java string
  // hash (f4_string_hash) of "row:salt:key", so the sketch — and every
  // estimate — is bit-identical across engines and partitionings.
  // ------------------------------------------------------------------

  private def cell(row: Column, salt: String, key: Column,
                   width: Int): Column =
    pmod(graft.expr.GraftFunctions.java_hash_u32(
      concat(row.cast("string"), lit(":" + salt + ":"),
        key.cast("string"))), lit(width.toLong))

  /** Build the depth×width sketch over `keyCol` occurrences: one row
    * per touched (row, bucket) cell with its exact count. The explode
    * is a width-`depth` literal array (no shuffle growth beyond
    * depth×); the aggregation partial-combines map-side into at most
    * depth·width rows per partition regardless of input size. */
  def countMinSketch(df: DataFrame, keyCol: String, depth: Int,
                     width: Int, salt: String): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape $depth x $width")
    graft.expr.GraftFunctions.register(df.sparkSession)
    df.select(col(keyCol).as("k"),
        explode(lit((0 until depth).map(_.toLong).toArray)).as("rw"))
      .select(col("rw"), cell(col("rw"), salt, col("k"), width)
        .as("bucket"))
      .groupBy("rw", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `probes` (one `k` column) against a built
    * sketch: est = min over rows of the addressed cell (missing cell =
    * 0). The sketch is depth·width rows — broadcast into the probe
    * side, never the reverse. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, depth: Int,
                  width: Int, salt: String): DataFrame = {
    graft.expr.GraftFunctions.register(probes.sparkSession)
    probes.select(col("k"),
        explode(lit((0 until depth).map(_.toLong).toArray)).as("rw"))
      .select(col("k"), col("rw"),
        cell(col("rw"), salt, col("k"), width).as("bucket"))
      .join(broadcast(sketch), Seq("rw", "bucket"), "left")
      .groupBy("k")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  // ------------------------------------------------------------------
  // KMV (k-minimum-values / bottom-k) distinct sketch — Bar-Yossef et
  // al. 2002 (RANDOM), Beyer et al. 2007 (SIGMOD): keep the k SMALLEST
  // hash values of the distinct keys per group. The k-th smallest
  // (unsigned, normalized) estimates the distinct count as
  // (k−1)·2³²/h_k, and the k survivors are simultaneously a uniform
  // sample of the distinct keys. The sketch is a join-SEMILATTICE:
  // bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B)) exactly — the
  // mergeability that makes it the per-partition / per-day / per-shard
  // distinct sketch at 100 TB (union the k-row summaries, never the
  // data). Hash = the engine's one cross-checkable idiom
  // (java_hash_u32), so the whole sketch is oracle-exact in SQL.
  // ------------------------------------------------------------------

  /** Bottom-k sketch per group: (grp, rnk, hu, k_key) — rnk 1..k by
    * ascending unsigned hash, k_key = the surviving key (the uniform-
    * sample read path). Keys are deduplicated FIRST (KMV is a
    * distinct sketch); 32-bit hash collisions between distinct keys
    * survive as separate rows ordered by (hu, k_key) — identically on
    * both engines. The per-group cut is a
    * window top-k, but the window input is already ≤ |distinct keys in
    * group| rows of (grp, hu) — and because the sketch is mergeable,
    * a skewed group graduates to the two-phase per-partition pre-cut
    * ([[knnMerge]]-style semilattice folding) without changing one
    * output bit. */
  def bottomK(df: DataFrame, grpCol: String, keyCol: String, k: Int)
  : DataFrame = {
    require(k >= 2, "KMV needs k >= 2 (estimate uses k-1)")
    graft.expr.GraftFunctions.register(df.sparkSession)
    bottomKMerge(
      df.select(col(grpCol).as("grp"), col(keyCol).cast("string")
          .as("k_key"))
        .distinct()
        .withColumn("hu",
          graft.expr.GraftFunctions.java_hash_u32(col("k_key"))),
      k)
  }

  /** The semilattice fold: cut (grp, hu, k_key) rows back to the k
    * smallest hashes per group. Feeding unions of [[bottomK]] outputs
    * through this equals rebuilding from the raw union — the
    * inc_bottomk_delta identity. Ties: two distinct keys may share a
    * 32-bit hash, so the order is (hu, k_key) — total and identical on
    * both engines. */
  def bottomKMerge(sketch: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp")
      .orderBy(col("hu").asc, col("k_key").asc)
    sketch.select(col("grp"), col("hu"), col("k_key")).distinct()
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("grp"), col("rnk").cast("long").as("rnk"),
        col("hu"), col("k_key"))
  }

  /** Jaccard / intersection estimate from two [[bottomK]] sketches over
    * the SAME key domain (the theta-sketch set-operation trick, Dasgupta
    * et al. 2016): merge the two k-row summaries to the union's bottom-k,
    * then count how many survivors appear in BOTH input sketches —
    * J(A,B) ≈ matches/k_eff, |A∩B| ≈ matches/k_eff · |A∪B|. Exact
    * membership logic: an element of bottomK(A∪B) that belongs to A is
    * necessarily in bottomK(A) (its hash is ≤ the union's k-th minimum ≤
    * A's k-th minimum), so semi-joining against the retained SUMMARIES
    * equals checking the raw sets — sketches are all you keep. One row:
    * (k_eff, matches); the estimate forms downstream, no float leaves
    * the engine.
    *
    * Both inputs must share the sketch width k and carry one group. */
  def kmvJaccard(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val merged = bottomKMerge(
      a.select("grp", "hu", "k_key").unionByName(
        b.select("grp", "hu", "k_key")), k).pin()
    val inBoth = merged
      .join(a.select(col("hu"), col("k_key")).distinct(),
        Seq("hu", "k_key"), "left_semi")
      .join(b.select(col("hu"), col("k_key")).distinct(),
        Seq("hu", "k_key"), "left_semi")
    merged.agg(count(lit(1)).as("k_eff"))
      .crossJoin(broadcast(inBoth.agg(count(lit(1)).as("matches"))))
  }

  /** Distinct-count estimate terms from a [[bottomK]] sketch: one row
    * per group with n_sketch (< k ⇒ the group is EXACT: every distinct
    * key survived), and the (k−1)/h_k estimate as exact integer terms
    * est_num = (k−1)·2³², est_den = h_k (0/0-fenced to the exact count
    * when n_sketch < k). The division happens downstream — no float
    * leaves the engine. */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.groupBy("grp")
      .agg(count(lit(1)).as("n_sketch"), max("hu").as("h_k"))
      .select(col("grp"), col("n_sketch"),
        when(col("n_sketch") < k, col("n_sketch"))
          .otherwise(lit((k - 1).toLong * 4294967296L)).as("est_num"),
        when(col("n_sketch") < k, lit(1L))
          .otherwise(col("h_k")).as("est_den"))
}
