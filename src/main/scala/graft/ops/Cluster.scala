package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Pin.PinOps

/** Connected components over an undirected edge list — the clustering
  * step of a near-duplicate pipeline: LSH candidate pairs become duplicate
  * *groups*, and one canonical document (min id) is kept per group.
  * (The reference stops at row identity — href equality,
  * `/root/reference/src/lib/client.js:1033` delete/upsert keying; grouping
  * transitively-linked near-dups is the training-data extension of that.)
  *
  * Algorithm: min-label propagation for the common case, with an
  * automatic switch to alternating large-star/small-star (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14) when
  * propagation has not converged after a few rounds.
  *
  * Scale design (100 TB): one propagation round = one shuffle (groupBy
  * vertex id) over (id, label) longs — no vertex payloads travel.
  * Propagation rounds are bounded by component diameter, and near-dup
  * graphs are unions of small cliques / stars (diameter ≤ 3 in
  * practice), so the loop is 2–4 shuffles total AND each round merges
  * everything within one hop — the cheapest possible plan for the shape
  * the data actually takes. A long-chain component would need O(diameter)
  * serialized rounds, so after [[propRounds]] un-converged rounds the
  * remaining work contracts through the current labels (all ≤k-hop
  * structure is already merged, so the contracted graph only keeps the
  * unresolved long-range edges) and finishes with the two-phase star
  * algorithm — O(log n) rounds on ANY topology. `localCheckpoint`
  * truncates lineage each round so the plan does not grow with the
  * iteration count, and the `changed` count is computed from the same
  * checkpointed frame that seeds the next round (no recomputation).
  */
object Cluster {

  /** Propagation rounds before switching to the star algorithm: near-dup
    * graphs converge at the fused seed + 1 verification round; anything
    * still moving after 4 rounds has diameter ≥ 5 and is better served by
    * the O(log n) path. */
  private val propRounds = 4

  /** Diagnostic: rounds the last [[alternatingStar]] run took (including
    * the fixpoint-detection round); -1 if it never ran. Read by the scale
    * probe / specs to pin the O(log n) bound — not part of the API, and
    * NOT reliable when two CC jobs run concurrently in one JVM (last
    * writer wins; the probe and the specs run their CC calls serially). */
  @volatile private[graft] var lastStarRounds: Int = -1

  /** @param vertices one row per vertex (must cover every id in `edges`;
    *                 isolated vertices become singleton clusters)
    * @param maxIter  bounds the alternating-star PHASE only (its O(log n)
    *                 contraction loop), not the initial min-label
    *                 propagation — that is hardcoded to [[propRounds]]
    *                 rounds, after which the remainder contracts and the
    *                 star phase finishes it. A graph that converges in
    *                 propagation never consults maxIter.
    * @param edgesCovered caller guarantees every edge endpoint appears in
    *                 `vertices` (true whenever edges were derived FROM the
    *                 vertex set, e.g. LSH candidate pairs over signatures
    *                 of these very documents) — skips the two defensive
    *                 semi-join fences, saving two shuffles of the edge list
    * @return (id, cluster) where cluster = min vertex id reachable */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          edgesCovered: Boolean = false): DataFrame = {
    val verts = vertices.select(col(idCol).cast("long").as("id"))
    // Each round re-shuffles (id,lbl) longs on the groupBy regardless of
    // the checkpointed RDD's physical partitioning (Catalyst cannot see
    // it), so no explicit repartition here: AQE coalesces the tiny
    // candidate-graph shuffles at runtime, and a big graph spreads across
    // whatever partitioning its shuffle picks.
    // Unless the caller vouches for coverage, edges are fenced to known
    // vertices first: a stray endpoint outside `vertices` must not mint
    // phantom output rows or — worse — win the min-label race and leave a
    // cluster with no canonical member. The two semi-joins shuffle only
    // ids and run once, outside the loop.
    // Symmetrize with explode, NOT a self-union: a union would inline the
    // (possibly expensive) edge-producing subplan into both branches and
    // execute it twice — with an LSH pipeline upstream that doubles the
    // dominant cost. explode reads each edge once and emits both
    // directions in the same pass.
    // Null endpoints are dropped unconditionally (an edge to nothing is
    // not an edge): the semi-join fences used to eat them as a side
    // effect, and the edgesCovered fast path must not let a null id mint
    // a phantom output row. A codegen'd filter, costs nothing.
    val symRaw = edges
      .select(col(aCol).cast("long").as("u0"), col(bCol).cast("long").as("v0"))
      .where(col("u0").isNotNull && col("v0").isNotNull)
      .select(explode(array(
        struct(col("u0").as("u"), col("v0").as("v")),
        struct(col("v0").as("u"), col("u0").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val sym = (if (edgesCovered) symRaw
      else symRaw
        .join(verts.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(verts.select(col("id").as("v")), Seq("v"), "left_semi")
        .select("u", "v"))
      .pin() // edges are re-joined every round: pin them once
    val labels = ccCore(sym, maxIter)
    // `labels` holds exactly the edge-touched vertices (the seed groups
    // u∪v), already distinct — reuse it as the touched set instead of
    // re-distinct-ing the edge list (one less shuffle)
    labels
      .unionByName(verts
        .join(labels.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("lbl")))
      .select(col("id"), col("lbl").as("cluster"))
  }

  /** Fixpoint core shared by [[connectedComponents]] and the contracted
    * fold in [[applyEdges]]: min-label propagation with fused seed, star
    * fallback past [[propRounds]]. Input must be SYMMETRIZED and pinned
    * (each undirected edge present in both directions, localCheckpoint'd
    * — it is re-joined every round). Returns (id, lbl) for exactly the
    * edge-touched vertices; callers needing isolated vertices union them
    * on top. Split out so the delta fold's tiny contracted graph skips
    * the vertex-set machinery (touched-distinct + singleton anti-join) —
    * on a delta-bounded graph those were pure fixed job overhead. */
  private def ccCore(sym: DataFrame, maxIter: Int): DataFrame = {
    // Only edge-touched vertices can ever change label; isolated vertices
    // (the overwhelming majority of a near-dup corpus) stay out of the
    // loop entirely and are unioned back as self-labelled singletons.
    // The seed fuses round one: with initial labels = own id, the first
    // round's messages are just the neighbour ids — so start every vertex
    // at min(self, neighbours) with one aggregation over the (symmetric)
    // edge list and no join. Cliques and stars (the shape LSH candidate
    // graphs take) are already converged at the seed; the loop then only
    // runs the fixpoint-verification round.
    var labels = sym.select(col("v").as("id"), col("u").as("lbl"))
      .union(sym.select(col("u").as("id"), col("u").as("lbl")))
      .groupBy("id").agg(min("lbl").as("lbl"))
      .pin()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < propRounds) {
      // carry the previous label through the same aggregation (flag 1) so
      // fixpoint detection needs no second join against the old frame
      val msgs = sym.join(labels, sym("u") === labels("id"))
        .select(col("v").as("id"), col("lbl"), lit(0).as("own"))
      // LAZY pin (r14): the `changed` count below is the round's only
      // same-step consumer and full-scans the frame, so the eager pin
      // job + second scan per round were pure overhead; `next` appears
      // exactly once in the count's plan (no duplicated-subtree risk),
      // and round r+1 reads the blocks the count job cached.
      val next = msgs
        .union(labels.select(col("id"), col("lbl"), lit(1).as("own")))
        .groupBy("id")
        .agg(min("lbl").as("lbl"),
          min(when(col("own") === 1, col("lbl"))).as("prev"))
        .pinLazy()
      changed = next.where(col("lbl") < col("prev")).count()
      labels = next.select("id", "lbl")
      it += 1
    }
    if (changed > 0) {
      // high-diameter remainder: contract through the current labels
      // (vertices sharing a label are proven connected, so the contracted
      // graph preserves components; every ≤propRounds-hop edge is already
      // a self-loop and drops) and finish in O(log n) star rounds. The
      // final label of a contracted root is the min over its member
      // labels' components — composed back with one join.
      val mapped = sym
        .join(labels.select(col("id").as("u"), col("lbl").as("lu")), Seq("u"))
        .join(labels.select(col("id").as("v"), col("lbl").as("lv")), Seq("v"))
        .select(col("lu"), col("lv"))
        .where(col("lu") =!= col("lv"))
      val star = alternatingStar(mapped, "lu", "lv", maxIter)
      labels = labels.as("l")
        .join(star.as("s"), col("l.lbl") === col("s.id"), "left")
        .select(col("l.id").as("id"),
          coalesce(col("s.lbl"), col("l.lbl")).as("lbl"))
        .pin()
    }
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * O(log n)-round path for high-diameter graphs, where per-hop label
    * propagation would need O(diameter) serialized shuffles.
    *
    * Large-star: every node connects its strictly-LARGER neighbours to
    * min(N(u) ∪ {u}) — long chains halve, and the edge set stays acyclic
    * with every edge (hi, lo), hi > lo. Small-star: every node folds its
    * smaller-side neighbours (and itself) onto their minimum. Alternating
    * the two contracts any component to a depth-1 star rooted at its
    * minimum id in O(log n) rounds (the paper's bound; a sorted path —
    * the worst case for propagation — halves every round).
    *
    * Each round is two groupBy shuffles + one join over (long, long)
    * pairs; no vertex payloads, no driver materialization. Convergence is
    * detected from a per-round aggregate signature (count + two bounded
    * hash sums — one action over the frame that seeds the next round),
    * not an edge-set diff, so the fixpoint check adds no extra shuffle.
    *
    * @param edges undirected pairs (self-loops and duplicates tolerated)
    * @return (id, lbl): one row per edge endpoint, lbl = component min */
  private[graft] def alternatingStar(edges: DataFrame, aCol: String,
                                     bCol: String,
                                     maxIter: Int = 25): DataFrame = {
    var e = edges
      .select(greatest(col(aCol), col(bCol)).as("hi"),
        least(col(aCol), col(bCol)).as("lo"))
      .where(col("hi") =!= col("lo"))
      .distinct()
      .pin()
    var prev = (-1L, -1L, -1L)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val sym = e.select(explode(array(
          struct(col("hi").as("u"), col("lo").as("v")),
          struct(col("lo").as("u"), col("hi").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
      // large-star: (v, min(N(u) ∪ {u})) for every neighbour v > u
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(mins, Seq("u")).where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star: every hi-node folds its smaller-side neighbours (and
      // itself) onto their minimum; (hi, lo) stays strictly descending
      val mins2 = ls.groupBy("hi").agg(min("lo").as("m"))
      val ss = ls.join(mins2, Seq("hi"))
        .select(explode(array(
          struct(col("hi").as("x"), col("m").as("y")),
          struct(col("lo").as("x"), col("m").as("y")))).as("p"))
        .select(col("p.x").as("hi"), col("p.y").as("lo"))
        .where(col("hi") =!= col("lo"))
        .distinct()
        .pinLazy() // r14: the signature read below full-scans it — same
                   // lazy-pin rationale as the propagation round
      // signature of the new edge set from the frame that seeds the next
      // round: sum of bounded hashes can't overflow below ~9e9 edges
      val sig = ss.agg(count(lit(1)),
        sum(pmod(xxhash64(col("hi"), col("lo")), lit(1000000007L))),
        sum(pmod(xxhash64(col("lo"), col("hi"), lit(7L)), lit(999999937L))))
        .head()
      val cur = (sig.getLong(0),
        if (sig.isNullAt(1)) 0L else sig.getLong(1),
        if (sig.isNullAt(2)) 0L else sig.getLong(2))
      converged = cur == prev
      prev = cur
      e = ss
      it += 1
    }
    lastStarRounds = it
    require(converged || prev._1 == 0L,
      s"alternatingStar: no fixpoint in $maxIter rounds")
    // The convergence test above is a hash-sum signature — astronomically
    // unlikely to collide, but a collision would silently return non-star
    // edges and therefore wrong labels. Validate the claimed fixpoint
    // STRUCTURALLY: a true fixpoint is a disjoint union of depth-1 stars,
    // i.e. (a) no lo endpoint ever appears as a hi (no chains) and
    // (b) every hi points at exactly one lo (no node in two stars).
    // Both are (provably) preserved by large-star∘small-star only at the
    // fixpoint, so flat ⇔ converged. Two cheap aggregations over the
    // final pinned edge set — loud failure instead of wrong clusters.
    val chained = e.select(col("lo").as("id"))
      .join(e.select(col("hi").as("id")), Seq("id"), "left_semi")
      .limit(1).count()
    val multiRoot = e.groupBy("hi").agg(countDistinct("lo").as("d"))
      .where(col("d") > 1).limit(1).count()
    require(chained == 0L && multiRoot == 0L,
      "alternatingStar: convergence signature collided with a non-star " +
        s"edge set (chained=$chained multiRoot=$multiRoot) — rerun")
    // fixpoint = depth-1 stars: every non-root points at its component
    // min; roots (never on the hi side) label themselves
    val roots = e.select(col("lo").as("id")).distinct()
      .join(e.select(col("hi").as("id")), Seq("id"), "left_anti")
    e.groupBy("hi").agg(min("lo").as("lbl"))
      .select(col("hi").as("id"), col("lbl"))
      .unionByName(roots.select(col("id"), col("id").as("lbl")))
  }

  /** Incremental connected components: fold NEW edges (and vertices) into
    * an existing labeling WITHOUT re-running the fixpoint over the full
    * graph. The existing clusters contract to single nodes (their
    * labels), new edges map through the labeling (intra-cluster edges
    * drop as no-ops), the fixpoint runs on that contracted graph — whose
    * size is bounded by the DELTA, not the corpus — and the result maps
    * back over the base labeling with one join.
    *
    * Correct because a base cluster's label IS its minimum member: the
    * min label over a merged set of clusters equals the global min vertex
    * of the merged component, exactly what the full recompute converges
    * to (spec-pinned identity: `applyEdges(cc(B), dE, dV) = cc(B ∪ dV,
    * E ∪ dE)`).
    *
    * @param baseLabels (id, cluster) from a previous run — must cover
    *                   every base vertex
    * @param newEdges   delta edge list; endpoints may be base ids or new
    * @param newVertices ids arriving with the delta (isolated ones become
    *                   singletons; edge-touched ones may be omitted)
    * @param edgesCovered caller guarantees every delta-edge endpoint is in
    *                   baseLabels ∪ newVertices (true whenever the edges
    *                   were derived FROM those very vertex sets, e.g. an
    *                   incremental LSH join) — skips the defensive fence,
    *                   saving two delta-sized semi-joins. Left false, a
    *                   stray endpoint is fenced out exactly like
    *                   [[connectedComponents]] does: it must not win the
    *                   min-label race and leave a cluster whose canonical
    *                   label has no output row. */
  def applyEdges(baseLabels: DataFrame, newEdges: DataFrame,
                 aCol: String, bCol: String,
                 newVertices: DataFrame, vCol: String,
                 edgesCovered: Boolean = false): DataFrame = {
    val lbl = baseLabels
      .select(col("id").cast("long").as("id"),
        col("cluster").cast("long").as("lbl"))
      .pin() // read three times below; pin once
    val eRaw = newEdges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
    val e = if (edgesCovered) eRaw else {
      // fence against known ids (base ∪ delta); both semi-joins shuffle
      // only the DELTA edge list — the base side contributes ids already
      // pinned in `lbl`
      val known = lbl.select(col("id"))
        .unionByName(newVertices.select(col(vCol).cast("long").as("id")))
        .distinct()
      eRaw
        .join(known.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(known.select(col("id").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
    }
    // endpoints → current cluster labels (unknown ids label themselves)
    val mapped = e
      .join(lbl.select(col("id").as("u"), col("lbl").as("ul")), Seq("u"), "left")
      .join(lbl.select(col("id").as("v"), col("lbl").as("vl")), Seq("v"), "left")
      .select(coalesce(col("ul"), col("u")).as("cu"),
        coalesce(col("vl"), col("v")).as("cv"))
      .where(col("cu") =!= col("cv")) // intra-cluster edges are no-ops
    // contracted fixpoint straight on the core (nodes = touched labels —
    // the untouched corpus never enters the loop). ccCore labels exactly
    // the edge-touched nodes, which is all the remap below needs: labels
    // outside the contracted graph coalesce to themselves. Symmetrize
    // here (the core's input contract) and pin ONCE — the former shape
    // (mapped ckpt + touched distinct + singleton anti-join inside
    // connectedComponents) spent three extra jobs of pure fixed overhead
    // on a graph bounded by the delta, measured 1.14 s → 0.6 s warm at
    // sf0.1 (README "Measured scale probes", inccc).
    val symMapped = mapped
      .select(explode(array(
        struct(col("cu").as("u"), col("cv").as("v")),
        struct(col("cv").as("u"), col("cu").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .pin()
    val contracted = ccCore(symMapped, maxIter = 25)
      .select(col("id").as("old_lbl"), col("lbl").as("new_lbl"))
    // base vertices remap through their label; delta vertices either
    // remap directly (edge-touched) or become singletons
    val base = lbl.join(contracted, lbl("lbl") === contracted("old_lbl"),
        "left")
      .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("cluster"))
    val dv = newVertices.select(col(vCol).cast("long").as("id")).distinct()
      .join(lbl.select("id"), Seq("id"), "left_anti")
    val delta = dv.join(contracted, dv("id") === contracted("old_lbl"), "left")
      .select(dv("id"), coalesce(col("new_lbl"), dv("id")).as("cluster"))
    base.unionByName(delta)
  }
}
