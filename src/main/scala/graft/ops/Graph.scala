package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pin.PinOps

/** Iterative graph analytics over edge-list DataFrames — the Pregel-ish
  * message rounds a link/citation/co-purchase graph needs beyond the
  * connected components in [[Cluster]] (the reference stops at row
  * identity, `/root/reference/src/lib/client.js:1033`; ranking and
  * co-occurrence over the entity graph are the training-data extension:
  * page importance as a quality prior, co-occurrence as the
  * association/recommender signal).
  *
  * Scale design (100 TB): both operators are edge-list algebra — joins
  * and aggregations keyed on vertex ids, no adjacency materialized per
  * vertex, no driver-side graph. One PageRank round = one join (edges ⋈
  * ranks on src) + one groupBy (dst), both shuffling (long, long) pairs;
  * rounds are a FIXED count, so the whole plan is a statically unrolled
  * DAG the optimizer sees end to end. Edges and degrees are pinned with
  * `localCheckpoint` once — they are re-joined every round, and without
  * the pin each round would re-shuffle the raw input.
  */
object Graph {

  /** Fixed-iteration PageRank in scaled integer arithmetic — every rank
    * is a long in units of 1/`scale`, every step is integer division, so
    * the result is bit-reproducible on any engine and ANY partition
    * merge order (integer sums commute; `a div b` is deterministic),
    * unlike float PageRank whose sums reorder per run.
    *
    * r₀(v) = scale;  rₜ₊₁(v) = (15·scale) div 100
    *                           + (85 · Σ_{u→v} (rₜ(u) div deg(u))) div 100
    *
    * Division truncation leaks a few units of mass per vertex per round
    * — bounded by deg(u) per contribution, irrelevant for ranking at
    * scale = 1e12 — in exchange for exactness of the computed values.
    * Dangling vertices (out-degree 0) keep receiving but stop emitting:
    * their inbound mass is dropped rather than redistributed (the common
    * Pregel simplification). Symmetrize the edge list (or pre-trim
    * danglers) when mass conservation matters.
    *
    * Scale: the per-round join keys both sides on `src` — on a real
    * cluster pre-partition `edges` by src once and every round's
    * exchange is rank-side only (node-count rows, not edge-count). The
    * groupBy(dst) partial-aggregates map-side, so the second shuffle
    * carries at most (partitions × distinct dst) rows. Overflow: the
    * per-round message sum aggregates in decimal(38,0) — exact at any
    * in-degree, no silent long wrap — and the single narrowing back to
    * long is FENCED: a receiving vertex whose inbound mass exceeds
    * (Long.MaxValue − scale)·100/85 units (≈ 10⁷ full-mass in-neighbors
    * at the default scale = 1e12) fails the job loudly with the node
    * named. Lower `scale` to raise that ceiling for hub-heavy graphs.
    *
    * @param edges directed edge list; duplicate edges count as parallel
    *              edges (dedup upstream if unwanted)
    * @return (node, pr) for every vertex appearing as src or dst
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int, scale: Long = 1000000000000L): DataFrame =
    prCore(edges, srcCol, dstCol, None, iters, scale)

  /** Personalized PageRank (random walk with restart to a SEED set) in
    * the same scaled-integer arithmetic as [[pageRankInt]] — the
    * similarity-to-a-community measure recommenders and expansion
    * queries use: the teleport mass (15%) returns only to seed
    * vertices, so rank concentrates around the seeds and decays with
    * graph distance. Seeds outside the edge vertex set are ignored;
    * initial mass is `scale` on each seed, 0 elsewhere.
    * Same determinism, dangling, and overflow contracts as
    * [[pageRankInt]]. */
  def personalizedPageRankInt(edges: DataFrame, srcCol: String,
                              dstCol: String, seeds: DataFrame,
                              seedCol: String, iters: Int,
                              scale: Long = 1000000000000L): DataFrame =
    prCore(edges, srcCol, dstCol,
      Some(seeds.select(col(seedCol).cast("long").as("node")).distinct()),
      iters, scale)

  /** Pinned per-run inputs shared by every PageRank round. */
  private case class PrInputs(e: DataFrame, deg: DataFrame,
                              nodes: DataFrame, baseCol: Column,
                              scale: Long)

  private def prInputs(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: Option[DataFrame], scale: Long): PrInputs = {
    require(scale >= 100L, "scale must be >= 100 (base term is scale*15/100)")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .pin() // re-joined every round: pin the shuffle once
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .pin()
    // node set with a pinned seed flag: the teleport term (and the
    // initial mass) restrict to seeds in the personalized form; the
    // uniform form flags every vertex
    val nodesRaw = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val nodes = (seeds match {
      case None => nodesRaw.withColumn("seed", lit(true))
      case Some(sd) => nodesRaw.join(
          sd.select(col("node"), lit(true).as("seed")), Seq("node"), "left")
        .select(col("node"), coalesce(col("seed"), lit(false)).as("seed"))
    }).pin()
    val base = 15L * scale / 100L
    PrInputs(e, deg, nodes,
      when(col("seed"), lit(base)).otherwise(lit(0L)), scale)
  }

  private def prInit(in: PrInputs): DataFrame =
    in.nodes.select(col("node"),
      when(col("seed"), lit(in.scale)).otherwise(lit(0L)).as("pr"))

  private def prCore(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: Option[DataFrame], iters: Int,
                     scale: Long): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val in = prInputs(edges, srcCol, dstCol, seeds, scale)
    var r = prInit(in)
    for (i <- 1 to iters) {
      r = prRound(in, r)
      // a lazy pin every PrPinEvery rounds bounds the plan depth; an
      // unpinned chain of many rounds overflows the stack when a task is
      // serialized. Its consumer is the next round's single scan of `r`.
      if (i % PrPinEvery == 0 && i < iters) r = r.pinLazy()
    }
    r
  }

  /** Rounds of the fixed-iteration PageRank between lineage pins. */
  private val PrPinEvery = 16

  /** One synchronous PageRank round — the SINGLE implementation both the
    * fixed-iteration graded form and the convergence-terminated driver
    * loop execute (the spec pins their equality at the convergence
    * round, so the two forms cannot drift apart). */
  private def prRound(in: PrInputs, r: DataFrame): DataFrame = {
    // contributions: rank/outdeg per out-edge, summed at the receiver.
    // Vertices with in-edges but no contribution this round (all
    // in-neighbors dangling) still get the base term via the left join.
    // (aliases: from round 2 on, r's lineage already contains deg, so
    // unqualified deg("src") would be ambiguous)
    val contrib = r.as("r").join(in.deg.as("dg"),
        col("r.node") === col("dg.src"))
      .select(col("dg.src").as("src"),
        expr("r.pr div dg.deg").as("c"))
    // 85·Σc is the wrap hazard: Σ contributions is bounded only by a
    // hub's whole in-neighborhood mass, and plain long `85 * sum`
    // wraps silently (non-ANSI) past Long.MaxValue/85. Sum exactly in
    // decimal(38,0); fence the one narrowing back to long loudly
    // (the cooccurTopK fail-loudly contract) instead of ranking
    // garbage on a mega-hub.
    // the ceiling itself exceeds Long.MaxValue (≈1.08e19) — compute it
    // in BigInt, not long arithmetic, or the limit literal wraps
    val lim = lit(BigDecimal(
        (BigInt(Long.MaxValue) - BigInt(in.scale)) * 100 / 85))
      .cast("decimal(38,0)")
    val msgs = in.e.join(contrib, "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("c").cast("decimal(38,0)")).as("mraw"))
      .select(col("node"),
        when(col("mraw") <= lim, col("mraw")).otherwise(
          raise_error(concat(
            lit("pageRankInt: inbound mass overflows long at node "),
            col("node").cast("string"),
            lit(s"; lower scale (=${in.scale})"))).cast("decimal(38,0)"))
          .as("m"))
    in.nodes.join(msgs, Seq("node"), "left")
      .select(col("node"),
        (in.baseCol +
          expr("(85 * coalesce(m, CAST(0 AS DECIMAL(38,0)))) div 100"))
          .as("pr"))
  }

  /** Convergence-terminated PageRank: iterate [[prRound]] until the max
    * per-vertex rank change is <= `eps` units (of 1/`scale`), up to
    * `maxIters` rounds — the production form (a fixed count either
    * wastes rounds or stops early; integer arithmetic reaches an exact
    * fixpoint, so eps = 0 is meaningful). Each round is pinned with
    * `localCheckpoint` (the ccStar/hitsInt pattern: the delta check
    * references each round twice, and an unpinned chain would re-run
    * every earlier round exponentially); the per-round delta read is a
    * 1-row aggregate — the driver never holds ranks. FAILS LOUDLY
    * (IllegalStateException, last delta named) if maxIters rounds don't
    * converge, rather than returning silently-unconverged ranks.
    *
    * @return (ranks, roundsRun) — ranks identical to
    *         `pageRankInt(edges, ..., iters = roundsRun)` by
    *         construction (spec-pinned in Round9Spec)
    */
  def pageRankIntConverged(edges: DataFrame, srcCol: String, dstCol: String,
                           eps: Long = 0L, maxIters: Int = 50,
                           scale: Long = 1000000000000L)
  : (DataFrame, Int) = {
    require(eps >= 0L, "eps must be >= 0")
    require(maxIters >= 1, "maxIters must be >= 1")
    val in = prInputs(edges, srcCol, dstCol, None, scale)
    var r = prInit(in).pin()
    var rounds = 0
    var delta = Long.MaxValue
    while (delta > eps && rounds < maxIters) {
      // lazy pin (r14): the delta read below references `next` exactly
      // once and full-scans it — the eager pin job was an extra pass
      val next = prRound(in, r).pinLazy()
      rounds += 1
      delta = next.as("n").join(r.as("p"), col("n.node") === col("p.node"))
        .agg(max(abs(col("n.pr") - col("p.pr"))).as("d"))
        .head().getLong(0)
      r = next
    }
    if (delta > eps) throw new IllegalStateException(
      s"pageRankIntConverged: no convergence after $maxIters rounds " +
        s"(last max delta $delta > eps $eps)")
    (r, rounds)
  }

  /** HITS hubs & authorities (Kleinberg '99) in scaled-integer
    * arithmetic — the mutually-recursive ranking a DIRECTED (often
    * bipartite) graph supports where PageRank flattens it: authorities
    * are scored by the hubs pointing at them, hubs by the authorities
    * they point at. Each half-round is one join + one map-side-partial
    * groupBy over (long, long) pairs, then an integer renormalization
    * against the 1-row global max (broadcast):
    *
    *   score' = s div max(s div scale, 1)
    *
    * — dividing by the max's MULTIPLE of scale instead of multiplying
    * by scale first keeps every intermediate inside a long (Σ score ≤
    * deg·scale; a multiply-first normalization would overflow at ~10⁶
    * in-degree), and integer division is deterministic on any engine
    * and merge order, unlike float HITS whose normalization reorders.
    *
    * @return (node, side, score) — side 'hub' for src-side vertices,
    *         'auth' for dst-side; a vertex on both sides gets two rows
    */
  def hitsInt(edges: DataFrame, srcCol: String, dstCol: String,
              iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(scale >= 100L, "scale must be >= 100")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .pin()
    def normalized(raw0: DataFrame): DataFrame = {
      // pin the half-round before normalizing: `raw` is referenced
      // TWICE (the max aggregate and the output projection), and since
      // each round builds on the previous, leaving it UNPINNED
      // re-evaluates every earlier round 2^(2·iters) times — measured
      // 2× on the graded query at 3 iters, and unbounded growth
      // beyond. The pin is LAZY (r14): the max side rides a broadcast
      // subquery, and broadcast jobs run before their consumer stage,
      // so mx's job materializes+caches raw (one reference there) and
      // the projection reads the cache — one job per half-round
      // instead of two.
      val raw = raw0.pinLazy()
      val mx = raw.agg(max(col("s")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"s div greatest(mx div $scale, 1)").as("score"))
    }
    var h = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(scale).as("score"))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = normalized(
        e.join(h.select(col("node").as("src"), col("score")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum(col("score")).as("s")))
      h = normalized(
        e.join(a.select(col("node").as("dst"), col("score")), Seq("dst"))
          .groupBy(col("src").as("node")).agg(sum(col("score")).as("s")))
    }
    h.select(col("node"), lit("hub").as("side"), col("score"))
      .unionByName(
        a.select(col("node"), lit("auth").as("side"), col("score")))
  }

  /** Convergence-terminated HITS: iterate full (auth, hub) rounds until
    * the max per-vertex HUB score change is <= `eps` (hub stability
    * implies auth stability — each auth half-round is a deterministic
    * function of the hub scores), up to `maxIters`, loud on
    * non-convergence — the [[pageRankIntConverged]] contract applied to
    * the mutually-recursive ranking. The integer renormalization makes
    * an exact fixpoint (eps = 0) meaningful here too. Returns the same
    * (node, side, score) shape as [[hitsInt]] plus the round count;
    * `hitsInt(..., iters = roundsRun)` is identical by construction
    * (spec-pinned). */
  def hitsIntConverged(edges: DataFrame, srcCol: String, dstCol: String,
                       eps: Long = 0L, maxIters: Int = 50,
                       scale: Long = 1000000000000L): (DataFrame, Int) = {
    require(eps >= 0L, "eps must be >= 0")
    require(maxIters >= 1, "maxIters must be >= 1")
    require(scale >= 100L, "scale must be >= 100")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .pin()
    def normalized(raw0: DataFrame): DataFrame = {
      val raw = raw0.pinLazy() // same pin + lazy rationale as hitsInt
      val mx = raw.agg(max(col("s")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"s div greatest(mx div $scale, 1)").as("score"))
    }
    var h = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(scale).as("score"))
      .pin()
    var a: DataFrame = null
    var rounds = 0
    var delta = Long.MaxValue
    while (delta > eps && rounds < maxIters) {
      a = normalized(
        e.join(h.select(col("node").as("src"), col("score")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum(col("score")).as("s")))
      val h2 = normalized(
        e.join(a.select(col("node").as("dst"), col("score")), Seq("dst"))
          .groupBy(col("src").as("node")).agg(sum(col("score")).as("s")))
      rounds += 1
      delta = h2.as("n").join(h.as("p"), col("n.node") === col("p.node"))
        .agg(max(abs(col("n.score") - col("p.score"))).as("d"))
        .head().getLong(0)
      h = h2
    }
    if (delta > eps) throw new IllegalStateException(
      s"hitsIntConverged: no convergence after $maxIters rounds " +
        s"(last max hub delta $delta > eps $eps)")
    (h.select(col("node"), lit("hub").as("side"), col("score"))
      .unionByName(
        a.select(col("node"), lit("auth").as("side"), col("score"))),
      rounds)
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani's hard-label
    * variant): seed vertices carry fixed labels; every round, each
    * non-seed vertex adopts the PLURALITY label among its currently
    * labeled neighbors (ties to the smaller label, so the whole
    * trajectory is deterministic); vertices with no labeled neighbor
    * stay unlabeled. The weak-labeling primitive of a training-data
    * pipeline: a small hand-labeled seed set spreads over the
    * similarity/interaction graph.
    *
    * Synchronous updates, fixed `iters` rounds — labels reach at most
    * `iters` hops from the seeds. One round = one join (edges ⋈ labels
    * on src) + one count groupBy + one per-vertex argmax window, all
    * keyed on vertex ids; counts are integers so the argmax is exact on
    * any engine.
    *
    * @param seeds (nodeCol, labelCol) rows; seeds outside the edge
    *              vertex set are ignored, duplicate seed nodes must
    *              carry one label (enforced: first by smallest label)
    * @return (node, label) for every vertex — label null if unreached
    */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, nodeCol: String, labelCol: String,
                     iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val in = lpInputs(edges, srcCol, dstCol, seeds, nodeCol, labelCol)
    var lab = lpInit(in)
    for (_ <- 1 to iters) lab = lpRound(in, lab)
    lab
  }

  /** Pinned per-run inputs shared by every label-propagation round. */
  private case class LpInputs(e: DataFrame, nodes: DataFrame, sd: DataFrame)

  private def lpInputs(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, nodeCol: String,
                       labelCol: String): LpInputs = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .pin()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .pin()
    val sd = seeds
      .select(col(nodeCol).cast("long").as("node"),
        col(labelCol).cast("long").as("seed_label"))
      .where(col("node").isNotNull && col("seed_label").isNotNull)
      .groupBy("node").agg(min(col("seed_label")).as("seed_label"))
      .join(nodes, Seq("node"), "left_semi")
      .pin()
    LpInputs(e, nodes, sd)
  }

  private def lpInit(in: LpInputs): DataFrame =
    in.nodes.join(in.sd, Seq("node"), "left")
      .select(col("node"), col("seed_label").as("label"))

  /** One synchronous label-propagation round — shared by the
    * fixed-iteration graded form and [[labelPropagateConverged]]. */
  private def lpRound(in: LpInputs, lab: DataFrame): DataFrame = {
    val votes = in.e.join(
        lab.where(col("label").isNotNull)
          .select(col("node").as("src"), col("label")), Seq("src"))
      .groupBy(col("dst").as("node"), col("label"))
      .agg(count(lit(1)).as("c"))
    // plurality argmax as an AGGREGATE, not a sort window: max of
    // (count, -label) struct is lexicographic — highest count, then
    // smallest label — and hash-aggregates with a map-side partial,
    // where row_number() would sort every partition every round
    val winner = votes
      .groupBy("node")
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("node"), (-col("m.nl")).as("win_label"))
    in.nodes.join(in.sd, Seq("node"), "left")
      .join(winner, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("seed_label"), col("win_label")).as("label"))
  }

  /** Convergence-terminated label propagation: iterate [[lpRound]] until
    * NO vertex changes label (the natural fixpoint — synchronous hard
    * label propagation either stabilizes or oscillates), up to
    * `maxIters` rounds, each round pinned with `localCheckpoint` and the
    * per-round change count read as a 1-row aggregate. FAILS LOUDLY if
    * maxIters rounds don't stabilize (the classic bipartite oscillation
    * makes an un-terminated loop spin forever — better a named error
    * than a silent cap).
    *
    * @return (labels, roundsRun) — labels identical to
    *         `labelPropagate(..., iters = roundsRun)` by construction
    *         (spec-pinned in Round9Spec)
    */
  def labelPropagateConverged(edges: DataFrame, srcCol: String,
                              dstCol: String, seeds: DataFrame,
                              nodeCol: String, labelCol: String,
                              maxIters: Int = 50): (DataFrame, Int) = {
    require(maxIters >= 1, "maxIters must be >= 1")
    val in = lpInputs(edges, srcCol, dstCol, seeds, nodeCol, labelCol)
    var lab = lpInit(in).pin()
    var rounds = 0
    var changed = Long.MaxValue
    while (changed > 0L && rounds < maxIters) {
      // lazy pin (r14): the change count below references `next` once
      // and full-scans it — same rationale as pageRankIntConverged
      val next = lpRound(in, lab).pinLazy()
      rounds += 1
      // null-safe change count: unreached (null) vs labeled transitions
      // must count as changes, so compare with <=>
      changed = next.as("n").join(lab.as("p"),
          col("n.node") === col("p.node"))
        .where(!(col("n.label") <=> col("p.label")))
        .count()
      lab = next
    }
    if (changed > 0L) throw new IllegalStateException(
      s"labelPropagateConverged: not stable after $maxIters rounds " +
        s"($changed labels still changing — oscillation or too-low cap)")
    (lab, rounds)
  }

  /** Per-item co-occurrence top-k — "items that appear in the same
    * group": the association / collaborative-filtering primitive (shared
    * baskets, co-cited papers, co-purchased suppliers). For each item,
    * the k strongest co-items by shared-group count, ties broken by
    * co-item id.
    *
    * Scale: the pair space is Σ_g |g|² — bounded by the group-size
    * distribution, NOT the corpus (the same bound every LSH band join in
    * [[DedupText]] lives under). Groups are deduped to (group, item)
    * first so multiplicity inside one group cannot square up; a
    * pathological mega-group (one order containing every item) must be
    * capped or salted UPSTREAM — this operator deliberately does not
    * silently drop data. The pair count partial-aggregates map-side;
    * the top-k is a per-item window over candidate co-items, each item's
    * candidate list already bounded by its co-occurrence breadth.
    *
    * @return (item, co_item, n_co, rnk) with rnk 1..k per item
    */
  def cooccurTopK(rows: DataFrame, groupCol: String, itemCol: String,
                  k: Int, maxBasket: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    // one shuffle does dedup AND basket assembly: collect_set partial-
    // aggregates map-side, so repeated (group, item) rows collapse
    // before the exchange. A self-join formulation would cost two more
    // shuffles (distinct, then re-key both sides on the group).
    val basketsRaw = rows
      .select(col(groupCol).as("g"), col(itemCol).cast("long").as("it"))
      .where(col("g").isNotNull && col("it").isNotNull)
      .groupBy("g").agg(sort_array(collect_set(col("it"))).as("its"))
    // optional LOUD guard on the |g|² pair blow-up: a pathological
    // mega-group (one order containing the whole catalog) fails the job
    // with the offending group named, instead of silently detonating
    // the pair space — the same fail-loudly contract as tokenBudget's
    // histogram cap. No cap by default: silently dropping data would be
    // worse than the cost.
    val baskets = maxBasket match {
      case None => basketsRaw
      case Some(cap) => basketsRaw.withColumn("its",
        when(size(col("its")) <= cap, col("its")).otherwise(
          raise_error(concat(lit(s"cooccurTopK: basket over maxBasket=" +
            s"$cap items for group "), col("g").cast("string")))
            .cast("array<bigint>")))
    }
    // unordered pairs map-side from the sorted basket (ia < ib by
    // construction — the gramInt8 triangle pattern); Σ_g |g|² stays the
    // cost bound, now with zero join
    val n = size(col("its"))
    val tri = flatten(transform(col("its"), (a, i) =>
      transform(slice(col("its"), i + 2, n - i - 1),
        b => struct(a.as("ia"), b.as("ib")))))
    val pairs = baskets.select(explode(tri).as("p"))
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("n_co"))
      .select(explode(array(
        struct(col("ia").as("item"), col("ib").as("co_item"), col("n_co")),
        struct(col("ib").as("item"), col("ia").as("co_item"), col("n_co"))))
        .as("p"))
      .select(col("p.item").as("item"), col("p.co_item").as("co_item"),
        col("p.n_co").as("n_co"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("n_co").desc, col("co_item").asc)
    pairs.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("item"), col("co_item"), col("n_co"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Global wedge and 4-cycle counts — the graphlet census one step
    * past triangles (C4 density separates bipartite-ish community
    * structure from tree-like graphs, which triangle counts cannot
    * see; the triangle+wedge+C4 triple is the standard cheap graphlet
    * feature vector). n_wedges = Σ_v C(deg v, 2). Every simple
    * 4-cycle has exactly two opposite-corner pairs, so
    * 2·C4 = Σ_{a<b} C(w_ab, 2) with w_ab the common-neighbor count —
    * the sum is provably even and the halving exact (a common
    * neighbor is adjacent to both corners, so it can equal neither:
    * every counted quadruple is a genuine simple cycle).
    *
    * Shape: wedge pairs enumerate at the apex (Σ deg² bound — run on
    * degree-bounded inputs, the [[cooccurTopK]] shapes), one keyed
    * aggregate each; nothing is collected.
    *
    * @return one row (n_wedges, n_c4) */
  def graphletCounts(edges: DataFrame, srcCol: String, dstCol: String)
  : DataFrame = {
    val e = canonEdges(edges, srcCol, dstCol).pin()
    val adj = e.select(explode(array(
        struct(col("lo").as("v"), col("hi").as("n")),
        struct(col("hi").as("v"), col("lo").as("n")))).as("x"))
      .select(col("x.v").as("v"), col("x.n").as("n"))
    val deg = adj.groupBy("v").agg(count(lit(1)).as("d"))
    val nw = deg.agg(coalesce(sum(call_function("div",
      col("d") * (col("d") - 1L), lit(2L))), lit(0L)).as("n_wedges"))
    val adjR = adj.select(col("v").as("__v2"), col("n").as("__n2"))
    val wab = adj
      .join(adjR, col("v") === col("__v2") && col("n") < col("__n2"))
      .groupBy(col("n").as("a"), col("__n2").as("b"))
      .agg(count(lit(1)).as("w"))
    val c4 = wab.agg(coalesce(sum(call_function("div",
      col("w") * (col("w") - 1L), lit(2L))), lit(0L)).as("__c4x2"))
    nw.crossJoin(c4)
      .select(col("n_wedges"),
        call_function("div", col("__c4x2"), lit(2L)).as("n_c4"))
  }

  /** Per-vertex triangle counts over an UNDIRECTED simple graph — the
    * clustering-coefficient / community-density primitive (a link graph
    * with many triangles is a community; one with none is a spam farm —
    * the classic quality prior alongside PageRank). Input edges are
    * canonicalized first: direction ignored, self-loops and duplicate
    * edges dropped.
    *
    * Algorithm: degree-ordered orientation (Chiba–Nishizeki / the
    * standard MapReduce triangle count): each undirected edge is
    * oriented from its lower-(degree, id) endpoint to its higher one,
    * wedges are enumerated at the LOWEST-ordERED apex only, and a wedge
    * closes iff its outer pair is an edge. Every triangle is found
    * exactly once, and the wedge space is Σ_v outdeg(v)² with outdeg
    * bounded by O(√E) under this orientation — the reason this scales
    * where the naive Σ deg² wedge count detonates on hubs: a
    * 10⁶-degree hub generates ZERO wedges if all its neighbors out-rank
    * it. All joins are equi-joins on vertex ids (shuffle-partitionable);
    * nothing is ever collected.
    *
    * @return (node, n_tri) for EVERY vertex of the canonical edge set,
    *         zeros included
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    // canonical unordered edge (lo, hi): referenced by the wedge build
    // AND the closure join AND the vertex set — pin it once
    val canon = canonEdges(edges, srcCol, dstCol).pin()
    val deg = canon
      .select(explode(array(col("lo"), col("hi"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orientation u → v iff (deg(u), u) < (deg(v), v): total order, so
    // exactly one direction per edge; carry the order key of the HEAD
    // so the wedge can order its two outer endpoints without re-joining
    // degrees
    val or = canon
      .join(deg.select(col("v").as("lo"), col("deg").as("dlo")), "lo")
      .join(deg.select(col("v").as("hi"), col("deg").as("dhi")), "hi")
      .select(
        when(struct(col("dlo"), col("lo")) < struct(col("dhi"), col("hi")),
          col("lo")).otherwise(col("hi")).as("u"),
        when(struct(col("dlo"), col("lo")) < struct(col("dhi"), col("hi")),
          col("hi")).otherwise(col("lo")).as("v"),
        when(struct(col("dlo"), col("lo")) < struct(col("dhi"), col("hi")),
          struct(col("dhi").as("d"), col("hi").as("n")))
          .otherwise(struct(col("dlo").as("d"), col("lo").as("n")))
          .as("vord"))
      .pin()
    // wedges at the lowest-ordered apex: (u→y, u→z) with y before z in
    // the degree order — each triangle's apex generates its one wedge
    val e1 = or.select(col("u"), col("v").as("y"), col("vord").as("yo"))
    val e2 = or.select(col("u"), col("v").as("z"), col("vord").as("zo"))
    val wedges = e1.join(e2, Seq("u"))
      .where(col("yo") < col("zo"))
      .select(col("u"), col("y"), col("z"))
    // closure: the outer pair {y, z} is an edge (canonical form again)
    val tri = wedges.join(canon,
        least(col("y"), col("z")) === col("lo") &&
          greatest(col("y"), col("z")) === col("hi"),
        "left_semi")
      .pin() // referenced 3× by the per-vertex explode
    val perVertex = tri
      .select(explode(array(col("u"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    canon.select(explode(array(col("lo"), col("hi"))).as("node"))
      .distinct()
      .join(perVertex, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Per-vertex local clustering coefficient, DIVISION-FREE: for each
    * vertex the triangle count, the degree, and the exact rational
    * lcc = lcc_num/lcc_den with lcc_num = 2·n_tri and
    * lcc_den = deg·(deg−1) (Watts–Strogatz; lcc_den = 0 for
    * degree-≤1 vertices, where the coefficient is undefined — emitted
    * rather than divided so the artifact stays integer-exact). The
    * transitivity/community-density audit run on kNN-association
    * graphs next to [[triangleCounts]]'s raw counts.
    *
    * Scale shape is triangleCounts' own (degree-ordered wedges +
    * closure semi-join — never open wedge enumeration on hubs); the
    * degree frame reuses the same pinned canonical edge pass.
    *
    * @return (node, n_tri, deg, lcc_num, lcc_den) — every vertex */
  def localClustering(edges: DataFrame, srcCol: String,
                      dstCol: String): DataFrame = {
    val canon = canonEdges(edges, srcCol, dstCol).pin()
    val tri = triangleCounts(canon, "lo", "hi")
    val deg = canon
      .select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    tri.join(deg, Seq("node"))
      .select(col("node"), col("n_tri"), col("deg"),
        (lit(2L) * col("n_tri")).as("lcc_num"),
        (col("deg") * (col("deg") - lit(1L))).as("lcc_den"))
  }

  /** Incremental per-vertex triangle maintenance: given base edges B
    * and a delta batch D (both canonicalized here; D edges already in B
    * are ignored), returns the per-vertex INCREMENT — every distinct
    * triangle of B∪D touching at least one truly-new edge contributes
    * 1 to each of its three vertices. Composition identity (the inc_*
    * contract): counts(B∪D) ≡ counts(B) + delta, with D-only vertices
    * entering at their delta value.
    *
    * Cost is DELTA-BOUNDED: candidates come from the D side only —
    * each new edge (u, v) probes the B∪D adjacency for u's neighbors
    * and closes against (v, w), so the join space is
    * Σ_{(u,v)∈D} deg(u), never a recount of B's wedges. A triangle
    * reachable through several new edges is found several times and
    * deduplicated by its sorted vertex triple.
    *
    * @return (node, n_tri) — only vertices gaining at least one
    *         triangle appear
    */
  def triangleDelta(base: DataFrame, delta: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val b = canonEdges(base, srcCol, dstCol).pin()
    val d = canonEdges(delta, srcCol, dstCol)
      .join(b, Seq("lo", "hi"), "left_anti")
      .pin()
    val all = b.unionByName(d).pin() // disjoint by the anti-join
    val adj = all.select(col("lo").as("u"), col("hi").as("w"))
      .unionByName(all.select(col("hi").as("u"), col("lo").as("w")))
    val cand = d
      .join(adj.select(col("u").as("lo"), col("w")), "lo")
      .where(col("w") =!= col("hi"))
      .select(col("lo"), col("hi"), col("w"))
    val closed = cand.join(
      adj.select(col("u").as("hi"), col("w")), Seq("hi", "w"),
      "left_semi")
    val tri = closed
      .select(sort_array(array(col("lo"), col("hi"), col("w"))).as("t"))
      .distinct()
    tri.select(explode(col("t")).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Canonical undirected simple edge set (lo < hi, self-loops and
    * duplicates dropped) — shared by [[triangleCounts]] and the k-core
    * peelers. */
  private[graft] def canonEdges(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct()

  /** One peel: drop vertices of degree < k and the edges touching
    * them. Two shuffles (degree groupBy + the two co-keyed semi-joins);
    * the surviving edge set is pinned so the next round never re-derives
    * this one. */
  /** @param lazyPin true ONLY when the caller's next action full-scans
    *        the result exactly once (the converged loop's per-round
    *        count) — the fixed-round form's next consumer is the next
    *        peel, which references the frame three times and would
    *        triple-compute a lazy pin. */
  private def peelRound(e: DataFrame, k: Int,
                        lazyPin: Boolean = false): DataFrame = {
    val keep = e.select(explode(array(col("lo"), col("hi"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .where(col("deg") >= k).select("v")
    val out = e.join(keep.withColumnRenamed("v", "lo"), Seq("lo"), "left_semi")
      .join(keep.withColumnRenamed("v", "hi"), Seq("hi"), "left_semi")
      .select("lo", "hi")
    if (lazyPin) out.pinLazy() else out.pin()
  }

  /** Fixed-round k-core peeling (Seidman's cores / Matula–Beck, the
    * distributed formulation): `rounds` synchronous rounds of "remove
    * every vertex with degree < k", over the canonicalized undirected
    * simple graph. Returns the DEGREE TABLE of the surviving subgraph —
    * (node, deg) for every vertex still carrying an edge. Fixed rounds
    * make the result a statically-unrolled DAG (the pageRankInt
    * contract: the graded object is the iteration, production runs
    * [[kCoreConverged]]). Note the result after finitely many rounds is
    * an UPPER set of the true k-core; at the fixpoint it IS the k-core.
    *
    * Scale: each round is a degree aggregation (partial map-side) plus
    * two semi-joins co-keyed on the edge endpoints — edge-list algebra
    * throughout, nothing driver-side, and the edge set only shrinks. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    var e = canonEdges(edges, srcCol, dstCol).pin()
    var i = 0
    while (i < rounds) {
      e = peelRound(e, k)
      i += 1
    }
    e.select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Convergence-terminated [[kCore]]: peel until an empty round (edge
    * count unchanged — the true k-core, every surviving vertex has
    * degree ≥ k in the survivor subgraph). Fails LOUDLY after
    * `maxRounds` non-converged rounds; a 1-row count read per round is
    * the only driver-side state (the ccStar/pageRankIntConverged
    * contract). */
  def kCoreConverged(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    var e = canonEdges(edges, srcCol, dstCol).pin()
    var n = e.count()
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      e = peelRound(e, k, lazyPin = true) // count below materializes it
      val n2 = e.count() // 1-row read per round
      converged = n2 == n
      n = n2
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCoreConverged: no fixpoint after $maxRounds rounds (k=$k, " +
          s"$n edges remain); raise maxRounds")
    e.select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Multi-source BFS hop distances: for every vertex reachable from
    * `seeds` within `rounds` hops over the DIRECTED edge list, the
    * minimum hop count. The frontier algebra is pure edge-list work —
    * each round is one join (current distances × out-edges) plus one
    * min-aggregate, both keyed on the vertex id; per-round
    * `localCheckpoint` pins the frontier so round r never re-derives
    * rounds 0..r-1 (the prRound double-reference rule). Fixed `rounds`
    * make the result a statically-unrolled DAG — the graded contract —
    * and also a locality HORIZON: at 100 TB you bound the walk, not
    * hope it terminates. Undirected graphs pass a symmetrized edge
    * list (the explode rule, not a self-union).
    *
    * @return (node, dist) for every vertex with dist ≤ rounds
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().pin()
    var dist = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("dist", lit(0L)).pin()
    for (_ <- 0 until rounds) {
      dist = dist
        .unionByName(dist.join(e, col("node") === col("src"))
          .select(col("dst").as("node"), (col("dist") + 1L).as("dist")))
        .groupBy("node").agg(min("dist").as("dist"))
        .pin()
    }
    dist
  }

  /** Partition-quality audit over an UNDIRECTED canonical edge list and
    * a vertex→block assignment: per block, the internal edge count, the
    * cut edge count (one endpoint inside), and the volume (Σ degree of
    * members). Conductance cut/min(vol, 2m−vol) and coverage
    * internal/m derive from these integers division-free downstream —
    * the audit a partitioner (community detection, sharding, tenant
    * fencing) runs before trusting its blocks. Two joins (each endpoint
    * to its block) + one aggregate; blocks frame is vertex-keyed.
    *
    * Vertices missing from `blocks` fail LOUDLY (a silent drop would
    * understate cut edges — the fail-loudly contract).
    *
    * @return (block, n_internal, n_cut, volume)
    */
  def blockConductance(edges: DataFrame, loCol: String, hiCol: String,
                       blocks: DataFrame, nodeCol: String,
                       blockCol: String): DataFrame = {
    val e = canonEdges(edges, loCol, hiCol)
    val b = blocks.select(col(nodeCol).cast("long").as("node"),
      col(blockCol).as("blk")).distinct()
    val lab = e
      .join(b.select(col("node").as("lo"), col("blk").as("bl")),
        Seq("lo"), "left")
      .join(b.select(col("node").as("hi"), col("blk").as("bh")),
        Seq("hi"), "left")
      .select(col("lo"), col("hi"),
        when(col("bl").isNull || col("bh").isNull,
          raise_error(concat(lit("blockConductance: unassigned vertex "
            + "on edge ("), col("lo"), lit(","), col("hi"), lit(")"))))
          .otherwise(col("bl")).as("bl"), col("bh"))
    val perBlock = lab.select(explode(array(
        struct(col("bl").as("blk"), col("bh").as("other")),
        struct(col("bh").as("blk"), col("bl").as("other")))).as("x"))
      .select(col("x.blk").as("blk"), col("x.other").as("other"))
      .groupBy("blk")
      .agg(call_function("div",
          sum(when(col("blk") === col("other"), 1L).otherwise(0L)),
          lit(2L)).as("n_internal"),
        sum(when(col("blk") =!= col("other"), 1L).otherwise(0L))
          .as("n_cut"),
        count(lit(1)).as("volume"))
    perBlock.select(col("blk").as("block"), col("n_internal"),
      col("n_cut"), col("volume"))
  }

  /** Newman modularity per block over an UNDIRECTED canonical edge
    * list and a vertex→block assignment — the score a community layer
    * (label propagation, connected components, sharding) is judged by:
    * Q = Σ_c (e_c/m − (d_c/2m)²). Emitted DIVISION-FREE as the exact
    * integer numerator per block, q_num = 4m·e_c − d_c² (so
    * Q = Σ q_num / 4m², formed downstream — no float ever leaves the
    * engine): (block, n_nodes, e_in, d_sum, q_num).
    *
    * Shape: two endpoint→block joins + one block-keyed aggregate +
    * a broadcast 1-row m — the blockConductance plan with one extra
    * scalar ride-along; nothing scales past the edge scan.
    *
    * Overflow fence (loud, the dsirScores convention): q_num needs
    * 4m·e_c ≤ 4m² < 2⁶³, so m is fenced at 2³⁰ edges; past that,
    * rescale (sample edges or shard communities) before scoring.
    * Vertices missing from `blocks` raise, as in [[blockConductance]]
    * — map unassigned vertices to singleton blocks upstream when that
    * is the intended semantics.
    *
    * @return (block, n_nodes, e_in, d_sum, q_num), one row per block
    *         incident to ≥ 1 edge */
  def modularityByBlock(edges: DataFrame, loCol: String, hiCol: String,
                        blocks: DataFrame, nodeCol: String,
                        blockCol: String): DataFrame = {
    val e = canonEdges(edges, loCol, hiCol)
    val b = blocks.select(col(nodeCol).cast("long").as("node"),
      col(blockCol).as("blk")).distinct()
    val lab = e
      .join(b.select(col("node").as("lo"), col("blk").as("bl")),
        Seq("lo"), "left")
      .join(b.select(col("node").as("hi"), col("blk").as("bh")),
        Seq("hi"), "left")
      .select(col("lo"), col("hi"),
        when(col("bl").isNull || col("bh").isNull,
          raise_error(concat(lit("modularityByBlock: unassigned vertex "
            + "on edge ("), col("lo"), lit(","), col("hi"), lit(")"))))
          .otherwise(col("bl")).as("bl"), col("bh"))
    val m = lab.agg(count(lit(1)).as("__m"))
      .select(when(col("__m") <= (1L << 30), col("__m"))
        .otherwise(raise_error(lit("modularityByBlock: m > 2^30 edges "
          + "overflows the 4m·e_c int64 budget — rescale first")))
        .as("__m"))
    // per-block stats off the endpoint explode (each edge contributes
    // one incidence to each endpoint's block; internal edges double)
    val perBlock = lab.select(explode(array(
        struct(col("bl").as("blk"), col("bh").as("other"),
          col("lo").as("member")),
        struct(col("bh").as("blk"), col("bl").as("other"),
          col("hi").as("member")))).as("x"))
      .select(col("x.blk").as("blk"), col("x.other").as("other"),
        col("x.member").as("member"))
      .groupBy("blk")
      .agg(countDistinct(col("member")).as("n_nodes"),
        call_function("div",
          sum(when(col("blk") === col("other"), 1L).otherwise(0L)),
          lit(2L)).as("e_in"),
        count(lit(1)).as("d_sum"))
    perBlock.crossJoin(broadcast(m))
      .select(col("blk").as("block"), col("n_nodes"), col("e_in"),
        col("d_sum"),
        (lit(4L) * col("__m") * col("e_in") -
          col("d_sum") * col("d_sum")).as("q_num"))
  }

  /** Per-block modularity SUFFICIENT STATISTICS — the mergeable form
    * of [[modularityByBlock]]: (block, int_inc = incidences whose both
    * endpoints share the block = 2·e_in, d_sum = Σ member degrees).
    * Both are per-EDGE sums under a fixed partition, so stats of
    * disjoint edge slices ADD: stats(B ∪ D) = stats(B) ⊎ stats(D) —
    * an arriving edge batch contributes its own counts and the base
    * edges are never re-scanned; m itself derives from the merged
    * frame (m = Σ d_sum / 2). [[modularityFromStats]] forms the score. */
  def modularityEdgeStats(edges: DataFrame, loCol: String, hiCol: String,
                          blocks: DataFrame, nodeCol: String,
                          blockCol: String): DataFrame = {
    val e = canonEdges(edges, loCol, hiCol)
    val b = blocks.select(col(nodeCol).cast("long").as("node"),
      col(blockCol).as("blk")).distinct()
    val lab = e
      .join(b.select(col("node").as("lo"), col("blk").as("bl")),
        Seq("lo"), "left")
      .join(b.select(col("node").as("hi"), col("blk").as("bh")),
        Seq("hi"), "left")
      .select(
        when(col("bl").isNull || col("bh").isNull,
          raise_error(concat(lit("modularityEdgeStats: unassigned "
            + "vertex on edge ("), col("lo"), lit(","), col("hi"),
            lit(")"))))
          .otherwise(col("bl")).as("bl"), col("bh"))
    lab.select(explode(array(
        struct(col("bl").as("blk"), col("bh").as("other")),
        struct(col("bh").as("blk"), col("bl").as("other")))).as("x"))
      .select(col("x.blk").as("blk"), col("x.other").as("other"))
      .groupBy("blk")
      .agg(sum(when(col("blk") === col("other"), 1L).otherwise(0L))
          .as("int_inc"),
        count(lit(1)).as("d_sum"))
  }

  /** Score merged [[modularityEdgeStats]]: m = Σ d_sum / 2 rides a
    * broadcast 1-row frame (fenced at 2³⁰ like [[modularityByBlock]]);
    * q_num = 4m·e_in − d_sum² with e_in = int_inc / 2.
    * @return (block, e_in, d_sum, q_num) */
  def modularityFromStats(stats: DataFrame): DataFrame = {
    val m = stats
      .agg(call_function("div", sum(col("d_sum")), lit(2L)).as("__m"))
      .select(when(col("__m") <= (1L << 30), col("__m"))
        .otherwise(raise_error(lit("modularityFromStats: m > 2^30 "
          + "edges overflows the 4m·e_in int64 budget — rescale first")))
        .as("__m"))
    stats.crossJoin(broadcast(m))
      .select(col("blk").as("block"),
        call_function("div", col("int_inc"), lit(2L)).as("e_in"),
        col("d_sum"),
        (lit(4L) * col("__m") *
          call_function("div", col("int_inc"), lit(2L)) -
          col("d_sum") * col("d_sum")).as("q_num"))
  }

  /** One synchronous Louvain local-move round (Blondel et al. 2008 §2,
    * the move step of phase 1): every vertex evaluates, against the
    * CURRENT partition, the exact modularity gain of moving into each
    * NEIGHBOR community and takes the best strictly-positive one —
    * simultaneously, so the round is a pure function of (graph, old
    * partition) and therefore engine-reproducible (classic Louvain
    * sweeps sequentially, which no two engines replay identically; the
    * synchronous variant is the standard distributed form).
    *
    * Gain, division-free at scale 4m²: moving i from its community a
    * to c changes Q·4m² by
    *   4m·(k_ic − k_ia) − 2·d_i·(d_c − d_a + d_i)
    * with d_* the OLD community degree sums, k_ix = edges from i into
    * x∖{i} — all exact longs (loud fence at m > 2³⁰, as
    * [[modularityByBlock]]). Ties: smallest community id. Vertices
    * with no strictly-positive move keep their community.
    *
    * Shape: one degree aggregate, one community-volume aggregate, the
    * incidence explode (2 rows/edge) grouped to (node, nbr-community)
    * — every stage keyed and partial-aggregated; the only scalar is
    * the broadcast 1-row m.
    *
    * @param assign (nodeCol, commCol) — must cover every edge endpoint
    *               (raise otherwise; map strays to singletons upstream)
    * @return (node, comm) for every assigned vertex — the refined
    *         partition after ONE synchronous move round */
  def louvainMoveRound(edges: DataFrame, loCol: String, hiCol: String,
                       assign: DataFrame, nodeCol: String,
                       commCol: String): DataFrame = {
    val e = canonEdges(edges, loCol, hiCol).pin()
    val b = assign.select(col(nodeCol).cast("long").as("node"),
      col(commCol).cast("long").as("comm")).distinct().pin()
    val lab = e
      .join(b.select(col("node").as("lo"), col("comm").as("cl")),
        Seq("lo"), "left")
      .join(b.select(col("node").as("hi"), col("comm").as("ch")),
        Seq("hi"), "left")
      .select(col("lo"), col("hi"),
        when(col("cl").isNull || col("ch").isNull,
          raise_error(concat(lit("louvainMoveRound: unassigned vertex "
            + "on edge ("), col("lo"), lit(","), col("hi"), lit(")"))))
          .otherwise(col("cl")).as("cl"), col("ch"))
    val m = lab.agg(count(lit(1)).as("__m"))
      .select(when(col("__m") <= (1L << 30), col("__m"))
        .otherwise(raise_error(lit("louvainMoveRound: m > 2^30 edges "
          + "overflows the 4m·k int64 budget — rescale first")))
        .as("__m"))
    // per-endpoint incidences: (node, its comm, the OTHER side's comm)
    val inc = lab.select(explode(array(
        struct(col("lo").as("node"), col("cl").as("own"),
          col("ch").as("nbr")),
        struct(col("hi").as("node"), col("ch").as("own"),
          col("cl").as("nbr")))).as("x"))
      .select(col("x.node").as("node"), col("x.own").as("own"),
        col("x.nbr").as("nbr"))
      .pin() // degrees, volumes, and k_ix all read it
    val deg = inc.groupBy("node").agg(count(lit(1)).as("d_i"))
    val vol = inc.groupBy(col("own").as("c"))
      .agg(count(lit(1)).as("d_c"))
    // k_ix: edge count from node into community x (self excluded by
    // the simple-graph canon)
    val kix = inc.groupBy("node", "nbr").agg(count(lit(1)).as("k"))
      .join(b, Seq("node")) // attach the node's own community
    val own = b.join(kix.where(col("nbr") === col("comm"))
        .select(col("node"), col("k").as("k_ia")), Seq("node"), "left")
      .select(col("node"), col("comm"),
        coalesce(col("k_ia"), lit(0L)).as("k_ia"))
      .join(deg, Seq("node"))
      .join(vol.select(col("c").as("comm"), col("d_c").as("d_a")),
        Seq("comm"))
    val cand = own
      .join(kix.where(col("nbr") =!= col("comm"))
          .select(col("node"), col("nbr").as("c"), col("k").as("k_ic")),
        Seq("node"))
      .join(vol, Seq("c"))
      .crossJoin(broadcast(m))
      .select(col("node"), col("comm"), col("c"),
        (lit(4L) * col("__m") * (col("k_ic") - col("k_ia")) -
          lit(2L) * col("d_i") *
            (col("d_c") - col("d_a") + col("d_i"))).as("gain"))
    val best = cand.where(col("gain") > 0)
      .groupBy("node")
      .agg(min(struct((-col("gain")).as("ng"), col("c"))).as("__b"))
      .select(col("node"), col("__b.c").as("moved"))
    b.join(best, Seq("node"), "left")
      .select(col("node"), coalesce(col("moved"), col("comm")).as("comm"))
  }

  /** WEIGHTED synchronous Louvain move round — [[louvainMoveRound]]
    * generalized to the coarsened graphs Louvain phase 2 produces:
    * edges are (lo, hi, w) with lo ≤ hi, integer w ≥ 1, and SELF-LOOPS
    * (lo = hi) carrying a supernode's internal mass. Self-loops move
    * with their node, so they contribute 2w to its degree (and through
    * it to every volume term) but never to any k_ix — exactly the
    * Blondel et al. phase-2 bookkeeping.
    *
    * Gain at scale 4W² (W = total edge weight, self-loops once):
    *   4W·(k_ic − k_ia) − 2·d_i·(vol_c − vol_a + d_i)
    * with d_i = Σ_{j≠i} w_ij + 2·w_ii, vol_* OLD community degree
    * sums. Exact longs, loud fence at W > 2³⁰ (the
    * [[modularityByBlock]] budget). Ties: smallest community id.
    *
    * SWAP GUARD (Lu & Halappanavar's minimum-labeling rule): a
    * singleton may not move into another SINGLETON community with a
    * larger id. Without it, two adjacent singletons move into each
    * other's community in the same synchronous round — a swap, not a
    * merge — and the objective gate in [[louvain]] then freezes phase 1
    * at a barely-refined partition; with it, the pair merges under the
    * smaller id and the ascent proceeds as a sequential sweep would.
    *
    * GROWTH CAP (`capInMigration`): a community accepts at most n_c
    * in-migrants per round, ranked by (gain desc, node asc). Without
    * it, a synchronous round on a hub-shaped graph piles EVERY
    * neighbor into the same small community at once — each gain was
    * computed against the old volume, the joint volume explodes
    * quadratically, and the [[louvain]] gate rejects the round,
    * stalling the ascent at singletons. With it growth is at most a
    * doubling per round (log-round convergence) and the per-mover gain
    * estimates stay honest. The in-migrant rank is a TWO-PHASE
    * top-n_c (salted local rank, then a final rank over the ≤
    * n_c·salts survivors) so a hub community drawing O(V) proposals
    * never sorts them in one task — see the cap block below for the
    * exactness argument.
    *
    * @param edges (lo, hi, w) — canonical, self-loops allowed
    * @param assign (node, comm) covering every endpoint (raises else)
    * @param capInMigration rank-cap in-migration at n_c (the
    *        [[louvain]] setting); false = the raw synchronous round
    * @return (node, comm) after ONE synchronous weighted move round */
  def louvainMoveRoundWeighted(edges: DataFrame, assign: DataFrame,
                               capInMigration: Boolean = false)
  : DataFrame = {
    // no pins here: [[louvain]] calls the core once per attempted round
    // on ALREADY-pinned inputs, and a redundant localCheckpoint job per
    // round was a third of the graded query's wall time; the multiply-
    // referenced frames below are narrow maps/joins of those leaves
    val b = assign.select(col("node").cast("long").as("node"),
      col("comm").cast("long").as("comm")).distinct()
    val e = edges.select(col("lo").cast("long").as("lo"),
      col("hi").cast("long").as("hi"), col("w").cast("long").as("w"))
    val x = e.where(col("lo") =!= col("hi"))
    val lab = x
      .join(b.select(col("node").as("lo"), col("comm").as("cl")),
        Seq("lo"), "left")
      .join(b.select(col("node").as("hi"), col("comm").as("ch")),
        Seq("hi"), "left")
      .select(col("lo"), col("hi"), col("w"),
        when(col("cl").isNull || col("ch").isNull,
          raise_error(concat(lit("louvainMoveRoundWeighted: unassigned "
            + "vertex on edge ("), col("lo"), lit(","), col("hi"),
            lit(")"))))
          .otherwise(col("cl")).as("cl"), col("ch"))
    val wTot = e.agg(sum(col("w")).as("__w"))
      .select(when(col("__w") <= (1L << 30), col("__w"))
        .otherwise(raise_error(lit("louvainMoveRoundWeighted: W > 2^30 "
          + "overflows the 4W·k int64 budget — rescale first")))
        .as("__w"))
    moveFromLabeled(lab, b, degreesWeighted(e), wTot, capInMigration)
  }

  /** Per-node weighted degree d_i = Σ_{j≠i} w_ij + 2·w_ii over a
    * canonical (lo, hi, w) edge list — the degree convention every
    * Louvain term uses. Assignment-INVARIANT: [[louvain]] computes it
    * ONCE per level and shares the pinned frame across every move and
    * score pass instead of re-deriving it from the edges each round. */
  private[graft] def degreesWeighted(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("lo").as("node"),
          when(col("lo") === col("hi"), lit(2L) * col("w"))
            .otherwise(col("w")).as("dw")),
        struct(col("hi").as("node"),
          when(col("lo") === col("hi"), lit(0L))
            .otherwise(col("w")).as("dw")))).as("x"))
      .select(col("x.node").as("node"), col("x.dw").as("dw"))
      .groupBy("node").agg(sum(col("dw")).as("d_i"))

  /** One synchronous weighted move round over a PRE-LABELED cross-edge
    * frame — the fusion seam of [[louvain]]. `lab` is (lo, hi, w, cl,
    * ch): cross edges only (self-loops move with their node and enter
    * only through `deg`), labels under `b`; `deg` is
    * [[degreesWeighted]] of the full edge list; `wTot` a 1-row `__w`
    * already fenced at 2³⁰. Identical integer gains, swap guard, and
    * two-phase growth cap as [[louvainMoveRoundWeighted]], which
    * delegates here. */
  private[graft] def moveFromLabeled(lab: DataFrame, b: DataFrame,
      deg: DataFrame, wTot: DataFrame, capInMigration: Boolean)
  : DataFrame =
    moveFromLabeledW(lab, b, deg, Left(wTot), capInMigration)

  /** [[moveFromLabeled]] with the total weight as EITHER the 1-row
    * fenced frame (Left — the standalone graph_louvain_move path,
    * where the W ≤ 2³⁰ fence must live in-plan) or a driver literal
    * (Right — the [[louvain]] ascent, which already holds W as a
    * checked Long: shipping it as a literal removes one
    * BroadcastExchange + crossJoin from EVERY attempted round's plan,
    * guide §2.4 "remove shuffles outright"; a broadcast of a 1-row
    * local relation is cheap but not free — it is a per-round job). */
  private[graft] def moveFromLabeledW(lab: DataFrame, b: DataFrame,
      deg: DataFrame, wTot: Either[DataFrame, Long],
      capInMigration: Boolean)
  : DataFrame = {
    val inc = lab.select(explode(array(
        struct(col("lo").as("node"), col("cl").as("own"),
          col("ch").as("nbr"), col("w")),
        struct(col("hi").as("node"), col("ch").as("own"),
          col("cl").as("nbr"), col("w")))).as("x"))
      .select(col("x.node").as("node"), col("x.own").as("own"),
        col("x.nbr").as("nbr"), col("x.w").as("w"))
    // node-degree frame, shared by the volume aggregate and the
    // per-node score chain (left join keeps edge-less members
    // countable; their 0 contribution matches the old inner-join vol)
    val nf = b.join(deg, Seq("node"), "left")
    // volume and size ALWAYS join together downstream — one grouped
    // pass builds both
    val cs = nf.groupBy(col("comm").as("c"))
      .agg(sum(coalesce(col("d_i"), lit(0L))).as("d_c"),
        count(lit(1)).as("n_c"))
    // own-community label rides THROUGH the grouping (functionally
    // dependent on node) — no join back to the assignment frame.
    // ONE node-keyed exchange for the whole kix→kflat chain (r15,
    // guide §2.4): hash(node) clusters every (node, own, nbr) group
    // AND the window's node partitions, so the grouped cut and the
    // window both ride this exchange; the old shape exchanged twice
    // (groupBy on the triple, then the window's re-exchange on node).
    val kix = inc.repartition(col("node"))
      .groupBy("node", "own", "nbr")
      .agg(sum(col("w")).as("k"))
    // fold the two kix readings (own-community mass k_ia; the
    // per-candidate k_ic rows) into ONE node-partitioned pass: the old
    // shape re-exchanged kix twice (its (node,own,nbr) partitioning
    // serves neither node-keyed join) and joined nf twice. k_ia now
    // rides a node-partitioned window over the SAME exchange the join
    // needs — one exchange and one join fewer per round (r14, guide
    // §2.4). There is at most one nbr==own row per node (own is
    // functionally dependent on node), so the window sum IS the old
    // left-joined k_ia; rows stay FLAT (a hub's candidates never
    // buffer into one per-key aggregate state — WindowExec groups
    // spill, aggregation list buffers do not), and nodes whose
    // neighbors are all in-community drop at the filter exactly like
    // the old inner join.
    val wNode = org.apache.spark.sql.expressions.Window.partitionBy("node")
    val kflat = kix
      .withColumn("k_ia", coalesce(
        sum(when(col("nbr") === col("own"), col("k"))).over(wNode),
        lit(0L)))
      .where(col("nbr") =!= col("own"))
      .select(col("node"), col("nbr").as("c"), col("k").as("k_ic"),
        col("k_ia"))
    // node-keyed join first (kflat's window partitioning reused), the
    // two community-keyed lookups last
    val cand0 = nf.where(col("d_i").isNotNull)
      .join(kflat, Seq("node"))
      .join(cs.select(col("c").as("comm"), col("d_c").as("d_a"),
        col("n_c").as("n_a")), Seq("comm"))
      .join(cs, Seq("c"))
      // the swap guard: singleton → larger-id singleton is forbidden
      .where(!(col("n_a") === 1L && col("n_c") === 1L &&
        col("c") > col("comm")))
    val withW = wTot match {
      case Left(frame) => cand0.crossJoin(broadcast(frame))
        .withColumn("__w4", lit(4L) * col("__w"))
      case Right(w) => cand0.withColumn("__w4", lit(4L * w))
    }
    val cand = withW
      .select(col("node"), col("comm"), col("c"),
        (col("__w4") * (col("k_ic") - col("k_ia")) -
          lit(2L) * col("d_i") *
            (col("d_c") - col("d_a") + col("d_i"))).as("gain"))
    val prop = cand.where(col("gain") > 0)
      .groupBy("node")
      .agg(min(struct((-col("gain")).as("ng"), col("c"))).as("__b"))
      .select(col("node"), col("__b.c").as("c"),
        (-col("__b.ng")).as("gain"))
    val best =
      if (!capInMigration) prop.select(col("node"), col("c").as("moved"))
      else {
        import org.apache.spark.sql.expressions.Window
        // TWO-PHASE top-n_c per target community. A single
        // `row_number over partitionBy(c)` sorts every proposal into
        // community c in ONE task — and a hub-attractor community
        // (exactly the case the cap exists for) draws O(V) proposals
        // in round 1, a single-task sort that dies at 100× scale. The
        // classic fix: phase 1 ranks within (salt, c) — each group
        // bounded by that salt's share — and keeps local rank ≤ n_c
        // (any global top-n_c row has local rank ≤ its global rank, so
        // phase 1 never drops a winner); phase 2 re-ranks the ≤
        // n_c·SALTS survivors per community. For every surviving row
        // all globally-better rows also survive phase 1, so the
        // survivor rank EQUALS the global rank on the kept range —
        // bit-identical output to the single-window form, which is
        // what the unchanged DuckDB oracle replays. The salt is a hash
        // of the node (deterministic, no RNG in the graded plan).
        // Phase 2's per-community task is bounded by n_c·SALTS — and
        // the cap's OUTPUT for that community is itself n_c rows, so
        // the residual single-task work is within a constant factor of
        // the result size, not the proposal count (the hub case goes
        // O(V) → ≤ SALTS rows; README "Measured scale probes", hubcap,
        // has the 2M→8M-spoke decade point).
        val nSalts = 64
        val ordGain = Seq(col("gain").desc, col("node").asc)
        prop.join(cs.select(col("c"), col("n_c")), Seq("c"))
          .withColumn("__salt", pmod(hash(col("node")), lit(nSalts)))
          .withColumn("__rk1", row_number().over(
            Window.partitionBy(col("__salt"), col("c"))
              .orderBy(ordGain: _*)))
          .where(col("__rk1") <= col("n_c"))
          .withColumn("__rk", row_number().over(
            Window.partitionBy("c").orderBy(ordGain: _*)))
          .where(col("__rk") <= col("n_c"))
          .select(col("node"), col("c").as("moved"))
      }
    b.join(best, Seq("node"), "left")
      .select(col("node"), coalesce(col("moved"), col("comm")).as("comm"))
  }

  /** Exact weighted modularity NUMERATOR of an assignment over a
    * (lo, hi, w) edge list with self-loops: q_num = Σ_c (4W·e_c −
    * vol_c²) so Q = q_num / 4W², with e_c = intra-community edge
    * weight (self-loops once) and vol_c = Σ member degrees (d_i as
    * [[louvainMoveRoundWeighted]]). ONE long row — the acceptance test
    * of the [[louvain]] loop reads it like a watermark scalar. */
  def modularityNumWeighted(edges: DataFrame,
                            assign: DataFrame): DataFrame = {
    val b = assign.select(col("node").cast("long").as("node"),
      col("comm").cast("long").as("comm")).distinct()
    val e = edges.select(col("lo").cast("long").as("lo"),
      col("hi").cast("long").as("hi"), col("w").cast("long").as("w"))
    val lab = e
      .join(b.select(col("node").as("lo"), col("comm").as("cl")),
        Seq("lo"))
      .join(b.select(col("node").as("hi"), col("comm").as("ch")),
        Seq("hi"))
      .pin() // W, e_c, and degrees all read it
    val wTot = lab.agg(sum(col("w")).as("__w"))
      .select(when(col("__w") <= (1L << 30), col("__w"))
        .otherwise(raise_error(lit("modularityNumWeighted: W > 2^30 "
          + "overflows the 4W·e_c int64 budget — rescale first")))
        .as("__w"))
    val ec = lab.where(col("cl") === col("ch"))
      .groupBy(col("cl").as("c")).agg(sum(col("w")).as("e_c"))
    val deg = lab.select(explode(array(
        struct(col("lo").as("node"),
          when(col("lo") === col("hi"), lit(2L) * col("w"))
            .otherwise(col("w")).as("dw")),
        struct(col("hi").as("node"),
          when(col("lo") === col("hi"), lit(0L))
            .otherwise(col("w")).as("dw")))).as("x"))
      .select(col("x.node").as("node"), col("x.dw").as("dw"))
      .groupBy("node").agg(sum(col("dw")).as("d_i"))
    val vol = deg.join(b, Seq("node"))
      .groupBy(col("comm").as("c")).agg(sum(col("d_i")).as("d_c"))
    vol.join(ec, Seq("c"), "left")
      .select(col("c"), coalesce(col("e_c"), lit(0L)).as("e_c"),
        col("d_c"))
      .crossJoin(broadcast(wTot))
      .agg(sum(lit(4L) * col("__w") * col("e_c") -
        col("d_c") * col("d_c")).as("q_num"))
  }

  /** FULL distributed Louvain (Blondel et al. 2008), two levels:
    * phase 1 iterates ACCEPTED growth-capped synchronous move rounds
    * from singleton seeds — a candidate round is kept only if the
    * exact integer modularity numerator strictly increases, and the
    * first rejection ends the level (the round rule is a pure function
    * of the assignment, so a rejected candidate would recur forever).
    * The swap guard + in-migration cap make each round behave like a
    * batched sequential sweep (no singleton swaps, no hub pile-ups),
    * and the objective gate makes the loop a deterministic monotone
    * ascent — then ONE coarsening
    * (community supergraph: inter-community weights summed, intra mass
    * as self-loops) and a second accepted-move pass on the supergraph,
    * composing back to original vertices. Every attempted round costs
    * one candidate materialization + one 1-row q_num read (the
    * [[pageRankIntConverged]] cadence).
    *
    * Round budgets are FIXED per level (`rounds1`, `rounds2`) with
    * early exit on the first rejection — the distributed sweep-budget
    * convention (cf. the fixed-round k-core peel): the cost is bounded
    * by configuration, not data, and a fixed-depth SQL oracle replays
    * the process exactly whether a level converged early (rounds past
    * the rejection are idempotent) or spent its whole budget.
    *
    * The phase-2 invariant the spec pins: coarse-graph modularity of
    * the level-2 assignment equals original-graph modularity of the
    * composed assignment — coarsening is exact, not an approximation.
    *
    * @return (node, comm) — comm ids are level-1 community ids
    *         surviving level 2 (a deterministic integer process the
    *         SQL oracle replays exactly) */
  def louvain(edges: DataFrame, loCol: String, hiCol: String,
              rounds1: Int = 6, rounds2: Int = 4): DataFrame = {
    require(rounds1 >= 1 && rounds2 >= 1, "round budgets must be >= 1")
    val e1 = canonEdges(edges, loCol, hiCol)
      .select(col("lo"), col("hi"), lit(1L).as("w")).pin()
    val nodes = e1.select(explode(array(col("lo"), col("hi"))).as("node"))
      .distinct()
    // FUSED ascent: the naive loop re-derived per-node degrees, total
    // weight, and a fresh labeled-edge frame from `e` in BOTH the move
    // round and the candidate's modularity pass, every attempted round.
    // All three factor: degrees and W are assignment-INVARIANT (once
    // per level), and q_num needs only the candidate's labeled frame —
    // self-loops are intra under EVERY assignment, so their e_c mass is
    // the constant S and q_num = 4W·(intra_cross + S) − Σ_c vol_c²
    // (same integer value as [[modularityNumWeighted]], which keeps the
    // standalone derivation). Per attempted round this leaves exactly
    // two actions: the candidate pin and the 1-row q read.
    def ascend(e: DataFrame, init: DataFrame, budget: Int): DataFrame = {
      import graft.ops.Pin.PinIterOps
      val parts = e.agg(sum(col("w")).as("__w"),
        sum(when(col("lo") === col("hi"), col("w")).otherwise(lit(0L)))
          .as("__s")).head()
      if (parts.isNullAt(0)) return init.pinIter() // edgeless level
      val wL = parts.getLong(0)
      require(wL <= (1L << 30),
        "louvain: W > 2^30 overflows the 4W·k int64 budget — rescale first")
      val sL = parts.getLong(1)
      val x = e.where(col("lo") =!= col("hi"))
      val deg = degreesWeighted(e).pin() // invariant: every round reads it
      def label(b: DataFrame): DataFrame = x
        .join(b.select(col("node").as("lo"), col("comm").as("cl")),
          Seq("lo"))
        .join(b.select(col("node").as("hi"), col("comm").as("ch")),
          Seq("hi"))
      // q_num from a labeled frame + the level invariants: ONE action,
      // two scalar aggregates (intra cross-mass; Σ vol²) carried as a
      // tagged union into a single final aggregate — no 1×1
      // BroadcastExchange join per round (r14; the assembled q_num is
      // two driver multiplications over exact longs, same integers)
      def qNum(lab: DataFrame, b: DataFrame): Long = {
        val intra = lab.where(col("cl") === col("ch"))
          .select(col("w").as("x"), lit(0).as("t"))
        val volsq = deg.join(b, Seq("node"))
          .groupBy(col("comm")).agg(sum(col("d_i")).as("d_c"))
          .select((col("d_c") * col("d_c")).as("x"), lit(1).as("t"))
        val r = intra.unionByName(volsq)
          .agg(coalesce(sum(when(col("t") === 0, col("x"))), lit(0L)),
            coalesce(sum(when(col("t") === 1, col("x"))), lit(0L)))
          .head()
        4L * wL * (r.getLong(0) + sL) - r.getLong(1)
      }
      // init is ALWAYS the identity (singleton) assignment here, so
      // q0 has a closed form: intra cross-mass is 0 and vol_i = d_i,
      // hence q0 = 4W·S − Σ d_i² — one aggregate over the invariant
      // degree frame, no labeling pass. And the identity frame itself
      // stays UNPINNED for round 1: it derives from the pinned edge
      // leaf, so real size statistics flow into the round-1 joins and
      // Catalyst broadcasts the tiny frames at test scale while
      // correctly falling back to shuffle joins when the estimate is
      // large — the per-round pinIter only starts once candidates
      // (whose lineage would otherwise deepen each round) take over.
      var assign = init
      var q = deg
        .agg((lit(4L * wL * sL) -
          coalesce(sum(col("d_i") * col("d_i")), lit(0L))).as("q_num"))
        .head().getLong(0)
      // the round rule is a pure function of the assignment, so the
      // FIRST rejected candidate would recur forever — one rejection
      // IS the fixpoint; otherwise stop at the configured budget
      var done = false
      var attempts = 0
      var isIdentity = true // labels of the identity assignment are the
                            // endpoints themselves — round 1 skips both
                            // labeling joins outright
      // the labeled frame of the CURRENT assignment, pinned: qNum
      // scores label(cand) and — when the candidate is accepted — the
      // next round's move needs label(assign) = label(cand) again.
      // Deriving it once per round and pinning (r14) removes one full
      // 2-join labeling pass over the edge frame per accepted round;
      // at 100 TB that frame is data-sized, so this halves the
      // labeling shuffles of the whole ascent.
      var labCur: DataFrame = null
      // (Speculative next-round pinning — materializing cand_{r+1} on a
      // second thread while this one reads cand_r's score — was tried
      // and MEASURED SLOWER at local[32]: the concurrent jobs contend
      // for the same scheduler and the two label(cand) subtrees don't
      // share exchanges across jobs, so graph_louvain went 10.8 →
      // 13.5 s. Sequential is the right shape here.)
      while (!done && attempts < budget) {
        val labA =
          if (isIdentity) x.select(col("lo"), col("hi"), col("w"),
            col("lo").as("cl"), col("hi").as("ch"))
          else labCur
        // pinIter, not pin: the move round references the assignment
        // ~7 times, so propagated size stats would grow 7^rounds digits
        // and stall the PLANNER (see Pin.resetStats). cand stays EAGER
        // — it is referenced three times downstream (twice in label,
        // once in the vol aggregate), and a lazy pin would recompute
        // the whole move subtree per branch inside the consuming job
        // (measured: 13.0 → 18-20 s warm). labC is LAZY: its only
        // same-step consumer (qNum's intra term) full-scans it, so the
        // eager pin job + extra scan per round were pure overhead.
        // W rides as a literal (already driver-checked ≤ 2³⁰), not a
        // broadcast 1-row frame — one less BroadcastExchange per round.
        val cand = moveFromLabeledW(labA, assign, deg, Right(wL),
          capInMigration = true).pinIter()
        val labC = label(cand).pinIterLazy()
        val qc = qNum(labC, cand)
        attempts += 1
        if (qc > q) { assign = cand; q = qc; isIdentity = false
          labCur = labC }
        else done = true
      }
      assign
    }
    val l1 = ascend(e1, nodes.select(col("node"), col("node").as("comm")),
        rounds1)
      .pin() // coarsening + composition both read it
    // coarsen: communities become supernodes; intra mass → self-loops
    val ce = e1
      .join(l1.select(col("node").as("lo"), col("comm").as("ca")),
        Seq("lo"))
      .join(l1.select(col("node").as("hi"), col("comm").as("cb")),
        Seq("hi"))
      .groupBy(least(col("ca"), col("cb")).as("lo"),
        greatest(col("ca"), col("cb")).as("hi"))
      .agg(sum(col("w")).as("w"))
      .pin()
    val supernodes = l1.select(col("comm").as("node")).distinct()
    val l2 = ascend(ce, supernodes.select(col("node"),
      col("node").as("comm")), rounds2)
    l1.select(col("node"), col("comm").as("c1"))
      .join(l2.select(col("node").as("c1"), col("comm")), Seq("c1"))
      .select(col("node"), col("comm"))
  }

  /** Jaccard link prediction over a bipartite group–item incidence
    * (Liben-Nowell & Kleinberg's common-neighbor family): for each
    * item, the k most similar co-items by Jaccard over their GROUP
    * sets — J(a,b) = |G_a ∩ G_b| / |G_a ∪ G_b| — the normalized form
    * of [[coOccurrenceTopK]]'s raw counts (raw counts rank hubs first;
    * Jaccard ranks genuine affinity). Ranking is DIVISION-SAFE: the
    * score rides as j_scaled = (common·scale) div union — integer
    * division, deterministic on any engine — with (j_scaled desc,
    * co-item asc) ties.
    *
    * Scale: the pair space is Σ_g |g|² — bounded by the GROUP size
    * (baskets, sessions, orders), never by item degree; the per-item
    * top-k window is keyed on the item. No hub blowup because groups,
    * not item neighborhoods, generate the wedges.
    *
    * @return (item, rnk, co_item, common, uni, j_scaled), rnk ≤ k */
  def jaccardLinks(df: DataFrame, groupCol: String, itemCol: String,
                   k: Int, scale: Long = 1000000L): DataFrame = {
    val gi = df.select(col(groupCol).cast("long").as("g"),
      col(itemCol).cast("long").as("i"))
      .where(col("g").isNotNull && col("i").isNotNull)
      .distinct().pin() // degree pass + both wedge sides read it
    jaccardTopKFromStats(jaccardPairCounts(gi), jaccardDegrees(gi),
      k, scale)
  }

  /** The pair-count SUFFICIENT STATISTICS of [[jaccardLinks]]:
    * (ia, ib, common) over canonical pairs ia < ib. ADDITIVE over
    * DISJOINT GROUP SLICES — a wedge lives entirely inside its group,
    * so pair counts of a base and a delta batch of NEW groups sum:
    * counts(B ∪ D) = counts(B) ⊎ counts(D), the inc_* contract (split
    * by group key, never by row). Expects the deduped (g, i) incidence. */
  def jaccardPairCounts(gi: DataFrame): DataFrame =
    gi.as("a")
      .join(gi.as("b"),
        col("a.g") === col("b.g") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("ia"), col("b.i").as("ib"))
      .agg(count(lit(1)).as("common"))

  /** Per-item degree statistics (i, d) — additive over disjoint group
    * slices like [[jaccardPairCounts]]. */
  def jaccardDegrees(gi: DataFrame): DataFrame =
    gi.groupBy(col("i")).agg(count(lit(1)).as("d"))

  /** Merge pair-count / degree stats from disjoint group slices (the ⊎
    * of the additivity contract): keyed sums. */
  def jaccardMergeStats(x: DataFrame, y: DataFrame,
                        keys: Seq[String], cnt: String): DataFrame =
    x.unionByName(y).groupBy(keys.map(col): _*)
      .agg(sum(col(cnt)).as(cnt))

  /** The rank stage of [[jaccardLinks]] over (possibly merged) stats —
    * the maintenance read path: feed it base⊎delta counts and the
    * top-k equals the full rebuild. */
  def jaccardTopKFromStats(pairs: DataFrame, deg: DataFrame, k: Int,
                           scale: Long = 1000000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(scale >= 1L, "scale must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val sym = pairs.select(col("ia"), col("ib"), col("common"))
      .unionByName(pairs.select(col("ib").as("ia"), col("ia").as("ib"),
        col("common")))
    val scored = sym
      .join(deg.select(col("i").as("ia"), col("d").as("da")), Seq("ia"))
      .join(deg.select(col("i").as("ib"), col("d").as("db")), Seq("ib"))
      .withColumn("uni", col("da") + col("db") - col("common"))
      .withColumn("j_scaled",
        call_function("div", col("common") * lit(scale), col("uni")))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("ia"))
        .orderBy(col("j_scaled").desc, col("ib").asc)).cast("long"))
      .where(col("rnk") <= k)
      .select(col("ia").as("item"), col("rnk"), col("ib").as("co_item"),
        col("common"), col("uni"), col("j_scaled"))
  }

  /** Degree-assortativity sufficient statistics of an undirected
    * canonical edge list (Newman 2002), as ONE row of exact integers:
    * m (edges), s1 = Σ_e d_u·d_v, s2 = Σ_e (d_u + d_v),
    * s3 = Σ_e (d_u² + d_v²). The Pearson coefficient is
    * (4m·s1 − s2²) / (2m·s3 − s2²) — a pure function of these longs,
    * formed downstream so no float ever leaves the engine. One degree
    * aggregate + two endpoint joins + one global aggregate.
    */
  def assortativityStats(edges: DataFrame, loCol: String,
                         hiCol: String): DataFrame = {
    val e = canonEdges(edges, loCol, hiCol).pin()
    val deg = e.select(explode(array(col("lo"), col("hi"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    e.join(deg.select(col("v").as("lo"), col("d").as("dl")), "lo")
      .join(deg.select(col("v").as("hi"), col("d").as("dh")), "hi")
      .agg(count(lit(1)).as("m"),
        sum(col("dl") * col("dh")).as("s1"),
        sum(col("dl") + col("dh")).as("s2"),
        sum(col("dl") * col("dl") + col("dh") * col("dh")).as("s3"))
  }

  /** Per-source BFS hop distances: [[bfsDistances]] with the source
    * identity CARRIED — the frontier key is (src, node), so k sources
    * expand independently in the same fixed-round job (state k×
    * reachable, never re-running the graph scan per source). This is
    * the substrate for seed-set centralities: harmonic closeness of a
    * source is Σ_v ⌊scale/d(s,v)⌋ over reached v ≠ s — a floored
    * integer sum, engine-stable where 1/d floats are not.
    *
    * @return (src, node, dist), dist ≤ rounds, one row per source ×
    *         reached vertex
    */
  def bfsDistancesPerSource(edges: DataFrame, srcCol: String,
                            dstCol: String, seeds: DataFrame,
                            seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v")).distinct().pin()
    var dist = seeds.select(col(seedCol).cast("long").as("src"))
      .distinct()
      .select(col("src"), col("src").as("node"), lit(0L).as("dist"))
      .pin()
    for (_ <- 0 until rounds) {
      dist = dist
        .unionByName(dist.join(e, col("node") === col("u"))
          .select(col("src"), col("v").as("node"),
            (col("dist") + 1L).as("dist")))
        .groupBy("src", "node").agg(min("dist").as("dist"))
        .pin()
    }
    dist
  }

  /** Harmonic closeness centrality of each seed within a hop horizon:
    * Σ over reached vertices v ≠ s of ⌊scale / d(s, v)⌋ (Marchiori &
    * Latora's harmonic form — sums, not the reciprocal-of-sum
    * closeness, so disconnected vertices cost 0 instead of ∞). One
    * [[bfsDistancesPerSource]] pass + one aggregate.
    *
    * @return (src, n_reached, closeness)
    */
  def harmonicCloseness(edges: DataFrame, srcCol: String,
                        dstCol: String, seeds: DataFrame,
                        seedCol: String, rounds: Int,
                        scale: Long = 1000000L): DataFrame =
    bfsDistancesPerSource(edges, srcCol, dstCol, seeds, seedCol, rounds)
      .where(col("dist") > 0L)
      .groupBy("src")
      .agg(count(lit(1)).as("n_reached"),
        sum(call_function("div", lit(scale), col("dist")))
          .as("closeness"))

  /** Betweenness centrality from a fixed seed set within a fixed hop
    * horizon — Brandes (2001) restricted to the sampled-source form
    * every at-scale implementation uses (exact all-sources betweenness
    * is O(V·E) and hopeless at 100 TB; k sources and a hop horizon are
    * the standard estimator, cf. Riondato–Kornaropoulos). Forward: one
    * BFS per seed run simultaneously (frames keyed (src, node)),
    * σ(node) = number of shortest src→node paths, accumulated level by
    * level (in unweighted BFS the shortest-path DAG only links
    * consecutive levels). Backward: the dependency recursion
    * δ(v) = Σ_{w ∈ succ(v)} σ(v)·(scale + δ(w)) div σ(w) in
    * `scale`-scaled truncated integers (both engines truncate
    * identically), unrolled from the horizon down. bc(v) = Σ over
    * seeds and levels ≥ 1 of δ — exact integers end to end, so the
    * whole centrality is oracle-checkable.
    *
    * Shape: per level one join (frontier ⋈ adjacency, keyed on vertex
    * ids) + one hash aggregate + one anti-join against the visited set;
    * backward mirrors it. Every frame is pinned per level (the prRound
    * double-reference rule). Run on degree-bounded graphs
    * ([[cooccurTopK]] shapes); σ stays ≤ maxdeg^horizon.
    *
    * @return (node, bc_s) for EVERY vertex of the canonical edge set */
  def betweennessFixed(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, seedCol: String, horizon: Int,
                       scale: Long = 1048576L): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val e = canonEdges(edges, srcCol, dstCol).pin()
    val adj = e.select(explode(array(
        struct(col("lo").as("v"), col("hi").as("n")),
        struct(col("hi").as("v"), col("lo").as("n")))).as("x"))
      .select(col("x.v").as("v"), col("x.n").as("n")).pin()
    val lv0 = seeds.select(col(seedCol).cast("long").as("src"))
      .distinct()
      .select(col("src"), col("src").as("node"), lit(1L).as("sigma"))
      .pin()
    var levels = Vector(lv0)
    var visited = lv0.select("src", "node").pin()
    for (_ <- 1 to horizon) {
      // next is lazy: the visited pin job below references it exactly
      // once and full-scans it, so one job per level materializes both
      // (r14 — was two eager pin jobs + an extra pass per level)
      val next = betweennessForwardLevel(levels.last, adj, visited)
        .pinLazy()
      levels :+= next
      visited = visited.unionByName(next.select("src", "node")).pin()
    }
    // deepest level has no successors inside the horizon → δ = 0
    var deltas = Map(horizon -> levels(horizon)
      .select(col("src"), col("node"), lit(0L).as("delta")))
    // t stops at 1: level 0 is the seeds, excluded from bc below — the
    // old loop's t=0 step eagerly pinned a frame nobody ever read (r14)
    for (t <- (horizon - 1) to 1 by -1) {
      val succ = levels(t + 1).join(deltas(t + 1), Seq("src", "node"))
      // lazy chain (r14): the final bc aggregate materializes the whole
      // backward chain in one job (was one eager pin job per level).
      // Each deltas(t) is in fact referenced TWICE in that job — once
      // inside deltas(t−1)'s backward step and once in the bc union —
      // so each level's post-shuffle narrow segment computes twice
      // before doCheckpoint caches it (shuffle-stage reuse keeps the
      // map stages single-run, so this is a bounded narrow re-read,
      // not exponential). Measured cheaper than one eager pin job +
      // full extra pass per level; the double-reference is the
      // accepted trade (ADVICE r14).
      deltas += t ->
        betweennessBackwardStep(levels(t), adj, succ, scale).pinLazy()
    }
    val verts = e.select(col("lo").as("node"))
      .unionByName(e.select(col("hi").as("node"))).distinct()
    val bc = (1 to horizon).map(deltas(_)) // level 0 (the seeds) excluded
      .reduce(_ unionByName _)
      .groupBy("node").agg(sum("delta").as("__bc"))
    verts.join(bc, Seq("node"), "left")
      .select(col("node"), coalesce(col("__bc"), lit(0L)).as("bc_s"))
  }

  /** One forward Brandes level — the in-loop frame [[betweennessFixed]]
    * pins each round, public so the plan artifacts (EXPLAIN.md /
    * PlanSpec) can inspect the REAL per-level shape instead of the
    * pinned graded wrapper: frontier ⋈ adjacency is an id-keyed
    * shuffle equi-join, σ accumulates in a partial→final hash
    * aggregate, and the visited fence is a left-anti equi-join —
    * (src, node) pairs on every exchange, never paths.
    *
    * @param frontier (src, node, sigma) of the current level
    * @param adj      (v, n) directed adjacency (both edge directions)
    * @param visited  (src, node) already reached */
  def betweennessForwardLevel(frontier: DataFrame, adj: DataFrame,
                              visited: DataFrame): DataFrame =
    frontier.join(adj, col("node") === col("v"))
      .select(col("src"), col("n").as("node"), col("sigma"))
      .groupBy("src", "node").agg(sum("sigma").as("sigma"))
      .join(visited, Seq("src", "node"), "left_anti")

  /** One backward Brandes dependency step (same public-for-plan-pins
    * rationale as [[betweennessForwardLevel]]): the successor level's
    * (σ, δ) joins this level's adjacency on (src, node) ids and
    * δ(v) = Σ_{w ∈ succ(v)} σ(v)·(scale + δ(w)) div σ(w) reduces in a
    * hash aggregate — the exchange keys mirror the forward pass, so a
    * cluster reuses the partitioning; no sort-window anywhere.
    *
    * @param cur  (src, node, sigma) of level t
    * @param adj  (v, n) directed adjacency
    * @param succ (src, node, sigma, delta) of level t+1 */
  def betweennessBackwardStep(cur: DataFrame, adj: DataFrame,
                              succ: DataFrame, scale: Long): DataFrame = {
    val sd = succ.select(col("src").as("__s2"), col("node").as("__w"),
      col("sigma").as("__sw"), col("delta").as("__dw"))
    val contrib = cur.join(adj, col("node") === col("v"))
      .join(sd, col("src") === col("__s2") && col("n") === col("__w"))
      .groupBy("src", "node")
      .agg(sum(call_function("div",
        col("sigma") * (lit(scale) + col("__dw")), col("__sw")))
        .as("__c"))
    cur.join(contrib, Seq("src", "node"), "left")
      .select(col("src"), col("node"),
        coalesce(col("__c"), lit(0L)).as("delta"))
  }

  /** Earliest-arrival TIME-RESPECTING reachability over a temporal
    * edge list (u, v, t) — the temporal-graph BFS (Wu et al. 2014,
    * "path semantics where time never decreases"): a walk may traverse
    * (u, v, t) only if t ≥ its arrival time at u, and arrival(v) is
    * the minimum last-edge time over such walks of ≤ `rounds` edges.
    * The static-BFS relaxation with a time guard:
    * a_k(v) = min(a_{k−1}(v), min{t : (u,v,t), t ≥ a_{k−1}(u)}) —
    * monotone non-increasing, so the fixed-round unroll is the graded
    * object (the bfsDistances horizon contract). Seeds start at
    * `seedTime` (pass 0 for "from the epoch").
    *
    * Shape: per round ONE frontier ⋈ edges equi-join on the vertex id
    * (the time guard is a post-join filter on longs) + one min
    * aggregate, frontier pinned per round. Edge lists with bounded
    * fan-out keep rounds linear; nothing is collected.
    *
    * @return (node, t_arrive) for every vertex reachable within
    *         `rounds` time-respecting hops (seeds included at
    *         seedTime) */
  def temporalReach(edges: DataFrame, srcCol: String, dstCol: String,
                    tCol: String, seeds: DataFrame, seedCol: String,
                    rounds: Int, seedTime: Long = 0L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // parallel edges are kept DISTINCT per timestamp, never min-folded:
    // an early copy can be unusable (t < arrival(u)) where a later copy
    // still carries the walk — collapsing to min t would silently cut
    // real time-respecting paths in rounds ≥ 2
    val e = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"),
        col(tCol).cast("long").as("t"))
      .distinct()
      .pin()
    var reach = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct()
      .select(col("node"), lit(seedTime).as("t_arrive"))
      .pin()
    for (_ <- 1 to rounds) {
      reach = reach
        .unionByName(reach.join(e, col("node") === col("u") &&
            col("t") >= col("t_arrive"))
          .select(col("v").as("node"), col("t").as("t_arrive")))
        .groupBy("node").agg(min("t_arrive").as("t_arrive"))
        .pin()
    }
    reach
  }

  /** Single-source(-set) shortest paths over a WEIGHTED directed edge
    * list — distributed Bellman–Ford with a fixed round horizon (the
    * [[bfsDistances]] contract: `rounds` is both the statically-
    * unrolled graded object and the locality bound you actually want at
    * 100 TB; a path longer than the horizon is out of scope by design,
    * not hoped away). Each round relaxes every edge once: one join
    * (current distances × out-edges) + one min-aggregate, both keyed on
    * the vertex id, frontier pinned per round (the prRound double-
    * reference rule). Weights are non-negative longs — min() over
    * longs, so distances are exact; after r rounds every vertex holds
    * the exact shortest distance among paths of ≤ r hops.
    *
    * @return (node, dist) for every vertex reachable within `rounds`
    *         hops, dist = min path weight over ≤ rounds hops
    */
  def ssspDistances(edges: DataFrame, srcCol: String, dstCol: String,
                    wCol: String, seeds: DataFrame, seedCol: String,
                    rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(wCol).cast("long").as("w"))
      .groupBy("src", "dst").agg(min("w").as("w"))
      .pin()
    var dist = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("dist", lit(0L)).pin()
    for (_ <- 0 until rounds) {
      dist = dist
        .unionByName(dist.join(e, col("node") === col("src"))
          .select(col("dst").as("node"),
            (col("dist") + col("w")).as("dist")))
        .groupBy("node").agg(min("dist").as("dist"))
        .pin()
    }
    dist
  }

  /** Neighbor-Jaccard link prediction (Liben-Nowell & Kleinberg): for
    * every NON-edge pair sharing at least `minCommon` neighbors in the
    * canonicalized undirected graph, the exact overlap and union sizes
    * of their neighborhoods, kept only when Jaccard ≥ 1/4 — decided by
    * the integer cross-multiplication `4*common ≥ union`, never a
    * float. The candidate generator is wedge enumeration at the common
    * neighbor (pair space Σ_v deg(v)² — the cooccur bound; feed a
    * support-thinned graph or a degree cap when hubs exist), so the
    * all-pairs space is never touched; existing edges leave via an
    * anti-join on the canonical edge set.
    *
    * @return (a, b, n_common, n_union) with a < b
    */
  def neighborJaccard(edges: DataFrame, srcCol: String, dstCol: String,
                      minCommon: Int = 2): DataFrame = {
    val e = canonEdges(edges, srcCol, dstCol).pin()
    val adj = e.select(explode(array(
        struct(col("lo").as("v"), col("hi").as("n")),
        struct(col("hi").as("v"), col("lo").as("n")))).as("x"))
      .select(col("x.v").as("v"), col("x.n").as("n"))
    val deg = adj.groupBy("v").agg(count(lit(1)).as("d"))
    val wedges = adj.as("x")
      .join(adj.as("y"), col("x.v") === col("y.v") &&
        col("x.n") < col("y.n"))
      .select(col("x.n").as("a"), col("y.n").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= minCommon)
    wedges
      .join(e, col("a") === col("lo") && col("b") === col("hi"),
        "left_anti")
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), col("n_common"),
        (col("da") + col("db") - col("n_common")).as("n_union"))
      .where(col("n_common") * 4 >= col("n_union"))
  }

  /** The classic link-prediction score triple over NON-edges (Liben-
    * Nowell & Kleinberg 2003): common-neighbor count `cn`, resource
    * allocation `ra_s` (Zhou et al. 2009 — Σ_z 1/deg(z) over common
    * neighbors z, the exact-rational cousin of Adamic–Adar whose 1/log
    * weights are irrational; kept as Σ (scale div deg(z)) truncated
    * integers, deterministic on both engines), and preferential
    * attachment `pa` = deg(a)·deg(b).
    *
    * Shape: [[neighborJaccard]]'s wedge enumeration — candidate pairs
    * come only from shared-apex wedges (Σ deg² bound on the thinned
    * input graph, never all-pairs), the apex degree joins BEFORE the
    * pair aggregate so cn and ra_s come out of one shuffle, and the
    * edge anti-join removes existing links. Run on degree-bounded
    * graphs (cooccurTopK / support-thinned shapes).
    *
    * @return (a, b, cn, ra_s, pa) for non-adjacent a < b with
    *         cn >= minCommon */
  def linkPredScores(edges: DataFrame, srcCol: String, dstCol: String,
                     minCommon: Int = 2, scale: Long = 1000000L)
  : DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val e = canonEdges(edges, srcCol, dstCol).pin()
    val adj = e.select(explode(array(
        struct(col("lo").as("v"), col("hi").as("n")),
        struct(col("hi").as("v"), col("lo").as("n")))).as("x"))
      .select(col("x.v").as("v"), col("x.n").as("n"))
    val deg = adj.groupBy("v").agg(count(lit(1)).as("d"))
    val adjD = adj.join(deg, "v")
    val adjR = adjD.select(col("v").as("__v2"), col("n").as("__n2"))
    val wedges = adjD
      .join(adjR, col("v") === col("__v2") && col("n") < col("__n2"))
      .groupBy(col("n").as("a"), col("__n2").as("b"))
      .agg(count(lit(1)).as("cn"),
        sum(call_function("div", lit(scale), col("d"))).as("ra_s"))
      .where(col("cn") >= minCommon)
    wedges
      .join(e, col("a") === col("lo") && col("b") === col("hi"),
        "left_anti")
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), col("cn"), col("ra_s"),
        (col("da") * col("db")).as("pa"))
  }

  /** Deterministic pseudo-random walks over an undirected graph — the
    * DeepWalk/node2vec SAMPLING primitive (p = q = 1): the walk corpus
    * that skip-gram embedding training consumes. True random walks are
    * unreplayable across engines; here the choice at every step is a
    * pure function of ids — from vertex v, walker w at step t moves to
    * the neighbor n minimizing (javaHashU32(salt‖w‖t‖n), n) — so the
    * full trajectory is bit-reproducible and a SQL oracle can replay
    * it. One walker starts at every vertex; step 0 is the seed itself.
    * Hash-uniform neighbor choice ≈ uniform sampling for embedding
    * purposes, with determinism the training-data pipeline actually
    * wants (re-runs produce identical corpora, so downstream caches and
    * dedup stay valid).
    *
    * Self-loops/duplicate edges are dropped (canonical edge set);
    * every vertex of the edge set has ≥ 1 neighbor by construction, so
    * walks never strand. Scale: per step, ONE join frontier ⋈ adjacency
    * (fan-out = degree — run on degree-bounded graphs, e.g.
    * [[cooccurTopK]] output, the kNN-graph shape walk corpora are
    * actually built on) and one hash-aggregate argmin keyed on walker
    * (the labelPropagate argmax contract: never a sort window). Each
    * frontier is localCheckpoint-pinned so step t+1's plan does not
    * re-derive steps 0..t (the hitsInt recompute contract). The
    * adjacency is pinned once and re-joined per step.
    *
    * @return (walker, step, node) — (steps+1) rows per walker
    */
  def deterministicWalks(edges: DataFrame, srcCol: String, dstCol: String,
                         steps: Int, salt: String = "gw"): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    graft.expr.GraftFunctions.register(edges.sparkSession)
    val hu = graft.expr.GraftFunctions.java_hash_u32 _
    val e = canonEdges(edges, srcCol, dstCol)
    val adj = e.select(explode(array(
        struct(col("lo").as("v"), col("hi").as("n")),
        struct(col("hi").as("v"), col("lo").as("n")))).as("x"))
      .select(col("x.v").as("v"), col("x.n").as("n"))
      .pin()
    var frontier = adj.select(col("v")).distinct()
      .select(col("v").as("walker"), col("v").as("node"))
      .pin()
    var out = frontier.withColumn("step", lit(0L))
    var t = 1
    while (t <= steps) {
      val next = frontier
        .join(adj, frontier("node") === adj("v"))
        .select(col("walker"), col("n"),
          hu(concat_ws("|", lit(salt), col("walker"), lit(t), col("n")))
            .as("h"))
        .groupBy("walker")
        .agg(min(struct(col("h"), col("n"))).as("m"))
        .select(col("walker"), col("m.n").as("node"))
        .pin()
      out = out.unionByName(next.withColumn("step", lit(t.toLong)))
      frontier = next
      t += 1
    }
    out.select(col("walker"), col("step"), col("node"))
  }

  /** Borůvka MAXIMUM spanning forest over a weighted undirected graph,
    * fixed synchronous rounds — the association-backbone extractor: keep
    * the strongest edges that still connect everything (the
    * skeletonization step before visualizing / clustering a similarity
    * or co-occurrence graph; max-spanning on association strength ≡
    * min-spanning on distance). Borůvka is THE distributed MST
    * algorithm (every component picks its best incident cut edge, all
    * components contract at once — components at least halve per round,
    * so ⌈log₂ V⌉ rounds suffice for the full forest).
    *
    * Determinism: per component the argmax edge under the total order
    * (w desc, lo asc, hi asc) via one hash-aggregate min(struct(−w, lo,
    * hi)) — never a sort window; two components choosing the same edge
    * collapse by distinct. Contraction relabels through
    * [[Cluster.connectedComponents]] over the CHOSEN edge graph — a
    * frame of component labels (≤ V rows round 1, at least halving
    * after), not data rows.
    *
    * Scale: the weighted edge list is pinned once and re-joined per
    * round with the (vertex → component) frame — two equi-joins + one
    * argmax aggregate per round, everything keyed on vertex/component
    * ids. Nothing is ever collected; round count is the only driver
    * control flow (fixed, like [[kCore]] — run ⌈log₂ V⌉ rounds for the
    * complete forest).
    *
    * `rounds` is a CAP, not a count: a round that finds no cut edge
    * means every component is already spanned, so the loop exits early
    * (a 1-row existence read per round, the ccStar/kmeansConverged
    * driver-state contract) instead of paying further contraction
    * passes on a finished forest.
    *
    * @param edges undirected weighted edges (self-loops dropped;
    *              parallel edges collapsed to their max weight here —
    *              the total order over edges must be well-defined
    *              regardless of input multiplicity); larger `w` =
    *              stronger = kept
    * @return the chosen forest edges (lo, hi, w) accumulated over at
    *         most `rounds` — a subset of the input edge set, acyclic
    */
  def boruvkaMaxForest(edges: DataFrame, loCol: String, hiCol: String,
                       wCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // normalize like ssspDistances: with parallel (lo, hi) copies at
    // different weights, two components could each argmax a DIFFERENT
    // copy of the same pair in one round and .distinct() would keep
    // both — silently breaking the acyclic-forest contract. Collapsing
    // to max(w) makes every (lo, hi) a single candidate (and max is
    // the copy a MAX-forest would ever pick).
    val e = edges.select(col(loCol).cast("long").as("lo"),
        col(hiCol).cast("long").as("hi"), col(wCol).cast("long").as("w"))
      .where(col("lo") =!= col("hi"))
      .groupBy("lo", "hi").agg(max("w").as("w"))
      .pin()
    var comp = e.select(explode(array(col("lo"), col("hi"))).as("id"))
      .distinct()
      .select(col("id"), col("id").as("c"))
      .pin()
    var chosen: DataFrame = null
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val el = e
        .join(comp.select(col("id").as("lo"), col("c").as("cl")), "lo")
        .join(comp.select(col("id").as("hi"), col("c").as("ch")), "hi")
        .where(col("cl") =!= col("ch"))
      val best = el
        .select(explode(array(col("cl"), col("ch"))).as("c"),
          col("w"), col("lo"), col("hi"))
        .groupBy("c")
        .agg(min(struct((-col("w")).as("nw"), col("lo"), col("hi")))
          .as("m"))
        .select(col("m.lo").as("lo"), col("m.hi").as("hi"),
          (-col("m.nw")).as("w"))
        .distinct()
        .pin()
      done = best.isEmpty // no cut edge anywhere: the forest is complete
      chosen = if (chosen == null) best else chosen.unionByName(best)
      // r + 1 < rounds: the contraction only feeds the NEXT round, so
      // the final allowed round's relabel (a full CC over the chosen
      // graph + two joins + a pin that nobody ever read) is skipped
      // outright (r14, guide §1.2 "don't compute things you throw
      // away")
      if (!done && r + 1 < rounds) {
        // contract: new component labels = CC over the chosen-edge
        // component graph (labels as vertices, chosen edges relabeled)
        val cg = best
          .join(comp.select(col("id").as("lo"), col("c").as("cl")), "lo")
          .join(comp.select(col("id").as("hi"), col("c").as("ch")), "hi")
          .select("cl", "ch")
        val labels = Cluster.connectedComponents(
          comp.select(col("c")).distinct(), "c", cg, "cl", "ch")
        comp = comp.select(col("id"), col("c"))
          .join(labels.select(col("id").as("c"), col("cluster")), "c")
          .select(col("id"), col("cluster").as("c"))
          .pin()
      }
      r += 1
    }
    chosen.select("lo", "hi", "w")
  }

  /** Fixed-round k-truss peeling (Cohen 2008): each synchronous round
    * drops every edge supported by fewer than k−2 triangles WITHIN the
    * surviving subgraph; at the fixpoint the survivors are exactly the
    * k-truss (every edge in ≥ k−2 triangles of the subgraph) — the
    * cohesion notion one step stronger than k-core (kCore counts
    * NEIGHBORS; truss counts triangles, so loose hub spokes die even
    * when degree is high). Peeling only removes, so running MORE rounds
    * past convergence is idempotent — the property that makes the
    * fixed-depth unrolled SQL oracle exact whether or not the fixture
    * converged early (the Louvain gated-round convention).
    *
    * Per round: support(lo,hi) = |N(lo) ∩ N(hi)| via two id-keyed
    * equi-joins over the symmetrized adjacency (wedge rows bounded by
    * Σ_v deg²(v) — run this on degree-bounded graphs, the
    * graph_triangles top-k-cut argument), one keyed count, one filter;
    * survivors pinned per round (the prRound double-reference rule).
    *
    * @return surviving canonical edges (lo, hi) after `rounds` rounds */
  def ktrussRounds(edges: DataFrame, srcCol: String, dstCol: String,
                   k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, s"bad truss shape k=$k r=$rounds")
    var e = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct()
      .pin()
    for (_ <- 0 until rounds) {
      val adj = e.select(col("lo").as("a"), col("hi").as("x"))
        .unionByName(e.select(col("hi").as("a"), col("lo").as("x")))
      val sup = e
        .join(adj.select(col("a").as("lo"), col("x")), "lo")
        .join(adj.select(col("a").as("hi"), col("x")), Seq("hi", "x"))
        .groupBy("lo", "hi").agg(count(lit(1)).as("sup"))
      // an edge in zero triangles never reaches `sup` — the inner join
      // drops it, which IS the support < k−2 rule for k ≥ 3
      e = e.join(sup, Seq("lo", "hi"))
        .where(col("sup") >= (k - 2).toLong)
        .select("lo", "hi")
        .pin()
    }
    e
  }

  /** Approximate Neighborhood Function via bottom-k reachability
    * sketches — ANF (Palmer et al. 2002) with the KMV bottom-k register
    * of [[Freq.bottomK]] in place of ANF's Flajolet–Martin bitmasks and
    * HyperBall's HLL counters (Boldi & Vigna 2011; the size-estimation
    * framework is Cohen 1997): the bottom-k merge is DETERMINISTIC
    * under the total (hash, key) order, so every propagation round
    * replays bit-for-bit in the SQL oracle — the approx_bottomk idiom
    * lifted onto graph balls.
    *
    * sketch₀(v) = {v};  sketchᵣ(v) = bottomK( sketchᵣ₋₁(v) ∪
    * ⋃_{(u→v)∈E} sketchᵣ₋₁(u) ) — after r rounds the sketch summarizes
    * the set of nodes with a ≤ r-hop path INTO v (feed a symmetric edge
    * list for the undirected ball), so [[Freq.kmvEstimate]]'s
    * (k−1)·2³²/h_k terms estimate |B(v, r)|, and n_sketch < k means the
    * ball is EXACT (every reached node survived the cut). The
    * per-radius curve IS the neighborhood function N(v, r); where it
    * stops growing is the effective-diameter read, and Σ_v N(v, r) is
    * the classic ANF "how connected is this graph" statistic.
    *
    * Scale: one round = one equi-join (sketch ⋈ edges on the source
    * endpoint — the bfsDistances frontier shape, fan-out ≤ k·|E|) + one
    * per-vertex bottom-k cut; state is ≤ k rows per vertex REGARDLESS
    * of ball sizes — the whole point of sketched ANF vs exact BFS
    * counting, whose per-source state Σ_v |B(v, r)| explodes on the
    * small-diameter graphs real link corpora are. Rounds pin per the
    * iterative-operator contract.
    *
    * The sketch state rides as ONE sorted ≤k-entry ARRAY row per
    * vertex, not k exploded rows (r14 optimization; the window form of
    * [[Freq.bottomKMerge]] shuffled the whole k·|E| fan-out TWICE —
    * distinct exchange + window exchange, 139 MB in round 3 at sf0.1):
    * the propagation join fans out |E| array rows instead of k·|E|
    * entry rows, the per-round cut is the [[graft.expr.KmvMergeK]]
    * Aggregator (an O(k) two-pointer semilattice merge) whose PARTIAL
    * aggregation caps every map partition's contribution at one ≤
    * k-entry row per vertex BEFORE the exchange, and the per-round
    * estimate terms read as a pure projection of the array (size +
    * last entry's hash — ascending order makes h_k the tail), no
    * aggregation exchange at all. Same fold, same (hu, k_key) total
    * order, bit-identical kept set per vertex. The edge frame pins
    * PRE-PARTITIONED on `src` so no round re-exchanges it.
    *
    * @note node-id DOMAIN: ids must lie in [0, 10¹⁸) — the long-keyed
    *       entry form compares keys in decimal-STRING order
    *       arithmetically ([[graft.expr.KmvLongOrder]]), which equals
    *       lexicographic order only on that range. Out-of-domain ids
    *       (negative included, which the pre-r14 string-keyed form
    *       accepted) raise loudly per row rather than mis-ordering a
    *       sketch (ADVICE r14).
    * @return one row per (node, r ∈ 1..rounds): n_sketch plus integer
    *         estimate terms est_num/est_den (division downstream — no
    *         float leaves the engine). */
  def reachSketch(edges: DataFrame, srcCol: String, dstCol: String,
                  k: Int, rounds: Int): DataFrame = {
    require(k >= 2 && rounds >= 1, s"bad sketch shape k=$k r=$rounds")
    graft.expr.GraftFunctions.register(edges.sparkSession)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
      .repartition(col("src")).pin()
    val nodes = e.select(col("src").as("grp"))
      .unionByName(e.select(col("dst").as("grp"))).distinct()
    // entries carry the key as a LONG (kv) instead of its decimal
    // string — KmvMergeKL compares in decimal-STRING order
    // arithmetically (KmvLongOrder), so the kept sets and every
    // sketch-derived output are bit-identical to the string form, but
    // the hot merge path stops allocating a String per entry per row
    // (r14; this was the dominant task-time of the ANF rounds). The
    // order equivalence holds on 0 ≤ id < 10¹⁸ — fenced loudly.
    val fencedGrp = when(col("grp") < 0L ||
        col("grp") >= 1000000000000000000L,
      raise_error(concat(lit("reachSketch: node id out of the " +
        "long-keyed sketch domain [0, 1e18): "),
        col("grp").cast("string"))))
      .otherwise(col("grp"))
    var sk = nodes
      .select(col("grp"),
        array(struct(
          graft.expr.GraftFunctions.java_hash_u32(
            col("grp").cast("string")).as("hu"),
          fencedGrp.as("kv"))).as("entries"))
      .pin()
    // hand-rolled TypedImperativeAggregate over a flat long[] buffer
    // (r15): the udaf(KmvMergeKL) path decoded every input row's entry
    // array into a Vector of case classes before merging — the
    // remaining dominant task-time of the ANF rounds. Same fold, same
    // (hu, decimal-string) order, bit-identical kept sets
    // (OptR15Spec pins KmvMergeArr ≡ KmvMergeKL on random merge trees).
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val prop = sk.join(e, sk("grp") === e("src"))
        .select(col("dst").as("grp"), col("entries"))
      sk = sk.unionByName(prop)
        .groupBy("grp")
        .agg(graft.expr.GraftFunctions
          .kmv_merge_arr(col("entries"), lit(k)).as("entries"))
        .pin()
      // estimate terms as a pure projection — [[Freq.kmvEstimate]]'s
      // exact fields read off the sorted array (n = size; h_k = the
      // LAST entry's hash, maximal under the ascending order)
      val n = size(col("entries")).cast("long")
      val est = sk.select(col("grp").as("node"), lit(r.toLong).as("r"),
        n.as("n_sketch"),
        when(n < k, n).otherwise(lit((k - 1).toLong * 4294967296L))
          .as("est_num"),
        when(n < k, lit(1L))
          .otherwise(element_at(col("entries"), -1).getField("hu"))
          .as("est_den"))
      out = if (out == null) est else out.unionByName(est)
    }
    out
  }
}
