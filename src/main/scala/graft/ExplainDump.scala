package graft

import org.apache.spark.sql.DataFrame

/** Dumps `explain("formatted")` for the headline queries into EXPLAIN.md —
  * the plan-shape evidence behind PlanSpec's assertions, kept as a
  * reviewable artifact. Regenerate with:
  *
  *   sbt "runMain graft.ExplainDump /root/testdata/sf0.001 EXPLAIN.md"
  *
  * Per-query mode: `sbt "runMain graft.ExplainDump --queries <outDir>
  * <suffix> <query>..."` writes `<outDir>/<query>_<suffix>.txt`, the
  * before/after plan evidence under `plans/`. It uses Bench's SF dir
  * and session, so the dumped INITIAL plan is the one the bench
  * executes; AQE's runtime re-optimizations (broadcast promotions,
  * partition coalescing) happen below the AdaptiveSparkPlan node and
  * are not visible in a pre-execution dump.
  */
object ExplainDump {

  /** (query, why this plan shape is the scale-correct one) */
  val headliners: Seq[(String, String)] = Seq(
    "q6_selective_filter" ->
      ("All four predicates reach the parquet scan (`PushedFilters`), the " +
        "scan reads 4 of 11 columns (`ReadSchema`), and the aggregate is " +
        "partial → exchange → final inside whole-stage codegen. At 100 TB " +
        "this is row-group pruning + a single narrow pass."),
    "q3_topk" ->
      ("The customer dimension broadcasts (no shuffle of the fact side); " +
        "`TakeOrderedAndProject` keeps top-k per partition and merges — " +
        "no global sort of the join result."),
    "q5_region_revenue" ->
      ("Star join: nation/region broadcast; the lineitem↔orders↔customer " +
        "joins shuffle once each on their keys; aggregation is partial " +
        "before the final exchange."),
    "merge_delta" ->
      ("The full sync merge: keep-latest window dedup over the staged " +
        "delta, tombstone anti-join, changed-row detection with null-safe " +
        "equality, and an insert anti-join — one composed plan, shuffling " +
        "on `href` throughout, so AQE can broadcast the (small) delta side " +
        "in steady state."),
    "a1_dedup_keep_latest" ->
      ("ROW_NUMBER over (partition by href, order by modified desc): one " +
        "hash exchange on the dedup key, sort within partitions — the " +
        "shuffle carries rows once; no driver involvement."),
    "asof_join" ->
      ("As-of join as union + running-last window: one shuffle on " +
        "(user_id), no range-explosion join; each purchase picks the " +
        "latest prior click in a single window pass."),
    "sim_cosine_topk" ->
      ("Probes broadcast; the corpus streams through executors computing " +
        "the codegen'd dot_ff product; per-query top-k via window rank on " +
        "the (small) scored side."),
    "dd_minhash_lsh" ->
      ("Shingle explode → partial-agg 32 mins (map-side combine: the " +
        "shuffle carries 32 longs per doc, never shingles) → band " +
        "self-join on the 16-byte (band, signature-slice) key."),
    "bloom_semijoin" ->
      ("Runtime bloom pruning, explicit form: the dim keys fold into a " +
        "bloom sketch embedded as a scan-side literal filter (visible as " +
        "`might_contain` in the lineitem scan stage, inside " +
        "WholeStageCodegen, BEFORE the exchange), then the exact " +
        "semi-join removes false positives. At 100 TB the fact shuffle " +
        "carries ~matches instead of the whole table."),
    "range_bin_join" ->
      ("Interval join as bin equi-join: both sides hash-exchange on " +
        "(user_id, time-bin) — a plain shuffled equi-join with a " +
        "codegen'd residual range predicate, where the naive theta-join " +
        "degenerates to per-user nested loops."),
    "scd2_history" ->
      ("SCD2 derivation: ONE hash exchange on user_id feeds both window " +
        "passes (run-compression lag, then interval lead) — the filter " +
        "between them preserves partitioning and order, so no second " +
        "shuffle and no re-sort."),
    "dd_contam" ->
      ("Decontamination: the benchmark shingle set is deduped then " +
        "BROADCAST; the corpus side probes it map-side inside its own " +
        "scan stage and only (doc_id, count) partials reach the final " +
        "aggregation — the 100 TB corpus never shuffles its shingles."),
    "dd_substring" ->
      ("Exact-substring spans, the shuffle-native suffix-array " +
        "substitute: positional window-grams are materialized once " +
        "(localCheckpoint) and reused for the doc-frequency fence and " +
        "both self-join sides; windows in only one doc (the dominant " +
        "mass) never enter the join; maximal runs come from one window " +
        "pass per diagonal plus a partial-aggregated groupBy. The " +
        "rare-window join is PINNED to shuffle_hash: the rare set " +
        "scales with duplicated volume, and letting the planner " +
        "broadcast it OOMed the driver at the 300k-doc decade probe."),
    "sim_quantized_topk" ->
      ("Int8-quantized ANN in the STORED-SKETCH regime (the graded query " +
        "writes the sketch once, then serves from it): the corpus scan " +
        "reads the persisted (vec_id, q_emb, q_norm) parquet — 3.52× " +
        "smaller than the float column — the probe side quantizes fresh " +
        "and BROADCASTS, and the sketch streams once through the " +
        "codegen'd integer dot (dot_ll); the only shuffle is the " +
        "per-query top-k window. Quantization cost amortizes across " +
        "every query batch against the store."),
    "samp_negatives" ->
      ("Deterministic negative draws without a cross join or global " +
        "index: anchors×k draws equi-join candidates on a hash bucket " +
        "(each draw scans ~N/buckets rows), then one windowed min per " +
        "(anchor, draw) — both shuffles are on small keys and the " +
        "candidate side never materializes pairs beyond its bucket."),
    "agg_heavy_hitters" ->
      ("Exact heavy hitters with NO full-vocabulary shuffle: pass 1 is a " +
        "per-partition Misra-Gries summary (mapPartitions, driver sees " +
        "only candidates); pass 2 re-counts rows surviving a BROADCAST " +
        "semi-join on the candidate set — the exchange carries heavy keys " +
        "only. At 100 TB the token stream is read twice but never " +
        "shuffled whole."),
    "samp_pack_chunks" ->
      ("Concat-and-chunk sequence packing as closed-form window math: one " +
        "hash exchange on the group key feeds the cumulative sum; the " +
        "bin explode is narrow (fan-out ≤ pieces per doc) and everything " +
        "downstream is codegen'd integer arithmetic — no sequential " +
        "state, so packing parallelizes like a scan."),
    "dd_semantic" ->
      ("Semantic dedup: the centroid set broadcasts into the cell " +
        "assignment (corpus streams once), the pair search is an " +
        "equi-join on cell id (pair space N²/k, never N²), and the " +
        "component loop shuffles only (id, label) longs."),
    "samp_token_budget" ->
      ("Budgeted selection without a one-task global sort: the coarse " +
        "score histogram aggregates (partial → final, dim-sized) and is " +
        "read like a watermark scalar; whole score classes above the " +
        "marginal one pass through as a plain filter, and ONLY the " +
        "marginal class runs a windowed cumsum — its exchange carries " +
        "one score's population, not the corpus."),
    "range_overlap_join" ->
      ("Interval×interval overlap as a bin equi-join: both sides explode " +
        "to covered bins and hash-exchange on the bin key; the " +
        "first-shared-bin residual predicate dedups pairs with zero " +
        "extra shuffles (no DISTINCT pass)."),
    "ts_resample" ->
      ("Grid resample: the per-(key, step) aggregate shrinks the data " +
        "BEFORE the spine explode, the spine joins back on (key, step), " +
        "and the forward-fill window reuses the same hash partitioning — " +
        "gap length never multiplies the shuffled volume."),
    "inc_minhash_delta" ->
      ("Incremental LSH maintenance: only the DELTA batch explodes into " +
        "shingles and aggregates signatures; the stored base joins on its " +
        "banded signature slices — the recurring cost of keeping the " +
        "near-dup index current is proportional to the delta, never the " +
        "corpus."),
    "asof_nearest" ->
      ("Nearest as-of: both directions as two frames over ONE window " +
        "ordering — a (-inf,-1) last-preceding and a (1,+inf) " +
        "first-following — so nearest costs the same single shuffle as " +
        "backward; no range join, no per-row subquery."),
    "samp_resample" ->
      ("Weighted up/down-sampling: the rates dim broadcasts, copies come " +
        "from a bounded explode — a pure map-side pass with NO shuffle " +
        "other than the output sort; epoch mixing at 100 TB is a scan, " +
        "not a join."),
    "curate_funnel" ->
      ("The full CCNet-shaped funnel as ONE composed plan: gate (codegen " +
        "filters on the scan) → exact dedup (fingerprint shuffle, text " +
        "never re-shuffles) → fuzzy near-dup (fence → banded LSH → exact " +
        "Jaccard verify → CC; pair space bounded by banding) → budgeted " +
        "selection (histogram pre-pass, only the marginal score class " +
        "windows). Stages hand off as DataFrames — shuffle-partitioned " +
        "end to end, no driver materialization between them."),
    "curate_funnel_full" ->
      ("The funnel with the LM-coverage and PII stages composed in " +
        "(the complete CCNet order). The lm model is the ONLY broadcast " +
        "(top-500 bigrams, dim-sized by construction); coverage counts " +
        "partial-aggregate before their exchange; redaction is a " +
        "map-side regexp in the scan stage's projection — canonicalizing " +
        "planted PII BEFORE dedup so contact-only variants re-collapse; " +
        "the dedup/selection tail is curate_funnel's plan over the " +
        "redacted text. Still shuffle-partitioned end to end."),
    "sim_mmr_rerank" ->
      ("MMR diversified re-ranking: candidate generation is the quantized " +
        "top-k (probes broadcast, corpus streams), then the probe-bounded " +
        "candidate set — |probes|·cands rows — BROADCASTS back over the " +
        "sketch to fetch vectors; the greedy fold shuffles only those " +
        "rows on query_id. No SortMergeJoin anywhere: the corpus never " +
        "shuffles."),
    "graph_pagerank" ->
      ("Fixed-iteration PageRank as a statically unrolled DAG: edges and " +
        "degrees pin once (localCheckpoint), each round is edge⋈rank on " +
        "src + a map-side-partial groupBy(dst) — (long, long) pairs on " +
        "every exchange, no vertex payloads, no driver loop state. On a " +
        "cluster, pre-partitioning edges by src makes each round's " +
        "exchange rank-side only."),
    "txt_winnow" ->
      ("Winnowing fingerprints without per-window subqueries: the " +
        "rightmost-min-per-window select runs as ONE running window-max " +
        "over an encoded (hash desc, pos asc) long key, then a distinct " +
        "— gram hashing and the window both stay in codegen; the only " +
        "exchanges are the per-doc window partition and the final " +
        "fingerprint join-back."),
    "emb_kmeans" ->
      ("Integer Lloyd's k-means: the k-row codebook is driver-held, so " +
        "the assignment is a map-only projection — `nearest_cell` loops " +
        "over the centroids as one plan literal, with no join, no " +
        "exchange on vec_id and no sort window; each round's (cell, dim) " +
        "sums collapse map-side and are collected. Nothing in the plan " +
        "scales with corpus size except the scan itself — the codebook " +
        "is KB-sized at any k·d."),
    "sim_pq_topk" ->
      ("ADC serving: the probe distance table broadcasts into the " +
        "cell-keyed code join; the corpus side carries only (vec_id, " +
        "sub, code) — 8 B/vector — and the per-(query, vector) lookup " +
        "sums partial-aggregate before the exchange. Raw corpus vectors " +
        "appear nowhere in the serving plan."),
    "graph_triangles" ->
      ("Degree-ordered triangle counting: canonical edges pin once and " +
        "feed the orientation join, the apex self-join, and the closure " +
        "semi-join — all equi-joins on vertex ids. The wedge explosion " +
        "is bounded by Σ outdeg² with outdeg O(√E) under the " +
        "orientation: a mega-hub out-ranks its neighbors and generates " +
        "zero wedges."),
    "ret_rrf" ->
      ("Hybrid fusion: both retrieval pools are top-k bounded BEFORE " +
        "fusion, so above the Union the plan is one hash aggregate + " +
        "one window over ≤ queries × k × lists rows — the corpus-scale " +
        "work (BM25 semi-joined postings, broadcast-probe cosine) all " +
        "sits below the pools and never re-joins."),
    "ts_cusum" ->
      ("The sequential max(0, s+e) recursion closed over prefix " +
        "extrema: cumsum, running min, and running max ride two " +
        "chained Window nodes on the SAME (pri) partitioning — one " +
        "exchange for the whole window chain, allowance broadcast " +
        "back from a key-cardinality aggregate."),
    "graph_betweenness" ->
      ("Sampled-source Brandes: forward σ levels and backward δ levels " +
        "are each one frontier⋈adjacency equi-join + one hash " +
        "aggregate, frames pinned per level — (src, node) long pairs " +
        "on every exchange, never paths. The anti-join visited fence " +
        "keeps the frontier monotone; nothing in any round scales past " +
        "seeds × reachable-within-horizon."),
    "graph_betweenness_fwd" ->
      ("ONE forward Brandes level at real leaves (the in-loop frame " +
        "the pinned graded plan hides — the louvain_round treatment): " +
        "frontier⋈adjacency is an id-keyed shuffle equi-join, σ " +
        "accumulates in a partial→final hash aggregate, and the " +
        "visited fence is a left-anti equi-join. (src, node) long " +
        "pairs on every exchange; σ ≤ maxdeg^level by the " +
        "degree-bounded fixture contract."),
    "graph_betweenness_bwd" ->
      ("ONE backward dependency step at real leaves: the successor " +
        "level's (σ, δ) joins the adjacency on (src, node) ids and " +
        "δ(v) = Σ σ(v)·(scale+δ(w)) div σ(w) reduces in a hash " +
        "aggregate — the exchange keys mirror the forward pass, so a " +
        "cluster reuses the partitioning; no sort-window, no " +
        "cartesian, exact integers."),
    "er_resolve" ->
      ("ER pipeline: blocking passes are window-fenced equi-self-joins " +
        "on the derived key (pair space Σ|block|², loud cap), the " +
        "Levenshtein verify touches candidates only, and components " +
        "run on the MATCH edges — three orders smaller than the " +
        "candidate set. All-pairs appears nowhere in the plan."),
    "txt_rake" ->
      ("RAKE: the 16-row stoplist rides a BroadcastHashJoin into the " +
        "token stream, phrase segmentation is one per-doc running-sum " +
        "window, and both scoring aggregates (per-word, per-phrase) " +
        "partial-aggregate map-side — the only data-sized exchanges " +
        "key on doc and word."),
    "dd_ppjoin" ->
      ("Prefix filtering: candidate pairs come from an equi-join on " +
        "prefix shingles (each doc's rarest — measured max prefix-df 7 " +
        "on this corpus), never a pair scan; the exact-intersection " +
        "verify joins candidates back to the pinned token frame on " +
        "(id, shingle) keys. No CartesianProduct anywhere."),
    "doc_skyline" ->
      ("Two-phase skyline: the bucket frontier (≤ buckets rows) " +
        "broadcasts back to prune every grid-dominated point " +
        "map-side; the exact dominance pass is a window over the " +
        "frontier-bounded survivors — the single-partition window " +
        "exists, but over survivors, not data."),
    "graph_sssp" ->
      ("Fixed-horizon Bellman-Ford: per round one equi-join (frontier " +
        "× pinned weighted edges) + one min-aggregate keyed on the " +
        "vertex; each round's frontier pins so round r never " +
        "re-derives rounds 0..r-1 — the statically-unrolled relax DAG."),
    "evt_rfm" ->
      ("Value-threshold segmentation: the customer metrics pin once, " +
        "three rank windows run over that customer-cardinality frame " +
        "(the agg_median convention), and all nine quartile cuts " +
        "collapse into ONE 1-row frame that broadcast-nested-loop " +
        "joins back — bucket assignment is a map-side compare, so at " +
        "any scale only the aggregate, not the assignment, costs a " +
        "shuffle."),
    "dd_semdedup" ->
      ("SemDeDup: the k-means rounds sit below as broadcast-codebook " +
        "argmin passes; the dedup pair join is an equi-join keyed on " +
        "CELL — pair space is Σ|cell|², never a cartesian, and k is " +
        "the knob that bounds it as the corpus grows."),
    "curate_dsir" ->
      ("DSIR: two token-explode passes over the corpus (count, " +
        "score); the bucket-count table partial-aggregates map-side " +
        "to ≤ buckets rows, the 1-row totals and the weight table " +
        "broadcast — the corpus is never shuffled on doc_id."),
    "layout_locality" ->
      ("Layout audit: both curve keys are codegen'd expressions " +
        "(hilbert16/zorder16) computed map-side; blocks come from " +
        "key-RANGE division — one hash aggregate per scheme, no " +
        "global sort anywhere in the plan."),
    "ret_chunk_bm25" ->
      ("Chunk retrieval: chunking is a per-row generator (no " +
        "shuffle); the BM25 pass semi-joins the corpus token stream " +
        "to the broadcast query vocabulary BEFORE the tf shuffle, so " +
        "the exchange carries only query-relevant postings."),
    "samp_inverse_cdf" ->
      ("Weighted multinomial draw: cumulative weights come from the " +
        "range-partitioned prefix sum (P parallel sorts + a P-row " +
        "offset window — no data-sized single-task window), and the " +
        "interval lookup is a broadcast HASH join on the weight-mass " +
        "bucket (B = max weight ⇒ ≤ 2 bucket rows per doc), never a " +
        "nested loop over draws × corpus."),
    "graph_modularity" ->
      ("Community scoring: two endpoint→block hash joins + ONE " +
        "block-keyed aggregate; the edge-count scalar rides a 1-row " +
        "broadcast into the q_num projection — nothing in the plan " +
        "scales past the edge scan, and the label-propagation rounds " +
        "feeding it are pinned so the scoring pass never re-derives " +
        "them."),
    "samp_systematic" ->
      ("Systematic weighted sampling: after the range-partitioned " +
        "cumulative sum the hit count is a pure codegen'd per-row " +
        "min/div formula against the broadcast 1-row (step, offset) " +
        "scalar — NO join against a probe side, no explode, no " +
        "data-sized window anywhere; the draw count never appears as " +
        "a plan dimension, so draws scale for free."),
    "sim_ivfpq_refined" ->
      ("The two-tier ANN read path: the IVF+PQ shortlist (cells + " +
        "8-byte codes, candidate-restricted ADC) feeds a refine tier " +
        "where the corpus sketch streams ONCE against the broadcast " +
        "shortlist and probe sketches — exact int8 rerank with no " +
        "corpus shuffle and no second scan; full vectors are read " +
        "only for |probes| × 20 candidates."),
    "graph_louvain_round" ->
      ("ONE attempted Louvain move round, exactly the per-round plan " +
        "the `graph_louvain` gated loop executes (r12 fused form): the " +
        "labeled-edge frame joins the pinned edge leaf with the " +
        "assignment twice, k_ix carries the own-community label " +
        "through its grouping (no join back to the assignment), volume " +
        "and size come from ONE grouped aggregate over the SHARED " +
        "per-level degree pin, and the in-migration cap is the " +
        "two-phase top-n_c — a salted (hash(node)%64, c) window, a " +
        "filter on the local rank, then the per-community rank over " +
        "the ≤ n_c·64 survivors (PlanSpec-pinned: the raw proposal " +
        "frame never sorts in one task per community). Note the " +
        "assignment leaf: `Scan ExistingRDD` WITHOUT statistics — " +
        "`Pin.resetStats`/`pinIter` drops the origin-plan sizeInBytes " +
        "that localCheckpoint would propagate, because the move round " +
        "references the assignment ~7 times and the size-only " +
        "estimator MULTIPLIES across joins: stats digits would grow " +
        "×7 per round and stall Catalyst inside BigInteger.multiply " +
        "by round ~6 (measured; see Pin.scala). The conservative " +
        "no-stats leaf is also why these joins stay shuffle joins at " +
        "scale while AQE still broadcasts the tiny runtime sides " +
        "locally."),
    "graph_louvain_score" ->
      ("The fused acceptance score for a candidate round: " +
        "q_num = 4W·(intra_cross + S) − Σ_c vol_c². Self-loops are " +
        "intra under EVERY assignment, so their mass S and the total " +
        "weight W ride as literals computed once per level; the plan " +
        "is just the candidate labeling (intra cross-mass filter + " +
        "1-row sum) cross-joined with a 1-row broadcast of Σ vol_c² " +
        "from the SHARED degree pin — replacing the naive " +
        "modularityNumWeighted pass that re-derived degrees and " +
        "re-labeled edges from scratch every attempted round (the " +
        "r11→r12 fusion that roughly halved the graded query's wall)."),
    "sim_nn_descent" ->
      ("kNN-graph construction without the N² scan: seed lists come " +
        "from an equi-join on the integer sign-LSH bucket; the descent " +
        "round's candidate expansion is a self-join of the ≤k-row " +
        "lists on neighbor=query (O(N·k²) pairs), and exact re-scoring " +
        "joins candidates to the sketch on VECTOR IDS — ordinary " +
        "shuffle equi-joins end to end, no corpus broadcast, no " +
        "cartesian. The rank windows partition by query_id " +
        "(PlanSpec-pinned), so no data-sized single task exists " +
        "anywhere. This is the 100 TB path to the same artifact " +
        "sim_knn_graph builds brute-force at fixture scale."),
    "txt_min_pieces" ->
      ("The tokenizer pair: vocab training is one exploded-n-gram " +
        "aggregate (partial-combined map-side — the n-gram domain, not " +
        "the corpus, reaches the shuffle) cut by an in-plan top-M; " +
        "application is the codegen'd min_pieces DP over a broadcast " +
        "vocab literal inside WholeStageCodegen (PlanSpec-pinned) — " +
        "a single narrow pass, embarrassingly parallel at any scale."),
    "approx_bottomk" ->
      ("KMV bottom-k distinct sketch: per-group window top-k over " +
        "pre-deduplicated (group, hash) pairs. The window partitions " +
        "by group (months — high cardinality); a skewed group " +
        "graduates to the KmvBottomK Aggregator form, whose PARTIAL " +
        "aggregation ships ≤ k entries per partition per group " +
        "(PlanSpec-pinned via partial_kmvbottomk) — the same " +
        "semilattice the inc_bottomk_delta identity grades."),
    "graph_ktruss" ->
      ("One truss-peel round per level: support = two id-keyed " +
        "equi-joins of the canonical edge list against its symmetrized " +
        "adjacency (wedge rows bounded by Σ deg² on the degree-bounded " +
        "top-k co-occurrence fixture), keyed count, filter — survivors " +
        "pinned per round so the next round's joins read a leaf, not " +
        "the previous round's join tree. No cartesian, no windows."),
    "inc_mp_delta" ->
      ("Matrix-profile append maintenance as ONE composed plan: the " +
        "stored profile (the base series' full pair space) and the " +
        "delta pair block (only pairs touching a __wnew window — the " +
        "old×old block is filtered out INSIDE the join condition, " +
        "before any pair materializes) union into a single " +
        "min-of-struct hash aggregate. Every join is key-equi on the " +
        "series keys with the exclusion-zone range as a residual; the " +
        "append-only fence rides the same window pass that assigns " +
        "positions."),
    "emb_power_iter" ->
      ("The corpus appears ONCE — inside gramInt8's exploded-pair " +
        "partial aggregate (shuffle carries O(partitions·d²) longs, " +
        "independent of corpus size). Every subsequent round is a " +
        "d²-row matvec join + a 1-row broadcast renorm: the plan's " +
        "iterated section is corpus-size-INDEPENDENT, which is the " +
        "whole point of the gram seam (and why inc_power_delta can " +
        "maintain it by summing d²-row summaries)."),
    "graph_reach_sketch" ->
      ("ANF by bottom-k sketch propagation: each round is ONE " +
        "sketch⋈edges equi-join on the source vertex (fan-out ≤ k·|E| " +
        "rows of 16-byte (grp, hu, key) triples — never ball members) " +
        "plus a grp-partitioned rank window cutting back to k rows per " +
        "vertex; rounds pin, so the final plan reads pinned leaves and " +
        "assembles the per-(node, radius) estimate terms in partial→" +
        "final hash aggregates. State is k·|V| regardless of ball " +
        "sizes — exact BFS counting would carry Σ|B(v,r)| and die on " +
        "any small-diameter 100 TB graph."),
    "inc_contam_delta" ->
      ("Growing-benchmark decontamination: both shingle probes are " +
        "BroadcastHashJoins into the corpus token stream (an eval " +
        "suite is tiny next to a 100 TB corpus — the corpus NEVER " +
        "shuffles on shingles), the new-shingle remainder is a " +
        "broadcast anti-join of delta vs stored base shingles, and " +
        "the merged counts are one keyed hash aggregate over " +
        "stored ∪ delta partials. The base benchmark's probe work " +
        "never re-runs — the additivity the identity grades."),
    "sim_graph_search" ->
      ("Graph-ANN serving (HNSW layer-0 / DiskANN greedy, lockstep-" +
        "beam reformulated): the kNN out-lists pin once, each beam " +
        "round is ONE id-keyed equi-join into the pinned graph " +
        "(fan-out ≤ beam·outdeg per query) + a query-partitioned rank " +
        "window over ≤ beam·(outdeg+1) candidates, and the tiny probe " +
        "and entry frames ride broadcasts. Per-probe serving cost is " +
        "O(rounds·beam·outdeg) at ANY corpus size — the corpus is " +
        "never scanned, which is what the sub-quadratic NN-descent " +
        "build exists to enable.")
  )

  def main(args: Array[String]): Unit = args.toList match {
    case "--queries" :: outDir :: suffix :: names if names.nonEmpty =>
      queryPlans(outDir, suffix, names)
    case rest if rest.size <= 2 && !rest.exists(_.startsWith("--")) =>
      headlinePlans(args)
    case _ =>
      System.err.println("usage: ExplainDump [sfDir] [out.md] | " +
        "ExplainDump --queries <outDir> <suffix> <query>...")
      sys.exit(2)
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // binary literals (the embedded bloom sketch) hex-dump to 100s of
      // KB in plan text; elide them — the shape, not the bits, matters
      .replaceAll("0x[0-9A-F]{64}[0-9A-F]*", "0x<binary literal elided>")

  private def queryPlans(outDir: String, suffix: String,
                         names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val (sfDir, cpus) = Bench.envConfig()
    val spark = LocalSession(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(p,
        formatted(SparkEntry.queries(name)(spark, sfDir)).getBytes("UTF-8"))
      println(s"[explain] wrote $p")
    }
    spark.stop()
  }

  /** The EXPLAIN.md plans, on a fixed `local[4]` so the partition counts
    * in the committed plans do not depend on the machine. */
  private def headlinePlans(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("EXPLAIN.md")
    val spark = LocalSession(4)

    val sb = new StringBuilder
    sb ++= "# EXPLAIN — headline query plans (generated by graft.ExplainDump)\n\n"
    sb ++= "Formatted physical plans at sf0.001; the properties called out\n"
    sb ++= "here are pinned as assertions in `PlanSpec`. Regenerate with\n"
    sb ++= "`sbt \"runMain graft.ExplainDump\"`.\n\n"
    sb ++= "## Lineage pinning (`Pin`, round 9)\n\n"
    sb ++= "Every iterative operator (Graph, DedupText, Cluster, Selection,\n"
    sb ++= "Skyline, TextOps, Similarity…) truncates lineage per round through\n"
    sb ++= "`graft.ops.Pin` (`df.pin()`), not bare `localCheckpoint()`. With no\n"
    sb ++= "checkpoint directory configured (local dev, this bench) `Pin` keeps\n"
    sb ++= "the fast in-executor `localCheckpoint`; when\n"
    sb ++= "`SparkContext.setCheckpointDir`/`spark.checkpoint.dir` points at a\n"
    sb ++= "reliable store (HDFS/S3 on a real cluster) the SAME call sites switch\n"
    sb ++= "to reliable `checkpoint()`, so a lost executor replays from the\n"
    sb ++= "checkpoint instead of failing the whole iterative job —\n"
    sb ++= "the r8-flagged cluster-scale fragility of local pins. Session conf\n"
    sb ++= "`graft.pin.reliable=true|false` overrides either way (A/B'd in\n"
    sb ++= "`Round16Spec`). Plans below are the local mode; in reliable mode the\n"
    sb ++= "pinned subtree's scan node reads the checkpoint files instead of the\n"
    sb ++= "in-memory blocks — everything above it is unchanged.\n"
    // queries that pin their result off a temp store (localCheckpoint)
    // hide the scoring plan behind an RDD scan — rebuild the interesting
    // plan here instead of taking the graded wrapper's
    // the louvain fixture's per-round plans run INSIDE the gated loop
    // (the graded wrapper's own plan is just the final compose join) —
    // rebuild one attempted round at the real pinned leaves
    def louvainRoundFrames(): (DataFrame, DataFrame) = {
      import org.apache.spark.sql.functions._
      import ops.Pin.PinOps
      val cust = Tables.customer(spark, sfDir)
        .where(col("c_nationkey") === 1).select(col("c_custkey"))
      val edges = Tables.orders(spark, sfDir)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(spark, sfDir),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val e1 = ops.Graph.canonEdges(edges, "src", "dst")
        .select(col("lo"), col("hi"), lit(1L).as("w")).pin()
      val x = e1.where(col("lo") =!= col("hi"))
      val deg = ops.Graph.degreesWeighted(e1).pin()
      val wL = e1.agg(sum(col("w"))).head().getLong(0)
      val wTot = spark.range(1).select(lit(wL).as("__w"))
      // an accepted round-1 output, pinned the way the loop pins it
      val nodes = e1.select(explode(array(col("lo"), col("hi")))
        .as("node")).distinct()
      val identityLab = x.select(col("lo"), col("hi"), col("w"),
        col("lo").as("cl"), col("hi").as("ch"))
      val assign = ops.Pin.resetStats(ops.Graph.moveFromLabeled(
        identityLab, nodes.select(col("node"), col("node").as("comm")),
        deg, wTot, capInMigration = true))
      def label(b: DataFrame) = x
        .join(b.select(col("node").as("lo"), col("comm").as("cl")),
          Seq("lo"))
        .join(b.select(col("node").as("hi"), col("comm").as("ch")),
          Seq("hi"))
      val round = ops.Graph.moveFromLabeled(label(assign), assign, deg,
        wTot, capInMigration = true)
      val intra = label(assign).where(col("cl") === col("ch"))
        .agg(coalesce(sum(col("w")), lit(0L)).as("__i"))
      val volsq = deg.join(assign, Seq("node"))
        .groupBy(col("comm")).agg(sum(col("d_i")).as("d_c"))
        .agg(coalesce(sum(col("d_c") * col("d_c")), lit(0L)).as("__v"))
      val score = intra.crossJoin(broadcast(volsq))
        .select((lit(4L * wL) * (col("__i") + lit(0L)) - col("__v"))
          .as("q_num"))
      (round, score)
    }
    lazy val louvainFrames = louvainRoundFrames()
    // one forward level + one backward step of graph_betweenness at
    // unpinned leaves (same rationale as the louvain round frames)
    def betweennessLevelFrames(): (DataFrame, DataFrame) = {
      import org.apache.spark.sql.functions._
      val edges = ops.Graph.cooccurTopK(
        Tables.lineitem(spark, sfDir), "l_orderkey", "l_suppkey", k = 5)
      val e = ops.Graph.canonEdges(edges, "item", "co_item")
      val adj = e.select(explode(array(
          struct(col("lo").as("v"), col("hi").as("n")),
          struct(col("hi").as("v"), col("lo").as("n")))).as("x"))
        .select(col("x.v").as("v"), col("x.n").as("n"))
      val lv0 = e.select(col("lo").as("node"))
        .unionByName(e.select(col("hi").as("node")))
        .distinct().orderBy("node").limit(4)
        .select(col("node").as("src"), col("node"), lit(1L).as("sigma"))
      val fwd = ops.Graph.betweennessForwardLevel(lv0, adj,
        lv0.select("src", "node"))
      val bwd = ops.Graph.betweennessBackwardStep(lv0, adj,
        fwd.withColumn("delta", lit(0L)), scale = 1048576L)
      (fwd, bwd)
    }
    lazy val bcFrames = betweennessLevelFrames()
    val overrides: Map[String, () => DataFrame] = Map(
      "graph_louvain_round" -> (() => louvainFrames._1),
      "graph_louvain_score" -> (() => louvainFrames._2),
      "graph_betweenness_fwd" -> (() => bcFrames._1),
      "graph_betweenness_bwd" -> (() => bcFrames._2),
      "sim_quantized_topk" -> (() => {
        val emb = Tables.embeddings(spark, sfDir)
        val store = java.nio.file.Files
          .createTempDirectory("sq8_explain").toString
        ops.Similarity.quantizeInt8(emb)
          .write.mode("overwrite").parquet(store)
        ops.Similarity.quantizedTopKOnSketch(spark.read.parquet(store),
          emb.where(org.apache.spark.sql.functions.col("vec_id") % 50 === 0),
          5)
      }))
    headliners.foreach { case (name, why) =>
      val df = overrides.get(name).map(_.apply())
        .getOrElse(SparkEntry.queries(name)(spark, sfDir))
      sb ++= s"\n## $name\n\n$why\n\n```\n${formatted(df)}```\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"[explain] wrote $out (${headliners.size} plans)")
    spark.stop()
  }
}
