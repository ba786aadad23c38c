package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations the engine is designed
  * around must actually appear in the executed plans — filter pushdown to
  * the parquet scan, column pruning, broadcast of dimension tables, map-
  * side partial aggregation, whole-stage codegen, and top-k without a
  * global sort. A regression in any of these silently turns a scale-ready
  * plan into a full-scan/full-shuffle plan long before it shows up as a
  * wrong answer, so they are pinned here like unit tests. */
class PlanSpec extends SparkSuite {

  /** AQE wraps the tree in AdaptiveSparkPlanExec, whose children are not
    * visible to collect(); unwrap to the current physical plan. */
  private def unwrapped(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  private def plan(df: DataFrame): String = unwrapped(df).toString()

  /** Untruncated scan metadata (the plan's toString elides long filter
    * lists behind "..."). */
  private def scanMeta(df: DataFrame, key: String): String =
    unwrapped(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.metadata.getOrElse(key, "")).mkString("\n")

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  test("q6: selective filters reach the parquet scan (PushedFilters)") {
    val pf = scanMeta(q("q6_selective_filter"), "PushedFilters")
    assert(pf.contains("GreaterThanOrEqual(l_shipdate") &&
      pf.contains("LessThan(l_shipdate"),
      s"shipdate range must push into the scan: $pf")
  }

  test("q6: column pruning — scan reads only the needed columns") {
    val readSchema = scanMeta(q("q6_selective_filter"), "ReadSchema")
    // 4 referenced columns; the 11-column lineitem schema must NOT be read
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .forall(readSchema.contains), readSchema)
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_orderkey"),
      s"scan reads more than the projection needs: $readSchema")
  }

  test("q3: dimension broadcast + top-k without global sort") {
    val p = plan(q("q3_topk"))
    assert(p.contains("BroadcastHashJoin"),
      "customer dim must broadcast:\n" + p.take(1200))
    assert(p.contains("TakeOrderedAndProject"),
      "LIMIT after ORDER BY must plan as top-k, not global sort:\n" +
        p.take(1200))
  }

  test("q1: aggregation is partial (map-side) then final, in codegen") {
    val df = q("q1_agg")
    df.collect() // AQE wraps codegen stages only once stages execute
    val p = plan(df)
    val n = "HashAggregate".r.findAllIn(p).size
    assert(n >= 2, s"expected partial+final HashAggregate, got $n:\n" +
      p.take(1200))
    // codegen stages print as "*(n) HashAggregate..." in the final plan
    assert(p.contains("*(") && p.contains(") HashAggregate"),
      "agg must stay in whole-stage codegen:\n" + p.take(1200))
  }

  test("sync fixtures: raw-ts time filter pushes into the events scan") {
    val pf = scanMeta(queries.Fixtures.sriTarget(spark, sfDir), "PushedFilters")
    assert(pf.contains("IsNotNull(ts)") && pf.contains("LessThan(ts"),
      s"pre-projection ts filter must reach the scan: $pf")
  }

  test("merge_delta: tombstone/staged deletes are anti-joins, no shuffle " +
    "of the unmatched side payloads") {
    val p = plan(q("merge_delta"))
    assert(p.contains("LeftAnti"), "delete semantics must plan as anti-join")
  }

  test("dedup keep-latest plans one shuffle: window over partitionBy keys") {
    val p = plan(q("a1_dedup_keep_latest"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"keep-latest should shuffle on href once (+orderBy), got $exchanges:\n"
        + p.take(1500))
  }

  test("heavy hitters: candidate set broadcasts, token stream never " +
    "shuffles whole") {
    val df = q("agg_heavy_hitters")
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "candidate recount must be a broadcast semi-join:\n" + p.take(1500))
    // the only hash exchanges allowed: candidate distinct (tiny) and the
    // post-filter recount groupBy (heavy keys only) — the raw token
    // explode must not feed an exchange directly
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"token stream leaked into a full shuffle ($exchanges exchanges):\n" +
        p.take(1500))
  }

  test("pack_chunks: one shuffle feeds the window; explode stays narrow") {
    val p = plan(q("samp_pack_chunks"))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx === 1,
      s"concat-and-chunk needs exactly the group-window exchange, got " +
        s"$hashEx:\n" + p.take(1500))
    assert(p.contains("Generate explode"),
      "bin fan-out must be a narrow Generate:\n" + p.take(1500))
  }

  test("dd_semantic: centroids broadcast into the cell assignment") {
    // the final dd_semantic plan is dominated by the (eagerly pinned)
    // component loop, so pin the assignment stage directly
    val emb = Tables.embeddings(spark, sfDir)
    val df = graft.ops.Similarity.assignCells(emb,
      emb.where(col("vec_id") % 61 === 0))
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "centroid set must broadcast (corpus streams once):\n" + p.take(1500))
  }

  test("range_overlap_join dedups by predicate, not by a distinct pass") {
    val df = q("range_overlap_join")
    df.collect()
    val p = plan(df)
    // pairs must NOT be deduped via HashAggregate-distinct after the join:
    // the first-shared-bin residual keeps exactly one copy
    val aggAfterJoin = p.linesIterator
      .dropWhile(l => !l.contains("SortMergeJoin") &&
        !l.contains("ShuffledHashJoin"))
      .count(_.contains("HashAggregate"))
    assert(aggAfterJoin === 0,
      "overlap dedup must be the residual predicate, not an aggregate:\n" +
        p.take(1500))
  }

  test("dd_substring: rare-window join is shuffle_hash, never broadcast") {
    // the rare-window set scales with duplicated volume (NOT dim-sized);
    // the planner's post-agg size estimate runs low and a broadcast
    // build OOMed the driver at the 300k-doc decade probe — the hint in
    // substringSpans pins the scale-correct plan
    val p = plan(q("dd_substring"))
    assert(p.contains("ShuffledHashJoin"),
      s"rare-window join must be shuffle_hash:\n${p.take(1200)}")
    val bad = p.linesIterator
      .filter(_.contains("BroadcastHashJoin")).mkString("\n")
    assert(bad.isEmpty,
      s"no broadcast may appear in the substring pipeline:\n$bad")
  }

  test("sim_quantized_topk: probe side broadcasts, corpus never shuffles " +
      "before the top-k window") {
    // the graded query pins its small result off the temp sketch store
    // (localCheckpoint) to delete the store before returning, which
    // hides the scoring plan — pin the stored-regime plan directly:
    // parquet sketch scan → broadcast probe join → per-query window
    val emb = Tables.embeddings(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("sq8_plan").toString
    graft.ops.Similarity.quantizeInt8(emb)
      .write.mode("overwrite").parquet(store)
    val p = plan(graft.ops.Similarity.quantizedTopKOnSketch(
      spark.read.parquet(store),
      emb.where(col("vec_id") % 50 === 0), 5))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"probe side must broadcast:\n${p.take(1200)}")
    // the only Exchange hash partitioning allowed is the per-query
    // window's — the corpus scan must feed the join directly
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size <= 1,
      s"corpus must stream into the broadcast join (one window exchange " +
        s"max):\n${exchanges.mkString("\n")}")
  }

  test("emb_gram_int8: pair blow-up collapses map-side — partial then " +
      "final HashAggregate, one d²-row exchange") {
    val df = q("emb_gram_int8")
    df.collect()
    val p = plan(df)
    // the d(d+1)/2-per-vector product explosion must hit a PARTIAL hash
    // aggregate before any exchange: the shuffle then carries
    // O(partitions·d²) rows regardless of corpus size
    val n = "HashAggregate".r.findAllIn(p).size
    assert(n >= 2, s"expected partial+final HashAggregate, got $n:\n" +
      p.take(1500))
    val genIdx = p.linesIterator.indexWhere(_.contains("Generate explode"))
    val exIdx = p.linesIterator.indexWhere(
      _.contains("Exchange hashpartitioning"))
    val aggBelowExchange = p.linesIterator.zipWithIndex
      .filter(_._1.contains("HashAggregate")).map(_._2).exists(_ > exIdx)
    assert(genIdx > exIdx && aggBelowExchange,
      "partial agg must sit between the explode and the exchange " +
        "(plans print top-down):\n" + p.take(1500))
  }

  test("txt_lm_coverage: top-500 model is TakeOrdered (no global sort) " +
      "and broadcasts into the coverage semi-join") {
    val df = q("txt_lm_coverage")
    df.collect()
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      "model cut must be per-partition top-k, not a global sort:\n" +
        p.take(1500))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "model table must broadcast into the coverage semi-join:\n" +
        p.take(1500))
  }

  test("ts_resample aggregates before the spine explode") {
    val p = plan(q("ts_resample"))
    // the Generate (spine explode) must sit ABOVE the per-(key, step)
    // aggregate in the plan text (plans print top-down), i.e. explode
    // consumes aggregated rows, never raw events
    val genIdx = p.linesIterator.indexWhere(_.contains("Generate explode"))
    val aggIdx = p.linesIterator.zipWithIndex
      .filter(_._1.contains("HashAggregate")).map(_._2).toSeq
    assert(genIdx >= 0 && aggIdx.exists(_ > genIdx),
      "spine explode must read the per-step aggregate, not raw events:\n" +
        p.take(1500))
  }

  test("graph_label_prop: the plurality argmax is a hash aggregate, " +
      "never a sort window") {
    // the per-round winner used to be row_number() over a sort window —
    // 1.9× slower than max(struct(c, -label)) and a per-round sort of
    // every vote partition; pin the aggregate shape so it cannot regress
    val p = plan(q("graph_label_prop"))
    assert(!p.contains("Window"),
      "label propagation must not plan a window:\n" + p.take(1500))
    assert(p.contains("HashAggregate"),
      "plurality argmax must hash-aggregate:\n" + p.take(1500))
  }

  test("sim_mmr_rerank: the probe-bounded candidate set broadcasts " +
      "back over the sketch; the corpus side never shuffles before it") {
    // the graded query pins its result off a temp sketch store
    // (localCheckpoint, same hygiene as sim_quantized_topk), which
    // hides the scoring plan — pin the stored-regime plan directly
    val emb = Tables.embeddings(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("mmr_plan").toString
    graft.ops.Similarity.quantizeInt8(emb)
      .write.mode("overwrite").parquet(store)
    val df = graft.ops.Similarity.mmrRerankOnSketch(
      spark.read.parquet(store),
      emb.where(col("vec_id") % 50 === 0), cands = 20, k = 8)
    df.collect() // settle AQE so the final physical plan is inspectable
    val p = plan(df)
    // candidate-vector fetch: sketch ⋈ broadcast(topk) — a sort-merge
    // or shuffled-hash join here would shuffle the whole corpus to
    // serve |probes|·cands rows
    assert(p.contains("BroadcastHashJoin"),
      "candidate set must broadcast over the sketch:\n" + p.take(1500))
    // the greedy fold keys on query_id only — the corpus-sized side
    // reaches it exclusively through the broadcast join above, so no
    // SortMergeJoin may appear anywhere in the plan
    assert(!p.contains("SortMergeJoin"),
      "corpus-side shuffle join leaked into the MMR plan:\n" + p.take(1500))
  }

  test("curate_funnel_full lm stage: model cut is TakeOrdered, coverage " +
      "is a broadcast semi-join, bigrams are NOT re-shuffled for it") {
    // the graded query's tail is truncated by the tokenBudget pins, so
    // pin the lm-stage composition directly (the mmr pattern): gate →
    // bigram model → coverage filter. The corpus-sized bigram frame
    // must reach the coverage count through a BROADCAST of the top-500
    // model — a shuffle join here would re-exchange corpus×tokens rows.
    import graft.ops.TextOps
    val gated = Tables.documents(spark, sfDir)
      .where(col("n_chars").between(100L, 10000L))
      .select(col("doc_id"), col("text"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      .where(col("n_tok").between(20L, 2000L))
    val bi = gated.select(col("doc_id"),
      explode(TextOps.bigrams(col("text"))).as("b"))
    val top = bi.groupBy("b").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("b").asc).limit(500).select("b")
    val cov = bi.join(broadcast(top), Seq("b"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_cov"))
    val fluent = gated.join(cov, Seq("doc_id"), "left")
      .where(coalesce(col("n_cov"), lit(0L)) * 5 >= (col("n_tok") - 1) * 3)
    fluent.collect() // settle AQE
    val p = plan(fluent)
    assert(p.contains("TakeOrderedAndProject"),
      "model cut must be per-partition top-k:\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "coverage must broadcast the model into a semi-join:\n" +
        p.take(1500))
  }

  /** No join of any kind and no per-vector (vec_id-keyed) shuffle: the
    * driver-held centroids reach each row as a plan literal. */
  private def assertMapOnlyAssignment(p: String): Unit = {
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "the assignment must not join the centroids:\n" + p.take(1500))
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      "the assignment must not shuffle the corpus by vec_id:\n" +
        p.take(1500))
  }

  test("emb_kmeans: the assignment against the driver-held centroids is " +
      "map-only (no join, no vec_id shuffle) and never window-sorts") {
    val df = q("emb_kmeans")
    df.collect() // settle AQE
    val p = plan(df)
    assertMapOnlyAssignment(p)
    // the per-vector argmin is one generated loop over the cells, never
    // a row_number window (which would sort every partition)
    assert(!p.contains("RunningWindowFunction") &&
      !p.contains("Window"),
      "argmin must not be a sort window:\n" +
        p.take(1500))
  }

  test("sim_pq_topk: the probe distance TABLE broadcasts into the " +
      "codes join — the corpus codes never sort-merge-join, and the " +
      "(query, vector) ADC sums partial-aggregate before the exchange") {
    val df = q("sim_pq_topk")
    df.collect() // settle AQE
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "probe table must broadcast into the ADC lookup:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "corpus-side shuffle join leaked into the ADC plan:\n" +
        p.take(1500))
    // the m-lookups-per-vector sum collapses map-side before shuffling
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "ADC sum must partial-aggregate before the exchange:\n" +
        p.take(1500))
  }

  test("ts_acf: per-key totals broadcast back onto the series; all " +
      "seven lags ride one Window operator") {
    val p = plan(q("ts_acf"))
    assert(p.contains("BroadcastHashJoin"),
      "totals must broadcast-join (they are key-cardinality-sized):\n" +
        p.take(1500))
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1,
      s"all lags must share ONE window pass, found $windows:\n" +
        p.take(1500))
  }

  test("evt_attribution: the as-of match is a keyed window, never a " +
      "theta/cross join over clicks x purchases") {
    val p = plan(q("evt_attribution"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "attribution planned a theta join — the AsOf union+window " +
        "shape regressed:\n" + p.take(1500))
  }

  test("ts_cusum: cumsum and both running extrema share one window " +
      "partitioning — a single exchange, no sequential scan") {
    val df = q("ts_cusum")
    df.collect() // settle AQE
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "per-key allowance must broadcast back:\n" + p.take(1500))
    // the extrema Window (over C) chains onto the cumsum Window's
    // partitioning: no Exchange may sit between the two Window nodes
    val wIdx = "\\bWindow\\b".r.findAllMatchIn(p).map(_.start).toSeq
    assert(wIdx.size == 2,
      s"expected exactly two Window passes, got ${wIdx.size}:\n" +
        p.take(2000))
    val between = p.substring(wIdx.head, wIdx.last)
    assert(!between.contains("Exchange"),
      "the second window re-exchanged an already-partitioned frame:\n" +
        between.take(1500))
  }

  test("dd_ppjoin: candidate generation is a keyed join, never a " +
      "cartesian pair scan") {
    val p = plan(q("dd_ppjoin"))
    assert(!p.contains("CartesianProduct"),
      "prefix join degenerated to all-pairs:\n" + p.take(1500))
  }

  test("ret_rrf: the fusion stage is union + hash aggregate + one " +
      "bounded top-k window — no join over the corpus") {
    val df = q("ret_rrf")
    df.collect() // settle AQE
    val p = plan(df)
    assert(p.contains("Union"), "fusion must union the rank lists:\n" +
      p.take(1200))
    assert(!p.contains("SortMergeJoin") ||
      !p.split("Union")(0).contains("SortMergeJoin"),
      "nothing above the union may re-join the corpus:\n" + p.take(2000))
  }

  test("doc_skyline: the bucket frontier broadcasts back; no " +
      "all-pairs dominance join exists in the plan") {
    val df = q("doc_skyline")
    df.collect() // settle AQE
    val p = plan(df)
    // scalar extent + bucket frontier both ride broadcast joins; the
    // only nested-loop allowed is the 1-row extent crossJoin
    assert(!p.contains("CartesianProduct"),
      "skyline planned a cartesian dominance join:\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "bucket frontier must broadcast:\n" + p.take(1500))
  }

  test("evt_rfm: the nine quartile cuts ride ONE 1-row broadcast; " +
      "bucket assignment is a map-side compare, not a join per metric") {
    val df = q("evt_rfm")
    df.collect() // settle AQE
    val p = plan(df)
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 3, // horizon scalar + n scalar + cuts row
      s"more than the three scalar broadcasts appeared ($bnl):\n" +
        p.take(2000))
    assert(!p.contains("CartesianProduct"),
      "rfm planned a cartesian:\n" + p.take(1500))
  }

  test("evt_rfm: no single-partition Window over the customer frame — " +
      "ranks are range-partitioned (Ranks.globalRowNumber)") {
    val df = q("evt_rfm")
    df.collect() // settle AQE
    // descend into AQE query stages, which collect() treats as leaves
    def deepWins(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepWins(q.plan)
      }.flatten
    val globalWins = deepWins(unwrapped(df)).filter(_.partitionSpec.isEmpty)
    // the only unpartitioned window allowed is the P-row range-offset
    // prefix sum (bounded by numRanges, not the data) — it must not
    // carry customer rows
    globalWins.foreach { w =>
      assert(!w.output.map(_.name).contains("cust"),
        s"customer frame dragged through one task: $w")
    }
  }

  test("samp_token_budget: the marginal class never runs through one " +
      "window partition — its cumsum is range-partitioned " +
      "(Ranks.globalCumSum)") {
    val df = q("samp_token_budget")
    df.collect() // settle AQE; the 20k budget forces a marginal class
    def deepWins(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepWins(q.plan)
      }.flatten
    val wins = deepWins(unwrapped(df))
    wins.foreach { w =>
      // every data-carrying window must be partitioned by the range
      // pid; the only unpartitioned window allowed is the P-row offset
      // frame (bounded by numRanges, not the data) — it must not carry
      // document rows
      if (w.partitionSpec.isEmpty)
        assert(!w.output.map(_.name).contains("doc_id"),
          s"marginal class dragged through one task: $w")
      else
        assert(w.partitionSpec.map(_.toString).exists(_.contains("__pid")),
          s"marginal-class window keyed on the data-sized class: $w")
    }
  }

  test("louvain cap: no single-partition-per-community sort of the " +
      "proposal frame — the in-migration rank is two-phase " +
      "(salted local top-n_c, then rank over survivors)") {
    import ops.Graph
    // a hub: node 0 adjacent to 1..40 — every neighbor proposes to
    // enter the hub's community, the exact shape the cap exists for
    import spark.implicits._
    val e = (1 to 40).map(_.toLong).toDF("hi")
      .selectExpr("0L as lo", "hi", "1L as w")
    val b = (0 to 40).map(_.toLong).toDF("node")
      .selectExpr("node", "node as comm")
    val df = Graph.louvainMoveRoundWeighted(e, b, capInMigration = true)
    df.collect() // settle AQE so QueryStageExec children are final
    def deepWins(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepWins(q.plan)
      }.flatten
    val wins = deepWins(unwrapped(df))
    val byCommOnly = wins.filter { w =>
      val keys = w.partitionSpec.map(_.toString)
      keys.exists(_.contains("c#")) && !keys.exists(_.contains("__salt"))
    }
    assert(byCommOnly.nonEmpty, "expected a final per-community rank window")
    byCommOnly.foreach { w =>
      // the (c)-only window may rank ONLY the phase-1 survivors: a
      // Filter on the salted local rank (__rk1 <= n_c) must sit below
      // it — the raw proposal frame never reaches a per-community sort
      def hasPhase1Filter(p: org.apache.spark.sql.execution.SparkPlan)
          : Boolean =
        p.collect {
          case f: org.apache.spark.sql.execution.FilterExec =>
            f.condition.toString.contains("__rk1")
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            hasPhase1Filter(q.plan)
        }.exists(identity)
      assert(hasPhase1Filter(w.child),
        s"per-community window ranks the RAW proposal frame: $w")
    }
    assert(wins.exists(_.partitionSpec.map(_.toString)
        .exists(_.contains("__salt"))),
      "phase-1 salted window missing — cap regressed to single-phase")
  }

  test("sim_kcenter: the chosen set broadcasts into the distance " +
      "pass — the corpus sketch never shuffles for it") {
    val df = q("sim_kcenter")
    df.collect() // settle AQE (runs the greedy rounds)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      "a corpus-side shuffle join appeared in the k-center serve:\n" +
        p.take(2000))
  }

  test("curate_setcover: each greedy round is anti-join + count + " +
      "1-row argmax — no cartesian, no global sort") {
    val df = q("curate_setcover")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("GlobalLimit 1\n+- Sort"),
      "setcover argmax regressed to sort-limit or cartesian:\n" +
        p.take(1500))
  }

  test("dd_semdedup: the pair join is an equi-join on cell — no " +
      "cartesian anywhere in the dedup plan") {
    val df = q("dd_semdedup")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "semdedup pair space must stay cell-blocked:\n" + p.take(1500))
  }

  test("curate_dsir: the bucket weight table broadcasts into the " +
      "scoring pass; the corpus is never shuffled on doc features") {
    val df = q("curate_dsir")
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "weight table must broadcast into the score join:\n" + p.take(1500))
  }

  test("layout_locality: both curve keys are map-side expressions — " +
      "no Sort node anywhere (key-range blocks, not sorted files)") {
    val df = q("layout_locality")
    df.collect()
    val p = plan(df)
    // the only Sort allowed is the 2-row final orderBy(scheme)
    val sorts = "(?m)^\\s*\\+?-?\\s*Sort ".r.findAllIn(p).length
    assert(sorts <= 1, s"unexpected sorts in the layout audit plan:\n" +
      p.take(1500))
  }

  test("ret_chunk_bm25: corpus postings semi-join the broadcast query " +
      "vocabulary before the tf shuffle") {
    val df = q("ret_chunk_bm25")
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "query-vocab semi-join must broadcast ahead of the tf agg:\n" +
        p.take(1500))
  }

  test("centroidStats: the (cell, d) sums partial-aggregate map-side " +
      "before the exchange; the assignment is map-only") {
    val sk = graft.ops.Similarity.quantizeInt8(
      Tables.embeddings(spark, sfDir))
    val cent = graft.ops.Similarity.kmeansInt8(sk, k = 4, iters = 1)
      .centroids
    val df = graft.ops.Similarity.centroidStats(sk, cent)
    df.collect() // settle AQE
    val p = plan(df)
    assertMapOnlyAssignment(p)
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "(cell, d) sums must partial-aggregate before the exchange:\n" +
        p.take(1500))
  }

  test("samp_inverse_cdf: interval lookup is a broadcast HASH join on " +
      "the weight-mass bucket — never a nested-loop over N×M; corpus " +
      "rows never drag through an unpartitioned window") {
    val df = q("samp_inverse_cdf")
    df.collect() // settle AQE
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "draws must hash-join the bucket key:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"),
      "inverse-CDF planned a cartesian:\n" + p.take(1500))
    // descend into AQE stages: the only unpartitioned window allowed is
    // globalCumSum's P-row range-offset prefix sum
    def deepWins(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      sp.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepWins(s.plan)
      }.flatten
    deepWins(unwrapped(df)).filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(!w.output.map(_.name).contains("doc_id"),
        s"corpus frame dragged through one task: $w")
    }
  }

  test("graph_modularity: the edge-count scalar broadcasts; no " +
      "cartesian anywhere in the community scoring") {
    val df = q("graph_modularity")
    df.collect() // settle AQE (runs the label-prop rounds)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "modularity planned a cartesian:\n" + p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "1-row m must ride a broadcast:\n" + p.take(1500))
  }

  test("samp_systematic: after the range-partitioned cumsum the hit " +
      "count is a pure map — no join against a probe side, no corpus " +
      "rows through an unpartitioned window") {
    val df = q("samp_systematic")
    df.collect() // settle AQE
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "systematic sampling planned a cartesian:\n" + p.take(1500))
    // the only joins allowed: globalCumSum's P-row offset broadcast and
    // the 1-row (step, off) scalar broadcast — never a shuffle join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a corpus-side shuffle join appeared:\n" + p.take(2000))
    def deepWins(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      sp.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepWins(s.plan)
      }.flatten
    deepWins(unwrapped(df)).filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(!w.output.map(_.name).contains("doc_id"),
        s"corpus frame dragged through one task: $w")
    }
  }

  test("sim_nn_descent: every stage is an id-keyed equi-join — no " +
      "cartesian, and no window runs unpartitioned (per-query candidate " +
      "sets rank inside their query partition)") {
    val df = q("sim_nn_descent")
    df.collect() // settle AQE
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "nn-descent planned a cartesian:\n" + p.take(1500))
    def deepWins(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      sp.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepWins(s.plan)
      }.flatten
    val wins = deepWins(unwrapped(df))
    assert(wins.nonEmpty, "expected the rank windows in the plan")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"an unpartitioned (single-task) window appeared: $w")
    }
  }

  test("txt_min_pieces: the DP expression runs inside whole-stage " +
      "codegen (no interpreted fallback in the per-token hot path)") {
    val df = q("txt_min_pieces")
    df.collect() // settle AQE (also runs the vocab-training collect)
    def deepWSCG(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.WholeStageCodegenExec] =
      sp.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          Seq(w)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepWSCG(s.plan)
      }.flatten
    val hot = deepWSCG(unwrapped(df))
      .filter(_.child.toString.contains("min_pieces"))
    assert(hot.nonEmpty,
      "min_pieces fell out of whole-stage codegen:\n" + plan(df).take(2000))
  }

  test("ts_sax: no data-sized single-task window — the equi-depth " +
      "symbols come from a range-partitioned global rank; the only " +
      "unpartitioned window is the P-row per-range offset frame") {
    val df = q("ts_sax")
    df.collect() // settle AQE
    def deepWins(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      sp.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepWins(s.plan)
      }.flatten
    val unpart = deepWins(unwrapped(df)).filter(_.partitionSpec.isEmpty)
    assert(unpart.nonEmpty, "expected the P-row range-offset window " +
      "(Ranks.globalRowNumber prefix sum)")
    unpart.foreach { w =>
      val cols = w.child.output.map(_.name)
      assert(cols.forall(_.startsWith("__")) && cols.contains("__pid"),
        s"a data-sized frame rides through one task (expected only the " +
          s"per-range __pid/__cnt offsets): $cols")
    }
  }

  test("KmvBottomK batch form: the aggregation is PARTIAL before the " +
      "exchange — each partition ships at most k entries per group") {
    graft.expr.GraftFunctions.register(spark)
    val agg = org.apache.spark.sql.functions.udaf(
      new graft.expr.KmvBottomK(8))
    val df = Tables.orders(spark, sfDir)
      .select(col("o_orderstatus").as("grp"),
        graft.expr.GraftFunctions
          .java_hash_u32(col("o_custkey").cast("string")).as("hu"),
        col("o_custkey").cast("string").as("k_key"))
      .groupBy("grp").agg(agg(col("hu"), col("k_key")).as("sk"))
    df.collect()
    val p = plan(df)
    assert(p.contains("partial_kmvbottomk"),
      "no map-side partial aggregate in the KMV plan:\n" + p.take(2000))
  }

  test("sim_ivfpq_refined: the refine tier joins the corpus sketch " +
      "against BROADCAST shortlist/probe sides — the sketch never " +
      "shuffles for the rerank") {
    val df = q("sim_ivfpq_refined")
    df.collect() // settle AQE (trains the coarse + PQ codebooks)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "shortlist must broadcast into the sketch scan:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"),
      "the refine tier planned a cartesian:\n" + p.take(1500))
  }

  test("txt_rake: the stoplist rides a BROADCAST join into the token " +
      "stream — the only data-sized exchanges key on doc and word") {
    val df = q("txt_rake")
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "the 16-row stoplist must broadcast:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"),
      "RAKE planned a cartesian:\n" + p.take(1500))
  }

  test("er_pair_features: the name-pair table is a BROADCAST " +
      "nested-loop over the 64-name domain — record-sized data only " +
      "flows through keyed aggregates/joins, never a pair enumeration") {
    val df = q("er_pair_features")
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "name-pair cross must run over a broadcast side:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"),
      "the closed-form count planned a cartesian:\n" + p.take(1500))
  }

  test("er_resolve: blocking runs as EQUI self-joins on the derived " +
      "key over the representative frame — no cartesian anywhere in " +
      "the resolve plan") {
    val df = q("er_resolve")
    df.collect() // settle AQE through the CC rounds
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "the ER pipeline planned a cartesian:\n" + p.take(1500))
  }

  test("graph_betweenness: every level is an id-keyed equi-join — " +
      "no cartesian, no unpartitioned window in the final plan") {
    val df = q("graph_betweenness")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "betweenness planned a cartesian:\n" + p.take(1500))
    assert(!p.contains("Window"),
      "betweenness must aggregate, never sort-window:\n" + p.take(1500))
  }

  test("inc_mp_delta: the delta pair space is key-equi joined (no " +
      "cartesian) and the profile assembles in a hash aggregate") {
    val df = q("inc_mp_delta")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "mp delta planned a cartesian:\n" + p.take(1500))
    assert(p.contains("HashAggregate"),
      "mp delta must min-aggregate the candidates:\n" + p.take(1500))
  }

  test("betweenness IN-LOOP frames (the shape the pinned wrapper " +
      "hides): forward level = equi-join + hash aggregate + anti-join; " +
      "backward step = equi-joins + hash aggregate — no cartesian, no " +
      "window in either") {
    import spark.implicits._
    val adj = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("v", "n")
    val lv0 = Seq(1L).toDF("src")
      .select(col("src"), col("src").as("node"), lit(1L).as("sigma"))
    val fwd = ops.Graph.betweennessForwardLevel(lv0, adj,
      lv0.select("src", "node"))
    fwd.collect()
    val pf = plan(fwd)
    assert(!pf.contains("CartesianProduct") && !pf.contains("Window"),
      "forward level must stay join+aggregate:\n" + pf.take(1500))
    assert(pf.contains("HashAggregate"),
      "sigma must hash-aggregate:\n" + pf.take(1500))
    val bwd = ops.Graph.betweennessBackwardStep(lv0, adj,
      fwd.withColumn("delta", lit(0L)), scale = 1048576L)
    bwd.collect()
    val pb = plan(bwd)
    assert(!pb.contains("CartesianProduct") && !pb.contains("Window"),
      "backward step must stay join+aggregate:\n" + pb.take(1500))
    assert(pb.contains("HashAggregate"),
      "delta must hash-aggregate:\n" + pb.take(1500))
  }

  test("reachSketch IN-LOOP round (the frame each pin executes): " +
      "propagate is an id-keyed equi-join of ARRAY sketches, the " +
      "bottom-k cut is a partial-aggregated KmvMergeK fold — no " +
      "cartesian, no window, no exploded per-entry fan-out") {
    import spark.implicits._
    graft.expr.GraftFunctions.register(spark)
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val sk0 = e.select(col("src").as("grp"))
      .unionByName(e.select(col("dst").as("grp"))).distinct()
      .select(col("grp"),
        array(struct(
          graft.expr.GraftFunctions.java_hash_u32(col("grp").cast("string"))
            .as("hu"),
          col("grp").as("kv"))).as("entries")) // r14: all-long entries
    val prop = sk0.join(e, sk0("grp") === e("src"))
      .select(col("dst").as("grp"), col("entries"))
    val round = sk0.unionByName(prop)
      .groupBy("grp")
      .agg(graft.expr.GraftFunctions
        .kmv_merge_arr(col("entries"), lit(4)).as("entries"))
    round.collect()
    val p = plan(round)
    assert(!p.contains("CartesianProduct"),
      "a sketch round planned a cartesian:\n" + p.take(1500))
    assert(!p.contains("Window"),
      "the array-sketch round must not window:\n" + p.take(1500))
    // the cut must be TRUE partial aggregation: a partial_kmv_merge_arr
    // appears below the exchange (map-side k-cap before the shuffle)
    assert(p.toLowerCase.contains("partial_kmv_merge_arr"),
      "expected the KmvMergeArr partial aggregate:\n" + p.take(2000))
  }

  test("graph_reach_sketch end-to-end: estimate terms read as pure " +
      "projections of the pinned array sketches — no cartesian, no " +
      "window, no per-round aggregation exchange") {
    val df = q("graph_reach_sketch")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "reach sketch planned a cartesian:\n" + p.take(1500))
    // the only exchange is the output sort's rangepartitioning — the
    // per-round estimate terms themselves are projections, never an
    // aggregate over the pinned sketches
    assert(!p.contains("HashAggregate"),
      "estimate terms must not aggregate (pure projection):\n" +
        p.take(1500))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2,
      s"expected only the output-sort exchange, got $exchanges:\n" +
        p.take(1500))
  }

  test("sim_graph_search: every beam round is an id-keyed equi-join + " +
      "a query-partitioned rank window; the only nested loop is the " +
      "4-row entry broadcast — no CartesianProduct, no unpartitioned " +
      "window") {
    val df = q("sim_graph_search")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "beam search planned a cartesian:\n" + p.take(1500))
    def deepWins(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      sp.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepWins(s.plan)
      }.flatten
    deepWins(unwrapped(df)).foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"a beam rank window ran single-task: $w")
    }
  }

  test("inc_contam_delta: both benchmark shingle sets ride broadcasts " +
      "into the corpus probe (the corpus never shuffles on shingles); " +
      "no cartesian") {
    val df = q("inc_contam_delta")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "contamination delta planned a cartesian:\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin"),
      "the shingle probe must broadcast:\n" + p.take(1500))
    assert(p.contains("HashAggregate"),
      "hit counts must hash-aggregate:\n" + p.take(1500))
  }
}
