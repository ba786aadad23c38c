package graft.ops

import org.apache.spark.sql.Dataset

/** Lineage pinning with a cluster-survivable fallback.
  *
  * Iterative operators (Graph, DedupText, Selection, Skyline, Cluster,
  * TextOps…) must truncate lineage every round or the plan grows
  * exponentially. `localCheckpoint()` is the fast primitive — blocks
  * live in executor memory/disk, no distributed filesystem round-trip —
  * but those blocks die with their executor: on a real multi-executor
  * cluster a single lost executor fails the whole iterative job (Spark
  * itself WARNs "checkpoint may not be reliable" on every call).
  *
  * `Pin` is the one switch: when a checkpoint directory is configured
  * (`SparkContext.setCheckpointDir` / `spark.checkpoint.dir` — on a
  * cluster that is HDFS/S3, replicated and executor-loss-proof), pin
  * via reliable `checkpoint()`; otherwise (local development,
  * single-JVM bench — the only mode this sandbox can execute) keep the
  * fast local form. Call sites write `.pin()` and never choose.
  *
  * Both are EAGER (the default of both underlying calls): the pinned
  * plan is computed at the call, so per-round driver loops observe the
  * same execution order in either mode.
  *
  * Checkpoint-store hygiene: Spark never deletes reliable checkpoint
  * files during an application unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a
  * SparkContext conf — set it BEFORE the context starts). Iterative
  * operators pin once per round, so a long cluster job without that
  * flag steadily fills the HDFS/S3 checkpoint store; set it (or point
  * `spark.checkpoint.dir` at a TTL'd/auto-cleaned path) whenever
  * reliable mode engages.
  */
object Pin {
  /** True when pinning should go through reliable `checkpoint()`.
    * Default: a checkpoint directory is configured on the context.
    * `graft.pin.reliable` (session conf) overrides either way — the
    * escape hatch for A/B-ing the two modes on one session (specs) or
    * forcing fast local pins on a cluster that has a checkpoint dir
    * set for other reasons. */
  def reliable(ds: Dataset[_]): Boolean =
    ds.sparkSession.conf.getOption("graft.pin.reliable") match {
      case Some(v) => v.toBoolean
      case None =>
        ds.sparkSession.sparkContext.getCheckpointDir.isDefined
    }

  /** NOTE (r15, measured): rebuilding every eager pin's leaf to carry
    * the executed plan's CoalescedHashPartitioning was tried here and
    * REGRESSED the iterative graph loops (graph_louvain 236 → 281
    * jobs, graph_mst +27% wall): consumers joining two pinned frames
    * whose coalesced boundaries disagree cannot co-partition, so AQE
    * re-exchanges BOTH sides where the Unknown leaf re-exchanged one.
    * The stock checkpoint leaf stays. */
  def apply[T](ds: Dataset[T]): Dataset[T] =
    if (reliable(ds)) ds.checkpoint() else ds.localCheckpoint()

  /** LAZY pin: marks the plan for checkpointing but defers
    * materialization to the first downstream action — which computes
    * and caches the pinned blocks as a side effect of its own run
    * (RDD `doCheckpoint` recurses through marked ancestors at job
    * end). For a per-round loop frame whose FIRST consumer already
    * scans it fully (a fixpoint count, a 1-row score read, the next
    * round's pin), the eager pin job is a pure extra pass: the same
    * rows are computed either way, but eager pays one more job
    * launch + one more scan per round. Use the lazy form ONLY when
    * such a full-scan consumer provably runs in the same driver step;
    * otherwise the deferred cost lands somewhere surprising
    * (guide §1.2: remove passes, not reorder them). */
  def lazily[T](ds: Dataset[T]): Dataset[T] =
    if (reliable(ds)) ds.checkpoint(eager = false)
    else ds.localCheckpoint(eager = false)

  /** Pin AND drop the inherited size statistics — for ITERATED round
    * functions that reference their pinned input k > 1 times.
    *
    * Checkpointing carries the origin plan's `sizeInBytes` into the
    * pinned leaf, and the size-only estimator MULTIPLIES sizes across
    * joins — so a round function with k references to the previous
    * round's pin grows the estimate's DIGIT COUNT by ×k per round.
    * Harmless at k ≤ 2 (PageRank-style rounds: linear digits), but a
    * join-rich round like the Louvain move (k ≈ 9) reaches million-
    * digit BigIntegers by round ~6 and Catalyst then spends MINUTES of
    * driver CPU per round inside BigInteger.multiply while planning
    * (measured: level-2 rounds 1.5 s → 3.4 s → 43 s → minutes).
    *
    * Rebuilding the leaf without originStats resets it to the default
    * estimate — per-round planning cost becomes constant. The price:
    * the leaf looks huge to the optimizer (no auto-broadcast of the
    * pinned frame), which is the correct conservative posture for the
    * data-sized assignment frames this exists for; keep plain
    * [[PinOps.pin]] where real stats should feed broadcast decisions.
    *
    * The leaf is rebuilt by `GraftPinShim.dropStats` over the pinned
    * INTERNAL-row RDD, with no statistics and Unknown layout: the
    * blocks' outputPartitioning/outputOrdering are NOT kept (see the
    * coalesced-boundary note at [[apply]]), so a same-key consumer
    * re-exchanges the pinned frame as it would a stock checkpoint. */
  def resetStats(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val cp =
      if (reliable(df)) df.checkpoint() else df.localCheckpoint()
    // rebuild the leaf over the INTERNAL-row RDD (GraftPinShim, r15):
    // the public createDataFrame(cp.rdd, schema) round-trip this used
    // decoded every row to external Row and re-encoded it on every
    // downstream read — a per-reference codec tax on the hottest
    // per-round frames. Layout deliberately NOT forwarded (see apply).
    org.apache.spark.sql.GraftPinShim.dropStats(cp)
  }

  /** [[resetStats]] over a [[lazily]] pin — same stats reset, same RDD
    * leaf, but materialization rides the round's first full-scan
    * consumer instead of its own job. Layout stays Unknown: a lazy
    * pin's runtime partitioning is not knowable before execution. */
  def resetStatsLazy(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftPinShim.dropStats(lazily(df))

  /** DISCIPLINE GUARD (r15, VERDICT r14 #1): how many times
    * `consumer`'s physical plan scans `pinned`'s checkpoint RDD. The
    * lazy-pin contract — the materializing consumer references the
    * pinned frame EXACTLY once and full-scans it — is load-bearing and
    * was previously enforced only by comments: a second
    * pre-materialization reference silently recomputes the pinned
    * subtree per reference (measured: lazy-pinning louvain's 3-ref
    * `cand` regressed 13 → 18-20 s). GuardPinSpec pins this helper
    * against both shapes; use it in specs whenever a new lazy-pin site
    * lands. Counted on the pre-adaptive physical plan (`sparkPlan`):
    * the leaf count is what matters and AQE never duplicates leaves. */
  private[graft] def rddRefCount(consumer: Dataset[_],
                                 pinned: Dataset[_]): Int = {
    val target = pinned.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      case _ => return -1 // not a pinned frame
    }
    consumer.queryExecution.sparkPlan.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec
        if rddChainIds(r.rdd).contains(target) => r
    }.size
  }

  /** All RDD ids along a narrow parent chain (RDDScanExec may wrap the
    * checkpoint RDD in mapping RDDs). */
  private def rddChainIds(rdd: org.apache.spark.rdd.RDD[_]): Set[Int] = {
    val b = Set.newBuilder[Int]
    var cur: Seq[org.apache.spark.rdd.RDD[_]] = Seq(rdd)
    var depth = 0
    while (cur.nonEmpty && depth < 8) {
      cur.foreach(r => b += r.id)
      cur = cur.flatMap(_.dependencies.collect {
        case d: org.apache.spark.NarrowDependency[_] => d.rdd
      })
      depth += 1
    }
    b.result()
  }

  /** `df.pin()` — postfix form, drop-in for `.localCheckpoint()`. */
  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pin(): Dataset[T] = Pin(ds)

    /** Lazy pin ([[Pin.lazily]]) — only where the round's own next
      * action provably full-scans the frame. */
    def pinLazy(): Dataset[T] = Pin.lazily(ds)
  }

  /** `df.pinIter()` — the [[resetStats]] form, for the per-round pin
    * of a join-rich iterated loop. */
  implicit class PinIterOps(private val df: org.apache.spark.sql.DataFrame)
    extends AnyVal {
    def pinIter(): org.apache.spark.sql.DataFrame = resetStats(df)

    /** Lazy [[pinIter]] ([[Pin.resetStatsLazy]]). */
    def pinIterLazy(): org.apache.spark.sql.DataFrame = resetStatsLazy(df)
  }
}
