package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Graph, TimeSeries}

/** Round-12 fourth batch: sampled-source betweenness centrality (the
  * missing classic next to PageRank/HITS/closeness), binary-segmentation
  * change points (the segmentation half the CUSUM flags only gesture
  * at), and streaming per-group top-k (the TopKAggregator buffer as
  * bounded streaming state).
  *
  * Reference scope note: the reference (sri2db) has none of these —
  * north-star extensions in the established exact-integer idiom.
  */
object Pipeline26Queries {

  type Q = (SparkSession, String) => DataFrame

  private val BcSeeds = 4        // betweenness sampled sources
  private val BcHorizon = 4      // hop horizon (the graph_bfs contract)
  private val BcScale = 1L << 20 // dependency fixed-point scale
  private val TopK = 5           // streaming top-k width

  val queries: Map[String, Q] = Map(

    "graph_betweenness" -> ((s, dir) => {
      // Brandes betweenness from the 4 smallest vertices of the top-5
      // supplier co-occurrence graph (graph_ktruss's fixture), horizon
      // 4: forward σ counts level by level, backward δ accumulation in
      // 2²⁰-scaled truncated integers — the sampled-source estimator
      // every at-scale implementation uses, here exact and graded.
      val edges = Graph.cooccurTopK(Tables.lineitem(s, dir),
        "l_orderkey", "l_suppkey", k = 5)
      val e = Graph.canonEdges(edges, "item", "co_item")
      val seeds = e.select(col("lo").as("node"))
        .unionByName(e.select(col("hi").as("node")))
        .distinct().orderBy("node").limit(BcSeeds)
      Graph.betweennessFixed(edges, "item", "co_item", seeds, "node",
          horizon = BcHorizon, scale = BcScale)
        .orderBy("node")
    }),

    "ts_binseg" -> ((s, dir) => {
      // depth-2 binary segmentation of the daily order-count series per
      // priority: root split maximizes the scaled CUSUM |n·P_k − k·T|,
      // each half splits once more with the statistic localized — the
      // change-POINT report beside ts_cusum's drift flags.
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("pri"),
          col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      TimeSeries.binarySegment(daily, Seq("pri"), col("day"), "x")
        .withColumnRenamed("cp_o", "cp_day")
        .orderBy("pri", "seg")
    }),

    "emb_pca_project" -> ((s, dir) => {
      // the read path emb_power_iter exists FOR: project every vector
      // onto the dominant eigenvector of the int8 gram — the 1-d PCA
      // coordinate (whitening/indexing prep). The d-long eigenvector is
      // driver-held, so the projection is one map-only exact dot
      // product per vector against it as a literal — no join, no
      // shuffle before the final sort.
      val sk = graft.ops.Similarity.quantizeInt8(
        Tables.embeddings(s, dir))
      val v = graft.ops.Similarity.powerIterInt(sk, rounds = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      require(v.map(_._1).toSeq == (1L to v.length.toLong),
        "emb_pca_project: eigenvector dims must be 1..d")
      sk.select(col("vec_id"), graft.expr.GraftFunctions.dot_ll(
          col("q_emb"), typedlit(v.map(_._2).toSeq)).as("proj"))
        .orderBy("vec_id")
    }),

    "stream_topk" -> ((s, dir) => {
      // streaming per-event-type top-5 spend events: the TopKAggregator
      // buffer (≤ k (cents, id) pairs per group) IS the state — the
      // stream_cms/stream_kmv bounded-state regime — and because merge
      // is a k+k trim over a total order, the complete-mode final
      // emission equals the batch top-k for ANY batching of the input.
      StreamDrains.drain(s,
          StreamDrains.topkPipeline(
            Pipeline6Queries.eventsStream(s, dir), TopK),
          "complete", "stopk")
        .select(col("grp"), posexplode(col("tk")))
        .select(col("grp"), (col("pos") + 1).cast("long").as("rnk"),
          col("col._1").as("v_cents"), col("col._2").as("event_id"))
        .orderBy("grp", "rnk")
    })
  )

  // --------------------------------------------------------------------
  // Oracles
  // --------------------------------------------------------------------

  /** Brandes unrolled: forward levels l0..l4 (σ per source), backward
    * d4..d1 (scaled δ), summed into bc. */
  private val betweennessOracle: String = {
    def level(t: Int): String =
      s"""l$t AS (SELECT l.src, a.n AS node,
         |    CAST(SUM(l.sigma) AS BIGINT) AS sigma
         |  FROM l${t - 1} l JOIN adj a ON a.v = l.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${t - 1} p
         |    WHERE p.src = l.src AND p.node = a.n)
         |  GROUP BY 1, 2),
         |v$t AS (SELECT src, node FROM v${t - 1}
         |        UNION ALL SELECT src, node FROM l$t)""".stripMargin
    def dep(t: Int): String =
      s"""d$t AS (SELECT l.src, l.node,
         |    COALESCE(c.c, CAST(0 AS BIGINT)) AS delta
         |  FROM l$t l LEFT JOIN (
         |    SELECT q.src, q.node,
         |      CAST(SUM((q.sigma * ($BcScale + d.delta)) // w.sigma)
         |        AS BIGINT) AS c
         |    FROM l$t q JOIN adj a ON a.v = q.node
         |    JOIN l${t + 1} w ON w.src = q.src AND w.node = a.n
         |    JOIN d${t + 1} d ON d.src = q.src AND d.node = a.n
         |    GROUP BY 1, 2) c
         |  ON c.src = l.src AND c.node = l.node)""".stripMargin
    s"""WITH ${Pipeline10Queries.triCtes},
       |adj AS (SELECT lo AS v, hi AS n FROM e
       |        UNION ALL SELECT hi, lo FROM e),
       |sds AS (SELECT node FROM verts ORDER BY node LIMIT $BcSeeds),
       |l0 AS (SELECT node AS src, node, CAST(1 AS BIGINT) AS sigma
       |       FROM sds),
       |v0 AS (SELECT src, node FROM l0),
       |${(1 to BcHorizon).map(level).mkString(",\n")},
       |d$BcHorizon AS (SELECT src, node, CAST(0 AS BIGINT) AS delta
       |                FROM l$BcHorizon),
       |${((BcHorizon - 1) to 1 by -1).map(dep).mkString(",\n")},
       |bc AS (SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_s FROM (
       |    ${(1 to BcHorizon)
            .map(t => s"SELECT node, delta FROM d$t")
            .mkString("\n    UNION ALL ")})
       |  GROUP BY 1)
       |SELECT v.node, COALESCE(bc.bc_s, CAST(0 AS BIGINT)) AS bc_s
       |FROM verts v LEFT JOIN bc ON bc.node = v.node
       |ORDER BY v.node""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "graph_betweenness" -> betweennessOracle,

    "emb_pca_project" ->
      s"""WITH ${Pipeline24Queries.powerIterCtes}
         |SELECT qq.vec_id,
         |  CAST(SUM(qq.qv[f.j] * f.v) AS BIGINT) AS proj
         |FROM qq, ${Pipeline24Queries.powerIterFinal} f
         |GROUP BY 1 ORDER BY qq.vec_id""".stripMargin,

    "ts_binseg" ->
      """WITH daily AS (SELECT o_orderpriority AS pri,
        |    CAST(o_orderdate AS DATE) AS day, COUNT(*) AS x
        |  FROM orders GROUP BY 1, 2),
        |b AS (SELECT pri, day, x,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |    CAST(SUM(x) OVER w AS BIGINT) AS p,
        |    COUNT(*) OVER (PARTITION BY pri) AS n,
        |    CAST(SUM(x) OVER (PARTITION BY pri) AS BIGINT) AS tot
        |  FROM daily WINDOW w AS (PARTITION BY pri ORDER BY day)),
        |r1 AS (SELECT pri, rn, day, abs(n * p - rn * tot) AS g,
        |    ROW_NUMBER() OVER (PARTITION BY pri
        |      ORDER BY abs(n * p - rn * tot) DESC, rn ASC) AS rr
        |  FROM b WHERE rn < n),
        |root AS (SELECT pri, rn AS k1, day, g FROM r1 WHERE rr = 1),
        |pk AS (SELECT b.pri, b.p AS pk1, root.k1 FROM b
        |  JOIN root ON root.pri = b.pri AND b.rn = root.k1),
        |lc AS (SELECT b.pri, b.rn, b.day,
        |    abs(pk.k1 * b.p - b.rn * pk.pk1) AS g,
        |    ROW_NUMBER() OVER (PARTITION BY b.pri
        |      ORDER BY abs(pk.k1 * b.p - b.rn * pk.pk1) DESC, b.rn ASC)
        |      AS rr
        |  FROM b JOIN pk ON pk.pri = b.pri WHERE b.rn < pk.k1),
        |rc AS (SELECT b.pri, b.rn, b.day,
        |    abs((b.n - pk.k1) * (b.p - pk.pk1)
        |      - (b.rn - pk.k1) * (b.tot - pk.pk1)) AS g,
        |    ROW_NUMBER() OVER (PARTITION BY b.pri
        |      ORDER BY abs((b.n - pk.k1) * (b.p - pk.pk1)
        |        - (b.rn - pk.k1) * (b.tot - pk.pk1)) DESC, b.rn ASC)
        |      AS rr
        |  FROM b JOIN pk ON pk.pri = b.pri
        |  WHERE b.rn > pk.k1 AND b.rn < b.n)
        |SELECT pri, 'root' AS seg, k1 AS cp_rn, day AS cp_day,
        |  CAST(g AS BIGINT) AS g FROM root
        |UNION ALL
        |SELECT pri, 'left', rn, day, CAST(g AS BIGINT) FROM lc
        |  WHERE rr = 1
        |UNION ALL
        |SELECT pri, 'right', rn, day, CAST(g AS BIGINT) FROM rc
        |  WHERE rr = 1
        |ORDER BY pri, seg""".stripMargin,

    "stream_topk" ->
      """WITH e AS (SELECT event_type AS grp,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v, event_id
        |  FROM events),
        |r AS (SELECT grp, v, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY grp
        |      ORDER BY v DESC, event_id ASC) AS rnk FROM e)
        |SELECT grp, CAST(rnk AS BIGINT) AS rnk, v AS v_cents, event_id
        |FROM r WHERE rnk <= 5 ORDER BY grp, rnk""".stripMargin
  )
}
