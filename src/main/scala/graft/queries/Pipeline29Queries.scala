package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Pin, Similarity, TimeSeries}
import Pin.PinOps

/** Round-14 batch: (1) the PQ codebook-reuse identity — the 23rd inc_*
  * merge≡rebuild row, matching the production reality that PQ codebooks
  * are trained ONCE on a base corpus and reused to encode arrivals
  * (FAISS's train/add split), so the `sim_ivfpq_*` family gains a
  * cached-codebook ingest path; (2) the streaming matrix-profile drain —
  * the batch append identity (inc_mp_delta, r13) deployed as a
  * foreachBatch monitor with filesystem-checkpointed state.
  *
  * Reference scope note: the reference (sri2db) has no vector or
  * time-series surface — north-star LLM-pipeline extensions in the
  * established exact-integer, oracle-first idiom.
  */
object Pipeline29Queries {

  type Q = (SparkSession, String) => DataFrame

  /** Base/arrival split for inc_pq_delta (the inc_ivf_delta convention,
    * one tier down the ANN stack). */
  private val PqSplit = "vec_id % 7 <> 0"

  /** Weekly order-count series per priority — the ts_matrix_profile /
    * inc_mp_delta fixture, shared by the streaming drain. */
  private def weeklyOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("pri"),
        call_function("div",
          datediff(col("o_orderdate").cast("date"),
            to_date(lit("1970-01-01"))), lit(7L)).as("wn"))
      .agg(count(lit(1)).as("x"))

  val queries: Map[String, Q] = Map(

    "inc_pq_delta" -> ((s, dir) => {
      // the 23rd inc_* identity, on the PQ compression path: encoding
      // under a FIXED codebook is per-row, so codes(B ∪ D) =
      // codes(B) ⊎ encode(D, codebook(B)) exactly — arrivals encode
      // against the broadcast KB codebook without rescanning the base,
      // and ADC serving over the merged code lists must equal the full
      // re-encode rebuild (the oracle). Graded surface = the pqTopK
      // serve over the merged index, so the identity is pinned through
      // ids, ranks AND integer ADC distances.
      val sk = Similarity.quantizeInt8(Tables.embeddings(s, dir)).pin()
      val isNew = !expr(PqSplit)
      val pq = Similarity.pqTrainInt8(sk.where(!isNew),
        m = Pipeline18Queries.PqM, ksub = Pipeline18Queries.PqK,
        iters = Pipeline18Queries.PqIters)
      val cbook = pq.codebook.pin()
      val mergedCodes = pq.codes.select("vec_id", "sub", "code")
        .unionByName(
          Similarity.pqEncode(sk.where(isNew), cbook,
              m = Pipeline18Queries.PqM)
            .select("vec_id", "sub", "code"))
      Similarity.pqTopK(mergedCodes, cbook,
          Tables.embeddings(s, dir).where(col("vec_id") % 50 === 0),
          k = 5, m = Pipeline18Queries.PqM)
        .orderBy("query_id", "rnk")
    }),

    "stream_mp" -> ((s, dir) => {
      // the streaming deployment of inc_mp_delta: the weekly series
      // replays as 4 calendar-suffix microbatches (1 file per trigger,
      // mtime-ordered); each batch folds into the checkpointed profile
      // via the delta-only pair block (old×old never re-scores), and
      // the final state must equal the batch matrix profile — oracle =
      // ts_matrix_profile's full-rebuild SQL verbatim. Restart safety
      // (stop after 2 batches, resume from the checkpoint) is pinned in
      // Round26Spec.
      // whole weeks move together, so every batch is a per-key calendar
      // SUFFIX of the previous ones
      val srcDir =
        Fixtures.writeSlices(weeklyOrders(s, dir), "wn", n = 4, "wk")
      val ckpt = java.nio.file.Files
        .createTempDirectory("smp_ckpt").toString
      val state = java.nio.file.Files
        .createTempDirectory("smp_state").toString
      val stream = s.readStream
        .schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(srcDir)
      graft.streaming.ProfileMonitor.run(s, stream, Seq("pri"), "wn",
        "x", w = 8, maxSeries = 400, stateDir = state, ckptDir = ckpt)
      graft.streaming.ProfileMonitor.profile(s, state)
        .orderBy("pri", "i")
    })
  )

  // --------------------------------------------------------------------
  // Oracles
  // --------------------------------------------------------------------

  val oracles: Map[String, String] = Map(
    // merge must equal the rebuild — PQ trained on the base only, the
    // FULL corpus re-encoded against it, ADC serving on top
    "inc_pq_delta" -> Pipeline10Queries.pqTopkOracleWith(Some(PqSplit)),
    // the streaming fold must land on the batch profile exactly
    "stream_mp" -> Pipeline27Queries.oracles("ts_matrix_profile")
  )
}
