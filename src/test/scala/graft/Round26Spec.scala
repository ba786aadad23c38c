package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.queries.Fixtures
import graft.streaming.ProfileMonitor

/** Round-14 batch: the PQ codebook-reuse identity (inc_pq_delta, the
  * 23rd inc_* row) and the streaming matrix-profile monitor's restart /
  * replay contract (stream_mp). */
class Round26Spec extends SparkSuite {
  import spark.implicits._

  // ---- inc_pq_delta: encode-under-fixed-codebook is per-row ---------

  test("pqEncode under a base-trained codebook: merged code lists " +
      "equal the full re-encode rebuild (codes, not just serving)") {
    val sk = Similarity.quantizeInt8(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    val isNew = col("vec_id") % 7 === 0
    val pq = Similarity.pqTrainInt8(sk.where(!isNew), m = 8, ksub = 8,
      iters = 2)
    val merged = pq.codes
      .unionByName(Similarity.pqEncode(sk.where(isNew), pq.codebook))
      .select("vec_id", "sub", "code", "dist2")
      .as[(Long, Long, Long, Long)].collect().toSet
    val rebuild = Similarity.pqEncode(sk, pq.codebook)
      .select("vec_id", "sub", "code", "dist2")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(merged === rebuild)
    // the split really split: both sides non-empty
    assert(sk.where(isNew).count() > 0 && sk.where(!isNew).count() > 0)
  }

  test("inc_pq_delta serve: ADC top-k over the merged index equals " +
      "the serve over the full re-encode (same trained codebook)") {
    val sk = Similarity.quantizeInt8(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    val isNew = col("vec_id") % 7 === 0
    val pq = Similarity.pqTrainInt8(sk.where(!isNew), m = 8, ksub = 8,
      iters = 2)
    val probes = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") % 50 === 0)
    def serve(codes: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(codes.select("vec_id", "sub", "code"),
          pq.codebook, probes, k = 5)
        .select("query_id", "rnk", "neighbor_id", "adist")
        .as[(Long, Long, Long, Long)].collect().toSet
    val merged = serve(pq.codes.unionByName(
      Similarity.pqEncode(sk.where(isNew), pq.codebook)))
    val rebuild = serve(Similarity.pqEncode(sk, pq.codebook))
    assert(merged === rebuild)
    assert(merged.nonEmpty)
  }

  // ---- stream_mp: restart + replay contract --------------------------

  private def weekly = {
    val o = Tables.orders(spark, sfDir)
    o.groupBy(col("o_orderpriority").as("pri"),
        call_function("div",
          datediff(col("o_orderdate").cast("date"),
            to_date(lit("1970-01-01"))), lit(7L)).as("wn"))
      .agg(count(lit(1)).as("x"))
  }

  private def batchProfile =
    graft.ops.TimeSeries.matrixProfile(weekly, Seq("pri"), col("wn"),
        "x", w = 8, maxSeries = 400)
      .select("pri", "i", "mp_d2", "mp_j")
      .as[(String, Long, Long, Long)].collect().toSet

  test("ProfileMonitor: a drain STOPPED after two batches and resumed " +
      "from the same checkpoint + state lands on the batch profile " +
      "exactly (the stream_mp restart contract)") {
    val srcAll = Fixtures.writeSlices(weekly, "wn", n = 4, "wk")
    val files = new java.io.File(srcAll).listFiles().sortBy(_.getName)
    assert(files.length === 4)
    // phase 1: only the first two slices are visible; AvailableNow
    // drains them and stops — the graceful-stop half of a restart
    val src = java.nio.file.Files.createTempDirectory("smp_restart").toString
    val ckpt = java.nio.file.Files.createTempDirectory("smp_rck").toString
    val state = java.nio.file.Files.createTempDirectory("smp_rst").toString
    def copy(i: Int): Unit = {
      val dst = new java.io.File(src, files(i).getName)
      java.nio.file.Files.copy(files(i).toPath, dst.toPath)
      assert(dst.setLastModified(files(i).lastModified()))
    }
    def drive(): Long = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcAll).schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src)
      ProfileMonitor.run(spark, stream, Seq("pri"), "wn", "x", w = 8,
        maxSeries = 400, stateDir = state, ckptDir = ckpt)
    }
    copy(0); copy(1)
    val b1 = drive()
    assert(b1 === 2L, s"phase 1 ran $b1 batches, expected 2")
    val mid = ProfileMonitor.profile(spark, state)
    assert(mid.count() > 0L, "no profile state after phase 1")
    // phase 2: the remaining slices arrive; the RESUMED stream (same
    // checkpoint) must fold them onto the persisted state
    copy(2); copy(3)
    val b2 = drive()
    assert(b2 >= 2L, s"phase 2 ran $b2 batches, expected the 2 new files")
    val streamed = ProfileMonitor.profile(spark, state)
      .select("pri", "i", "mp_d2", "mp_j")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed === batchProfile,
      "restarted streaming fold diverged from the batch matrix profile")
  }

  test("writeSlices: a series with fewer distinct weeks than slices " +
      "fails naming the empty slice (no NPE on its missing directory)") {
    val twoWeeks = weekly.join(
      weekly.select("wn").distinct().orderBy("wn").limit(2), "wn")
    val e = intercept[IllegalArgumentException](
      Fixtures.writeSlices(twoWeeks, "wn", n = 4, "wk"))
    assert(e.getMessage.contains("slice 3 of 4 is empty"), e.getMessage)
  }

  test("ProfileMonitor.foldBatch: an already-committed batch id is a " +
      "no-op (foreachBatch at-least-once replay safety)") {
    val state = java.nio.file.Files.createTempDirectory("smp_replay").toString
    val rows = Seq.tabulate(20)(i => ("k", i.toLong, (i * i % 7).toLong))
      .toDF("pri", "wn", "x")
    ProfileMonitor.foldBatch(rows, 0L, Seq("pri"), "wn", "x", w = 4,
      maxSeries = 400, stateDir = state)
    val first = ProfileMonitor.profile(spark, state)
      .collect().map(_.toString).sorted.toSeq
    assert(first.nonEmpty)
    // replay the same batch id — state must be untouched (and the read
    // path must not race its own overwrite)
    ProfileMonitor.foldBatch(rows, 0L, Seq("pri"), "wn", "x", w = 4,
      maxSeries = 400, stateDir = state)
    val again = ProfileMonitor.profile(spark, state)
      .collect().map(_.toString).sorted.toSeq
    assert(again === first)
    assert(ProfileMonitor.latestId(state) === Some(0L))
  }

  test("ProfileMonitor.foldBatch: replayed ROWS inside a later batch " +
      "dedupe against the stored series (no double-count, no fence trip)") {
    val state = java.nio.file.Files.createTempDirectory("smp_rows").toString
    val all = Seq.tabulate(24)(i => ("k", i.toLong, (i * 3 % 5).toLong))
    val head = all.take(16).toDF("pri", "wn", "x")
    // batch 1 re-delivers the last 4 rows of batch 0 plus 8 new ones
    val overlap = all.slice(12, 24).toDF("pri", "wn", "x")
    ProfileMonitor.foldBatch(head, 0L, Seq("pri"), "wn", "x", w = 4,
      maxSeries = 400, stateDir = state)
    ProfileMonitor.foldBatch(overlap, 1L, Seq("pri"), "wn", "x", w = 4,
      maxSeries = 400, stateDir = state)
    val streamed = ProfileMonitor.profile(spark, state)
      .select("i", "mp_d2", "mp_j")
      .as[(Long, Long, Long)].collect().toSet
    val rebuild = graft.ops.TimeSeries.matrixProfile(
        all.toDF("pri", "wn", "x"), Seq("pri"), col("wn"), "x", w = 4)
      .select("i", "mp_d2", "mp_j")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === rebuild)
  }

  test("ProfileMonitor.foldBatch: a stored profile whose columns drifted " +
      "fails naming its directory instead of reading the column as nulls") {
    val state = java.nio.file.Files.createTempDirectory("smp_drift").toString
    val rows = Seq.tabulate(20)(i => ("k", i.toLong, (i * i % 7).toLong))
      .toDF("pri", "wn", "x")
    ProfileMonitor.foldBatch(rows.where(col("wn") < 12), 0L, Seq("pri"),
      "wn", "x", w = 4, maxSeries = 400, stateDir = state)
    // the committed profile as an older layout would have stored it:
    // mp_d2 renamed
    Seq(("k", 0L, 5L, 1L)).toDF("pri", "i", "d2", "mp_j")
      .write.mode("overwrite").parquet(s"$state/profile_b0")
    val e = intercept[IllegalStateException] {
      ProfileMonitor.foldBatch(rows.where(col("wn") >= 12), 1L, Seq("pri"),
        "wn", "x", w = 4, maxSeries = 400, stateDir = state)
    }
    assert(e.getMessage.contains(s"$state/profile_b0"), e.getMessage)
    assert(ProfileMonitor.latestId(state) === Some(0L))
  }

  // ---- occupancy-adaptive NN-descent seeding ------------------------

  test("adaptiveBucketed widens the signature prefix with corpus size " +
      "(p=5 at 3000 vectors) and reproduces the fixed-plane bucket " +
      "bit-for-bit below the first threshold") {
    // 3000 deterministic 64-d vectors (hash-derived, no RNG)
    val vecs = spark.range(3000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        (pmod(hash(col("id") * 64 + i), lit(255)) - lit(127))
          .cast("float")).as("embedding"))
    val sk = Similarity.quantizeInt8(vecs)
    val n = sk.count() // quantizeInt8 can drop all-zero vectors
    assert(n > 2048 && n <= 4096, s"fixture drifted: $n vectors")
    val big = Similarity.adaptiveBucketed(sk, planes = 4)
      .agg(countDistinct(col("bucket")).as("d"),
        max(col("bucket")).as("mx"))
      .as[(Long, Long)].head()
    // N in (128·2^4, 128·2^5] → p = 5: strictly more buckets than the
    // fixed-plane 16, all inside the 5-bit prefix
    assert(big._1 > 16 && big._2 < 32,
      s"expected 5-bit adaptive buckets, got distinct=${big._1} " +
        s"max=${big._2}")
    // below occ·2^planes the prefix IS the old fixed-plane bucket
    val small = sk.limit(500)
    val got = Similarity.adaptiveBucketed(small, planes = 4)
      .select(col("vec_id"), col("bucket"))
    val fixed = small.withColumn("bucket",
      Similarity.bucketExprInt(col("q_emb"), 4))
      .select(col("vec_id"), col("bucket"))
    assert(got.except(fixed).isEmpty && fixed.except(got).isEmpty,
      "small-corpus bucket diverged from the fixed-plane construction")
  }

  test("nnDescentInit above the adaptive threshold still emits valid " +
      "top-k seed lists (<= k per query, exact scores)") {
    val vecs = spark.range(2500).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        (pmod(hash(col("id") * 64 + i), lit(255)) - lit(127))
          .cast("float")).as("embedding"))
    val sk = Similarity.quantizeInt8(vecs)
    val lists = Similarity.nnDescentInit(sk, 3, planes = 4)
    val perQuery = lists.groupBy("query_id")
      .agg(count(lit(1)).as("c"), max("rnk").as("mr"))
      .agg(max("c").as("mc"), max("mr").as("mmr"))
      .as[(Long, Long)].head()
    assert(perQuery._1 <= 3 && perQuery._2 <= 3)
    assert(lists.where(col("query_id") === col("neighbor_id")).isEmpty)
  }
}
