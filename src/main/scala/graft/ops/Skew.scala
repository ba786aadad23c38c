package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys.
  *
  * First line of defense is AQE (`spark.sql.adaptive.skewJoin.enabled`,
  * on by default) — it splits oversized post-shuffle partitions at
  * runtime. MEASURED crossover (README "Skew" and "AQE-vs-salting
  * honesty check", 20M rows, one key owning 40%, local[8], median of
  * repeats):
  *
  *   - AQE off, plain SMJ: 6.3–7.0 s (hot key serializes one reducer);
  *     [[saltedJoin]]: 4.8–4.9 s → salting wins ~1.35×.
  *   - AQE on and its skew handler demonstrably firing
  *     (`SortMergeJoin(skew=true)` + `AQEShuffleRead skewed` in the
  *     executed plan): plain 4.2–4.4 s vs salted 4.6–4.8 s → NATIVE AQE
  *     MATCHES OR BEATS manual salting, at zero code cost (salting pays
  *     a constant small-side ×salts replication).
  *
  * So: when the skewed stage is a sort-merge join and AQE is on (the
  * 100 TB default), do NOT salt — let the runtime re-plan split the
  * partition. Salting remains for what AQE cannot fix: a hot GROUP in
  * an aggregation (AQE splits join partitions, not a single group's
  * state — [[saltedSumCount]]), skew under a disabled/streaming AQE
  * (Structured Streaming plans are static), and joins whose skewed side
  * falls below the split thresholds yet still straggles (CPU-heavy
  * rows; lower `spark.sql.adaptive.skewJoin.*` thresholds first).
  */
object Skew {

  /** Salted equi-join: the skewed (big) side gets a deterministic salt in
    * [0, salts); the small side is replicated ×salts; the join key becomes
    * (key, salt), spreading each hot key over `salts` reducers.
    * Deterministic salt (hash of the whole row) keeps re-runs stable. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col): _*)), lit(salts)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedBig.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Two-stage salted aggregation for algebraic aggregates (sum/count):
    * partial per (key, salt), final per key. Only needed when a single
    * group's partial state is itself too hot for one task — ordinary
    * hash aggregation already does map-side combine. */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: Column,
                     salts: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(struct(df.columns.map(col): _*)), lit(salts)).cast("int"))
    salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(valueCol).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as("sum"), sum(col("__pcnt")).as("n"))
  }
}
