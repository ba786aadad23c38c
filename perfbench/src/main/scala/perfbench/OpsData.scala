package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed synthetic tables in the shape of the repository's sf0.1 test
  * data (same table names, schemas, row counts and value ranges), so the
  * operator workload needs nothing outside the checkout. Every value is a
  * hash of (row id, column salt, `Seed`): the output does not depend on
  * partitioning, task order or the benchmark's `--seed`. */
object OpsData {
  val Seed = 42L

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Uniform long in [0, m) from the row id and a per-column salt. */
  private def u(id: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(id, lit(salt), lit(Seed)), lit(m))
  private def pick(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(id, salt, xs.size) + 1).cast("int"))
  private def money(id: Column, salt: Int, lo: Long, hi: Long): Column =
    ((u(id, salt, (hi - lo) * 100) + lo * 100) / 100.0).cast("double")
  private def day(id: Column, salt: Int, from: String, days: Int): Column =
    date_add(to_date(lit(from)), u(id, salt, days).cast("int"))
      .cast("timestamp_ntz")

  /** Corpus tables do not scale linearly (as in the repository's data:
    * 500 documents / 500 vectors at sf0.01, 5,000 / 2,000 at sf0.1). */
  def DocRows(sf: Double): Long = if (sf >= 0.1) 5000L else 500L
  def VecRows(sf: Double): Long = if (sf >= 0.1) 2000L else 500L

  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    def rows(n: Long): Long = math.max(1L, math.round(n * sf / 0.1))
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    save("customer", spark.range(rows(15000)).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(id, 1, 25).cast("int").as("c_nationkey"),
      (money(id, 2, 0, 10999) - 999.99).cast("decimal(8,2)").cast("double")
        .as("c_acctbal"),
      pick(id, 3, Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD",
        "FURNITURE")).as("c_mktsegment")))
    save("supplier", spark.range(rows(1000)).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(id, 4, 25).cast("int").as("s_nationkey"),
      money(id, 5, 0, 9999).as("s_acctbal")))
    save("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      format_string("NATION_%d", id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    save("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      format_string("REGION_%d", id).as("r_name")))
    save("part", spark.range(rows(20000)).select(id.as("p_partkey"),
      format_string("Part#%09d", id).as("p_name"),
      pick(id, 6, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
        "PROMO")).as("p_type"),
      money(id, 7, 900, 2100).as("p_retailprice")))
    save("orders", spark.range(rows(150000)).select(id.as("o_orderkey"),
      u(id, 8, rows(15000)).as("o_custkey"),
      pick(id, 9, Seq("O", "P", "F")).as("o_orderstatus"),
      money(id, 10, 1001, 499993).as("o_totalprice"),
      day(id, 11, "1995-01-01", 2404).as("o_orderdate"),
      pick(id, 12, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    save("lineitem", spark.range(rows(600000)).select(
      u(id, 13, rows(150000)).as("l_orderkey"), u(id, 14, rows(20000)).as("l_partkey"),
      u(id, 15, rows(1000)).as("l_suppkey"),
      (u(id, 16, 7) + 1).cast("int").as("l_linenumber"),
      (u(id, 17, 50) + 1).cast("double").as("l_quantity"),
      money(id, 18, 900, 104999).as("l_extendedprice"),
      (u(id, 19, 11) / 100.0).as("l_discount"),
      (u(id, 20, 9) / 100.0).as("l_tax"),
      pick(id, 21, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 22, Seq("O", "F")).as("l_linestatus"),
      day(id, 23, "1995-01-02", 2498).as("l_shipdate")))
    // documents: 8 to 100 words from a 30-word vocabulary; every 20th doc
    // carries a `dup` token and every 625th repeats an earlier doc's text
    val src = when(id % 625 === 624, id - 1).otherwise(id)
    val text = concat_ws(" ", transform(sequence(lit(1),
      (u(src, 24, 93) + 8).cast("int")), i => element_at(
        array(Vocab.map(lit): _*),
        (pmod(xxhash64(src, i, lit(25), lit(Seed)), lit(Vocab.size.toLong)) + 1)
          .cast("int"))))
    val withDup = when(id % 20 === 7, concat(text, lit(" dup"))).otherwise(text)
    val docs = spark.range(DocRows(sf)).select(id.as("doc_id"), withDup.as("text"),
      when(u(id, 26, 100) < 41, lit("en"))
        .otherwise(pick(id, 27, Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
    save("documents", docs.withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings: 10 labelled clusters in 64-d, unit-norm float vectors
    val raw = transform(sequence(lit(0), lit(63)), i =>
      (pmod(xxhash64(u(id, 28, 10), i, lit(29), lit(Seed)), lit(2001L)) - 1000)
        / 1000.0 +
      (pmod(xxhash64(id, i, lit(30), lit(Seed)), lit(601L)) - 300) / 1000.0)
    val emb = spark.range(VecRows(sf)).select(id.as("vec_id"), raw.as("v"),
      u(id, 28, 10).cast("int").as("label"))
    save("embeddings", emb.select(col("vec_id"),
      transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0),
        (a, y) => a + y * y))).cast("float")).as("embedding"),
      col("label")))
    save("events", spark.range(rows(100000)).select(id.as("event_id"),
      (to_timestamp(lit("2024-01-01 00:00:00")) +
        make_dt_interval(lit(0), lit(0), lit(0),
          (u(id, 31, 2591000000000L) / 1e6).cast("decimal(18,6)")))
        .cast("timestamp_ntz").as("ts"),
      u(id, 32, math.max(150L, rows(1500))).as("user_id"),
      pick(id, 33, Seq("signup", "click", "error", "view", "purchase"))
        .as("event_type"),
      money(id, 34, 0, 560).as("value"),
      format_string("{\"k\": %d}", u(id, 35, 100)).as("props")))
  }
}
