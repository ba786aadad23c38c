package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

/** Skew utilities, CLI, multimodal and sampling helpers. */
class UtilOpsSpec extends SparkSuite {

  test("saltedJoin equals plain join, spread over salts") {
    val big = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity")
    val small = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = big.join(small, Seq("l_orderkey")).count()
    val salted = Skew.saltedJoin(big, small, "l_orderkey", salts = 8).count()
    assert(salted === plain)
  }

  test("saltedSumCount equals plain aggregation") {
    val li = Tables.lineitem(spark, sfDir)
    val plain = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("sum"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(li, Seq("l_returnflag"),
      col("l_quantity"), salts = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted === plain)
  }

  test("CLI Main dispatches fullSync then deltaSync over the sri source") {
    val base = java.nio.file.Files.createTempDirectory("cli").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/page0.json"),
      """{"results": [
        |  {"href": "/a/1", "$$expanded": {"key": "1", "$$meta":
        |    {"permalink": "/a/1", "type": "A",
        |     "modified": "2024-01-10T00:00:00.000Z"}}},
        |  {"href": "/a/2", "$$expanded": {"key": "2", "$$meta":
        |    {"permalink": "/a/2", "type": "A",
        |     "modified": "2024-01-12T00:00:00.000Z"}}}
        |]}""".stripMargin)
    val r1 = Main.run(spark, Map("pages" -> base,
      "target" -> s"$base/tbl", "state" -> s"$base/state",
      "synctype" -> "fullSync"))
    assert(r1.rowsAfter === 2)
    val r2 = Main.run(spark, Map("pages" -> base,
      "target" -> s"$base/tbl", "state" -> s"$base/state"))
    assert(r2.rowsAfter === 2 && r2.watermark.isDefined)
  }

  test("multimodal decode plumbing: per-partition stub decoder") {
    val ds = ops.Multimodal.mediaFromDocuments(spark, sfDir)
    val feats = ops.Multimodal.decodeFeatures(ds)
    val rows = feats.collect()
    assert(rows.length === 500)
    // deterministic fake dims within bounds; sha matches column-side hash
    assert(rows.forall(r => r.width >= 1 && r.width <= 1920 &&
      r.height >= 1 && r.height <= 1080 && r.sha.length === 64))
    val viaCols = ops.Multimodal.binaryMeta(ds.toDF(), "payload")
      .select("media_id", "sha").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.forall(r => viaCols(r.media_id) == r.sha))
  }

  test("frameSamples: null duration stays null, zero-length is empty") {
    import org.apache.spark.sql.functions.col
    val df = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(1L, java.lang.Long.valueOf(2000L)),
          org.apache.spark.sql.Row(2L, java.lang.Long.valueOf(0L)),
          org.apache.spark.sql.Row(3L, null.asInstanceOf[java.lang.Long])),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dur",
            org.apache.spark.sql.types.LongType))))
      .select(col("id"),
        ops.Multimodal.frameSamples(col("dur"), fps = 10, everyN = 5)
          .as("ts"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(df(1L).get.asInstanceOf[scala.collection.Seq[Long]]
      === Seq(0L, 500L, 1000L, 1500L))
    assert(df(2L).get.asInstanceOf[scala.collection.Seq[Long]].isEmpty)
    assert(df(3L).isEmpty) // unknown duration ≠ zero-length clip
  }

  test("hashBernoulli rejects a zero modulus up front") {
    import org.apache.spark.sql.functions.col
    val d = Tables.documents(spark, sfDir)
    val e = intercept[IllegalArgumentException] {
      ops.Sampling.hashBernoulli(d, col("doc_id").cast("string"), 0, 0)
    }
    assert(e.getMessage.contains("out of range"))
  }

  test("arg parsing") {
    val m = Main.parseArgs(Array("--pages", "/p", "--dry-run",
      "--synctype", "fullSync"))
    assert(m === Map("pages" -> "/p", "dry-run" -> "true",
      "synctype" -> "fullSync"))
  }
}
