package graft

import java.io.File
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._
import graft.ops.{DriverParquet, ParquetParts}
import graft.runner.ParquetTarget

/** ParquetTarget's part-file writer ([[ParquetParts]]) against Spark's own
  * Parquet writer: same schemas and rows on read, one file per non-empty
  * partition, a schema-only file for an empty frame, and whole-file
  * replacement of a rewritten part. */
class ParquetPartsSpec extends SparkSuite {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("parts").toString

  /** ScaleProbe's columns (string, long, boolean `deleted`) plus double,
    * date, timestamp and both decimal layouts (int- and binary-backed). */
  private val schema = StructType(Seq(
    StructField("href", StringType),
    StructField("modified_ms", LongType),
    StructField("deleted", BooleanType),
    StructField("score", DoubleType),
    StructField("day", DateType),
    StructField("ts", TimestampType),
    StructField("price", DecimalType(9, 2)),
    StructField("big", DecimalType(38, 6)),
    StructField("id", LongType, nullable = false)))

  /** A frame of `parts` partitions, each empty with probability 1/3, of
    * seeded random rows with nulls in every nullable column. */
  private def frame(seed: Int, parts: Int): (DataFrame, Int) = {
    val rnd = new scala.util.Random(seed)
    def maybe[A](a: => A): Any = if (rnd.nextInt(5) == 0) null else a
    var id = 0L
    val perPart = Seq.fill(parts) {
      if (rnd.nextInt(3) == 0) Seq.empty[Row]
      else Seq.fill(1 + rnd.nextInt(40)) {
        id += 1
        Row(
          maybe(rnd.alphanumeric.take(rnd.nextInt(12)).mkString + "é✓"),
          maybe(rnd.nextLong()),
          maybe(rnd.nextBoolean()),
          maybe(rnd.nextGaussian() * 1e6),
          maybe(Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(40000) - 20000))),
          maybe(new Timestamp(rnd.nextLong() % 4102444800000L)),
          maybe(java.math.BigDecimal.valueOf(rnd.nextInt(1999999999) - 999999999L, 2)),
          maybe(new java.math.BigDecimal(BigInt(rnd.nextLong()).pow(2).bigInteger, 6)),
          id)
      }
    }
    val rdd = spark.sparkContext.parallelize(perPart, parts).flatMap(identity)
    (spark.createDataFrame(rdd, schema), perPart.count(_.nonEmpty))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def names(dir: String): Seq[String] = new File(dir).list().toSeq.sorted

  test("overwrite writes what Spark's Parquet writer writes: same schemas, " +
    "same rows, one part file per non-empty partition") {
    val conf = spark.sparkContext.hadoopConfiguration
    for (parts <- Seq(1, 4, 7); seed <- 1 to 4) {
      val base = tmpDir()
      val (df, nonEmpty) = frame(seed * 10 + parts, parts)
      df.write.parquet(s"$base/spark")
      new ParquetTarget(spark, s"$base/ours").overwrite(df)
      val clue = s"parts=$parts seed=$seed"
      val (mine, theirs) =
        (spark.read.parquet(s"$base/ours"), spark.read.parquet(s"$base/spark"))
      assert(mine.schema === theirs.schema, clue)
      assert(rows(mine) === rows(theirs), clue)
      // the footer schema `read` uses, nullability included
      assert(DriverParquet.sparkSchema(conf, s"$base/ours") ===
        DriverParquet.sparkSchema(conf, s"$base/spark"), clue)
      assert(names(s"$base/ours").forall(_.matches("part-\\d{5}\\.snappy\\.parquet")), clue)
      assert(names(s"$base/ours").size === math.max(nonEmpty, 1), clue)
      assert(!new File(s"$base/ours.staging").exists(), clue)
    }
  }

  test("a frame with no partitions or no rows leaves a target that read and " +
    "sparkSchema accept") {
    val conf = spark.sparkContext.hadoopConfiguration
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val noRows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 3), schema)
    for ((df, what) <- Seq(noPartitions -> "no partitions", noRows -> "no rows")) {
      val path = s"${tmpDir()}/table"
      val target = new ParquetTarget(spark, path)
      target.overwrite(df)
      assert(DriverParquet.sparkSchema(conf, path) === df.schema, what)
      val back = target.read(spark)
      // a read makes every column nullable, as Spark's own reads do
      assert(back.schema.map(f => f.name -> f.dataType) ===
        df.schema.map(f => f.name -> f.dataType), what)
      assert(back.count() === 0, what)
      assert(names(path) === Seq("part-00000.snappy.parquet"), what)
    }
  }

  test("writing a part twice leaves one file holding the second attempt's " +
    "rows; a failed attempt leaves the part as it was") {
    val small = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(small)
    def internal(rs: Seq[Row]): Iterator[InternalRow] =
      rs.iterator.map(toInternal(_).asInstanceOf[InternalRow])
    val dir = tmpDir()
    val parts = ParquetParts(spark, small)
    assert(parts.write(dir, 3, internal(Seq(Row("a", 1L), Row("b", 2L)))))
    assert(parts.write(dir, 3, internal(Seq(Row("c", 3L)))))
    assert(names(dir) === Seq("part-00003.snappy.parquet"))
    assert(rows(spark.read.parquet(dir)) === Seq("[c,3]"))
    // an attempt that dies mid-way: no partial file, the old part stays
    val failing = internal(Seq(Row("d", 4L))) ++
      Iterator(1).map[InternalRow](_ => throw new IllegalStateException("lost"))
    intercept[IllegalStateException](parts.write(dir, 3, failing))
    assert(names(dir) === Seq("part-00003.snappy.parquet"))
    assert(rows(spark.read.parquet(dir)) === Seq("[c,3]"))
    // an empty partition writes nothing
    assert(!parts.write(dir, 4, Iterator.empty))
    assert(names(dir) === Seq("part-00003.snappy.parquet"))
  }
}
