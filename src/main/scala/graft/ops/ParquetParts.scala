package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one Parquet file writer: Spark's own Parquet encoder
  * (`ParquetWriteSupport` over `InternalRow`) writing part files into a
  * local directory, without Spark's file-format writer or its commit
  * protocol. Files carry Spark's Parquet types and footer keys (the Catalyst
  * schema included), so `spark.read.parquet` reads them as it reads a
  * directory Spark wrote.
  *
  * Built on the driver from the session's Parquet settings; serializable,
  * so tasks write with it too. Each file is written with a
  * `Configuration(false)` holding only those settings: no Hadoop defaults
  * are parsed and no session `Configuration` travels with a task. */
final class ParquetParts private (schema: StructType,
                                  settings: Seq[(String, String)],
                                  codec: CompressionCodecName) extends Serializable {

  /** The file name of part `index`: `part-00003.snappy.parquet`. */
  private def fileName(index: Int): String =
    f"part-$index%05d${codec.getExtension}.parquet"

  /** Write `rows` as part `index` of the existing local directory `dir`,
    * replacing the part if it is there; writes nothing and returns false
    * when `rows` is empty, unless `always`. The rows go to a hidden attempt
    * file that is renamed onto the part's name once closed, so a failed
    * attempt never leaves a visible partial file and a retry replaces the
    * part whole. */
  def write(dir: String, index: Int, rows: Iterator[InternalRow],
            always: Boolean = false): Boolean =
    if (!always && !rows.hasNext) false
    else {
      val name = fileName(index)
      val attempt = Paths.get(dir, s".$name.${java.util.UUID.randomUUID()}")
      try {
        val w = new ParquetParts.Builder(new LocalOutputFile(attempt))
          .withConf(conf()).withCompressionCodec(codec).build()
        try rows.foreach(w.write) finally w.close()
        Files.move(attempt, Paths.get(dir, name),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } catch {
        case e: Throwable => Files.deleteIfExists(attempt); throw e
      }
      true
    }

  private def conf(): Configuration = {
    val c = new Configuration(false)
    settings.foreach { case (k, v) => c.set(k, v) }
    ParquetWriteSupport.setSchema(schema, c)
    c
  }
}

object ParquetParts {

  /** A writer of `schema` rows with the session's Parquet write settings:
    * the keys `ParquetWriteSupport` reads (legacy format, timestamp type,
    * field ids, nanos-as-long, variant annotation), as Spark's own Parquet
    * write sets them, and `spark.sql.parquet.compression.codec`. */
  def apply(spark: SparkSession, schema: StructType): ParquetParts = {
    val c = spark.sessionState.conf
    val settings = Seq(
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key -> c.writeLegacyParquetFormat.toString,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key -> c.parquetOutputTimestampType.toString,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> c.parquetFieldIdWriteEnabled.toString,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key -> c.legacyParquetNanosAsLong.toString,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
        c.parquetAnnotateVariantLogicalType.toString)
    new ParquetParts(schema, settings, CompressionCodecName.fromConf(
      new ParquetOptions(Map.empty[String, String], c).compressionCodecClassName))
  }

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
