package graft.ops

import scala.util.Using
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** Parquet metadata and tiny tables read and written on the driver, with
  * parquet-hadoop: no Spark job. A directory is laid out the way Spark's
  * own writer lays out a table (data files next to hidden `_`/`.` files),
  * and files written here ([[ParquetParts]]) carry Spark's schema in their
  * footer, so `spark.read.parquet` reads them as the schema they were
  * written with. Files are opened with read options built from the passed
  * `Configuration`: parquet-hadoop's `Path`-based builders would build a
  * new one per call and re-parse Hadoop's default resources. */
object DriverParquet {

  /** The footer key under which Spark's Parquet writer stores the table's
    * Catalyst schema as JSON. */
  val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The data files of a table directory, in name order (Spark skips
    * names starting with `_` or `.`: `_SUCCESS`, checksum files). */
  def dataFiles(conf: Configuration, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .sortBy(_.getName)
  }

  /** The schema Spark wrote into the footer of the table's first data
    * file; fails naming `dir` when there is no data file or the footer
    * holds no Spark schema. */
  def sparkSchema(conf: Configuration, dir: String): StructType = {
    val file = dataFiles(conf, dir).headOption.getOrElse(
      throw new IllegalStateException(s"no Parquet data file under $dir"))
    val kv = Using.resource(open(conf, file))(
      _.getFooter.getFileMetaData.getKeyValueMetaData)
    Option(kv.get(SparkSchemaKey)).map(DataType.fromJson) match {
      case Some(s: StructType) => s
      case _ => throw new IllegalStateException(
        s"$dir: data file ${file.getName} has no Spark schema in its footer")
    }
  }

  /** The table at `dir` read as `expected`, which starts no
    * schema-inference job. Fails naming `dir` first unless its footer
    * schema ([[sparkSchema]]) has exactly the columns of `expected`, with
    * the same types (nullability aside): a read with an explicit schema
    * would turn a renamed or retyped column into nulls. */
  def readChecked(spark: SparkSession, dir: String, expected: StructType): DataFrame = {
    def columns(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toSet
    val stored = sparkSchema(spark.sparkContext.hadoopConfiguration, dir)
    if (columns(stored) != columns(expected))
      throw new IllegalStateException(
        s"$dir: stored columns ${stored.toDDL} do not match the expected ${expected.toDDL}")
    spark.read.schema(expected).parquet(dir)
  }

  /** Every row of the table at `dir` as `schema` (string and long
    * columns): a column a file lacks reads as null. */
  def readRows(conf: Configuration, dir: String, schema: StructType): Seq[Row] =
    dataFiles(conf, dir).flatMap { file =>
      Using.resource(open(conf, file)) { reader =>
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(fileSchema)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { group =>
            val records = io.getRecordReader(group, new GroupRecordConverter(fileSchema))
            Iterator.fill(group.getRowCount.toInt)(toRow(records.read(), schema))
          }.toList
      }
    }

  /** Write `rows` of `schema` as the single data file of a new directory
    * `dir`, replacing what is there, with the session's Parquet settings. */
  def writeRows(spark: SparkSession, dir: String, schema: StructType,
                rows: Seq[Row]): Unit = {
    AtomicDir.recreate(dir)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    ParquetParts(spark, schema).write(dir, 0,
      rows.iterator.map(toInternal(_).asInstanceOf[InternalRow]), always = true)
  }

  private def open(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())

  private def toRow(g: Group, schema: StructType): Row = {
    val t = g.getType
    Row.fromSeq(schema.fields.toSeq.map { f =>
      if (!t.containsField(f.name) || g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case StringType => g.getString(f.name, 0)
        case LongType => g.getLong(f.name, 0)
      }
    })
  }
}
