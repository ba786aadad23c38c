package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session shape of every main (`Main`, `Bench`,
  * `Verify`, `ExplainDump`, `ScaleProbe`): `local[cpus]`, one shuffle
  * partition per core, UTC session time zone, AQE on, no UI, WARN
  * logging. Per-run tweaks go through `spark.conf.set` afterwards, so
  * the builder itself stays parameterized by the core count only. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
