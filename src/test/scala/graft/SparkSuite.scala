package graft

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (spark_guide: one lazy session, not per test). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** The Spark jobs `body` starts from this thread, counted by a listener
    * (job group), then `body`'s result. A marker job started afterwards
    * tells when the listener has seen them all. */
  protected def jobsOf[A](body: => A): (Int, A) = {
    val sc = spark.sparkContext
    val group = "jobs_" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val seen = Promise[Unit]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == group)
            seen.trySuccess(())
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val out = body
      sc.setJobDescription(group)
      sc.parallelize(Seq(1), 1).count()
      Await.result(seen.future, 1.minute)
      (jobs.get, out)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}
