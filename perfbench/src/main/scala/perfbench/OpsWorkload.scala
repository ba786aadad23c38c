package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.SparkEntry
import Bench._

/** The operator library at full output: eight queries over fixed
  * sf0.01-shaped tables, each written completely to the `noop` sink. */
object OpsWorkload {

  /** Scale of the generated tables (see OpsData). */
  val Scale: Double = 0.01

  /** `graph_louvain` is left out: its ~17 s (220-230 Spark jobs, a count
    * that varies run to run) would take half of every run on its own. */
  val Queries = Seq("curate_funnel_full", "dd_ppjoin",
    "dd_minhash_lsh_xx", "sim_ivfpq_topk", "emb_pca_project", "ts_theilsen",
    "txt_bpe_encode", "approx_distinct")

  final case class Run(q: String, s: Double, rows: Long, hash: Long,
                       spark: SparkWindow)

  /** Row count and an order-independent hash of every output row,
    * observed on the same pass as the write (no second job). */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.columns.map(c => col(s"`$c`"))
    val hashable = !df.schema.exists(_.dataType.isInstanceOf[MapType])
    val h = if (hashable) xxhash64(cols: _*) else xxhash64(to_json(struct(cols: _*)))
    df.observe(obs, count(lit(1)).as("rows"),
      sum(pmod(h, lit(4294967296L))).as("hash"))
  }

  private def runOne(ctx: Ctx, dir: String, q: String, pass: Int,
                     traced: Boolean): Option[Run] = {
    val m = ctx.probe.mark()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val obs = Observation(s"chk_${q}_$pass")
    val res = try {
      observed(SparkEntry.queries(q)(ctx.spark, dir), obs)
        .write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      val got = obs.get
      Some(((t1 - t0) / 1e9, got("rows").asInstanceOf[Long],
        Option(got("hash")).map(_.asInstanceOf[Long]).getOrElse(0L), t1))
    } catch { case e: Throwable => info(s"$q FAILED: $e"); None }
    finally ctx.spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val t1 = res.map(_._4).getOrElse(System.nanoTime())
    ctx.probe.drain()
    val win = ctx.probe.since(m, w0, System.currentTimeMillis())
    if (traced) {
      ctx.tracer.add(Tracer.Op, "queries", q, t0, t1)
      traceSpark(ctx, win)
    }
    res.map { case (s, rows, hash, _) => Run(q, s, rows, hash, win) }
  }

  def run(ctx: Ctx, writeGolden: Boolean): Outcome = {
    val o = new Outcome
    // the tables are fixed: generate them once per checkout, next to the
    // build output, and reuse them in every later run
    val dir = new File(ctx.data, s"ops-sf$Scale").getAbsolutePath
    if (!new File(dir, "_DONE").exists()) {
      val tmp = new File(ctx.data, s"ops-sf$Scale.tmp")
      Bench.rmrf(tmp.toPath)
      OpsData.write(ctx.spark, tmp.getAbsolutePath, Scale)
      Files.writeString(new File(tmp, "_DONE").toPath, "")
      Bench.rmrf(new File(dir).toPath)
      Files.move(tmp.toPath, new File(dir).toPath)
      info(s"generated tables in $dir")
    }
    // warmup: a small aggregate and one read of every table
    ctx.spark.range(1000000).selectExpr("sum(id)").collect()
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => ctx.spark.read.parquet(f.getPath).limit(1).count())
    ctx.probe.drain()
    val golden = readGolden(ctx.golden)
    val setupS = ctx.setupS
    val started = System.nanoTime()
    def elapsed = (System.nanoTime() - started) / 1e9

    def pass(p: Int, traced: Boolean = false): Seq[Run] = Queries.flatMap { q =>
      o.attempted += 1
      val r = runOne(ctx, dir, q, p, traced)
      if (r.isEmpty) o.failed += 1
      r.foreach { x =>
        info(f"$q: ${x.s}%.3f s, ${x.rows} rows, ${x.spark.jobs} jobs")
        if (!writeGolden) o.check(s"$q rows/hash = golden",
          if (golden.get(q).contains((x.rows, x.hash))) 0 else 1)
      }
      r
    }
    val passes = ArrayBuffer[Seq[Run]]()
    while (passes.isEmpty || (elapsed < ctx.seconds && passes.size < 20))
      passes += pass(passes.size)
    if (writeGolden) {
      Files.writeString(ctx.golden.toPath, passes.head
        .map(r => s"${r.q}\t${r.rows}\t${r.hash}\n").mkString, UTF_8)
      info(s"wrote ${ctx.golden}")
    }
    val totals = passes.map(_.map(_.s).sum)

    if (!ctx.trace) {
      o.metric("setup_s", setupS, "s")
      o.metric("primary_s", Stats.median(totals.toSeq), "s")
      o.metric("secondary_s", Stats.median(passes.flatten.map(_.s).toSeq), "s")
    } else {
      // traced pass, then one more untraced pass as its warm reference
      val traced = pass(passes.size, traced = true)
      val after = pass(passes.size + 1)
      o.metric("trace.overhead_s", traced.map(_.s).sum - after.map(_.s).sum, "s")
      val all = (passes :+ traced :+ after).flatten.groupBy(_.q)
      Queries.foreach { q =>
        val rs = all.getOrElse(q, Seq.empty).toSeq
        def med(f: Run => Double) = if (rs.isEmpty) Double.NaN else Stats.median(rs.map(f))
        o.metric(s"queries.${q}_s", med(_.s), "s")
        o.metric(s"queries.$q.jobs", med(_.spark.jobs.toDouble), "count")
        o.metric(s"queries.$q.task_s", med(_.spark.taskS), "s")
        o.metric(s"queries.$q.shuffle_mb", med(_.spark.shuffleWriteMb), "MB")
      }
      val perPass = (passes :+ traced :+ after).map(_.map(_.spark).reduce(_ + _))
      sparkMetrics(o, perPass.toSeq)
      finishTrace(ctx, o)
    }
    o
  }

  private def readGolden(f: File): Map[String, (Long, Long)] =
    if (!f.exists()) Map.empty
    else Files.readAllLines(f.toPath, UTF_8).toArray.toSeq.map(_.toString)
      .filter(_.nonEmpty).map { l =>
        val Array(q, n, h) = l.split('\t'); q -> (n.toLong, h.toLong)
      }.toMap
}
