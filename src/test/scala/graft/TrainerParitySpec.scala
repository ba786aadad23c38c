package graft

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expr.GraftFunctions
import graft.ops.Similarity

/** The integer k-means / PQ / power-iteration trainers keep their model
  * on the driver; this pins them against the all-DataFrame formulas they
  * replaced (cross join + per-vector min(struct) argmin, per-(cell, d)
  * `s div n` aggregates joined back onto the previous model, and the
  * power iteration as a gram self-join), kept verbatim below as the
  * reference, on seeded random sketches built to hit the edge cases:
  * vectors equidistant from two cells, cells that lose every member,
  * negative per-dim sums, duplicate vectors, k > N. Every comparison runs
  * at 1 and at 7 shuffle partitions. */
class TrainerParitySpec extends SparkSuite {

  // ---- reference: the DataFrame formulas (pins dropped; they never
  // change a value) --------------------------------------------------

  private def ll = GraftFunctions.dot_ll _

  private def refKmSeed(sk: DataFrame, k: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hu = GraftFunctions.java_hash_u32 _
    val seeds = sk.select(col("vec_id"), col("q_emb"),
        hu(concat(lit(salt), col("vec_id").cast("string"))).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
    val w = Window.orderBy(col("h"), col("vec_id"))
    seeds.select((row_number().over(w) - 1).cast("long").as("cell"),
        col("q_emb").as("c_emb"))
      .withColumn("c_norm", ll(col("c_emb"), col("c_emb")))
  }

  private def refKmAssign(sk: DataFrame, cent: DataFrame): DataFrame =
    sk.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("q_emb"),
        (col("q_norm") - lit(2L) * ll(col("q_emb"), col("c_emb"))
          + col("c_norm")).as("dist2"),
        col("cell"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("cell"), col("q_emb"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"),
        col("m.dist2").as("dist2"), col("m.q_emb").as("q_emb"))

  private def refKmUpdate(assign: DataFrame, prev: DataFrame): DataFrame = {
    val sums = assign
      .select(col("cell"), posexplode(col("q_emb")).as(Seq("d", "q")))
      .groupBy("cell", "d")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("cell"), col("d"), expr("s div n").as("v"))
    val upd = sums.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("d"), col("v")))).as("dv"))
      .select(col("cell"),
        transform(col("dv"), x => x.getField("v")).as("u_emb"))
    prev.select(col("cell"), col("c_emb").as("p_emb"))
      .join(upd, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("u_emb"), col("p_emb")).as("c_emb"))
      .withColumn("c_norm", ll(col("c_emb"), col("c_emb")))
  }

  private def subVectors(sk: DataFrame, m: Int, subDim: Int): DataFrame =
    sk.select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(m - 1)), i =>
          struct(i.cast("long").as("sub"),
            slice(col("q_emb"), i * subDim + 1, lit(subDim)).as("sv"))))
          .as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .withColumn("sv_norm", ll(col("sv"), col("sv")))

  private def refPqSeed(sk: DataFrame, m: Int, ksub: Int, subDim: Int,
                        salt: String): DataFrame =
    refKmSeed(sk, ksub, salt)
      .select(col("cell"),
        explode(transform(sequence(lit(0), lit(m - 1)), i =>
          struct(i.cast("long").as("sub"),
            slice(col("c_emb"), i * subDim + 1, lit(subDim)).as("cv"))))
          .as("e"))
      .select(col("e.sub").as("sub"), col("cell"), col("e.cv").as("c_emb"))
      .withColumn("c_norm", ll(col("c_emb"), col("c_emb")))

  private def refPqAssign(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("sv"),
        (col("sv_norm") - lit(2L) * ll(col("sv"), col("c_emb"))
          + col("c_norm")).as("dist2"),
        col("cell"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist2"), col("cell"), col("sv"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cell").as("cell"),
        col("m.dist2").as("dist2"), col("m.sv").as("sv"))

  private def refPqUpdate(assign: DataFrame, prev: DataFrame): DataFrame = {
    val sums = assign
      .select(col("sub"), col("cell"),
        posexplode(col("sv")).as(Seq("d", "q")))
      .groupBy("sub", "cell", "d")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("sub"), col("cell"), col("d"), expr("s div n").as("v"))
    val upd = sums.groupBy("sub", "cell")
      .agg(sort_array(collect_list(struct(col("d"), col("v")))).as("dv"))
      .select(col("sub"), col("cell"),
        transform(col("dv"), x => x.getField("v")).as("u_emb"))
    prev.select(col("sub"), col("cell"), col("c_emb").as("p_emb"))
      .join(upd, Seq("sub", "cell"), "left")
      .select(col("sub"), col("cell"),
        coalesce(col("u_emb"), col("p_emb")).as("c_emb"))
      .withColumn("c_norm", ll(col("c_emb"), col("c_emb")))
  }

  private def refPowerIterFromGram(g: DataFrame, rounds: Int,
                                   keepBits: Int): DataFrame = {
    val full = g.select(col("i"), col("j"), col("gram"))
      .unionByName(g.where(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("gram")))
    var v = full.select(col("i")).distinct()
      .select(col("i").as("j"), lit(1L).as("v"))
    for (_ <- 0 until rounds) {
      val w = full.join(v, "j")
        .groupBy("i").agg(sum(col("gram") * col("v")).as("w"))
      val m = w.agg(max(abs(col("w"))).as("m"))
      v = w.crossJoin(broadcast(m))
        .select(col("i").as("j"),
          (when(col("w") < 0, lit(-1L)).otherwise(lit(1L)) *
            call_function("div", abs(col("w")),
              greatest(lit(1L),
                call_function("div", col("m"),
                  lit(1L << keepBits))))).as("v"))
        .localCheckpoint()
    }
    v.select(col("j").as("i"), col("v"))
  }

  // ---- fixtures ----------------------------------------------------

  private val sketchSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("q_emb", ArrayType(LongType)),
    StructField("q_norm", LongType)))

  private def sketchOf(vecs: Seq[(Long, Array[Long])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(vecs.map { case (id, q) =>
      Row(id, q.toSeq, q.map(x => x * x).sum) }: _*), sketchSchema)

  private def centroidsOf(cells: Seq[(Long, Array[Long])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(cells.map { case (c, e) =>
        Row(c, e.toSeq, e.map(x => x * x).sum) }: _*),
      StructType(Seq(StructField("cell", LongType, nullable = false),
        StructField("c_emb", ArrayType(LongType)),
        StructField("c_norm", LongType))))

  /** A random int8 sketch of `n` vectors in `d` dims, each entry drawn
    * around a per-run negative offset (so per-dim sums go negative), with
    * every fifth vector an exact duplicate of an earlier one under a new
    * id, plus the midpoints of the given cell pairs (equidistant from
    * both cells of the pair). */
  private def randomSketch(r: Random, n: Int, d: Int,
                           mids: Seq[(Array[Long], Array[Long])] = Nil)
  : Seq[(Long, Array[Long])] = {
    val shift = -r.nextInt(40)
    val vecs = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    for (i <- 0 until n) vecs +=
      (if (i >= 5 && i % 5 == 0) vecs(r.nextInt(i)).clone()
      else Array.fill(d)(math.max(-127, math.min(127,
        shift + r.nextInt(161) - 80)).toLong))
    val withMids = vecs.toSeq ++ mids.map { case (a, b) =>
      a.zip(b).map { case (x, y) => (x + y) / 2 } }
    // shuffled ids, so id order is not insertion order
    r.shuffle(withMids.indices.map(i => 1000L + 7L * i)).zip(withMids)
  }

  /** Even-valued random cells (so pair midpoints are exact), one
    * exact duplicate of the first cell under the largest id, and one cell
    * far outside the int8 range that no vector can reach. */
  private def randomCells(r: Random, k: Int, d: Int)
  : Seq[(Long, Array[Long])] = {
    val ids = r.shuffle((0 until 3 * k).map(_.toLong)).take(k).sorted
    val cells = ids.map(c => c -> Array.fill(d)(2L * (r.nextInt(121) - 60)))
    cells ++ Seq(100L -> cells.head._2.clone(), 101L -> Array.fill(d)(5000L))
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq

  private def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (rowsOf(got), rowsOf(want))
    assert(got.columns.toSeq === want.columns.toSeq, what)
    assert(g === w, s"$what: ${g.diff(w).take(3)} vs ${w.diff(g).take(3)}")
  }

  /** Runs `body` at 1 and at 7 shuffle partitions, restoring the
    * session's setting afterwards. */
  private def atPartitions(body: Int => Unit): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try Seq(1, 7).foreach { p => spark.conf.set(key, p.toLong); body(p) }
    finally spark.conf.set(key, before)
  }

  // ---- k-means -----------------------------------------------------

  test("kmAssign/kmUpdate equal the cross-join argmin and the joined " +
      "s div n update: ties to the smaller cell, empty cells kept, " +
      "negative sums truncated toward zero") {
    GraftFunctions.register(spark)
    atPartitions { p =>
      for (seed <- 1 to 4) {
        val r = new Random(seed)
        val d = 2 + r.nextInt(6)
        val cells = randomCells(r, 3 + r.nextInt(4), d)
        val mids = Seq(cells(0)._2 -> cells(1)._2, cells(1)._2 -> cells(2)._2)
        val sk = sketchOf(randomSketch(r, 30 + r.nextInt(30), d, mids))
        val cent = centroidsOf(cells)
        val tag = s"seed $seed, $p partitions"
        val a = graft.ops.Similarity.kmAssign(sk, cent)
        sameRows(a, refKmAssign(sk, cent), s"assign, $tag")
        // the far cell and the duplicate cell never win a vector
        val won = a.select("cell").distinct().collect().map(_.getLong(0))
        assert(!won.contains(100L) && !won.contains(101L), tag)
        sameRows(graft.ops.Similarity.kmUpdate(a, cent),
          refKmUpdate(refKmAssign(sk, cent), cent), s"update, $tag")
      }
    }
  }

  test("kmeansInt8 follows the DataFrame trajectory: centroids and " +
      "assignment after 0..3 rounds, including k > N") {
    GraftFunctions.register(spark)
    atPartitions { p =>
      for (seed <- 5 to 7; k <- Seq(3, 6, 40)) {
        val r = new Random(seed)
        val d = 3 + r.nextInt(4)
        val sk = sketchOf(randomSketch(r, 25, d))
        var cent = refKmSeed(sk, k, "km").localCheckpoint()
        for (iters <- 0 to 3) {
          val tag = s"seed $seed, k $k, iters $iters, $p partitions"
          val km = Similarity.kmeansInt8(sk, k, iters)
          sameRows(km.centroids, cent, s"centroids, $tag")
          sameRows(km.assign,
            refKmAssign(sk, cent).select("vec_id", "cell", "dist2"),
            s"assign, $tag")
          cent = refKmUpdate(refKmAssign(sk, cent), cent).localCheckpoint()
        }
      }
    }
  }

  // ---- PQ ----------------------------------------------------------

  test("pqAssign/pqUpdate equal the (sub)-joined argmin and update on " +
      "random codebooks with ties and empty cells") {
    GraftFunctions.register(spark)
    atPartitions { p =>
      for (seed <- 8 to 10) {
        val r = new Random(seed)
        val (m, subDim) = (2 + r.nextInt(3), 2 + r.nextInt(3))
        val perSub = (0 until m).map(_ => randomCells(r, 3, subDim))
        // midpoints of the first two cells in every subspace at once
        val mids = Seq(perSub.flatMap(_(0)._2).toArray ->
          perSub.flatMap(_(1)._2).toArray)
        val sk = sketchOf(randomSketch(r, 40, m * subDim, mids))
        val sv = subVectors(sk, m, subDim)
        val cb = perSub.zipWithIndex.map { case (cs, s) =>
            centroidsOf(cs).select(lit(s.toLong).as("sub"), col("*")) }
          .reduce(_.unionByName(_))
        val tag = s"seed $seed, $p partitions"
        val a = Similarity.pqAssign(sv, cb)
        sameRows(a, refPqAssign(sv, cb), s"assign, $tag")
        sameRows(Similarity.pqUpdate(a, cb),
          refPqUpdate(refPqAssign(sv, cb), cb), s"update, $tag")
      }
    }
  }

  test("pqTrainInt8 follows the DataFrame trajectory: codebook and " +
      "codes after 0..2 rounds, including ksub > N") {
    GraftFunctions.register(spark)
    atPartitions { p =>
      for (seed <- 11 to 12; ksub <- Seq(4, 30)) {
        val r = new Random(seed)
        val (m, subDim) = (4, 2)
        val sk = sketchOf(randomSketch(r, 20, m * subDim))
        val sv = subVectors(sk, m, subDim)
        var cb = refPqSeed(sk, m, ksub, subDim, "pq").localCheckpoint()
        for (iters <- 0 to 2) {
          val tag = s"seed $seed, ksub $ksub, iters $iters, $p partitions"
          val pq = Similarity.pqTrainInt8(sk, m = m, ksub = ksub,
            iters = iters, dims = m * subDim)
          sameRows(pq.codebook, cb.select("sub", "cell", "c_emb", "c_norm"),
            s"codebook, $tag")
          sameRows(pq.codes, refPqAssign(sv, cb).select(col("vec_id"),
            col("sub"), col("cell").as("code"), col("dist2")), s"codes, $tag")
          cb = refPqUpdate(refPqAssign(sv, cb), cb).localCheckpoint()
        }
      }
    }
  }

  // ---- power iteration ---------------------------------------------

  test("powerIterFromGram equals the gram self-join iteration on random " +
      "grams, duplicate (i, j) rows and a sparse gram included") {
    GraftFunctions.register(spark)
    atPartitions { p =>
      for (seed <- 13 to 16) {
        val r = new Random(seed)
        val g = Similarity.gramInt8(sketchOf(randomSketch(r, 30,
          2 + r.nextInt(8)))).localCheckpoint()
        val variants = Seq(
          "gram" -> g,
          "duplicate rows" -> g.unionByName(g.where(col("i") === col("j"))),
          "sparse" -> g.where((col("i") + col("j")) % 3 =!= 0))
        for ((name, gv) <- variants; rounds <- Seq(1, 3); kb <- Seq(4, 20)) {
          sameRows(Similarity.powerIterFromGram(gv, rounds, kb),
            refPowerIterFromGram(gv, rounds, kb),
            s"$name, seed $seed, rounds $rounds, keepBits $kb, $p partitions")
        }
      }
    }
  }

  test("nearest_cell: interpreted eval equals the generated code, and " +
      "it is null without cells or on a length mismatch") {
    GraftFunctions.register(spark)
    val r = new Random(17)
    val cells = randomCells(r, 5, 4)
    val sk = sketchOf(randomSketch(r, 40, 4) :+ (1L -> Array(1L, 2L, 3L)))
    def arg(cs: Seq[(Long, Array[Long])]): Column =
      GraftFunctions.nearest_cell(col("q_emb"), col("q_norm"),
        typedlit(cs.map { case (c, e) => (c, e.toSeq, e.map(x => x * x).sum) }))
    val q = sk.select(col("vec_id"), arg(cells).as("m"),
      arg(Nil).as("none"))
    val codegen = rowsOf(q)
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val interpreted =
      try rowsOf(sk.select(col("vec_id"), arg(cells).as("m"),
        arg(Nil).as("none")))
      finally keys.foreach { case (k, _) => spark.conf.unset(k) }
    assert(codegen === interpreted)
    val got = q.where(col("vec_id") === 1L).head()
    assert(got.isNullAt(1) && got.isNullAt(2), s"length mismatch: $got")
    assert(q.where(col("none").isNotNull).count() === 0)
  }
}
