package graft

import graft.ops.Similarity

/** Spark job budgets of the integer trainers on the sf0.01 sketch: the
  * model lives on the driver, so building it costs one TakeOrdered seed
  * job plus one map-side-combined aggregate per Lloyd round (a shuffle
  * map job and its result job under AQE), and power-iteration rounds
  * cost no job at all. The sketch is pinned before counting. */
class TrainerJobsSpec extends SparkSuite {

  /** The sf0.01 tables sit next to the suite's sf0.001 ones. */
  private lazy val sk = Similarity.quantizeInt8(Tables.embeddings(spark,
    new java.io.File(new java.io.File(sfDir).getParent, "sf0.01").getPath))
    .localCheckpoint()

  test("kmeansInt8(k = 4, iters = 2) builds its centroids in at most " +
      "1 + 2·2 jobs") {
    sk.count()
    val (jobs, cells) = jobsOf {
      Similarity.kmeansInt8(sk, k = 4, iters = 2).centroids.collect()
    }
    assert(cells.length === 4)
    assert(jobs <= 1 + 2 * 2, s"$jobs jobs")
  }

  test("pqTrainInt8(m = 8, ksub = 8, iters = 2) builds its codebook in " +
      "at most 1 + 2·2 jobs") {
    sk.count()
    val (jobs, cells) = jobsOf {
      Similarity.pqTrainInt8(sk, m = 8, ksub = 8, iters = 2)
        .codebook.collect()
    }
    assert(cells.length === 8 * 8)
    assert(jobs <= 1 + 2 * 2, s"$jobs jobs")
  }

  test("powerIterInt: rounds = 4 runs as many jobs as rounds = 1") {
    sk.count()
    def run(rounds: Int) =
      jobsOf(Similarity.powerIterInt(sk, rounds = rounds).collect())
    val (one, v1) = run(1)
    val (four, v4) = run(4)
    assert(v1.length === 64 && v4.length === 64)
    assert(four === one, s"rounds = 4: $four jobs, rounds = 1: $one")
  }
}
