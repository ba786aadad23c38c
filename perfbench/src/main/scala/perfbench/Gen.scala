package perfbench

import java.util.SplittableRandom

/** Seeded generator of an SRI collection and its change sets. The same
  * seed gives the same initial collection and the same sequence of change
  * sets, byte for byte; the generator also keeps the expected live set
  * (`href -> (modified_ms, version)`) the output checks compare against.
  *
  * Timestamps are synthetic and independent of the wall clock:
  *  - initial resources are stamped at or before `T0` (see [[initial]]);
  *  - change set `k` is stamped `T0 + k * StepMs`.
  * `StepMs` (one day) is far longer than any sync, so the 1.01x-duration
  * watermark overlap always re-stages exactly the previous change set and
  * every steady round stages the same rows. */
final class SyncGen(seed: Long, initialSize: Int, bodyWords: Int,
                    keyPrefix: String = "r") {
  import SyncGen._
  private val rng = new SplittableRandom(seed)
  private var nextKey = 0
  private var round = 0
  // expected state: key -> resource (live and tombstoned)
  private val state = scala.collection.mutable.LinkedHashMap[String, Res]()
  private val live = scala.collection.mutable.ArrayBuffer[String]()
  private val livePos = scala.collection.mutable.HashMap[String, Int]()

  private def newKey(): String = { nextKey += 1; f"$keyPrefix$nextKey%08d" }

  private def body(): String = {
    val sb = new StringBuilder(bodyWords * 7)
    var i = 0
    while (i < bodyWords) {
      if (i > 0) sb.append(' ')
      sb.append(Words(rng.nextInt(Words.length)))
      i += 1
    }
    sb.toString
  }

  private def record(r: Res): Unit = {
    state(r.key) = r
    if (r.deleted) livePos.remove(r.key).foreach { i =>
      val last = live.remove(live.size - 1)
      if (i < live.size) { live(i) = last; livePos(last) = i }
    } else if (!livePos.contains(r.key)) {
      livePos(r.key) = live.size; live += r.key
    }
  }

  /** The initial collection, version 1: a change set's worth of resources
    * (`lastChangeSet`) stamped `T0`, as if the last change set before the
    * benchmark, the rest on an hourly grid from one hour to a year before.
    * The cold-start deltaSync then leaves a watermark just under `T0`, and
    * the first measured sync re-stages those resources, exactly as every
    * later sync re-stages the previous change set. */
  def initial(lastChangeSet: Int = 0): Seq[Res] = {
    val out = (0 until initialSize).map { i =>
      val hoursBack = if (i < lastChangeSet) 0 else 1 + rng.nextInt(HoursBack - 1)
      Res(newKey(), 1, T0 - hoursBack * 3600000L, deleted = false, body())
    }
    out.foreach(record)
    out
  }

  /** The next change set: `updates`, `tombstones` and `inserts` counts as
    * given, drawn without replacement from the live set. */
  def next(updates: Int, tombstones: Int, inserts: Int): ChangeSet = {
    round += 1
    val stamp = T0 + round.toLong * StepMs
    val picked = scala.collection.mutable.LinkedHashSet[String]()
    while (picked.size < math.min(updates + tombstones, live.size))
      picked += live(rng.nextInt(live.size))
    val (up, tomb) = picked.toSeq.splitAt(updates)
    val cs = ChangeSet(
      up.map(k => Res(k, state(k).version + 1, stamp, deleted = false, body())),
      tomb.map(k => state(k).copy(version = state(k).version + 1,
        modifiedMs = stamp, deleted = true)),
      (0 until inserts).map(_ => Res(newKey(), 1, stamp, deleted = false, body())))
    cs.all.foreach(record)
    cs
  }

  def rounds: Int = round

  /** Expected target rows: href -> (modified_ms, version), live only. */
  def expected(c: Collection): Map[String, (Long, Int)] =
    live.iterator.map { k =>
      val r = state(k); c.href(k) -> (r.modifiedMs, r.version)
    }.toMap

}

object SyncGen {
  /** 2025-01-01T00:00:00Z */
  val T0: Long = 1735689600000L
  val StepMs: Long = 86400000L
  val HoursBack: Int = 24 * 365
  val Words: Array[String] = ("school pupil teacher class course lesson " +
    "curriculum goal grade exam module campus region board study domain " +
    "skill level group year term report plan network member policy " +
    "document training program person role address contact history " +
    "status value period code type label").split(' ')
}
