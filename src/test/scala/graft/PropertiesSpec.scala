package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Watermark

/** Property-style tests for the pure algebra (SURVEY §5: the invariants
  * the reference only asserts implicitly). Seeded generator —
  * deterministic, dependency-free. */
class PropertiesSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)
  private def ts(): Long = math.abs(rnd.nextLong()) % 4102444800000L

  test("watermark never exceeds max(seen, prev + inter-sync gap)") {
    (1 to 2000).foreach { _ =>
      val (seen, prev, prevStart, start) = (ts(), ts(), ts(), ts())
      val wm = Watermark.advance(Some(seen), prev, Some(prevStart), start,
        start + 1000)
      assert(wm <= math.max(seen, prev + math.max(0, start - prevStart)),
        s"seen=$seen prev=$prev prevStart=$prevStart start=$start wm=$wm")
    }
  }

  test("watermark is monotone in both seen and previous watermark") {
    (1 to 2000).foreach { _ =>
      val (seen, prev, start) = (ts(), ts(), ts())
      val end = start + 500
      def adv(s: Long, p: Long) =
        Watermark.advance(Some(s), p, Some(start - 10000), start, end)
      val base = adv(seen, prev)
      assert(adv(seen + 1, prev) >= base)
      assert(adv(seen, prev + 1) >= base)
    }
  }

  test("no rows seen leaves watermark unchanged") {
    (1 to 500).foreach { _ =>
      val (prev, prevStart, start) = (ts(), ts(), ts())
      assert(Watermark.advance(None, prev, Some(prevStart), start,
        start + 1) === prev)
    }
  }
}
