package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the interval-merge coverage behind every measured window's
  * job_cover_ms/gap_ms (`Metrics.mergedCoverage`, reported by Bench): wall ≡ driver + cover + gap only
  * holds if the merge handles overlap, nesting, clipping and
  * still-running jobs exactly. Pure function — no Spark session. */
class BenchSpec extends AnyFunSuite {
  private def cov(ivs: (Long, Long)*)(lo: Long, hi: Long): Long =
    Metrics.mergedCoverage(ivs, lo, hi)

  test("disjoint intervals sum; the gap between them is not covered") {
    assert(cov((0L, 10L), (20L, 30L))(0, 30) === 20L)
  }

  test("overlapping and nested intervals merge without double-count") {
    assert(cov((0L, 10L), (5L, 15L))(0, 20) === 15L)
    assert(cov((0L, 20L), (5L, 10L))(0, 20) === 20L)
    assert(cov((5L, 10L), (0L, 20L), (8L, 9L))(0, 20) === 20L)
  }

  test("intervals clip to the span window") {
    assert(cov((-5L, 5L), (15L, 25L))(0, 20) === 10L)
    assert(cov((-10L, 30L))(0, 20) === 20L)
    assert(cov((25L, 30L))(0, 20) === 0L) // fully outside
  }

  test("an unfinished job (end < 0) covers through the span end") {
    assert(cov((5L, -1L))(0, 20) === 15L)
    assert(cov((0L, 8L), (10L, -1L))(0, 20) === 18L)
  }

  test("degenerate shapes: empty set, empty span, zero-width interval") {
    assert(cov()(0, 20) === 0L)
    assert(cov((0L, 10L))(5, 5) === 0L)
    assert(cov((7L, 7L))(0, 20) === 0L)
  }

  test("adjacent (touching) intervals merge with no phantom gap") {
    assert(cov((0L, 10L), (10L, 20L))(0, 20) === 20L)
  }

  test("unsorted input is handled (listener order is not time order)") {
    assert(cov((20L, 30L), (0L, 10L), (8L, 22L))(0, 30) === 30L)
  }

  test("coverage never exceeds the span (gap_ms stays non-negative)") {
    val ivs = Seq((0L, 100L), (-50L, 200L), (10L, -1L))
    assert(Metrics.mergedCoverage(ivs, 0, 60) === 60L)
  }
}
