package graft.sources

import graft.store.{SelIds, SelRange, SelRanges, Selection}
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 plan cache is bounded by the ranges and ids it holds, not only
  * by its entry count.
  */
class PlanCacheSpec extends AnyFunSuite {

  private def ranges(n: Int): Option[Selection] =
    Some(SelRanges(Array.tabulate(n)(i => 2L * i), Array.tabulate(n)(i => 2L * i + 1)))

  test("plan cache evicts least-recently-used entries by weight and by count") {
    val cache = new PlanCache(maxEntries = 3, maxWeight = 10)
    cache.put("a", ranges(4))
    cache.put("b", ranges(4))
    assert(cache.get("a").isDefined) // a is now more recent than b
    cache.put("c", ranges(4)) // 12 > 10: the least recently used (b) goes
    assert(cache.get("b").isEmpty)
    assert(cache.get("a").isDefined && cache.get("c").isDefined)
    assert(cache.totalWeight == 8)
    // count bound: a fourth light entry evicts the oldest
    cache.put("d", None)
    cache.put("e", Some(SelRange(0L, 5L, 1L)))
    assert(cache.size == 3)
    assert(cache.get("a").isEmpty && cache.get("c").isDefined)
    assert(cache.totalWeight == 4 + 1 + 1)
    // replacing an entry re-weighs it
    cache.put("c", Some(SelIds(Array(1L, 2L), Array(0L, 1L))))
    assert(cache.totalWeight == 2 + 1 + 1)
  }

  test("plan cache never caches an entry heavier than its whole budget") {
    val cache = new PlanCache(maxEntries = 8, maxWeight = 10)
    cache.put("small", ranges(3))
    cache.put("huge", ranges(11))
    assert(cache.get("huge").isEmpty)
    // and admitting nothing evicted nothing
    assert(cache.get("small").isDefined && cache.size == 1 && cache.totalWeight == 3)
    cache.put("edge", ranges(7)) // exactly fills the budget with small
    assert(cache.size == 2 && cache.totalWeight == 10)
  }
}
