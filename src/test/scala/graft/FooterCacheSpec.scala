package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.FooterCache

class FooterCacheSpec extends AnyFunSuite {

  test("FooterCache evicts one least-recently-used entry at the bound") {
    val n = FooterCache.MaxEntries
    def key(i: Int) = s"lru-boundary|$i"
    var computed = 0
    def get(i: Int): Integer = FooterCache.cached(key(i)) { computed += 1; Integer.valueOf(i) }
    for (i <- 0 to n) {
      get(i)
      if (i == n / 2) get(0) // touch key 0 midway: it is no longer the eldest
    }
    assert(computed == n + 1)
    assert(FooterCache.size == n)
    // key 0 is still cached: no recompute
    assert(get(0) == 0 && computed == n + 1)
    // the oldest untouched key (1) was the one evicted: it recomputes
    assert(get(1) == 1 && computed == n + 2)
  }
}
