package graft.util

import graft.SparkSpec

class SessionCacheSpec extends SparkSpec {

  test("getOrCompute memoizes per (session, key) and clear() drops entries") {
    val cache = new SessionCache[String]
    var builds = 0
    def build(v: String): String = { builds += 1; v }
    assert(cache.getOrCompute(spark, "a")(build("va")) === "va")
    assert(cache.getOrCompute(spark, "a")(build("va2")) === "va")
    assert(builds === 1, "second lookup must hit the memo")
    assert(cache.getOrCompute(spark, "b")(build("vb")) === "vb")
    assert(cache.size === 2)
    cache.clear()
    assert(cache.size === 0)
    assert(cache.getOrCompute(spark, "a")(build("va3")) === "va3",
      "cleared entry must rebuild")
  }

  test("distinct sessions get distinct entries under the same key") {
    val cache = new SessionCache[Int]
    val s2 = spark.newSession()
    assert(cache.getOrCompute(spark, "k")(1) === 1)
    assert(cache.getOrCompute(s2, "k")(2) === 2)
    assert(cache.size === 2)
  }

  test("clearAll drops entries across every cache instance") {
    val a = new SessionCache[Int]
    val b = new SessionCache[String]
    a.getOrCompute(spark, "x")(1)
    b.getOrCompute(spark, "y")("v")
    SessionCache.clearAll()
    assert(a.size === 0 && b.size === 0)
  }

  test("a build may nest getOrCompute on the same instance, even within one bin") {
    // Equal hashCodes put both keys in one map bin, where a nested
    // computeIfAbsent throws "Recursive update".
    assert("Aa".hashCode === "BB".hashCode)
    val cache = new SessionCache[String]
    val outer = cache.getOrCompute(spark, "Aa")(cache.getOrCompute(spark, "BB")("bb") + "+aa")
    assert(outer === "bb+aa")
    assert(cache.getOrCompute(spark, "BB")("rebuilt") === "bb")
    assert(cache.getOrCompute(spark, "Aa")("rebuilt") === "bb+aa")
  }
}
