package graft.operators

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The per-version artifact cache both index families read through. */
class IndexAdviceSpec extends AnyFunSuite {

  test("versionCached: version N+1's key evicts version N's and keeps a " +
      "prefix-sharing table's key") {
    val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def put(key: String): String = IndexAdvice.versionCached(cache, key)(key)
    val docsV1 = "/wh/docs/_versions/v1/_layout"
    val docsV2 = "/wh/docs/_versions/v2/_layout"
    val docsIxV1 = "/wh/docs_ix/_versions/v1/_layout"
    put(docsV1)
    put(docsIxV1)
    put(docsV2)
    assert(cache.keySet.asScala.toSet == Set(docsIxV1, docsV2))
    // a hit returns the cached value without running the loader
    assert(IndexAdvice.versionCached(cache, docsV2)(fail("reloaded")) == docsV2)
  }
}
