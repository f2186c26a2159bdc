package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class CacheScopeSpec extends AnyFunSuite with SparkTestSession {

  test("a scope leaves a plan cached while another open scope holds it") {
    // The CacheManager keeps one entry per plan: two scopes persisting
    // equal plans share it, and the first to end must not drop it.
    def frame = spark.range(10).toDF("x").filter("x > 3")
    def cached = frame.storageLevel != StorageLevel.NONE
    CacheScope.scoped {
      CacheScope.persist(frame)
      CacheScope.scoped(CacheScope.persist(frame))
      assert(cached)
    }
    assert(!cached)
  }
}
