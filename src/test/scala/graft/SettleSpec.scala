package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one cache/checkpoint primitive: [[Settle.using]] releases exactly
  * the frames it persisted — on success and on failure — and leaves a
  * caller's cache alone; [[Settle.shared]] checkpoints unless the
  * lineage switch is on. */
class SettleSpec extends SparkSpecBase {
  import spark.implicits._

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("using releases what it persisted, on success and on failure") {
    spark.catalog.clearCache()
    val a = spark.range(10).toDF("x")
    val b = spark.range(20).toDF("y")
    val n = Settle.using(a, b) {
      assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
      a.count() + b.count()
    }
    assert(n == 30L)
    assert(cacheEmpty, "using must unpersist its own frames")
    intercept[IllegalStateException] {
      Settle.using(a)(throw new IllegalStateException("boom"))
    }
    assert(cacheEmpty, "a throwing body must not leak the cache")
  }

  test("using leaves a caller's cache in place") {
    spark.catalog.clearCache()
    val mine = spark.range(10).toDF("x").cache()
    val other = spark.range(5).toDF("y")
    Settle.using(mine, other)(mine.count() + other.count())
    assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "the caller persisted it, the caller releases it")
    assert(other.storageLevel == StorageLevel.NONE)
    mine.unpersist(true)
    assert(cacheEmpty)
  }

  test("shared checkpoints eagerly unless the lineage switch is on") {
    val df = spark.range(10).toDF("x").filter($"x" > 3)
    val settled = Settle.shared(df)
    assert(settled.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(settled.count() == 6L)
    sys.props(Settle.LineageProp) = "true"
    try assert(Settle.shared(df) eq df)
    finally sys.props.remove(Settle.LineageProp)
  }
}
