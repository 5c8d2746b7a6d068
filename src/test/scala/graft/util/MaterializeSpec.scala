package graft.util

import graft.SparkTestBase
import org.apache.spark.storage.StorageLevel

/** The lineage-keeping `persist` mode of [[Materialize]]: the frame is
  * materialized eagerly, serves the same rows, and [[Materialize.drain]]
  * frees it.
  */
class MaterializeSpec extends SparkTestBase {

  test("persist mode returns the same rows and drain unpersists the frame") {
    val key = "spark.graft.materialize.mode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "persist")
    try {
      Materialize.drain(spark)
      val df = spark.range(0, 100).selectExpr("id", "id * 2 AS twice")
      val once = Materialize.once(df)
      assert(once.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(once.collect().toSet == df.collect().toSet)
      Materialize.drain(spark)
      assert(once.storageLevel == StorageLevel.NONE)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
