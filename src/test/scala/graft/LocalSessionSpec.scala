package graft

import org.apache.spark.storage.StorageLevel

/** The shared local builder every tool main uses, and the release
  * helper that runs between their queries.
  */
class LocalSessionSpec extends SparkSpec {

  test("the shared session: UTC, no UI, cached-plan AQE off, cpus partitions") {
    val s = SparkEntry.localSession(SparkSpec.cpus)
    assert(s eq spark)
    assert(s.sparkContext.master == s"local[${SparkSpec.cpus}]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == SparkSpec.cpus.toString)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "false")
  }

  test("release drops result caches, persisted RDDs and cached plans") {
    val cached = spark.range(100).toDF("x").filter("x % 3 = 0").cache()
    cached.count()
    val result = graft.pipeline.Similarity.cacheAndRelease(
      spark.range(10).toDF("y"), Nil)
    result.count()
    sc.parallelize(1 to 10).persist().count()
    SparkEntry.release(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(result.storageLevel == StorageLevel.NONE)
  }
}
