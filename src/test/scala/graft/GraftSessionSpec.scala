package graft

/** The engine session is defined once (GraftContext.sessionBuilder) and
  * the suite runs on it, so every spec tests the plans the engine ships.
  * Pins each engine conf on the suite session, and the one
  * SPARK_GRAFT_CONF parser the mains share.
  */
class GraftSessionSpec extends SparkSuite {

  test("suite session carries every engine conf") {
    val sql = Map(
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64m",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096")
    sql.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"session conf $k")
    }
    // core confs: fixed when the context starts, read from its SparkConf
    val core = spark.sparkContext.getConf
    assert(core.get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    assert(core.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("SPARK_GRAFT_CONF parser skips malformed entries, splits on the first =") {
    assert(GraftContext.parseConfs("=v;k=; ;;a=b=c; x = y ;novalue") ==
      Seq("a" -> "b=c", "x" -> "y"))
    assert(GraftContext.parseConfs("").isEmpty)
  }
}
