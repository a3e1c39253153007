package graft

/** Dev tool: print formatted physical plans for named queries (or all).
  * Usage: runMain graft.PlanDump <sfDir> [queryName ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // SPARK_GRAFT_CONF=k=v;k=v — extra session confs, e.g. forcing the
    // size-gated LSH scale path on a tiny fixture so its plan is dumpable
    val spark = GraftContext.envSessionBuilder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      try println(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
