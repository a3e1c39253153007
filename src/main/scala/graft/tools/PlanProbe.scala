package graft.tools

/** Print the executed plan of registered queries without running them
  * (`runMain graft.tools.PlanProbe <sfDir> <query>[,query...] [full]`).
  * Default output keeps the join/exchange/sort/scan skeleton — the
  * lines a scale review reads first; pass `full` for the whole tree.
  * Honors the same AQE/shuffle settings as Bench so the static plan
  * matches what a bench run starts from (AQE re-plans at runtime on
  * top of this).
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanProbe <sfDir> <q1[,q2...]> [full]")
    val spark = graft.GraftContext.envSessionBuilder(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val full = args.length > 2 && args(2) == "full"
    args(1).split(',').foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, args(0))
      val plan = df.queryExecution.executedPlan.toString
      println(s"==== $name ====")
      println(
        if (full) plan
        else plan.split("\n").filter(l =>
          l.contains("Join") || l.contains("Exchange") || l.contains("Sort") ||
            l.contains("Aggregate") || l.contains("Scan") || l.contains("Window"))
          .mkString("\n"))
    }
    spark.stop()
  }
}
