package graft.tools

import scala.collection.mutable

/** Intra-query wall-clock timeline (`runMain graft.tools.QueryTimeline
  * <sfDir> <query> [n]`): runs one battery query n times and prints,
  * for the LAST run, every stage's [submit, complete] window relative
  * to execution start plus the gaps — so the ~0.3 s per-query floor can
  * be attributed to stage compute vs the driver-side seams between
  * stages (AQE replan, codegen, broadcast builds). Runs the engine
  * session, as Bench does.
  */
object QueryTimeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val n = if (args.length > 2) args(2).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftContext.envSessionBuilder(s"local[$cpus]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus).toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerAll(spark, sfDir)

    case class St(id: Int, name: String, submit: Long, complete: Long,
        tasks: Int, runMs: Long)
    val stages = mutable.ListBuffer[St]()
    val runMsById = mutable.Map[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) synchronized {
            runMsById(e.stageId) =
              runMsById.getOrElse(e.stageId, 0L) + e.taskMetrics.executorRunTime
          }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          synchronized {
            val i = e.stageInfo
            stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(60),
              i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
              i.numTasks, 0L)
          }
      })

    val fn = graft.SparkEntry.queries(name)
    var t0 = 0L; var t1 = 0L
    (1 to n).foreach { i =>
      stages.clear(); runMsById.clear()
      t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      df.queryExecution.toRdd.count()
      t1 = System.nanoTime()
      graft.operators.Dedup.releaseCaches()
      println(f"run $i%2d total ${(t1 - t0) / 1e9}%.3f (construct+plan ${(tPlan - t0) / 1e9}%.3f)")
      if (i == n) {
        Thread.sleep(200)
        val wall0 = t0 / 1000000 // ns -> ms epoch-ish (monotonic, same clock domain as ... not exactly; use first submit as 0)
        val sorted = stages.sortBy(_.submit).toList
        val base = if (sorted.nonEmpty) sorted.head.submit else 0L
        var lastEnd = base
        sorted.foreach { s =>
          val gap = s.submit - lastEnd
          println(f"  stage ${s.id}%3d [${s.submit - base}%5d → ${s.complete - base}%5d] dur ${s.complete - s.submit}%4d ms gapBefore ${gap}%4d tasks ${s.tasks}%3d runMs ${runMsById.getOrElse(s.id, 0L)}%5d  ${s.name}")
          lastEnd = math.max(lastEnd, s.complete)
        }
        println(f"  (first submit lags exec start by ~${base - wall0}%d ms epoch-vs-mono mix — use gaps/durations only)")
      }
    }
    spark.stop()
  }
}
