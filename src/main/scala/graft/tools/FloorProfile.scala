package graft.tools

import java.util.concurrent.atomic.AtomicLong

/** Per-query floor decomposition (`runMain graft.tools.FloorProfile
  * <sfDir> [name ...]`): the sf0.1 battery is dominated by a ~0.2-0.4 s
  * per-query cost (r13 verdict: the 8-core driver leg BEAT the 32-core
  * one), not by compute. This tool splits each query's scored sample
  * into construct (DataFrame build), plan (analyze+optimize+physical)
  * and execute (AQE round-trips + scheduling + compute), and counts the
  * jobs/stages/tasks each execution schedules — so the floor attack
  * targets what the floor is actually made of instead of guessing.
  *
  * Runs the engine session (GraftContext.sessionBuilder, as Bench does;
  * shuffle partitions = cores unless SPARK_GRAFT_SHUFFLE) so the
  * decomposition prices the same plans the bench times.
  */
object FloorProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftContext.envSessionBuilder(s"local[$cpus]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus).toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerAll(spark, sfDir)

    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
        }
      })

    // JIT/codegen warmup à la Bench (the floor being measured is the
    // steady-state per-query cost, not first-use compilation)
    {
      import org.apache.spark.sql.functions._
      val li = graft.Tables.load(spark, sfDir, "lineitem")
      li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))).count()
    }

    case class Row(name: String, con: Double, plan: Double, exec: Double,
        j: Long, st: Long, t: Long)
    val rows = names.flatMap { n =>
      val fn = graft.SparkEntry.queries(n)
      try {
        // two full passes; report the SECOND (the bench scores min-of-2,
        // so steady-state is what the battery actually pays)
        val samples = (1 to 2).map { _ =>
          val j0 = jobs.get; val s0 = stages.get; val t0 = tasks.get
          val c0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val c1 = System.nanoTime()
          df.queryExecution.executedPlan // force analyze+optimize+physical
          val c2 = System.nanoTime()
          df.queryExecution.toRdd.count()
          val c3 = System.nanoTime()
          graft.operators.Dedup.releaseCaches()
          Row(n, (c1 - c0) / 1e9, (c2 - c1) / 1e9, (c3 - c2) / 1e9,
            jobs.get - j0, stages.get - s0, tasks.get - t0)
        }
        Some(samples.last)
      } catch { case e: Throwable =>
        System.err.println(s"floorprofile: $n FAILED: ${e.getMessage}")
        None
      }
    }
    println(f"${"query"}%-34s ${"con"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s ${"jobs"}%5s ${"stg"}%4s ${"tasks"}%6s")
    rows.sortBy(r => -(r.con + r.plan + r.exec)).foreach { r =>
      println(f"${r.name}%-34s ${r.con}%7.3f ${r.plan}%7.3f ${r.exec}%7.3f ${r.con + r.plan + r.exec}%7.3f ${r.j}%5d ${r.st}%4d ${r.t}%6d")
    }
    val (tc, tp, te) = (rows.map(_.con).sum, rows.map(_.plan).sum, rows.map(_.exec).sum)
    println(f"TOTALS n=${rows.size} construct $tc%.1f plan $tp%.1f exec $te%.1f sum ${tc + tp + te}%.1f jobs ${rows.map(_.j).sum} stages ${rows.map(_.st).sum} tasks ${rows.map(_.t).sum}")
    spark.stop()
  }
}
