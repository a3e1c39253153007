package graft.tools

import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Micro-benchmark of the per-stage/per-query floor
  * (`runMain graft.tools.MicroFloor [sfDir]`): times canonical tiny
  * query shapes (scan-agg, two-stage groupBy, broadcast join, global
  * sort) in a steady-state loop, so the per-execution overhead of plan
  * → AQE stage round-trips → scheduling is measured in isolation from
  * any real compute. Runs the engine session (as Bench does);
  * SPARK_GRAFT_CONF overrides let the same shapes be priced under
  * candidate settings.
  */
object MicroFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftContext.envSessionBuilder(s"local[$cpus]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus).toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerAll(spark, sfDir)

    val tasks = new AtomicLong; val stages = new AtomicLong
    // task-time attribution (ms totals): where does a stage's wall go
    val runMs = new AtomicLong; val deserMs = new AtomicLong
    val gcMs = new AtomicLong; val shufWriteMs = new AtomicLong
    val resSerMs = new AtomicLong; val launchSpanMs = new AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks)
        }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            runMs.addAndGet(m.executorRunTime)
            deserMs.addAndGet(m.executorDeserializeTime)
            gcMs.addAndGet(m.jvmGCTime)
            shufWriteMs.addAndGet(m.shuffleWriteMetrics.writeTime / 1000000)
            resSerMs.addAndGet(m.resultSerializationTime)
            launchSpanMs.addAndGet(
              e.taskInfo.finishTime - e.taskInfo.launchTime - m.executorRunTime
                - m.executorDeserializeTime - m.resultSerializationTime)
          }
        }
      })
    def time(tag: String, warm: Int = 3, n: Int = 10)(
        mk: => org.apache.spark.sql.DataFrame): Unit = {
      (1 to warm).foreach(_ => mk.queryExecution.toRdd.count())
      val s0 = stages.get; val t0 = tasks.get
      val secs = (1 to n).map { _ =>
        val t = System.nanoTime()
        mk.queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }.sorted
      Thread.sleep(50) // let listener drain
      println(f"$tag%-32s med ${secs(n / 2)}%.4f  min ${secs.head}%.4f  max ${secs.last}%.4f  stg/run ${(stages.get - s0) / n}%2d  task/run ${(tasks.get - t0) / n}%3d  run/run ${runMs.get / n}%4dms deser ${deserMs.get / n}%3d gc ${gcMs.get / n}%3d shw ${shufWriteMs.get / n}%3d rser ${resSerMs.get / n}%2d other ${launchSpanMs.get / n}%3d")
      runMs.set(0); deserMs.set(0); gcMs.set(0); shufWriteMs.set(0)
      resSerMs.set(0); launchSpanMs.set(0)
    }

    // pure RDD jobs: per-task dispatch price with no SQL layer at all
    def timeRdd(tag: String, parts: Int, warm: Int = 3, n: Int = 10): Unit = {
      val rdd = spark.sparkContext.parallelize(1 to parts, parts)
      (1 to warm).foreach(_ => rdd.count())
      val secs = (1 to n).map { _ =>
        val t = System.nanoTime()
        rdd.count()
        (System.nanoTime() - t) / 1e9
      }.sorted
      println(f"$tag%-32s med ${secs(n / 2)}%.4f  min ${secs.head}%.4f  max ${secs.last}%.4f")
    }
    timeRdd("rdd-1task", 1)
    timeRdd("rdd-4tasks", 4)
    timeRdd("rdd-32tasks", 32)
    timeRdd("rdd-256tasks", 256)

    // 0 shuffles: in-memory range, one stage, 32 tasks
    time("range-1stage") {
      spark.range(100000).select(sum(col("id")))
    }
    // same but 4 slices — isolates per-task dispatch from plan/job cost
    time("range-1stage-4slices") {
      spark.range(0, 100000, 1, 4).select(sum(col("id")))
    }
    // plan-only: how much of an execution is analysis+optimization
    locally {
      def mk = spark.range(100000).select(sum(col("id")))
      (1 to 3).foreach(_ => mk.queryExecution.executedPlan)
      val secs = (1 to 10).map { _ =>
        val t = System.nanoTime()
        mk.queryExecution.executedPlan
        (System.nanoTime() - t) / 1e9
      }.sorted
      println(f"${"range-planning-only"}%-32s med ${secs(5)}%.4f  min ${secs.head}%.4f  max ${secs.last}%.4f")
    }
    // 1 shuffle: two-stage groupBy over range
    time("range-groupBy-2stage") {
      spark.range(100000).groupBy(pmod(col("id"), lit(97)).as("k"))
        .agg(sum(col("id"))).select(sum(col("sum(id)")))
    }
    // same shape, pinned map-side slice counts — isolates per-map-task
    // shuffle-write cost from core count
    time("range-groupBy-8slices") {
      spark.range(0, 100000, 1, 8).groupBy(pmod(col("id"), lit(97)).as("k"))
        .agg(sum(col("id"))).select(sum(col("sum(id)")))
    }
    time("range-groupBy-32slices") {
      spark.range(0, 100000, 1, 32).groupBy(pmod(col("id"), lit(97)).as("k"))
        .agg(sum(col("id"))).select(sum(col("sum(id)")))
    }
    // 3 chained shuffles
    time("range-3shuffles") {
      val a = spark.range(100000)
        .groupBy(pmod(col("id"), lit(97)).as("k")).agg(sum(col("id")).as("s"))
      a.groupBy(pmod(col("k"), lit(13)).as("k2")).agg(sum(col("s")).as("s2"))
        .groupBy(pmod(col("k2"), lit(5)).as("k3")).agg(sum(col("s2")))
    }
    // parquet scan-agg (q1 shape, the ambient canary)
    time("scan-agg") {
      graft.Tables.load(spark, sfDir, "lineitem")
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
    }
    // scan + broadcast join + agg
    time("scan-bcast-join") {
      val li = graft.Tables.load(spark, sfDir, "lineitem")
      val o = graft.Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")))
    }
    // global sort (range partitioning needs a sampling pass)
    time("scan-sort-limit") {
      graft.Tables.load(spark, sfDir, "orders")
        .orderBy(col("o_totalprice").desc).limit(10)
    }
    // scan + shuffle join (both sides exchanged)
    time("scan-smj") {
      val li = graft.Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val o = graft.Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"))
      li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")))
    }
    spark.stop()
  }
}
