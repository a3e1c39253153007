package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-skew probe (`runMain graft.tools.SkewProbe <sfDir> [out.json]`):
  * the synthetic fixtures are uniform, so the battery's AQE skew-join
  * handling recorded zero activations in every round — this leg plants a
  * zipf-ish key (P(key ≥ x) ≈ 1/x: ~half the fact table lands on ONE
  * key) and measures what each mitigation does to the task-time
  * distribution of the shuffle join:
  *
  *   - `aqe_skew`   — AQE skewJoin on (the session default): the hot
  *                    partition is split at runtime; p99/p50 task time
  *                    should stay bounded.
  *   - `no_handling`— AQE skewJoin off: the hot partition runs as one
  *                    straggler task; max task time ≈ leg wall-clock.
  *                    This is the cliff the probe exists to demonstrate.
  *   - `salted`     — [[graft.operators.SkewJoin.saltedEquiJoin]], the
  *                    explicit pre-AQE mitigation: the hot key spreads
  *                    over saltFactor reducers at plan time.
  *
  * Broadcast is disabled for the probe (the dim WOULD broadcast at this
  * size — that is the right plan in production; the probe targets the
  * shuffle-join path a non-broadcastable dim forces). shuffle.partitions
  * is 200, the multi-node-like granularity where one hot partition is
  * visible against 199 idle-ish ones. All three legs must agree on the
  * result fingerprint — a mitigation that changes rows is a bug, not a
  * mitigation.
  */
object SkewProbe {

  private final case class Leg(name: String, sec: Double, rows: Long,
      fingerprint: Long, skewSplits: Int, tasks: Int,
      p50Ms: Long, p99Ms: Long, maxMs: Long,
      joinTasks: Int, joinP50Ms: Long, joinMaxMs: Long)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SkewProbe <sfDir> [out.json]")
    val sfDir = args(0)
    val spark = graft.GraftContext.envSessionBuilder(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 200)
      // detection threshold below the engine's 64m: the planted hot
      // partition is ~100m COMPRESSED (zkey=1 runs compress ~8x) and must
      // sit well above it. 32m threshold + 16m split target ≈ the ratio a
      // large cluster sees with the defaults at 10x the data.
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // keep AQE from folding the 200 partitions back into a handful
      // before the join — the probe wants cluster-like task granularity
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val durations = new ConcurrentLinkedQueue[(Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null)
          durations.add((e.stageId, e.taskInfo.duration))
    })

    def zli: DataFrame = graft.Tables.load(spark, sfDir, "lineitem").select(
      expr("100000L div (CAST((CAST(l_orderkey AS DECIMAL(38,0)) * 2654435761) % 100000 AS BIGINT) + 1)")
        .as("zkey"),
      round(col("l_quantity")).cast("long").as("qty"))
    // grouped on dkey but joined on dkey + 1 (see join_skew_zipf): the
    // dim must arrive at the join through a fresh shuffle stage, not by
    // reusing its aggregation exchange, or OptimizeSkewedJoin can't split
    def dim: DataFrame = graft.Tables.load(spark, sfDir, "supplier")
      .groupBy((col("s_suppkey") % 1000).as("dkey"))
      .agg(count(lit(1)).as("n_sup"))

    def runLeg(name: String, joined: => DataFrame): Leg = {
      durations.clear()
      val t0 = System.nanoTime()
      // global fingerprint straight off the join output (row count +
      // order-insensitive hash-sum): exact, and — unlike a groupBy on
      // the JOIN key — imposes no output distribution, so
      // OptimizeSkewedJoin is free to split the hot partition. (A
      // same-key aggregate after the join suppresses the split unless
      // spark.sql.adaptive.forceOptimizeSkewedJoin is on — which the
      // bench session sets; see join_skew_zipf.)
      val fing = joined.agg(count(lit(1)),
        sum(hash(col("zkey"), col("qty"), col("n_sup")).cast("long")))
      // collect(), NOT head(): head() plans a separate limit-1 execution
      // and this queryExecution would never run — its executedPlan would
      // print the INITIAL adaptive plan and the skew count would read 0
      val row = fing.collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      // post-execution adaptive plan: "skew=true" on a join node means
      // OptimizeSkewedJoin split a partition at runtime
      val splits = "skew=true".r
        .findAllIn(fing.queryExecution.executedPlan.toString).size
      if (sys.env.contains("SPARK_GRAFT_DEBUG_PLAN"))
        System.err.println(s"=== $name executed plan ===\n" +
          fing.queryExecution.executedPlan.toString.take(8000))
      // listener delivery is async: wait until every task end is delivered
      org.apache.spark.sql.graft.Shims.drainListenerBus(spark.sparkContext, 10000L)
      import scala.jdk.CollectionConverters._
      val byStage = durations.asScala.toArray
      val ms = byStage.map(_._2).sorted
      def pct(p: Double): Long =
        if (ms.isEmpty) 0L else ms(math.min(ms.length - 1, (p * ms.length).toInt))
      // per-stage attribution so the straggler (if any) is locatable:
      // scan / map-side vs the join's reduce stage
      val stages = byStage.groupBy(_._1).toSeq.sortBy(_._1)
      val stageLine = stages.map {
        case (sid, ts) => s"stage $sid: ${ts.length} tasks, " +
          s"max ${ts.map(_._2).max} ms"
      }.mkString("; ")
      System.err.println(s"[skew-probe] $name — $stageLine")
      // the join's reduce stage — where the hot partition lands — is the
      // last multi-task stage (only the final fingerprint agg follows);
      // the overall max otherwise reads the SCAN stage's 30-ish-second
      // map tasks and buries the straggler signal
      val join = stages.filter(_._2.length > 1).lastOption
        .map(_._2.map(_._2).sorted).getOrElse(Array.empty[Long])
      Leg(name, sec, row.getLong(0), row.getLong(1), splits, ms.length,
        pct(0.50), pct(0.99), if (ms.isEmpty) 0L else ms.last,
        join.length,
        if (join.isEmpty) 0L else join(join.length / 2),
        if (join.isEmpty) 0L else join.last)
    }

    // page-cache + codegen warmup so the first measured leg isn't the
    // one paying cold parquet reads (observed 1.5× inflation otherwise)
    zli.agg(sum(col("qty"))).head()
    dim.agg(count(lit(1))).head()

    // hint("merge") everywhere: same join algorithm across legs, so the
    // distribution deltas are the mitigation, not SMJ-vs-SHJ noise
    def joined: DataFrame =
      zli.hint("merge").join(dim, col("zkey") === col("dkey") + 1)
    val legs = Seq(
      runLeg("aqe_skew", joined),
      {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        val l = runLeg("no_handling", joined)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        l
      },
      runLeg("salted", {
        // salting needs a same-named equi key on both sides; it
        // replicates the dim per salt anyway, so the exchange-reuse
        // subtlety above doesn't apply here
        val d = dim.select((col("dkey") + 1).as("zkey"), col("n_sup"))
        graft.operators.SkewJoin.saltedEquiJoin(
          zli.hint("merge"), d, "zkey", saltFactor = 16).drop(d("zkey"))
      }))

    val agree = legs.map(l => (l.rows, l.fingerprint)).distinct.size == 1
    val legJson = legs.map { l =>
      s""""${l.name}":{"sec":${f"${l.sec}%.2f"},"rows":${l.rows},""" +
        s""""skew_splits":${l.skewSplits},"tasks":${l.tasks},""" +
        s""""task_p50_ms":${l.p50Ms},"task_p99_ms":${l.p99Ms},""" +
        s""""task_max_ms":${l.maxMs},"join_stage_tasks":${l.joinTasks},""" +
        s""""join_stage_p50_ms":${l.joinP50Ms},""" +
        s""""join_stage_max_ms":${l.joinMaxMs}}"""
    }.mkString(",")
    val json = s"""{"metric":"skew_probe","sf":"$sfDir",""" +
      s""""results_agree":$agree,$legJson}"""
    println(json)
    if (args.length > 1) {
      val p = java.nio.file.Paths.get(args(1))
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    }
    spark.stop()
    if (!agree) sys.exit(1)
  }
}
