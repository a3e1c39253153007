package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Executor-loss probe: run a query under `local-cluster` (real executor
  * processes), KILL one executor mid-query once a post-shuffle stage is
  * running, and assert the result is bit-identical to the undisturbed
  * run. This exercises the recovery path a 1000-executor cluster hits
  * daily — lost shuffle outputs (FetchFailed → parent-stage
  * resubmission), lost cached blocks (lineage recompute) — none of which
  * a single-JVM run can reach.
  *
  * One session PER QUERY: standalone `killExecutors` permanently lowers
  * the app's executor target (no replacement without dynamic
  * allocation), so a second kill in the same session would starve the
  * scheduler; a fresh session restores the full complement.
  *
  * Usage: SPARK_SCALA_VERSION=2.13 must be in the env (worker launcher);
  *   runMain graft.tools.ChaosCluster <sfDir> [queryName ...]
  * Prints one JSON line per query: {"query":…,"match":true,"kills":1}.
  * Exits non-zero on any mismatch or never-fired kill.
  */
object ChaosCluster {

  private def fingerprint(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    s"${rows.length}:${md.digest().map(b => f"$b%02x").mkString}"
  }

  private def session(): SparkSession = {
    val s = graft.GraftContext.envSessionBuilder(
        sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,8,2048]"), 16)
      // this probe's executors default to 2g (envSessionBuilder: 1g)
      .config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "2g"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q9_profit", "dedup_components")
    var failed = false
    for (name <- names) {
      val spark = session()
      try {
        val fn = graft.SparkEntry.queries(name)
        // undisturbed reference first (also warms codegen/catalog)
        val want = fingerprint(fn(spark, sfDir))
        graft.operators.Dedup.releaseCaches()

        // chaos leg: once a task of a LATER stage (post-shuffle) starts,
        // kill that task's executor — its map outputs and cached blocks
        // die with it, forcing FetchFailed recovery + lineage recompute.
        // Trigger compares against the MINIMUM stageId seen, not whichever
        // TaskStart the async bus delivered first — a first event from the
        // final stage would otherwise suppress the kill forever.
        val minStage = new AtomicInteger(Int.MaxValue)
        val stagesSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
        val killed = new AtomicBoolean(false)
        val kills = new AtomicInteger(0)
        @volatile var killer: Thread = null
        val listener = new SparkListener {
          override def onTaskStart(e: SparkListenerTaskStart): Unit = {
            stagesSeen.add(e.stageId)
            minStage.getAndAccumulate(e.stageId, (a: Int, b: Int) => math.min(a, b))
            if (e.stageId > minStage.get() &&
                killed.compareAndSet(false, true)) {
              val exec = e.taskInfo.executorId
              killer = new Thread(() => {
                if (spark.sparkContext.killExecutors(Seq(exec)))
                  kills.incrementAndGet()
              }, "chaos-killer")
              killer.start()
            }
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val got = try fingerprint(fn(spark, sfDir))
        finally {
          spark.sparkContext.removeSparkListener(listener)
          graft.operators.Dedup.releaseCaches()
        }
        // the kill RPC is async — join it before reading the counter, or
        // a fast query would report kills=0 (spurious probe failure)
        Option(killer).foreach(_.join(30000))
        // stagesSeen is fed by the ASYNC listener bus: a fast query can
        // finish before its TaskStart events deliver, making noWindow
        // spuriously true and masking a missed kill — drain it first.
        org.apache.spark.sql.graft.Shims.drainListenerBus(
          spark.sparkContext, 10000L)
        // a single-stage query has no post-shuffle window to kill in:
        // report that distinctly (not a probe failure — nothing to test)
        val noWindow = stagesSeen.size <= 1
        val ok = got == want && (kills.get() >= 1 || noWindow)
        if (!ok) failed = true
        println(s"""{"query":"$name","match":${got == want},"kills":${kills.get()},"stages_seen":${stagesSeen.size}${if (noWindow) ",\"note\":\"no_multi_stage_window\"" else ""}}""")
      } finally spark.stop()
    }
    if (failed) sys.exit(1)
  }
}
