package graft.tools

import org.apache.spark.sql.functions._

/** Per-sample decomposition for the two unexplained multi-JVM heavy
  * regressions (r12 verdict "what's wrong" #2):
  * `graph_pagerank` (2.31× with a MONOTONIC per-sample rise
  * 11.9→37.9 s) and `dedup_lines` (2.13×, in-leg spread 2.9×).
  *
  * `runMain graft.tools.PrProfile <sfDir> [samples]` — honors
  * SPARK_GRAFT_MASTER / SPARK_GRAFT_EXECUTOR_MEM like Bench, runs each
  * query `samples` times and prints per-sample wall-clock for the whole
  * query plus its internal stages, so a rise can be attributed to a
  * STAGE (fp-distinct scan, edge self-join, iteration chain) or to
  * ambient state (shuffle-file/cache accumulation across samples — the
  * hypothesis). GRAFT_PR_BLOCKING_RELEASE=1 switches the between-sample
  * cache release to blocking unpersist, isolating the async-release
  * variable.
  */
object PrProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val samples = if (args.length > 1) args(1).toInt else 5
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")
    val spark = graft.GraftContext.envSessionBuilder(master,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "121").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val blockingRelease = sys.env.get("GRAFT_PR_BLOCKING_RELEASE").contains("1")

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def cleanup(): Unit = {
      if (blockingRelease) graft.operators.Caches.releaseAll(blocking = true)
      else graft.operators.Dedup.releaseCaches()
      System.gc()
    }

    // ---- graph_pagerank, decomposed -------------------------------------
    (1 to samples).foreach { i =>
      val docs = graft.Tables.load(spark, sfDir, "documents")
      val fpsrc = docs.select(
          md5(substring(graft.functions.normalize_text(col("text")), 1, 60)).as("fp"),
          col("source")).distinct()
      val (tFp, _) = time(fpsrc.queryExecution.toRdd.count())
      val fpsrc2 = docs.select(
          md5(substring(graft.functions.normalize_text(col("text")), 1, 60)).as("fp"),
          col("source")).distinct()
      val edges = fpsrc2.as("a").join(fpsrc2.as("b"), Seq("fp"))
        .filter(col("a.source") =!= col("b.source"))
        .select(col("a.source").as("src"), col("b.source").as("dst"))
      val (tEdge, _) = time(edges.queryExecution.toRdd.count())
      val (tFull, _) = time {
        graft.SparkEntry.queries("graph_pagerank")(spark, sfDir)
          .queryExecution.toRdd.count()
      }
      System.err.println(
        f"[prprofile] pagerank sample $i: full $tFull%.2f s " +
          f"(fp-distinct $tFp%.2f, edges $tEdge%.2f)")
      cleanup()
    }

    // ---- dedup_lines, decomposed ----------------------------------------
    (1 to samples).foreach { i =>
      val docs = graft.Tables.load(spark, sfDir, "documents")
      // segment explode + fingerprint + winner agg only (no reassembly)
      val segs = docs
        .select(col("doc_id").as("id"), graft.functions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("id"), posexplode(expr(
          "transform(sequence(0, (size(tk) - 1) div 15)," +
            " i -> array_join(slice(tk, i * 15 + 1, 15), ' '))")))
        .toDF("id", "seg_idx", "seg")
      val fps = segs.select(col("id"), col("seg_idx"), md5(col("seg")).as("fp"))
      val winners = fps
        .select(col("fp"),
          (col("id").cast("decimal(38,0)") * lit(4294967296L) + col("seg_idx")).as("pk"))
        .groupBy(col("fp")).agg(min(col("pk")).as("pk"))
      val (tWin, _) = time(
        winners.select(count(lit(1))).queryExecution.toRdd.count())
      val (tFull, _) = time {
        graft.SparkEntry.queries("dedup_lines")(spark, sfDir)
          .queryExecution.toRdd.count()
      }
      System.err.println(
        f"[prprofile] dedup_lines sample $i: full $tFull%.2f s " +
          f"(winner-agg $tWin%.2f)")
      cleanup()
    }
    spark.stop()
  }
}
