package graft.tools

/** Stage decomposition for dedup_clusters at a given SF
  * (`runMain graft.tools.CcProfile <sfDir>`): runs the full query with
  * `spark.graft.components.log=true`, so the per-stage breakdown
  * (LSH pairs + edge materialization vs each propagate/jump round vs
  * convergence probes) prints alongside the end-to-end time.
  */
object CcProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftContext.envSessionBuilder("local[32]",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "121").toInt)
      .config("spark.graft.components.log", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // signature-pass-only slice: the k=128 fused minhash kernel over the
    // corpus, no banding/join — isolates pure signature compute
    if (sys.env.contains("CC_E2E_ONLY")) {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries("dedup_clusters")(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        System.err.println(
          f"[ccprofile] e2e-only sample $i ${(t2 - t0) / 1e9}%.2f s " +
            f"(construct ${(t1 - t0) / 1e9}%.2f, summary-count ${(t2 - t1) / 1e9}%.2f)")
        graft.operators.Dedup.releaseCaches()
        System.gc()
      }
      spark.stop()
      return
    }
    locally {
      import org.apache.spark.sql.functions._
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val docs = graft.Tables.load(spark, sfDir, "documents")
        docs.select(col("doc_id"),
            graft.functions.minhash_text(col("text"), 3, 128, 42L).as("sig"))
          .select(max(element_at(col("sig"), 1)).as("s"))
          .queryExecution.toRdd.count()
        System.err.println(
          f"[ccprofile] sig-only sample $i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    // staged LSH decomposition: signatures → banding+guarded pairs →
    // estimate verify (the two signature-array joins) — mirrors
    // minHashPairs' stages with the same params dedup_clusters uses
    locally {
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      val t0 = System.nanoTime()
      val docs = graft.Tables.load(spark, sfDir, "documents")
      val sigs = docs.select(col("doc_id").as("id"),
          graft.functions.minhash_text(col("text"), 3, 128, 42L).as("sig"))
        .filter(element_at(col("sig"), 1) =!= lit(Long.MaxValue))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSigs = sigs.count()
      val t1 = System.nanoTime()
      System.err.println(f"[ccprofile] stage sigs  ${(t1 - t0) / 1e9}%.2f s  ($nSigs sigs)")
      val banded = sigs.select(col("id"),
          explode(transform(sequence(lit(0), lit(31)), b =>
            struct(b.as("band"), hash(slice(col("sig"), b * 4 + 1, lit(4))).as("bh")))).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
      val cands = Dedup.guardedBandPairs(banded, Seq("band", "bh"), 1024)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nCands = cands.count()
      val t2 = System.nanoTime()
      System.err.println(f"[ccprofile] stage cands ${(t2 - t1) / 1e9}%.2f s  ($nCands candidates)")
      val est = graft.functions.sig_eq_count(col("sig_a"), col("sig_b"))
        .cast("double") / 128
      val nPairs = cands
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), est.as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.3)
        .count()
      val t3 = System.nanoTime()
      System.err.println(f"[ccprofile] stage verify ${(t3 - t2) / 1e9}%.2f s  ($nPairs pairs)")
      cands.unpersist(); sigs.unpersist()
    }
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries("dedup_clusters")(spark, sfDir)
      df.queryExecution.toRdd.count()
      System.err.println(
        f"[ccprofile] sample $i end-to-end ${(System.nanoTime() - t0) / 1e9}%.2f s")
      graft.operators.Dedup.releaseCaches()
      System.gc()
    }
    spark.stop()
  }
}
