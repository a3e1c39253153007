package graft.tools

import org.apache.spark.sql.functions._

/** Per-stage decomposition of `dedup_simhash_blocked`
  * ([[graft.operators.Dedup.simHashPairsBlockedReplayable]]) — the
  * heavy family's slowest sf100 query and the r12-verdict task-5
  * target. `runMain graft.tools.ShbProfile <sfDir> [samples]`.
  *
  * Prints, per sample: signature materialization, banded-row explode
  * (56 combination keys × sigs), the dup-key count pass (with the
  * ACTUAL dup-key cardinality — the Bloom in the scale path is sized
  * for 1.6 M; saturation there collapses the prune), the Bloom-pruned
  * row count (prune selectivity), and the full query, so a regression
  * can be attributed to a stage instead of guessed at. Honors
  * SPARK_GRAFT_MASTER / SPARK_GRAFT_EXECUTOR_MEM like Bench.
  */
object ShbProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val samples = if (args.length > 1) args(1).toInt else 3
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")
    val spark = graft.GraftContext.envSessionBuilder(master,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "121").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }

    val blocks = 8; val maxHamming = 3; val w = 64 / blocks
    (1 to samples).foreach { i =>
      val docs = graft.Tables.load(spark, sfDir, "documents")
      // the same fused signature kernel the operator uses, persisted the
      // same way so stage times match the real plan's
      val sigs = graft.operators.Caches.register(
        graft.operators.Par.ensure(docs, col("doc_id"))
          .select(col("doc_id").as("id"),
            graft.functions.replay_simhash(col("text")).as("st"))
          .filter(col("st.n_tokens") > 0)
          .select(col("id"), col("st.bits").as("bits"),
            col("st.h1").as("h1"), col("st.h2").as("h2"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val (tSig, nSig) = time(sigs.count())
      val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
      // packed numeric band keys — mirrors the r13 operator shape
      val kBlocks = blocks - maxHamming
      val perHalf = 32 / w
      def blockBits(j: Int) = shiftright(
        if (j < perHalf) col("h1") else col("h2"),
        (perHalf - 1 - (j % perHalf)) * w).bitwiseAND(lit((1L << w) - 1))
      val keyCols = combos.zipWithIndex.map { case (c, bi) =>
        c.zipWithIndex.foldLeft(
          lit(bi.toLong << (kBlocks * w)): org.apache.spark.sql.Column) {
          case (acc, (j, pos)) =>
            acc.bitwiseOR(shiftleft(blockBits(j), (kBlocks - 1 - pos) * w))
        }
      }
      def banded0 = sigs.select(col("id"), col("h1"), col("h2"),
        explode(array(keyCols.toIndexedSeq: _*)).as("bh"))
      val (tBand, nBand) = time(banded0.queryExecution.toRdd.count())
      val dupKeys = graft.operators.Caches.register(
        banded0.select(col("bh"))
          .repartition(col("bh"))
          .groupBy(col("bh")).agg(count(lit(1)).as("graft_occ"))
          .filter(col("graft_occ") >= 2)
          .select(col("bh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val (tDup, nDup) = time(dupKeys.count())
      val (tBloom, bloom) = time(graft.operators.Bloom.nativeKeyBloomMemo(
        dupKeys, col("bh"), math.max(1L, nDup), math.max(1L << 20, nDup * 16)))
      val pruned = graft.operators.Bloom.nativePruned(banded0, col("bh"), bloom)
      val (tPrune, nPruned) = time(pruned.queryExecution.toRdd.count())
      System.err.println(f"[shbprofile] bloom build $tBloom%.1f s")
      val (tFull, _) = time {
        graft.SparkEntry.queries("dedup_simhash_blocked")(spark, sfDir)
          .queryExecution.toRdd.count()
      }
      System.err.println(
        f"[shbprofile] sample $i: full $tFull%.1f s | sigs $tSig%.1f s ($nSig rows) " +
          f"banded $tBand%.1f s ($nBand rows) dupkeys $tDup%.1f s ($nDup keys) " +
          f"pruned-count $tPrune%.1f s ($nPruned rows = ${100.0 * nPruned / math.max(1L, nBand)}%.1f%%)")
      graft.operators.Dedup.releaseCaches()
      System.gc()
    }
    spark.stop()
  }
}
