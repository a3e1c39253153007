package graft.tools

/** Production-merge-count probe for batched BPE training
  * (`runMain graft.tools.BpeScaleBench <sfDir> [merges] [batch]`).
  *
  * The r5 complaint against driver-round BPE was "32k rules = 32k jobs";
  * [[graft.operators.Bpe.trainBatched]] bounds driver rounds at
  * ceil(merges/batch). This main records the evidence at a production
  * merge count: wall-clock, pass count (= Spark job rounds driven by
  * candidate collection), and rules learned, printed as one line for
  * BASELINE.md.
  */
object BpeScaleBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BpeScaleBench <sfDir> [merges] [batch]")
    val sfDir = args(0)
    val merges = if (args.length > 1) args(1).toInt else 512
    val batch = if (args.length > 2) args(2).toInt else 64
    val spark = graft.GraftContext.envSessionBuilder(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.load(spark, sfDir, "documents")
    docs.count() // warm the scan + JIT outside the timed window

    val t0 = System.nanoTime()
    val rules = graft.operators.Bpe.trainBatched(docs, merges, batch)
    val learned = rules.count()
    val sec = (System.nanoTime() - t0) / 1e9
    graft.operators.Caches.releaseAll()
    val passes = (merges + batch - 1) / batch
    println(f"[bpebench] sf=$sfDir merges=$merges batch=$batch " +
      f"passes=$passes rules=$learned sec=$sec%.1f")
    spark.stop()
  }
}
