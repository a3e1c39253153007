package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Per-stage decomposition of `nb_langid`
  * ([[graft.operators.NaiveBayes.fitPredict]]) — the sf0.1 battery's
  * slowest steady-state query (5.4 s) and the second-slowest sf100
  * heavy (92 s). `runMain graft.tools.NbProfile <sfDir> [samples]`.
  *
  * Times each materialization the fused pipeline pays, in pipeline
  * order, so cost is attributed to a stage instead of guessed at:
  * the map-side per-doc tf kernel (`unigram_counts`, no corpus
  * exchange since r13), the (label,token) cnt rollup, the vocab
  * distinct count, the scoring join + class-pivoted doc aggregate, and
  * the end-to-end query.
  * Honors SPARK_GRAFT_MASTER / SPARK_GRAFT_EXECUTOR_MEM like Bench.
  */
object NbProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val samples = if (args.length > 1) args(1).toInt else 3
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")
    val spark = graft.GraftContext.envSessionBuilder(master,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }

    (1 to samples).foreach { i =>
      val docs = graft.Tables.load(spark, sfDir, "documents")
      // stage 1: the (label, token) model aggregate (fit's corpus pass —
      // the unigram kernel pre-reduces each doc before the explode)
      val cnt = graft.operators.Caches.register(
        docs.select(col("lang").as("label"),
            explode(graft.functions.unigram_counts(
              graft.functions.tokens(col("text")))).as("u"))
          .select(col("label"), col("u.token").as("token"),
            col("u.k").as("k"))
          .groupBy(col("label"), col("token"))
          .agg(sum(col("k")).as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val (tCnt, nCnt) = time(cnt.count())
      // stage 2: vocab distinct + nDocs (the two driver-side model scalars)
      val (tVocab, vocab) = time(cnt.select(col("token")).distinct().count())
      val (tNdocs, _) = time(docs.count())
      // stage 3: map-side tf + scoring join + per-doc aggregate (predict
      // body, minus the final window/joins)
      val totals = cnt.groupBy(col("label")).agg(sum(col("c")).as("total"))
      val weights = cnt.join(totals, Seq("label"))
        .select(col("label"), col("token"),
          log((col("c") + lit(1.0)) / (col("total") + lit(1.0) * vocab))
            .as("logp"))
      val dt = docs.select(col("doc_id"),
          graft.functions.tokens(col("text")).as("graft_toks"))
        .select(col("doc_id"),
          size(col("graft_toks")).cast("long").as("n_tok"),
          explode(graft.functions.unigram_counts(col("graft_toks"))).as("u"))
        .select(col("doc_id"), col("n_tok"),
          col("u.token").as("token"), col("u.k").as("tf"))
      val (tJoin, nHits) = time(
        dt.join(weights, Seq("token"), "left")
          .groupBy(col("doc_id"))
          .agg(min(col("n_tok")).as("n"), count(col("logp")).as("h"))
          .count())
      // stage 4: end-to-end query (the bench's exact plan)
      val (tAll, _) = time {
        val out = docs
          .filter(size(graft.functions.tokens(col("text"))) > 0)
          .select(col("doc_id"), col("lang"))
          .join(graft.operators.NaiveBayes.fitPredict(docs)
            .withColumnRenamed("label_pred", "lang_nb"), Seq("doc_id"))
          .orderBy(col("doc_id"))
        out.queryExecution.toRdd.count()
      }
      println(f"[nbprofile] sample $i: cnt=$tCnt%.2f s ($nCnt rows), " +
        f"vocab=$tVocab%.2f s ($vocab), " +
        f"ndocs=$tNdocs%.2f s, scoreJoin=$tJoin%.2f s ($nHits docs), " +
        f"END-TO-END=$tAll%.2f s")
      graft.operators.Dedup.releaseCaches()
      System.gc()
    }
    spark.stop()
  }
}
