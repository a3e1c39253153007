package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trainable logistic-regression curation filter — the "distill an
  * expensive quality rule into a cheap linear model" step of a data
  * pipeline (the fastText/classifier-filter shape of CCNet/LLaMA data
  * work, linearized so the ENTIRE fit is replayable by an independent
  * engine).
  *
  * Training is full-batch gradient descent on log-loss:
  * w ← w − η · avg_docs[(σ(w·x) − y) · x], starting from w = 0. Each
  * iteration is ONE map-side-combined aggregate over the corpus producing
  * k+1 doubles (the gradient); the driver holds only the weight vector —
  * model state like a centroid set, never corpus data. Scoring is a
  * scan-local projection with the weights inlined as literals.
  *
  * Determinism contract: features and labels are the bit-exact int/int
  * ratio arithmetic of [[TextAnalysis.qualityColumns]] (label = composite
  * quality > threshold, proven replayable by the text_quality oracle), so
  * the only cross-engine drift is ln/exp ulps and the hash-agg summation
  * order inside avg() (~1e-15 per iteration). Weights stay UNROUNDED
  * through the loop — rounding them would move drift ONTO a rounding
  * boundary instead of away from it — and the ~1e-13 final score drift is
  * absorbed by the round-6 output. The dot product is evaluated in one
  * fixed left-associated order (w0 + w1·x1 + … ) on both engines.
  *
  * Reference scope: BlazingSQL has no trainable operators; this extends
  * the curation family (nb_langid's discriminative sibling) per the
  * training-pipeline charter.
  */
object Logistic {

  /** Feature columns (shared with the oracle SQL): ln(1+n_tokens),
    * mean token length, stopword ratio, alpha-char ratio. */
  def featureCols(text: Column): Seq[Column] = {
    val q = TextAnalysis.qualityColumns(text)
    Seq(log(lit(1.0) + q(0)).as("x1"), // q(0) = n_tokens (double)
      q(1).as("x2"), // mean_tok_len
      q(4).as("x3"), // stopword_ratio (en)
      q(3).as("x4")) // alpha_ratio
  }

  /** Fit `iters` GD rounds against label = quality > `threshold`, then
    * score every document. Returns (idCol, label, lr_score) with the
    * score rounded to 6.
    */
  def fitPredict(docs: DataFrame, threshold: Double = 0.62,
      lr: Double = 0.5, iters: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val quality = TextAnalysis.qualityColumns(col(textCol)).last
    val feats = Caches.persist(docs
      .select(Seq(col(idCol),
        when(quality > threshold, 1.0).otherwise(0.0).as("y")) ++
        featureCols(col(textCol)): _*))
    val xs = Seq("x1", "x2", "x3", "x4")

    def zOf(w: Array[Double]): Column =
      xs.zipWithIndex.foldLeft(lit(w(0)): Column) { case (acc, (x, j)) =>
        acc + lit(w(j + 1)) * col(x)
      }
    def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

    var w = Array.fill(xs.length + 1)(0.0)
    for (_ <- 1 to iters) {
      val p = sigmoid(zOf(w))
      val grads = (avg(p - col("y")).as("g0") +:
        xs.zipWithIndex.map { case (x, j) =>
          avg((p - col("y")) * col(x)).as(s"g${j + 1}")
        })
      val g = feats.agg(grads.head, grads.tail: _*).collect()(0)
      w = Array.tabulate(w.length)(j => w(j) - lr * g.getDouble(j))
    }
    feats.select(col(idCol), col("y").cast("int").as("label"),
      round(sigmoid(zOf(w)), 6).as("lr_score"))
  }
}
