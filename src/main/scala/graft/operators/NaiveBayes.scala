package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Multinomial Naive Bayes over whitespace tokens — the trainable
  * curation-classifier shape (fastText-style language/quality filters)
  * that large-scale pipelines run over every document.
  *
  * Training is pure relational counting: token-class counts, class token
  * totals, vocabulary size, document priors. All integers are exact, the
  * log-weights are one deterministic double op per count, and prediction
  * is a sum of per-token weights — so, unlike gradient-trained models,
  * the ENTIRE train→predict pipeline replays in an independent SQL engine
  * as a correctness oracle (see the `nb_langid` query).
  *
  * Scale design (100 TB corpus):
  *  - fit: one explode over the corpus, one (label, token) hash-agg, two
  *    tiny rollups. Nothing is collected to the driver; the model stays
  *    a DataFrame pair: weights (label, token, logp) ~ vocab×classes
  *    rows, priors (label, logprior, logunseen) ~ classes rows.
  *  - predict: tokens × the (tiny) priors table, then a key-shuffle join
  *    against weights on (token, label) — broadcast when the vocabulary
  *    fits (AQE decides from stats), shuffle-hash otherwise. The argmax
  *    window runs per (doc, 5 classes), not over the corpus.
  *
  * Ref: the reference's curation surface stops at heuristic language ID
  * (no trainable classifier); this is a beyond-parity operator.
  */
object NaiveBayes {

  /** Trained model: `weights` (label, token, logp), `priors`
    * (label, logprior, logunseen). Laplace smoothing `alpha`.
    */
  final case class Model(weights: DataFrame, priors: DataFrame)

  def fit(docs: DataFrame, textCol: String = "text",
      labelCol: String = "lang", alpha: Double = 1.0): Model = {
    // the fused unigram kernel pre-reduces each doc to its DISTINCT
    // tokens before the explode (guide §2.3: aggregate before you
    // shuffle) — the generator emits ~tf-fold fewer rows and the model
    // aggregate sums the in-doc counts instead of counting occurrences;
    // Σ per-doc tf ≡ global occurrence count, so `c` is bit-identical
    val toks = docs.select(col(labelCol).as("label"),
      explode(unigram_counts(tokens(col(textCol)))).as("u"))
    // persisted: cnt feeds totals, the vocab count, AND the weights join —
    // unpersisted, each consumer re-runs the corpus explode+aggregate
    val cnt = Caches.persist(
      toks.select(col("label"), col("u.token").as("token"),
          col("u.k").as("k"))
        .groupBy(col("label"), col("token"))
        .agg(sum(col("k")).as("c")))
    modelFromCounts(cnt, docs, labelCol, alpha)
  }

  /** Model from materialized (label, token, c) counts — shared by [[fit]]
    * and the fused [[fitPredict]] path.
    *
    * The vocab / nDocs scalars stay DRIVER counts deliberately: folding
    * them into the plan as broadcast 1-row aggregates was measured WORSE
    * (sf0.1 end-to-end 3.4→4.4 s) — the priors subtree is instantiated
    * several times in the final plan (label index, scoring join, fallback
    * row), and each instance re-evaluated the embedded corpus/cnt
    * aggregates, where the driver literal is free at every use site. */
  private def modelFromCounts(cnt: DataFrame, docs: DataFrame,
      labelCol: String, alpha: Double): Model = {
    val totals = cnt.groupBy(col("label")).agg(sum(col("c")).as("total"))
    val vocab = cnt.select(col("token")).distinct().count()
    val nDocs = docs.count()
    val weights = cnt.join(totals, Seq("label"))
      .select(col("label"), col("token"),
        log((col("c") + lit(alpha)) / (col("total") + lit(alpha * vocab)))
          .as("logp"))
    val priors = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("ndocs"))
      .join(totals, Seq("label"))
      .select(col("label"),
        log(col("ndocs") / lit(nDocs.toDouble)).as("logprior"),
        log(lit(alpha) / (col("total") + lit(alpha * vocab))).as("logunseen"))
    Model(weights, priors)
  }

  /** Predicted label per document: argmax over classes of
    * logprior + Σ_tokens log p(token|class), unseen tokens scored with
    * the class's smoothed floor. Documents with no tokens fall back to
    * the highest-prior class. Ties break to the lexicographically
    * smallest label.
    *
    * Plan shape: the naive formulation crosses every TOKEN OCCURRENCE
    * with every class before the weights join (classes × corpus-tokens
    * rows through the shuffle). Algebra removes it — with n the doc's
    * token count,
    *   score = logprior + n·logunseen + Σ_{seen (token,label)} tf·(logp − logunseen)
    * so only (doc, token, tf) rows that actually HIT the vocabulary join
    * shuffle (inner join on token), and the class fan-out happens on ONE
    * row per document. Same score up to fp summation order — the same
    * engine-associativity latitude the oracle replay already has; the
    * compared output is the argmax label.
    */
  def predict(model: Model, docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // per-doc tf is computed MAP-SIDE by the fused unigram kernel: a
    // doc's tokens are born co-located in its row, so the former
    // explode → groupBy(doc, token) shape paid a corpus-token-stream
    // exchange (116 M rows at sf100) for counts every partition already
    // had locally (guide §2.4: remove shuffles outright)
    // n_tok rides the exploded rows (one long per row) instead of being
    // re-aggregated from them: the scoring aggregate recovers it with a
    // min() — no second corpus pass, no (doc) re-exchange. The token
    // array is projected ONCE so the tokenizer runs once per doc (a
    // collapsed projection would re-evaluate it per consumer).
    val dt = docs.select(col(idCol),
        tokens(col(textCol)).as("graft_toks"))
      .select(col(idCol), size(col("graft_toks")).cast("long").as("n_tok"),
        explode(unigram_counts(col("graft_toks"))).as("u"))
      .select(col(idCol), col("n_tok"),
        col("u.token").as("token"), col("u.k").as("tf"))
    predictFromTf(model, docs, dt, idCol)
  }

  /** Scoring from materialized (idCol, token, tf) rows — shared by
    * [[predict]] and the fused [[fitPredict]] path.
    *
    * The class dimension is PIVOTED into per-label sum columns: the
    * label set is classes-sized bounded model state (like the priors
    * themselves), so one driver count fixes the pivot width at plan time
    * and the seen-token aggregate groups by doc alone. The naive
    * (doc, label) hash-agg shuffled every (scoring row × matching
    * class) — ~L× the token-hit stream, measured 156 GB of spill on a
    * 2 B-token corpus at 32 g — where the pivoted aggregate's exchange
    * carries ONE row per (partition, doc) with L sums, and partial
    * aggregation actually bites because doc_id alone is the key.
    * Classifiers have few classes by construction; a >64-label input
    * falls back to the unpivoted shape rather than build a 1000-column
    * plan. */
  private def predictFromTf(model0: Model, docs: DataFrame, dt: DataFrame,
      idCol: String): DataFrame = {
    // priors is classes-sized but its SUBTREE is a corpus scan (the
    // label group-by) and it appears at three places in the final plan
    // (label index, scoring join, fallback row) — persist it so the
    // corpus pays that scan once; the label-index count below
    // materializes it (guide §5: cache only reused-and-expensive)
    val model = Model(model0.weights, Caches.persist(model0.priors))
    // Labels are addressed through a join-assigned dense integer index,
    // never by embedding the label VALUE in a column name (a dotted or
    // backticked label would re-parse as a nested-field path, and labels
    // differing only by case collide under the case-insensitive
    // resolver) and never by assuming its type (the label column can be
    // any orderable type — only its cardinality is bounded model state).
    // The tiny single-task window is priors-sized, like the priors scan.
    val lw = Window.orderBy(col("label"))
    val lidx = model.priors.select(col("label"))
      .withColumn("graft_lidx", (row_number().over(lw) - 1).cast("int"))
    val nLabels = lidx.count()
    // an empty model must stay a LOUD error: the fallback below rides a
    // crossJoin against priors.limit(1), and crossing with an EMPTY
    // 1-row frame would silently return zero predictions for every doc
    // (the pre-r11 collect()(0) form threw here — keep that contract)
    require(nLabels > 0,
      "NaiveBayes.predict: model has no classes (empty priors) — " +
        "fit on a corpus with at least one labeled document")
    val adj = col("tf") * (col("logp") - col("logunseen"))
    val scored = if (nLabels > 0 && nLabels <= 64) {
      val n = nLabels.toInt
      // LEFT join so a doc whose every token is out-of-vocabulary stays
      // in the one per-doc aggregate (null lidx/adj rows add nothing to
      // the pivot sums but keep the doc and its n_tok) — the former
      // inner join needed a SECOND per-doc aggregate (nTok) plus an
      // id-keyed outer join to stitch those docs back in (guide §2.4).
      val wjoined = model.weights
        .join(broadcast(model.priors.select(col("label"), col("logunseen"))
          .join(lidx, Seq("label"))), Seq("label"))
        .select(col("token"), col("graft_lidx"), col("logp"),
          col("logunseen"))
      val hits = dt.join(wjoined, Seq("token"), "left")
      val sums = (0 until n).map(i =>
        sum(when(col("graft_lidx") === i, adj)).as(s"graft_adj_$i"))
      val wide = hits.groupBy(col(idCol))
        .agg(min(col("n_tok")).as("n_tok"), sums: _*)
      wide.join(broadcast(model.priors.join(lidx, Seq("label"))))
        .select(col(idCol), col("label"),
          (col("logprior") + col("n_tok") * col("logunseen") +
            coalesce(((0 until n).map(i =>
              when(col("graft_lidx") === i, col(s"graft_adj_$i"))) :+
              lit(0.0)): _*)).as("score"))
    } else {
      val nTok = dt.groupBy(col(idCol)).agg(min(col("n_tok")).as("n_tok"))
      val seenAdj = dt.join(model.weights, Seq("token"))
        .join(broadcast(model.priors.select(col("label"), col("logunseen"))),
          Seq("label"))
        .groupBy(col(idCol), col("label"))
        .agg(sum(adj).as("adj"))
      nTok.join(broadcast(model.priors))
        .join(seenAdj, Seq(idCol, "label"), "left")
        .select(col(idCol), col("label"),
          (col("logprior") + col("n_tok") * col("logunseen") +
            coalesce(col("adj"), lit(0.0))).as("score"))
    }
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label"))
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("label").as("label_pred"))
    // highest-prior fallback rides a broadcast 1-row cross join instead
    // of a driver-collected literal — no type assumption on the label
    val fb = model.priors.orderBy(col("logprior").desc, col("label"))
      .select(col("label").as("graft_fb")).limit(1)
    docs.select(col(idCol)).join(best, Seq(idCol), "left")
      .crossJoin(broadcast(fb))
      .select(col(idCol),
        coalesce(col("label_pred"), col("graft_fb")).as("label_pred"))
  }

  /** fit + predict on the same corpus (the in-corpus classification most
    * curation filters run: train on the labeled slice, score everything).
    *
    * r13 reshape (guide §2.3/§2.4): the former fused path persisted a
    * (doc, label, token, tf) aggregate so the corpus was tokenized once —
    * but that aggregate's exchange carries the whole token stream keyed
    * by near-unique (doc, label, token) triples (116 M rows at sf100,
    * partial aggregation reduces almost nothing), and the cache it fills
    * is corpus-sized state scanned three more times. Tokenizing twice is
    * strictly cheaper: fit's (label, token) exchange map-side-reduces to
    * ~vocab × labels keys per task, and predict's per-doc tf/n_tok are
    * now computed map-side ([[predict]]), so NO corpus-sized exchange or
    * cache remains anywhere in the pipeline — the only shuffled rows are
    * model counts and one narrow row per scored document.
    */
  def fitPredict(docs: DataFrame, textCol: String = "text",
      labelCol: String = "lang", idCol: String = "doc_id",
      alpha: Double = 1.0): DataFrame =
    predict(fit(docs, textCol, labelCol, alpha), docs, textCol, idCol)
}
