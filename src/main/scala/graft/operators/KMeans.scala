package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Lloyd's k-means over an embedding column — the training loop that
  * builds an IVF coarse quantizer ([[Similarity.ivfTopK]] consumes the
  * result as its centroid table).
  *
  * Scale design (billions of vectors):
  *  - Assignment is a pure map-side argmax: the k centroids (model state,
  *    tiny by definition) are inlined as literals and
  *    `array_max(struct(cos, -cid))` picks the winner inside the
  *    projection — the corpus never shuffles.
  *  - The update step shuffles only (cid, dim, partial-sum) triples via a
  *    standard partial→final hash-agg; k×dim means (the new model) come
  *    back to the driver, which is exactly the state a training loop must
  *    see to iterate. Nothing corpus-sized ever hits the driver.
  *  - All arithmetic is double (cosines on `array<double>` casts), so an
  *    independent engine can replay training deterministically.
  */
object KMeans {

  /** Per-centroid model state after `iters` Lloyd rounds.
    * Returns (centroid_id, centroid: array<double>, n) — n is the final
    * assignment's population. Initialization is [[Similarity.centroids]]'s
    * deterministic every-(n/k)-th-vector rule; empty clusters drop out
    * (standard Lloyd's behavior).
    */
  def fit(corpus: DataFrame, k: Int, iters: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val dvec = col(vecCol).cast("array<double>")

    var model: Array[(Long, Array[Double])] =
      Similarity.centroids(corpus, k, vecCol, idCol)
        .select(col("centroid_id"), col("centroid_vec").cast("array<double>"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    require(model.nonEmpty, "kmeans: empty init centroid set")

    def assigned: DataFrame = {
      val scored = model.map { case (cid, vec) =>
        struct(cosine_similarity(dvec, typedlit(vec)).as("ccos"),
          lit(-cid).as("neg_cid"))
      }
      val best = array_max(array(scored.toIndexedSeq: _*))
      corpus.select(dvec.as("v"), (-best.getField("neg_cid")).as("cid"))
    }

    for (_ <- 1 until iters) {
      model = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          val vec = new Array[Double](rows.length)
          rows.foreach(r => vec(r.getInt(1)) = r.getDouble(2))
          cid -> vec
        }
        .toArray.sortBy(_._1)
    }

    // final round stays distributed: per-dim means reassembled into the
    // centroid vector (sort_array on (pos, m) structs makes collect_list
    // order-insensitive), joined with the assignment population. The
    // assignment feeds two consumers (centroid agg + population count), so
    // persist it.
    val last = Caches.persist(assigned)
    val cents = last
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
      .groupBy(col("cid"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))
    val ns = last.groupBy(col("cid")).agg(count(lit(1)).as("n"))
    cents.join(ns, Seq("cid"))
      .select(col("cid").as("centroid_id"), col("centroid"), col("n"))
  }
}
