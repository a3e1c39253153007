package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design (100 TB / billions of vectors):
  *  - Brute force: the query set is broadcast (small side), the corpus is
  *    scanned once; the row_number ≤ k idiom plans as partial heaps per
  *    corpus partition BEFORE the one shuffle on the query id, then final
  *    heaps ([[graft.plans.TopKPerGroupStrategy]]), so only
  *    numPartitions × |queries| × k candidate rows move — never the corpus.
  *  - IVF: a coarse quantizer (nlist centroids, broadcast) splits the
  *    corpus by nearest centroid; queries probe their nprobe closest
  *    centroids, so the fine search touches nprobe/nlist of the data.
  *    The corpus assignment is computed map-side (collected centroid
  *    literal + argmax inside the projection — no shuffle, no join);
  *    the fine search joins on centroid id — a standard shuffle join keyed
  *    by a low-cardinality but evenly-populated key.
  */
object Similarity {

  /** The `k` best-scoring rows per `q_id` of `scored`, ranked `rn`
    * 1..k by `score` descending, then `c_id`. The per-partition →
    * global top-k path: the row_number ≤ k idiom plans as partial heaps
    * on each scored partition, one exchange on `q_id`, then final heaps
    * ([[graft.plans.TopKPerGroupStrategy]]). */
  private def topKPerQuery(scored: DataFrame, score: String, k: Int): DataFrame =
    scored
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col(score).desc, col("c_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col(score), col("rn"))

  /** Exact top-k by cosine over the per-partition → global top-k path. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .join(q)
      .select(col("q_id"), col("c_id"),
        cosine_similarity(col("q_vec"), col("c_vec")).as("cos"))
      .filter(col("q_id") =!= col("c_id"))
    topKPerQuery(scored, "cos", k)
  }

  /** Contrastive hard-negative mining — the training-pair prep step for
    * embedding/reranker models: for each anchor, the `m` MOST similar
    * candidates inside the band `[lo, hi)`. The upper bound excludes
    * near-duplicates (those are positives — or dedup fodder — not
    * negatives); the lower bound excludes easy negatives the model learns
    * nothing from. Same per-partition → global top-k path as
    * [[bruteForceTopK]], with the band filter INSIDE the scoring stage's
    * codegen so only in-band (q_id, c_id, cos) triples reach the partial
    * heaps — at a realistic band that kills ~95% of pairs before any
    * exchange. At corpus scale, run it over [[Projection]]-compressed
    * vectors or behind an IVF probe like the ANN family.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, m: Int = 5,
      lo: Double = 0.5, hi: Double = 0.95,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val q = broadcast(anchors.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .join(q)
      .select(col("q_id"), col("c_id"),
        cosine_similarity(col("q_vec"), col("c_vec")).as("cos"))
      .filter(col("q_id") =!= col("c_id"))
      .filter(col("cos") >= lo && col("cos") < hi)
    topKPerQuery(scored, "cos", m)
  }

  /** Deterministic coarse centroids: every (n/nlist)-th vector by id.
    * count() on parquet is metadata-only; the filter prunes map-side, so
    * no global sort or single-partition funnel ever happens. Callers that
    * already know the corpus size pass it as `knownCount` — when the
    * corpus is an uncached derived pipeline, a second count() would
    * re-run the whole upstream computation.
    */
  def centroids(corpus: DataFrame, nlist: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      knownCount: Long = -1L): DataFrame = {
    val n = if (knownCount >= 0L) knownCount else corpus.count()
    val step = math.max(n / nlist, 1L)
    corpus
      .filter(col(idCol) % step === 0)
      .orderBy(col(idCol)).limit(nlist) // top-k fusion: tiny result
      .select(expr(s"$idCol div $step").as("centroid_id"),
        col(vecCol).as("centroid_vec"))
  }

  /** Assign each vector to its `top` nearest centroids.
    *
    * `top == 1` (the corpus side — the bulk of the data) is a pure
    * map-side argmax: the ≤nlist centroids are collected (tiny by
    * definition of a coarse quantizer) and inlined as an array-of-structs
    * literal, and `array_max(struct(cos, -centroid_id))` picks the winner
    * in the projection — ZERO shuffle, the corpus never moves. Ties break
    * to the smallest centroid_id (hence the negated id in the struct),
    * matching the window formulation exactly.
    *
    * `top > 1` (the query side — small by construction) keeps the
    * row_number window: a shuffle of |queries|×nlist rows is negligible.
    */
  def assign(vectors: DataFrame, cents: DataFrame,
      vecCol: String, idCol: String, outPrefix: String, top: Int): DataFrame = {
    if (top == 1) {
      // map-side argmax through the fused ArgmaxCosine kernel: the
      // centroid matrix rides along flat-packed as one float[] reference,
      // so the centroid count can scale with the corpus (SemDeDup's
      // derived nlist) without a k-branch expression tree. Kernel index →
      // centroid_id via one small literal array lookup.
      val centRows = cents.select(col("centroid_id"), col("centroid_vec"))
        .collect().sortBy(_.getLong(0))
      require(centRows.nonEmpty, "assign: empty centroid set")
      val cids = centRows.map(_.getLong(0))
      val dim = centRows.head.getSeq[Float](1).length
      val flat = new Array[Float](centRows.length * dim)
      for (j <- centRows.indices; (x, i) <- centRows(j).getSeq[Float](1).zipWithIndex)
        flat(j * dim + i) = x
      val idx = graft.functions.argmax_cosine(
        col(vecCol), flat, centRows.length, dim)
      vectors.select(col(idCol).as(s"${outPrefix}_id"),
        col(vecCol).as(s"${outPrefix}_vec"),
        element_at(typedlit(cids.toSeq), idx + 1).as("centroid_id"))
    } else {
      val w = Window.partitionBy(col(idCol)).orderBy(col("ccos").desc, col("centroid_id"))
      vectors.join(broadcast(cents))
        .select(col(idCol), col(vecCol),
          col("centroid_id"),
          cosine_similarity(col(vecCol), col("centroid_vec")).as("ccos"))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= top)
        .select(col(idCol).as(s"${outPrefix}_id"), col(vecCol).as(s"${outPrefix}_vec"),
          col("centroid_id"))
    }
  }

  /** The literal-inlined declarative twin of [[assign]]'s top-1 path
    * (`array_max(struct(cos, -cid))` over k inlined centroid literals).
    * Retained ONLY as the bit-identity oracle for the fused
    * ArgmaxCosine kernel (RegressionSpec) — its k-branch expression tree
    * is exactly what the kernel exists to avoid.
    */
  private[graft] def assignDeclarative(vectors: DataFrame, cents: DataFrame,
      vecCol: String, idCol: String, outPrefix: String): DataFrame = {
    val centRows = cents.select(col("centroid_id"), col("centroid_vec")).collect()
    require(centRows.nonEmpty, "assignDeclarative: empty centroid set")
    val scored = centRows.map { r =>
      val cid = r.getLong(0)
      val vec = r.getSeq[Float](1).toArray
      struct(cosine_similarity(col(vecCol), typedlit(vec)).as("ccos"),
        lit(-cid).as("neg_cid"))
    }
    val best = array_max(array(scored.toIndexedSeq: _*))
    vectors.select(col(idCol).as(s"${outPrefix}_id"),
      col(vecCol).as(s"${outPrefix}_vec"),
      (-best.getField("neg_cid")).as("centroid_id"))
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * `maxabs = max|v_i|`, code `q_i = trunc(v_i · 127 / maxabs)` stored as
    * TINYINT — 4× smaller than float32 at rest and in shuffle payloads,
    * the standard memory-scale path for billion-vector ANN. Zero vectors
    * quantize to all-zero codes. `qd` re-widens the codes to double for
    * the scoring kernels (codes are small integers, so the widening is
    * exact and an independent engine replays the whole pipeline).
    */
  def quantizeInt8(embs: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val mx = aggregate(col(vecCol), lit(0.0), (a, x) => greatest(a, abs(x)))
    embs
      .select(col(idCol), col(vecCol), mx.as("maxabs"))
      .select(col(idCol), col("maxabs"),
        transform(col(vecCol), x =>
          when(col("maxabs") > 0, (x * 127.0 / col("maxabs")).cast("tinyint"))
            .otherwise(lit(0).cast("tinyint"))).as("q"))
      .withColumn("qd", col("q").cast("array<double>"))
  }

  /** Product-quantization codebooks from a deterministic corpus sample:
    * the same every-(n/ksub)-th-vector rule as [[centroids]], with
    * codeword j of subspace mi = the j-th sampled vector's mi-th
    * subvector. Deterministic so an independent engine can replay the
    * whole PQ pipeline (sample → encode → ADC) as a correctness oracle;
    * [[KMeans.fit]]-refined books are the quality upgrade when
    * replayability is not required. Shape: [m][j][d/m], model-state
    * sized (m·ksub·d/m = d·ksub doubles) — always driver/broadcast safe.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 2, s"pqCodebooks: need m>=1, ksub>=2 (got $m, $ksub)")
    val n = corpus.count()
    val step = math.max(n / ksub, 1L)
    val sample = corpus.filter(col(idCol) % step === 0)
      .orderBy(col(idCol)).limit(ksub)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqCodebooks: empty sample")
    val d = sample.head.length
    require(d % m == 0, s"pqCodebooks: dim $d not divisible by m=$m")
    val dsub = d / m
    Array.tabulate(m)(mi => sample.map(_.slice(mi * dsub, (mi + 1) * dsub)))
  }

  /** Encode vectors as `m` one-byte codes: per subspace, the argmin-L2
    * codeword index. Pure map-side — the books ride along as one flat
    * double[] reference inside the fused [[graft.functions.pq_encode]]
    * codegen kernel, so a billion-vector corpus encodes with ZERO shuffle
    * and stores m bytes/vector instead of 4·d — 32× smaller at rest and
    * in every downstream shuffle payload. (The previous declarative
    * slice/zip_with/array_min formulation — kept as
    * [[pqEncodeDeclarative]] for the bit-identity regression — spent
    * seconds of one-time plan/JIT setup on its m·ksub expression tree.)
    */
  def pqEncode(vectors: DataFrame, books: Array[Array[Array[Double]]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val m = books.length
    val ksub = books(0).length
    val flat = new Array[Double](m * ksub * books(0)(0).length)
    var o = 0
    for (mi <- 0 until m; j <- 0 until ksub; x <- books(mi)(j)) {
      flat(o) = x; o += 1
    }
    vectors.select(col(idCol),
      graft.functions.pq_encode(col(vecCol), flat, m, ksub).as("codes"))
  }

  /** The declarative twin of [[pqEncode]] (slice → zip_with squared-diff
    * fold → array_min struct argmin). Retained ONLY as the bit-identity
    * oracle for the fused kernel (RegressionSpec) — its m·ksub expression
    * tree costs seconds of plan/JIT setup per query tree.
    */
  private[graft] def pqEncodeDeclarative(vectors: DataFrame,
      books: Array[Array[Array[Double]]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val dsub = books(0)(0).length
    // Double let-binding (see word_shingles for the pattern): HOFs run
    // interpreted and re-evaluate lambda-body subtrees per element, so
    // both the float→double cast AND the m subvector slices are bound
    // once per row; each of the m·ksub codeword distances then only does
    // O(1) lambda-variable lookups plus its own dsub-length fold.
    def codesFromSubs(subs: Column): Column =
      array(books.indices.map { mi =>
        val sub = element_at(subs, mi + 1)
        val scored = books(mi).zipWithIndex.map { case (cw, j) =>
          val dist = aggregate(
            zip_with(sub, typedlit(cw), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x)
          struct(dist.as("dist"), lit(j).as("j"))
        }
        array_min(array(scored.toIndexedSeq: _*)).getField("j").cast("tinyint")
      }: _*)
    def subsOf(v: Column): Column =
      array(books.indices.map(mi => slice(v, mi * dsub + 1, dsub)): _*)
    vectors.select(col(idCol),
      element_at(transform(array(col(vecCol).cast("array<double>")), v =>
        element_at(transform(array(subsOf(v)), subs => codesFromSubs(subs)), 1)),
        1).as("codes"))
  }

  /** Flat ADC lookup table for one query vector: lut[mi·B + j] =
    * ⟨q_sub(mi), book(mi)(j)⟩, products summed in ascending index order —
    * the exact fold sequence the previous in-plan
    * `aggregate(zip_with(...))` used, so the doubles are bit-identical
    * and an independent engine replaying the same arithmetic matches.
    * Computed DRIVER-SIDE: queries are small by construction (they
    * broadcast), and the m·ksub-aggregate expression tree this replaces
    * cost seconds of one-time per-tree plan/JIT setup per run.
    */
  private def adcLut(qvec: Seq[Double],
      books: Array[Array[Array[Double]]]): Array[Double] = {
    val dsub = books(0)(0).length
    val out = Array.ofDim[Double](books.length * books(0).length)
    for (mi <- books.indices; j <- books(mi).indices) {
      val cw = books(mi)(j)
      var acc = 0.0
      var i = 0
      while (i < dsub) { acc += qvec(mi * dsub + i) * cw(i); i += 1 }
      out(mi * books(0).length + j) = acc
    }
    out
  }

  /** (q_id, lut) table of driver-computed ADC LUTs, one row per query.
    * The id is read GENERICALLY and the output column keeps the input
    * id column's exact type — `idCol` is caller-supplied, so assuming
    * LongType here would throw ClassCastException for string/int ids.
    */
  private def lutTable(queries: DataFrame,
      books: Array[Array[Array[Double]]],
      vecCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = queries.sparkSession
    val rows = queries.select(col(idCol), col(vecCol).cast("array<double>"))
      .collect().map { r =>
        org.apache.spark.sql.Row(r.get(0),
          adcLut(r.getSeq[Double](1), books).toSeq)
      }
    val schema = StructType(Seq(
      StructField("q_id", queries.schema(idCol).dataType),
      StructField("lut", ArrayType(DoubleType, containsNull = false))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** PQ ANN top-k by asymmetric distance (ADC), ranking on approximate
    * inner product. Queries precompute a flat lookup table
    * lut[mi·B + j] = ⟨q_sub(mi), book(mi)(j)⟩ and broadcast it; the scan
    * side scores each encoded vector with `transform(codes, (code, mi) ->
    * lut[mi·B + code])` summed — a per-row table lookup over the m byte
    * codes, never touching the original floats. Same per-partition →
    * global top-k path as [[bruteForceTopK]], so only
    * partitions × |queries| × k candidate rows ever shuffle.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      m: Int = 8, ksub: Int = 16,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val books = pqCodebooks(corpus, m, ksub, vecCol, idCol)
    val b = books(0).length
    val enc = pqEncode(corpus, books, vecCol, idCol)
      .select(col(idCol).as("c_id"), col("codes"))
    val q = broadcast(lutTable(queries, books, vecCol, idCol))
    val scored = enc.join(q)
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(
          transform(col("codes"), (code, mi) =>
            element_at(col("lut"), mi * b + code.cast("int") + 1)),
          lit(0.0), (acc, x) => acc + x).as("score"))
    topKPerQuery(scored, "score", k)
  }

  /** IVF-PQ: the production billion-vector layout (coarse cells prune the
    * scan to nprobe/nlist of the corpus; PQ byte codes shrink what's left
    * 16-32×). Corpus side carries only (cell, id, m byte codes) — the
    * floats never leave the scan projection. Queries probe their nprobe
    * cells with a broadcast LUT; scoring is the same per-row table lookup
    * as [[pqTopK]]; candidates then take the per-partition → global top-k
    * path. Both the cell rule and the codebook rule are the deterministic
    * sample, so the whole pipeline stays independently replayable.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val cents = centroids(corpus, nlist, vecCol, idCol)
    val books = pqCodebooks(corpus, m, ksub, vecCol, idCol)
    val b = books(0).length
    val dsub = books(0)(0).length
    val corpusCells = assign(corpus, cents, vecCol, idCol, "c", top = 1)
      .select(col("c_id"), col("centroid_id"))
    val enc = pqEncode(corpus, books, vecCol, idCol)
      .select(col(idCol).as("c_id"), col("codes"))
      .join(corpusCells, Seq("c_id"))
    val lutDf = lutTable(queries, books, vecCol, idCol)
    val queryProbes = assign(queries, cents, vecCol, idCol, "q", top = nprobe)
      .select(col("q_id"), col("centroid_id"))
    val q = broadcast(queryProbes.join(lutDf, Seq("q_id"))
      .select(col("q_id"), col("centroid_id"), col("lut")))
    val scored = enc.join(q, Seq("centroid_id"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(
          transform(col("codes"), (code, mi) =>
            element_at(col("lut"), mi * b + code.cast("int") + 1)),
          lit(0.0), (acc, x) => acc + x).as("score"))
    topKPerQuery(scored, "score", k)
  }

  /** IVF-style ANN top-k: probe `nprobe` of `nlist` coarse cells. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val cents = centroids(corpus, nlist, vecCol, idCol)
    val corpusAssigned = assign(corpus, cents, vecCol, idCol, "c", top = 1)
    val queryProbes = assign(queries, cents, vecCol, idCol, "q", top = nprobe)
    val scored = queryProbes.join(corpusAssigned, Seq("centroid_id"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosine_similarity(col("q_vec"), col("c_vec")).as("cos"))
    topKPerQuery(scored, "cos", k)
  }

  /** Incremental IVF maintenance: append a fresh batch to an existing
    * index WITHOUT refitting the quantizer. Centroids are derived from
    * (and frozen on) the `old` corpus; the batch rides the same
    * map-side argmax assignment the bulk path uses — zero shuffle for
    * either side, the only aggregation is the per-cell count. The
    * output is the post-append occupancy table plus the rebalance
    * signal an index-maintenance job keys on: a cell holding more than
    * 2× its fair share (n_total·nlist > 2·total, exact ints) means the
    * frozen quantizer has drifted from the data and a refit is due —
    * the decision is surfaced, never silently absorbed.
    *
    * Returns (centroid_id, n_old, n_new, n_total, occupancy_ratio,
    * rebalance) ordered by centroid_id; every cell appears even when a
    * side contributed nothing to it.
    */
  def ivfAppend(old: DataFrame, fresh: DataFrame, nlist: Int = 16,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    // persisted: centroid derivation scans `old` (count + stride
    // sample); without the persist each assign() would re-collect the
    // whole derivation, tripling the old-corpus scans. Note the stride
    // sample is by idCol VALUE — an `old` slice that excludes every
    // multiple of the derived step yields no centroids and assign()
    // throws its loud empty-set error (callers choose slices that keep
    // id 0 / stride points, as ann_ivf_append does).
    val cents = Caches.persist(centroids(old, nlist, vecCol, idCol))
    val nOld = assign(old, cents, vecCol, idCol, "o", top = 1)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_old"))
    val nNew = assign(fresh, cents, vecCol, idCol, "n", top = 1)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_new"))
    val cells = cents.select(col("centroid_id"))
      .join(nOld, Seq("centroid_id"), "left")
      .join(nNew, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_total", col("n_old") + col("n_new"))
    // the cell table is ≤nlist rows: the totals window is free. Fair
    // share divides by the number of cells actually MATERIALIZED —
    // when the stride sample yields fewer than nlist centroids a
    // perfectly balanced index must not flag (dividing by the
    // requested nlist would mark every cell hot).
    val wAll = Window.partitionBy()
    cells
      .withColumn("_total", sum(col("n_total")).over(wAll))
      .withColumn("_cells", count(lit(1)).over(wAll))
      .select(col("centroid_id"), col("n_old"), col("n_new"), col("n_total"),
        (col("n_total") * col("_cells")).cast("double")
          ./(col("_total")).as("occupancy_ratio"),
        (col("n_total") * col("_cells") > lit(2L) * col("_total"))
          .as("rebalance"))
      .orderBy(col("centroid_id"))
  }
}
