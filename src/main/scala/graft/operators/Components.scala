package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair table — the step that turns near-dup
  * PAIRS (minhash/simhash/embedding LSH output) into dedup CLUSTERS, so a
  * pipeline can keep one representative per component instead of greedily
  * dropping pair members (which over-deletes when A~B and B~C but A!~C).
  *
  * Algorithm: min-label propagation with pointer jumping (path halving).
  * Each round is (1) every node adopts the minimum label among itself and
  * its neighbors — one join + one hash-agg — then (2) labels jump to their
  * label's label, which halves chain lengths and gives O(log n) round
  * convergence instead of O(diameter). Convergence is detected by the
  * monotonically-decreasing sum of labels reaching a fixed point — one
  * scalar per round, no expensive set comparison.
  *
  * Scale notes (100 TB target): every round shuffles only (id, label)
  * longs — never document payloads; lineage is truncated each round so
  * the plan doesn't grow unboundedly. Truncation mode is configurable:
  * `spark.graft.components.checkpoint=local` (default) uses
  * localCheckpoint — executor-block storage, fastest, but a lost executor
  * kills the job since truncated lineage can't recompute — and
  * `=reliable` uses reliable `checkpoint()` into the context's
  * checkpoint dir (`sc.setCheckpointDir`, an HDFS/S3 path on a cluster),
  * which survives executor loss: the right setting for long multi-round
  * runs on preemptible/spot executors. Dedup graphs are overwhelmingly
  * tiny star-shaped clusters, so label traffic collapses after round 1
  * and AQE coalesces the near-empty shuffles.
  */
object Components {

  /** (id, component) for every node appearing in `pairs`, where component
    * is the minimum node id reachable from the node. Input columns are
    * `aCol`/`bCol`; edges are treated as undirected.
    *
    * The result reads a lineage-truncated snapshot: materialize it
    * before `Dedup.releaseCaches()`. After release, or after losing an
    * executor holding a local snapshot, Spark cannot recompute it and
    * fails with "Checkpoint block … not found".
    *
    * @param maxIter safety bound on propagation rounds (log₂ n rounds
    *                suffice with pointer jumping; 25 covers n = 2³³)
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    val mode = spark.conf.get("spark.graft.components.checkpoint", "local")
    require(mode == "local" || mode == "reliable",
      s"spark.graft.components.checkpoint: 'local' or 'reliable', got '$mode'")
    val reliable = mode == "reliable"
    require(!reliable || spark.sparkContext.getCheckpointDir.isDefined,
      "spark.graft.components.checkpoint=reliable needs " +
        "sc.setCheckpointDir(<fault-tolerant path>) first")
    def snapshot(df: DataFrame) = Caches.checkpoint(df, reliable)
    // Materialize the pair source ONCE before fanning out — as a
    // lineage-truncating snapshot, not a bare persist: edges reference it
    // three times (two symmetric branches + the node set), and when the
    // pairs come from an LSH candidate pipeline a persisted-but-untruncated
    // plan still carries the WHOLE signature+band pipeline (including
    // multi-MB runtime-filter literals) into the task binary of every
    // propagation round — measured as a 3× per-round inflation at sf100
    // before truncation.
    val p = snapshot(pairs)

    // Symmetric edge list (self-pairs add no connectivity and are dropped),
    // plus one self-loop per node so the per-round neighbor-min already
    // includes each node's own label — no union inside the loop.
    val sym = p
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .unionAll(p.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst")))
    val nodes = p
      .select(col(aCol).cast("long").as("src"))
      .unionAll(p.select(col(bCol).cast("long").as("src")))
      .distinct()
    val edges = Caches.persist(
      sym.unionAll(nodes.select(col("src"), col("src").as("dst"))))

    var labels = snapshot(nodes.select(col("src").as("id"), col("src").as("comp")))
    var prevSum = labels.agg(sum(col("comp"))).head().getLong(0)

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // (1) propagate: each node takes the min label over itself (via the
      // self-loop) and its neighbors — one shuffle join + one hash-agg.
      // NOTE (r14, measured): this three-action round (propagate
      // snapshot, jump snapshot, sum probe) was twice "optimized" and
      // both variants REVERTED on measurement: (a) fusing the sum probe
      // into the jump action via observe() trades a tiny synchronous
      // job for an async listener-bus wait (~100 ms/round under load);
      // (b) replacing the propagate snapshot with a LAZY persist made
      // the jump's self-join schedule both cache-fill branches as
      // separate AQE stages — per-query tasks went 147 → 395 and
      // dedup_clusters 2.9 → 4.4-6.8 s. The eager snapshot per stage is
      // load-bearing: it makes the self-join read materialized blocks
      // instead of planning the propagate subtree twice.
      val relabeled = snapshot(edges
        .join(labels.select(col("id").as("dst"), col("comp")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("comp")).as("comp"))
        .select(col("src").as("id"), col("comp")))

      // (2) pointer jump: comp <- comp(comp). Labels are node ids, so the
      // lookup is a self-join; least() guards already-minimal rows.
      val jumped = relabeled
        .join(relabeled.select(col("id").as("cid"), col("comp").as("ccomp")),
          col("comp") === col("cid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ccomp"), col("comp"))).as("comp"))

      val superseded = Seq(labels, relabeled)
      labels = snapshot(jumped) // eager: the round's inputs are dead now
      superseded.foreach(Caches.drop)
      val s = labels.agg(sum(col("comp"))).head().getLong(0)
      converged = s == prevSum // labels only ever decrease; equal sum = fixed point
      prevSum = s
      iter += 1
    }
    Caches.drop(edges)
    labels.withColumnRenamed("comp", "component")
  }

  /** Component summary: one row per cluster with its size and member ids —
    * the human-facing "duplicate groups" view (memberIds capped so a
    * pathological mega-cluster can't blow up a result row).
    */
  def clusterSummary(labels: DataFrame, maxMembers: Int = 64): DataFrame =
    labels.groupBy(col("component"))
      .agg(count(lit(1)).as("size"),
        slice(sort_array(collect_list(col("id"))), 1, maxMembers).as("member_ids"))

  /** End-to-end near-dup clustering: MinHash-LSH pairs → connected
    * components. Returns (id, component) covering only docs that have at
    * least one near-duplicate (singletons are implicitly their own
    * component and never shuffle). As with [[connectedComponents]],
    * materialize the result before `Dedup.releaseCaches()`.
    */
  def nearDupClusters(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", threshold: Double = 0.5): DataFrame =
    connectedComponents(
      Dedup.minHashPairs(docs, textCol, idCol, threshold = threshold))
}
