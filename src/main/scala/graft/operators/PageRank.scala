package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point (integer-arithmetic) PageRank — link-graph authority
  * scoring, the domain-quality signal crawl-curation pipelines rank
  * sources by (CommonCrawl-style harmonic/PageRank domain ranking).
  *
  * Ranks are BIGINTs scaled by `scale` (default 10⁹ ≈ 9 decimal
  * digits), every division is an exact integer floor, and per-node
  * contribution sums are integer sums — so iteration is bit-exact in
  * ANY engine, with none of the float-summation-order latitude real
  * PageRank has. The `graph_pagerank` query replays all three unrolled
  * iterations in DuckDB hash-exact. Ranking fidelity loss vs float PR
  * is ≤ outdeg·N/scale ulps — noise at any realistic graph size.
  *
  * Scale shape (billion-node graph):
  *  - state is (node, rank) longs; each iteration is one edge join on
  *    src + one dst-keyed integer-sum shuffle — the textbook
  *    edge-partitioned PR schedule, no adjacency materialization.
  *  - the dangling-mass scalar stays IN the plan (one-row aggregate,
  *    broadcast-joined), so the whole unrolled recurrence runs as one
  *    job; only the node count is driver state.
  *  - `iters` is a small constant (authority scores stabilize in ≤10
  *    rounds); the plan unrolls statically, no driver-side convergence
  *    loop over data.
  */
object PageRank {

  /** Run `iters` damped rounds (damping = dampNum/dampDen, default
    * 85/100) over `edges(src, dst)`. `nodes` widens the vertex set
    * beyond edge endpoints (isolated vertices keep base rank; vertices
    * with no OUT-edges contribute their mass to the dangling pool,
    * redistributed uniformly). Returns (node, rank_fp) with rank_fp on
    * the `scale` fixed-point grid.
    */
  def fixedPoint(edges: DataFrame, nodes: Option[DataFrame] = None,
      iters: Int = 3, dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen,
      s"need iters>=1 and 0<dampNum<dampDen; got $iters, $dampNum/$dampDen")
    // the edge and vertex sets feed every one of the `iters` unrolled
    // rounds (plus the count); persisted, or each round re-derives them
    // from the caller's upstream plan (for the syndication graph: a
    // full corpus md5 pass per reuse).
    val e = Caches.persist(edges.select(col("src"), col("dst")).distinct())
    val vs = Caches.persist(
      nodes.map(_.select(col("node")).distinct()).getOrElse(
        e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()))
    // every reuse of e/vs below resolves columns by NAME on freshly
    // aliased projections — the rank lineage contains these plans
    // already, and dataset-tagged column references would be ambiguous
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("o_src"), col("deg"))
    val n = vs.count()
    require(n > 0, "empty graph")
    // driver-side exact Long arithmetic — the per-iteration base share
    val base = (dampDen - dampNum) * scale / dampDen / n

    var rank = vs.select(col("node"), lit(scale / n).as("r"))
    for (it <- 1 to iters) {
      val withDeg = rank.join(outdeg, col("node") === col("o_src"), "left")
        .select(col("node"), col("r"), col("deg"))
      // dangling pool: a one-row aggregate attached via broadcast —
      // keeping it IN the plan (instead of a per-iteration collect)
      // makes the whole unrolled recurrence one job. floor(dm/n) is
      // exact: dm ≤ scale ≪ 2⁵³.
      val dang = withDeg.filter(col("deg").isNull)
        .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
        .select(floor(col("dm") / lit(n)).cast("long").as("dshare"))
      val er = e.select(col("src").as("e_src"), col("dst").as("e_dst"))
      val contrib = withDeg.filter(col("deg").isNotNull)
        .join(er, col("node") === col("e_src"))
        .select(col("e_dst").as("cnode"),
          floor(col("r") / col("deg")).cast("long").as("c"))
        .groupBy(col("cnode")).agg(sum(col("c")).as("contrib"))
      rank = vs.join(contrib, col("node") === col("cnode"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(base) + floor(lit(dampNum) * (coalesce(col("contrib"), lit(0L)) + col("dshare"))
            / lit(dampDen)).cast("long")).as("r"))
      // every non-final rank feeds TWO consumers next round (the dangling
      // aggregate and the contribution join) — unpersisted, round i+1
      // re-executes round i's whole subtree under each consumer, so the
      // unrolled recurrence costs ~2^iters instead of iters (exchange
      // reuse hides some of it in one JVM; the multi-JVM legs showed the
      // full shuffle-file fan-out). Persisting truncates the recurrence
      // to one execution per round (guide §5: cache reused-and-expensive;
      // the state is (node, rank) longs).
      if (it < iters) rank = Caches.persist(rank)
    }
    rank.select(col("node"), col("r").as("rank_fp"))
  }
}
