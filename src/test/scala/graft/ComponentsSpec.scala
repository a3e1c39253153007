package graft

import org.apache.spark.sql.functions._
import graft.operators.Components

class ComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("disjoint cliques resolve to their min ids") {
    val labels = cc(Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (20L, 21L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("long chain collapses to one component (pointer jumping)") {
    // a 64-node path: naive propagation needs 63 rounds; pointer jumping
    // must finish within the maxIter=25 bound (log2 64 + change)
    val chain = (0L until 63L).map(i => (i, i + 1))
    val labels = cc(chain)
    assert(labels.size == 64 && labels.values.forall(_ == 0L))
  }

  test("finished rounds free their snapshots before release") {
    // of the RDDs a 64-node chain run persists or checkpoints, only the
    // pair snapshot and the final labels may still hold blocks; every
    // superseded round's snapshots are dropped as the run goes.
    // getPersistentRDDs holds its RDDs weakly, so a GC could hide a
    // snapshot the run forgot: a poller keeps every RDD it sees reachable.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!stop.get()) {
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before(id)) seen.putIfAbsent(id, rdd)
        }
        Thread.sleep(1)
      }
    })
    poller.start()
    val labels = try Components.connectedComponents(
      (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    finally { stop.set(true); poller.join() }
    try {
      assert(labels.count() == 64)
      assert(seen.size > 2, s"the poller saw only ${seen.keySet}")
      val held = sc.getPersistentRDDs.keySet -- before
      assert(held.size <= 2,
        s"expected the pair snapshot and the final labels, held $held")
    } finally graft.operators.Dedup.releaseCaches()
  }

  test("bridged stars merge through a single edge") {
    // two stars centered at 100 and 200, bridged by (5, 205)
    val edges = (101L to 105L).map((100L, _)) ++
      (201L to 205L).map((200L, _)) ++ Seq((105L, 205L))
    val labels = cc(edges)
    assert(labels.values.toSet == Set(100L))
    assert(labels.size == 12)
  }

  test("self-pairs and duplicate edges are harmless") {
    val labels = cc(Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)))
    // 3 only ever appears in a self-pair: no connectivity, but it IS a node
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 3L)
  }

  test("clusterSummary sizes and members") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component")
    val sum = Components.clusterSummary(labels)
      .orderBy($"component")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    assert(sum.toSeq == Seq((1L, 3L, Seq(1L, 2L, 3L)), (10L, 2L, Seq(10L, 11L))))
  }

  test("nearDupClusters groups transitive minhash near-dups") {
    // A~B and B~C by construction (C differs from B which differs from A in
    // disjoint spots) — greedy pair-dropping could keep A and C separately;
    // components must put all three in one cluster.
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val b = base.replace("token5", "tokenX")
    val c = b.replace("token35", "tokenY")
    val docs = Seq(
      (1L, base), (2L, b), (3L, c),
      (50L, (1 to 40).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val labels = Components.nearDupClusters(docs, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"expected one cluster of {1,2,3}, got $labels")
  }

  test("reliable checkpoint mode writes rounds to the checkpoint dir") {
    // cluster path: truncated lineage must survive executor loss, so the
    // per-round snapshots go to a fault-tolerant dir instead of executor
    // blocks (localCheckpoint). Same results, files actually written, and
    // release deletes them: run after run, none are left behind.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-checkpoint").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.components.checkpoint", "reliable")
    def files(): Long = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    try {
      (1 to 3).foreach { run =>
        val labels = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
        assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
        assert(files() > 0, s"run $run: reliable mode produced no checkpoint files")
        graft.operators.Dedup.releaseCaches()
        assert(files() == 0, s"run $run: release left ${files()} checkpoint files")
      }
    } finally {
      spark.conf.set("spark.graft.components.checkpoint", "local")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("unknown checkpoint mode fails fast with the valid options") {
    spark.conf.set("spark.graft.components.checkpoint", "bogus")
    try {
      val e = intercept[IllegalArgumentException] { cc(Seq((1L, 2L))) }
      assert(e.getMessage.contains("local") && e.getMessage.contains("reliable"))
    } finally spark.conf.set("spark.graft.components.checkpoint", "local")
  }
}
