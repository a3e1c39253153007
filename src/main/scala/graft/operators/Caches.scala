package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the intermediates operators materialize inside
  * their plans (minhash signatures, LSH candidates, k-means assignments,
  * Components' and KN3's snapshots): operators [[persist]], [[checkpoint]]
  * and [[drop]] through here and never name a storage level. Harness
  * callers release them once the downstream plan has materialized —
  * repeated invocations would otherwise accumulate cached blocks for the
  * session lifetime. Kept operator-internal: query code never needs it.
  *
  * Ownership is PER THREAD: each thread that builds an operator plan owns
  * (and releases) exactly the intermediates it registered. So two threads
  * that each build, materialize and release operator pipelines on one
  * session never unpersist each other's in-flight intermediates (with a
  * process-global registry one thread's `release()` silently would,
  * forcing recomputes mid-query). `GraftContext.sqlToken` is not such a
  * thread: its SQL resolves already-registered tables and scalar
  * functions, builds no operator intermediates, and neither registers
  * nor releases here; whatever the tables' own DataFrames registered
  * belongs to the thread that built them. Sequential harness use
  * (Verify/Bench/tests) is single-threaded: persist, then release.
  */
private[graft] object Caches {
  // an owned intermediate; `ckRdd` is the RDD a checkpoint's LogicalRDD
  // reads, null for a persist (which the cache manager frees by plan)
  private final class Entry(val df: DataFrame, ckRdd: RDD[_]) {
    def persisted = ckRdd == null
    def free(blocking: Boolean): Unit =
      if (persisted) df.unpersist(blocking) else ckRdd.unpersist(blocking)
  }

  private val local =
    new ThreadLocal[scala.collection.mutable.ListBuffer[Entry]] {
      override def initialValue() =
        scala.collection.mutable.ListBuffer.empty[Entry]
    }
  // global shadow of every live registration, for [[releaseAll]]: a
  // per-thread release() is a silent no-op when the registering thread
  // handed its plan to another thread (Future, pool teardown) — without
  // a session-wide escape hatch those blocks stay cached forever
  private val all = java.util.concurrent.ConcurrentHashMap.newKeySet[Entry]()

  private def own(e: Entry): DataFrame = { local.get += e; all.add(e); e.df }

  /** Persist `df` at MEMORY_AND_DISK (lazily, on first use) and own it. */
  def persist(df: DataFrame): DataFrame =
    own(new Entry(df.persist(StorageLevel.MEMORY_AND_DISK), null))

  /** An eager, lineage-truncating snapshot of `df`: executor blocks, or
    * files under `sc.setCheckpointDir` (which survive executor loss) when
    * `reliable`. Its RDD is recorded now, so [[release]] walks no plan.
    * Once released, a plan reading the snapshot cannot recompute it:
    * Spark fails with "Checkpoint block … not found". */
  def checkpoint(df: DataFrame, reliable: Boolean = false): DataFrame = {
    val ck = if (reliable) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    val rdd = ck.queryExecution.logical match { case r: LogicalRDD => r.rdd }
    own(new Entry(ck, rdd))
  }

  /** Free one of THIS thread's entries now, before [[release]] — for an
    * intermediate a later one has superseded. Anything else is a no-op. */
  def drop(df: DataFrame): Unit = {
    val buf = local.get
    val i = buf.indexWhere(_.df eq df)
    if (i >= 0) { val e = buf.remove(i); all.remove(e); e.free(false) }
  }

  /** Snapshot of THIS thread's live persisted registrations (not
    * checkpoints, whose DataFrames carry no storage level) — test
    * introspection (lets specs assert on the exact DataFrames a job
    * persisted instead of racy global persistent-RDD counts). The
    * returned list is an immutable copy, but the DataFrames are LIVE
    * references: a concurrent release() on the owning thread may
    * unpersist them while a caller inspects storage state — fine under
    * the single-owner contract (only the registering thread snapshots
    * and releases). */
  private[graft] def registeredHere: Seq[DataFrame] =
    local.get.collect { case e if e.persisted => e.df }.toList

  /** Free every entry registered BY THIS THREAD. Contract: call AFTER
    * materializing (count/collect/write) the consuming plan — earlier
    * makes the job recompute a persist, and fails a plan that reads a
    * checkpoint.
    */
  def release(blocking: Boolean = false): Unit = {
    val buf = local.get
    buf.foreach { e => e.free(blocking); all.remove(e) }
    buf.clear()
  }

  /** Free EVERY live registration regardless of owning thread — the
    * session-teardown / test-cleanup hatch for intermediates orphaned by
    * a thread that died without releasing. Not safe while other queries
    * are in flight (it is exactly the cross-release the per-thread
    * registry exists to prevent).
    */
  def releaseAll(blocking: Boolean = false): Unit = {
    val it = all.iterator()
    while (it.hasNext) { it.next().free(blocking); it.remove() }
  }
}

/** Input parallelism guard for compute-heavy per-row operators (md5
  * signature passes, per-doc folds). A small fixture parquet is a SINGLE
  * row group ⇒ one scan split ⇒ one task doing all the work while 31
  * cores idle. At corpus scale the scan itself yields thousands of
  * splits, so the guard is a no-op there — it repartitions ONLY when the
  * source has materially fewer partitions than the session's shuffle
  * width. The decision is plan-time (partition count, not data).
  */
private[graft] object Par {
  def ensure(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val want = df.sparkSession.sessionState.conf.numShufflePartitions
    val have = df.rdd.getNumPartitions
    if (have * 2 < want) df.repartition(want, key) else df
  }

  /** Fan a CPU-bound per-row stage out by ROWS, not input bytes — the
    * generalized form of Multimodal's decode widen (r13): Spark sizes
    * scan partitions by FILE bytes, so a few MB of text arrives in 1-2
    * partitions, and a per-row kernel that costs 100-1000× its input
    * bytes (regex batteries, gram folds) serializes on one core while
    * the rest idle. Widens ONLY when the byte-sized scan estimate gives
    * materially fewer partitions than the session's parallelism; at
    * corpus scale the scan is already wide and this is a no-op by
    * construction — no shuffle. The estimate reads file stats off the
    * ANALYZED plan (no second planning pass, unlike rdd.getNumPartitions
    * — measured ~0.4 s per call on light queries when Multimodal first
    * tried it). The repartition uses an EXPLICIT count so AQE cannot
    * coalesce the tiny-bytes partitions back to one.
    */
  def widenForCpu(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPart = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    var bytes = 0L
    var unknownLeaf = false
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        bytes += lr.relation.sizeInBytes
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
      case _: org.apache.spark.sql.catalyst.plans.logical.Range => ()
      case _ => unknownLeaf = true // V2/streaming: leave its partitioning
    }
    val estParts = math.max(1L, (bytes + maxPart - 1) / maxPart)
    if (!unknownLeaf && estParts * 2 < target) df.repartition(target)
    else df
  }
}
