package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
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
      if (persisted) df.unpersist(blocking)
      else {
        ckRdd.unpersist(blocking)
        // a reliable snapshot's files outlive its RDD: Spark deletes them
        // only under spark.cleaner.referenceTracking.cleanCheckpoints
        ckRdd.getCheckpointFile.foreach { f =>
          val path = new Path(f)
          path.getFileSystem(ckRdd.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      }
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
    * `reliable`. Its RDD is recorded now, so [[release]] walks no plan,
    * and frees its blocks and deletes its files. Once released, a plan
    * reading the snapshot cannot recompute it: Spark fails with
    * "Checkpoint block … not found" (or a missing checkpoint file). */
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

/** Input parallelism guard for CPU-bound per-row operators (md5
  * signature passes, regex batteries, per-doc folds). Spark sizes scan
  * splits by FILE bytes, so a few MB of text arrives as one split: one
  * task does all the work while the other cores idle. [[ensure]] widens
  * such an input to `defaultParallelism`, the cores, and returns it
  * unchanged when it already has at least half that many partitions. At
  * corpus scale the scan yields thousands of splits and the guard is a
  * no-op.
  *
  * The decision is plan-time and reads the ANALYZED plan, never
  * `df.rdd.getNumPartitions` (a second physical-planning pass, ~0.4 s
  * measured on light queries). An explicit repartition count at the top
  * of the plan is the partitions the input has. Otherwise each file scan
  * counts the splits Spark's split planner packs at most,
  * `(bytes + files × openCostInBytes) / maxPartitionBytes`, so a source
  * of many small files is not widened; an input with a leaf it cannot
  * size (V2, streaming) is left alone.
  */
private[graft] object Par {
  import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
    LogicalPlan, Range, Repartition, RepartitionByExpression}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
    LogicalRelation}

  /** `df`, or `df` repartitioned to the cores when it is starved: by
    * `key` when given, round-robin otherwise. The count is explicit, so
    * AQE never coalesces the tiny-bytes partitions back to one. */
  def ensure(df: DataFrame, key: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    partitions(df, target) match {
      case Some(have) if have * 2 < target =>
        if (key.isEmpty) df.repartition(target) else df.repartition(target, key: _*)
      case _ => df
    }
  }

  /** The partitions `df` is read as, estimated from its analyzed plan;
    * None when a leaf cannot be sized. */
  private[operators] def partitions(df: DataFrame, target: Int): Option[Long] = {
    val conf = df.sparkSession.sessionState.conf
    val maxPart = math.max(1L, conf.filesMaxPartitionBytes)
    def splits(bytes: Long) = math.max(1L, (bytes + maxPart - 1) / maxPart)
    def leaf(p: LogicalPlan): Option[Long] = p match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some(splits(fs.location.sizeInBytes +
          fs.location.inputFiles.length * conf.filesOpenCostInBytes))
      case lr: LogicalRelation => Some(splits(lr.relation.sizeInBytes))
      case l: LocalRelation => Some(math.min(math.max(l.data.size, 1), target).toLong)
      case r: Range => Some(r.numSlices.getOrElse(target).toLong)
      case _ => None
    }
    df.queryExecution.analyzed match {
      case r: Repartition if r.shuffle => Some(r.numPartitions.toLong)
      case r: RepartitionByExpression if r.optNumPartitions.isDefined =>
        r.optNumPartitions.map(_.toLong)
      case plan =>
        val each = plan.collectLeaves().map(leaf)
        if (each.forall(_.isDefined)) Some(each.flatten.sum) else None
    }
  }
}
