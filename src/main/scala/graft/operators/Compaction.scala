package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction planning — the maintenance operation every
  * long-lived 100 TB corpus needs: ingestion increments and per-task
  * writes accumulate thousands of undersized files, and scan throughput
  * degrades with per-file open cost. The planner assigns items (files,
  * docs, shards) to target-size bins by a global running sum of their
  * sizes in a stable order, so adjacent items land in the same output
  * file and a later re-write pass is one `bin`-keyed shuffle.
  *
  * Bin contract: `bin = floor(exclusive_prefix_sum(size) / target)` —
  * every bin but the last lands within one item's size of the target.
  * Deterministic given a UNIQUE order key; with duplicate order
  * keys the tied rows' relative order — and hence their per-row bin —
  * is not defined on either engine.
  *
  * Scale shape of the prefix sum ([[prefixSum]]): Spark's global
  * `Window.orderBy` moves the corpus to ONE partition (the WindowExec
  * warning) — correct, unusable at scale. Here: one range exchange on
  * the order key, a per-partition window (parallel, partitioned by the
  * materialized partition id), and a broadcast join against the tiny
  * (pid, offset) running-total table — the textbook two-phase scan, all
  * declarative. The DuckDB oracle replays the single global window; the
  * two formulations are value-identical because the final sum is
  * invariant to where the range boundaries fall.
  */
object Compaction {

  /** Global exclusive running sum of `sizeCol` in `orderCols` order,
    * added as `outCol`, without a single-partition window. `orderCols`
    * must uniquely key rows (see class doc).
    */
  def prefixSum(df: DataFrame, sizeCol: Column, orderCols: Seq[Column],
      outCol: String = "cum_before"): DataFrame = {
    require(orderCols.nonEmpty, "prefixSum needs at least one order column")
    // pid is MATERIALIZED before the window's hash exchange on it — the
    // window then groups by the captured range-partition id, not by
    // whatever partition the exchange lands rows in. Persisted: the
    // `local` and `offsets` branches both descend from this node, and
    // without a materialization barrier column pruning can narrow one
    // branch until the two range exchanges stop being sameResult — each
    // then samples its own boundaries (seeded by RDD id) and graft_pid
    // diverges between branches, corrupting cum_before. One cached copy
    // pins a single partitioning for both readers.
    val ranged = Caches.persist(df.repartitionByRange(orderCols: _*)
      .withColumn("graft_pid", spark_partition_id()))
    val byPid = Window.partitionBy(col("graft_pid"))
    val localW = byPid.orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged
      .withColumn("graft_local", coalesce(sum(sizeCol).over(localW), lit(0L)))
      .withColumn("graft_ptotal", sum(sizeCol).over(byPid))
    // offsets: one row per partition — bounded by the partition count,
    // so the single-partition window here is over model-state-sized data
    val offsets = local.select(col("graft_pid"), col("graft_ptotal")).distinct()
      .withColumn("graft_offset", coalesce(
        sum(col("graft_ptotal")).over(
          Window.orderBy(col("graft_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("graft_pid"), col("graft_offset"))
    local.join(broadcast(offsets), Seq("graft_pid"))
      .withColumn(outCol, (col("graft_local") + col("graft_offset")).cast("long"))
      .drop("graft_pid", "graft_local", "graft_ptotal", "graft_offset")
  }

  /** Per-item bin assignment: input columns + (`cum_before`, `bin`). */
  def plan(df: DataFrame, sizeCol: Column, orderCols: Seq[Column],
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"need targetBytes > 0, got $targetBytes")
    prefixSum(df, sizeCol, orderCols)
      .withColumn("bin", floor(col("cum_before") / targetBytes).cast("long"))
  }

  /** Per-bin summary — the artifact a rewrite pass consumes: item count,
    * total bytes, and the order-key span `[first, last]` each output
    * file will cover. */
  def planSummary(df: DataFrame, sizeCol: Column, orderCol: Column,
      targetBytes: Long): DataFrame =
    plan(df, sizeCol, Seq(orderCol), targetBytes)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_items"),
        sum(sizeCol).cast("long").as("bytes"),
        min(orderCol).as("first_key"),
        max(orderCol).as("last_key"))
      .orderBy(col("bin"))

  /** Compaction plan over the actual part files of a table directory:
    * lists `(path, bytes)` through the Hadoop FS client (so it sees
    * local, HDFS, or the lite s3a/gs connectors alike) and bins them in
    * path order. Driver-side listing is one RPC per directory — file
    * METADATA, not data; the reference's metadata pass does the same
    * (`context.py:2756 _parseMetadata`). */
  def planFiles(spark: SparkSession, dir: String,
      targetBytes: Long): DataFrame = {
    import spark.implicits._
    val files = listDataFiles(spark, dir)
    require(files.nonEmpty,
      s"compaction: no data files under $dir (only hidden/metadata entries)")
    plan(files.toDF("path", "bytes"), col("bytes"), Seq(col("path")),
      targetBytes)
  }

  /** Recursive `(path, bytes)` listing of a table directory's data files.
    * Recursive: partitioned layouts nest part files under key=value
    * dirs, and spark.read.load(dir) discovers those — a non-recursive
    * listing would silently drop their rows from a rewrite. Hidden-file
    * convention matches Hadoop/Spark: both '_' (markers) and '.'
    * (checksums like .part-*.crc) prefixes are metadata, not data.
    * URI form, not Path.toString: `input_file_name()` renders the
    * URL-ENCODED Path.toUri (SparkPath.fromFileStatus does exactly
    * this), so a space or '%' in a file/dir name would otherwise make
    * every row of that file "unplanned" in compactFiles' join. */
  private def listDataFiles(spark: SparkSession,
      dir: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq
        .filter { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    walk(p).map(s => (s.getPath.toUri.toString, s.getLen)).sortBy(_._1)
  }

  /** Execute a file-compaction plan: read the listed files and rewrite
    * them binned — ONE shuffle, range-keyed by the bin id so each write
    * task packs contiguous bins and file sizes track the target (the
    * deterministic bin↔item identity lives in the returned plan; range
    * boundaries come from Spark's sampler, so a task may occasionally
    * carry two adjacent bins). Joins plan to rows on the NORMALIZED full
    * path — bare file names collide across the key=value subdirectories
    * of a partitioned layout (one write task reuses its part-file name in
    * every partition dir), and `input_file_name()` vs Hadoop
    * `Path.toString` render the same URI differently (`file:///` vs
    * `file:/`), so both sides collapse repeated slashes after the scheme.
    * Coverage is ASSERTED, not assumed: an `Observation` on the scan
    * counts rows whose file the plan missed, and any non-zero count fails
    * the call (the `outDir` contents must then be discarded). The caller
    * owns swapping the output directory in; this never mutates the
    * input. */
  def compactFiles(spark: SparkSession, dir: String, outDir: String,
      targetBytes: Long, format: String = "parquet"): DataFrame = {
    import spark.implicits._
    val files0 = listDataFiles(spark, dir)
    require(files0.nonEmpty,
      s"compaction: no data files under $dir (only hidden/metadata entries)")
    val planned = plan(files0.toDF("path", "bytes"), col("bytes"),
      Seq(col("path")), targetBytes)
    val nBins = (planned.agg(max(col("bin"))).head.getLong(0) + 1).toInt
    val norm = (c: Column) => regexp_replace(c, ":/+", ":/")
    val bins = planned.select(norm(col("path")).as("graft_path"), col("bin"))
    val obs = new org.apache.spark.sql.Observation()
    val data = spark.read.format(format).load(dir)
      .withColumn("graft_path", norm(input_file_name()))
      .join(broadcast(bins), Seq("graft_path"), "left_outer")
      .observe(obs,
        count(when(col("bin").isNull, lit(1))).as("graft_unplanned"))
      .drop("graft_path")
    // Fail-early coverage check BEFORE touching outDir: the Observation
    // below catches rows from files the plan missed, but a planned file
    // DELETED between the listing and the read would silently drop its
    // rows from the rewrite (the scan just never visits it). Re-list and
    // require the exact same file set; a mismatch aborts with outDir
    // untouched. A change inside the remaining read window still can't
    // slip through silently: an added file trips graft_unplanned, a
    // removed file fails the scan with FileNotFound.
    val files1 = listDataFiles(spark, dir).map(_._1).toSet
    val vanished = files0.map(_._1).filterNot(files1)
    val appeared = files1 -- files0.map(_._1).toSet
    require(vanished.isEmpty && appeared.isEmpty,
      s"compaction: source layout changed after planning — " +
        s"${vanished.size} file(s) vanished ${vanished.take(3).mkString("[", ", ", "]")}, " +
        s"${appeared.size} appeared; aborting before writing $outDir")
    data.repartitionByRange(nBins, col("bin")).drop("bin")
      .write.mode("overwrite").format(format).save(outDir)
    val unplanned = obs.get("graft_unplanned").asInstanceOf[Long]
    require(unplanned == 0L,
      s"compaction: $unplanned row(s) came from files absent from the " +
        s"plan — discard $outDir; the source layout changed under the plan")
    planned
  }
}
