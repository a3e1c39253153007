package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Execution counters credited to one bench sample. */
private[graft] final case class SampleStats(jobs: Long = 0, stages: Long = 0,
    tasks: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    memorySpillBytes: Long = 0, diskSpillBytes: Long = 0,
    executorRunMs: Long = 0, gcMs: Long = 0)

/** The bench's one listener: credits jobs, stages and task metrics to the
  * sample whose tag ([[SampleRecorder.Key]], a local property) the job
  * was submitted under. A job start carries its thread's properties and
  * its stage ids, so each stage maps to its sample's tag and every task
  * end is credited there — however late the async bus delivers it, and
  * never to a job of another thread or an untagged one.
  */
private[graft] final class SampleRecorder extends SparkListener {
  private val stageTag = mutable.Map[Int, String]()
  private val byTag = mutable.Map[String, SampleStats]()

  private def credit(tag: String)(f: SampleStats => SampleStats): Unit =
    byTag(tag) = f(byTag.getOrElse(tag, SampleStats()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SampleRecorder.Key)))
      .foreach { tag =>
        e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
        credit(tag)(s => s.copy(jobs = s.jobs + 1))
      }
  }

  // skipped stages (map outputs already computed) never complete, so
  // only the stages a sample actually ran are counted
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageTag.get(e.stageInfo.stageId)
        .foreach(credit(_)(s => s.copy(stages = s.stages + 1)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach(credit(_) { s =>
      val m = e.taskMetrics
      if (m == null) s.copy(tasks = s.tasks + 1)
      else s.copy(tasks = s.tasks + 1,
        shuffleReadBytes = s.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        memorySpillBytes = s.memorySpillBytes + m.memoryBytesSpilled,
        diskSpillBytes = s.diskSpillBytes + m.diskBytesSpilled,
        executorRunMs = s.executorRunMs + m.executorRunTime,
        gcMs = s.gcMs + m.jvmGCTime)
    })
  }

  /** Tags with credited work that [[take]] has not yet collected. */
  def tags: Set[String] = synchronized(byTag.keySet.toSet)

  /** Everything credited to `tag`, which is then forgotten. Events ride
    * the async listener bus: drain it first
    * (`Shims.drainListenerBus`) or late task ends are missed.
    */
  def take(tag: String): SampleStats = synchronized {
    stageTag.filterInPlace((_, t) => t != tag)
    byTag.remove(tag).getOrElse(SampleStats())
  }
}

private[graft] object SampleRecorder {
  val Key = "graft.bench.sample"

  /** Runs `body` with `tag` as this thread's [[Key]] local property. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, null)
  }
}

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query wall-clock,
  * and per query a `layers` record of its last scored sample: construct
  * / plan / exec seconds and the jobs, stages, tasks, shuffle bytes,
  * executor run time and GC time the [[SampleRecorder]] credited to it,
  * and the generated classes it compiled (`codegen_compiles`, also
  * totalled over the leg).
  * `SPARK_GRAFT_ONLY=<q>[,<q>...]` profiles a subset the same way.
  *
  * local[32] with shuffle.partitions=32 (one task wave per shuffle) and
  * AQE on — the same settings a real cluster deployment would scale out.
  */
object Bench {
  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR left raw (in builder-authored oracle SQL, an
    * exception message, an env-supplied field) makes the record invalid
    * JSON that the driver silently drops. Newlines stay `\n`, not
    * spaces, so a `--` comment in oracle SQL keeps ending its line. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** True when a JVM arg vector names a Spark/graft MAIN — matched on
    * whole argument tokens, never substrings of the classpath (a test
    * JVM whose -cp contains .../graft-classes must not count as a
    * running bench). Package-private for the spec.
    */
  private[graft] def isSparkMain(argv: Seq[String]): Boolean =
    argv.exists(a =>
      a == "graft.Bench" || a == "graft.Verify" ||
      a.startsWith("graft.tools.") ||
      a == "org.apache.spark.deploy.SparkSubmit" ||
      a == "org.apache.spark.deploy.worker.Worker" ||
      a.endsWith("CoarseGrainedExecutorBackend"))

  /** Pids of Spark/graft JVMs that are NOT this process, NOT its
    * ancestors (the launcher chain) and NOT its descendants (our own
    * local-cluster workers): the processes that would contend for the
    * box's 32 cores and poison the leg (r12: the official sf0.1 leg ran
    * 100% inside a background sf100 cluster leg — 162 s vs the clean
    * 98 s). `procs` = (pid, ppid, argv); package-private for the spec.
    */
  private[graft] def foreignSparkJvms(
      procs: Seq[(Long, Long, Seq[String])], self: Long): Seq[Long] = {
    val parentOf = procs.map(p => p._1 -> p._2).toMap
    def isDescendantOfSelf(pid: Long): Boolean = {
      var p = pid; var hops = 0
      while (p > 1 && hops < 64) {
        if (p == self) return true
        p = parentOf.getOrElse(p, 1L); hops += 1
      }
      false
    }
    val ancestors = {
      var s = Set.empty[Long]
      var p = parentOf.getOrElse(self, 1L); var hops = 0
      while (p > 1 && hops < 64) { s += p; p = parentOf.getOrElse(p, 1L); hops += 1 }
      s
    }
    procs.collect {
      case (pid, _, argv) if pid != self && !ancestors(pid) &&
        !isDescendantOfSelf(pid) && isSparkMain(argv) => pid
    }
  }

  /** Bytes of shuffle/cache block files under the given local-dir roots
    * (every `blockmgr-*` child, the BlockManager's on-disk footprint for
    * all JVMs sharing the box's local dirs). Tolerates files deleted
    * mid-walk — the drain loop reads this concurrently with executor
    * cleanup. Package-private for the spec.
    */
  private[graft] def blockmgrBytesUnder(
      roots: Seq[java.nio.file.Path]): Long = {
    import java.nio.file.{Files, Path}
    def childDirs(p: Path, glob: String): Seq[Path] = {
      val ds = try Files.newDirectoryStream(p, glob)
        catch { case _: java.io.IOException => null }
      if (ds == null) Nil
      else try {
        import scala.jdk.CollectionConverters._
        ds.asScala.filter(d =>
          try Files.isDirectory(d) catch { case _: java.io.IOException => false }
        ).toList
      } finally ds.close()
    }
    // blockmgr-* sits directly under a local-dir root in local mode; in
    // standalone/local-cluster mode the Worker hands each executor a
    // per-app dir, so executor shuffle files live at
    // <root>/spark-<uuid>/executor-<uuid>/blockmgr-<uuid> — scan both
    // layouts (bounded, name-targeted; never a full recursive /tmp walk)
    val bmDirs = roots.flatMap { root =>
      childDirs(root, "blockmgr-*") ++
        childDirs(root, "spark-*").flatMap { sd =>
          childDirs(sd, "blockmgr-*") ++
            childDirs(sd, "executor-*").flatMap(childDirs(_, "blockmgr-*"))
        }
    }
    var total = 0L
    bmDirs.foreach { d =>
      val walk = try Files.walk(d)
        catch { case _: java.io.IOException => null }
      if (walk != null) try {
        walk.forEach { p =>
          try {
            if (Files.isRegularFile(p)) total += Files.size(p)
          } catch { case _: java.io.IOException => } // deleted mid-walk
        }
      } catch { case _: java.io.UncheckedIOException => }
      finally walk.close()
    }
    total
  }

  /** Walk /proc for (pid, ppid, argv) of every java process. */
  private def scanJavaProcs(): Seq[(Long, Long, Seq[String])] = {
    val proc = new java.io.File("/proc")
    Option(proc.listFiles).getOrElse(Array.empty).toSeq
      .filter(_.getName.forall(_.isDigit)).flatMap { d =>
        try {
          val cmdline = java.nio.file.Files.readAllBytes(
            d.toPath.resolve("cmdline"))
          val argv = new String(cmdline, "UTF-8").split('\u0000').toSeq
          if (argv.headOption.exists(_.contains("java"))) {
            val stat = new String(java.nio.file.Files.readAllBytes(
              d.toPath.resolve("stat")), "UTF-8")
            // field 4 = ppid; field 2 is "(comm)" which may contain
            // spaces — split after the closing paren
            val ppid = stat.substring(stat.lastIndexOf(')') + 2)
              .split(' ')(1).toLong
            Some((d.getName.toLong, ppid, argv))
          } else None
        } catch { case _: Throwable => None }
      }
  }

  /** Compact driver-visible summary — the FINAL stdout line of a bench
    * run. Bounded well under 1.5 KB (BenchGuardSpec pins it) so it
    * always survives a log-tail capture in full. Package-private for the
    * spec.
    */
  private[graft] def compactLine(total: Double, nQueries: Int, nOk: Int,
      sfDir: String, master: String, shuffleParts: String, policy: String,
      canaryStart: Double, canaryEnd: Double, contentionJson: String,
      gitSha: String, stamp: String, fullJsonPath: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","n_queries":$nQueries,"n_ok":$nOk,"n_errors":${nQueries - nOk},"sf":${jsonStr(sfDir)},"master":${jsonStr(master)},"shuffle_partitions":${jsonStr(shuffleParts)},"samples_policy":${jsonStr(policy)},"ambient_canary":{"start_sec":$canaryStart,"end_sec":$canaryEnd},$contentionJson,"git_sha":${jsonStr(gitSha)},"timestamp":${jsonStr(stamp)},"full_json":${jsonStr(fullJsonPath)}}"""

  /** The queries a run covers, sorted by name: every registered one, or
    * the comma-separated `only` subset. Left lists the names in `only`
    * that are not registered, so a typo fails the run before any query
    * runs instead of quietly shrinking the subset. Package-private for
    * the spec.
    */
  private[graft] def selectQueries[F](only: Option[String],
      registered: Map[String, F]): Either[String, Seq[(String, F)]] =
    only.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => Right(registered.toSeq.sortBy(_._1))
      case Some(names) =>
        val unknown = names.filterNot(registered.contains).toSeq.sorted
        if (names.isEmpty) Left("SPARK_GRAFT_ONLY names no query")
        else if (unknown.nonEmpty)
          Left("SPARK_GRAFT_ONLY names unregistered queries: " +
            unknown.mkString(", "))
        else Right(registered.toSeq.filter(q => names(q._1)).sortBy(_._1))
    }

  /** A sample's `layers` record: its construct / plan / exec split, the
    * execution counters credited to it and the generated classes it
    * compiled. */
  private[graft] def layersJson(constructS: Double, planS: Double,
      execS: Double, s: SampleStats, codegenCompiles: Long): String =
    s"""{"construct_s":$constructS,"plan_s":$planS,"exec_s":$execS,"jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},"shuffle_read_bytes":${s.shuffleReadBytes},"shuffle_write_bytes":${s.shuffleWriteBytes},"executor_run_s":${s.executorRunMs / 1e3},"gc_s":${s.gcMs / 1e3},"codegen_compiles":$codegenCompiles}"""

  /** Janino compiles so far in this JVM (driver and, in local mode,
    * executor tasks alike): a class served from CodeGenerator's cache
    * does not count. */
  private def codegenCompiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Clean-band ceiling of the start canary, in seconds. Bands observed
    * on 32-core legs over rounds 10-12: sf0.1 clean 0.13-0.22 s
    * (contaminated r12 leg: 0.66), sf100 clean 2.15-2.26 s; the ceiling
    * there is 1.6× the band top. The canary is one scan-agg wave, so with
    * fewer cores each task does more of it: below 32 cores the ceiling
    * grows with the cube root of 32/cores, doubling at 4 cores (clean
    * sf0.1 legs on a 4-vCPU VM read 0.296-0.375 s). */
  private[graft] def canaryMax(fixtureBytes: Long, cores: Int): Double = {
    val at32 = if (fixtureBytes < (4L << 30)) 0.35 else 3.6
    at32 * math.cbrt(32.0 / math.min(32, math.max(1, cores)))
  }

  def main(args: Array[String]): Unit = {
    // local profiling hook: run a subset (comma-separated names). The
    // contract run leaves it unset and runs every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = selectQueries(only, SparkEntry.queries) match {
      case Right(qs) => qs
      case Left(err) => System.err.println(s"bench: $err"); sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Contention guard (r12 "what's wrong" #1): detect OTHER Spark/graft
    // JVMs before this leg starts — scanned here, before our own
    // local-cluster workers exist.
    val foreignJvmsAtStart = try {
      foreignSparkJvms(scanJavaProcs(), ProcessHandle.current().pid)
    } catch { case _: Throwable => Seq.empty[Long] }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val fixtureBytes = try {
      val d = new java.io.File(sfDir)
      def size(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
      size(d)
    } catch { case _: Throwable => 0L }
    // SPARK_GRAFT_SHUFFLE: shuffle-partition override for scale probes —
    // local[32] with 32 partitions is one task wave (no stragglers);
    // 200 approximates the task granularity a multi-node cluster sees,
    // surfacing skew that one-wave scheduling hides.
    // Default is DATA-SIZED, not core-sized: one wave per shuffle is right
    // while a shuffle partition stays ~128 MB, but at sf100 (16 GB of
    // fixtures) 32 partitions put ~5 M fact rows in every hash build /
    // sort run — the r10 leg died of exactly that (512 MB humongous
    // TaskMemoryManager pages fragmenting G1 until q4 OOM'd a 48 GB
    // heap). Partitions scale with bytes (⌈fixture/128 MB⌉, floor = one
    // task wave) — the same rule a 1000-executor job follows, and AQE
    // coalesces the small stages back down, so only the heavy shuffles
    // actually fan out.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      math.max(cpus.toInt, math.min(512L, fixtureBytes >> 27).toInt).toString)
    // SPARK_GRAFT_MASTER: multi-JVM probe hook (see Verify) — e.g.
    // local-cluster[2,16,4096] runs executor processes, crossing a real
    // serialization/classloader boundary. SPARK_GRAFT_CONF overrides are
    // for local A/B probes; the driver never sets it, so the contract run
    // keeps the engine session (non-default runs never overwrite
    // target/bench.json, see defaultRun below).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftContext.envSessionBuilder(master, shuffleParts.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the session (JVM/codegen/catalog init, parquet reader, hash-agg
    // and join codegen paths) so query timings measure the queries, not
    // first-use JIT — otherwise the alphabetically-first queries absorb
    // several seconds of one-time compilation cost.
    {
      import org.apache.spark.sql.functions._
      val li = Tables.load(spark, sfDir, "lineitem")
      val orders = Tables.load(spark, sfDir, "orders")
      li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))).count()
      // JIT-warm the shuffle-join path on a BOUNDED slice: the unlimited
      // form joined the full fact tables, which at sf100 is a 600 M-row
      // exchange heavier than any actual query (real queries prune before
      // joining) — it cost ~1 min untimed per leg and could OOM the
      // TaskMemoryManager under G1 GCLocker contention before a single
      // query ran. 2 M rows exercise the same codegen paths.
      li.limit(2000000).join(orders.limit(2000000),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_totalprice") > 0).count()
      // higher-order functions evaluate interpreted (CodegenFallback);
      // their eval paths + md5/conv JIT-warm separately from the codegen
      // paths above, and would otherwise land on the alphabetically-first
      // HOF-heavy queries (the ann_* family) as several seconds of
      // one-time cost
      val docs = Tables.load(spark, sfDir, "documents").limit(200)
      docs.select(
          aggregate(
            transform(graft.functions.word_shingles(
              graft.functions.tokens(col("text")), 3), s =>
              conv(substring(md5(s), 1, 2), 16, 10).cast("double")),
            lit(0.0), (a, x) => a + x).as("warm"),
          aggregate(zip_with(slice(split(col("text"), ""), 1, 8),
              slice(split(col("text"), ""), 1, 8), (a, b) => lit(1.0)),
            lit(0.0), (a, x) => a + x).as("warm2"))
        .agg(sum(col("warm")), sum(col("warm2"))).count()
      Tables.registerAll(spark, sfDir)
    }

    // Ambient-state canary (r10 verdict: same-code default sf0.1 legs
    // spread 85-113 s with zero code delta — page-cache and box-load
    // noise dominating round-over-round comparison). A fixed scan-agg
    // (the q1 shape: one lineitem pass, tiny hash-agg) is timed min-of-2
    // at leg START and again at leg END and stamped into the JSON: two
    // legs whose totals disagree but whose canaries explain the residual
    // are the same code under different ambient state; a canary that
    // DRIFTS within one leg flags mid-leg pollution (the q1>6 s rule the
    // sf100 protocol uses, now measured instead of inferred).
    def canarySec(): Double = {
      import org.apache.spark.sql.functions._
      (1 to 2).map { _ =>
        // fresh Dataset per sample: re-timing one queryExecution would
        // reuse its materialized shuffle map outputs and time only the
        // 121-partition reduce stage (measured: 0.03 s vs the 4 s true
        // scan at sf100) — fresh expr ids force the scan to re-run
        val q = Tables.load(spark, sfDir, "lineitem")
          .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
        val t0 = System.nanoTime()
        q.queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val canaryStart = canarySec()

    // Clean-band gate: a start canary above the fixture's clean band, or
    // a foreign Spark JVM on the box, means every number this leg will
    // produce is contention-shaped, not code-shaped. The leg is stamped
    // "contended":true (machine-readable — a reader comparing legs must
    // discard it) and, under SPARK_GRAFT_REFUSE_CONTENDED=1, refuses to
    // run at all (exit 3) so a detached long leg can't burn an hour
    // producing junk. The ceiling follows the fixture and the cores
    // (see [[canaryMax]]).
    val canaryMax = Bench.canaryMax(fixtureBytes, spark.sparkContext.defaultParallelism)
    val contendedAtStart = canaryStart > canaryMax || foreignJvmsAtStart.nonEmpty
    val contentionJson =
      s""""contended":$contendedAtStart,"contention":{"canary_max_sec":$canaryMax,"foreign_jvms":[${foreignJvmsAtStart.mkString(",")}]}"""
    if (contendedAtStart && sys.env.get("SPARK_GRAFT_REFUSE_CONTENDED").contains("1")) {
      println(s"""{"metric":"refused","reason":"contended","canary_start_sec":$canaryStart,$contentionJson,"sf":"$sfDir"}""")
      spark.stop()
      sys.exit(3)
    }

    // Cold-vs-warm discipline (r9 verdict): at ≥~1 GB of fixture data a
    // query's FIRST sample measures page-cache fill and GC ramp as much
    // as the plan — judge-observed sf100 spread was 29.6-186.8 s on one
    // query. Above the threshold every query takes one extra leading
    // sample that is RECORDED in `samples`/`sample_ts` (auditable, it is
    // the cold number) but excluded from the scored value; the policy
    // rides in the JSON as `samples_policy` so cross-leg comparisons can
    // see which convention produced each record.
    val discardFirst = fixtureBytes >= (1L << 30)
    // Per-sample execution counters (jobs, stages, tasks, shuffle bytes,
    // spill, executor run and GC time), credited by sample tag — spill_mb
    // per query is its samples' memory/disk spill, which counts the
    // serialized shuffle writer's ordinary sort-buffer writes (the engine
    // sets bypassMergeThreshold=0): `spill_semantics` says so.
    val recorder = new SampleRecorder
    spark.sparkContext.addSparkListener(recorder)
    // Shuffle-file DRAIN between samples (r12 verdict: graph_pagerank
    // rose monotonically 11.9→37.9 s across samples under local-cluster,
    // unexplained). Root cause: in multi-JVM mode executors are separate
    // processes and shuffle-file deletion is an ASYNC RPC
    // (spark.cleaner.referenceTracking.blocking.shuffle defaults false),
    // so the between-sample System.gc() only ENQUEUES cleanup — sample
    // k's files (graph_pagerank writes multi-GB across ~15 exchanges per
    // sample at sf100) are still on disk, and in page cache, while
    // sample k+1 runs, evicting the parquet columns every scan needs. In
    // single-JVM local mode the same RPC is in-process and near-
    // immediate, which is why only the cluster leg degraded. The drain
    // polls the box's blockmgr-* dirs (this harness always runs all its
    // JVMs on one box) until deletion stops making progress — OUTSIDE
    // the timed window, the way an idle real cluster drains between
    // jobs. Per-sample [pre, post] MB are stamped as blockmgr_mb so the
    // accumulation is measured, not inferred.
    val localDirRoots: Seq[java.nio.file.Path] =
      spark.sparkContext.getConf.get("spark.local.dir",
          System.getProperty("java.io.tmpdir", "/tmp"))
        .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        .map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.isDirectory(_))
    def blockmgrBytes(): Long = Bench.blockmgrBytesUnder(localDirRoots)
    def drainShuffle(): (Long, Long) = {
      val pre = blockmgrBytes()
      System.gc()
      // exit once three consecutive polls make no progress (cleanup RPCs
      // have drained or nothing was pending) or after 20 s — a bounded,
      // untimed pause, ~1.2 s when the dirs are already clean
      var last = pre; var stable = 0
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(400)
        val now = blockmgrBytes()
        if (now >= last) stable += 1 else stable = 0
        last = now
      }
      (pre, last)
    }

    // Repeat-sampled timings: a single sample can absorb a transient
    // stall (GC pause, page-cache miss) and mis-record a query by 4×
    // (r6: bm25_search 17.5 s recorded, 3.9 s on re-run) — enough to
    // manufacture or mask a 2× gate violation. Scheme: min-of-2 for
    // everything; when both samples exceed 1 s (the family where one
    // stall can still dominate the min), take a third and record the
    // median. All samples are emitted so regressions stay auditable.
    case class QueryResult(name: String, value: Double, samples: List[Double],
        skewJoins: Int, spillMem: Long, spillDisk: Long,
        sampleTs: List[Double], bmDrain: List[(Long, Long)], layers: String,
        codegenCompiles: Long)
    var sampleSeq = 0
    val results = selected.map { case (name, fn) =>
      // one timed execution through the query's OWN plan (toRdd): a
      // plain count() lets the optimizer prune every unreferenced
      // column — a projection/window query would bench its scan, not
      // its compute. Caches released between samples so every sample
      // pays the query's true repeated cost.
      // AQE skew-join visibility: after execution the adaptive plan is
      // final; "skew=true" on a join node means the skew optimizer split
      // a partition. Recorded per query so scale probes (200-partition
      // runs) can report WHERE skew handling actually fired.
      var skewJoins = 0
      // memory/disk spill bytes over all of the query's samples
      var spillMem = 0L; var spillDisk = 0L
      // generated classes compiled over all of the query's samples
      var compiles = 0L
      // layers of the latest successful sample — the last scored one
      // whenever the query succeeds (scored samples are the tail)
      var layers = ""
      // wall-clock start of each successful sample (epoch seconds),
      // aligned 1:1 with the samples list — lets a reader distinguish a
      // cold first sample from a steady-state one across legs
      val sampleTs = scala.collection.mutable.ListBuffer[Double]()
      // [pre, post] blockmgr bytes around each between-sample drain —
      // the accumulation evidence for the multi-JVM pathology above
      val bmDrain = scala.collection.mutable.ListBuffer[(Long, Long)]()
      def sample(): Option[Double] = {
        sampleSeq += 1
        val tag = s"$name#$sampleSeq"
        val wall0 = System.currentTimeMillis() / 1000.0
        // the compile count is JVM-global: Bench runs one sample at a
        // time, so the delta over the sample is the sample's own
        val cg0 = codegenCompiles()
        // construct = the query function, plan = analyze + optimize +
        // physical planning (forced here; toRdd would force it anyway),
        // exec = AQE round-trips, scheduling and compute
        val t0 = System.nanoTime()
        var t1 = t0; var t2 = t0; var t3 = t0
        val ok = SampleRecorder.tagged(spark.sparkContext, tag) {
          try {
            val df = fn(spark, sfDir)
            t1 = System.nanoTime()
            df.queryExecution.executedPlan
            t2 = System.nanoTime()
            df.queryExecution.toRdd.count()
            t3 = System.nanoTime()
            skewJoins = math.max(skewJoins,
              "skew=true".r.findAllIn(
                df.queryExecution.executedPlan.toString).size)
            true
          } catch { case t: Throwable =>
              System.err.println(s"bench: $name FAILED: ${t.getMessage}"); false }
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // outside the timed window: deliver the sample's pending listener
        // events, then collect what they credited to its tag
        org.apache.spark.sql.graft.Shims.drainListenerBus(
          spark.sparkContext, 10000L)
        val stats = recorder.take(tag)
        val sampleCompiles = codegenCompiles() - cg0
        spillMem += stats.memorySpillBytes; spillDisk += stats.diskSpillBytes
        compiles += sampleCompiles
        if (ok) layers = layersJson((t1 - t0) / 1e9, (t2 - t1) / 1e9,
          (t3 - t2) / 1e9, stats, sampleCompiles)
        graft.operators.Dedup.releaseCaches()
        // Shuffle-file hygiene at data scale (≥1 GiB fixtures, same
        // threshold as discard_first): a completed job's shuffle files
        // are deleted only when its ShuffleDependency is GC'd and the
        // ContextCleaner processes the weak ref — under a large heap
        // that can lag MINUTES, so a wide-exchange query (q12 writes
        // ~15 GB/sample at sf100) stacks dead shuffle files in the OS
        // page cache and evicts the parquet columns every LATER query
        // scans (observed: q1's scan 4 s in a fresh JVM, 25 s late in a
        // full leg). A forced GC between samples — outside the timed
        // window — releases the files the way an idle real cluster
        // would between jobs; drainShuffle additionally WAITS for the
        // async executor-side deletions in multi-JVM mode (see above).
        if (discardFirst) bmDrain += drainShuffle()
        if (ok) { sampleTs += wall0; Some(elapsed) } else None
      }
      // scored scheme: min-of-2; when both exceed 1 s (the family where
      // one stall can still dominate the min) a third decides by median
      def scoredSamples(): List[Double] = sample() match {
        case None => Nil
        case Some(s1) => sample() match {
          case None => Nil // flaky failure is still a failure
          case Some(s2) if math.min(s1, s2) > 1.0 =>
            sample().map(s3 => List(s1, s2, s3)).getOrElse(Nil)
          case Some(s2) => List(s1, s2)
        }
      }
      val (samples, scored) =
        if (!discardFirst) { val s = scoredSamples(); (s, s) }
        else sample() match {
          case None => (Nil, Nil) // cold failure is a failure
          case Some(cold) =>
            val warm = scoredSamples()
            if (warm.isEmpty) (Nil, Nil) else (cold :: warm, warm)
        }
      val value = scored match {
        case Nil => -1.0 // failures record -1.0, never a fast-looking time
        case two if two.size == 2 => two.min
        case three => three.sorted.apply(1) // median-of-3
      }
      QueryResult(name, value, samples, skewJoins, spillMem, spillDisk,
        sampleTs.toList, bmDrain.toList,
        if (scored.isEmpty) "" else layers, compiles)
    }
    def perQuery(rs: Seq[QueryResult])(v: QueryResult => String): String =
      rs.map(r => jsonStr(r.name) + ":" + v(r)).mkString("{", ",", "}")
    val qs = perQuery(results)(_.value.toString)
    val sampleJson = perQuery(results)(_.samples.mkString("[", ",", "]"))
    // epoch-second start of each sample, 1:1 with `samples` — under
    // discard_first the head entry is the cold sample by construction
    val sampleTsJson = perQuery(results)(
      _.sampleTs.map(t => f"$t%.1f").mkString("[", ",", "]"))
    val errs = results.filter(_.samples.isEmpty).map(r => jsonStr(r.name))
      .mkString("[", ",", "]")
    val skewJson = perQuery(results.filter(_.skewJoins > 0))(_.skewJoins.toString)
    // per-query spill in MB, only where nonzero (memory, disk)
    val spillJson = perQuery(results.filter(r => r.spillMem > 0 || r.spillDisk > 0))(
      r => "[" + (r.spillMem >> 20) + "," + (r.spillDisk >> 20) + "]")
    // per-query, per-sample [pre, post] blockmgr MB around each drain —
    // only stamped where something was on disk (pre or post > 1 MB)
    val bmJson = perQuery(results
      .filter(_.bmDrain.exists(d => (d._1 >> 20) > 1 || (d._2 >> 20) > 1)))(
      _.bmDrain.map { case (pre, post) =>
        "[" + (pre >> 20) + "," + (post >> 20) + "]" }.mkString("[", ",", "]"))
    val layersAll = perQuery(results.filter(_.layers.nonEmpty))(_.layers)
    // generated classes compiled over every sample of the leg
    val compilesAll = results.map(_.codegenCompiles).sum
    val total = results.filter(_.samples.nonEmpty).map(_.value).sum
    val canaryEnd = canarySec()

    // Concurrency axis (the reference runs suites with queries in flight
    // concurrently — TPCHSuite.yaml:5-7): the same SQL battery sequential
    // vs 6 in flight through the sqlToken job-group surface. Interference
    // would show up as inflight time >> sequential (lock contention /
    // cache thrash) or as wrong row counts (cross-release of caches).
    val conc = try {
      val ctx = GraftContext(spark)
      val sqls = Seq(
        "SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) q FROM lineitem GROUP BY 1, 2",
        "SELECT o_orderpriority, count(*) c FROM orders GROUP BY 1",
        "SELECT c_mktsegment, avg(c_acctbal) a FROM customer GROUP BY 1",
        "SELECT n_name, count(*) c FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1",
        "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) rev FROM lineitem GROUP BY 1 ORDER BY rev DESC, l_orderkey LIMIT 10",
        "SELECT o_custkey, count(*) c FROM orders GROUP BY 1 ORDER BY c DESC, o_custkey LIMIT 10",
        "SELECT event_type, count(*) c FROM events GROUP BY 1",
        // window queries keep their corpus-wide window but bound the
        // OUTPUT: sqlToken's worker collect()s the result to the driver,
        // so an unbounded result set would OOM the driver at sf10 — and
        // the sequential leg must do the same collect for a fair compare
        "SELECT doc_id, rn FROM (SELECT doc_id, row_number() OVER (PARTITION BY lang ORDER BY doc_id) rn FROM documents) ORDER BY rn DESC, doc_id LIMIT 100",
        "SELECT count(DISTINCT o_custkey) c FROM orders",
        "SELECT s_name, rk FROM (SELECT s_name, rank() OVER (ORDER BY s_acctbal DESC, s_suppkey) rk FROM supplier) ORDER BY rk, s_name LIMIT 100",
        "SELECT l_linestatus, max(l_extendedprice) m FROM lineitem GROUP BY 1",
        "SELECT lang, count(*) c FROM documents GROUP BY 1")
      val t1 = System.nanoTime()
      // collect(), not count(): the concurrent leg's sqlToken worker
      // materializes full result sets to the driver — count() would let
      // Catalyst skip that work and the legs would measure different jobs
      val seqRows = sqls.map(q => spark.sql(q).collect().length.toLong).sum
      val seqSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val concRows = sqls.grouped(6).map { wave =>
        val tokens = wave.map(ctx.sqlToken) // 6 in flight per wave
        tokens.map(tok => ctx.fetch(tok, 300000L).count()).sum
      }.sum
      val concSec = (System.nanoTime() - t2) / 1e9
      s""""concurrency":{"queries":${sqls.size},"inflight":6,""" +
        s""""sequential_sec":$seqSec,"concurrent_sec":$concSec,""" +
        s""""rows_match":${seqRows == concRows}}"""
    } catch {
      // a poisoned session (e.g. a query OOM'd an executor thread) must
      // not lose the whole per-query record — the sf100 leg did exactly
      // this once: 12 good timings evaporated because the concurrency
      // axis threw AFTER them, before the JSON was written
      case t: Throwable =>
        s""""concurrency":{"error":${jsonStr(t.toString.take(160))}}"""
    }

    // Run provenance (round-8 lesson: BENCH_r08 captured a multi-JVM leg
    // unlabeled and read as a false 6-9× regression). Every bench JSON is
    // self-describing: master, executor memory, git sha, wall-clock stamp.
    val gitSha = try {
      val repoRoot = java.nio.file.Paths.get(".").toAbsolutePath
      val head = new String(java.nio.file.Files.readAllBytes(
        repoRoot.resolve(".git/HEAD")), "UTF-8").trim
      val sha = if (head.startsWith("ref: ")) {
        val refPath = repoRoot.resolve(".git").resolve(head.drop(5))
        if (java.nio.file.Files.exists(refPath))
          new String(java.nio.file.Files.readAllBytes(refPath), "UTF-8")
            .trim.take(12)
        else "unknown"
      } else head.take(12)
      // r11 lesson: two sf100 legs were stamped with a sha that did NOT
      // contain the code they measured (bench ran on a dirty tree).
      // Provenance must say so: append -dirty when the working tree has
      // uncommitted changes, so a stamped artifact is either exactly
      // reproducible at its sha or visibly not. Untracked files are
      // ignored (`git describe --dirty` semantics): a previous leg's
      // not-yet-committed JSON artifact must not taint the next leg's
      // stamp — only MODIFIED tracked content can change what the sha
      // builds.
      // Failure to RUN the check must not stamp a bare sha (that is the
      // exact r11 provenance failure this code prevents) — an unknown
      // tree state is stamped as such. -C pins git to the repo root so a
      // JVM launched from elsewhere still checks the right tree.
      val dirty: Option[Boolean] = try {
        import scala.sys.process._
        Some(Seq("git", "-C", repoRoot.toString, "status", "--porcelain",
          "--untracked-files=no").!!.trim.nonEmpty)
      } catch { case _: Throwable => None }
      dirty match {
        case Some(true)  => sha + "-dirty"
        case Some(false) => sha
        case None        => sha + "-dirtyunknown"
      }
    } catch { case _: Throwable => "unknown" }
    val executorMem =
      if (master.startsWith("local-cluster"))
        sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "1g")
      else sys.env.getOrElse("SPARK_DRIVER_MEM",
        (Runtime.getRuntime.maxMemory >> 30) + "g(driver-heap)")
    val stamp = java.time.Instant.now().toString
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"samples":$sampleJson,"sample_ts":$sampleTsJson,"samples_policy":"${if (discardFirst) "discard_first" else "all"}","errors":$errs,"skew_joins":$skewJson,"spill_mb":$spillJson,"spill_semantics":"serialized-writer","blockmgr_mb":$bmJson,"layers":$layersAll,"codegen_compiles":$compilesAll,"shuffle_partitions":$shuffleParts,"ambient_canary":{"start_sec":$canaryStart,"end_sec":$canaryEnd},$contentionJson,$conc,"sf":${jsonStr(sfDir)},"master":${jsonStr(master)},"executor_memory":${jsonStr(executorMem)},"git_sha":${jsonStr(gitSha)},"timestamp":${jsonStr(stamp)}}"""
    println(json)
    // the stdout line overflows log-tail captures (the driver's BENCH_r*
    // 'parsed' field has been null every round) — also write the JSON to a
    // stable file so the per-query history stays machine-readable.
    // Canonical-record protection: target/bench.json is the local[32]
    // full-battery record; a non-default master, a shuffle override, or a
    // SPARK_GRAFT_ONLY subset must never overwrite it — those runs land in
    // target/bench-<mode>.json unless an explicit out path is given.
    val defaultRun = master == "local[32]" && shuffleParts == "32" &&
      only.isEmpty && sys.env.get("SPARK_DRIVER_MEM").isEmpty &&
      sys.env.get("SPARK_GRAFT_CONF").forall(_.trim.isEmpty) &&
      sfDir == "/root/testdata/sf0.1"
    val defaultOut =
      if (defaultRun) "target/bench.json"
      else {
        val mode = (master + (if (only.nonEmpty) "-subset" else "") +
          (if (shuffleParts != cpus) s"-sp$shuffleParts" else "") +
          sys.env.get("SPARK_DRIVER_MEM").map("-" + _).getOrElse("") +
          "-" + sfDir.split('/').filter(_.nonEmpty).last)
          .replaceAll("[^A-Za-z0-9._-]+", "_")
        s"target/bench-$mode.json"
      }
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut))
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    System.err.println(s"bench: wrote ${out.toAbsolutePath}")
    // Driver-visible compact summary (r13 verdict item 1): the full JSON
    // line above is ~24 KB (199 queries × samples × sample_ts × blockmgr
    // stamps) and the driver retains only a ~2000-char stdout TAIL, so
    // the line's head — and with it the `{"metric":` prefix the parser
    // needs — has been truncated away in every BENCH_r* since r09
    // (`parsed: null`). The FINAL stdout line is therefore a compact,
    // self-contained summary (~400 B, always inside the tail): totals
    // and provenance only, per-query detail stays in the full line above
    // and in the JSON file. Deliberately NO "queries" key here — an
    // empty map could misread as every query dropped from the bench;
    // absence degrades to the status quo at worst.
    val nOk = results.count(_.samples.nonEmpty)
    println(compactLine(total, results.size, nOk, sfDir, master,
      shuffleParts,
      if (discardFirst) "discard_first" else "all",
      canaryStart, canaryEnd, contentionJson, gitSha, stamp,
      out.toAbsolutePath.toString))
    spark.stop()
  }
}
