package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench contention guard (r12 post-mortem: the round's official sf0.1
  * leg ran 100% wall-clock-inside a 48-minute background sf100 cluster
  * leg — 162.4 s vs the clean 98.4 s record — and only the canary
  * flagged it). The guard has two independent signals: a start-canary
  * clean band, and a /proc scan for foreign Spark/graft JVMs. These
  * tests pin the scan's classification logic: what counts as a Spark
  * main, and which process-tree relatives are excluded.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("isSparkMain matches main-class tokens, not classpath substrings") {
    assert(Bench.isSparkMain(Seq("java", "-cp", "x.jar", "graft.Bench")))
    assert(Bench.isSparkMain(Seq("java", "graft.Verify")))
    assert(Bench.isSparkMain(Seq("java", "graft.tools.ScaleData", "/a", "/b")))
    assert(Bench.isSparkMain(Seq("java", "org.apache.spark.deploy.SparkSubmit")))
    assert(Bench.isSparkMain(Seq("java",
      "org.apache.spark.executor.CoarseGrainedExecutorBackend", "--driver-url", "x")))
    assert(Bench.isSparkMain(Seq("java", "org.apache.spark.deploy.worker.Worker")))
    // a test/sbt JVM whose CLASSPATH mentions graft classes is NOT a
    // running bench — matching substrings there would false-positive
    // every sbt test fork on the box
    assert(!Bench.isSparkMain(Seq("java", "-cp",
      "/tmp/graft-classes-r12:/root/repo/target/scala-2.13/classes",
      "sbt.ForkMain", "41234")))
    assert(!Bench.isSparkMain(Seq("java", "-jar", "sbt-launch.jar")))
    assert(!Bench.isSparkMain(Seq.empty))
  }

  test("foreignSparkJvms excludes self, ancestors, and descendants") {
    // tree: 1 -> 10 (launcher) -> 100 (self, graft.Bench)
    //                              -> 1000, 1001 (our cluster workers)
    //       1 -> 20 (foreign graft.Bench) -> 200 (its executor)
    //       1 -> 30 (unrelated java, not spark)
    val procs = Seq[(Long, Long, Seq[String])](
      (10L, 1L, Seq("java", "graft.Bench")), // ancestor: launcher wrapper
      (100L, 10L, Seq("java", "graft.Bench")), // self
      (1000L, 100L, Seq("java",
        "org.apache.spark.executor.CoarseGrainedExecutorBackend")),
      (1001L, 100L, Seq("java",
        "org.apache.spark.deploy.worker.Worker")),
      (20L, 1L, Seq("java", "graft.Bench")),
      (200L, 20L, Seq("java",
        "org.apache.spark.executor.CoarseGrainedExecutorBackend")),
      (30L, 1L, Seq("java", "-jar", "other-app.jar")))
    val foreign = Bench.foreignSparkJvms(procs, self = 100L)
    assert(foreign.toSet == Set(20L, 200L),
      s"expected the foreign leg and its executor only, got $foreign")
  }

  test("foreignSparkJvms is empty when only our own tree runs") {
    val procs = Seq[(Long, Long, Seq[String])](
      (100L, 1L, Seq("java", "graft.Bench")),
      (1000L, 100L, Seq("java",
        "org.apache.spark.executor.CoarseGrainedExecutorBackend")))
    assert(Bench.foreignSparkJvms(procs, self = 100L).isEmpty)
  }

  test("blockmgrBytesUnder sums only blockmgr-* files, tolerates missing roots") {
    val root = java.nio.file.Files.createTempDirectory("bmspec")
    try {
      val bm = java.nio.file.Files.createDirectories(
        root.resolve("blockmgr-aaaa").resolve("0c"))
      java.nio.file.Files.write(bm.resolve("shuffle_1_0_0.data"),
        Array.fill[Byte](1024)(7))
      java.nio.file.Files.write(bm.resolve("shuffle_1_0_0.index"),
        Array.fill[Byte](64)(7))
      // a non-blockmgr sibling (parquet scratch, spark-* dirs) must not count
      val other = java.nio.file.Files.createDirectories(root.resolve("spark-bbbb"))
      java.nio.file.Files.write(other.resolve("big.bin"), Array.fill[Byte](4096)(7))
      assert(Bench.blockmgrBytesUnder(Seq(root)) == 1088L)
      // local-cluster layout: the Worker hands executors per-app dirs at
      // <root>/spark-<uuid>/executor-<uuid>/blockmgr-<uuid> — counted too
      val execBm = java.nio.file.Files.createDirectories(
        other.resolve("executor-cccc").resolve("blockmgr-dddd").resolve("0a"))
      java.nio.file.Files.write(execBm.resolve("shuffle_2_1_0.data"),
        Array.fill[Byte](512)(7))
      assert(Bench.blockmgrBytesUnder(Seq(root)) == 1600L)
      // a root that vanished between config read and walk contributes 0
      val gone = root.resolve("no-such-dir")
      assert(Bench.blockmgrBytesUnder(Seq.empty) == 0L)
      assert(Bench.blockmgrBytesUnder(
        Seq(root).filter(java.nio.file.Files.isDirectory(_))) == 1600L)
      assert(!java.nio.file.Files.isDirectory(gone))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator.asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("compactLine is parseable JSON and fits a 2000-char log tail") {
    // The driver retains only a ~2000-char stdout tail; the full bench
    // JSON (~24 KB) always lost its head there, so BENCH_r09..r13 all
    // parsed null. The compact FINAL line must (a) start with the
    // {"metric": prefix the parser keys on, (b) fit the tail with slack
    // even with worst-case-ish field contents, (c) be valid JSON.
    val contention =
      """"contended":false,"contention":{"canary_max_sec":0.35,"foreign_jvms":[]}"""
    val line = Bench.compactLine(
      total = 98.14520931100002, nQueries = 199, nOk = 199,
      sfDir = "/root/testdata/sf0.1", master = "local-cluster[2,16,4096]",
      shuffleParts = "121", policy = "discard_first",
      canaryStart = 0.235343752, canaryEnd = 0.139148069,
      contentionJson = contention, gitSha = "921f22166635-dirtyunknown",
      stamp = "2026-08-18T04:30:20.423Z",
      fullJsonPath = "/root/repo/target/bench-local_32_-89g-sf0.1.json")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.length < 1500, s"compact line too long: ${line.length}")
    assert(!line.contains("\n"))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(parsed.get("value").asDouble() == 98.14520931100002)
    assert(parsed.get("n_queries").asInt() == 199)
    assert(parsed.get("n_errors").asInt() == 0)
    assert(parsed.get("sf").asText() == "/root/testdata/sf0.1")
    assert(parsed.get("contended").asBoolean() == false)
    assert(parsed.get("git_sha").asText().startsWith("921f2216"))
  }

  test("compactLine stays well-formed when string fields carry quotes and backslashes") {
    // every string field goes through Bench.jsonStr, not raw interpolation
    val odd = "12\"3\\4"
    val line = Bench.compactLine(
      total = 1.5, nQueries = 2, nOk = 2,
      sfDir = "/data/sf\"x", master = "local[4]",
      shuffleParts = odd, policy = "all\tpolicy",
      canaryStart = 0.1, canaryEnd = 0.2,
      contentionJson = """"contended":false""", gitSha = "abc\\def",
      stamp = "2026-01-01T00:00:00Z\n", fullJsonPath = "/tmp/b.json")
    assert(!line.contains("\n"))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(parsed.get("shuffle_partitions").asText() == odd)
    assert(parsed.get("samples_policy").asText() == "all\tpolicy")
    assert(parsed.get("sf").asText() == "/data/sf\"x")
    assert(parsed.get("git_sha").asText() == "abc\\def")
    assert(parsed.get("timestamp").asText() == "2026-01-01T00:00:00Z\n")
    // newlines are escaped, not collapsed: a `--` comment in oracle SQL
    // must keep ending its line after the round trip
    assert(Bench.jsonStr("-- c\nSELECT 1") == """"-- c\nSELECT 1"""")
  }

  test("canaryMax keeps the 32-core ceilings and widens on few cores") {
    val sf01 = 17L << 20 // sf0.1 fixtures
    val sf100 = 17L << 30
    // at and above 32 cores: the ceilings set from 32-core legs
    for (cores <- Seq(32, 64)) {
      assert(Bench.canaryMax(sf01, cores) == 0.35)
      assert(Bench.canaryMax(sf100, cores) == 3.6)
    }
    // 4 cores, sf0.1: a clean leg's 0.375 s start canary (two 4-vCPU legs
    // whose totals agreed within 0.1 %) must sit inside the band, with the
    // usual 1.6× headroom
    assert(Bench.canaryMax(sf01, 4) >= 1.6 * 0.375)
    // the contaminated 0.66 s r12 reading stays flagged on 32 cores
    assert(Bench.canaryMax(sf01, 32) < 0.66)
  }

  test("selectQueries fails fast on names that are not registered") {
    val reg = Map("q3_topk" -> 3, "q1_agg" -> 1, "join_full" -> 5)
    assert(Bench.selectQueries(None, reg) ==
      Right(Seq("join_full" -> 5, "q1_agg" -> 1, "q3_topk" -> 3)))
    assert(Bench.selectQueries(Some("q3_topk, q1_agg"), reg) ==
      Right(Seq("q1_agg" -> 1, "q3_topk" -> 3)))
    // a typo must not silently shrink the subset: every unknown name is
    // listed and nothing runs
    val typo = Bench.selectQueries(Some("q1_agg,q3_topk,q3_topkk,q99"), reg)
    assert(typo.isLeft)
    val msg = typo.swap.getOrElse("")
    assert(msg.contains("q3_topkk") && msg.contains("q99"))
    assert(!msg.contains("q1_agg"))
    assert(Bench.selectQueries(Some(" , "), reg).isLeft)
    // the registry itself: q1_pricing was never a registered name
    assert(Bench.selectQueries(Some("q1_pricing,q3_topk"),
      SparkEntry.queries).isLeft)
  }

  test("layersJson is one JSON object with every layer field") {
    val line = Bench.layersJson(0.25, 0.5, 1.5, SampleStats(jobs = 3,
      stages = 4, tasks = 12, shuffleReadBytes = 100, shuffleWriteBytes = 200,
      memorySpillBytes = 7, diskSpillBytes = 8, executorRunMs = 1500,
      gcMs = 20), codegenCompiles = 5)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    import scala.jdk.CollectionConverters._
    assert(parsed.fieldNames.asScala.toSeq == Seq("construct_s", "plan_s",
      "exec_s", "jobs", "stages", "tasks", "shuffle_read_bytes",
      "shuffle_write_bytes", "executor_run_s", "gc_s", "codegen_compiles"))
    assert(parsed.get("exec_s").asDouble() == 1.5)
    assert(parsed.get("tasks").asLong() == 12L)
    assert(parsed.get("shuffle_write_bytes").asLong() == 200L)
    assert(parsed.get("executor_run_s").asDouble() == 1.5)
    assert(parsed.get("gc_s").asDouble() == 0.02)
    assert(parsed.get("codegen_compiles").asLong() == 5L)
  }

  test("foreignSparkJvms tolerates a truncated process table (no cycles)") {
    // a pid whose ppid is missing from the scan (raced exit) must not
    // loop or throw; parent defaults to init
    val procs = Seq[(Long, Long, Seq[String])](
      (100L, 99L, Seq("java", "graft.Bench")), // ppid 99 not in table
      (20L, 7L, Seq("java", "graft.Verify"))) // ppid 7 not in table
    assert(Bench.foreignSparkJvms(procs, self = 100L) == Seq(20L))
  }
}
