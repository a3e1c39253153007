package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

object BenchRecorderSpec {
  // the untagged job's tasks block on these (local mode: tasks run in
  // this JVM), so it is provably in flight while the tagged one runs
  val running = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}

/** Bench's per-sample layers, read from Spark's status store by
  * [[SampleStats.read]]: work is credited to the sample whose job tag
  * its jobs were submitted under — all of it, and nothing else.
  */
class BenchRecorderSpec extends SparkSuite {
  import BenchRecorderSpec._

  private def sc = spark.sparkContext

  private def drain(): Unit =
    assert(Shims.drainListenerBus(sc, 30000L), "listener bus did not drain")

  /** A two-stage aggregate: a shuffle map stage, then a result stage. */
  private def groupBy(): Long =
    spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count()
      .queryExecution.toRdd.count()

  /** Runs `body` as a sample tagged `tag` and reads what it was credited. */
  private def sample(tag: String)(body: => Unit): SampleStats = {
    val since = SampleStats.lastJob(sc)
    SampleStats.tagged(sc, tag)(body)
    drain()
    SampleStats.read(sc, tag, since).fold(e => fail(e), identity)
  }

  test("a tagged two-stage groupBy is credited its stages, tasks and shuffle bytes") {
    val tagStages = ConcurrentHashMap.newKeySet[Int]()
    val numTasks = new ConcurrentHashMap[Int, Int]()
    // an independent record of the tagged job's stages: the job tags ride
    // in the job's properties as a comma-separated list
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(',').contains("groupBy")))
          e.stageInfos.foreach(s => tagStages.add(s.stageId))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        numTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    sc.addSparkListener(probe)
    try {
      val s = sample("groupBy")(groupBy())
      assert(s.jobs >= 1)
      assert(s.stages >= 2, s"expected map + result stages, got $s")
      assert(s.shuffleWriteBytes > 0 && s.shuffleReadBytes > 0, s.toString)
      // the stages that ran (skipped ones never complete)
      val ran = tagStages.asScala.toSeq.flatMap(id => Option(numTasks.get(id)))
      assert(ran.size == s.stages)
      assert(s.tasks == ran.map(_.toLong).sum, s"tasks $s vs stages $ran")
    } finally sc.removeSparkListener(probe)
  }

  test("an untagged job running at the same time on another thread is credited to no sample") {
    val alone = sample("alone")(groupBy())
    // started before any tag is set: local properties are inherited by
    // threads created under them
    val other = new Thread(() =>
      sc.parallelize(1 to 4, 4).foreach { _ =>
        running.countDown()
        release.await(60, TimeUnit.SECONDS)
      })
    val since = SampleStats.lastJob(sc)
    other.start()
    val busy = try {
      assert(running.await(60, TimeUnit.SECONDS), "untagged job never started")
      sample("busy")(groupBy())
    } finally {
      release.countDown()
      other.join(60000)
    }
    assert(Shims.jobs(sc).count(j => j.jobId > since && j.jobTags.isEmpty) == 1,
      "the other thread's job carries a tag")
    assert((busy.jobs, busy.stages, busy.tasks) ==
      (alone.jobs, alone.stages, alone.tasks), s"$busy vs $alone")
  }

  test("after the tag is cleared, a later job on the same thread is credited to nothing") {
    val since = SampleStats.lastJob(sc)
    SampleStats.tagged(sc, "sample")(groupBy())
    assert(!sc.getJobTags().contains("sample"))
    drain()
    val cleared = SampleStats.lastJob(sc)
    groupBy()
    drain()
    val later = Shims.jobs(sc).filter(_.jobId > cleared)
    assert(later.nonEmpty && later.forall(_.jobTags.isEmpty),
      "a job after the tag was removed carries a tag")
    val s = SampleStats.read(sc, "sample", since).fold(e => fail(e), identity)
    val ref = sample("ref")(groupBy())
    assert((s.jobs, s.stages, s.tasks) == (ref.jobs, ref.stages, ref.tasks),
      s"$s vs $ref")
  }

  test("evicted skipped stages lose nothing; an evicted job reads as an error, not as zero") {
    // spark.ui.retainedStages and retainedJobs are 1000, and each cleanup
    // drops at least the oldest finished tenth; skipped stages never
    // completed, so they sort oldest and go first. A 100-shuffle chain
    // that has run once is cheap to run again: every map stage of the
    // rerun is a fresh skipped stage.
    val one = new org.apache.spark.HashPartitioner(1)
    // map drops the partitioner, so every partitionBy shuffles
    val chain = (1 to 100).foldLeft(sc.parallelize(Seq(1 -> 1), 1))(
      (rdd, _) => rdd.partitionBy(one).map(identity))
    chain.count()
    val ref = sample("unevicted")(groupBy())
    val since = SampleStats.lastJob(sc)
    SampleStats.tagged(sc, "kept")(groupBy())
    (1 to 12).foreach(_ => chain.count())
    drain()
    val tagged = Shims.jobs(sc).filter(_.jobTags.contains("kept"))
    assert(tagged.flatMap(_.stageIds).exists(Shims.stageAttempts(sc, _).isEmpty),
      "no skipped stage of the sample was evicted")
    val kept = SampleStats.read(sc, "kept", since).fold(e => fail(e), identity)
    assert((kept.jobs, kept.stages, kept.tasks) == (ref.jobs, ref.stages, ref.tasks),
      s"$kept vs $ref")
    // jobs over no partitions run no stage, but the store keeps them too:
    // this many push the sample's own jobs out
    (1 to 1000).foreach(_ => sc.emptyRDD[Int].count())
    drain()
    val r = SampleStats.read(sc, "kept", since)
    assert(r.isLeft, s"an evicted sample read as $r")
    assert(r.swap.exists(_.contains("evicted")), r.toString)
  }
}
