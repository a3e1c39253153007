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

/** Bench's [[SampleRecorder]]: work is credited to the sample whose tag
  * its job was submitted under — all of it, and nothing else.
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

  private def withRecorder[T](body: SampleRecorder => T): T = {
    val r = new SampleRecorder
    sc.addSparkListener(r)
    try body(r) finally sc.removeSparkListener(r)
  }

  test("a tagged two-stage groupBy is credited its stages, tasks and shuffle bytes") {
    val tagStages = ConcurrentHashMap.newKeySet[Int]()
    val numTasks = new ConcurrentHashMap[Int, Int]()
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(SampleRecorder.Key) == "groupBy"))
          e.stageInfos.foreach(s => tagStages.add(s.stageId))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        numTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    sc.addSparkListener(probe)
    try withRecorder { r =>
      SampleRecorder.tagged(sc, "groupBy")(groupBy())
      drain()
      val s = r.take("groupBy")
      assert(s.jobs >= 1)
      assert(s.stages >= 2, s"expected map + result stages, got $s")
      assert(s.shuffleWriteBytes > 0 && s.shuffleReadBytes > 0, s.toString)
      // the stages that ran (skipped ones never complete)
      val ran = tagStages.asScala.toSeq.flatMap(id => Option(numTasks.get(id)))
      assert(ran.size == s.stages)
      assert(s.tasks == ran.map(_.toLong).sum, s"tasks $s vs stages $ran")
      assert(r.tags.isEmpty, "take must forget the tag")
    } finally sc.removeSparkListener(probe)
  }

  test("an untagged job running at the same time on another thread is credited to no sample") {
    withRecorder { r =>
      SampleRecorder.tagged(sc, "alone")(groupBy())
      drain()
      val alone = r.take("alone")
      // started before any tag is set: local properties are inherited by
      // threads created under them
      val other = new Thread(() =>
        sc.parallelize(1 to 4, 4).foreach { _ =>
          running.countDown()
          release.await(60, TimeUnit.SECONDS)
        })
      other.start()
      try {
        assert(running.await(60, TimeUnit.SECONDS), "untagged job never started")
        SampleRecorder.tagged(sc, "busy")(groupBy())
      } finally {
        release.countDown()
        other.join(60000)
      }
      drain()
      assert(r.tags == Set("busy"))
      val busy = r.take("busy")
      assert((busy.jobs, busy.stages, busy.tasks) ==
        (alone.jobs, alone.stages, alone.tasks), s"$busy vs $alone")
    }
  }

  test("after the tag is cleared, a later job on the same thread is credited to nothing") {
    withRecorder { r =>
      SampleRecorder.tagged(sc, "sample")(groupBy())
      assert(sc.getLocalProperty(SampleRecorder.Key) == null)
      groupBy()
      drain()
      assert(r.tags == Set("sample"))
      val sample = r.take("sample")
      SampleRecorder.tagged(sc, "ref")(groupBy())
      drain()
      val ref = r.take("ref")
      assert((sample.jobs, sample.stages, sample.tasks) ==
        (ref.jobs, ref.stages, ref.tasks), s"$sample vs $ref")
      assert(r.tags.isEmpty)
    }
  }
}
