package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
object SparkSuite {
  lazy val spark: SparkSession = {
    // Hive catalog (embedded Derby metastore under /tmp) so suites can
    // exercise metastore-backed tables + catalog partition pruning — the
    // reference reads schema/partitions from a live metastore
    // (hive.py:96-294); everything else behaves identically.
    // local[8, 3]: 3 task attempts, so RetrySpec can inject first-attempt
    // failures and assert operator determinism under retry — the
    // recompute semantics a 1000-executor cluster exercises constantly.
    // With no failing task the scheduler behaves exactly like local[8].
    // Everything else is the engine session (GraftContext.sessionBuilder).
    val s = GraftContext.sessionBuilder("local[8, 3]", 8)
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=/tmp/graft-test-metastore;create=true")
      .enableHiveSupport()
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  def sfDir: String = SparkSuite.sfDir
}
