package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopKPerGroup

/** Specs for the custom Catalyst operator (LogicalPlan + Strategy +
  * SparkPlan): per-group top-k via bounded heaps; and for the
  * query-stage rule that ranges a sort over a one-partition input to one
  * partition ([[graft.plans.OnePartitionRangeSort]]).
  */
class PlansSpec extends SparkSuite {

  test("topKPerGroup equals the window row_number formulation") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    val ours = TopKPerGroup(li, Seq("l_returnflag"),
      Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")), 5)
      .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
        col("l_orderkey"), col("l_linenumber"))
      .collect()

    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val reference = li
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).drop("rn")
      .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
        col("l_orderkey"), col("l_linenumber"))
      .collect()

    assert(ours.length == reference.length,
      s"row counts differ: ${ours.length} vs ${reference.length}")
    assert(ours.sameElements(reference), "rows differ from window formulation")
  }

  test("topKPerGroup plans partial and final heaps around one exchange") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_extendedprice"))
    val plan = TopKPerGroup(li, Seq("l_returnflag"),
      Seq(col("l_extendedprice").desc, col("l_orderkey")), 3)
      .queryExecution.executedPlan.toString
    val execs = "TopKPerGroup \\[".r.findAllIn(plan).length
    assert(execs == 2, s"expected partial+final TopKPerGroupExec, got $execs:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one exchange:\n$plan")
    // map-side partial runs BEFORE the exchange: no full-table shuffle
    assert(!plan.contains("Window"), s"fell back to a window plan:\n$plan")
  }

  test("topKPerGroup with no group columns is a global top-k") {
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val got = TopKPerGroup(orders, Nil,
      Seq(col("o_totalprice").desc, col("o_orderkey")), 10)
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).collect()
    val expect = orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10).collect()
    assert(got.sameElements(expect))
  }

  test("optimizer rewrites the row_number <= k idiom into TopKPerGroup") {
    // the suite session sets spark.sql.extensions=graft.GraftExtensions,
    // so rule + strategy arrive via injection — this is the e2e SQL path
    Tables.registerAll(spark, sfDir)
    val sql =
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn <= 4
        |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")

    // reference: identical query but rn ESCAPES into the output (a
    // .drop would collapse into the projection and legitimately re-arm
    // the rewrite), which must suppress it; rn is stripped driver-side
    val ref = spark.sql(sql.replace(
      "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (",
      "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM ("))
    assert(ref.queryExecution.executedPlan.toString.contains("Window"),
      "reference plan unexpectedly rewritten")
    val refRows = ref.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val gotRows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(gotRows.sameElements(refRows),
      "rewritten result differs from the window formulation")
  }

  test("rewrite is overflow-safe: rn < Int.MinValue stays an empty filter") {
    Tables.registerAll(spark, sfDir)
    // k - 1 on Int.MinValue would wrap to Int.MaxValue and rewrite an
    // always-false predicate into a top-2-billion query
    val df = spark.sql(
      s"""SELECT o_orderkey FROM (
         |  SELECT o_orderkey, row_number() OVER (ORDER BY o_totalprice) AS rn
         |  FROM orders) WHERE rn < ${Int.MinValue}""".stripMargin)
    assert(!df.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
      "overflowed bound must not fire the rewrite")
    assert(df.count() == 0)
  }

  test("topKPerGroup handles k larger than any group") {
    val nation = Tables.load(spark, sfDir, "nation")
    val got = TopKPerGroup(nation, Seq("n_regionkey"),
      Seq(col("n_nationkey")), 1000).count()
    assert(got == nation.count(), "k > group size must keep every row")
  }

  test("topKPerGroup resolves group columns case-insensitively by default") {
    val nation = Tables.load(spark, sfDir, "nation")
    // the session default is spark.sql.caseSensitive=false — an upper-cased
    // group name must resolve exactly like df("N_REGIONKEY") does
    val upper = TopKPerGroup(nation, Seq("N_REGIONKEY"),
      Seq(col("n_nationkey")), 2)
    val lower = TopKPerGroup(nation, Seq("n_regionkey"),
      Seq(col("n_nationkey")), 2)
    assert(upper.collect().map(_.toString).sorted.toSeq ==
      lower.collect().map(_.toString).sorted.toSeq)
    // a genuinely absent column still raises
    intercept[IllegalArgumentException] {
      TopKPerGroup(nation, Seq("no_such_col"), Seq(col("n_nationkey")), 2)
    }
  }

  /** `df`'s rows and the number of jobs collecting them ran, read from
    * the status store by job tag. */
  private def rowsAndJobs(tag: String, df: DataFrame) = {
    val sc = spark.sparkContext
    val since = SampleStats.lastJob(sc)
    val rows = SampleStats.tagged(sc, tag)(df.collect())
    assert(org.apache.spark.sql.graft.Shims.drainListenerBus(sc, 30000L),
      "listener bus did not drain")
    (rows, SampleStats.read(sc, tag, since).fold(e => fail(e), _.jobs))
  }

  private def rangeParts(df: DataFrame): Seq[Int] =
    "rangepartitioning\\([^\n]*, (\\d+)\\)".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1).toInt).toSeq

  test("a sort over a one-split scan ranges to one partition and skips the sampling job") {
    val docs = Tables.load(spark, sfDir, "documents") // single-split fixture
    def sorted(in: DataFrame) =
      in.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("h"), explode(split(col("lang"), "x")).as("l"))
        .orderBy(col("h"), col("doc_id"))
    val one = sorted(docs)
    assert(rangeParts(one) == Seq(1), one.queryExecution.executedPlan.toString)
    // a mapPartitions is not a node the rule sees through: the same
    // single partition, but the exchange keeps its width and samples
    val blind = sorted(docs.mapPartitions((it: Iterator[Row]) => it)(Encoders.row(docs.schema)))
    assert(rangeParts(blind) == Seq(spark.sessionState.conf.numShufflePartitions))
    val (rows, jobs) = rowsAndJobs("one-split-sort", one)
    val (blindRows, blindJobs) = rowsAndJobs("one-split-sort-blind", blind)
    assert(jobs == blindJobs - 1, s"$jobs jobs against $blindJobs")
    assert(rows.nonEmpty && rows.sameElements(blindRows))
    // AQE re-applies the rule: the final plan (printed above the initial
    // one once executed) keeps one partition
    assert(rangeParts(one) == Seq(1, 1), one.queryExecution.executedPlan.toString)
    // the streamed side of a broadcast join is the scan's partitions too
    val langs = docs.select(col("lang")).distinct()
    val joined = docs.join(broadcast(langs), Seq("lang")).orderBy(col("doc_id"))
    assert(rangeParts(joined) == Seq(1), joined.queryExecution.executedPlan.toString)
  }

  test("a wide input keeps its range width and a user range repartition its count") {
    val docs = Tables.load(spark, sfDir, "documents")
    def sorted(in: DataFrame) =
      in.select(col("doc_id"), md5(col("text")).as("h")).orderBy(col("h"), col("doc_id"))
    val wide = sorted(docs.repartition(4))
    assert(rangeParts(wide) == Seq(spark.sessionState.conf.numShufflePartitions),
      wide.queryExecution.executedPlan.toString)
    assert(sorted(docs).collect().sameElements(wide.collect()),
      "the one-partition sort changed the rows")
    val byRange = docs.repartitionByRange(5, col("doc_id"))
    assert(rangeParts(byRange) == Seq(5), byRange.queryExecution.executedPlan.toString)
    assert(byRange.rdd.getNumPartitions == 5)
  }
}
