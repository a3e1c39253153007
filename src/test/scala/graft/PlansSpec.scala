package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import graft.operators.Similarity

/** Specs for the per-group top-k path (Spark's `WindowGroupLimit` over
  * `row_number`, planned as bounded heaps by
  * [[graft.plans.TopKPerGroupStrategy]]); and for the query-stage rule
  * that ranges a sort over a one-partition input to one partition
  * ([[graft.plans.OnePartitionRangeSort]]).
  */
class PlansSpec extends SparkSuite {

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def count(re: String, plan: String): Int = re.r.findAllIn(plan).length

  /** `df` planned in a clone of the session where Spark infers no group
    * limit: the plain window, the reference for the heap path. */
  private def plainWindow(df: DataFrame): DataFrame = {
    val clone = Shims.cloneSession(spark,
      Seq("spark.sql.optimizer.windowGroupLimitThreshold" -> "-1"))
    val ref = Shims.ofRows(clone, df.queryExecution.logical)
    val plan = planOf(ref)
    assert(!plan.contains("TopKPerGroup") && !plan.contains("WindowGroupLimit"), plan)
    ref
  }

  private def lineitem = Tables.load(spark, sfDir, "lineitem")
    .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"))

  private val liOrder =
    Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))

  /** The row_number <= k idiom over lineitem per l_returnflag, with `rn`
    * in the output or dropped. */
  private def topLines(k: Int, keepRn: Boolean): DataFrame = {
    val ranked = lineitem
      .withColumn("rn", row_number().over(Window.partitionBy(col("l_returnflag"))
        .orderBy(liOrder: _*)))
      .filter(col("rn") <= k)
    (if (keepRn) ranked else ranked.drop("rn"))
      .orderBy(col("l_returnflag") +: liOrder: _*)
  }

  test("topKPerGroup equals the window row_number formulation") {
    for (keepRn <- Seq(false, true)) {
      val df = topLines(5, keepRn)
      assert(planOf(df).contains("TopKPerGroup"), planOf(df))
      val ours = df.collect()
      val reference = plainWindow(df).collect()
      assert(ours.length == reference.length,
        s"row counts differ: ${ours.length} vs ${reference.length}")
      assert(ours.sameElements(reference), s"rows differ from window formulation (rn kept: $keepRn)")
    }
  }

  test("topKPerGroup plans partial and final heaps around one exchange") {
    for (keepRn <- Seq(false, true)) {
      val ranked = lineitem
        .withColumn("rn", row_number().over(Window.partitionBy(col("l_returnflag"))
          .orderBy(liOrder: _*)))
        .filter(col("rn") <= 3)
      val plan = planOf(if (keepRn) ranked else ranked.drop("rn"))
      assert(count("TopKPerGroup \\[", plan) == 2,
        s"expected partial+final TopKPerGroupExec (rn kept: $keepRn):\n$plan")
      assert(count("Exchange hashpartitioning", plan) == 1,
        s"expected exactly one exchange:\n$plan")
      assert(!plan.contains("WindowGroupLimit"), s"Spark's group limit survived:\n$plan")
      // the final heap emits rows in the window's order: no sort between
      assert(!plan.contains("Sort ["), s"a sort was planned over the heaps:\n$plan")
    }
  }

  test("topKPerGroup with no group columns is a global top-k") {
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val order = Seq(col("o_totalprice").desc, col("o_orderkey"))
    val got = orders.withColumn("rn", row_number().over(Window.orderBy(order: _*)))
      .filter(col("rn") <= 10).drop("rn")
      .orderBy(order: _*).collect()
    val expect = orders.orderBy(order: _*).limit(10).collect()
    assert(got.sameElements(expect))
  }

  test("optimizer rewrites the row_number <= k idiom into TopKPerGroup") {
    // the suite session sets spark.sql.extensions=graft.GraftExtensions:
    // Spark's InferWindowGroupLimit recognizes the idiom, the injected
    // strategy plans it — this is the e2e SQL path
    Tables.registerAll(spark, sfDir)
    def sql(select: String, cond: String) = spark.sql(
      s"""SELECT $select FROM (
         |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         |    row_number() OVER (PARTITION BY l_returnflag
         |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
         |  FROM lineitem) WHERE $cond
         |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin)
    val cols = "l_returnflag, l_orderkey, l_linenumber, l_extendedprice"
    for (select <- Seq(cols, s"$cols, rn");
         cond <- Seq("rn <= 4", "rn < 5", "4 >= rn", "rn <= 4 AND rn < 9", "rn = 1")) {
      val df = sql(select, cond)
      val plan = planOf(df)
      assert(count("TopKPerGroup \\[", plan) == 2, s"$select WHERE $cond:\n$plan")
      assert(!plan.contains("WindowGroupLimit"), s"$select WHERE $cond:\n$plan")
      assert(df.collect().sameElements(plainWindow(df).collect()),
        s"$select WHERE $cond differs from the window formulation")
    }
  }

  test("rank() <= k keeps Spark's WindowGroupLimit") {
    // ties make rank's k a lower bound on the rows per group, not a size:
    // the heap does not apply
    val df = lineitem
      .withColumn("rk", rank().over(Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc)))
      .filter(col("rk") <= 3)
      .orderBy(col("l_returnflag") +: liOrder: _*)
    val plan = planOf(df)
    assert(plan.contains("WindowGroupLimit") && !plan.contains("TopKPerGroup"), plan)
    assert(df.collect().sameElements(plainWindow(df).collect()))
  }

  test("rewrite is overflow-safe: rn < Int.MinValue stays an empty filter") {
    Tables.registerAll(spark, sfDir)
    // k - 1 on Int.MinValue wraps to Int.MaxValue: the bound must still
    // select nothing, not the whole table
    for (cond <- Seq(s"rn < ${Int.MinValue}", "rn <= 0")) {
      val df = spark.sql(
        s"""SELECT o_orderkey FROM (
           |  SELECT o_orderkey, row_number() OVER (
           |    PARTITION BY o_custkey ORDER BY o_totalprice) AS rn
           |  FROM orders) WHERE $cond""".stripMargin)
      assert(!planOf(df).contains("TopKPerGroup"), planOf(df))
      assert(df.count() == 0, cond)
    }
  }

  test("topKPerGroup handles k larger than any group") {
    val nation = Tables.load(spark, sfDir, "nation")
    def top(k: Int) = nation
      .withColumn("rn", row_number().over(Window.partitionBy(col("n_regionkey"))
        .orderBy(col("n_nationkey"))))
      .filter(col("rn") <= k)
    // up to Spark's windowGroupLimitThreshold (1000): the heaps
    for (k <- Seq(10, 1000)) {
      assert(planOf(top(k)).contains("TopKPerGroup"), planOf(top(k)))
      assert(top(k).count() == nation.count(), s"k = $k > group size must keep every row")
    }
    // above it Spark infers no limit: a plain window
    val plain = planOf(top(1001))
    assert(!plain.contains("TopKPerGroup") && !plain.contains("WindowGroupLimit"), plain)
    assert(top(1001).count() == nation.count(), "k > group size must keep every row")
  }

  test("bruteForceTopK shuffles once: the partial heaps replace a per-partition window") {
    val embs = Tables.load(spark, sfDir, "embeddings")
    val df = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 5), k = 10)
      .orderBy(col("q_id"), col("rn"))
    val plan = planOf(df)
    assert(count("Exchange hashpartitioning", plan) == 1, plan)
    assert(count("Exchange rangepartitioning", plan) == 1, plan)
    assert(count("TopKPerGroup \\[", plan) == 2, plan)
    assert(!plan.contains("spark_partition_id") && !plan.contains("WindowGroupLimit"), plan)
    assert(df.collect().sameElements(plainWindow(df).collect()))
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
