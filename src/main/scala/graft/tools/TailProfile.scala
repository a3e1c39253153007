package graft.tools

/** One-off stage decomposition for the sf100 tail queries
  * (`runMain graft.tools.TailProfile <sfDir>`): times the pre-exchange
  * slice of q16 (part scan → filter → 4-way explode, no aggregate) and
  * the full query, so the exchange+distinct share is attributable.
  */
object TailProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftContext.envSessionBuilder("local[32]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "121").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time(tag: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val secs = (1 to 2).map { _ =>
        val df = mk
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$tag%-28s min ${secs.min}%.2f  samples ${secs.map(s => f"$s%.2f").mkString(",")}")
    }
    graft.Tables.registerAll(spark, sfDir)
    // q16 pre-exchange slice: scan + filter + explode, aggregated only
    // within partitions (partial_count never exchanges more than its
    // input); isolates the scan/generate cost from the distinct exchange
    time("q16-scan-explode") {
      spark.sql(
        """SELECT count(*) AS c FROM (
          |  SELECT p_partkey, i.i FROM part
          |  LATERAL VIEW explode(array(0, 1, 2, 3)) i AS i
          |  WHERE p_brand <> 'Brand#17' AND p_type NOT LIKE 'SMALL%'
          |    AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29))""".stripMargin)
    }
    time("q16-full") {
      graft.SparkEntry.queries("q16_supplier_cnt")(spark, sfDir)
    }
    // q14 slice: the month scan without the membership probe
    time("q14-scan-only") {
      spark.sql(
        """SELECT sum(l_extendedprice * (1 - l_discount)) AS r FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""".stripMargin)
    }
    time("q14-full") {
      graft.SparkEntry.queries("q14_promo")(spark, sfDir)
    }
    // shuffle-hash variant: exchange the 7.5 M-row slice + 3.3 M keys,
    // 121 parallel 27 k-key builds instead of one 3.3 M broadcast build
    time("q14-shufflehash") {
      import org.apache.spark.sql.functions._
      val li = graft.Tables.load(spark, sfDir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
      val promoKeys = graft.Tables.load(spark, sfDir, "part")
        .filter(col("p_type").like("PROMO%")).select(col("p_partkey"))
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(promoKeys.hint("shuffle_hash"),
          col("l_partkey") === col("p_partkey"), "left")
        .agg((lit(100.0) *
          sum(when(col("p_partkey").isNotNull, rev).otherwise(lit(0.0))) / sum(rev))
          .as("promo_revenue"))
    }
    spark.stop()
  }
}
