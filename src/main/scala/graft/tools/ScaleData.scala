package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale the benchmark fixtures N× for data-volume bench runs
  * (`runMain graft.tools.ScaleData <srcDir> <outDir> [factor]`).
  *
  * Each fact table is unioned from `factor` key-shifted copies with join
  * relationships preserved (orderkey offsets applied consistently to
  * orders AND lineitem, etc.), mirroring how TPC-H scales: facts grow,
  * region/nation stay fixed. Text and vector payloads are perturbed
  * per-copy (word-suffix / per-dim offset) so near-duplicate and ANN
  * queries keep realistic match rates instead of every copy being a
  * trivial duplicate of copy 0 (which would inflate dedup output
  * quadratically and measure nothing real).
  */
object ScaleData {

  // key offsets: round numbers far above any fixture key
  private val OrderOff = 100000000L
  private val CustOff = 10000000L
  private val PartOff = 10000000L
  private val SuppOff = 1000000L
  private val EventOff = 100000000L
  private val UserOff = 10000000L
  private val DocOff = 10000000L
  private val VecOff = 10000000L

  /** Copies per written batch: factor 1000 as one plan would be a
    * 1000-way union (analysis cost + plan depth); appending batches of
    * 50 keeps every plan small and the output identical. */
  private val BatchCopies = 50

  private def copies(df: DataFrame, factor: Int)(
      shift: (DataFrame, Int) => DataFrame): Seq[DataFrame] =
    (0 until factor).grouped(BatchCopies).toSeq
      .map(is => is.map(i => shift(df, i)).reduce(_ unionAll _))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleData <srcDir> <outDir> [factor]")
    val (src, out) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftContext.envSessionBuilder(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = Tables.load(spark, src, name)
    def write(batches: Seq[DataFrame], name: String): Unit = {
      batches.zipWithIndex.foreach { case (df, gi) =>
        df.write.mode(if (gi == 0) SaveMode.Overwrite else SaveMode.Append)
          .parquet(s"$out/$name.parquet")
      }
      println(s"[scaledata] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // dimensions stay fixed, like TPC-H
    write(Seq(t("region")), "region")
    write(Seq(t("nation")), "nation")

    write(copies(t("customer"), factor) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * CustOff))
    }, "customer")

    write(copies(t("supplier"), factor) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * SuppOff))
    }, "supplier")

    write(copies(t("part"), factor) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * PartOff))
    }, "part")

    write(copies(t("orders"), factor) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * OrderOff))
        .withColumn("o_custkey", col("o_custkey") + lit(i * CustOff))
    }, "orders")

    write(copies(t("lineitem"), factor) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * OrderOff))
        .withColumn("l_partkey", col("l_partkey") + lit(i * PartOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * SuppOff))
    }, "lineitem")

    write(copies(t("events"), factor) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * EventOff))
        .withColumn("user_id", col("user_id") + lit(i * UserOff))
    }, "events")

    // word-suffix per copy: every shingle changes, so copies are NOT
    // near-duplicates of each other, but planted near-dup pairs WITHIN a
    // copy survive (both members get the same suffix)
    write(copies(t("documents"), factor) { (df, i) =>
      if (i == 0) df
      else df.withColumn("doc_id", col("doc_id") + lit(i * DocOff))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1x$i"))
    }, "documents")

    // per-dim deterministic offset: copies land in different LSH buckets
    // and cosine neighborhoods instead of being exact vector duplicates
    write(copies(t("embeddings"), factor) { (df, i) =>
      if (i == 0) df
      else df.withColumn("vec_id", col("vec_id") + lit(i * VecOff))
        .withColumn("embedding",
          zip_with(col("embedding"),
            transform(sequence(lit(1), size(col("embedding"))),
              d => sin(d * lit(i + 1))),
            (x, s) => x + s * lit(0.35)).cast("array<float>"))
    }, "embeddings")

    spark.stop()
  }
}
