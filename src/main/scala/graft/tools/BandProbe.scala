package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A/B probe: the minhash band-pair stage in its WINDOW form (pre-r11)
  * vs the AGGREGATE+JOIN form, same inputs, one JVM, final adaptive
  * plans printed (`runMain graft.tools.BandProbe <sfDir>`).
  */
object BandProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftContext.envSessionBuilder("local[32]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "121").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val sigs = docs.select(col("doc_id").as("id"),
        graft.functions.minhash_text(col("text"), 3, 128, 42L).as("sig"))
      .filter(element_at(col("sig"), 1) =!= lit(Long.MaxValue))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    def banded = sigs.select(col("id"),
        explode(transform(sequence(lit(0), lit(31)), b =>
          struct(b.as("band"), hash(slice(col("sig"), b * 4 + 1, lit(4))).as("bh")))).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))

    def windowForm: DataFrame = {
      val w = Window.partitionBy(col("band"), col("bh"))
      val bn = banded
        .withColumn("occ", count(lit(1)).over(w))
        .withColumn("rep", min(struct(col("id").as("id"))).over(w))
      def side(s: String) = bn.filter(col("occ") <= 1024)
        .select(col("band"), col("bh"), col("id").as(s"id_$s"))
      side("a").join(side("b"), Seq("band", "bh"))
        .filter(col("id_a") < col("id_b")).drop("band", "bh")
        .unionByName(bn.filter(col("occ") > 1024 && col("id") =!= col("rep.id"))
          .select(col("rep.id").as("id_a"), col("id").as("id_b")))
        .dropDuplicates("id_a", "id_b")
    }
    def aggForm: DataFrame = {
      val stats = banded.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("occ"), min(struct(col("id").as("id"))).as("rep"))
        .filter(col("occ") >= 2)
      val bn = banded.join(stats, Seq("band", "bh"))
      def side(s: String) = bn.filter(col("occ") <= 1024)
        .select(col("band"), col("bh"), col("id").as(s"id_$s"))
      side("a").join(side("b"), Seq("band", "bh"))
        .filter(col("id_a") < col("id_b")).drop("band", "bh")
        .unionByName(bn.filter(col("occ") > 1024 && col("id") =!= col("rep.id"))
          .select(col("rep.id").as("id_a"), col("id").as("id_b")))
        .dropDuplicates("id_a", "id_b")
    }
    def run(tag: String, mk: => DataFrame): Unit = (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val df = mk
      val n = df.queryExecution.toRdd.count()
      System.err.println(
        f"[bandprobe] $tag sample $i ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      if (i == 2) System.err.println(df.queryExecution.executedPlan.toString
        .split("\n").filter(l => l.contains("Join") || l.contains("Exchange") ||
          l.contains("Sort") || l.contains("Aggregate") || l.contains("Window"))
        .mkString("\n"))
      System.gc()
    }
    // band-key GENERATION cost: the transform(sequence(...)) HOF is a
    // CodegenFallback — compare with a statically-unrolled array() of
    // 32 struct(lit(b), hash(slice(...))) columns, all codegen'd
    def bandedUnrolled = sigs.select(col("id"),
        explode(array((0 until 32).map(b =>
          struct(lit(b).as("band"),
            hash(slice(col("sig"), b * 4 + 1, 4)).as("bh"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    // force FULL evaluation of band+bh (sum/max consume them) so the
    // generator cannot be column-pruned out of the measurement
    def genOnly(tag: String, mk: => DataFrame): Unit = (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val df = mk.groupBy().agg(sum(col("bh").cast("long")), max(col("band")))
      df.queryExecution.toRdd.count()
      System.err.println(
        f"[bandprobe] gen-$tag sample $i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (i == 2) System.err.println(df.queryExecution.executedPlan.toString
        .split("\n").filter(l => l.contains("Codegen") || l.contains("Generate"))
        .take(4).mkString("\n"))
    }
    genOnly("hof     ", banded)
    genOnly("unrolled", bandedUnrolled)
    spark.stop()
  }
}
