package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Materializes the reference's correctness-fixture axes for the battery:
  * per-format copies (CSV/ORC/JSON next to parquet) and a with-nulls data
  * variant — the reference's primary correctness net runs every e2e suite
  * over a format loop AND a `tpch-with-nulls/` dataset
  * (/root/reference tests/BlazingSQLTest/DataBase/createSchema.py:154-220,
  * 173-176; format loop in Runner/runTest.py).
  *
  * Layout under `outRoot`:
  * {{{
  *   plain_{csv,psv,orc,json}/                      — format copies
  *   nulls_{parquet,csv,psv,orc,json}/              — with-nulls
  * }}}
  * Each directory is a full self-contained fixture dir (`<table>.<ext>`
  * single files + `_schemas/<table>.ddl` sidecars + untouched parquet
  * copies of `documents`/`embeddings`), so `Tables.load` — and therefore
  * EVERY battery query — runs against it unmodified, and DuckDB can read
  * the `nulls_parquet` cell directly for oracle replay (single files, the
  * same `'<dir>/<t>.parquet'` pattern tools/selfcheck.py uses).
  */
object FixtureVariants {

  /** The relational fixture tables (scalar columns only — CSV/JSON can
    * carry them losslessly). documents/embeddings ride along as parquet.
    */
  val relational: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")

  private val pks = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"))

  /** Join/identity columns stay non-null (the reference's with-nulls data
    * keeps keys intact too — a null key row would vanish from every join
    * and test nothing).
    */
  def exempt(c: String): Boolean =
    c.endsWith("key") || c.endsWith("_id") || c == "l_linenumber"

  /** Deterministic ~10% per-column null injection: a cell is nulled when
    * the first 8 md5 hex digits of "pk|…:column" taken mod 10 equal 0.
    * Pure row arithmetic — regenerating at any scale or partitioning
    * yields the same nulls, and every non-exempt column gets independent
    * null positions (masks are computed from the ORIGINAL row in one
    * projection, so a nulled neighbor can't shift another column's mask).
    */
  def injectNulls(df: DataFrame, table: String): DataFrame = {
    val pk = concat_ws("|", pks(table).map(c => col(c).cast("string")): _*)
    df.select(df.columns.map { c =>
      if (exempt(c)) col(c)
      else when(
        conv(substring(md5(concat(pk, lit(":" + c))), 1, 8), 16, 10)
          .cast("long") % 10 === 0,
        lit(null)).otherwise(col(c)).as(c)
    }.toIndexedSeq: _*)
  }

  /** Write `df` as ONE `<out>/<table>.<ext>` file (plus the DDL sidecar):
    * single files keep the variant dirs byte-compatible with the fixture
    * layout that Tables.load and DuckDB's `'<dir>/<t>.parquet'` expect.
    */
  private def writeSingle(df: DataFrame, fmt: String, outDir: String,
      table: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val tmp = new org.apache.hadoop.fs.Path(s"$outDir/_tmp_$table")
    val fs = tmp.getFileSystem(conf)
    val w = df.coalesce(1).write.mode("overwrite")
    (fmt match {
      case "parquet" => w.parquet(tmp.toString)
      case "orc" => w.orc(tmp.toString)
      case "csv" => w.options(Tables.variantCsvOptions).csv(tmp.toString)
      case "psv" => w.options(Tables.variantCsvOptions)
        .option("sep", "|").csv(tmp.toString)
      case "json" => w.options(Tables.variantJsonOptions).json(tmp.toString)
      case "xml" => w.options(Tables.variantXmlOptions)
        .format("xml").save(tmp.toString)
      case "avro" =>
        graft.sources.AvroLiteWriter.write(df.coalesce(1), tmp.toString)
    })
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-")).get
    val dest = new org.apache.hadoop.fs.Path(s"$outDir/$table.$fmt")
    fs.delete(dest, false)
    fs.rename(part, dest)
    fs.delete(tmp, true)
    val sch = new org.apache.hadoop.fs.Path(s"$outDir/_schemas/$table.ddl")
    fs.mkdirs(sch.getParent)
    val o = fs.create(sch, true)
    try o.write(df.schema.toDDL.getBytes("UTF-8")) finally o.close()
  }

  private def copyParquetFixture(spark: SparkSession, srcDir: String,
      outDir: String, table: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(s"$srcDir/$table.parquet")
    val dst = new org.apache.hadoop.fs.Path(s"$outDir/$table.parquet")
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, true, conf)
  }

  /** Generate all nine variant dirs under `outRoot` from `srcDir`. */
  def generate(spark: SparkSession, srcDir: String, outRoot: String): Unit = {
    val cells = Seq(
      ("plain", "csv"), ("plain", "psv"), ("plain", "orc"), ("plain", "json"),
      ("plain", "xml"), ("plain", "avro"),
      ("nulls", "parquet"), ("nulls", "csv"), ("nulls", "psv"),
      ("nulls", "orc"), ("nulls", "json"), ("nulls", "xml"),
      ("nulls", "avro"))
    for ((variant, fmt) <- cells) {
      val outDir = s"$outRoot/${variant}_$fmt"
      for (t <- relational) {
        val base = Tables.load(spark, srcDir, t)
        val df = if (variant == "nulls") injectNulls(base, t) else base
        writeSingle(df, fmt, outDir, t)
      }
      // documents joins the with-nulls axis (null text/lang/source drive
      // the text/dedup battery's null semantics) but always as PARQUET:
      // document text embeds newlines, which CSV/PSV can't carry without
      // multiLine readers. embeddings stays dense — a NULL vector has no
      // defined cosine and every ANN oracle would need a filter clause.
      if (variant == "nulls")
        writeSingle(injectNulls(Tables.load(spark, srcDir, "documents"),
          "documents"), "parquet", outDir, "documents")
      else copyParquetFixture(spark, srcDir, outDir, "documents")
      copyParquetFixture(spark, srcDir, outDir, "embeddings")
    }
  }

  def main(args: Array[String]): Unit = {
    val (srcDir, outRoot) = (args(0), args(1))
    val spark = graft.GraftContext.envSessionBuilder(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, srcDir, outRoot)
    println(s"[fixture-variants] wrote variant dirs under $outRoot")
    spark.stop()
  }
}
