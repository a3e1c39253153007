package graft

import java.util.concurrent.{CancellationException, CompletableFuture,
  ExecutionException, TimeUnit, TimeoutException}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit, max, regexp_replace, when}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayDeque
import scala.util.control.NonFatal

/** User-facing context with the reference's `BlazingContext` surface
  * (/root/reference pyblazing/pyblazing/apiv2/context.py:1291): named table
  * catalog over files or DataFrames, `sql`, `explain`, table management,
  * filesystem registration, and async submission.
  *
  * Everything delegates to Spark SQL — parsing, optimization (Catalyst
  * plays the role of the reference's Calcite+HepPlanner,
  * RelationalAlgebraGenerator.java:180-244), and execution (Tungsten +
  * shuffle replace the RAL kernel graph). The value of this class is the
  * API and the semantics, not a rebuilt engine.
  */
class GraftContext(val spark: SparkSession) {
  import GraftContext._

  private val catalog = TrieMap.empty[String, TableEntry]
  private val tokenIds = new java.util.concurrent.atomic.AtomicLong(0L)

  graft.functions.registerSql(spark)

  // ---- table management (context.py:2079 create_table dispatch) --------

  /** Create a table from files. Format inferred from the path extension
    * unless given. Options accept BOTH native `spark.read` option names
    * and the reference's pandas-style create_table kwargs
    * (context.py:890-940): kwargs are translated per
    * [[GraftContext.csvKwargDispositions]] — `delimiter`→`sep`,
    * `quotechar`→`quote`, `names`/`dtype` become the schema, … —
    * and a kwarg with no Spark equivalent throws with the documented
    * reason instead of being silently dropped.
    */
  def createTable(name: String, path: String, format: String = "",
      options: Map[String, String] = Map.empty): DataFrame = {
    val fmt = if (format.nonEmpty) format else inferFormat(path)
    val df = fmt match {
      case "parquet" => Tables.readParquet(spark, path) // handles TIMESTAMP(NANOS)
      case "orc" => spark.read.options(options).orc(path)
      case "csv" | "psv" => readCsvWithKwargs(path, fmt, options)
      case "json" => // JSON-lines, like the reference's cudf read_json
        spark.read.options(options).json(path)
      case "jdbc" => // url/dbtable/... via options
        spark.read.options(options).format("jdbc").load()
      case "sqlite" => // driver-free file-format reader (sources/SqliteFormat)
        spark.read.options(options).format("sqlite").load(path)
      case "avro" => // driver-free container reader (sources/AvroLite):
        // splittable sync-marker ranges + reader-schema column pruning
        spark.read.options(options).format("avrolite").load(path)
      case "xml" => // Spark 4 built-in XML; rowTag defaults like the matrix
        spark.read.options(Map("rowTag" -> "row") ++ options)
          .format("xml").load(path)
      case other => spark.read.options(options).format(other).load(path)
    }
    register(name, df, Some(path), fmt)
  }

  /** The CSV read path with pandas-kwarg support (see createTable). */
  private def readCsvWithKwargs(path: String, fmt: String,
      options: Map[String, String]): DataFrame = {
    val translated = GraftContext.translateCsvKwargs(options)
    val names = options.get("names").map(_.split(',').map(_.trim).toSeq)
    val dtype = options.get("dtype").map(_.split(',').map(_.trim).toSeq)
    // delim_whitespace: lines are rewritten with U+0001 between fields
    // (whitespaceToSep below), so the parser's sep becomes that char
    val wsMode = options.get("delim_whitespace")
      .exists(v => Set("true", "1", "yes").contains(v.trim.toLowerCase))
    val base = spark.read.options(translated)
      .option("header", translated.getOrElse("header", "true"))
      .option("sep",
        if (wsMode) "\u0001"
        else if (fmt == "psv") "|" else translated.getOrElse("sep", ","))
    val reader = (names, dtype) match {
      // names+dtype pin the schema positionally (pandas semantics);
      // names alone renames after an inferred read
      case (Some(ns), Some(ts)) =>
        require(ns.length == ts.length,
          s"names (${ns.length}) and dtype (${ts.length}) lengths differ")
        base.schema(org.apache.spark.sql.types.StructType.fromDDL(
          ns.zip(ts).map { case (n, t) => s"`$n` $t" }.mkString(", ")))
      case _ => base.option("inferSchema", translated.getOrElse("inferSchema", "true"))
    }
    val skiprows = options.get("skiprows").map(_.trim.toInt).getOrElse(0)
    val skipfooter = options.get("skipfooter").map(_.trim.toInt).getOrElse(0)
    var df =
      if (skiprows > 0 || skipfooter > 0 || wsMode) {
        var lines = presliceLines(path, skiprows, skipfooter)
        if (wsMode) lines = whitespaceToSep(lines,
          translated.getOrElse("quote", "\"").headOption.getOrElse('"'))
        reader.csv(lines)
      } else reader.csv(path)
    if (dtype.isEmpty) names.foreach(ns => df = df.toDF(ns: _*))
    // pandas usecols: by name or by 0-based index
    options.get("use_cols_names").foreach { cs =>
      df = df.select(cs.split(',').map(c => df.col(c.trim)).toIndexedSeq: _*)
    }
    options.get("use_cols_indexes").foreach { is =>
      val all = df.columns
      df = df.select(is.split(',').map(i => df.col(all(i.trim.toInt))).toIndexedSeq: _*)
    }
    // nrows/num_rows: bound DATA rows (after header), pandas semantics —
    // the limit plans as a LocalLimit over the scan, so only the leading
    // split(s) are read. Applied before the conversion passes below so
    // convertibility is judged on exactly the rows the table will hold.
    (options.get("nrows") orElse options.get("num_rows"))
      .foreach(n => df = df.limit(n.trim.toInt))
    df = applyBooleanTokens(df, options)
    df = applyDecimalSeparator(df, options)
    df
  }

  /** pandas `skiprows`/`skipfooter`: drop the first `head` and last
    * `tail` PHYSICAL lines before parsing. Distributed preslice: one
    * counting pass over the text splits gives each partition its global
    * line offset (and the file total, which turns the tail drop into a
    * per-partition bound) — no driver data path, no file copy. Line-based
    * like pandas' engine, so a quoted field containing a newline inside
    * the dropped regions would miscount (same caveat as the reference's
    * cudf reader). head==tail==0 skips the counting pass entirely (the
    * delim_whitespace-only path).
    */
  private def presliceLines(path: String, head: Int,
      tail: Int = 0): org.apache.spark.sql.Dataset[String] = {
    val rdd = spark.sparkContext.textFile(path)
    val sliced =
      if (head == 0 && tail == 0) rdd
      else {
        val counts = rdd.mapPartitionsWithIndex((i, it) =>
            Iterator((i, it.size.toLong)), preservesPartitioning = true)
          .collect().sortBy(_._1).map(_._2)
        // cum(i) = lines before partition i (splits are in file order)
        val cum = counts.scanLeft(0L)(_ + _)
        val keepTo = cum.last - tail // keep global index in [head, keepTo)
        rdd.mapPartitionsWithIndex { (i, it) =>
          var g = cum(i) - 1
          it.filter { _ => g += 1; g >= head && g < keepTo }
        }
      }
    spark.createDataset(sliced)(org.apache.spark.sql.Encoders.STRING)
  }

  /** pandas `delim_whitespace`: fields separated by runs of spaces/tabs.
    * Rewrites each line with U+0001 between fields — quote-aware, so a
    * quoted field keeps its internal whitespace — and the caller parses
    * with sep="\\u0001", preserving Spark csv's quoting, null-token, and
    * schema-inference behavior. Leading/trailing whitespace produces no
    * empty edge fields (sep="\s+" pandas semantics).
    */
  private def whitespaceToSep(lines: org.apache.spark.sql.Dataset[String],
      quote: Char): org.apache.spark.sql.Dataset[String] = {
    lines.map { line =>
      val sb = new java.lang.StringBuilder(line.length)
      var inQuote = false
      var pendingSep = false
      var started = false
      var i = 0
      while (i < line.length) {
        val c = line.charAt(i)
        if (inQuote) {
          sb.append(c)
          if (c == quote) inQuote = false
        } else if (c == ' ' || c == '\t') {
          if (started) pendingSep = true
        } else {
          if (pendingSep) { sb.append('\u0001'); pendingSep = false }
          if (c == quote) inQuote = true
          sb.append(c)
          started = true
        }
        i += 1
      }
      sb.toString
    }(org.apache.spark.sql.Encoders.STRING)
  }

  /** pandas/cudf `true_values`/`false_values`: string columns whose every
    * non-null value is one of the listed tokens become BooleanType (the
    * same all-or-nothing conversion cudf's reader applies during type
    * inference). One aggregate over the table decides convertibility —
    * a definition-time cost like schema inference itself. */
  private def applyBooleanTokens(df0: DataFrame, options: Map[String, String]): DataFrame = {
    val trues = options.get("true_values")
      .map(_.split(',').map(_.trim).toSeq).getOrElse(Nil)
    val falses = options.get("false_values")
      .map(_.split(',').map(_.trim).toSeq).getOrElse(Nil)
    if (trues.isEmpty && falses.isEmpty) return df0
    val tokens = trues ++ falses
    convertMatchingStringColumns(df0,
      c => !c.isin(tokens.map(t => t: Any): _*),
      c => {
        var w = when(lit(false), lit(null).cast("boolean"))
        if (trues.nonEmpty) w = w.when(c.isin(trues.map(t => t: Any): _*), lit(true))
        if (falses.nonEmpty) w = w.when(c.isin(falses.map(t => t: Any): _*), lit(false))
        w.otherwise(lit(null).cast("boolean"))
      })
  }

  /** pandas `decimal`: alternate decimal separator (e.g. ','). Numeric
    * columns written with it land as strings under schema inference;
    * convert every string column whose non-null values all match the
    * locale numeric pattern (the columns pandas would have parsed as
    * numbers). Integer-typed columns already inferred stay integral. */
  private def applyDecimalSeparator(df0: DataFrame, options: Map[String, String]): DataFrame =
    options.get("decimal").filter(_ != ".").fold(df0) { d =>
      val sep = java.util.regex.Pattern.quote(d)
      val numRe = s"^[+-]?[0-9]+($sep[0-9]*)?([eE][+-]?[0-9]+)?$$"
      convertMatchingStringColumns(df0,
        c => !c.rlike(numRe),
        c => regexp_replace(c, sep, ".").cast("double"))
    }

  /** Shared all-or-nothing column conversion: one aggregate computes,
    * per string column, whether any non-null value VIOLATES the
    * predicate; violation-free columns are rewritten with `convert`. */
  private def convertMatchingStringColumns(df0: DataFrame,
      violates: Column => Column, convert: Column => Column): DataFrame = {
    var df = df0
    val strCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
    if (strCols.isEmpty) return df
    val checks = strCols.map(c =>
      max(when(col(c).isNotNull && violates(col(c)), lit(1)).otherwise(lit(0)))
        .as(c))
    val row = df.agg(checks.head, checks.tail.toIndexedSeq: _*).head()
    strCols.zipWithIndex.foreach { case (c, i) =>
      // null check covers the zero-row edge (max over nothing)
      if (!row.isNullAt(i) && row.getInt(i) == 0)
        df = df.withColumn(c, convert(col(c)))
    }
    df
  }

  /** Create a table from an existing DataFrame (the reference's
    * cudf/pandas/arrow ingestion paths collapse to this in Spark). */
  def createTable(name: String, df: DataFrame): DataFrame =
    register(name, df, None, "dataframe")

  /** Register a live PostgreSQL table through the built-in
    * wire-protocol client (sources/PgLite.scala — no JDBC driver jar
    * needed). Mirrors the reference's sql_info surface
    * (create_table(name, from_sql="postgresql", hostname, port,
    * database, username, password, table) — context.py:890-940,
    * PostgreSQLDataProvider.cpp): schema comes from the server, filters
    * and projection push into the generated SELECT, and
    * `partitionColumn`/`numPartitions` slice the read by key range for
    * parallel fetch.
    */
  def createTablePostgres(name: String, host: String, port: Int,
      database: String, user: String, password: String, table: String,
      partitionColumn: String = "", numPartitions: Int = 1): DataFrame =
    createTableDb("postgres", name, host, port, database, user, password,
      table, partitionColumn, numPartitions)

  /** Register a live MySQL table through the built-in wire-protocol
    * client (sources/MyLite.scala — no driver jar; handshake v10,
    * mysql_native_password + caching_sha2_password fast path). Mirrors
    * the reference's create_table(from_sql="mysql", ...) surface
    * (MySQLDataProvider.cpp). Same pushdown/partitioning behavior as
    * [[createTablePostgres]].
    */
  def createTableMySql(name: String, host: String, port: Int,
      database: String, user: String, password: String, table: String,
      partitionColumn: String = "", numPartitions: Int = 1): DataFrame =
    createTableDb("mysql", name, host, port, database, user, password,
      table, partitionColumn, numPartitions)

  /** Register a table read through the wire-protocol source `format`. */
  private def createTableDb(format: String, name: String, host: String,
      port: Int, database: String, user: String, password: String,
      table: String, partitionColumn: String, numPartitions: Int): DataFrame = {
    var r = spark.read.format(format)
      .option("host", host).option("port", port.toString)
      .option("database", database).option("user", user)
      .option("password", password).option("dbtable", table)
    if (partitionColumn.nonEmpty)
      r = r.option("partitionColumn", partitionColumn)
        .option("numPartitions", numPartitions.toString)
    register(name, r.load(), None, format)
  }

  /** Register an existing CATALOG (e.g. Hive-metastore) table under
    * `alias` — the reference's `create_table(name, hive_cursor)` path
    * (hive.py:96-294, consumed at context.py:476-626): schema AND
    * partition metadata come from the metastore, so partition-pruned scans
    * need no directory listing. Requires a session whose catalog sees the
    * table (e.g. [[GraftContext.buildSession]] with `hive = true`).
    */
  def createTableFromCatalog(tableName: String, alias: String = ""): DataFrame = {
    require(spark.catalog.tableExists(tableName),
      s"catalog table not found: $tableName")
    val df = spark.table(tableName)
    val name = if (alias.nonEmpty) alias else tableName.split('.').last
    // keep the catalog identity: queries against `name` resolve through
    // the metastore relation (partition pruning intact), not a re-read
    if (name != tableName) df.createOrReplaceTempView(name)
    catalog.put(name, TableEntry(name, df, Some(tableName), "catalog"))
    df
  }

  private def register(name: String, df: DataFrame, path: Option[String],
      fmt: String): DataFrame = {
    // a temp view of the context's session; the per-query clones of
    // sql(query, configOptions) start with a copy of every temp view
    df.createOrReplaceTempView(name)
    catalog.put(name, TableEntry(name, df, path, fmt))
    df
  }

  /** Persist a table bucketed (and optionally sorted within buckets) by
    * `by`, so later equi-joins and aggregations on those keys read
    * co-located buckets with NO shuffle — the Spark-native replacement for
    * the reference's static hash-partition planning (JoinPartition kernel,
    * BatchJoinProcessing.cpp:1075: it re-hash-partitions both sides on
    * every join; bucketing pays that cost once at write time). At 100 TB
    * this turns every fact⋈fact join on the bucket key from a full
    * two-sided exchange into a local merge per bucket.
    */
  def createBucketedTable(name: String, df: DataFrame, by: Seq[String],
      buckets: Int, sortCols: Seq[String] = Nil): DataFrame = {
    require(by.nonEmpty, "bucketing requires at least one column")
    val writer = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, by.head, by.tail: _*)
    val sorted = if (sortCols.nonEmpty) writer.sortBy(sortCols.head, sortCols.tail: _*)
      else writer
    sorted.saveAsTable(name)
    val out = spark.table(name)
    catalog.put(name, TableEntry(name, out, None, "bucketed-parquet"))
    out
  }

  /** Sharded sink — the training-shard output layout step. Writes `df`
    * under `path` hive-partitioned by `partitionBy`, with every file
    * capped at `maxRecordsPerFile` rows. At 100 TB this is the
    * difference between one multi-TB file per partition and the evenly
    * sized shards a training loader streams: the record cap is enforced
    * executor-locally by the file writer (no extra shuffle, no driver
    * involvement). `clusterFirst` repartitions by the partition columns
    * so each hive partition is produced by few tasks — small-file
    * control when upstream parallelism is much wider than the partition
    * cardinality (a task writes one file PER partition value it sees,
    * so W tasks × P values can otherwise emit W·P tiny files).
    *
    * `zorderBy` clusters rows along the Morton curve over the given
    * columns before writing ([[graft.operators.ZOrder]]), so per-file
    * parquet min/max stats stay tight on EVERY listed column and later
    * scans filtering any of them prune files. Mutually exclusive with
    * `clusterFirst` (both decide the pre-write partitioning).
    */
  def writeSharded(df: DataFrame, path: String, format: String = "parquet",
      partitionBy: Seq[String] = Nil, maxRecordsPerFile: Long = 0L,
      clusterFirst: Boolean = false, zorderBy: Seq[String] = Nil): Unit = {
    require(!(clusterFirst && zorderBy.nonEmpty),
      "clusterFirst and zorderBy are mutually exclusive pre-write clusterings")
    val src =
      if (zorderBy.nonEmpty)
        // shard count = spark.sql.shuffle.partitions (the session's write
        // parallelism); AQE coalesces small ranges
        graft.operators.ZOrder.zvalues(df, zorderBy)
          .repartitionByRange(org.apache.spark.sql.functions.col("zval"))
          .sortWithinPartitions(org.apache.spark.sql.functions.col("zval"))
          .drop("zval", "zbucket")
      else if (clusterFirst && partitionBy.nonEmpty)
        df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
      else df
    var w = src.write.mode("overwrite").format(format)
    if (maxRecordsPerFile > 0)
      w = w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.save(path)
  }

  def dropTable(name: String): Unit = {
    catalog.remove(name)
    // The instance map can be stale (a second context on the same session
    // never saw the createBucketedTable) — consult the SESSION's state:
    // drop the temp view if one exists, else fall through to the catalog
    // table that saveAsTable created.
    if (!spark.catalog.dropTempView(name)) spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  def listTables(): Seq[String] = catalog.keys.toSeq.sorted

  /** Column name/type listing (context.py:2618 describe_table). */
  def describeTable(name: String): Seq[(String, String)] =
    tableDf(name).schema.fields.toSeq
      .map(f => f.name -> f.dataType.simpleString)

  private def tableDf(name: String): DataFrame =
    catalog.get(name) match {
      case Some(e) => e.df
      case None => throw new NoSuchElementException(s"table not found: $name")
    }

  /** Deequ-style constraint audit over a registered table (beyond the
    * reference — [[graft.operators.Validation.audit]]): one row per rule
    * with (rule, col_name, metric, threshold, passed); all row-local
    * rules share one aggregation pass. */
  def validate(table: String,
      rules: Seq[graft.operators.Validation.Rule]): DataFrame =
    graft.operators.Validation.audit(tableDf(table), rules)

  /** One-scan numeric column profile of a registered table
    * ([[graft.operators.Validation.profileNumeric]]); with no columns
    * given, profiles every numeric column in the schema. */
  def profile(table: String, columns: Seq[String] = Nil): DataFrame = {
    val df = tableDf(table)
    val cols =
      if (columns.nonEmpty) columns
      else df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
          f.name
      }.toSeq
    graft.operators.Validation.profileNumeric(df, cols)
  }

  /** Top-k frequent values per categorical (string) column of a
    * registered table ([[graft.operators.Validation.profileFrequent]]);
    * with no columns given, profiles every string column. */
  def profileFrequent(table: String, columns: Seq[String] = Nil,
      k: Int = 5): DataFrame = {
    val df = tableDf(table)
    val cols =
      if (columns.nonEmpty) columns
      else df.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
      }.toSeq
    graft.operators.Validation.profileFrequent(df, cols, k)
  }

  // ---- query surface -----------------------------------------------------

  /** Run SQL over the registered tables; returns a lazy DataFrame (the
    * reference returns a materialized cudf DataFrame — call `.collect()`
    * for that behavior). */
  def sql(query: String): DataFrame = spark.sql(query)

  /** Run SQL under per-query engine-config overrides — the reference's
    * `sql(query, config_options={...})` (context.py:3071-3121), where the
    * options govern that one query and never touch the context's settings.
    *
    * Isolation instead of set-then-restore: the query plans in a CLONE of
    * the context's session ([[org.apache.spark.sql.graft.Shims.cloneSession]])
    * that carries the overrides in its own SQLConf. The clone starts with
    * every temp view, so it sees each registered table and
    * `createTableFromCatalog` alias with the same logical plans (no
    * re-read), the session's functions, and its query-execution
    * listeners, so the query reaches [[log]]. The returned DataFrame stays
    * lazy and still executes under the overrides whenever the caller acts
    * on it; concurrent queries on the context's session never observe
    * them (a save/restore on the shared conf would race them).
    */
  def sql(query: String, configOptions: Map[String, String]): DataFrame = {
    if (configOptions.isEmpty) return sql(query)
    val resolved = resolveOptions(configOptions) // validate BEFORE cloning
    Shims.cloneSession(spark, resolved.map { case (_, k, v) => k -> v }).sql(query)
  }

  // ---- token polling surface (context.py:3071-3344) ----------------------
  // The reference's sql(..., return_token=True) returns a token the client
  // polls with status(token) and redeems with fetch(token); here each token
  // is a future on a shared pool that owns a Spark JOB GROUP, so
  // cancel(token) maps onto SparkContext.cancelJobGroup — killing the
  // running stages, not just abandoning the future.

  private val tokens = TrieMap.empty[Long, (String, CompletableFuture[Result])]

  /** Submit `query` for background execution; returns a token for
    * [[tokenStatus]]/[[fetch]]/[[cancel]]. The result is materialized to
    * the driver on completion (the reference's fetch returns a client-side
    * DataFrame — same contract; keep LIMIT in the query for big results).
    * The query's jobs carry the submitting thread's local properties (job
    * tags, scheduler pool) plus the token's own job group.
    */
  def sqlToken(query: String): Long = {
    val id = tokenIds.getAndIncrement()
    val group = s"graft-token-$id"
    val sc = spark.sparkContext
    val future = Shims.submitCaptured(spark) {
      // job group is thread-local: set it in the thread that runs the jobs
      sc.setJobGroup(group, s"graft sqlToken $id", interruptOnCancel = true)
      try {
        val df = spark.sql(query)
        (df.schema, df.collect())
      } finally sc.clearJobGroup()
    }
    tokens.put(id, (group, future))
    id
  }

  /** RUNNING | DONE | FAILED | CANCELLED (context.py:3192 status_). A
    * cancel that races a completed collect keeps CANCELLED: like the
    * reference's status_, it reports what the client requested. */
  def tokenStatus(token: Long): String = {
    val f = tokenFuture(token)._2
    if (f.isCancelled) "CANCELLED"
    else if (!f.isDone) "RUNNING"
    else if (f.isCompletedExceptionally) "FAILED"
    else "DONE"
  }

  /** Block (up to `timeoutMs`) for the token's result and return it as a
    * DataFrame. Throws the query's own failure for FAILED tokens and
    * IllegalStateException for CANCELLED ones. */
  def fetch(token: Long, timeoutMs: Long = 300000L): DataFrame = {
    val (schema, rows) =
      try tokenFuture(token)._2.get(timeoutMs, TimeUnit.MILLISECONDS)
      catch {
        case _: TimeoutException => throw new TimeoutException(
          s"token $token still ${tokenStatus(token)} after ${timeoutMs}ms")
        case _: CancellationException =>
          throw new IllegalStateException(s"token $token was cancelled")
        case e: ExecutionException => throw e.getCause
      }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Cancel a running token's Spark jobs (job-group cancel; stages die,
    * not just the polling handle). No-op for finished tokens. */
  def cancel(token: Long): Unit = {
    val (group, f) = tokenFuture(token)
    if (f.cancel(true)) spark.sparkContext.cancelJobGroup(group)
  }

  private def tokenFuture(token: Long): (String, CompletableFuture[Result]) =
    tokens.getOrElse(token,
      throw new NoSuchElementException(s"unknown query token: $token"))

  /** Logical (and optionally physical) plan string — the reference's
    * explain(detail=) (context.py:1842-1923). */
  def explain(query: String, detail: Boolean = false): String = {
    val qe = spark.sql(query).queryExecution
    if (detail) qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    else qe.optimizedPlan.treeString
  }

  /** Repartition helper (context.py:3018 partition(df, by=[])). */
  def partition(df: DataFrame, by: Seq[String], n: Int = 0): DataFrame = {
    val cols = by.map(df.col)
    if (n > 0) df.repartition(n, cols: _*) else df.repartition(cols: _*)
  }

  // ---- engine configuration (BlazingContext(config_options={...})) -------

  /** Apply engine options at runtime. Accepts Spark conf keys directly,
    * plus the reference's config_options names translated to the Spark
    * conf that governs the same concern:
    *
    *  - `MAX_JOIN_SCATTER_MEM_OVERHEAD` (scatter-small-table byte cap,
    *    context.py:1336-1347) → `spark.sql.autoBroadcastJoinThreshold`
    *  - `MAX_ORDER_BY_SAMPLES_PER_NODE` (range-sort sampling,
    *    context.py:1348-1367) →
    *    `spark.sql.execution.rangeExchange.sampleSizePerPartition`
    *  - `MAX_DATA_LOAD_CONCAT_CACHE_BYTE_SIZE` (scan batch concat cap,
    *    context.py:1360-1363) → `spark.sql.files.maxPartitionBytes`
    *  - `TABLE_SCAN_KERNEL_NUM_THREADS` (context.py:1415-1418) →
    *    `spark.sql.files.minPartitionNum` (the knob that actually governs
    *    scan-split parallelism; shuffle partitions do not touch the scan)
    *  - `EXECUTOR_THREADS` (context.py:1419-1422) →
    *    `spark.sql.shuffle.partitions` (per-stage parallelism)
    *
    * Unknown reference-style keys (ALL_CAPS) raise — silent acceptance
    * would hide a no-op config. Two option keys resolving to the SAME
    * Spark conf with DIFFERENT values also raise, for the same reason:
    * map iteration order silently picking a winner hides a config.
    */
  def configure(options: Map[String, String]): Unit =
    resolveOptions(options).foreach { case (_, k, v) => spark.conf.set(k, v) }

  /** Resolve (and validate) config options to `(givenKey, sparkKey, value)`
    * BEFORE any session is mutated, so a typo partway through can't leave
    * it half-configured. Shared by [[configure]] and the per-query
    * `sql(query, configOptions)` overload.
    */
  private def resolveOptions(
      options: Map[String, String]): Seq[(String, String, String)] = {
    val resolved = options.toSeq.map { case (k, v) =>
      val sparkKey = GraftContext.configKeyMap.getOrElse(k,
        if (k.nonEmpty && k == k.toUpperCase && !k.contains("."))
          throw new IllegalArgumentException(s"unknown engine config option: $k")
        else k)
      (k, sparkKey, v)
    }
    resolved.groupBy(_._2).foreach { case (sparkKey, entries) =>
      if (entries.map(_._3).distinct.sizeIs > 1)
        throw new IllegalArgumentException(
          s"conflicting values for Spark conf $sparkKey via options " +
            entries.map(e => s"${e._1}=${e._3}").mkString(", "))
    }
    resolved
  }

  // ---- query log (context.py:3346-3608 bc.log over bsql_logs) ------------

  // One shared log per SESSION (like the engine-global bsql_logs): the
  // listener registers on first GraftContext for a session and every later
  // context reads the same state — constructing N contexts must not stack
  // N listeners (each re-logging every query) on the shared session.
  private val logState = GraftContext.logStateFor(spark)

  /** The engine log as a queryable table (the reference's
    * `bc.log("SELECT * FROM bsql_logs")`). Refreshes the `graft_logs`
    * temp view and runs `query` over it.
    */
  def log(query: String = "SELECT * FROM graft_logs ORDER BY log_id"): DataFrame = {
    import spark.implicits._
    val snapshot = logState.rows.synchronized { logState.rows.toSeq }
    spark.createDataset(snapshot)
      .toDF("log_id", "log_time", "root_op", "plan_head", "duration_ms",
        "success", "error", "metrics")
      .createOrReplaceTempView("graft_logs")
    spark.sql(query)
  }

  // ---- memory introspection (context.py:1959-2077) ------------------------

  /** Free storage memory per executor — the reference's get_free_memory()
    * (GPU pool free bytes per worker). */
  def getFreeMemory(): Map[String, Long] =
    spark.sparkContext.getExecutorMemoryStatus.map {
      case (exec, (_, remaining)) => exec -> remaining
    }.toMap

  /** Peak storage memory used per executor, sampled at each query
    * completion — the reference's get_max_memory_used(). */
  def getMaxMemoryUsed(): Map[String, Long] = {
    logState.sampleMemory()
    logState.peakUsed.toMap
  }

  // ---- filesystem registration (context.py:1695-1827) --------------------
  // Spark-side these are Hadoop FS configs. Connector selection: the
  // standard hadoop-aws / gcs-connector classes win when present on the
  // classpath; otherwise the built-in read-only lite connectors
  // (sources/S3Lite.scala — real S3 REST protocol, SigV4) serve the
  // scan path through the SAME fs.s3a.* / fs.gs.* keys, so upgrading to
  // the full connector is a jar change, not a config change.

  /** Register an S3 bucket (reference `bc.s3(...)`, context.py:1744-1792:
    * access_key_id/secret_key "not required for public buckets",
    * session_token, encryption_type AES_256|AWS_KMS + kms key ARN).
    */
  def registerS3(bucket: String, accessKeyId: String = "",
      secretKey: String = "", endpointOverride: String = "",
      sessionToken: String = "", encryptionType: String = "",
      kmsKeyAmazonResourceName: String = ""): Unit = {
    val c = spark.sparkContext.hadoopConfiguration
    // per-bucket keys (S3A's documented `fs.s3a.bucket.<b>.<opt>` form,
    // honored by both the standard S3AFileSystem and the lite connector):
    // registering two buckets with different credentials must not have
    // the second call's keys apply to both — the reference's bc.s3 is
    // per-authority (context.py:1744)
    def set(opt: String, v: String): Unit =
      c.set(s"fs.s3a.bucket.$bucket.$opt", v)
    if (accessKeyId.nonEmpty) set("access.key", accessKeyId)
    if (secretKey.nonEmpty) set("secret.key", secretKey)
    if (sessionToken.nonEmpty) set("session.token", sessionToken)
    if (endpointOverride.nonEmpty) {
      set("endpoint", endpointOverride)
      // custom endpoints (mocks, MinIO, on-prem gateways) can't assume
      // the DNS wildcards virtual-host addressing needs
      set("path.style.access", "true")
    }
    encryptionType match {
      case "" => ()
      case "AES_256" =>
        set("server-side-encryption-algorithm", "AES256")
      case "AWS_KMS" =>
        set("server-side-encryption-algorithm", "SSE-KMS")
        if (kmsKeyAmazonResourceName.nonEmpty)
          set("server-side-encryption.key", kmsKeyAmazonResourceName)
      case other => throw new IllegalArgumentException(
        s"encryptionType must be AES_256 or AWS_KMS, got $other")
    }
    GraftContext.ensureFsImpl(c, "s3a",
      standard = "org.apache.hadoop.fs.s3a.S3AFileSystem",
      lite = classOf[graft.sources.S3LiteFileSystem].getName)
  }

  def registerHdfs(host: String, port: Int = 8020): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.defaultFS", s"hdfs://$host:$port")

  /** Install a WebHDFS delegation token for `host:port` into the
    * session's Hadoop credentials — the Kerberized-HDFS access pattern
    * (reference: HadoopFileSystem_p.cpp:50-63, tests/KrbHDFS/): a
    * kinit'd admin fetches the token once (`GETDELEGATIONTOKEN`), ships
    * the opaque (identifier, password) pair to the job, and every data
    * request then authenticates via the `delegation=` query parameter
    * instead of a per-request SPNEGO exchange. The Hadoop WebHdfs client
    * picks the token out of the UGI credentials by service + kind
    * automatically. `encoded` is the token's url-safe string form
    * (`Token.encodeToUrlString`, what the namenode JSON returns as
    * `urlString`). */
  def registerHdfsDelegationToken(host: String, port: Int,
      encoded: String): Unit = {
    val tok = new org.apache.hadoop.security.token.Token()
    tok.decodeFromUrlString(encoded)
    // the service must match how the CLIENT builds its lookup key —
    // SecurityUtil resolves host→IP unless
    // hadoop.security.token.service.use_ip=false, so a literal
    // "namenode.prod:9870" would silently never be selected
    tok.setService(org.apache.hadoop.security.SecurityUtil.buildTokenService(
      new java.net.InetSocketAddress(host, port)))
    org.apache.hadoop.security.UserGroupInformation.getCurrentUser
      .addToken(tok)
  }

  /** Register a GCS bucket (reference `bc.gs(...)`, context.py:1794-1827).
    * Two auth modes, like the reference: ADC service-account JSON
    * (`adcJsonFile` — the lite connector runs the OAuth 2.0 JWT-bearer
    * exchange itself at the keyfile's token_uri, sources/GcsAdc.scala) or
    * HMAC interop keys over the XML surface (`hmacKeyId`/`hmacSecret`).
    * With the real gcs-connector on the classpath the ADC file is passed
    * through untouched.
    */
  def registerGcs(projectId: String, adcJsonFile: String = "",
      hmacKeyId: String = "", hmacSecret: String = "",
      endpointOverride: String = "", bucketName: String = ""): Unit = {
    val c = spark.sparkContext.hadoopConfiguration
    // bucketName (reference bc.gs's bucket_name) scopes the credentials
    // per-bucket like registerS3; empty = session-global keys
    def set(opt: String, v: String): Unit =
      if (bucketName.nonEmpty) c.set(s"fs.gs.bucket.$bucketName.$opt", v)
      else c.set(s"fs.gs.$opt", v)
    c.set("fs.gs.project.id", projectId)
    if (adcJsonFile.nonEmpty) {
      c.set("fs.gs.auth.type", "SERVICE_ACCOUNT_JSON_KEYFILE")
      c.set("fs.gs.auth.service.account.json.keyfile", adcJsonFile)
    }
    if (hmacKeyId.nonEmpty) set("access.key", hmacKeyId)
    if (hmacSecret.nonEmpty) set("secret.key", hmacSecret)
    if (endpointOverride.nonEmpty) set("endpoint", endpointOverride)
    GraftContext.ensureFsImpl(c, "gs",
      standard = "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem",
      lite = classOf[graft.sources.GsLiteFileSystem].getName)
  }
}

object GraftContext {
  final case class TableEntry(name: String, df: DataFrame,
      path: Option[String], format: String)

  /** Pick the filesystem impl for `scheme`: an explicit custom
    * fs.<scheme>.impl wins; the standard connector wins when its class is
    * loadable; otherwise the lite built-in. The subtlety: Hadoop's
    * core-default.xml PRE-DEFINES fs.s3a.impl = S3AFileSystem even when
    * hadoop-aws is not on the classpath, so "unset" cannot be detected by
    * a null check — the rule is "configured class not loadable AND equal
    * to the standard name ⇒ substitute lite". A user-set custom impl that
    * fails to load is left alone to fail loudly.
    */
  private[graft] def ensureFsImpl(c: org.apache.hadoop.conf.Configuration,
      scheme: String, standard: String, lite: String): Unit = {
    def loadable(cn: String): Boolean =
      // initialize=false: don't run static init just to probe presence.
      // LinkageError covers the partially-present case (hadoop-aws jar
      // on the classpath but aws-sdk missing ⇒ NoClassDefFoundError at
      // resolution) — that must fall back to lite, not escape the probe.
      try { Class.forName(cn, false, getClass.getClassLoader); true }
      catch { case _: ClassNotFoundException | _: LinkageError => false }
    val configured = c.get(s"fs.$scheme.impl")
    if (configured == null)
      c.set(s"fs.$scheme.impl", if (loadable(standard)) standard else lite)
    else if (configured == standard && !loadable(standard))
      c.set(s"fs.$scheme.impl", lite)
  }

  /** A [[GraftContext.sqlToken]] result: schema and collected rows. */
  private type Result = (StructType, Array[Row])

  final case class LogRow(logId: Long, logTime: java.sql.Timestamp,
      rootOp: String, planHead: String, durationMs: Double,
      success: Boolean, error: String, metrics: String)

  /** Per-session query-log state: rows, id counter, memory peaks, and the
    * single listener feeding them. Weak session keys so sessions can GC.
    */
  final class LogState(spark: SparkSession) {
    // ring buffer, NOT an unbounded list: a long-running service appends a
    // row per query for the session's lifetime (log() queries included),
    // so the log must shed its oldest rows past the cap — the same
    // bounded-state discipline as the streaming TTL. Read per-append so
    // the cap can be retuned on a live session.
    def maxRows: Int = {
      val s = sparkRef.get()
      if (s == null) 10000 else s.conf.get("graft.log.maxRows", "10000").toInt
    }
    val rows = ArrayDeque.empty[LogRow]
    val nextLogId = new java.util.concurrent.atomic.AtomicLong(0L)
    val peakUsed = TrieMap.empty[String, Long]

    // weak: this object is a WeakHashMap VALUE keyed by the session — a
    // strong session field would pin the key and defeat the weak map
    private val sparkRef = new java.lang.ref.WeakReference(spark)

    def sampleMemory(): Unit = {
      val s = sparkRef.get()
      if (s != null) s.sparkContext.getExecutorMemoryStatus.foreach {
        case (exec, (maxMem, remaining)) =>
          val used = maxMem - remaining
          peakUsed.updateWith(exec) {
            case Some(prev) if prev >= used => Some(prev)
            case _ => Some(used)
          }
      }
    }

    spark.listenerManager.register(new QueryExecutionListener {
      private def append(qe: QueryExecution, durationNs: Long, err: Option[String]): Unit = {
        // observed metrics (Dataset.observe) — how operator-internal
        // telemetry like the LSH hot-bucket guard surfaces without an
        // extra job: e.g. lsh_bucket_guard_3={star_pairs:9999,...}
        val metrics =
          try qe.observedMetrics.map { case (name, row) =>
            val kv = row.schema.fieldNames.zip(row.toSeq)
              .map { case (f, v) => s"$f:$v" }.mkString(",")
            s"$name={$kv}"
          }.mkString("; ").take(1000)
          catch { case _: Throwable => "" }
        // a query that failed analysis rethrows that error from
        // optimizedPlan: root it at its parsed plan so the failure still
        // gets its row
        val rootOp =
          try qe.optimizedPlan.nodeName
          catch { case NonFatal(_) => qe.logical.nodeName }
        val row = LogRow(nextLogId.getAndIncrement(),
          new java.sql.Timestamp(System.currentTimeMillis()),
          rootOp,
          qe.logical.treeString.linesIterator.take(1).mkString.take(500),
          durationNs / 1e6, err.isEmpty, err.getOrElse(""), metrics)
        rows.synchronized {
          rows += row
          while (rows.size > maxRows) rows.removeHead()
        }
        sampleMemory()
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        append(qe, durationNs, None)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        append(qe, 0L, Some(String.valueOf(exception.getMessage).take(500)))
    })
  }

  private val logStates = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, LogState]())

  private[graft] def logStateFor(spark: SparkSession): LogState =
    logStates.synchronized {
      var st = logStates.get(spark)
      if (st == null) { st = new LogState(spark); logStates.put(spark, st) }
      st
    }

  /** The reference's validated create_table kwargs (context.py:890-940),
    * each mapped to its Spark disposition — the option-by-option parity
    * table SourcesSpec asserts exhaustively. Value syntax:
    *  - a bare name: translated to that `spark.read` csv option;
    *  - "handled: …": implemented by createTable logic or already
    *    Spark's default behavior (consumed, not forwarded);
    *  - "skipped: …": GPU-reader / dask-distribution internals whose
    *    role a Spark-native mechanism replaces — accepted and ignored;
    *  - "unsupported: …": no Spark equivalent — createTable THROWS with
    *    the reason (never a silent drop).
    */
  val csvKwargDispositions: Map[String, String] = Map(
    // pandas/cudf CSV parsing kwargs
    "delimiter" -> "sep",
    "lineterminator" -> "lineSep",
    "quotechar" -> "quote",
    "comment" -> "comment",
    "skipinitialspace" -> "ignoreLeadingWhiteSpace",
    "compression" -> "handled: Spark decompresses by file extension",
    "header" -> "header", // pandas row index → boolean (0 ⇒ true, None ⇒ false)
    "names" -> "handled: positional rename (with dtype: pinned schema)",
    "dtype" -> "handled: positional schema with names",
    "use_cols_indexes" -> "handled: post-read positional projection",
    "use_cols_names" -> "handled: post-read projection",
    "na_values" -> "nullValue",
    "skip_blank_lines" -> "handled: Spark csv always skips blank lines",
    "doublequote" -> "handled: Spark csv parses doubled quotes by default",
    "true_values" -> "handled: all-token string columns become BooleanType (one-aggregate convertibility check, cudf inference semantics)",
    "false_values" -> "handled: all-token string columns become BooleanType (one-aggregate convertibility check, cudf inference semantics)",
    "decimal" -> "handled: locale-separator numeric string columns convert to DoubleType post-read",
    "delim_whitespace" -> "handled: quote-aware whitespace-run split on the text path (fields re-joined with U+0001, parsed with that sep)",
    "skiprows" -> "handled: distributed physical-line preslice before parsing (counting pass + per-partition drop)",
    "skipfooter" -> "handled: distributed physical-line preslice (the counting pass's file total turns the tail drop into a per-partition bound)",
    "nrows" -> "handled: .limit(n) after the header (plans as LocalLimit over the scan)",
    "keep_default_na" -> "skipped: pandas NA-token list semantics; nullValue/nanValue cover the engine contract",
    "na_filter" -> "skipped: disabling NA parsing is a pandas micro-optimization; Spark's parser has no analogue",
    "quoting" -> "skipped: python csv-module enum; quote/escape options cover the engine contract",
    "byte_range_offset" -> "skipped: GPU-reader chunking internal; Spark input splits (files.maxPartitionBytes) replace it",
    "byte_range_size" -> "skipped: GPU-reader chunking internal; Spark input splits replace it",
    "max_bytes_chunk_read" -> "skipped: GPU-reader chunking internal; Spark input splits replace it",
    // non-CSV members of the same validated list
    "lines" -> "handled: Spark json is JSON-lines by default (multiLine=false)",
    "stripes" -> "skipped: ORC stripe selection is the reader's internal unit; predicate pushdown replaces it",
    "num_rows" -> "handled: .limit(n) after the header (plans as LocalLimit over the scan)",
    "use_index" -> "skipped: pandas index column concept; Spark tables have no index",
    "get_metadata" -> "skipped: rowgroup metadata collection is automatic in Spark's parquet scan",
    "local_files" -> "skipped: dask worker-locality hint; Spark locality scheduling replaces it",
    "file_format" -> "handled: the createTable format parameter",
    "partitions" -> "handled: hive-partitioned dirs via createTableFromCatalog / partition discovery",
    "partitions_schema" -> "handled: partition discovery infers partition column types",
    "hive_table_name" -> "handled: createTableFromCatalog",
    "hive_database_name" -> "handled: createTableFromCatalog",
    // SQL-engine arguments (the JDBC path: createTable(..., "jdbc", options))
    "from_sql" -> "handled: format=jdbc",
    "hostname" -> "handled: folded into the jdbc url option",
    "port" -> "handled: folded into the jdbc url option",
    "username" -> "user",
    "password" -> "password",
    "database" -> "handled: folded into the jdbc url option",
    "table_filter" -> "unsupported: filter tables at createTable granularity (one name per call)",
    "table_batch_size" -> "fetchsize")

  /** Translate a createTable options map through
    * [[csvKwargDispositions]]: reference kwargs become Spark csv
    * options, handled/skipped kwargs are consumed (createTable logic
    * reads them from the original map), unsupported kwargs throw, and
    * unknown keys pass through untouched (assumed native Spark options).
    */
  private[graft] def translateCsvKwargs(opts: Map[String, String]): Map[String, String] =
    opts.flatMap { case (k, v) =>
      csvKwargDispositions.get(k) match {
        case None => Some(k -> v) // native spark.read option
        case Some(d) if d.startsWith("unsupported:") =>
          throw new IllegalArgumentException(
            s"create_table kwarg '$k' is ${d}")
        case Some(d) if d.startsWith("handled:") || d.startsWith("skipped:") =>
          None
        case Some("header") => // pandas: header row INDEX (or None)
          val b = v.trim.toLowerCase match {
            case "none" | "-1" | "false" => "false"
            case _ => "true"
          }
          Some("header" -> b)
        case Some(sparkOpt) => Some(sparkOpt -> v)
      }
    }

  /** Reference config_options → Spark conf (see [[GraftContext.configure]]). */
  val configKeyMap: Map[String, String] = Map(
    "MAX_JOIN_SCATTER_MEM_OVERHEAD" -> "spark.sql.autoBroadcastJoinThreshold",
    "MAX_ORDER_BY_SAMPLES_PER_NODE" ->
      "spark.sql.execution.rangeExchange.sampleSizePerPartition",
    "MAX_DATA_LOAD_CONCAT_CACHE_BYTE_SIZE" -> "spark.sql.files.maxPartitionBytes",
    "TABLE_SCAN_KERNEL_NUM_THREADS" -> "spark.sql.files.minPartitionNum",
    "EXECUTOR_THREADS" -> "spark.sql.shuffle.partitions")

  private def inferFormat(path: String): String = {
    val p = path.toLowerCase
    if (p.endsWith(".parquet") || p.endsWith(".pq")) "parquet"
    else if (p.endsWith(".orc")) "orc"
    else if (p.endsWith(".csv")) "csv"
    else if (p.endsWith(".psv")) "psv"
    else if (p.endsWith(".json") || p.endsWith(".jsonl")) "json"
    else if (p.endsWith(".xml")) "xml"
    else if (p.endsWith(".txt")) "text"
    else if (p.endsWith(".sqlite") || p.endsWith(".sqlite3") ||
      p.endsWith(".db")) "sqlite"
    else if (p.endsWith(".avro")) "avro"
    else "parquet"
  }

  /** The engine's session: the ONE definition of its confs. Every entry
    * point builds from here — [[buildSession]], Bench, Verify, PlanDump,
    * the test suite and the `graft.tools` mains — so the session that is
    * oracle-checked is the one that is benched and the one that ships.
    * Callers add only what is theirs on top (Hive, an experiment's
    * override); shuffle partitions stay a caller argument because each
    * sizes them differently (Bench to the data, Verify to the cores).
    */
  def sessionBuilder(master: String,
      shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE: runtime re-planning ≈ the reference's row-estimate adaptive
      // kernels
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // also split skewed partitions when the join feeds a same-key
      // aggregate (the extra exchange it introduces is bounded by the
      // agg's output, while the straggler it removes is bounded by the
      // hot key's row count — at scale the straggler always costs more);
      // without this, OptimizeSkewedJoin silently declines exactly the
      // join→groupBy shape most pipeline queries have (join_skew_zipf)
      .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // skew detection sized to a 32-core box: the 256m default assumes
      // multi-GB executor shuffles; on 32 local cores a straggler
      // partition is painful well before that (join_skew_zipf's hot key
      // is ~100m compressed at sf10 — invisible to the default)
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m")
      // Runtime broadcast decisions follow the same 64 MB policy as
      // Relational.dim(): a FILTERED dimension (part LIKE '%PROMO%',
      // date-sliced orders) is invisible to file-stat sizing — the
      // static threshold stays at Spark's default — but AQE sees the
      // true post-shuffle bytes and can convert the join, sparing the
      // fact side a 600 M-row exchange (q8-class shapes at sf100).
      // 64 MB compressed ≈ what a 4 GB-executor cluster wants shipped.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle WRITER unification (r14, measured): with ≤200 reduce
      // partitions and no map-side aggregation Spark's sort-shuffle
      // takes the bypass-merge path — numPartitions OPEN FILES PER MAP
      // TASK, concatenated at the end. At 32-121 partitions that cost
      // ~8.5 ms/task in small file creates on a 32-core box
      // (OPTIMIZATION_r14.md, "Where exec goes"; join_full 0.56→0.35 s,
      // graph_pagerank's worst leg 19.4→2.8 s once forced off).
      // Threshold 0 forces the serialized
      // UnsafeShuffleWriter — one data+index file per map task — which
      // is EXACTLY the writer any >200-partition production shuffle
      // already uses. A core conf: it must be set before the context
      // starts, so only a builder can set it.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // Subset-key co-partitioning (r14): the KN3 scale path pins its
      // model pipeline to HashPartitioning(v) so five vocabulary-sized
      // exchanges collapse into one (guide §2.4) — but Spark's default
      // requireAllClusterKeysForCoPartition=true refuses to join two
      // children co-partitioned on a key SUBSET and re-exchanges both
      // on the full key set. false restores the subset behavior; the
      // co-partitioned sides pin their partition count to
      // spark.sql.shuffle.partitions, so join parallelism is unchanged.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // Generated-code class cache sized to the engine's working set.
      // Whole-stage codegen amortises its Janino compile only while
      // CodeGenerator's JVM-wide cache holds the class, and Spark keys
      // that cache by (thread context classloader, source): in local mode
      // the driver and the executor tasks each cache their own copy, and
      // Guava splits the default 100 entries into 4 segments of 25. Warm
      // 12 s benchmark windows (4 vCPUs) kept evicting and recompiling
      // classes they had already built: 67-127 compiles in every
      // 3-client short-SQL window, 50-120 in half the curation windows
      // (the other half fit by hashing luck); the 199-query sf0.01 Bench
      // battery compiled 4 043 times. 4096 entries (1 024 per segment)
      // hold the whole registry: 0 compiles in every warm window, 2 597
      // over the battery, metaspace at its end 206 MB against 188 MB.
      // A static conf, read ONCE per JVM when CodeGenerator is first
      // used: a JVM whose first session was built elsewhere keeps
      // Spark's 100.
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** [[sessionBuilder]] plus the environment hooks the mains share (never
    * [[buildSession]], which reads no environment):
    *   - a `local-cluster[...]` master runs executor JVMs that do not
    *     inherit this classpath, so ship it, with SPARK_GRAFT_EXECUTOR_MEM
    *     as their heap (default 1g; the worker memory in the master
    *     string is a capacity, not the heap);
    *   - with `confOverrides`, SPARK_GRAFT_CONF=k=v;k=v sets extra confs
    *     for local A/B probes (e.g. forcing a size-gated scale path on a
    *     tiny fixture). Verify passes false: the oracle-checked session
    *     is always the engine's.
    */
  def envSessionBuilder(master: String, shufflePartitions: Int,
      confOverrides: Boolean = true): SparkSession.Builder = {
    val builder = sessionBuilder(master, shufflePartitions)
    if (master.startsWith("local-cluster"))
      builder.config("spark.executor.extraClassPath",
          sys.props("java.class.path"))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "1g"))
    if (confOverrides)
      parseConfs(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
        .foreach { case (k, v) => builder.config(k, v) }
    builder
  }

  /** `k=v;k=v` → conf pairs. Entries with no `=`, an empty key or an
    * empty value are skipped (an empty key would crash the builder);
    * the value is everything after the FIRST `=`. */
  private[graft] def parseConfs(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.flatMap { kv =>
      val i = kv.indexOf('=')
      val (k, v) = (kv.take(i).trim, kv.drop(i + 1).trim)
      if (i > 0 && k.nonEmpty && v.nonEmpty) Some(k -> v) else None
    }

  /** The engine session ([[sessionBuilder]]) built for in-process use.
    * `hive = true` backs the catalog with a Hive metastore
    * (`enableHiveSupport`) so existing warehouse tables — schema AND
    * partitions — resolve by name, like the reference's
    * `create_table(name, hive_cursor)` (hive.py:96-294).
    */
  def buildSession(master: String = "local[32]",
      shufflePartitions: Int = 32, hive: Boolean = false): SparkSession = {
    val builder = sessionBuilder(master, shufflePartitions)
    val spark = (if (hive) builder.enableHiveSupport() else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def apply(spark: SparkSession): GraftContext = new GraftContext(spark)
  def local(): GraftContext = new GraftContext(buildSession())
}
