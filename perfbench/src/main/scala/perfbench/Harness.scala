package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import graft.{GraftContext, SparkEntry}

/** One benchmark run in a fresh JVM, driving the engine only through its
  * public surface: `GraftContext.buildSession`, `createTable`, `sqlToken`
  * / `fetch`, `writeSharded`, and the `SparkEntry.queries` registry.
  *
  * Phases: set-up (session build + table creation, timed from JVM start;
  * with `setup_only=1` the JVM stops here); `warmup_passes` passes over
  * every operation (the first also writes each operation's result for the
  * oracle check; in `tokens` mode a pass spreads over the clients); then
  * the timed window. Raw samples go to the `out` JSON file; `run.py` turns
  * them into metrics.
  *
  * Arguments are `key=value`: workload mode (`chain`, `tokens`), data,
  * out, check, work, ops (a file of `name<TAB>sql` lines; empty sql =
  * registry query), tables, seconds, seed, trace, setup_only, master,
  * clients, warmup_threads, clk_tck, warmup_passes.
  */
object Harness {
  final case class Op(name: String, sql: String)
  final case class Sample(op: String, pass: Int, client: Int, startS: Double,
      latS: Double, constructS: Double, rows: Long, digest: String, error: String)
  final case class Result(rows: Array[Row], df: DataFrame, constructS: Double)

  @volatile private var tracer: Option[Tracer] = None

  def nowS(): Double = System.nanoTime() / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val data = a("data")
    val out = new Json.Obj

    // ---- set-up: JVM start -> session built and every table created ----
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val ctx = GraftContext(GraftContext.buildSession(master = a("master")))
    val c0 = nowS()
    a("tables").split(",").foreach(t => ctx.createTable(t, s"$data/$t.parquet"))
    out("setup_s") = System.currentTimeMillis() / 1e3 - jvmStartMs / 1e3
    out("create_table_s") = nowS() - c0
    if (a("setup_only") == "1") {
      Files.write(Paths.get(a("out")), out.render.getBytes(UTF_8))
      ctx.spark.stop()
      return
    }

    val mode = a("mode")
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val clients = a("clients").toInt
    val ops = Files.readAllLines(Paths.get(a("ops")), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l => val i = l.indexOf('\t'); Op(l.take(i), l.drop(i + 1)) }
    val spark = ctx.spark
    if (a("trace") == "1") tracer = Some(new Tracer(spark))
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    out("oracle") = ops.filter(_ => mode != "tokens").flatMap(op => oracle.get(op.name).map(op.name -> _)).toMap
    val checkDir = a("check")
    val work = a("work")

    // ---- one operation ------------------------------------------------
    // jobs fired while a registry query builds its DataFrame carry a tag
    // in traced runs, so they count as construct-time jobs
    def constructing[T](body: => T): T =
      if (tracer.isEmpty) body else Tracer.tagged(spark, Tracer.ConstructTag)(body)
    def registry(op: Op): Result = {
      val c0 = nowS()
      val df = span("queries.construct") {
        constructing { queries(op.name)(spark, data) }
      }
      val c1 = nowS()
      val rows = span("ctx.collect") { df.collect() }
      graft.operators.Dedup.releaseCaches()
      Result(rows, df, c1 - c0)
    }
    // chain mode: the stage named `write:<stage>` writes that stage's
    // output through ctx.writeSharded and reads the shards back
    def writeStage(op: Op): Result = {
      val c0 = nowS()
      val df = span("queries.construct") {
        constructing { queries(op.sql)(spark, data) }
      }
      val c1 = nowS()
      val path = s"$work/shards"
      span("ctx.writeSharded") { ctx.writeSharded(df, path, maxRecordsPerFile = 2000L) }
      graft.operators.Dedup.releaseCaches()
      val back = spark.read.parquet(path)
      val rows = span("ctx.readback") { back.collect() }
      Result(rows, back, c1 - c0)
    }
    def token(op: Op): Result = {
      val tok = span("ctx.sqlToken") { ctx.sqlToken(op.sql) }
      val (df, rows) = span("ctx.fetch") { val df = ctx.fetch(tok); (df, df.collect()) }
      Result(rows, df, 0.0)
    }
    // traced: a root span per operation instance, and a job tag carrying
    // that span's id, so every Spark job is attributed to the one
    // operation instance that fired it (clients can run the same op at once)
    def run(op: Op): Result = tracer.fold(exec(op)) { t =>
      t.span("op", op.name) { Tracer.tagged(spark, s"${Tracer.OpTag}${t.currentId}")(exec(op)) }
    }
    def exec(op: Op): Result =
      if (mode == "tokens") token(op)
      else if (op.name.startsWith("write:")) writeStage(op)
      else registry(op)

    val samples = ArrayBuffer[Sample]()
    def timed(op: Op, pass: Int, client: Int): (Sample, Option[Result]) = {
      val t0 = nowS()
      try {
        val r = run(op)
        val t1 = nowS()
        (Sample(op.name, pass, client, t0, t1 - t0, r.constructS, r.rows.length.toLong,
          Digest.of(r.rows), ""), Some(r))
      } catch {
        case e: Throwable =>
          graft.operators.Dedup.releaseCaches()
          (Sample(op.name, pass, client, t0, nowS() - t0, 0.0, 0L, "",
            s"${e.getClass.getName}: ${e.getMessage}"), None)
      }
    }

    // ---- warm-up: a fixed number of passes (pass 0 is the check pass) ---
    // A fixed count, not "until pass time stops falling": an adaptive count
    // made the window start at different points of JIT warm-up from run to
    // run, which was the largest source of run-to-run spread.
    val warm = ArrayBuffer[Double]()
    val warmSamples = ArrayBuffer[Sample]()
    val w0 = nowS()
    for (pass <- 0 until a("warmup_passes").toInt) {
      val p0 = nowS()
      // warm-up passes run their operations on several threads: warm-up
      // is dominated by single-threaded JIT and code generation, so this
      // reaches a warm JVM in less wall time
      warmSamples ++= inParallel(ops, a("warmup_threads").toInt) { op =>
        val (s, r) = timed(op, -1 - pass, 0)
        if (pass == 0) r.foreach { res =>
          res.df.sparkSession.createDataFrame(res.rows.toSeq.asJava, res.df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/${Check.fileName(op.name)}")
        }
        s
      }
      warm += nowS() - p0
    }
    out("warmup_pass_s") = warm.toSeq
    out("warmup_s") = nowS() - w0

    // ---- timed window -------------------------------------------------
    tracer.foreach(_.quiesce())
    tracer.foreach(_.start())
    val cpu0 = Proc.cpuTicks()
    val start = nowS()
    val deadline = start + seconds
    val chains = ArrayBuffer[Double]()
    if (mode == "tokens") {
      val workers = (0 until clients).map { c =>
        val t = new Thread(() => {
          val rng = new java.util.Random(seed * 1000003L + c)
          while (nowS() < deadline) {
            val s = timed(ops(rng.nextInt(ops.size)), 0, c)._1
            samples.synchronized { samples += s }
          }
        }, s"perfbench-client-$c")
        t.start(); t
      }
      workers.foreach(_.join())
    } else {
      // whole passes until the deadline, so every operation is sampled
      // equally often and throughput does not depend on where a pass was cut
      var pass = 0
      while (nowS() < deadline) {
        val c0 = nowS()
        samples ++= ops.map(op => timed(op, pass, 0)._1)
        chains += nowS() - c0
        pass += 1
      }
    }
    val end = nowS()
    val cpu1 = Proc.cpuTicks()
    tracer.foreach(_.stop())
    out("window_s") = end - start
    out("pass_s") = chains.toSeq
    out("cpu_s") = (cpu1 - cpu0).toDouble / a("clk_tck").toDouble
    out("samples") = samples.toSeq.map(sampleJson)
    out("warm_samples") = warmSamples.toSeq.map(sampleJson)

    // ---- traced diagnostics ------------------------------------------
    tracer.foreach { t =>
      out("trace") = t.summary()
      out("jobs") = t.jobList()
      // every operation already called Dedup.releaseCaches(); whatever is
      // still cached now is held past the release path
      out("cached_bytes_after_release") =
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble
      val writeDir = new java.io.File(s"$work/shards")
      val files = Option(writeDir.listFiles()).toSeq.flatten
        .filter(f => f.getName.endsWith(".parquet"))
      out("write_files") = files.size.toDouble
      out("write_bytes") = files.map(_.length).sum.toDouble
      Files.write(Paths.get(s"$work/spans.jsonl"), t.spansJsonl().getBytes(UTF_8))
    }
    out("jvm") = Proc.jvmStats()
    out("jvm_s") = System.currentTimeMillis() / 1e3 - jvmStartMs / 1e3
    Files.write(Paths.get(a("out")), out.render.getBytes(UTF_8))
    spark.stop()
  }

  /** Map `f` over `xs` with `n` threads (in order when n = 1). */
  private def inParallel[A, B](xs: Seq[A], n: Int)(f: A => B): Seq[B] =
    if (n <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try xs.map(x => pool.submit(() => f(x))).map(_.get())
      finally pool.shutdown()
    }

  private def sampleJson(s: Sample): Json.Obj = {
    val o = new Json.Obj
    o("op") = s.op; o("pass") = s.pass.toDouble; o("client") = s.client.toDouble
    o("start_s") = s.startS; o("lat_s") = s.latS; o("construct_s") = s.constructS
    o("rows") = s.rows.toDouble; o("digest") = s.digest; o("error") = s.error
    o
  }

  /** Times `body` as a span when tracing; a plain call otherwise. */
  def span[T](name: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) => t.span(name)(body)
  }
}
