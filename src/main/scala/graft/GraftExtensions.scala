package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.Shims
import graft.{functions => f}

/** SparkSessionExtensions entry point — the idiomatic injection path for
  * the custom expressions, so any session (including spark-sql / thrift /
  * connect sessions we don't construct ourselves) picks them up via
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * The function list is defined once, in the companion's
  * [[GraftExtensions.functions]]: this class injects it, and
  * `graft.functions.registerSql(spark)` registers whatever of it an
  * already-built session lacks. This is the config-driven variant the
  * reference exposes through engine startup flags
  * (/root/reference pyblazing context.py:1291 BlazingContext config).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Spark's row_number WindowGroupLimit runs as bounded heaps
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // a sort over a one-partition input skips the range-sampling job
    ext.injectQueryStagePrepRule(_ => graft.plans.OnePartitionRangeSort)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** The arguments of one call to the SQL function `fn`. */
  private final class Args(fn: String, cols: Seq[Column]) {
    def apply(i: Int): Column = cols(i)
    /** The optional integer-literal argument `arg` at position `i`, or
      * `default` when the call is shorter. */
    def long(i: Int, arg: String, default: Long = 0L): Long =
      if (cols.size <= i) default
      else Shims.expression(cols(i)) match {
        case Literal(v: Int, _)   => v.toLong
        case Literal(v: Long, _)  => v
        case Literal(v: Short, _) => v.toLong
        case Literal(v: Byte, _)  => v.toLong
        case other => throw new IllegalArgumentException(
          s"$fn: argument '$arg' must be an integer literal, got $other")
      }
    def int(i: Int, arg: String, default: Int = 0): Int = long(i, arg, default).toInt
  }

  /** The SQL function `name`, taking `min` to `max` arguments, built by
    * its Column twin in [[graft.functions]]. */
  private def fn(name: String, min: Int, max: Int)(build: Args => Column) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[graft.functions.Kernel].getName, name),
      (e: Seq[Expression]) => {
        if (e.size < min || e.size > max)
          throw new IllegalArgumentException(
            s"$name expects $min..$max arguments, got ${e.size}")
        Shims.expression(build(new Args(name, e.map(Shims.column))))
      })

  /** Every SQL-surface function: name, info and a builder that validates
    * arity and reads optional integer parameters from foldable literals
    * (silent defaulting on extra args would return wrong signatures). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("cosine_similarity", 2, 2)(a => f.cosine_similarity(a(0), a(1))),
    fn("minhash_signature", 1, 3)(a =>
      f.minhash_signature(a(0), a.int(1, "k", 128), a.long(2, "seed", 42L))),
    fn("minhash_text", 1, 4)(a => f.minhash_text(a(0), a.int(1, "n", 3),
      a.int(2, "k", 128), a.long(3, "seed", 42L))),
    fn("winnow_fps", 1, 3)(a => f.winnow_fps(a(0), a.int(1, "k", 5), a.int(2, "w", 4))),
    fn("sig_eq_count", 2, 2)(a => f.sig_eq_count(a(0), a(1))),
    // sketch double-hash family: (key, m, k) / (bits, key, m, k) /
    // (cms, key, w, d) / (cells, bits)
    fn("bloom_positions", 3, 3)(a => f.bloom_positions(a(0), a.int(1, "m"), a.int(2, "k"))),
    fn("bloom_contains", 4, 4)(a =>
      f.bloom_contains(a(0), a(1), a.int(2, "m"), a.int(3, "k"))),
    fn("cms_estimate", 4, 4)(a => f.cms_estimate(a(0), a(1), a.int(2, "w"), a.int(3, "d"))),
    fn("morton_interleave", 2, 2)(a => f.morton_interleave(a(0), a.int(1, "bits")))
  ) ++
    // one-argument kernels, SQL-callable like their Column twins
    Seq[(String, Column => Column)](
      ("simhash64", f.simhash64),
      ("normalize_text", f.normalize_text),
      ("nfc_normalize", f.nfc_normalize),
      ("lang_id", f.lang_id),
      ("char_entropy", f.char_entropy),
      ("quality_stats", f.quality_stats),
      ("gopher_stats", f.gopher_stats),
      ("read_counts", f.read_counts),
      ("rep_stats", f.rep_stats),
      ("replay_simhash", f.replay_simhash)
    ).map { case (name, mk) => fn(name, 1, 1)(a => mk(a(0))) } ++
    // text + integer-literal gram/window params
    Seq[(String, (Column, Int) => Column, Int)](
      ("gram_md5s", f.gram_md5s, 10),
      ("gram_buckets", f.gram_buckets, 2),
      ("replay_minhash", f.replay_minhash, 3)
    ).map { case (name, mk, dflt) => fn(name, 1, 2)(a => mk(a(0), a.int(1, "n", dflt))) }
}
