package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{BloomContainsExpr, BloomPositionsExpr, CharEntropyExpr, CmsEstimateExpr, CosineSimilarity, GopherStatsExpr, GramBucketsExpr, GramMd5sExpr, LangIdExpr, MinHashSignature, MinHashText, MortonInterleaveExpr, NfcNormalize, NormalizeText, QualityStatsExpr, ReadCountsExpr, RepStatsExpr, ReplayMinhashExpr, ReplaySimhashExpr, SigEqCount, SimHash64, WinnowFpsExpr}

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
    // custom whole-operator plans (LogicalPlan + SparkPlan pairs) and the
    // optimizer rewrite that recognizes the row_number top-k idiom
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RowNumberTopKRewrite)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  private def litNum(e: Expression, fn: String, arg: String): Long = e match {
    case Literal(v: Int, _)   => v.toLong
    case Literal(v: Long, _)  => v
    case Literal(v: Short, _) => v.toLong
    case Literal(v: Byte, _)  => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn: argument '$arg' must be an integer literal, got $other")
  }
  private def arity(fn: String, exprs: Seq[Expression], min: Int, max: Int): Unit =
    if (exprs.size < min || exprs.size > max)
      throw new IllegalArgumentException(
        s"$fn expects $min..$max arguments, got ${exprs.size}")

  private def fn(name: String, cls: Class[_])(build: Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Every SQL-surface function: name, info and a builder that validates
    * arity and reads optional integer parameters from foldable literals
    * (silent defaulting on extra args would return wrong signatures). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("cosine_similarity", classOf[CosineSimilarity]) { e =>
      arity("cosine_similarity", e, 2, 2)
      CosineSimilarity(e(0), e(1))
    },
    fn("minhash_signature", classOf[MinHashSignature]) { e =>
      arity("minhash_signature", e, 1, 3)
      val k = if (e.size >= 2) litNum(e(1), "minhash_signature", "k").toInt else 128
      val seed = if (e.size >= 3) litNum(e(2), "minhash_signature", "seed") else 42L
      MinHashSignature(e(0), k, seed)
    },
    fn("minhash_text", classOf[MinHashText]) { e =>
      arity("minhash_text", e, 1, 4)
      val n = if (e.size >= 2) litNum(e(1), "minhash_text", "n").toInt else 3
      val k = if (e.size >= 3) litNum(e(2), "minhash_text", "k").toInt else 128
      val seed = if (e.size >= 4) litNum(e(3), "minhash_text", "seed") else 42L
      MinHashText(e(0), n, k, seed)
    },
    fn("winnow_fps", classOf[WinnowFpsExpr]) { e =>
      arity("winnow_fps", e, 1, 3)
      val k = if (e.size >= 2) litNum(e(1), "winnow_fps", "k").toInt else 5
      val w = if (e.size >= 3) litNum(e(2), "winnow_fps", "w").toInt else 4
      WinnowFpsExpr(e(0), k, w)
    },
    fn("sig_eq_count", classOf[SigEqCount]) { e =>
      arity("sig_eq_count", e, 2, 2)
      SigEqCount(e(0), e(1))
    },
    // sketch double-hash family: (key, m, k) / (bits, key, m, k) /
    // (cms, key, w, d) / (cells, bits)
    fn("bloom_positions", classOf[BloomPositionsExpr]) { e =>
      arity("bloom_positions", e, 3, 3)
      BloomPositionsExpr(e(0), litNum(e(1), "bloom_positions", "m").toInt,
        litNum(e(2), "bloom_positions", "k").toInt)
    },
    fn("bloom_contains", classOf[BloomContainsExpr]) { e =>
      arity("bloom_contains", e, 4, 4)
      BloomContainsExpr(e(0), e(1), litNum(e(2), "bloom_contains", "m").toInt,
        litNum(e(3), "bloom_contains", "k").toInt)
    },
    fn("cms_estimate", classOf[CmsEstimateExpr]) { e =>
      arity("cms_estimate", e, 4, 4)
      CmsEstimateExpr(e(0), e(1), litNum(e(2), "cms_estimate", "w").toInt,
        litNum(e(3), "cms_estimate", "d").toInt)
    },
    fn("morton_interleave", classOf[MortonInterleaveExpr]) { e =>
      arity("morton_interleave", e, 2, 2)
      MortonInterleaveExpr(e(0), litNum(e(1), "morton_interleave", "bits").toInt)
    }
  ) ++
    // one-argument kernels, SQL-callable like their Column twins
    Seq[(String, Class[_], Expression => Expression)](
      ("simhash64", classOf[SimHash64], SimHash64(_)),
      ("normalize_text", classOf[NormalizeText], NormalizeText(_)),
      ("nfc_normalize", classOf[NfcNormalize], NfcNormalize(_)),
      ("lang_id", classOf[LangIdExpr], LangIdExpr(_)),
      ("char_entropy", classOf[CharEntropyExpr], CharEntropyExpr(_)),
      ("quality_stats", classOf[QualityStatsExpr], QualityStatsExpr(_)),
      ("gopher_stats", classOf[GopherStatsExpr], GopherStatsExpr(_)),
      ("read_counts", classOf[ReadCountsExpr], ReadCountsExpr(_)),
      ("rep_stats", classOf[RepStatsExpr], RepStatsExpr(_)),
      ("replay_simhash", classOf[ReplaySimhashExpr], ReplaySimhashExpr(_))
    ).map { case (name, cls, mk) =>
      fn(name, cls) { e => arity(name, e, 1, 1); mk(e(0)) }
    } ++
    // text + integer-literal gram/window params
    Seq[(String, Class[_], (Expression, Int) => Expression, Int)](
      ("gram_md5s", classOf[GramMd5sExpr], GramMd5sExpr(_, _), 10),
      ("gram_buckets", classOf[GramBucketsExpr], GramBucketsExpr(_, _), 2),
      ("replay_minhash", classOf[ReplayMinhashExpr], ReplayMinhashExpr(_, _), 3)
    ).map { case (name, cls, mk, dflt) =>
      fn(name, cls) { e =>
        arity(name, e, 1, 2)
        mk(e(0), if (e.size >= 2) litNum(e(1), name, "n").toInt else dflt)
      }
    }
}
