package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality audit — the Deequ/Great-Expectations shape a
  * production ingest pipeline runs before a table is allowed into
  * training: each constraint reduces to one metric in [0, 1] plus a
  * pass/fail against its threshold, and the whole audit returns as ONE
  * small DataFrame (rule, col_name, metric, threshold, passed).
  *
  * Scale shape: every row-local rule (completeness / in-range /
  * accepted-values) folds into a SINGLE aggregation pass over the fact
  * table — one scan, one partial→final agg, no matter how many such
  * rules are declared. Uniqueness needs its own keyed agg (a shuffle on
  * the audited key is irreducible — the metric is a property of the
  * key's global multiplicity), and referential integrity is one
  * left-anti join against the distinct dimension keys (broadcast when
  * the dimension is small, which is the normal FK case). Metrics are
  * ratios of exact integer counts, so an independent engine replays
  * them bit-for-bit; only the final division is rounded (6).
  *
  * Reference parity note: the reference has no validation surface —
  * this is part of the beyond-parity training-pipeline family (like
  * the Gopher/C4 quality gates it feeds).
  */
object Validation {

  /** One declarative constraint; `metric` is the fraction of rows (or
    * keys) satisfying it, `threshold` the minimum passing fraction. */
  sealed trait Rule {
    def rule: String
    def column: String
    def threshold: Double
  }

  /** Fraction of rows where `column` is non-null. */
  final case class Completeness(column: String, threshold: Double = 1.0)
      extends Rule { val rule = "completeness" }

  /** Fraction of rows whose `column` value occurs exactly once in the
    * whole table (Deequ's uniqueness: duplicated values count 0). */
  final case class Uniqueness(column: String, threshold: Double = 1.0)
      extends Rule { val rule = "uniqueness" }

  /** Fraction of rows with `lo <= column <= hi` (nulls fail). */
  final case class InRange(column: String, lo: Double, hi: Double,
      threshold: Double = 1.0) extends Rule { val rule = "in_range" }

  /** Fraction of rows whose value is one of `values` (nulls fail). */
  final case class AcceptedValues(column: String, values: Seq[String],
      threshold: Double = 1.0) extends Rule { val rule = "accepted_values" }

  /** Fraction of rows whose `column` value exists in `dimCol` of `dim`
    * (referential integrity; nulls fail). */
  final case class ReferencedIn(column: String, dim: DataFrame,
      dimCol: String, threshold: Double = 1.0) extends Rule {
    val rule = "referenced_in"
  }

  private[graft] def rowLocalIndicator(df: DataFrame, r: Rule): Option[Column] =
    r match {
      case Completeness(c, _) =>
        Some(when(col(c).isNotNull, 1.0).otherwise(0.0))
      case InRange(c, lo, hi, _) =>
        Some(when(col(c).cast("double").between(lo, hi), 1.0).otherwise(0.0))
      case AcceptedValues(c, vs, _) =>
        Some(when(col(c).cast("string").isin(vs: _*), 1.0).otherwise(0.0))
      case _ => None
    }

  private def resultRow(r: Rule, metric: Column): Column =
    struct(lit(r.rule).as("rule"), lit(r.column).as("col_name"),
      round(metric, 6).as("metric"), lit(r.threshold).as("threshold"),
      (round(metric, 6) >= lit(r.threshold)).as("passed"))

  /** Evaluate `rules` against `df`; returns one row per rule with
    * columns (rule, col_name, metric, threshold, passed), ordered by
    * (rule, col_name). */
  def audit(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "audit needs at least one rule")
    // all row-local rules share ONE aggregation pass: each contributes
    // an avg-of-indicator column, the struct array explodes back to rows
    val rowLocal = rules.flatMap(r => rowLocalIndicator(df, r).map(r -> _))
    val rowLocalDf: Option[DataFrame] =
      if (rowLocal.isEmpty) None
      else Some(df
        .agg(count(lit(1)).as("_n"),
          rowLocal.zipWithIndex.map { case ((_, ind), i) =>
            sum(ind).as(s"_s$i") }: _*)
        .select(explode(array(rowLocal.zipWithIndex.map { case ((r, _), i) =>
          resultRow(r, when(col("_n") > 0, col(s"_s$i") / col("_n"))
            .otherwise(lit(0.0)))
        }: _*)).as("r"))
        .select(col("r.*")))

    val keyed: Seq[DataFrame] = rules.collect {
      case r @ Uniqueness(c, _) =>
        // metric = |{v : count(v) = 1}| / rows — both counts exact ints.
        // NULL keys group together like any value (a duplicated NULL is
        // still a duplicate).
        df.groupBy(col(c)).agg(count(lit(1)).as("_c"))
          .agg(sum(when(col("_c") === 1, 1L).otherwise(0L)).as("_u"),
            sum(col("_c")).as("_n"))
          .select(resultRow(r,
            when(col("_n") > 0, col("_u").cast("double") / col("_n"))
              .otherwise(lit(0.0))).as("r"))
          .select(col("r.*"))
      case r @ ReferencedIn(c, dim, dc, _) =>
        // one left-anti join against distinct dim keys (broadcast-sized
        // in the FK-into-dimension case this models); metric =
        // 1 − missing/rows. Null FKs are unmatched by definition.
        val keys = dim.select(col(dc).as(c)).distinct()
        val total = df.select(count(lit(1)).as("_n"))
        val missing = df.select(col(c)).join(keys, Seq(c), "left_anti")
          .agg(count(lit(1)).as("_m"))
        total.crossJoin(missing)
          .select(resultRow(r,
            when(col("_n") > 0,
              lit(1.0) - col("_m").cast("double") / col("_n"))
              .otherwise(lit(0.0))).as("r"))
          .select(col("r.*"))
    }

    (rowLocalDf.toSeq ++ keyed)
      .reduce(_.unionAll(_))
      .orderBy(col("rule"), col("col_name"))
  }

  /** Per-column numeric profile — the one-pass table summary a pipeline
    * records next to each snapshot (count/nulls/distincts/min/max/mean).
    * Columns are stacked map-side into (col_name, v) pairs, then ONE
    * hash aggregation computes every stat: the scan runs once however
    * many columns are profiled, and only `columns.length` rows come
    * back. count/nulls/n_distinct/min/max are exact; the mean routes
    * through a DECIMAL(30,6) sum — decimal addition is exact integer
    * arithmetic, so partial-agg ORDER cannot move the result (a plain
    * double avg flipped the 6th decimal between engines at sf0.01),
    * and the final decimal→double→÷n steps are deterministic.
    */
  def profileNumeric(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profileNumeric needs at least one column")
    // widen first (r14): the stack explode multiplies rows by the
    // column count and the distinct-aggregate machinery chews the
    // result — all of it confined to the byte-sized scan's 1-3
    // partitions at fixture scale (guide §2.5). Exact aggregates
    // (count/min/max/decimal-sum/count-distinct) are partition-layout-
    // independent, so results are unchanged. No-op at corpus scale.
    Par.ensure(df).select(explode(array(columns.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("double").as("v"))): _*))
        .as("s"))
      .select(col("s.col_name").as("col_name"), col("s.v").as("v"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_nulls"),
        count_distinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        (sum(col("v").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double") / count(col("v"))).as("avg_v"))
      .orderBy(col("col_name"))
  }

  /** Top-k frequent values per categorical column — the other half of a
    * table profile (skew in a categorical is what decides salting and
    * partition keys downstream). Same one-scan stack as
    * [[profileNumeric]]; the only shuffle is the (col_name, value)
    * count, after which the ranking window runs on the distinct-value
    * table (cardinality of the columns, not of the data). `share` is a
    * division of two exact counts — deterministic in IEEE double, no
    * rounding needed.
    */
  def profileFrequent(df: DataFrame, columns: Seq[String],
      k: Int = 5): DataFrame = {
    require(columns.nonEmpty, "profileFrequent needs at least one column")
    import org.apache.spark.sql.expressions.Window
    val stacked = df.select(explode(array(columns.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("value"))): _*))
        .as("s"))
      .select(col("s.col_name").as("col_name"), col("s.value").as("value"))
    val counts = stacked.groupBy(col("col_name"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    val byCol = Window.partitionBy(col("col_name"))
    counts
      .withColumn("total", sum(col("cnt")).over(byCol))
      // null-category ties: Spark's bare ASC would put NULL FIRST while
      // DuckDB's default puts it LAST — pin NULLS LAST explicitly so a
      // NULL value never displaces a real category from the top-k and
      // both engines rank identically
      .withColumn("rn", row_number().over(
        byCol.orderBy(col("cnt").desc, col("value").asc_nulls_last)))
      .filter(col("rn") <= k)
      .select(col("col_name"), col("value"), col("cnt"),
        (col("cnt").cast("double") / col("total")).as("share"), col("rn"))
      .orderBy(col("col_name"), col("rn"))
  }
}
