package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.normalize_text

/** Corpus snapshot diff — the bookkeeping step of every incremental
  * pipeline: given two versions of a document table, classify each id
  * as added / removed / changed / unchanged so downstream stages
  * (dedup index refresh, re-embedding, re-tokenization) touch only the
  * delta instead of reprocessing the corpus.
  *
  * Scale shape: both sides reduce to (id, fp) — the md5 of the
  * normalized text, never the text itself — before the single id-keyed
  * full-outer join; the wide text column is pruned at the scan. Output
  * is (id, status), joinable back to either snapshot to materialize
  * just the changed slice.
  */
object Snapshot {

  private def fps(df: DataFrame, idCol: String, textCol: String) =
    df.select(col(idCol),
      md5(coalesce(normalize_text(col(textCol)), lit(""))).as("fp"))

  /** Per-id diff: (idCol, status) with status in
    * {added, removed, changed, unchanged}. `added` = only in `newer`,
    * `removed` = only in `older`; a null text and an empty text carry
    * the same fingerprint (both normalize to ""), which is the
    * tolerant-of-nulls contract the exact-dedup family uses.
    */
  def diff(older: DataFrame, newer: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val o = fps(older, idCol, textCol).withColumnRenamed("fp", "fp_old")
    val n = fps(newer, idCol, textCol).withColumnRenamed("fp", "fp_new")
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Status histogram — the one-line health check an orchestrator gates
    * on (e.g. abort the refresh when `removed` spikes). */
  def diffSummary(older: DataFrame, newer: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    diff(older, newer, idCol, textCol)
      .groupBy(col("status")).agg(count(lit(1)).as("n"))

  /** Apply a CDC changeset to a base corpus — the write side of the
    * incremental loop [[diff]] reads. `changes` carries `idCol`, an op
    * column (`upsert` replaces-or-inserts the row, `delete` removes it),
    * optionally a sequence column, and every base column an upsert needs.
    *
    * Scale shape: the changeset of one ingestion increment is orders of
    * magnitude smaller than the accumulated corpus, so the base side
    * NEVER shuffles — the (id, op) projection of the changeset broadcasts
    * and survivors filter map-side (a broadcast anti-join); upserted rows
    * union in behind it. Only the changeset itself is ever exchanged
    * (once, keyed by id, when `seqCol` collapses multi-version ids).
    * Plan-asserted in SnapshotSpec: no Exchange on the base side. Set
    * `broadcastChanges = false` for a rare corpus-scale changeset; the
    * same plan then runs as a shuffled anti-join.
    *
    * Multiple change rows per id require `seqCol`: the highest sequence
    * wins (ties broken by op then the payload fingerprint, so the winner
    * is deterministic even on malformed input). Without `seqCol`, a
    * duplicated id in `changes` is a caller bug and the apply FAILS
    * rather than picking an arbitrary winner.
    *
    * EAGER by default: `validate = true` runs the op-domain and (when
    * seqCol is absent) duplicate-id checks as driver jobs AT CALL TIME —
    * the full changeset pipeline executes — and registers a persisted
    * cache on the collapsed changeset (released via the harness's
    * `Dedup.releaseCaches`, or by the caller). Callers that only compose
    * plans pass `validate = false`: no job runs and nothing is cached;
    * the op-domain guard then rides IN the plan (`raise_error` on any op
    * outside {upsert, delete}, surfacing at action time), and so does the
    * no-seqCol duplicate-id check — a duplicated id without `seqCol`
    * FAILS in both modes (eagerly here, at action time there), so
    * toggling `validate` never changes data outcomes, only when errors
    * surface.
    */
  def applyChanges(base: DataFrame, changes: DataFrame,
      idCol: String = "doc_id", opCol: String = "op",
      seqCol: Option[String] = None,
      broadcastChanges: Boolean = true,
      validate: Boolean = true): DataFrame = {
    val payload = base.columns.filterNot(_ == idCol)
    val missing = (idCol +: opCol +: payload).filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changeset lacks column(s) ${missing.mkString(", ")} — an upsert " +
        "must carry every base column")

    val latest0 = seqCol match {
      case Some(sq) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))
          .orderBy(col(sq).desc, col(opCol),
            md5(to_json(struct(payload.map(col): _*))))
        changes.withColumn("graft_rn", row_number().over(w))
          .filter(col("graft_rn") === 1).drop("graft_rn")
      case None if validate =>
        // fail fast instead of applying two conflicting ops for one id
        val dups = changes.groupBy(col(idCol)).count()
          .filter(col("count") > 1).limit(1).count()
        require(dups == 0,
          s"changeset has multiple rows for one $idCol and no seqCol to " +
            "order them")
        changes
      case None =>
        // plan-only mode can't run the duplicate probe (it's a job), so
        // the SAME check rides in the plan: any duplicated id raises at
        // action time. Collapsing lexicographically here instead would
        // make 'delete' always beat 'upsert' — toggling `validate` would
        // then change DATA, not just when errors surface (ADVICE r9).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))
        changes.withColumn("graft_dup", count(lit(1)).over(w))
          .withColumn(idCol,
            when(col("graft_dup") === 1, col(idCol)).otherwise(raise_error(
              concat(lit("changeset has multiple rows for "),
                col(idCol).cast("string"),
                lit(" and no seqCol to order them")))))
          .drop("graft_dup")
    }

    val latest = if (validate) {
      // persisted: the op-domain check below is an eager job, and the
      // returned plan reads `latest` twice more (keys + upserts) — without
      // a cache the changeset pipeline (incl. the seqCol window) would
      // re-run three times.
      val cached = Caches.persist(latest0)
      // fail loudly on ops outside the domain — a typo'd 'UPSERT'/'update'
      // would otherwise remove the base row and insert nothing, silently
      // acting as a delete
      val badOps = cached
        .filter(!col(opCol).isin("upsert", "delete") || col(opCol).isNull)
        .select(col(opCol)).distinct().limit(5)
        .collect().map(r => String.valueOf(r.get(0)))
      require(badOps.isEmpty,
        s"changeset $opCol must be 'upsert' or 'delete'; found: " +
          badOps.mkString(", "))
      cached
    } else
      // lazy twin of the op-domain check: no job, no cache — the guard
      // rides in the plan and fires at action time on the first bad op
      latest0.withColumn(opCol,
        when(col(opCol).isin("upsert", "delete"), col(opCol))
          .otherwise(raise_error(concat(
            lit(s"changeset $opCol must be 'upsert' or 'delete'; found: "),
            coalesce(col(opCol).cast("string"), lit("NULL"))))))

    val keys = latest.select(col(idCol), col(opCol))
    val touched = if (broadcastChanges) broadcast(keys) else keys
    val survivors = base.join(touched, Seq(idCol), "left_outer")
      .filter(col(opCol).isNull)
      .select(base.columns.map(col): _*)
    val upserts = latest.filter(col(opCol) === "upsert")
      .select(base.columns.map(col): _*)
    survivors.unionByName(upserts)
  }
}
