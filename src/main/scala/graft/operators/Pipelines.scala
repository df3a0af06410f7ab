package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pre-training corpus build: the repo's audited operators
  * composed into the standard cleaning cascade —
  *
  *   raw → quality gate (Gopher rules) → exact dedup → benchmark
  *   decontamination → deterministic train/val/test split
  *
  * — with a per-stage audit so a selectivity regression in ANY stage is
  * visible in one row. This is the shape a real 100 TB corpus release
  * runs; the composition contract it demonstrates:
  *
  *   - stage ORDER matters and is the cheap-first order: the narrow
  *     no-shuffle quality gate runs before the dedup shuffle, and dedup
  *     runs before decontamination so clone cliques can't multiply the
  *     shingle join (the d29/d31 cascade argument, applied end to end);
  *   - the whole cascade is ONE linear flow — each doc is classified
  *     exactly once per stage, no stage recomputes its predecessor
  *     (the audit aggregates ride the same two frames, not re-scans);
  *   - every stage reuses the SAME audited kernel the standalone gate
  *     rows check (gopherRules / exactDedup-window / contaminationScores
  *     / md5 split), so the composed result is oracle-replicable.
  */
object Pipelines {

  /** One-row audit of the full cascade over `docs`: benchmark = ids ≡ 3
    * (mod 97) (the d12 eval-set convention), corpus = the rest. Returns
    * (n, id-sum) per stage: raw, quality, dedup, clean, and per split.
    * The id-sums make the gate order-sensitive: two stages dropping the
    * same COUNT of different docs still flip the hash. */
  def pretrainAudit(
      docs: DataFrame, idCol: String, textCol: String,
      contaminationThreshold: Double = 0.5): DataFrame = {
    val id = col(idCol)
    val bench = docs.filter(pmod(id, lit(97)) === 3)
      .select(id, col(textCol))
    val corpus = docs.filter(pmod(id, lit(97)) =!= 3)
      .select(id, col(textCol))

    // stage 1: quality flags on every corpus doc (narrow, no shuffle)
    val flagged = corpus.join(
      TextAnalysis.gopherRules(corpus, idCol, textCol)
        .select(id, col("keep")),
      Seq(idCol))

    // stage 2: exact dedup AMONG quality survivors — the audited kernel
    // itself, not a re-implementation
    val reps = Dedup.exactDedup(flagged.filter(col("keep")), idCol, textCol)

    // stage 3: decontamination flag via the d12 containment score (shingle
    // join against the broadcast benchmark set)
    val dirtyIds = Contamination
      .contaminationScores(reps, bench, idCol, textCol)
      .filter(col("contamination") >= contaminationThreshold)
      .select(col("doc_id").as(idCol), lit(true).as("__dirty"))
    val judged = reps.join(dirtyIds, Seq(idCol), "left")
      .withColumn("clean", col("__dirty").isNull)

    // stage 4: deterministic split on the clean survivors (d13 convention)
    val h = substring(md5(id.cast("string")), 1, 1)
    val tagged = judged.withColumn("split",
      when(h.isin("c", "d"), "val")
        .when(h.isin("e", "f"), "test")
        .otherwise("train"))

    // raw + quality ride the flagged frame; dedup onwards ride `tagged` —
    // two passes over the cascade total, not one per stage
    val a1 = flagged.agg(
      count(lit(1)).as("n_raw"), sum(id).as("s_raw"),
      count(when(col("keep"), 1)).as("n_quality"),
      sum(when(col("keep"), id)).as("s_quality"))
    val a2 = tagged.agg(
      count(lit(1)).as("n_dedup"), sum(id).as("s_dedup"),
      count(when(col("clean"), 1)).as("n_clean"),
      sum(when(col("clean"), id)).as("s_clean"),
      count(when(col("clean") && col("split") === "train", 1)).as("n_train"),
      sum(when(col("clean") && col("split") === "train", id)).as("s_train"),
      count(when(col("clean") && col("split") === "val", 1)).as("n_val"),
      sum(when(col("clean") && col("split") === "val", id)).as("s_val"),
      count(when(col("clean") && col("split") === "test", 1)).as("n_test"),
      sum(when(col("clean") && col("split") === "test", id)).as("s_test"))
    a1.crossJoin(a2)
  }

  /** The release-ready LINEAGE table of the full cascade — what a corpus
    * release ships next to the data ([[pretrainAudit]] is the one-row
    * regression gate; this is the governance artifact): one row per
    * (stage, source, reason) with exact integer counts and id-sums, so
    * a release manager can answer "where did source X's documents go,
    * and why" without re-running anything. Stages and reasons:
    *
    *   0 raw      — input              (per source)
    *   1 quality  — kept | fail_count | fail_len | fail_alpha | fail_stop
    *   2 dedup    — kept | exact_duplicate
    *   3 decontam — kept | contaminated
    *   4 split    — train | val | test
    *
    * Drop-reason attribution is EXCLUSIVE: a quality reject is charged
    * to its FIRST failing Gopher flag in the fixed (count, len, alpha,
    * stop) order, so per-source arithmetic reconciles exactly —
    * n(raw) = n(kept) + Σ n(fail_*), n(quality kept) = n(dedup in), and
    * so on down the cascade (OperatorsSpec pins the closed form).
    *
    * Scale shape: the cascade reuses the same audited kernels as
    * [[pretrainAudit]] and is aggregated in exactly TWO corpus-sized
    * passes — a (source, quality-reason) roll-up of the flagged frame
    * and a (source, final-fate) roll-up of the judged frame (each doc's
    * fate is exclusive: duplicate, contaminated, or its split) — every
    * other row of the table DERIVES from those two stage-×-source-sized
    * aggregates, so the lineage costs no more than the d41 audit. */
  def releaseLineage(
      docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      contaminationThreshold: Double = 0.5): DataFrame = {
    val id = col(idCol)
    val bench = docs.filter(pmod(id, lit(97)) === 3)
      .select(id, col(textCol))
    // (the Gopher pass below floors its own scan parallelism)
    val corpus = docs.filter(pmod(id, lit(97)) =!= 3)
      .select(id, col(sourceCol).as("source"), col(textCol))

    // ONE materialized quality pass feeds BOTH stage aggregates (r21:
    // qAgg and jAgg previously each re-derived the gopherRules join in
    // their own lineage — a duplicate corpus-sized text pass), and the
    // source/text columns ride THROUGH the gopher pass instead of a
    // corpus-sized join-back (OPTIMIZATION_r21.md §4: that join shuffled
    // the text twice and built the planted corpus on both sides)
    val flagged = TextAnalysis.gopherRulesCarry(corpus, idCol, textCol,
        Seq("the", "a"), Seq("source", textCol))
      .localCheckpoint(true)
    val qreason = when(col("keep"), "kept")
      .when(!col("ok_count"), "fail_count")
      .when(!col("ok_len"), "fail_len")
      .when(!col("ok_alpha"), "fail_alpha")
      .otherwise("fail_stop")
    val (qAgg, jAgg) = try {
      val q = flagged.groupBy(col("source"), qreason.as("reason"))
        .agg(count(lit(1)).as("n_docs"), sum(id).as("id_sum"))
        .localCheckpoint(true)

      val kept = flagged.filter(col("keep"))
        .select(id, col("source"), col(textCol))
      val reps = Dedup.exactDedup(kept, idCol, textCol)
      val dirtyIds = Contamination
        .contaminationScores(reps, bench, idCol, textCol)
        .filter(col("contamination") >= contaminationThreshold)
        .select(col("doc_id").as(idCol), lit(true).as("__dirty"))
      val h = substring(md5(id.cast("string")), 1, 1)
      // each quality survivor's EXCLUSIVE final fate in one frame
      val fate = kept
        .join(reps.select(id, lit(true).as("__rep")), Seq(idCol), "left")
        .join(dirtyIds, Seq(idCol), "left")
        .select(col("source"),
          when(col("__rep").isNull, "exact_duplicate")
            .when(col("__dirty").isNotNull, "contaminated")
            .when(h.isin("c", "d"), "val")
            .when(h.isin("e", "f"), "test")
            .otherwise("train").as("reason"),
          id)
      val j = fate.groupBy(col("source"), col("reason"))
        .agg(count(lit(1)).as("n_docs"), sum(id).as("id_sum"))
        .localCheckpoint(true)
      (q, j)
    } finally Dedup.release(flagged)

    // every stage row below is algebra over the two tiny aggregates
    def tag(df: DataFrame, ord: Int, stage: String) =
      df.select(lit(ord).as("stage_ord"), lit(stage).as("stage"),
        col("source"), col("reason"), col("n_docs"), col("id_sum"))
    val raw = tag(qAgg.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("id_sum")).as("id_sum"))
      .withColumn("reason", lit("input")), 0, "raw")
    val quality = tag(qAgg, 1, "quality")
    def keptOf(excluded: Seq[String]) = jAgg
      .filter(!col("reason").isin(excluded: _*))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("id_sum")).as("id_sum"))
      .withColumn("reason", lit("kept"))
    val dedup = tag(jAgg.filter(col("reason") === "exact_duplicate")
      .unionByName(keptOf(Seq("exact_duplicate"))), 2, "dedup")
    val decontam = tag(jAgg.filter(col("reason") === "contaminated")
      .unionByName(keptOf(Seq("exact_duplicate", "contaminated"))),
      3, "decontam")
    val split = tag(jAgg.filter(
      col("reason").isin("train", "val", "test")), 4, "split")
    try raw.unionByName(quality).unionByName(dedup).unionByName(decontam)
      .unionByName(split)
      .localCheckpoint(true)
    finally { Dedup.release(qAgg); Dedup.release(jAgg) }
  }
}
