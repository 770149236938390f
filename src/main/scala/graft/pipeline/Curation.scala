package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation pipeline, composed from the operator
  * families this package provides — the batch flow a training-data run
  * actually executes, in the order that minimises work:
  *
  *  1. quality gate (narrow filter — cheapest first, thins everything
  *     downstream),
  *  2. PII scrub (narrow projection over the survivors),
  *  3. near-deduplication (the only shuffling stage, now over the
  *     thinned corpus),
  *  4. deterministic stratified sampling (narrow filter — the mixing
  *     knob; deciding on the ORIGINAL doc id keeps the mix reproducible
  *     run-over-run even as upstream stages evolve).
  *
  * Each stage is independently oracle-checked elsewhere (`q_quality`,
  * `q_pii`, `q_dedup_clusters`, `q_sample`); this composition is
  * behavior-tested end-to-end. All stages but dedup are scan-speed.
  */
object Curation {

  /** Curate a document corpus: returns the kept rows with the text
    * column redacted, a `quality` score column appended, and near-dup
    * cluster losers removed.
    *
    * @param minQuality    drop documents scoring below this
    * @param dedupThreshold n-gram Jaccard threshold for near-dup removal
    * @param mixRates      per-stratum sampling rates (see
    *                      [[Sampling.stratifiedHashSample]]); pass
    *                      `Map.empty` with `defaultRate = 1.0` to skip
    *                      mixing
    * @param lmBand        optional CCNet-style LM banding: keep only
    *                      documents whose [[TextOps.CharLm.score]] over
    *                      the normalized text falls in `[lo, hi)` —
    *                      another narrow filter in the cheap stage,
    *                      BEFORE the shuffling dedup (the model rides as
    *                      a broadcast; `None` leaves behavior untouched)
    * @param nbRoute       optional classifier routing (the CCNet /
    *                      GPT-3 quality-classifier slot): keep only
    *                      documents whose [[Classify.classifyUdf]]
    *                      predicted label is in the kept set — a third
    *                      narrow broadcast-model filter in the cheap
    *                      stage; the label lands as `nb_label` (the
    *                      streaming attach's column), so survivors can
    *                      still be routed downstream
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      stratumCol: String, minQuality: Double = 0.3,
      dedupThreshold: Double = 0.8, mixRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      lmBand: Option[(TextOps.CharLm, Double, Double)] = None,
      nbRoute: Option[(Classify.NbModel, Set[String])] = None): DataFrame = {
    require(!docs.columns.contains("quality"),
      "input already has a quality column — rename it before curating")
    require(lmBand.isEmpty || !docs.columns.contains("lm_score"),
      "input already has an lm_score column — rename it before curating " +
        "with an LM band, or the pre-existing scores would be " +
        "silently overwritten and re-filtered under the new model")
    require(nbRoute.isEmpty || !docs.columns.contains("nb_label"),
      "input already has an nb_label column — rename it before curating " +
        "with classifier routing, or the pre-existing labels would be " +
        "silently overwritten and re-filtered under the new model")
    nbRoute.foreach { case (model, keep) =>
      val unknown = keep -- model.labels
      require(unknown.isEmpty, s"nbRoute keeps label(s) " +
        s"${unknown.mkString(", ")} the model cannot predict — " +
        "that filter would silently drop every document")
    }
    val heuristic = docs
      .withColumn("quality", TextOps.qualityScore(col(textCol)))
      .filter(col("quality") >= minQuality)
    val banded = lmBand.fold(heuristic) { case (lm, lo, hi) =>
      val u = TextOps.lmScoreUdf(docs.sparkSession, lm)
      heuristic
        .withColumn("lm_score", u(TextOps.normalize(col(textCol))))
        .filter(col("lm_score") >= lo && col("lm_score") < hi)
    }
    val quality = nbRoute.fold(banded) { case (model, keep) =>
      banded
        .withColumn("nb_label",
          Classify.classifyUdf(model)(TextOps.tokens(col(textCol))))
        .filter(col("nb_label").isInCollection(keep.toSeq.sorted))
    }
    val scrubbed = quality
      .withColumn(textCol, TextOps.redactPii(col(textCol)))
    // Deliberately NOT persisted into the dedup stage: the pair pipeline
    // reads it in ONE job (the pair finish's collect on small inputs;
    // past its budgets connectedComponents materialises the edge frame,
    // where exchange reuse deduplicates the scrub subtree) — caching it
    // instead measured 1.6× slower end-to-end at sf0.1 (block-store
    // write + read beats nothing here).
    val deduped = Dedup.dropNearDuplicates(scrubbed, idCol, textCol,
      dedupThreshold)
    Sampling.stratifiedHashSample(deduped, col(idCol), col(stratumCol),
      mixRates, defaultRate)
  }

  /** The corpus DATA CARD: the per-source audit table a curation run
    * publishes alongside its output — doc count, exact token mass,
    * duplicate-text count, per-language composition, and how many docs
    * clear the [[TextOps.gopherRules]] bar. Every double is derived at
    * the END from exact integer aggregates (counts, bigint sums,
    * distinct counts), so the card is bit-reproducible on any engine
    * and any partitioning — an unordered float SUM would not be.
    * Shape: ONE hash aggregate over the source column — the gopher
    * verdict rides inline as the pure [[TextOps.gopherKeep]] Column,
    * so the corpus is scanned once and never joined or shuffled by
    * doc id; |sources| output rows.
    */
  def dataCard(docs: DataFrame, sourceCol: String, textCol: String,
      langCol: String, langs: Seq[String],
      cfg: TextOps.GopherConfig = TextOps.GopherConfig()): DataFrame = {
    val base = docs
      .select(col(sourceCol), col(langCol).as("__lang"),
        TextOps.gopherKeep(col(textCol), cfg).as("keep"),
        TextOps.tokenCount(col(textCol)).cast("long").as("__toks"),
        Dedup.contentHash(col(textCol)).as("__h"))
    val langCols = langs.map(l =>
      sum(when(col("__lang") === l, 1L).otherwise(0L)).as(s"n_$l"))
    base.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("__toks")).as("total_tokens") +:
          countDistinct(col("__h")).as("n_distinct_texts") +:
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_gopher_keep") +:
          langCols): _*)
      .withColumn("n_dup_docs", col("n_docs") - col("n_distinct_texts"))
      .withColumn("mean_tokens",
        col("total_tokens").cast("double") / col("n_docs"))
      .withColumn("gopher_keep_frac",
        col("n_gopher_keep").cast("double") / col("n_docs"))
  }
}
