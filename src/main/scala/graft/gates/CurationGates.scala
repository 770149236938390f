package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Similarity, TextOps}

import Shared._

/** Corpus curation: composed curation chains, sampling and
  * splits, domain mixing, language models, classifiers and DSIR.
  */
private[graft] object CurationGates {

  /** Curation composed WITH the semantic-dedup stage: the quality
    * gate's survivors (the q_quality formula at ≥ 0.3) restrict the
    * embedding corpus, [[graft.pipeline.Dedup.semDeDup]] then prunes
    * semantic duplicates among them — quantizer seeded from the
    * SURVIVING subset, exactly what a pipeline would build after its
    * cheap narrow filters thinned the corpus (dedup the rows that
    * matter, not the ones quality already killed). Output: the final
    * kept (doc_id, lang), both stages' decisions riding one oracle.
    */
  private def qCurationSem(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val kept = d
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .filter(col("quality") >= 0.3)
    val emb = embeds(s, dir)
      .join(kept.select(col("doc_id").as("vec_id")), "vec_id")
    Dedup.semDeDup(emb, "vec_id", "embedding", threshold = 0.3)
      .select(col("vec_id").as("doc_id"))
      .join(d.select("doc_id", "lang"), "doc_id")
      .orderBy("doc_id")
  }

  /** Deterministic stratified sample — the data-mixing pass of a training
    * pipeline ([[graft.pipeline.Sampling.stratifiedHashSample]]): keep
    * half of English, all of Spanish, a quarter of German, a tenth of
    * everything else, decided per row by a stable md5 bucket so the mix
    * is reproducible on any engine / partitioning / retry.
    */
  private def qSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.stratifiedHashSample(
        docsNarrow(s, dir).select("doc_id", "lang"),
        key = col("doc_id"), stratum = col("lang"),
        rates = Map("en" -> 0.5, "es" -> 1.0, "de" -> 0.25),
        defaultRate = 0.1)
      .orderBy("doc_id")

  /** Weighted deterministic Poisson sample
    * ([[graft.pipeline.Sampling.weightedHashSample]]): inclusion
    * probability proportional to the document's token count — the
    * sample-by-token-budget mix knob. The kept SET is the oracle
    * surface: the 48-bit hash fraction and the multiplication-only
    * threshold are IEEE-exact on both engines, so DuckDB reproduces
    * every keep decision bit-for-bit (the reason this operator avoids
    * `pow` — see weightedReservoir's scaladoc for the contrast).
    */
  private def qSampleWeighted(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.weightedHashSample(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        key = col("doc_id"), weight = col("n_tokens"), c = 0.01)
      .orderBy("doc_id")

  /** The corpus splits `q_split` assigns — named here once so the
    * query and its oracle share the exact fractions (and the exact
    * LONG cut points via [[graft.pipeline.Sampling.splitCuts]]).
    */
  private val splitSpec =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic train/validation/test assignment
    * ([[graft.pipeline.Sampling.splitAssign]]): every document lands in
    * exactly one split as a pure function of its id — consecutive
    * 48-bit hash ranges, integer-literal cut points, so the oracle
    * replays every assignment bit-for-bit (and growing one split only
    * moves rows across its adjacent boundary; the nesting argument in
    * the scaladoc).
    */
  private def qSplit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.splitAssign(
        docsNarrow(s, dir).select("doc_id", "lang"), col("doc_id"), splitSpec)
      .orderBy("doc_id")

  /** `q_lm_model`'s cap — below the fixture corpus's trigram-type
    * inventory on purpose, so the top-N cut and its (count DESC, gram)
    * tie-break actually execute.
    */
  private val lmMaxTypes = 300

  /** Character-trigram LM TRAINING ([[graft.pipeline.TextOps
    * .charNgramCounts]]): the capped count table every smoothed
    * probability rests on, value-oracled row by row — DuckDB re-slides
    * the grams (same codepoint `substr` semantics), re-counts,
    * re-ranks and re-cuts with the identical tie-break.
    */
  private def qLmModel(s: SparkSession, dir: String): DataFrame =
    TextOps.charNgramCounts(docs(s, dir), "text", 3, Some(lmMaxTypes))
      .select(col("gram"), col("cnt").cast("bigint").as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))

  /** The LM SCORING contract, in the parity style (the mean of
    * `log`-smoothed probabilities is transcendental — no cross-engine
    * SQL replays it bit-for-bit): every document's score from the
    * production broadcast-model UDF ([[graft.pipeline.TextOps
    * .lmScoreUdf]]) must EXACTLY equal a second independent Spark
    * derivation — explode the grams, broadcast-join the model frame,
    * re-derive each log-probability, fold in position order (the
    * UDF's documented left-to-right sum), divide by the gram count —
    * with short/empty docs scoring 0.0 on both paths. The oracle
    * re-derives the population AND the short-doc count, so neither can
    * shrink.
    */
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val lm = TextOps.charLm(d, "text", 3, lmMaxTypes)
    val scoreU = TextOps.lmScoreUdf(s, lm)
    val norm = TextOps.normalize(col("text"))
    // the same Math.log the UDF uses — Catalyst's `log` may bind
    // StrictMath on some versions, and the parity here is bit-exact
    val logU = udf((x: Double) => math.log(x))
    val modelDf = lm.counts.toSeq.toDF("gram", "cnt")
    val pathB = d
      .select(col("doc_id"),
        posexplode(TextOps.charNgrams(norm, 3)).as(Seq("p", "gram")))
      .join(broadcast(modelDf), Seq("gram"), "left")
      .select(col("doc_id"), col("p"),
        logU((coalesce(col("cnt"), lit(0L)).cast("double") +
          lit(lm.alpha)) / lit(lm.denom)).as("lp"))
      .groupBy("doc_id")
      .agg((aggregate(
        transform(
          array_sort(collect_list(struct(col("p"), col("lp")))),
          x => x.getField("lp")),
        lit(0.0), (a, x) => a + x) /
          count(lit(1)).cast("double")).as("score_b"))
    d.select(col("doc_id"), length(norm).as("len"),
        scoreU(norm).as("score_a"))
      .join(pathB, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(
          (col("score_b").isNull && col("score_a") === 0.0) ||
            col("score_a") === col("score_b"), 1L).otherwise(0L)),
          lit(0L)).as("n_score_match"),
        coalesce(sum(when(col("len") < 3, 1L).otherwise(0L)), lit(0L))
          .as("n_short"))
  }

  /** `q_nb_model`'s vocabulary cap — below the fixture corpus's
    * combined feature-type inventory (~31 distinct whitespace tokens +
    * [[nbBigramBuckets]] hashed-bigram buckets) on purpose, so the
    * top-N cut and its (count DESC, token) tie-break actually execute
    * across BOTH feature kinds.
    */
  private val nbMaxVocab = 24

  /** The classifier gates' hashed-bigram bucket count
    * ([[graft.pipeline.Classify.bigramFeatures]]) — small enough that
    * several buckets survive the [[nbMaxVocab]] cap at fixture scale,
    * so the bigram features genuinely participate in every gated
    * count, score and prediction.
    */
  private val nbBigramBuckets = 16

  /** Naive Bayes classifier TRAINING ([[graft.pipeline.Classify
    * .pairCounts]]/[[graft.pipeline.Classify.docCounts]] — the
    * distributed stage `train` collects), with hashed-bigram features
    * ACTIVE: the (label, in-vocab feature) count table plus per-label
    * doc counts, every integer the model's probabilities derive from,
    * value-oracled row by row — DuckDB re-tokenizes, re-derives every
    * bigram bucket (md5-48bit nibble arithmetic mod
    * [[nbBigramBuckets]]), re-caps the joint vocabulary with the
    * identical (count DESC, token) tie-break, and re-counts per label.
    */
  private def qNbModel(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Classify
    val d = docs(s, dir)
    Classify.pairCounts(d, "lang", "text", Some(nbMaxVocab),
        Some(nbBigramBuckets))
      .join(Classify.docCounts(d, "lang")
        .select(col("label"), col("docs").as("label_docs")), "label")
      .select(col("label"), col("token"),
        col("cnt").cast("bigint").as("cnt"),
        col("label_docs").cast("bigint").as("label_docs"))
      .orderBy("label", "token")
  }

  /** The NB CLASSIFICATION contract, in the `q_lm_score` parity style
    * (per-label scores are sums of `math.log` doubles — no cross-engine
    * SQL replays them bit-for-bit), with hashed-bigram features ACTIVE
    * (the feature stream is [[graft.pipeline.Classify.features]] on
    * both paths): every document's per-label score
    * from the production broadcast-model closure
    * ([[graft.pipeline.Classify.scoreUdf]]) must EXACTLY equal a second
    * independent Spark derivation — posexplode the tokens, cross the
    * label table, broadcast-join the model's STORED doubles
    * ([[graft.pipeline.Classify.likDf]], OOV via coalesce), fold from
    * the label's prior in position order (the scorer's documented
    * left-to-right sum) — and the argmax labels (window: score desc,
    * label asc = the scorer's strict-greater ascending scan) must agree
    * with [[graft.pipeline.Classify.classifyUdf]] on every document.
    * The oracle re-derives the doc and (doc × label) populations, so
    * neither comparison can shrink.
    */
  private def qNbClassify(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Classify
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val model = Classify.train(d, "lang", "text", alpha = 1.0,
      maxVocab = Some(nbMaxVocab), bigramBuckets = Some(nbBigramBuckets))
    // bigram features ACTIVE: the shared feature stream (training and
    // serving must featurize identically — Classify.features is the
    // one definition both sides use)
    val toks = Classify.features(col("text"), Some(nbBigramBuckets))
    // production path: the serving closures
    val prodPred = d.select(col("doc_id"),
      Classify.classifyUdf(model)(toks).as("pred"))
    // all labels' scores in ONE corpus scan (featurization — the md5
    // bigram hashing — runs once per document, not once per label):
    // score each label as a struct field off the same projected token
    // array, then explode the label axis
    val prodScores = d
      .select(col("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), explode(array(model.labels.map(l =>
          struct(lit(l).as("label"),
            Classify.scoreUdf(model, l)(col("__toks")).as("pscore")))
        .toIndexedSeq: _*)).as("__s"))
      .select(col("doc_id"), col("__s.label"), col("__s.pscore"))
    // independent path: stored doubles joined + position-ordered fold;
    // empty/no-token docs ride through posexplode_outer as a single
    // null-token row whose 0.0 term leaves the prior untouched
    val tokRows = d.select(col("doc_id"),
      posexplode_outer(filter(toks, t => length(t) > 0))
        .as(Seq("pos", "token")))
    val lik = Classify.likDf(s, model)
    val lab = Classify.labelDf(s, model)
    val perLabel = tokRows.crossJoin(broadcast(lab))
      .join(broadcast(lik), Seq("label", "token"), "left")
      .withColumn("term", when(col("token").isNull, lit(0.0))
        .otherwise(coalesce(col("log_lik"), col("log_oov"))))
      .groupBy("doc_id", "label")
      .agg(array_sort(collect_list(struct(col("pos"), col("term"))))
          .as("terms"),
        first(col("log_prior")).as("lp"))
      .select(col("doc_id"), col("label"),
        aggregate(col("terms"), col("lp"),
          (a, x) => a + x.getField("term")).as("score"))
    val wp = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("label"))
    val parityPred = perLabel
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("label").as("pred2"))
    val predCmp = prodPred.join(parityPred, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("pred2"), 1L).otherwise(0L))
          .as("n_pred_match"))
    val scoreCmp = perLabel.join(prodScores, Seq("doc_id", "label"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("score") === col("pscore"), 1L).otherwise(0L))
          .as("n_score_match"))
    predCmp.crossJoin(scoreCmp)
      .select(col("n_docs"), col("n_pred_match"), col("n_pairs"),
        col("n_score_match"))
  }

  /** The half/half cut `q_nb_eval` trains and evaluates across — named
    * once so the query and its oracle share the exact 48-bit integer
    * cut point (the q_split contract).
    */
  private val nbEvalSplit = Seq("train" -> 0.5, "eval" -> 0.5)

  /** The NB classifier's HELD-OUT evaluation — the `q_ann_recall` twin
    * for the classifier slot: the parity gates prove the math, this
    * row measures whether the trained model actually routes documents.
    * Train on the deterministic `train` half of a [[nbEvalSplit]] cut
    * ([[graft.pipeline.Sampling.splitAssign]] — pure function of
    * doc_id, integer cut points), serve the held-out half through the
    * production closure ([[graft.pipeline.Classify.classifyUdf]]), and
    * report the confusion matrix (true label × predicted label ×
    * document count). DuckDB re-derives EVERYTHING independently: the
    * split, the capped train-half vocabulary, every count/prior/
    * likelihood/OOV floor, each held-out document's position-ordered
    * score fold (list_reduce seeded with the prior — the scorer's
    * documented left-to-right sum), the argmax (score DESC, label ASC
    * = the scorer's strict-greater ascending scan) and the matrix
    * counts.
    *
    * Cross-engine float note: the scores are sums of `ln` doubles, and
    * the two engines' `ln` may differ in the last ulp — the gate rests
    * on argmax MARGINS dwarfing that drift, which the
    * "NB eval argmax margins" spec audits on the fixtures (smallest
    * top-2 gap ≈ 7e-3, ~10⁹× the accumulated drift bound at fixture
    * score magnitudes). Exact ties (labels with identical priors and
    * identical per-token terms) fold to bit-equal scores in EACH
    * engine independently and break to the lower label in both.
    */
  private def qNbEval(s: SparkSession, dir: String): DataFrame =
    nbEvalConfusion(s, dir, bigramBuckets = None)

  /** [[qNbEval]] with hashed-bigram features ACTIVE
    * ([[graft.pipeline.Classify.bigramFeatures]], the fastText
    * accuracy lever): same split, same cap, same derivation — the
    * difference between this row's diagonal and `q_nb_eval`'s IS the
    * measured gain (or cost) of the bigram features on the held-out
    * half, with the oracle re-deriving every hashed bucket. (At sf0.01
    * under the deliberately starved [[nbMaxVocab]] cap, bigrams lift
    * held-out accuracy 0.156 → 0.172 — the fixture's tiny shared
    * vocabulary keeps absolute numbers low by construction; the row
    * gates the measurement machinery, not a benchmark score.)
    */
  private def qNbEvalBigram(s: SparkSession, dir: String): DataFrame =
    nbEvalConfusion(s, dir, bigramBuckets = Some(nbBigramBuckets))

  private def nbEvalConfusion(s: SparkSession, dir: String,
      bigramBuckets: Option[Int]): DataFrame = {
    import graft.pipeline.{Classify, Sampling}
    val d = docs(s, dir)
    val cut = Sampling.splitAssign(d, col("doc_id"), nbEvalSplit)
    val model = Classify.train(cut.filter(col("split") === "train"),
      "lang", "text", alpha = 1.0, maxVocab = Some(nbMaxVocab),
      bigramBuckets = bigramBuckets)
    cut.filter(col("split") === "eval")
      .select(col("lang").as("label"),
        Classify.classifyUdf(model)(
          Classify.features(col("text"), bigramBuckets)).as("pred"))
      .groupBy("label", "pred")
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
      .orderBy("label", "pred")
  }

  /** The DSIR gates' hashed-feature bucket count
    * ([[graft.pipeline.Dsir.featureBuckets]]) — small enough that
    * buckets genuinely collide across unigrams and bigrams at fixture
    * scale, so the hashed-feature-space semantics (Xie et al. §3.1)
    * execute rather than degenerating to a plain vocabulary.
    */
  private val dsirBuckets = 32

  /** `q_dsir_select`'s cut — deep enough that both the kept and the
    * dropped side are populated at every gated scale factor.
    */
  private val dsirSelectK = 150

  /** The DSIR target/raw fit every `q_dsir_*` row shares: target =
    * the English documents, raw = the whole corpus — "select the
    * raw-crawl documents that look like the high-quality reference",
    * the paper's setting, with the target replayable by any engine as
    * `WHERE lang = 'en'`.
    */
  private def dsirModelOf(s: SparkSession, dir: String)
      : graft.pipeline.Dsir.DsirModel = {
    val d = docs(s, dir)
    graft.pipeline.Dsir.fit(d.filter(col("lang") === "en"), d, "text",
      dsirBuckets)
  }

  /** `q_curation_dsir`'s cut — below the quality-kept population at
    * every gated scale so the selection genuinely discriminates.
    */
  private val curationDsirK = 100

  /** Curation composed WITH targeted selection (the `q_curation_sem`
    * shape for the DSIR stage): the q_quality gate's survivors (the
    * single bit-pinned formula at ≥ 0.3) restrict BOTH the DSIR fit
    * corpora (target = surviving English, raw = all survivors) and
    * the scored corpus, then [[graft.pipeline.Dsir.selectTopK]] keeps
    * the [[curationDsirK]] survivors most like the target — select
    * among the rows that matter, not the ones quality already killed.
    * Both stages' decisions ride one oracle.
    */
  private def qCurationDsir(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Dsir
    val kept = docs(s, dir)
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .filter(col("quality") >= 0.3)
      .select("doc_id", "lang", "text")
    val model = Dsir.fit(kept.filter(col("lang") === "en"), kept,
      "text", dsirBuckets)
    Dsir.selectTopK(kept, "doc_id", "text", model, curationDsirK)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** DSIR model FIT ([[graft.pipeline.Dsir.bucketCounts]] — the
    * distributed stage [[graft.pipeline.Dsir.fit]] collects): the
    * target and raw hashed-bucket count tables, every integer the log
    * importance ratios derive from, value-oracled row by row — DuckDB
    * re-tokenizes, re-derives every unigram AND bigram bucket (md5-48
    * bit nibble arithmetic mod [[dsirBuckets]]) and re-counts both
    * corpora. Target buckets ⊆ raw buckets (the target is a subset of
    * the raw corpus), so the raw side anchors the join.
    */
  private def qDsirModel(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Dsir
    val d = docs(s, dir)
    val tc = Dsir.bucketCounts(d.filter(col("lang") === "en"), "text",
        dsirBuckets)
      .select(col("bucket"), col("cnt").as("target_cnt"))
    val rc = Dsir.bucketCounts(d, "text", dsirBuckets)
      .select(col("bucket"), col("cnt").as("raw_cnt"))
    rc.join(tc, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("target_cnt"), lit(0L)).cast("bigint")
          .as("target_cnt"),
        col("raw_cnt").cast("bigint").as("raw_cnt"))
      .orderBy("bucket")
  }

  /** The DSIR SCORING contract, in the `q_nb_classify` parity style
    * (log importance weights are sums of `math.log` doubles): every
    * document's log weight from the production broadcast-model closure
    * ([[graft.pipeline.Dsir.scoreUdf]]) must EXACTLY equal a second
    * independent Spark derivation — posexplode the feature buckets,
    * broadcast-join the model's STORED doubles
    * ([[graft.pipeline.Dsir.logRatioDf]]), fold from 0.0 in position
    * order (the scorer's documented left-to-right sum). The oracle
    * re-derives the document population, so the comparison cannot
    * shrink.
    */
  private def qDsirScore(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Dsir
    val d = docs(s, dir)
    val model = dsirModelOf(s, dir)
    val feats = Dsir.featureBuckets(col("text"), dsirBuckets)
    val prod = d.select(col("doc_id"),
      Dsir.scoreUdf(model)(feats).as("pscore"))
    // independent path: stored doubles joined + position-ordered fold;
    // zero-feature docs ride through posexplode_outer as a single
    // null-bucket row whose 0.0 term matches the closure's empty fold
    val tokRows = d.select(col("doc_id"),
      posexplode_outer(feats).as(Seq("pos", "bucket")))
    val lr = Dsir.logRatioDf(s, model)
    val indep = tokRows
      .join(broadcast(lr), Seq("bucket"), "left")
      .withColumn("term", when(col("bucket").isNull, lit(0.0))
        .otherwise(col("log_ratio")))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("term"))))
        .as("terms"))
      .select(col("doc_id"),
        aggregate(col("terms"), lit(0.0),
          (a, x) => a + x.getField("term")).as("score"))
    prod.join(indep, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pscore") === col("score"), 1L).otherwise(0L))
          .as("n_score_match"))
  }

  /** The DSIR SELECTION ([[graft.pipeline.Dsir.selectTopK]] — the
    * paper's deterministic top-k rule): the [[dsirSelectK]] documents
    * with the largest log importance weights under the shared
    * target/raw fit, ties to the lower doc_id. DuckDB re-derives the
    * ENTIRE chain independently: tokenization, every hashed bucket,
    * both count tables, the Laplace-smoothed ln ratios, each
    * document's position-ordered score fold (list_reduce seeded with
    * 0.0) and the (score DESC, doc_id) cut.
    *
    * Cross-engine float note: the scores are sums of `ln` doubles —
    * the gate rests on the k-boundary margin dwarfing last-ulp drift,
    * which the "DSIR selection boundary margin" spec audits on both
    * gated fixture scales (same contract as `q_nb_eval`). Documents
    * with identical text fold to bit-equal scores in EACH engine
    * independently and cut on doc_id in both.
    */
  private def qDsirSelect(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Dsir
    Dsir.selectTopK(docs(s, dir), "doc_id", "text",
        dsirModelOf(s, dir), dsirSelectK)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** `q_cluster_mix`'s per-discovered-domain target fractions: even
    * cells 0.1, odd cells 0.025 — deliberately uneven so the plan's
    * saturation and fractional-rate branches both execute at the
    * gated scales.
    */
  private def clusterMixTargets: Map[String, Double] =
    (0 until 16).map(c =>
      s"cell_$c" -> (if (c % 2 == 0) 0.1 else 0.025)).toMap

  /** `q_cluster_mix`'s token budget. */
  private val clusterMixBudget = 20000L

  /** DOMAIN-DISCOVERY mixing — the `q_mix_plan`/`q_mix_domains`
    * machinery pointed at domains a CLUSTERING discovered instead of a
    * label column: each document's domain is its embedding's IVF cell
    * under the SAME deterministic fixed-16 quantizer ANN serving and
    * SemDeDup build ([[graft.pipeline.Similarity.buildIvfIndex]],
    * kmeansIters = 0), and the mix retargets the discovered clusters'
    * token masses to [[clusterMixTargets]] under a
    * [[clusterMixBudget]]-token budget. Output per domain: the full
    * [[graft.pipeline.Sampling.domainMixPlan]] row (avail/target/rate/
    * shortfall) PLUS the realised keep counts from
    * [[graft.pipeline.Sampling.sampleToMix]] — so the oracle gates the
    * assignment, the mass aggregation, the rate arithmetic AND every
    * document's IEEE-exact keep decision in one row. DuckDB re-derives
    * the quantizer assignment through the shared `q_sim_ivf` CTE
    * chain, then replays the `q_mix_plan` arithmetic and the 48-bit
    * keep threshold.
    */
  private def qClusterMix(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Sampling, Similarity}
    val idx = Similarity.buildIvfIndex(embeds(s, dir),
      "vec_id", "embedding", 16)
    val assigned = idx.assigned.select(col("vec_id").as("doc_id"),
      concat(lit("cell_"), col("__cell").cast("string")).as("domain"))
    val dd = docs(s, dir).join(assigned, "doc_id")
      .select(col("doc_id"), col("domain"),
        size(TextOps.tokens(col("text"))).cast("bigint").as("n_tokens"))
    val plan = Sampling.domainMixPlan(dd, "domain", col("n_tokens"),
      clusterMixTargets, clusterMixBudget)
    val kept = Sampling.sampleToMix(dd, col("doc_id"), "domain",
        col("n_tokens"), clusterMixTargets, clusterMixBudget)
      .groupBy("domain")
      .agg(count(lit(1)).as("kept_docs"),
        sum("n_tokens").as("kept_tokens"))
    plan.join(kept, Seq("domain"), "left")
      .select(col("domain"),
        col("avail_tokens").cast("bigint").as("avail_tokens"),
        col("target_tokens"), col("rate"), col("shortfall_tokens"),
        coalesce(col("kept_docs"), lit(0L)).cast("bigint")
          .as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).cast("bigint")
          .as("kept_tokens"))
      .orderBy("domain")
  }

  private val mixTargets = Map("en" -> 0.5, "fr" -> 0.2, "de" -> 0.15,
    "es" -> 0.1, "zh" -> 0.05)

  private val mixBudget = 30000L

  /** The domain-mix PLAN ([[graft.pipeline.Sampling.domainMixPlan]]):
    * per language, available token mass, target mass under the 30k
    * budget, the saturating keep rate, and the shortfall — every double
    * value-oracled (int/int and literal·int arithmetic only).
    */
  private def qMixPlan(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.domainMixPlan(docs(s, dir), "lang",
        TextOps.tokenCount(col("text")), mixTargets, mixBudget)
      .orderBy("lang")

  /** The deterministic keep set realising the plan
    * ([[graft.pipeline.Sampling.sampleToMix]]): every kept (doc, lang,
    * tokens) row compared — the oracle recomputes the per-domain rate
    * AND the 48-bit hash threshold per doc.
    */
  private def qMixDomains(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.sampleToMix(
        docsNarrow(s, dir).select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        key = col("doc_id"), domainCol = "lang", tokens = col("n_tokens"),
        targets = mixTargets, budgetTokens = mixBudget)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .orderBy("doc_id")

  /** Upsampled (epoch-aware) mix realisation
    * ([[graft.pipeline.Sampling.upsampleToMix]]): the same targets and
    * budget as `q_mix_plan`, but shortfall domains (de/en/fr at gate
    * scale — rate = target/avail > 1) REPEAT: floor(rate) full copies
    * plus a (key, copy)-salted 48-bit-thresholded fractional copy.
    * The oracle replays the unclamped rate, the copy explosion and
    * every salted threshold decision.
    */
  private def qMixUpsample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.upsampleToMix(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        key = col("doc_id"), domainCol = "lang", tokens = col("n_tokens"),
        targets = mixTargets, budgetTokens = mixBudget)
      .orderBy("doc_id", "copy")

  /** `q_mix_temperature` / `q_mix_temp_sample`'s sampling temperature
    * — 0.75 = 192/256 exercises a two-term sqrt chain
    * (`sqrt(x)·sqrt(sqrt(x))`), not just one sqrt.
    */
  private val mixAlpha = 0.75

  /** TEMPERATURE-derived mixing plan ([[graft.pipeline.Sampling
    * .temperatureMixPlan]] — the multilingual alpha-sampling rule,
    * `p_i ∝ n_i^α`): the per-domain share, targets, rates and
    * shortfalls all DERIVED from the corpus counts at α =
    * [[mixAlpha]]. Every double is engine-exact — the power is the
    * dyadic sqrt-chain (IEEE requires sqrt and × correctly rounded),
    * the share's Σ folds in domain order from 0.0 — so DuckDB
    * re-derives the full frame bit-for-bit, transcendental-free.
    */
  private def qMixTemperature(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.temperatureMixPlan(docs(s, dir), "lang",
        TextOps.tokenCount(col("text")), mixAlpha, mixBudget)
      .orderBy("lang")

  /** The deterministic keep set realising the temperature plan
    * ([[graft.pipeline.Sampling.sampleToTemperatureMix]]): the oracle
    * recomputes the α-derived per-domain rate AND each doc's 48-bit
    * hash threshold decision.
    */
  private def qMixTempSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.sampleToTemperatureMix(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        key = col("doc_id"), domainCol = "lang", tokens = col("n_tokens"),
        alpha = mixAlpha, budgetTokens = mixBudget)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .orderBy("doc_id")

  /** The composed curation pipeline ([[graft.pipeline.Curation.curate]]):
    * quality gate → PII scrub → near-dedup (survivors only) → stratified
    * mix, end-to-end under one oracle. The fixture corpus carries no PII,
    * so a deterministic contact string is appended per document BEFORE
    * the pipeline — the scrub stage genuinely fires, and the dedup stage
    * shingles the REDACTED text exactly as a production run would.
    */
  /** The synthesized-PII corpus + curation call shared by
    * [[qCuration]] and [[qCurationPack]].
    */
  private def curatedDocs(s: SparkSession, dir: String): DataFrame = {
    val synth = docs(s, dir).select("doc_id", "lang", "text")
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://example.com/d/"),
        col("doc_id").cast("string")))
    graft.pipeline.Curation.curate(synth, "doc_id", "text", "lang",
      minQuality = 0.3, dedupThreshold = 0.8,
      mixRates = Map("en" -> 0.5, "es" -> 1.0, "de" -> 0.25),
      defaultRate = 0.1)
  }

  private def qCuration(s: SparkSession, dir: String): DataFrame =
    curatedDocs(s, dir)
      .select("doc_id", "lang", "quality", "text")
      .orderBy("doc_id")

  /** The curated corpus packed into training bins
    * ([[qCuration]] ∘ [[graft.pipeline.Packing.packByOffset]]): the
    * full pipeline a training run executes — quality gate → PII scrub
    * → near-dedup → stratified mix → offset packing of the SURVIVORS
    * (tokens counted on the redacted text) into 128-token bins per
    * language shard — chained under one value oracle.
    */
  private def qCurationPack(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.packByOffset(
        curatedDocs(s, dir).select("doc_id", "lang", "text"),
        "lang", "doc_id", TextOps.tokenCount(col("text")), 128)
      .select("doc_id", "lang", "tokens", "offset", "bin")
      .orderBy("lang", "doc_id")

  /** The full training-mix flow in ONE plan: curation survivors
    * ([[qCuration]]) → weighted Poisson sample with inclusion mass
    * proportional to each survivor's token count
    * ([[graft.pipeline.Sampling.weightedHashSample]], the
    * sample-by-token-budget knob) → offset packing of the sampled docs
    * into 128-token bins per language shard. Every stage's decisions
    * are value-oracled end to end — the sampling threshold is
    * multiplication-only, so DuckDB reproduces the kept set inside the
    * same chain that re-derives curation and packing.
    */
  private def qCurationWeighted(s: SparkSession, dir: String): DataFrame = {
    val kept = curatedDocs(s, dir).select("doc_id", "lang", "text")
    // the weight is recomputed for the window rather than materialised:
    // packByOffset claims the "tokens" output name for its contract
    val sampled = graft.pipeline.Sampling.weightedHashSample(
      kept, col("doc_id"), TextOps.tokenCount(col("text")), 0.02)
    graft.pipeline.Packing.packByOffset(sampled, "lang", "doc_id",
        TextOps.tokenCount(col("text")), 128)
      .select("doc_id", "lang", "tokens", "offset", "bin")
      .orderBy("lang", "doc_id")
  }

  /** `q_curation_temp`'s token budget — sized so the sf0.001 curated
    * mass saturates the low-resource languages' rates while the big
    * ones keep fractionally.
    */
  private val curTempBudget = 8000L

  /** Curation composed with TEMPERATURE-derived mixing
    * ([[graft.pipeline.Sampling.sampleToTemperatureMix]] over the
    * curated survivors — `q_curation_weighted`'s shape with the
    * alpha-sampling rule in the sampling slot): the per-language
    * rates derive from the SURVIVORS' token mass at α = [[mixAlpha]],
    * then each kept doc clears its 48-bit hash threshold. DuckDB
    * replays curation → α-plan → threshold in one chain.
    */
  private def qCurationTemp(s: SparkSession, dir: String): DataFrame = {
    val kept = curatedDocs(s, dir).select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens"))
    graft.pipeline.Sampling.sampleToTemperatureMix(kept, col("doc_id"),
        "lang", col("n_tokens"), mixAlpha, curTempBudget)
      .orderBy("doc_id")
  }

  /** Curation composed with the DRIFT MONITOR — the QA read a pipeline
    * runs after changing a filter: curate
    * ([[curatedDocs]]: quality gate → PII scrub → near-dedup →
    * stratified mix), then measure what the surviving corpus's token
    * distribution drifted FROM the raw corpus
    * ([[graft.pipeline.TextOps.vocabDivergence]], survivors as side A,
    * raw documents as side B). DuckDB replays the whole chain — the
    * shared curation CTEs into the shared divergence CTEs — and the
    * gate pins the exact columns (integer counts, Laplace-1 smoothed
    * probabilities, total-variation term); `js_term` stays out of the
    * gate for the documented cross-engine ln-ULP reason
    * (`q_vocab_drift`). Scale shape is both components': curation's
    * banded dedup plus two vocabulary-bounded count tables — nothing
    * corpus-sized past the aggregates.
    */
  private def qCurationDrift(s: SparkSession, dir: String): DataFrame = {
    val raw = docs(s, dir).select("doc_id", "lang", "text")
    val kept = curatedDocs(s, dir).select("doc_id", "lang", "text")
    TextOps.vocabDivergence(kept, raw, "text")
      .select("token", "c_a", "c_b", "p_a", "p_b", "tv_term")
      .orderBy("token")
  }

  /** The curation pipeline's CTE chain (synthesized PII → quality gate
    * over the PRE-scrub text, as curate() computes it → redaction →
    * md5-MinHash near-dup clusters → `dropped` losers), shared by
    * `q_curation` and `q_curation_pack`; consumers select from `scrub`
    * filtered by [[curationKeepPred]] (survivors + md5-bucket mix).
    */
  private lazy val curationCtes: String = {
    import graft.pipeline.TextOps.{emailRe, urlRe, phoneRe, ccRe, ipv4Re}
    val stop = s"len(list_filter($toksSql, x -> x IN (${inList(TextOps.langProfiles("en"))})))"
    val redact = s"regexp_replace(regexp_replace(regexp_replace(" +
      s"regexp_replace(regexp_replace(text, '$urlRe', '[URL]', 'g'), " +
      s"'$emailRe', '[EMAIL]', 'g'), '$ccRe', '[CARD]', 'g'), " +
      s"'$ipv4Re', '[IP]', 'g'), '$phoneRe', '[PHONE]', 'g')"
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id, lang,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |    '@example.com via https://example.com/d/' ||
       |    CAST(doc_id AS VARCHAR) AS text
       |  FROM documents),
       |qual AS (
       |  SELECT doc_id, lang, text,
       |    least(greatest(
       |      least(CAST(len($toksSql) AS DOUBLE) / 64.0, 1.0) * 0.5
       |      + least(CAST($stop AS DOUBLE) / greatest(CAST(len($toksSql) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3
       |      + (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
       |               / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) * 0.2,
       |      0.0), 1.0) AS quality
       |  FROM base),
       |scrub AS (
       |  SELECT doc_id, lang, quality, $redact AS text
       |  FROM qual WHERE quality >= 0.3),
       |${nearDupCtesFrom("scrub")},
       |pairs AS (
       |  SELECT i.id_a, i.id_b
       |  FROM inter i JOIN sz za ON za.doc_id = i.id_a
       |  JOIN sz zb ON zb.doc_id = i.id_b
       |  WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= 0.8),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT rc.id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r),
       |clusters AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |dropped AS (SELECT id AS doc_id FROM clusters WHERE id <> cluster_id)""".stripMargin
  }

  /** The 48-bit md5 hash-fraction numerator of `doc_id` — the DuckDB
    * mirror of [[graft.pipeline.Sampling.hashBucket48]], shared by
    * `q_sample_weighted` and `q_curation_weighted`.
    */
  private lazy val bucket48Sql: String =
    bucket48OfSql("md5(CAST(doc_id AS VARCHAR))")

  /** The DuckDB mirror of [[graft.pipeline.Classify.features]] over a
    * CTE exposing `f` (the non-empty whitespace tokens as a list):
    * `f` itself unigram-only, or `f` followed by one `'bg <bucket>'`
    * pseudo-token per adjacent pair — 48-bit md5 nibble arithmetic
    * ([[bucket48OfSql]], the hashBucket48 mirror) mod the bucket
    * count, exactly [[graft.pipeline.Classify.bigramFeatures]]'
    * hash and order (unigrams first, bigrams after).
    */
  private def nbFeatListSql(bigramBuckets: Option[Int]): String =
    bigramBuckets.fold("f") { b =>
      s"""list_concat(f, list_transform(generate_series(1, len(f) - 1),
         |      i -> 'bg ' || CAST(${bucket48OfSql(
                  "md5(f[i] || ' ' || f[i + 1])")} % $b AS VARCHAR)))"""
        .stripMargin
    }

  /** The DuckDB mirror of [[graft.pipeline.Dsir.featureBuckets]] over
    * a relation exposing `f` (the non-empty whitespace tokens as a
    * list): unigram buckets in order, then one bucket per adjacent
    * pair — 48-bit md5 nibble arithmetic ([[bucket48OfSql]], the
    * hashBucket48 mirror) mod [[dsirBuckets]], exactly the shared
    * feature stream's hash and order.
    */
  private lazy val dsirFeatListSql: String =
    s"""list_concat(
       |    list_transform(f, t ->
       |      CAST(${bucket48OfSql("md5(t)")} % $dsirBuckets AS INTEGER)),
       |    list_transform(generate_series(1, len(f) - 1), i ->
       |      CAST(${bucket48OfSql("md5(f[i] || ' ' || f[i + 1])")}
       |        % $dsirBuckets AS INTEGER)))""".stripMargin

  /** Shared `q_dsir_model` / `q_dsir_select` / `q_curation_dsir` CTE
    * chain over any relation carrying (doc_id, lang, text): featurized
    * documents (`fb`) and the two bucket count tables (`tc` target =
    * lang 'en', `rc` raw = everything) — one definition so the model,
    * selection and composed-curation rows cannot drift.
    */
  private def dsirCountCtesFrom(rel: String): String =
    s"""ftab AS (SELECT doc_id, lang,
       |    list_filter($toksSql, x -> length(x) > 0) AS f
       |  FROM $rel),
       |fb AS MATERIALIZED (SELECT doc_id, lang, $dsirFeatListSql AS feats
       |  FROM ftab),
       |ab AS (SELECT lang, unnest(feats) AS bucket FROM fb),
       |tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS target_cnt
       |  FROM ab WHERE lang = 'en' GROUP BY bucket),
       |rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS raw_cnt
       |  FROM ab GROUP BY bucket)""".stripMargin

  private lazy val dsirCountCtes: String = dsirCountCtesFrom("documents")

  /** The DSIR model + scoring + top-`k` cut over a preceding
    * [[dsirCountCtesFrom]] chain — counts → Laplace-smoothed ln ratios
    * (model over the raw buckets: everything scorable has raw_cnt ≥ 1)
    * → per-doc position-ordered folds → (score DESC, doc_id) LIMIT.
    * Ends in the final SELECT; shared by `q_dsir_select` and
    * `q_curation_dsir`.
    */
  private def dsirSelectTailSql(k: Int): String =
    s"""tt AS (SELECT CAST(SUM(target_cnt) AS DOUBLE) AS t FROM tc),
       |rt AS (SELECT CAST(SUM(raw_cnt) AS DOUBLE) AS r FROM rc),
       |model AS (SELECT rc.bucket,
       |    ln((COALESCE(tc.target_cnt, 0) + 1.0) /
       |       ((SELECT t FROM tt) + 1.0 * $dsirBuckets))
       |  - ln((rc.raw_cnt + 1.0) /
       |       ((SELECT r FROM rt) + 1.0 * $dsirBuckets)) AS lr
       |  FROM rc LEFT JOIN tc ON tc.bucket = rc.bucket),
       |et AS (SELECT doc_id, unnest(feats) AS bucket,
       |    unnest(generate_series(1, len(feats))) AS pos FROM fb),
       |terms AS (SELECT e.doc_id, e.pos, m.lr
       |  FROM et e JOIN model m ON m.bucket = e.bucket),
       |scores AS (SELECT d.doc_id, d.lang,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      COALESCE(list(t.lr ORDER BY t.pos)
       |        FILTER (WHERE t.lr IS NOT NULL), [])),
       |      (a, x) -> a + x) AS s
       |  FROM fb d LEFT JOIN terms t ON t.doc_id = d.doc_id
       |  GROUP BY d.doc_id, d.lang),
       |sel AS (SELECT doc_id, lang FROM scores
       |  ORDER BY s DESC, doc_id LIMIT $k)
       |SELECT doc_id, lang FROM sel ORDER BY doc_id""".stripMargin

  /** The `q_nb_eval` / `q_nb_eval_bigram` oracle: a FULL independent
    * re-derivation of the held-out confusion matrix — the 48-bit
    * half/half split, the capped train-half vocabulary (count DESC,
    * token — the shared trainer contract, over the featurized stream
    * when bigrams are on), counts → priors/likelihoods/OOV floor, each
    * held-out doc's position-ordered score fold seeded with the prior
    * (list_reduce = the scorer's left-to-right sum), the argmax
    * (score DESC, label ASC) and the matrix counts.
    */
  private def nbEvalOracleSql(bigramBuckets: Option[Int]): String = {
    val cut = graft.pipeline.Sampling.splitCuts(nbEvalSplit).head
    val feat = nbFeatListSql(bigramBuckets)
    s"""WITH tr AS (SELECT * FROM documents WHERE $bucket48Sql < $cut),
       |ev AS (SELECT * FROM documents
       |       WHERE NOT ($bucket48Sql < $cut)),
       |trf AS (SELECT lang,
       |    list_filter($toksSql, x -> length(x) > 0) AS f FROM tr),
       |tf AS (SELECT lang AS label, unnest($feat) AS token FROM trf),
       |vocab AS (SELECT token FROM tf GROUP BY token
       |  ORDER BY COUNT(*) DESC, token LIMIT $nbMaxVocab),
       |pc AS (SELECT label, token, COUNT(*) AS cnt FROM tf
       |  WHERE token IN (SELECT token FROM vocab)
       |  GROUP BY label, token),
       |dc AS (SELECT lang AS label, COUNT(*) AS docs FROM tr
       |  GROUP BY lang),
       |tot AS (SELECT label, SUM(cnt) AS tot FROM pc GROUP BY label),
       |vs AS (SELECT COUNT(DISTINCT token) AS v FROM pc),
       |lab AS (SELECT dc.label,
       |    ln(CAST(dc.docs AS DOUBLE) /
       |       CAST((SELECT SUM(docs) FROM dc) AS DOUBLE)) AS lp,
       |    ln(1.0 / (COALESCE(t.tot, 0) + 1.0 * (SELECT v FROM vs)))
       |      AS oov
       |  FROM dc LEFT JOIN tot t ON t.label = dc.label),
       |lik AS (SELECT pc.label, pc.token,
       |    ln((pc.cnt + 1.0) / (t.tot + 1.0 * (SELECT v FROM vs)))
       |      AS ll
       |  FROM pc JOIN tot t ON t.label = pc.label),
       |evf AS (SELECT doc_id, $feat AS feats
       |  FROM (SELECT doc_id,
       |    list_filter($toksSql, x -> length(x) > 0) AS f FROM ev)),
       |et AS (SELECT doc_id, unnest(feats) AS token,
       |    unnest(generate_series(1, len(feats))) AS pos FROM evf),
       |terms AS (SELECT e.doc_id, l.label, e.pos,
       |    COALESCE(k.ll, l.oov) AS term
       |  FROM et e CROSS JOIN lab l
       |  LEFT JOIN lik k ON k.label = l.label AND k.token = e.token),
       |scores AS (SELECT d.doc_id, l.label,
       |    list_reduce(list_prepend(l.lp,
       |      COALESCE(list(t.term ORDER BY t.pos)
       |        FILTER (WHERE t.term IS NOT NULL), [])),
       |      (a, x) -> a + x) AS score
       |  FROM ev d CROSS JOIN lab l
       |  LEFT JOIN terms t ON t.doc_id = d.doc_id
       |    AND t.label = l.label
       |  GROUP BY d.doc_id, l.label, l.lp),
       |pred AS (SELECT doc_id, label AS pred FROM scores
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, label) = 1)
       |SELECT d.lang AS label, p.pred,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM ev d JOIN pred p ON p.doc_id = d.doc_id
       |GROUP BY d.lang, p.pred
       |ORDER BY label, pred""".stripMargin
  }

  /** The curation keep predicate over `scrub`: near-dup survivors only,
    * then the md5-bucket stratified mix (en 0.5, es 1.0, de 0.25,
    * default 0.1).
    */
  private lazy val curationKeepPred: String = {
    val h = "md5(CAST(doc_id AS VARCHAR))"
    val bucket = s"(${nibSql(h, 1)} * 4096 + ${nibSql(h, 2)} * 256 " +
      s"+ ${nibSql(h, 3)} * 16 + ${nibSql(h, 4)})"
    s"""doc_id NOT IN (SELECT doc_id FROM dropped)
       |  AND $bucket < CASE lang WHEN 'en' THEN 32768 WHEN 'es' THEN 65536
       |                          WHEN 'de' THEN 16384 ELSE 6554 END""".stripMargin
  }

  /** The q_quality score formula as a keep-set CTE (`qkept` = doc_ids
    * scoring ≥ 0.3) — the quality-gate half `q_curation_sem` chains in
    * front of its semantic-dedup stage; renders [[qualityScoreSql]], the
    * same arithmetic as q_quality's full row oracle, so the kept set is
    * bit-identical cross-engine.
    */
  private val qualityKeptCtes =
    s"""qf AS (SELECT $qualityFeatSelect
       |FROM documents),
       |qkept AS (SELECT doc_id FROM qf WHERE $qualityScoreSql >= 0.3)""".stripMargin

  /** The DuckDB mirror of [[graft.pipeline.Sampling.dyadicPow]]'s
    * sqrt-chain: same binary expansion, same ascending-depth
    * left-fold multiplication order — sqrt and × are IEEE
    * correctly-rounded in both engines, so the chain is bit-exact.
    */
  private def dyadicPowSql(x: String, alpha: Double): String = {
    require(alpha > 0.0 && alpha <= 1.0 &&
      alpha * 256.0 == math.rint(alpha * 256.0), s"non-dyadic $alpha")
    if (alpha == 1.0) x
    else {
      val bits = math.round(alpha * 256.0).toInt
      var term = x
      var acc: Option[String] = None
      for (i <- 1 to 8) {
        term = s"sqrt($term)"
        if (((bits >> (8 - i)) & 1) == 1)
          acc = Some(acc.map(a => s"($a * $term)").getOrElse(term))
      }
      acc.get
    }
  }

  val gates: Seq[Gate] = Seq(
    Gate("q_sample", qSample, {
      // 16-bit bucket from the first four md5 nibbles of the stringified
      // key; thresholds are round(rate * 65536)
      val h = "md5(CAST(doc_id AS VARCHAR))"
      val bucket = s"(${nibSql(h, 1)} * 4096 + ${nibSql(h, 2)} * 256 " +
        s"+ ${nibSql(h, 3)} * 16 + ${nibSql(h, 4)})"
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucket < CASE lang WHEN 'en' THEN 32768 WHEN 'es' THEN 65536
         |                          WHEN 'de' THEN 16384 ELSE 6554 END
         |ORDER BY doc_id""".stripMargin
    }),
    Gate("q_sample_weighted", qSampleWeighted,
      // 48-bit bucket from the first twelve md5 nibbles; keep iff
      // bucket < (tokens * c) * 2^48 — multiplications only, IEEE-exact
      // on both engines, same association order as the Spark side
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents)
         |SELECT doc_id, lang, n_tokens FROM t
         |WHERE CAST($bucket48Sql AS DOUBLE) <
         |  (CAST(n_tokens AS DOUBLE) * 0.01) * 281474976710656.0
         |ORDER BY doc_id""".stripMargin),
    Gate("q_lm_model", qLmModel,
      // the trigram count table re-derived: same codepoint substr
      // slide, same counts, same (cnt DESC, gram) ranked cut
      s"""WITH p AS (SELECT $normSql AS t FROM documents),
         |g AS (SELECT substr(t, CAST(i AS INTEGER), 3) AS gram
         |  FROM p, unnest(generate_series(1, length(t) - 2)) AS u(i)
         |  WHERE length(t) >= 3)
         |SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g
         |GROUP BY gram
         |ORDER BY cnt DESC, gram LIMIT $lmMaxTypes""".stripMargin),
    Gate("q_lm_score", qLmScore,
      // parity contract: population and short-doc count re-derived
      // independently; every document's two independently-derived
      // scores must have matched exactly
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_score_match,
         |  CAST(COUNT(*) FILTER (WHERE length($normSql) < 3) AS BIGINT)
         |    AS n_short
         |FROM documents""".stripMargin),
    Gate("q_nb_model", qNbModel,
      // every integer the NB probabilities derive from, bigram features
      // active: re-tokenize, re-derive every hashed bigram bucket
      // (md5-48bit nibbles mod nbBigramBuckets), re-cap the JOINT
      // vocabulary (count DESC, token — the shared trainer contract),
      // re-count per (label, feature), per-label doc counts
      s"""WITH ftab AS (SELECT lang,
         |    list_filter($toksSql, x -> length(x) > 0) AS f
         |  FROM documents),
         |tf AS (SELECT lang AS label,
         |    unnest(${nbFeatListSql(Some(nbBigramBuckets))}) AS token
         |  FROM ftab),
         |vocab AS (SELECT token FROM tf GROUP BY token
         |  ORDER BY COUNT(*) DESC, token LIMIT $nbMaxVocab),
         |pc AS (SELECT label, token, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM tf WHERE token IN (SELECT token FROM vocab)
         |  GROUP BY label, token),
         |dc AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT)
         |  AS label_docs FROM documents GROUP BY lang)
         |SELECT pc.label, pc.token, pc.cnt, dc.label_docs
         |FROM pc JOIN dc ON dc.label = pc.label
         |ORDER BY pc.label, pc.token""".stripMargin),
    Gate("q_nb_classify", qNbClassify,
      // parity contract (the q_lm_score pattern): DuckDB re-derives the
      // doc and doc×label populations; every per-label score and every
      // argmax label from the two independent Spark paths must have
      // matched exactly
      s"""SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
         |    AS n_docs,
         |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
         |    AS n_pred_match,
         |  CAST((SELECT COUNT(*) FROM documents) *
         |    (SELECT COUNT(DISTINCT lang) FROM documents) AS BIGINT)
         |    AS n_pairs,
         |  CAST((SELECT COUNT(*) FROM documents) *
         |    (SELECT COUNT(DISTINCT lang) FROM documents) AS BIGINT)
         |    AS n_score_match""".stripMargin),
    Gate("q_nb_eval", qNbEval, nbEvalOracleSql(None)),
    Gate("q_nb_eval_bigram", qNbEvalBigram,
      nbEvalOracleSql(Some(nbBigramBuckets))),
    Gate("q_dsir_model", qDsirModel,
      // every integer the DSIR log ratios derive from: re-tokenize,
      // re-derive every hashed unigram/bigram bucket (md5-48bit
      // nibbles mod dsirBuckets), re-count both corpora; target
      // buckets ⊆ raw buckets, so the raw side anchors the join
      s"""WITH $dsirCountCtes
         |SELECT rc.bucket, COALESCE(tc.target_cnt, 0) AS target_cnt,
         |  rc.raw_cnt
         |FROM rc LEFT JOIN tc ON tc.bucket = rc.bucket
         |ORDER BY rc.bucket""".stripMargin),
    Gate("q_dsir_score", qDsirScore,
      // parity contract (the q_nb_classify pattern): DuckDB re-derives
      // the document population; every log weight from the two
      // independent Spark paths must have matched exactly
      s"""SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
         |    AS n_docs,
         |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
         |    AS n_score_match""".stripMargin),
    Gate("q_dsir_select", qDsirSelect,
      // the full DSIR chain re-derived: counts → Laplace-smoothed ln
      // ratios (model over the raw buckets — everything scorable has
      // raw_cnt ≥ 1) → per-doc position-ordered fold → top-k by
      // (score DESC, doc_id); boundary-margin robustness spec-audited
      s"""WITH $dsirCountCtes,
         |${dsirSelectTailSql(dsirSelectK)}""".stripMargin),
    Gate("q_curation_dsir", qCurationDsir,
      // curation ∘ DSIR: the q_quality keep set (the single bit-pinned
      // formula) restricts BOTH the fit corpora and the scored corpus,
      // then the shared DSIR chain cuts the top-k among survivors
      s"""WITH $qualityKeptCtes,
         |kdocs AS (SELECT d.doc_id, d.lang, d.text
         |  FROM documents d JOIN qkept USING (doc_id)),
         |${dsirCountCtesFrom("kdocs")},
         |${dsirSelectTailSql(curationDsirK)}""".stripMargin),
    Gate("q_cluster_mix", qClusterMix, {
      // the discovered-domain mix: the shared fixed-16 quantizer
      // assignment chain (q_sim_ivf/q_semdedup's CTEs), then the
      // q_mix_plan arithmetic and the q_mix_domains 48-bit keep
      // threshold over 'cell_<n>' domains
      val tgt = clusterMixTargets.toSeq.sortBy(_._1)
        .map { case (d, f) => s"('$d', CAST($f AS DOUBLE))" }
        .mkString(", ")
      val b = s"CAST($clusterMixBudget AS DOUBLE)"
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
         |${semAssignCtes("corpus", "")},
         |t AS (SELECT d.doc_id,
         |    'cell_' || CAST(a.cell AS VARCHAR) AS domain,
         |    CAST(len($toksSql) AS BIGINT) AS n
         |  FROM documents d JOIN assign a ON a.vec_id = d.doc_id),
         |avail AS (SELECT domain, SUM(n) AS m FROM t GROUP BY domain),
         |tgt(domain, frac) AS (VALUES $tgt),
         |plan AS (SELECT COALESCE(a.domain, g.domain) AS domain,
         |    CAST(COALESCE(a.m, 0) AS BIGINT) AS avail_tokens,
         |    COALESCE(g.frac, 0.0) * $b AS target_tokens,
         |    CASE WHEN COALESCE(a.m, 0) = 0 THEN 0.0
         |         ELSE least(1.0, (COALESCE(g.frac, 0.0) * $b)
         |           / CAST(a.m AS DOUBLE)) END AS rate,
         |    greatest(0.0, COALESCE(g.frac, 0.0) * $b
         |      - CAST(COALESCE(a.m, 0) AS DOUBLE)) AS shortfall_tokens
         |  FROM avail a FULL OUTER JOIN tgt g ON a.domain = g.domain),
         |keep AS (SELECT t.domain, t.n FROM t
         |  JOIN plan p ON p.domain = t.domain
         |  WHERE CAST($bucket48Sql AS DOUBLE) <
         |    (p.rate * 1.0) * 281474976710656.0),
         |k AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS kept_docs,
         |    CAST(SUM(n) AS BIGINT) AS kept_tokens
         |  FROM keep GROUP BY domain)
         |SELECT p.domain, p.avail_tokens, p.target_tokens, p.rate,
         |  p.shortfall_tokens,
         |  CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
         |  CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
         |FROM plan p LEFT JOIN k ON k.domain = p.domain
         |ORDER BY p.domain""".stripMargin
    }),
    Gate("q_split", qSplit, {
      // every assignment replayed: the 48-bit bucket against the SAME
      // integer cut points (splitCuts), consecutive half-open ranges,
      // last split absorbs the tail
      val cuts = graft.pipeline.Sampling.splitCuts(splitSpec)
      val cases = splitSpec.init.zip(cuts)
        .map { case ((n, _), c) => s"WHEN $bucket48Sql < $c THEN '$n'" }
        .mkString(" ")
      s"""SELECT doc_id, lang,
         |  CASE $cases ELSE '${splitSpec.last._1}' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // the mix plan: rate = min(1, frac·budget / avail), saturation and
    // shortfall included; arithmetic mirrors domainMixPlan op for op
    Gate("q_mix_plan", qMixPlan,
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |avail AS (SELECT lang, SUM(n) AS m FROM t GROUP BY lang),
         |tgt(lang, frac) AS (VALUES
         |  ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.5 AS DOUBLE)),
         |  ('es', CAST(0.1 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)),
         |  ('zh', CAST(0.05 AS DOUBLE)))
         |SELECT COALESCE(a.lang, g.lang) AS lang,
         |  CAST(COALESCE(a.m, 0) AS BIGINT) AS avail_tokens,
         |  COALESCE(g.frac, 0.0) * CAST(30000 AS DOUBLE)
         |    AS target_tokens,
         |  CASE WHEN COALESCE(a.m, 0) = 0 THEN 0.0
         |       ELSE least(1.0,
         |         (COALESCE(g.frac, 0.0) * CAST(30000 AS DOUBLE))
         |           / CAST(a.m AS DOUBLE)) END AS rate,
         |  greatest(0.0, COALESCE(g.frac, 0.0) * CAST(30000 AS DOUBLE)
         |    - CAST(COALESCE(a.m, 0) AS DOUBLE)) AS shortfall_tokens
         |FROM avail a FULL OUTER JOIN tgt g ON a.lang = g.lang
         |ORDER BY lang""".stripMargin),
    // the realised keep set: per-doc 48-bit bucket vs the domain rate,
    // same association order as weightedHashSample with c = 1
    Gate("q_mix_domains", qMixDomains,
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |avail AS (SELECT lang, SUM(n_tokens) AS m FROM t GROUP BY lang),
         |tgt(lang, frac) AS (VALUES
         |  ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.5 AS DOUBLE)),
         |  ('es', CAST(0.1 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)),
         |  ('zh', CAST(0.05 AS DOUBLE))),
         |plan AS (SELECT a.lang,
         |  CASE WHEN a.m = 0 THEN 0.0
         |       ELSE least(1.0,
         |         (COALESCE(g.frac, 0.0) * CAST(30000 AS DOUBLE))
         |           / CAST(a.m AS DOUBLE)) END AS rate
         |  FROM avail a LEFT JOIN tgt g ON a.lang = g.lang)
         |SELECT t.doc_id, t.lang, t.n_tokens
         |FROM t JOIN plan p ON p.lang = t.lang
         |WHERE CAST($bucket48Sql AS DOUBLE) <
         |  (p.rate * 1.0) * 281474976710656.0
         |ORDER BY t.doc_id""".stripMargin),
    // the α-derived plan: dyadic sqrt-chain power, domain-ordered Σ
    // fold, then the same divide/multiply/min chain as q_mix_plan —
    // every double engine-exact, no transcendental anywhere
    Gate("q_mix_temperature", qMixTemperature,
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |avail AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS m
         |  FROM t GROUP BY lang),
         |pw AS (SELECT lang, m,
         |  ${dyadicPowSql("CAST(m AS DOUBLE)", mixAlpha)} AS pw
         |  FROM avail),
         |tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(pw ORDER BY lang)), (a, x) -> a + x) AS total FROM pw)
         |SELECT w.lang, w.m AS avail_tokens,
         |  w.pw / t2.total AS p,
         |  (w.pw / t2.total) * CAST($mixBudget AS DOUBLE)
         |    AS target_tokens,
         |  CASE WHEN w.m = 0 THEN 0.0
         |       ELSE least(1.0,
         |         ((w.pw / t2.total) * CAST($mixBudget AS DOUBLE))
         |           / CAST(w.m AS DOUBLE)) END AS rate,
         |  greatest(0.0, (w.pw / t2.total) * CAST($mixBudget AS DOUBLE)
         |    - CAST(w.m AS DOUBLE)) AS shortfall_tokens
         |FROM pw w CROSS JOIN tot t2 ORDER BY w.lang""".stripMargin),
    // the UNCLAMPED rate realised as copies: floor(rate) full copies
    // per doc + one (key,copy)-salted fractional threshold decision
    Gate("q_mix_upsample", qMixUpsample,
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |avail AS (SELECT lang, SUM(n_tokens) AS m FROM t GROUP BY lang),
         |tgt(lang, frac) AS (VALUES
         |  ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.5 AS DOUBLE)),
         |  ('es', CAST(0.1 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)),
         |  ('zh', CAST(0.05 AS DOUBLE))),
         |plan AS (SELECT a.lang,
         |  CASE WHEN a.m = 0 THEN 0.0
         |       ELSE (COALESCE(g.frac, 0.0) * CAST($mixBudget AS DOUBLE))
         |         / CAST(a.m AS DOUBLE) END AS rate
         |  FROM avail a LEFT JOIN tgt g ON a.lang = g.lang),
         |tp AS (SELECT t.doc_id, t.lang, t.n_tokens, p.rate
         |  FROM t JOIN plan p ON p.lang = t.lang),
         |ex AS (SELECT doc_id, lang, n_tokens,
         |    CAST(floor(rate) AS BIGINT) AS fullc,
         |    rate - floor(rate) AS frac,
         |    unnest(generate_series(0,
         |      CAST(floor(rate) AS BIGINT))) AS cp
         |  FROM tp),
         |exh AS (SELECT doc_id, lang, n_tokens, fullc, frac, cp,
         |  md5(CAST(doc_id AS VARCHAR) || '#' || CAST(cp AS VARCHAR))
         |    AS h
         |  FROM ex)
         |SELECT doc_id, lang, n_tokens, CAST(cp AS BIGINT) AS "copy"
         |FROM exh
         |WHERE cp < fullc OR
         |  CAST(${bucket48OfSql("h")} AS DOUBLE)
         |    < frac * 281474976710656.0
         |ORDER BY doc_id, cp""".stripMargin),
    // curation → drift monitor: survivors (side A) vs the raw corpus
    // (side B), the shared curation CTEs feeding the shared divergence
    // arithmetic — same exact columns as q_vocab_drift, js_term
    // excluded for the same documented ln-ULP reason
    Gate("q_curation_drift", qCurationDrift,
      s"""$curationCtes,
         |kept AS (SELECT doc_id, lang, text FROM scrub
         |         WHERE $curationKeepPred),
         |ta AS (SELECT token FROM (SELECT unnest($toksSql)
         |    AS token FROM kept)
         |  WHERE token <> ''),
         |tb AS (SELECT token FROM (SELECT unnest($toksSql)
         |    AS token FROM documents)
         |  WHERE token <> ''),
         |ca AS (SELECT token, COUNT(*) AS c_a FROM ta GROUP BY 1),
         |cb AS (SELECT token, COUNT(*) AS c_b FROM tb GROUP BY 1),
         |j AS (SELECT token, COALESCE(c_a, 0) AS c_a,
         |    COALESCE(c_b, 0) AS c_b
         |  FROM ca FULL OUTER JOIN cb USING (token)),
         |tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
         |    CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v FROM j),
         |p AS (SELECT token, c_a, c_b,
         |    CAST(c_a + 1 AS DOUBLE)
         |      / CAST((SELECT na FROM tot) + (SELECT v FROM tot)
         |        AS DOUBLE) AS p_a,
         |    CAST(c_b + 1 AS DOUBLE)
         |      / CAST((SELECT nb FROM tot) + (SELECT v FROM tot)
         |        AS DOUBLE) AS p_b
         |  FROM j)
         |SELECT token, c_a, c_b, p_a, p_b,
         |  0.5 * abs(p_a - p_b) AS tv_term
         |FROM p ORDER BY token""".stripMargin),
    // curation → α-derived rates over the SURVIVORS' mass → per-doc
    // 48-bit threshold, one chain
    Gate("q_curation_temp", qCurationTemp,
      s"""$curationCtes,
         |kept AS (SELECT doc_id, lang, text FROM scrub
         |         WHERE $curationKeepPred),
         |t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM kept),
         |avail AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS m
         |  FROM t GROUP BY lang),
         |pw AS (SELECT lang, m,
         |  ${dyadicPowSql("CAST(m AS DOUBLE)", mixAlpha)} AS pw
         |  FROM avail),
         |tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(pw ORDER BY lang)), (a, x) -> a + x) AS total FROM pw),
         |plan AS (SELECT w.lang,
         |  CASE WHEN w.m = 0 THEN 0.0
         |       ELSE least(1.0,
         |         ((w.pw / t2.total) * CAST($curTempBudget AS DOUBLE))
         |           / CAST(w.m AS DOUBLE)) END AS rate
         |  FROM pw w CROSS JOIN tot t2)
         |SELECT t.doc_id, t.lang, t.n_tokens
         |FROM t JOIN plan p ON p.lang = t.lang
         |WHERE CAST($bucket48Sql AS DOUBLE) <
         |  (p.rate * 1.0) * 281474976710656.0
         |ORDER BY t.doc_id""".stripMargin),
    // the realised keep set: the α-derived rate joined per doc, then
    // the 48-bit bucket threshold — q_mix_domains' decision chain
    Gate("q_mix_temp_sample", qMixTempSample,
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |avail AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS m
         |  FROM t GROUP BY lang),
         |pw AS (SELECT lang, m,
         |  ${dyadicPowSql("CAST(m AS DOUBLE)", mixAlpha)} AS pw
         |  FROM avail),
         |tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(pw ORDER BY lang)), (a, x) -> a + x) AS total FROM pw),
         |plan AS (SELECT w.lang,
         |  CASE WHEN w.m = 0 THEN 0.0
         |       ELSE least(1.0,
         |         ((w.pw / t2.total) * CAST($mixBudget AS DOUBLE))
         |           / CAST(w.m AS DOUBLE)) END AS rate
         |  FROM pw w CROSS JOIN tot t2)
         |SELECT t.doc_id, t.lang, t.n_tokens
         |FROM t JOIN plan p ON p.lang = t.lang
         |WHERE CAST($bucket48Sql AS DOUBLE) <
         |  (p.rate * 1.0) * 281474976710656.0
         |ORDER BY t.doc_id""".stripMargin),
    Gate("q_curation_weighted", qCurationWeighted,
      // curate → weight-sample by token budget → pack, one chain: the
      // weighted keep decision applies q_sample_weighted's exact
      // threshold to the CURATED survivors' token counts, then the
      // q_curation_pack window packs the sampled set
      s"""$curationCtes,
         |kept AS (SELECT doc_id, lang, text FROM scrub
         |         WHERE $curationKeepPred),
         |ktok AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS tokens FROM kept),
         |samp AS (SELECT * FROM ktok
         |  WHERE CAST($bucket48Sql AS DOUBLE) <
         |    (CAST(tokens AS DOUBLE) * 0.02) * 281474976710656.0),
         |kofs AS (SELECT doc_id, lang, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
         |  FROM samp)
         |SELECT doc_id, lang, tokens, "offset",
         |  CAST(floor("offset" / 128) AS BIGINT) AS bin
         |FROM kofs ORDER BY lang, doc_id""".stripMargin),
    Gate("q_curation", qCuration,
      s"""$curationCtes
         |SELECT doc_id, lang, quality, text
         |FROM scrub
         |WHERE $curationKeepPred
         |ORDER BY doc_id""".stripMargin),
    Gate("q_curation_pack", qCurationPack,
      // the curated survivors packed into 128-token bins per language
      // shard: the full training-data flow under one oracle (tokens
      // counted on the REDACTED text, as the Spark pipeline does)
      s"""$curationCtes,
         |kept AS (SELECT doc_id, lang, text FROM scrub
         |         WHERE $curationKeepPred),
         |ktok AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS tokens FROM kept),
         |kofs AS (SELECT doc_id, lang, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
         |  FROM ktok)
         |SELECT doc_id, lang, tokens, "offset",
         |  CAST(floor("offset" / 128) AS BIGINT) AS bin
         |FROM kofs ORDER BY lang, doc_id""".stripMargin),
    Gate("q_curation_sem", qCurationSem,
      // the composed curation-with-semantic-dedup chain: the quality
      // gate's survivors (same formula as q_quality) restrict BOTH the
      // dedup corpus and the centroid seeds (lowest 16 SURVIVING ids,
      // exactly as buildIvfIndex seeds from the filtered frame), then
      // the full SemDeDup survivor derivation runs over that subset
      s"""WITH RECURSIVE $qualityKeptCtes,
         |corpus AS (SELECT e.vec_id, e.embedding FROM embeddings e
         |           JOIN qkept k ON k.doc_id = e.vec_id),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
         |${semAssignCtes("corpus", "")},
         |${semPairCtes("assign", "corpus", "assign", "corpus",
          "b.vec_id > a.vec_id")},
         |$semSurvivorCtes
         |SELECT d.doc_id, d.lang FROM documents d
         |JOIN qkept k ON k.doc_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY d.doc_id""".stripMargin),
  )
}
