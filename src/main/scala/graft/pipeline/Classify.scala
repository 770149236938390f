package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained document classification for curation pipelines — the
  * "quality / domain classifier" slot the public LLM-data recipes fill
  * with a linear bag-of-words model (fastText in CCNet, Joulin et al.
  * 2016; a logistic classifier over reference-vs-crawl text in GPT-3's
  * CommonCrawl filtering, Brown et al. 2020 appendix A): train on
  * labeled documents, score every corpus document, gate or route on the
  * predicted label. The model here is multinomial Naive Bayes with
  * Laplace smoothing (McCallum & Nigam 1998) — the classical counted
  * form of that slot, chosen because training IS one hash aggregation
  * (label × token counts), so it distributes exactly like the tokenizer
  * trainers: the corpus collapses to a vocabulary-bounded count table,
  * only that reaches the driver, and serving is a narrow broadcast-model
  * closure, stateless and streaming-safe.
  *
  * Every stored probability derives from exact integer counts via a
  * pinned op order (int→double divide, then one `math.log`), so the
  * whole model is reproducible from the count table — the `q_nb_model`
  * gate value-checks those integers cross-engine, and `q_nb_classify`
  * re-derives every document's per-label score through an independent
  * in-query path (join + position-ordered fold over the SAME stored
  * doubles) that must match the production closure bit-for-bit.
  */
object Classify {

  /** A trained multinomial NB model. `labels` ascending (binary
    * collation); `logLik(label)(token)` = ln((cnt + α) / (tot_label +
    * α·|V|)); `logOov(label)` the same with cnt = 0 — any token outside
    * the (possibly capped) vocabulary scores the smoothed floor, so
    * serving never throws on unseen text. Driver/executor state is
    * O(|labels|·|V|) doubles — vocabulary-bounded, never corpus-bounded.
    */
  final case class NbModel(labels: IndexedSeq[String],
      logPrior: Map[String, Double],
      logLik: Map[String, Map[String, Double]],
      logOov: Map[String, Double]) {
    require(labels.nonEmpty, "NbModel needs at least one label")

    /** Position-ordered score of a tokenized document under one label —
      * THE scoring definition (prior, then one add per non-empty token
      * in document order). Exposed so the parity gate's independent
      * fold provably replays the same sequence of IEEE adds.
      */
    def score(label: String, toks: Seq[String]): Double = {
      val lik = logLik(label); val oov = logOov(label)
      var s = logPrior(label)
      toks.foreach { t =>
        if (t.nonEmpty) s += lik.getOrElse(t, oov)
      }
      s
    }

    /** Predicted label: argmax score, ties to the SMALLER label (the
      * ascending scan only replaces on a strictly greater score).
      */
    def classify(toks: Seq[String]): String = {
      var best = labels.head
      var bestScore = score(labels.head, toks)
      var i = 1
      while (i < labels.length) {
        val s = score(labels(i), toks)
        if (s > bestScore) { best = labels(i); bestScore = s }
        i += 1
      }
      best
    }
  }

  /** fastText-style hashed-bigram feature stream (Joulin et al. 2016
    * §2.1 — subword/word n-grams hashed into a bounded bucket space,
    * the published accuracy lever for linear bag-of-words
    * classifiers): the NON-EMPTY tokens of `toks` in order, followed
    * by one pseudo-token per ADJACENT token pair — `"bg <bucket>"`,
    * bucket = 48-bit md5 of `"<a> <b>"` mod `buckets` (the
    * [[Sampling.hashBucket48]] hash, so an external oracle replays
    * every bucket with the same nibble arithmetic). The embedded SPACE
    * in the pseudo-token makes collision with a real token impossible
    * (whitespace-split tokens cannot contain one), and the bucket
    * count bounds the bigram vocabulary regardless of corpus size —
    * the features ride the SAME capped type-table contract as the
    * unigrams. A null token array stays null (the serving UDFs'
    * degrade-never-throw posture).
    */
  def bigramFeatures(toks: Column, buckets: Int): Column = {
    require(buckets > 0, s"bigramBuckets must be > 0, got $buckets")
    val ft = filter(toks, t => length(t) > 0)
    val n = size(ft)
    val bg = zip_with(slice(ft, lit(1), n - 1), slice(ft, lit(2), n - 1),
      (a, b) => concat(lit("bg "),
        (Sampling.hashBucket48(concat(a, lit(" "), b)) % buckets)
          .cast("string")))
    when(toks.isNull, lit(null).cast("array<string>"))
      .otherwise(concat(ft,
        when(n <= 1, array().cast("array<string>")).otherwise(bg)))
  }

  /** The feature stream training and serving must SHARE: whitespace
    * tokens, plus [[bigramFeatures]] when `bigramBuckets` is set —
    * one definition, so a featurized model can never be served
    * unigram-only (or vice versa) by accident.
    */
  def features(text: Column, bigramBuckets: Option[Int]): Column = {
    val t = TextOps.tokens(text)
    bigramBuckets.fold(t)(b => bigramFeatures(t, b))
  }

  /** The distributed half of training, exposed as THE single
    * definition the `q_nb_model` gate also renders: (label, in-vocab
    * feature) counts over `df`'s (`labelCol`, whitespace-tokenized
    * `textCol` — plus hashed bigrams when `bigramBuckets` is set, see
    * [[bigramFeatures]]). The vocabulary is global, under the SAME
    * deterministic cap contract every tokenizer family uses
    * ([[graft.functions.BpeTrainer.cappedTypeCounts]] — top-`maxVocab`
    * by (count DESC, token), codepoint ties) and rides into the count
    * scan as a broadcast semi-join (a literal `isin` of the whole
    * vocabulary would be the inline-literal JIT-cliff shape). Null
    * labels raise loudly — a null routing class would silently absorb
    * mass.
    */
  def pairCounts(df: DataFrame, labelCol: String, textCol: String,
      maxVocab: Option[Int] = None,
      bigramBuckets: Option[Int] = None): DataFrame = {
    val toks = features(col(textCol), bigramBuckets)
    val exploded = df
      .select(labelGuard(labelCol).as("label"),
        explode(toks).as("token"))
      .filter(length(col("token")) > 0)
    // uncapped, the vocabulary IS every non-empty token — the semi-join
    // would filter nothing while broadcasting a corpus-bounded type
    // table to the driver; only a real cap pays for the join
    val inVocab = maxVocab.fold(exploded) { n =>
      val vocabDf = graft.functions.BpeTrainer
        .cappedTypeCounts(df, toks, Some(n))
        .select(col("piece"))
      exploded.join(broadcast(vocabDf), col("token") === col("piece"),
        "left_semi")
    }
    inVocab.groupBy("label", "token").agg(count(lit(1)).as("cnt"))
  }

  /** Per-label document counts — the prior's integers. */
  def docCounts(df: DataFrame, labelCol: String): DataFrame =
    df.groupBy(labelGuard(labelCol).as("label"))
      .agg(count(lit(1)).as("docs"))

  private def labelGuard(labelCol: String): Column =
    when(col(labelCol).isNull,
        raise_error(lit("Classify: null label")))
      .otherwise(col(labelCol).cast("string"))

  /** Train on `df`'s (`labelCol`, tokenized `textCol`): collect the
    * vocabulary-bounded [[pairCounts]] and [[docCounts]] tables (the
    * cap bounds driver state on any corpus — the tokenizer trainers'
    * collect contract) and assemble the model's doubles driver-side.
    * Null/empty texts train as zero tokens and classify to the
    * max-prior label, matching serving.
    */
  def train(df: DataFrame, labelCol: String, textCol: String,
      alpha: Double = 1.0, maxVocab: Option[Int] = None,
      bigramBuckets: Option[Int] = None): NbModel = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    val pairs = pairCounts(df, labelCol, textCol, maxVocab, bigramBuckets)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toIndexedSeq
    val dc = docCounts(df, labelCol).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every vocabulary token has corpus count >= 1, so it appears under
    // at least one label: |V| = the pair table's distinct tokens
    buildModel(dc, pairs, pairs.map(_._2).distinct.length.toLong, alpha)
  }

  /** Labels and vocabulary sort in CODEPOINT order (= Spark/DuckDB
    * binary collation), NOT Java's UTF-16 code-unit order — the same
    * divergence every trainer family pins (it matters only between
    * [U+E000, U+FFFF] and astral labels, but the q_nb_classify argmax
    * window ties under binary collation, so the scan order must match).
    */
  private val cpOrdering: Ordering[String] =
    (a, b) => graft.functions.BpeTrainer.codepointCompare(a, b)

  /** The driver-side model assembly over exact integer counts —
    * package-visible so specs can drive it on hand-built tables. Op
    * order pinned: every log likelihood is
    * `math.log((cnt + α) / (tot + α·V))` over int→double conversions.
    */
  private[graft] def buildModel(docCounts: Map[String, Long],
      pairCounts: Seq[(String, String, Long)], vocabSize: Long,
      alpha: Double): NbModel = {
    require(docCounts.nonEmpty, "Classify.train: empty training frame")
    require(vocabSize > 0,
      "Classify.train: empty vocabulary (all texts empty, or maxVocab " +
        "= 0) — every likelihood denominator would be 0 and serving " +
        "would silently route every document to the first label")
    val labels = docCounts.keysIterator.toIndexedSeq.sorted(cpOrdering)
    val nDocs = docCounts.valuesIterator.sum
    val logPrior = docCounts.map { case (l, n) =>
      l -> math.log(n.toDouble / nDocs) }
    val byLabel = pairCounts.groupBy(_._1)
    val tokTotals = byLabel.view.mapValues(_.map(_._3).sum).toMap
    def lik(label: String, cnt: Long): Double = {
      val tot = tokTotals.getOrElse(label, 0L)
      math.log((cnt + alpha) / (tot + alpha * vocabSize))
    }
    val logLik = labels.map { l =>
      l -> byLabel.getOrElse(l, Seq.empty)
        .map { case (_, t, c) => t -> lik(l, c) }.toMap
    }.toMap
    val logOov = labels.map(l => l -> lik(l, 0L)).toMap
    NbModel(labels, logPrior, logLik, logOov)
  }

  /** The serving classifier as a narrow broadcast-model closure over
    * the tokenized text (null array → null label, degrade-never-throw
    * like the other serving UDFs) — stateless, so it attaches to a
    * stream exactly like the tokenizer encode UDFs.
    */
  def classifyUdf(model: NbModel): Column => Column = {
    val f = udf { (toks: Seq[String]) =>
      if (toks == null) None else Some(model.classify(toks))
    }
    c => f(c)
  }

  /** Per-label document score as a closure UDF — the production half
    * the parity gate compares against its independent in-query fold.
    */
  def scoreUdf(model: NbModel, label: String): Column => Column = {
    require(model.labels.contains(label), s"unknown label $label")
    val f = udf { (toks: Seq[String]) =>
      if (toks == null) None else Some(model.score(label, toks))
    }
    c => f(c)
  }

  /** The model's stored per-token doubles as a frame — (`label`,
    * `token`, `log_lik`) — so an INDEPENDENT query path can re-score
    * documents by joining these very values (no re-derivation of the
    * transcendentals) and folding them in position order. Pairs with
    * [[labelDf]].
    */
  def likDf(spark: org.apache.spark.sql.SparkSession,
      model: NbModel): DataFrame = {
    import spark.implicits._
    model.labels.flatMap { l =>
      model.logLik(l).toSeq.sortBy(_._1)(cpOrdering)
        .map { case (t, v) => (l, t, v) }
    }.toDF("label", "token", "log_lik")
  }

  /** The model's per-label doubles — (`label`, `log_prior`,
    * `log_oov`) — the other half of the parity join.
    */
  def labelDf(spark: org.apache.spark.sql.SparkSession,
      model: NbModel): DataFrame = {
    import spark.implicits._
    model.labels.map(l => (l, model.logPrior(l), model.logOov(l)))
      .toDF("label", "log_prior", "log_oov")
  }

  /** Persist a trained model as two parquet sidecars (`$path/labels`,
    * `$path/lik`) — the tokenizer families' vocab-persistence pattern:
    * train once, serve from the artifact later. The stored doubles ARE
    * the model (no retraining on load), so [[loadModel]] round-trips
    * bit-exactly — spec-pinned.
    */
  def writeModel(spark: org.apache.spark.sql.SparkSession,
      model: NbModel, path: String): Unit = {
    labelDf(spark, model).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/labels")
    likDf(spark, model).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lik")
  }

  /** Load a model written by [[writeModel]]. Both sidecars are
    * label/vocabulary-bounded — the collect contract every model load
    * in this package shares.
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): NbModel = {
    val lab = spark.read.parquet(s"$path/labels").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    require(lab.nonEmpty, s"no labels found under $path/labels")
    val lik = spark.read.parquet(s"$path/lik").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1)
    NbModel(lab.map(_._1).toIndexedSeq.sorted(cpOrdering),
      lab.map(t => t._1 -> t._2).toMap,
      lab.map(t => t._1 -> lik.getOrElse(t._1, Array.empty)
        .map(x => x._2 -> x._3).toMap).toMap,
      lab.map(t => t._1 -> t._3).toMap)
  }
}
