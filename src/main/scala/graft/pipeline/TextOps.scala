package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extensions beyond the reference's masking surface; the
  * reference itself has no text analytics — SURVEY.md §2.7–2.10).
  *
  * Everything here is a pure Catalyst `Column` expression or a narrow
  * per-row transformation: no UDFs, no shuffles, whole-stage codegen all the
  * way — a 100 TB corpus maps over these at scan speed. Two hash families
  * are provided where hashing is involved:
  *
  *  - `md5`-string based — portable (any ANSI-SQL oracle can re-derive it),
  *    used by the CORRECTNESS queries;
  *  - `xxhash64` based — ~10× cheaper, the recommended production path.
  */
object TextOps {

  /** Whitespace-collapsed, trimmed, lowercased view of a document. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Unicode canonical (NFC) normalization — run BEFORE any hash-based
    * operator (shingles, MinHash, SimHash, winnowing, exact dedup):
    * composed `é` and decomposed `e`+U+0301 are the SAME text but
    * different bytes, so without it equal documents can fail to dedup.
    * Auto-upgrades to the codegen'd [[graft.plans.NfcNormalize]] when
    * the session registered `GraftExtensions`; the JDK-Normalizer UDF
    * fallback is value-identical.
    */
  def nfcNormalize(text: Column): Column =
    if (graft.plans.GraftExtensions.hasNative("nfc_normalize"))
      call_function("nfc_normalize", text)
    else {
      val f = udf((s: String) =>
        if (s == null) null
        else java.text.Normalizer.normalize(s,
          java.text.Normalizer.Form.NFC))
      f(text)
    }

  /** URL canonicalization — the key function behind web-corpus URL
    * dedup (C4 and CCNet both dedup crawl snapshots BY NORMALIZED URL
    * before any content pass; RFC 3986 §6 "normalization and
    * comparison"). A pure `Column` expression chain — regexp/lower/
    * concat only, whole-stage codegen, no UDF — and every step is
    * ANSI-SQL-replayable, so the DuckDB oracle re-derives canonical
    * forms byte-for-byte (`q_url_dedup`). Steps, in order:
    *
    *  1. scheme and host(:port) lowercased (RFC 3986 §6.2.2.1); path,
    *     query VALUES keep their case (they are case-sensitive);
    *  2. default port stripped (`:80` for http, `:443` for https);
    *  3. fragment dropped (never sent to the server);
    *  4. tracking parameters removed (`utm_*`, `fbclid`, `gclid` — the
    *     CCNet-style crawl-dedup hygiene), remaining parameter ORDER
    *     preserved (reordering is NOT semantics-preserving in general);
    *  5. duplicate slashes in the path collapsed, trailing slashes
    *     stripped (root `/` canonicalizes to the bare authority);
    *  6. an empty residual query drops its `?`.
    *
    * Non-URL input degrades safely: a string without `scheme://` is
    * returned unchanged (null in, null out). No percent-decoding is
    * attempted — decoding unreserved characters is safe per RFC 3986
    * §6.2.2.2 but needs a byte-level pass the SQL twin could not
    * replay exactly, so equality stays conservative (never merges two
    * genuinely different URLs).
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = lower(regexp_extract(rest, "^([^/?#]*)", 1))
    val host = when(scheme === "http",
        regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val pathQF = regexp_replace(rest, "^[^/?#]*", "")
    val rawPath = regexp_extract(pathQF, "^([^?#]*)", 1)
    val path = regexp_replace(
      regexp_replace(rawPath, "/{2,}", "/"), "/+$", "")
    val rawQuery = regexp_extract(pathQF, "\\?([^#]*)", 1)
    val noTrack = regexp_replace(rawQuery,
      "(^|&)(utm_[^=&]*|fbclid|gclid)=[^&]*", "$1")
    val query = regexp_replace(
      regexp_replace(noTrack, "&{2,}", "&"), "^&+|&+$", "")
    when(scheme === "", url) // not a URL: unchanged (null stays null)
      .otherwise(concat(scheme, lit("://"), host, path,
        when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish sub-word segmentation: splits on whitespace AND punctuation
    * boundaries, keeping digits/word chars together — a cheap, deterministic
    * stand-in for tokenizer-based counting at corpus-audit time. For real
    * merges-table tokenization see [[graft.functions.Bpe]].
    */
  def subwordCount(text: Column): Column =
    size(filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0))

  /** Word k-shingles from an already-materialised tokens column. Feed this
    * a concrete column (project [[tokens]] in a parent select first) — the
    * lambda references the array k·n times, and an inlined `tokens(text)`
    * would re-run the normalize+split per reference.
    */
  def shinglesOfTokens(toks: Column, k: Int): Column = {
    val n = size(toks)
    val idx = sequence(lit(1), n - lit(k - 1))
    when(n >= k,
      transform(idx, i => concat_ws(" ",
        (0 until k).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Word k-shingles straight from the text column; convenience form — for
    * hot paths prefer the two-step [[shinglesOfTokens]] projection.
    */
  def wordShingles(text: Column, k: Int): Column =
    shinglesOfTokens(tokens(text), k)

  /** Language-ID by stop-word profile hit counts — the classic cheap n-gram
    * heuristic: score each candidate language by how many of its
    * high-frequency function words appear in the token stream; argmax wins,
    * 'und' on an all-zero tie. Profiles are tiny public stop-word lists.
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"))

  def langHits(text: Column, profile: Seq[String]): Column =
    size(filter(tokens(text),
      t => array_contains(array(profile.map(lit): _*), t)))

  def langId(text: Column): Column = {
    val scored = langProfiles.toSeq.sortBy(_._1)
      .map { case (l, p) => (l, langHits(text, p)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality-score feature family: token count, mean token length,
    * punctuation ratio, stop-word ratio. Ratios are int/int double
    * divisions — bit-deterministic on any engine.
    */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  def stopwordHits(text: Column): Column =
    langHits(text, langProfiles("en"))

  /** Composite quality score in [0,1]: rewards mid-length docs, penalises
    * punctuation soup and stop-word-free keyword stuffing.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val lenScore = least(n / lit(64.0), lit(1.0))
    val punctRatio = punctCount(text).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))
    val stopRatio = stopwordHits(text).cast("double") / greatest(n, lit(1.0))
    least(greatest(
      lenScore * lit(0.5) + least(stopRatio * lit(5.0), lit(1.0)) * lit(0.3) +
        (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0))) * lit(0.2),
      lit(0.0)), lit(1.0))
  }

  /** Character n-gram slide of a (normalized) text column — every
    * length-`n` window as an `array<string>`, counting CODEPOINTS (the
    * same character semantics Spark's `substr`/`length` and DuckDB's
    * `substr` use, so an oracle replays the gram set). Texts shorter
    * than `n` — and null texts, matching the old `when` guard's
    * null-condition fall-through — yield an empty array.
    *
    * ONE linear left-to-right pass as a jitted closure. This was
    * `transform(sequence(1, len−n+1), i => substr(i, n))` — but
    * Spark's codepoint `substr` WALKS THE STRING FROM THE START on
    * every call to locate position `i`, making the slide O(len²) PER
    * DOCUMENT (measured: 14 s to slide 1.5M trigrams out of 5k ~1.5KB
    * docs; a 100 KB web document would pay ~10¹⁰ steps). The closure
    * keeps two running UTF-16 indices (window start and end) and
    * advances each by one codepoint per emitted gram — O(len), astral
    * pair exact.
    */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val f = udf { (s: String) =>
      if (s == null) Seq.empty[String]
      else {
        val L = s.length
        var e = 0
        var k = 0
        while (k < n && e < L) {
          e += Character.charCount(s.codePointAt(e)); k += 1
        }
        if (k < n) Seq.empty[String]
        else {
          val out = Seq.newBuilder[String]
          var i = 0
          var done = false
          while (!done) {
            out += s.substring(i, e)
            if (e >= L) done = true
            else {
              e += Character.charCount(s.codePointAt(e))
              i += Character.charCount(s.codePointAt(i))
            }
          }
          out.result()
        }
      }
    }
    f(text)
  }

  /** Character n-gram language-model TRAINING: the corpus collapsed to
    * a `(gram, cnt)` count table in ONE hash aggregation over the
    * [[charNgrams]] explode — the CCNet-style quality-filter model
    * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", arXiv:1911.00359, uses a KenLM
    * word-LM; a character LM is the tokenizer-free equivalent at a
    * fraction of the state). `maxTypes` caps the table at the top-N by
    * (count DESC, gram) — the deterministic tie-break making the cut
    * value-reproducible — via a driver-bounded `TakeOrdered`, the
    * [[graft.functions.BpeTrainer.cappedTypeCounts]] discipline: model
    * size is bounded by the CAP, never the corpus.
    */
  def charNgramCounts(df: DataFrame, textCol: String, n: Int,
      maxTypes: Option[Int] = None): DataFrame = {
    maxTypes.foreach(m => require(m >= 1, s"maxTypes must be >= 1: $m"))
    val counts = df
      .select(explode(charNgrams(normalize(col(textCol)), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
    maxTypes.fold(counts)(m =>
      counts.orderBy(col("cnt").desc, col("gram")).limit(m))
  }

  /** A trained character-LM: add-`alpha` smoothed gram probabilities
    * over a (capped) count table. `logProb` of an unseen gram is the
    * floor `log(alpha / denom)` — smoothing reserves mass for exactly
    * one unseen type, the usual Laplace shape. Broadcast-size by the
    * [[charNgramCounts]] cap contract.
    */
  final case class CharLm(n: Int, counts: Map[String, Long],
      alpha: Double = 0.5) extends Serializable {
    require(n >= 1, s"n must be >= 1, got $n")
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    require(counts.nonEmpty, "model must be non-empty")
    val total: Double = counts.valuesIterator.sum.toDouble
    /** The shared probability denominator: total + α·(V+1). */
    val denom: Double = total + alpha * (counts.size.toDouble + 1.0)
    def logProb(gram: String): Double =
      math.log((counts.getOrElse(gram, 0L).toDouble + alpha) / denom)
    /** Mean gram log-probability of a NORMALIZED text (0.0 for texts
      * shorter than `n` — no grams, no evidence), grams slid by
      * codepoints and summed left to right (the order contract the
      * `q_lm_score` parity gate replays).
      */
    def score(text: String): Double = {
      if (text == null) return 0.0
      val cps = text.codePointCount(0, text.length)
      if (cps < n) return 0.0
      var s = 0.0
      var i = 0
      var g = 0
      while (g < cps - n + 1) {
        val end = {
          var e = i
          var k = 0
          while (k < n) { e += Character.charCount(text.codePointAt(e)); k += 1 }
          e
        }
        s += logProb(text.substring(i, end))
        i += Character.charCount(text.codePointAt(i))
        g += 1
      }
      s / (cps - n + 1)
    }
  }

  /** Train a [[CharLm]]: [[charNgramCounts]] collected (bounded by the
    * cap) into the broadcastable model.
    */
  def charLm(df: DataFrame, textCol: String, n: Int, maxTypes: Int,
      alpha: Double = 0.5): CharLm =
    CharLm(n,
      charNgramCounts(df, textCol, n, Some(maxTypes))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      alpha)

  /** [[CharLm.score]] as a column function over a NORMALIZED text
    * column (pass `TextOps.normalize(col(...))` — scoring must see the
    * same normalization training saw). Model broadcast once; narrow,
    * stateless, streaming-safe — the filter stage keeps or drops each
    * document by thresholding the returned mean log-probability
    * (CCNet's head/middle/tail perplexity banding is two thresholds on
    * this column).
    */
  def lmScoreUdf(spark: org.apache.spark.sql.SparkSession,
      lm: CharLm): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(lm)
    udf((s: String) => bc.value.score(s))
  }

  /** Thresholds for [[gopherRules]] — defaults are the published
    * Gopher repetition-free quality heuristics (Rae et al.,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", arXiv:2112.11446, Table A1): word-count and
    * mean-word-length windows, symbol-to-word ratio cap (`#` and
    * `...`), bullet-start / ellipsis-end line-fraction caps, minimum
    * fraction of words with an alphabetic character, minimum stop-word
    * hits.
    */
  case class GopherConfig(
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1,
      maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      minStopwordHits: Int = 2)

  /** The seven gopher feature expressions over a text Column, in
    * output order — ONE definition shared by [[gopherRules]] (the
    * per-doc decision table) and [[gopherKeep]] (the inline predicate),
    * so the two can never drift.
    */
  private def gopherFeatureCols(text: Column): Seq[(String, Column)] = {
    val nrm = normalize(text)
    val toks = tokens(text)
    val n = size(toks)
    val nd = n.cast("double")
    val meanWordLen =
      (length(nrm) - (n - 1)).cast("double") / nd
    val nHash = length(text) - length(regexp_replace(text, "#", ""))
    val nEll =
      (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolRatio = (nHash + nEll).cast("double") / nd
    val alphaFrac =
      size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / nd
    val lines = split(text, "\n")
    val nl = size(lines).cast("double")
    val bulletFrac = size(filter(lines,
      l => l.rlike("^\\s*[-•*] "))).cast("double") / nl
    val ellipsisFrac = size(filter(lines,
      l => l.rlike("\\.\\.\\.\\s*$"))).cast("double") / nl
    Seq("n_words" -> n, "mean_word_len" -> meanWordLen,
      "symbol_word_ratio" -> symbolRatio,
      "alpha_word_frac" -> alphaFrac,
      "bullet_line_frac" -> bulletFrac,
      "ellipsis_line_frac" -> ellipsisFrac,
      "stop_hits" -> stopwordHits(text))
  }

  /** The seven-rule keep conjunction as a PURE Column over a text
    * column — for pipelines that only need the verdict (e.g.
    * [[graft.pipeline.Curation.dataCard]]'s aggregate): zero joins,
    * zero extra scans, just the same expressions [[gopherRules]]
    * tables.
    */
  def gopherKeep(text: Column,
      cfg: GopherConfig = GopherConfig()): Column = {
    val f = gopherFeatureCols(text).toMap
    f("n_words").between(cfg.minWords, cfg.maxWords) &&
      f("mean_word_len").between(cfg.minMeanWordLen, cfg.maxMeanWordLen) &&
      f("symbol_word_ratio") <= cfg.maxSymbolWordRatio &&
      f("bullet_line_frac") <= cfg.maxBulletLineFrac &&
      f("ellipsis_line_frac") <= cfg.maxEllipsisLineFrac &&
      f("alpha_word_frac") >= cfg.minAlphaWordFrac &&
      f("stop_hits") >= cfg.minStopwordHits
  }

  /** Gopher-style composite rule filter: per doc, every feature, every
    * per-rule verdict, and the conjunction `keep` — the decision table
    * a curation run audits before applying (keep the flags; a bare
    * boolean hides WHY a doc died). Pure Column arithmetic + two
    * higher-order filters — narrow, codegen-friendly, zero shuffles;
    * every ratio is an int/int double division so any engine
    * reproduces the bits. Features:
    * `n_words`, `mean_word_len` (derived from the normalized text's
    * length — words are single-space joined, so total word chars =
    * len − (n−1)), `symbol_word_ratio` (`#` + `...` occurrences per
    * word), `alpha_word_frac`, `bullet_line_frac` (lines starting
    * `-`/`•`/`*` + space), `ellipsis_line_frac` (lines ending `...`),
    * `stop_hits`.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      cfg: GopherConfig = GopherConfig()): DataFrame = {
    val feats = gopherFeatureCols(col(textCol))
    df.select(col(idCol) +: feats.map { case (nm, c) => c.as(nm) }: _*)
      .withColumn("ok_words", col("n_words").between(
        cfg.minWords, cfg.maxWords))
      .withColumn("ok_mean_len", col("mean_word_len").between(
        cfg.minMeanWordLen, cfg.maxMeanWordLen))
      .withColumn("ok_symbols",
        col("symbol_word_ratio") <= cfg.maxSymbolWordRatio)
      .withColumn("ok_bullets",
        col("bullet_line_frac") <= cfg.maxBulletLineFrac)
      .withColumn("ok_ellipsis",
        col("ellipsis_line_frac") <= cfg.maxEllipsisLineFrac)
      .withColumn("ok_alpha",
        col("alpha_word_frac") >= cfg.minAlphaWordFrac)
      .withColumn("ok_stopwords", col("stop_hits") >= cfg.minStopwordHits)
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_symbols") &&
          col("ok_bullets") && col("ok_ellipsis") && col("ok_alpha") &&
          col("ok_stopwords"))
  }

  /** [[gopherRules]] plus Gopher's REPETITION caps — the full published
    * filter: the narrow rule table joined with [[repetitionStats]]' two
    * aggregate signals (most-frequent-word share, duplicate-bigram
    * fraction), each capped, with `keep` tightened to the conjunction
    * of all nine rules. The repetition side is the only aggregating
    * stage (one explode + two doc-keyed hash aggregates); everything
    * else stays a narrow scan. LEFT join: a doc with no token rows
    * (null text) keeps its row with null repetition features — the
    * decision table reports every input doc, same as [[gopherRules]].
    */
  def gopherRulesFull(df: DataFrame, idCol: String, textCol: String,
      cfg: GopherConfig = GopherConfig(),
      maxTopWordFrac: Double = 0.2,
      maxDupBigramFrac: Double = 0.2): DataFrame =
    gopherRules(df, idCol, textCol, cfg)
      .join(repetitionStats(df, idCol, textCol)
          .select(col(idCol), col("top_word_frac"),
            col("dup_bigram_frac")),
        Seq(idCol), "left")
      .withColumn("ok_top_word", col("top_word_frac") <= maxTopWordFrac)
      .withColumn("ok_dup_bigram",
        col("dup_bigram_frac") <= maxDupBigramFrac)
      .withColumn("keep",
        col("keep") && col("ok_top_word") && col("ok_dup_bigram"))

  /** C4 cleaning thresholds (Raffel et al. 2020 §2.2, "Exploring the
    * Limits of Transfer Learning" — the published c4 heuristics).
    * Published values: lines must end in terminal punctuation and carry
    * ≥ 3 words; pages need ≥ 5 sentences; pages with code braces,
    * "lorem ipsum", or a blocklisted word are dropped entirely.
    * `badWords` entries must be plain `[A-Za-z0-9]+` words — they are
    * interpolated into a word-boundary regex.
    */
  case class C4Config(
      minLineWords: Int = 3,
      minSentences: Int = 5,
      badWords: Seq[String] = Seq.empty) {
    require(badWords.forall(_.matches("[A-Za-z0-9]+")),
      s"badWords must be plain alphanumeric words, got $badWords")
  }

  /** The C4 per-LINE keep predicate as a pure Column: ends in terminal
    * punctuation (`.` `!` `?` or a closing double quote), has at least
    * `minLineWords` whitespace words, and does not mention the word
    * "javascript" (case-insensitive, word-bounded) — the three
    * line-level rules of the published filter.
    */
  def c4LineKeep(line: Column, minLineWords: Int = 3): Column =
    line.rlike("[.!?\"]\\s*$") &&
      size(split(trim(line), "\\s+")) >= minLineWords &&
      !lower(line).rlike("\\bjavascript\\b")

  /** C4 page filter (Raffel et al. 2020 §2.2) as an auditable decision
    * table, companion to [[gopherRules]]: one row per input page with
    * every feature, every per-rule verdict, the cleaned text (only the
    * kept lines, original order), and the final `keep`.
    *
    * Line rules ([[c4LineKeep]]) REWRITE the page: failing lines are
    * cut. Page rules DROP it: a code brace anywhere, the phrase
    * "lorem ipsum", any blocklisted word (all judged on the RAW text,
    * as published), or fewer than `minSentences` sentences AFTER line
    * cleaning — sentences counted as `.` `!` `?` occurrences in the
    * cleaned text.
    *
    * 100 TB shape: every column is a narrow per-row expression over the
    * page text — no shuffle, no join, no UDF; the filter runs at scan
    * speed and composes with [[graft.pipeline.Dedup.dropDuplicateLines]]
    * (CCNet line dedup) for the full public C4+CCNet cleaning recipe.
    */
  def c4Rules(pages: DataFrame, idCol: String, textCol: String,
      cfg: C4Config = C4Config()): DataFrame = {
    val text = col(textCol)
    val lines = split(text, "\n")
    val kept = filter(lines, l => c4LineKeep(l, cfg.minLineWords))
    val cleaned = array_join(kept, "\n")
    val nSentences =
      (length(cleaned) - length(regexp_replace(cleaned, "[.!?]", "")))
        .cast("bigint")
    val hasBad =
      if (cfg.badWords.isEmpty) lit(false)
      else lower(text).rlike("\\b(" + cfg.badWords.mkString("|") + ")\\b")
    pages.select(
        col(idCol),
        size(lines).cast("bigint").as("n_lines"),
        size(kept).cast("bigint").as("n_kept_lines"),
        cleaned.as("clean_text"),
        nSentences.as("n_sentences"),
        text.contains("{").as("has_brace"),
        lower(text).contains("lorem ipsum").as("has_lorem"),
        hasBad.as("has_bad_word"))
      .withColumn("ok_sentences",
        col("n_sentences") >= cfg.minSentences)
      .withColumn("keep",
        !col("has_brace") && !col("has_lorem") && !col("has_bad_word") &&
          col("ok_sentences"))
  }

  /** 16-bit SimHash over the token stream, md5-nibble variant (oracle-
    * portable). Per token t and bit b: the b-th bit of the first 4 nibbles
    * of md5(t); sum of (2·bit−1) over tokens; sign → bit of the signature.
    * Returned as (doc rows × 16 bit rows) partial — see [[simHash16]] for
    * the aggregated form.
    *
    * The production variant is [[simHash64]]: xxhash64 bits, no string
    * hashing, same shape.
    */
  def simHash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // hash once per token; then ONE aggregate with 16 literal-bit sum
    // columns — no 16-way row explode, no second shuffle
    val toks = df.select(col(idCol),
        explode(tokens(col(textCol))).as("__tok"))
      .select(col(idCol), md5(col("__tok")).as("__md5"))
    def contrib(b: Int): Column = {
      val nib = conv(substring(col("__md5"), b / 4 + 1, 1), 16, 10)
        .cast("double")
      when(floor(nib / math.pow(2, b % 4)).cast("long") % 2 === 1, lit(1))
        .otherwise(lit(-1))
    }
    val sums = toks.groupBy(col(idCol))
      .agg(sum(contrib(0)).as("__s0"),
        (1 until 16).map(b => sum(contrib(b)).as(s"__s$b")): _*)
    sums.select(col(idCol),
      (0 until 16).map(b =>
          when(col(s"__s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** 64-bit SimHash, xxhash64 variant — the scale path (integer hashing,
    * bit ops, no strings).
    */
  def simHash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
        explode(tokens(col(textCol))).as("__tok"))
      .select(col(idCol), xxhash64(col("__tok")).as("__h"))
    val bits = toks.select(col(idCol), col("__h"),
      explode(sequence(lit(0), lit(63))).as("__b"))
    bits.select(col(idCol), col("__b"),
        when(expr("shiftright(__h, __b) & 1") === 1L, lit(1)).otherwise(lit(-1))
          .as("__c"))
      .groupBy(idCol, "__b")
      .agg(sum("__c").as("__s"))
      .groupBy(idCol)
      .agg(sum(when(col("__s") >= 0, expr("shiftleft(CAST(1 AS BIGINT), __b)"))
        .otherwise(lit(0L))).as("simhash"))
  }

  /** Per-ROW 64-bit SimHash — bit-identical to [[simHash64]] but
    * computed as one pure Column expression (fold over the token
    * hashes accumulating the 64 bit-counters in an array, then a fold
    * packing the sign bits), no explode, no aggregation, no shuffle.
    *
    * Two uses: (a) streaming — composes with a single stateful operator
    * the way the batch groupBy shape cannot; (b) an INDEPENDENT
    * re-derivation of the production hash, so `q_simhash64_parity` can
    * pin the two implementations against each other in the driver's
    * correctness gate (xxhash64 itself has no ANSI-SQL oracle).
    *
    * The bit-counter math mirrors [[simHash64]] exactly: per token the
    * counter for bit b moves ±1 on `shiftright(h, b) & 1`; a bit of the
    * signature is set iff its counter ends ≥ 0 (integer counters —
    * associative, so fold order vs partial-aggregate order cannot
    * diverge).
    */
  def simHash64Expr(text: Column): Column = {
    val hs = transform(tokens(text), t => xxhash64(t))
    val bitIdx = sequence(lit(0), lit(63))
    val counts = aggregate(hs, array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, bitIdx, (a, b) =>
        a + when(call_function("shiftright", h, b)
          .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)))
    aggregate(
      zip_with(counts, bitIdx, (c, b) =>
        when(c >= 0, call_function("shiftleft", lit(1L), b))
          .otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** Raw (id, shingle) rows with multiplicity — narrow explode, no
    * shuffle. Use directly when the consumer is itself a deduplicating
    * aggregate (e.g. [[fingerprint]]'s bottom-k, whose state dedupes);
    * routing through [[explodedShingles]] there would pay a full
    * (id, shingle)-keyed exchange just to drop rows the aggregator
    * ignores anyway.
    */
  def explodedShinglesRaw(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(when(size(col("__toks")) >= shingleK,
            sequence(lit(1), size(col("__toks")) - lit(shingleK - 1)))
          .otherwise(array().cast("array<int>"))).as("__i"))
      .select(col(idCol), concat_ws(" ",
        (0 until shingleK).map(j =>
          element_at(col("__toks"), col("__i") + lit(j))): _*).as("shingle"))

  /** Distinct (id, shingle) rows for a document frame — the single shared
    * shingle builder behind the dedup pipeline ([[Dedup.shingles]]
    * delegates here). Explodes shingle POSITIONS and assembles each
    * k-gram in a codegen'd projection (a `transform` lambda would
    * evaluate interpreted), with tokens materialised once per row below
    * the generator.
    */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    explodedShinglesRaw(df, idCol, textCol, shingleK).distinct()

  /** PII patterns shared by the redaction and counting paths. Written in
    * the common subset of Java regex and RE2 so the DuckDB oracle applies
    * the byte-identical pattern: character classes, bounded repetition —
    * no lookaround, no backreferences.
    */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val urlRe = "https?://[^\\s]+"
  val phoneRe = "[0-9]{3}-[0-9]{4}"
  /** 16 digits in groups of 4 with dash/space separators (the formatted
    * card shape; an unseparated digit run is indistinguishable from an id).
    */
  val ccRe = "[0-9]{4}([- ][0-9]{4}){3}"
  /** Dotted quad — deliberately permissive on octet range (a malformed
    * quad in free text is still worth scrubbing, and the simple class
    * keeps the pattern in the Java∩RE2 subset).
    */
  val ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Free-text PII scrub — the text-pipeline counterpart of the engine's
    * column masking: URLs, e-mail addresses, card numbers, IPv4 addresses,
    * then phone-shaped numbers are replaced with typed placeholders.
    * Order matters twice over: a URL may embed digits the later patterns
    * would bite into, and a grouped card number contains phone-shaped
    * `ddd-dddd` substrings — so cards go before phones. Pure
    * `regexp_replace` chain: codegen'd, narrow, scan-speed.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(text, urlRe, "[URL]"),
            emailRe, "[EMAIL]"),
          ccRe, "[CARD]"),
        ipv4Re, "[IP]"),
      phoneRe, "[PHONE]")

  /** Per-row PII hit counts (audit signal before deciding to drop vs
    * redact a document). Counts run on the RAW text independently per
    * kind — a card number also contains phone-shaped substrings and a URL
    * may embed an IP; overlaps count under every kind they match.
    */
  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(emailRe)).cast("bigint").as("n_emails"),
    regexp_count(text, lit(urlRe)).cast("bigint").as("n_urls"),
    regexp_count(text, lit(ccRe)).cast("bigint").as("n_cards"),
    regexp_count(text, lit(ipv4Re)).cast("bigint").as("n_ips"),
    regexp_count(text, lit(phoneRe)).cast("bigint").as("n_phones"))

  /** HTML → text extraction as an IN-ORDER (pattern, replacement)
    * chain, written in the Java∩RE2 subset (non-greedy dotall blocks,
    * character classes, `\b` — no lookaround, no backreferences) so
    * [[stripHtml]] and the `q_html_extract` oracle render the
    * byte-identical chain. The shape is the classic regex extractor
    * every crawl pipeline starts from (the WET-style step 0 BEFORE
    * C4/CCNet line rules):
    *
    *  1. `<head>`, `<script>`, `<style>` blocks drop WITH their content
    *     (titles/metadata/code are not corpus text);
    *  2. comments drop;
    *  3. block-level boundaries (`p`, `br`, `div`, `li`, headings,
    *     table rows, blockquote — `\b`-anchored so `<pre>` is not a
    *     `<p>`) become line breaks, so downstream LINE operators (C4
    *     rules, CCNet line dedup) see real lines;
    *  4. every remaining tag drops (an attribute `>` inside quotes is
    *     the documented regex-extractor limitation);
    *  5. the named entities real boilerplate uses decode, `&amp;` LAST
    *     so double-escaped entities render as their literal text
    *     (`&amp;lt;` → `&lt;`, never `<`);
    *  6. whitespace normalizes: space runs collapse, spaces trim around
    *     line breaks, blank-line runs collapse, ends trim.
    */
  val htmlStripChain: Seq[(String, String)] = Seq(
    "(?is)<head[^>]*>.*?</head>" -> " ",
    "(?is)<script[^>]*>.*?</script>" -> " ",
    "(?is)<style[^>]*>.*?</style>" -> " ",
    "(?s)<!--.*?-->" -> " ",
    "(?i)</?(p|br|div|li|ul|ol|h[1-6]|tr|table|blockquote)\\b[^>]*>" ->
      "\n",
    "<[^>]*>" -> " ",
    "&nbsp;" -> " ",
    "&quot;" -> "\"",
    "&#39;" -> "'",
    "&apos;" -> "'",
    "&lt;" -> "<",
    "&gt;" -> ">",
    "&amp;" -> "&",
    "[ \\t]+" -> " ",
    " ?\\n ?" -> "\n",
    "\\n{2,}" -> "\n",
    "^\\s+|\\s+$" -> "")

  /** Extract readable text from an HTML column — the [[htmlStripChain]]
    * folded as a pure `regexp_replace` chain: codegen'd, narrow,
    * scan-speed, streaming-safe; value-oracled byte-for-byte by
    * `q_html_extract`. Plain non-HTML text passes through with only
    * whitespace normalization.
    */
  def stripHtml(html: Column): Column =
    htmlStripChain.foldLeft(html) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }

  /** Repetition statistics per document — the classic corpus-curation
    * repetition signals (high duplicate-n-gram or single-word dominance
    * marks generated/boilerplate text): token count, distinct-token count,
    * the most-frequent word's share of all tokens, and the fraction of
    * word-bigram occurrences that are repeats of an earlier bigram in the
    * same document. All int/int double divisions — engine-exact. Shape:
    * one explode + two hash aggregates keyed by doc id; state per group is
    * O(distinct tokens of the doc), never corpus-global.
    */
  def repetitionStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val perTok = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("__c"))
    val wordStats = perTok.groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max(col("__c")).as("__maxc"))
      .select(col(idCol), col("n_tokens"), col("n_distinct_tokens"),
        (col("__maxc").cast("double") / col("n_tokens")).as("top_word_frac"))
    val bi = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(when(size(col("__toks")) >= 2,
            sequence(lit(1), size(col("__toks")) - lit(1)))
          .otherwise(array().cast("array<int>"))).as("__i"))
      .select(col(idCol), concat_ws(" ",
        element_at(col("__toks"), col("__i")),
        element_at(col("__toks"), col("__i") + 1)).as("bigram"))
    val biStats = bi.groupBy(col(idCol))
      .agg(count(lit(1)).as("__nbi"),
        countDistinct(col("bigram")).as("__nbid"))
      .select(col(idCol),
        ((col("__nbi") - col("__nbid")).cast("double") / col("__nbi"))
          .as("dup_bigram_frac"))
    // left join: a 1-token doc has no bigrams — its repetition is 0.0
    wordStats.join(biStats, Seq(idCol), "left")
      .withColumn("dup_bigram_frac",
        coalesce(col("dup_bigram_frac"), lit(0.0)))
  }

  /** Corpus vocabulary statistics: per token, total occurrences and
    * document frequency — one explode + one hash aggregate, the standard
    * first pass of corpus curation (stop-list mining, vocab pruning,
    * tf-idf denominators).
    */
  def termFrequencies(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_total"),
        countDistinct(col(idCol)).as("n_docs"))

  /** Per-document top keyword by tf·idf. The idf is the LINEAR ratio
    * N/df (not log-scaled): every weight is then a product/quotient of
    * exact integers, bit-reproducible on any engine — `log` differs in the
    * last ulp across libm implementations and can flip near-tie rankings.
    * Ties break on the token string. Shapes: two hash aggregates + a
    * per-doc window; the corpus size rides in as a broadcast scalar.
    */
  def topKeywords(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("dfreq"))
    val n = df.agg(count(lit(1)).as("__n"))
    val w = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("weight",
        col("tf") * (col("__n").cast("double") / col("dfreq")))
    // argmax as a hash aggregate, not a per-doc window: min_by on the
    // (-weight, token) struct is exactly (weight DESC, token ASC) —
    // same winner as a row_number window, minus the per-partition sort,
    // with map-side partial aggregation
    w.groupBy(col(idCol))
      .agg(min_by(
        struct(col("token"), col("tf"), col("dfreq"), col("weight")),
        struct(negate(col("weight")), col("token"))).as("__top"))
      .select(col(idCol), col("__top.token").as("token"),
        col("__top.tf").as("tf"), col("__top.dfreq").as("dfreq"),
        col("__top.weight").as("weight"))
  }

  /** Winnowing-style document fingerprint: the k lexicographically smallest
    * md5 hashes of the document's word shingles, joined — a bottom-k sketch.
    * Two documents sharing most shingles share most of the sketch; equal
    * sketches ⇒ near-certain duplicates. Distributed shape: explode →
    * partial top-k per partition via groupBy aggregate (no global window).
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, shingleK: Int = 3): DataFrame = {
    // typed bottom-k Aggregator: per-group state and shuffle volume stay
    // O(k) — a collect_set would buffer every distinct hash of the group.
    // Raw shingles (no upstream distinct): the aggregator's buffer already
    // dedupes, so the only exchange is the O(k)-per-group partial-agg one.
    val bottomK = udaf(new graft.functions.BottomK(k),
      org.apache.spark.sql.Encoders.STRING)
    explodedShinglesRaw(df, idCol, textCol, shingleK)
      .select(col(idCol), md5(col("shingle")).as("__h"))
      .groupBy(idCol)
      .agg(array_join(bottomK(col("__h")), ",").as("fingerprint"))
  }

  /** Approximate corpus heavy hitters via the Misra-Gries sketch
    * ([[graft.functions.TopFreq]]): (token, estimate) rows for at most
    * `k` dominant tokens, estimate undercounting by ≤ n/(k+1) and any
    * token above that threshold guaranteed present. The bounded-state
    * companion to the exact [[termFrequencies]]: O(k) state and shuffle
    * per partition regardless of vocabulary size or Zipfian skew.
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int = 20): DataFrame =
    heavyHitterAgg(df, textCol, k)
      .select(explode(col("heavy_hitters")).as("__h"))
      .select(col("__h._1").as("token"), col("__h._2").as("est"))

  /** Corpus drift monitor — per-token Jensen–Shannon divergence terms
    * between two corpora's token distributions (Lin 1991: symmetric,
    * bounded by ln 2, finite on disjoint support), the
    * snapshot-over-snapshot / source-vs-source mixture-shift check a
    * continuously-ingested training pipeline runs before a new slice
    * is allowed into the mix.
    *
    * Exactness contract: Laplace-1 smoothing over the UNION
    * vocabulary, every probability a pure function of exact integer
    * counts — `p = (c + 1) / (n + V)` with the long addition done
    * before ONE cast and ONE division — so `p_a`/`p_b` and the
    * total-variation term `tv_term = 0.5·|p_a − p_b|` replay
    * bit-for-bit in any engine. The JS term
    * `js_term = 0.5·(p_a·ln(p_a/m)) + 0.5·(p_b·ln(p_b/m))`,
    * `m = 0.5·(p_a + p_b)`, carries cross-engine ln ULP drift
    * (measured: 1 token in 31 differs by 1 ulp vs DuckDB at sf0.01 —
    * Spark's `log` is StrictMath-backed; other engines' ln need not
    * round identically),
    * so the gate row pins the exact columns and the spec pins JS's
    * semantics (exact zero on identical corpora, bit-exact symmetry,
    * positivity, Σ < ln 2, and a bit-exact parity fold against the
    * documented StrictMath op sequence). The rows are per-token so the gate is
    * ORDER-FREE; the scalar divergence is Σ over rows, left to the
    * consumer (a sum of doubles needs a pinned fold order — the
    * `q_nb_classify` discipline — and monitoring usually wants the
    * top drifting tokens anyway, which is this frame sorted by
    * `js_term`).
    *
    * Scale shape: two explode + hash aggregations, each collapsing its
    * corpus to a vocabulary-bounded count table before anything joins;
    * one full-outer join of those two bounded tables, materialised
    * ONCE ([[Materialize]]) so the (n_a, n_b, V) scalar pass does not
    * re-run the corpus scans; the scalars ride a broadcast one-row
    * frame. Nothing corpus-sized crosses a shuffle after the
    * aggregates, and each corpus is scanned exactly once.
    */
  def vocabDivergence(a: DataFrame, b: DataFrame, textCol: String)
      : DataFrame =
    vocabDivergenceFromCounts(
      tokenTypeCounts(a, textCol), tokenTypeCounts(b, textCol))

  /** One corpus's token-type count table `(token, cnt)` — the drift
    * monitor's sufficient statistic. Pure integer sums, so snapshots
    * maintain INCREMENTALLY by exact addition: land per-batch counts
    * ([[graft.streaming.StreamMask.vocabCountsStream]]), fold with
    * [[foldTokenCounts]], compare with [[vocabDivergenceFromCounts]] —
    * no corpus rescan (the gramStats append-don't-rebuild contract).
    */
  def tokenTypeCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(filter(tokens(col(textCol)),
        t => length(t) > 0)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  /** Fold any number of [[tokenTypeCounts]] partials (extra columns
    * like an exactly-once sink's `__batch_id` are ignored) back into
    * one exact count table — integer sums, bit-exact regardless of how
    * the corpus was sliced.
    */
  def foldTokenCounts(parts: DataFrame): DataFrame =
    parts.groupBy(col("token"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  /** [[vocabDivergence]] over two pre-computed [[tokenTypeCounts]]
    * tables — the incremental form: either side may be a fold of
    * landed streaming snapshots instead of a corpus scan.
    */
  def vocabDivergenceFromCounts(countsA: DataFrame, countsB: DataFrame)
      : DataFrame = {
    // materialised: the (n_a, n_b, V) scalars AND the output both
    // read this vocabulary-bounded table — without it the totals
    // branch re-executes the whole scan→aggregate→join chain, i.e.
    // two extra full corpus scans at 100 TB for three numbers (the
    // mondrian/connectedComponents materialisation contract)
    val joined = Materialize(
      countsA.select(col("token"), col("cnt").as("c_a"))
        .join(countsB.select(col("token"), col("cnt").as("c_b")),
          Seq("token"), "full_outer")
        .select(col("token"),
          coalesce(col("c_a"), lit(0L)).as("c_a"),
          coalesce(col("c_b"), lit(0L)).as("c_b")))
    val totals = joined.agg(sum(col("c_a")).cast("long").as("__na"),
      sum(col("c_b")).cast("long").as("__nb"),
      count(lit(1)).as("__v"))
    val pA = (col("c_a") + lit(1L)).cast("double") /
      (col("__na") + col("__v")).cast("double")
    val pB = (col("c_b") + lit(1L)).cast("double") /
      (col("__nb") + col("__v")).cast("double")
    val m = lit(0.5) * (col("p_a") + col("p_b"))
    joined.crossJoin(broadcast(totals)) // 1-row scalar attach
      .withColumn("p_a", pA)
      .withColumn("p_b", pB)
      .withColumn("js_term",
        lit(0.5) * (col("p_a") * log(col("p_a") / m)) +
          lit(0.5) * (col("p_b") * log(col("p_b") / m)))
      .withColumn("tv_term", lit(0.5) * abs(col("p_a") - col("p_b")))
      .select(col("token"), col("c_a"), col("c_b"),
        col("p_a"), col("p_b"), col("js_term"), col("tv_term"))
  }

  /** The single-row heavy-hitters aggregation (array column
    * `heavy_hitters` of (token, estimate) structs) — the one shared
    * tokenize → filter → sketch body behind [[heavyHitters]] and the
    * streaming `StreamMask.heavyHitterStream`, so the two paths cannot
    * drift.
    */
  def heavyHitterAgg(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val tf = udaf(new graft.functions.TopFreq(k),
      org.apache.spark.sql.Encoders.STRING)
    df.select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .agg(tf(col("token")).as("heavy_hitters"))
  }

  /** TRUE winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    * MOSS algorithm): hash every character k-gram of the normalized
    * text, slide a window of `w` consecutive gram hashes, keep each
    * window's minimum, return the sorted distinct selections as a
    * `fingerprints` array column. The winnowing guarantee: any
    * substring match of length ≥ w + k − 1 between two documents
    * surfaces as a shared fingerprint, and no match shorter than k
    * ever does — position-local, unlike the global bottom-k sketch of
    * [[fingerprint]], so it powers partial-overlap detection
    * (plagiarism / quote mining), not just whole-document
    * near-identity.
    *
    * Scale shape: fully narrow — gram hashing, window minima, and
    * dedup all happen inside the row via higher-order functions
    * (O(n·k) hashing + O(n·w) minima per doc, zero shuffle, no
    * explode). Joining fingerprints across corpora is then a thin
    * (id, fp) equi-join, never all-pairs.
    *
    * DataFrame-level on purpose: each stage must land in its own
    * projection with the previous stage as a MULTIPLY-REFERENCED alias.
    * A lambda capturing a full expression tree re-evaluates it per
    * element — normalize per gram, the whole gram array per window, an
    * O(n²) blow-up — whereas referencing an alias ≥ 2 times keeps
    * `CollapseProject` from inlining it back into the lambda.
    *
    * Hashes are md5 strings compared lexicographically so an ANSI-SQL
    * oracle re-derives the exact selection (the [[Dedup]] md5/xxhash64
    * duality; swap in xxhash64 grams for the cheap production path).
    * Documents shorter than k have no grams → empty. With fewer than
    * `w` grams the single window covers them all (`slice` tolerates a
    * short tail).
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing needs k >= 1 and w >= 1 (got k=$k, w=$w)")
    if (graft.plans.GraftExtensions.hasNative("winnow_select"))
      // one per-row loop (graft.plans.WinnowSelect): raw-digest window
      // minima, hex only for survivors — bit-identical selection, ~10×
      // over the staged HOFs; coalesce matches their []-on-null
      df.select(col(idCol),
        coalesce(
          call_function("winnow_select", normalize(col(textCol)),
            lit(k), lit(w)),
          array().cast("array<string>")).as("fingerprints"))
    else
      winnowFingerprintsFold(df, idCol, textCol, k, w)
  }

  /** The staged higher-order-function winnowing path — portable
    * baseline, bit-identical to the native [[winnowFingerprints]]
    * upgrade (same grams, same hex minima, same sorted-distinct
    * output).
    */
  def winnowFingerprintsFold(df: DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 4): DataFrame =
    winnowStaged(df, idCol, textCol, k, w, g => md5(g), "array<string>")

  /** [[winnowFingerprints]] on `xxhash64` gram hashes (`array<bigint>`
    * fingerprints) — the production path at ~10× less hash CPU, same
    * md5/xxhash64 duality as the dedup family; the selection guarantee
    * is hash-agnostic (any fixed total order on gram hashes works).
    */
  def winnowFingerprints64(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing needs k >= 1 and w >= 1 (got k=$k, w=$w)")
    if (graft.plans.GraftExtensions.hasNative("winnow_select64"))
      df.select(col(idCol),
        coalesce(
          call_function("winnow_select64", normalize(col(textCol)),
            lit(k), lit(w)),
          array().cast("array<bigint>")).as("fingerprints"))
    else winnowFingerprints64Fold(df, idCol, textCol, k, w)
  }

  /** The staged higher-order-function xxhash64 winnowing path —
    * portable baseline, bit-identical to the native
    * [[winnowFingerprints64]] upgrade.
    */
  def winnowFingerprints64Fold(df: DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 4): DataFrame =
    winnowStaged(df, idCol, textCol, k, w, g => xxhash64(g),
      "array<bigint>")

  private def winnowStaged(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, hash: Column => Column,
      arrType: String): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing needs k >= 1 and w >= 1 (got k=$k, w=$w)")
    val empty = array().cast(arrType)
    df.select(col(idCol), normalize(col(textCol)).as("__t"))
      .select(col(idCol),
        // gram strings come from the LINEAR charNgrams slide (empty for
        // short docs); only the per-element hash stays Column work —
        // the old per-position substr was O(len²) per doc
        transform(charNgrams(col("__t"), k), g => hash(g))
          .cast(arrType).as("__grams"))
      .select(col(idCol),
        // __grams referenced three times — stays materialised
        when(size(col("__grams")) >= 1,
            transform(
              sequence(lit(1),
                greatest(size(col("__grams")) - (w - 1), lit(1))),
              j => array_min(slice(col("__grams"), j, lit(w)))))
          .otherwise(empty).as("__mins"))
      .select(col(idCol),
        array_sort(array_distinct(col("__mins"))).as("fingerprints"))
  }

  /** Cross-corpus PARTIAL-overlap scan via winnowing fingerprints — the
    * quote-mining / plagiarism-detection companion to
    * [[graft.pipeline.Dedup.crossCorpusOverlap]]'s shingle scan: for
    * every (corpus doc, benchmark doc) pair sharing at least
    * `minShared` winnowing selections, return the pair with its shared
    * count. The winnowing guarantee makes this position-local: any
    * verbatim run of ≥ w + k − 1 characters between two documents is
    * guaranteed to register, at fingerprint density ~2/(w+1) of the
    * gram count instead of every gram — so the join input is a
    * fraction of the shingle scan's at equal guarantee strength.
    * Shape: narrow per-row selection both sides, equi-join on the
    * fingerprint, pair-keyed count — work ∝ actually-shared
    * fingerprints, never |corpus|×|bench|.
    *
    * @param maxFpDf optional stop-fingerprint guard, the winnowing
    *   analog of [[graft.pipeline.Dedup.crossCorpusOverlap]]'s
    *   stop-shingle cap: fingerprints selected by more than this many
    *   BENCHMARK docs are boilerplate (headers, licenses, templates) —
    *   hot join keys contributing joins ∝ corpusDf·benchDf with no
    *   overlap signal. `None` keeps exact counts (the oracle path).
    */
  def winnowOverlap(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 4,
      minShared: Int = 1, maxFpDf: Option[Int] = None): DataFrame = {
    val fa = winnowFingerprintRows(corpus, idCol, textCol, k, w)
      .select(col(idCol).as("id_a"), col("fp"))
    val fb0 = winnowFingerprintRows(bench, idCol, textCol, k, w)
      .select(col(idCol).as("id_b"), col("fp"))
    val fb = maxFpDf.fold(fb0) { m =>
      // the document frequency is a window count over the banded rows:
      // ONE pass over the CPU-heavy winnowing selection (no aggregate +
      // self-join reading it twice, no checkpoint/persist whose block
      // loss would kill a long scan — lineage stays fully recoverable).
      // The fp-partitioned window is bounded: a fingerprint occurs at
      // most once per BENCHMARK doc, and the benchmark suite is the
      // small side by construction.
      import org.apache.spark.sql.expressions.Window
      fb0.withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("__df") <= m).drop("__df")
    }
    fa.join(fb, Seq("fp"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[winnowFingerprints]] exploded to thin (id, fp) rows — the join
    * shape for cross-corpus overlap detection.
    *
    * Deliberately `explode_outer` + an `isNotNull` filter on the
    * GENERATED column, not a plain `explode`: for a non-outer explode
    * the optimizer infers a `size(fingerprints) > 0` filter BELOW the
    * Generate, and predicate pushdown then drags it through the staged
    * projections, substituting every alias back in — which rebuilds
    * exactly the per-row O(n²) inlined tree (normalize re-evaluated
    * per gram, the gram array per window) that the staged projections
    * exist to prevent; at ~300-char docs that turns a sub-second scan
    * into minutes. `InferFiltersFromGenerate` skips outer generators,
    * and a predicate on the generator OUTPUT can never be pushed below
    * the Generate, so this shape is stable against both rules
    * (plan-asserted in PipelineSpec).
    */
  def winnowFingerprintRows(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), explode_outer(col("fingerprints")).as("fp"))
      .filter(col("fp").isNotNull)

  /** Tokenizer FERTILITY / compression audit — the per-group report
    * every tokenizer-selection write-up rests on (tokens-per-word
    * "fertility" and bytes-per-token compression, see e.g. the BLOOM
    * tokenizer analysis, Mielke et al. 2021 §5): for each value of
    * `groupCol` (language, source, …), the exact integer masses —
    * documents, UTF-8 bytes, codepoints, non-empty whitespace words,
    * and the caller's tokenizer count (`tokenCount`, evaluated once
    * per document — e.g. [[graft.functions.Bpe.tokenCount]]) — plus
    * `fertility` = tokens/words and `bytes_per_token`, both derived
    * LAST from the exact integer sums (one IEEE divide, so any engine
    * reproduces the doubles from the same integers; a zero denominator
    * yields null rather than a misleading 0 or ∞). A null text counts
    * as a document of zero mass — an audit that silently drops rows
    * under-reports the corpus.
    *
    * Scale shape: ONE narrow projected scan + a map-side-partial hash
    * aggregation collapsing the corpus to |groups| rows — no joins, no
    * second scan, nothing corpus-bounded past the aggregate.
    */
  def tokenizerFertility(df: DataFrame, groupCol: String,
      textCol: String, tokenCount: Column): DataFrame = {
    val text = col(textCol)
    df.select(col(groupCol),
        coalesce(octet_length(text).cast("bigint"), lit(0L)).as("__b"),
        coalesce(length(text).cast("bigint"), lit(0L)).as("__c"),
        coalesce(size(filter(tokens(text), t => length(t) > 0))
          .cast("bigint"), lit(0L)).as("__w"),
        coalesce(tokenCount.cast("bigint"), lit(0L)).as("__t"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum("__b").as("n_bytes"), sum("__c").as("n_chars"),
        sum("__w").as("n_words"), sum("__t").as("n_tokens"))
      .select(col(groupCol), col("n_docs"), col("n_bytes"),
        col("n_chars"), col("n_words"), col("n_tokens"),
        when(col("n_words") === 0L, lit(null).cast("double"))
          .otherwise(col("n_tokens").cast("double") /
            col("n_words").cast("double")).as("fertility"),
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(col("n_bytes").cast("double") /
            col("n_tokens").cast("double")).as("bytes_per_token"))
  }
}
