package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Materialize, TextOps}

import Shared._

/** Document-level text operators: statistics, language ID,
  * quality signals, rule filters, extraction and PII scrubbing.
  */
private[graft] object TextGates {

  /** C4 page filter ([[graft.pipeline.TextOps.c4Rules]]): docs fold
    * into 25 multi-line pages (one doc = one line, `doc_id % 25`
    * pages), with deterministic injections so every published rule
    * fires — `% 3` drops the terminal punctuation (line cut),
    * `% 7 == 3` mentions javascript (line cut), `% 19 == 0` shortens
    * the line below 3 words (line cut), `% 199 == 5` adds a code
    * brace, `% 211 == 7` "lorem ipsum", `% 223 == 11` a blocklisted
    * word (page drops). DuckDB rebuilds the pages and the whole
    * decision table, cleaned text compared byte-for-byte.
    */
  // the shared C4-fixture line: one doc = one page line, with
  // deterministic injections so every published rule fires (see
  // [[qC4Rules]]'s doc) — also the corpus for the composed C4+CCNet
  // recipe ([[qC4Ccnet]])
  private def c4FixtureLine: Column = concat(
    when(col("doc_id") % 19 === 0, lit("too short"))
      .otherwise(col("text")),
    when(col("doc_id") % 7 === 3, lit(" see javascript console"))
      .otherwise(lit("")),
    when(col("doc_id") % 199 === 5, lit(" { inline code }"))
      .otherwise(lit("")),
    when(col("doc_id") % 211 === 7, lit(" lorem ipsum dolor"))
      .otherwise(lit("")),
    when(col("doc_id") % 223 === 11, lit(" flaggedterm"))
      .otherwise(lit("")),
    when(col("doc_id") % 3 === 0, lit("."))
      .when(col("doc_id") % 3 === 1, lit("?"))
      .otherwise(lit("")))

  // the synthetic page shell `q_html_extract` wraps each document in —
  // head with a title, a script whose body holds stray < > operators, a
  // style block, a comment, a nav list, a heading, and an entity-laden
  // footer incl. a double-escaped entity. Shared VERBATIM by the Spark
  // construction and the oracle rendering, so shell edits cannot drift
  private val htmlShellA = "<html><head><title>Doc "

  private val htmlShellB = "</title><script type=\"text/javascript\">" +
    "var n = 1 < 2 && 2 > 1;</script><style>p { color: #333 }</style>" +
    "</head><body><!-- header boilerplate --><div class=\"nav\"><ul>" +
    "<li>Home</li><li><a href=\"/about?x=1&amp;y=2\">About</a></li>" +
    "</ul></div><h1>Doc "

  private val htmlShellC = "</h1><p>"

  private val htmlShellD = "</p><div class=\"footer\">Contact " +
    "&quot;Sales&quot; &amp; &lt;Support&gt;&nbsp;&#39;24/7&#39; " +
    "&amp;lt;raw&amp;gt;</div></body></html>"

  /** HTML → text extraction ([[graft.pipeline.TextOps.stripHtml]] —
    * the WET-style step 0 before the C4/CCNet line operators): each
    * fixture document is wrapped in the realistic page shell IN-QUERY,
    * then extracted. DuckDB rebuilds the same shell and replays the
    * shared [[graft.pipeline.TextOps.htmlStripChain]] pattern for
    * pattern, so the extracted text — head/script/style/comment
    * removal, block-boundary line breaks, entity decode incl. the
    * double-escape rule, whitespace normalization — is value-oracled
    * byte-for-byte.
    */
  private def qHtmlExtract(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        TextOps.stripHtml(concat(lit(htmlShellA),
          col("doc_id").cast("string"), lit(htmlShellB),
          col("doc_id").cast("string"), lit(htmlShellC), col("text"),
          lit(htmlShellD))).as("extracted"))
      .orderBy("doc_id")

  private def qC4Rules(s: SparkSession, dir: String): DataFrame = {
    val pages = docsNarrow(s, dir)
      .select((col("doc_id") % 25).as("page_id"), col("doc_id"),
        c4FixtureLine.as("line"))
      .groupBy("page_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("doc_id"), col("line")))),
          x => x.getField("line")),
        "\n").as("text"))
    TextOps.c4Rules(pages, "page_id", "text",
        TextOps.C4Config(minSentences = 11,
          badWords = Seq("flaggedterm")))
      .orderBy("page_id")
  }

  /** The full published C4+CCNet cleaning recipe composed under ONE
    * oracle: C4 page filtering ([[graft.pipeline.TextOps.c4Rules]] —
    * line rules rewrite, page rules drop) feeds its SURVIVING pages'
    * cleaned text into CCNet line-level dedup
    * ([[graft.pipeline.Dedup.dropDuplicateLines]]), the way the
    * published pipelines chain them. The fixture makes the composition
    * bite both ways: a prose-shaped boilerplate header ("Subscribe to
    * our newsletter today.") passes every C4 LINE rule on all 25 pages
    * and only CCNet can drop it, while `doc_id % 10 == 3` docs guest on
    * a second page so their lines become cross-page duplicates — and
    * CCNet's doc frequencies are counted over the C4 SURVIVORS only (a
    * guest whose other page was dropped by C4 stays unique). DuckDB
    * re-derives both stages end to end; cleaned text compared
    * byte-for-byte.
    */
  private def qC4Ccnet(s: SparkSession, dir: String): DataFrame = {
    val base = docsNarrow(s, dir)
      .select((col("doc_id") % 25).as("page_id"), col("doc_id"),
        c4FixtureLine.as("line"))
    val guests = docsNarrow(s, dir).filter(col("doc_id") % 10 === 3)
      .select(((col("doc_id") + 1) % 25).as("page_id"), col("doc_id"),
        c4FixtureLine.as("line"))
    val pages = base.unionAll(guests)
      .groupBy("page_id")
      .agg(concat(lit("Subscribe to our newsletter today.\n"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("line")))),
            x => x.getField("line")),
          "\n")).as("text"))
    val surviving = TextOps.c4Rules(pages, "page_id", "text",
        TextOps.C4Config(minSentences = 11,
          badWords = Seq("flaggedterm")))
      .filter(col("keep"))
      .select(col("page_id"), col("clean_text").as("text"))
    Dedup.dropDuplicateLines(surviving, "page_id", "text",
        maxDocFreq = 1)
      .select(col("page_id"), col("clean_text"),
        col("n_dropped_lines").cast("bigint").as("n_dropped_lines"))
      .orderBy("page_id")
  }

  /** Per-language corpus statistics (token counting over the scan). */
  private def qTextStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(TextOps.tokenCount(col("text"))).as("sum_tokens"),
        max(TextOps.tokenCount(col("text"))).cast("bigint").as("max_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** Token-budget audit: whitespace tokens next to the BPE-ish sub-word
    * segmentation ([[TextOps.subwordCount]] — splits on any non-letter/
    * non-digit run, the cheap stand-in for tokenizer-based counting).
    * Both are pure regex Column expressions: scan-speed, no shuffle.
    */
  private def qSubword(s: SparkSession, dir: String): DataFrame =
    docsNarrow(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.subwordCount(col("text")).as("n_subwords"))
      .orderBy("doc_id")

  /** Stop-word-profile language ID (n-gram heuristic). */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    docsNarrow(s, dir).select(col("doc_id"),
        TextOps.langHits(col("text"), TextOps.langProfiles("de")).as("de_hits"),
        TextOps.langHits(col("text"), TextOps.langProfiles("en")).as("en_hits"),
        TextOps.langHits(col("text"), TextOps.langProfiles("es")).as("es_hits"),
        TextOps.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Document quality features + composite score. */
  private def qQuality(s: SparkSession, dir: String): DataFrame =
    docsNarrow(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.stopwordHits(col("text")).as("stop_hits"),
        TextOps.punctCount(col("text")).as("n_punct"),
        TextOps.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Gopher rule-filter decision table
    * ([[graft.pipeline.TextOps.gopherRules]]): every feature, every
    * per-rule verdict, and the keep conjunction, fully value-oracled.
    * Thresholds are tuned to the synthetic corpus (word window [30,90],
    * mean word length [3.9,4.9], ≥1 stop hit) so BOTH outcomes of
    * every live rule are exercised at gate scale (~332/500 keep).
    */
  private def qGopherRules(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(docs(s, dir), "doc_id", "text",
        TextOps.GopherConfig(minWords = 30, maxWords = 90,
          minMeanWordLen = 3.9, maxMeanWordLen = 4.9,
          minStopwordHits = 1))
      .withColumn("n_words", col("n_words").cast("bigint"))
      .withColumn("stop_hits", col("stop_hits").cast("bigint"))
      .orderBy("doc_id")

  /** Gopher-style repetition signals per document: top-word dominance and
    * duplicate-bigram fraction (see [[graft.pipeline.TextOps.repetitionStats]]).
    */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Free-text PII scrub ([[graft.pipeline.TextOps.redactPii]]): the fixture
    * corpus carries no PII, so the query synthesises a deterministic
    * contact string per customer (e-mail + phone + URL) and verifies the
    * full redacted text plus per-kind hit counts against the oracle
    * running the byte-identical patterns.
    */
  private def qPii(s: SparkSession, dir: String): DataFrame = {
    val synth = concat(lit("reach user"), col("c_custkey").cast("string"),
      lit("@example.com or call 555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" visit https://example.com/u/"), col("c_custkey").cast("string"),
      lit(" card 4242-4242-4242-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("c_custkey") % 256).cast("string"),
      lit("."), expr("c_custkey div 256 % 256").cast("string"))
    t(s, dir, "customer")
      .select(col("c_custkey") +: TextOps.redactPii(synth).as("redacted") +:
        TextOps.piiCounts(synth): _*)
      .orderBy("c_custkey")
  }

  /** Corpus vocabulary table: occurrences + document frequency per token. */
  private def qVocab(s: SparkSession, dir: String): DataFrame =
    TextOps.termFrequencies(docsNarrow(s, dir), "doc_id", "text")
      .orderBy(col("n_docs").desc, col("token"))
      .limit(20)

  /** Misra-Gries heavy hitters under the accuracy contract
    * ([[graft.pipeline.TextOps.heavyHitters]] — the bounded-state
    * answer to "which tokens dominate", O(k) state and shuffle per
    * partition regardless of Zipfian skew; the exact `q_vocab`
    * aggregate keys the shuffle by token, so a head token concentrates
    * one reducer at 100 TB), gated in the `q_hll_distinct` /
    * `q_percentile_gk_parity` style: the reported ITEM SET may vary
    * with partitioning near the error floor (any mergeable sketch), so
    * the row emits only PARTITION-INVARIANT facts — the exact corpus
    * totals (DuckDB-re-derived) and the three Misra-Gries guarantees
    * pinned TRUE over every reported item: ≤ k reported, every
    * estimate UNDERcounts its exact frequency, the undercount never
    * exceeds n/(k+1), and every token with exact count > n/(k+1) is
    * guaranteed reported (n_guaranteed of them, exactly re-derived).
    */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val k = 20
    // the fixtures' 31-token vocabulary is near-uniform (no token
    // crosses the n/(k+1) floor), which would leave the guarantee
    // clause vacuous — amplify with a deterministic Zipf head: every
    // doc appends 10 + doc_id % 7 copies of a hot token, pushing it
    // far past the floor (and nothing else over it), DuckDB-replayed
    val amplified = docs(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" "),
        array_join(array_repeat(lit("zzhot"),
          (col("doc_id") % 7 + 10).cast("int")), " ")).as("text"))
    // the sketch result is <= k rows but its lineage is a full corpus
    // scan, and TWO branches below join against it — materialize once
    val hh = Materialize(TextOps.heavyHitters(amplified, "text", k))
    // exact per-token counts: computed once (Materialize), read by
    // the totals, the reported-item join and the guaranteed-set scan
    val exact = Materialize(amplified
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt")))
    val totals = exact.agg(sum(col("cnt")).cast("long").as("n_tokens"),
      count(lit(1)).as("n_vocab"))
    val floor = col("n_tokens").cast("double") / (k + 1)
    // sums coalesced to 0 (the guarStats discipline): if the sketch
    // ever reported zero items the agg over the empty join would yield
    // NULL __n_under/__n_bound and the TRUE==TRUE gates below would
    // red as NULL instead of holding vacuously
    val repStats = hh.join(exact, Seq("token"))
      .crossJoin(broadcast(totals))
      .agg(count(lit(1)).as("__n_rep"),
        coalesce(sum(when(col("est") <= col("cnt"), 1L).otherwise(0L)),
          lit(0L)).as("__n_under"),
        coalesce(sum(when((col("cnt") - col("est")).cast("double")
            <= floor, 1L).otherwise(0L)), lit(0L)).as("__n_bound"))
    val guarStats = exact.crossJoin(broadcast(totals))
      .filter(col("cnt").cast("double") > floor)
      .join(hh, Seq("token"), "left")
      .agg(count(lit(1)).as("n_guaranteed"),
        coalesce(sum(when(col("est").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("__n_found"))
    totals.crossJoin(repStats).crossJoin(guarStats) // 1×1 scalar attach
      .select(col("n_tokens"), col("n_vocab"), col("n_guaranteed"),
        (col("__n_rep") <= k).as("reported_le_k"),
        (col("__n_under") === col("__n_rep")).as("all_underestimate"),
        (col("__n_bound") === col("__n_rep")).as("all_within_bound"),
        (col("__n_found") === col("n_guaranteed"))
          .as("guaranteed_present"))
  }

  /** Per-document top tf·idf keyword (linear idf — engine-exact doubles). */
  private def qTfidf(s: SparkSession, dir: String): DataFrame =
    TextOps.topKeywords(docsNarrow(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Unicode NFC canonicalization ([[graft.pipeline.TextOps
    * .nfcNormalize]] → the native [[graft.plans.NfcNormalize]]): the
    * fixture text is ASCII (NFC identity), so a decomposed
    * `e`+combining-acute and a composed `é` are appended per row — the
    * oracle (DuckDB's own `nfc_normalize`) must agree codepoint for
    * codepoint that both collapse to the composed form, with the
    * before/after lengths proving a real transformation happened.
    */
  private def qUnicodeNfc(s: SparkSession, dir: String): DataFrame = {
    // explicit escapes, never raw source literals (an editor could
    // silently re-normalize them): decomposed = 'e' + U+0301
    // combining acute; composed = U+00E9
    val decorated = concat(col("text"), lit(" caf"), lit("e\u0301"),
      lit(" caf\u00e9"))
    docsNarrow(s, dir).select(col("doc_id"),
      length(decorated).cast("bigint").as("len_raw"),
      TextOps.nfcNormalize(decorated).as("nfc"),
      length(TextOps.nfcNormalize(decorated)).cast("bigint").as("len_nfc"))
      .orderBy("doc_id")
  }

  /** Heavy hitters in the EXACT regime ([[TextOps.heavyHitters]] with
    * `k` = 64 > the fixture's 31 distinct tokens): with no evictions the
    * Misra-Gries sketch IS the exact frequency table, making its
    * reduce/merge arithmetic fully deterministic and oracle-checkable;
    * the approximate regime (k < vocabulary) is bound-pinned in the
    * specs instead, like GK quantiles and HLL.
    */
  private def qHeavy(s: SparkSession, dir: String): DataFrame =
    TextOps.heavyHitters(docs(s, dir), "text", 64)
      .orderBy(col("est").desc, col("token"))

  /** The FULL Gopher filter ([[graft.pipeline.TextOps
    * .gopherRulesFull]]): the narrow rule table joined with the two
    * repetition caps (top-word share ≤ 0.11, duplicate-bigram fraction
    * ≤ 0.05 — tuned to the corpus so both outcomes appear), `keep`
    * tightened to all nine rules. Fully value-oracled.
    */
  private def qGopherFull(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRulesFull(docs(s, dir), "doc_id", "text",
        TextOps.GopherConfig(minWords = 30, maxWords = 90,
          minMeanWordLen = 3.9, maxMeanWordLen = 4.9,
          minStopwordHits = 1),
        maxTopWordFrac = 0.11, maxDupBigramFrac = 0.05)
      .withColumn("n_words", col("n_words").cast("bigint"))
      .withColumn("stop_hits", col("stop_hits").cast("bigint"))
      .orderBy("doc_id")

  /** The per-source corpus data card
    * ([[graft.pipeline.Curation.dataCard]]): doc counts, exact token
    * mass, duplicate-text counts, language composition, Gopher keep
    * counts — every double derived at the end from exact integer
    * aggregates, so the whole report value-oracles.
    */
  private def qDataCard(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.dataCard(docs(s, dir), "source",
        "text", "lang", Seq("de", "en", "es", "fr", "zh"),
        TextOps.GopherConfig(minWords = 30, maxWords = 90,
          minMeanWordLen = 3.9, maxMeanWordLen = 4.9,
          minStopwordHits = 1))
      .orderBy("source")

  /** Shared gopher-feature CTE chain (`f` + `feat`) and the keep
    * conjunction under the gate thresholds — one definition for
    * `q_gopher_rules` and `q_data_card` so the two oracles cannot
    * drift.
    */
  private lazy val gopherFeatCtes: String = {
    val stop = s"len(list_filter($toksSql, x -> x IN " +
      s"(${inList(TextOps.langProfiles("en"))})))"
    s"""f AS (SELECT doc_id, text,
       |  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nrm
       |FROM documents),
       |feat AS (SELECT doc_id,
       |  CAST(len(string_split(nrm, ' ')) AS BIGINT) AS n_words,
       |  CAST(length(nrm) - (len(string_split(nrm, ' ')) - 1)
       |    AS DOUBLE) / len(string_split(nrm, ' ')) AS mean_word_len,
       |  ((length(text) - length(replace(text, '#', '')))
       |   + (length(text) - length(replace(text, '...', ''))) / 3)
       |    / CAST(len(string_split(nrm, ' ')) AS DOUBLE)
       |    AS symbol_word_ratio,
       |  CAST(len(list_filter(string_split(nrm, ' '),
       |      w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
       |    / len(string_split(nrm, ' ')) AS alpha_word_frac,
       |  CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(l, '^\\s*[-•*] '))) AS DOUBLE)
       |    / len(string_split(text, chr(10))) AS bullet_line_frac,
       |  CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS DOUBLE)
       |    / len(string_split(text, chr(10))) AS ellipsis_line_frac,
       |  CAST($stop AS BIGINT) AS stop_hits
       |FROM f)""".stripMargin
  }

  /** Shared repetition-stat CTEs (`ws` word stats + `bs` bigram stats)
    * — one definition for `q_repetition` and `q_gopher_full`.
    */
  private lazy val repetitionCtes: String =
    s"""toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |pt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
       |ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |         COUNT(*) AS n_distinct_tokens,
       |         CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_word_frac
       |       FROM pt GROUP BY 1),
       |nm AS (SELECT doc_id, $toksSql AS w FROM documents),
       |bp AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS i
       |       FROM nm WHERE len(w) >= 2),
       |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram FROM bp),
       |bs AS (SELECT doc_id,
       |         CAST(COUNT(*) - COUNT(DISTINCT bigram) AS DOUBLE) / COUNT(*)
       |           AS dup_bigram_frac
       |       FROM bg GROUP BY 1)""".stripMargin

  /** The Gopher feature and rule columns both Gopher oracles select. */
  private val gopherColsSql: String =
    """alpha_word_frac, bullet_line_frac, ellipsis_line_frac,
      |  stop_hits,
      |  n_words BETWEEN 30 AND 90 AS ok_words,
      |  mean_word_len BETWEEN 3.9 AND 4.9 AS ok_mean_len,
      |  symbol_word_ratio <= 0.1 AS ok_symbols,
      |  bullet_line_frac <= 0.9 AS ok_bullets,
      |  ellipsis_line_frac <= 0.3 AS ok_ellipsis,
      |  alpha_word_frac >= 0.8 AS ok_alpha,
      |  stop_hits >= 1 AS ok_stopwords,""".stripMargin

  /** The C4 oracles' synthetic lines: doc `d` is a line of page
    * d % 25, with the rule triggers injected by doc_id residue. Its
    * margins stay for the oracle's own stripMargin, which would
    * otherwise take the first `|` of each `||` line.
    */
  private val c4LnsCte: String =
    """lns AS (
      |  SELECT doc_id % 25 AS page_id, doc_id,
      |    (CASE WHEN doc_id % 19 = 0 THEN 'too short' ELSE text END)
      |    || (CASE WHEN doc_id % 7 = 3 THEN ' see javascript console'
      |        ELSE '' END)
      |    || (CASE WHEN doc_id % 199 = 5 THEN ' { inline code }'
      |        ELSE '' END)
      |    || (CASE WHEN doc_id % 211 = 7 THEN ' lorem ipsum dolor'
      |        ELSE '' END)
      |    || (CASE WHEN doc_id % 223 = 11 THEN ' flaggedterm'
      |        ELSE '' END)
      |    || (CASE doc_id % 3 WHEN 0 THEN '.' WHEN 1 THEN '?'
      |        ELSE '' END) AS line
      |  FROM documents)"""

  /** `name(page_id, ln, line)`: the pages of `src` split back into
    * numbered lines.
    */
  private def c4LinesCte(name: String, src: String): String =
    s"""$name AS (
       |  SELECT page_id, CAST(i AS INTEGER) AS ln,
       |    list_extract(string_split(text, chr(10)),
       |      CAST(i AS INTEGER)) AS line
       |  FROM $src,
       |    unnest(generate_series(1,
       |      len(string_split(text, chr(10))))) AS u(i))""".stripMargin

  /** The C4 line rule over `ls`: terminal punctuation, at least three
    * words, no "javascript".
    */
  private val c4JudgedCte: String =
    """judged AS (
      |  SELECT page_id, ln, line,
      |    regexp_matches(line, '[.!?"]\s*$')
      |      AND len(string_split_regex(trim(line), '\s+')) >= 3
      |      AND NOT regexp_matches(lower(line), '\bjavascript\b')
      |      AS keep_line
      |  FROM ls)""".stripMargin

  /** The C4 page verdict over page `p` and its cleaned text `b`: no
    * brace, no lorem ipsum, no bad word, at least 11 sentences.
    */
  private val c4PageOkSql: String =
    """NOT contains(p.text, '{')
      |    AND NOT contains(lower(p.text), 'lorem ipsum')
      |    AND NOT regexp_matches(lower(p.text), '\b(flaggedterm)\b')
      |    AND (len(b.clean_text)
      |      - len(regexp_replace(b.clean_text, '[.!?]', '', 'g')))
      |      >= 11""".stripMargin

  private val gopherKeepSql: String =
    "(n_words BETWEEN 30 AND 90) AND " +
      "(mean_word_len BETWEEN 3.9 AND 4.9) AND " +
      "symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9 AND " +
      "ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 AND " +
      "stop_hits >= 1"

  /** Corpus drift between the English and French document slices:
    * per-token Jensen–Shannon divergence terms over the union
    * vocabulary (Laplace-1 smoothed) — the mixture-shift monitor a
    * continuously-ingested pipeline runs source-vs-source or
    * snapshot-vs-snapshot. The gate pins the EXACT columns — integer
    * counts, the smoothed probabilities (one long add, one cast, one
    * division each) and the total-variation term (one subtraction) —
    * hash-exact and order-free; `js_term` itself carries cross-engine
    * ln ULP drift (measured 1 ulp on 1 of 31 tokens) and is
    * spec-pinned instead (exact zero / bit-exact symmetry /
    * positivity / Σ < ln 2 in PipelineSpec).
    */
  private def qVocabDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.pipeline.TextOps.vocabDivergence(
      docs.filter(col("lang") === "en"),
      docs.filter(col("lang") === "fr"), "text")
      .select("token", "c_a", "c_b", "p_a", "p_b", "tv_term")
      .orderBy("token")
  }

  val gates: Seq[Gate] = Seq(
    Gate("q_text_stats", qTextStats,
      // CAST SUM/MAX to BIGINT: DuckDB SUM(integer) yields HUGEINT (float64
      // in pandas) and MAX(len) INT vs Spark's int64 — dtype-exact both sides
      s"""SELECT lang, COUNT(*) AS n_docs,
         |CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |CAST(SUM(len($toksSql)) AS BIGINT) AS sum_tokens,
         |CAST(MAX(len($toksSql)) AS BIGINT) AS max_tokens,
         |COUNT(DISTINCT source) AS n_sources
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Gate("q_subword", qSubword,
      // \p{L}/\p{N} are Unicode classes in both Java regex and RE2, and
      // the empty-token filter makes split-edge semantics irrelevant
      s"""SELECT doc_id, len($toksSql) AS n_tokens,
         |len(list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
         |    x -> len(x) > 0)) AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("q_lang_id", qLangId, {
      def hits(words: Seq[String]) =
        s"len(list_filter($toksSql, x -> x IN (${inList(words)})))"
      s"""SELECT doc_id,
         |${hits(TextOps.langProfiles("de"))} AS de_hits,
         |${hits(TextOps.langProfiles("en"))} AS en_hits,
         |${hits(TextOps.langProfiles("es"))} AS es_hits,
         |CASE WHEN ${hits(TextOps.langProfiles("de"))} >= ${hits(TextOps.langProfiles("en"))}
         |       AND ${hits(TextOps.langProfiles("de"))} >= ${hits(TextOps.langProfiles("es"))}
         |       AND ${hits(TextOps.langProfiles("de"))} > 0 THEN 'de'
         |     WHEN ${hits(TextOps.langProfiles("en"))} >= ${hits(TextOps.langProfiles("es"))}
         |       AND ${hits(TextOps.langProfiles("en"))} > 0 THEN 'en'
         |     WHEN ${hits(TextOps.langProfiles("es"))} > 0 THEN 'es'
         |     ELSE 'und' END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // feature projection + score formula are the SHARED renderings
    // (qualityFeatSelect / qualityScoreSql) q_curation_sem's keep-set
    // CTE also uses — one copy, no drift
    Gate("q_quality", qQuality,
      s"""WITH f AS (SELECT $qualityFeatSelect
         |FROM documents)
         |SELECT doc_id, n_tokens, stop_hits, n_punct,
         |  $qualityScoreSql AS quality
         |FROM f ORDER BY doc_id""".stripMargin),
    // Gopher rule filter: int/int double divisions only, so every
    // feature bit-matches; the stop-hit list is the en profile
    Gate("q_gopher_rules", qGopherRules,
      s"""WITH $gopherFeatCtes
         |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
         |  $gopherColsSql
         |  $gopherKeepSql AS keep
         |FROM feat ORDER BY doc_id""".stripMargin),
    // the per-source data card: every double derived from exact integer
    // aggregates AFTER the groupBy, so unordered float summation never
    // enters the comparison
    Gate("q_data_card", qDataCard,
      s"""WITH $gopherFeatCtes,
         |base AS (SELECT d.source, d.lang,
         |    CAST(len($toksSql) AS BIGINT) AS toks,
         |    md5($normSql) AS h,
         |    ($gopherKeepSql) AS keep
         |  FROM documents d JOIN feat ON feat.doc_id = d.doc_id)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_texts,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_gopher_keep,
         |  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_de,
         |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_en,
         |  CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_es,
         |  CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fr,
         |  CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_zh,
         |  CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs,
         |  CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS mean_tokens,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS gopher_keep_frac
         |FROM base GROUP BY source ORDER BY source""".stripMargin),
    Gate("q_repetition", qRepetition,
      s"""WITH $repetitionCtes
         |SELECT ws.doc_id, ws.n_tokens, ws.n_distinct_tokens,
         |  ws.top_word_frac, COALESCE(bs.dup_bigram_frac, 0.0) AS dup_bigram_frac
         |FROM ws LEFT JOIN bs ON bs.doc_id = ws.doc_id
         |ORDER BY ws.doc_id""".stripMargin),
    // the FULL Gopher filter: the shared feature CTEs joined with the
    // shared repetition CTEs, two caps, keep tightened to all nine
    Gate("q_gopher_full", qGopherFull,
      s"""WITH $gopherFeatCtes,
         |$repetitionCtes,
         |rep AS (SELECT ws.doc_id, ws.top_word_frac,
         |    COALESCE(bs.dup_bigram_frac, 0.0) AS dup_bigram_frac
         |  FROM ws LEFT JOIN bs ON bs.doc_id = ws.doc_id)
         |SELECT feat.doc_id, n_words, mean_word_len, symbol_word_ratio,
         |  $gopherColsSql
         |  rep.top_word_frac, rep.dup_bigram_frac,
         |  rep.top_word_frac <= 0.11 AS ok_top_word,
         |  rep.dup_bigram_frac <= 0.05 AS ok_dup_bigram,
         |  ($gopherKeepSql) AND rep.top_word_frac <= 0.11
         |    AND rep.dup_bigram_frac <= 0.05 AS keep
         |FROM feat JOIN rep ON rep.doc_id = feat.doc_id
         |ORDER BY feat.doc_id""".stripMargin),
    // C4: pages rebuilt line-for-line with the same doc_id-keyed
    Gate("q_html_extract", qHtmlExtract, {
      // rebuild the SAME shell, replay the SAME strip chain pattern by
      // pattern (the shared htmlStripChain constants rendered as RE2 —
      // the chain is written in the Java∩RE2 subset for exactly this)
      def lit(x: String) = s"'${x.replace("'", "''")}'"
      val html = s"${lit(htmlShellA)} || CAST(doc_id AS VARCHAR) || " +
        s"${lit(htmlShellB)} || CAST(doc_id AS VARCHAR) || " +
        s"${lit(htmlShellC)} || text || ${lit(htmlShellD)}"
      val stripped = TextOps.htmlStripChain.foldLeft(html) {
        case (e, (p, r)) =>
          s"regexp_replace($e, ${lit(p)}, ${lit(r)}, 'g')"
      }
      s"""SELECT doc_id, $stripped AS extracted
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // injections, then the full decision table — line keeps, cleaned
    // text (byte-compared), sentence counts, page verdicts
    Gate("q_c4_rules", qC4Rules,
      raw"""WITH $c4LnsCte,
        |pages AS (
        |  SELECT page_id, string_agg(line, chr(10) ORDER BY doc_id)
        |    AS text
        |  FROM lns GROUP BY page_id),
        |${c4LinesCte("ls", "pages")},
        |$c4JudgedCte,
        |built AS (
        |  SELECT page_id, COUNT(*) AS n_lines,
        |    SUM(CASE WHEN keep_line THEN 1 ELSE 0 END) AS n_kept,
        |    COALESCE(string_agg(CASE WHEN keep_line THEN line END,
        |      chr(10) ORDER BY ln), '') AS clean_text
        |  FROM judged GROUP BY page_id)
        |SELECT p.page_id,
        |  CAST(b.n_lines AS BIGINT) AS n_lines,
        |  CAST(b.n_kept AS BIGINT) AS n_kept_lines,
        |  b.clean_text,
        |  CAST(len(b.clean_text)
        |    - len(regexp_replace(b.clean_text, '[.!?]', '', 'g'))
        |    AS BIGINT) AS n_sentences,
        |  contains(p.text, '{') AS has_brace,
        |  contains(lower(p.text), 'lorem ipsum') AS has_lorem,
        |  regexp_matches(lower(p.text), '\b(flaggedterm)\b')
        |    AS has_bad_word,
        |  (len(b.clean_text)
        |    - len(regexp_replace(b.clean_text, '[.!?]', '', 'g')))
        |    >= 11 AS ok_sentences,
        |  $c4PageOkSql AS keep
        |FROM pages p JOIN built b USING (page_id)
        |ORDER BY p.page_id""".stripMargin),
    // the composed C4 -> CCNet recipe: the q_c4_rules page build (plus
    // the prose-shaped boilerplate header and % 10 = 3 guest lines),
    // C4 line-rewrite + page-drop, then CCNet line dedup over the
    // SURVIVORS' cleaned text — both stages re-derived end to end
    Gate("q_c4_ccnet", qC4Ccnet,
      raw"""WITH $c4LnsCte,
        |members AS (
        |  SELECT page_id, doc_id, line FROM lns
        |  UNION ALL
        |  SELECT (doc_id + 1) % 25, doc_id, line FROM lns
        |  WHERE doc_id % 10 = 3),
        |pages AS (
        |  SELECT page_id,
        |    'Subscribe to our newsletter today.' || chr(10) ||
        |    string_agg(line, chr(10) ORDER BY doc_id) AS text
        |  FROM members GROUP BY page_id),
        |${c4LinesCte("ls", "pages")},
        |$c4JudgedCte,
        |c4built AS (
        |  SELECT page_id,
        |    COALESCE(string_agg(CASE WHEN keep_line THEN line END,
        |      chr(10) ORDER BY ln), '') AS clean_text
        |  FROM judged GROUP BY page_id),
        |c4kept AS (
        |  SELECT p.page_id, b.clean_text AS text
        |  FROM pages p JOIN c4built b USING (page_id)
        |  WHERE $c4PageOkSql),
        |${c4LinesCte("ls2", "c4kept")},
        |keyed AS (
        |  SELECT page_id, ln, line,
        |    md5(lower(trim(regexp_replace(line, '\s+', ' ', 'g')))) AS k,
        |    lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) AS nrm
        |  FROM ls2),
        |$lineFreqKeptCtes,
        |built AS (
        |  SELECT page_id, COUNT(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY ln) AS clean_text
        |  FROM kept GROUP BY page_id)
        |SELECT c.page_id, COALESCE(b.clean_text, '') AS clean_text,
        |  CAST(len(string_split(c.text, chr(10)))
        |    - COALESCE(b.n_kept, 0) AS BIGINT) AS n_dropped_lines
        |FROM c4kept c LEFT JOIN built b USING (page_id)
        |ORDER BY c.page_id""".stripMargin),
    Gate("q_pii", qPii, {
      import graft.pipeline.TextOps.{emailRe, urlRe, phoneRe, ccRe, ipv4Re}
      s"""WITH synth AS (SELECT c_custkey,
         |  'reach user' || CAST(c_custkey AS VARCHAR) || '@example.com or call 555-' ||
         |  lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         |  ' visit https://example.com/u/' || CAST(c_custkey AS VARCHAR) ||
         |  ' card 4242-4242-4242-' ||
         |  lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         |  ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) ||
         |  '.' || CAST(c_custkey // 256 % 256 AS VARCHAR) AS text
         |FROM customer)
         |SELECT c_custkey,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(text,
         |    '$urlRe', '[URL]', 'g'), '$emailRe', '[EMAIL]', 'g'),
         |    '$ccRe', '[CARD]', 'g'), '$ipv4Re', '[IP]', 'g'),
         |    '$phoneRe', '[PHONE]', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$urlRe')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '$ccRe')) AS BIGINT) AS n_cards,
         |  CAST(len(regexp_extract_all(text, '$ipv4Re')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones
         |FROM synth ORDER BY c_custkey""".stripMargin
    }),
    Gate("q_vocab", qVocab,
      s"""SELECT token, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |GROUP BY token ORDER BY n_docs DESC, token LIMIT 20""".stripMargin),
    Gate("q_heavy_hitters", qHeavyHitters,
      // exact corpus totals + the guaranteed-set size re-derived; the
      // four Misra-Gries contract booleans pinned TRUE (the sketch's
      // reported item set is partition-dependent near the error floor,
      // so only invariant facts ride the row)
      s"""WITH amp AS (SELECT doc_id,
         |    text || ' ' || repeat('zzhot ', CAST(doc_id % 7 + 10 AS INT))
         |      AS text
         |  FROM documents),
         |t AS (
         |  SELECT token, COUNT(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS token FROM amp)
         |  WHERE token <> '' GROUP BY token),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_vocab FROM t)
         |SELECT n_tokens, n_vocab,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM t
         |   WHERE CAST(cnt AS DOUBLE) >
         |     CAST((SELECT n_tokens FROM tot) AS DOUBLE) / 21)
         |    AS n_guaranteed,
         |  TRUE AS reported_le_k,
         |  TRUE AS all_underestimate,
         |  TRUE AS all_within_bound,
         |  TRUE AS guaranteed_present
         |FROM tot""".stripMargin),
    Gate("q_tfidf", qTfidf,
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |dfq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |w AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.dfreq,
         |        tf.tf * (CAST(n.n AS DOUBLE) / dfq.dfreq) AS weight
         |      FROM tf JOIN dfq USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tf, dfreq, weight FROM w
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, token) = 1
         |ORDER BY doc_id""".stripMargin),
    Gate("q_heavy", qHeavy,
      // exact regime (k=64 > 31 distinct fixture tokens): the sketch
      // equals the exact token-frequency table
      s"""WITH toks AS (SELECT unnest($toksSql) AS token FROM documents)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS est FROM toks
         |WHERE token <> ''
         |GROUP BY token ORDER BY est DESC, token""".stripMargin),
    Gate("q_unicode_nfc", qUnicodeNfc, {
      // chr(769) = U+0301 combining acute (decomposed), chr(233) = é
      // (composed); DuckDB's own nfc_normalize is the oracle
      val dec = "text || ' caf' || 'e' || chr(769) || ' caf' || chr(233)"
      s"""SELECT doc_id,
         |  CAST(length($dec) AS BIGINT) AS len_raw,
         |  nfc_normalize($dec) AS nfc,
         |  CAST(length(nfc_normalize($dec)) AS BIGINT) AS len_nfc
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    Gate("q_vocab_drift", qVocabDrift,
      // js_term (ln-based) is deliberately NOT in the gate row: DuckDB's
      // ln drifts from Math.log by 1 ulp on some inputs (measured), so
      // its semantics are spec-pinned instead.
      s"""WITH ${tokenDivergenceSql("documents WHERE lang = 'en'",
           "documents WHERE lang = 'fr'")}""".stripMargin),
  )
}
