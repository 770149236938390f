package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Materialize, TextOps}

import Shared._

/** Exact, near, substring, line and URL dedup, fingerprinting
  * and decontamination over the documents corpus.
  */
private[graft] object DedupGates {

  /** URL-canonicalization dedup ([[graft.pipeline.TextOps
    * .canonicalizeUrl]] — the C4/CCNet "dedup the crawl by normalized
    * URL" pass, RFC 3986 §6): per document TWO deterministically
    * synthesized raw URLs that exercise every normalization rule at
    * once — variant 0 is maximally messy (uppercase scheme and host,
    * explicit `:443`, doubled path slashes, trailing slash, `utm_*` +
    * `fbclid` tracking params, a fragment), variant 1 is the clean
    * twin — and both must canonicalize to the identical URL, so the
    * hash-groupBy dedup lands exactly one group of 2 per document.
    * The normalizer is a pure codegen expression chain (no UDF) and
    * every step is ANSI-replayable: DuckDB re-synthesizes the raw
    * URLs, re-runs the whole normalization and the grouping, and the
    * row hash pins each canonical form BYTE-FOR-BYTE — a wrong
    * lowercase span, an unstripped port, a surviving tracking param or
    * a missed slash collapse reds every row. `n_raw_distinct = 2` pins
    * that the variants really differed before normalization. One hash
    * aggregate, scan-speed narrow before it — the 100 TB shape of a
    * crawl-snapshot URL dedup.
    */
  private def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    val h8 = substring(md5(concat(lit("url:"),
      col("doc_id").cast("string"))), 1, 8)
    val pid = substring(md5(concat(lit("url:"),
      col("doc_id").cast("string"))), 9, 6)
    val messy = concat(lit("HTTPS://WWW."), h8,
      lit(".Example.COM:443//docs//"), pid, lit("/?id="), pid,
      lit("&utm_source=feed&fbclid=abc123#frag"))
    val clean = concat(lit("https://www."), h8, lit(".example.com/docs/"),
      pid, lit("?id="), pid)
    val urls = docs(s, dir).select(col("doc_id"),
        explode(array(messy, clean)).as("raw_url"))
      .select(col("doc_id"), col("raw_url"),
        graft.pipeline.TextOps.canonicalizeUrl(col("raw_url"))
          .as("canonical_url"))
    urls.groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("raw_url")).as("n_raw_distinct"),
        min(col("doc_id")).as("min_doc"))
      .orderBy("canonical_url")
  }

  /** Exact dedup: content-hash groupBy over the corpus with a deterministic
    * duplicate injection (every 50th doc repeated) so the grouping is
    * actually exercised. One hash-partitioned aggregate — the 100 TB shape.
    */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir)
    val withDups = d.unionAll(d.filter(col("doc_id") % 50 === 0))
    Dedup.exactGroups(withDups, "doc_id", "text").orderBy("content_hash")
  }

  /** Exact dedup under the QUALITY-aware survivor policy
    * ([[graft.pipeline.Dedup.dropExactDuplicatesKeepBest]] — the
    * keep-best rule completing the exact/near/semantic family): the
    * corpus gains a re-keyed `mirror`-source copy of every 50th
    * document, and source priority (mirror = 2 > original = 1) makes
    * each duplicated group keep the HIGHER-id mirror — the opposite
    * end from the min-id rule, so the policies provably diverge under
    * the oracle. DuckDB re-derives the content hashes, the per-group
    * max-score cut and the min-id tie-break.
    */
  private def qDedupExactBest(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir).select("doc_id", "source", "text")
    val mirror = d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        lit("mirror").as("source"), col("text"))
    Dedup.dropExactDuplicatesKeepBest(d.unionAll(mirror), "doc_id",
        "text", when(col("source") === "mirror", 2).otherwise(1))
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Near-dedup under the QUALITY-aware survivor policy
    * ([[graft.pipeline.Dedup.dropNearDuplicatesKeepBest]]): the same
    * MinHash→LSH→Jaccard pair graph and connected components as
    * `q_dedup_clusters`, but each cluster keeps its highest-quality
    * member (the single bit-pinned q_quality formula — near-dups are
    * DIFFERENT texts, so a text-derived score genuinely discriminates,
    * unlike the exact family) with ties to the lower id. DuckDB
    * re-derives the pair graph, the recursive components, every
    * member's quality score and the argmax survivor.
    */
  private def qDedupNearBest(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("__q", TextOps.qualityScore(col("text")))
    Dedup.dropNearDuplicatesKeepBest(d, "doc_id", "text", "__q",
        threshold = 0.8)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Exact substring dedup (Lee et al.): every 40-char gram duplicated
    * anywhere in the corpus keeps its canonical occurrence only; other
    * occurrences' spans merge and are cut out of the text
    * ([[graft.pipeline.Dedup.dropDuplicateSubstrings]]). Full value
    * oracle: DuckDB re-derives occurrence marking, island merging, and
    * segment reassembly, and compares the CLEANED TEXT byte-for-byte —
    * the sf0.001 corpus already exercises the all-removed edge (a doc
    * cleaning to the empty string).
    */
  private def qSubstringDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicateSubstrings(docs(s, dir), "doc_id", "text", 40)
      .select(col("doc_id"), col("clean_text"),
        col("n_removed_chars").cast("bigint").as("n_removed_chars"))
      .orderBy("doc_id")

  /** Line-level dedup (CCNet style): the corpus is folded into 25
    * multi-line "pages" (header + member docs ORDER BY doc_id + footer,
    * with every `doc_id % 10 == 3` doc ALSO guesting on the next page),
    * then any line appearing in more than one page — the header/footer
    * on all 25, each guest line on 2 — is dropped from EVERY page
    * ([[graft.pipeline.Dedup.dropDuplicateLines]]). DuckDB rebuilds
    * the pages and the dedup and compares cleaned text byte-for-byte.
    */
  private def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir)
    val members = d
      .select((col("doc_id") % 25).as("page_id"), col("doc_id"),
        col("text"))
      .unionAll(d.filter(col("doc_id") % 10 === 3)
        .select(((col("doc_id") + 1) % 25).as("page_id"), col("doc_id"),
          col("text")))
    val pages = members.groupBy("page_id").agg(
      concat(lit("echo header: subscribe to the corpus feed\n"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")),
          "\n"),
        lit("\necho footer: all rights reserved")).as("text"))
    Dedup.dropDuplicateLines(pages, "page_id", "text", maxDocFreq = 1)
      .select(col("page_id"), col("clean_text"),
        col("n_dropped_lines").cast("bigint").as("n_dropped_lines"))
      .orderBy("page_id")
  }

  /** Span-level decontamination
    * ([[graft.pipeline.Dedup.removeBenchmarkSpans]]): corpus = docs
    * with `doc_id % 10 != 0`, benchmark = the rest; every corpus span
    * whose 25-char grams appear verbatim in the benchmark is cut out
    * (quotes die, documents survive). DuckDB re-derives the benchmark
    * gram set, the semi-join marking, the island merge, and the
    * reassembly, comparing cleaned text byte-for-byte.
    */
  private def qDecontaminateSpans(s: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(s, dir)
    Dedup.removeBenchmarkSpans(d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text", 25)
      .select(col("doc_id"), col("clean_text"),
        col("n_removed_chars").cast("bigint").as("n_removed_chars"))
      .orderBy("doc_id")
  }

  /** Near dedup: shingle → MinHash(8) → banded LSH(4×2) → exact-Jaccard
    * verify ≥ 0.8. No cartesian stage (see [[graft.pipeline.Dedup]]).
    */
  private def qDedupNear(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicatePairs(docsNarrow(s, dir), "doc_id", "text", 0.8)
      .orderBy("id_a", "id_b")

  /** Near-dup clusters: the verified pair graph collapsed to connected
    * components ([[graft.pipeline.Dedup.connectedComponents]], whose
    * semantic spec is "cluster id = min reachable doc id"). The dedup
    * decision table a curation run
    * actually applies: keep `doc_id == cluster_id`, drop the rest.
    */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.nearDuplicatePairs(docs(s, dir), "doc_id", "text", 0.8)
          .select("id_a", "id_b"))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")

  /** Train/test decontamination: corpus docs sharing ≥3 word-3-grams with a
    * benchmark doc (the doc_id%10==0 split stands in for the held-out set) —
    * see [[graft.pipeline.Dedup.crossCorpusOverlap]].
    */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir)
    Dedup.crossCorpusOverlap(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleK = 3, minShared = 3)
      .orderBy("id_a", "id_b")
  }

  /** [[qDecontaminate]] through the Bloom-prefiltered path
    * ([[graft.pipeline.Dedup.bloomDecontaminate]]): the corpus side is
    * prescreened by a benchmark-shingle Bloom filter (narrow scan, no
    * corpus shuffle — the 100 TB shape) before the exact join verifies
    * the survivors. Because the prefilter has no false negatives, the
    * result must EQUAL the exact path's — the oracle re-derives the
    * full exact overlap in DuckDB, so a Bloom stage that dropped one
    * true pair (or a verify stage that kept one false positive) reds
    * this row. A lower `minShared` than q_decontaminate keeps the two
    * rows from being copies of one another.
    */
  private def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir)
    Dedup.bloomDecontaminate(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleK = 3, minShared = 2, fpp = 0.01)
      .orderBy("id_a", "id_b")
  }

  /** Bottom-k sketch fingerprint per document. */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** TRUE winnowing fingerprints ([[TextOps.winnowFingerprints]],
    * k=8-char grams, w=4 windows) exploded to (doc_id, fp) rows — the
    * position-local overlap-detection selection, value-oracle-checked
    * selection by selection.
    */
  private def qWinnow(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowFingerprintRows(docs(s, dir), "doc_id", "text", 8, 4)
      .orderBy("doc_id", "fp")

  /** Winnowing cross-corpus overlap ([[TextOps.winnowOverlap]]): every
    * (corpus, benchmark) pair sharing ≥ 20 winnowing selections, with
    * the same %10 corpus/benchmark split as [[qDecontaminate]] — the
    * position-local verbatim-overlap scan next to the shingle-set one.
    */
  private def qWinnowOverlap(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextOps.winnowOverlap(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 8, w = 4, minShared = 20)
      .orderBy("id_a", "id_b")
  }

  /** Incremental near-dedup ([[graft.pipeline.Dedup.buildNearDupIndex]] /
    * [[graft.pipeline.Dedup.nearDupPairsAgainstIndex]]): the even-id
    * half of the corpus plays the already-landed indexed corpus, the
    * odd-id half the incoming ingest batch — every cross near-dup pair
    * at Jaccard ≥ 0.8 must surface WITHOUT a corpus self-join (the
    * batch's banded signatures broadcast into the index scan). The
    * oracle re-derives the full MinHash → banding → verify pipeline
    * across the split.
    */
  private def qDedupIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // persistShingles = false: the index feeds exactly one probe action
    // (evaluated after this function returns), so a cache entry would
    // outlive the call with no one to release it
    val idx = Dedup.buildNearDupIndex(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      persistShingles = false)
    Dedup.nearDupPairsAgainstIndex(idx,
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", 0.8)
      .orderBy("id_old", "id_new")
  }

  /** [[qDedupIncr]] THROUGH THE MAINTENANCE PATH: the even corpus lands
    * in two installments — an initial [[graft.pipeline.Dedup
    * .buildNearDupIndex]]/[[graft.pipeline.Dedup.writeNearDupIndex]] on
    * doc_id%4==0, then an [[graft.pipeline.Dedup.appendToNearDupIndex]]
    * of the %4==2 ingest — and the odd batch probes the LOADED layout.
    * Shares q_dedup_incr's oracle verbatim: the appended index must
    * answer exactly like a fresh build over the full even corpus, under
    * the driver's value gate, not just the specs.
    */
  private def qDedupAppend(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val path = scratchDir("q-dedup-append")
    Materialize.scope {
      Dedup.writeNearDupIndex(Dedup.buildNearDupIndex(
        d.filter(col("doc_id") % 4 === 0), "doc_id", "text"), path)
    }
    Dedup.appendToNearDupIndex(s, path,
      d.filter(col("doc_id") % 4 === 2), "doc_id", "text")
    Dedup.nearDupPairsAgainstIndex(Dedup.loadNearDupIndex(s, path),
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", 0.8)
      .orderBy("id_old", "id_new")
  }

  /** 16-bit SimHash per document (md5-nibble, oracle-portable variant;
    * production path is the xxhash64 64-bit [[TextOps.simHash64]]).
    */
  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    TextOps.simHash16(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Hamming-≤1 SimHash near-dup pairs via pigeonhole banding (2 chunks of
    * 8 bits; see [[graft.pipeline.Dedup.simHashNearPairs]]) on the
    * oracle-portable 16-bit hash. Production: same operator at
    * bits=64/k=3 over [[TextOps.simHash64]].
    */
  private def qSimhashNear(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearPairs(
        TextOps.simHash16(docs(s, dir), "doc_id", "text"),
        "doc_id", "simhash", k = 1, bits = 16)
      .orderBy("id_a", "id_b")

  /** Production-path parity row for 64-bit winnowing (the r9 verdict's
    * ask): xxhash64 fingerprints have no ANSI-SQL oracle, so the driver
    * gate instead pins the native codegen path
    * ([[graft.plans.WinnowSelect]] 64-bit form) against the staged
    * higher-order-function fold — two independent implementations of
    * the same selection, compared per document over the whole fixture.
    * Any divergence turns n_match < n_docs and the row red.
    */
  private def qWinnow64Parity(s: SparkSession, dir: String): DataFrame = {
    val fold = TextOps.winnowFingerprints64Fold(docs(s, dir), "doc_id",
      "text").withColumnRenamed("fingerprints", "__fold")
    val nat = TextOps.winnowFingerprints64(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("fingerprints", "__native")
    fold.join(nat, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__fold") === col("__native"), 1L).otherwise(0L))
          .as("n_match"))
  }

  /** Production-path parity row for 64-bit SimHash: the explode +
    * two-stage aggregate [[TextOps.simHash64]] against the pure-Column
    * per-row [[TextOps.simHash64Expr]] re-derivation — independent
    * plans, identical integer math, compared per document. Pins the
    * xxhash64 production hash to the driver gate the way q_simhash
    * pins the md5 oracle twin.
    */
  private def qSimhash64Parity(s: SparkSession, dir: String): DataFrame = {
    val agg = TextOps.simHash64(docs(s, dir), "doc_id", "text")
    val row = docs(s, dir).select(col("doc_id"),
      TextOps.simHash64Expr(col("text")).as("__row"))
    agg.join(row, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("simhash") === col("__row"), 1L).otherwise(0L))
          .as("n_match"))
  }

  /** Production-path parity row for 64-bit exact substring dedup (the
    * r12 verdict's ask): [[graft.pipeline.Dedup
    * .substringRemovalIntervals64]] is the production xxhash64 hash
    * path, but xxhash64 has no ANSI-SQL oracle, so the gate instead
    * pins its removal intervals against the md5 path's — two hash
    * families through the same marking + island merge, compared per
    * document over the whole fixture (docs with NO intervals compare
    * null-safely equal). Any family divergence — or a hash collision
    * equating two distinct grams — turns n_match < n_docs and the row
    * red.
    */
  private def qSubstringDedup64Parity(s: SparkSession, dir: String)
      : DataFrame = {
    def ivs(df: DataFrame, name: String) = df
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as(name))
    val a = ivs(Dedup.substringRemovalIntervals(
      docs(s, dir), "doc_id", "text", 40), "__md5")
    val b = ivs(Dedup.substringRemovalIntervals64(
      docs(s, dir), "doc_id", "text", 40), "__xx")
    docs(s, dir).select("doc_id")
      .join(a, Seq("doc_id"), "left")
      .join(b, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__md5") <=> col("__xx"), 1L).otherwise(0L))
          .as("n_match"))
  }

  private val shingleCte = shingleCteFrom("documents")

  /** The incremental shape across the even/odd split: signatures are
    * per-doc (split-independent), candidates pair an EVEN (indexed
    * corpus) doc with an ODD (ingest batch) doc on a shared band
    * signature, then the standard exact-Jaccard verify. Shared verbatim
    * by `q_dedup_incr` (fresh in-memory index) and `q_dedup_append`
    * (persisted index grown by `appendToNearDupIndex`) — the two Spark
    * paths must produce identical values.
    */
  private lazy val dedupIncrOracleSql: String = {
    val mins = (0 until 8)
      .map(i => s"min(md5('$i|' || shingle)) AS h$i").mkString(", ")
    val bandSel = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, h${2 * b} || h${2 * b + 1} AS sig FROM sig")
      .mkString(" UNION ALL ")
    s"""WITH $shingleCte,
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS ($bandSel),
       |cand AS (SELECT DISTINCT a.doc_id AS id_old, b.doc_id AS id_new
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.sig = b.sig
       |         WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id_old, c.id_new, count(*) AS n_inter
       |          FROM cand c JOIN sh sa ON sa.doc_id = c.id_old
       |          JOIN sh sb ON sb.doc_id = c.id_new
       |            AND sb.shingle = sa.shingle
       |          GROUP BY c.id_old, c.id_new)
       |SELECT i.id_old, i.id_new, i.n_inter,
       |  CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) AS jaccard
       |FROM inter i JOIN sz za ON za.doc_id = i.id_old
       |JOIN sz zb ON zb.doc_id = i.id_new
       |WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= 0.8
       |ORDER BY id_old, id_new""".stripMargin
  }

  private val nearDupCtes = nearDupCtesFrom("documents")

  /** Shared CTE chain ending in `sh16(doc_id, simhash)` — the DuckDB mirror
    * of [[TextOps.simHash16]], used by both q_simhash and q_simhash_near.
    */
  private val simhash16Cte =
    s"""toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |sbits AS (SELECT doc_id, tok, unnest(generate_series(0, 15)) AS b FROM toks),
       |ssum AS (SELECT doc_id, b,
       |  SUM(CASE WHEN CAST(floor(
       |      (strpos('0123456789abcdef', substr(md5(tok), CAST(floor(b/4) AS INT) + 1, 1)) - 1)
       |      / pow(2, b % 4)) AS BIGINT) % 2 = 1
       |      THEN 1 ELSE -1 END) AS sb
       |  FROM sbits GROUP BY doc_id, b),
       |sh16 AS (SELECT doc_id,
       |  CAST(SUM(CASE WHEN sb >= 0 THEN pow(2, b) ELSE 0 END) AS BIGINT) AS simhash
       |FROM ssum GROUP BY doc_id)""".stripMargin

  /** The span removal both substring oracles end in: the spans
    * `rem(doc_id, pos, e)` merge into islands, and each doc of `src` is
    * reassembled, in order, from the gaps between its islands.
    */
  private def removeSpansSql(src: String): String =
    s"""isl AS (SELECT doc_id, pos, e,
       |    CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      1 PRECEDING), 0) THEN 1 ELSE 0 END AS ni
       |  FROM rem),
       |iv AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
       |       FROM (SELECT *, SUM(ni) OVER (PARTITION BY doc_id
       |               ORDER BY pos) AS island FROM isl)
       |       GROUP BY doc_id, island),
       |seg AS (
       |  SELECT doc_id, COALESCE(LAG(e) OVER (PARTITION BY doc_id
       |           ORDER BY s), 1) AS ks, s AS ke
       |  FROM iv
       |  UNION ALL
       |  SELECT iv.doc_id, MAX(iv.e), MIN(length(d.text)) + 1
       |  FROM iv JOIN $src d USING (doc_id) GROUP BY iv.doc_id),
       |cleaned AS (
       |  SELECT seg.doc_id,
       |         string_agg(substring(d.text, ks, ke - ks), ''
       |           ORDER BY ks) AS ct
       |  FROM seg JOIN $src d USING (doc_id)
       |  GROUP BY seg.doc_id)
       |SELECT d.doc_id, COALESCE(c.ct, d.text) AS clean_text,
       |       CAST(length(d.text) - length(COALESCE(c.ct, d.text))
       |         AS BIGINT) AS n_removed_chars
       |FROM $src d LEFT JOIN cleaned c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_dedup_exact", qDedupExact,
      s"""SELECT md5($normSql) AS content_hash, COUNT(*) AS n_copies,
         |MIN(doc_id) AS keep_id
         |FROM (SELECT * FROM documents
         |      UNION ALL SELECT * FROM documents WHERE doc_id % 50 = 0)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_dedup_exact_best", qDedupExactBest,
      // keep-best exact dedup: content hash groups, per-group max
      // external score (mirror source outranks originals), min-id
      // tie-break — the survivor set re-derived end to end
      s"""WITH corpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000, 'mirror', text FROM documents
         |  WHERE doc_id % 50 = 0),
         |h AS (SELECT doc_id, source, md5($normSql) AS ch,
         |    CASE WHEN source = 'mirror' THEN 2.0 ELSE 1.0 END AS s
         |  FROM corpus),
         |top AS (SELECT ch, MAX(s) AS m FROM h GROUP BY ch),
         |keep AS (SELECT h.ch, MIN(h.doc_id) AS keep_id
         |  FROM h JOIN top t ON t.ch = h.ch AND h.s = t.m GROUP BY h.ch)
         |SELECT h.doc_id, h.source FROM h
         |JOIN keep k ON k.ch = h.ch AND k.keep_id = h.doc_id
         |ORDER BY doc_id""".stripMargin),
    Gate("q_dedup_near_best", qDedupNearBest,
      // keep-best near dedup: the q_dedup_near pair graph, the shared
      // recursive component closure, quality scores (the bit-pinned
      // q_quality formula) and the argmax survivor with min-id ties
      s"""WITH RECURSIVE $nearDupCtes,
         |pairs AS MATERIALIZED (SELECT i.id_a, i.id_b
         |  FROM inter i JOIN sz za ON za.doc_id = i.id_a
         |  JOIN sz zb ON zb.doc_id = i.id_b
         |  WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter)
         |    >= 0.8),
         |$semComponentCtes,
         |qf AS (SELECT $qualityFeatSelect FROM documents),
         |qsc AS (SELECT doc_id, $qualityScoreSql AS q FROM qf),
         |members AS MATERIALIZED (SELECT comp.id, comp.cluster_id, s.q
         |  FROM comp JOIN qsc s ON s.doc_id = comp.id),
         |top AS (SELECT cluster_id, MAX(q) AS m FROM members
         |  GROUP BY cluster_id),
         |keep AS (SELECT t.cluster_id, MIN(mm.id) AS id
         |  FROM members mm JOIN top t ON t.cluster_id = mm.cluster_id
         |  WHERE mm.q = t.m GROUP BY t.cluster_id),
         |dropped AS (SELECT id FROM members
         |  WHERE id NOT IN (SELECT id FROM keep))
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_dedup_near", qDedupNear,
      s"""WITH $nearDupCtes
         |SELECT i.id_a, i.id_b, i.n_inter,
         |  CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) AS jaccard
         |FROM inter i JOIN sz za ON za.doc_id = i.id_a
         |JOIN sz zb ON zb.doc_id = i.id_b
         |WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),
    // exact substring dedup: occurrence marking (count + canonical
    // row_number over the gram hash), removal spans, gaps-and-islands
    // merge, complement segments, ordered string_agg reassembly — the
    // full Lee-et-al. pipeline re-derived relationally. No WHERE on
    // empty segments: substring(_, k, 0) = '' keeps the all-removed
    // doc's group alive so it cleans to '' rather than COALESCE-ing
    // back to the original.
    Gate("q_substring_dedup", qSubstringDedup,
      s"""WITH occ AS (
        |  SELECT doc_id, CAST(p AS INTEGER) AS pos,
        |         md5(substring(text, CAST(p AS INTEGER), 40)) AS g
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 39)) AS u(p)),
        |mk AS (SELECT doc_id, pos,
        |         COUNT(*) OVER (PARTITION BY g) AS c,
        |         ROW_NUMBER() OVER (PARTITION BY g
        |           ORDER BY doc_id, pos) AS rn
        |       FROM occ),
        |rem AS (SELECT doc_id, pos, pos + 40 AS e FROM mk
        |        WHERE c > 1 AND rn > 1),
        |${removeSpansSql("documents")}""".stripMargin),
    // span decontamination: distinct benchmark grams, semi-join marking
    // over the corpus occurrences, then the same island-merge +
    // complement + ordered reassembly as q_substring_dedup
    Gate("q_decontaminate_spans", qDecontaminateSpans,
      s"""WITH bocc AS (
        |  SELECT DISTINCT md5(substring(text, CAST(p AS INTEGER), 25))
        |    AS g
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 24)) AS u(p)
        |  WHERE doc_id % 10 = 0),
        |corp AS (SELECT doc_id, text FROM documents
        |         WHERE doc_id % 10 <> 0),
        |rem AS (
        |  SELECT doc_id, CAST(p AS INTEGER) AS pos,
        |         CAST(p AS INTEGER) + 25 AS e
        |  FROM corp, unnest(generate_series(1, length(text) - 24)) AS u(p)
        |  WHERE md5(substring(text, CAST(p AS INTEGER), 25))
        |        IN (SELECT g FROM bocc)),
        |${removeSpansSql("corp")}""".stripMargin),
    // line-level dedup: page synthesis (header + ORDER BY doc_id body +
    // footer, %10==3 docs guesting on the next page), per-line doc
    // frequency on the NORMALIZED line, drop every occurrence above
    // df 1, ordered string_agg reassembly
    Gate("q_line_dedup", qLineDedup,
      raw"""WITH members AS (
        |  SELECT doc_id % 25 AS page_id, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT (doc_id + 1) % 25, doc_id, text FROM documents
        |  WHERE doc_id % 10 = 3),
        |pages AS (
        |  SELECT page_id,
        |    'echo header: subscribe to the corpus feed' || chr(10) ||
        |    string_agg(text, chr(10) ORDER BY doc_id) || chr(10) ||
        |    'echo footer: all rights reserved' AS text
        |  FROM members GROUP BY page_id),
        |ls AS (
        |  SELECT page_id, CAST(i AS INTEGER) AS ln,
        |         list_extract(string_split(text, chr(10)),
        |           CAST(i AS INTEGER)) AS line
        |  FROM pages,
        |       unnest(generate_series(1,
        |         len(string_split(text, chr(10))))) AS u(i)),
        |keyed AS (
        |  SELECT page_id, ln, line,
        |         md5(lower(trim(regexp_replace(line, '\s+', ' ', 'g'))))
        |           AS k,
        |         lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) AS nrm
        |  FROM ls),
        |$lineFreqKeptCtes,
        |built AS (
        |  SELECT page_id, COUNT(*) AS n_kept,
        |         string_agg(line, chr(10) ORDER BY ln) AS clean_text
        |  FROM kept GROUP BY page_id)
        |SELECT p.page_id, COALESCE(b.clean_text, '') AS clean_text,
        |       CAST(len(string_split(p.text, chr(10)))
        |         - COALESCE(b.n_kept, 0) AS BIGINT) AS n_dropped_lines
        |FROM pages p LEFT JOIN built b USING (page_id)
        |ORDER BY p.page_id""".stripMargin),
    Gate("q_dedup_clusters", qDedupClusters,
      // transitive closure as the semantic spec: cluster id = MIN
      // reachable doc id over the verified near-dup pair graph — the
      // recursive CTE is DuckDB's way to say what the distributed
      // label propagation computes
      s"""WITH RECURSIVE $nearDupCtes,
         |$nearReachCtes
         |SELECT id AS doc_id, MIN(r) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    Gate("q_dedup_incr", qDedupIncr, dedupIncrOracleSql),
    // the SAME oracle verbatim: after folding the second even half into
    // the persisted layout, the appended index must answer EXACTLY like
    // a fresh build over the full even corpus
    Gate("q_dedup_append", qDedupAppend, dedupIncrOracleSql),
    Gate("q_decontaminate", qDecontaminate,
      s"""WITH $shingleCte,
         |ca AS (SELECT doc_id AS id_a, shingle FROM sh WHERE doc_id % 10 <> 0),
         |cb AS (SELECT doc_id AS id_b, shingle FROM sh WHERE doc_id % 10 = 0)
         |SELECT ca.id_a, cb.id_b, COUNT(*) AS n_shared
         |FROM ca JOIN cb USING (shingle)
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |ORDER BY id_a, id_b""".stripMargin),
    Gate("q_decontaminate_bloom", qDecontaminateBloom,
      // the EXACT overlap — the Bloom stage is a prefilter that must
      // not change the answer (no false negatives; verify restores set
      // equality over the superset it keeps)
      s"""WITH $shingleCte,
         |ca AS (SELECT doc_id AS id_a, shingle FROM sh WHERE doc_id % 10 <> 0),
         |cb AS (SELECT doc_id AS id_b, shingle FROM sh WHERE doc_id % 10 = 0)
         |SELECT ca.id_a, cb.id_b, COUNT(*) AS n_shared
         |FROM ca JOIN cb USING (shingle)
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin),
    Gate("q_fingerprint", qFingerprint,
      s"""WITH $shingleCte,
         |h AS (SELECT DISTINCT doc_id, md5(shingle) AS h FROM sh),
         |top AS (SELECT doc_id, h FROM h
         |        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY h) <= 4)
         |SELECT doc_id, string_agg(h, ',' ORDER BY h) AS fingerprint
         |FROM top GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Gate("q_winnow", qWinnow,
      // the same winnowing selection: md5 of every 8-char gram of the
      // normalized text, min over each 4-gram window (frames past the
      // last full window are excluded — i <= cnt-3 — except the single
      // all-grams window of docs with < 4 grams), distinct selections.
      // md5-string minima compare lexicographically on both engines.
      s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
         |g AS (SELECT doc_id, t,
         |        unnest(generate_series(1, greatest(length(t) - 7, 0))) AS i
         |      FROM norm),
         |h AS (SELECT doc_id, i, md5(substr(t, CAST(i AS INT), 8)) AS h
         |      FROM g),
         |w AS (SELECT doc_id, i,
         |        min(h) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
         |        count(*) OVER (PARTITION BY doc_id) AS cnt
         |      FROM h)
         |SELECT DISTINCT doc_id, mh AS fp FROM w
         |WHERE i <= greatest(cnt - 3, 1)
         |ORDER BY doc_id, fp""".stripMargin),
    Gate("q_winnow_overlap", qWinnowOverlap,
      // q_winnow's selection CTE over the whole corpus, self-joined on
      // the fingerprint across the %10 corpus/benchmark split, pair
      // counts with the >= 20 floor (the fixture corpus shares heavy
      // boilerplate, so a low floor passes nearly every pair) — mirrors
      // TextOps.winnowOverlap
      s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
         |g AS (SELECT doc_id, t,
         |        unnest(generate_series(1, greatest(length(t) - 7, 0))) AS i
         |      FROM norm),
         |h AS (SELECT doc_id, i, md5(substr(t, CAST(i AS INT), 8)) AS h
         |      FROM g),
         |wnd AS (SELECT doc_id, i,
         |        min(h) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
         |        count(*) OVER (PARTITION BY doc_id) AS cnt
         |      FROM h),
         |sel AS (SELECT DISTINCT doc_id, mh AS fp FROM wnd
         |        WHERE i <= greatest(cnt - 3, 1))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM sel a JOIN sel b ON a.fp = b.fp
         |WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
         |GROUP BY 1, 2 HAVING COUNT(*) >= 20
         |ORDER BY id_a, id_b""".stripMargin),
    Gate("q_simhash", qSimhash,
      s"""WITH $simhash16Cte
         |SELECT doc_id, simhash FROM sh16 ORDER BY doc_id""".stripMargin),
    Gate("q_simhash_near", qSimhashNear,
      // the oracle is the SEMANTIC spec — all pairs at Hamming distance ≤1
      // (an n² filter DuckDB happily runs at oracle scale); the Spark side
      // must produce the identical set through the banded bucket join
      s"""WITH $simhash16Cte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh16 a JOIN sh16 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY id_a, id_b""".stripMargin),
    Gate("q_winnow64_parity", qWinnow64Parity,
      // the production xxhash64 winnowing selection has no ANSI-SQL
      // oracle; the check is Spark-side (native codegen path vs staged
      // HOF fold, per doc) and the oracle pins the CONTRACT: every
      // fixture document compared, every one matching
      "SELECT count(*) AS n_docs, count(*) AS n_match FROM documents"),
    Gate("q_simhash64_parity", qSimhash64Parity,
      // same pattern for the 64-bit SimHash: aggregate-shaped vs
      // per-row Column re-derivations must agree on every document
      "SELECT count(*) AS n_docs, count(*) AS n_match FROM documents"),
    Gate("q_substring_dedup64_parity", qSubstringDedup64Parity,
      // same pattern for 64-bit substring dedup: md5 and xxhash64
      // removal intervals must agree per document across the fixture
      "SELECT count(*) AS n_docs, count(*) AS n_match FROM documents"),
    Gate("q_url_dedup", qUrlDedup,
      // DuckDB re-synthesizes both raw URL variants per document,
      // replays the ENTIRE canonicalization (lowercase scheme/host,
      // default-port strip, fragment drop, tracking-param removal
      // with separator repair, slash collapse, trailing-slash strip,
      // empty-query drop) and the grouping — the row hash pins every
      // canonical form byte-for-byte
      s"""WITH ids AS (SELECT doc_id,
         |    substr(md5('url:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h8,
         |    substr(md5('url:' || CAST(doc_id AS VARCHAR)), 9, 6) AS pid
         |  FROM documents),
         |raw AS (SELECT doc_id, unnest([
         |    'HTTPS://WWW.' || h8 || '.Example.COM:443//docs//' || pid ||
         |      '/?id=' || pid || '&utm_source=feed&fbclid=abc123#frag',
         |    'https://www.' || h8 || '.example.com/docs/' || pid ||
         |      '?id=' || pid]) AS raw_url
         |  FROM ids),
         |c0 AS (SELECT doc_id, raw_url,
         |    lower(regexp_extract(raw_url,
         |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |    regexp_replace(raw_url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
         |  FROM raw),
         |c1 AS (SELECT *,
         |    lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
         |    regexp_replace(rest, '^[^/?#]*', '') AS pathqf
         |  FROM c0),
         |c2 AS (SELECT *,
         |    CASE WHEN scheme = 'http'
         |        THEN regexp_replace(hostport, ':80$$', '')
         |      WHEN scheme = 'https'
         |        THEN regexp_replace(hostport, ':443$$', '')
         |      ELSE hostport END AS host,
         |    regexp_extract(pathqf, '^([^?#]*)', 1) AS rawpath,
         |    regexp_extract(pathqf, '\\?([^#]*)', 1) AS rawquery
         |  FROM c1),
         |c3 AS (SELECT *,
         |    regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'),
         |      '/+$$', '') AS path,
         |    regexp_replace(rawquery,
         |      '(^|&)(utm_[^=&]*|fbclid|gclid)=[^&]*', '\\1', 'g') AS q1
         |  FROM c2),
         |c4 AS (SELECT *,
         |    regexp_replace(regexp_replace(q1, '&{2,}', '&', 'g'),
         |      '^&+|&+$$', '', 'g') AS q2
         |  FROM c3),
         |canon AS (SELECT doc_id, raw_url,
         |    CASE WHEN scheme = '' THEN raw_url
         |      ELSE scheme || '://' || host || path ||
         |        CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END
         |    END AS canonical_url
         |  FROM c4)
         |SELECT canonical_url, COUNT(*) AS n_variants,
         |  COUNT(DISTINCT raw_url) AS n_raw_distinct,
         |  MIN(doc_id) AS min_doc
         |FROM canon GROUP BY canonical_url
         |ORDER BY canonical_url""".stripMargin),
  )
}
