package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.TextOps

import Shared._

/** Sequence packing, chunking, token windows, bin assembly and
  * the epoch shuffle.
  */
private[graft] object PackingGates {

  /** Sequence packing ([[graft.pipeline.Packing.packByOffset]]): assign
    * every document to its fixed-token-budget training bin — offset
    * packing (concat-and-chunk) per language shard, budget 256
    * whitespace tokens, pinned doc_id order. One shard-partitioned
    * window cumulative sum; fully value-oracled (offset and bin per
    * document).
    */
  private def qPack(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.packByOffset(
        docs(s, dir).select("doc_id", "lang", "text"),
        "lang", "doc_id", TextOps.tokenCount(col("text")), 256)
      .select("doc_id", "lang", "tokens", "offset", "bin")
      .orderBy("lang", "doc_id")

  /** Boundary splitting over the [[qPack]] assignment
    * ([[graft.pipeline.Packing.chunkSpans]]): one row per (document,
    * bin) piece with its in-document start and length — the exact
    * material a sequence builder concatenates into full training bins.
    * Row-local arithmetic; the oracle re-derives every piece.
    */
  private def qPackChunks(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.chunkSpans(
        graft.pipeline.Packing.packByOffset(
          docsNarrow(s, dir).select("doc_id", "lang", "text"),
          "lang", "doc_id", TextOps.tokenCount(col("text")), 256),
        256)
      .select("doc_id", "lang", "piece_bin", "doc_from", "piece_tokens")
      .orderBy("lang", "doc_id", "piece_bin")

  /** The per-bin document-boundary table over the [[qPackChunks]]
    * pieces ([[graft.pipeline.Packing.binBoundaries]]): each piece's
    * start position inside its assembled bin, in the same offset order
    * [[qPackBins]] concatenates by — the attention-mask artifact.
    * Every (shard, bin, doc, doc_from, piece_tokens, bin_from) row is
    * value-oracled: DuckDB re-derives the pieces and replays the
    * in-bin prefix sum.
    */
  private def qPackBoundaries(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.binBoundaries(
        graft.pipeline.Packing.chunkSpans(
          graft.pipeline.Packing.packByOffset(
            docsNarrow(s, dir).select("doc_id", "lang", "text"),
            "lang", "doc_id", TextOps.tokenCount(col("text")), 256),
          256),
        "lang", "doc_id")
      .select("doc_id", "lang", "bin", "doc_from", "piece_tokens",
        "bin_from")
      .orderBy("lang", "bin", "bin_from", "doc_id")

  /** [[qPack]] budgeted in REAL tokenizer tokens instead of whitespace
    * words: [[graft.functions.Bpe.tokenCount]] under the demo vocabulary
    * supplies `tokens`, so the bin assignment reflects what a trainer's
    * context window actually holds (whitespace counts under-estimate
    * subword budgets 1.3–2×). The oracle re-derives the tokenizer as
    * q_bpe's nested replace chain, then runs the same window sum.
    */
  private def qPackBpe(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Bpe
    graft.pipeline.Packing.packByOffset(
        docs(s, dir).select("doc_id", "lang", "text"),
        "lang", "doc_id",
        Bpe.tokenCount(Bpe.demoEnglish)(TextOps.tokens(col("text"))), 256)
      .select("doc_id", "lang", "tokens", "offset", "bin")
      .orderBy("lang", "doc_id")
  }

  /** Striding token windows ([[graft.pipeline.Packing.tokenWindows]],
    * window 64 / stride 48 over the real BPE id sequence): every
    * (doc, window, position, token id) row is value-oracled — DuckDB
    * re-derives the id sequence via the merge chain and re-cuts the
    * windows with generate_series + a range join on position.
    */
  private def qTokenWindows(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, BpeVocab}
    val v = BpeVocab(Bpe.demoEnglish, BpeVocab.asciiPrintable)
    val ids = docs(s, dir).select(col("doc_id"),
      Bpe.tokenIds(v)(TextOps.tokens(col("text"))).as("ids"))
    graft.pipeline.Packing.tokenWindows(ids, "doc_id", "ids",
        window = 64, stride = 48)
      .select(col("doc_id"), col("win_no").cast("bigint").as("win_no"),
        col("pos").cast("bigint").as("pos"),
        col("token_id").cast("bigint").as("token_id"))
      .orderBy("doc_id", "win_no", "pos")
  }

  /** The END of the training-batch flow: tokenize-to-ids → BPE-budget
    * offset packing → boundary splitting → bin assembly
    * ([[graft.pipeline.Packing.assembleBins]]) — every bin's
    * concatenated id sequence, value-checked per bin on piece count,
    * token fill, first/last doc, and the id content (count + sum;
    * q_bpe_ids already pins every id per position, so together the
    * assembled sequences are fully determined).
    */
  /** The shared tokenize→pack→chunk PIECES frame (demo-vocabulary ids,
    * 256-token budget per `lang` shard) behind every bin-assembly gate —
    * ONE definition, so `q_epoch_shuffle`'s bin set cannot drift from
    * `q_pack_bins`' when the vocabulary or budget changes.
    */
  private def chunkPieces(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, BpeVocab}
    import graft.pipeline.Packing
    val v = BpeVocab(Bpe.demoEnglish, BpeVocab.asciiPrintable)
    val withIds = docs(s, dir).select("doc_id", "lang", "text")
      .withColumn("ids", Bpe.tokenIds(v)(TextOps.tokens(col("text"))))
    Packing.chunkSpans(Packing.packByOffset(withIds, "lang", "doc_id",
      size(col("ids")).cast("long"), 256), 256)
  }

  /** The shared tokenize→pack→assemble chain of `q_pack_bins` and
    * `q_pack_decode`: [[chunkPieces]] assembled to one id array per
    * (shard, bin).
    */
  private def assembledBins(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.assembleBins(chunkPieces(s, dir),
      "lang", "doc_id", "ids")

  /** Deterministic epoch shuffle over the assembled bins: two epochs of
    * the same seed, each a seeded md5 permutation of the (shard, bin)
    * set, via [[graft.pipeline.Packing.epochKey]] — the key column
    * alone, NOT two [[graft.pipeline.Packing.epochShuffle]] calls,
    * because each of those ends in its own range-partitioned sort that
    * the union would destroy and the final orderBy re-do (three
    * Exchanges where one suffices; epochShuffle's own ordering contract
    * is spec-pinned in PipelineSpec). The oracle replays the 48-bit
    * hash fraction nibble by nibble and re-sorts — the driver's compare
    * is row-order-sensitive, so the PERMUTATIONS themselves (and that
    * epoch 1 ≠ epoch 2 while both contain exactly the q_pack_bins bin
    * set) are what is checked.
    */
  private def qEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Packing
    // the (shard, bin) KEY set straight off the SHARED chunk-pieces
    // frame — exactly the keys assembleBins groups by, without leaning
    // on the optimizer to prune the payload aggregate out of the two
    // epoch arms (the oracle derives its bin set the same way)
    val bins = chunkPieces(s, dir)
      .select(col("lang"), col("piece_bin").as("bin")).distinct()
    Seq(1, 2).map { ep =>
      bins.withColumn("epoch", lit(ep).cast("bigint"))
        .withColumn("epoch_key",
          Packing.epochKey(col("lang"), col("bin"), seed = 42L, epoch = ep)
            .cast("bigint"))
    }.reduce(_ unionAll _)
      .select(col("epoch"), col("lang"), col("bin"), col("epoch_key"))
      .orderBy(col("epoch"), col("epoch_key"), col("lang"), col("bin"))
  }

  /** Padding-waste audit for length-bucketed batching
    * ([[graft.pipeline.Packing.lengthBuckets]]): every document in
    * its power-of-two token-length bucket; per cap the doc count,
    * real and padded token mass and the waste fraction. The cap is
    * EXACT integer arithmetic (bit length via the `bin()` string →
    * left shift — both engines render bigint binary identically; no
    * log2/pow), so everything but the one final divide is integers
    * and DuckDB re-derives the frame bit-for-bit.
    */
  private def qLengthBuckets(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.lengthBuckets(docsNarrow(s, dir),
        TextOps.tokenCount(col("text")))
      .orderBy("cap")

  private def qPackBins(s: SparkSession, dir: String): DataFrame =
    assembledBins(s, dir)
      .select(col("lang"), col("bin"), col("n_pieces"), col("bin_tokens"),
        col("first_piece").as("first_doc"),
        col("last_piece").as("last_doc"),
        size(col("token_ids")).cast("bigint").as("n_ids"),
        aggregate(col("token_ids"), lit(0L),
          (a, x) => a + x.cast("long")).as("id_sum"))
      .orderBy("lang", "bin")

  /** The end of the tokenize→pack→assemble→AUDIT flow: every assembled
    * training bin's id payload decoded back to text
    * ([[graft.functions.Bpe.decodeIds]]) — the readable-corpus check a
    * pipeline runs before shipping bins to a trainer. Full value
    * oracle: DuckDB re-derives each bin's decoded string from its own
    * re-derivation of the token stream (offset cut → per-bin token
    * rows → ordered `string_agg`, unknown ids as U+FFFD), so a wrong
    * inverse id, a mis-sliced piece, or a mis-ordered concat anywhere
    * in pack OR decode diverges on the text itself.
    */
  private def qPackDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, BpeVocab}
    val v = BpeVocab(Bpe.demoEnglish, BpeVocab.asciiPrintable)
    assembledBins(s, dir)
      .select(col("lang"), col("bin"),
        size(col("token_ids")).cast("bigint").as("n_ids"),
        Bpe.decodeIds(v)(col("token_ids")).as("decoded"))
      .orderBy("lang", "bin")
  }

  /** The offset-pack CTE chain shared by `q_pack_bins` and
    * `q_pack_decode` — per-doc token counts off `seq` (so it must
    * follow [[bpeSeqCtes]]), per-shard running offsets in doc_id
    * order, and the 256-budget boundary cut into per-(doc, bin)
    * pieces; `pc` carries each piece's `"offset"` forward so a
    * consumer can reconstruct global stream positions.
    */
  private lazy val packBinCtes: String =
    s"""cnt AS (SELECT d.doc_id, d.lang,
       |  CAST(COALESCE(c.n, 0) AS BIGINT) AS tokens
       |  FROM documents d LEFT JOIN (SELECT doc_id, COUNT(*) AS n
       |    FROM seq GROUP BY doc_id) c USING (doc_id)),
       |ofs AS (SELECT doc_id, lang, tokens,
       |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS "offset"
       |  FROM cnt),
       |pieces AS (SELECT doc_id, lang, tokens, "offset",
       |  unnest(generate_series(CAST(floor("offset" / 256) AS BIGINT),
       |    CAST(floor(("offset" + tokens - 1) / 256) AS BIGINT)))
       |    AS piece_bin
       |  FROM ofs WHERE tokens > 0),
       |pc AS (SELECT doc_id, lang, piece_bin, "offset",
       |  GREATEST("offset", piece_bin * 256) - "offset" AS doc_from,
       |  LEAST("offset" + tokens, (piece_bin + 1) * 256)
       |    - GREATEST("offset", piece_bin * 256) AS piece_tokens
       |  FROM pieces)""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_pack", qPack,
      // offset packing: tokens laid out per language shard in doc_id
      // order; offset = tokens before the doc, bin = floor(offset /
      // budget). `/` is double division in both engines, so floor +
      // BIGINT cast agree exactly
      s"""WITH tok AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS tokens FROM documents),
         |ofs AS (SELECT doc_id, lang, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
         |  FROM tok)
         |SELECT doc_id, lang, tokens, "offset",
         |  CAST(floor("offset" / 256) AS BIGINT) AS bin
         |FROM ofs ORDER BY lang, doc_id""".stripMargin),
    Gate("q_pack_chunks", qPackChunks,
      // the boundary-splitting pieces: for each doc, one row per bin in
      // [floor(offset/B), floor((offset+tokens-1)/B)]; the piece starts
      // at max(offset, bin·B) and ends at min(offset+tokens, (bin+1)·B)
      s"""WITH tok AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS tokens FROM documents),
         |ofs AS (SELECT doc_id, lang, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
         |  FROM tok),
         |pieces AS (SELECT doc_id, lang, tokens, "offset",
         |  unnest(generate_series(CAST(floor("offset" / 256) AS BIGINT),
         |    CAST(floor(("offset" + tokens - 1) / 256) AS BIGINT))) AS piece_bin
         |  FROM ofs WHERE tokens > 0)
         |SELECT doc_id, lang, piece_bin,
         |  GREATEST("offset", piece_bin * 256) - "offset" AS doc_from,
         |  LEAST("offset" + tokens, (piece_bin + 1) * 256)
         |    - GREATEST("offset", piece_bin * 256) AS piece_tokens
         |FROM pieces ORDER BY lang, doc_id, piece_bin""".stripMargin),
    Gate("q_pack_boundaries", qPackBoundaries,
      // the chunk pieces again, plus the in-bin prefix sum: bin_from =
      // tokens of earlier pieces in the SAME (lang, bin), ordered by
      // offset + doc_from — the order the bin's ids concatenate in
      s"""WITH tok AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS tokens FROM documents),
         |ofs AS (SELECT doc_id, lang, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
         |  FROM tok),
         |pieces AS (SELECT doc_id, lang, tokens, "offset",
         |  unnest(generate_series(CAST(floor("offset" / 256) AS BIGINT),
         |    CAST(floor(("offset" + tokens - 1) / 256) AS BIGINT))) AS piece_bin
         |  FROM ofs WHERE tokens > 0),
         |cut AS (SELECT doc_id, lang, "offset", piece_bin AS bin,
         |  GREATEST("offset", piece_bin * 256) - "offset" AS doc_from,
         |  LEAST("offset" + tokens, (piece_bin + 1) * 256)
         |    - GREATEST("offset", piece_bin * 256) AS piece_tokens
         |  FROM pieces)
         |SELECT doc_id, lang, bin, doc_from, piece_tokens,
         |  CAST(COALESCE(SUM(piece_tokens) OVER (PARTITION BY lang, bin
         |    ORDER BY "offset" + doc_from
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bin_from
         |FROM cut ORDER BY lang, bin, bin_from, doc_id""".stripMargin),
    // power-of-two caps by exact integer bit-length arithmetic (the
    // bin()-string trick both engines share), then pure integer
    // aggregates + ONE divide
    Gate("q_length_buckets", qLengthBuckets,
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |b AS (SELECT CASE WHEN n <= 1 THEN n
         |    ELSE (CAST(1 AS BIGINT) << length(bin(n - 1))) END AS cap,
         |    n
         |  FROM t)
         |SELECT cap, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
         |  CAST(COUNT(*) * cap AS BIGINT) AS padded_tokens,
         |  CASE WHEN COUNT(*) * cap = 0 THEN 0.0
         |       ELSE CAST(COUNT(*) * cap - SUM(n) AS DOUBLE)
         |         / CAST(COUNT(*) * cap AS DOUBLE) END AS waste_frac
         |FROM b GROUP BY cap ORDER BY cap""".stripMargin),
    // striding windows re-cut from the same id sequence: window count
    // n = 1 + ceil((len-64)/48) (one window when len <= 64), window j
    // = positions (j*48, j*48 + 64]
    Gate("q_token_windows", qTokenWindows,
      s"""WITH $bpeSeqCtes,
         |lens AS (SELECT doc_id, COUNT(*) AS n FROM seq GROUP BY doc_id),
         |wins AS (SELECT doc_id, CAST(w AS BIGINT) AS win_no
         |  FROM lens, unnest(generate_series(0,
         |    CASE WHEN n <= 64 THEN 0
         |         ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) END))
         |    AS u(w))
         |SELECT w.doc_id, w.win_no,
         |  CAST(i.pos - w.win_no * 48 AS BIGINT) AS pos,
         |  CAST(i.token_id AS BIGINT) AS token_id
         |FROM wins w JOIN seq i ON i.doc_id = w.doc_id
         |  AND i.pos > w.win_no * 48 AND i.pos <= w.win_no * 48 + 64
         |ORDER BY w.doc_id, w.win_no, pos""".stripMargin),
    Gate("q_pack_bins", qPackBins,
      // the assembled training bins, value-checked on every per-bin
      // scalar: piece count, token fill, first/last doc, and the id
      // content (count + sum of the ids landing in the bin — combined
      // with q_bpe_ids' per-position check this pins the assembly)
      s"""WITH $bpeSeqCtes,
         |$packBinCtes,
         |ids AS (SELECT p.lang, p.piece_bin, s.token_id
         |  FROM pc p JOIN seq s ON s.doc_id = p.doc_id
         |   AND s.pos > p.doc_from AND s.pos <= p.doc_from + p.piece_tokens),
         |agg1 AS (SELECT lang, piece_bin AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_pieces,
         |  CAST(SUM(piece_tokens) AS BIGINT) AS bin_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |  FROM pc GROUP BY 1, 2),
         |agg2 AS (SELECT lang, piece_bin AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_ids,
         |  CAST(SUM(token_id) AS BIGINT) AS id_sum
         |  FROM ids GROUP BY 1, 2)
         |SELECT a.lang, a.bin, a.n_pieces, a.bin_tokens, a.first_doc,
         |  a.last_doc, b.n_ids, b.id_sum
         |FROM agg1 a JOIN agg2 b USING (lang, bin)
         |ORDER BY lang, bin""".stripMargin),
    Gate("q_epoch_shuffle", qEpochShuffle,
      // both epochs' permutations re-derived: the md5 48-bit ordering
      // key nibble by nibble over the same seed:epoch:shard:bin
      // composite, re-sorted — row order is part of the compare, so a
      // single transposition anywhere diverges
      s"""WITH $bpeSeqCtes,
         |$packBinCtes,
         |bins AS (SELECT DISTINCT lang, piece_bin AS bin FROM pc),
         |keys AS (SELECT e.epoch, b.lang, b.bin,
         |  ${bucket48OfSql("md5('42:' || CAST(e.epoch AS VARCHAR) || " +
           "':' || b.lang || ':' || CAST(b.bin AS VARCHAR))")}
         |    AS epoch_key
         |  FROM bins b, (VALUES (1), (2)) e(epoch))
         |SELECT CAST(epoch AS BIGINT) AS epoch, lang, bin,
         |  CAST(epoch_key AS BIGINT) AS epoch_key
         |FROM keys
         |ORDER BY epoch, epoch_key, lang, bin""".stripMargin),
    Gate("q_pack_decode", qPackDecode,
      // each assembled bin's decoded TEXT re-derived end to end: the
      // bin's token rows (same offset cut as q_pack_bins) concatenate
      // in global stream order through the vocabulary's inverse —
      // token strings where the id resolves, U+FFFD where it is -1 —
      // so pack and decode are pinned jointly on the readable output
      s"""WITH $bpeSeqCtes,
         |$packBinCtes,
         |ids AS (SELECT p.lang, p.piece_bin, s.token, s.token_id,
         |    p."offset" + s.pos AS gpos
         |  FROM pc p JOIN seq s ON s.doc_id = p.doc_id
         |   AND s.pos > p.doc_from AND s.pos <= p.doc_from + p.piece_tokens)
         |SELECT lang, piece_bin AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_ids,
         |  string_agg(CASE WHEN token_id = -1 THEN chr(65533)
         |    ELSE token END, '' ORDER BY gpos) AS decoded
         |FROM ids GROUP BY 1, 2
         |ORDER BY lang, bin""".stripMargin),
    Gate("q_pack_bpe", qPackBpe,
      // q_pack's window sum, budgeted by the re-derived BPE token count
      s"""WITH toks AS (SELECT doc_id, lang, unnest($toksSql) AS tok
         |              FROM documents),
         |enc AS (SELECT doc_id, lang, tok, $bpeMergedSql AS m FROM toks),
         |tok AS (SELECT doc_id, lang,
         |  CAST(COALESCE(SUM($bpeCountSql), 0) AS BIGINT) AS tokens
         |  FROM enc GROUP BY doc_id, lang),
         |ofs AS (SELECT doc_id, lang, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS "offset"
         |  FROM tok)
         |SELECT doc_id, lang, tokens, "offset",
         |  CAST(floor("offset" / 256) AS BIGINT) AS bin
         |FROM ofs ORDER BY lang, doc_id""".stripMargin),
  )
}
