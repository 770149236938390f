package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.TextOps

import Shared._

/** Tokenizers: BPE, WordPiece and unigram training, encoding,
  * ids and decoding.
  */
private[graft] object TokenizerGates {

  /** The materialised token-id sequence ([[graft.functions.Bpe
    * .encodeWithIds]] under the canonical merges-derived numbering),
    * exploded to one row per (doc, position) so every token string AND
    * id is value-oracled — the DuckDB side re-runs the merge chain,
    * splits on the separator, renumbers with the SAME alphabet-then-rank
    * VALUES table, and must reproduce the sequence exactly.
    */
  private def qBpeIds(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, BpeVocab}
    val v = BpeVocab(Bpe.demoEnglish, BpeVocab.asciiPrintable)
    docs(s, dir)
      .select(col("doc_id"),
        posexplode(Bpe.encodeWithIds(v)(TextOps.tokens(col("text")))))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("pos"),
        col("col.token").as("token"),
        col("col.token_id").cast("bigint").as("token_id"))
      .orderBy("doc_id", "pos")
  }

  /** Per-language tokenizer fertility / compression audit
    * ([[graft.pipeline.TextOps.tokenizerFertility]] over the real BPE
    * tokenizer): exact integer masses — docs, UTF-8 bytes, codepoints,
    * words, BPE tokens — with `fertility` (tokens/word) and
    * `bytes_per_token` derived LAST from the integer sums (one IEEE
    * divide each, engine-exact). DuckDB re-derives every mass
    * independently: `strlen` bytes, codepoint length, the non-empty
    * whitespace words, and the BPE token counts through the SAME merge
    * chain as `q_bpe`.
    */
  private def qTokFertility(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Bpe
    TextOps.tokenizerFertility(docs(s, dir), "lang", "text",
        Bpe.tokenCount(Bpe.demoEnglish)(TextOps.tokens(col("text"))))
      .orderBy("lang")
  }

  /** Real tokenizer-based token counting ([[graft.functions.Bpe]]): the
    * greedy BPE merge loop under a rank-ordered merges vocabulary,
    * next to the whitespace count it corrects. The vocabulary's
    * structural invariant makes greedy encoding equal rank-order rule
    * application, so the oracle can evaluate the SAME tokenizer as a
    * nested replace chain — a full value oracle, not a row count.
    */
  /** Merges learned by [[graft.functions.BpeTrainer]] on the documents
    * corpus — rank, sides, and the selection-time pair count of each of
    * the first [[bpeTrainMerges]] rules. The oracle is a full
    * cross-engine re-derivation, not a parity row: DuckDB replays the
    * training loop step by step (adjacent-pair count → deterministic
    * argmax → leftmost-non-overlapping merge, each step as window SQL
    * over an exact positional segmentation), so a trainer that picked
    * even one wrong pair, miscounted one adjacency, or merged
    * non-leftmost diverges on that rank's row.
    */
  private def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, BpeTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val learned = BpeTrainer.train(docsNarrow(s, dir), pieces, bpeTrainMerges)
    import s.implicits._
    learned.map(m => (m.rank.toLong, m.left, m.right, m.pairCount))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank")
  }

  /** The train→encode COMPOSITION: learn the merges from the corpus,
    * package them as a [[graft.functions.BpeMerges]] vocabulary (the
    * construction invariant re-validated), and tokenize the SAME corpus
    * with it. The oracle re-derives every per-doc count from the
    * training chain's final segmentation table alone — trainer-side
    * rank-order application equals greedy encoding under the invariant,
    * so the two engines must agree doc by doc, closing the loop between
    * [[graft.functions.BpeTrainer]] and the [[graft.functions.Bpe]]
    * encoder.
    */
  private def qBpeTrainEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, BpeTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val learned = BpeTrainer.train(docs(s, dir), pieces, bpeTrainMerges)
    val vocab = BpeTrainer.toMerges(learned)
    docs(s, dir).select(col("doc_id"),
        Bpe.tokenCount(vocab)(pieces).cast("bigint")
          .as("n_trained_tokens"))
      .orderBy("doc_id")
  }

  /** Joins learned by `q_wordpiece_train` (re-derived by its oracle). */
  private val wpTrainJoins = 8

  /** WordPiece training as a full cross-engine re-derivation (the same
    * bar as [[qBpeTrain]], not a parity row): DuckDB replays the
    * likelihood-ratio selection step by step — symbol counts over every
    * index, adjacent-pair counts, argmax of
    * `count(ab) / (count(a)·count(b))` under (score DESC, left, right),
    * and the leftmost-non-overlapping `##`-propagating join — so a
    * trainer that miscounted one index, picked one wrong pair, or
    * propagated the continuation prefix wrongly diverges on that rank's
    * row. The score is three exact int→double conversions and two
    * single-rounded IEEE-754 ops on both engines, so the doubles the
    * two engines rank by are bit-identical (WordPieceTrainer scaladoc).
    */
  private def qWordpieceTrain(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, WordPieceTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val learned =
      WordPieceTrainer.train(docsNarrow(s, dir), pieces, wpTrainJoins)
    import s.implicits._
    learned.map(j => (j.rank.toLong, j.left, j.right, j.pairCount,
        j.leftCount, j.rightCount))
      .toDF("join_rank", "lhs", "rhs", "pair_count", "lhs_count",
        "rhs_count")
      .orderBy("join_rank")
  }

  /** The WordPiece train→encode COMPOSITION: learn the joins, publish
    * the vocabulary (alphabet ∪ join outputs), greedy-encode the SAME
    * corpus with it. Unlike BPE — where rank-order merge application
    * equals greedy encoding by construction — the WordPiece serving
    * encoder is longest-match-first over the flat vocabulary, an
    * algorithm the training chain does NOT replay; the oracle therefore
    * re-derives the greedy matcher itself (a longest-vocabulary-hit
    * table per (word type, position) — bare at word start,
    * `##`-prefixed after — consumed by a pure-join recursive CTE) over
    * every distinct pre-token and joins the per-type token counts back
    * per document.
    */
  private def qWordpieceTrainEncode(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.{Bpe, WordPieceTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val d = docs(s, dir)
    // trainFull + toVocabLocal: the alphabet comes off the type table
    // training already collected, so the corpus is scanned exactly
    // twice (training aggregation + this encode), not three times
    val trained = WordPieceTrainer.trainFull(d, pieces, wpTrainJoins)
    val vocab = WordPieceTrainer.toVocabLocal(trained)
    val cnt = WordPieceTrainer.tokenCountUdf(s, vocab)
    d.select(col("doc_id"), cnt(pieces).cast("bigint").as("n_wp_tokens"))
      .orderBy("doc_id")
  }

  /** The BPE twin of [[qWordpieceEncodeTokens]]: the corpus tokenized
    * under its own freshly-learned merges, value-oracled at TOKEN
    * granularity. The oracle needs no extra matcher machinery — under
    * the BpeMerges construction invariant, greedy encoding equals
    * rank-order application, so the training chain's final positional
    * segmentation table IS each word type's ordered token list; the
    * oracle just stitches it back into corpus order by (word index,
    * symbol position).
    */
  private def qBpeTrainTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, BpeTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val learned = BpeTrainer.train(docs(s, dir), pieces, bpeTrainMerges)
    val vocab = BpeTrainer.toMerges(learned)
    val enc = udf((ws: Seq[String]) =>
      if (ws == null) null
      else ws.filter(_.nonEmpty).flatMap(vocab.encode))
    docs(s, dir)
      .select(col("doc_id"),
        posexplode(enc(pieces)).as(Seq("__p", "token")))
      .select(col("doc_id"),
        (col("__p") + 1).cast("bigint").as("pos"), col("token"))
      .orderBy("doc_id", "pos")
  }

  /** The WordPiece serving encoder at TOKEN granularity: the trained
    * vocabulary greedy-encodes the corpus and every (doc, position,
    * token) row is value-oracled — the oracle re-derives the whole
    * ordered sequence from the recursive matcher, so a single
    * mis-matched, mis-ordered, or mis-advanced token anywhere in the
    * corpus diverges (stronger than [[qWordpieceTrainEncode]]'s
    * per-doc counts, which catch length but not content drift).
    */
  private def qWordpieceEncodeTokens(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.{Bpe, WordPieceTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val d = docs(s, dir)
    val trained = WordPieceTrainer.trainFull(d, pieces, wpTrainJoins)
    val vocab = WordPieceTrainer.toVocabLocal(trained)
    val enc = WordPieceTrainer.encodeUdf(s, vocab)
    d.select(col("doc_id"),
        posexplode(enc(pieces)).as(Seq("__p", "token")))
      .select(col("doc_id"),
        (col("__p") + 1).cast("bigint").as("pos"), col("token"))
      .orderBy("doc_id", "pos")
  }

  /** The WordPiece serving encoder at ID granularity — the canonical
    * codepoint-sorted-rank numbering ([[graft.functions.WordPieceTrainer
    * .vocabDf]]'s ids, `[UNK]` as the trailing id) value-oracled at
    * every (doc, position): DuckDB re-ranks the SAME vocabulary it
    * re-derived for the matcher (binary UTF-8 ORDER BY is codepoint
    * order, exactly `BpeTrainer.codepointCompare`) and numbers the
    * recursive walk's token stream through it. Catches the id-assignment
    * off-by-ones that survive token-STRING parity
    * ([[qWordpieceEncodeTokens]]) — the BPE twin is `q_bpe_ids`.
    */
  private def qWordpieceIds(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, WordPieceTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val d = docs(s, dir)
    val trained = WordPieceTrainer.trainFull(d, pieces, wpTrainJoins)
    val vocab = WordPieceTrainer.toVocabLocal(trained)
    val enc = WordPieceTrainer.encodeIdsUdf(s, vocab)
    d.select(col("doc_id"),
        posexplode(enc(pieces)).as(Seq("__p", "id")))
      .select(col("doc_id"),
        (col("__p") + 1).cast("bigint").as("pos"),
        col("id").cast("bigint").as("token_id"))
      .orderBy("doc_id", "pos")
  }

  /** The DECODE half of the BPE id flow, value-oracled per document:
    * the corpus is encoded to ids under the demo GPT-2-style vocabulary
    * ([[graft.functions.Bpe.tokenIds]]) and decoded back through the
    * inverse numbering ([[graft.functions.Bpe.decodeIds]]) — exactly
    * what a training-bin audit does to an id payload. The oracle
    * re-derives the decoded string itself (merge chain → token stream →
    * reverse vocabulary join → ordered `string_agg`, unknowns as
    * U+FFFD), so a wrong inverse id, a dropped token, or a mis-ordered
    * concat diverges on the text; `round_trip` additionally pins that
    * decode∘encode is the identity wherever the alphabet covers the
    * document (pre-token pieces carry their own leading spaces, so
    * concatenation IS reconstruction).
    */
  private def qBpeDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, BpeVocab}
    val v = BpeVocab(Bpe.demoGpt2, BpeVocab.asciiPrintable)
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    docs(s, dir)
      .select(col("doc_id"), TextOps.normalize(col("text")).as("__n"),
        Bpe.decodeIds(v)(Bpe.tokenIds(v)(pieces)).as("decoded"))
      .select(col("doc_id"), col("decoded"),
        when(col("decoded") === col("__n"), 1L).otherwise(0L)
          .cast("bigint").as("round_trip"))
      .orderBy("doc_id")
  }

  /** The WordPiece decode twin of [[qBpeDecode]]: the trained
    * vocabulary's greedy token stream decoded back to text by the
    * published strip-`##`-and-concatenate convention
    * ([[graft.functions.WordPieceTrainer.decodeTokens]]). The oracle
    * re-derives the decoded string from the same recursive-CTE matcher
    * walk that gates the encoder, so both halves of the round trip are
    * independently recomputed; `round_trip` pins identity on every
    * document no word of which collapsed to `[UNK]`.
    */
  private def qWordpieceDecode(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.{Bpe, WordPieceTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val d = docs(s, dir)
    val trained = WordPieceTrainer.trainFull(d, pieces, wpTrainJoins)
    val vocab = WordPieceTrainer.toVocabLocal(trained)
    val enc = WordPieceTrainer.encodeUdf(s, vocab)
    val dec = WordPieceTrainer.decodeUdf()
    d.select(col("doc_id"), TextOps.normalize(col("text")).as("__n"),
        dec(enc(pieces)).as("decoded"))
      .select(col("doc_id"), col("decoded"),
        when(col("decoded") === col("__n"), 1L).otherwise(0L)
          .cast("bigint").as("round_trip"))
      .orderBy("doc_id")
  }

  /** The unigram family's ID gate, in the parity style its EM-trained
    * doubles force (`q_unigram_encode_parity`'s pattern — no other
    * engine reproduces transcendental logProbs bit-for-bit, so the
    * heavy check crosses two INDEPENDENT Spark paths and the oracle
    * pins the contract plus the population): the numbering
    * [[graft.functions.UnigramTrainer.encodeIdsUdf]] bakes into its
    * closure map is re-derived through the DataFrame engine — a
    * `row_number` window over [[graft.functions.UnigramTrainer
    * .vocabDf]] in the documented (logProb desc, piece) canonical
    * order — and every (doc, pos) id must equal the re-ranked lookup of
    * the segment stream's token at that position, with `-1` exactly on
    * out-of-vocabulary pieces and ids→text decode
    * ([[graft.functions.UnigramTrainer.decodeIdsUdf]]) reconstructing
    * the segment concat. The oracle re-derives the document population,
    * so the engine cannot shrink the checked set; `vocab_rank_ok`
    * asserts the stored-artifact ids ARE the canonical rank.
    */
  private def qUnigramIds(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{Bpe, UnigramTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val d = docs(s, dir)
    val vocab = UnigramTrainer.train(d, pieces, vocabSize = 400,
      maxPieceLen = 8)
    val seg = UnigramTrainer.segmentUdf(s, vocab, 8)
    val enc = UnigramTrainer.encodeIdsUdf(s, vocab, 8)
    val decU = UnigramTrainer.decodeIdsUdf(s, vocab)
    // the SECOND path to the numbering: rank the persistable vocabDf
    // artifact with a window over the documented canonical order and
    // collect the (piece → rank) map — |vocab| rows, bounded by the
    // vocabSize cap, never the corpus
    val ranked = UnigramTrainer.vocabDf(s, vocab)
      .select(col("piece"), col("id"),
        (row_number().over(
          Window.orderBy(col("log_prob").desc, col("piece"))) - 1)
          .as("rid"))
      .collect()
    val vocabRankOk = ranked.forall(r => r.getInt(1) == r.getInt(2))
    val rankMap = ranked.map(r => r.getString(0) -> r.getInt(2)).toMap
    val bc = s.sparkContext.broadcast(rankMap)
    val unkAs = "�"
    val check = udf { (toks: Seq[String], ids: Seq[Int], dec: String) =>
      val m = bc.value
      val lenOk = toks != null && ids != null &&
        toks.length == ids.length
      val idOk = lenOk && toks.indices.forall(i =>
        ids(i) == m.getOrElse(toks(i), -1))
      val unkOk = lenOk && toks.indices.forall(i =>
        (ids(i) == -1) == !m.contains(toks(i)))
      val decOk = lenOk && dec != null && dec == toks.indices.iterator
        .map(i => if (ids(i) == -1) unkAs else toks(i)).mkString
      (lenOk, idOk, unkOk, decOk)
    }
    def n(c: Column): Column =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    d.select(seg(pieces).as("t"), enc(pieces).as("i"))
      .select(col("t"), col("i"), decU(col("i")).as("d"))
      .select(check(col("t"), col("i"), col("d")).as("c"))
      .agg(count(lit(1)).as("n_docs"),
        n(col("c._1")).as("n_len_match"),
        n(col("c._2")).as("n_id_match"),
        n(col("c._3")).as("n_unk_contract"),
        n(col("c._4")).as("n_decode_match"))
      .select(col("n_docs"), col("n_len_match"), col("n_id_match"),
        col("n_unk_contract"), col("n_decode_match"),
        lit(if (vocabRankOk) 1L else 0L).as("vocab_rank_ok"))
  }

  /** The shared piece-TYPE reduction all three tokenizer trainers (and
    * `WordPieceTrainer.toVocab`) consume — ONE hash aggregation of the
    * pre-tokenized corpus plus the `maxPieceTypes` cap contract (top-N
    * by count DESC, codepoint-order tie-break) — value-oracled row by
    * row. Every training gate row implicitly rests on this table being
    * right; this row pins it (and the cap's deterministic tie-break)
    * directly, so type-table drift shows up here first instead of as an
    * opaque divergence three derivations later. The cap (40) is BELOW
    * the fixture corpus's 61-type vocabulary on purpose — the top-N cut
    * and its (count DESC, piece) tie-break actually execute, they are
    * not a no-op LIMIT.
    */
  private def qTokenizerTypes(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bpe, BpeTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    BpeTrainer.cappedTypeCounts(docsNarrow(s, dir), pieces, Some(40))
      .select(col("piece"), col("cnt").cast("bigint").as("cnt"))
      .orderBy(col("cnt").desc, col("piece"))
  }

  /** Length cap (codepoints) for `q_unigram_encode_parity`'s brute-force
    * enumeration population — at 12 cps and maxPieceLen 8 a word type
    * has at most a few thousand segmentations, so the check stays
    * distributable; the oracle re-derives the SAME population.
    */
  private val unigramParityMaxCps = 12

  /** Unigram train→Viterbi-encode gate. The EM training loop runs on
    * transcendental doubles (log/exp), which NO other SQL engine
    * reproduces bit-for-bit — so, exactly like the winnow64/simhash64
    * families, the heavy check runs Spark-side and the oracle pins the
    * CONTRACT plus the population: every distinct pre-token word type
    * of the fixture corpus up to [[unigramParityMaxCps]] codepoints
    * (the oracle re-derives that count independently) is Viterbi-
    * segmented by the production lattice AND by an in-query brute-force
    * enumeration of every segmentation (scores folded right-to-left,
    * the trainer's documented exact-equality fold); the DP must hit the
    * enumerator's max score exactly, with its documented tie-breaks
    * (fewer pieces, then longest first piece), and every word type —
    * capped or not — must reconstruct from its pieces byte-for-byte.
    */
  private def qUnigramEncodeParity(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.{Bpe, UnigramTrainer}
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val d = docsNarrow(s, dir)
    val maxPieceLen = 8
    val vocab = UnigramTrainer.train(d, pieces, vocabSize = 400,
      maxPieceLen = maxPieceLen)
    val logp = vocab.map(e => e.piece -> e.logProb).toMap
    val unk = vocab.iterator.map(_.logProb).min - 10.0
    val bc = s.sparkContext.broadcast((logp, unk))
    val cap = unigramParityMaxCps
    def cps(w: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    // ONE pass over the distinct word types: every type is
    // Viterbi-segmented exactly once (round-trip checked on all of
    // them), and the brute-force enumeration parity runs only under
    // the codepoint cap — (isShort, viterbiOk, roundTrip) per type,
    // folded into all five contract counts by a single aggregation
    // (the earlier two-branch crossJoin re-ran the explode+distinct
    // shuffle and the DP per branch). Sums are coalesced so an empty
    // population yields the oracle's 0s, not NULLs.
    val checkUdf = udf { (w: String) =>
      val (lp, u) = bc.value
      val got = UnigramTrainer.viterbi(w, lp, maxPieceLen, u).toList
      val roundTrip = got.mkString == w
      val c = cps(w)
      val isShort = c.length <= cap
      def enumerate(i: Int): Seq[(List[String], Double)] =
        if (i == c.length) Seq((Nil, 0.0))
        else (1 to math.min(maxPieceLen, c.length - i)).flatMap { l =>
          val piece = c.slice(i, i + l).mkString
          val sc = lp.getOrElse(piece,
            if (l == 1) u else Double.NegativeInfinity)
          if (sc == Double.NegativeInfinity) Seq.empty
          else enumerate(i + l).map { case (r, acc) =>
            (piece :: r, sc + acc)
          }
        }
      val viterbiOk = isShort && {
        val all = enumerate(0)
        val gotScore = got.foldRight(0.0) { (p, acc) =>
          lp.getOrElse(p, u) + acc
        }
        val best = all.map(_._2).max
        val coOpt = all.filter(_._2 == best)
        val minPieces = coOpt.map(_._1.length).min
        gotScore == best && got.length == minPieces &&
          coOpt.filter(_._1.length == minPieces).map(_._1).contains(got)
      }
      (isShort, viterbiOk, roundTrip)
    }
    def n(c: Column): Column =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    d.select(explode(pieces).as("w"))
      .filter(col("w") =!= "").distinct()
      .select(checkUdf(col("w")).as("c"))
      .agg(n(col("c._1")).as("n_words"),
        n(col("c._1") && col("c._2")).as("n_viterbi_match"),
        n(col("c._1") && col("c._3")).as("n_round_trip"),
        count(lit(1)).as("n_words_all"),
        n(col("c._3")).as("n_round_trip_all"))
  }

  private def qBpe(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Bpe
    // production shape: the vocabulary is parsed from merges-FILE lines
    // (BpeMerges.fromLines, Ġ-decoded) and pre-tokenization is the
    // GPT-2-style regex, so pieces carry their leading space and the
    // space-prefixed merges fire — next to the whitespace-token path it
    // corrects. Both counts are full value-oracle-checked.
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    docs(s, dir)
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("bigint").as("n_ws_tokens"),
        Bpe.tokenCount(Bpe.demoEnglish)(
          TextOps.tokens(col("text"))).cast("bigint").as("n_bpe_tokens"),
        size(pieces).cast("bigint").as("n_gpt2_pieces"),
        Bpe.tokenCount(Bpe.demoGpt2)(pieces)
          .cast("bigint").as("n_bpe_gpt2"))
      .orderBy("doc_id")
  }

  /** Rules learned by `q_bpe_train` (and re-derived by its oracle). */
  private val bpeTrainMerges = 8

  /** DuckDB re-derivation of BPE TRAINING, one CTE block per merge
    * step. Segmentations are kept POSITIONAL (`(piece, cnt, pos, sym)`
    * rows) rather than separator-joined strings: a string `replace`
    * would false-match across symbol boundaries once symbols are
    * multi-codepoint (a symbol ENDING in the pair's left side next to
    * one STARTING with its right), which training — unlike rank-order
    * encoding — cannot rule out. Per step `k`:
    *   - `g{k}`: adjacent-pair counts via `lead` (every adjacent index,
    *     overlapping occurrences included), weighted by type count;
    *   - `b{k}`: the argmax under (count DESC, lhs, rhs) — DuckDB's
    *     binary collation, matching the trainer's codepoint tie-break;
    *   - `c{k}`/`m{k}`: candidate flags, then leftmost-non-overlapping
    *     merge starts — islands of consecutive candidates (only
    *     possible when lhs == rhs) take every other position; the
    *     `b{k}` join is LEFT ... ON TRUE so an EXHAUSTED corpus (no
    *     pairs left before rank k) carries the segmentation forward
    *     unchanged — a CROSS JOIN would empty every later `seg` and
    *     report 0 tokens, where the trainer just stops early;
    *   - `seg{k}`: rewrite — merge starts concatenate with their next
    *     symbol, absorbed successors drop, positions renumber.
    */
  /** The training CTE chain WITHOUT the leading `WITH` or final SELECT
    * — ends in `seg$k` (the corpus piece types segmented under the k
    * learned merges) and `b1..bk` (the learned rules); `q_bpe_train`
    * selects the rules, `q_bpe_train_encode` aggregates seg$k lengths.
    */
  private def bpeTrainCtes(k: Int): String = {
    val pat = graft.functions.Bpe.preTokenizeRegex.replace("'", "''")
    val sb = new StringBuilder
    sb ++= s"""p AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '$pat')) AS piece
       |  FROM documents),
       |pc AS MATERIALIZED (SELECT piece, CAST(COUNT(*) AS BIGINT) AS cnt FROM p
       |  WHERE piece <> '' GROUP BY piece),
       |seg0 AS MATERIALIZED (SELECT piece, cnt,
       |  unnest(generate_series(1, CAST(length(piece) AS INTEGER))) AS pos,
       |  unnest(regexp_extract_all(piece, '.')) AS sym FROM pc)""".stripMargin
    for (step <- 1 to k) {
      val prev = s"seg${step - 1}"
      sb ++= s""",
         |g$step AS MATERIALIZED (SELECT sym AS a, nx AS b, CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, sym,
         |          lead(sym) OVER (PARTITION BY piece ORDER BY pos) AS nx
         |        FROM $prev)
         |  WHERE nx IS NOT NULL GROUP BY sym, nx),
         |b$step AS MATERIALIZED (SELECT a, b, c FROM g$step ORDER BY c DESC, a, b LIMIT 1),
         |c$step AS MATERIALIZED (SELECT s.piece, s.cnt, s.pos, s.sym,
         |    lead(s.sym) OVER (PARTITION BY s.piece ORDER BY s.pos) AS nx,
         |    COALESCE(s.sym = b.a AND
         |      lead(s.sym) OVER (PARTITION BY s.piece ORDER BY s.pos) = b.b,
         |      FALSE) AS cc
         |  FROM $prev s LEFT JOIN b$step b ON TRUE),
         |m$step AS MATERIALIZED (SELECT piece, cnt, pos, sym, nx,
         |    CASE WHEN cc THEN
         |      (ROW_NUMBER() OVER (PARTITION BY piece, cc, grp ORDER BY pos)
         |        % 2 = 1)
         |    ELSE FALSE END AS mg
         |  FROM (SELECT *, pos -
         |      ROW_NUMBER() OVER (PARTITION BY piece, cc ORDER BY pos) AS grp
         |    FROM c$step)),
         |seg$step AS MATERIALIZED (SELECT piece, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY piece ORDER BY pos) AS pos,
         |    CASE WHEN mg THEN sym || nx ELSE sym END AS sym
         |  FROM (SELECT *,
         |      COALESCE(lag(mg) OVER (PARTITION BY piece ORDER BY pos),
         |        FALSE) AS pm
         |    FROM m$step)
         |  WHERE NOT pm)""".stripMargin
    }
    sb.toString
  }

  private def bpeTrainOracleSql(k: Int): String =
    s"WITH ${bpeTrainCtes(k)}\n" +
      (1 to k).map(s =>
          s"SELECT CAST(${s - 1} AS BIGINT) AS merge_rank, a AS lhs, " +
            s"b AS rhs, c AS pair_count FROM b$s")
        .mkString("", "\nUNION ALL ", "\nORDER BY merge_rank")

  /** Per-doc token counts under the SELF-trained vocabulary: the final
    * `seg$k` table's per-piece-type row count IS that type's token
    * count after the k learned merges (trainer-side rank-order
    * application == greedy encode under the BpeMerges invariant), so
    * joining the corpus's pieces back to those lengths re-derives every
    * document's count without re-running any encoder in SQL.
    */
  private def bpeTrainEncodeOracleSql(k: Int): String =
    s"""WITH ${bpeTrainCtes(k)},
       |lens AS (SELECT piece, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM seg$k GROUP BY piece)
       |SELECT d.doc_id,
       |  CAST(COALESCE(SUM(lens.n), 0) AS BIGINT) AS n_trained_tokens
       |FROM documents d
       |LEFT JOIN p ON p.doc_id = d.doc_id AND p.piece <> ''
       |LEFT JOIN lens ON lens.piece = p.piece
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** DuckDB re-derivation of WORDPIECE training — the [[bpeTrainCtes]]
    * skeleton with two changes: `seg0` carries the `##` continuation
    * marking (first codepoint bare, later ones prefixed) that then
    * propagates through joins (`left || strip##(right)`), and each
    * step's argmax ranks by the likelihood-ratio score
    * `pair / (sym(a)·sym(b))` over a per-step symbol-count table `s$k`
    * instead of raw pair frequency. The ranking double is the same
    * three int→double conversions and two single-rounded ops the
    * trainer computes, so the two engines sort identical bit patterns;
    * ties fall to DuckDB's binary collation = codepoint order. Ends in
    * `seg$k` plus `b1..bk`, each `b` carrying the pair count AND both
    * symbol counts.
    */
  private def wpTrainCtes(k: Int): String = {
    val pat = graft.functions.Bpe.preTokenizeRegex.replace("'", "''")
    val sb = new StringBuilder
    sb ++= s"""p AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '$pat')) AS piece
       |  FROM documents),
       |pc AS MATERIALIZED (SELECT piece, CAST(COUNT(*) AS BIGINT) AS cnt FROM p
       |  WHERE piece <> '' GROUP BY piece),
       |seg0 AS MATERIALIZED (SELECT piece, cnt, pos,
       |    CASE WHEN pos = 1 THEN sym ELSE '##' || sym END AS sym
       |  FROM (SELECT piece, cnt,
       |    unnest(generate_series(1, CAST(length(piece) AS INTEGER))) AS pos,
       |    unnest(regexp_extract_all(piece, '.')) AS sym FROM pc))""".stripMargin
    for (step <- 1 to k) {
      val prev = s"seg${step - 1}"
      sb ++= s""",
         |s$step AS MATERIALIZED (SELECT sym, CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM $prev GROUP BY sym),
         |g$step AS MATERIALIZED (SELECT sym AS a, nx AS b, CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, sym,
         |          lead(sym) OVER (PARTITION BY piece ORDER BY pos) AS nx
         |        FROM $prev)
         |  WHERE nx IS NOT NULL GROUP BY sym, nx),
         |b$step AS MATERIALIZED (SELECT g.a, g.b, g.c, sa.c AS ca, sb.c AS cb
         |  FROM g$step g JOIN s$step sa ON sa.sym = g.a
         |                JOIN s$step sb ON sb.sym = g.b
         |  ORDER BY CAST(g.c AS DOUBLE) /
         |    (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE)) DESC, g.a, g.b
         |  LIMIT 1),
         |c$step AS MATERIALIZED (SELECT s.piece, s.cnt, s.pos, s.sym,
         |    lead(s.sym) OVER (PARTITION BY s.piece ORDER BY s.pos) AS nx,
         |    COALESCE(s.sym = b.a AND
         |      lead(s.sym) OVER (PARTITION BY s.piece ORDER BY s.pos) = b.b,
         |      FALSE) AS cc
         |  FROM $prev s LEFT JOIN b$step b ON TRUE),
         |m$step AS MATERIALIZED (SELECT piece, cnt, pos, sym, nx,
         |    CASE WHEN cc THEN
         |      (ROW_NUMBER() OVER (PARTITION BY piece, cc, grp ORDER BY pos)
         |        % 2 = 1)
         |    ELSE FALSE END AS mg
         |  FROM (SELECT *, pos -
         |      ROW_NUMBER() OVER (PARTITION BY piece, cc ORDER BY pos) AS grp
         |    FROM c$step)),
         |seg$step AS MATERIALIZED (SELECT piece, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY piece ORDER BY pos) AS pos,
         |    CASE WHEN mg THEN sym ||
         |      (CASE WHEN nx LIKE '##%' THEN substring(nx, 3) ELSE nx END)
         |    ELSE sym END AS sym
         |  FROM (SELECT *,
         |      COALESCE(lag(mg) OVER (PARTITION BY piece ORDER BY pos),
         |        FALSE) AS pm
         |    FROM m$step)
         |  WHERE NOT pm)""".stripMargin
    }
    sb.toString
  }

  private def wordpieceTrainOracleSql(k: Int): String =
    s"WITH ${wpTrainCtes(k)}\n" +
      (1 to k).map(s =>
          s"SELECT CAST(${s - 1} AS BIGINT) AS join_rank, a AS lhs, " +
            s"b AS rhs, c AS pair_count, ca AS lhs_count, " +
            s"cb AS rhs_count FROM b$s")
        .mkString("", "\nUNION ALL ", "\nORDER BY join_rank")

  /** The greedy-matcher CTE chain shared by `q_wordpiece_train_encode`
    * and `q_wordpiece_encode_tokens`. Unlike BPE, the WordPiece serving
    * encoder is NOT the training chain replayed: it is greedy
    * longest-match-first over the flat vocabulary (alphabet from `seg0`
    * ∪ the `b$k` join outputs), so this chain re-derives the matcher
    * itself. `best` precomputes, for every (word type, codepoint
    * position), the longest vocabulary hit's consumed length — bare at
    * the word start (full piece length, which also covers pieces whose
    * literal text begins with `##`), `##`-prefixed after (piece length
    * − 2, pieces shorter than 3 codepoints excluded since they'd
    * consume nothing); the recursive `enc` CTE then just walks each
    * word through that table, one plain join per step — DuckDB silently
    * nulls correlated subqueries inside recursive members, and
    * aggregation over the recursive reference is disallowed, so the
    * matching must happen OUTSIDE the recursion. Each step ALSO records
    * the emitted vocabulary piece (the slice itself at a word start,
    * its `##`-prefixed form after, `[UNK]` on a miss — a position with
    * no hit collapses the word to one `[UNK]` token); `wlens` closes
    * with per-type token counts. Must run under `WITH RECURSIVE`.
    */
  private def wpEncodeCtes(k: Int): String = {
    val joined = (1 to k).map(s =>
        s"SELECT a || (CASE WHEN b LIKE '##%' THEN substring(b, 3) " +
          s"ELSE b END) AS piece FROM b$s")
      .mkString("\nUNION ")
    s"""${wpTrainCtes(k)},
       |voc AS MATERIALIZED (SELECT DISTINCT sym AS piece FROM seg0
       |UNION $joined),
       |wpos AS (SELECT piece,
       |    unnest(generate_series(1, CAST(length(piece) AS INTEGER)))
       |      AS pos
       |  FROM pc),
       |best AS MATERIALIZED (
       |  SELECT w.piece, CAST(w.pos AS BIGINT) AS pos,
       |    MAX(CASE WHEN w.pos = 1 THEN length(v.piece)
       |             ELSE length(v.piece) - 2 END) AS adv
       |  FROM wpos w LEFT JOIN voc v
       |    ON (w.pos = 1 AND
       |        v.piece = substring(w.piece, 1, length(v.piece)))
       |    OR (w.pos > 1 AND length(v.piece) >= 3 AND
       |        v.piece = '##' ||
       |          substring(w.piece, w.pos, length(v.piece) - 2))
       |  GROUP BY w.piece, w.pos),
       |enc AS (
       |  SELECT piece, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS ntok,
       |    FALSE AS unk, CAST(NULL AS VARCHAR) AS tok
       |  FROM pc
       |  UNION ALL
       |  SELECT e.piece,
       |    CASE WHEN b.adv IS NULL THEN e.pos ELSE e.pos + b.adv END AS pos,
       |    e.ntok + 1 AS ntok, b.adv IS NULL AS unk,
       |    CASE WHEN b.adv IS NULL THEN '[UNK]'
       |         WHEN e.pos = 1 THEN
       |           substring(e.piece, 1, CAST(b.adv AS INTEGER))
       |         ELSE '##' || substring(e.piece, CAST(e.pos AS INTEGER),
       |           CAST(b.adv AS INTEGER)) END AS tok
       |  FROM enc e JOIN best b ON b.piece = e.piece AND b.pos = e.pos
       |  WHERE NOT e.unk AND e.pos <= length(e.piece)),
       |wlens AS (SELECT piece,
       |    CASE WHEN unk THEN CAST(1 AS BIGINT) ELSE ntok END AS n
       |  FROM enc WHERE unk OR pos > length(piece))""".stripMargin
  }

  /** `q_wordpiece_train_encode`'s oracle: per-doc token counts under
    * the self-trained vocabulary — the matcher chain's per-type counts
    * ([[wpEncodeCtes]]' `wlens`) joined back per document.
    */
  private def wordpieceTrainEncodeOracleSql(k: Int): String =
    s"""WITH RECURSIVE ${wpEncodeCtes(k)}
       |SELECT d.doc_id,
       |  CAST(COALESCE(SUM(w.n), 0) AS BIGINT) AS n_wp_tokens
       |FROM documents d
       |LEFT JOIN p ON p.doc_id = d.doc_id AND p.piece <> ''
       |LEFT JOIN wlens w ON w.piece = p.piece
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** `q_bpe_train_tokens`' oracle: corpus-order token sequences straight
    * off the training chain's final segmentation (see the query doc for
    * why no separate matcher is needed).
    */
  private def bpeTrainTokensOracleSql(k: Int): String = {
    val pat = graft.functions.Bpe.preTokenizeRegex.replace("'", "''")
    s"""WITH ${bpeTrainCtes(k)},
       |pw AS (SELECT doc_id,
       |    unnest(regexp_extract_all($normSql, '$pat')) AS piece,
       |    unnest(generate_series(1,
       |      len(regexp_extract_all($normSql, '$pat')))) AS wi
       |  FROM documents)
       |SELECT pw.doc_id,
       |  row_number() OVER (PARTITION BY pw.doc_id ORDER BY pw.wi, s.pos)
       |    AS pos,
       |  s.sym AS token
       |FROM pw JOIN seg$k s ON s.piece = pw.piece
       |WHERE pw.piece <> ''
       |ORDER BY pw.doc_id, pos""".stripMargin
  }

  /** The per-(word type, token index) token table + per-(doc, word
    * index) word stream shared by `q_wordpiece_encode_tokens` and
    * `q_wordpiece_ids` — ONE definition of the unk-collapse rule (a
    * word that hit [UNK] anywhere contributes exactly the one [UNK]
    * token, discarding its earlier matches, like the published
    * algorithm) and of the corpus-order stitch, so the token- and
    * id-granularity gates cannot desynchronize. Extends
    * [[wpEncodeCtes]]; must run under `WITH RECURSIVE`.
    */
  private def wpTokenStreamCtes(k: Int): String = {
    val pat = graft.functions.Bpe.preTokenizeRegex.replace("'", "''")
    s"""${wpEncodeCtes(k)},
       |tt AS (
       |  SELECT piece, ntok AS ti, tok FROM enc
       |  WHERE tok IS NOT NULL
       |    AND piece NOT IN (SELECT piece FROM enc WHERE unk)
       |  UNION ALL
       |  SELECT DISTINCT piece, CAST(1 AS BIGINT) AS ti, '[UNK]' AS tok
       |  FROM enc WHERE unk),
       |pw AS (SELECT doc_id,
       |    unnest(regexp_extract_all($normSql, '$pat')) AS piece,
       |    unnest(generate_series(1,
       |      len(regexp_extract_all($normSql, '$pat')))) AS wi
       |  FROM documents)""".stripMargin
  }

  /** `q_wordpiece_encode_tokens`' oracle: the full per-document TOKEN
    * SEQUENCE re-derived cross-engine — each word type's ordered tokens
    * come straight off the recursive walk, stitched back into corpus
    * order by (word index, token index) ([[wpTokenStreamCtes]]).
    */
  private def wordpieceEncodeTokensOracleSql(k: Int): String =
    s"""WITH RECURSIVE ${wpTokenStreamCtes(k)}
       |SELECT pw.doc_id,
       |  row_number() OVER (PARTITION BY pw.doc_id ORDER BY pw.wi, tt.ti)
       |    AS pos,
       |  tt.tok AS token
       |FROM pw JOIN tt ON tt.piece = pw.piece
       |WHERE pw.piece <> ''
       |ORDER BY pw.doc_id, pos""".stripMargin

  /** `q_wordpiece_ids`' oracle: [[wordpieceEncodeTokensOracleSql]]'s
    * token stream pushed through the canonical numbering — `ids` ranks
    * the re-derived vocabulary by DuckDB's default binary (UTF-8 byte
    * order = codepoint order, i.e. `BpeTrainer.codepointCompare`)
    * collation, zero-based; `[UNK]` — which the collision guard keeps
    * out of the vocabulary — numbers as the trailing id, COUNT(voc).
    */
  private def wordpieceIdsOracleSql(k: Int): String =
    s"""WITH RECURSIVE ${wpTokenStreamCtes(k)},
       |ids AS (SELECT piece,
       |    CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS id
       |  FROM voc)
       |SELECT pw.doc_id,
       |  row_number() OVER (PARTITION BY pw.doc_id ORDER BY pw.wi, tt.ti)
       |    AS pos,
       |  CASE WHEN tt.tok = '[UNK]'
       |    THEN (SELECT CAST(COUNT(*) AS BIGINT) FROM voc)
       |    ELSE i.id END AS token_id
       |FROM pw JOIN tt ON tt.piece = pw.piece
       |LEFT JOIN ids i ON i.piece = tt.tok
       |WHERE pw.piece <> ''
       |ORDER BY pw.doc_id, pos""".stripMargin

  /** `q_unigram_encode_parity`'s oracle: the contract (all-true parity
    * and round-trip flags) plus the POPULATION — the distinct pre-token
    * word-type counts, capped and uncapped, re-derived independently so
    * the engine cannot shrink the checked set.
    */
  private def unigramParityOracleSql: String = {
    val pat = graft.functions.Bpe.preTokenizeRegex.replace("'", "''")
    s"""WITH p AS (SELECT unnest(regexp_extract_all($normSql, '$pat')) AS piece
       |  FROM documents),
       |w AS (SELECT DISTINCT piece FROM p WHERE piece <> ''),
       |sw AS (SELECT piece FROM w
       |  WHERE length(piece) <= $unigramParityMaxCps)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sw) AS n_words,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sw) AS n_viterbi_match,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sw) AS n_round_trip,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_words_all,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_round_trip_all""".stripMargin
  }

  /** The GPT-2-style demo numbering as a `(token, token_id)` VALUES
    * list — [[bpeVocabValuesSql]]'s twin over [[graft.functions.Bpe
    * .demoGpt2]], the vocabulary `q_bpe_decode` inverts.
    */
  private lazy val bpeGpt2VocabValuesSql: String =
    graft.functions.BpeVocab(graft.functions.Bpe.demoGpt2,
        graft.functions.BpeVocab.asciiPrintable)
      .idOf.toSeq.sortBy(_._2)
      .map { case (t, i) => s"('${t.replace("'", "''")}', $i)" }
      .mkString(", ")

  val gates: Seq[Gate] = Seq(
    // full training re-derivation, one CTE block per learned rule —
    // see bpeTrainOracleSql
    Gate("q_bpe_train", qBpeTrain, bpeTrainOracleSql(bpeTrainMerges)),
    // train→encode composition: per-doc counts from the training
    // chain's final segmentation — see bpeTrainEncodeOracleSql
    Gate("q_bpe_train_encode", qBpeTrainEncode,
      bpeTrainEncodeOracleSql(bpeTrainMerges)),
    Gate("q_bpe_train_tokens", qBpeTrainTokens,
      bpeTrainTokensOracleSql(bpeTrainMerges)),
    Gate("q_wordpiece_train", qWordpieceTrain,
      wordpieceTrainOracleSql(wpTrainJoins)),
    Gate("q_wordpiece_train_encode", qWordpieceTrainEncode,
      wordpieceTrainEncodeOracleSql(wpTrainJoins)),
    Gate("q_wordpiece_encode_tokens", qWordpieceEncodeTokens,
      wordpieceEncodeTokensOracleSql(wpTrainJoins)),
    Gate("q_wordpiece_ids", qWordpieceIds, wordpieceIdsOracleSql(wpTrainJoins)),
    Gate("q_wordpiece_decode", qWordpieceDecode, {
      // the decoded string re-derived from the SAME recursive matcher
      // walk that gates the encoder: strip-##-and-concatenate over the
      // (word index, token index)-ordered stream, identity vs the
      // normalized text wherever no word collapsed to [UNK]
      s"""WITH RECURSIVE ${wpTokenStreamCtes(wpTrainJoins)},
         |dec AS (SELECT pw.doc_id,
         |    string_agg(CASE WHEN tt.tok LIKE '##%'
         |      THEN substr(tt.tok, 3) ELSE tt.tok END,
         |      '' ORDER BY pw.wi, tt.ti) AS decoded
         |  FROM pw JOIN tt ON tt.piece = pw.piece
         |  WHERE pw.piece <> '' GROUP BY pw.doc_id)
         |SELECT d.doc_id, COALESCE(dec.decoded, '') AS decoded,
         |  CAST(CASE WHEN COALESCE(dec.decoded, '') = $normSql
         |    THEN 1 ELSE 0 END AS BIGINT) AS round_trip
         |FROM documents d LEFT JOIN dec USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }),
    Gate("q_bpe_decode", qBpeDecode, {
      // decode∘encode re-derived end to end: the gpt2-piece merge
      // chain's token stream joined BACK through the vocabulary (a
      // missing id decodes as U+FFFD, Spark's unkAs) and re-concatenated
      // in (word index, token index) order
      val pmerged = bpeChainSql(graft.functions.Bpe.demoGpt2.rules,
        s"rtrim(regexp_replace(piece, '(.)', '\\1' || $bpeSepSql, 'g'), " +
          s"$bpeSepSql)")
      val pat = graft.functions.Bpe.preTokenizeRegex.replace("'", "''")
      s"""WITH p AS (SELECT doc_id,
         |    unnest(regexp_extract_all($normSql, '$pat')) AS piece,
         |    unnest(generate_series(1,
         |      len(regexp_extract_all($normSql, '$pat')))) AS wi
         |  FROM documents),
         |penc AS (SELECT doc_id, wi, $pmerged AS m FROM p
         |         WHERE piece <> ''),
         |tt AS (SELECT doc_id, wi,
         |  unnest(string_split(m, $bpeSepSql)) AS token,
         |  unnest(generate_series(1, len(string_split(m, $bpeSepSql))))
         |    AS ti FROM penc),
         |voc(token, token_id) AS (VALUES $bpeGpt2VocabValuesSql),
         |dec AS (SELECT t.doc_id,
         |    string_agg(CASE WHEN v.token_id IS NULL THEN chr(65533)
         |      ELSE t.token END, '' ORDER BY t.wi, t.ti) AS decoded
         |  FROM tt t LEFT JOIN voc v USING (token)
         |  GROUP BY t.doc_id)
         |SELECT d.doc_id, COALESCE(dec.decoded, '') AS decoded,
         |  CAST(CASE WHEN COALESCE(dec.decoded, '') = $normSql
         |    THEN 1 ELSE 0 END AS BIGINT) AS round_trip
         |FROM documents d LEFT JOIN dec USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }),
    Gate("q_unigram_ids", qUnigramIds,
      // parity-contract oracle (the unigram EM's transcendental doubles
      // are not cross-engine reproducible): the POPULATION — every
      // document checked — is re-derived independently, and every
      // contract flag must hold on all of them; vocab_rank_ok pins the
      // stored artifact's ids to the canonical (logProb desc, piece)
      // rank re-derived through the DataFrame engine
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_len_match,
         |  CAST(COUNT(*) AS BIGINT) AS n_id_match,
         |  CAST(COUNT(*) AS BIGINT) AS n_unk_contract,
         |  CAST(COUNT(*) AS BIGINT) AS n_decode_match,
         |  CAST(1 AS BIGINT) AS vocab_rank_ok
         |FROM documents""".stripMargin),
    Gate("q_tokenizer_types", qTokenizerTypes, {
      val pat = graft.functions.Bpe.preTokenizeRegex.replace("'", "''")
      s"""WITH p AS (SELECT
         |    unnest(regexp_extract_all($normSql, '$pat')) AS piece
         |  FROM documents),
         |t AS (SELECT piece, CAST(COUNT(*) AS BIGINT) AS cnt FROM p
         |  WHERE piece <> '' GROUP BY piece)
         |SELECT piece, cnt FROM t
         |ORDER BY cnt DESC, piece LIMIT 40""".stripMargin
    }),
    Gate("q_unigram_encode_parity", qUnigramEncodeParity,
      unigramParityOracleSql),
    Gate("q_bpe", qBpe, {
      // the SAME tokenizers via the shared bpeChainSql rendering. The
      // gpt2-style path re-extracts the identical pre-token pieces with
      // the shared Java∩RE2 regex (DuckDB is RE2) before the same merge
      // chain.
      val pmerged = bpeChainSql(graft.functions.Bpe.demoGpt2.rules,
        s"rtrim(regexp_replace(piece, '(.)', '\\1' || $bpeSepSql, 'g'), " +
          s"$bpeSepSql)")
      val pat = graft.functions.Bpe.preTokenizeRegex.replace("'", "''")
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |enc AS (SELECT doc_id, tok, $bpeMergedSql AS m FROM toks),
         |ws AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
         |  CAST(SUM($bpeCountSql) AS BIGINT) AS n_bpe_tokens
         |  FROM enc GROUP BY doc_id),
         |p AS (SELECT doc_id,
         |        unnest(regexp_extract_all($normSql, '$pat')) AS piece
         |      FROM documents),
         |penc AS (SELECT doc_id, $pmerged AS m FROM p),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_gpt2_pieces,
         |  CAST(SUM(length(m) - length(replace(m, $bpeSepSql, '')) + 1)
         |    AS BIGINT) AS n_bpe_gpt2
         |  FROM penc GROUP BY doc_id)
         |SELECT ws.doc_id, ws.n_ws_tokens, ws.n_bpe_tokens,
         |  CAST(COALESCE(g.n_gpt2_pieces, 0) AS BIGINT) AS n_gpt2_pieces,
         |  CAST(COALESCE(g.n_bpe_gpt2, 0) AS BIGINT) AS n_bpe_gpt2
         |FROM ws LEFT JOIN g USING (doc_id) ORDER BY ws.doc_id""".stripMargin
    }),
    Gate("q_bpe_ids", qBpeIds,
      // full value oracle on the token-ID SEQUENCE: re-run the merge
      // chain, split on the separator, renumber with the identical
      // alphabet-then-rank VALUES table, compare every (pos, token, id)
      s"""WITH $bpeSeqCtes
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, token, token_id
         |FROM seq ORDER BY doc_id, pos""".stripMargin),
    Gate("q_tok_fertility", qTokFertility,
      // every integer mass re-derived: strlen bytes, codepoint length,
      // non-empty whitespace words, BPE tokens via the shared merge
      // chain; the two ratio doubles are ONE divide over the exact
      // integer sums, null on a zero denominator
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok
         |  FROM documents),
         |enc AS (SELECT doc_id, tok, $bpeMergedSql AS m FROM toks),
         |bt AS (SELECT doc_id, CAST(SUM($bpeCountSql) AS BIGINT) AS t,
         |    CAST(COUNT(*) FILTER (WHERE tok <> '') AS BIGINT) AS w
         |  FROM enc GROUP BY doc_id),
         |d AS (SELECT lang, doc_id,
         |    CAST(strlen(text) AS BIGINT) AS b,
         |    CAST(length(text) AS BIGINT) AS c FROM documents),
         |a AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(d.b) AS BIGINT) AS n_bytes,
         |    CAST(SUM(d.c) AS BIGINT) AS n_chars,
         |    CAST(SUM(bt.w) AS BIGINT) AS n_words,
         |    CAST(SUM(bt.t) AS BIGINT) AS n_tokens
         |  FROM d JOIN bt ON bt.doc_id = d.doc_id GROUP BY d.lang)
         |SELECT lang, n_docs, n_bytes, n_chars, n_words, n_tokens,
         |  CASE WHEN n_words = 0 THEN NULL
         |       ELSE CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
         |  END AS fertility,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |       ELSE CAST(n_bytes AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |  END AS bytes_per_token
         |FROM a ORDER BY lang""".stripMargin),
  )
}
