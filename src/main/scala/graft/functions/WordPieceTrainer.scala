package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Distributed WordPiece tokenizer training + encoding — the third
  * tokenizer family next to [[BpeTrainer]] and [[UnigramTrainer]],
  * implementing the published WordPiece algorithm (Schuster & Nakajima
  * 2012; the BERT variant per Wu et al. 2016 and the HuggingFace
  * tokenizers documentation — all public), deliberately the SAME scale
  * shape as its two siblings:
  *
  *  - the DISTRIBUTED stage is the piece-type reduction
  *    ([[BpeTrainer.pieceTypeCounts]], shared): the corpus collapses to
  *    a vocabulary-bounded `(piece, count)` table in ONE hash
  *    aggregation — nothing else of the corpus ever reaches the driver;
  *  - the join-selection loop then runs driver-side over that bounded
  *    table (distributed word counting, local merge selection — how
  *    production trainers work).
  *
  * WordPiece differs from BPE only in the merge objective: instead of
  * the most FREQUENT adjacent pair, it joins the pair maximising the
  * likelihood ratio `count(ab) / (count(a) · count(b))` over the
  * CURRENT symbol counts — the pair whose join most increases corpus
  * likelihood under a unigram model. Non-initial symbols carry the
  * `##` continuation prefix (BERT convention): a word's first codepoint
  * seeds bare, every later codepoint seeds as `##x`, and a join output
  * is `left + strip##(right)` so continuation-ness propagates from the
  * left side.
  *
  * Determinism contract (what the DuckDB oracle re-derives step by
  * step): pair counts weight EVERY adjacent index; symbol counts weight
  * every index; the score is evaluated EXACTLY as
  * `c.toDouble / (la.toDouble * lb.toDouble)` — each conversion and
  * both arithmetic ops are single correctly-rounded IEEE-754 steps, so
  * any engine computing the same three integers produces the
  * bit-identical double (no sum-order sensitivity anywhere) — and ties
  * resolve to the codepoint-smallest (left, right), matching a binary
  * UTF-8 collation. Joins rewrite leftmost-non-overlapping, exactly
  * like [[BpeTrainer]].
  *
  * A literal `#` in corpus text is indistinguishable, once marked, from
  * the continuation prefix (`'#'` at position 3 of a word seeds as
  * `###`) — the standard representational ambiguity of the `##`
  * convention; both the trainer and the oracle apply the same
  * prefix-strip rule, so parity is unaffected.
  */
object WordPieceTrainer {

  /** One learned join with its selection-time evidence: the adjacency
    * count and both symbol counts that made `(left, right)` the score
    * argmax at `rank` — the three integers the cross-engine oracle
    * re-derives (the score itself is their deterministic function, so
    * it is not materialised).
    */
  final case class LearnedJoin(rank: Int, left: String, right: String,
      pairCount: Long, leftCount: Long, rightCount: Long) {
    /** The selection score, evaluated exactly as specified in the
      * object doc.
      */
    def score: Double =
      pairCount.toDouble / (leftCount.toDouble * rightCount.toDouble)
    /** The joined symbol: continuation-ness propagates from the left. */
    def joined: String = left + stripCont(right)
  }

  private[graft] val ContPrefix = "##"

  private[graft] def stripCont(s: String): String =
    if (s.startsWith(ContPrefix)) s.substring(ContPrefix.length) else s

  /** A word's initial WordPiece segmentation: first codepoint bare,
    * every subsequent codepoint `##`-prefixed.
    */
  private[graft] def markedCps(s: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    var first = true
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val c = new String(Character.toChars(cp))
      out += (if (first) c else ContPrefix + c)
      first = false
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Learn `numJoins` WordPiece joins from `corpus`. `pieces` is the
    * pre-token column (e.g. `Bpe.preTokenize(TextOps.normalize(
    * col("text")))`) — training runs INSIDE piece boundaries, like both
    * sibling trainers. `maxPieceTypes` caps the collected type table
    * with the identical contract as [[BpeTrainer.train]]. Stops early
    * if no adjacent pair remains.
    */
  def train(corpus: DataFrame, pieces: Column, numJoins: Int,
      maxPieceTypes: Option[Int] = None): Seq[LearnedJoin] =
    trainFull(corpus, pieces, numJoins, maxPieceTypes).joins

  /** A completed training run WITH the type table it reduced the corpus
    * to — the handle that makes train→vocab→encode a SINGLE corpus
    * scan: [[toVocabLocal]] derives the alphabet from `types` instead
    * of re-scanning the corpus the way [[toVocab]] must.
    */
  final case class TrainedWordPiece(types: Seq[(String, Long)],
      joins: Seq[LearnedJoin])

  /** [[train]], returning the collected `(piece, count)` type table
    * alongside the joins. Same bounded-driver-state contract — the type
    * table is O(vocabulary), and it is ALREADY on the driver when
    * training ends, so keeping it is free.
    */
  def trainFull(corpus: DataFrame, pieces: Column, numJoins: Int,
      maxPieceTypes: Option[Int] = None): TrainedWordPiece = {
    // bounded driver state: the piece-TYPE table, same O(vocabulary)
    // collect contract as BpeTrainer.train
    val types = BpeTrainer.cappedTypeCounts(corpus, pieces, maxPieceTypes)
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
    TrainedWordPiece(types, trainLocal(types, numJoins))
  }

  /** The join-selection loop over an in-memory `(piece, count)` type
    * table — driver-side by design; package-visible so specs can drive
    * it on hand-built fixtures.
    */
  private[graft] def trainLocal(types: Seq[(String, Long)],
      numJoins: Int): Seq[LearnedJoin] = {
    val segs: Array[Array[String]] =
      types.map(t => markedCps(t._1)).toArray
    val cnts: Array[Long] = types.map(_._2).toArray

    val learned = Seq.newBuilder[LearnedJoin]
    var rank = 0
    var exhausted = false
    while (rank < numJoins && !exhausted) {
      val symCnt = scala.collection.mutable.HashMap.empty[String, Long]
      val pairCnt =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      var w = 0
      while (w < segs.length) {
        val s = segs(w)
        val c = cnts(w)
        var i = 0
        while (i < s.length) {
          symCnt.update(s(i), symCnt.getOrElse(s(i), 0L) + c)
          if (i < s.length - 1) {
            val k = (s(i), s(i + 1))
            pairCnt.update(k, pairCnt.getOrElse(k, 0L) + c)
          }
          i += 1
        }
        w += 1
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        // argmax by (score DESC, left, right) — see the object doc's
        // exactness argument for why the double compare is portable
        var best: ((String, String), Long) = null
        var bestScore = Double.NegativeInfinity
        pairCnt.foreach { case (k @ (a, b), c) =>
          val sc = c.toDouble /
            (symCnt(a).toDouble * symCnt(b).toDouble)
          val better = sc > bestScore || (sc == bestScore && {
            val cmpA = BpeTrainer.codepointCompare(a, best._1._1)
            cmpA < 0 || (cmpA == 0 &&
              BpeTrainer.codepointCompare(b, best._1._2) < 0)
          })
          if (better) { best = (k, c); bestScore = sc }
        }
        val ((a, b), c) = best
        learned += LearnedJoin(rank, a, b, c, symCnt(a), symCnt(b))
        val joined = a + stripCont(b)
        w = 0
        while (w < segs.length) {
          val s = segs(w)
          var has = false
          var i = 0
          while (!has && i < s.length - 1) {
            has = s(i) == a && s(i + 1) == b; i += 1
          }
          if (has) {
            val out = Array.newBuilder[String]
            i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
                out += joined; i += 2
              } else { out += s(i); i += 1 }
            }
            segs(w) = out.result()
          }
          w += 1
        }
        rank += 1
      }
    }
    learned.result()
  }

  /** The encoding vocabulary a training run publishes: the initial
    * alphabet (every bare first codepoint and `##`-marked continuation
    * codepoint of the type table) plus each join's output — the
    * HuggingFace WordPiece convention (alphabet ∪ merge outputs).
    */
  final case class Vocab(pieces: Set[String], unkToken: String = "[UNK]") {
    require(pieces.nonEmpty, "vocab must be non-empty")
    // an unk token that is ALSO a vocabulary piece would make an
    // emitted unk indistinguishable from a genuine match and split its
    // identity across two vocabDf rows (encodeIdsUdf could then only
    // ever emit one of the two ids) — reject loudly instead
    require(!pieces.contains(unkToken),
      s"unk token '$unkToken' collides with a vocabulary piece")
    /** Greedy matcher's probe bound: the longest piece length in raw
      * codepoints. A piece whose literal text begins with `##` can match
      * BARE at a word start (consuming its full length), so the bound is
      * the max over FULL lengths — stripping the continuation prefix
      * here would undercount such pieces and make them unmatchable. For
      * genuine continuation pieces this over-probes by at most the two
      * prefix codepoints, which merely costs two extra hash lookups.
      */
    val maxMatchCps: Int = pieces.iterator.map(cpCount).max
  }

  private def cpCount(s: String): Int = s.codePointCount(0, s.length)

  /** Build the encoding [[Vocab]] from a type table's alphabet plus the
    * learned joins. The alphabet comes from the SAME distributed type
    * reduction as training ([[BpeTrainer.pieceTypeCounts]]), with the
    * SAME `maxPieceTypes` cap (so the alphabet agrees with what a capped
    * training run saw), then collapsed DISTRIBUTIVELY to its distinct
    * marked codepoints (explode → distinct): only the alphabet — bounded
    * by the script inventory, thousands at web scale — ever reaches the
    * driver, never the full piece-type table.
    */
  def toVocab(corpus: DataFrame, pieces: Column,
      learned: Seq[LearnedJoin],
      maxPieceTypes: Option[Int] = None,
      unkToken: String = "[UNK]"): Vocab = {
    val markUdf = udf((p: String) => markedCps(p))
    val alphabet =
      BpeTrainer.cappedTypeCounts(corpus, pieces, maxPieceTypes)
        .select(explode(markUdf(col("piece"))).as("sym"))
        .distinct().collect().map(_.getString(0))
    // a corpus that legitimately learns a piece spelling the default
    // unk string (e.g. logs embedding tokenizer output) trips Vocab's
    // collision guard — the unkToken parameter is the caller's out
    Vocab(alphabet.toSet ++ learned.map(_.joined), unkToken)
  }

  /** [[toVocab]] from an ALREADY-COLLECTED type table (a
    * [[trainFull]] result) — no corpus scan at all. The type table
    * contains every piece type training saw, so its distinct marked
    * codepoints ARE the alphabet `toVocab` re-derives distributively;
    * train→vocab→encode then touches the corpus exactly twice (the
    * training aggregation and the encode itself) instead of three
    * times. Use this whenever vocab construction follows training in
    * the same job; `toVocab` remains for building a vocabulary against
    * a corpus whose type table was never collected (e.g. joins loaded
    * from a store).
    */
  def toVocabLocal(trained: TrainedWordPiece,
      unkToken: String = "[UNK]"): Vocab = {
    val alphabet =
      trained.types.iterator.flatMap(t => markedCps(t._1)).toSet
    Vocab(alphabet ++ trained.joins.map(_.joined), unkToken)
  }

  /** Greedy longest-match-first WordPiece encoding of one pre-token
    * word (the published BERT `WordpieceTokenizer` algorithm): at each
    * position match the LONGEST vocabulary piece (bare form at the
    * word start, `##`-form after); any position with no match collapses
    * the WHOLE word to `[UNK]`. Empty words encode to nothing.
    */
  def encodeWord(word: String, vocab: Vocab): Array[String] = {
    if (word.isEmpty) return Array.empty
    // codepoint-indexed view so probes slice by codepoints, not chars
    val cps = Bpe.codepoints(word)
    val n = cps.length
    val out = Array.newBuilder[String]
    var i = 0
    while (i < n) {
      val prefix = if (i == 0) "" else ContPrefix
      var l = math.min(vocab.maxMatchCps, n - i)
      var hit: String = null
      var hitLen = 0
      while (hit == null && l >= 1) {
        val sb = new java.lang.StringBuilder(prefix)
        var k = 0
        while (k < l) { sb.append(cps(i + k)); k += 1 }
        val cand = sb.toString
        if (vocab.pieces.contains(cand)) { hit = cand; hitLen = l }
        l -= 1
      }
      if (hit == null) return Array(vocab.unkToken)
      out += hit
      // advance by the codepoints actually CONSUMED from the word (the
      // probe length at hit time) — deriving it from the hit string by
      // stripping '##' is wrong for pieces whose literal text starts
      // with '##': a bare '##' hit would advance 0 (infinite loop) and
      // other bare '##…' hits would mis-advance vs the BERT greedy
      // algorithm, which steps by the matched substring length
      i += hitLen
    }
    out.result()
  }

  /** Canonical piece ids: codepoint-sorted rank (binary UTF-8 order —
    * the same total order every engine and the DuckDB oracle agree on),
    * with the [UNK] token appended last. Shared by [[vocabDf]] and
    * [[encodeIdsUdf]] so a stored vocabulary and a live encode always
    * number identically.
    */
  private def canonicalPieces(vocab: Vocab): Seq[String] =
    vocab.pieces.toSeq
      .sortWith((a, b) => BpeTrainer.codepointCompare(a, b) < 0)

  /** The learned vocabulary as a `(id, piece, is_unk)` DataFrame — the
    * persistable artifact a training run publishes next to its corpus
    * (ids are the canonical codepoint-sorted rank, [UNK] last, so a
    * stored vocabulary round-trips bit-identically through
    * [[loadVocab]]) — same pattern as [[UnigramTrainer.vocabDf]].
    */
  def vocabDf(spark: SparkSession, vocab: Vocab): DataFrame = {
    import spark.implicits._
    val sorted = canonicalPieces(vocab)
    (sorted.zipWithIndex.map { case (p, i) => (i, p, false) } :+
      ((sorted.size, vocab.unkToken, true)))
      .toDF("id", "piece", "is_unk")
  }

  /** Rebuild the vocabulary from a stored [[vocabDf]] frame. */
  def loadVocab(df: DataFrame): Vocab = {
    val rows = df.select(col("id"), col("piece"), col("is_unk"))
      .collect().sortBy(_.getInt(0))
    val unk = rows.find(_.getBoolean(2)).map(_.getString(1))
      .getOrElse("[UNK]")
    Vocab(rows.filterNot(_.getBoolean(2)).map(_.getString(1)).toSet, unk)
  }

  /** [[encodeWord]] over the pre-token pieces array as a UDF — vocab
    * broadcast once, narrow, stateless, streaming-safe (the serving
    * twin of [[train]], same pattern as
    * [[UnigramTrainer.segmentUdf]]).
    */
  def encodeUdf(spark: SparkSession, vocab: Vocab)
      : UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(vocab)
    udf((pieces: Seq[String]) =>
      if (pieces == null) null
      else pieces.flatMap(p => encodeWord(p, bc.value)))
  }

  /** [[encodeUdf]] straight to canonical vocabulary IDS ([[vocabDf]]'s
    * codepoint-sorted rank; [UNK] encodes as its own trailing id), the
    * array [[graft.pipeline.Packing.tokenWindows]] and the bin packers
    * consume: train → encode → pack closes for the WordPiece family
    * exactly as it does for BPE and unigram.
    */
  def encodeIdsUdf(spark: SparkSession, vocab: Vocab)
      : UserDefinedFunction = {
    val sorted = canonicalPieces(vocab)
    val ids = sorted.iterator.zipWithIndex.map { case (p, i) => p -> i }
      .toMap + (vocab.unkToken -> sorted.size)
    val bc = spark.sparkContext.broadcast((vocab, ids))
    udf((pieces: Seq[String]) =>
      if (pieces == null) null
      else pieces.flatMap(p => encodeWord(p, bc.value._1)
        .map(t => bc.value._2(t))))
  }

  /** Per-row WordPiece token count over the pre-token pieces array
    * (`[UNK]` counts 1, the count a packing budget sees).
    */
  def tokenCountUdf(spark: SparkSession, vocab: Vocab)
      : UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(vocab)
    udf((pieces: Seq[String]) =>
      if (pieces == null) 0L
      else pieces.iterator.map(p => encodeWord(p, bc.value).length.toLong)
        .sum)
  }

  /** Decode a token stream back to text: strip the `##` continuation
    * prefix from every token that carries one and concatenate (the
    * published `convert_tokens_to_string` convention, minus the
    * space-join — our pre-tokens carry their OWN leading spaces, so
    * plain concatenation reconstructs the normalized text exactly
    * wherever no word collapsed to `[UNK]`). Convention-based by
    * design: the flat stream no longer knows word boundaries, so a
    * BARE vocabulary piece whose literal text starts with `##` (a word
    * type beginning with two hashes) decodes as its stripped form —
    * the same information loss every flat-stream WordPiece decoder
    * accepts. `[UNK]` stays literal so the audit sees the hole.
    */
  def decodeTokens(tokens: Seq[String]): String = {
    val sb = new java.lang.StringBuilder
    tokens.foreach(t => sb.append(stripCont(t)))
    sb.toString
  }

  /** [[decodeTokens]] as a column function over an `array<string>`
    * token column — vocabulary-free, narrow, streaming-safe.
    */
  def decodeUdf(): UserDefinedFunction =
    udf((toks: Seq[String]) =>
      if (toks == null) null else decodeTokens(toks))
}
