package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, regexp_extract_all, udf}

/** A byte-pair-encoding vocabulary: ordered merge rules, rank = training
  * order — the real tokenizer-based token counter for budget accounting
  * (whitespace counts under-estimate subword budgets 1.3–2×).
  *
  * Encoding is the standard greedy loop: repeatedly merge the
  * lowest-rank adjacent pair present in the word (all leftmost
  * non-overlapping occurrences at once) until no rule applies.
  *
  * Construction enforces the structural invariant every trained BPE
  * vocabulary has — each rule's sides are single codepoints or the
  * output of an EARLIER rule, and outputs are distinct. Under it, greedy
  * encoding provably equals applying the rules once each in rank order
  * (a merge can never create an adjacency for an earlier rule, because
  * that earlier rule's sides were all formed before it). That sequential
  * form is what the DuckDB oracle evaluates as a nested `replace` chain
  * — a full value oracle for a tokenizer, not just a row count.
  *
  * Scale shape: the vocabulary is a plain broadcast-size value captured
  * in a UDF closure (merge tables are ≤ a few hundred KB); counting is a
  * narrow per-row map, no shuffle. The UDF is the honest choice here —
  * the merge loop is imperative string work with no Column/codegen
  * equivalent; everything around it (normalize, tokenize, aggregate)
  * stays in codegen.
  */
final case class BpeMerges(rules: Seq[(String, String)])
    extends Serializable {
  {
    val formed = scala.collection.mutable.Set.empty[String]
    rules.zipWithIndex.foreach { case ((a, b), i) =>
      def ok(s: String) = s.codePointCount(0, s.length) == 1 ||
        formed.contains(s)
      require(ok(a) && ok(b),
        s"rule $i ($a,$b): sides must be single codepoints or outputs of " +
          "earlier rules (the invariant that makes greedy == rank-order)")
      require(!formed.contains(a + b), s"rule $i: duplicate output ${a + b}")
      formed += (a + b)
    }
  }

  @transient private lazy val rank: Map[(String, String), Int] =
    rules.zipWithIndex.toMap

  private def mergeAll(toks: Array[String], a: String,
      b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += a + b; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Greedy BPE: tokens of `word`. */
  def encode(word: String): Seq[String] = {
    var toks = Bpe.codepoints(word)
    var continue = toks.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i < toks.length - 1) {
        rank.get((toks(i), toks(i + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bestA = toks(i); bestB = toks(i + 1) }
        }
        i += 1
      }
      if (bestA == null) continue = false
      else toks = mergeAll(toks, bestA, bestB)
    }
    toks.toSeq
  }

  /** Token count over a pre-tokenized word array (empty words are
    * skipped; pair with [[graft.pipeline.TextOps.tokens]] so the word
    * segmentation stays on the oracle-verified codegen path).
    */
  def countTokens(words: Seq[String]): Int = {
    var n = 0
    words.foreach(w => if (w.nonEmpty) n += encode(w).length)
    n
  }

  /** The standard `merges.txt` rendering of this vocabulary — one
    * whitespace-separated `A B` pair per line in rank order, with
    * `gpt2Spaces = true` printing the space byte as `Ġ` (U+0120) per
    * the GPT-2 release convention. Round-trips bit-identically through
    * [[BpeMerges.fromLines]] with matching flags — the WRITE half of a
    * trained vocabulary's persistence (the other tokenizer families'
    * `vocabDf` analog, in the format real releases ship). The file
    * format splits on whitespace, so a rule side containing a space
    * requires the Ġ encoding; any other whitespace — and a left side
    * starting with `#`, which would write a line the reader skips as a
    * comment — is rejected eagerly rather than producing a file that
    * re-loads differently.
    */
  def toLines(gpt2Spaces: Boolean = false,
      header: String = "#version: 0.2"): Iterator[String] = {
    def enc(s: String) = if (gpt2Spaces) s.replace(' ', 'Ġ') else s
    rules.foreach { case (a, b) =>
      require(!(enc(a) + enc(b)).exists(_.isWhitespace),
        s"rule ('$a', '$b') contains whitespace the merges-file layout " +
          "cannot carry; pass gpt2Spaces = true for spaces")
      require(!gpt2Spaces || !(a + b).contains('Ġ'),
        s"rule ('$a', '$b') contains a literal Ġ, which the gpt2Spaces " +
          "round trip would decode to a space")
      require(!enc(a).startsWith("#"),
        s"rule ('$a', '$b'): a left side starting with '#' would write " +
          "a line fromLines skips as a comment, silently dropping the " +
          "rule on reload")
    }
    require(header.isEmpty || header.startsWith("#"),
      s"header '$header' does not start with '#': fromLines would parse " +
        "it as a merge rule instead of skipping it as a comment")
    Iterator(header) ++
      rules.iterator.map { case (a, b) => s"${enc(a)} ${enc(b)}" }
  }
}

/** One emitted token with its vocabulary id — [[Bpe.encodeWithIds]]'s
  * element type (case class so the struct fields are named, not `_1`).
  */
final case class BpeToken(token: String, token_id: Int)

/** Token-id numbering over a merges table, derived the canonical way a
  * BPE release with no explicit vocab file is numbered: base-alphabet
  * entries take ids `0 .. |alphabet|-1` in the given order, then each
  * merge rule's output takes id `|alphabet| + rank`. The ranges can
  * never collide — merge outputs are ≥ 2 codepoints, alphabet entries
  * exactly 1 — and [[BpeMerges]]' construction already guarantees
  * outputs are distinct. A token outside the vocabulary (a codepoint
  * the alphabet lacks) maps to `unkId` rather than failing; the
  * drop/replace decision belongs to the caller.
  *
  * Like the merges table, the whole vocabulary is a broadcast-size
  * closure value — id assignment adds no distributed state.
  */
final case class BpeVocab(merges: BpeMerges, alphabet: Seq[String],
    unkId: Int = -1) extends Serializable {
  {
    require(alphabet.distinct == alphabet,
      "alphabet entries must be distinct")
    alphabet.foreach(a => require(a.codePointCount(0, a.length) == 1,
      s"alphabet entry '$a' must be a single codepoint"))
  }

  /** Total id space: alphabet then merge outputs. */
  def size: Int = alphabet.size + merges.rules.size

  @transient lazy val idOf: Map[String, Int] =
    (alphabet.zipWithIndex ++
      merges.rules.zipWithIndex.map { case ((a, b), i) =>
        (a + b, alphabet.size + i)
      }).toMap

  /** Greedy-encode `word` and number each token. */
  def encodeIds(word: String): Seq[Int] =
    merges.encode(word).map(idOf.getOrElse(_, unkId))

  /** The numbering as a persistable `(id, token)` DataFrame — the
    * `vocab.json` analog next to [[BpeMerges.toLines]]' merges file,
    * and the same shape the WordPiece/unigram families publish via
    * their `vocabDf`. Round-trips through [[BpeVocab.fromVocabDf]]
    * (which re-validates it against the merges table).
    */
  def vocabDf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (alphabet.zipWithIndex.map { case (t, i) => (i, t) } ++
      merges.rules.zipWithIndex.map { case ((a, b), i) =>
        (alphabet.size + i, a + b)
      }).toDF("id", "token")
  }

  /** Inverse numbering: id → token. Total over the id space because
    * [[idOf]] is a bijection — alphabet entries are distinct single
    * codepoints, merge outputs are distinct ≥2-codepoint strings, so
    * the two ranges can never collide.
    */
  @transient lazy val tokenOf: Map[Int, String] = idOf.map(_.swap)

  /** Decode an id sequence back to text — the inverse of [[encodeIds]]
    * over a [[graft.functions.Bpe.preTokenize]] piece stream, whose
    * pieces carry their own leading spaces and concatenate to the
    * original (normalized) text: `decodeIds(encodeIds(...))` is the
    * identity on any text the alphabet covers. An id outside the
    * vocabulary (the unknown marker, or garbage) renders as `unkAs`
    * (U+FFFD by default) rather than failing — a bin audit wants to SEE
    * the hole, not die on it.
    */
  def decodeIds(ids: Seq[Int], unkAs: String = "�"): String = {
    val sb = new java.lang.StringBuilder
    ids.foreach(i => sb.append(tokenOf.getOrElse(i, unkAs)))
    sb.toString
  }
}

object BpeVocab {

  /** Printable-ASCII base alphabet (codepoints 32–126) — covers
    * normalized English corpora; real deployments pass their release's
    * byte alphabet in its published order.
    */
  val asciiPrintable: Seq[String] = (32 to 126).map(_.toChar.toString)

  /** Rebuild a vocabulary from a stored [[BpeVocab.vocabDf]] frame plus
    * its merges table (the pairing real releases ship as `vocab.json` +
    * `merges.txt` — the numbering alone cannot encode; the rules alone
    * cannot number). The alphabet is the id-order prefix before the
    * merge outputs; every stored merge-output row is validated against
    * the canonical derivation, so a truncated or reordered file fails
    * fast instead of silently renumbering THAT region. The alphabet
    * prefix, by contrast, is AUTHORITATIVE — its order is the caller's
    * choice at training time and nothing in the merges table constrains
    * it — so a rewrite that permutes only the alphabet rows (and
    * regenerates ids) is undetectable from the file pair alone. Callers
    * holding the expected order (a trainer's codepoint-sorted alphabet,
    * a release's byte table) pass it as `expectedAlphabet` to close
    * that hole: decoding bins packed under the OLD numbering with a
    * permuted alphabet yields wrong text with no error otherwise.
    */
  def fromVocabDf(df: org.apache.spark.sql.DataFrame, merges: BpeMerges,
      unkId: Int = -1,
      expectedAlphabet: Option[Seq[String]] = None): BpeVocab = {
    val rows = df.select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("token"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, "stored vocabulary is empty")
    require(rows.map(_.getInt(0)).sameElements(rows.indices),
      "stored vocabulary ids must be exactly 0..n-1")
    val tokens = rows.map(_.getString(1))
    val nAlpha = tokens.length - merges.rules.size
    require(nAlpha > 0,
      s"stored vocabulary has ${tokens.length} entries but the merges " +
        s"table alone implies ${merges.rules.size} outputs — alphabet " +
        "missing or merges mismatched")
    val alpha = tokens.take(nAlpha).toSeq
    expectedAlphabet.foreach { exp =>
      require(alpha == exp,
        s"stored alphabet prefix (${alpha.take(8).mkString(",")}…) does " +
          s"not match the expected alphabet " +
          s"(${exp.take(8).mkString(",")}…) — the file was reordered or " +
          "truncated; ids no longer mean what they did at pack time")
    }
    val v = BpeVocab(merges, alpha, unkId)
    merges.rules.zipWithIndex.foreach { case ((a, b), i) =>
      require(tokens(nAlpha + i) == a + b,
        s"stored id ${nAlpha + i} is '${tokens(nAlpha + i)}' but the " +
          s"merges table derives '${a + b}' — vocab/merges mismatch")
    }
    v
  }
}

object BpeMerges {

  /** Load a merges file in the standard `merges.txt` layout: one
    * whitespace-separated `A B` pair per line, rank = line order;
    * `#`-prefixed header/comment lines and blanks skipped. With
    * `gpt2Spaces = true`, the GPT-2 convention of printing the space
    * byte as `Ġ` (U+0120) is undone on both sides, so a real tokenizer
    * release's merges file loads directly. Construction re-validates the
    * greedy==rank-order invariant, so a malformed or truncated file
    * fails fast instead of silently tokenizing differently.
    */
  def fromLines(lines: Iterator[String],
      gpt2Spaces: Boolean = false): BpeMerges = {
    def decode(s: String) = if (gpt2Spaces) s.replace('Ġ', ' ') else s
    BpeMerges(lines
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val parts = l.split("\\s+")
        require(parts.length == 2, s"malformed merges line: '$l'")
        (decode(parts(0)), decode(parts(1)))
      }
      .toSeq)
  }
}

object Bpe {

  /** Split into single-codepoint strings (surrogate-pair safe — the
    * DuckDB mirror's `(.)` regex is codepoint-based too).
    */
  private[functions] def codepoints(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Column function: BPE token count of a (normalized) token-array
    * column under `vocab`.
    */
  def tokenCount(vocab: BpeMerges)(words: Column): Column = {
    val f = udf((ws: Seq[String]) => vocab.countTokens(ws))
    f(words)
  }

  /** Column function: the materialised token sequence of a word-array
    * column — one `array<struct<token, token_id>>` per row, tokens in
    * word order then merge order, empty words skipped. THE missing half
    * of the tokenize→pack flow: `transform(..., _.token_id)` (or
    * [[tokenIds]]) is the id sequence a trainer consumes, `size(...)`
    * equals [[tokenCount]], and a downstream bin assembler slices it by
    * [[graft.pipeline.Packing.chunkSpans]]' `doc_from`/`piece_tokens`.
    * One UDF call encodes each row once — ids come from the same greedy
    * pass as the token strings, never a second encode.
    */
  def encodeWithIds(vocab: BpeVocab)(words: Column): Column = {
    val f = udf((ws: Seq[String]) =>
      ws.iterator.filter(_.nonEmpty).flatMap { w =>
        vocab.merges.encode(w).map(t =>
          BpeToken(t, vocab.idOf.getOrElse(t, vocab.unkId)))
      }.toSeq)
    f(words)
  }

  /** Column function: just the flat token-id array (`array<int>`) of a
    * word-array column under `vocab` — [[encodeWithIds]] without the
    * token strings, for pipelines that only ship ids.
    */
  def tokenIds(vocab: BpeVocab)(words: Column): Column = {
    val f = udf((ws: Seq[String]) =>
      ws.iterator.filter(_.nonEmpty).flatMap(vocab.encodeIds).toSeq)
    f(words)
  }

  /** Column function: decode an `array<int>` id column back to text
    * ([[BpeVocab.decodeIds]]) — the audit/inspection half of the
    * tokenize→pack flow: an assembled training bin's id payload decodes
    * straight back to readable corpus text. Vocabulary broadcast in the
    * UDF closure, narrow, stateless, streaming-safe.
    */
  def decodeIds(vocab: BpeVocab, unkAs: String = "�")(ids: Column)
      : Column = {
    val f = udf((xs: Seq[Int]) =>
      if (xs == null) null else vocab.decodeIds(xs, unkAs))
    f(ids)
  }

  /** GPT-2-style pre-tokenization pattern, restricted to the Java∩RE2
    * syntax intersection so Spark (java.util.regex) and any RE2 engine
    * (e.g. a DuckDB oracle) extract identical pieces: contractions, then
    * optional-space + letter run / digit run / punctuation run, then
    * bare whitespace. The upstream pattern's `\s+(?!\S)` lookahead
    * (RE2 has no lookarounds) only matters on whitespace RUNS, which
    * normalized text ([[graft.pipeline.TextOps.normalize]]) never
    * contains — on collapsed text the two patterns agree.
    */
  val preTokenizeRegex: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Pre-token pieces of a (normalized) text column — the word-boundary
    * segmentation a real byte-level BPE runs its merge loop inside, with
    * each piece carrying its leading space so the vocabulary can merge
    * space-prefixed words (` the`) as single tokens.
    */
  def preTokenize(text: Column): Column =
    regexp_extract_all(text, lit(preTokenizeRegex), lit(0))

  /** A small demonstration vocabulary over common English fragments —
    * rank-ordered, invariant-respecting. Real deployments load the
    * tokenizer's merges file with [[BpeMerges.fromLines]] the same way.
    */
  val demoEnglish: BpeMerges = BpeMerges(Seq(
    ("t", "h"), ("th", "e"),            // the
    ("i", "n"), ("in", "g"),            // ing
    ("a", "n"), ("an", "d"),            // and
    ("e", "r"), ("o", "n"),             // er, on
    ("t", "i"), ("ti", "on"),           // tion
    ("e", "n"), ("r", "e"),             // en, re
    ("o", "u"), ("s", "t"),             // ou, st
    ("a", "r"), ("o", "r")))            // ar, or

  /** [[demoEnglish]] plus space-prefixed merges, in the merges-FILE form
    * (Ġ = space, per the GPT-2 release convention) — the demo vocabulary
    * for the [[preTokenize]] path, where pieces carry their leading
    * space and the space-prefixed rules fire first like a real trained
    * vocabulary's low ranks.
    */
  val demoGpt2Lines: Seq[String] = Seq(
    "#version: 0.2 (graft demo)",
    "Ġ t", "Ġt h", "Ġth e",             // ' the'
    "Ġ a", "Ġa n", "Ġan d",             // ' and'
    "t h", "th e",
    "i n", "in g",
    "a n", "an d",
    "e r", "o n",
    "t i", "ti on",
    "e n", "r e",
    "o u", "s t",
    "a r", "o r")

  lazy val demoGpt2: BpeMerges =
    BpeMerges.fromLines(demoGpt2Lines.iterator, gpt2Spaces = true)
}
