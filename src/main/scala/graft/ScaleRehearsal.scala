package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gates.Gate

/** One-shot scale rehearsal (dev-run evidence for SCALING.md, not a
  * driver gate): inflate the documents/embeddings fixtures N× with
  * re-keyed ids and time the bench cost leaders at 1× vs N× in the same
  * JVM, under TWO inflation modes:
  *
  *  - `distinct` — every copy's words carry a per-copy marker, so
  *    copies share no shingles/grams and the piece-type vocabulary
  *    grows ~N× with the corpus, and every copy's embedding is rotated
  *    so vectors spread across IVF cells instead of stacking (how a
  *    real bigger crawl behaves).
  *    The claim under test: runtimes grow ~linearly in corpus size
  *    (global sorts slightly worse), driver state stays bounded by the
  *    (now larger) vocabulary, no single task blows up.
  *  - `clone` — verbatim copies: every LSH bucket, duplicate gram and
  *    near-dup clique is hot at once, and pair-emitting queries'
  *    OUTPUT grows ~N² by construction (each clone group emits
  *    N·(N−1)/2 pairs where 1× emits none). The claim under test is
  *    survival: the skew guards hold, nothing OOMs or stalls on one
  *    task — ratios here measure the adversarial output growth, not
  *    plan quality.
  *
  * Usage: `runMain graft.ScaleRehearsal <sfDir> <workDir> [factor]
  * [modes] [queries]` (factor defaults 10; modes a comma list, default
  * `distinct,clone,relational` — the third rehearses the reference
  * masking core over an FK-consistent TPC-H inflation, see
  * [[RelQueries]]; `queries` an optional comma list restricting the
  * run to a subset of a mode's query set, for iterating on one row
  * without re-timing the whole board; SPARK_GRAFT_CPUS as in Bench).
  * Run it ALONE — a concurrent Spark JVM skews the base pass. Prints
  * one JSON line per (mode, query) — ratio = scaled/base, `null` (with
  * a negative elapsed-seconds sentinel) on failure — then a summary
  * per mode.
  */
object ScaleRehearsal {

  /** The bench cost leaders at sf0.1, one per heavy family: substring
    * dedup (gram agg + interval cut), winnowing overlap, MinHash LSH
    * pairs, near-dup clustering (pointer jumping), index append probe,
    * span decontamination, the composed curation chain, the WordPiece
    * train→encode gate, the two batch ANN serving layouts, the
    * SemDeDup forms (transform — fixed and AUTO-SIZED quantizer — pair
    * scan, against-index ingest probe), and the next cost tier
    * (BENCH_r16 1–3 s band): BPE/WordPiece id encoding, token windows,
    * the epoch shuffle's corpus-wide sort, and first-fit-decreasing
    * bin packing.
    */
  private[graft] val Queries = Seq(
    "q_substring_dedup", "q_winnow_overlap", "q_dedup_near",
    "q_dedup_clusters", "q_dedup_append", "q_decontaminate_spans",
    "q_curation", "q_wordpiece_encode_tokens", "q_ivf_pq_batch",
    "q_sim_ivf_batch", "q_semdedup", "q_semdedup_auto",
    "q_semdedup_2l", "q_semdedup_2l_incr", "q_semdedup_pairs",
    "q_semdedup_incr",
    "q_bpe_ids", "q_wordpiece_ids", "q_token_windows",
    "q_epoch_shuffle", "q_pack_bins",
    // the round-17 widening — the remaining 1.5–6.5 s bench band:
    // the composed curation variants (incl. the cross-table
    // semantic-dedup join, meaningful only under the shared-shift
    // inflation), the featurized NB train/parity/eval rows, index
    // re-clustering, winnowing fingerprints, Bloom decontamination,
    // LM scoring and the full Gopher rule set
    "q_curation_weighted", "q_curation_pack", "q_curation_sem",
    "q_nb_model", "q_nb_classify", "q_nb_eval_bigram",
    "q_ivf_recluster", "q_ivf_recluster_2l", "q_winnow",
    "q_decontaminate_bloom",
    "q_lm_score", "q_gopher_full",
    // round-17 additions: DSIR fit+selection (two bounded count aggs
    // + a narrow scored top-k), the quality-aware SemDeDup survivor
    // (cross-table quality join — shared-shift inflation), the
    // discovered-domain mix (quantizer assignment + two aggregates)
    // and the fertility audit's BPE-counting scan
    "q_dsir_select", "q_semdedup_best", "q_cluster_mix",
    "q_tok_fertility",
    // and the late-round-17 rows: curation∘DSIR, the exact/near
    // keep-best survivor gates (hash-group aggregates / pair graph +
    // quality-ranked components)
    "q_curation_dsir", "q_dedup_exact_best", "q_dedup_near_best",
    // BM25: one filtered explode + bounded aggregates per form; the
    // hybrid row adds the brute-force cosine side + rank fusion
    "q_bm25_topk", "q_bm25_batch", "q_hybrid_rrf", "q_bm25_index",
    "q_bm25_append", "q_bm25_compact", "q_bm25_index_batch",
    "q_hybrid_index",
    // embedding second-moment stats (partition-local Gram folds) and
    // the PCA fit+project on top of them
    "q_embed_cov", "q_pca",
    // corpus drift monitor: two vocabulary-bounded aggregations + one
    // bounded full-outer join — the count tables must stay the only
    // non-narrow stage regardless of corpus size
    "q_vocab_drift",
    // round-19 additions: the full-width PCA audit (gramStats + one
    // driver eigensolve + a distributed projected-variance fold) and
    // PCA whitening composed into the SemDeDup chain
    "q_pca_trace_parity", "q_pca_semdedup",
    // round-20 additions: image aHash near-dup (two synthesized BMPs
    // per doc through the real ImageIO decode + the banded Hamming
    // pair join) and curation composed with the drift monitor (the
    // curation chain + two vocabulary-bounded count tables)
    "q_image_phash", "q_curation_drift",
    // round 20: audio-fingerprint near-dup — two synthesized WAVs per
    // doc through the real javax.sound decode + the banded Hamming
    // pair join (the image row's shape, audio modality) — and its
    // incremental serving form (persisted hash index, batch probe)
    "q_audio_fingerprint", "q_audio_fingerprint_incr",
    "q_image_phash_incr",
    // round 20: video-fingerprint near-dup — two synthesized ISO-BMFF
    // containers per doc through the real box walker (stsz bitrate
    // envelope; no JDK frame decoder exists, so the fingerprint is
    // honestly bitstream-level) + the banded Hamming pair join, and
    // its incremental serving form
    "q_video_fingerprint", "q_video_fingerprint_incr",
    // round 20: the mixed-modality lake capstone — one interleaved
    // binary column (BMP/WAV/MP4 by doc_id % 3), per-row container
    // sniff + dispatch to that modality's envelope, one banded pair
    // join across the unified hashes
    "q_media_dedup_mixed",
    // round 20: media keep-best — the video pair graph through
    // connectedComponents + the per-clique bitrate argmax
    "q_media_dedup_best",
    // round 20: Misra-Gries heavy hitters under the accuracy contract
    // — the O(k)-state sketch + the exact witness aggregate
    "q_heavy_hitters",
    // round 20: URL-canonicalization dedup — two synthesized raw URLs
    // per doc through the codegen normalizer chain + one hash agg
    "q_url_dedup")

  /** The reference masking core + relational leaders, rehearsed over an
    * FK-CONSISTENT inflation: facts (lineitem/orders/customer) grow N×
    * with re-keyed orderkey/custkey chains, dims (region/nation/
    * supplier/part) stay fixed — how a real warehouse grows. Exercises
    * the distributed `#row#` numbering, the FK value-cascade join and
    * the multijoin at N× fact volume. The round-17 privacy rows ride
    * the same inflation: q_k_anon/q_privacy_card's QI groups stay FIXED
    * in count while their sizes grow N× (the bounded-reducer-state
    * claim), and q_fuzzy_join's distinct-name universe genuinely grows
    * N× (copy i ≥ 1 suffixes `~i` onto c_name), so the deletion-
    * neighborhood blocking is measured against 10× more distinct keys —
    * with each base name's cross-copy variants landing at distance ≤ 2
    * of each other, i.e. output pairs grow too, by construction.
    */
  private[graft] val RelQueries = Seq("mask_blueprint_full", "mask_rownum",
    "fk_sync", "q1_agg", "q5_multijoin",
    "q_k_anon", "q_privacy_card", "q_fuzzy_join",
    "q_k_suppress", "q_k_generalize", "q_t_closeness", "q_fuzzy_serve",
    "q_rr_release", "q_rr_estimate", "q_privacy_utility", "q_mondrian",
    "q_fuzzy_join2", "q_fuzzy_two",
    // format-preserving pseudonymization: a narrow per-char closure
    // scan — must stay linear in the 10x distinct-name universe
    "mask_format_preserving",
    // consistent date shifting: one md5 coin + interval add per row
    "mask_date_shift",
    // l-diversity enforcement: bounded distinct-agg + broadcast semi
    "q_l_suppress",
    // central-DP noisy counts: one bounded aggregate + a narrow coin
    "q_dp_counts",
    // round 19: the cross-table FP-mask consistency gate — two narrow
    // masking scans + the raw-FK join and a bounded per-key aggregate
    "mask_fp_sync",
    // round 20: the Mondrian GK-path contract gate — the same
    // per-round bounded aggregates as q_mondrian (plus the rank-audit
    // sums riding the split aggregation) under sketch medians
    "q_mondrian_gk",
    // round 20: the salted skew join/agg (salt-spread shuffle lanes
    // must price like the plain join), the HLL distinct gate (sketch
    // bytes per group, exact distinct only as the gate's witness) and
    // the bucketed co-located join (bucketed write + shuffle-free read
    // at 10x fact volume)
    "q_skew_join", "q_skew_agg", "q_hll_distinct", "q_bucketed_join",
    // round 20: the full C1 loop over an ORC store — I/O-priced like
    // the other staged rewrites, at 10x fact volume
    "q_orc_roundtrip",
    // round 20: sketch mergeability — 8 per-shard sketches + one
    // register union vs the one-pass sketch; O(2^lgK) bytes per shard
    // regardless of fact volume
    "q_hll_merge")

  private val KnownModes = Set("distinct", "clone", "relational")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleRehearsal <sfDir> <workDir> [factor] [modes] " +
        "[queries]")
    val Array(sfDir, workDir) = args.take(2)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val modes = args.lift(3).getOrElse("distinct,clone,relational")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // an unrecognized mode would otherwise silently inflate and measure
    // as clone mode (markWords = false) under a mislabeled name
    val badModes = modes.filterNot(KnownModes)
    require(badModes.isEmpty, s"unknown mode(s) " +
      s"${badModes.mkString(", ")} — valid: ${KnownModes.mkString(", ")}")
    val only = args.lift(4)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- Queries.toSet -- RelQueries.toSet
      require(unknown.isEmpty, s"unknown rehearsal queries: " +
        s"${unknown.mkString(", ")}")
    }
    // both query lists resolve against the gate registry before any
    // inflation starts
    val gates = SparkEntry.select(Queries ++ RelQueries)
      .map(g => g.name -> g).toMap
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpusModes = modes.filterNot(_ == "relational")
    // ONE shift across both tables: doc_id and vec_id are the SAME
    // key space (q_curation_sem joins them), so per-table shifts
    // would misalign every copy's cross-table join — copy i of a
    // document must keep copy i of its embedding. Computed once; it
    // depends only on the source fixtures, not the mode.
    val shared =
      if (corpusModes.isEmpty) None
      else Some(math.max(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .agg(max(col("doc_id"))).head().getLong(0),
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .agg(max(col("vec_id"))).head().getLong(0)) + 1)
    corpusModes.foreach { mode =>
      val dst = s"$workDir/$mode"
      new java.io.File(dst).mkdirs()
      inflate(spark, s"$sfDir/documents.parquet",
        s"$dst/documents.parquet", "doc_id", factor, cpus,
        distinctCopies = mode == "distinct", shiftOverride = shared)
      inflate(spark, s"$sfDir/embeddings.parquet",
        s"$dst/embeddings.parquet", "vec_id", factor, cpus,
        distinctCopies = mode == "distinct", shiftOverride = shared)
    }
    if (modes.contains("relational"))
      inflateRelational(spark, sfDir, s"$workDir/relational", factor,
        cpus)

    def timeOne(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try gates(name).run(spark, dir)(Gate.noop)
      catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only: an OOM or linkage error must kill the
        // rehearsal — timings taken after one are garbage
        System.err.println(s"[scale] FAILED $name@$dir: ${e.getMessage}")
        -(System.nanoTime() - t0) / 1e9
      }
    }

    // one full 1× pass first as JVM/codegen warmup (discarded), then the
    // timed 1× pass and each mode's N× pass — all JIT-hot, so the ratio
    // is data-driven. Warmup and base are per (query, sfDir) and cached:
    // distinct and clone share the identical 1× work, so a default run
    // times the heavy base queries once, not once per corpus mode
    val warmed = scala.collection.mutable.Set.empty[String]
    val baseCache = scala.collection.mutable.Map.empty[String, Double]
    def runMode(mode: String, qs: Seq[String]): Unit = {
      qs.filterNot(warmed).foreach { q => timeOne(q, sfDir); warmed += q }
      val base = qs.map(q =>
        q -> baseCache.getOrElseUpdate(q, timeOne(q, sfDir))).toMap
      val scaled = qs.map(q => q -> timeOne(q, s"$workDir/$mode")).toMap
      var geo = 0.0
      var n = 0
      qs.foreach { q =>
        val b = base(q)
        val sAbs = scaled(q)
        val ok = b > 0 && sAbs > 0
        if (ok) { geo += math.log(sAbs / b / factor); n += 1 }
        // a failed pass keeps its negative elapsed-seconds sentinel and
        // a null ratio — bare NaN would make the line unparseable JSON
        val r = if (ok) (sAbs / b).toString else "null"
        println(s"""{"mode":${Json.str(mode)},"query":${Json.str(q)},""" +
          s""""base_sec":$b,""" +
          s""""scaled_sec":$sAbs,"factor":$factor,"ratio":$r}""")
      }
      // per-factor exponent proxy: geometric mean of ratio/factor — 1.0
      // is perfectly linear, >1 superlinear (the global sorts), <1 means
      // the 1× run was dominated by fixed overheads
      println(s"""{"metric":"scale_rehearsal","mode":${Json.str(mode)},""" +
        s""""factor":$factor,""" +
        s""""geomean_ratio_over_factor":${math.exp(geo / math.max(n, 1))},""" +
        s""""queries_ok":$n,"queries_total":${qs.size}}""")
    }
    modes.foreach { mode =>
      val qs = if (mode == "relational") RelQueries else Queries
      runMode(mode, only.fold(qs)(o => qs.filter(o)))
    }
    spark.stop()
  }

  /** FK-consistent N× inflation of the TPC-H-ish core: orderkey and
    * custkey chains re-key together (copy i shifts both sides by the
    * same amount, so every FK still resolves and every copy's join
    * fan-out matches the original); dim tables and the fact's dim FKs
    * (supplier/part keys) are left as-is — dims stay fixed while facts
    * grow, like a real warehouse.
    */
  private def inflateRelational(spark: SparkSession, sfDir: String,
      dst: String, factor: Int, cpus: Int): Unit = {
    new java.io.File(dst).mkdirs()
    def rd(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
    val shiftC = rd("customer").agg(max(col("c_custkey")))
      .head().getLong(0) + 1
    val shiftO = rd("orders").agg(max(col("o_orderkey")))
      .head().getLong(0) + 1
    def blow(t: String, shifts: Map[String, Long],
        perCopy: (DataFrame, Int) => DataFrame = (df, _) => df): Unit =
      (0 until factor)
        .map { i =>
          perCopy(shifts.foldLeft(rd(t)) { case (df, (c, sh)) =>
            df.withColumn(c, col(c) + lit(i * sh))
          }, i)
        }
        .reduce(_ union _)
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    // copy 0 keeps verbatim names; copy i ≥ 1 gets a `~i` suffix so the
    // DISTINCT name universe grows with the factor (new customers have
    // new names) — without it every copy collapses in Linkage's
    // distinct-first pass and the fuzzy-join rehearsal measures nothing
    blow("customer", Map("c_custkey" -> shiftC),
      (df, i) => if (i == 0) df
        else df.withColumn("c_name", concat(col("c_name"), lit(s"~$i"))))
    blow("orders", Map("o_orderkey" -> shiftO, "o_custkey" -> shiftC))
    blow("lineitem", Map("l_orderkey" -> shiftO))
    Seq("region", "nation", "supplier", "part").foreach { t =>
      rd(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  /** N copies of `src` with ids re-keyed into disjoint ranges (copy i
    * shifts by i·(max+1)). With `distinctCopies`, copy i ≥ 1's payload
    * is made genuinely distinct per column kind:
    *
    *  - a `text` column has every word prefixed with a per-copy
    *    CYRILLIC marker (`ж` + the copy index with each digit mapped to
    *    а..к) so copies share no LETTER word types, and ASCII digit
    *    runs TRANSLATE to a per-copy decimal-digit block (Devanagari,
    *    Bengali, … — still `\p{N}+` to the GPT-2 pre-tokenizer) so
    *    numeric tokens and the grams/shingles spanning them are
    *    distinct per copy too. The letter marker must be letters — a
    *    digit inside would make the pre-tokenizer split the word back
    *    into (marker, digits, ORIGINAL word) and quietly undo the
    *    distinctness for the tokenizer type table — and both the
    *    marker script and the used digit blocks must be absent from
    *    the corpus so nothing marked collides with an original
    *    (asserted, not assumed);
    *  - an `embedding` column is ROTATED by `1 + (i−1) mod (dim−1)`
    *    positions, with a SIGN FLIP on every wrap — norm-preserving
    *    but direction-changing (2·(dim−1) distinct directions,
    *    factor-bounds validated loudly), so copies spread across IVF
    *    cells / LSH buckets the way a genuinely bigger crawl's vectors
    *    would, instead of N-fold verbatim duplicate vectors piling
    *    into the same cell (which is exactly the CLONE regime, and was
    *    what both modes measured before this guard — the two ANN
    *    columns in a rehearsal table were pure noise).
    *
    * Copy 0 keeps the original payload — the 1× corpus is a subset of
    * the N× one. Repartitioned so the scaled input has real parallelism
    * rather than N files of clones back to back.
    */
  /** Per-copy decimal-digit blocks (all BMP, Unicode category Nd, so
    * the GPT-2 pre-tokenizer still sees one `\p{N}+` run): copy `i`'s
    * ASCII digits translate to block `i−1`'s digits, making numeric
    * tokens — and every gram/shingle spanning them — distinct per copy
    * too. Letter marking alone left digit-heavy text byte-identical
    * across copies, i.e. partially clone mode under the distinct label.
    */
  private val DigitBlocks: IndexedSeq[Char] = IndexedSeq(
    '०', '০', '੦', '૦', '୦', '௦',
    '౦', '೦', '൦', '๐', '໐', '༠',
    '၀', '០', '᠐')

  private def copyDigits(i: Int): String =
    (0 until 10).map(dd => (DigitBlocks(i - 1) + dd).toChar).mkString

  private[graft] def inflate(spark: SparkSession, src: String,
      dst: String, idCol: String, factor: Int, cpus: Int,
      distinctCopies: Boolean, shiftOverride: Option[Long] = None)
      : Unit = {
    val d = spark.read.parquet(src)
    val cols = d.columns.toSet
    val shift = shiftOverride.getOrElse(
      d.agg(max(col(idCol))).head().getLong(0) + 1)
    if (distinctCopies && cols("text")) {
      require(factor - 1 <= DigitBlocks.length,
        s"factor $factor exceeds the ${DigitBlocks.length} per-copy " +
          "digit blocks — copies would share numeric tokens again")
      // ONE precondition scan: the Cyrillic marker script AND every
      // non-ASCII decimal digit must be absent — the latter subsumes
      // the per-copy target blocks (translated tokens can't collide
      // with originals) and catches source digits `translate` cannot
      // remap (an Arabic-Indic or fullwidth numeral would stay
      // byte-identical across copies: partially clone mode under the
      // distinct label)
      require(d.filter(col("text")
          .rlike("[Ѐ-ӿ]|[\\p{Nd}&&[^0-9]]")).isEmpty,
        s"$src contains Cyrillic text or non-ASCII decimal digits — " +
          "the distinct-mode letter marker would collide, or numeric " +
          "tokens outside the ASCII translation would stay shared " +
          "across copies")
    }
    // embedding rotation bounds, validated LOUDLY (head row's dim; the
    // fixtures are uniform-dim): dim 1 has no distinct rotation at all
    // (and pmod-by-zero would silently null every copy), and a factor
    // beyond the 2·(dim−1) rotate+flip directions would collide copies
    // back into verbatim clones under the distinct label
    val embDim: Int =
      if (distinctCopies && cols("embedding")) {
        val d0 = d.select(size(col("embedding"))).head().getInt(0)
        require(d0 >= 2, s"$src embeddings are $d0-dimensional — " +
          "per-copy rotation needs dim >= 2")
        require(factor - 1 <= 2 * (d0 - 1),
          s"factor $factor exceeds the ${2 * (d0 - 1)} distinct " +
            s"rotate+flip directions a $d0-dim embedding supports")
        d0
      } else 0
    def marker(i: Int): String =
      "ж" + i.toString.map(c => ('а' + (c - '0')).toChar)
    (0 until factor)
      .map { i =>
        val keyed = d.withColumn(idCol, col(idCol) + lit(i * shift))
        if (!distinctCopies || i == 0) keyed
        else {
          val marked =
            if (cols("text"))
              keyed.withColumn("text",
                regexp_replace(
                  translate(col("text"), "0123456789", copyDigits(i)),
                  "(\\p{L}+)", marker(i) + "$1"))
            else keyed
          if (cols("embedding")) {
            val e = col("embedding")
            // rotation r ∈ [1, dim-1] plus a sign flip on every wrap:
            // 2·(dim−1) genuinely distinct directions per vector. dim
            // and the factor bound are validated loudly below — a
            // silent rotation collision would re-measure clone mode
            // under the distinct label
            val r = 1 + (i - 1) % (embDim - 1)
            val sign = if (((i - 1) / (embDim - 1)) % 2 == 1) -1f else 1f
            val rot = concat(slice(e, r + 1, embDim - r), slice(e, 1, r))
            marked.withColumn("embedding",
              if (sign == 1f) rot else transform(rot, x => x * lit(sign)))
          } else marked
        }
      }
      .reduce(_ union _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(dst)
  }
}
