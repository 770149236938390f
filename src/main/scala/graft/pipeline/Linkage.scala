package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance record linkage via deletion-neighborhood blocking
  * (FastSS — Bocek, Hunt & Stiller 2007; popularized as SymSpell). The
  * linkage attack is the threat model the reference's masking defends
  * against (SURVEY §2 north-star): given a released table, can rows be
  * re-matched to a second source through *approximately* equal keys? This
  * operator runs that attack at corpus scale — and doubles as the classic
  * blocking step of Fellegi–Sunter record linkage for pipeline joins on
  * dirty keys.
  *
  * Blocking invariant (what makes it exact, not approximate): two strings
  * at Levenshtein distance <= d always share at least one member of their
  * <=d-deletion neighborhoods (delete the edited positions from each side),
  * so candidate generation has NO false negatives; `levenshtein()` then
  * discards the false positives. The oracle gate proves completeness by
  * comparing against the brute-force O(n^2) join.
  *
  * Scale shape: per string, |s| choose <=d variants (linear in |s| for d=1)
  * — a bounded explode, hashed to 8-byte keys so the one shuffle moves
  * (hash, string) pairs, never all-pairs. Candidate buckets group only
  * strings whose neighborhoods collide, i.e. near-duplicates — the output
  * itself — plus rare 64-bit hash collisions that the verify step removes.
  * Both sides are reduced to DISTINCT strings before blocking, so a
  * duplicate-heavy corpus (the adversarial case for any bucket self-join)
  * costs one pair per distinct pair, not per row pair. [[selfPairs]]
  * verifies inside its bucket fold with a bit-parallel kernel
  * ([[Verifier]]: one 64-bit word per key of at most 64 code points, a
  * banded DP above that); the two-source joins verify with codegen'd
  * `levenshtein` on the thin candidate set. Every length and distance —
  * `maxLen`, the deletion neighborhood, the verify, the reported `dist`
  * — counts code points, so a supplementary character (an emoji) is one
  * edit, as in Spark's `length` and `levenshtein`. A long-string corpus
  * caps the explode via `maxLen` (QI keys are short by nature; a 10 kB
  * "key" is not a linkage key) — and the cap is DEPTH-AWARE by default
  * ([[defaultMaxLen]]: 256 at d=1, 64 at d>=2), because the d>=2
  * neighborhood is C(len, d)-sized and the d=1 default would otherwise
  * smuggle a ~32,640-variants-per-string cliff into d=2 runs.
  */
object Linkage {

  /** Depth-aware blocking cap: the <=d-deletion neighborhood is
    * Θ(C(len, d))-sized — linear at d=1, but a SINGLE 256-char string
    * at d=2 already emits ~32,640 variants (C(256,2)), so the shared
    * 256 default would hand a long-dirty-key corpus a silent explode
    * cliff before the verify step ever runs. d=1 keeps 256; d>=2
    * defaults to 64 (<= 2,081 variants per string at d=2). Passing
    * `maxLen` explicitly is the knowing opt-in past the cap — the
    * cost is C(maxLen, d) variant rows per distinct over-length
    * string, priced into the one blocking shuffle.
    */
  def defaultMaxLen(maxDist: Int): Int = if (maxDist <= 1) 256 else 64

  /** Resolve the `maxLen = -1` sentinel to [[defaultMaxLen]]. */
  private def resolveMaxLen(maxDist: Int, maxLen: Int): Int = {
    require(maxDist >= 1, s"maxDist must be >= 1 (got $maxDist)")
    val cap = if (maxLen == -1) defaultMaxLen(maxDist) else maxLen
    require(cap >= 1,
      s"maxLen must be >= 1 or the -1 depth-aware default (got $maxLen)")
    cap
  }

  /** All strings reachable from `s` by deleting at most `maxDist` code
    * points (including `s` itself), deduplicated. A surrogate pair is one
    * code point and is deleted whole, so the neighborhood agrees with the
    * code-point distances `length` and `levenshtein` report.
    */
  private[graft] def deletionVariants(s: String, maxDist: Int): Seq[String] = {
    var frontier = Set(s)
    var all = Set(s)
    var step = 0
    while (step < maxDist && frontier.nonEmpty) {
      frontier = frontier.flatMap { t =>
        val out = List.newBuilder[String]
        var i = 0
        while (i < t.length) {
          val k = Character.charCount(t.codePointAt(i))
          out += t.substring(0, i) + t.substring(i + k)
          i += k
        }
        out.result()
      }
      all ++= frontier
      step += 1
    }
    all.toSeq
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Unique suffix per [[blocked]] call — Spark rejects two `observe`
    * nodes with the same name inside one query, and a two-source
    * linkage calls [[blocked]] twice in the same plan.
    */
  private val capObsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `sessionUUID`s of the sessions that already carry the
    * cap-observability listener (the listener is registered once per
    * session, matched by metric-name prefix so every [[blocked]]
    * observation reports through it). Keyed on the UUID string, so the
    * static set never pins a session object.
    */
  private val capListenerSessions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Make the depth-aware length cap OBSERVABLE: rows the `maxLen`
    * filter silently drops from blocking would otherwise vanish from
    * linkage results with no signal (a completeness regression when
    * the d>=2 default tightened 256 -> 64). `observe` rides the
    * existing scan — zero extra jobs at any scale — and the
    * per-session listener logs a warning with the excluded count the
    * first action after which it is non-zero.
    */
  private def ensureCapListener(
      spark: org.apache.spark.sql.SparkSession): Unit =
    if (capListenerSessions.add(
        org.apache.spark.sql.GraftSessionKey.of(spark))) {
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft_linkage_cap_")) {
                val excluded = row.getAs[Long]("excluded_over_maxlen")
                if (excluded > 0L)
                  log.warn(s"linkage blocking: $excluded distinct " +
                    "string(s) exceeded maxLen and were EXCLUDED from " +
                    "candidate pairs (longest seen: " +
                    s"${row.getAs[Any]("max_len_seen")} chars) — pass " +
                    "maxLen explicitly to include them (cost is " +
                    "C(maxLen, maxDist) variants per over-length string)")
              }
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    }

  /** Distinct values of `strCol` with their exploded neighborhood hashes:
    * (`s`, `vh`). The UDF is a closure (not an inline-literal expression
    * tree) so the fused stage stays JIT-compiled.
    */
  private def blocked(df: DataFrame, strCol: String, maxDist: Int,
      maxLen: Int): DataFrame = {
    val d = maxDist
    val variantsUdf = udf((s: String) => deletionVariants(s, d))
    ensureCapListener(df.sparkSession)
    // the explode below fans each distinct string into Θ(C(len, d))
    // variant rows, so the stage AFTER the distinct's exchange does
    // ~C(len, d)× more work per input byte than the exchange carries.
    // AQE coalesces post-shuffle partitions on shuffle BYTES alone and
    // would fold a small distinct-strings exchange into ONE partition
    // (measured: the whole variant explode of q_fuzzy_join2 on a single
    // task, 8.5 s of a 16 s query), serializing the CPU-heavy stage.
    // An explicitly-sized repartition pins the width (user-specified
    // partition counts are exempt from AQE coalescing); it keys on `s`,
    // costs one pass over the DISTINCT STRINGS only — ~1/C(len, d) of
    // the variant shuffle that follows — and keeps the blocking stage
    // wide at every scale.
    val width = blockWidth(df.sparkSession)
    df.select(col(strCol).cast("string").as("s"))
      .na.drop("any")
      .observe(s"graft_linkage_cap_${capObsSeq.incrementAndGet()}",
        coalesce(sum(when(length(col("s")) > maxLen, 1L).otherwise(0L)),
          lit(0L)).as("excluded_over_maxlen"),
        max(length(col("s"))).as("max_len_seen"))
      .filter(length(col("s")) <= maxLen)
      .distinct()
      // keyed on xxhash64(s), not s: a repartition on `s` itself is
      // elided as redundant (the distinct's exchange already hash-
      // partitions on `s`), which hands the exchange back to AQE and
      // re-serializes the explode; the derived key keeps the shuffle —
      // and the pinned width — in the plan
      .repartition(width, xxhash64(col("s")))
      .select(col("s"), explode(variantsUdf(col("s"))).as("__v"))
      .select(col("s"), xxhash64(col("__v")).as("vh"))
    // no trailing distinct: deletionVariants dedupes within a string, so
    // (s, vh) rows are already unique (up to 64-bit hash collisions,
    // which every consumer dedupes after its own join/fold anyway) —
    // dropping it removes a full exchange of the C(len, d)×-sized
    // variant table from every linkage plan.
  }

  /** The pinned stage width for the CPU-heavy linkage stages — the
    * session's shuffle partitions, floored at the cluster parallelism.
    */
  private def blockWidth(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)

  /** Banded Levenshtein (Ukkonen 1985) over code points: the exact
    * distance if it is <= `maxDist`, else -1 — O(maxDist·len) instead of
    * the full O(len²) DP, since cells farther than `maxDist` off the
    * diagonal can never contribute to a distance within the bound.
    */
  private[graft] def boundedLev(a: String, b: String, maxDist: Int): Int =
    boundedLevInto(codePointsOf(a), codePointsOf(b), maxDist, new Scratch)

  /** `s` as code points (a surrogate pair is one), without the stream
    * machinery of `String.codePoints`: the fold converts every member of
    * every bucket.
    */
  private def codePointsOf(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var (i, k) = (0, 0)
    while (i < s.length) {
      out(k) = s.codePointAt(i)
      i += Character.charCount(out(k))
      k += 1
    }
    out
  }

  /** Per-thread DP scratch: a hot caller (the fold's banded fallback can
    * run tens of millions of verifies per task at corpus scale) reuses
    * the two band rows instead of allocating them per call — the per-call
    * arrays were the dominant garbage source and made the operator's
    * wall time GC-topology-sensitive rather than compute-bound.
    */
  private[graft] final class Scratch {
    var prev: Array[Int] = new Array[Int](64)
    var cur: Array[Int] = new Array[Int](64)
    def ensure(m: Int): Unit = if (prev.length < m + 1) {
      prev = new Array[Int](m + 1)
      cur = new Array[Int](m + 1)
    }
  }

  private[graft] def boundedLevInto(a: Array[Int], b: Array[Int],
      maxDist: Int, scratch: Scratch): Int = {
    val (n, m) = (a.length, b.length)
    if (math.abs(n - m) > maxDist) return -1
    if (n == 0) return m // <= maxDist by the length check
    if (m == 0) return n // ditto
    val inf = maxDist + 1
    scratch.ensure(m)
    var prev = scratch.prev
    var cur = scratch.cur
    java.util.Arrays.fill(prev, 0, m + 1, inf)
    var j = 0
    while (j <= math.min(m, maxDist)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, 0, m + 1, inf)
      val lo = math.max(1, i - maxDist) // lo <= hi: n <= m + maxDist
      val hi = math.min(m, i + maxDist)
      if (i <= maxDist) cur(0) = i
      var best = cur(0) // column 0 is part of the row minimum
      j = lo
      while (j <= hi) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        val v = math.min(sub, math.min(del, ins))
        cur(j) = v
        if (v < best) best = v
        j += 1
      }
      if (best > maxDist) return -1 // the whole band overflowed
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m) <= maxDist) prev(m) else -1
  }

  /** The in-bucket fold's Levenshtein verifier, over code points: set a
    * pattern with [[pattern]], then [[apply]] gives each text's exact
    * distance to it if that is <= `maxDist`, else -1.
    *
    * A pattern of at most 64 code points runs Myers' bit-vector
    * recurrence (JACM 1999) in Hyyrö's global edit-distance form (2003):
    * one 64-bit word step per text code point, against match masks built
    * once per pattern. Every key under the d>=2 default cap fits one
    * word; a longer pattern (only an explicit `maxLen` or d=1's 256
    * default admits one) runs [[boundedLevInto]]. The tables are reused
    * across patterns, so a verify allocates nothing. Not thread-safe.
    */
  private[graft] final class Verifier {
    // bit k of the mask for code point c is set iff pattern(k) == c; the
    // flat table covers c < 256, the (cp, mask) list the rest (<= 64
    // distinct code points per one-word pattern)
    private val lowEq = new Array[Long](256)
    private val hiCp = new Array[Int](64)
    private val hiEq = new Array[Long](64)
    private var nHi = 0
    private var pat = Array.emptyIntArray
    private val scratch = new Scratch

    def pattern(p: Array[Int]): Unit = {
      if (pat.length <= 64) pat.foreach(c => if (c < 256) lowEq(c) = 0L)
      nHi = 0
      pat = p
      if (p.length <= 64) for (k <- p.indices) {
        val c = p(k)
        if (c < 256) lowEq(c) |= 1L << k
        else {
          val h = slot(c)
          if (h == nHi) { hiCp(h) = c; hiEq(h) = 0L; nHi += 1 }
          hiEq(h) |= 1L << k
        }
      }
    }

    /** Index of `c` in the small lookup, or `nHi` if it is absent. */
    private def slot(c: Int): Int = {
      var h = 0
      while (h < nHi && hiCp(h) != c) h += 1
      h
    }

    private def eq(c: Int): Long =
      if (c < 256) lowEq(c)
      else { val h = slot(c); if (h < nHi) hiEq(h) else 0L }

    def apply(t: Array[Int], maxDist: Int): Int = {
      val (m, n) = (pat.length, t.length)
      if (math.abs(m - n) > maxDist) return -1
      if (m > 64) return boundedLevInto(pat, t, maxDist, scratch)
      if (m == 0) return n // <= maxDist by the length check
      val top = 1L << (m - 1)
      // vertical deltas of the current DP column: +1 (vp) / -1 (vn)
      var vp = -1L
      var vn = 0L
      var score = m // D[m][0]
      var j = 0
      while (j < n) {
        val x = eq(t(j))
        val d0 = (((x & vp) + vp) ^ vp) | x | vn
        val hp = vn | ~(d0 | vp)
        val hn = vp & d0
        if ((hp & top) != 0L) score += 1
        else if ((hn & top) != 0L) score -= 1
        j += 1
        // each remaining text code point lowers the score by at most 1
        if (score - (n - j) > maxDist) return -1
        val hp1 = (hp << 1) | 1L // row 0 is D[0][j] = j: a +1 step
        vp = (hn << 1) | ~(d0 | hp1)
        vn = hp1 & d0
      }
      score
    }
  }

  /** One [[Verifier]] per executor thread, so a bucket's fold allocates
    * no mask tables.
    */
  private val verifiers = ThreadLocal.withInitial(() => new Verifier)

  /** Self-linkage: all unordered pairs of distinct `strCol` values within
    * Levenshtein distance `maxDist`. Output columns `(name_a, name_b,
    * dist)` with `name_a < name_b`.
    *
    * Executed as ONE groupBy on the variant hash with an in-bucket
    * pair fold — the blocked frame is computed once and never
    * self-joined. The fold sorts a bucket's members, turns each into
    * code points once, and verifies every pair inline with
    * [[Verifier]]: a member of at most 64 code points (every key under
    * the d>=2 default cap) is the pattern of Myers' bit-vector
    * recurrence, one 64-bit word step per code point of the other
    * member; a longer one (an explicit `maxLen`, or d=1's 256 default)
    * falls back to the O(maxDist·len) banded DP. Distances count code
    * points. Per-bucket state is the bucket's member list: bounded by the
    * near-dup clique size (the output itself) because both inputs are
    * distinct-first — the same contract the former self-join had for
    * its bucket-collision fan-out.
    */
  def selfPairs(df: DataFrame, strCol: String, maxDist: Int,
      maxLen: Int = -1): DataFrame = {
    val cap = resolveMaxLen(maxDist, maxLen)
    val d = maxDist
    // verified pairs leave the bucket fold as 16-BYTE HASH PAIRS, not
    // string pairs: a true pair shares one bucket per common deletion
    // variant — Θ(C(len, d)) buckets at d = 2 — so the fold re-emits
    // every verified pair hundreds of times, and shuffling the
    // duplicated STRING rows into the dedup exchange was the operator's
    // residual bottleneck (measured at sf0.1: 153 MB in-bucket shuffle
    // for a 47 MB distinct pair set; guide §2.3 "shuffle keys and
    // metadata instead of payloads"). Strings re-attach AFTER the
    // 16-byte distinct via two joins on xxhash64(s) against the thin
    // distinct-strings frame; a 64-bit collision can only ADD candidate
    // attachments, never lose one, and the trailing `levenshtein`
    // verify discards them — so the result stays exact.
    val pairsUdf = udf((hs: Seq[Long], ss: Seq[String]) => {
      val arr = hs.zip(ss).distinct.sortBy(_._2).toArray
      val cps = arr.map(p => codePointsOf(p._2))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val lev = verifiers.get()
      var i = 0
      while (i < arr.length - 1) {
        lev.pattern(cps(i))
        var j = i + 1
        while (j < arr.length) {
          if (lev(cps(j), d) >= 0) {
            val (ha, hb) = (arr(i)._1, arr(j)._1)
            out += (if (ha <= hb) (ha, hb) else (hb, ha))
          }
          j += 1
        }
        i += 1
      }
      out.toSeq
    })
    val candHashes = blocked(df, strCol, maxDist, cap)
      .withColumn("h", xxhash64(col("s")))
      // pinned-width bucket shuffle: the fold below does O(bucket²)
      // verifies per bucket — a stage whose work per input byte AQE's
      // bytes-only coalescing underestimates (measured: 16 of 32
      // slots). The repartition on `vh` replaces (not adds to) the
      // aggregate's own exchange, so the plan's shuffle count is
      // unchanged.
      .repartition(blockWidth(df.sparkSession), col("vh"))
      .groupBy(col("vh"))
      .agg(collect_list(struct(col("h"), col("s"))).as("ms"))
      // singleton buckets (the vast majority in a sane corpus) have no
      // pairs — drop them before the per-bucket fold even runs
      .filter(size(col("ms")) >= 2)
      // aligned field extraction (GetArrayStructFields preserves
      // element order), so the UDF zips hashes back to their strings
      .select(explode(pairsUdf(col("ms.h"), col("ms.s"))).as("p"))
      .select(col("p._1").as("ha"), col("p._2").as("hb"))
      .distinct()
    // thin distinct-strings frame for the re-attach (same distinct the
    // blocking pass starts from; recomputed rather than cached — the
    // 100 TB posture prefers a second pruned scan over persisting)
    val strs = df.select(col(strCol).cast("string").as("s"))
      .na.drop("any")
      .filter(length(col("s")) <= cap)
      .distinct()
      .withColumn("h", xxhash64(col("s")))
    candHashes
      .join(strs.select(col("h").as("ha"), col("s").as("__sa")), "ha")
      .join(strs.select(col("h").as("hb"), col("s").as("__sb")), "hb")
      .select(least(col("__sa"), col("__sb")).as("name_a"),
        greatest(col("__sa"), col("__sb")).as("name_b"))
      // an xxhash64 collision re-attaches one hash to two strings, which
      // can pair a string with itself (dist 0 passes any maxDist)
      .filter(col("name_a") =!= col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Two-source linkage: distinct `(leftCol, rightCol)` value pairs within
    * `maxDist`. Equal values link at dist 0 — the caller excludes them if
    * only *approximate* matches are wanted.
    */
  def fuzzyJoin(left: DataFrame, leftCol: String, right: DataFrame,
      rightCol: String, maxDist: Int, maxLen: Int = -1): DataFrame = {
    val cap = resolveMaxLen(maxDist, maxLen)
    val lv = blocked(left, leftCol, maxDist, cap)
    val rv = blocked(right, rightCol, maxDist, cap)
    lv.as("a").join(rv.as("b"), col("a.vh") === col("b.vh"))
      .select(col("a.s").as("left_value"), col("b.s").as("right_value"))
      .distinct()
      .withColumn("dist", levenshtein(col("left_value"), col("right_value")))
      .filter(col("dist") <= maxDist)
  }

  /** The blocked form of a reference table — distinct `refCol` values
    * with their exploded neighborhood hashes `(s, vh)`. Build (and
    * cache) ONCE, probe many times: the serving entry points take it
    * directly so a long-lived stream pays the reference pass at start,
    * not per trigger.
    */
  def blockReference(reference: DataFrame, refCol: String, maxDist: Int,
      maxLen: Int = -1): DataFrame =
    blocked(reference, refCol, maxDist, resolveMaxLen(maxDist, maxLen))

  /** Id-keyed serving form: every (query row, reference value) match
    * within `maxDist`, KEEPING the query's id column — the shape a
    * lookup service returns, where [[fuzzyJoin]]'s distinct value pairs
    * are the shape a dedup/linkage study wants. Null and over-`maxLen`
    * query values simply match nothing (dropped by the same `maxLen`
    * contract as blocking). One shuffle on variant hash; the per-query
    * candidate set is bounded by its neighborhood's bucket sizes.
    */
  def linkQueries(queries: DataFrame, qIdCol: String, qCol: String,
      reference: DataFrame, refCol: String, maxDist: Int,
      maxLen: Int = -1): DataFrame =
    linkQueriesAgainst(queries, qIdCol, qCol,
      blockReference(reference, refCol, maxDist, maxLen), maxDist, maxLen)

  /** [[linkQueries]] against a pre-blocked (`s`, `vh`) reference from
    * [[blockReference]] — the streaming serve path, where the reference
    * is blocked once and probed every micro-batch. `maxDist`/`maxLen`
    * must match the values the reference was blocked with (a larger
    * probe distance would silently under-match: completeness needs BOTH
    * sides' neighborhoods at depth d).
    */
  def linkQueriesAgainst(queries: DataFrame, qIdCol: String, qCol: String,
      blockedRef: DataFrame, maxDist: Int, maxLen: Int = -1): DataFrame = {
    val cap = resolveMaxLen(maxDist, maxLen)
    val d = maxDist
    val variantsUdf = udf((s: String) => deletionVariants(s, d))
    val qv = queries
      .select(col(qIdCol), col(qCol).cast("string").as("__q"))
      .filter(col("__q").isNotNull && length(col("__q")) <= cap)
      .select(col(qIdCol), col("__q"),
        explode(variantsUdf(col("__q"))).as("__v"))
      .select(col(qIdCol), col("__q"), xxhash64(col("__v")).as("vh"))
    qv.join(blockedRef, "vh")
      .select(col(qIdCol), col("__q").as("query_value"),
        col("s").as("ref_value"))
      .distinct()
      .withColumn("dist", levenshtein(col("query_value"), col("ref_value")))
      .filter(col("dist") <= maxDist)
  }
}
