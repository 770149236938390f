package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Re-identification-risk audits for anonymized output (SURVEY §2 north-star:
  * the reference masks rows — `Anonymizer.php` rewrites values — but never
  * measures whether the result is safe to release; these operators close that
  * loop on the published definitions).
  *
  * - k-anonymity (Sweeney 2002): every quasi-identifier (QI) combination must
  *   be shared by at least `k` rows, else those rows are linkable.
  * - l-diversity (Machanavajjhala et al. 2007): each QI group must contain at
  *   least `l` distinct sensitive values, else group membership alone leaks
  *   the sensitive attribute even at high k.
  *
  * Scale shape: both are ONE hash aggregation on the QI columns — map-side
  * partial counts, a single shuffle keyed by the QI tuple, no joins, no
  * windows. At 100 TB the reducer state is bounded by the number of DISTINCT
  * QI combinations (by construction small — that is what "quasi-identifier"
  * means; a high-cardinality QI set is itself the privacy failure the audit
  * reports as group_size 1). `countDistinct` on the sensitive column is
  * Spark's two-phase distinct aggregate (partials per (QI, sensitive), then
  * per-QI merge) — no all-values-to-one-reducer stage.
  */
object Privacy {

  /** Per-QI-group audit: group size, sensitive-value diversity, and the two
    * risk flags. One row per distinct QI combination.
    */
  def audit(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
      k: Int, l: Int): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1 && l >= 1, s"k and l must be >= 1 (got k=$k, l=$l)")
    df.groupBy(qiCols.map(col): _*)
      .agg(
        count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("distinct_sensitive"))
      .withColumn("k_at_risk", col("group_size") < k)
      .withColumn("l_at_risk", col("distinct_sensitive") < l)
  }

  /** One-row release gate: the k actually achieved (min group size), the l
    * actually achieved (min per-group diversity), and how many rows sit in
    * at-risk groups under the requested thresholds. The thresholds-in,
    * achieved-out shape is what a pipeline asserts on before publishing a
    * masked table.
    */
  def card(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
      k: Int, l: Int): DataFrame =
    audit(df, qiCols, sensitiveCol, k, l).agg(
      sum(col("group_size")).as("n_rows"),
      count(lit(1)).as("n_groups"),
      min(col("group_size")).as("k_achieved"),
      min(col("distinct_sensitive")).as("l_achieved"),
      sum(when(col("k_at_risk"), col("group_size")).otherwise(lit(0L)))
        .as("rows_k_at_risk"),
      sum(when(col("l_at_risk"), col("group_size")).otherwise(lit(0L)))
        .as("rows_l_at_risk"))

  /** k-anonymity ENFORCEMENT by suppression: keep only rows whose QI
    * group has at least `k` members (the other remedy is
    * [[generalizeNumeric]]; audit → generalize/suppress → re-audit is
    * the standard release loop). Scale shape: the group-size table is
    * ONE hash aggregation (bounded by distinct QI combinations, like
    * [[audit]]) and flows back as a BROADCAST semi-join — the data
    * itself is never re-shuffled.
    */
  def suppress(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1, s"k must be >= 1 (got $k)")
    val ok = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("__gs"))
      .filter(col("__gs") >= k)
      .drop("__gs")
    df.join(broadcast(ok), qiCols, "left_semi")
  }

  /** l-diversity ENFORCEMENT by suppression (Machanavajjhala et al.,
    * ICDE 2007): only rows whose QI group carries at least `l` DISTINCT
    * sensitive values survive — the missing half of the
    * audit→enforce→re-audit loop ([[suppress]]/[[generalizeNumeric]]
    * enforce k; this enforces l, the property k alone cannot give: a
    * 50-row group whose members all share one diagnosis is k-anonymous
    * and still leaks it). Same scale shape as [[suppress]]: one hash
    * aggregation to the bounded QI group table (`countDistinct` is
    * Spark's two-phase distinct aggregate — no all-values-to-one-
    * reducer stage) flowing back as a broadcast semi-join, so the
    * release itself is never re-shuffled.
    *
    * Like [[suppress]] and [[geometricNoisyCounts]], batch-only BY
    * DESIGN: the keep/drop verdict depends on the GLOBAL QI group —
    * a row that arrives early can only be judged against groups not
    * yet seen, so a streaming twin would emit rows it must later
    * retract. Enforce on landed data.
    */
  def suppressLowDiversity(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 1, s"l must be >= 1 (got $l)")
    val ok = df.groupBy(qiCols.map(col): _*)
      .agg(countDistinct(col(sensitiveCol)).as("__ld"))
      .filter(col("__ld") >= l)
      .drop("__ld")
    df.join(broadcast(ok), qiCols, "left_semi")
  }

  /** k-anonymity ENFORCEMENT by generalization: replace a numeric QI
    * with its equal-width range label `"[lo,hi)"` — coarser values mean
    * bigger groups, trading precision for k. Purely narrow (no
    * shuffle); the released value is the interval itself, which is what
    * generalization publishes. Double-exact in any engine: one
    * division, one floor, integer endpoints.
    */
  def generalizeNumeric(df: DataFrame, colName: String, width: Long,
      as: String): DataFrame = {
    require(width >= 1, s"width must be >= 1 (got $width)")
    val lo = (floor(col(colName) / width) * width).cast("long")
    df.withColumn(as,
      concat(lit("["), lo, lit(","), (lo + width), lit(")")))
  }

  /** Mondrian multidimensional k-anonymization (LeFevre, DeWitt &
    * Ramakrishnan, ICDE 2006; strict partitioning): greedily split the
    * table on the numeric QI dimension with the widest normalized
    * range, at the dimension's within-partition median, as long as BOTH
    * sides keep at least `k` rows; rows of a finished leaf are released
    * with their leaf's bounding box `[<dim>_lo, <dim>_hi]` as the
    * generalized QI. Unlike [[generalizeNumeric]]'s fixed widths, the
    * boxes ADAPT to density — tight where the data is dense, wide only
    * where it must be — which is what makes Mondrian the reference
    * algorithm for k-anonymous microdata release.
    *
    * Deterministic by construction: exact interpolated medians
    * (`percentile(dim, 0.5)`), dimensions ordered by normalized width
    * with ties broken by declaration order, and the split test
    * (left = value <= median) is a pure comparison — reruns, retries
    * and repartitions reproduce the identical partition tree. The
    * recursion is data-dependent but DETERMINISTIC, so the gate row's
    * oracle replays it verbatim as a DuckDB recursive CTE (hash-exact),
    * and the invariants — every leaf >= k, no leaf splittable further,
    * rows inside their boxes, determinism — are additionally
    * spec-pinned.
    *
    * Scale shape: per round ONE stats aggregation over the leaf id
    * (count / min / max / median per dimension — reducer state bounded
    * by the leaf count) + ONE counts-below-median aggregation over the
    * split candidates + a broadcast split-table application; each
    * round is materialised ([[Materialize]]: plan cut, lineage kept —
    * see [[Dedup.connectedComponents]]). Rounds are bounded
    * by `maxRounds` (tree depth; leaf ids use one bit per level).
    * `exactMedians = true` buffers each leaf's dimension values in
    * aggregation state (the [[Percentiles]] exact-path caveat — fine to
    * a few hundred million rows per leaf, and leaves halve every
    * round); at 100 TB start with `exactMedians = false` (GK sketch,
    * deterministic splits no longer guaranteed across cluster layouts)
    * or pre-shard.
    */
  def mondrian(df: DataFrame, dims: Seq[String], k: Int,
      exactMedians: Boolean = true, maxRounds: Int = 40): DataFrame =
    mondrianAudited(df, dims, k, exactMedians, maxRounds)._1

  /** One split decision of [[mondrian]], with the EXACT rank evidence
    * of its cut inside the partition it split: `n` rows, `lt` strictly
    * below the cut, `le` at-or-below (the split send `value <= cut`
    * left, so `le` is also the left-child size). For the GK path
    * (`exactMedians = false`) these are what the sketch's rank
    * contract (|rank − n/2| ≤ n/accuracy) is audited against — the
    * counts ride the SAME per-round aggregation the split test already
    * pays, so the audit adds no distributed work beyond one extra sum
    * per dimension.
    */
  final case class MondrianSplit(round: Int, pid: Long, dim: Int,
      cut: Double, n: Long, lt: Long, le: Long)

  /** GK sketch accuracy of [[mondrian]]'s `exactMedians = false` path:
    * the returned split value's rank is within n/accuracy of n/2
    * (Greenwald–Khanna via `percentile_approx`) — the contract the
    * `q_mondrian_gk` gate audits every split against.
    */
  private[graft] val MondrianGkAccuracy: Int = 10000

  /** [[mondrian]] plus its split trace — package-private so the
    * `q_mondrian_gk` gate can audit every GK-path split's rank
    * interval against the sketch accuracy contract without changing
    * the public release shape.
    */
  private[graft] def mondrianAudited(df: DataFrame, dims: Seq[String],
      k: Int, exactMedians: Boolean = true, maxRounds: Int = 40)
      : (DataFrame, Seq[MondrianSplit]) = {
    require(dims.nonEmpty, "need at least one QI dimension")
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(maxRounds >= 1 && maxRounds <= 60,
      s"maxRounds must be in [1, 60] (got $maxRounds)")
    val spark = df.sparkSession
    var work = Materialize(df.na.drop("any", dims)
      .withColumn("__pid", lit(0L)))

    // global widths normalize the split-dimension choice (round 0 box)
    val gAggs = dims.flatMap(d => Seq(min(col(d)).cast("double"),
      max(col(d)).cast("double")))
    val g = work.agg(gAggs.head, gAggs.tail: _*).head()
    require(!g.anyNull, "mondrian: empty input (or all-null dimensions)")
    val gw = dims.indices
      .map(i => math.max(g.getDouble(2 * i + 1) - g.getDouble(2 * i),
        java.lang.Double.MIN_NORMAL))

    val statAggs = count(lit(1)).as("__n") +: dims.zipWithIndex.flatMap {
      case (d, i) =>
        val med =
          if (exactMedians) percentile_approx(col(d), lit(0.5),
            lit(Int.MaxValue)) // exact: accuracy >= n buffers all values
          else percentile_approx(col(d), lit(0.5), lit(MondrianGkAccuracy))
        Seq(min(col(d)).cast("double").as(s"__mn$i"),
          max(col(d)).cast("double").as(s"__mx$i"),
          med.cast("double").as(s"__md$i"))
    }
    var finals = Set.empty[Long] // leaves proven unsplittable
    val audit = Seq.newBuilder[MondrianSplit]
    var round = 0
    var splitting = true
    while (splitting && round < maxRounds) {
      val stats = work.groupBy(col("__pid")).agg(statAggs.head,
          statAggs.tail: _*)
        .collect()
        .map(r => r.getLong(0) -> r).toMap
      // candidates: big enough AND not already proven unsplittable
      val cand = stats.keys.toSeq.sorted
        .filterNot(finals)
        .filter(p => stats(p).getAs[Long]("__n") >= 2L * k)
      stats.keys.filterNot(cand.contains).foreach(p => finals += p)
      if (cand.isEmpty) splitting = false
      else {
        // counts at or below each dimension's median, per candidate
        import spark.implicits._
        val medTable = cand.map { p =>
          val r = stats(p)
          (p, dims.indices.map(i => r.getAs[Double](s"__md$i")))
        }.toDF("__pid", "__meds")
        val lhsAggs = dims.zipWithIndex.flatMap { case (d, i) =>
          Seq(
            sum(when(col(d) <= element_at(col("__meds"), i + 1), 1L)
              .otherwise(0L)).as(s"__lc$i"),
            sum(when(col(d) < element_at(col("__meds"), i + 1), 1L)
              .otherwise(0L)).as(s"__ls$i"))
        }
        val lhs = work.join(broadcast(medTable), Seq("__pid"))
          .groupBy(col("__pid"))
          .agg(lhsAggs.head, lhsAggs.tail: _*)
          .collect().map(r => r.getLong(0) -> r).toMap
        val splits = cand.flatMap { p =>
          val st = stats(p); val lc = lhs(p)
          val n = st.getAs[Long]("__n")
          val byWidth = dims.indices
            .map(i => (i, (st.getAs[Double](s"__mx$i") -
              st.getAs[Double](s"__mn$i")) / gw(i)))
            .sortBy { case (i, w) => (-w, i) } // widest first, stable tie
          byWidth.collectFirst {
            case (i, w) if w > 0 &&
                lhs(p).getAs[Long](s"__lc$i") >= k &&
                n - lhs(p).getAs[Long](s"__lc$i") >= k =>
              (p, i, st.getAs[Double](s"__md$i"))
          } match {
            case Some(s @ (_, i, cut)) =>
              audit += MondrianSplit(round, p, i, cut, n,
                lc.getAs[Long](s"__ls$i"), lc.getAs[Long](s"__lc$i"))
              Seq(s)
            case None => finals += p; Nil
          }
        }
        if (splits.isEmpty) splitting = false
        else {
          val splitDf = splits.toDF("__pid", "__dim", "__cut")
          val side = dims.zipWithIndex.tail.foldLeft(
            when(col("__dim") === 0, col(dims.head) > col("__cut"))) {
            case (acc, (d, i)) =>
              acc.when(col("__dim") === i, col(d) > col("__cut"))
          }
          work = Materialize(
            work.join(broadcast(splitDf), Seq("__pid"), "left")
              .withColumn("__pid", when(col("__dim").isNull, col("__pid"))
                .otherwise(col("__pid") * 2 + side.cast("long") + 1))
              .drop("__dim", "__cut"))
        }
      }
      round += 1
    }
    // release: each leaf's tight bounding box as the generalized QI
    val boxAggs = dims.flatMap(d => Seq(
      min(col(d)).cast("double").as(s"${d}_lo"),
      max(col(d)).cast("double").as(s"${d}_hi")))
    val boxes = work.groupBy(col("__pid"))
      .agg(boxAggs.head, boxAggs.tail: _*)
    (work.join(broadcast(boxes), Seq("__pid"))
      .withColumnRenamed("__pid", "pid"), audit.result())
  }

  /** Release-utility metrics for a QI grouping — the standard measures
    * of what generalization COSTS (privacy metrics say whether a
    * release is safe; these say whether it is still useful):
    *
    * - `dm` — discernibility metric (Bayardo & Agrawal, ICDE 2005):
    *   Σ |g|² over QI groups — each row pays the size of the group it
    *   is indistinguishable within. Exact integer.
    * - `c_avg` — normalized average equivalence-class size
    *   (LeFevre et al., ICDE 2006): (n / n_groups) / k — 1.0 is the
    *   ideal "every group exactly k"; higher means over-generalized.
    *   Two double divisions, same op order in any engine.
    *
    * One hash aggregation (the same bounded group table as [[audit]])
    * plus a one-row rollup. Longs hold Σ|g|² for n ≤ 3e9 — beyond, the
    * release audit shards first (the [[tCloseness]] posture).
    */
  def utility(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1, s"k must be >= 1 (got $k)")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("gs"))
      .agg(
        sum(col("gs")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("gs")).as("k_achieved"),
        sum(col("gs") * col("gs")).as("dm"))
      .withColumn("c_avg",
        col("n_rows").cast("double") / col("n_groups") / lit(k.toDouble))
  }

  /** Randomized response (Warner 1965; the RAPPOR building block —
    * Erlingsson et al., CCS 2014): release each row's categorical value
    * TRUTHFULLY with probability p, otherwise replace it with a uniform
    * draw from the value domain — per-row plausible deniability with a
    * provable ε = ln(1 + |D|·p/(1−p)) local-DP bound, where masking
    * ([[graft.blueprint.MaskCompiler]]) gives none. The released column
    * still supports exact population estimates via [[rrEstimate]].
    *
    * Determinism contract (what makes it oracle-able): the "coin" is
    * the 48-bit md5 hash fraction of (seed, key)
    * ([[Sampling.hashBucket48]]) compared against the PRECOMPUTED
    * integer threshold floor(pNum·2^48/pDen) — integer compare, no
    * float anywhere — and the replacement draw is an independent
    * (seed, "v", key) hash MOD the domain size, indexing the SORTED
    * distinct domain. Any engine replays the release bit-for-bit;
    * retries and repartitions cannot flip a coin.
    *
    * Scale shape: the domain is one distinct aggregate (bounded by the
    * categorical domain — that is what randomized response is FOR; a
    * near-unique column is not a categorical signal), indexed by a
    * |D|-row window and broadcast back; the release itself is a narrow
    * projection plus that broadcast join. The true keep probability is
    * T/2^48 with T = floor(pNum·2^48/pDen) — off from pNum/pDen by
    * < 2^-48, and [[rrEstimate]] uses T/2^48 itself so the estimator
    * stays unbiased for the mechanism actually run.
    */
  def randomizedResponse(df: DataFrame, colName: String, keyCol: String,
      pNum: Long, pDen: Long, seed: String): DataFrame =
    randomizedResponseWithDomain(df, colName, keyCol, pNum, pDen, seed,
      df.select(col(colName)))

  /** [[randomizedResponse]] against an EXPLICIT domain frame (first
    * column of `domainValues`; duplicates and nulls dropped) — the
    * form a STREAM needs: a micro-batch cannot take the corpus-wide
    * distinct, and a per-trigger domain would decohere the mechanism
    * across batches (the same row could draw different replacements
    * depending on which batch it landed in). With a fixed domain the
    * release is a pure per-row function, so stream == batch
    * bit-for-bit ([[graft.streaming.StreamMask.rrReleaseStream]]).
    * Rows whose value lies OUTSIDE the given domain still release by
    * the same rule (kept truthfully or replaced by a domain draw) —
    * the domain only governs replacement draws.
    */
  def randomizedResponseWithDomain(df: DataFrame, colName: String,
      keyCol: String, pNum: Long, pDen: Long, seed: String,
      domainValues: DataFrame): DataFrame = {
    val t = rrThreshold(pNum, pDen)
    val domain = domainValues
      .select(col(domainValues.columns.head).cast("string").as("__dval"))
      .na.drop("any").distinct()
      .withColumn("__idx",
        row_number().over(Window.orderBy(col("__dval"))) - 1)
    // NULL keys coalesce to the U+0001 sentinel: concat_ws would skip
    // them (seed-only coin), which a SQL oracle's NULL-propagating `||`
    // cannot replay — mirror with COALESCE(CAST(key AS VARCHAR), chr(1))
    val key = coalesce(col(keyCol).cast("string"), lit("\u0001"))
    val keep = Sampling.hashBucket48(
      concat_ws("#", lit(seed), key)) < t
    val draw = Sampling.hashBucket48(
      concat_ws("#", lit(seed), lit("v"), key))
    df.crossJoin(broadcast(domain.agg(count(lit(1)).as("__dn"))))
      .withColumn("__idx", pmod(draw, col("__dn")))
      .join(broadcast(domain), Seq("__idx"), "left")
      .withColumn(colName,
        when(keep, col(colName).cast("string")).otherwise(col("__dval")))
      .drop("__idx", "__dn", "__dval")
  }

  /** Inverse-CDF thresholds of the TRUNCATED two-sided geometric
    * distribution (the discrete Laplace) over z ∈ [−bound, bound] with
    * decay α = aNum/aDen, as exact integers: `t(i) = floor(2^48 ·
    * CDF(i − bound))`, computed entirely in BigInt rationals (weights
    * at the common denominator aDen^bound are integers — no float, no
    * exp/ln), so ANY engine re-derives the identical thresholds and
    * the mechanism replays bit-for-bit. `t.last = 2^48` exactly.
    */
  def geometricThresholds(aNum: Long, aDen: Long,
      bound: Int): Array[Long] = {
    require(aNum >= 1 && aDen > aNum,
      s"alpha must be a rational in (0, 1): got $aNum/$aDen")
    require(bound >= 1 && bound <= 128,
      s"bound must be in [1, 128] (got $bound)")
    val num = BigInt(aNum)
    val den = BigInt(aDen)
    val w = (-bound to bound).map(z =>
      num.pow(math.abs(z)) * den.pow(bound - math.abs(z)))
    val s = w.sum
    w.scanLeft(BigInt(0))(_ + _).tail
      .map(c => ((c << 48) / s).toLong).toArray
  }

  /** Differentially private group counts — the CENTRAL-DP complement
    * of [[randomizedResponse]]'s local DP: each group's true count is
    * released plus one draw of truncated two-sided geometric noise
    * (the geometric mechanism — Ghosh, Roughgarden & Sundararajan,
    * STOC 2009: the discrete analog of Laplace, UNIVERSALLY optimal
    * for counting queries), giving ε-DP with ε = ln(aDen/aNum) at
    * sensitivity 1 (up to the standard ±bound truncation, mass
    * ≤ α^bound — pick bound ≫ 1/ε). Negative releases clamp to 0
    * (post-processing, DP-safe).
    *
    * Exact-replay contract: the noise draw is the same 48-bit
    * md5 coin as [[randomizedResponse]] — keyed by `seed | group key values` inverted through
    * [[geometricThresholds]]' exact integer CDF — deterministic,
    * retry-safe, and a SQL oracle replays every release (the
    * quantization deficit per outcome is < 2^−48, the rr contract).
    * The thresholds ride the closure as a (2·bound+1)-long array —
    * never an inline-literal expression tree (the JIT-cliff shape).
    * NULL group values coalesce to the U+0001 sentinel before the
    * coin (concat_ws would silently SKIP them, giving a NULL-keyed
    * group the seed-only coin while a SQL oracle's `||` yields NULL) —
    * the oracle mirrors with `COALESCE(CAST(c AS VARCHAR), chr(1))`.
    *
    * Scale shape: ONE hash aggregation to the bounded group table
    * (map-side partials), then a narrow per-group coin + threshold
    * scan. Nothing corpus-sized past the aggregate.
    *
    * BATCH-ONLY BY DESIGN (no streaming twin, deliberately): the
    * release is a function of the GLOBAL group counts — a per-trigger
    * release would either publish a fresh noisy count for the same
    * group every micro-batch (spending ε per trigger against the same
    * statistic) or require the entire count history in state. Land the
    * stream first, release from the landed table. The LOCAL-DP
    * complement is per-row stateless and does stream:
    * [[graft.streaming.StreamMask.rrReleaseStream]].
    */
  def geometricNoisyCounts(df: DataFrame, groupCols: Seq[String],
      aNum: Long, aDen: Long, seed: String,
      bound: Int = 40): DataFrame = {
    require(groupCols.nonEmpty, "need at least one grouping column")
    val t = geometricThresholds(aNum, aDen, bound)
    val b = bound
    val noise = udf((u: Long) => {
      var i = 0
      while (t(i) <= u) i += 1 // t.last = 2^48 > any 48-bit coin
      i - b
    })
    val u = Sampling.hashBucket48(concat_ws("|",
      (lit(seed) +: groupCols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0001")))): _*))
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("n_noisy",
        greatest(col("__n") + noise(u).cast("long"), lit(0L)))
      .drop("__n")
  }

  /** floor(pNum·2^48/pDen): the exact integer keep threshold the
    * mechanism and the estimator share.
    */
  def rrThreshold(pNum: Long, pDen: Long): Long = {
    require(pNum >= 0 && pDen > 0 && pNum <= pDen,
      s"keep probability must be in [0, 1] (got $pNum/$pDen)")
    (BigInt(pNum) * (BigInt(1) << 48) / BigInt(pDen)).toLong
  }

  /** Unbiased frequency recovery from a [[randomizedResponse]] release:
    * with keep probability p and uniform replacement over |D| values,
    * E[obs_v] = n_v·p + n·(1−p)/|D|, so n̂_v = (obs_v − n·(1−p)/|D|)/p.
    * p is the mechanism's TRUE probability T/2^48 (exact in double —
    * T < 2^48 < 2^53), q = 1−p one subtraction, and the estimate is the
    * same three-op sequence in any engine — bit-exact cross-engine.
    * One hash aggregation on the released value; the (n, |D|) scalars
    * ride a broadcast one-row frame.
    *
    * `domainSize`: the |D| of the mechanism actually run — the INPUT
    * column's domain, which the caller of [[randomizedResponse]] has
    * and this function cannot see. When omitted it falls back to the
    * released column's distinct count, which equals |D| only when
    * every domain value appears in the release (large n, mild skew) —
    * an APPROXIMATION that biases every estimate when a rare value is
    * never kept or drawn. Pass the real size for the unbiased form.
    */
  def rrEstimate(released: DataFrame, colName: String,
      pNum: Long, pDen: Long, domainSize: Option[Long] = None)
      : DataFrame = {
    val p = rrThreshold(pNum, pDen).toDouble / 281474976710656.0 // 2^48
    domainSize.foreach(d => require(d >= 1,
      s"rrEstimate: domainSize must be >= 1 (got $d)"))
    val obs = released.groupBy(col(colName))
      .agg(count(lit(1)).as("n_obs"))
    val totals = released.agg(count(lit(1)).as("__n"),
      domainSize.map(d => lit(d).cast("long"))
        .getOrElse(countDistinct(col(colName))).as("__d"))
    obs.crossJoin(broadcast(totals))
      .withColumn("n_est",
        (col("n_obs").cast("double") -
          col("__n") * lit(1.0 - p) / col("__d")) / lit(p))
      .drop("__n", "__d")
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007): a QI
    * group leaks even when l-diverse if its sensitive-value
    * DISTRIBUTION diverges from the table's. For an ORDERED sensitive
    * attribute the distance is the Earth Mover's Distance between the
    * group and global distributions = mean absolute difference of
    * their CDFs over the ordered bins.
    *
    * Exactness contract: the EMD is computed in INTEGER counts —
    * per-bin term `|cumc_g·N − cumC·n_g|` summed over bins, normalized
    * by `N·n_g·(m−1)` only at the very end (one double division) — so
    * DuckDB replays every comparison bit-for-bit; the risk flag itself
    * is a pure integer compare against the rational threshold
    * `tNum/tDen`. Caller bins a continuous sensitive column first
    * ([[generalizeNumeric]] or any deterministic bucketing): m must be
    * small for the statistic to mean anything.
    *
    * Scale shape: ONE hash aggregation to the (QI, bin) count table
    * (map-side partials; bounded by |QI combos|·m); everything after —
    * the dense group×bin grid, the per-group CDF window, the global
    * CDF — runs on that bounded table, with the m-row global side
    * broadcast. Guarded so N²·(m−1) stays inside Long (the worst-case
    * emd_num) — a loud raise_error, never a silent wraparound; coarsen
    * the bins or audit per partition past it.
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String], binCol: String,
      tNum: Long, tDen: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(tNum >= 0 && tDen > 0, s"threshold must be >= 0 ($tNum/$tDen)")
    val counts = df.groupBy((qiCols :+ binCol).map(col): _*)
      .agg(count(lit(1)).as("c"))
    // global per-bin CDF: m rows, single-partition window is fine here
    val globalCum = counts.groupBy(col(binCol))
      .agg(sum(col("c")).as("gc"))
      .withColumn("cum_gc", sum(col("gc")).over(
        Window.orderBy(col(binCol))))
      .select(col(binCol), col("cum_gc"))
    val groups = counts.groupBy(qiCols.map(col): _*)
      .agg(sum(col("c")).as("n_g"))
    // one-row (N, m) scalar frame, broadcast onto the bounded grid; the
    // raise_error guard keeps the integer cross products inside Long —
    // a silent wraparound would fabricate risk verdicts
    val totals = globalCum.agg(
      max(col("cum_gc")).as("N"), count(lit(1)).as("m"))
      .withColumn("N", when(col("N").cast("double") >
          sqrt(lit(9.2e18) / greatest(col("m") - 1, lit(1))),
        raise_error(lit("tCloseness: N^2*(m-1) would overflow the " +
          "exact integer EMD — coarsen the bins or audit per " +
          "partition")).cast("long"))
        .otherwise(col("N")))
    // dense grid (groups × bins) so absent bins contribute c = 0
    val dense = groups
      .crossJoin(broadcast(globalCum))
      .join(counts, qiCols :+ binCol, "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(totals))
    val g = Window.partitionBy(qiCols.map(col): _*)
      .orderBy(col(binCol))
    val stats = dense
      .withColumn("cum_c", sum(col("c")).over(g))
      .withColumn("term",
        abs(col("cum_c") * col("N") - col("cum_gc") * col("n_g")))
      .groupBy((qiCols.map(col) :+ col("n_g") :+ col("N") :+
        col("m")): _*)
      .agg(sum(col("term")).as("emd_num"))
    stats
      .withColumn("__den", col("N") * col("n_g") *
        when(col("m") > 1, col("m") - 1).otherwise(lit(1L)))
      .select(
        (qiCols.map(col) :+
          col("n_g").as("group_size") :+
          col("emd_num") :+
          (col("emd_num") / col("__den")).as("t_closeness") :+
          (col("emd_num") * tDen > col("__den") * tNum)
            .as("t_at_risk")): _*)
  }
}
