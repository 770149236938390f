package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixes.
  *
  * `df.sample()` draws from a per-partition RNG: the kept set changes with
  * partitioning, task retries, and engine version — unacceptable when a
  * data mix must be reproducible and auditable. Hash-based sampling keys
  * the keep decision on the ROW (a 16-bit bucket of the stable key's md5),
  * so the same row makes the same decision on any engine, any partition
  * layout, any retry — and a row kept at rate r is also kept at every
  * rate ≥ r (nested samples for scaling-law runs come free).
  *
  * Everything is a pure Column filter over the scan: narrow, codegen'd,
  * zero shuffle; the stratified variant adds one broadcast join against a
  * rates table of |strata| rows.
  */
object Sampling {

  /** 16-bit deterministic bucket of a key: the first four hex nibbles of
    * md5 of the key's string form — portable to any engine with md5.
    * Production swap: `pmod(xxhash64(key), 65536)` (cheaper, not
    * oracle-portable).
    */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("int")

  private def threshold(rate: Double): Int = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    math.round(rate * 65536).toInt
  }

  /** Deterministic Bernoulli sample: keep iff bucket(key) < rate·65536. */
  def hashSample(df: DataFrame, key: Column, rate: Double): DataFrame =
    df.filter(hashBucket(key) < lit(threshold(rate)))

  /** 48-bit deterministic hash fraction numerator: the first twelve md5
    * nibbles of the stringified key, as a long in `[0, 2^48)`. 48 bits
    * keep the long→double cast exact (doubles hold 53), so both engines
    * compare the identical values.
    */
  def hashBucket48(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 12), 16, 10).cast("long")

  private val Two48 = 281474976710656.0 // 2^48

  /** Deterministic, exhaustive, mutually-exclusive SPLIT assignment —
    * the train/validation/test cut of a corpus as a pure function of
    * the key: the 48-bit hash fraction falls into consecutive
    * half-open ranges sized by the requested fractions, so every row
    * lands in exactly one split, retries/repartitions/any engine
    * reproduce the assignment, and because ranges are CONSECUTIVE the
    * splits nest the way [[hashSample]]'s rates do — growing one
    * split's fraction only moves rows across the adjacent boundary,
    * never re-deals the whole corpus (a new validation cut leaves the
    * train/test frontier untouched). Thresholds are precomputed LONG
    * cut points (`floor(cum · 2^48)`), so the per-row work is integer
    * compares against literals — codegen-trivial, and bit-exactly
    * replayable (the `q_split` oracle). Fractions must be positive and
    * sum to 1 (±1e-9); the LAST split absorbs the rounding tail so the
    * assignment is total regardless.
    *
    * A null key raises rather than assigning: the null hash would make
    * every range compare null and the otherwise-chain would silently
    * concentrate ALL null-key rows in the last split (typically the
    * held-out test set — the worst place for junk rows to pool). A
    * corpus id good enough to split on must be non-null; mirroring
    * [[weightedHashSample]]'s null-weight guard, the job fails at the
    * first such row instead.
    *
    * Appends `split` (the assigned name) to the input columns.
    */
  def splitAssign(df: DataFrame, key: Column,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "splits must be non-empty")
    require(splits.map(_._1).distinct == splits.map(_._1),
      "split names must be distinct")
    splits.foreach { case (n, f) =>
      require(f > 0.0, s"split '$n' fraction must be > 0, got $f") }
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"split fractions must sum to 1, got $total")
    require(!df.columns.contains("split"),
      "input already has a split column — rename it before assigning")
    val cuts = splitCuts(splits)
    val b = hashBucket48(key)
    val assigned = splits.init.zip(cuts)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), cut), els) => when(b < cut, name).otherwise(els)
      }
    // the null guard wraps the WHOLE assignment (not the bucket) so it
    // stays live even with a single split, where the fold never
    // references the bucket and a bucket-level guard would be dead code
    df.withColumn("split", when(key.isNull,
        raise_error(lit("splitAssign: null split key — a null hash " +
          "would pool every such row in the last split")))
      .otherwise(assigned))
  }

  /** The LONG cut points [[splitAssign]] compares against (one per
    * split boundary, cumulative-fraction · 2^48 floored) — exposed so
    * an external oracle replays the exact integer thresholds instead of
    * re-deriving the floating cumulative sum and risking last-ulp
    * drift.
    */
  def splitCuts(splits: Seq[(String, Double)]): Seq[Long] =
    splits.init.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(c => (c * Two48).toLong)

  /** Weighted deterministic Poisson sample: keep each row with
    * probability `min(1, c · weight)` — inclusion mass proportional to
    * the weight column (sample-by-token-budget, quality-tilted mixes…),
    * the Horvitz–Thompson shape. Same guarantees as [[hashSample]]:
    * pure narrow filter, no RNG state, stable under retries and
    * repartitioning, and monotone in `c` (raising the budget only ADDS
    * rows — nested mixes come free). The comparison is arranged as
    * `bucket < (weight · c) · 2^48`, multiplications only — every step
    * is IEEE-exact and deterministic, so any engine reproduces the kept
    * set bit-for-bit (no `pow`/`ln` in sight; contrast
    * [[weightedReservoir]]).
    */
  def weightedHashSample(df: DataFrame, key: Column, weight: Column,
      c: Double): DataFrame = {
    require(c >= 0.0, s"c must be >= 0, got $c")
    // null/negative weights raise (mirroring weightedReservoir's guard)
    // rather than silently failing the filter — an upstream null (a
    // failed token count, say) must fail the job, not shrink the mix.
    // Zero stays legal: min(1, c·0) = 0 is an honest "drop this row".
    val w = weight.cast("double")
    val guarded = when(w.isNull.or(w < 0.0),
      raise_error(concat(lit("weightedHashSample: null or negative " +
        "weight "), coalesce(w.cast("string"), lit("null")))))
      .otherwise(w)
    df.filter(hashBucket48(key).cast("double") <
      guarded * lit(c) * lit(Two48))
  }

  /** Exactly-k weighted sample without replacement — Efraimidis–
    * Spirakis exponential keys: priority `u^(1/w)` with `u` the row's
    * deterministic hash fraction; the k largest priorities win, each
    * row's win probability proportional to its weight at every prefix.
    * Plan shape: narrow priority projection + `TakeOrderedAndProject`
    * (orderBy + limit) — per-partition top-k heaps then one k-row merge
    * at the driver, never a full sort shuffle.
    *
    * Note `pow` is transcendental: unlike [[weightedHashSample]], the
    * last-ulp rounding of priorities is engine-library-specific, so
    * cross-ENGINE reproducibility of the exact kept set is not
    * contractual (within Spark it is — same key, same weights, same
    * set; the spec pins parity against an independent driver-side
    * reference). Weights must be strictly positive: zero or negative
    * weights raise rather than silently winning (`u^(1/w)` with w<=0
    * inverts the order).
    */
  def weightedReservoir(df: DataFrame, key: Column, weight: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = weight.cast("double")
    val guarded = when(w.isNull.or(w <= 0.0),
        raise_error(concat(lit("weightedReservoir: non-positive weight "),
          coalesce(w.cast("string"), lit("null")))))
      .otherwise(w)
    val u = (hashBucket48(key).cast("double") + lit(0.5)) / lit(Two48)
    df.withColumn("__pri", pow(u, lit(1.0) / guarded))
      .orderBy(col("__pri").desc, key)
      .limit(k)
      .drop("__pri")
  }

  /** [[weightedReservoir]] in LOG space — exactly-k sampling with
    * probability ∝ e^{logWeight}, for weights that only exist as logs
    * (importance weights over long documents, likelihood ratios …):
    * exponentiating first would overflow/underflow to ±∞/0 and
    * flatten the order, so the Efraimidis–Spirakis key is transformed
    * instead: `u^(1/w)` largest-k ⇔ `ln(−ln u) − ln w` SMALLEST-k
    * (two monotone maps), computed directly from `logWeight`. `u` is
    * the row's deterministic 48-bit hash fraction, so the same
    * reproducibility contract as [[weightedReservoir]] holds: same
    * key, same log weights, same kept set within Spark; cross-engine
    * bit parity of the transcendental priorities is non-contractual.
    * Same plan shape too: narrow priority projection +
    * `TakeOrderedAndProject` (per-partition bottom-k heaps, one k-row
    * driver merge — never a global sort). A null log weight raises
    * (an upstream scoring failure must fail the job, not silently
    * lose the lottery); any finite value is legal — that is the point
    * of staying in log space.
    */
  def logWeightedReservoir(df: DataFrame, key: Column,
      logWeight: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val lw = logWeight.cast("double")
    val guarded = when(lw.isNull.or(isnan(lw)),
        raise_error(concat(lit("logWeightedReservoir: null or NaN log "
          + "weight "), coalesce(lw.cast("string"), lit("null")))))
      .otherwise(lw)
    val u = (hashBucket48(key).cast("double") + lit(0.5)) / lit(Two48)
    df.withColumn("__pri", log(-log(u)) - guarded)
      .orderBy(col("__pri"), key)
      .limit(k)
      .drop("__pri")
  }

  /** Stratified deterministic sample — the training-mix knob: each
    * stratum (source, language, quality band …) keeps its own rate;
    * strata absent from `rates` fall back to `defaultRate`. The rates
    * ride in as a broadcast |strata|-row table, so the plan stays a
    * narrow filtered scan.
    */
  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val th = rates.toSeq.map { case (s, r) => (s, threshold(r)) }
      .toDF("__stratum", "__thr")
    df.withColumn("__stratum", stratum)
      .join(broadcast(th), Seq("__stratum"), "left")
      .filter(hashBucket(key) <
        coalesce(col("__thr"), lit(threshold(defaultRate))))
      .drop("__stratum", "__thr")
  }

  /** Per-domain sampling plan that RETARGETS the corpus mix: given the
    * desired token-mass fractions (`targets`, e.g. en→0.5) and a total
    * token budget, each domain's keep rate is
    * `min(1, target_frac · budget / available_tokens)` — the
    * Horvitz–Thompson rate that makes the EXPECTED sampled token mass
    * hit the target, saturating at 1 when the corpus simply does not
    * hold enough of a domain (the shortfall is reported, not silently
    * reweighted — upsampling/epoching is a separate, explicit decision).
    * Output per domain: `avail_tokens`, `target_tokens`, `rate`,
    * `shortfall_tokens`. Domains in the corpus but absent from
    * `targets` get rate 0; targeted domains absent from the corpus
    * surface as a full-shortfall row. One map-side-partial aggregate
    * over the domain column — the plan is |domains| rows.
    */
  def domainMixPlan(df: DataFrame, domainCol: String, tokens: Column,
      targets: Map[String, Double], budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    require(targets.values.forall(f => f >= 0.0 && f <= 1.0),
      s"target fractions must be in [0,1], got $targets")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = targets.toSeq.toDF(domainCol, "__frac")
    val avail = df.groupBy(col(domainCol))
      .agg(sum(tokens.cast("bigint")).as("avail_tokens"))
    withRateShortfall(avail.join(tgt, Seq(domainCol), "full_outer")
      .select(col(domainCol),
        coalesce(col("avail_tokens"), lit(0L)).as("avail_tokens"),
        (coalesce(col("__frac"), lit(0.0)) * lit(budgetTokens.toDouble))
          .as("target_tokens")))
  }

  /** Per-domain `rate` = min(1, target/avail), 0 for an empty domain,
    * and `shortfall_tokens` = max(0, target - avail): the tail of every
    * mix plan.
    */
  private def withRateShortfall(plan: DataFrame): DataFrame =
    plan.withColumn("rate",
        when(col("avail_tokens") === 0L, lit(0.0)).otherwise(
          least(lit(1.0),
            col("target_tokens") / col("avail_tokens").cast("double"))))
      .withColumn("shortfall_tokens",
        greatest(lit(0.0),
          col("target_tokens") - col("avail_tokens").cast("double")))

  /** The deterministic keep set realising a [[domainMixPlan]]: each
    * row keeps iff its 48-bit key bucket clears its domain's rate —
    * [[weightedHashSample]] with the broadcast-joined rate as the
    * weight (c = 1), so the decision is the same IEEE-exact
    * multiplication chain any engine reproduces, stable under retries
    * and partitioning, and monotone in the budget. Plan shape: narrow
    * scan + broadcast join on the |domains|-row plan + filter — no
    * shuffle of the corpus.
    */
  def sampleToMix(df: DataFrame, key: Column, domainCol: String,
      tokens: Column, targets: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    val plan = domainMixPlan(df, domainCol, tokens, targets, budgetTokens)
      .select(col(domainCol), col("rate").as("__rate"))
    val joined = df.join(broadcast(plan), Seq(domainCol), "left")
      .withColumn("__rate", coalesce(col("__rate"), lit(0.0)))
    weightedHashSample(joined, key, col("__rate"), 1.0)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Epoch-aware realisation of a mixing plan WITH upsampling — the
    * explicit decision [[domainMixPlan]] reports as
    * `shortfall_tokens` and deliberately does not take on its own:
    * a domain whose target EXCEEDS its availability is REPEATED
    * (the published data-mixture recipe shape — "books ×3.2 epochs"),
    * with the unclamped rate `target/avail` realised as
    * `floor(rate)` full copies per row (`copy` 0-based) plus ONE
    * fractional copy kept iff the 48-bit bucket of the
    * (key, '#', copy)-salted hash clears the fractional part. Domains
    * at rate ≤ 1 degrade to the same rule (zero full copies, one
    * thresholded copy), untargeted domains drop, and the copy-salted
    * hash makes the fractional decisions of different copy indices
    * mutually independent. Every step is md5 + IEEE
    * floor/subtract/multiply — engine-replayable bit-for-bit — and
    * the expected kept token mass per domain is exactly its target.
    * Plan shape: narrow scan + broadcast plan join + one row-local
    * explode of ≤ ⌈rate⌉ copies — no corpus shuffle; output rows grow
    * by the mean rate, which is the point.
    */
  def upsampleToMix(df: DataFrame, key: Column, domainCol: String,
      tokens: Column, targets: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    val plan = domainMixPlan(df, domainCol, tokens, targets,
        budgetTokens)
      .select(col(domainCol),
        when(col("avail_tokens") === 0L, lit(0.0))
          .otherwise(col("target_tokens") /
            col("avail_tokens").cast("double")).as("__rate"))
    df.join(broadcast(plan), Seq(domainCol), "left")
      .withColumn("__rate", coalesce(col("__rate"), lit(0.0)))
      .withColumn("__full", floor(col("__rate")))
      .withColumn("__frac",
        col("__rate") - col("__full").cast("double"))
      .withColumn("copy", explode(sequence(lit(0L), col("__full"))))
      .filter(col("copy") < col("__full") ||
        hashBucket48(concat_ws("#", key.cast("string"),
          col("copy").cast("string"))).cast("double") <
          col("__frac") * lit(Two48))
      .select((df.columns.map(col) :+ col("copy")).toIndexedSeq: _*)
  }

  /** `x^α` for DYADIC `α = k/256 ∈ (0, 1]` as a sqrt-chain product —
    * the engine-reproducible power. `pow`/`exp`/`ln` are
    * transcendental (library-specific last-ulp rounding — the
    * [[weightedReservoir]] caveat), but IEEE-754 REQUIRES `sqrt` and
    * `*` to be correctly rounded, so the binary expansion
    * `x^α = Π_{bit i of α set} sqrt^i(x)` (folded left in ascending
    * `i`) lands the same bits in every conforming engine — DuckDB
    * replays the chain verbatim. 1/256 granularity covers every
    * published sampling temperature (0.25, 0.3 ≈ 77/256 is NOT dyadic
    * — callers quantize; 0.5, 0.7 ≈ 179/256 likewise, 0.75 exact).
    * Non-dyadic `α` raises rather than silently rounding.
    */
  def dyadicPow(x: Column, alpha: Double): Column = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha")
    val scaled = alpha * 256.0
    require(scaled == math.rint(scaled),
      s"alpha must be a multiple of 1/256 (a dyadic rational — the " +
        s"sqrt-chain power is only engine-exact for those), got $alpha")
    if (alpha == 1.0) x
    else {
      val bits = math.round(scaled).toInt // α = bits/256, 1 ≤ bits ≤ 255
      var term = x
      var acc: Option[Column] = None
      for (i <- 1 to 8) {
        term = sqrt(term) // term = x^(2^-i)
        if (((bits >> (8 - i)) & 1) == 1)
          acc = Some(acc.map(_ * term).getOrElse(term))
      }
      acc.get
    }
  }

  /** TEMPERATURE-derived mixing plan (the multilingual-pretraining
    * alpha-sampling rule — Conneau & Lample 2019, Conneau et al.
    * XLM-R 2020, Raffel et al. mT5: sample domain `i` with
    * `p_i ∝ n_i^α`, `α < 1` up-weighting low-resource domains):
    * [[domainMixPlan]]'s twin where the targets are DERIVED from the
    * corpus itself instead of caller-supplied fractions. Per domain:
    * `avail_tokens` (= n_i), `p` (= n_i^α / Σ_j n_j^α), `target_tokens`
    * (= p · budget), `rate` (= min(1, target/avail)) and
    * `shortfall_tokens`. The power is [[dyadicPow]]'s sqrt-chain,
    * `Σ_j n_j^α` folds in DOMAIN order from 0.0 (FP addition is not
    * associative — a partition-order `sum` would wobble in the last
    * ulp; the pinned-order fold is the NB/DSIR/BM25 discipline), and
    * every other step is one IEEE divide/multiply/min, so any engine
    * re-derives the doubles bit-for-bit. Plan shape: one map-side-
    * partial aggregate to |domains| rows + a one-row Σ broadcast —
    * nothing scales with the corpus.
    */
  def temperatureMixPlan(df: DataFrame, domainCol: String,
      tokens: Column, alpha: Double, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    val avail = df.groupBy(col(domainCol))
      .agg(sum(tokens.cast("bigint")).as("avail_tokens"))
      .withColumn("__pow",
        dyadicPow(col("avail_tokens").cast("double"), alpha))
    val total = avail
      .agg(array_sort(collect_list(
        struct(col(domainCol).cast("string").as("__d"),
          col("__pow").as("__p")))).as("__t"))
      .select(aggregate(col("__t"), lit(0.0),
        (a, x) => a + x.getField("__p")).as("__total"))
    withRateShortfall(avail.crossJoin(broadcast(total))
      .select(col(domainCol), col("avail_tokens"),
        (col("__pow") / col("__total")).as("p"))
      .withColumn("target_tokens",
        col("p") * lit(budgetTokens.toDouble)))
  }

  /** The deterministic keep set realising a [[temperatureMixPlan]] —
    * [[sampleToMix]]'s twin: each row keeps iff its 48-bit key bucket
    * clears its domain's derived rate. Same IEEE-exact decision chain,
    * same narrow scan + broadcast-plan join + filter shape (no corpus
    * shuffle).
    */
  def sampleToTemperatureMix(df: DataFrame, key: Column,
      domainCol: String, tokens: Column, alpha: Double,
      budgetTokens: Long): DataFrame = {
    val plan = temperatureMixPlan(df, domainCol, tokens, alpha,
        budgetTokens)
      .select(col(domainCol), col("rate").as("__rate"))
    val joined = df.join(broadcast(plan), Seq(domainCol), "left")
      .withColumn("__rate", coalesce(col("__rate"), lit(0.0)))
    weightedHashSample(joined, key, col("__rate"), 1.0)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }
}
