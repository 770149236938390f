package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Linkage, Privacy}

import Shared._

/** Privacy release operators over the masked customer table:
  * k-anonymity, l-diversity, t-closeness, DP, randomized response,
  * Mondrian, and fuzzy-key linkage.
  */
private[graft] object PrivacyGates {

  /** The masked release audited and enforced by the privacy gates: the
    * reference's R1 static replacement under a P2 guard (Anonymizer.php's
    * replaceWith form) applied to customer. It masks no `c_name`: none of
    * its users outputs that column, and a `#row#` template would still
    * pay a range shuffle per use to number rows nobody reads.
    */
  private def maskedRelease(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_mktsegment").where("c_acctbal > 0").replaceWith("MASKED")
    }.plan()("customer")

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala 2007)
    * of a masked release — the "did masking actually anonymize?" gate the
    * reference never runs. QI = (c_nationkey, masked c_mktsegment),
    * sensitive = c_acctbal. One hash aggregation; reducer state bounded by
    * distinct QI combinations.
    */
  private def qKAnon(s: SparkSession, dir: String): DataFrame =
    Privacy.audit(maskedRelease(s, dir), Seq("c_nationkey", "c_mktsegment"),
        "c_acctbal", k = 10, l = 5)
      .orderBy("c_nationkey", "c_mktsegment")

  /** One-row release gate over the same masked table: achieved k and l plus
    * rows in at-risk groups under (k=10, l=5).
    */
  private def qPrivacyCard(s: SparkSession, dir: String): DataFrame =
    Privacy.card(maskedRelease(s, dir), Seq("c_nationkey", "c_mktsegment"),
      "c_acctbal", k = 10, l = 5)

  /** Edit-distance self-linkage over customer names at Levenshtein <= 1 via
    * deletion-neighborhood blocking (FastSS, Bocek et al. 2007) — the
    * linkage attack masked releases defend against, run at corpus scale
    * with no all-pairs stage. The brute-force O(n^2) DuckDB oracle proves
    * the blocking has no false negatives.
    */
  private def qFuzzyJoin(s: SparkSession, dir: String): DataFrame =
    Linkage.selfPairs(t(s, dir, "customer"), "c_name", maxDist = 1)
      .orderBy("name_a", "name_b")

  /** The depth-2 neighborhood path (deletion recursion at maxDist = 2)
    * against real data: the completeness property is spec-tested on
    * random corpora, this gates it against the brute-force O(n²)
    * Levenshtein-<=2 oracle at fixture scale.
    */
  private def qFuzzyJoin2(s: SparkSession, dir: String): DataFrame =
    Linkage.selfPairs(t(s, dir, "customer"), "c_name", maxDist = 2)
      .orderBy("name_a", "name_b")

  /** Two-source linkage (the distinct-value-pairs shape): odd-custkey
    * names fuzzy-joined against even-custkey names at Levenshtein <= 1
    * — the cross-dataset linkage attack, brute-force oracled.
    */
  private def qFuzzyTwo(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    Linkage.fuzzyJoin(
      cust.filter(col("c_custkey") % 2 === 1), "c_name",
      cust.filter(col("c_custkey") % 2 === 0), "c_name", maxDist = 1)
      .orderBy("left_value", "right_value")
  }

  /** Id-keyed fuzzy-key lookup — the serving form of the linkage
    * operator: every 100th customer's name probed against the full
    * name reference at Levenshtein <= 1, keeping the probing custkey.
    * The brute-force DuckDB oracle again proves blocking completeness.
    */
  private def qFuzzyServe(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    Linkage.linkQueries(
      cust.filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("q_id"), col("c_name")),
      "q_id", "c_name", cust, "c_name", maxDist = 1)
      .orderBy("q_id", "ref_value")
  }

  /** l-diversity ENFORCEMENT by suppression over the same masked
    * release: only rows whose (nationkey, masked segment) group carries
    * at least l = 10 DISTINCT sensitive bins survive — the leak k
    * alone cannot close (a large group with one sensitive value is
    * k-anonymous and still tells the attacker everything). Completes
    * the audit→enforce→re-audit loop for the l half of `q_k_anon`.
    */
  private def qLSuppress(s: SparkSession, dir: String): DataFrame =
    Privacy.suppressLowDiversity(
      maskedRelease(s, dir)
        .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        .withColumn("acct_bin",
          floor(col("c_acctbal") / lit(1000.0)).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "acct_bin", l = 10)
      .orderBy("c_custkey")

  /** Differentially private per-nation customer counts — central DP
    * next to `q_rr_release`'s local DP: the geometric mechanism
    * (Ghosh et al. 2009) at α = 1/2 (ε = ln 2), bound 40, every noise
    * draw the 48-bit md5 coin inverted through the EXACT integer CDF
    * thresholds — DuckDB re-derives the thresholds natively in
    * HUGEINT (the weights at denominator 2^40 are bit shifts) and
    * replays every release. True counts ride alongside for the
    * utility read (a test gate, not a production release).
    */
  private def qDpCounts(s: SparkSession, dir: String): DataFrame =
    Privacy.geometricNoisyCounts(
      t(s, dir, "customer"), Seq("c_nationkey"),
      aNum = 1, aDen = 2, seed = "dp18")
      .join(t(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_true")), Seq("c_nationkey"))
      .orderBy("c_nationkey")

  /** k-anonymity ENFORCEMENT by suppression over the same masked
    * release: only rows whose (nationkey, masked segment) group reaches
    * k = 10 survive. The group table flows back as a broadcast
    * semi-join — the release itself is never re-shuffled.
    */
  private def qKSuppress(s: SparkSession, dir: String): DataFrame =
    Privacy.suppress(
      maskedRelease(s, dir)
        .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"),
      Seq("c_nationkey", "c_mktsegment"), k = 10)
      .orderBy("c_custkey")

  /** The generalization loop in one row: QI = (nationkey, raw acctbal)
    * is hopeless (k = 1 — acctbal is near-unique), generalizing acctbal
    * to its [lo,hi) thousand-width range rescues k. Both audits are one
    * hash aggregation each; the released value is the interval itself.
    */
  private def qKGeneralize(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val raw = Privacy.card(cust, Seq("c_nationkey", "c_acctbal"),
        "c_custkey", k = 10, l = 1)
      .select(col("k_achieved").as("k_raw"),
        col("n_groups").as("groups_raw"))
    val gen = Privacy.card(
        Privacy.generalizeNumeric(cust, "c_acctbal", 1000, "acct_range"),
        Seq("c_nationkey", "acct_range"), "c_custkey", k = 10, l = 1)
      .select(col("k_achieved").as("k_generalized"),
        col("n_groups").as("groups_generalized"),
        col("rows_k_at_risk").as("rows_at_risk_generalized"))
    raw.crossJoin(gen) // 1×1 scalar attach
  }

  /** t-closeness audit (Li et al. 2007) of the masked release: EMD
    * between each QI group's acctbal-bin distribution and the global
    * one, computed in exact integer counts (one double division at the
    * very end), risk-flagged at t = 1/4 by a pure integer compare.
    */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame =
    Privacy.tCloseness(
      maskedRelease(s, dir).withColumn("acct_bin",
        floor(col("c_acctbal") / lit(1000.0)).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "acct_bin",
      tNum = 1, tDen = 4)
      .orderBy("c_nationkey", "c_mktsegment")

  /** Mondrian k-anonymization (LeFevre et al. 2006) of the customer QI
    * plane (nationkey × acctbal) at k = 25: the per-leaf release
    * summary — adaptive bounding boxes + leaf sizes. The recursion is
    * data-dependent but DETERMINISTIC (exact lower medians, globally
    * normalized widest-dimension-first with index tie-break), so the
    * oracle replays it verbatim as a DuckDB recursive CTE; the >= k /
    * unsplittable / containment / determinism invariants are
    * additionally spec-pinned in PrivacyLinkageSpec.
    */
  private def qMondrian(s: SparkSession, dir: String): DataFrame =
    Privacy.mondrian(
      t(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal"),
      Seq("c_nationkey", "c_acctbal"), k = 25)
      .groupBy("pid", "c_nationkey_lo", "c_nationkey_hi",
        "c_acctbal_lo", "c_acctbal_hi")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("pid")

  /** Mondrian's GK-sketch path (`exactMedians = false` — the posture
    * the operator itself recommends at 100 TB leaf sizes) oracle-gated
    * in the `q_percentile_gk_parity` pattern: the split tree is
    * sketch-dependent, so no external engine can replay it value-for-
    * value — what CAN be pinned is the CONTRACT. Per split, the chosen
    * approximate median's exact rank interval [lt+1, le] (counted in
    * the same per-round aggregation the split test pays —
    * [[graft.pipeline.Privacy.mondrianAudited]]) must sit within
    * n/2 ± (n/accuracy + 1); per leaf, the k-anonymity promise |leaf|
    * ≥ k must hold REGARDLESS of median accuracy; and the release must
    * be a partition of the input (row-count preserving). DuckDB
    * re-derives the population and pins every boolean TRUE — a sketch
    * drifting outside its rank bound, an under-k leaf, or a dropped
    * row reds the single-row gate.
    */
  private def qMondrianGk(s: SparkSession, dir: String): DataFrame = {
    val dims = Seq("c_nationkey", "c_acctbal")
    val input = t(s, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val (released, splits) = Privacy.mondrianAudited(input, dims,
      k = 25, exactMedians = false)
    val acc = Privacy.MondrianGkAccuracy
    val gkOk = splits.forall { sp =>
      val slack = sp.n.toDouble / acc + 1.0
      sp.lt + 1 <= sp.n * 0.5 + slack && sp.le >= sp.n * 0.5 - slack
    }
    val nIn = input.na.drop("any", dims).count()
    released.groupBy("pid").agg(count(lit(1)).as("__ls"))
      .agg(coalesce(sum(col("__ls")), lit(0L)).as("n_released"),
        coalesce(min(col("__ls")), lit(0L)).as("__min_leaf"))
      .select(lit(nIn).as("n_rows"), col("n_released"),
        (col("__min_leaf") >= 25).as("all_leaves_ge_k"),
        lit(splits.nonEmpty).as("did_split"),
        lit(gkOk).as("gk_within_bound"))
  }

  /** What the q_k_generalize generalization COSTS, in one row: the
    * discernibility metric (Bayardo–Agrawal 2005) and normalized
    * average group size (LeFevre 2006) of the raw vs range-generalized
    * QI — privacy audits say safe, these say still-useful.
    */
  private def qPrivacyUtility(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val raw = Privacy.utility(cust, Seq("c_nationkey", "c_acctbal"), 10)
      .select(col("n_rows"), col("dm").as("dm_raw"),
        col("c_avg").as("cavg_raw"))
    val gen = Privacy.utility(
        Privacy.generalizeNumeric(cust, "c_acctbal", 1000, "acct_range"),
        Seq("c_nationkey", "acct_range"), 10)
      .select(col("dm").as("dm_generalized"),
        col("c_avg").as("cavg_generalized"))
    raw.crossJoin(gen) // 1×1 scalar attach
  }

  /** Randomized response (Warner 1965) over the segment column: each
    * customer's value released truthfully with p = 3/4, else replaced
    * by a deterministic uniform domain draw — per-row plausible
    * deniability (ε = ln(1 + 5·3) ≈ 2.77 local DP at |D| = 5), replayed
    * bit-for-bit by DuckDB through the same 48-bit md5 coin and sorted-
    * domain indexing.
    */
  private def qRrRelease(s: SparkSession, dir: String): DataFrame =
    Privacy.randomizedResponse(
      t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
      "c_mktsegment", "c_custkey", pNum = 3, pDen = 4, seed = "rr17")
      .orderBy("c_custkey")

  /** The decode side of randomized response: unbiased per-value
    * frequency recovery n̂_v = (obs_v − n·(1−p)/|D|)/p from the released
    * column alone, next to the true counts — utility after local DP,
    * every arithmetic step replayed exactly by the oracle.
    */
  private def qRrEstimate(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val released = Privacy.randomizedResponse(
      cust, "c_mktsegment", "c_custkey", pNum = 3, pDen = 4,
      seed = "rr17")
    val truth = t(s, dir, "customer")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_true"))
    // |D| is the INPUT column's domain — the mechanism's own parameter,
    // not the released-distinct approximation
    val dSize = cust.select("c_mktsegment").distinct().count()
    Privacy.rrEstimate(released, "c_mktsegment", pNum = 3, pDen = 4,
        domainSize = Some(dSize))
      .join(truth, Seq("c_mktsegment"), "left")
      .orderBy("c_mktsegment")
  }

  val gates: Seq[Gate] = Seq(
    Gate("q_k_anon", qKAnon,
      s"""SELECT c_nationkey, c_mktsegment,
         |COUNT(*) AS group_size,
         |COUNT(DISTINCT c_acctbal) AS distinct_sensitive,
         |COUNT(*) < 10 AS k_at_risk,
         |COUNT(DISTINCT c_acctbal) < 5 AS l_at_risk
         |FROM (SELECT c_nationkey,
         |  CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END
         |    AS c_mktsegment,
         |  c_acctbal FROM customer) m
         |GROUP BY c_nationkey, c_mktsegment
         |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    Gate("q_privacy_card", qPrivacyCard,
      s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
         |    COUNT(*) AS gs, COUNT(DISTINCT c_acctbal) AS ds
         |  FROM (SELECT c_nationkey,
         |    CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END
         |      AS c_mktsegment,
         |    c_acctbal FROM customer) m
         |  GROUP BY c_nationkey, c_mktsegment)
         |SELECT CAST(SUM(gs) AS BIGINT) AS n_rows,
         |COUNT(*) AS n_groups,
         |MIN(gs) AS k_achieved,
         |MIN(ds) AS l_achieved,
         |CAST(SUM(CASE WHEN gs < 10 THEN gs ELSE 0 END) AS BIGINT)
         |  AS rows_k_at_risk,
         |CAST(SUM(CASE WHEN ds < 5 THEN gs ELSE 0 END) AS BIGINT)
         |  AS rows_l_at_risk
         |FROM g""".stripMargin),
    Gate("q_fuzzy_join", qFuzzyJoin,
      s"""SELECT a.c_name AS name_a, b.c_name AS name_b,
         |CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         |FROM customer a JOIN customer b ON a.c_name < b.c_name
         |WHERE levenshtein(a.c_name, b.c_name) <= 1
         |ORDER BY name_a, name_b""".stripMargin),
    Gate("q_dp_counts", qDpCounts, {
      // the truncated-geometric CDF thresholds derived NATIVELY in
      // exact integer arithmetic: weights at denominator 2^40 are bit
      // shifts, floor(cum·2^48/S) in HUGEINT; the per-group 48-bit
      // coin is the shared md5-nibble arithmetic
      val u = bucket48OfSql(
        "md5('dp18|' || COALESCE(CAST(c_nationkey AS VARCHAR), chr(1)))")
      s"""WITH z AS (SELECT unnest(generate_series(-40, 40)) AS k),
         |w AS (SELECT k, CAST(1 AS BIGINT) << (40 - abs(k)) AS wt
         |  FROM z),
         |s AS (SELECT SUM(wt) AS tot FROM w),
         |th AS (SELECT k,
         |    CAST(SUM(wt) OVER (ORDER BY k) AS HUGEINT)
         |      * 281474976710656 // (SELECT tot FROM s) AS t
         |  FROM w),
         |g AS (SELECT c_nationkey, COUNT(*) AS n_true,
         |    $u AS u
         |  FROM customer GROUP BY 1),
         |nz AS (SELECT g.c_nationkey, MIN(th.k) AS zz FROM g
         |  JOIN th ON CAST(g.u AS HUGEINT) < th.t GROUP BY 1)
         |SELECT g.c_nationkey,
         |GREATEST(g.n_true + nz.zz, 0) AS n_noisy, g.n_true
         |FROM g JOIN nz USING (c_nationkey)
         |ORDER BY c_nationkey""".stripMargin
    }),
    Gate("q_l_suppress", qLSuppress,
      s"""WITH m AS (SELECT c_custkey, c_nationkey,
         |  CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END
         |    AS c_mktsegment,
         |  c_acctbal,
         |  CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS acct_bin
         |  FROM customer),
         |ok AS (SELECT c_nationkey, c_mktsegment FROM m
         |  GROUP BY 1, 2 HAVING COUNT(DISTINCT acct_bin) >= 10)
         |SELECT m.c_custkey, m.c_nationkey, m.c_mktsegment,
         |m.c_acctbal, m.acct_bin
         |FROM m JOIN ok USING (c_nationkey, c_mktsegment)
         |ORDER BY c_custkey""".stripMargin),
    Gate("q_k_suppress", qKSuppress,
      s"""SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal
         |FROM (SELECT c_custkey, c_nationkey,
         |  CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END
         |    AS c_mktsegment,
         |  c_acctbal,
         |  COUNT(*) OVER (PARTITION BY c_nationkey,
         |    CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment
         |    END) AS gs
         |  FROM customer) m
         |WHERE gs >= 10 ORDER BY c_custkey""".stripMargin),
    Gate("q_k_generalize", qKGeneralize,
      s"""WITH raw AS (SELECT c_nationkey, c_acctbal, COUNT(*) AS gs
         |  FROM customer GROUP BY 1, 2),
         |gen AS (SELECT c_nationkey,
         |    '[' || CAST(CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT)
         |      AS VARCHAR) || ',' ||
         |    CAST(CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT) + 1000
         |      AS VARCHAR) || ')' AS acct_range,
         |    COUNT(*) AS gs
         |  FROM customer GROUP BY 1, 2)
         |SELECT (SELECT MIN(gs) FROM raw) AS k_raw,
         |(SELECT COUNT(*) FROM raw) AS groups_raw,
         |(SELECT MIN(gs) FROM gen) AS k_generalized,
         |(SELECT COUNT(*) FROM gen) AS groups_generalized,
         |(SELECT CAST(SUM(CASE WHEN gs < 10 THEN gs ELSE 0 END)
         |  AS BIGINT) FROM gen) AS rows_at_risk_generalized""".stripMargin),
    Gate("q_t_closeness", qTCloseness,
      s"""WITH m AS (SELECT c_nationkey,
         |    CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END
         |      AS c_mktsegment,
         |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bin
         |  FROM customer),
         |counts AS (SELECT c_nationkey, c_mktsegment, bin, COUNT(*) AS c
         |  FROM m GROUP BY 1, 2, 3),
         |gcum AS (SELECT bin, SUM(gc) OVER (ORDER BY bin) AS cum_gc
         |  FROM (SELECT bin, SUM(c) AS gc FROM counts GROUP BY 1)),
         |tot AS (SELECT CAST(MAX(cum_gc) AS BIGINT) AS n_total,
         |  COUNT(*) AS m_bins FROM gcum),
         |grp AS (SELECT c_nationkey, c_mktsegment,
         |    CAST(SUM(c) AS BIGINT) AS n_g
         |  FROM counts GROUP BY 1, 2),
         |dense AS (SELECT g.c_nationkey, g.c_mktsegment, g.n_g, b.bin,
         |    CAST(b.cum_gc AS BIGINT) AS cum_gc, COALESCE(ct.c, 0) AS c
         |  FROM grp g CROSS JOIN gcum b LEFT JOIN counts ct
         |    ON ct.c_nationkey = g.c_nationkey
         |    AND ct.c_mktsegment = g.c_mktsegment AND ct.bin = b.bin),
         |cums AS (SELECT *, SUM(c) OVER (PARTITION BY c_nationkey,
         |    c_mktsegment ORDER BY bin) AS cum_c FROM dense),
         |emd AS (SELECT c_nationkey, c_mktsegment, n_g,
         |    CAST(SUM(ABS(cum_c * (SELECT n_total FROM tot)
         |      - cum_gc * n_g)) AS BIGINT) AS emd_num
         |  FROM cums GROUP BY 1, 2, 3)
         |SELECT c_nationkey, c_mktsegment, n_g AS group_size, emd_num,
         |emd_num / ((SELECT n_total FROM tot) * n_g
         |  * ((SELECT m_bins FROM tot) - 1)) AS t_closeness,
         |emd_num * 4 > (SELECT n_total FROM tot) * n_g
         |  * ((SELECT m_bins FROM tot) - 1) AS t_at_risk
         |FROM emd ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    Gate("q_fuzzy_join2", qFuzzyJoin2,
      s"""SELECT a.c_name AS name_a, b.c_name AS name_b,
         |CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         |FROM customer a JOIN customer b ON a.c_name < b.c_name
         |WHERE levenshtein(a.c_name, b.c_name) <= 2
         |ORDER BY name_a, name_b""".stripMargin),
    Gate("q_fuzzy_two", qFuzzyTwo,
      s"""SELECT DISTINCT a.c_name AS left_value, b.c_name AS right_value,
         |CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         |FROM customer a JOIN customer b
         |  ON levenshtein(a.c_name, b.c_name) <= 1
         |WHERE a.c_custkey % 2 = 1 AND b.c_custkey % 2 = 0
         |ORDER BY left_value, right_value""".stripMargin),
    Gate("q_fuzzy_serve", qFuzzyServe,
      s"""SELECT q.c_custkey AS q_id, q.c_name AS query_value,
         |r.c_name AS ref_value,
         |CAST(levenshtein(q.c_name, r.c_name) AS INTEGER) AS dist
         |FROM customer q JOIN customer r
         |  ON levenshtein(q.c_name, r.c_name) <= 1
         |WHERE q.c_custkey % 100 = 0
         |ORDER BY q_id, ref_value""".stripMargin),
    Gate("q_rr_release", qRrRelease, {
      // threshold floor(3/4 * 2^48); coin and draw are the 48-bit md5
      // fractions of 'rr17#<key>' and 'rr17#v#<key>'
      val flip = bucket48OfSql("md5('rr17#' || COALESCE(CAST(c_custkey AS VARCHAR), chr(1)))")
      val draw =
        bucket48OfSql("md5('rr17#v#' || COALESCE(CAST(c_custkey AS VARCHAR), chr(1)))")
      s"""WITH dom AS (SELECT c_mktsegment AS dval,
         |    ROW_NUMBER() OVER (ORDER BY c_mktsegment) - 1 AS idx
         |  FROM (SELECT DISTINCT c_mktsegment FROM customer)),
         |sel AS (SELECT c_custkey, c_mktsegment,
         |    $flip AS flip,
         |    $draw % (SELECT COUNT(*) FROM dom) AS idx
         |  FROM customer)
         |SELECT s.c_custkey,
         |CASE WHEN s.flip < 211106232532992 THEN s.c_mktsegment
         |  ELSE d.dval END AS c_mktsegment
         |FROM sel s JOIN dom d ON d.idx = s.idx
         |ORDER BY c_custkey""".stripMargin
    }),
    Gate("q_rr_estimate", qRrEstimate, {
      val flip = bucket48OfSql("md5('rr17#' || COALESCE(CAST(c_custkey AS VARCHAR), chr(1)))")
      val draw =
        bucket48OfSql("md5('rr17#v#' || COALESCE(CAST(c_custkey AS VARCHAR), chr(1)))")
      // p = T/2^48 exactly (power-of-two division), q = 1 - p: the same
      // in-engine ops as the Spark side, so n_est is bit-identical
      val p = "(CAST(211106232532992 AS DOUBLE) / 281474976710656.0)"
      s"""WITH dom AS (SELECT c_mktsegment AS dval,
         |    ROW_NUMBER() OVER (ORDER BY c_mktsegment) - 1 AS idx
         |  FROM (SELECT DISTINCT c_mktsegment FROM customer)),
         |sel AS (SELECT c_custkey, c_mktsegment,
         |    $flip AS flip,
         |    $draw % (SELECT COUNT(*) FROM dom) AS idx
         |  FROM customer),
         |rel AS (SELECT s.c_custkey,
         |    CASE WHEN s.flip < 211106232532992 THEN s.c_mktsegment
         |      ELSE d.dval END AS c_mktsegment
         |  FROM sel s JOIN dom d ON d.idx = s.idx),
         |tot AS (SELECT COUNT(*) AS n,
         |    (SELECT COUNT(*) FROM dom) AS d FROM rel),
         |obs AS (SELECT c_mktsegment, COUNT(*) AS n_obs FROM rel
         |  GROUP BY 1),
         |tru AS (SELECT c_mktsegment, COUNT(*) AS n_true FROM customer
         |  GROUP BY 1)
         |SELECT o.c_mktsegment, o.n_obs,
         |(CAST(o.n_obs AS DOUBLE) - (SELECT n FROM tot) * (1.0 - $p)
         |  / (SELECT d FROM tot)) / $p AS n_est,
         |t2.n_true
         |FROM obs o LEFT JOIN tru t2 USING (c_mktsegment)
         |ORDER BY c_mktsegment""".stripMargin
    }),
    Gate("q_privacy_utility", qPrivacyUtility,
      s"""WITH raw AS (SELECT COUNT(*) AS gs FROM customer
         |  GROUP BY c_nationkey, c_acctbal),
         |gen AS (SELECT COUNT(*) AS gs FROM customer GROUP BY
         |  c_nationkey,
         |  CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT)),
         |r AS (SELECT CAST(SUM(gs) AS BIGINT) AS n_rows,
         |  COUNT(*) AS ng, CAST(SUM(gs * gs) AS BIGINT) AS dm FROM raw),
         |g AS (SELECT CAST(SUM(gs) AS BIGINT) AS n_rows,
         |  COUNT(*) AS ng, CAST(SUM(gs * gs) AS BIGINT) AS dm FROM gen)
         |SELECT r.n_rows, r.dm AS dm_raw,
         |CAST(r.n_rows AS DOUBLE) / r.ng / 10.0 AS cavg_raw,
         |g.dm AS dm_generalized,
         |CAST(g.n_rows AS DOUBLE) / g.ng / 10.0 AS cavg_generalized
         |FROM r, g""".stripMargin),
    Gate("q_mondrian", qMondrian,
      // DuckDB replays the WHOLE Mondrian recursion (LeFevre 2006) in
      // one recursive CTE: every round computes each live partition's
      // box, lower medians (quantile_disc == Spark's exact
      // percentile_approx: the rank-ceil(n/2) element, verified on
      // n ∈ {1,2,3,4,5,6,7} with ties) and at-or-below-median counts
      // via window aggregates, picks the widest (globally normalized,
      // index tie-break) dimension whose cut leaves >= k on both
      // sides, and reassigns pid*2+side+1 — finalized rows leave the
      // recursion, so it terminates exactly when Spark's loop does.
      // All compares are on identical IEEE doubles; 2.225e-308 is
      // Double.MIN_NORMAL, Spark's zero-width guard.
      s"""WITH RECURSIVE
         |base AS (
         |  SELECT c_custkey, CAST(c_nationkey AS DOUBLE) AS nk,
         |         CAST(c_acctbal AS DOUBLE) AS ab
         |  FROM customer
         |  WHERE c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL),
         |gw AS (
         |  SELECT GREATEST(MAX(nk) - MIN(nk),
         |           2.2250738585072014e-308) AS g0,
         |         GREATEST(MAX(ab) - MIN(ab),
         |           2.2250738585072014e-308) AS g1
         |  FROM base),
         |t AS (
         |  SELECT c_custkey, nk, ab, CAST(0 AS BIGINT) AS pid,
         |         FALSE AS done, 0 AS rnd, g0, g1
         |  FROM base, gw
         |  UNION ALL
         |  SELECT c_custkey, nk, ab,
         |    CASE WHEN sdim = 0 THEN pid*2 + CAST(nk > med0 AS BIGINT) + 1
         |         WHEN sdim = 1 THEN pid*2 + CAST(ab > med1 AS BIGINT) + 1
         |         ELSE pid END AS pid,
         |    sdim IS NULL AS done,
         |    rnd + 1 AS rnd, g0, g1
         |  FROM (
         |    SELECT *,
         |      CASE WHEN rnd >= 40 OR n < 2*25 THEN NULL
         |           WHEN w0 >= w1 THEN
         |             (CASE WHEN v0 THEN 0 WHEN v1 THEN 1 END)
         |           ELSE (CASE WHEN v1 THEN 1 WHEN v0 THEN 0 END)
         |      END AS sdim
         |    FROM (
         |      SELECT *,
         |        w0 > 0 AND lc0 >= 25 AND n - lc0 >= 25 AS v0,
         |        w1 > 0 AND lc1 >= 25 AND n - lc1 >= 25 AS v1
         |      FROM (
         |        SELECT *,
         |          (mx0 - mn0) / g0 AS w0, (mx1 - mn1) / g1 AS w1,
         |          SUM(CASE WHEN nk <= med0 THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY pid) AS lc0,
         |          SUM(CASE WHEN ab <= med1 THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY pid) AS lc1
         |        FROM (
         |          SELECT *,
         |            COUNT(*) OVER wp AS n,
         |            MIN(nk) OVER wp AS mn0, MAX(nk) OVER wp AS mx0,
         |            CAST(quantile_disc(nk, 0.5) OVER wp AS DOUBLE)
         |              AS med0,
         |            MIN(ab) OVER wp AS mn1, MAX(ab) OVER wp AS mx1,
         |            CAST(quantile_disc(ab, 0.5) OVER wp AS DOUBLE)
         |              AS med1
         |          FROM t WHERE NOT done
         |          WINDOW wp AS (PARTITION BY pid))))))
         |SELECT pid,
         |  MIN(nk) AS c_nationkey_lo, MAX(nk) AS c_nationkey_hi,
         |  MIN(ab) AS c_acctbal_lo, MAX(ab) AS c_acctbal_hi,
         |  COUNT(*) AS n_rows
         |FROM t WHERE done
         |GROUP BY pid ORDER BY pid""".stripMargin),
    Gate("q_mondrian_gk", qMondrianGk,
      // contract gate (the q_percentile_gk_parity pattern): the GK
      // split tree is sketch-dependent, so DuckDB pins the population
      // and the booleans — every split's rank interval inside the
      // accuracy bound, every leaf >= k, release row-preserving
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_released,
         |  TRUE AS all_leaves_ge_k,
         |  TRUE AS did_split,
         |  TRUE AS gk_within_bound
         |FROM customer
         |WHERE c_nationkey IS NOT NULL
         |  AND c_acctbal IS NOT NULL""".stripMargin),
  )
}
