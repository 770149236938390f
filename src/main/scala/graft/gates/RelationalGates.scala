package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.pipeline.Materialize

import Shared._

/** Relational operators over the TPC-H tables: aggregations,
  * joins, windows, set operations, sketches, time-series shapes and the
  * Z-order layout key.
  */
private[graft] object RelationalGates {

  /** TPC-H Q1-shaped aggregation (SURVEY §2.7 aggregations). */
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Broadcast-hash join: per-nation revenue. The dimension side (customer ⋈
    * nation, small) is explicitly broadcast so the 100 TB fact scan never
    * shuffles (SURVEY §2.7 joins).
    */
  private def qJoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    o.join(broadcast(c.join(broadcast(n),
        c("c_nationkey") === n("n_nationkey"))),
        o("o_custkey") === c("c_custkey"))
      .groupBy("n_name")
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")
  }

  /** Salted skew join ([[graft.pipeline.Skew.saltedJoin]]) value gate:
    * the orders⋈customer equi-join run through the salt-spread path
    * (every left row salted into 8 reducer lanes, the right side
    * replicated 8×, join key (key, salt)) must produce EXACTLY the
    * plain join — DuckDB replays the unsalted join, so any salt-lane
    * mismatch (a row joined in the wrong lane, a replica double-count,
    * a dropped salt) diverges per row. Salting is the pre-spread
    * answer to a hot key that AQE's skew-join can't reach
    * (broadcast-ineligible stream-static joins, aggregation state):
    * correctness must be INDEPENDENT of salt placement, which is
    * precisely what this row pins. The reducer-spread property itself
    * is spec-asserted (MiscOpsSpec's salted-join tests).
    */
  private def qSkewJoin(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Skew.saltedJoin(
        t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        t(s, dir, "customer").select("c_custkey", "c_name"),
        "o_custkey", "c_custkey", salts = 8)
      .select("o_orderkey", "o_custkey", "c_name")
      .orderBy("o_orderkey")

  /** Two-phase salted aggregation ([[graft.pipeline.Skew.saltedCount]])
    * value gate: per-supplier lineitem counts computed as
    * (key, salt)-partials merged per key must equal the plain GROUP BY
    * — the explicit partial→final split that bounds any one reducer's
    * state when a key is pathologically hot and the per-key state is
    * too large for map-side combine alone. DuckDB replays the plain
    * aggregate; a lost or double-merged partial diverges on that key.
    */
  private def qSkewAgg(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Skew.saltedCount(
        t(s, dir, "lineitem").select("l_suppkey"), "l_suppkey", salts = 8)
      .orderBy("l_suppkey")

  /** HLL distinct-count gate (`approx_count_distinct`, Spark's
    * HyperLogLog++ — the sketch that replaces an exact
    * shuffle-the-world COUNT(DISTINCT) at 100 TB with O(2^p) bytes per
    * group): per order priority, the EXACT distinct customer count
    * (DuckDB-re-derived) plus a pinned `hll_ok` — the sketch estimate
    * must sit within 3·rsd of the exact count (rsd = 0.02, so ±6%;
    * HLL++'s standard-error bound, deterministic here because the
    * sketch hash is fixed). The estimate itself is NOT emitted (no
    * second engine derives it bit-for-bit BY DESIGN — only the
    * documented accuracy contract is portable, the
    * `q_percentile_gk_parity` pattern). Exact distinct rides the same
    * row only as the gate's witness.
    */
  private def qHllDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_exact"),
        approx_count_distinct(col("o_custkey"), 0.02).as("__hll"))
      .select(col("o_orderpriority"), col("n_exact"),
        (abs(col("__hll") - col("n_exact")).cast("double") <=
          col("n_exact").cast("double") * 0.06).as("hll_ok"))
      .orderBy("o_orderpriority")

  /** HLL sketch MERGEABILITY gate (`hll_sketch_agg` /
    * `hll_union_agg` — Spark's Apache DataSketches HLL): the algebraic
    * property the whole 100 TB sketch story rests on is that per-shard
    * sketches union into the global answer WITHOUT revisiting rows —
    * count-distinct becomes an O(2^lgK)-bytes-per-shard commutative
    * monoid, so 1000 executors each sketch locally and a tree-reduce
    * merges registers. The gate builds 8 per-shard sketches of
    * o_custkey (shard = o_orderkey % 8 — every shard sees an arbitrary
    * slice of the key space, so every distinct custkey lands in MANY
    * shards) AND 16 per-shard sketches under a completely different
    * partitioning (shard = o_custkey % 16 — every distinct custkey in
    * exactly ONE shard), and pins: the two unions' estimates are
    * EXACTLY equal (max-of-registers is partition-invariant — any
    * drift means a union lost register state; the raw one-pass
    * estimate is deliberately NOT pinned equal: a directly-built
    * sketch reports the order-dependent HIP estimator, a real
    * multi-sketch union the composite estimator, and past sparse mode
    * they legitimately differ — measured at sf0.1) — and that both the
    * merged and the direct HIP estimate sit within the documented
    * accuracy of the DuckDB-re-derived exact distinct (lgConfigK = 12
    * → rsd ≈ 1.63%, 3·rsd ≈ 5%). One exact COUNT(DISTINCT) rides along
    * as the gate's witness only.
    */
  private def qHllMerge(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    // the 8 per-shard sketches, computed ONCE (Materialize) and
    // reused by both union plans — the equality under test must compare
    // two union TOPOLOGIES over the identical sketch set, not two
    // rebuilds
    val shards = Materialize(o
      .groupBy(pmod(col("o_orderkey"), lit(8)).as("__shard"))
      .agg(expr("hll_sketch_agg(o_custkey, 12)").as("__sk")))
    // flat union vs the tree union a 1000-executor merge actually runs
    // (partial unions per pair of shards, then a union of partials):
    // ASSOCIATIVITY is the mergeability property distributed aggregation
    // rests on, and it must hold to the BIT. (Cross-GRANULARITY shard
    // unions are NOT bit-comparable — measured: with 1,500 distinct
    // keys a 16-way custkey sharding keeps every shard AND the union in
    // exact sparse/coupon mode, estimate exactly n, while the 8-way
    // orderkey sharding's ~900-distinct shards cross into dense HLL
    // registers, composite estimate n±ε — the sparse/dense sibling of
    // the HIP-vs-composite finding on one-pass sketches. Both must
    // still land inside the accuracy band, pinned below.)
    val flat = shards
      .agg(expr("hll_sketch_estimate(hll_union_agg(__sk))").as("__flat"))
    val staged = shards
      .groupBy(pmod(col("__shard"), lit(2)).as("__g"))
      .agg(expr("hll_union_agg(__sk)").as("__psk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(__psk))")
        .as("__staged"))
    val byCust = o
      .groupBy(pmod(col("o_custkey"), lit(16)).as("__shard"))
      .agg(expr("hll_sketch_agg(o_custkey, 12)").as("__sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(__sk))").as("__m16"))
    val global = o.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, 12))")
        .as("__global"),
      countDistinct(col("o_custkey")).as("n_exact"))
    global.crossJoin(flat).crossJoin(staged).crossJoin(byCust) // 1×1 attach
      .select(col("n_exact"),
        (col("__flat") === col("__staged")).as("merge_exact_ok"),
        (abs(col("__flat") - col("n_exact")).cast("double") <=
          col("n_exact").cast("double") * 0.05 &&
          abs(col("__m16") - col("n_exact")).cast("double") <=
            col("n_exact").cast("double") * 0.05).as("merged_bound_ok"),
        (abs(col("__global") - col("n_exact")).cast("double") <=
          col("n_exact").cast("double") * 0.05).as("global_bound_ok"))
  }

  /** Bucketed co-located join value gate: both sides written as
    * 8-bucket tables on the join key (`bucketBy` + `saveAsTable` — the
    * pre-partitioning a 100 TB deployment gives its recurring
    * fact⋈fact joins so NEITHER side ever shuffles again), then joined
    * and aggregated per market segment. DuckDB replays the plain
    * parquet join, so the bucketed write→catalog→bucket-aware-scan
    * round trip must be value-identical to the unbucketed path; the
    * shuffle-free plan property itself (no Exchange on either side
    * under sort-merge) is spec-asserted (BucketedJoinSpec). Build is
    * eager (the bucketed layout lands in a scratch warehouse before
    * the gate frame is returned); repeats overwrite.
    */
  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val wh = scratchDir("q-bucketed-join")
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").mode("overwrite")
      .saveAsTable("graft_q_orders_b")
    t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").mode("overwrite")
      .saveAsTable("graft_q_customer_b")
    s.table("graft_q_orders_b")
      .join(s.table("graft_q_customer_b"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q5-shaped 6-way join (region→nation→customer→orders→lineitem→
    * supplier with the local-supplier condition), dims broadcast.
    */
  private def q5MultiJoin(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy("n_name")
  }

  /** Window top-k per group: 3 highest-value orders per customer. */
  private def qWindowTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
      .orderBy("o_custkey", "rk")
  }

  /** Window running/offset functions: running revenue, lag, rank per
    * customer over a total order (exact decimal running sum).
    */
  private def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("running_spend",
        sum(dec(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("prev_order", lag(col("o_orderkey"), 1).over(w))
      .withColumn("rk", rank().over(w).cast("bigint"))
      .select("o_custkey", "o_orderkey", "running_spend", "prev_order", "rk")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Global sort + limit (top-k). */
  private def qSortLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
      .limit(100)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")

  /** Set operations: UNION DISTINCT ∪, then EXCEPT. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val rich = c.filter(col("c_acctbal") > 5000).select("c_custkey")
    val nation0 = c.filter(col("c_nationkey") === 0).select("c_custkey")
    building.union(rich).distinct().except(nation0).orderBy("c_custkey")
  }

  /** ROLLUP hierarchy aggregate over region→nation. Declared through
    * `spark.sql` over temp views: a projection rename does not break the
    * join lineage for Spark's ambiguity check, a view boundary does.
    */
  private def qRollup(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("g_nation")
    t(s, dir, "region").createOrReplaceTempView("g_region")
    t(s, dir, "customer").createOrReplaceTempView("g_customer")
    s.sql(
      """SELECT COALESCE(r_name, 'ALL') AS r_name,
        |       COALESCE(n_name, 'ALL') AS n_name,
        |       COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM g_customer
        |JOIN g_nation ON c_nationkey = n_nationkey
        |JOIN g_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin)
  }

  /** CUBE aggregate (all grouping sets) over returnflag × linestatus. */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n_rows"), col("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Explicit GROUPING SETS (the general form behind rollup/cube): per
    * returnflag, per linestatus, and grand total in one aggregate pass.
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
    s.sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM g_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)
  }

  /** Distribution window functions: quartile (ntile), percent_rank and
    * cume_dist per order-priority partition, via
    * [[graft.pipeline.RankStats]] rather than
    * `Window.partitionBy(o_orderpriority)` — the priority column has 5
    * distinct values, so the window plan sorts ~20% of the table on one
    * task; RankStats range-shuffles instead and computes identical values
    * with no giant partition. The ordering ends in the unique o_orderkey,
    * hence `assumeTotalOrder = true` (rank == row index, deterministic
    * across engines).
    */
  private def qWindowDist(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.RankStats.withRankStats(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority",
          "o_totalprice"),
        groupCols = Seq("o_orderpriority"),
        orderCols = Seq("o_totalprice", "o_orderkey"), nTiles = 4,
        tileCol = "quartile", pctRankCol = "pct_rank",
        cumeDistCol = "cdist", assumeTotalOrder = true)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("quartile").cast("bigint").as("quartile"),
        col("pct_rank"), col("cdist"))
      .orderBy("o_orderkey")

  /** INTERSECT set op: customers that are both BUILDING-segment and
    * positive-balance.
    */
  private def qIntersect(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      .intersect(c.filter(col("c_acctbal") > 0).select("c_custkey"))
      .orderBy("c_custkey")
  }

  /** Exact percentiles per group as three scalar columns (the driver's
    * hash compare can't digest an array column): ONE
    * `percentile(col, array(…))` buffer for all three probabilities —
    * see [[graft.pipeline.Percentiles.exactQuantiles]]. The approximate
    * production path for 100 TB group sizes is
    * [[graft.pipeline.Percentiles.approxQuantiles]] — see SCALING.md
    * §Percentiles.
    */
  private def qPercentile(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Percentiles.exactQuantiles(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", Seq(0.25, 0.5, 0.75))
      .orderBy("l_returnflag")

  /** Production-path parity row for GK approximate quantiles (the r9
    * verdict's third production variant): `percentile_approx`'s
    * Greenwald–Khanna sketch guarantees a returned value whose RANK is
    * within n/accuracy of the target — a contract an ANSI oracle can't
    * re-derive value-for-value (the sketch is engine-specific), so the
    * driver gate instead pins the GUARANTEE: per (group, probability),
    * compare the estimate's exact rank interval [cntLT+1, cntLE]
    * against the target ± n/accuracy (± 1 for rank-convention slack)
    * and emit the boolean. Any estimate drifting outside its error
    * bound turns a row false against the all-true oracle.
    */
  private def qPercentileGkParity(s: SparkSession, dir: String): DataFrame = {
    val probs = Seq(0.25, 0.5, 0.75)
    val acc = 1000
    val li = t(s, dir, "lineitem")
    val gk = graft.pipeline.Percentiles.approxQuantiles(li,
      Seq("l_returnflag"), "l_extendedprice", probs, acc)
    val est = gk.select(col("l_returnflag"),
      explode(map(probs.flatMap(p => Seq(lit(p),
        col(graft.pipeline.Percentiles.defaultNames(Seq(p)).head))): _*))
        .as(Seq("prob", "est")))
    li.select(col("l_returnflag"),
        col("l_extendedprice").cast("double").as("__v"))
      .join(est, Seq("l_returnflag"))
      .groupBy("l_returnflag", "prob", "est")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__v") < col("est"), 1L).otherwise(0L)).as("__lt"),
        sum(when(col("__v") <= col("est"), 1L).otherwise(0L)).as("__le"))
      .select(col("l_returnflag"), col("prob"),
        ((col("__lt") + 1 <= col("prob") * col("__n")
            + col("__n") / acc + 1) &&
          (col("__le") >= col("prob") * col("__n")
            - col("__n") / acc - 1)).as("within_bound"))
      .orderBy("l_returnflag", "prob")
  }

  /** Histogram: fixed-width price buckets (integer-exact binning). */
  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(floor(col("l_extendedprice") / 10000).cast("bigint")
        .as("price_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("price_bucket")

  /** Pivot: revenue matrix returnflag × linestatus (wide aggregation). */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double"))
      .withColumnRenamed("F", "rev_f").withColumnRenamed("O", "rev_o")
      .orderBy("l_returnflag")

  /** Exact + grouped distinct aggregation. */
  private def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Left-semi join (EXISTS): customers having at least one high-value order. */
  private def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no order above 150k. */
  private def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** GROUP BY + HAVING. */
  private def qHaving(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("spend"))
      .filter(col("n_orders") >= 15)
      .orderBy("o_custkey")

  /** Scalar subquery: customers above the global mean balance (exact
    * decimal mean → deterministic threshold).
    */
  private def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val thr = c.agg((sum(dec(col("c_acctbal"))).cast("double") /
      count(lit(1))).as("thr"))
    c.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("thr"))
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Semi-structured JSON: extract props.k from events, aggregate. */
  private def qJson(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("k_mod")

  /** Batch analog of the streaming tumbling window: hourly event counts
    * (the streaming variant lives in graft.streaming.StreamMask, checked for
    * batch-equivalence by StreamingMaskSpec; SURVEY §2.10).
    */
  private def qTimeBucket(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      // date_trunc re-zones its NTZ input; cast back so the written parquet
      // stays timestamp[us] with no tz (matches DuckDB's naive TIMESTAMP)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy("hour", "event_type")

  /** Sessionization (gaps-and-islands): per-user sessions split at >30 min
    * silence, with event counts and duration — the batch analog of
    * streaming `session_window` (graft.streaming.StreamMask.sessionStats).
    * Computed on epoch-micros longs so the oracle arithmetic is
    * integer-exact.
    */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000000L
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    // work on epoch micros whatever the fixture encoding (see tsMicros):
    // the oracle engine reads the column at microsecond precision, so
    // arithmetic on full nanos would disagree by 1 whenever a duration
    // straddles a boundary
    val ev = t(s, dir, "events")
    ev.withColumn("tsu", tsMicros(ev))
      .withColumn("prev_ts", lag(col("tsu"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull || col("tsu") - col("prev_ts") > gapUs,
          lit(1)).otherwise(lit(0)))
      .withColumn("session_id", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        expr("(max(tsu) - min(tsu)) DIV 1000").as("dur_ms"))
      .orderBy("user_id", "session_id")
  }

  /** Events with microsecond epoch timestamps (schema-adaptive — see
    * [[tsMicros]]) and orders with their date as epoch micros: the shared
    * inputs of the as-of/range queries. Both time columns go through
    * [[tsMicros]], so either standard parquet encoding (raw nanos longs
    * or timestamp[us]) yields the same epoch micros DuckDB's epoch_us
    * sees (the session is UTC, so the NTZ→zoned cast is
    * instant-preserving).
    */
  private def eventsUs(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.select(col("event_id"), col("user_id"), tsMicros(ev).as("ts_us"))
  }

  private def ordersUs(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.select(col("o_custkey"), tsMicros(o, "o_orderdate").as("ot"),
      col("o_orderkey"), col("o_totalprice"))
  }

  /** Backward as-of join (see [[graft.pipeline.AsOf]]): each event aligned
    * to the user's most recent order at-or-before the event time — the
    * union+window composition, |L|+|R| work instead of a range-join
    * explosion.
    */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = eventsUs(s, dir)
    val o = ordersUs(s, dir)
    graft.pipeline.AsOf.asofJoin(e, o,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts_us", rightTime = "ot",
        rightTiebreak = "o_orderkey",
        payloadCols = Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "user_id", "ts_us", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** Range-window aggregate without a range join (see
    * [[graft.pipeline.AsOf.rangeCount]]): orders per user in the 10,000
    * days before each event. The lookback deliberately lands INSIDE the
    * fixtures' order-date range (orders 1995–2001, events 2024): a 7-day
    * window would match zero orders everywhere and verify nothing — this
    * one produces per-event counts whose lower boundary moves through the
    * order history, exercising both interval edges.
    */
  private def qRangeCount(s: SparkSession, dir: String): DataFrame = {
    val e = eventsUs(s, dir)
    val o = ordersUs(s, dir).select("o_custkey", "ot")
    graft.pipeline.AsOf.rangeCount(e, o,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts_us", rightTime = "ot",
        lookback = 10000L * 24 * 3600 * 1000000L, outCol = "n_orders_win")
      .orderBy("event_id")
  }

  /** events.parquet with `ts` normalized to TIMESTAMP_NTZ at microsecond
    * precision, whichever of the two standard parquet encodings the fixture
    * carries (raw TIMESTAMP(NANOS) longs under the legacy flag, or
    * timestamp[us] — see [[tsMicros]]). Kept timezone-naive to match
    * DuckDB's naive TIMESTAMP: a zoned Spark timestamp would write
    * isAdjustedToUTC=true parquet and fail the strict schema compare.
    */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.withColumn("ts",
      timestamp_micros(tsMicros(ev)).cast("timestamp_ntz"))
  }

  /** Z-order (Morton) key over two lineitem dimensions
    * ([[graft.pipeline.Layout.zorder]]) — the clustering key behind
    * multi-dimensional data layout. Pure codegen bit arithmetic, and
    * fully value-oracled: DuckDB recomputes the interleave bit by bit,
    * so a lane swap, an off-by-one shift, or a sign-extension bug
    * diverges on every row. (The layout WRITE and its locality win are
    * plan/file-level properties, asserted in the spec — the gate row
    * pins the key math the layout rests on.)
    */
  private def qZorder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("bigint")
          .as("l_linenumber"),
        graft.pipeline.Layout.zorder(10,
          pmod(col("l_partkey"), lit(1024)),
          pmod(col("l_suppkey"), lit(1024))).as("zval"))
      .orderBy("l_orderkey", "l_linenumber")

  val gates: Seq[Gate] = Seq(
    Gate("q1_agg", q1Agg,
      s"""SELECT l_returnflag, l_linestatus,
         |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |  (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
         |COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("q_join_broadcast", qJoinBroadcast,
      s"""SELECT n_name,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
         |COUNT(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Gate("q_skew_join", qSkewJoin,
      // the UNSALTED join: salting must be invisible in the result
      s"""SELECT o_orderkey, o_custkey, c_name
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_orderkey""".stripMargin),
    Gate("q_skew_agg", qSkewAgg,
      // the plain GROUP BY the partial->final split must reproduce
      s"""SELECT l_suppkey, COUNT(*) AS n
         |FROM lineitem GROUP BY l_suppkey
         |ORDER BY l_suppkey""".stripMargin),
    Gate("q_hll_distinct", qHllDistinct,
      // exact distinct re-derived; hll_ok pinned TRUE — the sketch
      // estimate must sit inside its documented 3·rsd accuracy band
      s"""SELECT o_orderpriority,
         |COUNT(DISTINCT o_custkey) AS n_exact,
         |TRUE AS hll_ok
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin),
    Gate("q_hll_merge", qHllMerge,
      // exact distinct re-derived; the three booleans pinned TRUE —
      // flat union == tree union over the SAME shard sketches
      // (associativity, the distributed-merge contract), and every
      // union estimate inside the lgK=12 accuracy band
      s"""SELECT COUNT(DISTINCT o_custkey) AS n_exact,
         |TRUE AS merge_exact_ok,
         |TRUE AS merged_bound_ok,
         |TRUE AS global_bound_ok
         |FROM orders""".stripMargin),
    Gate("q_bucketed_join", qBucketedJoin,
      // the plain parquet join: the bucketed write->catalog->scan
      // round trip must be value-identical
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Gate("q5_multijoin", q5MultiJoin,
      s"""SELECT n_name,
         |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |  (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Gate("q_window_topk", qWindowTopk,
      s"""SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
         |SELECT o_custkey, o_orderkey, o_totalprice,
         |row_number() OVER (PARTITION BY o_custkey
         |  ORDER BY o_totalprice DESC, o_orderkey) AS rk
         |FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin),
    Gate("q_window_running", qWindowRunning,
      s"""SELECT o_custkey, o_orderkey,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
         |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
         |lag(o_orderkey, 1) OVER (
         |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
         |rank() OVER (
         |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rk
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    Gate("q_sort_limit", qSortLimit,
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         |LIMIT 100""".stripMargin),
    Gate("q_setops", qSetOps,
      s"""SELECT * FROM (
         |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         |UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         |EXCEPT SELECT c_custkey FROM customer WHERE c_nationkey = 0
         |) ORDER BY c_custkey""".stripMargin),
    Gate("q_intersect", qIntersect,
      s"""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         |INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 0
         |ORDER BY c_custkey""".stripMargin),
    Gate("q_cube", qCube,
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
         |COALESCE(l_linestatus, 'ALL') AS l_linestatus,
         |COUNT(*) AS n_rows,
         |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("q_rollup", qRollup,
      s"""SELECT COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
         |COUNT(*) AS n_cust,
         |CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name) ORDER BY r_name, n_name""".stripMargin),
    Gate("q_grouping_sets", qGroupingSets,
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
         |COALESCE(l_linestatus, 'ALL') AS ls,
         |COUNT(*) AS n_rows,
         |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY rf, ls""".stripMargin),
    Gate("q_window_dist", qWindowDist,
      // (price, orderkey) is a total order, so ntile/percent_rank/
      // cume_dist are engine-independent; the rank ratios are exact
      // int/int double divisions
      s"""SELECT o_orderkey, o_orderpriority,
         |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         |percent_rank() OVER w AS pct_rank,
         |cume_dist() OVER w AS cdist
         |FROM orders
         |WINDOW w AS (PARTITION BY o_orderpriority
         |             ORDER BY o_totalprice, o_orderkey)
         |ORDER BY o_orderkey""".stripMargin),
    Gate("q_pivot", qPivot,
      s"""SELECT l_returnflag,
         |CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_f,
         |CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_o
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Gate("q_percentile", qPercentile,
      s"""SELECT l_returnflag,
         |quantile_cont(l_extendedprice, 0.25) AS p25,
         |quantile_cont(l_extendedprice, 0.5) AS p50,
         |quantile_cont(l_extendedprice, 0.75) AS p75
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Gate("q_percentile_gk_parity", qPercentileGkParity,
      // the GK sketch is engine-specific, so the oracle pins the
      // CONTRACT, not the values: every (group, probability) estimate
      // must sit within its rank-error bound (checked Spark-side
      // against exact ranks) — all-true, one row per group × prob
      s"""SELECT l_returnflag, unnest([0.25, 0.5, 0.75]) AS prob,
         |       true AS within_bound
         |FROM (SELECT DISTINCT l_returnflag FROM lineitem)
         |ORDER BY l_returnflag, prob""".stripMargin),
    Gate("q_histogram", qHistogram,
      s"""SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS price_bucket,
         |COUNT(*) AS n,
         |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_distinct_agg", qDistinctAgg,
      s"""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
         |COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Gate("q_semi_join", qSemiJoin,
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         |ORDER BY c_custkey""".stripMargin),
    Gate("q_anti_join", qAntiJoin,
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey AND o_totalprice > 150000)
         |ORDER BY c_custkey""".stripMargin),
    Gate("q_having", qHaving,
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
         |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
         |ORDER BY o_custkey""".stripMargin),
    Gate("q_scalar_subquery", qScalarSubquery,
      s"""SELECT c_custkey, c_name, c_acctbal FROM customer
         |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
         |  FROM customer)
         |ORDER BY c_custkey""".stripMargin),
    Gate("q_json", qJson,
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) % 10 AS k_mod,
         |COUNT(*) AS n,
         |CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_time_bucket", qTimeBucket,
      s"""SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
         |CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q_sessionize", qSessionize,
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
         |m AS (SELECT user_id, event_id, tsu,
         |  CASE WHEN lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) IS NULL
         |         OR tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) > 1800000000
         |       THEN 1 ELSE 0 END AS new_s FROM e),
         |s AS (SELECT user_id, event_id, tsu,
         |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  (MAX(tsu) - MIN(tsu)) // 1000 AS dur_ms
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q_asof_join", qAsofJoin,
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
         |o AS (SELECT o_custkey, epoch_us(o_orderdate) AS ot, o_orderkey, o_totalprice FROM orders),
         |m AS (SELECT e.event_id, e.user_id, e.ts_us, o.o_orderkey, o.o_totalprice,
         |  row_number() OVER (PARTITION BY e.event_id
         |    ORDER BY o.ot DESC, o.o_orderkey DESC) AS rk
         |  FROM e JOIN o ON o.o_custkey = e.user_id AND o.ot <= e.ts_us)
         |SELECT event_id, user_id, ts_us, o_orderkey, o_totalprice
         |FROM m WHERE rk = 1
         |UNION ALL
         |SELECT e.event_id, e.user_id, e.ts_us, NULL, NULL FROM e
         |WHERE NOT EXISTS (SELECT 1 FROM o
         |  WHERE o.o_custkey = e.user_id AND o.ot <= e.ts_us)
         |ORDER BY event_id""".stripMargin),
    Gate("q_range_count", qRangeCount,
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
         |o AS (SELECT o_custkey, epoch_us(o_orderdate) AS ot FROM orders)
         |SELECT e.event_id, e.user_id, e.ts_us, COUNT(o.ot) AS n_orders_win
         |FROM e LEFT JOIN o ON o.o_custkey = e.user_id
         |  AND o.ot > e.ts_us - ${10000L * 24 * 3600 * 1000000L} AND o.ot <= e.ts_us
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
    Gate("q_zorder", qZorder, {
      // recompute the interleave bit by bit: ((x>>i)&1) << (2i) lanes x,
      // ((y>>i)&1) << (2i+1) lanes y
      val terms = (for {
        j <- 0 to 1
        i <- 0 until 10
      } yield s"(((${if (j == 0) "x" else "y"} >> $i) & 1) << ${i * 2 + j})")
        .mkString(" | ")
      s"""WITH b AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem)
         |SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zval
         |FROM b ORDER BY l_orderkey, l_linenumber""".stripMargin
    }),
  )
}
