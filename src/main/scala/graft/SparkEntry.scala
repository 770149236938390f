package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType,
  StringType, TimestampNTZType, TimestampType}

import graft.functions.Gen
import graft.pipeline.{Dedup, Linkage, Materialize, Multimodal, Pq, Privacy,
  Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 (or a
  * north-star extension) exercised end-to-end through the library; entries in
  * [[oracleSql]] are DuckDB-equivalent ANSI SQL on the same parquet tables.
  * Column names are aliased identically on both sides; both sides ORDER BY a
  * total order so row order matches byte-for-byte.
  *
  * Float discipline for oracle parity: double aggregations are computed over
  * DECIMAL(12,2) casts (exact, order-independent) and cast back to DOUBLE at
  * the end, so Spark's nondeterministic partial-agg order can never flip a
  * bit vs DuckDB.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Microsecond epoch from a fixture timestamp column, whatever encoding
    * it arrived in. A parquet lake mixes two standard encodings of the same
    * data: TIMESTAMP(NANOS), which Spark reads as raw long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong` (truncated to micros here —
    * exactly DuckDB's own nanos→micros truncation), and
    * TIMESTAMP(MICROS)/NTZ, which arrives as a timestamp column (NTZ is
    * decomposed into wall-clock fields, so the micros match DuckDB's
    * epoch_us in ANY session timezone, not just UTC). Anything
    * else fails loudly with the column name and actual type, so fixture
    * schema drift is one diagnosable error at first read instead of a
    * scatter of DATATYPE_MISMATCH failures downstream.
    */
  private[graft] def tsMicros(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case LongType => expr(s"`$name` DIV 1000")
      // NTZ decomposed into wall-clock fields (all tz-independent on an
      // NTZ input) rather than cast through zoned TIMESTAMP, so the value
      // no longer rides on the Verify/Bench UTC-session contract — an
      // externally-built session in any timezone reads the same micros
      case TimestampNTZType =>
        unix_date(col(name).cast(DateType)).cast("long") * 86400000000L +
          hour(col(name)).cast("long") * 3600000000L +
          minute(col(name)).cast("long") * 60000000L +
          (expr(s"extract(SECOND FROM `$name`)") * 1000000).cast("long")
      case TimestampType => unix_micros(col(name))
      // a parquet DATE (o_orderdate's canonical TPC-H type) converts as
      // midnight UTC — via the tz-independent day count, NOT a cast
      // through TIMESTAMP (which would shift by the session timezone on
      // an externally-built session) — the same instant DuckDB's
      // epoch_us(DATE) derives
      case DateType => unix_date(col(name)).cast("long") * 86400000000L
      case other => throw new IllegalArgumentException(
        s"timestamp column '$name': expected raw long nanos, a " +
          s"timestamp type, or a date, got $other")
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("mask_blueprint_full")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- masking
  private def anon(spark: SparkSession, dir: String) =
    new Anonymizer(spark, new ParquetIO(spark, dir))

  /** R1 static replacement (SURVEY §2.3 R1). */
  private def maskStatic(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_mktsegment").replaceWith("MASKED")
    }.plan()("customer").orderBy("c_custkey")

  /** R2 `#row#` template (SURVEY §2.3 R2). */
  private def maskRownum(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_name").replaceWith("cust_#row#")
    }.plan()("customer").orderBy("c_custkey")

  /** R3-style deterministic scalar expression (hash-derived email). */
  private def maskHash(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_name").replaceWithExpr(r =>
        concat(substring(md5(r("c_custkey").cast("string")), 1, 12),
          lit("@example.com")))
    }.plan()("customer").orderBy("c_custkey")

  /** P2 per-column where → CASE WHEN (SURVEY §2.2 P2). */
  private def maskWhere(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_mktsegment").where("c_acctbal > 0").replaceWith("MASKED")
    }.plan()("customer").orderBy("c_custkey")

  /** P1 globalWhere: non-matching rows byte-identical (SURVEY §2.2 P1). */
  private def maskGlobalWhere(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.globalWhere("c_acctbal > 0 AND c_nationkey <> 10")
      b.column("c_name").replaceWith("X-#row#")
    }.plan()("customer").orderBy("c_custkey")

  /** R4 construct-uniqueness (SURVEY §2.3 R4, §7.4.2). */
  private def maskUnique(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_name").replaceWithExpr(r =>
        concat(lit("user"), r("c_custkey").cast("string"),
          lit("@example.com")))
    }.plan()("customer").orderBy("c_custkey")

  /** R5 position-sensitivity: the second rule sees the first rule's output
    * (SURVEY §2.3 R5; reference src/Anonymizer.php:350–357).
    */
  private def maskFields(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_name").replaceWithExpr(r =>
        concat(lit("N"), r("c_custkey").cast("string")))
      b.column("c_mktsegment").replaceWithExpr(r =>
        concat(r("c_name"), lit("-SEG")))   // new value of c_name
    }.plan()("customer").orderBy("c_custkey")

  /** F1/F2 referential-integrity propagation: masked customer pk cascades
    * into orders.o_custkey by value-matching join (SURVEY §2.5).
    */
  private def fkSync(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_custkey")
        .replaceWithExpr(r => r("c_custkey") + lit(1000000L))
        .synchronizeColumn("orders" -> "o_custkey")
    }.plan()("orders").orderBy("o_orderkey")

  /** The reference's example.php scenario shape, all rule kinds at once:
    * used as the flagship `entry`.
    */
  private def maskBlueprintFull(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.globalWhere("c_acctbal > -9999999")
      b.column("c_name").replaceWith("cust_#row#")
      b.column("c_mktsegment").where("c_acctbal > 0").replaceWith("MASKED")
    }.plan()("customer").orderBy("c_custkey")

  /** R3/R4 generator registry on the portable (md5) seed, full value oracle:
    * a two-formatter name column plus a construct-unique email — every
    * generated value is re-derived by the DuckDB oracle. The xxhash64
    * production seed path is covered by GenSpec determinism/injectivity
    * tests (its values are not SQL-derivable by design).
    */
  private def maskGenerators(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.seedWith(cols => Gen.seedPortable(cols: _*))
      b.column("c_name").replaceWithGenerator("portableName")
      b.column("c_mktsegment").replaceWithGenerator("portableEmail", unique = true)
    }.plan()("customer").orderBy("c_custkey")

  // ------------------------------------------------------------- relational
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

  /** R5 whole-row closure (reference src/Blueprint.php:211–216): the second
    * rule's closure sees the first rule's masked c_name — position
    * sensitivity through the UDF path.
    */
  private def maskFieldsClosure(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_name").replaceWithExpr(r =>
        concat(lit("N"), r("c_custkey").cast("string")))
      b.column("c_mktsegment").replaceByFields(StringType)(r =>
        r.getAs[String]("c_name") + "|" + r.getAs[String]("c_mktsegment"))
    }.plan()("customer").orderBy("c_custkey")

  /** Composite primary key (reference src/Blueprint.php:229–248,
    * example.php:12): `#row#` numbering ordered by the two-part key.
    * The fixture's (l_orderkey, l_linenumber) is NOT unique, so the
    * numbering order is extended over every remaining column — a total
    * order (up to fully-identical rows, which are interchangeable), making
    * tie assignment engine-independent instead of sort-luck.
    */
  private val lineitemOrder = Seq("l_orderkey", "l_linenumber", "l_partkey",
    "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
  // output ordering: the unmasked columns, then the masked flag (unique per
  // row) last — a total order over the OUTPUT, so tied source rows can't
  // surface in engine-dependent order either
  private val lineitemOutOrder =
    lineitemOrder.filterNot(_ == "l_returnflag") :+ "l_returnflag"

  private def maskCompositePk(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("lineitem") { b =>
      b.primary("l_orderkey", "l_linenumber")
      b.rowNumberOrderBy(lineitemOrder: _*)
      b.column("l_returnflag").replaceWith("F#row#")
    }.plan()("lineitem")
      .orderBy(lineitemOutOrder.map(col): _*)

  /** Generator registry with the portable (md5-seeded) path, so the oracle
    * can re-derive every generated value — closes the `no_oracle` gap on the
    * generator family.
    */
  private def maskGeneratorOracle(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.seedWith(cols => Gen.seedPortable(cols: _*))
      b.column("c_name").replaceWithGenerator("portableFirstName")
    }.plan()("customer").orderBy("c_custkey")

  /** Format-preserving pseudonymization of the customer name: digits
    * stay digits, letters keep their case class, separators pass
    * through — "Customer#000000012" masks to the same shape, and equal
    * inputs mask equal (value-keyed seed), so joins on the masked key
    * keep joining. Every character re-derived by DuckDB: the row seed
    * is md5('fp18|' || value) and each position's shift the first
    * hex-nibble pair of md5(seed || '#' || i).
    */
  private def maskFormatPreserving(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        Gen.portableFormatPreserving(col("c_name"), "fp18")
          .as("c_name_masked"))
      .orderBy("c_custkey")

  /** Consistent date shifting over orders: every order of the same
    * customer moves by the same whole-day offset in [−90, +90]
    * (48-bit md5 coin of 'ds18|custkey'), so each customer's order
    * cadence is preserved exactly while absolute dates anonymize —
    * HIPAA-style longitudinal masking. Every offset and shifted
    * timestamp re-derived by DuckDB.
    */
  private def maskDateShift(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        Gen.portableDateShift(col("o_orderdate"), col("o_custkey"),
          "ds18", maxDays = 90).as("o_orderdate_shifted"))
      .orderBy("o_orderkey")

  /** The cross-TABLE consistency claim of format-preserving masking,
    * gated end to end (Gen.portableFormatPreserving promises equal
    * source values mask equal "across rows and tables (join keys keep
    * joining — the synchronizeColumn property, for free)"): the
    * custkey is masked INDEPENDENTLY in customer and in orders with
    * the same secret, the tables join on the raw FK, and per customer
    * the row carries (a) the masked key derived from the ORDERS side —
    * every character re-derived by the DuckDB oracle from the customer
    * table, so a cross-table drift in either invocation hash-fails —
    * (b) the raw-join order count (identical pair cardinality: the
    * oracle counts the same FK join), and (c) `sync_ok`, pinned TRUE
    * only when BOTH independent maskings agree on every matched pair
    * and are constant within the group. The fk_sync pattern, for the
    * masker family that gets synchronization by value-determinism
    * instead of by cascade.
    */
  private def maskFpSync(s: SparkSession, dir: String): DataFrame = {
    val mc = t(s, dir, "customer").select(col("c_custkey"),
      Gen.portableFormatPreserving(col("c_custkey").cast("string"),
        "fps19").as("ck_m_cust"))
    val mo = t(s, dir, "orders").select(col("o_custkey"),
      Gen.portableFormatPreserving(col("o_custkey").cast("string"),
        "fps19").as("ck_m_ord"))
    mc.join(mo, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"))
      .agg(
        min(col("ck_m_ord")).as("custkey_masked"),
        count(lit(1)).as("n_orders"),
        (max(col("ck_m_ord")) === min(col("ck_m_ord")) &&
          sum(when(col("ck_m_cust") === col("ck_m_ord"), lit(0))
            .otherwise(lit(1))) === 0).as("sync_ok"))
      .orderBy("c_custkey")
  }

  // ------------------------------------------------- LLM-pipeline extensions
  /** Fan out an UNDER-PARALLEL base-table scan (guide §2.5's input-skew
    * remedy — "one huge unsplittable file … repartition immediately
    * after the read"): when the source yields fewer splits than the
    * cluster's parallelism (one small parquet file = one row group = one
    * task on the fixtures), every CPU-heavy narrow chain downstream —
    * tokenize + explode, media decode, per-row winnowing — serializes on
    * those few tasks while the rest of the cluster idles. Round-robin
    * repartition to the default parallelism; the guard keys on the
    * SCAN's split count, so at real corpus scale (files ≥ cores) this is
    * a no-op and no payload shuffle is ever added. Call it on
    * freshly-scanned frames only — `inputFiles` is the scan's file list.
    */
  /** Per-(session, source) memo of the fan-out decision: the probe
    * plans the scan RDD (~150 ms of driver work per call), and a
    * multi-action query calls `docs()` five to ten times — unmemoized,
    * the guard itself cost more than the exchange it was deciding
    * about (measured: q_dsir_select 1.35 s -> 2.07 s). The split count
    * of a fixed source directory cannot change within a run. Keyed on
    * the session's UUID, not the session, so the memo never keeps a
    * dropped session reachable.
    */
  private val fanOutDecisions =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      java.lang.Boolean]()

  private def fanOutScanKeyed(df: DataFrame, key: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // guard on the scan's REAL split count, not its file count: parquet
    // files split by row group / maxPartitionBytes, so one 100 GB file
    // already scans as ~800 tasks — file count would see "1 < cores"
    // and inject a full payload shuffle on exactly the input that needs
    // none (VERDICT r21 "What's wrong" §1). getNumPartitions plans the
    // scan RDD (driver-side only, no job) and returns the true split
    // count; at real corpus scale (splits >= cores) this is a no-op.
    val need = fanOutDecisions.computeIfAbsent(
      (org.apache.spark.sql.GraftSessionKey.of(df.sparkSession), key),
      _ => df.rdd.getNumPartitions < p).booleanValue()
    if (need) df.repartition(p) else df
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    fanOutScanKeyed(t(s, dir, "documents"), s"$dir/documents")

  /** The documents scan WITHOUT the fan-out — for (a) the advertised
    * scan-speed narrow paths (q_sample/q_quantize/q_subword/q_lang_id/
    * q_quality/q_multimodal_meta, plan-pinned to at most the
    * presentation sort's one shuffle in MiscOpsSpec), and (b) the
    * consumers where the r21 fan-out was a MEASURED net loss (the ~25
    * queries that regressed >1.25x vs the same-host r21 baseline —
    * bench_full_history.jsonl lines 1 vs 2): their per-row work is
    * codegen-cheap (split/NFC/tokenize-count/bloom-probe/exact-hash),
    * so the added exchange of the document payload cost more than the
    * widened stage bought at every benchable SF.
    */
  private def docsNarrow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  /** Embeddings scan, deliberately NOT fanned out: the vector family's
    * operators run many small actions (k-means rounds, centroid and
    * recluster collects) over this frame, and an added exchange ahead
    * of each action cost more than the widened scan bought (measured:
    * q_ivf_recluster_2l 4.8 s -> 11.6 s with the fan-out, reverted).
    */
  private def embeds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")

  /** Embeddings scan WITH the fan-out — for q_semdedup_auto ONLY:
    * its auto-sized quantizer (⌈n/24⌉ ≈ 625 cells at sf0.1) makes the
    * O(n · nCells · dim) flat cell assignment genuinely CPU-heavy, and
    * that assignment re-executes per consumer action on the scan's ONE
    * split (profiled: four ~0.5–1 s single-task jobs; fan-out measured
    * 1.21×). Assignment is row-local and the seeds are an
    * orderBy-limit, so the repartition changes no value (kmeansIters
    * is pinned 0 on every declared row). The REST of the vector family
    * — including the other semdedup rows at hand-sized cell counts —
    * measured a net LOSS with the fan-out (subset A/B 0.92×:
    * q_semdedup 0.81×, q_semdedup_2l 0.82×, q_curation_sem 0.90× —
    * the exchange ahead of each small action costs more than the
    * widened assignment buys at 16–24 cells), so they stay on the
    * narrow [[embeds]], as does the maintenance family
    * (q_ivf_recluster_2l measured 4.8 → 11.6 s with fan-out in r21).
    */
  private def embedsFan(s: SparkSession, dir: String): DataFrame =
    fanOutScanKeyed(t(s, dir, "embeddings"), s"$dir/embeddings")

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

  /** Full C1 anonymizer loop over an ORC-backed store
    * ([[graft.FormatIO]] — the "any path-based format behind the same
    * staged-swap contract" claim, value-gated): the customer table is
    * landed INTO an ORC store (stage + staged-directory swap), the
    * reference-shaped blueprint (R2 `#row#` template + P2-guarded R1
    * static — `maskedRelease`'s rules) runs `Anonymizer.run()` against
    * that store (read ORC → mask → stage ORC → commit swap), and the
    * published table is read back. DuckDB replays the masking from the
    * PARQUET originals, so the gate pins the whole
    * parquet→ORC→mask→ORC→read chain value-identical — a lossy type
    * mapping, a staged-swap slip, or any format-dependence in the
    * compiled masking reds the row. (Avro's Spark connector is an
    * external module not present in the zero-egress jar set — csv/json/orc
    * round-trips are spec-covered in AnonymizerSpec; ORC is the
    * one built-in columnar alternative and the one a warehouse
    * actually swaps in.)
    */
  private def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val wh = scratchDir("q-orc-roundtrip")
    val io = new FormatIO(s, wh, "orc")
    io.stage("customer", t(s, dir, "customer"))
    io.commit("customer")
    new Anonymizer(s, io).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_name").replaceWith("cust_#row#")
      b.column("c_mktsegment").where("c_acctbal > 0").replaceWith("MASKED")
    }.run()
    io.read("customer").orderBy("c_custkey")
  }

  /** URL-canonicalization dedup ([[graft.pipeline.TextOps
    * .canonicalizeUrl]] — the C4/CCNet "dedup the crawl by normalized
    * URL" pass, RFC 3986 §6): per document TWO deterministically
    * synthesized raw URLs that exercise every normalization rule at
    * once — variant 0 is maximally messy (uppercase scheme and host,
    * explicit `:443`, doubled path slashes, trailing slash, `utm_*` +
    * `fbclid` tracking params, a fragment), variant 1 is the clean
    * twin — and both must canonicalize to the identical URL, so the
    * hash-groupBy dedup lands exactly one group of 2 per document.
    * The normalizer is a pure codegen expression chain (no UDF) and
    * every step is ANSI-replayable: DuckDB re-synthesizes the raw
    * URLs, re-runs the whole normalization and the grouping, and the
    * row hash pins each canonical form BYTE-FOR-BYTE — a wrong
    * lowercase span, an unstripped port, a surviving tracking param or
    * a missed slash collapse reds every row. `n_raw_distinct = 2` pins
    * that the variants really differed before normalization. One hash
    * aggregate, scan-speed narrow before it — the 100 TB shape of a
    * crawl-snapshot URL dedup.
    */
  private def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    val h8 = substring(md5(concat(lit("url:"),
      col("doc_id").cast("string"))), 1, 8)
    val pid = substring(md5(concat(lit("url:"),
      col("doc_id").cast("string"))), 9, 6)
    val messy = concat(lit("HTTPS://WWW."), h8,
      lit(".Example.COM:443//docs//"), pid, lit("/?id="), pid,
      lit("&utm_source=feed&fbclid=abc123#frag"))
    val clean = concat(lit("https://www."), h8, lit(".example.com/docs/"),
      pid, lit("?id="), pid)
    val urls = docs(s, dir).select(col("doc_id"),
        explode(array(messy, clean)).as("raw_url"))
      .select(col("doc_id"), col("raw_url"),
        graft.pipeline.TextOps.canonicalizeUrl(col("raw_url"))
          .as("canonical_url"))
    urls.groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("raw_url")).as("n_raw_distinct"),
        min(col("doc_id")).as("min_doc"))
      .orderBy("canonical_url")
  }

  /** Exact dedup: content-hash groupBy over the corpus with a deterministic
    * duplicate injection (every 50th doc repeated) so the grouping is
    * actually exercised. One hash-partitioned aggregate — the 100 TB shape.
    */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir)
    val withDups = d.unionAll(d.filter(col("doc_id") % 50 === 0))
    Dedup.exactGroups(withDups, "doc_id", "text").orderBy("content_hash")
  }

  /** Exact dedup under the QUALITY-aware survivor policy
    * ([[graft.pipeline.Dedup.dropExactDuplicatesKeepBest]] — the
    * keep-best rule completing the exact/near/semantic family): the
    * corpus gains a re-keyed `mirror`-source copy of every 50th
    * document, and source priority (mirror = 2 > original = 1) makes
    * each duplicated group keep the HIGHER-id mirror — the opposite
    * end from the min-id rule, so the policies provably diverge under
    * the oracle. DuckDB re-derives the content hashes, the per-group
    * max-score cut and the min-id tie-break.
    */
  private def qDedupExactBest(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir).select("doc_id", "source", "text")
    val mirror = d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        lit("mirror").as("source"), col("text"))
    Dedup.dropExactDuplicatesKeepBest(d.unionAll(mirror), "doc_id",
        "text", when(col("source") === "mirror", 2).otherwise(1))
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Near-dedup under the QUALITY-aware survivor policy
    * ([[graft.pipeline.Dedup.dropNearDuplicatesKeepBest]]): the same
    * MinHash→LSH→Jaccard pair graph and connected components as
    * `q_dedup_clusters`, but each cluster keeps its highest-quality
    * member (the single bit-pinned q_quality formula — near-dups are
    * DIFFERENT texts, so a text-derived score genuinely discriminates,
    * unlike the exact family) with ties to the lower id. DuckDB
    * re-derives the pair graph, the recursive components, every
    * member's quality score and the argmax survivor.
    */
  private def qDedupNearBest(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("__q", TextOps.qualityScore(col("text")))
    Dedup.dropNearDuplicatesKeepBest(d, "doc_id", "text", "__q",
        threshold = 0.8)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Exact substring dedup (Lee et al.): every 40-char gram duplicated
    * anywhere in the corpus keeps its canonical occurrence only; other
    * occurrences' spans merge and are cut out of the text
    * ([[graft.pipeline.Dedup.dropDuplicateSubstrings]]). Full value
    * oracle: DuckDB re-derives occurrence marking, island merging, and
    * segment reassembly, and compares the CLEANED TEXT byte-for-byte —
    * the sf0.001 corpus already exercises the all-removed edge (a doc
    * cleaning to the empty string).
    */
  private def qSubstringDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicateSubstrings(docs(s, dir), "doc_id", "text", 40)
      .select(col("doc_id"), col("clean_text"),
        col("n_removed_chars").cast("bigint").as("n_removed_chars"))
      .orderBy("doc_id")

  /** Line-level dedup (CCNet style): the corpus is folded into 25
    * multi-line "pages" (header + member docs ORDER BY doc_id + footer,
    * with every `doc_id % 10 == 3` doc ALSO guesting on the next page),
    * then any line appearing in more than one page — the header/footer
    * on all 25, each guest line on 2 — is dropped from EVERY page
    * ([[graft.pipeline.Dedup.dropDuplicateLines]]). DuckDB rebuilds
    * the pages and the dedup and compares cleaned text byte-for-byte.
    */
  private def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir)
    val members = d
      .select((col("doc_id") % 25).as("page_id"), col("doc_id"),
        col("text"))
      .unionAll(d.filter(col("doc_id") % 10 === 3)
        .select(((col("doc_id") + 1) % 25).as("page_id"), col("doc_id"),
          col("text")))
    val pages = members.groupBy("page_id").agg(
      concat(lit("echo header: subscribe to the corpus feed\n"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")),
          "\n"),
        lit("\necho footer: all rights reserved")).as("text"))
    Dedup.dropDuplicateLines(pages, "page_id", "text", maxDocFreq = 1)
      .select(col("page_id"), col("clean_text"),
        col("n_dropped_lines").cast("bigint").as("n_dropped_lines"))
      .orderBy("page_id")
  }

  /** Span-level decontamination
    * ([[graft.pipeline.Dedup.removeBenchmarkSpans]]): corpus = docs
    * with `doc_id % 10 != 0`, benchmark = the rest; every corpus span
    * whose 25-char grams appear verbatim in the benchmark is cut out
    * (quotes die, documents survive). DuckDB re-derives the benchmark
    * gram set, the semi-join marking, the island merge, and the
    * reassembly, comparing cleaned text byte-for-byte.
    */
  private def qDecontaminateSpans(s: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(s, dir)
    Dedup.removeBenchmarkSpans(d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text", 25)
      .select(col("doc_id"), col("clean_text"),
        col("n_removed_chars").cast("bigint").as("n_removed_chars"))
      .orderBy("doc_id")
  }

  /** C4 page filter ([[graft.pipeline.TextOps.c4Rules]]): docs fold
    * into 25 multi-line pages (one doc = one line, `doc_id % 25`
    * pages), with deterministic injections so every published rule
    * fires — `% 3` drops the terminal punctuation (line cut),
    * `% 7 == 3` mentions javascript (line cut), `% 19 == 0` shortens
    * the line below 3 words (line cut), `% 199 == 5` adds a code
    * brace, `% 211 == 7` "lorem ipsum", `% 223 == 11` a blocklisted
    * word (page drops). DuckDB rebuilds the pages and the whole
    * decision table, cleaned text compared byte-for-byte.
    */
  // the shared C4-fixture line: one doc = one page line, with
  // deterministic injections so every published rule fires (see
  // [[qC4Rules]]'s doc) — also the corpus for the composed C4+CCNet
  // recipe ([[qC4Ccnet]])
  private def c4FixtureLine: Column = concat(
    when(col("doc_id") % 19 === 0, lit("too short"))
      .otherwise(col("text")),
    when(col("doc_id") % 7 === 3, lit(" see javascript console"))
      .otherwise(lit("")),
    when(col("doc_id") % 199 === 5, lit(" { inline code }"))
      .otherwise(lit("")),
    when(col("doc_id") % 211 === 7, lit(" lorem ipsum dolor"))
      .otherwise(lit("")),
    when(col("doc_id") % 223 === 11, lit(" flaggedterm"))
      .otherwise(lit("")),
    when(col("doc_id") % 3 === 0, lit("."))
      .when(col("doc_id") % 3 === 1, lit("?"))
      .otherwise(lit("")))

  // the synthetic page shell `q_html_extract` wraps each document in —
  // head with a title, a script whose body holds stray < > operators, a
  // style block, a comment, a nav list, a heading, and an entity-laden
  // footer incl. a double-escaped entity. Shared VERBATIM by the Spark
  // construction and the oracle rendering, so shell edits cannot drift
  private val htmlShellA = "<html><head><title>Doc "
  private val htmlShellB = "</title><script type=\"text/javascript\">" +
    "var n = 1 < 2 && 2 > 1;</script><style>p { color: #333 }</style>" +
    "</head><body><!-- header boilerplate --><div class=\"nav\"><ul>" +
    "<li>Home</li><li><a href=\"/about?x=1&amp;y=2\">About</a></li>" +
    "</ul></div><h1>Doc "
  private val htmlShellC = "</h1><p>"
  private val htmlShellD = "</p><div class=\"footer\">Contact " +
    "&quot;Sales&quot; &amp; &lt;Support&gt;&nbsp;&#39;24/7&#39; " +
    "&amp;lt;raw&amp;gt;</div></body></html>"

  /** HTML → text extraction ([[graft.pipeline.TextOps.stripHtml]] —
    * the WET-style step 0 before the C4/CCNet line operators): each
    * fixture document is wrapped in the realistic page shell IN-QUERY,
    * then extracted. DuckDB rebuilds the same shell and replays the
    * shared [[graft.pipeline.TextOps.htmlStripChain]] pattern for
    * pattern, so the extracted text — head/script/style/comment
    * removal, block-boundary line breaks, entity decode incl. the
    * double-escape rule, whitespace normalization — is value-oracled
    * byte-for-byte.
    */
  private def qHtmlExtract(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        TextOps.stripHtml(concat(lit(htmlShellA),
          col("doc_id").cast("string"), lit(htmlShellB),
          col("doc_id").cast("string"), lit(htmlShellC), col("text"),
          lit(htmlShellD))).as("extracted"))
      .orderBy("doc_id")

  private def qC4Rules(s: SparkSession, dir: String): DataFrame = {
    val pages = docsNarrow(s, dir)
      .select((col("doc_id") % 25).as("page_id"), col("doc_id"),
        c4FixtureLine.as("line"))
      .groupBy("page_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("doc_id"), col("line")))),
          x => x.getField("line")),
        "\n").as("text"))
    TextOps.c4Rules(pages, "page_id", "text",
        TextOps.C4Config(minSentences = 11,
          badWords = Seq("flaggedterm")))
      .orderBy("page_id")
  }

  /** The full published C4+CCNet cleaning recipe composed under ONE
    * oracle: C4 page filtering ([[graft.pipeline.TextOps.c4Rules]] —
    * line rules rewrite, page rules drop) feeds its SURVIVING pages'
    * cleaned text into CCNet line-level dedup
    * ([[graft.pipeline.Dedup.dropDuplicateLines]]), the way the
    * published pipelines chain them. The fixture makes the composition
    * bite both ways: a prose-shaped boilerplate header ("Subscribe to
    * our newsletter today.") passes every C4 LINE rule on all 25 pages
    * and only CCNet can drop it, while `doc_id % 10 == 3` docs guest on
    * a second page so their lines become cross-page duplicates — and
    * CCNet's doc frequencies are counted over the C4 SURVIVORS only (a
    * guest whose other page was dropped by C4 stays unique). DuckDB
    * re-derives both stages end to end; cleaned text compared
    * byte-for-byte.
    */
  private def qC4Ccnet(s: SparkSession, dir: String): DataFrame = {
    val base = docsNarrow(s, dir)
      .select((col("doc_id") % 25).as("page_id"), col("doc_id"),
        c4FixtureLine.as("line"))
    val guests = docsNarrow(s, dir).filter(col("doc_id") % 10 === 3)
      .select(((col("doc_id") + 1) % 25).as("page_id"), col("doc_id"),
        c4FixtureLine.as("line"))
    val pages = base.unionAll(guests)
      .groupBy("page_id")
      .agg(concat(lit("Subscribe to our newsletter today.\n"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("line")))),
            x => x.getField("line")),
          "\n")).as("text"))
    val surviving = TextOps.c4Rules(pages, "page_id", "text",
        TextOps.C4Config(minSentences = 11,
          badWords = Seq("flaggedterm")))
      .filter(col("keep"))
      .select(col("page_id"), col("clean_text").as("text"))
    Dedup.dropDuplicateLines(surviving, "page_id", "text",
        maxDocFreq = 1)
      .select(col("page_id"), col("clean_text"),
        col("n_dropped_lines").cast("bigint").as("n_dropped_lines"))
      .orderBy("page_id")
  }

  /** Near dedup: shingle → MinHash(8) → banded LSH(4×2) → exact-Jaccard
    * verify ≥ 0.8. No cartesian stage (see [[graft.pipeline.Dedup]]).
    */
  private def qDedupNear(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicatePairs(docsNarrow(s, dir), "doc_id", "text", 0.8)
      .orderBy("id_a", "id_b")

  /** Near-dup clusters: the verified pair graph collapsed to connected
    * components ([[graft.pipeline.Dedup.connectedComponents]], whose
    * semantic spec is "cluster id = min reachable doc id"). The dedup
    * decision table a curation run
    * actually applies: keep `doc_id == cluster_id`, drop the rest.
    */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.nearDuplicatePairs(docs(s, dir), "doc_id", "text", 0.8)
          .select("id_a", "id_b"))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")

  /** Per-language corpus statistics (token counting over the scan). */
  private def qTextStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(TextOps.tokenCount(col("text"))).as("sum_tokens"),
        max(TextOps.tokenCount(col("text"))).cast("bigint").as("max_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** Token-budget audit: whitespace tokens next to the BPE-ish sub-word
    * segmentation ([[TextOps.subwordCount]] — splits on any non-letter/
    * non-digit run, the cheap stand-in for tokenizer-based counting).
    * Both are pure regex Column expressions: scan-speed, no shuffle.
    */
  private def qSubword(s: SparkSession, dir: String): DataFrame =
    docsNarrow(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.subwordCount(col("text")).as("n_subwords"))
      .orderBy("doc_id")

  /** Stop-word-profile language ID (n-gram heuristic). */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    docsNarrow(s, dir).select(col("doc_id"),
        TextOps.langHits(col("text"), TextOps.langProfiles("de")).as("de_hits"),
        TextOps.langHits(col("text"), TextOps.langProfiles("en")).as("en_hits"),
        TextOps.langHits(col("text"), TextOps.langProfiles("es")).as("es_hits"),
        TextOps.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Document quality features + composite score. */
  private def qQuality(s: SparkSession, dir: String): DataFrame =
    docsNarrow(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.stopwordHits(col("text")).as("stop_hits"),
        TextOps.punctCount(col("text")).as("n_punct"),
        TextOps.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Gopher rule-filter decision table
    * ([[graft.pipeline.TextOps.gopherRules]]): every feature, every
    * per-rule verdict, and the keep conjunction, fully value-oracled.
    * Thresholds are tuned to the synthetic corpus (word window [30,90],
    * mean word length [3.9,4.9], ≥1 stop hit) so BOTH outcomes of
    * every live rule are exercised at gate scale (~332/500 keep).
    */
  private def qGopherRules(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(docs(s, dir), "doc_id", "text",
        TextOps.GopherConfig(minWords = 30, maxWords = 90,
          minMeanWordLen = 3.9, maxMeanWordLen = 4.9,
          minStopwordHits = 1))
      .withColumn("n_words", col("n_words").cast("bigint"))
      .withColumn("stop_hits", col("stop_hits").cast("bigint"))
      .orderBy("doc_id")

  /** Gopher-style repetition signals per document: top-word dominance and
    * duplicate-bigram fraction (see [[graft.pipeline.TextOps.repetitionStats]]).
    */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Train/test decontamination: corpus docs sharing ≥3 word-3-grams with a
    * benchmark doc (the doc_id%10==0 split stands in for the held-out set) —
    * see [[graft.pipeline.Dedup.crossCorpusOverlap]].
    */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir)
    Dedup.crossCorpusOverlap(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleK = 3, minShared = 3)
      .orderBy("id_a", "id_b")
  }

  /** [[qDecontaminate]] through the Bloom-prefiltered path
    * ([[graft.pipeline.Dedup.bloomDecontaminate]]): the corpus side is
    * prescreened by a benchmark-shingle Bloom filter (narrow scan, no
    * corpus shuffle — the 100 TB shape) before the exact join verifies
    * the survivors. Because the prefilter has no false negatives, the
    * result must EQUAL the exact path's — the oracle re-derives the
    * full exact overlap in DuckDB, so a Bloom stage that dropped one
    * true pair (or a verify stage that kept one false positive) reds
    * this row. A lower `minShared` than q_decontaminate keeps the two
    * rows from being copies of one another.
    */
  private def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docsNarrow(s, dir)
    Dedup.bloomDecontaminate(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleK = 3, minShared = 2, fpp = 0.01)
      .orderBy("id_a", "id_b")
  }

  /** Free-text PII scrub ([[graft.pipeline.TextOps.redactPii]]): the fixture
    * corpus carries no PII, so the query synthesises a deterministic
    * contact string per customer (e-mail + phone + URL) and verifies the
    * full redacted text plus per-kind hit counts against the oracle
    * running the byte-identical patterns.
    */
  private def qPii(s: SparkSession, dir: String): DataFrame = {
    val synth = concat(lit("reach user"), col("c_custkey").cast("string"),
      lit("@example.com or call 555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" visit https://example.com/u/"), col("c_custkey").cast("string"),
      lit(" card 4242-4242-4242-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("c_custkey") % 256).cast("string"),
      lit("."), expr("c_custkey div 256 % 256").cast("string"))
    t(s, dir, "customer")
      .select(col("c_custkey") +: TextOps.redactPii(synth).as("redacted") +:
        TextOps.piiCounts(synth): _*)
      .orderBy("c_custkey")
  }

  /** Corpus vocabulary table: occurrences + document frequency per token. */
  private def qVocab(s: SparkSession, dir: String): DataFrame =
    TextOps.termFrequencies(docsNarrow(s, dir), "doc_id", "text")
      .orderBy(col("n_docs").desc, col("token"))
      .limit(20)

  /** Misra-Gries heavy hitters under the accuracy contract
    * ([[graft.pipeline.TextOps.heavyHitters]] — the bounded-state
    * answer to "which tokens dominate", O(k) state and shuffle per
    * partition regardless of Zipfian skew; the exact `q_vocab`
    * aggregate keys the shuffle by token, so a head token concentrates
    * one reducer at 100 TB), gated in the `q_hll_distinct` /
    * `q_percentile_gk_parity` style: the reported ITEM SET may vary
    * with partitioning near the error floor (any mergeable sketch), so
    * the row emits only PARTITION-INVARIANT facts — the exact corpus
    * totals (DuckDB-re-derived) and the three Misra-Gries guarantees
    * pinned TRUE over every reported item: ≤ k reported, every
    * estimate UNDERcounts its exact frequency, the undercount never
    * exceeds n/(k+1), and every token with exact count > n/(k+1) is
    * guaranteed reported (n_guaranteed of them, exactly re-derived).
    */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val k = 20
    // the fixtures' 31-token vocabulary is near-uniform (no token
    // crosses the n/(k+1) floor), which would leave the guarantee
    // clause vacuous — amplify with a deterministic Zipf head: every
    // doc appends 10 + doc_id % 7 copies of a hot token, pushing it
    // far past the floor (and nothing else over it), DuckDB-replayed
    val amplified = docs(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" "),
        array_join(array_repeat(lit("zzhot"),
          (col("doc_id") % 7 + 10).cast("int")), " ")).as("text"))
    // the sketch result is <= k rows but its lineage is a full corpus
    // scan, and TWO branches below join against it — materialize once
    val hh = Materialize(TextOps.heavyHitters(amplified, "text", k))
    // exact per-token counts: computed once (Materialize), read by
    // the totals, the reported-item join and the guaranteed-set scan
    val exact = Materialize(amplified
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt")))
    val totals = exact.agg(sum(col("cnt")).cast("long").as("n_tokens"),
      count(lit(1)).as("n_vocab"))
    val floor = col("n_tokens").cast("double") / (k + 1)
    // sums coalesced to 0 (the guarStats discipline): if the sketch
    // ever reported zero items the agg over the empty join would yield
    // NULL __n_under/__n_bound and the TRUE==TRUE gates below would
    // red as NULL instead of holding vacuously
    val repStats = hh.join(exact, Seq("token"))
      .crossJoin(broadcast(totals))
      .agg(count(lit(1)).as("__n_rep"),
        coalesce(sum(when(col("est") <= col("cnt"), 1L).otherwise(0L)),
          lit(0L)).as("__n_under"),
        coalesce(sum(when((col("cnt") - col("est")).cast("double")
            <= floor, 1L).otherwise(0L)), lit(0L)).as("__n_bound"))
    val guarStats = exact.crossJoin(broadcast(totals))
      .filter(col("cnt").cast("double") > floor)
      .join(hh, Seq("token"), "left")
      .agg(count(lit(1)).as("n_guaranteed"),
        coalesce(sum(when(col("est").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("__n_found"))
    totals.crossJoin(repStats).crossJoin(guarStats) // 1×1 scalar attach
      .select(col("n_tokens"), col("n_vocab"), col("n_guaranteed"),
        (col("__n_rep") <= k).as("reported_le_k"),
        (col("__n_under") === col("__n_rep")).as("all_underestimate"),
        (col("__n_bound") === col("__n_rep")).as("all_within_bound"),
        (col("__n_found") === col("n_guaranteed"))
          .as("guaranteed_present"))
  }

  /** Per-document top tf·idf keyword (linear idf — engine-exact doubles). */
  private def qTfidf(s: SparkSession, dir: String): DataFrame =
    TextOps.topKeywords(docsNarrow(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Bottom-k sketch fingerprint per document. */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** TRUE winnowing fingerprints ([[TextOps.winnowFingerprints]],
    * k=8-char grams, w=4 windows) exploded to (doc_id, fp) rows — the
    * position-local overlap-detection selection, value-oracle-checked
    * selection by selection.
    */
  private def qWinnow(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowFingerprintRows(docs(s, dir), "doc_id", "text", 8, 4)
      .orderBy("doc_id", "fp")

  /** Winnowing cross-corpus overlap ([[TextOps.winnowOverlap]]): every
    * (corpus, benchmark) pair sharing ≥ 20 winnowing selections, with
    * the same %10 corpus/benchmark split as [[qDecontaminate]] — the
    * position-local verbatim-overlap scan next to the shingle-set one.
    */
  private def qWinnowOverlap(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextOps.winnowOverlap(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 8, w = 4, minShared = 20)
      .orderBy("id_a", "id_b")
  }

  /** Incremental near-dedup ([[graft.pipeline.Dedup.buildNearDupIndex]] /
    * [[graft.pipeline.Dedup.nearDupPairsAgainstIndex]]): the even-id
    * half of the corpus plays the already-landed indexed corpus, the
    * odd-id half the incoming ingest batch — every cross near-dup pair
    * at Jaccard ≥ 0.8 must surface WITHOUT a corpus self-join (the
    * batch's banded signatures broadcast into the index scan). The
    * oracle re-derives the full MinHash → banding → verify pipeline
    * across the split.
    */
  private def qDedupIncr(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // persistShingles = false: the index feeds exactly one probe action
    // (evaluated after this function returns), so a cache entry would
    // outlive the call with no one to release it
    val idx = Dedup.buildNearDupIndex(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      persistShingles = false)
    Dedup.nearDupPairsAgainstIndex(idx,
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", 0.8)
      .orderBy("id_old", "id_new")
  }

  /** A per-name scratch dir under `java.io.tmpdir`, WIPED on every call
    * — the append-path gate queries rebuild full index layouts per
    * invocation, and a fresh random dir each time would accumulate one
    * complete index copy per bench sample on a shared host. One fixed
    * dir per (process, query name) bounds the footprint; wiping (rather
    * than relying on overwrite modes) keeps a leftover layout from
    * poisoning the append's disjointness semantics. The PID suffix
    * keeps two concurrent gate/bench runs on one host from clobbering
    * each other's live index mid-query, and the wipe refuses to follow
    * symlinks: a planted link at the scratch path (or inside it) is
    * unlinked, never descended into. Dirs left by EXITED processes are
    * swept on every call (pid parsed from the name, liveness via
    * ProcessHandle), so repeated runs never accumulate dead layouts.
    */
  private def scratchDir(name: String): String = {
    val pid = ProcessHandle.current().pid()
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val p = tmp.resolve(s"graft-gate-$pid-$name")
    def wipe(f: java.io.File): Unit = {
      if (!java.nio.file.Files.isSymbolicLink(f.toPath) && f.isDirectory)
        f.listFiles().foreach(wipe)
      f.delete(); ()
    }
    val stale = "graft-gate-(\\d+)-.*".r
    Option(tmp.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      val dead = f.getName match {
        // toLongOption: a 20+-digit "pid" (unparseable) is skipped
        // rather than thrown on — a weird name must never fail the
        // gate query that happened to trigger the sweep
        case stale(p2) => p2.toLongOption.exists(p =>
          p != pid &&
            !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
        // legacy pre-PID layout (graft-gate-<name>): no owner process
        // to check, accumulated by old builds — always sweepable
        case n => n.startsWith("graft-gate-")
      }
      if (dead && !java.nio.file.Files.isSymbolicLink(f.toPath)) wipe(f)
    }
    if (java.nio.file.Files.isSymbolicLink(p))
      throw new IllegalStateException(
        s"refusing to wipe scratch path $p: it is a symlink")
    wipe(p.toFile)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** [[qDedupIncr]] THROUGH THE MAINTENANCE PATH: the even corpus lands
    * in two installments — an initial [[graft.pipeline.Dedup
    * .buildNearDupIndex]]/[[graft.pipeline.Dedup.writeNearDupIndex]] on
    * doc_id%4==0, then an [[graft.pipeline.Dedup.appendToNearDupIndex]]
    * of the %4==2 ingest — and the odd batch probes the LOADED layout.
    * Shares q_dedup_incr's oracle verbatim: the appended index must
    * answer exactly like a fresh build over the full even corpus, under
    * the driver's value gate, not just the specs.
    */
  private def qDedupAppend(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val path = scratchDir("q-dedup-append")
    Materialize.scope {
      Dedup.writeNearDupIndex(Dedup.buildNearDupIndex(
        d.filter(col("doc_id") % 4 === 0), "doc_id", "text"), path)
    }
    Dedup.appendToNearDupIndex(s, path,
      d.filter(col("doc_id") % 4 === 2), "doc_id", "text")
    Dedup.nearDupPairsAgainstIndex(Dedup.loadNearDupIndex(s, path),
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", 0.8)
      .orderBy("id_old", "id_new")
  }

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

  /** Unicode NFC canonicalization ([[graft.pipeline.TextOps
    * .nfcNormalize]] → the native [[graft.plans.NfcNormalize]]): the
    * fixture text is ASCII (NFC identity), so a decomposed
    * `e`+combining-acute and a composed `é` are appended per row — the
    * oracle (DuckDB's own `nfc_normalize`) must agree codepoint for
    * codepoint that both collapse to the composed form, with the
    * before/after lengths proving a real transformation happened.
    */
  private def qUnicodeNfc(s: SparkSession, dir: String): DataFrame = {
    // explicit escapes, never raw source literals (an editor could
    // silently re-normalize them): decomposed = 'e' + U+0301
    // combining acute; composed = U+00E9
    val decorated = concat(col("text"), lit(" caf"), lit("e\u0301"),
      lit(" caf\u00e9"))
    docsNarrow(s, dir).select(col("doc_id"),
      length(decorated).cast("bigint").as("len_raw"),
      TextOps.nfcNormalize(decorated).as("nfc"),
      length(TextOps.nfcNormalize(decorated)).cast("bigint").as("len_nfc"))
      .orderBy("doc_id")
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

  /** Heavy hitters in the EXACT regime ([[TextOps.heavyHitters]] with
    * `k` = 64 > the fixture's 31 distinct tokens): with no evictions the
    * Misra-Gries sketch IS the exact frequency table, making its
    * reduce/merge arithmetic fully deterministic and oracle-checkable;
    * the approximate regime (k < vocabulary) is bound-pinned in the
    * specs instead, like GK quantiles and HLL.
    */
  private def qHeavy(s: SparkSession, dir: String): DataFrame =
    TextOps.heavyHitters(docs(s, dir), "text", 64)
      .orderBy(col("est").desc, col("token"))

  /** 16-bit SimHash per document (md5-nibble, oracle-portable variant;
    * production path is the xxhash64 64-bit [[TextOps.simHash64]]).
    */
  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    TextOps.simHash16(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Hamming-≤1 SimHash near-dup pairs via pigeonhole banding (2 chunks of
    * 8 bits; see [[graft.pipeline.Dedup.simHashNearPairs]]) on the
    * oracle-portable 16-bit hash. Production: same operator at
    * bits=64/k=3 over [[TextOps.simHash64]].
    */
  private def qSimhashNear(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearPairs(
        TextOps.simHash16(docs(s, dir), "doc_id", "text"),
        "doc_id", "simhash", k = 1, bits = 16)
      .orderBy("id_a", "id_b")

  /** Production-path parity row for 64-bit winnowing (the r9 verdict's
    * ask): xxhash64 fingerprints have no ANSI-SQL oracle, so the driver
    * gate instead pins the native codegen path
    * ([[graft.plans.WinnowSelect]] 64-bit form) against the staged
    * higher-order-function fold — two independent implementations of
    * the same selection, compared per document over the whole fixture.
    * Any divergence turns n_match < n_docs and the row red.
    */
  private def qWinnow64Parity(s: SparkSession, dir: String): DataFrame = {
    val fold = TextOps.winnowFingerprints64Fold(docs(s, dir), "doc_id",
      "text").withColumnRenamed("fingerprints", "__fold")
    val nat = TextOps.winnowFingerprints64(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("fingerprints", "__native")
    fold.join(nat, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__fold") === col("__native"), 1L).otherwise(0L))
          .as("n_match"))
  }

  /** Production-path parity row for 64-bit SimHash: the explode +
    * two-stage aggregate [[TextOps.simHash64]] against the pure-Column
    * per-row [[TextOps.simHash64Expr]] re-derivation — independent
    * plans, identical integer math, compared per document. Pins the
    * xxhash64 production hash to the driver gate the way q_simhash
    * pins the md5 oracle twin.
    */
  private def qSimhash64Parity(s: SparkSession, dir: String): DataFrame = {
    val agg = TextOps.simHash64(docs(s, dir), "doc_id", "text")
    val row = docs(s, dir).select(col("doc_id"),
      TextOps.simHash64Expr(col("text")).as("__row"))
    agg.join(row, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("simhash") === col("__row"), 1L).otherwise(0L))
          .as("n_match"))
  }

  /** Production-path parity row for 64-bit exact substring dedup (the
    * r12 verdict's ask): [[graft.pipeline.Dedup
    * .substringRemovalIntervals64]] is the production xxhash64 hash
    * path, but xxhash64 has no ANSI-SQL oracle, so the gate instead
    * pins its removal intervals against the md5 path's — two hash
    * families through the same marking + island merge, compared per
    * document over the whole fixture (docs with NO intervals compare
    * null-safely equal). Any family divergence — or a hash collision
    * equating two distinct grams — turns n_match < n_docs and the row
    * red.
    */
  private def qSubstringDedup64Parity(s: SparkSession, dir: String)
      : DataFrame = {
    def ivs(df: DataFrame, name: String) = df
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as(name))
    val a = ivs(Dedup.substringRemovalIntervals(
      docs(s, dir), "doc_id", "text", 40), "__md5")
    val b = ivs(Dedup.substringRemovalIntervals64(
      docs(s, dir), "doc_id", "text", 40), "__xx")
    docs(s, dir).select("doc_id")
      .join(a, Seq("doc_id"), "left")
      .join(b, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__md5") <=> col("__xx"), 1L).otherwise(0L))
          .as("n_match"))
  }

  private def queryVec(s: SparkSession, dir: String): Seq[Float] =
    embeds(s, dir).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)

  /** Brute-force cosine top-10 against the vec_id=0 query vector — narrow
    * scan + TakeOrdered, the ANN correctness baseline.
    */
  private def qSimTopk(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    Similarity.cosineTopK(e, "vec_id", "embedding", queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** Sign-band LSH-filtered cosine top-10: only rows sharing ≥1 of 16
    * 4-coordinate sign bands with the query are scored.
    */
  private def qSimLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    Similarity.signBandTopK(e, "vec_id", "embedding", queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** IVF-style ANN top-10: deterministic coarse quantizer (16 lowest-id
    * vectors as centroids), nProbe=2 cells probed, exact cosine inside the
    * probed cells — see [[graft.pipeline.Similarity.ivfTopK]].
    */
  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    Similarity.ivfTopK(e, "vec_id", "embedding", queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** [[qSimIvf]] THROUGH THE MAINTENANCE PATH: the index lands in two
    * installments — [[graft.pipeline.Similarity.buildIvfIndex]] +
    * [[graft.pipeline.Similarity.writeIvfIndex]] on the even vec_ids,
    * then an [[graft.pipeline.Similarity.appendToIvfIndex]] of the odd
    * ingest — and the query probes the LOADED layout. The oracle
    * re-derives the centroids from the EVEN half only (the seeds the
    * initial build saw) but assigns and scores the FULL corpus,
    * putting the no-re-clustering append contract under the value
    * gate, not just the specs.
    */
  private def qSimIvfAppend(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val path = scratchDir("q-sim-ivf-append")
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding"), path)
    Similarity.appendToIvfIndex(s, path,
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    Similarity.queryIvf(Similarity.loadIvfIndex(s, path),
        queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** [[qSimIvf]] THROUGH THE RE-CLUSTERING MAINTENANCE PATH
    * ([[graft.pipeline.Similarity.reclusterIvfIndex]] — the remedy the
    * hot-cell guards prescribe): the index lands at the default 16
    * cells, is re-clustered IN PLACE to the production sizing
    * ⌈n/24⌉ cells ([[graft.pipeline.Dedup.semDeDupAutoCells]], the
    * `q_semdedup_auto` rule) behind the crash-safe whole-root swap,
    * and the query probes the re-published layout. The oracle
    * re-derives the NEW quantizer from scratch — the count, the
    * ceiling divide, the seed cut at that size, every row's
    * re-assignment and the probe — so a recluster that kept stale
    * cells, dropped a row, or mismatched the sidecar reds the row.
    * `kmeansIters` pinned 0 (the bit-reproducible oracle path; the API
    * default is > 0, since a re-cluster run exists to fix balance).
    */
  private def qIvfRecluster(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val path = scratchDir("q-ivf-recluster")
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(e, "vec_id", "embedding"), path)
    Similarity.reclusterIvfIndex(s, path,
      nCells = graft.pipeline.Dedup.semDeDupAutoCells(e, 24),
      kmeansIters = 0)
    Similarity.queryIvf(Similarity.loadIvfIndex(s, path),
        queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** [[qIvfRecluster]] re-clustered to the TWO-LEVEL form
    * (`twoLevel = true` — the linear-assignment target the operator
    * should re-size INTO at corpus-proportional cell counts, where
    * the flat rebuild's O(n·nCells) assignment is quadratic: the 10×
    * rehearsal measured the flat re-cluster at 4.7–17×). The index
    * lands flat at the default 16 cells, re-clusters in place to
    * ⌈n/24⌉ two-level cells behind the same crash-safe whole-root
    * swap (grouped sidecars staged and published with the corpus),
    * and the query probes the re-published layout. The oracle
    * re-derives the ENTIRE two-level quantizer from scratch — both
    * seed cuts, both assignment levels — and runs the shared nProbe=2
    * probe tail over it, so a recluster that kept flat sidecars,
    * dropped the grouping, or drifted one assignment reds the row.
    */
  private def qIvfRecluster2l(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val path = scratchDir("q-ivf-recluster-2l")
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(e, "vec_id", "embedding"), path)
    Similarity.reclusterIvfIndex(s, path,
      nCells = graft.pipeline.Dedup.semDeDupAutoCells(e, 24),
      kmeansIters = 0, twoLevel = true)
    Similarity.queryIvf(Similarity.loadIvfIndex(s, path),
        queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** Product-quantized ADC top-10 ([[graft.pipeline.Pq]]): train at
    * `iters = 0` (codebooks = the 16 lowest-id corpus vectors' 8-dim
    * subvectors — bit-reproducible), encode every corpus vector to 8
    * one-byte codes, score against the vec_id=0 query via the m×k
    * lookup table. The candidate stage of PQ serving; [[qSimIvf]] is the
    * probe stage and [[qSimTopk]] the exact baseline.
    */
  private def qPq(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeds(s, dir).filter(col("vec_id") =!= 0)
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    val coded = corpus.withColumn("codes",
      Pq.encode(cb)(col("embedding")))
    Pq.pqTopK(coded, "vec_id", "codes", cb, queryVec(s, dir), 10)
      .select("vec_id", "label", "pq_score")
  }

  /** Composed IVF×PQ ANN ([[graft.pipeline.Similarity.queryIvfPq]]):
    * the full 100 TB serving pipeline in one oracle-checked query —
    * coarse-quantize the corpus into 16 cells (iters=0 seeds), PQ-encode
    * every vector to 8 one-byte codes (iters=0 codebooks), then answer
    * the vec_id=0 query by probing 2 cells, ranking their rows by the
    * ADC approximate dot, keeping the top-50 candidates, and
    * exact-cosine reranking ONLY those for the top-10. The rerank cut
    * is deliberately < the probed cells' row count so the oracle pins
    * the composed recall path, not just the [[qSimIvf]] equality case.
    */
  private def qIvfPq(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeds(s, dir).filter(col("vec_id") =!= 0)
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    val coded = idx.copy(assigned = idx.assigned.withColumn(
      Similarity.PqCodesCol, Pq.encode(cb)(col("embedding"))))
    Similarity.queryIvfPq(coded, cb, queryVec(s, dir), k = 10,
        nProbe = 2, rerank = 50)
      .select("vec_id", "label", "cosine")
  }

  /** [[qIvfPq]] THROUGH THE MAINTENANCE PATH — the third layout's
    * append row: the composed IVF×PQ layout lands as an even-half
    * [[graft.pipeline.Similarity.writeIvfPqIndex]] (centroids AND
    * codebooks trained on the even half), the odd ingest arrives via
    * [[graft.pipeline.Similarity.appendToIvfIndex]] (which detects the
    * coded layout and encodes the batch with the SIDECAR codebooks),
    * and the query runs the full probe→ADC→rerank pipeline on the
    * loaded index. The oracle freezes both the centroid and codebook
    * seeds at the even half, so the append's code assignment for every
    * odd row is value-checked too.
    */
  private def qIvfPqAppend(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val even = e.filter(col("vec_id") % 2 === 0)
    val path = scratchDir("q-ivf-pq-append")
    Similarity.writeIvfPqIndex(
      Similarity.buildIvfIndex(even, "vec_id", "embedding", 16),
      Pq.train(even, "vec_id", "embedding", m = 8, k = 16, iters = 0),
      path)
    Similarity.appendToIvfIndex(s, path,
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val (loaded, cb) = Similarity.loadIvfPqIndex(s, path)
    Similarity.queryIvfPq(loaded, cb, queryVec(s, dir), k = 10,
        nProbe = 2, rerank = 50)
      .select("vec_id", "label", "cosine")
  }

  /** Batch IVF ANN ([[graft.pipeline.Similarity.queryIvfBatch]]): three
    * query vectors answered through one built index in a single
    * distributed plan — probe assignment from broadcast centroids, cell
    * equi-join, per-query top-5 via a query-id window.
    */
  private def qSimIvfBatch(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    Similarity.queryIvfBatch(idx, queries, "query_id", "embedding",
        k = 5, nProbe = 2)
      .select("query_id", "vec_id", "label", "cosine")
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** ANN quality audit ([[graft.pipeline.Similarity.recallAtK]]): the
    * per-query recall of the nProbe=2 batch IVF cut against the exact
    * top-5 (the same index probed on EVERY cell — candidate set = whole
    * corpus). The oracle reuses the batch chain for the approximate
    * side and derives the exact side brute-force, so the recall values
    * themselves — not just the result sets — are pinned cross-engine.
    */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    val approx = Similarity.queryIvfBatch(idx, queries, "query_id",
      "embedding", k = 5, nProbe = 2)
    val exact = Similarity.queryIvfBatch(idx, queries, "query_id",
      "embedding", k = 5, nProbe = 16)
    Similarity.recallAtK(exact, approx, "query_id", "vec_id")
      .orderBy("query_id")
  }

  /** The GROUPING-COST audit for the two-level quantizer — the number
    * behind the documented trade (the reason the flat build stays the
    * exact-assignment default at hand-sized cell counts): the
    * auto-sized TWO-LEVEL index and a FLAT index at the SAME cell
    * count, probed with the SAME nProbe=2 budget, each scored against
    * one shared brute-force exact top-5 — the recall DELTA isolates
    * the group-restricted assignment's near-boundary loss from
    * probe-budget effects. The oracle re-derives both quantizers, both
    * probe chains and the brute-force side independently, so the
    * recall VALUES — not just the result sets — are pinned
    * cross-engine.
    */
  private def qAnnRecall2l(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndexTwoLevel(corpus, "vec_id",
      "embedding", graft.pipeline.Dedup.semDeDupAutoCells(corpus, 24))
    val flat = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      idx.centroids.length)
    // exact = the flat index probed on EVERY cell: all rows live in
    // some cell, so the whole corpus is scored under the same tie
    // rules — brute force without a second scoring path
    val exact = Similarity.queryIvfBatch(flat, queries, "query_id",
      "embedding", k = 5, nProbe = idx.centroids.length)
    val a2l = Similarity.queryIvfBatch(idx, queries, "query_id",
      "embedding", k = 5, nProbe = 2)
    val aflat = Similarity.queryIvfBatch(flat, queries, "query_id",
      "embedding", k = 5, nProbe = 2)
    Similarity.recallAtK(exact, a2l, "query_id", "vec_id")
      .select(col("query_id"), col("n_exact"),
        col("recall").as("recall_2l"))
      .join(Similarity.recallAtK(exact, aflat, "query_id", "vec_id")
        .select(col("query_id"), col("recall").as("recall_flat")),
        "query_id")
      .orderBy("query_id")
  }

  /** Batch serving through the composed IVF×PQ index
    * ([[graft.pipeline.Similarity.queryIvfPqBatch]]) — the r9 verdict's
    * top ask: the three vec_id<3 query vectors answered through one
    * coded index in a single distributed plan. Per-query probes (ties to
    * the lower cell) and the m×k ADC lookup table both come from
    * broadcast literals on the thin query frame; candidates are a cell
    * equi-join over (id, codes) only; a per-query window keeps the
    * top-30 ADC survivors (ties to the lower id — 30 < the ~60 rows of
    * two probed cells, so the composed recall path is pinned, not the
    * trivial rerank-everything case); only survivors' float vectors are
    * exact-cosine reranked for the top-5 (ties to the lower id, as
    * q_sim_ivf_batch).
    */
  private def qIvfPqBatch(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    val coded = idx.copy(assigned = idx.assigned.withColumn(
      Similarity.PqCodesCol, Pq.encode(cb)(col("embedding"))))
    Similarity.queryIvfPqBatch(coded, cb, queries, "query_id", "embedding",
        k = 5, nProbe = 2, rerank = 30)
      .select("query_id", "vec_id", "label", "cosine")
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** IVF serving from int8 storage
    * ([[graft.pipeline.Similarity.queryIvfInt8]]): the corpus's float
    * vectors are replaced by per-row (scale, signed-byte codes) — 4×
    * less I/O per probed cell and no separate rerank fetch, the
    * mid-accuracy tier between raw IVF and IVF×PQ. The query probes 2
    * of 16 cells and exact-cosine ranks the DEQUANTIZED vectors
    * (code·scale, double) — deterministic on any engine, so the oracle
    * re-derives the full pipeline including the round-half-away
    * quantization.
    */
  private def qIvfInt8(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeds(s, dir).filter(col("vec_id") =!= 0)
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    Similarity.queryIvfInt8(Similarity.int8Index(idx), queryVec(s, dir),
        k = 10, nProbe = 2)
      .select("vec_id", "label", "cosine")
  }

  /** [[qIvfInt8]] THROUGH THE MAINTENANCE PATH: the int8 layout lands
    * as an even-half [[graft.pipeline.Similarity.writeIvfInt8Index]]
    * plus an [[graft.pipeline.Similarity.appendToIvfIndex]] of the odd
    * ingest — the append detects the code-only layout and quantizes the
    * batch itself (floats dropped, per-row scale). The oracle freezes
    * the centroids at the even half and re-derives every appended row's
    * quantization, so both the cell math AND the append's int8
    * transform sit under the value gate.
    */
  private def qIvfInt8Append(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val path = scratchDir("q-ivf-int8-append")
    Similarity.writeIvfInt8Index(
      Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding"), path)
    Similarity.appendToIvfIndex(s, path,
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    Similarity.queryIvfInt8(Similarity.loadIvfIndex(s, path),
        queryVec(s, dir), k = 10, nProbe = 2)
      .select("vec_id", "label", "cosine")
  }

  /** Batch serving from int8 storage
    * ([[graft.pipeline.Similarity.queryIvfInt8Batch]]): the query-set
    * plan over the 4×-cheaper layout — per-query probes from broadcast
    * centroids, cell equi-join reading (scale, codes) only, dequantized
    * codegen cosine per candidate, per-query top-5 window. Same query
    * split and tie rules as q_sim_ivf_batch.
    */
  private def qIvfInt8Batch(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    Similarity.queryIvfInt8Batch(Similarity.int8Index(idx), queries,
        "query_id", "embedding", k = 5, nProbe = 2)
      .select("query_id", "vec_id", "label", "cosine")
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** Embedding near-duplicate pairs: banded sign-LSH candidates + exact
    * cosine ≥ 0.45 — the bucketed (never n²) self-join shape.
    */
  private def qEmbedDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDuplicateVectors(embeds(s, dir), "vec_id",
        "embedding", 0.45)
      .orderBy("id_a", "id_b")

  /** SemDeDup pair set ([[graft.pipeline.Dedup.semDeDupPairs]]):
    * within-IVF-cell cosine pairs ≥ 0.3 over the raw-seed quantizer
    * (kmeansIters = 0, the bit-reproducible oracle path) — every
    * (cell, id_a, id_b, cosine) value-oracled, so a wrong assignment,
    * a pair crossing cells, or one ulp of cosine drift reds a row.
    */
  private def qSemdedupPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.semDeDupPairs(embeds(s, dir), "vec_id", "embedding",
        threshold = 0.3)
      .select(col("cell").cast("bigint").as("cell"), col("id_a"),
        col("id_b"), col("cosine"))
      .orderBy("cell", "id_a", "id_b")

  /** The SemDeDup TRANSFORM's survivors ([[graft.pipeline.Dedup
    * .semDeDup]]): components over the q_semdedup_pairs graph, each
    * keeping its LEAST-prototypical member (lowest cosine to its own
    * cell centroid, ties to the lower id). The oracle re-derives the
    * assignment, the pair graph, the recursive-CTE components, the
    * per-member centroid cosine (= its MAX over centroids, because
    * assignment is argmax) and the survivor rule — at threshold 0.3
    * the fixture drops ~200 of 500 vectors, so both keep and drop
    * paths execute.
    */
  private def qSemdedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semDeDup(embeds(s, dir), "vec_id", "embedding",
        threshold = 0.3)
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** [[qSemdedup]] under the PRODUCTION quantizer sizing
    * ([[graft.pipeline.Dedup.semDeDupAuto]]): nCells = ⌈n / 24⌉ from
    * the corpus COUNT instead of a hand-picked constant — the helper
    * that closes the "nCells grows with the corpus" contract, so at
    * 100× the corpus the cell count grows 100× and per-cell pair work
    * stays flat. The oracle re-derives the count, the ceiling divide,
    * the seed cut at that size and the whole survivor chain, so a
    * drifted sizing rule reds the row. `kmeansIters` pinned 0 here
    * (the bit-reproducible oracle path; the API default is > 0, where
    * cell balance outranks seed reproducibility).
    */
  private def qSemdedupAuto(s: SparkSession, dir: String): DataFrame =
    Dedup.semDeDupAuto(embedsFan(s, dir), "vec_id", "embedding",
        threshold = 0.3, targetCell = 24, kmeansIters = 0)
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** [[qSemdedupAuto]] through the TWO-LEVEL quantizer
    * ([[graft.pipeline.Dedup.semDeDupTwoLevel]]) — the assignment
    * shape that keeps the auto-sized transform LINEAR (the flat auto
    * row measured 14.8× under the 10× rehearsal; this one holds with
    * the linear families). The oracle replays the full two-level
    * chain: level-1 seeds = the ⌈√nCells⌉ lowest ids, per-vector
    * argmax level-1 group (ties high), level-2 seeds = each group's
    * ⌈nCells/c1⌉ lowest-id members globally numbered in (group, id)
    * order, final cell = argmax level-2 seed WITHIN the own group
    * (ties toward the higher global cell), then the within-cell pair
    * graph, components, and the least-prototypical survivor rule
    * scored against the ASSIGNED cell's centroid — a drifted seed
    * cut, a cross-group assignment, or one ulp of cosine drift reds
    * the row.
    */
  private def qSemdedup2l(s: SparkSession, dir: String): DataFrame =
    Dedup.semDeDupTwoLevel(embeds(s, dir), "vec_id",
        "embedding", threshold = 0.3, targetCell = 24)
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** [[qSemdedupIncr]] against a PERSISTED TWO-LEVEL index — the
    * ingest probe a production (auto-sized) corpus actually runs: the
    * even-half index is built two-level
    * ([[graft.pipeline.Similarity.buildIvfIndexTwoLevel]], nCells =
    * ⌈|even|/24⌉), WRITTEN (the grouped sidecars: `grp` column +
    * `l1` table) and RELOADED, and the odd half probes it through
    * [[graft.pipeline.Dedup.semDeDupPairsAgainstIndex]] — whose
    * `assignCells` must re-derive the batch side's GROUP-RESTRICTED
    * assignment from the persisted grouping, or probed cells would
    * diverge from landed cells and pairs would silently vanish. The
    * oracle replays both sides' two-level chains (the corpus's from
    * its own seed cuts; the batch's under the corpus's FROZEN
    * level-1 + level-2 seeds, own-group-first with the pinned
    * global-argmax fallback ordering) and every cross-side pair —
    * a probe that global-argmaxed, a dropped sidecar, or one ulp of
    * cosine drift reds the row.
    */
  private def qSemdedup2lIncr(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val even = e.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    val path = scratchDir("q-semdedup-2l-incr")
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndexTwoLevel(even, "vec_id", "embedding",
        graft.pipeline.Dedup.semDeDupAutoCells(even, 24)), path)
    Dedup.semDeDupPairsAgainstIndex(Similarity.loadIvfIndex(s, path),
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        threshold = 0.3)
      .select(col("cell").cast("bigint").as("cell"), col("id_a"),
        col("id_b"), col("cosine"))
      .orderBy("cell", "id_a", "id_b")
  }

  /** [[qSemdedup]] under the QUALITY-aware survivor policy
    * ([[graft.pipeline.Dedup.semDeDupKeepBest]]): the same fixed-16
    * quantizer and 0.3 pair graph, but each semantic cluster keeps its
    * highest-quality member (the shared q_quality formula, joined from
    * `documents` on doc_id = vec_id) with ties to the lower id —
    * instead of the paper's least-prototypical survivor. The oracle
    * re-derives the pair graph, the recursive components, every
    * member's quality score (the SINGLE `qualityScoreSql` rendering
    * q_quality pins bit-exactly) and the argmax survivor rule, so the
    * two policies' divergence itself is value-gated.
    */
  private def qSemdedupBest(s: SparkSession, dir: String): DataFrame = {
    val q = docs(s, dir).select(col("doc_id").as("vec_id"),
      TextOps.qualityScore(col("text")).as("quality"))
    Dedup.semDeDupKeepBest(embeds(s, dir).join(q, "vec_id"),
        "vec_id", "embedding", "quality", threshold = 0.3)
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  /** Incremental SemDeDup ([[graft.pipeline.Dedup
    * .semDeDupPairsAgainstIndex]]): the odd-vec_id half arrives as an
    * ingest batch and probes the even-half index under its FROZEN
    * centroids (seeded from the 16 lowest even ids) — every
    * (cell, corpus id, batch id, cosine) pair ≥ 0.3 value-oracled, so
    * a drifted batch-side assignment, a probe into the wrong cell, or
    * a cosine ulp reds a row. The q_dedup_incr story for embeddings.
    */
  private def qSemdedupIncr(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val idx = Similarity.buildIvfIndex(
      e.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding"),
      "vec_id", "embedding", 16)
    Dedup.semDeDupPairsAgainstIndex(idx,
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        threshold = 0.3)
      .select(col("cell").cast("bigint").as("cell"), col("id_a"),
        col("id_b"), col("cosine"))
      .orderBy("cell", "id_a", "id_b")
  }

  /** Curation composed WITH the semantic-dedup stage: the quality
    * gate's survivors (the q_quality formula at ≥ 0.3) restrict the
    * embedding corpus, [[graft.pipeline.Dedup.semDeDup]] then prunes
    * semantic duplicates among them — quantizer seeded from the
    * SURVIVING subset, exactly what a pipeline would build after its
    * cheap narrow filters thinned the corpus (dedup the rows that
    * matter, not the ones quality already killed). Output: the final
    * kept (doc_id, lang), both stages' decisions riding one oracle.
    */
  private def qCurationSem(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val kept = d
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .filter(col("quality") >= 0.3)
    val emb = embeds(s, dir)
      .join(kept.select(col("doc_id").as("vec_id")), "vec_id")
    Dedup.semDeDup(emb, "vec_id", "embedding", threshold = 0.3)
      .select(col("vec_id").as("doc_id"))
      .join(d.select("doc_id", "lang"), "doc_id")
      .orderBy("doc_id")
  }

  /** Deterministic stratified sample — the data-mixing pass of a training
    * pipeline ([[graft.pipeline.Sampling.stratifiedHashSample]]): keep
    * half of English, all of Spanish, a quarter of German, a tenth of
    * everything else, decided per row by a stable md5 bucket so the mix
    * is reproducible on any engine / partitioning / retry.
    */
  private def qSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.stratifiedHashSample(
        docsNarrow(s, dir).select("doc_id", "lang"),
        key = col("doc_id"), stratum = col("lang"),
        rates = Map("en" -> 0.5, "es" -> 1.0, "de" -> 0.25),
        defaultRate = 0.1)
      .orderBy("doc_id")

  /** Weighted deterministic Poisson sample
    * ([[graft.pipeline.Sampling.weightedHashSample]]): inclusion
    * probability proportional to the document's token count — the
    * sample-by-token-budget mix knob. The kept SET is the oracle
    * surface: the 48-bit hash fraction and the multiplication-only
    * threshold are IEEE-exact on both engines, so DuckDB reproduces
    * every keep decision bit-for-bit (the reason this operator avoids
    * `pow` — see weightedReservoir's scaladoc for the contrast).
    */
  private def qSampleWeighted(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.weightedHashSample(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        key = col("doc_id"), weight = col("n_tokens"), c = 0.01)
      .orderBy("doc_id")

  /** The corpus splits `q_split` assigns — named here once so the
    * query and its oracle share the exact fractions (and the exact
    * LONG cut points via [[graft.pipeline.Sampling.splitCuts]]).
    */
  private val splitSpec =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic train/validation/test assignment
    * ([[graft.pipeline.Sampling.splitAssign]]): every document lands in
    * exactly one split as a pure function of its id — consecutive
    * 48-bit hash ranges, integer-literal cut points, so the oracle
    * replays every assignment bit-for-bit (and growing one split only
    * moves rows across its adjacent boundary; the nesting argument in
    * the scaladoc).
    */
  private def qSplit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.splitAssign(
        docsNarrow(s, dir).select("doc_id", "lang"), col("doc_id"), splitSpec)
      .orderBy("doc_id")

  /** `q_lm_model`'s cap — below the fixture corpus's trigram-type
    * inventory on purpose, so the top-N cut and its (count DESC, gram)
    * tie-break actually execute.
    */
  private val lmMaxTypes = 300

  /** Character-trigram LM TRAINING ([[graft.pipeline.TextOps
    * .charNgramCounts]]): the capped count table every smoothed
    * probability rests on, value-oracled row by row — DuckDB re-slides
    * the grams (same codepoint `substr` semantics), re-counts,
    * re-ranks and re-cuts with the identical tie-break.
    */
  private def qLmModel(s: SparkSession, dir: String): DataFrame =
    TextOps.charNgramCounts(docs(s, dir), "text", 3, Some(lmMaxTypes))
      .select(col("gram"), col("cnt").cast("bigint").as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))

  /** The LM SCORING contract, in the parity style (the mean of
    * `log`-smoothed probabilities is transcendental — no cross-engine
    * SQL replays it bit-for-bit): every document's score from the
    * production broadcast-model UDF ([[graft.pipeline.TextOps
    * .lmScoreUdf]]) must EXACTLY equal a second independent Spark
    * derivation — explode the grams, broadcast-join the model frame,
    * re-derive each log-probability, fold in position order (the
    * UDF's documented left-to-right sum), divide by the gram count —
    * with short/empty docs scoring 0.0 on both paths. The oracle
    * re-derives the population AND the short-doc count, so neither can
    * shrink.
    */
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val lm = TextOps.charLm(d, "text", 3, lmMaxTypes)
    val scoreU = TextOps.lmScoreUdf(s, lm)
    val norm = TextOps.normalize(col("text"))
    // the same Math.log the UDF uses — Catalyst's `log` may bind
    // StrictMath on some versions, and the parity here is bit-exact
    val logU = udf((x: Double) => math.log(x))
    val modelDf = lm.counts.toSeq.toDF("gram", "cnt")
    val pathB = d
      .select(col("doc_id"),
        posexplode(TextOps.charNgrams(norm, 3)).as(Seq("p", "gram")))
      .join(broadcast(modelDf), Seq("gram"), "left")
      .select(col("doc_id"), col("p"),
        logU((coalesce(col("cnt"), lit(0L)).cast("double") +
          lit(lm.alpha)) / lit(lm.denom)).as("lp"))
      .groupBy("doc_id")
      .agg((aggregate(
        transform(
          array_sort(collect_list(struct(col("p"), col("lp")))),
          x => x.getField("lp")),
        lit(0.0), (a, x) => a + x) /
          count(lit(1)).cast("double")).as("score_b"))
    d.select(col("doc_id"), length(norm).as("len"),
        scoreU(norm).as("score_a"))
      .join(pathB, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(
          (col("score_b").isNull && col("score_a") === 0.0) ||
            col("score_a") === col("score_b"), 1L).otherwise(0L)),
          lit(0L)).as("n_score_match"),
        coalesce(sum(when(col("len") < 3, 1L).otherwise(0L)), lit(0L))
          .as("n_short"))
  }

  /** `q_nb_model`'s vocabulary cap — below the fixture corpus's
    * combined feature-type inventory (~31 distinct whitespace tokens +
    * [[nbBigramBuckets]] hashed-bigram buckets) on purpose, so the
    * top-N cut and its (count DESC, token) tie-break actually execute
    * across BOTH feature kinds.
    */
  private val nbMaxVocab = 24

  /** The classifier gates' hashed-bigram bucket count
    * ([[graft.pipeline.Classify.bigramFeatures]]) — small enough that
    * several buckets survive the [[nbMaxVocab]] cap at fixture scale,
    * so the bigram features genuinely participate in every gated
    * count, score and prediction.
    */
  private val nbBigramBuckets = 16

  /** Naive Bayes classifier TRAINING ([[graft.pipeline.Classify
    * .pairCounts]]/[[graft.pipeline.Classify.docCounts]] — the
    * distributed stage `train` collects), with hashed-bigram features
    * ACTIVE: the (label, in-vocab feature) count table plus per-label
    * doc counts, every integer the model's probabilities derive from,
    * value-oracled row by row — DuckDB re-tokenizes, re-derives every
    * bigram bucket (md5-48bit nibble arithmetic mod
    * [[nbBigramBuckets]]), re-caps the joint vocabulary with the
    * identical (count DESC, token) tie-break, and re-counts per label.
    */
  private def qNbModel(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Classify
    val d = docs(s, dir)
    Classify.pairCounts(d, "lang", "text", Some(nbMaxVocab),
        Some(nbBigramBuckets))
      .join(Classify.docCounts(d, "lang")
        .select(col("label"), col("docs").as("label_docs")), "label")
      .select(col("label"), col("token"),
        col("cnt").cast("bigint").as("cnt"),
        col("label_docs").cast("bigint").as("label_docs"))
      .orderBy("label", "token")
  }

  /** The NB CLASSIFICATION contract, in the `q_lm_score` parity style
    * (per-label scores are sums of `math.log` doubles — no cross-engine
    * SQL replays them bit-for-bit), with hashed-bigram features ACTIVE
    * (the feature stream is [[graft.pipeline.Classify.features]] on
    * both paths): every document's per-label score
    * from the production broadcast-model closure
    * ([[graft.pipeline.Classify.scoreUdf]]) must EXACTLY equal a second
    * independent Spark derivation — posexplode the tokens, cross the
    * label table, broadcast-join the model's STORED doubles
    * ([[graft.pipeline.Classify.likDf]], OOV via coalesce), fold from
    * the label's prior in position order (the scorer's documented
    * left-to-right sum) — and the argmax labels (window: score desc,
    * label asc = the scorer's strict-greater ascending scan) must agree
    * with [[graft.pipeline.Classify.classifyUdf]] on every document.
    * The oracle re-derives the doc and (doc × label) populations, so
    * neither comparison can shrink.
    */
  private def qNbClassify(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Classify
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val model = Classify.train(d, "lang", "text", alpha = 1.0,
      maxVocab = Some(nbMaxVocab), bigramBuckets = Some(nbBigramBuckets))
    // bigram features ACTIVE: the shared feature stream (training and
    // serving must featurize identically — Classify.features is the
    // one definition both sides use)
    val toks = Classify.features(col("text"), Some(nbBigramBuckets))
    // production path: the serving closures
    val prodPred = d.select(col("doc_id"),
      Classify.classifyUdf(model)(toks).as("pred"))
    // all labels' scores in ONE corpus scan (featurization — the md5
    // bigram hashing — runs once per document, not once per label):
    // score each label as a struct field off the same projected token
    // array, then explode the label axis
    val prodScores = d
      .select(col("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), explode(array(model.labels.map(l =>
          struct(lit(l).as("label"),
            Classify.scoreUdf(model, l)(col("__toks")).as("pscore")))
        .toIndexedSeq: _*)).as("__s"))
      .select(col("doc_id"), col("__s.label"), col("__s.pscore"))
    // independent path: stored doubles joined + position-ordered fold;
    // empty/no-token docs ride through posexplode_outer as a single
    // null-token row whose 0.0 term leaves the prior untouched
    val tokRows = d.select(col("doc_id"),
      posexplode_outer(filter(toks, t => length(t) > 0))
        .as(Seq("pos", "token")))
    val lik = Classify.likDf(s, model)
    val lab = Classify.labelDf(s, model)
    val perLabel = tokRows.crossJoin(broadcast(lab))
      .join(broadcast(lik), Seq("label", "token"), "left")
      .withColumn("term", when(col("token").isNull, lit(0.0))
        .otherwise(coalesce(col("log_lik"), col("log_oov"))))
      .groupBy("doc_id", "label")
      .agg(array_sort(collect_list(struct(col("pos"), col("term"))))
          .as("terms"),
        first(col("log_prior")).as("lp"))
      .select(col("doc_id"), col("label"),
        aggregate(col("terms"), col("lp"),
          (a, x) => a + x.getField("term")).as("score"))
    val wp = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("label"))
    val parityPred = perLabel
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("label").as("pred2"))
    val predCmp = prodPred.join(parityPred, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("pred2"), 1L).otherwise(0L))
          .as("n_pred_match"))
    val scoreCmp = perLabel.join(prodScores, Seq("doc_id", "label"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("score") === col("pscore"), 1L).otherwise(0L))
          .as("n_score_match"))
    predCmp.crossJoin(scoreCmp)
      .select(col("n_docs"), col("n_pred_match"), col("n_pairs"),
        col("n_score_match"))
  }

  /** The half/half cut `q_nb_eval` trains and evaluates across — named
    * once so the query and its oracle share the exact 48-bit integer
    * cut point (the q_split contract).
    */
  private val nbEvalSplit = Seq("train" -> 0.5, "eval" -> 0.5)

  /** The NB classifier's HELD-OUT evaluation — the `q_ann_recall` twin
    * for the classifier slot: the parity gates prove the math, this
    * row measures whether the trained model actually routes documents.
    * Train on the deterministic `train` half of a [[nbEvalSplit]] cut
    * ([[graft.pipeline.Sampling.splitAssign]] — pure function of
    * doc_id, integer cut points), serve the held-out half through the
    * production closure ([[graft.pipeline.Classify.classifyUdf]]), and
    * report the confusion matrix (true label × predicted label ×
    * document count). DuckDB re-derives EVERYTHING independently: the
    * split, the capped train-half vocabulary, every count/prior/
    * likelihood/OOV floor, each held-out document's position-ordered
    * score fold (list_reduce seeded with the prior — the scorer's
    * documented left-to-right sum), the argmax (score DESC, label ASC
    * = the scorer's strict-greater ascending scan) and the matrix
    * counts.
    *
    * Cross-engine float note: the scores are sums of `ln` doubles, and
    * the two engines' `ln` may differ in the last ulp — the gate rests
    * on argmax MARGINS dwarfing that drift, which the
    * "NB eval argmax margins" spec audits on the fixtures (smallest
    * top-2 gap ≈ 7e-3, ~10⁹× the accumulated drift bound at fixture
    * score magnitudes). Exact ties (labels with identical priors and
    * identical per-token terms) fold to bit-equal scores in EACH
    * engine independently and break to the lower label in both.
    */
  private def qNbEval(s: SparkSession, dir: String): DataFrame =
    nbEvalConfusion(s, dir, bigramBuckets = None)

  /** [[qNbEval]] with hashed-bigram features ACTIVE
    * ([[graft.pipeline.Classify.bigramFeatures]], the fastText
    * accuracy lever): same split, same cap, same derivation — the
    * difference between this row's diagonal and `q_nb_eval`'s IS the
    * measured gain (or cost) of the bigram features on the held-out
    * half, with the oracle re-deriving every hashed bucket. (At sf0.01
    * under the deliberately starved [[nbMaxVocab]] cap, bigrams lift
    * held-out accuracy 0.156 → 0.172 — the fixture's tiny shared
    * vocabulary keeps absolute numbers low by construction; the row
    * gates the measurement machinery, not a benchmark score.)
    */
  private def qNbEvalBigram(s: SparkSession, dir: String): DataFrame =
    nbEvalConfusion(s, dir, bigramBuckets = Some(nbBigramBuckets))

  private def nbEvalConfusion(s: SparkSession, dir: String,
      bigramBuckets: Option[Int]): DataFrame = {
    import graft.pipeline.{Classify, Sampling}
    val d = docs(s, dir)
    val cut = Sampling.splitAssign(d, col("doc_id"), nbEvalSplit)
    val model = Classify.train(cut.filter(col("split") === "train"),
      "lang", "text", alpha = 1.0, maxVocab = Some(nbMaxVocab),
      bigramBuckets = bigramBuckets)
    cut.filter(col("split") === "eval")
      .select(col("lang").as("label"),
        Classify.classifyUdf(model)(
          Classify.features(col("text"), bigramBuckets)).as("pred"))
      .groupBy("label", "pred")
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
      .orderBy("label", "pred")
  }

  /** The DSIR gates' hashed-feature bucket count
    * ([[graft.pipeline.Dsir.featureBuckets]]) — small enough that
    * buckets genuinely collide across unigrams and bigrams at fixture
    * scale, so the hashed-feature-space semantics (Xie et al. §3.1)
    * execute rather than degenerating to a plain vocabulary.
    */
  private val dsirBuckets = 32

  /** `q_dsir_select`'s cut — deep enough that both the kept and the
    * dropped side are populated at every gated scale factor.
    */
  private val dsirSelectK = 150

  /** The DSIR target/raw fit every `q_dsir_*` row shares: target =
    * the English documents, raw = the whole corpus — "select the
    * raw-crawl documents that look like the high-quality reference",
    * the paper's setting, with the target replayable by any engine as
    * `WHERE lang = 'en'`.
    */
  private def dsirModelOf(s: SparkSession, dir: String)
      : graft.pipeline.Dsir.DsirModel = {
    val d = docs(s, dir)
    graft.pipeline.Dsir.fit(d.filter(col("lang") === "en"), d, "text",
      dsirBuckets)
  }

  /** `q_curation_dsir`'s cut — below the quality-kept population at
    * every gated scale so the selection genuinely discriminates.
    */
  private val curationDsirK = 100

  /** Curation composed WITH targeted selection (the `q_curation_sem`
    * shape for the DSIR stage): the q_quality gate's survivors (the
    * single bit-pinned formula at ≥ 0.3) restrict BOTH the DSIR fit
    * corpora (target = surviving English, raw = all survivors) and
    * the scored corpus, then [[graft.pipeline.Dsir.selectTopK]] keeps
    * the [[curationDsirK]] survivors most like the target — select
    * among the rows that matter, not the ones quality already killed.
    * Both stages' decisions ride one oracle.
    */
  private def qCurationDsir(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Dsir
    val kept = docs(s, dir)
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .filter(col("quality") >= 0.3)
      .select("doc_id", "lang", "text")
    val model = Dsir.fit(kept.filter(col("lang") === "en"), kept,
      "text", dsirBuckets)
    Dsir.selectTopK(kept, "doc_id", "text", model, curationDsirK)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** DSIR model FIT ([[graft.pipeline.Dsir.bucketCounts]] — the
    * distributed stage [[graft.pipeline.Dsir.fit]] collects): the
    * target and raw hashed-bucket count tables, every integer the log
    * importance ratios derive from, value-oracled row by row — DuckDB
    * re-tokenizes, re-derives every unigram AND bigram bucket (md5-48
    * bit nibble arithmetic mod [[dsirBuckets]]) and re-counts both
    * corpora. Target buckets ⊆ raw buckets (the target is a subset of
    * the raw corpus), so the raw side anchors the join.
    */
  private def qDsirModel(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Dsir
    val d = docs(s, dir)
    val tc = Dsir.bucketCounts(d.filter(col("lang") === "en"), "text",
        dsirBuckets)
      .select(col("bucket"), col("cnt").as("target_cnt"))
    val rc = Dsir.bucketCounts(d, "text", dsirBuckets)
      .select(col("bucket"), col("cnt").as("raw_cnt"))
    rc.join(tc, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("target_cnt"), lit(0L)).cast("bigint")
          .as("target_cnt"),
        col("raw_cnt").cast("bigint").as("raw_cnt"))
      .orderBy("bucket")
  }

  /** The DSIR SCORING contract, in the `q_nb_classify` parity style
    * (log importance weights are sums of `math.log` doubles): every
    * document's log weight from the production broadcast-model closure
    * ([[graft.pipeline.Dsir.scoreUdf]]) must EXACTLY equal a second
    * independent Spark derivation — posexplode the feature buckets,
    * broadcast-join the model's STORED doubles
    * ([[graft.pipeline.Dsir.logRatioDf]]), fold from 0.0 in position
    * order (the scorer's documented left-to-right sum). The oracle
    * re-derives the document population, so the comparison cannot
    * shrink.
    */
  private def qDsirScore(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Dsir
    val d = docs(s, dir)
    val model = dsirModelOf(s, dir)
    val feats = Dsir.featureBuckets(col("text"), dsirBuckets)
    val prod = d.select(col("doc_id"),
      Dsir.scoreUdf(model)(feats).as("pscore"))
    // independent path: stored doubles joined + position-ordered fold;
    // zero-feature docs ride through posexplode_outer as a single
    // null-bucket row whose 0.0 term matches the closure's empty fold
    val tokRows = d.select(col("doc_id"),
      posexplode_outer(feats).as(Seq("pos", "bucket")))
    val lr = Dsir.logRatioDf(s, model)
    val indep = tokRows
      .join(broadcast(lr), Seq("bucket"), "left")
      .withColumn("term", when(col("bucket").isNull, lit(0.0))
        .otherwise(col("log_ratio")))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("term"))))
        .as("terms"))
      .select(col("doc_id"),
        aggregate(col("terms"), lit(0.0),
          (a, x) => a + x.getField("term")).as("score"))
    prod.join(indep, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pscore") === col("score"), 1L).otherwise(0L))
          .as("n_score_match"))
  }

  /** The DSIR SELECTION ([[graft.pipeline.Dsir.selectTopK]] — the
    * paper's deterministic top-k rule): the [[dsirSelectK]] documents
    * with the largest log importance weights under the shared
    * target/raw fit, ties to the lower doc_id. DuckDB re-derives the
    * ENTIRE chain independently: tokenization, every hashed bucket,
    * both count tables, the Laplace-smoothed ln ratios, each
    * document's position-ordered score fold (list_reduce seeded with
    * 0.0) and the (score DESC, doc_id) cut.
    *
    * Cross-engine float note: the scores are sums of `ln` doubles —
    * the gate rests on the k-boundary margin dwarfing last-ulp drift,
    * which the "DSIR selection boundary margin" spec audits on both
    * gated fixture scales (same contract as `q_nb_eval`). Documents
    * with identical text fold to bit-equal scores in EACH engine
    * independently and cut on doc_id in both.
    */
  private def qDsirSelect(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Dsir
    Dsir.selectTopK(docs(s, dir), "doc_id", "text",
        dsirModelOf(s, dir), dsirSelectK)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** `q_cluster_mix`'s per-discovered-domain target fractions: even
    * cells 0.1, odd cells 0.025 — deliberately uneven so the plan's
    * saturation and fractional-rate branches both execute at the
    * gated scales.
    */
  private def clusterMixTargets: Map[String, Double] =
    (0 until 16).map(c =>
      s"cell_$c" -> (if (c % 2 == 0) 0.1 else 0.025)).toMap

  /** `q_cluster_mix`'s token budget. */
  private val clusterMixBudget = 20000L

  /** DOMAIN-DISCOVERY mixing — the `q_mix_plan`/`q_mix_domains`
    * machinery pointed at domains a CLUSTERING discovered instead of a
    * label column: each document's domain is its embedding's IVF cell
    * under the SAME deterministic fixed-16 quantizer ANN serving and
    * SemDeDup build ([[graft.pipeline.Similarity.buildIvfIndex]],
    * kmeansIters = 0), and the mix retargets the discovered clusters'
    * token masses to [[clusterMixTargets]] under a
    * [[clusterMixBudget]]-token budget. Output per domain: the full
    * [[graft.pipeline.Sampling.domainMixPlan]] row (avail/target/rate/
    * shortfall) PLUS the realised keep counts from
    * [[graft.pipeline.Sampling.sampleToMix]] — so the oracle gates the
    * assignment, the mass aggregation, the rate arithmetic AND every
    * document's IEEE-exact keep decision in one row. DuckDB re-derives
    * the quantizer assignment through the shared `q_sim_ivf` CTE
    * chain, then replays the `q_mix_plan` arithmetic and the 48-bit
    * keep threshold.
    */
  private def qClusterMix(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Sampling, Similarity}
    val idx = Similarity.buildIvfIndex(embeds(s, dir),
      "vec_id", "embedding", 16)
    val assigned = idx.assigned.select(col("vec_id").as("doc_id"),
      concat(lit("cell_"), col("__cell").cast("string")).as("domain"))
    val dd = docs(s, dir).join(assigned, "doc_id")
      .select(col("doc_id"), col("domain"),
        size(TextOps.tokens(col("text"))).cast("bigint").as("n_tokens"))
    val plan = Sampling.domainMixPlan(dd, "domain", col("n_tokens"),
      clusterMixTargets, clusterMixBudget)
    val kept = Sampling.sampleToMix(dd, col("doc_id"), "domain",
        col("n_tokens"), clusterMixTargets, clusterMixBudget)
      .groupBy("domain")
      .agg(count(lit(1)).as("kept_docs"),
        sum("n_tokens").as("kept_tokens"))
    plan.join(kept, Seq("domain"), "left")
      .select(col("domain"),
        col("avail_tokens").cast("bigint").as("avail_tokens"),
        col("target_tokens"), col("rate"), col("shortfall_tokens"),
        coalesce(col("kept_docs"), lit(0L)).cast("bigint")
          .as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).cast("bigint")
          .as("kept_tokens"))
      .orderBy("domain")
  }

  /** The BM25 gates' query and cut — three mid-frequency fixture
    * terms (each in ~380–415 of 500 docs) so tf, df and dl all vary
    * across candidates, and a k well inside the candidate set.
    */
  private val bm25Query = "spark window merge"
  private val bm25K = 20

  /** `q_bm25_batch`'s query frame and per-query cut. */
  private val bm25BatchQueries = Seq(
    "q1" -> "spark window merge",
    "q2" -> "customer data",
    "q3" -> "vector join fast")
  private val bm25BatchK = 5

  /** BM25 BATCH serving ([[graft.pipeline.Bm25.queryTopKBatch]] —
    * the `queryIvfBatch` analog): three queries scored against the
    * corpus in ONE plan (corpus tokenized once for the union of all
    * terms, per-query cut a row_number window partitioned by query).
    * DuckDB replays the whole multi-query chain; the spec pins
    * batch == the single-query loop bit-for-bit and audits each
    * query's k-boundary.
    */
  private def qBm25Batch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.Bm25
    val q = bm25BatchQueries.toDF("qid", "qtext")
    Bm25.queryTopKBatch(docs(s, dir), "doc_id", "text", q, "qid",
        "qtext", bm25BatchK)
      .select(col("qid"), col("doc_id"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** BM25 retrieval STATISTICS ([[graft.pipeline.Bm25]] — the integers
    * the ranking function derives from): per query term its document
    * frequency, plus the corpus row (`n_docs`, `sum_dl`) and
    * `avgdl` = ONE exact divide — all value-oracled, DuckDB
    * re-tokenizing and re-counting everything.
    */
  private def qBm25Stats(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Bm25
    val d = docsNarrow(s, dir)
    val tf = Bm25.termFrequencies(d, "doc_id", "text",
      Bm25.queryTerms(bm25Query))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    dfreq.crossJoin(broadcast(Bm25.corpusStats(d, "text")))
      .select(col("term"), col("df").cast("bigint").as("df"),
        col("n_docs").cast("bigint").as("n_docs"),
        col("sum_dl").cast("bigint").as("sum_dl"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
      .orderBy("term")
  }

  /** BM25 top-k retrieval ([[graft.pipeline.Bm25.queryTopK]], k1 1.2 /
    * b 0.75): the [[bm25K]] best-scoring documents for [[bm25Query]],
    * ties to the lower doc_id. DuckDB replays the ENTIRE chain —
    * tokenization, tf/df/dl/avgdl, the positive-idf ln, each
    * candidate's term-ordered contribution fold and the
    * (score DESC, doc_id) cut; the k-boundary margin is spec-audited
    * on both gated fixture scales (the q_nb_eval float-robustness
    * contract).
    */
  private def qBm25Topk(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Bm25
    val d = docs(s, dir)
    Bm25.queryTopK(d, "doc_id", "text", bm25Query, bm25K)
      .select("doc_id")
      .join(d.select("doc_id", "lang"), "doc_id")
      .orderBy("doc_id")
  }

  /** BM25 serving from the PERSISTED inverted index
    * ([[graft.pipeline.Bm25.writeBm25Index]] /
    * [[graft.pipeline.Bm25.queryIndexTopK]]): build the term-bucket-
    * partitioned postings + stats sidecar, load them back, serve
    * [[bm25Query]] reading ONLY the query terms' bucket partitions
    * (partition pruning — plan-asserted in the spec), and land the
    * same top-[[bm25K]]. The result is bit-identical to the direct
    * corpus scan — same integers, same pinned fold — so the oracle is
    * `q_bm25_topk`'s, verbatim.
    */
  private def qBm25Index(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Bm25
    val d = docs(s, dir)
    val path = scratchDir("q-bm25-index")
    Bm25.writeBm25Index(d, "doc_id", "text", s"$path/idx", buckets = 16)
    Bm25.queryIndexTopK(Bm25.loadBm25Index(s, s"$path/idx"),
        bm25Query, bm25K)
      .select("doc_id")
      .join(d.select("doc_id", "lang"), "doc_id")
      .orderBy("doc_id")
  }

  /** BM25 index MAINTENANCE ([[graft.pipeline.Bm25
    * .appendToBm25Index]]): build the persisted layout from the EVEN
    * doc_ids, append the odd half (new postings files inside the
    * existing bucket partitions, stats sidecar summed exactly), serve
    * [[bm25Query]] from the appended layout — and land the identical
    * top-[[bm25K]] a full-corpus scan produces, so the oracle is
    * `q_bm25_topk`'s verbatim (BM25's global statistics absorb the
    * append exactly).
    */
  private def qBm25Append(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Bm25
    val d = docs(s, dir)
    val path = scratchDir("q-bm25-append")
    Bm25.writeBm25Index(d.filter(col("doc_id") % 2 === 0), "doc_id",
      "text", s"$path/idx", buckets = 16)
    Bm25.appendToBm25Index(d.filter(col("doc_id") % 2 === 1), "text",
      s"$path/idx")
    Bm25.queryIndexTopK(Bm25.loadBm25Index(s, s"$path/idx"),
        bm25Query, bm25K)
      .select("doc_id")
      .join(d.select("doc_id", "lang"), "doc_id")
      .orderBy("doc_id")
  }

  /** BM25 index COMPACTION ([[graft.pipeline.Bm25
    * .compactBm25Index]]): build the persisted layout from the even
    * doc_ids, append the odd half (small new files inside every
    * bucket partition), fold the layout back into one (term, id)-
    * sorted file per bucket, and serve [[bm25Query]] from the
    * compacted index. The postings are the same rows — every integer
    * unchanged — so the oracle is `q_bm25_topk`'s verbatim; the spec
    * additionally pins file consolidation and the crash-heal path.
    */
  private def qBm25Compact(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Bm25
    val d = docs(s, dir)
    val path = scratchDir("q-bm25-compact")
    Bm25.writeBm25Index(d.filter(col("doc_id") % 2 === 0), "doc_id",
      "text", s"$path/idx", buckets = 16)
    Bm25.appendToBm25Index(d.filter(col("doc_id") % 2 === 1), "text",
      s"$path/idx")
    Bm25.compactBm25Index(s, s"$path/idx")
    Bm25.queryIndexTopK(Bm25.loadBm25Index(s, s"$path/idx"),
        bm25Query, bm25K)
      .select("doc_id")
      .join(d.select("doc_id", "lang"), "doc_id")
      .orderBy("doc_id")
  }

  /** BM25 BATCH serving from the PERSISTED index
    * ([[graft.pipeline.Bm25.queryIndexTopKBatch]] — the production
    * multi-query shape over [[graft.pipeline.Bm25.writeBm25Index]]'s
    * layout): the three batch queries' term union routes to its
    * bucket partitions (partition pruning, plan-asserted in the
    * spec), df re-derives from the pruned postings, and each query
    * folds per candidate in term order — bit-identical to the
    * direct-scan batch, so the oracle is `q_bm25_batch`'s verbatim.
    */
  private def qBm25IndexBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.Bm25
    val d = docs(s, dir)
    val path = scratchDir("q-bm25-ixbatch")
    Bm25.writeBm25Index(d, "doc_id", "text", s"$path/idx", buckets = 16)
    val q = bm25BatchQueries.toDF("qid", "qtext")
    Bm25.queryIndexTopKBatch(Bm25.loadBm25Index(s, s"$path/idx"), q,
        "qid", "qtext", bm25BatchK)
      .select(col("qid"), col("doc_id"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** `q_hybrid_rrf`'s query documents — ids present in BOTH
    * `documents` and `embeddings`, so each query has a lexical form
    * (its text) and a vector form (its embedding).
    */
  private val hybridQids = Seq(0L, 7L, 21L)
  private val hybridK = 10

  /** Hybrid retrieval ([[graft.pipeline.Hybrid.rrfFuse]] — Reciprocal
    * Rank Fusion, Cormack et al. 2009): three query documents are run
    * through BOTH tiers — their text through the audited BM25 batch
    * operator, their embedding through the exact batch cosine top-k
    * (the recall audit's tie rules) — and the two rank lists fuse as
    * `Σ 1/(60 + rank)`. The rrf doubles derive from INTEGER ranks
    * (one divide + one add per side), so DuckDB reproduces the fused
    * scores bit-for-bit and the gate pins rrf VALUES, not just the
    * kept set — the fusion level needs no margin argument; the tier
    * boundary audits live with their own gates.
    */
  private def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Bm25, Hybrid}
    val d = docs(s, dir)
    val e = embeds(s, dir)
    val q = d.filter(col("doc_id").isin(hybridQids: _*))
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val lex = Bm25.queryTopKBatch(d, "doc_id", "text", q, "qid",
        "qtext", hybridK)
      .select(col("qid"), col("doc_id").as("id"), col("rank"))
    val qv = e.filter(col("vec_id").isin(hybridQids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val vec = Hybrid.cosineTopKBatch(e, "vec_id", "embedding", qv,
        "qid", "qvec", hybridK)
      .select(col("qid"), col("vec_id").as("id"), col("rank"))
    Hybrid.rrfFuse(lex, vec, "qid", "id", hybridK)
      .select(col("qid"), col("id").as("doc_id"), col("rrf"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** Hybrid retrieval served ENTIRELY from persisted indexes
    * ([[graft.pipeline.Bm25.queryIndexTopKBatch]] over the
    * term-bucket postings + [[graft.pipeline.Similarity
    * .queryIvfBatch]] over the cell-partitioned IVF layout, fused by
    * [[graft.pipeline.Hybrid.rrfFuse]]) — the production serving
    * composition: both tiers read only their partition-pruned slices,
    * the corpus is never re-scanned at query time. The lexical tier
    * is bit-identical to the direct scan (the `q_bm25_index_batch`
    * contract), the vector tier is the nProbe=2 IVF cut (the
    * `q_sim_ivf_batch` chain over the full store), and the rrf
    * doubles derive from integer ranks — so DuckDB re-derives the
    * fused frame bit-for-bit, approximation and all.
    */
  private def qHybridIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Bm25, Hybrid}
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val e = embeds(s, dir)
    val path = scratchDir("q-hybrid-index")
    // the two tier builds are INDEPENDENT (different source tables,
    // different output dirs) — submit them from two driver threads so
    // the second build's tasks back-fill executors freed by the first
    // build's tail (guide §2.6: actions are only sequential because
    // the driver calls them sequentially); results are unchanged, the
    // serving plans below read both finished layouts
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val bm25Build = Future {
      Bm25.writeBm25Index(d, "doc_id", "text", s"$path/bm25",
        buckets = 16)
    }
    val ivfBuild = Future {
      Similarity.writeIvfIndex(
        Similarity.buildIvfIndex(e, "vec_id", "embedding", 16),
        s"$path/ivf")
    }
    // join BOTH builds even when one throws: awaiting sequentially
    // would propagate the first failure while the sibling keeps
    // running detached (orphaned jobs, scratch writes racing a retry)
    try Await.result(bm25Build, Duration.Inf)
    finally Await.ready(ivfBuild, Duration.Inf)
    Await.result(ivfBuild, Duration.Inf)
    val q = d.filter(col("doc_id").isin(hybridQids: _*))
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val lex = Bm25.queryIndexTopKBatch(
        Bm25.loadBm25Index(s, s"$path/bm25"), q, "qid", "qtext",
        hybridK)
      .select(col("qid"), col("doc_id").as("id"), col("rank"))
    val qv = e.filter(col("vec_id").isin(hybridQids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("vec_id"))
    val vec = Similarity.queryIvfBatch(
        Similarity.loadIvfIndex(s, s"$path/ivf"), qv, "qid", "qvec",
        k = hybridK, nProbe = 2)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("qid"), col("vec_id").as("id"), col("rank"))
    Hybrid.rrfFuse(lex, vec, "qid", "id", hybridK)
      .select(col("qid"), col("id").as("doc_id"), col("rrf"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** The FULL Gopher filter ([[graft.pipeline.TextOps
    * .gopherRulesFull]]): the narrow rule table joined with the two
    * repetition caps (top-word share ≤ 0.11, duplicate-bigram fraction
    * ≤ 0.05 — tuned to the corpus so both outcomes appear), `keep`
    * tightened to all nine rules. Fully value-oracled.
    */
  private def qGopherFull(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRulesFull(docs(s, dir), "doc_id", "text",
        TextOps.GopherConfig(minWords = 30, maxWords = 90,
          minMeanWordLen = 3.9, maxMeanWordLen = 4.9,
          minStopwordHits = 1),
        maxTopWordFrac = 0.11, maxDupBigramFrac = 0.05)
      .withColumn("n_words", col("n_words").cast("bigint"))
      .withColumn("stop_hits", col("stop_hits").cast("bigint"))
      .orderBy("doc_id")

  /** The per-source corpus data card
    * ([[graft.pipeline.Curation.dataCard]]): doc counts, exact token
    * mass, duplicate-text counts, language composition, Gopher keep
    * counts — every double derived at the end from exact integer
    * aggregates, so the whole report value-oracles.
    */
  private def qDataCard(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.dataCard(docs(s, dir), "source",
        "text", "lang", Seq("de", "en", "es", "fr", "zh"),
        TextOps.GopherConfig(minWords = 30, maxWords = 90,
          minMeanWordLen = 3.9, maxMeanWordLen = 4.9,
          minStopwordHits = 1))
      .orderBy("source")

  /** Shared gopher-feature CTE chain (`f` + `feat`) and the keep
    * conjunction under the gate thresholds — one definition for
    * `q_gopher_rules` and `q_data_card` so the two oracles cannot
    * drift.
    */
  private lazy val gopherFeatCtes: String = {
    val stop = s"len(list_filter($toksSql, x -> x IN " +
      s"(${inList(TextOps.langProfiles("en"))})))"
    s"""f AS (SELECT doc_id, text,
       |  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nrm
       |FROM documents),
       |feat AS (SELECT doc_id,
       |  CAST(len(string_split(nrm, ' ')) AS BIGINT) AS n_words,
       |  CAST(length(nrm) - (len(string_split(nrm, ' ')) - 1)
       |    AS DOUBLE) / len(string_split(nrm, ' ')) AS mean_word_len,
       |  ((length(text) - length(replace(text, '#', '')))
       |   + (length(text) - length(replace(text, '...', ''))) / 3)
       |    / CAST(len(string_split(nrm, ' ')) AS DOUBLE)
       |    AS symbol_word_ratio,
       |  CAST(len(list_filter(string_split(nrm, ' '),
       |      w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
       |    / len(string_split(nrm, ' ')) AS alpha_word_frac,
       |  CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(l, '^\\s*[-•*] '))) AS DOUBLE)
       |    / len(string_split(text, chr(10))) AS bullet_line_frac,
       |  CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS DOUBLE)
       |    / len(string_split(text, chr(10))) AS ellipsis_line_frac,
       |  CAST($stop AS BIGINT) AS stop_hits
       |FROM f)""".stripMargin
  }
  /** Shared repetition-stat CTEs (`ws` word stats + `bs` bigram stats)
    * — one definition for `q_repetition` and `q_gopher_full`.
    */
  private lazy val repetitionCtes: String =
    s"""toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |pt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
       |ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |         COUNT(*) AS n_distinct_tokens,
       |         CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_word_frac
       |       FROM pt GROUP BY 1),
       |nm AS (SELECT doc_id, $toksSql AS w FROM documents),
       |bp AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS i
       |       FROM nm WHERE len(w) >= 2),
       |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram FROM bp),
       |bs AS (SELECT doc_id,
       |         CAST(COUNT(*) - COUNT(DISTINCT bigram) AS DOUBLE) / COUNT(*)
       |           AS dup_bigram_frac
       |       FROM bg GROUP BY 1)""".stripMargin

  private val gopherKeepSql: String =
    "(n_words BETWEEN 30 AND 90) AND " +
      "(mean_word_len BETWEEN 3.9 AND 4.9) AND " +
      "symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9 AND " +
      "ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 AND " +
      "stop_hits >= 1"

  private val mixTargets = Map("en" -> 0.5, "fr" -> 0.2, "de" -> 0.15,
    "es" -> 0.1, "zh" -> 0.05)
  private val mixBudget = 30000L

  /** The domain-mix PLAN ([[graft.pipeline.Sampling.domainMixPlan]]):
    * per language, available token mass, target mass under the 30k
    * budget, the saturating keep rate, and the shortfall — every double
    * value-oracled (int/int and literal·int arithmetic only).
    */
  private def qMixPlan(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.domainMixPlan(docs(s, dir), "lang",
        TextOps.tokenCount(col("text")), mixTargets, mixBudget)
      .orderBy("lang")

  /** The deterministic keep set realising the plan
    * ([[graft.pipeline.Sampling.sampleToMix]]): every kept (doc, lang,
    * tokens) row compared — the oracle recomputes the per-domain rate
    * AND the 48-bit hash threshold per doc.
    */
  private def qMixDomains(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.sampleToMix(
        docsNarrow(s, dir).select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        key = col("doc_id"), domainCol = "lang", tokens = col("n_tokens"),
        targets = mixTargets, budgetTokens = mixBudget)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .orderBy("doc_id")

  /** Upsampled (epoch-aware) mix realisation
    * ([[graft.pipeline.Sampling.upsampleToMix]]): the same targets and
    * budget as `q_mix_plan`, but shortfall domains (de/en/fr at gate
    * scale — rate = target/avail > 1) REPEAT: floor(rate) full copies
    * plus a (key, copy)-salted 48-bit-thresholded fractional copy.
    * The oracle replays the unclamped rate, the copy explosion and
    * every salted threshold decision.
    */
  private def qMixUpsample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.upsampleToMix(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        key = col("doc_id"), domainCol = "lang", tokens = col("n_tokens"),
        targets = mixTargets, budgetTokens = mixBudget)
      .orderBy("doc_id", "copy")

  /** `q_mix_temperature` / `q_mix_temp_sample`'s sampling temperature
    * — 0.75 = 192/256 exercises a two-term sqrt chain
    * (`sqrt(x)·sqrt(sqrt(x))`), not just one sqrt.
    */
  private val mixAlpha = 0.75

  /** TEMPERATURE-derived mixing plan ([[graft.pipeline.Sampling
    * .temperatureMixPlan]] — the multilingual alpha-sampling rule,
    * `p_i ∝ n_i^α`): the per-domain share, targets, rates and
    * shortfalls all DERIVED from the corpus counts at α =
    * [[mixAlpha]]. Every double is engine-exact — the power is the
    * dyadic sqrt-chain (IEEE requires sqrt and × correctly rounded),
    * the share's Σ folds in domain order from 0.0 — so DuckDB
    * re-derives the full frame bit-for-bit, transcendental-free.
    */
  private def qMixTemperature(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.temperatureMixPlan(docs(s, dir), "lang",
        TextOps.tokenCount(col("text")), mixAlpha, mixBudget)
      .orderBy("lang")

  /** The deterministic keep set realising the temperature plan
    * ([[graft.pipeline.Sampling.sampleToTemperatureMix]]): the oracle
    * recomputes the α-derived per-domain rate AND each doc's 48-bit
    * hash threshold decision.
    */
  private def qMixTempSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.sampleToTemperatureMix(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        key = col("doc_id"), domainCol = "lang", tokens = col("n_tokens"),
        alpha = mixAlpha, budgetTokens = mixBudget)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .orderBy("doc_id")

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

  /** The JDBC sink a reference user actually runs, at fixture scale and
    * under the full staged-publish orchestration: lineitem (minus the
    * nanos-encoded ship date — the JDBC round trip is about the SINK,
    * not timestamp codecs) staged into embedded Derby through
    * [[JdbcIO]]'s parallel write and published with
    * [[JdbcCommitMode.RenameSwap]] (Derby's clone-DDL + two renames, as
    * the RenameSwap scaladoc prescribes for engines without MySQL's
    * multi-rename), then read BACK over JDBC and aggregated. The oracle
    * aggregates the parquet source directly, so one row lost,
    * duplicated, or mangled anywhere in stage → clone → publish → read
    * diverges. Also the bench row that puts a number on the sink (the
    * Derby specs are toy-sized). Idempotent per JVM: leftover tables
    * from a previous sample are dropped/reused by the commit path.
    */
  private def qJdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.{JdbcCommitMode, JdbcIO}
    System.setProperty("derby.system.home", "/tmp")
    val url = "jdbc:derby:memory:graftrt;create=true"
    val io = new JdbcIO(s, url,
      // Spark's Derby dialect maps StringType to CLOB, which Derby
      // won't implicitly assign into the VARCHAR clone in
      // INSERT..SELECT — pin the staging DDL to the target's types.
      // numPartitions bounds the concurrent embedded-Derby writers.
      options = Map(
        "createTableColumnTypes" ->
          "L_RETURNFLAG VARCHAR(1), L_LINESTATUS VARCHAR(1)",
        "numPartitions" -> "8",
        // the bench row's cost is embedded-Derby insert throughput, not
        // the Spark plan — 10× the default JDBC batch amortises the
        // per-executeBatch round trip (measured ~15% off the sf0.1 row)
        "batchsize" -> "10000"),
      sessionInit = None,
      commitMode = JdbcCommitMode.RenameSwap(
        cloneDdl = (c, t) => s"CREATE TABLE $c AS SELECT * FROM $t " +
          "WITH NO DATA",
        renames = (t, c, r) =>
          Seq(s"RENAME TABLE $t TO $r", s"RENAME TABLE $c TO $t")))
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("CREATE TABLE LINEITEM_RT (L_ORDERKEY BIGINT, " +
        "L_PARTKEY BIGINT, L_SUPPKEY BIGINT, L_LINENUMBER INTEGER, " +
        "L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE, L_DISCOUNT DOUBLE, " +
        "L_TAX DOUBLE, L_RETURNFLAG VARCHAR(1), L_LINESTATUS VARCHAR(1))")
      catch {
        // idempotence means tolerating exactly "already exists" (Derby
        // SQLState X0Y32, a prior sample's table) — any other create
        // failure must surface here, not as a confusing missing-table
        // error deep inside the RenameSwap publish
        case e: java.sql.SQLException if e.getSQLState == "X0Y32" => ()
      }
      finally st.close()
    } finally conn.close()
    io.write("LINEITEM_RT", li)
    io.read("LINEITEM_RT")
      .groupBy(col("L_RETURNFLAG").as("l_returnflag"),
        col("L_LINESTATUS").as("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("L_QUANTITY").cast(DecimalType(12, 2)))
          .cast("double").as("sum_qty"),
        sum(col("L_EXTENDEDPRICE").cast(DecimalType(12, 2)))
          .cast("double").as("sum_price"))
      .orderBy("l_returnflag", "l_linestatus")
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

  /** The composed curation pipeline ([[graft.pipeline.Curation.curate]]):
    * quality gate → PII scrub → near-dedup (survivors only) → stratified
    * mix, end-to-end under one oracle. The fixture corpus carries no PII,
    * so a deterministic contact string is appended per document BEFORE
    * the pipeline — the scrub stage genuinely fires, and the dedup stage
    * shingles the REDACTED text exactly as a production run would.
    */
  /** The synthesized-PII corpus + curation call shared by
    * [[qCuration]] and [[qCurationPack]].
    */
  private def curatedDocs(s: SparkSession, dir: String): DataFrame = {
    val synth = docs(s, dir).select("doc_id", "lang", "text")
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://example.com/d/"),
        col("doc_id").cast("string")))
    graft.pipeline.Curation.curate(synth, "doc_id", "text", "lang",
      minQuality = 0.3, dedupThreshold = 0.8,
      mixRates = Map("en" -> 0.5, "es" -> 1.0, "de" -> 0.25),
      defaultRate = 0.1)
  }

  private def qCuration(s: SparkSession, dir: String): DataFrame =
    curatedDocs(s, dir)
      .select("doc_id", "lang", "quality", "text")
      .orderBy("doc_id")

  /** The curated corpus packed into training bins
    * ([[qCuration]] ∘ [[graft.pipeline.Packing.packByOffset]]): the
    * full pipeline a training run executes — quality gate → PII scrub
    * → near-dedup → stratified mix → offset packing of the SURVIVORS
    * (tokens counted on the redacted text) into 128-token bins per
    * language shard — chained under one value oracle.
    */
  private def qCurationPack(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.packByOffset(
        curatedDocs(s, dir).select("doc_id", "lang", "text"),
        "lang", "doc_id", TextOps.tokenCount(col("text")), 128)
      .select("doc_id", "lang", "tokens", "offset", "bin")
      .orderBy("lang", "doc_id")

  /** The full training-mix flow in ONE plan: curation survivors
    * ([[qCuration]]) → weighted Poisson sample with inclusion mass
    * proportional to each survivor's token count
    * ([[graft.pipeline.Sampling.weightedHashSample]], the
    * sample-by-token-budget knob) → offset packing of the sampled docs
    * into 128-token bins per language shard. Every stage's decisions
    * are value-oracled end to end — the sampling threshold is
    * multiplication-only, so DuckDB reproduces the kept set inside the
    * same chain that re-derives curation and packing.
    */
  private def qCurationWeighted(s: SparkSession, dir: String): DataFrame = {
    val kept = curatedDocs(s, dir).select("doc_id", "lang", "text")
    // the weight is recomputed for the window rather than materialised:
    // packByOffset claims the "tokens" output name for its contract
    val sampled = graft.pipeline.Sampling.weightedHashSample(
      kept, col("doc_id"), TextOps.tokenCount(col("text")), 0.02)
    graft.pipeline.Packing.packByOffset(sampled, "lang", "doc_id",
        TextOps.tokenCount(col("text")), 128)
      .select("doc_id", "lang", "tokens", "offset", "bin")
      .orderBy("lang", "doc_id")
  }

  /** `q_curation_temp`'s token budget — sized so the sf0.001 curated
    * mass saturates the low-resource languages' rates while the big
    * ones keep fractionally.
    */
  private val curTempBudget = 8000L

  /** Curation composed with TEMPERATURE-derived mixing
    * ([[graft.pipeline.Sampling.sampleToTemperatureMix]] over the
    * curated survivors — `q_curation_weighted`'s shape with the
    * alpha-sampling rule in the sampling slot): the per-language
    * rates derive from the SURVIVORS' token mass at α = [[mixAlpha]],
    * then each kept doc clears its 48-bit hash threshold. DuckDB
    * replays curation → α-plan → threshold in one chain.
    */
  private def qCurationTemp(s: SparkSession, dir: String): DataFrame = {
    val kept = curatedDocs(s, dir).select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens"))
    graft.pipeline.Sampling.sampleToTemperatureMix(kept, col("doc_id"),
        "lang", col("n_tokens"), mixAlpha, curTempBudget)
      .orderBy("doc_id")
  }

  /** Curation composed with the DRIFT MONITOR — the QA read a pipeline
    * runs after changing a filter: curate
    * ([[curatedDocs]]: quality gate → PII scrub → near-dedup →
    * stratified mix), then measure what the surviving corpus's token
    * distribution drifted FROM the raw corpus
    * ([[graft.pipeline.TextOps.vocabDivergence]], survivors as side A,
    * raw documents as side B). DuckDB replays the whole chain — the
    * shared curation CTEs into the shared divergence CTEs — and the
    * gate pins the exact columns (integer counts, Laplace-1 smoothed
    * probabilities, total-variation term); `js_term` stays out of the
    * gate for the documented cross-engine ln-ULP reason
    * (`q_vocab_drift`). Scale shape is both components': curation's
    * banded dedup plus two vocabulary-bounded count tables — nothing
    * corpus-sized past the aggregates.
    */
  private def qCurationDrift(s: SparkSession, dir: String): DataFrame = {
    val raw = docs(s, dir).select("doc_id", "lang", "text")
    val kept = curatedDocs(s, dir).select("doc_id", "lang", "text")
    TextOps.vocabDivergence(kept, raw, "text")
      .select("token", "c_a", "c_b", "p_a", "p_b", "tv_term")
      .orderBy("token")
  }

  /** Int8 quantization audit over the embedding store
    * ([[Similarity.int8Scale]]/[[Similarity.int8Codes]] — the 4× storage/
    * shuffle-width cut): per vector the symmetric scale, the worst
    * dequantization error (≤ scale/2 by construction, asserted by the
    * oracle values), and the saturated-code count. Narrow scan, no
    * shuffle; scalar outputs so the driver can hash them.
    */
  private def qQuantize(s: SparkSession, dir: String): DataFrame =
    embeds(s, dir)
      .select(col("vec_id"), col("embedding"),
        Similarity.int8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"), col("scale"),
        Similarity.int8Codes(col("embedding"), col("scale")).as("codes"),
        col("embedding"))
      .select(col("vec_id"), col("scale"),
        array_max(zip_with(col("embedding"),
          Similarity.dequantize(col("codes"), col("scale")),
          (x, d) => abs(x.cast("double") - d))).as("max_abs_err"),
        size(filter(col("codes"), c => abs(c) === 127)).as("n_sat"))
      .orderBy("vec_id")

  /** Multimodal metadata over an opaque binary payload (typed meta
    * struct). This oracle row covers the metadata/plumbing layer; the
    * REAL image/audio decode (ImageIO pixel stats, javax.sound PCM
    * stats — [[graft.pipeline.Multimodal.decodePartitioned]]) is
    * spec-tested instead, since DuckDB cannot re-derive codec output.
    */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val payload = Multimodal.payloadOf(col("text"))
    docsNarrow(s, dir).select(
        col("doc_id") +: Multimodal.metaColumns(payload)
          :+ md5(payload).as("payload_md5"): _*)
      .orderBy("doc_id")
  }

  /** A REAL 16×16 24-bit BMP whose 256 grayscale pixels are an md5
    * stream keyed by `id` (pixel p reads byte p%16 of
    * md5("img:" + id + ":" + p/16)) — decodable by the JDK's ImageIO,
    * deterministic across executors/retries, and visually uncorrelated
    * across ids (so average-hashes of different ids are ~uniform
    * 64-bit values). `variant = 1` XORs pixel (0, 0)'s value with 1 —
    * a DIFFERENT image one luminance unit away, the minimal perceptual
    * near-duplicate. Row order is BMP bottom-up; rows are 48 bytes
    * (16·3), already 4-aligned, so no padding.
    */
  private def syntheticBmp16(id: Long, variant: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val px = new Array[Int](256)
    var blk = 0
    while (blk < 16) {
      val h = md.digest(s"img:$id:$blk".getBytes("UTF-8"))
      var b = 0
      while (b < 16) { px(blk * 16 + b) = h(b) & 0xff; b += 1 }
      blk += 1
    }
    if (variant == 1) px(0) ^= 1
    val out = new Array[Byte](14 + 40 + 768)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, out.length); le32(10, 54)
    le32(14, 40); le32(18, 16); le32(22, 16)
    out(26) = 1; out(28) = 24 // planes, bpp (compression 0, default)
    le32(34, 768)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        // bottom-up storage: file row 0 is image row 15
        val v = px((15 - y) * 16 + x).toByte
        val o = 54 + (y * 16 + x) * 3
        out(o) = v; out(o + 1) = v; out(o + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** Image perceptual-hash near-dup — the dedup family extended to the
    * image modality ([[graft.pipeline.Multimodal.averageHash]]: REAL
    * ImageIO decode → g×g integer luminance grid → aHash), gated in
    * the composed-parity style. Per document TWO real BMPs are
    * synthesized ([[syntheticBmp16]]): the base image and a
    * one-luminance-unit twin — different bytes, near-identical
    * pixels. The gate pins, against DuckDB-re-derived populations:
    * (1) every payload decodes as a real 16×16 image (metadata path);
    * (2) every aHash equals an INDEPENDENT in-query integer fold over
    * the emitted luminance grid (same `Σ div 64` mean, same
    * strict-greater bit rule — one differing bit reds the row);
    * (3) [[graft.pipeline.Dedup.simHashNearPairs]] Hamming banding at
    * k = 8 finds EVERY base↔twin pair (perceptual robustness: a
    * one-unit pixel edit moves one grid cell by at most one level) and
    * (4) NO cross-document pair (md5-stream images are visually
    * uncorrelated, so inter-doc Hamming concentrates at ~32 — verified
    * deterministic at every fixture SF). No all-pairs stage anywhere:
    * the pairing is the same pigeonhole band join the text SimHash
    * path scales on.
    */
  private def qImagePhash(s: SparkSession, dir: String): DataFrame = {
    val bmp = udf((id: Long, v: Int) => syntheticBmp16(id, v))
    val imgs = docs(s, dir).select(col("doc_id"))
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("variant"))
      .withColumn("img", bmp(col("doc_id"), col("variant")))
    val metaOk = udf((b: Array[Byte]) => {
      val m = graft.pipeline.Multimodal.ImageCodec.meta(b)
      m._1 == "image/bmp" && m._2 == 16 && m._3 == 16
    })
    // decode once: the stats aggregate and BOTH sides of the pair join
    // branch from this frame, so without materialising it each branch
    // would re-synthesize and re-decode every image (measured ~3× the
    // decode wall at 10×sf0.1) — persisting the THIN post-decode frame
    // (ids + two longs + two flags, never the pixels) is exactly the
    // decode-once posture a corpus-scale media pipeline runs
    val hashed = Materialize(Multimodal.averageHash(imgs, "img")
      .withColumn("__mean",
        expr("aggregate(lum_grid, CAST(0 AS BIGINT), (a, x) -> a + x)" +
          " div 64"))
      .withColumn("__hsql",
        expr("aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->" +
          " acc + IF(element_at(lum_grid, i + 1) > __mean," +
          " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"))
      .withColumn("__img_ok", metaOk(col("img")))
      .select(col("doc_id"), col("variant"), col("ahash"), col("__hsql"),
        col("__img_ok")))
    val stats = hashed.agg(
      count(lit(1)).as("n_images"),
      sum(when(col("__img_ok"), 1L).otherwise(0L)).as("n_decoded"),
      sum(when(col("ahash") === col("__hsql"), 1L).otherwise(0L))
        .as("n_hash_parity"))
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select((col("doc_id") * 2 + col("variant")).as("img_id"),
        col("ahash")),
      "img_id", "ahash", k = 8)
    val pairStats = pairs.agg(
      coalesce(sum(when(shiftright(col("id_a"), 1) ===
        shiftright(col("id_b"), 1), 1L).otherwise(0L)), lit(0L))
        .as("n_twin_pairs"),
      coalesce(sum(when(shiftright(col("id_a"), 1) =!=
        shiftright(col("id_b"), 1), 1L).otherwise(0L)), lit(0L))
        .as("n_cross_pairs"))
    // n_docs = n_images / 2 (two variants per doc) — from the
    // materialised stats frame, not a separate corpus count job
    stats.crossJoin(pairStats) // 1×1 scalar attach
      .select((col("n_images") / 2).cast("long").as("n_docs"),
        col("n_images"),
        col("n_decoded"), col("n_hash_parity"),
        col("n_twin_pairs"), col("n_cross_pairs"))
  }

  /** A REAL RIFF/WAVE file (PCM16 mono, 8 kHz, 512 frames) whose samples
    * are an md5 stream keyed by `id` (frame p reads little-endian short
    * 2·(p%8) of md5("aud:" + id + ":" + p/8)) — decodable by the JDK's
    * `javax.sound.sampled`, deterministic across executors/retries, and
    * acoustically uncorrelated across ids (so energy-window hashes of
    * different ids are ~uniform 64-bit values). `variant = 1` XORs
    * frame 0's sample with 1 — a DIFFERENT clip one sample-LSB away,
    * the minimal audible near-duplicate.
    */
  private def syntheticWav(id: Long, variant: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sm = new Array[Int](512)
    var blk = 0
    while (blk < 64) {
      val h = md.digest(s"aud:$id:$blk".getBytes("UTF-8"))
      var p = 0
      while (p < 8) {
        sm(blk * 8 + p) =
          (((h(2 * p + 1) & 0xff) << 8) | (h(2 * p) & 0xff)).toShort.toInt
        p += 1
      }
      blk += 1
    }
    if (variant == 1) sm(0) ^= 1
    val out = new Array[Byte](44 + 1024)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def tag(off: Int, t: String): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = t.charAt(i).toByte; i += 1 }
    }
    tag(0, "RIFF"); le32(4, 36 + 1024); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16)
    out(20) = 1 // PCM
    out(22) = 1 // mono
    le32(24, 8000); le32(28, 16000) // rate, byte rate
    out(32) = 2; out(34) = 16 // block align, bits
    tag(36, "data"); le32(40, 1024)
    var i = 0
    while (i < 512) {
      out(44 + 2 * i) = (sm(i) & 0xff).toByte
      out(44 + 2 * i + 1) = ((sm(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Audio-fingerprint near-dup — the dedup family's THIRD modality
    * (text SimHash, image aHash, now audio:
    * [[graft.pipeline.Multimodal.audioFingerprint]] — REAL
    * `javax.sound` PCM decode → 64 integer span energies → aHash over
    * the loudness envelope), gated in the `q_image_phash`
    * composed-parity style. Per document TWO real WAVs are synthesized
    * ([[syntheticWav]]): the base clip and a one-LSB twin — different
    * bytes, near-identical waveform. The gate pins, against
    * DuckDB-re-derived populations: (1) every payload decodes as real
    * 8 kHz mono 512-frame audio (metadata path); (2) every fingerprint
    * equals an INDEPENDENT in-query integer fold over the emitted
    * energy windows (same `Σ div 64` mean, same strict-greater bit rule
    * — one differing bit reds the row); (3)
    * [[graft.pipeline.Dedup.simHashNearPairs]] Hamming banding at k = 4
    * finds EVERY base↔twin pair (envelope robustness: a one-LSB sample
    * edit moves one window's energy by ≤ 2·|s|+1 ≪ the inter-window
    * spread) and (4) NO cross-document pair (md5-stream clips are
    * acoustically uncorrelated — inter-doc Hamming concentrates at
    * ~32; verified deterministic at every fixture SF). No all-pairs
    * stage anywhere — the same pigeonhole band join the text and image
    * paths scale on.
    */
  private def qAudioFingerprint(s: SparkSession, dir: String): DataFrame = {
    val wav = udf((id: Long, v: Int) => syntheticWav(id, v))
    val clips = docs(s, dir).select(col("doc_id"))
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("variant"))
      .withColumn("clip", wav(col("doc_id"), col("variant")))
    val metaOk = udf((b: Array[Byte]) => {
      val m = graft.pipeline.Multimodal.AudioCodec.meta(b)
      m._1 == "audio/wav" && m._2 == 8000 && m._3 == 1 && m._4 == 512
    })
    // decode once (the image row's posture): stats and both pair-join
    // sides branch from the THIN materialised frame — without it each
    // branch re-synthesizes and re-decodes every clip, and the
    // javax.sound SPI lookup is the measured cost leader at 10×sf0.1
    val hashed = Materialize(Multimodal.audioFingerprint(clips, "clip")
      .withColumn("__mean",
        expr("aggregate(energy_windows, CAST(0 AS BIGINT), (a, x) -> a + x)" +
          " div 64"))
      .withColumn("__hsql",
        expr("aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->" +
          " acc + IF(element_at(energy_windows, i + 1) > __mean," +
          " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"))
      .withColumn("__clip_ok", metaOk(col("clip")))
      .select(col("doc_id"), col("variant"), col("afp"), col("__hsql"),
        col("__clip_ok")))
    val stats = hashed.agg(
      count(lit(1)).as("n_audio"),
      sum(when(col("__clip_ok"), 1L).otherwise(0L)).as("n_decoded"),
      sum(when(col("afp") === col("__hsql"), 1L).otherwise(0L))
        .as("n_fp_parity"))
    // blocks = 6 (Manku multi-block banding): ~21-bit combination keys
    // instead of ~13-bit single chunks — at 10× the corpus the k = 4
    // candidate volume otherwise outgrows the decode scan (measured;
    // see Dedup.simHashNearPairs)
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select((col("doc_id") * 2 + col("variant")).as("clip_id"),
        col("afp")),
      "clip_id", "afp", k = 4, blocks = 6)
    val pairStats = pairs.agg(
      coalesce(sum(when(shiftright(col("id_a"), 1) ===
        shiftright(col("id_b"), 1), 1L).otherwise(0L)), lit(0L))
        .as("n_twin_pairs"),
      coalesce(sum(when(shiftright(col("id_a"), 1) =!=
        shiftright(col("id_b"), 1), 1L).otherwise(0L)), lit(0L))
        .as("n_cross_pairs"))
    // n_docs = n_audio / 2 (two variants per doc) — from the
    // materialised stats frame, not a separate corpus count job
    stats.crossJoin(pairStats) // 1×1 scalar attach
      .select((col("n_audio") / 2).cast("long").as("n_docs"),
        col("n_audio"),
        col("n_decoded"), col("n_fp_parity"),
        col("n_twin_pairs"), col("n_cross_pairs"))
  }

  /** The image serving form — [[qAudioFingerprintIncr]]'s posture on
    * the image modality (family symmetry: batch + incremental for both
    * media types): base BMPs' aHashes landed as the persisted thin
    * (id, ahash) index, every document's one-luminance-unit twin
    * probed against it via [[graft.pipeline.Dedup
    * .hammingPairsAgainstIndex]] at the batch row's k = 8. Same gate
    * contract: every probe matches exactly its base, zero cross
    * matches, landed index count — DuckDB-re-derived populations.
    */
  private def qImagePhashIncr(s: SparkSession, dir: String): DataFrame = {
    val bmp = udf((id: Long, v: Int) => syntheticBmp16(id, v))
    def hashFrame(variant: Int) = graft.pipeline.Multimodal
      .averageHash(
        docs(s, dir).select(col("doc_id"))
          .withColumn("img", bmp(col("doc_id"), lit(variant))), "img")
      .select((col("doc_id") * 2 + variant).as("img_id"), col("ahash"))
    val path = scratchDir("q-image-phash-incr")
    hashFrame(0).write.mode("overwrite").parquet(s"$path/idx")
    val idx = s.read.parquet(s"$path/idx")
    val matches = graft.pipeline.Dedup.hammingPairsAgainstIndex(
      idx, hashFrame(1), "img_id", "ahash", k = 8)
    matches.agg(
        coalesce(sum(when(shiftright(col("id_index"), 1) ===
          shiftright(col("id_probe"), 1), 1L).otherwise(0L)), lit(0L))
          .as("n_twin_matches"),
        coalesce(sum(when(shiftright(col("id_index"), 1) =!=
          shiftright(col("id_probe"), 1), 1L).otherwise(0L)), lit(0L))
          .as("n_cross_matches"))
      .crossJoin(idx.agg(count(lit(1)).as("n_indexed"))) // 1×1 attach
      // n_docs == n_indexed (exactly one base row lands per doc) —
      // derived in-plan, not a separate corpus count job
      .select(col("n_indexed").as("n_docs"), col("n_indexed"),
        col("n_twin_matches"), col("n_cross_matches"))
  }

  /** INCREMENTAL media near-dup — the serving form
    * ([[graft.pipeline.Dedup.hammingPairsAgainstIndex]], the
    * fingerprint analog of `q_dedup_incr`'s MinHash index probe): the
    * base clips' fingerprints are landed as a PERSISTED thin (id, afp)
    * parquet index — 8 bytes of hash per item, decoded exactly once,
    * never rescanned — and the ingest batch (every document's one-LSB
    * twin clip) probes it through the same Manku blocks = 6 banding.
    * The gate pins, against DuckDB-re-derived populations: every probe
    * finds EXACTLY its base twin (n_twin_matches == n_docs), no probe
    * matches a foreign document (n_cross_matches == 0), and the landed
    * index row count. Per-batch work scales with the batch and the
    * matched buckets — the landed corpus contributes only the
    * band-join shuffle of its thin hash rows, the q_dedup_incr /
    * q_ivf_*_append posture applied to the media modality.
    */
  private def qAudioFingerprintIncr(s: SparkSession, dir: String)
      : DataFrame = {
    val wav = udf((id: Long, v: Int) => syntheticWav(id, v))
    def clipFrame(variant: Int) = graft.pipeline.Multimodal
      .audioFingerprint(
        docs(s, dir).select(col("doc_id"))
          .withColumn("clip", wav(col("doc_id"), lit(variant))), "clip")
      .select((col("doc_id") * 2 + variant).as("clip_id"), col("afp"))
    val path = scratchDir("q-audio-fp-incr")
    clipFrame(0).write.mode("overwrite").parquet(s"$path/idx")
    val idx = s.read.parquet(s"$path/idx")
    val matches = graft.pipeline.Dedup.hammingPairsAgainstIndex(
      idx, clipFrame(1), "clip_id", "afp", k = 4, blocks = 6)
    matches.agg(
        coalesce(sum(when(shiftright(col("id_index"), 1) ===
          shiftright(col("id_probe"), 1), 1L).otherwise(0L)), lit(0L))
          .as("n_twin_matches"),
        coalesce(sum(when(shiftright(col("id_index"), 1) =!=
          shiftright(col("id_probe"), 1), 1L).otherwise(0L)), lit(0L))
          .as("n_cross_matches"))
      .crossJoin(idx.agg(count(lit(1)).as("n_indexed"))) // 1×1 attach
      // n_docs == n_indexed (exactly one base row lands per doc) —
      // derived in-plan, not a separate corpus count job
      .select(col("n_indexed").as("n_docs"), col("n_indexed"),
        col("n_twin_matches"), col("n_cross_matches"))
  }

  /** A REAL ISO-BMFF (MP4) container — `ftyp(isom)` + `moov(mvhd v0,
    * trak(tkhd v0 320×240, mdia/minf/stbl/stsz))` + an empty `mdat` —
    * whose 256-entry sample-size table is an md5 stream keyed by `id`
    * (entry p reads big-endian u16 2·(p%8) of md5("vid:" + id + ":" +
    * p/8), mapped to 64 + u16 % 1024): parseable by the repo's own box
    * walker AND any ISO/IEC 14496-12 reader, deterministic across
    * executors/retries, and size-uncorrelated across ids (so
    * bitrate-envelope hashes of different ids are ~uniform 64-bit
    * values). mvhd carries timescale 1000 / duration 10240 → 10 240 ms;
    * sample payloads are declared but not embedded — the CMAF/DASH
    * init-segment posture, where `moov` metadata travels separately
    * from media segments (the fingerprint is a pure function of the
    * size table, which IS present). `variant = 1` grows sample 0 by
    * one byte — a DIFFERENT bitstream one byte away, the minimal
    * container-level near-duplicate.
    */
  private def syntheticMp4(id: Long, variant: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sz = new Array[Int](256)
    var blk = 0
    while (blk < 32) {
      val h = md.digest(s"vid:$id:$blk".getBytes("UTF-8"))
      var p = 0
      while (p < 8) {
        val u16 = ((h(2 * p) & 0xff) << 8) | (h(2 * p + 1) & 0xff)
        sz(blk * 8 + p) = 64 + (u16 % 1024)
        p += 1
      }
      blk += 1
    }
    if (variant == 1) sz(0) += 1
    // box sizes bottom-up: stsz 8+12+4*256, stbl/minf/mdia each +8,
    // tkhd 8+84, trak 8+92+1068, mvhd 8+100, moov 8+108+1168
    val out = new Array[Byte](16 + 1284 + 8)
    var o = 0
    def be32(v: Int): Unit = {
      out(o) = ((v >> 24) & 0xff).toByte; out(o + 1) = ((v >> 16) & 0xff).toByte
      out(o + 2) = ((v >> 8) & 0xff).toByte; out(o + 3) = (v & 0xff).toByte
      o += 4
    }
    def tag(t: String): Unit = { var i = 0; while (i < 4) { out(o) = t.charAt(i).toByte; o += 1; i += 1 } }
    def zeros(n: Int): Unit = o += n // array is zero-initialised
    be32(16); tag("ftyp"); tag("isom"); be32(0)
    be32(1284); tag("moov")
    be32(108); tag("mvhd"); zeros(4) // version 0 + flags
    zeros(8) // creation, modification
    be32(1000); be32(10240) // timescale, duration
    zeros(100 - 20) // rate..next_track_id
    be32(1168); tag("trak")
    be32(92); tag("tkhd"); zeros(4)
    zeros(72) // creation..matrix (4+4+4+4+4+8+2+2+2+2+36 after vf)
    be32(320 << 16); be32(240 << 16) // 16.16 width, height
    be32(1068); tag("mdia")
    be32(1060); tag("minf")
    be32(1052); tag("stbl")
    be32(1044); tag("stsz"); zeros(4)
    be32(0); be32(256) // per-entry sizes follow
    var i = 0
    while (i < 256) { be32(sz(i)); i += 1 }
    be32(8); tag("mdat")
    out
  }

  /** Video-fingerprint near-dup — the dedup family's FOURTH modality
    * (text SimHash, image aHash, audio energy hashing, now video:
    * [[graft.pipeline.Multimodal.videoFingerprint]] — REAL ISO-BMFF
    * box-walk → `stsz` sample-size table → 64 integer bitrate-envelope
    * sums → aHash), gated in the `q_audio_fingerprint` composed-parity
    * style. The JDK ships no video frame decoder, so the fingerprint
    * is the honest decode-free one: the ENCODED BITSTREAM's size
    * envelope, invariant under re-muxing and disturbed by any
    * re-encode. Per document TWO real MP4 containers are synthesized
    * ([[syntheticMp4]]): the base clip and a twin whose first sample
    * is one byte larger. The gate pins, against DuckDB-re-derived
    * populations: (1) every payload's container really parses
    * (video/mp4, 320×240, 10 240 ms — the mvhd/tkhd walk); (2) every
    * fingerprint equals an INDEPENDENT in-query integer fold over the
    * emitted size windows (same `Σ div 64` mean, same strict-greater
    * bit rule — one differing bit reds the row); (3)
    * [[graft.pipeline.Dedup.simHashNearPairs]] Hamming banding at
    * k = 4 under Manku blocks = 6 finds EVERY base↔twin pair (envelope
    * robustness: a one-byte sample edit moves one window's sum by 1 ≪
    * the inter-window spread) and (4) NO cross-document pair
    * (md5-stream size tables are uncorrelated — inter-doc Hamming
    * concentrates at ~32; verified deterministic at every fixture SF).
    * No all-pairs stage anywhere — the same pigeonhole band join the
    * text, image and audio paths scale on.
    */
  private def qVideoFingerprint(s: SparkSession, dir: String): DataFrame = {
    val mp4 = udf((id: Long, v: Int) => syntheticMp4(id, v))
    val clips = docs(s, dir).select(col("doc_id"))
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("variant"))
      .withColumn("clip", mp4(col("doc_id"), col("variant")))
    val metaOk = udf((b: Array[Byte]) => {
      val m = graft.pipeline.Multimodal.VideoCodec.meta(b)
      m._1 == "video/mp4" && m._2 == 320 && m._3 == 240 && m._4 == 10240
    })
    // decode once (the image/audio rows' posture): stats and both
    // pair-join sides branch from the THIN materialised frame
    val hashed = Materialize(Multimodal.videoFingerprint(clips, "clip")
      .withColumn("__mean",
        expr("aggregate(size_windows, CAST(0 AS BIGINT), (a, x) -> a + x)" +
          " div 64"))
      .withColumn("__hsql",
        expr("aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->" +
          " acc + IF(element_at(size_windows, i + 1) > __mean," +
          " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"))
      .withColumn("__clip_ok", metaOk(col("clip")))
      .select(col("doc_id"), col("variant"), col("vfp"), col("__hsql"),
        col("__clip_ok")))
    val stats = hashed.agg(
      count(lit(1)).as("n_videos"),
      sum(when(col("__clip_ok"), 1L).otherwise(0L)).as("n_parsed"),
      sum(when(col("vfp") === col("__hsql"), 1L).otherwise(0L))
        .as("n_fp_parity"))
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select((col("doc_id") * 2 + col("variant")).as("clip_id"),
        col("vfp")),
      "clip_id", "vfp", k = 4, blocks = 6)
    val pairStats = pairs.agg(
      coalesce(sum(when(shiftright(col("id_a"), 1) ===
        shiftright(col("id_b"), 1), 1L).otherwise(0L)), lit(0L))
        .as("n_twin_pairs"),
      coalesce(sum(when(shiftright(col("id_a"), 1) =!=
        shiftright(col("id_b"), 1), 1L).otherwise(0L)), lit(0L))
        .as("n_cross_pairs"))
    // n_docs = n_videos / 2 (two variants per doc) — from the
    // materialised stats frame, not a separate corpus count job
    stats.crossJoin(pairStats) // 1×1 scalar attach
      .select((col("n_videos") / 2).cast("long").as("n_docs"),
        col("n_videos"),
        col("n_parsed"), col("n_fp_parity"),
        col("n_twin_pairs"), col("n_cross_pairs"))
  }

  /** Media KEEP-BEST — the survivor policy the text family already has
    * (`q_dedup_near_best` / `q_semdedup_best`), completed for media:
    * among near-duplicate clips a real pipeline keeps the
    * HIGHEST-BITRATE copy (resolution/bitrate is the media quality
    * signal the way the q_quality formula is for text). The video
    * fingerprint pair graph (the `q_video_fingerprint` machinery)
    * feeds [[graft.pipeline.Dedup.connectedComponents]]; each clique
    * keeps its max-total-sample-size member, ties to the lower id. The
    * synthesized twin is exactly ONE BYTE bigger than its base, so the
    * bitrate rule must pick the twin in EVERY clique — a sharp value
    * claim, not just counts: the gate pins n_components == n_docs
    * (every base↔twin clique found), n_survivors == n_docs, and
    * n_survivors_twin == n_docs (every survivor is the odd clip — the
    * policy provably selected on quality, not id order), all against
    * DuckDB-re-derived populations.
    */
  private def qMediaDedupBest(s: SparkSession, dir: String): DataFrame = {
    val mp4 = udf((id: Long, v: Int) => syntheticMp4(id, v))
    val clips = docs(s, dir).select(col("doc_id"))
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("variant"))
      .withColumn("clip", mp4(col("doc_id"), col("variant")))
    // thin post-walk frame: the pair join and the quality rank both
    // branch from it (decode-once posture)
    val hashed = Materialize(Multimodal.videoFingerprint(clips, "clip")
      .select((col("doc_id") * 2 + col("variant")).as("clip_id"),
        col("vfp"),
        expr("aggregate(size_windows, CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("__bitrate")))
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select("clip_id", "vfp"), "clip_id", "vfp",
      k = 4, blocks = 6)
    val comps = graft.pipeline.Dedup.connectedComponents(pairs)
    // per clique: keep max (__bitrate, -clip_id) — quality first, ties
    // to the lower id (a total order, the text family's rule)
    val survivors = comps.join(hashed, col("id") === col("clip_id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("__bitrate"), (-col("clip_id")).as("__nid")))
        .as("__best"))
      .select((-col("__best.__nid")).as("survivor_id"))
    // n_docs = half the materialised clip frame — rides the same plan
    // as the other stats branches instead of a separate corpus count
    val mediaStats = hashed.agg(
      (count(lit(1)) / 2).cast("long").as("n_docs"))
    val compStats = comps.agg(
      count(lit(1)).as("n_clustered"),
      countDistinct(col("cluster_id")).as("n_components"))
    val survStats = survivors.agg(
      count(lit(1)).as("n_survivors"),
      sum(when(col("survivor_id") % 2 === 1, 1L).otherwise(0L))
        .as("n_survivors_twin"))
    mediaStats.crossJoin(compStats).crossJoin(survStats) // 1×1 attach
      .select(col("n_docs"), col("n_clustered"),
        col("n_components"), col("n_survivors"),
        col("n_survivors_twin"))
  }

  /** The video serving form — [[qAudioFingerprintIncr]]'s posture on
    * the video modality (family symmetry: batch + incremental for ALL
    * media types): base containers' bitrate-envelope hashes landed as
    * the persisted thin (id, vfp) parquet index, every document's
    * one-byte-larger twin probed against it via
    * [[graft.pipeline.Dedup.hammingPairsAgainstIndex]] at the batch
    * row's k = 4 / blocks = 6. Same gate contract: every probe matches
    * exactly its base, zero cross matches, landed index count —
    * DuckDB-re-derived populations.
    */
  private def qVideoFingerprintIncr(s: SparkSession, dir: String)
      : DataFrame = {
    val mp4 = udf((id: Long, v: Int) => syntheticMp4(id, v))
    def clipFrame(variant: Int) = graft.pipeline.Multimodal
      .videoFingerprint(
        docs(s, dir).select(col("doc_id"))
          .withColumn("clip", mp4(col("doc_id"), lit(variant))), "clip")
      .select((col("doc_id") * 2 + variant).as("clip_id"), col("vfp"))
    val path = scratchDir("q-video-fp-incr")
    clipFrame(0).write.mode("overwrite").parquet(s"$path/idx")
    val idx = s.read.parquet(s"$path/idx")
    val matches = graft.pipeline.Dedup.hammingPairsAgainstIndex(
      idx, clipFrame(1), "clip_id", "vfp", k = 4, blocks = 6)
    matches.agg(
        coalesce(sum(when(shiftright(col("id_index"), 1) ===
          shiftright(col("id_probe"), 1), 1L).otherwise(0L)), lit(0L))
          .as("n_twin_matches"),
        coalesce(sum(when(shiftright(col("id_index"), 1) =!=
          shiftright(col("id_probe"), 1), 1L).otherwise(0L)), lit(0L))
          .as("n_cross_matches"))
      .crossJoin(idx.agg(count(lit(1)).as("n_indexed"))) // 1×1 attach
      // n_docs == n_indexed (exactly one base row lands per doc) —
      // derived in-plan, not a separate corpus count job
      .select(col("n_indexed").as("n_docs"), col("n_indexed"),
        col("n_twin_matches"), col("n_cross_matches"))
  }

  /** MIXED-MODALITY media dedup — the capstone the four single-modality
    * rows build to, because it is the shape a real lake has: ONE binary
    * column interleaving images, audio and video, with nothing upstream
    * knowing each row's modality.
    * [[graft.pipeline.Multimodal.mediaFingerprint]] sniffs the
    * container per row (the CompositeCodec dispatch rule) and routes to
    * that modality's 64-slot integer envelope (luminance grid / energy
    * windows / stsz bitrate envelope), hashed by the ONE shared
    * integer aHash rule — so a SINGLE in-query SQL fold re-derives
    * every row's hash from its emitted windows regardless of modality.
    * Per document the modality is `doc_id % 3` (image BMP / audio WAV /
    * video MP4, the exact synthesizers of the single-modality gates)
    * with the base clip and its minimal twin. The gate pins, against
    * DuckDB-re-derived populations: (1) every payload is dispatched to
    * its EXPECTED modality; (2) every fingerprint equals the uniform
    * independent fold; (3) Hamming banding at the image row's k = 8
    * finds EVERY base↔twin pair; (4) NO cross-document pair and —
    * the mixed-specific claim — (5) NO pair crosses modalities (a
    * luminance grid and a loudness envelope share no geometry; the
    * equal-`modality` rule the operator documents must hold in the
    * data). Same pigeonhole band join; no all-pairs stage.
    */
  private def qMediaDedupMixed(s: SparkSession, dir: String): DataFrame = {
    val payload = udf((id: Long, v: Int) => (id % 3) match {
      case 0 => syntheticBmp16(id, v)
      case 1 => syntheticWav(id, v)
      case _ => syntheticMp4(id, v)
    })
    val clips = docs(s, dir).select(col("doc_id"))
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("variant"))
      .withColumn("clip", payload(col("doc_id"), col("variant")))
    val hashed = Materialize(Multimodal.mediaFingerprint(clips, "clip")
      .withColumn("__mean",
        expr("aggregate(media_windows, CAST(0 AS BIGINT), (a, x) -> a + x)" +
          " div 64"))
      .withColumn("__hsql",
        expr("aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->" +
          " acc + IF(element_at(media_windows, i + 1) > __mean," +
          " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"))
      .withColumn("__mod_ok",
        col("modality") === when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
      .select(col("doc_id"), col("variant"), col("mfp"), col("__hsql"),
        col("__mod_ok")))
    val stats = hashed.agg(
      count(lit(1)).as("n_media"),
      sum(when(col("__mod_ok"), 1L).otherwise(0L)).as("n_modality_ok"),
      sum(when(col("mfp") === col("__hsql"), 1L).otherwise(0L))
        .as("n_fp_parity"))
    val pairs = graft.pipeline.Dedup.simHashNearPairs(
      hashed.select((col("doc_id") * 2 + col("variant")).as("clip_id"),
        col("mfp")),
      "clip_id", "mfp", k = 8)
    // clip_id div 2 = doc_id, so a pair's modalities are arithmetic:
    // (doc_id % 3) on each side — no join back needed
    val pairStats = pairs
      .withColumn("__doc_a", shiftright(col("id_a"), 1))
      .withColumn("__doc_b", shiftright(col("id_b"), 1))
      .agg(
        coalesce(sum(when(col("__doc_a") === col("__doc_b"), 1L)
          .otherwise(0L)), lit(0L)).as("n_twin_pairs"),
        coalesce(sum(when(col("__doc_a") =!= col("__doc_b"), 1L)
          .otherwise(0L)), lit(0L)).as("n_cross_pairs"),
        coalesce(sum(when(col("__doc_a") % 3 =!= col("__doc_b") % 3, 1L)
          .otherwise(0L)), lit(0L)).as("n_cross_modality"))
    // n_docs = n_media / 2 (exactly two variants per doc) — derived
    // from the already-materialised stats frame instead of a separate
    // corpus count job
    stats.crossJoin(pairStats) // 1×1 scalar attach
      .select((col("n_media") / 2).cast("long").as("n_docs"),
        col("n_media"),
        col("n_modality_ok"), col("n_fp_parity"),
        col("n_twin_pairs"), col("n_cross_pairs"),
        col("n_cross_modality"))
  }

  // --------------------------------------------------------------- privacy
  /** The masked release audited by `q_k_anon` / `q_privacy_card`: the
    * reference's own masking shapes (R1 static under a P2 guard, R2 row
    * template — Anonymizer.php's replaceWith forms) applied to customer.
    */
  private def maskedRelease(s: SparkSession, dir: String): DataFrame =
    anon(s, dir).table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_name").replaceWith("cust_#row#")
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

  /** Exact integer second-moment statistics of the embedding matrix —
    * the input to PCA/whitening: every element quantized once as
    * floor(x·2^20) (a power-of-two multiply is IEEE-exact, so the
    * integers are a pure function of the stored float bits) and every
    * statistic an order-independent decimal-integer sum DuckDB replays
    * verbatim.
    */
  private def qEmbedCov(s: SparkSession, dir: String): DataFrame =
    // gate row casts the decimal-38 stats to BIGINT: exact at any gate
    // SF (|m| < 2^63 until ~10^18 quantized-unit products) and, unlike
    // decimals, read back identically by every parquet reader — pandas
    // renders decimal(38,0) as java-Decimal objects while DuckDB's
    // oracle side renders float64, which hash-compares unequal.
    graft.pipeline.Embed.gramStats(
      s.read.parquet(s"$dir/embeddings.parquet"), "embedding")
      .select(col("i"), col("j"), col("n"),
        col("s_i").cast("long").as("s_i"),
        col("s_j").cast("long").as("s_j"),
        col("m").cast("long").as("m"))
      .orderBy("i", "j")

  /** The d=64 PCA PROJECTION value-gated as a parity row (the
    * `q_lm_score` pattern): [[graft.pipeline.Embed.project]]'s closure
    * UDF runs against an INDEPENDENT in-query left fold over the
    * fitted model's stored doubles — a tiny (k, w, m) model frame is
    * broadcast onto the corpus and SQL `aggregate(sequence(0, d-1))`
    * replays the UDF's exact op sequence `acc += (v(i) − mean(i)) ·
    * w(i)` in i order, so the two doubles must be BIT-EQUAL per
    * (vector, component). The row emits per-component populations and
    * exact-match counts; DuckDB re-derives the populations and pins
    * n_match == n_vecs, so one differing bit anywhere in 2000×8
    * projections reds the row. The fit itself is value-gated by
    * `q_pca_trace_parity` (trace / Rayleigh / projected variance) and
    * the arithmetic path bit-pinned at d=2 by `q_pca2_parity`;
    * EmbedSpec pins orthonormality, variance recovery, whitening and
    * determinism.
    */
  private def qPca(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val model = graft.pipeline.Embed.fitPca(emb, "embedding", 8)
    val d = model.d
    // model as DATA, not inline literals: a d=64 literal expression
    // tree would blow past the JIT bytecode ceiling of the fused stage
    val modelDf = model.components.zipWithIndex.toSeq
      .map { case (w, k) => (k.toLong, w.toSeq, model.mean.toSeq) }
      .toDF("k", "w", "m")
    graft.pipeline.Embed.project(emb, "embedding", model)
      .crossJoin(broadcast(modelDf))
      .withColumn("p_fold", expr(
        s"""aggregate(sequence(0, ${d - 1}), cast(0.0 as double),
           |(acc, i) -> acc + (element_at(embedding, i + 1)
           |  - element_at(m, i + 1)) * element_at(w, i + 1))"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("p_udf",
        expr("element_at(pca, cast(k + 1 as int))"))
      .groupBy("k")
      .agg(count(col("embedding")).as("n_vecs"),
        count(when(col("p_udf") === col("p_fold"), 1)).as("n_match"),
        (count(lit(1)) - count(col("embedding"))).as("n_null"))
      .orderBy("k")
  }

  /** Bit-exact cross-engine PCA parity on a 2-D sub-embedding: at
    * d = 2 the whole fit is ONE closed-form Jacobi rotation, so DuckDB
    * replays every double op of [[graft.pipeline.Embed.fitPca]] —
    * exact integer Gram stats → covariance (decimal-exact numerators,
    * one correctly-rounded cast, one division) → θ/t/c/s → the
    * two-sided rotation → eigenvalue ordering, sign fix, mean and
    * projection — and the projected values hash-match bit-for-bit.
    * The full-width `q_pca` (d = 64, driver-side iterative Jacobi) is
    * rows-only; this row pins the identical arithmetic path end to
    * end, the `q_percentile_gk_parity` pattern.
    */
  private def qPca2Parity(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("e2", slice(col("embedding"), 1, 2))
    val model = graft.pipeline.Embed.fitPca(emb, "e2", 2)
    graft.pipeline.Embed.project(emb, "e2", model)
      .select(col("vec_id"), posexplode(col("pca")).as(Seq("k", "v")))
      .orderBy("vec_id", "k")
  }

  /** Value-gates the FULL-WIDTH PCA fit (the d=64 eigensolve `q_pca`
    * projects with): the one invariant an external engine can derive
    * exactly — the integer trace numerator Σᵢ (n·m_ii − s_i²) of the
    * quantized covariance (denominator n²·2^40 implied) — is emitted
    * and replayed by DuckDB from the raw embeddings, and three
    * second-derivation identities of the fitted model are pinned TRUE
    * per component: (1) Σλ over the full spectrum equals the
    * covariance trace (Jacobi rotations preserve it — a broken sweep
    * breaks this first); (2) each λₖ equals the Rayleigh quotient
    * wₖᵀCwₖ recomputed from the ORIGINAL covariance, independent of
    * the rotation accumulation that produced λ; (3) each λₖ equals the
    * DISTRIBUTED variance of the actual corpus projections (the
    * `q_lm_score`-style second Spark derivation), up to the documented
    * 2^-20 quantization radius — projections run on raw floats, the
    * covariance on floor(x·2^20) integers. A wrong eigenvalue, a
    * non-eigenvector component, or a drifted projection flips a
    * boolean and the row hash-fails; with `q_pca2_parity` pinning the
    * d=2 arithmetic bit-for-bit, the d=64 path is now value-checked
    * end to end. One gramStats aggregation feeds stats, model AND
    * audit (fitPcaFromStats reuses the collected rows).
    */
  private def qPcaTraceParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val rows = graft.pipeline.Embed.gramStats(emb, "embedding").collect()
    val (n, cov, _) = graft.pipeline.Embed.covFromStats(rows)
    val d = cov.length
    val model = graft.pipeline.Embed.fitPcaFromStats(rows, d)
    val traceNum: BigInt = rows.iterator
      .filter(r => r.getAs[Int]("i") == r.getAs[Int]("j"))
      .map { r =>
        BigInt(n) * BigInt(r.getAs[java.math.BigDecimal]("m")
          .toBigInteger) -
          BigInt(r.getAs[java.math.BigDecimal]("s_i").toBigInteger) *
          BigInt(r.getAs[java.math.BigDecimal]("s_j").toBigInteger)
      }.sum
    val q = graft.pipeline.Embed.Q
    val den = BigDecimal(n) * BigDecimal(n) * BigDecimal(q) * BigDecimal(q)
    val trace = cov.indices.map(i => cov(i)(i)).sum
    val scale = math.max(math.abs(trace), 1.0)
    val traceOk =
      math.abs(model.eigenvalues.sum - trace) <= 1e-9 * scale &&
        math.abs((BigDecimal(traceNum) / den).toDouble - trace) <=
          1e-9 * scale
    def rayleigh(w: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < d) {
        var j = 0
        var row = 0.0
        while (j < d) { row += cov(i)(j) * w(j); j += 1 }
        acc += w(i) * row
        i += 1
      }
      acc
    }
    val rayleighOk = model.components.zip(model.eigenvalues).map {
      case (w, l) => math.abs(rayleigh(w) - l) <= 1e-9 * scale
    }
    val pv = graft.pipeline.Embed.project(emb, "embedding", model)
      .select(posexplode(col("pca")).as(Seq("k", "v")))
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv"))
      .collect()
      .map { r =>
        val cnt = r.getAs[Long]("cnt").toDouble
        val sv = r.getAs[Double]("sv")
        val svv = r.getAs[Double]("svv")
        r.getAs[Int]("k") -> ((svv - sv * sv / cnt) / cnt)
      }.toMap
    // raw-float projections vs integer covariance: the gap is the
    // quadratic form w'·(C − C̃)·w of the quantization error, per-entry
    // O(|x|·2^-20), so the informative tolerance is PER COMPONENT —
    // 1e-4·λₖ — floored at the quantization level d·(4·rms + 2^-20)/Q
    // below which agreement is vacuous either way. A trace-global
    // tolerance would let minor eigenvalues under 1e-4·trace pass
    // unchecked.
    val rms = math.sqrt(cov.indices.map(i =>
      cov(i)(i) + model.mean(i) * model.mean(i)).max)
    val qFloor = d * (4.0 * rms + 1.0 / q) / q
    val projOk = model.eigenvalues.zipWithIndex.map { case (l, k) =>
      math.abs(pv(k) - l) <= math.max(1e-4 * l, qFloor)
    }
    (0 until d).map(k =>
        (k, traceNum.toString, traceOk, rayleighOk(k), projOk(k)))
      .toDF("k", "trace_num", "trace_ok", "rayleigh_ok", "projvar_ok")
      .orderBy("k")
  }

  /** PCA whitening composed INTO SemDeDup, value-gated end to end —
    * the advertised "PCA in front of SemDeDup" pipeline as one oracle
    * row (the `q_curation_sem` pattern for operator composition): fit
    * the d=2 basis (the closed-form rotation `q_pca2_parity` pins
    * bit-for-bit), project with whitening (÷√λ per component, the
    * exact `Embed.project` op order), narrow the whitened doubles to
    * float (IEEE round-to-nearest in both engines), and run the FULL
    * SemDeDup chain — raw-seed quantizer, within-cell pairs at 0.3,
    * components, least-prototypical survivor — over the whitened
    * vectors. DuckDB replays every stage: the shared d=2 model CTEs,
    * the whitening arithmetic, the float cast, and the shared
    * assignment/pair/survivor CTEs, so one ulp of drift anywhere in
    * the composition reds the row.
    */
  private def qPcaSemdedup(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("e2", slice(col("embedding"), 1, 2))
    val model = graft.pipeline.Embed.fitPca(emb, "e2", 2)
    val white = graft.pipeline.Embed
      .project(emb, "e2", model, whiten = true)
      .select(col("vec_id"), col("label"),
        col("pca").cast("array<float>").as("wemb"))
    // 0.9999, not the d=64 rows' 0.3: whitened 2-d directions are
    // near-collinear within a cell (median pair cosine > 0.9999 on the
    // fixture), so 0.3 would drop all but one member per cell — this
    // threshold keeps ~1/3 and exercises keep AND drop on real cliques
    Dedup.semDeDup(white, "vec_id", "wemb", threshold = 0.9999)
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  /** Corpus drift between the English and French document slices:
    * per-token Jensen–Shannon divergence terms over the union
    * vocabulary (Laplace-1 smoothed) — the mixture-shift monitor a
    * continuously-ingested pipeline runs source-vs-source or
    * snapshot-vs-snapshot. The gate pins the EXACT columns — integer
    * counts, the smoothed probabilities (one long add, one cast, one
    * division each) and the total-variation term (one subtraction) —
    * hash-exact and order-free; `js_term` itself carries cross-engine
    * ln ULP drift (measured 1 ulp on 1 of 31 tokens) and is
    * spec-pinned instead (exact zero / bit-exact symmetry /
    * positivity / Σ < ln 2 in PipelineSpec).
    */
  private def qVocabDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.pipeline.TextOps.vocabDivergence(
      docs.filter(col("lang") === "en"),
      docs.filter(col("lang") === "fr"), "text")
      .select("token", "c_a", "c_b", "p_a", "p_b", "tv_term")
      .orderBy("token")
  }

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

  // ---------------------------------------------------------------- registry
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mask_static" -> (maskStatic _),
    "mask_rownum" -> (maskRownum _),
    "mask_hash" -> (maskHash _),
    "mask_where" -> (maskWhere _),
    "mask_global_where" -> (maskGlobalWhere _),
    "mask_unique" -> (maskUnique _),
    "mask_fields" -> (maskFields _),
    "mask_fields_closure" -> (maskFieldsClosure _),
    "mask_composite_pk" -> (maskCompositePk _),
    "mask_blueprint_full" -> (maskBlueprintFull _),
    "mask_generators" -> (maskGenerators _),
    "mask_generator_oracle" -> (maskGeneratorOracle _),
    "mask_format_preserving" -> (maskFormatPreserving _),
    "mask_fp_sync" -> (maskFpSync _),
    "mask_date_shift" -> (maskDateShift _),
    "fk_sync" -> (fkSync _),
    "q1_agg" -> (q1Agg _),
    "q_join_broadcast" -> (qJoinBroadcast _),
    "q_skew_join" -> (qSkewJoin _),
    "q_skew_agg" -> (qSkewAgg _),
    "q_hll_distinct" -> (qHllDistinct _),
    "q_hll_merge" -> (qHllMerge _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q5_multijoin" -> (q5MultiJoin _),
    "q_window_topk" -> (qWindowTopk _),
    "q_window_running" -> (qWindowRunning _),
    "q_window_dist" -> (qWindowDist _),
    "q_sort_limit" -> (qSortLimit _),
    "q_setops" -> (qSetOps _),
    "q_intersect" -> (qIntersect _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_distinct_agg" -> (qDistinctAgg _),
    "q_percentile" -> (qPercentile _),
    "q_percentile_gk_parity" -> (qPercentileGkParity _),
    "q_histogram" -> (qHistogram _),
    "q_pivot" -> (qPivot _),
    "q_semi_join" -> (qSemiJoin _),
    "q_anti_join" -> (qAntiJoin _),
    "q_having" -> (qHaving _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_json" -> (qJson _),
    "q_time_bucket" -> (qTimeBucket _),
    "q_sessionize" -> (qSessionize _),
    "q_asof_join" -> (qAsofJoin _),
    "q_range_count" -> (qRangeCount _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_exact_best" -> (qDedupExactBest _),
    "q_dedup_near_best" -> (qDedupNearBest _),
    "q_dedup_near" -> (qDedupNear _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_dedup_incr" -> (qDedupIncr _),
    "q_dedup_append" -> (qDedupAppend _),
    "q_substring_dedup" -> (qSubstringDedup _),
    "q_line_dedup" -> (qLineDedup _),
    "q_text_stats" -> (qTextStats _),
    "q_subword" -> (qSubword _),
    "q_lang_id" -> (qLangId _),
    "q_quality" -> (qQuality _),
    "q_gopher_rules" -> (qGopherRules _),
    "q_gopher_full" -> (qGopherFull _),
    "q_c4_rules" -> (qC4Rules _),
    "q_html_extract" -> (qHtmlExtract _),
    "q_c4_ccnet" -> (qC4Ccnet _),
    "q_repetition" -> (qRepetition _),
    "q_pii" -> (qPii _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decontaminate_bloom" -> (qDecontaminateBloom _),
    "q_decontaminate_spans" -> (qDecontaminateSpans _),
    "q_zorder" -> (qZorder _),
    "q_vocab" -> (qVocab _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_tfidf" -> (qTfidf _),
    "q_fingerprint" -> (qFingerprint _),
    "q_winnow" -> (qWinnow _),
    "q_winnow_overlap" -> (qWinnowOverlap _),
    "q_heavy" -> (qHeavy _),
    "q_pack" -> (qPack _),
    "q_pack_chunks" -> (qPackChunks _),
    "q_pack_boundaries" -> (qPackBoundaries _),
    "q_simhash" -> (qSimhash _),
    "q_simhash_near" -> (qSimhashNear _),
    "q_winnow64_parity" -> (qWinnow64Parity _),
    "q_simhash64_parity" -> (qSimhash64Parity _),
    "q_substring_dedup64_parity" -> (qSubstringDedup64Parity _),
    "q_sim_topk" -> (qSimTopk _),
    "q_sim_lsh" -> (qSimLsh _),
    "q_sim_ivf" -> (qSimIvf _),
    "q_ivf_recluster" -> (qIvfRecluster _),
    "q_ivf_recluster_2l" -> (qIvfRecluster2l _),
    "q_sim_ivf_append" -> (qSimIvfAppend _),
    "q_sim_ivf_batch" -> (qSimIvfBatch _),
    "q_ann_recall" -> (qAnnRecall _),
    "q_ann_recall_2l" -> (qAnnRecall2l _),
    "q_pq" -> (qPq _),
    "q_ivf_pq" -> (qIvfPq _),
    "q_ivf_pq_append" -> (qIvfPqAppend _),
    "q_ivf_pq_batch" -> (qIvfPqBatch _),
    "q_ivf_int8" -> (qIvfInt8 _),
    "q_ivf_int8_append" -> (qIvfInt8Append _),
    "q_ivf_int8_batch" -> (qIvfInt8Batch _),
    "q_embed_dedup" -> (qEmbedDedup _),
    "q_semdedup_pairs" -> (qSemdedupPairs _),
    "q_semdedup" -> (qSemdedup _),
    "q_semdedup_best" -> (qSemdedupBest _),
    "q_semdedup_auto" -> (qSemdedupAuto _),
    "q_semdedup_2l" -> (qSemdedup2l _),
    "q_semdedup_2l_incr" -> (qSemdedup2lIncr _),
    "q_semdedup_incr" -> (qSemdedupIncr _),
    "q_curation_sem" -> (qCurationSem _),
    "q_quantize" -> (qQuantize _),
    "q_sample" -> (qSample _),
    "q_sample_weighted" -> (qSampleWeighted _),
    "q_split" -> (qSplit _),
    "q_lm_model" -> (qLmModel _),
    "q_lm_score" -> (qLmScore _),
    "q_nb_model" -> (qNbModel _),
    "q_nb_classify" -> (qNbClassify _),
    "q_nb_eval" -> (qNbEval _),
    "q_nb_eval_bigram" -> (qNbEvalBigram _),
    "q_dsir_model" -> (qDsirModel _),
    "q_dsir_score" -> (qDsirScore _),
    "q_dsir_select" -> (qDsirSelect _),
    "q_curation_dsir" -> (qCurationDsir _),
    "q_cluster_mix" -> (qClusterMix _),
    "q_bm25_stats" -> (qBm25Stats _),
    "q_bm25_topk" -> (qBm25Topk _),
    "q_bm25_batch" -> (qBm25Batch _),
    "q_bm25_index" -> (qBm25Index _),
    "q_bm25_append" -> (qBm25Append _),
    "q_bm25_compact" -> (qBm25Compact _),
    "q_bm25_index_batch" -> (qBm25IndexBatch _),
    "q_hybrid_rrf" -> (qHybridRrf _),
    "q_hybrid_index" -> (qHybridIndex _),
    "q_mix_plan" -> (qMixPlan _),
    "q_mix_domains" -> (qMixDomains _),
    "q_mix_temperature" -> (qMixTemperature _),
    "q_mix_temp_sample" -> (qMixTempSample _),
    "q_mix_upsample" -> (qMixUpsample _),
    "q_curation_temp" -> (qCurationTemp _),
    "q_curation_drift" -> (qCurationDrift _),
    "q_data_card" -> (qDataCard _),
    "q_curation" -> (qCuration _),
    "q_curation_pack" -> (qCurationPack _),
    "q_curation_weighted" -> (qCurationWeighted _),
    "q_bpe" -> (qBpe _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_train_encode" -> (qBpeTrainEncode _),
    "q_bpe_train_tokens" -> (qBpeTrainTokens _),
    "q_wordpiece_train" -> (qWordpieceTrain _),
    "q_wordpiece_train_encode" -> (qWordpieceTrainEncode _),
    "q_wordpiece_encode_tokens" -> (qWordpieceEncodeTokens _),
    "q_wordpiece_ids" -> (qWordpieceIds _),
    "q_wordpiece_decode" -> (qWordpieceDecode _),
    "q_bpe_decode" -> (qBpeDecode _),
    "q_unigram_ids" -> (qUnigramIds _),
    "q_tokenizer_types" -> (qTokenizerTypes _),
    "q_jdbc_roundtrip" -> (qJdbcRoundtrip _),
    "q_unigram_encode_parity" -> (qUnigramEncodeParity _),
    "q_unicode_nfc" -> (qUnicodeNfc _),
    "q_bpe_ids" -> (qBpeIds _),
    "q_tok_fertility" -> (qTokFertility _),
    "q_token_windows" -> (qTokenWindows _),
    "q_pack_bpe" -> (qPackBpe _),
    "q_pack_bins" -> (qPackBins _),
    "q_length_buckets" -> (qLengthBuckets _),
    "q_pack_decode" -> (qPackDecode _),
    "q_epoch_shuffle" -> (qEpochShuffle _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_image_phash" -> (qImagePhash _),
    "q_audio_fingerprint" -> (qAudioFingerprint _),
    "q_audio_fingerprint_incr" -> (qAudioFingerprintIncr _),
    "q_video_fingerprint" -> (qVideoFingerprint _),
    "q_video_fingerprint_incr" -> (qVideoFingerprintIncr _),
    "q_media_dedup_mixed" -> (qMediaDedupMixed _),
    "q_media_dedup_best" -> (qMediaDedupBest _),
    "q_image_phash_incr" -> (qImagePhashIncr _),
    "q_url_dedup" -> (qUrlDedup _),
    "q_orc_roundtrip" -> (qOrcRoundtrip _),
    "q_k_anon" -> (qKAnon _),
    "q_privacy_card" -> (qPrivacyCard _),
    "q_fuzzy_join" -> (qFuzzyJoin _),
    "q_k_suppress" -> (qKSuppress _),
    "q_l_suppress" -> (qLSuppress _),
    "q_dp_counts" -> (qDpCounts _),
    "q_k_generalize" -> (qKGeneralize _),
    "q_t_closeness" -> (qTCloseness _),
    "q_fuzzy_serve" -> (qFuzzyServe _),
    "q_rr_release" -> (qRrRelease _),
    "q_rr_estimate" -> (qRrEstimate _),
    "q_privacy_utility" -> (qPrivacyUtility _),
    "q_mondrian" -> (qMondrian _),
    "q_mondrian_gk" -> (qMondrianGk _),
    "q_embed_cov" -> (qEmbedCov _),
    "q_pca" -> (qPca _),
    "q_pca2_parity" -> (qPca2Parity _),
    "q_pca_trace_parity" -> (qPcaTraceParity _),
    "q_pca_semdedup" -> (qPcaSemdedup _),
    "q_vocab_drift" -> (qVocabDrift _),
    "q_fuzzy_join2" -> (qFuzzyJoin2 _),
    "q_fuzzy_two" -> (qFuzzyTwo _),
  )

  // ---------------------------------------------------- oracle SQL fragments
  /** DuckDB rendering of [[TextOps.normalize]]. */
  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
  private val toksSql = s"string_split($normSql, ' ')"

  /** The BPE-oracle building blocks shared by `q_bpe`, `q_bpe_ids` and
    * `q_pack_bpe`: tokenizers evaluated as sequential rank-order merges
    * (== greedy under BpeMerges' construction invariant) — codepoints
    * joined by a separator byte absent from the corpus, one `replace()`
    * per merge rule; token count = separators + 1.
    */
  private val bpeSepSql = "chr(31)"
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

  private def bpeChainSql(rules: Seq[(String, String)],
      base: String): String =
    rules.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, '$a' || $bpeSepSql || '$b', '$a$b')"
    }
  /** The demoEnglish merge chain over a word column named `tok`. */
  private def bpeMergedSql: String =
    bpeChainSql(graft.functions.Bpe.demoEnglish.rules,
      s"rtrim(regexp_replace(tok, '(.)', '\\1' || $bpeSepSql, 'g'), " +
        s"$bpeSepSql)")
  /** Per-word token count of a merged column `m` (empty words are 0). */
  private val bpeCountSql =
    s"CASE WHEN tok = '' THEN 0 " +
      s"ELSE length(m) - length(replace(m, $bpeSepSql, '')) + 1 END"
  /** The demo numbering as a `(token, token_id)` VALUES list — the
    * DuckDB mirror of [[graft.functions.BpeVocab]]'s alphabet-then-rank
    * ids, shared by `q_bpe_ids` and `q_pack_bins`.
    */
  private lazy val bpeVocabValuesSql: String =
    graft.functions.BpeVocab(graft.functions.Bpe.demoEnglish,
        graft.functions.BpeVocab.asciiPrintable)
      .idOf.toSeq.sortBy(_._2)
      .map { case (t, i) => s"('${t.replace("'", "''")}', $i)" }
      .mkString(", ")
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
  /** The per-doc token-id sequence CTE chain (`toks`→`enc`→`tt`→`voc`→
    * `seq`): every document's (pos, token_id) rows under the demo
    * vocabulary — `q_bpe_ids` selects it directly, `q_pack_bins`
    * aggregates it per assembled bin.
    */
  private lazy val bpeSeqCtes: String =
    s"""toks AS (SELECT doc_id, lang, unnest($toksSql) AS tok,
       |  unnest(generate_series(1, len($toksSql))) AS wi FROM documents),
       |enc AS (SELECT doc_id, lang, wi, $bpeMergedSql AS m FROM toks
       |        WHERE tok <> ''),
       |tt AS (SELECT doc_id, lang, wi,
       |  unnest(string_split(m, $bpeSepSql)) AS token,
       |  unnest(generate_series(1, len(string_split(m, $bpeSepSql))))
       |    AS ti FROM enc),
       |voc(token, token_id) AS (VALUES $bpeVocabValuesSql),
       |seq AS (SELECT t.doc_id, t.lang, t.token,
       |  row_number() OVER (PARTITION BY t.doc_id ORDER BY wi, ti) AS pos,
       |  CAST(COALESCE(voc.token_id, -1) AS BIGINT) AS token_id
       |  FROM tt t LEFT JOIN voc USING (token))""".stripMargin

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

  /** The curation pipeline's CTE chain (synthesized PII → quality gate
    * over the PRE-scrub text, as curate() computes it → redaction →
    * md5-MinHash near-dup clusters → `dropped` losers), shared by
    * `q_curation` and `q_curation_pack`; consumers select from `scrub`
    * filtered by [[curationKeepPred]] (survivors + md5-bucket mix).
    */
  private lazy val curationCtes: String = {
    import graft.pipeline.TextOps.{emailRe, urlRe, phoneRe, ccRe, ipv4Re}
    val stop = s"len(list_filter($toksSql, x -> x IN (${inList(TextOps.langProfiles("en"))})))"
    val redact = s"regexp_replace(regexp_replace(regexp_replace(" +
      s"regexp_replace(regexp_replace(text, '$urlRe', '[URL]', 'g'), " +
      s"'$emailRe', '[EMAIL]', 'g'), '$ccRe', '[CARD]', 'g'), " +
      s"'$ipv4Re', '[IP]', 'g'), '$phoneRe', '[PHONE]', 'g')"
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id, lang,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |    '@example.com via https://example.com/d/' ||
       |    CAST(doc_id AS VARCHAR) AS text
       |  FROM documents),
       |qual AS (
       |  SELECT doc_id, lang, text,
       |    least(greatest(
       |      least(CAST(len($toksSql) AS DOUBLE) / 64.0, 1.0) * 0.5
       |      + least(CAST($stop AS DOUBLE) / greatest(CAST(len($toksSql) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3
       |      + (1.0 - least(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
       |               / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) * 0.2,
       |      0.0), 1.0) AS quality
       |  FROM base),
       |scrub AS (
       |  SELECT doc_id, lang, quality, $redact AS text
       |  FROM qual WHERE quality >= 0.3),
       |${nearDupCtesFrom("scrub")},
       |pairs AS (
       |  SELECT i.id_a, i.id_b
       |  FROM inter i JOIN sz za ON za.doc_id = i.id_a
       |  JOIN sz zb ON zb.doc_id = i.id_b
       |  WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= 0.8),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT rc.id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r),
       |clusters AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |dropped AS (SELECT id AS doc_id FROM clusters WHERE id <> cluster_id)""".stripMargin
  }

  /** The 48-bit md5 hash-fraction numerator of `doc_id` — the DuckDB
    * mirror of [[graft.pipeline.Sampling.hashBucket48]], shared by
    * `q_sample_weighted` and `q_curation_weighted`.
    */
  private lazy val bucket48Sql: String =
    bucket48OfSql("md5(CAST(doc_id AS VARCHAR))")

  /** The 48-bit hash-fraction numerator of an arbitrary md5 SQL
    * expression — [[bucket48Sql]] generalized (also the
    * `q_epoch_shuffle` ordering-key mirror).
    */
  private def bucket48OfSql(h: String): String =
    (1 to 12).map(i => s"${nibSql(h, i)} * ${1L << ((12 - i) * 4)}")
      .mkString("(", " + ", ")")

  /** The DuckDB mirror of [[graft.pipeline.Classify.features]] over a
    * CTE exposing `f` (the non-empty whitespace tokens as a list):
    * `f` itself unigram-only, or `f` followed by one `'bg <bucket>'`
    * pseudo-token per adjacent pair — 48-bit md5 nibble arithmetic
    * ([[bucket48OfSql]], the hashBucket48 mirror) mod the bucket
    * count, exactly [[graft.pipeline.Classify.bigramFeatures]]'
    * hash and order (unigrams first, bigrams after).
    */
  private def nbFeatListSql(bigramBuckets: Option[Int]): String =
    bigramBuckets.fold("f") { b =>
      s"""list_concat(f, list_transform(generate_series(1, len(f) - 1),
         |      i -> 'bg ' || CAST(${bucket48OfSql(
                  "md5(f[i] || ' ' || f[i + 1])")} % $b AS VARCHAR)))"""
        .stripMargin
    }

  /** The DuckDB mirror of [[graft.pipeline.Dsir.featureBuckets]] over
    * a relation exposing `f` (the non-empty whitespace tokens as a
    * list): unigram buckets in order, then one bucket per adjacent
    * pair — 48-bit md5 nibble arithmetic ([[bucket48OfSql]], the
    * hashBucket48 mirror) mod [[dsirBuckets]], exactly the shared
    * feature stream's hash and order.
    */
  private lazy val dsirFeatListSql: String =
    s"""list_concat(
       |    list_transform(f, t ->
       |      CAST(${bucket48OfSql("md5(t)")} % $dsirBuckets AS INTEGER)),
       |    list_transform(generate_series(1, len(f) - 1), i ->
       |      CAST(${bucket48OfSql("md5(f[i] || ' ' || f[i + 1])")}
       |        % $dsirBuckets AS INTEGER)))""".stripMargin

  /** Shared `q_dsir_model` / `q_dsir_select` / `q_curation_dsir` CTE
    * chain over any relation carrying (doc_id, lang, text): featurized
    * documents (`fb`) and the two bucket count tables (`tc` target =
    * lang 'en', `rc` raw = everything) — one definition so the model,
    * selection and composed-curation rows cannot drift.
    */
  private def dsirCountCtesFrom(rel: String): String =
    s"""ftab AS (SELECT doc_id, lang,
       |    list_filter($toksSql, x -> length(x) > 0) AS f
       |  FROM $rel),
       |fb AS MATERIALIZED (SELECT doc_id, lang, $dsirFeatListSql AS feats
       |  FROM ftab),
       |ab AS (SELECT lang, unnest(feats) AS bucket FROM fb),
       |tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS target_cnt
       |  FROM ab WHERE lang = 'en' GROUP BY bucket),
       |rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS raw_cnt
       |  FROM ab GROUP BY bucket)""".stripMargin

  private lazy val dsirCountCtes: String = dsirCountCtesFrom("documents")

  /** The DSIR model + scoring + top-`k` cut over a preceding
    * [[dsirCountCtesFrom]] chain — counts → Laplace-smoothed ln ratios
    * (model over the raw buckets: everything scorable has raw_cnt ≥ 1)
    * → per-doc position-ordered folds → (score DESC, doc_id) LIMIT.
    * Ends in the final SELECT; shared by `q_dsir_select` and
    * `q_curation_dsir`.
    */
  private def dsirSelectTailSql(k: Int): String =
    s"""tt AS (SELECT CAST(SUM(target_cnt) AS DOUBLE) AS t FROM tc),
       |rt AS (SELECT CAST(SUM(raw_cnt) AS DOUBLE) AS r FROM rc),
       |model AS (SELECT rc.bucket,
       |    ln((COALESCE(tc.target_cnt, 0) + 1.0) /
       |       ((SELECT t FROM tt) + 1.0 * $dsirBuckets))
       |  - ln((rc.raw_cnt + 1.0) /
       |       ((SELECT r FROM rt) + 1.0 * $dsirBuckets)) AS lr
       |  FROM rc LEFT JOIN tc ON tc.bucket = rc.bucket),
       |et AS (SELECT doc_id, unnest(feats) AS bucket,
       |    unnest(generate_series(1, len(feats))) AS pos FROM fb),
       |terms AS (SELECT e.doc_id, e.pos, m.lr
       |  FROM et e JOIN model m ON m.bucket = e.bucket),
       |scores AS (SELECT d.doc_id, d.lang,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      COALESCE(list(t.lr ORDER BY t.pos)
       |        FILTER (WHERE t.lr IS NOT NULL), [])),
       |      (a, x) -> a + x) AS s
       |  FROM fb d LEFT JOIN terms t ON t.doc_id = d.doc_id
       |  GROUP BY d.doc_id, d.lang),
       |sel AS (SELECT doc_id, lang FROM scores
       |  ORDER BY s DESC, doc_id LIMIT $k)
       |SELECT doc_id, lang FROM sel ORDER BY doc_id""".stripMargin

  /** The `q_nb_eval` / `q_nb_eval_bigram` oracle: a FULL independent
    * re-derivation of the held-out confusion matrix — the 48-bit
    * half/half split, the capped train-half vocabulary (count DESC,
    * token — the shared trainer contract, over the featurized stream
    * when bigrams are on), counts → priors/likelihoods/OOV floor, each
    * held-out doc's position-ordered score fold seeded with the prior
    * (list_reduce = the scorer's left-to-right sum), the argmax
    * (score DESC, label ASC) and the matrix counts.
    */
  private def nbEvalOracleSql(bigramBuckets: Option[Int]): String = {
    val cut = graft.pipeline.Sampling.splitCuts(nbEvalSplit).head
    val feat = nbFeatListSql(bigramBuckets)
    s"""WITH tr AS (SELECT * FROM documents WHERE $bucket48Sql < $cut),
       |ev AS (SELECT * FROM documents
       |       WHERE NOT ($bucket48Sql < $cut)),
       |trf AS (SELECT lang,
       |    list_filter($toksSql, x -> length(x) > 0) AS f FROM tr),
       |tf AS (SELECT lang AS label, unnest($feat) AS token FROM trf),
       |vocab AS (SELECT token FROM tf GROUP BY token
       |  ORDER BY COUNT(*) DESC, token LIMIT $nbMaxVocab),
       |pc AS (SELECT label, token, COUNT(*) AS cnt FROM tf
       |  WHERE token IN (SELECT token FROM vocab)
       |  GROUP BY label, token),
       |dc AS (SELECT lang AS label, COUNT(*) AS docs FROM tr
       |  GROUP BY lang),
       |tot AS (SELECT label, SUM(cnt) AS tot FROM pc GROUP BY label),
       |vs AS (SELECT COUNT(DISTINCT token) AS v FROM pc),
       |lab AS (SELECT dc.label,
       |    ln(CAST(dc.docs AS DOUBLE) /
       |       CAST((SELECT SUM(docs) FROM dc) AS DOUBLE)) AS lp,
       |    ln(1.0 / (COALESCE(t.tot, 0) + 1.0 * (SELECT v FROM vs)))
       |      AS oov
       |  FROM dc LEFT JOIN tot t ON t.label = dc.label),
       |lik AS (SELECT pc.label, pc.token,
       |    ln((pc.cnt + 1.0) / (t.tot + 1.0 * (SELECT v FROM vs)))
       |      AS ll
       |  FROM pc JOIN tot t ON t.label = pc.label),
       |evf AS (SELECT doc_id, $feat AS feats
       |  FROM (SELECT doc_id,
       |    list_filter($toksSql, x -> length(x) > 0) AS f FROM ev)),
       |et AS (SELECT doc_id, unnest(feats) AS token,
       |    unnest(generate_series(1, len(feats))) AS pos FROM evf),
       |terms AS (SELECT e.doc_id, l.label, e.pos,
       |    COALESCE(k.ll, l.oov) AS term
       |  FROM et e CROSS JOIN lab l
       |  LEFT JOIN lik k ON k.label = l.label AND k.token = e.token),
       |scores AS (SELECT d.doc_id, l.label,
       |    list_reduce(list_prepend(l.lp,
       |      COALESCE(list(t.term ORDER BY t.pos)
       |        FILTER (WHERE t.term IS NOT NULL), [])),
       |      (a, x) -> a + x) AS score
       |  FROM ev d CROSS JOIN lab l
       |  LEFT JOIN terms t ON t.doc_id = d.doc_id
       |    AND t.label = l.label
       |  GROUP BY d.doc_id, l.label, l.lp),
       |pred AS (SELECT doc_id, label AS pred FROM scores
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, label) = 1)
       |SELECT d.lang AS label, p.pred,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM ev d JOIN pred p ON p.doc_id = d.doc_id
       |GROUP BY d.lang, p.pred
       |ORDER BY label, pred""".stripMargin
  }

  /** The curation keep predicate over `scrub`: near-dup survivors only,
    * then the md5-bucket stratified mix (en 0.5, es 1.0, de 0.25,
    * default 0.1).
    */
  private lazy val curationKeepPred: String = {
    val h = "md5(CAST(doc_id AS VARCHAR))"
    val bucket = s"(${nibSql(h, 1)} * 4096 + ${nibSql(h, 2)} * 256 " +
      s"+ ${nibSql(h, 3)} * 16 + ${nibSql(h, 4)})"
    s"""doc_id NOT IN (SELECT doc_id FROM dropped)
       |  AND $bucket < CASE lang WHEN 'en' THEN 32768 WHEN 'es' THEN 65536
       |                          WHEN 'de' THEN 16384 ELSE 6554 END""".stripMargin
  }

  /** Shared CTE: distinct word-3-shingles per doc (DuckDB mirror of
    * [[Dedup.shingles]]) — over any relation carrying (doc_id, text).
    */
  private def shingleCteFrom(rel: String): String =
    s"""norm AS (SELECT doc_id, $toksSql AS w FROM $rel),
       |pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
       |        FROM norm WHERE len(w) >= 3),
       |sh AS (SELECT DISTINCT doc_id,
       |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM pos)""".stripMargin

  private val shingleCte = shingleCteFrom("documents")

  /** The IVF probe pipeline mirrored in SQL — shared by `q_sim_ivf`
    * (centroids seeded from the whole corpus) and `q_sim_ivf_append`
    * (centroids seeded from the `centPred` half the initial build saw;
    * assignment/scoring still cover the full corpus). Mirrors
    * `Similarity.ivfTopK` exactly: centroids = 16 lowest-id vectors
    * passing `centPred` (cell = rank-1); assignment = argmax cell
    * cosine with ties toward the HIGHER cell (Spark's lexicographic
    * struct max); probes = 2 centroids nearest the query with ties
    * toward the LOWER cell (stable driver sort); all cosines are
    * element-order folds (`SUM ... ORDER BY i` is bit-identical).
    */
  /** Shared CTE chain of the batch-IVF oracle (3 queries vec_id < 3,
    * corpus vec_id >= 3, centroids = 16 lowest-id corpus vectors,
    * nProbe=2 with ties to the LOWER cell, all cosines element-order
    * folds) ending in `fd(qid, vec_id, label, dp, nv, nq)` — the
    * probed candidates scored per query. `q_sim_ivf_batch` cuts its
    * top-5 from it; `q_ann_recall` intersects that cut with an
    * independently derived brute-force exact top-5.
    */
  private lazy val simIvfBatchCtes: String =
    simIvfBatchCtesFor("vec_id < 3", "vec_id >= 3")

  /** [[simIvfBatchCtes]] with the query-set and corpus predicates
    * parameterized — the hybrid persisted-index gate reuses the
    * IDENTICAL probe chain over the full store with its own query
    * ids.
    */
  private def simIvfBatchCtesFor(qsPred: String,
      corpusPred: String): String =
    s"""qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE $qsPred),
         |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE $corpusPred),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
         |ax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
         |       FROM corpus e CROSS JOIN cent c),
         |ad AS (SELECT vec_id, cell,
         |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
         |  FROM ax GROUP BY vec_id, cell),
         |assign AS (SELECT vec_id, cell FROM ad
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1),
         |${simIvfBatchProbeCtes("corpus")}""".stripMargin

  /** The hybrid-RRF oracle frame: the SHARED lexical BM25 batch chain
    * (the hybrid queries' own texts as queries) and fusion tail, with
    * the VECTOR tier's CTEs injected — `vecCtes` must end in
    * `vec(qid, doc_id, rank)`. `q_hybrid_rrf` injects exact
    * brute-force cosine; `q_hybrid_index` injects the batch-IVF probe
    * chain — one definition, so the lexical side and the rrf
    * arithmetic cannot drift between the two gates.
    */
  private def hybridOracleSql(vecCtes: String): String = {
    val k1 = 1.2; val b = 0.75
    val ids = hybridQids.mkString(", ")
    s"""WITH qt AS (SELECT doc_id AS qid,
       |    unnest(list_distinct(list_filter($toksSql,
       |      x -> length(x) > 0))) AS term
       |  FROM documents WHERE doc_id IN ($ids)),
       |toks AS (SELECT doc_id,
       |    unnest(list_filter($toksSql, x -> length(x) > 0)) AS term
       |  FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(list_filter($toksSql, x -> length(x) > 0)))
       |      AS BIGINT) AS sum_dl FROM documents),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
       |  GROUP BY doc_id, term),
       |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
       |  GROUP BY term),
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
       |  FROM toks GROUP BY doc_id),
       |co AS (SELECT q.qid, t.doc_id, t.term,
       |    ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)
       |        + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
       |    * (CAST(t.tf AS DOUBLE) * ${k1 + 1.0}) /
       |      (CAST(t.tf AS DOUBLE) + $k1 * (${1.0 - b} + $b *
       |        CAST(l.dl AS DOUBLE) /
       |        (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
       |      AS c
       |  FROM tf t JOIN qt q USING (term) JOIN dfq d USING (term)
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN st s),
       |lsc AS (SELECT qid, doc_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(c ORDER BY term)), (a, x) -> a + x) AS score
       |  FROM co GROUP BY qid, doc_id),
       |lex AS (SELECT qid, doc_id, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER)
       |    AS rank
       |  FROM lsc QUALIFY rank <= $hybridK),
       |$vecCtes,
       |fused AS (SELECT COALESCE(l.qid, v.qid) AS qid,
       |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |    COALESCE(1.0 / CAST(60 + l.rank AS DOUBLE), 0.0)
       |      + COALESCE(1.0 / CAST(60 + v.rank AS DOUBLE), 0.0) AS rrf
       |  FROM lex l FULL OUTER JOIN vec v
       |    ON v.qid = l.qid AND v.doc_id = l.doc_id),
       |sel AS (SELECT qid, doc_id, rrf, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY rrf DESC, doc_id) AS INTEGER)
       |    AS rank
       |  FROM fused QUALIFY rank <= $hybridK)
       |SELECT qid, doc_id, rrf, rank FROM sel
       |ORDER BY qid, rank""".stripMargin
  }

  /** The per-query probe + scoring chunk of the batch-IVF oracles
    * (nProbe=2 per query, ties to the LOWER cell; candidates = the
    * rows `assign` places in the probed cells; element-order cosine
    * folds), ending in `fd(qid, vec_id, label, dp, nv, nq)`. Factored
    * on `corpusSrc` so the two-level recall audit (whose `cent` /
    * `assign` chain is the grouped one, and whose corpus CTE carries
    * no label) can reuse the IDENTICAL probe SQL over a labelled
    * projection.
    */
  private def simIvfBatchProbeCtes(corpusSrc: String, p: String = "",
      centSrc: String = "cent", assignSrc: String = "assign"): String =
    s"""${p}qx AS (SELECT q.qid, c.cell, unnest(c.ce) AS v,
       |         unnest(generate_series(1, len(c.ce))) AS i, q.qe AS qe
       |       FROM $centSrc c CROSS JOIN qs q),
       |${p}qd AS (SELECT qid, cell,
       |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nc,
       |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
       |  FROM ${p}qx GROUP BY qid, cell),
       |${p}probes AS (SELECT qid, cell FROM ${p}qd
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY dp / (sqrt(nc) * sqrt(nq)) DESC, cell ASC) <= 2),
       |${p}fx AS (SELECT q.qid, e.vec_id, e.label, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
       |       FROM $corpusSrc e
       |       JOIN $assignSrc a ON a.vec_id = e.vec_id
       |       JOIN ${p}probes p ON p.cell = a.cell
       |       JOIN qs q ON q.qid = p.qid),
       |${p}fd AS (SELECT qid, vec_id, label,
       |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
       |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
       |  FROM ${p}fx GROUP BY qid, vec_id, label)""".stripMargin

  /** The recall computation every ANN recall oracle shares: the
    * approximate top-5 cut from `fd`, a brute-force exact top-5
    * derived independently over `corpusSrc` × `qs` with the same tie
    * rules, and the per-query intersection ratio.
    */
  private def annExactCtes(corpusSrc: String): String =
    s"""bx AS (SELECT q.qid, e.vec_id, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
       |       FROM $corpusSrc e CROSS JOIN qs q),
       |bd AS (SELECT qid, vec_id,
       |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
       |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
       |  FROM bx GROUP BY qid, vec_id),
       |exact AS (SELECT qid, vec_id FROM bd
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5)""".stripMargin

  private def annRecallTail(corpusSrc: String): String =
    s"""approx AS (SELECT qid, vec_id FROM fd
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5),
       |${annExactCtes(corpusSrc)}
       |SELECT e.qid AS query_id,
       |  CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(COUNT(a.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON a.qid = e.qid AND a.vec_id = e.vec_id
       |GROUP BY e.qid ORDER BY query_id""".stripMargin

  /** The shared SemDeDup oracle chain (`q_semdedup_pairs` /
    * `q_semdedup`): the q_sim_ivf assignment CTEs over the WHOLE
    * embeddings table (no held-out query vector — dedup has none;
    * centroids = the 16 lowest-vec_id vectors, the kmeansIters = 0
    * reproducible path), then the within-cell pair set with exact
    * cosines at threshold 0.3. `ad`/`pairs` are MATERIALIZED so the
    * survivor row's recursive closure cannot re-inline the unnest
    * chains (q_bpe_train's lesson).
    */
  /** One argmax-cell assignment CTE chain over `src`, CTE names
    * prefixed with `p` — the corpus/batch building block both SemDeDup
    * oracle shapes share (the batch side of `q_semdedup_incr` runs the
    * SAME chain under the corpus-seeded `cent`, exactly as
    * `assignCells` freezes the index's centroids).
    */
  private def semAssignCtes(src: String, p: String): String =
    s"""${p}ax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
       |       FROM $src e CROSS JOIN cent c),
       |${p}ad AS MATERIALIZED (SELECT vec_id, cell,
       |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
       |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
       |  FROM ${p}ax GROUP BY vec_id, cell),
       |${p}assign AS (SELECT vec_id, cell FROM ${p}ad
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1)""".stripMargin

  /** The final within-cell cosine pair block of the SemDeDup oracles:
    * left side `(aAssign, aSrc)` vs right side `(bAssign, bSrc)` with
    * `pred` restricting which (a, b) combinations pair (self mode:
    * `b.vec_id > a.vec_id`; incremental: TRUE — the sides are already
    * disjoint).
    */
  private def semPairCtes(aAssign: String, aSrc: String, bAssign: String,
      bSrc: String, pred: String, threshold: String = "0.3"): String =
    s"""px AS (SELECT a.cell, ea.vec_id AS id_a, eb.vec_id AS id_b,
       |         unnest(ea.embedding) AS va, unnest(eb.embedding) AS vb,
       |         unnest(generate_series(1, len(ea.embedding))) AS i
       |       FROM $aAssign a JOIN $aSrc ea ON ea.vec_id = a.vec_id
       |       JOIN $bAssign b ON b.cell = a.cell AND ($pred)
       |       JOIN $bSrc eb ON eb.vec_id = b.vec_id),
       |dots AS (SELECT cell, id_a, id_b,
       |    SUM(CAST(va AS DOUBLE) * CAST(vb AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(va AS DOUBLE) * CAST(va AS DOUBLE) ORDER BY i) AS na,
       |    SUM(CAST(vb AS DOUBLE) * CAST(vb AS DOUBLE) ORDER BY i) AS nb
       |  FROM px GROUP BY cell, id_a, id_b),
       |pairs AS MATERIALIZED (SELECT cell, id_a, id_b,
       |    dp / (sqrt(na) * sqrt(nb)) AS cosine
       |  FROM dots WHERE dp / (sqrt(na) * sqrt(nb)) >= $threshold)""".stripMargin

  /** [[semDedupCtes]] with the quantizer SIZE pluggable — `centLimit`
    * lands in the seed cut's LIMIT, so the `q_semdedup_auto` oracle can
    * re-derive the production sizing rule (⌈count/target⌉ as a scalar
    * subquery) while `q_semdedup` keeps the fixed 16.
    */
  private def semDedupCtesWith(centLimit: String,
      corpusSql: String = "SELECT vec_id, embedding FROM embeddings",
      threshold: String = "0.3"): String =
    s"""corpus AS ($corpusSql),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         embedding AS ce FROM corpus ORDER BY vec_id
       |         LIMIT $centLimit),
       |${semAssignCtes("corpus", "")},
       |${semPairCtes("assign", "corpus", "assign", "corpus",
          "b.vec_id > a.vec_id", threshold)}""".stripMargin

  private val semDedupCtes = semDedupCtesWith("16")

  /** The TWO-LEVEL SemDeDup chain (`q_semdedup_2l`), replaying
    * [[graft.pipeline.Similarity.buildIvfIndexTwoLevel]] end to end:
    * production sizing (nCells = ⌈count/targetCell⌉), c1 = ⌈√nCells⌉
    * level-1 seeds cut at the lowest ids, per-vector argmax level-1
    * group (same ties-high/NaN-first rule as the flat chain), level-2
    * seeds = each group's ⌈nCells/c1⌉ lowest-id MEMBERS numbered
    * globally in (group, id) order, and the final cell = the argmax
    * level-2 seed WITHIN the own group (ties toward the higher global
    * cell). `ad` is group-restricted, so [[semSurvivorCtes]]' own-cosine
    * MAX over it is exactly the ASSIGNED cell's cosine — the
    * [[graft.pipeline.Similarity.centroidCosAt]] rule — and the shared
    * pair/survivor CTEs compose unchanged.
    */
  private def semDedup2lCtes(targetCell: Int,
      corpusPred: String = "TRUE"): String =
    s"""corpus AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE $corpusPred),
       |prm AS (SELECT ncells,
       |    CAST(CEIL(SQRT(CAST(ncells AS DOUBLE))) AS BIGINT) AS c1,
       |    CAST(CEIL(CAST(ncells AS DOUBLE) /
       |      CEIL(SQRT(CAST(ncells AS DOUBLE)))) AS BIGINT) AS m
       |  FROM (SELECT CAST(CEIL(COUNT(*) / $targetCell.0) AS BIGINT)
       |        AS ncells FROM corpus)),
       |l1cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS g,
       |         embedding AS ce FROM corpus ORDER BY vec_id
       |         LIMIT (SELECT c1 FROM prm)),
       |l1x AS (SELECT e.vec_id, c.g, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
       |       FROM corpus e CROSS JOIN l1cent c),
       |l1d AS MATERIALIZED (SELECT vec_id, g,
       |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
       |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
       |  FROM l1x GROUP BY vec_id, g),
       |l1assign AS MATERIALIZED (SELECT vec_id, g FROM l1d
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, g DESC) = 1),
       |cent AS MATERIALIZED (SELECT g,
       |    row_number() OVER (ORDER BY g, vec_id) - 1 AS cell,
       |    embedding AS ce
       |  FROM (SELECT a.g, e.vec_id, e.embedding
       |        FROM l1assign a JOIN corpus e ON e.vec_id = a.vec_id
       |        QUALIFY row_number() OVER (PARTITION BY a.g
       |          ORDER BY e.vec_id) <= (SELECT m FROM prm))),
       |ax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
       |       FROM l1assign a JOIN corpus e ON e.vec_id = a.vec_id
       |       JOIN cent c ON c.g = a.g),
       |ad AS MATERIALIZED (SELECT vec_id, cell,
       |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
       |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
       |  FROM ax GROUP BY vec_id, cell),
       |assign AS (SELECT vec_id, cell FROM ad
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1)""".stripMargin

  /** The SemDeDup SURVIVOR derivation over a `pairs`/`ad` chain:
    * recursive min-reachable components (q_dedup_clusters' closure),
    * each member's own-centroid cosine (= its MAX over centroids,
    * because assignment is argmax), per-component minimum with the
    * lower-id tie — `dropped` is everyone else. MATERIALIZED where the
    * recursion would otherwise re-inline the unnest chains and blow
    * the oracle's memory. Requires `WITH RECURSIVE` at the head.
    */
  /** Just the recursive component closure over a `pairs` CTE —
    * shared by [[semSurvivorCtes]] and the keep-best survivor variant
    * (which ranks members by an external quality score instead of the
    * own-centroid cosine).
    */
  /** The d=2 PCA model CTE chain shared by `q_pca2_parity` and
    * `q_pca_semdedup`: exact integer Gram stats over the first two
    * embedding dims -> covariance (decimal-exact numerators, one
    * correctly-rounded cast each) -> the single closed-form Jacobi
    * rotation in Embed.jacobiEigen's exact op order -> descending
    * eigenpairs (lam0 >= lam1, index tie-break), the
    * largest-|coordinate|-positive sign fix, the means, and the raw
    * points (`pts`). Every op IEEE-identical to Embed.fitPca at d=2 -
    * see q_pca2_parity for the parity argument.
    */
  private val pca2ModelCtes: String =
    s"""q AS (SELECT vec_id,
         |    CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1048576.0)
         |      AS BIGINT) AS x0,
         |    CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1048576.0)
         |      AS BIGINT) AS x1
         |  FROM embeddings),
         |st AS (SELECT COUNT(*) AS n,
         |    CAST(SUM(x0) AS DECIMAL(38,0)) AS s0,
         |    CAST(SUM(x1) AS DECIMAL(38,0)) AS s1,
         |    CAST(SUM(CAST(x0 AS DECIMAL(38,0)) * x0)
         |      AS DECIMAL(38,0)) AS m00,
         |    CAST(SUM(CAST(x0 AS DECIMAL(38,0)) * x1)
         |      AS DECIMAL(38,0)) AS m01,
         |    CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x1)
         |      AS DECIMAL(38,0)) AS m11
         |  FROM q),
         |cv AS (SELECT n,
         |    CAST(s0 AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS mu0,
         |    CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS mu1,
         |    CAST(CAST(n AS DECIMAL(38,0)) * m00 - s0 * s0 AS DOUBLE)
         |      / CAST(CAST(n AS DECIMAL(38,0)) * n * 1099511627776
         |        AS DOUBLE) AS c00,
         |    CAST(CAST(n AS DECIMAL(38,0)) * m01 - s0 * s1 AS DOUBLE)
         |      / CAST(CAST(n AS DECIMAL(38,0)) * n * 1099511627776
         |        AS DOUBLE) AS c01,
         |    CAST(CAST(n AS DECIMAL(38,0)) * m11 - s1 * s1 AS DOUBLE)
         |      / CAST(CAST(n AS DECIMAL(38,0)) * n * 1099511627776
         |        AS DOUBLE) AS c11
         |  FROM st),
         |rot0 AS (SELECT *, (c11 - c00) / (2.0 * c01) AS theta,
         |    c01 * c01 > 1e-12 AND ABS(c01) > 1e-300 AS dorot FROM cv),
         |rot1 AS (SELECT *,
         |    CASE WHEN NOT dorot THEN 0.0
         |         WHEN theta = 0.0 THEN 1.0
         |         WHEN ABS(theta) > 1e150 THEN c01 / (c11 - c00)
         |         ELSE CAST(SIGN(theta) AS DOUBLE)
         |           / (ABS(theta) + SQRT(theta * theta + 1.0)) END AS t
         |  FROM rot0),
         |rot2 AS (SELECT *,
         |    CASE WHEN dorot THEN 1.0 / SQRT(t * t + 1.0)
         |         ELSE 1.0 END AS cr,
         |    CASE WHEN dorot THEN t * (1.0 / SQRT(t * t + 1.0))
         |         ELSE 0.0 END AS sr
         |  FROM rot1),
         |upd AS (SELECT *,
         |    cr * c00 - sr * c01 AS a00_1, sr * c00 + cr * c01 AS a01_1,
         |    cr * c01 - sr * c11 AS a10_1, sr * c01 + cr * c11 AS a11_1
         |  FROM rot2),
         |eig AS (SELECT *,
         |    cr * a00_1 - sr * a10_1 AS l0,
         |    sr * a01_1 + cr * a11_1 AS l1,
         |    cr AS v00, sr AS v01, -sr AS v10, cr AS v11
         |  FROM upd),
         |ordv AS (SELECT *,
         |    CASE WHEN l1 > l0 THEN v01 ELSE v00 END AS p00r,
         |    CASE WHEN l1 > l0 THEN v11 ELSE v10 END AS p01r,
         |    CASE WHEN l1 > l0 THEN v00 ELSE v01 END AS p10r,
         |    CASE WHEN l1 > l0 THEN v10 ELSE v11 END AS p11r
         |  FROM eig),
         |mdl AS (SELECT mu0, mu1,
         |    CASE WHEN l1 > l0 THEN l1 ELSE l0 END AS lam0,
         |    CASE WHEN l1 > l0 THEN l0 ELSE l1 END AS lam1,
         |    CASE WHEN (CASE WHEN ABS(p01r) > ABS(p00r) THEN p01r
         |      ELSE p00r END) < 0 THEN -p00r ELSE p00r END AS w00,
         |    CASE WHEN (CASE WHEN ABS(p01r) > ABS(p00r) THEN p01r
         |      ELSE p00r END) < 0 THEN -p01r ELSE p01r END AS w01,
         |    CASE WHEN (CASE WHEN ABS(p11r) > ABS(p10r) THEN p11r
         |      ELSE p10r END) < 0 THEN -p10r ELSE p10r END AS w10,
         |    CASE WHEN (CASE WHEN ABS(p11r) > ABS(p10r) THEN p11r
         |      ELSE p10r END) < 0 THEN -p11r ELSE p11r END AS w11
         |  FROM ordv),
         |pts AS (SELECT vec_id,
         |    CAST(embedding[1] AS DOUBLE) AS x0,
         |    CAST(embedding[2] AS DOUBLE) AS x1
         |  FROM embeddings)""".stripMargin

  private val semComponentCtes =
    s"""edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT DISTINCT src AS id, src AS r FROM edges
       |          UNION
       |          SELECT rc.id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r),
       |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  private val semSurvivorCtes =
    s"""$semComponentCtes,
       |own AS (SELECT vec_id, MAX(dp / (sqrt(nv) * sqrt(nc))) AS c
       |        FROM ad GROUP BY vec_id),
       |members AS MATERIALIZED (SELECT comp.id, comp.cluster_id, own.c
       |            FROM comp JOIN own ON own.vec_id = comp.id),
       |bottom AS (SELECT cluster_id, MIN(c) AS m FROM members GROUP BY cluster_id),
       |keep AS (SELECT b.cluster_id, MIN(mm.id) AS id
       |         FROM members mm JOIN bottom b ON b.cluster_id = mm.cluster_id
       |         WHERE mm.c = b.m GROUP BY b.cluster_id),
       |dropped AS (SELECT id FROM members WHERE id NOT IN (SELECT id FROM keep))""".stripMargin

  /** The q_quality feature projection — ONE rendering shared by the
    * q_quality row oracle and [[qualityKeptCtes]], so a feature tweak
    * cannot leave the two gates computing from different inputs.
    */
  private val qualityFeatSelect = {
    val stop = s"len(list_filter($toksSql, x -> x IN (${inList(TextOps.langProfiles("en"))})))"
    s"""doc_id,
       |  CAST(len($toksSql) AS DOUBLE) AS n,
       |  len($toksSql) AS n_tokens,
       |  $stop AS stop_hits,
       |  length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
       |  length(text) AS len_raw""".stripMargin
  }

  /** The q_quality score formula over [[qualityFeatSelect]]'s columns —
    * the SINGLE copy (int/double ops in a pinned order) both the
    * q_quality row oracle and the `q_curation_sem` keep-set CTE render,
    * so a formula edit can never gate the two with different keep sets.
    */
  private val qualityScoreSql =
    """least(greatest(
      |    least(n / 64.0, 1.0) * 0.5
      |    + least(CAST(stop_hits AS DOUBLE) / greatest(n, 1.0) * 5.0, 1.0) * 0.3
      |    + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(CAST(len_raw AS DOUBLE), 1.0) * 10.0, 1.0)) * 0.2,
      |    0.0), 1.0)""".stripMargin

  /** The q_quality score formula as a keep-set CTE (`qkept` = doc_ids
    * scoring ≥ 0.3) — the quality-gate half `q_curation_sem` chains in
    * front of its semantic-dedup stage; renders [[qualityScoreSql]], the
    * same arithmetic as q_quality's full row oracle, so the kept set is
    * bit-identical cross-engine.
    */
  private val qualityKeptCtes =
    s"""qf AS (SELECT $qualityFeatSelect
       |FROM documents),
       |qkept AS (SELECT doc_id FROM qf WHERE $qualityScoreSql >= 0.3)""".stripMargin

  private def simIvfOracleSql(centPred: String,
      centLimit: String = "16"): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         embedding AS ce FROM corpus WHERE $centPred
       |         ORDER BY vec_id LIMIT $centLimit),
       |ax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
       |       FROM corpus e CROSS JOIN cent c),
       |ad AS (SELECT vec_id, cell,
       |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
       |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
       |  FROM ax GROUP BY vec_id, cell),
       |assign AS (SELECT vec_id, cell FROM ad
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1),
       |${simIvfProbeTail("corpus")}""".stripMargin

  /** The nProbe=2 probe + exact-scoring tail every IVF value oracle
    * shares: rank cells by query-to-centroid cosine over `cent`, score
    * only the rows `assign` places in the top-2 cells, top-10 by
    * cosine. Factored out so the two-level variants (whose `cent` /
    * `assign` chains differ) reuse the IDENTICAL probe SQL.
    * `corpusSrc` must expose (vec_id, label, embedding).
    */
  private def simIvfProbeTail(corpusSrc: String): String =
    s"""qx AS (SELECT c.cell, unnest(c.ce) AS v,
       |         unnest(generate_series(1, len(c.ce))) AS i, q.qe AS qe
       |       FROM cent c, q),
       |qd AS (SELECT cell,
       |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nc,
       |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
       |  FROM qx GROUP BY cell),
       |probes AS (SELECT cell FROM qd
       |  QUALIFY row_number() OVER (
       |    ORDER BY dp / (sqrt(nc) * sqrt(nq)) DESC, cell ASC) <= 2),
       |fx AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
       |       FROM $corpusSrc e
       |       JOIN assign a ON a.vec_id = e.vec_id
       |       JOIN probes p ON p.cell = a.cell, q),
       |fd AS (SELECT vec_id, label,
       |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
       |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
       |  FROM fx GROUP BY vec_id, label)
       |SELECT vec_id, label, dp / (sqrt(nv) * sqrt(nq)) AS cosine
       |FROM fd ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** `q_sim_ivf`'s probe pipeline with the final scoring over the int8
    * DEQUANTIZED vectors (assignment and probes on the FULL-PRECISION
    * vectors, as the build does): per-row scale = max|x|/127 (1.0 for
    * the zero vector, as q_quantize), dq = CAST(round(v/scale) AS
    * TINYINT) · scale in double — round is half-away-from-zero in both
    * engines, folds element-order. Shared by `q_ivf_int8` and
    * `q_ivf_int8_append` (the maintenance path, centroids seeded from
    * `centPred` only).
    */
  private def ivfInt8OracleSql(centPred: String): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         embedding AS ce FROM corpus WHERE $centPred
       |         ORDER BY vec_id LIMIT 16),
       |ax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
       |       FROM corpus e CROSS JOIN cent c),
       |ad AS (SELECT vec_id, cell,
       |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
       |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
       |  FROM ax GROUP BY vec_id, cell),
       |assign AS (SELECT vec_id, cell FROM ad
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1),
       |qx AS (SELECT c.cell, unnest(c.ce) AS v,
       |         unnest(generate_series(1, len(c.ce))) AS i, q.qe AS qe
       |       FROM cent c, q),
       |qd AS (SELECT cell,
       |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nc,
       |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
       |  FROM qx GROUP BY cell),
       |probes AS (SELECT cell FROM qd
       |  QUALIFY row_number() OVER (
       |    ORDER BY dp / (sqrt(nc) * sqrt(nq)) DESC, cell ASC) <= 2),
       |sc AS (SELECT vec_id,
       |    CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
       |         THEN 1.0
       |         ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
       |    END AS scale
       |  FROM corpus),
       |fx AS (SELECT e.vec_id, e.label,
       |         CAST(CAST(round(CAST(unnest(e.embedding) AS DOUBLE) / s.scale) AS TINYINT) AS DOUBLE) * s.scale AS dq,
       |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
       |       FROM corpus e
       |       JOIN sc s ON s.vec_id = e.vec_id
       |       JOIN assign a ON a.vec_id = e.vec_id
       |       JOIN probes p ON p.cell = a.cell, q),
       |fd AS (SELECT vec_id, label,
       |    SUM(dq * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(dq * dq ORDER BY i) AS nv,
       |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
       |  FROM fx GROUP BY vec_id, label)
       |SELECT vec_id, label, dp / (sqrt(nv) * sqrt(nq)) AS cosine
       |FROM fd ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** The composed IVF×PQ serving pipeline mirrored in SQL, stage by
    * stage: `q_sim_ivf`'s cell assignment (ties to the HIGHER cell) +
    * probe selection (ties to the LOWER cell), `q_pq`’s codes (argmin
    * squared L2, ties to the LOWER code) and query LUT, the ADC
    * candidate cut (top-50 by pq_score, ties to the lower vec_id)
    * INSIDE the probed cells, and an exact-cosine rerank of only the
    * survivors (ties to the lower vec_id). All folds element-order
    * SUMs. `buildPred` restricts BOTH seed sets (centroids and
    * codebooks) to the rows the initial build saw — `TRUE` for
    * `q_ivf_pq`, the even half for `q_ivf_pq_append` (assignment,
    * codes and scoring still cover the full corpus).
    */
  private def ivfPqOracleSql(buildPred: String): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus WHERE $buildPred ORDER BY vec_id LIMIT 16),
         |ax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
         |       FROM corpus e CROSS JOIN cent c),
         |ad AS (SELECT vec_id, cell,
         |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
         |  FROM ax GROUP BY vec_id, cell),
         |assign AS (SELECT vec_id, cell FROM ad
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1),
         |qx AS (SELECT c.cell, unnest(c.ce) AS v,
         |         unnest(generate_series(1, len(c.ce))) AS i, q.qe AS qe
         |       FROM cent c, q),
         |qd AS (SELECT cell,
         |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nc,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM qx GROUP BY cell),
         |probes AS (SELECT cell FROM qd
         |  QUALIFY row_number() OVER (
         |    ORDER BY dp / (sqrt(nc) * sqrt(nq)) DESC, cell ASC) <= 2),
         |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         |          embedding AS se FROM corpus WHERE $buildPred ORDER BY vec_id LIMIT 16),
         |ex AS (SELECT e.vec_id, s.code, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, s.se AS se
         |       FROM corpus e CROSS JOIN seeds s),
         |dist AS (SELECT vec_id, code, (i - 1) // 8 AS j,
         |    SUM((CAST(v AS DOUBLE) - CAST(se[i] AS DOUBLE))
         |      * (CAST(v AS DOUBLE) - CAST(se[i] AS DOUBLE)) ORDER BY i) AS d
         |  FROM ex GROUP BY vec_id, code, j),
         |codes AS (SELECT vec_id, j, code FROM dist
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
         |    ORDER BY d ASC, code ASC) = 1),
         |qpx AS (SELECT s.code, unnest(s.se) AS cv,
         |         unnest(generate_series(1, len(s.se))) AS i, q.qe AS qe
         |       FROM seeds s, q),
         |lut AS (SELECT code, (i - 1) // 8 AS j,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(cv AS DOUBLE) ORDER BY i) AS dp
         |  FROM qpx GROUP BY code, j),
         |score AS (SELECT c.vec_id, SUM(l.dp ORDER BY c.j) AS pq_score
         |  FROM codes c
         |  JOIN lut l ON l.j = c.j AND l.code = c.code
         |  JOIN assign a ON a.vec_id = c.vec_id
         |  JOIN probes p ON p.cell = a.cell
         |  GROUP BY c.vec_id),
         |surv AS (SELECT vec_id FROM score
         |  QUALIFY row_number() OVER (
         |    ORDER BY pq_score DESC, vec_id ASC) <= 50),
         |fx AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM corpus e JOIN surv s ON s.vec_id = e.vec_id, q),
         |fd AS (SELECT vec_id, label,
         |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM fx GROUP BY vec_id, label)
         |SELECT vec_id, label, dp / (sqrt(nv) * sqrt(nq)) AS cosine
         |FROM fd ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** The incremental shape across the even/odd split: signatures are
    * per-doc (split-independent), candidates pair an EVEN (indexed
    * corpus) doc with an ODD (ingest batch) doc on a shared band
    * signature, then the standard exact-Jaccard verify. Shared verbatim
    * by `q_dedup_incr` (fresh in-memory index) and `q_dedup_append`
    * (persisted index grown by `appendToNearDupIndex`) — the two Spark
    * paths must produce identical values.
    */
  private lazy val dedupIncrOracleSql: String = {
    val mins = (0 until 8)
      .map(i => s"min(md5('$i|' || shingle)) AS h$i").mkString(", ")
    val bandSel = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, h${2 * b} || h${2 * b + 1} AS sig FROM sig")
      .mkString(" UNION ALL ")
    s"""WITH $shingleCte,
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS ($bandSel),
       |cand AS (SELECT DISTINCT a.doc_id AS id_old, b.doc_id AS id_new
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.sig = b.sig
       |         WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id_old, c.id_new, count(*) AS n_inter
       |          FROM cand c JOIN sh sa ON sa.doc_id = c.id_old
       |          JOIN sh sb ON sb.doc_id = c.id_new
       |            AND sb.shingle = sa.shingle
       |          GROUP BY c.id_old, c.id_new)
       |SELECT i.id_old, i.id_new, i.n_inter,
       |  CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) AS jaccard
       |FROM inter i JOIN sz za ON za.doc_id = i.id_old
       |JOIN sz zb ON zb.doc_id = i.id_new
       |WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= 0.8
       |ORDER BY id_old, id_new""".stripMargin
  }

  /** The MinHash→banded-LSH→Jaccard near-dup pipeline as DuckDB CTEs,
    * shared by `q_dedup_near` (pair list) and `q_dedup_clusters`
    * (connected components on top).
    */
  private def nearDupCtesFrom(rel: String): String = {
    val mins = (0 until 8)
      .map(i => s"min(md5('$i|' || shingle)) AS h$i").mkString(", ")
    val bands = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, h${2 * b} || h${2 * b + 1} AS sig FROM sig")
      .mkString(" UNION ALL ")
    s"""${shingleCteFrom(rel)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
       |          FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
       |          JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |          GROUP BY c.id_a, c.id_b)""".stripMargin
  }

  private val nearDupCtes = nearDupCtesFrom("documents")

  /** Shared `q_bm25_stats` / `q_bm25_topk` CTE chain: the non-empty
    * token stream, the one-row corpus stats, per-(doc, query-term)
    * term frequencies and per-term document frequencies — one
    * definition so the stats row and the ranking row cannot drift.
    */
  private lazy val bm25Ctes: String =
    bm25CtesFor(graft.pipeline.Bm25.queryTerms(bm25Query))

  /** The `q_bm25_topk` oracle — the full ranking chain: positive-idf
    * ln, per-candidate term-ordered contribution fold (the scorer's
    * pinned 0.0-seeded sum), (score DESC, doc_id) cut; constants
    * rendered from the same Scala doubles the Column expression uses.
    * Shared verbatim by `q_bm25_index` (the persisted-postings serving
    * path must land the identical top-k).
    */
  private lazy val bm25TopkOracleSql: String = {
    val k1 = 1.2; val b = 0.75
    s"""WITH $bm25Ctes,
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
       |  FROM toks GROUP BY doc_id),
       |co AS (SELECT t.doc_id, t.term,
       |    ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)
       |        + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
       |    * (CAST(t.tf AS DOUBLE) * ${k1 + 1.0}) /
       |      (CAST(t.tf AS DOUBLE) + $k1 * (${1.0 - b} + $b *
       |        CAST(l.dl AS DOUBLE) /
       |        (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
       |      AS c
       |  FROM tf t JOIN dfq d USING (term)
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN st s),
       |sc AS (SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(c ORDER BY term)), (a, x) -> a + x) AS score
       |  FROM co GROUP BY doc_id),
       |sel AS (SELECT doc_id FROM sc
       |  ORDER BY score DESC, doc_id LIMIT $bm25K)
       |SELECT s2.doc_id, d2.lang
       |FROM sel s2 JOIN documents d2 USING (doc_id)
       |ORDER BY s2.doc_id""".stripMargin
  }

  /** The `q_bm25_batch` oracle — the multi-query chain: per-(query,
    * term) VALUES, corpus stats and tf over the UNION of terms,
    * per-(query, doc) term-ordered folds, per-query row_number cut.
    * Shared verbatim by `q_bm25_index_batch` (the persisted-index
    * batch serving path must land the identical result).
    */
  private lazy val bm25BatchOracleSql: String = {
    val k1 = 1.2; val b = 0.75
    val allTerms = bm25BatchQueries
      .flatMap(q => graft.pipeline.Bm25.queryTerms(q._2))
      .distinct.sorted
    val qtVals = bm25BatchQueries.flatMap { case (qid, q) =>
      graft.pipeline.Bm25.queryTerms(q).map(t => s"('$qid', '$t')")
    }.mkString(", ")
    s"""WITH ${bm25CtesFor(allTerms)},
       |qt(qid, term) AS (VALUES $qtVals),
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
       |  FROM toks GROUP BY doc_id),
       |co AS (SELECT q.qid, t.doc_id, t.term,
       |    ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)
       |        + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
       |    * (CAST(t.tf AS DOUBLE) * ${k1 + 1.0}) /
       |      (CAST(t.tf AS DOUBLE) + $k1 * (${1.0 - b} + $b *
       |        CAST(l.dl AS DOUBLE) /
       |        (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
       |      AS c
       |  FROM tf t JOIN qt q USING (term) JOIN dfq d USING (term)
       |  JOIN dl l ON l.doc_id = t.doc_id
       |  CROSS JOIN st s),
       |sc AS (SELECT qid, doc_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(c ORDER BY term)), (a, x) -> a + x) AS score
       |  FROM co GROUP BY qid, doc_id),
       |sel AS (SELECT qid, doc_id, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER)
       |    AS rank
       |  FROM sc QUALIFY rank <= $bm25BatchK)
       |SELECT qid, doc_id, rank FROM sel
       |ORDER BY qid, rank""".stripMargin
  }

  private def bm25CtesFor(terms: Seq[String]): String = {
    s"""toks AS (SELECT doc_id,
       |    unnest(list_filter($toksSql, x -> length(x) > 0)) AS term
       |  FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(list_filter($toksSql, x -> length(x) > 0)))
       |      AS BIGINT) AS sum_dl FROM documents),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks WHERE term IN (${inList(terms)})
       |  GROUP BY doc_id, term),
       |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
       |  GROUP BY term)""".stripMargin
  }

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** The DuckDB mirror of [[graft.pipeline.Sampling.dyadicPow]]'s
    * sqrt-chain: same binary expansion, same ascending-depth
    * left-fold multiplication order — sqrt and × are IEEE
    * correctly-rounded in both engines, so the chain is bit-exact.
    */
  private def dyadicPowSql(x: String, alpha: Double): String = {
    require(alpha > 0.0 && alpha <= 1.0 &&
      alpha * 256.0 == math.rint(alpha * 256.0), s"non-dyadic $alpha")
    if (alpha == 1.0) x
    else {
      val bits = math.round(alpha * 256.0).toInt
      var term = x
      var acc: Option[String] = None
      for (i <- 1 to 8) {
        term = s"sqrt($term)"
        if (((bits >> (8 - i)) & 1) == 1)
          acc = Some(acc.map(a => s"($a * $term)").getOrElse(term))
      }
      acc.get
    }
  }

  /** DuckDB nibble value of hex char `i` (1-based) of `expr` — the
    * `strpos`-arithmetic mirror of Spark's `conv(hexchar, 16, 10)`.
    */
  private def nibSql(expr: String, i: Int): String =
    s"(strpos('0123456789abcdef', substr($expr, $i, 1)) - 1)"

  /** Shared CTE chain ending in `sh16(doc_id, simhash)` — the DuckDB mirror
    * of [[TextOps.simHash16]], used by both q_simhash and q_simhash_near.
    */
  private val simhash16Cte =
    s"""toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |sbits AS (SELECT doc_id, tok, unnest(generate_series(0, 15)) AS b FROM toks),
       |ssum AS (SELECT doc_id, b,
       |  SUM(CASE WHEN CAST(floor(
       |      (strpos('0123456789abcdef', substr(md5(tok), CAST(floor(b/4) AS INT) + 1, 1)) - 1)
       |      / pow(2, b % 4)) AS BIGINT) % 2 = 1
       |      THEN 1 ELSE -1 END) AS sb
       |  FROM sbits GROUP BY doc_id, b),
       |sh16 AS (SELECT doc_id,
       |  CAST(SUM(CASE WHEN sb >= 0 THEN pow(2, b) ELSE 0 END) AS BIGINT) AS simhash
       |FROM ssum GROUP BY doc_id)""".stripMargin

  /** DuckDB sign-band signature `b` over `bitsPerBand` coordinates of a
    * list column (mirror of [[Similarity.signBands]]).
    */
  private def bandSql(vec: String, b: Int, bits: Int): String =
    (1 to bits).map(i =>
      s"(CASE WHEN $vec[${b * bits + i}] > 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")

  def oracleSql: Map[String, String] = Map(
    "mask_static" ->
      s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         |'MASKED' AS c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin,
    "mask_rownum" ->
      s"""SELECT c_custkey,
         |concat('cust_', CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS VARCHAR)) AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin,
    "mask_hash" ->
      s"""SELECT c_custkey,
         |concat(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12), '@example.com') AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin,
    "mask_where" ->
      s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         |CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "mask_global_where" ->
      s"""SELECT c_custkey,
         |CASE WHEN c_acctbal > 0 AND c_nationkey <> 10
         |  THEN concat('X-', CAST(rn AS VARCHAR)) ELSE c_name END AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment
         |FROM (SELECT *, row_number() OVER (
         |  PARTITION BY CASE WHEN c_acctbal > 0 AND c_nationkey <> 10 THEN 1 ELSE 0 END
         |  ORDER BY c_custkey) - 1 AS rn FROM customer)
         |ORDER BY c_custkey""".stripMargin,
    "mask_unique" ->
      s"""SELECT c_custkey,
         |concat('user', CAST(c_custkey AS VARCHAR), '@example.com') AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin,
    "mask_fields" ->
      s"""SELECT c_custkey,
         |concat('N', CAST(c_custkey AS VARCHAR)) AS c_name, c_nationkey, c_acctbal,
         |concat(concat('N', CAST(c_custkey AS VARCHAR)), '-SEG') AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "mask_blueprint_full" ->
      s"""SELECT c_custkey,
         |concat('cust_', CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS VARCHAR)) AS c_name,
         |c_nationkey, c_acctbal,
         |CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "fk_sync" ->
      s"""SELECT o.o_orderkey,
         |COALESCE(m.newv, o.o_custkey) AS o_custkey,
         |o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority
         |FROM orders o LEFT JOIN
         |(SELECT c_custkey AS oldv, c_custkey + 1000000 AS newv FROM customer) m
         |ON o.o_custkey = m.oldv ORDER BY o_orderkey""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |  (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
         |COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_broadcast" ->
      s"""SELECT n_name,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
         |COUNT(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_skew_join" ->
      // the UNSALTED join: salting must be invisible in the result
      s"""SELECT o_orderkey, o_custkey, c_name
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_orderkey""".stripMargin,
    "q_skew_agg" ->
      // the plain GROUP BY the partial->final split must reproduce
      s"""SELECT l_suppkey, COUNT(*) AS n
         |FROM lineitem GROUP BY l_suppkey
         |ORDER BY l_suppkey""".stripMargin,
    "q_hll_distinct" ->
      // exact distinct re-derived; hll_ok pinned TRUE — the sketch
      // estimate must sit inside its documented 3·rsd accuracy band
      s"""SELECT o_orderpriority,
         |COUNT(DISTINCT o_custkey) AS n_exact,
         |TRUE AS hll_ok
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q_hll_merge" ->
      // exact distinct re-derived; the three booleans pinned TRUE —
      // flat union == tree union over the SAME shard sketches
      // (associativity, the distributed-merge contract), and every
      // union estimate inside the lgK=12 accuracy band
      s"""SELECT COUNT(DISTINCT o_custkey) AS n_exact,
         |TRUE AS merge_exact_ok,
         |TRUE AS merged_bound_ok,
         |TRUE AS global_bound_ok
         |FROM orders""".stripMargin,
    "q_bucketed_join" ->
      // the plain parquet join: the bucketed write->catalog->scan
      // round trip must be value-identical
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q5_multijoin" ->
      s"""SELECT n_name,
         |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |  (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_window_topk" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
         |SELECT o_custkey, o_orderkey, o_totalprice,
         |row_number() OVER (PARTITION BY o_custkey
         |  ORDER BY o_totalprice DESC, o_orderkey) AS rk
         |FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q_window_running" ->
      s"""SELECT o_custkey, o_orderkey,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
         |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
         |lag(o_orderkey, 1) OVER (
         |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
         |rank() OVER (
         |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rk
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_sort_limit" ->
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         |LIMIT 100""".stripMargin,
    "q_setops" ->
      s"""SELECT * FROM (
         |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         |UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         |EXCEPT SELECT c_custkey FROM customer WHERE c_nationkey = 0
         |) ORDER BY c_custkey""".stripMargin,
    "q_intersect" ->
      s"""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         |INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 0
         |ORDER BY c_custkey""".stripMargin,
    "q_cube" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
         |COALESCE(l_linestatus, 'ALL') AS l_linestatus,
         |COUNT(*) AS n_rows,
         |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_rollup" ->
      s"""SELECT COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
         |COUNT(*) AS n_cust,
         |CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name) ORDER BY r_name, n_name""".stripMargin,
    "q_grouping_sets" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
         |COALESCE(l_linestatus, 'ALL') AS ls,
         |COUNT(*) AS n_rows,
         |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY rf, ls""".stripMargin,
    "q_window_dist" ->
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
         |ORDER BY o_orderkey""".stripMargin,
    "q_pivot" ->
      s"""SELECT l_returnflag,
         |CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_f,
         |CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_o
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentile" ->
      s"""SELECT l_returnflag,
         |quantile_cont(l_extendedprice, 0.25) AS p25,
         |quantile_cont(l_extendedprice, 0.5) AS p50,
         |quantile_cont(l_extendedprice, 0.75) AS p75
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentile_gk_parity" ->
      // the GK sketch is engine-specific, so the oracle pins the
      // CONTRACT, not the values: every (group, probability) estimate
      // must sit within its rank-error bound (checked Spark-side
      // against exact ranks) — all-true, one row per group × prob
      s"""SELECT l_returnflag, unnest([0.25, 0.5, 0.75]) AS prob,
         |       true AS within_bound
         |FROM (SELECT DISTINCT l_returnflag FROM lineitem)
         |ORDER BY l_returnflag, prob""".stripMargin,
    "q_histogram" ->
      s"""SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS price_bucket,
         |COUNT(*) AS n,
         |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_distinct_agg" ->
      s"""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
         |COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_semi_join" ->
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey AND o_totalprice > 150000)
         |ORDER BY c_custkey""".stripMargin,
    "q_having" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
         |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
         |ORDER BY o_custkey""".stripMargin,
    "q_scalar_subquery" ->
      s"""SELECT c_custkey, c_name, c_acctbal FROM customer
         |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
         |  FROM customer)
         |ORDER BY c_custkey""".stripMargin,
    "q_json" ->
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) % 10 AS k_mod,
         |COUNT(*) AS n,
         |CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_time_bucket" ->
      s"""SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
         |CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sessionize" ->
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
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_asof_join" ->
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
         |ORDER BY event_id""".stripMargin,
    "q_range_count" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
         |o AS (SELECT o_custkey, epoch_us(o_orderdate) AS ot FROM orders)
         |SELECT e.event_id, e.user_id, e.ts_us, COUNT(o.ot) AS n_orders_win
         |FROM e LEFT JOIN o ON o.o_custkey = e.user_id
         |  AND o.ot > e.ts_us - ${10000L * 24 * 3600 * 1000000L} AND o.ot <= e.ts_us
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "mask_fields_closure" ->
      s"""SELECT c_custkey,
         |concat('N', CAST(c_custkey AS VARCHAR)) AS c_name, c_nationkey, c_acctbal,
         |concat('N', CAST(c_custkey AS VARCHAR), '|', c_mktsegment) AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "mask_composite_pk" ->
      s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
         |l_extendedprice, l_discount, l_tax,
         |concat('F', CAST(row_number() OVER (ORDER BY ${lineitemOrder.mkString(", ")}) - 1 AS VARCHAR)) AS l_returnflag,
         |l_linestatus, l_shipdate
         |FROM lineitem ORDER BY ${lineitemOutOrder.mkString(", ")}""".stripMargin,
    "mask_generators" -> {
      val fpool = inList(Gen.firstNamePool)
      val lpool = inList(Gen.lastNamePool)
      val seed = "md5(CAST(c_custkey AS VARCHAR))"
      val fIdx = s"CAST((${nibSql(seed, 1)} * 16 + ${nibSql(seed, 2)}) " +
        s"% ${Gen.firstNamePool.size} AS INT) + 1"
      val lIdx = s"CAST((${nibSql(seed, 3)} * 16 + ${nibSql(seed, 4)}) " +
        s"% ${Gen.lastNamePool.size} AS INT) + 1"
      val first = s"list_extract([$fpool], $fIdx)"
      val last = s"list_extract([$lpool], $lIdx)"
      s"""SELECT c_custkey, $first || ' ' || $last AS c_name,
         |c_nationkey, c_acctbal,
         |lower($first) || '.' || CAST(c_custkey AS VARCHAR) || '@example.com' AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin
    },
    "mask_generator_oracle" -> {
      val pool = inList(Gen.firstNamePool)
      val seed = "md5(CAST(c_custkey AS VARCHAR))"
      val idx = s"CAST((${nibSql(seed, 1)} * 16 + ${nibSql(seed, 2)}) " +
        s"% ${Gen.firstNamePool.size} AS INT) + 1"
      s"""SELECT c_custkey, list_extract([$pool], $idx) AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin
    },
    "mask_format_preserving" -> {
      // per character: shift = first hex-nibble pair of
      // md5(seed || '#' || i); digits rotate mod 10, letters mod 26
      // within their case, everything else passes through — exactly
      // Gen.portableFormatPreserving's closure, re-derived per char
      val h = s"md5(sd || '#' || CAST(i AS VARCHAR))"
      val shift = s"(${nibSql(h, 1)} * 16 + ${nibSql(h, 2)})"
      s"""WITH src AS (SELECT c_custkey, c_name,
         |    md5('fp18|' || c_name) AS sd FROM customer),
         |pos AS (SELECT c_custkey, c_name, sd,
         |    unnest(generate_series(1, length(c_name))) AS i
         |  FROM src),
         |mc AS (SELECT c_custkey, i,
         |    CASE
         |      WHEN substr(c_name, i, 1) BETWEEN '0' AND '9'
         |        THEN chr(48 + CAST((ascii(substr(c_name, i, 1)) - 48
         |          + $shift) % 10 AS INT))
         |      WHEN substr(c_name, i, 1) BETWEEN 'a' AND 'z'
         |        THEN chr(97 + CAST((ascii(substr(c_name, i, 1)) - 97
         |          + $shift) % 26 AS INT))
         |      WHEN substr(c_name, i, 1) BETWEEN 'A' AND 'Z'
         |        THEN chr(65 + CAST((ascii(substr(c_name, i, 1)) - 65
         |          + $shift) % 26 AS INT))
         |      ELSE substr(c_name, i, 1) END AS ch
         |  FROM pos),
         |agg AS (SELECT c_custkey,
         |    string_agg(ch, '' ORDER BY i) AS masked
         |  FROM mc GROUP BY c_custkey)
         |SELECT s.c_custkey, s.c_name,
         |COALESCE(a.masked, s.c_name) AS c_name_masked
         |FROM src s LEFT JOIN agg a USING (c_custkey)
         |ORDER BY c_custkey""".stripMargin
    },
    "mask_fp_sync" -> {
      // the masked custkey re-derived from the CUSTOMER table (digit
      // strings: only the mod-10 branch fires), joined to the raw FK
      // order counts — if either table's independent masking drifted,
      // the Spark side's orders-derived masked value (or its pinned
      // sync_ok) hash-fails against this
      val h = s"md5(sd || '#' || CAST(i AS VARCHAR))"
      val shift = s"(${nibSql(h, 1)} * 16 + ${nibSql(h, 2)})"
      s"""WITH src AS (SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS v,
         |    md5('fps19|' || CAST(c_custkey AS VARCHAR)) AS sd
         |  FROM customer),
         |pos AS (SELECT c_custkey, v, sd,
         |    unnest(generate_series(1, length(v))) AS i FROM src),
         |mc AS (SELECT c_custkey, i,
         |    chr(48 + CAST((ascii(substr(v, i, 1)) - 48 + $shift) % 10
         |      AS INT)) AS ch
         |  FROM pos),
         |mk AS (SELECT c_custkey, string_agg(ch, '' ORDER BY i) AS m
         |  FROM mc GROUP BY 1),
         |j AS (SELECT o_custkey AS c_custkey, COUNT(*) AS n_orders
         |  FROM orders GROUP BY 1)
         |SELECT j.c_custkey, mk.m AS custkey_masked, j.n_orders,
         |TRUE AS sync_ok
         |FROM j JOIN mk USING (c_custkey)
         |ORDER BY c_custkey""".stripMargin
    },
    "mask_date_shift" -> {
      // the same 48-bit md5 coin as q_rr_release, keyed per customer;
      // the offset and the day-granular shift replay exactly
      val b = bucket48OfSql(
        "md5('ds18|' || COALESCE(CAST(o_custkey AS VARCHAR), chr(1)))")
      s"""SELECT o_orderkey, o_custkey, o_orderdate,
         |o_orderdate + (CAST($b % 181 AS INT) - 90)
         |  * INTERVAL 1 DAY AS o_orderdate_shifted
         |FROM orders ORDER BY o_orderkey""".stripMargin
    },
    "q_dedup_exact" ->
      s"""SELECT md5($normSql) AS content_hash, COUNT(*) AS n_copies,
         |MIN(doc_id) AS keep_id
         |FROM (SELECT * FROM documents
         |      UNION ALL SELECT * FROM documents WHERE doc_id % 50 = 0)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_exact_best" ->
      // keep-best exact dedup: content hash groups, per-group max
      // external score (mirror source outranks originals), min-id
      // tie-break — the survivor set re-derived end to end
      s"""WITH corpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000, 'mirror', text FROM documents
         |  WHERE doc_id % 50 = 0),
         |h AS (SELECT doc_id, source, md5($normSql) AS ch,
         |    CASE WHEN source = 'mirror' THEN 2.0 ELSE 1.0 END AS s
         |  FROM corpus),
         |top AS (SELECT ch, MAX(s) AS m FROM h GROUP BY ch),
         |keep AS (SELECT h.ch, MIN(h.doc_id) AS keep_id
         |  FROM h JOIN top t ON t.ch = h.ch AND h.s = t.m GROUP BY h.ch)
         |SELECT h.doc_id, h.source FROM h
         |JOIN keep k ON k.ch = h.ch AND k.keep_id = h.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_near_best" ->
      // keep-best near dedup: the q_dedup_near pair graph, the shared
      // recursive component closure, quality scores (the bit-pinned
      // q_quality formula) and the argmax survivor with min-id ties
      s"""WITH RECURSIVE $nearDupCtes,
         |pairs AS MATERIALIZED (SELECT i.id_a, i.id_b
         |  FROM inter i JOIN sz za ON za.doc_id = i.id_a
         |  JOIN sz zb ON zb.doc_id = i.id_b
         |  WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter)
         |    >= 0.8),
         |$semComponentCtes,
         |qf AS (SELECT $qualityFeatSelect FROM documents),
         |qsc AS (SELECT doc_id, $qualityScoreSql AS q FROM qf),
         |members AS MATERIALIZED (SELECT comp.id, comp.cluster_id, s.q
         |  FROM comp JOIN qsc s ON s.doc_id = comp.id),
         |top AS (SELECT cluster_id, MAX(q) AS m FROM members
         |  GROUP BY cluster_id),
         |keep AS (SELECT t.cluster_id, MIN(mm.id) AS id
         |  FROM members mm JOIN top t ON t.cluster_id = mm.cluster_id
         |  WHERE mm.q = t.m GROUP BY t.cluster_id),
         |dropped AS (SELECT id FROM members
         |  WHERE id NOT IN (SELECT id FROM keep))
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_near" ->
      s"""WITH $nearDupCtes
         |SELECT i.id_a, i.id_b, i.n_inter,
         |  CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) AS jaccard
         |FROM inter i JOIN sz za ON za.doc_id = i.id_a
         |JOIN sz zb ON zb.doc_id = i.id_b
         |WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    // exact substring dedup: occurrence marking (count + canonical
    // row_number over the gram hash), removal spans, gaps-and-islands
    // merge, complement segments, ordered string_agg reassembly — the
    // full Lee-et-al. pipeline re-derived relationally. No WHERE on
    // empty segments: substring(_, k, 0) = '' keeps the all-removed
    // doc's group alive so it cleans to '' rather than COALESCE-ing
    // back to the original.
    "q_substring_dedup" ->
      """WITH occ AS (
        |  SELECT doc_id, CAST(p AS INTEGER) AS pos,
        |         md5(substring(text, CAST(p AS INTEGER), 40)) AS g
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 39)) AS u(p)),
        |mk AS (SELECT doc_id, pos,
        |         COUNT(*) OVER (PARTITION BY g) AS c,
        |         ROW_NUMBER() OVER (PARTITION BY g
        |           ORDER BY doc_id, pos) AS rn
        |       FROM occ),
        |rem AS (SELECT doc_id, pos, pos + 40 AS e FROM mk
        |        WHERE c > 1 AND rn > 1),
        |isl AS (SELECT doc_id, pos, e,
        |    CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id
        |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) THEN 1 ELSE 0 END AS ni
        |  FROM rem),
        |iv AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
        |       FROM (SELECT *, SUM(ni) OVER (PARTITION BY doc_id
        |               ORDER BY pos) AS island FROM isl)
        |       GROUP BY doc_id, island),
        |seg AS (
        |  SELECT doc_id, COALESCE(LAG(e) OVER (PARTITION BY doc_id
        |           ORDER BY s), 1) AS ks, s AS ke
        |  FROM iv
        |  UNION ALL
        |  SELECT iv.doc_id, MAX(iv.e), MIN(length(d.text)) + 1
        |  FROM iv JOIN documents d USING (doc_id) GROUP BY iv.doc_id),
        |cleaned AS (
        |  SELECT seg.doc_id,
        |         string_agg(substring(d.text, ks, ke - ks), ''
        |           ORDER BY ks) AS ct
        |  FROM seg JOIN documents d USING (doc_id)
        |  GROUP BY seg.doc_id)
        |SELECT d.doc_id, COALESCE(c.ct, d.text) AS clean_text,
        |       CAST(length(d.text) - length(COALESCE(c.ct, d.text))
        |         AS BIGINT) AS n_removed_chars
        |FROM documents d LEFT JOIN cleaned c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // span decontamination: distinct benchmark grams, semi-join marking
    // over the corpus occurrences, then the same island-merge +
    // complement + ordered reassembly as q_substring_dedup
    "q_decontaminate_spans" ->
      """WITH bocc AS (
        |  SELECT DISTINCT md5(substring(text, CAST(p AS INTEGER), 25))
        |    AS g
        |  FROM documents,
        |       unnest(generate_series(1, length(text) - 24)) AS u(p)
        |  WHERE doc_id % 10 = 0),
        |corp AS (SELECT doc_id, text FROM documents
        |         WHERE doc_id % 10 <> 0),
        |rem AS (
        |  SELECT doc_id, CAST(p AS INTEGER) AS pos,
        |         CAST(p AS INTEGER) + 25 AS e
        |  FROM corp, unnest(generate_series(1, length(text) - 24)) AS u(p)
        |  WHERE md5(substring(text, CAST(p AS INTEGER), 25))
        |        IN (SELECT g FROM bocc)),
        |isl AS (SELECT doc_id, pos, e,
        |    CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id
        |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) THEN 1 ELSE 0 END AS ni
        |  FROM rem),
        |iv AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
        |       FROM (SELECT *, SUM(ni) OVER (PARTITION BY doc_id
        |               ORDER BY pos) AS island FROM isl)
        |       GROUP BY doc_id, island),
        |seg AS (
        |  SELECT doc_id, COALESCE(LAG(e) OVER (PARTITION BY doc_id
        |           ORDER BY s), 1) AS ks, s AS ke
        |  FROM iv
        |  UNION ALL
        |  SELECT iv.doc_id, MAX(iv.e), MIN(length(d.text)) + 1
        |  FROM iv JOIN corp d USING (doc_id) GROUP BY iv.doc_id),
        |cleaned AS (
        |  SELECT seg.doc_id,
        |         string_agg(substring(d.text, ks, ke - ks), ''
        |           ORDER BY ks) AS ct
        |  FROM seg JOIN corp d USING (doc_id)
        |  GROUP BY seg.doc_id)
        |SELECT d.doc_id, COALESCE(c.ct, d.text) AS clean_text,
        |       CAST(length(d.text) - length(COALESCE(c.ct, d.text))
        |         AS BIGINT) AS n_removed_chars
        |FROM corp d LEFT JOIN cleaned c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // line-level dedup: page synthesis (header + ORDER BY doc_id body +
    // footer, %10==3 docs guesting on the next page), per-line doc
    // frequency on the NORMALIZED line, drop every occurrence above
    // df 1, ordered string_agg reassembly
    "q_line_dedup" ->
      """WITH members AS (
        |  SELECT doc_id % 25 AS page_id, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT (doc_id + 1) % 25, doc_id, text FROM documents
        |  WHERE doc_id % 10 = 3),
        |pages AS (
        |  SELECT page_id,
        |    'echo header: subscribe to the corpus feed' || chr(10) ||
        |    string_agg(text, chr(10) ORDER BY doc_id) || chr(10) ||
        |    'echo footer: all rights reserved' AS text
        |  FROM members GROUP BY page_id),
        |ls AS (
        |  SELECT page_id, CAST(i AS INTEGER) AS ln,
        |         list_extract(string_split(text, chr(10)),
        |           CAST(i AS INTEGER)) AS line
        |  FROM pages,
        |       unnest(generate_series(1,
        |         len(string_split(text, chr(10))))) AS u(i)),
        |keyed AS (
        |  SELECT page_id, ln, line,
        |         md5(lower(trim(regexp_replace(line, '\s+', ' ', 'g'))))
        |           AS k,
        |         lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) AS nrm
        |  FROM ls),
        |freq AS (
        |  SELECT k FROM keyed WHERE nrm <> ''
        |  GROUP BY k HAVING COUNT(DISTINCT page_id) > 1),
        |kept AS (
        |  SELECT page_id, ln, line FROM keyed
        |  WHERE k NOT IN (SELECT k FROM freq)),
        |built AS (
        |  SELECT page_id, COUNT(*) AS n_kept,
        |         string_agg(line, chr(10) ORDER BY ln) AS clean_text
        |  FROM kept GROUP BY page_id)
        |SELECT p.page_id, COALESCE(b.clean_text, '') AS clean_text,
        |       CAST(len(string_split(p.text, chr(10)))
        |         - COALESCE(b.n_kept, 0) AS BIGINT) AS n_dropped_lines
        |FROM pages p LEFT JOIN built b USING (page_id)
        |ORDER BY p.page_id""".stripMargin,
    "q_dedup_clusters" ->
      // transitive closure as the semantic spec: cluster id = MIN
      // reachable doc id over the verified near-dup pair graph — the
      // recursive CTE is DuckDB's way to say what the distributed
      // label propagation computes
      s"""WITH RECURSIVE $nearDupCtes,
         |pairs AS (
         |  SELECT i.id_a, i.id_b
         |  FROM inter i JOIN sz za ON za.doc_id = i.id_a
         |  JOIN sz zb ON zb.doc_id = i.id_b
         |  WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT rc.id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r)
         |SELECT id AS doc_id, MIN(r) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q_dedup_incr" -> dedupIncrOracleSql,
    // the SAME oracle verbatim: after folding the second even half into
    // the persisted layout, the appended index must answer EXACTLY like
    // a fresh build over the full even corpus
    "q_dedup_append" -> dedupIncrOracleSql,
    "q_text_stats" ->
      // CAST SUM/MAX to BIGINT: DuckDB SUM(integer) yields HUGEINT (float64
      // in pandas) and MAX(len) INT vs Spark's int64 — dtype-exact both sides
      s"""SELECT lang, COUNT(*) AS n_docs,
         |CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |CAST(SUM(len($toksSql)) AS BIGINT) AS sum_tokens,
         |CAST(MAX(len($toksSql)) AS BIGINT) AS max_tokens,
         |COUNT(DISTINCT source) AS n_sources
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_subword" ->
      // \p{L}/\p{N} are Unicode classes in both Java regex and RE2, and
      // the empty-token filter makes split-edge semantics irrelevant
      s"""SELECT doc_id, len($toksSql) AS n_tokens,
         |len(list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
         |    x -> len(x) > 0)) AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" -> {
      def hits(words: Seq[String]) =
        s"len(list_filter($toksSql, x -> x IN (${inList(words)})))"
      s"""SELECT doc_id,
         |${hits(TextOps.langProfiles("de"))} AS de_hits,
         |${hits(TextOps.langProfiles("en"))} AS en_hits,
         |${hits(TextOps.langProfiles("es"))} AS es_hits,
         |CASE WHEN ${hits(TextOps.langProfiles("de"))} >= ${hits(TextOps.langProfiles("en"))}
         |       AND ${hits(TextOps.langProfiles("de"))} >= ${hits(TextOps.langProfiles("es"))}
         |       AND ${hits(TextOps.langProfiles("de"))} > 0 THEN 'de'
         |     WHEN ${hits(TextOps.langProfiles("en"))} >= ${hits(TextOps.langProfiles("es"))}
         |       AND ${hits(TextOps.langProfiles("en"))} > 0 THEN 'en'
         |     WHEN ${hits(TextOps.langProfiles("es"))} > 0 THEN 'es'
         |     ELSE 'und' END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // feature projection + score formula are the SHARED renderings
    // (qualityFeatSelect / qualityScoreSql) q_curation_sem's keep-set
    // CTE also uses — one copy, no drift
    "q_quality" ->
      s"""WITH f AS (SELECT $qualityFeatSelect
         |FROM documents)
         |SELECT doc_id, n_tokens, stop_hits, n_punct,
         |  $qualityScoreSql AS quality
         |FROM f ORDER BY doc_id""".stripMargin,
    // Gopher rule filter: int/int double divisions only, so every
    // feature bit-matches; the stop-hit list is the en profile
    "q_gopher_rules" ->
      s"""WITH $gopherFeatCtes
         |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
         |  alpha_word_frac, bullet_line_frac, ellipsis_line_frac,
         |  stop_hits,
         |  n_words BETWEEN 30 AND 90 AS ok_words,
         |  mean_word_len BETWEEN 3.9 AND 4.9 AS ok_mean_len,
         |  symbol_word_ratio <= 0.1 AS ok_symbols,
         |  bullet_line_frac <= 0.9 AS ok_bullets,
         |  ellipsis_line_frac <= 0.3 AS ok_ellipsis,
         |  alpha_word_frac >= 0.8 AS ok_alpha,
         |  stop_hits >= 1 AS ok_stopwords,
         |  $gopherKeepSql AS keep
         |FROM feat ORDER BY doc_id""".stripMargin,
    // the per-source data card: every double derived from exact integer
    // aggregates AFTER the groupBy, so unordered float summation never
    // enters the comparison
    "q_data_card" ->
      s"""WITH $gopherFeatCtes,
         |base AS (SELECT d.source, d.lang,
         |    CAST(len($toksSql) AS BIGINT) AS toks,
         |    md5($normSql) AS h,
         |    ($gopherKeepSql) AS keep
         |  FROM documents d JOIN feat ON feat.doc_id = d.doc_id)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_texts,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_gopher_keep,
         |  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_de,
         |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_en,
         |  CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_es,
         |  CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fr,
         |  CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_zh,
         |  CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs,
         |  CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS mean_tokens,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS gopher_keep_frac
         |FROM base GROUP BY source ORDER BY source""".stripMargin,
    "q_repetition" ->
      s"""WITH $repetitionCtes
         |SELECT ws.doc_id, ws.n_tokens, ws.n_distinct_tokens,
         |  ws.top_word_frac, COALESCE(bs.dup_bigram_frac, 0.0) AS dup_bigram_frac
         |FROM ws LEFT JOIN bs ON bs.doc_id = ws.doc_id
         |ORDER BY ws.doc_id""".stripMargin,
    // the FULL Gopher filter: the shared feature CTEs joined with the
    // shared repetition CTEs, two caps, keep tightened to all nine
    "q_gopher_full" ->
      s"""WITH $gopherFeatCtes,
         |$repetitionCtes,
         |rep AS (SELECT ws.doc_id, ws.top_word_frac,
         |    COALESCE(bs.dup_bigram_frac, 0.0) AS dup_bigram_frac
         |  FROM ws LEFT JOIN bs ON bs.doc_id = ws.doc_id)
         |SELECT feat.doc_id, n_words, mean_word_len, symbol_word_ratio,
         |  alpha_word_frac, bullet_line_frac, ellipsis_line_frac,
         |  stop_hits,
         |  n_words BETWEEN 30 AND 90 AS ok_words,
         |  mean_word_len BETWEEN 3.9 AND 4.9 AS ok_mean_len,
         |  symbol_word_ratio <= 0.1 AS ok_symbols,
         |  bullet_line_frac <= 0.9 AS ok_bullets,
         |  ellipsis_line_frac <= 0.3 AS ok_ellipsis,
         |  alpha_word_frac >= 0.8 AS ok_alpha,
         |  stop_hits >= 1 AS ok_stopwords,
         |  rep.top_word_frac, rep.dup_bigram_frac,
         |  rep.top_word_frac <= 0.11 AS ok_top_word,
         |  rep.dup_bigram_frac <= 0.05 AS ok_dup_bigram,
         |  ($gopherKeepSql) AND rep.top_word_frac <= 0.11
         |    AND rep.dup_bigram_frac <= 0.05 AS keep
         |FROM feat JOIN rep ON rep.doc_id = feat.doc_id
         |ORDER BY feat.doc_id""".stripMargin,
    // C4: pages rebuilt line-for-line with the same doc_id-keyed
    "q_html_extract" -> {
      // rebuild the SAME shell, replay the SAME strip chain pattern by
      // pattern (the shared htmlStripChain constants rendered as RE2 —
      // the chain is written in the Java∩RE2 subset for exactly this)
      def lit(x: String) = s"'${x.replace("'", "''")}'"
      val html = s"${lit(htmlShellA)} || CAST(doc_id AS VARCHAR) || " +
        s"${lit(htmlShellB)} || CAST(doc_id AS VARCHAR) || " +
        s"${lit(htmlShellC)} || text || ${lit(htmlShellD)}"
      val stripped = TextOps.htmlStripChain.foldLeft(html) {
        case (e, (p, r)) =>
          s"regexp_replace($e, ${lit(p)}, ${lit(r)}, 'g')"
      }
      s"""SELECT doc_id, $stripped AS extracted
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // injections, then the full decision table — line keeps, cleaned
    // text (byte-compared), sentence counts, page verdicts
    "q_c4_rules" ->
      """WITH lns AS (
        |  SELECT doc_id % 25 AS page_id, doc_id,
        |    (CASE WHEN doc_id % 19 = 0 THEN 'too short' ELSE text END)
        |    || (CASE WHEN doc_id % 7 = 3 THEN ' see javascript console'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 199 = 5 THEN ' { inline code }'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 211 = 7 THEN ' lorem ipsum dolor'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 223 = 11 THEN ' flaggedterm'
        |        ELSE '' END)
        |    || (CASE doc_id % 3 WHEN 0 THEN '.' WHEN 1 THEN '?'
        |        ELSE '' END) AS line
        |  FROM documents),
        |pages AS (
        |  SELECT page_id, string_agg(line, chr(10) ORDER BY doc_id)
        |    AS text
        |  FROM lns GROUP BY page_id),
        |ls AS (
        |  SELECT page_id, CAST(i AS INTEGER) AS ln,
        |    list_extract(string_split(text, chr(10)),
        |      CAST(i AS INTEGER)) AS line
        |  FROM pages,
        |    unnest(generate_series(1,
        |      len(string_split(text, chr(10))))) AS u(i)),
        |judged AS (
        |  SELECT page_id, ln, line,
        |    regexp_matches(line, '[.!?"]\s*$')
        |      AND len(string_split_regex(trim(line), '\s+')) >= 3
        |      AND NOT regexp_matches(lower(line), '\bjavascript\b')
        |      AS keep_line
        |  FROM ls),
        |built AS (
        |  SELECT page_id, COUNT(*) AS n_lines,
        |    SUM(CASE WHEN keep_line THEN 1 ELSE 0 END) AS n_kept,
        |    COALESCE(string_agg(CASE WHEN keep_line THEN line END,
        |      chr(10) ORDER BY ln), '') AS clean_text
        |  FROM judged GROUP BY page_id)
        |SELECT p.page_id,
        |  CAST(b.n_lines AS BIGINT) AS n_lines,
        |  CAST(b.n_kept AS BIGINT) AS n_kept_lines,
        |  b.clean_text,
        |  CAST(len(b.clean_text)
        |    - len(regexp_replace(b.clean_text, '[.!?]', '', 'g'))
        |    AS BIGINT) AS n_sentences,
        |  contains(p.text, '{') AS has_brace,
        |  contains(lower(p.text), 'lorem ipsum') AS has_lorem,
        |  regexp_matches(lower(p.text), '\b(flaggedterm)\b')
        |    AS has_bad_word,
        |  (len(b.clean_text)
        |    - len(regexp_replace(b.clean_text, '[.!?]', '', 'g')))
        |    >= 11 AS ok_sentences,
        |  NOT contains(p.text, '{')
        |    AND NOT contains(lower(p.text), 'lorem ipsum')
        |    AND NOT regexp_matches(lower(p.text), '\b(flaggedterm)\b')
        |    AND (len(b.clean_text)
        |      - len(regexp_replace(b.clean_text, '[.!?]', '', 'g')))
        |      >= 11 AS keep
        |FROM pages p JOIN built b USING (page_id)
        |ORDER BY p.page_id""".stripMargin,
    // the composed C4 -> CCNet recipe: the q_c4_rules page build (plus
    // the prose-shaped boilerplate header and % 10 = 3 guest lines),
    // C4 line-rewrite + page-drop, then CCNet line dedup over the
    // SURVIVORS' cleaned text — both stages re-derived end to end
    "q_c4_ccnet" ->
      """WITH lns AS (
        |  SELECT doc_id % 25 AS page_id, doc_id,
        |    (CASE WHEN doc_id % 19 = 0 THEN 'too short' ELSE text END)
        |    || (CASE WHEN doc_id % 7 = 3 THEN ' see javascript console'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 199 = 5 THEN ' { inline code }'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 211 = 7 THEN ' lorem ipsum dolor'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 223 = 11 THEN ' flaggedterm'
        |        ELSE '' END)
        |    || (CASE doc_id % 3 WHEN 0 THEN '.' WHEN 1 THEN '?'
        |        ELSE '' END) AS line
        |  FROM documents),
        |members AS (
        |  SELECT page_id, doc_id, line FROM lns
        |  UNION ALL
        |  SELECT (doc_id + 1) % 25, doc_id, line FROM lns
        |  WHERE doc_id % 10 = 3),
        |pages AS (
        |  SELECT page_id,
        |    'Subscribe to our newsletter today.' || chr(10) ||
        |    string_agg(line, chr(10) ORDER BY doc_id) AS text
        |  FROM members GROUP BY page_id),
        |ls AS (
        |  SELECT page_id, CAST(i AS INTEGER) AS ln,
        |    list_extract(string_split(text, chr(10)),
        |      CAST(i AS INTEGER)) AS line
        |  FROM pages,
        |    unnest(generate_series(1,
        |      len(string_split(text, chr(10))))) AS u(i)),
        |judged AS (
        |  SELECT page_id, ln, line,
        |    regexp_matches(line, '[.!?"]\s*$')
        |      AND len(string_split_regex(trim(line), '\s+')) >= 3
        |      AND NOT regexp_matches(lower(line), '\bjavascript\b')
        |      AS keep_line
        |  FROM ls),
        |c4built AS (
        |  SELECT page_id,
        |    COALESCE(string_agg(CASE WHEN keep_line THEN line END,
        |      chr(10) ORDER BY ln), '') AS clean_text
        |  FROM judged GROUP BY page_id),
        |c4kept AS (
        |  SELECT p.page_id, b.clean_text AS text
        |  FROM pages p JOIN c4built b USING (page_id)
        |  WHERE NOT contains(p.text, '{')
        |    AND NOT contains(lower(p.text), 'lorem ipsum')
        |    AND NOT regexp_matches(lower(p.text), '\b(flaggedterm)\b')
        |    AND (len(b.clean_text)
        |      - len(regexp_replace(b.clean_text, '[.!?]', '', 'g')))
        |      >= 11),
        |ls2 AS (
        |  SELECT page_id, CAST(i AS INTEGER) AS ln,
        |    list_extract(string_split(text, chr(10)),
        |      CAST(i AS INTEGER)) AS line
        |  FROM c4kept,
        |    unnest(generate_series(1,
        |      len(string_split(text, chr(10))))) AS u(i)),
        |keyed AS (
        |  SELECT page_id, ln, line,
        |    md5(lower(trim(regexp_replace(line, '\s+', ' ', 'g')))) AS k,
        |    lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) AS nrm
        |  FROM ls2),
        |freq AS (
        |  SELECT k FROM keyed WHERE nrm <> ''
        |  GROUP BY k HAVING COUNT(DISTINCT page_id) > 1),
        |kept AS (
        |  SELECT page_id, ln, line FROM keyed
        |  WHERE k NOT IN (SELECT k FROM freq)),
        |built AS (
        |  SELECT page_id, COUNT(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY ln) AS clean_text
        |  FROM kept GROUP BY page_id)
        |SELECT c.page_id, COALESCE(b.clean_text, '') AS clean_text,
        |  CAST(len(string_split(c.text, chr(10)))
        |    - COALESCE(b.n_kept, 0) AS BIGINT) AS n_dropped_lines
        |FROM c4kept c LEFT JOIN built b USING (page_id)
        |ORDER BY c.page_id""".stripMargin,
    "q_pii" -> {
      import graft.pipeline.TextOps.{emailRe, urlRe, phoneRe, ccRe, ipv4Re}
      s"""WITH synth AS (SELECT c_custkey,
         |  'reach user' || CAST(c_custkey AS VARCHAR) || '@example.com or call 555-' ||
         |  lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         |  ' visit https://example.com/u/' || CAST(c_custkey AS VARCHAR) ||
         |  ' card 4242-4242-4242-' ||
         |  lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         |  ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) ||
         |  '.' || CAST(c_custkey // 256 % 256 AS VARCHAR) AS text
         |FROM customer)
         |SELECT c_custkey,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(text,
         |    '$urlRe', '[URL]', 'g'), '$emailRe', '[EMAIL]', 'g'),
         |    '$ccRe', '[CARD]', 'g'), '$ipv4Re', '[IP]', 'g'),
         |    '$phoneRe', '[PHONE]', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$urlRe')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '$ccRe')) AS BIGINT) AS n_cards,
         |  CAST(len(regexp_extract_all(text, '$ipv4Re')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones
         |FROM synth ORDER BY c_custkey""".stripMargin
    },
    "q_decontaminate" ->
      s"""WITH $shingleCte,
         |ca AS (SELECT doc_id AS id_a, shingle FROM sh WHERE doc_id % 10 <> 0),
         |cb AS (SELECT doc_id AS id_b, shingle FROM sh WHERE doc_id % 10 = 0)
         |SELECT ca.id_a, cb.id_b, COUNT(*) AS n_shared
         |FROM ca JOIN cb USING (shingle)
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "q_zorder" -> {
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
    },
    "q_decontaminate_bloom" ->
      // the EXACT overlap — the Bloom stage is a prefilter that must
      // not change the answer (no false negatives; verify restores set
      // equality over the superset it keeps)
      s"""WITH $shingleCte,
         |ca AS (SELECT doc_id AS id_a, shingle FROM sh WHERE doc_id % 10 <> 0),
         |cb AS (SELECT doc_id AS id_b, shingle FROM sh WHERE doc_id % 10 = 0)
         |SELECT ca.id_a, cb.id_b, COUNT(*) AS n_shared
         |FROM ca JOIN cb USING (shingle)
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin,
    "q_vocab" ->
      s"""SELECT token, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |GROUP BY token ORDER BY n_docs DESC, token LIMIT 20""".stripMargin,
    "q_heavy_hitters" ->
      // exact corpus totals + the guaranteed-set size re-derived; the
      // four Misra-Gries contract booleans pinned TRUE (the sketch's
      // reported item set is partition-dependent near the error floor,
      // so only invariant facts ride the row)
      s"""WITH amp AS (SELECT doc_id,
         |    text || ' ' || repeat('zzhot ', CAST(doc_id % 7 + 10 AS INT))
         |      AS text
         |  FROM documents),
         |t AS (
         |  SELECT token, COUNT(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS token FROM amp)
         |  WHERE token <> '' GROUP BY token),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_vocab FROM t)
         |SELECT n_tokens, n_vocab,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM t
         |   WHERE CAST(cnt AS DOUBLE) >
         |     CAST((SELECT n_tokens FROM tot) AS DOUBLE) / 21)
         |    AS n_guaranteed,
         |  TRUE AS reported_le_k,
         |  TRUE AS all_underestimate,
         |  TRUE AS all_within_bound,
         |  TRUE AS guaranteed_present
         |FROM tot""".stripMargin,
    "q_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |dfq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |w AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.dfreq,
         |        tf.tf * (CAST(n.n AS DOUBLE) / dfq.dfreq) AS weight
         |      FROM tf JOIN dfq USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tf, dfreq, weight FROM w
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, token) = 1
         |ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""WITH $shingleCte,
         |h AS (SELECT DISTINCT doc_id, md5(shingle) AS h FROM sh),
         |top AS (SELECT doc_id, h FROM h
         |        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY h) <= 4)
         |SELECT doc_id, string_agg(h, ',' ORDER BY h) AS fingerprint
         |FROM top GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_winnow" ->
      // the same winnowing selection: md5 of every 8-char gram of the
      // normalized text, min over each 4-gram window (frames past the
      // last full window are excluded — i <= cnt-3 — except the single
      // all-grams window of docs with < 4 grams), distinct selections.
      // md5-string minima compare lexicographically on both engines.
      s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
         |g AS (SELECT doc_id, t,
         |        unnest(generate_series(1, greatest(length(t) - 7, 0))) AS i
         |      FROM norm),
         |h AS (SELECT doc_id, i, md5(substr(t, CAST(i AS INT), 8)) AS h
         |      FROM g),
         |w AS (SELECT doc_id, i,
         |        min(h) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
         |        count(*) OVER (PARTITION BY doc_id) AS cnt
         |      FROM h)
         |SELECT DISTINCT doc_id, mh AS fp FROM w
         |WHERE i <= greatest(cnt - 3, 1)
         |ORDER BY doc_id, fp""".stripMargin,
    "q_winnow_overlap" ->
      // q_winnow's selection CTE over the whole corpus, self-joined on
      // the fingerprint across the %10 corpus/benchmark split, pair
      // counts with the >= 20 floor (the fixture corpus shares heavy
      // boilerplate, so a low floor passes nearly every pair) — mirrors
      // TextOps.winnowOverlap
      s"""WITH norm AS (SELECT doc_id, $normSql AS t FROM documents),
         |g AS (SELECT doc_id, t,
         |        unnest(generate_series(1, greatest(length(t) - 7, 0))) AS i
         |      FROM norm),
         |h AS (SELECT doc_id, i, md5(substr(t, CAST(i AS INT), 8)) AS h
         |      FROM g),
         |wnd AS (SELECT doc_id, i,
         |        min(h) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
         |        count(*) OVER (PARTITION BY doc_id) AS cnt
         |      FROM h),
         |sel AS (SELECT DISTINCT doc_id, mh AS fp FROM wnd
         |        WHERE i <= greatest(cnt - 3, 1))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM sel a JOIN sel b ON a.fp = b.fp
         |WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
         |GROUP BY 1, 2 HAVING COUNT(*) >= 20
         |ORDER BY id_a, id_b""".stripMargin,
    "q_heavy" ->
      // exact regime (k=64 > 31 distinct fixture tokens): the sketch
      // equals the exact token-frequency table
      s"""WITH toks AS (SELECT unnest($toksSql) AS token FROM documents)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS est FROM toks
         |WHERE token <> ''
         |GROUP BY token ORDER BY est DESC, token""".stripMargin,
    "q_pack" ->
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
         |FROM ofs ORDER BY lang, doc_id""".stripMargin,
    "q_pack_chunks" ->
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
         |FROM pieces ORDER BY lang, doc_id, piece_bin""".stripMargin,
    "q_pack_boundaries" ->
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
         |FROM cut ORDER BY lang, bin, bin_from, doc_id""".stripMargin,
    "q_simhash" ->
      s"""WITH $simhash16Cte
         |SELECT doc_id, simhash FROM sh16 ORDER BY doc_id""".stripMargin,
    "q_simhash_near" ->
      // the oracle is the SEMANTIC spec — all pairs at Hamming distance ≤1
      // (an n² filter DuckDB happily runs at oracle scale); the Spark side
      // must produce the identical set through the banded bucket join
      s"""WITH $simhash16Cte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh16 a JOIN sh16 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY id_a, id_b""".stripMargin,
    "q_winnow64_parity" ->
      // the production xxhash64 winnowing selection has no ANSI-SQL
      // oracle; the check is Spark-side (native codegen path vs staged
      // HOF fold, per doc) and the oracle pins the CONTRACT: every
      // fixture document compared, every one matching
      "SELECT count(*) AS n_docs, count(*) AS n_match FROM documents",
    "q_simhash64_parity" ->
      // same pattern for the 64-bit SimHash: aggregate-shaped vs
      // per-row Column re-derivations must agree on every document
      "SELECT count(*) AS n_docs, count(*) AS n_match FROM documents",
    "q_substring_dedup64_parity" ->
      // same pattern for 64-bit substring dedup: md5 and xxhash64
      // removal intervals must agree per document across the fixture
      "SELECT count(*) AS n_docs, count(*) AS n_match FROM documents",
    "q_sim_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |ex AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM embeddings e, q WHERE e.vec_id <> 0),
         |dots AS (SELECT vec_id, label,
         |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM ex GROUP BY vec_id, label)
         |SELECT vec_id, label, dp / (sqrt(nv) * sqrt(nq)) AS cosine
         |FROM dots ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "q_sim_lsh" -> {
      val orChain = (0 until 16)
        .map(b => s"(${bandSql("e.embedding", b, 4)}) = (${bandSql("q.qe", b, 4)})")
        .mkString(" OR ")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |ex AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM embeddings e, q
         |       WHERE e.vec_id <> 0 AND ($orChain)),
         |dots AS (SELECT vec_id, label,
         |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM ex GROUP BY vec_id, label)
         |SELECT vec_id, label, dp / (sqrt(nv) * sqrt(nq)) AS cosine
         |FROM dots ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    },
    "q_sim_ivf" -> simIvfOracleSql(centPred = "TRUE"),
    // the appended-index probe: centroids seed from the EVEN half (the
    // initial build), assignment/scoring cover the full corpus — the
    // rest of the pipeline SQL is shared verbatim with q_sim_ivf
    "q_sim_ivf_append" -> simIvfOracleSql(centPred = "vec_id % 2 = 0"),
    // the re-clustered quantizer from scratch: seed cut = the
    // production ceiling ⌈count/24⌉ over the full corpus (the
    // q_semdedup_auto sizing rule), assignment + probe re-derived
    "q_ivf_recluster" -> simIvfOracleSql(centPred = "TRUE",
      centLimit = "(SELECT CAST(CEIL(COUNT(*) / 24.0) AS BIGINT) " +
        "FROM embeddings WHERE vec_id <> 0)"),
    // the TWO-LEVEL re-cluster: the whole grouped quantizer re-derived
    // from scratch (semDedup2lCtes over the query-less corpus), then
    // the shared nProbe=2 probe tail over the two-level assignment
    "q_ivf_recluster_2l" ->
      s"""WITH ${semDedup2lCtes(24, "vec_id <> 0")},
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |corpusl AS (SELECT vec_id, label, embedding FROM embeddings
         |            WHERE vec_id <> 0),
         |${simIvfProbeTail("corpusl")}""".stripMargin,
    "q_ivf_int8" -> ivfInt8OracleSql(centPred = "TRUE"),
    // the int8 append row: centroids frozen at the even half, every
    // appended row's quantization re-derived — shares the pipeline SQL
    "q_ivf_int8_append" -> ivfInt8OracleSql(centPred = "vec_id % 2 = 0"),
    "q_ivf_int8_batch" ->
      // q_ivf_int8's dequantized scoring in q_sim_ivf_batch's query-set
      // shape: per-query probes on full-precision centroids, final
      // cosine over dq = CAST(round(v/scale) AS TINYINT)·scale
      s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
         |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 3),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
         |ax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
         |       FROM corpus e CROSS JOIN cent c),
         |ad AS (SELECT vec_id, cell,
         |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
         |  FROM ax GROUP BY vec_id, cell),
         |assign AS (SELECT vec_id, cell FROM ad
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1),
         |qx AS (SELECT q.qid, c.cell, unnest(c.ce) AS v,
         |         unnest(generate_series(1, len(c.ce))) AS i, q.qe AS qe
         |       FROM cent c CROSS JOIN qs q),
         |qd AS (SELECT qid, cell,
         |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nc,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM qx GROUP BY qid, cell),
         |probes AS (SELECT qid, cell FROM qd
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY dp / (sqrt(nc) * sqrt(nq)) DESC, cell ASC) <= 2),
         |sc AS (SELECT vec_id,
         |    CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
         |         THEN 1.0
         |         ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
         |    END AS scale
         |  FROM corpus),
         |fx AS (SELECT q.qid, e.vec_id, e.label,
         |         CAST(CAST(round(CAST(unnest(e.embedding) AS DOUBLE) / s.scale) AS TINYINT) AS DOUBLE) * s.scale AS dq,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM corpus e
         |       JOIN sc s ON s.vec_id = e.vec_id
         |       JOIN assign a ON a.vec_id = e.vec_id
         |       JOIN probes p ON p.cell = a.cell
         |       JOIN qs q ON q.qid = p.qid),
         |fd AS (SELECT qid, vec_id, label,
         |    SUM(dq * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(dq * dq ORDER BY i) AS nv,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM fx GROUP BY qid, vec_id, label)
         |SELECT qid AS query_id, vec_id, label,
         |       dp / (sqrt(nv) * sqrt(nq)) AS cosine
         |FROM fd
         |QUALIFY row_number() OVER (PARTITION BY qid
         |  ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5
         |ORDER BY query_id, cosine DESC, vec_id""".stripMargin,
    "q_sim_ivf_batch" ->
      // the batch form of q_sim_ivf (see simIvfBatchCtes)
      s"""WITH $simIvfBatchCtes
         |SELECT qid AS query_id, vec_id, label,
         |       dp / (sqrt(nv) * sqrt(nq)) AS cosine
         |FROM fd
         |QUALIFY row_number() OVER (PARTITION BY qid
         |  ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5
         |ORDER BY query_id, cosine DESC, vec_id""".stripMargin,
    "q_ann_recall" ->
      // per-query intersection of the nProbe=2 IVF top-5 (the shared
      // batch chain) with a BRUTE-FORCE exact top-5 derived
      // independently over the full corpus — same tie rules
      s"""WITH $simIvfBatchCtes,
         |${annRecallTail("corpus")}""".stripMargin,
    "q_ann_recall_2l" ->
      // the grouping-cost audit: the TWO-LEVEL quantizer and a FLAT
      // quantizer at the SAME cell count (LIMIT = the landed 2l
      // centroid count) probed with the SAME nProbe=2 budget against
      // one shared brute-force exact top-5 — the recall DELTA is the
      // group-restricted assignment's near-boundary trade, isolated
      // from probe-budget effects, every value pinned cross-engine
      s"""WITH ${semDedup2lCtes(24, "vec_id >= 3")},
         |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id < 3),
         |corpusl AS (SELECT vec_id, label, embedding FROM embeddings
         |            WHERE vec_id >= 3),
         |centf AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id
         |         LIMIT (SELECT COUNT(*) FROM cent)),
         |zax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
         |       FROM corpus e CROSS JOIN centf c),
         |zad AS (SELECT vec_id, cell,
         |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
         |  FROM zax GROUP BY vec_id, cell),
         |zassign AS (SELECT vec_id, cell FROM zad
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1),
         |${simIvfBatchProbeCtes("corpusl")},
         |${simIvfBatchProbeCtes("corpusl", p = "z", centSrc = "centf",
            assignSrc = "zassign")},
         |approx AS (SELECT qid, vec_id FROM fd
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5),
         |zapprox AS (SELECT qid, vec_id FROM zfd
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5),
         |${annExactCtes("corpusl")}
         |SELECT e.qid AS query_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(COUNT(a2.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS recall_2l,
         |  CAST(COUNT(af.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS recall_flat
         |FROM exact e
         |LEFT JOIN approx a2 ON a2.qid = e.qid AND a2.vec_id = e.vec_id
         |LEFT JOIN zapprox af ON af.qid = e.qid AND af.vec_id = e.vec_id
         |GROUP BY e.qid ORDER BY query_id""".stripMargin,

    "q_pq" ->
      // mirrors Pq.train(iters=0)/encode/pqTopK exactly: codebook
      // centroid c of subspace j = positions j*8+1..j*8+8 of the
      // (c+1)-th lowest-id corpus vector; code = argmin squared L2
      // (ties to the LOWER code = struct-min); score = sum over j of
      // LUT[j][code_j] where LUT = per-subspace query·centroid dots.
      // All folds are element-order (SUM ... ORDER BY) — bit-identical
      // to Spark's array-order aggregate / left-assoc reduce.
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
         |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         |          embedding AS se FROM corpus ORDER BY vec_id LIMIT 16),
         |ex AS (SELECT e.vec_id, s.code, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, s.se AS se
         |       FROM corpus e CROSS JOIN seeds s),
         |dist AS (SELECT vec_id, code, (i - 1) // 8 AS j,
         |    SUM((CAST(v AS DOUBLE) - CAST(se[i] AS DOUBLE))
         |      * (CAST(v AS DOUBLE) - CAST(se[i] AS DOUBLE)) ORDER BY i) AS d
         |  FROM ex GROUP BY vec_id, code, j),
         |codes AS (SELECT vec_id, j, code FROM dist
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
         |    ORDER BY d ASC, code ASC) = 1),
         |qx AS (SELECT s.code, unnest(s.se) AS cv,
         |         unnest(generate_series(1, len(s.se))) AS i, q.qe AS qe
         |       FROM seeds s, q),
         |lut AS (SELECT code, (i - 1) // 8 AS j,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(cv AS DOUBLE) ORDER BY i) AS dp
         |  FROM qx GROUP BY code, j),
         |score AS (SELECT c.vec_id, SUM(l.dp ORDER BY c.j) AS pq_score
         |  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
         |  GROUP BY c.vec_id)
         |SELECT e.vec_id, e.label, s.pq_score
         |FROM score s JOIN corpus e ON e.vec_id = s.vec_id
         |ORDER BY s.pq_score DESC, s.vec_id LIMIT 10""".stripMargin,
    "q_ivf_pq" -> ivfPqOracleSql(buildPred = "TRUE"),
    // the PQ append row: centroid AND codebook seeds frozen at the
    // even half; the appended rows’ sidecar-codebook encoding is
    // re-derived — shares the pipeline SQL verbatim
    "q_ivf_pq_append" -> ivfPqOracleSql(buildPred = "vec_id % 2 = 0"),
    "q_ivf_pq_batch" ->
      // q_ivf_pq generalised to a query SET (the 3 vec_id<3 vectors,
      // corpus vec_id >= 3 as q_sim_ivf_batch): per-query probes (ties
      // to the LOWER cell), query-independent codes (argmin squared L2,
      // ties to the LOWER code), per-QUERY ADC lookup table, per-query
      // top-30 ADC cut (ties to the lower vec_id) inside the probed
      // cells, per-query exact-cosine rerank top-5 (ties to the lower
      // vec_id). All folds element-order SUMs.
      s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
         |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 3),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
         |ax AS (SELECT e.vec_id, c.cell, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
         |       FROM corpus e CROSS JOIN cent c),
         |ad AS (SELECT vec_id, cell,
         |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
         |  FROM ax GROUP BY vec_id, cell),
         |assign AS (SELECT vec_id, cell FROM ad
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, cell DESC) = 1),
         |qx AS (SELECT q.qid, c.cell, unnest(c.ce) AS v,
         |         unnest(generate_series(1, len(c.ce))) AS i, q.qe AS qe
         |       FROM cent c CROSS JOIN qs q),
         |qd AS (SELECT qid, cell,
         |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nc,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM qx GROUP BY qid, cell),
         |probes AS (SELECT qid, cell FROM qd
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY dp / (sqrt(nc) * sqrt(nq)) DESC, cell ASC) <= 2),
         |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         |          embedding AS se FROM corpus ORDER BY vec_id LIMIT 16),
         |ex AS (SELECT e.vec_id, s.code, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, s.se AS se
         |       FROM corpus e CROSS JOIN seeds s),
         |dist AS (SELECT vec_id, code, (i - 1) // 8 AS j,
         |    SUM((CAST(v AS DOUBLE) - CAST(se[i] AS DOUBLE))
         |      * (CAST(v AS DOUBLE) - CAST(se[i] AS DOUBLE)) ORDER BY i) AS d
         |  FROM ex GROUP BY vec_id, code, j),
         |codes AS (SELECT vec_id, j, code FROM dist
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
         |    ORDER BY d ASC, code ASC) = 1),
         |qpx AS (SELECT q.qid, s.code, unnest(s.se) AS cv,
         |         unnest(generate_series(1, len(s.se))) AS i, q.qe AS qe
         |       FROM seeds s CROSS JOIN qs q),
         |lut AS (SELECT qid, code, (i - 1) // 8 AS j,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(cv AS DOUBLE) ORDER BY i) AS dp
         |  FROM qpx GROUP BY qid, code, j),
         |score AS (SELECT l.qid, c.vec_id, SUM(l.dp ORDER BY c.j) AS pq_score
         |  FROM codes c
         |  JOIN lut l ON l.j = c.j AND l.code = c.code
         |  JOIN assign a ON a.vec_id = c.vec_id
         |  JOIN probes p ON p.cell = a.cell AND p.qid = l.qid
         |  GROUP BY l.qid, c.vec_id),
         |surv AS (SELECT qid, vec_id FROM score
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY pq_score DESC, vec_id ASC) <= 30),
         |fx AS (SELECT s.qid, e.vec_id, e.label, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM corpus e
         |       JOIN surv s ON s.vec_id = e.vec_id
         |       JOIN qs q ON q.qid = s.qid),
         |fdb AS (SELECT qid, vec_id, label,
         |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM fx GROUP BY qid, vec_id, label)
         |SELECT qid AS query_id, vec_id, label,
         |       dp / (sqrt(nv) * sqrt(nq)) AS cosine
         |FROM fdb
         |QUALIFY row_number() OVER (PARTITION BY qid
         |  ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5
         |ORDER BY query_id, cosine DESC, vec_id""".stripMargin,
    "q_sample" -> {
      // 16-bit bucket from the first four md5 nibbles of the stringified
      // key; thresholds are round(rate * 65536)
      val h = "md5(CAST(doc_id AS VARCHAR))"
      val bucket = s"(${nibSql(h, 1)} * 4096 + ${nibSql(h, 2)} * 256 " +
        s"+ ${nibSql(h, 3)} * 16 + ${nibSql(h, 4)})"
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucket < CASE lang WHEN 'en' THEN 32768 WHEN 'es' THEN 65536
         |                          WHEN 'de' THEN 16384 ELSE 6554 END
         |ORDER BY doc_id""".stripMargin
    },
    "q_sample_weighted" ->
      // 48-bit bucket from the first twelve md5 nibbles; keep iff
      // bucket < (tokens * c) * 2^48 — multiplications only, IEEE-exact
      // on both engines, same association order as the Spark side
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents)
         |SELECT doc_id, lang, n_tokens FROM t
         |WHERE CAST($bucket48Sql AS DOUBLE) <
         |  (CAST(n_tokens AS DOUBLE) * 0.01) * 281474976710656.0
         |ORDER BY doc_id""".stripMargin,
    "q_lm_model" ->
      // the trigram count table re-derived: same codepoint substr
      // slide, same counts, same (cnt DESC, gram) ranked cut
      s"""WITH p AS (SELECT $normSql AS t FROM documents),
         |g AS (SELECT substr(t, CAST(i AS INTEGER), 3) AS gram
         |  FROM p, unnest(generate_series(1, length(t) - 2)) AS u(i)
         |  WHERE length(t) >= 3)
         |SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g
         |GROUP BY gram
         |ORDER BY cnt DESC, gram LIMIT $lmMaxTypes""".stripMargin,
    "q_lm_score" ->
      // parity contract: population and short-doc count re-derived
      // independently; every document's two independently-derived
      // scores must have matched exactly
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_score_match,
         |  CAST(COUNT(*) FILTER (WHERE length($normSql) < 3) AS BIGINT)
         |    AS n_short
         |FROM documents""".stripMargin,
    "q_nb_model" ->
      // every integer the NB probabilities derive from, bigram features
      // active: re-tokenize, re-derive every hashed bigram bucket
      // (md5-48bit nibbles mod nbBigramBuckets), re-cap the JOINT
      // vocabulary (count DESC, token — the shared trainer contract),
      // re-count per (label, feature), per-label doc counts
      s"""WITH ftab AS (SELECT lang,
         |    list_filter($toksSql, x -> length(x) > 0) AS f
         |  FROM documents),
         |tf AS (SELECT lang AS label,
         |    unnest(${nbFeatListSql(Some(nbBigramBuckets))}) AS token
         |  FROM ftab),
         |vocab AS (SELECT token FROM tf GROUP BY token
         |  ORDER BY COUNT(*) DESC, token LIMIT $nbMaxVocab),
         |pc AS (SELECT label, token, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM tf WHERE token IN (SELECT token FROM vocab)
         |  GROUP BY label, token),
         |dc AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT)
         |  AS label_docs FROM documents GROUP BY lang)
         |SELECT pc.label, pc.token, pc.cnt, dc.label_docs
         |FROM pc JOIN dc ON dc.label = pc.label
         |ORDER BY pc.label, pc.token""".stripMargin,
    "q_nb_classify" ->
      // parity contract (the q_lm_score pattern): DuckDB re-derives the
      // doc and doc×label populations; every per-label score and every
      // argmax label from the two independent Spark paths must have
      // matched exactly
      s"""SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
         |    AS n_docs,
         |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
         |    AS n_pred_match,
         |  CAST((SELECT COUNT(*) FROM documents) *
         |    (SELECT COUNT(DISTINCT lang) FROM documents) AS BIGINT)
         |    AS n_pairs,
         |  CAST((SELECT COUNT(*) FROM documents) *
         |    (SELECT COUNT(DISTINCT lang) FROM documents) AS BIGINT)
         |    AS n_score_match""".stripMargin,
    "q_nb_eval" -> nbEvalOracleSql(None),
    "q_nb_eval_bigram" -> nbEvalOracleSql(Some(nbBigramBuckets)),
    "q_dsir_model" ->
      // every integer the DSIR log ratios derive from: re-tokenize,
      // re-derive every hashed unigram/bigram bucket (md5-48bit
      // nibbles mod dsirBuckets), re-count both corpora; target
      // buckets ⊆ raw buckets, so the raw side anchors the join
      s"""WITH $dsirCountCtes
         |SELECT rc.bucket, COALESCE(tc.target_cnt, 0) AS target_cnt,
         |  rc.raw_cnt
         |FROM rc LEFT JOIN tc ON tc.bucket = rc.bucket
         |ORDER BY rc.bucket""".stripMargin,
    "q_dsir_score" ->
      // parity contract (the q_nb_classify pattern): DuckDB re-derives
      // the document population; every log weight from the two
      // independent Spark paths must have matched exactly
      s"""SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
         |    AS n_docs,
         |  CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
         |    AS n_score_match""".stripMargin,
    "q_dsir_select" ->
      // the full DSIR chain re-derived: counts → Laplace-smoothed ln
      // ratios (model over the raw buckets — everything scorable has
      // raw_cnt ≥ 1) → per-doc position-ordered fold → top-k by
      // (score DESC, doc_id); boundary-margin robustness spec-audited
      s"""WITH $dsirCountCtes,
         |${dsirSelectTailSql(dsirSelectK)}""".stripMargin,
    "q_curation_dsir" ->
      // curation ∘ DSIR: the q_quality keep set (the single bit-pinned
      // formula) restricts BOTH the fit corpora and the scored corpus,
      // then the shared DSIR chain cuts the top-k among survivors
      s"""WITH $qualityKeptCtes,
         |kdocs AS (SELECT d.doc_id, d.lang, d.text
         |  FROM documents d JOIN qkept USING (doc_id)),
         |${dsirCountCtesFrom("kdocs")},
         |${dsirSelectTailSql(curationDsirK)}""".stripMargin,
    "q_cluster_mix" -> {
      // the discovered-domain mix: the shared fixed-16 quantizer
      // assignment chain (q_sim_ivf/q_semdedup's CTEs), then the
      // q_mix_plan arithmetic and the q_mix_domains 48-bit keep
      // threshold over 'cell_<n>' domains
      val tgt = clusterMixTargets.toSeq.sortBy(_._1)
        .map { case (d, f) => s"('$d', CAST($f AS DOUBLE))" }
        .mkString(", ")
      val b = s"CAST($clusterMixBudget AS DOUBLE)"
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
         |${semAssignCtes("corpus", "")},
         |t AS (SELECT d.doc_id,
         |    'cell_' || CAST(a.cell AS VARCHAR) AS domain,
         |    CAST(len($toksSql) AS BIGINT) AS n
         |  FROM documents d JOIN assign a ON a.vec_id = d.doc_id),
         |avail AS (SELECT domain, SUM(n) AS m FROM t GROUP BY domain),
         |tgt(domain, frac) AS (VALUES $tgt),
         |plan AS (SELECT COALESCE(a.domain, g.domain) AS domain,
         |    CAST(COALESCE(a.m, 0) AS BIGINT) AS avail_tokens,
         |    COALESCE(g.frac, 0.0) * $b AS target_tokens,
         |    CASE WHEN COALESCE(a.m, 0) = 0 THEN 0.0
         |         ELSE least(1.0, (COALESCE(g.frac, 0.0) * $b)
         |           / CAST(a.m AS DOUBLE)) END AS rate,
         |    greatest(0.0, COALESCE(g.frac, 0.0) * $b
         |      - CAST(COALESCE(a.m, 0) AS DOUBLE)) AS shortfall_tokens
         |  FROM avail a FULL OUTER JOIN tgt g ON a.domain = g.domain),
         |keep AS (SELECT t.domain, t.n FROM t
         |  JOIN plan p ON p.domain = t.domain
         |  WHERE CAST($bucket48Sql AS DOUBLE) <
         |    (p.rate * 1.0) * 281474976710656.0),
         |k AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS kept_docs,
         |    CAST(SUM(n) AS BIGINT) AS kept_tokens
         |  FROM keep GROUP BY domain)
         |SELECT p.domain, p.avail_tokens, p.target_tokens, p.rate,
         |  p.shortfall_tokens,
         |  CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
         |  CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
         |FROM plan p LEFT JOIN k ON k.domain = p.domain
         |ORDER BY p.domain""".stripMargin
    },
    "q_bm25_stats" -> {
      s"""WITH $bm25Ctes
         |SELECT d.term, d.df, s.n_docs, s.sum_dl,
         |  CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS avgdl
         |FROM dfq d CROSS JOIN st s ORDER BY d.term""".stripMargin
    },
    "q_bm25_topk" -> bm25TopkOracleSql,
    // the persisted-index row serves the SAME query from the pruned
    // postings layout and must land the identical top-k — one oracle
    "q_bm25_index" -> bm25TopkOracleSql,
    "q_bm25_append" -> bm25TopkOracleSql,
    // compaction rewrites the same postings rows — every integer
    // unchanged, so the serving oracle is the direct-scan chain too
    "q_bm25_compact" -> bm25TopkOracleSql,
    "q_bm25_batch" -> bm25BatchOracleSql,
    // the persisted-index batch must land the identical multi-query
    // result (same integers, same fold) — one oracle
    "q_bm25_index_batch" -> bm25BatchOracleSql,
    "q_hybrid_rrf" -> hybridOracleSql {
      // vector tier: exact brute-force cosine over the full store
      val ids = hybridQids.mkString(", ")
      s"""qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id IN ($ids)),
         |vx AS (SELECT q.qid, e.vec_id, unnest(e.embedding) AS v,
         |    unnest(generate_series(1, len(e.embedding))) AS i,
         |    q.qe AS qe
         |  FROM embeddings e CROSS JOIN qs q),
         |vd AS (SELECT qid, vec_id,
         |    SUM(CAST(v AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM vx GROUP BY qid, vec_id),
         |vec AS (SELECT qid, vec_id AS doc_id,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC)
         |      AS INTEGER) AS rank
         |  FROM vd QUALIFY rank <= $hybridK)""".stripMargin
    },
    "q_hybrid_index" -> hybridOracleSql {
      // vector tier: the persisted-index IVF probe chain (16 lowest-id
      // centroids over the FULL store, nProbe=2) — the batch-IVF
      // oracle's CTEs with the hybrid query set, then the same
      // (cosine DESC, id) rank cut queryIvfBatch applies
      val ids = hybridQids.mkString(", ")
      s"""${simIvfBatchCtesFor(s"vec_id IN ($ids)", "TRUE")},
         |vec AS (SELECT qid, vec_id AS doc_id,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC)
         |      AS INTEGER) AS rank
         |  FROM fd QUALIFY rank <= $hybridK)""".stripMargin
    },
    "q_split" -> {
      // every assignment replayed: the 48-bit bucket against the SAME
      // integer cut points (splitCuts), consecutive half-open ranges,
      // last split absorbs the tail
      val cuts = graft.pipeline.Sampling.splitCuts(splitSpec)
      val cases = splitSpec.init.zip(cuts)
        .map { case ((n, _), c) => s"WHEN $bucket48Sql < $c THEN '$n'" }
        .mkString(" ")
      s"""SELECT doc_id, lang,
         |  CASE $cases ELSE '${splitSpec.last._1}' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // the mix plan: rate = min(1, frac·budget / avail), saturation and
    // shortfall included; arithmetic mirrors domainMixPlan op for op
    "q_mix_plan" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |avail AS (SELECT lang, SUM(n) AS m FROM t GROUP BY lang),
         |tgt(lang, frac) AS (VALUES
         |  ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.5 AS DOUBLE)),
         |  ('es', CAST(0.1 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)),
         |  ('zh', CAST(0.05 AS DOUBLE)))
         |SELECT COALESCE(a.lang, g.lang) AS lang,
         |  CAST(COALESCE(a.m, 0) AS BIGINT) AS avail_tokens,
         |  COALESCE(g.frac, 0.0) * CAST(30000 AS DOUBLE)
         |    AS target_tokens,
         |  CASE WHEN COALESCE(a.m, 0) = 0 THEN 0.0
         |       ELSE least(1.0,
         |         (COALESCE(g.frac, 0.0) * CAST(30000 AS DOUBLE))
         |           / CAST(a.m AS DOUBLE)) END AS rate,
         |  greatest(0.0, COALESCE(g.frac, 0.0) * CAST(30000 AS DOUBLE)
         |    - CAST(COALESCE(a.m, 0) AS DOUBLE)) AS shortfall_tokens
         |FROM avail a FULL OUTER JOIN tgt g ON a.lang = g.lang
         |ORDER BY lang""".stripMargin,
    // the realised keep set: per-doc 48-bit bucket vs the domain rate,
    // same association order as weightedHashSample with c = 1
    "q_mix_domains" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |avail AS (SELECT lang, SUM(n_tokens) AS m FROM t GROUP BY lang),
         |tgt(lang, frac) AS (VALUES
         |  ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.5 AS DOUBLE)),
         |  ('es', CAST(0.1 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)),
         |  ('zh', CAST(0.05 AS DOUBLE))),
         |plan AS (SELECT a.lang,
         |  CASE WHEN a.m = 0 THEN 0.0
         |       ELSE least(1.0,
         |         (COALESCE(g.frac, 0.0) * CAST(30000 AS DOUBLE))
         |           / CAST(a.m AS DOUBLE)) END AS rate
         |  FROM avail a LEFT JOIN tgt g ON a.lang = g.lang)
         |SELECT t.doc_id, t.lang, t.n_tokens
         |FROM t JOIN plan p ON p.lang = t.lang
         |WHERE CAST($bucket48Sql AS DOUBLE) <
         |  (p.rate * 1.0) * 281474976710656.0
         |ORDER BY t.doc_id""".stripMargin,
    // power-of-two caps by exact integer bit-length arithmetic (the
    // bin()-string trick both engines share), then pure integer
    // aggregates + ONE divide
    "q_length_buckets" ->
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
         |FROM b GROUP BY cap ORDER BY cap""".stripMargin,
    // the α-derived plan: dyadic sqrt-chain power, domain-ordered Σ
    // fold, then the same divide/multiply/min chain as q_mix_plan —
    // every double engine-exact, no transcendental anywhere
    "q_mix_temperature" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |avail AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS m
         |  FROM t GROUP BY lang),
         |pw AS (SELECT lang, m,
         |  ${dyadicPowSql("CAST(m AS DOUBLE)", mixAlpha)} AS pw
         |  FROM avail),
         |tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(pw ORDER BY lang)), (a, x) -> a + x) AS total FROM pw)
         |SELECT w.lang, w.m AS avail_tokens,
         |  w.pw / t2.total AS p,
         |  (w.pw / t2.total) * CAST($mixBudget AS DOUBLE)
         |    AS target_tokens,
         |  CASE WHEN w.m = 0 THEN 0.0
         |       ELSE least(1.0,
         |         ((w.pw / t2.total) * CAST($mixBudget AS DOUBLE))
         |           / CAST(w.m AS DOUBLE)) END AS rate,
         |  greatest(0.0, (w.pw / t2.total) * CAST($mixBudget AS DOUBLE)
         |    - CAST(w.m AS DOUBLE)) AS shortfall_tokens
         |FROM pw w CROSS JOIN tot t2 ORDER BY w.lang""".stripMargin,
    // the UNCLAMPED rate realised as copies: floor(rate) full copies
    // per doc + one (key,copy)-salted fractional threshold decision
    "q_mix_upsample" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |avail AS (SELECT lang, SUM(n_tokens) AS m FROM t GROUP BY lang),
         |tgt(lang, frac) AS (VALUES
         |  ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.5 AS DOUBLE)),
         |  ('es', CAST(0.1 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)),
         |  ('zh', CAST(0.05 AS DOUBLE))),
         |plan AS (SELECT a.lang,
         |  CASE WHEN a.m = 0 THEN 0.0
         |       ELSE (COALESCE(g.frac, 0.0) * CAST($mixBudget AS DOUBLE))
         |         / CAST(a.m AS DOUBLE) END AS rate
         |  FROM avail a LEFT JOIN tgt g ON a.lang = g.lang),
         |tp AS (SELECT t.doc_id, t.lang, t.n_tokens, p.rate
         |  FROM t JOIN plan p ON p.lang = t.lang),
         |ex AS (SELECT doc_id, lang, n_tokens,
         |    CAST(floor(rate) AS BIGINT) AS fullc,
         |    rate - floor(rate) AS frac,
         |    unnest(generate_series(0,
         |      CAST(floor(rate) AS BIGINT))) AS cp
         |  FROM tp),
         |exh AS (SELECT doc_id, lang, n_tokens, fullc, frac, cp,
         |  md5(CAST(doc_id AS VARCHAR) || '#' || CAST(cp AS VARCHAR))
         |    AS h
         |  FROM ex)
         |SELECT doc_id, lang, n_tokens, CAST(cp AS BIGINT) AS "copy"
         |FROM exh
         |WHERE cp < fullc OR
         |  CAST(${bucket48OfSql("h")} AS DOUBLE)
         |    < frac * 281474976710656.0
         |ORDER BY doc_id, cp""".stripMargin,
    // curation → drift monitor: survivors (side A) vs the raw corpus
    // (side B), the shared curation CTEs feeding the shared divergence
    // arithmetic — same exact columns as q_vocab_drift, js_term
    // excluded for the same documented ln-ULP reason
    "q_curation_drift" ->
      s"""$curationCtes,
         |kept AS (SELECT doc_id, lang, text FROM scrub
         |         WHERE $curationKeepPred),
         |ta AS (SELECT token FROM (SELECT unnest($toksSql)
         |    AS token FROM kept)
         |  WHERE token <> ''),
         |tb AS (SELECT token FROM (SELECT unnest($toksSql)
         |    AS token FROM documents)
         |  WHERE token <> ''),
         |ca AS (SELECT token, COUNT(*) AS c_a FROM ta GROUP BY 1),
         |cb AS (SELECT token, COUNT(*) AS c_b FROM tb GROUP BY 1),
         |j AS (SELECT token, COALESCE(c_a, 0) AS c_a,
         |    COALESCE(c_b, 0) AS c_b
         |  FROM ca FULL OUTER JOIN cb USING (token)),
         |tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
         |    CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v FROM j),
         |p AS (SELECT token, c_a, c_b,
         |    CAST(c_a + 1 AS DOUBLE)
         |      / CAST((SELECT na FROM tot) + (SELECT v FROM tot)
         |        AS DOUBLE) AS p_a,
         |    CAST(c_b + 1 AS DOUBLE)
         |      / CAST((SELECT nb FROM tot) + (SELECT v FROM tot)
         |        AS DOUBLE) AS p_b
         |  FROM j)
         |SELECT token, c_a, c_b, p_a, p_b,
         |  0.5 * abs(p_a - p_b) AS tv_term
         |FROM p ORDER BY token""".stripMargin,
    // curation → α-derived rates over the SURVIVORS' mass → per-doc
    // 48-bit threshold, one chain
    "q_curation_temp" ->
      s"""$curationCtes,
         |kept AS (SELECT doc_id, lang, text FROM scrub
         |         WHERE $curationKeepPred),
         |t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM kept),
         |avail AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS m
         |  FROM t GROUP BY lang),
         |pw AS (SELECT lang, m,
         |  ${dyadicPowSql("CAST(m AS DOUBLE)", mixAlpha)} AS pw
         |  FROM avail),
         |tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(pw ORDER BY lang)), (a, x) -> a + x) AS total FROM pw),
         |plan AS (SELECT w.lang,
         |  CASE WHEN w.m = 0 THEN 0.0
         |       ELSE least(1.0,
         |         ((w.pw / t2.total) * CAST($curTempBudget AS DOUBLE))
         |           / CAST(w.m AS DOUBLE)) END AS rate
         |  FROM pw w CROSS JOIN tot t2)
         |SELECT t.doc_id, t.lang, t.n_tokens
         |FROM t JOIN plan p ON p.lang = t.lang
         |WHERE CAST($bucket48Sql AS DOUBLE) <
         |  (p.rate * 1.0) * 281474976710656.0
         |ORDER BY t.doc_id""".stripMargin,
    // the realised keep set: the α-derived rate joined per doc, then
    // the 48-bit bucket threshold — q_mix_domains' decision chain
    "q_mix_temp_sample" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |avail AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS m
         |  FROM t GROUP BY lang),
         |pw AS (SELECT lang, m,
         |  ${dyadicPowSql("CAST(m AS DOUBLE)", mixAlpha)} AS pw
         |  FROM avail),
         |tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(pw ORDER BY lang)), (a, x) -> a + x) AS total FROM pw),
         |plan AS (SELECT w.lang,
         |  CASE WHEN w.m = 0 THEN 0.0
         |       ELSE least(1.0,
         |         ((w.pw / t2.total) * CAST($mixBudget AS DOUBLE))
         |           / CAST(w.m AS DOUBLE)) END AS rate
         |  FROM pw w CROSS JOIN tot t2)
         |SELECT t.doc_id, t.lang, t.n_tokens
         |FROM t JOIN plan p ON p.lang = t.lang
         |WHERE CAST($bucket48Sql AS DOUBLE) <
         |  (p.rate * 1.0) * 281474976710656.0
         |ORDER BY t.doc_id""".stripMargin,
    "q_curation_weighted" ->
      // curate → weight-sample by token budget → pack, one chain: the
      // weighted keep decision applies q_sample_weighted's exact
      // threshold to the CURATED survivors' token counts, then the
      // q_curation_pack window packs the sampled set
      s"""$curationCtes,
         |kept AS (SELECT doc_id, lang, text FROM scrub
         |         WHERE $curationKeepPred),
         |ktok AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS tokens FROM kept),
         |samp AS (SELECT * FROM ktok
         |  WHERE CAST($bucket48Sql AS DOUBLE) <
         |    (CAST(tokens AS DOUBLE) * 0.02) * 281474976710656.0),
         |kofs AS (SELECT doc_id, lang, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
         |  FROM samp)
         |SELECT doc_id, lang, tokens, "offset",
         |  CAST(floor("offset" / 128) AS BIGINT) AS bin
         |FROM kofs ORDER BY lang, doc_id""".stripMargin,
    // full training re-derivation, one CTE block per learned rule —
    // see bpeTrainOracleSql
    "q_bpe_train" -> bpeTrainOracleSql(bpeTrainMerges),
    // train→encode composition: per-doc counts from the training
    // chain's final segmentation — see bpeTrainEncodeOracleSql
    "q_bpe_train_encode" -> bpeTrainEncodeOracleSql(bpeTrainMerges),
    "q_bpe_train_tokens" -> bpeTrainTokensOracleSql(bpeTrainMerges),
    "q_wordpiece_train" -> wordpieceTrainOracleSql(wpTrainJoins),
    "q_wordpiece_train_encode" ->
      wordpieceTrainEncodeOracleSql(wpTrainJoins),
    "q_wordpiece_encode_tokens" ->
      wordpieceEncodeTokensOracleSql(wpTrainJoins),
    "q_wordpiece_ids" -> wordpieceIdsOracleSql(wpTrainJoins),
    "q_wordpiece_decode" -> {
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
    },
    "q_bpe_decode" -> {
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
    },
    "q_unigram_ids" ->
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
         |FROM documents""".stripMargin,
    "q_tokenizer_types" -> {
      val pat = graft.functions.Bpe.preTokenizeRegex.replace("'", "''")
      s"""WITH p AS (SELECT
         |    unnest(regexp_extract_all($normSql, '$pat')) AS piece
         |  FROM documents),
         |t AS (SELECT piece, CAST(COUNT(*) AS BIGINT) AS cnt FROM p
         |  WHERE piece <> '' GROUP BY piece)
         |SELECT piece, cnt FROM t
         |ORDER BY cnt DESC, piece LIMIT 40""".stripMargin
    },
    "q_unigram_encode_parity" -> unigramParityOracleSql,
    "q_jdbc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_bpe" -> {
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
    },
    "q_unicode_nfc" -> {
      // chr(769) = U+0301 combining acute (decomposed), chr(233) = é
      // (composed); DuckDB's own nfc_normalize is the oracle
      val dec = "text || ' caf' || 'e' || chr(769) || ' caf' || chr(233)"
      s"""SELECT doc_id,
         |  CAST(length($dec) AS BIGINT) AS len_raw,
         |  nfc_normalize($dec) AS nfc,
         |  CAST(length(nfc_normalize($dec)) AS BIGINT) AS len_nfc
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_bpe_ids" ->
      // full value oracle on the token-ID SEQUENCE: re-run the merge
      // chain, split on the separator, renumber with the identical
      // alphabet-then-rank VALUES table, compare every (pos, token, id)
      s"""WITH $bpeSeqCtes
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, token, token_id
         |FROM seq ORDER BY doc_id, pos""".stripMargin,
    "q_tok_fertility" ->
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
         |FROM a ORDER BY lang""".stripMargin,
    // striding windows re-cut from the same id sequence: window count
    // n = 1 + ceil((len-64)/48) (one window when len <= 64), window j
    // = positions (j*48, j*48 + 64]
    "q_token_windows" ->
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
         |ORDER BY w.doc_id, w.win_no, pos""".stripMargin,
    "q_pack_bins" ->
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
         |ORDER BY lang, bin""".stripMargin,
    "q_epoch_shuffle" ->
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
         |ORDER BY epoch, epoch_key, lang, bin""".stripMargin,
    "q_pack_decode" ->
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
         |ORDER BY lang, bin""".stripMargin,
    "q_pack_bpe" ->
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
         |FROM ofs ORDER BY lang, doc_id""".stripMargin,
    "q_curation" ->
      s"""$curationCtes
         |SELECT doc_id, lang, quality, text
         |FROM scrub
         |WHERE $curationKeepPred
         |ORDER BY doc_id""".stripMargin,
    "q_curation_pack" ->
      // the curated survivors packed into 128-token bins per language
      // shard: the full training-data flow under one oracle (tokens
      // counted on the REDACTED text, as the Spark pipeline does)
      s"""$curationCtes,
         |kept AS (SELECT doc_id, lang, text FROM scrub
         |         WHERE $curationKeepPred),
         |ktok AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS tokens FROM kept),
         |kofs AS (SELECT doc_id, lang, tokens,
         |  CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
         |  FROM ktok)
         |SELECT doc_id, lang, tokens, "offset",
         |  CAST(floor("offset" / 128) AS BIGINT) AS bin
         |FROM kofs ORDER BY lang, doc_id""".stripMargin,
    "q_quantize" ->
      // round() is half-away-from-zero in both engines, and the TINYINT
      // cast sees an exactly-integral double, so truncation-vs-rounding
      // cast semantics never bite
      s"""WITH q AS (SELECT vec_id, embedding,
         |  CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
         |       THEN 1.0
         |       ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
         |  END AS scale
         |FROM embeddings)
         |SELECT vec_id, scale,
         |  list_max(list_transform(embedding, x ->
         |    abs(CAST(x AS DOUBLE)
         |        - CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT) * scale))) AS max_abs_err,
         |  len(list_filter(embedding, x ->
         |    abs(CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT)) = 127)) AS n_sat
         |FROM q ORDER BY vec_id""".stripMargin,
    "q_semdedup_pairs" ->
      s"""WITH $semDedupCtes
         |SELECT cell, id_a, id_b, cosine FROM pairs
         |ORDER BY cell, id_a, id_b""".stripMargin,
    "q_semdedup_incr" ->
      // the odd half probes the even-half index: centroids come from the
      // EVEN corpus only (frozen at build, as assignCells), the batch
      // side runs the same assignment chain under them, and pairs cross
      // the two sides within a cell — the sides are disjoint, so no
      // ordering predicate is needed
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |batch AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
         |${semAssignCtes("corpus", "")},
         |${semAssignCtes("batch", "b")},
         |${semPairCtes("assign", "corpus", "bassign", "batch", "TRUE")}
         |SELECT cell, id_a, id_b, cosine FROM pairs
         |ORDER BY cell, id_a, id_b""".stripMargin,
    "q_semdedup" ->
      // components over the pair graph (recursive min-reachable closure,
      // as q_dedup_clusters), then the paper's survivor rule — shared
      // with q_curation_sem via semSurvivorCtes
      s"""WITH RECURSIVE $semDedupCtes,
         |$semSurvivorCtes
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin,
    "q_semdedup_auto" ->
      // the q_semdedup chain under the PRODUCTION sizing rule: the seed
      // cut's LIMIT is ⌈count/24⌉ re-derived from the corpus itself —
      // the same integer the Spark side computes in semDeDupAutoCells
      s"""WITH RECURSIVE ${semDedupCtesWith(
           "(SELECT CAST(CEIL(COUNT(*) / 24.0) AS BIGINT) FROM embeddings)")},
         |$semSurvivorCtes
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin,
    "q_semdedup_best" ->
      // the keep-best survivor policy: same pair graph + components as
      // q_semdedup, survivor = the cluster's MAX quality (the single
      // qualityScoreSql rendering, bit-pinned by q_quality), ties to
      // the lower id
      s"""WITH RECURSIVE $semDedupCtes,
         |$semComponentCtes,
         |qf AS (SELECT $qualityFeatSelect FROM documents),
         |qsc AS (SELECT doc_id, $qualityScoreSql AS q FROM qf),
         |members AS MATERIALIZED (SELECT comp.id, comp.cluster_id, s.q
         |            FROM comp JOIN qsc s ON s.doc_id = comp.id),
         |top AS (SELECT cluster_id, MAX(q) AS m FROM members
         |        GROUP BY cluster_id),
         |keep AS (SELECT t.cluster_id, MIN(mm.id) AS id
         |         FROM members mm JOIN top t ON t.cluster_id = mm.cluster_id
         |         WHERE mm.q = t.m GROUP BY t.cluster_id),
         |dropped AS (SELECT id FROM members
         |            WHERE id NOT IN (SELECT id FROM keep))
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin,
    "q_semdedup_2l" ->
      // the two-level quantizer chain under the production sizing —
      // see semDedup2lCtes; pair + survivor CTEs shared with q_semdedup
      s"""WITH RECURSIVE ${semDedup2lCtes(24)},
         |${semPairCtes("assign", "corpus", "assign", "corpus",
            "b.vec_id > a.vec_id")},
         |$semSurvivorCtes
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin,
    "q_semdedup_2l_incr" ->
      // the odd half probes the PERSISTED even-half two-level index:
      // the corpus side runs its own two-level chain (semDedup2lCtes
      // over the even half), the batch side re-derives the
      // group-restricted assignment under the corpus's FROZEN level-1
      // and level-2 seeds — own-group cells ranked first (the
      // twoLevelCellOf rule: in-group argmax, ties to the higher
      // global cell, with the defensive global-argmax fallback
      // expressed by the inGroup-first ordering) — and pairs cross the
      // two sides within a cell
      s"""WITH ${semDedup2lCtes(24, "vec_id % 2 = 0")},
         |batch AS (SELECT vec_id, embedding FROM embeddings
         |          WHERE vec_id % 2 = 1),
         |bl1x AS (SELECT e.vec_id, c.g, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
         |       FROM batch e CROSS JOIN l1cent c),
         |bl1d AS MATERIALIZED (SELECT vec_id, g,
         |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
         |  FROM bl1x GROUP BY vec_id, g),
         |bl1assign AS MATERIALIZED (SELECT vec_id, g FROM bl1d
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, g DESC) = 1),
         |bax AS (SELECT e.vec_id, c.cell, c.g, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
         |       FROM batch e CROSS JOIN cent c),
         |bad AS MATERIALIZED (SELECT vec_id, cell, g,
         |    SUM(CAST(v AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) ORDER BY i) AS nv,
         |    SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) ORDER BY i) AS nc
         |  FROM bax GROUP BY vec_id, cell, g),
         |bassign AS (SELECT b.vec_id, b.cell
         |  FROM bad b JOIN bl1assign a ON a.vec_id = b.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY b.vec_id
         |    ORDER BY CASE WHEN b.g = a.g THEN 1 ELSE 0 END DESC,
         |      b.dp / (sqrt(b.nv) * sqrt(b.nc)) DESC, b.cell DESC) = 1),
         |${semPairCtes("assign", "corpus", "bassign", "batch", "TRUE")}
         |SELECT cell, id_a, id_b, cosine FROM pairs
         |ORDER BY cell, id_a, id_b""".stripMargin,
    "q_curation_sem" ->
      // the composed curation-with-semantic-dedup chain: the quality
      // gate's survivors (same formula as q_quality) restrict BOTH the
      // dedup corpus and the centroid seeds (lowest 16 SURVIVING ids,
      // exactly as buildIvfIndex seeds from the filtered frame), then
      // the full SemDeDup survivor derivation runs over that subset
      s"""WITH RECURSIVE $qualityKeptCtes,
         |corpus AS (SELECT e.vec_id, e.embedding FROM embeddings e
         |           JOIN qkept k ON k.doc_id = e.vec_id),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
         |${semAssignCtes("corpus", "")},
         |${semPairCtes("assign", "corpus", "assign", "corpus",
          "b.vec_id > a.vec_id")},
         |$semSurvivorCtes
         |SELECT d.doc_id, d.lang FROM documents d
         |JOIN qkept k ON k.doc_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY d.doc_id""".stripMargin,
    "q_embed_dedup" -> {
      val bandSel = (0 until 8)
        .map(b => s"SELECT vec_id, $b AS band, ${bandSql("embedding", b, 8)} AS sig FROM embeddings")
        .mkString(" UNION ALL ")
      s"""WITH bands AS ($bandSel),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
         |px AS (SELECT c.id_a, c.id_b,
         |         unnest(ea.embedding) AS va, unnest(eb.embedding) AS vb,
         |         unnest(generate_series(1, len(ea.embedding))) AS i
         |       FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a
         |       JOIN embeddings eb ON eb.vec_id = c.id_b),
         |dots AS (SELECT id_a, id_b,
         |    SUM(CAST(va AS DOUBLE) * CAST(vb AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(CAST(va AS DOUBLE) * CAST(va AS DOUBLE) ORDER BY i) AS na,
         |    SUM(CAST(vb AS DOUBLE) * CAST(vb AS DOUBLE) ORDER BY i) AS nb
         |  FROM px GROUP BY id_a, id_b)
         |SELECT id_a, id_b, dp / (sqrt(na) * sqrt(nb)) AS cosine FROM dots
         |WHERE dp / (sqrt(na) * sqrt(nb)) >= 0.45 ORDER BY id_a, id_b""".stripMargin
    },
    "q_multimodal_meta" -> {
      val h = "md5(text)"
      s"""SELECT doc_id,
         |octet_length(CAST(text AS BLOB)) AS n_bytes,
         |${nibSql(h, 1)} * 16 + ${nibSql(h, 2)} + 64 AS width,
         |${nibSql(h, 3)} * 16 + ${nibSql(h, 4)} + 64 AS height,
         |${nibSql(h, 5)} + 1 AS n_frames,
         |md5(text) AS payload_md5
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_image_phash" ->
      // composed-parity contract: DuckDB re-derives the populations;
      // on the Spark side every synthesized BMP must have really
      // decoded (ImageIO metadata), every aHash must equal the
      // independent integer fold over its emitted luminance grid, the
      // banded Hamming join must find every base<->twin pair at k=8,
      // and no cross-document pair may appear
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_images,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_decoded,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_hash_parity,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_pairs
         |FROM documents""".stripMargin,
    "q_audio_fingerprint" ->
      // composed-parity contract, audio modality: DuckDB re-derives the
      // populations; on the Spark side every synthesized WAV must have
      // really decoded (javax.sound metadata), every fingerprint must
      // equal the independent integer fold over its emitted energy
      // windows, the banded Hamming join must find every base<->twin
      // pair at k=4, and no cross-document pair may appear
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_audio,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_decoded,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_fp_parity,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_pairs
         |FROM documents""".stripMargin,
    "q_orc_roundtrip" ->
      // the masking replayed from the PARQUET originals — the ORC
      // store roundtrip must be value-invisible
      s"""SELECT c_custkey,
         |concat('cust_', CAST(row_number() OVER (ORDER BY c_custkey) - 1
         |  AS VARCHAR)) AS c_name,
         |c_nationkey, c_acctbal,
         |CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END
         |  AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_url_dedup" ->
      // DuckDB re-synthesizes both raw URL variants per document,
      // replays the ENTIRE canonicalization (lowercase scheme/host,
      // default-port strip, fragment drop, tracking-param removal
      // with separator repair, slash collapse, trailing-slash strip,
      // empty-query drop) and the grouping — the row hash pins every
      // canonical form byte-for-byte
      s"""WITH ids AS (SELECT doc_id,
         |    substr(md5('url:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h8,
         |    substr(md5('url:' || CAST(doc_id AS VARCHAR)), 9, 6) AS pid
         |  FROM documents),
         |raw AS (SELECT doc_id, unnest([
         |    'HTTPS://WWW.' || h8 || '.Example.COM:443//docs//' || pid ||
         |      '/?id=' || pid || '&utm_source=feed&fbclid=abc123#frag',
         |    'https://www.' || h8 || '.example.com/docs/' || pid ||
         |      '?id=' || pid]) AS raw_url
         |  FROM ids),
         |c0 AS (SELECT doc_id, raw_url,
         |    lower(regexp_extract(raw_url,
         |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |    regexp_replace(raw_url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
         |  FROM raw),
         |c1 AS (SELECT *,
         |    lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
         |    regexp_replace(rest, '^[^/?#]*', '') AS pathqf
         |  FROM c0),
         |c2 AS (SELECT *,
         |    CASE WHEN scheme = 'http'
         |        THEN regexp_replace(hostport, ':80$$', '')
         |      WHEN scheme = 'https'
         |        THEN regexp_replace(hostport, ':443$$', '')
         |      ELSE hostport END AS host,
         |    regexp_extract(pathqf, '^([^?#]*)', 1) AS rawpath,
         |    regexp_extract(pathqf, '\\?([^#]*)', 1) AS rawquery
         |  FROM c1),
         |c3 AS (SELECT *,
         |    regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'),
         |      '/+$$', '') AS path,
         |    regexp_replace(rawquery,
         |      '(^|&)(utm_[^=&]*|fbclid|gclid)=[^&]*', '\\1', 'g') AS q1
         |  FROM c2),
         |c4 AS (SELECT *,
         |    regexp_replace(regexp_replace(q1, '&{2,}', '&', 'g'),
         |      '^&+|&+$$', '', 'g') AS q2
         |  FROM c3),
         |canon AS (SELECT doc_id, raw_url,
         |    CASE WHEN scheme = '' THEN raw_url
         |      ELSE scheme || '://' || host || path ||
         |        CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END
         |    END AS canonical_url
         |  FROM c4)
         |SELECT canonical_url, COUNT(*) AS n_variants,
         |  COUNT(DISTINCT raw_url) AS n_raw_distinct,
         |  MIN(doc_id) AS min_doc
         |FROM canon GROUP BY canonical_url
         |ORDER BY canonical_url""".stripMargin,
    "q_audio_fingerprint_incr" ->
      // the serving form's contract: every probe twin matches exactly
      // its landed base, nothing else
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_indexed,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_matches,
         |  CAST(0 AS BIGINT) AS n_cross_matches
         |FROM documents""".stripMargin,
    "q_image_phash_incr" ->
      // the image serving form: identical contract on the aHash index
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_indexed,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_matches,
         |  CAST(0 AS BIGINT) AS n_cross_matches
         |FROM documents""".stripMargin,
    "q_video_fingerprint" ->
      // composed-parity contract, video modality: every synthesized
      // MP4 container must really parse (mvhd/tkhd box walk), every
      // bitrate-envelope fingerprint must equal the independent
      // integer fold over its emitted stsz size windows, the banded
      // Hamming join must find every base<->twin pair at k=4, and no
      // cross-document pair may appear
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_videos,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_parsed,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_fp_parity,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_pairs
         |FROM documents""".stripMargin,
    "q_video_fingerprint_incr" ->
      // the video serving form: identical contract on the vfp index
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_indexed,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_matches,
         |  CAST(0 AS BIGINT) AS n_cross_matches
         |FROM documents""".stripMargin,
    "q_media_dedup_mixed" ->
      // the mixed-lake contract: every interleaved payload dispatched
      // to its expected modality, every hash re-derived by the ONE
      // uniform fold, every twin paired, zero cross-document and zero
      // cross-modality pairs
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_media,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_modality_ok,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_fp_parity,
         |  CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_pairs,
         |  CAST(0 AS BIGINT) AS n_cross_modality
         |FROM documents""".stripMargin,
    "q_media_dedup_best" ->
      // the media keep-best contract: every base<->twin clique found
      // (n_components == n_docs, 2n clips clustered), one survivor per
      // clique, and EVERY survivor is the one-byte-bigger twin — the
      // bitrate rule provably selected on quality, not id order
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(2 * COUNT(*) AS BIGINT) AS n_clustered,
         |  CAST(COUNT(*) AS BIGINT) AS n_components,
         |  CAST(COUNT(*) AS BIGINT) AS n_survivors,
         |  CAST(COUNT(*) AS BIGINT) AS n_survivors_twin
         |FROM documents""".stripMargin,
    "q_k_anon" ->
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
         |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q_privacy_card" ->
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
         |FROM g""".stripMargin,
    "q_fuzzy_join" ->
      s"""SELECT a.c_name AS name_a, b.c_name AS name_b,
         |CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         |FROM customer a JOIN customer b ON a.c_name < b.c_name
         |WHERE levenshtein(a.c_name, b.c_name) <= 1
         |ORDER BY name_a, name_b""".stripMargin,
    "q_dp_counts" -> {
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
    },
    "q_l_suppress" ->
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
         |ORDER BY c_custkey""".stripMargin,
    "q_k_suppress" ->
      s"""SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal
         |FROM (SELECT c_custkey, c_nationkey,
         |  CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END
         |    AS c_mktsegment,
         |  c_acctbal,
         |  COUNT(*) OVER (PARTITION BY c_nationkey,
         |    CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment
         |    END) AS gs
         |  FROM customer) m
         |WHERE gs >= 10 ORDER BY c_custkey""".stripMargin,
    "q_k_generalize" ->
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
         |  AS BIGINT) FROM gen) AS rows_at_risk_generalized""".stripMargin,
    "q_t_closeness" ->
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
         |FROM emd ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q_fuzzy_join2" ->
      s"""SELECT a.c_name AS name_a, b.c_name AS name_b,
         |CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         |FROM customer a JOIN customer b ON a.c_name < b.c_name
         |WHERE levenshtein(a.c_name, b.c_name) <= 2
         |ORDER BY name_a, name_b""".stripMargin,
    "q_fuzzy_two" ->
      s"""SELECT DISTINCT a.c_name AS left_value, b.c_name AS right_value,
         |CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         |FROM customer a JOIN customer b
         |  ON levenshtein(a.c_name, b.c_name) <= 1
         |WHERE a.c_custkey % 2 = 1 AND b.c_custkey % 2 = 0
         |ORDER BY left_value, right_value""".stripMargin,
    "q_fuzzy_serve" ->
      s"""SELECT q.c_custkey AS q_id, q.c_name AS query_value,
         |r.c_name AS ref_value,
         |CAST(levenshtein(q.c_name, r.c_name) AS INTEGER) AS dist
         |FROM customer q JOIN customer r
         |  ON levenshtein(q.c_name, r.c_name) <= 1
         |WHERE q.c_custkey % 100 = 0
         |ORDER BY q_id, ref_value""".stripMargin,
    "q_rr_release" -> {
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
    },
    "q_rr_estimate" -> {
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
    },
    "q_privacy_utility" ->
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
         |FROM r, g""".stripMargin,
    "q_vocab_drift" ->
      // exact integer counts; p = (c+1)/(n+V) with the long add before
      // one cast and one division; tv_term one subtraction — all
      // bit-replayable. js_term (ln-based) is deliberately NOT in the
      // gate row: DuckDB's ln drifts from Math.log by 1 ulp on some
      // inputs (measured), so its semantics are spec-pinned instead.
      s"""WITH ta AS (SELECT token FROM (SELECT unnest($toksSql)
         |    AS token FROM documents WHERE lang = 'en')
         |  WHERE token <> ''),
         |tb AS (SELECT token FROM (SELECT unnest($toksSql)
         |    AS token FROM documents WHERE lang = 'fr')
         |  WHERE token <> ''),
         |ca AS (SELECT token, COUNT(*) AS c_a FROM ta GROUP BY 1),
         |cb AS (SELECT token, COUNT(*) AS c_b FROM tb GROUP BY 1),
         |j AS (SELECT token, COALESCE(c_a, 0) AS c_a,
         |    COALESCE(c_b, 0) AS c_b
         |  FROM ca FULL OUTER JOIN cb USING (token)),
         |tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
         |    CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v FROM j),
         |p AS (SELECT token, c_a, c_b,
         |    CAST(c_a + 1 AS DOUBLE)
         |      / CAST((SELECT na FROM tot) + (SELECT v FROM tot)
         |        AS DOUBLE) AS p_a,
         |    CAST(c_b + 1 AS DOUBLE)
         |      / CAST((SELECT nb FROM tot) + (SELECT v FROM tot)
         |        AS DOUBLE) AS p_b
         |  FROM j)
         |SELECT token, c_a, c_b, p_a, p_b,
         |  0.5 * abs(p_a - p_b) AS tv_term
         |FROM p ORDER BY token""".stripMargin,
    "q_mondrian" ->
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
         |GROUP BY pid ORDER BY pid""".stripMargin,
    "q_mondrian_gk" ->
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
         |  AND c_acctbal IS NOT NULL""".stripMargin,
    "q_pca2_parity" ->
      // replays fitPca's d=2 arithmetic verbatim: exact integer Gram
      // stats; covariance numerator/denominator exact in DECIMAL(38,0)
      // then ONE correctly-rounded cast each (DuckDB's decimal→double
      // is round-half-even like BigDecimal.toDouble — verified on
      // 2^53-straddling values); the single Jacobi rotation's
      // θ → t → c → s chain and two-sided update in the exact op order
      // of Embed.jacobiEigen; eigenvalue-descending order with index
      // tie-break; largest-|coordinate|-positive sign fix; projection
      // as 0.0 + (x0−μ0)·w0 + (x1−μ1)·w1 (the UDF's fold order).
      // All doubles, every op IEEE-identical — the hash matches
      // bit-for-bit.
      s"""WITH $pca2ModelCtes
         |SELECT vec_id, k, v FROM (
         |  SELECT p.vec_id, 0 AS k,
         |    0.0 + (p.x0 - m.mu0) * m.w00 + (p.x1 - m.mu1) * m.w01 AS v
         |  FROM pts p, mdl m
         |  UNION ALL
         |  SELECT p.vec_id, 1 AS k,
         |    0.0 + (p.x0 - m.mu0) * m.w10 + (p.x1 - m.mu1) * m.w11 AS v
         |  FROM pts p, mdl m)
         |ORDER BY vec_id, k""".stripMargin,
    "q_pca_semdedup" ->
      // the d=2 model CTEs (shared with q_pca2_parity) -> whitening in
      // Embed.project's exact op order ((0.0 + Σ(x−μ)w) · (1.0/√max(λ,
      // MIN_NORMAL))) -> REAL narrowing -> the UNCHANGED SemDeDup
      // assignment/pair/survivor chain over the whitened corpus
      s"""WITH RECURSIVE $pca2ModelCtes,
         |wcorp AS (SELECT p.vec_id,
         |    [CAST((0.0 + (p.x0 - m.mu0) * m.w00
         |        + (p.x1 - m.mu1) * m.w01)
         |      * (1.0 / SQRT(GREATEST(m.lam0, 2.2250738585072014e-308)))
         |      AS REAL),
         |     CAST((0.0 + (p.x0 - m.mu0) * m.w10
         |        + (p.x1 - m.mu1) * m.w11)
         |      * (1.0 / SQRT(GREATEST(m.lam1, 2.2250738585072014e-308)))
         |      AS REAL)] AS embedding
         |  FROM pts p, mdl m),
         |${semDedupCtesWith("16", "SELECT vec_id, embedding FROM wcorp",
            "0.9999")},
         |$semSurvivorCtes
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin,
    "q_pca_trace_parity" ->
      // the exact integer trace numerator Σᵢ (n·m_ii − s_i²) of the
      // quantized covariance, re-derived from the raw embeddings the
      // same way q_embed_cov derives the full stats; the three
      // per-component booleans are Spark-side second-derivation
      // verdicts (Σλ == trace, Rayleigh == λ, projected variance == λ)
      // pinned TRUE — any eigensolve/basis/projection defect flips one
      // and the row hash-fails
      s"""WITH dims AS (SELECT DISTINCT
         |    unnest(generate_series(1, len(embedding))) AS i
         |  FROM embeddings),
         |q AS (SELECT e.vec_id, d.i,
         |    CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE) * 1048576.0)
         |      AS BIGINT) AS x
         |  FROM embeddings e CROSS JOIN dims d),
         |s AS (SELECT i, COUNT(*) AS n,
         |    CAST(SUM(x) AS DECIMAL(38,0)) AS s,
         |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x)
         |      AS DECIMAL(38,0)) AS m
         |  FROM q GROUP BY 1),
         |tr AS (SELECT CAST(SUM(CAST(n AS DECIMAL(38,0)) * m - s * s)
         |    AS DECIMAL(38,0)) AS t FROM s)
         |SELECT CAST(d.i - 1 AS INTEGER) AS k,
         |CAST((SELECT t FROM tr) AS VARCHAR) AS trace_num,
         |TRUE AS trace_ok, TRUE AS rayleigh_ok, TRUE AS projvar_ok
         |FROM dims d ORDER BY k""".stripMargin,
    "q_embed_cov" ->
      // floor(x * 2^20): the power-of-two multiply is IEEE-exact, so
      // the quantized integers (and every sum of them) are identical
      // in both engines
      s"""WITH dims AS (SELECT DISTINCT
         |    unnest(generate_series(1, len(embedding))) AS i
         |  FROM embeddings),
         |q AS (SELECT e.vec_id, d.i,
         |    CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE) * 1048576.0)
         |      AS BIGINT) AS x
         |  FROM embeddings e CROSS JOIN dims d),
         |s AS (SELECT i, CAST(SUM(x) AS DECIMAL(38,0)) AS s
         |  FROM q GROUP BY 1),
         |m AS (SELECT a.i AS i, b.i AS j,
         |    CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * b.x)
         |      AS DECIMAL(38,0)) AS m,
         |    COUNT(*) AS n
         |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
         |  GROUP BY 1, 2)
         |SELECT CAST(m.i - 1 AS INTEGER) AS i,
         |CAST(m.j - 1 AS INTEGER) AS j, m.n,
         |CAST(si.s AS BIGINT) AS s_i, CAST(sj.s AS BIGINT) AS s_j,
         |CAST(m.m AS BIGINT) AS m
         |FROM m JOIN s si ON si.i = m.i JOIN s sj ON sj.i = m.j
         |ORDER BY i, j""".stripMargin,
    "q_pca" ->
      // parity contract (the q_lm_score pattern): DuckDB re-derives
      // the per-component populations; every (vector, component)
      // projection from the UDF and the independent in-query fold
      // must have matched BIT-FOR-BIT on the Spark side
      s"""SELECT CAST(k AS BIGINT) AS k,
         |  (SELECT COUNT(embedding) FROM embeddings) AS n_vecs,
         |  (SELECT COUNT(embedding) FROM embeddings) AS n_match,
         |  (SELECT COUNT(*) - COUNT(embedding) FROM embeddings)
         |    AS n_null
         |FROM generate_series(0, 7) AS t(k)
         |ORDER BY k""".stripMargin,
  )
}
