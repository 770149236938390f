package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

import graft.functions.Gen

import Shared._

/** The reference anonymizer's masking rules, FK cascades and
  * store round trips (SURVEY §2.2–2.3).
  */
private[graft] object MaskingGates {

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

  /** Full C1 anonymizer loop over an ORC-backed store
    * ([[graft.FormatIO]] — the "any path-based format behind the same
    * staged-swap contract" claim, value-gated): the customer table is
    * landed INTO an ORC store (stage + staged-directory swap), the
    * reference-shaped blueprint (R2 `#row#` template + P2-guarded R1
    * static — `mask_blueprint_full`'s column rules) runs
    * `Anonymizer.run()` against that store (read ORC → mask → stage ORC →
    * commit swap), and the
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

  val gates: Seq[Gate] = Seq(
    Gate("mask_static", maskStatic,
      s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         |'MASKED' AS c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("mask_rownum", maskRownum,
      s"""SELECT c_custkey,
         |concat('cust_', CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS VARCHAR)) AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("mask_hash", maskHash,
      s"""SELECT c_custkey,
         |concat(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12), '@example.com') AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("mask_where", maskWhere,
      s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         |CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("mask_global_where", maskGlobalWhere,
      s"""SELECT c_custkey,
         |CASE WHEN c_acctbal > 0 AND c_nationkey <> 10
         |  THEN concat('X-', CAST(rn AS VARCHAR)) ELSE c_name END AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment
         |FROM (SELECT *, row_number() OVER (
         |  PARTITION BY CASE WHEN c_acctbal > 0 AND c_nationkey <> 10 THEN 1 ELSE 0 END
         |  ORDER BY c_custkey) - 1 AS rn FROM customer)
         |ORDER BY c_custkey""".stripMargin),
    Gate("mask_unique", maskUnique,
      s"""SELECT c_custkey,
         |concat('user', CAST(c_custkey AS VARCHAR), '@example.com') AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("mask_fields", maskFields,
      s"""SELECT c_custkey,
         |concat('N', CAST(c_custkey AS VARCHAR)) AS c_name, c_nationkey, c_acctbal,
         |concat(concat('N', CAST(c_custkey AS VARCHAR)), '-SEG') AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("mask_blueprint_full", maskBlueprintFull,
      s"""SELECT c_custkey,
         |concat('cust_', CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS VARCHAR)) AS c_name,
         |c_nationkey, c_acctbal,
         |CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("fk_sync", fkSync,
      s"""SELECT o.o_orderkey,
         |COALESCE(m.newv, o.o_custkey) AS o_custkey,
         |o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority
         |FROM orders o LEFT JOIN
         |(SELECT c_custkey AS oldv, c_custkey + 1000000 AS newv FROM customer) m
         |ON o.o_custkey = m.oldv ORDER BY o_orderkey""".stripMargin),
    Gate("mask_fields_closure", maskFieldsClosure,
      s"""SELECT c_custkey,
         |concat('N', CAST(c_custkey AS VARCHAR)) AS c_name, c_nationkey, c_acctbal,
         |concat('N', CAST(c_custkey AS VARCHAR), '|', c_mktsegment) AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("mask_composite_pk", maskCompositePk,
      s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
         |l_extendedprice, l_discount, l_tax,
         |concat('F', CAST(row_number() OVER (ORDER BY ${lineitemOrder.mkString(", ")}) - 1 AS VARCHAR)) AS l_returnflag,
         |l_linestatus, l_shipdate
         |FROM lineitem ORDER BY ${lineitemOutOrder.mkString(", ")}""".stripMargin),
    Gate("mask_generators", maskGenerators, {
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
    }),
    Gate("mask_generator_oracle", maskGeneratorOracle, {
      val pool = inList(Gen.firstNamePool)
      val seed = "md5(CAST(c_custkey AS VARCHAR))"
      val idx = s"CAST((${nibSql(seed, 1)} * 16 + ${nibSql(seed, 2)}) " +
        s"% ${Gen.firstNamePool.size} AS INT) + 1"
      s"""SELECT c_custkey, list_extract([$pool], $idx) AS c_name,
         |c_nationkey, c_acctbal, c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin
    }),
    Gate("mask_format_preserving", maskFormatPreserving, {
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
    }),
    Gate("mask_fp_sync", maskFpSync, {
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
    }),
    Gate("mask_date_shift", maskDateShift, {
      // the same 48-bit md5 coin as q_rr_release, keyed per customer;
      // the offset and the day-granular shift replay exactly
      val b = bucket48OfSql(
        "md5('ds18|' || COALESCE(CAST(o_custkey AS VARCHAR), chr(1)))")
      s"""SELECT o_orderkey, o_custkey, o_orderdate,
         |o_orderdate + (CAST($b % 181 AS INT) - 90)
         |  * INTERVAL 1 DAY AS o_orderdate_shifted
         |FROM orders ORDER BY o_orderkey""".stripMargin
    }),
    Gate("q_jdbc_roundtrip", qJdbcRoundtrip,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("q_orc_roundtrip", qOrcRoundtrip,
      // the masking replayed from the PARQUET originals — the ORC
      // store roundtrip must be value-invisible
      s"""SELECT c_custkey,
         |concat('cust_', CAST(row_number() OVER (ORDER BY c_custkey) - 1
         |  AS VARCHAR)) AS c_name,
         |c_nationkey, c_acctbal,
         |CASE WHEN c_acctbal > 0 THEN 'MASKED' ELSE c_mktsegment END
         |  AS c_mktsegment
         |FROM customer ORDER BY c_custkey""".stripMargin),
  )
}
