package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.RankStats

/** RankStats must be value-identical (bit-identical doubles) to Spark's
  * window ntile/percent_rank/cume_dist — while never building the
  * low-cardinality window partition that motivates it.
  */
class RankStatsSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$fixtures/orders.parquet")

  private def windowRef(df: DataFrame, part: Seq[String], ord: Seq[String],
      k: Int): DataFrame = {
    val w = Window.partitionBy(part.map(col): _*).orderBy(ord.map(col): _*)
    df.withColumn("tile", ntile(k).over(w).cast("bigint"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume_dist", cume_dist().over(w))
  }

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() === b.count())
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("total-order mode == window on orders (5-value partition key)") {
    val base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    val got = RankStats.withRankStats(base, Seq("o_orderpriority"),
      Seq("o_totalprice", "o_orderkey"), 4, assumeTotalOrder = true)
      .withColumn("tile", col("tile").cast("bigint"))
    val want = windowRef(base, Seq("o_orderpriority"),
      Seq("o_totalprice", "o_orderkey"), 4)
    assertSame(got, want)
  }

  test("tie-aware mode == window when the order key has heavy ties") {
    // order by quantity only (~50 distinct values): huge tie runs inside each group; rank-based
    // percent_rank and tie-inclusive cume_dist must still match the window.
    // (ntile depends on arbitrary intra-tie order, so compare the
    // tie-invariant columns.)
    val li = spark.read.parquet(s"$fixtures/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val got = RankStats.withRankStats(li, Seq("l_returnflag"),
      Seq("l_quantity"), 4)
      .drop("tile")
    val want = windowRef(li, Seq("l_returnflag"), Seq("l_quantity"), 4)
      .drop("tile")
    assertSame(got, want)
  }

  test("null group values are kept and ranked as their own group") {
    import SparkSpec.spark.implicits._
    val df = Seq((Some("a"), 1), (Some("a"), 2), (None, 3), (None, 4),
      (None, 5)).toDF("g", "v")
    val got = RankStats.withRankStats(df, Seq("g"), Seq("v"), 2,
      assumeTotalOrder = true)
    assert(got.count() === 5)
    val nulls = got.filter(col("g").isNull).orderBy("v")
      .select("tile", "pct_rank", "cume_dist").collect()
    assert(nulls.map(_.getLong(0)).toSeq === Seq(1L, 1L, 2L))
    assert(nulls.map(_.getDouble(1)).toSeq === Seq(0.0, 0.5, 1.0))
  }

  test("groups smaller than nTiles: each row its own tile; n==1 rank 0") {
    import SparkSpec.spark.implicits._
    val df = Seq(("a", 10), ("a", 20), ("b", 7)).toDF("g", "v")
    val got = RankStats.withRankStats(df, Seq("g"), Seq("v"), 4,
      assumeTotalOrder = true)
    val want = windowRef(df, Seq("g"), Seq("v"), 4)
    assertSame(got.withColumn("tile", col("tile").cast("bigint")), want)
    val lone = got.filter(col("g") === "b").head()
    assert(lone.getAs[Double]("pct_rank") === 0.0)
    assert(lone.getAs[Double]("cume_dist") === 1.0)
  }

  test("ntile arithmetic matches window ntile across bucket counts") {
    val base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
      .limit(503) // prime-ish row count: uneven bucket padding per group
    for (k <- Seq(1, 2, 3, 7, 32)) {
      val got = RankStats.withRankStats(base, Seq("o_orderpriority"),
        Seq("o_totalprice", "o_orderkey"), k, assumeTotalOrder = true)
        .withColumn("tile", col("tile").cast("bigint"))
      val want = windowRef(base, Seq("o_orderpriority"),
        Seq("o_totalprice", "o_orderkey"), k)
      assertSame(got, want)
    }
  }

  test("driver-stats guard turns high-cardinality misuse into a clear error") {
    val base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
      .limit(100)
    // o_orderkey is unique: every row is its own group, so the stat rows
    // blow past a tiny maxDriverStats — the misuse regime in miniature
    val e = intercept[IllegalArgumentException] {
      RankStats.withRankStats(base, Seq("o_orderkey"), Seq("o_totalprice"),
        4, maxDriverStats = 10)
    }
    assert(e.getMessage.contains("Window.partitionBy"), e.getMessage)
  }

  test("plan has no window sort over the low-cardinality partition key") {
    val base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    val plan = RankStats.withRankStats(base, Seq("o_orderpriority"),
      Seq("o_totalprice", "o_orderkey"), 4, assumeTotalOrder = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected Window node in:\n$plan")
  }

  test("input columns named like internal ones pass through unchanged") {
    import SparkSpec.spark.implicits._
    val internals = Seq("__rs_idx", "__rs_n", "__rs_tmin", "__rs_tmax",
      "__rs_k0", "__rs_g0", "__rs_mid", "__rs_pid", "__rs_local",
      "__rs_apid", "__rs_ag0", "__rs_adj")
    val df = internals.foldLeft(Seq(("a", 1), ("a", 2), ("b", 3), ("a", 3))
      .toDF("g", "v"))((d, c) => d.withColumn(c, lit(-1)))
    for (total <- Seq(true, false)) {
      val got = RankStats.withRankStats(df, Seq("g"), Seq("v"), 2,
        assumeTotalOrder = total)
      assert(got.columns.toSeq ==
        df.columns.toSeq ++ Seq("tile", "pct_rank", "cume_dist"))
      assertSame(got.withColumn("tile", col("tile").cast("bigint")),
        windowRef(df, Seq("g"), Seq("v"), 2))
    }
  }

  test("an empty group list is the window without PARTITION BY") {
    val base = orders.select("o_orderkey", "o_totalprice")
    val got = RankStats.withRankStats(base, Seq.empty,
      Seq("o_totalprice", "o_orderkey"), 3)
      .withColumn("tile", col("tile").cast("bigint"))
    assertSame(got, windowRef(base, Seq.empty,
      Seq("o_totalprice", "o_orderkey"), 3))
  }

  test("dotted group and order names are read literally") {
    val base = orders.select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("g.y"), col("o_totalprice").as("v.w"))
    val got = RankStats.withRankStats(base, Seq("g.y"), Seq("v.w", "k"), 4)
      .withColumn("tile", col("tile").cast("bigint"))
    assertSame(got, windowRef(base, Seq("`g.y`"), Seq("`v.w`", "k"), 4))
  }

  test("property: withRankStats == window ntile, percent_rank, cume_dist") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import scala.jdk.CollectionConverters._
    // up to 4 group values (1 = one group over every partition) plus
    // nulls, and up to 3 order values: long tie runs in every group
    val frame = for {
      n <- Gen.choose(0, 80)
      groups <- Gen.choose(1, 4)
      values <- Gen.choose(1, 3)
      rows <- Gen.listOfN(n, for {
        g <- Gen.frequency(4 -> Gen.choose(0, groups - 1).map(Integer.valueOf),
          1 -> Gen.const(null))
        v <- Gen.choose(0, values - 1)
      } yield (g, v))
      grouped <- Gen.oneOf(true, false)
      totalOrder <- Gen.oneOf(true, false)
      k <- Gen.choose(1, 6)
    } yield (rows, grouped, totalOrder, k)
    def sorted(df: DataFrame) = df.orderBy("id").collect().map(_.toSeq).toSeq
    val prop = Prop.forAll(frame) { case (rows, grouped, totalOrder, k) =>
      val df = spark.createDataFrame(rows.zipWithIndex.map {
        case ((g, v), i) => Row(i, g, v) }.asJava,
        StructType.fromDDL("id INT, g INT, v INT"))
      val part = if (grouped) Seq("g") else Seq.empty
      // a total order: all three statistics are determined
      val exact = RankStats.withRankStats(df, part, Seq("v", "id"), k,
        assumeTotalOrder = totalOrder)
      // ties only: ntile is arbitrary inside a tie run, the others are not
      val tied = RankStats.withRankStats(df, part, Seq("v"), k).drop("tile")
      sorted(exact) == sorted(windowRef(df, part, Seq("v", "id"), k)) &&
        sorted(tied) == sorted(windowRef(df, part, Seq("v"), k).drop("tile"))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
