package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.RankStats

/** The distributed numbering behind `#row#` ([[RankStats.groupIndex]]) must
  * be value-identical to the single-partition `row_number()` window it
  * replaces — on skewed data, composite keys, and flag-grouped numbering.
  */
class RowNumbersSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$fixtures/orders.parquet")

  private def numbered(df: DataFrame, keys: Seq[String],
      flag: Option[Column] = None): DataFrame =
    RankStats.groupIndex(df, flag.toSeq, keys.map(col), "rn", "n")
      .select(keys.map(col) ++ Seq(col("rn"), col("n")): _*)

  // the reference: exact, but one single-partition sort per flag value
  private def window(df: DataFrame, keys: Seq[String],
      flag: Option[Column] = None): DataFrame = {
    val part = flag.fold(Window.partitionBy())(Window.partitionBy(_))
    df.select(keys.map(col) ++ Seq(
      (row_number().over(part.orderBy(keys.map(col): _*)) - 1).as("rn"),
      count(lit(1)).over(part).as("n")): _*)
  }

  private def assertSame(df: DataFrame, keys: Seq[String],
      flag: Option[Column] = None): Unit = {
    val (s, o) = (numbered(df, keys, flag), window(df, keys, flag))
    assert(s.count() == df.count())
    assert(o.except(s).isEmpty && s.except(o).isEmpty)
  }

  test("scalable == ordered on a single-column key") {
    assertSame(orders, Seq("o_orderkey"))
  }

  test("scalable == ordered on a composite key") {
    val li = spark.read.parquet(s"$fixtures/lineitem.parquet")
    assertSame(li, Seq("l_orderkey", "l_linenumber"))
  }

  test("scalable numbering is dense and unique at sf0.01 under AQE") {
    // regression: AQE coalescing must not skew the partition-offset join
    // (non-unique sort keys make per-row equality vs the window ambiguous
    // here, so assert the numbering invariants instead)
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val s = numbered(li, Seq("l_orderkey", "l_linenumber")).select("rn")
    val n = li.count()
    assert(s.distinct().count() == n, "duplicate row numbers")
    val mm = s.agg(min("rn"), max("rn")).head
    assert(mm.getLong(0) == 0L && mm.getLong(1) == n - 1, "not dense 0..n-1")
  }

  test("scalable == ordered with a partition flag") {
    assertSame(orders, Seq("o_orderkey"), Some(col("o_totalprice") > 100000))
  }

  test("scalable plan has no single-partition global window") {
    val plan = numbered(orders, Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in plan:\n$plan")
  }
}
