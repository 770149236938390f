package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Engine-level behavior: FK-propagation chaining, safe write path,
  * sync-target database defaulting (reference F5), run-loop ordering.
  */
class AnonymizerSpec extends SparkSpec {

  test("plan() chains: a sync TARGET's own blueprint masks the propagated frame") {
    // customer masks its pk and cascades into orders.o_custkey; orders ALSO
    // has a blueprint. The orders blueprint must operate on the propagated
    // frame (reference: triggers fire before the target's own masking),
    // not re-read the raw table.
    val anon = new Anonymizer(spark, new ParquetIO(spark, fixtures))
    anon.table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_custkey")
        .replaceWithExpr(r => r("c_custkey") + lit(1000000L))
        .synchronizeColumn("orders" -> "o_custkey")
    }
    anon.table("orders") { b =>
      b.primary("o_orderkey")
      b.column("o_orderstatus").replaceWith("Z")
    }
    val out = anon.plan()("orders")
    val rows = out.select("o_custkey", "o_orderstatus").collect()
    assert(rows.forall(_.getString(1) == "Z"), "orders blueprint lost")
    // every order referencing an existing customer must carry the shifted
    // key — i.e. no order may still hold an original customer key (shifted
    // keys can't collide: originals are small, shifted are ≥ 1e6)
    val custKeys = spark.read.parquet(s"$fixtures/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(!rows.exists(r => custKeys.contains(r.getLong(0))),
      "an order still references an unshifted customer key")
    assert(rows.exists(_.getLong(0) >= 1000000L), "no order was propagated")
  }

  test("run() on ParquetIO survives writing a table it reads (stage+swap)") {
    val tmp = Files.createTempDirectory("graft_run").toString
    spark.read.parquet(s"$fixtures/customer.parquet")
      .write.parquet(s"$tmp/customer.parquet")
    val anon = new Anonymizer(spark, new ParquetIO(spark, tmp))
    anon.table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_name").replaceWith("MASKED")
    }
    anon.run() // would throw "Cannot overwrite a path that is also being
               // read from" without the staging swap
    val back = spark.read.parquet(s"$tmp/customer.parquet")
    assert(back.count() == 150)
    assert(back.select("c_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("MASKED"))
  }

  test("run() over csv and json FormatIO matches the parquet results") {
    // the S1 connector claim beyond parquet/JDBC: the same blueprint,
    // run through each path-based format, produces value-identical
    // masked tables (csv round-trips VALUES via inferSchema; json keeps
    // bigint/string natively)
    def runOn(io: TableIO, src: org.apache.spark.sql.DataFrame): Unit = {
      io.write("customer", src)
      val anon = new Anonymizer(spark, io)
      anon.table("customer") { b =>
        b.primary("c_custkey")
        b.column("c_name").replaceWith("cust_#row#")
        b.column("c_mktsegment").where("c_acctbal > 0").replaceWith("MASKED")
      }
      anon.run()
    }
    val src = spark.read.parquet(s"$fixtures/customer.parquet")
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    def masked(io: TableIO): Seq[(Long, String, String)] = {
      runOn(io, src)
      io.read("customer")
        .select(col("c_custkey").cast("long"), col("c_name"),
          col("c_mktsegment"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq.sortBy(_._1)
    }
    val pq = masked(new ParquetIO(spark,
      Files.createTempDirectory("graft_fmt_pq").toString))
    val csv = masked(new FormatIO(spark,
      Files.createTempDirectory("graft_fmt_csv").toString, "csv"))
    val json = masked(new FormatIO(spark,
      Files.createTempDirectory("graft_fmt_json").toString, "json"))
    assert(pq.size == 150)
    assert(csv == pq, "csv-backed run diverged from parquet")
    assert(json == pq, "json-backed run diverged from parquet")
    // orc is typed like parquet — values AND schema round-trip
    val orc = new FormatIO(spark,
      Files.createTempDirectory("graft_fmt_orc").toString, "orc")
    assert(masked(orc) == pq, "orc-backed run diverged from parquet")
    assert(orc.read("customer").schema == src.schema)
    // a pinned schema overrides csv inference and restores exact types
    val pinned = new FormatIO(spark,
      Files.createTempDirectory("graft_fmt_csv_schema").toString, "csv",
      schema = Some(src.schema))
    assert(masked(pinned) == pq)
    assert(pinned.read("customer").schema == src.schema,
      "pinned csv schema must round-trip the exact source types")
  }

  test("run() stages all tables before publishing any (cross-table safety)") {
    // customer's masked keys cascade into orders; if run() published the
    // masked customer BEFORE executing the orders plan, the FK mapping
    // would be re-derived from already-masked keys and orders would get
    // double-shifted / unmatched values
    val tmp = Files.createTempDirectory("graft_run2").toString
    spark.read.parquet(s"$fixtures/customer.parquet")
      .write.parquet(s"$tmp/customer.parquet")
    spark.read.parquet(s"$fixtures/orders.parquet")
      .write.parquet(s"$tmp/orders.parquet")
    val anon = new Anonymizer(spark, new ParquetIO(spark, tmp))
    anon.table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_custkey")
        .replaceWithExpr(r => r("c_custkey") + lit(1000000L))
        .synchronizeColumn("orders" -> "o_custkey")
    }
    anon.run()
    val custkeys = spark.read.parquet(s"$tmp/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val okeys = spark.read.parquet(s"$tmp/orders.parquet")
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(custkeys.forall(_ >= 1000000L), "customer keys not masked")
    assert(okeys.forall(k => k >= 1000000L && k < 2000000L),
      s"orders keys double-shifted or unshifted: ${okeys.take(5)}")
    assert(okeys.subsetOf(custkeys), "referential closure broken")
  }

  test("sync-target database defaults to the session database (F5)") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val io = new TableIO {
      def read(table: String) = {
        seen += table
        spark.read.parquet(s"$fixtures/${table.split('.').last}.parquet")
      }
      def write(table: String, df: org.apache.spark.sql.DataFrame): Unit = ()
    }
    val anon = new Anonymizer(spark, io, defaultDatabase = Some("shadow"))
    anon.table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_custkey")
        .replaceWithExpr(r => r("c_custkey") + lit(5L))
        .synchronizeColumn("orders" -> "o_custkey")
    }
    val out = anon.plan()
    // blueprint tables are qualified with the SAME default database as
    // sync targets, so a target with its own blueprint shares one plan key
    assert(out.keySet == Set("shadow.customer", "shadow.orders"))
    assert(seen.contains("shadow.orders") && seen.contains("shadow.customer"))
  }

  test("a qualified sync target with its own blueprint shares one plan key") {
    val io = new TableIO {
      def read(table: String) =
        spark.read.parquet(s"$fixtures/${table.split('.').last}.parquet")
      def write(table: String, df: org.apache.spark.sql.DataFrame): Unit = ()
    }
    val anon = new Anonymizer(spark, io, defaultDatabase = Some("db1"))
    anon.table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_custkey")
        .replaceWithExpr(r => r("c_custkey") + lit(1000000L))
        .synchronizeColumn("orders" -> "o_custkey")
    }
    anon.table("orders") { b =>
      b.primary("o_orderkey")
      b.column("o_orderstatus").replaceWith("Z")
    }
    val out = anon.plan()
    assert(out.keySet == Set("db1.customer", "db1.orders"))
    val rows = out("db1.orders").select("o_custkey", "o_orderstatus").collect()
    assert(rows.forall(_.getString(1) == "Z"))
    assert(rows.exists(_.getLong(0) >= 1000000L),
      "propagation and masking did not land in the same frame")
  }

  test("forConfig wires the generator locale (reference C3+C4)") {
    import graft.functions.Gen
    assert(Gen.locale == "en_US")
    try {
      val anon = Anonymizer.forConfig(spark,
        GraftConfig(user = "u", database = "d", generatorLocale = "fr_FR"))
      assert(anon != null)
      assert(Gen.locale == "fr_FR", "configured locale was not applied")
    } finally Gen.setLocale("en_US")
  }

  test("value-matching cascade over-propagates on colliding old values (F2 quirk)") {
    // reference semantics: WHERE t.f = OLD.c matches by VALUE — two source
    // rows with the same old value both rewrite the same target cells; the
    // mapping dedups on old value (min new) to keep target cardinality
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val src = spark.createDataFrame(
      Seq(Row(1, 100), Row(2, 100)).asJava,
      StructType.fromDDL("id INT, k INT"))
    val tgt = spark.createDataFrame(
      Seq(Row(10, 100), Row(11, 200)).asJava,
      StructType.fromDDL("tid INT, fk INT"))
    val io = new MapIO(Map("src" -> src, "tgt" -> tgt))
    val anon = new Anonymizer(spark, io)
    anon.table("src") { b =>
      b.primary("id")
      b.column("k").replaceWithExpr(r => r("id") * lit(1000))
        .synchronizeColumn("tgt" -> "fk")
    }
    val out = anon.plan()("tgt").collect().sortBy(_.getInt(0))
    assert(out.length == 2, "target cardinality must be preserved")
    // both src rows had old k=100; min new value (1000) wins for the cell
    assert(out(0).getInt(1) == 1000)
    assert(out(1).getInt(1) == 200)
  }

  test("FK mapping join is not force-broadcast (AQE decides)") {
    val anon = new Anonymizer(spark, new ParquetIO(spark, fixtures))
    anon.table("customer") { b =>
      b.primary("c_custkey")
      b.column("c_custkey")
        .replaceWithExpr(r => r("c_custkey") + lit(1L))
        .synchronizeColumn("orders" -> "o_custkey")
    }
    val logical = anon.plan()("orders").queryExecution.logical.toString
    assert(!logical.toLowerCase.contains("broadcast"),
      s"forced broadcast hint present:\n$logical")
  }

  test("a second run() in one session keeps the first run's masking") {
    // #row# numbering materialises its range-sorted input; a SQL-cache
    // entry there would outlive run 1's swap and hand run 2 the
    // pre-mask rows of the same source path
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_rerun").toString
    Seq((1L, "alice", "a@x"), (2L, "bob", "b@x"), (3L, "carol", "c@x"))
      .toDF("id", "name", "email").write.parquet(s"$tmp/users.parquet")
    val io = new ParquetIO(spark, tmp)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val run1 = new Anonymizer(spark, io)
    run1.table("users") { b =>
      b.primary("id")
      b.column("name").replaceWith("cust_#row#")
    }
    run1.run()
    val run2 = new Anonymizer(spark, io)
    run2.table("users") { b =>
      b.primary("id")
      b.column("email").replaceWith("e_#row#")
    }
    run2.run()
    val back = spark.read.parquet(s"$tmp/users.parquet").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(back.toSeq == Seq((1L, "cust_0", "e_0"), (2L, "cust_1", "e_1"),
      (3L, "cust_2", "e_2")))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted)
      .isEmpty, "run() must free what it materialised")
  }

  test("blueprint and sync-target names keep each table's own spelling") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val users = spark.createDataFrame(Seq(Row(1, "ann"), Row(2, "bob")).asJava,
      StructType.fromDDL("id INT, name STRING"))
    val cls = spark.createDataFrame(
      Seq(Row(10, 1), Row(11, 2), Row(12, 3)).asJava,
      StructType.fromDDL("cid INT, user_id INT"))
    val anon = new Anonymizer(spark,
      new MapIO(Map("users" -> users, "class" -> cls)))
    anon.table("users") { b =>
      b.primary("ID")
      b.column("ID").replaceWithExpr(r => r("Id") + lit(100))
        .synchronizeColumn("class" -> "User_Id")
    }
    val out = anon.plan()
    assert(out("users").columns.toSeq == Seq("id", "name"))
    assert(out("class").columns.toSeq == Seq("cid", "user_id"))
    assert(out("class").orderBy("cid").collect().map(_.getInt(1)).toSeq ==
      Seq(101, 102, 3))
  }
}
