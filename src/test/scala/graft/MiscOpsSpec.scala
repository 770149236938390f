package graft

import org.apache.spark.sql.functions._

import graft.functions.Gen
import graft.pipeline.{Dedup, Similarity, TextOps}

/** Exercises the API surface not covered by the oracle queries or the
  * behavior suites: remaining generator formatters, array/text helpers,
  * and the standalone vector primitives.
  */
class MiscOpsSpec extends SparkSpec {

  private def customer = spark.read.parquet(s"$fixtures/customer.parquet")
  private def docs = spark.read.parquet(s"$fixtures/documents.parquet")

  test("scan-speed operators shuffle at most once (the presentation sort)") {
    // these are advertised as narrow/codegen paths: the only Exchange
    // allowed in their physical plan is the range partitioning of the
    // final deterministic ORDER BY — any second exchange means a shuffle
    // crept into what must run at scan speed on 100 TB
    val narrow = Seq("q_sample", "q_quantize", "q_subword", "q_lang_id",
      "q_quality", "q_pii", "q_multimodal_meta")
    narrow.foreach { name =>
      val plan = SparkEntry.select(Seq(name)).head.build(spark, fixtures)
        .queryExecution.executedPlan.toString
      // broadcasts don't shuffle the data; only partitioning exchanges do
      val shuffles = "Exchange".r.findAllIn(plan).length -
        "BroadcastExchange".r.findAllIn(plan).length
      assert(shuffles <= 1, s"$name has $shuffles shuffles:\n$plan")
    }
  }

  test("remaining generator formatters: ranges, pools, dates, sentences") {
    val s = Gen.seed(col("c_custkey"))
    val rows = customer.select(
      Gen.numberBetween(s, 10, 20).as("nb"),
      Gen.randomFloat(s, 0.0, 1.0).as("rf"),
      Gen.randomElement(Seq("a", "b", "c"), s).as("re"),
      Gen.dateBetween(s, "2020-01-01", "2020-12-31").as("dt"),
      Gen.sentence(s, 4).as("sent"),
      Gen.company(s).as("co"),
      Gen.userName(s).as("un")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) >= 10 && r.getLong(0) <= 20)
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(Seq("a", "b", "c").contains(r.getString(2)))
      val d = r.getDate(3).toLocalDate
      assert(!d.isBefore(java.time.LocalDate.parse("2020-01-01")) &&
        !d.isAfter(java.time.LocalDate.parse("2020-12-31")))
      assert(r.getString(4).endsWith(".") &&
        r.getString(4).split(" ").length == 4)
      assert(r.getString(5).nonEmpty && r.getString(6).contains("."))
    }
  }

  test("word shingles column form matches the exploded builder") {
    val viaColumn = docs.limit(50)
      .select(col("doc_id"),
        explode(TextOps.wordShingles(col("text"), 3)).as("shingle"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaBuilder = TextOps.explodedShingles(docs.limit(50), "doc_id",
        "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaColumn == viaBuilder)
  }

  test("subword counting splits on punctuation boundaries") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    val df = spark.createDataFrame(
      Seq(Row(1L, "hello, world! it's 42km"), Row(2L, "   "),
        Row(3L, "one")).asJava,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, text STRING"))
    val got = df.select(col("id"), TextOps.subwordCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) == 5) // hello world it s 42km
    assert(got(2L) == 0)
    assert(got(3L) == 1)
  }

  test("simHashGroups flags injected duplicate documents") {
    val dup = docs.limit(3).withColumn("doc_id", col("doc_id") + 100000L)
    val groups = Dedup.simHashGroups(docs.limit(50).unionAll(dup),
      "doc_id", "text")
    val flagged = groups.collect()
    assert(flagged.length >= 3, s"expected >=3 collision groups, " +
      s"got ${flagged.length}")
    flagged.foreach(r => assert(r.getAs[Long]("n_docs") >= 2))
  }

  test("BottomK aggregator == collect_set+sort+slice on real shingles") {
    val sh = TextOps.explodedShingles(docs.limit(100), "doc_id", "text", 3)
      .select(col("doc_id"), md5(col("shingle")).as("h"))
    val bottomK = udaf(new graft.functions.BottomK(4),
      org.apache.spark.sql.Encoders.STRING)
    val viaAgg = sh.groupBy("doc_id")
      .agg(array_join(bottomK(col("h")), ",").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaSet = sh.groupBy("doc_id")
      .agg(array_join(slice(array_sort(collect_set(col("h"))), 1, 4), ",")
        .as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaAgg == viaSet)
    // duplicates and small groups behave
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    val tiny = spark.createDataFrame(Seq(
      Row(1L, "b"), Row(1L, "a"), Row(1L, "b"), Row(2L, "z")
    ).asJava, org.apache.spark.sql.types.StructType
      .fromDDL("id BIGINT, h STRING"))
    val got = tiny.groupBy("id").agg(array_join(bottomK(col("h")), ",").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a,b", 2L -> "z"))
  }

  test("standalone dot/norm primitives agree with the fused cosine") {
    val e = spark.read.parquet(s"$fixtures/embeddings.parquet").limit(50)
    val q = Seq.fill(64)(0.25f)
    val rows = e.select(
      (Similarity.dot(col("embedding"), Similarity.vecLit(q)) /
        (Similarity.norm(col("embedding")) *
          Similarity.norm(Similarity.vecLit(q)))).as("composed"),
      Similarity.cosineFold(col("embedding"), Similarity.vecLit(q))
        .as("fused")).collect()
    rows.foreach(r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("salted left_outer join preserves unmatched left rows") {
    import graft.pipeline.Skew
    val orders = spark.read.parquet(s"$fixtures/orders.parquet")
    val richCust = spark.read.parquet(s"$fixtures/customer.parquet")
      .filter(col("c_acctbal") > 5000)
    val salted = Skew.saltedJoin(orders, richCust, "o_custkey", "c_custkey",
      salts = 4, joinType = "left_outer")
    assert(salted.count() == orders.count())
    intercept[IllegalArgumentException](
      Skew.saltedJoin(orders, richCust, "o_custkey", "c_custkey", 4, "right"))
  }

  test("NFC normalization composes decomposed text, native == fallback") {
    import SparkSpec.spark.implicits._
    import graft.pipeline.TextOps
    // decomposed e+U+0301 vs composed U+00E9, plus shapes that must be
    // identities: ASCII, empty, already-composed, null
    val df = Seq(
      (1L, "caf" + "e\u0301" + " and caf\u00e9"),
      (2L, "plain ascii"),
      (3L, ""),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "s")
    val got = df.select(col("id"), TextOps.nfcNormalize(col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "caf\u00e9 and caf\u00e9",
      "decomposed and composed forms must both land on NFC")
    assert(got(2L) == "plain ascii" && got(3L) == "" && got(4L) == null)
    // the session registers GraftExtensions: the native expression must
    // actually be in play, and agree with the UDF fallback everywhere
    assert(graft.plans.GraftExtensions.hasNative("nfc_normalize"))
    val viaUdf = udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    val diff = df.select(
        TextOps.nfcNormalize(col("s")).as("a"), viaUdf(col("s")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff == 0)
    // and equal-text-different-bytes now dedups: the hashes collapse
    val hashes = df.filter(col("id") === 1L)
      .select(split(TextOps.nfcNormalize(col("s")), " ").as("w"))
      .select(explode(col("w")).as("w"))
      .filter(col("w").contains("caf"))
      .select(md5(col("w"))).distinct().count()
    assert(hashes == 1L, "NFC'd renderings must hash identically")
  }

  test("gate scratch sweep: legacy dirs removed, unparseable pids " +
      "skipped, live-pid dirs kept") {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val legacy = tmp.resolve("graft-gate-oldlayout")
    val unparseable = tmp.resolve(
      "graft-gate-99999999999999999999999-x")
    val mine = tmp.resolve(
      s"graft-gate-${ProcessHandle.current().pid()}-q-dedup-append")
    java.nio.file.Files.createDirectories(legacy)
    java.nio.file.Files.createDirectories(unparseable)
    try {
      // any scratch-using gate query triggers the sweep on entry —
      // and must NOT throw on the unparseable name
      SparkEntry.select(Seq("q_dedup_append")).head.build(spark, fixtures)
        .count()
      assert(!java.nio.file.Files.exists(legacy),
        "legacy graft-gate-<name> dir must be swept")
      assert(java.nio.file.Files.exists(unparseable),
        "unparseable pid is skipped, not wiped (and not thrown on)")
      assert(java.nio.file.Files.exists(mine),
        "the live process's own scratch dir survives")
    } finally {
      java.nio.file.Files.deleteIfExists(unparseable)
      java.nio.file.Files.deleteIfExists(legacy)
    }
  }

  test("README's documented query count matches the gate registry") {
    // the count drifted twice across rounds (r10, r12 verdicts) — pin
    // the doc to the code so a new gate row can't ship without the one
    // README line that advertises it
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val line = try readme.getLines()
        .find(_.contains("end-to-end queries"))
        .getOrElse(fail("README no longer documents the query count"))
      finally readme.close()
    val documented = "(\\d+) end-to-end queries".r
      .findFirstMatchIn(line).map(_.group(1).toInt)
      .getOrElse(fail(s"no count in README line: $line"))
    assert(documented == SparkEntry.gates.size,
      s"README says $documented queries; SparkEntry has " +
        s"${SparkEntry.gates.size} — update README.md")
  }

  test("no scaladoc under src/main is directly followed by another") {
    // a doc comment stacked on another documents nothing (or the wrong
    // member): only the last one attaches to the declaration below
    import scala.jdk.CollectionConverters._
    val stacked = """\*/\s*/\*\*""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val hits = try files.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { p =>
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          stacked.findAllMatchIn(src).map(m =>
            s"$p:${src.take(m.end).count(_ == '\n') + 1}")
        }
      finally files.close()
    assert(hits.isEmpty, s"stacked scaladoc at:\n${hits.mkString("\n")}")
  }

  test("tsMicros: DATE converts via a tz-independent day count (same " +
      "epoch micros whatever the session timezone)") {
    import SparkSpec.spark.implicits._
    val df = Seq(java.sql.Date.valueOf("1995-01-01")).toDF("ts")
    def us(): Long = df.select(gates.Shared.tsMicros(df).as("us"))
      .collect().head.getLong(0)
    // 1970-01-01 -> 1995-01-01 is 9131 days (6 leap years)
    val expect = 9131L * 86400000000L
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    try {
      assert(us() == expect)
      spark.conf.set(key, "America/New_York")
      assert(us() == expect, "DATE->micros must not shift with the tz")
    } finally spark.conf.set(key, prev)
  }

  test("tsMicros: TIMESTAMP_NTZ decomposes into wall-clock fields (same " +
      "epoch micros whatever the session timezone)") {
    import SparkSpec.spark.implicits._
    val df = Seq("1995-01-01 12:34:56.789012").toDF("raw")
      .select(col("raw").cast("timestamp_ntz").as("ts"))
    def us(): Long = df.select(gates.Shared.tsMicros(df).as("us"))
      .collect().head.getLong(0)
    val expect = 9131L * 86400000000L + 12L * 3600000000L +
      34L * 60000000L + 56789012L
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    try {
      assert(us() == expect)
      spark.conf.set(key, "America/New_York")
      assert(us() == expect, "NTZ->micros must not shift with the tz")
    } finally spark.conf.set(key, prev)
  }

  test("the documents scan's fan-out memo does not keep a session alive") {
    // building q_fingerprint runs the fan-out probe (docs()), which
    // memoises its decision per session and source
    def touch(): java.lang.ref.WeakReference[AnyRef] = {
      val s = spark.newSession()
      SparkEntry.select(Seq("q_fingerprint")).head.build(s, fixtures)
      new java.lang.ref.WeakReference[AnyRef](s)
    }
    val ref = touch()
    var tries = 0
    while (ref.get != null && tries < 20) {
      System.gc()
      Thread.sleep(50)
      tries += 1
    }
    assert(ref.get == null, "a dropped session must be collectable")
  }
}
