package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Linkage, Privacy}

/** Behavior checks for the privacy-risk audits (k-anonymity / l-diversity)
  * and the deletion-neighborhood fuzzy join beyond their SQL oracles:
  * hand-computed groups, blocking completeness vs brute force, and the
  * no-all-pairs plan shape.
  */
class PrivacyLinkageSpec extends SparkSpec {

  test("Privacy.audit computes group size, diversity and both risk flags") {
    val s = spark
    import s.implicits._
    // (zip, segment) QIs; salary sensitive
    val df = Seq(
      ("94110", "A", 100), ("94110", "A", 100), ("94110", "A", 200),
      ("94110", "B", 300),
      ("10001", "A", 400), ("10001", "A", 500)
    ).toDF("zip", "seg", "salary")
    val out = Privacy.audit(df, Seq("zip", "seg"), "salary", k = 2, l = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    assert(out(("94110", "A")) == ((3L, 2L, false, false)))
    // singleton group: k-at-risk AND l-at-risk (1 distinct value)
    assert(out(("94110", "B")) == ((1L, 1L, true, true)))
    // k ok but every member shares... no: 400,500 distinct -> l ok
    assert(out(("10001", "A")) == ((2L, 2L, false, false)))
  }

  test("Privacy.card aggregates achieved k/l and at-risk row counts") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", 1), ("a", 1), ("a", 2),   // group a: gs=3, ds=2
      ("b", 5),                       // group b: gs=1, ds=1
      ("c", 6), ("c", 6), ("c", 6)    // group c: gs=3, ds=1 -> l-at-risk
    ).toDF("qi", "sens")
    val r = Privacy.card(df, Seq("qi"), "sens", k = 2, l = 2).collect()(0)
    assert(r.getAs[Long]("n_rows") == 7L)
    assert(r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("k_achieved") == 1L)
    assert(r.getAs[Long]("l_achieved") == 1L)
    assert(r.getAs[Long]("rows_k_at_risk") == 1L)   // group b
    assert(r.getAs[Long]("rows_l_at_risk") == 4L)   // groups b + c
  }

  test("deletionVariants: neighborhood contents and size") {
    assert(Linkage.deletionVariants("abc", 0).toSet == Set("abc"))
    assert(Linkage.deletionVariants("abc", 1).toSet ==
      Set("abc", "bc", "ac", "ab"))
    // depth 2 includes all single chars; "" only at depth 3
    val d2 = Linkage.deletionVariants("abc", 2).toSet
    assert(d2 == Set("abc", "bc", "ac", "ab", "a", "b", "c"))
    assert(Linkage.deletionVariants("", 1).toSet == Set(""))
    // a surrogate pair is deleted whole, never split into a lone half
    assert(Linkage.deletionVariants("a\uD83D\uDE00", 1).toSet ==
      Set("a\uD83D\uDE00", "\uD83D\uDE00", "a"))
  }

  test("selfPairs matches brute-force Levenshtein pairs (completeness)") {
    val s = spark
    import s.implicits._
    val names = Seq("kitten", "sitten", "sittin", "kittens", "mitten",
      "banana", "banan", "bananas", "xyz")
    val df = names.toDF("name")
    val got = Linkage.selfPairs(df, "name", maxDist = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    // brute force on the driver
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val want = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= 1
    } yield (a, b, d)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains(("banan", "banana", 1)))  // sanity: non-empty
  }

  test("selfPairs at maxDist=2 still complete (depth-2 neighborhoods)") {
    val s = spark
    import s.implicits._
    val names = Seq("abcd", "abce", "abef", "abcdxy", "zzzz")
    val got = Linkage.selfPairs(names.toDF("n"), "n", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // abcd~abce d=1; abcd~abef d=2; abce~abef d=2; abcd~abcdxy d=2
    // (abce~abcdxy is d=3 — blocked as a candidate but cut by verify)
    assert(got == Set(("abcd", "abce"), ("abcd", "abef"),
      ("abce", "abef"), ("abcd", "abcdxy")))
  }

  test("deletion-neighborhood cap is depth-aware: d>=2 defaults to " +
      "maxLen 64 (C(len,2) cliff), explicit maxLen opts past it") {
    val s = spark
    import s.implicits._
    assert(Linkage.defaultMaxLen(1) == 256)
    assert(Linkage.defaultMaxLen(2) == 64)
    // two 70-char strings at distance 1: silently dropped under the
    // depth-2 default (blocking never sees them), linked when the
    // caller knowingly raises the cap
    val a = "x" * 69 + "a"
    val b = "x" * 69 + "b"
    val df = Seq(a, b).toDF("n")
    assert(Linkage.selfPairs(df, "n", maxDist = 2).count() == 0)
    val wide = Linkage.selfPairs(df, "n", maxDist = 2, maxLen = 128)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(wide.toSeq == Seq((a, b, 1)))
    // d=1 keeps the 256 default: same pair links with no opt-in
    assert(Linkage.selfPairs(df, "n", maxDist = 1).count() == 1)
    // the -1 sentinel is the only negative accepted
    intercept[IllegalArgumentException](
      Linkage.selfPairs(df, "n", maxDist = 2, maxLen = 0).count())
  }

  test("blocking cap exclusions are observable: the observe() metric " +
      "reports how many distinct strings the maxLen filter dropped") {
    val s = spark
    import s.implicits._
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Any)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_linkage_cap_"))
            seen.add((row.getAs[Long]("excluded_over_maxlen"),
              row.getAs[Any]("max_len_seen")))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      // two over-cap strings (70 chars > the d>=2 default of 64) and
      // two short ones: the metric must report exactly 2 excluded,
      // riding the blocking scan with no extra job
      val df = Seq("x" * 69 + "a", "x" * 69 + "b", "ab", "ac").toDF("n")
      Linkage.selfPairs(df, "n", maxDist = 2).count()
      // listener delivery is async on the shared bus — poll
      val deadline = System.nanoTime() + 10_000_000_000L
      while (seen.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val ms = seen.toArray(Array.empty[(Long, Any)])
      assert(ms.exists { case (ex, mx) => ex == 2L && mx == 70 },
        s"expected an (excluded=2, max=70) metric, got ${ms.toSeq}")
    } finally s.listenerManager.unregister(listener)
  }

  test("fuzzyJoin links across sources and dedups duplicate rows") {
    val s = spark
    import s.implicits._
    val left = Seq("Alice Smith", "Bob Jones", "Carol King",
      "Alice Smith").toDF("name")         // duplicate row on purpose
    val right = Seq("Alice Smyth", "Bob Jones", "Karol King").toDF("name")
    val got = Linkage.fuzzyJoin(left, "name", right, "name", maxDist = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(got == Set(
      ("Alice Smith", "Alice Smyth", 1),
      ("Bob Jones", "Bob Jones", 0),
      ("Carol King", "Karol King", 1)))
  }

  test("linkQueries keeps query ids and matches brute force") {
    val s = spark
    import s.implicits._
    val ref = Seq("kitten", "sitten", "banana", "xyz").toDF("name")
    val qs = Seq((1L, "kitten"), (2L, "bananaX"), (3L, "zzzzzz"),
      (4L, null.asInstanceOf[String]), (1L, "sitten"))
      .toDF("q_id", "q")
    val got = Linkage.linkQueries(qs, "q_id", "q", ref, "name", 1)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSet
    assert(got == Set(
      (1L, "kitten", "kitten", 0), (1L, "kitten", "sitten", 1),
      (2L, "bananaX", "banana", 1),
      (1L, "sitten", "sitten", 0), (1L, "sitten", "kitten", 1)))
    // over-maxLen queries match nothing instead of exploding
    assert(Linkage.linkQueries(qs, "q_id", "q", ref, "name", 1,
      maxLen = 3).count() == 0)
  }

  test("supplementary characters are one edit: selfPairs, fuzzyJoin " +
      "and linkQueries match a brute-force levenshtein cross join") {
    val s = spark
    import s.implicits._
    // U+1F600 / U+1F601: one code point each, two UTF-16 units
    val names = Seq("\uD83D\uDE00a", "xa", "ab\uD83D\uDE00", "abx",
      "\uD83D\uDE00\uD83D\uDE01z", "qqz")
    val df = names.toDF("n")
    val ids = names.zipWithIndex.map { case (n, i) => n -> i.toLong }.toMap
    for (d <- 1 to 2) {
      val brute = df.as("l").crossJoin(df.as("r"))
        .select(col("l.n").as("a"), col("r.n").as("b"),
          levenshtein(col("l.n"), col("r.n")).as("dist"))
        .filter(col("dist") <= d)
      def rows(f: org.apache.spark.sql.DataFrame) = f.collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      val unordered = rows(brute)
      val ordered = rows(brute.filter(col("a") < col("b")))
      // two pairs at distance d, each with a supplementary character
      assert(ordered.count(_._3 == d) == 2, s"d=$d: $ordered")
      assert(rows(Linkage.selfPairs(df, "n", d)) == ordered, s"d=$d")
      assert(rows(Linkage.fuzzyJoin(df, "n", df, "n", d)) == unordered,
        s"d=$d")
      val qs = names.map(n => (ids(n), n)).toDF("q_id", "q")
      val linked = Linkage.linkQueries(qs, "q_id", "q", df, "n", d)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getInt(3))).toSet
      assert(linked == unordered.map { case (a, b, dd) =>
        (ids(a), a, b, dd) }, s"d=$d")
    }
  }

  test("linkServeStream: batch-equal matches, exactly-once, multi-batch") {
    val s = spark
    import s.implicits._
    import graft.streaming.{ExactlyOnceSink, StreamMask}
    val base = java.nio.file.Files
      .createTempDirectory("graft_link_serve").toString
    val ref = Seq("kitten", "sitten", "banana", "mitten").toDF("name")
    val queries = Seq((1L, "kitten"), (2L, "banan"), (3L, "zzz"),
      (4L, "mittenX")).toDF("q_id", "q")
    val in = s"$base/in"
    queries.filter($"q_id" <= 2).write.parquet(s"$in/f0")
    queries.filter($"q_id" > 2)
      .unionAll(Seq((9L, null.asInstanceOf[String])).toDF("q_id", "q"))
      .write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val out = s"$base/out"
    val q = StreamMask.linkServeStream(stream, "q_id", "q", ref, "name",
      maxDist = 1, outPath = out, checkpoint = s"$base/ckpt")
    q.awaitTermination(120000)
    val landed = spark.read.parquet(out)
    assert(landed.select(ExactlyOnceSink.BatchIdCol).distinct().count()
      > 1, "expected more than one served micro-batch")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "query_value", "ref_value", "dist")
      .collect().map(_.toString).sorted.toSeq
    val batchRef = Linkage.linkQueries(queries, "q_id", "q", ref,
      "name", 1)
    assert(key(landed) == key(batchRef),
      "streamed fuzzy matches diverged from the audited batch operator")
  }

  test("rrReleaseStream: stream == batch release bit-for-bit across " +
      "micro-batches, exactly-once, fixed static domain") {
    val s = spark
    import s.implicits._
    import graft.streaming.{ExactlyOnceSink, StreamMask}
    val base = java.nio.file.Files
      .createTempDirectory("graft_rr_stream").toString
    val rows = (1L to 40L).map(k => (k, "seg" + (k % 5)))
    val df = rows.toDF("k", "v")
    val domain = df.select("v")
    // the audited batch mechanism, against the SAME fixed domain
    val batchRel = Privacy.randomizedResponseWithDomain(
        df, "v", "k", pNum = 3, pDen = 4, seed = "rrs19", domain)
      .select("k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val in = s"$base/in"
    df.filter($"k" <= 20).coalesce(1).write.parquet(s"$in/f0")
    df.filter($"k" > 20).coalesce(1).write.parquet(s"$in/f1")
    val schema = s.read.parquet(s"$in/f0").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val q = StreamMask.rrReleaseStream(stream, "v", "k", pNum = 3,
      pDen = 4, seed = "rrs19", domain = domain,
      outPath = s"$base/out", checkpoint = s"$base/ckpt")
    q.awaitTermination(120000)
    val landed = s.read.parquet(s"$base/out")
    assert(landed.select(ExactlyOnceSink.BatchIdCol).distinct().count()
      == 2, "expected exactly the two micro-batches")
    val got = landed.select("k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == batchRel,
      "streamed RR release diverged from the batch mechanism")
    // the mechanism actually flipped something (deterministic fixture)
    assert(got != rows.toSet, "release identical to input — no coin ran")
    // batch-equivalence also proves the batch entry point agrees when
    // its self-derived domain equals the fixed one (same distinct set)
    val selfDomain = Privacy.randomizedResponse(
        df, "v", "k", pNum = 3, pDen = 4, seed = "rrs19")
      .select("k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(selfDomain == batchRel)
  }

  test("Privacy.suppress keeps exactly the rows in groups of size >= k") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4), ("c", 5), ("c", 6))
      .toDF("qi", "v")
    val out = Privacy.suppress(df, Seq("qi"), k = 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("a", 1), ("a", 2), ("a", 3), ("c", 5), ("c", 6)))
    // k = 1 keeps everything; schema unchanged
    assert(Privacy.suppress(df, Seq("qi"), 1).count() == 6)
    assert(Privacy.suppress(df, Seq("qi"), 2).columns.toSeq ==
      Seq("qi", "v"))
  }

  test("Privacy.suppressLowDiversity keeps exactly the groups with " +
      ">= l distinct sensitive values — the leak k alone misses") {
    val s = spark
    import s.implicits._
    // group a: 3 rows but ONE sensitive value (k-anonymous, l-leaky);
    // group b: 2 rows, 2 values; group c: 3 rows, 2 values
    val df = Seq(("a", "flu"), ("a", "flu"), ("a", "flu"),
      ("b", "flu"), ("b", "hiv"), ("c", "flu"), ("c", "hiv"),
      ("c", "flu")).toDF("qi", "dx")
    val out = Privacy.suppressLowDiversity(df, Seq("qi"), "dx", l = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.map(_._1).toSet == Set("b", "c") && out.length == 5)
    // contrast: plain k-suppression at k = 3 KEEPS the leaky group a
    assert(Privacy.suppress(df, Seq("qi"), 3).collect()
      .exists(_.getString(0) == "a"))
    // l = 1 keeps everything; schema unchanged
    assert(Privacy.suppressLowDiversity(df, Seq("qi"), "dx", 1)
      .count() == 8)
    assert(Privacy.suppressLowDiversity(df, Seq("qi"), "dx", 2)
      .columns.toSeq == Seq("qi", "dx"))
    intercept[IllegalArgumentException] {
      Privacy.suppressLowDiversity(df, Seq.empty, "dx", 2)
    }
    intercept[IllegalArgumentException] {
      Privacy.suppressLowDiversity(df, Seq("qi"), "dx", 0)
    }
  }

  test("geometricNoisyCounts: exact thresholds, bounded symmetric " +
      "noise, deterministic, clamped at zero, ~geometric mass") {
    val s = spark
    import s.implicits._
    // threshold invariants: strictly monotone CDF, t.last = 2^48,
    // symmetry of the two-sided weights around z = 0
    val t = Privacy.geometricThresholds(1, 2, bound = 40)
    assert(t.length == 81 && t.last == (1L << 48))
    assert(t.sliding(2).forall(p => p(0) < p(1)), "CDF must be strict")
    val probs = t.head +: t.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(probs.zip(probs.reverse).forall { case (a, b) =>
      math.abs(a - b) <= 1 }, "two-sided symmetry (ulp of quantization)")
    // mechanism over 1000 single-row groups
    val df = (1L to 1000L).map(i => (i, "x")).toDF("g", "v")
    val out = Privacy.geometricNoisyCounts(df, Seq("g"), 1, 2, "sp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // releases are clamped at zero and within truth ± bound
    assert(out.values.forall(n => n >= 0L && n <= 1L + 40L))
    // noise mass: P(z = 0) = (1-a)/(1+a) = 1/3 at a = 1/2; with the
    // 0-clamp a single-row group shows n = 1 iff z = 0 OR z <= -1
    // collapsed... n == 1 exactly when z == 0, n == 0 when z <= -1
    val zeroNoise = out.values.count(_ == 1L)
    assert(zeroNoise > 250 && zeroNoise < 420,
      s"P(z=0) should be ~1/3, got $zeroNoise/1000")
    val clamped = out.values.count(_ == 0L)
    assert(clamped > 250 && clamped < 420,
      s"P(z<=-1) should be ~1/3, got $clamped/1000")
    // deterministic
    val again = Privacy.geometricNoisyCounts(df, Seq("g"), 1, 2, "sp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
    // a different seed draws different noise
    val other = Privacy.geometricNoisyCounts(df, Seq("g"), 1, 2, "sq")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(other != out)
    intercept[IllegalArgumentException] {
      Privacy.geometricThresholds(2, 2, 40) // alpha must be < 1
    }
    intercept[IllegalArgumentException] {
      Privacy.geometricNoisyCounts(df, Seq.empty, 1, 2, "sp")
    }
  }

  test("Privacy.generalizeNumeric emits [lo,hi) labels incl. negatives") {
    val s = spark
    import s.implicits._
    val df = Seq(-994.28, 0.0, 999.99, 1000.0, 9997.41).toDF("x")
    val got = Privacy.generalizeNumeric(df, "x", 1000, "r")
      .select("r").collect().map(_.getString(0)).toSeq
    assert(got == Seq("[-1000,0)", "[0,1000)", "[0,1000)", "[1000,2000)",
      "[9000,10000)"))
    intercept[IllegalArgumentException] {
      Privacy.generalizeNumeric(df, "x", 0, "r")
    }
  }

  test("Privacy.tCloseness matches a hand-computed integer EMD") {
    val s = spark
    import s.implicits._
    // group A: bins (1,1,2); group B: bin (3). Global: N=4, m=3,
    // cumG = (2,3,4). A (n=3): cum (2,3,3) -> |8-6|+|12-9|+|12-12| = 5,
    // den 4*3*2 = 24. B (n=1): cum (0,0,1) -> |0-2|+|0-3|+|4-4| = 5,
    // den 4*1*2 = 8. At t = 1/4: A 20 > 24 false, B 20 > 8 true.
    val df = Seq(("A", 1L), ("A", 1L), ("A", 2L), ("B", 3L))
      .toDF("qi", "bin")
    val out = Privacy.tCloseness(df, Seq("qi"), "bin", 1, 4)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("group_size"), r.getAs[Long]("emd_num"),
          r.getAs[Double]("t_closeness"), r.getAs[Boolean]("t_at_risk"))))
      .toMap
    assert(out("A") == ((3L, 5L, 5.0 / 24.0, false)))
    assert(out("B") == ((1L, 5L, 5.0 / 8.0, true)))
  }

  test("tCloseness: identical group distribution has EMD 0") {
    val s = spark
    import s.implicits._
    // both groups have the exact global shape -> emd_num 0, never at risk
    val df = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 2L))
      .toDF("qi", "bin")
    val out = Privacy.tCloseness(df, Seq("qi"), "bin", 0, 1)
      .collect()
    assert(out.forall(_.getAs[Long]("emd_num") == 0L))
    // tNum = 0: any positive EMD would flag; zero EMD must not (strict >)
    assert(out.forall(!_.getAs[Boolean]("t_at_risk")))
  }

  test("Privacy.utility: discernibility and normalized avg group size") {
    val s = spark
    import s.implicits._
    // groups of size 3, 1, 2: dm = 9 + 1 + 4 = 14; c_avg = (6/3)/2 = 1.0
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4), ("c", 5),
      ("c", 6)).toDF("qi", "v")
    val r = Privacy.utility(df, Seq("qi"), k = 2).collect()(0)
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("k_achieved") == 1L)
    assert(r.getAs[Long]("dm") == 14L)
    assert(r.getAs[Double]("c_avg") == 1.0)
  }

  test("mondrian: every leaf >= k, rows inside boxes, deterministic, " +
      "and no leaf still strictly splittable") {
    val s = spark
    import s.implicits._
    val fix = spark.read.parquet(s"$fixtures/customer.parquet")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val dims = Seq("c_nationkey", "c_acctbal")
    val out = Privacy.mondrian(fix, dims, k = 20)
    val rows = out.collect()
    assert(rows.length == fix.count(), "row-preserving")
    // (1) every leaf >= k
    val leaves = rows.groupBy(_.getAs[Long]("pid"))
    assert(leaves.nonEmpty && leaves.size > 1, "should actually split")
    leaves.foreach { case (p, rs) =>
      assert(rs.length >= 20, s"leaf $p has ${rs.length} < k rows")
    }
    // (2) every row inside its leaf's released box
    rows.foreach { r =>
      dims.foreach { d =>
        val v = r.getAs[Any](d) match {
          case i: Int => i.toDouble; case l: Long => l.toDouble
          case x: Double => x
        }
        assert(v >= r.getAs[Double](s"${d}_lo") &&
          v <= r.getAs[Double](s"${d}_hi"), s"$d=$v outside box")
      }
    }
    // (3) deterministic: identical partition assignment on a rerun
    val again = Privacy.mondrian(fix, dims, k = 20)
      .select("c_custkey", "pid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = rows.map(r =>
      r.getAs[Long]("c_custkey") -> r.getAs[Long]("pid")).toMap
    assert(first == again)
    // (4) strict Mondrian termination: no leaf has a dimension whose
    // <=-median split would leave k on both sides (median = an actual
    // element at the exact middle quantile, as the operator computes)
    leaves.foreach { case (p, rs) =>
      dims.foreach { d =>
        val vs = rs.map(_.getAs[Any](d) match {
          case i: Int => i.toDouble; case l: Long => l.toDouble
          case x: Double => x
        }).sorted
        val med = vs((0.5 * (vs.length - 1)).toInt)
        val lhs = vs.count(_ <= med)
        assert(lhs < 20 || vs.length - lhs < 20,
          s"leaf $p still splittable on $d (lhs=$lhs of ${vs.length})")
      }
    }
    // (5) the adaptive boxes beat one giant group on discernibility
    val dmOne = rows.length.toLong * rows.length
    val dmMondrian = leaves.values.map(rs =>
      rs.length.toLong * rs.length).sum
    // 150 fixture rows at k = 20 cap the leaf count at 7, so the best
    // possible dm is ~n²/7; demand at least a 4× cut
    assert(dmMondrian < dmOne / 4, s"dm $dmMondrian vs $dmOne")
  }

  test("mondrian scale knobs: GK-sketch medians and a round cap both " +
      "preserve the k/containment/row-preservation invariants") {
    val fix = spark.read.parquet(s"$fixtures/customer.parquet")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val dims = Seq("c_nationkey", "c_acctbal")
    def checkInvariants(out: org.apache.spark.sql.DataFrame,
        k: Int): Map[Long, Int] = {
      val rows = out.collect()
      assert(rows.length == fix.count(), "row-preserving")
      val leaves = rows.groupBy(_.getAs[Long]("pid"))
      leaves.foreach { case (p, rs) =>
        assert(rs.length >= k, s"leaf $p has ${rs.length} < k rows")
      }
      rows.foreach { r =>
        dims.foreach { d =>
          val v = r.getAs[Any](d) match {
            case i: Int => i.toDouble; case l: Long => l.toDouble
            case x: Double => x
          }
          assert(v >= r.getAs[Double](s"${d}_lo") &&
            v <= r.getAs[Double](s"${d}_hi"), s"$d=$v outside box")
        }
      }
      leaves.map { case (p, rs) => p -> rs.length }
    }
    // the 100 TB path: GK-sketch medians instead of exact buffering —
    // cuts may differ from exact mode, but every release invariant
    // (and determinism) must hold identically
    val sketch = Privacy.mondrian(fix, dims, k = 20,
      exactMedians = false)
    val leaves1 = checkInvariants(sketch, 20)
    assert(leaves1.size > 1, "sketch medians should still split")
    val again = checkInvariants(
      Privacy.mondrian(fix, dims, k = 20, exactMedians = false), 20)
    assert(leaves1 == again, "sketch-median recursion must be " +
      "deterministic (fixed accuracy, same data)")
    // a round cap stops the recursion early but releases a VALID
    // shallower partition: one round = at most one split level
    val capped = Privacy.mondrian(fix, dims, k = 20, maxRounds = 1)
    val leaves2 = checkInvariants(capped, 20)
    assert(leaves2.size <= 2, s"one round allows at most one split " +
      s"(got pids ${leaves2.keys.toSeq.sorted})")
    intercept[IllegalArgumentException] {
      Privacy.mondrian(fix, dims, k = 20, maxRounds = 0)
    }
    intercept[IllegalArgumentException] {
      Privacy.mondrian(fix, dims, k = 20, maxRounds = 61)
    }
  }

  test("mondrianAudited: the split trace is internally consistent and " +
      "every GK-path cut honours the sketch rank contract") {
    val fix = spark.read.parquet(s"$fixtures/customer.parquet")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val dims = Seq("c_nationkey", "c_acctbal")
    val (out, splits) = Privacy.mondrianAudited(fix, dims, k = 20,
      exactMedians = false)
    assert(splits.nonEmpty, "fixture should split at least once")
    splits.foreach { sp =>
      // rank interval is well-formed and both children kept >= k
      assert(sp.lt <= sp.le && sp.le <= sp.n, s"bad interval: $sp")
      assert(sp.le >= 20 && sp.n - sp.le >= 20,
        s"split left a child under k: $sp")
      // the GK contract the q_mondrian_gk gate pins: the cut's exact
      // rank interval straddles n/2 within n/accuracy (+1 slack)
      val slack = sp.n.toDouble / Privacy.MondrianGkAccuracy + 1.0
      assert(sp.lt + 1 <= sp.n * 0.5 + slack &&
        sp.le >= sp.n * 0.5 - slack,
        s"sketch median outside its rank bound: $sp")
    }
    // root split's n covers the whole input; release is row-preserving
    assert(splits.head.n == fix.count())
    assert(out.count() == fix.count())
    // the audit does not change the release: same leaves as mondrian()
    val plain = Privacy.mondrian(fix, dims, k = 20,
      exactMedians = false)
      .groupBy("pid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val audited = out.groupBy("pid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == audited)
  }

  test("randomizedResponse: deterministic, domain-valued, p=1 identity") {
    val s = spark
    import s.implicits._
    val df = (1L to 400L).map(i => (i, if (i % 3 == 0) "A"
      else if (i % 3 == 1) "B" else "C")).toDF("id", "v")
    val r1 = Privacy.randomizedResponse(df, "v", "id", 3, 4, "s1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // deterministic: a second run is identical
    val r2 = Privacy.randomizedResponse(df, "v", "id", 3, 4, "s1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r1 == r2)
    // every released value is in the domain; some rows actually flipped
    assert(r1.values.toSet.subsetOf(Set("A", "B", "C")))
    val truth = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val flipped = r1.count { case (k, v) => truth(k) != v }
    assert(flipped > 0, "p=3/4 over 400 rows should flip some values")
    // p = 1 releases the truth verbatim; schema/columns unchanged
    val id = Privacy.randomizedResponse(df, "v", "id", 1, 1, "s1")
    assert(id.columns.toSeq == Seq("id", "v"))
    assert(id.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == truth)
    intercept[IllegalArgumentException] {
      Privacy.randomizedResponse(df, "v", "id", 5, 4, "s1")
    }
  }

  test("rrEstimate recovers frequencies within sampling noise") {
    val s = spark
    import s.implicits._
    // skewed truth: 600 A, 300 B, 100 C
    val df = (1L to 1000L).map(i => (i, if (i <= 600) "A"
      else if (i <= 900) "B" else "C")).toDF("id", "v")
    val released = Privacy.randomizedResponse(df, "v", "id", 3, 4, "s2")
    val est = Privacy.rrEstimate(released, "v", 3, 4)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("n_est"))
      .toMap
    // unbiased estimator, n = 1000: each estimate within ~5 sigma
    // (sigma <= ~20 here) of the truth
    assert(math.abs(est("A") - 600) < 100, est.toString)
    assert(math.abs(est("B") - 300) < 100, est.toString)
    assert(math.abs(est("C") - 100) < 100, est.toString)
    // estimates of a full release sum to ~n
    assert(math.abs(est.values.sum - 1000.0) < 1e-6)
  }

  test("rrEstimate with the mechanism's true domain size: a domain " +
      "value absent from the release no longer shrinks |D|") {
    val s = spark
    import s.implicits._
    // a release where domain value "C" happens never to appear:
    // released-distinct sees |D| = 2, but the mechanism ran with
    // |D| = 3 — the estimator must use the mechanism's |D|
    val released = (1L to 10L).map(i => (i, if (i <= 6) "A" else "B"))
      .toDF("id", "v")
    // p = 3/4 is exact at the 2^48 threshold, so the estimates are
    // pure closed-form arithmetic: (obs - n(1-p)/|D|) / p
    val withTrue = Privacy.rrEstimate(released, "v", 3, 4,
        domainSize = Some(3L))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("n_est"))
      .toMap
    assert(withTrue("A") == (6.0 - 10.0 * 0.25 / 3.0) / 0.75,
      withTrue.toString)
    // the released-distinct fallback (documented approximation) uses
    // |D| = 2 and lands on a different, more-biased value
    val fallback = Privacy.rrEstimate(released, "v", 3, 4)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("n_est"))
      .toMap
    assert(fallback("A") == (6.0 - 10.0 * 0.25 / 2.0) / 0.75,
      fallback.toString)
    intercept[IllegalArgumentException] {
      Privacy.rrEstimate(released, "v", 3, 4, domainSize = Some(0L))
    }
  }

  // checks the fold's Verifier beside boundedLev, over code points
  test("property: boundedLev == full Levenshtein DP capped at maxDist") {
    import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}
    def lev(a: Array[Int], b: Array[Int]): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    // ASCII, a Latin-1 letter (flat mask table), a BMP letter past it
    // and an astral letter (both in the verifier's small lookup)
    val cp = SGen.oneOf(
      Seq("a", "b", "c", "\u00e9", "\u0436", "\uD83D\uDE00")
        .map(_.codePointAt(0)))
    // 63/64/65 code points sit on both sides of the one-word pattern
    val word = SGen.oneOf(SGen.choose(0, 10), SGen.oneOf(63, 64, 65))
      .flatMap(n => SGen.listOfN(n, cp))
    // an edited copy lands near the cap, where an unrelated long word
    // would only test the length gap and the early exit
    def edited(w: List[Int]): SGen[List[Int]] =
      SGen.choose(0, 5).flatMap(k => (1 to k).foldLeft(SGen.const(w)) {
        (g, _) => for {
          v <- g; op <- SGen.choose(0, 2); i <- SGen.choose(0, v.length)
          c <- cp
        } yield op match {
          case 0 => v.patch(i, Seq(c), 0)
          case 1 => v.patch(i, Nil, 1)
          case _ => v.patch(i, Seq(c), 1)
        }
      })
    val pair = for {
      a <- word; b <- SGen.oneOf(word, edited(a))
    } yield (a.toArray, b.toArray)
    // one verifier for every case: a new pattern must clear the last one
    val v = new Linkage.Verifier
    def str(w: Array[Int]) = new String(w, 0, w.length)
    val prop = Prop.forAllNoShrink(pair, SGen.choose(1, 4)) {
      case ((a, b), d) =>
        val want = { val l = lev(a, b); if (l <= d) l else -1 }
        v.pattern(a)
        val ab = v(b, d)
        v.pattern(b)
        val ba = v(a, d)
        Prop(Linkage.boundedLev(str(a), str(b), d) == want && ab == want &&
          ba == want) :| s"a=${str(a)} b=${str(b)} d=$d want=$want " +
          s"verifier=($ab, $ba)"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
    // the empty/length-gap edges explicitly
    assert(Linkage.boundedLev("", "", 1) == 0)
    assert(Linkage.boundedLev("ab", "", 2) == 2)
    assert(Linkage.boundedLev("", "ab", 2) == 2)
    assert(Linkage.boundedLev("ab", "", 1) == -1)
    assert(Linkage.boundedLev("aaab", "b", 3) == 3)
    // a supplementary character is one edit, not two UTF-16 units
    assert(Linkage.boundedLev("\uD83D\uDE00a", "xa", 1) == 1)
    v.pattern(Array.emptyIntArray)
    assert(v(Array(97, 98), 2) == 2 && v(Array(97, 98), 1) == -1)
  }

  test("property: blocking completeness — selfPairs == brute force on " +
      "random corpora at d = 1 and d = 2") {
    import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}
    val s = spark
    import s.implicits._
    def lev(sa: String, sb: String): Int = {
      val (a, b) = (sa.codePoints().toArray, sb.codePoints().toArray)
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    // tiny alphabet + short strings => dense near-neighborhoods, the
    // adversarial case for candidate generation; the astral letter is
    // one code point but two UTF-16 units
    val word = SGen.choose(1, 6).flatMap(n =>
      SGen.listOfN(n, SGen.oneOf("a", "b", "c", "\uD83D\uDE00"))
        .map(_.mkString))
    val corpus = SGen.choose(2, 12).flatMap(n => SGen.listOfN(n, word))
    val dist = SGen.oneOf(1, 2)
    // name_a < name_b in Spark's (UTF-8 byte) string order
    def utf8(x: String) = org.apache.spark.unsafe.types.UTF8String.fromString(x)
    val prop = Prop.forAll(corpus, dist) { (ws, d) =>
      val names = ws.distinct
      val got = Linkage.selfPairs(names.toDF("w"), "w", d)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        .toSet
      val want = (for {
        a <- names; b <- names if utf8(a).compareTo(utf8(b)) < 0
        dd = lev(a, b) if dd <= d
      } yield (a, b, dd)).toSet
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("selfPairs plan has no cartesian product and no all-pairs join") {
    val df = spark.read.parquet(s"$fixtures/customer.parquet")
    val plan = Linkage.selfPairs(df, "c_name", 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
