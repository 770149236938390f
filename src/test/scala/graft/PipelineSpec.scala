package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Materialize, Multimodal, Similarity, TextOps}

/** Behavior checks on the LLM-pipeline operators beyond the SQL oracles:
  * recall on the planted near-duplicates, plan-shape guarantees (no
  * cartesian products), determinism of the stubbed multimodal decode.
  */
class PipelineSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$fixtures/documents.parquet")
  private def embeddings = spark.read.parquet(s"$fixtures/embeddings.parquet")

  test("substring dedup cuts non-canonical duplicated spans, merges " +
      "overlaps, keeps canonicals") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "abcdefghij"),   // canonical home of "abcde" — untouched
      (2L, "XXabcdeYY"),    // one cut span [3,8) -> "XXYY"
      (3L, "qwertqwert"),   // self-dup: pos 6 duplicates pos 1
      (4L, "abcdefghij"),   // exact copy of doc 1 -> cleans to ""
      (5L, "abc"),          // shorter than the gram — untouched
      (6L, "zzzzqqqqwwww")  // no 5-gram shared with anything
    ).toDF("doc_id", "text")
    val iv = Dedup.substringRemovalIntervals(df, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    // doc 4's grams at pos 1..6 all duplicate doc 1's — overlapping
    // spans [1,6)..[6,11) merge into ONE interval [1,11)
    assert(iv == Seq((2L, 3, 8), (3L, 6, 11), (4L, 1, 11)), iv.toString)
    val clean = Dedup.dropDuplicateSubstrings(df, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    assert(clean(1L) == (("abcdefghij", 0)))
    assert(clean(2L) == (("XXYY", 5)))
    assert(clean(3L) == (("qwert", 5)))
    assert(clean(4L) == (("", 10)), "all-covered doc must clean to ''")
    assert(clean(5L) == (("abc", 0)))
    assert(clean(6L) == (("zzzzqqqqwwww", 0)))
  }

  test("substring dedup occurrence marking is an aggregate + join — " +
      "never a window partitioned by the gram hash") {
    val iv = Dedup.substringRemovalIntervals(docs, "doc_id", "text", 40)
    // a `partition by __g` window would single-task a hot boilerplate
    // gram's entire occurrence list; the marking must instead be a
    // per-gram aggregate (map-side partials) + AQE-splittable join.
    // The only windows allowed are the doc-keyed island merge.
    val windows = iv.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "island merge still windows by doc")
    windows.foreach { w =>
      val parts = w.partitionSpec.map(_.toString)
      assert(!parts.exists(_.contains("__g")),
        s"window partitioned on the gram hash: $parts")
      assert(parts.exists(_.contains("__doc")),
        s"expected doc-keyed window, got: $parts")
    }
    val plan = iv.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"))
  }

  test("substring dedup survives a pathologically hot gram (one gram " +
      "owning nearly every position)") {
    val s = spark
    import s.implicits._
    // doc 0: 100×'A' — positions 1..96 are all the SAME 5-gram, the
    // worst-case hot key; docs 1..200 are identical copies of one text
    // so every gram of every copy duplicates doc 1's
    val hot = Seq(0L -> ("A" * 100)) ++
      (1L to 200L).map(_ -> "the same boilerplate body")
    val df = hot.toDF("doc_id", "text")
    val clean = Dedup.dropDuplicateSubstrings(df, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    // canonical occurrence of the hot gram is (0, 1); removals at
    // pos 2..96 merge into [2,101) -> one surviving 'A'
    assert(clean(0L) == (("A", 99)), clean(0L).toString)
    // doc 1 is the canonical home of the copied text — untouched
    assert(clean(1L) == (("the same boilerplate body", 0)))
    // every later copy is fully covered and cleans to ""
    (2L to 200L).foreach { id =>
      assert(clean(id) == (("", 25)), s"doc $id: ${clean(id)}")
    }
  }

  test("span decontamination cuts benchmark quotes, not documents") {
    val s = spark
    import s.implicits._
    val bench = Seq((100L, "the secret benchmark answer is fourty-two"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // quotes the whole benchmark line mid-document
      (1L, "intro text here the secret benchmark answer is fourty-two and outro"),
      (2L, "completely unrelated content with no overlap at all"),
      // IS the benchmark text exactly -> cleans to ""
      (3L, "the secret benchmark answer is fourty-two")
    ).toDF("doc_id", "text")
    val got = Dedup.removeBenchmarkSpans(corpus, bench, "doc_id",
        "text", 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    // every 10-gram of the quote matches the benchmark, so the merged
    // interval covers exactly the quoted span
    assert(got(1L)._1 == "intro text here  and outro", got(1L).toString)
    assert(got(2L) == (("completely unrelated content with no overlap " +
      "at all", 0)))
    assert(got(3L) == (("", 41)))
    // unlike doc-level decontamination, the quoting doc SURVIVES
    assert(got(1L)._1.nonEmpty)
  }

  test("narrow span decontamination equals the relational path on the " +
      "fixture corpus") {
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val rel = res(Dedup.removeBenchmarkSpans(corpus, bench,
      "doc_id", "text", 25))
    val nar = res(Dedup.removeBenchmarkSpansNarrow(corpus, bench,
      "doc_id", "text", 25))
    assert(rel == nar, "narrow and relational paths must agree")
    assert(rel.exists(_._3 > 0), "fixture must have contaminated spans")
    // the narrow path is plan-thin: no exchange, no generator explode
    val plan = Dedup.removeBenchmarkSpansNarrow(corpus, bench,
      "doc_id", "text", 25).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"narrow path must not shuffle:\n$plan")
  }

  test("narrow span decontamination counts codepoints: astral-plane " +
      "parity with the relational path") {
    val s = spark
    import s.implicits._
    // 𝕏 (U+1D54F) and 🦀 (U+1F980) are surrogate PAIRS in UTF-16 —
    // any UTF-16-unit indexing would slice mid-pair and diverge from
    // the relational path's codepoint substr
    val bench = Seq((100L, "𝕏𝕏 secret answer 🦀🦀"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix 𝕏𝕏 secret answer 🦀🦀 suffix"),
      (2L, "𝕏 unrelated 🦀 with no full gram overlap"),
      (3L, "𝕏𝕏 secret answer 🦀🦀")
    ).toDF("doc_id", "text")
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val rel = res(Dedup.removeBenchmarkSpans(corpus, bench,
      "doc_id", "text", 8))
    val nar = res(Dedup.removeBenchmarkSpansNarrow(corpus, bench,
      "doc_id", "text", 8))
    assert(rel == nar, s"astral parity:\nrel=$rel\nnar=$nar")
    assert(rel.exists(_._3 > 0), "astral fixture must cut something")
  }

  test("Materialize.release destroys drained benchmark broadcasts " +
      "once and only once") {
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0).limit(10)
    Materialize.release() // drain leftovers from other tests
    // hold the frames: a dropped frame's broadcast may be GC-collected
    // (weak registry) and then drains silently — also correct, but not
    // what this test pins
    val f1 = Dedup.removeBenchmarkSpansNarrow(corpus, bench, "doc_id",
      "text", 25)
    val f2 = Dedup.bloomContaminationHits(corpus, bench, "doc_id", "text")
    f1.count(); f2.count()
    val n = Materialize.release()
    assert((f1, f2) != null) // keep the frames strongly reachable
    assert(n == 2, s"expected gram-set + bloom broadcasts, got $n")
    assert(Materialize.release() == 0, "second drain is empty")
    // destroyed, not just dropped: a frame still reading one fails loudly
    val e = intercept[Exception](f1.collect())
    assert(e.toString.contains("destroyed") ||
      Option(e.getCause).exists(_.toString.contains("destroyed")), e)
  }

  test("line dedup accounts a null-text doc as ('', 0), not a null " +
      "count") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Option("a\nb\na")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val got = Dedup.dropDuplicateLines(df, "doc_id", "text", 1)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.isNullAt(2),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got(1L) == (("a\nb\na", false, 0L)), got(1L).toString)
    assert(got(2L) == (("", false, 0L)),
      s"null text must report ('', 0): ${got(2L)}")
  }

  test("substring dedup md5/xxhash64 families agree on the fixture " +
      "corpus") {
    def ivSet(f: => org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val a = ivSet(Dedup.substringRemovalIntervals(docs, "doc_id", "text", 40))
    val b = ivSet(Dedup.substringRemovalIntervals64(docs, "doc_id", "text", 40))
    assert(a == b, "hash family must not change the removal intervals")
    assert(a.nonEmpty)
  }

  test("substring dedup on the fixture corpus: removal accounting " +
      "holds and canonicals survive") {
    val cleaned = Dedup.dropDuplicateSubstrings(docs, "doc_id", "text", 40)
      .collect()
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    cleaned.foreach { r =>
      val (id, ct, n) = (r.getLong(0), r.getString(1), r.getInt(2))
      assert(orig(id).length - ct.length == n, s"doc $id accounting")
    }
    assert(cleaned.exists(_.getInt(2) > 0), "fixture must have dups")
    assert(cleaned.count(_.getInt(2) == 0) > cleaned.length / 2,
      "most docs should be untouched at gramLen=40")
  }

  test("domain mix: saturating rates, shortfall accounting, untargeted " +
      "domains drop, budget monotone") {
    import graft.pipeline.Sampling
    val s = spark
    import s.implicits._
    // web: 10k tokens avail; books: 1k; junk: untargeted; news: targeted
    // but absent from the corpus
    val rows = (0L until 1000L).map { i =>
      val d = if (i < 500) "web" else if (i < 900) "books" else "junk"
      (i, d, 20L + (i % 5))
    }
    val df = rows.toDF("id", "domain", "toks")
    val targets = Map("web" -> 0.3, "books" -> 0.6, "news" -> 0.1)
    val budget = 20000L
    val plan = Sampling.domainMixPlan(df, "domain", col("toks"),
        targets, budget)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val webAvail = rows.filter(_._2 == "web").map(_._3).sum
    val booksAvail = rows.filter(_._2 == "books").map(_._3).sum
    // books: target 12000 > avail 8800 -> rate saturates, shortfall
    assert(plan("books")._1 == booksAvail)
    assert(plan("books")._3 == 1.0)
    assert(plan("books")._4 == 12000.0 - booksAvail)
    // web: fractional rate, zero shortfall
    assert(math.abs(plan("web")._3 - 6000.0 / webAvail) < 1e-12)
    assert(plan("web")._4 == 0.0)
    // untargeted corpus domain: rate 0; targeted absent domain: full
    // shortfall row with nothing available
    assert(plan("junk")._3 == 0.0)
    assert(plan("news") == ((0L, 2000.0, 0.0, 2000.0)))
    val kept = Sampling.sampleToMix(df, col("id"), "domain",
      col("toks"), targets, budget).collect()
    assert(!kept.exists(_.getString(1) == "junk"), "junk must drop")
    assert(kept.count(_.getString(1) == "books") == 400,
      "saturated domain keeps everything")
    val webMass = kept.filter(_.getString(1) == "web")
      .map(_.getLong(2)).sum.toDouble
    assert(math.abs(webMass - 6000.0) < 900.0,
      s"web kept mass $webMass should approximate its 6000 target")
    // monotone: a bigger budget only adds rows
    val keptIds = kept.map(_.getLong(0)).toSet
    val wider = Sampling.sampleToMix(df, col("id"), "domain",
        col("toks"), targets, budget * 2)
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.subsetOf(wider))
    // the scale claim, pinned: the plan rides in broadcast — the corpus
    // is never shuffled for the keep decision
    val plan2 = Sampling.sampleToMix(df, col("id"), "domain",
      col("toks"), targets, budget).queryExecution.executedPlan.toString
    assert(plan2.contains("BroadcastHashJoin"),
      s"mix keep set must broadcast the plan:\n$plan2")
    assert(!plan2.contains("Cartesian"))
  }

  test("upsampleToMix: shortfall domains repeat floor(rate) times " +
      "plus a salted fractional copy, rate<=1 degrades to one " +
      "thresholded copy, untargeted domains drop, deterministic") {
    import graft.pipeline.Sampling
    val s = spark
    import s.implicits._
    val df = (0L until 1000L).map { i =>
      (i, if (i < 100) "books" else if (i < 900) "web" else "junk", 10L)
    }.toDF("id", "domain", "toks")
    // books: avail 1000, target 2500 -> rate 2.5 (copies 0,1 always;
    // copy 2 ~50%); web: avail 8000, target 4000 -> rate 0.5 (one
    // thresholded copy 0); junk untargeted -> absent
    val targets = Map("books" -> 0.5, "web" -> 0.8)
    val out = Sampling.upsampleToMix(df, col("id"), "domain",
      col("toks"), targets, 5000L).collect()
    assert(!out.exists(_.getString(1) == "junk"), "junk must drop")
    val books = out.filter(_.getString(1) == "books")
    books.groupBy(_.getLong(0)).foreach { case (id, rs) =>
      val cs = rs.map(_.getLong(3)).sorted.toSeq
      assert(cs.take(2) == Seq(0L, 1L) && cs.size <= 3,
        s"books doc $id copies $cs")
    }
    val booksMass = books.length * 10.0
    assert(math.abs(booksMass - 2500.0) < 220.0,
      s"books kept mass $booksMass should approximate its 2500 target")
    val web = out.filter(_.getString(1) == "web")
    assert(web.forall(_.getLong(3) == 0L),
      "rate<=1 must never emit copy > 0")
    val webMass = web.length * 10.0
    assert(math.abs(webMass - 4000.0) < 450.0,
      s"web kept mass $webMass should approximate its 4000 target")
    // stable under re-evaluation (pure hash decisions, no RNG state)
    val again = Sampling.upsampleToMix(df, col("id"), "domain",
      col("toks"), targets, 5000L).collect()
    assert(out.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
  }

  test("length buckets: exact power-of-two caps, integer waste " +
      "accounting, zero/one-token edges") {
    import graft.pipeline.Packing
    val s = spark
    import s.implicits._
    // caps: 0->0, 1->1, 2->2, 3->4, 4->4, 5->8, 8->8, 9->16, 1023->1024,
    // 1024->1024, 1025->2048
    val caps = Seq(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 4L, 4L -> 4L,
      5L -> 8L, 8L -> 8L, 9L -> 16L, 1023L -> 1024L, 1024L -> 1024L,
      1025L -> 2048L)
    val got = caps.map(_._1).toDF("n")
      .select(col("n"), Packing.pow2Cap(col("n")).as("cap"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    caps.foreach { case (n, want) =>
      assert(got(n) == want, s"pow2Cap($n) = ${got(n)}, want $want")
    }
    // waste accounting on a hand frame: docs of 3, 4 tokens share
    // cap 4 (sum 7, padded 8, waste 1/8); one 5-token doc pads to 8
    val frame = Packing.lengthBuckets(
        Seq(3L, 4L, 5L).toDF("t"), col("t"))
      .orderBy("cap")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(frame == Seq((4L, 2L, 7L, 8L, 1.0 / 8.0),
      (8L, 1L, 5L, 8L, 3.0 / 8.0)), s"got $frame")
    // empty docs land in cap 0 with zero waste, not a divide error
    val zero = Packing.lengthBuckets(Seq(0L, 0L).toDF("t"), col("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(zero.toSeq == Seq((0L, 2L, 0.0)))
  }

  test("temperature mix: dyadic sqrt-chain power tracks pow, " +
      "alpha=1 proportional, alpha<1 flattens shares, non-dyadic " +
      "alpha raises, keep set realises the derived plan broadcast") {
    import graft.pipeline.Sampling
    val s = spark
    import s.implicits._
    // the sqrt-chain == Math.pow to well under a part in 1e12 on a
    // grid spanning the small-count and big-count regimes
    for (a <- Seq(0.25, 0.5, 0.75, 0.875, 3.0 / 256, 1.0);
        x <- Seq(1.0, 2.0, 10.0, 123.456, 88000.0, 1.0e9)) {
      val got = spark.range(1)
        .select(Sampling.dyadicPow(lit(x), a)).head().getDouble(0)
      assert(math.abs(got - math.pow(x, a)) <= 1e-12 * math.pow(x, a),
        s"x=$x a=$a got=$got want=${math.pow(x, a)}")
    }
    // non-dyadic and out-of-range temperatures raise loudly
    intercept[IllegalArgumentException](Sampling.dyadicPow(lit(2.0), 0.3))
    intercept[IllegalArgumentException](Sampling.dyadicPow(lit(2.0), 0.0))
    intercept[IllegalArgumentException](Sampling.dyadicPow(lit(2.0), 1.5))
    // web has 10x books' token mass
    val df = (0L until 1100L).map { i =>
      (i, if (i < 1000) "web" else "books", 10L)
    }.toDF("id", "domain", "toks")
    // alpha=1 is exactly proportional sampling
    val p1 = Sampling.temperatureMixPlan(df, "domain", col("toks"),
        1.0, 5000L)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(p1("web") - 10000.0 / 11000.0) < 1e-15)
    assert(math.abs(p1("books") - 1000.0 / 11000.0) < 1e-15)
    // alpha=0.5 flattens: the low-resource share rises, shares sum
    // to 1, and the value is the closed-form sqrt ratio
    val p5 = Sampling.temperatureMixPlan(df, "domain", col("toks"),
        0.5, 5000L)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(p5("books") > p1("books") && p5("web") < p1("web"))
    assert(math.abs(p5("books") + p5("web") - 1.0) < 1e-12)
    val expBooks =
      math.sqrt(1000.0) / (math.sqrt(1000.0) + math.sqrt(10000.0))
    assert(math.abs(p5("books") - expBooks) < 1e-12)
    // the keep set realises the derived rates: books' target
    // (~1201 tokens) exceeds its 1000 avail -> rate saturates, all
    // kept; web keeps ~its target mass. Plan stays broadcast-shaped.
    val kept = Sampling.sampleToTemperatureMix(df, col("id"),
      "domain", col("toks"), 0.5, 5000L)
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("Cartesian"),
      s"temperature keep set must broadcast the plan:\n$plan")
    val k = kept.collect()
    assert(k.count(_.getString(1) == "books") == 100,
      "saturated low-resource domain must keep everything")
    val webMass = k.count(_.getString(1) == "web") * 10.0
    assert(math.abs(webMass - (1.0 - expBooks) * 5000.0) < 600.0,
      s"web kept mass $webMass should approximate its " +
        s"${(1.0 - expBooks) * 5000.0} target")
  }

  test("token windows: stride overlap, tail window, short and empty " +
      "docs") {
    import graft.pipeline.Packing
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, (1 to 10).toArray),  // W=4,S=3 -> wins at 0,3,6 (n=3)
      (2L, (1 to 4).toArray),   // exactly W -> one window
      (3L, (1 to 2).toArray),   // shorter than W -> one short window
      (4L, Array.empty[Int])    // no rows
    ).toDF("doc_id", "ids")
    val got = Packing.tokenWindows(df, "doc_id", "ids", 4, 3)
      .collect()
      .groupBy(r => (r.getLong(0), r.getInt(1)))
      .view.mapValues(_.sortBy(_.getInt(2)).map(_.getInt(3)).toSeq)
      .toMap
    assert(got == Map(
      (1L, 0) -> Seq(1, 2, 3, 4),
      (1L, 1) -> Seq(4, 5, 6, 7),   // 1-token overlap at stride 3
      (1L, 2) -> Seq(7, 8, 9, 10),
      (2L, 0) -> Seq(1, 2, 3, 4),
      (3L, 0) -> Seq(1, 2)), got.toString)
    // every token of every doc appears in at least one window
    val covered = Packing.tokenWindows(df, "doc_id", "ids", 4, 4)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(covered == Map(1L -> 10L, 2L -> 4L, 3L -> 2L))
    intercept[IllegalArgumentException](
      Packing.tokenWindows(df, "doc_id", "ids", 4, 5))
  }

  test("data card: integer-exact accounting per source, dup and lang " +
      "columns add up") {
    import graft.pipeline.Curation
    val s = spark
    import s.implicits._
    val base = "the cat sat of and to in is that " +
      (1 to 30).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, "a", "en", base),
      (2L, "a", "en", base),          // exact dup of doc 1 (same source)
      (3L, "a", "fr", base + " extra"),
      (4L, "b", "en", "too short"),   // fails gopher word window
      (5L, "b", "de", base + " mehr")
    ).toDF("doc_id", "source", "lang", "text")
    val card = Curation.dataCard(df, "source", "text", "lang",
        Seq("de", "en", "fr"),
        graft.pipeline.TextOps.GopherConfig(minWords = 10, maxWords = 90,
          minMeanWordLen = 0.0, maxMeanWordLen = 10.0,
          minStopwordHits = 1))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = card("a")
    assert(a.getAs[Long]("n_docs") == 3)
    assert(a.getAs[Long]("n_distinct_texts") == 2)
    assert(a.getAs[Long]("n_dup_docs") == 1)
    assert(a.getAs[Long]("n_en") == 2 && a.getAs[Long]("n_fr") == 1)
    assert(a.getAs[Long]("n_gopher_keep") == 3)
    val b = card("b")
    assert(b.getAs[Long]("n_docs") == 2)
    assert(b.getAs[Long]("n_gopher_keep") == 1, "short doc must fail")
    assert(b.getAs[Double]("gopher_keep_frac") == 0.5)
    assert(b.getAs[Double]("mean_tokens") ==
      b.getAs[Long]("total_tokens").toDouble / 2)
  }

  test("gopher rules: each rule fires on its designed violation, " +
      "clean prose keeps") {
    val s = spark
    import s.implicits._
    val words50 = (1 to 44).map(i => s"word$i").mkString(" ")
    val clean = s"the cat sat of and to in is that $words50" // 53 words
    val df = Seq(
      (1L, clean),
      (2L, "the of and to in is"),                      // too few words
      (3L, ("#" * 20) + " " + clean),                   // symbol soup
      (4L, (1 to 60).map(_ => "- bullet point here").mkString("\n")),
      (5L, (1 to 10).map(_ => "trailing off...").mkString("\n") +
        "\nthe of and that is in " + words50),          // >30% ellipsis
      (6L, clean + " " + (1 to 20).map(_ => "123 456").mkString(" ")),
      (7L, words50 + " plus more words without any stopword here yes " +
        (1 to 10).map(i => s"extra$i").mkString(" "))   // no stop hits
    ).toDF("doc_id", "text")
    val got = TextOps.gopherRules(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def flag(id: Long, name: String): Boolean =
      got(id).getAs[Boolean](name)
    assert(flag(1L, "keep"), got(1L).toString)
    assert(!flag(2L, "ok_words") && !flag(2L, "keep"))
    assert(!flag(3L, "ok_symbols") && !flag(3L, "keep"))
    assert(!flag(4L, "ok_bullets") && !flag(4L, "keep"))
    assert(!flag(5L, "ok_ellipsis") && !flag(5L, "keep"))
    assert(!flag(6L, "ok_alpha") && !flag(6L, "keep"))
    assert(!flag(7L, "ok_stopwords") && !flag(7L, "keep"))
    // features are auditable, not just booleans
    assert(got(4L).getAs[Double]("bullet_line_frac") == 1.0)
    assert(got(2L).getAs[Int]("n_words") == 6)
  }

  test("full gopher filter: repetition caps tighten keep, never loosen") {
    val s = spark
    import s.implicits._
    val stops = "the cat sat of and to in is that"
    val clean = stops + " " + (1 to 44).map(i => s"word$i").mkString(" ")
    // same length/stopword profile as clean, but one word dominates
    val stuffed = stops + " " + (1 to 44).map(_ => "spam").mkString(" ")
    // duplicate-bigram soup: one bigram repeated end to end
    val looped = stops + " " + (1 to 22).map(_ => "buy now").mkString(" ")
    val df = Seq((1L, clean), (2L, stuffed), (3L, looped))
      .toDF("doc_id", "text")
    val base = TextOps.gopherRules(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    val full = TextOps.gopherRulesFull(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // tightening: full keep implies base keep, never the reverse
    full.foreach { case (id, r) =>
      assert(!r.getAs[Boolean]("keep") || base(id),
        s"doc $id kept by full but not base")
    }
    assert(full(1L).getAs[Boolean]("keep"))
    assert(base(2L) && !full(2L).getAs[Boolean]("keep") &&
      !full(2L).getAs[Boolean]("ok_top_word"),
      "word stuffing must die on the repetition cap alone")
    assert(!full(3L).getAs[Boolean]("ok_dup_bigram"))
    // a null-text doc still gets its row (left join): the decision
    // table reports every input doc, like the base table does
    val withNull = Seq((1L, clean), (9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val fullIds = TextOps.gopherRulesFull(withNull, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(fullIds == Set(1L, 9L), s"null-text doc dropped: $fullIds")
  }

  test("c4 rules: line cuts rewrite the page, page rules drop it") {
    val s = spark
    import s.implicits._
    val good = "this line has five good words."
    val df = Seq(
      (1L, s"$good\nanother fine sentence right here!\nis it a question?"),
      (2L, s"no terminal punctuation here\n$good\n$good\n$good"),
      (3L, s"too short.\n$good\n$good\n$good"),
      (4L, s"enable JavaScript to continue.\n$good\n$good\n$good"),
      (5L, s"$good\nfunction f() { return 1; }\n$good\n$good"),
      (6L, s"$good\nLorem Ipsum dolor sit amet.\n$good"),
      (7L, s"$good\nbuy cheappills online now.\n$good"),
      (8L, "\"a quoted sentence keeps its line.\"\n" + good)
    ).toDF("page_id", "text")
    val got = TextOps.c4Rules(df, "page_id", "text",
        TextOps.C4Config(minSentences = 3,
          badWords = Seq("cheappills")))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"), got(1L).toString)
    assert(got(1L).getAs[Long]("n_sentences") == 3L)
    // line cuts: the failing line vanishes, the page survives if
    // enough sentences remain
    assert(got(2L).getAs[Long]("n_kept_lines") == 3L &&
      got(2L).getAs[Boolean]("keep"))
    assert(!got(2L).getAs[String]("clean_text").contains("no terminal"))
    assert(got(3L).getAs[Long]("n_kept_lines") == 3L,
      "a 2-word line must be cut even with terminal punctuation")
    assert(got(4L).getAs[Long]("n_kept_lines") == 3L,
      "javascript match is case-insensitive")
    // page drops: raw-text verdicts, independent of line cleaning
    assert(got(5L).getAs[Boolean]("has_brace") &&
      !got(5L).getAs[Boolean]("keep"))
    assert(got(6L).getAs[Boolean]("has_lorem") &&
      !got(6L).getAs[Boolean]("keep"))
    assert(got(7L).getAs[Boolean]("has_bad_word") &&
      !got(7L).getAs[Boolean]("keep"))
    // a closing double quote counts as terminal punctuation
    assert(got(8L).getAs[Long]("n_kept_lines") == 2L)
    // default config has no blocklist; page 7 then keeps
    val noList = TextOps.c4Rules(df, "page_id", "text",
        TextOps.C4Config(minSentences = 1))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!noList(7L).getAs[Boolean]("has_bad_word") &&
      noList(7L).getAs[Boolean]("keep"))
  }

  test("line dedup drops every over-threshold line, keeps order, " +
      "matches on the normalized form") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "COOKIE BANNER\nalpha unique one\n\nbeta unique two\ncookie banner"),
      (2L, "cookie   Banner\ngamma unique three"),
      (3L, "Cookie Banner")  // nothing but boilerplate -> cleans to ""
    ).toDF("doc_id", "text")
    // "cookie banner" normalizes identically across case/spacing and
    // appears in all 3 docs (doc 1 twice) -> dropped everywhere at
    // maxDocFreq=1; the blank line is structure and always kept
    val got = Dedup.dropDuplicateLines(df, "doc_id", "text", 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(got(1L) == (("alpha unique one\n\nbeta unique two", 2L)))
    assert(got(2L) == (("gamma unique three", 1L)))
    assert(got(3L) == (("", 1L)))
    // at maxDocFreq=2 the pair-frequency guest survives, the 3-doc
    // boilerplate still dies
    val df2 = Seq(
      (1L, "shared pair\nboiler\nown one"),
      (2L, "shared pair\nboiler"),
      (3L, "boiler\nown three")).toDF("doc_id", "text")
    val loose = Dedup.dropDuplicateLines(df2, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(1L) == "shared pair\nown one")
    assert(loose(2L) == "shared pair")
    assert(loose(3L) == "own three")
    val freqs = Dedup.lineDocFrequencies(df2, "doc_id", "text")
      .collect().map(r => r.getLong(1)).sorted.toSeq
    assert(freqs == Seq(1L, 1L, 2L, 3L))
    val plan = Dedup.dropDuplicateLines(df2, "doc_id", "text", 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"cartesian in plan:\n$plan")
  }

  test("near-dup LSH finds the planted duplicate pairs, no cartesian stage") {
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.8)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"cartesian in plan:\n$plan")
    val got = pairs.collect()
    assert(got.length >= 20, s"expected the planted near-dups, got ${got.length}")
    got.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.8))
  }

  test("lshCandidates maxBucket guard bounds degenerate hot buckets") {
    val s = spark
    import s.implicits._
    // 300 boilerplate copies share every MinHash band — without the guard
    // that one bucket alone yields 300·299/2 candidate pairs (quadratic);
    // with it, the hot buckets are dropped and only the small planted
    // bucket survives
    val boiler = (1 to 300).map(i =>
      (i.toLong, "this licence header is repeated verbatim across the corpus"))
    val planted = Seq(
      (1001L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1002L, "alpha beta gamma delta epsilon zeta eta theta"))
    val df = (boiler ++ planted).toSeq.toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3)
    val sigs = Dedup.minHashSignatures(sh, "doc_id", 8)
    val unguarded = Dedup.lshCandidates(sigs, "doc_id", 8, 2).count()
    assert(unguarded >= 300L * 299 / 2, s"expected quadratic blowup, got $unguarded")
    val guarded = Dedup.lshCandidates(sigs, "doc_id", 8, 2, Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == Set((1001L, 1002L)),
      s"guard should keep only the small planted bucket, got $guarded")
  }

  test("simHashNearPairs equals the brute-force Hamming filter (64-bit, k=3)") {
    val h = TextOps.simHash64(docs, "doc_id", "text")
    val near = Dedup.simHashNearPairs(h, "doc_id", "simhash", k = 3, bits = 64)
    val plan = near.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"cartesian in plan:\n$plan")
    val banded = near.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hashes = h.collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(banded == brute,
      s"banded ${banded.size} pairs vs brute ${brute.size}")
    // a planted identical copy must surface at distance 0 for any k
    val dup = docs.limit(1).withColumn("doc_id", lit(999999L))
    val withDup = TextOps.simHash64(docs.unionAll(dup), "doc_id", "text")
    val zero = Dedup.simHashNearPairs(withDup, "doc_id", "simhash", 1, 64)
      .filter(col("id_b") === 999999L).collect()
    assert(zero.length == 1 && zero.head.getLong(2) == 0L)
  }

  test("simHashNearPairs multi-block banding (Manku) is bit-identical " +
      "to single-chunk banding, incl. planted distance-k twins") {
    val s = spark
    import s.implicits._
    // adversarial hash frame: uniform xxhash64 values plus planted
    // twins at EXACTLY the threshold distance (k=4 bits flipped,
    // spread so several blocks are touched) and just past it (k+1)
    val base = spark.range(500).select(col("id"),
      xxhash64(col("id")).as("h"))
    val twins = base.limit(50).select((col("id") + 10000).as("id"),
      col("h").bitwiseXOR(lit((1L << 0) | (1L << 17) | (1L << 33) |
        (1L << 52))).as("h"))
    val far = base.limit(20).select((col("id") + 20000).as("id"),
      col("h").bitwiseXOR(lit((1L << 1) | (1L << 13) | (1L << 29) |
        (1L << 44) | (1L << 60))).as("h"))
    val hs = base.unionAll(twins).unionAll(far)
    def pairs(blocks: Int) = Dedup.simHashNearPairs(
        hs, "id", "h", k = 4, blocks = blocks)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val single = pairs(0) // default: k+1 single-block chunks
    val multi6 = pairs(6)
    val multi8 = pairs(8)
    assert(single == multi6 && single == multi8,
      s"single ${single.size} vs blocks=6 ${multi6.size} vs " +
        s"blocks=8 ${multi8.size}")
    // every planted k-distance twin found, no k+1 impostor
    (0 until 50).foreach(i => assert(single.contains((i.toLong,
      i + 10000L, 4L)), s"planted twin $i missing"))
    assert(!single.exists { case (a, b, _) => b >= 20000L && a == b - 20000L },
      "distance-5 impostor leaked past k=4")
    // blocks <= k is an error, not a silent fallback
    intercept[IllegalArgumentException](
      Dedup.simHashNearPairs(hs, "id", "h", k = 4, blocks = 3))
    // the index-probe serving form: cross-frame pairs ONLY, equal to
    // the brute-force cross filter, for both banding schemes
    val idx = base.unionAll(far)
    val bruteCross = (for {
      (ia, ha) <- idx.collect().map(r => (r.getLong(0), r.getLong(1)))
      (ib, hb) <- twins.collect().map(r => (r.getLong(0), r.getLong(1)))
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 4
    } yield (ia, ib, d.toLong)).toSet
    Seq(0, 6).foreach { bl =>
      val got = Dedup.hammingPairsAgainstIndex(idx, twins, "id", "h",
          k = 4, blocks = bl)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == bruteCross,
        s"blocks=$bl: ${got.size} cross pairs vs brute ${bruteCross.size}")
    }
  }

  test("incremental dedup against a persisted index equals the " +
      "cross-split slice of the full self-join") {
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    // reference: the full-corpus self-join's cross-parity pairs
    val full = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_inter"), r.getAs[Double]("jaccard")))
    val expect = full.filter(p => p._1 % 2 != p._2 % 2)
      .map { case (a, b, n, j) =>
        if (a % 2 == 0) (a, b, n, j) else (b, a, n, j) }
      .toSet
    assert(expect.nonEmpty, "fixture should plant cross-parity pairs")
    // via the persisted index (round-trips the meta sidecar too)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-neardup-idx").toString
    Dedup.writeNearDupIndex(
      Dedup.buildNearDupIndex(even, "doc_id", "text"), dir)
    val loaded = Dedup.loadNearDupIndex(spark, dir)
    assert(loaded.idCol == "doc_id" && loaded.numHashes == 8 &&
      !loaded.production64)
    val probe = Dedup.nearDupPairsAgainstIndex(loaded, odd, "doc_id",
      "text", 0.8)
    // the scale claim, pinned: the batch side broadcasts into the
    // candidate join, so the index band table streams without a shuffle
    assert(probe.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "candidate join must broadcast the batch's banded signatures")
    val got = probe
      .collect()
      .map(r => (r.getAs[Long]("id_old"), r.getAs[Long]("id_new"),
        r.getAs[Long]("n_inter"), r.getAs[Double]("jaccard"))).toSet
    assert(got == expect, s"index probe ${got.size} vs full ${expect.size}")
    // the production xxhash64 family finds the same planted pairs
    val idx64 = Dedup.buildNearDupIndex(even, "doc_id", "text",
      production64 = true, persistShingles = false)
    val got64 = Dedup.nearDupPairsAgainstIndex(idx64, odd, "doc_id",
        "text", 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got64 == expect,
      "xxhash64 index diverged from the md5 index on the planted pairs")
  }

  test("appending a batch to a persisted near-dup index equals a fresh " +
      "rebuild over the combined corpus") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch1 = docs.filter(col("doc_id") % 4 === 1)
    val batch2 = docs.filter(col("doc_id") % 4 === 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-neardup-append").toString
    Dedup.writeNearDupIndex(
      Dedup.buildNearDupIndex(corpus, "doc_id", "text"), dir)
    Dedup.appendToNearDupIndex(spark, dir, batch1, "doc_id", "text")
    val loaded = Dedup.loadNearDupIndex(spark, dir)
    // meta sidecar untouched by the append
    assert(loaded.idCol == "doc_id" && loaded.numHashes == 8 &&
      loaded.rowsPerBand == 2 && loaded.shingleK == 3 &&
      !loaded.production64)
    def pairs(p: org.apache.spark.sql.DataFrame) = p.collect()
      .map(r => (r.getAs[Long]("id_old"), r.getAs[Long]("id_new"),
        r.getAs[Long]("n_inter"), r.getAs[Double]("jaccard"))).toSet
    val gotAfterAppend = pairs(Dedup.nearDupPairsAgainstIndex(
      loaded, batch2, "doc_id", "text", 0.8))
    val fresh = Dedup.buildNearDupIndex(
      corpus.unionAll(batch1), "doc_id", "text", persistShingles = false)
    val expect = pairs(Dedup.nearDupPairsAgainstIndex(
      fresh, batch2, "doc_id", "text", 0.8))
    assert(expect.exists(_._1 % 2 == 1),
      "fixture should pair a second-batch doc against the FIRST batch — " +
        "otherwise the append contributed nothing to the probe")
    assert(gotAfterAppend == expect,
      s"append probe ${gotAfterAppend.size} vs fresh rebuild ${expect.size}")
    // overlapping ids must fail loudly, and leave the index unchanged
    val thrown = intercept[IllegalArgumentException] {
      Dedup.appendToNearDupIndex(spark, dir, batch1, "doc_id", "text")
    }
    assert(thrown.getMessage.contains("overlap"))
    assert(pairs(Dedup.nearDupPairsAgainstIndex(
      Dedup.loadNearDupIndex(spark, dir), batch2, "doc_id", "text", 0.8))
      == expect, "failed append must not mutate the index")
    // compaction folds the append's small files without changing any
    // answer, and leaves the meta sidecar alone
    def parquetFiles(sub: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(s"$dir/$sub"))
    }
    val bandFilesBefore = parquetFiles("bands").size
    Dedup.compactNearDupIndex(spark, dir)
    assert(parquetFiles("bands").size < bandFilesBefore,
      s"compaction should consolidate the appended band files " +
        s"($bandFilesBefore before)")
    val compacted = Dedup.loadNearDupIndex(spark, dir)
    assert(compacted.numHashes == 8 && !compacted.production64)
    assert(pairs(Dedup.nearDupPairsAgainstIndex(
      compacted, batch2, "doc_id", "text", 0.8)) == expect,
      "compaction changed probe results")
    // crash simulation: marker written, live dir gone, staging complete
    // (the post-commit window) — the next compaction call must heal it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$dir/shingles")
    val stg = new org.apache.hadoop.fs.Path(
      s"$dir/.__graft_idxcompact_shingles")
    assert(fs.rename(live, stg))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/.__graft_idxcompact_shingles.pending"), true).close()
    Dedup.compactNearDupIndex(spark, dir)
    assert(pairs(Dedup.nearDupPairsAgainstIndex(
      Dedup.loadNearDupIndex(spark, dir), batch2, "doc_id", "text", 0.8))
      == expect, "crashed compaction did not heal")
    // and appending after compaction still composes
    Dedup.appendToNearDupIndex(spark, dir, batch2, "doc_id", "text")
    assert(Dedup.loadNearDupIndex(spark, dir).sizes.count() ==
      Dedup.buildNearDupIndex(docs, "doc_id", "text",
        persistShingles = false).sizes.count(),
      "append after compaction lost rows")
    // the production xxhash64 family appends through the same path —
    // the meta sidecar carries production64 and the append must sign
    // the batch with the SAME family
    val dir64 = java.nio.file.Files
      .createTempDirectory("graft-neardup-append64").toString
    Dedup.writeNearDupIndex(Dedup.buildNearDupIndex(
      corpus, "doc_id", "text", production64 = true), dir64)
    Dedup.appendToNearDupIndex(spark, dir64, batch1, "doc_id", "text")
    assert(pairs(Dedup.nearDupPairsAgainstIndex(
      Dedup.loadNearDupIndex(spark, dir64), batch2, "doc_id", "text", 0.8))
      == expect, "xxhash64-family append diverged")
  }

  test("keep-best near-dedup keeps each cluster's highest-score member") {
    import SparkSpec.spark.implicits._
    // corpus with a quality column; clusters must keep argmax(quality),
    // ties to the lower id — NOT the min id
    val scored = docs.select("doc_id", "text")
      .withColumn("q", (col("doc_id") % 7).cast("double"))
    val best = Dedup.dropNearDuplicatesKeepBest(scored, "doc_id", "text",
      "q", threshold = 0.8)
    // reference: pairs -> components -> driver-side argmax per cluster
    val pairs = Dedup.nearDuplicatePairs(scored, "doc_id", "text", 0.8)
      .select("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(comp.nonEmpty, "fixture should contain near-dup clusters")
    val qOf = scored.select("doc_id", "q").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expectDropped = comp.groupBy(_._2).values.flatMap { ms =>
      val ids = ms.map(_._1)
      val keep = ids.maxBy(id => (qOf(id), -id))
      ids.filterNot(_ == keep)
    }.toSet
    val got = best.select("doc_id").collect().map(_.getLong(0)).toSet
    val all = scored.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == all -- expectDropped)
    // and at least one cluster's survivor differs from the min-id policy
    val minIdSurvivors = Dedup.dropNearDuplicates(scored, "doc_id",
      "text", 0.8).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got != minIdSurvivors,
      "fixture clusters should distinguish the two survivor policies")
  }

  test("exact dedup keeps one survivor per content group") {
    val withDup = docs.unionAll(docs.limit(5))
    val deduped = Dedup.dropExactDuplicates(withDup, "doc_id", "text")
    assert(deduped.count() == docs.count())
    val groups = Dedup.exactGroups(withDup, "doc_id", "text")
    assert(groups.filter(col("n_copies") === 2).count() == 5)
  }

  test("simHash64: identical docs collide, near-dups are close in Hamming") {
    val h = TextOps.simHash64(docs, "doc_id", "text")
    val dup = docs.limit(1).withColumn("doc_id", lit(9999L))
    val both = TextOps.simHash64(docs.limit(1).unionAll(dup), "doc_id", "text")
      .collect()
    assert(both.map(_.getAs[Long]("simhash")).distinct.length == 1)
    assert(h.count() == docs.count())
  }

  test("offset packing: contiguous bins, budget-aligned cuts, full bins " +
      "except each shard's last") {
    import graft.pipeline.Packing
    val budget = 256
    val packed = Packing.packByOffset(
      docs.select("doc_id", "lang", "text"),
      "lang", "doc_id", TextOps.tokenCount(col("text")), budget)
    val rows = packed.select("lang", "doc_id", "tokens", "offset", "bin")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, docs0) =>
      val inOrder = docs0.sortBy(_._2)
      // offsets are the exact running token sum in doc_id order
      var cum = 0L
      inOrder.foreach { case (_, id, toks, off, bin) =>
        assert(off == cum, s"$lang/$id: offset $off != cum $cum")
        assert(bin == off / budget, s"$lang/$id: bin $bin")
        cum += toks
      }
      // bins are contiguous from 0 (no empty bin can exist: every cut
      // point below the last doc's start has some doc starting in it)
      val bins = inOrder.map(_._5).distinct.sorted.toSeq
      assert(bins == (0L until bins.length.toLong).toSeq,
        s"$lang: non-contiguous bins $bins")
    }
    // packing efficiency invariant: the first doc of bin b+1 starts at
    // offset >= (b+1)·budget, and that offset equals the total tokens
    // of bins <= b — so cumulative bin_tokens through any non-last bin
    // covers its cut point exactly (no wasted context slots except the
    // shard's trailing partial bin)
    val stats = Packing.binStats(packed, "lang", budget).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    stats.groupBy(_._1).foreach { case (lang, s) =>
      val byBin = s.sortBy(_._2)
      var cum = 0L
      byBin.dropRight(1).foreach { case (_, bin, tokens) =>
        cum += tokens
        assert(cum >= (bin + 1) * budget,
          s"$lang/$bin: cumulative $cum < cut ${(bin + 1) * budget}")
      }
    }
    // boundary splitting: pieces tile every document exactly, and every
    // bin but a shard's last assembles to EXACTLY the budget
    val chunks = Packing.chunkSpans(packed, budget)
      .select("lang", "doc_id", "piece_bin", "doc_from", "piece_tokens")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val tokensOf = rows.map(r => (r._1, r._2) -> r._3).toMap
    chunks.groupBy(c => (c._1, c._2)).foreach { case ((lang, id), ps) =>
      val inOrder = ps.sortBy(_._3)
      // pieces start at 0 within the doc, abut, and sum to the doc
      var pos = 0L
      inOrder.foreach { p => assert(p._4 == pos); pos += p._5 }
      assert(pos == tokensOf((lang, id)),
        s"$lang/$id pieces sum $pos != ${tokensOf((lang, id))}")
      // consecutive bins
      assert(inOrder.map(_._3).toSeq ==
        (inOrder.head._3 to inOrder.last._3).toSeq)
    }
    chunks.groupBy(c => (c._1, c._3)).foreach { case ((lang, bin), ps) =>
      val binTokens = ps.map(_._5).sum
      val last = chunks.filter(_._1 == lang).map(_._3).max
      if (bin != last)
        assert(binTokens == budget,
          s"$lang/$bin assembles to $binTokens != $budget")
      else assert(binTokens <= budget)
    }
  }

  test("bin assembly reproduces each shard's token stream cut at exact " +
      "budget boundaries") {
    import graft.pipeline.Packing
    import graft.functions.{Bpe, BpeVocab}
    val budget = 64
    val vocab = BpeVocab(Bpe.demoEnglish, BpeVocab.asciiPrintable)
    val withIds = docs.select("doc_id", "lang", "text")
      .withColumn("ids", Bpe.tokenIds(vocab)(TextOps.tokens(col("text"))))
    val packed = Packing.packByOffset(withIds, "lang", "doc_id",
      size(col("ids")).cast("long"), budget)
    val bins = Packing.assembleBins(
        Packing.chunkSpans(packed, budget), "lang", "doc_id", "ids")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Int](6)))
    assert(bins.nonEmpty)
    // reference: each shard's full concatenated id stream in doc order
    val stream = withIds.select("lang", "doc_id", "ids").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2)))
      .groupBy(_._1)
      .map { case (l, ds) => l -> ds.sortBy(_._2).flatMap(_._3).toSeq }
    bins.groupBy(_._1).foreach { case (lang, bs) =>
      val byBin = bs.sortBy(_._2)
      // bins are contiguous from 0, and their concatenation IS the stream
      assert(byBin.map(_._2).toSeq ==
        (0L until byBin.length.toLong).toSeq)
      assert(byBin.flatMap(_._7).toSeq == stream(lang),
        s"$lang: assembled bins diverge from the shard stream")
      byBin.foreach { case (_, bin, nPieces, binTokens, first, last, ids) =>
        // the assembled array is the stream slice at the bin's cut points
        assert(ids == stream(lang).slice(
          (bin * budget).toInt, (bin * budget + binTokens).toInt))
        assert(ids.length == binTokens)
        assert(nPieces >= 1 && first <= last)
        if (bin != byBin.last._2)
          assert(binTokens == budget,
            s"$lang/$bin: non-last bin holds $binTokens != $budget")
      }
    }
    // a doc split across bins arrives in both, cut mid-array: force one
    // by checking at least one bin boundary falls inside a document
    assert(bins.exists(b => b._3 > 1), "fixture should pack multi-piece bins")
    assert(bins.groupBy(_._1).exists { case (_, bs) =>
      bs.map(_._5).toSet.intersect(bs.map(_._6).toSet).nonEmpty },
      "fixture should split at least one doc across adjacent bins")
    // an ids array inconsistent with the packed token count fails
    // loudly instead of silently mis-slicing every downstream bin
    val mispacked = Packing.packByOffset(withIds, "lang", "doc_id",
      size(col("ids")).cast("long") + 1, budget)
    val thrown = intercept[Exception] {
      Packing.assembleBins(Packing.chunkSpans(mispacked, budget),
        "lang", "doc_id", "ids").collect()
    }
    assert(Iterator.iterate(thrown: Throwable)(_.getCause)
      .takeWhile(_ != null).take(5)
      .exists(t => Option(t.getMessage).exists(_.contains("assembleBins"))))
  }

  test("bin boundaries: each bin's pieces abut from 0 in assembly " +
      "order, and the positions index the assembled payload exactly") {
    import graft.pipeline.Packing
    import graft.functions.{Bpe, BpeVocab}
    val budget = 64
    val vocab = BpeVocab(Bpe.demoEnglish, BpeVocab.asciiPrintable)
    val withIds = docs.select("doc_id", "lang", "text")
      .withColumn("ids", Bpe.tokenIds(vocab)(TextOps.tokens(col("text"))))
    val pieces = Packing.chunkSpans(Packing.packByOffset(withIds,
      "lang", "doc_id", size(col("ids")).cast("long"), budget), budget)
    val bounds = Packing.binBoundaries(pieces, "lang", "doc_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val payload = Packing.assembleBins(pieces, "lang", "doc_id", "ids")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getSeq[Int](6))).toMap
    val idsOf = withIds.select("lang", "doc_id", "ids").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Int](2)).toMap
    assert(bounds.nonEmpty)
    bounds.groupBy(b => (b._1, b._2)).foreach { case ((lang, bin), ps) =>
      val inOrder = ps.sortBy(_._6)
      // pieces start at 0 inside the bin and abut exactly
      var pos = 0L
      inOrder.foreach { p => assert(p._6 == pos,
        s"$lang/$bin: piece at ${p._6}, expected $pos"); pos += p._5 }
      val (binTokens, ids) = payload((lang, bin))
      assert(pos == binTokens,
        s"$lang/$bin: boundaries sum $pos != payload $binTokens")
      // bin_from positions index the assembled ids to each doc's slice
      inOrder.foreach { case (_, _, doc, docFrom, n, binFrom) =>
        assert(ids.slice(binFrom.toInt, (binFrom + n).toInt) ==
          idsOf((lang, doc)).slice(docFrom.toInt, (docFrom + n).toInt),
          s"$lang/$bin: boundary ($doc, $binFrom, $n) mis-indexes")
      }
    }
    // at least one bin carries a mid-document boundary (the case the
    // table exists for)
    assert(bounds.exists(b => b._4 > 0), "fixture should split a doc")
  }

  test("epoch shuffle: a seeded permutation — deterministic, epoch-" +
      "sensitive, set-preserving, distributed sort not a global window") {
    import graft.pipeline.Packing
    import SparkSpec.spark.implicits._
    val bins = (0L until 40L).map(b => (if (b % 3 == 0) "en" else "es", b))
      .toDF("lang", "bin")
    def run(seed: Long, epoch: Int) =
      Packing.epochShuffle(bins, "lang", "bin", seed, epoch)
        .select("lang", "bin").collect().map(r => (r.getString(0),
          r.getLong(1))).toSeq
    val e1 = run(42L, 1)
    // deterministic: same (seed, epoch) reproduces the exact order
    assert(e1 == run(42L, 1))
    // a permutation: same set, and genuinely reordered
    assert(e1.toSet == bins.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet)
    assert(e1 != e1.sortBy(_._2).sortBy(_._1))
    // epoch- and seed-sensitive: different keys, different permutations
    assert(e1 != run(42L, 2))
    assert(e1 != run(7L, 1))
    // scale shape: the sort is a range-partitioned Exchange, never a
    // single-partition Window
    val plan = Packing.epochShuffle(bins, "lang", "bin", 42L, 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("Window"), plan)
    // claimed output column collisions fail fast
    intercept[IllegalArgumentException](Packing.epochShuffle(
      bins.withColumn("epoch_key", lit(1L)), "lang", "bin", 1L, 1))
  }

  test("per-row simHash64Expr is bit-identical to the aggregate simHash64") {
    import SparkSpec.spark.implicits._
    // fixture docs plus adversarial shapes: empty, whitespace-only,
    // single token, unicode, repeated token
    val extra = Seq((90001L, ""), (90002L, "   "), (90003L, "one"),
      (90004L, "héllo wörld héllo"), (90005L, "a a a a a a"))
      .toDF("doc_id", "text")
    val all = docs.select("doc_id", "text").unionAll(extra)
    val agg = TextOps.simHash64(all, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val row = all.select(col("doc_id"),
        TextOps.simHash64Expr(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the aggregate path tokenizes every doc too (split of "" is [""]),
    // so the id sets must coincide exactly — then every value must match
    assert(agg.keySet == row.keySet)
    agg.foreach { case (id, h) =>
      assert(row(id) == h, s"doc $id: row ${row(id)} vs agg $h")
    }
  }

  test("cosine top-k: self-similarity ranks first with cosine ~ 1") {
    val q = embeddings.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val top = Similarity.cosineTopK(embeddings, "vec_id", "embedding", q, 3)
      .collect()
    assert(top.head.getAs[Long]("vec_id") == 0L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("sign-band LSH top-k is a subset of brute force with equal scores") {
    val q = embeddings.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val e = embeddings.filter(col("vec_id") =!= 0)
    val brute = Similarity.cosineTopK(e, "vec_id", "embedding", q, 500)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine"))
      .toMap
    val lsh = Similarity.signBandTopK(e, "vec_id", "embedding", q, 10)
      .collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(brute.contains(id))
      assert(math.abs(brute(id) - r.getAs[Double]("cosine")) == 0.0)
    }
  }

  test("IVF top-k returns a subset of brute force with identical scores") {
    val q = embeddings.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val e = embeddings.filter(col("vec_id") =!= 0)
    val brute = Similarity.cosineTopK(e, "vec_id", "embedding", q, 500)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine"))
      .toMap
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", q, 10).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(brute.contains(id) && brute(id) == r.getAs[Double]("cosine"))
    }
  }

  test("persisted IVF index prunes cell partitions at the parquet source") {
    val idx = Similarity.buildIvfIndex(embeddings, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeIvfIndex(idx, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.idCol == "vec_id" && loaded.vecCol == "embedding")
    assert(loaded.centroids.length == idx.centroids.length &&
      loaded.centroids.zip(idx.centroids).forall { case (a, b) => a == b })
    val q = (0 until 64).map(i => (i % 7 - 3) * 0.2f)
    val viaLoaded = Similarity.queryIvf(loaded, q, 10)
    // the cell filter must reach the scan as a PARTITION filter (source
    // prunes to the probed cells' files), not a post-scan data filter
    val plan = viaLoaded.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*__cell[^\\]]*IN".r
    assert(pf.findFirstIn(plan).isDefined,
      s"no __cell partition filter in scan:\n$plan")
    // and the pruned scan must answer exactly like the in-memory index
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSeq
    assert(rows(viaLoaded) == rows(Similarity.queryIvf(idx, q, 10)))
  }

  test("appending vectors to a persisted IVF index keeps the centroids, " +
      "assigns existing-centroid cells, and round-trips the layouts") {
    val even = embeddings.filter(col("vec_id") % 2 === 0)
    val odd = embeddings.filter(col("vec_id") % 2 === 1)
    val idx = Similarity.buildIvfIndex(even, "vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-append").toString
    Similarity.writeIvfIndex(idx, dir)
    Similarity.appendToIvfIndex(spark, dir, odd, "vec_id", "embedding")
    val loaded = Similarity.loadIvfIndex(spark, dir)
    // centroid sidecar untouched by the append
    assert(loaded.centroids.toSeq == idx.centroids.toSeq)
    // reference cells: the SAME argmax-cosine rule (element-order double
    // math, ties toward the higher cell — mirroring cellOf exactly)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = embeddings.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val expectCell = vecs.map { case (id, v) =>
      id -> idx.centroids.zipWithIndex
        .map { case (c, i) => (cos(v, c), i) }.max._2
    }
    val got = loaded.assigned.select(col("vec_id"), col("__cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.keySet == vecs.keySet,
      "appended corpus must hold exactly corpus ∪ batch")
    assert(got == expectCell,
      "appended rows must take argmax cells under the EXISTING centroids")
    // probing the appended index finds a batch vector at cosine 1
    val probe = odd.orderBy("vec_id").limit(1).collect().head
    val hit = Similarity.queryIvf(loaded,
      probe.getSeq[Float](1), 1, nProbe = 1).collect().head
    assert(hit.getAs[Long]("vec_id") == probe.getLong(0) &&
      math.abs(hit.getAs[Double]("cosine") - 1.0) < 1e-9)
    // a mismatched key column fails loudly before any write
    intercept[IllegalArgumentException](Similarity.appendToIvfIndex(
      spark, dir, odd, "vec_id", "nope"))
    // int8 layout: same cell math, floats stay dropped, appended rows
    // carry the exact quantization of their vectors
    val dir8 = java.nio.file.Files
      .createTempDirectory("graft-ivf-append8").toString
    Similarity.writeIvfInt8Index(idx, dir8)
    Similarity.appendToIvfIndex(spark, dir8, odd, "vec_id", "embedding")
    val loaded8 = Similarity.loadIvfIndex(spark, dir8)
    assert(!loaded8.assigned.columns.contains("embedding"))
    val badQuant = loaded8.assigned
      .join(odd.select(col("vec_id"), col("embedding")), "vec_id")
      .filter(
        Similarity.int8Codes(col("embedding"),
          Similarity.int8Scale(col("embedding")))
          =!= col(Similarity.Int8CodesCol))
      .count()
    assert(badQuant == 0, "appended int8 codes diverge from int8Codes")
    assert(loaded8.assigned.count() == embeddings.count())
    // PQ layout: appended rows' codes must equal Pq.encode under the
    // persisted (untrained-by-append) codebooks
    val cb = graft.pipeline.Pq.train(even, "vec_id", "embedding",
      m = 8, k = 16)
    val dirPq = java.nio.file.Files
      .createTempDirectory("graft-ivf-appendpq").toString
    Similarity.writeIvfPqIndex(idx, cb, dirPq)
    Similarity.appendToIvfIndex(spark, dirPq, odd, "vec_id", "embedding")
    val (loadedPq, cbLoaded) = Similarity.loadIvfPqIndex(spark, dirPq)
    val badPq = loadedPq.assigned
      .join(odd.select(col("vec_id"), col("embedding").as("__orig")),
        "vec_id")
      .filter(graft.pipeline.Pq.encode(cbLoaded)(col("__orig"))
        =!= col(Similarity.PqCodesCol))
      .count()
    assert(badPq == 0, "appended PQ codes diverge from the sidecar codebooks")
    assert(loadedPq.assigned.count() == embeddings.count())
    // compaction folds the appended files per cell, answers unchanged
    def parquetFiles(d: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(d)).size
    }
    val q = (0 until 64).map(i => (i % 5 - 2) * 0.3f)
    val before = Similarity.queryIvf(Similarity.loadIvfIndex(spark, dir),
      q, 10).collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"))).toSeq
    val filesBefore = parquetFiles(s"$dir/corpus")
    Similarity.compactIvfIndex(spark, dir)
    assert(parquetFiles(s"$dir/corpus") < filesBefore,
      s"compaction should consolidate appended cell files ($filesBefore)")
    val after = Similarity.queryIvf(Similarity.loadIvfIndex(spark, dir),
      q, 10).collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"))).toSeq
    assert(after == before, "compaction changed query results")
  }

  test("reclusterIvfIndex: re-derives the quantizer at a new cell " +
      "count in place, preserves rows and PQ codes, rejects int8, " +
      "heals interrupted swaps") {
    import graft.pipeline.Pq
    val q = (0 until 64).map(i => (i % 7 - 3) * 0.2f)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // float layout: recluster 16 -> 25 cells equals a fresh 25-cell
    // build, row set preserved exactly
    val dir = java.nio.file.Files
      .createTempDirectory("graft-recluster").toString + "/idx"
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(embeddings, "vec_id", "embedding"), dir)
    Similarity.reclusterIvfIndex(spark, dir, nCells = 25,
      kmeansIters = 0)
    val re = Similarity.loadIvfIndex(spark, dir)
    val fresh = Similarity.buildIvfIndex(embeddings, "vec_id",
      "embedding", 25)
    assert(re.centroids.length == 25 &&
      re.centroids.toSeq == fresh.centroids.toSeq)
    assert(re.assigned.select("vec_id").collect().map(_.getLong(0))
        .sorted.toSeq ==
      embeddings.select("vec_id").collect().map(_.getLong(0))
        .sorted.toSeq, "recluster must preserve the row set exactly")
    assert(re.assigned.select("vec_id", "__cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      fresh.assigned.select("vec_id", "__cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap,
      "re-assignment must equal a fresh build at the new cell count")
    assert(rows(Similarity.queryIvf(re, q, 10)) ==
      rows(Similarity.queryIvf(fresh, q, 10)))
    // PQ layout: codes and codebook sidecar ride along verbatim
    val dirPq = java.nio.file.Files
      .createTempDirectory("graft-recluster-pq").toString + "/idx"
    val cb = Pq.train(embeddings, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    Similarity.writeIvfPqIndex(
      Similarity.buildIvfIndex(embeddings, "vec_id", "embedding"), cb,
      dirPq)
    val codesBefore = spark.read.parquet(s"$dirPq/corpus")
      .select(col("vec_id"), col(Similarity.PqCodesCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    Similarity.reclusterIvfIndex(spark, dirPq, nCells = 25,
      kmeansIters = 0)
    val (rePq, reCb) = Similarity.loadIvfPqIndex(spark, dirPq)
    assert(reCb.codebooks.flatten.toSeq == cb.codebooks.flatten.toSeq,
      "the codebook sidecar must survive the re-cluster untouched")
    assert(rePq.centroids.length == 25)
    assert(rePq.assigned
        .select(col("vec_id"), col(Similarity.PqCodesCol)).collect()
        .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap ==
      codesBefore, "per-row PQ codes must ride along verbatim")
    // at rerank >= probed rows the composed probe equals plain IVF on
    // the re-clustered cells (the queryIvfPq contract, unchanged)
    assert(rows(Similarity.queryIvfPq(rePq, reCb, q, 10,
        rerank = 1000)) ==
      rows(Similarity.queryIvf(rePq, q, 10)))
    // int8 rejected loudly: the floats are gone
    val dir8 = java.nio.file.Files
      .createTempDirectory("graft-recluster-8").toString + "/idx"
    Similarity.writeIvfInt8Index(
      Similarity.buildIvfIndex(embeddings, "vec_id", "embedding"), dir8)
    val ex = intercept[IllegalArgumentException](
      Similarity.reclusterIvfIndex(spark, dir8, nCells = 25))
    assert(ex.getMessage.contains("float"))
    // crash windows heal on the next call (the IndexMaintenance
    // discipline over the index ROOT): an orphan staging dir with no
    // marker is swept; a marker proves staging complete, so recovery
    // PUBLISHES it before re-clustering
    val root = new java.io.File(dir)
    val stg = new java.io.File(root.getParent,
      s".__graft_idxcompact_${root.getName}")
    val mk = new java.io.File(root.getParent,
      s".__graft_idxcompact_${root.getName}.pending")
    // (a) no marker: orphan swept, recluster proceeds from live
    assert(stg.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(stg, "junk").toPath, "orphan")
    Similarity.reclusterIvfIndex(spark, dir, nCells = 20,
      kmeansIters = 0)
    assert(!stg.exists(), "an unmarked orphan staging dir must be swept")
    assert(Similarity.loadIvfIndex(spark, dir).centroids.length == 20)
    // (b) marker present: the staged index IS the commit point — the
    // next maintenance call publishes it, then re-clusters THAT
    val half = embeddings.filter(col("vec_id") % 2 === 0)
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(half, "vec_id", "embedding"),
      stg.toString)
    assert(mk.createNewFile())
    Similarity.reclusterIvfIndex(spark, dir, nCells = 5,
      kmeansIters = 0)
    assert(!mk.exists() && !stg.exists())
    val healed = Similarity.loadIvfIndex(spark, dir)
    assert(healed.centroids.length == 5)
    assert(healed.assigned.select("vec_id").collect().map(_.getLong(0))
        .sorted.toSeq ==
      half.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq,
      "recovery must publish the marker-committed staging index first")
  }

  test("buildIvfIndexTwoLevel: group-restricted argmax assignment with " +
      "(group, id) seed numbering; nCells = 1 degenerates to the flat " +
      "transform exactly") {
    val nCells = 25
    val idx = Similarity.buildIvfIndexTwoLevel(
      embeddings.select("vec_id", "embedding"), "vec_id", "embedding",
      nCells)
    val rows = embeddings.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    assert(idx.assigned.count() == rows.length,
      "two-level build must preserve the row set")
    // brute-force replay of every pinned rule on the collected corpus
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < b.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dp += x * y; na += x * x; nb += y * y; i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    def argmaxHigh(v: Array[Float],
        cs: Seq[(Int, Array[Float])]): Int = {
      var best = -1; var bk = Double.NegativeInfinity
      cs.foreach { case (c, ce) =>
        val cc = cos(v, ce)
        val k = if (cc.isNaN) Double.PositiveInfinity else cc
        if (best < 0 || k >= bk) { bk = k; best = c }
      }
      best
    }
    val c1 = math.ceil(math.sqrt(nCells.toDouble)).toInt
    val m = math.ceil(nCells.toDouble / c1).toInt
    val l1 = rows.take(c1).map(_._2).zipWithIndex.map(_.swap).toSeq
    val grp = rows.map { case (id, v) => id -> argmaxHigh(v, l1) }.toMap
    val seeds = rows.groupBy(r => grp(r._1)).toSeq
      .flatMap { case (g, mem) =>
        mem.sortBy(_._1).take(m).map(r => (g, r._1, r._2))
      }
      .sortBy(s => (s._1, s._2)).zipWithIndex
      .map { case ((g, id, v), cell) => (g, cell, id, v) }
    assert(idx.centroids.length == seeds.length &&
      idx.centroids.map(_.toSeq).toSeq == seeds.map(_._4.toSeq).toSeq,
      "level-2 seeds must be each group's lowest-id members, " +
        "globally numbered in (group, id) order")
    val expected = rows.map { case (id, v) =>
      id -> argmaxHigh(v,
        seeds.filter(_._1 == grp(id)).map(s => (s._2, s._4)))
    }.toMap
    val got = idx.assigned.select("vec_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected,
      "assignment must be the argmax seed WITHIN the own level-1 group")
    // per-row work is bounded by the two seed scans, never all cells:
    // a cell only ever holds members of the group that seeded it
    val cellGroup = seeds.map(s => s._2 -> s._1).toMap
    got.foreach { case (id, cell) =>
      assert(cellGroup(cell) == grp(id),
        s"row $id landed in cell $cell of a foreign group")
    }
    // degenerate equality: targetCell >= n means nCells = 1 — one
    // group, one seed, and the transform must equal the flat one
    val two = Dedup.semDeDupTwoLevel(embeddings, "vec_id", "embedding",
      threshold = 0.3, targetCell = rows.length)
    val flat = Dedup.semDeDup(embeddings, "vec_id", "embedding",
      threshold = 0.3, nCells = 1)
    assert(two.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
        == flat.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq,
      "nCells = 1 two-level must equal the flat transform")
  }

  test("semDeDupKeepBest keeps each semantic cluster's best-scored " +
      "member; null scores never win") {
    // score = the id itself: keep-best must keep each cluster's MAX id,
    // the exact opposite end from nothing the least-prototypical rule
    // looks at — so the two policies genuinely diverge on the fixture
    val e = embeddings.withColumn("score", col("vec_id").cast("double"))
    val best = Dedup.semDeDupKeepBest(e, "vec_id", "embedding", "score",
        threshold = 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val least = Dedup.semDeDup(embeddings, "vec_id", "embedding",
        threshold = 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(best.size == least.size,
      "both policies keep exactly one survivor per cluster")
    assert(best != least, "fixture must distinguish the two policies")
    val clusters = Dedup.connectedComponents(
        Dedup.semDeDupPairs(embeddings, "vec_id", "embedding",
          threshold = 0.3).select("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._2).values.map(_.map(_._1).toSet)
    val expectDrop = clusters.flatMap(m => m - m.max).toSet
    val all = embeddings.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(best == all -- expectDrop,
      "keep-best with score = id must keep each cluster's max id")
    // a null score never wins (max ignores nulls), matching
    // dropNearDuplicatesKeepBest's behavior
    val s = spark
    import s.implicits._
    val tiny = Seq(
      (1L, Seq(1f, 0f), Option.empty[Double]),
      (2L, Seq(1f, 0f), Some(0.5))
    ).toDF("vec_id", "embedding", "score")
    val kept = Dedup.semDeDupKeepBest(tiny, "vec_id", "embedding",
        "score", threshold = 0.9, nCells = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L),
      "the null-scored duplicate must lose to the scored one")
  }

  test("reclusterIvfIndex twoLevel: re-sizes a flat index into the " +
      "grouped form (== fresh two-level build), and back to flat") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-recluster-2l").toString + "/idx"
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(embeddings, "vec_id", "embedding"), dir)
    // the two-level build has no k-means; a silently-ignored default
    // would lie, so the guard is loud
    val ex = intercept[IllegalArgumentException](
      Similarity.reclusterIvfIndex(spark, dir, nCells = 25,
        twoLevel = true))
    assert(ex.getMessage.contains("kmeansIters"))
    Similarity.reclusterIvfIndex(spark, dir, nCells = 25,
      kmeansIters = 0, twoLevel = true)
    val re = Similarity.loadIvfIndex(spark, dir)
    val fresh = Similarity.buildIvfIndexTwoLevel(
      embeddings.select("vec_id", "embedding"), "vec_id", "embedding",
      25)
    val tl = re.twoLevel.getOrElse(
      fail("two-level recluster lost the grouping sidecars"))
    assert(tl.l1.map(_.toSeq).toSeq ==
        fresh.twoLevel.get.l1.map(_.toSeq).toSeq &&
      tl.cellGroup.toSeq == fresh.twoLevel.get.cellGroup.toSeq &&
      re.centroids.map(_.toSeq).toSeq ==
        fresh.centroids.map(_.toSeq).toSeq,
      "re-clustered grouped quantizer must equal a fresh build")
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(re.assigned) == cells(fresh.assigned),
      "re-assignment must equal the fresh two-level build's")
    // and the reverse direction drops the grouping cleanly (the
    // whole-root swap replaces ALL sidecars)
    Similarity.reclusterIvfIndex(spark, dir, nCells = 16,
      kmeansIters = 0)
    assert(Similarity.loadIvfIndex(spark, dir).twoLevel.isEmpty,
      "flat recluster must not leave stale grouped sidecars behind")
  }

  test("two-level index persists its grouping: load/assignCells/append " +
      "re-derive the group-restricted cells, and the against-index " +
      "probe matches the in-memory one exactly") {
    val even = embeddings.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    val odd = embeddings.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
    val idx = Similarity.buildIvfIndexTwoLevel(even, "vec_id",
      "embedding", Dedup.semDeDupAutoCells(even, 24))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-2l-persist").toString + "/idx"
    Similarity.writeIvfIndex(idx, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val tl = loaded.twoLevel.getOrElse(
      fail("loaded index lost its TwoLevelMeta"))
    assert(tl.l1.map(_.toSeq).toSeq ==
        idx.twoLevel.get.l1.map(_.toSeq).toSeq &&
      tl.cellGroup.toSeq == idx.twoLevel.get.cellGroup.toSeq &&
      loaded.centroids.map(_.toSeq).toSeq ==
        idx.centroids.map(_.toSeq).toSeq,
      "grouping sidecars must round-trip bit-exactly")
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val built = cells(idx.assigned)
    assert(cells(Similarity.assignCells(loaded, even, "embedding"))
        == built,
      "probe-side assignment from the persisted grouping must equal " +
        "the build's")
    // the hazard is real on this fixture: a FLAT global argmax over
    // the same centroids disagrees with the landed cells somewhere
    val flat = Similarity.IvfIndex(loaded.centroids, loaded.assigned,
      "vec_id", "embedding")
    assert(cells(Similarity.assignCells(flat, even, "embedding"))
        != built,
      "fixture must exercise the group restriction (flat == grouped " +
        "would make this spec vacuous)")
    // against-index pairs through the persisted layout == in-memory
    def pairs(i: Similarity.IvfIndex) =
      Dedup.semDeDupPairsAgainstIndex(i, odd, "vec_id", "embedding",
          threshold = 0.3)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
        .sortBy(p => (p._1, p._2, p._3)).toSeq
    assert(pairs(loaded) == pairs(idx),
      "persisted-layout probe must equal the in-memory probe")
    // append lands odd rows in the cells the SHARED closure assigns
    val expectOdd = cells(Similarity.assignCells(loaded, odd,
      "embedding"))
    Similarity.appendToIvfIndex(spark, dir, odd, "vec_id", "embedding")
    assert(cells(spark.read.parquet(s"$dir/corpus")) ==
        built ++ expectOdd,
      "append must use the group-restricted assignment")
  }

  test("composed IVF×PQ index prunes partitions, pushes the rerank " +
      "fetch, and reranks to the exact IVF answer") {
    import graft.pipeline.Pq
    val idx = Similarity.buildIvfIndex(embeddings, "vec_id", "embedding")
    val cb = Pq.train(embeddings, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.writeIvfPqIndex(idx, cb, dir)
    val (loaded, loadedCb) = Similarity.loadIvfPqIndex(spark, dir)
    // codebooks round-trip exactly
    assert(loadedCb.subDim == cb.subDim && loadedCb.m == cb.m &&
      loadedCb.k == cb.k)
    assert(loadedCb.codebooks.flatten.toSeq == cb.codebooks.flatten.toSeq)
    // codes column present alongside the cell layout
    assert(loaded.assigned.columns.contains(Similarity.PqCodesCol))

    val q = (0 until 64).map(i => (i % 7 - 3) * 0.2f)
    // rerank ≥ probed-cell rows ⇒ the composed answer must EQUAL the
    // plain IVF answer (same probes, same tie rules)
    val composed = Similarity.queryIvfPq(loaded, loadedCb, q, 10,
      rerank = 1000)
    val plan = composed.queryExecution.executedPlan.toString
    // (a) cell pruning is intact with codes present
    assert("PartitionFilters: \\[[^\\]]*__cell[^\\]]*IN".r
      .findFirstIn(plan).isDefined, s"no __cell partition filter:\n$plan")
    // (b) the rerank fetch pushes the survivor ids to the source
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r
      .findFirstIn(plan).isDefined, s"no pushed In(vec_id) filter:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(composed) == rows(Similarity.queryIvf(loaded, q, 10)))
    // a tight rerank still returns k rows, scored exactly
    val tight = Similarity.queryIvfPq(loaded, loadedCb, q, 10, rerank = 20)
    val brute = rows(Similarity.queryIvf(loaded, q, 1000, nProbe = 2)).toMap
    assert(tight.count() == 10)
    rows(tight).foreach { case (id, cos) => assert(brute(id) == cos) }
  }

  test("built IVF index answers multiple queries like the one-shot path") {
    val idx = Similarity.buildIvfIndex(embeddings, "vec_id", "embedding")
    Seq(Seq.fill(64)(0.1f), (0 until 64).map(i => (i % 7 - 3) * 0.2f))
      .foreach { q =>
        val viaIndex = Similarity.queryIvf(idx, q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSeq
        val oneShot = Similarity.ivfTopK(embeddings, "vec_id", "embedding",
            q, 10).select("vec_id").collect().map(_.getLong(0)).toSeq
        assert(viaIndex == oneShot)
        assert(viaIndex.nonEmpty)
      }
  }

  test("batch IVF == per-query IVF loop on every query") {
    val idx = Similarity.buildIvfIndex(embeddings, "vec_id", "embedding")
    val qids = Seq(0L, 1L, 2L)
    val queries = embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Similarity.queryIvfBatch(idx, queries, "query_id",
        "embedding", k = 10)
      .select("query_id", "vec_id", "cosine").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => (r.getLong(1),
        r.getDouble(2))).sortBy(x => (-x._2, x._1)).toSeq }
    qids.foreach { qid =>
      val qv = embeddings.filter(col("vec_id") === qid)
        .select("embedding").head.getSeq[Float](0)
      val loop = Similarity.queryIvf(idx, qv, 10)
        .select("vec_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == loop, s"query $qid differs from the loop path")
    }
  }

  test("recallAtK: identity is 1.0, misses count, absent queries are 0") {
    val s = spark
    import s.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("qid", "id")
    val approx = Seq((1L, 10L), (1L, 99L), (1L, 98L)) // qid 2 absent
      .toDF("qid", "id")
    val got = Similarity.recallAtK(exact, approx, "qid", "id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((1L, 3L, 1.0 / 3.0)))
    assert(got(2L) == ((0L, 2L, 0.0)))
    val self = Similarity.recallAtK(exact, exact, "qid", "id")
      .collect().map(_.getDouble(3))
    assert(self.forall(_ == 1.0))
    // duplicate (qid, id) rows on either side count once — recall must
    // never exceed 1.0 (a multi-cell union without dedup is a legal
    // input per the scaladoc)
    val dup = Similarity.recallAtK(
        exact.union(exact), approx.union(approx), "qid", "id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(dup(1L) == ((1L, 3L, 1.0 / 3.0)))
    assert(dup(2L) == ((0L, 2L, 0.0)))
  }

  test("Materialize.release frees the batch paths' materialised query " +
      "frames") {
    val idx = Similarity.buildIvfIndex(embeddings, "vec_id", "embedding")
    Materialize.release() // drain frames left by earlier tests
    val queries = embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val batch = Similarity.queryIvfBatch(idx, queries, "query_id",
      "embedding", k = 5)
    assert(batch.count() > 0) // consume fully BEFORE releasing
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty, "the batch path should materialise its query " +
      "frame")
    assert(Materialize.release() >= 1)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((pinned -- after) == pinned,
      "released frames must leave the block manager's persistent-RDD map")
    assert(Materialize.release() == 0, "drain must be idempotent")
  }

  test("Materialize.scope frees only its own frames, never the global " +
      "registry's") {
    val idx = Similarity.buildIvfIndex(embeddings, "vec_id", "embedding")
    Materialize.release() // drain frames left by earlier tests
    val queries = embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // a GLOBAL consumer's frame, created before the scope opens — the
    // bug class under test is a scoped drain tearing this out
    val globalBatch = Similarity.queryIvfBatch(idx, queries, "query_id",
      "embedding", k = 5)
    assert(globalBatch.count() > 0)
    val beforeScope = spark.sparkContext.getPersistentRDDs.keySet
    Materialize.scope {
      val scoped = Similarity.queryIvfBatch(idx, queries, "query_id",
        "embedding", k = 5)
      assert(scoped.count() > 0) // fully consumed inside the scope
    }
    // the scope unpersisted ITS frame on close...
    val afterScope = spark.sparkContext.getPersistentRDDs.keySet
    assert((afterScope -- beforeScope).isEmpty,
      "the scope must unpersist the frames it captured")
    // ...and the global consumer's frame is still materialised
    assert(beforeScope.subsetOf(afterScope),
      "a scoped drain must not free a concurrent global consumer's frame")
    assert(globalBatch.count() > 0)
    // the scoped frame never reached the global registry: the only
    // drain left is the global consumer's own frame
    assert(Materialize.release() == 1,
      "exactly the pre-scope global frame should remain registered")
  }

  test("int8 IVF layout drops the floats, prunes cells, and serves " +
      "near-exact results") {
    val idx = Similarity.buildIvfIndex(embeddings, "vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-int8").toString
    Similarity.writeIvfInt8Index(idx, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    // the stored corpus is the 4x layout: codes + scale, NO floats
    assert(!loaded.assigned.columns.contains("embedding"),
      "float vectors must not be stored in the int8 layout")
    assert(loaded.assigned.columns.contains(Similarity.Int8CodesCol) &&
      loaded.assigned.columns.contains(Similarity.Int8ScaleCol))
    assert(loaded.assigned.schema(Similarity.Int8CodesCol).dataType
      .simpleString == "array<tinyint>")

    val q = (0 until 64).map(i => (i % 7 - 3) * 0.2f)
    val served = Similarity.queryIvfInt8(loaded, q, 10)
    // probe predicate still prunes cell partitions at the source
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*__cell[^\\]]*IN".r
      .findFirstIn(plan).isDefined, s"no __cell partition filter:\n$plan")

    // near-exactness: vs the full-precision IVF answer over the SAME
    // probes, the int8 scores deviate only by quantization error and
    // recall@10 stays high
    val exact = Similarity.queryIvf(idx, q, 10).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    val wide = Similarity.queryIvf(idx, q, 1000).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    val got = served.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine"))
    assert(got.length == 10)
    got.foreach { case (id, cos) =>
      assert(wide.contains(id), s"int8 served $id outside the probed cells")
      assert(math.abs(wide(id) - cos) < 0.05,
        s"vec $id: int8 cosine $cos vs exact ${wide(id)}")
    }
    val recall = got.map(_._1).count(exact.contains) / 10.0
    info(f"int8 IVF recall@10 = $recall%.2f")
    assert(recall >= 0.8, s"int8 recall@10 $recall")

    // in-memory composition equals the loaded layout
    val mem = Similarity.queryIvfInt8(Similarity.int8Index(idx), q, 10)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"))).toSeq
    assert(mem == got.toSeq)
  }

  test("batch int8 IVF == per-query int8 loop on every query") {
    val corpus = embeddings.filter(col("vec_id") >= 3)
    val memIdx = Similarity.int8Index(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"))
    // through the persisted layout, so the probed-cell-union pruning is
    // visible as a source partition filter
    val dir = java.nio.file.Files
      .createTempDirectory("graft-int8-batch").toString
    Similarity.writeIvfIndex(memIdx, dir)
    val coded = Similarity.loadIvfIndex(spark, dir)
    val queries = embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batchDf = Similarity.queryIvfInt8Batch(coded, queries, "query_id",
      "embedding", k = 10)
    val plan = batchDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*__cell[^\\]]*IN".r
      .findFirstIn(plan).isDefined,
      s"no __cell partition filter in the int8 batch plan:\n$plan")
    assert(plan.contains("dynamicpruning"),
      s"probed-cell file skip must ride dynamic partition pruning:\n$plan")
    val batch = batchDf
      .select("query_id", "vec_id", "cosine").collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(r => (r.getLong(1),
        r.getDouble(2))).sortBy(x => (-x._2, x._1)).toSeq }
    Seq(0L, 1L, 2L).foreach { qid =>
      val qv = embeddings.filter(col("vec_id") === qid)
        .select("embedding").head.getSeq[Float](0)
      val loop = Similarity.queryIvfInt8(coded, qv, 10)
        .select("vec_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == loop, s"query $qid differs from the loop path")
    }
  }

  test("batch IVF×PQ serves a query set like the single-query composed path") {
    import graft.pipeline.Pq
    val corpus = embeddings.filter(col("vec_id") >= 3)
    val idx0 = Similarity.buildIvfIndex(corpus, "vec_id", "embedding")
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-batch").toString
    Similarity.writeIvfPqIndex(idx0, cb, dir)
    val (idx, lcb) = Similarity.loadIvfPqIndex(spark, dir)
    val queries = embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batchDf = Similarity.queryIvfPqBatch(idx, lcb, queries, "query_id",
      "embedding", k = 10, nProbe = 2, rerank = 50)
    // the ADC candidate stage reads only (id, codes) — column pruning
    // must leave the float vectors on disk for the non-survivor rows
    val plan = batchDf.queryExecution.executedPlan.toString
    assert("ReadSchema: struct<vec_id:[^,]+,__codes".r
      .findFirstIn(plan).isDefined,
      s"candidate scan did not prune to id+codes:\n$plan")
    // and the probed-cell semi-join prunes the corpus scans at the
    // SOURCE via DYNAMIC partition pruning (an equi-join alone cannot
    // push partition filters; the broadcast cell set is reused as the
    // runtime filter — no inline-literal cell list anywhere)
    assert("PartitionFilters: \\[[^\\]]*__cell[^\\]]*IN".r
      .findFirstIn(plan).isDefined,
      s"no __cell partition filter in the batch plan:\n$plan")
    assert(plan.contains("dynamicpruning"),
      s"probed-cell file skip must ride dynamic partition pruning:\n$plan")
    // tight rerank: per-query equality with the single-query composed path
    val batch = batchDf
      .select("query_id", "vec_id", "cosine").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => (r.getLong(1),
        r.getDouble(2))).sortBy(x => (-x._2, x._1)).toSeq }
    Seq(0L, 1L, 2L).foreach { qid =>
      val qv = embeddings.filter(col("vec_id") === qid)
        .select("embedding").head.getSeq[Float](0)
      val single = Similarity.queryIvfPq(idx, lcb, qv, 10, nProbe = 2,
          rerank = 50)
        .select("vec_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single, s"query $qid differs from queryIvfPq")
    }
    // rerank ≥ every probed cell's row count ⇒ ADC order can't evict a
    // true neighbour, so the composed batch EQUALS plain batch IVF
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val full = Similarity.queryIvfPqBatch(idx, lcb, queries, "query_id",
      "embedding", k = 10, nProbe = 2, rerank = 1000000)
    val plain = Similarity.queryIvfBatch(idx, queries, "query_id",
      "embedding", k = 10, nProbe = 2)
    assert(rows(full) == rows(plain))
    // a codebook whose m·subDim disagrees with the query dim fails
    // loudly (Pq.approxDot's posture, shared by the batch LUT) instead
    // of silently ranking candidates by prefix/zero dots
    val badCb = Pq.PqCodebooks(lcb.subDim * 2, lcb.codebooks)
    val exDim = intercept[Throwable] {
      Similarity.queryIvfPqBatch(idx, badCb, queries, "query_id",
        "embedding", k = 10, nProbe = 2, rerank = 50).collect()
    }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq.flatMap(e =>
      Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(exDim).exists(_.contains("codebook dim")), msgs(exDim))
  }

  test("k-means-trained IVF recall >= untrained at the same probe budget") {
    // ground truth: exact top-10 per query; recall = |ivf ∩ truth| / 10.
    // Trained centroids must never lose to the raw lowest-id seeds when
    // both probe a single cell.
    val queries = Seq(5L, 25L, 77L, 99L, 123L, 250L, 300L, 333L, 411L,
      470L).map { qid =>
      embeddings.filter(col("vec_id") === qid)
        .select("embedding").head.getSeq[Float](0)
    }
    val untrained = Similarity.buildIvfIndex(embeddings, "vec_id",
      "embedding", nCentroids = 8)
    val trained = Similarity.buildIvfIndex(embeddings, "vec_id",
      "embedding", nCentroids = 8, kmeansIters = 5)
    def recall(idx: Similarity.IvfIndex, q: Seq[Float]): Double = {
      val truth = Similarity.cosineTopK(embeddings, "vec_id", "embedding",
        q, 10).select("vec_id").collect().map(_.getLong(0)).toSet
      val got = Similarity.queryIvf(idx, q, 10, nProbe = 1)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (got & truth).size.toDouble / truth.size
    }
    val (ru, rt) = queries.map(q => (recall(untrained, q), recall(trained, q)))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(rt >= ru, s"trained recall $rt < untrained $ru")
    assert(rt > 0.0)
    // the spherical k-means objective — mean cosine of each vector to its
    // assigned centroid — is non-decreasing per iteration by construction;
    // assert it improved (guaranteed, unlike the sampled recall above)
    def objective(idx: Similarity.IvfIndex): Double = {
      val cent = array(idx.centroids.map(Similarity.vecLit): _*)
      idx.assigned.select(avg(Similarity.cosine(col("embedding"),
          element_at(cent, col("__cell") + 1))).as("o"))
        .head.getDouble(0)
    }
    assert(objective(trained) >= objective(untrained) - 1e-12)
  }

  test("banded embedding near-dup plan has no cartesian product") {
    // assert the shape on the lazy candidate plan (signBandCandidates
    // checkpoints its result, which would hide the generating join)
    val bands = Similarity.bandedSignatures(embeddings, "vec_id",
      "embedding", 8, 8)
    val plan = Similarity.candidatePairPlan(bands, "vec_id", None)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"cartesian in plan:\n$plan")
    val nd = Similarity.nearDuplicateVectors(embeddings, "vec_id",
      "embedding", 0.45)
    nd.collect().foreach(r => assert(r.getAs[Double]("cosine") >= 0.45))
  }

  test("winnowing fingerprints: shared-substring guarantee and window selection") {
    val s = spark; import s.implicits._
    val shared = "the winnowing guarantee holds" // ≥ w + k − 1 = 11 chars
    val df = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"unrelated prose here $shared and more"),
      (3L, "zzzz qqqq vvvv"), // no 8-gram in common with doc 1
      (4L, "tiny"), // shorter than k → no grams at all
      (5L, "exactly9!") // 2 grams < w → one window over them all
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(df, "doc_id", "text", 8, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert((fps(1) intersect fps(2)).nonEmpty,
      "documents sharing an 11+-char substring must share a fingerprint")
    assert((fps(1) intersect fps(3)).isEmpty,
      "documents with no common 8-gram must share none")
    assert(fps(4).isEmpty)
    assert(fps(5).size == 1)
    // driver-side reference replay of the full selection for doc 1
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val norm = s"alpha beta $shared gamma delta"
    val grams = (0 to norm.length - 8).map(i => md5hex(norm.substring(i, i + 8)))
    val wins = (0 until math.max(grams.length - 3, 1))
      .map(j => grams.slice(j, j + 4).min)
    assert(fps(1) == wins.toSet)
    // regression guard: exploding must NOT let the optimizer infer a
    // size()>0 filter and push it through the staged projections — that
    // inlines the whole pipeline into one per-row O(n²) Filter tree
    // (normalize re-run per gram). One regexp_replace = the normalize
    // projection only.
    // plan guard over the parquet source (a literal-backed frame folds
    // to a LocalRelation and has no plan left to inspect)
    val plan = TextOps.winnowFingerprintRows(docs, "doc_id", "text", 8, 4)
      .queryExecution.optimizedPlan.toString
    assert("regexp_replace".r.findAllIn(plan).length == 1,
      s"winnow stages were inlined by the optimizer:\n$plan")
    val rows = TextOps.winnowFingerprintRows(df, "doc_id", "text", 8, 4)
    assert(rows.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 5L),
      "outer explode + isNotNull must drop only fingerprint-less docs")
    // the xxhash64 production variant honors the same guarantee and is
    // deterministic across runs
    val f64 = TextOps.winnowFingerprints64(df, "doc_id", "text", 8, 4)
    val m64 = f64.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((m64(1) intersect m64(2)).nonEmpty)
    assert((m64(1) intersect m64(3)).isEmpty)
    assert(m64(4).isEmpty)
    val m64b = TextOps.winnowFingerprints64(df, "doc_id", "text", 8, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(m64 == m64b)
    // the native winnow_select expression is bit-identical to the
    // staged HOF fold on the real corpus
    assert(spark.catalog.functionExists("winnow_select"),
      "GraftExtensions not registered in the test session")
    def allFps(frame: org.apache.spark.sql.DataFrame) =
      frame.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSeq
    val nat = TextOps.winnowFingerprints(docs, "doc_id", "text", 8, 4)
    assert(nat.queryExecution.analyzed.toString.contains("winnow_select"),
      "winnowFingerprints did not pick the native expression")
    assert(allFps(nat) ==
      allFps(TextOps.winnowFingerprintsFold(docs, "doc_id", "text", 8, 4)))
    // ...and the xxhash64 production variant's native upgrade likewise
    def all64(frame: org.apache.spark.sql.DataFrame) =
      frame.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    val nat64 = TextOps.winnowFingerprints64(docs, "doc_id", "text", 8, 4)
    assert(nat64.queryExecution.analyzed.toString.contains("winnow_select64"),
      "winnowFingerprints64 did not pick the native expression")
    assert(all64(nat64) ==
      all64(TextOps.winnowFingerprints64Fold(docs, "doc_id", "text", 8, 4)))
  }

  test("winnowOverlap stop-fingerprint cap drops only boilerplate keys") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val exact = TextOps.winnowOverlap(corpus, bench, "doc_id", "text",
        minShared = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a cap at the benchmark size is a no-op (no fp can exceed it)
    val capped = TextOps.winnowOverlap(corpus, bench, "doc_id", "text",
        minShared = 20, maxFpDf = Some(bench.count().toInt)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == exact)
    // a tight cap only ever REDUCES pair counts (drops hot keys)
    val tight = TextOps.winnowOverlap(corpus, bench, "doc_id", "text",
        minShared = 1, maxFpDf = Some(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val loose = TextOps.winnowOverlap(corpus, bench, "doc_id", "text",
        minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(tight.keySet.subsetOf(loose.keySet))
    tight.foreach { case (p, n) => assert(n <= loose(p)) }
  }

  test("Misra-Gries heavy hitters: sketch bounds hold against exact counts") {
    val toks = docs
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val n = toks.count()
    val exact = toks.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // k BELOW the fixture vocabulary (31 distinct tokens), so the
    // sketch actually decrements and merges — the approximate regime;
    // q_heavy oracle-checks the exact regime (k > vocabulary)
    val k = 10
    val err = n.toDouble / (k + 1)
    val hh = TextOps.heavyHitters(docs, "text", k).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(hh.nonEmpty && hh.size <= k)
    hh.foreach { case (t, est) =>
      val truth = exact(t)
      assert(est <= truth, s"'$t' overestimated: $est > $truth")
      assert(truth - est <= err,
        s"'$t' undercounts past the n/(k+1) bound: $truth - $est > $err")
    }
    val mustHave = exact.collect { case (t, c) if c > err => t }.toSet
    assert(mustHave.subsetOf(hh.map(_._1).toSet),
      s"guaranteed heavy hitters missing: " +
        s"${mustHave -- hh.map(_._1).toSet}")
  }

  test("approx_count_distinct tracks exact distinct within 5% (HLL)") {
    val li = spark.read.parquet(s"$fixtures/lineitem.parquet")
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).head
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05,
      s"HLL estimate $approx vs exact $exact")
  }

  test("multimodal frame sampling and resize stubs") {
    import graft.pipeline.Multimodal
    val withBin = docs.limit(10)
      .withColumn("payload", Multimodal.payloadOf(col("text")))
    val offsets = withBin.select(col("doc_id"),
      octet_length(col("payload")).as("len"),
      Multimodal.frameSampleOffsets(col("payload"), 4).as("offs")).collect()
    offsets.foreach { r =>
      val len = r.getInt(1)
      val offs = r.getSeq[Long](2)
      assert(offs.length == 4 && offs.head == 0L)
      assert(offs.forall(o => o >= 0 && o < len))
      assert(offs == offs.sorted)
    }
    val resized = Multimodal.resizeFeatures(withBin, "payload", 8).collect()
    resized.foreach(r =>
      assert(r.getSeq[Float](r.fieldIndex("features")).length == 8))
  }

  test("multimodal decode: non-image payloads take the deterministic opaque path") {
    val withBin = docs.limit(20)
      .withColumn("payload", Multimodal.payloadOf(col("text")))
    val a = Multimodal.decodePartitioned(withBin, "payload")
    assert(a.schema("meta").dataType == Multimodal.mediaMetaType)
    val rows = a.collect()
    rows.foreach { r =>
      val feats = r.getSeq[Float](r.fieldIndex("features"))
      assert(feats.length == 16)
      assert(math.abs(feats.sum - 1.0f) < 1e-3)
      val meta = r.getStruct(r.fieldIndex("meta"))
      assert(meta.getString(0) == "application/octet-stream")
      assert(meta.getInt(1) == 0 && meta.getInt(2) == 0 && meta.getInt(3) == 0)
    }
    // Array[Byte].toString is identity-based — compare on doc_id/meta/
    // features, which carry the full decode output
    def key(rs: Array[org.apache.spark.sql.Row]) = rs.map { r =>
      (r.getLong(r.fieldIndex("doc_id")),
        r.getStruct(r.fieldIndex("meta")).toString,
        r.getSeq[Float](r.fieldIndex("features")).toList)
    }.sortBy(_._1).toSeq
    val b = Multimodal.decodePartitioned(withBin, "payload").collect()
    assert(key(rows.toArray) == key(b))
  }

  test("imageio decode: real PNG/JPEG dimensions and luminance features") {
    val s = spark
    import s.implicits._
    def img(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(im, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val df = Seq(
      (1L, img(20, 10, 0xffffff, "png")),
      (2L, img(5, 8, 0x000000, "png")),
      (3L, img(12, 7, 0x808080, "jpg")),
      (4L, "definitely not an image".getBytes("UTF-8"))
    ).toDF("id", "payload")
    val got = Multimodal.decodePartitioned(df, "payload").collect()
      .map(r => r.getLong(0) -> (r.getStruct(2), r.getSeq[Float](3))).toMap
    val (m1, f1) = got(1L)
    assert(m1.getString(0) == "image/png" &&
      m1.getInt(1) == 20 && m1.getInt(2) == 10 && m1.getInt(3) == 1)
    assert(f1.last == 1.0f && f1.init.forall(_ == 0f),
      "white image: all luminance mass in the top bucket")
    val (m2, f2) = got(2L)
    assert(m2.getInt(1) == 5 && m2.getInt(2) == 8)
    assert(f2.head == 1.0f, "black image: all mass in bucket 0")
    val (m3, f3) = got(3L)
    assert(m3.getString(0) == "image/jpeg" &&
      m3.getInt(1) == 12 && m3.getInt(2) == 7)
    assert(math.abs(f3.sum - 1.0f) < 1e-3)
    val (m4, _) = got(4L)
    assert(m4.getString(0) == "application/octet-stream" && m4.getInt(1) == 0)
  }

  test("image aHash: luminance grid is integer-exact on a known " +
      "pattern, robust to a one-unit pixel edit, banded-pairable") {
    val s = spark
    import s.implicits._
    def halfPng(bump: Boolean): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        im.setRGB(x, y, if (x < 8) 0x000000 else 0xffffff)
      if (bump) im.setRGB(0, 0, 0x010101) // one luminance unit
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(im, "png", bos))
      bos.toByteArray
    }
    // left-half black, right-half white: cells are exactly 0 / 255,
    // integer mean 127, hash = the right-half bit mask
    val grid = Multimodal.luminanceGrid(halfPng(bump = false), 8)
    assert(grid.length == 64)
    for (r <- 0 until 8; c <- 0 until 8)
      assert(grid(r * 8 + c) == (if (c < 4) 0L else 255L),
        s"cell ($r,$c) = ${grid(r * 8 + c)}")
    val h0 = Multimodal.averageHashOf(grid)
    val expected = (0 until 8).map(r =>
      0xF0L << (r * 8)).reduce(_ | _)
    assert(h0 == expected, f"hash $h0%016x != $expected%016x")
    // a one-unit pixel edit is a DIFFERENT image whose hash moves by
    // at most the one touched cell (and any cells sitting exactly on
    // the shifted mean — none in this pattern)
    val h1 = Multimodal.averageHashOf(
      Multimodal.luminanceGrid(halfPng(bump = true), 8))
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 1)
    // non-image payloads: deterministic byte-histogram fallback
    val bytes = "not an image at all".getBytes("UTF-8")
    val fb = Multimodal.luminanceGrid(bytes, 8)
    assert(fb.sum == bytes.length &&
      fb.toSeq == Multimodal.luminanceGrid(bytes, 8).toSeq)
    // column form: null payload -> null grid/hash; the banded Hamming
    // join (k=8) pairs the twin images with no all-pairs stage
    val df = Seq((1L, halfPng(bump = false)),
      (2L, halfPng(bump = true)),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val hashed = Multimodal.averageHash(df, "payload")
    val rows = hashed.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("ahash"))).toMap
    assert(rows(3L).isEmpty, "null payload must hash to null")
    assert(rows(1L).contains(h0) && rows(2L).contains(h1))
    val pairs = Dedup.simHashNearPairs(
      hashed.filter(col("ahash").isNotNull).select(col("id"),
        col("ahash")), "id", "ahash", k = 8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
    // a 65-cell grid would wrap `1L << i` onto bit 0: fail fast
    intercept[IllegalArgumentException](
      Multimodal.averageHashOf(Array.fill(65)(1L)))
  }

  test("canonicalizeUrl: RFC 3986 normalization rules, edge cases, " +
      "non-URL passthrough") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // scheme+host lowercase, default port, fragment, tracking, slashes
      ("HTTP://WWW.Ex.COM:80//a//b/?x=1&utm_source=t&gclid=g#f",
        "http://www.ex.com/a/b?x=1"),
      // https default port; param ORDER preserved; path case preserved
      ("HTTPS://Ex.Com:443/A/B?b=2&a=1", "https://ex.com/A/B?b=2&a=1"),
      // NON-default port kept; root path strips to bare authority
      ("https://ex.com:8443/", "https://ex.com:8443"),
      // tracking-only query drops its '?'; leading tracking repaired
      ("https://ex.com/p?utm_a=1&utm_b=2", "https://ex.com/p"),
      ("https://ex.com/p?utm_a=1&id=7", "https://ex.com/p?id=7"),
      // value containing 'utm_' inside a NAME only is removed; a param
      // merely ending in clid survives
      ("https://ex.com/p?xfbclid=1&id=2", "https://ex.com/p?xfbclid=1&id=2"),
      // not a URL: unchanged
      ("no scheme here", "no scheme here"),
      ("", ""))
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), TextOps.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"canonicalizeUrl($in) = ${got(in)}")
    }
    // null in, null out
    val n = Seq((1L, null.asInstanceOf[String])).toDF("id", "u")
      .select(TextOps.canonicalizeUrl(col("u"))).head()
    assert(n.isNullAt(0))
    // idempotence: canonical forms are fixed points
    val canon = cases.map(_._2).toDF("u")
      .select(col("u"), TextOps.canonicalizeUrl(col("u")).as("c"))
      .collect()
    canon.foreach(r => assert(r.getString(0) == r.getString(1),
      s"not idempotent on ${r.getString(0)}: ${r.getString(1)}"))
  }

  test("audio fingerprint: energy windows are integer-exact on a known " +
      "waveform, robust to a one-LSB sample edit, banded-pairable") {
    val s = spark
    import s.implicits._
    // PCM16 mono 8 kHz WAV: 512 frames, first half silence, second
    // half constant amplitude A — window energies exactly 0 / 8·A²
    def wav(samples: Array[Int]): Array[Byte] = {
      val out = new Array[Byte](44 + 2 * samples.length)
      def le32(off: Int, v: Int): Unit = {
        out(off) = (v & 0xff).toByte
        out(off + 1) = ((v >> 8) & 0xff).toByte
        out(off + 2) = ((v >> 16) & 0xff).toByte
        out(off + 3) = ((v >> 24) & 0xff).toByte
      }
      def tag(off: Int, t: String): Unit =
        (0 until 4).foreach(i => out(off + i) = t.charAt(i).toByte)
      tag(0, "RIFF"); le32(4, 36 + 2 * samples.length); tag(8, "WAVE")
      tag(12, "fmt "); le32(16, 16); out(20) = 1; out(22) = 1
      le32(24, 8000); le32(28, 16000); out(32) = 2; out(34) = 16
      tag(36, "data"); le32(40, 2 * samples.length)
      samples.indices.foreach { i =>
        out(44 + 2 * i) = (samples(i) & 0xff).toByte
        out(44 + 2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      out
    }
    val a = 1000
    def halfLoud(bump: Boolean): Array[Byte] = {
      val sm = Array.tabulate(512)(i => if (i < 256) 0 else a)
      if (bump) sm(0) = 1 // one sample LSB
      wav(sm)
    }
    val e0 = Multimodal.energyWindows(halfLoud(bump = false), 64)
    assert(e0.length == 64)
    e0.zipWithIndex.foreach { case (e, i) =>
      assert(e == (if (i < 32) 0L else 8L * a * a), s"window $i = $e")
    }
    // silence mean = 4·A²: exactly the loud half's bits set
    val h0 = Multimodal.averageHashOf(e0)
    assert(h0 == 0xFFFFFFFF00000000L, f"hash $h0%016x")
    // a one-LSB sample edit is a DIFFERENT clip whose fingerprint
    // moves by at most the one touched window
    val h1 = Multimodal.averageHashOf(
      Multimodal.energyWindows(halfLoud(bump = true), 64))
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 1)
    // non-audio payloads: deterministic byte-histogram fallback
    val bytes = "definitely not audio".getBytes("UTF-8")
    val fb = Multimodal.energyWindows(bytes, 64)
    assert(fb.sum == bytes.length &&
      fb.toSeq == Multimodal.energyWindows(bytes, 64).toSeq)
    // column form: null payload -> null energies/hash; the banded
    // Hamming join (k=4) pairs the twin clips, no all-pairs stage
    val df = Seq((1L, halfLoud(bump = false)),
      (2L, halfLoud(bump = true)),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val fp = Multimodal.audioFingerprint(df, "payload")
    val rows = fp.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("afp"))).toMap
    assert(rows(3L).isEmpty, "null payload must fingerprint to null")
    assert(rows(1L).contains(h0) && rows(2L).contains(h1))
    val pairs = Dedup.simHashNearPairs(
      fp.filter(col("afp").isNotNull).select(col("id"), col("afp")),
      "id", "afp", k = 4).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
  }

  test("end-to-end curation: quality gate, scrub, dedup, mix compose") {
    import graft.pipeline.Curation
    val out = Curation.curate(docs, "doc_id", "text", "lang",
      minQuality = 0.3, dedupThreshold = 0.8,
      mixRates = Map("en" -> 1.0, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0,
        "zh" -> 1.0))
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length < docs.count())
    rows.foreach { r =>
      assert(r.getAs[Double]("quality") >= 0.3)
      val t = r.getAs[String]("text")
      assert(!t.matches(".*[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}.*"),
        s"unredacted email survived: $t")
    }
    // the kept set is near-dup-free at the curation threshold
    val kept = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), out.schema)
    assert(Dedup.nearDuplicatePairs(kept, "doc_id", "text", 0.8)
      .collect().isEmpty)
    // mixing drops strata with rate 0
    val onlyEn = Curation.curate(docs, "doc_id", "text", "lang",
      mixRates = Map("en" -> 1.0), defaultRate = 0.0)
      .select("lang").distinct().collect().map(_.getString(0)).toSeq
    assert(onlyEn == Seq("en"))
    // optional LM banding: equals the manual band filter applied to the
    // same pipeline, appends lm_score, and None leaves behavior as-is
    val lm = TextOps.charLm(docs, "text", 3, maxTypes = 200)
    val scores = docs.select(
        col("doc_id"),
        TextOps.lmScoreUdf(spark, lm)(TextOps.normalize(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (lo, hi) = {
      val xs = scores.values.toSeq.sorted
      (xs(xs.size / 4), xs(3 * xs.size / 4)) // middle band, CCNet-style
    }
    val banded = Curation.curate(docs, "doc_id", "text", "lang",
      mixRates = Map("en" -> 1.0, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0,
        "zh" -> 1.0), lmBand = Some((lm, lo, hi)))
    val bandedRows = banded.collect()
    assert(bandedRows.nonEmpty && bandedRows.length < rows.length)
    bandedRows.foreach { r =>
      val sc = r.getAs[Double]("lm_score")
      assert(sc >= lo && sc < hi)
      assert(sc == scores(r.getAs[Long]("doc_id")),
        "lm_score must be the pre-scrub score the band filtered on")
    }
    // column-collision guards: an input already carrying quality or
    // lm_score would be silently overwritten — refuse instead
    intercept[IllegalArgumentException](Curation.curate(
      docs.withColumn("quality", lit(0.9)), "doc_id", "text", "lang"))
    intercept[IllegalArgumentException](Curation.curate(
      docs.withColumn("lm_score", lit(0.5)), "doc_id", "text", "lang",
      lmBand = Some((lm, lo, hi))))
    // …but a pre-existing lm_score is fine when no band re-scores it
    assert(Curation.curate(docs.withColumn("lm_score", lit(0.5)),
      "doc_id", "text", "lang").columns.contains("lm_score"))
    // optional classifier routing: keeps exactly the docs the model
    // labels into the kept set, lands the label for downstream routing
    val nb = graft.pipeline.Classify.train(docs, "lang", "text")
    val preds = docs.select(col("doc_id"),
        graft.pipeline.Classify.classifyUdf(nb)(
          TextOps.tokens(col("text"))).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val keepLabels = Set("en", "de")
    val routed = Curation.curate(docs, "doc_id", "text", "lang",
      mixRates = Map("en" -> 1.0, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0,
        "zh" -> 1.0), nbRoute = Some((nb, keepLabels)))
      .collect()
    assert(routed.nonEmpty && routed.length < rows.length)
    routed.foreach { r =>
      val label = r.getAs[String]("nb_label")
      assert(keepLabels(label) &&
        label == preds(r.getAs[Long]("doc_id")),
        "nb_label must be the model's own pre-scrub verdict")
    }
    // guards: a label the model can't predict, a claimed column
    intercept[IllegalArgumentException](Curation.curate(docs, "doc_id",
      "text", "lang", nbRoute = Some((nb, Set("nope")))))
    intercept[IllegalArgumentException](Curation.curate(
      docs.withColumn("nb_label", lit("x")), "doc_id", "text", "lang",
      nbRoute = Some((nb, keepLabels))))
  }

  test("semDeDup: within-cell pairs only, least-prototypical survivor, " +
      "tie to lower id, loud maxCell guard") {
    import graft.pipeline.{Dedup, Similarity}
    val s = spark
    import s.implicits._
    // dim 4, nCells = 2: centroids seed from ids 0 and 1, so cell 0 is
    // the x-axis family, cell 1 the y-axis family
    val vecs = Seq(
      0L -> Seq(1f, 0f, 0f, 0f),      // centroid 0; most prototypical
      1L -> Seq(0f, 1f, 0f, 0f),      // centroid 1
      2L -> Seq(1f, 0.1f, 0f, 0f),    // cell 0, near 0
      3L -> Seq(0.9f, 0.2f, 0f, 0f),  // cell 0, LEAST central of {0,2,3}
      4L -> Seq(0f, 1f, 0.05f, 0f),   // cell 1, near 1
      5L -> Seq(0f, 0f, 0f, 1f),      // orthogonal: no pair anywhere
      6L -> Seq(0.6f, 0.8f, 0f, 0f),  // cell 1; exact-dup pair with 7
      7L -> Seq(0.6f, 0.8f, 0f, 0f)
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.semDeDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, nCells = 2)
    val got = pairs.collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // pairs never cross cells: {0,2,3} chain in cell 0, (1,4) and the
    // exact duplicate (6,7) in cell 1 — (1,6) at cosine 0.8 stays out
    assert(got == Set((0L, 2L), (0L, 3L), (2L, 3L), (1L, 4L), (6L, 7L)))
    // the pair generation is an equi-join on the cell id, never cartesian
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
    // survivors: each component keeps its LOWEST-centroid-cosine member
    // — {0,2,3} keeps 3 (the centroid itself, id 0, is the MOST
    // prototypical and dies), {1,4} keeps 4, {6,7} ties at equal
    // centroid cosine and keeps the lower id 6 — and the pairless id 5
    // passes through untouched
    val kept = Dedup.semDeDup(vecs, "vec_id", "embedding",
      threshold = 0.9, nCells = 2).collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L, 6L))
    // oversized cells fail loudly instead of silently under-deduping
    val ex = intercept[IllegalArgumentException] {
      Dedup.semDeDupPairs(vecs, "vec_id", "embedding", threshold = 0.9,
        nCells = 2, maxCell = Some(3))
    }
    assert(ex.getMessage.contains("maxCell"))
    // ...and a bound that holds passes
    assert(Dedup.semDeDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, nCells = 2, maxCell = Some(5)).count() == 5)
    // the quantizer is the SAME one ANN serving builds: pair cells match
    // buildIvfIndex's assignment
    val idx = Similarity.buildIvfIndex(vecs, "vec_id", "embedding", 2)
    val cellOf = idx.assigned.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    pairs.collect().foreach { r =>
      assert(cellOf(r.getLong(1)) == r.getInt(0) &&
        cellOf(r.getLong(2)) == r.getInt(0))
    }
  }

  test("NB eval argmax margins dwarf cross-engine ln ulp drift " +
      "(the q_nb_eval float-robustness contract)") {
    // q_nb_eval's oracle re-derives held-out predictions with DuckDB's
    // ln, which may differ from Math.log in the last ulp. The gate is
    // sound iff non-tie argmax margins dwarf the accumulated drift
    // (~n_tokens · |term| · 1 ulp ≈ 1e-11 at fixture scale); exact
    // ties fold bit-equal scores in EACH engine independently and
    // break to the lower label in both, so only near-ties threaten.
    // Audit BOTH fixture scales the driver gates on.
    import graft.pipeline.{Classify, Sampling}
    for {
      dir <- Seq(fixtures, "/root/testdata/sf0.01")
      // 16 = CurationGates' nbBigramBuckets (the q_nb_eval_bigram config)
      bg <- Seq(None, Some(16))
    } {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val cut = Sampling.splitAssign(d, col("doc_id"),
        Seq("train" -> 0.5, "eval" -> 0.5))
      // 24 = CurationGates' nbMaxVocab (the q_nb_model cap)
      val model = Classify.train(cut.filter(col("split") === "train"),
        "lang", "text", alpha = 1.0, maxVocab = Some(24),
        bigramBuckets = bg)
      val evalToks = cut.filter(col("split") === "eval")
        .select(Classify.features(col("text"), bg).as("t"))
        .collect().map(_.getSeq[String](0))
      assert(evalToks.nonEmpty)
      var minGap = Double.MaxValue
      var ties = 0
      evalToks.foreach { toks =>
        val ss = model.labels.map(l => model.score(l, toks))
          .sorted(Ordering[Double].reverse)
        val gap = ss(0) - ss(1)
        if (gap == 0.0) ties += 1 else minGap = math.min(minGap, gap)
      }
      info(f"$dir bigrams=$bg: min non-tie argmax margin $minGap%.3e, " +
        s"$ties exact ties")
      assert(minGap > 1e-6,
        s"$dir bigrams=$bg: margin $minGap — cross-engine ln drift " +
          "could flip a borderline argmax; the eval oracle is unsound")
    }
  }

  test("bigramFeatures: unigrams then hashed adjacent-pair buckets, " +
      "collision-free marker, degenerate arrays, exact md5-48 buckets") {
    import graft.pipeline.Classify
    val s = spark
    import s.implicits._
    val b = 16
    // the driver-side mirror of the column hash: md5 hex, first 12
    // nibbles as a long, mod buckets — hashBucket48's definition
    def bucket(a: String, bb: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a $bb".getBytes("UTF-8"))
      val hex = md.map(x => f"$x%02x").mkString.take(12)
      java.lang.Long.parseLong(hex, 16) % b
    }
    val got = Seq(
      (1L, Seq("alpha", "", "beta", "gamma")),
      (2L, Seq("solo")),
      (3L, Seq.empty[String]),
      (4L, null.asInstanceOf[Seq[String]]))
      .toDF("id", "toks")
      .select(col("id"), Classify.bigramFeatures(col("toks"), b).as("f"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[String](1))).toMap
    // empties dropped BEFORE pairing: (alpha,beta) and (beta,gamma)
    // are the adjacent pairs of the filtered sequence
    assert(got(1L).get == Seq("alpha", "beta", "gamma",
      s"bg ${bucket("alpha", "beta")}", s"bg ${bucket("beta", "gamma")}"))
    assert(got(2L).get == Seq("solo"), "one token -> no bigrams")
    assert(got(3L).get == Seq.empty, "empty stays empty")
    assert(got(4L).isEmpty, "null array stays null (serving posture)")
    // the embedded space makes a pseudo-token unmistakable: no
    // whitespace-split token can collide with one
    assert(got(1L).get.drop(3).forall(_.startsWith("bg ")))
    intercept[IllegalArgumentException](
      Classify.bigramFeatures(col("toks"), 0))
    // bucket range [0, b)
    val docs01 = spark.read.parquet(s"$fixtures/documents.parquet")
    val buckets = docs01
      .select(explode(Classify.bigramFeatures(
        TextOps.tokens(col("text")), b)).as("t"))
      .filter(col("t").startsWith("bg "))
      .select(expr("CAST(substring(t, 4) AS INT)").as("k"))
      .agg(min("k"), max("k"), count(lit(1))).head()
    assert(buckets.getInt(0) >= 0 && buckets.getInt(1) < b &&
      buckets.getLong(2) > 0)
  }

  test("semDeDupAuto sizes the quantizer from the corpus: " +
      "nCells = ceil(n/target), growth tracks the corpus, " +
      "and the sized run equals the hand-sized one") {
    import graft.pipeline.Dedup
    val s = spark
    import s.implicits._
    val vecs = embeddings.select("vec_id", "embedding")
    val n = vecs.count()
    // the sizing rule is the exact integer ceiling
    assert(Dedup.semDeDupAutoCells(vecs, 24) ==
      ((n + 23) / 24).toInt)
    assert(Dedup.semDeDupAutoCells(vecs, Int.MaxValue) == 1,
      "a target beyond the corpus floors at one cell")
    intercept[IllegalArgumentException](
      Dedup.semDeDupAutoCells(vecs, 0))
    // nCells grows WITH the corpus — the scale contract the manual
    // parameter could not enforce: 10x the rows, ~10x the cells
    val tenX = (0 until 10).map(i =>
        vecs.withColumn("vec_id", col("vec_id") + lit(i * 100000L)))
      .reduce(_ unionAll _)
    assert(Dedup.semDeDupAutoCells(tenX, 24) ==
      ((10 * n + 23) / 24).toInt)
    // the sized entry point IS semDeDup at the derived nCells (same
    // seeds, same survivor rule) — auto-sizing changes no semantics
    val auto = Dedup.semDeDupAuto(embeddings, "vec_id", "embedding",
        threshold = 0.3, targetCell = 24, kmeansIters = 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val manual = Dedup.semDeDup(embeddings, "vec_id", "embedding",
        threshold = 0.3, nCells = Dedup.semDeDupAutoCells(vecs, 24))
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(auto.nonEmpty && auto == manual)
    // and the default posture trains the quantizer (kmeansIters > 0):
    // balance over seed reproducibility in production
    val sized = Dedup.semDeDupAuto(embeddings, "vec_id", "embedding",
      threshold = 0.3, targetCell = 240)
    assert(sized.count() > 0)
  }

  test("centroid assignment edges: exact cosine ties break to the " +
      "higher cell, zero vectors (NaN cosines) outrank, nulls assign null") {
    import graft.pipeline.Similarity
    val s = spark
    import s.implicits._
    // seeds: ids 0,1 -> centroids [1,0] (cell 0) and [0,1] (cell 1)
    val base = Seq(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    val probes = Seq(
      10L -> Seq(1f, 1f),   // cos = 1/sqrt(2) to BOTH -> tie -> cell 1
      11L -> Seq(2f, 2f),   // same direction, scaled -> same tie -> cell 1
      12L -> Seq(0f, 0f),   // zero vector: NaN cosines outrank -> cell 1
      13L -> Seq(3f, 1f))   // clearly cell 0
    val idx = Similarity.buildIvfIndex((base ++ probes)
      .toDF("vec_id", "embedding"), "vec_id", "embedding", 2)
    val cells = idx.assigned.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cells == Map(0L -> 0, 1L -> 1, 10L -> 1, 11L -> 1,
      12L -> 1, 13L -> 0), cells.toString)
    // a null vector assigns a null cell rather than throwing
    val withNull = (base :+ (99L -> null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val nullCell = Similarity.assignCells(idx, withNull, "embedding")
      .filter(col("vec_id") === 99L).select("__cell").collect()
    assert(nullCell.length == 1 && nullCell.head.isNullAt(0))
  }

  test("incremental semDeDup: batch probes the landed index under " +
      "frozen centroids, keep-the-corpus filter, pruned loaded probe") {
    import graft.pipeline.{Dedup, Similarity}
    val s = spark
    import s.implicits._
    val corpus = Seq(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f),
      4L -> Seq(0f, 1f, 0.05f, 0f), 5L -> Seq(0f, 0f, 0f, 1f)
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      6L -> Seq(0.6f, 0.8f, 0f, 0f),  // cell 1; cos .8/.799 to ids 1/4
      7L -> Seq(0.6f, 0.8f, 0f, 0f),
      8L -> Seq(1f, 0.02f, 0f, 0f)    // cell 0; cos ~1 to id 0
    ).toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 2)
    val got = Dedup.semDeDupPairsAgainstIndex(idx, batch, "vec_id",
        "embedding", threshold = 0.75).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // batch rows pair ONLY against corpus rows of their frozen cell:
    // 6/7 meet 1 and 4 (cell 1, cosine .8/.799), never 0; 8 meets 0
    // (cell 0); the orthogonal id 5 pairs with nothing
    assert(got == Set((1L, 6L), (1L, 7L), (4L, 6L), (4L, 7L), (0L, 8L)))
    // keep-the-corpus ingest filter: every batch dup dies, corpus wins
    assert(Dedup.semDeDupFilterBatch(idx, batch, "vec_id", "embedding",
      0.75).collect().isEmpty)
    // ...and a threshold nothing clears keeps the whole batch
    assert(Dedup.semDeDupFilterBatch(idx, batch, "vec_id", "embedding",
      0.999999).count() == 3)
    // the probed-cell guard bounds the CORPUS side: cell 1 holds three
    // landed vectors {1,4,5}, so maxCell = 2 refuses and 3 passes
    val exCell = intercept[IllegalArgumentException] {
      Dedup.semDeDupPairsAgainstIndex(idx, batch, "vec_id", "embedding",
        0.75, maxCell = Some(2))
    }
    assert(exCell.getMessage.contains("maxCell"))
    assert(Dedup.semDeDupPairsAgainstIndex(idx, batch, "vec_id",
      "embedding", 0.75, maxCell = Some(3)).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet == got)
    // the persisted layout probes identically AND prunes: only the
    // batch's probed cells' partitions are read
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semdedup_idx").toString
    Similarity.writeIvfIndex(idx, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val viaLoad = Dedup.semDeDupPairsAgainstIndex(loaded, batch,
      "vec_id", "embedding", threshold = 0.75)
    assert(viaLoad.collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet == got)
    val oneCell = Dedup.semDeDupPairsAgainstIndex(loaded,
      batch.filter(col("vec_id") === 8L), "vec_id", "embedding", 0.75)
    // the probed-cell semi-join reaches the scan as a DYNAMIC partition
    // filter (the broadcast cell set reused as the runtime filter) —
    // the file skip survives with no inline-literal cell list
    val oneCellPlan = oneCell.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*__cell[^\\]]*IN".r
      .findFirstIn(oneCellPlan).isDefined, oneCellPlan)
    assert(oneCellPlan.contains("dynamicpruning"),
      s"probe file skip must ride dynamic partition pruning:\n$oneCellPlan")
  }

  test("semDeDupFilterBatch pins a non-deterministic batch once: the " +
      "probe and the anti-join see the SAME rows") {
    import graft.pipeline.{Dedup, Similarity}
    val s = spark
    import s.implicits._
    val corpus = Seq(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f)
    ).toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 2)
    // every candidate row IS a semantic duplicate of corpus id 1
    // (cosine 0.8 >= 0.75), and the batch keeps a GENUINELY random
    // subset per evaluation — under the pre-pin bug the anti-join
    // re-evaluated the batch, so rows absent from the scored snapshot
    // survived unscored (w.h.p. ~50 of 200 here); pinned, the filter
    // must drop everything it kept in its one snapshot
    val flip = udf(() => scala.util.Random.nextBoolean())
      .asNondeterministic()
    val wild = Seq.tabulate(200)(i =>
        (100L + i, Seq(0.6f, 0.8f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .filter(flip())
    assert(Dedup.semDeDupFilterBatch(idx, wild, "vec_id", "embedding",
      0.75).collect().isEmpty)
  }

  test("degenerate inputs: empty corpus, empty pair set, zero vector") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.nearDuplicatePairs(empty, "doc_id", "text", 0.8)
      .collect().isEmpty)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).collect().isEmpty)
    assert(Dedup.dropNearDuplicates(empty, "doc_id", "text", 0.8)
      .collect().isEmpty)
    assert(TextOps.fingerprint(empty, "doc_id", "text").collect().isEmpty)
    // all-zero embedding: scale falls back to 1.0, codes all zero — total
    val z = Seq((1L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
    val r = z.select(Similarity.int8Scale(col("embedding")).as("s"),
      Similarity.int8Codes(col("embedding"),
        Similarity.int8Scale(col("embedding"))).as("c")).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getSeq[Byte](1).forall(_ == 0))
    // single-document corpus: no pairs, survives every stage
    val one = Seq((7L, "a single document")).toDF("doc_id", "text")
    assert(Dedup.dropNearDuplicates(one, "doc_id", "text", 0.8)
      .count() == 1)
  }

  test("xxhash64 production MinHash finds the planted pairs too") {
    val got = Dedup.nearDuplicatePairs64(docs, "doc_id", "text", 0.8)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"))
    val pairs = got.collect()
    assert(pairs.length >= 20, s"recall collapsed: ${pairs.length}")
    pairs.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.8))
  }

  test("dropNearDuplicates keeps exactly one survivor per near-dup cluster") {
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b")
    val clusters = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val deduped = Dedup.dropNearDuplicates(docs, "doc_id", "text", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val total = docs.count()
    val expectedDrops = clusters.count { case (id, c) => id != c }
    assert(deduped.size == total - expectedDrops)
    // every cluster contributes exactly its min id
    clusters.foreach { case (id, c) =>
      assert(deduped.contains(id) == (id == c), s"doc $id cluster $c")
    }
  }

  test("hash sampling: deterministic, nested, rate-proportional") {
    import graft.pipeline.Sampling
    val a = Sampling.hashSample(docs, col("doc_id"), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(docs.repartition(7), col("doc_id"), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "keep set must not depend on partitioning")
    val wider = Sampling.hashSample(docs, col("doc_id"), 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(wider), "rate-0.3 sample must nest inside rate-0.6")
    val n = docs.count().toDouble
    assert(math.abs(a.size / n - 0.3) < 0.08, s"rate off: ${a.size / n}")
    val strat = Sampling.stratifiedHashSample(docs, col("doc_id"),
        col("lang"), Map("en" -> 1.0), defaultRate = 0.0)
      .select("lang").distinct().collect().map(_.getString(0)).toSeq
    assert(strat == Seq("en"), "default rate 0 must drop other strata")
  }

  test("char-ngram LM: hand-computed model and scores, short-text " +
      "zero, unseen-gram floor, cap cut determinism") {
    import graft.pipeline.TextOps
    import SparkSpec.spark.implicits._
    val corpus = Seq("abab", "abcd").toDF("text")
    // trigrams: abab -> aba, bab; abcd -> abc, bcd
    val m = TextOps.charNgramCounts(corpus, "text", 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("aba" -> 1L, "bab" -> 1L, "abc" -> 1L, "bcd" -> 1L))
    val lm = TextOps.CharLm(3, m, alpha = 0.5)
    // denominator: total 4 + 0.5 * (4 types + 1) = 6.5
    assert(lm.denom == 6.5)
    assert(lm.logProb("aba") == math.log(1.5 / 6.5))
    assert(lm.logProb("zzz") == math.log(0.5 / 6.5)) // unseen floor
    // score: mean over the slid grams, left to right
    assert(lm.score("abab") ==
      (math.log(1.5 / 6.5) + math.log(1.5 / 6.5)) / 2)
    assert(lm.score("ab") == 0.0 && lm.score("") == 0.0 &&
      lm.score(null) == 0.0)
    // a text of in-model grams outscores unseen-gram soup
    assert(lm.score("abab") > lm.score("zzzz"))
    // charNgrams: short text yields EMPTY, never a descending sequence
    val g = corpus.limit(1).select(
      TextOps.charNgrams(lit("ab"), 3)).collect().head.getSeq[String](0)
    assert(g == Seq.empty)
    // …the linear walk is astral-exact: a surrogate pair is ONE
    // codepoint per window position
    val astral = corpus.limit(1).select(
        TextOps.charNgrams(lit("a😀b😁"), 2))
      .collect().head.getSeq[String](0)
    assert(astral == Seq("a😀", "😀b", "b😁"),
      astral.toString)
    // …and a null text yields empty, matching the old when-guard
    assert(corpus.limit(1).select(TextOps.charNgrams(
      lit(null).cast("string"), 3)).collect().head.getSeq[String](0).isEmpty)
    // cap cut: top-N by (cnt DESC, gram) is deterministic at the tie
    val capped = TextOps.charNgramCounts(
        Seq("abab abab", "xyxy").toDF("text"), "text", 3, Some(3))
      .collect().map(_.getString(0)).toSeq
    assert(capped.size == 3)
    // the trained UDF equals the local score on the fixture corpus
    val docs2 = spark.read.parquet(s"$fixtures/documents.parquet")
    val trained = TextOps.charLm(docs2, "text", 3, maxTypes = 200)
    val u = TextOps.lmScoreUdf(spark, trained)
    val rows = docs2.limit(50).select(
        u(TextOps.normalize(col("text"))).as("s"),
        TextOps.normalize(col("text")).as("t")).collect()
    rows.foreach(r => assert(r.getDouble(0) == trained.score(r.getString(1))))
    // scoring is a narrow projection: no Exchange in the plan
    val plan = docs2.select(u(TextOps.normalize(col("text"))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("naive Bayes classifier: hand-computed model, OOV floor, argmax " +
      "tie rule, vocab cap, null guards, narrow serving") {
    import graft.pipeline.Classify
    val s = spark
    import s.implicits._
    val labeled = Seq(
      (1L, "a", "x y x"), (2L, "a", "x z"), (3L, "b", "z z y")
    ).toDF("doc_id", "lab", "text")
    val m = Classify.train(labeled, "lab", "text")
    // counts: a -> x:3 y:1 z:1 (tot 5), b -> y:1 z:2 (tot 3), V = 3
    assert(m.labels == IndexedSeq("a", "b"))
    assert(m.logPrior("a") == math.log(2.0 / 3) &&
      m.logPrior("b") == math.log(1.0 / 3))
    assert(m.logLik("a") == Map("x" -> math.log(4.0 / 8),
      "y" -> math.log(2.0 / 8), "z" -> math.log(2.0 / 8)))
    assert(m.logLik("b") == Map("y" -> math.log(2.0 / 6),
      "z" -> math.log(3.0 / 6)))
    assert(m.logOov("a") == math.log(1.0 / 8) &&
      m.logOov("b") == math.log(1.0 / 6))
    // argmax: x-heavy text -> a, z-heavy -> b, OOV-only -> the floor
    // comparison (a: ln(2/3)+ln(1/8) > b: ln(1/3)+ln(1/6) is false —
    // both ln(1/12) and ln(1/18): a wins)
    assert(m.classify(Seq("x", "x")) == "a")
    assert(m.classify(Seq("z", "z")) == "b")
    assert(m.classify(Seq("w")) == "a")
    // empty docs score the prior alone -> max-prior label
    assert(m.classify(Seq.empty) == "a")
    assert(m.score("a", Seq.empty) == m.logPrior("a"))
    // exact tie -> the SMALLER label (symmetric corpus, OOV query)
    val sym = Classify.train(
      Seq((1L, "b", "x"), (2L, "a", "y")).toDF("doc_id", "lab", "text"),
      "lab", "text")
    assert(sym.score("a", Seq("q")) == sym.score("b", Seq("q")))
    assert(sym.classify(Seq("q")) == "a")
    // vocab cap executes with the (count DESC, token) tie-break: top-2
    // of x(3) z(3) y(2) keeps {x, z}; y becomes OOV everywhere
    val capped = Classify.train(labeled, "lab", "text",
      maxVocab = Some(2))
    assert(capped.logLik("a").keySet == Set("x", "z") &&
      capped.logLik("b").keySet == Set("z"))
    // determinism
    assert(Classify.train(labeled, "lab", "text") == m)
    // null label raises; null text serves a null prediction
    val exNull = intercept[Exception] {
      Classify.train(Seq((1L, null.asInstanceOf[String], "x"))
        .toDF("doc_id", "lab", "text"), "lab", "text")
    }
    assert(Iterator.iterate(exNull: Throwable)(_.getCause)
      .takeWhile(_ != null).take(5)
      .exists(t => Option(t.getMessage).exists(_.contains("null label"))))
    val preds = Seq((1L, "x y"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Classify.classifyUdf(m)(TextOps.tokens(col("text"))).as("pred"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(preds(1L).contains("a") && preds(2L).isEmpty)
    // serving is a narrow projection: no Exchange in the plan
    val plan = docs.select(
        Classify.classifyUdf(m)(TextOps.tokens(col("text"))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // persistence round-trips bit-exactly (the stored doubles ARE the
    // model), including a label with an empty in-vocab row set
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nb_model").toString
    Classify.writeModel(spark, m, dir)
    assert(Classify.loadModel(spark, dir) == m)
    // labels order in CODEPOINT order (the q_nb_classify argmax window
    // ties under binary collation): U+E000 before U+1F600, though
    // Java's UTF-16 compareTo says the opposite
    val cpm = Classify.train(Seq(
        (1L, "\uD83D\uDE00", "x"), (2L, "\uE000", "y"))
      .toDF("doc_id", "lab", "text"), "lab", "text")
    assert(cpm.labels == IndexedSeq("\uE000", "\uD83D\uDE00"))
    // an empty vocabulary (all-blank texts) fails loudly instead of
    // silently routing every document to the first label via +Inf
    val exEmpty = intercept[Exception] {
      Classify.train(Seq((1L, "a", " "), (2L, "b", ""))
        .toDF("doc_id", "lab", "text"), "lab", "text")
    }
    assert(Iterator.iterate(exEmpty: Throwable)(_.getCause)
      .takeWhile(_ != null).take(5)
      .exists(t => Option(t.getMessage)
        .exists(_.contains("empty vocabulary"))))
    // uncapped training skips the vocabulary semi-join entirely (it
    // would broadcast a corpus-bounded type table to filter nothing)
    val uncappedPlan = Classify.pairCounts(labeled, "lab", "text", None)
      .queryExecution.executedPlan.toString
    assert(!uncappedPlan.contains("BroadcastHashJoin"), uncappedPlan)
  }

  test("split assignment: exhaustive, exclusive, deterministic, and " +
      "boundary-stable as fractions grow") {
    import graft.pipeline.Sampling
    val s = spark
    import s.implicits._
    val rows = (1L to 4000L).toDF("id")
    val spec = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def assign(sp: Seq[(String, Double)]) =
      Sampling.splitAssign(rows, col("id"), sp)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = assign(spec)
    // exhaustive + exclusive: every row exactly one split
    assert(a.size == 4000 && a.values.toSet == Set("train", "val", "test"))
    // deterministic across runs
    assert(a == assign(spec))
    // fractions approximately honored
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 4000.0)
    assert(math.abs(frac("train") - 0.8) < 0.03, frac.toMap.toString)
    assert(math.abs(frac("val") - 0.1) < 0.03, frac.toMap.toString)
    // boundary stability: growing train (at val's expense) never evicts
    // an existing train member, and test is untouched entirely
    val b = assign(Seq("train" -> 0.85, "val" -> 0.05, "test" -> 0.1))
    a.foreach { case (id, sp) =>
      if (sp == "train") assert(b(id) == "train")
      if (sp == "test") assert(b(id) == "test")
    }
    // guards: bad fractions, duplicate names, claimed column
    intercept[IllegalArgumentException](
      Sampling.splitAssign(rows, col("id"), Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](
      Sampling.splitAssign(rows, col("id"), Seq("a" -> 0.5, "a" -> 0.5)))
    intercept[IllegalArgumentException](Sampling.splitAssign(
      rows.withColumn("split", lit("x")), col("id"), spec))
    // single split: everything lands there
    assert(assign(Seq("all" -> 1.0)).values.toSet == Set("all"))
    // a null key fails the job instead of silently pooling every
    // null-id row in the last (held-out) split
    val withNull = rows.select(
      when(col("id") === 7L, lit(null).cast("long"))
        .otherwise(col("id")).as("id"))
    val ex = intercept[Throwable] {
      Sampling.splitAssign(withNull, col("id"), spec).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ chain(e.getCause))
    assert(chain(ex).exists(_.contains("null split key")), chain(ex))
    // ... including with a SINGLE split, where the fold never touches
    // the bucket — the guard wraps the whole assignment, so it cannot
    // be folded away as dead code
    val exSingle = intercept[Throwable] {
      Sampling.splitAssign(withNull, col("id"), Seq("all" -> 1.0))
        .collect()
    }
    assert(chain(exSingle).exists(_.contains("null split key")),
      chain(exSingle))
  }

  test("weighted hash sampling: weight-proportional, nested in c, " +
      "partition-stable") {
    import graft.pipeline.Sampling
    val s = spark
    import s.implicits._
    // two weight classes, many rows: heavy rows (w=8) must be kept at
    // ~8x the light rows' (w=1) rate under p = min(1, c*w)
    val rows = (0L until 4000L).map(i => (i, if (i % 2 == 0) 8.0 else 1.0))
      .toDF("id", "w")
    val kept = Sampling.weightedHashSample(rows, col("id"), col("w"), 0.05)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val heavyRate = kept.count(_._2 == 8.0) / 2000.0
    val lightRate = kept.count(_._2 == 1.0) / 2000.0
    assert(math.abs(heavyRate - 0.4) < 0.06, s"heavy rate $heavyRate")
    assert(math.abs(lightRate - 0.05) < 0.03, s"light rate $lightRate")
    // monotone in c, stable under repartitioning
    val ids = kept.map(_._1).toSet
    val wider = Sampling.weightedHashSample(rows, col("id"), col("w"), 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(wider), "raising c must only add rows")
    val reparted = Sampling
      .weightedHashSample(rows.repartition(7), col("id"), col("w"), 0.05)
      .collect().map(_.getLong(0)).toSet
    assert(ids == reparted, "keep set must not depend on partitioning")
    // p = min(1, c*w): a huge weight is ALWAYS kept
    val always = Sampling.weightedHashSample(
      Seq((1L, 1e9), (2L, 1e9)).toDF("id", "w"), col("id"), col("w"), 0.05)
    assert(always.count() == 2L)
    // null/negative weights raise — a data bug must fail the job, not
    // silently shrink the mix; zero stays a legal "never keep"
    for (bad <- Seq(null.asInstanceOf[java.lang.Double],
        java.lang.Double.valueOf(-1.0))) {
      val ex = intercept[Exception](Sampling.weightedHashSample(
          Seq((1L, bad)).toDF("id", "w"), col("id"), col("w"), 0.05)
        .collect())
      assert(ex.getMessage.contains("weightedHashSample"), ex.getMessage)
    }
    assert(Sampling.weightedHashSample(
        Seq((1L, 0.0)).toDF("id", "w"), col("id"), col("w"), 0.05)
      .count() == 0L)
  }

  test("weighted reservoir: exactly k, matches the A-ES reference, " +
      "biased toward weight") {
    import graft.pipeline.Sampling
    val s = spark
    import s.implicits._
    val rows = (0L until 500L).map(i => (i, 1.0 + (i % 10)))
      .toDF("id", "w")
    val got = Sampling.weightedReservoir(rows, col("id"), col("w"), 25)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got.length == 25 && got.distinct.length == 25)
    // independent driver-side reference: same hash fraction, same
    // exponential-key formula, same tie-break
    def md5hex(sv: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(sv.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ref = (0L until 500L).map { i =>
      val u = (java.lang.Long.parseLong(md5hex(i.toString).take(12), 16)
        + 0.5) / 281474976710656.0
      (i, math.pow(u, 1.0 / (1.0 + (i % 10))))
    }.sortBy { case (id, pri) => (-pri, id) }.take(25).map(_._1)
    assert(got.toSet == ref.toSet, "must match the A-ES reference")
    // stochastic sanity: mean weight of winners above the population's
    val meanW = got.map(i => 1.0 + (i % 10)).sum / 25.0
    assert(meanW > 5.5, s"winners' mean weight $meanW not weight-biased")
    // plan: top-k, not a global sort — TakeOrdered carries the limit
    val plan = Sampling.weightedReservoir(rows, col("id"), col("w"), 25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), s"expected TakeOrdered:\n$plan")
    // non-positive weights raise instead of inverting the order
    val bad = Sampling.weightedReservoir(
      Seq((1L, 0.0)).toDF("id", "w"), col("id"), col("w"), 1)
    assert(intercept[Exception](bad.collect())
      .getMessage.contains("weightedReservoir"))
  }

  test("log-weighted reservoir: matches weightedReservoir where exp " +
      "is safe, immune to exp overflow, null/NaN raises") {
    import graft.pipeline.Sampling
    val s = spark
    import s.implicits._
    val rows = (0L until 500L).map(i => (i, 1.0 + (i % 10)))
      .toDF("id", "w")
    // the log-space form must pick the same set as the direct A-ES
    // form on weights where exponentiation is harmless (the two
    // priorities are monotone transforms of each other)
    val direct = Sampling.weightedReservoir(rows, col("id"), col("w"), 25)
      .select("id").collect().map(_.getLong(0)).toSet
    val logged = Sampling.logWeightedReservoir(
        rows.withColumn("lw", log(col("w"))), col("id"), col("lw"), 25)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(logged == direct, "log-space must agree with the A-ES form")
    // the point of log space: weights e^±1000 overflow/underflow a
    // double, flattening the direct form's order — the log form keeps
    // the +1000 doc certain and the -1000 doc impossible at k = 2 of 3
    val ext = Seq((1L, 1000.0), (2L, -1000.0), (3L, 0.0))
      .toDF("id", "lw")
    val kept = Sampling.logWeightedReservoir(ext, col("id"),
        col("lw"), 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"extreme log weights mis-ranked: $kept")
    // plan: top-k, never a global sort
    val plan = Sampling.logWeightedReservoir(
        rows.withColumn("lw", log(col("w"))), col("id"), col("lw"), 25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), s"expected TakeOrdered:\n$plan")
    // a null or NaN log weight raises — an upstream scoring failure
    // must fail the job, not silently lose the lottery
    for (bad <- Seq(null.asInstanceOf[java.lang.Double],
        java.lang.Double.valueOf(Double.NaN))) {
      val ex = intercept[Exception](Sampling.logWeightedReservoir(
          Seq((1L, bad)).toDF("id", "lw"), col("id"), col("lw"), 1)
        .collect())
      assert(ex.getMessage.contains("logWeightedReservoir"),
        ex.getMessage)
    }
  }

  test("dropExactDuplicatesKeepBest: highest external score wins, " +
      "ties to lower id, all-null groups fall back to min id") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "same text", Some(1.0)),  // group A: 3 loses to...
      (3L, "same  text", Some(2.0)), // ...the higher score (norm collapses ws)
      (2L, "same text", Some(2.0)),  // tie with 3 at 2.0 -> min id 2 wins
      (4L, "other text", Some(0.5)), // singleton passes through
      (5L, "null group", None),      // all-null group: min id survives,
      (6L, "null group", None)       // never vanishes
    ).toDF("doc_id", "text", "score")
    val kept = Dedup.dropExactDuplicatesKeepBest(df, "doc_id", "text",
        col("score"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L), s"got $kept")
    // divergence from the blind min-id policy on the same corpus
    val blind = Dedup.dropExactDuplicates(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(blind == Set(1L, 4L, 5L), s"got $blind")
    assert(kept != blind, "fixture must distinguish the two policies")
  }

  test("Dsir.featureBuckets: unigram buckets in document order, then " +
      "adjacent-pair buckets in the SHARED space; degenerate inputs") {
    import graft.pipeline.Dsir
    val s = spark
    import s.implicits._
    val b = 32
    // driver-side mirror of the column hash: md5 hex, first 12
    // nibbles as a long, mod buckets — hashBucket48's definition
    def bucket(key: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      val hex = md.map(x => f"$x%02x").mkString.take(12)
      (java.lang.Long.parseLong(hex, 16) % b).toInt
    }
    val got = Seq(
      (1L, "Alpha  beta\tgamma"), // normalization: lower + ws collapse
      (2L, "solo"),               // one token -> no bigrams
      (3L, ""),                   // no tokens -> empty feature stream
      (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), Dsir.featureBuckets(col("text"), b).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Int](1))).toMap
    assert(got(1L).get ==
      Seq("alpha", "beta", "gamma").map(bucket) ++
        Seq(bucket("alpha beta"), bucket("beta gamma")),
      "unigrams in order, then adjacent pairs hashed as '<a> <b>'")
    assert(got(2L).get == Seq(bucket("solo")))
    assert(got(3L).get.isEmpty)
    assert(got(4L).isEmpty, "null text stays null, never throws")
  }

  test("Dsir.fit pins the Laplace log-ratio formula to the integer " +
      "count tables; score folds left-to-right; empty corpora raise") {
    import graft.pipeline.Dsir
    val b = 32
    val target = docs.filter(col("lang") === "en")
    val model = Dsir.fit(target, docs, "text", b)
    def cm(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      Dsir.bucketCounts(df, "text", b).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tc = cm(target); val rc = cm(docs)
    val tTot = tc.values.sum; val rTot = rc.values.sum
    def lp(c: Long, tot: Long): Double =
      math.log((c + 1.0) / (tot + 1.0 * b))
    (0 until b).foreach { i =>
      assert(model.logRatio(i) ==
        lp(tc.getOrElse(i, 0L), tTot) - lp(rc.getOrElse(i, 0L), rTot),
        s"bucket $i log ratio drifted from the pinned op order")
    }
    // THE scoring definition: seed 0.0, one add per bucket in order
    val bs = Seq(3, 1, 3, 0)
    assert(model.score(bs) ==
      bs.foldLeft(0.0)((a, x) => a + model.logRatio(x)))
    assert(model.score(Seq.empty) == 0.0)
    // a featureless target would make every ratio the smoothing floor
    // and selection would silently rank on document length — raise
    intercept[IllegalArgumentException](
      Dsir.fit(docs.filter(lit(false)), docs, "text", b))
  }

  test("Dsir.selectTopK: k largest log weights, ties to the lower id, " +
      "TakeOrdered plan; resample is exactly-k and deterministic") {
    import graft.pipeline.Dsir
    val b = 32
    val model = Dsir.fit(docs.filter(col("lang") === "en"), docs,
      "text", b)
    val k = 40
    val got = Dsir.selectTopK(docs, "doc_id", "text", model, k)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got.length == k && got.distinct.length == k)
    // driver-side reference: score every doc through the model's own
    // fold, cut by (score desc, id asc)
    val ref = docs.select(col("doc_id"),
        Dsir.featureBuckets(col("text"), b).as("f"))
      .collect()
      .map(r => (r.getLong(0), model.score(r.getSeq[Int](1))))
      .sortBy { case (id, sc) => (-sc, id) }.take(k).map(_._1)
    assert(got.toSet == ref.toSet, "top-k must match the reference cut")
    // the selected set leans English — the whole point of the target
    val langs = Dsir.selectTopK(docs, "doc_id", "text", model, k)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(langs.getOrElse("en", 0L) > k / 2,
      s"target-like docs must dominate the selection: $langs")
    val plan = Dsir.selectTopK(docs, "doc_id", "text", model, k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), s"expected TakeOrdered:\n$plan")
    // resampling: exactly k, deterministic in the key
    val r1 = Dsir.resample(docs, col("doc_id"), "text", model, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val r2 = Dsir.resample(docs.repartition(7), col("doc_id"), "text",
        model, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r1.size == k && r1 == r2,
      "resample must be deterministic in the key, not the partitioning")
  }

  test("Dsir model persistence round-trips bit-exactly; a truncated " +
      "artifact fails loudly") {
    import graft.pipeline.Dsir
    val model = Dsir.fit(docs.filter(col("lang") === "en"), docs,
      "text", 32)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dsir_model").toString
    Dsir.writeModel(spark, model, dir)
    assert(Dsir.loadModel(spark, dir) == model,
      "the stored doubles ARE the model — load must be bit-exact")
    // a gap in the bucket sequence = truncated artifact: loud failure,
    // never a silent floor of zeros
    val broken = java.nio.file.Files
      .createTempDirectory("graft_dsir_broken").toString
    Dsir.logRatioDf(spark, model).filter(col("bucket") =!= 7)
      .coalesce(1).write.mode("overwrite").parquet(s"$broken/ratio")
    val ex = intercept[IllegalArgumentException](
      Dsir.loadModel(spark, broken))
    assert(ex.getMessage.contains("truncated"), ex.getMessage)
  }

  test("DSIR selection boundary margin dwarfs cross-engine ln ulp " +
      "drift (the q_dsir_select float-robustness contract)") {
    // q_dsir_select's oracle re-derives every score with DuckDB's ln,
    // which may differ from Math.log in the last ulp. The cut is sound
    // iff the gap between the k-th and (k+1)-th scores dwarfs the
    // accumulated drift (~n_features · |term| · 1 ulp ≈ 1e-11 at
    // fixture scale). Audit BOTH fixture scales the driver gates on,
    // at the gate row's exact configuration (buckets 32, k 150,
    // target lang = 'en').
    import graft.pipeline.{Dsir, TextOps}
    for {
      dir <- Seq(fixtures, "/root/testdata/sf0.01")
      // (corpus restriction, k): the q_dsir_select cut over the full
      // corpus, and the q_curation_dsir cut over the quality survivors
      (gate, k) <- Seq((false, 150), (true, 100))
    } {
      val raw = spark.read.parquet(s"$dir/documents.parquet")
      val d = if (gate)
        raw.withColumn("q", TextOps.qualityScore(col("text")))
          .filter(col("q") >= 0.3)
      else raw
      val model = Dsir.fit(d.filter(col("lang") === "en"), d, "text", 32)
      val scores = d.select(col("doc_id"),
          Dsir.featureBuckets(col("text"), 32).as("f"))
        .collect()
        .map(r => (r.getLong(0), model.score(r.getSeq[Int](1))))
        .sortBy { case (id, sc) => (-sc, id) }
      assert(scores.length > k,
        s"$dir gated=$gate: fixture too small for the k=$k cut")
      val gap = scores(k - 1)._2 - scores(k)._2
      info(f"$dir gated=$gate k=$k: boundary gap $gap%.3e")
      assert(gap > 1e-6,
        s"$dir gated=$gate: boundary gap $gap — cross-engine ln drift " +
          "could flip the kept set; the selection oracle is unsound")
    }
  }

  test("tokenizerFertility: exact integer masses, ratios derived " +
      "last, null text counts as a zero-mass document") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("en", "ab cd"),                    // 5 bytes, 5 chars, 2 words
      ("en", "é"),                   // é: 2 bytes, 1 char, 1 word
      ("en", null.asInstanceOf[String]),  // zero mass, still a doc
      ("zz", "")                          // empty text: all-zero masses
    ).toDF("lang", "text")
    // a trivial stand-in tokenizer: 3 tokens per word
    val tc = size(filter(TextOps.tokens(col("text")),
      t => length(t) > 0)) * 3
    val got = TextOps.tokenizerFertility(df, "lang", "text", tc)
      .collect().map(r => r.getString(0) -> r).toMap
    val en = got("en")
    assert((en.getLong(1), en.getLong(2), en.getLong(3), en.getLong(4),
      en.getLong(5)) == ((3L, 7L, 6L, 3L, 9L)),
      s"en masses: $en")
    assert(en.getDouble(6) == 3.0, "fertility = tokens/words")
    assert(en.getDouble(7) == 7.0 / 9.0, "bytes_per_token")
    val zz = got("zz")
    assert((zz.getLong(1), zz.getLong(4), zz.getLong(5)) ==
      ((1L, 0L, 0L)))
    assert(zz.isNullAt(6) && zz.isNullAt(7),
      "zero denominators must yield null, not 0 or Infinity")
    // one narrow scan + aggregate: no join, no second Exchange chain
    val plan = TextOps.tokenizerFertility(df, "lang", "text", tc)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"fertility audit must not join:\n$plan")
  }

  test("cluster-discovered domain mixing: saturated cells keep every " +
      "doc, fractional cells keep a strict deterministic subset") {
    import graft.pipeline.{Sampling, Similarity}
    val idx = Similarity.buildIvfIndex(embeddings, "vec_id",
      "embedding", 16)
    val assigned = idx.assigned.select(col("vec_id").as("doc_id"),
      concat(lit("cell_"), col("__cell").cast("string")).as("domain"))
    val dd = docs.join(assigned, "doc_id")
      .select(col("doc_id"), col("domain"),
        size(TextOps.tokens(col("text"))).cast("bigint").as("n_tokens"))
    val targets = (0 until 16).map(c =>
      s"cell_$c" -> (if (c % 2 == 0) 0.1 else 0.025)).toMap
    val rates = Sampling.domainMixPlan(dd, "domain", col("n_tokens"),
        targets, 20000L)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val keptByDom = Sampling.sampleToMix(dd, col("doc_id"), "domain",
        col("n_tokens"), targets, 20000L)
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val allByDom = dd.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rates.foreach { case (dom, rate) =>
      val kept = keptByDom.getOrElse(dom, 0L)
      if (rate == 1.0)
        assert(kept == allByDom(dom),
          s"$dom saturated (rate 1) but kept $kept of ${allByDom(dom)}")
      else
        assert(kept < allByDom(dom),
          s"$dom rate $rate must keep a strict subset")
    }
    // the fixture must exercise BOTH branches
    assert(rates.values.exists(_ == 1.0),
      s"no saturated cell on the fixture: $rates")
    assert(rates.values.exists(r => r > 0.0 && r < 1.0),
      s"no fractional cell on the fixture: $rates")
  }

  test("Bm25.queryTopK: pinned ranking formula on a hand corpus, " +
      "candidates only, ties to lower id, TakeOrdered plan") {
    import graft.pipeline.Bm25
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "spark spark merge"),     // tf(spark)=2, dl=3
      (2L, "spark filter filter"),   // tf(spark)=1, dl=3
      (3L, "merge"),                 // tf(merge)=1, dl=1
      (4L, "filter filter filter"),  // no query term -> not a candidate
      (5L, "SPARK  merge extra pad") // normalization: lower + ws collapse
    ).toDF("doc_id", "text")
    val got = Bm25.queryTopK(df, "doc_id", "text", "spark merge", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L, 5L),
      "only documents containing >= 1 query term are candidates")
    // driver-side replication of the exact pinned arithmetic
    val n = 5.0; val sumDl = 3 + 3 + 1 + 3 + 4
    val avgdl = sumDl / n
    def idf(dfreq: Long): Double =
      math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
    def w(tf: Long, dl: Long, dfreq: Long): Double =
      idf(dfreq) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    // df(spark)=3 (docs 1,2,5), df(merge)=3 (docs 1,3,5); fold in term
    // order (merge before spark), seeded 0.0
    val expect = Map(
      1L -> (0.0 + w(1, 3, 3) + w(2, 3, 3)),
      2L -> (0.0 + w(1, 3, 3)),
      3L -> (0.0 + w(1, 1, 3)),
      5L -> (0.0 + w(1, 4, 3) + w(1, 4, 3)))
    got.foreach { case (id, sc) =>
      assert(sc == expect(id), s"doc $id: $sc != ${expect(id)}") }
    // ranking + k cut, ties to the lower id
    val order = got.sortBy { case (id, sc) => (-sc, id) }.map(_._1)
    val top2 = Bm25.queryTopK(df, "doc_id", "text", "spark merge", 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == order.take(2).toSeq)
    val plan = Bm25.queryTopK(df, "doc_id", "text", "spark merge", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), s"expected TakeOrdered:\n$plan")
    intercept[IllegalArgumentException](
      Bm25.queryTopK(df, "doc_id", "text", "   ", 2))
  }

  test("BM25 top-k boundary margin dwarfs cross-engine ln ulp drift " +
      "(the q_bm25_topk float-robustness contract)") {
    import graft.pipeline.Bm25
    for (dir <- Seq(fixtures, "/root/testdata/sf0.01")) {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      // rank EVERY candidate (k = corpus size) and audit the gap at
      // the gate row's cut (k = 20)
      val all = Bm25.queryTopK(d, "doc_id", "text",
          "spark window merge", d.count().toInt)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val k = 20
      assert(all.length > k, s"$dir: too few candidates")
      val gap = all(k - 1)._2 - all(k)._2
      info(f"$dir: boundary gap $gap%.3e")
      if (gap > 0.0)
        assert(gap > 1e-9,
          s"$dir: near-tie boundary gap $gap — cross-engine ln drift " +
            "could flip the kept set; the q_bm25_topk oracle is unsound")
      else {
        // an EXACT tie at the cut is safe iff it is STRUCTURAL: every
        // doc at the boundary score shares the same (dl, term→tf)
        // profile, so each engine folds the identical contribution
        // sequence, sees bit-equal scores, and cuts by doc_id the same
        // way (the q_nb_eval exact-tie argument). A coincidental
        // equal-sum of DIFFERENT profiles would not survive ulp drift.
        val boundary = all.filter(_._2 == all(k - 1)._2).map(_._1).toSet
        val profiles = Bm25.termFrequencies(d, "doc_id", "text",
            Bm25.queryTerms("spark window merge"))
          .filter(col("id").isInCollection(boundary.toSeq))
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3)))
          .groupBy(_._1)
          .map { case (id, rows) =>
            id -> rows.map(t => (t._2, t._3, t._4)).toSet }
        info(s"$dir: exact boundary tie across ${boundary.size} docs")
        assert(profiles.values.toSet.size == 1,
          s"$dir: boundary tie spans DIFFERENT (tf, dl) profiles — " +
            "coincidental equal sums would not survive ulp drift")
      }
    }
  }

  test("Bm25.queryTopKBatch == the single-query loop bit-for-bit; " +
      "per-query boundary margins hold on the gate fixtures") {
    import graft.pipeline.Bm25
    val s = spark
    import s.implicits._
    val queries = Seq("q1" -> "spark window merge",
      "q2" -> "customer data", "q3" -> "vector join fast")
    val k = 5
    for (dir <- Seq(fixtures, "/root/testdata/sf0.01")) {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val batch = Bm25.queryTopKBatch(d, "doc_id", "text",
          queries.toDF("qid", "qtext"), "qid", "qtext", k)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getInt(3)))
      queries.foreach { case (qid, text) =>
        // batch == loop, scores INCLUDED (same fold, same stats)
        val loop = Bm25.queryTopK(d, "doc_id", "text", text, k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val b = batch.filter(_._1 == qid).sortBy(_._4)
          .map(t => (t._2, t._3)).toSeq
        assert(b == loop, s"$dir $qid: batch != single-query loop")
        // k-boundary: a real gap, or a STRUCTURAL tie (identical
        // (dl, tf) profiles fold bit-equal in any engine)
        val all = Bm25.queryTopK(d, "doc_id", "text", text,
            d.count().toInt)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        val gap = all(k - 1)._2 - all(k)._2
        info(f"$dir $qid: boundary gap $gap%.3e")
        if (gap > 0.0) assert(gap > 1e-9, s"$dir $qid: near-tie $gap")
        else {
          val boundary = all.filter(_._2 == all(k - 1)._2).map(_._1)
          val prof = Bm25.termFrequencies(d, "doc_id", "text",
              Bm25.queryTerms(text))
            .filter(col("id").isInCollection(boundary.toSeq))
            .collect()
            .map(r => (r.getLong(0), (r.getString(1), r.getLong(2),
              r.getLong(3))))
            .groupBy(_._1).map { case (id, rs) => rs.map(_._2).toSet }
          assert(prof.toSet.size == 1,
            s"$dir $qid: non-structural exact tie at the cut")
        }
      }
    }
  }

  test("persisted BM25 index: pruned serving == the direct corpus " +
      "scan bit-for-bit; the term buckets reach the scan as a " +
      "PARTITION filter") {
    import graft.pipeline.Bm25
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_idx").toString
    val query = "spark window merge"
    Bm25.writeBm25Index(docs, "doc_id", "text", dir, buckets = 16)
    val idx = Bm25.loadBm25Index(spark, dir)
    assert(idx.buckets == 16 && idx.idCol == "doc_id")
    val served = Bm25.queryIndexTopK(idx, query, 25)
    // bucket routing must reach the source as a PARTITION filter: only
    // the query terms' bucket files are read, regardless of corpus size
    val plan = served.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*__tb[^\\]]*".r
    assert(pf.findFirstIn(plan).isDefined,
      s"no __tb partition filter in the postings scan:\n$plan")
    // and the driver-side routing mirrors the column hash exactly
    Bm25.queryTerms(query).foreach { t =>
      val viaCol = docs.sparkSession.range(1)
        .select(Bm25.termBucket(lit(t), 16)).head().getInt(0)
      assert(Bm25.termBucketLocal(t, 16) == viaCol, s"term $t routed " +
        "differently driver-side vs in-plan")
    }
    // same integers, same fold: the served frame equals the direct
    // corpus scan INCLUDING scores
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(served) ==
      rows(Bm25.queryTopK(docs, "doc_id", "text", query, 25)),
      "index serving diverged from the direct scan")
    // a truncated stats sidecar is rejected loudly
    val broken = java.nio.file.Files
      .createTempDirectory("graft_bm25_broken").toString
    spark.read.parquet(s"$dir/stats").limit(0)
      .write.parquet(s"$broken/stats")
    intercept[IllegalArgumentException](
      Bm25.loadBm25Index(spark, broken))
  }

  test("appendToBm25Index: append == fresh rebuild over the union, " +
      "stats summed exactly, overlapping ids rejected loudly") {
    import graft.pipeline.Bm25
    val base = java.nio.file.Files
      .createTempDirectory("graft_bm25_app").toString
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    Bm25.writeBm25Index(even, "doc_id", "text", s"$base/app",
      buckets = 16)
    val before = Bm25.loadBm25Index(spark, s"$base/app")
    Bm25.appendToBm25Index(odd, "text", s"$base/app")
    Bm25.writeBm25Index(docs, "doc_id", "text", s"$base/fresh",
      buckets = 16)
    val appended = Bm25.loadBm25Index(spark, s"$base/app")
    val fresh = Bm25.loadBm25Index(spark, s"$base/fresh")
    // exact integer stats absorbed the batch
    assert(appended.nDocs == fresh.nDocs &&
      appended.sumDl == fresh.sumDl &&
      appended.nDocs == before.nDocs + odd.count())
    // serving from the appended layout == the fresh rebuild, scores
    // included (same integers, same fold)
    def rows(idx: Bm25.Bm25Index) =
      Bm25.queryIndexTopK(idx, "spark window merge", 25)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(appended) == rows(fresh),
      "appended layout diverged from the fresh rebuild")
    // an overlapping append is rejected before touching the layout
    val ex = intercept[IllegalArgumentException](
      Bm25.appendToBm25Index(odd.limit(1), "text", s"$base/app"))
    assert(ex.getMessage.contains("double-count"), ex.getMessage)
    assert(rows(Bm25.loadBm25Index(spark, s"$base/app")) == rows(fresh),
      "a rejected append must leave the index unchanged")
  }

  test("compactBm25Index: folds appended bucket files, serving " +
      "bit-identical, heals an interrupted swap; queryIndexTopKBatch " +
      "== the direct-scan batch and the single-query index loop") {
    import graft.pipeline.Bm25
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_cpt").toString + "/idx"
    Bm25.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), "doc_id",
      "text", dir, buckets = 16)
    Bm25.appendToBm25Index(docs.filter(col("doc_id") % 2 === 1),
      "text", dir)
    def parquetFiles(d: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(d)).size
    }
    val query = "spark window merge"
    def served() = Bm25.queryIndexTopK(
        Bm25.loadBm25Index(spark, dir), query, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = served()
    val filesBefore = parquetFiles(s"$dir/postings")
    Bm25.compactBm25Index(spark, dir)
    assert(parquetFiles(s"$dir/postings") < filesBefore,
      s"compaction should consolidate appended bucket files " +
        s"($filesBefore before)")
    // stats sidecar untouched, serving bit-identical (same rows)
    val idx = Bm25.loadBm25Index(spark, dir)
    assert(idx.nDocs == docs.count() && idx.buckets == 16)
    assert(served() == before, "compaction changed serving")
    // crash simulation: marker written, live dir gone, staging
    // complete (the post-commit window) — the next call must heal
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$dir/postings")
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(
      s"$dir/.__graft_idxcompact_postings")))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/.__graft_idxcompact_postings.pending"), true).close()
    Bm25.compactBm25Index(spark, dir)
    assert(served() == before, "crashed compaction did not heal")
    // batch serving from the index: bucket routing reaches the scan
    // as a PARTITION filter, and the result equals both the
    // direct-corpus batch and the per-query index loop, scores
    // included (same integers, same fold)
    val s2 = spark
    import s2.implicits._
    val batchQs = Seq("a" -> "spark window merge",
      "b" -> "customer data")
    val qs = batchQs.toDF("qid", "qtext")
    val viaIdx = Bm25.queryIndexTopKBatch(
      Bm25.loadBm25Index(spark, dir), qs, "qid", "qtext", 5)
    val plan = viaIdx.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*__tb[^\\]]*".r
      .findFirstIn(plan).isDefined,
      s"no __tb partition filter in the batch postings scan:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "doc_id", "score", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
      .sortBy(x => (x._1, x._4)).toSeq
    assert(rows(viaIdx) == rows(Bm25.queryTopKBatch(docs, "doc_id",
      "text", qs, "qid", "qtext", 5)),
      "index batch diverged from the direct-scan batch")
    batchQs.foreach { case (qid, text) =>
      val loop = Bm25.queryIndexTopK(
          Bm25.loadBm25Index(spark, dir), text, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows(viaIdx).filter(_._1 == qid)
        .map(x => (x._2, x._3)) == loop,
        s"batch row set for $qid diverged from the index loop")
    }
  }

  test("hybrid from persisted indexes: both tiers' scans stay " +
      "partition-pruned inside the fused plan; fusion matches an " +
      "independent driver-side rrf of the served ranks") {
    import graft.pipeline.{Bm25, Hybrid}
    import org.apache.spark.sql.expressions.Window
    val base = java.nio.file.Files
      .createTempDirectory("graft_hybridx").toString
    Bm25.writeBm25Index(docs, "doc_id", "text", s"$base/bm25",
      buckets = 16)
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(embeddings, "vec_id", "embedding", 16),
      s"$base/ivf")
    val qids = Seq(0L, 7L, 21L)
    val q = docs.filter(col("doc_id").isInCollection(qids))
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val lex = Bm25.queryIndexTopKBatch(
        Bm25.loadBm25Index(spark, s"$base/bm25"), q, "qid", "qtext", 10)
      .select(col("qid"), col("doc_id").as("id"), col("rank"))
    val qv = embeddings.filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("vec_id"))
    val vec = Similarity.queryIvfBatch(
        Similarity.loadIvfIndex(spark, s"$base/ivf"), qv, "qid",
        "qvec", k = 10, nProbe = 2)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("qid"), col("vec_id").as("id"), col("rank"))
    val fusedDf = Hybrid.rrfFuse(lex, vec, "qid", "id", 10)
    // the COMPOSED plan must still read only the probed slices of
    // both persisted layouts — term buckets AND ivf cells
    val plan = fusedDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*__tb[^\\]]*".r
      .findFirstIn(plan).isDefined,
      s"no __tb partition filter in the fused plan:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*__cell[^\\]]*IN".r
      .findFirstIn(plan).isDefined,
      s"no __cell partition filter in the fused plan:\n$plan")
    // fused output == an independent driver-side rrf over the two
    // served rank lists (same c=60, absent-list 0, lower-id ties)
    val lexR = lex.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val vecR = vec.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    def term(o: Option[Int]) = o.map(r => 1.0 / (60 + r)).getOrElse(0.0)
    val expect = (lexR.keySet ++ vecR.keySet).toSeq
      .map { case (qid, id) =>
        (qid, id, term(lexR.get((qid, id))) + term(vecR.get((qid, id))))
      }
      .groupBy(_._1).flatMap { case (qid, rows) =>
        rows.sortBy(x => (-x._3, x._2)).take(10).zipWithIndex
          .map { case ((_, id, rrf), i) => (qid, id, rrf, i + 1) }
      }.toSet
    val fused = fusedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(fused == expect,
      s"fused ${fused.size} rows diverged from the driver-side rrf")
    assert(fused.nonEmpty)
  }

  test("Hybrid.rrfFuse: exact RRF arithmetic, one-list docs score " +
      "their single term, ties to lower id; cosineTopKBatch == loop") {
    import graft.pipeline.{Hybrid, Similarity}
    val s = spark
    import s.implicits._
    val lex = Seq(("q", 10L, 1), ("q", 11L, 2), ("q", 12L, 3))
      .toDF("qid", "id", "rank")
    val vec = Seq(("q", 11L, 1), ("q", 13L, 2), ("q", 10L, 3))
      .toDF("qid", "id", "rank")
    val fused = Hybrid.rrfFuse(lex, vec, "qid", "id", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._3)
    def t(r: Int) = 1.0 / (60 + r)
    val expect = Seq(
      10L -> (t(1) + t(3)), 11L -> (t(2) + t(1)),
      12L -> (t(3) + 0.0), 13L -> (t(2) + 0.0))
      .sortBy { case (id, sc) => (-sc, id) }
    assert(fused.map(x => (x._1, x._2)).toSeq == expect,
      s"fused ${fused.toSeq} != $expect")
    assert(fused.map(_._3).toSeq == (1 to 4),
      "ranks must be dense per query")
    // ties (symmetric rank patterns) cut to the lower id: 10 and 11
    // both score t(1)+t(3) when the lists mirror
    val mirrorV = Seq(("q", 10L, 3), ("q", 11L, 1))
      .toDF("qid", "id", "rank")
    val mirrorL = Seq(("q", 10L, 1), ("q", 11L, 3))
      .toDF("qid", "id", "rank")
    val top1 = Hybrid.rrfFuse(mirrorL, mirrorV, "qid", "id", 1)
      .collect().map(_.getLong(1)).toSeq
    assert(top1 == Seq(10L), "equal rrf must cut to the lower id")
    // the batch exact-cosine side equals the single-query loop
    val e = embeddings
    val qv = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Hybrid.cosineTopKBatch(e, "vec_id", "embedding", qv,
        "qid", "qv", 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val queries = e.filter(col("vec_id") < 3)
      .select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    queries.foreach { case (qid, v) =>
      val loop = Similarity.cosineTopK(e, "vec_id", "embedding", v, 5)
        .select(col("vec_id"), col("cosine"))
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid).sortBy(_._2).toSeq == loop.sortBy(_._2),
        s"query $qid: batch != loop")
    }
  }

  test("int8 quantization: bounded error, cosine preserved to ~1e-2") {
    val q = embeddings.select(col("vec_id"), col("embedding"),
        Similarity.int8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"), col("scale"), col("embedding"),
        Similarity.int8Codes(col("embedding"), col("scale")).as("codes"))
      .select(col("scale"),
        array_max(zip_with(col("embedding"),
          Similarity.dequantize(col("codes"), col("scale")),
          (x, d) => abs(x.cast("double") - d))).as("err"),
        Similarity.cosineFold(col("embedding"),
          Similarity.dequantize(col("codes"), col("scale"))).as("cos"))
      .collect()
    q.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(0) / 2 + 1e-12,
        "dequant error exceeds scale/2")
      assert(r.getDouble(2) > 0.999, s"cosine drifted: ${r.getDouble(2)}")
    }
  }

  test("connected components: chains merge transitively, islands stay apart") {
    val s = spark
    import s.implicits._
    // one 30-node chain (worst case for plain min-propagation — the
    // pointer-jumping rounds must contract it), one triangle via two
    // pairs, one isolated pair
    val chain = (1L until 30L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L), (101L, 102L), (200L, 201L)))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 30L).forall(got(_) == 1L), "chain collapses to min id")
    assert(Seq(100L, 101L, 102L).forall(got(_) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L)
    assert(got.size == 35)
  }

  test("connected components: a graph over the row or the byte budget " +
      "takes the distributed loop, with the same result") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val s = spark
    import s.implicits._
    // 4 symmetric edge rows of 2 x 40 id bytes: 320 bytes
    val pairs = Seq(("b" * 40, "a" * 40), ("b" * 40, "c" * 40))
      .toDF("id_a", "id_b")
    val expect = Seq("a", "b", "c").map(c => c * 40 -> "a" * 40).toMap
    def finish(rows: Int, bytes: Long) = {
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b", 25, rows,
        bytes)
      // the driver finish returns a local relation, the loop never does
      (cc.queryExecution.logical.collectFirst { case l: LocalRelation =>
        l }.nonEmpty, cc.collect().map(r => r.getString(0) ->
        r.getString(1)).toMap)
    }
    assert(finish(4, 320) == ((true, expect)), "fits both budgets")
    assert(finish(3, 320) == ((false, expect)), "one row over")
    assert(finish(4, 319) == ((false, expect)), "one byte over")
  }

  test("video codec parses ISO-BMFF container metadata from raw bytes") {
    import java.nio.ByteBuffer
    val s = spark
    import s.implicits._
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(8 + payload.length).putInt(8 + payload.length)
        .put(typ.getBytes("ISO-8859-1")).put(payload).array()
    // mvhd v0: ver+flags, creation, modification, timescale=1000,
    // duration=5000 (→ 5000 ms), then trailing fields the parser skips
    val mvhd = box("mvhd", ByteBuffer.allocate(96)
      .putInt(0).putInt(0).putInt(0).putInt(1000).putInt(5000).array())
    // tkhd v0: 76 header/matrix bytes, then 16.16 width and height
    val tk = ByteBuffer.allocate(84)
    tk.position(76)
    tk.putInt(640 << 16).putInt(360 << 16)
    val tkhd = box("tkhd", tk.array())
    val mp4 = box("ftyp",
        "isomiso2".getBytes("ISO-8859-1") ++ new Array[Byte](4)) ++
      box("moov", mvhd ++ box("trak", tkhd)) ++
      box("mdat", Array.fill[Byte](32)(7))
    assert(Multimodal.VideoCodec.meta(mp4) == ("video/mp4", 640, 360, 5000))
    // the composite codec dispatches the container without a pre-split
    assert(Multimodal.CompositeCodec.meta(mp4) ==
      ("video/mp4", 640, 360, 5000))
    // QuickTime brand maps to its own mime
    val mov = box("ftyp",
        "qt      ".getBytes("ISO-8859-1")) ++
      box("moov", mvhd ++ box("trak", tkhd))
    assert(Multimodal.VideoCodec.meta(mov)._1 == "video/quicktime")
    // an audio (or hint) trak may legally precede the video trak and
    // carries 0×0 tkhd dimensions — the walker must keep scanning traks
    // until it finds one with real dimensions
    val audioTkhd = box("tkhd", new Array[Byte](84))
    val audioFirst = box("ftyp",
        "isomiso2".getBytes("ISO-8859-1") ++ new Array[Byte](4)) ++
      box("moov", mvhd ++ box("trak", audioTkhd) ++ box("trak", tkhd))
    assert(Multimodal.VideoCodec.meta(audioFirst) ==
      ("video/mp4", 640, 360, 5000))
    // truncated mid-moov: degrades to the opaque profile, never throws
    assert(Multimodal.VideoCodec.meta(mp4.take(40)) ==
      ("application/octet-stream", 0, 0, 0))
    // and through the partition-batched decode path
    val got = Multimodal.decodePartitioned(
        Seq((1L, mp4)).toDF("id", "payload"), "payload",
        featureDim = 4, codec = Multimodal.CompositeCodec)
      .collect().head
    val meta = got.getStruct(2)
    assert(meta.getString(0) == "video/mp4" && meta.getInt(1) == 640 &&
      meta.getInt(2) == 360 && meta.getInt(3) == 5000)
    assert(got.getSeq[Float](3).length == 4)
  }

  test("video fingerprint: stsz sample sizes, bitrate envelope, banded twins") {
    import java.nio.ByteBuffer
    val s = spark
    import s.implicits._
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(8 + payload.length).putInt(8 + payload.length)
        .put(typ.getBytes("ISO-8859-1")).put(payload).array()
    def stsz(sizes: Array[Int], uniform: Int = 0): Array[Byte] = {
      val bb = ByteBuffer.allocate(12 + (if (uniform == 0) 4 * sizes.length else 0))
        .putInt(0).putInt(uniform)
        .putInt(if (uniform == 0) sizes.length else sizes.headOption.getOrElse(0))
      if (uniform == 0) sizes.foreach(bb.putInt)
      bb.array()
    }
    val tk = ByteBuffer.allocate(84)
    tk.position(76); tk.putInt(640 << 16).putInt(360 << 16)
    def mp4Of(stszPayload: Array[Byte]): Array[Byte] =
      box("ftyp", "isomiso2".getBytes("ISO-8859-1") ++ new Array[Byte](4)) ++
        box("moov", box("trak", box("tkhd", tk.array()) ++
          box("mdia", box("minf", box("stbl", box("stsz", stszPayload))))))
    // 128 samples, first half 10 bytes / second half 20 -> 64 windows of
    // 2 samples each: sums exactly 20 then 40, integer mean 30, hash =
    // exactly the fat half's bits (strictly-greater rule)
    def sizes(bump: Boolean): Array[Int] = {
      val z = Array.tabulate(128)(i => if (i < 64) 10 else 20)
      if (bump) z(0) += 1
      z
    }
    val base = mp4Of(stsz(sizes(bump = false)))
    assert(Multimodal.VideoCodec.sampleSizes(base).get.toSeq ==
      sizes(bump = false).map(_.toLong).toSeq)
    val w0 = Multimodal.sizeWindows(base, 64)
    w0.zipWithIndex.foreach { case (v, i) =>
      assert(v == (if (i < 32) 20L else 40L), s"window $i = $v")
    }
    val h0 = Multimodal.averageHashOf(w0)
    assert(h0 == 0xFFFFFFFF00000000L, f"hash $h0%016x")
    // a one-byte sample-size edit is a DIFFERENT bitstream whose
    // fingerprint moves by at most the one touched window's bit
    val twin = mp4Of(stsz(sizes(bump = true)))
    val h1 = Multimodal.averageHashOf(Multimodal.sizeWindows(twin, 64))
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 1)
    // uniform-size stsz layout: sample_size != 0, entries implicit
    val uni = mp4Of(ByteBuffer.allocate(12).putInt(0).putInt(12).putInt(128)
      .array())
    assert(Multimodal.VideoCodec.sampleSizes(uni).get.toSeq ==
      Seq.fill(128)(12L))
    // a count the box cannot hold must abort, not misfingerprint: the
    // payload then takes the deterministic byte-histogram fallback
    val trunc = mp4Of(ByteBuffer.allocate(20).putInt(0).putInt(0)
      .putInt(1000).putInt(10).putInt(10).array())
    assert(Multimodal.VideoCodec.sampleSizes(trunc).isEmpty)
    assert(Multimodal.sizeWindows(trunc, 64).sum == trunc.length)
    // a corrupt uniform-size box declaring 2^31 samples must abort,
    // not materialize a 16 GiB array on an executor
    val bomb = mp4Of(ByteBuffer.allocate(12).putInt(0).putInt(1)
      .putInt(Int.MaxValue).array())
    assert(Multimodal.VideoCodec.sampleSizes(bomb).isEmpty)
    // non-video payloads: deterministic byte-histogram fallback
    val bytes = "definitely not video".getBytes("UTF-8")
    val fb = Multimodal.sizeWindows(bytes, 64)
    assert(fb.sum == bytes.length &&
      fb.toSeq == Multimodal.sizeWindows(bytes, 64).toSeq)
    // column form: null payload -> null windows/hash; the banded
    // Hamming join (k=4) pairs the twin containers, no all-pairs stage
    val df = Seq((1L, base), (2L, twin),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val fp = Multimodal.videoFingerprint(df, "payload")
    val rows = fp.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("vfp"))).toMap
    assert(rows(3L).isEmpty, "null payload must fingerprint to null")
    assert(rows(1L).contains(h0) && rows(2L).contains(h1))
    val pairs = Dedup.simHashNearPairs(
      fp.filter(col("vfp").isNotNull).select(col("id"), col("vfp")),
      "id", "vfp", k = 4, blocks = 6).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
  }

  test("mixed-modality fingerprint: per-row dispatch, unified hash rule") {
    import java.nio.ByteBuffer
    val s = spark
    import s.implicits._
    // one payload per modality, built like the single-modality specs
    def png(): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        im.setRGB(x, y, if (x < 8) 0x000000 else 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(im, "png", bos))
      bos.toByteArray
    }
    def wav(): Array[Byte] = {
      val n = 512
      val out = new Array[Byte](44 + 2 * n)
      def le32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
        out(off + i) = ((v >> (8 * i)) & 0xff).toByte)
      def tag(off: Int, t: String): Unit =
        (0 until 4).foreach(i => out(off + i) = t.charAt(i).toByte)
      tag(0, "RIFF"); le32(4, 36 + 2 * n); tag(8, "WAVE")
      tag(12, "fmt "); le32(16, 16); out(20) = 1; out(22) = 1
      le32(24, 8000); le32(28, 16000); out(32) = 2; out(34) = 16
      tag(36, "data"); le32(40, 2 * n)
      (n / 2 until n).foreach { i => out(44 + 2 * i) = 100 }
      out
    }
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(8 + payload.length).putInt(8 + payload.length)
        .put(typ.getBytes("ISO-8859-1")).put(payload).array()
    def mp4(): Array[Byte] = {
      val stsz = ByteBuffer.allocate(12 + 4 * 128).putInt(0).putInt(0)
        .putInt(128)
      (0 until 128).foreach(i => stsz.putInt(if (i < 64) 10 else 20))
      box("ftyp", "isomiso2".getBytes("ISO-8859-1") ++
        new Array[Byte](4)) ++
        box("moov", box("trak", box("mdia", box("minf",
          box("stbl", box("stsz", stsz.array()))))))
    }
    val opaque = "neither image nor sound".getBytes("UTF-8")
    assert(Multimodal.modalityOf(png()) == "image")
    assert(Multimodal.modalityOf(wav()) == "audio")
    assert(Multimodal.modalityOf(mp4()) == "video")
    assert(Multimodal.modalityOf(opaque) == "opaque")
    val df = Seq((1L, png()), (2L, wav()), (3L, mp4()), (4L, opaque),
      (5L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = Multimodal.mediaFingerprint(df, "payload").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(5L).isNullAt(2) && got(5L).isNullAt(3) &&
      got(5L).isNullAt(4), "null payload must stay null throughout")
    // each modality's windows equal its dedicated operator's, and the
    // hash is the ONE shared rule over them
    val expect = Map(
      1L -> ("image", Multimodal.luminanceGrid(png(), 8)),
      2L -> ("audio", Multimodal.energyWindows(wav(), 64)),
      3L -> ("video", Multimodal.sizeWindows(mp4(), 64)))
    expect.foreach { case (id, (m, ws)) =>
      val r = got(id)
      assert(r.getString(2) == m, s"id $id modality ${r.getString(2)}")
      assert(r.getSeq[Long](3).toSeq == ws.toSeq, s"id $id windows")
      assert(r.getLong(4) == Multimodal.averageHashOf(ws),
        s"id $id hash diverged from the shared rule")
    }
    // opaque fallback: the shared byte histogram
    assert(got(4L).getSeq[Long](3).sum == opaque.length)
    // a non-square window count must fail loudly (image grid path)
    intercept[IllegalArgumentException] {
      Multimodal.mediaFingerprint(df, "payload", w = 48)
    }
  }

  test("mediaFingerprint decode-once: fused dispatch == the split " +
      "modality/envelope operators, and each image decodes exactly once") {
    val s = spark
    import s.implicits._
    def png(shade: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        im.setRGB(x, y, if (((x + y + shade) % 3) == 0) 0x000000
          else 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(im, "png", bos))
      bos.toByteArray
    }
    def wav(): Array[Byte] = {
      val n = 64
      val out = new Array[Byte](44 + 2 * n)
      def le32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
        out(off + i) = ((v >> (8 * i)) & 0xff).toByte)
      def tag(off: Int, t: String): Unit =
        (0 until 4).foreach(i => out(off + i) = t.charAt(i).toByte)
      tag(0, "RIFF"); le32(4, 36 + 2 * n); tag(8, "WAVE")
      tag(12, "fmt "); le32(16, 16); out(20) = 1; out(22) = 1
      le32(24, 8000); le32(28, 16000); out(32) = 2; out(34) = 16
      tag(36, "data"); le32(40, 2 * n)
      (0 until n).foreach(i => out(44 + 2 * i) = (i * 3).toByte)
      out
    }
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      java.nio.ByteBuffer.allocate(8 + payload.length)
        .putInt(8 + payload.length)
        .put(typ.getBytes("ISO-8859-1")).put(payload).array()
    def mp4(): Array[Byte] = {
      val stsz = java.nio.ByteBuffer.allocate(12 + 4 * 16)
        .putInt(0).putInt(0).putInt(16)
      (0 until 16).foreach(i => stsz.putInt(10 + i))
      box("ftyp", "isomiso2".getBytes("ISO-8859-1") ++
        new Array[Byte](4)) ++
        box("moov", box("trak", box("mdia", box("minf",
          box("stbl", box("stsz", stsz.array()))))))
    }
    // edge shapes where fused dispatch could diverge from the split
    // operators: a payload that SNIFFS as an image but cannot decode,
    // and a RIFF header whose audio stream fails to parse
    val pngCorrupt = png(0).take(24)
    val riffCorrupt = "RIFF....WAVEgarbage".getBytes("ISO-8859-1")
    val opaque = "neither image nor sound".getBytes("UTF-8")
    val shapes = Seq(png(1), wav(), mp4(), pngCorrupt, riffCorrupt,
      opaque)
    shapes.foreach { b =>
      val (m, ws) = Multimodal.mediaModalityWindows(b, 64, 8)
      assert(m == Multimodal.modalityOf(b), s"dispatch drifted for $m")
      val expect = m match {
        case "audio" => Multimodal.energyWindows(b, 64)
        case "video" => Multimodal.sizeWindows(b, 64)
        case "image" => Multimodal.luminanceGrid(b, 8)
        case _ => Multimodal.sizeWindows(b, 64) // shared byte histogram
      }
      assert(ws.toSeq == expect.toSeq, s"windows drifted for $m")
    }
    // decode-once: the three consumers of the fused struct (modality,
    // windows, hash) must share ONE evaluation per row — whole-stage
    // codegen subexpression elimination, asserted against the REAL
    // ImageIO decode counter, not the plan text
    val n = 64
    val df = (1 to n).map(i => (i.toLong, png(i))).toDF("id", "payload")
    val before = Multimodal.ImageCodec.decodeCount.get()
    val got = Multimodal.mediaFingerprint(df, "payload")
      .select("id", "modality", "media_windows", "mfp").collect()
    val decodes = Multimodal.ImageCodec.decodeCount.get() - before
    assert(got.length == n && got.forall(_.getString(1) == "image"))
    // a per-consumer re-evaluation would show ~3n decodes (three
    // consumers of the fused struct); the bound is <= 2n rather than
    // == n because the exact count also rides subexpression
    // elimination staying enabled and the absence of task retries —
    // incidental conditions this test must not turn into failures
    assert(decodes <= 2L * n,
      s"expected <= ${2 * n} image decodes for $n rows, saw $decodes " +
        "- the fused fingerprint UDF is being re-evaluated per consumer")
  }

  test("audio decode: real WAV sample rate, channels, frames, RMS envelope") {
    val s = spark
    import s.implicits._
    // 0.5 s mono 8 kHz WAV: first half silence, second half a full-scale
    // 440 Hz sine — the RMS envelope must be ~0 then ~1/sqrt(2)
    def wav(rate: Float, n: Int): Array[Byte] = {
      val pcm = new Array[Byte](2 * n)
      for (i <- n / 2 until n) {
        val v = (math.sin(2 * math.Pi * 440 * i / rate) * 32767).toInt
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val df = Seq(
      (1L, wav(8000f, 4000)),
      (2L, "not audio at all".getBytes("UTF-8"))
    ).toDF("id", "payload")
    val got = Multimodal.decodePartitioned(df, "payload",
        featureDim = 4, codec = Multimodal.AudioCodec).collect()
      .map(r => r.getLong(0) -> (r.getStruct(2), r.getSeq[Float](3))).toMap
    val (m1, f1) = got(1L)
    assert(m1.getString(0) == "audio/wav" && m1.getInt(1) == 8000 &&
      m1.getInt(2) == 1 && m1.getInt(3) == 4000)
    assert(f1(0) < 0.01f && f1(1) < 0.01f, "leading silence")
    assert(math.abs(f1(2) - 0.7071f) < 0.05f &&
      math.abs(f1(3) - 0.7071f) < 0.05f, s"sine RMS ~ 1/sqrt(2), got $f1")
    val (m2, _) = got(2L)
    assert(m2.getString(0) == "application/octet-stream")
    // AIFF container (big-endian PCM) through the same PCM-conversion path
    def aiff(rate: Float, n: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, true)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](2 * n)), fmt, n)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
      bos.toByteArray
    }
    val am = Multimodal.AudioCodec.meta(aiff(16000f, 800))
    assert(am == ("audio/aiff", 16000, 1, 800), s"aiff meta: $am")
    val af = Multimodal.AudioCodec.features(aiff(16000f, 800), 4)
    assert(af.length == 4 && af.forall(_ == 0f), "silent AIFF: zero RMS")
    // CompositeCodec dispatches by sniffed modality in one pass
    val mixed = Multimodal.decodePartitioned(df, "payload",
      codec = Multimodal.CompositeCodec).collect()
      .map(r => r.getLong(0) -> r.getStruct(2).getString(0)).toMap
    assert(mixed(1L) == "audio/wav" &&
      mixed(2L) == "application/octet-stream")
  }

  test("native cosine expression is bit-identical to the portable fold") {
    assert(spark.catalog.functionExists("cosine_sim"),
      "GraftExtensions not registered in the test session")
    val both = embeddings.limit(200).select(
      Similarity.cosineFold(col("embedding"),
        Similarity.vecLit(Seq.fill(64)(0.1f))).as("fold"),
      call_function("cosine_sim", col("embedding"),
        Similarity.vecLit(Seq.fill(64)(0.1f))).as("native"))
    both.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // the mixed double/float shape (the int8 dequantize-on-read path):
    // left side array<double>, right a float literal — still bit-identical
    val dq = Similarity.dequantize(
      Similarity.int8Codes(col("embedding"),
        Similarity.int8Scale(col("embedding"))),
      Similarity.int8Scale(col("embedding")))
    val mixed = embeddings.limit(200).select(
      Similarity.cosineFold(dq,
        Similarity.vecLit(Seq.fill(64)(0.1f))).as("fold"),
      call_function("cosine_sim", dq,
        Similarity.vecLit(Seq.fill(64)(0.1f))).as("native"))
    mixed.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("as-of join: tie rules, missing matches, and no range explosion") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import graft.pipeline.AsOf
    val left = spark.createDataFrame(Seq(
      Row(1L, 10L, 100L),  // exact-time match expected (<=)
      Row(2L, 10L, 150L),  // between rights -> t=100 row, max tiebreak
      Row(3L, 10L, 50L),   // before all rights -> null
      Row(4L, 99L, 100L)   // key with no rights -> null
    ).asJava, StructType.fromDDL("id BIGINT, k BIGINT, t BIGINT"))
    val right = spark.createDataFrame(Seq(
      Row(10L, 100L, 7L, "a"),
      Row(10L, 100L, 9L, "b"),  // same time, higher tiebreak wins
      Row(10L, 200L, 1L, "c")
    ).asJava, StructType.fromDDL("k BIGINT, t BIGINT, tb BIGINT, v STRING"))
    val got = AsOf.asofJoin(left, right, "k", "k", "t", "t", "tb",
        Seq("tb", "v"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.toString), Option(r.get(4)))).toMap
    assert(got(1L) == (Some("9"), Some("b")), "exact-time <= + tiebreak")
    assert(got(2L) == (Some("9"), Some("b")))
    assert(got(3L) == (None, None))
    assert(got(4L) == (None, None))
    // plan shape: one window over the union — no range/cartesian join
    val plan = AsOf.asofJoin(left, right, "k", "k", "t", "t", "tb",
      Seq("v")).queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"range-join explosion in plan:\n$plan")
  }

  test("as-of and range count: NULL keys never match (SQL semantics)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import graft.pipeline.AsOf
    val left = spark.createDataFrame(Seq(
      Row(1L, null, 100L), Row(2L, java.lang.Long.valueOf(10L), 100L)
    ).asJava, StructType.fromDDL("id BIGINT, k BIGINT, t BIGINT"))
    val right = spark.createDataFrame(Seq(
      Row(null, 50L, 1L, "nullkey"), Row(java.lang.Long.valueOf(10L), 50L, 2L, "real")
    ).asJava, StructType.fromDDL("k BIGINT, t BIGINT, tb BIGINT, v STRING"))
    val joined = AsOf.asofJoin(left, right, "k", "k", "t", "t", "tb", Seq("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(joined(1L).isEmpty, "null-key left row matched a null-key right row")
    assert(joined(2L).contains("real"))
    val counts = AsOf.rangeCount(left, right.select("k", "t"), "k", "k",
        "t", "t", 100L, "n")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(counts == Map(1L -> 0L, 2L -> 1L))
  }

  test("range count preserves duplicate left rows with correct counts") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import graft.pipeline.AsOf
    val left = spark.createDataFrame(Seq(
      Row(10L, 100L), Row(10L, 100L)  // byte-identical duplicates
    ).asJava, StructType.fromDDL("k BIGINT, t BIGINT"))
    val right = spark.createDataFrame(Seq(Row(10L, 60L)).asJava,
      StructType.fromDDL("k BIGINT, t BIGINT"))
    val got = AsOf.rangeCount(left, right, "k", "k", "t", "t", 50L, "n")
      .collect().map(_.getLong(2))
    assert(got.toSeq == Seq(1L, 1L),
      s"expected both duplicate rows with count 1, got ${got.toSeq}")
  }

  test("range count: boundary semantics (t-Δ, t] and zero-match rows") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import graft.pipeline.AsOf
    val left = spark.createDataFrame(Seq(
      Row(1L, 10L, 100L), Row(2L, 10L, 200L), Row(3L, 99L, 100L)
    ).asJava, StructType.fromDDL("id BIGINT, k BIGINT, t BIGINT"))
    val right = spark.createDataFrame(Seq(
      Row(10L, 50L),   // = t-Δ for left 1 (Δ=50): EXCLUDED (open lower)
      Row(10L, 60L),   // in (50,100] for left 1
      Row(10L, 100L),  // exactly t for left 1: INCLUDED (closed upper)
      Row(10L, 160L)   // in (150,200] for left 2
    ).asJava, StructType.fromDDL("k BIGINT, t BIGINT"))
    val got = AsOf.rangeCount(left, right, "k", "k", "t", "t", 50L, "n")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 0L))
  }

  test("salted join equals the plain join and spreads hot keys") {
    import graft.pipeline.Skew
    val orders = spark.read.parquet(s"$fixtures/orders.parquet")
    val customer = spark.read.parquet(s"$fixtures/customer.parquet")
    val plain = orders.join(customer,
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(orders, customer, "o_custkey",
        "c_custkey", salts = 8)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    val counts = Skew.saltedCount(orders, "o_custkey", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = orders.groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == expect)
  }

  test("approx quantiles track exact quantiles within the GK rank bound") {
    import graft.pipeline.Percentiles
    val li = spark.read.parquet(s"$fixtures/lineitem.parquet")
    val probs = Seq(0.25, 0.5, 0.75)
    val exact = Percentiles.exactQuantiles(li, Seq("l_returnflag"),
        "l_extendedprice", probs).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val approx = Percentiles.approxQuantiles(li, Seq("l_returnflag"),
        "l_extendedprice", probs).collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (e25, e50, e75) = exact(r.getString(0))
      // accuracy 10000 on groups of ≤ a few thousand rows: the sketch holds
      // every value, so the approximate answer is a true element within one
      // rank of the interpolated exact value — a tight relative tolerance
      Seq(e25, e50, e75).zip(Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).foreach { case (e, a) =>
        assert(math.abs(a - e) / math.max(math.abs(e), 1e-9) < 0.01,
          s"approx $a vs exact $e for flag ${r.getString(0)}")
      }
    }
    // default naming contract used by qPercentile
    assert(Percentiles.defaultNames(probs) == Seq("p25", "p50", "p75"))
  }

  test("repetition stats: dominance and duplicate-bigram fractions are exact") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),     // bigrams: 3×"spam spam" → dup 2/3
      (2L, "one two three"),           // all distinct
      (3L, "solo")                     // no bigrams at all
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) == ((4L, 1L, 1.0, 2.0 / 3.0)))
    assert(got(2L) == ((3L, 3L, 1.0 / 3.0, 0.0)))
    assert(got(3L) == ((1L, 1L, 1.0, 0.0)))
  }

  test("cross-corpus overlap counts shared shingles; df cap drops hot keys") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),  // shares 2 shingles with 100
      (2L, "totally different words here now") // shares none
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "alpha beta gamma delta zeta"),   // first two 3-grams match doc 1
      (101L, "unrelated benchmark content entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.crossCorpusOverlap(corpus, bench, "doc_id", "text",
        shingleK = 3, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 100L) -> 2L),
      s"expected doc1↔100 sharing 2 shingles, got $got")
    // a shingle present in >maxShingleDf benchmark docs is dropped
    val hotBench = (200L to 205L)
      .map(i => (i, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val capped = Dedup.crossCorpusOverlap(corpus, hotBench, "doc_id", "text",
      3, 1, maxShingleDf = Some(3)).count()
    assert(capped == 0L, "df cap should drop the ubiquitous shingles")
    val uncapped = Dedup.crossCorpusOverlap(corpus, hotBench, "doc_id",
      "text", 3, 1).count()
    assert(uncapped == 6L)
  }

  test("bloom decontamination equals the exact path and its prescreen " +
      "is shuffle-free") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val exact = Dedup.crossCorpusOverlap(corpus, bench, "doc_id", "text",
      shingleK = 3, minShared = 2).collect().map(key).toSet
    val viaBloom = Dedup.bloomDecontaminate(corpus, bench, "doc_id",
      "text", shingleK = 3, minShared = 2).collect().map(key).toSet
    assert(viaBloom == exact,
      "the Bloom prefilter must not change the exact answer")
    assert(exact.nonEmpty, "fixture must actually contain contamination")
    // the prescreen itself: one narrow map over the corpus — no
    // exchange anywhere in its plan (the property that makes it the
    // 100 TB shape)
    val hits = Dedup.bloomContaminationHits(corpus, bench, "doc_id",
      "text", shingleK = 3)
    val plan = hits.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bloom prescreen must not shuffle the corpus:\n$plan")
    // no false negatives: every contaminated corpus doc's hit count
    // dominates its true shared-shingle count against ANY bench doc
    val maxShared = exact.groupBy(_._1).map { case (id, ps) =>
      id -> ps.map(_._3).max
    }
    val hitOf = hits.select("doc_id", "bloom_hits").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    maxShared.foreach { case (id, n) =>
      assert(hitOf(id) >= n,
        s"doc $id: bloom_hits ${hitOf(id)} below true shared count $n")
    }
  }

  test("zorder interleaves bits exactly and rejects out-of-range keys") {
    import graft.pipeline.Layout
    val s = spark
    import s.implicits._
    // x=0b11, y=0b01 at 2 bits: lanes x->0,2 y->1,3 => 0b0111 = 7
    val got = Seq((3L, 1L), (0L, 0L), (3L, 3L), (2L, 1L))
      .toDF("x", "y")
      .select(Layout.zorder(2, col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(7L, 0L, 15L, 6L))
    intercept[IllegalArgumentException](Layout.zorder(8))
    intercept[IllegalArgumentException](
      Layout.zorder(32, col("x"), col("y")))
    // out-of-range and negative keys fail loudly instead of aliasing
    val bad = Seq((4L, 0L)).toDF("x", "y")
      .select(Layout.zorder(2, col("x"), col("y")))
    assert(intercept[Exception](bad.collect())
      .getMessage.contains("zorder"))
    val neg = Seq((-1L, 0L)).toDF("x", "y")
      .select(Layout.zorder(2, col("x"), col("y")))
    assert(intercept[Exception](neg.collect())
      .getMessage.contains("zorder"))
  }

  test("bucketize maps a numeric range onto zorder lanes, clamping " +
      "outliers") {
    import graft.pipeline.Layout
    val s = spark
    import s.implicits._
    val got = Seq(0.0, 0.49, 0.5, 0.99, 1.0, -3.0, 7.5)
      .toDF("v")
      .select(Layout.bucketize(col("v"), 0.0, 1.0, 2).as("b"))
      .collect().map(_.getLong(0)).toSeq
    // 4 equal bins over [0,1): edges clamp, hi lands in the top bin
    assert(got == Seq(0L, 1L, 2L, 3L, 3L, 0L, 3L))
    // order-preserving: sorted inputs give non-decreasing buckets
    val vs = (0 until 100).map(_ / 100.0)
    val bs = vs.toDF("v")
      .select(Layout.bucketize(col("v"), 0.0, 1.0, 4))
      .collect().map(_.getLong(0)).toSeq
    assert(bs == bs.sorted)
    assert(bs.distinct.length == 16, "all 16 bins should be hit")
    intercept[IllegalArgumentException](
      Layout.bucketize(col("v"), 1.0, 1.0, 4))
    // nulls and NaN raise (greatest/least would silently map them to
    // bucket 0 otherwise), mirroring zorder's loud guard
    for (bad <- Seq(null.asInstanceOf[java.lang.Double],
        java.lang.Double.valueOf(Double.NaN))) {
      val ex = intercept[Exception](Seq(bad).toDF("v")
        .select(Layout.bucketize(col("v"), 0.0, 1.0, 2)).collect())
      assert(ex.getMessage.contains("bucketize"), ex.getMessage)
    }
  }

  test("z-ordered layout bounds per-file spread on BOTH dimensions; " +
      "a linear sort only on one") {
    import graft.pipeline.Layout
    // a full 256x256 grid: x and y uniform and INDEPENDENT (the
    // lineitem fixture's partkey/suppkey are correlated by TPC-H
    // construction, which would mask the non-leading-dimension effect
    // this test exists to show)
    val li = spark.range(256L * 256L)
      .select((col("id") % 256).as("x"),
        floor(col("id") / 256).cast("long").as("y"))
    def perFileSpread(path: String): (Double, Double) = {
      val spreads = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .collect()
      (spreads.map(_.getAs[Long]("sx")).sum.toDouble / spreads.length,
        spreads.map(_.getAs[Long]("sy")).sum.toDouble / spreads.length)
    }
    val zDir = java.nio.file.Files
      .createTempDirectory("graft-zorder").toString
    val linDir = java.nio.file.Files
      .createTempDirectory("graft-linear").toString
    try {
      Layout.writeZOrdered(li,
        Layout.zorder(8, col("x"), col("y")), 16, zDir)
      // the comparison layout: same file count, sorted on x alone
      li.repartitionByRange(16, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(linDir)
      val (zx, zy) = perFileSpread(zDir)
      val (lx, ly) = perFileSpread(linDir)
      // linear sort: x tightly bounded, y spans the whole domain
      assert(lx < 64, s"linear layout x-spread $lx should be tight")
      assert(ly > 192, s"linear layout y-spread $ly should span the domain")
      // z-order: BOTH dimensions bounded well below the domain — this
      // is the min/max-stats pruning win on the non-leading dimension.
      // 16 files over a 256x256 grid = 4 z-bits per file => boxes of
      // at most 64x128; allow slack for range-partition edges
      assert(zx < 150 && zy < 150,
        s"z-order spreads ($zx, $zy) must bound both dimensions")
      assert(zy < ly / 2,
        s"z-order y-spread $zy must beat the linear layout's $ly")
    } finally {
      def rm(p: String): Unit = {
        val d = new java.io.File(p)
        Option(d.listFiles()).foreach(_.foreach(f => { f.delete(); () }))
        d.delete(); ()
      }
      rm(zDir); rm(linDir)
    }
  }

  test("PII redaction replaces urls, emails, cards, ips, phones + counts") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "mail a.b@x.co or c-d@y.org, call 555-1234 or 555-9876, " +
        "see https://x.co/a?b=1 now"),
      (2L, "no pii here at all"),
      (3L, "pay 4111 1111 1111 1111 or 4242-4242-4242-4242 from 10.0.0.7")
    ).toDF("id", "text")
    val got = df.select(col("id") +: TextOps.redactPii(col("text")).as("r") +:
        TextOps.piiCounts(col("text")): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(got(1L) == (("mail [EMAIL] or [EMAIL], call [PHONE] or [PHONE], " +
      "see [URL] now", 2L, 1L, 0L, 0L, 2L)))
    assert(got(2L) == (("no pii here at all", 0L, 0L, 0L, 0L, 0L)))
    // cards are scrubbed BEFORE phones, so the ddd-dddd substrings inside
    // a grouped card never leak a [PHONE] hole into [CARD]; raw-text
    // counts still tally them under both kinds (documented overlap)
    assert(got(3L) == (("pay [CARD] or [CARD] from [IP]",
      0L, 0L, 2L, 1L, 2L)))
  }

  test("text ops: token counts and language profiles behave") {
    val row = docs.select(TextOps.tokenCount(col("text")).as("n"),
      TextOps.langId(col("text")).as("lang")).collect()
    row.foreach { r =>
      assert(r.getInt(0) > 0)
      assert(Seq("en", "de", "es", "und").contains(r.getString(1)))
    }
  }

  test("vocabDivergence: zero on identical corpora, symmetric, " +
      "positive under drift, exact hand-fixture probabilities") {
    val s = spark
    import s.implicits._
    val a = Seq("the cat sat", "the dog ran").toDF("text")
    val b = Seq("the cat sat", "a bird flew away").toDF("text")
    // identical corpora: p_a == p_b exactly, ln(1) = 0, js_term = 0.0
    val same = TextOps.vocabDivergence(a, a, "text").collect()
    assert(same.nonEmpty &&
      same.forall(_.getAs[Double]("js_term") == 0.0) &&
      same.forall(_.getAs[Double]("tv_term") == 0.0),
      "identical corpora must have exactly zero terms")
    // drift: every term >= 0, disjoint-support tokens strictly > 0
    val drift = TextOps.vocabDivergence(a, b, "text").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(drift.values.forall(_.getAs[Double]("js_term") >= 0.0))
    assert(drift("bird").getAs[Double]("js_term") > 0.0)
    // hand-check one row: union vocab V = 9 (the cat sat dog ran a
    // bird flew away), n_a = 6, n_b = 7; token "the": c_a = 2, c_b = 1
    val the = drift("the")
    assert(the.getAs[Long]("c_a") == 2L && the.getAs[Long]("c_b") == 1L)
    assert(the.getAs[Double]("p_a") == 3.0 / 15.0 &&
      the.getAs[Double]("p_b") == 2.0 / 16.0,
      s"${the.getAs[Double]("p_a")}, ${the.getAs[Double]("p_b")}")
    // symmetry: swapping the corpora swaps the count columns and
    // leaves each token's js_term identical (JS is symmetric)
    val swapped = TextOps.vocabDivergence(b, a, "text").collect()
      .map(r => r.getString(0) -> r).toMap
    drift.foreach { case (tok, r) =>
      val o = swapped(tok)
      assert(o.getAs[Long]("c_a") == r.getAs[Long]("c_b") &&
        o.getAs[Long]("c_b") == r.getAs[Long]("c_a"))
      assert(o.getAs[Double]("js_term") == r.getAs[Double]("js_term"),
        s"asymmetric term for $tok")
      assert(o.getAs[Double]("tv_term") == r.getAs[Double]("tv_term"))
    }
    // the scalar divergence (sum of terms) stays below ln 2
    assert(drift.values.map(_.getAs[Double]("js_term")).sum <
      math.log(2.0))
    // parity: the in-plan js_term bit-equals an independent driver
    // fold over the SAME p_a/p_b doubles in the documented op order —
    // the q_nb_classify one-definition discipline (the cross-engine
    // gate pins p_a/p_b/tv_term; this pins js_term to the formula)
    drift.values.foreach { r =>
      val pa = r.getAs[Double]("p_a"); val pb = r.getAs[Double]("p_b")
      val m = 0.5 * (pa + pb)
      // StrictMath.log: Spark's Log expression is StrictMath-backed
      // (Math.log may use platform intrinsics that differ by ulps —
      // the same reason DuckDB's ln cannot be hash-gated)
      val want = 0.5 * (pa * StrictMath.log(pa / m)) +
        0.5 * (pb * StrictMath.log(pb / m))
      assert(java.lang.Double.doubleToRawLongBits(
          r.getAs[Double]("js_term")) ==
        java.lang.Double.doubleToRawLongBits(want),
        s"js_term drifted from the documented fold for ${r.getString(0)}")
    }
  }
}
