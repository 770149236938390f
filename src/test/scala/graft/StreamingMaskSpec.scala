package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.blueprint.Blueprint
import graft.streaming.{ExactlyOnceSink, StreamMask}

/** Structured-Streaming masking over the events fixture, checked for
  * batch-equivalence: the same blueprint/aggregation computed through
  * `readStream` + AvailableNow must equal the batch result on identical
  * input (SURVEY §2.10).
  */
class StreamingMaskSpec extends SparkSpec {

  // normalize the events `ts` column to a zoned TIMESTAMP at micros,
  // whichever parquet encoding the fixture carries (raw nanos longs or
  // timestamp[us] — see gates.Shared.tsMicros); convert once for both paths.
  // Watermarks require a zoned event-time column (session tz is UTC).
  private def toTs(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(gates.Shared.tsMicros(df)))

  // the file stream source wants a directory of files, not a single file
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft_stream").toString
    spark.read.parquet(s"$fixtures/events.parquet")
      .write.mode("overwrite").parquet(s"$dir/events")
    s"$dir/events"
  }
  private lazy val eventsSchema = spark.read.parquet(eventsDir).schema

  private def streamingEvents: DataFrame =
    toTs(spark.readStream.schema(eventsSchema).parquet(eventsDir))

  private def batchEvents: DataFrame = toTs(spark.read.parquet(eventsDir))

  private def runToMemory(df: DataFrame, name: String,
      mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  /** `transformWithState` needs a state store with column families —
    * run `body` with the RocksDB provider and restore the session
    * default after (provider choice is read at query START, so scoping
    * it around the start call is enough).
    */
  private def withRocksDbStateStore[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stateless streaming mask equals the batch mask") {
    val bp = Blueprint("events") { b =>
      b.primary("event_id")
      b.globalWhere("value > 0")
      b.column("user_id").replaceWithExpr(r => r("user_id") + lit(777000L))
      b.column("props").where("event_type = 'click'").replaceWith("{}")
    }
    val streamed = runToMemory(
      StreamMask.maskStream(streamingEvents, bp), "mask_stream", "append")
      .collect().map(_.toString).sorted.toSeq
    val batch = StreamMask.maskStream(batchEvents, bp)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming corpus curation equals the batch text pipeline") {
    val dir = Files.createTempDirectory("graft_docs").toString
    spark.read.parquet(s"$fixtures/documents.parquet")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val schema = spark.read.parquet(s"$dir/docs").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/docs")
    val streamed = runToMemory(
      StreamMask.curateStream(stream, "doc_id", "text"),
      "curate_stream", "append")
      .collect().map(_.toString).sorted.toSeq
    val batch = StreamMask.curateStream(
        spark.read.parquet(s"$dir/docs"), "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the LM-scored overload: stream == batch, and lm_score is exactly
    // the broadcast model's local score (the batch band-filter input)
    val lm = graft.pipeline.TextOps.charLm(
      spark.read.parquet(s"$dir/docs"), "text", 3, maxTypes = 200)
    val streamedLm = runToMemory(
      StreamMask.curateStream(stream, "doc_id", "text", lm),
      "curate_stream_lm", "append")
      .collect().map(_.toString).sorted.toSeq
    val batchLm = StreamMask.curateStream(
        spark.read.parquet(s"$dir/docs"), "doc_id", "text", lm)
      .collect().map(_.toString).sorted.toSeq
    assert(streamedLm == batchLm)
    assert(StreamMask.curateStream(
        spark.read.parquet(s"$dir/docs"), "doc_id", "text", lm)
      .filter(col("lm_score") =!= 0.0).count() > 0)
    // the classifier-routed overload: stream == batch, and nb_label is
    // exactly the broadcast model's own local verdict per document
    val nb = graft.pipeline.Classify.train(
      spark.read.parquet(s"$dir/docs"), "lang", "text")
    val streamedNb = runToMemory(
      StreamMask.curateStream(stream, "doc_id", "text", nb),
      "curate_stream_nb", "append")
      .collect().map(_.toString).sorted.toSeq
    val batchNb = StreamMask.curateStream(
        spark.read.parquet(s"$dir/docs"), "doc_id", "text", nb)
      .collect().map(_.toString).sorted.toSeq
    assert(streamedNb == batchNb)
    val gotLabels = StreamMask.curateStream(
        spark.read.parquet(s"$dir/docs"), "doc_id", "text", nb)
      .select("doc_id", "nb_label").limit(50).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks = spark.read.parquet(s"$dir/docs")
      .filter(col("doc_id").isInCollection(gotLabels.keys.toSeq))
      .select(col("doc_id"),
        graft.pipeline.TextOps.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    assert(toks.nonEmpty)
    toks.foreach { case (id, tk) =>
      assert(gotLabels(id) == nb.classify(tk), s"doc $id") }
    // the DSIR-scored overload: stream == batch, and log_w is exactly
    // the broadcast model's own local fold per document
    val raw = spark.read.parquet(s"$dir/docs")
    val dsir = graft.pipeline.Dsir.fit(
      raw.filter(col("lang") === "en"), raw, "text", buckets = 32)
    val streamedDsir = runToMemory(
      StreamMask.curateStream(stream, "doc_id", "text", dsir),
      "curate_stream_dsir", "append")
      .collect().map(_.toString).sorted.toSeq
    val batchDsir = StreamMask.curateStream(raw, "doc_id", "text", dsir)
      .collect().map(_.toString).sorted.toSeq
    assert(streamedDsir == batchDsir)
    val gotW = StreamMask.curateStream(raw, "doc_id", "text", dsir)
      .select("doc_id", "log_w").limit(50).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val feats = raw
      .filter(col("doc_id").isInCollection(gotW.keys.toSeq))
      .select(col("doc_id"),
        graft.pipeline.Dsir.featureBuckets(col("text"), 32).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(feats.nonEmpty)
    feats.foreach { case (id, f) =>
      assert(gotW(id) == dsir.score(f), s"doc $id") }
  }

  test("mixServeStream: frozen-plan enforcement equals the batch " +
      "keep set bit-for-bit; unplanned domains drop") {
    import graft.pipeline.{Sampling, TextOps}
    val dir = Files.createTempDirectory("graft_mixserve").toString
    spark.read.parquet(s"$fixtures/documents.parquet")
      .write.mode("overwrite").parquet(s"$dir/docs")
    def proj(df: DataFrame): DataFrame = df.select(col("doc_id"),
      col("lang"),
      TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens"))
    val batchDocs = proj(spark.read.parquet(s"$dir/docs"))
    // offline calibration: the alpha plan over the batch corpus —
    // the same frame the batch keep set derives internally
    val plan = Sampling.temperatureMixPlan(batchDocs, "lang",
      col("n_tokens"), 0.5, 20000L)
    val schema = spark.read.parquet(s"$dir/docs").schema
    val stream = proj(
      spark.readStream.schema(schema).parquet(s"$dir/docs"))
    val streamed = runToMemory(
      StreamMask.mixServeStream(stream, col("doc_id"), "lang", plan),
      "mix_serve_stream", "append")
      .collect().map(_.toString).sorted.toSeq
    val batch = Sampling.sampleToTemperatureMix(batchDocs,
        col("doc_id"), "lang", col("n_tokens"), 0.5, 20000L)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, "stream diverged from the batch keep set")
    assert(streamed.nonEmpty)
    // a domain absent from the plan drops entirely (rate 0), it does
    // not pass unsampled
    val noEn = plan.filter(col("lang") =!= "en")
    val keptNoEn = runToMemory(
      StreamMask.mixServeStream(stream, col("doc_id"), "lang", noEn),
      "mix_serve_stream_noen", "append").collect()
    assert(keptNoEn.nonEmpty)
    assert(!keptNoEn.exists(_.getAs[String]("lang") == "en"),
      "a domain missing from the plan must drop")
  }

  test("streaming span decontamination + gopher gate equals the batch " +
      "path and stays shuffle-free") {
    val dir = Files.createTempDirectory("graft_decon").toString
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    docs.filter(col("doc_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val schema = spark.read.parquet(s"$dir/corpus").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/corpus")
    val streamedDf = StreamMask.decontaminateStream(stream, bench,
      "doc_id", "text", 25)
    val streamed = runToMemory(streamedDf, "decon_stream", "append")
      .collect().map(_.toString).sorted.toSeq
    val batch = StreamMask.decontaminateStream(
        spark.read.parquet(s"$dir/corpus"), bench, "doc_id", "text", 25)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the attachment must stay narrow: no Exchange, no stateful op in
    // the batch plan (the property that lets it run under any trigger)
    val plan = StreamMask.decontaminateStream(
        spark.read.parquet(s"$dir/corpus"), bench, "doc_id", "text", 25)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"must not shuffle:\n$plan")
    // and the cleaned-text gate actually bites on the fixture: some
    // contaminated docs flip their gopher verdict vs the raw text
    val flipped = StreamMask.decontaminateStream(
        spark.read.parquet(s"$dir/corpus"), bench, "doc_id", "text", 25)
      .join(spark.read.parquet(s"$dir/corpus"), "doc_id")
      .filter(col("n_removed_chars") > 0 &&
        col("gopher_keep") =!=
          graft.pipeline.TextOps.gopherKeep(col("text")))
      .count()
    assert(flipped > 0, "no doc's verdict changed after span cutting")
  }

  test("streaming tokenizer encode equals the batch encoders for all " +
      "three trained families and stays shuffle-free") {
    import graft.functions.{Bpe, BpeTrainer, BpeVocab, UnigramTrainer,
      WordPieceTrainer}
    import graft.pipeline.TextOps
    val dir = Files.createTempDirectory("graft_tok").toString
    val batchDocs = spark.read.parquet(s"$fixtures/documents.parquet")
    batchDocs.write.mode("overwrite").parquet(s"$dir/docs")
    val schema = spark.read.parquet(s"$dir/docs").schema
    def stream = spark.readStream.schema(schema).parquet(s"$dir/docs")
    def batch = spark.read.parquet(s"$dir/docs")
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))

    // one trained vocabulary per family, all on the same fixture corpus
    val bpeVocab =
      BpeVocab(BpeTrainer.toMerges(BpeTrainer.train(batchDocs, pieces, 8)),
        BpeVocab.asciiPrintable)
    val wpVocab = WordPieceTrainer.toVocabLocal(
      WordPieceTrainer.trainFull(batchDocs, pieces, 8))
    val ugVocab = UnigramTrainer.train(batchDocs, pieces, vocabSize = 200)

    def check(name: String, attach: DataFrame => DataFrame): Unit = {
      val streamed = runToMemory(attach(stream), s"tok_$name", "append")
        .collect().map(_.toString).sorted.toSeq
      val got = attach(batch).collect().map(_.toString).sorted.toSeq
      assert(streamed == got, s"$name stream != batch")
      assert(streamed.nonEmpty, s"$name produced nothing")
      // a non-empty id sequence must exist (the vocab actually encodes)
      assert(attach(batch).filter(col("n_tokens") > 0).count() > 0,
        s"$name never emitted a token")
      // broadcast-vocab narrow attach: no Exchange, any trigger works
      val plan = attach(batch).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n$plan")
    }
    check("bpe",
      StreamMask.tokenizeStream(_, "text", bpeVocab))
    check("wordpiece",
      StreamMask.tokenizeStream(_, "text", wpVocab))
    check("unigram",
      StreamMask.tokenizeStream(_, "text", ugVocab, 8))

    // a NULL text row tokenizes as empty (ids = [], n_tokens = 0),
    // never as ids = null / n_tokens = -1 into a downstream bin packer
    val s = spark
    import s.implicits._
    val withNull = Seq((1L, "the cat"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val tok = StreamMask.tokenizeStream(withNull, "text", bpeVocab)
      .orderBy("doc_id").collect()
    assert(tok(0).getLong(tok(0).fieldIndex("n_tokens")) > 0)
    assert(tok(1).getSeq[Int](tok(1).fieldIndex("ids")) == Seq.empty)
    assert(tok(1).getLong(tok(1).fieldIndex("n_tokens")) == 0L)
  }

  test("streaming curation composition: decontaminate -> enrich -> " +
      "tokenize -> pack bins equals the batch pipeline end to end") {
    import graft.functions.WordPieceTrainer
    import graft.functions.Bpe
    import graft.pipeline.{Packing, TextOps}
    val base = Files.createTempDirectory("graft_compose").toString
    val in = s"$base/in"
    val budget = 64
    val all = spark.read.parquet(s"$fixtures/documents.parquet")
    val bench = all.filter(col("doc_id") % 10 === 0)
    val docs = all.filter(col("doc_id") % 10 =!= 0)
      .select("doc_id", "lang", "text")
    val pieces = Bpe.preTokenize(TextOps.normalize(col("text")))
    val wpVocab = WordPieceTrainer.toVocabLocal(
      WordPieceTrainer.trainFull(docs, pieces, 8))
    // the shard dimension decontaminateStream's projection drops —
    // joined back stream-static (the enrichStream pattern)
    val langDim = docs.select("doc_id", "lang")
    // id-ordered files so bins span micro-batch boundaries (the
    // arrival-order contract's batch-equivalent regime)
    val n = all.count()
    docs.filter(col("doc_id") < n / 2).write.parquet(s"$in/f0")
    docs.filter(col("doc_id") >= n / 2).write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)

    def attach(d: DataFrame): DataFrame =
      StreamMask.packBinsStream(
        StreamMask.tokenizeStream(
          StreamMask.enrichStream(
            StreamMask.decontaminateStream(d, bench, "doc_id", "text", 25)
              .filter(col("gopher_keep")),
            langDim, Seq("doc_id")),
          "clean_text", wpVocab),
        "lang", "doc_id", col("ids"), budget)

    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Int](6).toList)
    val streamed = withRocksDbStateStore(runToMemory(
        attach(stream), "compose_stream", "append").collect())
      .map(key).toSeq.sortBy(b => (b._1, b._2))
    // reference: the same stages as batch operators, full bins only
    // (the stream's open partial bin per shard stays in state)
    val cleaned = StreamMask.decontaminateStream(
        docs, bench, "doc_id", "text", 25)
      .filter(col("gopher_keep")).join(langDim, Seq("doc_id"))
    val enc = WordPieceTrainer.encodeIdsUdf(spark, wpVocab)
    val withIds = cleaned.withColumn("ids",
      enc(Bpe.preTokenize(TextOps.normalize(col("clean_text")))))
    val batch = Packing.assembleBins(
        Packing.chunkSpans(
          Packing.packByOffset(withIds, "lang", "doc_id",
            size(col("ids")).cast("long"), budget), budget),
        "lang", "doc_id", "ids")
      .collect().map(key)
      .filter(_._4 == budget.toLong)
      .toSeq.sortBy(b => (b._1, b._2))
    assert(streamed.nonEmpty && streamed == batch,
      s"composed streaming pipeline (${streamed.length} bins) diverged " +
        s"from the batch pipeline (${batch.length} full bins)")
  }

  test("streaming ANN serving lands exactly the batch probe's results " +
      "across micro-batches, for all three persisted layouts") {
    import graft.pipeline.{Pq, Similarity}
    import graft.streaming.ExactlyOnceSink
    val base = Files.createTempDirectory("graft_serve").toString
    val emb = spark.read.parquet(s"$fixtures/embeddings.parquet")
    // index over the even ids; the odd ids arrive as the query stream
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val idx0 = Similarity.buildIvfIndex(corpus, "vec_id", "embedding")
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    val queries = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val in = s"$base/in"
    val n = emb.count()
    queries.filter(col("q_id") < n / 2).write.parquet(s"$in/f0")
    queries.filter(col("q_id") >= n / 2).write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f0").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    def key(df: DataFrame) = df
      .select(col("q_id"), col("vec_id"), round(col("cosine"), 6))
      .collect().map(_.toString).sorted.toSeq

    val layouts: Seq[(String, String => Unit, String => DataFrame)] = Seq(
      ("float",
        dir => Similarity.writeIvfIndex(idx0, dir),
        dir => Similarity.queryIvfBatch(
          Similarity.loadIvfIndex(spark, dir), queries, "q_id", "q_vec",
          k = 5, nProbe = 2)),
      ("int8",
        dir => Similarity.writeIvfIndex(Similarity.int8Index(idx0), dir),
        dir => Similarity.queryIvfInt8Batch(
          Similarity.loadIvfIndex(spark, dir), queries, "q_id", "q_vec",
          k = 5, nProbe = 2)),
      ("pq",
        dir => Similarity.writeIvfPqIndex(idx0, cb, dir),
        dir => {
          val (idx, lcb) = Similarity.loadIvfPqIndex(spark, dir)
          Similarity.queryIvfPqBatch(idx, lcb, queries, "q_id", "q_vec",
            k = 5, nProbe = 2, rerank = 50)
        }))
    layouts.foreach { case (name, writeIdx, batchProbe) =>
      val dir = s"$base/$name/index"
      writeIdx(dir)
      val out = s"$base/$name/out"
      val q = StreamMask.ivfServeStream(stream, dir, "q_id", "q_vec",
        k = 5, outPath = out, checkpoint = s"$base/$name/ckpt",
        nProbe = 2, rerank = 50)
      q.awaitTermination(120000)
      val landed = spark.read.parquet(out)
      // multiple micro-batches actually served
      assert(landed.select(ExactlyOnceSink.BatchIdCol).distinct().count()
        > 1, s"$name: expected more than one served micro-batch")
      val streamedKeys = key(landed)
      assert(streamedKeys.nonEmpty && streamedKeys == key(batchProbe(dir)),
        s"$name: streamed ANN results diverged from the batch probe")
    }
  }

  test("streaming BM25 serving lands the batch operator's results " +
      "exactly-once; malformed (termless) queries dropped per batch") {
    import graft.pipeline.Bm25
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_bm25_serve").toString
    val corpus = spark.read.parquet(s"$fixtures/documents.parquet")
    val queries = Seq(
      ("q1", "spark window merge"), ("q2", "customer data"),
      ("q3", "vector join fast"), ("q4", "table scan"))
      .toDF("qid", "qtext")
    val in = s"$base/in"
    // two files -> two micro-batches; poison rides in file 2
    queries.filter(col("qid") < "q3").write.parquet(s"$in/f0")
    queries.filter(col("qid") >= "q3")
      .unionAll(Seq(("bad1", null.asInstanceOf[String]),
        ("bad2", "   "),
        // tabs/newlines: Spark's trim() strips only ASCII spaces, so a
        // trim-based malformed filter would pass this row, tokenize it
        // to zero terms and checkpoint-wedge the stream — the filter
        // must use the tokenizer's own definition of "termless"
        ("bad3", "\t\n\t ")).toDF("qid", "qtext"))
      .write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val out = s"$base/out"
    val q = StreamMask.bm25ServeStream(stream, corpus, "doc_id",
      "text", "qid", "qtext", k = 5, outPath = out,
      checkpoint = s"$base/ckpt")
    q.awaitTermination(120000)
    val landed = spark.read.parquet(out)
    assert(landed.select(ExactlyOnceSink.BatchIdCol).distinct().count()
      > 1, "expected more than one served micro-batch")
    assert(landed.filter(col("qid").startsWith("bad")).count() == 0,
      "termless queries must be dropped, not served or wedged")
    def key(df: DataFrame) = df
      .select(col("qid"), col("doc_id"), col("rank"))
      .collect().map(_.toString).sorted.toSeq
    val batchRef = Bm25.queryTopKBatch(corpus, "doc_id", "text",
      queries, "qid", "qtext", 5)
    assert(key(landed) == key(batchRef),
      "streamed BM25 results diverged from the audited batch operator")
  }

  test("ANN serving stream survives malformed query rows: null/wrong-" +
      "dim vectors dropped per batch, valid queries still served") {
    import graft.pipeline.Similarity
    val base = Files.createTempDirectory("graft_serve_bad").toString
    val emb = spark.read.parquet(s"$fixtures/embeddings.parquet")
    val idxDir = s"$base/index"
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding"), idxDir)
    val valid = emb.filter(col("vec_id") % 2 === 1)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // one null vector and one wrong-dimension vector ride along —
    // without the drop these are checkpoint-replayed poison (the probe
    // UDF fail-fasts, foreachBatch throws, restart replays, forever)
    val poisoned = valid
      .unionAll(valid.limit(1).select(lit(90001L).as("q_id"),
        lit(null).cast("array<float>").as("q_vec")))
      .unionAll(valid.limit(1).select(lit(90002L).as("q_id"),
        slice(col("q_vec"), 1, 3).as("q_vec")))
      // right length, null ELEMENT: the Seq[Float] converter throws on
      // these too, so the drop filter must catch them as well
      .unionAll(valid.limit(1).select(lit(90003L).as("q_id"),
        transform(col("q_vec"), (e, i) =>
          when(i === 0, lit(null).cast("float")).otherwise(e))
          .as("q_vec")))
    val in = s"$base/in"
    poisoned.write.parquet(s"$in/f0")
    val schema = spark.read.parquet(s"$in/f0").schema
    def stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(in)
    val out = s"$base/out"
    val q = StreamMask.ivfServeStream(stream, idxDir, "q_id", "q_vec",
      k = 5, outPath = out, checkpoint = s"$base/ckpt")
    q.awaitTermination(120000)
    val landed = spark.read.parquet(out)
    val servedIds = landed.select("q_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val validIds = valid.select("q_id").collect().map(_.getLong(0)).toSet
    assert(servedIds == validIds,
      s"expected exactly the valid queries served, got $servedIds")
    // the batch fail-fast posture stays available behind the opt-out
    val ex = intercept[Throwable] {
      StreamMask.ivfServeStream(stream, idxDir, "q_id", "q_vec",
        k = 5, outPath = s"$base/out2", checkpoint = s"$base/ckpt2",
        dropMalformed = false).awaitTermination(120000)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ chain(e.getCause))
    // whichever poisoned row the scheduler hits first fails the stream:
    // the probe's own requires (null vector / dim) or the Seq[Float]
    // converter's null-element assert — all equally loud
    assert(chain(ex).exists(m => m.contains("null vector") ||
      m.contains("ANN query dim") ||
      m.contains("NOT_NULL_ASSERT_VIOLATION")), chain(ex))
  }

  test("ANN serving stream resumes from its checkpoint: late queries " +
      "served on restart, earlier results untouched") {
    import graft.pipeline.Similarity
    val base = Files.createTempDirectory("graft_serve_rs").toString
    val emb = spark.read.parquet(s"$fixtures/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val idxDir = s"$base/index"
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"), idxDir)
    val queries = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val n = emb.count()
    val early = queries.filter(col("q_id") < n / 2)
    val late = queries.filter(col("q_id") >= n / 2)
    val in = s"$base/in"
    early.write.parquet(s"$in/f0")
    val schema = spark.read.parquet(s"$in/f0").schema
    def stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(in)
    val out = s"$base/out"
    def serve() = {
      val q = StreamMask.ivfServeStream(stream, idxDir, "q_id", "q_vec",
        k = 5, outPath = out, checkpoint = s"$base/ckpt")
      q.awaitTermination(120000)
    }
    serve()
    // snapshot BEFORE the restart (batch-id column dropped: the row
    // content is what must survive, whatever batch numbering resumes at)
    val firstRun = spark.read.parquet(out)
      .drop(graft.streaming.ExactlyOnceSink.BatchIdCol)
      .collect().map(_.toString).sorted.toSeq
    // restart the SAME checkpoint after new queries arrive: only the
    // late file is served, the first run's landed results are untouched
    late.write.parquet(s"$in/f1")
    serve()
    val all = spark.read.parquet(out)
    val served = all.select("q_id").distinct().count()
    assert(served == queries.count(),
      s"expected every query served exactly once, got $served ids")
    val batch = Similarity.queryIvfBatch(
      Similarity.loadIvfIndex(spark, idxDir), queries, "q_id", "q_vec",
      k = 5, nProbe = 2)
    def key(df: DataFrame) = df
      .select(col("q_id"), col("vec_id"), round(col("cosine"), 6))
      .collect().map(_.toString).sorted.toSeq
    assert(key(all) == key(batch),
      "post-restart landed results diverged from the batch probe")
    // the first run's rows are untouched by the restart (the late file
    // landed as a NEW batch; nothing re-served or overwrote the early
    // results)
    val earlyAfter = all
      .filter(col("q_id") < n / 2)
      .drop(graft.streaming.ExactlyOnceSink.BatchIdCol)
      .collect().map(_.toString).sorted.toSeq
    assert(firstRun.nonEmpty && earlyAfter == firstRun,
      "restart disturbed the first run's landed results")
  }

  test("streaming semantic dedup: ingest batches filter against the " +
      "landed index, union of micro-batch survivors == batch filter") {
    import graft.pipeline.{Dedup, Similarity}
    import graft.streaming.ExactlyOnceSink
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_semstream").toString
    val emb = spark.read.parquet(s"$fixtures/embeddings.parquet")
    // landed corpus = even ids; the odd ids arrive as the ingest stream
    val corpus = emb.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    val idxDir = s"$base/index"
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"), idxDir)
    val batch = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
    val n = emb.count()
    val in = s"$base/in"
    batch.filter(col("vec_id") < n / 2).write.parquet(s"$in/f0")
    batch.filter(col("vec_id") >= n / 2).write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val out = s"$base/out"
    val q = StreamMask.semDeDupStream(stream, idxDir, "vec_id",
      "embedding", threshold = 0.3, outPath = out,
      checkpoint = s"$base/ckpt")
    q.awaitTermination(120000)
    val landed = spark.read.parquet(out)
    assert(landed.select(ExactlyOnceSink.BatchIdCol).distinct().count()
      > 1, "expected more than one ingest micro-batch")
    // per-row decisions are against the STATIC corpus only, so the
    // union of micro-batch survivors equals the one-shot batch filter
    val streamed = landed.select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val expected = Dedup.semDeDupFilterBatch(
        Similarity.loadIvfIndex(spark, idxDir), batch, "vec_id",
        "embedding", threshold = 0.3)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed.nonEmpty && streamed.size < batch.count(),
      s"fixture should both keep and drop (kept ${streamed.size})")
    assert(streamed == expected,
      "streamed survivors diverged from the batch keep-the-corpus filter")
    // a quantized layout is rejected loudly at stream construction
    val int8Dir = s"$base/int8"
    Similarity.writeIvfIndex(Similarity.int8Index(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding")), int8Dir)
    val ex = intercept[IllegalArgumentException] {
      StreamMask.semDeDupStream(stream, int8Dir, "vec_id", "embedding",
        0.3, s"$base/out2", s"$base/ckpt2")
    }
    assert(ex.getMessage.contains("float"))
  }

  test("streaming semantic dedup serves a persisted TWO-LEVEL index: " +
      "survivors == the batch filter under the group-restricted " +
      "assignment") {
    import graft.pipeline.{Dedup, Similarity}
    import graft.streaming.ExactlyOnceSink
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_semstream2l").toString
    val emb = spark.read.parquet(s"$fixtures/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    val idxDir = s"$base/index"
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndexTwoLevel(corpus, "vec_id", "embedding",
        Dedup.semDeDupAutoCells(corpus, 24)), idxDir)
    // the stream must see the grouped sidecars, not the flat geometry
    assert(Similarity.loadIvfIndex(spark, idxDir).twoLevel.isDefined)
    val batch = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
    val n = emb.count()
    val in = s"$base/in"
    batch.filter(col("vec_id") < n / 2).write.parquet(s"$in/f0")
    batch.filter(col("vec_id") >= n / 2).write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val out = s"$base/out"
    StreamMask.semDeDupStream(stream, idxDir, "vec_id", "embedding",
        threshold = 0.3, outPath = out, checkpoint = s"$base/ckpt")
      .awaitTermination(120000)
    val landed = spark.read.parquet(out)
    assert(landed.select(ExactlyOnceSink.BatchIdCol).distinct().count()
      > 1, "expected more than one ingest micro-batch")
    val streamed = landed.select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val expected = Dedup.semDeDupFilterBatch(
        Similarity.loadIvfIndex(spark, idxDir), batch, "vec_id",
        "embedding", threshold = 0.3)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed.nonEmpty && streamed.size < batch.count(),
      s"fixture should both keep and drop (kept ${streamed.size})")
    assert(streamed == expected,
      "streamed survivors diverged from the two-level batch filter")
  }

  test("streaming semantic dedup hot-cell posture: Skip passes hot-cell " +
      "rows through and keeps serving across a checkpoint restart; Fail " +
      "keeps the batch contract and stops the stream") {
    import graft.pipeline.{Dedup, Similarity}
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_semhot").toString
    // nCells = 2, seeds from ids 0/1: cell 0 = the x-axis family (ONE
    // landed vector), cell 1 = the y-axis family (FIVE landed vectors)
    // — maxCell = 3 makes cell 1 the poisoned hot cell
    val corpus = (Seq(
        0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f)) ++
      (2L to 5L).map(i => i -> Seq(0f, 1f, i * 0.01f, 0f)))
      .toDF("vec_id", "embedding")
    val idxDir = s"$base/index"
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 2), idxDir)
    // f0: 100 is an EXACT duplicate probing the hot cell (unchecked
    // under Skip — passes through), 101 a near-dup of the cold cell
    // (checked — dropped), 102 a cold-cell non-dup (checked — kept)
    val f0 = Seq(
      100L -> Seq(0f, 1f, 0f, 0f),
      101L -> Seq(1f, 0.01f, 0f, 0f),
      102L -> Seq(0.8f, -0.6f, 0f, 0f)).toDF("vec_id", "embedding")
    // f1 (arrives after a restart): same three outcomes again
    val f1 = Seq(
      103L -> Seq(1f, -0.01f, 0f, 0f),
      104L -> Seq(0f, 1f, 0.02f, 0f)).toDF("vec_id", "embedding")
    val in = s"$base/in"
    f0.write.parquet(s"$in/f0")
    val schema = spark.read.parquet(s"$in/f0").schema
    def stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(in)
    val out = s"$base/out"
    def serve(): Unit =
      StreamMask.semDeDupStream(stream, idxDir, "vec_id", "embedding",
        threshold = 0.9, outPath = out, checkpoint = s"$base/ckpt",
        maxCell = Some(3)).awaitTermination(120000)
    // default posture is Skip: the poisoned cell must NOT wedge the run
    serve()
    def landedIds = spark.read.parquet(out).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(landedIds == Set(100L, 102L),
      s"Skip: hot-cell row passes UNCHECKED, cold dup drops, " +
        s"cold non-dup keeps — got $landedIds")
    // a restart from the same checkpoint serves the late file — the
    // wedge (replay → throw → replay) is exactly what must not happen
    f1.write.parquet(s"$in/f1")
    serve()
    assert(landedIds == Set(100L, 102L, 104L),
      s"restart must keep serving under Skip — got $landedIds")
    // Fail keeps the batch operator's contract: the guard stops the
    // stream loudly (every landed row dedup-checked, or nothing lands)
    val ex = intercept[Throwable] {
      StreamMask.semDeDupStream(stream, idxDir, "vec_id", "embedding",
        threshold = 0.9, outPath = s"$base/out2",
        checkpoint = s"$base/ckpt2", maxCell = Some(3),
        onHotCell = Dedup.HotCellPolicy.Fail).awaitTermination(120000)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ chain(e.getCause))
    assert(chain(ex).exists(_.contains("maxCell")), chain(ex))
    // and nothing landed under Fail — no partial unchecked batch
    assert(!new java.io.File(s"$base/out2").exists() ||
      spark.read.parquet(s"$base/out2").isEmpty)
  }

  test("deterministic sampling on a stream equals the batch sample") {
    import graft.pipeline.Sampling
    val sampled = runToMemory(
      Sampling.hashSample(streamingEvents, col("event_id"), 0.25)
        .select("event_id"),
      "sample_stream", "append")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batch = Sampling.hashSample(batchEvents, col("event_id"), 0.25)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(sampled == batch)
    assert(sampled.nonEmpty)
  }

  test("weighted sampling and the bloom contamination prescreen " +
      "compose onto streams unchanged") {
    import graft.pipeline.{Dedup, Sampling}
    // weighted Poisson sample: a pure narrow filter, so the streaming
    // result must be the identical kept set
    val weighted = (df: DataFrame) => Sampling.weightedHashSample(
      df.withColumn("w", (col("event_id") % 10 + 1).cast("double")),
      col("event_id"), col("w"), 0.05).select("event_id")
    val sampled = runToMemory(weighted(streamingEvents),
        "wsample_stream", "append")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batchSample = weighted(batchEvents)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(sampled == batchSample)
    assert(sampled.nonEmpty)
    // bloom prescreen: the benchmark filter builds from a BATCH frame
    // at call time; the corpus side is one udf column, so it attaches
    // to a streaming corpus directly
    val docsDir = Files.createTempDirectory("graft_stream_docs").toString
    spark.read.parquet(s"$fixtures/documents.parquet")
      .write.mode("overwrite").parquet(s"$docsDir/docs")
    val docsSchema = spark.read.parquet(s"$docsDir/docs").schema
    val bench = spark.read.parquet(s"$fixtures/documents.parquet")
      .filter(col("doc_id") % 10 === 0)
    val hitsOf = (corpus: DataFrame) => Dedup.bloomContaminationHits(
      corpus.filter(col("doc_id") % 10 =!= 0), bench, "doc_id", "text")
      .select("doc_id", "bloom_hits")
    val streamedHits = runToMemory(
        hitsOf(spark.readStream.schema(docsSchema).parquet(s"$docsDir/docs")),
        "bloom_stream", "append")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val batchHits = hitsOf(spark.read.parquet(s"$docsDir/docs"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(streamedHits == batchHits)
    assert(streamedHits.exists(_._2 > 0), "fixture must produce hits")
  }

  test("gopher rules and token windows compose onto streams unchanged") {
    import graft.pipeline.{Packing, TextOps}
    // both are pure narrow transforms (Column arithmetic / row-local
    // generators), so attaching them to a streaming corpus must yield
    // the identical rows
    val docsDir = Files.createTempDirectory("graft_stream_gopher").toString
    spark.read.parquet(s"$fixtures/documents.parquet")
      .write.mode("overwrite").parquet(s"$docsDir/docs")
    val docsSchema = spark.read.parquet(s"$docsDir/docs").schema
    val gopher = (df: DataFrame) =>
      TextOps.gopherRules(df, "doc_id", "text",
          TextOps.GopherConfig(minWords = 30, maxWords = 90,
            minMeanWordLen = 3.9, maxMeanWordLen = 4.9,
            minStopwordHits = 1))
        .select("doc_id", "n_words", "keep")
    val streamed = runToMemory(
        gopher(spark.readStream.schema(docsSchema).parquet(s"$docsDir/docs")),
        "gopher_stream", "append")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .sorted.toSeq
    val batch = gopher(spark.read.parquet(s"$docsDir/docs"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .sorted.toSeq
    assert(streamed == batch)
    assert(streamed.exists(_._3) && streamed.exists(!_._3))
    val windows = (df: DataFrame) => Packing.tokenWindows(
      df.select(col("doc_id"),
        split(lower(col("text")), " ").as("ids")
          .cast("array<string>")).withColumn("ids",
          org.apache.spark.sql.functions.transform(col("ids"),
            t => length(t))),
      "doc_id", "ids", 32, 24)
    val streamedW = runToMemory(
        windows(spark.readStream.schema(docsSchema).parquet(s"$docsDir/docs")),
        "window_stream", "append")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).sorted.toSeq
    val batchW = windows(spark.read.parquet(s"$docsDir/docs"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).sorted.toSeq
    assert(streamedW == batchW)
    assert(streamedW.nonEmpty)
  }

  test("stream-stream interval join equals the batch interval join") {
    // views → follow-up clicks by the same user within 6 hours
    // (the fixture's event times are day-spread; 6h yields ~25 pairs)
    val views = streamingEvents.filter(col("event_type") === "view")
    val clicks = streamingEvents.filter(col("event_type") === "click")
    val streamed = runToMemory(
      StreamMask.intervalJoin(views, clicks, "user_id", "ts", "ts",
          watermark = "10 minutes", maxDelay = "6 hours")
        .select("l_event_id", "r_event_id"),
      "ssjoin_stream", "append")
      .collect().map(_.toString).sorted.toSeq
    val bv = batchEvents.filter(col("event_type") === "view")
    val bc = batchEvents.filter(col("event_type") === "click")
    val batch = StreamMask.intervalJoin(bv, bc, "user_id", "ts", "ts",
        watermark = "10 minutes", maxDelay = "6 hours")
      .select("l_event_id", "r_event_id")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("#row# templates are rejected on streams") {
    val bp = Blueprint("events") { b =>
      b.primary("event_id")
      b.column("props").replaceWith("p#row#")
    }
    val e = intercept[IllegalArgumentException](
      StreamMask.maskStream(streamingEvents, bp))
    assert(e.getMessage.contains("#row#"))
  }

  test("watermarked tumbling-window stats equal the batch aggregation") {
    val streamed = runToMemory(
      StreamMask.windowedStats(streamingEvents, "ts", "1 hour", "1 hour"),
      "win_stream", "append")
    // append mode emits only windows closed by the watermark; every emitted
    // window must match the batch result exactly
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
    val b = batch.collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val s = streamed.collect()
    assert(s.nonEmpty, "no windows closed — watermark too long for fixture")
    s.foreach { r =>
      val k = (r.get(0).toString, r.getString(1))
      assert(b.contains(k), s"window $k missing from batch")
      assert(b(k) == ((r.getLong(2), r.getDouble(3))), s"window $k differs")
    }
  }

  test("streaming session windows equal the batch session_window result") {
    val streamed = runToMemory(
      StreamMask.sessionStats(streamingEvents, "ts", "1 hour", "30 minutes"),
      "sess_stream", "append")
    val batch = batchEvents
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("sum_value"))
    val b = batch.collect()
      .map(r => (r.get(0).toString, r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val s = streamed.collect()
    assert(s.nonEmpty, "no sessions closed by the watermark")
    s.foreach { r =>
      val k = (r.get(0).toString, r.getLong(1))
      assert(b.contains(k), s"session $k missing from batch")
      assert(b(k)._1 == r.getLong(2), s"session $k count differs")
    }
  }

  test("mapGroupsWithState running totals equal the batch aggregation") {
    val streamed = runToMemory(
      StreamMask.runningUserTotals(streamingEvents), "state_stream", "update")
    val batch = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // update mode re-emits per batch; the LAST emission per user carries
    // the cumulative totals (single AvailableNow batch ⇒ one emission)
    val s = streamed.collect()
    assert(s.nonEmpty)
    val finalPerUser = s.groupBy(_.getLong(0))
      .map { case (u, rs) =>
        val top = rs.maxBy(_.getLong(1))
        u -> (top.getLong(1), top.getDouble(2))
      }
    finalPerUser.foreach { case (u, (n, sv)) =>
      val (bn, bs) = batch(u)
      assert(n == bn, s"user $u count")
      assert(math.abs(sv - bs) <= math.abs(bs) * 1e-9 + 1e-9,
        s"user $u sum: $sv vs $bs")
    }
    assert(finalPerUser.keySet == batch.keySet)
  }

  test("stream-static enrichment equals the batch join") {
    val dim = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("user_total"))
    val streamed = runToMemory(
      StreamMask.enrichStream(streamingEvents, dim, Seq("user_id"))
        .select("event_id", "user_id", "user_total"),
      "enrich_stream", "append")
    val batch = batchEvents.join(dim, Seq("user_id"), "left")
      .select("event_id", "user_id", "user_total")
    assert(streamed.collect().map(_.toSeq).toSet ==
      batch.collect().map(_.toSeq).toSet)
    assert(streamed.count() == batchEvents.count())
  }

  test("watermark-bounded stream dedup emits each id once") {
    val dup = streamingEvents // fixture ids are unique; dedup must be a no-op
    val streamed = runToMemory(
      StreamMask.dedupedStream(dup, "event_id", "ts", "10 minutes"),
      "dedup_stream", "append")
    assert(streamed.count() == batchEvents.count())
    assert(streamed.select("event_id").distinct().count() == streamed.count())
  }

  test("streaming near-dedup equals the batch MinHash pipeline on the " +
      "planted near-dup pairs") {
    import graft.pipeline.Dedup
    val dir = Files.createTempDirectory("graft_neardup").toString
    // the operator needs an event-time column; derive a deterministic one
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val schema = spark.read.parquet(s"$dir/docs").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/docs")
    val streamed = withRocksDbStateStore(runToMemory(
      StreamMask.nearDupPairsStream(stream, "doc_id", "text", "ts",
        watermark = "1 hour"),
      "neardup_stream", "append").collect())
    // exactly-once per pair: the composed watermarked (id_a, id_b) dedup
    // collapses the per-band duplicate emissions, so the emitted
    // MULTISET — not just the set — must equal the batch pair list
    val streamedPairs = streamed
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    val batchPairs = Dedup.nearDuplicatePairs64(
        spark.read.parquet(s"$dir/docs"), "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_inter"), r.getAs[Double]("jaccard")))
      .toSeq.sorted
    assert(batchPairs.nonEmpty, "fixture should contain planted near-dups")
    assert(streamedPairs == batchPairs)
  }

  test("streaming near-dedup pairs documents across micro-batches") {
    import SparkSpec.spark.implicits._
    val base = Files.createTempDirectory("graft_neardup_xb").toString
    val in = s"$base/in"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:10:00")
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "the quick brown fox jumps over the lazy dog again and once"
    Seq((1L, textA, t0), (10L, "completely unrelated words about weather " +
        "patterns in the alps today", t0))
      .toDF("doc_id", "text", "ts").write.parquet(s"$in/f0")
    Seq((2L, textB, t1)).toDF("doc_id", "text", "ts").write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f0").schema
    def run(dir: String, name: String): Seq[(Long, Long)] = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(dir)
      withRocksDbStateStore(runToMemory(
        StreamMask.nearDupPairsStream(stream, "doc_id", "text", "ts",
          watermark = "1 hour", threshold = 0.5),
        name, "append").collect())
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }
    val clean = run(in, "neardup_xb")
    // doc 2 arrives in a LATER micro-batch than doc 1: the pair can only
    // come from bucket state carried across batches — and the composed
    // dedup stage must deliver it EXACTLY once even where several bands
    // agree on the pair
    assert(clean == Seq((1L, 2L)))
    // an at-least-once source REDELIVERS doc 1 in a later batch: the
    // bucket must treat it as already present — the emission multiset
    // is unchanged
    val in2 = s"$base/in_redelivered"
    spark.read.parquet(s"$in/f0").write.parquet(s"$in2/f0")
    spark.read.parquet(s"$in/f1").write.parquet(s"$in2/f1")
    Seq((1L, textA, t1)).toDF("doc_id", "text", "ts")
      .write.parquet(s"$in2/f2")
    assert(run(in2, "neardup_xb2") == clean,
      "redelivered doc changed the emitted pair multiset")
  }

  test("streaming near-dedup restarts from its checkpoint exactly-once " +
      "into the idempotent lake") {
    import SparkSpec.spark.implicits._
    val base = Files.createTempDirectory("graft_neardup_restart").toString
    val in = s"$base/in"; val out = s"$base/lake"; val ck = s"$base/ck"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:10:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-01 00:20:00")
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "the quick brown fox jumps over the lazy dog again and once"
    Seq((1L, textA, t0), (10L, "completely unrelated words about weather " +
        "patterns in the alps today", t0))
      .toDF("doc_id", "text", "ts").write.parquet(s"$in/f0")
    Seq((2L, textB, t1)).toDF("doc_id", "text", "ts").write.parquet(s"$in/f1")
    val schema = spark.read.parquet(s"$in/f0").schema
    def runOnce(): Unit = withRocksDbStateStore {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = ExactlyOnceSink.start(
        StreamMask.nearDupPairsStream(stream, "doc_id", "text", "ts",
          watermark = "1 hour", threshold = 0.5), out, ck)
      q.awaitTermination(120000)
    }
    def landedPairs: Seq[(Long, Long)] = spark.read.parquet(out)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    runOnce()
    assert(landedPairs == Seq((1L, 2L)))
    // doc 3 duplicates doc 1 and arrives AFTER a full query restart: the
    // bucket membership of docs 1 and 2 must come back from the RocksDB
    // checkpoint — and every pair must land in the lake exactly once,
    // across the TWS state, the chained dedup state, and the
    // batch-idempotent sink
    Seq((3L, textA, t2)).toDF("doc_id", "text", "ts")
      .write.parquet(s"$in/f2")
    runOnce()
    assert(landedPairs == Seq((1L, 2L), (1L, 3L), (2L, 3L)),
      s"restart broke exactly-once delivery: $landedPairs")
  }

  test("streaming packing equals the batch offset packing under ordered " +
      "arrival") {
    import SparkSpec.spark.implicits._
    import graft.pipeline.{Packing, TextOps}
    val base = Files.createTempDirectory("graft_pack_stream").toString
    val in = s"$base/in"
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
      .select("doc_id", "lang", "text")
    // id-ordered files => per-shard arrival order == doc_id order, the
    // regime where streaming assignment must EQUAL the batch window
    val n = docs.count()
    docs.filter(col("doc_id") < n / 3).write.parquet(s"$in/f0")
    docs.filter(col("doc_id") >= n / 3 && col("doc_id") < 2 * n / 3)
      .write.parquet(s"$in/f1")
    docs.filter(col("doc_id") >= 2 * n / 3).write.parquet(s"$in/f2")
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val streamed = withRocksDbStateStore(runToMemory(
      StreamMask.packStream(stream, "lang", "doc_id",
        TextOps.tokenCount(col("text")), 256),
      "pack_stream", "append").collect())
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    val batch = Packing.packByOffset(docs, "lang", "doc_id",
        TextOps.tokenCount(col("text")), 256)
      .select(col("lang"), col("doc_id"), col("tokens"), col("offset"),
        col("bin"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    assert(streamed.nonEmpty && streamed == batch,
      "streaming packing diverged from the batch window assignment")
  }

  test("streaming packing under SHUFFLED arrival is the defined " +
      "arrival-order assignment, not silence or corruption") {
    import graft.pipeline.{Packing, TextOps}
    val base = Files.createTempDirectory("graft_pack_shuffled").toString
    val in = s"$base/in"
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
      .select("doc_id", "lang", "text")
    // residue-interleaved files: arrival order deliberately != doc_id
    // order (file k carries doc_id % 3 == perm(k))
    val perm = Seq(2L, 0L, 1L)
    perm.zipWithIndex.foreach { case (m, k) =>
      docs.filter(col("doc_id") % 3 === m).write.parquet(s"$in/f$k")
    }
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val streamed = withRocksDbStateStore(runToMemory(
      StreamMask.packStream(stream, "lang", "doc_id",
        TextOps.tokenCount(col("text")), 256),
      "pack_shuffled", "append").collect())
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    // the CONTRACT under shuffled arrival: offsets follow arrival order
    // (file order, id-sorted within a micro-batch) — compute it exactly
    val byFile = perm.map(m =>
      docs.filter(col("doc_id") % 3 === m)
        .select(col("lang"), col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._2))
    val cum = scala.collection.mutable.Map.empty[String, Long]
    val expected = byFile.flatten.map { case (lang, id, toks) =>
      val off = cum.getOrElse(lang, 0L)
      cum(lang) = off + toks
      (lang, id, toks, off, off / 256)
    }.sorted
    assert(streamed == expected,
      "shuffled arrival must follow the documented arrival-order contract")
    // and the arrival-order assignment genuinely differs from the batch
    // doc_id-order window here — the precondition packStream documents
    val batch = Packing.packByOffset(docs, "lang", "doc_id",
        TextOps.tokenCount(col("text")), 256)
      .select("lang", "doc_id", "tokens", "offset", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    assert(streamed != batch,
      "fixture should make arrival order diverge from doc_id order")
  }

  test("event-time ordered streaming packing equals the batch window " +
      "under shuffled arrival") {
    import graft.pipeline.{Packing, TextOps}
    val base = Files.createTempDirectory("graft_pack_ordered").toString
    val in = s"$base/in"
    // ts = t0 + doc_id seconds, so event-time order == doc_id order and
    // the batch reference is packByOffset ordered by doc_id
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
      .select("doc_id", "lang", "text")
      .withColumn("ts", expr("timestampadd(SECOND, " +
        "CAST(doc_id AS INT), timestamp'2026-01-01 00:00:00')"))
    // bounded-disorder arrival: file k holds its own 100-id block MINUS
    // a held-back slice [100k+80, 100k+90), which arrives one file LATE
    // (displacement ~20 s, inside the 60 s watermark — nothing is late)
    val n = docs.count().toInt
    val blocks = (n + 99) / 100
    def hold(k: Int) = (k * 100 + 80, k * 100 + 90)
    (0 until blocks).foreach { k =>
      val (hLo, hHi) = hold(k)
      var f = docs.filter(col("doc_id") >= k * 100 &&
        col("doc_id") < (k + 1) * 100 &&
        !(col("doc_id") >= hLo && col("doc_id") < hHi))
      if (k > 0) {
        val (pLo, pHi) = hold(k - 1)
        f = f.unionAll(
          docs.filter(col("doc_id") >= pLo && col("doc_id") < pHi))
      }
      f.write.parquet(s"$in/f$k")
    }
    val (lLo, lHi) = hold(blocks - 1)
    // final held slice + a far-future sentinel that advances the
    // watermark past every real row; a second sentinel batch makes the
    // resulting timers fire even if no no-data batch runs
    docs.filter(col("doc_id") >= lLo && col("doc_id") < lHi)
      .unionAll(docs.limit(1).select(lit(900000L).as("doc_id"),
        col("lang"), col("text"))
        .withColumn("ts", expr("timestamp'2026-02-01 00:00:00'")))
      .write.parquet(s"$in/f$blocks")
    docs.limit(1).select(lit(900001L).as("doc_id"), col("lang"),
        col("text"))
      .withColumn("ts", expr("timestamp'2026-03-01 00:00:00'"))
      .write.parquet(s"$in/f${blocks + 1}")
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val streamed = withRocksDbStateStore(runToMemory(
      StreamMask.packStreamOrdered(stream, "lang", "doc_id",
        TextOps.tokenCount(col("text")), 256, "ts", "60 seconds"),
      "pack_ordered", "append").collect())
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .filter(_._2 < 900000L).toSeq.sorted
    val batch = Packing.packByOffset(docs, "lang", "doc_id",
        TextOps.tokenCount(col("text")), 256)
      .select("lang", "doc_id", "tokens", "offset", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    assert(streamed.nonEmpty && streamed == batch,
      "ordered streaming packing diverged from the batch assignment " +
        "under shuffled arrival")
  }

  test("streaming bin assembly emits exactly the batch pipeline's full " +
      "bins as they fill") {
    import graft.pipeline.{Packing, TextOps}
    import graft.functions.{Bpe, BpeVocab}
    val base = Files.createTempDirectory("graft_bins_stream").toString
    val in = s"$base/in"
    val budget = 64
    val vocab = BpeVocab(Bpe.demoEnglish, BpeVocab.asciiPrintable)
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
      .select("doc_id", "lang", "text")
    // id-ordered files: the arrival-order contract's batch-equivalent
    // regime, split so bins genuinely span micro-batch boundaries
    val n = docs.count()
    docs.filter(col("doc_id") < n / 3).write.parquet(s"$in/f0")
    docs.filter(col("doc_id") >= n / 3 && col("doc_id") < 2 * n / 3)
      .write.parquet(s"$in/f1")
    docs.filter(col("doc_id") >= 2 * n / 3).write.parquet(s"$in/f2")
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val streamed = withRocksDbStateStore(runToMemory(
      StreamMask.packBinsStream(stream, "lang", "doc_id",
        Bpe.tokenIds(vocab)(TextOps.tokens(col("text"))), budget),
      "bins_stream", "append").collect())
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Int](6).toList))
      .toSeq.sortBy(b => (b._1, b._2))
    // reference: the batch flow, keeping only the EXACTLY-full bins
    // (the stream's open partial bin stays in state, unemitted)
    val withIds = docs
      .withColumn("ids", Bpe.tokenIds(vocab)(TextOps.tokens(col("text"))))
    val batch = Packing.assembleBins(
        Packing.chunkSpans(
          Packing.packByOffset(withIds, "lang", "doc_id",
            size(col("ids")).cast("long"), budget), budget),
        "lang", "doc_id", "ids")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Int](6).toList))
      .filter(_._4 == budget.toLong)
      .toSeq.sortBy(b => (b._1, b._2))
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming bins (${streamed.length}) diverged from the batch " +
        s"pipeline's full bins (${batch.length})")
    // bins crossed micro-batch boundaries: some bin's first and last
    // pieces arrived in different files
    val cut = n / 3
    assert(streamed.exists(b => b._5 < cut && b._6 >= cut),
      "fixture should assemble at least one bin across micro-batches")
  }

  test("ordered streaming packing recovers its buffer and timers across " +
      "a restart") {
    import SparkSpec.spark.implicits._
    import graft.pipeline.{Packing, TextOps}
    val base = Files.createTempDirectory("graft_pack_ordrestart").toString
    val in = s"$base/in"; val out = s"$base/lake"; val ck = s"$base/ck"
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
      .select("doc_id", "lang", "text")
      .withColumn("ts", expr("timestampadd(SECOND, " +
        "CAST(doc_id AS INT), timestamp'2026-01-01 00:00:00')"))
    val n = docs.count()
    val schema = docs.schema
    def runOnce(): Unit = withRocksDbStateStore {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = ExactlyOnceSink.start(
        StreamMask.packStreamOrdered(stream, "lang", "doc_id",
          TextOps.tokenCount(col("text")), 256, "ts", "60 seconds"),
        out, ck)
      q.awaitTermination(120000)
    }
    // run 1 ends with most of the corpus BUFFERED (inside the 60 s
    // watermark window) and timers armed; the crash happens here
    docs.filter(col("doc_id") < n / 2).write.parquet(s"$in/f0")
    runOnce()
    val landedMid = spark.read.parquet(out).count()
    assert(landedMid < n / 2,
      "some docs must still be buffered at the crash point")
    // run 2: rest of the corpus + a far-future flush sentinel; buffered
    // docs from run 1 must release from the RECOVERED ListState in
    // (ts, id) order, giving the batch assignment end to end
    docs.filter(col("doc_id") >= n / 2)
      .unionAll(docs.limit(1).select(lit(900000L).as("doc_id"),
        col("lang"), col("text"))
        .withColumn("ts", expr("timestamp'2026-02-01 00:00:00'")))
      .write.parquet(s"$in/f1")
    Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
      .withColumn("ts", expr("timestamp'2026-03-01 00:00:00'"))
      .unionAll(docs.limit(1).select(lit(900001L).as("doc_id"),
        col("lang"), col("text"))
        .withColumn("ts", expr("timestamp'2026-03-01 00:00:00'")))
      .write.parquet(s"$in/f2")
    runOnce()
    val streamed = spark.read.parquet(out)
      .select("shard", "id", "tokens", "offset", "bin")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .filter(_._2 < 900000L).toSeq.sorted
    val batch = Packing.packByOffset(docs, "lang", "doc_id",
        TextOps.tokenCount(col("text")), 256)
      .select("lang", "doc_id", "tokens", "offset", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    assert(streamed == batch,
      "restart lost or reordered the ordered packer's buffered state")
  }

  test("streaming bin assembly restarts from its checkpoint and lands " +
      "every bin exactly once") {
    import graft.pipeline.{Packing, TextOps}
    import graft.functions.{Bpe, BpeVocab}
    val base = Files.createTempDirectory("graft_bins_restart").toString
    val in = s"$base/in"; val out = s"$base/lake"; val ck = s"$base/ck"
    val budget = 64
    val vocab = BpeVocab(Bpe.demoEnglish, BpeVocab.asciiPrintable)
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
      .select("doc_id", "lang", "text")
    val n = docs.count()
    val schema = docs.schema
    def runOnce(): Unit = withRocksDbStateStore {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = ExactlyOnceSink.start(
        StreamMask.packBinsStream(stream, "lang", "doc_id",
          Bpe.tokenIds(vocab)(TextOps.tokens(col("text"))), budget),
        out, ck)
      q.awaitTermination(120000)
    }
    // first half of the corpus, then STOP (simulating a crash between
    // micro-batches); the open-bin state must come back from RocksDB
    docs.filter(col("doc_id") < n / 2).write.parquet(s"$in/f0")
    runOnce()
    // second half lands after the restart
    docs.filter(col("doc_id") >= n / 2).write.parquet(s"$in/f1")
    runOnce()
    val landed = spark.read.parquet(out)
      .select("shard", "bin", "n_pieces", "bin_tokens", "first_piece",
        "last_piece", "token_ids")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Int](6).toList))
      .toSeq.sortBy(b => (b._1, b._2))
    val withIds = docs
      .withColumn("ids", Bpe.tokenIds(vocab)(TextOps.tokens(col("text"))))
    val batch = Packing.assembleBins(
        Packing.chunkSpans(
          Packing.packByOffset(withIds, "lang", "doc_id",
            size(col("ids")).cast("long"), budget), budget),
        "lang", "doc_id", "ids")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Int](6).toList))
      .filter(_._4 == budget.toLong)
      .toSeq.sortBy(b => (b._1, b._2))
    // every full bin exactly once — no duplicates from the restart, no
    // gap where the open bin crossed the crash point
    assert(landed == batch,
      s"restart broke exactly-once bin landing: ${landed.length} landed " +
        s"vs ${batch.length} expected")
    assert(landed.exists(b => b._5 < n / 2 && b._6 >= n / 2),
      "fixture should assemble at least one bin ACROSS the restart")
  }

  test("event-time ordered bin assembly emits the batch bin sequence " +
      "under shuffled arrival") {
    import SparkSpec.spark.implicits._
    import graft.pipeline.{Packing, TextOps}
    import graft.functions.{Bpe, BpeVocab}
    val base = Files.createTempDirectory("graft_bins_ordered").toString
    val in = s"$base/in"
    val budget = 64
    val vocab = BpeVocab(Bpe.demoEnglish, BpeVocab.asciiPrintable)
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
      .select("doc_id", "lang", "text")
      .withColumn("ts", expr("timestampadd(SECOND, " +
        "CAST(doc_id AS INT), timestamp'2026-01-01 00:00:00')"))
    // the same bounded-disorder arrival as the ordered-packing spec:
    // file k holds its 100-id block minus a held-back slice that
    // arrives one file late, inside the 60 s watermark
    val n = docs.count().toInt
    val blocks = (n + 99) / 100
    def hold(k: Int) = (k * 100 + 80, k * 100 + 90)
    (0 until blocks).foreach { k =>
      val (hLo, hHi) = hold(k)
      var f = docs.filter(col("doc_id") >= k * 100 &&
        col("doc_id") < (k + 1) * 100 &&
        !(col("doc_id") >= hLo && col("doc_id") < hHi))
      if (k > 0) {
        val (pLo, pHi) = hold(k - 1)
        f = f.unionAll(
          docs.filter(col("doc_id") >= pLo && col("doc_id") < pHi))
      }
      f.write.parquet(s"$in/f$k")
    }
    val (lLo, lHi) = hold(blocks - 1)
    docs.filter(col("doc_id") >= lLo && col("doc_id") < lHi)
      .unionAll(docs.limit(1).select(lit(900000L).as("doc_id"),
        col("lang"), col("text"))
        .withColumn("ts", expr("timestamp'2026-02-01 00:00:00'")))
      .write.parquet(s"$in/f$blocks")
    docs.limit(1).select(lit(900001L).as("doc_id"), col("lang"),
        col("text"))
      .withColumn("ts", expr("timestamp'2026-03-01 00:00:00'"))
      .write.parquet(s"$in/f${blocks + 1}")
    val schema = spark.read.parquet(s"$in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val streamed = withRocksDbStateStore(runToMemory(
      StreamMask.packBinsStreamOrdered(stream, "lang", "doc_id",
        Bpe.tokenIds(vocab)(TextOps.tokens(col("text"))), budget,
        "ts", "60 seconds"),
      "bins_ordered", "append").collect())
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Int](6).toList))
      // sentinels never flush; any bin they'd start stays open in state
      .filter(b => b._5 < 900000L && b._6 < 900000L)
      .toSeq.sortBy(b => (b._1, b._2))
    val withIds = docs
      .withColumn("ids", Bpe.tokenIds(vocab)(TextOps.tokens(col("text"))))
    val batch = Packing.assembleBins(
        Packing.chunkSpans(
          Packing.packByOffset(withIds, "lang", "doc_id",
            size(col("ids")).cast("long"), budget), budget),
        "lang", "doc_id", "ids")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Int](6).toList))
      .filter(_._4 == budget.toLong)
      .toSeq.sortBy(b => (b._1, b._2))
    assert(streamed.nonEmpty && streamed == batch,
      s"ordered bin assembly diverged under shuffled arrival " +
        s"(${streamed.length} streamed vs ${batch.length} batch)")
  }

  test("streaming heavy hitters honor the Misra-Gries bounds over the " +
      "full ingest") {
    import graft.pipeline.TextOps
    val dir = Files.createTempDirectory("graft_hh").toString
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
    // 4 files + maxFilesPerTrigger=1 => 4 micro-batches, so the sketch
    // state actually merges across batches
    docs.repartition(4).write.mode("overwrite").parquet(s"$dir/docs")
    val schema = spark.read.parquet(s"$dir/docs").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/docs")
    val k = 10 // below the fixture vocabulary: the sketch truly sketches
    val got = runToMemory(
      StreamMask.heavyHitterStream(stream, "text", k),
      "hh_stream", "complete")
      .select(explode(col("heavy_hitters")).as("h"))
      .select(col("h._1").as("token"), col("h._2").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val toks = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val n = toks.count()
    val exact = toks.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val err = n.toDouble / (k + 1)
    assert(got.nonEmpty && got.length <= k)
    got.foreach { case (t, est) =>
      assert(est <= exact(t), s"'$t' overestimated")
      assert(exact(t) - est <= err, s"'$t' undercounts past the bound")
    }
    val mustHave = exact.collect { case (t, c) if c > err => t }.toSet
    assert(mustHave.subsetOf(got.map(_._1).toSet),
      "guaranteed heavy hitters missing from the streaming sketch")
  }

  test("fingerprintServeStream: batch-equal matches against the landed " +
      "index, exactly-once, multi-batch") {
    val s = spark
    import s.implicits._
    import graft.pipeline.{Dedup, Multimodal}
    val base = Files.createTempDirectory("graft_fp_serve").toString
    // opaque binary payloads (the deterministic histogram fallback —
    // the REAL javax.sound decode path is pinned in PipelineSpec and
    // the q_audio_fingerprint* gates; this spec pins the streaming
    // mechanics): probes 11/12 are byte-identical to landed items,
    // probe 13 shares no fingerprint neighborhood
    def pay(tag: String): Array[Byte] =
      (tag * 40).getBytes("UTF-8")
    val indexed = Seq((1L, pay("alpha")), (2L, pay("beta")),
      (3L, pay("gamma")), (4L, pay("delta"))).toDF("clip_id", "payload")
    val idxPath = s"$base/idx"
    Multimodal.audioFingerprint(indexed, "payload")
      .select(col("clip_id"), col("afp")).write.parquet(idxPath)
    val probes = Seq((11L, pay("alpha")), (12L, pay("delta")),
      (13L, pay("omega~zz"))).toDF("clip_id", "payload")
    val in = s"$base/in"
    probes.filter($"clip_id" <= 11).coalesce(1).write.parquet(s"$in/f0")
    probes.filter($"clip_id" > 11).coalesce(1).write.parquet(s"$in/f1")
    val schema = s.read.parquet(s"$in/f0").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val out = s"$base/out"
    val q = StreamMask.fingerprintServeStream(stream, "clip_id",
      "payload", idxPath, out, s"$base/ckpt")
    q.awaitTermination(120000)
    val landed = s.read.parquet(out)
    assert(landed.select(ExactlyOnceSink.BatchIdCol).distinct().count()
      > 1, "expected more than one served micro-batch")
    def key(df: DataFrame) = df
      .select("id_index", "id_probe", "hamming")
      .collect().map(_.toString).sorted.toSeq
    val batchRef = Dedup.hammingPairsAgainstIndex(
      s.read.parquet(idxPath),
      Multimodal.audioFingerprint(probes, "payload")
        .select(col("clip_id"), col("afp")),
      "clip_id", "afp", k = 4, blocks = 6)
    assert(key(landed) == key(batchRef),
      "streamed fingerprint matches diverged from the batch operator")
    // the identical-payload probes matched their landed twins at 0
    val zeros = landed.filter(col("hamming") === 0)
      .select("id_index", "id_probe").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zeros.contains((1L, 11L)) && zeros.contains((4L, 12L)),
      s"identical-payload probes missing from $zeros")
  }

  test("fingerprintServeStream: video modality dispatches to the stsz " +
      "bitrate-envelope fingerprint, batch-equal") {
    val s = spark
    import s.implicits._
    import graft.pipeline.{Dedup, Multimodal}
    val base = Files.createTempDirectory("graft_fp_serve_vid").toString
    // opaque payloads take videoFingerprint's deterministic histogram
    // fallback (the REAL stsz walk is pinned in PipelineSpec and the
    // q_video_fingerprint* gates; this pins the streaming dispatch):
    // probe 11 is byte-identical to landed item 1
    def pay(tag: String): Array[Byte] = (tag * 40).getBytes("UTF-8")
    val indexed = Seq((1L, pay("alpha")), (2L, pay("beta")))
      .toDF("clip_id", "payload")
    val idxPath = s"$base/idx"
    Multimodal.videoFingerprint(indexed, "payload")
      .select(col("clip_id"), col("vfp")).write.parquet(idxPath)
    val probes = Seq((11L, pay("alpha")), (12L, pay("omega~zz")))
      .toDF("clip_id", "payload")
    val in = s"$base/in"
    probes.coalesce(1).write.parquet(in)
    val stream = s.readStream.schema(probes.schema).parquet(in)
    val out = s"$base/out"
    val q = StreamMask.fingerprintServeStream(stream, "clip_id",
      "payload", idxPath, out, s"$base/ckpt", hashCol = "vfp",
      modality = "video")
    q.awaitTermination(120000)
    def key(df: DataFrame) = df
      .select("id_index", "id_probe", "hamming")
      .collect().map(_.toString).sorted.toSeq
    val batchRef = Dedup.hammingPairsAgainstIndex(
      s.read.parquet(idxPath),
      Multimodal.videoFingerprint(probes, "payload")
        .select(col("clip_id"), col("vfp")),
      "clip_id", "vfp", k = 4, blocks = 6)
    assert(key(s.read.parquet(out)) == key(batchRef),
      "streamed video matches diverged from the batch operator")
    // an unknown modality must fail loudly at construction
    val thrown = intercept[IllegalArgumentException] {
      StreamMask.fingerprintServeStream(stream, "clip_id", "payload",
        idxPath, s"$base/out2", s"$base/ckpt2", modality = "holograms")
    }
    assert(thrown.getMessage.contains("holograms"))
    // the mixed (interleaved-lake) form: per-row sniff-dispatch via
    // mediaFingerprint, batch-equal against the mixed batch operator
    val idxMixed = s"$base/idx_mixed"
    Multimodal.mediaFingerprint(indexed, "payload")
      .select(col("clip_id"), col("mfp")).write.parquet(idxMixed)
    val outMixed = s"$base/out_mixed"
    val qm = StreamMask.fingerprintServeStream(stream, "clip_id",
      "payload", idxMixed, outMixed, s"$base/ckpt_mixed",
      hashCol = "mfp", modality = "mixed")
    qm.awaitTermination(120000)
    val mixedRef = Dedup.hammingPairsAgainstIndex(
      s.read.parquet(idxMixed),
      Multimodal.mediaFingerprint(probes, "payload")
        .select(col("clip_id"), col("mfp")),
      "clip_id", "mfp", k = 4, blocks = 6)
    assert(key(s.read.parquet(outMixed)) == key(mixedRef),
      "streamed mixed-modality matches diverged from the batch operator")
  }

  test("keyed sink replaces re-sent keys and is idempotent under replay") {
    import SparkSpec.spark.implicits._
    val base = Files.createTempDirectory("graft_keyed").toString
    val out = s"$base/out"
    val write = ExactlyOnceSink.writeKeyedBatch(out, "k", 4) _

    // crashed-first-write state: the target exists but holds only
    // committer debris (no parquet footers). The replay of batch 0 must
    // take the fresh-table path, not die reading an uninferable table
    val temp = new java.io.File(s"$out/_temporary/0")
    temp.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/_temporary/0/part-junk"),
      Array[Byte](1, 2, 3))

    // batch 1: keys spread across buckets so later merges have both
    // touched and untouched buckets to get right
    val batch1 = (1L to 20L).map(k => (k, s"v$k")).toDF("k", "payload")
    write(batch1, 0L)
    assert(spark.read.parquet(out).count() == 20)

    // batch 2: re-sends key 7 with a CHANGED payload plus a new key —
    // the merge path (the part that crashed on getLong) must replace
    // 7's row, append 21, and leave every untouched key byte-identical
    val batch2 = Seq((7L, "v7_updated"), (21L, "v21")).toDF("k", "payload")
    write(batch2, 1L)
    val afterMerge = spark.read.parquet(out).select("k", "payload")
      .as[(Long, String)].collect().toMap
    assert(afterMerge.size == 21, "one row per key expected")
    assert(afterMerge(7L) == "v7_updated", "re-sent key kept the old payload")
    assert(afterMerge(21L) == "v21")
    ((1L to 20L).toSet - 7L).foreach(k =>
      assert(afterMerge(k) == s"v$k", s"untouched key $k was modified"))

    // crash-replay: re-running batch 2 (same rows) must change nothing
    write(batch2, 1L)
    val afterReplay = spark.read.parquet(out).select("k", "payload")
      .as[(Long, String)].collect().toMap
    assert(afterReplay == afterMerge, "replaying batch 2 changed the table")
  }

  test("startKeyed lands exactly one row per key across restarts") {
    import SparkSpec.spark.implicits._
    val base = Files.createTempDirectory("graft_keyed_stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    Seq((1L, "a"), (2L, "b")).toDF("k", "payload")
      .write.parquet(s"$in/f0")
    val schema = spark.read.parquet(s"$in/f0").schema
    def stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(in)
    val q1 = ExactlyOnceSink.startKeyed(stream, out, ckpt, "k", nBuckets = 4)
    q1.awaitTermination(120000)
    // restart after a new file UPDATES key 1: the resumed stream's batch
    // must merge, not append
    Seq((1L, "a2"), (3L, "c")).toDF("k", "payload")
      .write.parquet(s"$in/f1")
    val q2 = ExactlyOnceSink.startKeyed(stream, out, ckpt, "k", nBuckets = 4)
    q2.awaitTermination(120000)
    val rows = spark.read.parquet(out).select("k", "payload")
      .as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("foreachBatch sink is exactly-once under batch replay and restart") {
    val base = Files.createTempDirectory("graft_eos").toString
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val q1 = ExactlyOnceSink.start(
      streamingEvents.select("event_id", "user_id", "value"), out, ckpt)
    q1.awaitTermination(120000)
    val expected = batchEvents.count()
    assert(spark.read.parquet(out).count() == expected)

    // crash-replay simulation: the driver re-runs an already-written batch
    // (same batchId, same data) — the write must replace, not append
    val replayed = spark.read.parquet(out)
      .withColumn("value", col("value")) // same rows, fresh plan
      .drop(ExactlyOnceSink.BatchIdCol)
    ExactlyOnceSink.writeBatch(out)(replayed, 0L)
    assert(spark.read.parquet(out).count() == expected,
      "replaying batch 0 duplicated rows")

    // restart from the same checkpoint with no new input: ledger says all
    // batches committed, so nothing is rewritten and nothing duplicates
    val q2 = ExactlyOnceSink.start(
      streamingEvents.select("event_id", "user_id", "value"), out, ckpt)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == expected)
    assert(spark.read.parquet(out).select("event_id").distinct().count()
      == expected)
  }

  test("compaction folds committed batches, stays replay-safe, and " +
      "recovers a crashed fold") {
    val s = SparkSpec.spark; import s.implicits._
    val out = Files.createTempDirectory("graft_compact").toString + "/lake"
    def batch(ids: Range): DataFrame =
      ids.map(i => (i.toLong, s"payload_$i")).toDF("id", "payload")
    (0 to 4).foreach(b =>
      ExactlyOnceSink.writeBatch(out)(batch(b * 10 until b * 10 + 5), b))
    def rows = spark.read.parquet(out).select("id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def batchDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__batch_id="))
      .map(_.getName).toSet
    val before = rows
    assert(batchDirs.size == 5)

    // fold everything but the newest (replayable) batch
    assert(ExactlyOnceSink.compact(spark, out) == 4)
    assert(batchDirs == Set("__batch_id=0", "__batch_id=4"),
      "batches 0-3 fold into partition 0; newest stays untouched")
    assert(rows == before, "compaction must not change the row set")
    // idempotent: nothing left to fold
    assert(ExactlyOnceSink.compact(spark, out) == 0)

    // the newest batch is still replayable: same id, same data, no dupes
    ExactlyOnceSink.writeBatch(out)(batch(40 until 45), 4)
    assert(rows == before, "replay after compaction duplicated rows")

    // crash simulation: a previous run wrote its merged staging and the
    // pending marker (the commit point) but died before publishing.
    // Here: batches {0, 4} exist; pretend a fold of both into 0 crashed.
    ExactlyOnceSink.writeBatch(out)(batch(50 until 55), 5)
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(out)
      .filter(col(ExactlyOnceSink.BatchIdCol).isin(0, 4))
      .drop(ExactlyOnceSink.BatchIdCol).coalesce(1)
      .write.parquet(s"$out/.__graft_compact_0")
    val marker = fs.create(
      new org.apache.hadoop.fs.Path(root, ".__graft_compact_pending"), true)
    marker.write("0\n4".getBytes("UTF-8")); marker.close()
    val after = rows
    // recovery completes the pending fold (0+4 -> 0), then finds only
    // {0, 5} left: one foldable batch below the newest -> nothing new
    assert(ExactlyOnceSink.compact(spark, out) == 0)
    assert(batchDirs == Set("__batch_id=0", "__batch_id=5"))
    assert(rows == after, "crash recovery lost or duplicated rows")

    // crash BEFORE the commit point: staging written, no marker. The
    // rows still live in the source partitions, so the orphan must be
    // deleted on the next entry — not published, and not left to
    // accumulate forever
    ExactlyOnceSink.writeBatch(out)(batch(60 until 65), 6)
    spark.read.parquet(out)
      .filter(col(ExactlyOnceSink.BatchIdCol) === 0)
      .drop(ExactlyOnceSink.BatchIdCol).coalesce(1)
      .write.parquet(s"$out/.__graft_compact_0")
    val preOrphan = rows
    // {0, 5, 6}: folds 0+5 into 0, keeps 6; the orphan must be gone
    assert(ExactlyOnceSink.compact(spark, out) == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
      ".__graft_compact_0")), "orphan staging directory not cleaned")
    assert(batchDirs == Set("__batch_id=0", "__batch_id=6"))
    assert(rows == preOrphan, "orphan cleanup changed the row set")
  }

  test("compaction with preserveBatchId carries per-row provenance " +
      "across repeated folds") {
    val s = SparkSpec.spark; import s.implicits._
    val out = Files.createTempDirectory("graft_compact_prov").toString +
      "/lake"
    def batch(b: Int): DataFrame =
      (b * 10 until b * 10 + 5).map(i => (i.toLong, s"payload_$i"))
        .toDF("id", "payload")
    (0 to 3).foreach(b => ExactlyOnceSink.writeBatch(out)(batch(b), b))
    // every row's true origin: id 10b..10b+4 came from batch b
    def provenance(): Map[Long, Long] = spark.read
      .option("mergeSchema", "true").parquet(out)
      .select(col("id"), col(ExactlyOnceSink.SourceBatchIdCol))
      .collect().filter(!_.isNullAt(1))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // first preserving fold: batches 0-2 into partition 0
    assert(ExactlyOnceSink.compact(spark, out, preserveBatchId = true) == 3)
    val p1 = provenance()
    val foldedIds1 = (0 to 2).flatMap(b => b * 10 until b * 10 + 5)
    assert(foldedIds1.forall(i => p1(i.toLong) == i / 10),
      s"first fold lost provenance: $p1")

    // second fold over a mix of already-preserved rows (partition 0)
    // and a fresh batch directory (3): earlier provenance must survive
    // the coalesce, batch 3's rows must pick up id 3
    ExactlyOnceSink.writeBatch(out)(batch(4), 4)
    assert(ExactlyOnceSink.compact(spark, out, preserveBatchId = true) == 2)
    val p2 = provenance()
    val foldedIds2 = (0 to 3).flatMap(b => b * 10 until b * 10 + 5)
    assert(foldedIds2.forall(i => p2(i.toLong) == i / 10),
      s"second fold lost provenance: $p2")
    // the newest (replayable) batch is untouched, so it has no
    // provenance column content yet
    assert(!p2.contains(40L))
    // row set integrity across both folds
    val ids = spark.read.option("mergeSchema", "true").parquet(out)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == (0 to 4).flatMap(b => b * 10L until b * 10L + 5).sorted)

    // a later fold WITHOUT preserveBatchId must not erase the existing
    // provenance values (the folded read merges schemas regardless of
    // the flag; only NEW provenance stops being added)
    ExactlyOnceSink.writeBatch(out)(batch(5), 5)
    assert(ExactlyOnceSink.compact(spark, out) == 2)
    val p3 = provenance()
    assert(foldedIds2.forall(i => p3(i.toLong) == i / 10),
      s"non-preserving fold erased earlier provenance: $p3")
    // batch 4's rows were folded without preservation: provenance null
    assert(!p3.contains(40L))
  }

  test("vocabCountsStream: folded landed per-batch token counts equal " +
      "the batch table; incremental divergence equals the direct one") {
    import graft.pipeline.TextOps
    val base = Files.createTempDirectory("graft_vocab_stream").toString
    val docs = spark.read.parquet(s"$fixtures/documents.parquet")
      .select("doc_id", "text", "lang")
    val live = docs.filter(col("lang") === "en")
    // two files -> two micro-batches
    live.filter(col("doc_id") % 2 === 0).write.parquet(s"$base/in/f0")
    live.filter(col("doc_id") % 2 =!= 0).write.parquet(s"$base/in/f1")
    val stream = spark.readStream.schema(live.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(s"$base/in")
    val q = StreamMask.vocabCountsStream(stream, "text",
      s"$base/out", s"$base/ckpt")
    q.awaitTermination(120000)
    val landed = spark.read.parquet(s"$base/out")
    assert(landed.select(ExactlyOnceSink.BatchIdCol).distinct().count()
      > 1, "expected more than one landed micro-batch")
    def key(df: DataFrame) = df.collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt")).toMap
    val folded = TextOps.foldTokenCounts(landed)
    assert(key(folded) == key(TextOps.tokenTypeCounts(live, "text")),
      "folded streaming counts diverged from the batch table")
    // the live fold against a frozen reference == the direct operator
    val ref = docs.filter(col("lang") === "fr")
    def dkey(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    val incr = dkey(TextOps.vocabDivergenceFromCounts(folded,
      TextOps.tokenTypeCounts(ref, "text")))
    val direct = dkey(TextOps.vocabDivergence(live, ref, "text"))
    assert(incr.nonEmpty && incr == direct,
      "incremental divergence diverged from the direct operator")
  }

  test("format-preserving and date-shift masking are stateless columns: " +
      "streamed output equals the batch operator row for row") {
    import graft.functions.Gen
    val base = Files.createTempDirectory("graft_mask_stream").toString
    val cust = spark.read.parquet(s"$fixtures/customer.parquet")
      .select("c_custkey", "c_name")
    cust.write.parquet(s"$base/in")
    val stream = spark.readStream.schema(cust.schema)
      .parquet(s"$base/in")
    def masked(df: DataFrame) = df.select(col("c_custkey"),
      Gen.portableFormatPreserving(col("c_name"), "sec").as("m"),
      Gen.portableDateShift(
        to_timestamp(lit("2020-06-01 00:00:00")), col("c_custkey"),
        "sec", maxDays = 30).as("d"))
    val q = masked(stream)
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def key(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getTimestamp(2))))
      .toMap
    val streamed = key(spark.read.parquet(s"$base/out"))
    assert(streamed.nonEmpty && streamed == key(masked(cust)),
      "streamed masking diverged from the batch operator")
  }
}
