package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval (Robertson & Spärck Jones; the Okapi BM25
  * ranking function, Robertson et al. TREC-3 1994) — the exact-match
  * retrieval slot of a training-data pipeline: quality mining ("find
  * corpus documents matching this reference query"), retrieval-based
  * decontamination, and hard-negative mining next to the ANN serving
  * tiers. Spark-first shape: nothing model-like ever reaches the
  * driver — corpus statistics (N, Σdl), per-query-term document
  * frequencies and per-(doc, term) term frequencies are all computed
  * IN-PLAN from one tokenized scan and joined back broadcast-small, so
  * the same code serves a 100 TB corpus; the final cut is a
  * `TakeOrderedAndProject` top-k (per-partition heaps), never a global
  * sort.
  *
  * Scoring is the standard positive-idf form,
  * `score(d, q) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) ·
  * tf · (k1 + 1) / (tf + k1·(1 − b + b·dl/avgdl))`, every double
  * derived in-plan from exact integer counts (avgdl = Σdl/N, ONE
  * divide), and each document's term contributions folded in TERM
  * order (binary collation) — the same pinned-order discipline as the
  * NB/DSIR scorers, so the score is a pure function of the counts and
  * any engine replays it from the same integers. `q_bm25_stats`
  * value-gates the integers + avgdl; `q_bm25_topk` has DuckDB replay
  * the whole chain, with the k-boundary margin spec-audited (the
  * `q_nb_eval` float-robustness contract).
  */
object Bm25 {

  /** The query's distinct non-empty terms under the SAME normalization
    * the corpus tokenizer applies ([[TextOps.normalize]]: lowercase +
    * whitespace collapse — replicated driver-side for the literal
    * query string), in binary-collation order.
    */
  def queryTerms(query: String): Seq[String] =
    // Locale.ROOT pins the driver-side mirror to the engine's
    // locale-free lowering — a Turkish-default JVM would otherwise
    // send 'I' to dotless ı and silently match no corpus term
    query.trim.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ")
      .split(" ").filter(_.nonEmpty).distinct.sorted.toSeq

  /** Per-(doc, query-term) term frequencies plus each matching doc's
    * length — the tf half of the index, restricted to the query's
    * terms before the aggregate so the shuffle carries only candidate
    * rows. Output: (`id`, `term`, `tf`, `dl`).
    */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val toks = filter(TextOps.tokens(col(textCol)), t => length(t) > 0)
    val exploded = df.select(col(idCol).as("id"),
        size(toks).cast("bigint").as("dl"), explode(toks).as("term"))
      // a handful of query-term literals — never a model-sized isin
      .filter(col("term").isin(terms: _*))
    exploded.groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
  }

  /** Corpus-level statistics in ONE aggregate row: `n_docs` and
    * `sum_dl` (non-empty token mass) — avgdl derives as one divide.
    */
  def corpusStats(df: DataFrame, textCol: String): DataFrame = {
    val toks = filter(TextOps.tokens(col(textCol)), t => length(t) > 0)
    df.select(size(toks).cast("bigint").as("__dl"))
      .agg(count(lit(1)).as("n_docs"), sum("__dl").as("sum_dl"))
  }

  /** Top-`k` BM25 scoring of `query` against the corpus: candidates
    * are the documents containing ≥ 1 query term; each candidate's
    * score folds its term contributions in term order from 0.0 (THE
    * scoring definition — the parity/oracle fold). Output: `id`
    * (named `idCol`), `score`. Plan: one filtered explode + two thin
    * aggregates, the one-row stats frame and the |terms|-row df frame
    * broadcast in, then TakeOrderedAndProject.
    */
  def queryTopK(df: DataFrame, idCol: String, textCol: String,
      query: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = queryTerms(query)
    docScores(df, idCol, textCol, terms, k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Every candidate's score for one term set — the per-query scoring
    * block [[queryTopK]] cuts and [[queryTopKBatch]] replays per
    * query row. Output: (`idCol`, `score`).
    */
  private def docScores(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double, b: Double): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"k1 must be >= 0 and b in [0,1], got k1=$k1 b=$b")
    val tf = termFrequencies(df, idCol, textCol, terms)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = corpusStats(df, textCol)
    contribFold(tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats)), Seq("id"), k1, b)
      .select(col("id").as(idCol), col("score"))
  }

  /** The shared contribution + fold tail over a frame carrying
    * (`term`, `tf`, `dl`, `df`, `n_docs`, `sum_dl`) plus any grouping
    * columns: one BM25 contribution per row, folded per `groupCols`
    * in term order from 0.0 — THE scoring definition both the single
    * and the batch form execute.
    */
  private def contribFold(rows: DataFrame, groupCols: Seq[String],
      k1: Double, b: Double): DataFrame =
    rows
      .withColumn("__avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("__idf",
        log(lit(1.0) + (col("n_docs").cast("double") -
          col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("__c",
        col("__idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") / col("__avgdl"))))
      .groupBy(groupCols.map(col): _*)
      .agg(array_sort(collect_list(struct(col("term"), col("__c"))))
        .as("__terms"))
      .select(groupCols.map(col) :+
        aggregate(col("__terms"), lit(0.0),
          (a, x) => a + x.getField("__c")).as("score"): _*)

  /** A loaded persisted BM25 inverted index: the term-bucket-
    * partitioned postings as a LAZY frame (never collected) plus the
    * exact corpus integers serving needs. The scale contract: a query
    * reads ONLY its terms' bucket partitions — per-query I/O is
    * bounded by the probed buckets, independent of corpus size (the
    * `writeIvfIndex` cell-pruning contract for the lexical tier).
    */
  final case class Bm25Index(postings: DataFrame, nDocs: Long,
      sumDl: Long, buckets: Int, idCol: String)

  /** The term's bucket — [[Sampling.hashBucket48]] mod `buckets`, the
    * same engine-replayable hash every hashed feature space here uses.
    */
  def termBucket(term: Column, buckets: Int): Column =
    (Sampling.hashBucket48(term) % buckets).cast("int")

  /** Driver-side mirror of [[termBucket]] for routing a query's
    * literal terms to their partitions without touching the cluster.
    */
  def termBucketLocal(term: String, buckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.take(12)
    (java.lang.Long.parseLong(hex, 16) % buckets).toInt
  }

  /** The FULL postings table — one row per (doc, term) with the term
    * frequency, the doc's length and the term's bucket. One explode +
    * hash aggregation over the corpus; built once at index time so
    * serving never re-scans the corpus.
    */
  def buildPostings(df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val toks = filter(TextOps.tokens(col(textCol)), t => length(t) > 0)
    df.select(col(idCol).as("id"),
        size(toks).cast("bigint").as("dl"), explode(toks).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
      .withColumn("__tb", termBucket(col("term"), buckets))
  }

  /** [[buildPostings]] with the corpus statistics riding the SAME scan
    * as `observe` metrics (`n_docs`, `sum_dl` — the exact
    * [[corpusStats]] expressions, collected on the per-doc frame BEFORE
    * the explode so every document counts): the index writers used to
    * pay a second full tokenize scan just for the two stats integers —
    * at corpus scale that is a whole extra pass over the lake. The
    * Observation resolves once the postings action has run.
    */
  private def buildPostingsObserved(df: DataFrame, idCol: String,
      textCol: String, buckets: Int)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val toks = filter(TextOps.tokens(col(textCol)), t => length(t) > 0)
    val obs = org.apache.spark.sql.Observation()
    val perDoc = df.select(col(idCol).as("id"),
        size(toks).cast("bigint").as("dl"), toks.as("__toks"))
      .observe(obs, count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val posts = perDoc
      .select(col("id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
      .withColumn("__tb", termBucket(col("term"), buckets))
    (posts, obs)
  }

  /** The two stats integers out of a resolved Observation (an empty
    * corpus sums to null → 0, the value an empty index's avgdl divide
    * would see either way).
    */
  private def observedStats(
      obs: org.apache.spark.sql.Observation): (Long, Long) = {
    val m = obs.get
    (m("n_docs").asInstanceOf[Long],
      Option(m("sum_dl")).fold(0L)(_.asInstanceOf[Long]))
  }

  /** Persist the inverted index: postings PARTITIONED BY term bucket
    * (term-sorted within files so row-group stats prune within a
    * bucket too) + a one-row stats sidecar carrying the exact corpus
    * integers and the layout parameters. ONE corpus scan: the stats
    * integers ride the postings pass as observe metrics instead of a
    * second tokenize scan ([[buildPostingsObserved]]).
    */
  def writeBm25Index(df: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val (posts, obs) = buildPostingsObserved(df, idCol, textCol, buckets)
    posts
      .sortWithinPartitions(col("__tb"), col("term"), col("id"))
      .write.mode("overwrite").partitionBy("__tb")
      .parquet(s"$path/postings")
    val (nDocs, sumDl) = observedStats(obs)
    Seq((nDocs, sumDl, buckets, idCol))
      .toDF("n_docs", "sum_dl", "buckets", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Load an index written by [[writeBm25Index]] — one footer read for
    * the one-row stats sidecar; postings stay a lazy partitioned scan.
    */
  def loadBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String): Bm25Index = {
    val st = spark.read.parquet(s"$path/stats").collect()
    require(st.length == 1, s"corrupt stats sidecar under $path/stats")
    Bm25Index(spark.read.parquet(s"$path/postings"),
      st.head.getLong(0), st.head.getLong(1), st.head.getInt(2),
      st.head.getString(3))
  }

  /** INDEX MAINTENANCE — fold a batch of new documents into a
    * persisted layout without rebuilding it (the `appendToIvfIndex` /
    * `appendToNearDupIndex` contract for the lexical tier): the
    * batch's postings land as NEW files inside the existing bucket
    * partitions (old files never rewritten), and the stats sidecar is
    * replaced with the exact summed integers. Layout parameters
    * (buckets, id column) always come from the sidecar — a caller
    * cannot mix bucket geometries by accident. BM25's global
    * statistics (N, Σdl, and df — the latter derived from postings at
    * query time) absorb the append exactly, so post-append serving
    * equals a fresh rebuild over the union bit-for-bit (spec-pinned).
    *
    * `verifyDisjoint` (default on) anti-joins the batch's ids against
    * the landed postings' ids and REJECTS overlap — an id appended
    * twice would double-count its term frequencies and silently
    * corrupt every df. The check scans only the postings' id column
    * (column-pruned), far cheaper than the rebuild it prevents; jumbo
    * backfills that guarantee disjointness externally can opt out.
    * Postings land before the sidecar swap: a reader racing the
    * append sees consistent OLD stats with some new postings (scores
    * briefly stale) — never a torn sidecar.
    */
  def appendToBm25Index(df: DataFrame, textCol: String,
      path: String, verifyDisjoint: Boolean = true): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val idx = loadBm25Index(spark, path)
    if (verifyDisjoint) {
      // the batch's RAW ids, not the tokenized postings' ids: skips a
      // full tokenize pass over the batch. Note the check's limit: it
      // probes the INDEX side's postings ids, so a zero-token doc
      // appended in an EARLIER batch (no postings row) re-appended now
      // still passes and double-counts n_docs — disjointness of raw
      // ids across batches remains the caller's contract for docs
      // that tokenize to nothing
      val overlap = df.select(col(idx.idCol).as("id")).distinct()
        .join(idx.postings.select("id").distinct(), Seq("id"),
          "left_semi")
        .limit(1).count()
      require(overlap == 0L,
        "appendToBm25Index: batch contains ids already in the index — " +
          "appending them would double-count term frequencies and " +
          "corrupt every df; dedup the batch first (or pass " +
          "verifyDisjoint = false only when disjointness is guaranteed " +
          "externally)")
    }
    // one tokenize scan for postings AND stats (observe metrics); the
    // second corpus pass the old corpusStats collect paid is gone
    val (newPost, obs) =
      buildPostingsObserved(df, idx.idCol, textCol, idx.buckets)
    newPost.sortWithinPartitions(col("__tb"), col("term"), col("id"))
      .write.mode("append").partitionBy("__tb")
      .parquet(s"$path/postings")
    val (bDocs, bSumDl) = observedStats(obs)
    Seq((idx.nDocs + bDocs, idx.sumDl + bSumDl,
        idx.buckets, idx.idCol))
      .toDF("n_docs", "sum_dl", "buckets", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Fold an append-grown postings layout back into consolidated,
    * (term, id)-sorted per-bucket files — [[appendToBm25Index]]'s
    * maintenance-window companion ([[Similarity.compactIvfIndex]]'s
    * contract for the lexical tier). Appends land as NEW files inside
    * the bucket partitions, so a hot ingest path accumulates small
    * files and loses the within-file term sort that lets row-group
    * stats prune WITHIN a probed bucket; compaction rewrites each
    * bucket's rows as-is (stats sidecar untouched — the postings are
    * the same rows, so every integer is unchanged and serving is
    * bit-identical, spec-pinned). HASH-partitioned on `__tb` (plus a
    * `filesPerBucket`-way term-hash split when > 1) so every bucket's
    * rows land wholly inside one task per split — exactly
    * `filesPerBucket` files per bucket, never a range boundary
    * straddling two buckets; `filesPerBucket` sizes the output (raise
    * it when single buckets exceed a few GB). MUST NOT run
    * concurrently with
    * readers or appends; crash-safe at any interruption point via
    * [[IndexMaintenance]] (stage → mark → swap; an interrupted swap
    * heals on the next call, before anything is read).
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, filesPerBucket: Int = 1): Unit = {
    require(filesPerBucket >= 1, "filesPerBucket must be >= 1")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(root, "postings")
    IndexMaintenance.recoverOrSweep(fs, live)
    val idx = loadBm25Index(spark, path)
    val parts = idx.buckets * filesPerBucket
    val grouped =
      if (filesPerBucket == 1) idx.postings.repartition(parts, col("__tb"))
      else idx.postings.repartition(parts, col("__tb"),
        pmod(hash(col("term")), lit(filesPerBucket)))
    grouped
      .sortWithinPartitions(col("__tb"), col("term"), col("id"))
      .write.partitionBy("__tb")
      .parquet(IndexMaintenance.stagingOf(live).toString)
    IndexMaintenance.swap(fs, live)
  }

  /** Top-`k` against a PERSISTED index: the query's terms route to
    * their buckets driver-side ([[termBucketLocal]]) and the postings
    * scan carries `__tb IN (...)` as a PARTITION filter — only the
    * probed buckets' files are read (plan-asserted in the spec), then
    * the term filter, the df aggregate and the same pinned scoring
    * tail as [[queryTopK]] run over candidate-bounded rows. Result is
    * bit-identical to the direct corpus scan (same integers, same
    * fold — spec-pinned).
    */
  def queryIndexTopK(idx: Bm25Index, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = queryTerms(query)
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val tbs = terms.map(termBucketLocal(_, idx.buckets)).distinct
    val pruned = idx.postings
      .filter(col("__tb").isin(tbs: _*))
      .filter(col("term").isin(terms: _*))
    val dfreq = pruned.groupBy("term").agg(count(lit(1)).as("df"))
    contribFold(pruned
      .join(broadcast(dfreq), "term")
      .withColumn("n_docs", lit(idx.nDocs))
      .withColumn("sum_dl", lit(idx.sumDl)), Seq("id"), k1, b)
      .select(col("id").as(idx.idCol), col("score"))
      .orderBy(col("score").desc, col(idx.idCol))
      .limit(k)
  }

  /** A query batch's (`qid`, `term`) pairs and the sorted union of its
    * terms. Queries are a batch-sized frame, so the collect is bounded
    * by the batch — the published serving contract of the ANN batch
    * forms. Normalization = queryTerms', via the shared column
    * tokenizer on the query text.
    */
  private def batchQueryTerms(queries: DataFrame, qidCol: String,
      queryCol: String): (DataFrame, Seq[String]) = {
    val qt = queries.select(col(qidCol).as("qid"),
        explode(array_distinct(filter(TextOps.tokens(col(queryCol)),
          t => length(t) > 0))).as("term"))
    val allTerms = qt.select("term").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    require(allTerms.nonEmpty, "BM25 batch: no query has any term")
    (qt, allTerms)
  }

  /** BATCH retrieval against a PERSISTED index — [[queryTopKBatch]]'s
    * serving twin over [[writeBm25Index]]'s layout (`queryIvfBatch`
    * against `loadIvfIndex`, for the lexical tier): the UNION of all
    * queries' terms routes to its buckets driver-side, the postings
    * scan carries `__tb IN (...)` as a PARTITION filter (per-batch
    * I/O bounded by the probed buckets, independent of corpus size),
    * df aggregates from the pruned candidate rows, the per-(query,
    * term) pairs ride in broadcast, and candidates fold per
    * (query, doc) in term order — the same pinned chain as the
    * direct-scan batch, so results are bit-identical to it AND to the
    * [[queryIndexTopK]] loop (both spec-pinned). The term collect is
    * bounded by the query batch, the published serving contract of
    * every batch form here. Output: (`qidCol`, `idCol`, `score`,
    * `rank`).
    */
  def queryIndexTopKBatch(idx: Bm25Index, queries: DataFrame,
      qidCol: String, queryCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val (qt, allTerms) = batchQueryTerms(queries, qidCol, queryCol)
    val tbs = allTerms.map(termBucketLocal(_, idx.buckets)).distinct
    val pruned = idx.postings
      .filter(col("__tb").isin(tbs: _*))
      .filter(col("term").isin(allTerms: _*))
    val dfreq = pruned.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = contribFold(pruned
      .join(broadcast(qt), "term")
      .join(broadcast(dfreq), "term")
      .withColumn("n_docs", lit(idx.nDocs))
      .withColumn("sum_dl", lit(idx.sumDl)), Seq("qid", "id"), k1, b)
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(qidCol), col("id").as(idx.idCol),
        col("score"), col("rank").cast("int").as("rank"))
  }

  /** BATCH retrieval — the production serving shape ([[queryTopK]]'s
    * `queryIvfBatch` analog): a FRAME of queries (`qidCol`,
    * `queryCol` raw text) each scored against the corpus in ONE plan.
    * The corpus is tokenized and aggregated ONCE for the union of all
    * queries' terms; the per-(query, term) pairs ride in as a
    * broadcast; candidates fold per (query, doc) in term order; the
    * per-query cut is a `row_number` window over the |queries|·
    * |candidates| frame — partitioned BY QUERY, so the shuffle is
    * bounded by the batch's candidate rows, never the corpus. Spec
    * pins batch == the [[queryTopK]] loop query by query. Output:
    * (`qidCol`, `idCol`, `score`, `rank`).
    */
  def queryTopKBatch(df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, queryCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val (qt, allTerms) = batchQueryTerms(queries, qidCol, queryCol)
    val tf = termFrequencies(df, idCol, textCol, allTerms)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = corpusStats(df, textCol)
    val scored = contribFold(tf
      .join(broadcast(qt), "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats)), Seq("qid", "id"), k1, b)
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(qidCol), col("id").as(idCol),
        col("score"), col("rank").cast("int").as("rank"))
  }
}
