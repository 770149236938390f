package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

import Shared._

/** Lexical and hybrid retrieval: BM25 statistics, top-k,
  * persisted indexes and reciprocal-rank fusion.
  */
private[graft] object RetrievalGates {

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
       |${bm25CtesFor("SELECT DISTINCT term FROM qt")},
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

  /** Shared `q_bm25_stats` / `q_bm25_topk` CTE chain: the non-empty
    * token stream, the one-row corpus stats, per-(doc, query-term)
    * term frequencies and per-term document frequencies — one
    * definition so the stats row and the ranking row cannot drift.
    */
  private lazy val bm25Ctes: String =
    bm25CtesFor(inList(graft.pipeline.Bm25.queryTerms(bm25Query)))

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
    s"""WITH ${bm25CtesFor(inList(allTerms))},
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

  /** [[bm25Ctes]] over the query terms `termSet` (an SQL IN list or
    * subquery).
    */
  private def bm25CtesFor(termSet: String): String = {
    s"""toks AS (SELECT doc_id,
       |    unnest(list_filter($toksSql, x -> length(x) > 0)) AS term
       |  FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(list_filter($toksSql, x -> length(x) > 0)))
       |      AS BIGINT) AS sum_dl FROM documents),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks WHERE term IN ($termSet)
       |  GROUP BY doc_id, term),
       |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
       |  GROUP BY term)""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("q_bm25_stats", qBm25Stats, {
      s"""WITH $bm25Ctes
         |SELECT d.term, d.df, s.n_docs, s.sum_dl,
         |  CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS avgdl
         |FROM dfq d CROSS JOIN st s ORDER BY d.term""".stripMargin
    }),
    Gate("q_bm25_topk", qBm25Topk, bm25TopkOracleSql),
    // the persisted-index row serves the SAME query from the pruned
    // postings layout and must land the identical top-k — one oracle
    Gate("q_bm25_index", qBm25Index, bm25TopkOracleSql),
    Gate("q_bm25_append", qBm25Append, bm25TopkOracleSql),
    // compaction rewrites the same postings rows — every integer
    // unchanged, so the serving oracle is the direct-scan chain too
    Gate("q_bm25_compact", qBm25Compact, bm25TopkOracleSql),
    Gate("q_bm25_batch", qBm25Batch, bm25BatchOracleSql),
    // the persisted-index batch must land the identical multi-query
    // result (same integers, same fold) — one oracle
    Gate("q_bm25_index_batch", qBm25IndexBatch, bm25BatchOracleSql),
    Gate("q_hybrid_rrf", qHybridRrf, hybridOracleSql {
      // vector tier: exact brute-force cosine over the full store
      val ids = hybridQids.mkString(", ")
      s"""qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id IN ($ids)),
         |vx AS (SELECT q.qid, e.vec_id, unnest(e.embedding) AS v,
         |    unnest(generate_series(1, len(e.embedding))) AS i,
         |    q.qe AS qe
         |  FROM embeddings e CROSS JOIN qs q),
         |vd AS (SELECT qid, vec_id,
         |${cosFolds("v", "qe[i]", "nv", "nq")}
         |  FROM vx GROUP BY qid, vec_id),
         |vec AS (SELECT qid, vec_id AS doc_id,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC)
         |      AS INTEGER) AS rank
         |  FROM vd QUALIFY rank <= $hybridK)""".stripMargin
    }),
    Gate("q_hybrid_index", qHybridIndex, hybridOracleSql {
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
    }),
  )
}
