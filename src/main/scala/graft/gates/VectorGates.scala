package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Pq, Similarity, TextOps}

import Shared._

/** Vector search and embedding operators: brute-force, LSH, IVF,
  * PQ and int8 ANN, index maintenance, SemDeDup and PCA.
  */
private[graft] object VectorGates {

  /** Brute-force cosine top-10 against the vec_id=0 query vector — narrow
    * scan + TakeOrdered, the ANN correctness baseline.
    */
  private def qSimTopk(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    Similarity.cosineTopK(e, "vec_id", "embedding", queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** Sign-band LSH-filtered cosine top-10: only rows sharing ≥1 of 16
    * 4-coordinate sign bands with the query are scored.
    */
  private def qSimLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    Similarity.signBandTopK(e, "vec_id", "embedding", queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** IVF-style ANN top-10: deterministic coarse quantizer (16 lowest-id
    * vectors as centroids), nProbe=2 cells probed, exact cosine inside the
    * probed cells — see [[graft.pipeline.Similarity.ivfTopK]].
    */
  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    Similarity.ivfTopK(e, "vec_id", "embedding", queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** [[qSimIvf]] THROUGH THE MAINTENANCE PATH: the index lands in two
    * installments — [[graft.pipeline.Similarity.buildIvfIndex]] +
    * [[graft.pipeline.Similarity.writeIvfIndex]] on the even vec_ids,
    * then an [[graft.pipeline.Similarity.appendToIvfIndex]] of the odd
    * ingest — and the query probes the LOADED layout. The oracle
    * re-derives the centroids from the EVEN half only (the seeds the
    * initial build saw) but assigns and scores the FULL corpus,
    * putting the no-re-clustering append contract under the value
    * gate, not just the specs.
    */
  private def qSimIvfAppend(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val path = scratchDir("q-sim-ivf-append")
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding"), path)
    Similarity.appendToIvfIndex(s, path,
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    Similarity.queryIvf(Similarity.loadIvfIndex(s, path),
        queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** [[qSimIvf]] THROUGH THE RE-CLUSTERING MAINTENANCE PATH
    * ([[graft.pipeline.Similarity.reclusterIvfIndex]] — the remedy the
    * hot-cell guards prescribe): the index lands at the default 16
    * cells, is re-clustered IN PLACE to the production sizing
    * ⌈n/24⌉ cells ([[graft.pipeline.Dedup.semDeDupAutoCells]], the
    * `q_semdedup_auto` rule) behind the crash-safe whole-root swap,
    * and the query probes the re-published layout. The oracle
    * re-derives the NEW quantizer from scratch — the count, the
    * ceiling divide, the seed cut at that size, every row's
    * re-assignment and the probe — so a recluster that kept stale
    * cells, dropped a row, or mismatched the sidecar reds the row.
    * `kmeansIters` pinned 0 (the bit-reproducible oracle path; the API
    * default is > 0, since a re-cluster run exists to fix balance).
    */
  private def qIvfRecluster(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val path = scratchDir("q-ivf-recluster")
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(e, "vec_id", "embedding"), path)
    Similarity.reclusterIvfIndex(s, path,
      nCells = graft.pipeline.Dedup.semDeDupAutoCells(e, 24),
      kmeansIters = 0)
    Similarity.queryIvf(Similarity.loadIvfIndex(s, path),
        queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** [[qIvfRecluster]] re-clustered to the TWO-LEVEL form
    * (`twoLevel = true` — the linear-assignment target the operator
    * should re-size INTO at corpus-proportional cell counts, where
    * the flat rebuild's O(n·nCells) assignment is quadratic: the 10×
    * rehearsal measured the flat re-cluster at 4.7–17×). The index
    * lands flat at the default 16 cells, re-clusters in place to
    * ⌈n/24⌉ two-level cells behind the same crash-safe whole-root
    * swap (grouped sidecars staged and published with the corpus),
    * and the query probes the re-published layout. The oracle
    * re-derives the ENTIRE two-level quantizer from scratch — both
    * seed cuts, both assignment levels — and runs the shared nProbe=2
    * probe tail over it, so a recluster that kept flat sidecars,
    * dropped the grouping, or drifted one assignment reds the row.
    */
  private def qIvfRecluster2l(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val path = scratchDir("q-ivf-recluster-2l")
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(e, "vec_id", "embedding"), path)
    Similarity.reclusterIvfIndex(s, path,
      nCells = graft.pipeline.Dedup.semDeDupAutoCells(e, 24),
      kmeansIters = 0, twoLevel = true)
    Similarity.queryIvf(Similarity.loadIvfIndex(s, path),
        queryVec(s, dir), 10)
      .select("vec_id", "label", "cosine")
  }

  /** Product-quantized ADC top-10 ([[graft.pipeline.Pq]]): train at
    * `iters = 0` (codebooks = the 16 lowest-id corpus vectors' 8-dim
    * subvectors — bit-reproducible), encode every corpus vector to 8
    * one-byte codes, score against the vec_id=0 query via the m×k
    * lookup table. The candidate stage of PQ serving; [[qSimIvf]] is the
    * probe stage and [[qSimTopk]] the exact baseline.
    */
  private def qPq(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeds(s, dir).filter(col("vec_id") =!= 0)
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    val coded = corpus.withColumn("codes",
      Pq.encode(cb)(col("embedding")))
    Pq.pqTopK(coded, "vec_id", "codes", cb, queryVec(s, dir), 10)
      .select("vec_id", "label", "pq_score")
  }

  /** Composed IVF×PQ ANN ([[graft.pipeline.Similarity.queryIvfPq]]):
    * the full 100 TB serving pipeline in one oracle-checked query —
    * coarse-quantize the corpus into 16 cells (iters=0 seeds), PQ-encode
    * every vector to 8 one-byte codes (iters=0 codebooks), then answer
    * the vec_id=0 query by probing 2 cells, ranking their rows by the
    * ADC approximate dot, keeping the top-50 candidates, and
    * exact-cosine reranking ONLY those for the top-10. The rerank cut
    * is deliberately < the probed cells' row count so the oracle pins
    * the composed recall path, not just the [[qSimIvf]] equality case.
    */
  private def qIvfPq(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeds(s, dir).filter(col("vec_id") =!= 0)
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    val coded = idx.copy(assigned = idx.assigned.withColumn(
      Similarity.PqCodesCol, Pq.encode(cb)(col("embedding"))))
    Similarity.queryIvfPq(coded, cb, queryVec(s, dir), k = 10,
        nProbe = 2, rerank = 50)
      .select("vec_id", "label", "cosine")
  }

  /** [[qIvfPq]] THROUGH THE MAINTENANCE PATH — the third layout's
    * append row: the composed IVF×PQ layout lands as an even-half
    * [[graft.pipeline.Similarity.writeIvfPqIndex]] (centroids AND
    * codebooks trained on the even half), the odd ingest arrives via
    * [[graft.pipeline.Similarity.appendToIvfIndex]] (which detects the
    * coded layout and encodes the batch with the SIDECAR codebooks),
    * and the query runs the full probe→ADC→rerank pipeline on the
    * loaded index. The oracle freezes both the centroid and codebook
    * seeds at the even half, so the append's code assignment for every
    * odd row is value-checked too.
    */
  private def qIvfPqAppend(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val even = e.filter(col("vec_id") % 2 === 0)
    val path = scratchDir("q-ivf-pq-append")
    Similarity.writeIvfPqIndex(
      Similarity.buildIvfIndex(even, "vec_id", "embedding", 16),
      Pq.train(even, "vec_id", "embedding", m = 8, k = 16, iters = 0),
      path)
    Similarity.appendToIvfIndex(s, path,
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val (loaded, cb) = Similarity.loadIvfPqIndex(s, path)
    Similarity.queryIvfPq(loaded, cb, queryVec(s, dir), k = 10,
        nProbe = 2, rerank = 50)
      .select("vec_id", "label", "cosine")
  }

  /** Batch IVF ANN ([[graft.pipeline.Similarity.queryIvfBatch]]): three
    * query vectors answered through one built index in a single
    * distributed plan — probe assignment from broadcast centroids, cell
    * equi-join, per-query top-5 via a query-id window.
    */
  private def qSimIvfBatch(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    Similarity.queryIvfBatch(idx, queries, "query_id", "embedding",
        k = 5, nProbe = 2)
      .select("query_id", "vec_id", "label", "cosine")
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** ANN quality audit ([[graft.pipeline.Similarity.recallAtK]]): the
    * per-query recall of the nProbe=2 batch IVF cut against the exact
    * top-5 (the same index probed on EVERY cell — candidate set = whole
    * corpus). The oracle reuses the batch chain for the approximate
    * side and derives the exact side brute-force, so the recall values
    * themselves — not just the result sets — are pinned cross-engine.
    */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    val approx = Similarity.queryIvfBatch(idx, queries, "query_id",
      "embedding", k = 5, nProbe = 2)
    val exact = Similarity.queryIvfBatch(idx, queries, "query_id",
      "embedding", k = 5, nProbe = 16)
    Similarity.recallAtK(exact, approx, "query_id", "vec_id")
      .orderBy("query_id")
  }

  /** The GROUPING-COST audit for the two-level quantizer — the number
    * behind the documented trade (the reason the flat build stays the
    * exact-assignment default at hand-sized cell counts): the
    * auto-sized TWO-LEVEL index and a FLAT index at the SAME cell
    * count, probed with the SAME nProbe=2 budget, each scored against
    * one shared brute-force exact top-5 — the recall DELTA isolates
    * the group-restricted assignment's near-boundary loss from
    * probe-budget effects. The oracle re-derives both quantizers, both
    * probe chains and the brute-force side independently, so the
    * recall VALUES — not just the result sets — are pinned
    * cross-engine.
    */
  private def qAnnRecall2l(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndexTwoLevel(corpus, "vec_id",
      "embedding", graft.pipeline.Dedup.semDeDupAutoCells(corpus, 24))
    val flat = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      idx.centroids.length)
    // exact = the flat index probed on EVERY cell: all rows live in
    // some cell, so the whole corpus is scored under the same tie
    // rules — brute force without a second scoring path
    val exact = Similarity.queryIvfBatch(flat, queries, "query_id",
      "embedding", k = 5, nProbe = idx.centroids.length)
    val a2l = Similarity.queryIvfBatch(idx, queries, "query_id",
      "embedding", k = 5, nProbe = 2)
    val aflat = Similarity.queryIvfBatch(flat, queries, "query_id",
      "embedding", k = 5, nProbe = 2)
    Similarity.recallAtK(exact, a2l, "query_id", "vec_id")
      .select(col("query_id"), col("n_exact"),
        col("recall").as("recall_2l"))
      .join(Similarity.recallAtK(exact, aflat, "query_id", "vec_id")
        .select(col("query_id"), col("recall").as("recall_flat")),
        "query_id")
      .orderBy("query_id")
  }

  /** Batch serving through the composed IVF×PQ index
    * ([[graft.pipeline.Similarity.queryIvfPqBatch]]) — the r9 verdict's
    * top ask: the three vec_id<3 query vectors answered through one
    * coded index in a single distributed plan. Per-query probes (ties to
    * the lower cell) and the m×k ADC lookup table both come from
    * broadcast literals on the thin query frame; candidates are a cell
    * equi-join over (id, codes) only; a per-query window keeps the
    * top-30 ADC survivors (ties to the lower id — 30 < the ~60 rows of
    * two probed cells, so the composed recall path is pinned, not the
    * trivial rerank-everything case); only survivors' float vectors are
    * exact-cosine reranked for the top-5 (ties to the lower id, as
    * q_sim_ivf_batch).
    */
  private def qIvfPqBatch(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, k = 16,
      iters = 0)
    val coded = idx.copy(assigned = idx.assigned.withColumn(
      Similarity.PqCodesCol, Pq.encode(cb)(col("embedding"))))
    Similarity.queryIvfPqBatch(coded, cb, queries, "query_id", "embedding",
        k = 5, nProbe = 2, rerank = 30)
      .select("query_id", "vec_id", "label", "cosine")
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** IVF serving from int8 storage
    * ([[graft.pipeline.Similarity.queryIvfInt8]]): the corpus's float
    * vectors are replaced by per-row (scale, signed-byte codes) — 4×
    * less I/O per probed cell and no separate rerank fetch, the
    * mid-accuracy tier between raw IVF and IVF×PQ. The query probes 2
    * of 16 cells and exact-cosine ranks the DEQUANTIZED vectors
    * (code·scale, double) — deterministic on any engine, so the oracle
    * re-derives the full pipeline including the round-half-away
    * quantization.
    */
  private def qIvfInt8(s: SparkSession, dir: String): DataFrame = {
    val corpus = embeds(s, dir).filter(col("vec_id") =!= 0)
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    Similarity.queryIvfInt8(Similarity.int8Index(idx), queryVec(s, dir),
        k = 10, nProbe = 2)
      .select("vec_id", "label", "cosine")
  }

  /** [[qIvfInt8]] THROUGH THE MAINTENANCE PATH: the int8 layout lands
    * as an even-half [[graft.pipeline.Similarity.writeIvfInt8Index]]
    * plus an [[graft.pipeline.Similarity.appendToIvfIndex]] of the odd
    * ingest — the append detects the code-only layout and quantizes the
    * batch itself (floats dropped, per-row scale). The oracle freezes
    * the centroids at the even half and re-derives every appended row's
    * quantization, so both the cell math AND the append's int8
    * transform sit under the value gate.
    */
  private def qIvfInt8Append(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir).filter(col("vec_id") =!= 0)
    val path = scratchDir("q-ivf-int8-append")
    Similarity.writeIvfInt8Index(
      Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding"), path)
    Similarity.appendToIvfIndex(s, path,
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    Similarity.queryIvfInt8(Similarity.loadIvfIndex(s, path),
        queryVec(s, dir), k = 10, nProbe = 2)
      .select("vec_id", "label", "cosine")
  }

  /** Batch serving from int8 storage
    * ([[graft.pipeline.Similarity.queryIvfInt8Batch]]): the query-set
    * plan over the 4×-cheaper layout — per-query probes from broadcast
    * centroids, cell equi-join reading (scale, codes) only, dequantized
    * codegen cosine per candidate, per-query top-5 window. Same query
    * split and tie rules as q_sim_ivf_batch.
    */
  private def qIvfInt8Batch(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val corpus = e.filter(col("vec_id") >= 3)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", 16)
    Similarity.queryIvfInt8Batch(Similarity.int8Index(idx), queries,
        "query_id", "embedding", k = 5, nProbe = 2)
      .select("query_id", "vec_id", "label", "cosine")
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** Embedding near-duplicate pairs: banded sign-LSH candidates + exact
    * cosine ≥ 0.45 — the bucketed (never n²) self-join shape.
    */
  private def qEmbedDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDuplicateVectors(embeds(s, dir), "vec_id",
        "embedding", 0.45)
      .orderBy("id_a", "id_b")

  /** SemDeDup pair set ([[graft.pipeline.Dedup.semDeDupPairs]]):
    * within-IVF-cell cosine pairs ≥ 0.3 over the raw-seed quantizer
    * (kmeansIters = 0, the bit-reproducible oracle path) — every
    * (cell, id_a, id_b, cosine) value-oracled, so a wrong assignment,
    * a pair crossing cells, or one ulp of cosine drift reds a row.
    */
  private def qSemdedupPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.semDeDupPairs(embeds(s, dir), "vec_id", "embedding",
        threshold = 0.3)
      .select(col("cell").cast("bigint").as("cell"), col("id_a"),
        col("id_b"), col("cosine"))
      .orderBy("cell", "id_a", "id_b")

  /** The SemDeDup TRANSFORM's survivors ([[graft.pipeline.Dedup
    * .semDeDup]]): components over the q_semdedup_pairs graph, each
    * keeping its LEAST-prototypical member (lowest cosine to its own
    * cell centroid, ties to the lower id). The oracle re-derives the
    * assignment, the pair graph, the recursive-CTE components, the
    * per-member centroid cosine (= its MAX over centroids, because
    * assignment is argmax) and the survivor rule — at threshold 0.3
    * the fixture drops ~200 of 500 vectors, so both keep and drop
    * paths execute.
    */
  private def qSemdedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semDeDup(embeds(s, dir), "vec_id", "embedding",
        threshold = 0.3)
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** [[qSemdedup]] under the PRODUCTION quantizer sizing
    * ([[graft.pipeline.Dedup.semDeDupAuto]]): nCells = ⌈n / 24⌉ from
    * the corpus COUNT instead of a hand-picked constant — the helper
    * that closes the "nCells grows with the corpus" contract, so at
    * 100× the corpus the cell count grows 100× and per-cell pair work
    * stays flat. The oracle re-derives the count, the ceiling divide,
    * the seed cut at that size and the whole survivor chain, so a
    * drifted sizing rule reds the row. `kmeansIters` pinned 0 here
    * (the bit-reproducible oracle path; the API default is > 0, where
    * cell balance outranks seed reproducibility).
    */
  private def qSemdedupAuto(s: SparkSession, dir: String): DataFrame =
    Dedup.semDeDupAuto(embedsFan(s, dir), "vec_id", "embedding",
        threshold = 0.3, targetCell = 24, kmeansIters = 0)
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** [[qSemdedupAuto]] through the TWO-LEVEL quantizer
    * ([[graft.pipeline.Dedup.semDeDupTwoLevel]]) — the assignment
    * shape that keeps the auto-sized transform LINEAR (the flat auto
    * row measured 14.8× under the 10× rehearsal; this one holds with
    * the linear families). The oracle replays the full two-level
    * chain: level-1 seeds = the ⌈√nCells⌉ lowest ids, per-vector
    * argmax level-1 group (ties high), level-2 seeds = each group's
    * ⌈nCells/c1⌉ lowest-id members globally numbered in (group, id)
    * order, final cell = argmax level-2 seed WITHIN the own group
    * (ties toward the higher global cell), then the within-cell pair
    * graph, components, and the least-prototypical survivor rule
    * scored against the ASSIGNED cell's centroid — a drifted seed
    * cut, a cross-group assignment, or one ulp of cosine drift reds
    * the row.
    */
  private def qSemdedup2l(s: SparkSession, dir: String): DataFrame =
    Dedup.semDeDupTwoLevel(embeds(s, dir), "vec_id",
        "embedding", threshold = 0.3, targetCell = 24)
      .select("vec_id", "label")
      .orderBy("vec_id")

  /** [[qSemdedupIncr]] against a PERSISTED TWO-LEVEL index — the
    * ingest probe a production (auto-sized) corpus actually runs: the
    * even-half index is built two-level
    * ([[graft.pipeline.Similarity.buildIvfIndexTwoLevel]], nCells =
    * ⌈|even|/24⌉), WRITTEN (the grouped sidecars: `grp` column +
    * `l1` table) and RELOADED, and the odd half probes it through
    * [[graft.pipeline.Dedup.semDeDupPairsAgainstIndex]] — whose
    * `assignCells` must re-derive the batch side's GROUP-RESTRICTED
    * assignment from the persisted grouping, or probed cells would
    * diverge from landed cells and pairs would silently vanish. The
    * oracle replays both sides' two-level chains (the corpus's from
    * its own seed cuts; the batch's under the corpus's FROZEN
    * level-1 + level-2 seeds, own-group-first with the pinned
    * global-argmax fallback ordering) and every cross-side pair —
    * a probe that global-argmaxed, a dropped sidecar, or one ulp of
    * cosine drift reds the row.
    */
  private def qSemdedup2lIncr(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val even = e.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    val path = scratchDir("q-semdedup-2l-incr")
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndexTwoLevel(even, "vec_id", "embedding",
        graft.pipeline.Dedup.semDeDupAutoCells(even, 24)), path)
    Dedup.semDeDupPairsAgainstIndex(Similarity.loadIvfIndex(s, path),
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        threshold = 0.3)
      .select(col("cell").cast("bigint").as("cell"), col("id_a"),
        col("id_b"), col("cosine"))
      .orderBy("cell", "id_a", "id_b")
  }

  /** [[qSemdedup]] under the QUALITY-aware survivor policy
    * ([[graft.pipeline.Dedup.semDeDupKeepBest]]): the same fixed-16
    * quantizer and 0.3 pair graph, but each semantic cluster keeps its
    * highest-quality member (the shared q_quality formula, joined from
    * `documents` on doc_id = vec_id) with ties to the lower id —
    * instead of the paper's least-prototypical survivor. The oracle
    * re-derives the pair graph, the recursive components, every
    * member's quality score (the SINGLE `qualityScoreSql` rendering
    * q_quality pins bit-exactly) and the argmax survivor rule, so the
    * two policies' divergence itself is value-gated.
    */
  private def qSemdedupBest(s: SparkSession, dir: String): DataFrame = {
    val q = docs(s, dir).select(col("doc_id").as("vec_id"),
      TextOps.qualityScore(col("text")).as("quality"))
    Dedup.semDeDupKeepBest(embeds(s, dir).join(q, "vec_id"),
        "vec_id", "embedding", "quality", threshold = 0.3)
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  /** Incremental SemDeDup ([[graft.pipeline.Dedup
    * .semDeDupPairsAgainstIndex]]): the odd-vec_id half arrives as an
    * ingest batch and probes the even-half index under its FROZEN
    * centroids (seeded from the 16 lowest even ids) — every
    * (cell, corpus id, batch id, cosine) pair ≥ 0.3 value-oracled, so
    * a drifted batch-side assignment, a probe into the wrong cell, or
    * a cosine ulp reds a row. The q_dedup_incr story for embeddings.
    */
  private def qSemdedupIncr(s: SparkSession, dir: String): DataFrame = {
    val e = embeds(s, dir)
    val idx = Similarity.buildIvfIndex(
      e.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding"),
      "vec_id", "embedding", 16)
    Dedup.semDeDupPairsAgainstIndex(idx,
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        threshold = 0.3)
      .select(col("cell").cast("bigint").as("cell"), col("id_a"),
        col("id_b"), col("cosine"))
      .orderBy("cell", "id_a", "id_b")
  }

  /** Int8 quantization audit over the embedding store
    * ([[Similarity.int8Scale]]/[[Similarity.int8Codes]] — the 4× storage/
    * shuffle-width cut): per vector the symmetric scale, the worst
    * dequantization error (≤ scale/2 by construction, asserted by the
    * oracle values), and the saturated-code count. Narrow scan, no
    * shuffle; scalar outputs so the driver can hash them.
    */
  private def qQuantize(s: SparkSession, dir: String): DataFrame =
    embeds(s, dir)
      .select(col("vec_id"), col("embedding"),
        Similarity.int8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"), col("scale"),
        Similarity.int8Codes(col("embedding"), col("scale")).as("codes"),
        col("embedding"))
      .select(col("vec_id"), col("scale"),
        array_max(zip_with(col("embedding"),
          Similarity.dequantize(col("codes"), col("scale")),
          (x, d) => abs(x.cast("double") - d))).as("max_abs_err"),
        size(filter(col("codes"), c => abs(c) === 127)).as("n_sat"))
      .orderBy("vec_id")

  /** Exact integer second-moment statistics of the embedding matrix —
    * the input to PCA/whitening: every element quantized once as
    * floor(x·2^20) (a power-of-two multiply is IEEE-exact, so the
    * integers are a pure function of the stored float bits) and every
    * statistic an order-independent decimal-integer sum DuckDB replays
    * verbatim.
    */
  private def qEmbedCov(s: SparkSession, dir: String): DataFrame =
    // gate row casts the decimal-38 stats to BIGINT: exact at any gate
    // SF (|m| < 2^63 until ~10^18 quantized-unit products) and, unlike
    // decimals, read back identically by every parquet reader — pandas
    // renders decimal(38,0) as java-Decimal objects while DuckDB's
    // oracle side renders float64, which hash-compares unequal.
    graft.pipeline.Embed.gramStats(
      s.read.parquet(s"$dir/embeddings.parquet"), "embedding")
      .select(col("i"), col("j"), col("n"),
        col("s_i").cast("long").as("s_i"),
        col("s_j").cast("long").as("s_j"),
        col("m").cast("long").as("m"))
      .orderBy("i", "j")

  /** The d=64 PCA PROJECTION value-gated as a parity row (the
    * `q_lm_score` pattern): [[graft.pipeline.Embed.project]]'s closure
    * UDF runs against an INDEPENDENT in-query left fold over the
    * fitted model's stored doubles — a tiny (k, w, m) model frame is
    * broadcast onto the corpus and SQL `aggregate(sequence(0, d-1))`
    * replays the UDF's exact op sequence `acc += (v(i) − mean(i)) ·
    * w(i)` in i order, so the two doubles must be BIT-EQUAL per
    * (vector, component). The row emits per-component populations and
    * exact-match counts; DuckDB re-derives the populations and pins
    * n_match == n_vecs, so one differing bit anywhere in 2000×8
    * projections reds the row. The fit itself is value-gated by
    * `q_pca_trace_parity` (trace / Rayleigh / projected variance) and
    * the arithmetic path bit-pinned at d=2 by `q_pca2_parity`;
    * EmbedSpec pins orthonormality, variance recovery, whitening and
    * determinism.
    */
  private def qPca(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val model = graft.pipeline.Embed.fitPca(emb, "embedding", 8)
    val d = model.d
    // model as DATA, not inline literals: a d=64 literal expression
    // tree would blow past the JIT bytecode ceiling of the fused stage
    val modelDf = model.components.zipWithIndex.toSeq
      .map { case (w, k) => (k.toLong, w.toSeq, model.mean.toSeq) }
      .toDF("k", "w", "m")
    graft.pipeline.Embed.project(emb, "embedding", model)
      .crossJoin(broadcast(modelDf))
      .withColumn("p_fold", expr(
        s"""aggregate(sequence(0, ${d - 1}), cast(0.0 as double),
           |(acc, i) -> acc + (element_at(embedding, i + 1)
           |  - element_at(m, i + 1)) * element_at(w, i + 1))"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("p_udf",
        expr("element_at(pca, cast(k + 1 as int))"))
      .groupBy("k")
      .agg(count(col("embedding")).as("n_vecs"),
        count(when(col("p_udf") === col("p_fold"), 1)).as("n_match"),
        (count(lit(1)) - count(col("embedding"))).as("n_null"))
      .orderBy("k")
  }

  /** Bit-exact cross-engine PCA parity on a 2-D sub-embedding: at
    * d = 2 the whole fit is ONE closed-form Jacobi rotation, so DuckDB
    * replays every double op of [[graft.pipeline.Embed.fitPca]] —
    * exact integer Gram stats → covariance (decimal-exact numerators,
    * one correctly-rounded cast, one division) → θ/t/c/s → the
    * two-sided rotation → eigenvalue ordering, sign fix, mean and
    * projection — and the projected values hash-match bit-for-bit.
    * The full-width `q_pca` (d = 64, driver-side iterative Jacobi) is
    * rows-only; this row pins the identical arithmetic path end to
    * end, the `q_percentile_gk_parity` pattern.
    */
  private def qPca2Parity(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("e2", slice(col("embedding"), 1, 2))
    val model = graft.pipeline.Embed.fitPca(emb, "e2", 2)
    graft.pipeline.Embed.project(emb, "e2", model)
      .select(col("vec_id"), posexplode(col("pca")).as(Seq("k", "v")))
      .orderBy("vec_id", "k")
  }

  /** Value-gates the FULL-WIDTH PCA fit (the d=64 eigensolve `q_pca`
    * projects with): the one invariant an external engine can derive
    * exactly — the integer trace numerator Σᵢ (n·m_ii − s_i²) of the
    * quantized covariance (denominator n²·2^40 implied) — is emitted
    * and replayed by DuckDB from the raw embeddings, and three
    * second-derivation identities of the fitted model are pinned TRUE
    * per component: (1) Σλ over the full spectrum equals the
    * covariance trace (Jacobi rotations preserve it — a broken sweep
    * breaks this first); (2) each λₖ equals the Rayleigh quotient
    * wₖᵀCwₖ recomputed from the ORIGINAL covariance, independent of
    * the rotation accumulation that produced λ; (3) each λₖ equals the
    * DISTRIBUTED variance of the actual corpus projections (the
    * `q_lm_score`-style second Spark derivation), up to the documented
    * 2^-20 quantization radius — projections run on raw floats, the
    * covariance on floor(x·2^20) integers. A wrong eigenvalue, a
    * non-eigenvector component, or a drifted projection flips a
    * boolean and the row hash-fails; with `q_pca2_parity` pinning the
    * d=2 arithmetic bit-for-bit, the d=64 path is now value-checked
    * end to end. One gramStats aggregation feeds stats, model AND
    * audit (fitPcaFromStats reuses the collected rows).
    */
  private def qPcaTraceParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val rows = graft.pipeline.Embed.gramStats(emb, "embedding").collect()
    val (n, cov, _) = graft.pipeline.Embed.covFromStats(rows)
    val d = cov.length
    val model = graft.pipeline.Embed.fitPcaFromStats(rows, d)
    val traceNum: BigInt = rows.iterator
      .filter(r => r.getAs[Int]("i") == r.getAs[Int]("j"))
      .map { r =>
        BigInt(n) * BigInt(r.getAs[java.math.BigDecimal]("m")
          .toBigInteger) -
          BigInt(r.getAs[java.math.BigDecimal]("s_i").toBigInteger) *
          BigInt(r.getAs[java.math.BigDecimal]("s_j").toBigInteger)
      }.sum
    val q = graft.pipeline.Embed.Q
    val den = BigDecimal(n) * BigDecimal(n) * BigDecimal(q) * BigDecimal(q)
    val trace = cov.indices.map(i => cov(i)(i)).sum
    val scale = math.max(math.abs(trace), 1.0)
    val traceOk =
      math.abs(model.eigenvalues.sum - trace) <= 1e-9 * scale &&
        math.abs((BigDecimal(traceNum) / den).toDouble - trace) <=
          1e-9 * scale
    def rayleigh(w: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < d) {
        var j = 0
        var row = 0.0
        while (j < d) { row += cov(i)(j) * w(j); j += 1 }
        acc += w(i) * row
        i += 1
      }
      acc
    }
    val rayleighOk = model.components.zip(model.eigenvalues).map {
      case (w, l) => math.abs(rayleigh(w) - l) <= 1e-9 * scale
    }
    val pv = graft.pipeline.Embed.project(emb, "embedding", model)
      .select(posexplode(col("pca")).as(Seq("k", "v")))
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv"))
      .collect()
      .map { r =>
        val cnt = r.getAs[Long]("cnt").toDouble
        val sv = r.getAs[Double]("sv")
        val svv = r.getAs[Double]("svv")
        r.getAs[Int]("k") -> ((svv - sv * sv / cnt) / cnt)
      }.toMap
    // raw-float projections vs integer covariance: the gap is the
    // quadratic form w'·(C − C̃)·w of the quantization error, per-entry
    // O(|x|·2^-20), so the informative tolerance is PER COMPONENT —
    // 1e-4·λₖ — floored at the quantization level d·(4·rms + 2^-20)/Q
    // below which agreement is vacuous either way. A trace-global
    // tolerance would let minor eigenvalues under 1e-4·trace pass
    // unchecked.
    val rms = math.sqrt(cov.indices.map(i =>
      cov(i)(i) + model.mean(i) * model.mean(i)).max)
    val qFloor = d * (4.0 * rms + 1.0 / q) / q
    val projOk = model.eigenvalues.zipWithIndex.map { case (l, k) =>
      math.abs(pv(k) - l) <= math.max(1e-4 * l, qFloor)
    }
    (0 until d).map(k =>
        (k, traceNum.toString, traceOk, rayleighOk(k), projOk(k)))
      .toDF("k", "trace_num", "trace_ok", "rayleigh_ok", "projvar_ok")
      .orderBy("k")
  }

  /** PCA whitening composed INTO SemDeDup, value-gated end to end —
    * the advertised "PCA in front of SemDeDup" pipeline as one oracle
    * row (the `q_curation_sem` pattern for operator composition): fit
    * the d=2 basis (the closed-form rotation `q_pca2_parity` pins
    * bit-for-bit), project with whitening (÷√λ per component, the
    * exact `Embed.project` op order), narrow the whitened doubles to
    * float (IEEE round-to-nearest in both engines), and run the FULL
    * SemDeDup chain — raw-seed quantizer, within-cell pairs at 0.3,
    * components, least-prototypical survivor — over the whitened
    * vectors. DuckDB replays every stage: the shared d=2 model CTEs,
    * the whitening arithmetic, the float cast, and the shared
    * assignment/pair/survivor CTEs, so one ulp of drift anywhere in
    * the composition reds the row.
    */
  private def qPcaSemdedup(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("e2", slice(col("embedding"), 1, 2))
    val model = graft.pipeline.Embed.fitPca(emb, "e2", 2)
    val white = graft.pipeline.Embed
      .project(emb, "e2", model, whiten = true)
      .select(col("vec_id"), col("label"),
        col("pca").cast("array<float>").as("wemb"))
    // 0.9999, not the d=64 rows' 0.3: whitened 2-d directions are
    // near-collinear within a cell (median pair cosine > 0.9999 on the
    // fixture), so 0.3 would drop all but one member per cell — this
    // threshold keeps ~1/3 and exercises keep AND drop on real cliques
    Dedup.semDeDup(white, "vec_id", "wemb", threshold = 0.9999)
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  /** Shared CTE chain of the batch-IVF oracle (3 queries vec_id < 3,
    * corpus vec_id >= 3, centroids = 16 lowest-id corpus vectors,
    * nProbe=2 with ties to the LOWER cell, all cosines element-order
    * folds) ending in `fd(qid, vec_id, label, dp, nv, nq)` — the
    * probed candidates scored per query. `q_sim_ivf_batch` cuts its
    * top-5 from it; `q_ann_recall` intersects that cut with an
    * independently derived brute-force exact top-5.
    */
  private lazy val simIvfBatchCtes: String =
    simIvfBatchCtesFor("vec_id < 3", "vec_id >= 3")

  /** The recall computation every ANN recall oracle shares: the
    * approximate top-5 cut from `fd`, a brute-force exact top-5
    * derived independently over `corpusSrc` × `qs` with the same tie
    * rules, and the per-query intersection ratio.
    */
  private def annExactCtes(corpusSrc: String): String =
    s"""bx AS (SELECT q.qid, e.vec_id, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
       |       FROM $corpusSrc e CROSS JOIN qs q),
       |bd AS (SELECT qid, vec_id,
       |${cosFolds("v", "qe[i]", "nv", "nq")}
       |  FROM bx GROUP BY qid, vec_id),
       |exact AS (SELECT qid, vec_id FROM bd
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5)""".stripMargin

  private def annRecallTail(corpusSrc: String): String =
    s"""approx AS (SELECT qid, vec_id FROM fd
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5),
       |${annExactCtes(corpusSrc)}
       |SELECT e.qid AS query_id,
       |  CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(COUNT(a.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON a.qid = e.qid AND a.vec_id = e.vec_id
       |GROUP BY e.qid ORDER BY query_id""".stripMargin

  /** [[semDedupCtes]] with the quantizer SIZE pluggable — `centLimit`
    * lands in the seed cut's LIMIT, so the `q_semdedup_auto` oracle can
    * re-derive the production sizing rule (⌈count/target⌉ as a scalar
    * subquery) while `q_semdedup` keeps the fixed 16.
    */
  private def semDedupCtesWith(centLimit: String,
      corpusSql: String = "SELECT vec_id, embedding FROM embeddings",
      threshold: String = "0.3"): String =
    s"""corpus AS ($corpusSql),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         embedding AS ce FROM corpus ORDER BY vec_id
       |         LIMIT $centLimit),
       |${assignCtes(mat = true)},
       |${semPairCtes("assign", "corpus", "assign", "corpus",
          "b.vec_id > a.vec_id", threshold)}""".stripMargin

  /** The shared SemDeDup oracle chain (`q_semdedup_pairs` /
    * `q_semdedup`): the q_sim_ivf assignment CTEs over the WHOLE
    * embeddings table (no held-out query vector — dedup has none;
    * centroids = the 16 lowest-vec_id vectors, the kmeansIters = 0
    * reproducible path), then the within-cell pair set with exact
    * cosines at threshold 0.3. `ad`/`pairs` are MATERIALIZED so the
    * survivor row's recursive closure cannot re-inline the unnest
    * chains (q_bpe_train's lesson).
    */
  private val semDedupCtes = semDedupCtesWith("16")

  /** The TWO-LEVEL SemDeDup chain (`q_semdedup_2l`), replaying
    * [[graft.pipeline.Similarity.buildIvfIndexTwoLevel]] end to end:
    * production sizing (nCells = ⌈count/targetCell⌉), c1 = ⌈√nCells⌉
    * level-1 seeds cut at the lowest ids, per-vector argmax level-1
    * group (same ties-high/NaN-first rule as the flat chain), level-2
    * seeds = each group's ⌈nCells/c1⌉ lowest-id MEMBERS numbered
    * globally in (group, id) order, and the final cell = the argmax
    * level-2 seed WITHIN the own group (ties toward the higher global
    * cell). `ad` is group-restricted, so [[semSurvivorCtes]]' own-cosine
    * MAX over it is exactly the ASSIGNED cell's cosine — the
    * [[graft.pipeline.Similarity.centroidCosAt]] rule — and the shared
    * pair/survivor CTEs compose unchanged.
    */
  private def semDedup2lCtes(targetCell: Int,
      corpusPred: String = "TRUE"): String =
    s"""corpus AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE $corpusPred),
       |prm AS (SELECT ncells,
       |    CAST(CEIL(SQRT(CAST(ncells AS DOUBLE))) AS BIGINT) AS c1,
       |    CAST(CEIL(CAST(ncells AS DOUBLE) /
       |      CEIL(SQRT(CAST(ncells AS DOUBLE)))) AS BIGINT) AS m
       |  FROM (SELECT CAST(CEIL(COUNT(*) / $targetCell.0) AS BIGINT)
       |        AS ncells FROM corpus)),
       |l1cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS g,
       |         embedding AS ce FROM corpus ORDER BY vec_id
       |         LIMIT (SELECT c1 FROM prm)),
       |l1x AS (SELECT e.vec_id, c.g, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
       |       FROM corpus e CROSS JOIN l1cent c),
       |l1d AS MATERIALIZED (SELECT vec_id, g,
       |${cosFolds("v", "ce[i]", "nv", "nc")}
       |  FROM l1x GROUP BY vec_id, g),
       |l1assign AS MATERIALIZED (SELECT vec_id, g FROM l1d
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, g DESC) = 1),
       |cent AS MATERIALIZED (SELECT g,
       |    row_number() OVER (ORDER BY g, vec_id) - 1 AS cell,
       |    embedding AS ce
       |  FROM (SELECT a.g, e.vec_id, e.embedding
       |        FROM l1assign a JOIN corpus e ON e.vec_id = a.vec_id
       |        QUALIFY row_number() OVER (PARTITION BY a.g
       |          ORDER BY e.vec_id) <= (SELECT m FROM prm))),
       |${assignCtes("l1assign a JOIN corpus e ON e.vec_id = a.vec_id\n" +
          "       JOIN cent c ON c.g = a.g", mat = true)}""".stripMargin

  /** The d=2 PCA model CTE chain shared by `q_pca2_parity` and
    * `q_pca_semdedup`: exact integer Gram stats over the first two
    * embedding dims -> covariance (decimal-exact numerators, one
    * correctly-rounded cast each) -> the single closed-form Jacobi
    * rotation in Embed.jacobiEigen's exact op order -> descending
    * eigenpairs (lam0 >= lam1, index tie-break), the
    * largest-|coordinate|-positive sign fix, the means, and the raw
    * points (`pts`). Every op IEEE-identical to Embed.fitPca at d=2 -
    * see q_pca2_parity for the parity argument.
    */
  private val pca2ModelCtes: String =
    s"""q AS (SELECT vec_id,
         |    CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1048576.0)
         |      AS BIGINT) AS x0,
         |    CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1048576.0)
         |      AS BIGINT) AS x1
         |  FROM embeddings),
         |st AS (SELECT COUNT(*) AS n,
         |    CAST(SUM(x0) AS DECIMAL(38,0)) AS s0,
         |    CAST(SUM(x1) AS DECIMAL(38,0)) AS s1,
         |    CAST(SUM(CAST(x0 AS DECIMAL(38,0)) * x0)
         |      AS DECIMAL(38,0)) AS m00,
         |    CAST(SUM(CAST(x0 AS DECIMAL(38,0)) * x1)
         |      AS DECIMAL(38,0)) AS m01,
         |    CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x1)
         |      AS DECIMAL(38,0)) AS m11
         |  FROM q),
         |cv AS (SELECT n,
         |    CAST(s0 AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS mu0,
         |    CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS mu1,
         |    CAST(CAST(n AS DECIMAL(38,0)) * m00 - s0 * s0 AS DOUBLE)
         |      / CAST(CAST(n AS DECIMAL(38,0)) * n * 1099511627776
         |        AS DOUBLE) AS c00,
         |    CAST(CAST(n AS DECIMAL(38,0)) * m01 - s0 * s1 AS DOUBLE)
         |      / CAST(CAST(n AS DECIMAL(38,0)) * n * 1099511627776
         |        AS DOUBLE) AS c01,
         |    CAST(CAST(n AS DECIMAL(38,0)) * m11 - s1 * s1 AS DOUBLE)
         |      / CAST(CAST(n AS DECIMAL(38,0)) * n * 1099511627776
         |        AS DOUBLE) AS c11
         |  FROM st),
         |rot0 AS (SELECT *, (c11 - c00) / (2.0 * c01) AS theta,
         |    c01 * c01 > 1e-12 AND ABS(c01) > 1e-300 AS dorot FROM cv),
         |rot1 AS (SELECT *,
         |    CASE WHEN NOT dorot THEN 0.0
         |         WHEN theta = 0.0 THEN 1.0
         |         WHEN ABS(theta) > 1e150 THEN c01 / (c11 - c00)
         |         ELSE CAST(SIGN(theta) AS DOUBLE)
         |           / (ABS(theta) + SQRT(theta * theta + 1.0)) END AS t
         |  FROM rot0),
         |rot2 AS (SELECT *,
         |    CASE WHEN dorot THEN 1.0 / SQRT(t * t + 1.0)
         |         ELSE 1.0 END AS cr,
         |    CASE WHEN dorot THEN t * (1.0 / SQRT(t * t + 1.0))
         |         ELSE 0.0 END AS sr
         |  FROM rot1),
         |upd AS (SELECT *,
         |    cr * c00 - sr * c01 AS a00_1, sr * c00 + cr * c01 AS a01_1,
         |    cr * c01 - sr * c11 AS a10_1, sr * c01 + cr * c11 AS a11_1
         |  FROM rot2),
         |eig AS (SELECT *,
         |    cr * a00_1 - sr * a10_1 AS l0,
         |    sr * a01_1 + cr * a11_1 AS l1,
         |    cr AS v00, sr AS v01, -sr AS v10, cr AS v11
         |  FROM upd),
         |ordv AS (SELECT *,
         |    CASE WHEN l1 > l0 THEN v01 ELSE v00 END AS p00r,
         |    CASE WHEN l1 > l0 THEN v11 ELSE v10 END AS p01r,
         |    CASE WHEN l1 > l0 THEN v00 ELSE v01 END AS p10r,
         |    CASE WHEN l1 > l0 THEN v10 ELSE v11 END AS p11r
         |  FROM eig),
         |mdl AS (SELECT mu0, mu1,
         |    CASE WHEN l1 > l0 THEN l1 ELSE l0 END AS lam0,
         |    CASE WHEN l1 > l0 THEN l0 ELSE l1 END AS lam1,
         |    CASE WHEN (CASE WHEN ABS(p01r) > ABS(p00r) THEN p01r
         |      ELSE p00r END) < 0 THEN -p00r ELSE p00r END AS w00,
         |    CASE WHEN (CASE WHEN ABS(p01r) > ABS(p00r) THEN p01r
         |      ELSE p00r END) < 0 THEN -p01r ELSE p01r END AS w01,
         |    CASE WHEN (CASE WHEN ABS(p11r) > ABS(p10r) THEN p11r
         |      ELSE p10r END) < 0 THEN -p10r ELSE p10r END AS w10,
         |    CASE WHEN (CASE WHEN ABS(p11r) > ABS(p10r) THEN p11r
         |      ELSE p10r END) < 0 THEN -p11r ELSE p11r END AS w11
         |  FROM ordv),
         |pts AS (SELECT vec_id,
         |    CAST(embedding[1] AS DOUBLE) AS x0,
         |    CAST(embedding[2] AS DOUBLE) AS x1
         |  FROM embeddings)""".stripMargin

  /** The IVF probe pipeline mirrored in SQL — shared by `q_sim_ivf`
    * (centroids seeded from the whole corpus) and `q_sim_ivf_append`
    * (centroids seeded from the `centPred` half the initial build saw;
    * assignment/scoring still cover the full corpus). Mirrors
    * `Similarity.ivfTopK` exactly: centroids = 16 lowest-id vectors
    * passing `centPred` (cell = rank-1); assignment = argmax cell
    * cosine with ties toward the HIGHER cell (Spark's lexicographic
    * struct max); probes = 2 centroids nearest the query with ties
    * toward the LOWER cell (stable driver sort); all cosines are
    * element-order folds (`SUM ... ORDER BY i` is bit-identical).
    */
  private def simIvfOracleSql(centPred: String,
      centLimit: String = "16"): String =
    s"""${ivfHead(centPred, centLimit)},
       |${ivfScoreTail("corpus")}""".stripMargin

  /** The single-query IVF chain up to the probes: query `q` (vec_id 0),
    * `corpus` (the rest), the `centLimit` lowest-id corpus vectors
    * passing `centPred` as `cent`, [[assignCtes]] and [[probeCtes]].
    */
  private def ivfHead(centPred: String, centLimit: String = "16"): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
       |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         embedding AS ce FROM corpus WHERE $centPred
       |         ORDER BY vec_id LIMIT $centLimit),
       |${assignCtes()},
       |$probeCtes""".stripMargin

  /** The nProbe=2 probe every single-query IVF oracle shares: the
    * query's cosine to each centroid of `cent`, and its 2 best cells,
    * ties to the LOWER cell.
    */
  private val probeCtes: String =
    s"""qx AS (SELECT c.cell, unnest(c.ce) AS v,
       |         unnest(generate_series(1, len(c.ce))) AS i, q.qe AS qe
       |       FROM cent c, q),
       |qd AS (SELECT cell,
       |${cosFolds("v", "qe[i]", "nc", "nq")}
       |  FROM qx GROUP BY cell),
       |probes AS (SELECT cell FROM qd
       |  QUALIFY row_number() OVER (
       |    ORDER BY dp / (sqrt(nc) * sqrt(nq)) DESC, cell ASC) <= 2)""".stripMargin

  /** The exact-scoring tail over [[probeCtes]]: score only the rows
    * `assign` places in the probed cells, top-10 by cosine. The
    * two-level variants (whose `cent` / `assign` chains differ) reuse
    * it. `corpusSrc` must expose (vec_id, label, embedding).
    */
  private def ivfScoreTail(corpusSrc: String): String =
    s"""fx AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
       |       FROM $corpusSrc e
       |       JOIN assign a ON a.vec_id = e.vec_id
       |       JOIN probes p ON p.cell = a.cell, q),
       |${topCosineSql("fd", "fx")}""".stripMargin

  /** The single-query top-10 by exact cosine: CTE `fold` folds every
    * (vec_id, label, v, i, qe) row of `src`, ties to the lower vec_id.
    */
  private def topCosineSql(fold: String, src: String): String =
    s"""$fold AS (SELECT vec_id, label,
       |${cosFolds("v", "qe[i]", "nv", "nq")}
       |  FROM $src GROUP BY vec_id, label)
       |SELECT vec_id, label, dp / (sqrt(nv) * sqrt(nq)) AS cosine
       |FROM $fold ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** Per-row int8 scale of the corpus, max|x|/127 (1.0 for the zero
    * vector, as q_quantize).
    */
  private val int8ScaleCte: String =
    s"""sc AS (SELECT vec_id,
       |    CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
       |         THEN 1.0
       |         ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
       |    END AS scale
       |  FROM corpus)""".stripMargin

  /** PQ encoding as `Pq.train(iters = 0)` + `encode`: the 16 lowest-id
    * corpus vectors (filtered by `where`, empty or ending in a space)
    * seed every subspace's codebook; each vector's code in 8-dim
    * subspace `j` is the argmin squared-L2 seed, ties to the LOWER code.
    */
  private def pqCodeCtes(where: String = ""): String =
    s"""seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
       |          embedding AS se FROM corpus ${where}ORDER BY vec_id LIMIT 16),
       |ex AS (SELECT e.vec_id, s.code, unnest(e.embedding) AS v,
       |         unnest(generate_series(1, len(e.embedding))) AS i, s.se AS se
       |       FROM corpus e CROSS JOIN seeds s),
       |dist AS (SELECT vec_id, code, (i - 1) // 8 AS j,
       |    SUM((CAST(v AS DOUBLE) - CAST(se[i] AS DOUBLE))
       |      * (CAST(v AS DOUBLE) - CAST(se[i] AS DOUBLE)) ORDER BY i) AS d
       |  FROM ex GROUP BY vec_id, code, j),
       |codes AS (SELECT vec_id, j, code FROM dist
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
       |    ORDER BY d ASC, code ASC) = 1)""".stripMargin

  /** `q_sim_ivf`'s probe pipeline with the final scoring over the int8
    * DEQUANTIZED vectors (assignment and probes on the FULL-PRECISION
    * vectors, as the build does): per-row scale = max|x|/127 (1.0 for
    * the zero vector, as q_quantize), dq = CAST(round(v/scale) AS
    * TINYINT) · scale in double — round is half-away-from-zero in both
    * engines, folds element-order. Shared by `q_ivf_int8` and
    * `q_ivf_int8_append` (the maintenance path, centroids seeded from
    * `centPred` only).
    */
  private def ivfInt8OracleSql(centPred: String): String =
    s"""${ivfHead(centPred)},
       |$int8ScaleCte,
       |fx AS (SELECT e.vec_id, e.label,
       |         CAST(CAST(round(CAST(unnest(e.embedding) AS DOUBLE) / s.scale) AS TINYINT) AS DOUBLE) * s.scale AS dq,
       |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
       |       FROM corpus e
       |       JOIN sc s ON s.vec_id = e.vec_id
       |       JOIN assign a ON a.vec_id = e.vec_id
       |       JOIN probes p ON p.cell = a.cell, q),
       |fd AS (SELECT vec_id, label,
       |    SUM(dq * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(dq * dq ORDER BY i) AS nv,
       |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
       |  FROM fx GROUP BY vec_id, label)
       |SELECT vec_id, label, dp / (sqrt(nv) * sqrt(nq)) AS cosine
       |FROM fd ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** The composed IVF×PQ serving pipeline mirrored in SQL, stage by
    * stage: `q_sim_ivf`'s cell assignment (ties to the HIGHER cell) +
    * probe selection (ties to the LOWER cell), `q_pq`’s codes (argmin
    * squared L2, ties to the LOWER code) and query LUT, the ADC
    * candidate cut (top-50 by pq_score, ties to the lower vec_id)
    * INSIDE the probed cells, and an exact-cosine rerank of only the
    * survivors (ties to the lower vec_id). All folds element-order
    * SUMs. `buildPred` restricts BOTH seed sets (centroids and
    * codebooks) to the rows the initial build saw — `TRUE` for
    * `q_ivf_pq`, the even half for `q_ivf_pq_append` (assignment,
    * codes and scoring still cover the full corpus).
    */
  private def ivfPqOracleSql(buildPred: String): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus WHERE $buildPred ORDER BY vec_id LIMIT 16),
         |${assignCtes()},
         |$probeCtes,
         |${pqCodeCtes(s"WHERE $buildPred ")},
         |qpx AS (SELECT s.code, unnest(s.se) AS cv,
         |         unnest(generate_series(1, len(s.se))) AS i, q.qe AS qe
         |       FROM seeds s, q),
         |lut AS (SELECT code, (i - 1) // 8 AS j,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(cv AS DOUBLE) ORDER BY i) AS dp
         |  FROM qpx GROUP BY code, j),
         |score AS (SELECT c.vec_id, SUM(l.dp ORDER BY c.j) AS pq_score
         |  FROM codes c
         |  JOIN lut l ON l.j = c.j AND l.code = c.code
         |  JOIN assign a ON a.vec_id = c.vec_id
         |  JOIN probes p ON p.cell = a.cell
         |  GROUP BY c.vec_id),
         |surv AS (SELECT vec_id FROM score
         |  QUALIFY row_number() OVER (
         |    ORDER BY pq_score DESC, vec_id ASC) <= 50),
         |fx AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM corpus e JOIN surv s ON s.vec_id = e.vec_id, q),
         |${topCosineSql("fd", "fx")}""".stripMargin

  /** Each query's top-5 rows of `fd` by exact cosine, ties to the lower
    * vec_id: the result of every batch-IVF oracle.
    */
  private def batchTop5Sql(fd: String): String =
    s"""SELECT qid AS query_id, vec_id, label,
       |       dp / (sqrt(nv) * sqrt(nq)) AS cosine
       |FROM $fd
       |QUALIFY row_number() OVER (PARTITION BY qid
       |  ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5
       |ORDER BY query_id, cosine DESC, vec_id""".stripMargin

  /** The embedding dimensions `dims(i)` and every element quantized
    * as x = floor(v · 2^20) in `q(vec_id, i, x)`: the power-of-two
    * multiply is IEEE-exact, so the integers (and every sum of them)
    * are identical in both engines.
    */
  private val quantizedDimsCtes: String =
    s"""dims AS (SELECT DISTINCT
       |    unnest(generate_series(1, len(embedding))) AS i
       |  FROM embeddings),
       |q AS (SELECT e.vec_id, d.i,
       |    CAST(FLOOR(CAST(e.embedding[d.i] AS DOUBLE) * 1048576.0)
       |      AS BIGINT) AS x
       |  FROM embeddings e CROSS JOIN dims d)""".stripMargin

  /** DuckDB sign-band signature `b` over `bitsPerBand` coordinates of a
    * list column (mirror of [[Similarity.signBands]]).
    */
  private def bandSql(vec: String, b: Int, bits: Int): String =
    (1 to bits).map(i =>
      s"(CASE WHEN $vec[${b * bits + i}] > 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")

  val gates: Seq[Gate] = Seq(
    Gate("q_sim_topk", qSimTopk,
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |ex AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM embeddings e, q WHERE e.vec_id <> 0),
         |${topCosineSql("dots", "ex")}""".stripMargin),
    Gate("q_sim_lsh", qSimLsh, {
      val orChain = (0 until 16)
        .map(b => s"(${bandSql("e.embedding", b, 4)}) = (${bandSql("q.qe", b, 4)})")
        .mkString(" OR ")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |ex AS (SELECT e.vec_id, e.label, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM embeddings e, q
         |       WHERE e.vec_id <> 0 AND ($orChain)),
         |${topCosineSql("dots", "ex")}""".stripMargin
    }),
    Gate("q_sim_ivf", qSimIvf, simIvfOracleSql(centPred = "TRUE")),
    // the appended-index probe: centroids seed from the EVEN half (the
    // initial build), assignment/scoring cover the full corpus — the
    // rest of the pipeline SQL is shared verbatim with q_sim_ivf
    Gate("q_sim_ivf_append", qSimIvfAppend,
      simIvfOracleSql(centPred = "vec_id % 2 = 0")),
    // the re-clustered quantizer from scratch: seed cut = the
    // production ceiling ⌈count/24⌉ over the full corpus (the
    // q_semdedup_auto sizing rule), assignment + probe re-derived
    Gate("q_ivf_recluster", qIvfRecluster, simIvfOracleSql(centPred = "TRUE",
      centLimit = "(SELECT CAST(CEIL(COUNT(*) / 24.0) AS BIGINT) " +
        "FROM embeddings WHERE vec_id <> 0)")),
    // the TWO-LEVEL re-cluster: the whole grouped quantizer re-derived
    // from scratch (semDedup2lCtes over the query-less corpus), then
    // the shared nProbe=2 probe tail over the two-level assignment
    Gate("q_ivf_recluster_2l", qIvfRecluster2l,
      s"""WITH ${semDedup2lCtes(24, "vec_id <> 0")},
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |corpusl AS (SELECT vec_id, label, embedding FROM embeddings
         |            WHERE vec_id <> 0),
         |$probeCtes,
         |${ivfScoreTail("corpusl")}""".stripMargin),
    Gate("q_ivf_int8", qIvfInt8, ivfInt8OracleSql(centPred = "TRUE")),
    // the int8 append row: centroids frozen at the even half, every
    // appended row's quantization re-derived — shares the pipeline SQL
    Gate("q_ivf_int8_append", qIvfInt8Append,
      ivfInt8OracleSql(centPred = "vec_id % 2 = 0")),
    Gate("q_ivf_int8_batch", qIvfInt8Batch,
      // q_ivf_int8's dequantized scoring in q_sim_ivf_batch's query-set
      // shape: per-query probes on full-precision centroids, final
      // cosine over dq = CAST(round(v/scale) AS TINYINT)·scale
      s"""WITH ${simIvfBatchHeadFor("vec_id < 3", "vec_id >= 3")},
         |$int8ScaleCte,
         |fx AS (SELECT q.qid, e.vec_id, e.label,
         |         CAST(CAST(round(CAST(unnest(e.embedding) AS DOUBLE) / s.scale) AS TINYINT) AS DOUBLE) * s.scale AS dq,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM corpus e
         |       JOIN sc s ON s.vec_id = e.vec_id
         |       JOIN assign a ON a.vec_id = e.vec_id
         |       JOIN probes p ON p.cell = a.cell
         |       JOIN qs q ON q.qid = p.qid),
         |fd AS (SELECT qid, vec_id, label,
         |    SUM(dq * CAST(qe[i] AS DOUBLE) ORDER BY i) AS dp,
         |    SUM(dq * dq ORDER BY i) AS nv,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) ORDER BY i) AS nq
         |  FROM fx GROUP BY qid, vec_id, label)
         |${batchTop5Sql("fd")}""".stripMargin),
    Gate("q_sim_ivf_batch", qSimIvfBatch,
      // the batch form of q_sim_ivf (see simIvfBatchCtes)
      s"""WITH $simIvfBatchCtes
         |${batchTop5Sql("fd")}""".stripMargin),
    Gate("q_ann_recall", qAnnRecall,
      // per-query intersection of the nProbe=2 IVF top-5 (the shared
      // batch chain) with a BRUTE-FORCE exact top-5 derived
      // independently over the full corpus — same tie rules
      s"""WITH $simIvfBatchCtes,
         |${annRecallTail("corpus")}""".stripMargin),
    Gate("q_ann_recall_2l", qAnnRecall2l,
      // the grouping-cost audit: the TWO-LEVEL quantizer and a FLAT
      // quantizer at the SAME cell count (LIMIT = the landed 2l
      // centroid count) probed with the SAME nProbe=2 budget against
      // one shared brute-force exact top-5 — the recall DELTA is the
      // group-restricted assignment's near-boundary trade, isolated
      // from probe-budget effects, every value pinned cross-engine
      s"""WITH ${semDedup2lCtes(24, "vec_id >= 3")},
         |qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id < 3),
         |corpusl AS (SELECT vec_id, label, embedding FROM embeddings
         |            WHERE vec_id >= 3),
         |centf AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id
         |         LIMIT (SELECT COUNT(*) FROM cent)),
         |${assignCtes("corpus e CROSS JOIN centf c", "z")},
         |${batchProbeCtes()},
         |${batchScoreCtes("corpusl")},
         |${batchProbeCtes("z", "centf")},
         |${batchScoreCtes("corpusl", "z", "zassign")},
         |approx AS (SELECT qid, vec_id FROM fd
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5),
         |zapprox AS (SELECT qid, vec_id FROM zfd
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id ASC) <= 5),
         |${annExactCtes("corpusl")}
         |SELECT e.qid AS query_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(COUNT(a2.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS recall_2l,
         |  CAST(COUNT(af.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS recall_flat
         |FROM exact e
         |LEFT JOIN approx a2 ON a2.qid = e.qid AND a2.vec_id = e.vec_id
         |LEFT JOIN zapprox af ON af.qid = e.qid AND af.vec_id = e.vec_id
         |GROUP BY e.qid ORDER BY query_id""".stripMargin),
    Gate("q_pq", qPq,
      // mirrors Pq.train(iters=0)/encode/pqTopK exactly: codebook
      // centroid c of subspace j = positions j*8+1..j*8+8 of the
      // (c+1)-th lowest-id corpus vector; code = argmin squared L2
      // (ties to the LOWER code = struct-min); score = sum over j of
      // LUT[j][code_j] where LUT = per-subspace query·centroid dots.
      // All folds are element-order (SUM ... ORDER BY) — bit-identical
      // to Spark's array-order aggregate / left-assoc reduce.
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |corpus AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
         |${pqCodeCtes()},
         |qx AS (SELECT s.code, unnest(s.se) AS cv,
         |         unnest(generate_series(1, len(s.se))) AS i, q.qe AS qe
         |       FROM seeds s, q),
         |lut AS (SELECT code, (i - 1) // 8 AS j,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(cv AS DOUBLE) ORDER BY i) AS dp
         |  FROM qx GROUP BY code, j),
         |score AS (SELECT c.vec_id, SUM(l.dp ORDER BY c.j) AS pq_score
         |  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
         |  GROUP BY c.vec_id)
         |SELECT e.vec_id, e.label, s.pq_score
         |FROM score s JOIN corpus e ON e.vec_id = s.vec_id
         |ORDER BY s.pq_score DESC, s.vec_id LIMIT 10""".stripMargin),
    Gate("q_ivf_pq", qIvfPq, ivfPqOracleSql(buildPred = "TRUE")),
    // the PQ append row: centroid AND codebook seeds frozen at the
    // even half; the appended rows’ sidecar-codebook encoding is
    // re-derived — shares the pipeline SQL verbatim
    Gate("q_ivf_pq_append", qIvfPqAppend,
      ivfPqOracleSql(buildPred = "vec_id % 2 = 0")),
    Gate("q_ivf_pq_batch", qIvfPqBatch,
      // q_ivf_pq generalised to a query SET (the 3 vec_id<3 vectors,
      // corpus vec_id >= 3 as q_sim_ivf_batch): per-query probes (ties
      // to the LOWER cell), query-independent codes (argmin squared L2,
      // ties to the LOWER code), per-QUERY ADC lookup table, per-query
      // top-30 ADC cut (ties to the lower vec_id) inside the probed
      // cells, per-query exact-cosine rerank top-5 (ties to the lower
      // vec_id). All folds element-order SUMs.
      s"""WITH ${simIvfBatchHeadFor("vec_id < 3", "vec_id >= 3")},
         |${pqCodeCtes()},
         |qpx AS (SELECT q.qid, s.code, unnest(s.se) AS cv,
         |         unnest(generate_series(1, len(s.se))) AS i, q.qe AS qe
         |       FROM seeds s CROSS JOIN qs q),
         |lut AS (SELECT qid, code, (i - 1) // 8 AS j,
         |    SUM(CAST(qe[i] AS DOUBLE) * CAST(cv AS DOUBLE) ORDER BY i) AS dp
         |  FROM qpx GROUP BY qid, code, j),
         |score AS (SELECT l.qid, c.vec_id, SUM(l.dp ORDER BY c.j) AS pq_score
         |  FROM codes c
         |  JOIN lut l ON l.j = c.j AND l.code = c.code
         |  JOIN assign a ON a.vec_id = c.vec_id
         |  JOIN probes p ON p.cell = a.cell AND p.qid = l.qid
         |  GROUP BY l.qid, c.vec_id),
         |surv AS (SELECT qid, vec_id FROM score
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY pq_score DESC, vec_id ASC) <= 30),
         |fx AS (SELECT s.qid, e.vec_id, e.label, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, q.qe AS qe
         |       FROM corpus e
         |       JOIN surv s ON s.vec_id = e.vec_id
         |       JOIN qs q ON q.qid = s.qid),
         |fdb AS (SELECT qid, vec_id, label,
         |${cosFolds("v", "qe[i]", "nv", "nq")}
         |  FROM fx GROUP BY qid, vec_id, label)
         |${batchTop5Sql("fdb")}""".stripMargin),
    Gate("q_quantize", qQuantize,
      // round() is half-away-from-zero in both engines, and the TINYINT
      // cast sees an exactly-integral double, so truncation-vs-rounding
      // cast semantics never bite
      s"""WITH q AS (SELECT vec_id, embedding,
         |  CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
         |       THEN 1.0
         |       ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
         |  END AS scale
         |FROM embeddings)
         |SELECT vec_id, scale,
         |  list_max(list_transform(embedding, x ->
         |    abs(CAST(x AS DOUBLE)
         |        - CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT) * scale))) AS max_abs_err,
         |  len(list_filter(embedding, x ->
         |    abs(CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT)) = 127)) AS n_sat
         |FROM q ORDER BY vec_id""".stripMargin),
    Gate("q_semdedup_pairs", qSemdedupPairs,
      s"""WITH $semDedupCtes
         |SELECT cell, id_a, id_b, cosine FROM pairs
         |ORDER BY cell, id_a, id_b""".stripMargin),
    Gate("q_semdedup_incr", qSemdedupIncr,
      // the odd half probes the even-half index: centroids come from the
      // EVEN corpus only (frozen at build, as assignCells), the batch
      // side runs the same assignment chain under them, and pairs cross
      // the two sides within a cell — the sides are disjoint, so no
      // ordering predicate is needed
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |batch AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |         embedding AS ce FROM corpus ORDER BY vec_id LIMIT 16),
         |${assignCtes(mat = true)},
         |${assignCtes("batch e CROSS JOIN cent c", "b", mat = true)},
         |${semPairCtes("assign", "corpus", "bassign", "batch", "TRUE")}
         |SELECT cell, id_a, id_b, cosine FROM pairs
         |ORDER BY cell, id_a, id_b""".stripMargin),
    Gate("q_semdedup", qSemdedup,
      // components over the pair graph (recursive min-reachable closure,
      // as q_dedup_clusters), then the paper's survivor rule — shared
      // with q_curation_sem via semSurvivorCtes
      s"""WITH RECURSIVE $semDedupCtes,
         |$semSurvivorCtes
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin),
    Gate("q_semdedup_auto", qSemdedupAuto,
      // the q_semdedup chain under the PRODUCTION sizing rule: the seed
      // cut's LIMIT is ⌈count/24⌉ re-derived from the corpus itself —
      // the same integer the Spark side computes in semDeDupAutoCells
      s"""WITH RECURSIVE ${semDedupCtesWith(
           "(SELECT CAST(CEIL(COUNT(*) / 24.0) AS BIGINT) FROM embeddings)")},
         |$semSurvivorCtes
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin),
    Gate("q_semdedup_best", qSemdedupBest,
      // the keep-best survivor policy: same pair graph + components as
      // q_semdedup, survivor = the cluster's MAX quality (the single
      // qualityScoreSql rendering, bit-pinned by q_quality), ties to
      // the lower id
      s"""WITH RECURSIVE $semDedupCtes,
         |$semComponentCtes,
         |qf AS (SELECT $qualityFeatSelect FROM documents),
         |qsc AS (SELECT doc_id, $qualityScoreSql AS q FROM qf),
         |members AS MATERIALIZED (SELECT comp.id, comp.cluster_id, s.q
         |            FROM comp JOIN qsc s ON s.doc_id = comp.id),
         |top AS (SELECT cluster_id, MAX(q) AS m FROM members
         |        GROUP BY cluster_id),
         |keep AS (SELECT t.cluster_id, MIN(mm.id) AS id
         |         FROM members mm JOIN top t ON t.cluster_id = mm.cluster_id
         |         WHERE mm.q = t.m GROUP BY t.cluster_id),
         |dropped AS (SELECT id FROM members
         |            WHERE id NOT IN (SELECT id FROM keep))
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin),
    Gate("q_semdedup_2l", qSemdedup2l,
      // the two-level quantizer chain under the production sizing —
      // see semDedup2lCtes; pair + survivor CTEs shared with q_semdedup
      s"""WITH RECURSIVE ${semDedup2lCtes(24)},
         |${semPairCtes("assign", "corpus", "assign", "corpus",
            "b.vec_id > a.vec_id")},
         |$semSurvivorCtes
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin),
    Gate("q_semdedup_2l_incr", qSemdedup2lIncr,
      // the odd half probes the PERSISTED even-half two-level index:
      // the corpus side runs its own two-level chain (semDedup2lCtes
      // over the even half), the batch side re-derives the
      // group-restricted assignment under the corpus's FROZEN level-1
      // and level-2 seeds — own-group cells ranked first (the
      // twoLevelCellOf rule: in-group argmax, ties to the higher
      // global cell, with the defensive global-argmax fallback
      // expressed by the inGroup-first ordering) — and pairs cross the
      // two sides within a cell
      s"""WITH ${semDedup2lCtes(24, "vec_id % 2 = 0")},
         |batch AS (SELECT vec_id, embedding FROM embeddings
         |          WHERE vec_id % 2 = 1),
         |bl1x AS (SELECT e.vec_id, c.g, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
         |       FROM batch e CROSS JOIN l1cent c),
         |bl1d AS MATERIALIZED (SELECT vec_id, g,
         |${cosFolds("v", "ce[i]", "nv", "nc")}
         |  FROM bl1x GROUP BY vec_id, g),
         |bl1assign AS MATERIALIZED (SELECT vec_id, g FROM bl1d
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, g DESC) = 1),
         |bax AS (SELECT e.vec_id, c.cell, c.g, unnest(e.embedding) AS v,
         |         unnest(generate_series(1, len(e.embedding))) AS i, c.ce AS ce
         |       FROM batch e CROSS JOIN cent c),
         |bad AS MATERIALIZED (SELECT vec_id, cell, g,
         |${cosFolds("v", "ce[i]", "nv", "nc")}
         |  FROM bax GROUP BY vec_id, cell, g),
         |bassign AS (SELECT b.vec_id, b.cell
         |  FROM bad b JOIN bl1assign a ON a.vec_id = b.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY b.vec_id
         |    ORDER BY CASE WHEN b.g = a.g THEN 1 ELSE 0 END DESC,
         |      b.dp / (sqrt(b.nv) * sqrt(b.nc)) DESC, b.cell DESC) = 1),
         |${semPairCtes("assign", "corpus", "bassign", "batch", "TRUE")}
         |SELECT cell, id_a, id_b, cosine FROM pairs
         |ORDER BY cell, id_a, id_b""".stripMargin),
    Gate("q_embed_dedup", qEmbedDedup, {
      val bandSel = (0 until 8)
        .map(b => s"SELECT vec_id, $b AS band, ${bandSql("embedding", b, 8)} AS sig FROM embeddings")
        .mkString(" UNION ALL ")
      s"""WITH bands AS ($bandSel),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
         |px AS (SELECT c.id_a, c.id_b,
         |         unnest(ea.embedding) AS va, unnest(eb.embedding) AS vb,
         |         unnest(generate_series(1, len(ea.embedding))) AS i
         |       FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a
         |       JOIN embeddings eb ON eb.vec_id = c.id_b),
         |dots AS (SELECT id_a, id_b,
         |${cosFolds("va", "vb", "na", "nb")}
         |  FROM px GROUP BY id_a, id_b)
         |SELECT id_a, id_b, dp / (sqrt(na) * sqrt(nb)) AS cosine FROM dots
         |WHERE dp / (sqrt(na) * sqrt(nb)) >= 0.45 ORDER BY id_a, id_b""".stripMargin
    }),
    Gate("q_pca2_parity", qPca2Parity,
      // replays fitPca's d=2 arithmetic verbatim: exact integer Gram
      // stats; covariance numerator/denominator exact in DECIMAL(38,0)
      // then ONE correctly-rounded cast each (DuckDB's decimal→double
      // is round-half-even like BigDecimal.toDouble — verified on
      // 2^53-straddling values); the single Jacobi rotation's
      // θ → t → c → s chain and two-sided update in the exact op order
      // of Embed.jacobiEigen; eigenvalue-descending order with index
      // tie-break; largest-|coordinate|-positive sign fix; projection
      // as 0.0 + (x0−μ0)·w0 + (x1−μ1)·w1 (the UDF's fold order).
      // All doubles, every op IEEE-identical — the hash matches
      // bit-for-bit.
      s"""WITH $pca2ModelCtes
         |SELECT vec_id, k, v FROM (
         |  SELECT p.vec_id, 0 AS k,
         |    0.0 + (p.x0 - m.mu0) * m.w00 + (p.x1 - m.mu1) * m.w01 AS v
         |  FROM pts p, mdl m
         |  UNION ALL
         |  SELECT p.vec_id, 1 AS k,
         |    0.0 + (p.x0 - m.mu0) * m.w10 + (p.x1 - m.mu1) * m.w11 AS v
         |  FROM pts p, mdl m)
         |ORDER BY vec_id, k""".stripMargin),
    Gate("q_pca_semdedup", qPcaSemdedup,
      // the d=2 model CTEs (shared with q_pca2_parity) -> whitening in
      // Embed.project's exact op order ((0.0 + Σ(x−μ)w) · (1.0/√max(λ,
      // MIN_NORMAL))) -> REAL narrowing -> the UNCHANGED SemDeDup
      // assignment/pair/survivor chain over the whitened corpus
      s"""WITH RECURSIVE $pca2ModelCtes,
         |wcorp AS (SELECT p.vec_id,
         |    [CAST((0.0 + (p.x0 - m.mu0) * m.w00
         |        + (p.x1 - m.mu1) * m.w01)
         |      * (1.0 / SQRT(GREATEST(m.lam0, 2.2250738585072014e-308)))
         |      AS REAL),
         |     CAST((0.0 + (p.x0 - m.mu0) * m.w10
         |        + (p.x1 - m.mu1) * m.w11)
         |      * (1.0 / SQRT(GREATEST(m.lam1, 2.2250738585072014e-308)))
         |      AS REAL)] AS embedding
         |  FROM pts p, mdl m),
         |${semDedupCtesWith("16", "SELECT vec_id, embedding FROM wcorp",
            "0.9999")},
         |$semSurvivorCtes
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY e.vec_id""".stripMargin),
    Gate("q_pca_trace_parity", qPcaTraceParity,
      // the exact integer trace numerator Σᵢ (n·m_ii − s_i²) of the
      // quantized covariance, re-derived from the raw embeddings the
      // same way q_embed_cov derives the full stats; the three
      // per-component booleans are Spark-side second-derivation
      // verdicts (Σλ == trace, Rayleigh == λ, projected variance == λ)
      // pinned TRUE — any eigensolve/basis/projection defect flips one
      // and the row hash-fails
      s"""WITH $quantizedDimsCtes,
         |s AS (SELECT i, COUNT(*) AS n,
         |    CAST(SUM(x) AS DECIMAL(38,0)) AS s,
         |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x)
         |      AS DECIMAL(38,0)) AS m
         |  FROM q GROUP BY 1),
         |tr AS (SELECT CAST(SUM(CAST(n AS DECIMAL(38,0)) * m - s * s)
         |    AS DECIMAL(38,0)) AS t FROM s)
         |SELECT CAST(d.i - 1 AS INTEGER) AS k,
         |CAST((SELECT t FROM tr) AS VARCHAR) AS trace_num,
         |TRUE AS trace_ok, TRUE AS rayleigh_ok, TRUE AS projvar_ok
         |FROM dims d ORDER BY k""".stripMargin),
    Gate("q_embed_cov", qEmbedCov,
      // floor(x * 2^20): the power-of-two multiply is IEEE-exact, so
      // the quantized integers (and every sum of them) are identical
      // in both engines
      s"""WITH $quantizedDimsCtes,
         |s AS (SELECT i, CAST(SUM(x) AS DECIMAL(38,0)) AS s
         |  FROM q GROUP BY 1),
         |m AS (SELECT a.i AS i, b.i AS j,
         |    CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * b.x)
         |      AS DECIMAL(38,0)) AS m,
         |    COUNT(*) AS n
         |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
         |  GROUP BY 1, 2)
         |SELECT CAST(m.i - 1 AS INTEGER) AS i,
         |CAST(m.j - 1 AS INTEGER) AS j, m.n,
         |CAST(si.s AS BIGINT) AS s_i, CAST(sj.s AS BIGINT) AS s_j,
         |CAST(m.m AS BIGINT) AS m
         |FROM m JOIN s si ON si.i = m.i JOIN s sj ON sj.i = m.j
         |ORDER BY i, j""".stripMargin),
    Gate("q_pca", qPca,
      // parity contract (the q_lm_score pattern): DuckDB re-derives
      // the per-component populations; every (vector, component)
      // projection from the UDF and the independent in-query fold
      // must have matched BIT-FOR-BIT on the Spark side
      s"""SELECT CAST(k AS BIGINT) AS k,
         |  (SELECT COUNT(embedding) FROM embeddings) AS n_vecs,
         |  (SELECT COUNT(embedding) FROM embeddings) AS n_match,
         |  (SELECT COUNT(*) - COUNT(embedding) FROM embeddings)
         |    AS n_null
         |FROM generate_series(0, 7) AS t(k)
         |ORDER BY k""".stripMargin),
  )
}
