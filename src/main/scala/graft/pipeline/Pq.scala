package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization for large embedding stores (north-star extension;
  * the reference has no vector surface).
  *
  * Scalar int8 quantization ([[Similarity.int8Codes]]) cuts storage 4×;
  * PQ is the next step: split each d-dim vector into `m` subvectors of
  * d/m dims, learn a tiny per-subspace codebook of `k` centroids, and
  * store each vector as `m` one-byte code indices — d·4 bytes → m bytes
  * (32× at d=64, m=8), independent of d per subspace. A query scores a
  * coded vector without decoding: precompute the m×k table of
  * ⟨query_j, centroid_{j,c}⟩ once on the driver, then the approximate
  * inner product is m table lookups + adds (ADC — asymmetric distance
  * computation). Trained on unit-normalized vectors the approximate dot
  * IS approximate cosine, so the PQ score ranks candidates for the
  * exact-rerank stage.
  *
  * Scale shape: training is `iters` rounds of one explode + hash
  * aggregate over the corpus with O(m·k·subDim) driver state (the same
  * budget as the IVF coarse quantizer); encoding and ADC scoring are
  * pure Column expressions over literal codebooks — narrow,
  * codegen-friendly, no shuffle, and the codebooks ride the plan as
  * broadcast literals (m·k·subDim floats ≈ KBs). Composes with IVF:
  * partition by `__cell`, store PQ codes inside cells, rerank survivors
  * against the float vectors.
  *
  * Determinism matches the IVF trainer's contract: seeds are the `k`
  * lowest-id vectors' subvectors, iteration count is fixed, and the
  * argmin tie rule is pinned (lower code wins via lexicographic struct
  * min on (dist², code)); the only residual nondeterminism is
  * floating-point summation order inside the per-cell means.
  */
object Pq {

  /** Trained codebooks: `codebooks(j)(c)` is centroid `c` of subspace
    * `j`; every subspace spans `subDim` consecutive coordinates.
    */
  final case class PqCodebooks(subDim: Int,
      codebooks: Array[Array[Seq[Float]]]) extends Serializable {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
  }

  /** `vec` scaled to unit L2 norm (zero vectors pass through) — train
    * and encode on unit vectors so ADC approximates cosine.
    */
  def unit(vec: Column): Column = {
    val n = sqrt(aggregate(transform(vec, x => x.cast("double") * x),
      lit(0.0), (a, x) => a + x))
    when(n === 0.0, transform(vec, x => x.cast("double")))
      .otherwise(transform(vec, x => x.cast("double") / n))
  }

  /** Subvector `j` (1-based slice over the flat vector). */
  private def sub(vec: Column, j: Int, subDim: Int): Column =
    slice(vec, j * subDim + 1, subDim)

  /** Squared L2 distance between a subvector column and a literal
    * centroid (array-order fold, training/encoding path).
    */
  private def dist2(sv: Column, centroid: Seq[Float]): Column =
    aggregate(zip_with(sv, Similarity.vecLit(centroid),
        (x, c) => (x.cast("double") - c.cast("double")) *
          (x.cast("double") - c.cast("double"))),
      lit(0.0), (a, x) => a + x)

  /** Argmin code of subspace `j` under `cb` — struct min is
    * lexicographic on (dist², code): ties pin to the lower code.
    */
  private def codeOf(vec: Column, j: Int, cb: PqCodebooks): Column =
    array_min(array(cb.codebooks(j).zipWithIndex.toIndexedSeq.map {
      case (c, i) =>
        struct(dist2(sub(vec, j, cb.subDim), c).as("d"), lit(i).as("code"))
    }: _*))("code")

  /** Train per-subspace codebooks with seeded L2 k-means: seeds are the
    * `k` lowest-`idCol` vectors' subvectors, refined by `iters` rounds.
    * One job per round — every (vector, subspace) pair assigns to its
    * argmin centroid, then a hash aggregate means each (subspace, code,
    * position); empty cells keep their previous centroid. `iters = 0`
    * keeps the raw seeds (bit-reproducible).
    */
  def train(df: DataFrame, idCol: String, vecCol: String, m: Int,
      k: Int = 16, iters: Int = 2): PqCodebooks = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    require(k <= 128, s"k=$k codes must fit a signed byte (<= 128)")
    val subDim = dim / m
    // accept float or double vector columns (unit() produces doubles)
    val seedRows = df.orderBy(col(idCol)).limit(k)
      .select(vecCol).collect()
      .map(_.getSeq[Number](0).map(_.floatValue()))
    require(seedRows.length == k,
      s"corpus has ${seedRows.length} vectors, need >= k=$k for seeding")
    var cb = PqCodebooks(subDim, Array.tabulate(m)(j =>
      seedRows.map(v => v.slice(j * subDim, (j + 1) * subDim))))
    for (_ <- 1 to iters) {
      // one pass: inline (subspace, code, subvector) for every vector,
      // then mean per (subspace, code, coordinate)
      val assigned = df.select(inline(array((0 until m).map { j =>
        struct(lit(j).as("__j"), codeOf(col(vecCol), j, cb).as("__code"),
          sub(col(vecCol), j, subDim).as("__sv"))
      }: _*)))
      val means = assigned
        .select(col("__j"), col("__code"),
          posexplode(col("__sv")).as(Seq("__pos", "__x")))
        .groupBy("__j", "__code", "__pos")
        .agg(avg(col("__x").cast("double")).as("__m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (jc, rows) =>
          jc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toSeq
        }
      cb = PqCodebooks(subDim, Array.tabulate(m)(j =>
        Array.tabulate(k)(c => means.getOrElse((j, c), cb.codebooks(j)(c)))))
    }
    cb
  }

  /** The m-byte PQ codes of a vector via interpreted higher-order
    * functions — m·k `aggregate` folds per row. Portable baseline;
    * [[encode]] auto-upgrades to the codegen'd
    * [[graft.plans.PqEncode]] (bit-identical — same accumulation order
    * and tie rule) when the session registered
    * [[graft.plans.GraftExtensions]].
    *
    * Mirrors the native expression's dimension check (same message):
    * without it this path would silently emit codes for a
    * mis-dimensioned vector (`slice` truncates, `zip_with` pads nulls)
    * while the native path throws — and a pipeline that ran clean
    * without GraftExtensions would start failing once they were
    * registered. Null vectors pass through as null on both paths.
    */
  def encodeFold(cb: PqCodebooks)(vec: Column): Column = {
    val expected = cb.m * cb.subDim
    val checked = when(size(vec) === expected, vec)
      .otherwise(raise_error(concat(
        lit("pq_encode: vector has "), size(vec).cast("string"),
        lit(s" elements, codebooks expect $expected"))))
    // null passthrough FIRST (the native expression is null-safe; the
    // raw fold would fold a null vector into a garbage code array)
    when(vec.isNull, lit(null).cast("array<tinyint>"))
      .otherwise(array((0 until cb.m).map(j =>
        codeOf(checked, j, cb).cast("tinyint")): _*))
  }

  /** The m × k × subDim codebooks as a nested array literal — KBs,
    * rides the plan like a broadcast value.
    */
  private def codebooksLit(cb: PqCodebooks): Column =
    array(cb.codebooks.toIndexedSeq.map(cents =>
      array(cents.toIndexedSeq.map(Similarity.vecLit): _*)): _*)

  /** The m-byte PQ codes of a vector — `array<tinyint>`, the stored
    * representation. Native codegen'd expression when available
    * (bit-identical to [[encodeFold]]; ~10× faster on the sf0.1
    * encode scan — 1.52 s → 0.15 s median at m=8, k=16, d=64 — because
    * the fold path pays m·k interpreted `aggregate` evaluations per
    * row).
    */
  def encode(cb: PqCodebooks)(vec: Column): Column =
    if (graft.plans.GraftExtensions.hasNative("pq_encode"))
      call_function("pq_encode", vec, codebooksLit(cb))
    else encodeFold(cb)(vec)

  /** THE ADC lookup table of one query: `lut(j)(c)` = ⟨query_j,
    * centroid_{j,c}⟩, each a left-to-right double fold from `0.0`. Both
    * [[approxDot]] (driver side) and the per-query-row closure of
    * [[Similarity.queryIvfPqBatch]] build it here, so single-query and
    * batch ADC scores are bit-identical. A codebook/query dim mismatch
    * fails fast — a truncated table would rank candidates by prefix
    * dots and return plausible-looking wrong neighbors.
    */
  private[pipeline] def adcTable(cb: PqCodebooks,
      query: Seq[Float]): Array[Array[Double]] = {
    require(query.length == cb.m * cb.subDim,
      s"query dim ${query.length} != codebook dim ${cb.m * cb.subDim} " +
        s"(m=${cb.m} x subDim=${cb.subDim})")
    Array.tabulate(cb.m) { j =>
      cb.codebooks(j).map { c =>
        var dp = 0.0
        var i = 0
        while (i < c.length) {
          dp += query(j * cb.subDim + i).toDouble * c(i).toDouble
          i += 1
        }
        dp
      }
    }
  }

  /** ADC score of a codes column against one query: the m×k
    * [[adcTable]] is computed driver-side and shipped as literal arrays
    * — scoring is m `element_at`s + adds per row, no decode, no shuffle.
    */
  def approxDot(cb: PqCodebooks, query: Seq[Float])(codes: Column): Column = {
    val lut = adcTable(cb, query)
    (0 until cb.m).map { j =>
      element_at(array(lut(j).toIndexedSeq.map(lit): _*),
        element_at(codes, j + 1).cast("int") + 1)
    }.reduce(_ + _)
  }

  /** Approximate top-`n` by ADC over a pre-encoded corpus: narrow scan +
    * TakeOrdered — the candidate stage; rerank the survivors against the
    * float vectors for exact results.
    */
  def pqTopK(coded: DataFrame, idCol: String, codesCol: String,
      cb: PqCodebooks, query: Seq[Float], n: Int): DataFrame =
    coded.withColumn("pq_score", approxDot(cb, query)(col(codesCol)))
      .orderBy(col("pq_score").desc, col(idCol))
      .limit(n)
}
