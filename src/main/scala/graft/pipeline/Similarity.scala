package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`), north-star
  * extension (the reference has no vector surface).
  *
  * All vector math is built from Spark's higher-order array functions
  * (`zip_with` + `aggregate`) — codegen-native, no UDF boxing, and the fold
  * order is the array order, so any oracle that sums in element order
  * reproduces the doubles bit-for-bit.
  *
  * Scale design:
  *  - single-query top-k = narrow map (cosine against a literal vector) +
  *    `TakeOrderedAndProject` — no shuffle of the corpus;
  *  - [[signBandTopK]] = random-hyperplane-style LSH on the coordinate sign
  *    pattern: the candidate filter is again narrow (band signatures are
  *    compared against the query's literal signatures), cutting the exact
  *    cosine work to the matching buckets;
  *  - batch ANN (query *set*) = [[signBands]] on both sides + a bucket
  *    equi-join on (band, sig) — same banded shape as MinHash LSH, never a
  *    cross join.
  */
object Similarity {

  /** Elementwise-fold dot product in double precision (array-order fold). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in ONE array pass: the fold accumulates
    * (dot, ‖a‖², ‖b‖²) in a struct — higher-order functions evaluate
    * interpreted, so fusing the three folds cuts the per-pair cost 3×
    * while producing bit-identical sums (same element order, same ops).
    * Portable baseline; [[cosine]] auto-upgrades to the codegen'd
    * [[graft.plans.CosineSimilarity]] when the session registered
    * [[graft.plans.GraftExtensions]].
    */
  def cosineFold(a: Column, b: Column): Column = {
    val zipped = zip_with(a, b, (x, y) =>
      struct(x.cast("double").as("x"), y.cast("double").as("y")))
    val acc = aggregate(zipped,
      struct(lit(0.0).as("dp"), lit(0.0).as("na"), lit(0.0).as("nb")),
      (s, p) => struct(
        (s("dp") + p("x") * p("y")).as("dp"),
        (s("na") + p("x") * p("x")).as("na"),
        (s("nb") + p("y") * p("y")).as("nb")))
    acc("dp") / (sqrt(acc("na")) * sqrt(acc("nb")))
  }

  /** Cosine similarity; native codegen'd expression when available
    * (bit-identical to [[cosineFold]] — same accumulation order).
    */
  def cosine(a: Column, b: Column): Column =
    if (graft.plans.GraftExtensions.hasNative("cosine_sim"))
      call_function("cosine_sim", a, b)
    else cosineFold(a, b)

  /** Literal column for a query vector (broadcast as part of the plan). */
  def vecLit(v: Seq[Float]): Column = array(v.map(x => lit(x)): _*)

  /** Per-vector symmetric int8 scale: max|x|/127 (1.0 for the all-zero
    * vector so quantization stays total). Kept alongside the codes; the
    * per-element dequantization error is bounded by scale/2.
    */
  def int8Scale(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x.cast("double"))))
    when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127.0)
  }

  /** Int8 codes for an embedding under `scale` — the standard 4× cut in
    * storage and shuffle width for a large embedding store (ship
    * `(scale, codes)` instead of float32s; cosine is scale-invariant, so
    * ranking by the dequantized vectors equals ranking by the codes).
    * Round-half-away-from-zero in double, exact in any ANSI engine.
    */
  def int8Codes(vec: Column, scale: Column): Column =
    transform(vec, x => round(x.cast("double") / scale).cast("tinyint"))

  /** Dequantized view of int8 codes: `code * scale`, double precision. */
  def dequantize(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  /** Exact brute-force cosine top-k against one query vector: narrow scan +
    * TakeOrdered — the correctness baseline every ANN variant is judged
    * against.
    */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame =
    df.withColumn("cosine", cosine(col(vecCol), vecLit(query)))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** Sign-pattern band signatures: `nBands` bands of `bitsPerBand`
    * coordinates each; a band's signature is the '1'/'0' sign pattern of its
    * coordinates. Equal-signature bands ⇒ the vectors lie on the same side
    * of those coordinate hyperplanes — the axis-aligned special case of
    * random-hyperplane (SimHash) LSH for cosine similarity.
    */
  def signBands(vec: Column, nBands: Int, bitsPerBand: Int): Seq[Column] =
    (0 until nBands).map { b =>
      concat((1 to bitsPerBand).map(i =>
        when(element_at(vec, b * bitsPerBand + i) > 0f, lit("1"))
          .otherwise(lit("0"))): _*)
    }

  /** Fail fast when the embedding dimension can't fill the requested
    * bands: out-of-range `element_at` would throw mid-job under ANSI mode
    * (or, with ANSI off, silently give every vector identical padding
    * bands — collapsing the LSH into an all-pairs join).
    */
  private def requireDim(df: DataFrame, vecCol: String, needed: Int): Unit =
    df.select(size(col(vecCol)).as("d")).head(1).foreach { r =>
      require(r.getInt(0) >= needed,
        s"embedding dim ${r.getInt(0)} < nBands*bitsPerBand = $needed")
    }

  /** LSH-filtered cosine top-k: only rows sharing ≥1 sign-band with the
    * query are scored. The band filter is a narrow predicate against
    * literal signatures — zero shuffle added over the scan.
    */
  def signBandTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nBands: Int = 16,
      bitsPerBand: Int = 4): DataFrame = {
    require(query.length >= nBands * bitsPerBand,
      s"query dim ${query.length} < nBands*bitsPerBand = ${nBands * bitsPerBand}")
    val qBands = signBands(vecLit(query), nBands, bitsPerBand)
    val rowBands = signBands(col(vecCol), nBands, bitsPerBand)
    val anyShared = rowBands.zip(qBands)
      .map { case (r, q) => r === q }
      .reduce(_ || _)
    df.filter(anyShared)
      .withColumn("cosine", cosine(col(vecCol), vecLit(query)))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Banded candidate pairs between two vector sets (self-join when
    * `right eq left`): explode each side to (band, sig) and equi-join — the
    * bucketed many-query ANN path. Returns distinct (id_a, id_b), id_a <
    * id_b on self-joins.
    *
    * @param maxBucket optional skew guard: band buckets larger than this
    *   are dropped from candidate generation (an oversized bucket means a
    *   dense region where "near-duplicate" loses meaning and the pair count
    *   explodes quadratically; standard LSH practice is to skip or re-band
    *   them). `None` disables the extra aggregate.
    */
  def signBandCandidates(df: DataFrame, idCol: String, vecCol: String,
      nBands: Int = 8, bitsPerBand: Int = 8,
      maxBucket: Option[Int] = None): DataFrame = {
    // both sides of the self-join read the banded frame — persisting it
    // lets the self-join reuse one materialisation of the signatures. The
    // cache must not outlive the call, so the thin (id_a, id_b) result is
    // materialised eagerly before the bands cache is released.
    val bands = bandedSignatures(df, idCol, vecCol, nBands, bitsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Materialize(candidatePairPlan(bands, idCol, maxBucket))
    finally bands.unpersist()
  }

  /** The banded (id, band, sig) frame behind [[signBandCandidates]]. */
  private[graft] def bandedSignatures(df: DataFrame, idCol: String,
      vecCol: String, nBands: Int, bitsPerBand: Int): DataFrame = {
    requireDim(df, vecCol, nBands * bitsPerBand)
    df.select(col(idCol), posexplode(
        array(signBands(col(vecCol), nBands, bitsPerBand): _*))
      .as(Seq("band", "sig")))
  }

  /** Lazy candidate-pair plan over a banded frame — split out so tests can
    * assert the join shape (equi-join, never cartesian) on the plan that
    * actually generates candidates, which [[signBandCandidates]]'s
    * materialisation would otherwise hide.
    */
  private[graft] def candidatePairPlan(bands: DataFrame, idCol: String,
      maxBucket: Option[Int]): DataFrame = {
    val kept = maxBucket.fold(bands) { m =>
      val small = bands.groupBy("band", "sig")
        .agg(count(lit(1)).as("__n")).filter(col("__n") <= m)
        .select("band", "sig")
      bands.join(small, Seq("band", "sig"))
    }
    val a = kept.select(col(idCol).as("id_a"), col("band"), col("sig"))
    val b = kept.select(col(idCol).as("id_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** The grouping sidecar of a TWO-LEVEL index
    * ([[buildIvfIndexTwoLevel]]): the level-1 centroids and, for each
    * level-2 cell, the level-1 group it belongs to. Persisted with the
    * index so every against-index operation (append, incremental
    * semantic dedup, streaming ingest) re-derives the SAME
    * group-restricted assignment the landed corpus was built with —
    * without it a probe would global-argmax into cells the landed rows
    * were never assigned by.
    */
  final case class TwoLevelMeta(l1: Array[Seq[Float]],
      cellGroup: Array[Int])

  /** IVF-style ANN: a deterministic coarse quantizer (the `nCentroids`
    * lowest-id vectors act as centroids) assigns every vector to its
    * highest-cosine cell in one narrow pass; a query then probes only its
    * `nProbe` nearest cells before exact scoring. The inverted-file analog
    * of [[signBandTopK]]: recall is governed by nProbe instead of band
    * width.
    *
    * A built index is the coarse centroids + the corpus with its cell
    * assignment materialised in a `__cell` column. Build once, query
    * many — the serving pattern: the full-corpus assignment scan happens
    * at build time, and each query then touches only its `nProbe` cells.
    * At 100 TB, persist with [[writeIvfIndex]] (PARTITIONED BY `__cell`)
    * so a query prunes cell files at the source instead of filtering a
    * full scan — demonstrated by the PartitionFilters plan assertion in
    * PipelineSpec.
    */
  final case class IvfIndex(centroids: Array[Seq[Float]],
      assigned: DataFrame, idCol: String, vecCol: String,
      twoLevel: Option[TwoLevelMeta] = None)

  /** THE row-level centroid kernels, one definition each — every cell
    * assignment, own-centroid score and probe ranking (build, k-means,
    * append, against-index, single and batch queries) calls these, so
    * no two paths can drift. Serializable: the UDF closures capture it,
    * and it holds only the centroid matrix.
    *
    * It runs as a closure UDF, not as inline centroid literals: those
    * generate code linear in nCentroids·dim, which at 16 centroids × 64
    * dims already exceeds HotSpot's JIT bytecode limit and leaves the
    * fused stage in the bytecode interpreter (and a production
    * quantizer's thousands of centroids do not compile at all).
    *
    * Every cosine is [[cosineFold]]'s arithmetic bit for bit (double
    * products and sums in array order, then
    * `dp / (sqrt(‖v‖²) · sqrt(‖c‖²))` — the ANN value oracles pin this).
    * A vector whose dimension differs from the centroids' raises: a
    * truncated dot product would land the row in a plausible wrong cell
    * (or the query on a prefix cosine's wrong cells) silently.
    */
  private[graft] final class CentroidScorer(centroids: Array[Seq[Float]])
      extends Serializable {
    private val cents: Array[Array[Float]] = centroids.map(_.toArray)
    private val dim = cents.headOption.fold(0)(_.length)
    /** Every cell, in order — the candidate set of a flat scan. */
    val all: Array[Int] = cents.indices.toArray

    private def checkDim(v: Array[Float], what: String): Unit =
      require(cents.isEmpty || v.length == dim,
        s"$what dim ${v.length} != index dim $dim")

    private def fold(v: Array[Float], ce: Array[Float]): Double = {
      var dp = 0.0; var nv = 0.0; var nc = 0.0
      var i = 0
      while (i < ce.length) {
        val x = v(i).toDouble; val y = ce(i).toDouble
        dp += x * y; nv += x * x; nc += y * y
        i += 1
      }
      dp / (math.sqrt(nv) * math.sqrt(nc))
    }

    /** Cosine of `v` to centroid `cell`. The `Seq` forms (what the UDFs
      * receive) copy the vector to an array once per call, so no fold
      * unboxes an element.
      */
    def cos(v: Seq[Float], cell: Int): Double = cos(v.toArray, cell)

    def cos(v: Array[Float], cell: Int): Double = {
      checkDim(v, "vector")
      fold(v, cents(cell))
    }

    /** Cosine of two vectors of the centroids' dimension (already
      * through [[argmax]]): the pair score, as [[cosine]] gives it.
      */
    def pairCos(a: Array[Float], b: Array[Float]): Double = fold(a, b)

    /** The highest-cosine cell of `v` among `cells` (-1 when `cells` is
      * empty). Ties go to the LATER cell (`>=` under the scan), and a
      * NaN cosine (a zero vector or centroid) outranks everything —
      * exactly the struct-max ordering of the old literal form.
      */
    def argmax(v: Seq[Float], cells: Array[Int]): Int =
      argmax(v.toArray, cells)

    def argmax(v: Array[Float], cells: Array[Int]): Int = {
      checkDim(v, "vector")
      var best = -1
      var bestKey = Double.NegativeInfinity
      var k = 0
      while (k < cells.length) {
        val cos = fold(v, cents(cells(k)))
        val key = if (cos.isNaN) Double.PositiveInfinity else cos
        if (best < 0 || key >= bestKey) { bestKey = key; best = cells(k) }
        k += 1
      }
      best
    }

    /** The query's `n` highest-cosine cells, best first: a stable sort
      * on −cos, so ties go to the lower cell and a NaN cosine sorts
      * last. A null query raises rather than probing nothing: the batch
      * paths would explode it away, and the query row would silently
      * vanish from every result.
      */
    def probe(v: Seq[Float], n: Int): Seq[Int] = {
      require(v != null, "ANN query with a null vector — every query " +
        "must carry an embedding")
      val a = v.toArray
      checkDim(a, "ANN query")
      all.map(c => c -> fold(a, cents(c))).sortBy(-_._2).take(n)
        .map(_._1).toSeq
    }
  }

  /** Argmax-cosine cell assignment column, one closure UDF over the
    * [[CentroidScorer]] ([[CentroidScorer.argmax]]: ties toward the
    * higher cell, NaN outranks). A null vector assigns null.
    */
  private def cellOf(vecCol: String, centroids: Array[Seq[Float]])
      : Column = {
    val s = new CentroidScorer(centroids)
    udf((v: Seq[Float]) => Option(v).map(s.argmax(_, s.all)))
      .apply(col(vecCol))
  }

  /** THE cell assignment of an index's geometry: [[cellOf]] over flat
    * centroids, [[twoLevelCellOf]] over a two-level grouping. Both
    * builds, [[assignCells]] and [[appendToIvfIndex]] call it, so landed
    * and probed cells can never disagree.
    */
  private def indexCellOf(vecCol: String, centroids: Array[Seq[Float]],
      twoLevel: Option[TwoLevelMeta]): Column =
    twoLevel.fold(cellOf(vecCol, centroids))(
      twoLevelCellOf(vecCol, _, centroids))

  /** Build the IVF index: coarse quantizer seeded from the `nCentroids`
    * lowest-id vectors, optionally refined by `kmeansIters` rounds of
    * spherical k-means, then one narrow pass assigning every vector to
    * its argmax-cosine cell. Driver work is O(nCentroids · dim) per
    * round; the per-round job is one explode + hash aggregate.
    *
    * `kmeansIters = 0` (default) keeps the raw seeds: fully reproducible
    * bit-for-bit, the oracle path. Trained centroids give better cell
    * balance and recall on skewed corpora; init, iteration count, and
    * the argmax tie rule are all pinned, so the only residual
    * nondeterminism is floating-point summation order inside the cell
    * means — it can flip the assignment of a vector near-equidistant
    * between cells, never the algorithm's structure.
    */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, kmeansIters: Int = 0): IvfIndex = {
    var centroids: Array[Seq[Float]] = df.orderBy(col(idCol))
      .limit(nCentroids).select(vecCol).collect()
      .map(_.getSeq[Float](0))
    for (_ <- 1 to kmeansIters) {
      // spherical k-means step: cell centroid = mean of its members'
      // DIRECTIONS (unit vectors) — cosine is norm-invariant, so letting
      // high-norm members dominate a plain mean would bias the cell.
      // collect is O(nCentroids · dim) rows, the heavy work is one
      // explode + partial-aggregated groupBy.
      val nrm = norm(col(vecCol))
      val means = df.filter(nrm > 0.0)
        .select(cellOf(vecCol, centroids).as("__cell"),
          posexplode(transform(col(vecCol), x => x.cast("double") / nrm))
            .as(Seq("__pos", "__x")))
        .groupBy("__cell", "__pos").agg(avg("__x").as("__m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
        }
      // empty cells keep their previous centroid
      centroids = centroids.zipWithIndex.map { case (c, i) =>
        means.getOrElse(i, c)
      }
    }
    IvfIndex(centroids,
      df.withColumn("__cell", indexCellOf(vecCol, centroids, None)),
      idCol, vecCol)
  }

  /** TWO-LEVEL coarse quantizer build — the assignment shape that
    * survives auto-sized cell counts. The flat [[buildIvfIndex]] scan
    * is O(n · nCells · dim) per corpus pass; under the "nCells grows
    * with the corpus" contract (nCells = n/targetCell) that is
    * QUADRATIC in n — the 10× rehearsal measured the auto-sized flat
    * transform at 14.8× (assignment-bound), vs ~2–3× for every linear
    * family. The published fix (IMI / hierarchical coarse quantizers)
    * is to route assignment through a first level of ~√nCells
    * centroids: level-1 seeds are the ⌈√nCells⌉ lowest-id vectors;
    * each vector takes its argmax level-1 group (the [[cellOf]] rule —
    * ties high, NaN outranks, null stays null, dim mismatch raises);
    * each level-1 group contributes its ⌈nCells/c1⌉ lowest-id MEMBERS
    * as level-2 seeds (globally numbered in (group, id) order — these
    * are the index's `centroids`); and the final cell is the argmax
    * level-2 seed WITHIN the vector's own group (ties toward the
    * higher global cell). Per-row work is O((√nCells + nCells/√nCells)
    * · dim) ≈ 2√nCells·dim — linear-in-n total at any auto-sized cell
    * count.
    *
    * The trade vs flat: assignment is approximate (a vector near a
    * group boundary may sit closer to another group's seed), which for
    * the SemDeDup consumer means a near-boundary pair can be missed —
    * the same recall trade `nProbe` makes on the query side, and the
    * reason the flat build remains the default at hand-sized cell
    * counts. Deterministic end to end (every rule pinned above), so
    * `q_semdedup_2l` replays the full two-level chain in DuckDB.
    * Returned as an [[IvfIndex]] carrying its [[TwoLevelMeta]]
    * (centroids = the level-2 seeds): [[writeIvfIndex]] persists the
    * grouping (a `grp` column in the centroid sidecar + an `l1`
    * sidecar), [[assignCells]] and [[appendToIvfIndex]] re-derive the
    * SAME group-restricted assignment from it, and the SemDeDup
    * machinery composes unchanged — probed cells always match landed
    * cells, exactly the flat layout's contract ([[reclusterIvfIndex]]
    * re-sizes either form; its `twoLevel` flag picks the target). The
    * landed centroid count is Σ min(|groupᵢ|, ⌈nCells/c1⌉) — it can
    * land UNDER `nCells` (small groups contribute fewer seeds) or
    * OVER it (c1·⌈nCells/c1⌉ ≥ nCells; e.g. nCells = 5 → c1 = 3,
    * m = 2 → up to 6 cells): size downstream state from
    * `centroids.length`, not the request.
    */
  def buildIvfIndexTwoLevel(df: DataFrame, idCol: String,
      vecCol: String, nCells: Int): IvfIndex = {
    import org.apache.spark.sql.expressions.Window
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    val c1 = math.ceil(math.sqrt(nCells.toDouble)).toInt
    val m = math.ceil(nCells.toDouble / c1).toInt
    val l1: Array[Seq[Float]] = df.orderBy(col(idCol)).limit(c1)
      .select(vecCol).collect().map(_.getSeq[Float](0))
    val withL1 = df.withColumn("__l1", cellOf(vecCol, l1))
    val w = Window.partitionBy("__l1").orderBy(col(idCol))
    // the level-2 seed table: O(nCells) rows to the driver — the same
    // driver-state bound as the flat build's centroid collect
    val seeds = withL1.filter(col("__l1").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= m)
      .select(col("__l1"), col(idCol), col(vecCol))
      .orderBy("__l1", idCol)
      .collect()
    val centroids: Array[Seq[Float]] = seeds.map(_.getSeq[Float](2))
    val meta = TwoLevelMeta(l1, seeds.map(_.getInt(0)))
    // the extra level-1 re-scan inside the assignment is O(√nCells)
    IvfIndex(centroids,
      withL1.drop("__l1")
        .withColumn("__cell", indexCellOf(vecCol, centroids, Some(meta))),
      idCol, vecCol, Some(meta))
  }

  /** The composed two-level assignment — the probe/build rule of a
    * [[buildIvfIndexTwoLevel]] index: the [[CentroidScorer.argmax]]
    * group over `meta.l1`, then the argmax over the cells OF THAT GROUP
    * (ties toward the higher global cell). Defensively, a vector whose
    * level-1 group holds no cells falls back to the global argmax —
    * under the pinned tie rules every group is anchored by its own
    * seed (a seed's self-cosine is maximal), so the branch is
    * unreachable for any corpus-built index, but a total rule beats a
    * null cell on the append path.
    */
  private def twoLevelCellOf(vecCol: String, meta: TwoLevelMeta,
      centroids: Array[Seq[Float]]): Column = {
    val groups = new CentroidScorer(meta.l1)
    val cells = new CentroidScorer(centroids)
    val byGroup: Map[Int, Array[Int]] = centroids.indices
      .groupBy(meta.cellGroup).map { case (g, xs) => g -> xs.toArray }
    val f = udf { (v: Seq[Float]) =>
      if (v == null) None
      else Some(cells.argmax(v,
        byGroup.getOrElse(groups.argmax(v, groups.all), cells.all)))
    }
    f(col(vecCol))
  }

  /** Each row's cosine to the centroid of its ASSIGNED cell — the
    * own-centroid prototypicality score SemDeDup's survivor rule ranks
    * on, for flat and two-level indexes alike (a two-level row's cell
    * need not be its global argmax). A null vector or cell scores null.
    */
  private[graft] def centroidCosAt(vecCol: String, cellCol: String,
      centroids: Array[Seq[Float]]): Column = {
    val s = new CentroidScorer(centroids)
    val f = udf { (v: Seq[Float], cell: java.lang.Integer) =>
      if (v == null || cell == null) None
      else Some(s.cos(v, cell.intValue()))
    }
    f(col(vecCol), col(cellCol))
  }

  /** The driver-side single-query probe ([[CentroidScorer.probe]]). */
  private def probeCells(idx: IvfIndex, query: Seq[Float],
      nProbe: Int): Seq[Int] =
    new CentroidScorer(idx.centroids).probe(query, nProbe)

  /** The SINGLE-query probe predicate: a literal `IN` over the
    * driver-ranked probe cells. Deliberately NOT the [[probedCellScan]]
    * semi-join the batch/against-index paths use: here the list is
    * bounded by the caller's `nProbe` (a per-query constant — the
    * corpus-proportional nCells never reaches this site outside an
    * explicit full-probe parity call, which is a deliberate full scan),
    * a planning-time literal gives STATIC partition pruning with no
    * runtime subquery, and past the optimizer's In→InSet threshold the
    * executed form is one set probe — never generated code linear in
    * the list.
    */
  private def probeFilter(probes: Seq[Int]): Column =
    col("__cell").isInCollection(probes)

  /** Query a built index: rank the query's `nProbe` nearest cells on the
    * driver (O(nCentroids) work), scan only those cells, exact cosine +
    * TakeOrdered inside them.
    */
  def queryIvf(idx: IvfIndex, query: Seq[Float], k: Int,
      nProbe: Int = 2): DataFrame = {
    val probes = probeCells(idx, query, nProbe)
    idx.assigned
      .filter(probeFilter(probes))
      .withColumn("cosine", cosine(col(idx.vecCol), vecLit(query)))
      .orderBy(col("cosine").desc, col(idx.idCol))
      .limit(k)
      .drop("__cell")
  }

  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nCentroids: Int = 16,
      nProbe: Int = 2): DataFrame =
    queryIvf(buildIvfIndex(df, idCol, vecCol, nCentroids), query, k, nProbe)

  /** Batch ANN: a whole DataFrame of queries resolved through the index
    * in ONE distributed plan — the many-query serving shape, where a
    * per-query [[queryIvf]] driver loop would serialize. Each query's
    * `nProbe` nearest cells come from [[CentroidScorer.probe]] (a
    * narrow projection), explode to (query, probe cell), equi-join the
    * cell column of the assigned corpus — at scale the corpus is
    * partitioned by `__cell`, so the join prunes to probed cells — and
    * the exact-cosine top-k cut is a window over the HIGH-cardinality
    * query id (every window partition is one query's ≤ nProbe cells of
    * candidates, never a giant partition).
    *
    * Tie rules match [[queryIvf]] exactly: probe ties toward the lower
    * cell id, result ties toward the lower corpus id.
    *
    * NOTE: the call itself runs a small eager job (it materialises the
    * thin query projection) — the returned frame is lazy, the corpus
    * pruning happens inside it ([[probedCellScan]]: one broadcast of
    * the distinct probed cells, partition-pruned at runtime). The query
    * frame may be non-deterministic; it is materialised exactly once.
    *
    * Output: query id (as `qIdCol`), all corpus columns, `cosine`.
    */
  def queryIvfBatch(idx: IvfIndex, queries: DataFrame, qIdCol: String,
      qVecCol: String, k: Int, nProbe: Int = 2): DataFrame =
    ivfBatchPlan(idx, queries, qIdCol, qVecCol, k, nProbe,
      cosine(col(idx.vecCol), col("__qv")), dropCols = Seq("__cell"))

  /** Recall@k audit — the evaluation operator every approximate index
    * needs before serving: per query, how much of the EXACT top-k the
    * approximate path recovered. `exact` and `approx` are any two
    * (query id, result id, …) frames (e.g. [[queryIvfBatch]] at full
    * probe vs a small `nProbe`; brute force vs [[signBandTopK]]).
    * Output per query id: `n_hit` (intersection size), `n_exact`, and
    * `recall` = n_hit / n_exact. Shape: two thin |queries|·k frames
    * through one equi-join and two aggregates — evaluation cost scales
    * with the query sample, never the corpus.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, qIdCol: String,
      idCol: String): DataFrame = {
    // distinct: duplicate (query, id) rows in either frame (a multi-cell
    // union, say) must count as one hit, or recall can exceed 1.0
    val e = exact.select(col(qIdCol), col(idCol)).distinct()
    val a = approx.select(col(qIdCol), col(idCol)).distinct()
    val hit = e.join(a, Seq(qIdCol, idCol))
      .groupBy(qIdCol).agg(count(lit(1)).as("n_hit"))
    e.groupBy(qIdCol).agg(count(lit(1)).as("n_exact"))
      .join(hit, Seq(qIdCol), "left")
      .select(col(qIdCol),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_exact"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"))
  }

  /** Batch ANN through an int8 index ([[int8Index]]/[[writeIvfInt8Index]]):
    * [[queryIvfBatch]]'s one-plan query-set shape with the scoring
    * swapped to the dequantized codes — each probed cell is read once
    * per touching query as d bytes of codes, scored by codegen'd cosine
    * (the native expression takes the double/float mix), no float fetch
    * anywhere. Tie rules match [[queryIvfInt8]].
    */
  def queryIvfInt8Batch(idx: IvfIndex, queries: DataFrame, qIdCol: String,
      qVecCol: String, k: Int, nProbe: Int = 2): DataFrame =
    ivfBatchPlan(idx, queries, qIdCol, qVecCol, k, nProbe,
      cosine(dequantize(col(Int8CodesCol), col(Int8ScaleCol)), col("__qv")),
      dropCols = Seq("__cell", Int8ScaleCol, Int8CodesCol))

  /** The per-row probe-cell array for a `__qv` query-vector column —
    * [[CentroidScorer.probe]] as a closure UDF, so the batch paths and
    * the driver-side single-query path share one definition that cannot
    * drift.
    */
  private def probeCellsExpr(idx: IvfIndex, nProbe: Int): Column = {
    val s = new CentroidScorer(idx.centroids)
    val f = udf { (v: Seq[Float]) => s.probe(v, nProbe) }
    f(col("__qv"))
  }

  /** Restrict a `__cell`-carrying corpus to the cells of `cells` (any
    * thin one-column frame of cell ids) by a BROADCAST left-semi join —
    * THE probed-cell prefilter of every against-index plan (batch ANN,
    * incremental semantic dedup). Joining the corpus on `__cell` alone
    * cannot prune partitions at the source (a filter can't cross a join
    * without runtime pruning), and the previous form — collect the cell
    * set, filter with an inline-literal `IN` — re-created the
    * JIT-cliff / giant-analysis-tree shape under the "nCells grows with
    * the corpus" contract: a worst-case batch probes millions of cells
    * and the literal list becomes the plan. The semi-join broadcasts
    * the distinct cell ids (ints — a few MB even at millions of cells,
    * never the query vectors) and keeps the file skip through DYNAMIC
    * partition pruning: on a [[writeIvfIndex]]-family layout Spark
    * derives the `__cell` partition filter from the reused broadcast at
    * runtime (`dynamicpruningexpression` in the scan, spec-asserted),
    * so a probe still reads exactly the probed cells' files — the
    * difference between `|probed cells|` and the whole corpus per
    * batch — with no driver round-trip and no literal tree.
    *
    * The `>= 0` guard is load-bearing, not defensive: cell ids are
    * centroid indices (non-negative by construction), and the
    * comparison predicate is what marks the broadcast side "selective"
    * to the optimizer's partition-pruning rule — a bare distinct
    * projection would not qualify and the scan would read every cell.
    *
    * Callers MUST pass cells derived from an already-materialised query
    * frame (see [[pinnedQueryFrame]]): the semi-join build and the
    * downstream candidate plan read the frame independently, and if a
    * non-deterministic source re-evaluated between the two, a query
    * could probe a cell the prefilter excluded — silently dropping its
    * candidates.
    */
  private[pipeline] def probedCellScan(corpus: DataFrame,
      cells: DataFrame): DataFrame = {
    val c = cells
      .select(col(cells.columns.head).cast("int").as("__probe_cell"))
      .filter(col("__probe_cell") >= 0)
      .distinct()
    corpus.join(broadcast(c), col("__cell") === col("__probe_cell"),
      "left_semi")
  }

  /** The internal (`__qid`, `__qv`) query projection, materialised
    * eagerly ([[Materialize]]) so every consumer — the probed-cell
    * semi-join's build, the candidate explode, the rerank join — reads
    * the SAME rows: a non-deterministic query frame is truncated and read
    * once, a deterministic one recomputes lost blocks from lineage. It is
    * thin (id + vector) and batch-sized by construction, so the eager
    * job is cheap. A serving loop frees it per batch with
    * [[Materialize.scope]].
    */
  private def pinnedQueryFrame(queries: DataFrame, qIdCol: String,
      qVecCol: String): DataFrame =
    Materialize(queries
      .select(col(qIdCol).as("__qid"), col(qVecCol).as("__qv")))

  /** The shared one-plan batch shape behind [[queryIvfBatch]] and
    * [[queryIvfInt8Batch]]: per-query probes ([[probeCellsExpr]]), cell
    * equi-join, `score` per candidate, per-query top-k window (ties
    * toward the lower corpus id).
    */
  private def ivfBatchPlan(idx: IvfIndex, queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int, nProbe: Int,
      score: Column, dropCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // internal names so query columns can never collide with corpus ones
    val q = pinnedQueryFrame(queries, qIdCol, qVecCol)
    val cellsDf = q.select(explode(probeCellsExpr(idx, nProbe)).as("__probe"))
    val candidates = q
      .withColumn("__probe", explode(probeCellsExpr(idx, nProbe)))
      .join(probedCellScan(idx.assigned, cellsDf),
        col("__probe") === col("__cell"))
      .withColumn("cosine", score)
    val w = Window.partitionBy("__qid")
      .orderBy(col("cosine").desc, col(idx.idCol))
    candidates
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select((col("__qid").as(qIdCol) +:
        idx.assigned.columns.filterNot(dropCols.contains).map(col) :+
        col("cosine")).toIndexedSeq: _*)
  }

  /** Persist a built IVF index as the partition-pruned serving layout:
    * the assigned corpus written PARTITIONED BY `__cell`, so a query's
    * `nProbe` cell filter becomes a PARTITION filter at the parquet
    * source — only the probed cells' files are ever opened, instead of
    * filtering a full-corpus scan. This is the 100 TB shape: cell count
    * is chosen so one cell ≈ a few GB of files, and a top-k query then
    * reads `nProbe` cells regardless of corpus size. The centroids (tiny
    * — nCentroids · dim floats) ride along as a sidecar table with the
    * id/vector column names, so the index round-trips without external
    * metadata.
    */
  def writeIvfIndex(idx: IvfIndex, path: String): Unit = {
    // id-sorted within each cell's files: id-range row-group stats then
    // prune point fetches by id (the queryIvfPq rerank stage) to the few
    // groups holding the requested ids
    idx.assigned.sortWithinPartitions(col("__cell"), col(idx.idCol))
      .write.mode("overwrite")
      .partitionBy("__cell").parquet(s"$path/corpus")
    writeSidecars(idx, s"$path/centroids", s"$path/l1")
  }

  /** The centroid sidecar write — shared by [[writeIvfIndex]] and the
    * [[reclusterIvfIndex]] staging path so both persist the same
    * (flat vs two-level) geometry. A two-level index records each
    * cell's level-1 group in a `grp` column and the level-1 centroids
    * as a second sidecar at `l1Path` — an against-index probe must
    * re-derive the GROUP-RESTRICTED assignment the landed rows were
    * built with, which the plain sidecar cannot express.
    */
  private def writeSidecars(idx: IvfIndex, centPath: String,
      l1Path: String): Unit = {
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    idx.twoLevel match {
      case None =>
        idx.centroids.zipWithIndex
          .map { case (c, i) => (i, c, idx.idCol, idx.vecCol) }.toSeq
          .toDF("cell", "centroid", "id_col", "vec_col")
          .coalesce(1)
          .write.mode("overwrite").parquet(centPath)
      case Some(tl) =>
        idx.centroids.zipWithIndex
          .map { case (c, i) =>
            (i, c, idx.idCol, idx.vecCol, tl.cellGroup(i))
          }.toSeq
          .toDF("cell", "centroid", "id_col", "vec_col", "grp")
          .coalesce(1)
          .write.mode("overwrite").parquet(centPath)
        tl.l1.zipWithIndex.map { case (c, g) => (g, c) }.toSeq
          .toDF("g", "centroid")
          .coalesce(1)
          .write.mode("overwrite").parquet(l1Path)
    }
  }

  /** Load an index written by [[writeIvfIndex]]. The returned index's
    * `assigned` frame is the cell-partitioned parquet table, so
    * [[queryIvf]]/[[queryIvfBatch]] cell predicates prune partitions at
    * the source (asserted on `PartitionFilters` in PipelineSpec).
    */
  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex =
    loadIvfIndex(spark, path, spark.read.parquet(s"$path/corpus"))

  /** [[loadIvfIndex]] with the corpus frame already in hand — pairs
    * with `detectIvfLayout(fields)` so a caller that sniffed the layout
    * from the corpus schema (the streaming servers) pays ONE footer
    * read, not a second for the load.
    */
  def loadIvfIndex(spark: SparkSession, path: String,
      corpus: DataFrame): IvfIndex = {
    val (centroids, idCol, vecCol, tl) = loadCentroidMeta(spark, path)
    IvfIndex(centroids, corpus, idCol, vecCol, tl)
  }

  /** The centroid sidecar(s) of a persisted index — shared by
    * [[loadIvfIndex]] and [[appendToIvfIndex]] so both see the same
    * (flat vs two-level) assignment geometry. A `grp` column in the
    * sidecar marks a [[buildIvfIndexTwoLevel]] layout, whose level-1
    * centroids are read from the `l1` sidecar.
    */
  private def loadCentroidMeta(spark: SparkSession, path: String)
      : (Array[Seq[Float]], String, String, Option[TwoLevelMeta]) = {
    val df = spark.read.parquet(s"$path/centroids")
    val meta = df.orderBy("cell").collect()
    require(meta.nonEmpty, s"no centroids found under $path/centroids")
    val centroids = meta.map(_.getSeq[Float](1))
    val tl =
      if (!df.schema.fieldNames.contains("grp")) None
      else {
        val grpIdx = df.schema.fieldIndex("grp")
        val l1 = spark.read.parquet(s"$path/l1").orderBy("g").collect()
          .map(_.getSeq[Float](1))
        require(l1.nonEmpty, s"two-level index at $path has no l1 " +
          "sidecar — the centroid table carries a grp column")
        Some(TwoLevelMeta(l1, meta.map(_.getInt(grpIdx))))
      }
    (centroids, meta.head.getString(2), meta.head.getString(3), tl)
  }

  /** Assign `df`'s `vecCol` vectors to their argmax-cosine cell under
    * this index's (frozen) centroids, appending `__cell` — the
    * batch-side half of every against-index operation (append, serving,
    * incremental semantic dedup), exposed so they all share ONE
    * assignment rule (ties toward the higher cell, as the build).
    * Narrow: the centroids ride in the scorer's closure, no shuffle.
    */
  def assignCells(idx: IvfIndex, df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__cell", indexCellOf(vecCol, idx.centroids, idx.twoLevel))

  /** Fold newly-ingested vectors INTO a persisted IVF-family index at
    * `path` WITHOUT re-clustering — the vector side of the incremental
    * ingest loop: each new vector takes its argmax-cosine cell under the
    * EXISTING centroid sidecar (which is never rewritten, so cell
    * geometry is stable and every previously-persisted row keeps its
    * cell) and lands as new files in the cell-partitioned corpus, in
    * whichever row shape the layout was written with — detected from
    * the persisted corpus schema and sidecars:
    *   - plain [[writeIvfIndex]]: the row + `__cell`;
    *   - [[writeIvfPqIndex]]: the pq sidecar's codebooks encode the new
    *     rows' `__codes` (codebooks are NOT retrained — same trade as
    *     the centroids);
    *   - [[writeIvfInt8Index]]: per-row symmetric scale + int8 codes,
    *     floats dropped.
    *
    * The trade every IVF deployment makes: appended vectors get the
    * best cell under the OLD centroids, which drift from the grown
    * corpus's optimum over many appends — recall decays gracefully, and
    * the fix is a periodic rebuild (re-clustering in place would move
    * EXISTING rows between cells, i.e. a full rewrite anyway). Appended
    * files keep the id-sorted-within-cell property for their own rows,
    * so row-group id stats still prune rerank point fetches. Duplicate
    * ids are not checked: an ANN index tolerates them (the id would
    * surface twice in results) — pre-dedup batches upstream.
    */
  def appendToIvfIndex(spark: SparkSession, path: String,
      newVectors: DataFrame, idCol: String, vecCol: String): Unit = {
    val (centroids, metaIdCol, metaVecCol, tl) =
      loadCentroidMeta(spark, path)
    require(metaIdCol == idCol && metaVecCol == vecCol,
      s"index at $path keys on ($metaIdCol, $metaVecCol), " +
        s"not ($idCol, $vecCol)")
    val corpusFields =
      spark.read.parquet(s"$path/corpus").schema.fieldNames
    val assigned =
      newVectors.withColumn("__cell", indexCellOf(vecCol, centroids, tl))
    val shaped = detectIvfLayout(corpusFields.toSeq) match {
      case IvfLayout.Pq =>
        // sidecar-only load: the append needs the encoder, not a second
        // read of the corpus footers it already sniffed
        val cb = loadPqCodebooks(spark, path)
        assigned.withColumn(PqCodesCol, Pq.encode(cb)(col(vecCol)))
      case IvfLayout.Int8 =>
        assigned
          .withColumn(Int8ScaleCol, int8Scale(col(vecCol)))
          .withColumn(Int8CodesCol,
            int8Codes(col(vecCol), col(Int8ScaleCol)))
          .drop(vecCol)
      case IvfLayout.Float => assigned
    }
    require(shaped.columns.sorted.sameElements(corpusFields.sorted),
      s"batch columns [${shaped.columns.sorted.mkString(", ")}] do not " +
        s"match the persisted corpus [${corpusFields.sorted.mkString(", ")}]")
    shaped.select(corpusFields.map(col).toSeq: _*)
      .sortWithinPartitions(col("__cell"), col(idCol))
      .write.mode("append").partitionBy("__cell").parquet(s"$path/corpus")
  }

  /** Fold an append-grown cell layout back into consolidated, id-sorted
    * per-cell files — [[appendToIvfIndex]]'s maintenance-window
    * companion, working on any of the three persisted layouts (it
    * rewrites rows as-is; codes and sidecars are untouched). Restores
    * the full id-sort within each cell, so row-group id stats prune
    * rerank point fetches like a fresh [[writeIvfIndex]] again.
    * `filesPerCell` sizes the output (raise it when single cells exceed
    * a few GB). MUST NOT run concurrently with readers or appends;
    * crash-safe at any interruption point via [[IndexMaintenance]]
    * (stage → mark → swap; an interrupted swap heals on the next call,
    * before anything is read).
    */
  def compactIvfIndex(spark: SparkSession, path: String,
      filesPerCell: Int = 1): Unit = {
    require(filesPerCell >= 1, "filesPerCell must be >= 1")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(root, "corpus")
    IndexMaintenance.recoverOrSweep(fs, live)
    val idx = loadIvfIndex(spark, path)
    // RANGE-partition on (cell, id): partitions align with the cell
    // dirs (hash on the pair would spread every cell across every
    // partition and multiply files) and the id sort is already the
    // range order
    idx.assigned
      .repartitionByRange(idx.centroids.length * filesPerCell,
        col("__cell"), col(idx.idCol))
      .sortWithinPartitions(col("__cell"), col(idx.idCol))
      .write.partitionBy("__cell")
      .parquet(IndexMaintenance.stagingOf(live).toString)
    IndexMaintenance.swap(fs, live)
  }

  /** Re-derive the coarse quantizer of a persisted IVF-family index at
    * a NEW cell count and re-assign every row — THE remedy the
    * hot-cell guards prescribe ("re-cluster the index with more
    * cells"): appends land under FROZEN centroids, so corpus growth
    * eventually leaves cells oversized or drifted, and neither
    * compaction (same cells, fewer files) nor append (sidecar never
    * rewritten) can fix that. `nCells` typically comes from
    * [[Dedup.semDeDupAutoCells]] over the grown corpus (nCells =
    * ⌈n/targetCell⌉); `kmeansIters` defaults > 0 — a re-cluster run
    * exists to fix BALANCE, which trained centroids serve better than
    * raw lowest-id seeds (pass 0 for the bit-reproducible oracle
    * path, which `q_ivf_recluster` gates).
    *
    * Float and PQ layouts re-cluster in place (PQ codes are per-vector
    * and cell-independent — ADC scoring never reads the cell id, so
    * the codebook sidecar and every row's codes ride along verbatim);
    * `twoLevel` picks the TARGET form independently of the source
    * form: `false` (default) rebuilds the flat exact-assignment
    * quantizer, `true` rebuilds through [[buildIvfIndexTwoLevel]] —
    * the linear-assignment shape for corpus-proportional `nCells`,
    * which is exactly the regime a re-cluster run is sizing into. The
    * whole-root swap replaces ALL sidecars (grouped or plain), so
    * probes and the landed corpus stay consistent either side of the
    * swap in every source→target combination;
    * the int8 layout is REJECTED loudly: it dropped the float vectors
    * at write time, and re-clustering from dequantized codes would
    * silently move near-boundary vectors between cells under
    * quantization error — rebuild from the source corpus instead.
    *
    * Crash-safe via the [[IndexMaintenance]] pending-marker swap over
    * the whole index ROOT: corpus and sidecars publish TOGETHER —
    * swapping only the corpus directory would open a window where rows
    * sit in cells the old centroid sidecar does not describe, which
    * every probe would silently mis-prune. MUST NOT run concurrently
    * with readers or appends (the compaction contract).
    */
  def reclusterIvfIndex(spark: SparkSession, path: String, nCells: Int,
      kmeansIters: Int = 2, filesPerCell: Int = 1,
      twoLevel: Boolean = false): Unit = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(filesPerCell >= 1, "filesPerCell must be >= 1")
    // the flat rebuild's assignment is O(n · nCells) — at the
    // corpus-proportional cell counts this operator exists for (the
    // hot-cell remedy re-sizes with semDeDupAutoCells), that is
    // QUADRATIC, the very shape the 10× rehearsal flagged at 4.7–17×.
    // twoLevel = true rebuilds through buildIvfIndexTwoLevel instead:
    // linear assignment, grouped sidecars staged and swapped like the
    // flat ones. The two-level build has no k-means refinement (its
    // balance comes from corpus-proportional sizing), so the caller
    // must pin kmeansIters = 0 rather than have a default silently
    // ignored.
    require(!twoLevel || kmeansIters == 0,
      "twoLevel reclustering has no k-means refinement — pass " +
        "kmeansIters = 0")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexMaintenance.recoverOrSweep(fs, root)
    // also heal a corpus-level compaction interrupted before this call
    IndexMaintenance.recoverOrSweep(fs,
      new org.apache.hadoop.fs.Path(root, "corpus"))
    val corpus = spark.read.parquet(s"$path/corpus")
    val layout = detectIvfLayout(corpus.schema.fieldNames.toSeq)
    require(layout != IvfLayout.Int8,
      "reclusterIvfIndex needs the float vectors; the int8 layout " +
        "dropped them at write time, and re-clustering from " +
        "dequantized codes would silently move near-boundary vectors " +
        "between cells — rebuild the index from the source corpus " +
        "instead")
    val old = loadIvfIndex(spark, path, corpus)
    // every eager step (seed collect, k-means rounds, the staged
    // writes) reads the LIVE layout; nothing touches it until the swap
    val idx =
      if (twoLevel)
        buildIvfIndexTwoLevel(corpus.drop("__cell"), old.idCol,
          old.vecCol, nCells)
      else buildIvfIndex(corpus.drop("__cell"), old.idCol,
        old.vecCol, nCells, kmeansIters)
    val stg = IndexMaintenance.stagingOf(root)
    idx.assigned
      .repartitionByRange(nCells * filesPerCell, col("__cell"),
        col(old.idCol))
      .sortWithinPartitions(col("__cell"), col(old.idCol))
      .write.partitionBy("__cell")
      .parquet(new org.apache.hadoop.fs.Path(stg, "corpus").toString)
    writeSidecars(idx,
      new org.apache.hadoop.fs.Path(stg, "centroids").toString,
      new org.apache.hadoop.fs.Path(stg, "l1").toString)
    if (layout == IvfLayout.Pq)
      spark.read.parquet(s"$path/pq").coalesce(1).write
        .parquet(new org.apache.hadoop.fs.Path(stg, "pq").toString)
    IndexMaintenance.swap(fs, root)
  }

  /** The three persisted IVF corpus layouts ([[writeIvfIndex]] float,
    * [[writeIvfInt8Index]], [[writeIvfPqIndex]]) as a closed type, so
    * every consumer that must pick a code path per layout dispatches on
    * ONE definition instead of re-sniffing columns.
    */
  sealed trait IvfLayout
  object IvfLayout {
    case object Float extends IvfLayout
    case object Int8 extends IvfLayout
    case object Pq extends IvfLayout
  }

  /** Which layout lives at `path` — THE single column-sniff
    * ([[appendToIvfIndex]] and the streaming server both dispatch on
    * it): PQ codes beat int8 codes beat plain floats, mirroring what
    * the writers can actually produce.
    */
  def detectIvfLayout(spark: SparkSession, path: String): IvfLayout =
    detectIvfLayout(
      spark.read.parquet(s"$path/corpus").schema.fieldNames.toSeq)

  /** [[detectIvfLayout]] from already-read corpus field names — no
    * second footer/listing round trip when the caller has the schema
    * in hand (an object-store append pays real latency per read).
    */
  def detectIvfLayout(fields: Seq[String]): IvfLayout =
    if (fields.contains(PqCodesCol)) IvfLayout.Pq
    else if (fields.contains(Int8CodesCol)) IvfLayout.Int8
    else IvfLayout.Float

  /** PQ codes column name in a composed IVF×PQ index. */
  val PqCodesCol = "__codes"

  /** Persist an IVF index whose corpus rows ALSO carry their `m`-byte PQ
    * codes — the composed 100 TB serving layout. A query then peels three
    * layers of I/O off the corpus scan: (1) the probe predicate prunes to
    * `nProbe` cells' FILES (partition filter, as [[writeIvfIndex]]);
    * (2) inside those files the ADC stage reads only the id + codes
    * columns — m bytes per row instead of 4·d for the floats (32× at
    * d=64, m=8); (3) only the top-`rerank` ADC survivors' float vectors
    * are ever materialised, for exact rescoring. The codebooks (m·k
    * subvectors, KBs) join the centroids as a second sidecar so the
    * composed index round-trips without external metadata.
    */
  def writeIvfPqIndex(idx: IvfIndex, cb: Pq.PqCodebooks,
      path: String): Unit = {
    val coded = idx.assigned
      .withColumn(PqCodesCol, Pq.encode(cb)(col(idx.vecCol)))
    writeIvfIndex(idx.copy(assigned = coded), path)
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    cb.codebooks.zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.map { case (c, code) => (j, code, c) }
    }.toSeq.toDF("j", "code", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/pq")
  }

  /** Load a composed index written by [[writeIvfPqIndex]]: the
    * cell-partitioned corpus (with its `__codes` column) plus the
    * reconstructed codebooks.
    */
  def loadIvfPqIndex(spark: SparkSession,
      path: String): (IvfIndex, Pq.PqCodebooks) =
    (loadIvfIndex(spark, path), loadPqCodebooks(spark, path))

  /** [[loadIvfPqIndex]] with the corpus frame already in hand — see
    * the [[loadIvfIndex]] overload.
    */
  def loadIvfPqIndex(spark: SparkSession, path: String,
      corpus: DataFrame): (IvfIndex, Pq.PqCodebooks) =
    (loadIvfIndex(spark, path, corpus), loadPqCodebooks(spark, path))

  /** Just the PQ codebook sidecar of a [[writeIvfPqIndex]] layout —
    * for callers that need the encoder but not the corpus (the append
    * path), sparing the corpus footer read [[loadIvfPqIndex]] pays.
    */
  def loadPqCodebooks(spark: SparkSession,
      path: String): Pq.PqCodebooks = {
    val rows = spark.read.parquet(s"$path/pq").orderBy("j", "code")
      .collect()
    require(rows.nonEmpty, s"no PQ codebooks found under $path/pq")
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * k, s"codebook table has ${rows.length} " +
      s"rows, expected $m x $k")
    val byJc = rows.map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2)).toMap
    val cbs = Array.tabulate(m)(j => Array.tabulate(k)(c => byJc((j, c))))
    Pq.PqCodebooks(cbs.head.head.length, cbs)
  }

  /** ANN through a composed IVF×PQ index: prune to the `nProbe` probed
    * cells, rank their rows by the ADC approximate dot, keep the top
    * `rerank` candidates, exact-cosine rescore ONLY those, return the
    * top `k`.
    *
    * Two stages so the float column is never scanned wholesale: the ADC
    * stage projects only (id, codes) — parquet column pruning leaves the
    * float vectors on disk, so the probed-cell scan reads m bytes of
    * codes per row instead of 4·d of floats — and runs EAGERLY (one
    * job) to collect the `rerank` surviving ids. The rerank stage then
    * point-fetches those ids: the `In(id)` predicate is pushed to the
    * parquet source, and [[writeIvfIndex]] lays each cell file out
    * id-sorted, so row-group stats prune the fetch to the few groups
    * holding survivors. (A single lazy plan would be simpler but reads
    * the float column for every probed row — the cost PQ exists to
    * avoid.)
    *
    * Result ties follow [[queryIvf]] (cosine desc, id asc), so with
    * `rerank` ≥ the probed cells' row count the answer EQUALS
    * [[queryIvf]]'s — shrinking `rerank` trades recall for float I/O.
    */
  def queryIvfPq(idx: IvfIndex, cb: Pq.PqCodebooks, query: Seq[Float],
      k: Int, nProbe: Int = 2, rerank: Int = 100): DataFrame = {
    val probes = probeCells(idx, query, nProbe)
    val cells = idx.assigned.filter(probeFilter(probes))
    val surviving = cells
      .select(col(idx.idCol),
        Pq.approxDot(cb, query)(col(PqCodesCol)).as("pq_score"))
      .orderBy(col("pq_score").desc, col(idx.idCol))
      .limit(rerank)
      .select(idx.idCol).collect().map(_.get(0)).toSeq
    cells
      .filter(col(idx.idCol).isInCollection(surviving))
      .withColumn("cosine", cosine(col(idx.vecCol), vecLit(query)))
      .orderBy(col("cosine").desc, col(idx.idCol))
      .limit(k)
      .drop("__cell", PqCodesCol)
  }

  /** Column names of the int8 cell layout ([[writeIvfInt8Index]]). */
  val Int8ScaleCol = "__scale"
  val Int8CodesCol = "__q"

  /** The corpus of `idx` re-expressed in int8 storage: per-row
    * symmetric scale + one signed byte per coordinate, float vectors
    * DROPPED — the 4× cheaper cousin of PQ for mid-accuracy tiers
    * (PQ stores m bytes/vector but needs the floats kept for rerank;
    * int8 stores d bytes + 8 and serves straight from the codes,
    * since dequantize-on-read reconstructs the vector to within
    * scale/2 per coordinate). Cell assignment is computed from the
    * full-precision vectors at build time, so quantization never moves
    * a vector between cells.
    */
  def int8Index(idx: IvfIndex): IvfIndex = {
    val coded = idx.assigned
      .withColumn(Int8ScaleCol, int8Scale(col(idx.vecCol)))
      .withColumn(Int8CodesCol,
        int8Codes(col(idx.vecCol), col(Int8ScaleCol)))
      .drop(idx.vecCol)
    idx.copy(assigned = coded)
  }

  /** Persist an IVF index in the int8 serving layout: the
    * [[int8Index]] corpus PARTITIONED BY `__cell` (same pruning story
    * as [[writeIvfIndex]]) with the centroid sidecar — a probed top-k
    * query reads `nProbe` cells of d-byte codes instead of 4·d floats,
    * and nothing else: there is no second float fetch, because scoring
    * dequantizes in the scan. Load with [[loadIvfIndex]]; query with
    * [[queryIvfInt8]].
    */
  def writeIvfInt8Index(idx: IvfIndex, path: String): Unit =
    writeIvfIndex(int8Index(idx), path)

  /** Top-k through an int8 index: probe `nProbe` cells, score the
    * DEQUANTIZED vectors (`code · scale`, double) by exact cosine in
    * one narrow pass — cosine is scale-invariant, so the only deviation
    * from full-precision scores is the bounded per-coordinate
    * quantization error (≤ scale/2, i.e. ≤ max|x|/254). Ties follow
    * [[queryIvf]] (cosine desc, id asc).
    */
  def queryIvfInt8(idx: IvfIndex, query: Seq[Float], k: Int,
      nProbe: Int = 2): DataFrame = {
    val probes = probeCells(idx, query, nProbe)
    // cosine() handles the mixed shape natively: the dequantized side is
    // array<double>, the query literal array<float> — the codegen'd
    // cosine_sim widens per element exactly like the portable fold
    idx.assigned
      .filter(probeFilter(probes))
      .withColumn("cosine",
        cosine(dequantize(col(Int8CodesCol), col(Int8ScaleCol)),
          vecLit(query)))
      .orderBy(col("cosine").desc, col(idx.idCol))
      .limit(k)
      .drop("__cell", Int8ScaleCol, Int8CodesCol)
  }

  /** Batch ANN through a composed IVF×PQ index: a whole DataFrame of
    * queries resolved against the coded corpus in ONE distributed plan —
    * the actual 100 TB serving shape, where [[queryIvfPq]]'s per-query
    * driver collect would serialize the query set.
    *
    * Stages, all in a single lazy plan:
    *  1. each query row computes its `nProbe` probe cells
    *     ([[CentroidScorer.probe]]) AND its m×k [[Pq.adcTable]] (the
    *     per-subspace query·centroid dots, O(m·k·subDim) per QUERY row,
    *     once — never per candidate), then explodes to (query, probe);
    *  2. the probe equi-joins the corpus's `__cell` column projected to
    *     (id, cell, codes) ONLY — on a [[writeIvfPqIndex]] layout the
    *     cell predicate prunes partitions and column pruning leaves the
    *     float vectors on disk, so the candidate scan reads m bytes of
    *     codes per row; ADC per candidate is m `element_at` lookups +
    *     adds into the query's LUT;
    *  3. a window over the HIGH-cardinality query id keeps the top
    *     `rerank` ADC candidates per query (each partition is one
    *     query's ≤ nProbe cells, never a giant partition);
    *  4. survivors re-join the query vectors (thin — `rerank` rows per
    *     query) and the corpus floats on (`__cell`, id), so only
    *     survivors' float vectors materialise and the join still prunes
    *     to probed cells; exact cosine + a top-`k` window finish.
    *
    * Tie rules match [[queryIvfPq]] / [[queryIvfBatch]] exactly (probe
    * ties toward the lower cell, ADC cut and result ties toward the
    * lower corpus id), and the LUT fold is element-order double math —
    * so on a single query this EQUALS [[queryIvfPq]], and with `rerank`
    * ≥ the probed cells' row count it equals [[queryIvfBatch]].
    *
    * NOTE: like [[queryIvfBatch]], the call runs a small eager job (the
    * query-projection materialisation) before returning the lazy result
    * frame; corpus pruning rides inside it via [[probedCellScan]].
    *
    * Output: query id (as `qIdCol`), all corpus columns except the
    * internals (`__cell`, codes), `pq_score` of the survivor, `cosine`.
    */
  def queryIvfPqBatch(idx: IvfIndex, cb: Pq.PqCodebooks,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      nProbe: Int = 2, rerank: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = pinnedQueryFrame(queries, qIdCol, qVecCol)
    // probe selection shared with ivfBatchPlan — ONE definition of the
    // probe tie rule, so the 'equals queryIvfBatch at full rerank'
    // invariant cannot silently drift
    val probes = probeCellsExpr(idx, nProbe)
    // the query's ADC lookup table as ONE closure over the codebooks —
    // Pq.adcTable, the table Pq.approxDot ships as literals, so
    // single-query results match queryIvfPq. m·k inline HOF folds with
    // literal centroids would be the JIT-cliff shape CentroidScorer
    // avoids: generated code linear in m·k·subDim that de-JITs whatever
    // stage it fuses into and caps the codebook size.
    val lut = udf { (v: Seq[Float]) =>
      if (v == null) None
      else Some(Pq.adcTable(cb, v).toIndexedSeq.map(_.toIndexedSeq))
    }.apply(col("__qv"))
    val probed = q
      .withColumn("__lut", lut)
      .withColumn("__probe", explode(probes))
      .select("__qid", "__lut", "__probe")
    // the probed-cell semi-join prunes BOTH corpus scans at the source
    // (one broadcast of the distinct cell ids, reused by the exchange
    // reuse rule and by dynamic partition pruning) — see probedCellScan
    val cellsDf = q.select(explode(probes).as("__probe"))
    // candidate scan: (id, cell, codes) only — floats stay on disk
    val candidates = probed.join(
      probedCellScan(idx.assigned, cellsDf)
        .select(col(idx.idCol), col("__cell"), col(PqCodesCol)),
      col("__probe") === col("__cell"))
    val adc = (0 until cb.m).map { j =>
      element_at(element_at(col("__lut"), j + 1),
        element_at(col(PqCodesCol), j + 1).cast("int") + 1)
    }.reduce(_ + _)
    val wAdc = Window.partitionBy("__qid")
      .orderBy(col("pq_score").desc, col(idx.idCol))
    val survivors = candidates
      .withColumn("pq_score", adc)
      .withColumn("__rn", row_number().over(wAdc))
      .filter(col("__rn") <= rerank)
      .select(col("__qid"), col("__cell"), col(idx.idCol),
        col("pq_score"))
    // rerank: only survivors' floats are read; the (__cell, id) join key
    // keeps partition pruning AND row-group id-stat pruning on the
    // id-sorted cell layout
    val wK = Window.partitionBy("__qid")
      .orderBy(col("cosine").desc, col(idx.idCol))
    survivors
      .join(q, "__qid")
      .join(probedCellScan(idx.assigned, cellsDf)
        .drop(PqCodesCol), Seq("__cell", idx.idCol))
      .withColumn("cosine", cosine(col(idx.vecCol), col("__qv")))
      .withColumn("__rnk", row_number().over(wK))
      .filter(col("__rnk") <= k)
      .select((col("__qid").as(qIdCol) +:
        idx.assigned.columns
          .filterNot(c => c == "__cell" || c == PqCodesCol).map(col) :+
        col("pq_score") :+ col("cosine")).toIndexedSeq: _*)
  }

  /** Embedding near-duplicate pairs: banded candidates + exact cosine ≥
    * threshold. No stage is quadratic in the corpus: with `bitsPerBand`
    * = 8 a band has 256 buckets, so expected bucket size — and with it the
    * candidate volume — stays linear in the corpus for sign-uniform data;
    * wider bands trade recall for an even tighter candidate bound.
    */
  def nearDuplicateVectors(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    signBandCandidates(df, idCol, vecCol, nBands, bitsPerBand)
      .join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
