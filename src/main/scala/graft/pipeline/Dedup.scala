package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.Row
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{XxHash64,
  XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType,
  DataType, DoubleType, FloatType, IntegerType, LongType, ShortType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for training-data pipelines: exact (content-hash
  * groupBy), MinHash+LSH near-dup (banded bucket join — never an all-pairs
  * cross join), and n-gram Jaccard verification.
  *
  * Scale shape, designed for ~100 TB corpora on 1000 executors:
  *  - exact dedup = one hash-partitioned aggregate on a 32-char digest;
  *  - near dedup = explode to (doc, shingle) [narrow] → per-doc signature
  *    aggregate [1 shuffle on doc id] → band explode [narrow] → self-join on
  *    (band, signature) [1 shuffle on band sig; bucket sizes are bounded
  *    because equal signatures are rare for non-duplicates] → exact Jaccard
  *    verify restricted to the candidate pairs [joins against the shingle
  *    table, proportional to candidates, not to n²].
  *  - small inputs skip all of that: near pairs, connected components and
  *    semDeDup each finish on the driver ([[DriverFinish]]) from one
  *    budgeted single-task collect, and take the shapes above past it.
  *
  * Hashes are md5 strings so that an ANSI-SQL oracle can re-derive every
  * intermediate value; `xxhash64` is the drop-in for ~10× cheaper
  * production runs (see [[TextOps.simHash64]] for the pattern).
  */
object Dedup {

  /** Per-thread MD5 instance for hot per-row closures: MessageDigest
    * is not thread-safe and `getInstance` per row is the scratch-
    * allocation pattern that makes wall time GC-topology-sensitive
    * (the `Linkage.Scratch` lesson); `digest()` resets the instance,
    * so each row starts clean. Lives on the object, so each executor
    * JVM materializes it lazily — nothing is serialized.
    */
  private val md5Holder: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** What an against-index probe does when a probed cell's LANDED
    * population exceeds `maxCell` (the quadratic-cell guard of the
    * SemDeDup family).
    *
    *  - [[HotCellPolicy.Fail]] — throw. The batch posture: a job stops,
    *    the operator re-runs after the index is re-clustered; nothing
    *    lands under-deduplicated.
    *  - [[HotCellPolicy.Skip]] — skip the dedup CHECK for rows probing
    *    a hot cell: they pass through unfiltered and the skipped cells
    *    are logged loudly with their populations. The STREAMING
    *    posture (mirroring `ivfServeStream`'s `dropMalformed`): a
    *    throw inside `foreachBatch` replays the same micro-batch from
    *    the checkpoint and throws again, forever, and the remedy —
    *    re-clustering the index — cannot be performed from inside a
    *    wedged stream. Under-dedup of a few rows, surfaced and
    *    repairable by the next batch re-cluster, beats wedged ingest.
    */
  sealed trait HotCellPolicy
  object HotCellPolicy {
    /** Throw on a hot probed cell (the batch default). */
    case object Fail extends HotCellPolicy
    /** Pass rows probing a hot cell through unchecked, log the cells
      * (the streaming default — see [[graft.streaming.StreamMask
      * .semDeDupStream]]).
      */
    case object Skip extends HotCellPolicy
  }

  /** Content hash of the normalized document text. */
  def contentHash(text: Column): Column = md5(TextOps.normalize(text))

  /** Exact-duplicate groups: one row per distinct content, with the number
    * of copies and the survivor id (min). The full dedup decision table —
    * join survivors back or anti-join the rest to materialise the deduped
    * corpus.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), contentHash(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** The deduplicated corpus: keeps exactly the survivor row of every
    * exact-duplicate group (no global window — groupBy + semi join; the
    * final distinct collapses literal row copies that share the survivor
    * id, and only runs over the already-thinned survivors).
    */
  def dropExactDuplicates(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol)
      .select(col("content_hash"), col("keep_id"))
    df.withColumn("__graft_h", contentHash(col(textCol)))
      .join(keep, col("__graft_h") === keep("content_hash") &&
        df(idCol) === keep("keep_id"), "left_semi")
      .drop("__graft_h")
      .distinct()
  }

  /** [[dropExactDuplicates]] with the QUALITY-aware survivor policy —
    * [[dropNearDuplicatesKeepBest]]'s rule for EXACT groups: each
    * content-hash group keeps its highest-`score` member, ties to the
    * lower id. Exact copies share identical normalized text, so a
    * text-DERIVED quality score always ties (degenerating to min-id);
    * the score that makes this operator meaningful is an EXTERNAL
    * signal — source priority, crawl recency, license class ("keep
    * the canonical mirror's copy"). Null scores never win; a group
    * whose EVERY score is null falls back to the min-id survivor
    * (vanishing would silently delete unique content on a scoring
    * outage). Shape: two thin hash-group aggregates + one semi join —
    * no global window, nothing corpus-bounded on the driver.
    */
  def dropExactDuplicatesKeepBest(df: DataFrame, idCol: String,
      textCol: String, score: Column): DataFrame = {
    val scored = df.select(col(idCol).as("id"),
      contentHash(col(textCol)).as("__h"), score.cast("double").as("__s"))
    val best = scored.groupBy("__h").agg(max("__s").as("__m"))
    val keepBest = scored.join(best, "__h")
      .filter(col("__s") === col("__m"))
      .groupBy("__h").agg(min("id").as("__kb"))
    val keep = scored.groupBy("__h").agg(min("id").as("__fallback"))
      .join(keepBest, Seq("__h"), "left")
      .select(col("__h"),
        coalesce(col("__kb"), col("__fallback")).as("keep_id"))
    df.withColumn("__graft_h", contentHash(col(textCol)))
      .join(keep, col("__graft_h") === keep("__h") &&
        df(idCol) === keep("keep_id"), "left_semi")
      .drop("__graft_h")
      .distinct()
  }

  /** Distinct (id, shingle) pairs — delegates to the shared builder
    * ([[TextOps.explodedShingles]]) so the fingerprint sketch and the
    * dedup pipeline can never drift apart on shingle semantics.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    TextOps.explodedShingles(df, idCol, textCol, shingleK)

  /** Per-document MinHash signature: `numHashes` columns `h0..h{n-1}`,
    * h_i = min over shingles of md5("<i>|" + shingle). One shuffle
    * (groupBy id with map-side partial min).
    */
  def minHashSignatures(sh: DataFrame, idCol: String,
      numHashes: Int): DataFrame =
    minHashAgg(sh, idCol, numHashes, hash64 = false)

  /** THE MinHash family: member `i` of a shingle's hash vector — md5 of
    * `"<i>|" + shingle` (oracle-portable), or `xxhash64(i, shingle)`.
    */
  private def minHash(i: Int, hash64: Boolean): Column =
    if (hash64) xxhash64(lit(i), col("shingle"))
    else md5(concat(lit(s"$i|"), col("shingle")))

  private def minHashAgg(sh: DataFrame, idCol: String, numHashes: Int,
      hash64: Boolean): DataFrame =
    sh.groupBy(col(idCol))
      .agg(min(minHash(0, hash64)).as("h0"),
        (1 until numHashes).map(i =>
          min(minHash(i, hash64)).as(s"h$i")): _*)

  /** Production MinHash signatures: `xxhash64(i, shingle)` instead of the
    * md5-string derivation — same shape (one map-side-combined min
    * aggregate), ~10× less hash CPU and 8-byte signature members instead
    * of 32-char strings, at the cost of oracle portability (the ANSI
    * oracle can't re-derive xxhash64). Same banding/verify downstream:
    * [[lshCandidates]] is hash-family-agnostic since the band signature
    * is structural.
    */
  def minHashSignatures64(sh: DataFrame, idCol: String,
      numHashes: Int): DataFrame =
    minHashAgg(sh, idCol, numHashes, hash64 = true)

  /** [[nearDuplicatePairs]] on the xxhash64 production signatures — the
    * path to run at 100 TB; the md5 variant exists to stay oracle-exact.
    * Both finishes and the eager collect are as there.
    */
  def nearDuplicatePairs64(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 8, rowsPerBand: Int = 2,
      shingleK: Int = 3, maxBucket: Option[Int] = None): DataFrame =
    nearPairs(df, idCol, textCol, threshold, numHashes, rowsPerBand,
      shingleK, maxBucket, hash64 = true, DriverFinishRows, NearFinishBytes,
      NearFinishWork)

  /** (id, band, sig) rows of a signature frame — the banded form behind
    * [[lshCandidates]] and the incremental-index family. The band
    * signature is a STRUCT of the band's hash columns: equality on the
    * struct is equality on every member, works for md5 strings and
    * xxhash64 longs alike, and skips a string concat per band.
    */
  private[graft] def bandedSigs(sigs: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val nBands = numHashes / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        struct((0 until rowsPerBand)
          .map(r => col(s"h${b * rowsPerBand + r}").as(s"m$r")): _*).as("sig"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Banded LSH candidate pairs from signatures: concatenate `rowsPerBand`
    * consecutive hashes into a band signature ([[bandedSigs]]), and
    * self-join on equality — the bucket join that replaces the n² scan,
    * shared with [[Similarity.signBandCandidates]]
    * ([[Similarity.candidatePairPlan]]). Returns distinct (id_a, id_b)
    * with id_a < id_b.
    *
    * @param maxBucket optional skew guard (mirrors
    *   [[Similarity.signBandCandidates]]): band buckets larger than this
    *   are dropped before the self-join. A boilerplate-heavy corpus (empty
    *   docs, licence headers) concentrates one band signature, and that
    *   bucket's pair count is quadratic in its size — the one way this
    *   plan degenerates at scale. Standard LSH practice is to skip such
    *   buckets: their members are caught by their other bands or are
    *   degenerate duplicates better handled by exact dedup. `None`
    *   (default) keeps the historical exact-recall behavior.
    */
  def lshCandidates(sigs: DataFrame, idCol: String, numHashes: Int,
      rowsPerBand: Int, maxBucket: Option[Int] = None): DataFrame =
    Similarity.candidatePairPlan(
      bandedSigs(sigs, idCol, numHashes, rowsPerBand), idCol, maxBucket)

  /** Per-doc shingle SET + MinHash signature in ONE aggregate — the
    * shared frame behind [[nearDuplicatePairs]]/[[nearDuplicatePairs64]].
    * The former pipeline consumed the exploded (id, shingle) table FOUR
    * times (signature aggregate, both sides of the intersection join,
    * the size aggregate), which meant four full-table exchanges and —
    * where exchange reuse missed — four executions of the upstream
    * scan/quality/PII/tokenize subtree. Collecting each doc's distinct
    * shingles alongside the h0..h{n-1} mins folds all of it into one
    * exchange: signatures and |set| are columns of this frame, and the
    * Jaccard verify is `size(array_intersect(...))` over two thin
    * id-keyed joins. Values are unchanged — min is associative (the
    * map-side partial min over raw multiplicity rows equals the min
    * over the distinct set) and `collect_set` IS the distinct shingle
    * set. Per-row state is bounded by the doc's own shingle count, so
    * the shape holds at 100 TB.
    */
  private def shingleSetsWithSigs(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int,
      hash64: Boolean): DataFrame = {
    TextOps.explodedShinglesRaw(df, idCol, textCol, shingleK)
      .groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("__shs"),
        (0 until numHashes).map(i => min(minHash(i, hash64)).as(s"h$i")): _*)
  }

  /** The banded-LSH candidate → exact-Jaccard tail shared by the two
    * near-dup entry points, over a [[shingleSetsWithSigs]] frame.
    */
  private def nearPairsFromSets(sets: DataFrame, idCol: String,
      threshold: Double, numHashes: Int, rowsPerBand: Int,
      maxBucket: Option[Int]): DataFrame = {
    val sigs = sets.select(col(idCol) +:
      (0 until numHashes).map(i => col(s"h$i")): _*)
    val cands = lshCandidates(sigs, idCol, numHashes, rowsPerBand,
      maxBucket)
    cands
      .join(sets.select(col(idCol).as("id_a"), col("__shs").as("__sa"),
        size(col("__shs")).cast("long").as("sz_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__shs").as("__sb"),
        size(col("__shs")).cast("long").as("sz_b")), "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_inter", "jaccard")
  }

  /** End-to-end near-duplicate pairs: shingle → MinHash → banded LSH →
    * exact-Jaccard verify ≥ `threshold`, as (`id_a`, `id_b`, `n_inter`,
    * `jaccard`) with id_a < id_b.
    *
    * Two finishes, one result bit for bit:
    *  - Driver finish, for integral or UTF8_BINARY string ids over
    *    UTF8_BINARY text on a batch frame: one single-task collect of
    *    (id, [[TextOps.tokens]]), run when this is CALLED, not when the
    *    result is read. The driver builds each id's distinct shingle set,
    *    takes the same MinHash members as [[minHash]] (MD5, or Spark's own
    *    xxhash64 function), buckets the bands, applies `maxBucket` and
    *    verifies the candidates as the distributed path does; the pairs
    *    return as a local relation. Past [[DriverFinishRows]] documents,
    *    [[NearFinishBytes]] or [[NearFinishWork]] the collected rows are
    *    dropped and the distributed plan is returned.
    *  - Distributed: the returned plan contains no cartesian product at
    *    any stage, and the corpus-sized shingle data crosses exactly ONE
    *    exchange ([[shingleSetsWithSigs]]).
    */
  def nearDuplicatePairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 8, rowsPerBand: Int = 2,
      shingleK: Int = 3, maxBucket: Option[Int] = None): DataFrame =
    nearPairs(df, idCol, textCol, threshold, numHashes, rowsPerBand,
      shingleK, maxBucket, hash64 = false, DriverFinishRows,
      NearFinishBytes, NearFinishWork)

  /** Largest (id, tokens) collect that the near-duplicate pair finish
    * takes on the driver, in bytes: the id as in [[DriverFinish.idBytes]]
    * plus the UTF-8 length of every token.
    */
  private val NearFinishBytes = 8L << 20

  /** Most driver work the near-duplicate pair finish takes on: one unit
    * per MinHash member of a shingle (shingle positions × numHashes), per
    * member pair of a kept band bucket (Σ|bucket|²), and per shingle
    * looked up to verify a candidate pair.
    */
  private val NearFinishWork = 1L << 24

  /** [[nearDuplicatePairs]] (`hash64` false) or [[nearDuplicatePairs64]]
    * with explicit driver-finish budgets in documents, bytes and work; a
    * row budget of 0 forces the distributed path.
    */
  private[graft] def nearPairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int, rowsPerBand: Int,
      shingleK: Int, maxBucket: Option[Int], hash64: Boolean,
      driverRows: Int, driverBytes: Long, driverWork: Long): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val thin = df.select(col(idCol), col(textCol))
    val onDriver =
      if (df.isStreaming || thin.schema(1).dataType != StringType ||
          shingleK < 1 || numHashes < 1 || rowsPerBand < 1) None
      else DriverFinish.ids(thin.schema(0).dataType).flatMap(ids =>
        nearPairsOnDriver(thin, ids, threshold, numHashes, rowsPerBand,
          shingleK, maxBucket, hash64, driverRows, driverBytes, driverWork))
    onDriver.getOrElse(nearPairsFromSets(
      shingleSetsWithSigs(df, idCol, textCol, shingleK, numHashes, hash64),
      idCol, threshold, numHashes, rowsPerBand, maxBucket))
  }

  /** The driver finish of [[nearPairs]] over its thin (id, text) frame:
    * the verified pairs as a local relation, or None past a budget.
    */
  private def nearPairsOnDriver[K](thin: DataFrame, ids: DriverFinish.Ids[K],
      threshold: Double, numHashes: Int, rowsPerBand: Int, shingleK: Int,
      maxBucket: Option[Int], hash64: Boolean, maxRows: Int, maxBytes: Long,
      maxWork: Long): Option[DataFrame] = {
    import ids.order
    val op = if (hash64) "nearDuplicatePairs64" else "nearDuplicatePairs"
    // Spark splits the tokens; binary keeps invalid UTF-8 as its bytes
    val wire = thin.toDF("id", "text").select(col("id").cast(ids.wire),
      TextOps.tokens(col("text")).cast("array<binary>"))
    def tokens(r: Row): collection.Seq[Array[Byte]] =
      if (r.isNullAt(1)) Nil else r.getSeq[Array[Byte]](1)
    def positions(r: Row): Long =
      math.max(0, tokens(r).length - shingleK + 1).toLong
    for {
      rows <- DriverFinish.collect(op, wire, maxRows, maxBytes)(r =>
        DriverFinish.idBytes(r.get(0)) + tokens(r).map(_.length.toLong).sum)
        .toOption
      hashWork = rows.map(positions).sum * numHashes
      if DriverFinish.withinWork(op, hashWork <= maxWork)
      // each id's distinct shingles, its rows merged as groupBy(id)
      // merges them; an id with none is no group, and the null id is one
      // group, last, which fills buckets but never pairs
      sets = rows.groupBy(ids.key(_, 0)).view
        .mapValues(shingleSet(_, shingleK)).filter(_._2.nonEmpty).toMap
      named = sets.keys.flatten.toIndexedSeq.sorted
      groups = named.map(k => sets(Some(k))) ++ sets.get(None)
      // the hashing is most of the finish, and each set hashes alone
      sigs = new Array[Array[Byte]](groups.length).tap(a =>
        java.util.Arrays.parallelSetAll[Array[Byte]](a, (g: Int) =>
          minHashOnDriver(groups(g), numHashes, hash64)))
      width = if (hash64) 8 else 16
      bandBytes = rowsPerBand * width
      buckets = (0 until numHashes / rowsPerBand).flatMap(b =>
          groups.indices.groupBy(g =>
            UTF8String.fromBytes(sigs(g), b * bandBytes, bandBytes)).values)
        .filter(m => maxBucket.forall(m.length <= _))
      bucketWork = buckets.map(m => m.length.toLong * m.length).sum
      if DriverFinish.withinWork(op, hashWork + bucketWork <= maxWork)
      cands = bucketPairs(buckets, named.length)
      pairWork = cands.map { case (a, b) =>
        math.min(groups(a).size, groups(b).size).toLong }.sum
      if DriverFinish.withinWork(op,
        hashWork + bucketWork + pairWork <= maxWork)
    } yield {
      val pairs = cands.flatMap { case (i, j) =>
        val (a, b) = (groups(i), groups(j))
        val inter = (if (a.size <= b.size) a.count(b) else b.count(a)).toLong
        val jaccard = inter.toDouble / (a.size + b.size - inter)
        Option.when(sqlCompare(jaccard, threshold) >= 0)(
          (Seq(named(i), named(j)), Seq[Any](inter, jaccard)))
      }
      val id = thin.schema(0)
      DriverFinish.relation(thin.sparkSession, ids, id.dataType,
        id.nullable, Seq("id_a", "id_b"), pairs.map(_._1),
        Seq(StructField("n_inter", LongType, nullable = false),
          StructField("jaccard", DoubleType)), pairs.map(_._2))
    }
  }

  /** The distinct pairs (i, j), i < j < `n`, of members of one bucket,
    * in order. Members ascend within a bucket, so i < j within it; a
    * member at `n` or past it (the null id) never pairs.
    */
  private def bucketPairs(buckets: Seq[IndexedSeq[Int]],
      n: Int): IndexedSeq[(Int, Int)] = {
    val out = Array.newBuilder[Long]
    for (m <- buckets; x <- m.indices; y <- x + 1 until m.length
        if m(y) < n)
      out += m(x).toLong * n + m(y)
    val sorted = out.result().sorted
    sorted.indices.collect { case i if i == 0 || sorted(i) != sorted(i - 1) =>
      ((sorted(i) / n).toInt, (sorted(i) % n).toInt) }
  }

  /** The distinct word `k`-shingles of one id's (id, tokens) wire rows,
    * each its tokens' bytes joined by a space as `concat_ws` joins them.
    */
  private def shingleSet(rows: Array[Row],
      k: Int): collection.Set[UTF8String] = {
    val set = scala.collection.mutable.HashSet.empty[UTF8String]
    for (r <- rows if !r.isNullAt(1)) {
      val toks = r.getSeq[Array[Byte]](1).toArray
      for (i <- 0 to toks.length - k) {
        val sh = new Array[Byte](
          (i until i + k).map(toks(_).length).sum + k - 1)
        var at = 0
        for (j <- i until i + k) {
          if (j > i) { sh(at) = ' '; at += 1 }
          System.arraycopy(toks(j), 0, sh, at, toks(j).length)
          at += toks(j).length
        }
        set += UTF8String.fromBytes(sh)
      }
    }
    set
  }

  /** [[minHash]]'s signature of one shingle set on the driver: member `i`
    * at bytes [i · w, (i + 1) · w), as bytes whose unsigned order is
    * Spark's order on the member — the MD5 digest (w = 16; its lowercase
    * hex sorts the same), or the xxhash64 value with its sign bit flipped,
    * big-endian (w = 8).
    */
  private def minHashOnDriver(shingles: collection.Set[UTF8String],
      numHashes: Int, hash64: Boolean): Array[Byte] = {
    val w = if (hash64) 8 else 16
    val sig = Array.fill[Byte](numHashes * w)(-1)
    val h = new Array[Byte](w)
    val md = md5Holder.get
    for (i <- 0 until numHashes) {
      val prefix = s"$i|".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val seed = XxHash64Function.hash(i, IntegerType, XxHashSeed)
      for (sh <- shingles) {
        if (hash64)
          java.nio.ByteBuffer.wrap(h).putLong(0, Long.MinValue ^
            XxHash64Function.hash(sh, StringType, seed))
        else {
          md.update(prefix)
          md.update(sh.getBytes)
          md.digest(h, 0, w)
        }
        if (java.util.Arrays.compareUnsigned(h, 0, w, sig, i * w,
            (i + 1) * w) < 0)
          System.arraycopy(h, 0, sig, i * w, w)
      }
    }
    sig
  }

  /** The seed `functions.xxhash64` hashes with. */
  private val XxHashSeed = new XxHash64(Nil).seed

  /** The near-deduplicated corpus in one call: near-dup pairs →
    * connected components → keep each cluster's min-id row, drop every
    * other cluster member. Documents in no near-dup pair pass through
    * untouched (left-anti against the drop set — the drop set is tiny
    * relative to the corpus, so the anti join's build side is the thin
    * one). The composition [[nearDuplicatePairs]] ∘
    * [[connectedComponents]] is what a curation run actually executes;
    * each finishes on the driver when its input fits the driver budgets,
    * and the pair finish collects when this is called.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 8, rowsPerBand: Int = 2,
      shingleK: Int = 3, maxBucket: Option[Int] = None): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol, threshold,
      numHashes, rowsPerBand, shingleK, maxBucket).select("id_a", "id_b")
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** [[dropNearDuplicates]] with a QUALITY-aware survivor policy: each
    * near-dup cluster keeps its highest-`scoreCol` member (ties toward
    * the lower id) instead of blindly the min-id one — the production
    * dedup knob when a quality signal exists (keep the cleanest copy of
    * a template, not the first-crawled one). Shape: the cluster frame
    * joins back only the (id, score) projection, a per-cluster `max_by`
    * struct aggregate picks the survivor, and the corpus anti-joins the
    * loser set — the extra cost over min-id survivors is one thin
    * aggregate over cluster members (tiny relative to the corpus). The
    * pairs and components finish as in [[dropNearDuplicates]].
    */
  def dropNearDuplicatesKeepBest(df: DataFrame, idCol: String,
      textCol: String, scoreCol: String, threshold: Double = 0.8,
      numHashes: Int = 8, rowsPerBand: Int = 2, shingleK: Int = 3,
      maxBucket: Option[Int] = None): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol, threshold,
      numHashes, rowsPerBand, shingleK, maxBucket).select("id_a", "id_b")
    val members = connectedComponents(pairs)
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__s")), "id")
    // two thin aggregates instead of a struct-max with a negated id:
    // the tie-break must stay type-generic (string/uuid ids negate to
    // null and would silently drop whole clusters), so take the max
    // score per cluster, then the MIN id among the members achieving it
    val top = members.groupBy("cluster_id").agg(max("__s").as("__m"))
    val keep = members.join(top, "cluster_id")
      .filter(col("__s") === col("__m"))
      .groupBy("cluster_id").agg(min("id").as("id"))
      .select("id")
    val drop = members.select("id")
      .join(keep, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC near-dup
    * pairs over an embedding column — duplicates by MEANING (template
    * variants, paraphrases, re-renderings) that can share no n-grams at
    * all and therefore slip every text-hash family above. The published
    * recipe: cluster the embeddings into cells, compare pairs only
    * WITHIN a cell, and flag pairs whose cosine clears `threshold`.
    *
    * The cell pass reuses [[Similarity.buildIvfIndex]]'s coarse
    * quantizer (deterministic lowest-id seeds; `kmeansIters` rounds of
    * spherical k-means when cell balance matters more than
    * bit-reproducibility), so the SAME quantizer serves ANN queries and
    * semantic dedup. Returns (`cell`, `id_a`, `id_b`, `cosine`),
    * id_a < id_b, each pair once (cells partition the corpus, so a
    * pair can only meet in one cell).
    *
    * Scale shape: ONE equi-join on the cell id — pair work is
    * Σ(cellᵢ²)/2, and the paper's operating regime (nCells grown with
    * the corpus so cells stay ~constant-sized) keeps that LINEAR in
    * corpus size; never an all-pairs join. `maxCell` fails LOUDLY when
    * a cell exceeds the bound: silently skipping an oversized cell (the
    * LSH `maxBucket` convention) would under-dedup the densest region,
    * which is exactly where semantic duplicates concentrate — the fix
    * is more cells or more k-means rounds, and the error says so.
    */
  def semDeDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16, kmeansIters: Int = 0,
      maxCell: Option[Int] = None): DataFrame =
    semPairsFromIndex(Similarity.buildIvfIndex(
      df.select(col(idCol), col(vecCol)), idCol, vecCol, nCells,
      kmeansIters), threshold, maxCell)

  private def semPairsFromIndex(idx: Similarity.IvfIndex,
      threshold: Double, maxCell: Option[Int]): DataFrame = {
    maxCell.foreach { m =>
      idx.assigned.groupBy("__cell").agg(count(lit(1)).as("n"))
        .filter(col("n") > m).orderBy(col("n").desc).head(1)
        .foreach(r => throw hotCell(r.getInt(0), r.getLong(1), m))
    }
    val a = idx.assigned.select(col("__cell").as("cell"),
      col(idx.idCol).as("id_a"), col(idx.vecCol).as("__va"))
    val b = idx.assigned.select(col("__cell").as("cell"),
      col(idx.idCol).as("id_b"), col(idx.vecCol).as("__vb"))
    a.join(b, "cell")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("cell", "id_a", "id_b", "cosine")
  }

  /** The `maxCell` guard's failure: `cell` holds `n` vectors. */
  private def hotCell(cell: Int, n: Long, m: Int) =
    new IllegalArgumentException(s"semDeDup cell $cell holds $n vectors " +
      s"(> maxCell = $m) — the within-cell pair work would " +
      "explode quadratically there; raise nCells (or kmeansIters) " +
      "until cells are bounded")

  /** Production sizing for the SemDeDup quantizer — the helper that
    * closes the "nCells grows with the corpus" scale contract (the
    * pair work is Σcellᵢ²/2, linear only while cells stay
    * ~constant-sized): nCells = ⌈n / targetCell⌉ from ONE count
    * aggregate over `df`. A plain `count()` rather than an approximate
    * sketch on purpose: on a raw parquet scan Spark answers it from
    * footer metadata, on a derived frame it is one narrow pass — and
    * the result is DETERMINISTIC, so a sized run (and its oracle) is
    * reproducible, which a sampled estimate would break; any nCells
    * within a small factor of the target keeps the pair work linear,
    * so there is nothing for an approximation to buy.
    */
  def semDeDupAutoCells(df: DataFrame, targetCell: Int = 4096): Int = {
    require(targetCell > 0, s"targetCell must be > 0, got $targetCell")
    val n = df.count()
    math.max(1, ((n + targetCell - 1) / targetCell).toInt)
  }

  /** [[semDeDup]] with the quantizer SIZED from the corpus
    * ([[semDeDupAutoCells]]) instead of a hand-picked nCells: at 100×
    * the corpus the cell count grows 100×, per-cell pair work stays
    * ~flat, and `kmeansIters` defaults > 0 because at auto-sized cell
    * counts cell BALANCE (what bounds the worst cell, and with it
    * `maxCell` headroom) matters more than the bit-reproducibility of
    * the raw lowest-id seeds — pass 0 to pin the oracle path. Pairs
    * naturally with a `maxCell` of a small multiple of `targetCell`:
    * under auto-sizing an over-target cell is genuine skew, not
    * mis-sizing.
    *
    * SCALE CAVEAT (the 10× rehearsal's find): this form keeps the
    * FLAT argmax assignment, O(n · nCells · dim) — with nCells ∝ n
    * that is quadratic in the corpus (measured 14.8× at 10×). It is
    * the exact-assignment choice for corpora where nCells stays in
    * the hundreds; at genuinely corpus-proportional cell counts use
    * [[semDeDupTwoLevel]], whose grouped assignment is linear
    * (measured 1.7× at the same 10×).
    */
  def semDeDupAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetCell: Int = 4096, kmeansIters: Int = 2,
      maxCell: Option[Int] = None): DataFrame =
    semDeDup(df, idCol, vecCol, threshold,
      nCells = semDeDupAutoCells(df, targetCell), kmeansIters = kmeansIters,
      maxCell = maxCell)

  /** [[semDeDup]] over the TWO-LEVEL quantizer
    * ([[Similarity.buildIvfIndexTwoLevel]]) — the assignment shape that
    * keeps the AUTO-SIZED transform linear. [[semDeDupAuto]]'s flat
    * assignment is O(n · nCells · dim); with nCells ∝ n that is
    * QUADRATIC — the 10× rehearsal measured the flat auto row at
    * 14.8×, assignment-bound, while every linear family held 2–3×.
    * Routing assignment through ⌈√nCells⌉ level-1 groups cuts per-row
    * work to O(√nCells · dim), restoring linear total work at any
    * corpus-proportional cell count.
    *
    * The trade (the reason BOTH entry points exist): two-level
    * assignment is approximate near group boundaries, so a
    * near-boundary duplicate pair can land in different cells and be
    * missed — acceptable for dedup (SemDeDup is itself a
    * recall/cost trade via nCells) and QUANTIFIED by the
    * `q_ann_recall_2l` audit (grouped vs flat at the same cell count
    * and probe budget against one brute-force exact side; ~0–0.2
    * recall@5 delta per query on the fixtures); [[semDeDupAuto]]
    * remains the exact-assignment form for hand-sized cell counts. Survivors rank on the cosine to the
    * ASSIGNED cell's centroid ([[Similarity.centroidCosAt]]), as in
    * [[semDeDup]]; under group-restricted assignment that cell need not
    * be the row's global argmax.
    * Deterministic end to end (seed cuts and tie rules pinned), so
    * `q_semdedup_2l` replays the whole chain in DuckDB.
    */
  def semDeDupTwoLevel(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetCell: Int = 4096,
      maxCell: Option[Int] = None): DataFrame = {
    val idx = Similarity.buildIvfIndexTwoLevel(
      df.select(col(idCol), col(vecCol)), idCol, vecCol,
      semDeDupAutoCells(df, targetCell))
    semSurvivors(df, idCol,
      semPairsFromIndex(idx, threshold, maxCell),
      idx.assigned.select(col(idx.idCol).as("id"),
        col(idx.vecCol), col("__cell")),
      Similarity.centroidCosAt(idx.vecCol, "__cell", idx.centroids))
  }

  /** The SemDeDup SURVIVOR rule over a pair graph — ONE definition
    * shared by [[semDeDup]] and [[semDeDupTwoLevel]] (which differ
    * only in the quantizer and the prototypicality `score`), and the
    * single Scala mirror of the oracle's `semSurvivorCtes`: connected
    * components over the pairs, each component keeping its
    * LOWEST-score member (ties to the lower id — the
    * least-prototypical copy carries the most information), everyone
    * else anti-joined out of `df`. `memberSrc` must expose `id` plus
    * whatever columns `score` reads; components join it THIN (duplicate
    * candidates only), so the scoring scan runs over member rows, not
    * the corpus a second time.
    */
  private def semSurvivors(df: DataFrame, idCol: String,
      pairGraph: DataFrame, memberSrc: DataFrame, score: Column,
      keepHighest: Boolean = false): DataFrame = {
    val members = connectedComponents(pairGraph.select("id_a", "id_b"))
      .join(memberSrc, "id")
      .withColumn("__c", score)
      .select("id", "cluster_id", "__c")
    val goal = members.groupBy("cluster_id")
      .agg((if (keepHighest) max("__c") else min("__c")).as("__m"))
    val keep = members.join(goal, "cluster_id")
      .filter(col("__c") === col("__m"))
      .groupBy("cluster_id").agg(min("id").as("id"))
      .select("id")
    val drop = members.select("id").join(keep, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** [[semDeDup]] with the QUALITY-aware survivor policy — the
    * [[dropNearDuplicatesKeepBest]] analog for SEMANTIC clusters: each
    * component keeps its highest-`scoreCol` member (ties toward the
    * lower id) instead of the paper's least-prototypical one. The
    * paper's rule optimises for DIVERSITY of the retained set; when a
    * quality signal exists, production dedup usually wants the
    * CLEANEST copy of each meaning instead (keep the well-formatted
    * original, drop the boilerplate-wrapped re-render) — same pair
    * graph, same component machinery, opposite survivor goal. As in
    * [[dropNearDuplicatesKeepBest]], a null score never wins (the max
    * ignores it); documents in no pair pass through untouched. Cost
    * over [[semDeDup]]: nothing — the prototypicality scan is replaced
    * by a thin (id, score) projection of `df` itself.
    */
  def semDeDupKeepBest(df: DataFrame, idCol: String, vecCol: String,
      scoreCol: String, threshold: Double, nCells: Int = 16,
      kmeansIters: Int = 0, maxCell: Option[Int] = None): DataFrame = {
    val idx = Similarity.buildIvfIndex(
      df.select(col(idCol), col(vecCol)), idCol, vecCol, nCells,
      kmeansIters)
    semSurvivors(df, idCol,
      semPairsFromIndex(idx, threshold, maxCell),
      df.select(col(idCol).as("id"), col(scoreCol)),
      col(scoreCol), keepHighest = true)
  }

  /** Incremental SemDeDup — [[semDeDupPairs]]'s AGAINST-INDEX form, the
    * ingest-time question "is this new document semantically a
    * duplicate of anything already landed?" answered without
    * recomputing the corpus (the [[nearDupPairsAgainstIndex]] pattern
    * for embeddings): batch vectors take argmax cells under the
    * index's FROZEN centroids ([[Similarity.assignCells]], the same
    * rule `appendToIvfIndex` lands rows with, so probe cells always
    * match landed cells), and each batch vector scores only against
    * the corpus rows of its own cell. Returns (`cell`, `id_a` corpus,
    * `id_b` batch, `cosine`), cosine ≥ `threshold`.
    *
    * Scale shape: the batch side collapses to its distinct probed
    * cells (≤ nCentroids, read from the materialised thin batch
    * projection — the batch frame may be non-deterministic and is
    * evaluated exactly once) and the corpus scan FILTERS on
    * those cells first — on a [[Similarity.loadIvfIndex]] layout that
    * is parquet partition pruning, so an ingest probe reads only the
    * cells its batch touches regardless of corpus size. The join is
    * the cell equi-join again, never corpus-wide. `maxCell` bounds the
    * CORPUS side of the probed cells, as [[semDeDupPairs]]' guard does
    * — a batch probing a runaway-hot landed cell fails loudly by
    * default (the remedy is re-clustering / compaction with more
    * cells) instead of silently stalling every ingest trigger on a
    * quadratic cell; `onHotCell` picks the posture ([[HotCellPolicy]])
    * when failing is worse than under-checking, i.e. inside a stream.
    */
  def semDeDupPairsAgainstIndex(idx: Similarity.IvfIndex,
      batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxCell: Option[Int] = None,
      onHotCell: HotCellPolicy = HotCellPolicy.Fail): DataFrame = {
    // null-embedding batch rows assign a null cell (cellOf's
    // contract): they can be semantic duplicates of nothing, so they
    // drop out of the pair probe here — and survive semDeDupFilterBatch
    // untouched, matching the self-join form's tolerance — instead of
    // NPE-ing the cell scan (which would kill a long-running
    // semDeDupStream on one malformed row)
    val b = Materialize(Similarity.assignCells(idx,
        batch.select(col(idCol), col(vecCol)), vecCol)
      .filter(col("__cell").isNotNull)
      .select(col("__cell").as("cell"), col(idCol).as("id_b"),
        col(vecCol).as("__vb")))
    // the corpus restricted to the batch's probed cells — a broadcast
    // semi-join on the pinned batch's distinct cells, partition-pruned
    // at runtime on a loadIvfIndex layout (probedCellScan), replacing
    // the collected inline-literal IN whose tree grew with the probed
    // set under the "nCells ∝ corpus" contract
    val probedCorpus =
      Similarity.probedCellScan(idx.assigned, b.select("cell"))
    // hot-cell guard (opt-in): the probed cells whose LANDED population
    // exceeds maxCell — each would make every batch probing it pay a
    // quadratic cell. Eager and bounded: only over-threshold cells (a
    // pathology, not a population) come back to the driver.
    val hot: Array[(Int, Long)] = maxCell match {
      case Some(m) =>
        probedCorpus.groupBy("__cell").agg(count(lit(1)).as("n"))
          .filter(col("n") > m).orderBy(col("n").desc)
          .collect().map(r => (r.getInt(0), r.getLong(1)))
      case None => Array.empty
    }
    if (hot.nonEmpty) onHotCell match {
      case HotCellPolicy.Fail =>
        val (c, n) = hot.head
        throw new IllegalArgumentException(
          s"semDeDup probed cell $c holds $n landed vectors " +
            s"(> maxCell = ${maxCell.get}) — every ingest batch " +
            "probing it would pay a quadratic cell; re-cluster the " +
            "index with more cells (Similarity.reclusterIvfIndex, " +
            "nCells from Dedup.semDeDupAutoCells)")
      case HotCellPolicy.Skip =>
        log.warn("semDeDup: SKIPPING the dedup check for {} hot " +
          "cell(s) over maxCell = {} — {}; batch rows probing them " +
          "pass through UNCHECKED (possible under-dedup) until the " +
          "index is re-clustered with more cells " +
          "(Similarity.reclusterIvfIndex)",
          hot.length, maxCell.get,
          hot.map { case (c, n) => s"cell $c: $n landed" }
            .mkString(", "))
    }
    val checked =
      if (hot.isEmpty) probedCorpus
      // hot set: a handful of pathological cells, never a population —
      // the literal stays bounded
      else probedCorpus
        .filter(!col("__cell").isInCollection(hot.map(_._1).toSeq))
    val a = checked
      .select(col("__cell").as("cell"), col(idx.idCol).as("id_a"),
        col(idx.vecCol).as("__va"))
    a.join(b, "cell")
      .withColumn("cosine", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("cell", "id_a", "id_b", "cosine")
  }

  /** The ingest DECISION over [[semDeDupPairsAgainstIndex]]: the batch
    * with every semantic duplicate of the landed corpus REMOVED — the
    * keep-the-corpus policy (the landed copy always wins; ingest
    * filtering must not destabilise what previous runs already
    * published, mirroring the text-side incremental dedup contract).
    * Survivors are then safe to [[Similarity.appendToIvfIndex]].
    *
    * The batch is materialised ONCE up front ([[Materialize]], full
    * rows — the survivors carry every column) and both the pair probe
    * and the anti-join read it: the batch source is read once, and a
    * non-deterministic batch (rand(), uuid()) scores and filters the
    * SAME rows — its snapshot is truncated, so a lost block fails
    * loudly instead of redrawing them.
    */
  def semDeDupFilterBatch(idx: Similarity.IvfIndex, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      maxCell: Option[Int] = None,
      onHotCell: HotCellPolicy = HotCellPolicy.Fail): DataFrame = {
    val pinned = Materialize(batch)
    // under HotCellPolicy.Skip, rows probing a hot cell form no pairs
    // (their cell is excluded from the corpus side), so they survive
    // this anti-join untouched — pass-through-and-log, never a wedge
    val dup = semDeDupPairsAgainstIndex(idx, pinned, idCol, vecCol,
        threshold, maxCell, onHotCell)
      .select(col("id_b").as(idCol)).distinct()
    pinned.join(dup, Seq(idCol), "left_anti")
  }

  /** The SemDeDup TRANSFORM: [[semDeDupPairs]] → connected components →
    * per component keep the member with the LOWEST cosine to its own
    * cell centroid (the paper's diversity-preserving survivor: the
    * LEAST prototypical copy carries the most information the cluster
    * doesn't already have; ties toward the lower id), every other
    * member dropped. Returns `df` anti-joined with the dropped ids, so
    * the kept rows come back unchanged. Components never span cells
    * (pairs are within-cell), so the survivor rule needs no cross-cell
    * tie story.
    *
    * Two finishes, one result bit for bit:
    *  - Driver finish, for the flat raw-seed quantizer (`kmeansIters`
    *    0) over integral or UTF8_BINARY string ids: one single-task
    *    collect of (id, vector) within [[SemFinishBytes]] and the row
    *    budget of [[connectedComponents]]. The driver takes the seed cut,
    *    assigns, scores in-cell pairs and picks survivors with the same
    *    [[Similarity.CentroidScorer]] kernels the distributed path's UDFs
    *    wrap, and with Spark's NaN order on every comparison. The dropped
    *    ids return as a local relation: two jobs in all. A tie in the
    *    seed cut (which Spark orders arbitrarily), a null seed vector, a
    *    vector with a null element, a tied or null hot cell, or more
    *    than [[SemFinishWork]] of assignment plus pair work all drop the
    *    collected rows and take the distributed path.
    *  - Distributed: [[Similarity.buildIvfIndex]], the cell equi-join of
    *    [[semDeDupPairs]], [[connectedComponents]] on the (thin) pair
    *    set, and two aggregates over component members, each scored by
    *    its cosine to its assigned cell ([[Similarity.centroidCosAt]]);
    *    corpus-scale work stays the one cell equi-join.
    */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16, kmeansIters: Int = 0,
      maxCell: Option[Int] = None): DataFrame =
    semDeDup(df, idCol, vecCol, threshold, nCells, kmeansIters, maxCell,
      DriverFinishRows, SemFinishBytes, SemFinishWork)

  /** Largest (id, vector) collect that [[semDeDup]] finishes on the
    * driver, in bytes: the id as in [[DriverFinish.idBytes]] plus 4 per
    * vector element.
    */
  private val SemFinishBytes = 8L << 20

  /** Most driver work [[semDeDup]] takes on, in units of one
    * vector-element multiply-add: each cosine fold costs dim + 32 (the
    * 32 is the per-fold overhead the measurement showed), and the finish
    * folds vectors · nCells times to assign and at most Σ|cell|² times
    * to score pairs.
    */
  private val SemFinishWork = 1L << 28

  /** [[semDeDup]] with explicit driver-finish budgets in rows, bytes and
    * work; a row budget of 0 forces the distributed path.
    */
  private[graft] def semDeDup(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nCells: Int, kmeansIters: Int,
      maxCell: Option[Int], driverRows: Int, driverBytes: Long,
      driverWork: Long): DataFrame = {
    val thin = df.select(col(idCol), col(vecCol))
    val onDriver = (thin.schema(1).dataType match {
      case ArrayType(FloatType, _) if kmeansIters <= 0 =>
        DriverFinish.ids(thin.schema(0).dataType)
      case _ => None
    }).flatMap(ids => semDropOnDriver(thin, ids, threshold, nCells,
      maxCell, driverRows, driverBytes, driverWork))
    onDriver.fold {
      val idx = Similarity.buildIvfIndex(thin, idCol, vecCol, nCells,
        kmeansIters)
      semSurvivors(df, idCol,
        semPairsFromIndex(idx, threshold, maxCell),
        idx.assigned.select(col(idx.idCol).as("id"),
          col(idx.vecCol), col("__cell")),
        Similarity.centroidCosAt(idx.vecCol, "__cell", idx.centroids))
    }(drop => df.join(drop.select(col("id").as(idCol)), Seq(idCol),
      "left_anti"))
  }

  /** Spark's order on doubles: NaN equals NaN and sorts above every
    * number, and -0.0 equals 0.0.
    */
  private def sqlCompare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** The driver finish of [[semDeDup]] over its thin (id, vector) frame:
    * the ids to drop as a local relation of one `id` column, or None
    * past a budget or wherever the distributed result is not pinned
    * down (see [[semDeDup]]).
    */
  private def semDropOnDriver[K](thin: DataFrame, ids: DriverFinish.Ids[K],
      threshold: Double, nCells: Int, maxCell: Option[Int], maxRows: Int,
      maxBytes: Long, maxWork: Long): Option[DataFrame] = {
    import ids.order
    // the SQL form of the null-element test draws no name from the
    // JVM-wide lambda counter, so no later plan's variables renumber
    val wire = thin.toDF("id", "vec").select(col("id").cast(ids.wire),
      col("vec"), expr("exists(vec, x -> x IS NULL)"))
    for {
      rows <- DriverFinish.collect("semDeDup", wire, maxRows, maxBytes)(r =>
        DriverFinish.idBytes(r.get(0)) +
          (if (r.isNullAt(1)) 0L else 4L * r.getSeq[Float](1).length))
        .toOption
      // the assignment UDF reads a null element as 0, the pair cosine
      // as a null cosine
      if !rows.exists(r => !r.isNullAt(2) && r.getBoolean(2))
      keys = rows.map(ids.key(_, 0))
      vecs = rows.map(r =>
        if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
      // buildIvfIndex's seed cut: the nCells lowest ids, nulls first. A
      // tie in it has no fixed Spark order, and a null seed or seeds of
      // two dimensions fail in the scorer as the distributed path does.
      byId = keys.indices.sortBy(keys(_))
      seeds = byId.take(nCells)
      cut = (seeds ++ byId.lift(nCells)).map(keys(_))
      if seeds.nonEmpty && cut.zip(cut.drop(1)).forall(p => p._1 != p._2) &&
        seeds.forall(i => vecs(i) != null &&
          vecs(i).length == vecs(seeds.head).length)
      fold = vecs(seeds.head).length + 32L
      assignWork = fold * seeds.length * vecs.count(_ != null)
      if DriverFinish.withinWork("semDeDup", assignWork <= maxWork)
      s = new Similarity.CentroidScorer(seeds.map(vecs(_).toSeq).toArray)
      cell = vecs.map(v => if (v == null) -1 else s.argmax(v, s.all))
      if maxCell.forall(guardCells(cell, _))
      members = cell.indices.filter(cell(_) >= 0).groupBy(cell(_)).values
      if DriverFinish.withinWork("semDeDup", assignWork +
        fold * members.map(m => m.length.toLong * m.length).sum <= maxWork)
    } yield {
      val cc = new DriverFinish.Components(keys.toSeq.flatten)
      val rank = keys.map(_.fold(-1)(cc.rank))
      val linked = new Array[Boolean](cc.keys.length)
      // pairs of distinct non-null ids (id_a < id_b either way round); a
      // pair already in one component adds nothing, so its cosine is
      // skipped
      for (m <- members; i <- m.indices; j <- i + 1 until m.length) {
        val (a, b) = (rank(m(i)), rank(m(j)))
        if (a >= 0 && b >= 0 && cc.find(a) != cc.find(b) &&
            sqlCompare(s.pairCos(vecs(m(i)), vecs(m(j))), threshold) >= 0) {
          cc.union(a, b)
          linked(a) = true
          linked(b) = true
        }
      }
      val rowsOf = keys.indices.groupBy(rank)
      val drop = cc.keys.indices.filter(linked).groupBy(cc.find).values
        .flatMap { comp =>
          // every row of a member id, scored at its own cell
          val scored = for (r <- comp; i <- rowsOf(r) if vecs(i) != null)
            yield (r, s.cos(vecs(i), cell(i)))
          val low = scored.map(_._2)
            .reduce((x, y) => if (sqlCompare(x, y) <= 0) x else y)
          val keep = scored.filter(x => sqlCompare(x._2, low) == 0)
            .map(_._1).min
          comp.filter(_ != keep)
        }
      DriverFinish.relation(thin.sparkSession, ids, thin.schema(0).dataType,
        nullable = false, Seq("id"), drop.toSeq.map(r => Seq(cc.keys(r))))
    }
  }

  /** [[semPairsFromIndex]]'s `maxCell` guard over driver-side cells (-1
    * for a null vector, counted as one null cell): throws as it does
    * when one cell is the largest over `m`; false when that largest is
    * tied or the null cell, where Spark's `head(1)` has no fixed answer
    * or fails on the null.
    */
  private def guardCells(cell: Array[Int], m: Int): Boolean = {
    val over = cell.groupMapReduce(identity)(_ => 1)(_ + _).filter(_._2 > m)
    over.values.maxOption.forall { top =>
      over.filter(_._2 == top).keys.toSeq match {
        case Seq(c) if c >= 0 => throw hotCell(c, top, m)
        case _ => false
      }
    }
  }

  /** SimHash-based near-dup candidate groups: documents sharing an exact
    * 64-bit SimHash (Hamming distance 0). For distance ≤ k see
    * [[simHashNearPairs]].
    *
    * Hashes come from the per-row [[TextOps.simHash64Expr]] (bit-identical
    * to the aggregate-shaped [[TextOps.simHash64]], property-tested):
    * the hash is one narrow projection, so the ONLY shuffle is the group
    * aggregate itself — the aggregate form pays a 64×-row bit explode
    * plus an extra keyed exchange first.
    */
  def simHashGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        TextOps.simHash64Expr(col(textCol)).as("simhash"))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Cross-corpus contamination scan — the train/test decontamination pass
    * of a training-data pipeline: for every (corpus doc, benchmark doc)
    * pair sharing at least `minShared` distinct word-`shingleK`-grams,
    * return the pair with its shared-shingle count. Shape: both sides
    * explode to distinct (id, shingle) [narrow], equi-join on the shingle
    * [one shuffle each side], then a pair-keyed count — work is
    * proportional to actually-shared shingles, never |corpus|×|bench|.
    *
    * @param maxShingleDf optional stop-shingle guard: shingles occurring in
    *   more than this many BENCHMARK docs are dropped before the join.
    *   Ubiquitous shingles ("in terms of the") are hot join keys that
    *   contribute joins ∝ corpusDf·benchDf while carrying no contamination
    *   signal; capping them is the standard mitigation. `None` keeps exact
    *   counts. Production note: join on `xxhash64(shingle)` to shrink
    *   shuffle width ~3× when oracle-exact string equality isn't required.
    */
  def crossCorpusOverlap(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, minShared: Int = 1,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val shC = TextOps.explodedShingles(corpus, idCol, textCol, shingleK)
      .select(col(idCol).as("id_a"), col("shingle"))
    val shB0 = TextOps.explodedShingles(bench, idCol, textCol, shingleK)
      .select(col(idCol).as("id_b"), col("shingle"))
    val shB = maxShingleDf.fold(shB0) { m =>
      val keep = shB0.groupBy("shingle").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= m).select("shingle")
      shB0.join(keep, Seq("shingle"))
    }
    shC.join(shB, Seq("shingle"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Build a Bloom filter over the benchmark's distinct shingles —
    * shared by [[bloomContaminationHits]] and [[bloomDecontaminate]].
    * The filter is sized by an exact distinct count (one aggregation
    * over the SMALL side) and explicitly broadcast so the executors
    * fetch it once per node, not once per task closure.
    */
  private def benchShingleBloom(bench: DataFrame, idCol: String,
      textCol: String, shingleK: Int, fpp: Double)
      : org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter] = {
    val shingles = TextOps.explodedShingles(bench, idCol, textCol, shingleK)
      .select("shingle").distinct()
    val n = math.max(shingles.count(), 1L)
    val bf = shingles.stat.bloomFilter("shingle", n, fpp)
    Materialize.track(bench.sparkSession.sparkContext.broadcast(bf))
  }

  /** Per-corpus-doc count of distinct shingles that HIT the benchmark
    * Bloom filter — the zero-shuffle contamination prescreen. The whole
    * corpus side is one narrow map (tokens → shingles → membership
    * test inside a single per-row call); nothing of the corpus is ever
    * exploded, shuffled, or joined, which is the shape that matters
    * when the corpus is 100 TB and the benchmark suite is megabytes.
    *
    * Bloom semantics: NO false negatives — a doc sharing k distinct
    * shingles with the benchmark reports `bloom_hits >= k` — and false
    * positives inflate counts at rate `fpp` per distinct non-member
    * shingle, so `bloom_hits` is an upper bound usable as an exact-set
    * prefilter ([[bloomDecontaminate]]) or on its own as a cheap triage
    * score.
    */
  def bloomContaminationHits(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val bc = benchShingleBloom(bench, idCol, textCol, shingleK, fpp)
    val k = shingleK
    // shingles are assembled INSIDE the udf from the codegen'd tokens
    // array (imperative loop + one membership probe per window) — the
    // Column-level alternative, a `transform` lambda over window
    // indices, evaluates interpreted and measured ~30× slower than the
    // whole exact join it is meant to prescreen
    val hits = udf((toks: Seq[String]) =>
      if (toks == null) 0
      else {
        val arr = toks.toArray
        val seen = new java.util.HashSet[String]()
        var n = 0
        var i = 0
        while (i + k <= arr.length) {
          val sb = new java.lang.StringBuilder(arr(i))
          var j = 1
          while (j < k) { sb.append(' ').append(arr(i + j)); j += 1 }
          val sh = sb.toString
          if (seen.add(sh) && bc.value.mightContainString(sh)) n += 1
          i += 1
        }
        n
      })
    corpus.withColumn("bloom_hits", hits(TextOps.tokens(col(textCol))))
  }

  /** [[crossCorpusOverlap]] accelerated by a benchmark Bloom prefilter:
    * identical results (the oracle gate runs both paths against one
    * SQL), different 100 TB cost. The exact path explodes and shuffles
    * EVERY corpus doc's shingles into the equi-join; this path first
    * drops every corpus doc whose distinct-shingle hit count against
    * the benchmark filter stays below `minShared` — a narrow scan with
    * no shuffle — and only the surviving candidates pay the exact join.
    * No false negatives (see [[bloomContaminationHits]]): a pair with
    * `n_shared >= minShared` implies its corpus doc's hit count is at
    * least that, so the prefilter keeps a superset and the exact verify
    * restores equality; false positives only cost a candidate's worth
    * of join work, tuned by `fpp`.
    */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      minShared: Int = 1, fpp: Double = 0.01,
      maxShingleDf: Option[Int] = None): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val candidates = bloomContaminationHits(corpus, bench, idCol, textCol,
        shingleK, fpp)
      .filter(col("bloom_hits") >= minShared)
      .drop("bloom_hits")
    crossCorpusOverlap(candidates, bench, idCol, textCol, shingleK,
      minShared, maxShingleDf)
  }

  /** Connected components over an undirected pair frame — the clustering
    * step that turns near-duplicate PAIRS into dedup CLUSTERS (keep the
    * min-id member per cluster, drop the rest). A pair list alone
    * under-deduplicates: A≈B and B≈C put A,B,C in one cluster even when
    * (A,C) never surfaced as a pair.
    *
    * Returns (id, cluster_id) for every non-null id appearing in
    * `pairs`, where cluster_id is the component's minimum id under
    * Spark's ordering for the id type. Ids with no pair are trivially
    * their own singleton cluster and are not emitted; a null endpoint
    * links nothing.
    *
    * The symmetric edge frame is materialised once, then finished one
    * of two ways:
    *  - Driver finish: one collect in a single task reads edge rows
    *    until the frame ends or passes [[DriverFinishRows]] rows or
    *    [[DriverFinishBytes]] id bytes. If the frame fits both, union-find
    *    runs on the driver and the result is a local relation: no further
    *    Spark job, and nothing downstream reads the materialised blocks.
    *    Past either budget the collected rows are dropped and the loop
    *    runs. Taken only for the id types whose driver-side order
    *    provably equals Spark's ([[DriverFinish.ids]]).
    *  - Distributed loop, for larger frames and every other id type:
    *    iterative min-label propagation on the label-contracted graph
    *    with per-round path compression (pointer jumping). Each round
    *    (1) every label adopts the minimum of its adjacent labels, (2)
    *    labels are compressed two hops, (3) edges are re-derived in the
    *    new label space and self-loops dropped. Chains contract
    *    geometrically, so rounds scale with log(diameter), not diameter
    *    (the star-contraction family of MapReduce CC algorithms). Each
    *    round is a bounded number of hash joins + one aggregate, and the
    *    only driver-side action is an `isEmpty` convergence probe, so
    *    the shape holds at 100 TB. `maxIter` bounds its rounds (it
    *    throws past them); the driver finish has no rounds and ignores
    *    it.
    *
    * Both finishes are deterministic and return the same relation:
    * labels only ever decrease toward the component's minimum id.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25): DataFrame =
    connectedComponents(pairs, idA, idB, maxIter, DriverFinishRows,
      DriverFinishBytes)

  /** Largest symmetric edge frame (two rows per pair) that
    * [[connectedComponents]] finishes on the driver. Set by driver heap,
    * not time: on a 4-core host, chain graphs of 130,000 rows peaked at
    * 37 MB (Long ids) and 51 MB (36-byte string ids) of live driver heap
    * and finished about 3x faster than the loop, which the driver finish
    * still beat at 524,000 rows (146 MB live). Past the bound the
    * discarded collect adds about 0.1 s (Long) to 0.3 s (36-byte
    * strings) to a 2.5 to 3.6 s loop.
    */
  private val DriverFinishRows = 1 << 17

  /** Largest total id size, in bytes, that [[connectedComponents]]
    * finishes on the driver (see [[DriverFinish.idBytes]]). Long string
    * ids reach it before [[DriverFinishRows]] does, so the collect stays
    * far below `spark.driver.maxResultSize` whatever the ids' length: at
    * the budget, 256-byte ids (64,000 rows) peaked at 53 MB of live
    * driver heap, about what the row budget allows.
    */
  private val DriverFinishBytes = 32L << 20

  /** The bounded driver finish shared by [[connectedComponents]],
    * [[semDeDup]] and [[nearDuplicatePairs]]: a single-task collect
    * within a row and a byte budget, ids held in Spark's order,
    * union-find, and a local relation back.
    */
  private object DriverFinish {

    /** How a driver finish holds ids of one type: collected as `wire`
      * values, decoded to keys whose `order` is Spark's order on the
      * type, encoded back for the local result.
      */
    final class Ids[K](val wire: DataType, decode: Any => K,
        val encode: K => Any)(implicit val order: Ordering[K]) {
      def key(r: Row, i: Int): Option[K] =
        if (r.isNullAt(i)) None else Some(decode(r.get(i)))
    }

    /** The id types a driver finish takes: integral ids (compared as
      * `Long`) and UTF8_BINARY strings (collated strings return None),
      * collected as their raw UTF-8 bytes and compared as
      * `UTF8String.binaryCompare`, Spark's order. Java's
      * `String.compareTo` would not be: it puts a supplementary-plane
      * character (a surrogate pair) below U+FFFD, Spark's byte order
      * above; and a Java String round trip would merge distinct invalid
      * byte sequences into U+FFFD.
      */
    def ids(t: DataType): Option[Ids[_]] = t match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(new Ids[Long](LongType, _.asInstanceOf[Long], identity))
      case StringType =>
        Some(new Ids[UTF8String](BinaryType,
          b => UTF8String.fromBytes(b.asInstanceOf[Array[Byte]]),
          _.getBytes)(Ordering.fromLessThan(_.binaryCompare(_) < 0)))
      case _ => None
    }

    /** Collected size of one wire id: 8 bytes per integral id, the
      * UTF-8 length per string id, nothing for a null.
      */
    def idBytes(v: Any): Long = v match {
      case b: Array[Byte] => b.length
      case null => 0
      case _ => 8
    }

    /** All rows of `df` for `op`'s driver finish, or the budget they ran
      * past: `"rows"` past `maxRows` rows, `"bytes"` past `maxBytes` bytes
      * as counted by `size` (logged as [[stopped]]). coalesce(1): one job,
      * one task, which stops reading after the first row past either
      * budget however large the frame is, so the collect stays far below
      * `spark.driver.maxResultSize`.
      */
    def collect(op: String, df: DataFrame, maxRows: Int, maxBytes: Long)(
        size: Row => Long): Either[String, Array[Row]] = {
      def fits(n: Int, bytes: Long) = n <= maxRows && bytes <= maxBytes
      val rows = df.coalesce(1).mapPartitions { it =>
        var n = 0
        var bytes = 0L
        it.takeWhile(_ => fits(n, bytes)).map { r =>
          n += 1
          bytes += size(r)
          r
        }
      }(Encoders.row(df.schema)).collect()
      (if (rows.length > maxRows) Left("rows")
        else if (rows.iterator.map(size).sum > maxBytes) Left("bytes")
        else Right(rows)).left.map(stopped(op))
    }

    /** Logs once, at INFO, that `op` ran past its driver-finish `budget`
      * and takes the distributed path; returns `budget`.
      */
    def stopped(op: String)(budget: String): String = {
      log.info("{}: past the driver-finish {} budget, finishing distributed",
        op, budget)
      budget
    }

    /** `fits`, logging a stop at `op`'s work budget when it is false. */
    def withinWork(op: String, fits: Boolean): Boolean = {
      if (!fits) stopped(op)("work")
      fits
    }

    /** Union-find over the distinct `nodes`, each by its rank in Spark's
      * `order` (`keys(rank)`): the smaller root always wins the link, so
      * every component is rooted at its minimum id.
      */
    final class Components[K](nodes: Seq[K])(implicit order: Ordering[K]) {
      val keys: IndexedSeq[K] = nodes.distinct.sorted.toIndexedSeq
      val rank: Map[K, Int] = keys.zipWithIndex.toMap
      private val parent = Array.range(0, keys.length)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) {
          parent(r) = parent(parent(r))
          r = parent(r)
        }
        r
      }
      def union(a: Int, b: Int): Unit = {
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }

    /** `rows` as a local relation of the id columns `cols`, cast from the
      * wire type back to the id type `t`, followed by the `rest` columns
      * whose values `restRows` holds row by row.
      */
    def relation[K](spark: SparkSession, ids: Ids[K], t: DataType,
        nullable: Boolean, cols: Seq[String], rows: Seq[Seq[K]],
        rest: Seq[StructField] = Nil,
        restRows: Seq[Seq[Any]] = Nil): DataFrame =
      spark.createDataFrame(rows.zipAll(restRows, Nil, Nil).map {
            case (r, more) => Row(r.map(ids.encode) ++ more: _*)
          }.asJava,
          StructType(cols.map(StructField(_, ids.wire, nullable)) ++ rest))
        .select(cols.map(c => col(c).cast(t).as(c)) ++
          rest.map(f => col(f.name)): _*)
  }

  /** [[connectedComponents]] with explicit driver-finish budgets in edge
    * rows and id bytes; a row budget of 0 forces the distributed loop.
    */
  private[graft] def connectedComponents(pairs: DataFrame, idA: String,
      idB: String, maxIter: Int, driverRows: Int,
      driverBytes: Long): DataFrame = {
    // materialised FIRST: when `pairs` is itself an expensive pipeline
    // (MinHash LSH), the bounded collect and, past the bound, the loop's
    // node and edge inits read the materialised blocks instead of
    // re-running that pipeline per action.
    val sym = Materialize(
      pairs.select(col(idA).as("la"), col(idB).as("lb"))
        .union(pairs.select(col(idB).as("la"), col(idA).as("lb"))))
    DriverFinish.ids(sym.schema("la").dataType)
      .flatMap(componentsOnDriver(sym, _, driverRows, driverBytes))
      .getOrElse(componentsLoop(sym, maxIter))
  }

  /** The driver finish of [[connectedComponents]] over the materialised
    * symmetric frame `sym`; None when `sym` has more than `maxRows` rows
    * or more than `maxBytes` id bytes.
    */
  private def componentsOnDriver[K](sym: DataFrame,
      ids: DriverFinish.Ids[K], maxRows: Int,
      maxBytes: Long): Option[DataFrame] = {
    import ids.order
    DriverFinish.collect("connectedComponents",
        sym.select(col("la").cast(ids.wire), col("lb").cast(ids.wire)),
        maxRows, maxBytes)(r =>
        DriverFinish.idBytes(r.get(0)) + DriverFinish.idBytes(r.get(1)))
      .toOption.map { rows =>
        val ends = rows.toSeq.map(r => (ids.key(r, 0), ids.key(r, 1)))
        val cc = new DriverFinish.Components(ends.flatMap(e => e._1 ++ e._2))
        for ((Some(a), Some(b)) <- ends) cc.union(cc.rank(a), cc.rank(b))
        val la = sym.schema("la")
        DriverFinish.relation(sym.sparkSession, ids, la.dataType,
          la.nullable, Seq("id", "cluster_id"),
          cc.keys.indices.map(i => Seq(cc.keys(i), cc.keys(cc.find(i)))))
      }
  }

  /** The distributed finish of [[connectedComponents]] over the
    * materialised symmetric frame `sym`.
    */
  private def componentsLoop(sym: DataFrame, maxIter: Int): DataFrame = {
    // every round is materialised: an iterative DataFrame algorithm MUST
    // cut its logical plan, or round r's plan embeds rounds 0..r-1 and
    // planning itself blows up exponentially (persist alone keeps the
    // full plan). Materialize cuts only the logical plan; a lost block
    // recomputes from the RDD lineage, through the earlier rounds'
    // blocks and the shuffle files they keep alive.
    var lab = Materialize(
      sym.select(col("la").as("id")).filter(col("id").isNotNull)
        .distinct()
        .select(col("id"), col("id").as("lbl")))
    val edges = Materialize(sym.filter(col("la") =!= col("lb")).distinct()
      .select(col("la").as("u"), col("lb").as("v")))
    // label-space edge view, always RE-DERIVED from the original edges
    // through the current labeling (never remapped incrementally — a
    // label id's own label can move away from its members' mapping, so
    // incremental remapping silently drops live edges). NOT materialised:
    // its plan is two joins over the materialised edges/lab frames, so
    // depth stays bounded without a per-round materialisation — the
    // former per-round le materialisation (with its distinct exchange) was
    // one third of the loop's jobs for frames this derivation rebuilds
    // inside the shrink aggregate anyway.
    def labelEdges(l: DataFrame): DataFrame = edges
      .join(l.select(col("id").as("u"), col("lbl").as("la")), Seq("u"))
      .join(l.select(col("id").as("v"), col("lbl").as("lb")), Seq("v"))
      .select("la", "lb")
      .filter(col("la") =!= col("lb")).distinct()
    var iter = 0
    var converged = false
    while (!converged) {
      // (1) min adjacent label, only where it actually shrinks. The
      // CONVERGENCE PROBE rides this tiny frame: a symmetric non-empty
      // label-edge set always has some la > lb (the larger endpoint of
      // any cross-label edge shrinks), so m.isEmpty <=> le.isEmpty —
      // probing m instead of a materialised le drops a full edge-view
      // materialisation per round, and the probe reads the just-
      // materialised one-row-per-shrinking-label blocks.
      val m = Materialize(labelEdges(lab)
        .groupBy(col("la")).agg(min(col("lb")).as("mn"))
        .filter(col("mn") < col("la")))
      if (m.isEmpty) converged = true
      else {
        require(iter < maxIter,
          s"connectedComponents did not converge in $maxIter rounds")
        val labA = lab.join(m, lab("lbl") === m("la"), "left")
          .select(lab("id"), coalesce(m("mn"), lab("lbl")).as("lbl"))
        // (2) TWO-hop path compression (pointer jumping): every label
        // value is itself a node id of the pair graph, so the self-join
        // is total; labels are monotone non-increasing, so composing
        // hops still lands inside the component, chains contract
        // geometrically, and the second hop rides the same job for one
        // more thin self-join — fewer rounds, each round fewer jobs.
        def jump(l: DataFrame): DataFrame = {
          val parent = l.select(col("id").as("pid"), col("lbl").as("plbl"))
          l.join(parent, l("lbl") === parent("pid"))
            .select(l("id"), col("plbl").as("lbl"))
        }
        lab = Materialize(jump(jump(labA)))
        iter += 1
      }
    }
    lab.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Hamming-distance-≤k SimHash pairs over a precomputed hash frame
    * (`[[TextOps.simHash64]]` output, or the 16-bit portable
    * `[[TextOps.simHash16]]`): band the `bits`-bit hash into `blocks`
    * blocks and bucket-join on every (blocks−k)-block combination — by
    * pigeonhole, ≤ k differing bits touch ≤ k blocks, so two hashes
    * within distance k agree EXACTLY on at least one such combination —
    * then verify `bit_count(a XOR b) <= k`. The banding is a complete
    * filter, so the result is exactly the distance-≤k pair set, through
    * the same banded-bucket-join shape as MinHash LSH (never
    * all-pairs).
    *
    * `blocks` defaults to k+1 — single-block keys of width
    * bits/(k+1), e.g. 64-bit k=3 → 16-bit chunks → 65 536 buckets per
    * chunk. That saturates at corpus scale: expected collision
    * candidates are C(n,2)·(k+1)/2^(bits/(k+1)), quadratic in n once
    * n ≫ bucket count (measured: the k=4 audio-fingerprint corpus at
    * 10×sf0.1 — 10⁵ uniform hashes into 2^12.8 buckets — spends more
    * wall in candidate verification than in decode). Raising `blocks`
    * is Manku/Jain/Das Sarma's multi-block scheme (WWW 2007, §3): keys
    * widen to (blocks−k)·bits/blocks bits — exponentially fewer
    * collisions — at the cost of C(blocks, blocks−k) probe rows per
    * hash, the classic LSH rows-per-band trade. k=4, blocks=6 turns
    * ~13-bit keys into ~21-bit keys for 15 probe rows instead of 5;
    * the result set is bit-identical (spec-pinned property).
    *
    * Output: (id_a, id_b, hamming), id_a < id_b, hamming ≤ k.
    */
  def simHashNearPairs(hashes: DataFrame, idCol: String,
      hashCol: String = "simhash", k: Int = 3, bits: Int = 64,
      blocks: Int = 0): DataFrame = {
    val chunks = hammingBandChunks(hashes, idCol, hashCol, k, bits, blocks)
    val a = chunks.select(col(idCol).as("id_a"), col(hashCol).as("__ha"),
      col("chunk"), col("sig"))
    val b = chunks.select(col(idCol).as("id_b"), col(hashCol).as("__hb"),
      col("chunk"), col("sig"))
    a.join(b, Seq("chunk", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("bigint")
          .as("hamming"))
      .filter(col("hamming") <= k)
      .distinct()
  }

  /** The banding pass shared by [[simHashNearPairs]] and
    * [[hammingPairsAgainstIndex]]: one row per (hash,
    * (blocks−k)-block-combination), the combination's bits concatenated
    * into `sig` (a subset of the blocks, whose widths sum to
    * bits ≤ 64 — always one Long exactly). `blocks == k+1` degenerates
    * to single-block chunking.
    */
  private def hammingBandChunks(hashes: DataFrame, idCol: String,
      hashCol: String, k: Int, bits: Int, blocks: Int): DataFrame = {
    require(k >= 0 && k < bits, s"need 0 <= k < bits, got k=$k bits=$bits")
    val nBlocks = if (blocks == 0) k + 1 else blocks
    require(nBlocks > k && nBlocks <= bits,
      s"need k < blocks <= bits, got blocks=$nBlocks k=$k bits=$bits")
    // spread the bits as evenly as possible over the blocks
    val sizes = (0 until nBlocks).map(c =>
      bits / nBlocks + (if (c < bits % nBlocks) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    def blockCol(b: Int): Column = {
      val w = sizes(b)
      val mask = if (w >= 64) -1L else (1L << w) - 1
      shiftright(col(hashCol), offsets(b)).bitwiseAND(lit(mask))
    }
    val combos = (0 until nBlocks).combinations(nBlocks - k).toSeq
    val chunkCols = combos.zipWithIndex.map { case (combo, ci) =>
      val sig = combo.tail.foldLeft(blockCol(combo.head)) { (acc, b) =>
        shiftleft(acc, sizes(b)).bitwiseOR(blockCol(b))
      }
      struct(lit(ci).as("chunk"), sig.as("sig"))
    }
    hashes.select(col(idCol), col(hashCol),
        explode(array(chunkCols: _*)).as("cs"))
      .select(col(idCol), col(hashCol),
        col("cs.chunk").as("chunk"), col("cs.sig").as("sig"))
  }

  /** Hamming-distance-≤k pairs of a PROBE batch against an INDEXED
    * hash frame — the incremental/serving form of [[simHashNearPairs]]
    * (the media-fingerprint analog of [[nearDupPairsAgainstIndex]]):
    * both sides band identically (same k/bits/blocks — REQUIRED for
    * the pigeonhole completeness argument to span the two frames), the
    * bucket join is index×probe ONLY (index never self-pairs, probe
    * never self-pairs), so per-batch work scales with the BATCH and
    * the matched buckets, never with the landed corpus. The index side
    * is typically a persisted thin (id, hash) parquet — hashes are 8
    * bytes per item, so even a 10¹⁰-item corpus indexes in ~80 GB,
    * partition-pruned by the band join's shuffle.
    *
    * Output: (id_index, id_probe, hamming), hamming ≤ k.
    */
  def hammingPairsAgainstIndex(index: DataFrame, probe: DataFrame,
      idCol: String, hashCol: String = "simhash", k: Int = 3,
      bits: Int = 64, blocks: Int = 0): DataFrame = {
    val a = hammingBandChunks(index, idCol, hashCol, k, bits, blocks)
      .select(col(idCol).as("id_index"), col(hashCol).as("__ha"),
        col("chunk"), col("sig"))
    val b = hammingBandChunks(probe, idCol, hashCol, k, bits, blocks)
      .select(col(idCol).as("id_probe"), col(hashCol).as("__hb"),
        col("chunk"), col("sig"))
    a.join(b, Seq("chunk", "sig"))
      .select(col("id_index"), col("id_probe"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("bigint")
          .as("hamming"))
      .filter(col("hamming") <= k)
      .distinct()
  }

  /** A built near-dup index over an already-landed corpus: the banded
    * MinHash signatures, the distinct (id, shingle) rows, and per-doc
    * shingle counts — everything an INCREMENTAL ingest batch needs to
    * dedup against the corpus without recomputing it. Build once per
    * corpus ([[buildNearDupIndex]]), persist with
    * [[writeNearDupIndex]], probe per batch with
    * [[nearDupPairsAgainstIndex]].
    */
  final case class NearDupIndex(bands: DataFrame, shingles: DataFrame,
      sizes: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int,
      shingleK: Int, production64: Boolean)

  /** Build the incremental-dedup index frames for `df`. With
    * `production64` the signatures use xxhash64 (the ~10× cheaper
    * family); the shingle table is hash-family independent either way.
    *
    * The shingle frame feeds all three index tables (signatures, the
    * shingle table itself, per-doc sizes), so by default it is
    * materialised ([[Materialize]], by its first consumer) — the
    * CPU-heavy explode + distinct runs once per build, not once per
    * consumer (a [[writeNearDupIndex]] of an unshared frame would
    * re-shingle the corpus per output ACTION). Shingle rows are
    * corpus-scale, so the blocks spill to disk, and a lost one
    * recomputes from lineage. Build inside [[Materialize.scope]] to
    * free them when the index is written — or pass
    * `persistShingles = false` when the index feeds exactly ONE action
    * (e.g. an immediate [[nearDupPairsAgainstIndex]] probe), where
    * in-plan reuse already computes the shingles once.
    */
  def buildNearDupIndex(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, rowsPerBand: Int = 2, shingleK: Int = 3,
      production64: Boolean = false,
      persistShingles: Boolean = true): NearDupIndex = {
    val sh0 = shingles(df, idCol, textCol, shingleK)
    val sh = if (persistShingles) Materialize(sh0, eager = false) else sh0
    val sigs =
      if (production64) minHashSignatures64(sh, idCol, numHashes)
      else minHashSignatures(sh, idCol, numHashes)
    NearDupIndex(
      bandedSigs(sigs, idCol, numHashes, rowsPerBand),
      sh,
      sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz")),
      idCol, numHashes, rowsPerBand, shingleK, production64)
  }

  /** Near-duplicate pairs of an incoming batch AGAINST the indexed
    * corpus: the incremental-ingest shape, where re-running the full
    * self-join dedup per batch would re-shingle and re-shuffle the
    * whole corpus. Returns (id_old, id_new, n_inter, jaccard) for
    * every (corpus doc, batch doc) pair clearing `threshold` — pairs
    * WITHIN the batch are deliberately out of scope (run the batch
    * through [[nearDuplicatePairs]] for those; they're a batch-local
    * cost).
    *
    * Scale shape: the batch side is small by construction, so its
    * banded signatures broadcast into the candidate join — the index
    * tables stream through WITHOUT a shuffle; the Jaccard verify joins
    * the index shingle table only on candidate ids. Per batch the work
    * is one corpus-band scan + candidate-proportional verification,
    * never a corpus self-join.
    *
    * `broadcastBatch` forces the broadcast hint (the default). The
    * broadcast side is the batch's banded signature rows — numHashes /
    * rowsPerBand rows per batch doc, assembled ON THE DRIVER and capped
    * by Spark's hard 8 GB broadcast-table limit well before that by
    * driver/executor memory; as a rule of thumb keep batches under a
    * few million docs. For a jumbo backfill batch pass
    * `broadcastBatch = false` to degrade to a shuffle join on (band,
    * sig) instead of OOMing.
    */
  def nearDupPairsAgainstIndex(idx: NearDupIndex, newDocs: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.8, broadcastBatch: Boolean = true): DataFrame = {
    val shNew = shingles(newDocs, idCol, textCol, idx.shingleK)
    val sigNew =
      if (idx.production64) minHashSignatures64(shNew, idCol, idx.numHashes)
      else minHashSignatures(shNew, idCol, idx.numHashes)
    val bNew0 = bandedSigs(sigNew, idCol, idx.numHashes, idx.rowsPerBand)
      .select(col(idCol).as("id_new"), col("band"), col("sig"))
    val bNew = if (broadcastBatch) broadcast(bNew0) else bNew0
    val cands = idx.bands
      .select(col(idx.idCol).as("id_old"), col("band"), col("sig"))
      .join(bNew, Seq("band", "sig"))
      .select("id_old", "id_new").distinct()
    val inter = cands
      .join(idx.shingles.select(col(idx.idCol).as("id_old"),
        col("shingle")), "id_old")
      .join(shNew.select(col(idCol).as("id_new"), col("shingle")),
        Seq("id_new", "shingle"))
      .groupBy("id_old", "id_new")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(idx.sizes.select(col(idx.idCol).as("id_old"),
        col("sz").as("sz_old")), "id_old")
      .join(shNew.groupBy(col(idCol)).agg(count(lit(1)).as("sz_new"))
        .select(col(idCol).as("id_new"), col("sz_new")), "id_new")
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("sz_old") + col("sz_new") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_old", "id_new", "n_inter", "jaccard")
  }

  /** Persist a [[NearDupIndex]]: bands PARTITIONED BY `band` (a probe
    * touches every band, but band files sort by signature so row-group
    * stats narrow the scan), shingles and sizes as plain tables, and a
    * one-row meta sidecar so the index round-trips without external
    * configuration.
    */
  def writeNearDupIndex(idx: NearDupIndex, path: String): Unit = {
    // the three table writes are INDEPENDENT actions over the shared
    // (persisted) shingle frame — submit them from driver threads so
    // each write's tasks back-fill executors freed by the others' stage
    // tails (guide §2.6); the block manager's per-block loading locks
    // keep the first cache materialisation computed once
    awaitAll(Seq(
      () => idx.bands.sortWithinPartitions("band", "sig")
        .write.mode("overwrite").partitionBy("band")
        .parquet(s"$path/bands"),
      () => idx.shingles.write.mode("overwrite")
        .parquet(s"$path/shingles"),
      () => idx.sizes.write.mode("overwrite").parquet(s"$path/sizes")))
    val spark = idx.bands.sparkSession
    import spark.implicits._
    Seq((idx.idCol, idx.numHashes, idx.rowsPerBand, idx.shingleK,
        idx.production64))
      .toDF("id_col", "num_hashes", "rows_per_band", "shingle_k",
        "production64")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Run independent driver actions concurrently and join ALL of them
    * before propagating the first failure (no orphaned sibling jobs).
    */
  private def awaitAll(actions: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = actions.map(a => Future(a()))
    fs.foreach(f => Await.ready(f, Duration.Inf))
    fs.foreach(f => Await.result(f, Duration.Inf))
  }

  /** Load an index written by [[writeNearDupIndex]]. */
  def loadNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): NearDupIndex = {
    val m = spark.read.parquet(s"$path/meta").head()
    NearDupIndex(
      spark.read.parquet(s"$path/bands"),
      spark.read.parquet(s"$path/shingles"),
      spark.read.parquet(s"$path/sizes"),
      m.getString(0), m.getInt(1), m.getInt(2), m.getInt(3),
      m.getBoolean(4))
  }

  /** Fold an ingested batch INTO the persisted index at `path` — the
    * missing half of the incremental-ingest loop: probe with
    * [[nearDupPairsAgainstIndex]], keep the survivors, then append THEM
    * here so the next batch dedups against corpus ∪ batch without a
    * full [[buildNearDupIndex]] rebuild. After the append,
    * [[loadNearDupIndex]] sees exactly the index a fresh build over the
    * combined corpus would produce (same rows; file layout differs).
    *
    * The banding family and parameters come FROM the meta sidecar —
    * never from the caller — so an append can not silently mix hash
    * families or shingle widths; a missing/unreadable sidecar fails
    * loudly before any write. `newDocs`' id column is renamed to the
    * index's `idCol` on write.
    *
    * `checkDisjoint` (default true) verifies no batch id already exists
    * in the index — an overlapping id would double its size/shingle
    * rows and corrupt every later Jaccard against it. The check is one
    * thin scan of the sizes table against the (broadcast-sized) batch
    * ids; opt out only when disjointness is guaranteed upstream.
    *
    * Scale shape: appended work ∝ batch (shingle + sign the batch only);
    * the three appends land new files without rewriting existing ones
    * (bands keep the `band=` partition dirs). The three table appends
    * are NOT atomic as a group — a crash mid-append can leave a partial
    * batch; re-ingest under NEW ids or rebuild to recover.
    */
  def appendToNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, idCol: String, textCol: String,
      checkDisjoint: Boolean = true): Unit = {
    val idx = loadNearDupIndex(spark, path)
    val renamed = newDocs.select(col(idCol).as(idx.idCol), col(textCol))
    if (checkDisjoint) {
      val overlap = idx.sizes
        .join(broadcast(renamed.select(idx.idCol).distinct()), idx.idCol)
        .limit(1).count()
      require(overlap == 0L,
        s"appendToNearDupIndex: batch ids overlap the index at $path — " +
          "appending would double-count their shingles/sizes")
    }
    Materialize.scope {
      val batch = buildNearDupIndex(renamed, idx.idCol, textCol,
        idx.numHashes, idx.rowsPerBand, idx.shingleK, idx.production64)
      // same concurrent-submit shape as writeNearDupIndex: the appends
      // are independent per-table actions (the group was never atomic —
      // see the crash note above)
      awaitAll(Seq(
        () => batch.bands.sortWithinPartitions("band", "sig")
          .write.mode("append").partitionBy("band")
          .parquet(s"$path/bands"),
        () => batch.shingles.write.mode("append")
          .parquet(s"$path/shingles"),
        () => batch.sizes.write.mode("append").parquet(s"$path/sizes")))
    }
  }

  /** Fold the small files an append-heavy lifecycle accumulates back
    * into consolidated, sig-sorted per-band files (and `targetPartitions`
    * files each for shingles/sizes) — the maintenance-window companion
    * of [[appendToNearDupIndex]]: reads are unchanged semantically, but
    * a probe stops paying per-file open cost for every past ingest
    * cycle. `filesPerBand` sizes the band output (1 is right up to a
    * few GB per band; raise it so individual files stay row-group
    * friendly at corpus scale).
    *
    * MUST NOT run concurrently with readers or appends (same documented
    * publish window as `ExactlyOnceSink.compact`). Crash-safe at any
    * interruption point via [[IndexMaintenance]]: each table is staged
    * fully, marked, then swapped; an interrupted swap heals on the next
    * call (which also sweeps pre-commit orphans) — and healing runs
    * BEFORE anything is read, so a crashed compaction never feeds a
    * half-swapped table into the next one. The meta sidecar is never
    * touched.
    */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, filesPerBand: Int = 1,
      targetPartitions: Int = 1): Unit = {
    require(filesPerBand >= 1 && targetPartitions >= 1,
      "filesPerBand and targetPartitions must be >= 1")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tables = Seq("bands", "shingles", "sizes")
      .map(t => t -> new org.apache.hadoop.fs.Path(root, t)).toMap
    tables.values.foreach(IndexMaintenance.recoverOrSweep(fs, _))
    val idx = loadNearDupIndex(spark, path)
    val nBands = idx.numHashes / idx.rowsPerBand
    // bands: RANGE-partition on (band, sig) so partitions align with
    // the band dirs (a hash repartition on the pair would spread every
    // band across every partition and MULTIPLY files); the sig sort
    // keeps row-group stats narrowing probe scans
    idx.bands
      .repartitionByRange(nBands * filesPerBand, col("band"), col("sig"))
      .sortWithinPartitions("band", "sig")
      .write.partitionBy("band")
      .parquet(IndexMaintenance.stagingOf(tables("bands")).toString)
    IndexMaintenance.swap(fs, tables("bands"))
    idx.shingles.repartition(targetPartitions)
      .write.parquet(IndexMaintenance.stagingOf(tables("shingles")).toString)
    IndexMaintenance.swap(fs, tables("shingles"))
    idx.sizes.repartition(targetPartitions)
      .write.parquet(IndexMaintenance.stagingOf(tables("sizes")).toString)
    IndexMaintenance.swap(fs, tables("sizes"))
  }

  /** Merged character-span removal intervals for EXACT SUBSTRING
    * deduplication (the corpus-level operator of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): every length-`gramLen` character gram occurring
    * at more than one (doc, position) across the WHOLE corpus — other
    * docs or elsewhere in the same doc — keeps only its canonical
    * occurrence (smallest (doc id, position)); every other occurrence
    * contributes a removal span `[pos, pos+gramLen)`, and overlapping
    * or adjacent spans merge per doc. Output: one row per merged
    * interval — (`idCol`, `s`, `e`), 1-based, end-exclusive.
    *
    * Scale shape (the suffix-array equivalent, relationally): the
    * occurrence table is O(total chars) thin rows — (doc, pos, md5) —
    * exactly a suffix array's footprint; duplicate marking is a
    * per-gram AGGREGATE — `groupBy(gram).agg(count,
    * min(struct(doc, pos)))` — joined back to the occurrence stream,
    * deliberately NOT a window over the gram hash. The difference is
    * what survives skew: a real corpus has hot boilerplate grams
    * (licence headers, whitespace runs) that can own a large fraction
    * of all positions, and a window `partition by gram` sends every
    * one of those occurrences to a single reducer's sort, while the
    * aggregate absorbs them in map-side partials (one row per gram per
    * input partition reaches the shuffle) and the join-back is a plain
    * equi-join AQE can skew-split. Interval merging then shuffles only
    * the REMOVAL occurrences (the small output side) by doc. No
    * self-join on positions, no driver state. md5 keeps the oracle
    * cross-engine; xxhash64(gram) is the production drop-in (same
    * pattern as [[minHashSignatures64]]). Collisions: a 128-bit hash
    * equating two distinct grams is ~2^-64-scale — documented, not
    * guarded.
    */
  def substringRemovalIntervals(df: DataFrame, idCol: String,
      textCol: String, gramLen: Int): DataFrame =
    substringRemovalIntervalsBy(df, idCol, textCol, gramLen, md5(_))

  /** [[substringRemovalIntervals]] on xxhash64 grams — the production
    * hash at ~10× less CPU per position (the md5 form exists to stay
    * oracle-exact; same family pattern as [[minHashSignatures64]]).
    * Interval sets are identical barring a hash collision equating two
    * distinct grams (spec pins family agreement on the fixture corpus).
    */
  def substringRemovalIntervals64(df: DataFrame, idCol: String,
      textCol: String, gramLen: Int): DataFrame =
    substringRemovalIntervalsBy(df, idCol, textCol, gramLen,
      xxhash64(lit(0), _))

  private def substringRemovalIntervalsBy(df: DataFrame, idCol: String,
      textCol: String, gramLen: Int,
      gramHash: Column => Column): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    val occ = gramOccurrences(df, idCol, textCol, gramLen, gramHash)
    // duplicate marking WITHOUT a window on the gram hash: per-gram
    // aggregate (map-side partials absorb hot boilerplate grams) +
    // join-back (AQE-skew-splittable), keeping only non-canonical
    // occurrences — see the scaladoc for why this survives skew that
    // a `partition by __g` window would not
    val dupCanon = occ
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("__doc"), col("pos"))).as("__canon"))
      .filter(col("__c") > 1)
      .select(col("__g"), col("__canon"))
    val rem = occ.join(dupCanon, Seq("__g"))
      .filter(col("__canon.__doc") =!= col("__doc") ||
        col("__canon.pos") =!= col("pos"))
      .select(col("__doc"), col("pos"),
        (col("pos") + gramLen).as("__e"))
    mergeIslands(rem, idCol)
  }

  /** Every `gramLen`-char gram of each doc as (`__doc`, 1-based `pos`,
    * `__g` = `gramHash` of the gram). Grams slide LINEARLY per doc
    * ([[TextOps.charNgrams]]) and positions come from the posexplode —
    * the old explode-positions-then-substr shape walked the string from
    * the start per position (O(len²) per doc), and dragged the full
    * text through the explode besides.
    */
  private def gramOccurrences(df: DataFrame, idCol: String,
      textCol: String, gramLen: Int, gramHash: Column => Column)
      : DataFrame =
    df.select(col(idCol).as("__doc"), col(textCol).as("__t"))
      .select(col("__doc"),
        posexplode(TextOps.charNgrams(col("__t"), gramLen))
          .as(Seq("__p0", "__gram")))
      .select(col("__doc"), (col("__p0") + 1).as("pos"),
        gramHash(col("__gram")).as("__g"))

  /** Merges each doc's removal spans (`__doc`, `pos`, end `__e`) into
    * disjoint islands (`idCol`, `s`, `e`): a span opens a new island
    * when it starts past every earlier span's end.
    */
  private def mergeIslands(rem: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("__doc").orderBy("pos")
    val runMaxEnd = max(col("__e"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    rem
      .withColumn("__ni",
        when(col("pos") > coalesce(runMaxEnd, lit(0)), 1).otherwise(0))
      .withColumn("__isl", sum("__ni").over(byDoc))
      .groupBy(col("__doc"), col("__isl"))
      .agg(min("pos").as("s"), max("__e").as("e"))
      .select(col("__doc").as(idCol), col("s"), col("e"))
  }

  /** Per-line document frequency — the counting half of CCNet-style
    * LINE-LEVEL dedup: each line (split on `delim`), normalized
    * ([[TextOps.normalize]]) and md5-keyed, with the number of DISTINCT
    * docs containing it. Lines normalizing to the empty string are
    * structure, not content — excluded here and always kept by
    * [[dropDuplicateLines]]. Two-stage shape: distinct (key, doc)
    * partial-aggregates map-side, so a boilerplate line present in
    * every doc costs one row per (doc, partition), never a hot-key
    * shuffle of every occurrence.
    */
  def lineDocFrequencies(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame =
    df.select(col(idCol).as("__doc"),
        explode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))).as("__line"))
      .select(col("__doc"), TextOps.normalize(col("__line")).as("__n"))
      .filter(col("__n") =!= "")
      .groupBy(md5(col("__n")).as("line_key"))
      .agg(countDistinct(col("__doc")).as("doc_freq"))

  /** CCNet-style line-level deduplication: drop EVERY occurrence of any
    * line whose normalized form appears in more than `maxDocFreq`
    * distinct docs (the boilerplate filter — nav bars, cookie banners,
    * licence footers), keep the rest in order. Output: (`idCol`,
    * `clean_text`, `n_dropped_lines`). Contrast
    * [[dropDuplicateSubstrings]], which keeps a canonical occurrence —
    * above-threshold boilerplate has no canonical worth keeping.
    *
    * Scale shape: the over-threshold key set is TINY (boilerplate by
    * definition concentrates), so the drop is a left-anti join of the
    * line table against it — AQE turns it into a broadcast anti-join;
    * reassembly is one groupBy on the doc id folding the sorted
    * (line_no, line) structs. A doc losing every line cleans to the
    * empty string, never a dropped row.
    */
  def dropDuplicateLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int, delim: String = "\n"): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val pat = java.util.regex.Pattern.quote(delim)
    val frequent = lineDocFrequencies(df, idCol, textCol, delim)
      .filter(col("doc_freq") > maxDocFreq).select("line_key")
    val lines = df.select(col(idCol).as("__doc"),
        posexplode(split(col(textCol), pat)).as(Seq("__ln", "__line")))
      .withColumn("line_key", md5(TextOps.normalize(col("__line"))))
    val rebuilt = lines.join(frequent, Seq("line_key"), "left_anti")
      .groupBy(col("__doc").as(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(array_sort(collect_list(
              struct(col("__ln"), col("__line")))),
            x => x.getField("__line")),
          delim).as("clean_text"))
    // null text splits to a null array: coalesce its size to 0 so the
    // row reports ('', 0) — consistent accounting, never a null count
    df.select(col(idCol),
        coalesce(size(split(col(textCol), pat)), lit(0))
          .as("__n_total"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__n_total") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_dropped_lines"))
  }

  /** The corpus with every non-canonical duplicated substring CUT OUT:
    * [[substringRemovalIntervals]]' merged spans are complemented per
    * doc and the kept segments reassembled in order. Output: (`idCol`,
    * `clean_text`, `n_removed_chars`). A doc whose every position is
    * covered cleans to the empty string (not a dropped row — span
    * dedup is a TRANSFORM, the row-level dedups are the filters).
    *
    * Reassembly is one shuffle (intervals join + groupBy on the doc
    * id): per doc, the sorted interval array folds left with
    * `aggregate` — cursor starts at 1, each interval appends
    * `text[cursor, s)` and advances the cursor to `e`, the finish
    * lambda appends the tail. The fold is per-row over an array
    * bounded by the doc's interval count — no second explode, no
    * window over segments.
    */
  def dropDuplicateSubstrings(df: DataFrame, idCol: String,
      textCol: String, gramLen: Int): DataFrame =
    cutIntervals(df, idCol, textCol,
      substringRemovalIntervals(df, idCol, textCol, gramLen))

  /** Cut a set of merged `(idCol, s, e)` character intervals out of
    * each doc's text — the shared reassembly half of
    * [[dropDuplicateSubstrings]] and [[removeBenchmarkSpans]].
    *
    * PRECONDITION: `idCol` is unique in `df`. A duplicated id emits one
    * output row per input row, each with the id's full interval set
    * applied (the left join fans out; nothing collapses the corpus side,
    * by design — collapsing would drag the text column through a
    * shuffle).
    *
    * The intervals aggregate to a per-doc sorted array BEFORE touching
    * the corpus, so the only rows that shuffle are the (small) interval
    * rows; the text column then meets that array in a single left join
    * AQE is free to broadcast — on an interval side proportional to the
    * REMOVALS, not the corpus — and the cut itself is narrow. (The
    * previous join-then-groupBy order re-aggregated with the full text
    * along for the ride.) Docs with no intervals pass through verbatim
    * via the null guard.
    */
  private def cutIntervals(df: DataFrame, idCol: String,
      textCol: String, iv: DataFrame): DataFrame = {
    val zero = struct(lit(1).as("cur"), lit("").as("acc"))
    val clean = aggregate(
      col("__ivs"),
      zero,
      (acc, x) => struct(
        x.getField("e").as("cur"),
        concat(acc.getField("acc"),
          col("__t").substr(acc.getField("cur"),
            x.getField("s") - acc.getField("cur"))).as("acc")),
      acc => concat(acc.getField("acc"),
        col("__t").substr(acc.getField("cur"),
          length(col("__t")) - acc.getField("cur") + 1)))
    val ivAgg = iv.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as("__ivs"))
    df.select(col(idCol), col(textCol).as("__t"))
      .join(ivAgg, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__ivs").isNull, col("__t")).otherwise(clean)
          .as("clean_text"),
        when(col("__ivs").isNull, lit(0))
          .otherwise(length(col("__t")) - length(clean))
          .as("n_removed_chars"))
  }

  /** [[removeBenchmarkSpans]] as ONE narrow per-row map — the serving /
    * streaming shape: the benchmark's distinct gram hashes are
    * collected once (benchmark suites are MBs; the set is
    * broadcast-sized) and shipped to the executors as a SORTED primitive
    * long array — the first 8 md5 bytes per gram, probed by binary
    * search with no per-gram hex formatting and ~8 driver bytes per
    * benchmark gram. Each corpus row marks, merges, and cuts its own
    * spans inside a single UDF call — no occurrence explode, no
    * shuffle, no window; attaches to a streaming corpus unchanged (same
    * pattern as [[bloomContaminationHits]], but exact). Positions are
    * CODEPOINT indices, matching the relational path's `substr`
    * semantics on astral-plane text, and value equality with
    * [[removeBenchmarkSpans]] is spec-pinned (including an astral
    * fixture). Truncating md5 to 64 bits can in principle equate two
    * distinct grams (~2^-64-scale per pair) — same documented
    * non-guard as the 128-bit relational form.
    */
  def removeBenchmarkSpansNarrow(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, gramLen: Int): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    // Spark-side hashing stays md5-hex (shared with the oracle path);
    // only the 64-bit prefix crosses to the driver as a primitive long
    val benchGrams: Array[Long] = bench
      .select(explode(TextOps.charNgrams(col(textCol), gramLen))
        .as("__gram"))
      .select(md5(col("__gram")).as("g"))
      .distinct().collect()
      .map(r => java.lang.Long.parseUnsignedLong(
        r.getString(0).substring(0, 16), 16))
      .distinct.sorted
    val bc = Materialize.track(
      corpus.sparkSession.sparkContext.broadcast(benchGrams))
    val cut = udf { (text: String) =>
      if (text == null) null
      else {
        val grams = bc.value
        val md = md5Holder.get()
        // char offset of each codepoint start (off(nCp) = text.length),
        // so gram slicing and span cutting both count CODEPOINTS —
        // byte-identical to the relational path on astral text
        val nChars = text.length
        val off = new Array[Int](nChars + 1)
        var nCp = 0
        var ci = 0
        while (ci < nChars) {
          off(nCp) = ci
          ci += Character.charCount(text.codePointAt(ci))
          nCp += 1
        }
        off(nCp) = nChars
        var spans = List.empty[(Int, Int)] // reversed merged, cp indices
        var p = 0
        while (p + gramLen <= nCp) {
          val d = md.digest(text.substring(off(p), off(p + gramLen))
            .getBytes("UTF-8"))
          val h = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
            ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
            ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
            ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
          if (java.util.Arrays.binarySearch(grams, h) >= 0) {
            spans = spans match {
              case (s0, e0) :: tail if p <= e0 => (s0, p + gramLen) :: tail
              case _ => (p, p + gramLen) :: spans
            }
          }
          p += 1
        }
        val sb = new java.lang.StringBuilder
        var cur = 0
        spans.reverse.foreach { case (s0, e0) =>
          sb.append(text, off(cur), off(s0)); cur = e0
        }
        sb.append(text, off(cur), nChars)
        sb.toString
      }
    }
    corpus.select(col(idCol), col(textCol).as("__t"))
      .withColumn("clean_text", cut(col("__t")))
      .select(col(idCol), col("clean_text"),
        (length(col("__t")) - length(col("clean_text")))
          .as("n_removed_chars"))
  }

  /** TOKEN-LEVEL (span) decontamination: every corpus span that appears
    * VERBATIM in the benchmark — any `gramLen`-char gram of the corpus
    * equal to any gram of the benchmark — becomes a removal interval;
    * overlapping/adjacent spans merge and are cut out
    * ([[cutIntervals]]). The surgical alternative to doc-level
    * [[crossCorpusOverlap]]/[[bloomDecontaminate]]: a long document
    * quoting one benchmark answer loses the QUOTE, not the document.
    * Output: (`idCol`, `clean_text`, `n_removed_chars`).
    *
    * Scale shape: the benchmark side collapses to its DISTINCT gram
    * hashes (benchmark suites are MBs — broadcast-sized next to a
    * 100 TB corpus); the corpus occurrence explode is the same
    * O(total chars) thin stream as [[substringRemovalIntervals]], but
    * the duplicate marking is a semi-join against the small gram set
    * instead of a corpus-wide window — no corpus self-shuffle at all.
    * Compose with [[bloomContaminationHits]] as a prescreen to skip
    * exploding obviously-clean docs.
    */
  def removeBenchmarkSpans(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, gramLen: Int): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    def occ(df: DataFrame) =
      gramOccurrences(df, idCol, textCol, gramLen, md5)
    val benchGrams = occ(bench).select("__g").distinct()
    val rem = occ(corpus)
      .join(benchGrams, Seq("__g"), "left_semi")
      .select(col("__doc"), col("pos"), (col("pos") + gramLen).as("__e"))
    cutIntervals(corpus, idCol, textCol, mergeIslands(rem, idCol))
  }
}
