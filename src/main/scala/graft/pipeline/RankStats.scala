package graft.pipeline

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Exact per-group row indexes, and the distribution window statistics
  * (ntile / percent_rank / cume_dist) built on them, without a per-group
  * single-task sort.
  *
  * `Window.partitionBy(g).orderBy(k)` sorts each value of `g` on ONE task:
  * with a low-cardinality `g` (e.g. 5 order priorities, or the blueprint's
  * global-predicate flag) each window partition is a large share of the
  * table — the plan that is correct at sf0.1 and dead at 100 TB.
  * [[groupIndex]] computes the identical `row_number() - 1` from a range
  * shuffle instead, so every group is spread across many partitions and no
  * task ever sorts more than one shuffle partition:
  *
  *  1. `repartitionByRange(group ++ order)` + `sortWithinPartitions` — one
  *     wide shuffle, all partitions sorted in parallel, each group a
  *     contiguous run of partitions. The frame is materialised so both passes
  *     see the identical physical layout (separate jobs over an uncached
  *     range shuffle can sample different boundaries — regression-tested).
  *  2. One cheap aggregate collects, per (physical partition, group):
  *     row count and first local index. That is O(partitions + groups)
  *     driver state — the operator targets the low-cardinality-group
  *     regime where the window sort is the scale-killer; with millions of
  *     small groups the plain window distributes fine and should be used
  *     instead (each group then fits one task by construction).
  *  3. A narrow, whole-stage-codegen pass decodes the per-partition index
  *     from `monotonically_increasing_id()` and adds a broadcast-joined
  *     per-(partition, group) offset → exact 0-based index of every row
  *     within its group, plus the group total.
  *
  * [[withRankStats]] adds the tie pass and the ntile / percent_rank /
  * cume_dist arithmetic. Values are bit-identical to Spark's window
  * functions: the same `(rank-1)/(n-1)` and `rank/n` double divisions, and
  * the same NTile bucket arithmetic (first `n % k` buckets get `n/k + 1`
  * rows) — property-tested against the real window in RankStatsSpec.
  */
object RankStats {

  // monotonically_increasing_id() is `partition index << 33 | local index`
  private val LocalMask = (1L << 33) - 1

  /** A column by its literal name, dots and backticks included. */
  private[graft] def ref(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** `n`, extended with `_` until it matches none of `taken`
    * case-insensitively (Locale.ROOT, as Spark's resolver), so an internal
    * column never shadows an input column. */
  private[graft] def fresh(taken: Seq[String]): String => String = {
    val lower = taken.map(_.toLowerCase(Locale.ROOT)).toSet
    n => Iterator.iterate(n)(_ + "_").filterNot(c => lower(c.toLowerCase(Locale.ROOT))).next()
  }

  /** `df`'s columns plus `index`, each row's exact 0-based position within
    * its `group` in `order` (`row_number() - 1` over
    * `PARTITION BY group ORDER BY order`), and `total`, the group's row
    * count. An empty `group` numbers the whole frame; null group values
    * form a group of their own. `index` and `total` must be new names.
    */
  private[graft] def groupIndex(df: DataFrame, group: Seq[Column],
      order: Seq[Column], index: String, total: String,
      maxDriverStats: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    val inputCols = df.columns.toSeq
    val name = fresh(inputCols ++ Seq(index, total))
    val keys = group.indices.map(i => name(s"__rs_g$i"))
    val (mid, pid, local) = (name("__rs_mid"), name("__rs_pid"), name("__rs_local"))
    val sortCols = keys.map(ref) ++ order
    // a fixed partition count: AQE would coalesce a small input into one
    // partition and serialise the indexing and every write after it
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = Materialize(
      df.select(inputCols.map(ref) ++ group.zip(keys).map { case (g, k) => g.as(k) }: _*)
        .repartitionByRange(parts, sortCols: _*)
        .sortWithinPartitions(sortCols: _*), eager = false)
    // both passes read the same materialised layout, so the positions agree
    val positioned = ranged.withColumn(mid, monotonically_increasing_id())
      .withColumn(pid, shiftright(ref(mid), 33).cast("int"))
      .withColumn(local, ref(mid).bitwiseAND(lit(LocalMask)))

    // pass 1 (fills the blocks): per-(partition, group) row count and
    // first local index. Using min(local index) instead of comparing group
    // values driver-side keeps the group key type-agnostic: the range sort
    // already encodes the group order, we just read it off.
    val statRows = positioned.groupBy((pid +: keys).map(ref): _*)
      .agg(count(lit(1)), min(ref(local))).collect()
    // the driver holds O(partitions × groups) stat rows — the operator's
    // contract is the LOW-cardinality-group regime (where the plain
    // window's per-group single-task sort is the scale-killer). Misuse
    // with millions of groups should be a clear error, not a driver OOM:
    require(statRows.length <= maxDriverStats,
      s"RankStats collected ${statRows.length} (partition, group) stat " +
        s"rows > maxDriverStats=$maxDriverStats — group cardinality is too " +
        "high for the range-shuffle regime; use a plain Window.partitionBy " +
        "(each group then fits one task by construction), or raise " +
        "maxDriverStats if the driver can hold the stats")

    // per group, in partition order: offset = same-group rows in earlier
    // partitions − the group's first local index in this partition. Keyed
    // by the group-value tuple (Seq equality covers the atomic types a
    // group key is made of).
    val nKeys = keys.length
    val adjRows = statRows.groupBy(r => (1 to nKeys).map(r.get)).values
      .flatMap { sibs =>
        val sorted = sibs.sortBy(_.getInt(0))
        val counts = sorted.map(_.getLong(nKeys + 1))
        val n = counts.sum
        sorted.zip(counts.scanLeft(0L)(_ + _)).map { case (r, before) =>
          Row.fromSeq(r.toSeq.take(nKeys + 1) ++ Seq(before - r.getLong(nKeys + 2), n))
        }
      }.toSeq
    val (adjPid, adjKeys, offset) =
      (name("__rs_apid"), keys.indices.map(i => name(s"__rs_ag$i")), name("__rs_adj"))
    val adjSchema = StructType(StructField(adjPid, IntegerType, false) +:
      keys.zip(adjKeys).map { case (k, a) => ranged.schema(k).copy(name = a) } ++:
      Seq(StructField(offset, LongType, false), StructField(total, LongType, false)))
    val adj = spark.createDataFrame(java.util.Arrays.asList(adjRows: _*), adjSchema)

    // pass 2: narrow codegen indexing over the materialised layout. The
    // join condition is null-safe: a window treats NULL as a regular group
    // value, so `<=>` (not `=`) keeps null-keyed rows.
    val cond = keys.zip(adjKeys).map { case (k, a) => ref(k) <=> ref(a) }
      .foldLeft(ref(pid) === ref(adjPid))(_ && _)
    positioned.join(broadcast(adj), cond)
      .select(inputCols.map(ref) ++ Seq((ref(local) + ref(offset)).as(index), ref(total)): _*)
  }

  /** Append `tileCol` (ntile(nTiles)), `pctRankCol` (percent_rank) and
    * `cumeDistCol` (cume_dist) over the window
    * `PARTITION BY groupCols ORDER BY orderCols` — identical values to the
    * window functions, scale-safe plan shape. Column order of the result
    * is input columns ++ (tile, pctRank, cumeDist).
    *
    * Two fidelities for ordering ties:
    *  - `assumeTotalOrder = true`: the order key is a total order per group
    *    (e.g. ends in a unique id) — rank == row index + 1, no extra pass.
    *  - `assumeTotalOrder = false` (default): tie-aware rank/cume_dist via
    *    one additional `groupBy(group ++ order)` min/max aggregate joined
    *    back on the (high-cardinality) full key — partial map-side, no
    *    giant partitions.
    */
  def withRankStats(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], nTiles: Int,
      tileCol: String = "tile", pctRankCol: String = "pct_rank",
      cumeDistCol: String = "cume_dist",
      assumeTotalOrder: Boolean = false,
      maxDriverStats: Int = 1 << 20): DataFrame = {
    require(nTiles >= 1, s"nTiles must be >= 1, got $nTiles")
    val inputCols = df.columns.toSeq
    val name = fresh(inputCols)
    val (idx, tot, tmin, tmax) =
      (name("__rs_idx"), name("__rs_n"), name("__rs_tmin"), name("__rs_tmax"))
    val indexed = groupIndex(df, groupCols.map(ref), orderCols.map(ref),
      idx, tot, maxDriverStats)

    // tie handling: rank = first index of the tie run + 1, cume_dist
    // numerator = last index + 1. With a total order both are the row's own
    // index; otherwise one min/max aggregate on the full (group, order) key
    // — high cardinality by construction, so it distributes.
    val (withTies, first, last) =
      if (assumeTotalOrder) (indexed, idx, idx)
      else {
        val keys = groupCols ++ orderCols
        // aggregate under renamed keys — sidesteps self-join ambiguity
        val kn = keys.indices.map(i => name(s"__rs_k$i"))
        val ties = indexed.groupBy(keys.map(ref): _*)
          .agg(min(ref(idx)).as(tmin), max(ref(idx)).as(tmax))
          .select(keys.zip(kn).map { case (c, n) => ref(c).as(n) } ++
            Seq(ref(tmin), ref(tmax)): _*)
        val cond = keys.zip(kn).map { case (c, n) => ref(c) <=> ref(n) }
          .reduce(_ && _)
        (indexed.join(ties, cond), tmin, tmax)
      }

    // NTile (Spark semantics): n rows into k buckets, first n % k buckets
    // hold n/k + 1 rows. `div` (not `/`) keeps the arithmetic in longs. The
    // internal names are plain identifiers, so they splice into SQL as is.
    val bucket = s"least(cast($nTiles as bigint), $tot)"
    val tile = expr(
      s"""CASE WHEN $idx < ($tot % $bucket) * ($tot div $bucket + 1)
         |     THEN $idx div ($tot div $bucket + 1) + 1
         |     ELSE ($tot % $bucket) +
         |          ($idx - ($tot % $bucket) * ($tot div $bucket + 1))
         |            div ($tot div $bucket) + 1
         |END""".stripMargin)
    val pctRank = when(ref(tot) === 1, lit(0.0))
      .otherwise(ref(first).cast("double") / (ref(tot) - 1))
    val cumeDist = (ref(last) + 1).cast("double") / ref(tot)

    withTies.select(inputCols.map(ref) ++
      Seq(tile.as(tileCol), pctRank.as(pctRankCol), cumeDist.as(cumeDistCol)): _*)
  }
}
