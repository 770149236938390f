package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distribution window statistics (ntile / percent_rank / cume_dist) without
  * a per-group single-task sort.
  *
  * `Window.partitionBy(g).orderBy(k)` sorts each value of `g` on ONE task:
  * with a low-cardinality `g` (e.g. 5 order priorities) each window
  * partition is ~20% of the table — the plan that is correct at sf0.1 and
  * dead at 100 TB. This operator computes the identical values from a
  * range shuffle instead, so every group is spread across many partitions
  * and no task ever sorts more than one shuffle partition:
  *
  *  1. `repartitionByRange(group ++ order)` + `sortWithinPartitions` — one
  *     wide shuffle, all partitions sorted in parallel, each group a
  *     contiguous run of partitions. The frame is materialised so both passes
  *     see the identical physical layout (separate jobs over an uncached
  *     range shuffle can sample different boundaries — see
  *     [[graft.blueprint.RowNumbers.scalable]], which pioneered the trick
  *     for single-flag numbering; this generalises it to arbitrary
  *     multi-column group keys).
  *  2. One cheap aggregate collects, per (physical partition, group):
  *     row count and first local index. That is O(partitions + groups)
  *     driver state — the operator targets the low-cardinality-group
  *     regime where the window sort is the scale-killer; with millions of
  *     small groups the plain window distributes fine and should be used
  *     instead (each group then fits one task by construction).
  *  3. A narrow, whole-stage-codegen pass decodes the per-partition index
  *     from `monotonically_increasing_id()` and adds a broadcast-joined
  *     per-(partition, group) offset → exact 0-based index of every row
  *     within its group, plus the group total. ntile / percent_rank /
  *     cume_dist are then plain arithmetic.
  *
  * Two fidelities for ordering ties:
  *  - `assumeTotalOrder = true`: the order key is a total order per group
  *    (e.g. ends in a unique id) — rank == row index + 1, no extra pass.
  *  - `assumeTotalOrder = false` (default): tie-aware rank/cume_dist via
  *    one additional `groupBy(group ++ order)` min/max aggregate joined
  *    back on the (high-cardinality) full key — partial map-side, no
  *    giant partitions.
  *
  * Values are bit-identical to Spark's window functions: the same
  * `(rank-1)/(n-1)` and `rank/n` double divisions, and the same NTile
  * bucket arithmetic (first `n % k` buckets get `n/k + 1` rows) —
  * property-tested against the real window in PipelineSpec.
  */
object RankStats {

  private val PidCol = "__rs_pid"
  private val MidCol = "__rs_mid"
  private val AdjCol = "__rs_adj"
  private val TotCol = "__rs_n"
  private val IdxCol = "__rs_idx"
  private val MinCol = "__rs_tmin"
  private val MaxCol = "__rs_tmax"
  private val LocalMask = (1L << 33) - 1

  /** Append `tileCol` (ntile(nTiles)), `pctRankCol` (percent_rank) and
    * `cumeDistCol` (cume_dist) over the window
    * `PARTITION BY groupCols ORDER BY orderCols` — identical values to the
    * window functions, scale-safe plan shape. Column order of the result
    * is input columns ++ (tile, pctRank, cumeDist).
    */
  def withRankStats(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], nTiles: Int,
      tileCol: String = "tile", pctRankCol: String = "pct_rank",
      cumeDistCol: String = "cume_dist",
      assumeTotalOrder: Boolean = false,
      maxDriverStats: Int = 1 << 20): DataFrame = {
    require(nTiles >= 1, s"nTiles must be >= 1, got $nTiles")
    val spark = df.sparkSession
    val inputCols = df.columns.toSeq
    val sortCols = (groupCols ++ orderCols).map(col)
    // fixed partition count, as in RowNumbers.scalable
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = Materialize(df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*), eager = false)

    // pass 1 (fills the blocks): per-(partition, group) row count and
    // first local index. Using min(local index) instead of comparing group
    // values driver-side keeps the group key type-agnostic: the range sort
    // already encodes the group order, we just read it off.
    val statRows = ranged
      .withColumn(MidCol, monotonically_increasing_id())
      .groupBy(spark_partition_id().as(PidCol) +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("__rs_cnt"),
        min(col(MidCol).bitwiseAND(lit(LocalMask))).as("__rs_start"))
      .collect()
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

    val nGroup = groupCols.length
    // keyed by the group-value tuple (Seq equality covers the atomic types
    // a group key is made of)
    def gkey(r: Row): Seq[Any] = (1 to nGroup).map(r.get)
    val byGroup = statRows.groupBy(gkey)
    val adjRows: Seq[Row] = statRows.toIndexedSeq.map { r =>
      val pid = r.getInt(0)
      val cnt = r.getLong(nGroup + 1)
      val localStart = r.getLong(nGroup + 2)
      val siblings = byGroup(gkey(r))
      val globalOffset = siblings.collect {
        case s if s.getInt(0) < pid => s.getLong(nGroup + 1) }.sum
      val total = siblings.map(_.getLong(nGroup + 1)).sum
      val _ = cnt // count participates via siblings sums
      Row.fromSeq(pid +: gkey(r) ++: Seq(globalOffset - localStart, total))
    }
    val groupFields = groupCols.map(c => df.schema(c))
    val adjSchema = StructType(StructField(PidCol, IntegerType, false) +:
      groupFields ++: Seq(StructField(AdjCol, LongType, false),
        StructField(TotCol, LongType, false)))
    val adj = spark.createDataFrame(
      java.util.Arrays.asList(adjRows: _*), adjSchema)

    // pass 2: narrow codegen indexing over the materialised layout. The
    // join condition is null-safe: a window treats NULL as a regular group
    // value, so `<=>` (not `=`) keeps null-keyed rows.
    val mids = ranged
      .withColumn(MidCol, monotonically_increasing_id())
      .withColumn(PidCol, shiftright(col(MidCol), 33).cast("int"))
    val adjCond = (mids(PidCol) === adj(PidCol)) &&
      groupCols.map(c => mids(c) <=> adj(c)).reduce(_ && _)
    val joined = mids.join(broadcast(adj), adjCond)
    val indexed = (adj(PidCol) +: groupCols.map(adj(_)))
      .foldLeft(joined)(_ drop _)
      .withColumn(IdxCol,
        col(MidCol).bitwiseAND(lit(LocalMask)) + col(AdjCol))

    // tie handling: rank = first index of the tie run + 1, cume_dist
    // numerator = last index + 1. With a total order both are the row's own
    // index; otherwise one min/max aggregate on the full (group, order) key
    // — high cardinality by construction, so it distributes.
    val withTies =
      if (assumeTotalOrder)
        indexed.withColumn(MinCol, col(IdxCol))
          .withColumn(MaxCol, col(IdxCol))
      else {
        val keys = groupCols ++ orderCols
        // aggregate under renamed keys — sidesteps self-join ambiguity
        val kn = keys.indices.map(i => s"__rs_k$i")
        val ties = indexed.groupBy(keys.map(col): _*)
          .agg(min(IdxCol).as(MinCol), max(IdxCol).as(MaxCol))
          .select(keys.zip(kn).map { case (c, n) => col(c).as(n) } ++
            Seq(col(MinCol), col(MaxCol)): _*)
        val cond = keys.zip(kn).map { case (c, n) => col(c) <=> col(n) }
          .reduce(_ && _)
        kn.foldLeft(indexed.join(ties, cond))(_ drop _)
      }

    // NTile (Spark semantics): n rows into k buckets, first n % k buckets
    // hold n/k + 1 rows. `div` (not `/`) keeps the arithmetic in longs.
    val bucket = s"least(cast($nTiles as bigint), $TotCol)"
    val tile = expr(
      s"""CASE WHEN $IdxCol < ($TotCol % $bucket) * ($TotCol div $bucket + 1)
         |     THEN $IdxCol div ($TotCol div $bucket + 1) + 1
         |     ELSE ($TotCol % $bucket) +
         |          ($IdxCol - ($TotCol % $bucket) * ($TotCol div $bucket + 1))
         |            div ($TotCol div $bucket) + 1
         |END""".stripMargin)
    val pctRank = when(col(TotCol) === 1, lit(0.0))
      .otherwise(col(MinCol).cast("double") / (col(TotCol) - 1))
    val cumeDist = (col(MaxCol) + 1).cast("double") / col(TotCol)

    withTies
      .withColumn(tileCol, tile)
      .withColumn(pctRankCol, pctRank)
      .withColumn(cumeDistCol, cumeDist)
      .select((inputCols :+ tileCol :+ pctRankCol :+ cumeDistCol)
        .map(col): _*)
  }
}
