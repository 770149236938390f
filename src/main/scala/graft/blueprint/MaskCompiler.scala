package graft.blueprint

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.Gen
import graft.pipeline.Materialize

/** Compiles a [[Blueprint]] into a DataFrame transformation.
  *
  * Semantics reproduced from the reference's SET-builder
  * (reference: src/Anonymizer.php:345–371):
  *  - columns are processed in declaration order; each *replacement* sees the
  *    values produced by earlier rules (row-map mutation at
  *    src/Anonymizer.php:352,356) → enforced here by a sequential
  *    `withColumn` chain;
  *  - the per-column `where` compiles to `CASE WHEN pred THEN new ELSE old
  *    END` (src/Anonymizer.php:359–367), and the table-level `globalWhere`
  *    limits which rows are *masked* — rows failing it flow through
  *    byte-identical, they are NOT dropped (src/Anonymizer.php:312–314 with
  *    the full-rewrite sink of S3);
  *  - **predicates are evaluated against pre-mask values**: the reference
  *    pushes `globalWhere` into the scan (evaluated before any update) and
  *    its per-column CASE runs inside the row's single UPDATE against the
  *    stored row. All guards here are therefore materialised as boolean
  *    columns BEFORE the masking chain starts, so a rule masking a column
  *    referenced by a later rule's predicate cannot change which rows that
  *    later rule touches;
  *  - undeclared columns are never modified (README.md:75–76).
  *
  * The whole compiled plan is narrow (no shuffle; masking is embarrassingly
  * parallel) except for `#row#` numbering — see [[RowNumbers]]: the default
  * [[RowNumberMode.Scalable]] mode is a distributed range-partitioned
  * numbering, not a single-partition global window.
  */
object MaskCompiler {

  private val RowToken = "#row#"
  val RowNumCol = "__graft_rownum"
  def oldValueCol(c: String): String = s"__graft_old_$c"
  private def guardCol(i: Int): String = s"__graft_guard_$i"
  private val GlobalGuardCol = "__graft_guard_g"

  def apply(df: DataFrame, bp: Blueprint): DataFrame =
    apply(df, bp, Set.empty)

  /** Compile; additionally stash the pre-mask value of each column in
    * `stashOld` as `__graft_old_<c>` (used by FK propagation to pair old↔new
    * per row even when the masked column is the primary key itself).
    */
  def apply(df: DataFrame, bp: Blueprint, stashOld: Set[String]): DataFrame = {
    // fail with a masking-level message instead of a deep analysis error
    // when the blueprint references columns the table doesn't have
    // (mirrors the reference's behavior of failing the generated SQL, but
    // at plan-build time with the offending names). The primary key is
    // only demanded when something actually consumes it — #row#
    // numbering, generator seeding, FK sync — so the defaulted Seq("id")
    // doesn't reject tables without an id column.
    val pkUsed = bp.sync.nonEmpty ||
      bp.columns.exists {
        case ColumnRule(_, _, Rule.Generator(_, _)) => true
        case ColumnRule(_, _, Rule.Template(v)) => v.contains(RowToken)
        case _ => false
      }
    // Locale.ROOT: Spark's own resolver is locale-free, and a
    // Turkish-default JVM would fold "ID" to dotless "ıd" and reject a
    // perfectly valid blueprint
    val have = df.columns
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val declared = bp.columns.map(_.name) ++ bp.sync.keys ++
      (if (pkUsed) bp.primary ++ bp.rowNumberOrder.getOrElse(Seq.empty)
       else Seq.empty)
    val missing = declared.filterNot(c =>
      have.contains(c.toLowerCase(java.util.Locale.ROOT)))
    require(missing.isEmpty,
      s"blueprint for table '${bp.table}' references missing column(s) " +
        s"${missing.distinct.mkString(", ")}; table has: " +
        df.columns.mkString(", "))

    // the user-visible schema: internal columns attached below must never be
    // observable from a RowClosure (its Row is built from exactly this list)
    val originalCols = df.columns.toIndexedSeq

    val needsRowNum = bp.columns.exists {
      case ColumnRule(_, _, Rule.Template(v)) => v.contains(RowToken)
      case _ => false
    }
    // The reference pushes globalWhere into the scan (src/Anonymizer.php:312–
    // 314), so its row counter only sees rows matching the predicate: the
    // numbering is grouped on the predicate flag (matching rows number
    // 0..n-1 contiguously). Evaluated on the raw df → pre-mask values.
    val rnPartition = bp.globalWhere.map(g =>
      when(coalesce(expr(g), lit(false)), lit(1)).otherwise(lit(0)))
    val withRn =
      if (needsRowNum)
        RowNumbers.attach(df, bp.rowNumberOrder.getOrElse(bp.primary),
          bp.rowNumberMode, RowNumCol, rnPartition)
      else df

    // guards materialised pre-mask (reference scan-time / stored-row values)
    val withGlobal = bp.globalWhere.foldLeft(withRn)((acc, g) =>
      acc.withColumn(GlobalGuardCol, coalesce(expr(g), lit(false))))
    val withGuards = bp.columns.zipWithIndex.foldLeft(withGlobal) {
      case (acc, (ColumnRule(_, Some(w), _), i)) =>
        acc.withColumn(guardCol(i), coalesce(expr(w), lit(false)))
      case (acc, _) => acc
    }
    val stashed = stashOld.foldLeft(withGuards)(
      (acc, c) => acc.withColumn(oldValueCol(c), col(c)))

    val masked = bp.columns.zipWithIndex.foldLeft(stashed) {
      case (acc, (cr, i)) =>
        val colRef: String => Column = acc.col _
        val newValue = compileRule(cr.rule, bp, colRef, originalCols, acc)
        val guard = (bp.globalWhere.isDefined, cr.where.isDefined) match {
          case (true, true) => Some(col(GlobalGuardCol) && col(guardCol(i)))
          case (true, false) => Some(col(GlobalGuardCol))
          case (false, true) => Some(col(guardCol(i)))
          case (false, false) => None
        }
        val v = guard match {
          case Some(cond) =>
            // conditional masks must unify the new-value and keep branches:
            // when a rule changes the column's type (e.g. uuid over an int
            // key, reference example.php:46–48), fall back to the
            // reference's stringly-typed value model
            // (src/Anonymizer.php:225) instead of letting ANSI coercion
            // attempt a lossy numeric cast of the generated value
            val newType = acc.select(newValue.as("__t")).schema.head.dataType
            val origType = acc.schema(cr.name).dataType
            if (newType == origType) when(cond, newValue).otherwise(col(cr.name))
            else when(cond, newValue.cast(StringType))
              .otherwise(col(cr.name).cast(StringType))
          case None => newValue
        }
        acc.withColumn(cr.name, v)
    }
    // drop every internal column in one projection
    val internal = masked.columns.filter(c =>
      c.startsWith("__graft_guard_") || c == RowNumCol)
    internal.foldLeft(masked)((acc, c) => acc.drop(c))
  }

  private def compileRule(rule: Rule, bp: Blueprint, colRef: String => Column,
      originalCols: Seq[String], acc: DataFrame): Column = rule match {
    case Rule.Template(v) if v.contains(RowToken) =>
      // split on the token and interleave the row-number column — a tiny
      // template compiler down to native concat (R2, src/Anonymizer.php:236–243)
      val parts = v.split(java.util.regex.Pattern.quote(RowToken), -1)
      val pieces = parts.zipWithIndex.flatMap { case (p, i) =>
        val l = if (p.isEmpty) Seq.empty else Seq(lit(p))
        if (i < parts.length - 1) l :+ col(RowNumCol).cast("string") else l
      }
      if (pieces.length == 1) pieces.head else concat(pieces.toIndexedSeq: _*)
    case Rule.Template(v) => lit(v)
    case Rule.Expr(build) => build(colRef)
    case Rule.Generator(fmt, unique) =>
      val s = bp.seedExpr.map(f => f(bp.primary.map(colRef)))
        .getOrElse(Gen.seed(bp.primary.map(colRef): _*))
      if (unique) {
        val pk = concat_ws("-", bp.primary.map(c => colRef(c).cast("string")): _*)
        Gen.uniqueFormatter(fmt)(s, pk)
      } else Gen.formatter(fmt)(s)
    case Rule.RowClosure(fn, dt) =>
      // R5: whole-row UDF. The struct carries exactly the user-visible
      // columns (in original order, current masked values) — internal
      // __graft_* columns are invisible so positional Row access stays
      // stable. Blocks column pruning exactly like the reference's SELECT *
      // fallback (src/Anonymizer.php:300–305). Declared through the Java
      // UDF1 interface: Spark 4 rejects untyped Scala UDFs, and a Row input
      // has no type tag.
      val f = udf(new org.apache.spark.sql.api.java.UDF1[Row, Any] {
        override def call(r: Row): Any = fn(r)
      }, dt)
      f(struct(originalCols.map(c => acc.col(c).as(c)): _*))
  }
}

/** Deterministic row numbering at three scale points (see [[RowNumberMode]]). */
object RowNumbers {

  def attach(df: DataFrame, orderCols: Seq[String], mode: RowNumberMode,
      outCol: String, partitionFlag: Option[Column] = None): DataFrame =
    mode match {
    case RowNumberMode.Ordered =>
      // exact 0-based counter; global window = single-partition sort — kept
      // only as an explicit opt-in for small tables / plan comparisons
      val base = Window.orderBy(orderCols.map(col): _*)
      val w = partitionFlag.fold(base)(f => Window.partitionBy(f)
        .orderBy(orderCols.map(col): _*))
      df.withColumn(outCol, row_number().over(w) - 1)
    case RowNumberMode.Unique =>
      // the reference's actual guarantee (its scan order is nondeterministic,
      // src/Anonymizer.php:310): unique, non-contiguous, fully parallel
      df.withColumn(outCol, monotonically_increasing_id())
    case RowNumberMode.Scalable =>
      scalable(df, orderCols, outCol, partitionFlag)
  }

  private val FlagCol = "__graft_rnflag"
  private val MidCol = "__graft_rnmid"
  private val PidCol = "__graft_rnpid"
  private val AdjCol = "__graft_rnadj"

  /** Deterministic AND distributed 0-based numbering — the 100 TB default.
    *
    * Range-partition by (flag, order key), sort within partitions (one wide
    * shuffle, all partitions in parallel), then fix up per-partition offsets
    * from a cheap count aggregate. The ranged frame is materialised
    * ([[graft.pipeline.Materialize]], by the count pass) so both passes
    * execute the range shuffle exactly once AND see the identical
    * partition layout (separate jobs over an uncached range shuffle can
    * sample different boundaries — regression-tested). It never enters
    * the SQL cache, where a second `Anonymizer.run` over the same path
    * would read this run's pre-mask rows.
    *
    * The numbering pass itself never leaves Tungsten: the per-partition
    * index is decoded from `monotonically_increasing_id()`
    * (pid << 33 | local index over exactly the materialised layout) and the
    * per-(partition, flag) adjustment rides in through a broadcast hash
    * join of a ≤2-rows-per-partition table — whole-stage codegen end to
    * end, vs the previous `Row.fromSeq` RDD pass that boxed every row.
    *
    * `partitionFlag` groups the numbering (each flag value numbered 0..n-1
    * contiguously in key order) — identical semantics to the Ordered mode's
    * flag-partitioned window, so oracle results are mode-independent. The
    * flag LEADS the range key, making each flag's rows contiguous in the
    * global order, so the per-flag local index is `overall local index −
    * (rows of smaller flags in this partition)` — plain arithmetic from the
    * same counts, no per-flag scan state.
    */
  def scalable(df: DataFrame, orderCols: Seq[String], outCol: String,
      partitionFlag: Option[Column] = None): DataFrame = {
    val spark = df.sparkSession
    val withFlag = df.withColumn(FlagCol, partitionFlag.getOrElse(lit(1)))
    val sortCols = col(FlagCol) +: orderCols.map(col)
    // a fixed partition count: AQE would coalesce a small input into one
    // partition and serialise the numbering and every write after it
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = Materialize(withFlag.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*), eager = false)
    // pass 1 (fills the blocks): per-partition per-flag counts — the
    // aggregate is partial map-side, the shuffle carries ≤ 2 rows/partition
    val counts = ranged
      .groupBy(spark_partition_id().as(PidCol), col(FlagCol))
      .count()
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    // adjustment(pid, flag) = same-flag rows in earlier partitions (global
    // offset) − smaller-flag rows in this partition (local start of the
    // flag's contiguous run)
    val adjRows = counts.keys.toSeq.sorted.map { case (pid, f) =>
      val globalOffset = counts.collect {
        case ((p, pf), c) if pf == f && p < pid => c }.sum
      val localStart = counts.collect {
        case ((p, pf), c) if p == pid && pf < f => c }.sum
      (pid, f, globalOffset - localStart)
    }
    import spark.implicits._
    val adj = adjRows.toDF(PidCol, FlagCol, AdjCol)
    // pass 2: narrow, codegen numbering over the materialised partitions
    ranged
      .withColumn(MidCol, monotonically_increasing_id())
      .withColumn(PidCol, shiftright(col(MidCol), 33).cast("int"))
      .join(broadcast(adj), Seq(PidCol, FlagCol))
      .withColumn(outCol,
        col(MidCol).bitwiseAND(lit((1L << 33) - 1)) + col(AdjCol))
      .drop(FlagCol, MidCol, PidCol, AdjCol)
  }
}
