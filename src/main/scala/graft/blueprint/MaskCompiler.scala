package graft.blueprint

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

import graft.functions.Gen
import graft.pipeline.Materialize

/** Compiles a [[Blueprint]] into a DataFrame transformation.
  *
  * Semantics reproduced from the reference's SET-builder
  * (reference: src/Anonymizer.php:345–371):
  *  - columns are processed in declaration order; each *replacement* sees the
  *    values produced by earlier rules (row-map mutation at
  *    src/Anonymizer.php:352,356). The row map is the open layer's map from
  *    table column to new value; a rule that reads a column rewritten in the
  *    open layer first closes it into one `select`. So the plan is one
  *    projection per dependency layer, not one per rule;
  *  - the per-column `where` compiles to `CASE WHEN pred THEN new ELSE old
  *    END` (src/Anonymizer.php:359–367), and the table-level `globalWhere`
  *    limits which rows are *masked* — rows failing it flow through
  *    byte-identical, they are NOT dropped (src/Anonymizer.php:312–314 with
  *    the full-rewrite sink of S3);
  *  - **predicates are evaluated against pre-mask values**: the reference
  *    pushes `globalWhere` into the scan (evaluated before any update) and
  *    its per-column CASE runs inside the row's single UPDATE against the
  *    stored row. All guards are therefore columns of the pre-mask layer,
  *    so masking a column a later rule's predicate reads cannot change
  *    which rows that later rule touches;
  *  - undeclared columns are never modified (README.md:75–76); the output
  *    keeps the table's column names, which blueprint names match
  *    case-insensitively, and their order.
  *
  * The plan is narrow except for `#row#` numbering, see [[RowNumbers]]: the
  * default [[RowNumberMode.Scalable]] is a distributed range-partitioned
  * numbering, not a single-partition global window.
  */
object MaskCompiler {

  private val RowToken = "#row#"
  val RowNumCol = "__graft_rownum"
  def oldValueCol(c: String): String = s"__graft_old_$c"

  /** The table's own spelling of a name, matched case-insensitively with
    * Locale.ROOT: Spark's resolver is locale-free, and a Turkish-default JVM
    * would fold "ID" to dotless "ıd". Unknown names come back unchanged. */
  private[graft] def spelling(columns: Seq[String]): String => String = {
    val byLower = columns.map(c => c.toLowerCase(Locale.ROOT) -> c).toMap
    c => byLower.getOrElse(c.toLowerCase(Locale.ROOT), c)
  }

  /** The masked and kept branches of one column. When a rule changes its
    * type (e.g. uuid over an int key, reference example.php:46–48) both fall
    * back to the reference's stringly-typed value model (src/Anonymizer.php:
    * 225) instead of letting ANSI coercion cast the new value lossily.
    */
  private[graft] def unifyTypes(newV: Column, newType: DataType,
      oldV: Column, oldType: DataType): (Column, Column) =
    if (newType == oldType) (newV, oldV)
    else (newV.cast(StringType), oldV.cast(StringType))

  // a column by its literal name, dots and backticks included
  private def ref(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** Compile; additionally stash the pre-mask value of each column in
    * `stashOld` as `__graft_old_<c>` (used by FK propagation to pair old↔new
    * per row even when the masked column is the primary key itself).
    */
  def apply(df: DataFrame, bp: Blueprint,
      stashOld: Set[String] = Set.empty): DataFrame = {
    val needsRowNum = bp.columns.exists {
      case ColumnRule(_, _, Rule.Template(v)) => v.contains(RowToken)
      case _ => false
    }
    // fail at plan-build time with the offending names, not with a deep
    // analysis error. The primary key is only demanded when something
    // consumes it (#row#, generator seeds, FK sync): the defaulted Seq("id")
    // must not reject tables without an id column.
    val pkUsed = bp.sync.nonEmpty || needsRowNum ||
      bp.columns.exists(_.rule.isInstanceOf[Rule.Generator])
    // the user-visible schema: internal columns attached below must never be
    // observable from a RowClosure (its Row is built from exactly this list)
    val originalCols = df.columns.toIndexedSeq
    val name = spelling(originalCols)
    val known = (c: String) => originalCols.contains(name(c))
    val missing = (bp.columns.map(_.name) ++ bp.sync.keys ++ (if (pkUsed)
      bp.primary ++ bp.rowNumberOrder.getOrElse(Seq.empty) else Seq.empty))
      .filterNot(known)
    require(missing.isEmpty,
      s"blueprint for table '${bp.table}' references missing column(s) " +
        s"${missing.distinct.mkString(", ")}; table has: ${df.columns.mkString(", ")}")
    // internal names step past any input column they would shadow
    def internal(n: String) = Iterator.iterate(n)(_ + "_").filterNot(known).next()

    // The reference pushes globalWhere into the scan (src/Anonymizer.php:312–
    // 314), so its row counter only sees rows matching the predicate: the
    // numbering is grouped on the predicate flag (matching rows number
    // 0..n-1 contiguously). Evaluated on the raw df → pre-mask values.
    val rnPartition = bp.globalWhere.map(g =>
      when(coalesce(expr(g), lit(false)), lit(1)).otherwise(lit(0)))
    val rowNum = internal(RowNumCol)
    val withRn = if (!needsRowNum) df else RowNumbers.attach(df,
      bp.rowNumberOrder.getOrElse(bp.primary).map(name), bp.rowNumberMode,
      rowNum, rnPartition)

    // pre-mask layer: the guards (reference scan-time / stored-row values),
    // keyed "g" for globalWhere and by rule index, and the stashed old values
    val preds = bp.globalWhere.map("g" -> _).toSeq ++
      bp.columns.zipWithIndex.flatMap { case (cr, i) => cr.where.map(s"$i" -> _) }
    val guardCol = preds.map { case (k, _) => k -> internal(s"__graft_guard_$k") }.toMap
    var layer = withRn.select(withRn.columns.toSeq.map(ref) ++
      preds.map { case (k, w) => coalesce(expr(w), lit(false)).as(guardCol(k)) } ++
      stashOld.toSeq.map(c => ref(name(c)).as(oldValueCol(c))): _*)
    // the open layer's rewrites: table column → (new value, guard). A rule
    // that reads one of them first closes the layer into one projection.
    var rewritten = Map.empty[String, (Column, Option[Column])]
    def project(cols: Seq[String]): Seq[Column] = {
      // one type probe per layer for all its conditional rewrites
      val guarded = rewritten.collect { case (c, (v, Some(_))) => c -> v }.toSeq
      val newType = guarded.map(_._1).zip(layer.select(guarded.map(_._2): _*)
        .schema.map(_.dataType)).toMap
      cols.map(c => rewritten.get(c).fold(ref(c)) { case (v, guard) =>
        guard.fold(v) { g =>
          val (masked, kept) = unifyTypes(v, newType(c), ref(c), layer.schema(c).dataType)
          when(g, masked).otherwise(kept)
        }.as(c)
      })
    }

    bp.columns.zipWithIndex.foreach { case (cr, i) =>
      val target = name(cr.name)
      val guard = Seq("g", s"$i").flatMap(guardCol.get).map(ref).reduceOption(_ && _)
      // a conditional rule also reads the value it keeps on other rows
      var reads = guard.map(_ => target).toSet
      val newValue = compileRule(cr.rule, bp, rowNum, originalCols,
        c => { reads += name(c); ref(name(c)) })
      if (reads.exists(rewritten.contains)) {
        layer = layer.select(project(layer.columns.toSeq): _*); rewritten = Map.empty
      }
      rewritten += target -> ((newValue, guard))
    }
    layer.select(project(originalCols) ++ stashOld.toSeq.map(c => ref(oldValueCol(c))): _*)
  }

  private def compileRule(rule: Rule, bp: Blueprint, rowNum: String,
      originalCols: Seq[String], colRef: String => Column): Column = rule match {
    case Rule.Template(v) if v.contains(RowToken) =>
      // split on the token and interleave the row-number column — a tiny
      // template compiler down to native concat (R2, src/Anonymizer.php:236–243)
      val parts = v.split(java.util.regex.Pattern.quote(RowToken), -1)
      val pieces = parts.zipWithIndex.flatMap { case (p, i) =>
        val l = if (p.isEmpty) Seq.empty else Seq(lit(p))
        if (i < parts.length - 1) l :+ ref(rowNum).cast("string") else l
      }
      if (pieces.length == 1) pieces.head else concat(pieces.toIndexedSeq: _*)
    case Rule.Template(v) => lit(v)
    case Rule.Expr(build) => build(colRef)
    case Rule.Generator(fmt, unique) =>
      val pk = bp.primary.map(colRef)
      val s = bp.seedExpr.fold(Gen.seed(pk: _*))(_(pk))
      if (unique) Gen.uniqueFormatter(fmt)(s, concat_ws("-", pk.map(_.cast("string")): _*))
      else Gen.formatter(fmt)(s)
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
      f(struct(originalCols.map(c => colRef(c).as(c)): _*))
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
      val w = partitionFlag.fold(Window.partitionBy())(Window.partitionBy(_))
        .orderBy(orderCols.map(col): _*)
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
    * join of a ≤2-rows-per-partition table.
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
