package graft.blueprint

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

import graft.functions.Gen
import graft.pipeline.RankStats.{fresh, groupIndex, ref}

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
  * The plan is narrow except for `#row#` numbering: the reference's 0-based
  * counter over the rows its scan returns, numbered in primary-key (or
  * `rowNumberOrder`) order and, under `globalWhere`, separately for the
  * matching rows. It is [[graft.pipeline.RankStats.groupIndex]]'s
  * distributed range-partitioned index, not a single-partition global
  * window.
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
    val internal = fresh(originalCols)

    // The reference pushes globalWhere into the scan (src/Anonymizer.php:312–
    // 314), so its row counter only sees rows matching the predicate: the
    // numbering is grouped on the predicate flag (matching rows number
    // 0..n-1 contiguously). Evaluated on the raw df → pre-mask values.
    val rowNum = internal(RowNumCol)
    val withRn = if (!needsRowNum) df else groupIndex(df,
      bp.globalWhere.map(g => coalesce(expr(g), lit(false))).toSeq,
      bp.rowNumberOrder.getOrElse(bp.primary).map(c => ref(name(c))),
      rowNum, internal("__graft_rowcount"))

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
