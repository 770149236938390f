package graft.blueprint

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.types.DataType

/** A per-column replacement rule — the reference's 4-kind rule vocabulary
  * (src/Blueprint.php:146–216) re-expressed Spark-first. All deterministic
  * variants compile to native Catalyst expressions (whole-stage codegen);
  * only [[Rule.RowClosure]] falls back to a UDF, mirroring the reference's
  * whole-row closure (src/Blueprint.php:211–216).
  */
sealed trait Rule
object Rule {

  /** R1/R2 (src/Blueprint.php:146–153; src/Anonymizer.php:236–243): a static
    * string; any `#row#` occurrence is substituted with the 0-based row
    * counter. The reference counts rows in its scan's order, which has no
    * ORDER BY (src/Anonymizer.php:166,179,310); here the counter is
    * deterministic: rows are numbered in [[Blueprint.rowNumberOrder]]
    * (default: primary-key) order, the `globalWhere` matches on their own,
    * by one distributed numbering (see [[MaskCompiler]]).
    */
  final case class Template(value: String) extends Rule

  /** Spark-first scalar rule: an arbitrary Column expression built from a
    * row view. `colRef(name)` resolves a column *as currently masked*, like
    * the reference's row-map mutation (src/Anonymizer.php:350–357); read
    * columns through it, as a bare `col(...)` misses rewrites made earlier
    * in the same projection layer.
    */
  final case class Expr(build: (String => Column) => Column) extends Rule

  /** R3/R4 (src/Blueprint.php:146–176): a named generator from the session's
    * [[graft.functions.Gen]] registry, deterministically seeded from the
    * primary key (reference generators are nondeterministic per call; Spark
    * task retries make that unsafe, so we derive the seed from `xxhash64(pk)`
    * — divergence documented in SURVEY.md §7.4.3).
    *
    * `unique=true` mirrors Faker's `unique()` modifier
    * (src/Blueprint.php:163–176): the reference rejection-samples until
    * unseen, which cannot be coordinated across executors; we instead embed
    * the primary key into the value (unique by construction).
    */
  final case class Generator(formatter: String, unique: Boolean = false)
      extends Rule

  /** R5 (src/Blueprint.php:211–216): whole-row closure. The closure receives
    * the row *with all previously-declared columns already masked*
    * (src/Anonymizer.php:350–357 position-sensitivity), so it starts a new
    * projection layer. UDF fallback — prefer [[Expr]].
    */
  final case class RowClosure(fn: Row => Any, dataType: DataType) extends Rule
}

/** Referential-integrity propagation target
  * (reference: src/Blueprint.php:185–202 `synchronizeColumn`).
  */
final case class SyncTarget(table: String, field: String,
    database: Option[String] = None)

/** One committed column spec: name + optional per-column predicate
  * (src/Blueprint.php:118–123) + replacement rule.
  */
final case class ColumnRule(name: String, where: Option[String], rule: Rule)

/** The complete, immutable logical masking plan for one table — the analog of
  * the reference's built Blueprint (src/Blueprint.php:223–234): table, primary
  * key (composite supported, default `id` — src/Blueprint.php:12,229–231),
  * single global predicate (src/Blueprint.php:132–137; rows failing it are
  * left untouched, NOT dropped — src/Anonymizer.php:312–314), ordered column
  * rules, and per-column sync targets.
  */
final case class Blueprint(
    table: String,
    primary: Seq[String] = Seq("id"),
    globalWhere: Option[String] = None,
    columns: Seq[ColumnRule] = Seq.empty,
    sync: Map[String, Seq[SyncTarget]] = Map.empty,
    /** Generator seed derivation from the primary-key columns. Default:
      * `xxhash64` ([[graft.functions.Gen.seed]], fastest). Swap in e.g. an
      * md5-based seed for cross-engine reproducibility of generated values.
      */
    seedExpr: Option[Seq[Column] => Column] = None,
    /** `#row#` numbering order; defaults to the primary key. Override when
      * the primary key is not actually unique in the data (the reference
      * never guarantees it — its `#row#` order is nondeterministic anyway,
      * src/Anonymizer.php:310): tie rows would otherwise get numbers in
      * engine-arbitrary order. Add enough columns for a total order.
      */
    rowNumberOrder: Option[Seq[String]] = None)

/** Fluent builder mirroring the reference DSL's shape
  * (src/Blueprint.php:99–248): `column()` opens a column, a `replace*` call
  * commits it (a column without a replace rule is never registered —
  * src/Blueprint.php:150,215).
  */
final class BlueprintBuilder(table: String) {
  private var primaryCols: Seq[String] = Seq("id")
  private var global: Option[String] = None
  private var cols = Vector.empty[ColumnRule]
  private var sync = Map.empty[String, Seq[SyncTarget]]
  private var rowOrder: Option[Seq[String]] = None
  private var seedF: Option[Seq[Column] => Column] = None
  private var current: Option[String] = None
  private var currentWhere: Option[String] = None

  def primary(columns: String*): this.type = { primaryCols = columns; this }
  def globalWhere(predicate: String): this.type = { global = Some(predicate); this }
  /** Override the `#row#` numbering order (see [[Blueprint.rowNumberOrder]]). */
  def rowNumberOrderBy(columns: String*): this.type = {
    rowOrder = Some(columns); this
  }
  /** Override the generator seed derivation (see [[Blueprint.seedExpr]]). */
  def seedWith(f: Seq[Column] => Column): this.type = { seedF = Some(f); this }

  def column(name: String): this.type = {
    current = Some(name); currentWhere = None; this
  }
  def where(predicate: String): this.type = { currentWhere = Some(predicate); this }

  private def commit(rule: Rule): this.type = {
    val c = current.getOrElse(
      throw new IllegalStateException("replace* called before column()"))
    cols :+= ColumnRule(c, currentWhere, rule)
    this
  }

  /** R1/R2: static string; `#row#` substituted with the 0-based row counter. */
  def replaceWith(value: String): this.type = commit(Rule.Template(value))
  /** Spark-first: arbitrary Column expression over the current row view. */
  def replaceWithExpr(build: (String => Column) => Column): this.type =
    commit(Rule.Expr(build))
  /** R3/R4: named deterministic generator, optional construct-uniqueness. */
  def replaceWithGenerator(formatter: String, unique: Boolean = false): this.type =
    commit(Rule.Generator(formatter, unique))
  /** R5: whole-row closure (UDF fallback). */
  def replaceByFields(dataType: DataType)(fn: Row => Any): this.type =
    commit(Rule.RowClosure(fn, dataType))

  /** F1: declare that rewriting the current column must propagate to
    * `table.field` cells holding the old value (value-matching cascade,
    * src/Anonymizer.php:403–424).
    */
  def synchronizeColumn(targets: (String, String)*): this.type =
    synchronizeTargets(targets.map { case (t, f) => SyncTarget(t, f) }: _*)

  /** F1/F5: sync targets with an explicit database — unset databases are
    * defaulted to the session's database at plan time
    * (reference: src/Anonymizer.php:381–392).
    */
  def synchronizeTargets(targets: SyncTarget*): this.type = {
    val c = current.getOrElse(
      throw new IllegalStateException("synchronizeColumn before column()"))
    sync += c -> (sync.getOrElse(c, Seq.empty) ++ targets)
    this
  }

  def build(): Blueprint =
    Blueprint(table, primaryCols, global, cols, sync, seedF, rowOrder)
}

object Blueprint {
  def builder(table: String): BlueprintBuilder = new BlueprintBuilder(table)
  def apply(table: String)(f: BlueprintBuilder => Unit): Blueprint = {
    val b = new BlueprintBuilder(table); f(b); b.build()
  }
}
