package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.{Anonymizer, ParquetIO, TableIO}

/** Times the [[TableIO]] calls an [[Anonymizer]] makes. `run()` is
  * `plan()` followed by one `stage` per table and one `commit` per table,
  * so the plan span opened by [[beginPlan]] ends at the first `stage`.
  */
final class TimingIO(inner: TableIO, tr: Tracer) extends TableIO {
  private var plan: Option[Span] = None
  def beginPlan(): Unit = plan = Some(tr.open("blueprint.plan"))
  def endPlan(): Unit = { plan.foreach(tr.close); plan = None }
  def read(table: String): DataFrame = tr.span("io.read")(inner.read(table))
  def write(table: String, df: DataFrame): Unit = {
    stage(table, df); commit(table)
  }
  override def stage(table: String, df: DataFrame): Unit = {
    endPlan()
    tr.span("io.stage")(inner.stage(table, df))
  }
  override def commit(table: String): Unit =
    tr.span("io.commit")(inner.commit(table))
}

/** The reference's example Blueprint (a `users` table with five e-mail
  * columns and a `class` table pointing at it) at scale, through
  * [[ParquetIO]]: every rule kind, a globalWhere, and the id rewritten to
  * a uuid with the FK cascade. The work is in the mask compiler, `#row#`
  * numbering, the cascade join and the file stage/rename commit.
  */
final class AnonymizeLake(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  def name: String = "anonymize_lake"
  def nominalJobS: Double = 2.0
  def warmups: Int = 1
  val users = 20000L
  val classes = 60000L
  val GlobalWhere = "email4 != email5"
  def inputRows: Long = users + classes
  private val pristine = work.resolve("pristine")
  private val lake = work.resolve("lake")

  /** user_id = 1 has probability ln 2 / ln users under [[classFrame]]. */
  private val fanOutTop = classes * math.log(2) / math.log(users.toDouble)
  def info: Seq[(String, Any)] = Seq("users_rows" -> users,
    "class_rows" -> classes, "fk_fanout_top_expected" -> fanOutTop,
    "fk_fanout_skew" -> fanOutTop * users / classes,
    "rows_failing_global_where" -> untouched.size)

  private def h(tag: String): org.apache.spark.sql.Column =
    xxhash64(lit(seed), col("id"), lit(tag))

  /** `users`: id 1..n; about 10% of rows have a `vip` email1 (kept by the
    * per-column where) and 5% have email4 == email5 (kept by the
    * globalWhere, so they must come out unchanged).
    */
  private def usersFrame: DataFrame = {
    val id = col("id").cast("string")
    spark.range(1, users + 1, 1, Main.cpus).select(col("id"),
      when(pmod(h("vip"), lit(10)) === 0, concat(lit("vip_"), id,
        lit("@orig.test")))
        .otherwise(concat(lit("one_"), id, lit("_"), lower(hex(h("e1"))),
          lit("@orig.test"))).as("email1"),
      concat(lit("two_"), lower(hex(h("e2"))), lit("@orig.test")).as("email2"),
      concat(lit("three_"), id, lit("@orig.test")).as("email3"),
      concat(lit("four_"), id, lit("@orig.test")).as("email4"),
      when(pmod(h("same"), lit(20)) === 0,
        concat(lit("four_"), id, lit("@orig.test")))
        .otherwise(concat(lit("five_"), id, lit("@orig.test"))).as("email5"))
  }

  /** `class`: user_id = floor(users^u) for a uniform u, a Zipf(1)
    * fan-out: user 1 owns about ln 2 / ln users of all classes.
    */
  private def classFrame: DataFrame = {
    val u = pmod(h("fk"), lit(1000003L)).cast("double") / 1000003.0
    spark.range(1, classes + 1, 1, Main.cpus).select(
      col("id").as("class_id"),
      floor(pow(lit(users.toDouble), u)).cast("long").as("user_id"),
      concat(lit("class_"), col("id").cast("string")).as("title"))
  }

  def blueprint(anon: Anonymizer): Unit = anon.table("users") { t =>
    t.primary("id")
    t.globalWhere(GlobalWhere)
    t.column("email1").replaceWith("john@example.com")
    t.column("email2").replaceWith("email_#row#@example.com")
    t.column("email3").replaceWithGenerator("email")
    t.column("email4").where("email1 NOT LIKE 'vip%'")
      .replaceWithGenerator("email", unique = true)
    t.column("email5").replaceByFields(StringType)(r =>
      r.getAs[String]("email4"))
    t.column("id").replaceWithGenerator("uuid", unique = true)
      .synchronizeColumn("class" -> "user_id")
  }

  def job(tr: Tracer): Map[String, Double] = {
    val base = new ParquetIO(spark, lake.toString)
    val timed = if (tr.enabled) Some(new TimingIO(base, tr)) else None
    val anon = new Anonymizer(spark, timed.getOrElse(base))
    blueprint(anon)
    timed.foreach(_.beginPlan())
    anon.run()
    timed.foreach(_.endPlan())
    Map.empty
  }

  /** Rows of `df` as strings, by lower-case column name. */
  private def rows(df: DataFrame): Seq[Map[String, String]] = {
    val names = df.columns.map(_.toLowerCase(java.util.Locale.ROOT))
    df.select(df.columns.toIndexedSeq.map(col(_).cast("string")): _*)
      .collect()
      .map(r => names.indices.map(i => names(i) -> r.getString(i)).toMap)
      .toSeq
  }

  /** Pristine `users` rows that fail the globalWhere, by id. */
  private lazy val untouched: Map[String, Map[String, String]] =
    rows(pristineUsers).filter(r => r("email4") == r("email5"))
      .map(r => r("id") -> r).toMap

  /** Row counts kept; rows failing the globalWhere unchanged; every masked
    * row carries the static value, a contiguous `#row#`, distinct
    * unique-generator values and distinct ids; every `class.user_id`
    * names a masked `users.id`.
    */
  def check(): Option[String] = {
    val u = rows(output("users"))
    val fk = rows(output("class").select("user_id")).map(_("user_id"))
    val (same, masked) = u.partition(r => untouched.contains(r("id")))
    val m = masked.size.toLong
    val rn = masked.map(r => "^email_([0-9]+)@example\\.com$".r
      .findFirstMatchIn(r("email2")).map(_.group(1).toLong).getOrElse(-1L))
    val ids = u.map(_("id")).toSet
    Seq[(Boolean, String)](
      (u.size != users) -> s"users rows ${u.size} != $users",
      (fk.size != classes) -> s"class rows ${fk.size} != $classes",
      (same.size != untouched.size || same.exists(r => untouched(r("id")) != r))
        -> "rows failing the globalWhere changed",
      masked.exists(_("email1") != "john@example.com") ->
        "masked rows miss the static value",
      (rn.toSet != (0L until m).toSet) -> "#row# values are not 0..m-1",
      (masked.map(_("email4")).distinct.size != m) ->
        "unique generator values repeat",
      masked.exists(r => r("email5") != r("email4")) ->
        "email5 does not copy the masked email4",
      (ids.size != u.size) -> "masked ids repeat",
      fk.exists(!ids.contains(_)) -> "a class.user_id names no user")
      .collectFirst { case (true, msg) => msg }
  }

  def generate(): Unit = {
    usersFrame.write.parquet(pristine.resolve("users.parquet").toString)
    classFrame.write.parquet(pristine.resolve("class.parquet").toString)
  }

  def restore(): Unit = {
    Main.deleteTree(lake)
    Main.copyTree(pristine, lake)
  }

  private def output(table: String): DataFrame =
    spark.read.parquet(lake.resolve(s"$table.parquet").toString)
  private def pristineUsers: DataFrame =
    spark.read.parquet(pristine.resolve("users.parquet").toString)
}
