package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blueprint.{Blueprint, BlueprintBuilder, MaskCompiler}

/** Table source/sink abstraction. The reference is MySQL-only
  * (reference: composer.json:13, amphp/mysql); this engine reads/writes any
  * Spark source — parquet fixtures for tests, JDBC for MySQL parity.
  *
  * Table names may be qualified `database.table` (reference F5 sync-target
  * databases, src/Anonymizer.php:381–392); how a database maps onto storage
  * is IO-specific.
  */
trait TableIO {
  def read(table: String): DataFrame
  def write(table: String, df: DataFrame): Unit

  /** Two-phase write for multi-table runs: [[stage]] materialises the data
    * without making it visible, [[commit]] publishes it. A sequential
    * write+publish per table would corrupt cross-table plans — table B's
    * lazy plan may re-read table A, and must see A's ORIGINAL data, not
    * the freshly published masked data (the reference has no such hazard:
    * its per-row UPDATEs stream against live data once).
    *
    * The default (direct write at stage time, no-op commit) is ONLY safe
    * for IOs where `write` does not change what `read` returns (in-memory
    * maps, versioned/append-only stores). An IO whose write replaces the
    * data `read` serves MUST override both methods with real staging, or
    * `run()` silently reintroduces the corruption described above.
    */
  def stage(table: String, df: DataFrame): Unit = write(table, df)
  def commit(table: String): Unit = ()
}

/** Directory-of-files IO base: `dir/<table>.<ext>`; a qualified
  * `db.table` maps to `dir/<db>/<table>.<ext>`.
  *
  * `write` never truncates the path it is still lazily reading from
  * (Spark refuses to overwrite a path that feeds the plan): the new data is
  * materialised under a staging suffix first, then swapped in with two
  * filesystem renames.
  */
sealed abstract class FileTableIO(spark: SparkSession, dir: String,
    ext: String) extends TableIO {
  protected def load(path: String): DataFrame
  protected def save(df: DataFrame, path: String): Unit
  private def path(table: String): String =
    s"$dir/${table.replace('.', '/')}.$ext"
  def read(table: String): DataFrame = load(path(table))
  override def stage(table: String, df: DataFrame): Unit =
    save(df, path(table) + ".__graft_staging")
  override def commit(table: String): Unit = {
    val dst = path(table)
    val staging = dst + ".__graft_staging"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(conf)
    val dstP = new org.apache.hadoop.fs.Path(dst)
    val stagingP = new org.apache.hadoop.fs.Path(staging)
    // fail BEFORE touching the destination if the staging data is absent,
    // and surface a failed rename instead of silently losing the table
    if (!fs.exists(stagingP))
      throw new java.io.IOException(
        s"commit($table): staging path $staging missing — stage() not run?")
    if (fs.exists(dstP)) fs.delete(dstP, true)
    if (!fs.rename(stagingP, dstP))
      throw new java.io.IOException(
        s"commit($table): rename $staging -> $dst failed")
  }
  def write(table: String, df: DataFrame): Unit = {
    stage(table, df); commit(table)
  }
}

/** Parquet-directory-backed IO: `dir/<table>.parquet` — the default
  * columnar lake layout (typed schema travels with the files).
  */
final class ParquetIO(spark: SparkSession, dir: String)
    extends FileTableIO(spark, dir, "parquet") {
  protected def load(path: String): DataFrame = spark.read.parquet(path)
  protected def save(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}

/** Any path-based `DataFrameReader` format (csv, json, orc, text, avro)
  * behind the same staged-swap contract: `dir/<table>.<format>` with
  * per-side reader/writer options. CSV defaults carry the header and
  * infer the schema on read — schema-less formats round-trip VALUES,
  * not types (a csv bigint re-reads as the narrowest inferred type;
  * the reference's stringly model tolerates exactly this, and parquet
  * remains the typed path). Pass an explicit `schema` to pin types.
  */
final class FormatIO(spark: SparkSession, dir: String, format: String,
    readOptions: Map[String, String] = Map.empty,
    writeOptions: Map[String, String] = Map.empty,
    schema: Option[org.apache.spark.sql.types.StructType] = None)
    extends FileTableIO(spark, dir, format) {
  private def defaults: Map[String, String] = format match {
    case "csv" => Map("header" -> "true", "inferSchema" -> "true")
    case _ => Map.empty
  }
  protected def load(path: String): DataFrame = {
    val r = spark.read.format(format).options(defaults ++ readOptions)
    schema.fold(r)(r.schema).load(path)
  }
  protected def save(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").format(format)
      .options(defaults.filter(_._1 == "header") ++ writeOptions)
      .save(path)
}

/** JDBC-backed IO — the direct analog of the reference's MySQL target
  * (reference: src/Anonymizer.php:298–317 scan, 274–288 point-update sink).
  * Spark replaces the per-row async UPDATE stream with a partition-parallel
  * scan (`partitionColumn`/`numPartitions` ≈ the reference's
  * NB_MAX_MYSQL_CLIENT connection pool, src/Anonymizer.php:51) and a bulk
  * rewrite (`batchsize` ≈ NB_MAX_PROMISE_IN_LOOP batching,
  * src/Anonymizer.php:177–186).
  *
  * `write` goes through a staging table + a publish step: a straight
  * truncate+overwrite of a table the plan still lazily reads would execute
  * the masking against the emptied table (data loss). The publish step is
  * selected by `commitMode` — [[JdbcCommitMode.TruncateInsert]] (default,
  * keeps all target DDL incl. inbound FKs, small non-atomic window) or
  * [[JdbcCommitMode.RenameSwap]] (atomic single-statement publish on
  * MySQL). FK checks are disabled for the session via
  * `sessionInitStatement` — the analog of the reference's
  * `SET FOREIGN_KEY_CHECKS=0` (src/Anonymizer.php:440–444); `sessionInit`
  * defaults to that MySQL statement and is overridable (or `None`) for
  * engines with different FK-disable syntax — the Derby integration test
  * exercises the full read/stage/commit path that way.
  */
final class JdbcIO(spark: SparkSession, url: String,
    options: Map[String, String] = Map.empty,
    partition: Option[JdbcPartitioning] = None,
    sessionInit: Option[String] = Some("SET FOREIGN_KEY_CHECKS=0"),
    commitMode: JdbcCommitMode = JdbcCommitMode.TruncateInsert)
    extends TableIO {
  private def withInit(
      r: org.apache.spark.sql.DataFrameReader): org.apache.spark.sql.DataFrameReader =
    sessionInit.fold(r)(s => r.option("sessionInitStatement", s))
  def read(table: String): DataFrame = {
    val base = withInit(spark.read.format("jdbc").options(options)
      .option("url", url).option("dbtable", table))
    // partition-parallel scan: numPartitions concurrent range queries — the
    // Spark-side analog of the reference's NB_MAX_MYSQL_CLIENT pool
    partition.fold(base) { p =>
      base.option("partitionColumn", p.column)
        .option("lowerBound", p.lowerBound.toString)
        .option("upperBound", p.upperBound.toString)
        .option("numPartitions", p.numPartitions.toString)
    }.load()
  }
  override def stage(table: String, df: DataFrame): Unit = {
    val w = df.write.format("jdbc").options(options)
      .option("url", url).option("dbtable", s"${table}__graft_staging")
    sessionInit.fold(w)(s => w.option("sessionInitStatement", s))
      .mode("overwrite").save()
  }
  override def commit(table: String): Unit = withConnection { st =>
    val staging = s"${table}__graft_staging"
    commitMode match {
      case JdbcCommitMode.TruncateInsert =>
        // TRUNCATE + INSERT..SELECT: the target keeps its DDL (primary
        // key, indexes, AUTO_INCREMENT, FK definitions and any
        // child-table FKs pointing at it), which a rename to a
        // Spark-inferred staging table would destroy. Emptying the target
        // is safe here because the plan was already fully materialised
        // into the staging table during stage(). Not atomic — a crash
        // between the two statements leaves the target empty with the
        // data still in staging; re-running commit() completes the
        // publish. For an atomic publish use RenameSwap.
        st.execute(s"TRUNCATE TABLE $table")
        st.execute(s"INSERT INTO $table SELECT * FROM $staging")
        st.execute(s"DROP TABLE $staging")
      case JdbcCommitMode.RenameSwap(cloneDdl, renames) =>
        // Clone the TARGET's DDL (not the Spark-inferred staging schema),
        // fill the clone from staging, then publish with RENAME — on
        // MySQL the multi-rename is ONE atomic statement, so readers see
        // either the old or the new table, never an empty or missing
        // one. Crash anywhere before the rename leaves the target
        // untouched; after it, the new data is live and re-running
        // commit() merely rebuilds from the still-present staging table.
        // Caveat vs TruncateInsert: on MySQL, child-table FKs POINTING AT
        // the target follow the rename to the retired name — use this
        // mode for tables without inbound FKs.
        val clone = s"${table}__graft_next"
        val retired = s"${table}__graft_retired"
        // leftovers from a previously crashed publish; ignore "not found"
        Seq(clone, retired).foreach { t =>
          try st.execute(s"DROP TABLE $t")
          catch { case _: java.sql.SQLException => () }
        }
        st.execute(cloneDdl(clone, table))
        st.execute(s"INSERT INTO $clone SELECT * FROM $staging")
        renames(table, clone, retired).foreach(st.execute)
        st.execute(s"DROP TABLE $retired")
        st.execute(s"DROP TABLE $staging")
    }
  }
  def write(table: String, df: DataFrame): Unit = {
    stage(table, df); commit(table)
  }
  private def withConnection(f: java.sql.Statement => Unit): Unit = {
    val props = new java.util.Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try { sessionInit.foreach(st.execute); f(st) } finally st.close()
    } finally conn.close()
  }
}

/** Range partitioning for parallel JDBC scans (`partitionColumn` must be a
  * numeric/date/timestamp column, typically the primary key).
  */
final case class JdbcPartitioning(column: String, lowerBound: Long,
    upperBound: Long, numPartitions: Int)

/** How [[JdbcIO.commit]] publishes staged rows into the live table. */
sealed trait JdbcCommitMode
object JdbcCommitMode {

  /** Default: `TRUNCATE target; INSERT INTO target SELECT * FROM staging`.
    * Keeps every piece of target DDL (incl. FKs pointing at it); small
    * crash window between the two statements (target empty, data safe in
    * staging — re-run commit() to finish).
    */
  case object TruncateInsert extends JdbcCommitMode

  /** Atomic publish: clone the target's DDL, fill the clone from staging,
    * swap names. The defaults speak MySQL, where `CREATE TABLE … LIKE`
    * copies PK/indexes/defaults and the multi-`RENAME TABLE` is a single
    * atomic statement. Other engines override the two hooks — e.g. Derby:
    * `cloneDdl = (c, t) => s"CREATE TABLE $c AS SELECT * FROM $t WITH NO
    * DATA"` and two single renames (sacrificing atomicity — Derby has no
    * multi-rename — but exercising the identical orchestration).
    *
    * @param cloneDdl (clone, target) => DDL statement cloning target's
    *   shape under the clone name
    * @param renames (target, clone, retired) => statements retiring the
    *   live table and promoting the clone
    */
  final case class RenameSwap(
      cloneDdl: (String, String) => String =
        (clone, target) => s"CREATE TABLE $clone LIKE $target",
      renames: (String, String, String) => Seq[String] =
        (target, clone, retired) =>
          Seq(s"RENAME TABLE $target TO $retired, $clone TO $target"))
    extends JdbcCommitMode
}

/** Typed connection/runtime configuration with build-time validation — the
  * analog of the reference's config loader + checks
  * (src/Anonymizer.php:63–100: defaults 127.0.0.1 / pool 20 / batch 20 /
  * en_US, non-empty + int + address validation, hard exit on failure; here
  * an IllegalArgumentException at construction).
  */
final case class GraftConfig(
    host: String = "127.0.0.1",
    port: Int = 3306,
    user: String = "",
    password: String = "",
    database: String = "",
    numPartitions: Int = 20,
    batchSize: Int = 20,
    generatorLocale: String = "en_US") {
  require(host.nonEmpty, "DB_HOST must not be empty")
  require(port > 0 && port <= 65535, s"DB_PORT out of range: $port")
  require(user.nonEmpty, "DB_USER must not be empty")
  require(database.nonEmpty, "DB_NAME must not be empty")
  require(numPartitions > 0, "NB_MAX_MYSQL_CLIENT analog must be positive")
  require(batchSize > 0, "NB_MAX_PROMISE_IN_LOOP analog must be positive")
  require(graft.functions.Gen.locales.contains(generatorLocale),
    s"unknown DEFAULT_GENERATOR_LOCALE '$generatorLocale'; known: " +
      graft.functions.Gen.locales.mkString(", "))

  def jdbcUrl: String = s"jdbc:mysql://$host:$port/$database"
  def jdbcOptions: Map[String, String] = Map(
    "user" -> user, "password" -> password,
    "numPartitions" -> numPartitions.toString,
    "batchsize" -> batchSize.toString)
}

/** The engine's session — analog of the reference's `Anonymizer` class
  * (reference: src/Anonymizer.php:46–61 ctor, 205–210 `table`, 152–195 `run`).
  *
  * Usage mirrors the reference's fluent style (example.php:6–51):
  * {{{
  *   val anon = new Anonymizer(spark, new ParquetIO(spark, dir))
  *   anon.table("customer") { t =>
  *     t.primary("c_custkey")
  *     t.column("c_name").replaceWith("cust_#row#")
  *     t.column("c_mktsegment").where("c_acctbal > 0").replaceWith("MASKED")
  *   }
  *   val masked: Map[String, DataFrame] = anon.plan()   // lazy DataFrames
  *   anon.run()                                         // ... or write via io
  * }}}
  *
  * @param defaultDatabase fills unset sync-target databases, mirroring the
  *   reference's config-DB defaulting (src/Anonymizer.php:381–392); `None`
  *   leaves table names unqualified.
  */
object Anonymizer {
  /** Fully wired MySQL session from a validated [[GraftConfig]]: JDBC IO
    * with the configured pool/batch options, generator locale applied
    * (reference DEFAULT_GENERATOR_LOCALE, src/Anonymizer.php:53–55), and
    * the config database as the sync-target default (F5).
    */
  def forConfig(spark: SparkSession, config: GraftConfig): Anonymizer = {
    graft.functions.Gen.setLocale(config.generatorLocale)
    new Anonymizer(spark,
      new JdbcIO(spark, config.jdbcUrl, config.jdbcOptions),
      defaultDatabase = Some(config.database))
  }
}

final class Anonymizer(val spark: SparkSession, io: TableIO,
    defaultDatabase: Option[String] = None) {

  // insertion-ordered, keyed by table (reference: src/Anonymizer.php:39,209)
  private val blueprints = mutable.LinkedHashMap.empty[String, Blueprint]

  def table(name: String)(f: BlueprintBuilder => Unit): this.type = {
    blueprints += name -> Blueprint(name)(f); this
  }
  def table(bp: Blueprint): this.type = { blueprints += bp.table -> bp; this }

  /** Qualify a table name with the default database — applied uniformly to
    * blueprint tables AND sync targets, so a sync target that also has its
    * own blueprint resolves to the SAME plan key (masking then runs on top
    * of the propagated frame instead of forking into two entries that race
    * at commit time).
    */
  private def qualify(name: String): String =
    if (name.contains(".")) name
    else defaultDatabase.fold(name)(db => s"$db.$name")

  /** Build the masked DataFrame for every declared table plus every
    * FK-propagation target, without writing. Tables are processed in
    * declaration order (reference: src/Anonymizer.php:158); a table that was
    * already produced by an earlier table's FK propagation is masked *on top
    * of* the propagated values — matching the reference, where the cascade
    * triggers fire before the target's own masking runs.
    *
    * FK propagation replaces the reference's MySQL `AFTER UPDATE` triggers
    * (src/Anonymizer.php:403–424): for each synchronized column we materialise
    * the old→new value mapping and left-join it into each target, replacing
    * matching values. The reference cascade is **value-matching**
    * (`WHERE t.f = OLD.c`), so colliding old values over-propagate; the join
    * reproduces that, deduplicating the mapping on the old value (min new)
    * so target row counts are preserved.
    */
  def plan(): Map[String, DataFrame] = {
    val out = mutable.LinkedHashMap.empty[String, DataFrame]
    blueprints.foreach { case (name, bp) =>
      val key = qualify(name)
      val src = out.getOrElse(key, io.read(key))
      // pre-mask values of synchronized columns are stashed alongside the
      // masked values, so the old→new pairing is per-row by construction —
      // correct even when the masked column IS the primary key
      val maskedWithOld = MaskCompiler(src, bp, bp.sync.keySet)
      out += key -> maskedWithOld.drop(
        bp.sync.keys.map(MaskCompiler.oldValueCol).toSeq: _*)
      bp.sync.foreach { case (c, targets) =>
        val mapping = maskedWithOld
          .select(col(MaskCompiler.oldValueCol(c)).as("__graft_oldv"),
            col(MaskCompiler.spelling(src.columns.toSeq)(c)).as("__graft_newv"))
          .groupBy("__graft_oldv").agg(min("__graft_newv").as("__graft_newv"))
        targets.foreach { t =>
          val tkey = qualify(
            t.database.map(db => s"$db.${t.table}").getOrElse(t.table))
          val base = out.getOrElse(tkey, io.read(tkey))
          out += tkey -> applyMapping(base, mapping, t.field)
        }
      }
    }
    // insertion-ordered so run() stages in declaration order (reference
    // processes tables in declaration order, src/Anonymizer.php:158)
    scala.collection.immutable.ListMap(out.toSeq: _*)
  }

  /** Execute and write every planned table (reference run loop,
    * src/Anonymizer.php:152–195) in two phases: ALL plans are materialised
    * to staging first, then ALL are atomically published. A per-table
    * write+publish loop would corrupt cross-table dependencies — a later
    * table's lazy plan re-reads earlier tables (e.g. the FK old→new
    * mapping re-reads the source table) and must see pre-mask data.
    * What the plans materialise is freed before the first publish.
    */
  def run(): Unit = {
    val planned = graft.pipeline.Materialize.scope {
      val p = plan()
      p.foreach { case (t, df) => io.stage(t, df) }
      p
    }
    planned.keys.foreach(io.commit)
  }

  private def applyMapping(target: DataFrame, mapping: DataFrame,
      name: String): DataFrame = {
    // the target table's own spelling, as MaskCompiler resolves blueprints
    val field = MaskCompiler.spelling(target.columns.toSeq)(name)
    val (newV, keepV) = MaskCompiler.unifyTypes(
      col("__graft_newv"), mapping.schema("__graft_newv").dataType,
      col(field), target.schema(field).dataType)
    // The mapping's cardinality is the whole source table — never force a
    // broadcast here. Catalyst broadcasts under the size threshold and AQE
    // upgrades shuffle→broadcast at runtime from observed sizes; at 100 TB
    // this correctly degrades to a shuffle join instead of an OOM.
    target.join(mapping,
        target(field) === mapping("__graft_oldv"), "left")
      .withColumn(field, coalesce(newV, keepV))
      .drop("__graft_oldv", "__graft_newv")
  }
}
