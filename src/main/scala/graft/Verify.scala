package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Failures are
  * recorded explicitly in `errors.json` (and stderr) instead of silently
  * dropping the query from the output set.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg (dev iteration only): run just the queries
    // whose name contains the substring; the driver always passes two
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[String] = args.drop(2).headOption
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    var errors = Map.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(name.contains) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          errors += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[verify] FAILED $name: ${e.getMessage}")
        }
      }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(k.contains) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // failures are reported via errors.json + stderr; exit 0 so the driver
    // still grades the queries that did produce output
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: " +
        errors.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
