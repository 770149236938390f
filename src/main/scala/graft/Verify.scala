package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each declared gate's result → parquet,
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
    // a filter that matches no gate fails here, before the session starts
    // or any output is written
    val gates = SparkEntry.select(SparkEntry.gates.map(_.name)
      .filter(name => only.forall(name.contains)))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var errors = Map.empty[String, String]
    gates.foreach { gate =>
      try gate.run(spark, sfDir)(_.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${gate.name}"))
      catch { case e: Throwable =>
        errors +=
          gate.name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] FAILED ${gate.name}: ${e.getMessage}")
      }
    }
    def obj(kvs: Iterable[(String, String)]): String = kvs
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    val json = obj(gates.map(g => g.name -> g.oracleSql))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = obj(errors)
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // failures are reported via errors.json + stderr; exit 0 so the driver
    // still grades the queries that did produce output
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: " +
        errors.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
