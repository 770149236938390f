package graft

/** Dump `.explain("formatted")` for the named declared queries to files —
  * the plan evidence for plans/r21/<query>_{before,after}.txt (guide §1:
  * capture the plan shape — Exchange count, join strategy, PushedFilters —
  * before and after every change). Usage:
  *   runMain graft.ExplainQuery <outDir> <suffix> <q1,q2,...>
  * Writes <outDir>/<query>_<suffix>.txt per query.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val gates = SparkEntry.select(
      args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    gates.foreach { gate =>
      val file = java.nio.file.Paths.get(outDir, s"${gate.name}_$suffix.txt")
      gate.run(spark, sfDir) { df =>
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(file, plan.getBytes("UTF-8"))
      }
      println(s"[explain] wrote $file")
    }
    spark.stop()
  }
}
