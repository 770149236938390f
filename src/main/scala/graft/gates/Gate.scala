package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Materialize

/** One declared query: an operator from SURVEY.md §2 (or a north-star
  * extension) exercised end-to-end through the library, and its
  * DuckDB-equivalent ANSI SQL over the same parquet tables. Column names
  * are aliased identically on both sides; both sides ORDER BY a total
  * order so row order matches byte-for-byte.
  *
  * Float discipline for oracle parity: double aggregations are computed
  * over DECIMAL(12,2) casts (exact, order-independent) and cast back to
  * DOUBLE at the end, so Spark's nondeterministic partial-agg order can
  * never flip a bit vs DuckDB.
  */
final case class Gate(name: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String) {

  /** Builds the gate over the fixture dir `dir` and hands the frame to
    * `sink`, then frees what the run materialised (cached frames and
    * [[Materialize]] blocks), so no later run reuses or accumulates
    * them. Returns the seconds from build start to sink end; the release
    * is not timed. A build or sink failure propagates after the release.
    */
  def run(spark: SparkSession, dir: String)(sink: DataFrame => Unit)
      : Double = {
    val t0 = System.nanoTime()
    try {
      sink(build(spark, dir))
      (System.nanoTime() - t0) / 1e9
    } finally {
      spark.catalog.clearCache()
      Materialize.release()
    }
  }
}

object Gate {
  /** Full evaluation with no output: a bare `.count()` would let
    * Catalyst prune the masking projections away and time a metadata
    * scan.
    */
  val noop: DataFrame => Unit =
    _.write.format("noop").mode("overwrite").save()
}
