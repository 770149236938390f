package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/** Driver contract — see SURVEY.md §7: the registry of declared gates,
  * each a query builder next to its DuckDB oracle SQL (see [[Gate]]), one
  * file per family under `graft/gates/`.
  */
object SparkEntry {

  /** Every declared gate, family by family. */
  val gates: Seq[Gate] = Seq(MaskingGates.gates, RelationalGates.gates,
    DedupGates.gates, TextGates.gates, CurationGates.gates,
    TokenizerGates.gates, PackingGates.gates, VectorGates.gates,
    RetrievalGates.gates, MediaGates.gates, PrivacyGates.gates).flatten

  private val byName: Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect {
      case (n, gs) if gs.size > 1 => n
    }
    require(dups.isEmpty,
      s"gate names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }

  /** The named gates, in the order given (repeats dropped). Fails on an
    * empty selection, and on unknown names, naming every one of them.
    */
  def select(names: Seq[String]): Seq[Gate] = {
    require(names.nonEmpty, "empty gate selection")
    val unknown = names.filterNot(byName.contains).distinct
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    names.distinct.map(byName)
  }

  /** Flagship query over the sf0.001 test data; a smoke check expects
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    byName("mask_blueprint_full").build(spark, "/root/testdata/sf0.001")
}
