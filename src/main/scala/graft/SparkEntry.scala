package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §2 (normative operator
  * inventory; the reference checkout is empty, see SURVEY.md §0) and §7.
  *
  * `queries` carries one entry per implemented operator; `oracleSql`
  * carries the DuckDB-runnable ANSI twin for every oracle-checkable key.
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 pricing summary) on sf0.001; the driver
    * smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.aggPricingSummary(spark, "/root/testdata/sf0.001")

  /** Every key's [[KeySpec]], concatenated and validated once. Module
    * order is observable only in Bench's warm-up, which stages
    * artifacts in first-reference order: the bid/ask enrichment, the
    * stream feeds, then the rest. */
  lazy val specs: Seq[KeySpec] = KeySpec.validate(
    operators.TimeSeries.specs ++
    streaming.Streaming.specs ++
    operators.Relational.specs ++
    operators.Windows.specs ++
    operators.Functions.specs ++
    operators.UDX.specs ++
    operators.LlmText.specs ++
    operators.LlmSimilarity.specs ++
    operators.LlmLsh.specs ++
    operators.LlmQuantize.specs ++
    operators.Multimodal.specs ++
    operators.Etl.specs ++
    operators.Composite.specs ++
    operators.SnapshotTable.specs ++
    operators.SnapshotLog.specs ++
    operators.Clustering.specs ++
    operators.Graph.specs ++
    operators.Sketches.specs ++
    operators.LlmCorpus.specs ++
    operators.IndexStoreOp.specs ++
    operators.Unigram.specs ++
    operators.FuzzyJoin.specs ++
    plans.AsOfJoinPlans.specs)

  /** A main's comma-separated key subset, in order. A misspelt name
    * fails here instead of selecting no key and exiting 0. */
  def keySubset(csv: String): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val known = specs.map(_.name).toSet
    val unknown = names.filterNot(known)
    require(names.nonEmpty, s"no key named in '$csv'")
    require(unknown.isEmpty, s"unknown key(s): ${unknown.mkString(", ")} " +
      "— not in SparkEntry.queries (renamed?)")
    names
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.fn).toMap

  def oracleSql: Map[String, String] =
    specs.flatMap(s => s.oracle.map(s.name -> _)).toMap
}
