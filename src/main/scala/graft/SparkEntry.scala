package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipelines.Repurpose
import graft.registry.{GraphQueries, KgQueries, PipelineQueries, Query, RelationalQueries,
  StreamingQueries, Support, TextQueries, VectorQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator row of SURVEY.md §2 (plus the north-star LLM-data-
  * pipeline extensions) has a named query. Each query is one [[Query]]
  * record in its family's registry under `graft.registry`: its name,
  * its builder and its DuckDB oracle SQL, with IDENTICAL column names
  * and ordering. Every query has a full oracle; sketch/ANN queries
  * carry envelope oracles (the DuckDB-exact side plus guarantee
  * verdicts pinned TRUE) and also assert in-query invariants
  * ([[invariantEvidence]]).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * The §3.1 candidate-drugs algebra: scan + search + threshold
    * filter + two fan-out joins + anti-join + dedup in one DAG.
    */
  def entry(spark: SparkSession): DataFrame =
    // HOUSEHOLD is the segment with candidates at sf0.001 (BUILDING's
    // candidate set is empty at that scale; q22 uses it at sf0.01+).
    Repurpose.candidateParts(spark, "/root/testdata/sf0.001", segment = "HOUSEHOLD")

  /** Every registered query, family by family. */
  private[graft] lazy val registry: Seq[Query] =
    RelationalQueries.all ++ TextQueries.all ++ VectorQueries.all ++
      GraphQueries.all ++ StreamingQueries.all ++ KgQueries.all ++
      PipelineQueries.all

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** Evidence trail of every in-query invariant this JVM has run —
    * (check key, passed, measured values, error). Verify serializes it
    * to `invariants.json`.
    */
  def invariantEvidence: Seq[(String, Boolean, String, String)] =
    Support.SelfCheck.evidence.map(e =>
      (e.key, e.passed, e.measured.mkString("; "), e.error.getOrElse("")))
}
