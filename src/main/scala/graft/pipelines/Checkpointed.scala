package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.operators.{Artifact, Publish}
import graft.ops.RelOps._
import graft.sources.CsvIO

/** Step-checkpointed variant of the §3.2 pipeline — the analogue of
  * the reference's CSV-per-step + `load_from_files=True` resume
  * (/root/reference/x2.2.py:249-256, 361-405), with Parquet as the
  * durable IR. Each step materializes to `<dir>/<step>.parquet`; a
  * resumed run reads any step that already exists instead of
  * recomputing it, so a failed 6-step run restarts at the failed
  * step. At cluster scale this is the standard job-boundary pattern
  * (cheap idempotent retries, no lineage recomputation across jobs).
  */
object Checkpointed {

  def stepPath(ckptDir: String, step: String): String = s"$ckptDir/$step.parquet"

  /** Compute-or-reload one step. */
  private def step(spark: SparkSession, ckptDir: String, name: String, resume: Boolean)
                  (compute: => DataFrame): DataFrame = {
    val path = stepPath(ckptDir, name)
    // a bare directory-exists is not "step finished": a run killed
    // mid-job-commit leaves part files without the _SUCCESS marker,
    // and resuming from that would silently publish a truncated
    // relation downstream. Only trust a committed checkpoint.
    if (resume && Artifact.complete(path)) spark.read.parquet(path)
    else {
      Publish.parquet(compute, path)
      spark.read.parquet(path)
    }
  }

  /** Six checkpointed steps mirroring x2.2's fresh-run branch; returns
    * the final candidates with phase-2 reach stats.
    */
  def relatedCandidates(spark: SparkSession, dir: String, ckptDir: String,
                        segment: String = "BUILDING", minQty: Double = 45.0,
                        resume: Boolean = false): DataFrame = {
    val t = Tables(spark, dir)
    val facts = step(spark, ckptDir, "s1_facts", resume) {
      t.lineitem.select(col("l_orderkey").as("o_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")), Seq("o_orderkey"))
        .join(t.customer.select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          Seq("o_custkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"), col("o_custkey"),
          (col("c_mktsegment") === segment).as("is_main"))
        .agg(max(when(col("l_quantity") >= minQty, 1).otherwise(0)).as("any_hi"))
    }
    val mainTargets = step(spark, ckptDir, "s2_main_targets", resume) {
      facts.filter(col("is_main") && col("any_hi") === 1).select("l_partkey").distinct()
    }
    val relatedCustomers = step(spark, ckptDir, "s3_related_customers", resume) {
      semi(facts.filter(!col("is_main")), mainTargets, Seq("l_partkey"))
        .select("o_custkey").distinct()
    }
    val relatedLines = step(spark, ckptDir, "s4_related_lines", resume) {
      semi(facts.filter(!col("is_main")), relatedCustomers, Seq("o_custkey"))
    }
    val candidates = step(spark, ckptDir, "s5_candidates", resume) {
      anti(relatedLines.select("l_partkey").distinct(),
        facts.filter(col("is_main")).select("l_partkey").distinct(), Seq("l_partkey"))
    }
    step(spark, ckptDir, "s6_merged", resume) {
      semi(relatedLines, candidates, Seq("l_partkey"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(countDistinct(col("o_custkey")).as("n_related_customers"),
          countDistinct(col("l_suppkey")).as("n_suppliers"))
    }.orderBy("p_partkey")
  }

  /** The reference's RELOAD branch (`load_from_files=True`,
    * /root/reference/x2.2.py:249-341): a fresh process resumes from
    * the CSV step checkpoints — not from any in-memory phase-1 state —
    * and runs phase 2: fan every related disease (related customer)
    * out to its targets (suppliers), every candidate drug (candidate
    * part) out to ITS targets, and inner-join the two target
    * relations on the target id (x2.2.py:334-336's `merge(on='id')`).
    *
    * Lifecycle: phase 1 runs once per corpus (the parquet step
    * checkpoints above) and its two hand-off relations are published
    * as CSV — the reference's `to_csv` / `load_from_csv` pair (S6/S7),
    * atomic via the Artifact protocol. Every later run starts at the
    * CSV reads: the fan-outs join against the raw fact tables (the
    * reference re-queries the live API in phase 2), so no phase-1
    * lineage survives into the phase-2 plan.
    */
  def phase2(spark: SparkSession, dir: String, ckptDir: String,
             segment: String = "BUILDING", minQty: Double = 45.0): DataFrame = {
    val rcCsv = s"$ckptDir/s3_related_customers_csv"
    val candCsv = s"$ckptDir/s5_candidates_csv"
    if (!Artifact.complete(rcCsv) || !Artifact.complete(candCsv)) {
      // fresh-run branch: materialize the six parquet steps (each
      // step writes eagerly), then publish the two reload inputs as CSV
      // checkpoints
      relatedCandidates(spark, dir, ckptDir, segment, minQty, resume = true)
      Artifact.ensure(rcCsv)(tmp => CsvIO.write(
        spark.read.parquet(stepPath(ckptDir, "s3_related_customers")), tmp))
      Artifact.ensure(candCsv)(tmp => CsvIO.write(
        spark.read.parquet(stepPath(ckptDir, "s5_candidates")), tmp))
    }
    // S6 reload with the derived id set — load_from_csv's (records, id_set)
    val (_, relCustIds) = CsvIO.readWithIdSet(spark, rcCsv, "o_custkey",
      Some(StructType.fromDDL("o_custkey BIGINT")))
    val (_, candIds) = CsvIO.readWithIdSet(spark, candCsv, "l_partkey",
      Some(StructType.fromDDL("l_partkey BIGINT")))
    val t = Tables(spark, dir)
    val facts = t.lineitem
      .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"), col("l_suppkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")), Seq("o_orderkey"))
    // targets per related disease (x2.2.py:289-295 tags each target
    // with its disease_id) and per candidate drug (:305-317)
    val relatedDiseaseTargets = semi(facts, relCustIds, Seq("o_custkey"))
      .select(col("o_custkey").as("disease_id"), col("l_suppkey").as("target_id"))
      .distinct()
    val candidateDrugTargets = semi(facts, candIds, Seq("l_partkey"))
      .select(col("l_partkey").as("drug_id"), col("l_suppkey").as("target_id"))
      .distinct()
    relatedDiseaseTargets.join(candidateDrugTargets, Seq("target_id"))
      .select(col("target_id"), col("disease_id"), col("drug_id"))
      .orderBy("target_id", "disease_id", "drug_id")
  }
}
