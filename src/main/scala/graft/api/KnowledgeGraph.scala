package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Artifact

/** The reference's knowledge-graph data model (disease / target /
  * drug entities + scored association edges, SURVEY.md §1.1) derived
  * as views over the harness star schema, per §7.1's mapping:
  * disease ≈ customer segment, target ≈ part, drug ≈ supplier.
  * The domain names carry no semantics — the operator behavior does —
  * but this gives the ClientApi functions real distributed tables of
  * the same SHAPE the reference scans (entity rows + edge rows with
  * `score`, arrival-ordered score desc like the server's
  * `orderByScore` default, opentargets.schema:263-265).
  *
  * With `indexPath` set, the derived EDGE relations (association
  * scores, known drugs, linked targets) are built once per corpus and
  * persisted via the Artifact protocol — the analogue of the
  * reference server's own architecture: the platform precomputes
  * association scores in an ETL and the API only scans the
  * materialized index (opentargets.schema:263-265 serves scores, it
  * does not compute them per request). Every ClientApi call then
  * starts from a parquet scan of the index instead of re-aggregating
  * the fact tables. Entity views stay direct scans (they are already
  * single-table projections).
  */
final class KnowledgeGraph(spark: SparkSession, dir: String,
                           indexPath: Option[String] = None) {
  private val t = Tables(spark, dir)

  /** Build-once persisted edge relation keyed `$indexPath-$name`;
    * identity when no index path is configured.
    */
  private def indexed(name: String)(build: => DataFrame): DataFrame =
    indexPath match {
      case None => build
      case Some(p) =>
        val full = s"$p-$name"
        // per-session relation reuse (the Tables.resolved rationale):
        // every dialect query re-resolved each index relation it
        // touched (Artifact existence check + footer read + plan
        // build) — a measurable slice of the ~0.5 s/query dialect
        // floor. The ensure runs on the memo's first resolution only.
        Tables.resolved(spark, full,
          Artifact.ensure(full)(tmp => build.write.parquet(tmp)))
    }

  /** disease(id, name) — one per market segment. */
  def diseases: DataFrame =
    t.customer.select(col("c_mktsegment")).distinct()
      .select(concat(lit("DIS_"), col("c_mktsegment")).as("id"),
        col("c_mktsegment").as("name"))

  /** target(id, approvedSymbol, bioType) — one per part (bioType ≈
    * the part type bucket, opentargets.schema's Target.bioType).
    */
  def targets: DataFrame =
    t.part.select(concat(lit("TGT_"), col("p_partkey")).as("id"),
      col("p_name").as("approvedSymbol"),
      col("p_type").as("bioType"))

  /** drug(id, name) — one per supplier. */
  def drugs: DataFrame =
    t.supplier.select(concat(lit("DRG_"), col("s_suppkey")).as("id"),
      col("s_name").as("name"))

  /** The Drug facet block (opentargets.schema Drug fields the
    * reference selects — synonyms / drugType / isApproved /
    * maximumClinicalTrialPhase, x2.py prompt_get_drugs_for_target and
    * opentargets_query_targets_for_drug.py): drugType and approval
    * derive from the supplier dimension (nation name / account
    * standing — §7.1 mapping, names carry no semantics), synonyms is
    * a deterministic two-element list, and the max clinical phase is
    * DERIVED from the knownDrugs edge relation — the same
    * evidence-rollup the platform's ETL performs, so the facet is a
    * real aggregation, not a stored column.
    */
  def drugDetails: DataFrame = {
    val maxPhase = knownDrugs.groupBy(col("drug_id"))
      .agg(max(col("phase")).as("maximumClinicalTrialPhase"))
      .withColumnRenamed("drug_id", "id")
    t.supplier
      .join(t.nation, col("s_nationkey") === col("n_nationkey"))
      .select(concat(lit("DRG_"), col("s_suppkey")).as("id"),
        col("s_name").as("name"),
        lower(col("n_name")).as("drugType"),
        (col("s_acctbal") >= 0).as("isApproved"),
        array(col("s_name"),
          concat(lit("SUP-"), col("s_suppkey"))).as("synonyms"))
      .join(maxPhase, Seq("id"), "left")
  }

  private def facts: DataFrame =
    t.lineitem.select(col("l_orderkey").as("o_orderkey"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")), Seq("o_orderkey"))
      .join(t.customer.select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"))

  /** associatedTargets(disease_id, target_id, score) — score is the
    * segment's share of the part's volume, in (0, 1].
    */
  def associatedTargets: DataFrame = indexed("assoc") {
    val perPair = facts.groupBy(col("c_mktsegment"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("q"))
    val perPart = Window.partitionBy(col("l_partkey"))
    perPair
      .withColumn("score", round(col("q") / sum(col("q")).over(perPart), 6))
      .select(concat(lit("DIS_"), col("c_mktsegment")).as("disease_id"),
        concat(lit("TGT_"), col("l_partkey")).as("target_id"), col("score"))
  }

  /** associatedDiseases — the reverse edge (same score). */
  def associatedDiseases: DataFrame =
    associatedTargets.select(col("target_id"), col("disease_id"), col("score"))

  /** knownDrugs(disease_id, target_id, drug_id, phase) — the
    * denormalized clinical-precedence fact rows (KnownDrug,
    * opentargets.schema:855-932): every (segment, part, supplier)
    * that actually traded.
    */
  def knownDrugs: DataFrame = indexed("knowndrugs") {
    facts.groupBy(col("c_mktsegment"), col("l_partkey"), col("l_suppkey"))
      .agg(least(lit(4.0), (count(lit(1)) / 10.0)).as("phase"))
      .select(concat(lit("DIS_"), col("c_mktsegment")).as("disease_id"),
        concat(lit("TGT_"), col("l_partkey")).as("target_id"),
        concat(lit("DRG_"), col("l_suppkey")).as("drug_id"),
        round(col("phase"), 1).as("phase"))
  }

  /** linkedTargets(drug_id, target_id, rank) — drug→target edges
    * ranked by traded volume (the server's ordered `rows`, whose
    * `rows[0]` the reference picks, x2.py:215).
    *
    * Groups `lineitem` directly rather than via `facts`: the edge
    * needs no customer attribute, and the orders⋈customer legs are
    * 1:1 total on lineitem (every line has exactly one order and
    * customer), so they change nothing but cost — Catalyst cannot
    * drop inner joins on FK-integrity grounds itself, and at 10×
    * data the dead joins were the dominant stage of every
    * drug-centric query.
    */
  def linkedTargets: DataFrame = indexed("linkedtargets") {
    val perPair = t.lineitem.groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("q"))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("q").desc, col("l_partkey").asc)
    perPair.withColumn("rank", row_number().over(w))
      .select(concat(lit("DRG_"), col("l_suppkey")).as("drug_id"),
        concat(lit("TGT_"), col("l_partkey")).as("target_id"), col("rank"))
  }

  /** mechanismRows(drug_id, mechanismOfAction, actionType, target_id)
    * — the MechanismOfActionRow shape (opentargets.schema:997-1005):
    * one flat row per (drug, mechanism) × target, consumed by
    * GraphQl's `drug.mechanismsOfAction` — the reference's
    * opentargets_query_targets_for_drug.py:4-21 query, whose rows
    * each carry a LIST of targets. Mechanism rows group the drug's
    * distinct traded parts by brand; actionType derives from the
    * brand string (constant within a mechanism row by construction).
    * Groups `lineitem` directly (no customer leg) for the same
    * dead-join reason as [[linkedTargets]].
    */
  def mechanismRows: DataFrame = indexed("mechanisms") {
    t.lineitem.select(col("l_suppkey"), col("l_partkey")).distinct()
      .join(t.part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(concat(lit("DRG_"), col("l_suppkey")).as("drug_id"),
        col("p_brand").as("mechanismOfAction"),
        concat(lit("CLASS_"), substring(col("p_brand"), 7, 1)).as("actionType"),
        concat(lit("TGT_"), col("l_partkey")).as("target_id"))
  }

  /** goTerms(id, name) — the GeneOntologyTerm catalog
    * (opentargets.schema:714-717) over distinct part brands: id is
    * the GO-style code (`GO_` + upper, `#`→`_`), name the lowercased
    * brand. Backs the `geneOntologyTerms(goIds:)` batch-lookup root
    * (:1189-1192).
    */
  def goTerms: DataFrame =
    t.part.select(col("p_brand")).distinct()
      .select(concat(lit("GO_"),
          translate(upper(col("p_brand")), "#", "_")).as("id"),
        lower(col("p_brand")).as("name"))

  /** associationDatasources(datasource, datatype) — the EvidenceSource
    * catalog (opentargets.schema:659-662, Query root :1183-1184):
    * distinct (returnflag, linestatus) pairs as datasources, datatype
    * grouping them by the flag (flag `n` owns two sources — the
    * datasource→datatype many-to-one the schema models). A distinct
    * over two 1-char columns is a map-side-combined agg — catalog
    * cost at any scale.
    */
  def associationDatasources: DataFrame =
    t.lineitem.select(col("l_returnflag"), col("l_linestatus")).distinct()
      .select(lower(concat(col("l_returnflag"), lit("_"),
          col("l_linestatus"))).as("datasource"),
        lower(col("l_returnflag")).as("datatype"))

  /** interactionResources(databaseVersion, sourceDatabase) — the
    * static resource catalog (opentargets.schema:827-830, Query root
    * :1186-1187): one row per region, version counting its nations.
    */
  def interactionResources: DataFrame =
    t.region.join(t.nation, col("r_regionkey") === col("n_regionkey"))
      .groupBy(col("r_name")).agg(count(lit(1)).as("n"))
      .select(concat(lit("v"), col("n")).as("databaseVersion"),
        lower(col("r_name")).as("sourceDatabase"))

  /** meta — Meta { name, apiVersion{x,y,z}, dataVersion{year,month,
    * iteration} } (opentargets.schema:1013-1017, Query root :1118):
    * name and apiVersion are engine constants; dataVersion derives
    * from the corpus (latest order date = the ETL's data cut, row
    * count = the load iteration), so the oracle checks a real
    * aggregation, not a literal echo. One flat row; GraphQl shapes
    * the nesting selection-side.
    */
  def meta: DataFrame =
    t.orders.agg(max(col("o_orderdate")).as("d"),
        count(lit(1)).as("n"))
      .select(lit("graft-knowledge-graph").as("name"),
        lit("1").as("x"), lit("0").as("y"), lit("0").as("z"),
        year(col("d")).cast("string").as("year"),
        month(col("d")).cast("string").as("month"),
        col("n").cast("string").as("iteration"))

  /** pathways(target_id, pathwayId, pathway) — part → brand
    * (ReactomePathway shape, opentargets.schema:1202-1206).
    */
  def pathways: DataFrame =
    t.part.select(concat(lit("TGT_"), col("p_partkey")).as("target_id"),
      concat(lit("PWY_"), col("p_brand")).as("pathwayId"),
      col("p_brand").as("pathway"),
      col("p_type").as("topLevelTerm"))

  /** tractability(target_id, label, modality, value) — the Target
    * druggability assessment (`Tractability {label, modality, value}`
    * opentargets.schema:1546-1550, `Target.tractability: [Tractability
    * !]!` :1416). Four assessment rows per target, one per modality
    * bucket (SM / AB / PR / OC — the platform's small-molecule,
    * antibody, PROTAC and other-clinical buckets), each `value` a
    * deterministic predicate of the part's OWN attributes — a derived
    * assessment, not a stored flag, so the oracle checks the
    * derivation. One projection + a 4-way explode: narrow, no
    * shuffle, per-entity lookups prune to one part row.
    */
  def tractability: DataFrame =
    t.part.select(concat(lit("TGT_"), col("p_partkey")).as("target_id"),
        explode(array(
          struct(lit("discovery_precedence").as("label"),
            lit("SM").as("modality"), (col("p_size") <= 25).as("value")),
          struct(lit("surface_accessible").as("label"),
            lit("AB").as("modality"),
            col("p_brand").contains("#3").as("value")),
          struct(lit("mod_ubiquitination").as("label"),
            lit("PR").as("modality"),
            (col("p_retailprice") > 1500).as("value")),
          struct(lit("clinical_precedence").as("label"),
            lit("OC").as("modality"),
            col("p_type").startsWith("PROMO").as("value")))).as("r"))
      .select(col("target_id"), col("r.label").as("label"),
        col("r.modality").as("modality"), col("r.value").as("value"))

  /** phenotypes(disease_id, hpo_id, hpo_name, hpo_desc, namespace) —
    * the Disease phenotype annotations (`Disease.phenotypes(page:):
    * DiseaseHPOs` opentargets.schema:224-228, row shape DiseaseHPO
    * :279-288 with its `phenotypeHPO: HPO` :727-739). A disease's
    * phenotypes are the distinct nations its customers span: hpo_id
    * is the zero-padded HPO-style code, namespace the nation's region
    * (the HPO sub-ontology bucket). The DISTINCT runs on the two
    * 4-byte key columns BEFORE the dimension joins — at any corpus
    * scale the join inputs are segment×nation sized (≤125 rows), not
    * customer-sized.
    */
  def phenotypes: DataFrame =
    t.customer.select(col("c_mktsegment"), col("c_nationkey")).distinct()
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .join(t.region, col("n_regionkey") === col("r_regionkey"))
      .select(concat(lit("DIS_"), col("c_mktsegment")).as("disease_id"),
        format_string("HP_%07d", col("c_nationkey")).as("hpo_id"),
        lower(col("n_name")).as("hpo_name"),
        concat(lit("phenotype of "), lower(col("n_name"))).as("hpo_desc"),
        array(lower(col("r_name"))).as("namespace"))

  /** evidenceRows(id, disease_id, target_id, score) — the Evidence
    * rows behind `disease.evidences(ensemblIds:)` (opentargets.schema
    * :230-240, row type Evidence :505-509's consumed core: id, score,
    * target, disease). One evidence row per scored association edge,
    * its id the deterministic (disease, target) key — served off the
    * same persisted association index every other edge consumer
    * reads, so an evidences request is an index probe, never a fact
    * re-aggregation.
    */
  def evidenceRows: DataFrame =
    associatedTargets.select(
      concat(lit("EVD_"), col("disease_id"), lit("_"),
        col("target_id")).as("id"),
      col("disease_id"), col("target_id"), col("score"))

  /** entityEmbeddings(vec_id, embedding) — the entity↔vector sidecar
    * behind `target.similarEntities` (opentargets.schema:1422-1431):
    * target `TGT_k` owns vector `vec_id = k` (the deterministic id
    * bridge; a vector without a part row is an unresolvable
    * similarity hit — its `object` serves GraphQL null).
    */
  def entityEmbeddings: DataFrame =
    t.embeddings.select(col("vec_id"), col("embedding"))
}

object KnowledgeGraph {
  def apply(spark: SparkSession, dir: String): KnowledgeGraph =
    new KnowledgeGraph(spark, dir)

  /** KG whose edge relations read the persisted association index. */
  def apply(spark: SparkSession, dir: String, indexPath: String): KnowledgeGraph =
    new KnowledgeGraph(spark, dir, Some(indexPath))
}
