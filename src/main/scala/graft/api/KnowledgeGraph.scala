package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * scores, known drugs, linked targets, mechanism rows) are built once
  * per corpus and persisted via the Artifact protocol — the analogue
  * of the reference server's own architecture: the platform
  * precomputes association scores in an ETL and the API only scans the
  * materialized index (opentargets.schema:263-265 serves scores, it
  * does not compute them per request). Every ClientApi call then
  * starts from a parquet scan of the index instead of re-aggregating
  * the fact tables. Two entity relations aggregate and are persisted
  * the same way: `diseases` (a distinct over customer — a shuffle job
  * per disease lookup) and `drugDetails` (a max(phase) rollup over the
  * whole knownDrugs aggregation per drug-facet request). The other
  * entity views stay direct scans: each is a single-table projection,
  * which a persisted copy would only duplicate.
  *
  * Each persisted edge relation also carries the scalars of every
  * entity its GraphQL rows reach, LEFT-joined once at build time under
  * GraphQl's `__<entity>_<field>` names ([[KnowledgeGraph.entityCol]]):
  * `assoc` the disease and target, `knowndrugs` the disease, target and
  * drug, `linkedtargets` and `mechanisms` the target. A GraphQL request
  * then reads a sub-entity's fields off the edge rows it already scans,
  * instead of paying a broadcast join — one Spark job — per request,
  * and a missing entity stays NULL (a GraphQL null object, the row
  * kept). Without an index the edges stay bare and GraphQl joins only
  * the entities a request selects: a session with no index has nowhere
  * to keep the pre-joined rows.
  */
final class KnowledgeGraph(private[graft] val spark: SparkSession, dir: String,
                           indexPath: Option[String] = None) {
  private val t = Tables(spark, dir)

  /** Build-once persisted relation keyed `$indexPath-$name`; identity
    * when no index path is configured.
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
        Tables.resolved(spark, full, Artifact.ensureWithMeta(full,
          KnowledgeGraph.IndexFormat)(tmp => build.write.parquet(tmp)))
    }

  /** `edges` with the scalars of each `(key, entity)` it references by
    * its `<key>_id` column, when the edges are persisted; bare edges
    * otherwise (see the class doc), without building the entities.
    */
  private def withEntities(edges: DataFrame)(entities: => Seq[(String, DataFrame)]): DataFrame =
    if (indexPath.isEmpty) edges
    else entities.foldLeft(edges) { case (df, (key, e)) =>
      KnowledgeGraph.joinEntity(df, key, e) }

  /** disease(id, name) — one per market segment. */
  def diseases: DataFrame = indexed("diseases") {
    t.customer.select(col("c_mktsegment")).distinct()
      .select(concat(lit("DIS_"), col("c_mktsegment")).as("id"),
        col("c_mktsegment").as("name"))
  }

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
  def drugDetails: DataFrame = indexed("drugdetails") {
    val maxPhase = knownDrugRows.groupBy(col("drug_id"))
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
    * segment's share of the part's volume, in (0, 1], `round6`ed.
    */
  def associatedTargets: DataFrame = indexed("assoc") {
    val perPair = facts.groupBy(col("c_mktsegment"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("q"))
    val perPart = Window.partitionBy(col("l_partkey"))
    withEntities(perPair
      .withColumn("score", KnowledgeGraph.round6(col("q") / sum(col("q")).over(perPart)))
      .select(concat(lit("DIS_"), col("c_mktsegment")).as("disease_id"),
        concat(lit("TGT_"), col("l_partkey")).as("target_id"), col("score")))(
      Seq("disease" -> diseases, "target" -> targets))
  }

  /** associatedDiseases — the reverse edge (same score). */
  def associatedDiseases: DataFrame = {
    val at = associatedTargets
    at.select(col("target_id") +: at.columns.filter(_ != "target_id").map(col).toSeq: _*)
  }

  /** knownDrugs(disease_id, target_id, drug_id, phase) — the
    * denormalized clinical-precedence fact rows (KnownDrug,
    * opentargets.schema:855-932): every (segment, part, supplier)
    * that actually traded.
    */
  def knownDrugs: DataFrame = indexed("knowndrugs") {
    withEntities(knownDrugRows)(
      Seq("disease" -> diseases, "target" -> targets, "drug" -> drugDetails))
  }

  /** The bare knownDrugs aggregation: [[drugDetails]] rolls it up, so
    * it cannot read the persisted rows, which carry drugDetails.
    */
  private def knownDrugRows: DataFrame =
    facts.groupBy(col("c_mktsegment"), col("l_partkey"), col("l_suppkey"))
      .agg(least(lit(4.0), (count(lit(1)) / 10.0)).as("phase"))
      .select(concat(lit("DIS_"), col("c_mktsegment")).as("disease_id"),
        concat(lit("TGT_"), col("l_partkey")).as("target_id"),
        concat(lit("DRG_"), col("l_suppkey")).as("drug_id"),
        round(col("phase"), 1).as("phase"))

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
    withEntities(perPair.withColumn("rank", row_number().over(w))
      .select(concat(lit("DRG_"), col("l_suppkey")).as("drug_id"),
        concat(lit("TGT_"), col("l_partkey")).as("target_id"), col("rank")))(
      Seq("target" -> targets))
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
    withEntities(t.lineitem.select(col("l_suppkey"), col("l_partkey")).distinct()
      .join(t.part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(concat(lit("DRG_"), col("l_suppkey")).as("drug_id"),
        col("p_brand").as("mechanismOfAction"),
        concat(lit("CLASS_"), substring(col("p_brand"), 7, 1)).as("actionType"),
        concat(lit("TGT_"), col("l_partkey")).as("target_id")))(
      Seq("target" -> targets))
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
  def evidenceRows: DataFrame = {
    val at = associatedTargets
    at.select(concat(lit("EVD_"), col("disease_id"), lit("_"),
      col("target_id")).as("id") +: at.columns.map(col).toSeq: _*)
  }

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
  /** x rounded to 6 places as a double rounds: half away from zero of
    * x·10⁶, as SQL engines that compute in doubles round it. Spark's
    * `round(x, 6)` rounds x's decimal string and differs on a decimal
    * tie: 323/640 = 0.5046875, a double just below it, is 0.504687
    * here and 0.504688 through `round(x, 6)`.
    */
  private[graft] def round6(x: Column): Column = round(x * 1e6, 0) / 1e6

  /** The column an entity scalar takes on a relation it is joined to. */
  private[graft] def entityCol(key: String, field: String): String = s"__${key}_$field"

  /** LEFT-join `entity` (its columns are its scalars) onto `df` by the
    * `<key>_id` column, every scalar under [[entityCol]]. LEFT: a
    * GraphQL resolver nulls a missing sub-entity, it never drops the
    * row — so `count` and `rows` agree even if an edge references an
    * id the entity table lacks.
    */
  private[graft] def joinEntity(df: DataFrame, key: String, entity: DataFrame): DataFrame =
    df.join(entity.select(entity.columns.map(c => col(c).as(entityCol(key, c))).toSeq: _*),
      col(s"${key}_id") === col(entityCol(key, "id")), "left")

  /** The persisted relations' format, kept in each one's parameter
    * sidecar: an index written before the edge relations carried
    * entity scalars reads as incomplete and is rebuilt. Change the value
    * whenever a persisted relation's columns change (an entity scalar
    * added): the index is keyed on its source tables only, and GraphQl
    * reads a pre-joined entity's scalars off the edges without a join.
    */
  private val IndexFormat = Map("kg.edges" -> "entity-scalars")

  def apply(spark: SparkSession, dir: String): KnowledgeGraph =
    new KnowledgeGraph(spark, dir)

  /** KG whose edge relations read the persisted association index. */
  def apply(spark: SparkSession, dir: String, indexPath: String): KnowledgeGraph =
    new KnowledgeGraph(spark, dir, Some(indexPath))
}
